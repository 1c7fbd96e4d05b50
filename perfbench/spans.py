"""Spans around the engine's public calls, attributed Spark work, and
per-layer self time, for the benchmark's traced runs.

Wrappers are installed from the benchmark's own files onto the engine's
classes and module functions; nothing inside the engine changes. Each span
records name, start, end, parent and an optional window/query key, stays
in memory, and sets a Spark job group, so the jobs, stages and SQL-node
metrics that Spark's monitoring REST API reports at the end of the run can
be charged to the span that caused them.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import itertools
import json
import os
import re
import threading
import time
import urllib.request
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    key: str | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; a disabled tracer's wrappers cost
    one attribute test per call."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        # parent for spans opened on a thread with no open span: the daemon
        # runs one thread per table under run_tables_forever
        self._adopt: Span | None = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, layer: str, name: str, key: str | None = None):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else self._adopt
        sp = Span(next(self._ids), name, layer, parent.sid if parent else None, key, time.time())
        st.append(sp)
        self.sc.setJobGroup(sp.group, name)
        cost = time.perf_counter() - t_in
        try:
            yield sp
        finally:
            t_out = time.perf_counter()
            sp.end = time.time()
            st.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)
                self.bookkeeping_s += cost + time.perf_counter() - t_out

    def count(self, name: str, n: int = 1) -> None:
        sp = self.current() if self.enabled else None
        if sp is not None:
            sp.counts[name] = sp.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, layer: str, key_fn=None, on_return=None,
             adopt: bool = False) -> None:
        """Replace ``owner.attr`` by a spanning wrapper. ``on_return(span,
        result, args, kwargs)`` may record facts from the call's result;
        ``adopt`` makes the span the parent of spans that threads started
        inside the call open."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            with tracer.span(layer, attr, key_fn(*a, **kw) if key_fn else None) as sp:
                if adopt:
                    tracer._adopt = sp
                try:
                    out = orig(*a, **kw)
                finally:
                    if adopt:
                        tracer._adopt = None
                if sp is not None and on_return is not None:
                    on_return(sp, out, a, kw)
                return out

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def wrap_cm(self, owner, attr: str, layer: str) -> None:
        """Span a method that returns a context manager over the whole
        ``with`` block (the ledger's deferred fsync runs at block exit)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        @contextlib.contextmanager
        def wrapper(*a, **kw):
            with tracer.span(layer, attr), orig(*a, **kw) as v:
                yield v

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def count_calls(self, owner, attr: str, counter: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            tracer.count(counter)
            return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- analysis -------------------------------------------------------
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def self_time_by_layer(self, t0: float, t1: float) -> dict[str, float]:
        """Per layer: span time inside [t0, t1) minus the part of it that
        child spans cover (long-lived spans are clipped to the window)."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            lo, hi = max(s.start, t0), min(s.end, t1)
            if hi <= lo:
                continue
            covered, cur = 0.0, lo
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                a, b = max(c.start, cur), min(c.end, hi)
                if b > a:
                    covered += b - a
                    cur = b
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, hi - lo - covered)
        return out

    def descendants(self, sp: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out


# ---------------------------------------------------------------------------
# Spark monitoring REST API
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Parse a SQL-node metric as the UI renders it: '1,234', '68.4 MiB',
    '3.7 s', or 'total (min, med, max ...)\\n3.7 s (...)' (the total)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


@dataclass
class SparkWork:
    """Engine counters charged to one set of spans."""

    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_bytes: float = 0.0
    output_bytes: float = 0.0
    nodes: list = field(default_factory=list)  # (execution graph, node) pairs


class SparkRest:
    """Reads the running application's jobs, stages and SQL executions once
    and charges them to spans by job group."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.jobs = self._get("jobs")
        self.stages = {(s["stageId"], s["attemptId"]): s for s in self._get("stages")}
        self.sql = self._get("sql?details=true&planDescription=false&offset=0&length=100000")
        self.by_group: dict[str, list[dict]] = {}
        for j in self.jobs:
            self.by_group.setdefault(j.get("jobGroup") or "", []).append(j)
        job_group = {j["jobId"]: j.get("jobGroup") or "" for j in self.jobs}
        self.sql_by_group: dict[str, list[dict]] = {}
        for e in self.sql:
            ids = e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", [])
            if ids:
                self.sql_by_group.setdefault(job_group.get(ids[0], ""), []).append(e)

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def stage_list(self, jobs: list[dict]) -> list[dict]:
        ids = {sid for j in jobs for sid in j["stageIds"]}
        return [s for (sid, _a), s in self.stages.items() if sid in ids and s["status"] == "COMPLETE"]

    def work(self, spans: list[Span]) -> SparkWork:
        jobs = [j for s in spans for j in self.by_group.get(s.group, [])]
        stages = self.stage_list(jobs)
        w = SparkWork(
            jobs=len(jobs),
            tasks=sum(j["numCompletedTasks"] for j in jobs),
            executor_run_s=sum(s["executorRunTime"] for s in stages) / 1000.0,
            shuffle_bytes=float(sum(s["shuffleWriteBytes"] for s in stages)),
            output_bytes=float(sum(s["outputBytes"] for s in stages)),
        )
        seen = set()
        for s in spans:
            for e in self.sql_by_group.get(s.group, []):
                for n in e["nodes"]:
                    # a cached batch's subtree shows up, with the same
                    # accumulators, in every execution that scans it
                    sig = (n["nodeName"], tuple((m["name"], m["value"]) for m in n.get("metrics", [])))
                    if sig in seen:
                        continue
                    seen.add(sig)
                    w.nodes.append((e, n))
        return w

    def executor_run_s_between(self, t0: float, t1: float) -> float:
        """Executor run time of stages submitted inside [t0, t1) (epoch s)."""
        total = 0.0
        for s in self.stages.values():
            sub = _rest_time(s.get("submissionTime"))
            if s["status"] == "COMPLETE" and sub is not None and t0 <= sub < t1:
                total += s["executorRunTime"] / 1000.0
        return total


def _rest_time(text: str | None) -> float | None:
    if not text:
        return None
    return dt.datetime.strptime(text.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def node_metric(node: dict, name: str) -> float:
    for m in node.get("metrics", []):
        if m["name"] == name:
            return metric_value(m["value"])
    return 0.0


def sum_nodes(work: SparkWork, node_name: str, metric: str) -> float:
    return sum(node_metric(n, metric) for _e, n in work.nodes if n["nodeName"] == node_name)


def dedup_rows(work: SparkWork) -> tuple[float, float]:
    """Rows into and out of every last-writer-wins (``Window`` +
    ``__rn = 1`` filter) in the charged executions: out is the Filter above
    the Window, in is the first row-counting node below the window's
    sort/exchange chain."""
    rows_in = rows_out = 0.0
    for e, n in work.nodes:
        if n["nodeName"] != "Window":
            continue
        nodes = {x["nodeId"]: x for x in e["nodes"]}
        parents: dict[int, int] = {}
        kids: dict[int, list[int]] = {}
        for ed in e["edges"]:
            parents[ed["fromId"]] = ed["toId"]
            kids.setdefault(ed["toId"], []).append(ed["fromId"])
        p = parents.get(n["nodeId"])
        if p is not None and nodes[p]["nodeName"] == "Filter":
            rows_out += node_metric(nodes[p], "number of output rows")
        rows_in += _rows_below(n["nodeId"], nodes, kids)
    return rows_in, rows_out


_PASS = {"Window", "WindowGroupLimit", "Sort", "Exchange", "AQEShuffleRead", "Project",
         "ShuffleQueryStage", "CollectMetrics", "InputAdapter"}


def _rows_below(nid: int, nodes: dict, kids: dict) -> float:
    """Rows entering the node: walk down through pass-through operators
    (partial WindowGroupLimit output is already reduced, so it is skipped
    too) and sum the row counts at the first counting node of each branch."""
    total = 0.0
    for k in kids.get(nid, []):
        node = nodes[k]
        if node["nodeName"] in _PASS:
            total += _rows_below(k, nodes, kids)
        elif any(m["name"] == "number of output rows" for m in node.get("metrics", [])):
            total += node_metric(node, "number of output rows")
        else:
            total += _rows_below(k, nodes, kids)
    return total


def install_engine_wrappers(tracer: Tracer) -> None:
    """Spans around the ETL path's public calls (see README's layer map)."""
    from neynar_parquet_importer_spark.sinks import ledger as ledger_mod
    from neynar_parquet_importer_spark.sinks.lake_upsert import LakeUpsertSink
    from neynar_parquet_importer_spark.streaming import daemon as daemon_mod
    from neynar_parquet_importer_spark.streaming import pipeline as pipeline_mod

    def report(sp, out, a, kw):
        sp.info["windows"] = out.files_imported + out.empty_windows
        sp.info["rows"] = out.rows_upserted

    def plan(sp, out, a, kw):
        # the live windows are back-dated so a closed loop can run faster
        # than one window a second; every window not yet published up to
        # now is then "missing". Only gaps before the last published window
        # count, as they would for a publisher that keeps to the clock.
        published = [int(p.rsplit("-", 2)[1]) for p in out.incremental_paths] + list(out.empty_windows)
        last = max(published, default=None)
        gaps = [t for t in out.missing_windows if last is not None and t < last]
        sp.info["enumerated"] = len(published) + len(gaps) + (1 if out.full_path else 0)
        paths = ([out.full_path] if out.full_path else []) + out.incremental_paths
        sp.info["paths"] = paths

    tracer.wrap(daemon_mod, "run_tables_forever", "streaming.daemon", adopt=True)
    tracer.wrap(daemon_mod, "run_forever", "streaming.daemon",
                key_fn=lambda pipe, *a, **kw: pipe.spec.name)
    tracer.wrap(pipeline_mod.ImportPipeline, "run_catchup", "streaming.pipeline",
                key_fn=lambda self, *a, **kw: self.spec.name, on_return=report)
    tracer.wrap(pipeline_mod.ImportPipeline, "wait_for_window", "streaming.wait",
                key_fn=lambda self, start, *a, **kw: f"{self.spec.name}:{start}")
    tracer.wrap(pipeline_mod, "plan_windows", "sources", on_return=plan)
    tracer.wrap(LakeUpsertSink, "upsert", "sinks.lake_upsert")
    tracer.wrap(LakeUpsertSink, "read", "sinks.lake_upsert")
    tracer.wrap(ledger_mod.ImportLedger, "record_file", "sinks.ledger")
    tracer.wrap(ledger_mod.ImportLedger, "advance_completed_through", "sinks.ledger")
    tracer.wrap_cm(ledger_mod.ImportLedger, "deferred_sync", "sinks.ledger")
    tracer.count_calls(ledger_mod.ImportLedger, "_append", "ledger_lines")
    tracer.count_calls(os, "fsync", "fsyncs")


def file_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths if os.path.exists(p))
