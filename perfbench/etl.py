"""ETL workloads: the window daemon under a closed-loop window publisher.

Phase 1 (backfill): the generator publishes the full snapshot and any
backlog windows, then ``streaming.daemon.run_tables_forever`` starts and
its first ``run_catchup`` imports them. Phase 2 (keep-up): the generator
process publishes 1-second windows in one closed loop per table; each
window's commit latency runs from its atomic publish to the moment its
``completed`` ledger line appears in the ledger file, seen by a watcher
outside the daemon. Phase 3 (read): ``LakeUpsertSink.read()`` plus
a per-``fid`` aggregate. A correctness gate then compares the sink and the
ledger with a pyarrow reference over every generated row.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import stats
import spans as tr

READ_REPS = 5
# _check_table's checks: no duplicate PK, PK set and versions, resume
# point, every file completed, completion in window order
CHECKS_PER_TABLE = 5
BACKFILL_TIMEOUT_S = 120.0
DRAIN_S = 10.0
# the generator lands files at window close on local disk, so the daemon
# uses the short wait cadence the pipeline documents for such publishers
# (its 1 s defaults model the reference exporter's S3 publish delay)
EXPECT_OFFSET_S = 0.05
POLL_S = 0.05


class LedgerWatcher(threading.Thread):
    """Stamps the first time each file's completed ledger line is readable:
    commit time as seen from outside the daemon."""

    def __init__(self, paths: list[str], poll_s: float = 0.005) -> None:
        super().__init__(name="ledger-watcher", daemon=True)
        self.tails = [gen.LedgerTail(p) for p in paths]
        self.poll_s = poll_s
        self.committed: dict[str, float] = {}
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.scan()
            time.sleep(self.poll_s)
        self.scan()

    def scan(self) -> None:
        for tail in self.tails:
            before = len(tail.done)
            if len(tail.poll()) > before:
                now = time.time()
                for name in tail.done:
                    self.committed.setdefault(name, now)

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=10)


def _wait_ready(proc: subprocess.Popen, path: str, timeout: float) -> dict:
    deadline = time.time() + timeout
    while not os.path.exists(path):
        if proc.poll() is not None:
            raise RuntimeError(f"generator exited with {proc.returncode} before publishing")
        if time.time() > deadline:
            raise TimeoutError("generator did not publish its snapshot in time")
        time.sleep(0.05)
    with open(path) as f:
        return json.load(f)


def _wait_committed(watcher: LedgerWatcher, names: dict[str, list[str]], timeout: float) -> None:
    deadline = time.time() + timeout
    while not all(n in watcher.committed for v in names.values() for n in v):
        if time.time() > deadline:
            raise TimeoutError("files not committed in time")
        time.sleep(0.01)


def _published_files(src: str, table: str) -> list[str]:
    return sorted(
        n for n in os.listdir(src)
        if n.startswith(f"{gen.SCHEMA_NAME}-{table}-") and n.endswith((".parquet", ".empty"))
    )


def run(spark, workload: str, seed: int, seconds: float, work: str, tracer: tr.Tracer | None, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from neynar_parquet_importer_spark.catalog import REFERENCE_TABLES_V3
    from neynar_parquet_importer_spark.sinks.lake_upsert import LakeUpsertSink
    from neynar_parquet_importer_spark.streaming import daemon as daemon_mod
    from neynar_parquet_importer_spark.streaming.pipeline import ImportPipeline

    shape = gen.SHAPES[workload]
    src, sink, log = (os.path.join(work, x) for x in ("src", "sink", "publish.jsonl"))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([gen.ROOT, os.environ.get("PYTHONPATH", "")]))
    cmd = [sys.executable, os.path.join(gen.HERE, "gen.py"), "--workload", workload,
           "--seed", str(seed), "--src", src, "--seconds", str(seconds), "--log", log]
    with open(os.path.join(work, "gen.err"), "w") as err:
        proc = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL, stderr=err)
    shutdown = threading.Event()
    t_spawn = time.time()
    try:
        ready = _wait_ready(proc, log + ".ready", 120)
        t_ready = time.time()
        live_start = ready["live_start"]
        first = {t: _published_files(src, t) for t in shape.tables}
        doc = gen.filter_doc(shape, seed)
        specs = {t: REFERENCE_TABLES_V3[t] for t in shape.tables}
        pipes = [
            ImportPipeline(spark, specs[t], src, sink, filter_doc=doc,
                           publish_eta_offset=EXPECT_OFFSET_S, poll_interval=POLL_S)
            for t in shape.tables
        ]
        watcher = LedgerWatcher([p.ledger.path for p in pipes])
        watcher.start()

        if tracer is not None:
            tr.install_engine_wrappers(tracer)
            tracer.enabled = True
        t_daemon = time.time()
        daemon = threading.Thread(
            target=daemon_mod.run_tables_forever, args=(pipes,), kwargs={"shutdown": shutdown},
            name="daemon", daemon=True,
        )
        daemon.start()
        # phase 1 ends when the snapshot and backlog are committed; only
        # then does the generator start the live windows
        _wait_committed(watcher, first, BACKFILL_TIMEOUT_S)
        bulk_done = max(watcher.committed[n] for names in first.values() for n in names)
        go = time.time()
        gen.write_json(log + ".go", {"ledgers": {p.spec.name: p.ledger.path for p in pipes}})
        try:
            proc.wait(timeout=seconds + gen.LATE_S + gen.COMMIT_TIMEOUT_S + 60)
        except subprocess.TimeoutExpired:
            raise TimeoutError("generator overran its schedule") from None
        t_live_end = time.time()
        if proc.returncode != 0:
            raise RuntimeError(f"generator failed with {proc.returncode}")
        expected = {t: _published_files(src, t) for t in shape.tables}
        try:
            _wait_committed(watcher, expected, DRAIN_S)
        except TimeoutError:
            pass  # counted as failures by the correctness gate below
        t_drained = time.time()
        shutdown.set()
        daemon.join(timeout=120)
        watcher.stop()
    finally:
        shutdown.set()
        if proc.poll() is None:
            proc.kill()
        proc.wait()

    pubs = [json.loads(x) for x in open(log)]
    committed = watcher.committed
    bulk_rows = sum(
        pq.ParquetFile(os.path.join(src, n)).metadata.num_rows
        for names in first.values() for n in names if n.endswith(".parquet")
    )
    throughput = bulk_rows / (bulk_done - t_daemon)

    measured = [p for p in pubs if p["measured"]]
    lat = [committed[p["name"]] - p["published"] for p in measured if p["name"] in committed]
    t_measure = min((p["published"] for p in measured), default=go)

    # phase 3: one read of every table's sink, plus a per-fid aggregate,
    # after a driver GC so the keep-up phase's garbage is not charged to it
    spark.sparkContext._jvm.System.gc()
    reads = []
    for _ in range(READ_REPS):
        t0 = time.perf_counter()
        for t, spec in specs.items():
            df = LakeUpsertSink(spark, os.path.join(sink, t), spec.primary_key, spec.version_column).read()
            df.groupBy("fid").agg(F.count(F.lit(1)), F.max("updated_at")).collect()
        reads.append(time.perf_counter() - t0)

    out = {
        "e2e": {
            "latency_p50_s": stats.quantile(lat, 0.5),
            "latency_p90_s": stats.quantile(lat, 0.9),
            "throughput": throughput,
            "read_s": stats.median(reads),
        },
        "samples": {"latency": len(lat), "read": len(reads)},
        "notes": [
            f"backfill: {bulk_rows} rows in {bulk_done - t_daemon:.3f} s",
            f"measured windows: {len(lat)} of {len(pubs)} live windows",
        ],
    }
    out["layers"] = {"publisher.late_s": stats.quantile([p["reaction_s"] for p in measured], 0.9)}
    if tracer is not None:
        out["layers"].update(_layers(spark, tracer, sink, t_measure, t_drained, cpus))
        out["layers"]["trace.latency_p50_s"] = out["e2e"]["latency_p50_s"]

    # correctness gate, outside every timed region
    t_check = time.time()
    failed, problems = 0, []
    uncommitted = [n for names in expected.values() for n in names if n not in committed]
    failed += len(uncommitted)
    if uncommitted:
        problems.append(f"{len(uncommitted)} windows not committed by the drain deadline, e.g. {uncommitted[:3]}")
    if not lat:
        failed += 1
        problems.append("no measured window was committed")
    for t in specs:
        last_end = live_start + max(p["index"] for p in pubs if p["table"] == t) + 1
        warm = {p["index"]: p["name"] for p in pubs if p["table"] == t and not p["measured"]}
        issues, held = _check_table(src, os.path.join(sink, t), doc, expected[t], last_end, warm[2], warm[1])
        for issue in issues:
            failed += 1
            problems.append(f"{t}: {issue}")
        out["notes"].append(
            f"{t}: out-of-order window {'held' if held else 'NOT held'} behind the late one (W7)"
        )
    out["notes"].append(
        f"phases (s): generate {t_ready - t_spawn:.1f}, backfill {bulk_done - t_daemon:.1f}, "
        f"live {t_live_end - go:.1f}, drain {t_drained - t_live_end:.1f}, read {sum(reads):.1f}, "
        f"check {time.time() - t_check:.1f}"
    )
    out["attempted"] = sum(len(v) for v in expected.values()) + CHECKS_PER_TABLE * len(specs)
    out["failed"] = failed
    out["problems"] = problems
    return out


def _check_table(src: str, sink_dir: str, doc: dict | None, names: list[str], last_end: int,
                 ahead: str, late: str) -> tuple[list[str], bool]:
    """Sink vs a pyarrow last-writer-wins reference over every generated
    row after filtering; ledger resume point, completion, and completion
    in window order (W7). Also says whether the window published ahead of
    the late one was recorded before the late one was, i.e. whether the
    in-order hold was exercised."""
    from neynar_parquet_importer_spark.sinks.ledger import ImportLedger

    issues = []
    parts = [pq.read_table(os.path.join(src, n), columns=["id", "fid", "updated_at"])
             for n in names if n.endswith(".parquet")]
    rows = pa.concat_tables(parts)
    if doc:
        nin = pa.array(doc["data.fid"]["$nin"], pa.int64())
        rows = rows.filter(pc.or_(pc.invert(pc.is_in(rows["fid"], nin)), pc.is_null(rows["fid"])))
    ref = rows.group_by("id").aggregate([("updated_at", "max")])
    ref_ids = [b.hex() for b in ref["id"].to_pylist()]
    ref_map = dict(zip(ref_ids, _us(ref["updated_at_max"])))

    files = glob.glob(os.path.join(sink_dir, "data", "**", "*.parquet"), recursive=True)
    got = pa.concat_tables([pq.read_table(f, columns=["id", "updated_at"]) for f in files]) if files else None
    got_ids = [] if got is None else [s.replace("-", "") for s in got["id"].to_pylist()]
    got_ts = [] if got is None else _us(got["updated_at"])
    if len(set(got_ids)) != len(got_ids):
        issues.append(f"{len(got_ids) - len(set(got_ids))} duplicate PKs in the sink")
    got_map = dict(zip(got_ids, got_ts))
    if got_map.keys() != ref_map.keys():
        issues.append(
            f"PK sets differ: {len(got_map.keys() - ref_map.keys())} extra, "
            f"{len(ref_map.keys() - got_map.keys())} missing"
        )
    else:
        wrong = sum(1 for k, v in ref_map.items() if got_map[k] != v)
        if wrong:
            issues.append(f"{wrong} PKs hold a version other than the newest")
    ledger = ImportLedger(os.path.join(sink_dir, "ledger.jsonl"))
    if ledger.resume_point() != last_end:
        issues.append(f"ledger resume_point {ledger.resume_point()} != last published end {last_end}")
    not_done = [n for n in names if not ledger.is_completed(n)]
    if not_done:
        issues.append(f"{len(not_done)} published files not completed in the ledger")
    first_line: dict[str, int] = {}
    completed_starts = []
    with open(ledger.path) as f:
        for i, line in enumerate(f):
            e = json.loads(line)
            first_line.setdefault(e["file_name"], i)
            if e["completed"] and e["file_type"] == "incremental":
                completed_starts.append(e["start_timestamp"])
    if completed_starts != sorted(completed_starts):
        issues.append("the ledger completed windows out of window order (W7)")
    held = ahead in first_line and late in first_line and first_line[ahead] < first_line[late]
    return issues, held


def _us(col) -> list[int]:
    return col.cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()


def _layers(spark, tracer: tr.Tracer, sink: str, t_on: float, t_end: float, cpus: int) -> dict:
    """Per-layer metrics. Per-window figures cover catch-ups that start in
    the measured region; row counts cover every catch-up, backfill too."""
    rest = tr.SparkRest(spark.sparkContext)
    spans = tracer.spans
    catchups = [s for s in spans if s.name == "run_catchup"]
    live = [s for s in catchups if s.start >= t_on]
    works = {s.sid: rest.work(tracer.descendants(s)) for s in catchups}
    lw = [works[s.sid] for s in live]
    upserts = [s for s in spans if s.name == "upsert" and s.start >= t_on]
    uw = [rest.work(tracer.descendants(s)) for s in upserts]
    plans = [s for s in spans if s.name == "plan_windows"]
    incoming = sum(
        tr.file_bytes(p.info.get("paths", []))
        for c in live for p in tracer.descendants(c) if p.name == "plan_windows"
    )

    by_id = {s.sid: s for s in spans}

    def per_catchup(layer: str) -> list[float]:
        """Time in the layer's outermost spans, per catch-up."""
        return [
            sum(d.dur for d in tracer.descendants(c)
                if d.layer == layer and (d.parent is None or by_id[d.parent].layer != layer))
            for c in live
        ]

    def counts(name: str) -> float:
        return stats.mean([sum(d.counts.get(name, 0) for d in tracer.descendants(c)) for c in live])

    rows_in_files = sum(
        pq.ParquetFile(p).metadata.num_rows
        for c in catchups for d in tracer.descendants(c) if d.name == "plan_windows"
        for p in d.info.get("paths", [])
    )
    all_work = list(works.values())
    dedup = [tr.dedup_rows(w) for w in all_work]
    self_s = tracer.self_time_by_layer(t_on, t_end)
    written = sum(w.output_bytes for w in uw)
    data_files = glob.glob(os.path.join(sink, "*", "data", "**", "*.parquet"), recursive=True)
    return {
        "streaming.catchup_s": stats.median([s.dur for s in live]),
        "streaming.windows_per_catchup": stats.mean([s.info.get("windows", 0) for s in live]),
        "streaming.wait_s": stats.median([s.dur for s in spans if s.name == "wait_for_window" and s.start >= t_on]),
        "spark.jobs_per_catchup": stats.mean([w.jobs for w in lw]),
        "spark.tasks_per_catchup": stats.mean([w.tasks for w in lw]),
        "spark.executor_run_s_per_catchup": stats.mean([w.executor_run_s for w in lw]),
        "spark.shuffle_bytes_per_catchup": stats.mean([w.shuffle_bytes for w in lw]),
        "spark.utilization": rest.executor_run_s_between(t_on, t_end) / ((t_end - t_on) * cpus),
        "sinks.lake_upsert.s": stats.median([s.dur for s in upserts]),
        "sinks.lake_upsert.buckets_touched": stats.mean([
            tr.sum_nodes(w, "Execute InsertIntoHadoopFsRelationCommand", "number of dynamic part") for w in uw
        ]),
        "sinks.lake_upsert.bytes_written": stats.mean([w.output_bytes for w in uw]),
        "sinks.lake_upsert.write_amplification": written / incoming if incoming else 0.0,
        "sinks.lake_upsert.files": float(len(data_files)),
        "sinks.ledger.s": stats.median(per_catchup("sinks.ledger")),
        "sinks.ledger.fsyncs": counts("fsyncs"),
        "sinks.ledger.lines": counts("ledger_lines"),
        "sources.plan_windows_s": stats.median([s.dur for s in plans]),
        "sources.windows_enumerated": stats.mean([s.info.get("enumerated", 0) for s in plans]),
        "filters.rows_kept_frac": sum(s.info.get("rows", 0) for s in catchups) / rows_in_files if rows_in_files else 0.0,
        "functions.json_clean.python_rows": sum(tr.sum_nodes(w, "ArrowEvalPython", "number of output rows") for w in all_work),
        "functions.json_clean.python_s": sum(tr.sum_nodes(w, "ArrowEvalPython", "time to run Python workers") for w in all_work),
        "operators.dedup.rows_in": sum(d[0] for d in dedup),
        "operators.dedup.rows_out": sum(d[1] for d in dedup),
        **{f"self_s.{k}": v for k, v in self_s.items()},
        "trace.overhead_frac": tracer.bookkeeping_s / (t_end - t_on),
    }
