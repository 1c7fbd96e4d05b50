"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload large_state --seed 1 --seconds 20 --trace 0

Run from the repository root. With ``--trace 0`` the last stdout line is a
JSON object holding every end-to-end metric; with ``--trace 1`` it holds
the per-layer metrics of a traced run instead (see perfbench/README.md).
Exits 1 when any output differs from its reference, 2 when the engine
cannot be imported.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # before any import that costs time

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("keepup_small", "large_state", "query_mix")

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput": "1/s",
    "read_s": "s",
}


def layer_names(query_names: list[str]) -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order. A layer a workload
    does not run reports 0."""
    return [
        "memory.peak_rss_mb",
        "session.get_spark_s",
        "publisher.late_s",
        "sources.plan_windows_s", "sources.windows_enumerated",
        "filters.rows_kept_frac",
        "functions.json_clean.python_rows", "functions.json_clean.python_s",
        "operators.dedup.rows_in", "operators.dedup.rows_out",
        "streaming.catchup_s", "streaming.windows_per_catchup", "streaming.wait_s",
        "spark.jobs_per_catchup", "spark.tasks_per_catchup", "spark.executor_run_s_per_catchup",
        "spark.shuffle_bytes_per_catchup", "spark.utilization",
        "sinks.lake_upsert.s", "sinks.lake_upsert.buckets_touched", "sinks.lake_upsert.bytes_written",
        "sinks.lake_upsert.write_amplification", "sinks.lake_upsert.files",
        "sinks.ledger.s", "sinks.ledger.fsyncs", "sinks.ledger.lines",
        *[f"plans.{q}_s" for q in query_names],
        "plans.spark_jobs", "plans.shuffle_bytes",
        *[f"self_s.{layer}" for layer in (
            "streaming.daemon", "streaming.pipeline", "streaming.wait", "sources",
            "sinks.lake_upsert", "sinks.ledger", "plans",
        )],
        "trace.latency_p50_s", "trace.overhead_frac", "trace.bookkeeping_s",
    ]


LAYER_UNITS = {
    "memory.peak_rss_mb": "MB",
    "publisher.late_s": "s",
    "sources.windows_enumerated": "count", "filters.rows_kept_frac": "frac",
    "functions.json_clean.python_rows": "count",
    "operators.dedup.rows_in": "count", "operators.dedup.rows_out": "count",
    "streaming.windows_per_catchup": "count",
    "spark.jobs_per_catchup": "count", "spark.tasks_per_catchup": "count",
    "spark.shuffle_bytes_per_catchup": "B", "spark.utilization": "frac",
    "sinks.lake_upsert.buckets_touched": "count", "sinks.lake_upsert.bytes_written": "B",
    "sinks.lake_upsert.write_amplification": "ratio", "sinks.lake_upsert.files": "count",
    "sinks.ledger.fsyncs": "count", "sinks.ledger.lines": "count",
    "plans.spark_jobs": "count", "plans.shuffle_bytes": "B",
    "trace.overhead_frac": "frac",
}


def layer_unit(name: str) -> str:
    return LAYER_UNITS.get(name, "s")


class LoadSampler(threading.Thread):
    """One-minute load average at start and its maximum during the run."""

    def __init__(self) -> None:
        super().__init__(name="load-sampler", daemon=True)
        self.start_load = os.getloadavg()[0]
        self.max_load = self.start_load
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.wait(1.0):
            self.max_load = max(self.max_load, os.getloadavg()[0])

    def stop(self) -> None:
        self._done.set()
        self.join(timeout=5)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _remove(work: str) -> None:
    """Delete the run's directory, and its parent once nothing else is in
    it (the query_mix oracle cache stays)."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one perfbench workload.")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # everything the run writes stays under the checkout: inputs, the lake,
    # Spark's scratch space, Python and JVM temp files
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    sys.path.insert(0, ROOT)
    try:
        from neynar_parquet_importer_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        _remove(work)
        return 2

    import querymix
    import spans as tr

    load = LoadSampler()
    load.start()
    spark = None
    try:
        t0 = time.time()
        spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
        get_spark_s = time.time() - t0
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        setup_s = time.time() - T_PROCESS
        tracer = tr.Tracer(spark.sparkContext) if args.trace else None
        if args.workload == "query_mix":
            out = querymix.run(spark, args.seed, args.seconds, os.path.dirname(work), tracer, cpus)
        else:
            import etl

            out = etl.run(spark, args.workload, args.seed, args.seconds, work, tracer, cpus)
        out["e2e"]["setup_s"] = setup_s
        out["layers"]["memory.peak_rss_mb"] = peak_rss_mb(spark)
        if tracer is not None:
            out["layers"].update({
                "session.get_spark_s": get_spark_s,
                "trace.bookkeeping_s": tracer.bookkeeping_s,
            })
            out["notes"].append(f"trace spans: {len(tracer.spans)}")
            tracer.uninstall()
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the gateway JVM exits when its stdin closes; wait for it so
            # no process of the run outlives it
            jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        load.stop()
        _remove(work)
    out["notes"].append(f"host: nproc {cpus}, load average {load.start_load:.2f} at start, {load.max_load:.2f} at most")

    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}")
    for line in out["notes"]:
        print(f"# {line}")
    for p in out["problems"]:
        print(f"MISMATCH {p}")
    print(f"# samples: {out['samples']}")
    print(f"# memory.peak_rss_mb {out['layers']['memory.peak_rss_mb']:.2f}")
    if args.trace:
        names = layer_names(querymix.query_list())
        metrics = {n: {"value": float(out["layers"].get(n, 0.0)), "unit": layer_unit(n)} for n in names}
    else:
        metrics = {n: {"value": float(out["e2e"][n]), "unit": u} for n, u in E2E_UNITS.items()}
    for n, m in metrics.items():
        print(f"{n} {m['value']:.6g} {m['unit']}")
    failed_frac = out["failed"] / out["attempted"]
    print(f"failed_frac {failed_frac:.6g} ({out['failed']}/{out['attempted']})")
    correct = out["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": out["attempted"], "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
