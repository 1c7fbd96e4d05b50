"""Compare two result sets of the benchmark, parent against change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the saved stdout of untraced ``run.py`` runs, one
file per run (``*.out``). Runs are paired by workload and seed. For every
workload and end-to-end metric this prints both medians and quartiles, the
share of pairs the change won (ties count for neither side), and a verdict:

* ``improved``: the change won at least 9/10 of the pairs and the medians
  differ by more than the parent's own quartile distance;
* ``worse``: the change's median is worse than the parent's by more than
  the metric's bound in BENCHMARK.json;
* ``unresolved``: the parent's quartile distance, as a share of its
  median, is wider than the bound, and not every change run beats every
  parent run;
* ``within bound``: otherwise.

Failed operations override these. A run that printed no result line, or
exited on a mismatch, counts as failed. If the change's runs of a
workload failed more operations than the parent's, every verdict of that
workload is ``failed``; if they failed any at all, it is ``unresolved``:
a gain does not count while operations fail.

Traced runs (``--trace 1``) in the change directory add one line per
workload: the tracing overhead, the traced runs' median ``latency_p50_s``
against the untraced runs'. Exits 1 if any verdict is ``worse`` or
``failed``.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str, trace: str = "0") -> dict[str, dict[int, dict | None]]:
    """workload -> seed -> {metric: value, "failed": n} from run.py stdout
    files of untraced (``trace="0"``) or traced runs; None for a run whose
    last line is not its result (it crashed or could not start)."""
    out: dict[str, dict[int, dict | None]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.out"))):
        with open(path) as f:
            lines = f.read().strip().splitlines()
        head = next((ln for ln in lines if ln.startswith("# workload ")), None)
        m = re.match(r"# workload (\S+) seed (-?\d+) trace (\d)", head or "")
        if m is None or m.group(3) != trace:
            continue
        try:
            result = json.loads(lines[-1])
            values = {k: v["value"] for k, v in result["metrics"].items()}
            values["failed"] = result["failed"]
        except (ValueError, KeyError, TypeError):
            print(f"{path}: no result line", file=sys.stderr)
            values = None
        out.setdefault(m.group(1), {})[int(m.group(2))] = values
    return out


def failures(runs: dict[int, dict | None]) -> int:
    """Failed operations over a workload's runs; a run without a result
    counts as one."""
    return sum(1 if v is None else v["failed"] for v in runs.values())


def verdict(parent: list[float], change: list[float], lower_better: bool, bound: float, won: float) -> str:
    pm, cm = stats.median(parent), stats.median(change)
    iqr = stats.quantile(parent, 0.75) - stats.quantile(parent, 0.25)
    worse_by = (cm - pm) / pm if lower_better else (pm - cm) / pm
    better = cm < pm if lower_better else cm > pm
    if better and won >= 0.9 and abs(cm - pm) > iqr:
        return "improved"
    if worse_by > bound:
        return "worse"
    all_better = (max(change) < min(parent)) if lower_better else (min(change) > max(parent))
    if pm and iqr / abs(pm) > bound and not all_better:
        return "unresolved"
    return "within bound"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    parent, change = load(argv[0]), load(argv[1])
    any_bad = False
    print(f"{'workload':<14} {'metric':<15} {'parent median [q1, q3]':<34} "
          f"{'change median [q1, q3]':<34} {'won':>6}  verdict")
    for wl in bench["workloads"]:
        name = wl["name"]
        p_runs, c_runs = parent.get(name, {}), change.get(name, {})
        failed = (failures(p_runs), failures(c_runs))
        seeds = sorted(s for s in set(p_runs) & set(c_runs) if p_runs[s] and c_runs[s])
        if not seeds:
            print(f"{name:<14} no paired runs with results")
            any_bad |= failed[1] > 0
            continue
        for metric in bench["end_to_end"]:
            key, lower = metric["name"], metric["better"] == "lower"
            p = [parent[name][s][key] for s in seeds]
            c = [change[name][s][key] for s in seeds]
            wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
            won = wins / len(seeds)
            if failed[1] > failed[0]:
                v = "failed"
            elif failed[1]:
                v = "unresolved"
            else:
                v = verdict(p, c, lower, metric["bound"], won)
            any_bad |= v in ("worse", "failed")

            def fmt(xs):
                return (f"{stats.median(xs):.4g} [{stats.quantile(xs, 0.25):.4g}, "
                        f"{stats.quantile(xs, 0.75):.4g}]")

            print(f"{name:<14} {key:<15} {fmt(p):<34} {fmt(c):<34} {won:>6.0%}  {v}")
        print(f"{name:<14} {'failed ops':<15} {failed[0]:<34} {failed[1]:<34}")
        traced = [v for v in load(argv[1], trace="1").get(name, {}).values() if v]
        if traced:
            t = stats.median([v["trace.latency_p50_s"] for v in traced])
            u = stats.median([c_runs[s]["latency_p50_s"] for s in seeds])
            print(f"{name:<14} tracing overhead {t / u - 1:+.1%} ({len(traced)} traced runs)")
    return 1 if any_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
