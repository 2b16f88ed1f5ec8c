"""Compare two sets of benchmark runs, workload by workload.

    python3 perfbench/compare.py BASE NEW [--json]

BASE and NEW are directories (or globs) of run artifacts written by
``run.py`` under ``.perfbench_out/``. Runs pair by (workload, seed); run
both sets on the same seeds, alternating which side runs first. For each
workload and end-to-end metric the report gives each side's median and
quartiles, the share of pairs NEW won, and a verdict against the metric's
bound in ``BENCHMARK.json``:

- ``regressed``: NEW's median is worse than BASE's by more than the bound;
- ``unresolved``: BASE's own spread (quartile distance over median) is
  wider than the bound, and not every NEW run beats every BASE run;
- ``improved``: NEW won at least nine tenths of the pairs and the medians
  differ by more than BASE's quartile distance;
- ``unchanged`` otherwise.

Runs whose recorded settings differ (hardware, core counts, driver memory,
library versions, seeds) are refused, never compared, and so is a side that
holds more than one run of a (workload, seed).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
#: Settings that must be equal on both sides.
SAME = ("nproc", "SPARK_GRAFT_CPUS", "driver_memory", "spark", "pyarrow", "duckdb",
        "cpu_model", "mem_total_gb", "seconds")


def load(spec: str) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(spec, "*.json")) if os.path.isdir(spec)
                   else glob.glob(spec))
    runs = []
    for p in paths:
        with open(p) as f:
            a = json.load(f)
        if a["settings"]["trace"]:
            continue  # traced runs give layers, not end-to-end figures
        runs.append(a)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def refuse_reason(base: list[dict], new: list[dict]) -> str | None:
    settings = [r["settings"] for r in base + new]
    for key in SAME:
        vals = {json.dumps(s.get(key)) for s in settings}
        if len(vals) > 1:
            return f"setting {key!r} differs between runs: {sorted(vals)}"
    by_wl: dict[str, tuple[set, set]] = {}
    for side, runs in enumerate((base, new)):
        for r in runs:
            wl, seed = r["settings"]["workload"], r["settings"]["seed"]
            seeds = by_wl.setdefault(wl, (set(), set()))[side]
            if seed in seeds:
                return f"{wl}: seed {seed} has more than one run in {('BASE', 'NEW')[side]}"
            seeds.add(seed)
    for wl, (a, b) in by_wl.items():
        if a != b:
            return f"{wl}: seeds differ (base {sorted(a)}, new {sorted(b)})"
    return None


def compare(base: list[dict], new: list[dict], spec: dict) -> list[dict]:
    rows = []
    workloads = sorted({r["settings"]["workload"] for r in base})
    for wl in workloads:
        a_runs = {r["settings"]["seed"]: r for r in base if r["settings"]["workload"] == wl}
        b_runs = {r["settings"]["seed"]: r for r in new if r["settings"]["workload"] == wl}
        seeds = sorted(a_runs)
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            a = [a_runs[s]["end_to_end"][name] for s in seeds]
            b = [b_runs[s]["end_to_end"][name] for s in seeds]
            aq, bq = quartiles(a), quartiles(b)
            sign = 1 if lower else -1
            won = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
            worse = sign * (bq[1] - aq[1]) / aq[1]
            spread = (aq[2] - aq[0]) / aq[1]
            all_better = (max(b) < min(a)) if lower else (min(b) > max(a))
            if worse > bound:
                verdict = "regressed"
            elif spread > bound and not all_better:
                verdict = "unresolved"
            elif won >= 0.9 * len(seeds) and abs(bq[1] - aq[1]) > aq[2] - aq[0]:
                verdict = "improved"
            else:
                verdict = "unchanged"
            rows.append(dict(workload=wl, metric=name, unit=m["unit"], runs=len(seeds),
                             base=aq, new=bq, pairs_won=won / len(seeds), worse_by=worse,
                             base_spread=spread, bound=bound, verdict=verdict))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare two sets of benchmark runs.")
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args(argv)
    base, new = load(args.base), load(args.new)
    if not base or not new:
        print("compare: no untraced run artifacts found on one side", file=sys.stderr)
        return 2
    reason = refuse_reason(base, new)
    if reason:
        print(f"compare: refusing to compare: {reason}", file=sys.stderr)
        return 2
    with open(args.benchmark) as f:
        spec = json.load(f)
    rows = compare(base, new, spec)
    if args.json:
        print(json.dumps(rows, indent=1))
        return 0
    print(f"{'workload':18} {'metric':12} {'n':>2} {'base q1/med/q3':>26} "
          f"{'new q1/med/q3':>26} {'won':>5} {'worse':>7} {'spread':>7} {'bound':>6}  verdict")
    for r in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{r['workload']:18} {r['metric']:12} {r['runs']:>2} {fmt(r['base']):>26} "
              f"{fmt(r['new']):>26} {r['pairs_won']:>5.0%} {r['worse_by']:>+7.1%} "
              f"{r['base_spread']:>7.1%} {r['bound']:>6.0%}  {r['verdict']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
