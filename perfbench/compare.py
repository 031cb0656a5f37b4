"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE NEW [--json]

BASE and NEW are each a results file written by ``run.py``
(``.perfbench_results/<workload>.jsonl``) or a directory of them. For every
(metric, workload) pair found in both sets it prints each side's median and
quartiles and a verdict against the bound BENCHMARK.json fixes for the
metric:

- ``better``: the new median is better by more than the base's own spread
  (quartile distance over median) and the new run wins at least nine tenths
  of all (base, new) pairs;
- ``worse``: the new median is worse by more than the bound;
- ``unresolved``: the base's spread is wider than the bound, unless every
  new run beats every base run (then ``better``);
- ``no worse`` otherwise.

Per-layer metrics (traced runs) have no bound and get no verdict. For each
set the tracing overhead is the traced run's ``trace.op_p50_ms`` minus the
untraced ``op_p50_ms``, both medians over the set's runs.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_runs(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.jsonl"))) if os.path.isdir(path) else [path]
    runs = []
    for f in files:
        with open(f) as fh:
            runs += [json.loads(line) for line in fh if line.strip()]
    return runs


def by_metric(runs: list[dict]) -> dict[tuple[str, str, int], list[float]]:
    """(workload, metric, trace) → values, one per run."""
    out: dict[tuple[str, str, int], list[float]] = {}
    for r in runs:
        d = r["details"]
        for name, m in r["metrics"].items():
            out.setdefault((d["workload"], name, d["trace"]), []).append(float(m["value"]))
    return out


def summary(values: list[float]) -> tuple[float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def verdict(base: list[float], new: list[float], better: str, bound: float) -> str:
    sign = 1.0 if better == "lower" else -1.0  # positive change = worse
    m0, q1, q3 = summary(base)
    m1 = statistics.median(new)
    spread = (q3 - q1) / abs(m0) if m0 else 0.0
    change = sign * (m1 - m0) / abs(m0) if m0 else 0.0
    wins = sum(sign * (n - b) < 0 for b in base for n in new) / (len(base) * len(new))
    if spread > bound:
        return "better" if wins == 1.0 else "unresolved"
    if change < -spread and wins >= 0.9:
        return "better"
    if change > bound:
        return "worse"
    return "no worse"


def compare(base_runs: list[dict], new_runs: list[dict], bench: dict) -> list[dict]:
    specs = {m["name"]: m for m in bench["end_to_end"]}
    base, new = by_metric(base_runs), by_metric(new_runs)
    rows = []
    for key in sorted(set(base) & set(new)):
        workload, name, trace = key
        m0, b1, b3 = summary(base[key])
        m1, n1, n3 = summary(new[key])
        spec = specs.get(name) if not trace else None
        rows.append({
            "workload": workload, "metric": name, "trace": trace,
            "base": {"median": m0, "q1": b1, "q3": b3, "n": len(base[key])},
            "new": {"median": m1, "q1": n1, "q3": n3, "n": len(new[key])},
            "verdict": verdict(base[key], new[key], spec["better"], spec["bound"])
            if spec else "-",
        })
    return rows


def tracing_overhead(runs: list[dict]) -> dict[str, float]:
    vals = by_metric(runs)
    out = {}
    for (workload, name, trace), traced in vals.items():
        plain = vals.get((workload, "op_p50_ms", 0))
        if name == "trace.op_p50_ms" and trace and plain:
            out[workload] = statistics.median(traced) - statistics.median(plain)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("base")
    p.add_argument("new")
    p.add_argument("--json", action="store_true", help="print the rows as JSON")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    base_runs, new_runs = load_runs(args.base), load_runs(args.new)
    rows = compare(base_runs, new_runs, bench)
    overhead = {"base": tracing_overhead(base_runs), "new": tracing_overhead(new_runs)}
    if args.json:
        print(json.dumps({"rows": rows, "tracing_overhead_ms": overhead}, indent=1))
        return 0
    print(f"{'workload':18} {'metric':52} {'base median [q1, q3] n':34} "
          f"{'new median [q1, q3] n':34} verdict")
    for r in rows:
        cells = [
            f"{s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] {s['n']}"
            for s in (r["base"], r["new"])
        ]
        print(f"{r['workload']:18} {r['metric']:52} {cells[0]:34} {cells[1]:34} {r['verdict']}")
    for side, per in overhead.items():
        for workload, ms in sorted(per.items()):
            print(f"tracing overhead ({side}, {workload}): {ms:+.1f} ms per op", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
