"""Steadiness report: run one workload N times with different seeds and
print, per metric, the median, the quartiles and the spread (the
distance between the quartiles as a share of the median), flagged
against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload explore --runs 10 [--seed0 1]
        [--trace 0|1]

Run from the repository root. Each run measures run_seconds from
BENCHMARK.json; its result and detail lines are appended to
.perfbench_work/steady-<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) by statistics.quantiles."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(results: list[dict], details: list[dict], decl: dict) -> list[str]:
    """Table lines; a metric whose spread exceeds its bound is flagged
    with FLAG, one above a third of it with warn."""
    bounds = {m["name"]: m.get("bound") for m in decl.get("end_to_end", [])}
    lines = [f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} "
             f"{'spread':>7} {'bound':>6}  note"]
    names = sorted({k for r in results for k in r["metrics"]})
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results
                if name in r["metrics"]]
        med, q1, q3, sp = spread(vals)
        bound = bounds.get(name)
        note = ""
        if bound is not None:
            if sp > bound:
                note = "FLAG spread > bound"
            elif sp > bound / 3:
                note = "warn spread > bound/3"
        lines.append(f"{name:28} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                     f"{sp:7.3f} {bound if bound is not None else '-':>6}  {note}")
    counts: dict[str, list[int]] = {}
    for d in details:
        for cls, n in d.get("samples", {}).items():
            counts.setdefault(cls, []).append(n)
    lines.append("samples per run: " + ", ".join(
        f"{c}={min(v)}..{max(v)}" for c, v in sorted(counts.items())))
    lines.append(f"runs: {len(results)}, correct: "
                 f"{sum(r['correct'] for r in results)}, failed requests: "
                 f"{sum(r['failed'] for r in results)}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as fh:
        decl = json.load(fh)
    seconds = decl["run_seconds"]
    log = os.path.join(".perfbench_work", f"steady-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    results, details = [], []
    for k in range(args.runs):
        seed = args.seed0 + k
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True)
        out = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not out:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}",
                  file=sys.stderr)
            continue
        result = json.loads(out[-1])
        detail = next((json.loads(l.split(" ", 1)[1]) for l in out
                       if l.startswith("perfbench-detail ")), {})
        results.append(result)
        details.append(detail)
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "result": result,
                                 "detail": detail}) + "\n")
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{n}={m['value']:.4g}" for n, m in result["metrics"].items()),
            flush=True)
    print("\n".join(report(results, details, decl)))
    return 0 if results and all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
