"""Run a workload over several seeds and summarise each metric's spread.

    python3 perfbench/repeat.py --workload lake_query --seeds 1-10 --out perfbench/results/x.json

For every metric it reports the median and the quartile spread, the
distance between the first and third quartile (``statistics.quantiles``
with ``n=4``) as a share of the median.  Each run's result line and run
record go to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    runs = []
    for seed in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed ({p.returncode}):\n{p.stderr[-3000:]}")
        lines = p.stdout.strip().splitlines()
        runs.append({
            "seed": seed,
            "wall_s": wall,
            "record": json.loads(lines[-2])["record"],
            "result": json.loads(lines[-1]),
        })
        print(f"seed {seed}: {wall:.1f} s", file=sys.stderr, flush=True)

    names = list(runs[0]["result"]["metrics"])
    summary = {
        n: spread([r["result"]["metrics"][n]["value"] for r in runs]) for n in names
    }
    summary["wall_s"] = spread([r["wall_s"] for r in runs])
    out = {
        "workload": a.workload,
        "seconds": a.seconds,
        "trace": a.trace,
        "summary": summary,
        "correct": all(r["result"]["correct"] for r in runs),
        "runs": runs,
    }
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for n, s in summary.items():
        print(f"{a.workload:14s} {n:30s} median {s['median']:.4g}  spread {s['spread']:.3f}")


if __name__ == "__main__":
    main()
