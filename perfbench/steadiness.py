"""Run each workload once per seed and summarise every end-to-end metric.

    python3 perfbench/steadiness.py --seeds 1-10 [--workload W ...] [--out FILE]

For each metric it reports the median, the quartiles of
``statistics.quantiles(values, n=4)`` and the spread, (Q3 - Q1) /
median, next to the metric's bound from ``BENCHMARK.json``.  Runs are made
one after another, never in parallel, so they do not disturb each other.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import boot  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, trace: int = 0) -> dict:
    started, t = time.time(), time.perf_counter()
    seconds = boot.spec()["run_seconds"]
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=boot.ROOT, capture_output=True, text=True, timeout=900, check=True,
    )
    lines = out.stdout.strip().splitlines()
    return {"result": json.loads(lines[-1]), "record": json.loads(lines[-2])["run_record"],
            "run_s": time.perf_counter() - t, "started_unix": started}


def summarise(values: list[float], bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "bound": bound, "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out", help="JSON report")
    args = ap.parse_args()
    spec = boot.spec()
    report = {}
    for w in args.workload or [x["name"] for x in spec["workloads"]]:
        runs = []
        for s in seeds(args.seeds):
            r = run_once(w, s)
            runs.append(r)
            m = {k: round(v["value"], 4) for k, v in r["result"]["metrics"].items()}
            print(f"{w} seed {s}: {r['run_s']:.1f} s {m}", flush=True)
        report[w] = {
            "runs": len(runs),
            "run_s": [r["run_s"] for r in runs],
            "correct": all(r["result"]["correct"] for r in runs),
            "loadavg_start": [r["record"]["loadavg_start"][0] for r in runs],
            "cpu_steal_share": [r["record"]["cpu_steal_share"] for r in runs],
            "started_unix": [r["started_unix"] for r in runs],
            "metrics": {
                m["name"]: summarise([r["result"]["metrics"][m["name"]]["value"] for r in runs], m["bound"])
                for m in spec["end_to_end"]
            },
        }
        for name, s in report[w]["metrics"].items():
            flag = "" if s["spread"] <= s["bound"] / 3 else "  <-- above bound/3"
            print(f"  {w} {name}: median {s['median']:.4g} spread {s['spread']:.3f} (bound {s['bound']}){flag}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
