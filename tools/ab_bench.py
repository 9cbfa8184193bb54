"""A/B the benchmark: a parent commit against the working tree, in pairs.

    python3 tools/ab_bench.py --parent HEAD --pairs 10 --seeds 101-110 \
        [--workload medallion_daily ...] [--traced] [--out FILE.json]

The parent ref's committed files are unpacked (``git archive``) under
``.bench_out/ab_parent-<sha>/``; the benchmark is what a commit holds, so
the parent side is exactly its committed tree, with nothing checked out
in place and no worktree entry left behind if a run is killed.  The
working tree is the other side, uncommitted edits included.

Each pair runs ``perfbench/run.py`` once per side on the same seed, one
run after the other, never in parallel; the side that goes first
alternates from pair to pair, so host drift and first-run effects fall on
both sides alike.  For every end-to-end metric in ``BENCHMARK.json`` it
prints each side's median and quartiles, the pairs the change won, and
whether the claim rule holds: the change wins at least 9 pairs in 10 and
its median beats the parent's by more than the parent's interquartile
range.  ``--traced`` adds one traced run per side (first seed) and prints
the per-layer metrics that differ.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.boot import spec  # noqa: E402
from perfbench.steadiness import seeds  # noqa: E402


def unpack(ref: str) -> tuple[str, str]:
    """The committed tree of ``ref`` under ``.bench_out/``: (sha, dir)."""
    sha = subprocess.run(
        ["git", "rev-parse", "--short", ref], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.strip()
    dest = os.path.join(ROOT, ".bench_out", f"ab_parent-{sha}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {sha} failed")
    return sha, dest


def run(tree: str, workload: str, seed: int, seconds: float, trace: int = 0) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=tree, capture_output=True, text=True, timeout=900, check=True,
    )
    lines = out.stdout.strip().splitlines()
    record = json.loads(lines[-2])["run_record"]
    result = json.loads(lines[-1])
    return {
        "seed": seed,
        "correct": result["correct"],
        "loadavg_start": record["loadavg_start"][0],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def compare(pairs: list[dict], metric: dict) -> dict:
    name, lower = metric["name"], metric["better"] == "lower"
    base = [p["parent"]["metrics"][name] for p in pairs]
    new = [p["change"]["metrics"][name] for p in pairs]
    wins = sum((n < b) if lower else (n > b) for b, n in zip(base, new))
    bq1, bmed, bq3 = quartiles(base)
    nq1, nmed, nq3 = quartiles(new)
    gain = (bmed - nmed) if lower else (nmed - bmed)
    return {
        "parent": {"q1": bq1, "median": bmed, "q3": bq3, "values": base},
        "change": {"q1": nq1, "median": nmed, "q3": nq3, "values": new},
        "change_vs_parent": (nmed - bmed) / bmed if bmed else 0.0,
        "wins": wins,
        "pairs": len(pairs),
        "bound": metric["bound"],
        "claim_holds": wins >= math.ceil(0.9 * len(pairs)) and gain > bq3 - bq1,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", default="HEAD", help="git ref of the parent side")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="101-110", help="one seed per pair, e.g. 101-110")
    ap.add_argument("--workload", action="append", help="default: every workload in BENCHMARK.json")
    ap.add_argument("--traced", action="store_true", help="one traced run per side as well")
    ap.add_argument("--out", help="write the report as JSON")
    args = ap.parse_args()

    bench = spec()
    pair_seeds = seeds(args.seeds)
    if len(pair_seeds) < args.pairs:
        raise SystemExit(f"--seeds gives {len(pair_seeds)} seeds for {args.pairs} pairs")
    sha, parent_dir = unpack(args.parent)
    trees = {"parent": parent_dir, "change": ROOT}
    report = {"parent": sha, "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "nproc": os.cpu_count(), "workloads": {}}
    for workload in args.workload or [w["name"] for w in bench["workloads"]]:
        pairs = []
        for i, seed in enumerate(pair_seeds[: args.pairs]):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"first": order[0]}
            for side in order:
                pair[side] = run(trees[side], workload, seed, bench["run_seconds"])
            pairs.append(pair)
            print(f"{workload} pair {i + 1} seed {seed} ({order[0]} first): "
                  + "  ".join(f"{s} wall_s {pair[s]['metrics']['wall_s']:.3f}" for s in ("parent", "change")),
                  flush=True)
        table = {m["name"]: compare(pairs, m) for m in bench["end_to_end"]}
        entry = {"pairs": pairs, "end_to_end": table,
                 "correct": all(p[s]["correct"] for p in pairs for s in ("parent", "change"))}
        print(f"\n{workload} ({len(pairs)} pairs, parent {sha}, all correct: {entry['correct']})")
        print(f"{'metric':<12} {'parent median [Q1, Q3]':<30} {'change median [Q1, Q3]':<30} "
              f"{'change':>8} {'wins':>6} claim")
        for name, t in table.items():
            b, n = t["parent"], t["change"]
            print(f"{name:<12} {b['median']:<9.4g} [{b['q1']:.4g}, {b['q3']:.4g}]{'':<6} "
                  f"{n['median']:<9.4g} [{n['q1']:.4g}, {n['q3']:.4g}]{'':<6} "
                  f"{t['change_vs_parent']:>+7.1%} {t['wins']:>3}/{t['pairs']:<2} "
                  f"{'holds' if t['claim_holds'] else '-'}")
        if args.traced:
            traced = {s: run(trees[s], workload, pair_seeds[0], bench["run_seconds"], trace=1)
                      for s in ("parent", "change")}
            entry["traced"] = traced
            print(f"\n{workload} traced, seed {pair_seeds[0]}: per-layer metrics that differ")
            for name, b in traced["parent"]["metrics"].items():
                n = traced["change"]["metrics"].get(name)
                if n is not None and b != n and (name.endswith(("jobs", "tasks")) or name.endswith("_s")):
                    print(f"  {name:<28} {b:>10.4g} -> {n:<10.4g}")
        report["workloads"][workload] = entry
        print(flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
