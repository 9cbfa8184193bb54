"""A/B the connected-components queries: a parent commit against the
working tree, in alternating worker processes.

    python3 tools/ab_cc.py --parent HEAD --pairs 5 --sf /path/to/sf0.1 \
        [--out FILE.json]
    python3 tools/ab_cc.py --search [--out FILE.json]

The parent ref's committed files are unpacked (``git archive``) under
``.bench_out/ab_parent-<sha>/`` (see ``tools/ab_bench.py``); the working
tree is the other side.  Each pair runs one worker process per side, one
after the other, and the side that goes first alternates from pair to
pair.  A worker builds the engine session, runs one untimed pass over
the queries, then times construct + collect of each query once and
counts its Spark jobs through a job group.  It also runs
``dedup.duplicate_clusters`` on 40- and 1000-node chains in three id
orders (ascending; the global minimum at one end and a local minimum at
the other; shuffled) and records wall time, Spark jobs and
``localCheckpoint`` calls.  The summary gives each query's median and
quartiles per side and the pairs the change won.

``--search`` needs no Spark: it runs a plain-Python model of one
``duplicate_clusters`` round (every node takes the least grandparent
label among itself and its neighbours and offers it to its parent) on
chains and random trees, hill-climbing over id orders for the most
rounds, and prints the worst round count found next to log2(n).  The
A/B summary also gives the model's rounds for each chain: the change's
checkpoints there should be those rounds plus one for the edge list.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import subprocess
import sys
import time

QUERIES = [
    "duplicate_clusters",
    "duplicate_clusters_star",
    "dedup_keep_best",
    "dedup_provenance",
    "component_size_report",
    "source_overlap_near",
    "dedup_corpus",
    "leakage_safe_split",
    "entity_resolution",
]
CHAINS = [40, 1000]


def chain_orders(n: int) -> dict[str, list[int]]:
    """Id orders along an n-node chain: the best case for min labels,
    the global minimum at one end and a local minimum at the other, and
    a shuffled order."""
    shuffled = list(range(1, n + 1))
    random.Random(n).shuffle(shuffled)
    return {
        "ascending": list(range(1, n + 1)),
        "min_at_far_end": [1] + list(range(n, 1, -1)),
        "shuffled": shuffled,
    }


def model_rounds(nodes: list[int], edges: list[tuple[int, int]]) -> int:
    """Rounds of ``duplicate_clusters`` on a graph, the last one (that
    changes nothing) included, in plain Python."""
    adj = {v: [v] for v in nodes}
    for a, b in edges:
        if a != b:
            adj[a].append(b)
            adj[b].append(a)
    f = {v: v for v in nodes}
    rounds = 0
    while True:
        rounds += 1
        low = {v: min(f[f[u]] for u in adj[v]) for v in nodes}
        new = dict(low)
        for v in nodes:
            new[f[v]] = min(new[f[v]], low[v])
        if new == f:
            return rounds
        f = new


def search(sizes=(32, 64, 128, 256), steps=2000, seed=1) -> dict:
    """Hill-climb id orders of chains and random trees for the most
    model rounds."""
    rnd = random.Random(seed)
    out = {}
    for n in sizes:
        for kind in ("chain", "tree"):
            parent = [None] + [rnd.randrange(i) if kind == "tree" else i - 1
                               for i in range(1, n)]
            order = list(range(1, n + 1))
            rnd.shuffle(order)

            def rounds(order):
                return model_rounds(order, [(order[i], order[parent[i]]) for i in range(1, n)])

            best = rounds(order)
            for _ in range(steps):
                cand = list(order)
                i, j = rnd.randrange(n), rnd.randrange(n)
                cand[i], cand[j] = cand[j], cand[i]
                r = rounds(cand)
                if r >= best:
                    order, best = cand, r
            out[f"{kind}{n}"] = {"worst_rounds": best, "log2_n": round(math.log2(n), 2)}
            print(kind, n, out[f"{kind}{n}"], flush=True)
    return out


def worker(tree: str, sf: str) -> dict:
    """One side's measurements, run inside a fresh process."""
    sys.path.insert(0, tree)
    from pyspark.sql.classic.dataframe import DataFrame

    import __spark_entry__ as entry
    from youtube_podcast_data_pipeline_azure_spark import get_spark
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        duplicate_clusters,
    )

    checkpoints = [0]
    local_checkpoint = DataFrame.localCheckpoint

    def counted(self, *args, **kwargs):
        checkpoints[0] += 1
        return local_checkpoint(self, *args, **kwargs)

    DataFrame.localCheckpoint = counted
    spark = get_spark()
    sc = spark.sparkContext
    registry = entry.queries()

    def measure(group: str, build) -> dict:
        checkpoints[0] = 0
        sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return {
            "construct_s": round(t1 - t0, 3),
            "collect_s": round(t2 - t1, 3),
            "total_s": round(t2 - t0, 3),
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "checkpoints": checkpoints[0],
            "rows": rows,
        }

    for name in QUERIES:
        registry[name](spark, sf).collect()
    out = {"loadavg_start": os.getloadavg()[0], "queries": {}, "chains": {}}
    for name in QUERIES:
        m = measure(f"ab_cc_{name}", lambda: registry[name](spark, sf))
        m["rows"] = len(m["rows"])
        out["queries"][name] = m
    for n in CHAINS:
        nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
        for kind, order in chain_orders(n).items():
            pairs = list(zip(order, order[1:]))
            chain = spark.createDataFrame(pairs, "id_a long, id_b long")
            m = measure(f"ab_cc_{kind}{n}", lambda: duplicate_clusters(nodes, chain))
            m["components"] = len({r["component"] for r in m.pop("rows")})
            out["chains"][f"{kind}{n}"] = m
    out["loadavg_end"] = os.getloadavg()[0]
    spark.stop()
    return out


def run_side(tree: str, sf: str) -> dict:
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", tree, "--sf", sf],
        cwd=tree, capture_output=True, text=True, timeout=1800, check=True, env=env,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def summarize(runs: dict[str, list[dict]]) -> dict:
    from tools.ab_bench import quartiles

    summary = {}
    for name in QUERIES:
        side = {}
        for label, results in runs.items():
            totals = [r["queries"][name]["total_s"] for r in results]
            q1, med, q3 = quartiles(totals)
            side[label] = {
                "median_s": round(med, 3),
                "q1_s": round(q1, 3),
                "q3_s": round(q3, 3),
                "jobs": [r["queries"][name]["jobs"] for r in results],
            }
        wins = sum(
            c["queries"][name]["total_s"] < p["queries"][name]["total_s"]
            for p, c in zip(runs["parent"], runs["change"])
        )
        side["change_wins"] = f"{wins}/{len(runs['change'])}"
        side["change_slower_at_median"] = (
            side["change"]["median_s"] > side["parent"]["median_s"]
        )
        summary[name] = side
    summary["chains"] = {
        label: {
            name: {k: [r["chains"][name][k] for r in results]
                   for k in ("total_s", "jobs", "checkpoints")}
            for name in results[0]["chains"]
        }
        for label, results in runs.items()
    }
    # the change's checkpoints per chain should be these rounds + 1 (edges)
    summary["chains"]["change_model_rounds"] = {
        f"{kind}{n}": model_rounds(order, list(zip(order, order[1:])))
        for n in CHAINS
        for kind, order in chain_orders(n).items()
    }
    return summary


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", default="HEAD", help="git ref of the parent side")
    ap.add_argument("--pairs", type=int, default=5)
    ap.add_argument("--sf", help="sf directory of the fixture tables")
    ap.add_argument("--out", default=None, help="write the raw runs and summary here")
    ap.add_argument("--search", action="store_true", help="model round search only")
    ap.add_argument("--worker", default=None, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        print(json.dumps(worker(args.worker, args.sf)))
        return 0
    if args.search:
        found = search()
        if args.out:
            with open(args.out, "w") as f:
                json.dump(found, f, indent=1)
        return 0
    if not args.sf:
        ap.error("--sf is required for the A/B")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from tools.ab_bench import unpack

    sha, parent_tree = unpack(args.parent)
    trees = {"parent": parent_tree, "change": root}
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for label in order:
            r = run_side(trees[label], args.sf)
            runs[label].append(r)
            print(
                f"pair {i + 1} {label}: "
                + " ".join(f"{q}={r['queries'][q]['total_s']}" for q in QUERIES),
                flush=True,
            )
    summary = summarize(runs)
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {"parent": sha, "sf": args.sf, "pairs": args.pairs,
                 "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
                 "summary": summary, "model_search": search(), "runs": runs},
                f, indent=1,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
