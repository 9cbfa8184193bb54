"""``headline_queries``: one pass over registry queries per iteration.

Each query is built (``fn(spark, sf_dir)``, the construct phase) and
then ``collect()``ed (the exec phase) against the generated fixture of
``gen_tables``.  The seed permutes the query order within a pass; the
fixture itself is the same on every run.

The pass holds one query per operator family of the registry (the
family is the engine module the registry function calls), taken from
``bench.py``'s ``HEADLINE`` list wherever that list has one.  The whole
32-query list does not fit the benchmark's time budget: even on the
smallest fixture a pass costs about 20 s warm and 40 s cold on four
cores.

Checks (outside the timed region): each result is compared with the
registry's DuckDB oracle after ``tests/oracle_mirror.py``
normalisation, and ``ngram_jaccard_pairs`` with a result digest pinned
from its oracle (``headline_pins.json``; ``python3
perfbench/wl_headline.py --pin`` recomputes it).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
import random
import statistics
import sys
import time

if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import boot, gen_tables  # noqa: E402

#: query -> engine family whose module its registry function calls; one
#: ``HEADLINE`` query per family, the cheapest except ngram_jaccard_pairs,
#: whose exec time is tracked on its own.  ``HEADLINE`` has no
#: ``operators.quality`` or ``operators.graph`` query, so ``dq_report``
#: and ``pagerank_influence`` stand in for those families.
QUERIES = {
    "pricing_summary": "operators.relational",
    "tumbling_windows": "streaming",
    "ngram_jaccard_pairs": "operators.dedup",
    "knn_bruteforce": "operators.similarity",
    "bm25_search": "operators.text_mining",
    "hll_shard_union": "operators.sketches",
    "dq_report": "operators.quality",
    "cap_per_source": "operators.curation",
    "image_near_dup": "operators.multimodal",
    "enrich_documents": "enrichment",
    "pagerank_influence": "operators.graph",
}
FAMILIES = sorted(set(QUERIES.values()))
#: checked against a digest pinned from the oracle, not a live oracle run
PINNED = ("ngram_jaccard_pairs",)
PINS_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "headline_pins.json")


@functools.cache
def _oracle_mirror():
    path = os.path.join(boot.ROOT, "tests", "oracle_mirror.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_mirror", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def result_digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, after oracle_mirror's
    normalisation (columns sorted by name, cells rounded, rows sorted)."""
    norm = _oracle_mirror()._normalize_rows(list(columns), [tuple(r) for r in rows])
    payload = repr((sorted(columns), norm)).encode()
    return hashlib.sha256(payload).hexdigest()


class HeadlineQueries:
    name = "headline_queries"
    iteration_span = "pass"
    registry = None  # __spark_entry__, set by run.py after set-up

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "sf")
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)
        self.rows: dict[str, int] = {}
        self.results: list[dict[str, tuple[list[str], list[tuple]]]] = []
        self.exec_s: list[dict[str, float]] = []
        self.expected: dict[str, object] | None = None
        self.mirror = None

    def prepare(self) -> None:
        self.rows = gen_tables.write(self.sf_dir)

    def input_sizes(self) -> dict:
        return {"tables": self.rows, "queries": self.order}

    def iteration(self, spark, i: int, tracer) -> None:
        qs = self.registry.queries()
        out, times = {}, {}
        for name in self.order:
            with tracer.span(f"q.{name}"):
                with tracer.span("construct"):
                    df = qs[name](spark, self.sf_dir)
                t = time.perf_counter()
                with tracer.span("exec"):
                    rows = df.collect()
                times[name] = time.perf_counter() - t
            out[name] = (list(df.columns), [tuple(r) for r in rows])
        self.results.append(out)
        self.exec_s.append(times)

    def _expected(self) -> dict[str, object]:
        """Oracle rows per query (DuckDB), pinned digests, pinned counts."""
        self.mirror = _oracle_mirror()
        with open(PINS_FILE) as f:
            pins = json.load(f)
        duck = self.mirror.make_duck(self.sf_dir)
        sqls = self.registry.oracle_sql()
        exp: dict[str, object] = {}
        for name in QUERIES:
            if name in PINNED:
                exp[name] = pins[name]
            else:
                res = duck.sql(sqls[name])
                exp[name] = self.mirror._normalize_rows(list(res.columns), res.fetchall())
        duck.close()
        return exp

    def check(self, i: int) -> bool:
        if self.expected is None:
            self.expected = self._expected()
        ok = True
        for name, (cols, rows) in self.results[i].items():
            exp = self.expected[name]
            if name in PINNED:
                good = result_digest(cols, rows) == exp["sha256"]
            else:
                good = self.mirror._normalize_rows(cols, rows) == exp
            if not good:
                sys.stderr.write(f"perfbench: {name} differs from its oracle in pass {i}\n")
            ok &= good
        self.results[i] = {}  # keep memory flat over a run
        return ok

    def layer_metrics(self, tracer, groups, slots: int) -> dict:
        from perfbench.trace import iteration_rows

        rows = iteration_rows(tracer, groups, self.iteration_span)
        med = lambda f: statistics.median(f(r) for r in rows)  # noqa: E731
        out = {
            "construct_s": (med(lambda r: r["construct"].wall_s), "s"),
            "exec_s": (med(lambda r: r["exec"].wall_s), "s"),
        }
        for fam in FAMILIES:
            names = [f"q.{q}" for q, f in QUERIES.items() if f == fam]
            out[f"{fam}.busy_s"] = (med(lambda r: sum(r[n].wall_s for n in names)), "s")
        for q in QUERIES:
            out[f"q.{q}.exec_s"] = (statistics.median(t[q] for t in self.exec_s[1:]), "s")
        return out


def pin() -> None:
    """Recompute ``headline_pins.json`` from the DuckDB oracles over a
    freshly generated fixture (no Spark involved)."""
    import tempfile

    import __spark_entry__ as registry

    mirror = _oracle_mirror()
    with tempfile.TemporaryDirectory(dir=os.path.join(boot.ROOT, ".bench_out")) as d:
        gen_tables.write(d)
        duck = mirror.make_duck(d)
        sqls = registry.oracle_sql()
        pins = {}
        for name in PINNED:
            res = duck.sql(sqls[name])
            pins[name] = {"sha256": result_digest(list(res.columns), res.fetchall())}
        duck.close()
    with open(PINS_FILE, "w") as f:
        json.dump(pins, f, indent=2, sort_keys=True)
        f.write("\n")


if __name__ == "__main__" and sys.argv[1:] == ["--pin"]:
    boot.require_program()
    os.makedirs(os.path.join(boot.ROOT, ".bench_out"), exist_ok=True)
    boot.configure_env(os.path.join(boot.ROOT, ".bench_out", "pin"))
    pin()
