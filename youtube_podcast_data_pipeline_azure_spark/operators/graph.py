"""Graph analytics over DataFrames: integer-arithmetic PageRank,
co-occurrence edges and triangle counts.

Connected components are ``operators/dedup.py:duplicate_clusters``
(the engine's one CC operator).  PageRank is the other classic
iterative-relational algorithm: K rounds of join + aggregate over an
edge list.  No reference analog (SURVEY.md §2 — the reference
has no joins at all); this is the engine's demonstration that iterative
algorithms stay in the DataFrame/Catalyst world rather than dropping to
RDDs.

Determinism contract: all rank arithmetic is INTEGER (micro-units with
floor division), so per-node ranks are bit-exact on any engine, any
partitioning, any summation order — which is what makes an iterative
float algorithm oracle-checkable (the DuckDB twin unrolls the same K
iterations as CTEs).  The floor-division rounding loses < 1 micro-unit
per edge per round — irrelevant for ranking, essential for parity.

Scale posture (10^11-edge graphs):

* The edge list, with each src's out-weight folded onto its edges,
  is materialized ONCE (one localCheckpoint); no round re-derives it.
* Per iteration: one left join of the checkpoint to the ranks on
  ``src`` and one aggregate on node — round 1 joins nothing, since
  every rank is still the initial one.  There is no node table: each
  edge also sends a zero to its src, so the aggregate alone gives
  every endpoint a row.  Each joining round's static plan shuffles
  the checkpoint on ``src``; the shuffles are identical, so exchange
  reuse runs one for all rounds (on a real cluster, bucket the edge
  table by ``src`` to skip even that one).
* K is a fixed small constant (convergence to ranking stability is
  fast); state per round is one (node, rank) row per node — never
  materialized on the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

#: 1.0 of rank mass, in integer micro-units.
RANK_ONE = 1_000_000


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping_milli: int = 850,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank over a directed edge list, K fixed iterations.

    ``edges`` is (src, dst, w).  Every node starts at
    :data:`RANK_ONE` micro-units; each round every node sends
    ``rank * w // out_weight`` along each out-edge and collects

        rank' = (1000 - damping_milli) * RANK_ONE // 1000
                + damping_milli * incoming // 1000

    Nodes with no out-edges (dangling) simply leak their damped mass —
    the standard simplification; for an undirected graph pass both edge
    directions and there are no dangling nodes.  Returns
    ``(node, rank_micro)`` with one row per node appearing anywhere in
    the edge list.
    """
    base = (1000 - damping_milli) * RANK_ONE // 1000
    # The edge list is loop-invariant but sits in every round's lineage;
    # one localCheckpoint truncates it, with the out-weight riding on
    # each edge as a window sum, so the checkpoint is the whole invariant
    # state.  An edge with a null endpoint gets a null ``_W`` and sends
    # nothing (a null src never joins a rank; a null dst is a node no
    # contribution may reach), but its weight still counts in its src's
    # out-weight.  A zero out-weight is null too, so it sends nothing
    # rather than dividing by zero (an error under ANSI).
    linked = (
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(weight).alias("w")
        )
        .withColumn(
            "_W",
            F.when(
                F.col("src").isNotNull() & F.col("dst").isNotNull(),
                F.nullif(F.sum("w").over(Window.partitionBy("src")), F.lit(0)),
            ),
        )
        .localCheckpoint()
    )
    if iterations < 1:
        return (
            linked.select(F.explode(F.array("src", "dst")).alias("node"))
            .distinct()
            .select("node", F.lit(RANK_ONE).cast("long").alias("rank_micro"))
        )

    def step(frame: DataFrame, rank) -> DataFrame:
        # Every edge sends its contribution to dst and a zero to src, so
        # one aggregate gives every endpoint a row (a node with no
        # in-edges gets the base rank) without a node table to join.
        contrib = F.floor(rank * F.col("w") / F.col("_W"))
        return (
            frame.select(
                F.explode(
                    F.array(
                        F.struct(F.col("dst").alias("node"), contrib.alias("c")),
                        F.struct(
                            F.col("src").alias("node"),
                            F.lit(0).cast("long").alias("c"),
                        ),
                    )
                ).alias("_e")
            )
            .groupBy(F.col("_e.node").alias("node"))
            .agg(F.sum("_e.c").alias("incoming"))
            .select(
                "node",
                (
                    F.lit(base)
                    + F.floor(
                        F.lit(damping_milli)
                        * F.coalesce(F.col("incoming"), F.lit(0))
                        / F.lit(1000)
                    )
                )
                .cast("long")
                .alias("rank_micro"),
            )
        )

    # Round 1 joins nothing: every rank is still RANK_ONE.
    ranks = step(linked, F.lit(RANK_ONE).cast("long"))
    for _ in range(iterations - 1):
        ranks = step(
            linked.join(ranks, F.col("src") == F.col("node"), "left"),
            F.col("rank_micro"),
        )
    return ranks


def pagerank_sql(
    edges_cte: str,
    iterations: int = 3,
    damping_milli: int = 850,
) -> str:
    """DuckDB twin of :func:`pagerank`, generated from the same
    constants: the K iterations unrolled as CTEs (the Lloyd's-as-CTEs
    precedent from the k-means oracle).  ``edges_cte`` must be the body
    of a CTE producing (src, dst, w)."""
    base = (1000 - damping_milli) * RANK_ONE // 1000
    parts = [
        f"WITH edges AS ({edges_cte})",
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        'outw AS (SELECT src, sum(w) AS "W" FROM edges GROUP BY 1)',
        f"r0 AS (SELECT node, {RANK_ONE}::BIGINT AS rank_micro FROM nodes)",
    ]
    for i in range(iterations):
        parts.append(
            f"c{i + 1} AS (SELECT e.dst AS node_to,"
            f' sum(r.rank_micro * e.w // o."W") AS incoming'
            f" FROM edges e JOIN outw o ON e.src = o.src"
            f" JOIN r{i} r ON r.node = e.src GROUP BY 1)"
        )
        parts.append(
            f"r{i + 1} AS (SELECT n.node,"
            f" cast({base} + {damping_milli}"
            f" * coalesce(c.incoming, 0) // 1000 AS bigint) AS rank_micro"
            f" FROM nodes n LEFT JOIN c{i + 1} c ON n.node = c.node_to)"
        )
    body = parts[0] + ",\n" + ",\n".join(parts[1:])
    return body + f"\nSELECT node, rank_micro FROM r{iterations}"


def cooccurrence_edges(
    df: DataFrame,
    user_col: str,
    item_col: str,
    max_item_degree: int | None = None,
) -> DataFrame:
    """Undirected co-interaction edges: (a, b) with a < b whenever both
    users touched the same item — the bipartite-projection step of
    interaction-graph analytics.

    The self-join on the item key is Ω(Σ degree²): one viral item with
    m users emits m² candidate edges, the exact hot-cluster pathology
    of the near-dup pair listers.  ``max_item_degree`` is the same
    ``max_df``-style escape hatch as `fingerprint_overlap_pairs` —
    items touched by more users are connectivity-free boilerplate
    (everyone saw the homepage) and are dropped BEFORE the join, which
    caps per-item fan-out.  The cap is enforced by broadcasting the
    OVER-cap hot-item set and LEFT-ANTI joining it out: the under-cap
    side is essentially the whole item catalog (10⁹+ items at scale —
    unbroadcastable), while the over-cap set is by construction tiny
    (at most ``Σdegree / cap`` items), so that is the side that can be
    safely pinned executor-resident.  Distinct (user, item) first, so
    repeat interactions don't multiply edges; output edges are
    distinct.
    """
    ui = df.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    ).dropDuplicates(["u", "i"])
    if max_item_degree is not None:
        deg = ui.groupBy("i").agg(F.count("*").alias("_d"))
        hot = deg.where(F.col("_d") > max_item_degree).select("i")
        ui = ui.join(F.broadcast(hot), "i", "left_anti")
    a = ui.select(F.col("i"), F.col("u").alias("a"))
    b = ui.select(F.col("i"), F.col("u").alias("b"))
    return (
        a.join(b, "i")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Exact triangle count over an undirected edge list (a < b rows):
    one-row (n_vertices, n_edges, n_triangles).

    The ordered two-join form: wedges (a<b<c) from edges (a,b)x(b,c),
    closed by an (a,c) edge — each triangle matches exactly once
    because its vertices appear in sorted order.  Both joins shuffle
    edge keys only; the classic skew refinement (orient edges from
    lower- to higher-DEGREE endpoints so wedge fan-out is bounded by
    arboricity) drops in by re-keying `edges` before this function —
    id order suffices below the hot-vertex regime.

    The edge list feeds FIVE plan consumers (three join legs + two
    stats aggregates), so it is localCheckpoint'ed — without the
    barrier Catalyst pastes the whole upstream edge pipeline into each
    (measured 46 exchanges vs 8 on the events projection).
    """
    e = edges.select("a", "b").localCheckpoint()
    wedges = e.select(F.col("a"), F.col("b").alias("_m")).join(
        e.select(F.col("a").alias("_m"), F.col("b").alias("c")), "_m"
    )
    tri = wedges.join(
        e.select(F.col("a"), F.col("b").alias("c")), ["a", "c"]
    )
    verts = e.select(F.col("a").alias("v")).union(
        e.select(F.col("b").alias("v"))
    )
    return (
        tri.agg(F.count("*").alias("n_triangles"))
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
        .crossJoin(
            verts.agg(F.countDistinct("v").alias("n_vertices"))
        )
        .select(
            F.col("n_vertices").cast("long").alias("n_vertices"),
            F.col("n_edges").cast("long").alias("n_edges"),
            F.col("n_triangles").cast("long").alias("n_triangles"),
        )
    )

