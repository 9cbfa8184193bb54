"""Physical-plan regression pins for the headline queries.

Correct *results* aren't enough at 100 TB — these tests pin the plan
properties that keep the queries scalable: dimension broadcasts, filter
and projection pushdown into the parquet scan, map-side partial
aggregation, and bounded shuffle counts.  If a refactor silently turns
a broadcast join into a shuffled sort-merge or drops a pushed filter,
these fail even though results stay correct."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def _plan(spark, sf_dir, name: str) -> str:
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q5_broadcasts_all_dimensions(spark, sf_dir):
    plan = _plan(spark, sf_dir, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") == 5  # supp/orders/cust/nation/region
    assert "SortMergeJoin" not in plan
    # lineitem scan pruned to the 4 needed columns
    assert "ReadSchema: struct<l_orderkey" in plan


def test_q1_filter_pushdown_and_partial_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange hashpartitioning") == 1


def test_kpi_counts_scan_prunes_to_one_column(spark, sf_dir):
    plan = _plan(spark, sf_dir, "kpi_event_type_counts")
    assert "ReadSchema: struct<event_type:string>" in plan


def test_q3_hint_broadcasts_customer_only(spark, sf_dir):
    """TPC-H Q3: the only HINT-forced broadcast build side is the
    filtered customer dim.  The date-filtered orders side is a FACT
    (~half the table) — a forced broadcast there OOMs at cluster scale,
    so lineitem⋈orders must stay a shuffled join.  Auto-broadcast is
    disabled in-test so size-based promotion (fine, AQE's call at small
    SF) can't mask a reintroduced hint."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "shipping_priority")
        assert plan.count("BroadcastHashJoin") == 1  # customer only
        assert "c_mktsegment" in plan
        assert plan.count("SortMergeJoin") == 1  # lineitem⋈orders
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_top_orders_uses_take_ordered_not_full_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "top_orders")
    assert "TakeOrderedAndProject" in plan


def test_asof_join_is_single_shuffle_no_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "asof_join")
    assert "Join" not in plan  # union-merge, never a join product
    # one exchange for the as-of window + one inside the right-side
    # dedup aggregate — nothing else
    assert plan.count("Exchange hashpartitioning") == 2


def test_knn_bruteforce_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_bruteforce")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_minhash_band_join_carries_no_shingles(spark, sf_dir):
    """The LSH self-join input must be (id, band_id, band_hash) only —
    shingle arrays re-attach after candidate dedup."""
    import re

    plan = _plan(spark, sf_dir, "minhash_near_dup")
    band_joins = [
        ln
        for ln in plan.splitlines()
        if "Join" in ln and "band_hash" in ln
    ]
    assert band_joins, "expected a band-key join"
    # shingle columns print as sh#N / sh_a#N / sh_b#N ("band_hash#N"
    # must not false-positive on the sh# suffix)
    shingle_ref = re.compile(r"(?<![\w])sh(_[ab])?#")
    assert all(not shingle_ref.search(ln) for ln in band_joins)


def test_ppjoin_candidate_joins_carry_digests_not_shingles(spark, sf_dir):
    """The PPJoin-family prefix-key joins (ngram_jaccard_pairs and
    containment_pairs, both prefix orders) must join on (id, pkey)
    only — shingle arrays and text re-attach at the exact-verify step
    AFTER candidate dedup, never crossing the candidate exchange
    (dedup.py:_prefix_keys; the df-order variant additionally joins
    the digest-frequency table, also (pkey, count)-shaped)."""
    import re

    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
    from youtube_podcast_data_pipeline_azure_spark.operators import dedup

    shingle_ref = re.compile(r"(?<![\w])(sh(_[ab])?|text)#")
    docs = load_table(spark, sf_dir, "documents")
    for order in ("df", "digest"):
        for fn in (dedup.ngram_jaccard_pairs, dedup.containment_pairs):
            df = fn(docs, threshold=0.8, prefix_order=order)
            plan = df._jdf.queryExecution().executedPlan().toString()
            pkey_joins = [
                ln
                for ln in plan.splitlines()
                if "Join" in ln and "pkey" in ln
            ]
            assert pkey_joins, f"{fn.__name__}/{order}: no pkey join"
            offender = [ln for ln in pkey_joins if shingle_ref.search(ln)]
            assert not offender, f"{fn.__name__}/{order}: {offender[:1]}"


def test_enrichment_udf_not_reordered_before_filter(spark, sf_dir):
    """The cheap empty-text filter must sit below (execute before) the
    nondeterministic enrichment UDF — the reference's
    filter-before-expensive-call contract."""
    plan = _plan(spark, sf_dir, "enrich_documents")
    eval_pos = plan.find("ArrowEvalPython")
    filter_pos = max(plan.find("Filter ("), plan.find("PushedFilters"))
    assert eval_pos != -1
    # deeper in the printed tree = executes earlier
    assert filter_pos > eval_pos


def test_knn_bruteforce_partial_topk_before_query_shuffle(spark, sf_dir):
    """The per-partition bounded top-k (MapInPandas) must sit BELOW the
    query_id exchange: the only shuffle ranks q·k(+ties) rows per
    partition, never all q·n corpus scores on one reducer per query."""
    plan = _plan(spark, sf_dir, "knn_bruteforce")
    i_map = plan.find("MapInPandas")
    i_ex = plan.find("Exchange hashpartitioning(query_id")
    assert i_map != -1 and i_ex != -1
    # deeper in the printed tree = executes earlier
    assert i_map > i_ex


def test_waiting_suppliers_broadcasts_dims_and_pushes_filters(spark, sf_dir):
    """TPC-H Q21 shape: dimension sides broadcast and the F-status
    filter reaches the orders scan.  Exactly one SortMergeJoin is
    allowed — the lineitem↔orders fact-to-fact join, where a broadcast
    would be wrong at scale.  Since optimization r13 the per-order
    distinct counts are window expressions over that join's orderkey
    exchange (no aggregate joined back), so the plan has exactly one
    fact-to-fact join and one supplier broadcast — lineitem is scanned
    once."""
    plan = _plan(spark, sf_dir, "waiting_suppliers")
    assert plan.count("BroadcastHashJoin") >= 1  # supplier dim (+ o at fixture)
    assert plan.count("SortMergeJoin") <= 1
    assert "EqualTo(o_orderstatus,F)" in plan
    assert plan.count("Scan parquet") <= 3  # lineitem + orders + supplier


def test_market_share_broadcasts_dims_and_pushes_date_range(spark, sf_dir):
    """TPC-H Q8 shape: all dimension sides broadcast; the order-date
    range filter is pushed into the orders scan.  One fact-to-fact
    SortMergeJoin (lineitem↔orders) is the scale-correct residue."""
    plan = _plan(spark, sf_dir, "market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert plan.count("SortMergeJoin") <= 1
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_product_type_profit_broadcasts_part_filter(spark, sf_dir):
    """TPC-H Q9 shape: the part-name filter prunes before the join and
    the part side broadcasts."""
    plan = _plan(spark, sf_dir, "product_type_profit")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cms_sketch_partial_agg_and_broadcast_probe(spark, sf_dir):
    """The sketch build must combine map-side (shuffle bounded by d·w
    cells, not token cardinality) and the probe lookup must broadcast
    the tiny counters table — never sort-merge."""
    plan = _plan(spark, sf_dir, "cms_heavy_hitters")
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_runtime_bloom_filter_injects_on_shuffled_join(spark, sf_dir):
    """At cluster scale a selective dim filter becomes a runtime Bloom
    filter on the fact side (row-group pruning before the shuffle).
    Local fixture sizes sit below the injection thresholds, so this pin
    lowers them scoped to the test — what it verifies is that the
    engine's join SHAPE is eligible: Catalyst injects
    bloom_filter_agg/BloomFilterMightContain on the lineitem scan."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
        from pyspark.sql import functions as F

        li = load_table(spark, sf_dir, "lineitem")
        od = load_table(spark, sf_dir, "orders").where(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(od, li.l_orderkey == od.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "BloomFilterMightContain" in plan or "might_contain" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_mg_heavy_hitters_is_sketch_shaped(spark, sf_dir):
    """Pass 1 bounded summaries (one MapInPandas), candidates broadcast
    into the exact pass, no sort-merge join anywhere."""
    plan = _plan(spark, sf_dir, "mg_heavy_hitters")
    assert plan.count("MapInPandas") == 1
    assert "BroadcastHashJoin" in plan  # candidate semi-join
    assert "SortMergeJoin" not in plan


def test_dq_report_is_single_scan_single_exchange(spark, sf_dir):
    """All expectations fold into ONE aggregate over ONE scan: exactly
    one exchange (the single-row global agg), partial aggregation
    map-side, no joins."""
    plan = _plan(spark, sf_dir, "dq_report")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") == 2  # partial + final


def test_snapshot_diff_ships_fingerprints_not_rows(spark, sf_dir):
    """The diff join must carry only keys + fingerprint longs — no wide
    order columns cross the exchange."""
    plan = _plan(spark, sf_dir, "snapshot_diff")
    assert "_old_fp" in plan and "_new_fp" in plan
    for wide in ("o_orderstatus", "o_orderdate", "o_custkey"):
        assert f"Exchange hashpartitioning({wide}" not in plan
    # value columns are consumed by the md5 projection below the join
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_asof_forward_and_nearest_stay_join_free_single_shuffle(spark, sf_dir):
    """The direction variants keep the union-merge contract: no join
    operator at all, and the only exchanges are the fixture's view
    pre-aggregation plus ONE user-keyed window partitioning (nearest's
    two frames reuse the same exchange)."""
    for name in ("asof_join_forward", "asof_join_nearest"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, name
        assert plan.count("Exchange hashpartitioning(user_id") <= 2, name


def test_exact_quantiles_never_total_sorts(spark, sf_dir):
    """The whole point of sketch bracketing: no range-partitioned
    global sort of the table ever appears — ordering happens only in
    bounded take-ordered slices inside the brackets."""
    import __spark_entry__ as entry

    df = entry.queries()["exact_quantiles_sketched"](spark, sf_dir)
    # result df is a local createDataFrame; the property to pin is that
    # building it ran no rangepartitioning exchange — assert on the
    # operator's own scans instead
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
    from youtube_podcast_data_pipeline_azure_spark.operators import sketches

    orders = load_table(spark, sf_dir, "orders")
    src = orders.select("o_totalprice").where("o_totalprice IS NOT NULL")
    digests = sketches.tdigest_partition_digests(src, "o_totalprice", 200)
    plan = digests._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    assert "MapInPandas" in plan
    assert df.count() == 4


def test_scd2_and_upsert_and_sessions_are_single_shuffle(spark, sf_dir):
    """The three heaviest event-table pipelines keep the one-exchange
    contract: SCD2 interval build (one user window), latest-wins upsert
    (one merge-key window over the union), and gap sessionization — no
    joins, no range partitioning, exactly ONE hash exchange each.  The
    session groupBy reuses the user_id partitioning (subset-of-keys
    distribution), which is the property a refactor most easily loses."""
    for name in ("scd2_intervals", "upsert_latest_wins", "session_windows"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "Exchange rangepartitioning" not in plan, name
        assert "Join" not in plan, name


def test_pre_r03_workhorses_stay_within_shuffle_budget(spark, sf_dir):
    """VERDICT r6 #6: exact hash-exchange pins extended backwards to
    the r1/r2-era workhorses (audited at sf0.1 during the r7 rotation).
    The 0-budget rows are the load-bearing ones — every per-row
    map/filter/UDF pipeline (language-ID, quality scoring, shingling,
    chunking, media decode, enrichment) must remain a pure scan→map
    with NO shuffle: at 100 TB an accidental exchange on one of these
    moves the whole corpus."""
    budgets = {
        # pure scan→map pipelines: zero shuffles by design
        "language_id": 0,
        "quality_scores": 0,
        "winnowing_fingerprints": 0,   # per-doc fingerprints, no joins
        "embedding_norms": 0,
        "hash_sample": 0,              # deterministic hash filter
        "weighted_sample": 0,          # per-row keep-prob filter
        "chunk_documents": 0,          # per-doc splitter (explode)
        "media_features": 0,           # Arrow-batch decode map
        "media_frame_sample": 0,       # per-asset frame explode
        "enrich_documents": 0,         # batched pandas_udf widening
        "enrich_video_titles": 0,
        # bounded-shuffle aggregation pipelines
        "knn_bruteforce": 2,       # partial top-k + per-query merge
        "knn_label_accuracy": 3,   # + label-vote/accuracy rollup
        "pack_sequences": 1,       # one packing window
        "higher_order_funcs": 1,   # final per-key agg
        "value_outliers": 1,       # stats agg; bounds join broadcasts
        "cohort_retention": 2,     # first-seen window + cohort agg
        "funnel_conversion": 1,    # per-user step agg
        "fuzzy_vocab": 2,          # token agg + soundex-key self-join
        "session_conversion": 2,   # sessionize + conversion rollup
        "profile_table": 1,        # per-column profile agg
    }
    for name, budget in budgets.items():
        plan = _plan(spark, sf_dir, name)
        got = plan.count("Exchange hashpartitioning")
        assert got == budget, (name, got, budget)
        if budget == 0:
            # a per-row pipeline must not smuggle scale-breaking plan
            # nodes in under a zero hash-exchange count either
            assert "SortMergeJoin" not in plan, name
            assert "Exchange rangepartitioning" not in plan, name


def test_r07_suffix_queries_stay_within_shuffle_budget(spark, sf_dir):
    """The suffix-array pair (r7): the doubling rounds run eagerly
    through the dense-rank checkpoints at construct time, so the FINAL
    plan is shallow — spans shows the per-rank count window + the
    per-document interval windows (2 hash exchanges); LCP shows the
    rank-group aggregate + the rank adjacency join off the checkpointed
    rep table (2).  No single-partition exchange may ever appear (the
    scalability invariant of the two-phase dense rank)."""
    for name, budget in {
        # r14: +1 for the spread() repartition before the L-gram fold
        # (narrow id+text rows; no-op on multi-split cluster scans)
        "exact_substring_spans": 3,
        "longest_repeated_substrings": 2,
        # side-tag join broadcasts at the fixture SF (4 at sf0.1 where
        # the sides shuffle); the spans machinery itself is identical
        "contamination_spans": 2,
    }.items():
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") == budget, name
        assert "Exchange SinglePartition" not in plan, name


def test_r07_dsir_queries_stay_within_shuffle_budget(spark, sf_dir):
    """DSIR (r7, re-audited r8): the raw gram stream and the ratio
    table checkpoint eagerly at construct (the gram hashing previously
    re-ran per consumer — on the md5 oracle seam that doubled the
    dominant cost, 5.5 s -> 2.7 s fresh at sf0.1), so the FINAL plan is
    the scoring join + per-doc aggregate over the materialized gram
    table: 2 hash exchanges; the n_buckets-row ratio table must
    BROADCAST into the scoring join (gram rows never shuffle with
    their ratio attached)."""
    for name in ("dsir_importance_weights", "dsir_resample"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") == 2, name
        assert "BroadcastHashJoin" in plan, name


def test_r07_hll_report_stays_within_shuffle_budget(spark, sf_dir):
    """hll_shard_union (r7) is an AUDIT query — it deliberately
    computes three answers (sharded-union sketch, direct sketch, exact
    COUNT(DISTINCT)) over the same events scan, so its budget is 6
    hash exchanges — the content-derived shard's (key,item) dup-count
    agg (r8, VERDICT r7 #3), (key,shard) sketch agg, per-key union agg,
    per-key direct agg, and the exact distinct's two-phase
    (key,item)→(key) — and every one of them ships either KB-sized
    sketch state or the bounded distinct pairs after map-side partial
    aggregation; the 5-row result joins must broadcast and nothing may
    collapse to a single partition.  The production path
    (hll_shard_sketches → parquet → hll_union_estimate) is 2 exchanges,
    pinned via the roundtrip test in test_sketches."""
    plan = _plan(spark, sf_dir, "hll_shard_union")
    assert plan.count("Exchange hashpartitioning") == 6
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_zipf_fit_stays_within_shuffle_budget(spark, sf_dir):
    """zipf_fit (r7): the (lang, term) count aggregate is the only
    corpus-grain shuffle; the per-lang rank window and the six-sum
    regression aggregate both reuse the lang hash partitioning — 2
    exchanges total, no single-partition or range exchange (the
    regression must never sort globally)."""
    plan = _plan(spark, sf_dir, "zipf_fit")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_length_drift_scans_corpus_once(spark, sf_dir):
    """length_drift (r7): the (source, n_chars) count is the ONLY
    corpus-grain pass — it is eagerly checkpointed before the 3-way
    fan-out (ref tag / grid / totals), so the FINAL plan must contain
    no parquet scan at all; its 6 hash exchanges and the 1-row
    reference aggregate's single-partition exchanges all run on the
    |groups|·|distinct lengths| value-grain table."""
    plan = _plan(spark, sf_dir, "length_drift")
    assert "Scan parquet" not in plan and "FileScan" not in plan
    assert plan.count("Exchange hashpartitioning") <= 6
    assert "Exchange rangepartitioning" not in plan


def test_r03_window_queries_stay_within_shuffle_budget(spark, sf_dir):
    """Table-driven shuffle-budget pins from the r3 plan audit: each
    newly-fronted driver-window query's hash-exchange count is its
    audited value — a refactor that adds an exchange (an extra shuffle
    at 100 TB) fails here even with identical results.  Budgets are
    exact counts observed on sound plans, not aspirations."""
    budgets = {
        "dq_report": 0,            # single scan, single global agg
        "dq_unique_violations": 1,
        "dq_referential_orphans": 2,
        "table_fingerprint": 0,    # one scan -> one-row XOR agg
        "snapshot_diff": 2,        # fingerprint projections meet once
        "asof_join_forward": 2,    # fixture pre-agg + ONE as-of window
        "asof_join_nearest": 2,    # two frames share one exchange
        "window_rank_stats": 1,
        "user_running_totals": 1,
        "token_set_dedup": 1,
        "resample_daily": 2,       # span agg + (user, day) join grain
        "rolling_activity": 2,
        "key_skew_report": 2,      # top-k + total, both partial-agg'd
        "top_tokens_per_lang": 2,
        "incremental_agg": 2,      # batch partials + merge
        "sql_api_top_orders": 1,
        "volume_shipping": 1,      # facts shuffle once; dims broadcast
        "small_quantity_revenue": 1,
    }
    for name, budget in budgets.items():
        plan = _plan(spark, sf_dir, name)
        got = plan.count("Exchange hashpartitioning")
        # equality, not <=: the budgets are audited exact counts, and a
        # refactor that silently DROPS a required exchange (e.g. loses a
        # pre-aggregation) should fail just like one that adds a shuffle
        assert got == budget, (name, got, budget)


def test_r04_window_queries_stay_within_shuffle_budget(spark, sf_dir):
    """Audited exact hash-exchange counts for the queries fronted in the
    r4 window (static plans; AQE's stage cache additionally reuses the
    repeated spread/shingle exchanges at runtime — see the
    minhash_lsh_pairs module comment)."""
    budgets = {
        # r14: 4 -> 1 — the (id, sh) and banded-key checkpoints moved
        # the spread/signature/band exchanges to construct time (the
        # simhash r13 pattern); only the pair-dedup exchange remains in
        # the FINAL plan (band self-join + verify broadcast the
        # checkpoints at fixture size)
        "minhash_near_dup": 1,
        # r13: hamming_pairs checkpoints the (id, sig) table, so the
        # spread/signature exchange no longer appears in the FINAL plan
        # (it runs once at construct); only the pair-dedup exchange
        # remains — the chunk self-join broadcasts the checkpoint.
        "simhash_near_dup": 1,
        "embedding_near_dup": 2,      # spread + bucket self-join dedup
        "knn_lsh": 2,                 # spread + (query,neighbor) dedup
        "knn_ivf_exhaustive": 2,      # spread + top-k window on query_id
        "embedding_clusters": 2,      # spread + per-centroid rollup
        "approx_distinct_users": 1,   # partial+final HLL agg
        "tdigest_accuracy": 3,        # digest repartition(1) + report agg + join
        "tdigest_by_key_accuracy": 3, # per-key digests + report agg + exact join
        "ngram_jaccard_pairs_blocked": 0,  # broadcast self-join, no shuffle
        # r4 curation pack: the three per-row ops are pure scan maps
        # (ZERO shuffles — they must stay that way at 100 TB); the two
        # set ops shuffle only ids+hashes (eval-gram distinct + per-doc
        # agg; fingerprint distinct + batch collapse).
        "contamination_report": 2,
        "incremental_dedup": 2,
        "repetition_signals": 0,
        "pii_scan": 0,
        "dataset_split": 0,
        "duplicate_ngram_spans": 2,   # two-phase count-distinct; TakeOrdered
        "embedding_quantization": 0,  # doc-local array math, pure scan map
        "python_datasource_videos": 0,  # custom source scan + flatten map
        "variant_extract": 0,         # parse-once variant, pure scan map
        "streaming_corpus_dedup": 2,  # fingerprint distinct + stream dedup
        "delete_by_key_roundtrip": 1, # post-delete re-read group agg
        # static plan repeats the tf/w subtree per consumer (norms, two
        # join sides); AQE's stage cache reuses those identical shuffles
        # at runtime (warm run ~0.2 s at sf0.01) — same situation as the
        # minhash spread/shingle exchanges.  r14: 15 -> 12 with the
        # spread() repartition ahead of the tf explode (the shared
        # exchange lets AQE reuse more of the pasted subtrees)
        "tfidf_cosine_pairs": 12,
        "curation_funnel": 1,         # rep-flag join broadcasts; dedup agg
        "fingerprint_overlap_pairs": 1,  # fp self-join + per-pair count
        # iterative, over one checkpointed edge list: round 1 is one
        # aggregate; rounds 2 and 3 each shuffle the checkpoint on src
        # for the rank join and aggregate by node (no node table)
        "pagerank_influence": 5,
        # bloom pruning: the bitmap build aggregates to <= m/32 words
        # (1) and the verified output aggregates by priority (1); the
        # prune predicate itself adds ZERO exchanges (literal bitmap)
        "bloom_semi_join": 2,
        "bloom_prune_report": 1,      # bitmap build; final agg is global
        # vec-hash collapse window + checkpointed rep assignment's
        # spread + rep-dropped dedup (pair join reads the checkpoint;
        # membership joins broadcast at fixture size)
        "semantic_dedup": 3,
        # line docfreq agg + per-doc reassembly + hot/original joins
        # broadcast at fixture size
        "boilerplate_lines": 3,
        # gram-hash occurrence window + covered-position dedup +
        # per-doc reassembly; coverage/final joins broadcast at fixture
        # size (checkpointed token base, so no re-tokenize per Generate)
        "remove_repeated_spans": 3,
        # clustering folds into broadcast joins at fixture size; the one
        # hash exchange is the component-keyed keep-best window
        "dedup_keep_best": 1,
        # token counts + per-doc score grain + broadcast-back joins of
        # the vocabulary dict and the two 1-row scalar aggregates
        "token_rarity_bins": 6,
        # pure scan map: replication explode + hash gates, ZERO shuffles
        "upsample_mixture": 0,
        # band-index probe + verify joins broadcast at fixture size;
        # the one hash exchange is the candidate-pair dedup
        "streaming_near_dup": 1,
        # one shard-keyed window exchange; NO global sort / range
        # partitioner sampling job
        "training_shards": 1,
        # per-doc reassembly after the broadcast vocab join (training
        # folds run before the final plan, over the bounded vocab)
        "bpe_segment": 1,
        # loaded-lists probe join broadcasts at fixture size; the one
        # exchange is the per-query top-k window
        "knn_ivf_persisted": 1,
        # edge build runs eagerly into the checkpoint before this plan
        # is inspected; the census over the checkpointed edges
        # broadcasts its joins at fixture size — one exchange survives
        "triangle_count": 1,
        # global conditional-sum aggregate + per-lang counts, one scan
        # each (count-distinct fingerprint expands the global agg)
        "dataset_card": 2,
        # checkpointed pair list; anchor dedup + per-anchor rank window
        # + exclusion anti-join + final join legs at fixture size
        "contrastive_pairs": 5,
    }
    for name, budget in budgets.items():
        plan = _plan(spark, sf_dir, name)
        got = plan.count("Exchange hashpartitioning")
        assert got == budget, (name, got, budget)
    # near_dup_pipeline is a composition (collapse + full LSH sub-plan +
    # two expansion joins); its static plan is wide but bounded — pin an
    # upper bound rather than brittle exact equality across AQE variants
    plan = _plan(spark, sf_dir, "near_dup_pipeline")
    assert plan.count("Exchange hashpartitioning") <= 12, plan.count(
        "Exchange hashpartitioning"
    )


def test_r05_window_queries_stay_within_shuffle_budget(spark, sf_dir):
    """Audited exact hash-exchange counts for the queries added or
    rewritten in r5 (static plans at the fixture SF; AQE's stage cache
    reuses repeated subplan exchanges at runtime)."""
    budgets = {
        # sparse contamination report joins back as an id anti-join;
        # eval grams broadcast — corpus bodies never shuffle
        "decontaminated_docs": 2,
        # threshold fan-out collapses map-side into ONE partial+final agg
        "quality_yield_curve": 1,
        # per-term min-bucket + per-bucket token agg + the tiny
        # n_buckets-row cumsum window
        "vocabulary_growth": 3,
        # one per-source packing window; the report agg is global
        "packing_efficiency": 1,
        # fingerprint project + per-bucket count + per-fp min-bucket
        # double agg; digests shuffle, bodies never
        "novelty_curve": 3,
        # one count-distinct expansion per candidate FD pair (3 pairs);
        # keys+counts only
        "functional_dependencies": 6,
        # two per-key count groupBys + the count-table join + the
        # matched-key aggregate; payload columns never shuffle
        "join_cardinality": 4,
        # linear-edge components (rep pairs ∪ member→rep stars): the
        # static plan shows the fingerprint collapse + edge build; the
        # component rounds run eagerly through localCheckpoints before
        # this plan is inspected
        "dedup_corpus": 2,
    }
    for name, budget in budgets.items():
        plan = _plan(spark, sf_dir, name)
        got = plan.count("Exchange hashpartitioning")
        assert got == budget, (name, got, budget)
    # corpus_overlap_report is a wide composition (two collapse aggs,
    # two band-key builds, candidate dedup, verify joins, three 1-row
    # assemblies) — bound it like near_dup_pipeline instead of pinning
    # an AQE-sensitive exact count
    plan = _plan(spark, sf_dir, "corpus_overlap_report")
    assert plan.count("Exchange hashpartitioning") <= 14, plan.count(
        "Exchange hashpartitioning"
    )


def test_vocabulary_joins_carry_no_broadcast_hint(spark, sf_dir):
    """r6 sweep (VERDICT r5 #1): the vocabulary-sized lookup tables —
    document frequency (distinctive_terms), unigram counts
    (collocations, both sides), per-token counts (token_rarity_bins) —
    must NOT be hint-forced into broadcasts: at web scale each is 10⁸+
    rows and a forced broadcast is an executor OOM ceiling.  With
    size-based promotion disabled, the ONLY broadcasts left in these
    plans are the deliberate 1-row scalar assemblies (nested-loop cross
    joins), so any BroadcastHashJoin means a reintroduced hint."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in ("distinctive_terms", "collocations", "token_rarity_bins"):
            plan = _plan(spark, sf_dir, name)
            assert plan.count("BroadcastHashJoin") == 0, (
                name,
                plan.count("BroadcastHashJoin"),
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_cooccurrence_cap_broadcasts_only_the_hot_set(spark, sf_dir):
    """The degree cap in cooccurrence_edges broadcasts the tiny
    OVER-cap hot-item set as a LEFT ANTI probe — never the under-cap
    side, which is essentially the whole item catalog.  With size-based
    promotion off, exactly one BroadcastHashJoin (the anti join)
    survives; the bipartite self-join stays shuffled."""
    from pyspark.sql import functions as F

    from youtube_podcast_data_pipeline_azure_spark.operators import graph

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ev = (
            entry._t(spark, sf_dir, "events")
            .select(
                "user_id",
                F.get_json_object("props", "$.k").cast("long").alias("item"),
            )
            .where(F.col("item").isNotNull())
        )
        edges = graph.cooccurrence_edges(
            ev, "user_id", "item", max_item_degree=25
        )
        plan = edges._jdf.queryExecution().executedPlan().toString()
        # the ui subtree feeds both self-join legs, so the static plan
        # pastes the anti join twice (AQE reuses the exchange at
        # runtime) — every broadcast must be a LeftAnti probe build
        n_bhj = plan.count("BroadcastHashJoin")
        assert n_bhj >= 1 and n_bhj == plan.count("LeftAnti"), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_r06_new_queries_stay_within_shuffle_budget(spark, sf_dir):
    """Audited exact hash-exchange counts for the queries added in r6
    (static plans at the fixture SF)."""
    budgets = {
        # the deduped ui subtree is pasted into both self-join legs
        # (AQE reuses the exchange at runtime): 2x (distinct + deg agg
        # + anti probe) + the final edge dedup
        "cooccurrence_edges": 7,
        # components run eagerly through the per-round
        # localCheckpoints; the final plan is a checkpoint scan + the
        # hash-CASE split projection — zero exchanges
        "leakage_safe_split": 0,
        # one stratum aggregate + the budget scalar's pasted re-agg
        "mixture_plan": 2,
        # pair pass runs eagerly through the localCheckpoint (was 12
        # exchanges with the PPJoin pasted per aggregate); final plan =
        # checkpoint scan -> fan-out -> two aggs + zero-fill joins
        "dedup_threshold_curve": 4,
        # components run through the per-round checkpoints; final plan
        # = checkpoint scan + source join + one aggregate per grain
        "component_size_report": 2,
        "dedup_provenance": 2,
        # two deliberate corpus passes (sig per join side) + the PPJoin
        # near leg + stride joins — the documented audit contract
        "minhash_accuracy": 11,
        # |ns| narrow explodes unioned + one two-level count-distinct agg
        "ngram_diversity": 2,
        # BPE folds run eagerly over the checkpointed vocabulary during
        # construction; final plan = toks + broadcast vocab join + one
        # doc agg + one lang agg
        "tokenizer_fertility": 2,
        # QI class-size agg + the per-k re-agg after the fan-out
        "k_anonymity": 2,
        # token explode + span distinct/rank + rejoin + doc reassembly
        "span_corruption": 4,
        # two searches (brute-force window + IVF probe/score window)
        # + the recall join/aggregate; centroids are plan literals
        "ann_recall": 7,
        # digest-keyed group + the count-distinct expand level
        "canonical_dedup": 2,
        # two per-snapshot cell aggregates + the full join + the
        # global-total window (centroids are plan literals)
        "embedding_drift": 4,
        # source agg (with the count-distinct expand) + the scalar
        # token-total window over one-row-per-source
        "source_mixture_card": 2,
        # (declared, detected) agg + the per-declared total window
        "language_mismatch": 2,
        # MG summary merge + per-key totals + candidate exact-count +
        # final threshold join — each over ≤k-per-partition summaries
        "mg_heavy_hitters_by_key": 4,
        # components run through the per-round checkpoints; final plan
        # = checkpoint scan + source join + (component, source)
        # distinct pasted into both self-join legs + pair agg
        "source_overlap_near": 5,
    }
    for name, budget in budgets.items():
        plan = _plan(spark, sf_dir, name)
        got = plan.count("Exchange hashpartitioning")
        assert got == budget, (name, got, budget)


def test_retrieval_quality_final_plan_reads_only_checkpoints(spark, sf_dir):
    """retrieval_quality (r7): BM25@20 and dense@20 are eager
    localCheckpoints feeding two consumers each (candidate slice +
    fusion) — the FINAL plan must therefore contain no parquet scan at
    all (the corpus pipelines ran exactly once, at construct) and no
    single-partition exchange; every post-checkpoint shuffle carries
    Ω(queries·k)-row metric tables, not the corpus."""
    plan = _plan(spark, sf_dir, "retrieval_quality")
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan
    assert "Exchange SinglePartition" not in plan


def test_bm25_queries_stay_within_shuffle_budget(spark, sf_dir):
    """BM25 (r7, budgets pinned r8 — VERDICT r7 #6): the postings table
    is eagerly checkpointed at construct (its four consumers previously
    pasted the corpus explode+aggregate: 10 parquet scans in one plan),
    so the FINAL plan runs on the materialized (doc, term, tf) table —
    4 hash exchanges (df_t, scores agg, top-k window + qterms
    distinct): since optimization r13 BOTH paths fold the corpus
    scalars (N, Σdl) in as literals via one bounded 1-row collect at
    construct (dropping the stats join whose subplan duplicated the dl
    aggregate chain — the old unpruned plan had 6 exchanges + a
    single-partition stats aggregate), and the postings checkpoint
    carries the document length as a column, so the per-run dl
    aggregate AND the id-keyed dl join of the candidate set are gone —
    at scale that join shuffled candidate volume by doc id.  Text
    never shuffles: the candidate join carries (id, term, tf, dl).
    r14: 4 -> 2 — query-term DISTINCT became a doc-local
    array_distinct (the workload is one row per query, so the global
    distinct's exchange deduped within single rows), and the
    per-(query, doc) score aggregate + per-query top-k window now
    share ONE query-keyed repartition exchange (guide §2.4) instead
    of a (query, doc) exchange followed by a query exchange."""
    for name in ("bm25_search", "bm25_search_pruned"):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") == 2, name
        assert "Exchange SinglePartition" not in plan, name
        assert "SortMergeJoin" not in plan, name


def test_hybrid_rrf_stays_within_shuffle_budget(spark, sf_dir):
    """RRF fusion (r7, pinned r8; re-pinned r13 when BM25 dropped its
    stats join and dl join): BM25@20's four exchanges plus the dense
    ranking and the fusion's (query, doc) aggregate + per-query window
    — 6 hash exchanges total (4 since r14: BM25@20 dropped its qterms
    distinct and merged its score/top-k exchanges); fusion inputs are
    per-query top-k tables, so nothing corpus-sized reaches the fuse."""
    plan = _plan(spark, sf_dir, "hybrid_retrieval_rrf")
    assert plan.count("Exchange hashpartitioning") == 4
    assert plan.count("Exchange SinglePartition") <= 1
    assert "SortMergeJoin" not in plan


def test_lm_perplexity_budget_and_single_scoring_pass(spark, sf_dir):
    """lm_perplexity_filter (r7, re-audited r8): the trained bigram LM
    (cvw) and the per-doc scores are eagerly checkpointed — before the
    fix their consumers pasted the scoring pipeline into the plan 18
    parquet scans deep.  Final plan: <= 2 scans (the ids-only left join
    + one checkpoint feed), 5 hash exchanges, and the single-partition
    exchanges only ever carry the bounded distinct-value rank table."""
    plan = _plan(spark, sf_dir, "lm_perplexity_filter")
    assert plan.count("Scan parquet") + plan.count("FileScan") <= 2
    assert plan.count("Exchange hashpartitioning") == 5
    # (no SortMergeJoin assertion: scored⋈offsets may legitimately
    # sort-merge — the offsets side is bounded by the quantized value
    # space, ≲2e7 rows, which is broadcastable sometimes, not always)


def test_suffix_index_query_reads_index_not_corpus(spark, sf_dir):
    """exact_substring_spans_persisted (r8): the span derivation over a
    LOADED index must never re-run the doubling rounds — the final plan
    reads the index parquet (+ the construct-time checkpoint feeds) and
    spends 3 hash exchanges (lens agg reuse, rank-group count window,
    interval-merge window+agg); no single-partition exchange, ever."""
    plan = _plan(spark, sf_dir, "exact_substring_spans_persisted")
    assert plan.count("Exchange hashpartitioning") == 3
    assert "Exchange SinglePartition" not in plan


def test_domain_mix_and_turn_dedup_stay_within_shuffle_budget(spark, sf_dir):
    """r8 cohort pins: domain_mix is one (domain, url) corpus aggregate
    + a domain rollup (2 hash exchanges; the single-partition exchange
    is the corpus-total window over the BOUNDED domain table);
    turn_dedup is the turn-fingerprint keep-first window + the per-doc
    rebuild aggregate (2 hash exchanges, nothing single-partition —
    digests shuffle, never rebuilt text beyond its own row)."""
    plan = _plan(spark, sf_dir, "domain_mix")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Exchange SinglePartition") == 1  # bounded domain table
    assert "SortMergeJoin" not in plan
    assert "Exchange rangepartitioning" not in plan
    plan = _plan(spark, sf_dir, "turn_dedup")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in plan
    assert "SortMergeJoin" not in plan


def test_r9_per_row_maps_have_zero_exchanges(spark, sf_dir):
    """The r9 rule/normalization/coding operators are scan-fused
    per-row maps by design — any exchange appearing here means an
    accidental aggregation or join crept into a map-only path."""
    for q in (
        "gopher_quality",
        "c4_line_filter",
        "text_normalization",
        "pq_codes",
    ):
        plan = _plan(spark, sf_dir, q)
        assert "Exchange" not in plan, q
        assert "SortMergeJoin" not in plan, q


def test_pq_ann_and_ivfpq_shuffle_budget(spark, sf_dir):
    """PQ ADC search: one (query, vec) aggregate exchange + the top-k
    window exchange; the LUT (and for IVF-PQ the probe table) joins as
    a broadcast — candidates carry integers, vectors never shuffle."""
    plan = _plan(spark, sf_dir, "pq_ann")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    plan = _plan(spark, sf_dir, "knn_ivfpq")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("BroadcastHashJoin") == 2  # probes + LUT
    assert "SortMergeJoin" not in plan


def test_unbounded_global_window_checker_detects_violation(spark, sf_dir):
    """The tools/plan_invariants.py checker itself: an unpartitioned
    row_number over a raw table scan is flagged; the same window over
    a groupBy aggregate (bounded input) and over a literal table pass;
    a key-partitioned window over a raw scan passes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tools.plan_invariants import unbounded_global_windows
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    bad = docs.withColumn(
        "rk", F.row_number().over(Window.orderBy("doc_id"))
    )
    assert unbounded_global_windows(bad), "raw-scan global window missed"

    ok_agg = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rk", F.row_number().over(Window.orderBy(F.col("n"))))
    )
    assert unbounded_global_windows(ok_agg) == []

    # a true LocalRelation literal table (createDataFrame parallelizes
    # to a LogicalRDD, which the checker rightly can't certify)
    ok_lit = spark.sql(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b') t(k, v)"
    ).withColumn("rk", F.row_number().over(Window.orderBy("k")))
    assert unbounded_global_windows(ok_lit) == []

    ok_part = docs.withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("lang").orderBy("doc_id")),
    )
    assert unbounded_global_windows(ok_part) == []


def test_registry_plan_invariants_hold_everywhere(spark, sf_dir):
    """Registry-wide sweep (VERDICT r9 #2/#7): EVERY registered query
    must (a) return a canonicalizer-safe top-level schema — no
    array/map column, the r9 pq_codes window miss — and (b) keep any
    unpartitioned Window over a provably bounded input (an Aggregate /
    GlobalLimit below it, or literal leaves).  (b) is the 100-TB
    single-task-meltdown guard: Spark funnels an unpartitioned window
    into ONE task, fine over an n_buckets-row aggregate, fatal over a
    corpus scan."""
    from concurrent.futures import ThreadPoolExecutor

    from tools.plan_invariants import (
        result_schema_hazards,
        unbounded_global_windows,
    )

    def check(item):
        name, fn = item
        out = []
        df = fn(spark, sf_dir)
        for col in result_schema_hazards(df):
            out.append(f"{name}: array/map result column {col}")
        for v in unbounded_global_windows(df):
            out.append(f"{name}: {v}")
        return out

    # constructs are independent (some run eager bounded jobs — guide
    # §2.6: overlap them); 6 threads cut the sweep ~4x with identical
    # coverage, and failures aggregate deterministically via sorted().
    # Python-data-source queries register a session-level source name
    # at construct, which races under threads — anything that throws in
    # the pool is retried serially, so a genuine failure still fails.
    def safe_check(item):
        try:
            return check(item), None
        except Exception:  # noqa: BLE001 — retried serially below
            return None, item

    items = list(entry.queries().items())
    with ThreadPoolExecutor(max_workers=6) as pool:
        results = list(pool.map(safe_check, items))
    msgs = [m for msgs, _ in results if msgs for m in msgs]
    for item in (it for _, it in results if it is not None):
        msgs.extend(check(item))
    bad = sorted(msgs)
    assert not bad, "\n".join(bad)


def test_quality_signals_is_single_scan_zero_exchange(spark, sf_dir):
    """quality_signals (r10; re-pinned r14): the fused Dolma-style
    attribute vector must stay ONE scan — every signal is doc-local;
    a second scan, a join, or an aggregate exchange here means the
    fusion regressed to the multi-pass shape it exists to replace.
    Since r14 the one allowed exchange is the spread() repartition
    BEFORE the heavy per-row map (narrow id+text rows; a no-op on
    multi-split cluster scans) — the signals themselves still never
    shuffle."""
    plan = _plan(spark, sf_dir, "quality_signals")
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") <= 1, plan
    assert "Join" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_pq_family_exchanges_never_carry_vectors(spark, sf_dir):
    """The PQ family's 100-TB contract: vector bytes NEVER cross an
    exchange — codes/ids/integer distances shuffle, embeddings stay in
    their scan stage.  Reads the formatted plan's per-node Output
    lists for every Exchange (shuffle or broadcast) and asserts no
    vector-typed column is in the payload."""
    import re

    # ivfpq_recall is NOT in scope: its exact brute-force leg runs
    # spread() (an id-hash repartition that unlocks local parallelism
    # on the single-file fixture scan — a documented no-op on a real
    # multi-split cluster), and that exchange legitimately carries the
    # corpus vectors once.  The PQ search paths themselves must not.
    vec_ref = re.compile(r"(embedding|_vm|_cvec|_qvec|_s\d)#")
    inspected = 0
    for name in ("pq_ann", "pq_codes", "knn_ivfpq"):
        df = entry.queries()[name](spark, sf_dir)
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        txt = df._jdf.queryExecution().explainString(mode)
        # formatted mode: "(N) Exchange" / "(N) BroadcastExchange"
        # detail sections list their payload as "Input [n]: [...]"
        # (an exchange's output == its input)
        sections = re.split(r"\n\(\d+\) ", txt)
        for sec in sections:
            head = sec.split("\n", 1)[0]
            if "Exchange" not in head:
                continue
            m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", sec)
            if not m:
                continue
            payload = m.group(1)
            inspected += 1
            assert not vec_ref.search(payload), (name, head, payload)
    # the PQ plans do shuffle (codes aggregate, top-k window) — if no
    # Exchange was inspected the parse went vacuous, not the plans
    assert inspected >= 3, inspected


def test_multimodal_near_dup_exchanges_never_carry_payloads(spark, sf_dir):
    """The multimodal near-dup 100-TB contract (the PQ vector-free pin
    applied to binary media): image/audio payload bytes — and the hex
    synth strings they decode from — NEVER cross an exchange.  The
    decode→fingerprint kernel runs in the scan stage; only
    (asset_id, 8-byte hash, chunk key) rows shuffle."""
    import re

    payload_ref = re.compile(r"(payload|hs|_text)#")
    inspected = 0
    for name in ("image_near_dup", "audio_near_dup"):
        df = entry.queries()[name](spark, sf_dir)
        jvm = spark._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        txt = df._jdf.queryExecution().explainString(mode)
        sections = re.split(r"\n\(\d+\) ", txt)
        for sec in sections:
            head = sec.split("\n", 1)[0]
            if "Exchange" not in head:
                continue
            m = re.search(r"Input \[\d+\]: \[([^\]]*)\]", sec)
            if not m:
                continue
            payload = m.group(1)
            inspected += 1
            assert not payload_ref.search(payload), (name, head, payload)
    assert inspected >= 2, inspected


def test_cap_per_source_windowed_exchange_carries_no_text(spark, sf_dir):
    """cap_per_source_windowed (r12): the batch twin's single rank
    window must exchange only (doc_id, source, window_start, hash) —
    never document text — and there must be exactly one shuffle (the
    rank window's hash partitioning on (source, window_start))."""
    plan = _plan(spark, sf_dir, "cap_per_source_windowed")
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(exchanges) == 1, plan
    assert all("text" not in ln for ln in exchanges)
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_cap_per_source_skew_bounds_partitions_and_prunes_text(spark, sf_dir):
    """cap_per_source_skew (r12): the two-phase form must (a) never
    scan text (column pruning to (doc_id, source)), (b) partition the
    phase-1 window on (source, bucket) — the skew-defeating key —
    and (c) carry only ids/sources/ranks on every exchange."""
    plan = _plan(spark, sf_dir, "cap_per_source_skew")
    # phase-1 hash partitioning includes the xxhash bucket expression
    assert "pmod" in plan and "xxhash64" in plan, plan
    scan_schemas = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    assert scan_schemas and all("text" not in ln for ln in scan_schemas)
    exchanges = [
        ln for ln in plan.splitlines() if "Exchange" in ln
    ]
    assert exchanges and all("text" not in ln for ln in exchanges)


def test_blocked_baseline_contract_stays_half_slice(spark, sf_dir):
    """VERDICT r12 #6: ngram_jaccard_pairs_blocked is O(block²) BY
    CONTRACT — it exists only as the cross-validation baseline for the
    PPJoin path and is registered over the even-doc_id HALF of the
    corpus to bound the quadratic term.  Pin that slice structurally so
    it can't silently widen: (a) the even-id predicate reaches the
    documents scan as a pushed/post-scan filter, and (b) the blocked
    input is at most half the corpus (+1 for odd counts)."""
    plan = _plan(spark, sf_dir, "ngram_jaccard_pairs_blocked")
    assert "% 2" in plan, plan  # the half-slice filter survives in the plan
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table

    n_docs = load_table(spark, sf_dir, "documents").count()
    from pyspark.sql import functions as F

    sliced = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 2 == 0)
        .count()
    )
    assert sliced <= n_docs // 2 + 1, (sliced, n_docs)


def test_corpus_diff_exchanges_carry_fingerprints_not_text(spark, sf_dir):
    """corpus_diff/corpus_churn (r13): the full-outer join must ship
    ids + one md5-int56 long per side — document text is consumed by
    the fingerprint expression AT THE SCAN and never appears on an
    exchange.  (Text does appear in ReadSchema — it is hashed — the
    invariant is about what shuffles.)"""
    for name in ("corpus_diff", "corpus_churn"):
        plan = _plan(spark, sf_dir, name)
        exchanges = [
            ln for ln in plan.splitlines() if "Exchange" in ln
        ]
        assert exchanges, name
        assert all("text" not in ln for ln in exchanges), (name, exchanges)


def test_spread_runs_no_job_on_an_exchanged_input(spark, tmp_path):
    """``spread()`` decides from the plan, never by running it: an input
    with an upstream aggregate is repartitioned with no Spark job at
    construct time, and a single-split scan keeps the partition-count
    check (which reads only file splits) and is spread the same way."""
    from pyspark.sql import functions as F

    from youtube_podcast_data_pipeline_azure_spark.operators.util import spread

    target = spark.sparkContext.defaultParallelism
    spark.range(0, 500, numPartitions=1).write.parquet(str(tmp_path / "scan"))
    scan = spark.read.parquet(str(tmp_path / "scan"))
    # rows semi-joined to per-key min-id representatives: an aggregate
    # exchange and a broadcast upstream (dedup.py's representative shape)
    reps = scan.groupBy((F.col("id") % 7).alias("k")).agg(F.min("id").alias("id"))
    exchanged = scan.join(reps.select("id"), "id", "left_semi")
    sc = spark.sparkContext
    sc.setJobGroup("spread_construct", "spread_construct")
    try:
        spread_exchanged = spread(exchanged, "id")
        spread_scan = spread(scan, "id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("spread_construct") == []
    for df in (spread_exchanged, spread_scan):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "RepartitionByExpression" in plan and f"], {target}" in plan, plan
    assert sorted(spread_exchanged.collect()) == [(i,) for i in range(7)]
