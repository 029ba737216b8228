"""Physical-plan regression tests — the scale properties the engine relies
on (broadcast joins, parquet predicate pushdown, column pruning, partial
aggregation, top-k without global sort) asserted against explain output so
they can't silently regress into shuffle-heavy plans."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from laposte_data_engineering_jedha_spark import queries as q


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def get(name):
        return plan_text(q.queries()[name](spark, sf_dir))

    return get


def test_flagship_joins_are_broadcast(plans):
    p = plans("pipeline_delay_status")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # the fact table must never shuffle


def test_flagship_prunes_order_columns(plans):
    p = plans("pipeline_delay_status")
    m = re.search(r"ReadSchema: struct<(o_[^>]*)>", p)
    assert m, "orders scan not found"
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"}


def test_q6_predicates_push_to_parquet(plans):
    p = plans("olap_revenue_filter")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert pushed and "l_shipdate" in pushed.group(1)
    assert "l_discount" in pushed.group(1) and "l_quantity" in pushed.group(1)


def test_q1_uses_partial_aggregation(plans):
    p = plans("olap_pricing_summary")
    # two-phase agg: partial (map-side) HashAggregate before the exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_topk_avoids_global_sort(plans):
    p = plans("olap_topk_customers")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_weather_join_is_broadcast(plans):
    p = plans("join_weather_left")
    assert "BroadcastHashJoin LeftOuter" in p


def test_knn_query_side_is_broadcast(plans):
    p = plans("knn_brute_force")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_mix_domains_corpus_never_shuffles(plans):
    """The domain-mix filter is a broadcast join on the corpus side: the
    only Exchange in the plan is the |domains|-row rate aggregate."""
    p = plans("corpus_mix_domains")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    # exactly one shuffle — the per-domain totals agg, never the corpus
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1


def test_rolling_window_single_exchange(plans):
    """Trailing-1h RANGE window: one hash exchange on user_id + local
    sort — no global sort, no extra shuffles."""
    p = plans("events_rolling_1h")
    assert "Window" in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert "rangepartitioning" not in p  # a global sort would be wrong


def test_stream_enrich_dimension_is_broadcast(plans):
    p = plans("stream_enrich_users")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_bucketed_join_avoids_shuffle(spark, sf_dir):
    """Pre-bucketing both sides on the join key makes the join
    exchange-free: the classic co-located join for repeated large-large
    joins (the bucket layout is the shuffle, paid once at write time)."""
    from pyspark.sql import functions as F

    import shutil

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ["t_orders_b", "t_lineitem_b"]:
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)  # orphan locations
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("t_orders_b"))
    (lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("t_lineitem_b"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_lineitem_b").join(
            spark.table("t_orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        p = plan_text(j)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p  # bucket layout replaces the shuffle
        assert j.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ["t_orders_b", "t_lineitem_b"]:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """Date-partitioned layout + date predicate -> partition pruning (the
    scan must show a PartitionFilters entry and read only matching dirs)."""
    from pyspark.sql import functions as F

    from laposte_data_engineering_jedha_spark.queries import events_table
    from laposte_data_engineering_jedha_spark.sources.writers import write_partitioned

    out = str(tmp_path / "events_by_day")
    ev = events_table(spark, sf_dir).withColumn("event_date", F.to_date("ts"))
    write_partitioned(ev, out, ["event_date"])

    back = spark.read.parquet(out).where(F.col("event_date") == "2024-01-05")
    p = plan_text(back)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", p)
    assert m and "event_date" in m.group(1)
    n_days = events_table(spark, sf_dir).select(F.to_date("ts")).distinct().count()
    assert back.count() > 0
    assert back.count() < events_table(spark, sf_dir).count() / max(n_days - 5, 1)


def test_chunk_overlap_no_shuffle(plans):
    p = plans("corpus_chunk_overlap")
    assert "Exchange" not in p  # per-row explode+slice only
    assert "Generate" in p


def test_customer_banding_has_no_global_ntile_window(plans):
    """r8 verdict weak items 2-4 + r9 verdict item 3: the customer-grain
    ntile family bands via ranking.exact_ntile, whose row-count gate
    picks the cheap single-partition window form at fixture scale (the
    grain is far below WINDOW_MAX_ROWS) and the partition-offset form
    above it (asserted branch-by-branch in tests/test_ranking.py).
    Either way the plan must never contain a native ntile window — the
    band split is rank arithmetic in both forms."""
    for name in (
        "olap_customer_quartiles",
        "olap_customer_decile_lift",
        "olap_customer_migration",
    ):
        p = plans(name)
        assert "ntile(" not in p, name  # banding is rank arithmetic now
        # fixture grain is under the gate: the offsets machinery (its
        # sampling pass + offsets action) must NOT be paid here
        assert "__rank_pid" not in p, name


def test_prefix_sum_and_rank_migrations_are_gated(plans):
    """The round-9 second wave (olap_abc_classification part-grain
    cumulative sum, corpus_ngram_coverage vocab-grain rank,
    embedding_triplet_violation_rate vec-grain rank) goes through the
    gated ranking operators: at fixture scale the gate picks the window
    form (no __rank_pid machinery), above WINDOW_MAX_ROWS the
    partition-offset form (tests/test_ranking.py pins both branches).
    What must never regress: the queries route through
    operators/ranking.py rather than hand-rolled global windows — pinned
    here by the gate's signature fixture-scale plan shape."""
    for name in (
        "olap_abc_classification",
        "corpus_ngram_coverage",
        "embedding_triplet_violation_rate",
    ):
        p = plans(name)
        assert "__rank_pid" not in p, name  # gate picked the window form
    # abc's prefix sums never materialize a row_number
    p = plans("olap_abc_classification")
    assert "row_number" not in p


def test_vocab_first_seen_has_no_window_at_all(plans):
    """r8 verdict weak item 1: corpus_vocab_first_seen's doc-grain global
    row_number is gone — prefix membership tests min(doc_id) against 4
    broadcast order-statistic thresholds, so the returned plan contains
    NO Window operator (the thresholds are the ranking.global_ranks rows
    at the prefix sizes, collected while the plan is built)."""
    p = plans("corpus_vocab_first_seen")
    assert "Window" not in p
    assert "BroadcastNestedLoopJoin" in p  # the 4-row threshold relation


def test_weighted_sample_uses_topk_not_global_sort(plans):
    p = plans("corpus_weighted_sample")
    assert "TakeOrderedAndProject" in p
    assert "rangepartitioning" not in p


def test_shard_shuffle_single_bounded_exchange(plans):
    import re as _re

    p = plans("corpus_shard_shuffle")
    assert "Window" in p
    # one hash exchange on the shard key; never a global range sort
    assert len(_re.findall(r"\(\d+\) Exchange\b", p)) == 1
    assert "rangepartitioning" not in p


def test_funnel_single_user_exchange(plans):
    import re as _re

    p = plans("events_funnel")
    # chained stage windows reuse one hash partitioning on user_id
    assert len(_re.findall(r"hashpartitioning\(user_id", p)) >= 1
    assert "rangepartitioning" not in p


def test_embedding_quantize_no_shuffle(plans):
    p = plans("embedding_quantize")
    assert "Exchange" not in p


def test_retention_copartitions_on_user(plans):
    import re as _re

    p = plans("events_retention_cohorts")
    # Invariant bounds, not exact counts (exact Exchange tallies are
    # brittle across Spark versions / AQE / conf — round-3 advice item):
    # both user-keyed inputs may partition on user_id but the join must
    # not add a third user exchange; total exchanges stay within the two
    # user-side ones + the final (cohort, offset) aggregate; and nothing
    # introduces a global range sort.
    assert 1 <= len(_re.findall(r"hashpartitioning\(user_id", p)) <= 2
    assert len(_re.findall(r"\(\d+\) Exchange\b", p)) <= 3
    assert "rangepartitioning" not in p


def test_grouping_sets_single_scan_expand(plans):
    import re as _re

    p = plans("olap_grouping_sets")
    assert "Expand" in p  # grouping-set expansion is map-side
    # at most the one final-aggregate exchange; never a range sort
    assert len(_re.findall(r"\(\d+\) Exchange\b", p)) <= 1
    assert "rangepartitioning" not in p


def test_zscore_stats_are_broadcast(plans):
    p = plans("events_anomaly_zscore")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_rarity_uses_partial_aggregation(plans):
    p = plans("text_rarity")
    assert p.count("HashAggregate") >= 4  # partial+final for both groupBys


def test_knn_graph_bucket_smj_no_cartesian(spark, sf_dir):
    """At corpus scale neither side of the graph self-join can broadcast;
    with broadcast disabled the join must be a bucket-keyed sort-merge
    join — never a cartesian/range plan — and (round-5 fix for SCALE.md
    finding 11) BOTH aliases must read the persisted banded projection, so
    the Arrow kernels compute exactly once (inside the cache build).

    Since canChangeCachedPlanOutputPartitioning=true (r13 optimization,
    session.py) the cached plan compiles under AQE, so consumers can no
    longer STATICALLY rely on its (band, key) output partitioning and
    EnsureRequirements re-shuffles the cached rows at the join. That
    re-shuffle moves the narrow (id, band, key, vec) projection — never
    re-runs the kernels — and the conf's broad win (-19% on the 36-query
    experiment, OPTIMIZATION_r13.md) was measured against exactly this
    trade. The assertions pin what still matters at 100 TB: kernels once,
    both aliases cache-hit, and any (band, key) ENSURE_REQUIREMENTS
    exchange reads the CACHE (TableCacheQueryStage / InMemoryTableScan
    within its immediate children), not a recomputed kernel pipeline.
    Inspection runs against the df's own EXECUTED adaptive plan
    (collect(), then executedPlan — count() would execute a different
    QueryExecution and leave this one un-finalized)."""
    import re as _re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = q.queries()["knn_graph"](spark, sf_dir)
        df.collect()
        p = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.catalog.clearCache()
    assert "isFinalPlan=true" in p
    assert "SortMergeJoin" in p
    assert p.count("InMemoryTableScan") >= 2  # both join aliases hit the cache
    # kernels once: every ArrowEvalPython in the string is a reprint of
    # the SAME cached pipeline (same expression ids). A side that stopped
    # cache-hitting re-plans the kernel pipeline per reference, which
    # mints a FRESH expression id for the same kernel shape — that is the
    # regression this test exists to catch (SCALE.md finding 11).
    sigs = set(_re.findall(r"ArrowEvalPython \[([^\]]*)\]", p))
    shapes = {_re.sub(r"#\d+", "", s) for s in sigs}
    assert len(sigs) == len(shapes), f"duplicated kernel pipeline(s): {sorted(sigs)}"
    assert "Cartesian" not in p and "rangepartitioning" not in p


def test_bloom_probe_is_broadcast(plans):
    p = plans("corpus_bloom_contains")
    assert "BroadcastHashJoin" in p  # the <=32-row bitmap ships broadcast


def test_pq_adc_scan_is_single_codes_pass_with_windowed_topk(plans):
    """PQ/ADC search (pq_adc_topk_pinned): the corpus must be read ONCE
    (as 2-byte codes), the tiny query side must broadcast into the
    distance kernel, and top-k must run as WindowGroupLimit (rank pushed
    into the shuffle), never a global sort or a shuffled join — the plan
    that makes a 100 TB codes scan the only heavy term."""
    p = plans("pq_adc_topk_pinned")
    # one scalar query fan-out for the ADC scan + (depending on the AQE
    # snapshot) one for the exact re-rank — both broadcast-of-tiny; what
    # must never appear is a shuffled or cartesian corpus join
    assert 1 <= p.count("BroadcastNestedLoopJoin") <= 2
    assert "BroadcastExchange" in p
    assert "WindowGroupLimit" in p  # per-query top-k without global sort
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_decontaminate_sem_eval_side_broadcasts(plans):
    """Semantic decontamination: the held-out eval side is contractually
    tiny, so the (band, key) bucket join must be a BroadcastHashJoin with
    the eval side built — a sort-merge bucket join here would shuffle the
    full training corpus per band; so would a cartesian fallback."""
    p = plans("corpus_decontaminate_sem")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    # the verify stage re-attaches vectors by id — also broadcast (eval
    # and candidate sides are both small relative to the corpus)
    assert p.count("BroadcastHashJoin") >= 2


def test_sem_chain_shares_cached_prefix(plans):
    """corpus_clean_pipeline_sem (round-6 prefix-sharing fix): the
    survivor set (kept2) and the minhash signature relation must be
    InMemoryRelations — each referencing branch reads the cache instead
    of re-running the quality+lang+exact prefix (PythonUDF subtrees never
    canonicalize equal, so without the caches the prefix would execute
    4x). The embedding LSH src is the third cached projection."""
    p = plans("corpus_clean_pipeline_sem")
    assert p.count("InMemoryRelation") >= 3  # kept2 + sigs + emb src
    assert "CartesianProduct" not in p


def test_clean_pipeline_exact_dedup_is_single_window_pass(plans):
    """corpus_clean_pipeline: exact dedup must be the one-exchange window
    formulation (WindowGroupLimit rank-1 per md5 key), not a groupBy-min
    plus join-back (two exchanges + a join); the minhash signature
    relation is cached for its three references."""
    p = plans("corpus_clean_pipeline")
    assert "WindowGroupLimit" in p
    assert p.count("InMemoryRelation") >= 1  # minhash sigs
    assert "CartesianProduct" not in p


def simple_plan(spark, sf_dir, name):
    df = q.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_basket_affinity_broadcasts_dims_single_pair_smj(spark, sf_dir):
    """olap_basket_affinity's scale contract: the part dim and the three
    stats sides are BROADCAST (lineitem never shuffles for them) and the
    ONLY shuffle join is the per-order pair self-join — whose fan-out is
    bounded by the basket's own brand count, the one join that genuinely
    cannot broadcast at 100 TB. The order-total crossJoin must stay a
    broadcast nested loop of a 1-row side."""
    p = simple_plan(spark, sf_dir, "olap_basket_affinity")
    assert "BroadcastHashJoin" in p
    assert p.count("SortMergeJoin") <= 1  # only the per-order pair stage
    assert p.count("BroadcastNestedLoopJoin") <= 1  # scalar order total
    # lineitem scan pruned to exactly the two join/grain columns
    m = re.search(r"ReadSchema: struct<(l_[^>]*)>", p)
    assert m and {c.split(":")[0] for c in m.group(1).split(",")} == {
        "l_orderkey",
        "l_partkey",
    }


def test_cross_source_dupes_df_cap_in_plan(spark, sf_dir):
    """corpus_cross_source_dupes' quadratic guard: the document-frequency
    cap (2 <= nd <= 32) must appear as a Filter over the per-key distinct
    count BEFORE the pair join — without it a boilerplate passage shared
    by K docs fans out K^2 pairs (the hot-cell lesson). Also: no sort-merge
    or cartesian anywhere (both pair sides arrive hash-partitioned on k)."""
    p = simple_plan(spark, sf_dir, "corpus_cross_source_dupes")
    assert re.search(r"Filter \(\(nd#\d+L? >= 2\) AND \(nd#\d+L? <= 32\)\)", p), p[:1500]
    assert "CartesianProduct" not in p


def test_knn_label_accuracy_single_scan_no_join(spark, sf_dir):
    """embedding_knn_label_accuracy must stay ONE Arrow mapInPandas corpus
    scan (probe matrix in the kernel closure) + a min-struct aggregate —
    any Join/extra MapInPandas appearing means the 252 s -> 7.6 s gemm
    rewrite regressed to a join- or HOF-shaped plan."""
    p = simple_plan(spark, sf_dir, "embedding_knn_label_accuracy")
    assert p.count("MapInPandas") == 1
    for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
               "CartesianProduct"):
        assert op not in p
    assert "HashAggregate" in p


def test_target_encoding_stats_side_broadcasts(spark, sf_dir):
    """The |event_types|-row LOO stats must broadcast back onto the event
    stream — the fact table never shuffles for the encode join."""
    p = simple_plan(spark, sf_dir, "events_target_encoding")
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p


def test_asof_nearest_two_carries_one_id_join(spark, sf_dir):
    """Nearest as-of = the two union-sort-carry windows reconciled on the
    left id — NEVER a range/nested-loop join: exactly 2 Windows, the
    reconcile join, and no nested-loop anywhere."""
    p = simple_plan(spark, sf_dir, "events_asof_nearest_error")
    assert p.count("Window") == 2
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_bot_detection_single_user_exchange(spark, sf_dir):
    """Burst window, lag, and the rollup must share ONE user_id hash
    exchange."""
    p = simple_plan(spark, sf_dir, "events_bot_detection")
    assert p.count("Exchange") == 1 and p.count("Window") == 1


def test_bpe_merge_single_winner_broadcast(spark, sf_dir):
    """The BPE step's only join is the broadcast of the 1-row winning
    pair into the vocab-grain merge (a SMJ or second join would mean the
    word-frequency-table rewrite regressed to corpus grain)."""
    p = simple_plan(spark, sf_dir, "text_bpe_merge_step")
    assert p.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_nation_share_momentum_broadcasts_dims_no_fact_smj(spark, sf_dir):
    """Round-7 heavy hitter (VERDICT r7 item 8): the nation-share rollup
    must aggregate lineitem ONCE with the supplier/nation dims BROADCAST —
    a SortMergeJoin on the fact path would reshuffle 6M+ rows at bench
    scale (and the whole fact table at 100 TB) for two tiny dims."""
    p = simple_plan(spark, sf_dir, "olap_nation_share_momentum")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_shingle_df_profile_aggregates_hashes_not_strings(spark, sf_dir):
    """corpus_shingle_df_profile must profile over the Arrow shingle-HASH
    relation: the plan carries the pandas kernel (ArrowEvalPython) and no
    join at all — the df-profile is one hash-keyed aggregate chain. A
    string-shingle expression regression measured 25x slower (SCALE.md)."""
    p = simple_plan(spark, sf_dir, "corpus_shingle_df_profile")
    assert "ArrowEvalPython" in p
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in p


def test_ivf_cell_balance_is_kernel_scan_plus_broadcast_rollup(spark, sf_dir):
    """embedding_ivf_cell_balance: assignment must be the Arrow
    nearest-centroid kernel (ArrowEvalPython; the Catalyst fold measured
    26x slower at 400k vectors, SCALE.md) and the corpus-wide stats side
    must broadcast back into the 16-row cell relation — never a shuffle
    join."""
    p = simple_plan(spark, sf_dir, "embedding_ivf_cell_balance")
    assert "ArrowEvalPython" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def test_pinned_fold_twins_run_arrow_kernels(spark, sf_dir):
    """The r8 fold-kernel swap must not regress: every pinned PQ/IVF twin
    plans the Arrow kernel (ArrowEvalPython), and the ADC search keeps
    its codes-side scan + broadcast query build."""
    for name in (
        "embedding_pq_encode_pinned",
        "ivf_assign_pinned",
        "pq_adc_topk_pinned",
        "ivf_knn",
    ):
        p = simple_plan(spark, sf_dir, name)
        assert "ArrowEvalPython" in p, name
        assert "CartesianProduct" not in p, name
    p = simple_plan(spark, sf_dir, "pq_adc_topk_pinned")
    assert "BroadcastNestedLoopJoin" in p  # broadcast query-table build


@pytest.fixture(scope="module")
def registry_dfs(spark, sf_dir):
    """Every registered query built ONCE (construction is the expensive
    part for the eager-fit queries, and building a streaming query runs
    its availableNow job) and shared by the blanket registry guardrails
    below."""
    return {name: fn(spark, sf_dir) for name, fn in q.queries().items()}


def test_no_registered_query_plans_a_cartesian_product(registry_dfs):
    """Blanket scale guardrail: NO registered query may compile to a
    CartesianProduct — every cross join in the registry is a broadcast
    of a contractually-tiny side (scalar totals, k-row centroid tables),
    which AQE/planner must render as BroadcastNestedLoopJoin. A
    CartesianProduct appearing anywhere means a scalar side silently
    grew or lost its broadcast and would be a full N x M shuffle at
    100 TB. (The r12 sweep caught exactly one — embedding_cosine_histogram's
    pair-level hash gate planned as a nested-loop cartesian — only after
    it hit the 300 s watchdog at sf1; this lint fails the suite the day
    such a plan is written instead.)"""
    offenders = []
    for name, df in registry_dfs.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_registry_returns_atomic_columns_only(registry_dfs):
    """Blanket driver-contract guardrail: every registered query must
    return ATOMIC top-level columns — no array/map/struct. External
    drivers canonicalize results (including rows-only output) through a
    pandas sort/hash, and a list-typed column is unhashable there: the one
    red row in CORRECTNESS_r06 was `embedding_pq_codes` returning
    `codes array<int>` ("unhashable type: 'list'"). Operators may return
    nested types; REGISTERED projections must unpack or concat_ws them."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    offenders = []
    for name, df in registry_dfs.items():
        for field in df.schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert offenders == []


def test_partitioned_roundtrip_prunes_partitions(spark, sf_dir):
    """src_partitioned_roundtrip's read side must carry the event_type
    predicate as a PartitionFilter on the scan (directory pruning), not a
    post-scan Filter — the entire point of the partitioned layout."""
    from laposte_data_engineering_jedha_spark.queries import io as qio

    df = qio.src_partitioned_roundtrip(spark, sf_dir)
    plan = plan_text(df)
    assert re.search(r"PartitionFilters: \[.*event_type.*purchase", plan), plan[:2000]


def test_bloom_prune_fact_side_never_shuffles(plans):
    """olap_bloom_join_prune: the Bloom bit set and the dim key set ride
    broadcasts — the orders fact side must join without a SortMergeJoin
    and the selective c_acctbal predicate must reach the customer scan."""
    p = plans("olap_bloom_join_prune")
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
    assert any("c_acctbal" in s for s in pushed)


def test_gap_report_is_block_aggregate_only(plans):
    """dq_sequential_gap_report: block-grain hash aggregates — no
    window, no join, no sort; exactly the two exchanges of the standard
    distinct-count expand ((block, event_id) partial, then block), both
    partial-aggregated map-side."""
    p = plans("dq_sequential_gap_report")
    assert "Window" not in p and "Join" not in p and "Sort" not in p
    assert len(re.findall(r"\(\d+\) Exchange\b", p)) == 2


def test_theta_sketch_windows_are_scope_partitioned(plans):
    """sketch_theta_intersection: every k-min selection window
    partitions by scope (+ hash bucket for level 1) — never a
    single-partition window over a user set — and the sketch-side joins
    stay broadcast (the only SinglePartition exchanges feed 1-row
    scalar aggregates)."""
    p = plans("sketch_theta_intersection")
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and all(s == "scope" for s in specs), specs
    assert "SortMergeJoin" not in p
