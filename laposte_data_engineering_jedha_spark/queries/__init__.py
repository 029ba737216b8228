"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a
`(spark, sf_dir) -> DataFrame` callable plus (where SQL-expressible) a
DuckDB oracle twin. `__spark_entry__.py` re-exports `queries()` /
`oracle_sql()` from this package.

Cross-engine determinism rules (so the driver's order-insensitive
value-hash matches bit-for-bit):

- 2-decimal rounding uses `round(x * 100) / 100` on BOTH sides (see
  exprs.round2). Engine-native `round(x, 2)` on doubles diverges between
  Spark (HALF_UP on the shortest decimal repr, e.g. 1.005 -> 1.01) and
  DuckDB (1.005 -> 1.0); at scale 0 both engines agree for every double.
- numeric literals in oracle SQL are CAST to DOUBLE (DuckDB parses bare
  `1.2` as DECIMAL, which changes result types and rounding paths).
- every computed column is aliased identically in the DataFrame code and
  the SQL.
- arithmetic is written in the same association order on both sides.
- queries that LIMIT must sort on a unique key first (Spark row order is
  not deterministic across partitions).

Submodules:
    parity      — SURVEY.md §2 reference-parity operators
    llmops      — 100 TB-scale extensions (dedup, similarity, text, …)
"""

from __future__ import annotations

import os

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exprs

QueryFn = Callable[[SparkSession, str], DataFrame]

SPARK_QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        # a duplicate registration would silently REPLACE an existing
        # query + oracle (dict overwrite) — caught live in round 8 when a
        # new batch reused an existing name; fail loudly at import instead
        if name in SPARK_QUERIES:
            raise ValueError(f"duplicate query registration: {name!r}")
        SPARK_QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Make a FOREIGN SparkSession (e.g. the driver harness's own) safe for
    this registry: the events parquet needs the nanos-as-long legacy read,
    and timestamp semantics assume a UTC session. Both are runtime-settable
    SQL confs; our own session factory already sets them at build time."""
    for key, value in [
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ]:
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:  # pragma: no cover - static-conf builds
            pass


# schema memo for table(): (resolved path, mtime_ns, size) -> inferred schema.
# r14 optimization (guide §1.2 — the same footer-metadata family as
# table_rowcount): schema INFERENCE re-reads the parquet footer and pays a
# py4j DataSource-resolution round trip on EVERY table() call — measured
# 0.084 s vs 0.014 s with an explicit schema, and the bench pays it once
# per table per timed run (~2 reads/query x 379 queries). The memo caches
# only the INFERRED SCHEMA (immutable metadata of the file, keyed on
# mtime+size so a rewritten fixture re-infers); every run still scans the
# parquet data in full — no rows, plans, or results are reused across runs.
# At 100 TB the same declare-don't-infer discipline is what keeps a
# many-query session off the footer-read path.
_SCHEMA_MEMO: dict[tuple[str, int, int], object] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if not os.path.isfile(path):
        # directory tables / remote paths: a dir's mtime+size does not
        # track rewrites of the files inside it — always infer
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    sch = _SCHEMA_MEMO.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = sch
    return spark.read.schema(sch).parquet(path)


# matches the session default for spark.sql.files.maxPartitionBytes (128 MiB,
# unchanged in session.py); used to ESTIMATE scan parallelism without forcing
# a plan conversion per query
_MAX_PARTITION_BYTES = 128 << 20

# test-only override of every spread site's min_bytes floor (VERDICT r13
# item 7: the floors mean the sf0.01/sf0.001 oracle gates never execute the
# repartitioned branch). Set to 0 in tests to force the spread branch at the
# correctness SFs and hash-compare against the oracle; None in production.
_SPREAD_MIN_BYTES_OVERRIDE: int | None = None


def spread_scan(
    df: DataFrame,
    spark: SparkSession,
    input_bytes: int,
    *,
    min_bytes: int = 4 << 20,
    key: str | None = None,
) -> DataFrame:
    """Scale-adaptive scan spreading (optimization guide §2.5: a single
    unsplittable input file is input skew — repartition immediately after
    the read).

    The bench inputs are single-file, single-ROW-GROUP parquet, so every
    scan stage is ONE task regardless of core count, and heavy per-row map
    work downstream (md5 ladders, tokenization, Arrow UDF batches) serializes
    on one core while the rest idle.  Redistribute across the session
    parallelism only when BOTH hold:

    - the file is too small for Spark to split itself (estimated scan
      parallelism below the core count).  At production scale inputs span
      many files / row groups, the estimate exceeds the core count and this
      is a no-op — the gate is derived from input size, not tuned to either
      local mode or a cluster;
    - the input is at least ``min_bytes``, so per-core slices stay
      substantial and the exchange is worth its cost.  The correctness SFs
      (0.001/0.01) sit below every call site's floor, which also preserves
      the sequential map-side fold order the bit-exact float oracle contract
      relies on; call sites that feed float folds must stay order-free
      (integer/xor/hash algebra) past this point.

    ``key``: optional high-cardinality column to hash-partition on —
    deterministic under task retry and skips round-robin's
    sort-before-repartition pass; omit for round-robin.
    """
    if _SPREAD_MIN_BYTES_OVERRIDE is not None:
        min_bytes = _SPREAD_MIN_BYTES_OVERRIDE
    n = spark.sparkContext.defaultParallelism
    est_scan_parts = input_bytes // _MAX_PARTITION_BYTES + 1
    if est_scan_parts >= n or input_bytes < min_bytes:
        return df
    return df.repartition(n, key) if key else df.repartition(n)


def spread_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *,
    min_bytes: int = 4 << 20,
    key: str | None = None,
) -> DataFrame:
    """``table()`` + :func:`spread_scan` gated on the parquet file's on-disk
    size (free: no Spark job, no plan conversion)."""
    df = table(spark, sf_dir, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.isfile(path):
        return df
    return spread_scan(df, spark, os.path.getsize(path), min_bytes=min_bytes, key=key)


def sort_report(df: DataFrame, *cols) -> DataFrame:
    """Total order for the OUTPUT OF A GROUP-BY AGGREGATE WITH CONSTANT
    CARDINALITY without a range exchange (r14, guide §2.4 "an orderBy
    used only to make output deterministic"):
    `coalesce(1).sortWithinPartitions(...)` produces the identical global
    order — one partition, fully sorted — while a final `orderBy` plans
    Exchange(rangepartitioning) plus its bounds-sampling job on every run.

    ONLY valid when `df` is a groupBy/agg whose key has a constant number
    of values (event types, segments, digits, bands, fixed histogram
    buckets). coalesce(1) is a narrow dependency, so it caps the WHOLE
    final stage at one task, not just the output: after such an
    aggregate that stage is the constant-size merge (the map-side
    partial aggregation still runs wide), which is right at any corpus
    scale. Anything else — a window, filter, join or top-k over a
    corpus-proportional relation, even one whose output is small — would
    run that work in a single task, and keeps orderBy. Same
    single-partition total-order construction as the r13 kcore audit
    emission."""
    return df.coalesce(1).sortWithinPartitions(*cols)


def table_rowcount(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Exact row count of an input table, read from the parquet FOOTER
    metadata when the input is the single file the bench/driver layout
    uses (no Spark job, ~1 ms) and from a count() job otherwise.

    r13 optimization (guide §1.2): the count-derived auto gates
    (auto_band_planes, the LP/triangles cap switches, the cosine-histogram
    rate) re-ran a full count() JOB every execution — measured ~0.22 s of
    plan-compile + job overhead per query run for a number that is a pure
    property of the INPUT file. Footer num_rows is exactly count() for
    parquet (both engines derive the same value), so every gate stays
    bit-identical; non-file inputs (test fixtures substituting `table`,
    partitioned dirs) keep the count() path.

    Monkeypatch caveat (ADVICE r13): a test that substitutes `table`
    while `{sf_dir}/{name}.parquet` still EXISTS on disk gets the file's
    footer count, not the substituted DataFrame's — substitute the file
    path (tmp dir) or patch this function too when the fixture changes
    row counts."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        try:
            import pyarrow.parquet as pq

            return int(pq.ParquetFile(path).metadata.num_rows)
        except Exception:  # pragma: no cover - corrupt footer/odd codec
            pass
    return table(spark, sf_dir, name).count()


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` as a proper TimestampType.

    The driver writes `ts` as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects; with `spark.sql.legacy.parquet.nanosAsLong`
    (set in the session factory) it arrives as nanos-since-epoch LongType.
    `div 1000` truncates to micros — bit-identical to DuckDB's ns->us read
    path (truncation, not rounding; verified empirically)."""
    df = table(spark, sf_dir, "events")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Micros-precision parquet arrives as TIMESTAMP_NTZ (inferTimestampNTZ);
        # functions like unix_micros require TIMESTAMP. Under the UTC session
        # timezone the cast is value-preserving.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# --- shared SQL fragment builders (keep CASE chains in lockstep) ------------


def sql_str_case(col: str, mapping: Mapping[str, str], default: str) -> str:
    arms = " ".join(f"WHEN {col} = '{k}' THEN '{v}'" for k, v in mapping.items())
    return f"CASE {arms} ELSE '{default}' END"


def sql_num_case(col: str, mapping: Mapping[str, float], default: float) -> str:
    arms = " ".join(
        f"WHEN {col} = '{k}' THEN CAST({v!r} AS DOUBLE)" for k, v in mapping.items()
    )
    return f"CASE {arms} ELSE CAST({default!r} AS DOUBLE) END"


def sql_round2(x: str) -> str:
    """SQL twin of exprs.round2 — the cross-engine 2-decimal convention."""
    return f"round(({x}) * 100) / 100"


SQL_WEEKDAY_NAME = (
    "CASE isodow({ts}) "
    + " ".join(f"WHEN {i} THEN '{n}'" for i, n in exprs.WEEKDAY_NAMES.items())
    + " END"
)

SQL_WEATHER_FACTOR = (
    "CASE WHEN {c} IS NULL THEN CAST(1.0 AS DOUBLE) "
    "WHEN regexp_matches({c}, '(?i)rain|drizzle') THEN CAST(1.2 AS DOUBLE) "
    "WHEN regexp_matches({c}, '(?i)snow|blizzard|sleet') THEN CAST(1.8 AS DOUBLE) "
    "WHEN regexp_matches({c}, '(?i)fog|mist') THEN CAST(1.1 AS DOUBLE) "
    "ELSE CAST(1.0 AS DOUBLE) END"
)

SQL_PEAK_FACTOR = (
    "CASE WHEN {h} BETWEEN 7 AND 9 THEN CAST(1.3 AS DOUBLE) "
    "WHEN {h} BETWEEN 17 AND 19 THEN CAST(1.4 AS DOUBLE) "
    "ELSE CAST(1.0 AS DOUBLE) END"
)

SQL_DAY_FACTOR = (
    "CASE WHEN {w} IN ('Monday', 'Friday') THEN CAST(1.2 AS DOUBLE) "
    "WHEN {w} IN ('Saturday', 'Sunday') THEN CAST(0.9 AS DOUBLE) "
    "ELSE CAST(1.0 AS DOUBLE) END"
)


def sql_theoretical(
    dist: str = "Distance",
    pkg: str = "Package_Type",
    zone: str = "Delivery_Zone",
    hour: str = "Hour",
    weekday: str = "Weekday",
    weather: str = "Weather_Condition",
) -> str:
    """SQL twin of exprs.theoretical_time — same association order."""
    return (
        f"(CAST(30.0 AS DOUBLE) + {dist} * CAST(0.8 AS DOUBLE))"
        f" * {sql_num_case(pkg, exprs.PACKAGE_FACTORS, 1.0)}"
        f" * {sql_num_case(zone, exprs.ZONE_FACTORS, 1.0)}"
        f" * {SQL_PEAK_FACTOR.format(h=hour)}"
        f" * {SQL_DAY_FACTOR.format(w=weekday)}"
        f" * {SQL_WEATHER_FACTOR.format(c=weather)}"
    )


# --- deliveries view over the driver's TPC-H-ish tables ----------------------
#
# The reference's "deliveries" table doesn't exist in /root/testdata, so the
# parity queries derive a deterministic deliveries view from
# orders ⟕ customer (SURVEY.md §7.1): every mapping is pure arithmetic /
# CASE on o_orderkey so the DuckDB oracle reproduces it exactly.

PRIORITY_TO_PACKAGE = {
    "1-URGENT": "Special",
    "2-HIGH": "Extra Large",
    "3-MEDIUM": "Medium",
    "4-NOT SPECIFIED": "Small",
    "5-LOW": "Large",
}
SEGMENT_TO_ZONE = {
    "AUTOMOBILE": "Urban",
    "BUILDING": "Suburban",
    "FURNITURE": "Rural",
    "MACHINERY": "Industrial",
    "HOUSEHOLD": "Shopping Center",
}

# 9 conditions exercising every weather-factor regex arm (incl. the
# "drizzle hits the rain arm first" subtlety, core/transform.py:164-170).
WEATHER_CONDITIONS = [
    "Sunny",
    "Clear",
    "Partly cloudy",
    "Light rain",
    "Patchy light drizzle",
    "Heavy snow",
    "Blizzard",
    "Fog",
    "Mist",
]
_WEATHER_EPOCH = "1990-01-01"


def deliveries_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 6-column deliveries view from orders ⟕ customer.

    customer is the small side -> broadcast (zero shuffle on orders at any
    scale)."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    k = F.col("o_orderkey")
    pickup = F.timestamp_add(
        "MINUTE", (k % 60).cast("int"), F.timestamp_add("HOUR", (k % 24).cast("int"), F.col("o_orderdate"))
    )
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey, "left")
        .select(
            exprs.sequential_string_id(k).alias("Delivery_ID"),
            pickup.alias("Pickup_DateTime"),
            F.timestamp_add("MINUTE", (F.lit(20) + (k % 341)).cast("int"), pickup).alias(
                "Delivery_Timestamp"
            ),
            exprs.dict_map_strict("o_orderpriority", PRIORITY_TO_PACKAGE, "Small").alias(
                "Package_Type"
            ),
            (F.lit(1) + (k % 4900) / F.lit(100.0)).alias("Distance"),
            exprs.dict_map_strict("c_mktsegment", SEGMENT_TO_ZONE, "Urban").alias(
                "Delivery_Zone"
            ),
        )
    )


SQL_DELIVERIES_CTE = f"""
deliveries AS (
  SELECT
    'SC' || CAST(o_orderkey + 1000 AS VARCHAR) AS Delivery_ID,
    o_orderdate + to_hours(o_orderkey % 24) + to_minutes(o_orderkey % 60)
      AS Pickup_DateTime,
    o_orderdate + to_hours(o_orderkey % 24) + to_minutes(o_orderkey % 60)
      + to_minutes(20 + (o_orderkey % 341)) AS Delivery_Timestamp,
    {sql_str_case('o_orderpriority', PRIORITY_TO_PACKAGE, 'Small')} AS Package_Type,
    1 + (o_orderkey % 4900) / CAST(100.0 AS DOUBLE) AS Distance,
    {sql_str_case('c_mktsegment', SEGMENT_TO_ZONE, 'Urban')} AS Delivery_Zone
  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
)"""


def synthetic_weather(spark: SparkSession, deliveries: DataFrame) -> DataFrame:
    """Deterministic hourly weather dim over the distinct pickup dates —
    stands in for the reference's WeatherAPI side table (same shape as
    core/transform.py:82-85). (k % 11) rows are dropped to exercise the
    left join's unmatched-null path."""
    dates = deliveries.select(exprs.date_of("Pickup_DateTime").alias("date")).distinct()
    hours = spark.range(24).select(F.col("id").cast("int").alias("Hour"))
    k = F.datediff(F.col("date"), F.lit(_WEATHER_EPOCH).cast("date")) * 24 + F.col("Hour")
    return (
        dates.crossJoin(hours)
        .withColumn("k", k)
        .where(F.col("k") % 11 != 0)
        .select(
            "date",
            "Hour",
            F.element_at(
                F.array(*[F.lit(c) for c in WEATHER_CONDITIONS]), (F.col("k") % 9 + 1).cast("int")
            ).alias("Weather_Condition"),
        )
    )


_SQL_WX_LIST = "[" + ", ".join(f"'{c}'" for c in WEATHER_CONDITIONS) + "]"
SQL_WEATHER_CTE = f"""
wx AS (
  SELECT date, CAST(h.range AS INTEGER) AS Hour,
         ({_SQL_WX_LIST})[
           (datediff('day', DATE '{_WEATHER_EPOCH}', date) * 24 + h.range) % 9 + 1
         ] AS Weather_Condition
  FROM (SELECT DISTINCT CAST(Pickup_DateTime AS DATE) AS date FROM deliveries)
  CROSS JOIN range(0, 24) h
  WHERE (datediff('day', DATE '{_WEATHER_EPOCH}', date) * 24 + h.range) % 11 <> 0
)"""


def with_deliveries(body: str, weather: bool = False) -> str:
    """Wrap a SQL body with the deliveries (and optionally weather) CTEs."""
    ctes = SQL_DELIVERIES_CTE.strip()
    if weather:
        ctes += ",\n" + SQL_WEATHER_CTE.strip()
    return f"WITH {ctes}\n{body}"


# --- driver contract exports --------------------------------------------------
#
# The driver hash-checks only the FIRST 50 registered queries (dict insertion
# order — CORRECTNESS_r02 truncated at 50 of 67). With 100 registered Op-IDs
# the window is a priority decision, made explicit here and ROTATED per round
# so every oracle-eligible query earns a hard driver CORRECTNESS row across
# consecutive rounds:
#
#   round 3 window — the SURVEY §2 parity surface (24 parity exprs, 12 olap,
#     6 io round-trips, 8 core llmops): ALL 50 green in CORRECTNESS_r03.json.
#   round 4 window — the 47 oracle-eligible queries past slot 50 in round 3
#     plus the 3 rows-only ops: ALL 50 green in CORRECTNESS_r04.json.
#   round 5 window (this ordering) — the 50 oracle-bearing ROUND4_ADDED
#     queries (replica-gate-only until now). The r3/r4-proven sets move past
#     the window; ROUND5_DEFERRED queues for round 6.
#
# Everything outside the window keeps full oracle coverage via the in-repo
# replica gate (tests/test_oracle_parity.py runs ALL registered oracles at
# sf0.001) and is benched per-round by bench.py.

# Round-3 window: externally hash-verified by CORRECTNESS_r03.json (50/50
# green); now past the window, covered by the in-repo replica gate.
ROUND3_VERIFIED = [
    # parity (SURVEY §2.3–§2.6) — 24
    "pipeline_delay_status",
    "expr_ts_diff",
    "expr_minutes",
    "expr_mmss_display",
    "expr_hour",
    "expr_weekday_name",
    "expr_date",
    "expr_dict_map_strict",
    "expr_between",
    "expr_isin",
    "expr_regex_ci",
    "expr_theoretical",
    "expr_status",
    "expr_null_lit",
    "expr_str_id",
    "proj_with_columns",
    "proj_drop",
    "join_weather_left",
    "agg_ndistinct_dates",
    "agg_distinct_collect",
    "agg_count_shape",
    "agg_is_empty",
    "setop_concat",
    "limit_preview",
    # olap suite — 12
    "olap_pricing_summary",
    "olap_revenue_filter",
    "olap_topk_customers",
    "join_semi_open_orders",
    "join_anti_customers_no_orders",
    "setop_intersect_repeat_buyers",
    "setop_except_lapsed_buyers",
    "olap_rollup_revenue",
    "olap_cube_counts",
    "events_pivot_type_counts",
    "olap_above_class_avg",
    "olap_monthly_top_supplier",
    # io round-trips (SURVEY §2.1/§2.2) — 6
    "src_csv_roundtrip",
    "src_json_roundtrip",
    "src_parquet_roundtrip",
    "src_sqlite_roundtrip",
    "src_xlsx_roundtrip",
    "src_weather_flatten",
    # llmops core — 8
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "corpus_clean_pipeline",
    "knn_lsh",
    "events_sessionize",
    "events_asof_last_purchase",
    "events_sketch_aggregates",
]

# Round-4 additions. In round 4 these sat past the 50-slot window (replica
# gate only); in round 5 the first 50 oracle-bearing entries of this list
# ARE the window. The two rows-only entries (embedding_pq_codes,
# stream_funnel_detect) and the 51st oracle query (dedup_savings_report,
# last-registered) queue for round 6 — an oracle hash row is strictly
# stronger than the driver's rows-only check, so rows-only entries never
# displace an oracle candidate.
ROUND4_ADDED = [
    "olap_local_supplier_volume",
    "olap_returned_items",
    "olap_order_priority",
    "dedup_winnow",
    "text_entropy",
    "text_perplexity_proxy",
    "embedding_domain_centroids",
    "olap_top_balance_no_orders",
    "events_interarrival_stats",
    "embedding_outliers",
    # TPC-H shape completion (queries/olap2.py)
    "olap_shipping_priority",
    "olap_nation_trade_volume",
    "olap_product_margin",
    "olap_late_lines_by_priority",
    "olap_order_count_distribution",
    "olap_promo_revenue_share",
    "olap_top_supplier",
    "olap_part_supplier_counts",
    "olap_large_volume_customers",
    "olap_brand_band_revenue",
    "olap_waiting_suppliers",
    "olap_regional_min_price_supplier",
    # corpus-curation aggregate layer (queries/round4b.py)
    "text_lang_confusion",
    "text_gopher_rules",
    "corpus_token_bigrams",
    "text_zipf_fit",
    "corpus_trigram_novelty",
    "corpus_length_histogram",
    "events_daily_stickiness",
    "stream_session_window",
    "olap_important_parts",
    "olap_bulk_part_suppliers",
    "embedding_truncation_fidelity",
    "embedding_pq_codes",
    # graph + chunking (queries/round4c.py)
    "events_type_affinity",
    "events_type_pagerank",
    "corpus_cdc_chunks",
    "src_orc_roundtrip",
    "events_stickiness_hll",
    "olap_cdc_merge",
    "olap_customer_quartiles",
    "events_gap_fill_ffill",
    "events_path_trigrams",
    "text_tokenizer_fertility",
    "corpus_curriculum_order",
    "multimodal_dedup_bytes",
    "corpus_quality_calibration",
    "events_user_triangles",
    "olap_yearly_growth",
    "corpus_source_overlap",
    "corpus_split_assign",
    "stream_funnel_detect",
    "dedup_savings_report",
]

# The three ROUND4_ADDED entries that did not fit the round-5 window (one
# rows-only + the funnel graduation + the last-registered oracle query),
# first in the round-6 window. Registration order IS the queue.
ROUND5_DEFERRED = [
    "embedding_pq_codes",  # graduated r8: pinned Lloyd fit + generated SQL twin
    "stream_funnel_detect",  # oracle added in round 5 (batch window twin; the
    # stateful streaming operator itself stays linked via the equivalence test)
    "dedup_savings_report",  # oracle-bearing, 51st in the round-4 queue
]

# Round-5 additions: replica-gate + judge-sweep coverage in round 5, first
# external driver hash rows in the round-6 window.
ROUND5_ADDED: list[str] = [
    "embedding_pq_encode_pinned",
    "ivf_assign_pinned",
    "dedup_incremental",
    "corpus_clean_pipeline_sem",
    "corpus_decontaminate_sem",
    "corpus_health_report",
    # round-5 session batch 2 (queries/round5b.py)
    "dedup_passage",
    "corpus_pack_bins",
    "multimodal_phash_dedup",
    "olap_scd2_history",
    "events_windowed_topk",
    "text_oov_rate",
    # round-5 session batch 3 (queries/round5c.py)
    "dq_orders_checks",
    "events_skew_report",
    "text_typo_pairs",
    "pq_adc_topk_pinned",
    "events_salted_spend",
    "olap_scd2_at_ship_price",
    "dq_lineitem_checks",
    "stream_windowed_topk",
    "events_hll_rollup",
    "multimodal_frame_dedup",
    "olap_ivm_agg",
    "graph_bfs_reach",
    "olap_unpivot_metrics",
    "events_nullsafe_match",
    "events_variant_extract",
    "text_quality_model_score",
]

# Round-4 window — externally hash-verified in CORRECTNESS_r04.json (47
# oracle hash rows + 3 declared rows-only, 50/50 green); now past the
# window, covered by the in-repo replica gate.
ROUND4_VERIFIED = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_survivors",
    "corpus_pack_sequences",
    "corpus_seq_manifest",
    "corpus_hash_sample",
    "corpus_stratified_sample",
    "corpus_decontaminate",
    "corpus_bloom_contains",
    "corpus_mix_domains",
    "corpus_chunk_overlap",
    "corpus_weighted_sample",
    "corpus_shard_shuffle",
    "text_repetition",
    "text_pii_scrub",
    "text_rarity",
    "events_anomaly_zscore",
    "knn_brute_force",
    "knn_graph",
    "dedup_semantic",
    "text_token_count",
    "text_lang_id",
    "text_quality",
    "text_fingerprint",
    "text_tfidf_topterms",
    "events_session_window_native",
    "stream_tumbling_counts",
    "stream_sliding_counts",
    "stream_click_attribution",
    "stream_dedup_events",
    "stream_enrich_users",
    "events_topk_spenders",
    "events_value_quantiles",
    "events_json_extract",
    "events_range_join",
    "events_rolling_1h",
    "events_funnel",
    "events_markov_transitions",
    "events_retention_cohorts",
    "embedding_quantize",
    "olap_grouping_sets",
    "olap_nation_share",
    "events_ab_conversion",
    "multimodal_frame_sample",
    "multimodal_features",
    # ivf_knn sat here through round 6 (rows-only r04 row); it graduated to
    # a full oracle in round 7 and moved to ROUND7_GRADUATED.
]

# Queries that graduated from rows-only to a full oracle in round 6 and
# have therefore NEVER had an external hash row: src_generate now audits
# the pinned-seed distribution against a closed-form VALUES oracle;
# stream_sessionize registers the append-mode emission contract (sessions
# closed by a subsequent event) as its deterministic batch twin.
ROUND6_GRADUATED = [
    "src_generate",
    "stream_sessionize",
]

# Round-6 additions: registered AFTER the window (replica-gate coverage
# now, round-7 window candidates).
ROUND6_ADDED: list[str] = [
    "corpus_passage_scrub",
    "events_rfm_segments",
    "events_interval_overlap",
    "events_cohort_ltv",
    "graph_label_prop_communities",
    "events_session_revenue",
    "text_bpe_pair_freqs",
    "stream_rate_alert",
    "events_time_to_convert",
    "embedding_drift_monitor",
    "dq_documents_checks",
    # round-6 session batch 2 (queries/round6b.py)
    "events_heavy_hitters",
    "events_kmv_distinct",
    "dq_schema_profile",
    "events_ewma_daily",
    "corpus_negative_pairs",
    # round-6 session batch 3 (queries/round6c.py)
    "events_debounce",
    "events_pattern_match",
    "dq_k_anonymity",
    "events_anomaly_mad",
    "events_attribution_position",
    # round-6 session batch 4 (queries/round6d.py)
    "embedding_kmedoid_step",
    # round-6 session batch 5 (queries/round6e.py)
    "events_asof_next_error",
    "events_cep_completions",
    # round-6 session batch 6 (queries/round6f.py)
    "dq_table_checksums",
    "events_audience_overlap",
    # round-6 session batch 7 (queries/round6g.py)
    "events_forecast_seasonal_naive",
    "corpus_length_gini",
    "text_readability",
    # round-6 session batch 8 (queries/round6h.py)
    "dedup_minhash_calibration",
    "events_ab_health",
    # round-6 session batch 9 (queries/io.py)
    "src_partitioned_roundtrip",
    # round-6 session batch 10 (queries/round6i.py)
    "embedding_power_iteration",
    # round-6 session batch 11 (queries/round6j.py)
    "olap_cumulative_revenue_share",
    "olap_supplier_hhi",
    "events_lag_features",
    "events_markov_absorb2",
    # round-6 session batch 12 (queries/round6k.py)
    "olap_abc_classification",
    "events_sankey_edges",
    "corpus_length_vs_norm_corr",
    # round-6 session batch 13 (queries/round6l.py)
    "olap_ship_cycle_percentiles",
    "events_new_vs_returning",
    "dq_referential_orphans",
    # round-6 session batch 14 (queries/round6m.py)
    "olap_basket_affinity",
    # round-6 session batch 15 (queries/round6n.py)
    "corpus_cross_source_dupes",
    "olap_discount_quantity_corr",
    # round-6 session batch 16 (queries/round6o.py)
    "corpus_source_tv_distance",
    # round-6 session batch 17 (queries/round6p.py)
    "events_session_bounce_rate",
    "embedding_knn_label_accuracy",
]

# `ivf_knn` graduated from rows-only to a full oracle in round 7: the
# registered query (queries/round7.py) runs the complete pinned-codebook
# retrieval path — assign, probe, cosine re-rank, top-k — with a DuckDB
# twin, so it has NEVER had an external hash row and takes the 50th
# round-7 window slot (precedent: ROUND6_GRADUATED). It is listed here,
# not in ROUND4_VERIFIED (its r04 row was the weaker rows-only check).
ROUND7_GRADUATED = [
    "ivf_knn",
]

# Round-7 additions: registered AFTER the window (replica-gate coverage
# now, round-8 window candidates).
ROUND7_ADDED: list[str] = [
    # round-7 session batch 2 (queries/round7b.py)
    "events_target_encoding",
    "eval_value_auc",
    "olap_numeric_corr_matrix",
    "events_bot_detection",
    # round-7 session batch 3 (queries/round7c.py)
    "dq_part_name_links",
    "dq_uniqueness_report",
    "events_dau_wau_ratio",
    # round-7 session batch 4 (queries/round7d.py)
    "events_holt_linear",
    "events_weekday_seasonality",
    "events_error_burn_rate",
    # round-7 session batch 5 (queries/round7e.py)
    "text_bpe_merge_step",
    "corpus_ngram_coverage",
    "corpus_vocab_first_seen",
    # round-7 session batch 6 (queries/round7f.py)
    "embedding_bucket_skew",
    "embedding_norm_profile",
    # round-7 session batch 7 (queries/round7g.py)
    "olap_open_order_backlog",
    "olap_monthly_median_order_value",
    "events_transition_timing",
    # round-7 session batch 8 (queries/round7h.py)
    "events_asof_nearest_error",
    "dedup_threshold_sweep",
    "dq_snapshot_rowdiff",
    # round-7 session batch 9 (queries/round7i.py)
    "dq_freshness_report",
    "olap_nation_share_momentum",
    "multimodal_chunk_windows",
    # round-7 session batch 10 (queries/round7j.py)
    "stream_tumbling_dau",
    "olap_returns_rate_by_brand",
    "olap_supplier_delay_variance",
    "olap_order_value_log2_histogram",
    # round-7 session batch 11 (queries/round7k.py)
    "embedding_triplet_violation_rate",
    "events_engagement_breadth",
    "olap_reorder_interval",
    "corpus_shingle_df_profile",
    # round-7 session batch 12 (queries/round7l.py)
    "dedup_transitivity_gap",
    "dq_value_first_digit",
    "olap_customer_concentration",
    "events_weekday_hour_heatmap",
    # round-7 session batch 13 (queries/round7m.py)
    "events_value_anova_f",
    "corpus_lang_source_contingency",
    # round-7 session batch 14 (queries/round7n.py)
    "corpus_packing_efficiency_curve",
    "events_user_lifetime_stats",
    "embedding_ivf_cell_balance",
    # round-7 session batch 15 (queries/round7o.py)
    "dq_order_line_status_consistency",
    "corpus_quality_percentiles_by_source",
]

# Round-8 additions: registered AFTER the window (replica-gate coverage
# now, round-9 window candidates). Registration order IS the queue.
ROUND8_ADDED: list[str] = [
    # round-8 session batch 1 (queries/round8a.py)
    "corpus_type_token_ratio",
    "corpus_top_bigram_share",
    "corpus_token_count_gate",
    "corpus_repeated_token_runs",
    # round-8 session batch 2 (queries/round8b.py)
    "corpus_sampling_weights_sqrt",
    "embedding_quantization_error_histogram",
    "embedding_centroid_margin_profile",
    "embedding_label_centroid_purity",
    # round-8 session batch 3 (queries/round8c.py)
    "olap_customer_decile_lift",
    "olap_supplier_pareto_80",
    "olap_order_weekday_priority",
    # round-8 session batch 4 (queries/round8d.py)
    "events_value_winsorized_stats",
    "events_inactivity_churn",
    "events_hourly_autocorr",
    # round-8 session batch 5 (queries/round8e.py)
    "dq_null_rate_report",
    "dq_numeric_range_report",
    "dq_duplicate_key_report",
    "dq_ship_before_order",
    # round-8 session batch 6 (queries/round8f.py)
    "corpus_dedup_cluster_size_histogram",
    "multimodal_payload_size_percentiles",
    # round-8 session batch 7 (queries/round8g.py)
    "sketch_histogram_quantiles",
    "events_count_min_estimate",
    "olap_monthly_revenue_anomaly",
    "dq_cardinality_drift",
    # round-8 session batch 8 (queries/round8h.py)
    "events_attribution_time_decay",
    "olap_fulfillment_latency_by_size",
    "olap_customer_migration",
]

# Round-9 additions land here as they are built this round; they queue
# past the window (round-10 external-hash candidates).
ROUND9_ADDED: list[str] = [
    # round-9 session batch 1 (queries/round9a.py): the persistent-IVF
    # lifecycle graduates to the oracle surface (r8 verdict item 8)
    "ivf_index_search",
    # round-9 session batch 2 (queries/round9b.py): bounded graph analytics
    "events_user_triangles_capped",
    # round-9 session batch 3 (queries/round9c.py)
    "sketch_kmv_union",
    "events_survival_hazard",
    "events_hashed_features",
    "embedding_dim_stats",
    "eval_knn_label_precision",
    # round-9 session batch 4 (queries/round9d.py)
    "olap_incremental_agg_merge",
    "eval_score_calibration",
    "embedding_principal_direction",
    # round-9 session batch 5 (queries/round9e.py)
    "dq_l_diversity",
    "events_peak_concurrency",
    "stream_topk_trending",
    # round-9 session batch 6 (queries/round9f.py)
    "events_cumulative_unique_users",
    "olap_bootstrap_mean_ci",
    # round-9 session batch 7 (queries/round9g.py)
    "dq_merkle_bucket_diff",
    "olap_join_size_estimate",
]

# Round-10 additions land here as they are built this round; they queue
# past the window (round-11 external-hash candidates).
ROUND10_ADDED: list[str] = [
    # round-10 session batch 1 (queries/round10a.py): the Merkle ladder's
    # row-level reconcile API (r9 verdict item 5)
    "dq_merkle_row_pulls",
    # round-10 session batch 2 (queries/round10b.py)
    "sketch_theta_intersection",
    "olap_bloom_join_prune",
    "dq_sequential_gap_report",
    # round-10 session batch 3 (queries/round10c.py)
    "eval_matryoshka_prefix_recall",
    "dq_functional_dependency",
    # round-10 session batch 4 (queries/round10d.py)
    "corpus_token_budget_batches",
    "olap_exact_grouped_quantiles",
    # round-10 session batch 5 (queries/round10e.py)
    "olap_revenue_trend_by_segment",
]

# The r05-verified ROUND4 batch in rotation order (ROUND4_ADDED minus the
# three ROUND5_DEFERRED rows): the oldest fill pool for window rotation.
_R4_FILL = [name for name in ROUND4_ADDED if name not in ROUND5_DEFERRED]

# Round-11 additions: registered as the session progresses; staged AFTER
# the 50-query window (round-12 window candidates), per the standing
# rotation protocol.
ROUND11_ADDED: list[str] = [
    # round-11 session batch 1 (queries/round11a.py): the physical-layout
    # operators' oracle surface (r10 verdict item 4)
    "layout_compact_identity",
    "layout_zorder_identity",
    "layout_bucketed_join",
    # round-11 session batch 2 (queries/round11b.py)
    "olap_pareto_frontier",
    "dedup_fuzzy_blocked",
    "corpus_priority_sample",
    "dq_benford_first_digit",
    # round-11 session batch 3 (queries/round11c.py)
    "eval_ndcg_truncated",
    # round-11 session batch 4 (queries/round11d.py)
    "events_cusum_changepoint",
    "olap_weighted_median_price",
    # round-11 session batch 5 (queries/round11e.py)
    "eval_cluster_silhouette",
]

# Round-12 additions land here as they are built this round; they queue
# past the window (round-13 window candidates). Registration order IS the
# queue.
ROUND12_ADDED: list[str] = [
    # round-12 session batch 1 (queries/round12a.py): the embedding-LSH
    # oracle surface moves to auto-banding (r11 verdict item 6) and the
    # IVF lifecycle gains incremental append (r11 verdict item 8)
    "dedup_embedding_cosine_auto",
    "ivf_index_append_search",
    # round-12 session batch 2 (queries/round12b.py)
    "olap_rfm_segments",
    "dq_outlier_mad_report",
    "olap_price_quantity_slope_by_brand",
    "events_user_hhi_histogram",
    "corpus_token_gini",
    # round-12 session batch 3 (queries/round12c.py)
    "eval_ivf_recall_at_k",
    # round-12 session batch 4 (queries/round12d.py)
    "dq_order_total_drift",
    "olap_join_skew_report",
    "corpus_fixed_n_hash_sample",
    "embedding_cosine_histogram",
    # round-12 session batch 5 (queries/round12e.py)
    "olap_ivm_join_delta",
    "eval_ab_sample_ratio_mismatch",
    # round-12 session batch 6 (queries/round12f.py)
    "events_mann_kendall_trend",
    "events_user_fano_burstiness",
    # round-12 session batch 7 (queries/round12g.py): the streaming CUSUM
    # control chart's oracle-checked batch twin
    "events_cusum_control",
]

# Round-13 additions land here as they are built this round; they queue
# past the window (round-14 window candidates). Registration order IS the
# queue.
ROUND13_ADDED: list[str] = [
    # round-13 session batch 1 (queries/round13a.py): the 7th stateful
    # streaming operator's oracle-checked batch twin (r12 verdict item 6)
    "events_holt_forecast",
    # round-13 session batch 2 (queries/round13b.py)
    "dedup_prefix_filter_jaccard",
    "corpus_band_occupancy_stats",
    "eval_langid_auc",
    # round-13 session batch 3 (queries/round13c.py)
    "text_bigram_kn_probs",
    "corpus_importance_sample",
    "olap_decile_lift",
    # round-13 session batch 4 (queries/round13d.py)
    "events_countmin_estimates",
    "corpus_mix_epoch_plan",
    "events_session_length_hist",
    # round-13 session batch 5 (queries/round13e.py)
    "layout_partition_prune_identity",
    # round-13 session batch 6 (queries/round13f.py)
    "olap_market_basket_lift",
    "corpus_dedup_audit_sample",
    # round-13 session batch 7 (queries/round13g.py): the foreachBatch
    # IVM sink's oracle-checked batch twin
    "stream_ivm_counts",
    # round-13 session batch 8 (queries/round13h.py)
    "src_binary_ingest",
    # round-13 session batch 9 (queries/round13i.py): AMS F2 sketch,
    # lift-ranked collocations, seasonal Holt-Winters fold
    "sketch_ams_f2",
    "text_pmi_lift_pairs",
    "events_holt_winters_daily",
    # round-13 session batch 10 (queries/round13j.py): deterministic
    # distributed GD training with an unrolled-CTE oracle
    "ml_gate_distill_gd",
    # round-13 session batch 11 (queries/round13b.py): the PPJoin
    # pre-flight pair-mass report, oracle-registered after the decade
    # ladder proved it the dense-regime router
    "dedup_ppjoin_pair_mass",
    # round-13 session batch 12 (queries/round13k.py): k-core peeling
    "graph_kcore_peel",
    # round-13 session batch 13 (queries/round13l.py): auto-banded scale
    # twins for the kNN-graph family (semdedup ladder finding)
    "knn_graph_auto",
    "dedup_semantic_auto",
    # round-13 session batch 14 (queries/round13m.py): multi-step BPE
    # trainer (unrolled-CTE oracle, the GD pattern on tokenizer induction)
    "text_bpe_train_merges",
    # round-13 session batch 15 (queries/round13n.py): density clustering
    "embedding_dbscan_lite",
]

# Round-13 window (first 50), exactly as staged at round-12 close and
# confirmed by the round-12 verdict (next-round item 1): the 17 round-12
# additions (replica-gate-only until now — the only registered queries
# with no driver hash row ever) + the next-oldest verified fill rows
# (ROUND5_ADDED[10:] — 18 queries whose freshest external rows are r06 —
# then the two ROUND6_GRADUATED oracles, then ROUND3_VERIFIED[:13]) to
# reach exactly 50.
#
# ROUND-14 ROTATION (stage at round-14 start): window = ROUND13_ADDED
# (whatever lands this round) + as many of the next-oldest verified rows
# (ROUND3_VERIFIED[13:], then ROUND6_ADDED, in listed order) as needed to
# reach exactly 50. Move that slice to the head of
# DRIVER_WINDOW_PRIORITY and update
# tests/test_drivers.py::test_driver_window_priority_matches_registry;
# stage ROUND14_ADDED after the window as this round did.
DRIVER_WINDOW_PRIORITY = [
    *ROUND12_ADDED,
    *ROUND5_ADDED[10:],
    *ROUND6_GRADUATED,
    *ROUND3_VERIFIED[:13],
    # --- past the 50-query window: externally verified in earlier rounds,
    # kept on the in-repo replica gate; oldest remaining rows first (next
    # in the rotation) ---
    *ROUND3_VERIFIED[13:17],
    *ROUND6_ADDED,
    *ROUND7_GRADUATED,
    *ROUND7_ADDED,
    *ROUND3_VERIFIED[17:24],
    *ROUND8_ADDED,
    *ROUND3_VERIFIED[24:47],
    *ROUND3_VERIFIED[47:],
    *ROUND9_ADDED,
    *_R4_FILL[:30],
    *ROUND10_ADDED,
    "embedding_pq_codes",
    *_R4_FILL[30:],
    *ROUND4_VERIFIED[:20],
    # --- re-verified in the round-12 window (freshest external rows) ---
    *ROUND11_ADDED,
    *ROUND4_VERIFIED[20:],
    *[n for n in ROUND5_DEFERRED if n != "embedding_pq_codes"],
    *ROUND5_ADDED[:10],
    # --- round-14 window queue: this round's additions ---
    *ROUND13_ADDED,
]

_PRIORITY_RANK = {name: i for i, name in enumerate(DRIVER_WINDOW_PRIORITY)}


def _priority_ordered(d: dict) -> dict:
    return dict(
        sorted(d.items(), key=lambda kv: (_PRIORITY_RANK.get(kv[0], len(_PRIORITY_RANK)), kv[0]))
    )


def queries() -> dict[str, QueryFn]:
    return _priority_ordered(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    return _priority_ordered(ORACLE_SQL)


# Submodules register their queries on import (kept at the bottom so they can
# import the helpers above).
from . import io, llmops, olap, olap2, parity, round4, round4b, round4c, round5, round5b, round5c, round6, round6b, round6c, round6d, round6e, round6f, round6g, round6h, round6i, round6j, round6k, round6l, round6m, round6n, round6o, round6p, round7, round7b, round7c, round7d, round7e, round7f, round7g, round7h, round7i, round7j, round7k, round7l, round7m, round7n, round7o, round8a, round8b, round8c, round8d, round8e, round8f, round8g, round8h, round9a, round9b, round9c, round9d, round9e, round9f, round9g, round10a, round10b, round10c, round10d, round10e, round11a, round11b, round11c, round11d, round11e, round12a, round12b, round12c, round12d, round12e, round12f, round12g, round13a, round13b, round13c, round13d, round13e, round13f, round13g, round13h, round13i, round13j, round13k, round13l, round13m, round13n  # noqa: E402,F401
from .parity import pipeline_delay_status  # noqa: E402,F401  (flagship re-export)


TABLE_NAMES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def register_sql_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the full table set as temp views so users can drive the
    engine through plain `spark.sql(...)` instead of the DataFrame API —
    both surfaces are first-class (tests/test_sql_api.py proves the
    TPC-H oracle SQL runs unchanged through spark.sql with identical
    results). `events` registers through events_table so its
    nanos-parquet timestamp contract holds in SQL too."""
    ensure_runtime_confs(spark)
    for t in TABLE_NAMES:
        df = events_table(spark, sf_dir) if t == "events" else table(spark, sf_dir, t)
        df.createOrReplaceTempView(t)
