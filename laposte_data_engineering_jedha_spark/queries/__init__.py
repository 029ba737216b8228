"""Query registry — the driver contract surface.

Every implemented operator from SURVEY.md §2 registers here as a
`(spark, sf_dir) -> DataFrame` callable plus its DuckDB oracle twin:
`@query(name, oracle)` takes both, so no query is registered without one.
`__spark_entry__.py` re-exports `queries()` / `oracle_sql()` from this
package; both return the registry ordered by query name.

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

Submodules (each registers its queries on import):
    parity      — SURVEY.md §2 reference-parity operators
    io          — source/sink write→read round trips, one per format
    olap, olap2 — TPC-H-shaped warehouse queries (aggregates, joins, top-k)
    llmops      — 100 TB-scale extensions (dedup, similarity, text, events)
    round4 … round13n — further olap, corpus/text, dedup, similarity/eval,
                  events, dq, sketch, graph and streaming operators, one
                  module per batch; each module docstring lists its queries
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


def query(name: str, oracle: str):
    def deco(fn: QueryFn) -> QueryFn:
        # a duplicate registration would silently REPLACE an existing
        # query + oracle (dict overwrite) — caught live in round 8 when a
        # new batch reused an existing name; fail loudly at import instead
        if name in SPARK_QUERIES:
            raise ValueError(f"duplicate query registration: {name!r}")
        SPARK_QUERIES[name] = fn
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


# schema memo for table(): absolute path -> (file signature, inferred schema).
# r14 optimization (guide §1.2 — the same footer-metadata family as
# table_rowcount): schema INFERENCE re-reads the parquet footer and pays a
# py4j DataSource-resolution round trip on EVERY table() call — measured
# 0.084 s vs 0.014 s with an explicit schema, and the bench pays it once
# per table per timed run (~2 reads/query x 379 queries). The memo caches
# only the INFERRED SCHEMA; every run still scans the parquet data in full —
# no rows, plans, or results are reused across runs. One entry per table
# file: the signature (inode, mtime, ctime, size) is re-checked on every
# call and a mismatch re-infers. A rewrite always moves ctime, so even a
# same-size rewrite with its mtime restored is seen. At 100 TB the same
# declare-don't-infer discipline is what keeps a many-query session off the
# footer-read path.
_SCHEMA_MEMO: dict[str, tuple[tuple[int, int, int, int], object]] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    if not os.path.isfile(path):
        # directory tables / remote paths: a dir's stat does not track
        # rewrites of the files inside it — always infer
        return spark.read.parquet(path)
    st = os.stat(path)
    key = os.path.abspath(path)
    sig = (st.st_ino, st.st_mtime_ns, st.st_ctime_ns, st.st_size)
    memo = _SCHEMA_MEMO.get(key)
    if memo is None or memo[0] != sig:
        memo = (sig, spark.read.parquet(path).schema)
        _SCHEMA_MEMO[key] = memo
    return spark.read.schema(memo[1]).parquet(path)


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
# Both maps are ordered by query name. The order is derived from the data, so
# adding a query edits no list; the external driver hash-checks the first 50
# names, and tests/test_oracle_parity.py checks every oracle.


def queries() -> dict[str, QueryFn]:
    return dict(sorted(SPARK_QUERIES.items()))


def oracle_sql() -> dict[str, str]:
    return dict(sorted(ORACLE_SQL.items()))


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
