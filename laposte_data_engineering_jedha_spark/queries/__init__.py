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

Submodules, one per query domain (each registers its queries on import; a
query lives in the module its name prefix maps to):
    parity      — agg, expr, join, limit, pipeline, proj, setop: SURVEY.md §2
                  reference-parity operators
    io          — src, layout, multimodal: source/sink round trips, storage
                  layout and multimodal payloads
    olap        — TPC-H-shaped warehouse queries
    events      — clickstream analytics over the events fact
    text        — text, corpus: tokenization and corpus curation
    dedup       — exact, near-duplicate and semantic deduplication
    similarity  — embedding, eval, ivf, knn, pq: vector search and its
                  quality metrics
    dq          — data-quality checks and reconciliation
    sketch      — mergeable approximate sketches
    graph       — graph analytics over derived edge lists
    stream      — stream, ml: incremental/streaming jobs and the pinned
                  learning steps
Helpers used by one domain live in its module; helpers used by several live
here.
"""

from __future__ import annotations

import hashlib
import os

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exprs, texts, vectors
# aliased: the query submodules `dedup` and `similarity` imported at the
# bottom of this file rebind those two names in the package namespace
from ..operators import dedup as dedup_ops
from ..operators import similarity as similarity_ops
from ..sources.testdata import EMB_DIM

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


def scratch(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """The scratch dir of one `kind` of query output over `sf_dir`, under
    the session's SparkFiles root (`spark-<uuid>/userFiles-<uuid>` on the
    driver). Spark creates that root per SparkContext and deletes it when
    the session stops, so every file a query writes here lives exactly as
    long as the session: repeat runs in one session reuse it, and nothing
    survives into the next process."""
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(root, f"{kind}_{tag}")


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


# --- oracle-SQL helpers shared by more than one domain module ----------------


def sql_md5i(x: str) -> str:
    """Twin of texts.md5int32."""
    return f"CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"


def sql_toks(c: str) -> str:
    """Twin of texts.tokens."""
    return rf"string_split_regex(trim(lower({c})), '\s+')"


def sql_reduce_sum(products: str) -> str:
    """Strict left-to-right double sum — twin of F.aggregate(_, 0.0, +)."""
    return f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {products}), (a, x) -> a + x)"


def sql_round(x: str, scale: int) -> str:
    m = 10**scale
    return f"round(({x}) * {m}) / {m}"


SQL_SHINGLES = "list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])"

SQL_STOP = {lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]" for lang, ws in texts.STOPWORDS.items()}


def sql_stop_hits(lang: str) -> str:
    return f"len([x for x in t if list_contains({SQL_STOP[lang]}, x)])"


SQL_NORM = (
    "sqrt(" + sql_reduce_sum("[CAST(x AS DOUBLE) * x for x in embedding]") + ")"
)


def sql_dot(a: str, b: str, dim: int = EMB_DIM) -> str:
    return sql_reduce_sum(f"[CAST({a}[i] AS DOUBLE) * {b}[i] for i in range(1, {dim + 1})]")


def _sql_hp_weight() -> str:
    """Twin of vectors.py_hyperplane_weights: md5("p_i") -> [-1000, 1000]."""
    h = "CAST('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)"
    return f"({h} % {vectors.HP_MOD} - {vectors.HP_SHIFT})"


_SQL_SHINGLE_CTES = f"""
toks AS (SELECT doc_id, {sql_toks('text')} AS t FROM documents),
sh AS (SELECT doc_id, {SQL_SHINGLES} AS s FROM toks)"""

_P = texts.MERSENNE31

_SQL_SIG = (
    f"[coalesce(list_min([(x * (j * 2 + 3) + (j * j + 7)) % {_P} for x in h]), {_P}) "
    f"for j in range(0, {texts.MINHASH_PERMS})]"
)

_ROWS = texts.MINHASH_PERMS // texts.MINHASH_BANDS

_W = texts.SIMHASH_BITS // 4

_SQL_SIMHASH = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    f"[CASE WHEN list_sum([((x >> b) & 1) * 2 - 1 for x in h]) >= 0 THEN 1 ELSE 0 END "
    f"for b in range(0, {texts.SIMHASH_BITS})]), (a, x) -> a * 2 + x)"
)

_EMB_BANDS, _EMB_BAND_PLANES = 8, 4


def _sql_band_key(e: str, band_planes: int = _EMB_BAND_PLANES) -> str:
    """Bucket id of band `band` (a column in scope): sign bits of planes
    [band*band_planes, (band+1)*band_planes) packed MSB-first — the SQL twin
    of vectors.pd_lsh_buckets_banded, same md5 hyperplanes."""
    w = _sql_hp_weight()
    d = sql_reduce_sum(
        f"[CAST({e}[i + 1] AS DOUBLE) * CAST({w} AS DOUBLE) for i in range(0, {EMB_DIM})]"
    )
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"[CASE WHEN {d} >= 0 THEN 1 ELSE 0 END "
        f"for p in range(band * {band_planes}, (band + 1) * {band_planes})]), "
        "(a, x) -> a * 2 + x)"
    )


# Banded-LSH corpus-wide top-3 graph CTEs, shared by knn_graph and the
# SemDeDup-style dedup_semantic composition. 4 bands x 6 planes
# (OR-amplification — round-4 fix: the single-band shape measured
# recall@3 = 0.0871, the one-band collision probability itself; banding
# lifts recall to 1-(1-p)^4 for ~4x candidate compute, SCALE.md table).
_GRAPH_BANDS, _GRAPH_BAND_PLANES = 4, 6

_SQL_KNN_GRAPH_CTES = f"""n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings),
nb AS (SELECT vec_id, e, nrm, CAST(r.range AS BIGINT) AS band
       FROM n CROSS JOIN range(0, {_GRAPH_BANDS}) r WHERE nrm > 0),
cb AS (SELECT vec_id, e, nrm, band, {_sql_band_key('e', _GRAPH_BAND_PLANES)} AS key FROM nb),
capped AS (
  SELECT *, row_number() OVER (
    PARTITION BY band, key ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS _r
  FROM cb),
gpairs AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS cand_id,
         {sql_round(f"{sql_dot('a.e', 'b.e')} / (a.nrm * b.nrm)", 6)} AS cosine
  FROM cb a JOIN capped b ON a.band = b.band AND a.key = b.key
  WHERE b._r <= 256 AND a.vec_id <> b.vec_id),
granked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM gpairs),
knn AS (SELECT query_id, cand_id, cosine, rank FROM granked WHERE rank <= 3)"""


def _r4(c: F.Column) -> F.Column:
    return F.round(c * 10000) / 10000


_PASSAGE_TOKENS = 8  # tokens per passage (dedup_passage)

_HV52 = "CAST('0x' || substr(md5({x}), 1, 13) AS BIGINT)"

# planes = max(4, ceil(log2(n / 64))) — the exact twin of
# operators/dedup.auto_band_planes (target_bucket=64, floor=4). count(*)
# is over the raw embeddings table on BOTH sides so the two engines can
# never disagree about n.
_SQL_AUTO_PLANES = (
    "SELECT GREATEST(4, CAST(ceil(log2(count(*) / 64.0)) AS BIGINT)) AS planes "
    "FROM embeddings"
)

# the graph CTE block of _SQL_KNN_GRAPH_CTES with the band width
# COMPUTED from count(*) (np CTE) instead of the pinned constant
_SQL_KNN_AUTO_CTES = f"""np AS ({_SQL_AUTO_PLANES}),
n AS (SELECT vec_id, embedding AS e, {SQL_NORM} AS nrm FROM embeddings),
nb AS (SELECT vec_id, e, nrm, CAST(r.range AS BIGINT) AS band, planes
       FROM n CROSS JOIN np CROSS JOIN range(0, {_GRAPH_BANDS}) r
       WHERE nrm > 0),
cb AS (SELECT vec_id, e, nrm, band, {_sql_band_key('e', 'planes')} AS key
       FROM nb),
capped AS (
  SELECT *, row_number() OVER (
    PARTITION BY band, key ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS _r
  FROM cb),
gpairs AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS cand_id,
         {sql_round(f"{sql_dot('a.e', 'b.e')} / (a.nrm * b.nrm)", 6)} AS cosine
  FROM cb a JOIN capped b ON a.band = b.band AND a.key = b.key
  WHERE b._r <= 256 AND a.vec_id <> b.vec_id),
granked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
  FROM gpairs),
knn AS (SELECT query_id, cand_id, cosine, rank FROM granked WHERE rank <= 3)"""


def _auto_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    planes = dedup_ops.auto_band_planes(table_rowcount(spark, sf_dir, "embeddings"))
    return similarity_ops.knn_graph(
        emb, k=3, dim=EMB_DIM, bands=_GRAPH_BANDS, band_planes=planes
    )


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
from . import dedup, dq, events, graph, io, olap, parity, similarity, sketch, stream, text  # noqa: E402,F401
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
