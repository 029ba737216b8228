"""Source, sink, storage-layout and multimodal queries (name prefixes src,
layout, multimodal).

The src round trips materialize the deterministic deliveries view through a
sink, read it back through the matching reader, apply the timestamp-cast
contract and return the canonical 6 columns: the oracle is the deliveries
view itself, so any loss in either direction (type, precision, encoding)
fails the hash. The xlsx pair round-trips through the pure-stdlib OOXML
codec (sources/xlsx_codec.py), so it registers without openpyxl or
xlsxwriter. The layout queries prove content identity of the physical
layout operators (operators/layout.py); the multimodal queries work on
media payloads without shuffling the bytes.
"""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import exprs
from ..operators import layout, multimodal
from ..operators.reconcile import _digest52
from ..schemas import RAW_COLUMNS
from ..sources import writers
from ..sources.generate import generate_deliveries
from ..sources.readers import READER_MAP, cast_timestamp_contract
from . import (
    _SQL_SIMHASH,
    _W,
    deliveries_from_orders,
    events_table,
    query,
    scratch,
    sort_report,
    sql_md5i,
    sql_round,
    table,
    with_deliveries,
)

_DELIVERIES_ORACLE = with_deliveries("SELECT * FROM deliveries")


def _fresh_dir(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """A new dir under the session scratch dir of `kind`: each round-trip
    call writes its own copy, so a DataFrame returned earlier never reads
    files a later call rewrote."""
    base = scratch(spark, sf_dir, kind)
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str, ext: str) -> DataFrame:
    df = deliveries_from_orders(spark, sf_dir)
    path = os.path.join(_fresh_dir(spark, sf_dir, f"rt_{fmt}"), f"deliveries{ext}")
    writers.WRITER_MAP[fmt](path).write(df)
    back = READER_MAP[ext](path).read(spark)
    return cast_timestamp_contract(back).select(*RAW_COLUMNS)


@query("src_csv_roundtrip", oracle=_DELIVERIES_ORACLE)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_csv + src_csv + src_cast_ts: header CSV out, inferred-schema
    read back, ISO timestamp strings re-cast (reference readers.py:30-33,
    writers.py:24-29, extract.py:77-80)."""
    return _roundtrip(spark, sf_dir, "csv", ".csv")


@query("src_json_roundtrip", oracle=_DELIVERIES_ORACLE)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_json (NDJSON) + src_json (reference readers.py:35-38,
    writers.py:31-36)."""
    return _roundtrip(spark, sf_dir, "json", ".json")


@query("src_parquet_roundtrip", oracle=_DELIVERIES_ORACLE)
def src_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_parquet + src_parquet (reference readers.py:40-43,
    writers.py:38-43)."""
    return _roundtrip(spark, sf_dir, "parquet", ".parquet")


@query("src_sqlite_roundtrip", oracle=_DELIVERIES_ORACLE)
def src_sqlite_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_sqlite (chunked appends) + src_sqlite (`SELECT * FROM
    deliveries`) (reference readers.py:45-50, writers.py:45-59)."""
    return _roundtrip(spark, sf_dir, "sqlite", ".db")


@query("src_xlsx_roundtrip", oracle=_DELIVERIES_ORACLE)
def src_xlsx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_xlsx (streaming write) + src_xlsx (reference readers.py:52-55,
    writers.py:61-70) via the pure-stdlib OOXML codec — registers
    unconditionally, no openpyxl dependency."""
    return _roundtrip(spark, sf_dir, "xlsx", ".xlsx")


_WX_DATES = ["2025-03-01", "2025-03-02", "2025-03-03"]

_WX_CONDS = ["Clear", "Light rain", "Fog", "Heavy snow"]

_WX_LIST = "[" + ", ".join(f"'{c}'" for c in _WX_CONDS) + "]"


@query(
    "src_weather_flatten",
    f"""
WITH dates AS (
  SELECT CAST(d AS DATE) AS date
  FROM (VALUES {", ".join(f"('{d}')" for d in _WX_DATES)}) v(d)),
grid AS (
  SELECT date, CAST(h.range AS INTEGER) AS Hour
  FROM dates CROSS JOIN range(0, 24) h)
SELECT date, Hour,
       ({_WX_LIST})[
         (datediff('day', DATE '0001-01-01', date) + 1 + Hour) % 4 + 1
       ] AS Weather_Condition
FROM grid""",
)
def src_weather_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native JSON flatten path (reference core/transform.py:78-85 ->
    from_json + explode, SURVEY.md §2.1 src_weather_flatten) driven over
    the fake client's canned payloads; the oracle recomputes the fake's
    closed-form condition rule (conditions[(toordinal(date)+hour) % 4])
    directly, so the whole parse->explode->project pipeline is value-checked."""
    import datetime

    from ..sources.weather import FakeWeatherClient, fetch_payloads, flatten_weather

    dates = [datetime.date.fromisoformat(d) for d in _WX_DATES]
    payloads = fetch_payloads(FakeWeatherClient(conditions=_WX_CONDS), dates)
    return flatten_weather(spark, payloads)


_GENERATE_AUDIT_ORACLE = """
SELECT * FROM (VALUES
  ('dist_decade', '0', CAST(200 AS BIGINT)), ('dist_decade', '1', 208),
  ('dist_decade', '2', 190), ('dist_decade', '3', 210),
  ('dist_decade', '4', 192),
  ('dur_hour', '0', 123), ('dur_hour', '1', 189), ('dur_hour', '2', 167),
  ('dur_hour', '3', 164), ('dur_hour', '4', 190), ('dur_hour', '5', 167),
  ('pkg', 'Extra Large', 16), ('pkg', 'Large', 160), ('pkg', 'Medium', 406),
  ('pkg', 'Small', 417), ('pkg', 'Special', 1),
  ('zone', 'Industrial', 44), ('zone', 'Rural', 200),
  ('zone', 'Shopping Center', 5), ('zone', 'Suburban', 372),
  ('zone', 'Urban', 379)
) t(metric, bucket, n)"""


@query("src_generate", oracle=_GENERATE_AUDIT_ORACLE)
def src_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded synthetic generator (reference core/extract.py:82-119),
    value-checked through a distribution audit: marginal counts of the
    categorical columns plus decade/hour moment buckets of Distance and
    trip duration, at the PINNED (seed=42, 1000 rows, 8 partitions)
    configuration. Spark's rand(seed) stream is deterministic given the
    partitioning (XORShift seeded per partition), so these counts are
    host-independent constants and the oracle is the closed-form VALUES
    list — same shape as corpus_bloom_contains' pinned bitmap. Duration
    is a timestamp DIFFERENCE, immune to session timezone. Broader
    distributional parity (uniformity, probability vectors) is asserted
    in tests/test_sources.py; rows-only through round 5, graduated here.

    One generate scan: the four marginals explode to (metric, bucket)
    pairs row-side and collapse in a single aggregation."""
    df = generate_deliveries(spark, 1000, seed=42, num_partitions=8)
    dur_min = (
        (
            F.unix_timestamp("Delivery_Timestamp")
            - F.unix_timestamp("Pickup_DateTime")
        )
        / 60
    ).cast("int")
    pairs = F.array(
        F.struct(F.lit("pkg").alias("metric"), F.col("Package_Type").alias("bucket")),
        F.struct(F.lit("zone").alias("metric"), F.col("Delivery_Zone").alias("bucket")),
        F.struct(
            F.lit("dist_decade").alias("metric"),
            F.floor(F.col("Distance") / 10).cast("int").cast("string").alias("bucket"),
        ),
        F.struct(
            F.lit("dur_hour").alias("metric"),
            F.floor(dur_min / 60).cast("int").cast("string").alias("bucket"),
        ),
    )
    return (
        df.select(F.explode(pairs).alias("mb"))
        .groupBy(F.col("mb.metric").alias("metric"), F.col("mb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query("src_orc_roundtrip", oracle=_DELIVERIES_ORACLE)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sink_orc + src_orc: Spark's second native columnar format, same
    vectorized-scan / pushdown machinery as parquet (extension beyond the
    reference's format set — a lake standardized on ORC/Hive switches
    WRITER_MAP['orc'] in and nothing else changes)."""
    return _roundtrip(spark, sf_dir, "orc", ".orc")


@query(
    "src_partitioned_roundtrip",
    """
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
FROM events WHERE event_type = 'purchase'""",
)
def src_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + partition-pruned source: events written
    `partitionBy(event_type)`, read back filtered to one partition. The
    value-hash proves the layout round-trip is lossless (partition column
    rehydrated from directory names, timestamps micro-exact); the plan
    pin in tests/test_plans.py proves the filter became a PartitionFilter
    (the scan never touches the other 4/5 of the data) — the layout
    pattern that turns a 100 TB full scan into a 20 TB one before a
    single row is read."""
    from . import events_table

    ev = events_table(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    path = os.path.join(_fresh_dir(spark, sf_dir, "rt_part"), "events_by_type.parquet")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    return back.select(
        "event_id",
        "user_id",
        F.col("event_type").cast("string").alias("event_type"),
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )


@query(
    "multimodal_frame_sample",
    f"""
WITH b AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
         text AS payload
  FROM documents),
f AS (
  SELECT doc_id, media_type, CAST(r.range AS BIGINT) AS frame_idx,
         substr(payload, 1 + CAST(r.range AS INTEGER) * {multimodal.FRAME_SIZE},
                {multimodal.FRAME_SIZE}) AS chunk
  FROM b CROSS JOIN range(0, {multimodal.MAX_FRAMES}) r
  WHERE CAST(r.range AS INTEGER) * {multimodal.FRAME_SIZE} < length(payload))
SELECT doc_id, media_type, frame_idx, length(chunk) AS n_bytes,
       {sql_md5i('chunk')} AS frame_hash
FROM f""",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (1 -> N mapInPandas shape): each payload expands to
    <=4 fixed-size frames, md5-hashed. The oracle chunks with VARCHAR
    substr — byte-exact here because the corpus is pure ASCII (verified:
    octet_length(text) == length(text) for every fixture row)."""
    media = multimodal.media_table(table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media)


@query(
    "multimodal_features",
    f"""
SELECT doc_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
       octet_length(encode(text)) AS n_bytes,
       {sql_md5i('text')} AS content_hash,
       {", ".join(
           f"CAST('0x' || substr(md5(text), {1 + 8 * i}, 8) AS BIGINT)"
           f" / 4294967296 AS f{i}"
           for i in range(multimodal.FEATURE_DIM)
       )}
FROM documents""",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media payload -> Arrow-batched mapInPandas feature extraction
    (deterministic md5 fake behind the stubbed codec boundary).

    The library operator (operators/multimodal.py:extract_features) keeps
    its array<double> `features` column; the registered query projects the
    array into scalar f0..f{FEATURE_DIM-1} columns because the driver's
    order-insensitive value-hash canonicalizes with a pandas sort, which
    cannot hash Python lists (CORRECTNESS_r01: TypeError unhashable type
    'list')."""
    media = multimodal.media_table(table(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "content_hash",
        *[
            F.col("features")[i].alias(f"f{i}")
            for i in range(multimodal.FEATURE_DIM)
        ],
    )


@query(
    "multimodal_dedup_bytes",
    """
WITH media AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
         md5(text) AS payload_md5,
         octet_length(encode(text)) AS n_bytes
  FROM documents)
SELECT payload_md5, n_bytes,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies,
       min(media_type) AS media_type
FROM media GROUP BY payload_md5, n_bytes""",
)
def multimodal_dedup_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical media dedup over the binary payload column
    (operators/multimodal.py dedup_payloads): md5 computed map-side,
    only (hash, size, id) ever shuffles, min-id canonical copy. The
    oracle recomputes md5 over the same UTF-8 bytes (fixture corpus is
    pure ASCII, verified — same byte-exactness note as
    multimodal_frame_sample)."""
    from ..operators import multimodal

    media = multimodal.media_table(table(spark, sf_dir, "documents"))
    return multimodal.dedup_payloads(media)


_PHASH_SQL = f"""
WITH g AS (SELECT doc_id,
      [CAST('0x' || substr(md5(substr(text, i * {multimodal.PHASH_GRAM} + 1,
                                      {multimodal.PHASH_GRAM})), 1, 15) AS BIGINT)
       for i in range(0, CAST(ceil(len(text) / {multimodal.PHASH_GRAM}) AS INT))]
        AS h
      FROM documents),
sims AS (SELECT doc_id, {_SQL_SIMHASH} AS sim FROM g),
bands AS (SELECT doc_id, sim, r.range AS band,
          (sim >> (CAST(r.range AS INTEGER) * {_W})) & {(1 << _W) - 1} AS key
          FROM sims CROSS JOIN range(0, 4) r),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                bit_count(xor(a.sim, b.sim)) AS hamming
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 3"""


@query("multimodal_phash_dedup", _PHASH_SQL)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over media payloads
    (operators/multimodal.py phash_pairs): 60-bit SimHash votes over
    4-char content grams of the decoded payload (Arrow kernel — a real
    codec would emit DCT/spectral frames at the same spot), then the
    shared banded-Hamming engine (4 x 15-bit bands, full recall at
    d <= 3 by pigeonhole). Payload bytes never shuffle — candidates move
    (id, phash, band, key) only. The oracle rebuilds the grams with
    substr over the same text the media payload encodes."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.media_table(docs)
    return multimodal.phash_pairs(media, max_hamming=3)


def _frame_dedup_sql() -> str:
    from ..operators import multimodal

    fs, mf = multimodal.FRAME_SIZE, multimodal.MAX_FRAMES
    # sample_frames slices payload BYTES; this oracle slices CHARACTERS
    # (DuckDB cannot substring a BLOB). Byte==char only holds for ASCII,
    # so BOTH sides restrict to ASCII-pure docs (octet_length == length)
    # — a no-op on the all-ASCII fixture, and a correctness guard rather
    # than a silent divergence if the fixture ever gains multibyte text.
    return f"""
WITH f AS (
  SELECT doc_id,
         substr(text, 1 + CAST(r.range AS INTEGER) * {fs}, {fs}) AS chunk
  FROM documents CROSS JOIN range(0, {mf}) r
  WHERE CAST(r.range AS INTEGER) * {fs} < length(text)
    AND octet_length(encode(text)) = length(text)),
per AS (
  SELECT doc_id, {sql_md5i('chunk')} AS h, length(chunk) AS nb,
         count(*) AS n_inst
  FROM f GROUP BY doc_id, h, nb),
nd AS (SELECT *, count(*) OVER (PARTITION BY h, nb) AS nd FROM per),
agg AS (
  SELECT doc_id, CAST(sum(n_inst) AS BIGINT) AS n_frames,
         CAST(sum(CASE WHEN nd >= 2 THEN n_inst ELSE 0 END) AS BIGINT)
           AS n_dup_frames
  FROM nd GROUP BY doc_id)
SELECT doc_id,
       ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)]
         AS media_type,
       n_frames, n_dup_frames,
       {sql_round('CAST(n_dup_frames AS DOUBLE) / n_frames * 10000', 0)} / 10000
         AS dup_ratio
FROM agg"""


@query("multimodal_frame_dedup", _frame_dedup_sql())
def multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level near-duplicate detection for media: the per-media ratio
    of sampled frames whose (hash, size) occurs in >= 2 distinct docs —
    the cheap video/audio near-dup screen (re-encoded uploads and clip
    compilations share exact keyframes long before perceptual hashing is
    needed). Same single-scan shape as dedup_passage at frame grain:
    frames explode via the Arrow-batched sampler (bytes never shuffle —
    only (doc, hash, size) rows move), collapse to distinct
    (hash, size, doc) with instance counts, cross-doc frequency is a
    window over that collapsed relation, one per-doc re-aggregate. The
    (hash, size) compound key mirrors multimodal.dedup_payloads' md5
    collision guard."""
    from pyspark.sql import Window

    from ..operators import multimodal

    # ASCII-pure restriction mirrors the oracle's (see _frame_dedup_sql):
    # the operator slices payload BYTES, the SQL twin slices CHARS.
    docs = table(spark, sf_dir, "documents").where(
        F.octet_length(F.encode("text", "utf-8")) == F.length("text")
    )
    media = multimodal.media_table(docs)
    frames = multimodal.sample_frames(media).select(
        "doc_id", F.col("frame_hash").alias("h"), F.col("n_bytes").alias("nb")
    )
    per = frames.groupBy("doc_id", "h", "nb").agg(F.count(F.lit(1)).alias("n_inst"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h", "nb"))
    agg = (
        per.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("n_inst").cast("long").alias("n_frames"),
            F.sum(F.when(F.col("nd") >= 2, F.col("n_inst")).otherwise(0))
            .cast("long")
            .alias("n_dup_frames"),
        )
    )
    mt = F.element_at(
        F.array(*[F.lit(t) for t in multimodal.MEDIA_TYPES]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return agg.select(
        "doc_id",
        mt.alias("media_type"),
        "n_frames",
        "n_dup_frames",
        (
            F.round(F.col("n_dup_frames").cast("double") / F.col("n_frames") * 10000)
            / 10000
        ).alias("dup_ratio"),
    )


# =========================== media chunk planning ============================

_CHUNK_MS = 30_000  # 30 s windows

_STRIDE_MS = 25_000  # 5 s overlap

_MS_PER_BYTE = 5  # synthetic duration: 5 ms of audio per payload byte


# Fixed-window-with-overlap chunk plan for audio media (the whisper-style 30 s
# / 5 s-overlap transcription layout) — offsets are pure arithmetic over
# synthetic durations, the explode is map-side, and the decode stage stays the
# documented codec stub (operators/multimodal.py): the Spark-side plumbing is
# what this verifies.
@query(
    "multimodal_chunk_windows",
    f"""
WITH a AS (
  SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) * {_MS_PER_BYTE} AS duration_ms
  FROM documents WHERE doc_id % 3 = 1),
c AS (
  SELECT doc_id, duration_ms, CAST(r.range AS BIGINT) AS chunk_idx,
         CAST(r.range AS BIGINT) * {_STRIDE_MS} AS start_ms
  FROM a CROSS JOIN range(0, 4096) r
  WHERE CAST(r.range AS BIGINT) * {_STRIDE_MS} < duration_ms)
SELECT doc_id, duration_ms, chunk_idx, start_ms,
       CAST(least(start_ms + {_CHUNK_MS}, duration_ms) AS BIGINT) AS end_ms
FROM c
""",
)
def multimodal_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whisper-style transcription chunk plan for the audio rows of the
    media table (media_type round-robins by doc_id % 3, matching
    operators/multimodal.py:media_table; duration is the documented
    synthetic stand-in — {_MS_PER_BYTE} ms per payload byte — because
    audio codecs are stubbed in this container): 30 s windows every
    25 s (5 s overlap, so no utterance is cut at every boundary), last
    window clamped to the duration. The plan is pure map-side
    arithmetic + a bounded explode — at 100 TB this is the stage that
    fans a media corpus out to transcription workers, and it never
    shuffles."""
    docs = table(spark, sf_dir, "documents")
    a = docs.where(F.col("doc_id") % 3 == 1).select(
        "doc_id",
        (F.octet_length(F.encode("text", "utf-8")).cast("long") * _MS_PER_BYTE).alias(
            "duration_ms"
        ),
    )
    n_chunks = F.ceil(F.col("duration_ms") / _STRIDE_MS).cast("int")
    c = a.select(
        "doc_id",
        "duration_ms",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1), lambda i: i.cast("long")
            )
        ).alias("chunk_idx"),
    )
    return c.select(
        "doc_id",
        "duration_ms",
        "chunk_idx",
        (F.col("chunk_idx") * _STRIDE_MS).alias("start_ms"),
        F.least(
            F.col("chunk_idx") * _STRIDE_MS + _CHUNK_MS, F.col("duration_ms")
        )
        .cast("long")
        .alias("end_ms"),
    )


# ==================== multimodal payload size quartiles ======================


# Per media type, payload byte quartiles — the storage/layout planner's input
# (shard sizing, frame budget) over the synthetic binary-payload convention.
@query(
    "multimodal_payload_size_percentiles",
    """
WITH b AS (
  SELECT ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INTEGER)] AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents)
SELECT media_type, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       quantile_cont(n_bytes, 0.25) AS p25_bytes,
       quantile_cont(n_bytes, 0.5) AS p50_bytes,
       quantile_cont(n_bytes, 0.75) AS p75_bytes
FROM b GROUP BY media_type
""",
)
def multimodal_payload_size_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Payload byte quartiles per media type (the doc_id % 3 synthetic
    media convention shared by multimodal_frame_sample) — what sizes
    shards, frame budgets, and decode batch shapes downstream. Integer
    byte counts, exact percentiles at |media_types| grain."""
    b = table(spark, sf_dir, "documents").select(
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )
    return b.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.expr("percentile(n_bytes, 0.25)").alias("p25_bytes"),
        F.expr("percentile(n_bytes, 0.5)").alias("p50_bytes"),
        F.expr("percentile(n_bytes, 0.75)").alias("p75_bytes"),
    )


_LC_N_FILES = 8

# Injective length-prefixed one-md5 row digest — the SAME construction
# as operators/reconcile._digest52 (imported, not re-derived): each
# field encodes as `len ':' value '|'` (NULL -> 'N|'), one md5 per row.
# ADVICE r11: the previous per-column-md5 variant here was the
# construction reconcile's docstring documents as measured ~2x slower,
# and these identity queries digest full-table scans. bit_xor of the
# per-row 52-bit digests is order-free and overflow-free — the multiset
# content fingerprint both engines reproduce bit-for-bit.
_EV_COLS = ["event_id", "ts_us", "user_id", "event_type", "cents", "props"]


def _row_digest52(cols: list[str]) -> Column:
    return _digest52(cols)


def _sql_token(c: str) -> str:
    return (
        f"CASE WHEN {c} IS NULL THEN 'N|' "
        f"ELSE CAST(length(CAST({c} AS VARCHAR)) AS VARCHAR) || ':' "
        f"|| CAST({c} AS VARCHAR) || '|' END"
    )


_SQL_EV_DIGEST = (
    "CAST('0x' || substr(md5("
    + " || ".join(_sql_token(c) for c in _EV_COLS)
    + "), 1, 13) AS BIGINT)"
)

_SQL_EV_PROJ = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
       CAST(round(value * 100) AS BIGINT) AS cents, props
FROM events
"""


def _events_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_table(spark, sf_dir).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "props",
    )


def _content_summary(back: DataFrame, n_files: int | None) -> DataFrame:
    out = back.withColumn("__dig", _row_digest52(_EV_COLS)).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr("bit_xor(__dig)").cast("long").alias("content_digest"),
    )
    if n_files is not None:
        out = out.select(
            F.lit(n_files).cast("long").alias("n_files"), "n_rows", "content_digest"
        )
    return out


# Compaction (many small files -> exactly N size-targeted files) must be a pure
# rewrite — read-back of the compacted table must carry the exact same multiset
# of rows. The oracle computes the same order-free content digest over the
# ORIGINAL table; equality proves the rewrite lost/duplicated/mutated nothing,
# and the emitted file count proves the exactly-N contract.
@query(
    "layout_compact_identity",
    f"""
WITH src AS ({_SQL_EV_PROJ})
SELECT CAST({_LC_N_FILES} AS BIGINT) AS n_files,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor({_SQL_EV_DIGEST}) AS BIGINT) AS content_digest
FROM src
""",
)
def layout_compact_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction as a REGISTERED identity check: rewrite the
    events table into exactly {_LC_N_FILES} round-robin-balanced parquet
    files (operators/layout.compact_to_files — repartition, not coalesce,
    so upstream parallelism survives and file sizes stay uniform), read
    the compacted result BACK, and fingerprint it with an order-free
    bit_xor of injective per-row 52-bit md5 digests. The oracle computes
    the identical digest over the ORIGINAL rows: hash equality == the
    rewrite preserved the exact row multiset, and n_files (counted from
    the actual output listing) == the exactly-N file contract. At 100 TB
    this is the nightly compaction job plus the cheap invariant you'd
    alert on; one shuffle in, one scan back."""
    path = scratch(spark, sf_dir, "compact")
    layout.compact_to_files(_events_projected(spark, sf_dir), path, _LC_N_FILES)
    n_files = len(glob.glob(os.path.join(path, "*.parquet")))
    return _content_summary(spark.read.parquet(path), n_files)


# The multi-dimension Z-order clustered write (Morton-interleaved quantile
# buckets, operators/layout.py:zorder_value) must also be a pure rewrite: same
# digest construction, proving the _z machinery (approxQuantile cut points, bit
# interleave, range repartition, drop) never touches row content.
@query(
    "layout_zorder_identity",
    f"""
WITH src AS ({_SQL_EV_PROJ})
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor({_SQL_EV_DIGEST}) AS BIGINT) AS content_digest
FROM src
""",
)
def layout_zorder_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered rewrite as a registered identity check: cluster
    the events table on (user_id, cents) via Morton-interleaved quantile
    buckets (operators/layout.write_zorder_clustered), read it back, and
    prove the row multiset survived bit-for-bit with the same order-free
    digest as layout_compact_identity. The clustering machinery —
    approxQuantile cut points, bit interleave, repartitionByRange on _z,
    the dropped sort key — must be content-invisible; only the file-level
    min/max geometry may change (THAT property is footer-asserted in
    tests/test_layout.py). File count is layout-dependent (empty range
    partitions emit no file), so the identity here is rows+digest only."""
    path = scratch(spark, sf_dir, "zorder")
    layout.write_zorder_clustered(
        _events_projected(spark, sf_dir), path, ["user_id", "cents"],
        n_files=_LC_N_FILES, bits=4,
    )
    return _content_summary(spark.read.parquet(path), None).select(
        "n_rows", "content_digest"
    )


@query(
    "layout_bucketed_join",
    f"""
SELECT c_mktsegment AS mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_round("sum(o_totalprice)", 2)} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY mktsegment
""",
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by market segment through BUCKETED catalog tables: both
    sides are written bucketed on the join key (8 buckets, sorted within
    buckets — the one-time write shuffle that converts every later join
    on the key into a zero-Exchange bucket zip; plan pinned in
    tests/test_layout.py::test_bucketed_join_has_no_exchange), then
    joined via operators/layout.bucketed_equi_join. The oracle is the
    plain join+aggregate over the original parquet — the bucketed
    layout must be semantically invisible. Table names and paths are
    keyed by sf_dir so scale factors never collide; both the session
    catalog and the scratch root are per session, so concurrent processes
    never share them."""
    base = scratch(spark, sf_dir, "bucketed")
    tag = os.path.basename(base)
    orders_name, cust_name = f"lyt_orders_{tag}", f"lyt_customer_{tag}"
    layout.write_bucketed(
        table(spark, sf_dir, "orders").select(
            F.col("o_custkey").alias("custkey"), "o_totalprice"
        ),
        orders_name,
        ["custkey"],
        8,
        os.path.join(base, "orders"),
        sort_cols=["custkey"],
    )
    layout.write_bucketed(
        table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment"
        ),
        cust_name,
        ["custkey"],
        8,
        os.path.join(base, "customer"),
        sort_cols=["custkey"],
    )
    return (
        layout.bucketed_equi_join(spark, orders_name, cust_name, ["custkey"])
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            exprs.round2(F.sum("o_totalprice")).alias("revenue"),
        )
        .transform(sort_report, "mktsegment")
    )


def _pruned_scan(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """(one-day pruned read of the partitioned rewrite, day key).

    The rewrite is idempotent per (sf_dir, session) scratch location; the
    probed day is the corpus's MINIMUM day, computed with one tiny
    aggregate so the filter lands as a plan-time literal — exactly how a
    daily job addresses yesterday's partition."""
    path = scratch(spark, sf_dir, "pruneday")
    src = _events_projected(spark, sf_dir).withColumn(
        "day", F.date_format(F.timestamp_micros("ts_us"), "yyyy-MM-dd")
    )
    layout.write_partitioned(src, path, ["day"])
    min_day = (
        _events_projected(spark, sf_dir)
        .agg(F.min(F.date_format(F.timestamp_micros("ts_us"), "yyyy-MM-dd")))
        .first()[0]
    )
    back = spark.read.parquet(path).where(F.col("day") == min_day)
    return back, min_day


# Rewrite the projected events table HIVE-PARTITIONED by day, read back exactly
# ONE day through the partition column, and prove (a) the pruned slice's row
# multiset is bit-identical to filtering the source (the same order-free
# xor-of- row-digests as layout_compact_identity) and (b) — in the pinning test
# — that the scan plans a PartitionFilters entry, i.e. Spark never touches the
# other days' files. This is the third leg of the layout family (compaction
# identity, z-order identity, bucketed join): at 100 TB, date partitioning is
# the difference between scanning one directory and scanning three years. (Day
# grain, not month: the fixture corpus spans ~one month, so only day
# partitioning makes the prune non-trivial — 1/30 of the files — at every
# oracle scale.)
@query(
    "layout_partition_prune_identity",
    f"""
WITH src AS ({_SQL_EV_PROJ}),
m AS (SELECT min(strftime(make_timestamp(ts_us), '%Y-%m-%d')) AS d FROM src),
sl AS (SELECT src.* FROM src CROSS JOIN m
       WHERE strftime(make_timestamp(ts_us), '%Y-%m-%d') = m.d)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor({_SQL_EV_DIGEST}) AS BIGINT) AS content_digest
FROM sl
""",
)
def layout_partition_prune_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-partitioned rewrite + single-partition read-back identity:
    the pruned day's rows must carry the exact multiset digest of
    filtering the ORIGINAL relation to that day — the partition
    layout is semantically invisible, only the I/O geometry changes
    (the plan-level PartitionFilters guarantee is pinned in
    tests/test_round13.py::test_partition_prune_plan_has_filters). The
    day key is derived from the SAME integer microseconds on both
    engines (date_format vs strftime over a UTC session), and the
    digest drops the partition column so the identity is over the
    original six columns."""
    back, _ = _pruned_scan(spark, sf_dir)
    return _content_summary(back.select(*_EV_COLS), None).select(
        "n_rows", "content_digest"
    )


_BIN_N = 64  # files per corpus — enough for real listing/partition work


def _ensure_bin_files(spark: SparkSession, sf_dir: str) -> str:
    """Write one .bin payload file per document (doc_id < {_BIN_N}),
    UTF-8 text bytes, into the session scratch dir once per session: the
    `_SUCCESS` marker is written last, so a torn write is redone."""
    path = scratch(spark, sf_dir, "binin")
    marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(marker):
        return path
    rows = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < _BIN_N)
        .select("doc_id", "text")
        .collect()
    )
    os.makedirs(path, exist_ok=True)
    for r in rows:
        with open(os.path.join(path, f"doc{r['doc_id']:04d}.bin"), "wb") as fh:
            fh.write(r["text"].encode("utf-8"))
    open(marker, "w").close()
    return path


# Materialize a directory of small binary payload files (one per document,
# deterministic content) and ingest it through Spark's `binaryFile` source —
# the path a 100 TB multimodal corpus actually arrives on (image/audio blobs as
# opaque bytes + typed metadata; see operators/multimodal.py for the decode
# stage). The oracle computes the EXPECTED (file name, byte length, md5)
# directly from the documents table, so the hash row checks the whole write ->
# list -> read -> hash chain without the SQL ever touching the filesystem (the
# same roundtrip-identity shape as src_csv_roundtrip).
@query(
    "src_binary_ingest",
    f"""
SELECT 'doc' || lpad(CAST(doc_id AS VARCHAR), 4, '0') || '.bin' AS file_name,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5
FROM documents WHERE doc_id < {_BIN_N}
ORDER BY file_name""",
)
def src_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload ingestion through the `binaryFile` source: write
    {_BIN_N} one-document .bin files (once per session, session scratch),
    then read the DIRECTORY back as (path, length, content) and emit
    (file_name, n_bytes, md5(content)). The oracle derives the same
    triple from the source table, so a mismatch anywhere in the
    write/list/read/hash chain — a truncated file, a mangled byte, a
    lost file — breaks the hash row. The fixture corpus is pure ASCII
    (the multimodal_dedup_bytes byte-exactness note), so DuckDB's
    md5(VARCHAR) equals Spark's md5(BINARY) over the UTF-8 bytes. At
    100 TB this source lists object-store prefixes into file-sized
    tasks (maxPartitionBytes-bounded); the decode stage downstream is
    operators/multimodal.py."""
    path = _ensure_bin_files(spark, sf_dir)
    df = spark.read.format("binaryFile").load(f"{path}/*.bin")
    return (
        df.select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("length").cast("long").alias("n_bytes"),
            F.md5("content").alias("payload_md5"),
        )
        .orderBy("file_name")
    )
