"""Sources: generator distributions, reader dispatch semantics, timestamp
contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from laposte_data_engineering_jedha_spark.schemas import RAW_COLUMNS
from laposte_data_engineering_jedha_spark.sources.generate import generate_deliveries
from laposte_data_engineering_jedha_spark.sources.readers import (
    cast_timestamp_contract,
    extract_data,
    read_file,
)


def test_generator_schema_and_ids(spark):
    df = generate_deliveries(spark, 100, seed=7, num_partitions=4)
    assert df.columns == RAW_COLUMNS
    rows = df.collect()
    assert len(rows) == 100
    ids = sorted(r.Delivery_ID for r in rows)
    assert ids[0] == "SC1000" and "SC1099" in ids and len(set(ids)) == 100


def test_generator_distributions(spark):
    """Distributional parity with core/extract.py:94-113 (seedless there,
    so moments/frequencies, not rows)."""
    df = generate_deliveries(spark, 20_000, seed=42, num_partitions=8)
    agg = df.agg(
        F.min("Distance").alias("dmin"),
        F.max("Distance").alias("dmax"),
        F.avg((F.col("Package_Type") == "Small").cast("int")).alias("p_small"),
        F.avg((F.col("Delivery_Zone") == "Urban").cast("int")).alias("p_urban"),
        F.min(
            (F.unix_timestamp("Delivery_Timestamp") - F.unix_timestamp("Pickup_DateTime")) / 60
        ).alias("dur_min"),
        F.max(
            (F.unix_timestamp("Delivery_Timestamp") - F.unix_timestamp("Pickup_DateTime")) / 60
        ).alias("dur_max"),
    ).first()
    assert 1.0 <= agg.dmin and agg.dmax < 50.0
    assert agg.p_small == pytest.approx(0.40, abs=0.02)
    assert agg.p_urban == pytest.approx(0.35, abs=0.02)
    assert 20 <= agg.dur_min and agg.dur_max < 360


def test_generator_deterministic(spark):
    a = generate_deliveries(spark, 500, seed=42, num_partitions=4).collect()
    b = generate_deliveries(spark, 500, seed=42, num_partitions=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_read_file_missing_path(spark):
    with pytest.raises(FileNotFoundError):
        read_file(spark, "/nonexistent/file.csv")


def test_read_file_unknown_extension(spark, tmp_path):
    p = tmp_path / "data.xyz"
    p.write_text("hi")
    with pytest.raises(ValueError, match="Unsupported file type"):
        read_file(spark, str(p))


@pytest.mark.parametrize("ext", ["db", "xlsx"])
def test_read_file_empty_table_keeps_columns(spark, tmp_path, ext):
    """A sqlite table or xlsx sheet with columns and no rows reads as zero
    rows under the table's column names (zero rows tell no types, so the
    columns are strings), and the timestamp contract still applies."""
    import sqlite3

    from laposte_data_engineering_jedha_spark.sources.xlsx_codec import write_xlsx

    path = str(tmp_path / f"empty.{ext}")
    if ext == "db":
        with sqlite3.connect(path) as conn:
            conn.execute(f"CREATE TABLE deliveries ({', '.join(RAW_COLUMNS)})")
        conn.close()
    else:
        write_xlsx(path, RAW_COLUMNS, [])
    df = cast_timestamp_contract(read_file(spark, path))
    assert df.columns == RAW_COLUMNS
    assert df.count() == 0
    assert df.schema["Pickup_DateTime"].dataType.typeName() == "timestamp"
    assert df.schema["Delivery_ID"].dataType.typeName() == "string"


def test_extract_unknown_source_type(spark):
    with pytest.raises(ValueError, match="Unknown or missing source type"):
        extract_data(spark, {"source": {"type": "teleport"}})


def test_extract_csv_casts_timestamps(spark, tmp_path):
    """The reference integration test's CSV contract
    (tests/test_pipeline.py:27-34): ISO strings parse back to timestamps."""
    p = tmp_path / "one.csv"
    p.write_text(
        "Delivery_ID,Pickup_DateTime,Delivery_Timestamp,Package_Type,Distance,Delivery_Zone\n"
        "SC1000,2025-09-05T10:00:00,2025-09-05T11:30:00,Large,10.0,Urban\n"
    )
    df = extract_data(spark, {"source": {"type": "file", "path": str(p)}})
    row = df.first()
    assert df.schema["Pickup_DateTime"].dataType.typeName().startswith("timestamp")
    assert row.Pickup_DateTime.hour == 10 and row.Delivery_Timestamp.minute == 30


def test_extract_generate(spark):
    df = extract_data(spark, {"source": {"type": "generate", "rows": 50}})
    assert df.count() == 50 and df.columns == RAW_COLUMNS


# --- XLSX codec (sources/xlsx_codec.py) --------------------------------------


def test_xlsx_codec_type_roundtrip(tmp_path):
    """Pure-codec round-trip of every supported cell type, including XML
    special characters, empty strings, and None cells."""
    import datetime

    from laposte_data_engineering_jedha_spark.sources import xlsx_codec

    path = str(tmp_path / "t.xlsx")
    cols = ["s", "i", "f", "b", "dt", "d", "none"]
    rows_in = [
        ["a<b>&\"'c", 42, 3.14159, True, datetime.datetime(2025, 9, 5, 10, 30, 15),
         datetime.date(2025, 9, 5), None],
        ["", -7, 0.1 + 0.2, False, datetime.datetime(2025, 1, 1), datetime.date(2025, 1, 1), None],
    ]
    xlsx_codec.write_xlsx(path, cols, rows_in)
    out_cols, rows = xlsx_codec.read_xlsx(path)
    out = list(rows)
    assert out_cols == cols
    assert out[0] == ["a<b>&\"'c", 42, 3.14159, True, "2025-09-05 10:30:15", "2025-09-05", None]
    # repr round-trip keeps doubles bit-exact (0.1+0.2 != 0.3)
    assert out[1][2] == 0.1 + 0.2
    assert out[1] == ["", -7, 0.1 + 0.2, False, "2025-01-01 00:00:00", "2025-01-01", None]


def test_xlsx_writer_reader_spark_roundtrip(spark, tmp_path):
    """XlsxWriter -> XlsxReader -> timestamp contract == the original frame
    (the src_xlsx_roundtrip path, reference readers.py:52-55 /
    writers.py:61-70)."""
    from laposte_data_engineering_jedha_spark.sources.readers import XlsxReader
    from laposte_data_engineering_jedha_spark.sources.writers import XlsxWriter

    df = extract_data(spark, {"source": {"type": "generate", "rows": 40, "seed": 3}})
    path = str(tmp_path / "d.xlsx")
    XlsxWriter(path).write(df)
    back = cast_timestamp_contract(XlsxReader(path).read(spark)).select(*RAW_COLUMNS)
    assert back.schema["Pickup_DateTime"].dataType.typeName().startswith("timestamp")
    orig = {r.Delivery_ID: r for r in df.collect()}
    for r in back.collect():
        o = orig[r.Delivery_ID]
        assert (r.Pickup_DateTime, r.Delivery_Timestamp) == (o.Pickup_DateTime, o.Delivery_Timestamp)
        assert (r.Package_Type, r.Delivery_Zone) == (o.Package_Type, o.Delivery_Zone)
        assert r.Distance == o.Distance


def test_xlsx_compressed_roundtrip(tmp_path):
    """compress=True (deflated entries) round-trips identically to the
    stored default and produces a genuinely smaller file."""
    import os

    from laposte_data_engineering_jedha_spark.sources import xlsx_codec

    cols = ["s", "n"]
    rows_in = [[f"text {i} &<>", i * 1.5] for i in range(2000)]
    stored = str(tmp_path / "stored.xlsx")
    packed = str(tmp_path / "packed.xlsx")
    xlsx_codec.write_xlsx(stored, cols, rows_in)
    xlsx_codec.write_xlsx(packed, cols, rows_in, compress=True)
    _, r1 = xlsx_codec.read_xlsx(stored)
    _, r2 = xlsx_codec.read_xlsx(packed)
    assert list(r1) == list(r2)
    assert os.path.getsize(packed) < os.path.getsize(stored) / 2


@pytest.mark.parametrize("sink", ["xlsx", "sqlite"])
def test_driver_sinks_read_scan_files_or_temporary_parquet(spark, tmp_path, sink):
    """The driver-side sinks stream Arrow batches either from the parquet
    files a plain scan reads (here under a directory whose name needs
    percent-encoding in a file: URI) or, for a computed lineage, from a
    temporary parquet write. Both branches write the same file."""
    import datetime
    import decimal
    import sqlite3

    from laposte_data_engineering_jedha_spark.sources.writers import (
        SqliteWriter,
        XlsxWriter,
        _scanned_parquet_files,
    )
    from laposte_data_engineering_jedha_spark.sources.xlsx_codec import read_xlsx

    rows = [
        (1, None, True, datetime.date(2025, 9, 5), decimal.Decimal("1.50"),
         datetime.datetime(2025, 9, 5, 10, 30, 15, 123456), 1e-05, "a&<>b"),
        (2, 7, False, datetime.date(2025, 1, 1), decimal.Decimal("-2.25"),
         datetime.datetime(2025, 1, 1, 8, 0, 0, 500000), 1e16, "x"),
    ]
    schema = "id long, n int, b boolean, d date, dec decimal(10,2), ts timestamp, f double, s string"
    src = str(tmp_path / "src dir%" / "t.parquet")
    # one part file, so both branches see one partition and one batch
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    scan = spark.read.parquet(src)
    computed = scan.filter(F.col("id") > 0)
    assert _scanned_parquet_files(scan) is not None
    assert _scanned_parquet_files(computed) is None

    expected = [
        [1, None, True, "2025-09-05", "1.50", "2025-09-05 10:30:15.123456", 1e-05, "a&<>b"],
        [2, 7, False, "2025-01-01", "-2.25", "2025-01-01 08:00:00.500000", 1e16, "x"],
    ]
    paths = [str(tmp_path / f"{name}.{sink}") for name in ("scan", "computed")]
    if sink == "xlsx":
        for frame, path in zip([scan, computed], paths):
            XlsxWriter(path).write(frame)
        with open(paths[0], "rb") as a, open(paths[1], "rb") as b:
            assert a.read() == b.read()
        columns, back = read_xlsx(paths[0])
        assert columns == scan.columns and list(back) == expected
    else:
        tables = []
        for frame, path in zip([scan, computed], paths):
            SqliteWriter(path).write(frame)
            with sqlite3.connect(path) as conn:
                tables.append(conn.execute("SELECT * FROM deliveries ORDER BY id").fetchall())
        assert tables[0] == tables[1]
        # sqlite has no bool type: True/False bind as 1/0
        assert tables[0] == [tuple(int(v) if isinstance(v, bool) else v for v in r) for r in expected]
