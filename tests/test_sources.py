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

    from laposte_data_engineering_jedha_spark.sources.writers import XlsxWriter

    path = str(tmp_path / f"empty.{ext}")
    if ext == "db":
        with sqlite3.connect(path) as conn:
            conn.execute(f"CREATE TABLE deliveries ({', '.join(RAW_COLUMNS)})")
        conn.close()
    else:
        XlsxWriter(path).write(generate_deliveries(spark, 0))
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


def test_xlsx_codec_type_roundtrip(spark, tmp_path):
    """XlsxWriter -> XlsxReader round-trip of every supported cell type,
    including XML special characters, empty strings, and NULL cells:
    timestamps and dates come back as their ISO text, an all-NULL column
    as strings."""
    import datetime

    from laposte_data_engineering_jedha_spark.sources.readers import XlsxReader
    from laposte_data_engineering_jedha_spark.sources.writers import XlsxWriter

    path = str(tmp_path / "t.xlsx")
    schema = "s string, i long, f double, b boolean, dt timestamp, d date, none string"
    rows_in = [
        ("a<b>&\"'c", 42, 3.14159, True, datetime.datetime(2025, 9, 5, 10, 30, 15),
         datetime.date(2025, 9, 5), None),
        ("", -7, 0.1 + 0.2, False, datetime.datetime(2025, 1, 1), datetime.date(2025, 1, 1), None),
    ]
    XlsxWriter(path).write(spark.createDataFrame(rows_in, schema).coalesce(1))
    back = XlsxReader(path).read(spark)
    assert back.columns == ["s", "i", "f", "b", "dt", "d", "none"]
    assert [f.dataType.typeName() for f in back.schema.fields] == [
        "string", "long", "double", "boolean", "string", "string", "string"
    ]
    out = [list(r) for r in back.collect()]
    assert out[0] == ["a<b>&\"'c", 42, 3.14159, True, "2025-09-05 10:30:15", "2025-09-05", None]
    # repr round-trip keeps doubles bit-exact (0.1+0.2 != 0.3)
    assert out[1][2] == 0.1 + 0.2
    assert out[1] == ["", -7, 0.1 + 0.2, False, "2025-01-01 00:00:00", "2025-01-01", None]


def test_xlsx_reader_parses_workbooks_from_other_tools(spark, tmp_path):
    """A workbook in openpyxl's shape (shared strings, `r` cell refs, a
    skipped cell, t="b" and t="str" cells) misses the fast path for this
    codec's own sheets and reads through the general parser."""
    import zipfile

    from laposte_data_engineering_jedha_spark.sources.readers import XlsxReader

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    strings = ["name", "n", "ok", "label", "alpha", "beta"]
    shared = (
        f'<?xml version="1.0" encoding="UTF-8"?><sst {ns} count="6" uniqueCount="6">'
        + "".join(f"<si><t>{t}</t></si>" for t in strings)
        + "</sst>"
    )
    sheet = (
        f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>3</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>4</v></c><c r="B2"><v>7</v></c>'
        '<c r="C2" t="b"><v>1</v></c><c r="D2" t="str"><f>A2</f><v>x&amp;y</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>5</v></c>'
        '<c r="C3" t="b"><v>0</v></c><c r="D3" t="str"><v>z</v></c></row>'
        "</sheetData></worksheet>"
    )
    path = str(tmp_path / "other.xlsx")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    back = XlsxReader(path).read(spark)
    assert back.columns == ["name", "n", "ok", "label"]
    assert [tuple(r) for r in back.collect()] == [("alpha", 7, True, "x&y"), ("beta", None, False, "z")]


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


@pytest.mark.parametrize("sink", ["xlsx", "sqlite"])
def test_driver_sinks_stream_given_files_or_a_temporary_stage(spark, tmp_path, sink):
    """The driver-side sinks stream Arrow batches either from the parquet
    files the caller gives (here under a directory whose name would need
    percent-encoding in a file: URI) or, given none, from one parquet
    write of the frame into a temp dir next to the target, removed
    afterwards. Both branches write the same bytes."""
    import datetime
    import decimal
    import sqlite3

    from laposte_data_engineering_jedha_spark.sources.readers import XlsxReader
    from laposte_data_engineering_jedha_spark.sources.writers import WRITER_MAP, part_files

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
    frame = spark.read.parquet(src)

    expected = [
        [1, None, True, "2025-09-05", "1.50", "2025-09-05 10:30:15.123456", 1e-05, "a&<>b"],
        [2, 7, False, "2025-01-01", "-2.25", "2025-01-01 08:00:00.500000", 1e16, "x"],
    ]
    given, staged = (tmp_path / f"given.{sink}", tmp_path / "out" / f"staged.{sink}")
    WRITER_MAP[sink](str(given)).write(frame, part_files(src))
    WRITER_MAP[sink](str(staged)).write(frame.filter(F.col("id") > 0))
    assert given.read_bytes() == staged.read_bytes()
    assert os.listdir(staged.parent) == [staged.name]  # the temp stage is gone
    if sink == "xlsx":
        back = XlsxReader(str(given)).read(spark)
        assert back.columns == frame.columns
        assert [list(r) for r in back.collect()] == expected
    else:
        with sqlite3.connect(given) as conn:
            table = conn.execute("SELECT * FROM deliveries ORDER BY id").fetchall()
        # sqlite has no bool type: True/False bind as 1/0
        assert table == [tuple(int(v) if isinstance(v, bool) else v for v in r) for r in expected]
