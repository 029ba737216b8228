"""File readers — the reference's five-format reader family
(sources/readers.py:26-55) plus the extension dispatch + timestamp-cast
contract (core/extract.py:16-22,57-80).

csv, json, parquet and orc share one body, `SparkReader.read`: a native
distributed `spark.read` scan (predicate pushdown + column pruning for
free) in the class's format and options; each reads a single file or a
multi-part output directory. SQLite and XLSX have no core-Spark source in
this environment, so they bridge through the driver — fine for the
reference's single-file semantics; the docstrings note the cluster path
(JDBC / spark-excel connector) for real deployments.
"""

from __future__ import annotations

import os
import sqlite3

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class BaseReader:
    def __init__(self, path: str):
        self.path = path

    def read(self, spark: SparkSession) -> DataFrame:
        raise NotImplementedError


class SparkReader(BaseReader):
    """A distributed `spark.read` scan in `FORMAT` with `options()`."""

    FORMAT = ""
    OPTIONS: dict = {}

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.format(self.FORMAT).options(**self.options()).load(self.path)

    def options(self) -> dict:
        return self.OPTIONS


class CsvReader(SparkReader):
    """CSV with header + inferred types (reference sources/readers.py:30-33)."""

    FORMAT = "csv"
    OPTIONS = {"header": True, "inferSchema": True}


class JsonReader(SparkReader):
    """JSON (reference sources/readers.py:35-38 reads an array-of-records
    file, Polars-style). Spark's native JSON is NDJSON, and so is a
    directory (a multi-part JSON output); an array file is detected by its
    first non-whitespace byte and read multiLine."""

    FORMAT = "json"

    def options(self) -> dict:
        if os.path.isdir(self.path):
            return {"multiLine": False}
        with open(self.path, "rb") as fh:
            return {"multiLine": fh.read(64).lstrip().startswith(b"[")}


class ParquetReader(SparkReader):
    """Parquet (reference sources/readers.py:40-43)."""

    FORMAT = "parquet"


class OrcReader(SparkReader):
    """ORC — Spark's second native columnar format (vectorized reader,
    predicate pushdown, column pruning — same scan machinery as parquet).
    Beyond the reference's format set, but a drop-in for lakes standardized
    on ORC/Hive."""

    FORMAT = "orc"


def _arrow_table(pdf: pd.DataFrame):
    """A driver-read pandas frame as one Arrow table typed from the pandas
    dtypes. Zero rows tell no type for an object column (Arrow infers
    null), so such columns become strings: an empty table still reads,
    with its column names."""
    import pyarrow as pa

    table = pa.Table.from_pandas(pdf, preserve_index=False)
    return table.cast(
        pa.schema(
            [f.with_type(pa.string()) if pa.types.is_null(f.type) else f for f in table.schema]
        )
    )


class SqliteReader(BaseReader):
    """SQLite, fixed query `SELECT * FROM deliveries` (reference
    sources/readers.py:45-50). Driver-side sqlite3 -> one Arrow table
    -> createDataFrame; on a cluster this becomes
    `spark.read.format('jdbc').option('url', 'jdbc:sqlite:...')` with a
    partitioned read (no sqlite-jdbc jar in this sandbox)."""

    TABLE = "deliveries"

    def read(self, spark: SparkSession) -> DataFrame:
        with sqlite3.connect(self.path) as conn:
            pdf = pd.read_sql_query(f"SELECT * FROM {self.TABLE}", conn)
        return spark.createDataFrame(_arrow_table(pdf))


class XlsxReader(BaseReader):
    """Excel workbook (reference sources/readers.py:52-55) via the
    pure-stdlib OOXML codec (sources/xlsx_codec.py) — no openpyxl needed,
    and the same reader in every environment. Single-workbook
    driver-side bridge by nature; the cluster-scale alternative is the
    com.crealytics:spark-excel connector."""

    def read(self, spark: SparkSession) -> DataFrame:
        from . import xlsx_codec

        return spark.createDataFrame(_arrow_table(xlsx_codec.read_xlsx_pandas(self.path)))


READER_MAP: dict[str, type[BaseReader]] = {
    ".csv": CsvReader,
    ".json": JsonReader,
    ".parquet": ParquetReader,
    ".orc": OrcReader,
    ".db": SqliteReader,
    ".xlsx": XlsxReader,
}


def cast_timestamp_contract(df: DataFrame) -> DataFrame:
    """Post-read contract cast (reference core/extract.py:77-80): both
    datetime columns -> timestamp regardless of source (parses the ISO
    strings that CSV round-trips produce)."""
    return df.withColumns(
        {
            "Pickup_DateTime": F.to_timestamp("Pickup_DateTime"),
            "Delivery_Timestamp": F.to_timestamp("Delivery_Timestamp"),
        }
    )


def read_file(spark: SparkSession, path: str) -> DataFrame:
    """Extension dispatch with the reference's error semantics
    (core/extract.py:57-75): FileNotFoundError for a missing path,
    ValueError for an unknown extension."""
    if not path or not os.path.exists(path):
        raise FileNotFoundError(f"Source file not found at path: {path}")
    ext = os.path.splitext(path)[1]
    reader_class = READER_MAP.get(ext)
    if not reader_class:
        raise ValueError(f"Unsupported file type: {ext}")
    return reader_class(path).read(spark)


def extract_data(spark: SparkSession, config: dict) -> DataFrame:
    """Config-driven extract (reference core/extract.py:34-80): dispatch on
    source.type ('generate' | 'file'), then apply the timestamp contract."""
    from .generate import generate_deliveries

    source = config.get("source", {})
    source_type = source.get("type")
    if source_type == "generate":
        df = generate_deliveries(
            spark,
            source.get("rows", 1000),
            seed=source.get("seed", 42),
            anchor=source.get("anchor", _default_anchor()),
        )
    elif source_type == "file":
        df = read_file(spark, source.get("path"))
    else:
        raise ValueError(f"Unknown or missing source type in config: {source_type}")
    return cast_timestamp_contract(df)


def _default_anchor() -> str:
    from .generate import DEFAULT_ANCHOR

    return DEFAULT_ANCHOR
