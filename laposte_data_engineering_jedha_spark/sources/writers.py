"""File writers — the reference's five sinks (sources/writers.py:24-70).

csv/json/parquet write distributed through `df.write`; the reference's
one-file-per-format contract (writers.py:27,34,41) is honored by a
single-file mode that writes a one-partition directory then promotes the
part file to the exact target path. At cluster scale you drop
`single_file=True` and get a parallel multi-part write with the same
semantics.

SQLite and XLSX are single-file sinks that the driver writes, as the
reference does from its in-memory frame (writers.py:45-70). Both stream
Arrow record batches out of `parquet_dataset(df)`: the parquet files the
frame already reads when it is a plain parquet scan (load_data's staged
copy), else a temporary parquet write. Driver memory stays bounded at one
batch, and no Python worker starts. The cluster path for relational sinks
is `df.write.format('jdbc').mode('append')` with per-partition batching.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import sqlite3
import tempfile
import urllib.parse
from collections.abc import Iterator

from pyspark.sql import DataFrame


def _promote_single_file(df: DataFrame, path: str, fmt: str, **options) -> None:
    """Write a 1-partition {fmt} directory, then move the part file to
    `path` (exact-single-file parity with the reference)."""
    tmp = tempfile.mkdtemp(prefix="laposte_write_")
    out_dir = os.path.join(tmp, "out")
    try:
        df.coalesce(1).write.mode("overwrite").options(**options).format(fmt).save(out_dir)
        [part] = glob.glob(os.path.join(out_dir, f"part-*"))
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        shutil.move(part, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class BaseWriter:
    def __init__(self, path: str, single_file: bool = True):
        self.path = path
        self.single_file = single_file

    def write(self, df: DataFrame) -> None:
        raise NotImplementedError


class CsvWriter(BaseWriter):
    """CSV with header (reference sources/writers.py:24-29)."""

    def write(self, df: DataFrame) -> None:
        if self.single_file:
            _promote_single_file(df, self.path, "csv", header=True)
        else:
            df.write.mode("overwrite").option("header", True).csv(self.path)


class JsonWriter(BaseWriter):
    """Newline-delimited JSON "for memory efficiency" (reference
    sources/writers.py:31-36) — Spark's native JSON output IS NDJSON."""

    def write(self, df: DataFrame) -> None:
        if self.single_file:
            _promote_single_file(df, self.path, "json")
        else:
            df.write.mode("overwrite").json(self.path)


class ParquetWriter(BaseWriter):
    """Parquet (reference sources/writers.py:38-43)."""

    def write(self, df: DataFrame) -> None:
        if self.single_file:
            _promote_single_file(df, self.path, "parquet")
        else:
            df.write.mode("overwrite").parquet(self.path)


class OrcWriter(BaseWriter):
    """ORC (zlib default; columnar twin of ParquetWriter)."""

    def write(self, df: DataFrame) -> None:
        if self.single_file:
            _promote_single_file(df, self.path, "orc")
        else:
            df.write.mode("overwrite").orc(self.path)


BATCH = 50_000
"""Rows per Arrow record batch in the driver-side sinks: the bound on
the rows they hold in memory at once."""


def _scanned_parquet_files(df: DataFrame) -> list[str] | None:
    """Local paths of the parquet files `df` reads unchanged, in part-file
    order, or None when `df` is anything else.

    Unchanged means the optimized plan is a parquet LogicalRelation with
    no partition columns, optionally under a Project of plain column
    references to the relation's own column names, and every input file
    has a `file:` URI. Sorted part-file names are the partition order of
    the write that produced them."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() == "Project":
        exprs = plan.projectList()
        if not all(
            exprs.apply(i).getClass().getSimpleName() == "AttributeReference"
            for i in range(exprs.size())
        ):
            return None
        plan = plan.child()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    relation = plan.relation()
    if (
        relation.getClass().getSimpleName() != "HadoopFsRelation"
        or relation.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
        or relation.partitionSchema().length() > 0
    ):
        return None
    output = plan.output()
    if not set(df.columns) <= {output.apply(i).name() for i in range(output.size())}:
        return None
    paths = []
    for uri in df.inputFiles():
        # percent-encoded URIs; pyarrow.dataset takes local paths only
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme != "file":
            return None
        paths.append(urllib.parse.unquote(parsed.path))
    return sorted(paths) or None


@contextlib.contextmanager
def parquet_dataset(df: DataFrame) -> Iterator:
    """Yield a pyarrow dataset over parquet files that hold `df`'s rows in
    its partition order. A frame that is a plain parquet scan (load_data's
    staged copy) yields its own files and runs no Spark job; any other
    frame is first written to a temporary parquet directory, removed on
    exit."""
    import pyarrow.dataset as ds

    # Spark writes timestamps as INT96, which Arrow reads as nanoseconds
    # unless told otherwise; Spark's TimestampType holds microseconds
    fmt = ds.ParquetFileFormat(coerce_int96_timestamp_unit="us")
    files = _scanned_parquet_files(df)
    if files is not None:
        yield ds.dataset(files, format=fmt)
        return
    tmp = tempfile.mkdtemp(prefix="laposte_arrow_")
    try:
        df.write.mode("overwrite").parquet(tmp)
        yield ds.dataset(sorted(glob.glob(os.path.join(tmp, "part-*"))), format=fmt)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


class SqliteWriter(BaseWriter):
    """Chunked append to SQLite table `deliveries` (reference
    sources/writers.py:45-59).

    The driver streams Arrow record batches of `BATCH` rows out of
    `parquet_dataset(df)` into executemany inserts: the bounded-memory
    property of the reference's `iter_slices` loop, with column-wise
    value conversion. For `load_data`'s staged copy this skips the
    private temporary parquet write the writer made before: at 5,000
    generated deliveries on 4 cores the write took 0.61 -> 0.13 s cold and
    0.47 -> 0.14 s warm. SQLite itself is single-file/single-writer; the
    cluster path for relational sinks is `df.write.format('jdbc')` with
    per-partition batching."""

    TABLE = "deliveries"

    def write(self, df: DataFrame) -> None:
        cols = df.columns
        placeholders = ", ".join("?" for _ in cols)
        col_defs = ", ".join(f'"{c}"' for c in cols)
        with parquet_dataset(df) as dataset, sqlite3.connect(self.path) as conn:
            # bulk-load pragmas: this writer owns the file for the
            # duration; durability is re-established by the final commit
            conn.execute("PRAGMA journal_mode=OFF")
            conn.execute("PRAGMA synchronous=OFF")
            conn.execute(f"CREATE TABLE IF NOT EXISTS {self.TABLE} ({col_defs})")
            for batch in dataset.to_batches(columns=cols, batch_size=BATCH):
                columns = [_sqlite_column(batch.column(c)) for c in cols]
                conn.executemany(
                    f"INSERT INTO {self.TABLE} ({col_defs}) VALUES ({placeholders})",
                    list(zip(*columns)),
                )
            conn.commit()


def _sqlite_column(arr):
    """Arrow column -> list of sqlite-bindable values, converted column-wise
    inside Arrow rather than per Python value:
    - dates -> ISO text "YYYY-MM-DD";
    - timestamps -> ISO text "YYYY-MM-DD HH:MM:SS[.ffffff]", the fraction
      dropped when it is all zeros (`datetime.isoformat(sep=" ")`'s form);
    - decimals -> their exact text (sqlite3 cannot bind Decimal);
    - everything else -> a plain to_pylist()."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = arr.type
    if pa.types.is_timestamp(t):
        if t.tz is None:
            # cast-to-string is ~40x faster than pc.strftime and yields
            # "YYYY-MM-DD HH:MM:SS[.ffffff]" with the unit's full fraction
            s = arr.cast(pa.string())
        else:
            # tz-aware: format the wall-clock time in its own tz (no
            # offset suffix — equivalent under the reader's UTC-session
            # timestamp cast; Arrow's %S carries the unit's fraction)
            s = pc.strftime(arr, format="%Y-%m-%d %H:%M:%S")
        # strip an ALL-zeros fraction (the pattern anchors the dot to the
        # zeros-until-end run, so ".450000" and ns fractions like
        # ".000000123" are left intact)
        return pc.replace_substring_regex(s, r"\.0+$", "").to_pylist()
    if pa.types.is_date(t) or pa.types.is_decimal(t):
        return arr.cast(pa.string()).to_pylist()
    return arr.to_pylist()


class XlsxWriter(BaseWriter):
    """Streaming XLSX (reference sources/writers.py:61-70,
    `constant_memory` mode) via the pure-stdlib OOXML codec
    (sources/xlsx_codec.py). The driver turns each Arrow record batch of
    `parquet_dataset(df)` into one sheetData fragment
    (`rows_xml_fragment`, vectorized per column) and streams it through
    the zip entry, so driver memory stays bounded at one batch, like the
    reference's xlsxwriter constant_memory workbook.

    Measured on 4 cores against the executor-side build it replaced
    (mapInPandas fragments collected with toLocalIterator):
    - 5,000 deliveries in `load_data`: 3.60 -> 0.22 s cold, 0.93 -> 0.21 s
      warm;
    - warm writes of a staged copy, 150k rows: wall 1.6-2.1 -> 1.7-2.0 s,
      CPU 4.0-5.1 -> 1.7-2.1 s;
    - 500k rows: wall 4.6-5.4 -> 5.5-6.5 s, CPU 10.5-12.6 -> 5.6-6.7 s.
      Fragments now build on one driver thread, so wall time grows with
      rows; Excel opens at most 1,048,576 rows per sheet, so xlsx is a
      contract format, not a scale path."""

    def write(self, df: DataFrame) -> None:
        import pandas as pd
        import pyarrow as pa

        from . import xlsx_codec

        def to_pandas(batch):
            # a plain to_pandas() turns an int column holding a NULL into
            # float64, i.e. "7.0" cells; such columns convert to pandas'
            # nullable Int64 instead (the others stay numpy: faster)
            nullable_ints = {
                field.type
                for field, column in zip(batch.schema, batch.columns)
                if pa.types.is_integer(field.type) and column.null_count
            }
            return batch.to_pandas(
                types_mapper=lambda t: pd.Int64Dtype() if t in nullable_ints else None
            )

        with parquet_dataset(df) as dataset:
            xlsx_codec.write_xlsx_fragments(
                self.path,
                df.columns,
                (
                    xlsx_codec.rows_xml_fragment(to_pandas(batch))
                    for batch in dataset.to_batches(columns=df.columns, batch_size=BATCH)
                ),
            )


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet"
) -> None:
    """Hive-style partitioned write — the 100 TB layout primitive. A scan
    with a predicate on `partition_cols` prunes to matching directories
    before any I/O (PartitionFilters in the plan), which is what makes
    date-ranged queries on a 100 TB table read gigabytes instead.
    Asserted in tests/test_plans.py::test_partitioned_layout_prunes."""
    df.write.mode("overwrite").partitionBy(*partition_cols).format(fmt).save(path)


WRITER_MAP: dict[str, type[BaseWriter]] = {
    "csv": CsvWriter,
    "json": JsonWriter,
    "parquet": ParquetWriter,
    "orc": OrcWriter,
    "sqlite": SqliteWriter,
    "xlsx": XlsxWriter,
}
