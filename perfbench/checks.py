"""Output checks, run after the timed phase.

Queries: the Spark result, canonicalised like the repository's oracle
parity test, must equal its DuckDB oracle twin on the same parquet input;
floats may differ by a tight relative tolerance because partition-count
dependent plans fold floating-point sums in another order.

ETL: each op's manifest row count must equal the requested rows, and
every written file must read back with that row count and the manifest's
column names (JSON schema inference orders them alphabetically).
"""

from __future__ import annotations

import datetime
import decimal
import math
import os

REL_TOL = 1e-9
ABS_TOL = 1e-9


def _canon(v):
    """A comparable form of one cell: floats stay floats, everything else
    becomes a string (None/NaN/NaT become 'NULL')."""
    import pandas as pd

    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NULL" if math.isnan(v) else v
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if pd.isna(v):
            return "NULL"
        ts = pd.Timestamp(v)
        # DuckDB returns DATE columns as midnight timestamps, Spark as dates
        if ts.time() == datetime.time(0, 0) and ts.tz is None:
            return ts.date().isoformat()
        return ts.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        seq = v.tolist() if hasattr(v, "tolist") else list(v)
        if not isinstance(seq, list):
            return _canon(seq)
        return tuple(_canon(x) for x in seq)
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, int) and not isinstance(v, bool):
        return v
    return str(v)


def _is_number(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _sort_key(cell):
    # monotone in the value, so both sides sort alike despite last-digit
    # float differences; ints and floats of equal value get equal keys
    if _is_number(cell):
        return (0, float(f"{float(cell):.10g}"))
    if isinstance(cell, tuple):
        return (1, tuple(_sort_key(c) for c in cell))
    return (2, cell)


def canon_rows(pdf) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda row: tuple(_sort_key(c) for c in row))


def _cells_match(a, b) -> bool:
    if _is_number(a) and _is_number(b) and (isinstance(a, float) or isinstance(b, float)):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=ABS_TOL)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_match(x, y) for x, y in zip(a, b))
    return a == b


def compare_frames(spark_pdf, oracle_pdf) -> str | None:
    """None when the two results match, else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    for s, o in zip(canon_rows(spark_pdf), canon_rows(oracle_pdf)):
        if len(s) != len(o) or not all(_cells_match(x, y) for x, y in zip(s, o)):
            return f"value mismatch: {s!r} != {o!r}"[:300]
    return None


class QueryOracle:
    """DuckDB views over the same parquet files the queries read."""

    TABLES = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in self.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def check(self, spark_pdf, sql: str) -> str | None:
        return compare_frames(spark_pdf, self.con.execute(sql).df())

    def close(self) -> None:
        self.con.close()


def check_etl_output(spark, manifest: dict, paths: list[str], rows: int) -> str | None:
    """None when the manifest and every file in `paths` hold `rows` rows
    under the manifest's columns."""
    from laposte_data_engineering_jedha_spark.sources.readers import read_file

    if manifest["shape"]["rows"] != rows:
        return f"manifest rows {manifest['shape']['rows']} != {rows}"
    columns = sorted(manifest["columns"])
    for path in paths:
        df = read_file(spark, path)
        if sorted(df.columns) != columns:
            return f"{os.path.basename(path)}: columns {df.columns} != {columns}"
        n = df.count()
        if n != rows:
            return f"{os.path.basename(path)}: {n} rows != {rows}"
    return None
