"""Distributed exact global ranking — the scale-safe replacement for
`Window.orderBy(...)` with no partitionBy (which Catalyst executes as ONE
task holding the whole relation: the classic 100 TB plan-killer).

Two-pass partition-offset ranking:

1. `repartitionByRange` on the order columns (persisted via caches.track
   so the sampled range boundaries are computed once and every consumer
   sees the same partition assignment);
2. per-partition counts -> each partition's global offset (a <= P-row
   collect, driver-tiny, broadcast back);
3. `row_number` over a window PARTITIONED by the range-partition id +
   the offset = the exact global rank. No task ever sorts more than
   ~N/P rows.

`exact_ntile` layers the ntile(n) band arithmetic (first N mod n bands
get ceil(N/n) rows) on top of the exact rank — bit-identical to
`F.ntile(n).over(Window.orderBy(...))` for a deterministic (tie-free)
ordering, at full parallelism.

HYBRID GATE (r9 verdict item 3): the two-pass machinery costs a real
fixed ~0.9 s/call (range-boundary sampling pass + the offsets action,
interleaved A/B at sf0.1) vs ~0.34 s for the single-partition window —
the right trade only when the single sort task would actually be fat.
The default `strategy="auto"` gates in two stages: (1) the size gate
of operators/caches.py, its one home (`caches.is_small`: Catalyst's
size ESTIMATE against the gate threshold, no action) — estimated-big
inputs take the offsets form without the gate ever touching the data
(the only acceptable behavior at 100 TB); (2) otherwise persist +
count once — the count fills the cache, so the chosen branch reads it
instead of recomputing upstream — and pick the window form at or below
`WINDOW_MAX_ROWS` rows. Both forms are bit-identical by contract, so
the gate is a pure plan choice. Pass `strategy="offsets"` /
`strategy="window"` to force a form (tests, or callers that already
know the grain).

For per-row FEATURE generation where exact tile boundaries don't matter,
`percentile_bands` trades exactness for a zero-extra-shuffle plan: it
approximates the n-1 cut points with approx_percentile, broadcasts them,
and buckets map-side (the events_rfm_segments pattern).

CACHE-LIFECYCLE NOTE (ADVICE r9): the offsets form bakes driver-collected
per-partition offsets into a lazy plan over a sampled repartitionByRange
persist; evicting that persist before the consumer materializes would
resample the range boundaries and silently corrupt ranks. The persists
are therefore registered with `caches.track(..., pin=True)` — exempt
from MAX_TRACKED LRU eviction, released only by `caches.release_all()`
(which runners call strictly after materializing each query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import caches

_PID = "__rank_pid"
_OFF = "__rank_off"

# Auto-gate crossover: at or below this many rows the single-partition
# window is both faster (no sampling pass, no offsets action) and safe
# (a <= 1M-row sort in one task is tens of MB — far from the fat-task
# regime the offsets form exists to kill). Measured at sf0.1: window
# 0.34 s vs offsets 0.9 s fixed overhead (BASELINE.md round-9 close).
WINDOW_MAX_ROWS = 1_000_000


def _auto_pick(df: DataFrame) -> tuple[str, DataFrame, int | None]:
    """The auto gate. Estimated-big inputs go straight to the offsets
    form with NO action. Estimated-small inputs persist + count ONCE —
    the count fills the cache, so the window branch reads it instead of
    recomputing the upstream (measured: the naive count-then-window
    paid 2x upstream and made cheap single-call shapes SLOWER than the
    offsets form they replaced). Returns (strategy, input, total|None);
    the persist is tracked unpinned (eviction costs a recompute only —
    no driver-side constants depend on it)."""
    if not caches.is_small(df):
        return "offsets", df, None
    cached = caches.track(df.persist())
    total = cached.count()
    return (
        "window" if total <= WINDOW_MAX_ROWS else "offsets",
        cached,
        total,
    )


def global_ranks(
    df: DataFrame,
    *order_cols: Column | str,
    rank_col: str = "rank",
    n_partitions: int | None = None,
    strategy: str = "auto",
) -> tuple[DataFrame, int]:
    """Exact dense 1-based global row_number over `order_cols` without a
    fat single-partition sort at scale. Returns (df + rank_col,
    total_rows). Ordering must be deterministic (include a unique
    tie-breaker column) for the ranks to be reproducible.

    strategy: "auto" (default) counts the input and picks the window
    form at <= WINDOW_MAX_ROWS rows, else partition-offset; "window" /
    "offsets" force a form. Both forms are bit-identical."""
    if strategy not in ("auto", "window", "offsets"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = df.sparkSession
    total: int | None = None
    if strategy == "auto":
        strategy, df, total = _auto_pick(df)
    if strategy == "window":
        if total is None:
            total = df.count()
        if total == 0:
            return df.withColumn(rank_col, F.lit(None).cast("long")), 0
        w = Window.orderBy(*order_cols)
        return (
            df.withColumn(rank_col, F.row_number().over(w).cast("long")),
            total,
        )
    n_part = n_partitions or max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    # NOTE on cost (interleaved A/B at sf0.1): the two-pass machinery adds
    # ~0.9 s of fixed job overhead vs the single-partition window (range-
    # boundary sampling pass + the offsets action) — a CONSTANT, not a
    # scale term; the window variant's cost grows with the single task's
    # data instead. Persisting the INPUT as well was measured net-negative
    # at fixture scale (cache fill > upstream recompute) — callers whose
    # upstream is genuinely expensive should persist it themselves.
    parted = caches.track(
        df.repartitionByRange(n_part, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist(),
        pin=True,  # offsets below are only valid for THIS materialization
    )
    counts = parted.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    offsets = []
    acc = 0
    for row in sorted(counts, key=lambda r: r[_PID]):  # range pids are ordered
        offsets.append((row[_PID], acc))
        acc += row["cnt"]
    if not offsets:  # empty input: keep the schema contract
        return parted.withColumn(rank_col, F.lit(None).cast("long")).drop(_PID), 0
    off_df = F.broadcast(
        spark.createDataFrame(offsets, f"{_PID} int, {_OFF} long")
    )
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    ranked = (
        parted.join(off_df, _PID)
        .withColumn(rank_col, (F.row_number().over(w) + F.col(_OFF)).cast("long"))
        .drop(_PID, _OFF)
    )
    return ranked, acc


def exact_ntile(
    df: DataFrame,
    n: int,
    *order_cols: Column | str,
    band_col: str = "band",
    n_partitions: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Exact `ntile(n) OVER (ORDER BY order_cols)` at full parallelism:
    global rank via the gated ranking (see module docstring), then the
    ntile band split (total = q*n + rem: the first rem bands take q+1
    rows) computed from the rank with driver-side constants.
    Bit-identical to the global window for tie-free orderings."""
    ranked, total = global_ranks(
        df,
        *order_cols,
        rank_col="__grank",
        n_partitions=n_partitions,
        strategy=strategy,
    )
    if total == 0:
        return ranked.withColumn(band_col, F.lit(None).cast("long")).drop("__grank")
    q, rem = divmod(total, n)
    cut = (q + 1) * rem  # rows 1..cut live in the first rem (fat) bands
    r = F.col("__grank")
    if q == 0:  # fewer rows than bands: band == rank
        band = r
    else:
        band = F.when(r <= cut, F.expr(f"(__grank - 1) div {q + 1}") + 1).otherwise(
            F.expr(f"(__grank - {cut} - 1) div {q}") + rem + 1
        )
    return ranked.withColumn(band_col, band.cast("long")).drop("__grank")


def global_prefix_sum(
    df: DataFrame,
    value_col: str,
    *order_cols: Column | str,
    out_col: str = "cum",
    n_partitions: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Exact running `sum(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)` without a fat single-partition window at scale:
    range-partition on the order columns, collect the <= P per-partition
    sums, prefix them driver-side (exact: DECIMAL stays Decimal, integers
    stay int), and add each partition's offset to its LOCAL running sum.
    For DECIMAL and integer inputs the result is bit-identical to the
    global window (addition is exact and associative); for DOUBLE inputs
    the grouping of additions changes, so use only where the consumer
    tolerates last-ulp differences. `strategy` gates the form exactly as
    in `global_ranks`.

    NULL semantics match the global window (ADVICE r9): a row is NULL in
    out_col only when NO non-null value precedes it globally; a
    partition whose local running sum is still NULL carries the prior
    partitions' total. Offsets are carried at the SUM type (long for
    integral inputs, widened decimal for DECIMAL), never the input
    column type, so a narrow int input cannot overflow the offset."""
    if strategy not in ("auto", "window", "offsets"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = df.sparkSession
    # the type Spark's own sum() yields for this input — long for
    # int/smallint, decimal(p+10, s) for decimal(p, s), double for double
    sum_type = (
        df.select(F.sum(value_col).alias("__s")).schema["__s"].dataType.simpleString()
    )
    if strategy == "auto":
        strategy, df, _ = _auto_pick(df)
    if strategy == "window":
        w = Window.orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, 0)
        return df.withColumn(out_col, F.sum(value_col).over(w).cast(sum_type))
    n_part = n_partitions or max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    parted = caches.track(
        df.repartitionByRange(n_part, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist(),
        pin=True,  # offsets below are only valid for THIS materialization
    )
    psums = parted.groupBy(_PID).agg(F.sum(value_col).alias("s")).collect()
    offsets = []
    acc = None
    for row in sorted(psums, key=lambda r: r[_PID]):
        offsets.append((row[_PID], acc))
        s = row["s"]
        acc = s if acc is None else (acc + s if s is not None else acc)
    if not offsets:
        return parted.withColumn(out_col, F.lit(None).cast(sum_type)).drop(_PID)
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets],
            df.sparkSession.createDataFrame(
                [], f"{_PID} int, {_OFF} {sum_type}"
            ).schema,
        )
    )
    w = Window.partitionBy(_PID).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    local = F.sum(value_col).over(w)
    off = F.col(_OFF)
    # NULL only when both the local running sum and every prior
    # partition's total are NULL — the global-window contract
    running = F.when(local.isNull() & off.isNull(), F.lit(None)).otherwise(
        F.coalesce(local, F.lit(0).cast(sum_type))
        + F.coalesce(off, F.lit(0).cast(sum_type))
    )
    return (
        parted.join(off_df, _PID)
        # cast: decimal addition re-widens precision by 1; pin the output
        # to the window form's sum type so both strategies agree exactly
        .withColumn(out_col, running.cast(sum_type))
        .drop(_PID, _OFF)
    )


def global_prefix_max(
    df: DataFrame,
    value_col: str,
    *order_cols: Column | str,
    out_col: str = "runmax",
    inclusive: bool = True,
    n_partitions: int | None = None,
    strategy: str = "auto",
) -> DataFrame:
    """Exact running `max(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING [AND 1 PRECEDING])` without a fat single-partition window:
    the global_prefix_sum construction with max as the fold — and simpler,
    because max is exact and associative for EVERY comparable type (no
    double-grouping caveat) and the offset is just the running max of the
    per-partition maxima. `inclusive=False` gives the STRICT-prefix max
    (frame ends at 1 PRECEDING): NULL/absent for the globally first row,
    which is the form dominance tests (Pareto frontiers, high-watermark
    breach detection) need. NULL semantics match the global window: max
    skips NULL values, so out_col is NULL only when no non-null value
    precedes. `strategy` gates the form exactly as in `global_ranks`."""
    if strategy not in ("auto", "window", "offsets"):
        raise ValueError(f"unknown strategy {strategy!r}")
    spark = df.sparkSession
    val_type = df.schema[value_col].dataType.simpleString()
    hi = 0 if inclusive else -1
    if strategy == "auto":
        strategy, df, _ = _auto_pick(df)
    if strategy == "window":
        w = Window.orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, hi)
        return df.withColumn(out_col, F.max(value_col).over(w))
    n_part = n_partitions or max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    parted = caches.track(
        df.repartitionByRange(n_part, *order_cols)
        .withColumn(_PID, F.spark_partition_id())
        .persist(),
        pin=True,  # offsets below are only valid for THIS materialization
    )
    pmaxes = parted.groupBy(_PID).agg(F.max(value_col).alias("m")).collect()
    offsets = []  # per partition: max over ALL PRIOR partitions (strict)
    acc = None
    for row in sorted(pmaxes, key=lambda r: r[_PID]):
        offsets.append((row[_PID], acc))
        m = row["m"]
        if m is not None:
            acc = m if acc is None else max(acc, m)
    if not offsets:
        return parted.withColumn(out_col, F.lit(None).cast(val_type)).drop(_PID)
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, off) for pid, off in offsets],
            spark.createDataFrame([], f"{_PID} int, {_OFF} {val_type}").schema,
        )
    )
    w = Window.partitionBy(_PID).orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, hi
    )
    # greatest() skips NULLs (returns NULL only when every input is NULL)
    # — exactly the global window's max-over-prefix NULL contract
    running = F.greatest(F.max(value_col).over(w), F.col(_OFF))
    return parted.join(off_df, _PID).withColumn(out_col, running).drop(_PID, _OFF)


def percentile_bands(
    df: DataFrame,
    n: int,
    value_col: str,
    band_col: str = "band",
    descending: bool = True,
    relative_error: float = 0.001,
) -> DataFrame:
    """Approximate n-banding for per-row FEATURE generation at scale:
    approx_percentile the n-1 cut points (one partial-aggregate pass),
    broadcast them as literals, bucket map-side — zero extra shuffle, no
    global ordering anywhere. Band 1 holds the largest values when
    `descending` (matching the exact_ntile convention used by the
    customer-spend queries). Ties straddling a cut land in the lower
    band together (approximate by contract — use exact_ntile when the
    report needs exact tile populations)."""
    probs = [i / n for i in range(1, n)]
    accuracy = max(int(1.0 / relative_error), 100)
    raw_cuts = df.agg(
        F.percentile_approx(
            value_col, F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
        ).alias("cuts")
    ).collect()[0]["cuts"]
    if raw_cuts is None:  # empty or all-NULL input (ADVICE r9): no cut
        # points exist — NULL band, matching the empty-input contract of
        # global_ranks/exact_ntile
        return df.withColumn(band_col, F.lit(None).cast("long"))
    cuts = [float(x) for x in raw_cuts]
    v = F.col(value_col)
    if descending:
        # cuts ascend; value > cuts[n-1-i] -> band i+1
        expr = F.lit(n)
        for i, c in enumerate(cuts):  # ascending cuts => descending bands
            expr = F.when(v > F.lit(c), F.lit(n - 1 - i)).otherwise(expr)
        band = expr
    else:
        expr = F.lit(n)
        for i, c in enumerate(reversed(cuts)):
            expr = F.when(v <= F.lit(c), F.lit(1 + len(cuts) - 1 - i)).otherwise(expr)
        band = expr
    return df.withColumn(band_col, band.cast("long"))
