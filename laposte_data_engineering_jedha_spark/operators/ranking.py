"""Distributed exact global ranking — the scale-safe replacement for
`Window.orderBy(...)` with no partitionBy (which Catalyst executes as ONE
task holding the whole relation: the classic 100 TB plan-killer).

Two-pass bucket-offset ranking:

1. range buckets from LITERAL bounds: a seeded sample of the order keys
   (about 20 rows per bucket, as Spark's RangePartitioner sizes it) is
   sorted in Spark and at most P-1 evenly spaced bound rows are
   collected to the driver as one array literal. A row's bucket id is
   the number of bounds it sorts after — lexicographic over the order
   keys, following each key's direction and NULLS FIRST/LAST placement
   — so it is a pure function of the row and monotone in the sort
   order;
2. per-bucket counts -> each bucket's global offset (a <= P-row
   collect, driver-tiny, looked up by bucket id from an array literal);
3. `row_number` over a window PARTITIONED by the bucket id + the offset
   = the exact global rank. No task ever sorts more than ~N/P rows.

`exact_ntile` layers the ntile(n) band arithmetic (first N mod n bands
get ceil(N/n) rows) on top of the exact rank — bit-identical to
`F.ntile(n).over(Window.orderBy(...))` for a deterministic (tie-free)
ordering, at full parallelism.

HYBRID GATE (r9 verdict item 3): the two-pass machinery costs a real
fixed ~0.9 s/call (bound sampling pass + the offsets action,
interleaved A/B at sf0.1) vs ~0.34 s for the single-partition window —
the right trade only when the single sort task would actually be fat.
Every operator gates in two stages: (1) the size gate of
operators/caches.py, its one home (`caches.is_small`: Catalyst's size
ESTIMATE against `caches.GATE_MAX_EST_BYTES`, no action) —
estimated-big inputs take the offsets form without the gate ever
touching the data (the only acceptable behavior at 100 TB); (2)
otherwise persist + count once — the count fills the cache, so the
chosen branch reads it instead of recomputing upstream — and pick the
window form at or below `WINDOW_MAX_ROWS` rows. Both forms are
bit-identical by contract, so the gate is a pure plan choice, and the
two thresholds are its only switches: both are read at call time, so
setting `caches.GATE_MAX_EST_BYTES = -1` forces the offsets form with
no action, and `WINDOW_MAX_ROWS = 0` forces it after the count.

For per-row FEATURE generation where exact tile boundaries don't matter,
`percentile_bands` trades exactness for a zero-extra-shuffle plan: it
approximates the n-1 cut points with approx_percentile, broadcasts them,
and buckets map-side (the events_rfm_segments pattern).

CACHE-LIFECYCLE NOTE: the offsets form bakes driver-collected per-bucket
offsets into a lazy plan, but the bounds are literals in that plan, so
a row's bucket never depends on a cached relation. Recomputing the plan
(cache eviction, `clearCache()`, a lost executor) reproduces the same
buckets and the offsets stay valid. The sample decides only how
balanced the buckets are; the ranks are exact because the offsets come
from exact per-bucket aggregates. The offsets form persists nothing; it
computes its input for the sample, the per-bucket aggregate and the
result, so the input must be deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import caches

_PID = "__rank_pid"
_OFF = "__rank_off"

# Sampled key rows per bucket (RangePartitioner's hint): enough for
# balanced buckets. The sample never affects the ranks, only the balance.
_SAMPLE_PER_BUCKET = 20
_SAMPLE_SEED = 17

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
    offsets form they replaced). Returns (form, input, total|None);
    the persist is tracked (eviction costs a recompute only — no
    driver-side constants depend on it)."""
    if not caches.is_small(df):
        return "offsets", df, None
    cached = caches.track(df.persist())
    total = cached.count()
    return (
        "window" if total <= WINDOW_MAX_ROWS else "offsets",
        cached,
        total,
    )


def _column(df: DataFrame, jexpr) -> Column:
    """A JVM Catalyst expression as a Column."""
    return Column(
        df.sparkSession._jvm.org.apache.spark.sql.classic.ExpressionUtils.column(jexpr)
    )


def _bucketed(df: DataFrame, order_cols, n_part: int, total: int | None) -> DataFrame:
    """`df` + _PID: steps 1 and 3 of the module docstring. The bounds ride
    in the plan as one array literal built on the JVM side (exact values
    in each key's own type), and each row finds its bucket by binary
    lifting over it: log2(P) comparisons per row, and a plan whose size
    does not grow with P."""
    out = df.withColumn(_PID, F.lit(0))
    if n_part <= 1:
        return out
    # (key, ascending, nulls first) per order key, as Catalyst resolves them
    orders = df.sort(*order_cols)._jdf.queryExecution().analyzed().order()
    keys = [
        (_column(df, o.child()), o.isAscending(), o.nullOrdering().sql() == "NULLS FIRST")
        for o in (orders.apply(i) for i in range(orders.size()))
    ]
    names = [f"__k{i}" for i in range(len(keys))]
    rows = total if total is not None else caches.estimated_rows(
        df, row_bytes=8 + df._jdf.schema().defaultSize()
    )
    if rows is None:
        rows = df.count()
    # one task sorts the sample (~20 rows per bucket); row __i of __m is
    # a bound when some j in 1..P-1 has j*__m/P in (__i-1, __i]
    bounds = (
        df.sample(
            fraction=min(1.0, _SAMPLE_PER_BUCKET * n_part / max(rows, 1)),
            seed=_SAMPLE_SEED,
        )
        .select(
            *[c.alias(k) for k, (c, _, _) in zip(names, keys)],
            F.row_number().over(Window.orderBy(*order_cols)).alias("__i"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("__m"),
        )
        .where(
            f"__i < __m AND CAST(__i AS BIGINT) * {n_part} div __m"
            f" > CAST(__i - 1 AS BIGINT) * {n_part} div __m"
        )
        .agg(F.sort_array(F.collect_list(F.struct("__i", *names))))
    )
    jrow = bounds._jdf.first()
    n_bounds = len(jrow.getList(0))
    if n_bounds == 0:
        return out
    literal = df.sparkSession._jvm.org.apache.spark.sql.catalyst.expressions.Literal
    arr = _column(
        df, literal.create(jrow.get(0), bounds._jdf.schema().apply(0).dataType())
    )
    depth = n_bounds.bit_length()
    # pad to 2^depth - 1 entries with the last bound, so every probe
    # index below is in range
    arr = F.concat(
        arr, F.array_repeat(F.element_at(arr, -1), (1 << depth) - 1 - n_bounds)
    )

    def after(b: Column) -> Column:
        # row > bound b in the sort order, built from the last key up:
        # key i sorts after b's, or ties it and the later keys sort after
        cond = F.lit(False)
        for (c, asc, nulls_first), k in reversed(list(zip(keys, names))):
            v = b[k]
            beyond = c > v if asc else c < v
            if nulls_first:
                gt = c.isNotNull() & (v.isNull() | beyond)
            else:
                gt = v.isNotNull() & (c.isNull() | beyond)
            cond = gt | (c.eqNullSafe(v) & cond)
        return cond

    # binary lifting: after the steps, _PID = how many bounds the row
    # sorts after. The probed bound and each step are projections of
    # their own, so the plan holds one copy of the bounds per step.
    for step in (1 << d for d in reversed(range(depth))):
        out = out.withColumn("__b", F.element_at(arr, F.col(_PID) + step))
        out = out.withColumn(
            _PID, F.col(_PID) + F.when(after(F.col("__b")), step).otherwise(0)
        )
    return out.drop("__b")


def _offsets(
    df: DataFrame,
    order_cols,
    n_partitions: int | None,
    total: int | None,
    part: Column,
    off_type: str,
    fold,
    init,
):
    """The offsets form shared by the three operators: bucket every row
    (`_bucketed`), collect the per-bucket aggregate `part`, fold it
    driver-side in bucket order — a bucket's offset is the fold of
    `init` over every prior bucket's value — and look each row's offset
    up in an array literal indexed by bucket id. (A broadcast join of
    the offsets would make Catalyst infer constraints through the
    chained bucket projections, which grows exponentially with their
    number.) Returns (df + _PID + _OFF, the window over one bucket in
    sort order, the fold over all buckets).

    Cost: the input is computed three times (sample, per-bucket
    aggregate, result) plus a count when its row estimate is unknown.
    Persisting the INPUT was measured net-negative at fixture scale
    (cache fill > upstream recompute) — callers whose upstream is
    genuinely expensive should persist it themselves."""
    spark = df.sparkSession
    n_part = n_partitions or max(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1
    )
    bucketed = _bucketed(df, order_cols, n_part, total)
    parts = {
        r[_PID]: r["v"] for r in bucketed.groupBy(_PID).agg(part.alias("v")).collect()
    }
    offsets, acc = [], init
    for pid in range(max(parts, default=0) + 1):
        offsets.append(F.lit(acc).cast(off_type))
        if pid in parts:
            acc = fold(acc, parts[pid])
    off = F.element_at(F.array(*offsets), F.col(_PID) + 1)
    w = Window.partitionBy(_PID).orderBy(*order_cols)
    return bucketed.withColumn(_OFF, off), w, acc


def global_ranks(
    df: DataFrame,
    *order_cols: Column | str,
    rank_col: str = "rank",
    n_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact dense 1-based global row_number over `order_cols` without a
    fat single-partition sort at scale. Returns (df + rank_col,
    total_rows). Ordering must be deterministic (include a unique
    tie-breaker column) for the ranks to be reproducible.

    The gate (`_auto_pick`) picks the window form for inputs of at most
    WINDOW_MAX_ROWS rows, else bucket-offset. Both forms are
    bit-identical."""
    form, df, total = _auto_pick(df)
    if form == "window":
        if total == 0:
            return df.withColumn(rank_col, F.lit(None).cast("long")), 0
        w = Window.orderBy(*order_cols)
        return (
            df.withColumn(rank_col, F.row_number().over(w).cast("long")),
            total,
        )
    bucketed, w, total = _offsets(
        df, order_cols, n_partitions, total,
        F.count(F.lit(1)), "long", lambda acc, cnt: acc + cnt, 0,
    )
    ranked = bucketed.withColumn(
        rank_col, (F.row_number().over(w) + F.col(_OFF)).cast("long")
    ).drop(_PID, _OFF)
    return ranked, total


def exact_ntile(
    df: DataFrame,
    n: int,
    *order_cols: Column | str,
    band_col: str = "band",
    n_partitions: int | None = None,
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
) -> DataFrame:
    """Exact running `sum(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)` without a fat single-partition window at scale:
    bucket on the order columns, collect the <= P per-bucket sums,
    prefix them driver-side (exact: DECIMAL stays Decimal, integers
    stay int), and add each bucket's offset to its LOCAL running sum.
    For DECIMAL and integer inputs the result is bit-identical to the
    global window (addition is exact and associative); for DOUBLE inputs
    the grouping of additions changes, so use only where the consumer
    tolerates last-ulp differences. The form is gated exactly as in
    `global_ranks`.

    NULL semantics match the global window (ADVICE r9): a row is NULL in
    out_col only when NO non-null value precedes it globally; a
    bucket whose local running sum is still NULL carries the prior
    buckets' total. Offsets are carried at the SUM type (long for
    integral inputs, widened decimal for DECIMAL), never the input
    column type, so a narrow int input cannot overflow the offset."""
    # the type Spark's own sum() yields for this input — long for
    # int/smallint, decimal(p+10, s) for decimal(p, s), double for double
    sum_type = (
        df.select(F.sum(value_col).alias("__s")).schema["__s"].dataType.simpleString()
    )
    form, df, total = _auto_pick(df)
    if form == "window":
        w = Window.orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, 0)
        return df.withColumn(out_col, F.sum(value_col).over(w).cast(sum_type))
    bucketed, w, _ = _offsets(
        df, order_cols, n_partitions, total, F.sum(value_col), sum_type,
        lambda acc, s: s if acc is None else (acc if s is None else acc + s),
        None,
    )
    local = F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, 0))
    off = F.col(_OFF)
    # NULL only when both the local running sum and every prior
    # bucket's total are NULL — the global-window contract
    running = F.when(local.isNull() & off.isNull(), F.lit(None)).otherwise(
        F.coalesce(local, F.lit(0).cast(sum_type))
        + F.coalesce(off, F.lit(0).cast(sum_type))
    )
    # cast: decimal addition re-widens precision by 1; pin the output to
    # the window form's sum type so both forms agree exactly
    return bucketed.withColumn(out_col, running.cast(sum_type)).drop(_PID, _OFF)


def global_prefix_max(
    df: DataFrame,
    value_col: str,
    *order_cols: Column | str,
    out_col: str = "runmax",
    inclusive: bool = True,
    n_partitions: int | None = None,
) -> DataFrame:
    """Exact running `max(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING [AND 1 PRECEDING])` without a fat single-partition window:
    the global_prefix_sum construction with max as the fold — and simpler,
    because max is exact and associative for EVERY comparable type (no
    double-grouping caveat) and the offset is just the running max of the
    per-bucket maxima. `inclusive=False` gives the STRICT-prefix max
    (frame ends at 1 PRECEDING): NULL/absent for the globally first row,
    which is the form dominance tests (Pareto frontiers, high-watermark
    breach detection) need. NULL semantics match the global window: max
    skips NULL values, so out_col is NULL only when no non-null value
    precedes. The form is gated exactly as in `global_ranks`."""
    val_type = df.schema[value_col].dataType.simpleString()
    hi = 0 if inclusive else -1
    form, df, total = _auto_pick(df)
    if form == "window":
        w = Window.orderBy(*order_cols).rowsBetween(Window.unboundedPreceding, hi)
        return df.withColumn(out_col, F.max(value_col).over(w))
    bucketed, w, _ = _offsets(
        df, order_cols, n_partitions, total, F.max(value_col), val_type,
        lambda acc, m: acc if m is None else (m if acc is None else max(acc, m)),
        None,
    )
    # greatest() skips NULLs (returns NULL only when every input is NULL)
    # — exactly the global window's max-over-prefix NULL contract
    running = F.greatest(
        F.max(value_col).over(w.rowsBetween(Window.unboundedPreceding, hi)),
        F.col(_OFF),
    )
    return bucketed.withColumn(out_col, running).drop(_PID, _OFF)


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
