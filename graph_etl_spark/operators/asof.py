"""Temporal joins Spark lacks natively: as-of join and range join.

as_of_join: for each left row, the latest right row with
right.ts <= left.ts (per key) — the TimescaleDB/kdb 'asof' semantics,
composed from a union + window (one shuffle on the key, no theta
join): tag both sides, sort within key by (ts, side), and carry the
last-seen right row forward with ``last(..., ignorenulls)``.

range_join: equi-key + interval containment, expressed so Catalyst
can use its optimized range-join strategy (equi part shuffles, range
part filters post-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    suffix: str = "_right",
    direction: str = "backward",
) -> DataFrame:
    """For each left row: columns of the matched right row on ``on``,
    by time ``direction`` — ``backward`` (latest right_ts <= left_ts,
    the default and the classic as-of), ``forward`` (earliest
    right_ts >= left_ts), or ``nearest`` (whichever of the two is
    closer by absolute time, ties to backward — pandas merge_asof
    parity). Null right columns when no row qualifies.

    Implementation: union both sides with a side tag, one window
    sorted by (ts, side) per key, forward-fill the right payload
    (backward direction) or the mirror-ordered fill (forward), keep
    left rows; ``nearest`` computes both fills and picks by exact
    integer microsecond distance (timestamps required for nearest).
    Exactly one shuffle (on ``on``) regardless of data size and
    direction; no O(n·m) theta join.

    NULL timestamps: right rows with NULL ``right_ts`` are dropped
    before the union — no direction's predicate can qualify them, and
    left in, the ascending scan's nulls-first order would make one the
    backward payload with a NULL distance that beats a real forward
    match under ``nearest``. Left rows with NULL ``left_ts`` survive
    with all-null right columns (nothing qualifies against an unknown
    time) instead of inheriting whatever the scan direction's
    null-placement happens to fill.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"as_of_join: direction must be backward/forward/nearest "
            f"(got {direction!r})"
        )
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    l_tag = left.withColumn("__side", F.lit(1)).withColumn("__ts", F.col(left_ts))
    r_payload = F.struct(
        F.col(right_ts).alias("__pts"), *[F.col(c) for c in right_cols]
    )
    r_tag = (
        right.filter(F.col(right_ts).isNotNull())
        .select(
            on,
            F.col(right_ts).alias("__ts"),
            r_payload.alias("__payload"),
        )
        .withColumn("__side", F.lit(0))
    )
    unioned = l_tag.unionByName(r_tag, allowMissingColumns=True)

    def fill(ascending: bool):
        # right rows sort before left rows at equal ts in BOTH scan
        # directions, so <= (backward) / >= (forward) both include
        # the equal-timestamp right row
        order = F.col("__ts").asc() if ascending else F.col("__ts").desc()
        w = (
            Window.partitionBy(on)
            .orderBy(order, F.col("__side").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last("__payload", ignorenulls=True).over(w)

    if direction == "backward":
        out = unioned.withColumn("__pick", fill(True))
    elif direction == "forward":
        out = unioned.withColumn("__pick", fill(False))
    else:
        b, f = fill(True), fill(False)
        us = F.unix_micros(F.col("__ts").cast("timestamp"))
        b_us = F.unix_micros(b["__pts"].cast("timestamp"))
        f_us = F.unix_micros(f["__pts"].cast("timestamp"))
        pick = (
            F.when(f.isNull(), b)
            .when(b.isNull(), f)
            # strict <: an equidistant (or equal-ts) match ties to
            # backward, the pandas convention
            .when((f_us - us) < (us - b_us), f)
            .otherwise(b)
        )
        out = unioned.withColumn("__pick", pick)
    out = out.filter(F.col("__side") == 1)
    for c in right_cols:
        # NULL-left_ts rows match nothing; without the guard the
        # forward scan's desc-nulls-last order would hand them the
        # earliest right payload
        out = out.withColumn(
            f"{c}{suffix}",
            F.when(F.col("__ts").isNotNull(), F.col("__pick")[c]),
        )
    return out.drop("__side", "__ts", "__payload", "__pick")


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str | None,
    point: str,
    lower: str,
    upper: str,
    how: str = "inner",
) -> DataFrame:
    """Rows where left.point ∈ [right.lower, right.upper), optionally
    with equal ``on`` keys.

    With an equi-key this stays a hash/sort-merge join. With
    ``on=None`` (pure interval join — e.g. binning a measure against a
    small bucket table) the right side is BROADCAST and the interval
    predicate evaluates map-side against the handful of broadcast rows:
    the big side never shuffles. Never fabricate a constant equi-key
    for this case — hashing every row to one bucket funnels the whole
    table through a single reducer."""
    l, r = left.alias("l"), right.alias("r")
    cond = (F.col(f"l.{point}") >= F.col(f"r.{lower}")) & (
        F.col(f"l.{point}") < F.col(f"r.{upper}")
    )
    if on is not None:
        cond = (F.col(f"l.{on}") == F.col(f"r.{on}")) & cond
        return l.join(r, cond, how).drop(F.col(f"r.{on}"))
    return l.join(F.broadcast(r), cond, how)


def rolling_median(
    df: DataFrame,
    key: str,
    order: str | list[str],
    value: str,
    window_size: int = 5,
    out: str = "rolling_median",
) -> DataFrame:
    """Per-key rolling LOWER median of the trailing ``window_size``
    rows (current row inclusive) — the robust smoother that, unlike a
    moving average, shrugs off the spikes ``zscore_outliers`` flags.

    The LOWER median (element at 1-based index (n+1) DIV 2 of the
    sorted window) is chosen over the interpolated midpoint so the
    result is an exact element of the input: values round to 4 dp
    decimals, the pick is pure indexing, and both engines agree
    bit-for-bit with no averaging arithmetic at all. NULL values are
    EXCLUDED from the window slice (the median of the non-null
    trailing values); a window with no non-null values emits NULL.

    ``order`` may be a list — pass a unique tie-break (e.g.
    ``["ts", "event_id"]``) whenever the primary order column can
    repeat, or the window CONTENTS become partition-order-dependent.

    Scale: one window shuffle on the key; the collected window slice
    is ``window_size`` elements per row (bounded, independent of
    corpus size), sorted per-row in-memory — O(rows x w log w)
    map-side after the single exchange."""
    order_cols = [order] if isinstance(order, str) else list(order)
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-(int(window_size) - 1), 0)
    )
    vals = F.collect_list(F.round(F.col(value), 4).cast("decimal(19,4)")).over(w)
    arr = F.sort_array(vals)
    # collect_list drops NULLs, so an all-NULL window leaves an EMPTY
    # array — element_at(arr, 0) would throw INVALID_INDEX_OF_ZERO
    med = F.when(
        F.size(arr) > 0,
        F.element_at(arr, ((F.size(arr) + 1) / 2).cast("int")),
    )
    return df.withColumn(out, med.cast("double"))


def ewma(
    df: DataFrame,
    key: str,
    order: str | list[str],
    value: str,
    alpha: float = 0.3,
    window_size: int = 8,
    out: str = "ewma",
) -> DataFrame:
    """Truncated exponentially-weighted moving average per key: the
    classic smoother, evaluated over the trailing ``window_size`` rows
    (current inclusive) with weights (1-alpha)^j, j = age in rows —
    the untruncated tail's weight is (1-alpha)^w of the total, already
    < 6% at the defaults, while truncation is what makes the operator
    both bounded-memory at 100 TB and bit-deterministic.

    Determinism: the weights are PYTHON-evaluated literals (no runtime
    pow — engines' pow() may differ in the last ulp) and the weighted
    sum is UNROLLED into a fixed left-to-right chain of
    multiply-adds over the 4-dp decimal-rounded window slice, so both
    engines execute the identical IEEE operation sequence. Normalized
    by the sum of weights actually present (partial windows at the
    head of each key use only their own weights). NULL values are
    EXCLUDED from the slice — weight (1-alpha)^j attaches to the j-th
    most recent NON-NULL value (pandas ewm ignore_na=True semantics);
    a window with no non-null values emits NULL, never NaN.

    Scale: one window shuffle on the key; per-row work is the bounded
    ``window_size``-element slice — cost per row independent of
    corpus size."""
    order_cols = [order] if isinstance(order, str) else list(order)
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-(int(window_size) - 1), 0)
    )
    arr = F.collect_list(
        F.round(F.col(value), 4).cast("decimal(19,4)").cast("double")
    ).over(w)
    weights = [round((1.0 - float(alpha)) ** j, 12) for j in range(int(window_size))]
    # element_at(arr, -1) is the NEWEST row (weight (1-a)^0); absent
    # elements of a partial window contribute 0 to both numerator and
    # denominator via the same size guard
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j, wj in enumerate(weights):
        present = F.size(arr) > j
        num = num + F.when(
            present, F.element_at(arr, -(j + 1)) * F.lit(wj)
        ).otherwise(F.lit(0.0))
        den = den + F.when(present, F.lit(wj)).otherwise(F.lit(0.0))
    return df.withColumn(
        out, F.when(den > 0, F.round(num / den, 6))
    )


def resample_ohlc(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    id_col: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Time-series downsampling to OHLC bars: per (key, time bucket),
    the opening / highest / lowest / closing value plus row count and
    a decimal-exact sum — the candlestick/rollup primitive for metric
    and price streams.

    Open/close are argmin/argmax over a UNIQUE fixed-width string
    order key (zero-padded epoch seconds ++ zero-padded row id —
    lexicographic order = chronological order, and unlike an
    arithmetic ts*K + id key it cannot collide for ANY id magnitude),
    so ties are impossible and both engines pick identical rows;
    high/low are plain min/max of the 4-dp-rounded decimal value; the
    sum is a decimal sum — everything order-independent. Bucket
    starts are exact integer FLOOR division (ts − pmod(ts, width) in
    long arithmetic — never a double round-trip, which would both
    truncate-toward-zero on pre-1970 timestamps and lose precision
    past 2^53). Row ids AND timestamps must be non-negative for the
    open/close tie order (zero-padding is sign-blind); the bucket
    itself is sign-correct.

    Scale: ONE map-side-combined aggregation on the (key, bucket)
    key; min_by/max_by carry a single (value, okey) pair per group
    through the partial aggregates."""
    ts_long = F.col(ts_col).cast("long")
    bucket = ts_long - F.pmod(ts_long, F.lit(int(bucket_seconds)))
    okey = F.concat(
        F.lpad(F.col(ts_col).cast("long").cast("string"), 12, "0"),
        F.lpad(F.col(id_col).cast("string"), 20, "0"),
    )
    v4 = F.round(F.col(value_col), 4).cast("decimal(19,4)")
    return (
        df.select(
            F.col(key).alias("k"),
            bucket.alias("bucket_start"),
            okey.alias("__o"),
            v4.alias("__v"),
        )
        .groupBy("k", "bucket_start")
        .agg(
            F.min_by("__v", "__o").cast("double").alias("open"),
            F.max("__v").cast("double").alias("high"),
            F.min("__v").cast("double").alias("low"),
            F.max_by("__v", "__o").cast("double").alias("close"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("__v").cast("decimal(28,4)")).cast("double").alias("total"),
        )
        .withColumnRenamed("k", key)
    )


def holt_linear(
    df: DataFrame,
    key: str,
    order: str | list[str],
    value: str,
    alpha: float = 0.3,
    beta: float = 0.2,
    window_size: int = 8,
    out: str = "holt",
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key,
    evaluated over the trailing ``window_size`` non-null rows (current
    inclusive) — the level+trend upgrade of ``ewma`` that forecasts
    one step ahead (out = level + trend) instead of just smoothing.
    Truncation bounds per-row state at 100 TB and, with the recursion
    re-seeded per row (l₀ = oldest value in the window, b₀ = 0), makes
    the output a bit-deterministic function of the bounded slice.

    Determinism: the slice is 4-dp-decimal-rounded doubles; the
    recursion l_t = α·x_t + (1−α)(l+b), b_t = β(l_t − l) + (1−β)b is
    ONE left-fold whose merge expression is written with the same
    literal arithmetic on both engines ((1.0 − α) as an explicit
    subtraction — precomputing 0.7 driver-side would yield a
    DIFFERENT double than the engines' 1.0 − 0.3); the shipped
    ``events_holt_forecast`` oracle unrolls the same fold into
    per-step CTE pairs (DuckDB 1.0's ``list_reduce`` rebinds struct
    accumulator fields from the 3rd element on — probe documented in
    ``__spark_entry__.py``), seeding l₀ from the first element exactly
    as this fold's init. NULLs are excluded from the slice (ewma
    parity); an all-null window emits NULL.

    Scale: one window shuffle on the key; per-row work is the bounded
    ``window_size``-element fold."""
    if int(window_size) < 1:
        raise ValueError(
            f"holt_linear: window_size must be >= 1 (got {window_size})"
        )
    order_cols = [order] if isinstance(order, str) else list(order)
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-(int(window_size) - 1), 0)
    )
    arr = F.collect_list(
        F.round(F.col(value), 4).cast("decimal(19,4)").cast("double")
    ).over(w)
    a = float(alpha)
    b = float(beta)

    def merge(acc, x):
        l_new = F.lit(a) * x + (F.lit(1.0) - F.lit(a)) * (acc["l"] + acc["b"])
        b_new = (
            F.lit(b) * (l_new - acc["l"]) + (F.lit(1.0) - F.lit(b)) * acc["b"]
        )
        return F.struct(l_new.alias("l"), b_new.alias("b"))

    init = F.struct(
        F.element_at(arr, 1).alias("l"), F.lit(0.0).alias("b")
    )
    tail = F.slice(arr, 2, F.greatest(F.lit(0), F.size(arr) - 1))
    fc = F.aggregate(
        tail, init, merge, lambda acc: F.round(acc["l"] + acc["b"], 6)
    )
    return df.withColumn(out, F.when(F.size(arr) > 0, fc))
