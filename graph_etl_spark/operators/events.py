"""Event analytics over the (event_id, ts, user_id, event_type, value)
stream: funnel conversion, cohort retention, and per-basket frequent
pairs — the product-analytics battery (Amplitude/Mixpanel-style)
expressed as declarative DataFrame plans.

Scale design: funnels are k chained per-user min-aggregations (one
shuffle on user id, reused across steps); cohorts are two aggregations
on (user, period); frequent pairs are a within-basket self-equi-join
with canonical ordering (the triangle-count posture — never all-pairs
across baskets). Everything is oracle-expressible: no UDFs, and every
timestamp comparison is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import Pins


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel conversion: for each prefix of ``steps``, the
    number of users who completed it IN ORDER (each step strictly
    after the previous step's first completion — the classic
    first-touch funnel semantics, deterministic because every step
    anchors on the MINIMUM qualifying timestamp).

    Output: (step int 1-based, event_type, n_users) — monotonically
    non-increasing user counts down the funnel.

    Scale: one shuffle on the user key total — each step is a
    per-user min-aggregation over the same hash partitioning, and the
    step frames are user-count-sized (<< event count) from step 1 on.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    base = events.select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("t"), F.col(type_col).alias("et")
    )
    # step 1: first occurrence of steps[0] per user
    reached = (
        base.filter(F.col("et") == steps[0])
        .groupBy("u")
        .agg(F.min("t").alias("t1"))
    )
    out_rows = [(1, steps[0], reached)]
    for i, step in enumerate(steps[1:], start=2):
        prev = out_rows[-1][2]
        nxt = (
            base.filter(F.col("et") == step)
            .join(prev, "u")
            .filter(F.col("t") > F.col(f"t{i-1}"))
            .groupBy("u", f"t{i-1}")
            .agg(F.min("t").alias(f"t{i}"))
        )
        out_rows.append((i, step, nxt))
    counts = None
    for i, step, frame in out_rows:
        c = frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("step"), F.lit(step).alias("event_type"), "n_users"
        )
        counts = c if counts is None else counts.unionByName(c)
    return counts


def retention_cohorts(
    events: DataFrame,
    period_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention triangle: users grouped by their FIRST-seen
    period (cohort), counted in every later period they return.

    Output: (cohort_period long, period_offset long, n_users) where
    periods are epoch-microsecond integer DIV buckets (exact at any
    timestamp granularity — sub-second micros included; both engines
    truncate toward zero, so pre-1970 rows bucket identically too; no
    timezone/calendar ambiguity) and offset 0 is the cohort period
    itself (n_users there = cohort size).

    Scale: two aggregations — per-(user) first-seen, then
    per-(cohort, offset) distinct users; both shuffle on bounded
    keys."""
    base = events.select(
        F.col(user_col).alias("u"),
        F.expr(
            f"unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV 86400000000"
            f" DIV {int(period_days)}"
        ).alias("p"),
    ).distinct()
    first = base.groupBy("u").agg(F.min("p").alias("cohort_period"))
    return (
        base.join(first, "u")
        .groupBy(
            "cohort_period",
            (F.col("p") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.count_distinct(F.col("u")).alias("n_users"))
    )


def attribution(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    model: str = "last_touch",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Single-touch conversion attribution: for every conversion event,
    the touch event (ad click / view / ...) credited under the
    ``last_touch`` or ``first_touch`` model — the marketing-analytics
    primitive completing the events family (funnel / retention /
    attribution).

    "Before" is the total order (ts, event_id) — strictly earlier
    rows in that order qualify, so ties at the same timestamp resolve
    deterministically on any engine or partitioning. Conversions with
    no prior touch are kept with NULL touch columns (they are the
    unattributed bucket every attribution report needs).

    Output: (user_id, conv_event_id, conv_ts, touch_event_id,
    touch_ts, touch_type).

    Scale: ONE shuffle on the user key — the credited touch is a
    running conditional min/max of a (ts, event_id, type) struct over
    the per-user event order (struct comparison is lexicographic, so
    max picks the latest-then-highest-id touch), never a self-join of
    the event log against itself."""
    if model not in ("last_touch", "first_touch"):
        raise ValueError(f"unknown attribution model: {model!r}")
    base = events.select(
        F.col(user_col).alias("user_id"),
        F.col(id_col).alias("event_id"),
        F.col(ts_col).alias("ts"),
        F.col(type_col).alias("et"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("et").isin(list(touch_types)),
        F.struct(
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("t_id"),
            F.col("et").alias("t_type"),
        ),
    )
    pick = F.max(touch).over(w) if model == "last_touch" else F.min(touch).over(w)
    return (
        base.withColumn("__touch", pick)
        .filter(F.col("et") == conversion_type)
        .select(
            "user_id",
            F.col("event_id").alias("conv_event_id"),
            F.col("ts").alias("conv_ts"),
            F.col("__touch.t_id").alias("touch_event_id"),
            F.col("__touch.t_ts").alias("touch_ts"),
            F.col("__touch.t_type").alias("touch_type"),
        )
    )


def frequent_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
) -> DataFrame:
    """Co-occurring item pairs with support >= ``min_support`` — the
    market-basket/frequent-itemset k=2 primitive. Pairs form ONLY
    within a basket (distinct items, canonical a < b ordering — the
    triangle-count posture), so candidate work is Σ basket_size², not
    corpus²; support counts baskets, not occurrences.

    Output: (item_a, item_b, support)."""
    items = df.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    a, bb = items.alias("a"), items.alias("bb")
    return (
        a.join(
            bb,
            (F.col("a.b") == F.col("bb.b")) & (F.col("a.i") < F.col("bb.i")),
        )
        .groupBy(F.col("a.i").alias("item_a"), F.col("bb.i").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= int(min_support))
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix of user journeys: for
    every consecutive event pair within a user's (ts, event_id)-ordered
    stream, (from_type, to_type, n_transitions, p) where p is the row-
    stochastic probability n / Σ n over the same from_type, rounded to
    6 dp — the user-flow model behind next-step prediction and
    funnel-drop diagnosis.

    Scale: one window shuffle on the user key for the lead pairing,
    then a count aggregation on the (from, to) key (bounded by the
    event-type vocabulary squared) and a tiny per-from total join —
    the transition table is vocabulary-sized, never event-sized."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (
        events.select(
            F.col(user_col),
            F.col(ts_col),
            F.col(id_col),
            F.col(type_col).alias("from_type"),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("__total")
    )
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(
                F.col("n_transitions").cast("double") / F.col("__total"), 6
            ).alias("p"),
        )
    )


def seasonal_profile(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str | None = "event_type",
    round_to: int = 6,
) -> DataFrame:
    """Calendar seasonality profile: per (group, day-of-week,
    hour-of-day) cell, the event count and its seasonality INDEX —
    cell count divided by the group's mean cell count over the cells
    it actually occupies — the load-shape fingerprint used for
    capacity planning and as the expected-traffic denominator in
    anomaly detection (a spike detector that ignores Friday-evening
    seasonality pages on every Friday evening).

    dow is ISO (1 = Monday .. 7 = Sunday) so both engines agree on
    week numbering; the index is exact-integer count arithmetic
    (cell·n_cells / group_total) with one final division rounded.

    Output: (group?, dow, hour, n_events, seasonality_index).

    Scale: ONE map-side-combined aggregation over at most
    groups × 168 cells, then a broadcast-sized per-group roll-up
    joined back — no window, no second scan of the fact table."""
    dow = F.dayofweek(F.col(ts_col))  # Sun=1..Sat=7
    iso_dow = F.when(dow == 1, F.lit(7)).otherwise(dow - 1)
    keys = ([group_col] if group_col else []) + ["dow", "hour"]
    cells = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            *([F.col(group_col)] if group_col else []),
            iso_dow.alias("dow"),
            F.hour(F.col(ts_col)).alias("hour"),
        )
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    gkeys = [group_col] if group_col else []
    totals = cells.groupBy(*gkeys).agg(
        F.sum("n_events").alias("__tot"),
        F.count(F.lit(1)).alias("__ncells"),
    )
    joined = (
        cells.join(F.broadcast(totals), gkeys)
        if gkeys
        else cells.crossJoin(F.broadcast(totals))
    )
    return joined.select(
        *keys,
        "n_events",
        F.round(
            (F.col("n_events") * F.col("__ncells")) / F.col("__tot"), round_to
        ).alias("seasonality_index"),
    )


def seasonal_anomaly(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    factor: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Seasonality-aware spike detection: a (group, date, hour) cell
    is anomalous when its count exceeds ``factor`` × the mean count
    of its OWN seasonal cell (same group, same ISO day-of-week, same
    hour, across all dates) — the calendar-conditioned upgrade of a
    plain spike detector, so Friday-evening load is judged against
    Friday evenings only (see ``seasonal_profile``).

    The flag is the EXACT INTEGER comparison
    cnt · n_days > factor · total (no float threshold); the reported
    ratio cnt·n_days/total is one rounded division for display.

    Output: (group, event_date, hour, n_events, ratio) — flagged
    cells only.

    Scale: two map-side-combined aggregations (daily cells, then
    seasonal roll-up over ≤ groups × 168 keys) and one broadcast
    join back — no windows, no second fact scan."""
    dow = F.dayofweek(F.col(ts_col))
    iso_dow = F.when(dow == 1, F.lit(7)).otherwise(dow - 1)
    daily = (
        df.filter(F.col(ts_col).isNotNull())
        .select(
            F.col(group_col),
            # string date: pandas reads an arrow date as datetime64 while
            # Spark hands back datetime.date — a representation-only
            # mismatch at comparison layers; ISO string is unambiguous
            F.to_date(F.col(ts_col)).cast("string").alias("event_date"),
            iso_dow.alias("dow"),
            F.hour(F.col(ts_col)).alias("hour"),
        )
        .groupBy(group_col, "event_date", "dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    cells = daily.groupBy(group_col, "dow", "hour").agg(
        F.sum("n_events").alias("__tot"),
        F.count(F.lit(1)).alias("__ndays"),
    )
    return (
        daily.join(F.broadcast(cells), [group_col, "dow", "hour"])
        .filter(
            F.col("n_events") * F.col("__ndays")
            > F.lit(int(factor)) * F.col("__tot")
        )
        .select(
            group_col,
            "event_date",
            "hour",
            "n_events",
            F.round(
                (F.col("n_events") * F.col("__ndays")) / F.col("__tot"),
                round_to,
            ).alias("ratio"),
        )
    )


def funnel_windowed_counts(
    events: DataFrame,
    steps: list[str],
    window_seconds: int,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Conversion-window funnel: like ``funnel_counts`` (first-touch
    anchors, each step strictly after the previous step's qualifying
    timestamp) but every later step must ALSO land within
    ``window_seconds`` of the user's step-1 first touch — the
    Amplitude/GA-style "converted within N days" semantics, which is
    what product funnels actually report (an unbounded funnel credits
    a purchase a year after the click).

    Output: (step, event_type, n_users) — non-increasing down the
    funnel, and pointwise <= the unbounded funnel's counts.

    Scale: identical shape to ``funnel_counts`` — one shuffle on the
    user key; per-step frames stay one row per user with the step-1
    anchor threaded through for the window test."""
    if not steps:
        raise ValueError("funnel needs at least one step")
    if int(window_seconds) < 1:
        raise ValueError(
            f"funnel_windowed_counts: window_seconds must be >= 1 "
            f"(got {window_seconds})"
        )
    base = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(type_col).alias("et"),
    )
    reached = (
        base.filter(F.col("et") == steps[0])
        .groupBy("u")
        .agg(F.min("t").alias("t1"))
        .withColumn("__prev", F.col("t1"))
    )
    out_rows = [(1, steps[0], reached)]
    limit = F.col("t1") + F.expr(f"INTERVAL {int(window_seconds)} SECONDS")
    for i, step in enumerate(steps[1:], start=2):
        prev = out_rows[-1][2]
        nxt = (
            base.filter(F.col("et") == step)
            .join(prev.select("u", "t1", "__prev"), "u")
            .filter((F.col("t") > F.col("__prev")) & (F.col("t") <= limit))
            .groupBy("u", "t1")
            .agg(F.min("t").alias("__prev"))
        )
        out_rows.append((i, step, nxt))
    counts = None
    for i, step, frame in out_rows:
        c = frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("step"), F.lit(step).alias("event_type"), "n_users"
        )
        counts = c if counts is None else counts.unionByName(c)
    return counts


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_bands: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic lifecycle scoring: per user, seconds since their last
    event (vs the corpus max timestamp), event count, and 2-dp-decimal
    value sum, each banded 1..n_bands by EXACT global rank (band =
    1 + (rank-1)·n_bands / n, integer arithmetic; higher band =
    better, so recency ranks descending-age). Ranks come from the
    two-phase ``exact_global_rank`` — users are data-sized at 100 TB
    and a single ntile window would serialize them through one
    reducer.

    Output: (user, recency_s, frequency, monetary, r, f, m).

    Scale: one user-keyed aggregation; three two-phase ranks over the
    user-sized frame (boundary literals + bucket-local windows +
    broadcast offsets — zero unpartitioned windows); one scalar
    max-ts broadcast."""
    from .quality import exact_global_rank

    if int(n_bands) < 1:
        raise ValueError(f"rfm_segments: n_bands must be >= 1 (got {n_bands})")
    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    anchor = base.agg(
        F.max(F.unix_timestamp(F.col(ts_col))).alias("__now")
    )
    per_user = (
        base.groupBy(F.col(user_col).alias("user"))
        .agg(
            F.max(F.unix_timestamp(F.col(ts_col))).alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                F.round(F.col(value_col), 2).cast("decimal(20,2)")
            ).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user",
            (F.col("__now") - F.col("__last")).alias("recency_s"),
            "frequency",
            F.coalesce(F.col("monetary"), F.lit(0).cast("decimal(20,2)")).alias(
                "monetary"
            ),
        )
    )
    nb = int(n_bands)

    def band(df: DataFrame, col: str, out: str, descending_is_good: bool):
        # rank ascending on the raw value; for recency LOW age is good,
        # so its band is inverted
        ranked, n = exact_global_rank(
            df.withColumn("__v", F.col(col).cast("double")),
            "__v",
            ["__v", "user"],
            out="__r",
        )
        # explicit floor: DuckDB CAST(double AS BIGINT) rounds while
        # Spark's cast truncates — floor() agrees everywhere
        expr = 1 + F.floor((F.col("__r") - 1) * nb / F.lit(n)).cast("long")
        if descending_is_good:
            expr = F.lit(nb + 1) - expr
        return ranked.withColumn(out, expr).drop("__r", "__v")

    out = band(per_user, "recency_s", "r", descending_is_good=True)
    out = band(out, "frequency", "f", descending_is_good=False)
    out = band(out, "monetary", "m", descending_is_good=False)
    # monetary emits as DOUBLE: the sum itself is the exact decimal
    # (banding ranks the decimal), the cast is display-layer parity
    return out.select(
        "user", "recency_s", "frequency",
        F.col("monetary").cast("double").alias("monetary"), "r", "f", "m",
    )


def peak_concurrency(
    events: DataFrame,
    gap_minutes: int = 30,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Sweep-line concurrency timeline: gap-sessionize per user, emit a
    +1 boundary at every session start and a -1 at its end (last event
    + the gap, the ``session_windows`` interval convention), and run
    an EXACT global prefix sum over the boundary order — instantaneous
    "how many sessions are open" at every boundary, whose max is the
    peak-concurrency capacity number. End boundaries order before
    starts at the same instant (intervals are end-exclusive: a session
    ending exactly when another starts does not overlap it).

    Output: (ts, delta, user, concurrent) — one row per boundary.

    Determinism: (epoch_us, delta, user) is a total order — a user's
    consecutive sessions are separated by > gap, so one user never has
    two equal (instant, delta) boundaries.

    Scale: one user-keyed sessionization window, then the two-phase
    ``exact_global_cumsum`` (percentile boundary literals ->
    bucket-local running sums + broadcast offsets) — the global sweep
    never serializes through one reducer. ZERO unpartitioned windows."""
    from .quality import exact_global_cumsum

    if int(gap_minutes) < 1:
        raise ValueError(
            f"peak_concurrency: gap_minutes must be >= 1 (got {gap_minutes})"
        )
    gap_s = int(gap_minutes) * 60
    w = Window.partitionBy(user_col).orderBy(ts_col)
    ts = F.col(ts_col).cast("timestamp")
    epoch = ts.cast("long")
    new_session = F.when(
        (epoch - F.lag(epoch).over(w)).isNull()
        | ((epoch - F.lag(epoch).over(w)) > gap_s),
        1,
    ).otherwise(0)
    sess = (
        events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .withColumn(
            "__sid",
            F.sum(new_session).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy(F.col(user_col).alias("user"), "__sid")
        .agg(
            F.min(ts).alias("__start"),
            (F.max(ts) + F.expr(f"INTERVAL {int(gap_minutes)} MINUTE")).alias(
                "__end"
            ),
        )
    )
    bounds = sess.select(
        F.col("__start").alias("ts"), F.lit(1).cast("long").alias("delta"), "user"
    ).unionByName(
        sess.select(
            F.col("__end").alias("ts"),
            F.lit(-1).cast("long").alias("delta"),
            "user",
        )
    )
    keyed = bounds.withColumn("__us", F.unix_micros(F.col("ts").cast("timestamp")))
    summed, _ = exact_global_cumsum(
        keyed, "delta", ["__us", "delta", "user"], out="concurrent"
    )
    return summed.select("ts", "delta", "user", "concurrent")


def cusum_changepoint(
    events: DataFrame,
    bucket: str = "hour",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Integer-exact CUSUM changepoint per event type: bucket the
    stream by ``bucket`` (date_trunc), count per bucket, and locate
    the bucket where the mean level shifts — the classic
    cumulative-sum statistic S_k = Σ_{i≤k}(c_i − mean) scaled by the
    bucket count B so every intermediate is an EXACT integer:
    S'_k = Σ_{i≤k}(B·c_i − T) = B·S_k (T = total events of that type).
    The changepoint is the bucket maximizing |S'_k| (ties -> earliest
    bucket) — where the cumulative deviation from a flat rate peaks.

    Output: one row per event type —
    (event_type, change_ts, cusum_abs, n_buckets, total).

    Determinism: pure integer arithmetic until the output; ``cusum_abs``
    returns as long (exact while B·T < 2^63 — 1e6 buckets × 1e12
    events clears it; the internal sum is decimal(38,0) regardless so
    only the OUTPUT cast is range-bound, documented not silent).

    Scale: one (type, bucket) map-side-combined count, a broadcast
    per-type totals join (types are dimension-sized), and TYPE-KEYED
    cumulative windows — buckets of one type land on one reducer,
    bounded by the time range, never by data volume."""
    counts = (
        events.filter(F.col(ts_col).isNotNull() & F.col(type_col).isNotNull())
        .groupBy(
            F.col(type_col).alias("event_type"),
            F.date_trunc(bucket, F.col(ts_col).cast("timestamp")).alias(
                "__bucket"
            ),
        )
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    totals = counts.groupBy("event_type").agg(
        F.sum("__c").alias("__t"), F.count(F.lit(1)).alias("n_buckets")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (
        F.col("n_buckets").cast("decimal(38,0)") * F.col("__c")
        - F.col("__t")
    )
    scored = (
        counts.join(F.broadcast(totals), "event_type")
        .withColumn("__s", F.sum(dev).over(w))
        .withColumn("__abs", F.abs(F.col("__s")))
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("__abs").desc(), F.col("__bucket").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            "event_type",
            F.col("__bucket").alias("change_ts"),
            F.col("__abs").cast("long").alias("cusum_abs"),
            "n_buckets",
            F.col("__t").alias("total"),
        )
    )


def ab_ztest(
    events: DataFrame,
    conv_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    round_to: int = 6,
) -> DataFrame:
    """Two-proportion A/B z-test with DETERMINISTIC hash assignment:
    every user lands in variant H56(user) mod 2 (the reproducible
    bucketing every experimentation platform uses — re-running the
    analysis re-derives identical groups), converts if they ever emit
    a ``conv_type`` event, and the conversion-rate lift is scored by
    the pooled two-proportion z statistic
    z = (p1 − p0) / sqrt(p̂(1−p̂)(1/n0 + 1/n1)).

    Output: one row — (n_control, conv_control, n_treatment,
    conv_treatment, rate_control, rate_treatment, z).

    Determinism: counts are exact integers; the rates and z evaluate
    in one fixed expression order mirrored by the oracle, rounded at
    the end.

    Scale: one user-keyed aggregation (the conversion flag is a
    map-side max of a 0/1), then a 1-row conditional aggregation —
    nothing global beyond two scalars."""
    from .text import h56

    per_user = (
        events.filter(F.col(user_col).isNotNull())
        .groupBy(F.col(user_col).alias("user"))
        .agg(
            F.max(
                F.when(F.col(type_col) == conv_type, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("__conv")
        )
        .withColumn("__variant", h56(F.col("user").cast("string")) % 2)
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("__variant") == 0, 1).otherwise(0)).alias(
            "n_control"
        ),
        F.sum(F.when(F.col("__variant") == 0, F.col("__conv")).otherwise(0)).alias(
            "conv_control"
        ),
        F.sum(F.when(F.col("__variant") == 1, 1).otherwise(0)).alias(
            "n_treatment"
        ),
        F.sum(F.when(F.col("__variant") == 1, F.col("__conv")).otherwise(0)).alias(
            "conv_treatment"
        ),
    )
    n0 = F.col("n_control").cast("double")
    c0 = F.col("conv_control").cast("double")
    n1 = F.col("n_treatment").cast("double")
    c1 = F.col("conv_treatment").cast("double")
    pooled = (c0 + c1) / (n0 + n1)
    z = ((c1 / n1) - (c0 / n0)) / F.sqrt(
        pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
    )
    return agg.select(
        "n_control",
        "conv_control",
        "n_treatment",
        "conv_treatment",
        F.round(c0 / n0, round_to).alias("rate_control"),
        F.round(c1 / n1, round_to).alias("rate_treatment"),
        F.round(z, round_to).alias("z"),
    )


def ab_cuped(
    events: DataFrame,
    cutoff_ts: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    round_to: int = 6,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) — the adjustment
    every experimentation platform applies before the z-test: per
    user, pre-period covariate x (value sum before ``cutoff_ts``) and
    experiment metric y (value sum after), θ = cov(x,y)/var(x) pooled
    over all users, adjusted metric ŷ = y − θ·(x − mean(x)). Users
    whose pre-period behavior predicts their metric stop inflating the
    variance, so the same lift needs far less traffic to detect.
    Variants assign deterministically (H56(user) mod 2).

    Output: one row per variant — (variant, n_users, mean_y,
    mean_y_cuped, theta).

    Determinism: x, y sum as 2-dp DECIMALS per user and all pooled
    moments (Σx, Σy, Σxy, Σx²) sum as DECIMAL — exact and order-free;
    θ and the adjusted means evaluate in one fixed double expression
    order mirrored by the oracle, rounded at the end.

    Scale: one user-keyed aggregation, one 1-row pooled-moment
    aggregation (broadcast), one variant-keyed aggregation — nothing
    global beyond scalars."""
    from .text import h56

    ts = F.col(ts_col).cast("timestamp")
    cut = F.lit(cutoff_ts).cast("timestamp")
    # 18,2 (not wider): the x·y cross moment must multiply within
    # decimal(38) on BOTH engines — (18,2)² fits, (20,2)² does not
    v2 = F.round(F.col(value_col), 2).cast("decimal(18,2)")
    per_user = (
        events.filter(F.col(user_col).isNotNull())
        .groupBy(F.col(user_col).alias("user"))
        .agg(
            F.coalesce(F.sum(F.when(ts < cut, v2)), F.lit(0))
            .cast("decimal(18,2)")
            .alias("__x"),
            F.coalesce(F.sum(F.when(ts >= cut, v2)), F.lit(0))
            .cast("decimal(18,2)")
            .alias("__y"),
        )
        .withColumn("__variant", h56(F.col("user").cast("string")) % 2)
    )
    moments = per_user.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    theta = (sxy - (sx * sy) / n) / (sxx - (sx * sx) / n)
    mean_x = sx / n
    per_variant = per_user.groupBy(F.col("__variant").alias("variant")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("__y").alias("__vy"),
        F.sum("__x").alias("__vx"),
    )
    vy = F.col("__vy").cast("double")
    vx = F.col("__vx").cast("double")
    nv = F.col("n_users").cast("double")
    return (
        per_variant.crossJoin(F.broadcast(moments))
        .select(
            "variant",
            "n_users",
            F.round(vy / nv, round_to).alias("mean_y"),
            F.round(
                vy / nv - theta * (vx / nv - mean_x), round_to
            ).alias("mean_y_cuped"),
            F.round(theta, round_to).alias("theta"),
        )
    )


def survival_km(
    events: DataFrame,
    churn_after_s: int = 604800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    round_to: int = 6,
) -> DataFrame:
    """KAPLAN-MEIER survival curves per signup cohort — the retention
    statistic that handles CENSORING correctly (a user still active at
    corpus end hasn't churned; naive retention undercounts them): a
    user's lifetime is last_event − first_event in whole days, they
    count as churned (an observed "death") only if silent for more
    than ``churn_after_s`` seconds before the corpus max timestamp, and the
    curve multiplies risk-set survival factors S(t) = Π_{t_i≤t}
    (1 − d_i/n_i) over observed churn days only — censored users leave
    the risk set without forcing the curve down.

    Output: (cohort, day, at_risk, churned, survival) — one row per
    (signup week, churn day); survival is the KM estimate at that day.

    Determinism: d and n are exact integers; each factor's ln rounds
    to a 9-dp decimal and the per-cohort running product is an exact
    decimal cumsum exponentiated once at the end (the LM family's ln
    bet); a zero factor (whole risk set churns) forces survival to an
    exact 0.0 from that day on instead of ln(0).

    Scale: one user-keyed aggregation, one (cohort, day) roll-up, and
    COHORT-KEYED windows — the risk-set reverse cumsum and the factor
    product both partition by cohort, bounded by the time range, never
    a data-sized single-reducer sort."""
    ts = F.col(ts_col).cast("timestamp")
    per_user = (
        events.filter(F.col(user_col).isNotNull() & F.col(ts_col).isNotNull())
        .groupBy(F.col(user_col).alias("user"))
        .agg(
            F.min(ts.cast("long")).alias("__first"),
            F.max(ts.cast("long")).alias("__last"),
            F.date_trunc("week", F.min(ts)).alias("cohort"),
        )
    )
    anchor = per_user.agg(F.max("__last").alias("__now"))
    lifted = per_user.crossJoin(F.broadcast(anchor)).select(
        "cohort",
        ((F.col("__last") - F.col("__first")) / F.lit(86400))
        .cast("long")
        .alias("day"),
        F.when(
            F.col("__last")
            < F.col("__now") - F.lit(int(churn_after_s)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("__churned"),
    )
    counts = lifted.groupBy("cohort", "day").agg(
        F.count(F.lit(1)).alias("__n_users"),
        F.sum("__churned").alias("churned"),
    )
    w_desc = (
        Window.partitionBy("cohort")
        .orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risky = counts.withColumn("at_risk", F.sum("__n_users").over(w_desc))
    deaths = risky.filter(F.col("churned") > 0)
    factor = F.lit(1.0) - F.col("churned").cast("double") / F.col(
        "at_risk"
    ).cast("double")
    w_asc = (
        Window.partitionBy("cohort")
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scored = (
        deaths.withColumn(
            "__lnf",
            F.when(factor > 0, F.round(F.log(factor), 9))
            .otherwise(F.lit(0.0))
            .cast("decimal(18,9)"),
        )
        .withColumn(
            "__dead_end",
            F.max(F.when(factor == 0, 1).otherwise(0)).over(w_asc),
        )
        .withColumn("__cum", F.sum("__lnf").over(w_asc))
    )
    return scored.select(
        "cohort",
        "day",
        "at_risk",
        "churned",
        F.when(F.col("__dead_end") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("__cum").cast("double")), round_to))
        .alias("survival"),
    )


def top_paths(
    events: DataFrame,
    depth: int = 3,
    k: int = 20,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-k most common ``depth``-step event PATHS — the
    "what do users actually do" sequence mining a product-analytics
    stack runs beside funnels (funnels test a hypothesis; paths
    surface the hypotheses): per user-ordered event stream, every
    length-``depth`` window of consecutive event types joins to a
    'a>b>c' path string, counted corpus-wide, top k by count (ties ->
    lexicographic path, fully deterministic).

    Output: (path, n) — exactly ``k`` rows (fewer if the corpus has
    fewer distinct paths).

    Scale: one user-keyed lead window (the shuffle sessionization
    already pays), one map-side-combined path count, and an
    orderBy().limit(k) that compiles to TakeOrderedAndProject —
    per-partition top-k plus a k·partitions merge, never a global
    sort."""
    if int(depth) < 2:
        raise ValueError(f"top_paths: depth must be >= 2 (got {depth})")
    if int(k) < 1:
        raise ValueError(f"top_paths: k must be >= 1 (got {k})")
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w) for i in range(1, int(depth))
    ]
    path = F.concat_ws(">", *steps)
    complete = steps[-1].isNotNull()
    return (
        events.filter(
            F.col(user_col).isNotNull() & F.col(type_col).isNotNull()
        )
        .withColumn("__path", path)
        .withColumn("__ok", complete)
        .filter(F.col("__ok"))
        .groupBy(F.col("__path").alias("path"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(int(k))
    )


def markov_steady_state(
    events: DataFrame,
    iters: int = 30,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    max_states: int = 1000,
) -> DataFrame:
    """STATIONARY DISTRIBUTION of the event-type Markov chain — the
    long-run "where do users spend their time" vector that
    ``event_transitions``' matrix implies: power iteration in EXACT
    integer micro-units (10^12 per unit of probability mass), so every
    step is floor/half-up integer arithmetic that Python, Spark, and a
    SQL oracle reproduce bit-for-bit — no float accumulation anywhere.
    Transition rows half-up-round to micro-units; a state with no
    outgoing transitions self-loops (mass is conserved up to the
    documented sub-1e-9 rounding drift per step); the start vector is
    uniform with the remainder milli-units assigned to the
    lexicographically first state.

    Output: (state, n_out, stationary_micro, stationary) — n_out the
    state's outgoing transition count, stationary_micro the EXACT
    integer mass, stationary its double view (micro → nearest double →
    one IEEE division by 1e12, the same two steps on every engine — no
    rounding call whose half-way convention could differ).

    Scale: the DISTRIBUTED work is the corpus-wide consecutive-pair
    count (one user-keyed lead window + one bounded aggregation); the
    chain itself is states²-bounded, collected once and iterated
    driver-side in exact ints — the literal-centroid convention for
    dimension-sized model state. ``max_states`` makes the bound
    CONTRACTUAL: a distributed distinct-state count gates the collect
    and raises when a high-cardinality type column sneaks in."""
    U = 10**12
    if int(iters) < 1:
        raise ValueError(
            f"markov_steady_state: iters must be >= 1 (got {iters})"
        )
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    stream = (
        events.filter(
            F.col(user_col).isNotNull() & F.col(type_col).isNotNull()
        )
        .withColumn("__nxt", F.lead(type_col).over(w))
        .filter(F.col("__nxt").isNotNull())
    )
    pins = Pins("markov_steady_state")
    counts_df = pins.pin(
        stream.groupBy(
            F.col(type_col).alias("__cur"), F.col("__nxt")
        ).agg(F.count(F.lit(1)).alias("__c"))
    )
    # CONTRACTUAL boundedness gate (VERDICT r13 #7): the chain is
    # collected driver-side, so the state space must actually be
    # chain-sized. The distinct-state count runs DISTRIBUTED on the
    # already-aggregated (states²-bounded) pair frame — nothing big
    # ever reaches the driver when the guard trips.
    n_states_seen = (
        counts_df.select(F.col("__cur").alias("__s"))
        .unionAll(counts_df.select(F.col("__nxt").alias("__s")))
        .agg(F.countDistinct("__s").alias("__n"))
        .collect()[0]["__n"]
    )
    if n_states_seen > int(max_states):
        pins.result(None)
        raise ValueError(
            f"markov_steady_state: {n_states_seen} distinct event types "
            f"exceed max_states={max_states} — the chain is collected "
            f"driver-side; pass a coarser type column or raise max_states"
        )
    counts = counts_df.collect()
    # the chain is on the driver now: nothing reads the pin
    pins.result(None)
    states = sorted(
        {r["__cur"] for r in counts} | {r["__nxt"] for r in counts}
    )
    if not states:
        raise ValueError("markov_steady_state: no transitions in input")
    t = {s: 0 for s in states}
    for r in counts:
        t[r["__cur"]] += int(r["__c"])
    p: dict[tuple[str, str], int] = {}
    for r in counts:
        cur, nxt, c = r["__cur"], r["__nxt"], int(r["__c"])
        # half-up micro-unit probability: (2cU + t) // (2t)
        p[(cur, nxt)] = (2 * c * U + t[cur]) // (2 * t[cur])
    for s in states:
        if t[s] == 0:
            p[(s, s)] = U  # dangling state self-loops
    n = len(states)
    v = {s: U // n for s in states}
    v[states[0]] += U % n
    for _ in range(int(iters)):
        nv = {s: 0 for s in states}
        for (cur, nxt), pm in p.items():
            nv[nxt] += (v[cur] * pm) // U
        v = nv
    spark = events.sparkSession
    rows = [(s, t[s], v[s], float(v[s]) / float(U)) for s in states]
    return spark.createDataFrame(
        rows,
        "state string, n_out long, stationary_micro long, stationary double",
    )


def cohort_ltv(
    events: DataFrame,
    period_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """COHORT LIFETIME-VALUE triangle — ``retention_cohorts``' revenue
    sibling and the other half of every growth dashboard: users grouped
    by first-seen period, their per-period value summed, and the
    running (cumulative) value per cohort across offsets — LTV(cohort,
    t) as the downstream payback-model consumes it.

    Output: (cohort_period, period_offset, n_users, period_value,
    cum_value) — n_users is the offset's DISTINCT active users (the
    retention triangle rides along), values are exact 4-dp decimal
    sums (cumulated exactly — no float accumulation across offsets),
    periods the same epoch-microsecond integer DIV buckets as
    retention_cohorts (exact at any timestamp granularity; both
    engines truncate toward zero).

    Scale: one per-user first-seen aggregation (user-keyed), one
    (cohort, offset) aggregation, and one cumulative window whose
    partitions are cohort-sized row counts (offsets per cohort ≤ the
    observation span in periods — tiny), all map-side-combinable."""
    v4 = F.round(F.col(value_col), 4).cast("decimal(19,4)")
    base = events.filter(
        F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
    ).select(
        F.col(user_col).alias("u"),
        F.expr(
            f"unix_micros(CAST({ts_col} AS TIMESTAMP)) DIV 86400000000"
            f" DIV {int(period_days)}"
        ).alias("p"),
        F.coalesce(v4, F.lit(0).cast("decimal(19,4)")).alias("v"),
    )
    first = base.groupBy("u").agg(F.min("p").alias("cohort_period"))
    per = (
        base.join(first, "u")
        .groupBy(
            "cohort_period",
            (F.col("p") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(
            F.count_distinct(F.col("u")).alias("n_users"),
            F.sum("v").alias("period_value"),
        )
    )
    w = (
        Window.partitionBy("cohort_period")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "cohort_period",
        "period_offset",
        "n_users",
        F.col("period_value").cast("double").alias("period_value"),
        F.sum("period_value").over(w).cast("double").alias("cum_value"),
    )


def burstiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """BURSTINESS coefficient per user (Goh & Barabási 2008, the
    public "Burstiness and memory in complex systems" letter):
    B = (σ − μ)/(σ + μ) over the user's inter-event gaps — −1 for a
    perfectly periodic stream, → 0 for Poisson, → 1 for extreme
    bursts; the one-number activity-pattern feature behind bot
    detection and engagement modeling, complementing ``sessionize``
    (which cuts on a fixed gap instead of characterizing it).

    Determinism: gaps are exact integer MICROSECONDS off a (ts,
    tie)-lag window (sub-second timestamps truncate differently
    across engines in seconds); Σx and Σx² accumulate as
    decimal(38,0) (order-free);
    mean/σ/B is ONE double chain — mean = Σx/n, σ = sqrt((n·Σx² −
    Σx·Σx)/(n·n)) (population σ, correctly-rounded IEEE sqrt both
    engines), B = (σ − μ)/(σ + μ) — in the identical operand order,
    rounded at the end. Users with one event have no gaps and are
    excluded; an all-zero-gap user has σ + μ = 0 and reports NULL.

    Output: (user_col, n_gaps, mean_gap_us, std_gap_us, burstiness).

    Scale: one lag window + one aggregation, both on the user key —
    the same single-shuffle class as sessionize."""
    ties = tie_cols or []
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col), *[F.col(c) for c in ties]
    )
    gaps = (
        events.filter(F.col(ts_col).isNotNull())
        .withColumn(
            "__gap",
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.lag(F.unix_micros(F.col(ts_col).cast("timestamp"))).over(w),
        )
        .filter(F.col("__gap").isNotNull())
    )
    g38 = F.col("__gap").cast("decimal(38,0)")
    agg = gaps.groupBy(user_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(g38).alias("__sx"),
        F.sum(g38 * g38).alias("__sxx"),
    )
    nd = F.col("n_gaps").cast("double")
    sx = F.col("__sx").cast("double")
    sxx = F.col("__sxx").cast("double")
    mean = sx / nd
    sd = F.sqrt((nd * sxx - sx * sx) / (nd * nd))
    b = F.when((sd + mean) != 0.0, (sd - mean) / (sd + mean))
    return agg.select(
        user_col,
        "n_gaps",
        F.round(mean, round_to).alias("mean_gap_us"),
        F.round(sd, round_to).alias("std_gap_us"),
        F.round(b, round_to).alias("burstiness"),
    )


def ab_srm_check(
    events: DataFrame,
    user_col: str = "user_id",
    expected_a: float = 0.5,
    threshold: float = 3.841,
) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH guardrail — the pre-test every A/B
    readout must pass (a biased assignment invalidates ``ab_ztest``
    and ``ab_cuped`` before any lift math): users assign by the SAME
    deterministic H56(user) mod 2 bucketing the test ops use, and the
    observed control/treatment split is scored against the expected
    ratio with the one-degree chi-square statistic
    χ² = (n_a − E_a)²/E_a + (n_b − E_b)²/E_b; ``srm_detected`` fires
    at the literal ``threshold`` (3.841 = the public χ²₁ 95% critical
    value).

    Output: one row — (n_users, n_control, n_treatment,
    expected_control, chi2, srm_detected).

    Determinism: counts exact; expected/χ² close in one mirrored
    float expression, rounded at the end.

    Scale: one distinct-user aggregation to TWO counters — nothing
    else."""
    from .text import h56

    ratio = float(expected_a)
    if not (0.0 < ratio < 1.0):
        raise ValueError(
            f"ab_srm_check: expected_a must be in (0, 1) (got {expected_a})"
        )
    users = (
        events.filter(F.col(user_col).isNotNull())
        .select(F.col(user_col).alias("u"))
        .distinct()
        .select((h56(F.col("u").cast("string")) % 2 == 0).alias("__is_a"))
    )
    agg = users.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("__is_a").cast("long")).alias("n_control"),
    )
    n = F.col("n_users").cast("double")
    na = F.col("n_control").cast("double")
    nb = n - na
    ea = n * F.lit(ratio)
    eb = n * F.lit(1.0 - ratio)
    chi2 = (na - ea) * (na - ea) / ea + (nb - eb) * (nb - eb) / eb
    return agg.select(
        "n_users",
        "n_control",
        (F.col("n_users") - F.col("n_control")).alias("n_treatment"),
        F.round(ea, 6).alias("expected_control"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > F.lit(float(threshold))).alias("srm_detected"),
    )


def bot_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    tie_cols: list[str] | None = None,
    min_gaps: int = 5,
    max_burstiness: float = -0.9,
) -> DataFrame:
    """AUTOMATION / BOT-TRAFFIC detection on inter-event timing — the
    training-data hygiene filter upstream of every engagement-derived
    label: human event streams are bursty (B > 0, Goh-Barabási),
    schedulers and scrapers are metronomic (σ ≈ 0 → B → −1). A user
    flags as a bot with at least ``min_gaps`` gaps AND burstiness at
    or below ``max_burstiness`` — both thresholds literal so the
    verdict is engine-mirrorable.

    Output: ``burstiness``'s columns (user_id, n_gaps, mean_gap_us,
    std_gap_us, burstiness) plus ``is_bot``.

    Scale: exactly ``burstiness``'s one lag window + one aggregation;
    the flag is a map-side expression on top."""
    scored = burstiness(
        events, user_col=user_col, ts_col=ts_col, tie_cols=tie_cols
    )
    return scored.withColumn(
        "is_bot",
        (F.col("n_gaps") >= int(min_gaps))
        & (F.col("burstiness") <= float(max_burstiness)),
    )


def ab_power_analysis(
    events: DataFrame,
    conv_type: str = "purchase",
    min_events: int = 1,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    alpha_z: float = 1.959964,
    power_z: float = 0.841621,
    mde_rels: tuple[float, ...] = (0.01, 0.02, 0.05, 0.10),
    round_to: int = 6,
) -> DataFrame:
    """A/B sample-size calculator grounded in the table's OWN baseline:
    measure the corpus conversion rate p once (a user converts when
    they emit ``min_events`` or more ``conv_type`` events — the knob
    that keeps the baseline meaningful on corpora where everyone
    converts at least once), then for each relative
    minimum-detectable-effect (MDE) report the required per-arm sample
    size under the standard two-proportion normal approximation

        n = (z_{α/2} + z_{power})² · (p(1−p) + p'(1−p')) / (p' − p)²,
        p' = p·(1 + mde)

    plus how many days of the table's observed distinct-user inflow
    that demand represents — the pre-experiment feasibility row every
    experimentation platform prints before anyone flips a flag
    (complements ``ab_ztest``/``ab_srm``, which judge a test AFTER it
    ran). z quantiles enter as literals (α=5% two-sided, 80% power by
    default) — no erf inverse, deterministic everywhere.

    Output: one row per MDE — (mde_rel, base_rate, target_rate,
    n_per_arm, days_needed), n_per_arm ceil'd to a long.

    Determinism: the baseline aggregation is exact integer counts;
    the per-MDE arithmetic is one fixed expression sequence over a
    1-row frame, rounded at the end — the oracle mirrors it verbatim.

    Scale: one user-keyed aggregation + two 1-row scalars; the MDE
    fan-out is a 4-row broadcast-joined literal frame. Nothing grows
    with the corpus."""
    per_user = (
        events.filter(F.col(user_col).isNotNull())
        .groupBy(F.col(user_col).alias("user"))
        .agg(
            (
                F.sum(
                    F.when(F.col(type_col) == conv_type, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                )
                >= int(min_events)
            )
            .cast("int")
            .alias("__conv")
        )
    )
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))  # NTZ-robust
    span = events.agg(
        ((F.max(us) - F.min(us)) / F.lit(86400000000.0)).alias("__days")
    )
    base = per_user.agg(
        F.count(F.lit(1)).alias("__n_users"),
        F.sum("__conv").alias("__n_conv"),
    )
    spark = events.sparkSession
    mde = spark.createDataFrame(
        [(float(m),) for m in mde_rels], "mde_rel double"
    )
    zsum2 = (float(alpha_z) + float(power_z)) ** 2
    p = F.col("__n_conv").cast("double") / F.col("__n_users").cast("double")
    one = base.crossJoin(span)  # both sides literally 1 row
    out = one.crossJoin(F.broadcast(mde)).select(
        "mde_rel",
        F.round(p, round_to).alias("base_rate"),
        F.round(p * (F.lit(1.0) + F.col("mde_rel")), round_to).alias(
            "target_rate"
        ),
        F.ceil(
            F.lit(zsum2)
            * (
                p * (F.lit(1.0) - p)
                + (p * (F.lit(1.0) + F.col("mde_rel")))
                * (F.lit(1.0) - p * (F.lit(1.0) + F.col("mde_rel")))
            )
            / (p * F.col("mde_rel")) / (p * F.col("mde_rel"))
        ).cast("long").alias("n_per_arm"),
        F.round(
            F.lit(2.0)
            * F.ceil(
                F.lit(zsum2)
                * (
                    p * (F.lit(1.0) - p)
                    + (p * (F.lit(1.0) + F.col("mde_rel")))
                    * (F.lit(1.0) - p * (F.lit(1.0) + F.col("mde_rel")))
                )
                / (p * F.col("mde_rel")) / (p * F.col("mde_rel"))
            )
            / (F.col("__n_users").cast("double") / F.col("__days")),
            round_to,
        ).alias("days_needed"),
    )
    return out


def ab_diff_in_diff(
    events: DataFrame,
    metric_type: str = "purchase",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    round_to: int = 6,
) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES estimate — the quasi-experimental
    complement to ``ab_ztest``/``ab_cuped``: when a change launches to
    a hash-assigned treatment group mid-stream, the causal read is
    (treatment post − treatment pre) − (control post − control pre),
    which nets out both group-level baseline differences and the
    secular time trend the raw post-period comparison confounds.

    Cells: variant = H56(user) mod 2 (the deterministic bucketing the
    A/B family shares); period = post iff the event lands at or after
    the stream's integer-microsecond midpoint ((min+max) DIV 2 — a
    data-derived split so the operator needs no launch timestamp;
    pass one at the call site by filtering). Cell means are over
    ``metric_type`` events' ``value_col``.

    Output: one row — (n_pre_control, n_post_control, n_pre_treat,
    n_post_treat, mean_pre_control, mean_post_control, mean_pre_treat,
    mean_post_treat, did).

    Determinism: values round to 4 dp and sum as DECIMAL (order-free
    exact cell totals); every mean divides once; the DiD combination
    is one fixed expression, rounded at the end — the oracle mirrors
    it verbatim. Empty cells yield NULL means (and a NULL did), never
    a silent 0.

    Scale: one 1-row bounds aggregation broadcast-crossed onto the
    stream, then ONE conditional aggregation over the metric events —
    no user-keyed shuffle at all (DiD is event-level, unlike the
    per-user conversion ops)."""
    from .text import h56

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    # integer DIV, not /2-then-cast: Spark truncates a double->long
    # cast while DuckDB rounds it — DIV is exact on both engines
    bounds = events.agg(
        F.expr(
            f"(min(unix_micros(cast({ts_col} as timestamp)))"
            f" + max(unix_micros(cast({ts_col} as timestamp)))) div 2"
        ).alias("__mid")
    )
    base = (
        events.filter(
            F.col(user_col).isNotNull() & (F.col(type_col) == metric_type)
        )
        .crossJoin(F.broadcast(bounds))  # 1-row scalar frame
        .select(
            (h56(F.col(user_col).cast("string")) % 2).alias("__v"),
            (us >= F.col("__mid")).cast("int").alias("__post"),
            F.round(F.col(value_col), 4).cast("decimal(18,4)").alias("__x"),
        )
    )

    def _cell(v: int, post: int, what: str):
        hit = (F.col("__v") == v) & (F.col("__post") == post)
        if what == "n":
            return F.sum(F.when(hit, 1).otherwise(0)).alias(
                f"n_{'post' if post else 'pre'}_{'treat' if v else 'control'}"
            )
        return (
            F.sum(F.when(hit, F.col("__x")))
            .cast("double")
            .alias(f"s_{v}_{post}")
        )

    agg = base.agg(
        _cell(0, 0, "n"), _cell(0, 1, "n"), _cell(1, 0, "n"), _cell(1, 1, "n"),
        _cell(0, 0, "s"), _cell(0, 1, "s"), _cell(1, 0, "s"), _cell(1, 1, "s"),
    )

    def _mean(v: int, post: int):
        n = F.col(f"n_{'post' if post else 'pre'}_{'treat' if v else 'control'}")
        return F.when(n > 0, F.col(f"s_{v}_{post}") / n.cast("double"))

    m00, m01 = _mean(0, 0), _mean(0, 1)
    m10, m11 = _mean(1, 0), _mean(1, 1)
    return agg.select(
        "n_pre_control", "n_post_control", "n_pre_treat", "n_post_treat",
        F.round(m00, round_to).alias("mean_pre_control"),
        F.round(m01, round_to).alias("mean_post_control"),
        F.round(m10, round_to).alias("mean_pre_treat"),
        F.round(m11, round_to).alias("mean_post_treat"),
        F.round((m11 - m10) - (m01 - m00), round_to).alias("did"),
    )
