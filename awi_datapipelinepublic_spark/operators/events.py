"""Event-stream analytics over the events table (batch + streaming-ready).

The reference's pipeline is event-driven but has no stream operators
(SURVEY.md §2.I); these are the engine's own surface. Each batch form
below has a direct Structured Streaming twin (same expression over
``readStream`` + watermark), wired in streaming/file_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def tumbling_window_agg(
    events: DataFrame, ts_col: str = "ts", width: str = "1 hour"
) -> DataFrame:
    """Per-window event counts / value sums. F.window is the canonical
    tumbling bucketing; group keys are (window, event_type) so the
    shuffle is keyed on both — no hot single-window partition."""
    return (
        events.groupBy(F.window(F.col(ts_col), width).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("event_type"),
            F.col("n_events"),
            F.col("sum_value"),
        )
    )


def sliding_window_agg(
    events: DataFrame, ts_col: str = "ts", width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows: each event lands in width/slide windows; the
    duplication factor is explicit and bounded."""
    return (
        events.groupBy(F.window(F.col(ts_col), width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), F.col("n_events"))
    )


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user is
    idle longer than the gap. Lag + cumulative-sum-of-boundaries — one
    shuffle on user_id, windows stay within that partition. (The
    streaming twin is F.session_window / applyInPandasWithState.)

    Returns one row per session: user, session_start, session_end,
    n_events.
    """
    w_user = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc())
    gap_s = float(gap_minutes * 60)
    # timestamp → double keeps fractional seconds; unix_timestamp would
    # truncate to whole seconds and misclassify sub-second boundary gaps.
    secs = F.col(ts_col).cast("double")
    with_gap = events.withColumn("__prev", F.lag(ts_col).over(w_user)).withColumn(
        "__new_session",
        F.when(
            F.col("__prev").isNull() | (secs - F.col("__prev").cast("double") > gap_s),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    with_id = with_gap.withColumn(
        "session_no", F.sum("__new_session").over(w_user.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_id.groupBy(F.col(user_col), F.col("session_no"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("session_no")
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str | None = "event_id",
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: (from_type, to_type, n, prob) where prob row-normalizes
    by the from-type's outgoing total — the behavioral-flow / Sankey
    input every product-analytics stack computes.

    One key-partitioned window (lead over the user's time-ordered
    stream — tie-broken by ``id_col`` for determinism when the input
    has one; pass ``id_col=None`` or a frame without the column to
    order by ``ts_col`` alone), then a (from, to) groupBy with
    map-side combine and a from-total join-back (the two-pass
    unigram_logprob shape; the totals table is type-cardinality,
    tiny, AQE broadcasts it)."""
    from pyspark.sql import Window

    tie = [id_col] if id_col and id_col in events.columns else []
    w = Window.partitionBy(user_col).orderBy(ts_col, *tie)
    pairs = (
        events.select(
            F.col(user_col), F.col(ts_col), *[F.col(c) for c in tie], F.col(type_col)
        )
        .withColumn("to_type", F.lead(type_col).over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col(type_col).alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = pairs.groupBy("from_type").agg(F.count(F.lit(1)).alias("__t"))
    return counts.join(totals, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.col("__t"), 6).alias("prob"),
    )


def sliding_distinct_users(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    window_days: int = 7,
) -> DataFrame:
    """Exact N-day rolling distinct users per day (the DAU/WAU/MAU
    family). A COUNT(DISTINCT) OVER a RANGE frame has no Spark window
    form; the scale rewrite dedupes activity to (user, day) FIRST,
    then explodes each activity day into the ≤N window-end days it
    contributes to and counts distinct users per window end. Row
    growth is N× on the deduplicated activity table (users ×
    active-days), never on raw events — the explode factor is the
    window/slide ratio, the standard exact form at any volume.

    Only window ends that are themselves active days are reported
    (keeps the output aligned with the observed day axis)."""
    day = F.to_date(F.col(ts_col))
    activity = events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    ends = activity.select(
        "u",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), window_days - 1))
        ).alias("window_end"),
    ).distinct()
    days = activity.select(F.col("d").alias("window_end")).distinct()
    return (
        ends.join(days, "window_end", "left_semi")
        .groupBy("window_end")
        .agg(F.count(F.lit(1)).alias("distinct_users"))
    )


def interval_coverage(
    intervals: DataFrame,
    key_col: str = "user_id",
    start_col: str = "start_s",
    end_col: str = "end_s",
) -> DataFrame:
    """Merge overlapping [start, end) intervals per key and report the
    merged-island count plus total covered duration — the classic
    gaps-and-islands coverage aggregate (machine uptime, session
    coverage, effective listening time). Start/end are numeric
    (seconds); a new island begins where an interval's start exceeds
    the running max end of everything before it.

    One key-partitioned sort powers the whole chain (running max end →
    island flag → island id); coverage sums are per-island max(end) −
    min(start). Integer arithmetic end to end — no float drift."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = intervals.withColumn(
        "__new",
        (prev_max_end.isNull() | (F.col(start_col) > prev_max_end)).cast("int"),
    ).withColumn(
        "__island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    islands = flagged.groupBy(key_col, "__island").agg(
        F.min(start_col).alias("__s"), F.max(end_col).alias("__e")
    )
    return islands.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("__e") - F.col("__s")).alias("covered_seconds"),
    )


def cumulative_adoption(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cumulative distinct-user adoption curve: per day, how many
    distinct users have been seen up to and including that day.

    The naive form — COUNT(DISTINCT user) OVER (ORDER BY day) — has no
    Spark window (distinct windows are unsupported) and would be
    quadratic state anywhere. The scale rewrite: each user contributes
    exactly once, on their FIRST day (groupBy(user).min(day), map-side
    combined), so the curve is new-users-per-day + one running sum
    over the day axis — a window over ~hundreds of rows, not events.
    Days with activity but no NEW users still appear (joined against
    the distinct active-day axis) with new_users = 0.
    """
    from pyspark.sql import Window

    day = F.to_date(F.col(ts_col))
    days = events.select(day.alias("day")).distinct()
    first_seen = (
        events.select(F.col(user_col).alias("u"), day.alias("day"))
        .groupBy("u")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("new_users"))
    )
    per_day = days.join(first_seen, "day", "left").select(
        "day", F.coalesce("new_users", F.lit(0)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cumulative_users")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int | None = 30,
) -> DataFrame:
    """Cohort retention matrix: users grouped by FIRST-seen day, then
    for every (cohort_day, day_offset) the count of cohort members
    active offset days later — the standard product-analytics
    retention triangle, plus the rate against cohort size.

    Shape: one groupBy(user) min(day) for cohort assignment (map-side
    combined), joined back to the per-(user, day) distinct activity
    table on the user key, then one groupBy(cohort, offset) count.
    The activity table is already deduplicated to (user, day) BEFORE
    the join, so the join input is bounded by users × active-days,
    never raw events; no window functions, no skew beyond the user
    key itself. ``max_offset`` prunes the triangle's long tail.
    """
    day = F.to_date(F.col(ts_col))
    activity = events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    cohorts = activity.groupBy("u").agg(F.min("d").alias("cohort_day"))
    sizes = cohorts.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("cohort_size"))
    joined = activity.join(cohorts, "u").select(
        "cohort_day", F.datediff(F.col("d"), F.col("cohort_day")).alias("day_offset")
    )
    if max_offset is not None:
        joined = joined.filter(F.col("day_offset") <= max_offset)
    counts = joined.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )
    return counts.join(sizes, "cohort_day").select(
        "cohort_day",
        "day_offset",
        "active_users",
        F.round(F.col("active_users") / F.col("cohort_size"), 6).alias("retention"),
    )


def attribution_last_touch(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view", "signup"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Last-touch conversion attribution: every conversion event is
    credited to the user's most recent preceding touch event (the
    marketing-analytics staple; first-touch is the same window with
    ``first`` semantics). Conversions with no prior touch credit
    ``"(none)"``.

    Scale design: the asof_join single-window trick — no join at all.
    One user-partitioned window ordered by (ts, event id) carries the
    last non-null touch type forward (``F.last(ignorenulls=True)``
    over unbounded-preceding..current); conversions then aggregate by
    credited touch. One shuffle on the user key, one on the
    touch-type key (type-cardinality, tiny). A touch sharing a
    conversion's timestamp attributes by event-id order —
    deterministic in both engines.

    Output: (touch_type, n_conversions BIGINT, total_value DOUBLE 4dp).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = F.when(F.col(type_col).isin(list(touch_types)), F.col(type_col))
    credited = (
        events.select(user_col, ts_col, id_col, type_col, value_col)
        .withColumn("__touch", F.last(touch, ignorenulls=True).over(w))
        .filter(F.col(type_col) == conversion_type)
    )
    return (
        credited.groupBy(
            F.coalesce(F.col("__touch"), F.lit("(none)")).alias("touch_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
    )


def activity_churn(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    churn_days: int = 7,
) -> DataFrame:
    """Per-day churn report: of the users active on day D, how many
    had NO activity in the following ``churn_days`` days — the
    retention/churn KPI every growth dashboard tracks.

    Scale design: raw events dedupe to (user, activity-day) first (the
    sliding_distinct_users contract — all window math runs on the
    bounded activity table, never raw events); one user-partitioned
    lead(day) finds each activity's successor; churned =
    next activity absent or > D + churn_days. Right-censoring is the
    gap rule applied literally: a user whose history ends inside the
    horizon counts as churned — callers report only days with a full
    horizon of data (day <= max_day - churn_days) when censoring
    matters.

    Output: (day, n_active, n_churned BIGINT, churn_rate DOUBLE 6dp).
    """
    from pyspark.sql import Window

    day = F.to_date(F.col(ts_col))
    activity = events.select(
        F.col(user_col).alias("u"), day.alias("d")
    ).distinct()
    w = Window.partitionBy("u").orderBy("d")
    flagged = activity.withColumn("__next", F.lead("d").over(w)).withColumn(
        "__churned",
        (
            F.col("__next").isNull()
            | (F.col("__next") > F.date_add(F.col("d"), churn_days))
        ).cast("int"),
    )
    return flagged.groupBy(F.col("d").alias("day")).agg(
        F.count(F.lit(1)).alias("n_active"),
        F.sum("__churned").cast("bigint").alias("n_churned"),
        F.round(F.sum("__churned") / F.count(F.lit(1)), 6).alias("churn_rate"),
    )


def funnel_timing(
    events: DataFrame,
    from_type: str = "click",
    to_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert report for one funnel edge: per user, the first
    ``from_type`` event and the first ``to_type`` AT OR AFTER it;
    aggregate conversion latency stats — the "how long does the funnel
    take" companion of the step-count funnels.

    Scale design: per-user firsts are map-side-combined min
    aggregations (one shuffle each on the user key); the candidate
    join is first-click ⋈ user's purchases filtered ts ≥ first-click
    then min — every stage keyed on the user, no windows over raw
    events. Latencies are integer epoch-second diffs, so the mean is
    an exact-long sum divided once.

    Output: one row (n_converted BIGINT, avg_seconds DOUBLE 4dp,
    min_seconds BIGINT, max_seconds BIGINT).
    """
    first_from = (
        events.filter(F.col(type_col) == from_type)
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("__t0"))
    )
    conv = (
        events.filter(F.col(type_col) == to_type)
        .select(user_col, F.col(ts_col).alias("__t1"))
        .join(first_from, user_col)
        .filter(F.col("__t1") >= F.col("__t0"))
        .groupBy(user_col)
        .agg(
            (
                F.min("__t1").cast("long") - F.first("__t0").cast("long")
            ).alias("__secs")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.sum("__secs") / F.count(F.lit(1)), 4).alias("avg_seconds"),
        F.min("__secs").alias("min_seconds"),
        F.max("__secs").alias("max_seconds"),
    )


def ab_test_zscore(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    conversion_type: str = "purchase",
    round_dp: int = 6,
) -> DataFrame:
    """Two-proportion z-test between the even-/odd-user-id arms: did
    arm B convert at a different rate than arm A — the experiment
    readout every product warehouse computes. z = (p_b − p_a) /
    sqrt(p̂(1−p̂)(1/n_a + 1/n_b)) with p̂ the pooled rate.

    Scale design: per-user conversion collapses via ONE distinct on
    (user, converted?) — actually a groupBy(user) max(converted) with
    map-side combine — then a two-row arm aggregate; the statistic is
    a projection over two rows. All inputs are exact longs; the float
    chain (divide, multiply, sqrt) is IEEE-correctly-rounded and
    ordered identically cross-engine.

    Output: one row (n_a, n_b, conv_a, conv_b BIGINT, p_a, p_b,
    z_score DOUBLE round_dp).
    """
    per_user = (
        events.select(
            F.col(user_col).alias("u"),
            (F.col(type_col) == conversion_type).cast("int").alias("c"),
        )
        .groupBy("u")
        .agg(F.max("c").alias("converted"))
        .withColumn("arm", (F.col("u") % 2).cast("int"))
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("conv").alias("conv_a")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("conv").alias("conv_b")
    )
    j = a.crossJoin(F.broadcast(b))
    # try_divide everywhere a denominator is data-dependent: under an
    # ANSI-enabled session (the external driver's default) a plain `/`
    # hard-crashes with DIVIDE_BY_ZERO when an arm converts at exactly
    # 0% or 100% (pooled*(1-pooled) == 0 → sqrt == 0). try_divide
    # returns NULL there — identical to DuckDB's float x/0 → NULL, so
    # the oracle stays bit-matched on degenerate data too.
    p_a = F.try_divide(F.col("conv_a"), F.col("n_a"))
    p_b = F.try_divide(F.col("conv_b"), F.col("n_b"))
    pooled = F.try_divide(
        F.col("conv_a") + F.col("conv_b"), F.col("n_a") + F.col("n_b")
    )
    z = F.try_divide(
        p_b - p_a,
        F.sqrt(
            pooled * (F.lit(1.0) - pooled)
            * (
                F.try_divide(F.lit(1.0), F.col("n_a"))
                + F.try_divide(F.lit(1.0), F.col("n_b"))
            )
        ),
    )
    return j.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(p_a, round_dp).alias("p_a"),
        F.round(p_b, round_dp).alias("p_b"),
        F.round(z, round_dp).alias("z_score"),
    )


def activity_heatmap(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Day-of-week × hour-of-day usage heatmap (1=Sunday..7=Saturday,
    the Spark dayofweek convention): event counts and 4dp value sums
    per cell — the 168-row load-profile table behind every usage
    dashboard. One map-side-combined groupBy; output cardinality is
    fixed at 7×24 regardless of volume."""
    return (
        events.groupBy(
            F.dayofweek(F.col(ts_col)).alias("dow"),
            F.hour(F.col(ts_col)).alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
    )


def event_throttle(
    events: DataFrame,
    min_gap_seconds: int = 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Debounce duplicate-ish telemetry: within each (user,
    event-type) stream, drop any event arriving within
    ``min_gap_seconds`` of the PREVIOUS RAW event in that stream —
    the double-click / retry-storm suppressor. These are
    debounce-until-quiet semantics: because the gap is measured to
    the previous raw event (kept or dropped), a sustained burst with
    inter-arrival < min_gap keeps only its FIRST event and emits
    nothing more until the stream goes quiet for a full gap — it is
    NOT rate limiting (one-per-window throttling would measure the
    gap to the previous KEPT event, which needs island closure, not
    one lag). tests/test_round6_ops.py pins the raw-gap behavior.

    One (user, type)-partitioned lag over (ts, id) order — a single
    shuffle on the stream key, linear at any volume; the timestamp
    math is double-seconds (sub-second gaps classify correctly, the
    sessionize lesson).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col, type_col).orderBy(ts_col, id_col)
    secs = F.col(ts_col).cast("double")
    prev = F.lag(ts_col).over(w).cast("double")
    return (
        events.withColumn("__gap_ok",
            prev.isNull() | (secs - prev >= float(min_gap_seconds)))
        .filter(F.col("__gap_ok"))
        .drop("__gap_ok")
    )


def event_rate_limit(
    events: DataFrame,
    window_seconds: int = 60,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """TRUE rate limiting — the one-per-aligned-window counterpart of
    :func:`event_throttle`'s debounce-until-quiet: within each (user,
    event-type) stream, keep exactly the FIRST event of every
    ``window_seconds``-aligned window (floor(epoch/window)); a
    sustained burst emits one event per window as time advances,
    which is the metering/billing contract (a debounce would emit one
    event total until the burst quiets).

    The aligned window makes this a pure groupBy-free window filter —
    one lag over (user, type, window bucket) order, no island
    closure, no state: row survives iff it is the first in its
    (user, type, bucket). Same single stream-key shuffle and linear
    cost as the debounce; the semantics differ exactly where the
    ADVICE r6 review drew the line. Epoch floor keeps sub-second
    timestamps exact in both engines (the interval_coverage lesson).
    """
    from pyspark.sql import Window

    bucket = F.floor(F.col(ts_col).cast("double") / float(window_seconds))
    w = Window.partitionBy(user_col, type_col, bucket.alias("__b")).orderBy(
        ts_col, id_col
    )
    return (
        events.withColumn("__rl", F.row_number().over(w))
        .filter(F.col("__rl") == 1)
        .drop("__rl")
    )


def session_paths(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
    gap_minutes: int = 30,
    k: int = 20,
    max_path_events: int = 64,
) -> DataFrame:
    """Top-``k`` session journeys: the ordered event-type path of each
    gap-based session ('view>click>purchase'), counted across all
    sessions — the navigation-mining report behind funnel DISCOVERY
    (funnels verify a hypothesized path; this surfaces which paths
    exist).

    Ordering inside a session is the total order (ts, tiebreak) — the
    sessionize determinism lesson: equal timestamps would otherwise
    make the path string engine-dependent. Sessions longer than
    ``max_path_events`` are dropped BEFORE path assembly (a
    degenerate bot session's path is noise and its array is the only
    unbounded thing here — the refuse-to-detonate stance).

    Plan: one shuffle on the user (lag + running boundary sum in one
    window spec), one groupBy (user, session) assembling the path via
    sort_array(collect_list(struct)) — codegen, per-session bounded —
    then a path-cardinality groupBy and TakeOrderedAndProject top-k on
    (n desc, path asc). No global sort.
    """
    w_user = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    secs = F.col(ts_col).cast("double")
    gap_s = float(gap_minutes * 60)
    with_id = (
        events.withColumn("__prev", F.lag(ts_col).over(w_user))
        .withColumn(
            "__new_s",
            F.when(
                F.col("__prev").isNull()
                | (secs - F.col("__prev").cast("double") > gap_s),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__sno",
            F.sum("__new_s").over(w_user.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    paths = (
        with_id.groupBy(F.col(user_col), F.col("__sno"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col(ts_col).alias("t"),
                                F.col(tiebreak_col).alias("i"),
                                F.col(type_col).alias("e"),
                            )
                        )
                    ),
                    lambda x: x["e"],
                ),
                ">",
            ).alias("path"),
            F.count(F.lit(1)).alias("__len"),
        )
        .filter(F.col("__len") <= max_path_events)
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(int(k))
    )


def burstiness(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    min_gaps: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Per-entity burstiness of an event stream — Goh & Barabási's
    B = (σ − μ)/(σ + μ) over inter-arrival gaps: −1 for a metronome,
    0 for a Poisson process, →1 for extreme bursts. The behavioral
    fingerprint that separates organic users from schedulers/bots in
    crawl and clickstream curation.

    Gaps are TRUNCATED epoch-second diffs via one per-entity lag
    window (bounded per-key history, the ewma scale contract; one
    shuffle on the key). σ is the SAMPLE standard deviation. The
    moment sums S = Σg, Q = Σg² are exact BIGINTs, and both engines
    evaluate the identical double formula on them::

        μ = S/n,  σ = sqrt((n·Q − S²) / (n·(n−1))),  B = (σ−μ)/(σ+μ)

    — correctly-rounded IEEE ops on identical inputs, so the rounded
    output replays bit-for-bit. σ+μ = 0 (all gaps zero) yields NULL
    via try_divide. Entities with fewer than ``min_gaps`` gaps are
    dropped (B is noise at tiny n).
    """
    sec = F.col(ts_col).cast("long")
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    gaps = (
        df.filter(F.col(ts_col).isNotNull())
        .select(F.col(key_col), sec.alias("__sec"), F.lag(sec).over(w).alias("__prev"))
        .filter(F.col("__prev").isNotNull())
        .select(F.col(key_col), (F.col("__sec") - F.col("__prev")).alias("__g"))
    )
    s = gaps.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.sum("__g").alias("__s"),
        F.sum(F.col("__g") * F.col("__g")).alias("__q"),
    ).filter(F.col("n_gaps") >= min_gaps)
    n = F.col("n_gaps").cast("double")
    mu = F.col("__s").cast("double") / n
    sd = F.sqrt(
        (n * F.col("__q").cast("double") - F.col("__s").cast("double") * F.col("__s").cast("double"))
        / (n * (n - F.lit(1.0)))
    )
    return s.select(
        key_col,
        "n_gaps",
        F.round(F.try_divide(sd - mu, sd + mu), round_dp).alias("burstiness"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str,
    date_col: str,
    cents_col: str,
    n_bins: int = 4,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the marketing staple: score every customer 1..``n_bins`` on each
    axis (1 = best: most recent, most frequent, highest spend) and
    report the segment census.

    Scoring is a RANK QUANTILE, not NTILE: score = 1 + ((rank−1)·bins)
    DIV n — the same closed form both engines replay exactly (NTILE's
    remainder distribution is engine-convention-prone; this formula is
    pure integer arithmetic over a total order). Ranks are
    deterministic: recency ties break by customer id, frequency and
    monetary rank descending with the same tie-break.

    Scale: one map-side-combined groupBy(customer) builds the
    per-customer triple (customer-cardinality, not fact); one
    broadcast aggregate of it gives the recency anchor and the
    customer count; each rank rides
    :func:`~awi_datapipelinepublic_spark.operators.windows.global_row_number`
    (one range sort plus Spark's distributed sequence — no
    single-partition window); the final census is a ≤ bins³-row
    groupBy.

    Output: (r_score INT, f_score INT, m_score INT,
    n_customers BIGINT, monetary_cents BIGINT).
    """
    from awi_datapipelinepublic_spark.operators.windows import global_row_number

    per = orders.groupBy(F.col(cust_col).alias("__c")).agg(
        F.max(F.col(date_col).cast("date")).alias("__last"),
        F.count(F.lit(1)).cast("bigint").alias("__freq"),
        F.sum(F.col(cents_col).cast("bigint")).alias("__mon"),
    )
    # The recency anchor and the customer cardinality come from ONE
    # broadcast aggregate of `per`, not a driver count(): a
    # `scored.count()` action here re-executed the whole 3-rank
    # lineage once for the count and again for the real consumer —
    # measured ~2× this query's cost at sf0.1 (guide §5: no driver
    # actions on query paths).
    stats = per.agg(
        F.max("__last").alias("__maxd"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
    )
    per = per.crossJoin(F.broadcast(stats)).select(
        "__c",
        F.datediff(F.col("__maxd"), F.col("__last")).cast("bigint").alias("__rec"),
        "__freq",
        "__mon",
        "__n",
    )
    b = int(n_bins)
    # Chained ranks (each sorts the previous rank's output): 12 jobs
    # for the query at sf0.001, 3 per rank plus the aggregates. An
    # independent-slim-ranks + join-back variant was measured SLOWER
    # at r12 (3.54 vs 2.63 s at sf0.1) with the old two-pass rank:
    # the three join-backs added more exchanges than the chain costs.
    scored = per
    for rank_col, order in (
        ("__rr", [F.col("__rec").asc(), F.col("__c").asc()]),
        ("__rf", [F.col("__freq").desc(), F.col("__c").asc()]),
        ("__rm", [F.col("__mon").desc(), F.col("__c").asc()]),
    ):
        scored = global_row_number(scored, order, out_col=rank_col)
    scored = scored.select(
        "__mon",
        F.expr(f"cast(1 + ((__rr - 1) * {b}) div greatest(__n, 1) as int)").alias(
            "r_score"
        ),
        F.expr(f"cast(1 + ((__rf - 1) * {b}) div greatest(__n, 1) as int)").alias(
            "f_score"
        ),
        F.expr(f"cast(1 + ((__rm - 1) * {b}) div greatest(__n, 1) as int)").alias(
            "m_score"
        ),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("__mon").alias("monetary_cents"),
    )


def attribution_position(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view", "signup"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Position-based (U-shaped) conversion attribution — the
    complement of :func:`attribution_last_touch`: each user's path to
    their FIRST conversion splits credit 40% to the first touch, 40%
    to the last, 20% across the middles.

    Credit is EXACT integer basis points (10000 = one conversion):
    k = 1 touch → 10000; k = 2 → 5000/5000; k ≥ 3 → 4000 + 4000 +
    each middle ``2000 DIV (k−2)``, remainder to the FIRST touch —
    fully deterministic, replayed verbatim by the oracle (float
    40/20/40 splits would accumulate in engine-dependent order).

    Plan: one keyed window per user (min conversion ts over the
    user's conversions — no self-join), touches filtered to those
    strictly before it, one keyed row_number for position, per-path
    counts from a count-over-window (no join-back), one
    type-cardinality groupBy. Paths with zero touches credit
    ``"(none)"``.

    Output: (touch_type, n_paths BIGINT, credit_bp BIGINT).
    """
    w_user = Window.partitionBy(user_col)
    conv_ts = F.min(
        F.when(F.col(type_col) == conversion_type, F.col(ts_col))
    ).over(w_user)
    e = events.select(user_col, ts_col, id_col, type_col).withColumn(
        "__conv_ts", conv_ts
    )
    converted = e.filter(F.col("__conv_ts").isNotNull())
    touches = converted.filter(
        F.col(type_col).isin(list(touch_types))
        & (F.col(ts_col) < F.col("__conv_ts"))
    )
    w_path = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc()
    )
    pos = touches.withColumn("__pos", F.row_number().over(w_path)).withColumn(
        "__k", F.count(F.lit(1)).over(w_user)
    )
    k = F.col("__k")
    p = F.col("__pos")
    mid_each = F.expr("2000 div (__k - 2)")
    mid_rem = F.lit(2000) - mid_each * (k - 2)
    credit = (
        F.when(k == 1, F.lit(10000))
        .when(k == 2, F.lit(5000))
        .otherwise(
            F.when(p == 1, F.lit(4000) + mid_rem)
            .when(p == k, F.lit(4000))
            .otherwise(mid_each)
        )
        .cast("bigint")
    )
    credited = pos.select(F.col(type_col).alias("touch_type"), credit.alias("__bp"))
    # zero-touch conversions: one "(none)" path per converted user
    # with an empty pre-conversion touch list
    users_with = pos.select(user_col).distinct()
    none_paths = (
        converted.filter(F.col(type_col) == conversion_type)
        .groupBy(user_col)
        .agg(F.lit(1).alias("__one"))
        .join(users_with, user_col, "left_anti")
        .select(F.lit("(none)").alias("touch_type"), F.lit(10000).cast("bigint").alias("__bp"))
    )
    both = credited.unionByName(none_paths)
    return both.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("__bp").alias("credit_bp"),
    )


def activity_streaks(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Longest consecutive-active-day streak per user, reported as a
    census (streak length → user count) — the engagement metric every
    habit-loop dashboard tracks, and the canonical gaps-and-islands
    exercise: within a user's DISTINCT activity days, consecutive
    days share the island key ``day − row_number`` (dates minus a
    dense sequence are constant exactly on runs).

    Plan: raw events dedupe to (user, day) first (the
    sliding_distinct_users contract — window math runs on the bounded
    activity table); one keyed window (row_number per user over day
    order), two map-side-combined groupBys (islands, then per-user
    max), and a streak-length-cardinality census. Pure integers.

    Output: (streak_days INT, n_users BIGINT) — each user counted
    once, at their LONGEST streak.
    """
    day = F.to_date(F.col(ts_col))
    activity = events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    w = Window.partitionBy("u").orderBy(F.col("d").asc())
    islands = activity.withColumn(
        "__isl", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    runs = islands.groupBy("u", "__isl").agg(
        F.count(F.lit(1)).cast("int").alias("__len")
    )
    longest = runs.groupBy("u").agg(F.max("__len").alias("streak_days"))
    return longest.groupBy("streak_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


def activity_gaps(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    min_gap_days: int = 2,
) -> DataFrame:
    """Inactivity gaps per user: every pair of consecutive ACTIVE days
    more than ``min_gap_days`` apart, with the gap length — the
    dropout-episode report (the inverse of :func:`activity_streaks`)
    behind re-engagement triggers and retention forensics.

    Raw events dedupe to (user, day) first (the repo's activity-table
    contract); one keyed lag off that bounded table; pure integer
    date arithmetic. A "gap" of g days means g−1 fully inactive days
    between the two endpoints.

    Output: (user, gap_start DATE = last active day before the gap,
    gap_end DATE = first active day after, gap_days BIGINT =
    datediff(end, start)).
    """
    day = F.to_date(F.col(ts_col))
    activity = events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    w = Window.partitionBy("u").orderBy(F.col("d").asc())
    with_prev = activity.withColumn("__prev", F.lag("d").over(w))
    return (
        with_prev.filter(
            F.col("__prev").isNotNull()
            & (F.datediff(F.col("d"), F.col("__prev")) >= int(min_gap_days))
        )
        .select(
            F.col("u").alias(user_col),
            F.col("__prev").alias("gap_start"),
            F.col("d").alias("gap_end"),
            F.datediff(F.col("d"), F.col("__prev")).cast("bigint").alias("gap_days"),
        )
    )


def attribution_time_decay(
    events: DataFrame,
    conversion_type: str = "purchase",
    touch_types: tuple = ("click", "view", "signup"),
    halflife_days: int = 7,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Time-decay attribution with EXACT integer weights: each touch
    before the user's first conversion earns
    ``10000 DIV 2^(age_days DIV halflife_days)`` basis points — a
    staircase half-life (credit halves every ``halflife_days`` bucket
    of age at conversion) computed entirely in integer arithmetic, so
    the engine and the oracle agree bit-for-bit where a float
    ``2^(−Δt/h)`` would drift. The recency-weighted member of the
    attribution family (:func:`attribution_last_touch` winner-takes-
    all, :func:`attribution_position` U-shaped).

    Credits are UNNORMALIZED (per-touch, not per-path shares): the
    report ranks channels by decayed influence; per-path
    normalization would reintroduce a rational division per path.
    Ages ≥ 63 half-lives clamp to zero credit (shift bound). Same
    single keyed-window plan as the position variant: no self-join,
    one type-cardinality aggregate.

    Output: (touch_type, n_touches BIGINT, credit_bp BIGINT).
    """
    w_user = Window.partitionBy(user_col)
    conv_ts = F.min(
        F.when(F.col(type_col) == conversion_type, F.col(ts_col))
    ).over(w_user)
    e = events.select(user_col, ts_col, id_col, type_col).withColumn(
        "__conv_ts", conv_ts
    )
    touches = e.filter(
        F.col("__conv_ts").isNotNull()
        & F.col(type_col).isin(list(touch_types))
        & (F.col(ts_col) < F.col("__conv_ts"))
    ).withColumn(
        "__age_days",
        F.datediff(F.to_date(F.col("__conv_ts")), F.to_date(F.col(ts_col))).cast(
            "int"
        ),
    )
    h = int(halflife_days)
    credit = F.expr(
        f"case when (__age_days div {h}) >= 63 then cast(0 as bigint) "
        f"else cast(10000 div shiftleft(cast(1 as bigint), "
        f"cast(__age_days div {h} as int)) as bigint) end"
    )
    credited = touches.select(
        F.col(type_col).alias("touch_type"), credit.alias("__bp")
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.sum("__bp").alias("credit_bp"),
    )


def recency_features(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user churn-risk features off the activity table: last
    active day, staleness (days since, anchored to the corpus's max
    active day so the feature is reproducible from the data alone),
    total active days, and the CURRENT streak — the consecutive run
    ending at the user's last active day (the :func:`activity_streaks`
    island containing it). The standard re-engagement feature row.

    Same gaps-and-islands machinery as activity_streaks (one keyed
    window over the deduplicated (user, day) table, one island
    groupBy), plus one max_by to pick each user's LAST island; the
    global anchor is a 1-row broadcast. Pure integer date arithmetic.

    Output: (user, last_day DATE, days_since BIGINT,
    n_active_days BIGINT, current_streak BIGINT).
    """
    day = F.to_date(F.col(ts_col))
    activity = events.select(F.col(user_col).alias("u"), day.alias("d")).distinct()
    w = Window.partitionBy("u").orderBy(F.col("d").asc())
    islands = activity.withColumn(
        "__isl", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    runs = islands.groupBy("u", "__isl").agg(
        F.count(F.lit(1)).cast("bigint").alias("__len"),
        F.max("d").alias("__last"),
    )
    per_user = runs.groupBy("u").agg(
        F.max("__last").alias("last_day"),
        F.sum("__len").alias("n_active_days"),
        F.max_by("__len", "__last").alias("current_streak"),
    )
    anchor = per_user.agg(F.max("last_day").alias("__anchor"))
    return per_user.crossJoin(F.broadcast(anchor)).select(
        F.col("u").alias(user_col),
        "last_day",
        F.datediff(F.col("__anchor"), F.col("last_day")).cast("bigint").alias(
            "days_since"
        ),
        F.col("n_active_days").cast("bigint").alias("n_active_days"),
        F.col("current_streak").cast("bigint").alias("current_streak"),
    )


def km_hazard(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier life-table components over (duration, event)
    observations: for each distinct duration t (ascending) the
    at-risk count (durations ≥ t), the events at t, and the censored
    at t — the survival/churn primitive. The KM survival estimate is
    the running product of surv_num/surv_den; the PRODUCT is left to
    the consumer (a float cumulative product is accumulation-order
    territory) while every column here is an exact integer, so the
    table itself is engine-reproducible.

    Plan: one groupBy on duration (bounded by distinct durations —
    days, not rows), then a single ascending cumulative-sum window
    over that bounded axis; n_risk(t) = N − Σ_{s<t} (events+censored).

    Output: (duration BIGINT, n_risk, n_event, n_censored,
    surv_num = n_risk − n_event, surv_den = n_risk, all BIGINT).
    """
    e = F.col(event_col).cast("int")
    per_t = (
        df.select(F.col(duration_col).cast("bigint").alias("duration"), e.alias("__e"))
        .groupBy("duration")
        .agg(
            F.sum("__e").cast("bigint").alias("n_event"),
            F.sum(1 - F.col("__e")).cast("bigint").alias("n_censored"),
        )
    )
    w = Window.orderBy("duration").rowsBetween(Window.unboundedPreceding, -1)
    # the duration axis is calendar-bounded (distinct days-between),
    # so the single ordered window runs over a tiny aggregate, not the
    # fact; the grand total broadcasts as a 1-row scalar instead of a
    # second full-range window
    tot = per_t.agg(
        F.sum(F.col("n_event") + F.col("n_censored")).cast("bigint").alias("__tot")
    )
    out = per_t.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("__tot")
        - F.coalesce(F.sum(F.col("n_event") + F.col("n_censored")).over(w), F.lit(0)),
    )
    return out.select(
        "duration",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        "n_event",
        "n_censored",
        (F.col("n_risk") - F.col("n_event")).cast("bigint").alias("surv_num"),
        F.col("n_risk").cast("bigint").alias("surv_den"),
    )


def new_vs_returning(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Daily active users split into first-ever-seen vs returning —
    the growth-accounting daily series every product dashboard leads
    with. A user is "new" on their first active day and "returning"
    on every later active day.

    Plan: distinct (user, day) pairs (one partial-agg shuffle), a
    per-user min-day aggregate (same key — co-partitioned), one join
    back on the user, then a day groupBy over the bounded calendar
    axis. No windows over the fact.

    Output: (day, active, new_users, returning BIGINT).
    """
    ud = events.select(
        F.col(user_col).alias("u"), F.to_date(ts_col).alias("day")
    ).distinct()
    first = ud.groupBy("u").agg(F.min("day").alias("__first"))
    return (
        ud.join(first, "u")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("active"),
            F.sum(F.when(F.col("day") == F.col("__first"), 1).otherwise(0))
            .cast("bigint")
            .alias("new_users"),
            F.sum(F.when(F.col("day") != F.col("__first"), 1).otherwise(0))
            .cast("bigint")
            .alias("returning"),
        )
    )


def repeat_rate(
    df: DataFrame,
    group_cols,
    entity_col: str,
) -> DataFrame:
    """Per-segment repeat rate: of the entities active in a segment,
    the fraction with 2+ rows — the retention headline (repeat
    purchase rate, multi-session share). Counts are exact integers;
    the rate is one double division.

    Plan: two chained groupBys on a shared key prefix — (group,
    entity) partial-agg then group — one shuffle; output bounded by
    segment cardinality.

    Output: (group..., n_entities, n_repeat BIGINT, repeat_rate DOUBLE).
    """
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    per_e = df.groupBy(*groups, entity_col).agg(
        F.count(F.lit(1)).alias("__n")
    )
    return per_e.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities"),
        F.sum(F.when(F.col("__n") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_repeat"),
        (
            F.sum(F.when(F.col("__n") >= 2, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("repeat_rate"),
    )


def session_duration_hist(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    bin_minutes: int = 5,
) -> DataFrame:
    """Histogram of session durations in fixed minute bins — the
    engagement-depth distribution over :func:`sessionize`'s output.
    Durations are computed in exact integer MICROSECONDS
    (unix_micros; a µs epoch is < 2⁵³ so even the double-typed
    oracle path is exact) and binned by integer division — no float
    anywhere, engine-reproducible.

    Plan: sessionize (one shuffle on the user) then a partial-agg
    groupBy on the bin — output bounded by bin count.

    Output: (bin BIGINT — bin × bin_minutes = lower bound in
    minutes, bin_start_min BIGINT, n_sessions BIGINT).
    """
    s = sessionize(events, user_col, ts_col, gap_minutes)
    us = F.unix_micros(F.col("session_end")) - F.unix_micros(F.col("session_start"))
    div = 60_000_000 * bin_minutes
    # integer DIV, never float division + floor: exact at any magnitude
    return (
        s.select(us.alias("__us"))
        .select(F.expr(f"CAST(__us DIV {div} AS BIGINT)").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .select(
            "bin",
            (F.col("bin") * bin_minutes).cast("bigint").alias("bin_start_min"),
            "n_sessions",
        )
    )
