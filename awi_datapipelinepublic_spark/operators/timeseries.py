"""Time-series scaffolding: date spines and gap filling.

The reference's analytics are consumed by a BI tool over time-ordered
views (settings.yaml:62,119-122,139); dashboards over sparse periods
need gap-free series. These helpers generate a calendar spine with
``sequence`` + ``explode`` (pure Catalyst, no driver loop) and left-join
observed aggregates onto it — the canonical gap-fill shape.

Scale notes: the spine is O(periods) rows — tiny — so the
spine-side of the gap-fill join is always broadcast; the observed
aggregate is a partial-agg groupBy of the fact. Nothing here shuffles
the fact twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T


def date_spine(
    spark: SparkSession, start: str, end: str, step: str = "interval 1 month",
    out_col: str = "period",
) -> DataFrame:
    """Dense calendar: one row per ``step`` from start to end inclusive.

    Generated with ``sequence(start, end, step)`` + ``explode`` — a
    single literal row expanded JVM-side; no driver-side Python loop,
    no parallelize of a materialized list.
    """
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"), F.lit(end).cast("date"), F.expr(step)
            )
        ).alias(out_col)
    )


def forward_fill(
    df: DataFrame,
    value_col: str,
    part_cols: list,
    order_cols: list,
    out_col: str | None = None,
) -> DataFrame:
    """Last-observation-carried-forward: NULLs take the most recent
    non-NULL value within the key's ordered history.

    ``last(..., ignorenulls) OVER (ROWS UNBOUNDED PRECEDING)`` — one
    shuffle on the key, a single running value per partition in state
    (Spark's running-frame window keeps the last non-null, not the
    whole history). The standard sensor/price-series repair step
    before resampling or joins.
    """
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        out_col or value_col, F.last(value_col, ignorenulls=True).over(w)
    )


def gap_fill(
    spine: DataFrame,
    observed: DataFrame,
    on: list,
    fill: dict[str, object],
) -> DataFrame:
    """spine ⟕ observed on the period (+ group) keys; missing periods
    take the ``fill`` defaults (e.g. {"n": 0}) instead of NULL.

    The spine (and any crossed group dimension) is small by
    construction, so Spark broadcasts it; the observed side arrives
    pre-aggregated (one row per period×group).
    """
    out = spine.join(observed, on, "left")
    for name, dv in fill.items():
        out = out.withColumn(name, F.coalesce(F.col(name), F.lit(dv)))
    return out


def resample_ohlc(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    granularity: str = "hour",
) -> DataFrame:
    """Downsample a (key, ts, value) series to per-bucket OHLC bars
    (open/high/low/close + count) — the canonical time-series
    aggregation for dashboards and feature windows.

    ONE shuffle on (key, bucket); open/close are min_by/max_by
    argmin/argmax aggregates (map-side partials), never a sort or a
    window — a bucket with 10⁹ ticks still combines in O(1) state per
    partition. Requires ts unique per key (true of an event log with
    per-key sequencing); ties would make open/close nondeterministic.
    """
    bucket = F.date_trunc(granularity, F.col(ts_col)).alias("bucket")
    return (
        events.groupBy(F.col(key_col), bucket)
        .agg(
            F.min_by(value_col, ts_col).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, ts_col).alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
    )


def ewma(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially weighted moving average (recursive form
    ``y_t = α·x_t + (1-α)·y_{t-1}``, y_0 = x_0 — pandas
    ``ewm(alpha).mean(adjust=False)`` semantics), ordered by
    ``order_col`` within each key.

    A recursion cannot be a SQL window (each value depends on the
    previous OUTPUT, not the previous input), so this is the canonical
    applyInPandas shape: one shuffle on the key, each group smoothed by
    a single vectorized pandas ewm call inside an Arrow batch. State
    never crosses a key boundary, so 10⁹ keys scale linearly; the
    per-key history must fit one task (same bound as any per-entity
    sequence model input — chunk upstream if an entity's history is
    unbounded). NULL values propagate the previous smoothed value
    (ewm's ignore-NaN behavior) rather than poisoning the tail.

    The driver-gate oracle cross-checks the closed form
    ``y_t = α·Σ r^(t-i)·x_i + r^t·x_0`` (r = 1-α) in DuckDB on bounded
    per-key histories — the recursion and the closed form agree to fp
    precision there, while the recursion is the numerically safe one
    at unbounded length.
    """
    import pandas as pd

    out_fields = df.schema.fields + [T.StructField(out_col, T.DoubleType())]
    schema = T.StructType(out_fields)
    a = float(alpha)

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        pdf[out_col] = pdf[value_col].ewm(alpha=a, adjust=False, ignore_na=True).mean()
        return pdf

    return df.groupBy(key_col).applyInPandas(smooth, schema=schema)


def multi_grain_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hour → day → month
    aggregates in ONE raw scan. The finest (hourly) grain is the only
    groupBy that touches raw rows; each coarser grain re-aggregates the
    previous grain's PARTIALS (counts sum, sums sum — both algebraic),
    so the raw 100 TB fact is read exactly once and the day/month
    shuffles move only bucket-cardinality rows (~10³-10⁴/day). This is
    the continuous-aggregate / materialized-rollup pattern every
    time-series store ships; here it is three chained groupBys whose
    inputs shrink by the bucket ratio at each level.

    Returns (grain, bucket, n_events, total) with total rounded at 4dp
    only at the output edge — intermediate partials stay unrounded so
    coarser grains aggregate full-precision doubles.

    The hour/day partial tables are eagerly localCheckpoint-ed: the
    output union references each grain's lineage from two branches,
    and without materialization Spark re-derives every branch from
    the raw scan (measured: three full fact scans in the naive plan).
    The partials are bucket-cardinality rows — KBs — so the
    materialization cost is nil and the one-raw-scan contract holds.
    localCheckpoint (not persist) because this builder cannot see the
    caller's action: a persist here would leak cached tables into a
    long-lived session with no unpersist point, while checkpoint
    blocks are released by the ContextCleaner once the returned
    DataFrame is garbage-collected.
    """
    hour = (
        events.groupBy(F.date_trunc("hour", F.col(ts_col)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("__sum"),
        )
        .localCheckpoint()
    )
    day = (
        hour.groupBy(F.date_trunc("day", F.col("bucket")).alias("bucket"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("__sum").alias("__sum"))
        .localCheckpoint()
    )
    month = (
        day.groupBy(F.date_trunc("month", F.col("bucket")).alias("bucket"))
        .agg(F.sum("n_events").alias("n_events"), F.sum("__sum").alias("__sum"))
    )

    def out(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.col("bucket"),
            F.col("n_events"),
            F.round("__sum", 4).alias("total"),
        )

    return out(hour, "hour").unionAll(out(day, "day")).unionAll(out(month, "month"))


def rolling_median(
    df: DataFrame,
    key_col: str = "user_id",
    order_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    preceding: int = 6,
    round_dp: int = 6,
    out_col: str = "rolling_median",
) -> DataFrame:
    """Per-key EXACT rolling median over the trailing ``preceding``+1
    rows — the robust smoother dashboards reach for when EWMA's
    outlier sensitivity is the problem (sensor despiking, latency
    trend lines). Unlike :func:`ewma` this is a true SQL window: Spark
    exposes exact ``percentile`` as a window aggregate, so the plan is
    one shuffle on the key and a bounded ROWS frame per row — no
    Python boundary, no state, linear at any key count. The frame is
    rows-based, so ordering must be total: ``tiebreak_col`` breaks
    ``order_col`` ties deterministically (the sessionize lesson).

    Frame cost is O(frame log frame) per row JVM-side; for frames
    beyond ~10³ rows switch to the two-heap streaming median in an
    applyInPandas (not needed at dashboard frame sizes).

    NULL values are ignored by the percentile (both engines agree);
    an all-NULL frame yields NULL.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col, tiebreak_col)
        .rowsBetween(-int(preceding), 0)
    )
    return df.withColumn(
        out_col,
        F.round(F.percentile(F.col(value_col), F.lit(0.5)).over(w), round_dp),
    )


def rolling_anomaly(
    df: DataFrame,
    key_col: str = "event_type",
    order_col: str = "day",
    value_col: str = "n",
    window: int = 7,
    z: float = 3.0,
) -> DataFrame:
    """Trailing-window z-score anomaly flags over an integer-valued
    series — the volume-spike monitor every ingestion pipeline runs
    over its per-day/per-source event counts before a bad crawl batch
    poisons a training mix.

    Each row is scored against the ``window`` rows strictly BEFORE it
    (its own value never contaminates the baseline); rows without a
    full baseline get ``is_anomaly = NULL``. The test is the exact
    STRICT z-score inequality (|z| > threshold) cleared of divisions::

        (w·x − S)² · (w−1)  >  z² · w · (w·Q − S²)

    with S = Σ baseline, Q = Σ baseline² (sample variance). S and Q
    are exact BIGINT window sums; the inequality is evaluated in
    DOUBLE on those exact integers — both engines round the identical
    expression identically (IEEE), so the boolean replays bit-for-bit
    in the oracle with no tolerance. A zero-variance baseline flags
    any departure from the constant (the inequality does this
    naturally: RHS = 0, any nonzero deviation wins the strict
    inequality — while a zero-deviation row on a zero-variance
    baseline is 0 > 0 = false, NOT an anomaly).

    Plan: one shuffle on ``key_col``, two bounded ROWS-frame window
    sums per row. Partitions are (key × time-grain) series — bounded
    by the calendar, never by fact volume — so the window never
    degenerates to a single-partition global sort. Linear at any key
    count.
    """
    w = int(window)
    win = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(-w, -1)
    )
    x = F.col(value_col).cast("bigint")
    s = F.sum(x).over(win)
    q = F.sum((x * x)).over(win)
    n_base = F.count(x).over(win)
    dev = (F.lit(w) * x - s).cast("double")
    lhs = dev * dev * F.lit(float(w - 1))
    rhs = (
        F.lit(float(z) * float(z))
        * F.lit(float(w))
        * (F.lit(w) * q - s * s).cast("double")
    )
    return df.select(
        key_col,
        order_col,
        x.alias(value_col),
        F.when(n_base == w, s).alias("base_sum"),
        F.when(n_base == w, q).alias("base_sumsq"),
        F.when(n_base == w, lhs > rhs).alias("is_anomaly"),
    )


def changepoint_scan(
    df: DataFrame,
    key_col: str = "event_type",
    order_col: str = "day",
    value_col: str = "n",
) -> DataFrame:
    """Single-changepoint scan per key: the split point t maximizing
    the weighted mean-shift statistic G_t = |n·P_t − t·T| over an
    integer series x_1..x_n (P_t = prefix sum, T = total). G_t equals
    t·(n−t)·|mean(1..t) − mean(t+1..n)| — the least-squares
    changepoint objective up to variance normalization — so the argmax
    is the classic CUSUM-family break detector, computed EXACTLY in
    integers (no recursion, no sqrt): distribution drift, crawler
    regime changes, source cutovers.

    Plan: one shuffle on ``key_col``, a running prefix sum + row
    number per partition (series length is calendar-bounded per key,
    never fact-volume-bounded), then one groupBy argmax via max(struct)
    with the deterministic tie-break (earliest split wins). G_t is a
    BIGINT product — exact to |n·P| < 2⁶³, i.e. any series shorter
    than ~10⁹ points whose total stays under 2⁶³/n; beyond that cast
    the two factors to double (the comparison stays cross-engine
    deterministic on exact integer inputs).

    Output: one row per key — (key, n_points, split point, the two
    segment means at 6 dp, g_stat).
    """
    win = Window.partitionBy(key_col).orderBy(order_col)
    x = F.col(value_col).cast("bigint")
    scored = (
        df.select(key_col, order_col, x.alias("__x"))
        .withColumn("__p", F.sum("__x").over(win.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("__t", F.row_number().over(win))
        .withColumn("__tot", F.sum("__x").over(Window.partitionBy(key_col)))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(key_col)))
        .filter(F.col("__t") < F.col("__n"))
        .withColumn("__g", F.abs(F.col("__n") * F.col("__p") - F.col("__t") * F.col("__tot")))
    )
    # argmax via max(struct(g, -t)): ties take the EARLIEST split —
    # negate the row number so the struct max prefers smaller t.
    best = scored.groupBy(key_col).agg(
        F.max(
            F.struct(
                F.col("__g").alias("g"),
                (-F.col("__t")).alias("negt"),
                F.col(order_col).alias("split"),
                F.col("__p").alias("p"),
                F.col("__tot").alias("tot"),
                F.col("__n").alias("n"),
            )
        ).alias("b")
    )
    return best.select(
        key_col,
        F.col("b.n").alias("n_points"),
        F.col("b.split").alias("split_" + order_col),
        (-F.col("b.negt")).alias("split_idx"),
        F.round(F.col("b.p").cast("double") / (-F.col("b.negt")).cast("double"), 6).alias("mean_before"),
        F.round(
            (F.col("b.tot") - F.col("b.p")).cast("double")
            / (F.col("b.n") + F.col("b.negt")).cast("double"),
            6,
        ).alias("mean_after"),
        F.col("b.g").alias("g_stat"),
    )


def acf_lags(
    df: DataFrame,
    idx_col: str,
    value_col: str,
    max_lag: int = 7,
    round_dp: int = 6,
) -> DataFrame:
    """Autocorrelation function of an integer-valued series at lags
    1..``max_lag`` — the seasonality/persistence probe behind
    ingestion-volume monitoring (weekly crawl cadence shows up as a
    lag-7 spike) and forecasting sanity checks.

    ``idx_col`` is an integer position (e.g. days since the series
    start): a pair (t, t+k) contributes to lag k only when BOTH
    positions exist, so calendar gaps shrink n_pairs instead of
    silently misaligning the series. Deviations are taken about the
    TRUNCATED mean (``S DIV n`` — both Spark's DIV and DuckDB's //
    truncate toward zero, so e.g. -7 DIV 2 = -3, not the floor -4;
    cross-engine agreement rides that shared truncation, and the
    reference point is within 1 unit of the true mean either way —
    statistically indistinguishable for any real series) and exactly
    integer, so every product ``dev_t · dev_{t+k}`` and both sums
    accumulate exactly (DECIMAL(38,0); BIGINT would overflow at
    squared-deviation scale) and the single double division replays
    bit-identically cross-engine.

    Plan shape: the series is one row per index — calendar-bounded,
    never fact-volume-bounded — so the lag pairing is a broadcast of
    the tiny lag list plus one equi-join of the series to itself on
    the shifted index; the fact table only ever feeds the upstream
    per-index aggregate. r_k = Σ dev_t·dev_{t+k} / Σ dev_t².
    """
    stats = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(value_col).cast("bigint")).alias("__s"),
    )
    ser = (
        df.crossJoin(F.broadcast(stats))
        .select(
            F.col(idx_col).alias("__idx"),
            (F.col(value_col).cast("bigint") - F.expr("__s DIV __n")).alias("__dev"),
        )
    )
    den = ser.agg(
        F.sum((F.col("__dev").cast("decimal(38,0)") * F.col("__dev"))).alias("__den")
    )
    lags = df.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    shifted = ser.select(
        F.col("__idx").alias("__idx2"), F.col("__dev").alias("__dev2")
    )
    nums = (
        ser.crossJoin(F.broadcast(lags))
        .withColumn("__tgt", F.col("__idx") + F.col("lag"))
        .join(shifted, F.col("__tgt") == F.col("__idx2"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(F.col("__dev").cast("decimal(38,0)") * F.col("__dev2")).alias("__num"),
        )
    )
    return nums.crossJoin(F.broadcast(den)).select(
        "lag",
        "n_pairs",
        F.round(
            F.try_divide(F.col("__num").cast("double"), F.col("__den").cast("double")),
            round_dp,
        ).alias("acf"),
    )


def holt_linear(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
) -> DataFrame:
    """Per-key Holt linear-trend double exponential smoothing::

        level_t = α·x_t + (1−α)·(level_{t−1} + trend_{t−1})
        trend_t = β·(level_t − level_{t−1}) + (1−β)·trend_{t−1}

    initialized level_0 = x_0, trend_0 = 0 — the trend-aware
    generalization of :func:`ewma` (which chases a trending series
    with lagged bias). Like ewma, the recursion depends on previous
    OUTPUT, so it cannot be a SQL window: one shuffle on the key,
    each bounded per-key history smoothed by a plain loop over numpy
    arrays inside an Arrow batch. 10⁹ keys scale linearly; a key's
    history must fit one task (chunk unbounded entities upstream).

    Float contract: the loop body is written with the exact operation
    order documented above, so a DuckDB recursive CTE spelling the
    same ops replays every double bit-for-bit (CPython and DuckDB
    share libm; only +,·,− are involved — all correctly rounded).

    Boundary shape: ONE mapInPandas over a key-partitioned,
    (key, order)-sorted stream, with the (level, trend) carry held
    across Arrow batches inside each task. The earlier
    groupBy(key).applyInPandas form built a pandas DataFrame PER KEY —
    for the many-small-entities regime (the common one: short per-user
    histories) that per-group constant dominated end-to-end cost
    (measured 2.4× at sf0.1, guide §4). Values are identical: the
    recursion sees each key's rows in the same order with the same
    operation order; a key never spans partitions (hash repartition on
    the key), and batches arrive in partition order.
    """
    out_fields = df.schema.fields + [
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
    ]
    schema = T.StructType(out_fields)
    a, b = float(alpha), float(beta)

    def smooth_stream(batches):
        import numpy as np

        carry_key = object()  # sentinel unequal to any real key
        nan_key = object()  # shared sentinel for NaN/NaT keys (== itself)
        lvl = 0.0
        trd = 0.0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pdf
                continue
            keys = pdf[key_col].to_numpy()
            xs = pdf[value_col].to_numpy(dtype="float64")
            levels = np.empty(n, dtype="float64")
            trends = np.empty(n, dtype="float64")
            for i in range(n):
                k = keys[i]
                if k != k:
                    # Float-NaN (or NaT) key: NaN != NaN, so the raw
                    # carry comparison below would restart the
                    # recursion on EVERY row, silently diverging from
                    # the groupBy semantics this operator replaced
                    # (grouping treats all NaN keys as ONE series —
                    # Spark normalizes NaN in grouping keys). Map them
                    # to a sentinel that equals itself. None keys are
                    # fine as-is (None != None is False).
                    k = nan_key
                if k != carry_key:
                    carry_key = k
                    lvl = float(xs[i])
                    trd = 0.0
                else:
                    prev_l, prev_t = lvl, trd
                    lvl = a * float(xs[i]) + (1.0 - a) * (prev_l + prev_t)
                    trd = b * (lvl - prev_l) + (1.0 - b) * prev_t
                levels[i] = lvl
                trends[i] = trd
            pdf = pdf.copy()
            pdf["level"] = levels
            pdf["trend"] = trends
            yield pdf

    ordered = df.repartition(F.col(key_col)).sortWithinPartitions(
        key_col, order_col
    )
    return ordered.mapInPandas(smooth_stream, schema=schema)


def twap_interval(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-key time-weighted average value over an irregularly-sampled
    series: each observation holds until the next one, so its weight
    is the gap to the successor (the last observation is unweighted —
    its holding interval is unknown). The metric behind sensor/price
    rollups where a plain AVG over-counts bursts of rapid samples.

    Exactness: timestamps become TRUNCATED epoch seconds (Spark
    ``cast(long)``; the oracle mirrors with ``floor(epoch(ts))`` —
    Spark truncates where DuckDB's ``::BIGINT`` rounds), values become
    half-up micro-units — every weight and weighted term is then an
    exact integer, DECIMAL(38,0)-accumulated, and the TWAP is one
    double division: Σ v_micro·Δt / (10⁶ · Σ Δt), bit-replayable.

    One shuffle on the key; the lead() window is per-entity (bounded
    history, the ewma scale contract), ordered by (ts, value) so equal
    timestamps pair deterministically in both engines.
    """
    sec = F.col(ts_col).cast("long")
    vmicro = F.floor(F.col(value_col) * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(F.col(key_col), sec.alias("__sec"), vmicro.alias("__vm"))
    w = Window.partitionBy(key_col).orderBy(F.col("__sec").asc(), F.col("__vm").asc())
    stepped = base.withColumn("__dt", F.lead("__sec").over(w) - F.col("__sec")).filter(
        F.col("__dt").isNotNull()
    )
    agg = stepped.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("__vm").cast("decimal(38,0)") * F.col("__dt")).alias("__num"),
        F.sum(F.col("__dt").cast("decimal(38,0)")).alias("__den"),
    )
    return agg.select(
        key_col,
        "n_intervals",
        F.round(
            F.try_divide(
                F.col("__num").cast("double"),
                F.lit(1000000.0) * F.col("__den").cast("double"),
            ),
            round_dp,
        ).alias("twap"),
    )


def weekday_profile(
    df: DataFrame,
    date_col: str,
    amount_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Day-of-week seasonality profile of an integer-valued measure:
    per weekday, the number of distinct dates observed, the exact
    total, and its share of the grand total — the cadence fingerprint
    (crawl schedules, order seasonality) that rolling monitors
    de-trend against.

    ``dow`` uses Spark's convention (1 = Sunday .. 7 = Saturday; the
    DuckDB oracle shifts its 0-based dayofweek by +1). Amounts must be
    pre-scaled exact integers; shares are one double division of two
    exact BIGINT sums. Two map-side-combined groupBys (7-row output),
    one broadcast of the 1-row total.
    """
    d = df.select(
        F.dayofweek(F.col(date_col).cast("date")).alias("dow"),
        F.col(date_col).cast("date").alias("__d"),
        F.col(amount_col).cast("bigint").alias("__amt"),
    )
    per = d.groupBy("dow").agg(
        F.count_distinct("__d").cast("bigint").alias("n_days"),
        F.sum("__amt").alias("total"),
    )
    tot = per.agg(F.sum("total").alias("__g"))
    return per.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_days",
        "total",
        F.round(
            F.try_divide(F.col("total").cast("double"), F.col("__g").cast("double")),
            round_dp,
        ).alias("share"),
    )


def seasonal_anomaly(
    df: DataFrame,
    key_col: str = "event_type",
    order_col: str = "day",
    dow_col: str = "dow",
    value_col: str = "n",
    window: int = 7,
    z: float = 3.0,
) -> DataFrame:
    """Day-of-week-detrended volume anomaly: :func:`rolling_anomaly`'s
    trailing z-test applied to the integer-exact seasonal deviation
    ``dev = x·n_dow − S_dow`` (per key, n_dow/S_dow = count/sum of the
    series on that weekday) instead of the raw count — so a Sunday
    that is merely "Sunday-shaped" stops tripping the monitor and a
    Sunday that is anomalous FOR A SUNDAY trips it.

    The detrending is exactly integer (the acf_lags floor-free n-scale
    trick: subtracting the dow MEAN would be fractional, so the
    deviation is scaled by n_dow — within a key each weekday's count
    differs by ≤1 over any span, a ≤2% scale wobble that the z-window
    normalizes away). Everything downstream is rolling_anomaly's
    cleared inequality on exact BIGINTs — bit-replayable. One extra
    (key × 7)-row aggregate and a join-back; no forced broadcast (AQE
    promotes the dow table when small).

    Output: rolling_anomaly's columns over the ``dev`` series
    (key, order, dev, base_sum, base_sumsq, is_anomaly).
    """
    per_dow = df.groupBy(key_col, dow_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_dow"),
        F.sum(F.col(value_col).cast("bigint")).alias("__s_dow"),
    )
    dev = df.join(per_dow, [key_col, dow_col]).select(
        F.col(key_col),
        F.col(order_col),
        (F.col(value_col).cast("bigint") * F.col("__n_dow") - F.col("__s_dow")).alias(
            "dev"
        ),
    )
    return rolling_anomaly(dev, key_col, order_col, "dev", window, z)


def theil_sen_trend(
    df: DataFrame,
    idx_col: str,
    value_col: str,
    max_points: int = 10_000,
) -> DataFrame:
    """Theil–Sen robust trend estimate of an integer-valued series:
    the MEDIAN of all pairwise slopes (v_j − v_i)/(j − i), i < j — the
    outlier-immune slope (breakdown point ~29%) that ingestion-volume
    and spend dashboards want where one bad backfill day wrecks an
    OLS fit (compare :func:`trend_by_group`).

    Quadratic BY DESIGN in the series length — but the input is a
    pre-aggregated series (one row per period), calendar-bounded,
    never fact-volume-bounded; ``max_points`` refuses a fact-sized
    input loudly (a 10k-month series is 8 centuries). Pairs ≈ n²/2
    enumerate via a self-equi-join-free theta join on the tiny series
    (both sides the same aggregate, Spark broadcasts one).

    Exactness: each slope is ONE double division of exact integers —
    identical operands cross-engine, so identical doubles; the median
    picks ranks (m+1) DIV 2 and (m+2) DIV 2 of the (slope, i, j)
    total order (equal for odd m) and averages the two, a single
    reproducible float add/halve. Rank selection rides
    :func:`~awi_datapipelinepublic_spark.operators.windows.global_row_number`
    (one range sort plus Spark's distributed sequence) — no
    single-partition window.

    Output: one row (n_points BIGINT, n_pairs BIGINT, slope DOUBLE).
    """
    from awi_datapipelinepublic_spark.operators.windows import global_row_number

    n = df.count()
    if n > max_points:
        raise ValueError(
            f"theil_sen_trend: {n} points — pairwise slopes are quadratic "
            "by design; pre-aggregate the series to a calendar grain "
            f"(max_points={max_points})"
        )
    s = df.select(
        F.col(idx_col).cast("bigint").alias("i"),
        F.col(value_col).cast("bigint").alias("v"),
    )
    b = s.select(F.col("i").alias("j"), F.col("v").alias("w"))
    pairs = s.join(b, F.col("i") < F.col("j")).select(
        "i",
        "j",
        F.try_divide(
            (F.col("w") - F.col("v")).cast("double"),
            (F.col("j") - F.col("i")).cast("double"),
        ).alias("slope"),
    )
    ranked = global_row_number(
        pairs, [F.col("slope").asc(), F.col("i").asc(), F.col("j").asc()],
        out_col="__grn",
    )
    m = ranked.agg(F.count(F.lit(1)).alias("__m"))
    mid = ranked.crossJoin(F.broadcast(m)).filter(
        (F.col("__grn") == F.expr("(__m + 1) div 2"))
        | (F.col("__grn") == F.expr("(__m + 2) div 2"))
    )
    return mid.agg(
        F.lit(int(n)).cast("bigint").alias("n_points"),
        F.max("__m").cast("bigint").alias("n_pairs"),
        (F.sum("slope") / F.count(F.lit(1)).cast("double")).alias("slope"),
    )


def trend_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group OLS slope of an integer-valued series — the
    one-number trend column on every "by segment" dashboard (revenue
    trend per nation, volume trend per source), computed exactly:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with every sum an exact
    DECIMAL(38,0) (x is a small period index, y a pre-scaled integer;
    BIGINT would overflow at Σxy scale), then ONE double division —
    the acf_lags replay contract, bit-identical cross-engine.

    One map-side-combined groupBy; output is group-cardinality.
    Degenerate groups (single point, zero x-variance) yield NULL via
    try_divide, never an ANSI error.

    Output: (group, n_points BIGINT, slope DOUBLE round_dp).
    """
    d = df.select(
        F.col(group_col),
        F.col(x_col).cast("decimal(38,0)").alias("__x"),
        F.col(y_col).cast("decimal(38,0)").alias("__y"),
    )
    agg = d.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
    )
    num = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
        "double"
    )
    den = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
        "double"
    )
    return agg.select(
        group_col,
        F.col("__n").cast("bigint").alias("n_points"),
        F.round(F.try_divide(num, den), round_dp).alias("slope"),
    )


def rank_movers(
    df: DataFrame,
    key_col: str,
    period_col: str,
    value_col: str,
    period_a,
    period_b,
    k: int = 50,
) -> DataFrame:
    """Biggest rank movers between two periods: rank every key by an
    integer measure within period A and within period B, and report
    the top-``k`` keys by absolute rank change — the "who moved"
    leaderboard (customer churn-risk, supplier volume shifts, token
    frequency drift between corpus snapshots).

    Ranks are (value DESC, key ASC) — total order, deterministic —
    and ride :func:`~awi_datapipelinepublic_spark.operators.windows.
    grouped_row_number` with the PERIOD as the group: two periods is
    exactly the low-cardinality regime where a plain keyed window
    would serialize each period's ranking into one task. Keys present
    in only one period drop out (inner join — a rank delta needs both
    ends). Top-k is a TakeOrderedAndProject on
    (|delta| DESC, key ASC), never a global sort.

    Output: (key, rank_a BIGINT, rank_b BIGINT, rank_delta BIGINT) —
    rank_delta = rank_a − rank_b (positive = improved in B).
    """
    from awi_datapipelinepublic_spark.operators.windows import grouped_row_number

    agg = (
        df.filter(F.col(period_col).isin([period_a, period_b]))
        .groupBy(F.col(period_col).alias("__p"), F.col(key_col).alias("__k"))
        .agg(F.sum(F.col(value_col).cast("bigint")).alias("__v"))
    )
    ranked = grouped_row_number(
        agg, ["__p"], [F.col("__v").desc(), F.col("__k").asc()], out_col="__r"
    )
    a = ranked.filter(F.col("__p") == period_a).select(
        F.col("__k").alias(key_col), F.col("__r").alias("rank_a")
    )
    b = ranked.filter(F.col("__p") == period_b).select(
        F.col("__k").alias(key_col), F.col("__r").alias("rank_b")
    )
    return (
        a.join(b, key_col)
        .withColumn("rank_delta", F.col("rank_a") - F.col("rank_b"))
        .orderBy(F.abs(F.col("rank_delta")).desc(), F.col(key_col).asc())
        .limit(int(k))
    )


def local_peaks(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Strict local maxima of an integer-valued series per key: points
    where the value exceeds BOTH ordered neighbors, with the one-step
    prominence (height above the taller neighbor) — the spike-shape
    detector behind release-day/incident annotation, complementary to
    :func:`rolling_anomaly` (which scores against a trailing window,
    not the immediate shape).

    Interior points only (endpoints have one neighbor and are never
    peaks — documented, replayed by the oracle). One keyed window
    feeds lag and lead off the same sort; everything is exact
    integers.

    Output: (key, order, value, prominence BIGINT) — prominence =
    value − max(prev, next) > 0 by construction.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.col(order_col).asc())
    v = F.col(value_col).cast("bigint")
    with_nb = df.select(
        key_col, order_col, v.alias("value")
    ).withColumn("__prev", F.lag("value").over(w)).withColumn(
        "__next", F.lead("value").over(w)
    )
    return with_nb.filter(
        F.col("__prev").isNotNull()
        & F.col("__next").isNotNull()
        & (F.col("value") > F.col("__prev"))
        & (F.col("value") > F.col("__next"))
    ).select(
        key_col,
        order_col,
        "value",
        (F.col("value") - F.greatest("__prev", "__next")).alias("prominence"),
    )


def kendall_tau(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
    max_points: int = 100_000,
) -> DataFrame:
    """Kendall rank correlation (tau-b) between two integer series:
    concordant / discordant / tied pair counts over all point pairs,
    then tau_b = (C − D) / √((n₀−Tx)·(n₀−Ty)) with n₀ = n(n−1)/2.
    The pair-counting twin of :func:`spearman` — robust to monotone
    transforms and EXACT up to the final two float ops (one sqrt —
    IEEE correctly rounded — and one division) because every count is
    an integer.

    DECLARED QUADRATIC: the self-join is O(n²) pairs and is meant for
    CALENDAR-BOUNDED series (daily/hourly aggregates — n is fixed by
    the time range, not fact volume; 10 years of days is 6.7M pairs).
    Refuses above ``max_points`` rather than silently exploding; use
    a coarser grain instead of raising the cap.

    Output: one row — (n, n_pairs, concordant, discordant, ties_x,
    ties_y BIGINT, tau_b DOUBLE).
    """
    pts = df.select(
        F.col(id_col).alias("i"),
        F.col(x_col).cast("bigint").alias("x"),
        F.col(y_col).cast("bigint").alias("y"),
    )
    n_rows = pts.count()
    if n_rows > max_points:
        raise ValueError(
            f"kendall_tau is quadratic by design: {n_rows} points > "
            f"max_points={max_points}; aggregate to a coarser grain first"
        )
    # Broadcast one side (≤ max_points rows): without the hint the
    # non-equi join plans as a CartesianProduct of input slices —
    # 32 × 32 = 1,024 tasks for a 3-row createDataFrame on 32 cores.
    a, b = pts.alias("a"), pts.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.i") < F.col("b.i"))
    dx = F.col("b.x") - F.col("a.x")
    dy = F.col("b.y") - F.col("a.y")
    agg = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when((dx > 0) & (dy > 0) | (dx < 0) & (dy < 0), 1).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.when((dx > 0) & (dy < 0) | (dx < 0) & (dy > 0), 1).otherwise(0))
        .cast("bigint")
        .alias("discordant"),
        F.sum(F.when(dx == 0, 1).otherwise(0)).cast("bigint").alias("ties_x"),
        F.sum(F.when(dy == 0, 1).otherwise(0)).cast("bigint").alias("ties_y"),
    )
    return agg.select(
        F.lit(n_rows).cast("bigint").alias("n"),
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        F.when(
            (F.col("n_pairs") > F.col("ties_x"))
            & (F.col("n_pairs") > F.col("ties_y")),
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.sqrt(
                (
                    (F.col("n_pairs") - F.col("ties_x"))
                    * (F.col("n_pairs") - F.col("ties_y"))
                ).cast("double")
            ),
        ).alias("tau_b"),
    )


def growth_decomposition(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    period_a,
    period_b,
) -> DataFrame:
    """Contribution-to-growth decomposition between two periods: per
    segment, the value in each period, the delta, and the segment's
    share of the TOTAL delta — "which segment drove the change" —
    with Σ share = 1 by construction. Values are exact integers; the
    share is one double division against the broadcast total.

    Plan: one conditional-sum groupBy on the segment (both periods in
    one pass — no self-join), then a broadcast crossJoin of the
    1-row total. Output: (group, v_a, v_b, delta BIGINT,
    delta_share DOUBLE — NULL when the total delta is 0).
    """
    v = F.col(value_col).cast("bigint")
    p = F.col(period_col)
    per = df.groupBy(group_col).agg(
        F.sum(F.when(p == period_a, v).otherwise(0)).cast("bigint").alias("v_a"),
        F.sum(F.when(p == period_b, v).otherwise(0)).cast("bigint").alias("v_b"),
    )
    per = per.withColumn("delta", F.col("v_b") - F.col("v_a"))
    tot = per.agg(F.sum("delta").cast("bigint").alias("__tot"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            group_col,
            "v_a",
            "v_b",
            "delta",
            F.when(
                F.col("__tot") != 0,
                F.col("delta").cast("double") / F.col("__tot").cast("double"),
            ).alias("delta_share"),
        )
    )


def linear_interpolate(
    df: DataFrame,
    key_col: str,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Gap-filling by linear interpolation: per key, build the daily
    spine between the key's first and last observed day and fill each
    missing day from its two bracketing observations — v₀ + (v₁−v₀)·
    (d−d₀)/(d₁−d₀) — the time-series twin of :func:`date_spine`'s
    forward-fill. Exact-reproducible: values are integer units, the
    bracketing is the count-of-non-null segment trick (no IGNORE
    NULLS dialect dependence), and the interpolation is three float
    ops on exact integers written identically in any engine.

    Plan: the observed series is a partial-agg groupBy; the spine is
    sequence+explode per key (O(days) rows, calendar-bounded); both
    windows are keyed by (key) over the calendar axis — bounded
    partitions, never fact-bounded.

    Output: (key, day, value BIGINT — observed, interp DOUBLE —
    observed value or the interpolated fill).
    """
    obs = df.select(
        F.col(key_col).alias("k"),
        F.to_date(date_col).alias("day"),
        F.col(value_col).cast("bigint").alias("v"),
    )
    span = obs.groupBy("k").agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        "k", F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    j = spine.join(obs, ["k", "day"], "left")
    w = Window.partitionBy("k").orderBy("day")
    # segment id = count of observations so far → the last observed
    # (day, v) at-or-before each spine day, portable across engines
    seg = F.sum(F.when(F.col("v").isNotNull(), 1).otherwise(0)).over(w)
    j = j.withColumn("__seg", seg)
    prev = (
        j.filter(F.col("v").isNotNull())
        .select(
            "k",
            F.col("__seg").alias("__seg"),
            F.col("day").alias("__pd"),
            F.col("v").alias("__pv"),
        )
    )
    nxt = prev.select(
        "k",
        (F.col("__seg") - 1).alias("__seg"),
        F.col("__pd").alias("__nd"),
        F.col("__pv").alias("__nv"),
    )
    out = (
        j.join(prev, ["k", "__seg"], "left")
        .join(nxt, ["k", "__seg"], "left")
        .select(
            F.col("k").alias(key_col),
            "day",
            F.col("v").alias("value"),
            F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
            .otherwise(
                F.col("__pv").cast("double")
                + (
                    (F.col("__nv") - F.col("__pv"))
                    * F.datediff(F.col("day"), F.col("__pd"))
                ).cast("double")
                / F.datediff(F.col("__nd"), F.col("__pd")).cast("double")
            )
            .alias("interp"),
        )
    )
    return out
