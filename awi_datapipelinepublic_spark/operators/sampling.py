"""Deterministic sampling and dataset splitting.

Training pipelines need splits and samples that are (a) stable across
runs and engines — no seed-and-shuffle, (b) pure projections — no
extra scan, no driver state, (c) assignable row-at-a-time so new data
lands in the same split forever. The standard trick is hashing a
stable id and thresholding the hash: md5 is used (not xxhash) so the
assignment is reproducible in any engine that can hash a string.

At 100 TB both operators are filter/projection only: no shuffle, full
predicate pushdown upstream, and the md5 cost is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def _hash_prefix(id_col: str) -> Column:
    """First two lowercase-hex chars of md5(id) — a uniform 0..255
    draw, comparable as a string in any SQL engine."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    val_hex: str = "1a",
    test_hex: str = "34",
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to train/val/test by md5(id) prefix.

    Defaults: hash < '1a' → val (26/256 ≈ 10.2%), < '34' → test
    (another 26/256), rest → train (≈ 79.7%). Deterministic per id:
    re-runs, incremental batches, and other engines agree on every
    row's split — the property seeded ``randomSplit`` cannot give.
    """
    h = _hash_prefix(id_col)
    return df.withColumn(
        out_col,
        F.when(h < val_hex, F.lit("val"))
        .when(h < test_hex, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def stratified_sample_hash(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its md5(id)
    prefix falls under the stratum's threshold.

    ``fractions`` maps stratum value → sampling fraction (granularity
    1/256 at the two-hex-digit prefix). Unlike ``df.sampleBy`` the
    result is identical across runs/engines and needs no RNG state;
    like it, the plan is a single filter, no shuffle.
    """
    h = _hash_prefix(id_col)

    def keep(frac: float) -> Column:
        # 256/256 has no 2-hex-digit upper bound ('100' is a 3-char
        # string that compares lexicographically BELOW '11'..'ff'), so
        # keep-everything must be a literal true, not a threshold.
        n = round(frac * 256)
        if n >= 256:
            return F.lit(True)
        if n <= 0:
            return F.lit(False)
        return h < format(n, "02x")

    cond = keep(default_fraction)
    for value, frac in sorted(fractions.items()):
        cond = F.when(F.col(strata_col) == value, keep(frac)).otherwise(cond)
    return df.filter(cond)


def balanced_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic per-group k-sample (class-balanced subset): the k
    rows with the smallest md5(id) per group. No RNG — the same rows
    are chosen on any engine/cluster/run, the property that makes a
    training subset reproducible and auditable.

    One shuffle on ``group_col``; the per-group window sorts only
    within a group. For pathologically heavy groups the md5 order is
    uniform, so a pre-filter on a hash prefix (stratified_sample_hash)
    can shrink the sort input before ranking.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.md5(F.col(id_col).cast("string")), id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def mixture_resample(
    df: DataFrame,
    category_col: str,
    id_col: str,
    weights: dict[str, float],
    total_rows: int,
) -> DataFrame:
    """Deterministic domain-mixture resampling: downsample each
    category so the kept set approximates a target mixture (the
    per-source weighting step of LM corpus recipes — e.g. upweight
    curated sources, downweight crawl — expressed as keep-fractions).

    For category ``c`` with ``n_c`` rows and normalized target weight
    ``w_c``, the keep fraction is ``min(1, total_rows·w_c / n_c)``
    (rounded to 9dp so both engines threshold the identical double);
    a row is kept iff its md5-derived uniform ``u(id) < frac_c``.
    Categories absent from ``weights`` are dropped. Determinism is
    per-id: re-runs, incremental batches, and other engines keep
    exactly the same rows — sampling state never has to be
    coordinated across executors.

    Scale shape: one groupBy(category) whose result is bounded by the
    category vocabulary (broadcast back to the scan), then a pure
    filter — the corpus itself is never shuffled. Oversubscribed
    categories (``n_c < total_rows·w_c``) saturate at keep-all rather
    than upsampling; callers wanting replication can union the kept
    set k times (exact-duplicate upsampling is a deliberate, visible
    step, not an implicit one).
    """
    wsum = float(sum(weights.values()))
    wmap = F.create_map(
        *[F.lit(x) for kv in sorted(weights.items()) for x in (kv[0], float(kv[1]))]
    )
    # Bound the broadcast to the CALLER's category list (len(weights)
    # rows — contract-small) instead of the corpus's full category
    # vocabulary; categories outside the weight map are dropped by the
    # wmap-NULL filter below anyway, so pre-filtering here changes the
    # plan, not the result.
    counts = (
        df.filter(F.col(category_col).isin(list(weights.keys())))
        .groupBy(category_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    frac = F.round(
        F.least(F.lit(1.0), F.lit(float(total_rows)) * wmap[F.col(category_col)] / wsum / F.col("__n")),
        9,
    )
    return (
        df.join(F.broadcast(counts), category_col)
        .filter(wmap[F.col(category_col)].isNotNull() & (u < frac))
        .drop("__n")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement: the
    Efraimidis–Spirakis A-Res scheme, with the uniform draw derived
    from md5(id) instead of an RNG. Each row gets
    ``key = ln(u)/w`` for ``u = (md5_32(id)+0.5)/2^32``; the k largest
    keys are the sample — the same ordering as the textbook
    ``u^(1/w)`` (ln is monotone), but with far better numeric spread:
    ``u^(1/w)`` compresses toward 1.0 as w grows, so heavy weights
    collide after rounding and selection degenerates to id order,
    while the log form keeps weight-proportional resolution. Inclusion
    probability is proportional to weight, and — because u is a pure
    function of the id — the chosen set is identical on every run and
    every engine (the DuckDB oracle recomputes the same keys from the
    same md5). The +0.5 offset keeps u strictly inside (0,1), so
    ln(u) is always finite.

    Rows with non-positive or NULL weight are excluded (they can never
    be drawn). The key is rounded to 9dp before ranking (ties broken
    by id) so cross-engine libm `log` differences in the last ulp
    cannot flip an ordering.

    Scale shape: one projection (md5 + log) and a
    TakeOrderedAndProject top-k — per-partition k-heaps, no shuffle of
    row data, no global sort, no RNG state to coordinate across 1000
    executors (the property seeded `sample()` cannot give).
    """
    u = (
        (
            F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
            .cast("double")
            + F.lit(0.5)
        )
        / F.lit(float(1 << 32))
    )
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 9)
    return (
        df.filter(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__wkey")
    )


def token_budget_select(
    df: DataFrame,
    group_col: str,
    id_col: str,
    token_count_col: str,
    budget: int,
) -> DataFrame:
    """Per-group token-budget curation: keep documents from each group
    (source/domain/language) in a deterministic md5(id) order until the
    group's cumulative token count reaches ``budget``, then stop.

    This is the standard mixture-construction primitive — "take at
    most N tokens per source" — expressed as one partitioned running
    sum: rows are ordered inside each group by md5(id) (an unbiased,
    engine-portable shuffle of the group; same trick as
    :func:`train_val_test_split`), and a row survives iff the running
    total INCLUDING it is within budget. Unlike a fraction-based
    sample, the budget is met in tokens, not rows, so long documents
    don't blow past a target token mix.

    Output carries ``cum_tokens`` (the running total at the row) so
    downstream stages and the oracle can audit the cut.

    Scale shape: one hash-partitioned window per group — each group
    sorts locally within its partition, nothing global. Group count is
    small (sources/domains), so partitions are coarse; if one source
    dominates the corpus its window partition is a single sort of that
    source's (id, token_count) pairs — columns are pruned to exactly
    those before the shuffle.
    """
    order_key = F.md5(F.col(id_col).cast("string"))
    w = (
        Window.partitionBy(group_col)
        .orderBy(order_key, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_count_col).cast("long")).over(w)
    return (
        df.select(group_col, id_col, F.col(token_count_col).cast("long").alias(token_count_col))
        .withColumn("cum_tokens", cum)
        .filter(F.col("cum_tokens") <= budget)
    )


def assign_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic output sharding: ``shard = md5_32(id) % n_shards``.

    The write-layout primitive for training corpora: every engine and
    every rerun assigns each document to the same shard, so shard
    files are reproducible and incrementally appendable (a new batch
    never reshuffles old rows' shards — the property a round-robin or
    monotonic row-number assignment cannot give). The md5-derived
    32-bit value is the repo's standard engine-portable uniform hash,
    so shard sizes are balanced to ~1/sqrt(rows-per-shard) relative
    error.

    At scale the assignment is a pure projection; the subsequent
    ``df.repartition(n_shards, out_col).write`` (or DISTRIBUTE BY) is
    the only shuffle, producing exactly one writer task per shard.
    """
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("long")
    return df.withColumn(out_col, (h % n_shards).cast("int"))


def shard_stats(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    n_shards: int,
) -> DataFrame:
    """Audit view of :func:`assign_shards`: per-shard document and
    token totals. One partial-agg groupBy on the n_shards-key column —
    the check a pipeline runs before committing a sharded write."""
    return (
        assign_shards(df, id_col, n_shards)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(token_count_col).cast("long")).alias("n_tokens"),
        )
    )


def mixture_weights(
    df,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.7,
    round_dp: int = 6,
):
    """Temperature-scaled corpus mixing weights: per-source sampling
    weight ∝ (source tokens)^α, normalized — the multilingual/
    multi-source rebalancing rule from the public mBERT/XLM-R and
    data-mixture literature (α < 1 upsamples small sources, α = 1 is
    proportional, α = 0 is uniform).

    One groupBy(source) with map-side combine carries doc and token
    counts (source cardinality is tiny — the shuffle is bytes); the
    weight math is a projection over that bounded table plus one
    broadcast scalar (Σ tokens^α). Output also reports
    ``epochs_at_budget``: how many passes over the source one
    budget-proportional draw implies (weight·T_total / t_s) — the
    number a pretraining-data planner actually reads.

    Output: (source, n_docs, n_tokens BIGINT, weight DOUBLE,
    epochs_at_budget DOUBLE), both doubles at ``round_dp``.
    """
    from pyspark.sql import functions as F

    from awi_datapipelinepublic_spark.functions import text as X

    per_source = df.groupBy(source_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count(text_col)).alias("n_tokens"),
    )
    # tokens^alpha via driver-side libm, injected as literals (the
    # BENFORD_EXPECTED pattern): JVM Math.pow tolerates 1 ulp of
    # error, so an engine-side F.pow can differ from the DuckDB
    # oracle's libm pow at exactly the 6dp rounding boundary. CPython
    # ** calls the same C libm as DuckDB, killing the cross-engine
    # hazard. The collect is bounded by source cardinality (tiny by
    # contract — it's the mixture table a data planner reads).
    import math

    from pyspark.sql.types import DoubleType, StructField, StructType

    per_rows = per_source.collect()
    # Fresh StructType, NOT per_source.schema.add(...): StructType.add
    # mutates in place and DataFrame._schema is cached, so the .add
    # form would permanently append a phantom __p field to
    # per_source's schema object.
    powed_schema = StructType(
        per_source.schema.fields + [StructField("__p", DoubleType())]
    )
    powed = df.sparkSession.createDataFrame(
        [(*r, math.pow(float(r["n_tokens"]), float(alpha))) for r in per_rows],
        powed_schema,
    )
    tot = powed.agg(
        F.sum("__p").alias("__Z"), F.sum("n_tokens").alias("__T")
    )
    return (
        powed.crossJoin(F.broadcast(tot))
        .select(
            source_col,
            "n_docs",
            "n_tokens",
            # try_divide: a source whose documents are all empty has
            # n_tokens = 0 (and if EVERY source is empty, Z = 0) —
            # NULL weight/epochs instead of an ANSI DIVIDE_BY_ZERO
            # crash under the driver session; DuckDB x/0 → NULL.
            F.round(F.try_divide(F.col("__p"), F.col("__Z")), round_dp).alias(
                "weight"
            ),
            F.round(
                F.try_divide(
                    F.try_divide(F.col("__p"), F.col("__Z")) * F.col("__T"),
                    F.col("n_tokens"),
                ),
                round_dp,
            ).alias("epochs_at_budget"),
        )
    )


def poisson_weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    target_rows: int,
    seed_tag: str = "ws",
    out_col: str = "p_include",
    round_dp: int = 6,
) -> DataFrame:
    """Deterministic weight-proportional POISSON sampling: each row
    is kept independently with probability
    ``min(1, target_rows · w / Σw)`` — the quality-weighted downsample
    a pretraining-data pipeline applies after scoring (keep good docs
    more often, EXPECTED output size ≈ ``target_rows``). The
    fixed-size-k counterpart is :func:`weighted_sample`
    (Efraimidis–Spirakis top-k); this form is the one that never
    ranks — pure filter, so it composes with incremental ingest (a
    new batch's keep-decisions don't depend on old rows beyond the
    Σw refresh). Like every sampler in this module the draw is
    ``md5(seed_tag # id)`` — no RNG state, identical keep-set on any
    engine/cluster/re-run.

    Scale: one exact Σw aggregate broadcast back as a 1-row frame
    (integral weights stay exact — long/HUGEINT sums agree bit-for-bit
    across engines and convert to the same double once, so the
    inclusion probability is cross-engine bit-identical; float weights
    would reintroduce summation-order ulps), then a pure filter
    projection — no shuffle of the data, full pushdown upstream.

    Output keeps the row plus ``out_col`` (the inclusion probability,
    rounded) for inverse-probability reweighting downstream.
    """
    tot = df.agg(F.sum(weight_col).alias("__W"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed_tag + "#"), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(4294967296.0)
    )
    p = F.least(
        F.lit(1.0),
        F.lit(float(target_rows)) * F.col(weight_col) / F.col("__W").cast("double"),
    )
    return (
        df.crossJoin(F.broadcast(tot))
        .withColumn(out_col, F.round(p, round_dp))
        .filter(u < p)
        .drop("__W")
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023): per-document importance log-weights for selecting raw-pool
    documents that look like a small target corpus. Features are
    HASHED unigrams+bigrams (the hashing trick — no vocabulary, no
    driver dictionary): bucket g's probability is estimated on each
    corpus with +0.5 Laplace smoothing, and a raw document's weight is
    Σ_g c_g · (ln q̂_g − ln p̂_g) over its bucket counts c_g (q̂ =
    target, p̂ = raw). Resample raw docs ∝ exp(weight) downstream
    (weighted_sample composes directly).

    Scale design: one explode+groupBy((id, bucket)) per corpus with
    map-side combine; the global bucket tables collapse to ≤n_buckets
    rows each BEFORE the driver collect (bounded by a constant, same
    contract as mixture_weights' source table); the per-bucket
    log-ratios are computed in CPython (libm — bit-identical to
    DuckDB's ln, the mixture_weights precedent) and broadcast back as
    a LITERAL n_buckets-row table, so no log() runs engine-side.
    EXACT-INTEGER output contract (the two-pass integer-exactness
    rule): ratios ship as floor(x·1e9) BIGINT nano-units and the
    per-doc aggregate is an exact integer Σ c_g·ratio_nano — no float
    accumulation order to diverge cross-engine. md5-derived bucket ids
    replay in any engine.

    Output: (id_col, n_grams BIGINT, log_weight_nano BIGINT) for every
    raw document with ≥1 token; divide by 1e9 for the natural-log
    weight.
    """
    import math

    from awi_datapipelinepublic_spark.functions import text as X

    B = int(n_buckets)

    def gram_buckets(df: DataFrame) -> DataFrame:
        """(__id, __b) row per gram occurrence — pre-aggregation.
        The input is spread across cores first: a small parquet
        arrives as 1-2 splits, serializing the explode+md5 scan
        (measured 10.3 → 4.7 s for 5.2M grams at sf1)."""
        from awi_datapipelinepublic_spark.functions.parallel import (
            spread_small_input,
        )

        df = spread_small_input(df.select(id_col, text_col))
        toks = X.tokens(X.normalize_text(F.col(text_col)))
        grams = F.concat(
            toks,
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        )
        g = df.select(F.col(id_col).alias("__id"), F.explode(grams).alias("__g"))
        bucket = (
            F.conv(F.substring(F.md5(F.col("__g")), 1, 8), 16, 10).cast("long") % B
        )
        return g.select("__id", bucket.alias("__b"))

    def bucketed(df: DataFrame) -> DataFrame:
        return gram_buckets(df).groupBy("__id", "__b").agg(
            F.count(F.lit(1)).alias("__c")
        )

    # raw_doc feeds BOTH the p-distribution collect and the final
    # per-doc join; with the input spread across cores the parallel
    # recompute of the second pass beats a blocking localCheckpoint
    # (measured sf0.1/sf1: 2.36/3.98 s spread-only vs 2.71/3.67 s
    # spread+checkpoint vs 14.6 s with the original 2-split scan).
    raw_doc = bucketed(raw)
    p_rows = raw_doc.groupBy("__b").agg(F.sum("__c").alias("n")).collect()
    # Target side: only the GLOBAL bucket distribution is needed, so
    # aggregate straight to ≤B rows (partial agg combines map-side) —
    # no per-doc intermediate.
    q_rows = gram_buckets(target).groupBy("__b").agg(
        F.count(F.lit(1)).alias("n")
    ).collect()
    p_cnt = {r["__b"]: r["n"] for r in p_rows}
    q_cnt = {r["__b"]: r["n"] for r in q_rows}
    p_tot = sum(p_cnt.values()) + 0.5 * B
    q_tot = sum(q_cnt.values()) + 0.5 * B
    ratio = [
        (
            b,
            int(
                math.floor(
                    (
                        math.log((q_cnt.get(b, 0) + 0.5) / q_tot)
                        - math.log((p_cnt.get(b, 0) + 0.5) / p_tot)
                    )
                    * 1e9
                )
            ),
        )
        for b in range(B)
    ]
    spark = raw.sparkSession
    from pyspark.sql.types import LongType, StructField, StructType

    rt = spark.createDataFrame(
        ratio,
        StructType(
            [StructField("__b", LongType()), StructField("__r", LongType())]
        ),
    )
    return (
        raw_doc.join(F.broadcast(rt), "__b")
        .groupBy("__id")
        .agg(
            F.sum("__c").cast("bigint").alias("n_grams"),
            F.sum(F.col("__c") * F.col("__r")).cast("bigint").alias(
                "log_weight_nano"
            ),
        )
        .withColumnRenamed("__id", id_col)
    )


def poisson_bootstrap(
    df: DataFrame,
    key_col: str,
    id_col: str,
    value_col: str,
    replicates: int = 32,
    value_scale: int = 100,
    seed: str = "bs",
    round_dp: int = 6,
) -> DataFrame:
    """Poisson-bootstrap confidence intervals for the per-key mean of
    ``value_col`` — the single-pass, shuffle-light bootstrap for
    massive data (Chamandy et al., "Estimating Uncertainty for
    Massive Data Streams", 2012): instead of drawing B resamples
    (B shuffles), each row gets an INDEPENDENT Poisson(1) weight per
    replicate, and the B weighted means approximate the sampling
    distribution.

    Determinism contract: the per-(row, replicate) weight is the
    Poisson(1) inverse CDF of an md5-derived dyadic-rational uniform
    (bit-identical in any engine); values are pre-scaled to exact
    integers (floor(v·scale + 0.5) — floor, not round: Spark's
    F.round is shortest-string HALF_UP, an oracle hazard), so every
    replicate sum is an exact BIGINT and the replicate mean is ONE
    double division on exact integers. CDF thresholds are
    CPython-libm doubles; oracles embed their repr() literals.

    Hash economy: one md5 digest is 128 bits = FOUR independent
    32-bit uniforms, so replicate b reads 8 hex chars at offset
    8·(b mod 4) of md5(seed#⌊b/4⌋#id) — 4× fewer digests than
    hash-per-replicate (measured hash-bound: 32 replicates at ~the
    cost of 8). The plan stages this as explode(groups) → one md5
    per (row, group) → explode(4 slices), so the digest is computed
    once per group, not re-evaluated per replicate row.

    Plan: the replicate axis is ``sequence`` + two ``explode``s (B×
    row growth of a 4-column projection, no UDF), one groupBy
    (key, replicate) with map-side combine, then a (key)-grouped
    exact percentile over B replicate means — |keys|·B intermediate
    rows total. No resampling shuffle, no driver loop: the classic
    100 TB-bootstrap layout.

    Output per key: n_rows, mean (the replicate-median point
    estimate), ci_lo / ci_hi (2.5 / 97.5 percentiles), all at
    ``round_dp``.
    """
    import math

    B = int(replicates)
    # Poisson(1) CDF thresholds P(X ≤ k), k = 0..6; weights cap at 7.
    cum, term = [], math.exp(-1.0)
    acc = term
    for k in range(7):
        cum.append(acc)
        term = term / (k + 1)
        acc += term
    if B % 4:
        raise ValueError("poisson_bootstrap: replicates must be a multiple of 4")
    cents = F.floor(F.col(value_col) * value_scale + F.lit(0.5)).cast("bigint")
    grouped = df.select(
        F.col(key_col).alias("__k"),
        cents.alias("__c"),
        F.explode(F.sequence(F.lit(0), F.lit(B // 4 - 1))).alias("__g"),
        F.col(id_col).cast("string").alias("__id"),
    ).select(
        "__k",
        "__c",
        "__g",
        F.md5(
            F.concat(F.lit(seed + "#"), F.col("__g").cast("string"), F.lit("#"), F.col("__id"))
        ).alias("__h"),
    )
    sliced = grouped.select(
        "__k",
        "__c",
        "__g",
        "__h",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("__s"),
    ).select(
        "__k",
        "__c",
        (F.col("__g") * 4 + F.col("__s")).alias("__b"),
        (
            F.conv(F.expr("substring(__h, 1 + 8 * __s, 8)"), 16, 10).cast("double")
            / F.lit(4294967296.0)
        ).alias("__u"),
    )
    u = F.col("__u")
    w = F.when(u < F.lit(cum[0]), F.lit(0))
    for k in range(1, 7):
        w = w.when(u < F.lit(cum[k]), F.lit(k))
    w = w.otherwise(F.lit(7)).cast("bigint")
    exploded = sliced.select("__k", "__b", w.alias("__w"), "__c")
    rep = exploded.groupBy("__k", "__b").agg(
        F.sum("__w").alias("__n_eff"),
        F.sum(F.col("__w") * F.col("__c")).alias("__wsum"),
        # every replicate slice holds each of the key's rows exactly
        # once, so this count IS the key's raw row count
        F.count(F.lit(1)).alias("__n"),
    )
    mean_b = (
        F.try_divide(F.col("__wsum").cast("double"), F.col("__n_eff").cast("double"))
        / F.lit(float(value_scale))
    )
    return (
        rep.select("__k", mean_b.alias("__m"), "__n")
        .groupBy(F.col("__k").alias(key_col))
        .agg(
            F.max("__n").alias("n_rows"),
            F.round(F.percentile(F.col("__m"), F.lit(0.5)), round_dp).alias("mean"),
            F.round(F.percentile(F.col("__m"), F.lit(0.025)), round_dp).alias("ci_lo"),
            F.round(F.percentile(F.col("__m"), F.lit(0.975)), round_dp).alias("ci_hi"),
        )
    )


def rendezvous_shard(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    out_col: str = "shard",
    seed: str = "rdv",
) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment: each row
    goes to argmax_s md5(seed#s#id) over the shard ids — the
    consistent-hashing scheme where growing the fleet from k to k+1
    shards moves EXACTLY the rows the new shard wins (≈ 1/(k+1) of
    them) and nothing else, unlike ``id % k`` which reshuffles almost
    everything.

    The argmax is a codegen ``array_max`` over k (hash, shard)
    structs — no explode, no shuffle, a pure projection; md5 makes
    the placement engine-independent (any system that can hash a
    string reproduces the layout bit-for-bit). Struct comparison
    breaks hash ties toward the larger shard id in any engine
    (lexicographic on (hash, shard)).
    """
    structs = [
        F.struct(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{seed}#{s}#"), F.col(id_col).cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("h"),
            F.lit(s).alias("s"),
        )
        for s in range(int(n_shards))
    ]
    return df.withColumn(out_col, F.array_max(F.array(*structs))["s"])


def reshard_movement(
    df: DataFrame,
    id_col: str,
    k_from: int,
    k_to: int,
    seed: str = "rdv",
) -> DataFrame:
    """Reshard-movement audit: the (shard_from, shard_to, n_rows)
    transition matrix of a rendezvous fleet resize — the capacity-
    planning report proving (or disproving) that a resize only moves
    the minimal set. For k→k+1 the matrix is diagonal except one
    column: ≈ 1/(k+1) of each shard drains to the new one. One scan,
    two pure projections, one map-side-combined groupBy.
    """
    a = rendezvous_shard(df.select(id_col), id_col, k_from, "shard_from", seed)
    b = rendezvous_shard(a, id_col, k_to, "shard_to", seed)
    return (
        b.groupBy("shard_from", "shard_to")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


def unimax_weights(
    df: DataFrame,
    group_col: str,
    size_col: str,
    total_budget: int,
    epoch_cap: int = 4,
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023) across groups
    (languages/domains): distribute ``total_budget`` tokens as
    uniformly as possible, capping every group at ``epoch_cap`` epochs
    of its own corpus so low-resource groups are never over-repeated.
    Greedy over groups in ASCENDING corpus size: each takes
    ``min(epoch_cap·size, remaining DIV groups_left)`` — integer
    arithmetic throughout, so the allocation replays exactly in any
    engine (the oracle is a recursive CTE walking the same order).

    Scale shape: the per-group sizes aggregate distributively from the
    fact (one map-side-combined groupBy); the greedy itself is
    GROUP-cardinality work — languages/domains number in the hundreds,
    a bounded-by-contract driver computation (same class as the
    centroid collects in similarity.py), never fact-sized.

    Output: (group, n_tokens BIGINT, quota BIGINT, weight DOUBLE =
    quota/total_budget at 6dp).
    """
    sizes = (
        df.groupBy(group_col)
        .agg(F.sum(F.col(size_col).cast("bigint")).alias("n_tokens"))
        .collect()
    )
    if len(sizes) > 100_000:
        raise ValueError(
            f"unimax_weights: {len(sizes)} groups in {group_col!r} — the "
            "greedy allocation is driver-side and bounded-by-contract to "
            "group (language/domain) cardinality; a fact-sized group "
            "column is the wrong input"
        )
    ordered = sorted((int(r["n_tokens"]), r[group_col]) for r in sizes)
    remaining = int(total_budget)
    left = len(ordered)
    rows = []
    for n_tokens, grp in ordered:
        quota = min(int(epoch_cap) * n_tokens, remaining // left if left else 0)
        remaining -= quota
        left -= 1
        rows.append((grp, n_tokens, quota))
    spark = df.sparkSession
    # The group column keeps its SOURCE type (an int domain id must not
    # be coerced to string — or worse, fail createDataFrame's hardcoded
    # schema); only the computed columns have fixed types.
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField(group_col, df.schema[group_col].dataType, True),
            StructField("n_tokens", LongType(), True),
            StructField("quota", LongType(), True),
        ]
    )
    out = spark.createDataFrame(rows, out_schema)
    return out.select(
        group_col,
        "n_tokens",
        "quota",
        F.round(
            F.col("quota").cast("double") / F.lit(float(int(total_budget))), 6
        ).alias("weight"),
    )


def systematic_sample(
    df: DataFrame,
    order_by: list,
    k: int,
    id_out: str = "rn",
) -> DataFrame:
    """Every-k-th-row systematic sample over a deterministic total
    order: rank the frame, keep ranks 1, k+1, 2k+1, … — the
    evenly-spaced n/k subset auditors and eyeball-QA passes want
    (a hash sample clusters by chance; systematic sampling is
    variance-free along the sort axis).

    Plan: ranks come from
    :func:`~awi_datapipelinepublic_spark.operators.windows.
    global_row_number` (one range sort plus Spark's distributed
    sequence, no single-partition window), then a filter on the
    rank.

    Output: the sampled rows plus their global rank in ``id_out``.
    """
    from awi_datapipelinepublic_spark.operators.windows import global_row_number

    if k < 1:
        raise ValueError(f"systematic_sample needs k >= 1, got {k}")
    ranked = global_row_number(df, order_by, out_col=id_out)
    return ranked.filter((F.col(id_out) - 1) % k == 0)
