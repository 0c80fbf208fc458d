"""Corpus-hygiene operators: repetition heuristics and benchmark
decontamination.

Two training-data-prep stages that sit between the clean stage and
dedup in a real corpus pipeline:

- :func:`repetition_stats` — Gopher-style per-document repetition
  metrics (top n-gram fraction, duplicate n-gram fraction). Documents
  dominated by one repeated phrase are boilerplate/spam; filtering on
  these fractions is the standard quality gate.
- :func:`decontaminate` — remove corpus documents that share any word
  n-gram with a benchmark/eval set, so evaluation data never leaks
  into training data.

Scale design: repetition counting is explode → two chained groupBys on
the same key prefix — ONE shuffle on (doc, gram), then a partial-agg
shuffle on doc; deliberately NOT a per-element higher-order-function
count (counting each distinct gram's occurrences via filter() inside a
lambda re-evaluates per element — quadratic per doc, the measured
blowup documented in operators/dedup.py). Decontamination broadcasts
the benchmark gram set (eval suites are MB-scale against a 100 TB
corpus) so the corpus side is never shuffled for the probe; only the
bounded contaminated-id set joins back anti-wise, with AQE free to
broadcast it.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints (PEP 563)
from pyspark.sql import DataFrame, functions as F

from awi_datapipelinepublic_spark.functions import text as X


def _gram_list_udf(n: int, distinct: bool):
    """Arrow-batched tokenize → word n-grams per document (multiset or
    distinct). Same semantics as tokens(normalize_text(·)) +
    shingles_of (functions/text.py) — short docs yield their whole
    text as one gram — but one plain-Python string pass per Arrow
    batch. The expression form is a CollapseProject trap: the chained
    select's token array is re-inlined into the shingling transform()
    lambda, so the tokenize regexp re-runs PER ARRAY ELEMENT (measured
    8.7 s for 256k grams at sf0.1 — ~6× the whole rest of the query).
    Self-contained nested def: cloudpickled by value, no repo-module
    reference on the workers."""
    import pandas as pd  # noqa: F811 — keep the closure self-contained
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def grams(texts: pd.Series) -> pd.Series:
        import re

        ws = re.compile(r"\s+")
        out = []
        for t in texts:
            toks = ws.sub(" ", (t or "").lower()).strip().split(" ")
            m = len(toks)
            if m >= n:
                g = [" ".join(toks[i : i + n]) for i in range(m - n + 1)]
                out.append(list(dict.fromkeys(g)) if distinct else g)
            else:
                out.append([" ".join(toks)])
        return pd.Series(out)

    return grams


def _grams(df: DataFrame, id_col: str, text_col: str, n: int, distinct: bool) -> DataFrame:
    """(id, gram) rows: Arrow-batched tokenize+shingle, then explode.
    The input is spread across cores first — a small parquet arrives
    as 1-2 splits and would run the UDF on 1-2 workers."""
    from awi_datapipelinepublic_spark.functions.parallel import spread_small_input

    g = spread_small_input(df.select(id_col, text_col)).select(
        id_col, _gram_list_udf(n, distinct)(F.col(text_col)).alias("__grams")
    )
    return g.select(id_col, F.explode("__grams").alias("gram"))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Per-document n-gram repetition metrics:

    - ``n_grams`` / ``n_distinct_grams`` — total and distinct counts;
    - ``top_gram_frac`` — share of the most frequent n-gram (a doc
      that is one phrase repeated scores → 1.0);
    - ``dup_gram_frac`` — share of occurrences beyond each gram's
      first (Gopher's duplicate-n-gram fraction).

    Shorter-than-n docs contribute their whole text as one gram (so
    every doc gets a row); callers filter on e.g.
    ``top_gram_frac > 0.2`` per the Gopher thresholds.
    """
    counts = _grams(df, id_col, text_col, n, distinct=False).groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.groupBy(id_col).agg(
        F.sum("cnt").alias("n_grams"),
        F.count(F.lit(1)).alias("n_distinct_grams"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias("top_gram_frac"),
        F.round(
            (F.sum("cnt") - F.count(F.lit(1))).cast("double") / F.sum("cnt"), 6
        ).alias("dup_gram_frac"),
    )


def contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 7,
) -> DataFrame:
    """Distinct ids of corpus documents sharing ≥1 word n-gram with the
    benchmark set. The benchmark's distinct gram set is broadcast — the
    corpus scan probes it map-side, no corpus shuffle. Gram strings are
    kept as-is for cross-engine verifiability; a production run would
    xxhash64 them to shrink the broadcast (same plan shape)."""
    bench_grams = (
        _grams(benchmark, id_col, text_col, n, distinct=True).select("gram").distinct()
    )
    probe = _grams(corpus, id_col, text_col, n, distinct=True)
    hits = probe.join(F.broadcast(bench_grams), "gram", "inner")
    return hits.select(id_col).distinct()


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 7,
) -> DataFrame:
    """Corpus minus every document that shares an n-gram with the
    benchmark (n=7 ≈ the 8-to-13-token overlap windows used for eval
    decontamination in published LM data work; lower n = stricter).
    Anti-join on the bounded contaminated-id set; AQE broadcasts it
    when small."""
    bad = contaminated_ids(corpus, benchmark, id_col, text_col, n)
    return corpus.join(bad, id_col, "left_anti")


def fuzzy_contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
) -> DataFrame:
    """FUZZY decontamination: corpus documents that are MinHash-LSH
    near-duplicates of any benchmark document — the paraphrase-robust
    companion of :func:`contaminated_ids` (exact n-gram overlap misses
    an eval item whose wording drifted; a near-dup signature does
    not). Same s-curve as the dedup family: 32 hashes / 8 bands ≈
    catches Jaccard ≳ 0.6 rewrites.

    Plan shape is the :func:`~awi_datapipelinepublic_spark.operators.
    dedup.dedup_incremental` probe re-aimed: the benchmark's band keys
    form the (tiny) index side, the corpus band rows LEFT SEMI probe
    it — first-match short-circuit, no pair expansion, corpus scanned
    once. At 100 TB the benchmark index is MB-scale and broadcasts.
    """
    from awi_datapipelinepublic_spark.operators.dedup import minhash_band_keys

    bench_bands = minhash_band_keys(
        benchmark, text_col, id_col, num_hashes, bands, k
    ).select("band_no", "band_key")
    corpus_bands = minhash_band_keys(corpus, text_col, id_col, num_hashes, bands, k)
    return (
        corpus_bands.join(F.broadcast(bench_bands), ["band_no", "band_key"], "left_semi")
        .select(id_col)
        .distinct()
    )


def cross_doc_duplicate_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 4
) -> DataFrame:
    """Substring-level duplication profile: for each document, how much
    of its text consists of word n-gram spans that ALSO occur in some
    other document. This is the signal behind suffix-array substring
    dedup of LM training corpora (exact duplicated spans across
    documents, as opposed to whole-document near-dup): a doc whose
    ``dup_span_frac`` approaches 1.0 is boilerplate assembled from
    shared fragments even if no single other doc is a near-duplicate
    of it.

    Output per document: ``n_spans`` (total n-gram positions),
    ``n_dup_spans`` (positions whose gram appears in ≥2 distinct
    docs), ``dup_span_frac``. Shorter-than-n docs contribute their
    whole text as a single span (same convention as
    :func:`repetition_stats`), so every doc gets a row.

    Scale shape: explode → groupBy(gram, doc) with map-side partials
    (shuffle 1, on already-combined keys), a groupBy(gram) doc-count
    joined back on gram (shuffle 2 — pure aggregate rows, never raw
    text), and a final groupBy(doc) on doc-level partials (shuffle 3,
    |docs| rows). No self-join of the corpus, no driver state, and —
    deliberately — NO window over the gram key: a boilerplate gram
    occurring in 10^8 documents would land all 10^8 (gram, doc) rows
    in a single window partition, whereas groupBy collapses the hot
    key to one row per map partition before the shuffle and the
    join-back is AQE-skew-splittable (plan-asserted in
    tests/test_plans.py). Gram strings are kept verbatim for
    cross-engine verifiability; a production run would hash them
    (xxhash64) to shrink shuffle width — same plan, 8-byte keys.
    """
    occ = _grams(df, id_col, text_col, n, distinct=False).groupBy("gram", id_col).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # occ has one row per (gram, doc), so a plain count per gram IS the
    # distinct-document count — map-side partials make the hot key cheap.
    gram_docs = occ.groupBy("gram").agg(F.count(F.lit(1)).alias("__ndocs"))
    flagged = occ.join(gram_docs, "gram")
    dup_cnt = F.sum(F.when(F.col("__ndocs") >= 2, F.col("cnt")).otherwise(F.lit(0)))
    return flagged.groupBy(id_col).agg(
        F.sum("cnt").alias("n_spans"),
        dup_cnt.alias("n_dup_spans"),
        F.round(dup_cnt.cast("double") / F.sum("cnt"), 6).alias("dup_span_frac"),
    )


def remove_duplicated_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 4
) -> DataFrame:
    """Substring-level dedup (the REMOVAL counterpart of
    :func:`cross_doc_duplicate_spans`): cut every token position that
    is covered by a word n-gram occurring in ≥2 documents, UNLESS this
    document is the gram's canonical owner (min doc id) — so exactly
    one copy of each cross-doc duplicated span survives corpus-wide.
    This is the Spark-first analog of suffix-array substring dedup of
    LM training corpora (exact duplicated spans removed, not whole
    near-dup documents): boilerplate paragraphs shared by thousands of
    pages collapse to one retained copy while each page keeps its
    unique text.

    Output per document: ``clean_text`` (surviving tokens re-joined),
    ``n_tokens`` (original), ``n_removed``. Documents shorter than
    ``n`` tokens carry no n-gram and pass through untouched; every
    input doc gets a row.

    Scale shape (mirrors cross_doc_duplicate_spans — NO window over
    the gram key, no corpus self-join): positional grams explode once;
    per-gram (ndocs, owner) comes from groupBy(gram) with map-side
    partials and joins back on gram (AQE-skew-splittable); covered
    positions explode ×n on the BAD positions only; the final
    reconstruction is one groupBy(doc) sort-by-position fold. The
    tokenized base is persisted — it feeds both the gram branch and
    the token-reconstruction branch.
    """
    import pandas as pd  # noqa: F811 — keep the closure self-contained
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    from awi_datapipelinepublic_spark.functions.parallel import spread_small_input

    schema = StructType(
        [
            StructField("toks", ArrayType(StringType())),
            StructField("grams", ArrayType(StringType())),
        ]
    )

    @F.pandas_udf(schema)
    def tok_grams(texts: pd.Series) -> pd.DataFrame:
        import re

        ws = re.compile(r"\s+")
        toks_out, grams_out = [], []
        for t in texts:
            toks = ws.sub(" ", (t or "").lower()).strip().split(" ")
            m = len(toks)
            toks_out.append(toks)
            grams_out.append(
                [" ".join(toks[i : i + n]) for i in range(m - n + 1)] if m >= n else []
            )
        return pd.DataFrame({"toks": toks_out, "grams": grams_out})

    from pyspark.storagelevel import StorageLevel

    base = (
        spread_small_input(df.select(id_col, text_col))
        .select(id_col, tok_grams(F.col(text_col)).alias("__tg"))
        .select(id_col, F.col("__tg.toks").alias("__toks"), F.col("__tg.grams").alias("__grams"))
        # MEMORY_ONLY: eviction must free the space (default level
        # spills evicted blocks to disk — unbounded in long sessions)
        .persist(StorageLevel.MEMORY_ONLY)
    )
    gram_rows = base.select(id_col, F.posexplode("__grams").alias("__i", "gram"))
    gram_docs = (
        gram_rows.select("gram", id_col)
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__ndocs"), F.min(id_col).alias("__owner"))
    )
    bad = (
        gram_rows.join(gram_docs.filter(F.col("__ndocs") >= 2), "gram")
        .filter(F.col(id_col) != F.col("__owner"))
        .select(id_col, "__i")
    )
    covered = bad.select(
        id_col, F.explode(F.sequence(F.col("__i"), F.col("__i") + F.lit(n - 1))).alias("__p")
    ).distinct()
    tok_rows = base.select(id_col, F.posexplode("__toks").alias("__p", "__tok"))
    kept = tok_rows.join(covered, [id_col, "__p"], "left_anti")
    cleaned = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__tok"))), lambda s: s["__tok"]
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("__n_kept"),
    )
    sizes = base.select(id_col, F.size("__toks").alias("n_tokens"))
    return (
        sizes.join(cleaned, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("__n_kept", F.lit(0))).cast("long").alias(
                "n_removed"
            ),
        )
    )


def key_skew_profile(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Join-key skew diagnostic: the ``top_n`` heaviest keys with
    absolute count and corpus share. The pre-flight check before
    choosing salting / AQE-skew-join for a fact-fact join.

    One groupBy(key) with map-side partials, a broadcast of the single
    scalar total, TakeOrderedAndProject for the head — nothing
    driver-side, works unchanged on a 10¹² row table.
    """
    counts = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("key_count"))
    total = df.agg(F.count(F.lit(1)).alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key_col,
            "key_count",
            F.round(F.col("key_count") / F.col("__total"), 6).alias("share"),
        )
        .orderBy(F.col("key_count").desc(), F.col(key_col).asc())
        .limit(top_n)
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Percentile clipping (winsorization): cap a numeric feature at
    its exact [lower, upper] quantiles — the outlier guard before any
    scale-sensitive downstream (z-scores, embeddings, loss weights).

    Exact linear-interpolation percentiles (Spark `percentile` ==
    DuckDB `quantile_cont`) aggregate the full column into one
    aggregation buffer — verifiable, but at true corpus scale swap in
    `approx_percentile` (t-digest, mergeable, bounded memory); the
    clip itself is a broadcast of two scalars either way.
    """
    pcts = df.agg(
        F.percentile(value_col, F.lit(lower)).alias("__lo"),
        F.percentile(value_col, F.lit(upper)).alias("__hi"),
    )
    return (
        df.crossJoin(F.broadcast(pcts))
        .withColumn(
            out_col or value_col,
            F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi")),
        )
        .drop("__lo", "__hi")
    )


def incremental_distinct_sketch(
    df: DataFrame,
    key_col: str,
    bucket_col: str,
) -> DataFrame:
    """Mergeable cardinality sketches: one HyperLogLog sketch per
    bucket (e.g. per day/partition), plus the union estimate over all
    buckets — the primitive behind incremental "distinct users to
    date" without re-scanning history.

    Scale design: sketches are the textbook mergeable aggregate — each
    bucket's scan emits a fixed-size (~KB) binary regardless of row
    count, partial-merges map-side, and yesterday's sketches never
    need recomputation: persist the per-bucket sketch table and
    hll_union_agg only the new buckets in. Estimates are deterministic
    for a given input (no RNG), standard error ≈ 1.04/√2^lgK.
    """
    per_bucket = df.groupBy(bucket_col).agg(
        F.hll_sketch_agg(key_col).alias("sketch"),
        F.countDistinct(key_col).alias("exact_distinct"),
    )
    return per_bucket.select(
        bucket_col,
        F.hll_sketch_estimate("sketch").alias("estimate"),
        "exact_distinct",
    )


def incremental_distinct_total(df: DataFrame, key_col: str, bucket_col: str):
    """Union of the per-bucket sketches → one global estimate row.
    The two-level shape (bucket sketches, then union) is exactly the
    incremental-refresh plan: only new buckets are sketched."""
    sketches = df.groupBy(bucket_col).agg(F.hll_sketch_agg(key_col).alias("sketch"))
    return sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("estimate")
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style LM quality proxy: each document's mean unigram
    log-probability under the corpus's own unigram distribution
    (p(w) = count(w)/total). Low scores flag rare-token noise
    (gibberish, encoding damage); suspiciously high scores flag
    boilerplate. The cheap stand-in for the LM-perplexity filter in
    published corpus pipelines — same two-pass shape as training a
    real 5-gram KenLM filter, at unigram cost.

    Scale shape: pass 1 is one (token) groupBy with map-side partials
    (Zipf head compresses best); pass 2 re-joins the per-token counts
    to the exploded corpus on the token key — one hash-partitioned
    equi-join (the vocabulary is NOT broadcast: at web scale it does
    not fit, and AQE will broadcast small vocabularies on its own) —
    then one groupBy(doc) mean. Every token is its own row; no
    per-element HOF lambdas (the measured quadratic trap documented in
    operators/dedup.py).
    """
    toks = df.select(
        id_col, F.explode(X.tokens(X.normalize_text(text_col))).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("__total"))
    scored = (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .select(id_col, F.log(F.col("cnt") / F.col("__total")).alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
        F.count(F.lit(1)).alias("n_tokens"),
    )


def calibrate_scores(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    out_col: str = "calibrated",
) -> DataFrame:
    """Cross-group score calibration: replace a raw per-document
    quality score with its percentile WITHIN its group (source/domain).

    Raw quality heuristics are not comparable across sources — a
    stopword-ratio score that means "good" on web text means "spam" on
    code — so corpus pipelines threshold the per-source percentile
    instead of the raw value (the CCNet recipe: keep the top X% of
    each source). percent_rank is deterministic under ties (ties share
    a rank in every engine), so the output is hash-verifiable.

    Scale shape: one hash-partitioned window per group over pruned
    (id, score) pairs; group count is small, rows within a group sort
    locally. Rounded to 9dp — rank arithmetic is exact in both
    engines, the rounding only normalizes the double's render.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(score_col), F.col(id_col))
    return df.select(
        id_col,
        group_col,
        F.col(score_col),
        F.round(F.percent_rank().over(w), 9).alias(out_col),
    )


def source_overlap(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: for every ordered pair of
    groups (a, b), the fraction of a's distinct word n-grams that also
    occur in b (directed containment). High overlap between two
    "independent" sources flags shared upstream crawls or mirrored
    content — the audit run before weighting sources in a mixture.

    Scale shape: the gram space is reduced to DISTINCT (group, gram)
    pairs first — corpus volume collapses at the map side; the pair
    expansion is then a self-join on gram whose fan-out per gram is
    bounded by the NUMBER OF GROUPS (dozens), never by document
    multiplicity, so the worst case is ~|distinct grams| x groups^2 —
    linear in the corpus with a small constant. Contrast with
    document-pair overlap (dedup_containment), which is quadratic in
    duplicate multiplicity and gated behind LSH.
    """
    grams = (
        _grams(df.select(F.col(group_col).alias("__grp"), F.col(text_col)),
               "__grp", text_col, n, distinct=True)
        .distinct()
    )
    sizes = grams.groupBy("__grp").agg(F.count(F.lit(1)).alias("__n_grams"))
    pairs = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .filter(F.col("a.__grp") != F.col("b.__grp"))
        .groupBy(F.col("a.__grp").alias("src_a"), F.col("b.__grp").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("__grp", "src_a"), "src_a")
        .select(
            "src_a",
            "src_b",
            "shared_grams",
            F.round(F.col("shared_grams") / F.col("__n_grams"), 9).alias("containment"),
        )
    )


def substring_contaminated_ids(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring decontamination: ids of corpus documents whose
    NORMALIZED text contains any benchmark document's normalized text
    verbatim (the strictest leak check — catches an eval row pasted
    inside a longer page, which gram-overlap with large n can dilute
    and which token-boundary shifts never hide).

    The benchmark side is broadcast (eval suites are MB-scale) and the
    corpus scan probes it map-side with a `contains` predicate — a
    nested-loop broadcast join whose cost is corpus_rows x bench_rows
    CHARACTER scans, linear in the corpus with a bench-sized constant.
    No corpus shuffle, no candidate generation: the right production
    shape while benchmarks stay small; gram-based
    :func:`contaminated_ids` is the pre-filter when they don't.
    """
    from awi_datapipelinepublic_spark.functions import text as _X

    probe = corpus.select(
        id_col, _X.normalize_text(text_col).alias("__ctext")
    )
    needles = (
        benchmark.select(_X.normalize_text(text_col).alias("__btext"))
        .filter(F.length("__btext") > 0)
        .distinct()
    )
    hits = probe.join(
        F.broadcast(needles), F.col("__ctext").contains(F.col("__btext")), "inner"
    )
    return hits.select(id_col).distinct()


def negative_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    out_col: str = "neg_id",
) -> DataFrame:
    """Deterministic in-batch negative sampling: for each row, k
    pseudo-random OTHER ids drawn by hashing (id, draw-index) onto a
    dense rank ring — the contrastive-training primitive (one positive
    pair + k negatives) with no RNG state and engine-replayable draws.

    Mechanics: rows get a dense 0..n-1 position by id rank via
    operators/windows.py:global_row_number (one range sort plus
    Spark's distributed sequence — no single-partition window,
    identical values to a sequential window because the id order is
    total); each (id, i<k)
    pair hashes md5(id||'#'||i) to a 32-bit draw, maps it to an OFFSET
    in 1..n-1 (never 0, so a row can't draw itself), and the negative
    is the id at (pos + offset) % n — a ring walk giving uniform
    negatives that are never the anchor itself (two of a row's k draws
    may repeat; that mirrors sampling WITH replacement, the standard
    contrastive setup). The draw join is an equi-join on the position
    key, shuffle-bounded by n x k rows of two longs.
    """
    from awi_datapipelinepublic_spark.operators.windows import global_row_number

    n_total = df.count()
    if n_total < 2:
        raise ValueError("negative_sample needs >= 2 rows")
    pos = global_row_number(
        df.select(id_col), [F.col(id_col)], out_col="__grn"
    ).select(F.col(id_col), (F.col("__grn") - 1).alias("__pos"))
    draws = pos.select(
        F.col(id_col),
        "__pos",
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("draw"),
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#"), F.col("draw").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    target = (F.col("__pos") + (h % (n_total - 1)) + 1) % n_total
    want = draws.withColumn("__tpos", target)
    neg = pos.select(F.col(id_col).alias(out_col), F.col("__pos").alias("__tpos"))
    return (
        want.join(neg, "__tpos")
        .select(id_col, "draw", out_col)
    )


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    lang_threshold: float = 0.08,
    **gopher_bounds,
) -> DataFrame:
    """End-to-end quality curation: language ID → Gopher rule filter →
    exact dedup — the canonical FineWeb/Gopher-style front half of a
    training-data pipeline as ONE composable operator.

    Stage shapes (and why they scale to 100 TB):

    1. lang_id + gopher_rules are pure Column projections over the text
       column — a single scan, no shuffle, codegen-resident; Catalyst
       fuses both filters into the parquet scan stage so rejected
       documents never reach the dedup shuffle.
    2. exact dedup is a groupBy on the md5 fingerprint with map-side
       partial aggregation (operators/dedup.py:exact_dedup rationale) —
       the ONLY shuffle in the pipeline, keyed on a 32-char digest, and
       it runs over the already-filtered survivor set.

    Returns the surviving documents with their fingerprint and the
    per-doc quality signals that justified keeping them. ``passes`` is
    emitted by construction (all survivors pass) and therefore dropped;
    callers wanting reject reasons use gopher_rules directly.
    """
    from awi_datapipelinepublic_spark.functions.text import (
        doc_fingerprint,
        gopher_rules,
        lang_id,
    )

    from awi_datapipelinepublic_spark.functions.parallel import spread_small_input

    rules = gopher_rules(F.col(text_col), **gopher_bounds)
    # spread: the rule projection is a dozen regexp_counts per row and
    # a small parquet arrives as 1-2 input splits — serialized scoring
    # (the same trap as the mapInPandas stages, just codegen-side).
    # Measured sf1: 10.0 s unspread → 5.4 s spread; parallel recompute
    # of the twice-consumed `kept` beats a localCheckpoint (6.4 s).
    df = spread_small_input(df.select(id_col, text_col))
    scored = df.select(
        id_col,
        lang_id(text_col, threshold=lang_threshold).alias("lang_pred"),
        rules["n_words"].alias("n_words"),
        F.round(rules["mean_word_len"], 6).alias("mean_word_len"),
        F.round(rules["alpha_ratio"], 6).alias("alpha_ratio"),
        rules["n_stopwords"].alias("n_stopwords"),
        rules["passes"].alias("__passes"),
        doc_fingerprint(text_col).alias("fingerprint"),
    )
    kept = scored.filter((F.col("lang_pred") == "en") & (F.col("__passes") == 1))
    winners = kept.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return (
        kept.join(winners, ["fingerprint", id_col])
        .select(id_col, "fingerprint", "n_words", "mean_word_len", "alpha_ratio", "n_stopwords")
    )


def pair_retrieval_metrics(
    candidates: DataFrame,
    gold: DataFrame,
    keys: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Precision / recall / F1 of a candidate pair set against a gold
    pair set — the dedup-quality evaluation harness as a first-class
    operator (every LSH/SimHash deployment needs its recall measured
    against an exact-verify sample before the thresholds ship).

    Shape: both inputs reduce to distinct key pairs; hits are a LEFT
    SEMI join (never materializes the pair payload product); the three
    counts are 1-row aggregates crossJoined into one result row — the
    repo's bounded-crossJoin pattern (quality.py:calibrate_scores).
    At 100 TB scale the inputs are pair tables (already bounded by the
    candidate generator's banding), so the whole evaluation is two
    semi/distinct shuffles over two-column rows.
    """
    ks = list(keys)
    cand = candidates.select(*ks).distinct()
    gl = gold.select(*ks).distinct()
    hits = cand.join(gl, ks, "left_semi")
    nc = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    ng = gl.agg(F.count(F.lit(1)).alias("n_gold"))
    nh = hits.agg(F.count(F.lit(1)).alias("n_hits"))
    m = nc.crossJoin(ng).crossJoin(nh)
    p = F.when(F.col("n_candidates") == 0, F.lit(0.0)).otherwise(
        F.col("n_hits").cast("double") / F.col("n_candidates").cast("double")
    )
    r = F.when(F.col("n_gold") == 0, F.lit(0.0)).otherwise(
        F.col("n_hits").cast("double") / F.col("n_gold").cast("double")
    )
    m = m.withColumn("__p", p).withColumn("__r", r)
    f1 = F.when((F.col("__p") + F.col("__r")) == 0, F.lit(0.0)).otherwise(
        F.lit(2.0) * F.col("__p") * F.col("__r") / (F.col("__p") + F.col("__r"))
    )
    return m.select(
        "n_candidates",
        "n_gold",
        "n_hits",
        F.round("__p", 6).alias("prec"),
        F.round("__r", 6).alias("rec"),
        F.round(f1, 6).alias("f1"),
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Sequence-aware LM quality score: each document's mean bigram
    conditional log-probability log p(w2|w1) under the corpus's own
    bigram counts — the next step up from :func:`unigram_logprob`
    toward the KenLM-perplexity filters of CCNet/RefinedWeb. A doc
    whose word ORDER is improbable scores low even when its unigrams
    are common (shuffled/templated text), which the unigram proxy
    cannot see. Scoring the training corpus itself means every doc
    bigram has a nonzero corpus count — no backoff branch needed.

    Scale shape: adjacent pairs via codegen zip_with (no UDF, no HOF
    re-evaluation — the token array is materialized first), then the
    unigram_logprob two-pass pattern twice: pair counts and context
    totals are separate vocabulary-sized groupBys joined back to the
    exploded pair stream on their keys (never broadcast by hand; AQE
    promotes small ones). Final per-doc mean is one groupBy.
    """
    from awi_datapipelinepublic_spark.functions.parallel import spread_small_input
    from awi_datapipelinepublic_spark.functions.text import normalize_text, tokens

    # spread: a small parquet arrives as 1-2 input splits, which
    # serializes the tokenize+explode scan that the three consumers
    # below (pair counts, context counts, scored join) each recompute.
    # Parallel recompute beats a localCheckpoint here (measured sf1:
    # 12.0 s unspread, 3.5 s spread+checkpoint, 3.0 s spread-only —
    # the checkpoint's blocking write costs more than the extra
    # passes at these row counts).
    spread = spread_small_input(df.select(id_col, text_col))
    toks = spread.select(id_col, tokens(normalize_text(text_col)).alias("t"))
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.zip_with(
                    F.slice(F.col("t"), 1, F.size("t") - 1),
                    F.slice(F.col("t"), 2, F.size("t") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    ).withColumn("ctx", F.split_part(F.col("gram"), F.lit(" "), F.lit(1)))
    pc = pairs.groupBy("gram").agg(F.count(F.lit(1)).alias("__pc"))
    ctx = pairs.groupBy("ctx").agg(F.count(F.lit(1)).alias("__cc"))
    scored = (
        pairs.join(pc, "gram")
        .join(ctx, "ctx")
        .select(id_col, F.log(F.col("__pc") / F.col("__cc")).alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("lp"), 6).alias("mean_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


def population_stability(
    ref: DataFrame, cur: DataFrame, bucket_col: str
) -> DataFrame:
    """Population Stability Index between two dataset snapshots over a
    bucket column — the standard data-drift alarm for ML pipelines
    (PSI < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 retrain).

    PSI = Σ_buckets (q_b − p_b)·ln(q_b / p_b) with additive 0.5
    smoothing over the union bucket set (so buckets present in only
    one snapshot contribute a finite, deterministic term instead of a
    division by zero).

    Scale shape: each snapshot reduces to a bucket-cardinality count
    table (map-side combined); the full-outer join and the final sum
    run over buckets, not rows — at 100 TB the operator costs two
    scans and a bucket-sized exchange. The three scalar totals ride
    the bounded-crossJoin pattern.
    """
    r = ref.groupBy(F.col(bucket_col).alias("b")).agg(F.count(F.lit(1)).alias("rc"))
    c = cur.groupBy(F.col(bucket_col).alias("b")).agg(F.count(F.lit(1)).alias("cc"))
    both = (
        r.join(c, "b", "full_outer")
        .select(
            "b",
            F.coalesce("rc", F.lit(0)).alias("rc"),
            F.coalesce("cc", F.lit(0)).alias("cc"),
        )
    )
    tot = both.agg(
        F.sum("rc").alias("rt"), F.sum("cc").alias("ct"), F.count(F.lit(1)).alias("nb")
    )
    terms = both.crossJoin(F.broadcast(tot)).select(
        (
            (
                (F.col("cc") + 0.5) / (F.col("ct") + 0.5 * F.col("nb"))
                - (F.col("rc") + 0.5) / (F.col("rt") + 0.5 * F.col("nb"))
            )
            * F.log(
                ((F.col("cc") + 0.5) / (F.col("ct") + 0.5 * F.col("nb")))
                / ((F.col("rc") + 0.5) / (F.col("rt") + 0.5 * F.col("nb")))
            )
        ).alias("term"),
        F.col("nb"),
    )
    return terms.groupBy("nb").agg(F.round(F.sum("term"), 6).alias("psi")).select(
        F.col("nb").alias("n_buckets"), "psi"
    )


def ks_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between a reference
    and a current numeric column — the distribution-level drift alarm
    that complements :func:`population_stability`: PSI needs a binning
    choice; KS is binning-free (sup over the empirical CDF gap) and is
    the standard two-sample drift test feature stores run.

    Scale design: per-side value counts (two hash groupBys with
    map-side combine — the exchange is DISTINCT-value-sized), a
    full-outer merge on value, then BOTH cumulative counts in one
    two-pass global_running_sums pass (one range-partition shuffle,
    no single-partition window). The statistic itself is computed in
    exact integer arithmetic — max |ca·Nb − cb·Na| over the merged
    value axis, divided once by Na·Nb — so the result is bit-identical
    across engines and association orders. Na·Nb overflows long only
    past ~3·10⁹ rows per side; pre-aggregate or sample above that.

    Output: one row (ks_stat DOUBLE round_dp, n_ref, n_cur BIGINT).
    """
    from awi_datapipelinepublic_spark.operators.windows import global_running_sums

    a = (
        ref.select(F.col(value_col).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("na"))
    )
    b = (
        cur.select(F.col(value_col).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("nb"))
    )
    # DO NOT persist `merged`: global_running_sums consumes its
    # windowed intermediate twice keyed on spark_partition_id, and the
    # two executions stay consistent only because their byte-identical
    # subtrees reuse ONE range exchange. An r12 MEMORY_ONLY persist
    # here made AQE coalesce the two executions to different partition
    # counts at sf0.01 — offsets joined against the wrong pids and the
    # statistic silently corrupted (caught by the oracle gate).
    merged = (
        a.join(b, "v", "full_outer")
        .select(
            "v",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
    )
    cums = global_running_sums(merged, [F.col("v").asc()], ["na", "nb"])
    tot = merged.agg(
        F.sum("na").alias("__Na"), F.sum("nb").alias("__Nb")
    )
    gap = F.abs(
        F.col("na_run") * F.col("__Nb") - F.col("nb_run") * F.col("__Na")
    )
    return (
        cums.crossJoin(F.broadcast(tot))
        .agg(
            F.max(gap).alias("__g"),
            F.first("__Na").alias("n_ref"),
            F.first("__Nb").alias("n_cur"),
        )
        .select(
            # try_divide: an empty reference or current side makes the
            # normalizer 0 — NULL (undefined KS) instead of an ANSI
            # DIVIDE_BY_ZERO crash; matches DuckDB's x/0 → NULL.
            F.round(
                F.try_divide(F.col("__g"), F.col("n_ref") * F.col("n_cur")),
                round_dp,
            ).alias("ks_stat"),
            "n_ref",
            "n_cur",
        )
    )


def mad_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    z_threshold: float = 3.5,
    round_dp: int = 4,
) -> DataFrame:
    """Robust per-group outlier report via median absolute deviation —
    the outlier detector that survives the outliers themselves (mean/
    stddev z-scores are dragged by the very points they should flag;
    median/MAD have a 50% breakdown point). A value is an outlier when
    |x − median| > z_threshold · 1.4826 · MAD (1.4826 scales MAD to σ
    under normality — the standard modified-z-score rule).

    Scale design: two grouped EXACT percentile aggregations (median,
    then median of |x − median| after one broadcast-back join) — each
    is a single hash-partitioned shuffle; the flag count is a third
    map-side-combined groupBy. Exact `percentile` is fine to ~10⁷ rows
    per group; swap `percentile_approx` (t-digest, same call shape)
    beyond that. Integer inputs make every intermediate an exact
    binary double (medians are value-or-midpoint), so the report
    replays bit-identically cross-engine.

    Output: (group, n_rows BIGINT, median DOUBLE, mad DOUBLE,
    n_outliers BIGINT), doubles at ``round_dp``.
    """
    # No forced broadcast on the per-group med/mad tables: they are
    # GROUP-cardinality-sized, and the operator API admits arbitrary
    # group keys — at 100 TB a high-cardinality key would OOM the
    # driver under a hint. AQE promotes to broadcast by MEASURED size
    # when the group count is actually small (the gate's 3 groups are).
    med = df.groupBy(group_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    from pyspark.storagelevel import StorageLevel

    # dev feeds TWO aggregations (the MAD percentile and the flag
    # census); persisting it runs the fact scan + median join once
    # instead of twice (MEMORY_ONLY per the repo cache policy —
    # eviction frees and recomputes, so the 100 TB posture degrades to
    # exactly the unpersisted plan, never to disk accumulation).
    dev = df.join(med, group_col).withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("__med"))
    ).persist(StorageLevel.MEMORY_ONLY)
    mad = dev.groupBy(group_col).agg(
        F.expr("percentile(__adev, 0.5)").alias("__mad")
    )
    flagged = (
        dev.join(mad, group_col)
        .withColumn(
            "__out",
            (
                F.col("__adev")
                > F.lit(z_threshold) * F.lit(1.4826) * F.col("__mad")
            ).cast("int"),
        )
        .groupBy(group_col)
        .agg(
            F.first("n_rows").alias("n_rows"),
            F.round(F.first("__med"), round_dp).alias("median"),
            F.round(F.first("__mad"), round_dp).alias("mad"),
            F.sum("__out").cast("bigint").alias("n_outliers"),
        )
    )
    return flagged


# Benford first-digit expectations log10(1 + 1/d), precomputed in
# Python and injected as LITERALS into both engines: log10 is not
# guaranteed correctly-rounded, so evaluating it engine-side could
# differ at 1 ulp between JVM and libm — identical literals cannot.
BENFORD_EXPECTED = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_digit_test(
    df: DataFrame,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Benford's-law first-digit audit — the classic anomaly/fraud
    screen for naturally-occurring amounts: observed first-digit
    shares vs log10(1+1/d), with each digit's chi-square contribution
    ((obs − n·e)²/(n·e)). Values ≤ 0 are excluded (Benford applies to
    positive magnitudes).

    Scale design: first digit is a string projection (no log/pow on
    the data path), then one 9-ary groupBy with map-side combine —
    the exchange is 9 rows. Expected shares are injected literals
    (see BENFORD_EXPECTED) so both engines compute the identical
    float chain from exact integer counts.

    Output: (digit INT, n BIGINT, observed_p, expected_p, chi2_term
    DOUBLE round_dp).
    """
    first = F.substring(
        F.regexp_replace(F.col(value_col).cast("string"), r"[^1-9]*", ""), 1, 1
    )
    digits = (
        df.filter(F.col(value_col) > 0)
        .select(first.cast("int").alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        # 9 rows feeding two branches (total + report): materialize so
        # the corpus is scanned once
        .localCheckpoint()
    )
    total = digits.agg(F.sum("n").alias("__N"))
    e = F.create_map(
        *[x for d, p in BENFORD_EXPECTED.items() for x in (F.lit(d), F.lit(p))]
    )[F.col("digit")]
    return (
        digits.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("__N"), round_dp).alias("observed_p"),
            F.round(e, round_dp).alias("expected_p"),
            F.round(
                (F.col("n") - F.col("__N") * e)
                * (F.col("n") - F.col("__N") * e)
                / (F.col("__N") * e),
                round_dp,
            ).alias("chi2_term"),
        )
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Exact Gini concentration coefficient over a non-negative integer
    value column: G = (2·Σᵢ i·xᵢ) / (n·Σx) − (n+1)/n with values
    ranked ascending — the inequality/concentration metric paired with
    the revenue_pareto 80/20 report (customer concentration, token
    share across sources).

    Scale design: the rank comes from global_row_number (one range
    sort plus Spark's distributed sequence — no single-partition
    window); Σ i·xᵢ accumulates as DECIMAL(38,0) (i·x exceeds long
    range around 10⁶ rows × 10¹⁰-scale values; decimal sums are exact
    and associative in both engines, the BQ-NUMERIC lesson). One final
    one-row projection does the float division.

    Output: one row (n BIGINT, gini DOUBLE round_dp).
    """
    from awi_datapipelinepublic_spark.operators.windows import global_row_number

    # Single sort key: ties share equal x, so Σ i·x is invariant to
    # how row numbers land within a tie group — no tiebreak needed.
    ranked = global_row_number(
        df.select(F.col(value_col).alias("__x")).filter(F.col("__x") >= 0),
        [F.col("__x").asc()],
        out_col="__i",
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__x").cast("decimal(38,0)")).alias("__sx"),
        F.sum(
            (F.col("__i").cast("decimal(19,0)") * F.col("__x").cast("decimal(19,0)")).cast(
                "decimal(38,0)"
            )
        ).alias("__six"),
    )
    return agg.select(
        "n",
        # try_divide: an all-zero value column has Σx = 0 — plain `/`
        # is a hard DIVIDE_BY_ZERO under the driver's ANSI session;
        # NULL (undefined Gini) matches DuckDB's x/0.
        F.round(
            F.try_divide(
                F.lit(2.0) * F.col("__six").cast("double"),
                F.col("n") * F.col("__sx").cast("double"),
            )
            - F.try_divide(F.col("n") + F.lit(1.0), F.col("n")),
            round_dp,
        ).alias("gini"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams that occur in NO other document — high for
    original prose, near zero for boilerplate/template/mirrored text.
    The per-document complement of :func:`source_overlap`'s
    group-level containment, and the cheap burstiness signal corpus
    curators threshold before the expensive near-dup passes.

    Scale shape: distinct (doc, gram) pairs via the Arrow-batched
    shingler — then ONE count-over-window on the gram key instead of a
    groupBy(gram) + join-back: the join form re-evaluates the shingle
    UDF on BOTH sides (the .explain audit showed two ArrowEvalPython
    passes over the same input), while the window form computes the
    document frequency and keeps the (doc, gram) row in a single pass
    and a single gram-keyed exchange. partitionBy with no orderBy =
    whole-partition frame, so no sort is required. No pair expansion,
    no driver state; every stage is key-partitioned, so the plan is
    unchanged at 10⁹ documents.

    Output: (id_col, n_grams BIGINT, n_novel BIGINT, novelty DOUBLE
    round_dp). try_divide keeps the ratio ANSI-session-proof (n_grams
    ≥ 1 by construction — short docs yield their whole text as one
    gram — but the expression must not rely on that under ANSI).
    """
    from pyspark.sql import Window

    grams = _grams(df, id_col, text_col, n, distinct=True)
    per = grams.withColumn(
        "__docs", F.count(F.lit(1)).over(Window.partitionBy("gram"))
    )
    return (
        per.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("__docs") == 1).cast("int")).cast("bigint").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            F.round(F.try_divide(F.col("n_novel"), F.col("n_grams")), round_dp),
        )
    )


def spearman_corr(
    df: DataFrame,
    col_x: str,
    col_y: str,
    round_dp: int = 6,
) -> DataFrame:
    """Exact Spearman rank correlation between two numeric columns —
    the monotonic-association audit that survives outliers and
    nonlinearity where Pearson lies (price↔quantity sanity checks,
    quality-score↔human-label agreement, feature screening).

    Ranks are AVERAGE ranks with exact tie handling, computed WITHOUT
    a global row-number: per-column distinct-value counts (exchange is
    distinct-value-sized) + the two-pass :func:`global_running_sums`
    prefix (the ks_drift layout), giving each value
    rank2 = 2·cum − c + 1 — TWICE the average rank, an exact integer
    (the 2× cancels in ρ). Rows join back to their two rank tables;
    the five moment sums accumulate as DECIMAL(38,0) (per-row products
    are BIGINT-exact to ~2·10⁹ rows; decimal accumulation is exact at
    any scale), and

        ρ = (n·Sxy − Sx·Sy) / √((n·Sxx − Sx²) · (n·Syy − Sy²))

    is evaluated in DOUBLE on those exact sums — correctly-rounded
    casts, IEEE ·/−/√ — so the rounded result replays bit-for-bit in
    any engine. A constant column (denominator 0) yields NULL via
    try_divide, matching SQL x/0 → NULL.

    Output: one row (n_rows BIGINT, rho DOUBLE at ``round_dp``).
    """
    from awi_datapipelinepublic_spark.operators.windows import global_running_sums

    def rank2_table(col: str, vout: str, rout: str) -> DataFrame:
        # NULLs are excluded EXPLICITLY (not left to engine sort order):
        # Spark windows sort NULLS FIRST, DuckDB's SUM() OVER defaults
        # NULLS LAST — an implicit null group would shift every non-null
        # rank by the null count in one engine but not the other.
        # Spearman is defined over observed (non-null) pairs anyway; the
        # inner join back to rows drops null rows in both engines.
        counts = (
            df.select(F.col(col).alias(vout))
            .filter(F.col(vout).isNotNull())
            .groupBy(vout)
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        cums = global_running_sums(counts, [F.col(vout).asc()], ["__c"])
        return cums.select(
            vout,
            (F.lit(2) * F.col("__c_run") - F.col("__c") + 1).alias(rout),
        )

    rx = rank2_table(col_x, "__vx", "__rx")
    ry = rank2_table(col_y, "__vy", "__ry")
    joined = (
        df.select(F.col(col_x).alias("__vx"), F.col(col_y).alias("__vy"))
        .join(rx, "__vx")
        .join(ry, "__vy")
    )
    s = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("__rx").cast("decimal(38,0)")).alias("__sx"),
        F.sum(F.col("__ry").cast("decimal(38,0)")).alias("__sy"),
        F.sum((F.col("__rx") * F.col("__rx")).cast("decimal(38,0)")).alias("__sxx"),
        F.sum((F.col("__ry") * F.col("__ry")).cast("decimal(38,0)")).alias("__syy"),
        F.sum((F.col("__rx") * F.col("__ry")).cast("decimal(38,0)")).alias("__sxy"),
    )
    n = F.col("n_rows").cast("double")
    sx, sy = F.col("__sx").cast("double"), F.col("__sy").cast("double")
    sxx, syy, sxy = (
        F.col("__sxx").cast("double"),
        F.col("__syy").cast("double"),
        F.col("__sxy").cast("double"),
    )
    return s.select(
        "n_rows",
        F.round(
            F.try_divide(
                n * sxy - sx * sy,
                F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            ),
            round_dp,
        ).alias("rho"),
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: list | None = None,
) -> DataFrame:
    """EXACT weighted quantiles: for each q the smallest value v with
    cumulative weight ≥ q·W (the inverse-CDF lower convention) — the
    size-weighted median/quartiles a curation report needs when rows
    are not equal (token-weighted doc-quality median, spend-weighted
    latency percentiles), which plain ``percentile`` cannot express.

    Determinism contract: quantile fractions are RATIONALS
    (num, den) and the defining predicate is the integer inequality
    den·cumW ≥ num·W — no float CDF, no interpolation, bit-identical
    in any engine. Weights are rounded half-up (floor(w + 1/2)) and
    cast to BIGINT — an explicit rule both engines apply identically,
    rather than relying on engine-specific decimal→int cast semantics
    (Spark truncates, DuckDB rounds; integral weights agree by luck,
    fractional ones would silently diverge). NULL values are excluded
    explicitly — a weighted quantile is over observed values.

    Plan: one groupBy collapses to distinct values (the exchange is
    value-cardinality-sized), cumW rides the two-pass
    :func:`global_running_sums` (no single-partition window), the
    scalar W broadcasts, and each q is answered by a min-aggregate
    over the satisfying suffix — one small shuffle regardless of
    |qs|. Output: (q DOUBLE label, value) per requested quantile.
    """
    from awi_datapipelinepublic_spark.operators.windows import global_running_sums

    if qs is None:
        qs = [(1, 4), (1, 2), (3, 4)]
    counts = (
        df.select(
            F.col(value_col).alias("__v"),
            F.floor(F.col(weight_col) + F.lit(0.5)).cast("bigint").alias("__w"),
        )
        .filter(F.col("__v").isNotNull())
        .groupBy("__v")
        .agg(F.sum("__w").alias("__w"))
    )
    cums = global_running_sums(counts, [F.col("__v").asc()], ["__w"])
    tot = counts.agg(F.sum("__w").alias("__tw"))
    qtab = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(n)).alias("num"),
                    F.lit(int(d)).alias("den"),
                    F.lit(n / d).alias("q"),
                )
                for n, d in qs
            ]
        )
    ).alias("__q")
    return (
        cums.crossJoin(F.broadcast(tot))
        .select("__v", "__w_run", "__tw", qtab)
        .filter(F.col("__q.den") * F.col("__w_run") >= F.col("__q.num") * F.col("__tw"))
        .groupBy(F.col("__q.q").alias("q"))
        .agg(F.min("__v").alias(value_col))
    )


def hhi_concentration(
    df: DataFrame,
    group_col: str,
    member_col: str,
    amount_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per group: HHI =
    Σᵢ shareᵢ² over each member's share of the group total — the
    standard market-concentration / source-dominance audit (a training
    mix where one crawl source carries HHI ≈ 1 is one takedown away
    from an empty shard).

    ``amount_col`` must already be an exact integer (pre-scale money
    to cents/ten-thousandths upstream). Per-member sums are BIGINT;
    their squares accumulate as DECIMAL(38,0) (member sums square past
    BIGINT range long before 100 TB), and HHI = Σs²/ (Σs)² is one
    double division of exact integers — bit-replayable. Plan: two
    map-side-combined groupBys on (group, member) then (group) — the
    fact shuffles once on the composite key, the member table once on
    the group.

    Output: (group, n_members BIGINT, hhi DOUBLE). An all-zero group
    (total 0) yields NULL via try_divide.
    """
    member = df.groupBy(group_col, member_col).agg(
        F.sum(F.col(amount_col).cast("bigint")).alias("__amt")
    )
    g = member.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum(F.col("__amt").cast("decimal(38,0)") * F.col("__amt")).alias("__ss"),
        F.sum(F.col("__amt").cast("decimal(38,0)")).alias("__tot"),
    )
    return g.select(
        group_col,
        "n_members",
        F.round(
            F.try_divide(
                F.col("__ss").cast("double"),
                F.col("__tot").cast("double") * F.col("__tot").cast("double"),
            ),
            round_dp,
        ).alias("hhi"),
    )


def percentile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "pct",
    round_dp: int = 6,
) -> DataFrame:
    """Rank-based percentile normalization within each group: every
    value maps to its AVERAGE-rank percentile ``(2·cum − c + 1)/(2n)``
    in (0, 1) — the distribution-free feature scaling that survives
    outliers and arbitrary marginals where min-max and z-scores do not
    (the rank step of quantile/normal-score transforms).

    Exactness is the spearman_corr layout scoped per group: distinct-
    value counts (exchange is distinct-value-sized), a cumulative sum
    over a KEYED window (partitioned by group — never a global sort),
    rank2 = 2·cum − c + 1 an exact integer, and the percentile one
    double division by 2n. NULL values are excluded EXPLICITLY (rank
    semantics; Spark sorts NULLS FIRST, DuckDB SUM() OVER defaults
    NULLS LAST — an implicit null group would shift every rank).

    Plan: one groupBy(group, value), one window over the group key,
    one join back to rows — the fact shuffles once on (group, value)
    and once on group.
    """
    from pyspark.sql import Window

    base = df.filter(F.col(value_col).isNotNull())
    counts = base.groupBy(group_col, value_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = counts.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__rank2", F.lit(2) * F.col("__cum") - F.col("__c") + 1
    )
    totals = base.groupBy(group_col).agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    return (
        base.join(ranked.select(group_col, value_col, "__rank2"), [group_col, value_col])
        .join(totals, group_col)
        .withColumn(
            out_col,
            F.round(
                F.col("__rank2").cast("double")
                / (F.lit(2.0) * F.col("__n").cast("double")),
                round_dp,
            ),
        )
        .drop("__rank2", "__n")
    )


def trimmed_mean(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_cols: list | None = None,
    trim_bp: int = 1000,
    round_dp: int = 6,
) -> DataFrame:
    """Per-group trimmed mean of an integer-valued measure: drop the
    lowest and highest ``trim_bp`` basis points (default 10% each
    side) of each group's ORDERED rows and average the rest — the
    robust location estimate monitoring dashboards prefer over raw
    means (one fat-fingered price doesn't move the KPI) and over
    medians (still uses the bulk of the data).

    The trim count is exact integer arithmetic: k = (n·trim_bp) DIV
    10000 rows off each end, ranks from the two-pass PARALLEL keyed
    rank (operators/windows.py:grouped_row_number — a plain keyed
    window would funnel each of the handful of groups into one task)
    over the total order (value, then ``order_cols`` tie-breaks —
    deterministic cross-engine), and the kept-range mean is an exact
    BIGINT sum over one double division (the acf_lags replay
    contract). Output is group-cardinality.

    Output: (group, n_total BIGINT, n_kept BIGINT, trimmed_mean
    DOUBLE round_dp).
    """
    from awi_datapipelinepublic_spark.operators.windows import grouped_row_number

    ties = [F.col(c).asc() for c in (order_cols or [])]
    sel = df.select(
        group_col, F.col(value_col).cast("bigint").alias("__v"), *(order_cols or [])
    )
    # grouped_row_number, NOT Window.partitionBy(group): the group
    # column is low-cardinality by design (a handful of flags), so the
    # plain keyed window funnels each group's sort into ONE task
    # (measured 6.8x at a 10x volume step); the two-pass keyed rank
    # stays fully parallel. Group sizes come from a map-side-combined
    # groupBy for the same reason (count().over(partitionBy(g)) has
    # the identical single-task funnel).
    ranked = grouped_row_number(
        sel, [group_col], [F.col("__v").asc(), *ties], out_col="__rn"
    )
    counts = sel.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    k = F.expr(f"(__n * {int(trim_bp)}) div 10000")
    kept = ranked.join(counts, group_col).filter(
        (F.col("__rn") > k) & (F.col("__rn") <= F.col("__n") - k)
    )
    return kept.groupBy(group_col).agg(
        F.max("__n").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.round(
            F.try_divide(
                F.sum("__v").cast("double"), F.count(F.lit(1)).cast("double")
            ),
            round_dp,
        ).alias("trimmed_mean"),
    )


def quantile_mapping(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    source_group: str,
    ref_group: str,
) -> DataFrame:
    """Quantile (CDF) mapping of one group's score distribution onto a
    reference group's — the cross-source calibration step before
    mixing heterogeneously-scored corpora (source A's "0.8 quality"
    and source B's "0.8" mean different things; after mapping, equal
    values mean equal percentile rank in B).

    Pure integer construction — no percentile floats anywhere: row
    ``r`` of A's n_a ordered rows maps to B's row
    ``1 + ((r−1)·(n_b−1)) DIV (n_a−1)`` (endpoints meet endpoints,
    interior ranks land on the floor of the proportional rank), then
    ONE equi-join on that target rank fetches B's value. Both ranks
    ride the two-pass parallel keyed rank (operators/windows.py:
    grouped_row_number — two groups is exactly the regime where a
    plain keyed window serializes); ties order by id.

    Output: (id, value, mapped) — one row per source-group row;
    ``mapped`` is the reference group's value at the matched quantile.
    """
    from awi_datapipelinepublic_spark.operators.windows import grouped_row_number

    base = df.filter(F.col(group_col).isin([source_group, ref_group])).select(
        group_col, F.col(id_col).alias("id"), F.col(value_col).alias("value")
    )
    # Two groups by construction — the low-cardinality regime where a
    # plain keyed window funnels each source's sort into one task;
    # the two-pass keyed rank keeps both distributions parallel at
    # corpus scale (see trimmed_mean).
    ranked = grouped_row_number(
        base, [group_col], [F.col("value").asc(), F.col("id").asc()], out_col="__rn"
    ).join(
        base.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n")), group_col
    )
    a = ranked.filter(F.col(group_col) == source_group)
    b = ranked.filter(F.col(group_col) == ref_group).select(
        F.col("__rn").alias("__rb"),
        F.col("value").alias("mapped"),
        F.col("__n").alias("__nb"),
    )
    nb = b.agg(F.max("__nb").alias("__nbv"))
    target = a.crossJoin(F.broadcast(nb)).withColumn(
        "__rb",
        F.when(F.col("__n") == 1, F.lit(1).cast("bigint")).otherwise(
            F.lit(1)
            + F.expr("((__rn - 1) * (__nbv - 1)) div (__n - 1)")
        ).cast("bigint"),
    )
    return target.join(b.drop("__nb"), "__rb").select("id", "value", "mapped")


def winsorize_by_group(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    trim_bp: int = 1000,
) -> DataFrame:
    """Per-group rank-based winsorization: clip each row's value to
    its group's [k+1, n−k] rank bounds (k = (n·trim_bp) DIV 10000) —
    the grouped, exact-integer companion of :func:`winsorize` (which
    clips at GLOBAL interpolated percentiles): per-segment outlier
    capping before cross-segment comparisons, with bounds that are
    actual observed values, deterministic in any engine.

    Ranks ride the two-pass parallel keyed rank
    (operators/windows.py:grouped_row_number — built for exactly this
    low-cardinality-group regime); the two bound VALUES per group come
    from one group-cardinality aggregate over the ranked table and
    join back (AQE broadcasts them). Ties order by id, so bounds are
    total-order-exact, not value-interpolated.

    Output: (group, id, value, clipped) — one row per input row,
    pure BIGINTs.
    """
    from awi_datapipelinepublic_spark.operators.windows import grouped_row_number

    sel = df.select(
        F.col(group_col),
        F.col(id_col).alias("id"),
        F.col(value_col).cast("bigint").alias("value"),
    )
    ranked = grouped_row_number(
        sel, [group_col], [F.col("value").asc(), F.col("id").asc()], out_col="__rn"
    )
    counts = sel.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    from pyspark.storagelevel import StorageLevel

    # rc feeds the bounds aggregation AND the final clip join; persist
    # so the two-pass rank pipeline executes once (safe: rank OUTPUT,
    # never the rank helper's input — the global_running_sums caller
    # warning). MEMORY_ONLY: eviction recomputes, no disk accretion.
    rc = ranked.join(counts, group_col).persist(StorageLevel.MEMORY_ONLY)
    k = F.expr(f"(__n * {int(trim_bp)}) div 10000")
    bounds = (
        rc.withColumn("__k", k)
        .groupBy(group_col)
        .agg(
            F.max(F.when(F.col("__rn") == F.col("__k") + 1, F.col("value"))).alias(
                "__lo"
            ),
            F.max(F.when(F.col("__rn") == F.col("__n") - F.col("__k"), F.col("value"))).alias(
                "__hi"
            ),
        )
    )
    return (
        rc.join(bounds, group_col)
        .select(
            group_col,
            "id",
            "value",
            F.least(F.greatest(F.col("value"), F.col("__lo")), F.col("__hi")).alias(
                "clipped"
            ),
        )
    )


def chi2_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
    round_dp: int = 6,
) -> DataFrame:
    """Chi-square independence cells for two categorical columns: per
    (a, b) cell the observed count, the expected count under
    independence, and the chi-square contribution
    (O − E)²/E — the contingency diagnostic behind "is event mix
    independent of weekday" / "is language mix independent of source"
    checks, kept PER CELL: the scalar statistic is a sum whose
    floating-point accumulation order differs across engines, so the
    engine emits exact per-cell terms and the consumer sums (cells
    are category-product-bounded, tiny).

    Exactness: contribution = (O·N − r·c)² / (N·r·c) with every
    FIRST-ORDER product an exact DECIMAL(38,0) (counts can be
    10⁹-scale at 100 TB); the SQUARE is taken in DOUBLE — squaring
    the decimal would overflow 38 digits at that scale, while
    double·double of the identical exactly-converted operand is
    bit-reproducible cross-engine — then ONE double division per
    cell, round at the edge. E = r·c/N likewise one division.
    Plan: one cell groupBy (map-side combined) + two
    marginal re-aggregates of the CELL table (category-sized, never
    the fact) + one scalar broadcast.

    Output: (a, b, observed BIGINT, expected DOUBLE, contrib DOUBLE).
    """
    cells = df.groupBy(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("__o"))
    ra = cells.groupBy("a").agg(F.sum("__o").alias("__ra"))
    cb = cells.groupBy("b").agg(F.sum("__o").alias("__cb"))
    n = cells.agg(F.sum("__o").alias("__n"))
    j = cells.join(ra, "a").join(cb, "b").crossJoin(F.broadcast(n))
    num = (F.col("__o") * F.col("__n") - F.col("__ra") * F.col("__cb"))
    return j.select(
        "a",
        "b",
        F.col("__o").cast("bigint").alias("observed"),
        F.round(
            F.try_divide(
                (F.col("__ra") * F.col("__cb")).cast("double"),
                F.col("__n").cast("double"),
            ),
            round_dp,
        ).alias("expected"),
        F.round(
            F.try_divide(
                num.cast("double") * num.cast("double"),
                (F.col("__n") * F.col("__ra") * F.col("__cb")).cast("double"),
            ),
            round_dp,
        ).alias("contrib"),
    )


def length_histogram(
    df: DataFrame,
    group_col: str,
    length_col: str,
) -> DataFrame:
    """Log2-binned length distribution per group (language/source):
    bucket = bit_length(length) − 1 (length 1 → 0, 2-3 → 1, 4-7 → 2,
    …) — the one-page shape audit run before setting min/max length
    filters, per group so a short-form language isn't filtered by a
    long-form language's thresholds. The degree_histogram trick:
    bit length via base-2 string conversion, because floor(log2(n))
    through libm is ±1-ulp-unsafe at exact powers of two across
    engines; string length cannot drift.

    Pure integers; one map-side-combined groupBy; output is
    (groups × ~64) rows. Zero/negative lengths land in bucket −1
    (kept, flagging upstream damage rather than hiding it).

    Output: (group, bucket INT, n_docs BIGINT).
    """
    n = F.col(length_col).cast("bigint")
    bucket = F.when(n <= 0, F.lit(-1)).otherwise(
        (F.length(F.conv(n.cast("string"), 10, 2)) - F.lit(1)).cast("int")
    )
    return (
        df.select(F.col(group_col), bucket.alias("bucket"))
        .groupBy(group_col, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


def simpson_diversity(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Per-group Simpson diversity of a categorical column: the
    probability two draws WITHOUT replacement differ in category —
    1 − Σ c·(c−1) / (n·(n−1)) — the concentration-free twin of
    entropy that needs NO logarithm, so it is cross-engine exact:
    counts stay integers end-to-end and the only float ops are one
    division and one subtraction on identical operands (behavioral
    breadth per user, source mix per shard, label balance per split).

    Plan: two chained groupBys on a shared key prefix — (group, cat)
    partial-agg then group partial-agg — one shuffle keyed on the
    group column; no window, no collect. Sums are DECIMAL(38,0):
    c·(c−1) for a 10¹⁰-row group is 10²⁰, past BIGINT.

    Output: (group, n BIGINT, pair_same DECIMAL — Σc(c−1),
    diversity DOUBLE); groups with n < 2 report NULL diversity.
    """
    c = F.count(F.lit(1)).cast("decimal(38,0)")
    per_cat = df.groupBy(group_col, cat_col).agg(c.alias("__c"))
    g = per_cat.groupBy(group_col).agg(
        F.sum("__c").cast("bigint").alias("n"),
        F.sum(F.col("__c") * (F.col("__c") - 1)).alias("pair_same"),
    )
    n = F.col("n").cast("decimal(38,0)")
    return g.select(
        group_col,
        "n",
        "pair_same",
        F.when(
            F.col("n") >= 2,
            F.lit(1.0)
            - F.col("pair_same").cast("double")
            / (n * (n - 1)).cast("double"),
        ).alias("diversity"),
    )


def odds_ratio(
    df: DataFrame,
    group_col: str,
    exposure: "F.Column",
    outcome: "F.Column",
) -> DataFrame:
    """Per-group 2×2 odds ratio of a boolean outcome vs a boolean
    exposure: OR = (a·d)/(b·c) with a = exposed∧outcome, b =
    exposed∧¬outcome, c = ¬exposed∧outcome, d = neither — the
    epidemiology / feature-association primitive. The four cells are
    exact BIGINT conditional counts in ONE pass (no joins, no
    pivots); the ratio is one double division of two exact integer
    products, so it is engine-reproducible.

    Output: (group, a, b, c, d, or_num, or_den BIGINT,
    odds_ratio DOUBLE — NULL when b·c = 0).
    """
    e = exposure.cast("boolean")
    o = outcome.cast("boolean")
    cell = lambda p: F.sum(F.when(p, 1).otherwise(0)).cast("bigint")  # noqa: E731
    g = df.groupBy(group_col).agg(
        cell(e & o).alias("a"),
        cell(e & ~o).alias("b"),
        cell(~e & o).alias("c"),
        cell(~e & ~o).alias("d"),
    )
    return g.select(
        group_col,
        "a",
        "b",
        "c",
        "d",
        (F.col("a") * F.col("d")).alias("or_num"),
        (F.col("b") * F.col("c")).alias("or_den"),
        F.when(
            F.col("b") * F.col("c") > 0,
            (F.col("a") * F.col("d")).cast("double")
            / (F.col("b") * F.col("c")).cast("double"),
        ).alias("odds_ratio"),
    )


def dispersion_index(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key index of dispersion (variance-to-mean ratio) of an
    integer series — D ≫ 1 flags bursty/overdispersed processes
    (crawler traffic, event floods), D ≈ 1 is Poisson-like. Exact by
    construction: with S = Σx and Q = Σx², sample variance/mean =
    (n·Q − S²) / ((n−1)·S), so both numerator and denominator are
    integers (DECIMAL(38,0) — S² for cent-scale series overflows
    BIGINT) and the only float op is one division.

    Plan: one partial-agg groupBy shuffle on the key; no window.
    Output: (key, n BIGINT, sum_x, d_num, d_den DECIMAL,
    dispersion DOUBLE — NULL when n < 2 or S = 0).
    """
    x = F.col(value_col).cast("decimal(38,0)")
    g = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("sum_x"),
        F.sum(x * x).alias("sum_x2"),
    )
    n = F.col("n").cast("decimal(38,0)")
    d_num = (n * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x"))
    d_den = ((n - 1) * F.col("sum_x"))
    return g.select(
        key_col,
        "n",
        F.col("sum_x").cast("bigint").alias("sum_x"),
        d_num.alias("d_num"),
        d_den.alias("d_den"),
        F.when(
            (F.col("n") >= 2) & (F.col("sum_x") != 0),
            d_num.cast("double") / d_den.cast("double"),
        ).alias("dispersion"),
    )


def grouped_quartiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Exact per-group quartile VALUES at pure-integer ranks — the
    value at rank 1 + ((n−1)·i) DIV 4 of the (value, id) total order
    for i = 1, 2, 3 (the "lower" convention; no interpolation, no
    NTILE engine-convention hazard). The shared kernel behind
    :func:`quartile_skew` and :func:`iqr_outliers`.

    Plan: ranks via the range-partitioned
    :func:`~awi_datapipelinepublic_spark.operators.windows.
    grouped_row_number` — per-group rank selection that stays
    PARALLEL for low-cardinality groups (the r11 trimmed_mean
    lesson) — then three rank-equality joins against the broadcast
    per-group count table.

    Output: (group, n BIGINT, q1, q2, q3 BIGINT — quartile values).
    """
    from awi_datapipelinepublic_spark.operators.windows import grouped_row_number

    v = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("bigint").alias("__v"),
        F.col(id_col).alias("__id"),
    )
    ranked = grouped_row_number(
        v, ["__g"], [F.col("__v").asc(), F.col("__id").asc()], out_col="__qrn"
    )
    counts = v.groupBy("__g").agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    j = ranked.join(F.broadcast(counts), "__g")
    # integer DIV, not float /: the three target ranks
    q = j.withColumn(
        "__r1", F.expr("CAST(1 + ((__n - 1) * 1) DIV 4 AS BIGINT)")
    ).withColumn(
        "__r2", F.expr("CAST(1 + ((__n - 1) * 2) DIV 4 AS BIGINT)")
    ).withColumn(
        "__r3", F.expr("CAST(1 + ((__n - 1) * 3) DIV 4 AS BIGINT)")
    )
    return (
        q.filter(
            (F.col("__qrn") == F.col("__r1"))
            | (F.col("__qrn") == F.col("__r2"))
            | (F.col("__qrn") == F.col("__r3"))
        )
        .groupBy("__g")
        .agg(
            F.max("__n").alias("n"),
            F.max(F.when(F.col("__qrn") == F.col("__r1"), F.col("__v"))).alias("q1"),
            F.max(F.when(F.col("__qrn") == F.col("__r2"), F.col("__v"))).alias("q2"),
            F.max(F.when(F.col("__qrn") == F.col("__r3"), F.col("__v"))).alias("q3"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n",
            F.col("q1").cast("bigint").alias("q1"),
            F.col("q2").cast("bigint").alias("q2"),
            F.col("q3").cast("bigint").alias("q3"),
        )
    )


def quartile_skew(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Bowley (quartile) skewness per group: (q3 + q1 − 2·q2) /
    (q3 − q1) — the outlier-robust skew measure; quartiles are exact
    integer rank picks (:func:`grouped_quartiles`), so the only
    float op is one division of two exact integers.

    Output: (group, n, q1, q2, q3 BIGINT, skew DOUBLE — NULL when
    q3 = q1)."""
    q = grouped_quartiles(df, group_col, value_col, id_col)
    return q.select(
        group_col,
        "n",
        "q1",
        "q2",
        "q3",
        F.when(
            F.col("q3") != F.col("q1"),
            (F.col("q3") + F.col("q1") - 2 * F.col("q2")).cast("double")
            / (F.col("q3") - F.col("q1")).cast("double"),
        ).alias("skew"),
    )


def iqr_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
) -> DataFrame:
    """Tukey-fence outlier census per group: values beyond
    q1 − 1.5·IQR / q3 + 1.5·IQR, counted with PURE INTEGER
    comparisons (2x < 2·q1 − 3·IQR avoids the 1.5 float entirely) —
    the boxplot-whisker audit, engine-exact.

    Plan: :func:`grouped_quartiles` (two-pass parallel ranks), then
    one broadcast join of the tiny per-group fence table back onto
    the fact and a partial-agg count — the fact is scanned twice
    total (once for ranks, once for the census), never sorted twice.

    Output: (group, n BIGINT, q1, q3, iqr BIGINT, n_low, n_high
    BIGINT, outlier_rate DOUBLE)."""
    from pyspark.storagelevel import StorageLevel

    # q is GROUP-cardinality rows but carries the whole two-pass rank
    # pipeline; it feeds the broadcast fence probe AND the final
    # join-back — persist so the rank pipeline runs once, not twice
    # (safe: this is the rank helper's OUTPUT, never its input — see
    # the global_running_sums caller warning).
    q = grouped_quartiles(df, group_col, value_col, id_col).withColumn(
        "iqr", (F.col("q3") - F.col("q1")).cast("bigint")
    ).persist(StorageLevel.MEMORY_ONLY)
    v = df.select(
        F.col(group_col).alias("__g"),
        F.col(value_col).cast("bigint").alias("__v"),
    )
    j = v.join(
        F.broadcast(q.select(F.col(group_col).alias("__g"), "q1", "q3", "iqr")),
        "__g",
    )
    low = 2 * F.col("__v") < 2 * F.col("q1") - 3 * F.col("iqr")
    high = 2 * F.col("__v") > 2 * F.col("q3") + 3 * F.col("iqr")
    cen = j.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(low, 1).otherwise(0)).cast("bigint").alias("n_low"),
        F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("n_high"),
    )
    return (
        cen.join(q.select(group_col, "q1", "q3", "iqr"), cen["__g"] == F.col(group_col))
        .select(
            group_col,
            "n",
            "q1",
            "q3",
            "iqr",
            "n_low",
            "n_high",
            (
                (F.col("n_low") + F.col("n_high")).cast("double")
                / F.col("n").cast("double")
            ).alias("outlier_rate"),
        )
    )


def capture_recapture(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
) -> DataFrame:
    """Lincoln-Petersen population estimate from two overlapping
    captures: N̂ = n₁·n₂ / m (m = keys seen in both) — "how big is
    the true corpus/user base given two partial crawls". Counts are
    exact; the estimate is one double division of integer products.

    Plan: two distinct-key aggregates plus one equi-join intersect
    count — three partial-agg shuffles on the key, output is one row.

    Output: (n_a, n_b, n_both, n_observed BIGINT, estimate DOUBLE —
    NULL when the overlap is empty)."""
    a = df_a.select(F.col(key_col).alias("__k")).distinct()
    b = df_b.select(F.col(key_col).alias("__k")).distinct()
    na = a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b"))
    m = a.join(b, "__k").agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(m))
        .select(
            "n_a",
            "n_b",
            "n_both",
            (F.col("n_a") + F.col("n_b") - F.col("n_both")).alias("n_observed"),
            F.when(
                F.col("n_both") > 0,
                (F.col("n_a") * F.col("n_b")).cast("double")
                / F.col("n_both").cast("double"),
            ).alias("estimate"),
        )
    )


def split_gini(
    df: DataFrame,
    split: "F.Column",
    class_col: str,
) -> DataFrame:
    """Gini impurity of a class column on each side of a boolean
    split — the decision-tree split-quality diagnostic (does
    discount level separate returns?). Per side: 1 − Σ c²/n², with
    Σc² an exact integer sum, so the impurity is one division and
    one subtraction on identical operands.

    Plan: one (side, class) partial-agg groupBy then a side rollup —
    one shuffle keyed on the 2-value side (counts, not rows, move).

    Output: (side INT 0/1, n BIGINT, sum_c2 BIGINT, gini DOUBLE)."""
    s = F.when(split, 1).otherwise(0).cast("int")
    per = df.select(s.alias("side"), F.col(class_col).alias("__c")).groupBy(
        "side", "__c"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    g = per.groupBy("side").agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.sum(F.col("__n") * F.col("__n")).cast("bigint").alias("sum_c2"),
    )
    return g.select(
        "side",
        "n",
        "sum_c2",
        (
            F.lit(1.0)
            - F.col("sum_c2").cast("double")
            / (F.col("n") * F.col("n")).cast("double")
        ).alias("gini"),
    )


def auc_eval(
    df: DataFrame,
    score_col: str,
    label: "F.Column",
) -> DataFrame:
    """Exact ROC-AUC of an INTEGER score against a boolean label via
    the Mann-Whitney U statistic with midrank tie handling:
    AUC = (Σ_pos 2·midrank − n₁(n₁+1)) / (2·n₁·n₀). Doubling the
    midranks keeps every intermediate an exact integer (a tie
    group's 2·midrank = first + last rank); the only float op is the
    final division — cross-engine exact, unlike threshold-sweep
    trapezoid implementations.

    Plan: scores aggregate to (score, n, n_pos) — bounded by distinct
    scores — then ONE two-pass global running sum over that
    aggregate (:func:`~awi_datapipelinepublic_spark.operators.
    windows.global_running_sum`: range-partitioned, no
    single-partition window even when scores are near-unique), and a
    scalar fold. Output: one row (n_pos, n_neg, u2 BIGINT — the
    doubled U numerator, auc DOUBLE)."""
    from awi_datapipelinepublic_spark.operators.windows import global_running_sum

    per = (
        df.select(
            F.col(score_col).cast("bigint").alias("score"),
            F.when(label, 1).otherwise(0).alias("__p"),
        )
        .groupBy("score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__c"),
            F.sum("__p").cast("bigint").alias("__cp"),
        )
    )
    run = global_running_sum(
        per, [F.col("score").asc()], "__c", out_col="__cum"
    )
    # tie group [first, last]: first = cum - c + 1, last = cum;
    # Σ_pos 2·midrank accumulates cp · (first + last)
    agg = run.agg(
        F.sum("__cp").cast("bigint").alias("n_pos"),
        (F.sum("__c") - F.sum("__cp")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("__cp") * (2 * F.col("__cum") - F.col("__c") + 1)
        )
        .cast("bigint")
        .alias("sum2mid"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        (F.col("sum2mid") - F.col("n_pos") * (F.col("n_pos") + 1)).alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            (F.col("sum2mid") - F.col("n_pos") * (F.col("n_pos") + 1)).cast(
                "double"
            )
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double"),
        ).alias("auc"),
    )


def palma_ratio(
    df: DataFrame,
    entity_col: str,
    value_col: str,
) -> DataFrame:
    """Palma inequality ratio over per-entity totals: the top-10%
    share divided by the bottom-40% share — the concentration
    headline that is more robust than Gini to middle-of-distribution
    noise (revenue concentration, token-budget concentration across
    sources). Cut points are PURE INTEGER ranks (k₁₀ = n DIV 10,
    k₄₀ = 4n DIV 10 of the (value DESC, entity ASC) total order);
    sums are exact; the ratio is one double division.

    Plan: per-entity totals (one partial-agg shuffle), ranks via
    :func:`~awi_datapipelinepublic_spark.operators.windows.
    global_row_number` (one range sort plus Spark's distributed
    sequence, no single-partition window), one conditional-sum fold
    against the broadcast count.

    Output: one row — (n, k10, k40, top_sum, bottom_sum BIGINT,
    palma DOUBLE — NULL when the bottom share is 0)."""
    from awi_datapipelinepublic_spark.operators.windows import global_row_number

    per = df.groupBy(F.col(entity_col).alias("__e")).agg(
        F.sum(F.col(value_col).cast("bigint")).cast("bigint").alias("__v")
    )
    ranked = global_row_number(
        per, [F.col("__v").desc(), F.col("__e").asc()], out_col="__prn"
    )
    n_tot = per.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    j = ranked.crossJoin(F.broadcast(n_tot))
    k10 = F.expr("CAST(__n DIV 10 AS BIGINT)")
    k40 = F.expr("CAST((4 * __n) DIV 10 AS BIGINT)")
    agg = j.agg(
        F.max("__n").alias("n"),
        F.max(k10).alias("k10"),
        F.max(k40).alias("k40"),
        F.sum(F.when(F.col("__prn") <= k10, F.col("__v")).otherwise(0))
        .cast("bigint")
        .alias("top_sum"),
        F.sum(
            F.when(F.col("__prn") > F.col("__n") - k40, F.col("__v")).otherwise(0)
        )
        .cast("bigint")
        .alias("bottom_sum"),
    )
    return agg.select(
        "n",
        "k10",
        "k40",
        "top_sum",
        "bottom_sum",
        F.when(
            F.col("bottom_sum") != 0,
            F.col("top_sum").cast("double") / F.col("bottom_sum").cast("double"),
        ).alias("palma"),
    )
