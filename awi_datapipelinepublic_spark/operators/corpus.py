"""Corpus-level analytics for training-data prep: vocabulary heavy
hitters, inverted index construction, and sequence packing.

All three are beyond-reference scale ops (the reference pipeline
stops at warehouse views); they are the standard stages between a
cleaned/deduped corpus and a tokenized training set:

- :func:`heavy_hitters` — exact corpus-wide top-k terms. The shape a
  stopword-list builder / vocab-truncation pass takes.
- :func:`inverted_index` — term → sorted posting list. Powering both
  decontamination lookups and lexical retrieval over the corpus.
- :func:`sequence_pack` — greedy scan-order packing of documents into
  fixed-token-budget blocks, the step that turns documents into
  pretraining sequences.

Scale design notes per function; everything is built-in expressions —
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from awi_datapipelinepublic_spark.functions import text as X
from awi_datapipelinepublic_spark.operators.windows import global_row_number


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
) -> DataFrame:
    """Exact top-k terms by corpus frequency.

    explode → groupBy(term) count (map-side partial agg collapses the
    Zipf head before the shuffle — the heavy hitters are exactly the
    terms that compress best) → TakeOrderedAndProject for the top-k.
    One shuffle; the final ordered limit never materializes the full
    vocabulary on one node.
    """
    return (
        df.select(F.explode(X.tokens(X.normalize_text(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term").asc())
        .limit(k)
    )


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_postings: int | None = None,
) -> DataFrame:
    """term → sorted posting list (+ document frequency).

    Per-doc DISTINCT terms explode to (term, id) pairs; one shuffle on
    term builds each posting list via collect_list (map-side partial).
    Posting lists for stopword-grade terms scale with the corpus —
    ``max_postings`` caps the stored list (slice after sort), keeping
    df exact while bounding state, the standard impact-ordered-index
    compromise; leave None only when a quality gate upstream has
    already dropped stopwords.
    """
    pairs = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(X.tokens(X.normalize_text(text_col)))).alias("term"),
    )
    idx = pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sort_array(F.collect_list(id_col)).alias("postings"),
    )
    if max_postings is not None:
        idx = idx.withColumn("postings", F.slice("postings", 1, max_postings))
    return idx


def sequence_pack(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 2048,
) -> DataFrame:
    """Pack documents into fixed-token-budget training blocks by
    greedy scan order: running token total over ``id_col`` order,
    block = which budget multiple the document's span ends in. A
    document longer than the budget still lands in exactly one block
    (real pipelines chunk first — operators/chunking.py).

    Scale design: ONE global ordering is required by the semantics
    (same as any deterministic packer); it rides
    operators/windows.py:global_running_sum — range-partition sort
    (Spark samples split points, no single-node bottleneck),
    per-partition cumulative sum, broadcast partition offsets — then
    one groupBy(block) with bounded per-block collect_lists (≤ budget
    tokens of text per block). Token counts are integers, so the
    two-pass sum is bit-identical to a sequential window.

    The running sum runs on a SLIM (id, n_tok) projection — the text
    column never enters the range partitioner, so the global sort
    moves ~16-byte rows instead of whole documents (at corpus scale
    the sort's shuffle+spill is payload-bound; this halves text
    movement to the single unavoidable groupBy(block) exchange). The
    block map rejoins text by ``id_col``, which must therefore be
    unique per row (true for any document table; duplicates would
    fan out).
    """
    from awi_datapipelinepublic_spark.operators.windows import global_running_sum

    slim = df.select(F.col(id_col), X.token_count(text_col).alias("__n_tok"))
    cum = global_running_sum(slim, [F.col(id_col)], "__n_tok", out_col="__cum")
    block_map = cum.withColumn(
        "block_id", ((F.col("__cum") - 1) / F.lit(block_tokens)).cast("bigint")
    ).drop("__cum")
    packed = df.select(id_col, text_col).join(block_map, id_col)
    return packed.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__n_tok").alias("n_tokens"),
        F.sort_array(F.collect_list(id_col)).alias(f"{id_col}s"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct(id_col, text_col))),
                lambda s: s[text_col],
            ),
        ).alias(text_col),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Lucene-form BM25 lexical retrieval: score every document
    against ``query_terms``, return the top-k.

    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1);
    score = Σ idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).

    Scale design: the corpus explodes once but is immediately filtered
    to query-term hits (the only rows that shuffle — query terms are a
    handful, so this is a sliver of the corpus); document frequencies
    and the (N, avgdl) scalars broadcast back; one final groupBy(doc)
    sums partial scores and TakeOrderedAndProject keeps the top-k.
    Ordering is on the ROUNDED score (+ id tiebreak) so ranking is
    reproducible across engines/runs at ulp level.
    """
    toks = df.select(F.col(id_col), X.tokens(X.normalize_text(text_col)).alias("__t"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("__N"), F.avg(F.size("__t")).alias("__avgdl")
    )
    hits = (
        toks.select(F.col(id_col), F.size("__t").alias("__dl"), F.explode("__t").alias("term"))
        .filter(F.col("term").isin(list(query_terms)))
        .groupBy(id_col, "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = hits.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("__N") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    norm = F.col("tf") + k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
    return (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__s", idf * F.col("tf") * (k1 + 1) / norm)
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def tfidf_keywords(
    df: DataFrame,
    top_m: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document keyword extraction: the ``top_m`` terms by
    tf·idf (idf = ln(N/df), the classic unsmoothed form).

    One explode → groupBy(doc, term) for tf; term document
    frequencies aggregate once and broadcast back; the per-doc top-m
    is a WindowGroupLimit (bounded per-key buffers, no full per-doc
    sort materialization). Ranking orders on the ROUNDED score + term
    tiebreak for cross-engine reproducibility.
    """
    from pyspark.sql import Window

    pairs = df.select(
        F.col(id_col),
        F.explode(X.tokens(X.normalize_text(text_col))).alias("term"),
    )
    tf = pairs.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.count(F.lit(1)).alias("__N"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        # dfreq is vocabulary-sized (one row per distinct term in the
        # corpus) — unhinted join; AQE broadcasts by measured size at
        # small vocab, shuffles on term otherwise. n_docs is 1 row.
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("__N") / F.col("df")), 6)
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_m)
        .select(id_col, "term", "tfidf", F.col("__rn").alias("rank"))
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    k: int = 60,
    top: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two rankings (hybrid search: lexical
    BM25 list ⊕ dense ANN list): score = Σ_lists 1/(k + rank), a
    score-scale-free combiner — no calibration between BM25 scores
    and cosine similarities is needed, only ranks.

    Inputs carry a ``rank`` column (1-based). The fuse is a full outer
    join of two already-top-n lists — hundreds of rows regardless of
    corpus size; candidate generation upstream (bm25_topk, knn_*) is
    where scale lives. Rounded score + id tiebreak keeps the fused
    order engine-stable.
    """
    a = ranked_a.select(F.col(id_col), F.col("rank").alias("__ra"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("__rb"))
    return (
        a.join(b, id_col, "full_outer")
        .select(
            id_col,
            F.round(
                F.coalesce(1.0 / (k + F.col("__ra")), F.lit(0.0))
                + F.coalesce(1.0 / (k + F.col("__rb")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(top)
    )


def vocab_build(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    max_size: int | None = None,
) -> DataFrame:
    """Tokenizer vocabulary artifact: (token_id, term, freq, doc_freq)
    with deterministic dense ids — the build step every tokenizer /
    embedding-table pipeline runs before training, and the lookup
    table :func:`unigram_logprob`-style scorers consume.

    Ids are assigned by (freq DESC, term ASC) — fully deterministic,
    so re-runs and other engines mint identical ids (no
    StringIndexer-style fit state). min_count drops the Zipf tail
    (typically >90% of distinct terms), which is what makes the
    ordered id assignment cheap: it runs on the SURVIVING vocabulary,
    not the raw term space.

    Scale: explode → one groupBy(term) with map-side combine (the
    Zipf head collapses within partitions) carrying both corpus freq
    and doc freq (count_distinct via per-doc dedup explode). The
    ordered id assignment rides operators/windows.py:
    global_row_number (one range sort plus Spark's distributed
    sequence) — no single-partition window, identical values
    to the sequential window because (freq DESC, term ASC) is a total
    order.
    """
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(X.tokens(X.normalize_text(text_col))).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("freq"),
        F.count_distinct("__doc").alias("doc_freq"),
    )
    kept = counts.filter(F.col("freq") >= min_count)
    out = global_row_number(
        kept, [F.col("freq").desc(), F.col("term").asc()], out_col="__grn"
    ).select(
        (F.col("__grn") - 1).alias("token_id"), "term", "freq", "doc_freq"
    )
    if max_size is not None:
        out = out.filter(F.col("token_id") < max_size)
    return out


def bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_per_context: int | None = None,
) -> DataFrame:
    """Bigram conditional-probability table: (w1, w2, pair_count,
    cond_p = count(w1,w2)/count(w1 ·)) — the sequence-aware companion
    of the unigram LM scorer (operators/quality.py:unigram_logprob)
    and the minimal stand-in for the KenLM-style n-gram quality
    filters of CCNet/RefinedWeb (a document whose bigrams are
    improbable under the corpus LM is boilerplate or gibberish).

    Plan: per-doc adjacent-token pairs via array zip (arrays_zip of
    the token array with itself shifted — pure codegen, no UDF) →
    explode → ONE groupBy(w1, w2) with map-side combine → context
    totals by a second groupBy(w1) joined back (the two-pass
    count+join shape of unigram_logprob: the context-total table is
    vocabulary-sized and NEVER broadcast or windowed over raw pairs).
    cond_p rounds at 9dp for cross-engine hash stability.

    ``top_per_context`` keeps only the k most probable continuations
    per context (rank by count DESC, w2 ASC) — the export shape an
    autocomplete/speculative-decode table wants.
    """
    toks = df.select(X.tokens(X.normalize_text(text_col)).alias("t"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.zip_with(
                    F.slice(F.col("t"), 1, F.size("t") - 1),
                    F.slice(F.col("t"), 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    pc = pc.filter(F.col("pair_count") >= min_count)
    totals = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("__ctx"))
    out = pc.join(totals, "w1").select(
        "w1",
        "w2",
        "pair_count",
        F.round(F.col("pair_count") / F.col("__ctx"), 9).alias("cond_p"),
    )
    if top_per_context is not None:
        w = Window.partitionBy("w1").orderBy(
            F.col("pair_count").desc(), F.col("w2").asc()
        )
        out = (
            out.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= top_per_context)
            .drop("__r")
        )
    return out


def collocations_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 10,
    top_k: int = 50,
) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent word
    pairs whose co-occurrence beats their unigrams' independence
    assumption — the standard phrase-mining signal (new-terminology
    discovery, tokenizer merge candidates).

    PMI = ln( (pair/total_pairs) / ((w1/total_toks)·(w2/total_toks)) ),
    floored by min_count so rare-pair noise never ranks. Shapes: one
    pair groupBy + one token groupBy (both map-side combined), two
    joins of the POST-min_count pair table (bounded) against the
    vocabulary counts, one TakeOrderedAndProject for the top-k (rank
    by PMI desc then words asc — total order, deterministic)."""
    toks_arr = df.select(X.tokens(X.normalize_text(text_col)).alias("t"))
    pairs = toks_arr.select(
        F.explode(
            F.when(
                F.size("t") >= 2,
                F.zip_with(
                    F.slice(F.col("t"), 1, F.size("t") - 1),
                    F.slice(F.col("t"), 2, F.size("t") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("p")
    ).select("p.w1", "p.w2")
    toks = toks_arr.select(F.explode("t").alias("w"))
    pc = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("wc"))
    tot_pairs = pairs.agg(F.count(F.lit(1)).alias("tp"))
    tot_toks = toks.agg(F.count(F.lit(1)).alias("tt"))
    joined = (
        pc.join(wc.select(F.col("w").alias("w1"), F.col("wc").alias("c1")), "w1")
        .join(wc.select(F.col("w").alias("w2"), F.col("wc").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot_pairs))
        .crossJoin(F.broadcast(tot_toks))
    )
    pmi = F.log(
        (F.col("pair_count") / F.col("tp"))
        / ((F.col("c1") / F.col("tt")) * (F.col("c2") / F.col("tt")))
    )
    return (
        joined.select("w1", "w2", "pair_count", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(top_k)
    )


def bpe_top_pairs(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """The counting core of one BPE-training merge round: corpus-wide
    adjacent CHARACTER-pair frequencies inside words, weighted by word
    frequency — the table whose argmax is the next merge (Sennrich et
    al. 2016, the public BPE algorithm).

    Scale design — the word-frequency trick that makes BPE training
    tractable: the corpus first collapses to its DISTINCT-word
    frequency table (one groupBy; Zipf makes this orders of magnitude
    smaller than the token stream), then each distinct word explodes
    to its length−1 adjacent pairs exactly once, weighted by its
    count. Pair extraction is a codegen transform over a character
    sequence (substr — no UDF); the final top-k is
    TakeOrderedAndProject. Integer counts end to end.

    Output: (pair STRING 'a b', n BIGINT) — the top_k pairs by
    weighted count, ties broken by pair text.
    """
    words = (
        df.select(F.explode(X.tokens(X.normalize_text(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .filter(F.length("w") >= 2)
    )
    pairs = words.select(
        "wc",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> concat(substr(w, i, 1), ' ', substr(w, i + 1, 1)))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def vocab_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: cumulative token count vs
    cumulative distinct-type count in document-id order — the
    one-plot corpus fingerprint (a flattening curve means the corpus
    is saturating; a straight log-log line with slope β ≈ 0.5 is
    healthy natural text; near-linear growth flags boilerplate/serial
    IDs inflating the type space).

    The classic formulation is a sequential scan; the scale shape is
    first-occurrence attribution: a type's FIRST document (min doc
    id per term — one groupBy) is where it increments the type count,
    so per-doc new-type counts aggregate distributively and both
    cumulatives ride
    :func:`~awi_datapipelinepublic_spark.operators.windows.global_running_sum`
    (range-partition two-pass — no single-partition window, exact for
    integers). Tokenization is the vocab_build contract
    (normalize + whitespace split), replayed verbatim by the oracle.

    Output: (doc_id, n_tokens, new_types, cum_tokens, cum_types) —
    one row per document, BIGINTs throughout.
    """
    from awi_datapipelinepublic_spark.operators.windows import global_running_sum

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(X.tokens(X.normalize_text(text_col))).alias("term"),
    )
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    first_seen = toks.groupBy("term").agg(F.min("doc_id").alias("doc_id"))
    new_types = first_seen.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_types")
    )
    base = per_doc.join(new_types, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("new_types"), F.lit(0).cast("bigint")).alias("new_types"),
    )
    cum1 = global_running_sum(
        base, [F.col("doc_id").asc()], "n_tokens", out_col="cum_tokens"
    )
    cum2 = global_running_sum(
        cum1, [F.col("doc_id").asc()], "new_types", out_col="cum_types"
    )
    return cum2.select(
        "doc_id", "n_tokens", "new_types", "cum_tokens", "cum_types"
    )


def vocab_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    round_dp: int = 6,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: for every source
    pair, |V_a ∩ V_b| / |V_a ∪ V_b| over their DISTINCT token sets —
    the corpus-mixing diagnostic that says which sources duplicate
    each other's lexicon (near-1 pairs are redundant mixture
    components; near-0 pairs add coverage). Complements source_overlap
    (document containment) at the vocabulary level.

    Plan: tokens dedupe to (source, term) first — all pair math runs
    on the vocabulary table, never raw tokens; the term self-join
    fans out at most C(sources, 2) pairs PER TERM (source count is
    contract-small), one pair groupBy with map-side combine, sizes
    join back twice. Jaccard is one double division of exact BIGINTs.

    Output: (source_a, source_b, inter BIGINT, union_ BIGINT,
    jaccard DOUBLE) with source_a < source_b.
    """
    toks = df.select(
        F.col(group_col).alias("__g"),
        F.explode(X.tokens(X.normalize_text(text_col))).alias("term"),
    ).distinct()
    sizes = toks.groupBy("__g").agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    a = toks.select(F.col("__g").alias("source_a"), "term")
    b = toks.select(F.col("__g").alias("source_b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("__g", "source_a"), "source_a")
        .withColumnRenamed("__n", "__na")
        .join(sizes.withColumnRenamed("__g", "source_b"), "source_b")
        .withColumnRenamed("__n", "__nb")
        .select(
            "source_a",
            "source_b",
            "inter",
            (F.col("__na") + F.col("__nb") - F.col("inter")).alias("union_"),
            F.round(
                F.try_divide(
                    F.col("inter").cast("double"),
                    (F.col("__na") + F.col("__nb") - F.col("inter")).cast("double"),
                ),
                round_dp,
            ).alias("jaccard"),
        )
    )


def ttr_by_group(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    round_dp: int = 6,
) -> DataFrame:
    """Type-token ratio per group: distinct terms / total tokens —
    the classic lexical-diversity screen (template/boilerplate
    sources score low TTR; natural prose scores high for its size).
    Compare :func:`vocab_growth`, which tracks the corpus-WIDE type
    accumulation curve; this is the per-source scalar mixture reports
    want.

    One explode + two map-side-combined aggregates over the same
    (group, term) shuffle key; the ratio is one double division of
    exact BIGINTs. Output is group-cardinality.

    Output: (group, n_tokens BIGINT, n_types BIGINT, ttr DOUBLE).
    """
    toks = df.select(
        F.col(group_col),
        F.explode(X.tokens(X.normalize_text(text_col))).alias("term"),
    )
    agg = toks.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.count_distinct("term").cast("bigint").alias("n_types"),
    )
    return agg.select(
        group_col,
        "n_tokens",
        "n_types",
        F.round(
            F.try_divide(
                F.col("n_types").cast("double"), F.col("n_tokens").cast("double")
            ),
            round_dp,
        ).alias("ttr"),
    )


def char_ngram_topk(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k character n-grams per group over normalized text — the
    language-fingerprint profile (lang-ID models, encoding-anomaly
    detection, boilerplate signatures are all char-n-gram consumers).
    Normalization is the shared :func:`~awi_datapipelinepublic_spark.
    functions.text.normalize_text` contract (lowercase, collapse
    whitespace, trim), n-grams overlap and INCLUDE spaces (word
    boundaries are the most discriminative chars).

    Plan: grams come from a Catalyst higher-order ``transform`` over
    an index ``sequence`` (JVM-side, no Python; the transient array is
    O(text length) per row — chunk pathological documents upstream),
    then explode → (group, gram) partial-agg groupBy → per-group
    rank via a WindowGroupLimit-eligible row_number ≤ k over the
    (freq DESC, gram ASC) deterministic order. Group cardinality is
    small (languages), but the WINDOW input is the bounded per-group
    gram vocabulary (≤ alphabet^n), never the corpus — no
    grouped_row_number needed.

    Output: (group, gram, freq BIGINT, rank INT), rank 1..k.
    """
    from pyspark.sql import Window

    norm = X.normalize_text(text_col)
    # No pre-filter on length: a `.filter(length(__t) >= n)` gets
    # pushed below the projection and re-evaluates the normalize
    # regexp chain once in the Filter and again in the Project (the
    # CollapseProject re-inline gotcha) — the CASE inside the explode
    # makes short docs yield an empty array (explode drops the row),
    # so normalization runs exactly once per document. Same rows out;
    # the CASE also guards sequence(1, len-n+1) from the descending-
    # sequence hazard when len < n.
    grams = (
        df.select(F.col(group_col).alias("g"), norm.alias("__t"))
        .select(
            "g",
            F.explode(
                F.expr(
                    f"CASE WHEN length(__t) >= {n} THEN "
                    f"transform(sequence(1, length(__t) - {n - 1}),"
                    f" i -> substring(__t, i, {n})) "
                    f"ELSE array() END"
                )
            ).alias("gram"),
        )
    )
    counts = grams.groupBy("g", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    w = Window.partitionBy("g").orderBy(F.col("freq").desc(), F.col("gram").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("g").alias(group_col), "gram", "freq", F.col("rank").cast("int"))
    )


def chao1_richness(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Chao1 vocabulary-richness estimate per group: V̂ = V +
    f₁(f₁−1) / (2(f₂+1)) from the singleton/doubleton frequency-of-
    frequencies — "how much vocabulary have we NOT crawled yet", the
    coverage-planning twin of :func:`vocab_growth`; plus the
    Good-Turing singleton share f₁/N (the probability the next token
    is unseen). Every count is an exact integer; each estimate is a
    fixed two-or-three-float-op formula on those integers.

    Plan: token counts per (group, term) — one shuffle with map-side
    combine — then a frequency-of-frequencies rollup per group
    (bounded by distinct counts, tiny). Tokenization is the shared
    normalize+split contract (:func:`vocab_overlap`).

    Output: (group, n_tokens, vocab, f1, f2 BIGINT, chao1 DOUBLE,
    singleton_share DOUBLE)."""
    tc = (
        df.select(
            F.col(group_col).alias("__g"),
            F.explode(X.tokens(X.normalize_text(text_col))).alias("term"),
        )
        .groupBy("__g", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    g = tc.groupBy("__g").agg(
        F.sum("__c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("__c") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("__c") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    )
    return g.select(
        F.col("__g").alias(group_col),
        "n_tokens",
        "vocab",
        "f1",
        "f2",
        (
            F.col("vocab").cast("double")
            + (F.col("f1") * (F.col("f1") - 1)).cast("double")
            / (2 * (F.col("f2") + 1)).cast("double")
        ).alias("chao1"),
        (F.col("f1").cast("double") / F.col("n_tokens").cast("double")).alias(
            "singleton_share"
        ),
    )
