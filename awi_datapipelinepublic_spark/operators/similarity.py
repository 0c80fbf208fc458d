"""Approximate-nearest-neighbor search over an embedding column.

Two tiers (SURVEY.md §7 step 7 / task brief):

- ``knn_brute_force``: exact cosine top-k. One scan + projection +
  TakeOrderedAndProject (true top-k, never a full sort). This is the
  baseline and the verify oracle for the approximate path.
- ``lsh_bucket`` + ``knn_lsh``: random-hyperplane (sign) LSH. Each
  vector gets an h-bit bucket id from the signs of h fixed
  hyperplane dot products; queries probe their own bucket (optionally
  multi-probe neighbors). At 100 TB the bucket id is a partition key:
  candidate generation touches 1/2^h of the data per probe.

Hyperplanes are generated from a fixed numpy seed and inlined as
array literals — deterministic across runs/engines, no fit/state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F



def _hyperplanes(dim: int, h: int, seed: int = 42) -> list[list[float]]:
    """Deterministic md5-derived hyperplanes, uniform in [-1, 1).

    Each component is the first 4 md5 bytes of a fixed tag scaled by
    2^-31 — an EXACT dyadic rational, so DuckDB rebuilds the identical
    matrix from the same tags (``('0x'||substr(md5(tag),1,8))::UBIGINT
    / 2147483648.0 - 1.0``) and sign-LSH bucket assignment replays
    bit-for-bit cross-engine: the same portability move that graduated
    MinHash and SimHash from rows-only driver checks. For sign-LSH the
    normal's direction only needs a symmetric-about-zero distribution;
    uniform-on-the-cube components preserve the similarity-sensitive
    property (recall floors pinned in tests/test_analytics_ops.py and
    tests/test_operators.py), while gaussian normals (the textbook
    choice with the exact 1−θ/π collision rate) would need an
    erf-inverse DuckDB cannot evaluate identically."""
    import hashlib

    return [
        [
            int.from_bytes(
                hashlib.md5(f"lsh-{seed}-{i}-{j}".encode()).digest()[:4], "big"
            )
            / 2147483648.0
            - 1.0
            for j in range(dim)
        ]
        for i in range(h)
    ]


def _cosine_to_query_udf(query_vec: list[float]):
    """Arrow-vectorized cosine against a fixed query vector.

    Dense vector math is the one place the built-in path loses:
    higher-order functions (zip_with/aggregate) are excluded from
    whole-stage codegen and run interpreted per element — measured 3×
    slower than this numpy matmul over Arrow batches, and even slower
    than a row-at-a-time Python UDF (micro_bench.py, SCALING.md).
    """
    from pyspark.sql.types import DoubleType

    q = np.asarray(query_vec, dtype=float)
    qn = float(np.linalg.norm(q))

    @F.pandas_udf(DoubleType())
    def cos(col: pd.Series) -> pd.Series:
        m = np.stack(col.values).astype(float)
        d = np.linalg.norm(m, axis=1) * qn
        safe = np.where(d == 0, 1.0, d)
        return pd.Series(np.where(d == 0, 0.0, (m @ q) / safe))

    return cos


def knn_brute_force(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine to a single query vector.

    Scoring is the Arrow-vectorized UDF (see _cosine_to_query_udf for
    why it beats the built-in HOF path); orderBy(...).limit(k) plans as
    TakeOrderedAndProject: each partition keeps a k-heap, driver
    merges — no global sort, no single-partition shuffle. Ties broken
    by id for determinism.
    """
    cos = _cosine_to_query_udf(query_vec)
    scored = emb.select(
        F.col(id_col),
        F.round(cos(F.col(vec_col)), 6).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)


def lsh_bucket(
    emb: DataFrame,
    dim: int,
    h: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    out_col: str = "bucket",
) -> DataFrame:
    """Append an h-bit sign-LSH bucket id (0 .. 2^h−1).

    One Arrow-batched matmul against the (h, dim) hyperplane matrix
    carried as a closure constant. The earlier all-JVM form inlined
    h·dim literal floats into the plan (8×64 = 512 literals inside
    zip_with/aggregate lambdas); the literal-heavy tree cost more in
    analysis/codegen than the whole job's execution, and HOF lambdas
    run interpreted anyway (micro_bench.py). Constants-in-closure keeps
    the plan O(1) regardless of h and dim.

    Writing the table partitioned/bucketed by this column makes ANN
    probes partition-pruned scans.
    """
    import pandas as pd  # noqa: F811 — self-contained for cloudpickle
    from pyspark.sql.types import LongType

    P = np.asarray(_hyperplanes(dim, h, seed), dtype=float)
    powers = (1 << np.arange(h)).astype(np.int64)

    @F.pandas_udf(LongType())
    def bucket_of(col: pd.Series) -> pd.Series:
        m = np.stack(col.values).astype(float)
        # 9dp rounding before the sign test — the ivf_assign
        # cross-engine determinism contract: numpy and DuckDB sum the
        # projection in different orders, so a raw double within 1 ulp
        # of zero could flip a bit between engines.
        bits = np.round(m @ P.T, 9) >= 0
        return pd.Series((bits @ powers).astype("int64"))

    return emb.withColumn(out_col, bucket_of(F.col(vec_col)))


def _probe_masks(h: int, multiprobe_bits: int) -> list[int]:
    """All XOR masks of popcount ≤ multiprobe_bits over h bits,
    ascending popcount then value: [0] (the own bucket), every 1-bit
    flip, every 2-bit flip, ... Distinct masks guarantee distinct probe
    buckets, so multiprobe never duplicates a candidate pair."""
    from itertools import combinations

    masks = [0]
    for nbits in range(1, max(0, multiprobe_bits) + 1):
        masks.extend(
            sum(1 << i for i in c) for c in combinations(range(h), nbits)
        )
    return masks


def _topk_per_left(pairs: DataFrame, k: int) -> DataFrame:
    """Rank candidate pairs per left id on the ROUNDED score (both
    engines rank identical 6dp values, so the (cos, b_id) tiebreak is
    cross-engine deterministic); rank<=k filter plans as
    WindowGroupLimit — a per-group k-heap pushed below the final
    shuffle, never a global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), F.col("b_id").asc())
    return (
        pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select("a_id", "b_id", "cos")
    )


def knn_join_brute(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 200_000,
    exclude_match_col: str | None = None,
) -> DataFrame:
    """Exact all-pairs kNN join: for EVERY vector, its top-k cosine
    neighbors (a_id, b_id, cos). Exact — so the comparison side must be
    bounded: the whole right matrix is collected at CONSTRUCTION time
    (this function triggers a count + collect job eagerly, before the
    returned DataFrame is ever executed) and shipped to executors; one
    blocked matmul per Arrow batch scores it against the streamed left
    side. That is the right plan for eval sets and per-cluster
    refinement (thousands-to-millions of vectors); n² pair ROWS never
    exist anywhere — each batch keeps only its k-heap. For an unbounded
    corpus use :func:`knn_join_lsh`.

    ``max_rows`` guards the collect: a count runs first and anything
    over the bound raises instead of silently pulling an unbounded
    corpus through the driver (200k × 64-dim float64 ≈ 100 MB — the
    practical ceiling for a matrix every executor must hold). The
    matrix rides in the UDF closure (torrent-broadcast with the task
    binary and garbage-collected with it), not an explicit
    SparkContext broadcast — repeated calls in a long session leave no
    accumulating broadcast blocks behind.

    (A crossJoin + WindowGroupLimit form was measured 16× slower at
    2k×2k: 4M pair rows × two 64-float arrays through the shuffle and
    Arrow boundary, vs one broadcast matrix and zero pair
    materialization here.)

    Ranking matches the cross-engine contract: 6dp-rounded cosine
    desc, then neighbor id asc — identical to the DuckDB
    QUALIFY-row_number oracle.
    """
    import pandas as pd  # noqa: F811 — self-contained for cloudpickle

    n = emb.count()
    if n > max_rows:
        raise ValueError(
            f"knn_join_brute: input has {n} rows, over the max_rows={max_rows} "
            "bound for the collected exact path — use knn_join_lsh for "
            "unbounded corpora (or raise max_rows deliberately)."
        )
    side_cols = [id_col, vec_col] + ([exclude_match_col] if exclude_match_col else [])
    rows = emb.select(*side_cols).collect()
    ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    M = np.stack([np.asarray(r[vec_col], dtype=float) for r in rows])
    # exclude_match_col values are mapped to integer codes driver-side
    # (np.unique) so the kernel's mask is one int comparison plane —
    # works for any value type without shipping objects to workers.
    if exclude_match_col:
        ex_vals = np.array([r[exclude_match_col] for r in rows])
    else:
        ex_vals = None
    # Right side sorted by id so a column index doubles as the id rank:
    # the (cos desc, b_id asc) ranking contract then collapses into ONE
    # int64 composite key, keyed top-k via argpartition — fully
    # vectorized. (The first form looped rows in Python with a full
    # n-candidate lexsort per row, O(n² log n) per batch; the sweep
    # measured it dominating the matmul ~7:1 at 20k×20k.)
    order0 = np.argsort(ids, kind="stable")
    ids, M = ids[order0], M[order0]
    if ex_vals is not None:
        uniq, ex_codes = np.unique(ex_vals[order0], return_inverse=True)
        code_of = {v: i for i, v in enumerate(uniq.tolist())}
        ex_codes = ex_codes.astype(np.int64)
    else:
        ex_codes, code_of = None, None
    Mn = np.linalg.norm(M, axis=1)
    Mn[Mn == 0] = 1.0

    def topk(batches):
        b_ids, bM, bMn = ids, M, Mn
        nb = b_ids.shape[0]
        # sentinel below any real key (|key| ≤ 1e6·nb ≪ 2^62) — NOT
        # int64 min, whose negation overflows back to itself and would
        # make every self-match the BEST key under argpartition(-key).
        neg_inf = -(2**62)
        kk = min(k, nb - 1)
        # Block the left side so the (block × nb) sims/key planes stay
        # ~100s of MB regardless of the Arrow batch size the session
        # is configured with.
        blk = max(1, min(4096, (8 << 20) // max(nb, 1)))
        for pdf in batches:
            if kk <= 0:
                empty = np.empty(0, dtype=np.int64)
                yield pd.DataFrame({"a_id": empty, "b_id": empty, "cos": np.empty(0)})
                continue
            for lo in range(0, len(pdf), blk):
                chunk = pdf.iloc[lo : lo + blk]
                A = np.stack(chunk[vec_col].values).astype(float)
                An = np.linalg.norm(A, axis=1)
                An[An == 0] = 1.0
                sims = np.round((A @ bM.T) / (An[:, None] * bMn[None, :]), 6)
                a_ids = chunk[id_col].to_numpy(dtype=np.int64)
                # composite key: 6dp cosine (int) scaled past the
                # column range, minus the id rank — larger key ⇔
                # (cos desc, b_id asc); keys are unique per
                # (cos, b_id) so ties can never straddle an
                # argpartition boundary.
                c6 = np.rint(sims * 1e6).astype(np.int64)
                key = c6 * nb - np.arange(nb, dtype=np.int64)[None, :]
                # self-match mask via binary search into the sorted ids
                pos = np.searchsorted(b_ids, a_ids)
                rix = np.arange(len(a_ids))
                hit = (pos < nb) & (b_ids[np.minimum(pos, nb - 1)] == a_ids)
                key[rix[hit], pos[hit]] = neg_inf
                if ex_codes is not None:
                    # mask every candidate sharing the anchor's
                    # exclude value (hard-negative mining: same-label
                    # neighbors are not negatives). Unseen anchor
                    # values (-1) match no candidate code.
                    a_codes = np.array(
                        [code_of.get(v, -1) for v in chunk[exclude_match_col]],
                        dtype=np.int64,
                    )
                    key[a_codes[:, None] == ex_codes[None, :]] = neg_inf
                sel = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
                sel = np.take_along_axis(
                    sel,
                    np.argsort(-np.take_along_axis(key, sel, axis=1), axis=1),
                    axis=1,
                )
                keys_sel = np.take_along_axis(key, sel, axis=1)
                valid = (keys_sel > neg_inf).ravel()
                yield pd.DataFrame(
                    {
                        "a_id": np.repeat(a_ids, kk)[valid],
                        "b_id": b_ids[sel].ravel()[valid],
                        "cos": np.take_along_axis(sims, sel, axis=1).ravel()[valid],
                    }
                )

    # The left side is embarrassingly parallel (each row's top-k is
    # independent) but a small parquet lands in 1-2 input splits, so
    # one Python worker would do the whole matmul. Round-robin it at
    # ~128 left rows per slice (capped at 8 slices/core): n=20k on 32
    # cores → 156 tasks, measured 70.8 s → 5.4 s; tiny inputs keep
    # few partitions so scheduling never dominates.
    spark = emb.sparkSession
    nparts = max(spark.sparkContext.defaultParallelism, 1)
    slices = max(1, min(nparts * 8, n // 128))
    return (
        emb.select(*side_cols)
        .repartition(slices)
        .mapInPandas(topk, schema="a_id long, b_id long, cos double")
    )


def auto_code_length(n: int, target_bucket_rows: int = 32) -> int:
    """LSH code length holding E[|bucket|] ≈ target_bucket_rows:
    ``clamp(ceil(log2(n / target)), 4, 24)``. Doubling the corpus adds
    one bit — candidate pairs stay ≈ n·probes·target, linear in n,
    where any fixed h is pairs ≈ probes·n²/2^h, quadratic."""
    import math

    return min(24, max(4, math.ceil(math.log2(max(n, 2) / max(target_bucket_rows, 1)))))


def knn_join_lsh(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    h: int | None = None,
    seed: int = 42,
    multiprobe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_bucket_rows: int = 32,
) -> DataFrame:
    """Approximate all-pairs kNN join — the 100 TB path. Both sides get
    the same h-bit sign-LSH bucket; candidates are generated by an
    EQUI-join on the bucket id (shuffle hash-partitioned by bucket, no
    cross join anywhere), so pair count is bucket-bounded: Σ|bucket|²
    instead of n². Multiprobe explodes ONLY the left side to its own
    bucket XORed with every mask of popcount ≤ ``multiprobe_bits``
    (Σ_{j≤m} C(h,j) probes, all distinct masks → all distinct
    buckets); the right side keeps one bucket per row, so a given
    (a, b) pair can match in at most one probe bucket — no pair-dedup
    pass is needed between the join and the ranking.

    ``h=None`` (the default) sizes the code length from the corpus:
    ``h = clamp(ceil(log2(n / target_bucket_rows)), 4, 24)``, which
    holds E[|bucket|] ≈ target_bucket_rows so candidate pairs stay
    ≈ n·probes·target — LINEAR in n. A fixed h is quadratic in
    disguise (pairs ≈ probes·n²/2^h): the sf0.1→sf1 scaling sweep
    measured exactly that — 1.9 s → 183 s at 10× rows with h=6 —
    which is why auto-sizing is the default; pass an explicit h only
    for pinned-recall experiments at a known scale. The one count()
    the auto path adds is parquet-metadata-only.

    Recall vs :func:`knn_join_brute` is bounded in tests; since the
    round-4 md5-derived hyperplanes + 9dp-rounded sign bits, bucket
    membership replays exactly in DuckDB and the driver row is
    hash-verified.
    """
    if h is None:
        h = auto_code_length(emb.count(), target_bucket_rows)
    bucketed = lsh_bucket(emb, dim, h, seed, vec_col=vec_col).select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_vec"), "bucket"
    )
    masks = _probe_masks(h, multiprobe_bits)
    if len(masks) > 1:
        probes = F.array(
            *[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks]
        )
        left = bucketed.select("a_id", "a_vec", F.explode(probes).alias("bucket"))
    else:
        left = bucketed
    right = lsh_bucket(emb, dim, h, seed, vec_col=vec_col).select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_vec"), "bucket"
    )

    # Score per BUCKET with a cogrouped matmul, not per pair row: the
    # earlier bucket equi-join materialized BOTH 64-float vectors on
    # every candidate pair (≈ n·probes·bucket rows through the shuffle
    # and Arrow boundary — ~4.5 GB at sf1); cogrouping ships each
    # vector across the boundary ONCE PER ROW, runs one blocked
    # matmul per bucket, and emits only (a_id, b_id, cos) candidate
    # triples, pre-cut to k per left row per bucket. Compute is the
    # same Σ|bucket|² either way; the boundary traffic is ~probes·k×
    # smaller. Left chunks are blocked so a degenerate mega-bucket
    # bounds its sims plane instead of allocating m×n at once.
    import pandas as pd  # noqa: F811 — self-contained for cloudpickle

    def bucket_topk(lpdf, rpdf):
        if len(lpdf) == 0 or len(rpdf) == 0:
            empty = np.empty(0, dtype=np.int64)
            return pd.DataFrame({"a_id": empty, "b_id": empty, "cos": np.empty(0)})
        order0 = np.argsort(rpdf["b_id"].to_numpy(dtype=np.int64), kind="stable")
        b_ids = rpdf["b_id"].to_numpy(dtype=np.int64)[order0]
        B = np.stack(rpdf["b_vec"].values)[order0].astype(float)
        Bn = np.linalg.norm(B, axis=1)
        Bn[Bn == 0] = 1.0
        nb = b_ids.shape[0]
        kk = min(k, nb)
        neg_inf = -(2**62)  # safely negatable (see knn_join_brute)
        outs = []
        blk = max(1, min(4096, (4 << 20) // nb))
        for lo in range(0, len(lpdf), blk):
            chunk = lpdf.iloc[lo : lo + blk]
            A = np.stack(chunk["a_vec"].values).astype(float)
            An = np.linalg.norm(A, axis=1)
            An[An == 0] = 1.0
            sims = np.round((A @ B.T) / (An[:, None] * Bn[None, :]), 6)
            a_ids = chunk["a_id"].to_numpy(dtype=np.int64)
            c6 = np.rint(sims * 1e6).astype(np.int64)
            key = c6 * nb - np.arange(nb, dtype=np.int64)[None, :]
            pos = np.searchsorted(b_ids, a_ids)
            rix = np.arange(len(a_ids))
            hit = (pos < nb) & (b_ids[np.minimum(pos, nb - 1)] == a_ids)
            key[rix[hit], pos[hit]] = neg_inf
            sel = np.argpartition(-key, kk - 1, axis=1)[:, :kk] if kk < nb else (
                np.argsort(-key, axis=1)
            )
            selkey = np.take_along_axis(key, sel, axis=1)
            sel = np.take_along_axis(sel, np.argsort(-selkey, axis=1), axis=1)
            keep = np.take_along_axis(key, sel, axis=1).ravel() > neg_inf
            outs.append(
                pd.DataFrame(
                    {
                        "a_id": np.repeat(a_ids, sel.shape[1])[keep],
                        "b_id": b_ids[sel].ravel()[keep],
                        "cos": np.take_along_axis(sims, sel, axis=1).ravel()[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    cand = (
        left.groupBy("bucket")
        .cogroup(right.groupBy("bucket"))
        .applyInPandas(bucket_topk, schema="a_id long, b_id long, cos double")
    )
    return _topk_per_left(cand, k)


def ivf_assign(
    emb: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "cluster",
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """IVF coarse quantizer: deterministic centroid pick (every
    ⌈n/k⌉-th vector by id — reproducible without a kmeans fit; swap in
    sampled kmeans centroids for clustered real data) + one
    nearest-centroid assignment pass.

    Returns (assigned_df, centroids). Assignment is a pure projection:
    k dot products per row against broadcast centroid literals — no
    shuffle. Writing the table partitioned by ``cluster`` makes each
    probe a pruned scan of ~nprobe/k of the corpus.
    """
    # Centroid pick never collects the id column (at 100 TB that is the
    # whole key space): count once, then a modulo filter + bounded limit
    # brings back exactly n_clusters rows.
    n = emb.count()
    step = max(1, n // n_clusters)
    cent_rows = (
        emb.filter(F.col(id_col) % step == 0)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_clusters)
        .collect()
    )
    if not cent_rows:
        # ids with no multiple of step (sparse/offset key spaces): the
        # modulo pick is the cross-engine replay contract, so fail
        # loudly rather than silently changing the centroid rule.
        raise ValueError(
            "ivf_assign: no id divisible by the centroid step "
            f"({step}) — the deterministic pick needs dense-ish integer "
            "ids (testdata contract); remap ids or pass explicit "
            "n_clusters <= distinct ids"
        )
    centroids = [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(sorted(cent_rows, key=lambda r: r[id_col]))]

    # Nearest-centroid argmax as ONE Arrow matmul against the (k, dim)
    # centroid matrix held in the UDF closure. Two rejected forms:
    # a nested when() chain embeds the running best twice per level
    # (2^k expression growth — 16 centroids hung codegen), and an
    # array-of-HOF-cosines form inlines k·dim literals (16×64 = 1024)
    # whose analysis/codegen time dwarfed execution on real plans.
    from pyspark.sql.types import IntegerType

    C = np.asarray([cvec for _, cvec in centroids], dtype=float)
    Cn = np.linalg.norm(C, axis=1)
    Cn[Cn == 0] = 1.0

    @F.pandas_udf(IntegerType())
    def nearest_centroid(col: pd.Series) -> pd.Series:
        m = np.stack(col.values).astype(float)
        mn = np.linalg.norm(m, axis=1)
        mn[mn == 0] = 1.0
        # 9dp rounding before the argmax: numpy and the DuckDB oracle
        # (list_cosine_similarity) sum the dot product in different
        # orders, so raw doubles can differ in the last ulp; rounding
        # collapses near-ties to equal values, and equal values break
        # first-max (lowest centroid index) in BOTH engines — the
        # assignment, hence the whole IVF probe result, is
        # cross-engine deterministic.
        sims = np.round((m @ C.T) / (mn[:, None] * Cn[None, :]), 9)
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    assigned = emb.withColumn(out_col, nearest_centroid(F.col(vec_col)))
    return assigned, centroids


def knn_ivf(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN: score only the nprobe clusters nearest the query.

    The centroid table is tiny (k rows) so probe selection is
    driver-side; the cluster filter lands before any per-vector
    arithmetic — with cluster-partitioned storage it is partition
    pruning, scanning nprobe/n_clusters of the corpus.
    """
    assigned, centroids = ivf_assign(emb, n_clusters, id_col, vec_col)
    q = np.asarray(query_vec, dtype=float)
    qn = np.linalg.norm(q)

    def cos(c):
        cv = np.asarray(c, dtype=float)
        d = qn * np.linalg.norm(cv)
        # 9dp for the same cross-engine tie-break stability as
        # ivf_assign's nearest_centroid.
        return round(float(np.dot(q, cv) / d), 9) if d else 0.0

    # stable sort: ties keep centroid-index order, like the oracle's
    # ORDER BY cos DESC, ci ASC.
    probes = [ci for ci, cvec in sorted(centroids, key=lambda t: -cos(t[1]))[:nprobe]]
    score = _cosine_to_query_udf(query_vec)
    return (
        assigned.filter(F.col("cluster").isin(probes))
        .select(id_col, F.round(score(F.col(vec_col)), 6).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join_ivf(
    emb: DataFrame,
    k: int = 5,
    n_clusters: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_rows: int = 64,
) -> DataFrame:
    """IVF-bucketed approximate all-pairs kNN join — the ANN-join
    family's HASH-VERIFIABLE member: the deterministic centroid pick
    (every ⌈n/k⌉-th vector by id) and the 9dp-rounded
    nearest-centroid argmax (:func:`ivf_assign`) replay exactly in
    the DuckDB oracle, so the full (a, b, cos) result is cross-engine
    hash-checked (as is the sign-LSH twin :func:`knn_join_lsh` since
    its md5-hyperplane rework — the two differ in candidate geometry,
    cluster-local vs Hamming-ball, not verifiability). Each row's neighbors come
    from WITHIN its own IVF cluster (nprobe=1 locality, the SemDeDup
    candidate shape); cross-cluster true neighbors are missed by
    design — the recall/determinism tradeoff mirror-image of the LSH
    twin.

    Scale shape: auto cluster count n/target holds cluster SIZE
    constant (Σ|cluster|² linear in n — the round-3 sweep's lesson);
    each cluster's top-k is ONE grouped Arrow matmul, vectors cross
    the Python boundary once per row, candidates leave pre-cut to k
    per row. Ranking contract matches :func:`knn_join_brute`: 6dp
    cosine desc then neighbor id asc via the composite int key, so
    ties can never straddle the argpartition boundary.
    """
    import pandas as pd  # noqa: F811 — self-contained for cloudpickle

    if n_clusters is None:
        n_clusters = min(65536, max(8, emb.count() // target_cluster_rows))
    assigned, _ = ivf_assign(emb, n_clusters, id_col, vec_col, out_col="__cluster")

    def cluster_topk(pdf):
        n = len(pdf)
        empty = np.empty(0, dtype=np.int64)
        if n < 2:
            return pd.DataFrame({"a_id": empty, "b_id": empty, "cos": np.empty(0)})
        order0 = np.argsort(pdf[id_col].to_numpy(dtype=np.int64), kind="stable")
        ids = pdf[id_col].to_numpy(dtype=np.int64)[order0]
        M = np.stack(pdf[vec_col].values[order0]).astype(float)
        Mn = np.linalg.norm(M, axis=1)
        Mn[Mn == 0] = 1.0
        kk = min(k, n - 1)
        neg_inf = -(2**62)  # NOT int64 min: its negation overflows to itself
        out = []
        blk = max(1, min(4096, (8 << 20) // n))
        for lo in range(0, n, blk):
            sims = np.round((M[lo : lo + blk] @ M.T) / (Mn[lo : lo + blk, None] * Mn[None, :]), 6)
            c6 = np.rint(sims * 1e6).astype(np.int64)
            key = c6 * n - np.arange(n, dtype=np.int64)[None, :]
            rows = np.arange(sims.shape[0])
            key[rows, lo + rows] = neg_inf  # mask self-match
            sel = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
            sel = np.take_along_axis(
                sel, np.argsort(-np.take_along_axis(key, sel, axis=1), axis=1), axis=1
            )
            out.append(
                pd.DataFrame(
                    {
                        "a_id": np.repeat(ids[lo : lo + sims.shape[0]], kk),
                        "b_id": ids[sel].ravel(),
                        "cos": np.take_along_axis(sims, sel, axis=1).ravel(),
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return (
        assigned.select(id_col, vec_col, "__cluster")
        .groupBy("__cluster")
        .applyInPandas(cluster_topk, schema="a_id long, b_id long, cos double")
    )


def kmeans_assign(
    emb: DataFrame,
    n_clusters: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration spherical k-means over an embedding column —
    the iterative-ML loop shape (assign → recompute → repeat) on the
    DataFrame API, deterministic end to end: modulo-step init (the
    ivf_assign pick), cosine argmax assignment on the 9dp-rounded
    similarity with lowest-index ties, per-dimension mean recompute,
    empty clusters carrying their previous centroid. Cosine argmax is
    scale-invariant in the centroid, so the unnormalized mean is the
    exact spherical-k-means update (direction equals the normalized
    mean's). Returns (id, cluster) after ``iters`` rounds.

    Scale shape per iteration: ONE Arrow matmul projection for the
    assignment (centroid matrix in the UDF closure, no shuffle) + one
    posexplode/groupBy-avg whose output is k·dim aggregate rows — the
    only driver traffic, bounded by the model size exactly like
    pagerank's per-round scalars, never by the corpus. Unlike MLlib's
    KMeans (RDD-based, random init) every step replays bit-for-bit in
    the DuckDB oracle's unrolled per-iteration CTEs, so the driver
    gate is hash-verified.
    """
    C = _kmeans_fit(emb, n_clusters, iters, id_col, vec_col)
    return _kmeans_assign_with(emb, C, vec_col).select(
        id_col, F.col("__c").alias("cluster")
    )


def _kmeans_assign_with(emb: DataFrame, Cmat, vec_col: str) -> DataFrame:
    """Append ``__c`` = 9dp-rounded cosine argmax against the
    closure-carried centroid matrix (lowest index on ties — the
    cross-engine determinism contract)."""
    import pandas as pd  # noqa: F811 — self-contained for cloudpickle
    from pyspark.sql.types import IntegerType

    Cn = np.linalg.norm(Cmat, axis=1)
    Cn[Cn == 0] = 1.0

    @F.pandas_udf(IntegerType())
    def nearest(col: pd.Series) -> pd.Series:
        m = np.stack(col.values).astype(float)
        mn = np.linalg.norm(m, axis=1)
        mn[mn == 0] = 1.0
        sims = np.round((m @ Cmat.T) / (mn[:, None] * Cn[None, :]), 9)
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    return emb.withColumn("__c", nearest(F.col(vec_col)))


def _kmeans_fit(
    emb: DataFrame, n_clusters: int, iters: int, id_col: str, vec_col: str
):
    """Run the deterministic spherical-k-means loop and return the
    final (k, dim) centroid matrix — shared by :func:`kmeans_assign`
    and :func:`embedding_outliers`."""
    n = emb.count()
    step = max(1, n // n_clusters)
    cent_rows = (
        emb.filter(F.col(id_col) % step == 0)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_clusters)
        .collect()
    )
    C = np.stack(
        [np.asarray(r[vec_col], dtype=float) for r in sorted(cent_rows, key=lambda r: r[id_col])]
    )
    for _ in range(iters):
        means = (
            _kmeans_assign_with(emb, C, vec_col)
            .select("__c", F.posexplode(vec_col).alias("__p", "__v"))
            .groupBy("__c", "__p")
            .agg(F.avg("__v").alias("__m"))
            .collect()
        )
        C2 = C.copy()  # empty clusters keep their previous centroid
        for r in means:
            C2[r["__c"], r["__p"]] = r["__m"]
        C = C2
    return C


def embedding_outliers(
    emb: DataFrame,
    n_clusters: int = 8,
    iters: int = 3,
    bottom_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid-distance outlier detection: the ``bottom_k`` vectors
    least similar to their own spherical-k-means centroid — the
    curation signal for pruning far-from-any-cluster junk from an
    embedding corpus (mislabeled, corrupted, or off-distribution
    documents sit far from every mode; SemDeDup's companion filter in
    published LM-data pipelines prunes exactly this tail).

    Returns (id, cluster, centroid_cos) ranked ascending by the
    6dp-rounded cosine (ties by id) — fully deterministic, so the
    driver gate is hash-verified end to end through the k-means loop.
    Scale shape: the k-means iterations (see :func:`kmeans_assign`)
    plus ONE extra scoring projection and a TakeOrderedAndProject —
    no shuffle beyond the k·dim mean recomputes.
    """
    import pandas as pd  # noqa: F811 — self-contained for cloudpickle
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    C = _kmeans_fit(emb, n_clusters, iters, id_col, vec_col)
    Cn = np.linalg.norm(C, axis=1)
    Cn[Cn == 0] = 1.0
    out_schema = StructType(
        [StructField("cluster", IntegerType()), StructField("centroid_cos", DoubleType())]
    )

    @F.pandas_udf(out_schema)
    def score(col: pd.Series) -> pd.DataFrame:
        m = np.stack(col.values).astype(float)
        mn = np.linalg.norm(m, axis=1)
        mn[mn == 0] = 1.0
        sims9 = np.round((m @ C.T) / (mn[:, None] * Cn[None, :]), 9)
        ci = np.argmax(sims9, axis=1)
        return pd.DataFrame(
            {
                "cluster": ci.astype("int32"),
                "centroid_cos": np.round(sims9[np.arange(len(ci)), ci], 6),
            }
        )

    return (
        emb.select(id_col, score(F.col(vec_col)).alias("__s"))
        .select(id_col, F.col("__s.cluster").alias("cluster"),
                F.col("__s.centroid_cos").alias("centroid_cos"))
        .orderBy(F.col("centroid_cos").asc(), F.col(id_col).asc())
        .limit(bottom_k)
    )


def knn_lsh(
    emb: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    h: int = 8,
    seed: int = 42,
    multiprobe_bits: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket
    (plus single-bit-flip neighbor buckets for recall).

    The bucket filter arrives before any vector arithmetic, so the
    expensive cosine runs on ~ (1+h)/2^h of the corpus.
    """
    planes = _hyperplanes(dim, h, seed)
    qv = np.asarray(query_vec, dtype=float)
    qbucket = 0
    for i, p in enumerate(planes):
        # same 9dp-rounded sign test as lsh_bucket's worker path
        if round(float(np.dot(qv, np.asarray(p))), 9) >= 0:
            qbucket |= 1 << i
    probes = {qbucket ^ m for m in _probe_masks(h, multiprobe_bits)}
    bucketed = lsh_bucket(emb, dim, h, seed, vec_col=vec_col)
    candidates = bucketed.filter(F.col("bucket").isin(*[int(b) for b in probes]))
    score = _cosine_to_query_udf(query_vec)
    scored = candidates.select(
        F.col(id_col),
        F.round(score(F.col(vec_col)), 6).alias("cos"),
    )
    return scored.orderBy(F.col("cos").desc(), F.col(id_col).asc()).limit(k)


def _pq_codebook(dim: int, m: int, ks: int, seed: int = 42) -> np.ndarray:
    """Deterministic md5-derived product-quantization codebook,
    shape (m, ks, dim/m), components uniform in [-1, 1).

    Same exact-dyadic construction as :func:`_hyperplanes` (first 4
    md5 bytes of tag ``pq-{seed}-{sub}-{code}-{j}`` scaled by 2^-31),
    so the DuckDB oracle rebuilds the identical codebook and the code
    assignment replays bit-for-bit. A production deployment trains the
    codebook instead (per-subvector k-means over a sample — see
    :func:`kmeans_assign`; any (m, ks, dim/m) array can be passed to
    :func:`pq_assign`); the md5 codebook is the cross-engine
    verifiability contract, exactly as with the sign-LSH hyperplanes.
    """
    import hashlib

    sub = dim // m
    return np.asarray(
        [
            [
                [
                    int.from_bytes(
                        hashlib.md5(f"pq-{seed}-{s}-{c}-{j}".encode()).digest()[:4],
                        "big",
                    )
                    / 2147483648.0
                    - 1.0
                    for j in range(sub)
                ]
                for c in range(ks)
            ]
            for s in range(m)
        ],
        dtype=float,
    )


def pq_assign(
    emb: DataFrame,
    dim: int,
    m: int = 4,
    ks: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """Product-quantization encoding: each vector compressed to ``m``
    small codes (one per contiguous subvector, nearest codebook entry
    by Euclidean distance).

    THE 100 TB ANN memory move: at m=8, ks=256 a float32[1024]
    embedding (4 KB) becomes 8 bytes — a 512× corpus-size reduction
    that turns a cluster-scale scan into a per-executor in-memory
    table, which is why IVF-PQ is the standard billion-vector layout
    (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", TPAMI 2011; same layout as FAISS IVFPQ).

    Encoding is a pure projection — one Arrow-batched matmul per
    subvector against the (ks, dim/m) codebook held in the UDF
    closure, no shuffle, exactly the ivf_assign pattern. Distances are
    9dp-rounded before the argmin so near-ties collapse equal and
    break to the lowest code index in both engines (the ivf_assign
    determinism contract).
    """
    from pyspark.sql.types import ArrayType, IntegerType

    C = _pq_codebook(dim, m, ks, seed) if codebook is None else np.asarray(codebook, dtype=float)
    sub = dim // m

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(col: pd.Series) -> pd.Series:
        mat = np.stack(col.values).astype(float)
        codes = np.empty((mat.shape[0], C.shape[0]), dtype="int32")
        for s in range(C.shape[0]):
            seg = mat[:, s * sub : (s + 1) * sub]
            # (n, ks) Euclidean distances to this subvector's codebook
            d = np.round(
                np.sqrt(
                    np.maximum(
                        ((seg[:, None, :] - C[s][None, :, :]) ** 2).sum(axis=2), 0.0
                    )
                ),
                9,
            )
            codes[:, s] = np.argmin(d, axis=1).astype("int32")
        return pd.Series(list(codes))

    return emb.withColumn("codes", encode(F.col(vec_col)))


def knn_pq(
    emb: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    m: int = 4,
    ks: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds
    an (m, ks) distance table to every codebook entry once; each
    corpus vector's approximate distance is then m table lookups
    summed — no per-row vector arithmetic at all.

    The lookup-sum is a built-in higher-order-function projection over
    the broadcast literal table (element_at + aggregate), so after
    encoding, scoring 100 TB of codes is a codegen-resident scan:
    cheaper per row than reading the original embedding column off
    disk, which is the entire point of PQ. Table entries are
    9dp-rounded (so the DuckDB oracle's list_distance replays the sum
    exactly); the final distance rounds at 6dp with id-ascending
    tie-break.
    """
    C = _pq_codebook(dim, m, ks, seed) if codebook is None else np.asarray(codebook, dtype=float)
    sub = dim // m
    q = np.asarray(query_vec, dtype=float)
    qtab = [
        [
            round(float(np.sqrt(max(((q[s * sub : (s + 1) * sub] - C[s][c]) ** 2).sum(), 0.0))), 9)
            for c in range(ks)
        ]
        for s in range(m)
    ]
    encoded = pq_assign(emb, dim, m, ks, seed, id_col, vec_col, codebook)
    tab_lit = F.array(*[F.array(*[F.lit(d) for d in row]) for row in qtab])
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(F.element_at(tab_lit, s + 1), F.element_at("codes", s + 1) + 1),
    )
    return (
        encoded.select(id_col, F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_codebook_from_sample(
    emb: DataFrame,
    dim: int,
    m: int = 4,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Data-derived PQ codebook: every ⌈n/ks⌉-th vector by id donates
    its subvectors as codebook entries — the same deterministic
    modulo-step pick as ivf_assign's coarse centroids, k-means-free
    but distribution-matched (entries ARE corpus subvectors, so codes
    land where the data lives; the md5 contract codebook is uniform on
    the cube and exists for cross-engine verifiability, not recall).

    Driver traffic is ks rows — m·ks·(dim/m) floats — regardless of
    corpus size. A production fit replaces this with per-subvector
    k-means over a sample; any (m, ks, dim/m) array drops into
    pq_assign/knn_pq unchanged.
    """
    n = emb.count()
    step = max(1, n // ks)
    rows = (
        emb.filter(F.col(id_col) % step == 0)
        .select(id_col, vec_col)
        .orderBy(id_col)
        .limit(ks)
        .collect()
    )
    if len(rows) < ks:
        # Sparse / non-contiguous ids can leave the modulo filter with
        # fewer than ks donors; a short codebook would silently break
        # pq_assign's code-range assumptions downstream. Re-sample by
        # global rank (always dense) before giving up.
        rows = emb.select(id_col, vec_col).orderBy(id_col).limit(ks).collect()
        if len(rows) < ks:
            raise ValueError(
                f"pq_codebook_from_sample: corpus has only {len(rows)} "
                f"vectors but ks={ks} codebook entries were requested — "
                "lower ks or supply an explicit codebook"
            )
    sub = dim // m
    M = np.asarray([[float(x) for x in r[vec_col]] for r in rows], dtype=float)
    return np.stack(
        [[M[i][s * sub : (s + 1) * sub] for i in range(ks)] for s in range(m)]
    )


def knn_ivfpq(
    emb: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    m: int = 4,
    ks: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ: the combined billion-vector layout (FAISS IVFPQ; Jégou
    et al. 2011) — IVF coarse quantization prunes the corpus to
    ``nprobe/n_clusters`` of its lists, and product quantization over
    the RESIDUAL (vector − its centroid) compresses what remains to
    ``m`` small codes scored by ADC table lookups.

    Residual encoding is the part that makes the combination better
    than either piece: residuals live in a ball around the centroid,
    so the same codebook granularity captures far more variance than
    PQ over raw vectors. Encoding is one Arrow matmul per subvector
    with the centroid subtraction fused into the same batch
    (:func:`ivf_assign`'s pattern); each probed cluster gets its own
    (m, ks) query table on (query − centroid_c), and scoring is a
    per-cluster branch of the same codegen lookup-sum as
    :func:`knn_pq` — nprobe branches of pure JVM expression, no
    Python, no shuffle after the cluster filter (partition pruning
    when the table is written cluster-partitioned).

    Determinism contract: md5-dyadic codebook + deterministic IVF
    centroids, 9dp rounds before argmin/argmax, 6dp on the final ADC
    sum — the DuckDB oracle replays every step bit-for-bit.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    assigned, centroids = ivf_assign(emb, n_clusters, id_col, vec_col)
    C = _pq_codebook(dim, m, ks, seed) if codebook is None else np.asarray(codebook, dtype=float)
    cent = np.asarray([cv for _, cv in centroids], dtype=float)
    sub = dim // m

    @F.pandas_udf(ArrayType(IntegerType()))
    def encode(vec: pd.Series, cl: pd.Series) -> pd.Series:
        mat = np.stack(vec.values).astype(float) - cent[cl.values.astype(int)]
        codes = np.empty((mat.shape[0], C.shape[0]), dtype="int32")
        for s in range(C.shape[0]):
            seg = mat[:, s * sub : (s + 1) * sub]
            d = np.round(
                np.sqrt(
                    np.maximum(
                        ((seg[:, None, :] - C[s][None, :, :]) ** 2).sum(axis=2), 0.0
                    )
                ),
                9,
            )
            codes[:, s] = np.argmin(d, axis=1).astype("int32")
        return pd.Series(list(codes))

    enc = assigned.withColumn("codes", encode(F.col(vec_col), F.col("cluster")))

    q = np.asarray(query_vec, dtype=float)
    qn = np.linalg.norm(q)

    def cos(cv):
        cv = np.asarray(cv, dtype=float)
        d = qn * np.linalg.norm(cv)
        return round(float(np.dot(q, cv) / d), 9) if d else 0.0

    probes = [ci for ci, cvec in sorted(centroids, key=lambda t: -cos(t[1]))[:nprobe]]
    adc = None
    for ci in probes:
        r = q - cent[ci]
        qtab = [
            [
                round(
                    float(
                        np.sqrt(
                            max(((r[s * sub : (s + 1) * sub] - C[s][c]) ** 2).sum(), 0.0)
                        )
                    ),
                    9,
                )
                for c in range(ks)
            ]
            for s in range(m)
        ]
        tab_lit = F.array(*[F.array(*[F.lit(d) for d in row]) for row in qtab])

        def _adc_of(_t):
            # factory pins the per-cluster table; a default-arg lambda
            # would change the HOF's perceived arity
            return F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, s: acc
                + F.element_at(F.element_at(_t, s + 1), F.element_at("codes", s + 1) + 1),
            )

        e = _adc_of(tab_lit)
        adc = (
            F.when(F.col("cluster") == ci, e)
            if adc is None
            else adc.when(F.col("cluster") == ci, e)
        )
    return (
        enc.filter(F.col("cluster").isin(probes))
        .select(id_col, F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def hard_negative_mine(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_rows: int = 200_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor
    vector, its top-k most-similar vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (easy random
    negatives are already far away; the hard ones sit just across the
    class boundary).

    Exactly :func:`knn_join_brute` with same-label candidates masked
    inside the scoring kernel (``exclude_match_col``): a label-masked
    top-k can NOT be post-filtered from an unmasked top-k (the k
    nearest overall may all share the anchor's label), so the mask
    must live in the kernel. Same bounded-collect / broadcast-matmul /
    no-pair-materialization plan, same (6dp cos desc, b_id asc)
    cross-engine ranking contract. Anchors whose class covers the
    whole collection yield no rows (no negatives exist).
    """
    return knn_join_brute(
        emb,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        max_rows=max_rows,
        exclude_match_col=label_col,
    )


def rp_signs(out_dim: int, dim: int, seed: str = "rp") -> list:
    """±1 sign matrix for :func:`random_projection`, derived from
    md5(f"{seed}#{j}#{i}") parity in CPython — deterministic,
    engine-independent, replayable as literals by any oracle."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}#{j}#{i}".encode()).hexdigest()[:8], 16) & 1
            else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 8,
    dim: int | None = None,
    seed: str = "rp",
    round_dp: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a ±1 (Achlioptas
    2003) sign matrix: reduce ``vec_col`` from ``dim`` to ``out_dim``
    dimensions, preserving pairwise distances within 1±ε — the
    dimensionality-reduction front end for LSH bucketing, cheap
    pre-filtering before exact kNN, and embedding-store compaction.

    proj_j = Σ_i v_i · s_ij, with signs from md5 parity
    (:func:`rp_signs` — CPython-side, shipped into the plan as
    LITERAL arrays, so no engine hash function is involved and any
    oracle replays the identical matrix). The inner sum is
    ``aggregate(zip_with(v, s, *), 0.0, +)`` — strict left-to-right
    IEEE order, bit-matching DuckDB's list_sum (probed: both are
    sequential) — rounded at ``round_dp``.

    Plan: a pure per-row projection — NO shuffle, no UDF, all inside
    whole-stage codegen; out_dim wide columns, not an array (the
    driver-canonicalizer array hazard). At 100 TB this is scan-bound;
    ``dim`` is probed from one row when not given (a bounded
    1-row collect).
    """
    if dim is None:
        probe = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if probe is None:
            raise ValueError(
                "random_projection: cannot probe the vector dimension "
                "of an empty DataFrame — pass dim explicitly"
            )
        dim = int(probe["d"])
    signs = rp_signs(out_dim, dim, seed)
    cols = []
    for j in range(out_dim):
        s = F.array(*[F.lit(v) for v in signs[j]])
        cols.append(
            F.round(
                F.aggregate(
                    F.zip_with(F.col(vec_col), s, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                round_dp,
            ).alias(f"proj_{j}")
        )
    return df.select(id_col, *cols)


def embedding_drift(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Centroid drift between two deterministic halves of an embedding
    corpus (id parity split): cosine similarity of the per-half mean
    vectors — the cheap embedding-space health check that catches a
    re-encoded or corrupted shard before an ANN index is built on it
    (cos ≈ 1 for homogeneous halves; a drop means the halves live in
    different regions).

    Float contract: per-dimension means are rounded at 9dp and
    re-scaled to exact nano-unit BIGINTs (|mean| ≤ 1 for normalized
    embeddings, so nano-units and their 64-dim dot products stay
    within BIGINT exactly); the cosine is then one double formula on
    exact integer sums — the kmeans-oracle determinism contract. The
    only cross-engine exposure is the pre-round mean itself (±1 ulp of
    summation order against a 0.5e-9 boundary — the accepted kmeans
    risk).

    Plan: one posexplode (rows × dim), one groupBy(half, dim) — dim ×
    2 output rows, trivially AQE-broadcast for the final dim-join.
    """
    ev = df.select(
        (F.col(id_col) % 2).alias("__half"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__dim", "__val"),
    )
    means = ev.groupBy("__half", "__dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.floor(F.round(F.avg("__val"), 9) * F.lit(1000000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("__m"),
    )
    a = means.filter(F.col("__half") == 0).select(
        F.col("__dim"), F.col("__m").alias("__ma"), F.col("__n").alias("__na")
    )
    b = means.filter(F.col("__half") == 1).select(
        F.col("__dim"), F.col("__m").alias("__mb"), F.col("__n").alias("__nb")
    )
    j = a.join(b, "__dim")
    s = j.agg(
        F.max("__na").alias("n_even"),
        F.max("__nb").alias("n_odd"),
        F.sum(F.col("__ma").cast("decimal(38,0)") * F.col("__mb")).alias("__ab"),
        F.sum(F.col("__ma").cast("decimal(38,0)") * F.col("__ma")).alias("__aa"),
        F.sum(F.col("__mb").cast("decimal(38,0)") * F.col("__mb")).alias("__bb"),
    )
    return s.select(
        "n_even",
        "n_odd",
        F.round(
            F.try_divide(
                F.col("__ab").cast("double"),
                F.sqrt(F.col("__aa").cast("double")) * F.sqrt(F.col("__bb").cast("double")),
            ),
            round_dp,
        ).alias("drift_cos"),
    )


# nDCG position weights: 1/log2(i+1) in nano-units, computed ONCE in
# CPython and injected as LITERALS into both engines (the dsir/benford
# contract — log2 is libm, so evaluating it engine-side risks 1-ulp
# divergence; identical integer literals cannot diverge).
def _ndcg_weights_nano(k: int) -> list[int]:
    import math

    return [int(math.floor(1e9 / math.log2(i + 1) + 0.5)) for i in range(1, k + 1)]


def ann_ndcg_eval(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Graded ranking quality of the IVF index: per-query nDCG@k of
    :func:`knn_join_ivf` against the exact brute-force top-k — the
    metric that sees what recall cannot (an index returning the right
    set in the wrong ORDER scores recall 1.0 but loses nDCG; ranking
    order is what a retrieval consumer actually experiences).

    Binary relevance (approx item ∈ exact top-k); DCG = Σ relᵢ·wᵢ and
    ideal DCG = Σ_{i≤min(n_exact,k)} wᵢ, with wᵢ = 1/log2(i+1) as
    exact nano-unit literals (:func:`_ndcg_weights_nano`) — both sums
    are exact BIGINTs and nDCG is one double division, bit-replayable.
    Plan: the two kNN joins (bounded-collect matmul kernels), one
    semi-join, one per-query window for the approx rank, two
    map-side-combined groupBys.
    """
    from pyspark.sql import Window

    W = _ndcg_weights_nano(k)
    IW = [sum(W[: i + 1]) for i in range(k)]
    exact = (
        knn_join_brute(emb, k=k, id_col=id_col, vec_col=vec_col)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    approx = knn_join_ivf(emb, k=k, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), F.col("b_id").asc())
    ranked = approx.withColumn("__rk", F.row_number().over(w))
    wmap = F.create_map(*[F.lit(x) for i, wt in enumerate(W, 1) for x in (i, wt)])
    rel = ranked.join(exact, ["a_id", "b_id"], "left_semi")
    dcg = rel.groupBy("a_id").agg(
        F.sum(wmap[F.col("__rk")]).cast("bigint").alias("dcg_nano")
    )
    iwmap = F.create_map(*[F.lit(x) for i, s in enumerate(IW, 1) for x in (i, s)])
    base = exact.groupBy("a_id").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    return (
        base.join(dcg, "a_id", "left")
        .select(
            "a_id",
            "n_exact",
            F.coalesce(F.col("dcg_nano"), F.lit(0).cast("bigint")).alias("dcg_nano"),
            F.round(
                F.try_divide(
                    F.coalesce(F.col("dcg_nano"), F.lit(0)).cast("double"),
                    iwmap[F.least(F.col("n_exact"), F.lit(k))].cast("double"),
                ),
                round_dp,
            ).alias("ndcg"),
        )
    )


def ann_mrr_eval(
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Mean-reciprocal-rank diagnostic of the IVF index: per query,
    the reciprocal rank at which the TRUE nearest neighbor (exact
    brute-force top-1) appears in :func:`knn_join_ivf`'s top-``k``
    list — the retrieval metric when exactly one answer is right
    (entity lookup, known-item search), sharper than recall@k (which
    rewards the right item anywhere) and cheaper than nDCG (no graded
    gains). rank = 0 / rr = 0.0 records a miss.

    Determinism: the approx ranking orders by (cos DESC, id ASC) —
    the knn contract's total order; rr is ONE double division of two
    small exact integers (1/rank), identical cross-engine.
    Plan: two kNN joins (bounded kernels), one top-1 filter, one
    equi-join on (query, neighbor), no window over data-sized
    partitions (the rank window is per-query, ≤ k rows).

    Output: (a_id, true_nn BIGINT, rank INT, rr DOUBLE round_dp).
    """
    from pyspark.sql import Window

    exact1 = (
        knn_join_brute(emb, k=1, id_col=id_col, vec_col=vec_col)
        .select("a_id", F.col("b_id").alias("true_nn"))
        .localCheckpoint()
    )
    approx = knn_join_ivf(emb, k=k, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("a_id").orderBy(F.col("cos").desc(), F.col("b_id").asc())
    ranked = approx.withColumn("__rk", F.row_number().over(w))
    hit = ranked.join(
        exact1,
        (ranked["a_id"] == exact1["a_id"]) & (ranked["b_id"] == exact1["true_nn"]),
    ).select(exact1["a_id"].alias("a_id"), F.col("__rk").alias("rank"))
    return (
        exact1.join(hit, "a_id", "left")
        .select(
            "a_id",
            "true_nn",
            F.coalesce(F.col("rank"), F.lit(0)).cast("int").alias("rank"),
            F.when(F.col("rank").isNull(), F.lit(0.0))
            .otherwise(
                F.round(F.try_divide(F.lit(1.0), F.col("rank").cast("double")), round_dp)
            )
            .alias("rr"),
        )
    )


def mutual_nn(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual-nearest-neighbor pairs: (a, b) where b is a's exact
    top-1 cosine neighbor AND a is b's — the high-precision matcher
    behind cross-lingual embedding alignment (MUSE-style), parallel-
    corpus mining, and record-linkage seeding, where one-directional
    top-1 is noisy but reciprocity is strong evidence.

    Built on :func:`knn_join_brute`'s k=1 edge list (6dp-rounded
    cosine, id-asc tie-break — the cross-engine total order): one
    self-equi-join on the reversed pair detects reciprocity, a < b
    dedupes each pair to one row. The nn edge list is |V| rows, so the
    join is key-sized, never pair-sized; for unbounded corpora swap
    the brute kernel for knn_join_lsh's edges and keep this join
    as-is.

    Output: (a_id, b_id, cos) with a_id < b_id.
    """
    nn = knn_join_brute(emb, k=1, id_col=id_col, vec_col=vec_col).select(
        "a_id", "b_id", "cos"
    )
    rev = nn.select(F.col("a_id").alias("__ra"), F.col("b_id").alias("__rb"))
    return (
        nn.join(
            rev, (nn["a_id"] == F.col("__rb")) & (nn["b_id"] == F.col("__ra"))
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "cos")
    )
