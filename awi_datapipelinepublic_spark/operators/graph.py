"""Connected components — the clustering step of a dedup pipeline.

LSH/similarity stages emit candidate *pairs* (operators/dedup.py);
choosing one canonical document per duplicate *group* requires the
transitive closure of those pairs. Components are labeled with the
minimum node id reachable (hash-min label propagation), so the label
doubles as the canonical representative.

This is a genuinely iterative algorithm: Spark has no fixpoint
operator, so the driver loops — each iteration is one shuffle
(neighbor-join + groupBy-min), and ``localCheckpoint`` truncates the
lineage so the plan does not grow with iterations (the classic
iterative-Spark trap: analysis time doubles per round otherwise).
Iteration count is bounded by the component diameter, not the graph
size; web-scale dedup graphs have short diameters (duplicate clusters
are near-cliques), which is why plain propagation — not pointer
doubling — is the standard production choice (cf. the "large-star/
small-star" family; our variant is the simple symmetric form).

At 100 TB: every iteration shuffles |E| label candidates hashed by
node — no broadcast of anything unbounded, no driver-side data beyond
the one-row convergence check per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``;
    ``component`` is the smallest node id in the node's component.

    Adaptive execution: one count decides the path. A candidate-pair
    graph at or below ``driver_threshold`` edges is collected and
    closed with a driver-side union-find — exact, and milliseconds
    instead of multiple distributed rounds (a dedup pair graph is
    orders of magnitude smaller than its corpus, so this is the common
    case even at large corpus scale). Above the threshold the
    distributed hash-min loop below runs; pass ``driver_threshold=0``
    to force it (tests and the driver gate do, so the distributed path
    stays exercised).

    Isolated nodes never appear in an edge list — union them into
    ``edges`` as self-loops if they must be labeled.
    """
    # The edge list is often the output of an expensive upstream
    # pipeline (minhash → LSH banding); persist before the routing
    # count so the count and the subsequent read don't recompute it.
    edges = edges.persist()
    if driver_threshold and edges.count() <= driver_threshold:
        pairs = edges.select(src, dst).collect()
        edges.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:
                parent[x], x = r, parent[x]
            return r

        for row in pairs:
            a, b = row[src], row[dst]
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = {v for row in pairs for v in (row[src], row[dst])}
        out = [(n, find(n)) for n in sorted(nodes)]
        schema = edges.select(F.col(src).alias("node")).schema
        return edges.sparkSession.createDataFrame(
            out, schema=f"node {schema['node'].dataType.simpleString()}, component {schema['node'].dataType.simpleString()}"
        )

    sym = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
    )
    labels = (
        sym.select(F.col("s").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    labels = labels.localCheckpoint(eager=True)
    sym = sym.localCheckpoint(eager=True)
    edges.unpersist()
    for _ in range(max_iter):
        neighbor_labels = sym.join(
            labels, sym["s"] == labels["node"]
        ).select(F.col("d").alias("node"), "label")
        new_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        improved = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") < F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if improved == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list:
    ``rank'(v) = (1-d)/N + d · Σ_{u→v} rank(u)/outdeg(u)``, uniform
    ``1/N`` start. Returns (node, pagerank).

    Fixed iteration count (power iteration, not convergence-tested)
    keeps the result deterministic and cross-engine verifiable — the
    DuckDB oracle unrolls the same ``iterations`` as chained CTEs.
    Dangling nodes (no out-edges) simply leak their damped mass, the
    common simplification; both engines compute the identical sum.

    Scale shape mirrors :func:`connected_components`: per iteration one
    join of the edge list against the current rank vector (both hashed
    on ``src`` — AQE reuses the partitioning) and one groupBy(dst)
    partial-agg shuffle; ``localCheckpoint`` truncates lineage so plan
    analysis stays O(1) per round instead of doubling. Nothing
    unbounded ever reaches the driver — only the scalar node count.
    """
    # Materialize the edge list FIRST: it feeds four subtrees (both
    # branches of the node union, the out-degree build, and the
    # contrib join), and the upstream edge construction is typically a
    # fact-fact join + distinct — without this checkpoint that join
    # executed once per consumer (measured 4× at r12; the hits_scores
    # loop already did this).
    out_edges = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        out_edges.select(F.col("src").alias("node"))
        .union(out_edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    deg = out_edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Edge list + out-degree is loop-invariant: materialize once, and
    # hash-partition it by src BEFORE the checkpoint — localCheckpoint
    # preserves the physical partitioning, so every iteration's
    # edge⋈rank join re-shuffles only the rank vector (|V| rows), never
    # the edge list (|E| rows, the big side at web scale). Locally the
    # rank side broadcasts and this is moot; at 10⁹ nodes it is one
    # |E| shuffle total instead of one per iteration.
    contrib_edges = (
        out_edges.join(deg, "src").repartition(F.col("src")).localCheckpoint(eager=True)
    )
    base = (1.0 - damping) / n
    if iterations < 1:
        return nodes.select("node", F.lit(1.0 / n).alias("pagerank"))
    # The loop carries only the SPARSE inbound-sum table s(v) — nodes
    # with no inbound mass are absent (s = 0) — and the full rank
    # expression rank(u) = (1-d)/n + d·s(u) is inlined where a rank is
    # consumed (LEFT join + coalesce 0). This removes the per-iteration
    # |V|-row nodes⋈inbound join the old loop used to re-materialize
    # zero-inbound nodes (one fewer exchange per round, guide §2.4);
    # the dense vector is reconstructed ONCE at the output edge.
    # Float ops are the same per value in the same order — only the
    # materialization point moved.
    s_tab = None
    for _ in range(iterations):
        if s_tab is None:
            # first round: every rank is exactly the uniform 1/n start
            contrib = contrib_edges.select(
                F.col("dst").alias("node"),
                (F.lit(1.0 / n) / F.col("outdeg")).alias("c"),
            )
        else:
            contrib = contrib_edges.join(
                s_tab, contrib_edges["src"] == s_tab["node"], "left"
            ).select(
                F.col("dst").alias("node"),
                (
                    (
                        F.lit(base)
                        + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                    )
                    / F.col("outdeg")
                ).alias("c"),
            )
        # LAZY checkpoint: still truncates lineage (each round's RDD is
        # stored on first computation, so analysis stays O(1) per
        # round). It does not pipeline the chain into one action: under
        # AQE, building the checkpoint runs the round's shuffle stage,
        # so the loop blocks once per round. What it saves over an
        # eager checkpoint is the second job per round that fills the
        # checkpoint (probe: one groupBy, 1 job lazy, 2 eager).
        s_tab = (
            contrib.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .localCheckpoint(eager=False)
        )
    return nodes.join(s_tab, "node", "left").select(
        "node",
        (
            F.lit(base) + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
        ).alias("pagerank"),
    )


def dedup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """(doc_id, canonical_id) from candidate duplicate pairs: every
    document in a duplicate component maps to the component's smallest
    id — keep rows where doc_id == canonical_id, drop the rest.

    This is the step between LSH candidate generation
    (minhash_lsh_candidates) and the actual delete: without the
    transitive closure, A≈B and B≈C would keep both A and C even
    though they are mutual near-dups through B.
    """
    cc = connected_components(pairs, src=id_a, dst=id_b)
    return cc.select(F.col("node").alias("doc_id"), F.col("component").alias("canonical_id"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle / open-wedge census over an undirected simple
    graph — returns one row (n_edges, n_wedges, n_triangles), the
    inputs to clustering-coefficient / graph-health checks on
    similarity and co-occurrence graphs (e.g. is the near-dup pair
    graph clique-like or chain-like before canonicalization).

    Algorithm: degree orientation (Suri & Vassilvitskii, WWW'11) +
    edge-iterator intersection (Latapy's compact-forward). Every
    undirected edge is oriented from its LOWER-(degree, id) endpoint
    to its higher one — a total order, so each triangle is counted
    exactly once at its lowest vertex, and a hub's OUT-degree is at
    most O(√m) instead of its raw degree. Triangles are then
    Σ_(s,t)∈E⃗ |N⁺(s) ∩ N⁺(t)|: two joins of the edge list against the
    per-vertex sorted out-neighbor arrays and a codegen
    array_intersect per edge. The Σ out² work is identical to the
    wedge-self-join formulation, but it happens INSIDE a projection
    over m rows — the wedge set (20M rows at sf0.1 on the gate's
    co-purchase graph) is never materialized into a shuffle, which
    measured 2.5× faster end-to-end (15.4 → ~4 s).

    Shuffles: degree groupBy, the two orientation joins, one
    out-neighbor groupBy, one m-row⋈|V|-row probe join — all
    skew-bounded by the orientation. The triangle COUNT is
    orientation-invariant, so the oracle may replay plain id-ordered
    counting.

    Execution shape (r13): the operator is LAZY — one row
    (n_edges, n_wedges, n_triangles) built as a crossJoin of the two
    single-row aggregates, so the whole census runs as ONE pipelined
    action. The r12 form collected each aggregate eagerly (three
    blocking driver actions gated on persist materializations), which
    measured 4.6 s vs 1.2 s for this plan at sf0.1 — the actions, not
    the intersection, were the cost. No persists: every multiply-
    consumed subtree (the deduped edge list, the degree table, the
    out-neighbor arrays) is byte-identical across its consumers inside
    the single action, so runtime exchange reuse shares them
    (measured: the no-persist lazy plan is also marginally faster than
    the persisted one, and nothing here depends on
    spark_partition_id, so the ks_drift persist hazard does not
    apply). The per-edge probe is derived by EXPLODING the
    out-neighbor arrays (each (s,t) edge re-emerges with ns_s already
    attached) instead of joining the oriented edge list back against
    them — one fewer m-row join.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    # orient low-(deg, id) -> high-(deg, id)
    ed = e.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ed.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
    )
    # per-vertex sorted out-neighbor arrays: |array| ≤ O(√m) under the
    # degree orientation, so total array bytes ≈ m ids — this table is
    # |V| rows and is probed by the m-row exploded edge list on a
    # plain key (broadcastable when it fits; AQE decides, never
    # forced).
    nbrs = oriented.groupBy("s").agg(F.array_sort(F.collect_list("t")).alias("ns"))
    # each oriented edge (s, t) re-created from s's own array — ns_s
    # rides along for free instead of a second m⋈|V| join
    probe = nbrs.select(F.col("ns").alias("ns_s"), F.explode("ns").alias("t"))
    ns_t = nbrs.select(F.col("s").alias("t"), F.col("ns").alias("ns_t"))
    per_edge = probe.join(ns_t, "t", "left").select(  # sinks have no out-edges
        F.when(F.col("ns_t").isNull(), F.lit(0))
        .otherwise(F.size(F.array_intersect("ns_s", "ns_t")))
        .alias("k")
    )
    # n_edges = Σd/2 and the standard wedge census Σ C(deg, 2) — the
    # denominator of the global clustering coefficient (3·triangles /
    # wedges) — come from ONE aggregate over the degree table.
    stats = deg.agg(
        F.coalesce((F.sum("d") / 2).cast("long"), F.lit(0).cast("long")).alias(
            "n_edges"
        ),
        F.coalesce(
            F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("long")),
            F.lit(0).cast("long"),
        ).alias("n_wedges"),
    )
    tri = per_edge.agg(
        F.coalesce(F.sum("k").cast("long"), F.lit(0).cast("long")).alias(
            "n_triangles"
        )
    )
    return stats.crossJoin(tri)


def kcore(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 6,
) -> DataFrame:
    """k-core of an undirected simple graph by fixed-round peeling:
    each round drops every vertex whose degree within the surviving
    subgraph is below k. Returns (node, core_degree) for the vertices
    remaining after ``iterations`` rounds, with their degree inside
    the surviving subgraph — the standard community-pruning step
    before expensive per-component work (e.g. shrinking a near-dup
    pair graph to its dense cores).

    Fixed iteration count (the pagerank/kmeans determinism contract):
    both the engine and the DuckDB oracle run the SAME rounds, so the
    result is exact once peeling has converged and identically-partial
    otherwise. Per round: two LEFT SEMI joins restrict the persisted
    edge list to survivors, one union+groupBy recomputes degrees —
    edge-key shuffles only, and localCheckpoint cuts the growing
    lineage exactly like the pagerank loop.
    """
    from pyspark.storagelevel import StorageLevel

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist(StorageLevel.MEMORY_ONLY)
    )

    def degrees(edge_df: DataFrame) -> DataFrame:
        return (
            edge_df.select(F.col("u").alias("n"))
            .unionAll(edge_df.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    nodes = degrees(e).filter(F.col("d") >= k).select("n")
    for _ in range(iterations - 1):
        ee = e.join(
            nodes.select(F.col("n").alias("u")), "u", "left_semi"
        ).join(nodes.select(F.col("n").alias("v")), "v", "left_semi")
        nodes = degrees(ee).filter(F.col("d") >= k).select("n").localCheckpoint()
    ee = e.join(nodes.select(F.col("n").alias("u")), "u", "left_semi").join(
        nodes.select(F.col("n").alias("v")), "v", "left_semi"
    )
    out = degrees(ee).filter(F.col("d") >= k).select(
        F.col("n").alias("node"), F.col("d").alias("core_degree")
    )
    # Materialize before dropping the edge cache: unpersisting e while
    # `out` is still lazy would force the caller's action to recompute
    # the whole upstream edge build, defeating the persist.
    out = out.localCheckpoint()
    e.unpersist()
    return out


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Community detection by semi-synchronous label propagation
    (Raghavan et al. 2007): every node starts as its own label; each
    round it adopts the most frequent label among its neighbors PLUS
    its own current label (the self-vote damps the classic synchronous
    two-coloring oscillation on bipartite structures — an isolated
    edge converges to one community instead of swapping labels
    forever), ties broken by the SMALLEST label — fully deterministic,
    so the fixed round count is replayable in any engine (the
    pagerank/kcore determinism contract).

    Scale design: per round, one join of the (2·|E|)-row directed
    neighbor list against the |V|-row label table (label table is the
    small side — AQE broadcasts it when it fits), then ONE exchange
    (explicit hash repartition on the node id) feeding BOTH the
    (node, neighbor_label) count and the per-node argmax — hash(n)
    satisfies the clustering requirement of both aggregations, so
    neither adds its own shuffle (r13; two exchanges per round
    before). The repartition does trade away map-side combine on the
    (n, lbl) count, but neighbor labels are near-unique per node in
    early rounds so the combine compressed little (measured: fused
    form faster at sf0.1 AND sf1). localCheckpoint each round cuts
    the growing lineage exactly like the pagerank loop — LAZY (r13).
    Under AQE the round's exchange still runs while the checkpoint is
    built, so the loop blocks once per round; lazy drops the eager
    checkpoint's extra fill job per round (eager vs lazy re-measured
    with the fused exchange: lazy wins; the r12 eager choice was made
    against the two-exchange rounds).

    Returns (node, label) — nodes sharing a label form a community.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # no e checkpoint: the nbrs union's two branches share e's
        # distinct exchange inside the nbrs materialization job (the
        # degree_histogram r12 lesson — an eager checkpoint here is
        # |E|-row overhead, not a saving).
    )
    nbrs = e.select(F.col("u").alias("n"), F.col("v").alias("nb")).unionAll(
        e.select(F.col("v").alias("n"), F.col("u").alias("nb"))
    ).localCheckpoint(eager=False)
    labels = nbrs.select(F.col("n")).distinct().withColumn("lbl", F.col("n"))
    for _ in range(iterations):
        nl = nbrs.join(
            labels.select(F.col("n").alias("nb"), F.col("lbl")), "nb"
        ).select("n", "lbl").unionAll(labels.select("n", "lbl"))
        # one exchange for the round: hash(n) co-locates every (n, lbl)
        # group AND every n group, so the count and the argmax below
        # both plan as partial+final aggregates with no further shuffle
        cnt = nl.repartition(F.col("n")).groupBy("n", "lbl").agg(
            F.count(F.lit(1)).alias("c")
        )
        # argmax by (max count, smallest label) — negate the COUNT,
        # never the label: unary minus on a string label casts to
        # double and yields null (dedup graphs key on md5 strings).
        labels = (
            cnt.groupBy("n")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lbl"))).alias("w"))
            .select("n", F.col("w.lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select(F.col("n").alias("node"), F.col("lbl").alias("label"))


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    round_dp: int = 6,
) -> DataFrame:
    """Degree assortativity of an undirected graph: the Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    positive for hub-meets-hub networks (social), negative for
    hub-meets-leaf (infrastructure, dedup star clusters). Completes
    the graph census next to triangle_count / kcore / pagerank.

    Exact-integer construction (the cross-engine hash contract):
    degrees are integer counts, so n, Σx, Σy, Σxy, Σx², Σy² aggregate
    EXACTLY (one groupBy for degrees, one broadcast join back to the
    2|E|-row symmetrized list, one scalar agg); r is assembled from
    those six integers in a single one-row float projection —
    summation-order ulps cannot exist. At 10⁹+ edges swap the BIGINT
    sums to DECIMAL(38,0) (Σx² bounds: |E|·deg_max²).

    Self-loops are excluded; multi-edges dedupe. Returns one row
    (n_edges BIGINT, assortativity DOUBLE) — NULL assortativity for
    degree-regular graphs (zero variance).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    # deg is |V|-sized — one row per NODE. No forced broadcast: a hint
    # overrides size estimation outright, so a 10⁸-node table would be
    # built on the driver. Unhinted, AQE promotes the post-agg side to
    # broadcast from its MEASURED size when small and shuffles when
    # not (same class as the r8 link_prediction/target_encode fixes).
    pairs = (
        sym.join(deg.select(F.col("a"), F.col("d").alias("dx")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("d").alias("dy")),
            "b",
        )
        .select("dx", "dy")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        (F.col("m") / 2).cast("bigint").alias("n_edges"),
        # try_divide: a degree-regular graph has zero variance →
        # sqrt(0) divisor; plain `/` hard-crashes DIVIDE_BY_ZERO under
        # the driver's ANSI-on session, try_divide yields the NULL the
        # docstring promises (and DuckDB's x/0 → NULL matches).
        F.round(
            F.try_divide(
                num.cast("double"),
                F.sqrt(vx.cast("double") * vy.cast("double")),
            ),
            round_dp,
        ).alias("assortativity"),
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 256,
    k: int = 50,
) -> DataFrame:
    """Common-neighbor / Adamic–Adar link prediction: the top-``k``
    NON-adjacent node pairs ranked by shared-neighbor evidence — the
    candidate generator for "related items", knowledge-graph
    completion, and near-dup cluster repair (pairs the LSH pass
    missed but the neighborhood structure implies).

    Scores, per candidate pair (a, b):
      - ``cn``      = |N(a) ∩ N(b)| (exact integer);
      - ``aa_nano`` = Σ_{w ∈ N(a)∩N(b)} floor(1e9 / ln d(w)) —
        Adamic–Adar with each 1/ln(degree) floor-scaled to BIGINT
        nano-units so the SUM is an exact integer (no float
        accumulation order; the dsir_weights contract). The per-degree
        reciprocal is computed once driver-side with CPython libm
        (bit-identical to the oracle's LN — the mixture_weights
        precedent) over the ≤``max_degree`` distinct degree values.

    Plan: wedge enumeration at the shared neighbor. Candidate volume
    is Σ_w C(d(w), 2) — quadratic in hub degree — so wedge CENTERS are
    capped at ``max_degree`` (the pair_lift max_basket stance: refuse
    to detonate, replayable in the oracle as a degree filter; a
    1e6-degree hub's wedge set carries no ranking signal anyway).
    ``max_degree`` also sizes the weight table: it has
    ``max_degree − 1`` rows (one per degree in [2, max_degree]), built
    on the driver, so a huge cap costs driver memory and time.
    One groupBy builds per-center sorted neighbor arrays (bounded at
    max_degree ids each), a codegen slice-transform explodes each
    array's unordered pairs with the center's weight attached, one
    groupBy on the pair aggregates both scores, and a left_anti join
    against the edge list drops already-linked pairs. Top-k is a
    TakeOrderedAndProject on the total order
    (cn desc, aa_nano desc, a, b) — never a global sort.

    Cites reference behavior: none (beyond-reference LLM-pipeline op).
    """
    import math

    import pyarrow as pa

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()  # consumed 3×: adj both directions + anti-join
    )
    adj = e.select(F.col("u").alias("n"), F.col("v").alias("nb")).unionAll(
        e.select(F.col("v").alias("n"), F.col("u").alias("nb"))
    )
    deg = adj.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    centers = deg.filter((F.col("d") >= 2) & (F.col("d") <= int(max_degree)))
    # Every surviving degree is an integer in [2, max_degree], so the
    # 1/ln(d) weight table is ENUMERATED driver-side — no collect. The
    # r12 form collected the distinct degrees first, which forced a
    # full extra degree-build job at operator-construction time (the
    # whole adj groupBy ran once for the collect and again inside the
    # real plan). Values are unchanged: CPython libm literals
    # (bit-identical to the oracle's LN — the mixture_weights
    # precedent), and the broadcast join simply ignores absent degrees.
    # An Arrow table makes it a LocalRelation, broadcast from the JVM
    # with no Python-worker scan.
    degrees = list(range(2, int(max_degree) + 1))
    wtab = edges.sparkSession.createDataFrame(
        pa.table({
            "d": pa.array(degrees, pa.int64()),
            "w_nano": pa.array(
                [int(math.floor(1e9 / math.log(d))) for d in degrees], pa.int64()
            ),
        })
    )
    nbrs = (
        # centers is |V|-sized — no forced broadcast (AQE demotes or
        # promotes by measured size; at 10⁹ nodes this must shuffle)
        adj.join(centers, "n")
        .groupBy("n", "d")
        .agg(F.array_sort(F.collect_set("nb")).alias("ids"))
        .join(F.broadcast(wtab), "d")
    )
    cand = nbrs.select(
        F.col("w_nano"),
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "b -> struct(a AS item_a, b AS item_b))))"
            )
        ).alias("p"),
    ).select("p.item_a", "p.item_b", "w_nano")
    scores = cand.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cn"),
        F.sum("w_nano").alias("aa_nano"),
    )
    non_adj = scores.join(
        e,
        (F.col("item_a") == F.col("u")) & (F.col("item_b") == F.col("v")),
        "left_anti",
    )
    return non_adj.orderBy(
        F.col("cn").desc(), F.col("aa_nano").desc(), "item_a", "item_b"
    ).limit(int(k))


def bipartite_project(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_weight: int = 1,
    max_group: int = 64,
) -> DataFrame:
    """Weighted one-mode projection of a bipartite (group, item)
    relation: an (item_a < item_b, weight) edge per item pair sharing
    ≥ ``min_weight`` groups — THE graph constructor behind
    co-purchase, co-author, co-click and shared-near-dup-bucket
    graphs (triangle_count / link_prediction / pagerank gates all
    build this shape inline; this is the reusable named form).

    Plan: one groupBy collapses each group to its sorted distinct
    item array; groups larger than ``max_group`` are dropped BEFORE
    pair expansion (Σ C(|g|,2) is the only super-linear term — the
    pair_lift cap stance, and a group containing everything carries
    no co-occurrence signal); a codegen slice-transform explodes the
    pairs; one map-side-combined groupBy counts edge weights. Two
    shuffles total, both key-hashed — no self-join of the fact, which
    would shuffle and sort it twice.
    """
    groups = (
        df.groupBy(F.col(group_col).alias("__g"))
        .agg(F.array_sort(F.collect_set(F.col(item_col))).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= int(max_group)))
    )
    pairs = groups.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "b -> struct(a AS item_a, b AS item_b))))"
            )
        ).alias("p")
    ).select("p.item_a", "p.item_b")
    return (
        pairs.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("weight"))
        .filter(F.col("weight") >= int(min_weight))
    )


def local_clustering_topk(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int = 20,
    neighbor_cap: int = 64,
    round_dp: int = 6,
) -> DataFrame:
    """Local clustering coefficient for the ``k`` highest-degree
    nodes: lcc(v) = 2·t(v) / (c·(c−1)) where t(v) counts edges among
    v's neighbors — the hub-cohesion probe (a high-degree node with
    lcc ≈ 1 is a clique's core; ≈ 0 is a star hub / spam magnet).

    Degree cap, same contract as link_prediction's center cap: each
    top node's neighbor set is truncated to its ``neighbor_cap``
    LOWEST-ID neighbors (deterministic, oracle-replayable), bounding
    the pair expansion at k·cap²/2 — PARAMETER-sized, never
    data-sized — because top-degree nodes are by construction the
    ones whose uncapped N(v)² detonates. c is the CAPPED neighbor
    count and the reported lcc is the capped estimator (documented,
    replayed exactly by the oracle).

    Plan: degree table (one |E| shuffle), TakeOrderedAndProject for
    the top-k, per-center neighbor ranking over a k-key window, pair
    expansion, one equi-join of the (tiny) pair list against the edge
    list — AQE broadcasts the pair side by measured size.
    """
    from pyspark.storagelevel import StorageLevel

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # e feeds the degree build (twice, via sym) AND the triangle
        # semi-join probe; the upstream edge construction (typically a
        # basket explode + distinct over a fact table) is the expensive
        # part — persist so it runs once (the triangle_count policy:
        # MEMORY_ONLY, eviction frees rather than spills).
        .persist(StorageLevel.MEMORY_ONLY)
    )
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    top = deg.orderBy(F.col("d").desc(), F.col("a").asc()).limit(k)
    nbrs = sym.join(top.select(F.col("a"), F.col("d")), "a")
    from pyspark.sql import Window

    w = Window.partitionBy("a").orderBy(F.col("b").asc())
    capped = nbrs.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= neighbor_cap
    )
    pairs = (
        capped.groupBy("a", "d")
        .agg(F.array_sort(F.collect_list("b")).alias("ids"))
        .select(
            F.col("a"),
            F.col("d"),
            F.size("ids").cast("bigint").alias("c_capped"),
            F.explode_outer(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), "
                    "y -> struct(x AS nu, y AS nv))))"
                )
            ).alias("p"),
        )
        .select("a", "d", "c_capped", "p.nu", "p.nv")
        # ≤ k·cap²/2 rows by construction (parameter-bounded); read by
        # the triangle probe AND the per-center roll-up — persist so
        # the window+expansion above runs once.
        .persist(StorageLevel.MEMORY_ONLY)
    )
    tri = (
        pairs.join(
            e.select(F.col("u").alias("nu"), F.col("v").alias("nv")),
            ["nu", "nv"],
            "left_semi",
        )
        .groupBy("a")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    out = (
        pairs.select("a", "d", "c_capped")
        .distinct()
        .join(tri, "a", "left")
        .withColumn("triangles", F.coalesce(F.col("triangles"), F.lit(0).cast("bigint")))
    )
    cc = F.col("c_capped").cast("double")
    return out.select(
        F.col("a").alias("node"),
        F.col("d").alias("degree"),
        "c_capped",
        "triangles",
        F.round(
            F.try_divide(F.lit(2.0) * F.col("triangles").cast("double"), cc * (cc - F.lit(1.0))),
            round_dp,
        ).alias("lcc"),
    )


def two_hop_reach(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int = 20,
    neighbor_cap: int = 32,
) -> DataFrame:
    """Capped 1- and 2-hop reach of the ``k`` highest-degree nodes —
    the influence-radius audit (how much of the graph a hub touches
    within two steps) that sizes blast radii for takedowns and seeds
    for crawl frontier expansion.

    Both hops walk a CAPPED adjacency: every node's neighbor list is
    truncated to its ``neighbor_cap`` lowest-id neighbors
    (deterministic, replayed exactly by the oracle), bounding the
    expansion at k·cap² — parameter-sized, never data-sized; the cap
    ranking itself is one keyed window over the symmetrized edge list
    (per-key size = degree, no global sort). The reported reach is the
    capped estimator, a documented lower bound of the true reach.

    Output: (node, degree BIGINT, reach_1 BIGINT, reach_2 BIGINT) —
    reach_2 counts distinct nodes at distance 1 OR 2, self excluded.
    """
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    top = deg.orderBy(F.col("d").desc(), F.col("a").asc()).limit(k)
    w = Window.partitionBy("a").orderBy(F.col("b").asc())
    # The capped adjacency is read by hop1 AND hop2 (and carries the
    # whole upstream edge build — basket explode + distinct + window);
    # `top` is read by hop1 and the final roll-up join. Persist both so
    # the expensive subtrees run once (triangle_count cache policy:
    # MEMORY_ONLY, bounded — capped ≤ |V|·cap slim rows, top = k rows).
    capped = sym.withColumn("__rk", F.row_number().over(w)).filter(
        F.col("__rk") <= neighbor_cap
    ).select("a", "b").persist(StorageLevel.MEMORY_ONLY)
    top = top.persist(StorageLevel.MEMORY_ONLY)
    hop1 = capped.join(top.select("a"), "a")
    hop2 = hop1.select(F.col("a").alias("__ctr"), F.col("b").alias("a")).join(
        capped.select(F.col("a"), F.col("b").alias("__w")), "a"
    ).select(F.col("__ctr").alias("a"), F.col("__w").alias("b"))
    reach1 = hop1.groupBy("a").agg(F.count_distinct("b").cast("bigint").alias("reach_1"))
    both = hop1.select("a", "b").unionAll(hop2).filter(F.col("a") != F.col("b"))
    reach2 = both.groupBy("a").agg(F.count_distinct("b").cast("bigint").alias("reach_2"))
    return (
        top.join(reach1, "a", "left")
        .join(reach2, "a", "left")
        .select(
            F.col("a").alias("node"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("reach_1"), F.lit(0).cast("bigint")).alias("reach_1"),
            F.coalesce(F.col("reach_2"), F.lit(0).cast("bigint")).alias("reach_2"),
        )
    )


def degree_histogram(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Log2-binned degree distribution of an undirected graph — the
    one-page shape audit (power-law tail vs bounded lattice) run
    before any wedge/pair-expanding operator is let loose, since the
    top bucket IS the detonation risk those operators cap against.

    The bucket is the BIT LENGTH of the degree minus one (degree 1 →
    bucket 0, 2-3 → 1, 4-7 → 2, ...), computed by base-2 string
    conversion — floor(log2(d)) via libm is ±1-ulp-unsafe at exact
    powers of two and may disagree across engines; string length
    cannot. Pure integers end-to-end; one |E| shuffle for the degree
    table, a 64-row-bounded groupBy after it.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        # NO checkpoint here, deliberately: both union branches read
        # e's distinct through ONE reused exchange inside a single job,
        # so there is no recompute to save — an r12 eager checkpoint
        # measured faster at sf0.1 but 1.5x SLOWER at sf1 (3.7 -> 5.6 s;
        # the |E|-row materialization is pure linear overhead) and was
        # reverted. Contrast pagerank, where separate ACTIONS consume
        # the edge list and the checkpoint is a real win.
    )
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    bucket = (F.length(F.conv(F.col("d").cast("string"), 10, 2)) - F.lit(1)).cast("int")
    return (
        deg.select(bucket.alias("bucket"), "d")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.min("d").alias("min_deg"),
            F.max("d").alias("max_deg"),
        )
    )


def bfs_distance(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 3,
) -> DataFrame:
    """Bounded-hop multi-source BFS: the exact shortest-path distance
    (in hops) from a SEED SET to every node within ``max_hops`` — the
    blast-radius / trust-propagation / crawl-frontier primitive
    (:func:`two_hop_reach` counts a capped estimate for hubs; this is
    the exact distance field for an arbitrary seed set).

    Plan: level-synchronous frontier expansion — ``max_hops``
    iterations of (frontier ⋈ adjacency → subtract visited), each a
    plain shuffled equi-join keyed on the node id, the textbook
    Pregel/BSP schedule expressed as DataFrame ops. The visited set
    is localCheckpoint-ed per level: lineage would otherwise double
    per hop and re-derive every prior frontier from the raw scan.
    State is O(|reached|); per-level work is O(edges touching the
    frontier) — linear, never all-pairs. Hop count is a small
    constant by contract (the oracle replays it as a bounded
    recursive CTE).

    Output: (node, dist INT) — dist 0 for seeds present in the seed
    set (whether or not they appear in the edge list), minimum hop
    distance otherwise; nodes beyond ``max_hops`` are absent.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = (
        e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(e.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint()  # consumed once per hop
    )
    visited = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited
    for hop in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select(F.col("b").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return visited.select("node", F.col("dist").cast("int").alias("dist"))


def hits_scores(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration UNNORMALIZED HITS over a directed edge list:
    hubs point at good authorities, authorities are pointed at by
    good hubs — ``h'(u) = Σ_{u→v} a(v)``, ``a'(v) = Σ_{u→v} h'(u)``
    from all-ones starts. The directed companion of :func:`pagerank`
    for bipartite-flavored graphs (customers→suppliers, queries→docs)
    where "influential on each side" is the question.

    Skipping the usual per-iteration normalization is what makes the
    result EXACT: every score stays an integer (DECIMAL(38,0)
    accumulators — magnitudes grow like degree^(2k), so 38 digits
    covers degree ~10⁴ at k=4), identical in any engine, and the
    RANKING is unchanged (normalization rescales uniformly). The
    oracle unrolls the same iterations as chained CTEs (the pagerank
    pattern) with HUGEINT sums — no float accumulation order anywhere.

    Scale shape: per iteration one edge⋈score join + one
    groupBy partial-agg shuffle, edge list hash-partitioned once
    before a localCheckpoint so only the score vector reshuffles.

    Output: (node, hub BIGINT, auth BIGINT) — cast from the exact
    decimals; callers at degree scales where that could overflow
    BIGINT should lower ``iterations``.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition(F.col("src"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    iterations = int(iterations)
    if iterations < 1:
        raise ValueError(f"hits_scores needs iterations >= 1, got {iterations}")
    # SPARSE score tables through the loop: a node missing from the
    # hub/auth table scores exactly 0, and a 0 score contributes
    # nothing to any sum — so the per-iteration |V|-row nodes⋈scores
    # join the old loop used to re-densify authorities is dropped
    # (one fewer exchange per round, guide §2.4) and INNER joins
    # against the sparse tables compute identical integer sums. The
    # dense vectors are reconstructed once at the output edge.
    auth = None
    hub = None
    for _ in range(iterations):
        if auth is None:
            # first round: every authority is exactly 1, so
            # h(u) = Σ_{u→v} 1 over the edge list directly.
            hub = e.groupBy("src").agg(
                F.sum(F.lit(1).cast("decimal(38,0)")).alias("h")
            )
        else:
            hub = (
                e.join(auth, e["dst"] == auth["node"])
                .groupBy("src")
                .agg(F.sum("a").alias("h"))
            )
        # Lazy checkpoints: truncate lineage without the eager fill job
        # per iteration; under AQE building each one still runs its
        # shuffle stage, so every iteration blocks once (hub also feeds
        # the final output on the last round, so the checkpoint
        # de-duplicates that second read). A lost executor mid-chain
        # replays from the last materialized point; for long chains
        # (k >> 4) switch to eager=True every few iterations.
        hub = hub.localCheckpoint(eager=False)
        auth = (
            e.join(hub, "src")
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
            .select(F.col("dst").alias("node"), "a")
            .localCheckpoint(eager=False)
        )
    hubs = nodes.join(
        hub.select(F.col("src").alias("node"), F.col("h")), "node", "left"
    ).select("node", F.coalesce(F.col("h"), F.lit(0).cast("decimal(38,0)")).alias("h"))
    return hubs.join(auth, "node", "left").select(
        "node",
        F.col("h").cast("bigint").alias("hub"),
        F.coalesce(F.col("a"), F.lit(0).cast("decimal(38,0)")).cast("bigint").alias("auth"),
    )


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    max_hops: int = 4,
    scale: int = 840,
) -> DataFrame:
    """Bounded-hop harmonic centrality for a SEED SET: per seed,
    Σ_{v reachable, v≠seed} 1/d(seed, v), hops capped at
    ``max_hops`` — the "how central are these candidate hubs"
    ranking (influencer shortlists, mirror-placement, seed QA).
    Computed in SCALED INTEGERS: each term is ``scale DIV d`` (the
    default 840 = lcm(1..8) divides evenly for every d ≤ 8), so the
    score is an exact BIGINT — no float harmonic sum, no
    accumulation order, engine-reproducible.

    Plan: the multi-source BFS of :func:`bfs_distance` with the seed
    id CARRIED through the frontier — state is (seed, node, dist),
    O(seeds × reached); per level one shuffled equi-join on the node
    id plus a (seed, node) anti-join against the visited set, each
    localCheckpoint-ed (lineage would double per hop). Meant for a
    SHORTLIST of seeds (10s-100s): per-seed state multiplies, which
    is the explicit contract — all-nodes centrality is a different
    algorithm (HyperBall), not a bigger seed list.

    Output: (seed, n_reached BIGINT — nodes within max_hops
    excluding the seed, harmonic BIGINT — Σ scale DIV d).
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    adj = (
        e.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionAll(e.select(F.col("v").alias("a"), F.col("u").alias("b")))
        .localCheckpoint()
    )
    visited = (
        seeds.select(F.col(seed_col).alias("seed"))
        .distinct()
        .withColumn("node", F.col("seed"))
        .withColumn("dist", F.lit(0))
        .localCheckpoint()
    )
    frontier = visited
    for hop in range(1, int(max_hops) + 1):
        nxt = (
            frontier.join(adj, frontier["node"] == adj["a"])
            .select("seed", F.col("b").alias("node"))
            .distinct()
            .join(visited.select("seed", "node"), ["seed", "node"], "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    reached = visited.filter(F.col("dist") > 0)
    term = F.lit(int(scale)).cast("bigint")
    return (
        reached.withColumn("__t", F.expr(f"CAST({int(scale)} DIV dist AS BIGINT)"))
        .groupBy("seed")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reached"),
            F.sum("__t").cast("bigint").alias("harmonic"),
        )
    )
