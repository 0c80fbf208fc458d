"""Round-12 operator unit tests: diversity/association statistics,
survival components, interpolation, centrality, sampling, and text
profiles — tiny hand-computed fixtures, exact expected values."""

import datetime as dt

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- quality


def test_simpson_diversity_exact(spark):
    """n=4 with counts {a:2, b:2}: pair_same = 2·1+2·1 = 4,
    diversity = 1 − 4/12 = 2/3."""
    from awi_datapipelinepublic_spark.operators.quality import simpson_diversity

    df = spark.createDataFrame(
        [("g", "a"), ("g", "a"), ("g", "b"), ("g", "b"), ("h", "x")],
        "g string, c string",
    )
    out = {r["g"]: r for r in simpson_diversity(df, "g", "c").collect()}
    assert out["g"]["n"] == 4
    assert int(out["g"]["pair_same"]) == 4
    assert out["g"]["diversity"] == 1.0 - 4.0 / 12.0  # the literal fp formula
    assert out["h"]["n"] == 1 and out["h"]["diversity"] is None


def test_odds_ratio_cells_and_ratio(spark):
    """a=2, b=1, c=1, d=2 → OR = 4/1 = 4.0."""
    from awi_datapipelinepublic_spark.operators.quality import odds_ratio

    rows = [("g", 1, 1)] * 2 + [("g", 1, 0)] + [("g", 0, 1)] + [("g", 0, 0)] * 2
    df = spark.createDataFrame(rows, "g string, e int, o int")
    r = odds_ratio(df, "g", F.col("e") == 1, F.col("o") == 1).collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (2, 1, 1, 2)
    assert r["or_num"] == 4 and r["or_den"] == 1
    assert r["odds_ratio"] == 4.0


def test_odds_ratio_zero_denominator_is_null(spark):
    from awi_datapipelinepublic_spark.operators.quality import odds_ratio

    df = spark.createDataFrame([("g", 1, 1), ("g", 0, 0)], "g string, e int, o int")
    r = odds_ratio(df, "g", F.col("e") == 1, F.col("o") == 1).collect()[0]
    assert r["odds_ratio"] is None and r["or_den"] == 0


def test_dispersion_index_poisson_like_and_constant(spark):
    """x = [1,2,3]: n=3, S=6, Q=14 → num = 42−36 = 6, den = 12,
    D = 0.5; a constant series has D = 0."""
    from awi_datapipelinepublic_spark.operators.quality import dispersion_index

    df = spark.createDataFrame(
        [("k", 1), ("k", 2), ("k", 3), ("c", 5), ("c", 5)], "k string, x int"
    )
    out = {r["k"]: r for r in dispersion_index(df, "k", "x").collect()}
    assert int(out["k"]["d_num"]) == 6 and int(out["k"]["d_den"]) == 12
    assert out["k"]["dispersion"] == 0.5
    assert out["c"]["dispersion"] == 0.0


# ------------------------------------------------------------- timeseries


def test_kendall_tau_perfect_and_reversed(spark):
    from awi_datapipelinepublic_spark.operators.timeseries import kendall_tau

    up = spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20), (3, 3, 30)], "i int, x int, y int"
    )
    r = kendall_tau(up, "x", "y", "i").collect()[0]
    assert (r["concordant"], r["discordant"]) == (3, 0)
    assert r["tau_b"] == 1.0

    down = spark.createDataFrame(
        [(1, 1, 30), (2, 2, 20), (3, 3, 10)], "i int, x int, y int"
    )
    r = kendall_tau(down, "x", "y", "i").collect()[0]
    assert r["tau_b"] == -1.0


def test_kendall_tau_ties_counted(spark):
    """Points (1,1),(2,1),(3,2): one x-ascending tie in y."""
    from awi_datapipelinepublic_spark.operators.timeseries import kendall_tau

    df = spark.createDataFrame([(1, 1, 1), (2, 2, 1), (3, 3, 2)], "i int, x int, y int")
    r = kendall_tau(df, "x", "y", "i").collect()[0]
    assert r["n_pairs"] == 3 and r["ties_y"] == 1 and r["ties_x"] == 0
    assert r["concordant"] == 2 and r["discordant"] == 0


def test_kendall_tau_pair_join_is_not_cartesian(spark):
    """With 32 input slices the pair self-join must not plan as a
    CartesianProduct (32 × 32 = 1,024 tasks for 3 rows); one side is
    broadcast, so it runs as a BroadcastNestedLoopJoin."""
    from awi_datapipelinepublic_spark.operators.timeseries import kendall_tau

    rows = spark.sparkContext.parallelize([(1, 1, 10), (2, 2, 20), (3, 3, 30)], 32)
    out = kendall_tau(spark.createDataFrame(rows, "i int, x int, y int"), "x", "y", "i")
    assert out.collect()[0]["tau_b"] == 1.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_kendall_tau_refuses_above_cap(spark):
    from awi_datapipelinepublic_spark.operators.timeseries import kendall_tau

    assert "QUADRATIC" in kendall_tau.__doc__  # declared loudly
    big = spark.range(11).select(
        F.col("id").alias("i"), F.col("id").alias("x"), F.col("id").alias("y")
    )
    with pytest.raises(ValueError, match="quadratic"):
        kendall_tau(big, "x", "y", "i", max_points=10)


def test_growth_decomposition_shares_sum_to_one(spark):
    from awi_datapipelinepublic_spark.operators.timeseries import growth_decomposition

    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 30), ("b", 1, 5), ("b", 2, 15)],
        "g string, p int, v int",
    )
    out = {r["g"]: r for r in growth_decomposition(df, "g", "p", "v", 1, 2).collect()}
    assert out["a"]["delta"] == 20 and out["b"]["delta"] == 10
    assert out["a"]["delta_share"] + out["b"]["delta_share"] == 1.0
    assert out["a"]["delta_share"] == 20 / 30


def test_linear_interpolate_fills_gap_exactly(spark):
    """Days 1 and 4 observed at 10 and 40 → days 2, 3 interpolate to
    20, 30; observed days pass through."""
    from awi_datapipelinepublic_spark.operators.timeseries import linear_interpolate

    df = spark.createDataFrame(
        [("k", dt.date(2024, 1, 1), 10), ("k", dt.date(2024, 1, 4), 40)],
        "k string, day date, v int",
    )
    rows = {
        r["day"]: r for r in linear_interpolate(df, "k", "day", "v").collect()
    }
    assert len(rows) == 4
    assert rows[dt.date(2024, 1, 1)]["interp"] == 10.0
    assert rows[dt.date(2024, 1, 2)]["interp"] == 20.0
    assert rows[dt.date(2024, 1, 3)]["interp"] == 30.0
    assert rows[dt.date(2024, 1, 4)]["value"] == 40
    assert rows[dt.date(2024, 1, 2)]["value"] is None


# ---------------------------------------------------------------- privacy


def test_l_diversity_flags_low_diversity_groups(spark):
    from awi_datapipelinepublic_spark.functions.privacy import l_diversity

    df = spark.createDataFrame(
        [("q1", "flu"), ("q1", "flu"), ("q1", "cold"), ("q2", "flu"), ("q2", "flu")],
        "q string, s string",
    )
    out = {r["q"]: r for r in l_diversity(df, ["q"], "s", l=2).collect()}
    assert out["q1"]["n_sensitive"] == 2 and out["q1"]["at_risk"] == 0
    assert out["q1"]["top_sensitive_n"] == 2
    assert out["q2"]["n_sensitive"] == 1 and out["q2"]["at_risk"] == 1


# --------------------------------------------------------------- sampling


def test_systematic_sample_every_kth(spark):
    from awi_datapipelinepublic_spark.operators.sampling import systematic_sample

    df = spark.range(100).select(F.col("id"))
    out = systematic_sample(df, [F.col("id").asc()], 10)
    got = sorted(r["id"] for r in out.collect())
    assert got == list(range(0, 100, 10))
    ranks = sorted(r["rn"] for r in out.collect())
    assert ranks == [1, 11, 21, 31, 41, 51, 61, 71, 81, 91]


def test_systematic_sample_rejects_bad_k(spark):
    from awi_datapipelinepublic_spark.operators.sampling import systematic_sample

    with pytest.raises(ValueError, match="k >= 1"):
        systematic_sample(spark.range(5), [F.col("id")], 0)


# ----------------------------------------------------------------- events


def test_km_hazard_life_table(spark):
    """Durations: events at t=1 (×2), t=3 (×1); censored at t=2 (×1).
    n_risk: t=1 → 4, t=2 → 2, t=3 → 1."""
    from awi_datapipelinepublic_spark.operators.events import km_hazard

    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 0), (3, 1)], "dur int, ev int"
    )
    rows = {r["duration"]: r for r in km_hazard(df, "dur", "ev").collect()}
    assert rows[1]["n_risk"] == 4 and rows[1]["n_event"] == 2
    assert rows[2]["n_risk"] == 2 and rows[2]["n_censored"] == 1
    assert rows[3]["n_risk"] == 1 and rows[3]["surv_num"] == 0
    assert rows[1]["surv_num"] == 2 and rows[1]["surv_den"] == 4


def test_new_vs_returning_split(spark):
    from awi_datapipelinepublic_spark.operators.events import new_vs_returning

    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 9)),
            (1, dt.datetime(2024, 1, 2, 9)),
            (2, dt.datetime(2024, 1, 2, 9)),
            (2, dt.datetime(2024, 1, 2, 10)),  # same day dedup
        ],
        "user_id long, ts timestamp",
    )
    rows = {r["day"]: r for r in new_vs_returning(df).collect()}
    assert rows[dt.date(2024, 1, 1)]["new_users"] == 1
    assert rows[dt.date(2024, 1, 2)]["active"] == 2
    assert rows[dt.date(2024, 1, 2)]["new_users"] == 1
    assert rows[dt.date(2024, 1, 2)]["returning"] == 1


def test_repeat_rate_counts(spark):
    from awi_datapipelinepublic_spark.operators.events import repeat_rate

    df = spark.createDataFrame(
        [("s", 1), ("s", 1), ("s", 2), ("t", 3)], "g string, e int"
    )
    out = {r["g"]: r for r in repeat_rate(df, "g", "e").collect()}
    assert out["s"]["n_entities"] == 2 and out["s"]["n_repeat"] == 1
    assert out["s"]["repeat_rate"] == 0.5
    assert out["t"]["repeat_rate"] == 0.0


def test_session_duration_hist_bins(spark):
    """One 7-minute session and one instant event: bins 1 and 0 with
    5-minute bins."""
    from awi_datapipelinepublic_spark.operators.events import session_duration_hist

    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 9, 0)),
            (1, dt.datetime(2024, 1, 1, 9, 7)),
            (2, dt.datetime(2024, 1, 1, 9, 0)),
        ],
        "user_id long, ts timestamp",
    )
    rows = {r["bin"]: r for r in session_duration_hist(df, bin_minutes=5).collect()}
    assert rows[1]["n_sessions"] == 1 and rows[1]["bin_start_min"] == 5
    assert rows[0]["n_sessions"] == 1


# ------------------------------------------------------------------ graph


def test_harmonic_centrality_path_graph(spark):
    """Path 1-2-3-4, seed 1, hops 3, scale 840: 840 + 420 + 280 = 1540."""
    from awi_datapipelinepublic_spark.operators.graph import harmonic_centrality

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    r = harmonic_centrality(edges, seeds, max_hops=3).collect()[0]
    assert r["n_reached"] == 3 and r["harmonic"] == 840 + 420 + 280


def test_harmonic_centrality_multi_seed_independent(spark):
    """Seeds at both ends of 1-2-3: each sees the other two."""
    from awi_datapipelinepublic_spark.operators.graph import harmonic_centrality

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,), (3,)], "node long")
    out = {r["seed"]: r for r in harmonic_centrality(edges, seeds, max_hops=2).collect()}
    assert out[1]["harmonic"] == 840 + 420
    assert out[3]["harmonic"] == 840 + 420


# ----------------------------------------------------------------- corpus


def test_char_ngram_topk_counts_and_rank(spark):
    """'ababa' → trigrams aba, bab, aba: aba ×2 rank 1, bab ×1 rank 2."""
    from awi_datapipelinepublic_spark.operators.corpus import char_ngram_topk

    df = spark.createDataFrame([("en", "ABABA")], "lang string, text string")
    rows = char_ngram_topk(df, "lang", "text", n=3, k=10).orderBy("rank").collect()
    assert [(r["gram"], r["freq"], r["rank"]) for r in rows] == [
        ("aba", 2, 1),
        ("bab", 1, 2),
    ]


def test_char_ngram_topk_skips_short_and_normalizes(spark):
    """Whitespace collapses before gram extraction; docs shorter than
    n contribute nothing."""
    from awi_datapipelinepublic_spark.operators.corpus import char_ngram_topk

    df = spark.createDataFrame(
        [("en", "a  b"), ("en", "x")], "lang string, text string"
    )
    rows = char_ngram_topk(df, "lang", "text", n=3, k=10).collect()
    assert [(r["gram"], r["freq"]) for r in rows] == [("a b", 1)]


# --------------------------------------------------- quality (batch 2)


def test_grouped_quartiles_exact_ranks(spark):
    """n=5 values 10..50: ranks 2,3,4 → q1=20, q2=30, q3=40."""
    from awi_datapipelinepublic_spark.operators.quality import grouped_quartiles

    df = spark.createDataFrame(
        [("g", v, i) for i, v in enumerate([10, 20, 30, 40, 50])],
        "g string, v int, i int",
    )
    r = grouped_quartiles(df, "g", "v", "i").collect()[0]
    assert (r["n"], r["q1"], r["q2"], r["q3"]) == (5, 20, 30, 40)


def test_grouped_quartiles_small_group_rank_collision(spark):
    """n=2: all three target ranks are 1 → q1=q2=q3=min value."""
    from awi_datapipelinepublic_spark.operators.quality import grouped_quartiles

    df = spark.createDataFrame([("g", 7, 1), ("g", 9, 2)], "g string, v int, i int")
    r = grouped_quartiles(df, "g", "v", "i").collect()[0]
    assert (r["q1"], r["q2"], r["q3"]) == (7, 7, 7)


def test_quartile_skew_symmetric_zero(spark):
    from awi_datapipelinepublic_spark.operators.quality import quartile_skew

    df = spark.createDataFrame(
        [("g", v, i) for i, v in enumerate([10, 20, 30, 40, 50])],
        "g string, v int, i int",
    )
    r = quartile_skew(df, "g", "v", "i").collect()[0]
    assert r["skew"] == 0.0


def test_iqr_outliers_census(spark):
    """Values 10,20,30,40,1000 (n=5): q1=20, q3=40, iqr=20 → fences
    [-10, 70]: one high outlier."""
    from awi_datapipelinepublic_spark.operators.quality import iqr_outliers

    df = spark.createDataFrame(
        [("g", v, i) for i, v in enumerate([10, 20, 30, 40, 1000])],
        "g string, v int, i int",
    )
    r = iqr_outliers(df, "g", "v", "i").collect()[0]
    assert (r["q1"], r["q3"], r["iqr"]) == (20, 40, 20)
    assert (r["n_low"], r["n_high"]) == (0, 1)
    assert r["outlier_rate"] == 1.0 / 5.0


def test_capture_recapture_estimate(spark):
    """n1=4, n2=3, overlap 2 → estimate 6.0, observed 5."""
    from awi_datapipelinepublic_spark.operators.quality import capture_recapture

    a = spark.createDataFrame([(i,) for i in [1, 2, 3, 4]], "k int")
    b = spark.createDataFrame([(i,) for i in [3, 4, 5]], "k int")
    r = capture_recapture(a, b, "k").collect()[0]
    assert (r["n_a"], r["n_b"], r["n_both"], r["n_observed"]) == (4, 3, 2, 5)
    assert r["estimate"] == 6.0


def test_split_gini_pure_and_mixed(spark):
    """Side 1 is pure (gini 0); side 0 is 2+2 (gini 0.5)."""
    from awi_datapipelinepublic_spark.operators.quality import split_gini

    rows = [(1, "a"), (1, "a"), (0, "a"), (0, "a"), (0, "b"), (0, "b")]
    df = spark.createDataFrame(rows, "e int, c string")
    out = {r["side"]: r for r in split_gini(df, F.col("e") == 1, "c").collect()}
    assert out[1]["gini"] == 0.0 and out[1]["sum_c2"] == 4
    assert out[0]["gini"] == 0.5 and out[0]["sum_c2"] == 8


def test_auc_eval_perfect_and_random(spark):
    """Positives all score higher → AUC 1; identical scores → 0.5."""
    from awi_datapipelinepublic_spark.operators.quality import auc_eval

    perfect = spark.createDataFrame(
        [(10, 1), (9, 1), (2, 0), (1, 0)], "s int, y int"
    )
    r = auc_eval(perfect, "s", F.col("y") == 1).collect()[0]
    assert (r["n_pos"], r["n_neg"]) == (2, 2)
    assert r["auc"] == 1.0

    ties = spark.createDataFrame([(5, 1), (5, 0), (5, 1), (5, 0)], "s int, y int")
    r = auc_eval(ties, "s", F.col("y") == 1).collect()[0]
    assert r["auc"] == 0.5


def test_auc_eval_midrank_ties(spark):
    """Scores 1(neg), 2(pos+neg tie), 3(pos): positive 2·midranks are
    {5, 8} → u2 = 13 − 6 = 7, auc = 7/8 (hand check: wins 3 + tie ½
    over 4 pairs)."""
    from awi_datapipelinepublic_spark.operators.quality import auc_eval

    df = spark.createDataFrame([(1, 0), (2, 1), (2, 0), (3, 1)], "s int, y int")
    r = auc_eval(df, "s", F.col("y") == 1).collect()[0]
    assert r["u2"] == 7 and r["auc"] == 7.0 / 8.0


# ---------------------------------------------------- corpus (batch 2)


def test_chao1_richness_formula(spark):
    """Tokens: a a b c → V=3, f1=2 (b,c), f2=1 (a):
    chao1 = 3 + 2·1/(2·2) = 3.5; singleton share 2/4."""
    from awi_datapipelinepublic_spark.operators.corpus import chao1_richness

    df = spark.createDataFrame([("en", "a a b c")], "lang string, text string")
    r = chao1_richness(df).collect()[0]
    assert (r["n_tokens"], r["vocab"], r["f1"], r["f2"]) == (4, 3, 2, 1)
    assert r["chao1"] == 3.0 + 2.0 / 4.0
    assert r["singleton_share"] == 0.5


# ---------------------------------------------------------------- batch 3


def test_dup_rate_by_source(spark):
    """Source s: 3 docs, 2 distinct (whitespace/case collapse) →
    1 dup, rate 1/3; source t all unique."""
    from awi_datapipelinepublic_spark.operators.dedup import dup_rate_by_source

    df = spark.createDataFrame(
        [("s", "Hello  world"), ("s", "hello world"), ("s", "bye"), ("t", "x")],
        "source string, text string",
    )
    out = {r["source"]: r for r in dup_rate_by_source(df).collect()}
    assert out["s"]["n_docs"] == 3 and out["s"]["n_distinct"] == 2
    assert out["s"]["n_dup_docs"] == 1 and out["s"]["dup_rate"] == 1.0 / 3.0
    assert out["t"]["dup_rate"] == 0.0


def test_palma_ratio_exact_cuts(spark):
    """10 entities with values 1..10: k10=1 (top value 10), k40=4
    (bottom values 1..4 sum 10) → palma = 1.0."""
    from awi_datapipelinepublic_spark.operators.quality import palma_ratio

    df = spark.createDataFrame([(i, i) for i in range(1, 11)], "e int, v int")
    r = palma_ratio(df, "e", "v").collect()[0]
    assert (r["n"], r["k10"], r["k40"]) == (10, 1, 4)
    assert r["top_sum"] == 10 and r["bottom_sum"] == 10
    assert r["palma"] == 1.0


def test_palma_ratio_zero_bottom_is_null(spark):
    from awi_datapipelinepublic_spark.operators.quality import palma_ratio

    df = spark.createDataFrame(
        [(1, 100)] + [(i, 0) for i in range(2, 11)], "e int, v int"
    )
    r = palma_ratio(df, "e", "v").collect()[0]
    assert r["bottom_sum"] == 0 and r["palma"] is None
