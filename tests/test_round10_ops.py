"""Round-10 operator contracts: hand-computable fixtures for the new
time-series, concentration, graph, audit, and allocation operators.

Every operator also has a DuckDB-hash-verified driver gate; these
tests pin the SEMANTICS on inputs small enough to verify by hand
(the oracle only proves Spark and DuckDB agree — not that both mean
what the docstring says).
"""

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F


def test_acf_lags_constant_and_alternating(spark):
    """A constant series has zero deviations (NULL acf via 0/0); a
    ±1-alternating series has acf(1) = -1, acf(2) = +1 exactly."""
    from awi_datapipelinepublic_spark.operators.timeseries import acf_lags

    # alternating 10, 12, 10, 12... mean 11 exactly (even count)
    rows = [(i, 10 if i % 2 == 0 else 12) for i in range(10)]
    df = spark.createDataFrame(rows, "idx int, v long")
    out = {r["lag"]: (r["n_pairs"], r["acf"]) for r in acf_lags(df, "idx", "v", 2).collect()}
    assert out[1][0] == 9 and out[2][0] == 8
    # lag-1 pairs all have dev_t·dev_{t+1} = -1·(n·1)² scale; ratio is
    # n_pairs/n_total of full strength: 9 of 10 deviations pair at lag 1
    assert out[1][1] == pytest.approx(-0.9)
    assert out[2][1] == pytest.approx(0.8)

    const = spark.createDataFrame([(i, 7) for i in range(6)], "idx int, v long")
    for r in acf_lags(const, "idx", "v", 2).collect():
        assert r["acf"] is None  # zero variance → try_divide NULL

    # calendar gap: missing idx shrinks n_pairs, never misaligns
    gappy = spark.createDataFrame(
        [(0, 1), (1, 5), (3, 9)], "idx int, v long"
    )
    got = {r["lag"]: r["n_pairs"] for r in acf_lags(gappy, "idx", "v", 1).collect()}
    assert got[1] == 1  # only (0,1) pairs; (1,3) is a gap


def test_holt_linear_tracks_exact_line(spark):
    """On a perfect line the recursion converges toward the line; the
    first two steps are hand-checkable with alpha=0.5, beta=0.5."""
    from awi_datapipelinepublic_spark.operators.timeseries import holt_linear

    df = spark.createDataFrame(
        [(1, i, float(10 + 2 * i)) for i in range(4)], "k int, t int, v double"
    )
    out = {r["t"]: (r["level"], r["trend"]) for r in holt_linear(df, "k", "t", "v", 0.5, 0.5).collect()}
    assert out[0] == (10.0, 0.0)
    # l1 = .5*12 + .5*(10+0) = 11 ; b1 = .5*(11-10) + .5*0 = 0.5
    assert out[1] == (11.0, 0.5)
    # l2 = .5*14 + .5*(11.5) = 12.75 ; b2 = .5*1.75 + .25 = 1.125
    assert out[2] == (12.75, 1.125)
    # keys never mix
    two = df.union(spark.createDataFrame([(2, 0, 100.0)], "k int, t int, v double"))
    got = holt_linear(two, "k", "t", "v", 0.5, 0.5).filter(F.col("k") == 2).collect()
    assert (got[0]["level"], got[0]["trend"]) == (100.0, 0.0)


def test_holt_linear_carry_across_arrow_batches(spark):
    """The r12 mapInPandas form carries (level, trend) state across
    Arrow batches within a task: with a tiny maxRecordsPerBatch a
    single key's history spans several batches, and every double must
    still be bit-identical to the plain sequential recursion."""
    from awi_datapipelinepublic_spark.operators.timeseries import holt_linear

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        a, b = 0.3, 0.1
        rows = [("k", i, float((i * 7919) % 113) / 3.0) for i in range(40)]
        rows += [("j", i, float(100 - i)) for i in range(9)]
        df = spark.createDataFrame(rows, "k string, t long, v double")
        got = {
            (r["k"], r["t"]): (r["level"], r["trend"])
            for r in holt_linear(df, "k", "t", "v", a, b).collect()
        }

        def replay(vals):
            out, l, tr = [], 0.0, 0.0
            for i, x in enumerate(vals):
                if i == 0:
                    l, tr = float(x), 0.0
                else:
                    pl, pt = l, tr
                    l = a * float(x) + (1.0 - a) * (pl + pt)
                    tr = b * (l - pl) + (1.0 - b) * pt
                out.append((l, tr))
            return out

        for key, n in (("k", 40), ("j", 9)):
            vals = [v for kk, _, v in rows if kk == key]
            for i, exp in enumerate(replay(vals)):
                assert got[(key, i)] == exp, (key, i)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_holt_linear_nan_keys_form_one_series(spark):
    """Float-NaN keys must behave like ONE series (groupBy semantics:
    Spark grouping normalizes NaN = NaN), not restart the recursion
    per row (NaN != NaN would) — the r12 ADVICE hazard. Values over
    the NaN group must be bit-identical to the same history under an
    ordinary key. Only the NaN group and one preceding real key are
    covered: NaN sorts greatest in Spark, so no key follows the NaN
    series, and state leaking out of it into a later key is not
    exercised here."""
    from awi_datapipelinepublic_spark.operators.timeseries import holt_linear

    a, b = 0.3, 0.1
    hist = [float((i * 31) % 17) for i in range(12)]
    nan = float("nan")
    rows = [(nan, i, v) for i, v in enumerate(hist)]
    rows += [(2.0, i, v) for i, v in enumerate(hist)]  # same history, real key
    df = spark.createDataFrame(rows, "k double, t long, v double")
    out = holt_linear(df, "k", "t", "v", a, b).collect()
    # the pandas->Arrow return path maps the float-NaN KEY cell to null
    # in the output (same in the old applyInPandas form) — the group
    # itself is identified by not-being-the-real-key
    got_nan = {
        r["t"]: (r["level"], r["trend"])
        for r in out
        if r["k"] is None or math.isnan(r["k"])
    }
    got_two = {r["t"]: (r["level"], r["trend"]) for r in out if r["k"] == 2.0}
    assert len(got_nan) == len(hist) == len(got_two)
    # one series: row i != reinitialized (level=x_i, trend=0) beyond i=0,
    # and bit-identical to the ordinary-key replay of the same history
    assert got_nan == got_two
    assert got_nan[1] != (hist[1], 0.0), "NaN keys restarted per row"


def test_twap_interval_weights_by_holding_time(spark):
    """v=10 held 3s then v=20 held 1s then a terminal sample:
    TWAP = (10·3 + 20·1)/4 = 12.5; the last observation is unweighted."""
    from awi_datapipelinepublic_spark.operators.timeseries import twap_interval

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10.0),
        (1, t0 + dt.timedelta(seconds=3), 20.0),
        (1, t0 + dt.timedelta(seconds=4), 999.0),  # terminal: no interval
    ]
    df = spark.createDataFrame(rows, "u int, ts timestamp, v double")
    out = twap_interval(df, "u", "ts", "v").collect()
    assert len(out) == 1
    assert out[0]["n_intervals"] == 2
    assert out[0]["twap"] == pytest.approx(12.5)


def test_burstiness_metronome_vs_bursty(spark):
    """Equal gaps → σ=0 → B = (0-μ)/(0+μ) = -1 exactly; a bursty
    pattern scores > the metronome."""
    from awi_datapipelinepublic_spark.operators.events import burstiness

    t0 = dt.datetime(2024, 1, 1)
    metro = [(1, t0 + dt.timedelta(seconds=10 * i)) for i in range(7)]
    bursty = [(2, t0 + dt.timedelta(seconds=s)) for s in [0, 1, 2, 3, 4, 1000]]
    df = spark.createDataFrame(metro + bursty, "u int, ts timestamp")
    out = {r["u"]: (r["n_gaps"], r["burstiness"]) for r in burstiness(df, "u", "ts", min_gaps=5).collect()}
    assert out[1] == (6, -1.0)
    assert out[2][0] == 5 and out[2][1] > 0.0  # bursty ≫ metronome's -1
    # below min_gaps → dropped
    few = spark.createDataFrame([(3, t0), (3, t0 + dt.timedelta(seconds=5))], "u int, ts timestamp")
    assert burstiness(few, "u", "ts", min_gaps=5).count() == 0


def test_hhi_concentration_monopoly_and_uniform(spark):
    """One member owning everything → HHI = 1; k equal members →
    HHI = 1/k; zero-total group → NULL."""
    from awi_datapipelinepublic_spark.operators.quality import hhi_concentration

    rows = (
        [("mono", 1, 500)]
        + [("quad", m, 100) for m in range(4)]
        + [("zero", 1, 0), ("zero", 2, 0)]
    )
    df = spark.createDataFrame(rows, "g string, m int, amt long")
    out = {r["g"]: (r["n_members"], r["hhi"]) for r in hhi_concentration(df, "g", "m", "amt").collect()}
    assert out["mono"] == (1, 1.0)
    assert out["quad"] == (4, 0.25)
    assert out["zero"][1] is None


def test_local_clustering_topk_clique_vs_star(spark):
    """A 4-clique's members have lcc=1; a star hub has lcc=0; the cap
    truncates to the lowest-id neighbors."""
    from awi_datapipelinepublic_spark.operators.graph import local_clustering_topk

    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    star = [(100, x) for x in range(101, 107)]  # hub degree 6, leaves unconnected
    df = spark.createDataFrame(clique + star, "u long, v long")
    out = {r["node"]: r for r in local_clustering_topk(df, "u", "v", k=2, neighbor_cap=64).collect()}
    # top-2 by degree: hub 100 (deg 6), then node 0 (deg 3, lowest id tiebreak)
    assert set(out) == {100, 0}
    assert out[100]["lcc"] == 0.0 and out[100]["triangles"] == 0
    assert out[0]["lcc"] == 1.0 and out[0]["triangles"] == 3
    # cap: hub's capped neighbor count limited to 2 lowest ids
    capped = {r["node"]: r for r in local_clustering_topk(df, "u", "v", k=1, neighbor_cap=2).collect()}
    assert capped[100]["c_capped"] == 2 and capped[100]["degree"] == 6


def test_split_leakage_audit_flags_near_dup_across_split(spark):
    """A test-split document that is a near-duplicate of a train
    document is flagged; self-contained: split membership is derived
    from the same md5 rule the operator uses."""
    from awi_datapipelinepublic_spark.operators.dedup import split_leakage_audit
    from awi_datapipelinepublic_spark.operators.sampling import train_val_test_split

    text = "the quick brown fox jumps over the lazy dog again and again"
    # enough ids that both splits are populated
    docs = spark.createDataFrame(
        [(i, text) for i in range(40)] + [(i, f"unique text number {i} nothing shared here at all") for i in range(40, 60)],
        "doc_id long, text string",
    )
    splits = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(docs, "doc_id").collect()
    }
    dup_train = [i for i in range(40) if splits[i] == "train"]
    dup_holdout = [i for i in range(40) if splits[i] != "train"]
    assert dup_train and dup_holdout, "fixture must straddle the split"
    out = {r["doc_id"]: r for r in split_leakage_audit(docs, k=3).collect()}
    for i in dup_holdout:
        assert i in out, f"identical holdout doc {i} must be flagged"
        assert out[i]["train_match"] == min(dup_train)
        assert out[i]["n_shared_bands"] == 8  # identical text → all bands
    # unique holdout docs never flagged
    for i in range(40, 60):
        if splits[i] != "train":
            assert i not in out


def test_unimax_weights_caps_and_budget(spark):
    """Low-resource groups saturate at epoch_cap·size; the remainder
    spreads over larger groups; total never exceeds the budget."""
    from awi_datapipelinepublic_spark.operators.sampling import unimax_weights

    rows = [("tiny", 10)] * 1 + [("mid", 100)] * 1 + [("big", 10_000)] * 1
    df = spark.createDataFrame(rows, "g string, n long")
    out = {r["g"]: r for r in unimax_weights(df, "g", "n", total_budget=1000, epoch_cap=2).collect()}
    # ascending order: tiny(10) capped at 20; mid(100) capped at 200
    # (fair share 490 > cap); big gets the rest min(20000, 780) = 780
    assert out["tiny"]["quota"] == 20
    assert out["mid"]["quota"] == 200
    assert out["big"]["quota"] == 780
    assert sum(r["quota"] for r in out.values()) <= 1000
    assert out["big"]["weight"] == pytest.approx(0.78)


def test_unimax_weights_non_string_group_col(spark):
    """An int domain id as group column must keep its source type in
    the output (no hardcoded-string coercion, no createDataFrame
    failure)."""
    from awi_datapipelinepublic_spark.operators.sampling import unimax_weights

    df = spark.createDataFrame([(7, 10), (9, 100)], "dom int, n long")
    out = unimax_weights(df, "dom", "n", total_budget=100, epoch_cap=2)
    assert out.schema["dom"].dataType.simpleString() == "int"
    got = {r["dom"]: r["quota"] for r in out.collect()}
    assert got == {7: 20, 9: 80}


def test_weekday_profile_exact_shares(spark):
    """Two Mondays totalling 30 and one Sunday of 10: Monday (dow=2)
    share 0.75, n_days counts distinct dates."""
    from awi_datapipelinepublic_spark.operators.timeseries import weekday_profile

    rows = [
        (dt.date(2024, 1, 1), 10),   # Monday
        (dt.date(2024, 1, 8), 20),   # Monday
        (dt.date(2024, 1, 7), 10),   # Sunday
    ]
    df = spark.createDataFrame(rows, "d date, amt long")
    out = {r["dow"]: r for r in weekday_profile(df, "d", "amt").collect()}
    assert out[2]["n_days"] == 2 and out[2]["total"] == 30
    assert out[2]["share"] == pytest.approx(0.75)
    assert out[1]["share"] == pytest.approx(0.25)


def test_embedding_drift_identical_and_opposite_halves(spark):
    """Identical halves → cos 1; sign-flipped halves → cos -1."""
    from awi_datapipelinepublic_spark.operators.similarity import embedding_drift

    same = spark.createDataFrame(
        [(i, [0.5, -0.25, 0.125]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    out = embedding_drift(same).collect()[0]
    assert out["drift_cos"] == pytest.approx(1.0)
    assert out["n_even"] == 4 and out["n_odd"] == 4
    flipped = spark.createDataFrame(
        [(i, [0.5, -0.25] if i % 2 == 0 else [-0.5, 0.25]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    assert embedding_drift(flipped).collect()[0]["drift_cos"] == pytest.approx(-1.0)


def test_two_hop_reach_path_graph(spark):
    """Path 1-2-3-4-5: center 3 reaches {2,4} at hop1, {1,2,4,5} by
    hop2; caps truncate to lowest-id neighbors."""
    from awi_datapipelinepublic_spark.operators.graph import two_hop_reach

    path = [(1, 2), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(path, "u long, v long")
    out = {r["node"]: r for r in two_hop_reach(df, "u", "v", k=1, neighbor_cap=32).collect()}
    # top-1 by degree: nodes 2,3,4 all deg 2 → lowest id 2 wins
    assert set(out) == {2}
    assert out[2]["reach_1"] == 2          # {1, 3}
    assert out[2]["reach_2"] == 3          # {1, 3, 4}; self excluded
    # cap=1 keeps only the lowest-id neighbor at each hop
    capped = {r["node"]: r for r in two_hop_reach(df, "u", "v", k=1, neighbor_cap=1).collect()}
    assert capped[2]["reach_1"] == 1       # {1}
    assert capped[2]["reach_2"] == 1       # 1's capped nbr is 2 = self → excluded


def test_degree_histogram_buckets(spark):
    """Degrees 1,2,3,4 land in buckets 0,1,1,2 with exact min/max."""
    from awi_datapipelinepublic_spark.operators.graph import degree_histogram

    # star core 0 with 4 leaves (deg 4), a triangle hanging off leaf 1
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2), (1, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    # degrees: 0→4, 1→3, 2→2, 3→1, 4→1, 5→1
    out = {r["bucket"]: r for r in degree_histogram(df, "u", "v").collect()}
    assert out[0]["n_nodes"] == 3 and out[0]["min_deg"] == 1 and out[0]["max_deg"] == 1
    assert out[1]["n_nodes"] == 2 and out[1]["min_deg"] == 2 and out[1]["max_deg"] == 3
    assert out[2]["n_nodes"] == 1 and out[2]["min_deg"] == 4


def test_round10_zero_denominators_yield_null_not_error(spark):
    """ANSI robustness: every r10 division with a data-dependent
    denominator must NULL out on degenerate input (try_divide), never
    raise — the driver runs a vanilla ANSI-on session."""
    import datetime as dt

    from awi_datapipelinepublic_spark.operators.events import burstiness
    from awi_datapipelinepublic_spark.operators.similarity import embedding_drift
    from awi_datapipelinepublic_spark.operators.timeseries import twap_interval

    t0 = dt.datetime(2024, 1, 1)
    # all events in the same second: every gap is 0 → sd+mu = 0
    same = spark.createDataFrame(
        [(1, t0 + dt.timedelta(microseconds=i)) for i in range(6)],
        "u int, ts timestamp",
    )
    rows = burstiness(same, "u", "ts", min_gaps=5).collect()
    assert rows[0]["burstiness"] is None
    # all samples in the same second: every dt is 0 → den = 0
    tw = spark.createDataFrame(
        [(1, t0 + dt.timedelta(microseconds=i), 5.0) for i in range(3)],
        "u int, ts timestamp, v double",
    )
    out = twap_interval(tw, "u", "ts", "v").collect()
    assert out[0]["twap"] is None
    # all-zero embeddings: both norms 0 → NULL cosine
    zeros = spark.createDataFrame(
        [(i, [0.0, 0.0]) for i in range(4)], "vec_id long, embedding array<double>"
    )
    assert embedding_drift(zeros).collect()[0]["drift_cos"] is None


def test_ann_ndcg_perfect_index_scores_one(spark):
    """Identical-direction vectors: every IVF assignment lands in one
    cluster and every ranking tie breaks by id identically in approx
    and exact — nDCG is exactly 1.0 for every query. (A 10-vector
    corpus still builds max(8, n//64) = 8 centroids, so a spread-out
    fixture legitimately scores < 1 — the metric working, not a bug.)"""
    from awi_datapipelinepublic_spark.operators.similarity import ann_ndcg_eval

    emb = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = ann_ndcg_eval(emb, k=3).collect()
    assert len(out) == 10
    for r in out:
        assert r["ndcg"] == pytest.approx(1.0)
        assert r["n_exact"] == 3
    # and on a spread corpus the metric stays in (0, 1]
    spread = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5 * i]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    for r in ann_ndcg_eval(spread, k=3).collect():
        assert 0.0 <= r["ndcg"] <= 1.0


def test_ndcg_weights_are_exact_literals():
    import math

    from awi_datapipelinepublic_spark.operators.similarity import _ndcg_weights_nano

    w = _ndcg_weights_nano(5)
    assert w[0] == 1_000_000_000  # 1/log2(2) = 1
    assert w == sorted(w, reverse=True)
    assert w[1] == int(math.floor(1e9 / math.log2(3) + 0.5))


def test_seasonal_anomaly_ignores_weekly_shape(spark):
    """A series that is purely weekly-shaped (every Monday 100, all
    other days 10) never trips the detrended monitor; a broken Monday
    does."""
    from awi_datapipelinepublic_spark.operators.timeseries import seasonal_anomaly

    rows = []
    d0 = dt.date(2024, 1, 1)  # a Monday
    for i in range(35):
        day = d0 + dt.timedelta(days=i)
        n = 100 if day.weekday() == 0 else 10
        if day == dt.date(2024, 1, 29):
            n = 500  # the 5th Monday explodes
        rows.append(("t", day, day.isoweekday(), n))
    df = spark.createDataFrame(rows, "k string, day date, dow int, n long")
    out = {r["day"]: r["is_anomaly"] for r in seasonal_anomaly(df, "k", "day", "dow", "n").collect()}
    flagged = [d for d, a in out.items() if a]
    assert dt.date(2024, 1, 29) in flagged, "broken Monday must trip"
    # regular Mondays with a full baseline never trip
    for d in [dt.date(2024, 1, 22)]:
        assert not out[d], "Monday-shaped Monday must not trip"


def test_percentile_normalize_ranks_and_ties(spark):
    """Average-rank percentiles: [10, 20, 20, 40] → 1/8, 4.5/... —
    rank2 = {1, 5, 5, 7}/2 → pct = rank2/(2n) with tie averaging."""
    from awi_datapipelinepublic_spark.operators.quality import percentile_normalize

    df = spark.createDataFrame(
        [(1, "g", 10.0), (2, "g", 20.0), (3, "g", 20.0), (4, "g", 40.0), (5, "g", None)],
        "id long, g string, v double",
    )
    out = {r["id"]: r["pct"] for r in percentile_normalize(df, "g", "v").collect()}
    assert 5 not in out  # NULL excluded
    # rank2 = 2·cum − c + 1 over distinct values: 10→2, 20→5, 40→8;
    # pct = rank2/(2n) = avg_rank/n
    assert out[1] == pytest.approx(0.25)
    assert out[2] == out[3] == pytest.approx(0.625)
    assert out[4] == pytest.approx(1.0)
