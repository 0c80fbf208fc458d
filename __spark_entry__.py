"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator ID from SURVEY.md §2
(plus the engine's scale-path extensions: dedup, similarity search,
text analysis, event windowing) to a (spark, sf_dir) → DataFrame
callable built on awi_datapipelinepublic_spark. ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL for EVERY id (since r5 even
``agg_approx``: the gate emits exact answers plus in-plan bounds
flags for the sketch estimates, so nothing is rows-only). The
hash-based families (minhash-LSH, simhash,
sign-LSH ANN, IVF, SemDeDup) all replay exactly: every hash derives
from md5 (bit-identical in both engines) and every float decision
rounds at a documented precision before comparison.

Column names are aliased identically on both sides — the driver's
compare sorts columns by name before value-hashing. Float aggregates
are rounded on both sides to absorb summation-order ulps.
"""

from __future__ import annotations

from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from awi_datapipelinepublic_spark.functions import text as X
from awi_datapipelinepublic_spark.functions.privacy import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
    SSN_RE,
)
from awi_datapipelinepublic_spark.functions.cleaning import strip_excel
from awi_datapipelinepublic_spark.operators.quality import BENFORD_EXPECTED
from awi_datapipelinepublic_spark.operators.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_candidates,
)
from awi_datapipelinepublic_spark.operators.events import (
    sessionize,
    sliding_window_agg,
    tumbling_window_agg,
)
from awi_datapipelinepublic_spark.operators.joins import (
    asof_join,
    dim_join,
    fact_fact_left,
    range_join_binned,
    salted_join,
)
from awi_datapipelinepublic_spark.operators.timeseries import date_spine, gap_fill
from awi_datapipelinepublic_spark.operators.multimodal import attach_binary_payload, decode_media
from awi_datapipelinepublic_spark.operators.merge import merge_time_window
from awi_datapipelinepublic_spark.operators.dedup import embedding_near_dup
from awi_datapipelinepublic_spark.operators.similarity import knn_brute_force, knn_ivf, knn_lsh
from awi_datapipelinepublic_spark.operators.windows import (
    is_new_flag,
    keep_first,
    min_over_partition,
    top_k_per_group,
)
from awi_datapipelinepublic_spark.sources.readers import read_events, read_table

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

_t = read_table


def _drain(q, seconds: int = 600) -> None:
    """Await an availableNow streaming query's termination, LOUDLY.

    ``awaitTermination(t)`` returns False on timeout without raising,
    and a gate that then reads the sink sees a missing/partial path —
    a confusing downstream error (observed under the parallel local
    rehearsal harness, where 6 threads of queued jobs starved one
    micro-batch past 300 s). Wait in slices up to ``seconds`` total,
    then raise a clear timeout; a query FAILURE still raises its own
    StreamingQueryException from inside awaitTermination."""
    waited = 0
    while waited < seconds:
        if q.awaitTermination(60):
            return
        waited += 60
    q.stop()
    raise TimeoutError(
        f"streaming gate query did not terminate within {seconds}s "
        "(availableNow trigger; check scheduler contention or source glob)"
    )


# ---------------------------------------------------------------------------
# §2.A — scans
# ---------------------------------------------------------------------------

_SCAN_CSV_FIELDS = [
    {"name": "o_orderkey", "type": "INTEGER", "mode": "NULLABLE"},
    {"name": "o_custkey", "type": "INTEGER", "mode": "NULLABLE"},
    {"name": "o_orderstatus", "type": "STRING", "mode": "NULLABLE"},
    {"name": "o_totalprice", "type": "NUMERIC", "mode": "NULLABLE"},
    {"name": "o_orderdate", "type": "DATE", "mode": "NULLABLE"},
]


def q_scan_csv(spark, sf_dir):
    """scan_csv (config.py:131-137): the engine's schema-driven CSV
    reader — raw strings → null-normalize → typed cast with lenient
    DATE parse — run on a CSV staged from the orders table. The oracle
    reads the same rows straight from parquet, so any reader bug
    (quoting, null handling, casts) breaks the hash."""
    from awi_datapipelinepublic_spark.sources.readers import read_csv

    stage = Path("/root/repo/.cache") / f"scan_csv_{Path(sf_dir).name}"
    if not (stage / "_SUCCESS").exists():
        (
            _t(spark, sf_dir, "orders")
            .select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            )
            .coalesce(4)
            .write.mode("overwrite")
            .option("header", True)
            .csv(str(stage))
        )
    return read_csv(spark, str(stage), _SCAN_CSV_FIELDS)


# ---------------------------------------------------------------------------
# §2.B — projections / scalar transforms (reference clean stage)
# ---------------------------------------------------------------------------

def q_project_prune(spark, sf_dir):
    """project_prune (config.py:135): prune to declared columns."""
    return _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")


def q_fn_strip_excel(spark, sf_dir):
    """fn_strip_excel (config.py:31-33): strip '\"' '=' runs from both ends.
    Dirt is synthesized so the transform is observable."""
    c = _t(spark, sf_dir, "customer")
    dirty = F.concat(F.lit('="'), F.col("c_name"), F.lit('"'))
    return c.select("c_custkey", strip_excel(dirty).alias("cleaned"))


def q_filter_notnull_date(spark, sf_dir):
    """filter_notnull_date (config.py:138) + fn_isnotnull (settings.yaml:61)."""
    o = _t(spark, sf_dir, "orders")
    d = F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_orderdate"))
    return (
        o.withColumn("d", d)
        .filter(F.col("d").isNotNull())
        .select("o_orderkey", "d")
    )


def q_cast_date_coerce(spark, sf_dir):
    """cast_date_coerce (config.py:139-142): unparseable → NULL, not error."""
    o = _t(spark, sf_dir, "orders")
    s = F.when(F.col("o_orderkey") % 5 == 0, F.lit("not-a-date")).otherwise(
        F.date_format("o_orderdate", "yyyy-MM-dd")
    )
    # try_to_date, not to_date: NULL-on-failure must hold even under
    # ANSI mode (Spark 4 default in an untuned driver session).
    return o.select("o_orderkey", F.try_to_date(s).alias("d"))


def q_null_normalize(spark, sf_dir):
    """null_normalize (config.py:143): '' → NULL."""
    c = _t(spark, sf_dir, "customer")
    seg = F.when(F.col("c_custkey") % 3 == 0, F.lit("")).otherwise(F.col("c_mktsegment"))
    return c.select(
        "c_custkey", F.when(seg == "", None).otherwise(seg).alias("segment")
    )


def q_cast_schema(spark, sf_dir):
    """cast_schema (config.py:144): bulk cast to declared types."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        F.col("l_quantity").cast("double").alias("l_quantity"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
    )


def q_with_literal(spark, sf_dir):
    """with_literal (config.py:119-120): constant provenance column."""
    return _t(spark, sf_dir, "supplier").select("s_suppkey", F.lit("prime").alias("SOURCE"))


def q_align_union(spark, sf_dir):
    """align_columns + concat_rows + union_all (config.py:121-128,195):
    two schema-divergent slices, NULL-padded and unioned by name."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_totalprice", F.lit("prime").alias("SOURCE")
    )
    b = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_orderpriority", F.lit("plus").alias("SOURCE")
    )
    return a.unionByName(b, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# §2.C — joins
# ---------------------------------------------------------------------------

def q_join_dim_miss(spark, sf_dir):
    """join_geo/join_agencies pattern (settings.yaml:57,59): broadcast
    left join against a partial dimension; misses → NULL payload →
    COALESCE default (settings.yaml:28)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 20)
    out = dim_join(c, n, "c_nationkey", "n_nationkey", {"n_name": "nation_name"},
                   default={"nation_name": "NO_NATION"})
    return out.select("c_custkey", "nation_name")


def q_join_channels(spark, sf_dir):
    """join_channels/join_ttypes pattern (settings.yaml:58,60): full-
    coverage broadcast lookup join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    out = dim_join(o, c, "o_custkey", "c_custkey", {"c_mktsegment": "segment", "c_name": "customer_name"})
    return out.select("o_orderkey", "segment", "customer_name")


def q_join_null_safe(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — the opposite of the reference's NULL-never-
    matches left joins (§2.C), exposed as its own operator."""
    o = _t(spark, sf_dir, "orders")
    nullable_key = F.when(F.col("o_orderkey") % 50 == 0, None).otherwise(F.col("o_orderpriority"))
    left = o.select("o_orderkey", nullable_key.alias("pk"))
    dim = spark.createDataFrame(
        [("1-URGENT", "urgent"), ("5-LOW", "low"), (None, "missing")], "pk2 string, label string"
    )
    return (
        left.join(F.broadcast(dim), left["pk"].eqNullSafe(dim["pk2"]), "left")
        .select("o_orderkey", "pk", "label")
    )


def q_join_fact_fact(spark, sf_dir):
    """join_fact_fact (settings.yaml:135-137): unbounded⟕unbounded left
    equi-join, AQE-managed sort-merge."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("ok"), "o_orderdate", "o_orderstatus")
    out = fact_fact_left(li, o, "l_orderkey", "ok")
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice", "o_orderdate", "o_orderstatus")


def q_colocated_join(spark, sf_dir):
    """Bucketed fact-fact join — the SCALING.md layout policy as a
    measured artifact. Both sides are written ONCE as managed tables
    bucketed+sorted on the join key; every subsequent join is then
    shuffle-free (zero Exchange on either side — plan-asserted in
    tests/test_plans.py::test_bucketed_join_has_no_exchange). At
    100 TB this converts the dominant per-query cost of repeated
    fact-fact joins into a one-time write-side cost. The first call
    per (session, sf) pays the bucketed write; steady state (what
    bench.py's min-of-2 reports) is the join alone."""
    from awi_datapipelinepublic_spark.sources.layout import colocated_join, write_bucketed

    tag = Path(sf_dir).name.replace(".", "_")
    lt, rt = f"bkt_lineitem_{tag}", f"bkt_orders_{tag}"
    if not spark.catalog.tableExists(lt) or not spark.catalog.tableExists(rt):
        li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
        o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
        write_bucketed(li, lt, "l_orderkey", 16)
        write_bucketed(o, rt, "o_orderkey", 16)
    out = colocated_join(spark, lt, rt, "l_orderkey", "o_orderkey")
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice")


def q_join_agencies(spark, sf_dir):
    """join_agencies (settings.yaml:59): supplier ⟕ broadcast nation
    with renamed payload (the metaAgencyName → Agency idiom)."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return dim_join(s, n, "s_nationkey", "n_nationkey", {"n_name": "Agency"}).select(
        "s_suppkey", "s_name", "Agency"
    )


def q_join_ttypes(spark, sf_dir):
    """join_ttypes (settings.yaml:60): fact ⟕ partial broadcast lookup
    + COALESCE default (the TType → 'CHANGE' idiom)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") % 2 == 0)
    out = dim_join(li, p, "l_partkey", "p_partkey", {"p_brand": "TType"},
                   default={"TType": "CHANGE"})
    return out.select("l_orderkey", "l_linenumber", "TType")


# ---------------------------------------------------------------------------
# §2.D / §2.E — aggregations & windows
# ---------------------------------------------------------------------------

def q_agg_min_scalar(spark, sf_dir):
    """agg_min_scalar (config.py:180-187): ungrouped MIN — the merge cutoff."""
    return _t(spark, sf_dir, "orders").agg(F.min("o_orderdate").alias("mindate"))


def q_agg_min_windowed(spark, sf_dir):
    """agg_min_windowed / win_min_partition (settings.yaml:92)."""
    o = _t(spark, sf_dir, "orders")
    out = min_over_partition(o, "o_custkey", "o_orderkey", "min_orderkey")
    return out.select("o_orderkey", "o_custkey", "min_orderkey")


def q_win_row_number(spark, sf_dir):
    """win_row_number (settings.yaml:94): global sequence. Ordered by a
    unique key so the result is deterministic; the scalable variant
    is operators/windows.global_row_number (tested in tests/)."""
    e = read_events(spark, sf_dir)
    return e.select(
        "event_id",
        F.row_number().over(Window.orderBy(F.col("event_id").asc())).cast("long").alias("rn"),
    )


def q_derive_is_new(spark, sf_dir):
    """derive_is_new (settings.yaml:90-94): first-ever row per key → 'N'.
    Deterministic tie-break on the unique order key."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey", "o_custkey",
        F.when(F.row_number().over(w) == 1, F.lit("N")).otherwise(F.lit("E")).alias("IsNew"),
    )


def q_decimal_sum_exact(spark, sf_dir):
    """BQ NUMERIC fidelity mode: sources/schema.to_struct_type(...,
    numeric_as_decimal=True) maps NUMERIC → DecimalType(38,9) —
    BigQuery NUMERIC's exact parameters (reference
    Schemas/renewals_bq.json:69) — instead of the default DoubleType
    that mirrors the reference's own float64 coercion (config.py:86).
    Decimal sums are exact and associative, so the result is invariant
    to Spark's partial-aggregation/shuffle order at any scale; the
    oracle matches the string form to all 9 decimal places (no
    rounding tolerance anywhere)."""
    from awi_datapipelinepublic_spark.functions.cleaning import cast_to_schema
    from awi_datapipelinepublic_spark.sources.schema import to_struct_type

    fields = [
        {"name": "l_returnflag", "type": "STRING"},
        {"name": "l_extendedprice", "type": "NUMERIC"},
    ]
    st = to_struct_type(fields, numeric_as_decimal=True)
    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    return (
        cast_to_schema(li, st)
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("d"))
        .select("l_returnflag", F.col("d").cast("string").alias("sum_price_dec"))
    )


def q_grouped_agg(spark, sf_dir):
    """Grouped aggregation surface (TPC-H Q1 shape) — beyond the
    reference's aggregate vocabulary (SURVEY.md §2.D note)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            # money columns are exact 2-dp; the discounted product is exact
            # 4-dp, so round(4) is identity on the true value — robust to
            # cross-engine summation-order ulps, unlike round(2) which can
            # sit on a half boundary.
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# §2.F / §2.G — sorts, top-k, expressions
# ---------------------------------------------------------------------------

def q_limit_topk(spark, sf_dir):
    """limit_topk (README.md:56): most recent N — TakeOrderedAndProject,
    never a full sort. Unique-key tie-break for determinism."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


def q_sort_asc(spark, sf_dir):
    """sort_asc (settings.yaml:62,119,122): global ascending sort.
    (Order-insensitive hash gate; the sort itself is exercised — Spark
    plans a range-partitioned parallel sort, never one partition.)"""
    o = _t(spark, sf_dir, "orders")
    return o.orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc()).select(
        "o_orderkey", "o_orderdate"
    )


def q_sort_desc(spark, sf_dir):
    """sort_desc (settings.yaml:139)."""
    o = _t(spark, sf_dir, "orders")
    return o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc()).select(
        "o_orderkey", "o_orderdate"
    )


def q_fn_coalesce(spark, sf_dir):
    """fn_coalesce (settings.yaml:28-30): default for lookup misses."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 20)
    out = dim_join(c, n, "c_nationkey", "n_nationkey", {"n_name": "n_name"})
    return out.select("c_custkey", F.coalesce(F.col("n_name"), F.lit("NA_OR_OUT")).alias("geo"))


def q_fn_case_eq(spark, sf_dir):
    """fn_case_eq (settings.yaml:32-35): status → 0/1 indicator."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("Renewed"),
    )


def q_fn_alias(spark, sf_dir):
    """fn_alias (settings.yaml:31,109): projection renames (VIN AS VIN_A)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("CustId"),
        F.col("c_name").alias("Agency"),
        F.col("c_mktsegment").alias("CHANNEL"),
    )


def q_fn_isnotnull(spark, sf_dir):
    """fn_isnotnull (settings.yaml:61): WHERE col IS NOT NULL."""
    o = _t(spark, sf_dir, "orders")
    pri = F.when(F.col("o_orderkey") % 13 == 0, None).otherwise(F.col("o_orderpriority"))
    return o.select("o_orderkey", pri.alias("p")).filter(F.col("p").isNotNull())


def q_fn_date_cmp(spark, sf_dir):
    """fn_date_cmp (settings.yaml:138): >= date-literal comparison
    (the normalized form of BQ's '2019-1-1')."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")).select(
        "o_orderkey", "o_orderdate"
    )


def q_fn_date_lt_param(spark, sf_dir):
    """fn_date_lt_param (config.py:194): parameterized cutoff — the
    merge's '{date_col} < {start_date}' predicate."""
    o = _t(spark, sf_dir, "orders")
    cutoff = "1996-06-15"
    return o.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")).select(
        "o_orderkey", "o_orderdate"
    )


def q_fn_select_star(spark, sf_dir):
    """fn_select_star (settings.yaml:27,90-94): SELECT * pass-through
    with an additive computed column per nesting level."""
    n = _t(spark, sf_dir, "nation")
    return n.select("*", (F.col("n_nationkey") + 100).alias("shifted")).select(
        "*", F.concat(F.col("n_name"), F.lit("_X")).alias("tagged")
    )


def q_make_view(spark, sf_dir):
    """make_view (config.py:215-221): the spark.sql surface — register
    base tables, CREATE OR REPLACE a re-authored analytical view, query
    it. Same result as the DataFrame-built view_retention (the oracle
    is shared), proving the two surfaces agree."""
    for t in ("orders", "customer", "nation", "region"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"awi_{t}")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY VIEW awi_retention AS
        SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice,
               c.c_name AS customer_name,
               COALESCE(n.n_name, 'NO_NATION') AS nation_name,
               COALESCE(r.r_name, 'NO_REGION') AS region_name,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS Fulfilled,
               CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END AS Open,
               CASE WHEN o.o_orderstatus = 'P' THEN 1 ELSE 0 END AS Pending
        FROM awi_orders o
        LEFT JOIN awi_customer c ON o.o_custkey = c.c_custkey
        LEFT JOIN (SELECT * FROM awi_nation WHERE n_nationkey < 20) n
          ON c.c_nationkey = n.n_nationkey
        LEFT JOIN awi_region r ON n.n_regionkey = r.r_regionkey
        WHERE c.c_name IS NOT NULL
        ORDER BY o.o_orderdate ASC
        """
    )
    return spark.sql("SELECT * FROM awi_retention")


def q_fn_expressions(spark, sf_dir):
    """fn_coalesce + fn_case_eq + fn_date_cmp (settings.yaml:28-35,138):
    the reference's full scalar-expression vocabulary in one projection."""
    o = _t(spark, sf_dir, "orders")
    pri = F.when(F.col("o_orderkey") % 11 == 0, None).otherwise(F.col("o_orderpriority"))
    return (
        o.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .select(
            "o_orderkey",
            F.coalesce(pri, F.lit("NONE")).alias("priority"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("Fulfilled"),
            F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("Open"),
            F.when(F.col("o_orderstatus") == "P", 1).otherwise(0).alias("Pending"),
        )
    )


# ---------------------------------------------------------------------------
# §2.H — composite: time-window merge + the three views
# ---------------------------------------------------------------------------

_MERGE_CUT = "1997-06-01"


def q_merge_time_window(spark, sf_dir):
    """merge_time_window (config.py:190-212): new batch owns
    [min(new.date), ∞); base history below the cutoff survives.
    The new batch restates quantities (+100) so ownership is observable."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_shipdate", "l_quantity")
    new_batch = li.filter(F.col("l_shipdate") >= F.lit(_MERGE_CUT).cast("timestamp")).withColumn(
        "l_quantity", F.col("l_quantity") + 100
    )
    return merge_time_window(li, new_batch, "l_shipdate")


def q_view_retention(spark, sf_dir):
    """view_retention (settings.yaml:24-63) re-expressed on TPC-H:
    projection → broadcast left joins (with a partial dim for misses) →
    COALESCE defaults → CASE status indicators → NOT NULL filter → sort."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 20)
    r = _t(spark, sf_dir, "region")
    enriched = dim_join(o, c, "o_custkey", "c_custkey", {"c_name": "customer_name", "c_nationkey": "c_nationkey"})
    enriched = dim_join(enriched, n, "c_nationkey", "n_nationkey",
                        {"n_name": "nation_name", "n_regionkey": "n_regionkey"})
    enriched = dim_join(enriched, r, "n_regionkey", "r_regionkey", {"r_name": "region_name"})
    return (
        enriched.withColumn("nation_name", F.coalesce(F.col("nation_name"), F.lit("NO_NATION")))
        .withColumn("region_name", F.coalesce(F.col("region_name"), F.lit("NO_REGION")))
        .withColumn("Fulfilled", F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .withColumn("Open", F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
        .withColumn("Pending", F.when(F.col("o_orderstatus") == "P", 1).otherwise(0))
        .filter(F.col("customer_name").isNotNull())
        .orderBy(F.col("o_orderdate").asc())
        .select(
            "o_orderkey", "o_orderdate", "o_totalprice", "customer_name",
            "nation_name", "region_name", "Fulfilled", "Open", "Pending",
        )
    )


def q_view_transactions(spark, sf_dir):
    """view_transactions (settings.yaml:88-123) on TPC-H: dims + the
    IsNew first-transaction flag via one partitioned window."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    enriched = dim_join(o, c, "o_custkey", "c_custkey", {"c_mktsegment": "segment"},
                        default={"segment": "NO_SEGMENT"})
    out = is_new_flag(
        enriched.withColumn("__tiebreak", F.col("o_orderkey")), "o_custkey", "o_orderdate"
    )
    # deterministic IsNew needs the unique-key tie-break; rebuild window here
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return enriched.select(
        "o_orderkey", "o_custkey", "o_orderdate", "segment",
        F.when(F.row_number().over(w) == 1, F.lit("N")).otherwise(F.lit("E")).alias("IsNew"),
    )


def q_view_auto_optiom(spark, sf_dir):
    """view_auto_optiom (settings.yaml:132-140) on TPC-H: view-on-view —
    the transactions-shaped view ⟕ a second fact keyed the same way,
    date filter below the join, desc sort."""
    tx = q_view_transactions(spark, sf_dir).filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )
    return (
        tx.join(li, tx["o_orderkey"] == li["ok"], "left")
        .orderBy(F.col("o_orderdate").desc())
        .select("o_orderkey", "o_custkey", "o_orderdate", "segment", "IsNew", "revenue")
    )


# ---------------------------------------------------------------------------
# Engine surface beyond the reference vocabulary: aggregates, set ops,
# richer windows, semi/anti joins, as-of join, TPC-H-style analytics
# ---------------------------------------------------------------------------

def q_agg_string_list(spark, sf_dir):
    """Ordered collect: per-customer comma-joined order keys.
    sort_array(collect_list(...)) pins the nondeterministic gather
    order; serialized to a string so the compare is type-stable."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    return o.groupBy("o_custkey").agg(
        F.array_join(F.sort_array(F.collect_list(F.col("o_orderkey").cast("string"))), ",").alias("order_keys")
    )


def q_subquery_in(spark, sf_dir):
    """IN-subquery through Catalyst's subquery rewrite (planned as a
    left semi join — the same shape q_join_semi builds directly)."""
    for t in ("orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"awi_{t}")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM awi_orders
        WHERE o_custkey IN (SELECT c_custkey FROM awi_customer WHERE c_acctbal > 9000)
        """
    )


def q_subquery_scalar(spark, sf_dir):
    """Scalar subquery: orders above the global average price."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("awi_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM awi_orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM awi_orders)
        """
    )


def q_win_first_last(spark, sf_dir):
    """first_value / last_value / nth_value over the full partition
    frame (explicit unbounded frame — last_value's default frame stops
    at CURRENT ROW, a classic correctness trap)."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey", "o_custkey",
        F.first("o_orderkey").over(w).alias("first_ok"),
        F.last("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
    )


def q_pivot_status(spark, sf_dir):
    """Pivot: order counts per priority × status matrix. Explicit pivot
    values keep the plan a single pass (no distinct-scan to discover
    columns — the thing to avoid at 100 TB)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
        )
    )


def q_win_range_frame(spark, sf_dir):
    """RANGE frame over event time: events per user in the trailing
    hour (value-based frame, not row-based)."""
    e = read_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("double"))
        .rangeBetween(-3600, 0)
    )
    return e.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("events_last_hour"),
    )


def q_agg_approx(spark, sf_dir):
    """Sketch aggregates: HLL distinct + t-digest quantile — the 100 TB
    substitutes for exact distinct/percentile. The sketch estimates
    themselves are engine-specific (not SQL-replayable), so the gate
    emits the DETERMINISTIC cross-check instead: the exact answers
    (hash-verified against DuckDB) plus INT flags asserting each
    sketch landed within its advertised error of the exact value,
    computed in the same plan — if either sketch ever drifts out of
    bounds the flag flips 1 -> 0 and the hash goes red. Same single
    groupBy pass; the exact aggregates ride alongside the sketches."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("__hll_parts"),
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("__td_median"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("__exact_median"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        F.round(F.col("__exact_median"), 4).alias("exact_median_price"),
        # HLL rsd=0.02 -> 6% bound; t-digest(10k) median -> 5% bound
        (
            F.abs(F.col("__hll_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            < 0.06
        ).cast("int").alias("hll_within_bounds"),
        (
            F.abs(F.col("__td_median") - F.col("__exact_median"))
            / F.col("__exact_median")
            < 0.05
        ).cast("int").alias("tdigest_within_bounds"),
    )


def q_agg_percentile(spark, sf_dir):
    """Exact percentiles (median / p90, linear interpolation) — the
    deterministic quantile surface; percentile_approx is the 100 TB
    path (t-digest sketch, same call shape)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90_price"),
    )


def q_agg_stats(spark, sf_dir):
    """Statistical aggregates: sample stddev/variance, correlation,
    covariance — rounded coarsely (2dp inputs; estimator arithmetic is
    the same merge-formula shape in both engines)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


def q_agg_distinct(spark, sf_dir):
    """Distinct aggregation + multi-agg in one pass."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
    )


def q_rollup_agg(spark, sf_dir):
    """ROLLUP hierarchy totals (region → nation → grand total)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
    )


def q_set_intersect(spark, sf_dir):
    """INTERSECT (distinct set semantics)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


def q_set_except(spark, sf_dir):
    """EXCEPT (distinct set semantics): nations with no supplier."""
    n = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nk"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return n.subtract(s)


def q_union_distinct(spark, sf_dir):
    """UNION (distinct) vs UNION ALL semantics: overlapping slices
    dedupe to one row each."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return a.union(b).distinct()


def q_intersect_all(spark, sf_dir):
    """INTERSECT ALL (bag semantics — multiplicity = min of the two
    sides), vs the set-semantics set_intersect."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 2).select(F.col("l_orderkey").alias("k"))
    b = li.filter(F.col("l_returnflag") == "N").select(F.col("l_orderkey").alias("k"))
    return a.intersectAll(b)


def q_win_rank_lead_lag(spark, sf_dir):
    """rank / dense_rank / ntile / lead / lag with a deterministic
    unique-key ordering."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return o.select(
        "o_orderkey", "o_custkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.lag("o_totalprice", 1).over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice", 1).over(w), 2).alias("next_price"),
    )


def q_win_frame_rows(spark, sf_dir):
    """Explicit ROWS frame: per-customer running total. The window
    forces one evaluation order, so the double sum is bitwise
    reproducible across engines."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_orderkey", "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


def q_join_semi(spark, sf_dir):
    """Left semi join: customers that have at least one order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


def q_join_anti(spark, sf_dir):
    """Left anti join: customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_asof_join(spark, sf_dir):
    """As-of join: each click event enriched with the user's most
    recent view event at-or-before it. Union + single partitioned
    window (linear), not a range join (quadratic)."""
    ev = read_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("ts").alias("view_ts"), F.col("value").alias("view_value")
    )
    out = asof_join(clicks, views, key="user_id", left_ts="ts", right_ts="ts",
                    right_payload=["view_ts", "view_value"])
    return out.select("event_id", "user_id", "ts", "view_ts",
                      F.round(F.col("view_value"), 2).alias("view_value"))


def q_asof_join_tolerance(spark, sf_dir):
    """Forward as-of with tolerance (operators/joins.py:asof_join,
    direction='forward', tolerance_seconds=3600): each click enriched
    with the user's NEXT purchase value, nulled when it is more than
    an hour ahead — pandas merge_asof's direction/tolerance surface on
    the same linear union+window plan. Right side deduped per
    (user, ts) keeping min value so tie-winners are deterministic."""
    ev = read_events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("value").alias("pvalue"))
    )
    out = asof_join(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=["pvalue"], direction="forward", tolerance_seconds=3600,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.round(F.col("pvalue"), 2).alias("next_purchase_value"),
    )


def q_sliding_window(spark, sf_dir):
    """Sliding 1h/30min windowed counts."""
    return sliding_window_agg(read_events(spark, sf_dir))


def q_events_json(spark, sf_dir):
    """Semi-structured props extraction (regexp path — engine-neutral)
    + grouped count."""
    ev = read_events(spark, sf_dir)
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("long")
    return ev.select(k.alias("k")).groupBy("k").agg(F.count(F.lit(1)).alias("n"))


def q_tpch_q3_topk(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter → fact join → grouped
    revenue → top-10. The segment filter broadcasts; revenue agg is
    partial-aggregated before the shuffle."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_hybrid_search_rrf(spark, sf_dir):
    """Hybrid retrieval: BM25 top-50 (lexical) ⊕ brute-force cosine
    top-50 (dense, vec_id==doc_id) fused by reciprocal rank, top-10.
    The fuse is rank-only — no score calibration across modalities."""
    from awi_datapipelinepublic_spark.operators.corpus import bm25_topk, rrf_fuse

    W = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    lex = bm25_topk(
        _t(spark, sf_dir, "documents"), ["spark", "merge", "window"], k=50
    ).withColumn("rank", F.row_number().over(W))
    Wd = Window.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    dense = (
        knn_brute_force(_t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=50)
        .withColumnRenamed("vec_id", "doc_id")
        .withColumn("rank", F.row_number().over(Wd))
    )
    return rrf_fuse(lex, dense, top=10)


def q_hll_incremental(spark, sf_dir):
    """Mergeable HLL distinct sketches per day (the incremental
    'distinct users to date' primitive): the gate hashes the exact
    per-day distinct plus a sketch-accuracy boolean, so correctness
    covers the sketch without depending on HLL binary internals."""
    from awi_datapipelinepublic_spark.operators.quality import (
        incremental_distinct_sketch,
    )

    ev = read_events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    s = incremental_distinct_sketch(ev, "user_id", "day")
    return s.select(
        "day",
        "exact_distinct",
        (
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            / F.greatest(F.col("exact_distinct"), F.lit(1))
            <= 0.02
        ).cast("int").alias("within_2pct"),  # INT 0/1, not BOOLEAN —
        # canonicalization-proof across harness render paths (the
        # validate_expectations r4 lesson)
    )


def q_fuzzy_join_blocked(spark, sf_dir):
    """Blocked entity-resolution self-join on customer names: pairs
    form only inside a 15-char prefix block, levenshtein ≤ 1 within
    the block — equi-join cost, never O(n²)."""
    from awi_datapipelinepublic_spark.operators.joins import fuzzy_join_blocked

    c = _t(spark, sf_dir, "customer")
    return fuzzy_join_blocked(c, c, "c_name", "c_custkey", block_chars=15, max_dist=1)


def q_winsorize(spark, sf_dir):
    """Winsorized order prices: exact p01/p99 clip (Spark percentile
    == DuckDB quantile_cont), scalars broadcast to the clip scan."""
    from awi_datapipelinepublic_spark.operators.quality import winsorize

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return winsorize(o, "o_totalprice", out_col="price_w").select(
        "o_orderkey", F.round("price_w", 4).alias("price_w")
    )


def q_resample_ohlc(spark, sf_dir):
    """Per-(user, hour) OHLC bars: open/close via min_by/max_by argmin
    aggregates — one shuffle, no sort, no window."""
    from awi_datapipelinepublic_spark.operators.timeseries import resample_ohlc

    ev = read_events(spark, sf_dir)
    out = resample_ohlc(ev, granularity="hour")
    return out.select(
        "user_id",
        "bucket",
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "n_ticks",
    )


def q_quantile_bins(spark, sf_dir):
    """Exact NTILE(10) equal-frequency binning of order prices via the
    scalable global rank (no single-partition window); per-bin
    count/min/max verified against DuckDB's native NTILE."""
    from awi_datapipelinepublic_spark.operators.windows import quantile_bins

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    binned = quantile_bins(o, "o_totalprice", n_bins=10, tiebreak_col="o_orderkey")
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
        .orderBy("bin")
    )


def q_tfidf_keywords(spark, sf_dir):
    """Top-3 tf-idf keywords per document; per-doc top-m is a
    WindowGroupLimit, df and N broadcast back to the tf rows."""
    from awi_datapipelinepublic_spark.operators.corpus import tfidf_keywords

    return tfidf_keywords(_t(spark, sf_dir, "documents"), top_m=3)


def q_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval: top-20 documents for a 3-term query.
    Corpus explodes once, filtered to query-term hits; df + (N, avgdl)
    broadcast back; ranking on the rounded score is engine-stable."""
    from awi_datapipelinepublic_spark.operators.corpus import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), ["spark", "merge", "window"], k=20
    )


def q_streaming_totals(spark, sf_dir):
    """§2.I custom stateful operator as a driver-gate row: events
    drained availableNow through applyInPandasWithState
    (streaming/windows.py running_user_totals), final per-user state
    read back as batch. Oracle: plain batch groupBy — a drained
    stateful stream must equal its batch twin."""
    import tempfile
    from pathlib import Path as _P

    from awi_datapipelinepublic_spark.sources.readers import read_events
    from awi_datapipelinepublic_spark.streaming.windows import running_user_totals

    tmp = _P(tempfile.mkdtemp(prefix="awi_stateful_gate_"))
    staged = str(tmp / "events")
    read_events(spark, sf_dir).select("user_id", "value").write.parquet(staged)
    stream = spark.readStream.schema("user_id long, value double").parquet(staged)
    q = (
        # timeout_minutes=None: a drained availableNow stream must not
        # register processing-time timeouts, or Spark loops state-
        # cleanup micro-batches and the trigger never terminates (the
        # 300 s silent stall this gate used to pay every run).
        running_user_totals(stream, timeout_minutes=None)
        .writeStream.format("parquet")
        .option("path", str(tmp / "out"))
        .option("checkpointLocation", str(tmp / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    out = spark.read.parquet(str(tmp / "out"))
    return out.groupBy("user_id").agg(
        F.max("running_events").alias("n_events"),
        F.round(F.max("running_value"), 4).alias("total_value"),
    )


def q_heavy_hitters(spark, sf_dir):
    """Exact corpus top-100 terms: explode → count (Zipf head
    collapses map-side) → TakeOrderedAndProject."""
    from awi_datapipelinepublic_spark.operators.corpus import heavy_hitters

    return heavy_hitters(_t(spark, sf_dir, "documents"), k=100)


def q_inverted_index(spark, sf_dir):
    """term → (doc_freq, sorted posting list) over per-doc distinct
    terms; postings serialized to a comma string for the cross-engine
    hash."""
    from awi_datapipelinepublic_spark.operators.corpus import inverted_index

    idx = inverted_index(_t(spark, sf_dir, "documents"))
    return idx.select(
        "term",
        "doc_freq",
        F.concat_ws(",", F.col("postings")).alias("postings_csv"),
    )


def q_sequence_pack(spark, sf_dir):
    """Greedy scan-order packing of documents into 2048-token
    pretraining blocks; block text verified by md5."""
    from awi_datapipelinepublic_spark.operators.corpus import sequence_pack

    packed = sequence_pack(_t(spark, sf_dir, "documents"), block_tokens=2048)
    return packed.select(
        "block_id",
        "n_docs",
        "n_tokens",
        F.concat_ws(",", F.col("doc_ids")).alias("doc_ids_csv"),
        F.md5("text").alias("text_md5"),
    )


def q_balanced_sample(spark, sf_dir):
    """Deterministic class-balanced subset: 50 lowest-md5(doc_id)
    documents per language."""
    from awi_datapipelinepublic_spark.operators.sampling import balanced_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return balanced_sample(docs, group_col="lang", id_col="doc_id", k=50)


def q_key_skew_profile(spark, sf_dir):
    """Join-key skew diagnostic: 20 heaviest user_ids in events with
    corpus share."""
    from awi_datapipelinepublic_spark.operators.quality import key_skew_profile

    # read_events, not _t: a vanilla driver session rejects the
    # TIMESTAMP(NANOS) column at schema inference even for a
    # user_id-only projection.
    ev = read_events(spark, sf_dir).select("user_id")
    return key_skew_profile(ev, key_col="user_id", top_n=20)


def q_scan_binaryfile(spark, sf_dir):
    """binaryFile source: multimodal blob ingest. 50 per-document
    .bin files staged once per sf; the query reads them back through
    the binaryFile source and fingerprints each blob. The oracle
    recomputes (name, byte length, md5) from the documents table the
    files were staged from, so a reader bug (truncation, encoding,
    partial listing) breaks the hash."""
    from awi_datapipelinepublic_spark.sources.readers import read_binary_files

    stage = Path("/root/repo/.cache") / f"scan_binary_{Path(sf_dir).name}"
    if not (stage / "_STAGED").exists():
        rows = (
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 50)
            .select("doc_id", "text")
            .collect()
        )
        stage.mkdir(parents=True, exist_ok=True)
        for r in rows:
            (stage / f"doc_{r['doc_id']:05d}.bin").write_bytes(r["text"].encode())
        (stage / "_STAGED").touch()
    bf = read_binary_files(spark, str(stage), glob="*.bin")
    return bf.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


def q_merge_upsert(spark, sf_dir):
    """Keyed latest-wins upsert (MERGE INTO relational form): a
    synthetic update batch (every 7th order restated at +10% price,
    30 days later) merges into orders; one groupBy-max(struct)
    shuffle, no join."""
    from awi_datapipelinepublic_spark.operators.merge import merge_upsert

    base = _t(spark, sf_dir, "orders")
    updates = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("R").alias("o_orderstatus"),
        # no ROUND: a 2dp price × 1.1 lands on exact half-boundaries
        # where Spark (HALF_UP) and DuckDB (half-even) disagree; the
        # raw IEEE product is bit-identical in both engines.
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("o_orderdate"),
        "o_orderpriority",
    )
    return merge_upsert(base, updates, keys=["o_orderkey"], version_col="o_orderdate").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"
    )


def q_scd2_merge(spark, sf_dir):
    """SCD type-2: collapse each user's event_type change log into
    effective-dated validity intervals (valid_from/valid_to/
    is_current). Gaps-and-islands over ONE key-partitioned sort."""
    from awi_datapipelinepublic_spark.operators.merge import scd2_merge

    h = read_events(spark, sf_dir).select("user_id", "event_type", "ts")
    return scd2_merge(h, keys=["user_id"], change_col="event_type", effective_col="ts").select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


def q_paragraph_dedup(spark, sf_dir):
    """Segment-level exact dedup (C4 paragraph rule, word-span form
    for this corpus): every repeated 20-word segment is dropped
    corpus-wide except its first (doc_id, pos) occurrence, and
    documents are reassembled from their surviving segments."""
    from awi_datapipelinepublic_spark.operators.dedup import segment_exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return segment_exact_dedup(docs, span_words=20).select("doc_id", "text")


def q_tpch_q1_pricing(spark, sf_dir):
    """TPC-H Q1 shape: full-scan grouped multi-aggregate over the fact
    table. Two grouping keys with tiny cardinality → map-side partial
    aggregation collapses nearly all rows before the single shuffle;
    every aggregate is a codegen-resident built-in. The canonical
    "pricing summary report" scan-throughput benchmark."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-08-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tpch_q6_forecast(spark, sf_dir):
    """TPC-H Q6 shape: tight range predicates → single scalar sum.
    All three predicates push into the parquet scan (PushedFilters);
    no shuffle at all — partial sums combine in a single-partition
    final agg. The canonical predicate-pushdown benchmark."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue")
    )


def q_tpch_q5_revenue(spark, sf_dir):
    """TPC-H Q5 shape: multi-way star join → revenue per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


def q_multimodal_decode(spark, sf_dir):
    """Binary-column plumbing: synthesize payloads, decode via
    Arrow-batched mapInPandas (stubbed codec, deterministic features).
    The oracle replicates the stub's arithmetic in SQL, verifying the
    distributed path produced exactly one correct row per input."""
    d = attach_binary_payload(_t(spark, sf_dir, "documents"))
    return decode_media(d)


def q_bpe_token_count(spark, sf_dir):
    """BPE-style pre-tokenizer count: words / digits / punctuation
    runs, the GPT-ish segmentation regex."""
    d = _t(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), 0)).cast("long").alias("n_bpe_tokens"),
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cos ≥ 0.3)."""
    return embedding_near_dup(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def q_profile_columns(spark, sf_dir):
    """Data-profiling sweep: per-column null counts, distinct counts,
    numeric min/max — one wide single-pass aggregate (the shape a
    100 TB profiler must take: never one pass per column)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_custkey"),
        F.sum(F.col("o_orderpriority").isNull().cast("long")).alias("null_priority"),
        F.countDistinct("o_custkey").alias("distinct_custkey"),
        F.countDistinct("o_orderstatus").alias("distinct_status"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    )


def q_array_functions(spark, sf_dir):
    """Array vocabulary over tokenized text: element access, size,
    membership, slicing — all codegen'd array primitives."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    staged = d.select("doc_id", toks.alias("t"))
    return staged.select(
        "doc_id",
        F.element_at("t", 1).alias("first_tok"),
        F.element_at("t", -1).alias("last_tok"),
        F.size("t").cast("long").alias("n"),
        F.array_contains("t", "the").cast("int").alias("has_the"),
        F.array_join(F.slice("t", 1, 3), " ").alias("first3"),
    )


def q_string_functions(spark, sf_dir):
    """Scalar string vocabulary: upper/lower/substring/concat/replace/
    lpad/length/trim — one projection, all codegen."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("lo"),
        F.substring("c_name", 10, 5).alias("sub"),
        F.concat(F.col("c_mktsegment"), F.lit("|"), F.col("c_name")).alias("cat"),
        F.regexp_replace(F.col("c_name"), "0", "#").alias("repl"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.length("c_name").cast("long").alias("len"),
    )


def q_date_functions(spark, sf_dir):
    """Date/time vocabulary: extract parts, truncate, add, diff."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("long").alias("y"),
        F.month(d).cast("long").alias("m"),
        F.dayofmonth(d).cast("long").alias("dom"),
        F.quarter(d).cast("long").alias("q"),
        F.date_trunc("month", d).alias("month_start"),
        F.date_add(d.cast("date"), 30).alias("plus30"),
        F.datediff(F.lit("1999-01-01").cast("date"), d.cast("date")).cast("long").alias("days_to_99"),
    )


def q_conditional_functions(spark, sf_dir):
    """greatest/least/nullif/nvl vocabulary."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.greatest("l_quantity", "l_discount").alias("g"),
        F.least("l_tax", "l_discount").alias("l"),
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_or_null"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("NONE")).alias("flag_default"),
    )


def q_explode_ordinality(spark, sf_dir):
    """Array explode with position (posexplode ↔ UNNEST WITH
    ORDINALITY): embeddings unrolled to (vec_id, pos, value) rows."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    return e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id", (F.col("pos") + 1).cast("long").alias("pos"),
        F.round(F.col("val").cast("double"), 6).alias("val"),
    )


def q_cross_join(spark, sf_dir):
    """Explicit cartesian product (region × region) — the only place a
    cross join is acceptable is tiny×tiny."""
    r1 = _t(spark, sf_dir, "region").select(F.col("r_regionkey").alias("a"))
    r2 = _t(spark, sf_dir, "region").select(F.col("r_regionkey").alias("b"))
    return r1.crossJoin(r2)


GROUPED_ZSCORE_SCHEMA = "user_id long, event_id long, zscore double"


def q_grouped_map_zscore(spark, sf_dir):
    """Grouped-map Pandas UDF (applyInPandas): per-user z-score of
    event values — the custom-operator escape hatch for semantics the
    built-ins can't express. One shuffle on the group key; Arrow
    batches per group. (Here the semantics ARE SQL-expressible, which
    is exactly what makes an oracle possible — the point under test is
    the applyInPandas path itself.)"""
    import pandas as pd

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        mean = v.mean()
        sd = ((v - mean) ** 2).mean() ** 0.5  # population
        z = (v - mean) / sd if sd > 0 else v * 0.0
        return pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "zscore": z.round(4)}
        )

    ev = read_events(spark, sf_dir).select("user_id", "event_id", "value")
    return ev.groupBy("user_id").applyInPandas(zscore, schema=GROUPED_ZSCORE_SCHEMA)


# ---------------------------------------------------------------------------
# Extensions: deduplication
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5-of-normalized-text groupBy, keep lowest id."""
    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d).select("fingerprint", "doc_id", "dup_count")


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram (k=3 word shingles) Jaccard near-dup pairs ≥ 0.5."""
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.5)


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs. Hash-verified: the signature hash
    family is md5-derived (operators/dedup.py hash-family block), so the
    DuckDB oracle replays the exact same signatures, bands, and
    pairs."""
    return minhash_lsh_candidates(_t(spark, sf_dir, "documents"), num_hashes=32, bands=8, k=3)


def q_dedup_containment(spark, sf_dir):
    """Asymmetric n-gram containment pairs
    (operators/dedup.py:ngram_containment_pairs, k=3, max-direction ≥
    0.8): the excerpt/quotation near-dup detector Jaccard cannot see —
    |A∩B|/|A| per direction over distinct word shingles."""
    from awi_datapipelinepublic_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.8)


def q_dedup_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints, md5-portable family
    (operators/dedup.py:simhash) — hash-verified: the two 32-bit
    halves replay bit-for-bit in the DuckDB oracle. Exposed as
    (hi, lo) so every value is a non-negative long in both engines."""
    d = _t(spark, sf_dir, "documents")
    fp = simhash(d).select("doc_id", "simhash")
    return fp.select(
        "doc_id",
        F.shiftrightunsigned("simhash", 32).alias("simhash_hi"),
        F.col("simhash").bitwiseAND(F.lit((1 << 32) - 1)).alias("simhash_lo"),
    )


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-ball near-dup candidates (pigeonhole banding,
    bucket-capped). Hash-verified since the md5-portable rework: the
    DuckDB oracle replays fingerprints, 7-bit chunk banding, the
    2..2000 bucket cap, and the exact Hamming filter."""
    return simhash_near_dup_candidates(_t(spark, sf_dir, "documents"), max_hamming=8)


# ---------------------------------------------------------------------------
# Extensions: similarity search
# ---------------------------------------------------------------------------

def _query_vec(spark, sf_dir) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select("embedding").first()
    )
    return [float(x) for x in row["embedding"]]


def q_knn_cosine(spark, sf_dir):
    """Brute-force cosine top-10 to the vec_id=0 embedding —
    TakeOrderedAndProject over one scan."""
    return knn_brute_force(_t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=10)


def q_knn_ivf(spark, sf_dir):
    """IVF-bucketed ANN top-10. Hash-verified: the centroid pick is
    deterministic-by-id and the 9dp-rounded assignment argmax
    (operators/similarity.py:ivf_assign) replays exactly in the DuckDB
    list_cosine_similarity oracle; recall vs brute force additionally
    asserted in tests/."""
    return knn_ivf(_t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), k=10)


def q_knn_lsh(spark, sf_dir):
    """Sign-LSH bucketed ANN top-10. Hash-verified since round 4: the
    md5-derived hyperplanes and 9dp-rounded sign bits
    (operators/similarity.py:_hyperplanes) replay exactly in DuckDB;
    recall vs brute force additionally asserted in tests/."""
    return knn_lsh(_t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), dim=64, k=10, h=8)


# ---------------------------------------------------------------------------
# Extensions: text analysis
# ---------------------------------------------------------------------------

def q_text_stats(spark, sf_dir):
    """Token counting + stopword ratio + fingerprint in one projection."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        X.token_count("text").alias("n_tokens"),
        F.round(X.stopword_ratio("text"), 6).alias("stop_ratio"),
        X.doc_fingerprint("text").alias("fingerprint"),
    )


def q_lang_id(spark, sf_dir):
    """Stopword-ratio language heuristic."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", X.lang_id("text").alias("lang_pred"))


def q_quality_score(spark, sf_dir):
    """Composite quality score (length/stopword/punctuation)."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", X.quality_score("text").alias("quality"))


_DE_SAMPLE = "der hund und die katze ist ein tier nicht mit auf für von haus"
_FR_SAMPLE = "le chien et la chatte est un animal pas avec sur pour de maison"


def q_lang_id_multi(spark, sf_dir):
    """Multi-language stopword-ratio heuristic (functions/text.py:
    lang_id_scores): per-language ratios over frozen de/en/fr lists +
    deterministic argmax prediction. The corpus is English-only, so
    German/French samples are injected deterministically (doc_id%7)
    and the oracle replays the injection + the same strict-> fold."""
    from awi_datapipelinepublic_spark.functions.text import lang_id_scores

    d = _t(spark, sf_dir, "documents")
    dirty = (
        F.when(F.col("doc_id") % 7 == 1, F.lit(_DE_SAMPLE))
        .when(F.col("doc_id") % 7 == 2, F.lit(_FR_SAMPLE))
        .otherwise(F.col("text"))
    )
    s = lang_id_scores(dirty)
    return d.select(
        "doc_id",
        F.round(s["score_de"], 6).alias("score_de"),
        F.round(s["score_en"], 6).alias("score_en"),
        F.round(s["score_fr"], 6).alias("score_fr"),
        s["lang_pred"].alias("lang_pred"),
    )


def q_collocations_pmi(spark, sf_dir):
    """Top-50 PMI collocations (operators/corpus.py:collocations_pmi):
    adjacent pairs beating unigram independence, min_count-floored,
    PMI-desc/word-asc total order. The phrase-mining companion of
    vocab_build/bigram_lm."""
    from awi_datapipelinepublic_spark.operators.corpus import collocations_pmi

    return collocations_pmi(_t(spark, sf_dir, "documents"))


def q_funnel_steps(spark, sf_dir):
    """Multi-step ordered funnel: view → click → purchase, each step
    the FIRST qualifying event within 24 h of the previous step's
    timestamp. Two chained (key + time-range) joins + min aggregates —
    the same user-partitioned attribution shape as the 2-step funnel,
    extended one stage; output is the per-stage survivor census (one
    row: n_users, n_step1..n_step3) — the funnel report itself."""
    e = read_events(spark, sf_dir)

    def first_after(prev, prev_ts, etype, out_ts):
        nxt = e.filter(F.col("event_type") == etype).select(
            F.col("user_id").alias("nu"), F.col("ts").alias("nts")
        )
        j = prev.join(
            nxt,
            (F.col("user_id") == F.col("nu"))
            & (F.col("nts") >= F.col(prev_ts))
            & (F.col("nts") <= F.col(prev_ts) + F.expr("INTERVAL 24 HOURS")),
            "left",
        )
        return j.groupBy(*prev.columns).agg(F.min("nts").alias(out_ts))

    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after(s1, "t1", "click", "t2")
    s3 = first_after(s2, "t2", "purchase", "t3")
    # total distinct users via the bounded 1-row crossJoin pattern —
    # no driver-side count action inside the gate
    tot = e.select("user_id").distinct().agg(F.count(F.lit(1)).alias("n_users"))
    steps = s3.agg(
        F.count("t1").alias("n_step1"),
        F.count("t2").alias("n_step2"),
        F.count("t3").alias("n_step3"),
    )
    return steps.crossJoin(F.broadcast(tot)).select(
        "n_users", "n_step1", "n_step2", "n_step3"
    )


def q_sliding_distinct_users(spark, sf_dir):
    """Exact 7-day rolling distinct users (operators/events.py:
    sliding_distinct_users): the COUNT(DISTINCT) RANGE window with no
    Spark form, rewritten as a bounded explode over the DEDUPED
    (user, day) activity table — 7× growth on users × active-days,
    never raw events."""
    from awi_datapipelinepublic_spark.operators.events import sliding_distinct_users

    return sliding_distinct_users(read_events(spark, sf_dir))


def q_interval_coverage(spark, sf_dir):
    """Gaps-and-islands coverage (operators/events.py:
    interval_coverage): each event opens a 10-minute interval;
    overlaps merge per user; output = islands + covered seconds.
    Integer epoch arithmetic end to end — no float drift."""
    from awi_datapipelinepublic_spark.operators.events import interval_coverage

    ev = read_events(spark, sf_dir).select(
        "user_id",
        F.col("ts").cast("long").alias("start_s"),
        (F.col("ts").cast("long") + 600).alias("end_s"),
    )
    return interval_coverage(ev)


def q_cumulative_adoption(spark, sf_dir):
    """Cumulative distinct-user adoption (operators/events.py:
    cumulative_adoption): the COUNT(DISTINCT) OVER (ORDER BY day)
    query with no Spark window form, rewritten scale-correctly as
    first-seen-day counts + a running sum over the day axis — the
    window runs over days, never events."""
    from awi_datapipelinepublic_spark.operators.events import cumulative_adoption

    return cumulative_adoption(read_events(spark, sf_dir))


def q_spatial_radius_join(spark, sf_dir):
    """Grid-bucketed radius join (operators/spatial.py): all customer
    pairs within Euclidean distance 5 on a synthetic 100×100 plane
    (md5-derived dyadic coordinates — exact doubles both engines).
    The spatial twin of LSH banding: 3×3 neighbor-cell equi-join
    instead of an O(n²) theta-join; the oracle replays the plain
    quadratic form, which the exact IEEE predicate matches row-set
    for row-set."""
    from awi_datapipelinepublic_spark.operators.spatial import grid_radius_join

    c = _t(spark, sf_dir, "customer")
    coord = lambda tag: (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(tag), F.col("c_custkey").cast("string"))), 1, 8),
            16, 10,
        ).cast("long")
        / F.lit(4294967296.0)
        * F.lit(100.0)
    )
    pts = c.select(
        F.col("c_custkey").alias("id"), coord("x#").alias("x"), coord("y#").alias("y")
    )
    out = grid_radius_join(pts, radius=5.0)
    return out.select("id_a", "id_b", F.round("dist_sq", 9).alias("dist_sq"))


def q_drift_psi(spark, sf_dir):
    """Data-drift alarm (operators/quality.py:population_stability):
    PSI of the order-priority distribution between a reference snapshot
    (even keys) and a current one (odd keys) with deterministic
    injected drift (key%3==0 forced to '1-URGENT'). Bucket-sized
    exchanges only; 0.5-smoothed so one-sided buckets stay finite."""
    from awi_datapipelinepublic_spark.operators.quality import population_stability

    o = _t(spark, sf_dir, "orders")
    ref = o.filter(F.col("o_orderkey") % 2 == 0)
    cur = o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("1-URGENT")).otherwise(
            F.col("o_orderpriority")
        ),
    )
    return population_stability(ref, cur, "o_orderpriority")


def q_drift_psi_numeric(spark, sf_dir):
    """Numeric twin of drift_psi: the SAME population_stability
    operator over fixed-width price bins (floor(price/500) — IEEE
    division + floor, engine-deterministic). Injected drift: odd-key
    snapshot inflates prices 10% for key%3==0."""
    from awi_datapipelinepublic_spark.operators.quality import population_stability

    o = _t(spark, sf_dir, "orders")
    binify = lambda c: F.floor(c / F.lit(500.0)).cast("long")
    ref = o.filter(F.col("o_orderkey") % 2 == 0).select(
        binify(F.col("o_totalprice")).alias("price_bin")
    )
    cur = o.filter(F.col("o_orderkey") % 2 == 1).select(
        binify(
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") * F.lit(1.1)
            ).otherwise(F.col("o_totalprice"))
        ).alias("price_bin")
    )
    return population_stability(ref, cur, "price_bin")


def q_normalize_accents(spark, sf_dir):
    """Accent folding (functions/text.py:fold_accents) for
    multilingual canonicalization: deterministic accented fragments
    injected per doc_id, folded, and fingerprinted — the folded md5
    only matches the oracle if every mapped character replays DuckDB's
    strip_accents exactly."""
    from awi_datapipelinepublic_spark.functions.text import doc_fingerprint, fold_accents

    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("café crème №"), (F.col("doc_id") % 7).cast("string"),
        F.lit(" àéîõü çñ "), F.substring("text", 1, 40),
    )
    folded = fold_accents(dirty)
    return d.select(
        "doc_id",
        folded.alias("folded"),
        doc_fingerprint(folded).alias("folded_fp"),
    )


def q_cohort_retention(spark, sf_dir):
    """Cohort retention triangle (operators/events.py:
    cohort_retention): users bucketed by first-seen day; per
    (cohort_day, offset) active counts + retention rate. Activity is
    deduplicated to (user, day) before any join, so the pipeline is
    three key-partitioned groupBys and one user-key join."""
    from awi_datapipelinepublic_spark.operators.events import cohort_retention

    return cohort_retention(read_events(spark, sf_dir))


def q_bigram_logprob(spark, sf_dir):
    """Sequence-aware LM quality proxy (operators/quality.py:
    bigram_logprob): per-doc mean log p(w2|w1) under the corpus's own
    bigram counts — the word-ORDER-sensitive CCNet-style filter the
    unigram proxy can't express."""
    from awi_datapipelinepublic_spark.operators.quality import bigram_logprob

    return bigram_logprob(_t(spark, sf_dir, "documents"))


def q_dedup_cluster_stats(spark, sf_dir):
    """Duplication-profile audit (operators/dedup.py:
    dedup_cluster_stats): histogram of exact-dup cluster sizes —
    two chained groupBys, each input strictly smaller than the last."""
    from awi_datapipelinepublic_spark.operators.dedup import dedup_cluster_stats

    return dedup_cluster_stats(_t(spark, sf_dir, "documents"))


def q_pii_redact(spark, sf_dir):
    """PII redaction (functions/privacy.py): email/IP/SSN/phone →
    typed placeholders, one chained-regexp projection. The synthetic
    corpus carries no PII, so deterministic per-doc PII is injected
    first — the redaction then has real work to undo, and the oracle
    replays both steps."""
    from awi_datapipelinepublic_spark.functions.privacy import redact_pii

    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1 (415) 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 ssn 123-45-6789 end"),
    )
    return d.select("doc_id", redact_pii(dirty).alias("clean"))


def q_pii_counts(spark, sf_dir):
    """Audit twin of pii_redact: per-category PII match counts."""
    from awi_datapipelinepublic_spark.functions.privacy import pii_counts

    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ssn 123-45-6789 end"),
    )
    c = pii_counts(dirty)
    return d.select(
        "doc_id",
        c["emails"].alias("emails"),
        c["ips"].alias("ips"),
        c["ssns"].alias("ssns"),
        c["phones"].alias("phones"),
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style bigram repetition metrics per document."""
    from awi_datapipelinepublic_spark.operators.quality import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"), n=2)


def q_gopher_filter(spark, sf_dir):
    """Gopher word-level quality rules (functions/text.py:gopher_rules):
    word-count bounds, mean word length 3-10, symbol-to-word ratio,
    ≥80% alphabetic words, stopword presence — per-doc signals plus an
    INT 0/1 verdict, all in one codegen projection. The synthetic
    corpus is uniformly clean prose, so deterministic defects are
    injected first (the pii_redact pattern) and the oracle replays
    them: doc_id%11 truncates to 3 words (word-count floor), doc_id%5
    appends symbol/number soup (symbol + alpha rules), doc_id%13
    appends a 400-char token (mean-length ceiling)."""
    from awi_datapipelinepublic_spark.functions.text import gopher_rules

    d = _t(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    dirty = F.when(
        F.col("doc_id") % 11 == 0, F.array_join(F.slice(toks, 1, 3), " ")
    ).otherwise(F.col("text"))
    dirty = F.when(
        F.col("doc_id") % 5 == 0, F.concat(dirty, F.lit(" ## 12 34 ### 56 78 #"))
    ).otherwise(dirty)
    dirty = F.when(
        F.col("doc_id") % 13 == 0, F.concat(dirty, F.lit(" "), F.repeat(F.lit("x"), 400))
    ).otherwise(dirty)
    r = gopher_rules(dirty, min_words=20)
    return d.select(
        "doc_id",
        r["n_words"].alias("n_words"),
        F.round(r["mean_word_len"], 6).alias("mean_word_len"),
        F.round(r["alpha_ratio"], 6).alias("alpha_ratio"),
        F.round(r["symbol_ratio"], 6).alias("symbol_ratio"),
        r["n_stopwords"].alias("n_stopwords"),
        r["passes"].alias("passes"),
    )


def q_curation_pipeline(spark, sf_dir):
    """End-to-end corpus curation (operators/quality.py:curate_corpus):
    lang-id filter → Gopher rule filter → exact dedup, the FineWeb-
    style front half of a training pipeline as one hash-verified gate.
    Scan-fused filters, then a single fingerprint-keyed shuffle."""
    from awi_datapipelinepublic_spark.operators.quality import curate_corpus

    return curate_corpus(_t(spark, sf_dir, "documents"), min_words=20)


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs with doc_id % 97 == 0 act as
    the eval set; surviving corpus ids share no 7-gram with it."""
    from awi_datapipelinepublic_spark.operators.quality import decontaminate

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, n=7).select("doc_id", "n_chars")


def q_fuzzy_decontaminate(spark, sf_dir):
    """Paraphrase-robust decontamination
    (operators/quality.py:fuzzy_contaminated_ids): corpus docs sharing
    a MinHash-LSH band with the %97 eval set — the near-dup signature
    catches rewordings exact n-gram overlap misses. Hash-verified via
    the portable-minhash band CTEs; LEFT SEMI probe, corpus scanned
    once."""
    from awi_datapipelinepublic_spark.operators.quality import fuzzy_contaminated_ids

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return fuzzy_contaminated_ids(corpus, bench)


# ---------------------------------------------------------------------------
# Extensions: event-stream analytics
# ---------------------------------------------------------------------------

def q_events_tumbling(spark, sf_dir):
    """Tumbling 1-hour windowed counts/sums per event type."""
    return tumbling_window_agg(read_events(spark, sf_dir))


def q_events_session(spark, sf_dir):
    """Gap-based sessionization (30 min idle → new session)."""
    return sessionize(read_events(spark, sf_dir))


def q_time_rollup(spark, sf_dir):
    """Hypertable-style multi-grain rollup (operators/timeseries.py:
    multi_grain_rollup): hour/day/month aggregates where each coarser
    grain re-aggregates the finer grain's partials — the raw fact is
    scanned ONCE; day/month shuffles move bucket-cardinality rows
    only. Oracle replays the three grains directly off raw (the
    rollup is algebraic, so partial re-aggregation is exact)."""
    from awi_datapipelinepublic_spark.operators.timeseries import multi_grain_rollup

    return multi_grain_rollup(read_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# Extensions: multidimensional aggregates, rank/range operators,
# time-series scaffolding, skew-safe joins
# ---------------------------------------------------------------------------

def q_cube_agg(spark, sf_dir):
    """CUBE over (status, priority) with GROUPING_ID — all 4 grouping
    combinations in one pass (Expand + single partial-agg shuffle, not
    4 scans)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def q_grouping_sets_agg(spark, sf_dir):
    """Explicit GROUPING SETS ((r_name), (n_name), ()) — per-region,
    per-nation, and grand totals without rescanning the join."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .createOrReplaceTempView("gs_customer_geo")
    )
    return spark.sql(
        """
        SELECT r_name, n_name, COUNT(*) AS n_customers,
               ROUND(SUM(c_acctbal), 2) AS sum_acctbal
        FROM gs_customer_geo
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """
    )


def q_topk_per_group(spark, sf_dir):
    """Top-3 orders by price per priority class — WindowGroupLimit
    plan: bounded per-key heap before the shuffle (see
    operators/windows.py:top_k_per_group)."""
    o = _t(spark, sf_dir, "orders")
    return top_k_per_group(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    ).select("o_orderpriority", "o_orderkey", "o_totalprice", "rn")


def q_dedup_keep_first(spark, sf_dir):
    """Snapshot dedup: earliest order per customer (CDC-compaction
    shape; latest-wins is the same operator ordered DESC)."""
    o = _t(spark, sf_dir, "orders")
    return keep_first(
        o, ["o_custkey"], [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    ).select("o_custkey", "o_orderkey", "o_orderdate")


def q_range_join_binned(spark, sf_dir):
    """Interval join events↔maintenance-windows via time-bin equi-join
    + residual predicate (operators/joins.py:range_join_binned) — the
    scale path for a join Spark would otherwise nested-loop."""
    e = read_events(spark, sf_dir).select("ts", "value")
    iv = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 997 == 0)
        .selectExpr(
            "o_orderkey AS iv_id",
            "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, "
            "CAST(o_orderkey % 720 AS INT), 0, 0) AS lo",
            "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, "
            "CAST(o_orderkey % 720 + o_orderkey % 13 + 1 AS INT), 0, 0) AS hi",
        )
    )
    return (
        range_join_binned(e, iv, "ts", "lo", "hi", bin_seconds=3600)
        .groupBy("iv_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_histogram_numeric(spark, sf_dir):
    """Fixed-width numeric histogram — one partial-agg pass, the
    profiling primitive for binned distributions at scale."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.floor(F.col("o_totalprice") / 25000).alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


def q_date_spine_gapfill(spark, sf_dir):
    """Gap-free monthly series per order status: sequence/explode
    calendar spine × status dims ⟕ observed monthly counts, COALESCE 0
    (operators/timeseries.py)."""
    o = _t(spark, sf_dir, "orders")
    spine = date_spine(spark, "1995-01-01", "1996-12-01")
    statuses = o.select("o_orderstatus").distinct()
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("period"),
        "o_orderstatus",
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    return gap_fill(
        spine.crossJoin(statuses), monthly, ["period", "o_orderstatus"], {"n_orders": 0}
    )


def q_tpch_q10_returns(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue, top 20 customers.
    Fact-fact join + broadcast dim + agg + rounded-then-sorted top-k."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1993-10-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_returnflag") == "R")
        )
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


def q_bool_bit_agg(spark, sf_dir):
    """Boolean and bitwise aggregates (bool_and/bool_or,
    bit_and/or/xor) — single-pass, map-side combinable."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.bool_and(F.col("o_totalprice") > 900.0).cast("int").alias("all_above_900"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").cast("int").alias("any_urgent"),
        F.bit_and(F.col("o_custkey")).alias("custkey_band"),
        F.bit_or(F.col("o_custkey")).alias("custkey_bor"),
        F.bit_xor(F.col("o_custkey")).alias("custkey_bxor"),
    )


def q_map_functions(spark, sf_dir):
    """Map construction + lookup: per-customer status→count map built
    with map_from_entries(collect_list(struct)), probed with
    try_element_at (ANSI-safe on missing keys)."""
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = counts.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderstatus", "n"))
        ).alias("m")
    )
    return m.select(
        "o_custkey",
        F.try_element_at("m", F.lit("F")).alias("n_f"),
        F.try_element_at("m", F.lit("O")).alias("n_o"),
        F.size("m").cast("long").alias("n_statuses"),
    )


def q_regr_agg(spark, sf_dir):
    """Linear-regression aggregates (slope/intercept/r2) of price on
    quantity per line status — single-pass moment accumulation."""
    li = _t(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_linestatus").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


def q_win_percent_rank(spark, sf_dir):
    """percent_rank + cume_dist over a unique ordering (deterministic
    peer groups)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


def q_scan_jsonl(spark, sf_dir):
    """JSON-lines source (sources/readers.py:read_jsonl): schema-
    declared scan, no inference pass; oracle reads the same rows from
    the canonical parquet, so quoting/typing/date-parse bugs break the
    hash."""
    from awi_datapipelinepublic_spark.sources.readers import read_jsonl

    stage = Path("/root/repo/.cache") / f"scan_jsonl_{Path(sf_dir).name}"
    if not (stage / "_SUCCESS").exists():
        (
            _t(spark, sf_dir, "orders")
            .select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            )
            .coalesce(4)
            .write.mode("overwrite")
            .json(str(stage))
        )
    return read_jsonl(spark, str(stage), _SCAN_CSV_FIELDS)


def q_scan_xml(spark, sf_dir):
    """XML source (sources/readers.py:read_xml, Spark 4 built-in XML
    datasource): schema-declared scan over <row> elements staged from
    the orders table; oracle reads the same rows from parquet, so
    element parsing / typing / date handling bugs break the hash."""
    from awi_datapipelinepublic_spark.sources.readers import read_xml

    stage = Path("/root/repo/.cache") / f"scan_xml_{Path(sf_dir).name}"
    if not (stage / "_SUCCESS").exists():
        (
            _t(spark, sf_dir, "orders")
            .select(
                "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            )
            .coalesce(4)
            .write.mode("overwrite")
            .format("xml")
            .option("rowTag", "row")
            .save(str(stage))
        )
    return read_xml(spark, str(stage), _SCAN_CSV_FIELDS)


def q_scan_orc(spark, sf_dir):
    """ORC source/sink round-trip: columnar alternative to parquet,
    native reader/writer, type-preserving (no string staging)."""
    stage = Path("/root/repo/.cache") / f"scan_orc_{Path(sf_dir).name}"
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    if not (stage / "_SUCCESS").exists():
        _t(spark, sf_dir, "orders").select(*cols).coalesce(4).write.mode(
            "overwrite"
        ).orc(str(stage))
    return spark.read.orc(str(stage)).select(*cols)


def q_scan_schema_drift(spark, sf_dir):
    """Schema-evolution scan: two parquet batches with DIFFERENT
    column sets (the day-2 pipeline reality) read back through
    mergeSchema — missing columns surface as NULLs, no manual
    alignment. Batch split is deterministic (o_orderkey % 2); the
    oracle replays the union-with-NULLs directly."""
    stage = Path("/root/repo/.cache") / f"scan_drift_{Path(sf_dir).name}"
    o = _t(spark, sf_dir, "orders")
    if not (stage / "b1" / "_SUCCESS").exists() or not (stage / "b2" / "_SUCCESS").exists():
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_custkey"
        ).coalesce(2).write.mode("overwrite").parquet(str(stage / "b1"))
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).coalesce(2).write.mode("overwrite").parquet(str(stage / "b2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        str(stage / "b1"), str(stage / "b2")
    )
    return merged.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


def q_dedup_pr_eval(spark, sf_dir):
    """Dedup-quality evaluation (operators/quality.py:
    pair_retrieval_metrics): precision/recall/F1 of the MinHash-LSH
    candidate pairs (32 hashes × 8 bands, k=3) against the exact
    n-gram Jaccard ≥ 0.5 gold set — the recall-floor harness
    (tools/recall_sweep.py) as a hash-verified single-row gate."""
    from awi_datapipelinepublic_spark.operators.quality import pair_retrieval_metrics

    d = _t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(d, num_hashes=32, bands=8, k=3)
    gold = ngram_jaccard_pairs(d, k=3, threshold=0.5)
    return pair_retrieval_metrics(cand, gold)


def q_train_test_split(spark, sf_dir):
    """Deterministic train/val/test assignment by md5(id) prefix
    (operators/sampling.py): stable across runs, engines, and
    incremental batches — the property randomSplit cannot give."""
    from awi_datapipelinepublic_spark.operators.sampling import train_val_test_split

    d = _t(spark, sf_dir, "documents")
    return train_val_test_split(d, "doc_id").select("doc_id", "split")


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-stratum md5 thresholds,
    single filter, no RNG state (operators/sampling.py)."""
    from awi_datapipelinepublic_spark.operators.sampling import stratified_sample_hash

    c = _t(spark, sf_dir, "customer")
    return stratified_sample_hash(
        c, "c_mktsegment", "c_custkey",
        {"BUILDING": 0.25, "AUTOMOBILE": 0.10}, default_fraction=0.05,
    ).select("c_custkey", "c_mktsegment")


def q_chunk_documents(spark, sf_dir):
    """Fixed-size token chunks with overlap (operators/chunking.py) —
    the LLM-pipeline unit-of-work transform, pure
    sequence/posexplode/slice, no UDF."""
    from awi_datapipelinepublic_spark.operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"), size=50, overlap=10)


def q_json_serialize(spark, sf_dir):
    """Struct → JSON document serialization (to_json): the export-edge
    twin of json_parse; field order follows the struct, rendering
    matches DuckDB's to_json byte-for-byte on string/long fields."""
    e = read_events(spark, sf_dir)
    return e.select(
        "event_id",
        F.to_json(F.struct("event_type", "user_id")).alias("doc"),
    )


def q_vector_norm(spark, sf_dir):
    """functions/vectors.py HOF arithmetic (zip_with/aggregate) pinned
    to an oracle: L2 norm and self-dot of each embedding."""
    from awi_datapipelinepublic_spark.functions.vectors import dot, l2_norm

    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(l2_norm("embedding"), 4).alias("norm"),
        F.round(dot("embedding", "embedding"), 4).alias("self_dot"),
    )


def q_events_funnel(spark, sf_dir):
    """Funnel conversion: per user, the first click within 1 hour of
    their FIRST view. Equi-key + time-range join (user-partitioned, no
    cross-user shuffle amplification) then a min aggregate — the
    attribution-window shape of product analytics."""
    e = read_events(spark, sf_dir)
    first_view = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("click_ts")
    )
    joined = first_view.join(
        clicks,
        (F.col("user_id") == F.col("cu"))
        & (F.col("click_ts") >= F.col("first_view"))
        & (F.col("click_ts") <= F.col("first_view") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy("user_id", "first_view").agg(
        F.min("click_ts").alias("first_click"),
        F.max(F.col("click_ts").isNotNull().cast("int")).alias("converted"),
    )


def q_events_session_native(spark, sf_dir):
    """Native F.session_window in BATCH mode, pinned against the same
    independent gaps-and-islands oracle as the hand-built sessionize —
    proves the built-in's merge semantics (end = last event + gap,
    boundary events open a new session) match the specification."""
    e = read_events(spark, sf_dir)
    return (
        e.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def q_subquery_correlated(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q2 core shape): rows matching
    their group's aggregate. Catalyst decorrelates it into an
    aggregate + join — never a per-row re-execution."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("corr_orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM corr_orders o
        WHERE o_totalprice = (SELECT MIN(o2.o_totalprice)
                              FROM corr_orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


def q_scan_pysource(spark, sf_dir):
    """Custom Python DataSource (Spark 4 pyspark.sql.datasource):
    partition-parallel synthetic corpus whose deterministic content the
    DuckDB oracle regenerates independently — proves the source
    extensibility path end to end (sources/pydatasource.py)."""
    from awi_datapipelinepublic_spark.sources.pydatasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    return (
        spark.read.format("synthetic_docs")
        .option("rows", 1000)
        .option("partitions", 8)
        .load()
    )


def q_except_all(spark, sf_dir):
    """EXCEPT ALL — multiset difference (bag semantics preserve
    duplicate counts, unlike EXCEPT's set semantics in set_except)."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 3).select(F.col("l_orderkey").alias("k"))
    b = li.filter(F.col("l_returnflag") == "R").select(F.col("l_orderkey").alias("k"))
    return a.exceptAll(b)


def q_agg_argmax(spark, sf_dir):
    """max_by/min_by: the argmax aggregate. Tie-broken deterministically
    by folding the unique key into the ordering value (exact integer
    arithmetic on cents so both engines compare identical longs)."""
    o = _t(spark, sf_dir, "orders")
    # cents (exact 2-dp money → exact long) * 1e9 + orderkey: strictly
    # unique, monotone in (price, orderkey); fits a long at any tested sf.
    v = (F.round(F.col("o_totalprice") * 100).cast("long") * F.lit(1000000000).cast("long")
         + F.col("o_orderkey"))
    return o.groupBy("o_orderstatus").agg(
        F.max_by(F.col("o_orderkey"), v).alias("priciest_order"),
        F.min_by(F.col("o_orderkey"), v).alias("cheapest_order"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


def q_forward_fill(spark, sf_dir):
    """Last-observation-carried-forward over planted NULLs
    (operators/timeseries.py:forward_fill): per-customer ordered
    history, running last-non-null window."""
    from awi_datapipelinepublic_spark.operators.timeseries import forward_fill

    o = _t(spark, sf_dir, "orders").withColumn(
        "obs",
        F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(F.col("o_totalprice")),
    )
    return forward_fill(
        o, "obs", ["o_custkey"], [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        out_col="filled",
    ).select("o_orderkey", "o_custkey", "filled")


def q_win_distinct_count(spark, sf_dir):
    """COUNT(DISTINCT) over a window — Spark has no distinct window
    aggregate, so the engine form is size(collect_set() OVER w);
    state is the per-key distinct set, fine for low-cardinality
    payloads (statuses), swap to approx_count_distinct for high."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.size(F.collect_set("o_orderstatus").over(w)).cast("long").alias("n_statuses"),
    )


def q_having_groups(spark, sf_dir):
    """TPC-H Q18 shape: HAVING on a grouped aggregate, then join the
    qualifying groups back to the facts — the agg filter runs before
    the join, so only heavy groups are joined."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "o_orderkey", "o_orderdate", "total_qty")
    )


def q_string_distance(spark, sf_dir):
    """Edit-distance vocabulary (levenshtein) — the verify primitive
    for fuzzy entity matching; paired here with a devowel normalizer."""
    c = _t(spark, sf_dir, "customer")
    devowel = F.regexp_replace(F.col("c_name"), "[aeiou]", "")
    return c.select(
        "c_custkey",
        F.levenshtein(F.col("c_name"), devowel).cast("long").alias("dist"),
        F.length(devowel).cast("long").alias("n_consonants"),
    )


def q_frame_sample(spark, sf_dir):
    """Video-style frame sampling over opaque binary payloads
    (operators/multimodal.py:frame_sample): mapInPandas fan-out, every
    4th 1 KiB frame, md5 per frame so the oracle verifies the bytes."""
    from awi_datapipelinepublic_spark.operators.multimodal import frame_sample

    d = attach_binary_payload(_t(spark, sf_dir, "documents"))
    return frame_sample(d)


def q_unpivot_melt(spark, sf_dir):
    """Wide→long reshape (DataFrame.unpivot / melt): per-priority
    status counts melted to (priority, status_col, n)."""
    o = _t(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_f"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("n_o"),
        F.count(F.when(F.col("o_orderstatus") == "P", 1)).alias("n_p"),
    )
    return wide.unpivot(["o_orderpriority"], ["n_f", "n_o", "n_p"], "status_col", "n")


def q_json_array_explode(spark, sf_dir):
    """Nested-document ETL round trip: per-order lineitems collected
    into a JSON ARRAY OF STRUCTS (to_json), then schema-declared
    re-parse (from_json with array<struct<...>>) → explode → re-
    aggregate. The round trip is an identity, so the oracle is the
    direct per-order aggregate — which is exactly what makes it a
    correctness check of the nested parse path, not of the data.
    Scale shape: collect_list is per-order bounded (≤7 lines); parse +
    explode are codegen; one groupBy each side."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    nested = li.groupBy("l_orderkey").agg(
        F.to_json(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_quantity")))
        ).alias("items_json")
    )
    parsed = nested.select(
        "l_orderkey",
        F.explode(
            F.from_json(
                "items_json", "array<struct<l_linenumber:int,l_quantity:double>>"
            )
        ).alias("it"),
    )
    return parsed.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("it.l_quantity"), 4).alias("sum_qty"),
    )


def q_json_parse(spark, sf_dir):
    """Schema-declared JSON parsing (from_json, not regex): extract a
    typed field from the events props document."""
    e = read_events(spark, sf_dir)
    return e.select(
        "event_id", F.from_json("props", "k bigint").getField("k").alias("k")
    )


def q_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery (top-2 orders per customer) —
    Catalyst decorrelates the per-row ORDER BY ... LIMIT into a ranked
    window join, so it is the same WindowGroupLimit-friendly plan as
    topk_per_group, not a nested loop per customer."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("lat_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM lat_customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM lat_orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        """
    )


def q_dedup_pipeline(spark, sf_dir):
    """Flagship near-dedup pipeline: minhash → LSH banding →
    connected-component clustering → keep each cluster's min-id doc
    (operators/dedup.py:near_dedup_keep_canonical). Hash-verified: the
    md5-portable signature replays in DuckDB, and the oracle closes
    the same pair graph with a recursive CTE; transitivity and
    survivor-set properties are additionally pinned in
    tests/test_operators.py."""
    from awi_datapipelinepublic_spark.operators.dedup import near_dedup_keep_canonical

    return near_dedup_keep_canonical(_t(spark, sf_dir, "documents"))


def q_connected_components(spark, sf_dir):
    """Iterative hash-min connected components (operators/graph.py) on
    a deterministic chain graph over customer keys; the DuckDB oracle
    computes the same closure with a recursive CTE — an iterative
    Spark algorithm still oracle-gated."""
    from awi_datapipelinepublic_spark.operators.graph import connected_components

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        c.alias("a")
        .join(c.alias("b"), F.col("a.c_custkey") + 1 == F.col("b.c_custkey"))
        .filter(F.col("a.c_custkey") % 5 != 4)
        .select(F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst"))
    )
    # driver_threshold=0: the gate pins the DISTRIBUTED loop; the
    # adaptive small-graph fast path is covered in tests.
    return connected_components(edges, driver_threshold=0).select("node", "component")


def q_skew_join_salted(spark, sf_dir):
    """Salted skew join (operators/joins.py:salted_join): output must
    equal the plain equi-join — the oracle proves salt-and-replicate
    preserves semantics."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return salted_join(li, o, "l_orderkey", "o_orderkey", how="inner", salt=8).select(
        "l_orderkey", "l_linenumber", "o_orderdate"
    )


def q_scan_excel(spark, sf_dir):
    """scan_excel (§2.A; reference config.py:109-128): write a real
    two-sheet xlsx from the nation table with the stdlib writer
    (sources/xlsx.py), read it back through read_excel_sheets — the
    prime/plus align-union with SOURCE tag, every cell string-or-NULL.
    nation is a fixed 25 rows at every SF, so the driver-edge collect
    is bounded by construction (report files are small by nature)."""
    import tempfile
    from pathlib import Path as _P

    from awi_datapipelinepublic_spark.sources.readers import read_excel_sheets
    from awi_datapipelinepublic_spark.sources.xlsx import write_xlsx

    rows = (
        _t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    )
    prime = [[str(r["n_nationkey"]), r["n_name"]] for r in rows if r["n_nationkey"] < 13]
    plus = [
        [str(r["n_nationkey"]), r["n_name"], str(r["n_regionkey"])]
        for r in rows
        if r["n_nationkey"] >= 13
    ]
    path = str(_P(tempfile.mkdtemp(prefix="awi_xlsx_gate_")) / "ProductionRpt_gate.xlsx")
    write_xlsx(
        path,
        {
            "Prime Production Report": (["n_nationkey", "n_name"], prime),
            "Plus Production Report": (["n_nationkey", "n_name", "n_regionkey"], plus),
        },
    )
    return read_excel_sheets(
        spark,
        path,
        ["Prime Production Report", "Plus Production Report"],
        [],
        source_col="SOURCE",
    )


def q_streaming_pipeline(spark, sf_dir):
    """§2.I as a driver-gate row: the availableNow streaming pipeline
    (file source → foreachBatch clean + time-window merge,
    streaming/file_pipeline.py) produces the result, which is read
    back as a batch DataFrame. The oracle is the same clean stage in
    SQL — streaming == batch on a drained source."""
    import json as _json
    import tempfile
    from pathlib import Path as _P

    from awi_datapipelinepublic_spark.plans.spec import PipelineSpec
    from awi_datapipelinepublic_spark.streaming.file_pipeline import stream_pipeline

    tmp = _P(tempfile.mkdtemp(prefix="awi_stream_gate_"))
    fields = [
        {"name": "o_orderkey", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "o_custkey", "type": "INTEGER", "mode": "NULLABLE"},
        {"name": "o_orderdate", "type": "DATE", "mode": "NULLABLE"},
        {"name": "o_totalprice", "type": "NUMERIC", "mode": "NULLABLE"},
    ]
    (tmp / "schema.json").write_text(_json.dumps(fields))
    landing = tmp / "landing"
    (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .coalesce(1)
        .write.option("header", True)
        .csv(str(landing))
    )
    spec = PipelineSpec(
        name="orders_stream",
        schema_file=str(tmp / "schema.json"),
        date_col="o_orderdate",
        landing_dir=str(landing / "*.csv"),
        staging_dir=str(tmp / "staging"),
        base_table_path=str(tmp / "base"),
    )
    q = stream_pipeline(spark, spec, str(tmp / "ckpt"))
    _drain(q)
    out = spark.read.parquet(spec.base_table_path)
    return out.drop("_merge_month")


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the RETENTION-shaped view (projection → broadcast left
    joins → COALESCE → CASE indicators → filter → sort) on sf0.001."""
    return q_view_retention(spark, DEFAULT_SF_DIR)


def q_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank (operators/graph.py:pagerank) over the
    customer→supplier order graph — the second iterative-algorithm
    gate besides connected_components, again oracle-checked: the
    DuckDB twin unrolls the same 5 power iterations as chained CTEs.
    Node ids are prefixed ('c'/'s') so the two key spaces can't
    collide."""
    from awi_datapipelinepublic_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # The 5 power iterations join/aggregate on the node id 10 times:
    # run them over a BIGINT encoding (customer 2k, supplier 2k+1 — a
    # bijection, so distinct/degree/rank sums see identical groups)
    # and rebuild the 'c…'/'s…' labels only at the output edge. The
    # prefixed-string form shuffled ~2× the key bytes and paid string
    # hashing/compares in every exchange of the loop (guide §2.3
    # narrower types). Values are unchanged: same edge set, same
    # contributions, same damping arithmetic.
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey").cast("bigint") * 2).alias("src"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, iterations=5, damping=0.85)
    label = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c"), F.expr("node div 2"))
    ).otherwise(F.concat(F.lit("s"), F.expr("(node - 1) div 2")))
    return pr.select(label.alias("node"), F.round("pagerank", 6).alias("pagerank"))


def q_knn_join(spark, sf_dir):
    """Exact all-pairs kNN join (operators/similarity.py:
    knn_join_brute): every vector's top-5 cosine neighbors, ranked on
    the 6dp-rounded score so the (cos, b_id) tiebreak is cross-engine
    deterministic. Oracle: DuckDB list_cosine_similarity on DOUBLE[]
    + QUALIFY row_number."""
    from awi_datapipelinepublic_spark.operators.similarity import knn_join_brute

    emb = _t(spark, sf_dir, "embeddings")
    return knn_join_brute(emb, k=5)


def q_knn_join_lsh(spark, sf_dir):
    """LSH-bucketed approximate kNN join — the scale path (cogrouped
    per-bucket matmul, candidate count Σ|bucket|² not n², vectors
    cross the Python boundary once per row, never per pair). Code
    length h is auto-sized from the corpus so expected bucket size
    stays constant and candidate count stays linear in n (the
    sf0.1→sf1 sweep caught the fixed-h quadratic). Hash-verified since
    round 4 (md5-derived hyperplanes + 9dp-rounded sign bits replay
    the buckets exactly in DuckDB); recall vs the brute-force join is
    additionally bounded in tests."""
    from awi_datapipelinepublic_spark.operators.similarity import knn_join_lsh

    emb = _t(spark, sf_dir, "embeddings")
    return knn_join_lsh(emb, dim=64, k=5, multiprobe_bits=1)


def q_kmeans_clusters(spark, sf_dir):
    """Fixed-iteration spherical k-means
    (operators/similarity.py:kmeans_assign, k=8, 3 iterations) — the
    iterative assign→recompute loop, hash-verified: deterministic
    modulo-step init, 9dp-rounded cosine argmax, per-dimension mean
    recompute replayed by unrolled per-iteration DuckDB CTEs (the
    pagerank oracle pattern)."""
    from awi_datapipelinepublic_spark.operators.similarity import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, n_clusters=8, iters=3)


def q_embedding_outliers(spark, sf_dir):
    """Centroid-distance outliers
    (operators/similarity.py:embedding_outliers): bottom-50 vectors by
    6dp cosine to their own spherical-k-means centroid (k=8, 3
    iterations) — the far-from-every-mode curation filter.
    Hash-verified through the whole k-means loop (unrolled CTEs) plus
    the double-rounded score mirror."""
    from awi_datapipelinepublic_spark.operators.similarity import embedding_outliers

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_outliers(emb, n_clusters=8, iters=3, bottom_k=50)


def q_knn_join_ivf(spark, sf_dir):
    """IVF-bucketed approximate all-pairs kNN join — the
    hash-verified ANN-join twin (operators/similarity.py:
    knn_join_ivf): deterministic modulo-step centroids + 9dp-rounded
    assignment replay exactly in the DuckDB oracle, per-cluster
    grouped Arrow matmul, 6dp (cos desc, b_id asc) ranking."""
    from awi_datapipelinepublic_spark.operators.similarity import knn_join_ivf

    emb = _t(spark, sf_dir, "embeddings")
    return knn_join_ivf(emb, k=5)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style embedding-cluster dedup (operators/dedup.py:
    semantic_dedup): IVF-cluster-bounded pairwise cosine → threshold
    graph → keep min-id per component. Cluster count auto-scales with
    the corpus (constant expected cluster size ⇒ linear pair count —
    the published SemDeDup setting; the sf0.1→sf1 sweep caught the
    fixed-k quadratic). Hash-verified since round 4: the deterministic
    modulo-step centroids, 9dp-rounded assignment AND 9dp-rounded
    threshold compare replay exactly in the DuckDB oracle (recursive
    min-label CTE for the components); recall vs the brute-force pair
    graph additionally bounded in tests."""
    from awi_datapipelinepublic_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.2)


_EXPECTATION_RULES = [
    {"name": "orderkey_not_null", "kind": "not_null", "column": "o_orderkey"},
    {"name": "orderkey_unique", "kind": "unique", "column": "o_orderkey"},
    {"name": "status_in_set", "kind": "in_set", "column": "o_orderstatus",
     "values": ["F", "O", "P"]},
    {"name": "price_in_range", "kind": "range", "column": "o_totalprice",
     "lo": 0.0, "hi": 1_000_000.0},
    {"name": "priority_format", "kind": "regex", "column": "o_orderpriority",
     "pattern": "^[1-5]-[A-Z ]+$"},
    {"name": "date_before_2000", "kind": "expr",
     "sql": "o_orderdate < DATE'2000-01-01'"},
]


def q_validate_expectations(spark, sf_dir):
    """Declarative data-quality suite (operators/expectations.py): six
    rule kinds over orders compiled into ONE aggregation scan; output
    is the long-form (rule, violations, total, passed) report. The
    proactive twin of the reference's quarantine-on-exception path
    (plans/runner.py sink_error)."""
    from awi_datapipelinepublic_spark.operators.expectations import (
        validate_expectations,
    )

    o = _t(spark, sf_dir, "orders")
    return validate_expectations(o, _EXPECTATION_RULES)


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (operators/sampling.py:
    weighted_sample): Efraimidis–Spirakis keys from md5-derived
    uniforms — top-100 orders by price-weighted draw, identical on
    every engine; the oracle recomputes the same keys in DuckDB."""
    from awi_datapipelinepublic_spark.operators.sampling import weighted_sample

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return weighted_sample(o, "o_totalprice", "o_orderkey", k=100)


def q_tpch_q14_promo(spark, sf_dir):
    """TPC-H Q14 (promotion effect): conditional revenue share inside
    one aggregate over a broadcast part join, shipdate window pushed
    to the fact scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-09-01"))
            & (F.col("l_shipdate") < F.lit("1995-10-01"))
        )
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct")
        )
    )


def q_tpch_q22_prospects(spark, sf_dir):
    """TPC-H Q22 shape: scalar subquery (global positive-balance
    average) + null-aware NOT IN anti-join (customers with no
    large order) + final aggregation, per market segment."""
    for t in ("orders", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(f"awi_{t}")
    return spark.sql(
        """
        SELECT c_mktsegment,
               COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM awi_customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM awi_customer
                           WHERE c_acctbal > 0.0)
          AND c_custkey NOT IN (SELECT o_custkey FROM awi_orders
                                WHERE o_totalprice > 300000.0)
        GROUP BY c_mktsegment
        """
    )


def q_ewma_smooth(spark, sf_dir):
    """Per-user EWMA of event values (operators/timeseries.py:ewma) —
    the canonical applyInPandas recursion (depends on previous OUTPUT,
    inexpressible as a SQL window). Oracle: the closed form
    α·Σ r^(t-i)·x_i + r^t·x_0 as a DuckDB window sum — stable at the
    bounded per-key histories of the test data."""
    from awi_datapipelinepublic_spark.operators.timeseries import ewma

    e = (
        read_events(spark, sf_dir)
        .select("user_id", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    out = ewma(e, "user_id", "event_id", "value", alpha=0.3)
    return out.select(
        "user_id", "event_id", F.round(F.col("ewma"), 6).alias("ewma")
    )


def q_feature_hash(spark, sf_dir):
    """Hashing-trick categorical encoding (functions/features.py):
    md5-based bucket indices, reproducible cross-engine — the oracle
    recomputes the identical indices in DuckDB. The gate serializes
    the sorted index array to a comma-joined string: the driver's
    canonicalizer sorts values via pandas and cannot hash a Python
    list (r7 driver row failed with `unhashable type: 'list'`), so
    the gate's OUTPUT is scalar while the operator keeps its native
    array column."""
    from awi_datapipelinepublic_spark.functions.features import hash_features

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    return hash_features(
        o, ["o_orderstatus", "o_orderpriority"], dim=1024
    ).select(
        "o_orderkey",
        F.array_join(
            F.transform(F.col("feature_indices"), lambda x: x.cast("string")),
            ",",
        ).alias("feature_indices"),
    )


def q_unigram_logprob(spark, sf_dir):
    """Corpus-self-trained unigram LM quality proxy
    (operators/quality.py:unigram_logprob) — mean token log-prob per
    document; the cheap stand-in for the CCNet perplexity filter."""
    from awi_datapipelinepublic_spark.operators.quality import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


def q_tpch_q19_brackets(spark, sf_dir):
    """TPC-H Q19 shape: revenue from an OR of bracketed (brand, size,
    quantity) conditions — the disjunctive-predicate join. Catalyst
    extracts the common conjuncts (quantity/size bounds) below the
    join and keeps the per-bracket disjunction as the join residual,
    so the fact scan is pruned even though the predicate is an OR."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 20))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 30))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 40))
        )
    )
    return j.filter(bracket).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_tpch_q2_min_cost(spark, sf_dir):
    """TPC-H Q2 shape: for each part, the supplier(s) achieving the
    minimum supply cost — a correlated-min rewritten as one grouped
    min + join-back (the decorrelated plan Catalyst itself produces
    for the subquery form). Supply cost is derived deterministically
    from (partkey, suppkey) since the synthetic data has no partsupp
    table — price*(1-discount), whose 4 decimal places are exact
    (2dp * 2dp), so round(4) cannot hit the HALF_UP-vs-binary
    rounding divergence a division-derived cost measured (BASELINE.md
    gotcha)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    cost = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    supply = (
        li.select("l_partkey", "l_suppkey", cost.alias("unit_cost"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cost").alias("unit_cost"))
    )
    min_cost = supply.groupBy("l_partkey").agg(F.min("unit_cost").alias("min_cost"))
    return (
        supply.join(min_cost, "l_partkey")
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "l_partkey",
            "s_name",
            F.col("unit_cost").alias("min_unit_cost"),
        )
    )


def q_tpch_q9_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation × order year over a
    part-name-filtered slice — a 5-way join where the two selective
    dims (LIKE-filtered part, nation-tagged supplier) broadcast into
    the fact scan and the orders join brings the year. The synthetic
    schema has no partsupp, so unit cost derives deterministically
    from the part's retail price (60%), mirroring the q2 gate's
    derived-cost convention; profit per line is
    revenue − cost·quantity, rounded at the exact 4dp product grid
    before summation on both engines; the SUM is rounded at 4dp too —
    its true value is a multiple of 1e-4 (5e-5 from any boundary,
    ~1e-8 cross-engine fp drift), where a 2dp round measurably flips
    cents on half-boundary sums (the BASELINE.md rounding gotcha)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%ring%"))
        .select("p_partkey", (F.round(F.col("p_retailprice") * 0.6, 4)).alias("__cost"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    amount = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("__cost") * F.col("l_quantity"),
        4,
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_tpch_q4_priority(spark, sf_dir):
    """TPC-H Q4 shape: order counts by priority for orders with at
    least one LATE line — a correlated EXISTS whose predicate spans
    both tables (l_shipdate > o_orderdate + 60 days), decorrelated to
    one LEFT SEMI join carrying the compound condition; the fact side
    shuffles once on the join key and the semi short-circuits per
    order. The synthetic lineitem has no commit/receipt dates, so
    'late' derives from ship-vs-order date lag."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q12_lateship(spark, sf_dir):
    """TPC-H Q12 shape: high-vs-low priority classes of orders with a
    severely late line (ship > order + 90 days) — join with a
    cross-table date predicate, a derived CASE class, and a
    COUNT(DISTINCT order) whose two-level (class, key) partial
    aggregation dedups before the final shuffle."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    prio_class = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit("high")
    ).otherwise(F.lit("low"))
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy(prio_class.alias("prio_class"))
        .agg(F.count_distinct(F.col("o_orderkey")).alias("late_orders"))
        .orderBy("prio_class")
    )


def q_tpch_q13_custdist(spark, sf_dir):
    """TPC-H Q13 shape: customer order-count distribution — a LEFT
    outer join with a join-side predicate (customers with zero
    qualifying orders must survive with count 0), then a groupBy OF a
    groupBy. The inner agg shuffles on c_custkey; the outer one on the
    tiny c_count domain — AQE coalesces it to a handful of partitions.
    Predicate stand-in: the synthetic orders table has no o_comment,
    so 'not special-requests' becomes o_orderpriority <> '1-URGENT'."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: quarterly revenue per supplier, then the
    supplier(s) achieving the global maximum — the classic
    view + scalar-max-subquery, decorrelated as agg → 1-row max →
    broadcast join back (no second scan of lineitem, no window over
    an unpartitioned frame). Revenue is rounded to 2dp BEFORE the max
    compare so both engines threshold the identical double."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "total_revenue"
            )
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        rev.join(F.broadcast(mx), rev["total_revenue"] == mx["__max_rev"])
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q17_small_qty(spark, sf_dir):
    """TPC-H Q17 shape: average yearly revenue lost to small-quantity
    orders of one brand. The correlated per-part AVG subquery is
    decorrelated Spark-first: restrict parts by brand FIRST (brand is
    functionally determined by partkey, so the per-part average over
    the restricted lineitems equals the average over all of them),
    broadcast the filtered part keys into the fact scan, compute the
    per-part quantity limit with one grouped agg, and let AQE
    broadcast that bounded (≤|part|) limit table back. lineitem is
    scanned twice (the branded subtree feeds two plan branches) but
    never shuffled at full width — both scans carry the broadcast
    partkey probe, and the only shuffle key is l_partkey over
    already-restricted rows."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    branded = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    qlim = branded.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__qlim")
    )
    return (
        branded.join(qlim, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__qlim"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def q_tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: large-volume orders — HAVING on a grouped fact
    aggregate, then join the surviving (rare) order keys back to
    orders and customer. The heavy groupBy(l_orderkey) happens once;
    its >250 survivors are a tiny set AQE broadcasts into both
    dimension joins; TakeOrderedAndProject caps the result at 100.
    Quantities are integer-valued doubles, so the HAVING threshold is
    exact in any summation order."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250.0)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), "o_orderkey")
        .limit(100)
    )


def q_tpch_q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: per-part supply value for ONE nation's
    suppliers, kept only when above a fraction of the GLOBAL sum —
    the scalar-subquery HAVING. Supply value derives from lineitem
    revenue (the synthetic schema has no partsupp; same derived-cost
    convention as the q2/q9 gates). Spark-first: the 100-row supplier
    dim (nation-filtered) broadcasts into the fact scan, one grouped
    agg builds the per-part values, and the global total re-aggregates
    those GROUPED rows — a one-row broadcast crossJoin, never a second
    fact scan (the per-part aggregate is persisted: without it Spark
    re-executes the whole grouped subtree, fact scan included, under
    the scalar-total branch — the double scan the plan audit caught;
    the cache is |parts| rows, bounded). Revenue rounds at the exact
    4dp product grid (2dp price x 2dp discount) before summation on
    both engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    supp = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select("s_suppkey")
    line_rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    from pyspark.storagelevel import StorageLevel

    per_part = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .select("l_partkey", line_rev.alias("__rev"))
        .groupBy("l_partkey")
        .agg(F.round(F.sum("__rev"), 4).alias("value"))
        .persist(StorageLevel.MEMORY_ONLY)
    )
    # Round the global total before the fraction compare: the raw
    # double SUM's accumulation order differs between engines, so a
    # per-part value within ~1 ulp of the threshold could flip —
    # rounding to the 4dp value grid keeps the cut deterministic.
    total = per_part.agg(F.round(F.sum("value"), 4).alias("__total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.lit(0.001) * F.col("__total"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), "l_partkey")
    )


def q_tpch_q16_supplier_cnt(spark, sf_dir):
    """TPC-H Q16 shape: DISTINCT supplier count per (brand, type,
    size) for a filtered part slice, excluding a NOT-IN supplier set
    (negative account balance stands in for the comment-LIKE
    'complaints' filter — the synthetic supplier has no comment
    column). Spark-first: the (part, supplier) pairs come from one
    distinct over the fact's two key columns; the excluded-supplier
    list is a broadcast LEFT ANTI (Catalyst's null-safe plan for
    NOT IN on a non-nullable key); the part dim broadcasts; the only
    wide shuffle is the final count-distinct on already-distinct
    pairs."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 3, 5, 7, 9))
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(bad_supp), pairs["l_suppkey"] == bad_supp["s_suppkey"], "left_anti")
        .join(F.broadcast(p), pairs["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def q_tpch_q20_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: nested correlated IN over summed lineitem —
    suppliers (in one nation) whose derived stock of a name-filtered
    part exceeds half of that part's shipped volume in the target
    year. The synthetic schema has no partsupp, so 'available
    quantity' per (part, supplier) derives from pre-1997 shipments
    and demand from 1997 shipments. Spark-first decorrelation: the
    name-filtered part keys broadcast into each fact scan (two scans
    — one per date slice, the q17 convention: scanned twice but never
    shuffled at full width, both branches pre-restricted by the
    broadcast probe and the pushed date filter); the two grouped sums
    join on the pair key, and the qualified supplier ids reach the
    supplier dim as a LEFT SEMI — the agg + semi-join chain that
    replaces both nested INs."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small")).select(
        "p_partkey"
    )
    pli = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    avail = (
        pli.filter(F.col("l_shipdate") < "1997-01-01")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("__avail"))
    )
    shipped = (
        pli.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("__shipped"))
    )
    qual = (
        avail.join(shipped, ["l_partkey", "l_suppkey"])
        .filter(F.col("__avail") > F.lit(0.5) * F.col("__shipped"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(qual, s["s_suppkey"] == qual["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_suppkey")
    )


def q_tpch_q21_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: suppliers who kept 'F' orders waiting — the
    EXISTS + NOT EXISTS pair on the same fact, the hardest
    decorrelation in the suite. 'Late' is ship-vs-order lag > 60 days
    (no commit/receipt dates in the synthetic lineitem, same
    convention as the q4/q12 gates). Spark-first: instead of two
    correlated probes per line, ONE orders⋈lineitem join feeds a
    per-order profile (distinct suppliers, distinct LATE suppliers);
    a late (order, supplier) pair qualifies iff the order has ≥2
    suppliers (EXISTS another supplier) and exactly 1 late supplier
    (NOT EXISTS another late one — that one being the pair's own).
    lineitem is scanned at most twice (profile + pair branches of the
    same joined subtree), the nation dim broadcasts, and the final
    per-supplier count groups ~|supplier| rows."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    lo = li.join(o, li["l_orderkey"] == o["o_orderkey"]).withColumn(
        "__late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast("int"),
    )
    prof = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("__n_supp"),
        F.countDistinct(F.when(F.col("__late") == 1, F.col("l_suppkey"))).alias(
            "__n_late_supp"
        ),
    )
    waiting = (
        lo.filter(F.col("__late") == 1).select("l_orderkey", "l_suppkey").distinct()
    )
    qual = waiting.join(
        prof.filter((F.col("__n_supp") >= 2) & (F.col("__n_late_supp") == 1)),
        "l_orderkey",
        "left_semi",
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    return (
        qual.join(F.broadcast(s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
                               .select("s_suppkey", "s_name")),
                  qual["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


def q_dataset_diff(spark, sf_dir):
    """Snapshot diff (operators/merge.py:dataset_diff): two derived
    versions of orders — %13 keys absent from old (added), %11 keys
    absent from new (removed), %7 keys repriced (changed) — full-outer
    key join over pre-hashed (key, md5) rows; the oracle compares the
    same column set value-wise (hash equality ⟺ value equality)."""
    from awi_datapipelinepublic_spark.operators.merge import dataset_diff

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 13 != 0)
    new = o.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    return dataset_diff(old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"])


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dedup (operators/dedup.py:dedup_incremental):
    every third document plays the NEW batch, the rest the persisted
    corpus band index (minhash_band_keys). A batch doc survives only
    if no band key hits the index (left-semi probe — the corpus is
    never reshuffled or re-signed) and no smaller-id batch doc shares
    a band. Hash-verified: the md5-portable MinHash replays the whole
    decision bit-for-bit in DuckDB."""
    from awi_datapipelinepublic_spark.operators.dedup import (
        dedup_incremental,
        minhash_band_keys,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    index = minhash_band_keys(corpus, k=3)
    return dedup_incremental(batch, index, k=3).orderBy("doc_id")


def q_remove_dup_spans(spark, sf_dir):
    """Substring-level dedup REMOVAL
    (operators/quality.py:remove_duplicated_spans): every token
    position covered by a cross-doc duplicated word 4-gram is cut
    unless this doc is the gram's min-id canonical owner — one copy of
    each duplicated span survives corpus-wide. groupBy(gram) +
    join-back (no gram window), covered positions explode only on bad
    spans, one sort-by-position fold rebuilds the text."""
    from awi_datapipelinepublic_spark.operators.quality import remove_duplicated_spans

    return remove_duplicated_spans(_t(spark, sf_dir, "documents"), n=4)


def q_dup_span_stats(spark, sf_dir):
    """Cross-document duplicated-span profile
    (operators/quality.py:cross_doc_duplicate_spans): per-doc fraction
    of word 4-gram positions whose gram also occurs in another
    document — the substring-dedup signal, computed with grouped aggs
    + a per-gram doc-count joined back (NO window over the gram key —
    hot-key safe), never a corpus self-join."""
    from awi_datapipelinepublic_spark.operators.quality import cross_doc_duplicate_spans

    return cross_doc_duplicate_spans(_t(spark, sf_dir, "documents"), n=4)


def q_tpch_q7_volume(spark, sf_dir):
    """TPC-H Q7 shape: bidirectional two-nation shipping volume by
    year — a 5-way join where BOTH endpoint dims (supplier+nation,
    customer+nation) are nation-filtered FIRST and broadcast, so the
    only big work is the orders⋈lineitem fact-fact join; the
    disjunctive nation-pair predicate runs on the two broadcast tags,
    never on fact columns. Nation pair stands in for the spec's
    FRANCE/GERMANY on the synthetic names."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") <= "1997-12-31")
    )
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_tpch_q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's market share of a part type within
    a region, by order year — a 6-way join whose three dimension arms
    (type-filtered part, nation-tagged supplier, region-filtered
    customer) are all broadcast; the share is a conditional-sum /
    total-sum ratio over one grouped pass, never two scans."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") <= "1996-12-31")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n["n_nationkey"])
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_7", vol).otherwise(F.lit(0.0)))
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# Mixture targets shared by the Spark gate and its DuckDB oracle so the
# fp weight-sum normalizer is bit-identical on both sides.
_MIXTURE_WEIGHTS = {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1, "zh": 0.1}
_MIXTURE_TOTAL = 300


def q_mixture_resample(spark, sf_dir):
    """Deterministic domain-mixture resampling
    (operators/sampling.py:mixture_resample): keep-fractions derived
    from per-language counts vs target mixture weights; md5-uniform
    acceptance so the kept set replays identically in any engine."""
    from awi_datapipelinepublic_spark.operators.sampling import mixture_resample

    d = _t(spark, sf_dir, "documents")
    out = mixture_resample(d, "lang", "doc_id", _MIXTURE_WEIGHTS, _MIXTURE_TOTAL)
    return out.select("doc_id", "lang", "source")


def q_token_budget_select(spark, sf_dir):
    """Per-source token-budget curation
    (operators/sampling.py:token_budget_select): md5-shuffled docs per
    source, kept while the source's running token total stays within
    2,000 tokens — the "at most N tokens per source" mixture
    primitive. One partitioned window, deterministic in any engine."""
    from awi_datapipelinepublic_spark.operators.sampling import token_budget_select

    d = _t(spark, sf_dir, "documents")
    counted = d.select("source", "doc_id", X.token_count("text").alias("n_tokens"))
    return token_budget_select(counted, "source", "doc_id", "n_tokens", 2000)


def q_quality_calibrate(spark, sf_dir):
    """Cross-source quality calibration
    (operators/quality.py:calibrate_scores): the composite quality
    score replaced by its percent_rank WITHIN each source, so a single
    global threshold means the same thing on every source (the CCNet
    per-source-percentile recipe)."""
    from awi_datapipelinepublic_spark.operators.quality import calibrate_scores

    d = _t(spark, sf_dir, "documents")
    scored = d.select("doc_id", "source", X.quality_score("text").alias("quality"))
    return calibrate_scores(scored, "source", "quality", "doc_id")


def q_shard_stats(spark, sf_dir):
    """Deterministic output sharding audit
    (operators/sampling.py:assign_shards/shard_stats): md5-derived
    shard = h(doc_id) % 8, per-shard doc and token totals — the
    balance check before a sharded training-corpus write."""
    from awi_datapipelinepublic_spark.operators.sampling import shard_stats

    d = _t(spark, sf_dir, "documents")
    counted = d.select("doc_id", X.token_count("text").alias("n_tokens"))
    return shard_stats(counted, "doc_id", "n_tokens", 8)


def q_source_overlap(spark, sf_dir):
    """Cross-source n-gram containment matrix
    (operators/quality.py:source_overlap): directed fraction of each
    source's distinct word 3-grams that occur in every other source —
    the shared-upstream-crawl audit run before mixture weighting."""
    from awi_datapipelinepublic_spark.operators.quality import source_overlap

    d = _t(spark, sf_dir, "documents")
    return source_overlap(d, "doc_id", "text", "source", n=3)


def q_decontaminate_substring(spark, sf_dir):
    """Exact-substring decontamination
    (operators/quality.py:substring_contaminated_ids): an 80-char
    slice of every %97 doc's normalized text acts as the eval set;
    any corpus doc containing a slice verbatim is contaminated (each
    slice's own source doc guarantees hits). Broadcast nested-loop
    contains-probe — no corpus shuffle."""
    from awi_datapipelinepublic_spark.operators.quality import (
        substring_contaminated_ids,
    )

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select(
        F.substring(X.normalize_text("text"), 41, 80).alias("text")
    )
    return substring_contaminated_ids(d, bench)


def q_negative_sample(spark, sf_dir):
    """Deterministic contrastive negatives
    (operators/quality.py:negative_sample): 3 md5-drawn ring-walk
    negatives per document — never the anchor itself, replayable in
    any engine."""
    from awi_datapipelinepublic_spark.operators.quality import negative_sample

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return negative_sample(d, "doc_id", 3)


def q_digest_prefilter_join(spark, sf_dir):
    """Digest-prefilter equi-join
    (operators/joins.py:digest_prefilter_join): lineitem pre-filtered
    map-side by a broadcast of the urgent-finished orders' distinct
    xxhash64 key digests before the join shuffle. Digest collisions
    are false positives only (the real join drops them), so the
    oracle is the PLAIN inner join — the prefilter only prunes
    shuffle volume."""
    from awi_datapipelinepublic_spark.operators.joins import digest_prefilter_join

    li = _t(spark, sf_dir, "lineitem")
    sel = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    )
    out = digest_prefilter_join(li, sel, "l_orderkey", "o_orderkey")
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderdate",
    )


def q_knn_ivfpq(spark, sf_dir):
    """IVF-PQ ADC top-10 (operators/similarity.py:knn_ivfpq): the
    combined billion-vector layout — IVF coarse pruning (4 of 16
    probed lists) + product quantization of the RESIDUAL against each
    vector's centroid, scored by per-cluster ADC lookup tables.
    Hash-verified: deterministic IVF centroids, md5-dyadic PQ
    codebook, 9dp rounds at every argmin/argmax, 6dp ADC sum."""
    from awi_datapipelinepublic_spark.operators.similarity import knn_ivfpq

    return knn_ivfpq(
        _t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), dim=64, k=10
    )


def q_bigram_lm(spark, sf_dir):
    """Bigram conditional-probability table (operators/corpus.py:
    bigram_lm): adjacent-token pairs via codegen zip_with (no UDF),
    one pair groupBy + a context-total join-back — the KenLM-style
    n-gram LM stand-in for sequence-aware quality filtering, exported
    as the top-3 continuations per context."""
    from awi_datapipelinepublic_spark.operators.corpus import bigram_lm

    d = _t(spark, sf_dir, "documents")
    return bigram_lm(d, min_count=10, top_per_context=3)


def q_vocab_build(spark, sf_dir):
    """Tokenizer vocabulary artifact (operators/corpus.py:
    vocab_build): corpus + document frequency per normalized token,
    min-count filtered, with deterministic dense ids by (freq DESC,
    term ASC) — the pre-training vocab/embedding-table build. The
    id window runs on the post-filter vocab (bounded by min_count),
    never the raw term space."""
    from awi_datapipelinepublic_spark.operators.corpus import vocab_build

    d = _t(spark, sf_dir, "documents")
    return vocab_build(d, min_count=20, max_size=200)


def q_dp_noisy_count(spark, sf_dir):
    """ε-DP noisy release counts (functions/privacy.py:
    dp_noisy_count): per-(nation, segment) customer counts with
    Laplace(1/ε) noise from the seeded md5-uniform inverse-CDF draw —
    the publish-side companion of the k_anonymity audit. The fixed
    seed is the replayable-release/oracle contract; production passes
    a fresh secret seed per release (documented in the operator)."""
    from awi_datapipelinepublic_spark.functions.privacy import dp_noisy_count

    c = _t(spark, sf_dir, "customer")
    return dp_noisy_count(c, ["c_nationkey", "c_mktsegment"], epsilon=1.0)


def q_triangle_count(spark, sf_dir):
    """Triangle / wedge census (operators/graph.py:triangle_count,
    Suri-Vassilvitskii degree orientation) over the part co-purchase
    graph: parts are adjacent when some order contains both. The
    count is orientation-invariant, so the oracle replays plain
    id-ordered triangle counting; the Spark plan uses the
    degree-ordered form whose wedge join is arboricity-bounded."""
    from awi_datapipelinepublic_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # co-purchase pairs via in-bucket expansion (the LSH-bucket pattern,
    # dedup.py:minhash_lsh_candidates): ONE groupBy shuffle on orderkey
    # + a codegen nested-transform pair explode, instead of a fact-fact
    # self-join that shuffles and sorts the lineitem twice. Buckets are
    # order-sized (≤7 items), so the expansion is bounded per row.
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    )
    edges = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), b -> struct(a AS src, b AS dst))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    return triangle_count(edges)


def q_revenue_pareto(spark, sf_dir):
    """Pareto / cumulative-share analysis: customers ranked by revenue
    with running share of total and the 80%-coverage flag — the 80/20
    report. The running sum rides operators/windows.py:
    global_running_sum (range-partition + broadcast-offset two-pass,
    the global_row_number pattern generalized to SUM) — no
    single-partition window over the customer axis at any scale.

    Hash contract: revenue is 4dp-rounded then scaled to LONG
    ten-thousandths, so the running sum is integer arithmetic —
    association-free, bit-identical between the two-pass plan, a
    sequential window, and the DuckDB oracle; cum_share divides two
    exact longs and rounds once at 6dp."""
    from awi_datapipelinepublic_spark.operators.windows import global_running_sum

    o = _t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 4).alias("revenue")
    )
    rev_i = rev.withColumn(
        "__ri", F.round(F.col("revenue") * 10000, 0).cast("long")
    )
    order = [F.col("revenue").desc(), F.col("o_custkey").asc()]
    cum = global_running_sum(rev_i, order, "__ri", out_col="__cum")
    # grand total as an exact long too (associative — no rounding race)
    tot = rev_i.agg(F.sum("__ri").alias("__t"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "o_custkey",
            "revenue",
            F.round(F.col("__cum") / F.col("__t"), 6).alias("cum_share"),
        )
        .withColumn("in_top80", (F.col("cum_share") <= 0.8).cast("int"))
    )


def q_event_transitions(spark, sf_dir):
    """Markov transition matrix over per-user event streams
    (operators/events.py:event_transitions): lead() over the
    (ts, event_id)-ordered stream, then (from, to) counts with
    row-normalized probabilities."""
    from awi_datapipelinepublic_spark.operators.events import event_transitions

    return event_transitions(read_events(spark, sf_dir))


def q_kcore(spark, sf_dir):
    """k-core by fixed-round peeling (operators/graph.py:kcore) over a
    sparsified part co-purchase graph (partkey % 3 == 0): the
    community-pruning step before per-component work. Oracle unrolls
    the same peel rounds as chained CTEs (the pagerank contract)."""
    from awi_datapipelinepublic_spark.operators.graph import kcore

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").filter(
        F.col("l_partkey") % 3 == 0
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    )
    edges = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), b -> struct(a AS src, b AS dst))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    return kcore(edges, k=4, iterations=4)


def q_bloom_prefilter_join(spark, sf_dir):
    """Bloom-prefilter equi-join
    (operators/joins.py:bloom_prefilter_join): lineitem probed
    map-side against a FIXED 8 KB Bloom bitset (2^16 bits, k=3
    xxhash64 family) of the selective orders' keys before the join
    shuffle — the sketch companion of digest_prefilter_join for when
    even the digest set is too big to broadcast. Bloom admits false
    positives only and the real equi-join drops them, so the oracle
    is the PLAIN inner join."""
    from awi_datapipelinepublic_spark.operators.joins import bloom_prefilter_join

    li = _t(spark, sf_dir, "lineitem")
    sel = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "5-LOW") & (F.col("o_totalprice") > 150000.0)
    )
    out = bloom_prefilter_join(li, sel, "l_orderkey", "o_orderkey")
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "o_orderpriority",
    )


def q_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity audit (functions/privacy.py:
    k_anonymity): per (nation, market-segment) quasi-identifier group,
    row count, distinct-balance l-diversity, and an INT 0/1 k<5 risk
    flag — one hash-partitioned groupBy, output bounded by group
    cardinality. The release-gate twin of pii_redact."""
    from awi_datapipelinepublic_spark.functions.privacy import k_anonymity

    c = _t(spark, sf_dir, "customer")
    return k_anonymity(
        c, ["c_nationkey", "c_mktsegment"], k=5, sensitive_col="c_acctbal"
    )


def q_entropy_quality(spark, sf_dir):
    """Character-entropy quality signal (functions/text.py:
    doc_entropy — explode + map-side-combine char counts, shuffle is
    alphabet-bounded per doc): Shannon bits/char per document plus an
    INT 0/1 low-entropy flag — the gibberish/boilerplate detector of
    the quality family. Sorted accumulation order and 9dp rounding
    make the float fold identical in both engines."""
    d = _t(spark, sf_dir, "documents")
    e = X.doc_entropy(d, ["doc_id"]).select(
        "doc_id",
        (F.round(F.col("entropy"), 9) + F.lit(0.0)).alias("entropy"),
    )
    return e.withColumn(
        "low_entropy", F.when(F.col("entropy") < 3.0, 1).otherwise(0).cast("int")
    )


def q_knn_pq(spark, sf_dir):
    """Product-quantization ADC top-10 (operators/similarity.py:
    pq_assign/knn_pq): vectors compressed to m=4 four-bit codes
    against the md5-derived codebook, query scored via the (m, ks)
    lookup table — the billion-vector memory layout (Jégou et al.
    2011). Hash-verified: the dyadic codebook, 9dp-rounded argmin
    encoding, and 9dp table entries replay exactly in DuckDB."""
    from awi_datapipelinepublic_spark.operators.similarity import knn_pq

    return knn_pq(
        _t(spark, sf_dir, "embeddings"), _query_vec(spark, sf_dir), dim=64, k=10
    )


def q_zorder_layout(spark, sf_dir):
    """Z-order clustering audit (sources/layout.py:zorder_key): orders
    keyed by the Morton interleave of (o_custkey, o_totalprice) at 8
    bits/dim, bucketed by the top 6 z-bits, with per-bucket min/max of
    BOTH dimensions — the data-skipping evidence a Delta/Iceberg
    Z-ORDER write produces (each bucket is range-local in every
    participating column, unlike a single-column sort). Pure bitwise
    Column arithmetic; the min/max normalization constants are a
    4-scalar driver pull."""
    from awi_datapipelinepublic_spark.sources.layout import zorder_key

    o = _t(spark, sf_dir, "orders")
    r = o.agg(
        F.min("o_custkey").alias("ck_mn"),
        F.max("o_custkey").alias("ck_mx"),
        F.min("o_totalprice").alias("tp_mn"),
        F.max("o_totalprice").alias("tp_mx"),
    ).collect()[0]
    cols = ["o_custkey", "o_totalprice"]
    z = zorder_key(
        cols,
        {"o_custkey": r["ck_mn"], "o_totalprice": r["tp_mn"]},
        {"o_custkey": r["ck_mx"], "o_totalprice": r["tp_mx"]},
        bits=8,
    )
    return (
        o.withColumn("bucket", F.shiftright(z, 10))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_custkey").alias("ck_min"),
            F.max("o_custkey").alias("ck_max"),
            F.round(F.min("o_totalprice"), 2).alias("tp_min"),
            F.round(F.max("o_totalprice"), 2).alias("tp_max"),
        )
    )


def q_ks_drift(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov drift statistic
    (operators/quality.py:ks_drift) between even-key reference prices
    and odd-key current prices with deterministic injected drift
    (key%3==0 inflated 10%) — the binning-free companion of
    drift_psi_numeric. Prices enter as exact cents (round(·*100) →
    LONG) so value grouping and the integer CDF-gap max replay
    bit-identically in DuckDB."""
    from awi_datapipelinepublic_spark.operators.quality import ks_drift

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1).withColumn(
        "l_extendedprice",
        F.when(
            F.col("l_orderkey") % 3 == 0, F.col("l_extendedprice") * 1.1
        ).otherwise(F.col("l_extendedprice")),
    )
    cents = lambda d: d.withColumn(  # noqa: E731
        "cents", F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    )
    return ks_drift(cents(ref), cents(cur), "cents")


def q_attribution_last_touch(spark, sf_dir):
    """Last-touch conversion attribution
    (operators/events.py:attribution_last_touch): each purchase
    credits the user's most recent preceding click/view/signup via ONE
    user-partitioned window (the asof_join no-join trick), then
    aggregates conversions and value by credited touch type."""
    from awi_datapipelinepublic_spark.operators.events import attribution_last_touch

    return attribution_last_touch(read_events(spark, sf_dir))


def q_basket_pair_lift(spark, sf_dir):
    """Market-basket association head (operators/affinity.py:
    pair_lift): support/confidence/lift over order baskets of part
    CATEGORIES (l_partkey % 100 — the category rollup that makes
    co-occurrence dense enough to rank), min support 5, basket-size
    cap 64 applied BEFORE pair expansion. Exact integer ratios
    rounded at 6dp."""
    from awi_datapipelinepublic_spark.operators.affinity import pair_lift

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("cat")
    )
    return pair_lift(li, "l_orderkey", "cat", min_support=5, max_basket=64)


def q_activity_churn(spark, sf_dir):
    """Per-day churn report (operators/events.py:activity_churn): of
    day-D actives, who had no activity in the next 7 days. Window math
    runs on the deduplicated (user, day) activity table — one
    user-partitioned lead(day), never raw-event windows."""
    from awi_datapipelinepublic_spark.operators.events import activity_churn

    return activity_churn(read_events(spark, sf_dir), churn_days=7)


def q_readability_score(spark, sf_dir):
    """Flesch reading-ease per document
    (functions/text.py:readability_cols): sentence/word/vowel-group
    counts as codegen regexp expressions, the published formula at
    4dp — the readability quality gate web-corpus curation applies."""
    cols = X.readability_cols("text")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        cols["n_words"].alias("n_words"),
        cols["n_sentences"].alias("n_sentences"),
        cols["n_syllables"].alias("n_syllables"),
        cols["flesch"].alias("flesch"),
    )


def q_mixture_weights(spark, sf_dir):
    """Temperature-scaled (α=0.7) per-source mixing weights
    (operators/sampling.py:mixture_weights) — the data-mixture
    planning table: token counts, normalized tokens^α weights, and the
    implied epochs per source at a proportional budget."""
    from awi_datapipelinepublic_spark.operators.sampling import mixture_weights

    return mixture_weights(_t(spark, sf_dir, "documents"), alpha=0.7)


def q_bpe_top_pairs(spark, sf_dir):
    """One BPE merge round's candidate table (operators/corpus.py:
    bpe_top_pairs): corpus-wide adjacent character-pair counts inside
    words, weighted by word frequency via the distinct-word trick;
    top-50 by count with pair-text tiebreak."""
    from awi_datapipelinepublic_spark.operators.corpus import bpe_top_pairs

    return bpe_top_pairs(_t(spark, sf_dir, "documents"), top_k=50)


def q_label_propagation(spark, sf_dir):
    """Community detection (operators/graph.py:label_propagation):
    3 deterministic semi-synchronous LPA rounds (most-frequent
    neighbor label, ties to the smallest) over the same sparsified
    part co-purchase graph as kcore. Oracle unrolls the identical
    rounds as chained CTEs (the pagerank/kcore contract)."""
    from awi_datapipelinepublic_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").filter(
        F.col("l_partkey") % 3 == 0
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    )
    edges = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), b -> struct(a AS src, b AS dst))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    return label_propagation(edges, iterations=3)


def q_url_host_stats(spark, sf_dir):
    """Host-level corpus rollup (functions/text.py:url_parts): URLs
    synthesized deterministically from document attributes (the
    testdata ships no URL column — the attach_binary_payload fixture
    convention), decomposed by regexp-only host/TLD/path-depth
    expressions, aggregated per host — the host-reputation table
    web-corpus curation filters against."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("-"),
        (F.col("doc_id") % 20).cast("string"),
        F.lit(".example.org/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
    )
    parts = X.url_parts(url)
    return (
        d.select(
            parts["host"].alias("host"),
            parts["tld"].alias("tld"),
            parts["path_depth"].alias("depth"),
            "n_chars",
        )
        .groupBy("host", "tld")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.max("depth").alias("max_depth"),
        )
    )


def q_overlap_join(spark, sf_dir):
    """Interval-INTERVAL overlap join (operators/joins.py:
    interval_overlap_join): click windows [t, t+600) × error windows
    [t, t+900) that intersect, as a binned equi-join + residual
    predicate with duplicate-free overlap-start-bin attribution —
    never a nested loop. Integer epoch seconds end to end."""
    from awi_datapipelinepublic_spark.operators.joins import interval_overlap_join

    ev = read_events(spark, sf_dir)
    secs = F.col("ts").cast("long")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        secs.alias("c_lo"),
        (secs + 600).alias("c_hi"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        secs.alias("e_lo"),
        (secs + 900).alias("e_hi"),
    )
    return interval_overlap_join(
        clicks, errors, "c_lo", "c_hi", "e_lo", "e_hi", bin_width=900
    ).select("click_id", "error_id")


def q_t_closeness(spark, sf_dir):
    """t-closeness audit (functions/privacy.py:t_closeness): total-
    variation distance between each order-priority group's status
    distribution and the global one, flagged at t=0.05 — the
    distributional leak k-anonymity/l-diversity miss. Exact-long
    cross-products divided once."""
    from awi_datapipelinepublic_spark.functions.privacy import t_closeness

    return t_closeness(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        "o_orderstatus",
        t=0.05,
    )


def q_streaming_join(spark, sf_dir):
    """§2.I stream-stream event-time interval join as a driver-gate
    row (streaming/windows.py:streaming_click_view_join — previously
    pytest-pinned only): each click ⋈ the same user's views from the
    preceding hour, both sides watermarked, drained availableNow and
    read back as batch. Oracle: the equivalent batch interval join —
    stream == batch on a drained source."""
    import tempfile
    from pathlib import Path as _P

    from awi_datapipelinepublic_spark.streaming.windows import (
        streaming_click_view_join,
    )

    tmp = _P(tempfile.mkdtemp(prefix="awi_ssjoin_gate_"))
    staged = str(tmp / "events")
    read_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).write.parquet(staged)
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).parquet(staged)
    clicks = stream.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("clicks_user"),
        F.col("ts").alias("click_ts"),
        "event_id",
    )
    views = stream.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("views_user"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    q = (
        streaming_click_view_join(clicks, views)
        .writeStream.format("parquet")
        .option("path", str(tmp / "out"))
        .option("checkpointLocation", str(tmp / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return spark.read.parquet(str(tmp / "out"))


def q_mad_outliers(spark, sf_dir):
    """Robust per-group outlier report (operators/quality.py:
    mad_outliers): median/MAD modified z-score over exact price cents
    grouped by return flag — the outlier detector with a 50% breakdown
    point. Integer inputs keep every intermediate an exact double."""
    from awi_datapipelinepublic_spark.operators.quality import mad_outliers

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    return mad_outliers(li, "l_returnflag", "cents")


def q_funnel_timing(spark, sf_dir):
    """Time-to-convert stats (operators/events.py:funnel_timing): per
    user, first click → first at-or-after purchase; integer
    epoch-second latencies aggregated exactly."""
    from awi_datapipelinepublic_spark.operators.events import funnel_timing

    return funnel_timing(read_events(spark, sf_dir))


def q_ab_test_zscore(spark, sf_dir):
    """Two-proportion experiment readout (operators/events.py:
    ab_test_zscore): even- vs odd-user arms, per-user purchase
    conversion, pooled z-score — exact long inputs through an
    identically-ordered IEEE float chain."""
    from awi_datapipelinepublic_spark.operators.events import ab_test_zscore

    return ab_test_zscore(read_events(spark, sf_dir))


def q_activity_heatmap(spark, sf_dir):
    """Day-of-week × hour usage heatmap (operators/events.py:
    activity_heatmap): fixed 7×24-cardinality output from one
    map-side-combined groupBy."""
    from awi_datapipelinepublic_spark.operators.events import activity_heatmap

    return activity_heatmap(read_events(spark, sf_dir))


def q_group_percentiles(spark, sf_dir):
    """Per-group exact percentile profile (p25/p50/p75/p95 of price
    cents by return flag) — the grouped-quantile report every
    warehouse ships. ONE grouped aggregation computes all four ranks
    (Spark's percentile takes an array of fractions — one sort per
    group, not four); integer cents keep the interpolated values
    exact doubles. At 10⁸+ rows/group the same call shape swaps to
    percentile_approx (t-digest)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                "percentile(cents, array(0.25D, 0.5D, 0.75D, 0.95D))"
            ).alias("__ps"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            F.col("__ps")[0].alias("p25"),
            F.col("__ps")[1].alias("p50"),
            F.col("__ps")[2].alias("p75"),
            F.col("__ps")[3].alias("p95"),
        )
    )


def q_histogram2d(spark, sf_dir):
    """2-D histogram (price × quantity bins over lineitem): fixed-width
    floor binning on both axes + one map-side-combined groupBy — the
    density grid behind every scatter-heatmap. Output cardinality is
    bin-grid-bounded regardless of volume; bin edges are IEEE
    division+floor, engine-deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_extendedprice") / 10000).cast("long").alias("price_bin"),
            F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_bin"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def q_ship_latency_stats(spark, sf_dir):
    """Order-to-ship latency distribution per return flag: integer day
    gaps (datediff(l_shipdate, o_orderdate) — exact), mean as
    exact-long sum divided once, exact median via percentile on ints —
    the Q12-family operational latency report. The orderdate rides a
    broadcast of the orders key/date projection."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_returnflag",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lag_days"),
        )
    )
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("lag_days") / F.count(F.lit(1)), 4).alias("avg_days"),
        F.expr("percentile(lag_days, 0.5)").alias("median_days"),
        F.max("lag_days").alias("max_days"),
    )


def q_share_of_parent(spark, sf_dir):
    """Share-of-parent rollup: per-nation revenue as a share of its
    region's total — the two-level BI ratio. Exact cents at both
    levels (the region total re-aggregates the nation partials —
    algebraic, one fact scan), broadcast join-back on the tiny region
    table, division once at 6dp."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_nation = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("__cents")
        )
    )
    per_region = per_nation.groupBy("r_name").agg(
        F.sum("__cents").alias("__rcents")
    )
    return (
        per_nation.join(F.broadcast(per_region), "r_name")
        .select(
            "r_name",
            "n_name",
            F.round(F.col("__cents") / 100, 2).alias("revenue"),
            F.round(F.col("__cents") / F.col("__rcents"), 6).alias("share_of_region"),
        )
    )


def q_benford_test(spark, sf_dir):
    """Benford first-digit audit (operators/quality.py:
    benford_digit_test) over order totals — observed vs log10(1+1/d)
    shares with per-digit chi-square terms; expectations are
    Python-precomputed literals so no engine-side log10 ulp can
    drift the hash. First digit extracted via the formatting-robust
    strip-non-1-9 string projection."""
    from awi_datapipelinepublic_spark.operators.quality import benford_digit_test

    return benford_digit_test(_t(spark, sf_dir, "orders"), "o_totalprice")


def q_gini_coefficient(spark, sf_dir):
    """Customer-revenue concentration (operators/quality.py:
    gini_coefficient): exact Gini over per-customer revenue cents —
    rank via global_row_number, Σ i·xᵢ as exact
    DECIMAL(38,0), one float division. The inequality twin of the
    revenue_pareto 80/20 report."""
    from awi_datapipelinepublic_spark.operators.quality import gini_coefficient

    rev = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents")
        )
    )
    return gini_coefficient(rev, "cents")


def q_period_over_period(spark, sf_dir):
    """Month-over-month revenue deltas: exact-cent monthly totals, lag
    over the month axis (calendar-bounded — the cumulative_adoption
    class, documented in BOUNDED_GLOBAL_WINDOW_GATES), 6dp pct
    change. The period-comparison report every finance dashboard
    opens with."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.trunc(F.col("o_orderdate"), "month").alias("month")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("__cents")
    )
    w = Window.orderBy("month")
    return (
        monthly.withColumn("__prev", F.lag("__cents").over(w))
        .select(
            "month",
            F.round(F.col("__cents") / 100, 2).alias("revenue"),
            F.round(
                (F.col("__cents") - F.col("__prev")) / F.col("__prev"), 6
            ).alias("mom_pct"),
        )
    )


def q_event_throttle(spark, sf_dir):
    """Telemetry throttle/debounce (operators/events.py:
    event_throttle): drop events within 600 s of the previous event in
    the same (user, type) stream — one keyed lag window, gap measured
    to the previous RAW event (throttling semantics). Gate returns
    per-type kept/coverage counts so the hash pins the filter, not
    15k raw rows."""
    from awi_datapipelinepublic_spark.operators.events import event_throttle

    kept = event_throttle(read_events(spark, sf_dir), min_gap_seconds=600)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.count_distinct("user_id").alias("n_users"),
    )


def q_event_rate_limit(spark, sf_dir):
    """TRUE one-per-window rate limiting (operators/events.py:
    event_rate_limit) — the metering contract next to event_throttle's
    debounce: first event of every 600s-aligned window per (user,
    type). Gate returns per-type kept counts (the event_throttle
    report shape)."""
    from awi_datapipelinepublic_spark.operators.events import event_rate_limit

    kept = event_rate_limit(read_events(spark, sf_dir), window_seconds=600)
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.count_distinct("user_id").alias("n_users"),
    )


def q_degree_assortativity(spark, sf_dir):
    """Degree assortativity (operators/graph.py:degree_assortativity)
    over the same sparsified co-purchase graph as kcore/LPA — Pearson
    r of endpoint degrees assembled from six EXACT integer sums; the
    oracle replays the identical integer algebra."""
    from awi_datapipelinepublic_spark.operators.graph import degree_assortativity

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").filter(
        F.col("l_partkey") % 3 == 0
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    )
    edges = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), b -> struct(a AS src, b AS dst))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    return degree_assortativity(edges)


def q_ann_recall_eval(spark, sf_dir):
    """ANN quality harness as a hash-verified gate: per-query recall@5
    of the IVF-bucketed kNN join (operators/similarity.py:knn_join_ivf)
    against the exact brute-force join (knn_join_brute) — the
    evaluation every ANN deployment runs before trusting its index.
    Both sides are already deterministic cross-engine (modulo-step
    centroids, 9dp assignment, 6dp (cos desc, id asc) ranking), so the
    hit counts are exact integers and recall is one identical double
    division. n_exact ≥ 1 whenever ≥2 vectors exist, and try_divide
    keeps the expression ANSI-session-proof regardless."""
    from awi_datapipelinepublic_spark.operators.similarity import (
        knn_join_brute,
        knn_join_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # localCheckpoint: exact feeds BOTH the hit semi-join and the
    # per-query base count — without it the brute matmul runs twice.
    exact = knn_join_brute(emb, k=5).select("a_id", "b_id").localCheckpoint()
    approx = knn_join_ivf(emb, k=5).select("a_id", "b_id")
    hits = (
        exact.join(approx, ["a_id", "b_id"], "left_semi")
        .groupBy("a_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = exact.groupBy("a_id").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hits, "a_id", "left")
        .select(
            "a_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.try_divide(
                    F.coalesce(F.col("n_hits"), F.lit(0)), F.col("n_exact")
                ),
                6,
            ).alias("recall"),
        )
    )


def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style quality bucketing: rank every document by its
    corpus-self-trained unigram LM score (operators/quality.py:
    unigram_logprob, the perplexity-filter stand-in) and split into
    head/middle/tail terciles with the scalable exact NTILE
    (operators/windows.py:quantile_bins — two-pass global row number,
    no single-partition window), then report docs/tokens per
    (bucket, source). The 6dp-rounded score plus doc_id tiebreak is a
    total order, so both engines rank identically."""
    from awi_datapipelinepublic_spark.operators.quality import unigram_logprob
    from awi_datapipelinepublic_spark.operators.windows import quantile_bins

    docs = _t(spark, sf_dir, "documents")
    # localCheckpoint: the LM scoring pass is the expensive stage and
    # feeds quantile_bins' two global passes plus the source join —
    # materialize its |docs|-row output once (4.6 → 2.2 s at sf0.1).
    scores = unigram_logprob(docs).localCheckpoint()
    bins = quantile_bins(
        scores, "mean_logprob", n_bins=3, tiebreak_col="doc_id", out_col="bucket"
    )
    return (
        bins.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("bucket", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


def q_hard_negative_mine(spark, sf_dir):
    """Contrastive hard-negative mining (operators/similarity.py:
    hard_negative_mine): per anchor, the top-5 most-similar vectors
    with a DIFFERENT label — knn_join_brute's kernel with same-label
    candidates masked (a post-filter of the unmasked top-k would be
    wrong when the nearest neighbors share the anchor's class).
    Oracle: the brute theta-join with a label-inequality predicate."""
    from awi_datapipelinepublic_spark.operators.similarity import hard_negative_mine

    return hard_negative_mine(_t(spark, sf_dir, "embeddings"), k=5)


def q_ngram_novelty(spark, sf_dir):
    """Per-document 5-gram novelty (operators/quality.py:
    ngram_novelty): distinct-shingle document frequency, exact integer
    novel counts — the boilerplate/originality signal curators
    threshold before the near-dup passes."""
    from awi_datapipelinepublic_spark.operators.quality import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents"))


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/sampling.py:dsir_weights,
    Xie et al. 2023): hashed unigram+bigram bucket distributions,
    target = source 'src0' documents, raw = the rest. The per-bucket
    log-ratios are CPython-libm floor-scaled BIGINT nano-units and the
    per-doc weight is an exact integer Σ c_g·ratio_g, so the oracle
    replays it bit-for-bit (no float accumulation order)."""
    from awi_datapipelinepublic_spark.operators.sampling import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


def q_streaming_dedup(spark, sf_dir):
    """§2.I streaming dedup as a driver-gate row (streaming/
    windows.py:streaming_dedup — previously pytest-pinned only):
    events staged TWICE into the source dir (every event_id arrives
    as a duplicate), watermarked dropDuplicatesWithinWatermark keeps
    one arrival per id with bounded state, drained availableNow.
    Gate returns per-type deduped counts; oracle: the batch distinct
    over the original events — stream dedup == batch distinct on a
    drained source."""
    import tempfile
    from pathlib import Path as _P

    from awi_datapipelinepublic_spark.streaming.windows import streaming_dedup

    tmp = _P(tempfile.mkdtemp(prefix="awi_sdedup_gate_"))
    staged = str(tmp / "events")
    ev = read_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ev.write.parquet(staged)
    ev.write.mode("append").parquet(staged)  # the duplicate arrivals
    stream = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).parquet(staged)
    q = (
        streaming_dedup(stream, ["event_id"], ts_col="ts")
        .writeStream.format("parquet")
        .option("path", str(tmp / "out"))
        .option("checkpointLocation", str(tmp / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return (
        spark.read.parquet(str(tmp / "out"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


def q_rolling_median(spark, sf_dir):
    """Per-user exact rolling median of the trailing 7 event values
    (operators/timeseries.py:rolling_median) — the robust smoother
    next to ewma_smooth. True SQL window (percentile over a ROWS
    frame), (ts, event_id) total order, 6dp round. Gate returns the
    per-user LAST smoothed value + frame count so the hash pins the
    whole trajectory's tail without 15k rows."""
    from awi_datapipelinepublic_spark.operators.timeseries import rolling_median

    ev = read_events(spark, sf_dir)
    sm = rolling_median(ev, "user_id", "ts", "value", "event_id", preceding=6)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        sm.withColumn("__pick", F.row_number().over(w))
        .filter(F.col("__pick") == 1)
        .select(
            "user_id",
            F.col("rolling_median").alias("last_rolling_median"),
        )
    )


def q_poisson_weighted_sample(spark, sf_dir):
    """Quality-weighted Poisson downsample of documents, weight =
    n_chars, expected 100 rows (operators/sampling.py:
    poisson_weighted_sample). Exact integral Σw makes the inclusion
    probability cross-engine bit-identical; keep-set is md5('ws#'||id)
    — pure filter, zero shuffle."""
    from awi_datapipelinepublic_spark.operators.sampling import poisson_weighted_sample

    d = _t(spark, sf_dir, "documents")
    return poisson_weighted_sample(d, "doc_id", "n_chars", target_rows=100).select(
        "doc_id", "source", "n_chars", "p_include"
    )


def q_fuzzy_join_edit1(spark, sf_dir):
    """Edit-distance-≤1 self-join of distinct customer names via
    symmetric-delete blocking (operators/joins.py:fuzzy_join_edit1) —
    linear blocking + residual levenshtein vs the oracle's quadratic
    theta join; both produce the identical pair set."""
    from awi_datapipelinepublic_spark.operators.joins import fuzzy_join_edit1

    c = _t(spark, sf_dir, "customer").select("c_name")
    return fuzzy_join_edit1(c, c, "c_name", "c_name")


def _daily_counts(spark, sf_dir):
    """Shared input for the two series monitors: exact per-(type, day)
    event counts — one groupBy with map-side combine."""
    return (
        read_events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def q_rolling_anomaly(spark, sf_dir):
    """Trailing-7-day z-score volume monitor over per-type daily event
    counts (operators/timeseries.py:rolling_anomaly): the z²-cleared
    integer inequality evaluated in DOUBLE on exact window sums, so
    the anomaly boolean replays bit-for-bit. Flag cast to INT for the
    canonicalizer (the validate_expectations contract)."""
    from awi_datapipelinepublic_spark.operators.timeseries import rolling_anomaly

    out = rolling_anomaly(_daily_counts(spark, sf_dir))
    return out.withColumn("is_anomaly", F.col("is_anomaly").cast("int"))


def q_changepoint_scan(spark, sf_dir):
    """Single-changepoint scan per event type (operators/
    timeseries.py:changepoint_scan): argmax of the exact-integer
    weighted mean-shift statistic |n·P_t − t·T| with earliest-split
    tie-break — one prefix-sum window + one argmax groupBy."""
    from awi_datapipelinepublic_spark.operators.timeseries import changepoint_scan

    out = changepoint_scan(_daily_counts(spark, sf_dir))
    return out.withColumn("split_idx", F.col("split_idx").cast("bigint"))


def q_skyline_pareto(spark, sf_dir):
    """2-D Pareto frontier of parts — min price, max size
    (operators/spatial.py:skyline2d): the bucketed two-pass plan (no
    global sort, no n² NOT EXISTS); the oracle IS the n² dominance
    definition, so the gate proves the decomposition exact."""
    from awi_datapipelinepublic_spark.operators.spatial import skyline2d

    return skyline2d(_t(spark, sf_dir, "part"), "p_retailprice", "p_size").select(
        F.col("x").alias("price"), F.col("y").alias("size"), "n_rows"
    )


def q_link_prediction(spark, sf_dir):
    """Top-50 common-neighbor / Adamic–Adar link predictions over the
    part co-purchase graph (operators/graph.py:link_prediction) —
    wedge enumeration at degree-capped centers, nano-unit AA weights
    (driver libm, the dsir contract), anti-join vs existing edges,
    TakeOrderedAndProject top-k. Center cap 64: this graph is DENSE
    (avg degree ~120·sf^⅓ — 148M wedges at cap 256 at sf0.1); the cap
    is the operator's documented detonation guard and the oracle
    replays it."""
    from awi_datapipelinepublic_spark.operators.graph import link_prediction

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    )
    edges = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "b -> struct(a AS src, b AS dst))))"
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return link_prediction(edges, max_degree=64, k=50)


def q_itemset_triples(spark, sf_dir):
    """Frequent part-category 3-itemsets over order baskets
    (operators/affinity.py:triple_support), min support 4, basket cap
    64 — Apriori item-prune before the cubic expansion; the oracle
    replays the unpruned 3-way self-join (pruning is result-neutral)."""
    from awi_datapipelinepublic_spark.operators.affinity import triple_support

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("cat")
    )
    return triple_support(li, "l_orderkey", "cat", min_support=4, max_basket=64)


def q_mutual_information(spark, sf_dir):
    """Contingency profile + per-cell PMI/MI of order priority ×
    order status (operators/expectations.py:mutual_information):
    exact joint/marginal counts from ONE groupBy pass; the single
    transcendental per cell is driver-side libm floor-scaled to
    BIGINT nano-units (Σ mi_contrib_nano / (N·1e9) = MI in nats)."""
    from awi_datapipelinepublic_spark.operators.expectations import mutual_information

    return mutual_information(
        _t(spark, sf_dir, "orders"), "o_orderpriority", "o_orderstatus"
    ).select(
        F.col("x").alias("priority"),
        F.col("y").alias("status"),
        "n_xy",
        "n_x",
        "n_y",
        "pmi_nano",
        "mi_contrib_nano",
    )


def q_random_projection(spark, sf_dir):
    """Johnson–Lindenstrauss ±1 projection of the 64-d embeddings to
    8 dims (operators/similarity.py:random_projection): literal
    md5-parity sign matrix, strict left-to-right aggregate(zip_with)
    inner sums (bit-matching DuckDB list_sum), wide columns (no array
    output), pure codegen — zero shuffle."""
    from awi_datapipelinepublic_spark.operators.similarity import random_projection

    return random_projection(
        _t(spark, sf_dir, "embeddings"), out_dim=8, dim=64
    )


def q_poisson_bootstrap(spark, sf_dir):
    """Poisson-bootstrap CI for the per-type mean event value
    (operators/sampling.py:poisson_bootstrap, Chamandy et al. 2012):
    32 replicates via md5-uniform Poisson(1) weights, exact-integer
    replicate sums, one grouped percentile — the single-pass
    100 TB bootstrap layout."""
    from awi_datapipelinepublic_spark.operators.sampling import poisson_bootstrap

    return poisson_bootstrap(
        read_events(spark, sf_dir), "event_type", "event_id", "value"
    )


def q_packing_efficiency(spark, sf_dir):
    """Sequence-length decision table (operators/chunking.py:
    packing_efficiency): pad-to-max vs concat-packed waste at
    L ∈ {512, 1024, 2048} over whitespace token counts — one scan,
    the L axis a literal explode, exact-integer ceils (BIGINT DIV)."""
    from awi_datapipelinepublic_spark.functions import text as X
    from awi_datapipelinepublic_spark.operators.chunking import packing_efficiency

    d = _t(spark, sf_dir, "documents").select(
        F.size(X.tokens(X.normalize_text(F.col("text")))).alias("n_tokens")
    )
    return packing_efficiency(d, "n_tokens")


def q_spearman_corr(spark, sf_dir):
    """Exact tie-aware Spearman ρ of quantity vs extended price
    (operators/quality.py:spearman_corr): average ranks via the
    two-pass running-sum layout (no global row window), DECIMAL(38,0)
    moment sums, one IEEE formula evaluation — bit-replayable."""
    from awi_datapipelinepublic_spark.operators.quality import spearman_corr

    li = _t(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_quantity", "l_extendedprice")


def q_target_encode(spark, sf_dir):
    """Leave-one-out smoothed target encoding of customer market
    segment against account balance (functions/features.py:
    target_encode_loo): exact-integer numerator/denominator, one
    category-sized groupBy broadcast back — the fact never shuffles."""
    from awi_datapipelinepublic_spark.functions.features import target_encode_loo

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return target_encode_loo(c, "c_mktsegment", "c_acctbal").select(
        "c_custkey", "c_mktsegment", "te"
    )


def q_weighted_quantiles(spark, sf_dir):
    """Quantity-weighted price quartiles (operators/quality.py:
    weighted_quantiles): exact inverse-CDF lower quantiles via the
    integer predicate den·cumW ≥ num·W over two-pass running weight
    sums — no float CDF, no interpolation, no global window."""
    from awi_datapipelinepublic_spark.operators.quality import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return weighted_quantiles(li, "l_extendedprice", "l_quantity")


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-level decontamination (operators/dedup.py:
    semantic_decontaminate): corpus = vec_id % 20 ≠ 0, test = the
    rest; drop corpus vectors with 9dp cosine ≥ 0.2 to any same-IVF-
    cluster test vector. Cluster-bounded cogrouped matmul; the union
    equals the full table so the oracle replays knn_join_ivf's
    deterministic centroid/assignment CTEs verbatim."""
    from awi_datapipelinepublic_spark.operators.dedup import semantic_decontaminate

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    test = emb.filter(F.col("vec_id") % 20 == 0)
    return semantic_decontaminate(corpus, test, threshold=0.2)


def q_session_paths(spark, sf_dir):
    """Top-20 session journeys (operators/events.py:session_paths):
    gap-based sessions, (ts, event_id)-ordered type paths joined with
    '>', path-cardinality count, deterministic top-k. The funnel-
    discovery twin of events_session/funnel_steps."""
    from awi_datapipelinepublic_spark.operators.events import session_paths

    return session_paths(read_events(spark, sf_dir))


def q_bipartite_project(spark, sf_dir):
    """Weighted co-purchase projection of (order, part-category)
    (operators/graph.py:bipartite_project): capped basket arrays +
    codegen pair explode + one weight groupBy, min co-occurrence 3 —
    the named form of the edge constructor the graph gates inline."""
    from awi_datapipelinepublic_spark.operators.graph import bipartite_project

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_partkey") % 100).alias("cat")
    )
    return bipartite_project(li, "l_orderkey", "cat", min_weight=3)


def q_reshard_movement(spark, sf_dir):
    """Rendezvous-hash reshard audit 8→9 shards (operators/
    sampling.py:reshard_movement): the (from, to, n) transition matrix
    of a consistent-hashing fleet resize — codegen array_max argmax
    per row, zero shuffle before the final count groupBy."""
    from awi_datapipelinepublic_spark.operators.sampling import reshard_movement

    return reshard_movement(
        _t(spark, sf_dir, "orders").select("o_orderkey"), "o_orderkey", 8, 9
    )


def q_acf_lags(spark, sf_dir):
    """Autocorrelation of the daily-revenue series at lags 1..7
    (operators/timeseries.py:acf_lags): calendar-indexed cents series,
    floor-mean deviations, DECIMAL(38,0) product sums, one double
    division per lag — exactly replayed by the oracle. The weekly
    order cadence shows up as the lag-7 coefficient."""
    from awi_datapipelinepublic_spark.operators.timeseries import acf_lags

    o = _t(spark, sf_dir, "orders")
    day = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
        ).alias("cents")
    )
    m = day.agg(F.min("d").alias("d0"))
    ser = day.crossJoin(F.broadcast(m)).select(
        F.datediff(F.col("d"), F.col("d0")).alias("idx"), "cents"
    )
    return acf_lags(ser, "idx", "cents", max_lag=7)


def q_holt_linear(spark, sf_dir):
    """Per-user Holt linear-trend smoothing of event values
    (operators/timeseries.py:holt_linear) — the two-state recursion
    (level+trend) over bounded per-key histories via applyInPandas;
    the oracle replays the identical fp recursion as a recursive CTE
    (the ewma contract, extended to two carried states)."""
    from awi_datapipelinepublic_spark.operators.timeseries import holt_linear

    e = (
        read_events(spark, sf_dir)
        .select("user_id", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    out = holt_linear(e, "user_id", "event_id", "value", alpha=0.3, beta=0.1)
    return out.select(
        "user_id",
        "event_id",
        F.round(F.col("level"), 6).alias("level"),
        F.round(F.col("trend"), 6).alias("trend"),
    )


def q_twap_interval(spark, sf_dir):
    """Per-user time-weighted average event value (operators/
    timeseries.py:twap_interval): truncated epoch-second holding
    intervals as exact integer weights, micro-unit values,
    DECIMAL(38,0) sums, one double division."""
    from awi_datapipelinepublic_spark.operators.timeseries import twap_interval

    return twap_interval(read_events(spark, sf_dir), "user_id", "ts", "value")


def q_burstiness(spark, sf_dir):
    """Goh-Barabasi burstiness B = (sigma-mu)/(sigma+mu) of each user's
    inter-arrival gaps (operators/events.py:burstiness): exact BIGINT
    moment sums from one per-user lag window, identical double formula
    both engines, n_gaps >= 5."""
    from awi_datapipelinepublic_spark.operators.events import burstiness

    return burstiness(read_events(spark, sf_dir), "user_id", "ts", min_gaps=5)


def q_hhi_concentration(spark, sf_dir):
    """Herfindahl-Hirschman supplier-revenue concentration per nation
    (operators/quality.py:hhi_concentration): ten-thousandths-exact
    revenue, BIGINT member sums, DECIMAL(38,0) squares, one double
    division — the source-dominance audit of a training mix."""
    from awi_datapipelinepublic_spark.operators.quality import hhi_concentration

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.floor(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(10000.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("rev"),
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("n_name", "l_suppkey", "rev")
    )
    return hhi_concentration(j, "n_name", "l_suppkey", "rev")


def q_lcc_topk(spark, sf_dir):
    """Local clustering coefficient of the 20 highest-degree parts in
    the co-purchase graph (operators/graph.py:local_clustering_topk),
    neighbor cap 64 (lowest-id, deterministic — the link_prediction
    cap contract): hub cohesion vs star-hub detection. The oracle
    replays the cap exactly."""
    from awi_datapipelinepublic_spark.operators.graph import local_clustering_topk

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    )
    edges = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "b -> struct(a AS u, b AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    return local_clustering_topk(edges, "u", "v", k=20, neighbor_cap=64)


def q_split_leakage(spark, sf_dir):
    """Train/eval split leakage audit (operators/dedup.py:
    split_leakage_audit): every val/test document MinHash-LSH-matching
    a train document, with band-hit count and lowest-id train match —
    the data-card honesty check composed from the md5 split rule and
    the md5-portable band keys (both already oracle-replayable)."""
    from awi_datapipelinepublic_spark.operators.dedup import split_leakage_audit

    return split_leakage_audit(_t(spark, sf_dir, "documents"), k=3)


def q_unimax_weights(spark, sf_dir):
    """UniMax budget allocation over document languages (operators/
    sampling.py:unimax_weights): ascending-size greedy with a 2-epoch
    cap and integer arithmetic throughout; the oracle walks the same
    order in a recursive CTE. Budget 500k chars."""
    from awi_datapipelinepublic_spark.operators.sampling import unimax_weights

    return unimax_weights(
        _t(spark, sf_dir, "documents"), "lang", "n_chars",
        total_budget=500_000, epoch_cap=2,
    )


def q_weekday_profile(spark, sf_dir):
    """Day-of-week revenue seasonality (operators/timeseries.py:
    weekday_profile): exact cents totals per weekday, distinct-date
    counts, one double share division. Spark dow convention
    (1=Sunday); the oracle shifts DuckDB's 0-based dayofweek."""
    from awi_datapipelinepublic_spark.operators.timeseries import weekday_profile

    o = _t(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return weekday_profile(o, "o_orderdate", "cents")


def q_embedding_drift(spark, sf_dir):
    """Centroid cosine between the id-parity halves of the embedding
    corpus (operators/similarity.py:embedding_drift): 9dp-rounded
    per-dim means re-scaled to exact nano-units, one double cosine on
    exact integer sums — the shard-corruption smoke test."""
    from awi_datapipelinepublic_spark.operators.similarity import embedding_drift

    return embedding_drift(_t(spark, sf_dir, "embeddings"))


def q_two_hop_reach(spark, sf_dir):
    """Capped 1-/2-hop reach of the 20 highest-degree parts in the
    co-purchase graph (operators/graph.py:two_hop_reach, cap 32
    lowest-id neighbors per hop, replayed by the oracle): the hub
    blast-radius audit."""
    from awi_datapipelinepublic_spark.operators.graph import two_hop_reach

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    )
    edges = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "b -> struct(a AS u, b AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    return two_hop_reach(edges, "u", "v", k=20, neighbor_cap=32)


def q_degree_histogram(spark, sf_dir):
    """Log2-binned degree distribution of the co-purchase graph
    (operators/graph.py:degree_histogram): buckets via base-2 string
    length (libm-free — floor(log2) is 1-ulp-unsafe at exact powers of
    two), pure integers end-to-end."""
    from awi_datapipelinepublic_spark.operators.graph import degree_histogram

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ids")
    )
    edges = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "b -> struct(a AS u, b AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")
    return degree_histogram(edges, "u", "v")


def q_ann_ndcg_eval(spark, sf_dir):
    """Graded ranking quality of the IVF index (operators/
    similarity.py:ann_ndcg_eval): per-query nDCG@5 vs the exact
    brute-force top-5 — sees ORDER errors recall@k cannot. Position
    weights 1/log2(i+1) as CPython nano-unit literals in both engines
    (the dsir contract); nDCG is one double division of exact
    BIGINTs."""
    from awi_datapipelinepublic_spark.operators.similarity import ann_ndcg_eval

    return ann_ndcg_eval(_t(spark, sf_dir, "embeddings"), k=5)


def q_seasonal_anomaly(spark, sf_dir):
    """Day-of-week-detrended volume monitor (operators/timeseries.py:
    seasonal_anomaly): rolling_anomaly's cleared z-inequality over the
    integer-exact dow deviation dev = n·n_dow − S_dow — "anomalous FOR
    a Sunday", not "is a Sunday". Flag cast to INT for the
    canonicalizer."""
    from awi_datapipelinepublic_spark.operators.timeseries import seasonal_anomaly

    d = _daily_counts(spark, sf_dir).withColumn("dow", F.dayofweek(F.col("day")))
    out = seasonal_anomaly(d)
    return out.withColumn("is_anomaly", F.col("is_anomaly").cast("int"))


def q_percentile_normalize(spark, sf_dir):
    """Rank-percentile normalization of account balances within market
    segment (operators/quality.py:percentile_normalize): average-rank
    (2·cum − c + 1)/(2n) — exact-integer ranks, one double division,
    keyed windows only."""
    from awi_datapipelinepublic_spark.operators.quality import percentile_normalize

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    return percentile_normalize(c, "c_mktsegment", "c_acctbal").select(
        "c_custkey", "c_mktsegment", "pct"
    )


# --- Round-11 additions ---------------------------------------------------


def q_rfm_segments(spark, sf_dir):
    """RFM customer segmentation census (operators/events.py:
    rfm_segments): rank-quantile scores 1..4 per axis via the
    closed-form 1 + ((rank-1)*bins) DIV n over two-pass global ranks
    (no NTILE convention drift, no single-partition window)."""
    from awi_datapipelinepublic_spark.operators.events import rfm_segments

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return rfm_segments(o, "o_custkey", "o_orderdate", "cents", n_bins=4)


def q_theil_sen_trend(spark, sf_dir):
    """Theil-Sen robust slope of monthly revenue (operators/
    timeseries.py:theil_sen_trend): median of pairwise slopes over the
    calendar-bounded monthly series; each slope is one double division
    of exact integers, the median ranks picked by the two-pass global
    row number."""
    from awi_datapipelinepublic_spark.operators.timeseries import theil_sen_trend

    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            ((F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1)
            .cast("bigint")
            .alias("i")
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("v")
        )
    )
    return theil_sen_trend(m, "i", "v")


def q_trend_by_group(spark, sf_dir):
    """Per-nation OLS revenue trend (operators/timeseries.py:
    trend_by_group): DECIMAL(38,0)-exact moment sums, one double
    division per group, 6dp round."""
    from awi_datapipelinepublic_spark.operators.timeseries import trend_by_group

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        ((F.year("o_orderdate") - F.lit(1992)) * 12 + F.month("o_orderdate") - 1)
        .cast("bigint")
        .alias("x"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "x")
        .agg(F.sum("cents").cast("bigint").alias("y"))
    )
    return trend_by_group(m, "c_nationkey", "x", "y")


def q_attribution_position(spark, sf_dir):
    """Position-based (U-shaped 40/20/40) attribution (operators/
    events.py:attribution_position): exact integer basis points per
    path, remainder to the first touch, one keyed window chain."""
    from awi_datapipelinepublic_spark.operators.events import attribution_position

    return attribution_position(read_events(spark, sf_dir))


def q_activity_streaks(spark, sf_dir):
    """Longest consecutive-active-day streak census (operators/
    events.py:activity_streaks): gaps-and-islands via day - row_number
    on the deduplicated (user, day) activity table."""
    from awi_datapipelinepublic_spark.operators.events import activity_streaks

    return activity_streaks(read_events(spark, sf_dir))


def q_cdc_apply(spark, sf_dir):
    """CDC changelog materialization (operators/merge.py:cdc_apply):
    highest-sequence op wins per key, delete tombstones drop the key;
    one keyed window, no join. Changelog synthesized deterministically
    from orders (status F/O/P -> I/U/D, seq = order key)."""
    from awi_datapipelinepublic_spark.operators.merge import cdc_apply

    ch = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.lit("I"))
        .when(F.col("o_orderstatus") == "O", F.lit("U"))
        .otherwise(F.lit("D"))
        .alias("op"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return cdc_apply(ch, ["o_custkey"], "o_orderkey", "op").select(
        "o_custkey", "o_orderkey", "op", "cents"
    )


def q_bfs_distance(spark, sf_dir):
    """Bounded multi-source BFS distances (operators/graph.py:
    bfs_distance): level-synchronous frontier expansion over the
    deterministic customer chain graph (the connected_components
    fixture), seeds at multiples of 100, 3 hops; the oracle replays it
    as a bounded recursive CTE with MIN(dist)."""
    from awi_datapipelinepublic_spark.operators.graph import bfs_distance

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        c.alias("a")
        .join(c.alias("b"), F.col("a.c_custkey") + 1 == F.col("b.c_custkey"))
        .filter(F.col("a.c_custkey") % 5 != 4)
        .select(F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst"))
    )
    seeds = c.filter(F.col("c_custkey") % 100 == 0).select(
        F.col("c_custkey").alias("node")
    )
    return bfs_distance(edges, seeds, "src", "dst", max_hops=3)


def q_ann_mrr_eval(spark, sf_dir):
    """Mean-reciprocal-rank of the IVF index vs the exact brute top-1
    (operators/similarity.py:ann_mrr_eval): rank 0 records a miss; rr
    is one double division of two small integers."""
    from awi_datapipelinepublic_spark.operators.similarity import ann_mrr_eval

    return ann_mrr_eval(_t(spark, sf_dir, "embeddings"), k=5)


def q_dedup_keep_best(spark, sf_dir):
    """Canonical-copy selection per exact-dup cluster (operators/
    dedup.py:dedup_keep_best): highest score (n_chars) wins, ties to
    the lowest id; one keyed window on the fingerprint shuffle."""
    from awi_datapipelinepublic_spark.operators.dedup import dedup_keep_best

    return dedup_keep_best(_t(spark, sf_dir, "documents"))


def q_trimmed_mean(spark, sf_dir):
    """Per-returnflag 10%-trimmed mean of line price cents (operators/
    quality.py:trimmed_mean): exact integer trim counts + BIGINT sum,
    one double division, 6dp round replica in the oracle."""
    from awi_datapipelinepublic_spark.operators.quality import trimmed_mean

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    return trimmed_mean(li, "l_returnflag", "cents", ["l_orderkey", "l_linenumber"])


def q_quantile_mapping(spark, sf_dir):
    """Cross-source score calibration by quantile mapping (operators/
    quality.py:quantile_mapping): src1's n_chars distribution mapped
    onto src0's via pure-integer proportional ranks."""
    from awi_datapipelinepublic_spark.operators.quality import quantile_mapping

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return quantile_mapping(d, "source", "n_chars", "doc_id", "src1", "src0")


def q_vocab_growth(spark, sf_dir):
    """Heaps-law vocabulary growth curve (operators/corpus.py:
    vocab_growth): per-document new-type counts via first-occurrence
    attribution, cumulatives via the two-pass global running sum."""
    from awi_datapipelinepublic_spark.operators.corpus import vocab_growth

    return vocab_growth(_t(spark, sf_dir, "documents"))


def q_scd2_lookup(spark, sf_dir):
    """Point-in-time SCD2 lookup (operators/merge.py:scd2_lookup):
    per-customer priority regimes built by scd2_merge over the
    (deduped to one order per customer-day, lowest orderkey) order
    history; every order then probes the regime current 30 days after
    its own date. Equi-join on the key + residual interval filter —
    at most one version matches by construction."""
    from awi_datapipelinepublic_spark.operators.merge import scd2_lookup, scd2_merge
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        F.col("o_orderdate").cast("date").alias("d"),
    )
    w = Window.partitionBy("o_custkey", "d").orderBy(F.col("o_orderkey").asc())
    hist = (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderpriority", "d")
    )
    dim = scd2_merge(hist, keys=["o_custkey"], change_col="o_orderpriority", effective_col="d")
    facts = o.select("o_orderkey", "o_custkey", F.date_add(F.col("d"), 30).alias("probe"))
    return scd2_lookup(facts, dim, ["o_custkey"], "probe").select(
        "o_orderkey", "o_custkey", "probe",
        F.col("o_orderpriority").alias("regime"), "valid_from",
    )


def q_mutual_nn(spark, sf_dir):
    """Mutual-nearest-neighbor pairs (operators/similarity.py:
    mutual_nn): reciprocal exact top-1 cosine edges, a < b — the
    embedding-alignment matcher."""
    from awi_datapipelinepublic_spark.operators.similarity import mutual_nn

    return mutual_nn(_t(spark, sf_dir, "embeddings"))


def q_rank_movers(spark, sf_dir):
    """Top-50 customer revenue-rank movers between the early (<=1997)
    and late order eras (operators/timeseries.py:rank_movers): ranks
    via the grouped two-pass keyed rank (period = the 2-value group),
    top-k on the (|delta|, key) total order. The cutoff sits inside
    the fixture's 1995-2001 date range so both eras are non-empty."""
    from awi_datapipelinepublic_spark.operators.timeseries import rank_movers

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.year("o_orderdate") <= 1997, F.lit("early"))
        .otherwise(F.lit("late"))
        .alias("era"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return rank_movers(o, "o_custkey", "era", "cents", "early", "late", k=50)


def q_local_peaks(spark, sf_dir):
    """Strict local maxima of the daily per-type event counts with
    one-step prominence (operators/timeseries.py:local_peaks)."""
    from awi_datapipelinepublic_spark.operators.timeseries import local_peaks

    d = (
        read_events(spark, sf_dir)
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return local_peaks(d, "event_type", "day", "n")


def q_winsorize_by_group(spark, sf_dir):
    """Per-returnflag rank-based winsorization of line price cents
    (operators/quality.py:winsorize_by_group): clip to the group's
    [k+1, n-k] rank-bound VALUES, ranks via grouped_row_number."""
    from awi_datapipelinepublic_spark.operators.quality import winsorize_by_group

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("bigint").alias("lid"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return winsorize_by_group(li, "l_returnflag", "cents", "lid")


def q_chi2_independence(spark, sf_dir):
    """Event-type x weekday chi-square cells (operators/quality.py:
    chi2_independence): exact DECIMAL first-order products, the square
    taken in double (identical operands cross-engine), per-cell
    contributions — the consumer sums the tiny cell table."""
    from awi_datapipelinepublic_spark.operators.quality import chi2_independence

    e = read_events(spark, sf_dir).select(
        "event_type", F.dayofweek(F.col("ts")).alias("dow")
    )
    return chi2_independence(e, "event_type", "dow")


def q_hits_scores(spark, sf_dir):
    """Fixed-iteration unnormalized HITS over the customer->supplier
    order graph (operators/graph.py:hits_scores): integer-exact hub/
    authority scores, k=3; the oracle unrolls the same iterations as
    chained HUGEINT CTEs (the pagerank pattern, float-free)."""
    from awi_datapipelinepublic_spark.operators.graph import hits_scores

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Same BIGINT node encoding as q_pagerank (customer 2k, supplier
    # 2k+1): the 3 HITS iterations shuffle long keys, the prefixed
    # string labels are rebuilt at the output edge. Integer-exact
    # scores — the encoding cannot move a single bit.
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("o_custkey").cast("bigint") * 2).alias("src"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    label = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c"), F.expr("node div 2"))
    ).otherwise(F.concat(F.lit("s"), F.expr("(node - 1) div 2")))
    return hits_scores(edges, iterations=3).select(
        label.alias("node"), "hub", "auth"
    )


def q_vocab_overlap(spark, sf_dir):
    """Pairwise source vocabulary Jaccard (operators/corpus.py:
    vocab_overlap): distinct token sets per source, C(sources,2)
    pairs, exact BIGINT set sizes, one double division."""
    from awi_datapipelinepublic_spark.operators.corpus import vocab_overlap

    return vocab_overlap(_t(spark, sf_dir, "documents"))


def q_ttr_by_source(spark, sf_dir):
    """Type-token lexical diversity per source (operators/corpus.py:
    ttr_by_group)."""
    from awi_datapipelinepublic_spark.operators.corpus import ttr_by_group

    return ttr_by_group(_t(spark, sf_dir, "documents"))


def q_activity_gaps(spark, sf_dir):
    """Per-user inactivity episodes >= 2 days between consecutive
    active days (operators/events.py:activity_gaps) — the inverse of
    activity_streaks, off the same deduplicated activity table."""
    from awi_datapipelinepublic_spark.operators.events import activity_gaps

    return activity_gaps(read_events(spark, sf_dir), min_gap_days=2)


def q_attribution_time_decay(spark, sf_dir):
    """Time-decay attribution with exact staircase half-life credit
    10000 DIV 2^(age DIV 7) basis points (operators/events.py:
    attribution_time_decay) — integer arithmetic end to end, no
    float pow to drift."""
    from awi_datapipelinepublic_spark.operators.events import attribution_time_decay

    return attribution_time_decay(read_events(spark, sf_dir), halflife_days=7)


def q_fk_orphans(spark, sf_dir):
    """Star-schema referential-integrity audit (operators/
    expectations.py:fk_orphans): orphan fact keys per fact->dim link
    via left-anti joins; four relations in one report."""
    from awi_datapipelinepublic_spark.operators.expectations import fk_orphans

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return fk_orphans(
        [
            ("orders.customer", o, "o_custkey", c, "c_custkey"),
            ("lineitem.orders", li, "l_orderkey", o, "o_orderkey"),
            ("lineitem.part", li, "l_partkey", p, "p_partkey"),
            ("lineitem.supplier", li, "l_suppkey", s, "s_suppkey"),
        ]
    )


def q_length_histogram(spark, sf_dir):
    """Log2-binned document-length distribution per language
    (operators/quality.py:length_histogram): bit-length buckets via
    base-2 string conversion (libm-free, the degree_histogram trick)."""
    from awi_datapipelinepublic_spark.operators.quality import length_histogram

    return length_histogram(_t(spark, sf_dir, "documents"), "lang", "n_chars")


def q_recency_features(spark, sf_dir):
    """Per-user churn-risk features: last active day, staleness vs
    the corpus anchor, active-day count, current streak (operators/
    events.py:recency_features)."""
    from awi_datapipelinepublic_spark.operators.events import recency_features

    return recency_features(read_events(spark, sf_dir))


def q_simpson_diversity(spark, sf_dir):
    """Per-user Simpson diversity of event types (operators/
    quality.py:simpson_diversity): log-free behavioral breadth —
    counts stay integers, the only float ops are one division and one
    subtraction on identical operands."""
    from awi_datapipelinepublic_spark.operators.quality import simpson_diversity

    out = simpson_diversity(read_events(spark, sf_dir), "user_id", "event_type")
    return out.select(
        "user_id",
        "n",
        F.col("pair_same").cast("bigint").alias("pair_same"),
        "diversity",
    )


def q_odds_ratio(spark, sf_dir):
    """Odds of a return for discounted vs undiscounted lines per
    status (operators/quality.py:odds_ratio): four exact conditional
    counts in one pass, OR = one double division of integer
    products."""
    from awi_datapipelinepublic_spark.operators.quality import odds_ratio

    return odds_ratio(
        _t(spark, sf_dir, "lineitem"),
        "l_linestatus",
        F.col("l_discount") >= 0.05,
        F.col("l_returnflag") == "R",
    )


def q_dispersion_index(spark, sf_dir):
    """Variance-to-mean ratio of order price cents per priority
    (operators/quality.py:dispersion_index): DECIMAL(38,0) moment
    sums — n·Σx² − (Σx)² overflows BIGINT at cent scale — surfaced
    as exact-integer-valued doubles plus one division."""
    from awi_datapipelinepublic_spark.operators.quality import dispersion_index

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    out = dispersion_index(o, "o_orderpriority", "cents")
    return out.select(
        "o_orderpriority",
        "n",
        "sum_x",
        F.col("d_num").cast("double").alias("d_num"),
        F.col("d_den").cast("double").alias("d_den"),
        "dispersion",
    )


def q_kendall_tau(spark, sf_dir):
    """Kendall tau-b between daily order count and daily revenue
    cents (operators/timeseries.py:kendall_tau): concordant/
    discordant/tie pair counts over the calendar-bounded daily
    series — exact integers, one sqrt + one division at the end."""
    from awi_datapipelinepublic_spark.operators.timeseries import kendall_tau

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("cents"),
        )
    )
    return kendall_tau(daily, "n_orders", "cents", "day")


def q_growth_decomposition(spark, sf_dir):
    """Which market segment drove the 1997→1998 revenue change
    (operators/timeseries.py:growth_decomposition): per-segment
    deltas in exact cents, share = one double division against the
    broadcast total."""
    from awi_datapipelinepublic_spark.operators.timeseries import (
        growth_decomposition,
    )

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    df = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment",
        F.year("o_orderdate").alias("yr"),
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return growth_decomposition(df, "c_mktsegment", "yr", "cents", 1997, 1998)


def q_linear_interpolate(spark, sf_dir):
    """Daily revenue per priority with gaps linearly interpolated
    (operators/timeseries.py:linear_interpolate): sequence+explode
    spine, segment-trick bracketing (dialect-free), the fill is three
    float ops on exact integer cents."""
    from awi_datapipelinepublic_spark.operators.timeseries import linear_interpolate

    daily = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("v")
        )
    )
    return linear_interpolate(daily, "prio", "day", "v")


def q_l_diversity(spark, sf_dir):
    """l-diversity audit of order priorities within (status, year)
    quasi-identifier groups (functions/privacy.py:l_diversity):
    distinct + modal sensitive counts, at_risk INT flag."""
    from awi_datapipelinepublic_spark.functions.privacy import l_diversity

    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.year("o_orderdate").alias("yr"),
        "o_orderpriority",
    )
    return l_diversity(o, ["o_orderstatus", "yr"], "o_orderpriority", l=3)


def q_systematic_sample(spark, sf_dir):
    """Every-20th order along the (price DESC, key ASC) total order
    (operators/sampling.py:systematic_sample): ranks via the two-pass
    range-partition global rank, never a single-partition window."""
    from awi_datapipelinepublic_spark.operators.sampling import systematic_sample

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return systematic_sample(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 20
    )


def q_km_hazard(spark, sf_dir):
    """Kaplan-Meier life-table for days from first to second order
    per customer, censored at the corpus max date (operators/
    events.py:km_hazard): all columns exact integers; the survival
    product is left to the consumer by design."""
    from awi_datapipelinepublic_spark.operators.events import km_hazard

    o = _t(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.min(F.to_date("o_orderdate")).alias("d1")
    )
    second = (
        o.join(first, "o_custkey")
        .filter(F.to_date("o_orderdate") > F.col("d1"))
        .groupBy("o_custkey")
        .agg(F.min(F.to_date("o_orderdate")).alias("d2"))
    )
    horizon = o.agg(F.max(F.to_date("o_orderdate")).alias("dmax"))
    obs = (
        first.join(second, "o_custkey", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("d2").isNotNull(), F.datediff(F.col("d2"), F.col("d1"))
            )
            .otherwise(F.datediff(F.col("dmax"), F.col("d1")))
            .alias("dur"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    return km_hazard(obs, "dur", "ev")


def q_new_vs_returning(spark, sf_dir):
    """Daily active users split first-ever vs returning (operators/
    events.py:new_vs_returning): distinct user-days, min-day join,
    calendar-bounded day aggregate."""
    from awi_datapipelinepublic_spark.operators.events import new_vs_returning

    return new_vs_returning(read_events(spark, sf_dir))


def q_repeat_rate(spark, sf_dir):
    """Within-year repeat-purchase rate per market segment
    (operators/events.py:repeat_rate): exact entity counts, one
    double division."""
    from awi_datapipelinepublic_spark.operators.events import repeat_rate

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    df = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", F.year("o_orderdate").alias("yr"), "o_custkey"
    )
    return repeat_rate(df, ["c_mktsegment", "yr"], "o_custkey")


def q_session_duration_hist(spark, sf_dir):
    """Session-duration histogram in 5-minute bins (operators/
    events.py:session_duration_hist): durations in exact integer
    microseconds, binned by integer DIV — float-free."""
    from awi_datapipelinepublic_spark.operators.events import session_duration_hist

    return session_duration_hist(
        read_events(spark, sf_dir), gap_minutes=30, bin_minutes=5
    )


def q_harmonic_centrality(spark, sf_dir):
    """Bounded-hop harmonic centrality of a seed shortlist over the
    deterministic customer chain graph (operators/graph.py:
    harmonic_centrality): seed-carried BFS, scaled-integer 840 DIV d
    terms — no float harmonic sum; the oracle replays it as a
    seed-keyed bounded recursive CTE."""
    from awi_datapipelinepublic_spark.operators.graph import harmonic_centrality

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        c.alias("a")
        .join(c.alias("b"), F.col("a.c_custkey") + 1 == F.col("b.c_custkey"))
        .filter(F.col("a.c_custkey") % 5 != 4)
        .select(
            F.col("a.c_custkey").alias("src"), F.col("b.c_custkey").alias("dst")
        )
    )
    seeds = c.filter(F.col("c_custkey") % 100 == 0).select(
        F.col("c_custkey").alias("node")
    )
    return harmonic_centrality(edges, seeds, max_hops=4)


def q_char_ngram_topk(spark, sf_dir):
    """Top-20 character trigrams per language over normalized text
    (operators/corpus.py:char_ngram_topk): Catalyst higher-order
    transform, WindowGroupLimit-ranked (freq DESC, gram ASC)."""
    from awi_datapipelinepublic_spark.operators.corpus import char_ngram_topk

    return char_ngram_topk(
        _t(spark, sf_dir, "documents"), "lang", "text", n=3, k=20
    )


def q_quartile_skew(spark, sf_dir):
    """Bowley quartile skewness of line price cents per returnflag
    (operators/quality.py:quartile_skew): quartiles at pure-integer
    ranks on the grouped two-pass parallel rank; one division."""
    from awi_datapipelinepublic_spark.operators.quality import quartile_skew

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("bigint")
        .alias("lid"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return quartile_skew(li, "l_returnflag", "cents", "lid")


def q_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier census of line price cents per returnflag
    (operators/quality.py:iqr_outliers): integer 2x vs 2·q±3·IQR
    comparisons — the 1.5 never becomes a float."""
    from awi_datapipelinepublic_spark.operators.quality import iqr_outliers

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber"))
        .cast("bigint")
        .alias("lid"),
        F.floor(F.col("l_extendedprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return iqr_outliers(li, "l_returnflag", "cents", "lid")


def q_capture_recapture(spark, sf_dir):
    """Lincoln-Petersen active-user population estimate from the
    first two event weeks (operators/quality.py:capture_recapture):
    exact capture counts, one double division."""
    from awi_datapipelinepublic_spark.operators.quality import capture_recapture

    ev = read_events(spark, sf_dir).select(
        "user_id", F.to_date("ts").alias("day")
    )
    a = ev.filter(F.col("day") <= F.lit("2024-01-07").cast("date"))
    b = ev.filter(
        (F.col("day") >= F.lit("2024-01-08").cast("date"))
        & (F.col("day") <= F.lit("2024-01-14").cast("date"))
    )
    return capture_recapture(a, b, "user_id")


def q_chao1_richness(spark, sf_dir):
    """Chao1 unseen-vocabulary estimate + Good-Turing singleton share
    per language (operators/corpus.py:chao1_richness): frequency-of-
    frequencies rollup, fixed float formulas on exact integers."""
    from awi_datapipelinepublic_spark.operators.corpus import chao1_richness

    return chao1_richness(_t(spark, sf_dir, "documents"), "lang", "text")


def q_auc_eval(spark, sf_dir):
    """Exact ROC-AUC of order value predicting URGENT priority
    (operators/quality.py:auc_eval): Mann-Whitney U with doubled
    midranks — integers end-to-end, one division; the running rank
    rides the two-pass global running sum."""
    from awi_datapipelinepublic_spark.operators.quality import auc_eval

    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
        "o_orderpriority",
    )
    return auc_eval(o, "cents", F.col("o_orderpriority") == "1-URGENT")


def q_split_gini(spark, sf_dir):
    """Gini impurity of returnflag on each side of the discount
    >= 0.05 split (operators/quality.py:split_gini): exact class
    counts, one division + one subtraction per side."""
    from awi_datapipelinepublic_spark.operators.quality import split_gini

    return split_gini(
        _t(spark, sf_dir, "lineitem"),
        F.col("l_discount") >= 0.05,
        "l_returnflag",
    )


def q_type_cooccurrence_lift(spark, sf_dir):
    """Event-type co-occurrence lift over daily per-user activity
    baskets (operators/affinity.py:pair_lift): which behaviors happen
    together on the same user-day — the behavioral-affinity twin of
    the part-category basket gate; exact integer ratios at 6dp."""
    from awi_datapipelinepublic_spark.operators.affinity import pair_lift

    ev = read_events(spark, sf_dir).select(
        F.concat_ws(
            "|", F.col("user_id").cast("string"), F.to_date("ts").cast("string")
        ).alias("basket"),
        "event_type",
    )
    return pair_lift(ev, "basket", "event_type", min_support=5, max_basket=64)


def q_dup_rate_by_source(spark, sf_dir):
    """Per-source exact-duplication triage (operators/dedup.py:
    dup_rate_by_source): the engine-wide md5 fingerprint, so the
    rates agree exactly with dedup_exact's removals."""
    from awi_datapipelinepublic_spark.operators.dedup import dup_rate_by_source

    return dup_rate_by_source(_t(spark, sf_dir, "documents"), "source", "text")


def q_palma_ratio(spark, sf_dir):
    """Palma revenue-concentration ratio over per-customer totals
    (operators/quality.py:palma_ratio): top-10%% share over
    bottom-40%% share at pure-integer rank cuts on the two-pass
    global rank."""
    from awi_datapipelinepublic_spark.operators.quality import palma_ratio

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    return palma_ratio(o, "o_custkey", "cents")


# Round-13 driver window: the driver oracle-verifies the FIRST 50
# queries() entries each round (CORRECTNESS_r*). After r12 every id has
# a driver-green row; this window fronts the round-13
# optimization-touched gates (the changes the driver should
# hard-verify), repeats the 4 §2 flagships, and rotates in the
# least-recently-signed cohort (oldest signatures r6/r7).
_R13_WINDOW = [
    # Round-13 optimization-touched (or measurement-affected) gates:
    # the driver should hard-verify exactly what changed this round —
    # the triangle/LPA/link-prediction/dedup-window rewrites, the
    # holt NaN-key hardening, and every query whose persist semantics
    # the bench cache-clear fix re-measured.
    "triangle_count", "label_propagation", "link_prediction",
    "dedup_minhash_lsh", "dedup_pipeline", "dedup_incremental",
    "dedup_keep_best", "split_leakage", "holt_linear",
    "two_hop_reach", "lcc_topk", "winsorize_by_group",
    "iqr_outliers", "mad_outliers", "fuzzy_join_edit1",
    "pagerank", "hits_scores", "source_overlap",
    "remove_dup_spans", "dedup_containment",
    # §2 flagship repeats (every window carries the three views + merge)
    "view_retention", "view_transactions", "view_auto_optiom",
    "merge_time_window",
    # staleness rotation: least-recently driver-green (r6/r7 cohort)
    "ks_drift", "attribution_last_touch", "basket_pair_lift",
    "activity_churn", "readability_score", "mixture_weights",
    "bpe_top_pairs", "url_host_stats", "overlap_join",
    "t_closeness", "funnel_timing", "ab_test_zscore",
    "activity_heatmap", "group_percentiles", "histogram2d",
    "ship_latency_stats", "share_of_parent", "benford_test",
    "gini_coefficient", "period_over_period", "event_throttle",
    "rolling_median", "poisson_weighted_sample", "event_rate_limit",
    "degree_assortativity", "spearman_corr",
]


# Gates that drain a Structured Streaming query (writeStream +
# availableNow). The parallel oracle harness (tests/oracle_check.py)
# must run these SERIALLY after its thread pool drains — their
# micro-batch jobs starve behind a saturated scheduler (measured 300 s
# awaitTermination timeouts at jobs=6). An explicit set, not source-
# text sniffing: a gate that drains via a helper owning the
# writeStream call would evade a grep for "writeStream".
STREAMING_GATES = frozenset(
    {"streaming_totals", "streaming_pipeline", "streaming_join", "streaming_dedup"}
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        "agg_approx": q_agg_approx,
        "key_skew_profile": q_key_skew_profile,
        "bpe_token_count": q_bpe_token_count,
        "events_session_native": q_events_session_native,
        "unigram_logprob": q_unigram_logprob,
        "token_budget_select": q_token_budget_select,
        "quality_calibrate": q_quality_calibrate,
        "shard_stats": q_shard_stats,
        "source_overlap": q_source_overlap,
        "decontaminate_substring": q_decontaminate_substring,
        "scan_xml": q_scan_xml,
        "digest_prefilter_join": q_digest_prefilter_join,
        "negative_sample": q_negative_sample,
        "k_anonymity": q_k_anonymity,
        "entropy_quality": q_entropy_quality,
        "knn_pq": q_knn_pq,
        "zorder_layout": q_zorder_layout,
        "bloom_prefilter_join": q_bloom_prefilter_join,
        "triangle_count": q_triangle_count,
        "dp_noisy_count": q_dp_noisy_count,
        "vocab_build": q_vocab_build,
        "bigram_lm": q_bigram_lm,
        "knn_ivfpq": q_knn_ivfpq,
        "gopher_filter": q_gopher_filter,
        "curation_pipeline": q_curation_pipeline,
        "scan_schema_drift": q_scan_schema_drift,
        "dedup_pr_eval": q_dedup_pr_eval,
        "time_rollup": q_time_rollup,
        "lang_id_multi": q_lang_id_multi,
        "dedup_cluster_stats": q_dedup_cluster_stats,
        "bigram_logprob": q_bigram_logprob,
        "cohort_retention": q_cohort_retention,
        "json_array_explode": q_json_array_explode,
        "asof_join_tolerance": q_asof_join_tolerance,
        "normalize_accents": q_normalize_accents,
        "drift_psi": q_drift_psi,
        "spatial_radius_join": q_spatial_radius_join,
        "cumulative_adoption": q_cumulative_adoption,
        "interval_coverage": q_interval_coverage,
        "sliding_distinct_users": q_sliding_distinct_users,
        "collocations_pmi": q_collocations_pmi,
        "kcore": q_kcore,
        "event_transitions": q_event_transitions,
        "revenue_pareto": q_revenue_pareto,
        "drift_psi_numeric": q_drift_psi_numeric,
        "view_retention": q_view_retention,
        "view_transactions": q_view_transactions,
        "view_auto_optiom": q_view_auto_optiom,
        "merge_time_window": q_merge_time_window,
        "dedup_pipeline": q_dedup_pipeline,
        # --- Declaration order below is not significant: the driver
        # --- window is pulled to the front via _R13_WINDOW above. ---
        "validate_expectations": q_validate_expectations,
        "kmeans_clusters": q_kmeans_clusters,
        "embedding_outliers": q_embedding_outliers,
        "semantic_dedup": q_semantic_dedup,
        "knn_join_lsh": q_knn_join_lsh,
        "knn_join_ivf": q_knn_join_ivf,
        "dedup_containment": q_dedup_containment,
        "embedding_near_dup": q_embedding_near_dup,
        "scan_jsonl": q_scan_jsonl,
        "scan_orc": q_scan_orc,
        "scan_binaryfile": q_scan_binaryfile,
        "scan_pysource": q_scan_pysource,
        "win_rank_lead_lag": q_win_rank_lead_lag,
        "win_frame_rows": q_win_frame_rows,
        "win_range_frame": q_win_range_frame,
        "win_distinct_count": q_win_distinct_count,
        "win_first_last": q_win_first_last,
        "subquery_in": q_subquery_in,
        "subquery_scalar": q_subquery_scalar,
        "lateral_topk": q_lateral_topk,
        "set_intersect": q_set_intersect,
        "set_except": q_set_except,
        "union_distinct": q_union_distinct,
        "intersect_all": q_intersect_all,
        "forward_fill": q_forward_fill,
        "date_spine_gapfill": q_date_spine_gapfill,
        "resample_ohlc": q_resample_ohlc,
        "decimal_sum_exact": q_decimal_sum_exact,
        "agg_string_list": q_agg_string_list,
        "agg_percentile": q_agg_percentile,
        "agg_stats": q_agg_stats,
        "agg_distinct": q_agg_distinct,
        "rollup_agg": q_rollup_agg,
        "pivot_status": q_pivot_status,
        "join_semi": q_join_semi,
        "join_anti": q_join_anti,
        "fuzzy_join_blocked": q_fuzzy_join_blocked,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "pii_redact": q_pii_redact,
        "pii_counts": q_pii_counts,
        "repetition_stats": q_repetition_stats,
        "events_tumbling": q_events_tumbling,
        "events_json": q_events_json,
        "sliding_window": q_sliding_window,
        "streaming_totals": q_streaming_totals,
        "hll_incremental": q_hll_incremental,
        "winsorize": q_winsorize,
        "quantile_bins": q_quantile_bins,
        "balanced_sample": q_balanced_sample,
        "streaming_pipeline": q_streaming_pipeline,
        "make_view": q_make_view,
        "tpch_q1_pricing": q_tpch_q1_pricing,
        "tpch_q2_min_cost": q_tpch_q2_min_cost,
        "tpch_q3_topk": q_tpch_q3_topk,
        "tpch_q4_priority": q_tpch_q4_priority,
        "tpch_q5_revenue": q_tpch_q5_revenue,
        "tpch_q6_forecast": q_tpch_q6_forecast,
        "tpch_q7_volume": q_tpch_q7_volume,
        "tpch_q8_market_share": q_tpch_q8_market_share,
        "tpch_q9_profit": q_tpch_q9_profit,
        "tpch_q10_returns": q_tpch_q10_returns,
        "tpch_q11_important_stock": q_tpch_q11_important_stock,
        "tpch_q12_lateship": q_tpch_q12_lateship,
        "tpch_q13_custdist": q_tpch_q13_custdist,
        "tpch_q14_promo": q_tpch_q14_promo,
        "tpch_q15_top_supplier": q_tpch_q15_top_supplier,
        "tpch_q16_supplier_cnt": q_tpch_q16_supplier_cnt,
        "tpch_q17_small_qty": q_tpch_q17_small_qty,
        "tpch_q18_large_orders": q_tpch_q18_large_orders,
        "tpch_q19_brackets": q_tpch_q19_brackets,
        "tpch_q20_promo_suppliers": q_tpch_q20_promo_suppliers,
        "tpch_q21_waiting_suppliers": q_tpch_q21_waiting_suppliers,
        "tpch_q22_prospects": q_tpch_q22_prospects,
        "dup_span_stats": q_dup_span_stats,
        "remove_dup_spans": q_remove_dup_spans,
        "mixture_resample": q_mixture_resample,
        "knn_join": q_knn_join,
        "ewma_smooth": q_ewma_smooth,
        "weighted_sample": q_weighted_sample,
        "bm25_topk": q_bm25_topk,
        "colocated_join": q_colocated_join,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_incremental": q_dedup_incremental,
        "decontaminate": q_decontaminate,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "dataset_diff": q_dataset_diff,
        "hybrid_search_rrf": q_hybrid_search_rrf,
        "inverted_index": q_inverted_index,
        "heavy_hitters": q_heavy_hitters,
        "tfidf_keywords": q_tfidf_keywords,
        "subquery_correlated": q_subquery_correlated,
        "skew_join_salted": q_skew_join_salted,
        "stratified_sample": q_stratified_sample,
        "scan_csv": q_scan_csv,
        "scan_excel": q_scan_excel,
        "project_prune": q_project_prune,
        "fn_strip_excel": q_fn_strip_excel,
        "filter_notnull_date": q_filter_notnull_date,
        "cast_date_coerce": q_cast_date_coerce,
        "null_normalize": q_null_normalize,
        "cast_schema": q_cast_schema,
        "with_literal": q_with_literal,
        "align_union": q_align_union,
        "join_geo": q_join_dim_miss,
        "join_channels": q_join_channels,
        "join_agencies": q_join_agencies,
        "join_ttypes": q_join_ttypes,
        "join_fact_fact": q_join_fact_fact,
        "agg_min_scalar": q_agg_min_scalar,
        "agg_min_windowed": q_agg_min_windowed,
        "win_row_number": q_win_row_number,
        "derive_is_new": q_derive_is_new,
        "sort_asc": q_sort_asc,
        "limit_topk": q_limit_topk,
        "fn_coalesce": q_fn_coalesce,
        "fn_case_eq": q_fn_case_eq,
        "fn_isnotnull": q_fn_isnotnull,
        "fn_date_cmp": q_fn_date_cmp,
        "fn_date_lt_param": q_fn_date_lt_param,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "connected_components": q_connected_components,
        "knn_cosine": q_knn_cosine,
        "pagerank": q_pagerank,
        "knn_ivf": q_knn_ivf,
        "chunk_documents": q_chunk_documents,
        "train_test_split": q_train_test_split,
        "multimodal_decode": q_multimodal_decode,
        "text_stats": q_text_stats,
        "events_session": q_events_session,
        "events_funnel": q_events_funnel,
        "asof_join": q_asof_join,
        "range_join_binned": q_range_join_binned,
        "paragraph_dedup": q_paragraph_dedup,
        "merge_upsert": q_merge_upsert,
        "scd2_merge": q_scd2_merge,
        "sequence_pack": q_sequence_pack,
        "union_all": q_align_union,
        "sort_desc": q_sort_desc,
        "fn_alias": q_fn_alias,
        "fn_select_star": q_fn_select_star,
        "join_dim_miss": q_join_dim_miss,
        "join_null_safe": q_join_null_safe,
        "win_min_partition": q_agg_min_windowed,
        "grouped_agg": q_grouped_agg,
        "concat_rows": q_align_union,
        "fn_expressions": q_fn_expressions,
        "profile_columns": q_profile_columns,
        "array_functions": q_array_functions,
        "string_functions": q_string_functions,
        "date_functions": q_date_functions,
        "conditional_functions": q_conditional_functions,
        "explode_ordinality": q_explode_ordinality,
        "cross_join": q_cross_join,
        "grouped_map_zscore": q_grouped_map_zscore,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "cube_agg": q_cube_agg,
        "grouping_sets_agg": q_grouping_sets_agg,
        "topk_per_group": q_topk_per_group,
        "dedup_keep_first": q_dedup_keep_first,
        "histogram_numeric": q_histogram_numeric,
        "bool_bit_agg": q_bool_bit_agg,
        "map_functions": q_map_functions,
        "regr_agg": q_regr_agg,
        "win_percent_rank": q_win_percent_rank,
        "frame_sample": q_frame_sample,
        "unpivot_melt": q_unpivot_melt,
        "json_parse": q_json_parse,
        "vector_norm": q_vector_norm,
        "json_serialize": q_json_serialize,
        "except_all": q_except_all,
        "agg_argmax": q_agg_argmax,
        "having_groups": q_having_groups,
        "string_distance": q_string_distance,
        "knn_lsh": q_knn_lsh,
        "feature_hash": q_feature_hash,
        "funnel_steps": q_funnel_steps,
        # round-6 additions (r7 driver-window candidates): binning-free
        # KS drift, last-touch attribution, market-basket lift
        "ks_drift": q_ks_drift,
        "attribution_last_touch": q_attribution_last_touch,
        "basket_pair_lift": q_basket_pair_lift,
        "activity_churn": q_activity_churn,
        "readability_score": q_readability_score,
        "mixture_weights": q_mixture_weights,
        "bpe_top_pairs": q_bpe_top_pairs,
        "label_propagation": q_label_propagation,
        "url_host_stats": q_url_host_stats,
        "overlap_join": q_overlap_join,
        "t_closeness": q_t_closeness,
        "streaming_join": q_streaming_join,
        "mad_outliers": q_mad_outliers,
        "funnel_timing": q_funnel_timing,
        "ab_test_zscore": q_ab_test_zscore,
        "activity_heatmap": q_activity_heatmap,
        "group_percentiles": q_group_percentiles,
        "histogram2d": q_histogram2d,
        "ship_latency_stats": q_ship_latency_stats,
        "share_of_parent": q_share_of_parent,
        "benford_test": q_benford_test,
        "gini_coefficient": q_gini_coefficient,
        "period_over_period": q_period_over_period,
        "event_throttle": q_event_throttle,
        # round-7 additions (r8 window seeds — deliberately outside
        # the first-50 driver window this round)
        "rolling_median": q_rolling_median,
        "poisson_weighted_sample": q_poisson_weighted_sample,
        "fuzzy_join_edit1": q_fuzzy_join_edit1,
        "streaming_dedup": q_streaming_dedup,
        "event_rate_limit": q_event_rate_limit,
        "degree_assortativity": q_degree_assortativity,
        # round-8 additions (r9 window seeds — outside the first-50
        # driver window this round; rehearsed under ORACLE_VANILLA)
        "dsir_weights": q_dsir_weights,
        "ann_recall_eval": q_ann_recall_eval,
        "ngram_novelty": q_ngram_novelty,
        "hard_negative_mine": q_hard_negative_mine,
        "ccnet_buckets": q_ccnet_buckets,
        "rolling_anomaly": q_rolling_anomaly,
        "changepoint_scan": q_changepoint_scan,
        "skyline_pareto": q_skyline_pareto,
        "link_prediction": q_link_prediction,
        "itemset_triples": q_itemset_triples,
        "mutual_information": q_mutual_information,
        "random_projection": q_random_projection,
        "poisson_bootstrap": q_poisson_bootstrap,
        "packing_efficiency": q_packing_efficiency,
        "spearman_corr": q_spearman_corr,
        "target_encode": q_target_encode,
        "weighted_quantiles": q_weighted_quantiles,
        "semantic_decontaminate": q_semantic_decontaminate,
        "session_paths": q_session_paths,
        "bipartite_project": q_bipartite_project,
        "reshard_movement": q_reshard_movement,
        "acf_lags": q_acf_lags,
        "holt_linear": q_holt_linear,
        "twap_interval": q_twap_interval,
        "burstiness": q_burstiness,
        "hhi_concentration": q_hhi_concentration,
        "lcc_topk": q_lcc_topk,
        "split_leakage": q_split_leakage,
        "unimax_weights": q_unimax_weights,
        "weekday_profile": q_weekday_profile,
        "embedding_drift": q_embedding_drift,
        "two_hop_reach": q_two_hop_reach,
        "degree_histogram": q_degree_histogram,
        "ann_ndcg_eval": q_ann_ndcg_eval,
        "seasonal_anomaly": q_seasonal_anomaly,
        "percentile_normalize": q_percentile_normalize,
        "rfm_segments": q_rfm_segments,
        "theil_sen_trend": q_theil_sen_trend,
        "trend_by_group": q_trend_by_group,
        "attribution_position": q_attribution_position,
        "activity_streaks": q_activity_streaks,
        "cdc_apply": q_cdc_apply,
        "bfs_distance": q_bfs_distance,
        "ann_mrr_eval": q_ann_mrr_eval,
        "dedup_keep_best": q_dedup_keep_best,
        "trimmed_mean": q_trimmed_mean,
        "quantile_mapping": q_quantile_mapping,
        "vocab_growth": q_vocab_growth,
        "scd2_lookup": q_scd2_lookup,
        "mutual_nn": q_mutual_nn,
        "rank_movers": q_rank_movers,
        "local_peaks": q_local_peaks,
        "winsorize_by_group": q_winsorize_by_group,
        "chi2_independence": q_chi2_independence,
        "hits_scores": q_hits_scores,
        "vocab_overlap": q_vocab_overlap,
        "ttr_by_source": q_ttr_by_source,
        "activity_gaps": q_activity_gaps,
        "attribution_time_decay": q_attribution_time_decay,
        "fk_orphans": q_fk_orphans,
        "length_histogram": q_length_histogram,
        "recency_features": q_recency_features,
        "simpson_diversity": q_simpson_diversity,
        "odds_ratio": q_odds_ratio,
        "dispersion_index": q_dispersion_index,
        "kendall_tau": q_kendall_tau,
        "growth_decomposition": q_growth_decomposition,
        "linear_interpolate": q_linear_interpolate,
        "l_diversity": q_l_diversity,
        "systematic_sample": q_systematic_sample,
        "km_hazard": q_km_hazard,
        "new_vs_returning": q_new_vs_returning,
        "repeat_rate": q_repeat_rate,
        "session_duration_hist": q_session_duration_hist,
        "harmonic_centrality": q_harmonic_centrality,
        "char_ngram_topk": q_char_ngram_topk,
        "quartile_skew": q_quartile_skew,
        "iqr_outliers": q_iqr_outliers,
        "capture_recapture": q_capture_recapture,
        "chao1_richness": q_chao1_richness,
        "auc_eval": q_auc_eval,
        "split_gini": q_split_gini,
        "type_cooccurrence_lift": q_type_cooccurrence_lift,
        "dup_rate_by_source": q_dup_rate_by_source,
        "palma_ratio": q_palma_ratio,
    }
    window = {k: q[k] for k in _R13_WINDOW}
    window.update((k, v) for k, v in q.items() if k not in window)
    return window


_STOPWORDS_SQL = "(" + ",".join(f"'{w}'" for w in X.EN_STOPWORDS) + ")"


def _lang_sql(lang: str) -> str:
    return "(" + ",".join(f"'{w}'" for w in X.LANG_STOPWORDS[lang]) + ")"

# DuckDB-dialect shared fragments for the text oracles. Tokenization is
# normalize (lower, collapse whitespace, trim) then split on single
# spaces — identical to functions/text.py.
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split({_NORM}, ' ')"


def _minhash_band_ctes(k: int) -> str:
    """DuckDB CTE chain replaying operators/dedup.py's portable MinHash
    banding exactly: distinct word-k-shingles; ONE md5-derived 32-bit
    base hash per shingle (digest hex 1-8); per-seed affine transforms
    (a_i·h mod p + b_i) mod p over the Mersenne prime with the
    engine's own constants (dedup.py MINHASH_A/B/P); per-seed min;
    8 bands × 4 rows keyed by the comma-joined slice. Yields CTEs
    ending in ``bands`` (doc_id, band_no, bkey)."""
    a_list = ", ".join(str(a) for a in MINHASH_A[:32])
    b_list = ", ".join(str(b) for b in MINHASH_B[:32])
    return f"""
        toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(t) >= {k}
                      THEN array_distinct(list_transform(range(1, len(t) - {k - 2}),
                           i -> array_to_string(t[i:i+{k - 1}], ' ')))
                      ELSE [array_to_string(t, ' ')] END AS shs
               FROM toks),
        ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
        hh AS (SELECT doc_id,
                 ('0x' || substr(md5(s), 1, 8))::UBIGINT::BIGINT AS h
               FROM ex),
        consts AS (SELECT i,
                     ([{a_list}])[i + 1] AS a,
                     ([{b_list}])[i + 1] AS b
                   FROM (SELECT unnest(range(32)) AS i)),
        mh AS (SELECT doc_id, c.i AS seed,
                      MIN(((c.a * h) % {MINHASH_P} + c.b) % {MINHASH_P}) AS mh
               FROM hh CROSS JOIN consts c GROUP BY 1, 2),
        bands AS (SELECT doc_id, seed // 4 AS band_no,
                         string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed) AS bkey
                  FROM mh GROUP BY 1, 2)"""


def _minhash_pairs_ctes(k: int, max_bucket: int = 2000) -> str:
    """Extends :func:`_minhash_band_ctes` with bucket-capped pair
    expansion: buckets of 2..max_bucket members expanded to distinct
    (id_a < id_b) pairs. Yields CTEs ending in ``pairs``; embed inside
    WITH [RECURSIVE]."""
    return f"""{_minhash_band_ctes(k)},
        ok AS (SELECT band_no, bkey FROM bands GROUP BY 1, 2
               HAVING COUNT(*) > 1 AND COUNT(*) <= {max_bucket}),
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM bands a JOIN bands b USING (band_no, bkey)
                  JOIN ok USING (band_no, bkey)
                  WHERE a.doc_id < b.doc_id)"""


def _lsh_bucket_ctes(seed: int = 42, dim: int = 64) -> str:
    """DuckDB CTEs rebuilding operators/similarity.py's md5-derived
    sign-LSH buckets exactly: each hyperplane component is the first 4
    md5 bytes of tag 'lsh-{seed}-{i}-{j}' scaled by 2^-31 (an exact
    dyadic rational, bit-identical in both engines); a vector's bit i
    is the 9dp-rounded sign of its dot product with plane i (the
    ivf_assign determinism contract). Expects a prior CTE ``params``
    with the code length ``h``; yields CTEs ending in ``buckets``
    (vec_id, v DOUBLE[], bucket BIGINT)."""
    return f"""
        planes AS (
          SELECT i, list(('0x' || substr(md5('lsh-{seed}-' || i || '-' || j), 1, 8))::UBIGINT::BIGINT
                         / 2147483648.0 - 1.0 ORDER BY j) AS p
          FROM params, (SELECT unnest(range(24)) AS i), (SELECT unnest(range({dim})) AS j)
          WHERE i < h GROUP BY i),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        buckets AS (
          SELECT e.vec_id, any_value(e.v) AS v,
                 CAST(SUM(CASE WHEN ROUND(list_dot_product(e.v, pl.p), 9) >= 0
                          THEN (1::BIGINT << pl.i) ELSE 0 END) AS BIGINT) AS bucket
          FROM ev e CROSS JOIN planes pl GROUP BY e.vec_id)"""


def _kmeans_ctes(k: int, iters: int) -> str:
    """DuckDB CTE chain replaying operators/similarity.py:kmeans_assign
    exactly — modulo-step init, then per iteration a 9dp-rounded
    cosine-argmax assignment (lowest index ties) and a per-dimension
    mean recompute with empty clusters carrying the previous centroid
    (the pagerank-oracle unrolling pattern). Yields CTEs ending in the
    final assignment ``a{iters}`` (vec_id, ci)."""
    parts = [
        f"""
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        stepk AS (SELECT GREATEST(1, COUNT(*) // {k}) AS s FROM ev),
        c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci, v AS c
               FROM ev, stepk WHERE vec_id % s = 0 ORDER BY vec_id LIMIT {k})"""
    ]
    for i in range(iters + 1):
        parts.append(
            f"""
        a{i} AS (SELECT e.vec_id, e.v,
                  (SELECT c2.ci FROM c{i} c2
                   ORDER BY ROUND(list_cosine_similarity(e.v, c2.c), 9) DESC,
                            c2.ci ASC LIMIT 1) AS ci
                 FROM ev e)"""
        )
        if i < iters:
            parts.append(
                f"""
        m{i + 1} AS (SELECT ci, CAST(unnest(range(len(v))) AS BIGINT) AS p,
                            unnest(v) AS val
                     FROM a{i}),
        g{i + 1} AS (SELECT ci, p, AVG(val) AS m FROM m{i + 1} GROUP BY ci, p),
        c{i + 1} AS (SELECT c{i}.ci,
                            COALESCE((SELECT list(g.m ORDER BY g.p)
                                      FROM g{i + 1} g WHERE g.ci = c{i}.ci),
                                     c{i}.c) AS c
                     FROM c{i})"""
            )
    return ",".join(parts)


def _simhash_fp_ctes() -> str:
    """DuckDB CTE chain replaying operators/dedup.py's md5-portable
    SimHash exactly: per token OCCURRENCE, two independent 32-bit
    hashes from md5 hex windows 1-8 / 9-16; ±1 votes per bit; sign of
    the tally becomes the bit (ties → 0). Every value is a
    non-negative BIGINT < 2^32, so shifts and bit tests are
    sign-unambiguous in both engines. Yields CTEs ending in ``fp``
    (doc_id, hi, lo)."""
    return f"""
        toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        th AS (SELECT doc_id,
                 ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h_hi,
                 ('0x' || substr(md5(tok), 9, 8))::UBIGINT::BIGINT AS h_lo
               FROM toks),
        votes AS (SELECT doc_id, i,
                 SUM(CASE WHEN (h_hi >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v_hi,
                 SUM(CASE WHEN (h_lo >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v_lo
               FROM th CROSS JOIN (SELECT unnest(range(32)) AS i) GROUP BY 1, 2),
        fp AS (SELECT doc_id,
                 CAST(SUM(CASE WHEN v_hi > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS hi,
                 CAST(SUM(CASE WHEN v_lo > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS lo
               FROM votes GROUP BY 1)"""


def oracle_sql() -> dict[str, str]:
    sql = {
        "scan_csv": """
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(o_custkey AS BIGINT) AS o_custkey,
                   o_orderstatus,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice,
                   CAST(o_orderdate AS DATE) AS o_orderdate
            FROM orders
        """,
        "join_agencies": """
            SELECT s_suppkey, s_name, n.n_name AS Agency
            FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
        """,
        "join_ttypes": """
            SELECT l_orderkey, l_linenumber,
                   COALESCE(p.p_brand, 'CHANGE') AS TType
            FROM lineitem l LEFT JOIN (SELECT * FROM part WHERE p_partkey % 2 = 0) p
              ON l.l_partkey = p.p_partkey
        """,
        "sort_asc": """
            SELECT o_orderkey, o_orderdate FROM orders
            ORDER BY o_orderdate ASC, o_orderkey ASC
        """,
        "sort_desc": """
            SELECT o_orderkey, o_orderdate FROM orders
            ORDER BY o_orderdate DESC, o_orderkey DESC
        """,
        "fn_coalesce": """
            SELECT c_custkey, COALESCE(n.n_name, 'NA_OR_OUT') AS geo
            FROM customer c LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 20) n
              ON c.c_nationkey = n.n_nationkey
        """,
        "fn_case_eq": """
            SELECT o_orderkey,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS Renewed
            FROM orders
        """,
        "fn_alias": """
            SELECT c_custkey AS CustId, c_name AS Agency, c_mktsegment AS CHANNEL
            FROM customer
        """,
        "fn_isnotnull": """
            SELECT o_orderkey, p FROM (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderpriority END AS p
              FROM orders) WHERE p IS NOT NULL
        """,
        "fn_date_cmp": """
            SELECT o_orderkey, o_orderdate FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        """,
        "fn_date_lt_param": """
            SELECT o_orderkey, o_orderdate FROM orders
            WHERE o_orderdate < TIMESTAMP '1996-06-15'
        """,
        "fn_select_star": """
            SELECT n_nationkey, n_name, n_regionkey,
                   n_nationkey + 100 AS shifted,
                   n_name || '_X' AS tagged
            FROM nation
        """,
        "project_prune": "SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem",
        "fn_strip_excel": """
            SELECT c_custkey, trim('="' || c_name || '"', '"=') AS cleaned FROM customer
        """,
        "filter_notnull_date": """
            SELECT o_orderkey, d FROM (
              SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderdate END AS d
              FROM orders) WHERE d IS NOT NULL
        """,
        "cast_date_coerce": """
            SELECT o_orderkey,
                   TRY_CAST(CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-date'
                                 ELSE strftime(o_orderdate, '%Y-%m-%d') END AS DATE) AS d
            FROM orders
        """,
        "null_normalize": """
            SELECT c_custkey,
                   NULLIF(CASE WHEN c_custkey % 3 = 0 THEN '' ELSE c_mktsegment END, '') AS segment
            FROM customer
        """,
        "cast_schema": """
            SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
                   CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   CAST(l_quantity AS DOUBLE) AS l_quantity,
                   CAST(l_shipdate AS DATE) AS ship_date,
                   CAST(l_returnflag AS VARCHAR) AS l_returnflag
            FROM lineitem
        """,
        "with_literal": "SELECT s_suppkey, 'prime' AS SOURCE FROM supplier",
        "align_union": """
            SELECT o_orderkey, o_totalprice, 'prime' AS SOURCE, NULL AS o_orderpriority
            FROM orders WHERE o_orderstatus = 'F'
            UNION ALL
            SELECT o_orderkey, NULL AS o_totalprice, 'plus' AS SOURCE, o_orderpriority
            FROM orders WHERE o_orderstatus = 'O'
        """,
        "join_dim_miss": """
            SELECT c_custkey, COALESCE(n.n_name, 'NO_NATION') AS nation_name
            FROM customer c LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 20) n
              ON c.c_nationkey = n.n_nationkey
        """,
        "join_channels": """
            SELECT o_orderkey, c.c_mktsegment AS segment, c.c_name AS customer_name
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "join_null_safe": """
            WITH l AS (
              SELECT o_orderkey,
                     CASE WHEN o_orderkey % 50 = 0 THEN NULL ELSE o_orderpriority END AS pk
              FROM orders),
            d AS (
              SELECT * FROM (VALUES ('1-URGENT', 'urgent'), ('5-LOW', 'low'),
                                    (NULL, 'missing')) AS t(pk2, label))
            SELECT l.o_orderkey, l.pk, d.label
            FROM l LEFT JOIN d ON l.pk IS NOT DISTINCT FROM d.pk2
        """,
        "join_fact_fact": """
            SELECT l_orderkey, l_linenumber, l_extendedprice, o.o_orderdate, o.o_orderstatus
            FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        """,
        "colocated_join": """
            SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        """,
        "agg_min_scalar": "SELECT MIN(o_orderdate) AS mindate FROM orders",
        "agg_min_windowed": """
            SELECT o_orderkey, o_custkey,
                   MIN(o_orderkey) OVER (PARTITION BY o_custkey) AS min_orderkey
            FROM orders
        """,
        "win_row_number": """
            SELECT event_id, ROW_NUMBER() OVER (ORDER BY event_id ASC) AS rn FROM events
        """,
        "derive_is_new": """
            SELECT o_orderkey, o_custkey,
                   CASE WHEN ROW_NUMBER() OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate ASC, o_orderkey ASC) = 1
                        THEN 'N' ELSE 'E' END AS IsNew
            FROM orders
        """,
        "grouped_agg": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 6) AS avg_qty,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "limit_topk": """
            SELECT o_orderkey, o_orderdate, o_totalprice
            FROM orders ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 10
        """,
        "fn_expressions": """
            SELECT o_orderkey,
                   COALESCE(CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderpriority END,
                            'NONE') AS priority,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS Fulfilled,
                   CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS Open,
                   CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS Pending
            FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        """,
        "merge_time_window": f"""
            WITH newb AS (
              SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity + 100 AS l_quantity
              FROM lineitem WHERE l_shipdate >= TIMESTAMP '{_MERGE_CUT}'
            )
            SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM lineitem
            WHERE l_shipdate < (SELECT MIN(l_shipdate) FROM newb)
            UNION ALL
            SELECT l_orderkey, l_linenumber, l_shipdate, l_quantity FROM newb
        """,
        "view_retention": """
            SELECT o_orderkey, o_orderdate, o_totalprice,
                   c.c_name AS customer_name,
                   COALESCE(n.n_name, 'NO_NATION') AS nation_name,
                   COALESCE(r.r_name, 'NO_REGION') AS region_name,
                   CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS Fulfilled,
                   CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS Open,
                   CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END AS Pending
            FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 20) n
              ON c.c_nationkey = n.n_nationkey
            LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE c.c_name IS NOT NULL
            ORDER BY o_orderdate ASC
        """,
        "view_transactions": """
            SELECT o_orderkey, o_custkey, o_orderdate,
                   COALESCE(c.c_mktsegment, 'NO_SEGMENT') AS segment,
                   CASE WHEN ROW_NUMBER() OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate ASC, o_orderkey ASC) = 1
                        THEN 'N' ELSE 'E' END AS IsNew
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        """,
        "view_auto_optiom": """
            WITH tx AS (
              SELECT o_orderkey, o_custkey, o_orderdate,
                     COALESCE(c.c_mktsegment, 'NO_SEGMENT') AS segment,
                     CASE WHEN ROW_NUMBER() OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate ASC, o_orderkey ASC) = 1
                          THEN 'N' ELSE 'E' END AS IsNew
              FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            ),
            rev AS (
              SELECT l_orderkey AS ok,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
              FROM lineitem GROUP BY l_orderkey
            )
            SELECT o_orderkey, o_custkey, o_orderdate, segment, IsNew, rev.revenue
            FROM tx LEFT JOIN rev ON tx.o_orderkey = rev.ok
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            ORDER BY o_orderdate DESC
        """,
        "profile_columns": """
            SELECT COUNT(*) AS n_rows,
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS null_custkey,
                   CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS null_priority,
                   COUNT(DISTINCT o_custkey) AS distinct_custkey,
                   COUNT(DISTINCT o_orderstatus) AS distinct_status,
                   ROUND(MIN(o_totalprice), 2) AS min_price,
                   ROUND(MAX(o_totalprice), 2) AS max_price,
                   MIN(o_orderdate) AS min_date,
                   MAX(o_orderdate) AS max_date
            FROM orders
        """,
        "array_functions": f"""
            WITH s AS (SELECT doc_id, {_TOKS} AS t FROM documents)
            SELECT doc_id,
                   t[1] AS first_tok,
                   t[-1] AS last_tok,
                   CAST(len(t) AS BIGINT) AS n,
                   CAST(list_contains(t, 'the') AS INT) AS has_the,
                   array_to_string(t[1:3], ' ') AS first3
            FROM s
        """,
        "string_functions": """
            SELECT c_custkey,
                   upper(c_name) AS up,
                   lower(c_mktsegment) AS lo,
                   substring(c_name, 10, 5) AS sub,
                   c_mktsegment || '|' || c_name AS cat,
                   regexp_replace(c_name, '0', '#', 'g') AS repl,
                   lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
                   CAST(length(c_name) AS BIGINT) AS len
            FROM customer
        """,
        "date_functions": """
            SELECT o_orderkey,
                   CAST(year(o_orderdate) AS BIGINT) AS y,
                   CAST(month(o_orderdate) AS BIGINT) AS m,
                   CAST(day(o_orderdate) AS BIGINT) AS dom,
                   CAST(quarter(o_orderdate) AS BIGINT) AS q,
                   date_trunc('month', o_orderdate) AS month_start,
                   CAST(o_orderdate AS DATE) + 30 AS plus30,
                   CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS BIGINT)
                     AS days_to_99
            FROM orders
        """,
        "conditional_functions": """
            SELECT l_orderkey, l_linenumber,
                   greatest(l_quantity, l_discount) AS g,
                   least(l_tax, l_discount) AS l,
                   nullif(l_returnflag, 'N') AS flag_or_null,
                   COALESCE(nullif(l_returnflag, 'N'), 'NONE') AS flag_default
            FROM lineitem
        """,
        "explode_ordinality": """
            SELECT vec_id,
                   CAST(unnest(range(1, len(embedding) + 1)) AS BIGINT) AS pos,
                   ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS val
            FROM embeddings WHERE vec_id < 50
        """,
        "cross_join": """
            SELECT a.r_regionkey AS a, b.r_regionkey AS b
            FROM region a CROSS JOIN region b
        """,
        "grouped_map_zscore": """
            WITH s AS (
              SELECT user_id, event_id, value,
                     AVG(value) OVER (PARTITION BY user_id) AS mu,
                     stddev_pop(value) OVER (PARTITION BY user_id) AS sd
              FROM events)
            SELECT user_id, event_id,
                   ROUND(CASE WHEN sd > 0 THEN (value - mu) / sd ELSE 0.0 END, 4) AS zscore
            FROM s
        """,
        "dedup_exact": f"""
            SELECT md5({_NORM}) AS fingerprint,
                   MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
            FROM documents GROUP BY 1
        """,
        "dedup_cluster_stats": f"""
            WITH cl AS (SELECT md5({_NORM}) AS f, COUNT(*) AS cluster_size
                        FROM documents GROUP BY 1)
            SELECT cluster_size, COUNT(*) AS n_clusters,
                   CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
            FROM cl GROUP BY 1
        """,
        "dedup_ngram_jaccard": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3
                          THEN array_distinct(list_transform(range(1, len(t) - 1),
                               i -> array_to_string(t[i:i+2], ' ')))
                          ELSE [array_to_string(t, ' ')] END AS shs
              FROM toks),
            ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   ROUND(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
        """,
        # Same CTE chain as dedup_ngram_jaccard, asymmetric ratios:
        # |A∩B|/|A| and |A∩B|/|B|, kept when either clears 0.8
        # (operators/dedup.py:ngram_containment_pairs).
        "dedup_containment": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) >= 3
                          THEN array_distinct(list_transform(range(1, len(t) - 1),
                               i -> array_to_string(t[i:i+2], ' ')))
                          ELSE [array_to_string(t, ' ')] END AS shs
              FROM toks),
            ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY 1),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
                   ROUND(i * 1.0 / sa.sz, 6) AS cont_a_in_b,
                   ROUND(i * 1.0 / sb.sz, 6) AS cont_b_in_a
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE GREATEST(i * 1.0 / sa.sz, i * 1.0 / sb.sz) >= 0.8
        """,
        "knn_cosine": """
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
            FROM embeddings
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        # Replays knn_ivf exactly: modulo-step centroid pick ordered by
        # id, 9dp-rounded nearest-centroid argmax with lowest-index
        # ties (both engines), top-4 probe clusters, cosine top-10 on
        # the probed subset (operators/similarity.py:ivf_assign/knn_ivf).
        "knn_ivf": """
            WITH step AS (
              SELECT GREATEST(1, COUNT(*) // 16) AS s FROM embeddings),
            cents AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS c,
                     ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
              FROM embeddings, step WHERE vec_id % s = 0
              ORDER BY vec_id LIMIT 16),
            q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            probes AS (
              SELECT ci FROM cents, q
              ORDER BY ROUND(list_cosine_similarity(c, qv), 9) DESC, ci ASC
              LIMIT 4),
            assigned AS (
              SELECT e.vec_id, e.embedding,
                     (SELECT c2.ci FROM cents c2
                      ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c2.c), 9) DESC,
                               c2.ci ASC LIMIT 1) AS cluster
              FROM embeddings e)
            SELECT vec_id,
                   ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT qv FROM q)), 6) AS cos
            FROM assigned
            WHERE cluster IN (SELECT ci FROM probes)
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        # Bit-exact replay of the md5-portable MinHash banding
        # (operators/dedup.py:minhash_lsh_candidates, k=3 shingles).
        "dedup_minhash_lsh": f"""
            WITH {_minhash_pairs_ctes(k=3)}
            SELECT id_a, id_b FROM pairs
        """,
        # Replays q_dedup_pr_eval: LSH candidate pairs (same CTE chain
        # as dedup_minhash_lsh) scored against the exact Jaccard ≥ 0.5
        # gold set. `ex` from the minhash CTEs IS the exploded distinct
        # k=3 shingle set, so the gold side reuses it directly —
        # identical shingles feed both the bands and the exact verify.
        "dedup_pr_eval": f"""
            WITH {_minhash_pairs_ctes(k=3)},
            sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY 1),
            inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
                      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
                      GROUP BY 1, 2),
            gold AS (SELECT id_a, id_b FROM inter
                     JOIN sizes sa ON sa.doc_id = id_a
                     JOIN sizes sb ON sb.doc_id = id_b
                     WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5),
            m AS (SELECT (SELECT COUNT(*) FROM pairs) AS n_candidates,
                         (SELECT COUNT(*) FROM gold) AS n_gold,
                         (SELECT COUNT(*) FROM pairs JOIN gold USING (id_a, id_b)) AS n_hits),
            pr AS (SELECT *,
                     CASE WHEN n_candidates = 0 THEN 0.0
                          ELSE n_hits * 1.0 / n_candidates END AS p,
                     CASE WHEN n_gold = 0 THEN 0.0
                          ELSE n_hits * 1.0 / n_gold END AS r
                   FROM m)
            SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
                   CAST(n_gold AS BIGINT) AS n_gold,
                   CAST(n_hits AS BIGINT) AS n_hits,
                   ROUND(p, 6) AS prec, ROUND(r, 6) AS rec,
                   ROUND(CASE WHEN p + r = 0 THEN 0.0
                              ELSE 2.0 * p * r / (p + r) END, 6) AS f1
            FROM pr
        """,
        # Full pipeline: same pairs (k=5 default) closed transitively
        # by a recursive min-label CTE; survivors = ids that are their
        # component's minimum (dedup.py:near_dedup_keep_canonical).
        "dedup_pipeline": f"""
            WITH RECURSIVE {_minhash_pairs_ctes(k=5)},
            sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
            lbl AS (
              SELECT DISTINCT src AS node, src AS label FROM sym
              UNION
              SELECT s.dst AS node, l.label FROM lbl l JOIN sym s ON s.src = l.node),
            comp AS (SELECT node, MIN(label) AS component FROM lbl GROUP BY node)
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
        """,
        # Bit-exact replay of the md5-portable SimHash halves
        # (operators/dedup.py:simhash; graduated from rows-only in r4).
        "dedup_simhash": f"""
            WITH {_simhash_fp_ctes()}
            SELECT doc_id, hi AS simhash_hi, lo AS simhash_lo FROM fp
        """,
        # Pigeonhole banding over the same fingerprints: nine 7-bit
        # chunks of hi<<32|lo (chunk 4 spans the half boundary), the
        # 2..2000 bucket cap, distinct id_a<id_b pairs, exact Hamming
        # ≤ 8 via the two halves' bit_counts — replaying
        # operators/dedup.py:simhash_near_dup_candidates exactly.
        "dedup_simhash_pairs": f"""
            WITH {_simhash_fp_ctes()},
            banded AS (SELECT doc_id, hi, lo, i AS chunk_no,
                         CASE WHEN i <= 3 THEN (lo >> (7*i)) & 127
                              WHEN i = 4 THEN ((lo >> 28) | ((hi & 7) << 4)) & 127
                              ELSE (hi >> (7*i - 32)) & 127 END AS chunk_val
                       FROM fp CROSS JOIN (SELECT unnest(range(9)) AS i)),
            ok AS (SELECT chunk_no, chunk_val FROM banded GROUP BY 1, 2
                   HAVING COUNT(*) > 1 AND COUNT(*) <= 2000),
            cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.hi AS hia, a.lo AS loa, b.hi AS hib, b.lo AS lob
                     FROM banded a JOIN banded b USING (chunk_no, chunk_val)
                     JOIN ok USING (chunk_no, chunk_val)
                     WHERE a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   CAST(bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) AS INT) AS hamming
            FROM cand
            WHERE bit_count(xor(hia, hib)) + bit_count(xor(loa, lob)) <= 8
        """,
        "text_stats": f"""
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   ROUND(len(list_filter(list_transform({_TOKS},
                         x -> regexp_replace(x, '[^a-z]', '', 'g')),
                         x -> x IN {_STOPWORDS_SQL})) * 1.0 / len({_TOKS}), 6) AS stop_ratio,
                   md5({_NORM}) AS fingerprint
            FROM documents
        """,
        "lang_id": f"""
            SELECT doc_id,
                   CASE WHEN len(list_filter(list_transform({_TOKS},
                        x -> regexp_replace(x, '[^a-z]', '', 'g')),
                        x -> x IN {_STOPWORDS_SQL})) * 1.0 / len({_TOKS}) >= 0.08
                        THEN 'en' ELSE 'unknown' END AS lang_pred
            FROM documents
        """,
        # Replays q_lang_id_multi: the %7 de/fr sample injection, the
        # per-language cleaned-token stopword ratios, then the strict->
        # argmax fold in sorted language order (de, en, fr) with the
        # 0.08 DOUBLE threshold seed — ties keep the earlier language.
        "lang_id_multi": f"""
            WITH dirty AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 1 THEN '{_DE_SAMPLE}'
                          WHEN doc_id % 7 = 2 THEN '{_FR_SAMPLE}'
                          ELSE text END AS s
              FROM documents),
            tok AS (
              SELECT doc_id,
                     list_transform(
                       string_split(trim(regexp_replace(lower(s), '\\s+', ' ', 'g')), ' '),
                       x -> regexp_replace(x, '[^a-zà-ÿ]', '', 'g')) AS ct,
                     len(string_split(trim(regexp_replace(lower(s), '\\s+', ' ', 'g')), ' ')) AS n
              FROM dirty),
            sc AS (
              SELECT doc_id,
                     len(list_filter(ct, x -> x IN {_lang_sql("de")})) * 1.0 / n AS s_de,
                     len(list_filter(ct, x -> x IN {_lang_sql("en")})) * 1.0 / n AS s_en,
                     len(list_filter(ct, x -> x IN {_lang_sql("fr")})) * 1.0 / n AS s_fr
              FROM tok),
            f1 AS (SELECT *,
                     CASE WHEN s_de > 0.08::DOUBLE THEN 'de' ELSE 'unknown' END AS p1,
                     GREATEST(s_de, 0.08::DOUBLE) AS b1
                   FROM sc),
            f2 AS (SELECT *,
                     CASE WHEN s_en > b1 THEN 'en' ELSE p1 END AS p2,
                     GREATEST(s_en, b1) AS b2
                   FROM f1)
            SELECT doc_id,
                   ROUND(s_de, 6) AS score_de,
                   ROUND(s_en, 6) AS score_en,
                   ROUND(s_fr, 6) AS score_fr,
                   CASE WHEN s_fr > b2 THEN 'fr' ELSE p2 END AS lang_pred
            FROM f2
        """,
        "quality_score": f"""
            WITH base AS (
              SELECT doc_id,
                     len({_TOKS}) AS n_tokens,
                     len(list_filter(list_transform({_TOKS},
                         x -> regexp_replace(x, '[^a-z]', '', 'g')),
                         x -> x IN {_STOPWORDS_SQL})) AS n_stop,
                     length(text) AS n_chars_all,
                     length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nonpunct
              FROM documents)
            SELECT doc_id,
                   ROUND(0.4 * LEAST(n_tokens / 200.0, 1.0)
                       + 0.4 * LEAST((n_stop * 1.0 / n_tokens) / 0.2, 1.0)
                       + 0.2 * (1.0 - (n_chars_all - n_nonpunct) * 1.0 / n_chars_all), 6) AS quality
            FROM base
        """,
        "pii_redact": f"""
            WITH dirty AS (
              SELECT doc_id,
                     substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or +1 (415) 555-01'
                     || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                     || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.7 ssn 123-45-6789 end' AS s
              FROM documents)
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(s,
                       '{EMAIL_RE}', '<EMAIL>', 'g'),
                       '{IPV4_RE}', '<IP>', 'g'),
                       '{SSN_RE}', '<SSN>', 'g'),
                       '{PHONE_RE}', '<PHONE>', 'g') AS clean
            FROM dirty
        """,
        "pii_counts": f"""
            WITH dirty AS (
              SELECT doc_id,
                     substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com ssn 123-45-6789 end' AS s
              FROM documents),
            s1 AS (SELECT doc_id,
                          len(regexp_extract_all(s, '{EMAIL_RE}')) AS emails,
                          regexp_replace(s, '{EMAIL_RE}', '<EMAIL>', 'g') AS s FROM dirty),
            s2 AS (SELECT doc_id, emails,
                          len(regexp_extract_all(s, '{IPV4_RE}')) AS ips,
                          regexp_replace(s, '{IPV4_RE}', '<IP>', 'g') AS s FROM s1),
            s3 AS (SELECT doc_id, emails, ips,
                          len(regexp_extract_all(s, '{SSN_RE}')) AS ssns,
                          regexp_replace(s, '{SSN_RE}', '<SSN>', 'g') AS s FROM s2)
            SELECT doc_id, emails, ips, ssns,
                   len(regexp_extract_all(s, '{PHONE_RE}')) AS phones
            FROM s3
        """,
        "repetition_stats": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            grams AS (
              SELECT doc_id, unnest(CASE WHEN len(t) >= 2
                  THEN list_transform(range(1, len(t)),
                       i -> array_to_string(t[i:i+1], ' '))
                  ELSE [array_to_string(t, ' ')] END) AS gram
              FROM toks),
            counts AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM grams GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n_grams,
                   COUNT(*) AS n_distinct_grams,
                   ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_gram_frac,
                   ROUND(CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS dup_gram_frac
            FROM counts GROUP BY doc_id
        """,
        # Replays q_gopher_filter exactly: the three deterministic
        # defect injections (%11 truncate, %5 symbol soup, %13 long
        # token), then functions/text.py:gopher_rules over the
        # normalized text — mean length arithmetically from
        # length(norm), alpha/symbol ratios as integer-ratio double
        # divisions, pass verdict on the UNROUNDED doubles.
        "gopher_filter": f"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0
                          THEN array_to_string(({_TOKS})[1:3], ' ')
                          ELSE text END AS s
              FROM documents),
            d1 AS (SELECT doc_id,
                          CASE WHEN doc_id % 5 = 0 THEN s || ' ## 12 34 ### 56 78 #' ELSE s END AS s
                   FROM base),
            dirty AS (SELECT doc_id,
                             CASE WHEN doc_id % 13 = 0 THEN s || ' ' || repeat('x', 400) ELSE s END AS s
                      FROM d1),
            tok AS (SELECT doc_id,
                           trim(regexp_replace(lower(s), '\\s+', ' ', 'g')) AS norm,
                           string_split(trim(regexp_replace(lower(s), '\\s+', ' ', 'g')), ' ') AS t
                    FROM dirty),
            m AS (
              SELECT doc_id,
                     CASE WHEN norm = '' THEN 0 ELSE len(t) END AS n_words,
                     CASE WHEN norm = '' THEN 0.0
                          ELSE (length(norm) - len(t) + 1) * 1.0 / len(t) END AS mean_word_len,
                     CASE WHEN norm = '' THEN 0.0
                          ELSE len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(t) END AS alpha_ratio,
                     CASE WHEN norm = '' THEN 0.0
                          ELSE (length(norm) - length(replace(norm, '#', ''))
                                + len(regexp_extract_all(norm, '\\.\\.\\.'))) * 1.0 / len(t) END AS symbol_ratio,
                     len(list_filter(list_transform(t, x -> regexp_replace(x, '[^a-z]', '', 'g')),
                         x -> x IN {_STOPWORDS_SQL})) AS n_stopwords
              FROM tok)
            SELECT doc_id,
                   CAST(n_words AS BIGINT) AS n_words,
                   ROUND(mean_word_len, 6) AS mean_word_len,
                   ROUND(alpha_ratio, 6) AS alpha_ratio,
                   ROUND(symbol_ratio, 6) AS symbol_ratio,
                   CAST(n_stopwords AS BIGINT) AS n_stopwords,
                   CAST(n_words >= 20 AND n_words <= 100000
                        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        AND symbol_ratio < 0.1 AND alpha_ratio >= 0.8
                        AND n_stopwords >= 2 AS INT) AS passes
            FROM m
        """,
        # Replays operators/quality.py:curate_corpus: lang_id (stopword
        # ratio >= 0.08) AND gopher pass (min_words=20) filters, then
        # exact dedup keeping the min doc_id per md5(norm) fingerprint.
        "curation_pipeline": f"""
            WITH tok AS (SELECT doc_id, {_NORM} AS norm, {_TOKS} AS t FROM documents),
            m AS (
              SELECT doc_id, norm,
                     CASE WHEN norm = '' THEN 0 ELSE len(t) END AS n_words,
                     CASE WHEN norm = '' THEN 0.0
                          ELSE (length(norm) - len(t) + 1) * 1.0 / len(t) END AS mean_word_len,
                     CASE WHEN norm = '' THEN 0.0
                          ELSE len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) * 1.0 / len(t) END AS alpha_ratio,
                     CASE WHEN norm = '' THEN 0.0
                          ELSE (length(norm) - length(replace(norm, '#', ''))
                                + len(regexp_extract_all(norm, '\\.\\.\\.'))) * 1.0 / len(t) END AS symbol_ratio,
                     len(list_filter(list_transform(t, x -> regexp_replace(x, '[^a-z]', '', 'g')),
                         x -> x IN {_STOPWORDS_SQL})) AS n_stop
              FROM tok),
            kept AS (
              SELECT doc_id, md5(norm) AS fingerprint, n_words, mean_word_len, alpha_ratio, n_stop
              FROM m
              WHERE (CASE WHEN n_words = 0 THEN 0.0 ELSE n_stop * 1.0 / n_words END) >= 0.08
                AND n_words >= 20 AND n_words <= 100000
                AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio < 0.1 AND alpha_ratio >= 0.8 AND n_stop >= 2),
            w AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM kept GROUP BY 1)
            SELECT k.doc_id, k.fingerprint,
                   CAST(k.n_words AS BIGINT) AS n_words,
                   ROUND(k.mean_word_len, 6) AS mean_word_len,
                   ROUND(k.alpha_ratio, 6) AS alpha_ratio,
                   CAST(k.n_stop AS BIGINT) AS n_stopwords
            FROM kept k JOIN w USING (fingerprint, doc_id)
        """,
        "decontaminate": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            g AS (
              SELECT doc_id, unnest(CASE WHEN len(t) >= 7
                  THEN array_distinct(list_transform(range(1, len(t) - 5),
                       i -> array_to_string(t[i:i+6], ' ')))
                  ELSE [array_to_string(t, ' ')] END) AS gram
              FROM toks),
            bad AS (
              SELECT DISTINCT doc_id FROM g
              WHERE doc_id % 97 <> 0
                AND gram IN (SELECT gram FROM g WHERE doc_id % 97 = 0))
            SELECT doc_id, n_chars FROM documents
            WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
        """,
        # Replays fuzzy_contaminated_ids exactly: portable-minhash band
        # keys over all documents, %97 split into eval index vs corpus,
        # EXISTS probe (quality.py:fuzzy_contaminated_ids).
        "fuzzy_decontaminate": f"""
            WITH {_minhash_band_ctes(k=5)}
            SELECT DISTINCT doc_id FROM bands b
            WHERE doc_id % 97 <> 0
              AND EXISTS (SELECT 1 FROM bands e
                          WHERE e.doc_id % 97 = 0
                            AND e.band_no = b.band_no AND e.bkey = b.bkey)
        """,
        "events_tumbling": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        # Replays multi_grain_rollup: the rollup is algebraic
        # (count/sum), so re-aggregating hourly partials equals direct
        # grouping off raw at each grain; 4dp rounding at the edge only.
        "time_rollup": """
            SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket,
                   COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total
            FROM events GROUP BY 2
            UNION ALL
            SELECT 'day', date_trunc('day', ts),
                   COUNT(*), ROUND(SUM(value), 4)
            FROM events GROUP BY 2
            UNION ALL
            SELECT 'month', date_trunc('month', ts),
                   COUNT(*), ROUND(SUM(value), 4)
            FROM events GROUP BY 2
        """,
        "agg_string_list": """
            SELECT o_custkey,
                   string_agg(CAST(o_orderkey AS VARCHAR), ','
                              ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys
            FROM orders WHERE o_custkey < 200 GROUP BY o_custkey
        """,
        "subquery_in": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        """,
        "subquery_scalar": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        """,
        "win_first_last": """
            SELECT o_orderkey, o_custkey,
                   first_value(o_orderkey) OVER w AS first_ok,
                   last_value(o_orderkey) OVER w AS last_ok,
                   nth_value(o_orderkey, 2) OVER w AS second_ok
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
        "pivot_status": """
            SELECT o_orderpriority,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders GROUP BY o_orderpriority
        """,
        "win_range_frame": """
            SELECT event_id, user_id,
                   COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                     AS events_last_hour
            FROM events
        """,
        "agg_percentile": """
            SELECT o_orderstatus,
                   ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
                   ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90_price
            FROM orders GROUP BY o_orderstatus
        """,
        # the deterministic half of the sketch gate: exact answers
        # hash-verified; the bounds flags are constants IFF the
        # engine's sketches honor their advertised error (pinned
        # also in tests/test_extensions.py::test_agg_approx_error_bounds)
        "agg_approx": """
            SELECT l_returnflag,
                   COUNT(DISTINCT l_partkey) AS exact_parts,
                   ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median_price,
                   CAST(1 AS INTEGER) AS hll_within_bounds,
                   CAST(1 AS INTEGER) AS tdigest_within_bounds
            FROM lineitem GROUP BY l_returnflag
        """,
        "agg_stats": """
            SELECT l_linestatus,
                   ROUND(stddev_samp(l_quantity), 6) AS sd_qty,
                   ROUND(var_samp(l_quantity), 6) AS var_qty,
                   ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
                   ROUND(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
            FROM lineitem GROUP BY l_linestatus
        """,
        "agg_distinct": """
            SELECT o_orderstatus,
                   COUNT(DISTINCT o_custkey) AS n_customers,
                   COUNT(*) AS n_orders,
                   ROUND(MAX(o_totalprice), 2) AS max_price,
                   ROUND(MIN(o_totalprice), 2) AS min_price
            FROM orders GROUP BY o_orderstatus
        """,
        "rollup_agg": """
            SELECT r_name, n_name, COUNT(*) AS n_customers,
                   ROUND(SUM(c_acctbal), 2) AS sum_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        "set_intersect": """
            SELECT c_nationkey AS nk FROM customer
            INTERSECT SELECT s_nationkey FROM supplier
        """,
        "set_except": """
            SELECT n_nationkey AS nk FROM nation
            EXCEPT SELECT s_nationkey FROM supplier
        """,
        "union_distinct": """
            SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
            UNION
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        """,
        "intersect_all": """
            SELECT l_orderkey AS k FROM lineitem WHERE l_linenumber <= 2
            INTERSECT ALL
            SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'N'
        """,
        "win_rank_lead_lag": """
            SELECT o_orderkey, o_custkey,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   NTILE(4) OVER w AS quartile,
                   ROUND(LAG(o_totalprice, 1) OVER w, 2) AS prev_price,
                   ROUND(LEAD(o_totalprice, 1) OVER w, 2) AS next_price
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        """,
        "win_frame_rows": """
            SELECT o_orderkey, o_custkey,
                   ROUND(SUM(o_totalprice) OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
            FROM orders
        """,
        "join_semi": """
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "join_anti": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "asof_join": """
            SELECT l.event_id, l.user_id, l.ts, r.view_ts,
                   ROUND(r.view_value, 2) AS view_value
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT user_id, ts, ts AS view_ts, value AS view_value
                            FROM events WHERE event_type = 'view') r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "sliding_window": """
            WITH e AS (
              SELECT ts, time_bucket(INTERVAL '30 minutes', ts) AS tb FROM events)
            SELECT ws AS window_start, COUNT(*) AS n_events
            FROM (SELECT unnest([tb, tb - INTERVAL '30 minutes']) AS ws FROM e)
            GROUP BY ws
        """,
        "events_json": """
            SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT) AS k,
                   COUNT(*) AS n
            FROM events GROUP BY 1
        """,
        "tpch_q3_topk": """
            SELECT l_orderkey, o_orderdate,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
        """,
        "scan_binaryfile": """
            SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 5, '0') || '.bin' AS fname,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   md5(text) AS content_md5
            FROM documents WHERE doc_id < 50
        """,
        "hybrid_search_rrf": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            stats AS (SELECT COUNT(*) AS N, AVG(len(t)) AS avgdl FROM toks),
            hits AS (
                SELECT doc_id, len(t) AS dl, term, COUNT(*) AS tf
                FROM (SELECT doc_id, t, unnest(t) AS term FROM toks)
                WHERE term IN ('spark', 'merge', 'window')
                GROUP BY doc_id, dl, term
            ),
            dfreq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term),
            bm AS (
                SELECT doc_id,
                       ROUND(SUM(ln((N - df + 0.5) / (df + 0.5) + 1.0)
                                 * tf * 2.2
                                 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
                FROM hits JOIN dfreq USING (term), stats
                GROUP BY doc_id
                ORDER BY bm25 DESC, doc_id ASC LIMIT 50
            ),
            bmr AS (
                SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
                FROM bm
            ),
            kn AS (
                SELECT vec_id AS doc_id,
                       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 6) AS cos
                FROM embeddings
                ORDER BY cos DESC, vec_id ASC LIMIT 50
            ),
            knr AS (
                SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC) AS r
                FROM kn
            )
            SELECT COALESCE(bmr.doc_id, knr.doc_id) AS doc_id,
                   ROUND(COALESCE(1.0 / (60 + bmr.r), 0) + COALESCE(1.0 / (60 + knr.r), 0), 6) AS rrf
            FROM bmr FULL OUTER JOIN knr ON bmr.doc_id = knr.doc_id
            ORDER BY rrf DESC, doc_id ASC LIMIT 10
        """,
        "hll_incremental": """
            SELECT CAST(ts AS DATE) AS day,
                   COUNT(DISTINCT user_id) AS exact_distinct,
                   1 AS within_2pct
            FROM events GROUP BY 1
        """,
        "fuzzy_join_blocked": """
            WITH b AS (
                SELECT c_custkey, c_name, substr(c_name, 1, 15) AS blk
                FROM customer
            )
            SELECT a.c_custkey AS id_a, b2.c_custkey AS id_b,
                   CAST(levenshtein(a.c_name, b2.c_name) AS BIGINT) AS dist
            FROM b a JOIN b b2
              ON a.blk = b2.blk AND a.c_custkey < b2.c_custkey
            WHERE levenshtein(a.c_name, b2.c_name) <= 1
        """,
        "winsorize": """
            WITH p AS (
                SELECT quantile_cont(o_totalprice, 0.01) AS lo,
                       quantile_cont(o_totalprice, 0.99) AS hi
                FROM orders
            )
            SELECT o_orderkey,
                   ROUND(LEAST(GREATEST(o_totalprice, lo), hi), 4) AS price_w
            FROM orders, p
        """,
        "resample_ohlc": """
            SELECT user_id, date_trunc('hour', ts) AS bucket,
                   ROUND(arg_min(value, ts), 6) AS open,
                   ROUND(MAX(value), 6) AS high,
                   ROUND(MIN(value), 6) AS low,
                   ROUND(arg_max(value, ts), 6) AS close,
                   COUNT(*) AS n_ticks
            FROM events
            GROUP BY user_id, date_trunc('hour', ts)
        """,
        "quantile_bins": """
            WITH binned AS (
                SELECT o_totalprice,
                       NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
                FROM orders
            )
            SELECT bin, COUNT(*) AS n,
                   ROUND(MIN(o_totalprice), 4) AS lo,
                   ROUND(MAX(o_totalprice), 4) AS hi
            FROM binned GROUP BY bin ORDER BY bin
        """,
        "tfidf_keywords": f"""
            WITH pairs AS (
                SELECT doc_id, unnest({_TOKS}) AS term FROM documents
            ),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY 1, 2),
            dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            n AS (SELECT COUNT(*) AS N FROM documents),
            scored AS (
                SELECT doc_id, term,
                       ROUND(tf * ln(N * 1.0 / df), 6) AS tfidf
                FROM tf JOIN dfreq USING (term), n
            ),
            ranked AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY tfidf DESC, term ASC) AS rank
                FROM scored
            )
            SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank
            FROM ranked WHERE rank <= 3
        """,
        "bm25_topk": f"""
            WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
            stats AS (SELECT COUNT(*) AS N, AVG(len(t)) AS avgdl FROM toks),
            hits AS (
                SELECT doc_id, len(t) AS dl, term, COUNT(*) AS tf
                FROM (SELECT doc_id, t, unnest(t) AS term FROM toks)
                WHERE term IN ('spark', 'merge', 'window')
                GROUP BY doc_id, dl, term
            ),
            dfreq AS (SELECT term, COUNT(*) AS df FROM hits GROUP BY term)
            SELECT doc_id,
                   ROUND(SUM(ln((N - df + 0.5) / (df + 0.5) + 1.0)
                             * tf * 2.2
                             / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
            FROM hits JOIN dfreq USING (term), stats
            GROUP BY doc_id
            ORDER BY bm25 DESC, doc_id ASC
            LIMIT 20
        """,
        "streaming_totals": """
            SELECT user_id, COUNT(*) AS n_events,
                   ROUND(SUM(value), 4) AS total_value
            FROM events GROUP BY user_id
        """,
        "heavy_hitters": f"""
            SELECT term, COUNT(*) AS freq
            FROM (SELECT unnest({_TOKS}) AS term FROM documents)
            GROUP BY term
            ORDER BY freq DESC, term ASC
            LIMIT 100
        """,
        "inverted_index": f"""
            WITH pairs AS (
                SELECT doc_id, unnest(array_distinct({_TOKS})) AS term
                FROM documents
            )
            SELECT term, COUNT(*) AS doc_freq,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings_csv
            FROM pairs GROUP BY term
        """,
        "sequence_pack": f"""
            WITH toks AS (
                SELECT doc_id, text, CAST(len({_TOKS}) AS BIGINT) AS n_tok
                FROM documents
            ),
            blocks AS (
                SELECT *, CAST(floor((SUM(n_tok) OVER (ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - 1) / 2048.0) AS BIGINT) AS block_id
                FROM toks
            )
            SELECT block_id, COUNT(*) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                   string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids_csv,
                   md5(string_agg(text, ' ' ORDER BY doc_id)) AS text_md5
            FROM blocks GROUP BY block_id
        """,
        "balanced_sample": """
            SELECT doc_id, lang FROM (
                SELECT doc_id, lang,
                       ROW_NUMBER() OVER (PARTITION BY lang
                           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                FROM documents
            ) WHERE rn <= 50
        """,
        "key_skew_profile": """
            SELECT user_id, COUNT(*) AS key_count,
                   ROUND(COUNT(*) / (SELECT COUNT(*) * 1.0 FROM events), 6) AS share
            FROM events
            GROUP BY user_id
            ORDER BY key_count DESC, user_id ASC
            LIMIT 20
        """,
        "merge_upsert": """
            WITH updates AS (
                SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
                       o_totalprice * 1.1 AS o_totalprice,
                       o_orderdate + INTERVAL 30 DAY AS o_orderdate,
                       o_orderpriority
                FROM orders WHERE o_orderkey % 7 = 0
            ),
            tagged AS (
                SELECT *, 0 AS src FROM orders
                UNION ALL
                SELECT *, 1 AS src FROM updates
            ),
            ranked AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                          ORDER BY o_orderdate DESC, src DESC) AS rn
                FROM tagged
            )
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM ranked WHERE rn = 1
        """,
        "scd2_merge": """
            WITH d AS (
                SELECT user_id, event_type, ts,
                       CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
                                 IS NOT DISTINCT FROM event_type
                            THEN 0 ELSE 1 END AS chg
                FROM events
            ),
            i AS (
                SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts) AS island
                FROM d
            ),
            g AS (
                SELECT user_id, island, event_type, MIN(ts) AS valid_from
                FROM i GROUP BY 1, 2, 3
            )
            SELECT user_id, event_type, valid_from,
                   LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
                   CAST(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS INT) AS is_current
            FROM g
        """,
        "paragraph_dedup": """
            WITH w AS (
                SELECT doc_id, string_split_regex(text, '\\s+') AS ws
                FROM documents
            ),
            seg_structs AS (
                SELECT doc_id, UNNEST(list_transform(
                         range(0, greatest(len(ws), 1), 20),
                         s -> struct_pack(pos := s,
                                          seg := array_to_string(ws[s + 1 : s + 20], ' ')))) AS u
                FROM w
            ),
            segs AS (
                SELECT doc_id, u.pos AS pos, u.seg AS seg
                FROM seg_structs WHERE u.seg <> ''
            ),
            ranked AS (
                SELECT doc_id, pos, seg,
                       ROW_NUMBER() OVER (PARTITION BY md5(seg)
                                          ORDER BY doc_id, pos) AS rn
                FROM segs
            )
            SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text
            FROM ranked WHERE rn = 1
            GROUP BY doc_id
        """,
        "tpch_q1_pricing": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   ROUND(AVG(l_extendedprice), 4) AS avg_price,
                   ROUND(AVG(l_discount), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2001-08-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "tpch_q6_forecast": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "tpch_q5_revenue": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
            GROUP BY n_name
        """,
        "multimodal_decode": """
            SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST((octet_length(encode(text)) % 640) + 1 AS BIGINT) AS fake_width,
                   CAST((octet_length(encode(text)) % 480) + 1 AS BIGINT) AS fake_height,
                   CAST(list_sum(list_transform(range(1, LEAST(64, length(text)) + 1),
                        i -> ascii(substring(text, CAST(i AS INTEGER), 1)))) AS BIGINT) AS checksum
            FROM documents
        """,
        "bpe_token_count": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT)
                     AS n_bpe_tokens
            FROM documents
        """,
        "embedding_near_dup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])) >= 0.3
        """,
        "events_session": """
            WITH g AS (
              SELECT user_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                          THEN 1 ELSE 0 END AS new_s
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
            s AS (
              SELECT user_id, ts,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                                      ROWS UNBOUNDED PRECEDING) AS session_no
              FROM g)
            SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id, session_no
        """,
        "cube_agg": """
            SELECT o_orderstatus, o_orderpriority,
                   GROUPING(o_orderstatus, o_orderpriority) AS gid,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 2) AS sum_price
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "grouping_sets_agg": """
            SELECT r_name, n_name, COUNT(*) AS n_customers,
                   ROUND(SUM(c_acctbal), 2) AS sum_acctbal
            FROM customer c
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """,
        "topk_per_group": """
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER w AS rn
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey ASC)
            QUALIFY rn <= 3
        """,
        "dedup_keep_first": """
            SELECT o_custkey, o_orderkey, o_orderdate
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate ASC, o_orderkey ASC)
            QUALIFY ROW_NUMBER() OVER w = 1
        """,
        "range_join_binned": """
            WITH iv AS (
              SELECT o_orderkey AS iv_id,
                     TIMESTAMP '2024-01-01'
                       + (o_orderkey % 720) * INTERVAL 1 HOUR AS lo,
                     TIMESTAMP '2024-01-01'
                       + (o_orderkey % 720 + o_orderkey % 13 + 1) * INTERVAL 1 HOUR AS hi
              FROM orders WHERE o_orderkey % 997 = 0)
            SELECT iv_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
            FROM iv JOIN events e ON e.ts >= iv.lo AND e.ts < iv.hi
            GROUP BY iv_id
        """,
        "histogram_numeric": """
            SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bin,
                   COUNT(*) AS n_orders,
                   ROUND(MIN(o_totalprice), 2) AS min_price,
                   ROUND(MAX(o_totalprice), 2) AS max_price
            FROM orders GROUP BY 1
        """,
        "date_spine_gapfill": """
            WITH spine AS (
              SELECT CAST(gs AS DATE) AS period
              FROM generate_series(DATE '1995-01-01', DATE '1996-12-01',
                                   INTERVAL 1 MONTH) t(gs)),
            st AS (SELECT DISTINCT o_orderstatus FROM orders),
            m AS (
              SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS period,
                     o_orderstatus, COUNT(*) AS n
              FROM orders GROUP BY 1, 2)
            SELECT s.period, st.o_orderstatus, COALESCE(m.n, 0) AS n_orders
            FROM spine s CROSS JOIN st
            LEFT JOIN m ON m.period = s.period AND m.o_orderstatus = st.o_orderstatus
        """,
        "tpch_q10_returns": """
            SELECT c_custkey, c_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   n_name
            FROM customer
            JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1993-10-01'
              AND o_orderdate < TIMESTAMP '1994-01-01'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC LIMIT 20
        """,
        "bool_bit_agg": """
            SELECT o_orderstatus,
                   CAST(bool_and(o_totalprice > 900.0) AS INT) AS all_above_900,
                   CAST(bool_or(o_orderpriority = '1-URGENT') AS INT) AS any_urgent,
                   bit_and(o_custkey) AS custkey_band,
                   bit_or(o_custkey) AS custkey_bor,
                   bit_xor(o_custkey) AS custkey_bxor
            FROM orders GROUP BY o_orderstatus
        """,
        "map_functions": """
            SELECT o_custkey,
                   NULLIF(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS n_f,
                   NULLIF(COUNT(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS n_o,
                   COUNT(DISTINCT o_orderstatus) AS n_statuses
            FROM orders GROUP BY o_custkey
        """,
        "regr_agg": """
            SELECT l_linestatus,
                   ROUND(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
                   ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
                   ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
                   regr_count(l_extendedprice, l_quantity) AS n
            FROM lineitem GROUP BY l_linestatus
        """,
        "win_percent_rank": """
            SELECT o_orderkey, o_orderstatus,
                   ROUND(percent_rank() OVER w, 6) AS pct_rank,
                   ROUND(cume_dist() OVER w, 6) AS cume
            FROM orders
            WINDOW w AS (PARTITION BY o_orderstatus
                         ORDER BY o_totalprice ASC, o_orderkey ASC)
        """,
        "skew_join_salted": """
            SELECT l_orderkey, l_linenumber, o_orderdate
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """,
        "scan_orc": """
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
            FROM orders
        """,
        # Replays the mergeSchema read: batch1 (even keys) never had
        # totalprice/status, batch2 (odd keys) never had custkey —
        # the merged scan surfaces each batch's missing columns as NULL.
        "scan_schema_drift": """
            SELECT o_orderkey, o_custkey,
                   CAST(NULL AS DOUBLE) AS o_totalprice,
                   CAST(NULL AS VARCHAR) AS o_orderstatus
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderkey, CAST(NULL AS BIGINT) AS o_custkey,
                   o_totalprice, o_orderstatus
            FROM orders WHERE o_orderkey % 2 = 1
        """,
        "scan_excel": """
            SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name,
                   CAST(NULL AS VARCHAR) AS n_regionkey, 'prime' AS SOURCE
            FROM nation WHERE n_nationkey < 13
            UNION ALL
            SELECT CAST(n_nationkey AS VARCHAR), n_name,
                   CAST(n_regionkey AS VARCHAR), 'plus'
            FROM nation WHERE n_nationkey >= 13
        """,
        "streaming_pipeline": """
            SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                   CAST(o_custkey AS BIGINT) AS o_custkey,
                   o_orderdate,
                   CAST(o_totalprice AS DOUBLE) AS o_totalprice
            FROM orders WHERE o_orderdate IS NOT NULL
        """,
        "train_test_split": """
            SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'test'
                        ELSE 'train' END AS split
            FROM documents
        """,
        "stratified_sample": """
            SELECT c_custkey, c_mktsegment FROM customer
            WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) <
                  CASE c_mktsegment WHEN 'BUILDING' THEN '40'
                                    WHEN 'AUTOMOBILE' THEN '1a'
                                    ELSE '0d' END
        """,
        "chunk_documents": """
            WITH t AS (
              SELECT doc_id,
                     string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
              FROM documents),
            e AS (
              SELECT doc_id, toks,
                     unnest(range(0, CAST(greatest(len(toks) - 10, 1) AS BIGINT), 40)) AS start
              FROM t)
            SELECT doc_id,
                   start // 40 AS chunk_no,
                   array_to_string(list_slice(toks, start + 1, start + 50), ' ') AS chunk_text,
                   CAST(len(list_slice(toks, start + 1, start + 50)) AS BIGINT) AS n_chunk_tokens
            FROM e
        """,
    }
    # DuckDB cannot slice BLOBs; the corpus is pure ASCII (verified:
    # octet_length(encode(text)) == length(text) for every row at every
    # sf), so char slices of the VARCHAR are byte-identical to the
    # engine's payload slices and md5(VARCHAR) hashes the same bytes.
    sql["frame_sample"] = """
        WITH f AS (
          SELECT doc_id, text,
                 unnest(range(0, CAST((length(text) + 1023) // 1024 AS BIGINT), 4))
                   AS frame_no
          FROM documents)
        SELECT doc_id, frame_no,
               CAST(length(substring(text, CAST(frame_no * 1024 + 1 AS BIGINT), 1024)) AS BIGINT)
                 AS n_bytes,
               md5(substring(text, CAST(frame_no * 1024 + 1 AS BIGINT), 1024)) AS frame_md5
        FROM f
    """
    sql["json_serialize"] = """
        SELECT event_id,
               to_json(struct_pack(event_type := event_type,
                                   user_id := user_id)) AS doc
        FROM events
    """
    sql["vector_norm"] = """
        SELECT vec_id,
               ROUND(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                  x -> x * x))), 4) AS norm,
               ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> x * x)), 4) AS self_dot
        FROM embeddings
    """
    sql["events_funnel"] = """
        WITH fv AS (
          SELECT user_id, MIN(ts) AS first_view
          FROM events WHERE event_type = 'view' GROUP BY user_id),
        j AS (
          SELECT fv.user_id, fv.first_view, c.ts AS click_ts
          FROM fv LEFT JOIN events c
            ON c.event_type = 'click' AND c.user_id = fv.user_id
           AND c.ts >= fv.first_view
           AND c.ts <= fv.first_view + INTERVAL 1 HOUR)
        SELECT user_id, first_view, MIN(click_ts) AS first_click,
               CAST(COUNT(click_ts) > 0 AS INT) AS converted
        FROM j GROUP BY user_id, first_view
    """
    # Native session_window spec: a gap >= 30 min opens a new session
    # (the window is half-open), session_end = last event + gap.
    sql["events_session_native"] = """
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        s AS (
          SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                                  ROWS UNBOUNDED PRECEDING) AS session_no
          FROM g)
        SELECT user_id, MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, session_no
    """
    sql["subquery_correlated"] = """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice = (SELECT MIN(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
    """
    sql["scan_pysource"] = """
        SELECT i AS doc_id, substr(md5(CAST(i AS VARCHAR)), 1, 8) AS text
        FROM range(1000) t(i)
    """
    sql["except_all"] = """
        SELECT l_orderkey AS k FROM lineitem WHERE l_linenumber <= 3
        EXCEPT ALL
        SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R'
    """
    sql["agg_argmax"] = """
        SELECT o_orderstatus,
               arg_max(o_orderkey,
                       CAST(round(o_totalprice * 100) AS BIGINT) * 1000000000 + o_orderkey)
                 AS priciest_order,
               arg_min(o_orderkey,
                       CAST(round(o_totalprice * 100) AS BIGINT) * 1000000000 + o_orderkey)
                 AS cheapest_order,
               ROUND(MAX(o_totalprice), 2) AS max_price
        FROM orders GROUP BY o_orderstatus
    """
    sql["forward_fill"] = """
        SELECT o_orderkey, o_custkey,
               last_value(obs IGNORE NULLS) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS UNBOUNDED PRECEDING) AS filled
        FROM (SELECT *, CASE WHEN o_orderkey % 7 = 0 THEN NULL
                             ELSE o_totalprice END AS obs
              FROM orders)
    """
    sql["win_distinct_count"] = """
        SELECT o_orderkey, o_custkey,
               COUNT(DISTINCT o_orderstatus) OVER (PARTITION BY o_custkey)
                 AS n_statuses
        FROM orders
    """
    sql["having_groups"] = """
        SELECT c_custkey, o_orderkey, o_orderdate, total_qty
        FROM (SELECT l_orderkey, ROUND(SUM(l_quantity), 4) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING ROUND(SUM(l_quantity), 4) > 200) b
        JOIN orders ON o_orderkey = b.l_orderkey
        JOIN customer ON c_custkey = o_custkey
    """
    sql["string_distance"] = """
        SELECT c_custkey,
               CAST(levenshtein(c_name, regexp_replace(c_name, '[aeiou]', '', 'g'))
                    AS BIGINT) AS dist,
               CAST(length(regexp_replace(c_name, '[aeiou]', '', 'g')) AS BIGINT)
                 AS n_consonants
        FROM customer
    """
    sql["unpivot_melt"] = """
        WITH w AS (
          SELECT o_orderpriority,
                 COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                 COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                 COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, status_col, n
        FROM w UNPIVOT (n FOR status_col IN (n_f, n_o, n_p))
    """
    sql["json_parse"] = """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    """
    sql["lateral_topk"] = """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c JOIN LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t ON true
    """
    sql["connected_components"] = """
        WITH RECURSIVE
        edges AS (
          SELECT a.c_custkey AS src, b.c_custkey AS dst
          FROM customer a JOIN customer b ON a.c_custkey + 1 = b.c_custkey
          WHERE a.c_custkey % 5 <> 4),
        sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        lbl AS (
          SELECT DISTINCT src AS node, src AS label FROM sym
          UNION
          SELECT s.dst AS node, l.label
          FROM lbl l JOIN sym s ON s.src = l.node
        )
        SELECT node, MIN(label) AS component FROM lbl GROUP BY node
    """
    # Fixed-iteration PageRank: the same 5 power iterations the Spark
    # loop runs, unrolled as chained CTEs (recursive CTEs can't
    # aggregate in the recursive term). All constants cast to DOUBLE so
    # DuckDB's decimal literals don't diverge from Python float math.
    _pr_steps = "".join(
        f""",
        p{i} AS (
          SELECT n.node,
                 (1.0::DOUBLE - 0.85::DOUBLE) / (SELECT n FROM cnt)
                 + 0.85::DOUBLE * COALESCE(c.s, 0.0::DOUBLE) AS rank
          FROM nodes n
          LEFT JOIN (
            SELECT e.dst AS node, SUM(p.rank / d.outdeg) AS s
            FROM edges e
            JOIN deg d ON d.src = e.src
            JOIN p{i - 1} p ON p.node = e.src
            GROUP BY e.dst) c ON c.node = n.node)"""
        for i in range(1, 6)
    )
    sql["pagerank"] = f"""
        WITH edges AS (
          SELECT DISTINCT 'c' || o.o_custkey AS src, 's' || l.l_suppkey AS dst
          FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        cnt AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
        deg AS (SELECT src, COUNT(*)::DOUBLE AS outdeg FROM edges GROUP BY src),
        p0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM cnt) AS rank FROM nodes){_pr_steps}
        SELECT node, ROUND(rank, 6) AS pagerank FROM p5
    """
    sql["decimal_sum_exact"] = """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,9))) AS VARCHAR) AS sum_price_dec
        FROM lineitem GROUP BY l_returnflag
    """
    sql["knn_join"] = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        SELECT a_id, b_id, cos FROM (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                            b.vec_id ASC) AS rk
          FROM e a JOIN e b ON a.vec_id <> b.vec_id) t
        WHERE rk <= 5
    """
    # Replays knn_lsh exactly (md5-derived hyperplanes + 9dp-rounded
    # sign bits — operators/similarity.py:_hyperplanes/lsh_bucket):
    # fixed h=8, query = vec_id 0's own bucket plus every ≤2-bit-flip
    # probe, cosine top-10 on the probed subset.
    sql["knn_lsh"] = f"""
        WITH params AS (SELECT 8 AS h),
        {_lsh_bucket_ctes()},
        q AS (SELECT v AS qv, bucket AS qb FROM buckets WHERE vec_id = 0),
        probes AS (SELECT DISTINCT xor(qb, m) AS b
                   FROM q, (SELECT unnest(range(256)) AS m)
                   WHERE bit_count(m) <= 2)
        SELECT vec_id,
               ROUND(list_cosine_similarity(v, (SELECT qv FROM q)), 6) AS cos
        FROM buckets WHERE bucket IN (SELECT b FROM probes)
        ORDER BY cos DESC, vec_id ASC LIMIT 10
    """
    # Replays knn_join_lsh exactly: auto code length clamp(ceil(log2(
    # n/32)), 4, 24) (similarity.py:auto_code_length), single-bit
    # multiprobe on the LEFT side only, per-left top-5 on the
    # 6dp-rounded (cos DESC, b_id ASC) contract. The per-bucket k-cut
    # in the engine never drops a global top-k pair (a dropped pair
    # has >= k better pairs in its own bucket, all global candidates),
    # so the direct global QUALIFY is the same result.
    sql["knn_join_lsh"] = f"""
        WITH params AS (
          SELECT GREATEST(4, LEAST(24, CAST(CEIL(LOG2(GREATEST(COUNT(*), 2) / 32.0)) AS BIGINT))) AS h
          FROM embeddings),
        {_lsh_bucket_ctes()},
        masks AS (SELECT 0::BIGINT AS m
                  UNION ALL
                  SELECT (1::BIGINT << i) FROM params, (SELECT unnest(range(24)) AS i)
                  WHERE i < h),
        cand AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
          FROM buckets a CROSS JOIN masks m
          JOIN buckets b ON b.bucket = xor(a.bucket, m.m) AND b.vec_id <> a.vec_id)
        SELECT a_id, b_id, cos FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY a_id ORDER BY cos DESC, b_id ASC) AS rk
          FROM cand) t
        WHERE rk <= 5
    """
    # Replays kmeans_assign exactly (k=8, 3 iterations; final
    # assignment is a3 — iters updates then one closing assignment,
    # matching the engine loop).
    sql["kmeans_clusters"] = f"""
        WITH {_kmeans_ctes(k=8, iters=3)}
        SELECT vec_id, CAST(ci AS INT) AS cluster FROM a3
    """
    # Replays embedding_outliers exactly: the kmeans CTEs' final
    # assignment joined back to the final centroids, score =
    # ROUND(ROUND(cos, 9), 6) mirroring the engine's
    # 9dp-argmax-then-6dp-score double rounding, bottom-50 by
    # (score ASC, id ASC).
    sql["embedding_outliers"] = f"""
        WITH {_kmeans_ctes(k=8, iters=3)},
        scored AS (
          SELECT a.vec_id, a.ci,
                 ROUND(ROUND(list_cosine_similarity(a.v, c3.c), 9), 6) AS centroid_cos
          FROM a3 a JOIN c3 ON c3.ci = a.ci)
        SELECT vec_id, CAST(ci AS INT) AS cluster, centroid_cos
        FROM scored ORDER BY centroid_cos ASC, vec_id ASC LIMIT 50
    """
    # Replays knn_join_ivf exactly: auto cluster count clamp(n/64, 8,
    # 65536), modulo-step centroid pick ordered by id, 9dp-rounded
    # nearest-centroid argmax with lowest-index ties, per-cluster
    # pairwise 6dp cosine ranked (cos desc, b_id asc) top-5
    # (operators/similarity.py:knn_join_ivf / ivf_assign).
    sql["knn_join_ivf"] = """
        WITH params AS (
          SELECT GREATEST(8, LEAST(65536, COUNT(*) // 64)) AS k_,
                 GREATEST(1, COUNT(*) // GREATEST(8, LEAST(65536, COUNT(*) // 64))) AS s
          FROM embeddings),
        cents0 AS (
          SELECT CAST(embedding AS DOUBLE[]) AS c,
                 ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
          FROM embeddings, params WHERE vec_id % s = 0),
        cents AS (SELECT c, ci FROM cents0, params WHERE ci < k_),
        assigned AS (
          SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
                 (SELECT c2.ci FROM cents c2
                  ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c2.c), 9) DESC,
                           c2.ci ASC LIMIT 1) AS cluster
          FROM embeddings e)
        SELECT a_id, b_id, cos FROM (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                            b.vec_id ASC) AS rk
          FROM assigned a JOIN assigned b
            ON a.cluster = b.cluster AND a.vec_id <> b.vec_id) t
        WHERE rk <= 5
    """
    # Replays semantic_dedup (threshold 0.2) exactly: knn_join_ivf's
    # deterministic centroid/assignment CTEs, per-cluster pairs on the
    # 9dp-rounded cosine (the operator rounds before comparing — the
    # ivf_assign determinism contract), recursive min-label components,
    # survivors = non-victims (operators/dedup.py:semantic_dedup).
    sql["semantic_dedup"] = """
        WITH RECURSIVE params AS (
          SELECT GREATEST(8, LEAST(65536, COUNT(*) // 64)) AS k_,
                 GREATEST(1, COUNT(*) // GREATEST(8, LEAST(65536, COUNT(*) // 64))) AS s
          FROM embeddings),
        cents0 AS (
          SELECT CAST(embedding AS DOUBLE[]) AS c,
                 ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
          FROM embeddings, params WHERE vec_id % s = 0),
        cents AS (SELECT c, ci FROM cents0, params WHERE ci < k_),
        assigned AS (
          SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
                 (SELECT c2.ci FROM cents c2
                  ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c2.c), 9) DESC,
                           c2.ci ASC LIMIT 1) AS cluster
          FROM embeddings e),
        pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM assigned a JOIN assigned b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
          WHERE ROUND(list_cosine_similarity(a.v, b.v), 9) >= 0.2),
        sym AS (SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
        lbl AS (
          SELECT DISTINCT src AS node, src AS label FROM sym
          UNION
          SELECT s.dst AS node, l.label FROM lbl l JOIN sym s ON s.src = l.node),
        comp AS (SELECT node, MIN(label) AS component FROM lbl GROUP BY node)
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT node FROM comp WHERE node <> component)
    """
    sql["validate_expectations"] = """
        WITH t AS (
          SELECT COUNT(*) AS total,
                 SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS orderkey_not_null,
                 COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS orderkey_unique,
                 SUM(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS status_in_set,
                 SUM(CASE WHEN o_totalprice IS NOT NULL
                          AND (o_totalprice < 0.0 OR o_totalprice > 1000000.0) THEN 1 ELSE 0 END) AS price_in_range,
                 SUM(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 1 ELSE 0 END) AS priority_format,
                 SUM(CASE WHEN NOT (o_orderdate < DATE '2000-01-01')
                          THEN 1 ELSE 0 END) AS date_before_2000
          FROM orders)
        SELECT r.rule,
               CAST(CASE r.rule
                 WHEN 'orderkey_not_null' THEN t.orderkey_not_null
                 WHEN 'orderkey_unique' THEN t.orderkey_unique
                 WHEN 'status_in_set' THEN t.status_in_set
                 WHEN 'price_in_range' THEN t.price_in_range
                 WHEN 'priority_format' THEN t.priority_format
                 WHEN 'date_before_2000' THEN t.date_before_2000
                 ELSE 0
               END AS BIGINT) AS violations,
               t.total,
               CAST(violations = 0 AS INT) AS passed
        FROM t, (VALUES ('orderkey_not_null'), ('orderkey_unique'),
                        ('status_in_set'), ('price_in_range'),
                        ('priority_format'), ('date_before_2000')) r(rule)
    """
    sql["weighted_sample"] = """
        SELECT o_orderkey, o_totalprice FROM (
          SELECT o_orderkey, o_totalprice,
                 ROUND(LN(((('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::UBIGINT)::DOUBLE
                           + 0.5)
                          / 4294967296.0)
                       / o_totalprice, 9) AS wkey
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_totalprice > 0)
        ORDER BY wkey DESC, o_orderkey ASC LIMIT 100
    """
    sql["tpch_q14_promo"] = """
        SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
    """
    sql["tpch_q22_prospects"] = """
        SELECT c_mktsegment,
               COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
          AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000.0)
        GROUP BY c_mktsegment
    """
    # EWMA oracle runs the IDENTICAL fp recursion as pandas ewm
    # (y_t = (1-α)·y_{t-1} + α·x_t, with (1.0-0.3) COMPUTED — one ulp
    # off the literal 0.7, exactly like pandas' `1. - alpha`): a closed
    # form y_t = r^t·x_0 + α·r^t·Σ x_i·r^(-i) was measured to diverge
    # by ~1 ulp and flip 4 in 10⁴ rows across the round(6) boundary.
    sql["ewma_smooth"] = """
        WITH RECURSIVE e AS (
          SELECT user_id, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS t
          FROM events WHERE value IS NOT NULL),
        r AS (
          SELECT user_id, event_id, t, CAST(value AS DOUBLE) AS ewma
          FROM e WHERE t = 0
          UNION ALL
          SELECT e.user_id, e.event_id, e.t,
                 (1.0::DOUBLE - 0.3::DOUBLE) * r.ewma + 0.3::DOUBLE * e.value
          FROM e JOIN r ON e.user_id = r.user_id AND e.t = r.t + 1)
        SELECT user_id, event_id,
               -- Spark F.round on a DOUBLE goes through
               -- BigDecimal.valueOf(double) = HALF_UP on the SHORTEST
               -- DECIMAL STRING, while DuckDB ROUND works on the
               -- binary double: a value printing as "...x5" exactly
               -- rounds up in Spark even when the binary double sits
               -- below the .5 boundary (6/100k rows at sf0.1).
               -- VARCHAR -> DECIMAL(38,24) replays Spark's exact
               -- path: shortest double strings carry <= 17
               -- significant digits, so 24 fractional digits convert
               -- the string exactly (a narrower scale would introduce
               -- an intermediate rounding Spark does not perform).
               CAST(ROUND(CAST(CAST(ewma AS VARCHAR) AS DECIMAL(38, 24)), 6) AS DOUBLE) AS ewma
        FROM r
    """
    sql["feature_hash"] = """
        SELECT o_orderkey,
               array_to_string(list_sort([
                 CAST(('0x' || substr(md5('o_orderstatus=' || coalesce(o_orderstatus, 'NULL')), 1, 8))::UBIGINT % 1024 AS BIGINT),
                 CAST(('0x' || substr(md5('o_orderpriority=' || coalesce(o_orderpriority, 'NULL')), 1, 8))::UBIGINT % 1024 AS BIGINT)
               ]), ',') AS feature_indices
        FROM orders
    """
    sql["unigram_logprob"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        total AS (SELECT COUNT(*)::DOUBLE AS n FROM toks)
        SELECT t.doc_id,
               ROUND(AVG(LN(c.cnt / total.n)), 6) AS mean_logprob,
               COUNT(*) AS n_tokens
        FROM toks t JOIN counts c USING (tok), total
        GROUP BY t.doc_id
    """

    # Replays q_drift_psi_numeric: same fixed-width binning and
    # injected 10% inflation, identical smoothed-PSI expression.
    sql["drift_psi_numeric"] = """
        WITH ref AS (SELECT CAST(floor(o_totalprice / 500.0::DOUBLE) AS BIGINT) AS b
                     FROM orders WHERE o_orderkey % 2 = 0),
        cur AS (SELECT CAST(floor(CASE WHEN o_orderkey % 3 = 0
                            THEN o_totalprice * 1.1::DOUBLE ELSE o_totalprice END / 500.0::DOUBLE) AS BIGINT) AS b
                FROM orders WHERE o_orderkey % 2 = 1),
        rc AS (SELECT b, COUNT(*) AS rc FROM ref GROUP BY b),
        cc AS (SELECT b, COUNT(*) AS cc FROM cur GROUP BY b),
        merged AS (SELECT COALESCE(rc.b, cc.b) AS b,
                          COALESCE(rc, 0) AS rc, COALESCE(cc, 0) AS cc
                   FROM rc FULL OUTER JOIN cc USING (b)),
        tot AS (SELECT SUM(rc) AS rt, SUM(cc) AS ct, COUNT(*) AS nb FROM merged)
        SELECT nb AS n_buckets,
               ROUND(SUM(
                 ((cc + 0.5) / (ct + 0.5 * nb) - (rc + 0.5) / (rt + 0.5 * nb))
                 * LN(((cc + 0.5) / (ct + 0.5 * nb)) / ((rc + 0.5) / (rt + 0.5 * nb)))
               ), 6) AS psi
        FROM merged, tot
        GROUP BY nb
    """
    # Replays q_revenue_pareto: 4dp-rounded per-customer revenue scaled
    # to LONG ten-thousandths, the rank-ordered running share (total
    # order: revenue desc, custkey asc) as exact integer arithmetic —
    # the sequential window here is bit-identical to the engine's
    # two-pass global_running_sum because integer addition is
    # associative — exact-long grand total, INT 80%-coverage flag.
    sql["revenue_pareto"] = """
        WITH rev AS (SELECT o_custkey, ROUND(SUM(o_totalprice), 4) AS revenue
                     FROM orders GROUP BY 1),
        ri AS (SELECT o_custkey, revenue,
                      CAST(ROUND(revenue * 10000, 0) AS BIGINT) AS r
               FROM rev),
        tot AS (SELECT SUM(r) AS t FROM ri),
        cs AS (SELECT o_custkey, revenue,
                      ROUND(SUM(r) OVER (ORDER BY revenue DESC, o_custkey ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1.0 / tot.t, 6) AS cum_share
               FROM ri, tot)
        SELECT o_custkey, revenue, cum_share,
               CAST(cum_share <= 0.8 AS INT) AS in_top80
        FROM cs
    """
    # Replays q_event_transitions: identical lead window
    # ((ts, event_id) order per user), pair counts, from-total
    # row normalization at 6dp.
    sql["event_transitions"] = """
        WITH prs AS (
          SELECT event_type AS from_type,
                 LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS to_type
          FROM events),
        pc AS (SELECT from_type, to_type, COUNT(*) AS n FROM prs
               WHERE to_type IS NOT NULL GROUP BY 1, 2),
        tt AS (SELECT from_type, SUM(n) AS t FROM pc GROUP BY 1)
        SELECT pc.from_type, pc.to_type, pc.n,
               ROUND(pc.n * 1.0 / tt.t, 6) AS prob
        FROM pc JOIN tt USING (from_type)
    """
    # Replays operators/graph.py:kcore with the SAME fixed peel rounds
    # unrolled as chained CTEs (the pagerank determinism contract):
    # final output is the degree table of the edge set restricted to
    # the last survivor set, filtered at k.
    sql["kcore"] = """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0), d0 AS (SELECT n, COUNT(*) AS d FROM
              (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        n0 AS (SELECT n FROM d0 WHERE d >= 4), e1 AS (SELECT * FROM e
              WHERE u IN (SELECT n FROM n0) AND v IN (SELECT n FROM n0)), d1 AS (SELECT n, COUNT(*) AS d FROM
              (SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
        n1 AS (SELECT n FROM d1 WHERE d >= 4), e2 AS (SELECT * FROM e1
              WHERE u IN (SELECT n FROM n1) AND v IN (SELECT n FROM n1)), d2 AS (SELECT n, COUNT(*) AS d FROM
              (SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
        n2 AS (SELECT n FROM d2 WHERE d >= 4), e3 AS (SELECT * FROM e2
              WHERE u IN (SELECT n FROM n2) AND v IN (SELECT n FROM n2)), d3 AS (SELECT n, COUNT(*) AS d FROM
              (SELECT u AS n FROM e3 UNION ALL SELECT v FROM e3) GROUP BY 1),
        n3 AS (SELECT n FROM d3 WHERE d >= 4),
        efin AS (SELECT * FROM e
                 WHERE u IN (SELECT n FROM n3) AND v IN (SELECT n FROM n3)),
        dfin AS (SELECT n, COUNT(*) AS d FROM
                 (SELECT u AS n FROM efin UNION ALL SELECT v FROM efin) GROUP BY 1)
        SELECT n AS node, d AS core_degree FROM dfin WHERE d >= 4
    """
    # Replays q_collocations_pmi: same pair/unigram counts and PMI
    # expression; ORDER BY pmi DESC, w1, w2 LIMIT 50 (total order).
    sql["collocations_pmi"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
        prs AS (SELECT t[i] AS w1, t[i+1] AS w2 FROM idx),
        uni AS (SELECT unnest(t) AS w FROM toks),
        pc AS (SELECT w1, w2, COUNT(*) AS pair_count FROM prs GROUP BY 1, 2
               HAVING COUNT(*) >= 10),
        wc AS (SELECT w, COUNT(*) AS wc FROM uni GROUP BY 1),
        tp AS (SELECT COUNT(*) AS tp FROM prs),
        tt AS (SELECT COUNT(*) AS tt FROM uni)
        SELECT pc.w1, pc.w2, pc.pair_count,
               ROUND(LN((pc.pair_count * 1.0 / tp.tp)
                        / ((c1.wc * 1.0 / tt.tt) * (c2.wc * 1.0 / tt.tt))), 6) AS pmi
        FROM pc JOIN wc c1 ON c1.w = pc.w1
               JOIN wc c2 ON c2.w = pc.w2, tp, tt
        ORDER BY pmi DESC, pc.w1 ASC, pc.w2 ASC LIMIT 50
    """
    # Replays q_funnel_steps: first view per user, first click within
    # 24h of it, first purchase within 24h of the click; per-stage
    # survivor counts plus total distinct users.
    sql["funnel_steps"] = """
        WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
        s2 AS (SELECT s1.user_id, s1.t1,
                      MIN(c.ts) AS t2
               FROM s1 LEFT JOIN events c
                 ON c.event_type = 'click' AND c.user_id = s1.user_id
                AND c.ts >= s1.t1 AND c.ts <= s1.t1 + INTERVAL 24 HOUR
               GROUP BY s1.user_id, s1.t1),
        s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
                      MIN(p.ts) AS t3
               FROM s2 LEFT JOIN events p
                 ON p.event_type = 'purchase' AND p.user_id = s2.user_id
                AND p.ts >= s2.t2 AND p.ts <= s2.t2 + INTERVAL 24 HOUR
               GROUP BY s2.user_id, s2.t1, s2.t2)
        SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
               COUNT(t1) AS n_step1, COUNT(t2) AS n_step2, COUNT(t3) AS n_step3
        FROM s3
    """
    # Replays q_sliding_distinct_users: per active day, the distinct
    # users active in the trailing 7-day window — the direct
    # COUNT(DISTINCT) form DuckDB can express, vs the engine's
    # bounded-explode rewrite.
    sql["sliding_distinct_users"] = """
        WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        days AS (SELECT DISTINCT d AS window_end FROM act)
        SELECT window_end, COUNT(DISTINCT a.u) AS distinct_users
        FROM days JOIN act a
          ON a.d BETWEEN window_end - INTERVAL 6 DAY AND window_end
        GROUP BY window_end
    """
    # Replays q_interval_coverage: identical window chain (running
    # max end -> island flag -> island id), integer epoch arithmetic.
    sql["interval_coverage"] = """
        WITH iv AS (SELECT user_id,
                           CAST(floor(epoch(ts)) AS BIGINT) AS s,
                           CAST(floor(epoch(ts)) AS BIGINT) + 600 AS e
                    FROM events),
        flagged AS (
          SELECT user_id, s, e,
                 CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                       OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS nw
          FROM iv),
        isl AS (SELECT user_id, s, e,
                       SUM(nw) OVER (PARTITION BY user_id ORDER BY s, e
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM flagged),
        g AS (SELECT user_id, island, MIN(s) AS ms, MAX(e) AS me
              FROM isl GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_islands,
               CAST(SUM(me - ms) AS BIGINT) AS covered_seconds
        FROM g GROUP BY user_id
    """
    # Replays q_cumulative_adoption: DuckDB CAN express the distinct
    # window directly, which makes it the perfect oracle for the
    # engine's first-seen rewrite — two different formulations, one
    # answer.
    sql["cumulative_adoption"] = """
        WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
        days AS (SELECT DISTINCT day FROM act),
        fs AS (SELECT u, MIN(day) AS day FROM act GROUP BY u),
        nu AS (SELECT day, COUNT(*) AS new_users FROM fs GROUP BY day),
        pd AS (SELECT d.day, COALESCE(nu.new_users, 0) AS new_users
               FROM days d LEFT JOIN nu USING (day))
        SELECT day, new_users,
               CAST(SUM(new_users) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cumulative_users
        FROM pd
    """
    # Replays q_spatial_radius_join with the PLAIN quadratic form —
    # the grid bucketing is candidate generation only; the exact IEEE
    # predicate (x·x products, no pow/sqrt) makes the row sets equal.
    sql["spatial_radius_join"] = """
        WITH pts AS (
          SELECT c_custkey AS id,
                 ('0x' || substr(md5('x#' || CAST(c_custkey AS VARCHAR)), 1, 8))::UBIGINT
                   / 4294967296.0 * 100.0 AS x,
                 ('0x' || substr(md5('y#' || CAST(c_custkey AS VARCHAR)), 1, 8))::UBIGINT
                   / 4294967296.0 * 100.0 AS y
          FROM customer)
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 9) AS dist_sq
        FROM pts a JOIN pts b ON a.id < b.id
        WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 25.0
    """
    # Replays q_drift_psi: same even/odd split + %3 priority override,
    # 0.5-smoothed PSI over the union bucket set. The term expression
    # mirrors the engine's exact double arithmetic; ~5 buckets sum
    # well inside the 6dp rounding margin.
    sql["drift_psi"] = """
        WITH ref AS (SELECT o_orderpriority AS b FROM orders WHERE o_orderkey % 2 = 0),
        cur AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN '1-URGENT'
                            ELSE o_orderpriority END AS b
                FROM orders WHERE o_orderkey % 2 = 1),
        rc AS (SELECT b, COUNT(*) AS rc FROM ref GROUP BY b),
        cc AS (SELECT b, COUNT(*) AS cc FROM cur GROUP BY b),
        merged AS (SELECT COALESCE(rc.b, cc.b) AS b,
                          COALESCE(rc, 0) AS rc, COALESCE(cc, 0) AS cc
                   FROM rc FULL OUTER JOIN cc USING (b)),
        tot AS (SELECT SUM(rc) AS rt, SUM(cc) AS ct, COUNT(*) AS nb FROM merged)
        SELECT nb AS n_buckets,
               ROUND(SUM(
                 ((cc + 0.5) / (ct + 0.5 * nb) - (rc + 0.5) / (rt + 0.5 * nb))
                 * LN(((cc + 0.5) / (ct + 0.5 * nb)) / ((rc + 0.5) / (rt + 0.5 * nb)))
               ), 6) AS psi
        FROM merged, tot
        GROUP BY nb
    """
    # Replays q_normalize_accents: same injected accented fragment,
    # DuckDB's strip_accents vs the engine's translate map — the
    # folded md5 pins character-for-character agreement. The folded
    # text is re-normalized (lower/collapse/trim) inside the md5 to
    # replay doc_fingerprint exactly.
    sql["normalize_accents"] = """
        WITH dirty AS (
          SELECT doc_id,
                 'café crème №' || CAST(doc_id % 7 AS VARCHAR)
                 || ' àéîõü çñ ' || substr(text, 1, 40) AS s
          FROM documents),
        folded AS (SELECT doc_id, strip_accents(s) AS folded FROM dirty)
        SELECT doc_id, folded,
               md5(trim(regexp_replace(lower(folded), '\\s+', ' ', 'g'))) AS folded_fp
        FROM folded
    """
    # Replays q_asof_join_tolerance: per-(user, ts) deduped purchases,
    # correlated MIN next-ts per click, payload nulled past the 3600 s
    # tolerance. Ties at equal ts match (>=), as in the engine.
    sql["asof_join_tolerance"] = """
        WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, ts, MIN(value) AS pvalue
              FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        m AS (SELECT c.event_id, c.user_id, c.ts,
                     (SELECT MIN(p.ts) FROM p
                      WHERE p.user_id = c.user_id AND p.ts >= c.ts) AS mts
              FROM c)
        SELECT m.event_id, m.user_id, m.ts,
               CASE WHEN m.mts IS NOT NULL
                         AND epoch(m.mts) - epoch(m.ts) <= 3600
                    THEN ROUND((SELECT p.pvalue FROM p
                                WHERE p.user_id = m.user_id AND p.ts = m.mts), 2)
               END AS next_purchase_value
        FROM m
    """
    # The JSON array round trip is an identity, so the oracle is the
    # direct per-order aggregate — any parse/explode defect breaks the
    # hash (q_json_array_explode).
    sql["json_array_explode"] = """
        SELECT l_orderkey, COUNT(*) AS n_items,
               ROUND(SUM(l_quantity), 4) AS sum_qty
        FROM lineitem GROUP BY 1
    """
    # Replays operators/events.py:cohort_retention: (user, day)
    # distinct activity, min-day cohorts, offset counts ≤ 30, rate
    # against cohort size at 6dp (one integer-ratio division).
    sql["cohort_retention"] = """
        WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        coh AS (SELECT u, MIN(d) AS cohort_day FROM act GROUP BY u),
        sizes AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM coh GROUP BY 1),
        j AS (SELECT c.cohort_day, datediff('day', c.cohort_day, a.d) AS day_offset
              FROM act a JOIN coh c USING (u)
              WHERE datediff('day', c.cohort_day, a.d) <= 30),
        cnt AS (SELECT cohort_day, day_offset, COUNT(*) AS active_users
                FROM j GROUP BY 1, 2)
        SELECT c.cohort_day, c.day_offset, c.active_users,
               ROUND(c.active_users * 1.0 / s.cohort_size, 6) AS retention
        FROM cnt c JOIN sizes s USING (cohort_day)
    """
    # Replays operators/quality.py:bigram_logprob — adjacent-pair
    # grams, corpus pair counts / context totals, per-doc mean of
    # log(pair/ctx). Docs with < 2 tokens emit no pairs in either
    # engine and are absent from both outputs.
    sql["bigram_logprob"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        idx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks),
        prs AS (SELECT doc_id,
                       t[i] || ' ' || t[i+1] AS gram,
                       t[i] AS ctx
                FROM idx),
        pc AS (SELECT gram, COUNT(*) AS pcnt FROM prs GROUP BY gram),
        cc AS (SELECT ctx, COUNT(*) AS ccnt FROM prs GROUP BY ctx)
        SELECT p.doc_id,
               ROUND(AVG(LN(pc.pcnt * 1.0 / cc.ccnt)), 6) AS mean_logprob,
               COUNT(*) AS n_bigrams
        FROM prs p JOIN pc USING (gram) JOIN cc USING (ctx)
        GROUP BY p.doc_id
    """
    sql["tpch_q19_brackets"] = """
        SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 40)
    """
    sql["tpch_q2_min_cost"] = """
        WITH supply AS (
          SELECT l_partkey, l_suppkey,
                 MIN(ROUND(l_extendedprice * (1 - l_discount), 4)) AS unit_cost
          FROM lineitem GROUP BY l_partkey, l_suppkey),
        mc AS (SELECT l_partkey, MIN(unit_cost) AS min_cost
               FROM supply GROUP BY l_partkey)
        SELECT s.l_partkey, sup.s_name, s.unit_cost AS min_unit_cost
        FROM supply s
        JOIN mc ON s.l_partkey = mc.l_partkey AND s.unit_cost = mc.min_cost
        JOIN supplier sup ON s.l_suppkey = sup.s_suppkey
    """
    sql["tpch_q7_volume"] = """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               EXTRACT(year FROM l_shipdate) AS l_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """
    sql["tpch_q8_market_share"] = """
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               ROUND(SUM(CASE WHEN n1.n_name = 'NATION_7'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 4) AS mkt_share
        FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          JOIN region ON n2.n_regionkey = r_regionkey
        WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
          AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        GROUP BY 1 ORDER BY 1
    """
    sql["tpch_q9_profit"] = """
        SELECT n_name AS nation,
               EXTRACT(year FROM o_orderdate) AS o_year,
               ROUND(SUM(ROUND(l_extendedprice * (1 - l_discount)
                               - ROUND(p_retailprice * 0.6::DOUBLE, 4) * l_quantity, 4)), 4)
                   AS sum_profit
        FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%ring%'
        GROUP BY 1, 2 ORDER BY 1, 2 DESC
    """
    sql["tpch_q4_priority"] = """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    sql["tpch_q12_lateship"] = """
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 'high' ELSE 'low' END AS prio_class,
               COUNT(DISTINCT o_orderkey) AS late_orders
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        GROUP BY 1 ORDER BY 1
    """
    sql["tpch_q13_custdist"] = """
        SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """
    sql["tpch_q15_top_supplier"] = """
        WITH rev AS (
          SELECT l_suppkey,
                 ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
        ORDER BY s_suppkey
    """
    sql["tpch_q17_small_qty"] = """
        WITH branded AS (
          SELECT l_partkey, l_quantity, l_extendedprice
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_brand = 'Brand#4'),
        qlim AS (SELECT l_partkey, 0.2 * AVG(l_quantity) AS ql
                 FROM branded GROUP BY l_partkey)
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM branded JOIN qlim USING (l_partkey)
        WHERE l_quantity < ql
    """
    sql["tpch_q18_large_orders"] = """
        WITH big AS (
          SELECT l_orderkey, SUM(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250.0)
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               ROUND(sum_qty, 2) AS sum_qty
        FROM big JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey
        LIMIT 100
    """
    sql["dataset_diff"] = """
        WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                   FROM orders WHERE o_orderkey % 13 <> 0),
        n AS (SELECT o_orderkey, o_orderstatus,
                     CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                          ELSE o_totalprice END AS o_totalprice
              FROM orders WHERE o_orderkey % 11 <> 0)
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'added'
                    WHEN n.o_orderkey IS NULL THEN 'removed'
                    WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                      OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                    THEN 'changed'
                    ELSE 'unchanged' END AS diff_status
        FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
    """
    sql["tpch_q11_important_stock"] = """
        WITH pp AS (
          SELECT l_partkey,
                 ROUND(SUM(ROUND(l_extendedprice * (1 - l_discount), 4)), 4) AS value
          FROM lineitem
          WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                              JOIN nation ON s_nationkey = n_nationkey
                              WHERE n_name = 'NATION_7')
          GROUP BY l_partkey)
        SELECT l_partkey, value FROM pp
        WHERE value > 0.001::DOUBLE * (SELECT ROUND(SUM(value), 4) FROM pp)
        ORDER BY value DESC, l_partkey
    """
    sql["tpch_q16_supplier_cnt"] = """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 3, 5, 7, 9)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """
    sql["tpch_q20_promo_suppliers"] = """
        WITH pk AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        av AS (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS avail
               FROM lineitem JOIN pk ON l_partkey = p_partkey
               WHERE l_shipdate < TIMESTAMP '1997-01-01' GROUP BY 1, 2),
        sh AS (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS shipped
               FROM lineitem JOIN pk ON l_partkey = p_partkey
               WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l_shipdate < TIMESTAMP '1998-01-01'
               GROUP BY 1, 2)
        SELECT s_suppkey, s_name, ROUND(s_acctbal, 2) AS s_acctbal
        FROM supplier
        WHERE s_suppkey IN (SELECT av.l_suppkey
                            FROM av JOIN sh USING (l_partkey, l_suppkey)
                            WHERE avail > 0.5 * shipped)
          AND s_nationkey IN (SELECT n_nationkey FROM nation
                              WHERE n_name = 'NATION_3')
        ORDER BY s_suppkey
    """
    sql["tpch_q21_waiting_suppliers"] = """
        WITH o AS (SELECT o_orderkey, o_orderdate FROM orders
                   WHERE o_orderstatus = 'F'),
        lo AS (SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
               FROM lineitem JOIN o ON l_orderkey = o_orderkey),
        late AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lo
                 WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY),
        qual AS (SELECT w.l_orderkey, w.l_suppkey FROM late w
                 WHERE EXISTS (SELECT 1 FROM lo l2
                               WHERE l2.l_orderkey = w.l_orderkey
                                 AND l2.l_suppkey <> w.l_suppkey)
                   AND NOT EXISTS (SELECT 1 FROM late l3
                                   WHERE l3.l_orderkey = w.l_orderkey
                                     AND l3.l_suppkey <> w.l_suppkey))
        SELECT s_name, COUNT(*) AS numwait
        FROM qual JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5'
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
    """
    sql["dedup_incremental"] = f"""
        WITH {_minhash_band_ctes(k=3)},
        idx AS (SELECT band_no, bkey FROM bands WHERE doc_id % 3 <> 0),
        nb AS (SELECT doc_id, band_no, bkey FROM bands WHERE doc_id % 3 = 0),
        hit AS (SELECT DISTINCT doc_id FROM nb
                WHERE EXISTS (SELECT 1 FROM idx
                              WHERE idx.band_no = nb.band_no AND idx.bkey = nb.bkey)),
        mins AS (SELECT band_no, bkey, MIN(doc_id) AS mn, COUNT(*) AS c
                 FROM nb GROUP BY 1, 2),
        vb AS (SELECT DISTINCT nb.doc_id FROM nb JOIN mins USING (band_no, bkey)
               WHERE c > 1 AND nb.doc_id > mn)
        SELECT doc_id FROM documents
        WHERE doc_id % 3 = 0
          AND doc_id NOT IN (SELECT doc_id FROM hit UNION SELECT doc_id FROM vb)
        ORDER BY doc_id
    """
    # Replays remove_duplicated_spans (n=4) exactly: positional grams,
    # per-gram (ndocs, min-id owner), covered = bad starts expanded x4,
    # anti-joined token positions re-joined in order.
    sql["remove_dup_spans"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        tok_rows AS (SELECT doc_id, CAST(unnest(range(len(t))) AS BIGINT) AS p,
                            unnest(t) AS tok
                     FROM toks),
        grams AS (SELECT doc_id, CAST(unnest(range(len(t) - 3)) AS BIGINT) AS i,
                         unnest(list_transform(range(1, len(t) - 2),
                                j -> array_to_string(t[j:j+3], ' '))) AS gram
                  FROM toks WHERE len(t) >= 4),
        gd AS (SELECT gram, COUNT(DISTINCT doc_id) AS ndocs, MIN(doc_id) AS owner
               FROM grams GROUP BY 1),
        bad AS (SELECT g.doc_id, g.i FROM grams g JOIN gd USING (gram)
                WHERE ndocs >= 2 AND g.doc_id <> owner),
        covered AS (SELECT DISTINCT doc_id, i + CAST(unnest(range(4)) AS BIGINT) AS p
                    FROM bad),
        kept AS (SELECT tr.doc_id, tr.p, tr.tok FROM tok_rows tr
                 WHERE NOT EXISTS (SELECT 1 FROM covered c
                                   WHERE c.doc_id = tr.doc_id AND c.p = tr.p)),
        cleaned AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                           COUNT(*) AS n_kept
                    FROM kept GROUP BY 1),
        sizes AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks)
        SELECT s.doc_id, COALESCE(clean_text, '') AS clean_text, n_tokens,
               CAST(n_tokens - COALESCE(n_kept, 0) AS BIGINT) AS n_removed
        FROM sizes s LEFT JOIN cleaned USING (doc_id)
    """
    sql["dup_span_stats"] = f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        grams AS (
          SELECT doc_id, unnest(CASE WHEN len(t) >= 4
              THEN list_transform(range(1, len(t) - 2),
                   i -> array_to_string(t[i:i+3], ' '))
              ELSE [array_to_string(t, ' ')] END) AS gram
          FROM toks),
        occ AS (SELECT gram, doc_id, COUNT(*) AS cnt FROM grams GROUP BY 1, 2),
        f AS (SELECT doc_id, cnt,
                     COUNT(*) OVER (PARTITION BY gram) AS ndocs FROM occ)
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
                   AS n_dup_spans,
               ROUND(CAST(SUM(CASE WHEN ndocs >= 2 THEN cnt ELSE 0 END) AS DOUBLE)
                     / SUM(cnt), 6) AS dup_span_frac
        FROM f GROUP BY doc_id
    """
    _mix_vals = ", ".join(
        f"('{k}', {v!r})" for k, v in sorted(_MIXTURE_WEIGHTS.items())
    )
    _mix_wsum = float(sum(_MIXTURE_WEIGHTS.values()))
    sql["mixture_resample"] = f"""
        WITH w(lang, wt) AS (VALUES {_mix_vals}),
        counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        j AS (
          SELECT d.doc_id, d.lang, d.source,
                 ROUND(LEAST(1.0, CAST({_MIXTURE_TOTAL} AS DOUBLE) * wt
                                  / {_mix_wsum!r} / n), 9) AS frac
          FROM documents d JOIN counts USING (lang) JOIN w USING (lang))
        SELECT doc_id, lang, source FROM j
        WHERE ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT)::DOUBLE
               + 0.5) / 4294967296.0 < frac
    """
    sql["token_budget_select"] = f"""
        WITH t AS (
          SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT source, doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (
                      PARTITION BY source
                      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM t)
        SELECT source, doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 2000
    """
    sql["quality_calibrate"] = f"""
        WITH base AS (
          SELECT doc_id, source,
                 len({_TOKS}) AS n_tokens,
                 len(list_filter(list_transform({_TOKS},
                     x -> regexp_replace(x, '[^a-z]', '', 'g')),
                     x -> x IN {_STOPWORDS_SQL})) AS n_stop,
                 length(text) AS n_chars_all,
                 length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_nonpunct
          FROM documents),
        q AS (
          SELECT doc_id, source,
                 ROUND(0.4 * LEAST(n_tokens / 200.0, 1.0)
                     + 0.4 * LEAST((n_stop * 1.0 / n_tokens) / 0.2, 1.0)
                     + 0.2 * (1.0 - (n_chars_all - n_nonpunct) * 1.0 / n_chars_all), 6)
                   AS quality
          FROM base)
        SELECT doc_id, source, quality,
               ROUND(PERCENT_RANK() OVER (
                     PARTITION BY source ORDER BY quality, doc_id), 9) AS calibrated
        FROM q
    """
    sql["shard_stats"] = f"""
        WITH t AS (
          SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 8
                      AS INTEGER) AS shard
          FROM documents)
        SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
        FROM t GROUP BY shard
    """
    sql["source_overlap"] = f"""
        WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
        sh AS (SELECT source,
                 CASE WHEN len(t) >= 3
                      THEN array_distinct(list_transform(range(1, len(t) - 1),
                           i -> array_to_string(t[i:i+2], ' ')))
                      ELSE [array_to_string(t, ' ')] END AS g
               FROM toks),
        eg AS (SELECT DISTINCT source, gram
               FROM (SELECT source, unnest(g) AS gram FROM sh)),
        sizes AS (SELECT source, COUNT(*) AS n FROM eg GROUP BY source),
        pairs AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared_grams
                  FROM eg a JOIN eg b USING (gram)
                  WHERE a.source <> b.source GROUP BY 1, 2)
        SELECT p.src_a, p.src_b, p.shared_grams,
               ROUND(p.shared_grams * 1.0 / s.n, 9) AS containment
        FROM pairs p JOIN sizes s ON s.source = p.src_a
    """
    sql["decontaminate_substring"] = f"""
        WITH needles AS (
          SELECT DISTINCT trim(substr({_NORM}, 41, 80)) AS b
          FROM documents WHERE doc_id % 97 = 0
            AND length(trim(substr({_NORM}, 41, 80))) > 0),
        probe AS (SELECT doc_id, {_NORM} AS c FROM documents)
        SELECT DISTINCT doc_id FROM probe JOIN needles ON position(b IN c) > 0
    """
    sql["negative_sample"] = """
        WITH pos AS (
          SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS p
          FROM documents),
        n AS (SELECT COUNT(*) AS c FROM documents),
        t AS (SELECT doc_id, p, unnest(range(3)) AS draw FROM pos),
        d AS (
          SELECT doc_id, draw,
                 (p + (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#'
                        || CAST(draw AS VARCHAR)), 1, 8))::UBIGINT::BIGINT
                       % (c - 1)) + 1) % c AS tpos
          FROM t, n)
        SELECT d.doc_id, CAST(d.draw AS INTEGER) AS draw, p2.doc_id AS neg_id
        FROM d JOIN pos p2 ON p2.p = d.tpos
    """
    sql["digest_prefilter_join"] = """
        SELECT l.l_orderkey, l.l_linenumber,
               ROUND(o.o_totalprice, 2) AS o_totalprice, o.o_orderdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'F'
    """
    # Replays knn_ivfpq step-for-step: knn_ivf's centroid/probe CTEs +
    # knn_pq's md5-dyadic codebook, with PQ encoding applied to the
    # RESIDUAL (vector - its centroid) and one ADC table per probed
    # cluster on (query - centroid).
    sql["knn_ivfpq"] = """
        WITH step AS (
          SELECT GREATEST(1, COUNT(*) // 16) AS s FROM embeddings),
        cents AS (
          SELECT CAST(embedding AS DOUBLE[]) AS c,
                 ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
          FROM embeddings, step WHERE vec_id % s = 0
          ORDER BY vec_id LIMIT 16),
        q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
        probes AS (
          SELECT ci, c FROM cents, q
          ORDER BY ROUND(list_cosine_similarity(c, qv), 9) DESC, ci ASC
          LIMIT 4),
        codes AS (
          SELECT s, c,
                 list(('0x' || substr(md5('pq-42-' || s || '-' || c || '-' || j), 1, 8))::UBIGINT::BIGINT
                      / 2147483648.0 - 1.0 ORDER BY j) AS cb
          FROM (SELECT unnest(range(4)) AS s),
               (SELECT unnest(range(16)) AS c),
               (SELECT unnest(range(16)) AS j)
          GROUP BY s, c),
        assigned AS (
          SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
                 (SELECT c2.ci FROM cents c2
                  ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c2.c), 9) DESC,
                           c2.ci ASC LIMIT 1) AS cluster
          FROM embeddings e),
        resid AS (
          SELECT a.vec_id, a.cluster,
                 list_transform(range(1, 65), j -> a.v[j] - ct.c[j]) AS rv
          FROM assigned a JOIN cents ct ON ct.ci = a.cluster
          WHERE a.cluster IN (SELECT ci FROM probes)),
        sv AS (
          SELECT vec_id, cluster, s, rv[s*16+1 : (s+1)*16] AS seg
          FROM resid, (SELECT unnest(range(4)) AS s)),
        asg AS (
          SELECT vec_id, cluster, s,
                 (SELECT c2.c FROM codes c2 WHERE c2.s = sv.s
                  ORDER BY ROUND(list_distance(sv.seg, c2.cb), 9) ASC, c2.c ASC
                  LIMIT 1) AS code
          FROM sv),
        qres AS (
          SELECT p.ci, list_transform(range(1, 65), j -> q.qv[j] - p.c[j]) AS qrv
          FROM probes p, q),
        qsv AS (
          SELECT ci, s, qrv[s*16+1 : (s+1)*16] AS seg
          FROM qres, (SELECT unnest(range(4)) AS s)),
        qt AS (
          SELECT qsv.ci, c2.s, c2.c, ROUND(list_distance(qsv.seg, c2.cb), 9) AS d
          FROM codes c2 JOIN qsv ON qsv.s = c2.s),
        adc AS (
          SELECT a.vec_id, SUM(qt.d) AS dist
          FROM asg a JOIN qt ON qt.ci = a.cluster AND qt.s = a.s AND qt.c = a.code
          GROUP BY 1)
        SELECT vec_id, ROUND(dist, 6) AS adc_dist
        FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """
    # Replays bigram_lm: adjacent pairs from the shared tokenization,
    # pair_count >= 10, cond_p over the FULL context total (denominator
    # unfiltered), 9dp round, top-3 per context by (count DESC, w2).
    sql["bigram_lm"] = """
        WITH t AS (
          SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
          FROM documents),
        p AS (
          SELECT toks[i] AS w1, toks[i + 1] AS w2
          FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
          WHERE len(toks) >= 2),
        pc AS (
          SELECT w1, w2, COUNT(*) AS pair_count
          FROM p GROUP BY 1, 2 HAVING COUNT(*) >= 10),
        tot AS (SELECT w1, COUNT(*) AS ctx FROM p GROUP BY 1)
        SELECT pc.w1, pc.w2, pc.pair_count,
               ROUND(pc.pair_count / tot.ctx, 9) AS cond_p
        FROM pc JOIN tot ON tot.w1 = pc.w1
        QUALIFY ROW_NUMBER() OVER (PARTITION BY pc.w1
                                   ORDER BY pc.pair_count DESC, pc.w2 ASC) <= 3
    """
    # Replays vocab_build: same normalize+split tokenization as the
    # chunk/unigram oracles, freq >= 20, ids by (freq DESC, term ASC),
    # top 200.
    sql["vocab_build"] = """
        WITH t AS (
          SELECT doc_id,
                 unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
          FROM documents),
        c AS (
          SELECT term, COUNT(*) AS freq, COUNT(DISTINCT doc_id) AS doc_freq
          FROM t GROUP BY term HAVING COUNT(*) >= 20)
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) - 1 AS INT) AS token_id,
               term, freq, doc_freq
        FROM c
        QUALIFY token_id < 200
    """
    # Replays dp_noisy_count's seeded Laplace draw: md5 tag
    # 'dp-42' <US> nationkey <US> segment, first 8 hex -> uniform,
    # inverse-CDF, 6dp round. concat_ws <-> chr(31) separators.
    sql["dp_noisy_count"] = """
        WITH g AS (
          SELECT c_nationkey, c_mktsegment, COUNT(*) AS n,
                 (('0x' || substr(md5('dp-42' || chr(31) || CAST(c_nationkey AS VARCHAR)
                                   || chr(31) || c_mktsegment), 1, 8))::UBIGINT::DOUBLE
                  + 0.5) / 4294967296.0 AS u
          FROM customer GROUP BY 1, 2)
        SELECT c_nationkey, c_mktsegment,
               ROUND(n + -(1.0::DOUBLE) * sign(u - 0.5)
                       * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_count
        FROM g
    """
    # Triangle count is orientation-invariant: the oracle counts each
    # triangle once at its lowest-ID vertex (u < v1 < v2), while the
    # Spark plan uses the degree-ordered orientation — same census.
    sql["triangle_count"] = """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        d AS (
          SELECT n, COUNT(*) AS d
          FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
          GROUP BY n)
        SELECT (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT CAST(SUM(CAST(d * (d - 1) / 2 AS BIGINT)) AS BIGINT) FROM d) AS n_wedges,
               (SELECT COUNT(*) FROM e e1
                JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v
                JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v) AS n_triangles
    """
    # Bloom false positives are dropped by the real equi-join, so the
    # oracle is the plain inner join — the filter only prunes shuffle.
    sql["bloom_prefilter_join"] = """
        SELECT l.l_orderkey, l.l_linenumber,
               ROUND(o.o_totalprice, 2) AS o_totalprice,
               o.o_orderpriority
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '5-LOW' AND o.o_totalprice > 150000.0
    """
    sql["k_anonymity"] = """
        SELECT c_nationkey, c_mktsegment,
               COUNT(*) AS n_rows,
               COUNT(DISTINCT c_acctbal) AS l_diversity,
               CAST(CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS INTEGER) AS at_risk
        FROM customer GROUP BY 1, 2
    """
    # Replays functions/text.py:char_entropy exactly: empties dropped
    # from the char split, distinct chars sorted so the float fold
    # order matches Spark's aggregate(), 9dp round (+0.0 folds -0.0).
    sql["entropy_quality"] = """
        WITH ch AS (
          SELECT doc_id, list_filter(string_split(text, ''), x -> x <> '') AS cs
          FROM documents),
        e AS (
          SELECT doc_id,
                 CASE WHEN len(cs) > 0 THEN
                   ROUND(-list_sum(list_transform(list_sort(list_distinct(cs)),
                       d -> (len(list_filter(cs, x -> x = d)) * 1.0 / len(cs))
                            * log2(len(list_filter(cs, x -> x = d)) * 1.0 / len(cs)))), 9)
                   + 0.0
                 ELSE 0.0 END AS entropy
          FROM ch)
        SELECT doc_id, entropy,
               CAST(CASE WHEN entropy < 3.0 THEN 1 ELSE 0 END AS INTEGER) AS low_entropy
        FROM e
    """
    # Replays operators/similarity.py:_pq_codebook/pq_assign/knn_pq:
    # md5-dyadic codebook (m=4 subvectors of 16 dims, ks=16 codes),
    # 9dp-rounded Euclidean argmin encoding with lowest-code ties,
    # 9dp query distance table, ADC sum rounded at 6dp.
    sql["knn_pq"] = """
        WITH codes AS (
          SELECT s, c,
                 list(('0x' || substr(md5('pq-42-' || s || '-' || c || '-' || j), 1, 8))::UBIGINT::BIGINT
                      / 2147483648.0 - 1.0 ORDER BY j) AS cb
          FROM (SELECT unnest(range(4)) AS s),
               (SELECT unnest(range(16)) AS c),
               (SELECT unnest(range(16)) AS j)
          GROUP BY s, c),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        sv AS (SELECT vec_id, s, v[s*16+1 : (s+1)*16] AS seg
               FROM ev, (SELECT unnest(range(4)) AS s)),
        asg AS (
          SELECT vec_id, s,
                 (SELECT c2.c FROM codes c2 WHERE c2.s = sv.s
                  ORDER BY ROUND(list_distance(sv.seg, c2.cb), 9) ASC, c2.c ASC
                  LIMIT 1) AS code
          FROM sv),
        qt AS (
          SELECT c2.s, c2.c, ROUND(list_distance(q.seg, c2.cb), 9) AS d
          FROM codes c2 JOIN (SELECT s, seg FROM sv WHERE vec_id = 0) q ON q.s = c2.s),
        adc AS (
          SELECT a.vec_id, SUM(qt.d) AS dist
          FROM asg a JOIN qt ON qt.s = a.s AND qt.c = a.code
          GROUP BY a.vec_id)
        SELECT vec_id, ROUND(dist, 6) AS adc_dist
        FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 10
    """
    # Replays sources/layout.py:zorder_key at bits=8 over
    # (o_custkey, o_totalprice): min/max normalize to 0..255 (FLOOR =
    # Spark's toward-zero long cast on non-negatives), interleave the
    # 8 bit pairs, bucket by the top 6 z-bits.
    _zx = " | ".join(
        f"(((xs >> {i}) & 1) << {2 * i})" for i in range(8)
    )
    _zy = " | ".join(
        f"(((ys >> {i}) & 1) << {2 * i + 1})" for i in range(8)
    )
    sql["zorder_layout"] = f"""
        WITH b AS (
          SELECT MIN(o_custkey) AS ck_mn, MAX(o_custkey) AS ck_mx,
                 MIN(o_totalprice) AS tp_mn, MAX(o_totalprice) AS tp_mx
          FROM orders),
        s AS (
          SELECT o_custkey, o_totalprice,
                 CAST(FLOOR((CAST(o_custkey AS DOUBLE) - ck_mn)
                      / (CASE WHEN ck_mx - ck_mn = 0 THEN 1.0 ELSE ck_mx - ck_mn END)
                      * 255) AS BIGINT) AS xs,
                 CAST(FLOOR((o_totalprice - tp_mn)
                      / (CASE WHEN tp_mx - tp_mn = 0 THEN 1.0 ELSE tp_mx - tp_mn END)
                      * 255) AS BIGINT) AS ys
          FROM orders, b)
        SELECT ({_zx} | {_zy}) >> 10 AS bucket,
               COUNT(*) AS n_rows,
               MIN(o_custkey) AS ck_min, MAX(o_custkey) AS ck_max,
               ROUND(MIN(o_totalprice), 2) AS tp_min,
               ROUND(MAX(o_totalprice), 2) AS tp_max
        FROM s GROUP BY 1
    """
    # §2 alias ids share their implementation's oracle.
    sql["scan_jsonl"] = sql["scan_csv"]  # same staged rows, different format
    sql["scan_xml"] = sql["scan_csv"]  # same staged rows, different format
    sql["join_geo"] = sql["join_dim_miss"]
    sql["win_min_partition"] = sql["agg_min_windowed"]
    sql["union_all"] = sql["align_union"]
    sql["concat_rows"] = sql["align_union"]
    sql["make_view"] = sql["view_retention"]
    # Replays q_ks_drift: identical even/odd split + 10% injected
    # inflation, exact-cent value grouping, merged-axis cumulative
    # counts (the sequential window equals the engine's two-pass
    # global_running_sums — integer sums are associative), and the
    # integer CDF-gap max divided once.
    sql["ks_drift"] = """
        WITH src AS (
          SELECT l_orderkey,
                 CASE WHEN l_orderkey % 2 = 1 AND l_orderkey % 3 = 0
                      THEN l_extendedprice * 1.1 ELSE l_extendedprice END AS price,
                 l_orderkey % 2 AS side
          FROM lineitem),
        vals AS (SELECT side, CAST(ROUND(price * 100, 0) AS BIGINT) AS v FROM src),
        a AS (SELECT v, COUNT(*) AS na FROM vals WHERE side = 0 GROUP BY 1),
        b AS (SELECT v, COUNT(*) AS nb FROM vals WHERE side = 1 GROUP BY 1),
        m AS (SELECT COALESCE(a.v, b.v) AS v,
                     COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
              FROM a FULL OUTER JOIN b ON a.v = b.v),
        c AS (SELECT v,
                     SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS ca,
                     SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cb
              FROM m),
        tot AS (SELECT SUM(na) AS Na, SUM(nb) AS Nb FROM m)
        SELECT ROUND(MAX(ABS(ca * Nb - cb * Na)) * 1.0 / (Na * Nb), 6) AS ks_stat,
               CAST(Na AS BIGINT) AS n_ref, CAST(Nb AS BIGINT) AS n_cur
        FROM c, tot
        GROUP BY Na, Nb
    """
    # Replays q_attribution_last_touch: the same carried-forward
    # last-touch window ((ts, event_id) order per user), purchase
    # filter, per-touch conversion counts + 4dp value sums.
    sql["attribution_last_touch"] = """
        WITH credited AS (
          SELECT event_type, value,
                 LAST_VALUE(CASE WHEN event_type IN ('click','view','signup')
                                 THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
          FROM events)
        SELECT COALESCE(touch, '(none)') AS touch_type,
               COUNT(*) AS n_conversions,
               ROUND(SUM(value), 4) AS total_value
        FROM credited
        WHERE event_type = 'purchase'
        GROUP BY 1
    """
    # Replays q_basket_pair_lift: distinct (order, category) baskets,
    # size cap BEFORE pair expansion, pair counts via self-join
    # (cat_a < cat_b), exact-long ratios rounded at 6dp.
    sql["basket_pair_lift"] = """
        WITH items AS (
          SELECT DISTINCT l_orderkey AS b, l_partkey % 100 AS cat FROM lineitem),
        sizes AS (SELECT b, COUNT(*) AS sz FROM items GROUP BY 1),
        capped AS (SELECT i.b, i.cat FROM items i JOIN sizes s ON i.b = s.b
                   WHERE s.sz BETWEEN 2 AND 64),
        nb AS (SELECT COUNT(DISTINCT b) AS N FROM capped),
        ic AS (SELECT cat, COUNT(*) AS n_item FROM capped GROUP BY 1),
        pc AS (SELECT x.cat AS item_a, y.cat AS item_b, COUNT(*) AS n_ab
               FROM capped x JOIN capped y ON x.b = y.b AND x.cat < y.cat
               GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        SELECT item_a, item_b, n_ab,
               ROUND(n_ab * 1.0 / N, 6) AS support,
               ROUND(n_ab * 1.0 / ia.n_item, 6) AS confidence,
               ROUND(n_ab * N * 1.0 / (ia.n_item * ib.n_item), 6) AS lift
        FROM pc
        JOIN ic ia ON pc.item_a = ia.cat
        JOIN ic ib ON pc.item_b = ib.cat, nb
    """
    # Replays q_activity_churn: identical (user, day) dedup, per-user
    # lead(day), the literal gap rule (absent or > D+7 ⇒ churned),
    # per-day aggregates with a 6dp rate.
    sql["activity_churn"] = """
        WITH act AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        flagged AS (
          SELECT d,
                 CASE WHEN LEAD(d) OVER (PARTITION BY u ORDER BY d) IS NULL
                        OR LEAD(d) OVER (PARTITION BY u ORDER BY d)
                           > d + INTERVAL 7 DAY
                      THEN 1 ELSE 0 END AS churned
          FROM act)
        SELECT d AS day, COUNT(*) AS n_active,
               CAST(SUM(churned) AS BIGINT) AS n_churned,
               ROUND(SUM(churned) * 1.0 / COUNT(*), 6) AS churn_rate
        FROM flagged
        GROUP BY 1
    """
    # Replays q_readability_score: same regex counts (terminal-
    # punctuation runs, whitespace tokens, vowel-group runs), same
    # floor-at-1 guards, the Flesch formula with explicit DOUBLE
    # literals (DuckDB bare numerics are DECIMAL).
    sql["readability_score"] = f"""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN 0
                      ELSE len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))
                 END AS n_words,
                 GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
                 GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_syllables
          FROM documents)
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               ROUND(206.835::DOUBLE - 1.015::DOUBLE * (n_words * 1.0 / n_sentences)
                     - 84.6::DOUBLE * (n_syllables * 1.0 / GREATEST(n_words, 1)), 4) AS flesch
        FROM c
    """
    # Replays q_mixture_weights: per-source token counts over the SAME
    # whitespace tokenizer, pow(tokens, 0.7), normalized weights and
    # implied epochs at 6dp.
    sql["mixture_weights"] = """
        WITH per AS (
          SELECT source, COUNT(*) AS n_docs,
                 SUM(CASE WHEN trim(text) = '' THEN 0
                     ELSE len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))
                     END) AS n_tokens
          FROM documents GROUP BY 1),
        p AS (SELECT *, pow(n_tokens, 0.7::DOUBLE) AS pp FROM per),
        tot AS (SELECT SUM(pp) AS Z, SUM(n_tokens) AS T FROM p)
        SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
               ROUND(pp / Z, 6) AS weight,
               ROUND((pp / Z) * T / n_tokens, 6) AS epochs_at_budget
        FROM p, tot
    """
    # Replays q_bpe_top_pairs: distinct-word frequency table over the
    # normalized tokenizer, per-word adjacent char pairs via substr,
    # weighted pair counts, top-50 with pair tiebreak.
    sql["bpe_top_pairs"] = f"""
        WITH toks AS (SELECT {_TOKS} AS t FROM documents),
        w AS (SELECT unnest(t) AS w FROM toks),
        wc AS (SELECT w, COUNT(*) AS wc FROM w WHERE len(w) >= 2 GROUP BY 1),
        pairs AS (
          SELECT unnest(list_transform(range(1, len(w)),
                   i -> substr(w, i, 1) || ' ' || substr(w, i + 1, 1))) AS pair,
                 wc
          FROM wc)
        SELECT pair, CAST(SUM(wc) AS BIGINT) AS n
        FROM pairs GROUP BY 1
        ORDER BY n DESC, pair ASC
        LIMIT 50
    """
    # Replays q_label_propagation: the SAME 3 LPA rounds unrolled as
    # chained CTEs — per round, neighbor-label counts PLUS the node's
    # own current label (the self-vote), then the (count DESC, label
    # ASC) winner per node.
    _lpa_round = """
        c{i} AS (SELECT n, lbl, COUNT(*) AS c FROM (
                   SELECT nb.n, l{p}.lbl
                   FROM nb JOIN l{p} ON nb.nb = l{p}.n
                   UNION ALL SELECT n, lbl FROM l{p}) GROUP BY 1, 2),
        l{i} AS (SELECT n, lbl FROM (
                   SELECT n, lbl,
                          ROW_NUMBER() OVER (PARTITION BY n
                            ORDER BY c DESC, lbl ASC) AS rn
                   FROM c{i}) WHERE rn = 1)"""
    sql["label_propagation"] = (
        """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0),
        nb AS (SELECT u AS n, v AS nb FROM e
               UNION ALL SELECT v AS n, u AS nb FROM e),
        l0 AS (SELECT DISTINCT n, n AS lbl FROM nb),"""
        + ",".join(_lpa_round.format(i=i, p=i - 1) for i in (1, 2, 3))
        + """
        SELECT n AS node, lbl AS label FROM l3
    """
    )
    # Replays q_url_host_stats: identical URL synthesis and the same
    # regexp host/TLD/path-depth decomposition, per-host aggregates.
    sql["url_host_stats"] = """
        WITH u AS (
          SELECT 'https://' || source || '-' || CAST(doc_id % 20 AS VARCHAR)
                 || '.example.org/' || lang || '/' || CAST(doc_id AS VARCHAR) AS url,
                 n_chars
          FROM documents),
        p AS (
          SELECT regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
                 regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1) AS path,
                 n_chars
          FROM u)
        SELECT host,
               regexp_extract(host, '\\.([a-z0-9-]+)$', 1) AS tld,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               MAX(CASE WHEN path = '' THEN 0
                        ELSE len(regexp_extract_all(path, '/')) END) AS max_depth
        FROM p
        GROUP BY 1, 2
    """
    # Replays q_overlap_join: identical integer windows and the exact
    # overlap predicate — a plain theta join (DuckDB's IEJoin handles
    # it natively; the ENGINE's binned plan must produce the same set).
    sql["overlap_join"] = """
        WITH c AS (SELECT event_id AS click_id,
                          CAST(floor(epoch(ts)) AS BIGINT) AS c_lo,
                          CAST(floor(epoch(ts)) AS BIGINT) + 600 AS c_hi
                   FROM events WHERE event_type = 'click'),
        e AS (SELECT event_id AS error_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS e_lo,
                     CAST(floor(epoch(ts)) AS BIGINT) + 900 AS e_hi
              FROM events WHERE event_type = 'error')
        SELECT click_id, error_id
        FROM c JOIN e ON c.c_lo < e.e_hi AND e.e_lo < c.c_hi
    """
    # Replays q_t_closeness: per-(QI, status) counts, global status
    # distribution, the exact-long TV distance including absent-value
    # mass, 6dp round, INT flag.
    sql["t_closeness"] = """
        WITH cell AS (SELECT o_orderpriority AS qi, o_orderstatus AS s,
                             COUNT(*) AS c
                      FROM orders GROUP BY 1, 2),
        grp AS (SELECT qi, SUM(c) AS n FROM cell GROUP BY 1),
        gdist AS (SELECT o_orderstatus AS s, COUNT(*) AS g FROM orders GROUP BY 1),
        tot AS (SELECT COUNT(*) AS nt FROM orders),
        per AS (SELECT cell.qi,
                       SUM(ABS(cell.c * nt - gdist.g * grp.n)) AS present,
                       SUM(gdist.g) AS gsum,
                       ANY_VALUE(grp.n) AS n, ANY_VALUE(nt) AS nt
                FROM cell JOIN gdist ON cell.s = gdist.s
                JOIN grp ON cell.qi = grp.qi, tot
                GROUP BY 1)
        SELECT qi AS o_orderpriority,
               CAST(n AS BIGINT) AS n_rows,
               ROUND((present + (nt - gsum) * n) / (2.0 * n * nt), 6) AS tv_distance,
               CAST(ROUND((present + (nt - gsum) * n) / (2.0 * n * nt), 6) > 0.05 AS INT) AS above_t
        FROM per
    """
    # Replays q_streaming_join: the batch interval join a drained
    # stream-stream join must equal — each click's same-user views
    # from the preceding hour.
    sql["streaming_join"] = """
        SELECT c.user_id AS clicks_user,
               c.event_id,
               c.ts AS click_ts,
               v.ts AS view_ts,
               v.value AS view_value
        FROM events c JOIN events v
          ON c.user_id = v.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
    """
    # Replays q_mad_outliers: exact-cent values, quantile_cont medians
    # (Spark's exact percentile interpolates identically), the same
    # 3.5·1.4826 modified-z threshold on exact doubles.
    sql["mad_outliers"] = """
        WITH v AS (SELECT l_returnflag AS g,
                          CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS x
                   FROM lineitem),
        med AS (SELECT g, quantile_cont(x, 0.5) AS m, COUNT(*) AS n
                FROM v GROUP BY 1),
        dev AS (SELECT v.g, ABS(v.x - med.m) AS adev, med.m, med.n
                FROM v JOIN med ON v.g = med.g),
        mad AS (SELECT g, quantile_cont(adev, 0.5) AS md FROM dev GROUP BY 1)
        SELECT dev.g AS l_returnflag,
               ANY_VALUE(dev.n) AS n_rows,
               ROUND(ANY_VALUE(dev.m), 4) AS median,
               ROUND(ANY_VALUE(mad.md), 4) AS mad,
               CAST(SUM(CASE WHEN dev.adev > 3.5::DOUBLE * 1.4826::DOUBLE * mad.md
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev JOIN mad ON dev.g = mad.g
        GROUP BY 1
    """
    # Replays q_funnel_timing: first click per user, first at-or-after
    # purchase, truncated-epoch second diffs, exact-long mean.
    sql["funnel_timing"] = """
        WITH f AS (SELECT user_id, MIN(ts) AS t0 FROM events
                   WHERE event_type = 'click' GROUP BY 1),
        conv AS (SELECT p.user_id,
                        CAST(floor(epoch(MIN(p.ts))) AS BIGINT)
                          - CAST(floor(epoch(ANY_VALUE(f.t0))) AS BIGINT) AS secs
                 FROM events p JOIN f ON p.user_id = f.user_id
                 WHERE p.event_type = 'purchase' AND p.ts >= f.t0
                 GROUP BY 1)
        SELECT COUNT(*) AS n_converted,
               ROUND(SUM(secs) * 1.0 / COUNT(*), 4) AS avg_seconds,
               MIN(secs) AS min_seconds,
               MAX(secs) AS max_seconds
        FROM conv
    """
    # Replays q_ab_test_zscore: per-user conversion max, even/odd arms,
    # the identical pooled-z float chain.
    sql["ab_test_zscore"] = """
        WITH pu AS (SELECT user_id AS u,
                           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
                    FROM events GROUP BY 1),
        arms AS (SELECT CAST(u % 2 AS INT) AS arm, COUNT(*) AS n,
                        SUM(converted) AS conv
                 FROM pu GROUP BY 1),
        a AS (SELECT n AS n_a, conv AS conv_a FROM arms WHERE arm = 0),
        b AS (SELECT n AS n_b, conv AS conv_b FROM arms WHERE arm = 1)
        SELECT n_a, n_b, CAST(conv_a AS BIGINT) AS conv_a,
               CAST(conv_b AS BIGINT) AS conv_b,
               ROUND(conv_a * 1.0 / n_a, 6) AS p_a,
               ROUND(conv_b * 1.0 / n_b, 6) AS p_b,
               ROUND((conv_b * 1.0 / n_b - conv_a * 1.0 / n_a)
                     / sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                            * (1.0::DOUBLE - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                            * (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b)), 6) AS z_score
        FROM a, b
    """
    # Replays q_activity_heatmap: DuckDB dayofweek is 0=Sunday..6 —
    # +1 aligns it with Spark's 1=Sunday..7 convention.
    sql["activity_heatmap"] = """
        SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour,
               COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY 1, 2
    """
    # Replays q_group_percentiles: quantile_cont interpolates the same
    # rank positions as Spark's exact percentile over integer cents.
    sql["group_percentiles"] = """
        WITH v AS (SELECT l_returnflag,
                          CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
                   FROM lineitem)
        SELECT l_returnflag, COUNT(*) AS n_rows,
               quantile_cont(cents, 0.25) AS p25,
               quantile_cont(cents, 0.5) AS p50,
               quantile_cont(cents, 0.75) AS p75,
               quantile_cont(cents, 0.95) AS p95
        FROM v GROUP BY 1
    """
    # Replays q_histogram2d: identical floor bins on both axes.
    sql["histogram2d"] = """
        SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_bin,
               CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bin,
               COUNT(*) AS n_rows
        FROM lineitem GROUP BY 1, 2
    """
    # Replays q_ship_latency_stats: integer day gaps (order -> ship),
    # exact-long mean, quantile_cont median.
    sql["ship_latency_stats"] = """
        WITH v AS (SELECT l.l_returnflag,
                          datediff('day', o.o_orderdate, l.l_shipdate) AS lag_days
                   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
        SELECT l_returnflag, COUNT(*) AS n_rows,
               ROUND(SUM(lag_days) * 1.0 / COUNT(*), 4) AS avg_days,
               quantile_cont(lag_days, 0.5) AS median_days,
               CAST(MAX(lag_days) AS INT) AS max_days
        FROM v GROUP BY 1
    """
    # Replays q_share_of_parent: exact-cent nation totals, region total
    # re-aggregated from nation partials, one 6dp division.
    sql["share_of_parent"] = """
        WITH pn AS (
          SELECT r.r_name, n.n_name,
                 SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS cents
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          JOIN region r ON n.n_regionkey = r.r_regionkey
          GROUP BY 1, 2),
        pr AS (SELECT r_name, SUM(cents) AS rcents FROM pn GROUP BY 1)
        SELECT pn.r_name, pn.n_name,
               ROUND(pn.cents / 100.0, 2) AS revenue,
               ROUND(pn.cents * 1.0 / pr.rcents, 6) AS share_of_region
        FROM pn JOIN pr ON pn.r_name = pr.r_name
    """
    # Replays q_benford_test: DuckDB regexp_replace needs the 'g' flag
    # to match Spark's replace-all; expectations are the SAME Python
    # literal doubles on both sides.
    _benford_vals = ", ".join(
        f"({d}, {p!r}::DOUBLE)" for d, p in BENFORD_EXPECTED.items()
    )
    sql["benford_test"] = f"""
        WITH d AS (
          SELECT CAST(substr(regexp_replace(CAST(o_totalprice AS VARCHAR),
                                            '[^1-9]*', '', 'g'), 1, 1) AS INT) AS digit
          FROM orders WHERE o_totalprice > 0),
        g AS (SELECT digit, COUNT(*) AS n FROM d
              WHERE digit IS NOT NULL GROUP BY 1),
        e AS (SELECT * FROM (VALUES {_benford_vals}) AS t(digit, p)),
        tot AS (SELECT SUM(n) AS nt FROM g)
        SELECT g.digit, CAST(n AS BIGINT) AS n,
               ROUND(n * 1.0 / nt, 6) AS observed_p,
               ROUND(e.p, 6) AS expected_p,
               ROUND((n - nt * e.p) * (n - nt * e.p) / (nt * e.p), 6) AS chi2_term
        FROM g JOIN e ON g.digit = e.digit, tot
    """
    # Replays q_gini_coefficient: ROW_NUMBER ascending rank (tie
    # assignment is irrelevant — a tie group's rank-set is fixed, so
    # Σ i·x is invariant), HUGEINT exact Σ i·x, identical float chain.
    sql["gini_coefficient"] = """
        WITH rev AS (SELECT o_custkey,
                            SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS x
                     FROM orders GROUP BY 1),
        ranked AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS i
                   FROM rev WHERE x >= 0)
        SELECT COUNT(*) AS n,
               ROUND(2.0::DOUBLE * CAST(SUM(CAST(i AS HUGEINT) * x) AS DOUBLE)
                       / (COUNT(*) * CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE))
                     - (COUNT(*) + 1.0::DOUBLE) / COUNT(*), 6) AS gini
        FROM ranked
    """
    # Replays q_period_over_period: exact-cent monthly totals, lag over
    # the calendar-bounded month axis, 6dp MoM pct.
    sql["period_over_period"] = """
        WITH m AS (SELECT date_trunc('month', o_orderdate) AS month,
                          SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
                   FROM orders GROUP BY 1),
        l AS (SELECT month, cents,
                     LAG(cents) OVER (ORDER BY month) AS prev
              FROM m)
        SELECT CAST(month AS DATE) AS month,
               ROUND(cents / 100.0, 2) AS revenue,
               ROUND((cents - prev) * 1.0 / prev, 6) AS mom_pct
        FROM l
    """
    # Replays q_event_throttle: the same keyed lag window with
    # double-second gap arithmetic (epoch(ts) keeps microseconds in
    # DuckDB), per-type kept counts.
    sql["event_throttle"] = """
        WITH l AS (
          SELECT user_id, event_type,
                 epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id, event_type
                                                 ORDER BY ts, event_id)) AS gap
          FROM events)
        SELECT event_type, COUNT(*) AS n_kept,
               COUNT(DISTINCT user_id) AS n_users
        FROM l
        WHERE gap IS NULL OR gap >= 600.0
        GROUP BY 1
    """
    # Replays q_rolling_median: DuckDB's windowed median (quantile_cont
    # 0.5) over the identical (ts, event_id)-ordered 7-row frame —
    # both engines interpolate even frames as lo + 0.5*(hi-lo); the
    # gate hashes only each user's LAST smoothed value.
    sql["rolling_median"] = """
        WITH sm AS (
          SELECT user_id, ts, event_id,
                 ROUND(median(value) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS rm
          FROM events),
        r AS (SELECT user_id, rm,
                     ROW_NUMBER() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM sm)
        SELECT user_id, rm AS last_rolling_median FROM r WHERE rn = 1
    """
    # Replays q_poisson_weighted_sample: identical md5('ws#'||id)
    # uniform, exact BIGINT Σw converted to double once, identical
    # (100.0 * w) / W inclusion probability.
    sql["poisson_weighted_sample"] = """
        WITH tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS W FROM documents)
        SELECT doc_id, source, n_chars,
               ROUND(LEAST(1.0::DOUBLE,
                     100.0::DOUBLE * n_chars / CAST(W AS DOUBLE)), 6) AS p_include
        FROM documents, tot
        WHERE ('0x' || substr(md5('ws#' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                / 4294967296.0
              < LEAST(1.0::DOUBLE, 100.0::DOUBLE * n_chars / CAST(W AS DOUBLE))
    """
    # Replays q_fuzzy_join_edit1 with the PLAIN quadratic theta join —
    # the symmetric-delete blocking is candidate generation only; the
    # exact levenshtein residual makes the pair sets equal.
    sql["fuzzy_join_edit1"] = """
        WITH n AS (SELECT DISTINCT c_name AS nm FROM customer
                   WHERE c_name IS NOT NULL)
        SELECT x.nm AS name_a, y.nm AS name_b,
               CAST(levenshtein(x.nm, y.nm) AS INT) AS dist
        FROM n x JOIN n y ON x.nm < y.nm AND levenshtein(x.nm, y.nm) <= 1
    """
    # Replays q_streaming_dedup: the staged source holds every event
    # twice; watermarked dropDuplicatesWithinWatermark on event_id must
    # equal the batch per-type counts over the ORIGINAL events.
    sql["streaming_dedup"] = """
        SELECT event_type, COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1
    """
    # Replays q_event_rate_limit: the same aligned-window bucket
    # (floor of fractional epoch seconds / 600) and first-row-per-
    # (user, type, bucket) filter, per-type kept counts.
    sql["event_rate_limit"] = """
        WITH r AS (
          SELECT user_id, event_type,
                 ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type,
                                floor(epoch(ts) / 600.0)
                   ORDER BY ts, event_id) AS rl
          FROM events)
        SELECT event_type, COUNT(*) AS n_kept,
               COUNT(DISTINCT user_id) AS n_users
        FROM r WHERE rl = 1
        GROUP BY 1
    """
    # Replays q_degree_assortativity: identical co-purchase edges,
    # symmetrized endpoint-degree pairs, and the SAME six exact
    # integer sums assembled into Pearson r in one float projection.
    sql["degree_assortativity"] = """
        WITH e AS (
          SELECT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          WHERE a.l_partkey % 3 = 0 AND b.l_partkey % 3 = 0
          GROUP BY 1, 2),
        sym AS (SELECT u AS a, v AS b FROM e
                UNION ALL SELECT v AS a, u AS b FROM e),
        deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
        pairs AS (
          SELECT dx.d AS x, dy.d AS y
          FROM sym JOIN deg dx ON sym.a = dx.a
                   JOIN deg dy ON sym.b = dy.a),
        s AS (SELECT CAST(COUNT(*) AS BIGINT) AS m,
                     CAST(SUM(x) AS BIGINT) AS sx,
                     CAST(SUM(y) AS BIGINT) AS sy,
                     CAST(SUM(x * y) AS BIGINT) AS sxy,
                     CAST(SUM(x * x) AS BIGINT) AS sxx,
                     CAST(SUM(y * y) AS BIGINT) AS syy
              FROM pairs)
        SELECT CAST(m / 2 AS BIGINT) AS n_edges,
               ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                            * CAST(m * syy - sy * sy AS DOUBLE)), 6)
                 AS assortativity
        FROM s
    """
    # Replays q_ccnet_buckets: the unigram_logprob CTE + NTILE(3) over
    # the identical (rounded score, doc_id) total order; SUMs cast.
    sql["ccnet_buckets"] = f"""
        WITH toks AS (
          SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        counts AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        total AS (SELECT COUNT(*)::DOUBLE AS n FROM toks),
        scored AS (
          SELECT t.doc_id,
                 ROUND(AVG(LN(c.cnt / total.n)), 6) AS mean_logprob,
                 COUNT(*) AS n_toks
          FROM toks t JOIN counts c USING (tok), total
          GROUP BY t.doc_id),
        binned AS (
          SELECT doc_id, n_toks,
                 NTILE(3) OVER (ORDER BY mean_logprob ASC, doc_id ASC) AS bucket
          FROM scored)
        SELECT b.bucket, d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(b.n_toks) AS BIGINT) AS n_tokens
        FROM binned b JOIN documents d USING (doc_id)
        GROUP BY 1, 2
    """
    # Replays q_hard_negative_mine: knn_join's brute ranking with the
    # label-inequality predicate in the join condition.
    sql["hard_negative_mine"] = """
        WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings)
        SELECT a_id, b_id, cos FROM (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                 ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                            b.vec_id ASC) AS rk
          FROM e a JOIN e b
            ON a.vec_id <> b.vec_id AND a.label <> b.label) t
        WHERE rk <= 5
    """
    # Replays q_ngram_novelty: identical shingling (5-grams over the
    # normalized token list, DISTINCT per doc; shorter docs contribute
    # their whole normalized text as one gram), document frequency per
    # gram, exact integer novel counts. SUM cast to BIGINT pre-divide.
    sql["ngram_novelty"] = f"""
        WITH tok AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        gr AS (
          SELECT DISTINCT doc_id, array_to_string(t[i:i + 4], ' ') AS gram
          FROM tok, LATERAL (SELECT unnest(range(1, len(t) - 3)) AS i)
          WHERE len(t) >= 5
          UNION
          SELECT DISTINCT doc_id, array_to_string(t, ' ') AS gram
          FROM tok WHERE len(t) < 5),
        freq AS (SELECT gram, COUNT(*) AS d FROM gr GROUP BY 1)
        SELECT gr.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN freq.d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               ROUND(CAST(SUM(CASE WHEN freq.d = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     / COUNT(*), 6) AS novelty
        FROM gr JOIN freq ON gr.gram = freq.gram
        GROUP BY 1
    """
    # Replays q_ann_recall_eval: the knn_join (exact) and knn_join_ivf
    # (IVF) CTE chains verbatim, left-joined per (a_id, b_id);
    # COUNT(match) is the integer hit count, recall one double divide.
    sql["ann_recall_eval"] = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        exact AS (
          SELECT a_id, b_id FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                              b.vec_id ASC) AS rk
            FROM e a JOIN e b ON a.vec_id <> b.vec_id) t
          WHERE rk <= 5),
        params AS (
          SELECT GREATEST(8, LEAST(65536, COUNT(*) // 64)) AS k_,
                 GREATEST(1, COUNT(*) // GREATEST(8, LEAST(65536, COUNT(*) // 64))) AS s
          FROM embeddings),
        cents0 AS (
          SELECT CAST(embedding AS DOUBLE[]) AS c,
                 ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
          FROM embeddings, params WHERE vec_id % s = 0),
        cents AS (SELECT c, ci FROM cents0, params WHERE ci < k_),
        assigned AS (
          SELECT e2.vec_id, CAST(e2.embedding AS DOUBLE[]) AS v,
                 (SELECT c2.ci FROM cents c2
                  ORDER BY ROUND(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), c2.c), 9) DESC,
                           c2.ci ASC LIMIT 1) AS cluster
          FROM embeddings e2),
        approx AS (
          SELECT a_id, b_id FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                              b.vec_id ASC) AS rk
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vec_id <> b.vec_id) t
          WHERE rk <= 5)
        SELECT exact.a_id,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(COUNT(approx.b_id) AS BIGINT) AS n_hits,
               ROUND(COUNT(approx.b_id) / COUNT(*), 6) AS recall
        FROM exact LEFT JOIN approx
          ON exact.a_id = approx.a_id AND exact.b_id = approx.b_id
        GROUP BY 1
    """
    # Replays q_dsir_weights: identical tokenization (unigrams + space-
    # joined bigrams), identical md5 bucket ids (feature_hash pattern),
    # +0.5 Laplace smoothing over 1024 buckets, ln from the same libm
    # as the engine's CPython driver pass, floor(x·1e9) nano-unit
    # ratios, exact integer per-doc sums. SUMs cast to BIGINT (HUGEINT
    # hash gotcha); totals cast to DOUBLE before the float chain.
    sql["dsir_weights"] = f"""
        WITH tok AS (
          SELECT doc_id, source, {_TOKS} AS t FROM documents),
        gr AS (
          SELECT doc_id, source, unnest(t) AS g FROM tok
          UNION ALL
          SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS g
          FROM tok, LATERAL (SELECT unnest(range(1, len(t))) AS i)
          WHERE len(t) >= 2),
        dc AS (
          SELECT doc_id, source,
                 CAST(('0x' || substr(md5(g), 1, 8))::UBIGINT % 1024 AS BIGINT) AS bkt,
                 COUNT(*) AS c
          FROM gr GROUP BY 1, 2, 3),
        pside AS (SELECT bkt, CAST(SUM(c) AS BIGINT) AS n FROM dc
                  WHERE source <> 'src0' GROUP BY 1),
        qside AS (SELECT bkt, CAST(SUM(c) AS BIGINT) AS n FROM dc
                  WHERE source = 'src0' GROUP BY 1),
        ptot AS (SELECT CAST(COALESCE(SUM(n), 0) AS DOUBLE) + 0.5 * 1024 AS t FROM pside),
        qtot AS (SELECT CAST(COALESCE(SUM(n), 0) AS DOUBLE) + 0.5 * 1024 AS t FROM qside),
        allb AS (SELECT CAST(unnest(range(0, 1024)) AS BIGINT) AS bkt),
        ratio AS (
          SELECT allb.bkt,
                 CAST(floor((ln((COALESCE(qside.n, 0) + 0.5) / qtot.t)
                             - ln((COALESCE(pside.n, 0) + 0.5) / ptot.t)) * 1e9)
                      AS BIGINT) AS rn
          FROM allb LEFT JOIN pside ON allb.bkt = pside.bkt
                    LEFT JOIN qside ON allb.bkt = qside.bkt, ptot, qtot)
        SELECT dc.doc_id,
               CAST(SUM(dc.c) AS BIGINT) AS n_grams,
               CAST(SUM(dc.c * ratio.rn) AS BIGINT) AS log_weight_nano
        FROM dc JOIN ratio ON dc.bkt = ratio.bkt
        WHERE dc.source <> 'src0'
        GROUP BY 1
    """
    # Trailing-7-day z-score monitor: exact BIGINT window sums, the
    # z²-cleared inequality in DOUBLE on exact integers (IEEE —
    # bit-identical cross-engine), flag as INT.
    sql["rolling_anomaly"] = """
        WITH d AS (
          SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        w AS (
          SELECT event_type, day, n,
                 SUM(n) OVER f AS s,
                 SUM(n * n) OVER f AS q,
                 COUNT(n) OVER f AS c
          FROM d
          WINDOW f AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        SELECT event_type, day, n,
               CASE WHEN c = 7 THEN CAST(s AS BIGINT) END AS base_sum,
               CASE WHEN c = 7 THEN CAST(q AS BIGINT) END AS base_sumsq,
               CASE WHEN c = 7 THEN CAST(
                 CAST(7 * n - s AS DOUBLE) * CAST(7 * n - s AS DOUBLE) * 6.0
                 > 9.0 * 7.0 * CAST(7 * q - s * s AS DOUBLE) AS INT)
               END AS is_anomaly
        FROM w
    """
    # Changepoint: argmax_t |n·P_t − t·T| per type, earliest split on
    # ties; exact BIGINT statistic, means rounded at 6dp from the same
    # double division Spark runs.
    sql["changepoint_scan"] = """
        WITH d AS (
          SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        s AS (
          SELECT event_type, day, n,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY day) AS p,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
                 SUM(n) OVER (PARTITION BY event_type) AS tot,
                 COUNT(*) OVER (PARTITION BY event_type) AS nn
          FROM d),
        g AS (
          SELECT *, CAST(ABS(nn * p - t * tot) AS BIGINT) AS gs,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY ABS(nn * p - t * tot) DESC, t ASC) AS rk
          FROM s WHERE t < nn)
        SELECT event_type,
               CAST(nn AS BIGINT) AS n_points,
               day AS split_day,
               CAST(t AS BIGINT) AS split_idx,
               ROUND(CAST(p AS DOUBLE) / CAST(t AS DOUBLE), 6) AS mean_before,
               ROUND(CAST(tot - p AS DOUBLE) / CAST(nn - t AS DOUBLE), 6) AS mean_after,
               gs AS g_stat
        FROM g WHERE rk = 1
    """
    # Skyline: the oracle is the DEFINITION (quadratic NOT EXISTS over
    # distinct pairs) — proving the engine's bucketed decomposition
    # exact, not replaying it.
    sql["skyline_pareto"] = """
        WITH pairs AS (
          SELECT p_retailprice AS x, p_size AS y, CAST(COUNT(*) AS BIGINT) AS n_rows
          FROM part GROUP BY 1, 2)
        SELECT x AS price, y AS size, n_rows
        FROM pairs a
        WHERE NOT EXISTS (
          SELECT 1 FROM pairs b
          WHERE b.x <= a.x AND b.y >= a.y AND (b.x < a.x OR b.y > a.y))
    """
    # Link prediction: wedge join at ≤64-degree centers (the same
    # max_degree=64 the driver call passes — keep all three in sync),
    # AA weight
    # floor(1e9/ln d) (libm — bit-identical to the engine's driver
    # pass), anti-join vs edges, total-order top-50.
    sql["link_prediction"] = """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        adj AS (SELECT u AS n, v AS nb FROM e UNION ALL SELECT v, u FROM e),
        d AS (SELECT n, COUNT(*) AS d FROM adj GROUP BY n),
        ctr AS (SELECT n, CAST(FLOOR(1e9 / LN(CAST(d AS DOUBLE))) AS BIGINT) AS w_nano
                FROM d WHERE d BETWEEN 2 AND 64),
        wedge AS (
          SELECT p.nb AS item_a, q.nb AS item_b, ctr.w_nano
          FROM adj p JOIN adj q ON p.n = q.n AND p.nb < q.nb
          JOIN ctr ON ctr.n = p.n),
        sc AS (
          SELECT item_a, item_b, CAST(COUNT(*) AS BIGINT) AS cn,
                 CAST(SUM(w_nano) AS BIGINT) AS aa_nano
          FROM wedge GROUP BY 1, 2)
        SELECT item_a, item_b, cn, aa_nano
        FROM sc
        WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = item_a AND e.v = item_b)
        ORDER BY cn DESC, aa_nano DESC, item_a, item_b
        LIMIT 50
    """
    # Frequent triples: the engine's Apriori prune is result-neutral,
    # so the oracle is the plain 3-way self-join over capped baskets.
    sql["itemset_triples"] = """
        WITH sized AS (
          SELECT l_orderkey AS bk, COUNT(DISTINCT l_partkey % 100) AS c
          FROM lineitem GROUP BY 1),
        capped AS (SELECT bk FROM sized WHERE c BETWEEN 2 AND 64),
        items AS (
          SELECT DISTINCT l.l_orderkey AS bk, l.l_partkey % 100 AS it
          FROM lineitem l JOIN capped ON capped.bk = l.l_orderkey),
        t AS (
          SELECT a.it AS item_a, b.it AS item_b, c.it AS item_c,
                 CAST(COUNT(*) AS BIGINT) AS n_abc
          FROM items a
          JOIN items b ON a.bk = b.bk AND a.it < b.it
          JOIN items c ON b.bk = c.bk AND b.it < c.it
          GROUP BY 1, 2, 3 HAVING COUNT(*) >= 4),
        nb AS (SELECT COUNT(*) AS n FROM capped)
        SELECT item_a, item_b, item_c, n_abc,
               ROUND(CAST(n_abc AS DOUBLE) / CAST(nb.n AS DOUBLE), 6) AS support
        FROM t, nb
    """
    # MI profile: exact joint/marginals, per-cell PMI floor-scaled
    # from the literally mirrored double expression.
    sql["mutual_information"] = """
        WITH j AS (
          SELECT o_orderpriority AS x, o_orderstatus AS y,
                 CAST(COUNT(*) AS BIGINT) AS n_xy
          FROM orders GROUP BY 1, 2),
        m AS (
          SELECT x, y, n_xy,
                 CAST(SUM(n_xy) OVER (PARTITION BY x) AS BIGINT) AS n_x,
                 CAST(SUM(n_xy) OVER (PARTITION BY y) AS BIGINT) AS n_y,
                 CAST(SUM(n_xy) OVER () AS BIGINT) AS nn
          FROM j)
        SELECT x AS priority, y AS status, n_xy, n_x, n_y,
               CAST(FLOOR(1e9 * LN((CAST(n_xy AS DOUBLE) * CAST(nn AS DOUBLE))
                                   / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))))
                    AS BIGINT) AS pmi_nano,
               CAST(n_xy * CAST(FLOOR(1e9 * LN((CAST(n_xy AS DOUBLE) * CAST(nn AS DOUBLE))
                                               / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))))
                                AS BIGINT) AS BIGINT) AS mi_contrib_nano
        FROM m
    """
    # JL projection: the identical ±1 literal matrix (md5 parity in
    # CPython via rp_signs), indexed-lambda elementwise product,
    # list_sum == Spark's left-to-right aggregate (probed).
    from awi_datapipelinepublic_spark.operators.similarity import rp_signs

    _rp = rp_signs(8, 64)
    _rp_cols = ",\n               ".join(
        "ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]), "
        f"(x, i) -> x * ([{', '.join(repr(v) for v in row)}]::DOUBLE[])[i])), 6) "
        f"AS proj_{j}"
        for j, row in enumerate(_rp)
    )
    sql["random_projection"] = f"""
        SELECT vec_id,
               {_rp_cols}
        FROM embeddings
    """
    # Poisson bootstrap: md5-uniform Poisson(1) inverse CDF (libm
    # threshold literals via repr — identical doubles), exact BIGINT
    # replicate sums, quantile_cont == Spark percentile.
    import math as _math

    _cum, _term = [], _math.exp(-1.0)
    _acc = _term
    for _k in range(7):
        _cum.append(_acc)
        _term = _term / (_k + 1)
        _acc += _term
    _w_case = "CASE " + " ".join(
        f"WHEN u < {t!r}::DOUBLE THEN {k}" for k, t in enumerate(_cum)
    ) + " ELSE 7 END"
    sql["poisson_bootstrap"] = f"""
        WITH r AS (
          SELECT event_type AS k, event_id,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS c,
                 unnest(range(0, 32)) AS b
          FROM events),
        uu AS (
          SELECT k, b, c,
                 ('0x' || substr(md5('bs#' || (b // 4) || '#' || event_id),
                                 1 + 8 * (b % 4), 8))::UBIGINT::DOUBLE
                   / 4294967296.0 AS u
          FROM r),
        ww AS (SELECT k, b, c, {_w_case} AS w FROM uu),
        rep AS (
          SELECT k, b, CAST(SUM(w) AS BIGINT) AS n_eff,
                 CAST(SUM(w * c) AS BIGINT) AS wsum,
                 COUNT(*) AS n
          FROM ww GROUP BY 1, 2),
        m AS (
          SELECT k,
                 (CASE WHEN n_eff = 0 THEN NULL
                       ELSE CAST(wsum AS DOUBLE) / CAST(n_eff AS DOUBLE) END)
                   / (100.0::DOUBLE) AS m,
                 n
          FROM rep)
        SELECT k AS event_type,
               CAST(MAX(n) AS BIGINT) AS n_rows,
               ROUND(quantile_cont(m, 0.5), 6) AS mean,
               ROUND(quantile_cont(m, 0.025), 6) AS ci_lo,
               ROUND(quantile_cont(m, 0.975), 6) AS ci_hi
        FROM m GROUP BY 1
    """
    # Packing decision table: whitespace token counts via the shared
    # _TOKS normalization, exact-integer ceils ((t+L-1)//L), one
    # division per waste ratio.
    sql["packing_efficiency"] = f"""
        WITH d AS (
          SELECT CAST(len({_TOKS}) AS BIGINT) AS t FROM documents),
        e AS (
          SELECT t, unnest([512, 1024, 2048]) AS seq_len FROM d),
        a AS (
          SELECT CAST(seq_len AS INT) AS seq_len,
                 CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(t) AS BIGINT) AS total_tokens,
                 CAST(SUM((t + seq_len - 1) // seq_len) AS BIGINT) AS n_chunks
          FROM e GROUP BY 1)
        SELECT seq_len, n_docs, total_tokens, n_chunks,
               CAST(n_chunks * seq_len AS BIGINT) AS padded_slots,
               ROUND(1.0::DOUBLE - CAST(total_tokens AS DOUBLE)
                     / CAST(n_chunks * seq_len AS DOUBLE), 6) AS pad_waste,
               CAST((total_tokens + seq_len - 1) // seq_len AS BIGINT) AS concat_sequences,
               ROUND(1.0::DOUBLE - CAST(total_tokens AS DOUBLE)
                     / CAST(((total_tokens + seq_len - 1) // seq_len) * seq_len AS DOUBLE), 6)
                 AS concat_waste
        FROM a
    """
    # Spearman: rank2 = 2·cum − c + 1 (twice the tie-averaged rank,
    # exact integer; the 2× cancels), moment sums exact, formula in
    # DOUBLE — identical expression shape to the engine.
    sql["spearman_corr"] = """
        WITH xc AS (SELECT l_quantity AS v, COUNT(*) AS c FROM lineitem GROUP BY 1),
        xr AS (SELECT v, 2 * SUM(c) OVER (ORDER BY v) - c + 1 AS r2 FROM xc),
        yc AS (SELECT l_extendedprice AS v, COUNT(*) AS c FROM lineitem GROUP BY 1),
        yr AS (SELECT v, 2 * SUM(c) OVER (ORDER BY v) - c + 1 AS r2 FROM yc),
        j AS (
          SELECT xr.r2 AS rx, yr.r2 AS ry
          FROM lineitem l
          JOIN xr ON l.l_quantity = xr.v
          JOIN yr ON l.l_extendedprice = yr.v),
        s AS (
          SELECT COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
                 SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
                 SUM(rx * ry) AS sxy
          FROM j)
        SELECT CAST(n AS BIGINT) AS n_rows,
               ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS rho
        FROM s
    """
    # LOO target encoding: exact-integer numerator/denominator cleared
    # of the float global mean, one double division.
    sql["target_encode"] = """
        WITH b AS (
          SELECT c_custkey, c_mktsegment,
                 CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS y
          FROM customer),
        cat AS (
          SELECT c_mktsegment AS cs, CAST(SUM(y) AS BIGINT) AS s_cat,
                 CAST(COUNT(*) AS BIGINT) AS n_cat
          FROM b GROUP BY 1),
        g AS (SELECT CAST(SUM(y) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n FROM b)
        SELECT b.c_custkey, b.c_mktsegment,
               ROUND(CAST((cat.s_cat - b.y) * g.n + 20 * g.s AS DOUBLE)
                     / (CAST((cat.n_cat - 1 + 20) * g.n AS DOUBLE) * 100.0::DOUBLE),
                     6) AS te
        FROM b JOIN cat ON b.c_mktsegment = cat.cs, g
    """
    # Weighted quantiles: integer inverse-CDF predicate over the
    # value-ordered cumulative weight — q labels are n/d doubles.
    # Weights go through the explicit half-up rule floor(w + 0.5)
    # (NOT a bare decimal→BIGINT cast: Spark truncates, DuckDB rounds
    # — the rule makes both engines agree by construction).
    sql["weighted_quantiles"] = """
        WITH c AS (
          SELECT l_extendedprice AS v,
                 CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS w
          FROM lineitem WHERE l_extendedprice IS NOT NULL GROUP BY 1),
        r AS (SELECT v, SUM(w) OVER (ORDER BY v) AS cw FROM c),
        t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM c),
        q AS (SELECT * FROM (VALUES (1, 4, 0.25), (1, 2, 0.5), (3, 4, 0.75))
              AS q(num, den, q))
        SELECT q.q AS q, MIN(r.v) AS l_extendedprice
        FROM r, t, q
        WHERE q.den * r.cw >= q.num * t.tw
        GROUP BY 1
    """
    # Semantic decontamination: knn_join_ivf's deterministic IVF CTEs
    # (the operator's corpus ∪ test IS the full table), NOT EXISTS over
    # same-cluster test vectors at the 9dp-rounded threshold.
    sql["semantic_decontaminate"] = """
        WITH params AS (
          SELECT GREATEST(8, LEAST(65536, COUNT(*) // 64)) AS k_,
                 GREATEST(1, COUNT(*) // GREATEST(8, LEAST(65536, COUNT(*) // 64))) AS s
          FROM embeddings),
        cents0 AS (
          SELECT CAST(embedding AS DOUBLE[]) AS c,
                 ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
          FROM embeddings, params WHERE vec_id % s = 0),
        cents AS (SELECT c, ci FROM cents0, params WHERE ci < k_),
        assigned AS (
          SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
                 (SELECT c2.ci FROM cents c2
                  ORDER BY ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c2.c), 9) DESC,
                           c2.ci ASC LIMIT 1) AS cluster
          FROM embeddings e)
        SELECT a.vec_id
        FROM assigned a
        WHERE a.vec_id % 20 <> 0
          AND NOT EXISTS (
            SELECT 1 FROM assigned b
            WHERE b.vec_id % 20 = 0 AND b.cluster = a.cluster
              AND ROUND(list_cosine_similarity(a.v, b.v), 9) >= 0.2::DOUBLE)
    """
    # Session paths: the events_session CTE with the (ts, event_id)
    # tiebreak, ordered string_agg, size cap, top-20 total order.
    sql["session_paths"] = """
        WITH g AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
        s AS (
          SELECT user_id, ts, event_id, event_type,
                 SUM(new_s) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC
                                  ROWS UNBOUNDED PRECEDING) AS sno
          FROM g),
        p AS (
          SELECT string_agg(event_type, '>' ORDER BY ts ASC, event_id ASC) AS path,
                 COUNT(*) AS len
          FROM s GROUP BY user_id, sno),
        c AS (
          SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
          FROM p WHERE len <= 64 GROUP BY path)
        SELECT path, n_sessions FROM c
        ORDER BY n_sessions DESC, path ASC
        LIMIT 20
    """
    # Bipartite projection: plain distinct-pair self-join with the
    # size cap replayed as a HAVING on the group.
    sql["bipartite_project"] = """
        WITH sized AS (
          SELECT l_orderkey AS g, COUNT(DISTINCT l_partkey % 100) AS c
          FROM lineitem GROUP BY 1),
        capped AS (SELECT g FROM sized WHERE c BETWEEN 2 AND 64),
        items AS (
          SELECT DISTINCT l.l_orderkey AS g, l.l_partkey % 100 AS it
          FROM lineitem l JOIN capped ON capped.g = l.l_orderkey)
        SELECT a.it AS item_a, b.it AS item_b,
               CAST(COUNT(*) AS BIGINT) AS weight
        FROM items a JOIN items b ON a.g = b.g AND a.it < b.it
        GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """
    # Rendezvous reshard: per-id argmax of md5('rdv#s#'||id) over the
    # shard set, ties toward the larger shard (mirrors the engine's
    # lexicographic (hash, shard) struct max).
    sql["reshard_movement"] = """
        WITH ids AS (SELECT o_orderkey AS id FROM orders),
        h AS (
          SELECT id, s,
                 ('0x' || substr(md5('rdv#' || s || '#' || id), 1, 8))::UBIGINT AS hv
          FROM ids, (SELECT unnest(range(0, 9)) AS s)),
        a AS (
          SELECT id,
                 (SELECT s FROM h h2 WHERE h2.id = h0.id AND h2.s < 8
                  ORDER BY hv DESC, s DESC LIMIT 1) AS shard_from,
                 (SELECT s FROM h h3 WHERE h3.id = h0.id
                  ORDER BY hv DESC, s DESC LIMIT 1) AS shard_to
          FROM (SELECT DISTINCT id FROM h) h0)
        SELECT CAST(shard_from AS INT) AS shard_from,
               CAST(shard_to AS INT) AS shard_to,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM a GROUP BY 1, 2
    """
    # ACF about the floor-mean: n-free deviations stay BIGINT-exact;
    # products/sums in HUGEINT mirror Spark's DECIMAL(38,0); one double
    # division per lag (operators/timeseries.py:acf_lags).
    sql["acf_lags"] = """
        WITH day AS (
          SELECT CAST(o_orderdate AS DATE) AS d,
                 SUM(CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS cents
          FROM orders GROUP BY 1),
        idx AS (SELECT date_diff('day', (SELECT MIN(d) FROM day), d) AS idx, cents FROM day),
        st AS (SELECT COUNT(*) AS n, SUM(cents) AS s FROM idx),
        ser AS (SELECT idx, cents - (st.s // st.n) AS dev FROM idx, st),
        den AS (SELECT SUM(dev::HUGEINT * dev::HUGEINT) AS den FROM ser),
        lags AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag),
        num AS (SELECT l.lag, COUNT(*) AS n_pairs,
                       SUM(a.dev::HUGEINT * b.dev::HUGEINT) AS num
                FROM ser a CROSS JOIN lags l
                JOIN ser b ON b.idx = a.idx + l.lag
                GROUP BY 1)
        SELECT num.lag, CAST(n_pairs AS BIGINT) AS n_pairs,
               ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
        FROM num, den
    """
    # Holt recursion replayed with the engine's exact op order; the
    # VARCHAR->DECIMAL(38,24) round replica matches Spark F.round's
    # shortest-decimal-string HALF_UP (the ewma precedent, two states).
    sql["holt_linear"] = """
        WITH RECURSIVE e AS (
          SELECT user_id, event_id, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS t
          FROM events WHERE value IS NOT NULL),
        r AS (
          SELECT user_id, event_id, t,
                 CAST(value AS DOUBLE) AS lvl, 0.0::DOUBLE AS trd
          FROM e WHERE t = 0
          UNION ALL
          SELECT e.user_id, e.event_id, e.t,
                 0.3::DOUBLE * e.value
                   + (1.0::DOUBLE - 0.3::DOUBLE) * (r.lvl + r.trd),
                 0.1::DOUBLE * ((0.3::DOUBLE * e.value
                   + (1.0::DOUBLE - 0.3::DOUBLE) * (r.lvl + r.trd)) - r.lvl)
                   + (1.0::DOUBLE - 0.1::DOUBLE) * r.trd
          FROM e JOIN r ON e.user_id = r.user_id AND e.t = r.t + 1)
        SELECT user_id, event_id,
               CAST(ROUND(CAST(CAST(lvl AS VARCHAR) AS DECIMAL(38, 24)), 6) AS DOUBLE) AS level,
               CAST(ROUND(CAST(CAST(trd AS VARCHAR) AS DECIMAL(38, 24)), 6) AS DOUBLE) AS trend
        FROM r
    """
    # Truncated epoch seconds (floor(epoch()) — Spark cast(long)
    # truncates), half-up micro-unit values, HUGEINT sums, one double
    # division (operators/timeseries.py:twap_interval).
    sql["twap_interval"] = """
        WITH base AS (
          SELECT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                 CAST(floor(value * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS vm
          FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        stepped AS (
          SELECT user_id, vm,
                 LEAD(sec) OVER (PARTITION BY user_id ORDER BY sec ASC, vm ASC) - sec AS dt
          FROM base),
        agg AS (
          SELECT user_id, COUNT(*) AS n_intervals,
                 SUM(vm::HUGEINT * dt) AS num, SUM(dt::HUGEINT) AS den
          FROM stepped WHERE dt IS NOT NULL GROUP BY 1)
        SELECT user_id, CAST(n_intervals AS BIGINT) AS n_intervals,
               ROUND(CAST(num AS DOUBLE) / (1000000.0::DOUBLE * CAST(den AS DOUBLE)), 6) AS twap
        FROM agg
    """
    # Identical double formula on exact BIGINT moment sums
    # (operators/events.py:burstiness).
    sql["burstiness"] = """
        WITH g AS (
          SELECT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT)
                 - LAG(CAST(floor(epoch(ts)) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts ASC) AS gap
          FROM events WHERE ts IS NOT NULL),
        s AS (SELECT user_id, COUNT(*) AS n,
                     CAST(SUM(gap) AS BIGINT) AS sg,
                     CAST(SUM(gap * gap) AS BIGINT) AS qg
              FROM g WHERE gap IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 5)
        SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
               ROUND((sqrt((CAST(n AS DOUBLE) * CAST(qg AS DOUBLE)
                            - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                           / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
                      - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
                     / (sqrt((CAST(n AS DOUBLE) * CAST(qg AS DOUBLE)
                              - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
                        + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS burstiness
        FROM s
    """
    # Ten-thousandths-exact revenue, HUGEINT share squares, one double
    # division (operators/quality.py:hhi_concentration).
    sql["hhi_concentration"] = """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(floor(l_extendedprice * (1.0::DOUBLE - l_discount)
                            * 10000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS r
          FROM lineitem),
        mem AS (
          SELECT n.n_name AS n_name, v.l_suppkey AS sk,
                 CAST(SUM(v.r) AS BIGINT) AS amt
          FROM rev v
          JOIN supplier s ON v.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          GROUP BY 1, 2)
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_members,
               ROUND(CAST(SUM(amt::HUGEINT * amt::HUGEINT) AS DOUBLE)
                     / (CAST(SUM(amt::HUGEINT) AS DOUBLE)
                        * CAST(SUM(amt::HUGEINT) AS DOUBLE)), 6) AS hhi
        FROM mem GROUP BY 1
    """
    # Capped-LCC replay: same top-20 (degree desc, id asc), same
    # 64-lowest-id neighbor cap, same pair->edge semi probe
    # (operators/graph.py:local_clustering_topk).
    sql["lcc_topk"] = """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        top AS (SELECT a, d FROM deg ORDER BY d DESC, a ASC LIMIT 20),
        nb AS (SELECT s.a, s.b,
                      ROW_NUMBER() OVER (PARTITION BY s.a ORDER BY s.b ASC) AS rk
               FROM sym s JOIN top t ON s.a = t.a),
        cap AS (SELECT a, b FROM nb WHERE rk <= 64),
        cnt AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS c FROM cap GROUP BY 1),
        pr AS (SELECT x.a, x.b AS nu, y.b AS nv
               FROM cap x JOIN cap y ON x.a = y.a AND x.b < y.b),
        tri AS (SELECT pr.a, CAST(COUNT(*) AS BIGINT) AS t
                FROM pr JOIN e ON e.u = pr.nu AND e.v = pr.nv GROUP BY 1)
        SELECT t2.a AS node, t2.d AS degree, cnt.c AS c_capped,
               CAST(COALESCE(tri.t, 0) AS BIGINT) AS triangles,
               ROUND(2.0::DOUBLE * CAST(COALESCE(tri.t, 0) AS DOUBLE)
                     / (CAST(cnt.c AS DOUBLE) * (CAST(cnt.c AS DOUBLE) - 1.0::DOUBLE)), 6) AS lcc
        FROM top t2 JOIN cnt ON cnt.a = t2.a LEFT JOIN tri ON tri.a = t2.a
    """
    # md5 split rule + md5-portable band keys; a holdout doc's band_no
    # determines its bkey, so distinct matched band_nos == distinct
    # matched (band_no, bkey) pairs (operators/dedup.py:
    # split_leakage_audit).
    sql["split_leakage"] = f"""
        WITH {_minhash_band_ctes(k=3)},
        sp AS (SELECT doc_id,
                 CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'val'
                      WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' THEN 'test'
                      ELSE 'train' END AS split
               FROM documents),
        tr AS (SELECT b.band_no, b.bkey, b.doc_id AS tid
               FROM bands b JOIN sp ON sp.doc_id = b.doc_id
               WHERE sp.split = 'train'),
        ho AS (SELECT b.doc_id, sp.split, b.band_no, b.bkey
               FROM bands b JOIN sp ON sp.doc_id = b.doc_id
               WHERE sp.split <> 'train')
        SELECT ho.doc_id, ho.split,
               CAST(COUNT(DISTINCT ho.band_no) AS BIGINT) AS n_shared_bands,
               CAST(MIN(tr.tid) AS BIGINT) AS train_match
        FROM ho JOIN tr ON ho.band_no = tr.band_no AND ho.bkey = tr.bkey
        GROUP BY 1, 2
    """
    # UniMax greedy walked in ascending (size, lang) order by a
    # recursive CTE carrying the remaining budget — integer arithmetic
    # only (operators/sampling.py:unimax_weights).
    sql["unimax_weights"] = """
        WITH RECURSIVE sz AS (
          SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1),
        ord AS (SELECT lang, n_tokens,
                       ROW_NUMBER() OVER (ORDER BY n_tokens ASC, lang ASC) AS rk,
                       (SELECT COUNT(*) FROM sz) AS total
                FROM sz),
        alloc AS (
          SELECT rk, lang, n_tokens,
                 LEAST(2 * n_tokens, CAST(500000 AS BIGINT) // (total - rk + 1)) AS quota,
                 CAST(500000 AS BIGINT)
                   - LEAST(2 * n_tokens, CAST(500000 AS BIGINT) // (total - rk + 1)) AS rem,
                 total
          FROM ord WHERE rk = 1
          UNION ALL
          SELECT o.rk, o.lang, o.n_tokens,
                 LEAST(2 * o.n_tokens, a.rem // (o.total - o.rk + 1)),
                 a.rem - LEAST(2 * o.n_tokens, a.rem // (o.total - o.rk + 1)),
                 o.total
          FROM ord o JOIN alloc a ON o.rk = a.rk + 1)
        SELECT lang, n_tokens, CAST(quota AS BIGINT) AS quota,
               ROUND(CAST(quota AS DOUBLE) / 500000.0::DOUBLE, 6) AS weight
        FROM alloc
    """
    # Spark dow (1=Sunday) == DuckDB dayofweek + 1; exact cents sums,
    # one double share division (operators/timeseries.py:
    # weekday_profile).
    sql["weekday_profile"] = """
        WITH d AS (
          SELECT dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
                 CAST(o_orderdate AS DATE) AS dd,
                 CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS amt
          FROM orders),
        per AS (SELECT dow, CAST(COUNT(DISTINCT dd) AS BIGINT) AS n_days,
                       CAST(SUM(amt) AS BIGINT) AS total
                FROM d GROUP BY 1),
        g AS (SELECT SUM(total) AS gt FROM per)
        SELECT CAST(dow AS INTEGER) AS dow, n_days, total,
               ROUND(CAST(total AS DOUBLE) / CAST(gt AS DOUBLE), 6) AS share
        FROM per, g
    """
    # 9dp mean round via the VARCHAR->DECIMAL(38,24) Spark-F.round
    # replica, nano-unit HUGEINT moments, one double cosine
    # (operators/similarity.py:embedding_drift).
    sql["embedding_drift"] = """
        WITH ev AS (
          SELECT vec_id % 2 AS half,
                 unnest(range(len(embedding))) AS dim,
                 unnest(CAST(embedding AS DOUBLE[])) AS val
          FROM embeddings),
        m AS (SELECT half, dim, COUNT(*) AS n,
                     CAST(floor(
                       CAST(ROUND(CAST(CAST(AVG(val) AS VARCHAR) AS DECIMAL(38, 24)), 9) AS DOUBLE)
                       * 1000000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS mm
              FROM ev GROUP BY 1, 2),
        a AS (SELECT dim, mm AS ma, n AS na FROM m WHERE half = 0),
        b AS (SELECT dim, mm AS mb, n AS nb FROM m WHERE half = 1),
        s AS (SELECT CAST(MAX(na) AS BIGINT) AS n_even,
                     CAST(MAX(nb) AS BIGINT) AS n_odd,
                     SUM(ma::HUGEINT * mb) AS ab,
                     SUM(ma::HUGEINT * ma) AS aa,
                     SUM(mb::HUGEINT * mb) AS bb
              FROM a JOIN b USING (dim))
        SELECT n_even, n_odd,
               ROUND(CAST(ab AS DOUBLE)
                     / (sqrt(CAST(aa AS DOUBLE)) * sqrt(CAST(bb AS DOUBLE))), 6) AS drift_cos
        FROM s
    """
    # Same top-20, same 32-lowest-id per-hop cap, self excluded at
    # distance 2 (operators/graph.py:two_hop_reach).
    sql["two_hop_reach"] = """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        top AS (SELECT a, d FROM deg ORDER BY d DESC, a ASC LIMIT 20),
        cap AS (SELECT a, b FROM (
                  SELECT a, b, ROW_NUMBER() OVER (PARTITION BY a ORDER BY b ASC) AS rk
                  FROM sym) WHERE rk <= 32),
        h1 AS (SELECT c.a, c.b FROM cap c JOIN top t ON c.a = t.a),
        h2 AS (SELECT h.a, c2.b FROM h1 h JOIN cap c2 ON c2.a = h.b),
        r1 AS (SELECT a, CAST(COUNT(DISTINCT b) AS BIGINT) AS reach_1 FROM h1 GROUP BY 1),
        bo AS (SELECT a, b FROM h1 UNION ALL SELECT a, b FROM h2),
        r2 AS (SELECT a, CAST(COUNT(DISTINCT b) AS BIGINT) AS reach_2
               FROM bo WHERE a <> b GROUP BY 1)
        SELECT t.a AS node, t.d AS degree,
               CAST(COALESCE(r1.reach_1, 0) AS BIGINT) AS reach_1,
               CAST(COALESCE(r2.reach_2, 0) AS BIGINT) AS reach_2
        FROM top t LEFT JOIN r1 ON r1.a = t.a LEFT JOIN r2 ON r2.a = t.a
    """
    # Bit-length buckets via unpadded base-2 strings (bin() here,
    # conv(d,10,2) in Spark) — libm-free (operators/graph.py:
    # degree_histogram).
    sql["degree_histogram"] = """
        WITH e AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
        deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1)
        SELECT CAST(length(bin(d)) - 1 AS INTEGER) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(MIN(d) AS BIGINT) AS min_deg,
               CAST(MAX(d) AS BIGINT) AS max_deg
        FROM deg GROUP BY 1
    """
    # nDCG@5 of IVF vs exact: same CTE chain as ann_recall_eval with
    # the approx rank kept; 1/log2(i+1) nano-weights are CPython
    # literals identical to operators/similarity.py:_ndcg_weights_nano.
    sql["ann_ndcg_eval"] = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        exact AS (
          SELECT a_id, b_id FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                              b.vec_id ASC) AS rk
            FROM e a JOIN e b ON a.vec_id <> b.vec_id) t
          WHERE rk <= 5),
        params AS (
          SELECT GREATEST(8, LEAST(65536, COUNT(*) // 64)) AS k_,
                 GREATEST(1, COUNT(*) // GREATEST(8, LEAST(65536, COUNT(*) // 64))) AS s
          FROM embeddings),
        cents0 AS (
          SELECT CAST(embedding AS DOUBLE[]) AS c,
                 ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
          FROM embeddings, params WHERE vec_id % s = 0),
        cents AS (SELECT c, ci FROM cents0, params WHERE ci < k_),
        assigned AS (
          SELECT e2.vec_id, CAST(e2.embedding AS DOUBLE[]) AS v,
                 (SELECT c2.ci FROM cents c2
                  ORDER BY ROUND(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), c2.c), 9) DESC,
                           c2.ci ASC LIMIT 1) AS cluster
          FROM embeddings e2),
        approx AS (
          SELECT a_id, b_id, rk FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                              b.vec_id ASC) AS rk
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vec_id <> b.vec_id) t
          WHERE rk <= 5),
        relw AS (
          SELECT ap.a_id, CASE ap.rk WHEN 1 THEN 1000000000 WHEN 2 THEN 630929754 WHEN 3 THEN 500000000 WHEN 4 THEN 430676558 WHEN 5 THEN 386852807 END AS w
          FROM approx ap JOIN exact ex ON ex.a_id = ap.a_id AND ex.b_id = ap.b_id),
        dcg AS (SELECT a_id, CAST(SUM(w) AS BIGINT) AS dcg_nano FROM relw GROUP BY 1),
        base AS (SELECT a_id, CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact GROUP BY 1)
        SELECT base.a_id, base.n_exact,
               CAST(COALESCE(dcg.dcg_nano, 0) AS BIGINT) AS dcg_nano,
               ROUND(CAST(COALESCE(dcg.dcg_nano, 0) AS DOUBLE)
                     / CAST(CASE LEAST(base.n_exact, 5) WHEN 1 THEN 1000000000 WHEN 2 THEN 1630929754 WHEN 3 THEN 2130929754 WHEN 4 THEN 2561606312 WHEN 5 THEN 2948459119 END AS DOUBLE), 6) AS ndcg
        FROM base LEFT JOIN dcg ON dcg.a_id = base.a_id
    """
    # Dow-detrended rolling anomaly: integer deviation n·n_dow − S_dow,
    # then rolling_anomaly's exact cleared inequality (operators/
    # timeseries.py:seasonal_anomaly).
    sql["seasonal_anomaly"] = """
        WITH d AS (
          SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        pd AS (
          SELECT event_type, dayofweek(day) AS dw,
                 CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(n) AS BIGINT) AS sd
          FROM d GROUP BY 1, 2),
        dv AS (
          SELECT d.event_type, d.day, d.n * pd.nd - pd.sd AS dev
          FROM d JOIN pd ON pd.event_type = d.event_type
                        AND pd.dw = dayofweek(d.day)),
        w AS (
          SELECT event_type, day, dev,
                 SUM(dev) OVER f AS s,
                 SUM(dev * dev) OVER f AS q,
                 COUNT(dev) OVER f AS c
          FROM dv
          WINDOW f AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        SELECT event_type, day, CAST(dev AS BIGINT) AS dev,
               CASE WHEN c = 7 THEN CAST(s AS BIGINT) END AS base_sum,
               CASE WHEN c = 7 THEN CAST(q AS BIGINT) END AS base_sumsq,
               CASE WHEN c = 7 THEN CAST(
                 CAST(7 * dev - s AS DOUBLE) * CAST(7 * dev - s AS DOUBLE) * 6.0
                 > 9.0 * 7.0 * CAST(7 * q - s * s AS DOUBLE) AS INT)
               END AS is_anomaly
        FROM w
    """
    # Average-rank percentiles per group: the spearman rank layout
    # scoped per segment, one double division by 2n (operators/
    # quality.py:percentile_normalize).
    sql["percentile_normalize"] = """
        WITH b AS (
          SELECT c_custkey, c_mktsegment, c_acctbal
          FROM customer WHERE c_acctbal IS NOT NULL),
        cnt AS (SELECT c_mktsegment AS seg, c_acctbal AS v, COUNT(*) AS c
                FROM b GROUP BY 1, 2),
        rk AS (SELECT seg, v,
                      2 * SUM(c) OVER (PARTITION BY seg ORDER BY v) - c + 1 AS r2
               FROM cnt),
        n AS (SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1)
        SELECT b.c_custkey, b.c_mktsegment,
               ROUND(CAST(rk.r2 AS DOUBLE) / (2.0::DOUBLE * CAST(n.n AS DOUBLE)), 6) AS pct
        FROM b
        JOIN rk ON rk.seg = b.c_mktsegment AND rk.v = b.c_acctbal
        JOIN n ON n.seg = b.c_mktsegment
    """
    # --- Round-11 oracles --------------------------------------------
    # RFM rank-quantile census: closed-form score 1 + ((rank-1)*4)//n
    # over deterministic total orders (operators/events.py:
    # rfm_segments). Pure integers.
    sql["rfm_segments"] = """
        WITH per AS (
          SELECT o_custkey AS c, MAX(CAST(o_orderdate AS DATE)) AS lastd,
                 CAST(COUNT(*) AS BIGINT) AS freq,
                 CAST(SUM(CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS BIGINT) AS mon
          FROM orders GROUP BY 1),
        mx AS (SELECT MAX(lastd) AS maxd FROM per),
        r AS (SELECT c, CAST(date_diff('day', lastd, maxd) AS BIGINT) AS rec,
                     freq, mon
              FROM per, mx),
        rk AS (SELECT mon,
                      ROW_NUMBER() OVER (ORDER BY rec ASC, c ASC) AS rr,
                      ROW_NUMBER() OVER (ORDER BY freq DESC, c ASC) AS rf,
                      ROW_NUMBER() OVER (ORDER BY mon DESC, c ASC) AS rm,
                      COUNT(*) OVER () AS n
               FROM r)
        SELECT CAST(1 + ((rr - 1) * 4) // n AS INT) AS r_score,
               CAST(1 + ((rf - 1) * 4) // n AS INT) AS f_score,
               CAST(1 + ((rm - 1) * 4) // n AS INT) AS m_score,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(mon) AS BIGINT) AS monetary_cents
        FROM rk GROUP BY 1, 2, 3
    """
    # Theil-Sen: every pairwise slope is one double division of exact
    # integers (identical operands cross-engine); median ranks
    # (m+1)//2 and (m+2)//2 of the (slope, i, j) total order
    # (operators/timeseries.py:theil_sen_trend).
    sql["theil_sen_trend"] = """
        WITH m AS (
          SELECT CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS BIGINT) AS i,
                 CAST(SUM(CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS BIGINT) AS v
          FROM orders GROUP BY 1),
        p AS (
          SELECT a.i AS i, b.i AS j,
                 CAST(b.v - a.v AS DOUBLE) / CAST(b.i - a.i AS DOUBLE) AS slope
          FROM m a JOIN m b ON a.i < b.i),
        r AS (
          SELECT slope,
                 ROW_NUMBER() OVER (ORDER BY slope ASC, i ASC, j ASC) AS rn,
                 COUNT(*) OVER () AS mcnt
          FROM p)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_points,
               CAST(MAX(mcnt) AS BIGINT) AS n_pairs,
               SUM(slope) / COUNT(*) AS slope
        FROM r WHERE rn = (mcnt + 1) // 2 OR rn = (mcnt + 2) // 2
    """
    # Per-nation OLS slope from HUGEINT-exact moment sums; the 6dp
    # round rides the VARCHAR->DECIMAL(38,24) F.round replica
    # (operators/timeseries.py:trend_by_group).
    sql["trend_by_group"] = """
        WITH o AS (
          SELECT o_custkey,
                 CAST((year(o_orderdate) - 1992) * 12 + month(o_orderdate) - 1 AS BIGINT) AS x,
                 CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS cents
          FROM orders),
        j AS (SELECT c.c_nationkey AS g, o.x AS x, o.cents AS cents
              FROM o JOIN customer c ON c.c_custkey = o.o_custkey),
        m AS (SELECT g, x, CAST(SUM(cents) AS BIGINT) AS y FROM j GROUP BY 1, 2),
        s AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
                     SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
                     SUM(CAST(x AS HUGEINT) * y) AS sxy,
                     SUM(CAST(x AS HUGEINT) * x) AS sxx
              FROM m GROUP BY 1)
        SELECT g AS c_nationkey, CAST(n AS BIGINT) AS n_points,
               CAST(ROUND(CAST(CAST(
                 CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
               AS VARCHAR) AS DECIMAL(38, 24)), 6) AS DOUBLE) AS slope
        FROM s
    """
    # U-shaped attribution in exact basis points: 40/40 first/last,
    # 2000//(k-2) per middle, remainder to the first touch
    # (operators/events.py:attribution_position).
    sql["attribution_position"] = """
        WITH conv AS (
          SELECT user_id, MIN(ts) AS cts FROM events
          WHERE event_type = 'purchase' GROUP BY 1),
        t AS (
          SELECT e.user_id AS user_id, e.event_type AS event_type,
                 ROW_NUMBER() OVER (PARTITION BY e.user_id
                                    ORDER BY e.ts ASC, e.event_id ASC) AS pos,
                 COUNT(*) OVER (PARTITION BY e.user_id) AS k
          FROM events e JOIN conv c ON e.user_id = c.user_id AND e.ts < c.cts
          WHERE e.event_type IN ('click', 'view', 'signup')),
        cr AS (
          SELECT event_type AS touch_type,
                 CAST(CASE WHEN k = 1 THEN 10000
                           WHEN k = 2 THEN 5000
                           ELSE CASE WHEN pos = 1 THEN 4000 + (2000 - (2000 // (k - 2)) * (k - 2))
                                     WHEN pos = k THEN 4000
                                     ELSE 2000 // (k - 2) END
                      END AS BIGINT) AS bp
          FROM t),
        none_p AS (
          SELECT '(none)' AS touch_type, CAST(10000 AS BIGINT) AS bp
          FROM conv c
          WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.user_id = c.user_id)),
        allc AS (SELECT touch_type, bp FROM cr
                 UNION ALL SELECT touch_type, bp FROM none_p)
        SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(bp) AS BIGINT) AS credit_bp
        FROM allc GROUP BY 1
    """
    # Gaps-and-islands longest-streak census: island key day - rn
    # (operators/events.py:activity_streaks). Pure integers.
    sql["activity_streaks"] = """
        WITH a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        i AS (SELECT u, d - CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY d ASC) AS INT) AS isl
              FROM a),
        runs AS (SELECT u, isl, CAST(COUNT(*) AS INT) AS len FROM i GROUP BY 1, 2),
        lg AS (SELECT u, MAX(len) AS streak_days FROM runs GROUP BY 1)
        SELECT CAST(streak_days AS INT) AS streak_days,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM lg GROUP BY 1
    """
    # CDC materialization: highest-seq op wins, delete tombstones drop
    # the key (operators/merge.py:cdc_apply).
    sql["cdc_apply"] = """
        WITH ch AS (
          SELECT o_custkey, o_orderkey,
                 CASE WHEN o_orderstatus = 'F' THEN 'I'
                      WHEN o_orderstatus = 'O' THEN 'U'
                      ELSE 'D' END AS op,
                 CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS cents
          FROM orders)
        SELECT o_custkey, o_orderkey, op, cents FROM ch
        QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) = 1
                AND op <> 'D'
    """
    # Bounded multi-source BFS as a recursive CTE: (node, dist) pairs
    # dedupe via UNION, MIN(dist) is the hop distance (operators/
    # graph.py:bfs_distance). Same chain fixture as
    # connected_components.
    sql["bfs_distance"] = """
        WITH RECURSIVE
        edges AS (
          SELECT a.c_custkey AS src, b.c_custkey AS dst
          FROM customer a JOIN customer b ON a.c_custkey + 1 = b.c_custkey
          WHERE a.c_custkey % 5 <> 4),
        sym AS (SELECT src, dst FROM edges UNION SELECT dst AS src, src AS dst FROM edges),
        walk AS (
          SELECT c_custkey AS node, 0 AS dist FROM customer WHERE c_custkey % 100 = 0
          UNION
          SELECT s.dst AS node, w.dist + 1 AS dist
          FROM walk w JOIN sym s ON s.src = w.node
          WHERE w.dist < 3)
        SELECT node, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY node
    """
    # MRR of the IVF index vs brute top-1: replays the ndcg oracle's
    # IVF assignment CTEs; rr = ROUND(1/rank, 6) (operators/
    # similarity.py:ann_mrr_eval).
    sql["ann_mrr_eval"] = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        exact1 AS (
          SELECT a_id, b_id AS true_nn FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                              b.vec_id ASC) AS rk
            FROM e a JOIN e b ON a.vec_id <> b.vec_id) t
          WHERE rk = 1),
        params AS (
          SELECT GREATEST(8, LEAST(65536, COUNT(*) // 64)) AS k_,
                 GREATEST(1, COUNT(*) // GREATEST(8, LEAST(65536, COUNT(*) // 64))) AS s
          FROM embeddings),
        cents0 AS (
          SELECT CAST(embedding AS DOUBLE[]) AS c,
                 ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS ci
          FROM embeddings, params WHERE vec_id % s = 0),
        cents AS (SELECT c, ci FROM cents0, params WHERE ci < k_),
        assigned AS (
          SELECT e2.vec_id, CAST(e2.embedding AS DOUBLE[]) AS v,
                 (SELECT c2.ci FROM cents c2
                  ORDER BY ROUND(list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]), c2.c), 9) DESC,
                           c2.ci ASC LIMIT 1) AS cluster
          FROM embeddings e2),
        approx AS (
          SELECT a_id, b_id, rk FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                              b.vec_id ASC) AS rk
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vec_id <> b.vec_id) t
          WHERE rk <= 5),
        hit AS (
          SELECT ap.a_id AS a_id, ap.rk AS rk
          FROM approx ap JOIN exact1 x
            ON x.a_id = ap.a_id AND x.true_nn = ap.b_id)
        SELECT x.a_id, x.true_nn,
               CAST(COALESCE(h.rk, 0) AS INT) AS "rank",
               CASE WHEN h.rk IS NULL THEN 0.0::DOUBLE
                    ELSE ROUND(1.0::DOUBLE / h.rk, 6) END AS rr
        FROM exact1 x LEFT JOIN hit h ON h.a_id = x.a_id
    """
    # Keep-best survivorship per exact-dup fingerprint cluster:
    # score DESC, id ASC (operators/dedup.py:dedup_keep_best).
    sql["dedup_keep_best"] = f"""
        WITH d AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS score,
                 md5({_NORM}) AS fp
          FROM documents),
        r AS (
          SELECT doc_id, score,
                 ROW_NUMBER() OVER (PARTITION BY fp ORDER BY score DESC, doc_id ASC) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS dup_count
          FROM d)
        SELECT doc_id, score, dup_count FROM r WHERE rn = 1
    """
    # Per-returnflag 10%-trimmed mean: k = (n*1000)//10000 rows off
    # each end of the (cents, orderkey, linenumber) total order;
    # F.round replica on the one double division (operators/
    # quality.py:trimmed_mean).
    sql["trimmed_mean"] = """
        WITH li AS (
          SELECT l_returnflag AS g,
                 CAST(floor(l_extendedprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS v,
                 l_orderkey, l_linenumber
          FROM lineitem),
        r AS (
          SELECT g, v,
                 ROW_NUMBER() OVER (PARTITION BY g
                                    ORDER BY v ASC, l_orderkey ASC, l_linenumber ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY g) AS n
          FROM li),
        k AS (SELECT g, v, rn, n, (n * 1000) // 10000 AS kk FROM r)
        SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(ROUND(CAST(CAST(
                 CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               AS VARCHAR) AS DECIMAL(38, 24)), 6) AS DOUBLE) AS trimmed_mean
        FROM k WHERE rn > kk AND rn <= n - kk GROUP BY 1
    """
    # Quantile mapping src1 -> src0 by pure-integer proportional rank:
    # rb = 1 + ((rn-1)*(nb-1)) // (na-1) (operators/quality.py:
    # quantile_mapping).
    sql["quantile_mapping"] = """
        WITH d AS (
          SELECT source AS g, doc_id AS id, n_chars AS value
          FROM documents WHERE source IN ('src1', 'src0')),
        r AS (
          SELECT g, id, value,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY value ASC, id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY g) AS n
          FROM d),
        a AS (SELECT id, value, rn, n FROM r WHERE g = 'src1'),
        b AS (SELECT rn AS rb, value AS mapped FROM r WHERE g = 'src0'),
        nb AS (SELECT MAX(n) AS nbv FROM r WHERE g = 'src0')
        SELECT a.id, a.value, b.mapped
        FROM a CROSS JOIN nb
        JOIN b ON b.rb = CASE WHEN a.n = 1 THEN 1
                              ELSE 1 + ((a.rn - 1) * (nb.nbv - 1)) // (a.n - 1) END
    """
    # Heaps-law growth: first-occurrence attribution + sequential
    # window cumulatives (the engine uses the two-pass running sum —
    # bit-identical for integers) (operators/corpus.py:vocab_growth).
    sql["vocab_growth"] = f"""
        WITH t AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS term
          FROM documents),
        pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
        fs AS (SELECT term, MIN(doc_id) AS doc_id FROM t GROUP BY 1),
        nt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS new_types FROM fs GROUP BY 1),
        b AS (SELECT pd.doc_id AS doc_id, pd.n_tokens AS n_tokens,
                     CAST(COALESCE(nt.new_types, 0) AS BIGINT) AS new_types
              FROM pd LEFT JOIN nt ON nt.doc_id = pd.doc_id)
        SELECT doc_id, n_tokens, new_types,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
               CAST(SUM(new_types) OVER (ORDER BY doc_id) AS BIGINT) AS cum_types
        FROM b
    """
    # Point-in-time SCD2 lookup: replay scd2_merge's islands on the
    # per-customer-day-deduped priority history, then the half-open
    # interval join at probe = order date + 30 days (operators/
    # merge.py:scd2_lookup).
    sql["scd2_lookup"] = """
        WITH o AS (
          SELECT o_orderkey, o_custkey, o_orderpriority,
                 CAST(o_orderdate AS DATE) AS d
          FROM orders),
        hist AS (
          SELECT o_custkey, o_orderpriority, d FROM (
            SELECT o_custkey, o_orderpriority, d,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey, d
                                      ORDER BY o_orderkey ASC) AS rn
            FROM o) t WHERE rn = 1),
        dd AS (
          SELECT o_custkey, o_orderpriority, d,
                 CASE WHEN lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY d)
                           IS NOT DISTINCT FROM o_orderpriority
                      THEN 0 ELSE 1 END AS chg
          FROM hist),
        i AS (SELECT *, SUM(chg) OVER (PARTITION BY o_custkey ORDER BY d) AS island FROM dd),
        g AS (SELECT o_custkey, island, o_orderpriority, MIN(d) AS valid_from
              FROM i GROUP BY 1, 2, 3),
        dim AS (
          SELECT o_custkey, o_orderpriority, valid_from,
                 LEAD(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) AS valid_to
          FROM g),
        facts AS (SELECT o_orderkey, o_custkey, d + 30 AS probe FROM o)
        SELECT f.o_orderkey, f.o_custkey, f.probe,
               dim.o_orderpriority AS regime, dim.valid_from
        FROM facts f JOIN dim ON dim.o_custkey = f.o_custkey
        WHERE f.probe >= dim.valid_from
          AND (dim.valid_to IS NULL OR f.probe < dim.valid_to)
    """
    # Reciprocal exact top-1 cosine pairs, a < b (operators/
    # similarity.py:mutual_nn).
    sql["mutual_nn"] = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        nn AS (
          SELECT a_id, b_id, cos FROM (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY ROUND(list_cosine_similarity(a.v, b.v), 6) DESC,
                              b.vec_id ASC) AS rk
            FROM e a JOIN e b ON a.vec_id <> b.vec_id) t
          WHERE rk = 1)
        SELECT x.a_id, x.b_id, x.cos
        FROM nn x JOIN nn y ON x.a_id = y.b_id AND x.b_id = y.a_id
        WHERE x.a_id < x.b_id
    """
    # Era rank movers: ROW_NUMBER per period over (v DESC, k ASC),
    # inner join, top-50 on the (|delta|, key) total order
    # (operators/timeseries.py:rank_movers).
    sql["rank_movers"] = """
        WITH agg AS (
          SELECT CASE WHEN year(o_orderdate) <= 1997 THEN 'early' ELSE 'late' END AS p,
                 o_custkey AS k,
                 CAST(SUM(CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS BIGINT) AS v
          FROM orders GROUP BY 1, 2),
        r AS (SELECT p, k,
                     ROW_NUMBER() OVER (PARTITION BY p ORDER BY v DESC, k ASC) AS rn
              FROM agg),
        a AS (SELECT k, rn AS rank_a FROM r WHERE p = 'early'),
        b AS (SELECT k, rn AS rank_b FROM r WHERE p = 'late')
        SELECT a.k AS o_custkey, CAST(rank_a AS BIGINT) AS rank_a,
               CAST(rank_b AS BIGINT) AS rank_b,
               CAST(rank_a - rank_b AS BIGINT) AS rank_delta
        FROM a JOIN b ON a.k = b.k
        ORDER BY abs(rank_a - rank_b) DESC, a.k ASC LIMIT 50
    """
    # Strict local maxima with one-step prominence over daily counts
    # (operators/timeseries.py:local_peaks).
    sql["local_peaks"] = """
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        nb AS (
          SELECT event_type, day, n AS value,
                 lag(n) OVER (PARTITION BY event_type ORDER BY day) AS pv,
                 lead(n) OVER (PARTITION BY event_type ORDER BY day) AS nx
          FROM d)
        SELECT event_type, day, value,
               CAST(value - GREATEST(pv, nx) AS BIGINT) AS prominence
        FROM nb
        WHERE pv IS NOT NULL AND nx IS NOT NULL AND value > pv AND value > nx
    """
    # Grouped rank-bound winsorization: bounds are the values at ranks
    # k+1 and n-k of the (value, id) total order per group
    # (operators/quality.py:winsorize_by_group).
    sql["winsorize_by_group"] = """
        WITH li AS (
          SELECT l_returnflag AS g,
                 CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
                 CAST(floor(l_extendedprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS value
          FROM lineitem),
        r AS (
          SELECT g, id, value,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY value ASC, id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY g) AS n
          FROM li),
        k AS (SELECT g, id, value, rn, n, (n * 1000) // 10000 AS kk FROM r),
        bounds AS (
          SELECT g,
                 MAX(CASE WHEN rn = kk + 1 THEN value END) AS lo,
                 MAX(CASE WHEN rn = n - kk THEN value END) AS hi
          FROM k GROUP BY 1)
        SELECT k.g AS l_returnflag, k.id, k.value,
               LEAST(GREATEST(k.value, b.lo), b.hi) AS clipped
        FROM k JOIN bounds b ON b.g = k.g
    """
    # Chi-square cells: first-order products in HUGEINT, the square in
    # DOUBLE of the identical exactly-converted operand, one division
    # per cell (operators/quality.py:chi2_independence). Spark dow =
    # DuckDB dayofweek + 1.
    sql["chi2_independence"] = """
        WITH cells AS (
          SELECT event_type AS a, dayofweek(ts) + 1 AS b,
                 CAST(COUNT(*) AS HUGEINT) AS o
          FROM events GROUP BY 1, 2),
        ra AS (SELECT a, SUM(o) AS rta FROM cells GROUP BY 1),
        cb AS (SELECT b, SUM(o) AS ctb FROM cells GROUP BY 1),
        nn AS (SELECT SUM(o) AS nt FROM cells)
        SELECT c.a, CAST(c.b AS INT) AS b, CAST(c.o AS BIGINT) AS observed,
               ROUND(CAST(ra.rta * cb.ctb AS DOUBLE) / CAST(nn.nt AS DOUBLE), 6) AS expected,
               ROUND(CAST(c.o * nn.nt - ra.rta * cb.ctb AS DOUBLE)
                     * CAST(c.o * nn.nt - ra.rta * cb.ctb AS DOUBLE)
                     / CAST(nn.nt * ra.rta * cb.ctb AS DOUBLE), 6) AS contrib
        FROM cells c JOIN ra ON ra.a = c.a JOIN cb ON cb.b = c.b CROSS JOIN nn
    """
    # Unnormalized integer HITS, k=3 unrolled (operators/graph.py:
    # hits_scores): a0 = 1, h_i = SUM a_{i-1} over out-edges,
    # a_i = SUM h_i over in-edges — HUGEINT sums, zero floats.
    sql["hits_scores"] = """
        WITH edges AS (
          SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
        h1 AS (SELECT src, CAST(COUNT(*) AS HUGEINT) AS h FROM edges GROUP BY 1),
        a1 AS (SELECT e.dst AS dst, SUM(h1.h) AS a FROM edges e JOIN h1 ON h1.src = e.src GROUP BY 1),
        h2 AS (SELECT e.src AS src, SUM(a1.a) AS h FROM edges e JOIN a1 ON a1.dst = e.dst GROUP BY 1),
        a2 AS (SELECT e.dst AS dst, SUM(h2.h) AS a FROM edges e JOIN h2 ON h2.src = e.src GROUP BY 1),
        h3 AS (SELECT e.src AS src, SUM(a2.a) AS h FROM edges e JOIN a2 ON a2.dst = e.dst GROUP BY 1),
        a3 AS (SELECT e.dst AS dst, SUM(h3.h) AS a FROM edges e JOIN h3 ON h3.src = e.src GROUP BY 1)
        SELECT n.node,
               CAST(COALESCE(h3.h, 0) AS BIGINT) AS hub,
               CAST(COALESCE(a3.a, 0) AS BIGINT) AS auth
        FROM nodes n
        LEFT JOIN h3 ON h3.src = n.node
        LEFT JOIN a3 ON a3.dst = n.node
    """
    # Pairwise source vocabulary Jaccard over distinct token sets
    # (operators/corpus.py:vocab_overlap).
    sql["vocab_overlap"] = f"""
        WITH t AS (
          SELECT DISTINCT source AS g,
                 unnest(string_split({_NORM}, ' ')) AS term
          FROM documents),
        sizes AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
        inter AS (
          SELECT a.g AS source_a, b.g AS source_b, CAST(COUNT(*) AS BIGINT) AS inter
          FROM t a JOIN t b ON a.term = b.term AND a.g < b.g
          GROUP BY 1, 2)
        SELECT i.source_a, i.source_b, i.inter,
               sa.n + sb.n - i.inter AS union_,
               ROUND(CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.g = i.source_a
        JOIN sizes sb ON sb.g = i.source_b
    """
    # Type-token ratio per source (operators/corpus.py:ttr_by_group).
    sql["ttr_by_source"] = f"""
        WITH t AS (
          SELECT source, unnest(string_split({_NORM}, ' ')) AS term
          FROM documents)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS n_types,
               ROUND(CAST(COUNT(DISTINCT term) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS ttr
        FROM t GROUP BY 1
    """
    # Inactivity gaps >= 2 days off the deduplicated activity table
    # (operators/events.py:activity_gaps).
    sql["activity_gaps"] = """
        WITH a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        p AS (SELECT u, d, lag(d) OVER (PARTITION BY u ORDER BY d ASC) AS pd FROM a)
        SELECT u AS user_id, pd AS gap_start, d AS gap_end,
               CAST(date_diff('day', pd, d) AS BIGINT) AS gap_days
        FROM p WHERE pd IS NOT NULL AND date_diff('day', pd, d) >= 2
    """
    # Staircase half-life credit in pure integers: 10000 // (1 <<
    # (age // 7)), 63-shift clamp (operators/events.py:
    # attribution_time_decay).
    sql["attribution_time_decay"] = """
        WITH conv AS (
          SELECT user_id, MIN(ts) AS cts FROM events
          WHERE event_type = 'purchase' GROUP BY 1),
        t AS (
          SELECT e.event_type AS event_type,
                 date_diff('day', CAST(e.ts AS DATE), CAST(c.cts AS DATE)) AS age
          FROM events e JOIN conv c ON e.user_id = c.user_id AND e.ts < c.cts
          WHERE e.event_type IN ('click', 'view', 'signup'))
        SELECT event_type AS touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
               CAST(SUM(CASE WHEN age // 7 >= 63 THEN 0
                             ELSE 10000 // (CAST(1 AS BIGINT) << (age // 7)) END)
                    AS BIGINT) AS credit_bp
        FROM t GROUP BY 1
    """
    # Left-anti orphan counts per fact->dim link (operators/
    # expectations.py:fk_orphans).
    sql["fk_orphans"] = """
        SELECT 'orders.customer' AS relation,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_fact,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
                WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS n_orphans
        UNION ALL
        SELECT 'lineitem.orders',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL
        SELECT 'lineitem.part',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        UNION ALL
        SELECT 'lineitem.supplier',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    """
    # Log2 length bins per language via bin-string length — DuckDB
    # bin() is unpadded like Spark conv(n,10,2) (operators/quality.py:
    # length_histogram).
    sql["length_histogram"] = """
        SELECT lang,
               CAST(CASE WHEN n_chars <= 0 THEN -1
                         ELSE length(bin(CAST(n_chars AS BIGINT))) - 1 END AS INT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1, 2
    """
    # Gaps-and-islands recency features; current streak = the island
    # holding the user's last active day (operators/events.py:
    # recency_features).
    sql["recency_features"] = """
        WITH a AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
        i AS (SELECT u, d,
                     d - CAST(ROW_NUMBER() OVER (PARTITION BY u ORDER BY d ASC) AS INT) AS isl
              FROM a),
        runs AS (SELECT u, isl, CAST(COUNT(*) AS BIGINT) AS len, MAX(d) AS lastd
                 FROM i GROUP BY 1, 2),
        pu AS (SELECT u, MAX(lastd) AS last_day,
                      CAST(SUM(len) AS BIGINT) AS n_active_days,
                      arg_max(len, lastd) AS current_streak
               FROM runs GROUP BY 1),
        an AS (SELECT MAX(last_day) AS anchor FROM pu)
        SELECT u AS user_id, last_day,
               CAST(date_diff('day', last_day, anchor) AS BIGINT) AS days_since,
               n_active_days, CAST(current_streak AS BIGINT) AS current_streak
        FROM pu, an
    """
    # ---- Round 12 oracles -------------------------------------------------
    # Simpson diversity per user: integer pair counts, one division +
    # one subtraction (operators/quality.py:simpson_diversity).
    sql["simpson_diversity"] = """
        WITH pc AS (
          SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        g AS (
          SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
                 CAST(SUM(c * (c - 1)) AS BIGINT) AS pair_same
          FROM pc GROUP BY 1)
        SELECT user_id, n, pair_same,
               CASE WHEN n >= 2 THEN
                 1.0::DOUBLE - CAST(pair_same AS DOUBLE)
                               / CAST(n * (n - 1) AS DOUBLE)
               END AS diversity
        FROM g
    """
    # 2x2 odds ratio per line status: exposure = discount >= 0.05,
    # outcome = returned (operators/quality.py:odds_ratio).
    sql["odds_ratio"] = """
        WITH g AS (
          SELECT l_linestatus,
            CAST(SUM(CASE WHEN l_discount >= 0.05::DOUBLE AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(SUM(CASE WHEN l_discount >= 0.05::DOUBLE AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(SUM(CASE WHEN l_discount < 0.05::DOUBLE AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN l_discount < 0.05::DOUBLE AND l_returnflag <> 'R' THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM lineitem GROUP BY 1)
        SELECT l_linestatus, a, b, c, d,
               CAST(a * d AS BIGINT) AS or_num,
               CAST(b * c AS BIGINT) AS or_den,
               CASE WHEN b * c > 0 THEN
                 CAST(a * d AS DOUBLE) / CAST(b * c AS DOUBLE)
               END AS odds_ratio
        FROM g
    """
    # Variance-to-mean ratio of price cents per priority: HUGEINT
    # moment sums mirror the engine's DECIMAL(38,0) — both exact, both
    # cast to DOUBLE once (operators/quality.py:dispersion_index).
    sql["dispersion_index"] = """
        WITH o AS (
          SELECT o_orderpriority,
                 CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS c
          FROM orders),
        g AS (
          SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                 SUM(c::HUGEINT) AS s, SUM(c::HUGEINT * c::HUGEINT) AS q
          FROM o GROUP BY 1)
        SELECT o_orderpriority, n, CAST(s AS BIGINT) AS sum_x,
               CAST(n::HUGEINT * q - s * s AS DOUBLE) AS d_num,
               CAST((n::HUGEINT - 1) * s AS DOUBLE) AS d_den,
               CASE WHEN n >= 2 AND s <> 0 THEN
                 CAST(n::HUGEINT * q - s * s AS DOUBLE)
                 / CAST((n::HUGEINT - 1) * s AS DOUBLE)
               END AS dispersion
        FROM g
    """
    # Kendall tau-b between daily order count and revenue cents:
    # pair-concordance counts over the calendar-bounded daily series
    # (operators/timeseries.py:kendall_tau).
    sql["kendall_tau"] = """
        WITH d AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS x,
                 CAST(SUM(CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS BIGINT) AS y
          FROM orders GROUP BY 1),
        p AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(SUM(CASE WHEN (b.x > a.x AND b.y > a.y) OR (b.x < a.x AND b.y < a.y) THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
            CAST(SUM(CASE WHEN (b.x > a.x AND b.y < a.y) OR (b.x < a.x AND b.y > a.y) THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
            CAST(SUM(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
            CAST(SUM(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
          FROM d a JOIN d b ON a.day < b.day),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
        SELECT nn.n AS n, p.n_pairs, p.concordant, p.discordant,
               p.ties_x, p.ties_y,
               CASE WHEN p.n_pairs > p.ties_x AND p.n_pairs > p.ties_y THEN
                 CAST(p.concordant - p.discordant AS DOUBLE)
                 / sqrt(CAST((p.n_pairs - p.ties_x) * (p.n_pairs - p.ties_y) AS DOUBLE))
               END AS tau_b
        FROM p, nn
    """
    # Per-segment contribution to the 1997->1998 revenue delta
    # (operators/timeseries.py:growth_decomposition).
    sql["growth_decomposition"] = """
        WITH j AS (
          SELECT c_mktsegment, year(o_orderdate) AS yr,
                 CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS cents
          FROM orders JOIN customer ON o_custkey = c_custkey),
        per AS (
          SELECT c_mktsegment,
            CAST(SUM(CASE WHEN yr = 1997 THEN cents ELSE 0 END) AS BIGINT) AS v_a,
            CAST(SUM(CASE WHEN yr = 1998 THEN cents ELSE 0 END) AS BIGINT) AS v_b
          FROM j GROUP BY 1),
        pd AS (SELECT c_mktsegment, v_a, v_b,
                      CAST(v_b - v_a AS BIGINT) AS delta FROM per),
        t AS (SELECT CAST(SUM(delta) AS BIGINT) AS tot FROM pd)
        SELECT c_mktsegment, v_a, v_b, delta,
               CASE WHEN tot <> 0 THEN
                 CAST(delta AS DOUBLE) / CAST(tot AS DOUBLE)
               END AS delta_share
        FROM pd, t
    """
    # Daily revenue per priority, gaps linearly interpolated via the
    # segment-count bracketing trick — no IGNORE NULLS dialect
    # dependence (operators/timeseries.py:linear_interpolate).
    sql["linear_interpolate"] = """
        WITH daily AS (
          SELECT o_orderpriority AS k, CAST(o_orderdate AS DATE) AS day,
                 CAST(SUM(CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS BIGINT) AS v
          FROM orders GROUP BY 1, 2),
        span AS (SELECT k, MIN(day) AS dlo, MAX(day) AS dhi FROM daily GROUP BY 1),
        spine AS (
          SELECT k, CAST(unnest(generate_series(dlo::TIMESTAMP, dhi::TIMESTAMP, INTERVAL 1 DAY)) AS DATE) AS day
          FROM span),
        j AS (
          SELECT s.k AS k, s.day AS day, d.v AS v
          FROM spine s LEFT JOIN daily d ON d.k = s.k AND d.day = s.day),
        seg AS (
          SELECT k, day, v,
                 SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END)
                   OVER (PARTITION BY k ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sg
          FROM j),
        obs AS (SELECT k, sg, day AS pd, v AS pv FROM seg WHERE v IS NOT NULL),
        nx AS (SELECT k, sg - 1 AS sg, pd AS nd, pv AS nv FROM obs)
        SELECT s.k AS prio, s.day AS day, s.v AS value,
               CASE WHEN s.v IS NOT NULL THEN CAST(s.v AS DOUBLE)
                    ELSE CAST(o.pv AS DOUBLE)
                         + CAST((nx.nv - o.pv) * date_diff('day', o.pd, s.day) AS DOUBLE)
                           / CAST(date_diff('day', o.pd, nx.nd) AS DOUBLE)
               END AS interp
        FROM seg s
        LEFT JOIN obs o ON o.k = s.k AND o.sg = s.sg
        LEFT JOIN nx ON nx.k = s.k AND nx.sg = s.sg
    """
    # l-diversity audit of priorities within (status, year) QI groups
    # (functions/privacy.py:l_diversity).
    sql["l_diversity"] = """
        WITH pc AS (
          SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS yr,
                 o_orderpriority, CAST(COUNT(*) AS BIGINT) AS c
          FROM orders GROUP BY 1, 2, 3)
        SELECT o_orderstatus, yr, CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_sensitive,
               CAST(MAX(c) AS BIGINT) AS top_sensitive_n,
               CAST(CASE WHEN COUNT(*) < 3 THEN 1 ELSE 0 END AS INT) AS at_risk
        FROM pc GROUP BY 1, 2
    """
    # Every-20th order along the (price DESC, key ASC) total order
    # (operators/sampling.py:systematic_sample).
    sql["systematic_sample"] = """
        SELECT o_orderkey, o_totalprice, rn FROM (
          SELECT o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders) t
        WHERE (rn - 1) % 20 = 0
    """
    # Kaplan-Meier life table of days from first to second order,
    # censored at the corpus max date (operators/events.py:km_hazard).
    sql["km_hazard"] = """
        WITH fo AS (
          SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS d1
          FROM orders GROUP BY 1),
        so AS (
          SELECT o.o_custkey AS o_custkey, MIN(CAST(o.o_orderdate AS DATE)) AS d2
          FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey
          WHERE CAST(o.o_orderdate AS DATE) > f.d1 GROUP BY 1),
        h AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
        obs AS (
          SELECT CASE WHEN s.d2 IS NOT NULL THEN date_diff('day', f.d1, s.d2)
                      ELSE date_diff('day', f.d1, h.dmax) END AS dur,
                 CASE WHEN s.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
          FROM fo f LEFT JOIN so s ON f.o_custkey = s.o_custkey, h),
        per AS (
          SELECT CAST(dur AS BIGINT) AS duration,
                 CAST(SUM(ev) AS BIGINT) AS n_event,
                 CAST(SUM(1 - ev) AS BIGINT) AS n_censored
          FROM obs GROUP BY 1),
        t AS (SELECT CAST(SUM(n_event + n_censored) AS BIGINT) AS tot FROM per)
        SELECT duration, n_risk, n_event, n_censored,
               CAST(n_risk - n_event AS BIGINT) AS surv_num,
               n_risk AS surv_den
        FROM (
          SELECT duration, n_event, n_censored,
                 CAST(tot - COALESCE(SUM(n_event + n_censored)
                   OVER (ORDER BY duration
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_risk
          FROM per, t) z
    """
    # Daily new vs returning active users (operators/events.py:
    # new_vs_returning). "returning" is quoted: DuckDB keyword.
    sql["new_vs_returning"] = """
        WITH ud AS (
          SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events),
        f AS (SELECT u, MIN(day) AS fd FROM ud GROUP BY 1)
        SELECT day, CAST(COUNT(*) AS BIGINT) AS active,
               CAST(SUM(CASE WHEN day = fd THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN day <> fd THEN 1 ELSE 0 END) AS BIGINT) AS "returning"
        FROM ud JOIN f ON ud.u = f.u GROUP BY 1
    """
    # Within-year repeat-purchase rate per segment (operators/
    # events.py:repeat_rate).
    sql["repeat_rate"] = """
        WITH j AS (
          SELECT c_mktsegment, CAST(year(o_orderdate) AS INT) AS yr, o_custkey
          FROM orders JOIN customer ON o_custkey = c_custkey),
        pe AS (
          SELECT c_mktsegment, yr, o_custkey, COUNT(*) AS n
          FROM j GROUP BY 1, 2, 3)
        SELECT c_mktsegment, yr, CAST(COUNT(*) AS BIGINT) AS n_entities,
               CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
               CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS repeat_rate
        FROM pe GROUP BY 1, 2
    """
    # Session-duration histogram: the events_session boundary CTE,
    # then exact-microsecond durations binned by integer division
    # (operators/events.py:session_duration_hist).
    sql["session_duration_hist"] = """
        WITH g AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_s
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
        s AS (
          SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                                  ROWS UNBOUNDED PRECEDING) AS session_no
          FROM g),
        sess AS (
          SELECT user_id, session_no, MIN(ts) AS st, MAX(ts) AS en
          FROM s GROUP BY 1, 2),
        d AS (SELECT (epoch_us(en) - epoch_us(st)) // 300000000 AS bin FROM sess)
        SELECT CAST(bin AS BIGINT) AS bin,
               CAST(bin * 5 AS BIGINT) AS bin_start_min,
               CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM d GROUP BY 1, 2
    """
    # Seed-keyed bounded BFS -> scaled-integer harmonic sums: the
    # bfs_distance recursive CTE carrying the seed id (operators/
    # graph.py:harmonic_centrality).
    sql["harmonic_centrality"] = """
        WITH RECURSIVE
        edges AS (
          SELECT a.c_custkey AS src, b.c_custkey AS dst
          FROM customer a JOIN customer b ON a.c_custkey + 1 = b.c_custkey
          WHERE a.c_custkey % 5 <> 4),
        sym AS (SELECT src, dst FROM edges
                UNION SELECT dst AS src, src AS dst FROM edges),
        walk AS (
          SELECT c_custkey AS seed, c_custkey AS node, 0 AS dist
          FROM customer WHERE c_custkey % 100 = 0
          UNION
          SELECT w.seed AS seed, s.dst AS node, w.dist + 1 AS dist
          FROM walk w JOIN sym s ON s.src = w.node
          WHERE w.dist < 4),
        md AS (SELECT seed, node, MIN(dist) AS dist FROM walk GROUP BY 1, 2)
        SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_reached,
               CAST(SUM(840 // dist) AS BIGINT) AS harmonic
        FROM md WHERE dist > 0 GROUP BY 1
    """
    # Top-20 character trigrams per language over normalized text
    # (operators/corpus.py:char_ngram_topk).
    sql["char_ngram_topk"] = f"""
        WITH nt AS (SELECT lang, {_NORM} AS t FROM documents),
        grams AS (
          SELECT lang,
                 unnest(list_transform(range(1, length(t) - 1),
                        i -> substring(t, i, 3))) AS gram
          FROM nt WHERE length(t) >= 3),
        cnt AS (
          SELECT lang, gram, CAST(COUNT(*) AS BIGINT) AS freq
          FROM grams GROUP BY 1, 2)
        SELECT lang, gram, freq, CAST(rnk AS INT) AS rank FROM (
          SELECT lang, gram, freq,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY freq DESC, gram ASC) AS rnk
          FROM cnt) t
        WHERE rnk <= 20
    """
    # Bowley quartile skew per returnflag: quartile values at the
    # pure-integer ranks 1 + ((n-1)i) DIV 4 over the (value, id)
    # total order (operators/quality.py:quartile_skew).
    sql["quartile_skew"] = """
        WITH li AS (
          SELECT l_returnflag AS g,
                 CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
                 CAST(floor(l_extendedprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS v
          FROM lineitem),
        r AS (SELECT g, v,
                     ROW_NUMBER() OVER (PARTITION BY g ORDER BY v ASC, id ASC) AS rn
              FROM li),
        nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY 1),
        q AS (
          SELECT r.g AS g, nn.n AS n,
            CAST(MAX(CASE WHEN rn = 1 + ((n - 1) * 1) // 4 THEN v END) AS BIGINT) AS q1,
            CAST(MAX(CASE WHEN rn = 1 + ((n - 1) * 2) // 4 THEN v END) AS BIGINT) AS q2,
            CAST(MAX(CASE WHEN rn = 1 + ((n - 1) * 3) // 4 THEN v END) AS BIGINT) AS q3
          FROM r JOIN nn ON r.g = nn.g GROUP BY 1, 2)
        SELECT g AS l_returnflag, n, q1, q2, q3,
               CASE WHEN q3 <> q1 THEN
                 CAST(q3 + q1 - 2 * q2 AS DOUBLE) / CAST(q3 - q1 AS DOUBLE)
               END AS skew
        FROM q
    """
    # Tukey-fence census per returnflag: integer 2x vs 2q±3·IQR
    # comparisons (operators/quality.py:iqr_outliers).
    sql["iqr_outliers"] = """
        WITH li AS (
          SELECT l_returnflag AS g,
                 CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id,
                 CAST(floor(l_extendedprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS v
          FROM lineitem),
        r AS (SELECT g, v,
                     ROW_NUMBER() OVER (PARTITION BY g ORDER BY v ASC, id ASC) AS rn
              FROM li),
        nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY 1),
        q AS (
          SELECT r.g AS g, nn.n AS n,
            CAST(MAX(CASE WHEN rn = 1 + ((n - 1) * 1) // 4 THEN v END) AS BIGINT) AS q1,
            CAST(MAX(CASE WHEN rn = 1 + ((n - 1) * 3) // 4 THEN v END) AS BIGINT) AS q3
          FROM r JOIN nn ON r.g = nn.g GROUP BY 1, 2),
        cen AS (
          SELECT li.g AS g,
            CAST(SUM(CASE WHEN 2 * v < 2 * q1 - 3 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
            CAST(SUM(CASE WHEN 2 * v > 2 * q3 + 3 * (q3 - q1) THEN 1 ELSE 0 END) AS BIGINT) AS n_high
          FROM li JOIN q ON li.g = q.g GROUP BY 1)
        SELECT q.g AS l_returnflag, q.n, q.q1, q.q3,
               CAST(q.q3 - q.q1 AS BIGINT) AS iqr, cen.n_low, cen.n_high,
               CAST(cen.n_low + cen.n_high AS DOUBLE) / CAST(q.n AS DOUBLE) AS outlier_rate
        FROM q JOIN cen ON q.g = cen.g
    """
    # Lincoln-Petersen estimate from the first two event weeks
    # (operators/quality.py:capture_recapture).
    sql["capture_recapture"] = """
        WITH a AS (SELECT DISTINCT user_id FROM events
                   WHERE CAST(ts AS DATE) <= DATE '2024-01-07'),
        b AS (SELECT DISTINCT user_id FROM events
              WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
                AND CAST(ts AS DATE) <= DATE '2024-01-14'),
        na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a FROM a),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM b),
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
              FROM a JOIN b ON a.user_id = b.user_id)
        SELECT n_a, n_b, n_both,
               CAST(n_a + n_b - n_both AS BIGINT) AS n_observed,
               CASE WHEN n_both > 0 THEN
                 CAST(n_a * n_b AS DOUBLE) / CAST(n_both AS DOUBLE)
               END AS estimate
        FROM na, nb, m
    """
    # Chao1 unseen-vocabulary estimate per language over the shared
    # normalize+split tokenization (operators/corpus.py:
    # chao1_richness).
    sql["chao1_richness"] = f"""
        WITH toks AS (SELECT lang, unnest({_TOKS}) AS term FROM documents),
        tc AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
               FROM toks GROUP BY 1, 2),
        g AS (
          SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
                 CAST(COUNT(*) AS BIGINT) AS vocab,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
                 CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
          FROM tc GROUP BY 1)
        SELECT lang, n_tokens, vocab, f1, f2,
               CAST(vocab AS DOUBLE)
                 + CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE) AS chao1,
               CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS singleton_share
        FROM g
    """
    # Mann-Whitney exact AUC with doubled midranks (operators/
    # quality.py:auc_eval): does order value predict URGENT priority.
    sql["auc_eval"] = """
        WITH per AS (
          SELECT CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS score,
                 CAST(COUNT(*) AS BIGINT) AS c,
                 CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS cp
          FROM orders GROUP BY 1),
        run AS (
          SELECT score, c, cp,
                 SUM(c) OVER (ORDER BY score ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM per),
        agg AS (
          SELECT CAST(SUM(cp) AS BIGINT) AS n_pos,
                 CAST(SUM(c) - SUM(cp) AS BIGINT) AS n_neg,
                 CAST(SUM(cp * (2 * cum - c + 1)) AS BIGINT) AS sum2mid
          FROM run)
        SELECT n_pos, n_neg,
               CAST(sum2mid - n_pos * (n_pos + 1) AS BIGINT) AS u2,
               CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                 CAST(sum2mid - n_pos * (n_pos + 1) AS DOUBLE)
                 / CAST(2 * n_pos * n_neg AS DOUBLE)
               END AS auc
        FROM agg
    """
    # Gini impurity per side of the discount split (operators/
    # quality.py:split_gini).
    sql["split_gini"] = """
        WITH per AS (
          SELECT CASE WHEN l_discount >= 0.05::DOUBLE THEN 1 ELSE 0 END AS side,
                 l_returnflag AS cl, CAST(COUNT(*) AS BIGINT) AS n
          FROM lineitem GROUP BY 1, 2),
        g AS (
          SELECT side, CAST(SUM(n) AS BIGINT) AS n,
                 CAST(SUM(n * n) AS BIGINT) AS sum_c2
          FROM per GROUP BY 1)
        SELECT CAST(side AS INT) AS side, n, sum_c2,
               1.0::DOUBLE - CAST(sum_c2 AS DOUBLE) / CAST(n * n AS DOUBLE) AS gini
        FROM g
    """
    # Daily user-activity basket lift over event types: the
    # basket_pair_lift CTE chain with (user, day) baskets
    # (operators/affinity.py:pair_lift).
    sql["type_cooccurrence_lift"] = """
        WITH items AS (
          SELECT DISTINCT CAST(user_id AS VARCHAR) || '|' ||
                 CAST(CAST(ts AS DATE) AS VARCHAR) AS b, event_type AS it
          FROM events),
        sizes AS (SELECT b, COUNT(*) AS sz FROM items GROUP BY 1),
        capped AS (SELECT i.b, i.it FROM items i JOIN sizes s ON i.b = s.b
                   WHERE s.sz BETWEEN 2 AND 64),
        nb AS (SELECT COUNT(DISTINCT b) AS N FROM capped),
        ic AS (SELECT it, COUNT(*) AS n_item FROM capped GROUP BY 1),
        pc AS (SELECT x.it AS item_a, y.it AS item_b, COUNT(*) AS n_ab
               FROM capped x JOIN capped y ON x.b = y.b AND x.it < y.it
               GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
               ROUND(n_ab * 1.0 / N, 6) AS support,
               ROUND(n_ab * 1.0 / ia.n_item, 6) AS confidence,
               ROUND(n_ab * N * 1.0 / (ia.n_item * ib.n_item), 6) AS lift
        FROM pc
        JOIN ic ia ON pc.item_a = ia.it
        JOIN ic ib ON pc.item_b = ib.it, nb
    """
    # Per-source exact-dup profile on the md5(normalized) fingerprint
    # (operators/dedup.py:dup_rate_by_source).
    sql["dup_rate_by_source"] = f"""
        WITH fp AS (SELECT source, md5({_NORM}) AS f FROM documents),
        pf AS (SELECT source, f, CAST(COUNT(*) AS BIGINT) AS c
               FROM fp GROUP BY 1, 2)
        SELECT source, CAST(SUM(c) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(c) - COUNT(*) AS BIGINT) AS n_dup_docs,
               CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_rate
        FROM pf GROUP BY 1
    """
    # Palma ratio at integer rank cuts over per-customer revenue
    # (operators/quality.py:palma_ratio).
    sql["palma_ratio"] = """
        WITH per AS (
          SELECT o_custkey AS e,
                 CAST(SUM(CAST(floor(o_totalprice * 100.0::DOUBLE + 0.5::DOUBLE) AS BIGINT)) AS BIGINT) AS v
          FROM orders GROUP BY 1),
        r AS (SELECT e, v,
                     ROW_NUMBER() OVER (ORDER BY v DESC, e ASC) AS rn
              FROM per),
        nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM per)
        SELECT n,
               CAST(n // 10 AS BIGINT) AS k10,
               CAST((4 * n) // 10 AS BIGINT) AS k40,
               CAST(SUM(CASE WHEN rn <= n // 10 THEN v ELSE 0 END) AS BIGINT) AS top_sum,
               CAST(SUM(CASE WHEN rn > n - (4 * n) // 10 THEN v ELSE 0 END) AS BIGINT) AS bottom_sum,
               CASE WHEN SUM(CASE WHEN rn > n - (4 * n) // 10 THEN v ELSE 0 END) <> 0 THEN
                 CAST(SUM(CASE WHEN rn <= n // 10 THEN v ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN rn > n - (4 * n) // 10 THEN v ELSE 0 END) AS DOUBLE)
               END AS palma
        FROM r, nn GROUP BY n
    """
    return sql
