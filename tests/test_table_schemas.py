"""Declared star-table schemas (sources/schema.TABLE_SCHEMAS).

The registry replaces Parquet footer inference in the query builders,
so it must say exactly what inference would: the same column names,
order and types on every dataset the builders read. And with it in
place, building a query must launch no Spark job at all.
"""

import sys
import uuid
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as em  # noqa: E402
from awi_datapipelinepublic_spark.sources.schema import TABLE_SCHEMAS  # noqa: E402


def _assert_declared_matches_inferred(spark, data_dir):
    for name, ddl in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(f"{data_dir}/{name}.parquet").schema
        declared = spark.createDataFrame([], ddl).schema
        # simpleString carries names, order and types but no nullability
        assert inferred.simpleString() == declared.simpleString(), name


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_declared_schemas_match_inference_on_testdata(spark, sf_dir, sf):
    data_dir = Path(sf_dir).parent / f"sf{sf}"
    if not data_dir.is_dir():
        pytest.skip(f"{data_dir} not present")
    _assert_declared_matches_inferred(spark, data_dir)


def test_declared_schemas_match_inference_on_bench_tables(spark, tmp_path):
    sys.path.insert(0, str(ROOT / "perfbench"))
    import gen

    gen.write_star_schema(tmp_path, 0.001)
    _assert_declared_matches_inferred(spark, str(tmp_path))


def _jobs_in_group(spark, fn):
    sc = spark.sparkContext
    group = f"schema-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_building_a_star_query_launches_no_job(spark, sf_dir):
    """tpch_q5_revenue reads six declared tables; building it must not
    run a schema-inference (or any other) job."""
    assert _jobs_in_group(spark, lambda: em.q_tpch_q5_revenue(spark, sf_dir)) == []
    # control: the counter does see a job run under the group
    assert _jobs_in_group(spark, lambda: em.q_tpch_q5_revenue(spark, sf_dir).collect())
