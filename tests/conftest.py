import pytest

from awi_datapipelinepublic_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("awi-dp-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def drop_table(spark):
    """``drop_table(name)`` drops a catalog table and deletes its
    warehouse pointer, versioned snapshots and lock file, so a test
    re-run over the persistent ``spark-warehouse/`` starts clean (a
    merged catalog table is EXTERNAL: DROP TABLE alone keeps its data)."""
    import shutil

    from awi_datapipelinepublic_spark.sources.layout import table_location

    def drop(name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        loc = table_location(spark, name)
        for p in [loc, loc.parent / f".{loc.name}.lock", *loc.parent.glob(f".{loc.name}.v-*")]:
            if p.is_dir() and not p.is_symlink():
                shutil.rmtree(p)
            else:
                p.unlink(missing_ok=True)

    return drop
