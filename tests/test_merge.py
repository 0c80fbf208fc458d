"""Time-window merge semantics (reference config.py:180-212) incl. the
SURVEY.md §5.3 property: every time window is owned by the latest batch
that covered it."""

import datetime as dt
import random
import sys
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from awi_datapipelinepublic_spark.operators.merge import (
    merge_cutoff,
    merge_into_path,
    merge_time_window,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["pk", "d", "v"])


def test_merge_discards_restated_window(spark):
    base = _df(spark, [(1, dt.date(2024, 1, 1), "old"), (2, dt.date(2024, 3, 1), "old")])
    new = _df(spark, [(3, dt.date(2024, 2, 15), "new")])
    out = {r["pk"]: r["v"] for r in merge_time_window(base, new, "d").collect()}
    # base row at 2024-03-01 falls in the new batch's owned window → discarded
    assert out == {1: "old", 3: "new"}


def test_merge_empty_new_batch_is_identity(spark):
    base = _df(spark, [(1, dt.date(2024, 1, 1), "old")])
    new = _df(spark, []).limit(0) if False else spark.createDataFrame([], base.schema)
    assert merge_cutoff(new, "d") is None
    assert merge_time_window(base, new, "d").count() == 1


def test_merge_property_latest_batch_owns_window(spark):
    """Random batch sequences: final state row-for-row equals the
    sequential replay of 'batch owns [min(batch.d), ∞)'."""
    rng = random.Random(7)
    days = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(60)]
    batches = []
    for b in range(4):
        start = rng.randint(0, 40)
        width = rng.randint(5, 20)
        batches.append(
            [(1000 * b + i, days[start + i % width], f"b{b}") for i in range(rng.randint(3, 12))]
        )
    # engine fold
    state = _df(spark, batches[0])
    for batch in batches[1:]:
        state = merge_time_window(state, _df(spark, batch), "d")
    got = sorted((r["pk"], str(r["d"]), r["v"]) for r in state.collect())
    # oracle replay in plain python
    rows = list(batches[0])
    for batch in batches[1:]:
        cut = min(d for _, d, _ in batch)
        rows = [r for r in rows if r[1] < cut] + batch
    want = sorted((pk, str(d), v) for pk, d, v in rows)
    assert got == want


def test_merge_into_path_staged_overwrite(spark, tmp_path):
    """Read-then-overwrite the same path must work (staging swap), and
    month partitioning must prune below the cutoff."""
    base_path = str(tmp_path / "base")
    b1 = _df(spark, [(1, dt.date(2024, 1, 10), "a"), (2, dt.date(2024, 2, 10), "a")])
    merge_into_path(spark, base_path, b1, "d")
    b2 = _df(spark, [(3, dt.date(2024, 2, 1), "b")])
    merge_into_path(spark, base_path, b2, "d")
    out = {r["pk"]: r["v"] for r in spark.read.parquet(base_path).collect()}
    assert out == {1: "a", 3: "b"}
    # partition layout exists (month dirs)
    assert any(p.name.startswith("_merge_month=") for p in Path(base_path).iterdir() if p.is_dir())


def test_merge_upsert_latest_wins_and_insert(spark):
    from awi_datapipelinepublic_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, 10, "old"), (2, 10, "keep"), (3, 30, "newer-than-update")],
        ["k", "ver", "val"],
    )
    updates = spark.createDataFrame(
        [(1, 20, "updated"), (3, 20, "stale"), (4, 5, "inserted")],
        ["k", "ver", "val"],
    )
    out = {r["k"]: (r["ver"], r["val"]) for r in merge_upsert(base, updates, ["k"], "ver").collect()}
    assert out[1] == (20, "updated")      # matched, update newer
    assert out[2] == (10, "keep")         # unmatched base row survives
    assert out[3] == (30, "newer-than-update")  # stale update loses
    assert out[4] == (5, "inserted")      # not-matched insert


def test_merge_upsert_tie_prefers_update_side(spark):
    from awi_datapipelinepublic_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, 10, "base")], ["k", "ver", "val"])
    updates = spark.createDataFrame([(1, 10, "update")], ["k", "ver", "val"])
    [row] = merge_upsert(base, updates, ["k"], "ver").collect()
    assert row["val"] == "update"


def test_scd2_merge_islands_and_validity(spark):
    from awi_datapipelinepublic_spark.operators.merge import scd2_merge

    d = dt.datetime
    h = spark.createDataFrame(
        [
            (1, "A", d(2024, 1, 1)),
            (1, "A", d(2024, 1, 2)),   # same value → same island
            (1, "B", d(2024, 1, 3)),   # change
            (1, "A", d(2024, 1, 4)),   # back to A → NEW island, not merged
            (2, "X", d(2024, 1, 1)),
        ],
        ["k", "state", "eff"],
    )
    rows = sorted(
        scd2_merge(h, ["k"], "state", "eff").collect(),
        key=lambda r: (r["k"], r["valid_from"]),
    )
    k1 = [r for r in rows if r["k"] == 1]
    assert [(r["state"], r["valid_from"].day) for r in k1] == [("A", 1), ("B", 3), ("A", 4)]
    assert k1[0]["valid_to"] == d(2024, 1, 3) and not k1[0]["is_current"]
    assert k1[1]["valid_to"] == d(2024, 1, 4)
    assert k1[2]["valid_to"] is None and k1[2]["is_current"]
    [k2] = [r for r in rows if r["k"] == 2]
    assert k2["is_current"] and k2["valid_to"] is None


def test_dataset_diff_statuses_and_null_safety(spark):
    """All four statuses; NULL vs '' must count as changed (the
    null-tagged hash), NULL == NULL as unchanged."""
    from awi_datapipelinepublic_spark.operators.merge import dataset_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, ""), (5, None)],
        "k long, v string",
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, ""), (5, None), (6, "new")],
        "k long, v string",
    )
    got = {r["k"]: r["diff_status"] for r in dataset_diff(old, new, ["k"]).collect()}
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "changed",   # NULL -> '' is a real change, not hash-equal
        4: "removed",
        5: "unchanged", # NULL -> NULL
        6: "added",
    }


# ---------------------------------------------------------------------------
# Atomic-swap writer: crash recovery at every fault point + multi-batch
# ownership at scale. The reference's base-table replace is a BigQuery
# CREATE OR REPLACE TABLE (config.py:190-199) — atomic by the warehouse
# contract. The engine analog (sources/writers.overwrite_table) stages
# each snapshot to a hidden versioned sibling and re-points a symlink
# with one rename; a kill at ANY step must leave a reader seeing a
# complete old or complete new snapshot — never a mix, never a missing
# table.
# ---------------------------------------------------------------------------

import pathlib

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from awi_datapipelinepublic_spark.sources import writers
from awi_datapipelinepublic_spark.sources.writers import overwrite_table, recover_table


def _rows(spark, path):
    return sorted((r["pk"], r["d"]) for r in spark.read.parquet(str(path)).collect())


def _mk(spark, lo, hi):
    dates = [dt.date(2024, 1 + (i % 6), 1 + (i % 27)) for i in range(lo, hi)]
    return spark.createDataFrame(
        [(i, d) for i, d in zip(range(lo, hi), dates)], "pk long, d date"
    )


@pytest.fixture()
def published(spark, tmp_path):
    """A healthy symlink-published table with known contents."""
    path = tmp_path / "t"
    old = _mk(spark, 0, 50)
    overwrite_table(old, str(path))
    return path, _rows(spark, path)


def test_publish_creates_missing_parent_dir(spark, tmp_path):
    """The lock file is a sibling of the table, so a first publish into
    a directory that does not exist yet must create it (it used to die
    with FileNotFoundError on ``.t.lock``; demo_pipeline.py hit this)."""
    path = tmp_path / "missing" / "t"
    overwrite_table(_mk(spark, 0, 20), str(path))
    assert _rows(spark, path) == sorted((r["pk"], r["d"]) for r in _mk(spark, 0, 20).collect())
    assert not (path.parent / ".t.lock").exists()


def test_crash_during_data_write_reads_old(spark, published, tmp_path):
    """Kill mid-materialization: a _SUCCESS-less version dir is debris —
    the pointer still serves the old snapshot and the next publish
    sweeps the junk."""
    path, old_rows = published
    junk = tmp_path / f".{path.name}.v-99999999-dead"
    junk.mkdir()
    (junk / "part-00000.parquet").write_bytes(b"not parquet")
    recover_table(str(path))  # must not roll onto an incomplete dir
    assert _rows(spark, path) == old_rows
    overwrite_table(_mk(spark, 100, 120), str(path))
    assert not junk.exists(), "incomplete crash debris must be GC'd"
    assert _rows(spark, path) == _rows(spark, path)  # readable post-GC


def test_crash_before_swap_reads_old_then_next_publish_wins(
    spark, published, monkeypatch
):
    """Kill between materialization and the pointer flip: the complete
    but unreferenced snapshot is invisible (old rows served) and the
    next publish supersedes it."""
    path, old_rows = published

    def boom(target, vdir):
        raise RuntimeError("killed before swap")

    monkeypatch.setattr(writers, "_point_at", boom)
    with pytest.raises(RuntimeError):
        overwrite_table(_mk(spark, 100, 130), str(path))
    monkeypatch.undo()
    assert _rows(spark, path) == old_rows
    recover_table(str(path))  # healthy pointer → no-op
    assert _rows(spark, path) == old_rows
    new = _mk(spark, 200, 210)
    overwrite_table(new, str(path))
    assert _rows(spark, path) == sorted((r["pk"], r["d"]) for r in new.collect())
    # exactly one referenced snapshot remains
    assert len(list(path.parent.glob(f".{path.name}.v-*"))) == 1


def test_crash_mid_legacy_migration_rolls_forward(spark, tmp_path, monkeypatch):
    """The ONE non-atomic window: migrating a pre-versioning plain dir
    (dir renamed away, symlink not yet in place). recover_table must
    re-point at the newest complete snapshot — old or new, never
    absent, never a mix."""
    path = tmp_path / "legacy"
    old = _mk(spark, 0, 40)
    old.write.parquet(str(path))  # plain dir, pre-versioning layout
    new = _mk(spark, 500, 560)

    calls = {"n": 0}
    real = writers._point_at

    def boom(target, vdir):
        calls["n"] += 1
        raise RuntimeError("killed mid-migration")

    monkeypatch.setattr(writers, "_point_at", boom)
    with pytest.raises(RuntimeError):
        overwrite_table(new, str(path))
    monkeypatch.undo()
    assert calls["n"] == 1
    assert not path.exists() and not path.is_symlink()  # the crash window
    recover_table(str(path))
    got = _rows(spark, path)
    old_rows = sorted((r["pk"], r["d"]) for r in old.collect())
    new_rows = sorted((r["pk"], r["d"]) for r in new.collect())
    assert got in (old_rows, new_rows), "must be exactly one full snapshot"
    assert got == new_rows, "newest complete snapshot wins (roll forward)"
    # table is healthy again: a further publish works and GCs history
    overwrite_table(_mk(spark, 900, 910), str(path))
    assert len(list(path.parent.glob(f".{path.name}.v-*"))) == 1


def test_crash_during_gc_is_self_healing(spark, published, monkeypatch):
    """Kill mid-GC: the new snapshot is already live; stranded old
    dirs are swept by the next publish."""
    path, _ = published
    new = _mk(spark, 300, 330)

    def boom(*a, **k):
        raise RuntimeError("killed during GC")

    monkeypatch.setattr(writers.shutil, "rmtree", boom)
    with pytest.raises(RuntimeError):
        overwrite_table(new, str(path))
    monkeypatch.undo()
    assert _rows(spark, path) == sorted((r["pk"], r["d"]) for r in new.collect())
    overwrite_table(_mk(spark, 400, 410), str(path))
    assert len(list(path.parent.glob(f".{path.name}.v-*"))) == 1


def _merge_expected(batches):
    """Reference semantics replayed in Python: each batch owns
    [min(batch.d), ∞) over the accumulated base."""
    base: list = []
    for batch in batches:
        cutoff = min(d for _, d in batch)
        base = [(pk, d) for pk, d in base if d < cutoff] + list(batch)
    return sorted(base)


@settings(max_examples=3, deadline=None)
@given(data=st.data())
def test_multibatch_ownership_invariant_property(spark, tmp_path_factory, data):
    """SURVEY §5.3: after ANY sequence of merges, every time window is
    owned by the LATEST batch whose range covers it — base rows at or
    past a later batch's cutoff never survive. Random batch sequence,
    month-partitioned storage, Python replay as the oracle."""
    tmp = tmp_path_factory.mktemp("multibatch")
    path = str(tmp / "base")
    months = [dt.date(2024, m, day) for m in range(1, 7) for day in (3, 14, 25)]
    n_batches = data.draw(st.integers(2, 4))
    batches = []
    next_pk = 0
    for _ in range(n_batches):
        rows = data.draw(
            st.lists(st.sampled_from(months), min_size=1, max_size=30)
        )
        batch = [(next_pk + i, d) for i, d in enumerate(rows)]
        next_pk += len(rows)
        batches.append(batch)
        merge_into_path(
            spark,
            path,
            spark.createDataFrame(batch, "pk long, d date"),
            "d",
            partition_by_month=True,
        )
    got = sorted(
        (r["pk"], r["d"])
        for r in spark.read.parquet(path).select("pk", "d").collect()
    )
    assert got == _merge_expected(batches)


def test_merged_base_scan_is_partition_pruned(spark, tmp_path):
    """The point of month partitioning: a month filter over the merged
    base must prune at scan time (PartitionFilters in the scan node),
    including through the atomic writer's symlink indirection."""
    path = str(tmp_path / "base")
    rows = [(i, dt.date(2024, 1 + i % 6, 5)) for i in range(600)]
    merge_into_path(
        spark, path, spark.createDataFrame(rows, "pk long, d date"), "d"
    )
    # second merge so the base went through the symlink read+publish path
    rows2 = [(1000 + i, dt.date(2024, 6, 20)) for i in range(50)]
    merge_into_path(
        spark, path, spark.createDataFrame(rows2, "pk long, d date"), "d"
    )
    scan = spark.read.parquet(path).filter(F.col("_merge_month") == "2024-02")
    txt = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in txt
    head = txt.split("PartitionFilters")[1].splitlines()[0]
    assert "_merge_month" in head, head
    assert scan.count() == 100


@pytest.mark.slow
def test_multibatch_merge_sf01_scale(spark, tmp_path):
    """Month-partitioned multi-batch merge at sf0.1 volume (600k
    lineitem rows): ownership invariant holds and the month scan stays
    partition-pruned at real data size."""
    li = (
        spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select(
            F.col("l_orderkey").alias("pk"),
            F.col("l_shipdate").cast("date").alias("d"),
            "l_quantity",
        )
    )
    path = str(tmp_path / "base")
    # batch 1: everything; batch 2 restates 1995+ with bumped quantity
    merge_into_path(spark, path, li, "d")
    restate = li.filter(F.col("d") >= F.lit("1995-01-01").cast("date")).withColumn(
        "l_quantity", F.col("l_quantity") + 100
    )
    merge_into_path(spark, path, restate, "d")
    base = spark.read.parquet(path)
    pre = base.filter(F.col("d") < "1995-01-01")
    post = base.filter(F.col("d") >= "1995-01-01")
    # ownership: restated rows all carry the +100 quantities (>100 every row)
    assert post.filter(F.col("l_quantity") <= 100).count() == 0
    assert pre.filter(F.col("l_quantity") > 100).count() == 0
    expected_pre = li.filter(F.col("d") < "1995-01-01").count()
    assert pre.count() == expected_pre
    assert post.count() == restate.count()
    scan = base.filter(F.col("_merge_month") == "1996-03")
    txt = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in txt
    assert "_merge_month" in txt.split("PartitionFilters")[1].splitlines()[0]


def test_keep_versions_time_travel(spark, tmp_path):
    """Retention + time travel on the atomic writer: keep_versions=3
    retains the last three complete snapshots, read_version resolves
    them, GC'd versions raise, and the default keeps only the live
    snapshot."""
    from awi_datapipelinepublic_spark.sources.writers import (
        list_versions,
        read_version,
    )

    path = str(tmp_path / "tt")
    for lo in (0, 100, 200, 300):
        overwrite_table(_mk(spark, lo, lo + 10), path, keep_versions=3)
    kept = list_versions(path)
    assert [n for n, _ in kept] == [2, 3, 4]  # v1 retention-GC'd
    assert {r["pk"] for r in read_version(spark, path, 2).collect()} == set(
        range(100, 110)
    )
    assert {r["pk"] for r in read_version(spark, path, 4).collect()} == set(
        range(300, 310)
    )
    assert _rows(spark, path) == _rows(spark, pathlib.Path(kept[-1][1]))
    with pytest.raises(KeyError):
        read_version(spark, path, 1)
    # default retention: next publish collapses history to the live one
    overwrite_table(_mk(spark, 400, 410), path)
    assert [n for n, _ in list_versions(path)] == [5]


def test_merge_into_table_repairs_a_publish_without_catalog_sync(spark, drop_table):
    """A merge that published at the table's location but died before
    the catalog sync (CREATE/REFRESH/MSCK) leaves a stale catalog entry:
    the next merge_into_table must return every batch and see both the
    month the missed merge emptied and the month the new one adds."""
    from awi_datapipelinepublic_spark.operators.merge import (
        merge_into_path,
        merge_into_table,
    )
    from awi_datapipelinepublic_spark.sources.layout import table_location

    t = "t_sync_crash"
    drop_table(t)
    b1 = _df(spark, [(1, dt.date(2024, 1, 10), "a"), (2, dt.date(2024, 3, 10), "a")])
    merge_into_table(spark, t, b1, "d")
    # the crashed merge: published, catalog never told (March emptied)
    b2 = _df(spark, [(3, dt.date(2024, 2, 1), "b")])
    merge_into_path(spark, str(table_location(spark, t)), b2, "d")
    b3 = _df(spark, [(4, dt.date(2024, 4, 1), "c")])
    merge_into_table(spark, t, b3, "d")
    rows = spark.table(t).collect()
    assert {r["pk"]: r["v"] for r in rows} == {1: "a", 3: "b", 4: "c"}
    assert {r["_merge_month"] for r in rows} == {"2024-01", "2024-02", "2024-04"}
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {t}").collect()}
    assert parts == {"_merge_month=2024-01", "_merge_month=2024-02", "_merge_month=2024-04"}
    drop_table(t)


def test_merge_into_table_keeps_history_after_drop(spark, drop_table):
    """The merged catalog table is EXTERNAL over the snapshot pointer:
    DROP TABLE removes the name only, so a re-merge into the same name
    (what a new session with an in-memory catalog does) keeps the
    history instead of starting over."""
    from awi_datapipelinepublic_spark.operators.merge import merge_into_table

    t = "t_drop_keeps"
    drop_table(t)
    b1 = _df(spark, [(1, dt.date(2024, 1, 10), "a"), (2, dt.date(2024, 2, 10), "a")])
    merge_into_table(spark, t, b1, "d")
    assert spark.catalog.getTable(t).tableType == "EXTERNAL"
    spark.sql(f"DROP TABLE {t}")
    b2 = _df(spark, [(3, dt.date(2024, 2, 1), "b")])
    merge_into_table(spark, t, b2, "d")
    assert {r["pk"]: r["v"] for r in spark.table(t).collect()} == {1: "a", 3: "b"}
    drop_table(t)


def test_overwrite_table_refuses_object_store_uri(spark, tmp_path, monkeypatch):
    """publish_lock rejects a non-local URI before any filesystem call
    (Path would collapse s3://bucket/t into the relative dir
    s3:/bucket/t under the cwd); file:// names the local path."""
    monkeypatch.chdir(tmp_path)
    df = _mk(spark, 0, 5)
    with pytest.raises(ValueError, match="local paths"):
        overwrite_table(df, "s3://bucket/t")
    with pytest.raises(ValueError, match="local paths"):
        with writers.publish_lock("hdfs://nn/t"):
            pass
    assert list(tmp_path.iterdir()) == []
    overwrite_table(df, f"file://{tmp_path}/t")
    assert (tmp_path / "t").is_symlink()
    assert not (tmp_path / "file:").exists()
    assert _rows(spark, tmp_path / "t") == sorted((r["pk"], r["d"]) for r in df.collect())


@settings(max_examples=3, deadline=None)
@given(data=st.data())
def test_atomic_writer_random_crash_sequences(spark, tmp_path_factory, data):
    """Hypothesis over random publish/crash interleavings: after ANY
    sequence of successful publishes and crashes injected at the
    pointer flip or the GC step, the table always reads as exactly ONE
    complete published snapshot — never a mix, never a half-write —
    and a final clean publish always succeeds and collapses history.

    Visibility model (the writer's contract):
    - clean publish → new snapshot visible;
    - crash at the pointer flip → old snapshot still visible; EXCEPT
      on a first-ever publish, where recover_table legitimately rolls
      the complete orphan forward (WAL-redo semantics — the data was
      fully materialized, only the pointer was missing);
    - crash during GC → new snapshot already visible (GC may also have
      nothing to delete, in which case the publish simply succeeds).
    """
    tmp = tmp_path_factory.mktemp("crash_seq")
    path = tmp / "t"
    import unittest.mock as mock

    committed = None  # rows the reader must see (None = no table yet)
    gen = 0
    for step in range(data.draw(st.integers(2, 5))):
        gen += 1
        df = _mk(spark, gen * 1000, gen * 1000 + 5)
        fault = data.draw(
            st.sampled_from(["none", "before_swap", "during_gc"]),
            label=f"fault_{step}",
        )
        rows = sorted((r["pk"], r["d"]) for r in df.collect())
        if fault == "none":
            overwrite_table(df, str(path))
            committed = rows
        elif fault == "before_swap":
            with mock.patch.object(
                writers, "_point_at", side_effect=RuntimeError("crash")
            ):
                with pytest.raises(RuntimeError):
                    overwrite_table(df, str(path))
            recover_table(str(path))
            if committed is None:
                committed = rows  # first-publish roll-forward
        else:  # during_gc — snapshot live before the (possible) crash
            with mock.patch.object(
                writers.shutil, "rmtree", side_effect=RuntimeError("crash")
            ):
                try:
                    overwrite_table(df, str(path))
                except RuntimeError:
                    pass  # GC had work and "crashed"; publish is live
            committed = rows
        recover_table(str(path))  # idempotent; must never corrupt
        assert _rows(spark, path) == committed
    final = _mk(spark, 99000, 99007)
    overwrite_table(final, str(path))
    assert _rows(spark, path) == sorted((r["pk"], r["d"]) for r in final.collect())
    assert len(list(path.parent.glob(f".{path.name}.v-*"))) == 1


def test_publish_lock_rejects_concurrent(spark, published):
    """Single-writer contract made loud: while another writer holds the
    publish lock the publish is refused (table untouched); once the
    holder releases, the publish lands and leaves the lock free."""
    from awi_datapipelinepublic_spark.sources.writers import ConcurrentPublishError

    path, old_rows = published
    with writers.publish_lock(path):
        with pytest.raises(ConcurrentPublishError):
            overwrite_table(_mk(spark, 700, 705), str(path))
    assert _rows(spark, path) == old_rows
    new = _mk(spark, 800, 805)
    overwrite_table(new, str(path))
    assert _rows(spark, path) == sorted((r["pk"], r["d"]) for r in new.collect())
    with writers.publish_lock(path):
        pass  # released after the publish: a fresh lock acquires


def test_merge_schema_evolution_pads_with_nulls(spark, tmp_path):
    """allow_schema_evolution (the mergeSchema analog): a batch may add
    a column (history reads NULL) or omit one (batch rows read NULL);
    without the flag the mismatch stays a loud error."""
    from awi_datapipelinepublic_spark.operators.merge import (
        merge_into_path,
        merge_time_window,
    )
    from pyspark.sql.utils import AnalysisException

    base = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), "a")], "pk long, d date, v string"
    )
    widened = spark.createDataFrame(
        [(2, dt.date(2024, 2, 1), "b", 7.5)],
        "pk long, d date, v string, score double",
    )
    with pytest.raises(AnalysisException):
        merge_time_window(base, widened, "d").collect()
    rows = {
        r["pk"]: (r["v"], r["score"])
        for r in merge_time_window(
            base, widened, "d", allow_schema_evolution=True
        ).collect()
    }
    assert rows == {1: ("a", None), 2: ("b", 7.5)}
    narrowed = spark.createDataFrame(
        [(3, dt.date(2024, 3, 1))], "pk long, d date"
    )
    rows = {
        r["pk"]: r["v"]
        for r in merge_time_window(
            base, narrowed, "d", allow_schema_evolution=True
        ).collect()
    }
    assert rows == {1: "a", 3: None}
    # storage level: evolved merge lands and reads back with the union schema
    path = str(tmp_path / "evolve")
    merge_into_path(spark, path, base, "d")
    merge_into_path(spark, path, widened, "d", allow_schema_evolution=True)
    out = {r["pk"]: r["score"] for r in spark.read.parquet(path).collect()}
    assert out == {1: None, 2: 7.5}


# ---------------------------------------------------------------------------
# Publish concurrency: the per-table flock, catalog-merge locking,
# lost-history recovery ordering, and compaction-vs-merge serialization.
# ---------------------------------------------------------------------------


def test_merge_into_path_recovers_crashed_migration_before_merge(
    spark, tmp_path, monkeypatch
):
    """A crash in the legacy-migration window leaves the pointer absent
    while complete snapshots exist. merge_into_path must run
    recover_table BEFORE its exists() check — otherwise it reads the
    table as empty, publishes the new batch alone, and GC deletes the
    old snapshot: silent loss of all history."""
    from awi_datapipelinepublic_spark.operators.merge import merge_into_path

    path = tmp_path / "t"
    old = _mk(spark, 0, 40)  # dates span 2024-01..2024-06
    old.write.parquet(str(path))  # legacy plain-dir layout
    monkeypatch.setattr(
        writers, "_point_at", lambda *a: (_ for _ in ()).throw(RuntimeError("kill"))
    )
    with pytest.raises(RuntimeError):
        overwrite_table(old, str(path))  # re-publish crashes mid-migration
    monkeypatch.undo()
    assert not path.exists() and not path.is_symlink()  # the crash window
    # late batch owns [2024-07-01, ∞) — no overlap with history
    new = spark.createDataFrame(
        [(900, dt.date(2024, 7, 1))], "pk long, d date"
    )
    merge_into_path(spark, str(path), new, "d", partition_by_month=False)
    got = _rows(spark, path)
    assert (900, dt.date(2024, 7, 1)) in got
    assert len(got) == 41, "history must survive the recovered merge"


@pytest.mark.parametrize("op", ["merge", "cdc"])
def test_read_then_publish_holds_the_lock_across_its_read(spark, tmp_path, monkeypatch, op):
    """A read-then-publish (the path merge, the streaming CDC fold) holds
    the table's lock from its read to its publish, as the reference's
    CREATE OR REPLACE … AS SELECT is one statement. Writer A pauses
    right after reading the current snapshot; a second writer of the
    same table must get ConcurrentPublishError and publish nothing
    (unlocked, its publish GCs the snapshot A read and A then fails on
    a missing file). Resumed, A publishes what it would alone."""
    import threading

    from awi_datapipelinepublic_spark.sources import readers
    from awi_datapipelinepublic_spark.sources.writers import ConcurrentPublishError
    from awi_datapipelinepublic_spark.streaming.windows import cdc_batch_handler

    real_read = readers.read_snapshot
    a_read, resume = threading.Event(), threading.Event()

    def read_then_pause(spark_, path):
        df = real_read(spark_, path)
        if threading.current_thread().name == "writer-a" and not a_read.is_set():
            a_read.set()
            resume.wait(timeout=120)
        return df

    monkeypatch.setattr(readers, "read_snapshot", read_then_pause)

    def table(root):
        """The three writes (setup, A, B) of one table under ``root``,
        and a reader of its state."""
        if op == "merge":
            path = str(root / "t")
            writes = [
                lambda lo=lo: merge_into_path(spark, path, _mk(spark, lo, lo + 20), "d")
                for lo in (0, 100, 200)
            ]
            return writes, lambda: _rows(spark, path)
        snap, changes = str(root / "snap"), str(root / "changes")
        handle = cdc_batch_handler(snap, changes, ["k"])
        batches = [[(1, "a"), (2, "b")], [(2, "B"), (3, "c")], [(1, "x")]]
        writes = [
            lambda i=i, rows=rows: handle(spark.createDataFrame(rows, "k long, v string"), i)
            for i, rows in enumerate(batches)
        ]

        def state():
            s = {tuple(r) for r in spark.read.parquet(snap).collect()}
            c = {tuple(r) for r in spark.read.parquet(changes).collect()}
            return s, c

        return writes, state

    (setup, write_a, write_b), state = table(tmp_path / "race")
    setup()
    before = state()
    errors = []

    def run_a():
        try:
            write_a()
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    a = threading.Thread(target=run_a, name="writer-a")
    a.start()
    try:
        assert a_read.wait(timeout=120), "writer A never read the table"
        with pytest.raises(ConcurrentPublishError):
            write_b()
        assert state() == before, "the refused writer must publish nothing"
    finally:
        resume.set()
        a.join(timeout=120)
    assert not a.is_alive() and errors == []
    (setup, write_a, _), alone = table(tmp_path / "alone")
    setup()
    write_a()
    assert state() == alone()


def test_publish_lock_race_exactly_one_winner(tmp_path):
    """N threads racing for one table's lock: exactly one acquires and
    the rest are refused. flock locks belong to the open file
    description, so threads of one process contend like processes do.
    The winner holds the lock until every loser has tried."""
    import threading

    from awi_datapipelinepublic_spark.sources.writers import ConcurrentPublishError

    target = tmp_path / "t"
    start = threading.Barrier(4)
    tried = threading.Barrier(4)
    results = []
    res_lock = threading.Lock()

    def racer():
        start.wait()
        try:
            with writers.publish_lock(target):
                with res_lock:
                    results.append("acquired")
                tried.wait(timeout=30)
        except ConcurrentPublishError:
            with res_lock:
                results.append("refused")
            tried.wait(timeout=30)

    threads = [threading.Thread(target=racer) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert sorted(results) == ["acquired", "refused", "refused", "refused"]
    with writers.publish_lock(target):
        pass  # the winner released: a fresh lock acquires


def test_publish_lock_refuses_on_a_released_inode(tmp_path, monkeypatch):
    """Release unlinks the lock file, so a writer can open the old
    inode, lose the CPU while the holder releases and a new writer
    locks a fresh file, then win the flock on the dead inode. It must
    notice the path now names another inode and contend on that one —
    here refused, since the new writer still holds it."""
    import fcntl

    from awi_datapipelinepublic_spark.sources.writers import ConcurrentPublishError

    target = tmp_path / "t"
    lock = tmp_path / ".t.lock"
    real_flock = fcntl.flock
    newer = []

    def release_then_relock(f, op):
        if not newer:
            lock.unlink()  # the old holder released...
            newer.append(open(lock, "a"))  # ...and a new writer locked
            real_flock(newer[0], fcntl.LOCK_EX | fcntl.LOCK_NB)
        return real_flock(f, op)

    lock.touch()  # left by the old holder, still holding it
    monkeypatch.setattr(writers.fcntl, "flock", release_then_relock)
    try:
        with pytest.raises(ConcurrentPublishError):
            with writers.publish_lock(target):
                pass
    finally:
        for f in newer:
            f.close()


def test_publish_lock_freed_when_holder_is_killed(spark, published):
    """A holder process killed with SIGKILL never runs its release, yet
    the kernel frees its flock at once: while the child lives the
    publish is refused, after the kill it lands with no wait and no
    manual cleanup."""
    import os
    import subprocess

    from awi_datapipelinepublic_spark.sources.writers import ConcurrentPublishError

    path, old_rows = published
    repo = str(Path(__file__).resolve().parents[1])
    with subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys, pathlib\n"
            "from awi_datapipelinepublic_spark.sources.writers import publish_lock\n"
            "with publish_lock(pathlib.Path(sys.argv[1])):\n"
            "    print('held', flush=True)\n"
            "    sys.stdin.read()\n",
            str(path),
        ],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
        env={**os.environ, "PYTHONPATH": repo},
    ) as child:
        try:
            assert child.stdout.readline().strip() == "held"
            with pytest.raises(ConcurrentPublishError):
                overwrite_table(_mk(spark, 700, 705), str(path))
            assert _rows(spark, path) == old_rows
        finally:
            child.kill()
            child.wait()
    new = _mk(spark, 800, 805)
    overwrite_table(new, str(path))
    assert _rows(spark, path) == sorted((r["pk"], r["d"]) for r in new.collect())


def test_merge_into_table_publish_lock(spark, tmp_path, drop_table):
    """Catalog-merge twin of the path writer's lock: while another
    writer holds the table's lock the merge is refused (base
    untouched); once it releases, the merge lands. Reference
    semantics: the per-type serialized Cloud Functions
    (main.py:39-41)."""
    from awi_datapipelinepublic_spark.operators.merge import merge_into_table
    from awi_datapipelinepublic_spark.sources.layout import table_location
    from awi_datapipelinepublic_spark.sources.writers import ConcurrentPublishError

    table = "t_lock_catalog_r10"
    drop_table(table)
    b1 = spark.createDataFrame([(1, dt.date(2024, 1, 1))], "pk long, d date")
    merge_into_table(spark, table, b1, "d", partition_by_month=False)
    loc = table_location(spark, table)
    b2 = spark.createDataFrame([(2, dt.date(2024, 2, 1))], "pk long, d date")
    with writers.publish_lock(loc):
        with pytest.raises(ConcurrentPublishError):
            merge_into_table(spark, table, b2, "d", partition_by_month=False)
    assert [r["pk"] for r in spark.table(table).collect()] == [1]
    merge_into_table(spark, table, b2, "d", partition_by_month=False)
    assert sorted(r["pk"] for r in spark.table(table).collect()) == [1, 2]
    with writers.publish_lock(loc):
        pass  # released after the catalog merge: a fresh lock acquires
    drop_table(table)


@settings(max_examples=3, deadline=None)
@given(data=st.data())
def test_compaction_under_merge_pressure_property(spark, tmp_path_factory, data):
    """N small merges accrete small files; compaction must (a) hold the
    publish lock across its read+rewrite — a merge landing between an
    UNLOCKED read and the pointer flip would be erased by the stale
    compacted snapshot — (b) preserve content exactly, (c) land the
    file count on the size-derived target."""
    from awi_datapipelinepublic_spark.operators.merge import merge_into_path
    from awi_datapipelinepublic_spark.sources.writers import (
        ConcurrentPublishError,
        compact_table,
    )

    tmp_path = tmp_path_factory.mktemp("compact")
    path = tmp_path / "t"
    n_batches = data.draw(st.integers(min_value=2, max_value=4))
    batches = []
    for i in range(n_batches):
        start = data.draw(st.integers(min_value=1, max_value=5))
        rows = [
            (100 * i + j, dt.date(2024, 1 + ((start + j) % 6), 1 + ((start + j) % 27)))
            for j in range(data.draw(st.integers(min_value=1, max_value=6)))
        ]
        batches.append(rows)
        batch_df = spark.createDataFrame(rows, "pk long, d date")
        merge_into_path(spark, str(path), batch_df, "d", partition_by_month=False)
    expected = _merge_expected(batches)
    assert _rows(spark, path) == expected
    # compaction refuses while a (simulated) merge holds the lock
    with writers.publish_lock(path):
        with pytest.raises(ConcurrentPublishError):
            compact_table(spark, str(path))
    n_files = compact_table(spark, str(path))
    assert n_files == 1, "tiny table must compact to the 1-file target"
    assert len(list(Path(str(path) + "/").rglob("*.parquet"))) == 1
    assert _rows(spark, path) == expected, "compaction preserves content"
    with writers.publish_lock(path):
        pass  # released after compaction: a fresh lock acquires


def _rollup_refresh(spark, base_path, rollup_path, since):
    from awi_datapipelinepublic_spark.operators.merge import refresh_monthly_rollup

    refresh_monthly_rollup(
        spark,
        base_path,
        rollup_path,
        group_cols=[],
        agg_exprs=[
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("pk").cast("bigint").alias("s"),
        ],
        since_month=since,
    )


@settings(max_examples=3, deadline=None)
@given(data=st.data())
def test_incremental_rollup_matches_full_recompute(spark, tmp_path_factory, data):
    """Incremental view maintenance: after every merge, refreshing only
    months >= month(cutoff) must leave the rollup identical to a full
    groupBy over the merged base — the aggregate-level ownership
    invariant (a batch owning [cutoff, inf) at the row level owns
    [month(cutoff), inf) at the month grain)."""
    from awi_datapipelinepublic_spark.operators.merge import merge_into_path

    tmp_path = tmp_path_factory.mktemp("rollup")
    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")
    n_batches = data.draw(st.integers(min_value=2, max_value=4))
    for i in range(n_batches):
        month = data.draw(st.integers(min_value=1, max_value=6))
        rows = [
            (100 * i + j, dt.date(2024, month + (j % (7 - month)), 1 + (j % 27)))
            for j in range(data.draw(st.integers(min_value=1, max_value=8)))
        ]
        batch = spark.createDataFrame(rows, "pk long, d date")
        merge_into_path(spark, base_path, batch, "d")
        cutoff = min(d for _, d in rows)
        _rollup_refresh(spark, base_path, rollup_path, f"2024-{cutoff.month:02d}")
        got = sorted(
            (r["_merge_month"], r["n"], r["s"])
            for r in spark.read.parquet(rollup_path).collect()
        )
        full = sorted(
            (r["_merge_month"], r["n"], r["s"])
            for r in spark.read.parquet(base_path)
            .groupBy("_merge_month")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("pk").cast("bigint").alias("s"),
            )
            .collect()
        )
        assert got == full


def test_rollup_refresh_base_scan_is_partition_pruned(spark, tmp_path):
    """The refresh's whole point at 100 TB: its base scan must carry a
    PartitionFilters entry on _merge_month, so an incremental refresh
    reads one month's partitions, never the history."""
    from awi_datapipelinepublic_spark.operators.merge import merge_into_path

    base_path = str(tmp_path / "base")
    rows = [(i, dt.date(2024, 1 + i % 6, 5)) for i in range(600)]
    merge_into_path(spark, base_path, spark.createDataFrame(rows, "pk long, d date"), "d")
    base = spark.read.parquet(base_path).filter(F.col("_merge_month") >= F.lit("2024-06"))
    fresh = base.groupBy("_merge_month").agg(F.count(F.lit(1)).alias("n"))
    txt = fresh._sc._jvm.PythonSQLUtils.explainString(
        fresh._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in txt
    head = txt.split("PartitionFilters")[1].splitlines()[0]
    assert "_merge_month" in head, head
    # and the refresh path itself lands correct month rows
    rollup_path = str(tmp_path / "rollup")
    _rollup_refresh(spark, base_path, rollup_path, None)  # bootstrap
    _rollup_refresh(spark, base_path, rollup_path, "2024-06")
    got = {r["_merge_month"]: r["n"] for r in spark.read.parquet(rollup_path).collect()}
    assert got["2024-06"] == 100 and len(got) == 6


# ---------------------------------------------------------------------------
# Rollup bootstrap and locking.
# ---------------------------------------------------------------------------


def test_rollup_incremental_without_stored_rollup_rebuilds_full(spark, tmp_path):
    """since_month set but NO stored rollup: an incremental refresh
    would publish only months >= since_month and silently truncate all
    history. The fallback must rebuild from the UNFILTERED base."""
    from awi_datapipelinepublic_spark.operators.merge import merge_into_path

    base_path = str(tmp_path / "base")
    rows = [(m * 100 + j, dt.date(2024, m, 1 + j)) for m in (1, 2, 3) for j in range(3)]
    merge_into_path(
        spark, base_path, spark.createDataFrame(rows, "pk long, d date"), "d"
    )
    rollup_path = str(tmp_path / "rollup")  # never bootstrapped
    _rollup_refresh(spark, base_path, rollup_path, "2024-03")
    got = {r["_merge_month"]: r["n"] for r in spark.read.parquet(rollup_path).collect()}
    assert got == {"2024-01": 3, "2024-02": 3, "2024-03": 3}, (
        "missing rollup + since_month must full-rebuild, not truncate history"
    )


def test_rollup_refresh_holds_publish_lock(spark, tmp_path):
    """Two concurrent refreshes of one rollup must serialize: while
    another writer holds the rollup's lock the whole read-merge-publish
    is refused (the unlocked read-then-publish interleave would lose
    one refresh)."""
    from awi_datapipelinepublic_spark.operators.merge import merge_into_path
    from awi_datapipelinepublic_spark.sources.writers import ConcurrentPublishError

    base_path = str(tmp_path / "base")
    rows = [(j, dt.date(2024, 1, 1 + j)) for j in range(3)]
    merge_into_path(
        spark, base_path, spark.createDataFrame(rows, "pk long, d date"), "d"
    )
    rollup_path = tmp_path / "rollup"
    with writers.publish_lock(rollup_path):
        with pytest.raises(ConcurrentPublishError):
            _rollup_refresh(spark, base_path, str(rollup_path), None)
    assert not rollup_path.exists(), "refused refresh must not publish"
    _rollup_refresh(spark, base_path, str(rollup_path), None)
    with writers.publish_lock(rollup_path):
        pass  # released after the refresh: a fresh lock acquires
    got = {r["_merge_month"]: r["n"] for r in spark.read.parquet(str(rollup_path)).collect()}
    assert got == {"2024-01": 3}


# ---------------------------------------------------------------------------
# Snapshot schema record: every published snapshot carries the schema its
# files read back with, so readers declare it instead of inferring.
# ---------------------------------------------------------------------------


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_snapshot_schema_equals_inference_on_merged_base(spark, tmp_path):
    """A ``_merge_month``-partitioned base written by merge_into_path
    reads with its recorded schema, launching no job, exactly as
    inference reads it: names, types, nullability and column order,
    and the same rows."""
    from awi_datapipelinepublic_spark.sources.readers import SNAPSHOT_SCHEMA, read_snapshot

    path = str(tmp_path / "base")
    batch = spark.createDataFrame(
        [(1, dt.date(2024, 1, 5), "a", 1.5, dt.datetime(2024, 1, 5, 8, 30)),
         (2, dt.date(2024, 2, 9), None, None, None)],
        "pk long NOT NULL, d date, v string, x double, ts timestamp",
    ).filter(F.col("d").isNotNull())  # a non-nullable d in the frame's schema
    merge_into_path(spark, path, batch, "d")
    merge_into_path(
        spark, path, spark.createDataFrame([(3, dt.date(2024, 2, 1), "c", 2.0, None)], batch.schema), "d"
    )
    assert (pathlib.Path(path).resolve() / SNAPSHOT_SCHEMA).exists()
    sc = spark.sparkContext
    group = f"snapshot-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "declared snapshot read")
    try:
        declared = read_snapshot(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []  # no inference job
    inferred = spark.read.parquet(path)
    assert declared.schema == inferred.schema
    assert declared.columns[-1] == "_merge_month"
    assert _sorted_rows(declared) == _sorted_rows(inferred)
    assert {r["pk"] for r in declared.collect()} == {1, 3}


def test_snapshot_reader_infers_legacy_table(spark, tmp_path):
    """A plain Parquet dir with no schema record (legacy or foreign
    table) is still read, by inference."""
    from awi_datapipelinepublic_spark.sources.readers import read_snapshot

    path = str(tmp_path / "legacy")
    _mk(spark, 0, 20).write.parquet(path)
    got = read_snapshot(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert _rows(spark, path) == sorted((r["pk"], r["d"]) for r in got.collect())


def test_read_version_keeps_the_schema_of_its_snapshot(spark, tmp_path):
    """After a schema-evolving merge adds a column, the older snapshot
    reads back with the old schema and the live table with the new
    one, whose partition column moves behind the added column."""
    from awi_datapipelinepublic_spark.sources.readers import read_snapshot
    from awi_datapipelinepublic_spark.sources.writers import list_versions, read_version

    def month(df):
        return df.withColumn("_merge_month", F.date_format("d", "yyyy-MM"))

    path = str(tmp_path / "evolve")
    base = spark.createDataFrame([(1, dt.date(2024, 1, 1), "a")], "pk long, d date, v string")
    overwrite_table(month(base), path, partition_by=["_merge_month"], keep_versions=2)
    widened = spark.createDataFrame(
        [(2, dt.date(2024, 2, 1), "b", 7.5)], "pk long, d date, v string, score double"
    )
    merged = merge_time_window(
        read_snapshot(spark, path), month(widened), "d", allow_schema_evolution=True
    )
    assert merged.columns[-1] == "score"
    overwrite_table(merged, path, partition_by=["_merge_month"], keep_versions=2)
    (old_v, old_dir), (new_v, _) = list_versions(path)
    old, live = read_version(spark, path, old_v), read_snapshot(spark, path)
    assert old.columns == ["pk", "d", "v", "_merge_month"]
    assert old.schema == spark.read.parquet(old_dir).schema
    assert live.columns == ["pk", "d", "v", "score", "_merge_month"]
    assert live.schema == spark.read.parquet(path).schema
    assert _sorted_rows(read_version(spark, path, new_v)) == _sorted_rows(live)
    assert {r["pk"]: r["score"] for r in live.collect()} == {1: None, 2: 7.5}


def test_snapshot_schema_record_is_never_data(spark, tmp_path):
    """The ``_schema.json`` record is skipped by Spark's file listing,
    for partitioned and plain snapshots, declared or inferred reads."""
    from awi_datapipelinepublic_spark.sources.readers import read_snapshot

    plain, parted = str(tmp_path / "plain"), str(tmp_path / "parted")
    overwrite_table(_mk(spark, 0, 30), plain)
    merge_into_path(spark, parted, _mk(spark, 0, 30), "d")
    for path in (plain, parted):
        for df in (read_snapshot(spark, path), spark.read.parquet(path)):
            files = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
            assert files and all(f.endswith(".parquet") for f in files)
            assert df.count() == 30
