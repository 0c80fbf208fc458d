"""Structured Streaming tests: watermarked windows, session windows,
and the custom stateful operator, driven with availableNow over a
parquet copy of the events table."""

import shutil
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from awi_datapipelinepublic_spark.operators.events import sessionize, tumbling_window_agg
from awi_datapipelinepublic_spark.sources.readers import read_events
from awi_datapipelinepublic_spark.streaming.windows import (
    running_user_totals,
    streaming_session_windows,
    streaming_tumbling_counts,
)


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """Events re-staged as µs-timestamp parquet (streams can't use the
    nanos escape hatch mid-plan)."""
    out = str(tmp_path_factory.mktemp("events_parquet") / "events")
    read_events(spark, sf_dir).write.mode("overwrite").parquet(out)
    return out


def _drain(stream_df, tmp_path, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    # an availableNow drain must end by itself; a query still running
    # after the wait is stopped so it cannot outlive the test in the
    # shared session
    if not q.awaitTermination(180):
        q.stop()
        pytest.fail(f"availableNow drain {name!r} still active after 180 s")
    return q


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_stream_dir, tmp_path):
    batch_events = spark.read.parquet(events_stream_dir)
    stream_events = spark.readStream.schema(batch_events.schema).parquet(events_stream_dir)
    _drain(streaming_tumbling_counts(stream_events), tmp_path, "tumbling")
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM tumbling").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in tumbling_window_agg(batch_events).select("window_start", "event_type", "n_events").collect()
    }
    # availableNow + watermark: all but the final (still-open) windows emit.
    assert got, "stream produced no rows"
    for k, v in got.items():
        assert want.get(k) == v, f"window {k}: stream={v} batch={want.get(k)}"
    missing = set(want) - set(got)
    max_ws = max(ws for ws, _ in want)
    assert all(ws >= max_ws - __import__("datetime").timedelta(hours=2) for ws, _ in missing), (
        "only tail windows (inside the watermark) may be unemitted"
    )


def test_streaming_session_windows(spark, events_stream_dir, tmp_path):
    batch_events = spark.read.parquet(events_stream_dir)
    stream_events = spark.readStream.schema(batch_events.schema).parquet(events_stream_dir)
    _drain(streaming_session_windows(stream_events), tmp_path, "sessions")
    got = spark.sql("SELECT * FROM sessions").collect()
    assert got, "no sessions emitted"
    # closed streaming sessions must agree with the batch sessionization
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sessionize(batch_events).collect()
    }
    mismatches = [
        (r["user_id"], r["session_start"], r["n_events"], want.get((r["user_id"], r["session_start"])))
        for r in got
        if want.get((r["user_id"], r["session_start"])) != r["n_events"]
    ]
    assert not mismatches, f"first mismatches: {mismatches[:5]}"


def test_running_user_totals_stateful(spark, events_stream_dir, tmp_path):
    batch_events = spark.read.parquet(events_stream_dir)
    stream_events = spark.readStream.schema(batch_events.schema).parquet(events_stream_dir)
    # timeout_minutes=None: availableNow + ProcessingTimeTimeout never
    # terminates (state-cleanup batches loop) — this drain used to
    # burn the full 180 s awaitTermination; now it finishes in seconds
    _drain(running_user_totals(stream_events, timeout_minutes=None), tmp_path, "running")
    rows = spark.sql("SELECT * FROM running").collect()
    assert rows, "stateful op produced no rows"
    # the final emitted running_events per user == the batch count
    last = {}
    for r in rows:
        last[r["user_id"]] = max(last.get(r["user_id"], 0), r["running_events"])
    want = {
        r["user_id"]: r["n"]
        for r in batch_events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert last == want


def test_streaming_dedup_matches_batch_distinct(spark, events_stream_dir, tmp_path):
    """Re-delivered events (the stream unioned with itself) collapse to
    exactly the batch-distinct set."""
    from awi_datapipelinepublic_spark.streaming.windows import streaming_dedup

    batch = spark.read.parquet(events_stream_dir)
    doubled_dir = str(tmp_path / "doubled")
    batch.union(batch).write.mode("overwrite").parquet(doubled_dir)
    stream = spark.readStream.schema(batch.schema).parquet(doubled_dir)
    _drain(streaming_dedup(stream, ["event_id"]), tmp_path, "dedup_stream")
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_stream").first()
    want = batch.select("event_id").distinct().count()
    assert got["n"] == want and got["d"] == want


def test_stream_stream_join_matches_batch_join(spark, events_stream_dir, tmp_path):
    """Watermarked stream-stream interval join == the same join run in
    batch over the bounded input."""
    from awi_datapipelinepublic_spark.streaming.windows import streaming_click_view_join

    batch = spark.read.parquet(events_stream_dir)
    stream = spark.readStream.schema(batch.schema).parquet(events_stream_dir)

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("clicks_user"), F.col("ts").alias("click_ts"), "event_id"
        )
        views = df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("views_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
        return clicks, views

    _drain(streaming_click_view_join(*split(stream)), tmp_path, "ssjoin")
    got = {
        (r["event_id"], r["view_ts"])
        for r in spark.sql("SELECT event_id, view_ts FROM ssjoin").collect()
    }
    bc, bv = split(batch)
    want = {
        (r["event_id"], r["view_ts"])
        for r in bc.join(
            bv,
            F.expr(
                "clicks_user = views_user AND "
                "view_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts"
            ),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_ewma_matches_batch_ewma(spark, events_stream_dir, tmp_path):
    """Final per-user streaming EWMA (applyInPandasWithState, one
    double of state) must equal the last value of the batch
    applyInPandas recursion over the same ordered input. Drained once
    with ``timeout_minutes=None``, so the availableNow query must
    terminate by itself (with a processing-time timeout it never does)."""
    from awi_datapipelinepublic_spark.operators.timeseries import ewma
    from awi_datapipelinepublic_spark.streaming.windows import running_user_ewma

    batch = spark.read.parquet(events_stream_dir).filter(F.col("value").isNotNull())
    stream = spark.readStream.schema(
        spark.read.parquet(events_stream_dir).schema
    ).parquet(events_stream_dir)
    _drain(
        running_user_ewma(stream, alpha=0.3, timeout_minutes=None), tmp_path, "ewma_stream"
    )
    # last emitted row per user = the final state; seen_events is the
    # state-carried cumulative count, monotone per key across
    # micro-batches (batch_events is per-batch and NOT ordered).
    got = {
        r["user_id"]: round(r["ewma"], 9)
        for r in spark.sql(
            """SELECT user_id, ewma FROM (
                 SELECT user_id, ewma,
                        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY seen_events DESC) rn
                 FROM ewma_stream) WHERE rn = 1"""
        ).collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    want = {
        r["user_id"]: round(r["y"], 9)
        for r in ewma(
            batch.select("user_id", "event_id", "value"),
            "user_id", "event_id", "value", alpha=0.3, out_col="y",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_near_dedup_grows_index(spark, tmp_path):
    """Two availableNow drains over a growing file source: batch 1's
    survivors seed the band index, so batch 2's near-dup of an
    already-kept doc drops while its genuinely new doc survives —
    arrival-order precedence with no Spark state store."""
    from awi_datapipelinepublic_spark.streaming.windows import streaming_near_dedup

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"

    def drain():
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = streaming_near_dedup(stream, idx, out, ckpt, k=3)
        q.awaitTermination(120)

    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "an entirely different document about spark streaming state")],
        schema,
    ).write.mode("append").parquet(in_dir)
    drain()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}

    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
         (11, "completely novel third topic never mentioned before anywhere")],
        schema,
    ).write.mode("append").parquet(in_dir)
    drain()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 11}
    # index holds band rows for every SURVIVOR, nothing for dropped 10
    assert {r.doc_id for r in spark.read.parquet(idx).collect()} == {1, 2, 11}


def test_near_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the survivor
    write and the band-index write replays the whole micro-batch. The
    handler must converge to the same tables no matter how many times
    a batch_id re-runs, and whether the first attempt committed
    neither, one, or both writes (batch-id-keyed dynamic partition
    overwrite + self-partition-excluding index read)."""
    import shutil

    from awi_datapipelinepublic_spark.streaming.windows import near_dedup_batch_handler

    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    handle = near_dedup_batch_handler(idx, out, k=3)
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "an entirely different document about spark streaming state")],
        schema,
    )
    b1 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
         (11, "completely novel third topic never mentioned before anywhere")],
        schema,
    )

    def state():
        o = {r.doc_id for r in spark.read.parquet(out).collect()}
        i = {(r.doc_id, r.band_no) for r in spark.read.parquet(idx).collect()}
        return o, i

    # replay after BOTH writes committed: must not append a second copy
    # nor drop everything as self-hits
    handle(b0, 0)
    once = state()
    handle(b0, 0)
    assert state() == once
    assert once[0] == {1, 2}

    # replay where the first attempt crashed AFTER the survivor write
    # but BEFORE the index write (the advisor's exact scenario)
    handle(b1, 1)
    full = state()
    shutil.rmtree(f"{idx}/__batch_id=1")  # simulate the lost index write
    handle(b1, 1)
    assert state() == full
    assert full[0] == {1, 2, 11}


def test_near_dedup_damaged_index_fails_instead_of_reading_empty(spark, tmp_path):
    """Only an index with no committed partition means "first batch".
    When the index has partitions but its files cannot be read, the
    handler must raise: treating the damaged index as empty would
    admit an exact copy of a kept doc."""
    from awi_datapipelinepublic_spark.streaming.windows import near_dedup_batch_handler

    out = str(tmp_path / "out")
    idx = str(tmp_path / "index")
    handle = near_dedup_batch_handler(idx, out, k=3)
    schema = "doc_id long, text string"
    text = "the quick brown fox jumps over the lazy dog today"
    # a first index write that died before its commit leaves only a
    # staging dir behind: the replayed batch is still the first one
    (tmp_path / "index" / ".spark-staging-0").mkdir(parents=True)
    handle(spark.createDataFrame([(1, text)], schema), 0)
    parts = list(Path(idx).rglob("part-*.parquet"))
    assert parts
    for part in parts:
        part.write_bytes(b"not a parquet file")

    with pytest.raises(Exception, match="(?i)parquet|footer|read"):
        handle(spark.createDataFrame([(3, text)], schema), 1)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}


def test_stream_stream_left_join_flushes_nulls_on_watermark(
    spark, events_stream_dir, tmp_path
):
    """LEFT OUTER stream-stream join == batch left join over the same
    bounded input — including the NULL rows for view-less clicks,
    which the engine may only emit once the watermark proves no match
    can still arrive. Clicks near end-of-stream stay buffered after
    the first drain; a far-future sentinel event advances the
    watermark on a second drain (same checkpoint) and flushes the
    tail — the union of both drains must equal the batch join."""
    import datetime as dt
    import shutil

    from awi_datapipelinepublic_spark.streaming.windows import (
        streaming_click_view_left_join,
    )

    src = str(tmp_path / "events_copy")
    shutil.copytree(events_stream_dir, src)
    batch = spark.read.parquet(src)
    schema = batch.schema

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("clicks_user"), F.col("ts").alias("click_ts"), "event_id"
        )
        views = df.filter(F.col("event_type") == "view").select(
            F.col("user_id").alias("views_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
        return clicks, views

    def key(r):
        return (r["event_id"], r["view_ts"])

    # file sink, not the memory sink: only file sinks support resuming
    # from the checkpoint, which the second (watermark-advancing) drain
    # needs; output accumulates across drains in the directory
    out = str(tmp_path / "ssleft_out")
    ckpt = str(tmp_path / "ssleft_ckpt")

    def drain_to_files():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            streaming_click_view_left_join(*split(stream))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    drain_to_files()
    max_ts = batch.agg(F.max("ts")).first()[0]

    def push_watermark(event_id: int, days: int) -> None:
        # two subtleties this exercises: (a) a watermark computed in
        # batch N only takes effect in batch N+1, so flushing ALL
        # buffered nulls takes two sentinel batches; (b) the GLOBAL
        # watermark is the MIN across both input arms, and each arm's
        # watermark node sits behind its event_type filter — a
        # click-only sentinel would advance the click arm while the
        # view arm (hence the global watermark) stalls at the old max
        # view time, so each sentinel batch carries BOTH a click and a
        # view (same far-future ts, sentinel user: cross-matches are
        # impossible for real rows and dropped for the sentinel's own)
        rows = [
            tuple(
                {"event_id": event_id, "user_id": event_id,
                 "event_type": etype,
                 "ts": max_ts + dt.timedelta(days=days)}.get(f.name)
                for f in schema.fields
            )
            for etype in ("click", "view")
        ]
        spark.createDataFrame(rows, schema).write.mode("append").parquet(src)
        drain_to_files()

    push_watermark(-1, 30)
    push_watermark(-2, 60)
    got = {key(r) for r in spark.read.parquet(out).collect()}
    got = {k for k in got if k[0] not in (-1, -2)}  # drop sentinel rows

    bc, bv = split(batch)
    want = {key(r) for r in bc.join(
        bv,
        F.expr("clicks_user = views_user AND "
               "view_ts BETWEEN click_ts - INTERVAL 1 HOUR AND click_ts"),
        "leftOuter",
    ).collect()}
    assert got == want and len(want) > 0
    # the outer semantics must actually be exercised: some clicks have
    # no view in the preceding hour and emit with a NULL view_ts
    assert any(ts is None for _, ts in want)


def test_cdc_upserts_classify_and_replay_exactly_once(spark, tmp_path, monkeypatch):
    """CDC classifier lifecycle + exactly-once: batch 0 adds keys,
    batch 1 changes one / re-upserts one unchanged / adds one; then
    every replay scenario — after both writes, and after a crash
    before the snapshot's pointer flip — reproduces identical snapshot
    and changes tables."""
    from awi_datapipelinepublic_spark.sources import writers
    from awi_datapipelinepublic_spark.streaming.windows import cdc_batch_handler

    snap = str(tmp_path / "snap")
    changes = str(tmp_path / "changes")
    handle = cdc_batch_handler(snap, changes, ["k"])
    schema = "k long, v string"

    b0 = spark.createDataFrame([(1, "a"), (2, "b")], schema)
    b1 = spark.createDataFrame([(2, "B"), (3, "c"), (1, "a")], schema)

    def state():
        s = {(r["k"], r["hash"], r["prev_hash"], r["first_batch"], r["last_batch"])
             for r in spark.read.parquet(snap).collect()}
        c = {(r["k"], r["__batch_id"], r["cdc_status"])
             for r in spark.read.parquet(changes).collect()}
        return s, c

    def handle_killed_before_flip(batch, batch_id):
        def crash(target, vdir):
            raise RuntimeError("killed before the pointer flip")

        with monkeypatch.context() as m:
            m.setattr(writers, "_point_at", crash)
            with pytest.raises(RuntimeError, match="pointer flip"):
                handle(batch, batch_id)

    handle(b0, 0)
    after_b0 = state()
    assert after_b0[1] == {(1, 0, "added"), (2, 0, "added")}

    # batch 1's first attempt dies before the snapshot's pointer flip:
    # nothing it computed is visible, and the replay below is its retry
    handle_killed_before_flip(b1, 1)
    assert state() == after_b0

    handle(b1, 1)
    full = state()
    assert full[1] == {
        (1, 0, "added"), (2, 0, "added"),
        (2, 1, "changed"), (3, 1, "added"), (1, 1, "unchanged"),
    }

    # replay after BOTH writes committed
    handle(b1, 1)
    assert state() == full

    # replay whose snapshot publish dies before the pointer flip: the
    # committed state stays live and the next replay converges to it
    handle_killed_before_flip(b1, 1)
    assert state() == full
    handle(b1, 1)
    assert state() == full
