"""Streaming analytics: watermarked windowed aggregation, session
windows, dedup, stream-stream joins, per-user stateful operators and
two replay-safe foreachBatch handlers (near-dedup, CDC).

These are the Structured Streaming twins of operators/events.py — the
same logical expressions over an unbounded source, with watermarks
bounding state. The reference's merge cutoff MIN(new.date) is exactly
a watermark (SURVEY.md §2.I): history below it is immutable.

State sizing at scale: a watermark of W and slide S keep ~W/S windows
per key in the state store; sessionization state is one open session
per active key. Both are bounded — the prerequisite for running a
100 TB/day stream without unbounded state growth.

Arbitrary per-key state has one implementation: applyInPandasWithState,
through :func:`_user_state_operator`, which owns the eviction rule for
both :func:`running_user_totals` and :func:`running_user_ewma`. Spark
4's processor-based state API is not used: its state-server protocol
needs a protobuf runtime in the Python workers.
"""

from __future__ import annotations

from collections.abc import Iterator
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def streaming_tumbling_counts(
    events: DataFrame, ts_col: str = "ts", width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling counts over a streaming DataFrame.

    Late rows beyond the watermark are dropped; closed windows emit
    finalized results (append mode) — the streaming rendition of
    operators/events.tumbling_window_agg.
    """
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def streaming_session_windows(
    events: DataFrame, ts_col: str = "ts", gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (F.session_window): gap-based sessions
    closed by the watermark — the streaming twin of
    operators/events.sessionize."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def _user_state_operator(
    frame: DataFrame,
    step,
    state_schema: T.StructType,
    out_schema: str,
    timeout_minutes: int | None,
) -> DataFrame:
    """The one GroupState driver behind the per-user stateful operators:
    ``frame`` grouped by ``user_id`` through applyInPandasWithState,
    with a single eviction rule. A timed-out key's state is removed and
    nothing is emitted. ``timeout_minutes=None`` registers
    ``GroupStateTimeout.NoTimeout`` for drain-once (availableNow)
    callers: with ProcessingTimeTimeout registered, Spark keeps
    scheduling "no new data but cleaning up state" micro-batches until
    the timeouts fire, so an availableNow trigger never terminates.
    Any other value evicts a key idle for that many minutes of
    processing time, bounding state by the active-user set.

    ``step(pdfs, prev)`` folds one micro-batch of a key's rows into its
    state (``prev`` is the stored tuple, or None for a new key) and
    returns ``(new_state, row)``: ``new_state`` None leaves the stored
    state as it is, and ``row`` holds the output columns after
    ``user_id``. ``step`` must be a nested def: the update closure is
    shipped to the Python workers by value.
    """
    no_timeout = timeout_minutes is None

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        new_state, row = step(pdfs, state.get if state.exists else None)
        if new_state is not None:
            state.update(new_state)
        if not no_timeout:
            state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame([{"user_id": key[0], **row}])

    return frame.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if no_timeout
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )


RUNNING_STATE_SCHEMA = T.StructType(
    [T.StructField("total", T.DoubleType()), T.StructField("n", T.LongType())]
)
RUNNING_OUT_SCHEMA = (
    "user_id long, batch_events long, running_events long, running_value double"
)


def running_user_totals(
    events: DataFrame, timeout_minutes: int | None = 60
) -> DataFrame:
    """Custom stateful operator: per-user running totals across
    micro-batches via applyInPandasWithState.

    The per-group state is two scalars — the shape every custom
    accumulating operator takes (fraud scores, rate limits, feature
    aggregates). Eviction follows :func:`_user_state_operator`: idle
    users time out after ``timeout_minutes``, and drain-once
    (availableNow) callers pass None, without which the drain never
    terminates (measured as a silent full-``awaitTermination`` stall,
    300 s per gate run).
    """

    def step(pdfs, prev):
        total, n = prev if prev is not None else (0.0, 0)
        batch_n = 0
        for pdf in pdfs:
            batch_n += len(pdf)
            n += len(pdf)
            total += float(pdf["value"].sum())
        row = {"batch_events": batch_n, "running_events": n, "running_value": total}
        return (total, n), row

    return _user_state_operator(
        events.select("user_id", "value"),
        step,
        RUNNING_STATE_SCHEMA,
        RUNNING_OUT_SCHEMA,
        timeout_minutes,
    )


def streaming_dedup(
    events: DataFrame,
    keys: list | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """At-most-once per key on an unbounded stream:
    dropDuplicatesWithinWatermark keeps the first arrival of each key
    and drops re-deliveries that arrive within the watermark horizon.

    This is the streaming face of exact dedup: the state store holds
    one entry per key seen in the last ``watermark`` of event time and
    evicts below the watermark — bounded state, unlike a plain
    dropDuplicates whose key set grows forever on a stream. The
    standard guard in front of any at-least-once source (Kafka,
    file redelivery, Pub/Sub semantics in the reference's trigger
    path — SURVEY.md §2.I).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys or ["event_id"])
    )


def streaming_near_dedup(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
):
    """Streaming NEAR-dedup: each micro-batch is deduplicated against
    a persisted MinHash band index (operators/dedup.dedup_incremental)
    inside foreachBatch; survivors append to ``out_path`` and their
    band rows append to the index, so later batches see everything
    earlier batches kept. The streaming twin of the batch incremental
    path — exactly the daily-ingest shape, driven by the file trigger.

    Precedence is ARRIVAL ORDER (standard streaming-dedup semantics):
    within a batch the smaller id wins; across batches the earlier
    batch's survivor wins because its bands are already in the index.
    State lives entirely in the index table — no Spark state store —
    so a restart resumes from the checkpoint with the index intact,
    and index growth is one (id, band, key) row-set per SURVIVOR, not
    per arrival. Returns the started availableNow query.

    REPLAY SAFETY: both tables are partitioned by ``__batch_id`` and
    written with dynamic partition OVERWRITE, so re-running a
    micro-batch (foreachBatch is at-least-once: a crash between the
    two writes replays the batch) replaces that batch's own partition
    instead of appending a second copy. The index read additionally
    excludes the replaying batch's own partition, so a replay after
    BOTH writes committed recomputes the identical survivor set
    instead of seeing its own bands as corpus hits and dropping
    everything.
    """

    handle = near_dedup_batch_handler(
        index_path, out_path, id_col=id_col, text_col=text_col, k=k
    )
    return (
        docs_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _overwrite_batch_partition(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the ``__batch_id=<batch_id>`` partition of
    ``path``, replacing that partition only: the replay-safe write of
    the foreachBatch handlers. Dynamic overwrite is a per-write option,
    so another writer in the same session never sees it."""
    (
        df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def near_dedup_batch_handler(
    index_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
):
    """The foreachBatch handler behind :func:`streaming_near_dedup`,
    exposed so its idempotence contract is unit-testable: calling the
    handler twice with the same ``batch_id`` (a replayed micro-batch)
    must leave both tables exactly as after one call, whether the
    first attempt committed neither, one, or both writes."""
    from awi_datapipelinepublic_spark.operators.dedup import (
        dedup_incremental,
        minhash_band_keys,
    )

    index_schema = f"{id_col} long, band_no int, band_key string"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # Only an index with no committed partition means "first batch"
        # (a first write that died leaves just Spark's staging dir). An
        # index that has partitions but cannot be read must fail the
        # batch: read as empty, it would admit every duplicate of the
        # history it holds.
        if any(Path(index_path).glob("__batch_id=*")):
            index = (
                spark.read.parquet(index_path)
                # a replay must not probe the bands its own first
                # attempt may have committed — deterministic re-decision
                .filter(F.col("__batch_id") != batch_id)
                .drop("__batch_id")
            )
        else:
            index = spark.createDataFrame([], index_schema)
        survivors = dedup_incremental(
            batch_df, index, text_col=text_col, id_col=id_col, k=k
        )
        kept = batch_df.join(survivors, id_col, "left_semi")
        # Materialize survivors BEFORE appending their bands: the band
        # write must not re-read a half-written out_path.
        kept = kept.localCheckpoint(eager=True)
        _overwrite_batch_partition(kept, batch_id, out_path)
        _overwrite_batch_partition(
            minhash_band_keys(kept, text_col, id_col, k=k), batch_id, index_path
        )

    return handle


def streaming_click_view_join(
    clicks: DataFrame,
    views: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each click matched to the views of the
    same user in the preceding ``lookback`` of event time.

    Both sides are watermarked and the join condition is time-bounded —
    the two requirements for Spark to know when buffered rows can be
    evicted; an unbounded-condition stream-stream join would hold both
    streams in state forever. Expected columns (pre-renamed by the
    caller so the two sides stay unambiguous): clicks(clicks_user,
    click_ts, event_id), views(views_user, view_ts, view_value).
    """
    c = clicks.withWatermark("click_ts", watermark)
    v = views.withWatermark("view_ts", watermark)
    return c.join(
        v,
        F.expr(
            f"clicks_user = views_user AND "
            f"view_ts BETWEEN click_ts - INTERVAL {lookback} AND click_ts"
        ),
        "inner",
    ).select("clicks_user", "event_id", "click_ts", "view_ts", "view_value")


def streaming_click_view_left_join(
    clicks: DataFrame,
    views: DataFrame,
    lookback: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click emits — with
    its matching views when they exist, with NULL view columns when no
    view arrived in the preceding ``lookback``.

    The outer side is the semantically hard part of stream-stream
    joins: a NULL row can only be emitted once the engine KNOWS no
    match can still arrive, i.e. when the view-side watermark passes
    ``click_ts`` (+ join bound). Both sides are therefore watermarked
    and the condition is time-bounded — without them Spark rejects the
    outer join outright, because unmatched rows would have to buffer
    forever. Consequence the equivalence test pins: clicks near the
    end of the stream stay buffered until a LATER batch advances the
    watermark past them (a final availableNow drain with a
    far-future event flushes the tail — the standard pattern for
    bounded replays of outer joins).

    Expected columns match :func:`streaming_click_view_join`:
    clicks(clicks_user, click_ts, event_id), views(views_user,
    view_ts, view_value).
    """
    c = clicks.withWatermark("click_ts", watermark)
    v = views.withWatermark("view_ts", watermark)
    return c.join(
        v,
        F.expr(
            f"clicks_user = views_user AND "
            f"view_ts BETWEEN click_ts - INTERVAL {lookback} AND click_ts"
        ),
        "leftOuter",
    ).select("clicks_user", "event_id", "click_ts", "view_ts", "view_value")


EWMA_STATE_SCHEMA = T.StructType(
    [T.StructField("ewma", T.DoubleType()), T.StructField("seen", T.LongType())]
)
EWMA_OUT_SCHEMA = "user_id long, batch_events long, seen_events long, ewma double"


def running_user_ewma(
    events: DataFrame,
    alpha: float = 0.3,
    order_col: str = "event_id",
    timeout_minutes: int | None = 60,
) -> DataFrame:
    """Streaming twin of operators/timeseries.ewma: per-user EWMA
    carried across micro-batches in one double of state — the minimal
    recursive feature an online scorer keeps per entity.

    Within a micro-batch rows are sorted by ``order_col``; across
    batches the recursion consumes batches in arrival order, so
    equality with the batch operator holds when the source delivers
    per-key data in order (file sources with ordered ids; for true
    out-of-order streams, wrap upstream with a watermarked
    sort-per-window first). State per key is one double plus one
    counter regardless of history length, evicted by the
    :func:`_user_state_operator` rule (``timeout_minutes=None`` for
    drain-once callers). ``seen_events`` is the CUMULATIVE event
    count carried in state: a monotone per-key sequence, so "latest
    emitted row per key" is ``max(seen_events)`` no matter how the
    source splits files into micro-batches (``batch_events`` is only
    the per-batch row count and is NOT ordered across batches).
    """
    a = float(alpha)

    def step(pdfs, prev_state):
        prev, seen = prev_state if prev_state is not None else (None, 0)
        n = 0
        for pdf in pdfs:
            pdf = pdf.sort_values("__ord", kind="mergesort")
            for x in pdf["value"].tolist():
                n += 1
                if x != x or x is None:   # NaN/None: hold previous
                    continue
                prev = x if prev is None else (1.0 - a) * prev + a * x
        seen += n
        new_state = (float(prev), seen) if prev is not None else None
        return new_state, {"batch_events": n, "seen_events": seen, "ewma": prev}

    return _user_state_operator(
        events.select("user_id", F.col(order_col).alias("__ord"), "value"),
        step,
        EWMA_STATE_SCHEMA,
        EWMA_OUT_SCHEMA,
        timeout_minutes,
    )


def streaming_cdc_upserts(
    upserts_stream: DataFrame,
    snapshot_path: str,
    changes_path: str,
    checkpoint: str,
    keys: list[str],
    compare_cols: list[str] | None = None,
):
    """Streaming CDC classifier: each micro-batch of (key, payload)
    upserts is folded into a persisted snapshot, and every batch row
    is published to ``changes_path`` with ``cdc_status`` in
    {added, changed, unchanged} — the streaming face of
    :func:`~awi_datapipelinepublic_spark.operators.merge.dataset_diff`
    (incremental publish: downstreams consume only added+changed).

    EXACTLY-ONCE BY CONSTRUCTION, not by write ordering: foreachBatch
    is at-least-once, and the naive design (classify against the
    snapshot, then update it) is unfixable under replay — once the
    snapshot fold commits, the pre-batch values needed to re-derive
    the classification are gone, so a replay would emit everything as
    'unchanged'. Instead the snapshot itself carries the provenance
    the classification needs: per key it stores the payload ``hash``,
    the hash BEFORE the last change (``prev_hash``), and the batch
    ids that first created / last wrote the key. The fold is
    replay-idempotent (folding the same batch twice yields the same
    stored rows because prev_hash only shifts when ``last_batch``
    differs from the incoming batch id), and the published changes
    are then DERIVED from the folded snapshot (rows with
    ``last_batch == batch_id``) and written with batch-id-keyed
    dynamic partition overwrite — so any replay reproduces
    byte-identical state and output no matter which writes committed.

    At 100 TB: the snapshot rewrite is the local-parquet rendition of
    a table-format MERGE (Iceberg/Delta) — the (key, hash) schema
    keeps it payload-free; the fold is one groupBy per batch.
    """
    handle = cdc_batch_handler(snapshot_path, changes_path, keys, compare_cols)
    return (
        upserts_stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def cdc_batch_handler(
    snapshot_path: str,
    changes_path: str,
    keys: list[str],
    compare_cols: list[str] | None = None,
):
    """The foreachBatch handler behind :func:`streaming_cdc_upserts`,
    exposed (like :func:`near_dedup_batch_handler`) so its
    exactly-once contract is unit-testable: replaying any batch_id —
    after neither, one, or both writes committed, including a crash
    before the snapshot's pointer flip — must reproduce identical
    snapshot and changes tables."""
    from awi_datapipelinepublic_spark.operators.merge import row_hash
    from awi_datapipelinepublic_spark.sources.readers import read_snapshot
    from awi_datapipelinepublic_spark.sources.writers import overwrite_table, publish_lock

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if compare_cols is None:
            cols = [c for c in batch_df.columns if c not in set(keys)]
        else:
            cols = list(compare_cols)
        # Deterministic intra-batch winner: a micro-batch may carry
        # several upserts for one key; dropDuplicates would keep an
        # arbitrary (partition-layout-dependent) row, so a re-ordered
        # replay could fold a different hash. max() over the payload
        # hash is order-free, making the byte-identical-replay
        # guarantee hold regardless of shuffle layout.
        batch = (
            batch_df.select(*keys, row_hash(cols).alias("__new_hash"))
            .groupBy(*keys)
            .agg(F.max("__new_hash").alias("__new_hash"))
        )
        # Empty-snapshot schema: key types must come from the batch
        # itself (keys is a generic list[str] — string/date/decimal
        # keys would otherwise be type-coerced against a hardcoded
        # bigint on the first full-outer join and corrupt the
        # persisted snapshot).
        key_fields = [batch_df.schema[k] for k in keys]
        snap_schema = T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in key_fields]
            + [
                T.StructField("hash", T.StringType(), True),
                T.StructField("prev_hash", T.StringType(), True),
                T.StructField("first_batch", T.LongType(), True),
                T.StructField("last_batch", T.LongType(), True),
            ]
        )
        with publish_lock(snapshot_path) as held:
            if held.path.exists():
                snap = read_snapshot(spark, held)
            else:
                snap = spark.createDataFrame([], snap_schema)
            folded = (
                snap.join(batch, keys, "full_outer")
                .select(
                    *keys,
                    F.coalesce("__new_hash", F.col("hash")).alias("__hash"),
                    # prev_hash shifts only when a DIFFERENT batch wrote
                    # last — a replay of batch_id leaves it untouched, so
                    # the classification below is replay-stable
                    F.when(
                        F.col("__new_hash").isNotNull()
                        & F.col("hash").isNotNull()
                        & (F.col("last_batch") != batch_id),
                        F.col("hash"),
                    )
                    .otherwise(F.col("prev_hash"))
                    .alias("__prev_hash"),
                    F.coalesce("first_batch", F.lit(batch_id)).alias("__first_batch"),
                    F.when(F.col("__new_hash").isNotNull(), F.lit(batch_id))
                    .otherwise(F.col("last_batch"))
                    .alias("__last_batch"),
                )
                .toDF(*keys, "hash", "prev_hash", "first_batch", "last_batch")
            )
            # atomic publish (versioned snapshot + pointer flip): a crash
            # at any step leaves the previous snapshot live, and the replay
            # folds the same batch over it again
            overwrite_table(folded, held)

            changes = (
                read_snapshot(spark, held)
                .filter(F.col("last_batch") == batch_id)
                .select(
                    *keys,
                    F.when(F.col("first_batch") == batch_id, F.lit("added"))
                    .when(F.col("prev_hash") != F.col("hash"), F.lit("changed"))
                    .otherwise(F.lit("unchanged"))
                    .alias("cdc_status"),
                )
            )
            _overwrite_batch_partition(changes, batch_id, changes_path)

    return handle
