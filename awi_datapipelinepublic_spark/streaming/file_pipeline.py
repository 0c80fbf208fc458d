"""Streaming rendition of the pipeline (SURVEY.md §2.I).

The reference's trigger chain — GCS object-finalize event → clean
Cloud Function → Pub/Sub → load Cloud Function (main.py:18-63) — maps
onto one Structured Streaming file source with a ``foreachBatch`` that
runs clean + merge per micro-batch. ``trigger(availableNow=True)``
gives the same drain-then-stop semantics as the event-driven
functions; leaving the default trigger gives continuous tailing of the
landing directory.

The merge cutoff MIN(new.date_col) is the watermark analog: history
below it is immutable, everything at-or-above is restated by the new
batch (config.py:190-199).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from awi_datapipelinepublic_spark.functions.cleaning import clean_to_schema
from awi_datapipelinepublic_spark.operators.merge import merge_into_path
from awi_datapipelinepublic_spark.plans.spec import PipelineSpec
from awi_datapipelinepublic_spark.sources.schema import (
    date_columns,
    load_schema_json,
    string_read_struct,
    to_struct_type,
)


def stream_pipeline(
    spark: SparkSession,
    spec: PipelineSpec,
    checkpoint_dir: str,
    available_now: bool = True,
    on_complete=None,
):
    """Start the streaming pipeline for one data type. Returns the
    StreamingQuery; callers awaitTermination() or stop().

    ``on_complete`` is a streaming/sinks.CompletionEmitter: after each
    non-empty batch merges, one completion event is published — the
    reference's post-clean Pub/Sub handoff (main.py:39-41) in sink
    form. Pass kafka_completion_emitter(...) in production or
    file_completion_emitter(...) in tests; None skips emission."""
    fields = load_schema_json(spec.schema_file)
    raw = (
        spark.readStream.schema(string_read_struct(fields))
        .options(header=True, multiLine=True, escape='"')
        .csv(spec.landing_dir)
    )

    schema, lenient = to_struct_type(fields), date_columns(fields)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Same clean projection as the batch reader (sources.read_csv).
        cleaned = clean_to_schema(batch_df, schema, spec.converters, lenient).filter(
            F.col(spec.date_col).isNotNull()
        )
        # One aggregate pass answers all three questions: emptiness,
        # the event's row count, and the merge cutoff MIN(date_col),
        # which merge_into_path would otherwise compute with a job of
        # its own. The merge re-scans the micro-batch for its write.
        cutoff, n = cleaned.agg(F.min(spec.date_col), F.count(F.lit(1))).first()
        if n == 0:
            return
        merge_into_path(
            batch_df.sparkSession, spec.base_table_path, cleaned, spec.date_col, cutoff=cutoff
        )
        if on_complete is not None:
            from awi_datapipelinepublic_spark.streaming.sinks import completion_message

            on_complete(
                batch_df.sparkSession,
                completion_message(spec.name, batch_id, n),
                batch_id,
            )

    writer = raw.writeStream.foreachBatch(process).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
