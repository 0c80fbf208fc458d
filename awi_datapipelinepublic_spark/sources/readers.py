"""Readers: CSV scan with clean-stage semantics, Excel adapter, Parquet.

``read_csv`` is the Spark rendition of the reference's
``pd.read_csv(converters=..., parse_dates=..., usecols=...)``
(reference: config.py:131-137): schema-declared columns only (no
inference), per-column converter expressions, lenient DATE parsing.
All transforms are built-in expressions — they stay inside whole-stage
codegen; nothing here is a Python UDF. ``read_snapshot`` reads a table
published by ``writers.overwrite_table`` with the schema recorded in
its snapshot, so no footer-inference job runs.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from awi_datapipelinepublic_spark.functions.cleaning import clean_to_schema
from awi_datapipelinepublic_spark.sources.schema import (
    TABLE_SCHEMAS,
    date_columns,
    string_read_struct,
    to_struct_type,
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one of the synthetic parquet tables from a scale-factor dir.

    Tables in ``TABLE_SCHEMAS`` are read with their declared schema, so
    building a query launches no schema-inference job; the files are
    still scanned on every action. Other names fall back to inference.
    """
    reader = spark.read
    if name in TABLE_SCHEMAS:
        reader = reader.schema(TABLE_SCHEMAS[name])
    return reader.parquet(str(Path(sf_dir) / f"{name}.parquet"))


# Each snapshot written by writers.overwrite_table records the schema of
# the frame it holds; Spark's file listing skips ``_``-prefixed names
# (without ``=``), so the record is never read as data.
SNAPSHOT_SCHEMA = "_schema.json"


def read_snapshot(spark: SparkSession, path: str | os.PathLike) -> DataFrame:
    """Read a Parquet table published by ``writers.overwrite_table``
    with the schema recorded in its snapshot, so no footer-inference job
    runs. The pointer is resolved once, so the schema and the listed
    files come from the same snapshot. A table without the record (a
    legacy plain dir or a foreign table) is read with inference.
    """
    snapshot = Path(path).resolve()
    try:
        schema = (snapshot / SNAPSHOT_SCHEMA).read_text()
    except FileNotFoundError:
        return spark.read.parquet(os.fspath(path))
    return spark.read.schema(T.StructType.fromJson(json.loads(schema))).parquet(str(snapshot))


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events table reader, tolerant of TIMESTAMP(NANOS) parquet.

    Spark 4 rejects nanosecond parquet timestamps outright
    (PARQUET_TYPE_ILLEGAL); the escape hatch reads them as raw int64
    nanos, which we convert with *integer* division (ts div 1000 —
    float division would lose microseconds: 1.7e18 exceeds a double's
    53-bit mantissa) and timestamp_micros. Sub-microsecond precision is
    truncated, matching every downstream engine that is µs-native.
    """
    # Set the escape hatch BEFORE the first read: probing with a
    # try/except costs one aborted Spark job per session and leaves an
    # ERROR stack in the logs. The conf is session-wide by design
    # (session.py pins it too): it only changes how TIMESTAMP(NANOS)
    # columns surface (int64 instead of a hard error), and every nanos
    # consumer in this engine converts explicitly right here.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_table(spark, sf_dir, "events")  # inferred: not in TABLE_SCHEMAS
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) surfaces as
        # TIMESTAMP_NTZ, which Spark 4 refuses to cast to numeric (the
        # RANGE frames and gap arithmetic downstream need epoch
        # seconds). Session tz is pinned to UTC (session.py), so the
        # NTZ -> LTZ cast is value-preserving here.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    fields: list[dict],
    converters: dict[str, str] | None = None,
) -> DataFrame:
    """Schema-driven CSV scan + clean (reference config.py:131-144).

    Order of operations mirrors the reference exactly:
    1. scan as strings, pruned to schema columns (usecols)
    2. per-column converters (e.g. strip_excel)
    3. empty string → NULL ('' is never data; config.py:143)
    4. cast to declared types; DATE columns via lenient to_date
       (invalid → NULL, the errors='coerce' analog; config.py:139-142)
    Steps 1-4 are one projection (``clean_to_schema``); building it
    launches no Spark job.
    """
    raw_schema = string_read_struct(fields)
    df = (
        spark.read.schema(raw_schema)
        .options(header=True, multiLine=True, escape='"')
        .csv(path)
    )
    return clean_to_schema(df, to_struct_type(fields), converters, date_columns(fields))


def read_jsonl(spark: SparkSession, path: str, fields: list[dict]) -> DataFrame:
    """Schema-declared JSON-lines scan.

    Same contract as read_csv: the declared schema is applied (no
    inference pass — inference re-reads the whole input, a non-starter
    at scale), columns pruned to the declaration, ISO date strings
    parsed by the reader itself. Malformed lines go to NULL-rows in
    PERMISSIVE mode rather than failing the scan; route them to a
    quarantine with columnNameOfCorruptRecord if row-level capture is
    needed (sink_error semantics, reference config.py:223-234).
    """
    st = to_struct_type(fields)
    return spark.read.schema(st).json(path).select(*[f["name"] for f in fields])


def read_xml(
    spark: SparkSession,
    path: str,
    fields: list[dict],
    row_tag: str = "row",
) -> DataFrame:
    """Schema-declared XML scan (Spark 4 built-in XML datasource —
    the former spark-xml package, merged into core in 4.0).

    Same contract as read_csv/read_jsonl: the declared schema is
    applied (no inference pass — XML inference reads the whole input
    twice), columns pruned to the declaration, each ``<row_tag>``
    element one row. Distributed: the reader splits on element
    boundaries, so a many-file or large-file corpus scans in parallel
    like any other source.
    """
    st = to_struct_type(fields)
    return (
        spark.read.format("xml")
        .option("rowTag", row_tag)
        .schema(st)
        .load(path)
        .select(*[f["name"] for f in fields])
    )


def read_excel_sheets(
    spark: SparkSession,
    path: str,
    sheets: list[str],
    fields: list[dict],
    source_col: str | None = None,
) -> DataFrame:
    """Driver-side Excel adapter (reference config.py:109-128).

    Core Spark has no xlsx reader; the reference reads each sheet via
    pandas/openpyxl, tags a SOURCE column, aligns the narrower sheet's
    missing columns with NULLs, and concatenates. Same semantics here,
    but the parse is the stdlib zipfile+XML reader (sources/xlsx.py) —
    no optional dependency, and report files are small by nature (one
    per period), so a driver-edge parse is the right cost model: the
    result is immediately a distributed DataFrame.

    All cells surface as string-or-NULL (the reference's dtype=str);
    ``source_col`` (e.g. "SOURCE") adds the per-sheet tag
    ('Prime Production Report' → 'prime', config.py:119-120). The
    union is by NAME with missing columns NULL-filled — the Spark
    rendition of the reference's positional ``insert`` alignment.
    """
    from awi_datapipelinepublic_spark.sources.xlsx import read_xlsx, sheet_source_label

    sdfs = []
    for s in sheets:
        header, rows = read_xlsx(path, s)
        schema = T.StructType([T.StructField(h, T.StringType()) for h in header])
        sdf = spark.createDataFrame(rows, schema)
        if source_col:
            sdf = sdf.withColumn(source_col, F.lit(sheet_source_label(s)))
        sdfs.append(sdf)
    out = sdfs[0]
    for sdf in sdfs[1:]:
        out = out.unionByName(sdf, allowMissingColumns=True)
    return out


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Opaque-blob ingest via Spark's built-in ``binaryFile`` source —
    the entry point for multimodal corpora (images/audio/video land as
    one row per file: path, modificationTime, length, content).

    Scale notes: the source parallelizes over files (one partition per
    file up to maxPartitionBytes); content is only materialized for
    rows that survive pushed path/length predicates. Pair with
    ``pathGlobFilter`` (the ``glob`` arg) instead of a post-filter on
    ``path`` so pruning happens at file-listing time, and keep blob
    payloads in their own column so downstream column pruning skips
    the bytes entirely (operators/multimodal.py).
    """
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)
