"""Externalized JSON schema → Spark StructType.

The reference declares each data type's schema as a JSON array of
BigQuery SchemaField dicts (``{"name","type","mode"}``) and
materializes it with string-building + ``eval``
(reference: config.py:60-63, 76-79). We map declaratively — no eval —
and expose the two pieces of metadata the clean stage needs: the
Spark type per column and which columns are DATE (parsed leniently at
read; reference config.py:95-97,134).

Type mapping follows SURVEY.md §1.2: NUMERIC/FLOAT → double (the
reference itself coerces NUMERIC to float64, config.py:86), INTEGER →
long (Spark ints are natively nullable — no float64 workaround
needed), BOOLEAN → boolean (the reference kept these as str,
config.py:89 — a wart we fix), DATE → date, STRING → string.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import types as T

# Declared schemas of the star-schema Parquet tables, as DDL: the
# metastore sources.readers.read_table reads with, because inferring a
# schema launches a footer-merge Spark job on every read. They are
# exactly what Spark infers from the footers (pyarrow-written files:
# timestamps without a UTC flag surface as TIMESTAMP_NTZ, list<float>
# as ARRAY<FLOAT>); tests/test_table_schemas.py pins that equality.
# ``events`` is deliberately absent: its ``ts`` physical type varies
# (TIMESTAMP(NANOS) in some datasets), and sources.readers.read_events
# needs the inferred footer type to pick the conversion.
TABLE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, "
        "p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

_BQ_TO_SPARK: dict[str, T.DataType] = {
    "STRING": T.StringType(),
    "NUMERIC": T.DoubleType(),
    "FLOAT": T.DoubleType(),
    "FLOAT64": T.DoubleType(),
    "INTEGER": T.LongType(),
    "INT64": T.LongType(),
    "BOOLEAN": T.BooleanType(),
    "BOOL": T.BooleanType(),
    "DATE": T.DateType(),
    "DATETIME": T.TimestampType(),
    "TIMESTAMP": T.TimestampType(),
    "BYTES": T.BinaryType(),
}


def load_schema_json(path: str | Path) -> list[dict]:
    """Load a BQ-style JSON schema file: list of {name, type, mode}."""
    with open(path) as f:
        fields = json.load(f)
    if not isinstance(fields, list):
        raise ValueError(f"schema file {path} must contain a JSON array")
    return fields


def to_struct_type(fields: list[dict], numeric_as_decimal: bool = False) -> T.StructType:
    """Map BQ field dicts to a StructType. REQUIRED mode → nullable=False.

    ``numeric_as_decimal=True`` maps BQ NUMERIC to DecimalType(38, 9)
    — BigQuery NUMERIC's exact scale (reference Schemas/renewals_bq.json:69
    declares NUMERIC) — instead of the default DoubleType, which
    matches the reference's own float64 coercion (config.py:86). Use
    the decimal mode when currency aggregates must be exact at scale:
    a SUM over doubles accumulates ulp error with row count, while
    decimal sums are exact and associative — safe under any partial-
    aggregation/shuffle order Spark picks at 100 TB.
    """
    out = []
    for fld in fields:
        bq_type = fld["type"].upper()
        if numeric_as_decimal and bq_type == "NUMERIC":
            spark_type: T.DataType = T.DecimalType(38, 9)
        else:
            try:
                spark_type = _BQ_TO_SPARK[bq_type]
            except KeyError:
                raise ValueError(
                    f"unsupported schema type {bq_type!r} for column {fld['name']!r}"
                )
        nullable = fld.get("mode", "NULLABLE").upper() != "REQUIRED"
        out.append(T.StructField(fld["name"], spark_type, nullable))
    return T.StructType(out)


def date_columns(fields: list[dict]) -> list[str]:
    """Columns declared DATE — these get lenient to_date parsing at read."""
    return [f["name"] for f in fields if f["type"].upper() == "DATE"]


def string_read_struct(fields: list[dict]) -> T.StructType:
    """All-string variant of the schema, for the raw CSV scan.

    CSV is read as strings first so cleaning transforms (strip, null
    normalization) run on the raw text before the typed cast — same
    order of operations as the reference (converters → replace('',NaN)
    → astype; config.py:131-144).
    """
    return T.StructType([T.StructField(f["name"], T.StringType(), True) for f in fields])
