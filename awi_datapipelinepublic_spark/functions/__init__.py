"""Column-expression function library (JVM-side; no row-at-a-time UDFs)."""

from awi_datapipelinepublic_spark.functions.cleaning import (
    CONVERTERS,
    apply_converters,
    cast_to_schema,
    clean_to_schema,
    null_normalize,
    strip_excel,
)
from awi_datapipelinepublic_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    quality_score,
    shingles,
    token_count,
)
from awi_datapipelinepublic_spark.functions.vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "CONVERTERS",
    "apply_converters",
    "cast_to_schema",
    "clean_to_schema",
    "null_normalize",
    "strip_excel",
    "doc_fingerprint",
    "lang_id",
    "quality_score",
    "shingles",
    "token_count",
    "cosine_similarity",
    "dot",
    "l2_norm",
]
