"""Declarative data-quality expectations — the validation gate a
production pipeline runs between ingest and merge (the reference's
only guard is the quarantine-on-exception path, plans/runner.py; this
is the proactive version: assert the contract, count the violations,
decide before loading).

A rule set compiles to ONE aggregation pass over the table: every
rule becomes a ``sum(violation_predicate)`` column in a single
``agg``, so the whole suite costs one scan + one partial-agg combine
regardless of rule count — no per-rule jobs, no shuffle of row data
(only the fixed-width counter row). Uniqueness is the one exception
that genuinely needs grouping; it is expressed as
``count - count_distinct`` inside the same agg (Expand-based, still
one pass). The wide one-row result is unpivoted to long form
(rule, violations, total, passed) with a literal stack — no second
scan.

Row-level triage (WHICH rows violated) is `violating_rows`, a plain
filter union kept separate so the cheap counting path never pays for
row materialization.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

# Rule names are interpolated into a stack() SQL expression and used as
# aggregate aliases — restrict them to plain identifiers up front so a
# quote/backtick in a name fails with a clear error instead of a
# mangled query, and so the reserved __total alias can't be shadowed.
_RULE_NAME = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_rules(rules: list[dict]) -> None:
    if not rules:
        raise ValueError("expectations: rules must be a non-empty list")
    seen: set[str] = set()
    for r in rules:
        name = r.get("name")
        if not isinstance(name, str) or not _RULE_NAME.match(name) or name == "__total":
            raise ValueError(
                f"expectations: invalid rule name {name!r} — names must match "
                "[A-Za-z_][A-Za-z0-9_]* (they become SQL identifiers) and not be '__total'"
            )
        if name in seen:
            raise ValueError(f"expectations: duplicate rule name {name!r}")
        seen.add(name)


def _violation_predicate(rule: dict) -> Column:
    """Column predicate that is TRUE for a row violating ``rule``.

    Kinds: not_null, in_set(values), range(lo, hi — inclusive, either
    optional), regex(pattern — violation = non-match on non-null rows),
    expr(sql — violation = NOT(sql) on any row). NULLs: not_null is the
    null check; every other kind treats NULL as not-applicable (a NULL
    can't fail a range/set/regex — pair with a not_null rule to forbid
    it), matching SQL's own three-valued semantics so the DuckDB
    twin of each predicate counts identically.
    """
    kind = rule["kind"]
    col = F.col(rule["column"]) if "column" in rule else None
    if kind == "not_null":
        return col.isNull()
    if kind == "in_set":
        return col.isNotNull() & ~col.isin(*rule["values"])
    if kind == "range":
        lo, hi = rule.get("lo"), rule.get("hi")
        pred = F.lit(False)
        if lo is not None:
            pred = pred | (col < F.lit(lo))
        if hi is not None:
            pred = pred | (col > F.lit(hi))
        return col.isNotNull() & pred
    if kind == "regex":
        return col.isNotNull() & ~col.rlike(rule["pattern"])
    if kind == "expr":
        return ~F.expr(rule["sql"])
    raise ValueError(f"unknown expectation kind: {kind}")


def validate_expectations(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Run a rule set, return (rule, violations, total, passed) — one
    row per rule, computed in a single scan (see module docstring).

    Each rule dict: ``name`` (output key), ``kind`` + kind-specific
    params; ``kind='unique'`` takes ``column`` and counts rows beyond
    the first per value (NULLs ignored, like a SQL UNIQUE constraint).
    """
    _check_rules(rules)
    aggs = [F.count(F.lit(1)).alias("__total")]
    for r in rules:
        if r["kind"] == "unique":
            c = r["column"]
            aggs.append(
                (F.count(c) - F.count_distinct(F.col(c))).alias(r["name"])
            )
        else:
            aggs.append(
                F.sum(_violation_predicate(r).cast("long")).alias(r["name"])
            )
    wide = df.agg(*aggs)
    pairs = ", ".join(f"'{r['name']}', `{r['name']}`" for r in rules)
    return (
        wide.select(
            F.expr(f"stack({len(rules)}, {pairs}) as (rule, violations)"),
            F.col("__total").alias("total"),
        )
        .select(
            "rule",
            # Canonicalization-proof output contract: violations is an
            # explicit BIGINT and passed an INT 0/1 (not BOOLEAN) so the
            # report hashes identically across engines / render paths.
            F.col("violations").cast("long").alias("violations"),
            "total",
            (F.col("violations") == 0).cast("int").alias("passed"),
        )
    )


def violating_rows(df: DataFrame, rules: list[dict], id_cols: list[str]) -> DataFrame:
    """Row-level violation report: (rule, *id_cols) for every
    (row, rule) miss. One scan: each row is tested against an array of
    (rule, predicate) structs and explodes only its failures — no
    per-rule union of scans. ``unique``/aggregate rules are counting
    rules, not row predicates — use :func:`validate_expectations`.
    """
    preds = [r for r in rules if r["kind"] != "unique"]
    hits = F.filter(
        F.array(
            *[
                F.when(_violation_predicate(r), F.lit(r["name"]))
                for r in preds
            ]
        ),
        lambda x: x.isNotNull(),
    )
    return df.select(F.explode(hits).alias("rule"), *id_cols)


def mutual_information(
    df: DataFrame,
    col_x: str,
    col_y: str,
    max_cells: int = 10_000,
) -> DataFrame:
    """Column-association audit: the full contingency profile of two
    categorical columns with per-cell PMI and mutual-information
    contributions — the feature-redundancy / leakage check run before
    a column ships as a model feature or a stratification key (MI ≈ 0
    → independent; MI ≈ H(X) → X is a proxy for Y).

    Output, one row per observed (x, y) cell:
      (x, y, n_xy, n_x, n_y, pmi_nano, mi_contrib_nano) where
      pmi_nano        = floor(1e9 · ln((n_xy·N)/(n_x·n_y)))
      mi_contrib_nano = n_xy · pmi_nano  (Σ/(N·1e9) = MI in nats)

    EXACT-INTEGER contract (the dsir_weights pattern): counts are
    exact; the single transcendental per cell is computed driver-side
    with CPython libm on ``float(n_xy·N) / float(n_x·n_y)`` — the
    expression the oracle mirrors literally — floor-scaled to BIGINT
    nano-units; the only aggregate over floats is avoided entirely.
    Cross-engine N bound: the oracle multiplies factor-wise in DOUBLE
    (never a BIGINT product, which would overflow at N ≈ 3·10⁹), so
    engine and oracle stay bit-identical while every factor and the
    per-cell product stay below 2⁵³ — i.e. up to N ≈ 9·10¹⁵ rows,
    far past the max_cells contract's audit scale.

    Plan: ONE groupBy((x, y)) pass with map-side combine builds the
    joint table — the only fact-table scan and the only shuffle. The
    joint table (|X|·|Y| rows, tiny by contract) is collected to the
    driver — bounded by ``max_cells`` (default 10⁴; a
    categorical×categorical audit beyond that is a modeling smell, and
    the guard raises rather than detonates, the _guard_pair_expansion
    stance) — where the marginals and the libm step run on the
    already-aggregated cells (no window, no second scan).
    """
    import math

    joint = (
        df.select(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_xy"))
    )
    cells = joint.limit(max_cells + 1).collect()
    if len(cells) > max_cells:
        raise ValueError(
            f"mutual_information: >{max_cells} joint cells "
            f"(max_cells={max_cells}); this operator audits categorical "
            "pairs, not high-cardinality keys"
        )
    nx: dict = {}
    ny: dict = {}
    N = 0
    for r in cells:
        nx[r["x"]] = nx.get(r["x"], 0) + r["n_xy"]
        ny[r["y"]] = ny.get(r["y"], 0) + r["n_xy"]
        N += r["n_xy"]
    rows = []
    for r in cells:
        n_x, n_y = nx[r["x"]], ny[r["y"]]
        pmi = math.floor(
            1e9 * math.log(float(r["n_xy"] * N) / float(n_x * n_y))
        )
        rows.append(
            (r["x"], r["y"], r["n_xy"], n_x, n_y, int(pmi), int(r["n_xy"] * pmi))
        )
    schema = (
        joint.schema["x"].dataType.simpleString(),
        joint.schema["y"].dataType.simpleString(),
    )
    return df.sparkSession.createDataFrame(
        rows,
        f"x {schema[0]}, y {schema[1]}, n_xy bigint, n_x bigint, n_y bigint, "
        "pmi_nano bigint, mi_contrib_nano bigint",
    )


def fk_orphans(
    pairs: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit across fact→dimension links: for
    each named (fact, fk, dim, pk) relation, the number of fact rows
    whose key has NO match in the dimension — the conformance check
    every star-schema load gate runs before publishing (a non-zero
    orphan count means a late dimension or a corrupt extract), and
    the row-count side of what :func:`validate_expectations` checks
    column-wise.

    ``pairs`` is [(name, fact_df, fk_col, dim_df, pk_col), ...]. Each
    relation is ONE left join against the distinct dimension keys
    (hash; AQE broadcasts dimension-sized builds) feeding ONE
    aggregate that counts fact rows and unmatched rows together;
    relations union into the report. Distinct keys keep the join
    one-to-one, and a NULL fk never matches, so NULL fks count as
    orphans (an unresolvable link is a violation under this audit —
    filter upstream if NULLs are legitimate).

    Output: (relation, n_fact BIGINT, n_orphans BIGINT).
    """
    out = None
    for name, fact, fk, dim, pk in pairs:
        keys = dim.select(F.col(pk).alias("__pk")).distinct()
        f = fact.select(F.col(fk).alias("__fk"))
        rep = (
            f.join(keys, f["__fk"] == keys["__pk"], "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_fact"),
                F.count_if(F.col("__pk").isNull()).cast("bigint").alias("n_orphans"),
            )
            .select(F.lit(name).alias("relation"), "n_fact", "n_orphans")
        )
        out = rep if out is None else out.unionByName(rep)
    return out
