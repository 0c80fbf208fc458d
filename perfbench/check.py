"""Output checks. None of them runs inside a timed region.

* Ingest workloads: the published base table and the RETENTION view must
  equal a DuckDB replay over the same CSV drops. The replay cleans each drop
  in SQL (Excel quote strip, '' → NULL, lenient casts, NULL merge dates
  dropped) and applies the reference merge rule batch by batch::

      base := base WHERE date_col < MIN(batch.date_col) UNION ALL batch

  DuckDB reads the Spark output and compares both tables by row count and
  an order-independent hash.
* Query workloads: each query is compared once per process against its
  ``oracle_sql()`` twin with ``tests/oracle_check.compare_one``.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

from gen import CONVERTERS, DATE_COL, DIMS, RENEWALS_SCHEMA

BASE_COLS = [f["name"] for f in RENEWALS_SCHEMA]
VIEW_COLS = BASE_COLS + [
    "Agency", "Geography", "TType", "Channel", "Renewed", "Cancelled", "Expired", "Active",
]
_SQL_TYPES = {"STRING": None, "DATE": "DATE", "BOOLEAN": "BOOLEAN", "NUMERIC": "DOUBLE"}


def _clean_sql(csv_path: Path) -> str:
    exprs = []
    for f in RENEWALS_SCHEMA:
        v = f'"{f["name"]}"'
        if f["name"] in CONVERTERS:
            v = f"""regexp_replace({v}, '^["=]+|["=]+$', '', 'g')"""
        v = f"NULLIF({v}, '')"
        if _SQL_TYPES[f["type"]]:
            v = f"TRY_CAST({v} AS {_SQL_TYPES[f['type']]})"
        exprs.append(f'{v} AS "{f["name"]}"')
    columns = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in BASE_COLS) + "}"
    return (
        f"SELECT * FROM (SELECT {', '.join(exprs)} FROM read_csv('{csv_path}', header=true, "
        f"""quote='"', escape='"', auto_detect=false, columns={columns})) """
        f"WHERE {DATE_COL} IS NOT NULL"
    )


def replay_ingest(con, csv_paths: list[Path]) -> None:
    """Create the expected ``base`` table and ``retention`` view in ``con``
    after the given drops are merged in order."""
    for i, p in enumerate(csv_paths):
        con.execute(f"CREATE OR REPLACE TABLE batch AS {_clean_sql(p)}")
        if i == 0:
            con.execute("CREATE TABLE base AS SELECT * FROM batch")
        else:
            con.execute(
                f"CREATE OR REPLACE TABLE base AS SELECT * FROM base WHERE {DATE_COL} < "
                f"(SELECT MIN({DATE_COL}) FROM batch) UNION ALL SELECT * FROM batch"
            )
    for name, (cols, rows) in DIMS.items():
        con.execute(f"CREATE TABLE {name} ({', '.join(c + ' VARCHAR' for c in cols)})")
        con.executemany(f"INSERT INTO {name} VALUES ({', '.join('?' for _ in cols)})", rows)
    con.execute(
        f"""
        CREATE VIEW retention AS
        SELECT {', '.join('b.' + f'"{c}"' for c in BASE_COLS)},
               a.metaAgencyName AS Agency,
               COALESCE(g.meta_geo, 'NA_OR_OUT') AS Geography,
               COALESCE(t.TType, 'CHANGE') AS TType,
               COALESCE(c.CHANNEL, 'DEALERS') AS Channel,
               CASE WHEN b.PolicyStatus = 'R' THEN 1 ELSE 0 END AS Renewed,
               CASE WHEN b.PolicyStatus = 'C' THEN 1 ELSE 0 END AS Cancelled,
               CASE WHEN b.PolicyStatus = 'E' THEN 1 ELSE 0 END AS Expired,
               CASE WHEN b.PolicyStatus = 'A' THEN 1 ELSE 0 END AS Active
        FROM base b
        LEFT JOIN geo g ON b.City = g.meta_city
        LEFT JOIN channels c ON b.ProducerCode2 = c.P2
        LEFT JOIN agencies a ON b.AgencyNumber = a.metaAgencyNumber
        LEFT JOIN ttypes t ON b.TransactionType = t.ttno
        WHERE b.PolicyNumber IS NOT NULL
        """
    )


def digest(con, relation: str, cols: list[str]) -> tuple:
    """(row count, order-independent hash) of ``relation``: the sum of a
    hash of each row's text form, so duplicates count and column types
    need not match between the engines."""
    row = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    return con.execute(f"SELECT count(*), sum(hash({row})) FROM {relation}").fetchone()


def _read_parquet(directory: Path) -> str:
    """DuckDB relation over the parquet files of a Spark output directory
    (listed here: DuckDB's glob skips the hidden version directories)."""
    files = ", ".join(f"'{f}'" for f in sorted(directory.rglob("*.parquet")))
    return f"read_parquet([{files}])"


def check_ingest(spark, base_path: str, view, csv_paths: list[Path], work: Path) -> str | None:
    """None when the Spark base table and view match the replay, else
    a description of the mismatch. The view is written under ``work`` as
    parquet so that DuckDB reads both engines' rows."""
    view_dir = work / "view"
    view.select(*VIEW_COLS).write.mode("overwrite").parquet(str(view_dir))
    con = duckdb.connect()
    try:
        replay_ingest(con, csv_paths)
        got_base, got_view = _read_parquet(Path(base_path).resolve()), _read_parquet(view_dir)
        for what, got, want, cols in (
            ("base table", got_base, "base", BASE_COLS),
            ("RETENTION view", got_view, "retention", VIEW_COLS),
        ):
            g, w = digest(con, got, cols), digest(con, want, cols)
            if g != w:
                return f"{what}: spark (rows, hash)={g} replay={w}"
    finally:
        con.close()
    return None
