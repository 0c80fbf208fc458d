"""Deterministic inputs for the benchmark.

Two generators, both pure functions of their arguments:

* ``write_star_schema`` writes the ten parquet tables the query builders in
  ``__spark_entry__`` read (``region nation customer supplier part orders
  lineitem events documents embeddings``) with the column names, Arrow types
  and value ranges of the TPC-H-style test data the oracle suite uses.
  Columns are independent uniform draws, as in that data. The tables are
  fixed per scale factor: the workload seed never changes them, so a seed
  changes query order, not query cost.
* ``renewal_drop`` makes one renewals-shaped CSV drop for the ingest
  workloads, with the columns of ``demo_pipeline.SCHEMA`` and the dirt
  classes of FIXTURES.md §A2: Excel ``="…"`` quoting, empty strings,
  unparseable dates and NULL merge dates. Each drop's expiry window
  overlaps the previous one, so part of the history is restated by every
  drop after the first. The dirt rates are this benchmark's choice; the
  fixture names the classes only.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from demo_pipeline import SCHEMA as RENEWALS_SCHEMA  # the reference's renewals subset

STAR_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "red", "small", "big", "hot", "cold", "green", "old"]
_PART_NOUN = ["anvil", "widget", "ring", "bolt", "gear", "gizmo", "rod", "nut"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a the data table query join scan filter sort group agg window hash key "
    "value row column part order line customer spark stream batch merge big "
    "small fast slow vector"
).split()


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + micros.astype("int64"), type=pa.timestamp("us"))


def _write(out: Path, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet")


def write_star_schema(out_dir: str | Path, sf: float) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf`` into ``out_dir`` and
    return their row counts. Row counts follow the test data's scaling
    (``lineitem`` = 6M·sf rows)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(STAR_SEED)
    n = {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }
    day = 86_400_000_000

    def money(lo: float, hi: float, k: int) -> pa.Array:
        return pa.array(np.round(rng.uniform(lo, hi, k), 2))

    def pick(values: list[str], k: int) -> pa.Array:
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), k)].tolist())

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(k, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, k),
        "c_mktsegment": pick(_SEGMENTS, k),
    })
    k = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(k, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, k),
    })
    k = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(k, dtype="int64")),
        "p_name": pick(names, k),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, k)]),
        "p_type": pick(_PART_TYPES, k),
        "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
        "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, k) / 10.0),
    })
    k = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(k, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k, dtype="int64")),
        "o_orderstatus": pick(["F", "O", "P"], k),
        "o_totalprice": money(1000.0, 500_000.0, k),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2400, k) * day),
        "o_orderpriority": pick(_PRIORITIES, k),
    })
    k = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k, dtype="int64")),
        "l_partkey": pa.array(rng.integers(0, n["part"], k, dtype="int64")),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k, dtype="int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype("float64")),
        "l_extendedprice": money(900.0, 105_000.0, k),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], k),
        "l_linestatus": pick(["F", "O"], k),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2500, k) * day),
    })
    k = n["events"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(k, dtype="int64")),
        "ts": _ts(dt.datetime(2024, 1, 1), rng.integers(0, 30 * day, k)),
        "user_id": pa.array(rng.integers(0, max(15, k * 3 // 200), k, dtype="int64")),
        "event_type": pick(_EVENT_TYPES, k),
        "value": pa.array(np.round(rng.uniform(0.01, 500.0, k), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, k)]),
    })
    k = n["documents"]
    texts = [
        " ".join(np.asarray(_WORDS, dtype=object)[rng.integers(0, len(_WORDS), w)])
        for w in rng.integers(10, 100, k)
    ]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(k, dtype="int64")),
        "text": pa.array(texts),
        "lang": pick(_LANGS, k),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, k)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    k = n["embeddings"]
    vecs = rng.standard_normal((k, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(k, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), pa.int32()),
    })
    return {"region": 5, "nation": 25, **n}


# ---------------------------------------------------------------------------
# Renewals CSV drops (FIXTURES.md §A2)
# ---------------------------------------------------------------------------

DATE_COL = "PolicyExpiryDate"
CONVERTERS = {"AgencyNumber": "strip_excel", "PolicyNumber": "strip_excel"}

# The four metadata dimensions the RETENTION view joins. Each lists some
# keys the drops use and omits others, so both join hits and misses occur.
DIMS = {
    "geo": (["meta_city", "meta_geo"], [
        ("Calgary", "South"), ("Edmonton", "North"), ("Red Deer", "Central"),
        ("Lethbridge", "South"),
    ]),
    "channels": (["P2", "CHANNEL"], [("PC2", "ONLINE"), ("PC7", "BROKER")]),
    "agencies": (["metaAgencyNumber", "metaAgencyName"], [
        (str(1000 + i), f"Agency {i}") for i in range(0, 40, 3)
    ]),
    "ttypes": (["ttno", "TType"], [("NB", "New Business"), ("RN", "Renewal")]),
}
_CITIES = ["Calgary", "Edmonton", "Red Deer", "Lethbridge", "Banff", "Nowhere"]
_TTYPES = ["NB", "RN", "XX", "CH"]
_PCODES = ["PC1", "PC2", "PC7", "ZZ"]
_STATUS = ["R", "C", "E", "A", "X", ""]
_NAMES = ["Alice", "Bob", "Ann", "Cy", "Dee", "Eve", "Smith, Jo", 'Al "Ace" Ng']

EPOCH = dt.date(2024, 1, 1)
WINDOW_DAYS = 60   # expiry span of one drop
STEP_DAYS = 30     # start-to-start distance: each drop restates half the last


@dataclass
class Drop:
    """One generated CSV drop: its file text and what the generator knows."""

    index: int
    text: str
    data_rows: int      # CSV data lines
    clean_rows: int     # rows whose merge date parses (survive the clean stage)


def _csv_field(v: str) -> str:
    if any(ch in v for ch in ',"\n'):
        return '"' + v.replace('"', '""') + '"'
    return v


def renewal_drop(seed: int, index: int, rows: int) -> Drop:
    """Drop ``index`` of the sequence made from ``seed``: ``rows`` data
    rows expiring in ``[EPOCH + index·STEP_DAYS, EPOCH + index·STEP_DAYS +
    WINDOW_DAYS)``. The same arguments give the same text."""
    rnd = random.Random(f"{seed}-{index}")
    lines = [",".join(f["name"] for f in RENEWALS_SCHEMA)]
    clean = 0
    start = EPOCH + dt.timedelta(days=index * STEP_DAYS)
    for _ in range(rows):
        expiry = start + dt.timedelta(days=rnd.randrange(WINDOW_DAYS))
        effective = expiry - dt.timedelta(days=365)
        u = rnd.random()
        if u < 0.03:
            expiry_s = ""                      # NULL merge date → dropped
        elif u < 0.05:
            expiry_s = "not-a-date"            # unparseable → NULL → dropped
        else:
            expiry_s = expiry.isoformat()
            clean += 1
        agency = str(1000 + rnd.randrange(40))
        if rnd.random() < 0.3:
            agency = f'="{agency}"'            # Excel-protected cell
        policy = f"P-{rnd.randrange(10 ** 7):07d}"
        r = rnd.random()
        if r < 0.04:
            policy = ""                        # NULL policy → view filters
        elif r < 0.2:
            policy = f'="{policy}"'
        status = rnd.choice(_STATUS)
        row = [
            agency,
            policy,
            "not-a-date" if rnd.random() < 0.05 else effective.isoformat(),
            expiry_s,
            rnd.choice(_TTYPES),
            rnd.choice(["true", "false", ""]),
            (expiry - dt.timedelta(days=rnd.randrange(30))).isoformat() if status == "R" else "",
            status,
            rnd.choice(_PCODES),
            rnd.choice(_PCODES),
            rnd.choice(_NAMES),
            rnd.choice(_NAMES),
            rnd.choice(["", "PC2", "PC9"]),
            rnd.choice(_CITIES),
            f"T{rnd.randrange(10)}X {rnd.randrange(10)}A{rnd.randrange(10)}",
            "" if rnd.random() < 0.05 else f"{rnd.randrange(1, 500000) / 100:.2f}",
            (expiry - dt.timedelta(days=rnd.randrange(200))).isoformat() if status == "C" else "",
        ]
        lines.append(",".join(_csv_field(v) for v in row))
    return Drop(index, "\n".join(lines) + "\n", rows, clean)


def write_schema(root: Path) -> Path:
    """Write the renewals schema JSON file and return its path."""
    root.mkdir(parents=True, exist_ok=True)
    schema = root / "renewals_schema.json"
    schema.write_text(json.dumps(RENEWALS_SCHEMA))
    return schema
