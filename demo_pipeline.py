#!/usr/bin/env python
"""Executable parity demo: the reference's full workflow end to end.

Generates FIXTURES.md-shaped dirty inputs (renewals CSV with Excel
quoting / empty strings / bad dates, two overlapping batches), a
settings.yaml, and the four metadata dimensions; then runs the
engine's pipeline exactly as the reference's two Cloud Functions
would (clean → staging → time-window merge → view refresh) and
queries the RETENTION view.

    python demo_pipeline.py        # prints a step-by-step summary
"""

from __future__ import annotations

import json
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from awi_datapipelinepublic_spark import get_spark
from awi_datapipelinepublic_spark.plans.runner import run_file
from awi_datapipelinepublic_spark.plans.spec import PipelineSpec, load_specs, resolve_spec
from awi_datapipelinepublic_spark.plans.views import retention_view
from awi_datapipelinepublic_spark.sources.readers import read_snapshot

SCHEMA = [
    {"name": "AgencyNumber", "type": "STRING", "mode": "NULLABLE"},
    {"name": "PolicyNumber", "type": "STRING", "mode": "NULLABLE"},
    {"name": "PolicyEffectiveDate", "type": "DATE", "mode": "NULLABLE"},
    {"name": "PolicyExpiryDate", "type": "DATE", "mode": "NULLABLE"},
    {"name": "TransactionType", "type": "STRING", "mode": "NULLABLE"},
    {"name": "LeaseIndicator", "type": "BOOLEAN", "mode": "NULLABLE"},
    {"name": "DateRenewed", "type": "DATE", "mode": "NULLABLE"},
    {"name": "PolicyStatus", "type": "STRING", "mode": "NULLABLE"},
    {"name": "ProducerCode1", "type": "STRING", "mode": "NULLABLE"},
    {"name": "ProducerCode2", "type": "STRING", "mode": "NULLABLE"},
    {"name": "ProducerName1", "type": "STRING", "mode": "NULLABLE"},
    {"name": "ProducerName2", "type": "STRING", "mode": "NULLABLE"},
    {"name": "RenewedByProducerCode2", "type": "STRING", "mode": "NULLABLE"},
    {"name": "City", "type": "STRING", "mode": "NULLABLE"},
    {"name": "PostalCode", "type": "STRING", "mode": "NULLABLE"},
    {"name": "CommissionAmt", "type": "NUMERIC", "mode": "NULLABLE"},
    {"name": "DateCancelled", "type": "DATE", "mode": "NULLABLE"},
]

HDR = ",".join(f["name"] for f in SCHEMA)

# Batch 1: Jan–Jun expiries, with the reference's dirt classes.
BATCH1 = [
    '"=""1234""",P-001,2023-02-01,2024-02-01,NB,true,,R,PC1,PC2,Alice,Bob,,Calgary,T2P 1J9,100.50,',
    '5678,P-002,2023-03-01,2024-03-01,XX,false,,C,PC1,ZZ,Ann,Cy,,Nowhere,T1X 0A1,55.25,2023-12-01',
    ',P-003,not-a-date,2024-04-10,NB,,,A,PC1,PC2,Dee,Eve,,Edmonton,T5J 0N3,75.00,',
    '1234,,2023-01-01,2024-01-15,NB,true,,E,PC1,PC2,Fay,Gil,,Calgary,T2P 1J9,20.00,',   # NULL policy → view filters
    '1234,P-004,2023-05-01,,NB,true,,A,PC1,PC2,Hal,Ivy,,Calgary,T2P 1J9,33.00,',        # NULL date_col → dropped
]
# Batch 2: restates everything expiring ≥ 2024-03-01 (P-002 corrected).
BATCH2 = [
    '5678,P-002,2023-03-01,2024-03-01,NB,false,2024-02-20,R,PC1,PC2,Ann,Cy,,Calgary,T1X 0A1,60.00,',
    '9999,P-005,2023-06-15,2024-06-15,NB,true,,A,PC1,ZZ,Joe,Kim,,Red Deer,T4N 1A1,44.10,',
]

SETTINGS_TEMPLATE = """
name: renewals
schema_file: {schema_file}
date_col: PolicyExpiryDate
landing_dir: {root}/landing
staging_dir: {root}/staging
base_table_path: {root}/base/renewals
converters: {{AgencyNumber: strip_excel, PolicyNumber: strip_excel}}
view_name: RETENTION
error_dir: {root}/errors
"""


def main() -> None:
    root = Path(tempfile.mkdtemp(prefix="awi_demo_"))
    (root / "landing").mkdir(parents=True)
    schema_file = root / "renewals_schema.json"
    schema_file.write_text(json.dumps(SCHEMA))
    settings = root / "settings.yaml"
    settings.write_text(SETTINGS_TEMPLATE.format(schema_file=schema_file, root=root))

    spark = get_spark("awi-demo")
    spark.sparkContext.setLogLevel("ERROR")
    specs = load_specs(str(settings))

    dims = {
        "geo": spark.createDataFrame(
            [("Calgary", "South"), ("Edmonton", "North"), ("Red Deer", "Central")],
            ["meta_city", "meta_geo"]),
        "channels": spark.createDataFrame([("PC2", "ONLINE")], ["P2", "CHANNEL"]),
        "agencies": spark.createDataFrame(
            [("1234", "Main St Agency"), ("5678", "Hill Rd Agency")],
            ["metaAgencyNumber", "metaAgencyName"]),
        "ttypes": spark.createDataFrame([("NB", "New Business")], ["ttno", "TType"]),
    }

    for i, batch in enumerate([BATCH1, BATCH2], 1):
        drop = root / "landing" / "renewals.csv"
        drop.write_text(HDR + "\n" + "\n".join(batch) + "\n")
        spec = resolve_spec(specs, drop.name)
        run_file(spark, spec, str(drop))
        base = read_snapshot(spark, spec.base_table_path)
        policies = sorted(
            (r[0] or "<NULL>") for r in base.select("PolicyNumber").collect()
        )
        print(f"[batch {i}] merged base table: {base.count()} rows (policies: {policies})")

    base = read_snapshot(spark, specs["renewals"].base_table_path).drop("_merge_month")
    view = retention_view(base, dims["geo"], dims["channels"], dims["agencies"], dims["ttypes"])
    print("\nRETENTION view:")
    view.select("PolicyNumber", "Agency", "Geography", "Channel", "TType",
                "Renewed", "Cancelled", "Active", "PolicyExpiryDate").show(truncate=False)
    rows = {r["PolicyNumber"]: r for r in view.collect()}
    # P-003 (expiry 2024-04-10) is inside batch 2's owned window
    # [min(batch2.expiry)=2024-03-01, ∞) and batch 2 did not restate it →
    # discarded. Exactly the reference's re-statement semantics
    # (config.py:190-199).
    assert set(rows) == {"P-001", "P-002", "P-005"}, rows.keys()
    assert rows["P-002"]["Renewed"] == 1, "batch-2 correction must win"
    assert rows["P-001"]["AgencyNumber"] == "1234", "Excel quoting must strip"
    assert rows["P-005"]["Channel"] == "DEALERS", "channel miss must take the COALESCE default"
    print("demo assertions passed: window ownership (P-003 correctly dropped), "
          "batch-2 correction won, Excel strip, COALESCE defaults")


if __name__ == "__main__":
    main()
