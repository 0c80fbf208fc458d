"""Clean-stage operator tests: the reference's dirt classes
(SURVEY.md §5.2) against functions/cleaning.py + sources/readers.py."""

import datetime as dt
import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from awi_datapipelinepublic_spark.functions.cleaning import (
    align_columns,
    apply_converters,
    cast_to_schema,
    strip_excel,
)
from awi_datapipelinepublic_spark.sources.readers import read_csv
from awi_datapipelinepublic_spark.sources.schema import to_struct_type

FIELDS = [
    {"name": "AgencyNumber", "type": "STRING", "mode": "NULLABLE"},
    {"name": "PolicyNumber", "type": "STRING", "mode": "NULLABLE"},
    {"name": "PolicyExpiryDate", "type": "DATE", "mode": "NULLABLE"},
    {"name": "CommissionAmt", "type": "NUMERIC", "mode": "NULLABLE"},
    {"name": "SELLER__", "type": "INTEGER", "mode": "NULLABLE"},
    {"name": "LeaseIndicator", "type": "BOOLEAN", "mode": "NULLABLE"},
]


def test_strip_excel_matches_python_strip(spark):
    """Engine semantics == python str.strip('\"=') (reference config.py:31-33)."""
    cases = ['="1234"', '"ab=cd"', "====x", 'plain', '""', '=="a=b"=']
    df = spark.createDataFrame([(c,) for c in cases], ["raw"])
    got = [r["s"] for r in df.select(strip_excel("raw").alias("s")).collect()]
    want = [c.strip('"=') for c in cases]
    assert got == want


def test_apply_converters_whitelist(spark):
    df = spark.createDataFrame([('="77"', "x")], ["a", "b"])
    out = apply_converters(df, {"a": "strip_excel"}).first()
    assert out["a"] == "77" and out["b"] == "x"
    try:
        apply_converters(df, {"a": "__import__"})
        raise AssertionError("non-whitelisted converter must raise")
    except ValueError:
        pass


def test_cast_to_schema_lenient_dates(spark):
    df = spark.createDataFrame(
        [("1", "P1", "2024-02-29", "1.5", "7", "true"),
         ("2", "P2", "not-a-date", "", None, None)],
        ["AgencyNumber", "PolicyNumber", "PolicyExpiryDate", "CommissionAmt", "SELLER__", "LeaseIndicator"],
    )
    out = cast_to_schema(df, to_struct_type(FIELDS), lenient_dates=["PolicyExpiryDate"]).collect()
    assert str(out[0]["PolicyExpiryDate"]) == "2024-02-29"
    assert out[0]["CommissionAmt"] == 1.5 and out[0]["SELLER__"] == 7 and out[0]["LeaseIndicator"] is True
    assert out[1]["PolicyExpiryDate"] is None  # coerce, not error (config.py:139-142)


def test_read_csv_end_to_end(spark, tmp_path):
    """CSV with every dirt class: Excel quoting, empty strings, bad dates,
    extra columns, quoted newlines."""
    csv = tmp_path / "renewals.csv"
    csv.write_text(
        "AgencyNumber,PolicyNumber,PolicyExpiryDate,CommissionAmt,SELLER__,LeaseIndicator,ExtraCol\n"
        '"=""1234""",P-1,2024-01-15,10.5,3,true,IGNORED\n'
        ',P-2,bad-date,,,false,x\n'
        '5678,"multi\nline",2024-03-01,7.25,9,,y\n'
    )
    df = read_csv(spark, str(csv), FIELDS, converters={"AgencyNumber": "strip_excel"})
    rows = {r["PolicyNumber"]: r for r in df.collect()}
    assert "ExtraCol" not in df.columns                       # usecols prune
    assert rows["P-1"]["AgencyNumber"] == "1234"              # strip_excel
    assert rows["P-2"]["AgencyNumber"] is None                # '' → NULL
    assert rows["P-2"]["PolicyExpiryDate"] is None            # coerce
    assert rows["multi\nline"]["CommissionAmt"] == 7.25       # quoted newline
    assert df.schema["SELLER__"].dataType.typeName() == "long"


def test_cast_with_rejects_splits_bad_rows(spark):
    """Row-level quarantine: unparseable numerics reject the row with
    original values preserved; lenient DATE coercion never rejects."""
    from awi_datapipelinepublic_spark.functions.cleaning import cast_with_rejects

    df = spark.createDataFrame(
        [("1", "P1", "2024-01-01", "1.5", "7", "true"),
         ("2", "P2", "not-a-date", "2.0", "8", "false"),   # bad date → lenient NULL, keeps row
         ("3", "P3", "2024-02-01", "NOT_NUM", "9", "true")],  # bad numeric → rejected
        ["AgencyNumber", "PolicyNumber", "PolicyExpiryDate", "CommissionAmt", "SELLER__", "LeaseIndicator"],
    )
    good, rejected = cast_with_rejects(df, to_struct_type(FIELDS), lenient_dates=["PolicyExpiryDate"])
    good_rows = {r["PolicyNumber"]: r for r in good.collect()}
    bad_rows = {r["PolicyNumber"]: r for r in rejected.collect()}
    assert set(good_rows) == {"P1", "P2"}
    assert good_rows["P2"]["PolicyExpiryDate"] is None
    assert set(bad_rows) == {"P3"}
    assert bad_rows["P3"]["CommissionAmt"] == "NOT_NUM"  # original value preserved


def test_compact_table(spark, tmp_path):
    """Compaction rewrites many small files into the size-targeted count."""
    from awi_datapipelinepublic_spark.sources.writers import compact_table

    path = str(tmp_path / "frag")
    spark.range(0, 20000).repartition(64).write.mode("overwrite").parquet(path)
    before = len(list(Path(path).rglob("*.parquet")))
    after = compact_table(spark, path, target_file_mb=256)
    assert before >= 64
    assert after <= 4
    assert spark.read.parquet(path).count() == 20000


def test_align_columns_union(spark):
    """The prime/plus sheet alignment (config.py:121-128), name-based."""
    schema = to_struct_type(FIELDS)
    prime = spark.createDataFrame([("1", "P1")], ["AgencyNumber", "PolicyNumber"])
    plus = spark.createDataFrame([("2", "P2", 5.0)], ["AgencyNumber", "PolicyNumber", "CommissionAmt"])
    a = align_columns(prime.withColumn("SOURCE", F.lit("prime")).drop("SOURCE"), schema)
    b = align_columns(plus, schema)
    out = a.unionByName(b).collect()
    assert len(out) == 2
    assert out[0]["CommissionAmt"] is None and out[1]["CommissionAmt"] == 5.0
    assert [f.name for f in a.schema.fields] == [f["name"] for f in FIELDS]


def test_xlsx_roundtrip_two_sheets_align_union(spark, tmp_path):
    """Real file → DataFrame: the stdlib xlsx reader must reproduce the
    reference's prime/plus flow (config.py:109-128) — per-sheet read,
    SOURCE tag, name-aligned union with NULL fill for missing cols."""
    from awi_datapipelinepublic_spark.sources.readers import read_excel_sheets
    from awi_datapipelinepublic_spark.sources.xlsx import write_xlsx

    path = str(tmp_path / "ProductionRpt_Jan.xlsx")
    write_xlsx(
        path,
        {
            "Prime Production Report": (
                ["POLICY", "TRANS_DATE", "PREMIUM"],
                [["PP-1", "2024-01-05", "100.5"], ["PP-2", "2024-01-06", None]],
            ),
            "Plus Production Report": (
                ["POLICY", "TRANS_DATE", "PREMIUM", "DEALER"],
                [["PL-1", "2024-01-07", "55", "D & Sons <auto>"]],
            ),
        },
    )
    out = read_excel_sheets(
        spark, path, ["Prime Production Report", "Plus Production Report"], [], source_col="SOURCE"
    )
    rows = {r["POLICY"]: r for r in out.collect()}
    assert set(rows) == {"PP-1", "PP-2", "PL-1"}
    assert rows["PP-1"]["SOURCE"] == "prime" and rows["PL-1"]["SOURCE"] == "plus"
    assert rows["PP-1"]["DEALER"] is None          # align: prime lacks DEALER
    assert rows["PP-2"]["PREMIUM"] is None         # blank cell → NULL
    assert rows["PL-1"]["DEALER"] == "D & Sons <auto>"  # XML escaping survives
    assert all(isinstance(v, (str, type(None))) for r in out.collect() for v in r)


def test_xlsx_reader_shared_strings_and_numbers(tmp_path):
    """The reader must also consume files other writers produce:
    sharedStrings-table cells, raw numeric cells, boolean cells."""
    import zipfile

    from awi_datapipelinepublic_spark.sources.xlsx import read_xlsx

    path = str(tmp_path / "shared.xlsx")
    ct = """<?xml version="1.0"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""
    wb = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    rels = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    ss = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3"><si><t>name</t></si><si><t>qty</t></si><si><r><t>multi </t></r><r><t>run</t></r></si></sst>"""
    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>3.25</v></c></row>
<row r="3"><c r="A3" t="b"><v>1</v></c><c r="B3"><v>42</v></c></row>
</sheetData></worksheet>"""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", "<Relationships xmlns='http://schemas.openxmlformats.org/package/2006/relationships'/>")
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", ss)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    header, rows = read_xlsx(path, "S1")
    assert header == ["name", "qty"]
    assert rows == [["multi run", "3.25"], ["TRUE", "42"]]

def test_xlsx_date_styled_cells_convert_to_iso(spark, tmp_path):
    """Date-STYLED numeric cells must surface as ISO strings that the
    lenient date cast turns into real dates — the behavior openpyxl
    gives the reference (config.py:109-118), where date-formatted
    cells arrive as datetimes, not Excel serial numbers."""
    from pyspark.sql import types as T

    from awi_datapipelinepublic_spark.functions.cleaning import cast_to_schema
    from awi_datapipelinepublic_spark.sources.readers import read_excel_sheets
    from awi_datapipelinepublic_spark.sources.xlsx import DateSerial, write_xlsx

    path = str(tmp_path / "ProductionRpt_dates.xlsx")
    write_xlsx(
        path,
        {
            "Prime Production Report": (
                ["POLICY", "TRANS_DATE", "PREMIUM"],
                [
                    ["PP-1", DateSerial(45261), "100.5"],     # 2023-12-01
                    ["PP-2", DateSerial(45261.5), "7"],       # noon → datetime string
                    ["PP-3", "2024-01-02", "9"],              # ISO string passes through
                    ["PP-4", None, "1"],
                ],
            )
        },
    )
    out = read_excel_sheets(spark, path, ["Prime Production Report"], [])
    rows = {r["POLICY"]: r for r in out.collect()}
    assert rows["PP-1"]["TRANS_DATE"] == "2023-12-01"
    assert rows["PP-2"]["TRANS_DATE"] == "2023-12-01 12:00:00"
    assert rows["PP-3"]["TRANS_DATE"] == "2024-01-02"
    assert rows["PP-4"]["TRANS_DATE"] is None
    # Premium column is untouched (numeric but not date-styled).
    assert rows["PP-1"]["PREMIUM"] == "100.5"

    # And the standard clean stage parses those strings to real DATEs.
    st = T.StructType(
        [
            T.StructField("POLICY", T.StringType()),
            T.StructField("TRANS_DATE", T.DateType()),
            T.StructField("PREMIUM", T.DoubleType()),
        ]
    )
    casted = cast_to_schema(out, st, lenient_dates=["TRANS_DATE"])
    vals = {r["POLICY"]: r["TRANS_DATE"] for r in casted.collect()}
    import datetime

    assert vals["PP-1"] == datetime.date(2023, 12, 1)
    assert vals["PP-2"] == datetime.date(2023, 12, 1)
    assert vals["PP-3"] == datetime.date(2024, 1, 2)
    assert vals["PP-4"] is None


def test_xlsx_date_format_heuristic(tmp_path):
    """styles.xml number-format classification: built-in date ids,
    custom codes with y/m/d tokens, and quoted-literal false
    positives — the openpyxl is_date_format rule."""
    import zipfile

    from awi_datapipelinepublic_spark.sources.xlsx import (
        _date_style_indices,
        _is_date_format,
        _serial_to_iso,
    )

    assert _is_date_format(14, None) and _is_date_format(22, None)
    assert not _is_date_format(0, None) and not _is_date_format(2, None)
    assert _is_date_format(164, "yyyy\\-mm\\-dd")
    assert _is_date_format(165, "[$-409]d-mmm-yy")
    assert not _is_date_format(166, '"yes";"no"')      # quoted literals stripped
    assert not _is_date_format(167, "#,##0.00")
    # 1900 leap-bug boundary (openpyxl-compatible epoch handling)
    assert _serial_to_iso(1) == "1900-01-01"
    assert _serial_to_iso(59) == "1900-02-28"
    assert _serial_to_iso(61) == "1900-03-01"

    styles = """<?xml version="1.0"?>
<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><numFmts count="2"><numFmt numFmtId="164" formatCode="yyyy/mm/dd"/><numFmt numFmtId="165" formatCode="&quot;d&quot;0.0"/></numFmts><cellXfs count="4"><xf numFmtId="0"/><xf numFmtId="164"/><xf numFmtId="165"/><xf numFmtId="14"/></cellXfs></styleSheet>"""
    path = str(tmp_path / "s.xlsx")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("xl/styles.xml", styles)
    with zipfile.ZipFile(path) as zf:
        assert _date_style_indices(zf) == frozenset({1, 3})

def test_numeric_as_decimal_schema_mode():
    from pyspark.sql import types as T

    from awi_datapipelinepublic_spark.sources.schema import to_struct_type

    fields = [{"name": "a", "type": "NUMERIC"}, {"name": "b", "type": "FLOAT"}]
    st = to_struct_type(fields, numeric_as_decimal=True)
    assert st["a"].dataType == T.DecimalType(38, 9)
    assert st["b"].dataType == T.DoubleType()     # only NUMERIC switches
    assert to_struct_type(fields)["a"].dataType == T.DoubleType()


def test_xlsx_phonetic_runs_excluded_from_strings(tmp_path):
    """Japanese workbooks carry furigana as <rPh> phonetic runs inside
    shared-string items; their <t> is annotation, NOT cell text — a
    blind .iter('t') would emit '東京トウキョウ'. Both shared and
    inline strings must keep visible runs only."""
    import zipfile

    from awi_datapipelinepublic_spark.sources.xlsx import read_xlsx

    path = str(tmp_path / "phonetic.xlsx")
    ct = """<?xml version="1.0"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/><Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""
    wb = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    rels = """<?xml version="1.0"?>
<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    # si 0: plain header; si 1: visible text + phonetic run + phoneticPr
    ss = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2"><si><t>city</t></si><si><r><t>東京</t></r><rPh sb="0" eb="2"><t>トウキョウ</t></rPh><phoneticPr fontId="1"/></si></sst>"""
    # inline string with the same shape
    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c></row>
<row r="2"><c r="A2" t="s"><v>1</v></c></row>
<row r="3"><c r="A3" t="inlineStr"><is><r><t>大阪</t></r><rPh sb="0" eb="2"><t>オオサカ</t></rPh></is></c></row>
</sheetData></worksheet>"""
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", ct)
        zf.writestr("_rels/.rels", "<Relationships xmlns='http://schemas.openxmlformats.org/package/2006/relationships'/>")
        zf.writestr("xl/workbook.xml", wb)
        zf.writestr("xl/_rels/workbook.xml.rels", rels)
        zf.writestr("xl/sharedStrings.xml", ss)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)
    header, rows = read_xlsx(path, "S1")
    assert header == ["city"]
    assert rows == [["東京"], ["大阪"]]


# FIXTURES.md §A2 dirt classes, one row each: Excel ="…" quoting, empty
# strings, an unparseable date, a NULL merge date, an unparseable
# non-merge date, and a clean row.
_DIRTY_HDR = "AgencyNumber,PolicyNumber,PolicyExpiryDate,CommissionAmt,SELLER__,LeaseIndicator\n"
_DIRTY_ROWS = (
    '"=""1234""","=""P-1""",2024-01-15,10.5,3,true\n'
    ',P-2,2024-02-01,,,\n'
    '5678,P-3,not-a-date,7.25,9,false\n'
    '9012,P-4,,1.0,1,true\n'
    '=3456=,P-5,2024-03-31,2.5,,false\n'
)


def test_read_csv_and_streaming_clean_agree_on_dirt_classes(spark, tmp_path, monkeypatch):
    """The batch reader and the streaming micro-batch clean share one
    projection: identical schema and rows on every dirt class, after
    the merge-date filter both paths apply."""
    from awi_datapipelinepublic_spark.plans.spec import PipelineSpec
    from awi_datapipelinepublic_spark.streaming import file_pipeline

    schema_file = tmp_path / "renewals.json"
    schema_file.write_text(json.dumps(FIELDS))
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "drop.csv").write_text(_DIRTY_HDR + _DIRTY_ROWS)
    converters = {"AgencyNumber": "strip_excel", "PolicyNumber": "strip_excel"}
    spec = PipelineSpec(
        name="renewals", schema_file=str(schema_file), date_col="PolicyExpiryDate",
        landing_dir=str(landing), staging_dir=str(tmp_path / "s"),
        base_table_path=str(tmp_path / "b"), converters=converters,
    )
    seen = []

    def capture(spark_, base_path, batch, date_col, cutoff):
        seen.append((batch.schema, sorted(map(tuple, batch.collect()), key=repr), cutoff))

    monkeypatch.setattr(file_pipeline, "merge_into_path", capture)
    q = file_pipeline.stream_pipeline(spark, spec, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert not q.isActive

    batch = read_csv(spark, str(landing / "drop.csv"), FIELDS, converters).filter(
        F.col("PolicyExpiryDate").isNotNull()
    )
    rows = sorted(map(tuple, batch.collect()), key=repr)
    assert seen == [(batch.schema, rows, dt.date(2024, 1, 15))]
    by_policy = {r[1]: r for r in rows}
    assert set(by_policy) == {"P-1", "P-2", "P-5"}       # NULL / bad merge dates dropped
    assert by_policy["P-1"][0] == "1234" and by_policy["P-5"][0] == "3456"
    assert by_policy["P-2"][0] is None and by_policy["P-2"][3] is None   # '' → NULL


def test_clean_projection_quotes_odd_column_names(spark, tmp_path):
    """Declared names with a space and a backtick round-trip through the
    SQL projection (converter and lenient date included), and building
    the clean frame launches no Spark job."""
    import uuid

    fields = [
        {"name": "Agency `No` x", "type": "STRING", "mode": "NULLABLE"},
        {"name": "Expiry Date", "type": "DATE", "mode": "NULLABLE"},
        {"name": "n`", "type": "INTEGER", "mode": "NULLABLE"},
    ]
    csv = tmp_path / "odd.csv"
    csv.write_text('"Agency `No` x",Expiry Date,n`\n"=""7""",2024-05-06,3\n,nope,\n')
    sc = spark.sparkContext
    group = f"clean-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build clean frame")
    try:
        df = read_csv(spark, str(csv), fields, {"Agency `No` x": "strip_excel"})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.columns == [f["name"] for f in fields]
    assert [tuple(r) for r in df.collect()] == [("7", dt.date(2024, 5, 6), 3), (None, None, None)]


def test_read_csv_unknown_converter_raises(spark, tmp_path):
    csv = tmp_path / "r.csv"
    csv.write_text(_DIRTY_HDR + _DIRTY_ROWS)
    with pytest.raises(ValueError, match="unknown converter"):
        read_csv(spark, str(csv), FIELDS, converters={"AgencyNumber": "__import__"})
