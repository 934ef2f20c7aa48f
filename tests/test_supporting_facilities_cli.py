"""End-to-end build-supporting-facilities CLI: raw appended CSV + trust
lookup -> clean CSV + org-change-adjusted CSV (or parquet)."""

import csv

from nhs_data_pipeline_spark.cli import main

# Both eras, a quoted name holding a comma, a repeated header row, a
# "Data not returned" cell, an England row and an NA day-case row.
_HEADER = (
    "year_var,quarter_var,SHA,OrgID,Name,SHA Code,Organisation Code,Organisation Name,"
    'Number of operating theatres,"Of which, number of dedicated day case theatres"\n'
)
_RAW = _HEADER + _HEADER.join([
    """\
2014,Q1,Q30,RA1,"Trust A, Acute",,,,10,2
2014,Q1,Q30,RB1,Trust B,,,,5,1
2014,Q1,Q30,RC1,Trust C,,,,7,3
2014,Q1,Q30,RP1,Trust P,,,,4,1
2014,Q1,Q30,RF1,Trust F,,,,6,2
2014,Q1,Q30,RS1,Trust S,,,,8,4
2014,Q1,Q30,RS2,Trust S Two,,,,3,1
""", """\
2014,Q2,,,,Q71,RA1,"Trust A, Acute",11,2
2014,Q2,,,,Q71,RC1,Trust C,7,3
2014,Q2,,,,Q71,RF1,Trust F,6,Data not returned
2014,Q2,,,,Q71,RS2,Trust S Two,3,1
2014,Q2,,,,Q71,RS3,Trust S Three,2,1
2014,Q2,,,,Q71,ENG,England (Including Independent Sector),99,9
2014,Q2,,,,Q71,RD1,Trust D,4,NA
"""])

_CLEAN = [
    "year_var,quarter_var,nr_operating_theatres,nr_day_case_theatres,"
    "SHA,organisation_code,organisation_name",
    '2014,Q1,10,2,Q30,RA1,"Trust A, Acute"',
    "2014,Q1,5,1,Q30,RB1,Trust B",
    "2014,Q1,7,3,Q30,RC1,Trust C",
    "2014,Q1,4,1,Q30,RP1,Trust P",
    "2014,Q1,6,2,Q30,RF1,Trust F",
    "2014,Q1,8,4,Q30,RS1,Trust S",
    "2014,Q1,3,1,Q30,RS2,Trust S Two",
    '2014,Q2,11,2,Q71,RA1,"Trust A, Acute"',
    "2014,Q2,7,3,Q71,RC1,Trust C",
    "2014,Q2,6,Data not returned,Q71,RF1,Trust F",
    "2014,Q2,3,1,Q71,RS2,Trust S Two",
    "2014,Q2,2,1,Q71,RS3,Trust S Three",
]

# A clean merger, a problematic final code (RF1) that reports its own
# rows, and a clean split pair RS1 -> RS2 + RS3.
_LOOKUP = """\
old_code,final_code,experiences_split,problematic
RB1,RC1,0,0
RP1,RF1,0,1
RS1,RS2,1,0
RS1,RS3,1,0
"""

# RB1 -> RC1 changes at 2014 Q2, a period RC1 reports, so that row is
# flagged. RP1 and RF1 keep their codes and are flagged problematic.
# RS1's row fans out onto both split codes; the split change period is
# labelled "QQ1" (reference quirk), so no split row is flagged.
_ADJUSTED = [
    '2014,Q1,RA1,10.0,2.0,0,"TRUST A, ACUTE",0,0',
    '2014,Q2,RA1,11.0,2.0,0,"TRUST A, ACUTE",0,0',
    "2014,Q1,RC1,12.0,4.0,0,TRUST C,0,1",
    "2014,Q2,RC1,7.0,3.0,0,TRUST C,1,1",
    "2014,Q1,RF1,6.0,2.0,1,TRUST F,0,0",
    "2014,Q2,RF1,6.0,NA,1,TRUST F,0,0",
    "2014,Q1,RP1,4.0,1.0,1,TRUST P,0,0",
    "2014,Q1,RS2,11.0,5.0,0,TRUST S TWO,0,0",
    "2014,Q2,RS2,3.0,1.0,0,TRUST S TWO,0,0",
    "2014,Q1,RS3,8.0,4.0,0,TRUST S THREE,0,0",
    "2014,Q2,RS3,2.0,1.0,0,TRUST S THREE,0,0",
]
_ADJUSTED_HEADER = (
    "year,quarter,org_code,nr_operating_theatres,nr_day_case_theatres,"
    "exp_problematic_org_change,org_name,unproblematic_org_change,"
    "exp_unproblematic_org_change"
)
_ADJUSTED_CSV = "supporting-facilities_clean_org_change_adj.csv"


def _build(tmp_path, lookup_text=_LOOKUP, fmt="csv"):
    raw, lookup, out = tmp_path / "raw.csv", tmp_path / "lookup.csv", tmp_path / "out"
    raw.write_text(_RAW)
    lookup.write_text(lookup_text)
    main([
        "build-supporting-facilities", "--raw", str(raw), "--lookup", str(lookup),
        "--out", str(out), "--format", fmt,
    ])
    return out


def test_build_supporting_facilities_cli(spark, tmp_path):
    """Both eras' org columns merge, the junk rows drop, and the
    adjusted panel recodes, fans out and flags as the reference does,
    with the names upper-cased."""
    out = _build(tmp_path)
    clean = (out / "supporting-facilities_clean.csv").read_text().splitlines()
    assert clean == _CLEAN
    adjusted = (out / _ADJUSTED_CSV).read_text().splitlines()
    assert adjusted == [_ADJUSTED_HEADER, *_ADJUSTED]


def test_build_supporting_facilities_cli_parquet(spark, tmp_path):
    """The parquet sink holds the CSV sink's rows."""
    out = _build(tmp_path, fmt="parquet")
    df = spark.read.parquet(str(out / "supporting-facilities_adjusted.parquet"))
    got = [
        ",".join("NA" if v is None else str(v) for v in r)
        for r in df.select(*_ADJUSTED_HEADER.split(",")).collect()
    ]
    assert sorted(got) == sorted(line.replace('"', "") for line in _ADJUSTED)


def test_adjuster_decides_lookup_membership_on_driver(spark, tmp_path):
    """The lookup is collected once: the adjuster's plan neither scans
    the lookup file nor splits the panel with a semi/anti join pair,
    and its one union is the unaffected + re-aggregated panel."""
    from nhs_data_pipeline_spark.io.readers import read_messy_csv
    from nhs_data_pipeline_spark.pipelines.supporting_facilities import (
        adjust_supporting_facilities,
    )

    clean, lookup = tmp_path / "clean.csv", tmp_path / "lookup.csv"
    clean.write_text("\n".join(_CLEAN) + "\n")
    lookup.write_text(_LOOKUP)
    adjusted = adjust_supporting_facilities(
        read_messy_csv(spark, str(clean), header=0, na_tokens=["NA", ""]),
        spark.read.csv(str(lookup), header=True, inferSchema=True),
    )
    plan = adjusted._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    assert "Scan csv" not in plan and plan.count("Union") == 1, plan


def test_adjusted_csv_sorted_by_full_row(spark, tmp_path):
    """RC1 is a clean merger target and a problematic final code, so
    RB1's recoded row (flag 0) and RC1's own row (flag 1) tie on
    (org_code, year, quarter); the file orders them by the other
    columns, not by plan order."""
    with open(_build(tmp_path, _LOOKUP + "RX1,RC1,0,1\n") / _ADJUSTED_CSV) as f:
        header, *rows = csv.reader(f)
    key = [header.index(c) for c in ("org_code", "year", "quarter")]
    key += [i for i in range(len(header)) if i not in key]
    text = {"org_code", "quarter", "org_name"}
    # Spark's ascending order: NULL ("NA") first, numbers by value
    typed = [
        tuple((r[i] != "NA", r[i] if header[i] in text or r[i] == "NA" else float(r[i]))
              for i in key)
        for r in rows
    ]
    assert typed == sorted(typed)
    assert [r[3] for r in rows if r[2] == "RC1" and r[1] == "Q1"] == ["5.0", "7.0"]
