"""End-to-end build-supporting-facilities CLI: raw appended CSV + trust
lookup -> clean CSV + org-change-adjusted CSV."""

from nhs_data_pipeline_spark.cli import main

_RAW = """\
year_var,quarter_var,SHA,OrgID,Name,SHA Code,Organisation Code,Organisation Name,Number of operating theatres,"Of which, number of dedicated day case theatres"
2014,Q1,Q30,RA1,Trust A,,,,10,2
2014,Q1,,,,Q71,RB1,Trust B,5,1
2015,Q1,,,,Q71,RC1,Trust C,7,3
2015,Q1,,,,Q71,ENG,England (Including Independent Sector),99,9
2015,Q1,,,,Q71,RD1,Trust D,4,NA
"""

_LOOKUP = """\
old_code,final_code,experiences_split,problematic
RB1,RC1,0,0
"""


def test_build_supporting_facilities_cli(spark, tmp_path):
    """Both eras' org columns merge, the England row and the NA
    day-case row drop, and RB1's row is recoded onto RC1 with the
    names upper-cased."""
    raw, lookup, out = tmp_path / "raw.csv", tmp_path / "lookup.csv", tmp_path / "out"
    raw.write_text(_RAW)
    lookup.write_text(_LOOKUP)

    main([
        "build-supporting-facilities",
        "--raw", str(raw), "--lookup", str(lookup), "--out", str(out),
    ])

    clean = (out / "supporting-facilities_clean.csv").read_text().splitlines()
    adjusted = (
        out / "supporting-facilities_clean_org_change_adj.csv"
    ).read_text().splitlines()
    assert clean == [
        "year_var,quarter_var,nr_operating_theatres,nr_day_case_theatres,"
        "SHA,organisation_code,organisation_name",
        "2014,Q1,10,2,Q30,RA1,Trust A",
        "2014,Q1,5,1,Q71,RB1,Trust B",
        "2015,Q1,7,3,Q71,RC1,Trust C",
    ]
    # RB1's last period is 2014 Q1, so its change period is 2014 Q2:
    # no panel row carries it and the change flags stay 0
    assert adjusted == [
        "year,quarter,org_code,nr_operating_theatres,nr_day_case_theatres,"
        "exp_problematic_org_change,org_name,unproblematic_org_change,"
        "exp_unproblematic_org_change",
        "2014,Q1,RA1,10.0,2.0,0,TRUST A,0,0",
        "2014,Q1,RC1,5.0,1.0,0,TRUST C,0,0",
        "2015,Q1,RC1,7.0,3.0,0,TRUST C,0,0",
    ]
