"""End-to-end series pipeline: the supporting-facilities minimum slice
(SURVEY §7) on synthetic two-era raw files, through org-change
adjustment — the spine the reference's four series builders share."""

from __future__ import annotations

import csv

from pyspark.sql import functions as F

from nhs_data_pipeline_spark.pipelines import SeriesConfig, run_series
import pytest


def _write(path, rows):
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)
    return str(path)


def _era_a(tmp_path):
    # pre-2013 layout: SHA / OrgID / Name, preamble + junk England row
    return _write(
        tmp_path / "Theatres_Quarter_1_2012_13.csv",
        [
            ["Supporting Facilities release", "", "", ""],
            ["", "", "", ""],
            ["SHA", "OrgID", "Name", "Number of Operating Theatres"],
            ["Q30", "OLD1", "OLD TRUST ONE", "4"],
            ["Q30", "NEW", "NEW TRUST", "10"],
            ["Q30", "", "England (Including Independent Sector)", "3000"],
        ],
    )


def _era_b(tmp_path):
    # 2013+ layout: Organisation Code / Organisation Name + region cols
    return _write(
        tmp_path / "Theatres_Quarter_2_2013_14.csv",
        [
            ["Supporting Facilities release", "", "", "", ""],
            ["Region Code", "Organisation Code", "Organisation Name",
             "Area Team Code", "Number of Operating Theatres"],
            ["Y56", "OLD1", "OLD TRUST ONE", "A1", "5"],
            ["Y56", "NEW", "NEW TRUST", "A1", "11"],
            ["Y56", "RX9", "FREE TRUST", "A1", "-"],
        ],
    )


def _facilities_cfg(spark, tmp_path):
    lookup = spark.createDataFrame(
        [("OLD1", "NEW", 0, 0)],
        ["old_code", "final_code", "experiences_split", "problematic"],
    )
    return SeriesConfig(
        name="supporting_facilities",
        files=[_era_a(tmp_path), _era_b(tmp_path)],
        marker="Operating Theatres",
        rename={"orgid": "org_code", "name": "org_name",
                "organisation_code": "org_code_b", "organisation_name": "org_name_b",
                "number_of_operating_theatres": "nr_operating_theatres"},
        coalesce={"org_code": ["org_code", "org_code_b"],
                  "org_name": ["org_name", "org_name_b"]},
        numeric_cols=["nr_operating_theatres"],
        require_cols=["org_code"],
        drop_name_values=["England (Including Independent Sector)"],
        keys=["org_code", "file_year"],
        sum_cols=["nr_operating_theatres"],
        org_lookup=lookup,
    )


def test_harmonize_stage_literal(spark, tmp_path):
    """run_series without an adjustment, pinned on two eras: column
    order (an existing coalesce target keeps its place, a new one goes
    last), a sentinel org code dropped by the required-column filter, a
    NULL name kept, the England row dropped, numbers coerced."""
    a = _write(tmp_path / "Theatres_Quarter_1_2012_13.csv", [
        ["Supporting Facilities release", "", "", ""],
        ["SHA", "OrgID", "Name", "Number of Operating Theatres"],
        ["Q30", "OLD1", "OLD TRUST ONE", "4"],
        ["Q30", "NA", "SENTINEL TRUST", "7"],
        ["Q30", "ENG", "England (Including Independent Sector)", "3000"],
        ["Q30", "RX5", "-", "2"],
    ])
    b = _write(tmp_path / "Theatres_Quarter_2_2013_14.csv", [
        ["Region Code", "Organisation Code", "Organisation Name",
         "Area Team Code", "Number of Operating Theatres"],
        ["Y56", "NEW", "NEW TRUST", "A1", "1,234"],
        ["Y56", "RX9", "FREE TRUST", "A1", " NA "],
    ])
    cfg = SeriesConfig(
        name="literal",
        files=[a, b],
        marker="Operating Theatres",
        rename={"orgid": "org_code", "name": "org_name",
                "organisation_code": "org_code_b", "organisation_name": "org_name_b",
                "number_of_operating_theatres": "nr_operating_theatres"},
        coalesce={"org_code": ["org_code", "org_code_b"],
                  "org_name": ["org_name", "org_name_b"],
                  "region": ["sha", "region_code"]},
        numeric_cols=["nr_operating_theatres"],
        require_cols=["org_code"],
        drop_name_values=["England (Including Independent Sector)"],
    )
    out = run_series(spark, cfg)
    assert out.columns == [
        "_row_idx", "_source_file", "org_code", "org_name",
        "nr_operating_theatres", "area_team_code", "file_year",
        "file_quarter", "file_pathway", "region",
    ]
    got = sorted(tuple(r) for r in out.drop("_source_file").collect())
    assert got == [
        (0, "NEW", "NEW TRUST", 1234.0, "A1", 2013, "Q2", None, "Y56"),
        (0, "OLD1", "OLD TRUST ONE", 4.0, None, 2012, "Q1", None, "Q30"),
        (1, "RX9", "FREE TRUST", None, "A1", 2013, "Q2", None, "Y56"),
        (3, "RX5", None, 2.0, None, 2012, "Q1", None, "Q30"),
    ]


def test_run_series_round_trips(spark, tmp_path):
    """Plan construction is the build's largest engine cost: count the
    Python->JVM commands one adjusted two-era run_series sends. py4j's
    garbage-collection deletes (``m``/``d``) land at random and are not
    counted. The bound is half the 1,463 commands the same run sent with
    PySpark's call-site capture on, a withColumn-chain clean stage and a
    sentinel pass in to_numeric (now ~440)."""
    from py4j.clientserver import ClientServerConnection

    cfg = _facilities_cfg(spark, tmp_path)
    sent = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        run_series(spark, cfg)
    finally:
        ClientServerConnection.send_command = send
    assert 0 < len(sent) <= 1463 // 2


def test_sessions_skip_call_site_capture(spark):
    """Call-site capture costs ~6 round trips per DataFrame API call;
    every get_spark session has it off."""
    from nhs_data_pipeline_spark.session import get_spark

    assert get_spark().conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_supporting_facilities_slice(spark, tmp_path):
    out = run_series(spark, _facilities_cfg(spark, tmp_path))
    rows = {(r.org_code, r.file_year): r for r in out.collect()}

    # era A's OLD1 merged into NEW: 4 + 10 in 2012
    assert rows[("NEW", 2012)].nr_operating_theatres == 14.0
    assert rows[("NEW", 2013)].nr_operating_theatres == 16.0
    # England junk row filtered, sentinel '-' coerced to NULL then
    # NA-preserving sum keeps RX9's year NULL
    assert ("", 3000) not in rows
    assert rows[("RX9", 2013)].nr_operating_theatres is None
    # no OLD1 rows survive adjustment
    assert not any(k[0] == "OLD1" for k in rows)
    # names re-attached
    assert rows[("NEW", 2012)].org_name == "NEW TRUST"
    # the panel comes back materialised: sinks scan its rows instead of
    # re-running ingest, union and the adjustment joins
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan and "Join" not in plan


def test_adjusted_panel_schema(spark, tmp_path):
    out = run_series(spark, _facilities_cfg(spark, tmp_path))
    assert out.dtypes == [
        ("org_code", "string"), ("file_year", "int"),
        ("nr_operating_theatres", "double"),
        ("exp_problematic_org_change", "int"), ("unproblematic_org_change", "int"),
        ("org_name", "string"), ("change_period", "int"),
        ("exp_unproblematic_org_change", "int"),
    ]


def test_rename_collisions_merge_across_eras(spark, tmp_path):
    # two eras' raw names map onto org_code; a third era has it raw
    files = [
        _write(tmp_path / "Theatres_Quarter_1_2012_13.csv",
               [["OrgID", "Number of Operating Theatres"], ["A1", "1"]]),
        _write(tmp_path / "Theatres_Quarter_1_2013_14.csv",
               [["Org ID", "Number of Operating Theatres"], ["B1", "2"], ["B2", "-"]]),
        _write(tmp_path / "Theatres_Quarter_1_2014_15.csv",
               [["Number of Operating Theatres", "Org Code"], ["3", "C1"]]),
    ]
    cfg = SeriesConfig(
        name="collisions",
        files=files,
        marker="Operating Theatres",
        rename={"orgid": "org_code", "org_id": "org_code",
                "number_of_operating_theatres": "nr"},
        numeric_cols=["nr"],
    )
    out = run_series(spark, cfg)
    got = sorted((r.org_code, r.file_year, r.nr) for r in out.collect())
    assert got == [("A1", 2012, 1.0), ("B1", 2013, 2.0), ("B2", 2013, None),
                   ("C1", 2014, 3.0)]
    assert sorted(out.dtypes) == [
        ("_row_idx", "bigint"), ("_source_file", "string"),
        ("file_pathway", "string"), ("file_quarter", "string"),
        ("file_year", "int"), ("nr", "double"), ("org_code", "string"),
    ]


def test_header_only_and_skipped_releases_add_no_rows(spark, tmp_path):
    header_only = _write(
        tmp_path / "Theatres_Quarter_3_2013_14.csv",
        [["Region Code", "Organisation Code", "Organisation Name",
          "Number of Operating Theatres"]],
    )
    skipped = _write(
        tmp_path / "Theatres_Quarter_4_2013_14.csv",
        [["Adjusted release", "", "", ""],
         ["SHA", "OrgID", "Name", "Number of Operating Theatres"],
         ["Q30", "SKIP1", "SKIPPED TRUST", "99"]],
    )
    cfg = SeriesConfig(
        name="empty_and_skipped",
        files=[_era_a(tmp_path), header_only, skipped],
        marker="Operating Theatres",
        skip_markers=["adjusted"],
        rename={"orgid": "org_code", "name": "org_name",
                "number_of_operating_theatres": "nr_operating_theatres"},
        numeric_cols=["nr_operating_theatres"],
        require_cols=["org_code"],
    )
    out = run_series(spark, cfg)
    got = {r.org_code: r.nr_operating_theatres for r in out.collect()}
    assert got == {"OLD1": 4.0, "NEW": 10.0}
    # the header-only release still contributes its (all-NULL) columns
    assert set(out.columns) == {
        "_row_idx", "_source_file", "sha", "org_code", "org_name",
        "nr_operating_theatres", "file_year", "file_quarter", "file_pathway",
        "region_code", "organisation_code", "organisation_name",
    }


def test_pipeline_without_adjustment(spark, tmp_path):
    cfg = SeriesConfig(
        name="raw_only",
        files=[_era_a(tmp_path)],
        marker="Operating Theatres",
        rename={"orgid": "org_code", "name": "org_name",
                "number_of_operating_theatres": "nr_operating_theatres"},
        numeric_cols=["nr_operating_theatres"],
        require_cols=["org_code"],
    )
    out = run_series(spark, cfg)
    got = {r.org_code: r.nr_operating_theatres for r in out.collect()}
    assert got == {"OLD1": 4.0, "NEW": 10.0}


def test_harmonize_wait_bins(spark):
    from nhs_data_pipeline_spark.pipelines.wait_times import harmonize_wait_bins

    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0, 4.0, 9.0)],
        ["between_0_1", "between_51_52", "between_52_53", "between_52_plus",
         "total_52_plus_weeks"],
    )
    out = harmonize_wait_bins(df)
    assert sorted(out.columns) == ["between_0_1", "between_51_52", "between_52_plus"]
    assert out.first().between_52_plus == 9.0
    # schema already harmonized -> untouched
    df2 = spark.createDataFrame([(1.0, 2.0)], ["between_0_1", "between_52_plus"])
    assert harmonize_wait_bins(df2).columns == df2.columns


def test_rtt_recompute_binned_stats(spark):
    from nhs_data_pipeline_spark.pipelines.rtt import recompute_binned_stats

    # org A: 10 waits in 0-1wk, 10 in 17-18, 20 in 20-21
    #   -> 25% within 18 excludes [18,..); within-18 counts bins < 18:
    #      (10+10)/40 = 0.5; median: cum 10,20(=0.5),40 -> bin 17 + .5
    # org B: all 8 in 52+ -> 0 within 18; median 52.5
    # org C: zero totals -> both stats NULL
    rows = [
        ("A", 10.0, 10.0, 20.0, None),
        ("B", None, None, None, 8.0),
        ("C", 0.0, 0.0, 0.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows,
        "org_code string, between_0_1 double, between_17_18 double, "
        "between_20_21 double, between_52_plus double",
    )
    out = {r.org_code: r for r in recompute_binned_stats(df, ["org_code"]).collect()}
    assert out["A"].percent_within_18_weeks == 0.5
    assert out["A"].median_waiting_time_in_weeks == 17.5
    assert out["B"].percent_within_18_weeks == 0.0
    assert out["B"].median_waiting_time_in_weeks == 52.5
    assert out["C"].percent_within_18_weeks is None
    assert out["C"].median_waiting_time_in_weeks is None
    # wide panel columns intact
    assert "between_17_18" in recompute_binned_stats(df, ["org_code"]).columns


def test_beds_quarterly_harmonization(spark):
    from nhs_data_pipeline_spark.pipelines.beds import (
        harmonize_beds_quarterly,
        with_occupancy,
    )

    rows = [
        ("2019-20", "June", "RX1", "100", "80", None),
        ("2019-20", "March", "RX1", "90", "0", None),
        ("2019-20", "December", "RX2", "-", "10", None),
    ]
    df = spark.createDataFrame(
        rows, "year string, period_end string, org_code string, "
              "total_6 string, total_12 string, x11 string"
    )
    out = harmonize_beds_quarterly(df, measure_cols=["total_6", "total_12"])
    assert "x11" not in out.columns  # spacer dropped
    got = {(r.org_code, r.quarter): r for r in out.collect()}
    assert got[("RX1", "Q1")].calendar_year == 2019  # June -> Q1, start year
    assert got[("RX1", "Q4")].calendar_year == 2020  # March -> Q4, end year
    assert got[("RX2", "Q3")].total_6 is None        # '-' sentinel
    occ = with_occupancy(out, "total_12", "total_6")
    vals = {(r.org_code, r.quarter): r.percent_occupied for r in occ.collect()}
    assert vals[("RX1", "Q1")] == 0.8
    assert vals[("RX2", "Q3")] is None   # null available -> null ratio


def test_critical_care_positional_and_fiscal(spark):
    from nhs_data_pipeline_spark.pipelines.critical_care import (
        calendar_year_from_fiscal,
        recompute_occupancy_all_types,
        rename_positional_measures,
    )

    cols = ["month", "year", "org_code", "org_name", "region"] + [f"c{i}" for i in range(10)]
    row = ["February", "2010-11", "RX1", "T", "Y56"] + ["10", "5", "8", "2", "6", "3", "x", "x", "x", "1"]
    df = spark.createDataFrame([tuple(row)], cols)
    df = rename_positional_measures(df, start=5)
    assert "number_of_adult_critical_care_beds_open" in df.columns
    df = calendar_year_from_fiscal(df)
    assert df.first().calendar_year == 2011  # Feb -> end year
    out = recompute_occupancy_all_types(df).first()
    assert out.adult_critical_care_percent_occupied == 0.5
    assert out.paediatric_intensive_care_percent_occupied == 0.25
    assert out.neonatal_critical_care_percent_occupied == 0.5  # 3rd type too


def test_critical_care_dated_column_extraction(spark):
    import datetime

    from nhs_data_pipeline_spark.pipelines.critical_care import (
        split_dated_measure_column,
    )

    df = spark.createDataFrame(
        [("RX1", "T", "12")],
        ["org_id", "name", "open_and_staffed_adult_critical_care_beds_january_2009"],
    )
    out = split_dated_measure_column(df)
    assert "open_and_staffed_beds" in out.columns
    assert out.first().date == datetime.date(2009, 1, 1)


def test_rtt_full_series_composition(spark):
    """The RTT spine end-to-end on a synthetic fixture: era-variant bin
    harmonization -> org-change adjustment (merge OLD->NEW sums bins)
    -> binned-stat recomputation -> pathway prefixing."""
    from nhs_data_pipeline_spark.orgchange import adjust_org_changes
    from nhs_data_pipeline_spark.pipelines.rtt import (
        prefix_measures,
        recompute_binned_stats,
    )
    from nhs_data_pipeline_spark.pipelines.wait_times import harmonize_wait_bins

    rows = [
        # org, period, 0-1wk, 17-18wk, 52-53wk(extra era bins), 52+total
        ("OLD", 200601, 10.0, 10.0, 1.0, 5.0),
        ("NEW", 200601, 0.0, 20.0, 0.0, 5.0),
        ("FREE", 200601, 8.0, 0.0, 0.0, 0.0),
    ]
    df = spark.createDataFrame(
        rows,
        "org_code string, period int, between_0_1 double, between_17_18 double, "
        "between_52_53 double, total_52_plus_weeks double",
    )
    df = harmonize_wait_bins(df)  # drops >=52 sub-bins, renames total
    assert "between_52_53" not in df.columns and "between_52_plus" in df.columns

    lookup = spark.createDataFrame(
        [("OLD", "NEW", 0, 0)],
        ["old_code", "final_code", "experiences_split", "problematic"],
    )
    bins = ["between_0_1", "between_17_18", "between_52_plus"]
    adj = adjust_org_changes(
        df, lookup, keys=["org_code", "period"], sum_cols=bins,
        name_col=None,
    )
    merged = {r.org_code: r for r in adj.collect()}
    assert merged["NEW"].between_17_18 == 30.0  # 10+20 merged
    assert merged["NEW"].between_52_plus == 10.0

    stats = recompute_binned_stats(adj, ["org_code", "period"], bins)
    got = {r.org_code: r for r in stats.collect()}
    # NEW: 50 waits, 40 below 18 -> 80% within; cum 10,40(>=0.5 at bin17) -> median 17.5
    assert got["NEW"].percent_within_18_weeks == 0.8
    assert got["NEW"].median_waiting_time_in_weeks == 17.5
    # FREE: all 8 in bin 0 -> 100% within, median 0.5
    assert got["FREE"].percent_within_18_weeks == 1.0
    assert got["FREE"].median_waiting_time_in_weeks == 0.5

    wide = prefix_measures(stats, "admitted", bins + ["percent_within_18_weeks"])
    assert "admitted_between_0_1" in wide.columns
    assert "admitted_percent_within_18_weeks" in wide.columns
