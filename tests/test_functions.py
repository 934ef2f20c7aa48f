"""Scalar function library tests."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from nhs_data_pipeline_spark import functions as nf


def _one(spark, col, value=None, typ="string"):
    df = spark.createDataFrame([(value,)], f"v {typ}")
    return df.select(col.alias("out")).first().out


def test_clean_sentinels(spark):
    for tok in ["-", "", "NULL", ".", "NA", "n/a", "  - "]:
        assert _one(spark, nf.clean_sentinels(F.col("v")), tok) is None
    assert _one(spark, nf.clean_sentinels(F.col("v")), "RX1") == "RX1"


def test_to_numeric(spark):
    assert _one(spark, nf.to_numeric(F.col("v")), "12.5") == 12.5
    assert _one(spark, nf.to_numeric(F.col("v")), "1,234") == 1234.0
    assert _one(spark, nf.to_numeric(F.col("v")), "garbage") is None
    assert _one(spark, nf.to_numeric(F.col("v")), "-") is None


def test_to_numeric_nulls_every_sentinel(spark):
    """No sentinel pass runs first: every NA token, padded or not, must
    still fail the cast to NULL, while real numbers parse."""
    padded = [" NA ", "\tNA", " - ", "\u00a0NA", "NA\u00a0", " n/a", "* "]
    cases = [(t, None) for t in nf.NA_TOKENS + padded] + [
        (None, None), ("1,234", 1234.0), (" 12 ", 12.0),
    ]
    df = spark.createDataFrame(cases, "v string, want double")
    got = df.select("v", "want", nf.to_numeric("v").alias("got")).collect()
    assert [(r.v, r.got) for r in got] == [(r.v, r.want) for r in got]


def test_safe_div(spark):
    df = spark.createDataFrame([(1.0, 0.0), (6.0, 3.0), (1.0, None)], ["n", "d"])
    out = [r.q for r in df.select(nf.safe_div("n", "d").alias("q")).collect()]
    assert out == [None, 2.0, None]


def test_fiscal_quarter_mapping(spark):
    df = spark.createDataFrame([(m,) for m in range(1, 13)], ["m"])
    got = {r.m: r.q for r in df.select("m", nf.fiscal_quarter_from_month("m").alias("q")).collect()}
    assert got == {1: "Q4", 2: "Q4", 3: "Q4", 4: "Q1", 5: "Q1", 6: "Q1",
                   7: "Q2", 8: "Q2", 9: "Q2", 10: "Q3", 11: "Q3", 12: "Q3"}


def test_fiscal_year_label_and_start(spark):
    df = spark.createDataFrame(
        [(datetime.date(2020, 3, 31),), (datetime.date(2020, 4, 1),)], ["d"]
    )
    rows = df.select(
        nf.fiscal_year_start("d").alias("s"), nf.fiscal_year_label("d").alias("l")
    ).collect()
    assert (rows[0].s, rows[0].l) == (2019, "2019-20")
    assert (rows[1].s, rows[1].l) == (2020, "2020-21")


def test_fiscal_label_century_wrap(spark):
    df = spark.createDataFrame([(datetime.date(1999, 6, 1),)], ["d"])
    assert df.select(nf.fiscal_year_label("d").alias("l")).first().l == "1999-00"


def test_fiscal_range_to_calendar_year(spark):
    df = spark.createDataFrame(
        [("2019-20", "June"), ("2019-20", "March")], ["yr", "p"]
    )
    out = [r.y for r in df.select(nf.fiscal_range_to_calendar_year("yr", "p").alias("y")).collect()]
    assert out == [2019, 2020]


def test_parse_month_year_formats(spark):
    for raw, expect in [
        ("January 2007", datetime.date(2007, 1, 1)),
        ("Jan 2007", datetime.date(2007, 1, 1)),
        ("Mar13", datetime.date(2013, 3, 1)),
        ("not a date", None),
    ]:
        assert _one(spark, nf.parse_month_year(F.col("v")), raw) == expect


def test_filename_metadata_extractors(spark):
    fname = "Beds_Open_Overnight_Quarter_3_2019-20_admitted.xls"
    assert _one(spark, nf.extract_year(F.col("v")), fname) == 2019
    assert _one(spark, nf.extract_quarter(F.col("v")), fname) == "Q3"
    assert _one(spark, nf.extract_pathway(F.col("v")), fname) == "admitted"
    assert _one(spark, nf.extract_pathway(F.col("v")), "RTT_nonadmitted_Mar13.xls") == "non_admitted"
    assert _one(spark, nf.extract_year(F.col("v")), "no_year_here.csv") is None


def test_bin_lower_bound(spark):
    assert _one(spark, nf.bin_lower_bound(F.col("v")), "between_17_18") == 17.0
    assert _one(spark, nf.bin_lower_bound(F.col("v")), "between_52_plus") == 52.0
    assert _one(spark, nf.bin_lower_bound(F.col("v")), "total") is None


def test_fiscal_range_junk_yields_null(spark):
    from nhs_data_pipeline_spark.functions import fiscal_range_to_calendar_year

    df = spark.createDataFrame(
        [("2019-20", "June"), ("all", "June"), ("Source: NHS England", "March")],
        "yr string, p string",
    )
    got = [
        r[0]
        for r in df.select(fiscal_range_to_calendar_year("yr", "p")).collect()
    ]
    assert got[0] == 2019
    assert got[1] is None and got[2] is None
