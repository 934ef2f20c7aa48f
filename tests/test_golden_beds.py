"""Reference-data validation of the overnight/day beds panels.

The reference commits the CLEANED beds panels but not their raw
inputs, so a raw->clean replay is impossible; these tests instead run
the engine's beds-pipeline helpers (pipelines/beds.py, functions.py)
over the committed golden rows and assert the semantics agree:

- era column sets (annual 2000-10 vs quarterly 2010-24 layouts);
- fiscal quarter mapping: period-end month -> Q1..Q4
  (build_datasets_overnight_day_beds.R:377-382);
- fiscal-range -> calendar-year mapping round-trips on every real row
  (build_datasets_overnight_day_beds.R:384-403);
- occupancy ratio direction occupied/available, recomputed after
  aggregation (build_datasets_overnight_day_beds.R:528-539) — including
  the DOCUMENTED divergence: the golden's year-2000 rows carry the
  reference's inverted available/occupied ratio
  (build_datasets_overnight_day_beds.R:152-156; SURVEY §5), which the
  engine deliberately does NOT replicate;
- quarterly change-date arithmetic yq()+months(3)
  (build_datasets_overnight_day_beds.R:505-517) on the panel's real
  (year, quarter) pairs.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

REF = "/root/reference/data/available-and-occupied-beds"
ANNUAL = f"{REF}/overnight_day_beds_2000_10_clean.csv"
QUARTERLY = f"{REF}/overnight_day_beds_2010_24_clean.csv"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(ANNUAL) and os.path.exists(QUARTERLY)),
    reason="reference data checkout not available",
)


def _read(spark, path):
    # literal "NA" strings in the reference CSVs are missing values
    return (
        spark.read.option("header", True)
        .option("nullValue", "NA")
        .option("inferSchema", True)
        .csv(path)
    )


BED_GROUPS = [
    "total", "general_acute", "mental_illness", "learn_disabil", "maternity"
]


class TestEraColumnSets:
    def test_annual_era_layout(self, spark):
        cols = set(_read(spark, ANNUAL).columns)
        # annual era: no quarterly columns
        assert "period_end" not in cols and "quarter" not in cols
        assert {"year", "org_code", "org_name"} <= cols
        for g in BED_GROUPS:
            assert f"{g}_on_beds_available" in cols, g
            assert f"{g}_on_beds_occupied" in cols, g
            assert f"{g}_on_beds_percent_occupied" in cols, g
        # day beds exist only as availability in the annual era
        assert "total_day_beds_available" in cols
        assert "total_day_beds_occupied" not in cols

    def test_quarterly_era_layout(self, spark):
        cols = set(_read(spark, QUARTERLY).columns)
        assert {"year", "period_end", "quarter", "org_code", "org_name"} <= cols
        for g in BED_GROUPS:
            for part in ("on_beds", "day_beds"):
                assert f"{g}_{part}_available" in cols, (g, part)
                assert f"{g}_{part}_occupied" in cols, (g, part)
                assert f"{g}_{part}_percent_occupied" in cols, (g, part)


class TestQuarterAndYearMapping:
    def test_fiscal_quarter_matches_golden_on_every_row(self, spark):
        from nhs_data_pipeline_spark.functions import fiscal_quarter_from_month
        from nhs_data_pipeline_spark.pipelines.beds import MONTH_NUM

        df = _read(spark, QUARTERLY)
        month_num = F.element_at(
            F.create_map(
                *[x for k, v in MONTH_NUM.items() for x in (F.lit(k), F.lit(v))]
            ),
            F.lower(F.col("period_end")),
        )
        got = df.withColumn("__q", fiscal_quarter_from_month(month_num))
        bad = got.filter(
            ~F.col("__q").eqNullSafe(F.col("quarter"))
        ).count()
        assert bad == 0 and df.count() == 12564

    def test_calendar_year_roundtrip_on_every_row(self, spark):
        """The golden's year column is CALENDAR year (Q4/March rows roll
        into the fiscal end year). Reconstruct each row's fiscal range
        label and assert fiscal_range_to_calendar_year maps it back."""
        from nhs_data_pipeline_spark.functions import (
            fiscal_range_to_calendar_year,
        )

        df = _read(spark, QUARTERLY)
        fiscal_start = F.when(
            F.col("quarter") == "Q4", F.col("year") - 1
        ).otherwise(F.col("year"))
        fiscal_range = F.concat(
            fiscal_start.cast("string"),
            F.lit("-"),
            F.lpad(((fiscal_start + 1) % 100).cast("string"), 2, "0"),
        )
        got = df.withColumn(
            "__y", fiscal_range_to_calendar_year(fiscal_range, F.col("period_end"))
        )
        assert got.filter(F.col("__y") != F.col("year")).count() == 0


class TestOccupancyDirection:
    def test_quarterly_golden_is_occupied_over_available(self, spark):
        from nhs_data_pipeline_spark.pipelines.beds import with_occupancy

        df = _read(spark, QUARTERLY)
        got = with_occupancy(
            df, "total_on_beds_occupied", "total_on_beds_available", "__pct"
        )
        mismatch = got.filter(
            (F.col("total_on_beds_available") > 0)
            & (
                F.abs(F.col("__pct") - F.col("total_on_beds_percent_occupied"))
                > 1e-9
            )
        ).count()
        assert mismatch == 0
        # zero available beds: the golden carries NULL (or a raw
        # upstream-published 0.0 on two 2023-Q1 rows the clean script
        # never recomputed); it never fabricates a nonzero ratio, and
        # the engine yields NULL
        zero_rows = got.filter(F.col("total_on_beds_available") == 0)
        assert (
            zero_rows.filter(F.col("total_on_beds_percent_occupied") != 0)
            .count()
            == 0
        )
        assert zero_rows.filter(F.col("__pct").isNotNull()).count() == 0

    def test_annual_golden_year_2000_is_inverted_documented_divergence(
        self, spark
    ):
        """SURVEY §5: the reference's first annual release computes
        available/occupied (build_datasets_overnight_day_beds.R:152-156).
        The golden's year-2000 rows all carry the inverted ratio; every
        later year is direct. The engine computes occupied/available
        everywhere — assert both the footprint and the divergence."""
        from nhs_data_pipeline_spark.pipelines.beds import with_occupancy

        df = _read(spark, ANNUAL)
        got = with_occupancy(
            df, "total_on_beds_occupied", "total_on_beds_available", "__pct"
        ).withColumn(
            "__inv",
            F.when(
                F.col("total_on_beds_occupied") > 0,
                F.col("total_on_beds_available")
                / F.col("total_on_beds_occupied"),
            ),
        )
        y2000 = got.filter(F.col("year") == 2000)
        # golden 2000 == inverted formula on every row...
        assert (
            y2000.filter(
                F.abs(
                    F.col("__inv") - F.col("total_on_beds_percent_occupied")
                )
                > 1e-9
            ).count()
            == 0
        )
        # ...and the engine's direct ratio deliberately diverges there
        assert (
            y2000.filter(
                F.abs(F.col("__pct") - F.col("total_on_beds_percent_occupied"))
                <= 1e-9
            ).count()
            == 0
        )
        # later years: direct ratio matches the golden (org-level rows;
        # the one national-total row with a NULL org_code was rounded
        # differently upstream and is excluded)
        later = got.filter(
            (F.col("year") > 2000)
            & F.col("org_code").isNotNull()
            & (F.col("total_on_beds_available") > 0)
        )
        assert (
            later.filter(
                F.abs(F.col("__pct") - F.col("total_on_beds_percent_occupied"))
                > 1e-9
            ).count()
            == 0
        )


class TestChangeDateArithmetic:
    def test_yq_plus_quarter_on_real_panel_pairs(self, spark):
        """yq(paste0(year, quarter)) + months(3), then re-extract
        (year, quarter) (build_datasets_overnight_day_beds.R:505-517):
        the first period under a new org arrangement is one calendar
        quarter after the change period, with Q4 rolling the year."""
        pairs = (
            _read(spark, QUARTERLY).select("year", "quarter").distinct()
        )
        qnum = F.substring("quarter", 2, 1).cast("int")
        start = F.make_date(F.col("year").cast("int"), (qnum - 1) * 3 + 1, F.lit(1))
        nxt = pairs.withColumn(
            "__d",
            F.add_months(start, 3),
        ).select(
            "year",
            "quarter",
            F.year("__d").alias("next_year"),
            F.concat(F.lit("Q"), F.quarter("__d").cast("string")).alias("next_quarter"),
        )
        for r in nxt.collect():
            q = int(r["quarter"][1])
            want_q = q % 4 + 1
            want_y = r["year"] + (1 if q == 4 else 0)
            assert (r["next_year"], r["next_quarter"]) == (
                want_y,
                f"Q{want_q}",
            ), r
