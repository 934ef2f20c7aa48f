"""Critical-care beds series (monthly).

Era specifics (build_datasets_critical_care_beds.R): month+fiscal-year
from filename (:143-158), Jan-Mar roll to the fiscal end year
(:220-228), positional measure renames for columns 6-15 (:201-205) —
and the reference's loop-with-early-return bug (:239-247, only the
first bed type processed) implemented *correctly* for all three types
(documented divergence, SURVEY §5)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.functions import (
    fiscal_range_to_calendar_year,
    safe_div,
    to_numeric,
)

# positional schema of era-B sheets, columns 6-15 (:201-205)
POSITIONAL_MEASURES = [
    "number_of_adult_critical_care_beds_open",
    "number_of_adult_critical_care_beds_occupied",
    "number_of_paediatric_intensive_care_beds_open",
    "number_of_paediatric_intensive_care_beds_occupied",
    "number_of_neonatal_critical_care_cots_or_beds_open",
    "number_of_neonatal_critical_care_cots_or_beds_occupied",
    "adult_critical_care_percent_occupied",
    "paediatric_intensive_care_percent_occupied",
    "neonatal_critical_care_percent_occupied",
    "number_of_non_medical_critical_care_transfers",
]

BED_TYPES = [
    ("number_of_adult_critical_care_beds", "adult_critical_care"),
    ("number_of_paediatric_intensive_care_beds", "paediatric_intensive_care"),
    ("number_of_neonatal_critical_care_cots_or_beds", "neonatal_critical_care"),
]


def rename_positional_measures(df: DataFrame, start: int = 5) -> DataFrame:
    """Apply the era-B positional measure names to SHEET columns
    ``start``..``start+9`` (0-based; the reference's names(x)[6:15]).

    Positions are counted over the sheet's own columns: the messy
    readers prepend ``_row_idx`` / ``_source_file`` metadata, and
    counting those would land every measure name two columns left of
    its data — so leading underscore-metadata columns are skipped."""
    cols = list(df.columns)
    meta = 0
    while meta < len(cols) and cols[meta].startswith("_"):
        meta += 1
    for i, name in enumerate(POSITIONAL_MEASURES):
        if meta + start + i < len(cols):
            cols[meta + start + i] = name
    return df.toDF(*cols)


def calendar_year_from_fiscal(df: DataFrame, month_col: str = "month",
                              fiscal_col: str = "year") -> DataFrame:
    """"2010-11" fiscal label + month name -> calendar year: Jan-Mar
    belong to the end year (:220-228)."""
    return df.withColumn(
        "calendar_year", fiscal_range_to_calendar_year(fiscal_col, month_col)
    )


def recompute_occupancy_all_types(df: DataFrame) -> DataFrame:
    """Percent occupied per bed type after re-aggregation — ALL three
    types (the reference's early-return bug stopped after the first;
    :239-247, deliberately not replicated)."""
    out = df
    for stem, pct_prefix in BED_TYPES:
        open_c, occ_c = f"{stem}_open", f"{stem}_occupied"
        if open_c in out.columns and occ_c in out.columns:
            out = out.withColumn(
                f"{pct_prefix}_percent_occupied",
                safe_div(to_numeric(occ_c), to_numeric(open_c)),
            )
    return out


MONTHS = [
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december",
]


def split_dated_measure_column(
    df: DataFrame, new_name: str = "open_and_staffed_beds"
) -> DataFrame:
    """Era-A critical care: the measure column's NAME embeds the release
    date ("Open and staffed adult critical care beds — January 2009";
    build_datasets_critical_care_beds.R:74-89 promotes the header then
    pulls the date out of the column name). Renames the dated column to
    ``new_name`` and adds a ``date`` column (first of month).
    """
    import datetime
    import re

    for c in df.columns:
        m = re.search(r"(" + "|".join(MONTHS) + r")_?(\d{4})$", c.lower())
        if m:
            month = MONTHS.index(m.group(1)) + 1
            d = datetime.date(int(m.group(2)), month, 1)
            return df.withColumnRenamed(c, new_name).withColumn("date", F.lit(d))
    raise ValueError("no dated measure column found in schema")
