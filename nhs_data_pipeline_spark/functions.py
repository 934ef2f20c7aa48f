"""Scalar function library.

Column-expression helpers covering the reference's scalar surface
(SURVEY §2.8): NHS fiscal-calendar mapping, month-year date parsing,
null-sentinel conventions, safe division, numeric coercion, and
filename-metadata regexes. Everything here returns native Catalyst
``Column`` expressions — no Python UDFs — so the hot path stays inside
whole-stage codegen at any scale.

Reference parity citations (into /root/reference/):
- fiscal quarter/year: scripts/available-and-occupied-beds/
  build_datasets_overnight_day_beds.R:364-403,
  scripts/critical-care-beds/build_datasets_critical_care_beds.R:220-228,
  scripts/build_datasets_main.py:79-86
- month-year parsing ("January 2007", "Jan07", "2019Q1"):
  scripts/wait-times/build_datasets_wait_times.R:92,239,
  build_datasets_overnight_day_beds.R:513
- null sentinels ('-', '', 'NULL', '.', 'NA', ...):
  scripts/build_datasets_main.py:100-104,
  build_datasets_critical_care_beds.R:52
- numeric coercion with NA on failure:
  build_datasets_wait_times.R:200-202
- percent = occupied/available with 0-denominator -> NA:
  build_datasets_overnight_day_beds.R:528-539
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# The reference's full missing-token list (scripts/build_datasets_main.py:100-104
# plus read_excel(na=...) sites). The engine converts these to real nulls at
# the ingest edge; everything downstream sees only SQL NULL.
NA_TOKENS = [
    "-", "", " ", "NULL", "null", ".", "..", "N/A", "n/a", "NA", "na",
    "Not applicable", "not applicable", "Not available", "not available",
    "*", "—",
]


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def clean_sentinels(c: Column | str, tokens: list[str] | None = None) -> Column:
    """Map the reference's missing-value sentinel strings to NULL.

    (F11; scripts/build_datasets_main.py:100-104.)
    """
    c = _col(c)
    toks = NA_TOKENS if tokens is None else tokens
    return F.when(F.trim(c).isin([t.strip() for t in toks]), F.lit(None)).otherwise(c)


def to_numeric(c: Column | str) -> Column:
    """String -> double with NULL on failure (R ``as.numeric`` coercion
    semantics, build_datasets_wait_times.R:200-202).
    Commas-as-thousands-separators are stripped ("1,234" -> 1234).
    ``try_cast`` already yields NULL for every ``NA_TOKENS`` entry,
    padded or not, so no sentinel pass runs first: its 17-literal
    ``isin`` costs ~90 py4j round trips per column.
    """
    return F.regexp_replace(_col(c).cast("string"), ",", "").try_cast("double")


def safe_div(num: Column | str, den: Column | str) -> Column:
    """num/den with NULL (not Inf/NaN) when den is 0 or NULL.

    (F13; build_datasets_overnight_day_beds.R:528-539 — percent occupied.)
    """
    num, den = _col(num), _col(den)
    return F.when(den.isNull() | (den == 0), F.lit(None)).otherwise(num / den)


# ---------------------------------------------------------------------------
# NHS fiscal calendar (F9)
# ---------------------------------------------------------------------------

def fiscal_quarter_from_month(month: Column | str) -> Column:
    """Calendar month number -> NHS fiscal quarter label.

    NHS fiscal year runs April-March: Apr-Jun=Q1, Jul-Sep=Q2, Oct-Dec=Q3,
    Jan-Mar=Q4. The reference keys off period-end months June/September/
    December/March (build_datasets_overnight_day_beds.R:377-382).
    """
    m = _col(month)
    return (
        F.when(m.between(4, 6), "Q1")
        .when(m.between(7, 9), "Q2")
        .when(m.between(10, 12), "Q3")
        .when(m.between(1, 3), "Q4")
    )


def fiscal_year_start(ts: Column | str) -> Column:
    """Timestamp/date -> fiscal start year (int): Jan-Mar belong to the
    *previous* April's fiscal year (build_datasets_critical_care_beds.R:222-228).
    """
    t = _col(ts)
    return F.when(F.month(t) <= 3, F.year(t) - 1).otherwise(F.year(t))


def fiscal_year_label(ts: Column | str) -> Column:
    """Timestamp/date -> "2019-20"-style NHS fiscal year label."""
    start = fiscal_year_start(ts)
    return F.concat(
        start.cast("string"),
        F.lit("-"),
        F.format_string("%02d", (start + 1) % 100),
    )


def fiscal_range_to_calendar_year(year_range: Column | str, period: Column | str) -> Column:
    """("2019-20", period-end month name) -> calendar year of the period.

    Q4 periods (Jan-Mar month names) belong to the end year, everything
    else to the start year (build_datasets_overnight_day_beds.R:384-403).
    """
    yr, p = _col(year_range), _col(period)
    # try_cast: messy-sheet survivors ('all', footnote rows) must yield
    # NULL, not an ANSI CAST_INVALID_INPUT that aborts the whole job.
    start = F.substring(yr, 1, 4).try_cast("int")
    is_q4 = F.lower(p).isin("january", "february", "march")
    return F.when(is_q4, start + 1).otherwise(start)


# ---------------------------------------------------------------------------
# Date parsing (F7) — lubridate my()/ymd()/yq() equivalents
# ---------------------------------------------------------------------------

def parse_month_year(c: Column | str) -> Column:
    """Parse "January 2007" / "Jan07" / "Jan 2007" -> first-of-month Date.

    (lubridate ``my()``; build_datasets_wait_times.R:92,239.)
    """
    s = F.trim(_col(c))
    return F.coalesce(
        F.try_to_timestamp(s, F.lit("MMMM yyyy")).cast("date"),
        F.try_to_timestamp(s, F.lit("MMM yyyy")).cast("date"),
        F.try_to_timestamp(s, F.lit("MMMyy")).cast("date"),
        F.try_to_timestamp(s, F.lit("MMMM-yyyy")).cast("date"),
    )


# ---------------------------------------------------------------------------
# Filename metadata (S8)
# ---------------------------------------------------------------------------

YEAR_PATTERN = r"(19[5-9]\d|20[0-2]\d)"          # scripts/build_datasets_main.py:67
QUARTER_PATTERN = r"(?:Quarter[_\s]*|Q)(\d)"     # scripts/build_datasets_main.py:90
MONTH_YEAR_PATTERN = r"([A-Z][a-z]{2}\d{2})"     # build_datasets_wait_times.R:239
FISCAL_RANGE_PATTERN = r"(\d{4}-\d{2})"          # build_datasets_wait_times.R:321
PATHWAY_PATTERN = r"(?i)(non[-_ ]?admitted|admitted|incomplete)"


def extract_year(c: Column | str) -> Column:
    """Extract a 1950-2029 year from a filename/string; NULL if absent."""
    y = F.regexp_extract(_col(c), YEAR_PATTERN, 1)
    return F.when(y == "", None).otherwise(y.cast("int"))


def extract_quarter(c: Column | str) -> Column:
    """Extract "Q<n>" from "Quarter_3"/"Q3"-style substrings; NULL if absent."""
    q = F.regexp_extract(_col(c), QUARTER_PATTERN, 1)
    return F.when(q == "", None).otherwise(F.concat(F.lit("Q"), q))


def extract_pathway(c: Column | str) -> Column:
    """RTT pathway from filename: admitted | non_admitted | incomplete
    (build_datasets_wait_times.R:48-51)."""
    p = F.lower(F.regexp_extract(_col(c), PATHWAY_PATTERN, 1))
    return F.when(p == "", None).otherwise(
        F.regexp_replace(F.regexp_replace(p, r"[-_ ]", "_"), "^nonadmitted$", "non_admitted")
    )


def bin_lower_bound(name: Column | str) -> Column:
    """Wait-bin column name -> numeric lower bound: "between_17_18" -> 17.

    The reference uses a lookbehind ``(?<=_)[0-9]+`` (build_datasets_
    wait_times.R:528); Spark's regexp_extract takes a capture group instead.
    """
    b = F.regexp_extract(_col(name), r"_(\d+)", 1)
    return F.when(b == "", None).otherwise(b.cast("double"))
