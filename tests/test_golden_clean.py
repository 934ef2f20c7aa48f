"""Golden replay #3: rebuild the reference's supporting-facilities
*clean* panel from its committed raw append with the engine's own
cleaning step, ``clean_supporting_facilities`` (column consolidation J2
+ junk-row filters), matching the committed
``supporting-facilities_clean.csv`` (scripts/build_datasets_main.py:
305-386) exactly.

Semantics note: the committed clean CSV contains zero 'NA' sentinel
strings, i.e. it was produced with sentinel-as-missing semantics (the
committed script's literal string comparisons disagree with its own
committed output by 27 'England total' pseudo-org rows). The engine's
convention — sentinels become SQL NULL at the ingest edge — reproduces
the committed output bit-for-bit.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

REF = "/root/reference/data/supporting-facilities"
RAW = f"{REF}/supporting-facilities.csv"
GOLDEN = f"{REF}/supporting-facilities_clean.csv"

pytestmark = pytest.mark.skipif(
    not (os.path.exists(RAW) and os.path.exists(GOLDEN)),
    reason="reference data checkout not available",
)

OUT_COLS = [
    "year_var", "quarter_var", "SHA", "organisation_code",
    "organisation_name", "area_team_code", "area_team_name",
    "region_code", "region_name", "nr_operating_theatres",
    "nr_day_case_theatres",
]


def test_supporting_facilities_clean_replay(spark):
    from nhs_data_pipeline_spark.io.readers import read_messy_csv
    from nhs_data_pipeline_spark.pipelines.supporting_facilities import (
        clean_supporting_facilities,
    )

    # sentinel 'NA' strings -> NULL (engine ingest convention; matches
    # the committed clean output)
    df = clean_supporting_facilities(
        read_messy_csv(spark, RAW, header=0, na_tokens=["NA", ""])
    )
    got = sorted(
        tuple("" if r[c] is None else r[c] for c in OUT_COLS)
        for r in df.select(*OUT_COLS).collect()
    )

    g = pd.read_csv(GOLDEN, dtype=str, keep_default_na=False)
    exp = sorted(tuple(t) for t in g[OUT_COLS].itertuples(index=False, name=None))
    assert len(got) == len(exp), f"rows: engine={len(got)} golden={len(exp)}"
    mismatches = [(a, b) for a, b in zip(got, exp) if a != b]
    assert not mismatches, f"first mismatches: {mismatches[:5]}"
