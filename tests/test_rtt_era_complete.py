"""Era-complete RTT wait-times run: all three era layouts through
harmonization + org-change adjustment + binned-stat recomputation in a
SINGLE pass, with medians checked against exact quantiles.

Mirrors build_datasets_wait_times.R end-to-end on a full-size synthetic
fixture:
- era A (jan07-dec10, :60-155): weekly bins capped at between_52_plus,
  plus an sha column the linker drops (:365-371);
- era B (jan11-mar13, :157-230): same bin extent, region_code junk;
- era C (apr13-today, :232-363): finer bins to between_103_104 plus
  total_52_plus_weeks and extra total_* columns — the R6 harmonization
  variant (:347-363);
- union with fill (:413-415), org-change adjustment summing bins
  (:523-505), stat recomputation from merged bins (:508-536).

The expected medians/percentages are computed INDEPENDENTLY in pure
Python from the same seeded counts: the crossing-bin formula
(lower + 0.5 at the first cumulative share >= 0.5) and, as a
cross-check, the exact median of the fully expanded per-wait sample
(every count expanded to its bin midpoint) — the binned median must
sit within half a bin of the exact quantile by construction.
"""

from __future__ import annotations

import random
import statistics

import pytest
from pyspark.sql import functions as F


BINS_52 = [f"between_{i}_{i + 1}" for i in range(52)]  # 0..51
BINS_104 = [f"between_{i}_{i + 1}" for i in range(104)]  # 0..103

ORGS = ["ORG0", "ORG1", "ORG2", "ORG3", "OLD1", "OLD2", "PROB1"]
ERA_A_PERIODS = [200701, 200807, 201012]
ERA_B_PERIODS = [201101, 201204]
ERA_C_PERIODS = [201304, 201406]


def _counts(rng, n_bins):
    # sparse-ish counts: most bins small, a few heavy — exercises both
    # early and late median crossings
    return [
        float(rng.randint(0, 30)) if rng.random() < 0.7 else 0.0
        for _ in range(n_bins)
    ]


def _fixture(rng):
    """Returns (era_a_rows, era_b_rows, era_c_rows, truth) where truth
    maps (org, period) -> ordered [(bin_lower, count), ...] over the
    HARMONIZED common schema (bins 0..51 + 52+)."""
    truth = {}
    era_a, era_b, era_c = [], [], []
    for period in ERA_A_PERIODS:
        for org in ORGS:
            c = _counts(rng, 53)  # 52 weekly + 52_plus
            era_a.append((org, f"{org} NAME", "Q30", period, *c))
            truth[(org, period)] = c
    for period in ERA_B_PERIODS:
        for org in ORGS:
            c = _counts(rng, 53)
            era_b.append((org, f"{org} NAME", "Y56", period, *c))
            truth[(org, period)] = c
    for period in ERA_C_PERIODS:
        for org in ORGS:
            fine = _counts(rng, 104)  # 0..103 weekly
            tot_52_plus = float(sum(fine[52:])) + 3.0  # +3: true 104+ tail
            era_c.append(
                (org, f"{org} NAME", period, *fine, tot_52_plus,
                 tot_52_plus - sum(fine[62:]), 3.0)
            )
            truth[(org, period)] = fine[:52] + [tot_52_plus]
    return era_a, era_b, era_c, truth


def _expected_stats(counts):
    """Independent recompute: (pct_within_18, crossing median,
    exact median of the expanded sample). counts[i] is bin i (lower
    bound i weeks); counts[52] is the 52+ bin."""
    lowers = list(range(52)) + [52]
    total = sum(counts)
    if total == 0:
        return None, None, None
    pct18 = sum(c for lo, c in zip(lowers, counts) if lo < 18) / total
    cum = 0.0
    median = None
    for lo, c in zip(lowers, counts):
        cum += c
        if median is None and cum / total >= 0.5:
            median = lo + 0.5
    expanded = []
    for lo, c in zip(lowers, counts):
        expanded.extend([lo + 0.5] * int(c))
    exact = statistics.median(expanded)
    return pct18, median, exact


@pytest.fixture(scope="module")
def adjusted(spark):
    from nhs_data_pipeline_spark.orgchange import adjust_org_changes
    from nhs_data_pipeline_spark.ops.core import union_by_name
    from nhs_data_pipeline_spark.pipelines.rtt import recompute_binned_stats
    from nhs_data_pipeline_spark.pipelines.wait_times import (
        harmonize_wait_bins,
    )

    rng = random.Random(7)
    era_a, era_b, era_c, truth = _fixture(rng)

    a = spark.createDataFrame(
        era_a,
        ["org_code", "org_name", "sha", "period"]
        + BINS_52
        + ["between_52_plus"],
    )
    b = spark.createDataFrame(
        era_b,
        ["org_code", "org_name", "region_code", "period"]
        + BINS_52
        + ["between_52_plus"],
    )
    c = spark.createDataFrame(
        era_c,
        ["org_code", "org_name", "period"]
        + BINS_104
        + ["total_52_plus_weeks", "total_62_plus_weeks",
           "total_104_plus_weeks"],
    )

    # era readers: R6 harmonization + junk-column drop (:347-371)
    frames = []
    for df in (a, b, c):
        h = harmonize_wait_bins(df)
        junk = [x for x in h.columns
                if x in ("sha", "region_code") or x.startswith("total_")]
        frames.append(h.drop(*junk))
    # era C must have converged on the common 53-bin schema
    assert sorted(frames[2].columns) == sorted(frames[0].columns)

    # link the eras (:413-415) — union by name with fill
    panel = union_by_name(frames)

    lookup = spark.createDataFrame(
        [("OLD1", "NEWX", 0, 0), ("OLD2", "NEWX", 0, 0),
         ("PROB1", "PROBX", 0, 1)],
        ["old_code", "final_code", "experiences_split", "problematic"],
    )
    bins = BINS_52 + ["between_52_plus"]
    adj = adjust_org_changes(
        panel, lookup, keys=["org_code", "period"], sum_cols=bins,
        name_col="org_name",
    )
    stats = recompute_binned_stats(adj, ["org_code", "period"], bins)
    rows = {(r["org_code"], r["period"]): r for r in stats.collect()}
    return rows, truth


def test_all_orgs_and_periods_present(adjusted):
    rows, truth = adjusted
    periods = ERA_A_PERIODS + ERA_B_PERIODS + ERA_C_PERIODS
    # OLD1/OLD2 merged into NEWX; PROB1 flagged but kept under its code
    for p in periods:
        for org in ["ORG0", "ORG1", "ORG2", "ORG3", "NEWX", "PROB1"]:
            assert (org, p) in rows, (org, p)
        assert ("OLD1", p) not in rows and ("OLD2", p) not in rows


def test_merged_bins_are_sums(adjusted):
    rows, truth = adjusted
    for p in ERA_A_PERIODS + ERA_B_PERIODS + ERA_C_PERIODS:
        want = [
            x + y
            for x, y in zip(truth[("OLD1", p)], truth[("OLD2", p)])
        ]
        row = rows[("NEWX", p)]
        got = [row[c] for c in BINS_52] + [row["between_52_plus"]]
        assert got == pytest.approx(want), p


def test_medians_match_exact_quantiles_everywhere(adjusted):
    rows, truth = adjusted
    checked = 0
    for p in ERA_A_PERIODS + ERA_B_PERIODS + ERA_C_PERIODS:
        merged = {
            "NEWX": [
                x + y
                for x, y in zip(truth[("OLD1", p)], truth[("OLD2", p)])
            ]
        }
        for org in ["ORG0", "ORG1", "ORG2", "ORG3", "PROB1"]:
            merged[org] = truth[(org, p)]
        for org, counts in merged.items():
            pct18, crossing, exact = _expected_stats(counts)
            row = rows[(org, p)]
            if pct18 is None:
                assert row["percent_within_18_weeks"] is None
                assert row["median_waiting_time_in_weeks"] is None
                continue
            assert row["percent_within_18_weeks"] == pytest.approx(pct18)
            # the engine median IS the crossing-bin formula...
            assert row["median_waiting_time_in_weeks"] == pytest.approx(
                crossing
            ), (org, p)
            # ...and sits within half a bin of the exact quantile of the
            # expanded sample (integer counts at bin midpoints)
            assert abs(row["median_waiting_time_in_weeks"] - exact) <= 0.5, (
                org, p, crossing, exact,
            )
            checked += 1
    assert checked >= 40  # every org x period actually exercised
