"""Generic declarative series-pipeline runner.

The reference builds each data series (supporting facilities, beds,
critical care, RTT) with an imperative, partly *interactive* script —
file pickers, rename prompts (scripts/build_datasets_general.py).
Here every series is a ``SeriesConfig``: file globs + per-era schema
treatment + rename/coalesce/filter rules + adjustment spec, executed by
one generic runner as one Spark plan over a single ingest transfer,
materialised once. SURVEY §7 step 6.

The minimum end-to-end slice (supporting-facilities shape) exercises:
messy ingest (S5-S8), header detection (P10/R3), clean_names (R4),
rename maps (R5), column coalescing (J2), junk-row filters (P6/P7),
union-by-name (U1), numeric coercion (F12/F11), sort + CSV sink (O1/S9),
and the org-change adjustment composite (§2.10).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.functions import to_numeric
from nhs_data_pipeline_spark.io.readers import filename_metadata, read_messy_csv
from nhs_data_pipeline_spark.ops.core import coalesce_exprs
from nhs_data_pipeline_spark.orgchange.adjust import adjust_org_changes


@dataclass
class SeriesConfig:
    """Everything the reference asked interactively, as data."""

    name: str
    files: Sequence[str]                                  # raw file paths (S4 discovery output)
    marker: str | None = None                             # header-in-data marker (P10)
    skip: int = 0                                         # fixed preamble rows (S5)
    skip_markers: Sequence[str] = ()                      # drop whole file if seen (P12)
    rename: dict[str, str] = field(default_factory=dict)  # era-variant renames (R5)
    coalesce: dict[str, Sequence[str]] = field(default_factory=dict)  # J2
    numeric_cols: Sequence[str] = ()                      # coerce to double (F12)
    drop_name_values: Sequence[str] = ()                  # junk org rows (P7)
    require_cols: Sequence[str] = ()                      # not-null filter (P6)
    keys: Sequence[str] = ("org_code", "period")  # CONTRACT: (org, period, ...rest)
    sum_cols: Sequence[str] = ()
    org_lookup: DataFrame | None = None                   # org-change lookup (§2.10)
    name_col: str | None = "org_name"


def run_series(spark: SparkSession, cfg: SeriesConfig) -> DataFrame:
    """Execute a series pipeline: messy ingest of every file -> harmonize
    -> clean -> (optional) org-change adjust. Per-file work runs on the
    driver (small raw files, SURVEY §4) and every file reaches Spark in
    one transfer. Harmonize and clean are composed as Column expressions
    over the ingest frame and applied as one ``filter`` and one
    ``select``, so the JVM analyses one clean stage, not a Dataset per
    step. Returns the panel materialised by an eager ``localCheckpoint``:
    each sink (the caller's choice) scans the computed rows, not the
    plan again.
    """
    panel = read_messy_csv(
        spark, cfg.files, skip=cfg.skip, marker=cfg.marker, skip_markers=cfg.skip_markers
    )
    if panel is None:  # P12: every file matched the exclusion predicate
        raise ValueError(f"series {cfg.name}: every input file was skipped")
    exprs = {c: F.col(c) for c in panel.columns} | filename_metadata()
    # Era-variant renames; columns landing on one name merge left to
    # right, as a per-file rename then union by name would.
    targets: dict[str, list[Column]] = {}
    for c, e in exprs.items():
        targets.setdefault(cfg.rename.get(c, c), []).append(e)
    exprs = coalesce_exprs(
        {t: es[0] if len(es) == 1 else F.coalesce(*es) for t, es in targets.items()},
        cfg.coalesce,
    )
    missing = [c for c in cfg.require_cols if c not in exprs]
    if missing:
        raise ValueError(f"series {cfg.name}: required columns {missing} not found")
    # Row filters test the harmonized values before numeric coercion.
    keep = [exprs[c].isNotNull() for c in cfg.require_cols]
    if cfg.drop_name_values and cfg.name_col in exprs:
        # NULL-name rows are KEPT: R's !(x %in% drop) keeps NA, while a
        # bare ~isin() is NULL for NULL input and filter() would
        # silently drop every row whose name cell was a sentinel.
        nc = exprs[cfg.name_col]
        keep.append(nc.isNull() | ~nc.isin(list(cfg.drop_name_values)))
    for c in cfg.numeric_cols:
        if c in exprs:
            exprs[c] = to_numeric(exprs[c])
    if keep:
        panel = panel.filter(reduce(Column.__and__, keep))
    panel = panel.select(*[e.alias(n) for n, e in exprs.items()])
    if cfg.org_lookup is not None:
        panel = adjust_org_changes(
            panel,
            cfg.org_lookup,
            keys=list(cfg.keys),
            sum_cols=list(cfg.sum_cols),
            name_col=cfg.name_col,
        )
    return panel.localCheckpoint()
