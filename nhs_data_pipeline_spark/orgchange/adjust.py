"""The org-change adjustment composite transformer (SURVEY §2.10).

``adjust_org_changes`` re-keys a long panel ``(org_code, period, ...)``
onto post-merger successor codes and re-aggregates, reproducing the
reference's crown-jewel macro-operator
(scripts/wait-times/build_datasets_wait_times.R:433-549 and its inlined
clones in the beds / critical-care / supporting-facilities builders).

Semantics, in the reference's order:

1.  Snapshot ``org_code -> org_name`` (first name seen per code).
2.  Flag rows of *problematic* trusts (lookup ``problematic=1``) —
    these are marked but never adjusted.
3.  Split the panel into affected / unaffected by lookup membership.
4.  Left-join the (broadcast) lookup ``old_code -> final_code``.
5.  Change indicator: the LAST period the adjusted old codes report
    (``max(period)`` per final_code — the oracle and golden replay pin
    exactly this; the supporting-facilities pipeline separately rolls
    its quarterly dates forward, see pipelines/supporting_facilities).
6.  Recode ``org_code := coalesce(final_code, org_code)``.
7.  Re-aggregate the synthetic merged trust: group-by panel keys with
    NA-preserving sums (Spark ``sum`` is already NULL-on-all-NULL).
8.  Union adjusted + untouched partitions.
9.  Re-attach names; derive ``unproblematic_org_change`` /
    ``exp_unproblematic_org_change`` flags.

The whole transformer is one lazy DAG with one broadcast join and one
shuffle. One projection over the broadcast lookup join recodes every
row. The panel is then hash-partitioned on the output org code, which
serves both the re-aggregation (its keys include the org code) and the
per-org window that attaches the name, the change period and the group
flag, so neither needs an exchange of its own.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def adjust_org_changes(
    df: DataFrame,
    lookup: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    name_col: str | None = "org_name",
) -> DataFrame:
    """Apply org-change adjustment to a long panel.

    Parameters
    ----------
    df : panel with the key columns and measure columns.
    lookup : ``(old_code, final_code, experiences_split, problematic)`` —
        lookup-sized; always broadcast.
    keys : full re-aggregation key set, ``(org_col, period_col, ...)``:
        the first key is the org code, the second the period. Fewer
        than two keys raise ``ValueError``.
    sum_cols : measure columns re-aggregated by NA-preserving sum.
        Ratio columns don't sum; callers recompute them afterwards.

    Precondition: the lookup is transitively closed, so a final code is
    never itself recoded; ``successor_closure`` lookups are, as a final
    code is a terminal or a stop code that keeps its own rows. The name
    of an output org is read from the rows that already carried its
    code, so under a hand-built chain (``A -> X`` and ``X -> Y``, both
    adjustable) group ``X`` holds only A's rows and its name is NULL.
    """
    # A differently-ordered key tuple would silently no-op the
    # adjustment (the lookup join would never match), so fail loudly
    # on an obvious breach.
    if len(keys) < 2:
        raise ValueError(
            "org-change adjustment needs keys = (org_col, period_col, ...);"
            f" got {list(keys)!r}"
        )
    org_col, period_col = keys[0], keys[1]
    # Only the columns the adjustment reads: carrying extras (e.g.
    # experiences_split) risks AMBIGUOUS_REFERENCE when the panel
    # already has a same-named column.
    lkp = F.broadcast(
        lookup.select(
            F.col("old_code"),
            F.col("final_code"),
            F.col("problematic"),
        )
    )

    # 2-4. membership flags. A single broadcast left join replaces the
    # reference's physical semi/anti split (J4) — the "partition" is a
    # column predicate, so Catalyst keeps one scan of the fact table.
    joined = df.join(lkp, df[org_col] == lkp["old_code"], "left")
    adjustable = F.col("final_code").isNotNull() & (
        F.coalesce(F.col("problematic"), F.lit(0)) == 0
    )
    # 6. recode + mark, in one projection.
    org = F.when(adjustable, F.col("final_code")).otherwise(F.col(org_col))
    named = name_col is not None and name_col in df.columns
    recoded = joined.select(
        *[org.alias(k) if k == org_col else F.col(k) for k in keys],
        *sum_cols,
        F.when(F.col("problematic") == 1, 1).otherwise(0).alias("exp_problematic_org_change"),
        F.when(adjustable, 1).otherwise(0).alias("unproblematic_org_change"),
        # 5. change indicator: the periods the adjusted old codes report.
        F.when(adjustable, F.col(period_col)).alias("__change"),
        # 1. name snapshot (P14): the first (period, name) of the rows
        # that already carried the output code. min() of a struct
        # orders NULLs first, like the reference's ascending sort, and
        # the name breaks period ties, so the pick is deterministic.
        *([F.when(F.col(org_col) == org, F.struct(period_col, name_col)).alias("__name")]
          if named else []),
    )

    # 7. re-aggregate NA-preserving sums over the full key set; the
    # change flags ride along via max() so merged groups stay flagged.
    # The exchange on the org code alone also serves the window below.
    aggregated = recoded.repartition(org_col).groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.max("exp_problematic_org_change").alias("exp_problematic_org_change"),
        F.max("unproblematic_org_change").alias("unproblematic_org_change"),
        F.max("__change").alias("__change"),
        *([F.min("__name").alias("__name")] if named else []),
    )

    # 9. per-org name, change period and group flag. The org code leads
    # when a name is attached; that column order is part of the output.
    w = Window.partitionBy(org_col)
    lead = [org_col] if named else []
    return aggregated.select(
        *lead,
        *[c for c in aggregated.columns if c not in (*lead, "__change", "__name")],
        *([F.min("__name").over(w)[name_col].alias(name_col)] if named else []),
        F.max("__change").over(w).alias("change_period"),
        F.max("unproblematic_org_change").over(w).alias("exp_unproblematic_org_change"),
    )
