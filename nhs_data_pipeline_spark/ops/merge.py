"""Warehouse maintenance operators: batch MERGE (upsert) and
slowly-changing-dimension type-2 history.

The reference's panels are rebuilt from scratch every release; at
100 TB a pipeline instead maintains its canonical store incrementally:

- ``merge_upsert``: MERGE INTO semantics (matched -> update, not
  matched by target -> insert, optional matched-and-condition ->
  delete) as one full-outer join on the key. Without a transactional
  table format the result is written via partition overwrite
  (io/writers.py:overwrite_partitions) or full swap; the operator
  itself is format-agnostic and returns the merged frame plus a
  per-row action tag for auditing.
- ``scd2_from_feed``: collapse an ordered change feed into type-2
  validity intervals (valid_from / valid_to / is_current) — the
  dimension-history shape every as-of join (ops/temporal.py) consumes.

Scale: the merge join shuffles on the merge key (or broadcasts a
small delta — pass ``broadcast_source=True``); SCD2 is one window
pass per key partition, carrying only key + tracked attributes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    delete_condition: Column | None = None,
    broadcast_source: bool = False,
    action_col: str | None = None,
) -> DataFrame:
    """MERGE ``source`` into ``target`` on ``keys``.

    - matched: the source row replaces the target row entirely
      (all non-key columns take source values, including NULLs);
    - not matched (source only): insert;
    - target only: carry over unchanged;
    - ``delete_condition`` (evaluated on the merged row): matched rows
      satisfying it are dropped — MERGE's WHEN MATCHED THEN DELETE.

    Columns = union of both schemas (missing side contributes NULL).
    ``action_col`` (optional) appends 'updated'/'inserted'/'carried'
    for audit counts. One full-outer shuffle join on the key; pass
    ``broadcast_source=True`` when the delta is lookup-sized — Spark
    cannot broadcast a full-outer side, so the matched/unmatched split
    is done as broadcast left + broadcast anti instead.
    """
    non_keys = [c for c in target.columns if c not in keys] + [
        c for c in source.columns if c not in keys and c not in target.columns
    ]
    s = source.withColumn("__s_present", F.lit(True))
    t = target.withColumn("__t_present", F.lit(True))

    def _pick(c: str) -> Column:
        sc = F.col(f"__s.{c}") if c in source.columns else F.lit(None)
        tc = F.col(f"__t.{c}") if c in target.columns else F.lit(None)
        return F.when(F.col("__s_present").isNotNull(), sc).otherwise(tc).alias(c)

    if broadcast_source:
        # Key comparisons are null-safe to match the full-outer path
        # exactly — a plain == would split NULL-key matches into a
        # carried row + an inserted row, silently diverging between
        # the two (supposedly equivalent) physical strategies.
        sb = F.broadcast(s.alias("__s"))
        matched_or_new = t.alias("__t").join(
            sb,
            [F.col(f"__t.{k}").eqNullSafe(F.col(f"__s.{k}")) for k in keys],
            "left",
        ).select(
            *[F.col(f"__t.{k}").alias(k) for k in keys],
            *[_pick(c) for c in non_keys],
            F.col("__s_present"),
            F.col("__t_present"),
        )
        # Inserts = source rows with no target match. Broadcasting the
        # TARGET key set would ship the (huge) target everywhere;
        # instead derive the matched source keys (<= |source|, always
        # broadcastable) with one more broadcast-source pass over the
        # target's pruned key columns, and anti-join against those.
        matched_keys = (
            t.select(*keys)
            .alias("__t")
            .join(
                F.broadcast(s.select(*keys).alias("__s")),
                [F.col(f"__t.{k}").eqNullSafe(F.col(f"__s.{k}")) for k in keys],
                "inner",
            )
            .select(*[F.col(f"__s.{k}").alias(k) for k in keys])
            .distinct()
        )
        inserts = s.alias("__s").join(
            F.broadcast(matched_keys).alias("__t"),
            [F.col(f"__s.{k}").eqNullSafe(F.col(f"__t.{k}")) for k in keys],
            "left_anti",
        ).select(
            *[F.col(k) for k in keys],
            *[
                (F.col(c) if c in source.columns else F.lit(None)).alias(c)
                for c in non_keys
            ],
            F.col("__s_present"),
            F.lit(None).cast("boolean").alias("__t_present"),
        )
        merged = matched_or_new.unionByName(inserts)
    else:
        merged = (
            t.alias("__t")
            .join(
                s.alias("__s"),
                [F.col(f"__t.{k}").eqNullSafe(F.col(f"__s.{k}")) for k in keys],
                "full_outer",
            )
            .select(
                *[
                    F.coalesce(F.col(f"__t.{k}"), F.col(f"__s.{k}")).alias(k)
                    for k in keys
                ],
                *[_pick(c) for c in non_keys],
                F.col("__s_present"),
                F.col("__t_present"),
            )
        )
    action = (
        F.when(
            F.col("__s_present").isNotNull() & F.col("__t_present").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("__s_present").isNotNull(), F.lit("inserted"))
        .otherwise(F.lit("carried"))
    )
    if delete_condition is not None:
        merged = merged.filter(
            ~(
                F.col("__s_present").isNotNull()
                & F.col("__t_present").isNotNull()
                & delete_condition
            )
        )
    out_cols = keys + non_keys
    if action_col is not None:
        return merged.select(*out_cols, action.alias(action_col))
    return merged.select(*out_cols)


def incremental_agg_merge(
    base_agg: DataFrame,
    changes: DataFrame,
    keys: list[str],
    count_col: str = "n_rows",
    sum_cols: dict[str, str] | None = None,
    op_col: str = "__op",
) -> DataFrame:
    """Incremental maintenance of a (count, sums) aggregate table
    under a CDC change feed — the 100 TB alternative to rebuilding the
    aggregate from the corpus on every release: only the delta is
    scanned, the base table merges by key.

    ``base_agg`` carries ``(*keys, count_col, *sum_cols.keys())``;
    ``changes`` carries ``(*keys, op_col, *sum_cols.values())`` with
    ``op_col`` = +1 (insert) / -1 (delete); an update is a -1/+1 pair.
    Additive measures merge exactly: the delta aggregate is
    ``sum(op)`` / ``sum(op * value)`` per key, the merge is ONE
    full-outer NULL-safe join of the base with the key-granular delta
    (both sides aggregate-sized, shuffled on the key — a full outer
    cannot broadcast), and groups whose merged count reaches zero drop
    — exactly what a fresh GROUP BY of the post-change corpus yields,
    which is what the registry oracle proves cross-engine.

    All measures are exact integers and must be NON-NULL (the caller
    quantizes and filters): SQL's SUM is NULL for an all-NULL group
    while this merge's coalesced addition would say 0 — with NULL
    measures admitted, the incremental result could diverge from a
    fresh GROUP BY exactly when the driver regenerates data with an
    all-NULL group. NULL keys are legal groups (eqNullSafe
    join, coalesced key columns)."""
    if not keys:
        raise ValueError(
            "incremental_agg_merge: keys must be non-empty (a keyless "
            "global aggregate has no merge identity; pre-aggregate to "
            "one row with a constant key instead)"
        )
    sum_cols = sum_cols or {}
    delta = changes.groupBy(*keys).agg(
        F.sum(F.col(op_col)).cast("bigint").alias("__dn"),
        *[
            F.sum(F.col(op_col) * F.col(src)).cast("bigint").alias(f"__d_{dst}")
            for dst, src in sum_cols.items()
        ],
    )
    r = delta
    for k in keys:
        r = r.withColumnRenamed(k, f"__r_{k}")
    cond = F.col(keys[0]).eqNullSafe(F.col(f"__r_{keys[0]}"))
    for k in keys[1:]:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__r_{k}"))
    merged = base_agg.join(r, cond, "full")
    out_keys = [
        F.coalesce(F.col(k), F.col(f"__r_{k}")).alias(k) for k in keys
    ]
    n = (
        F.coalesce(F.col(count_col), F.lit(0))
        + F.coalesce(F.col("__dn"), F.lit(0))
    ).cast("bigint")
    sums = [
        (
            F.coalesce(F.col(dst), F.lit(0))
            + F.coalesce(F.col(f"__d_{dst}"), F.lit(0))
        )
        .cast("bigint")
        .alias(dst)
        for dst in sum_cols
    ]
    return (
        merged.select(*out_keys, n.alias(count_col), *sums)
        .filter(F.col(count_col) > 0)
    )


def scd2_from_feed(
    feed: DataFrame,
    keys: list[str],
    attr_cols: list[str],
    ts_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Type-2 dimension history from an ordered change feed: one row
    per run of equal tracked attributes, with ``valid_from`` (the run's
    first timestamp), ``valid_to`` (the next run's start, NULL while
    current) and ``is_current``.

    Change detection is null-safe (a NULL attribute differing from a
    value is a change; NULL == NULL is not), via struct ``eqNullSafe``
    against the lag row — the first row per key always opens a run.
    ``tiebreak`` columns make the feed order total when timestamps tie
    (always pass one for feeds with same-timestamp updates).

    One window pass over ``partitionBy(keys)`` for change detection
    and one more (same partitioning — no second shuffle) for the
    interval close; the shuffle carries keys + tracked attrs only.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    changed = feed.withColumn(
        "__chg", ~attrs.eqNullSafe(F.lag(attrs).over(w))
    ).filter(F.col("__chg"))
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return (
        changed.withColumn("valid_to", F.lead(F.col(ts_col)).over(w2))
        .select(
            *keys,
            *attr_cols,
            F.col(ts_col).alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )
