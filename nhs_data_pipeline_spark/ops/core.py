"""Relational core operators.

The SURVEY §2 operator inventory re-expressed as composable, lazy
DataFrame transforms. Design rules:

- Native ``pyspark.sql.functions`` only — no Python UDFs — so every op
  stays inside Tungsten whole-stage codegen and scales to 100 TB.
- Ops that need row order (marker slice, fills) take explicit ordering
  columns; Spark has no implicit row order after a shuffle.
- Small-side joins are broadcast by the caller (or by AQE); helpers take
  a ``broadcast_right`` flag for lookup-shaped right sides.

Reference parity citations (into /root/reference/) are on each function.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Sequence

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


# ---------------------------------------------------------------------------
# Projections / column selection (P1, P2, P3)
# ---------------------------------------------------------------------------

def select_by_pattern(df: DataFrame, pattern: str, negate: bool = False) -> DataFrame:
    """Keep columns whose name matches ``pattern`` (regex, search semantics).

    P2 — dplyr ``select(contains(...))`` / negated selects
    (build_datasets_wait_times.R:366-371, build_datasets_overnight_day_beds.R:112-137).
    """
    rx = re.compile(pattern)
    cols = [c for c in df.columns if bool(rx.search(c)) != negate]
    return df.select(*cols)


def drop_all_null_columns(df: DataFrame) -> DataFrame:
    """Drop columns that are entirely NULL, in one aggregate pass.

    P3 — ``select(where(~!all(is.na(.))))``
    (build_datasets_critical_care_beds.R:170-174).
    """
    counts = df.agg(*[F.count(c).alias(c) for c in df.columns]).first()
    keep = [c for c in df.columns if counts[c] > 0]
    return df.select(*keep)


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Bulk rename, skipping absent columns.

    R5 — ``setnames(..., skip_absent=TRUE)``
    (build_datasets_wait_times.R:139-172). Pure metadata op.
    """
    return df.toDF(*[mapping.get(c, c) for c in df.columns])


def clean_names(df: DataFrame) -> DataFrame:
    """janitor-style ``make_clean_names`` on the schema (R4;
    build_datasets_wait_times.R:136, build_datasets_overnight_day_beds.R:69-71).

    Rules reproduced: lower-case; non-alphanumeric runs -> ``_``; trim
    ``_``; ``x``-prefix names starting with a digit; empty -> ``x``;
    duplicated names get a 1-based positional suffix (the readxl
    ``total...5`` -> janitor ``total_5`` behavior seen in
    build_datasets_overnight_day_beds.R:89-94).
    """
    return df.toDF(*dedupe_positional([clean_name(c) for c in df.columns]))


def dedupe_positional(names: list[str]) -> list[str]:
    """Janitor-style positional dedupe: duplicated names get a 1-based
    position suffix. Repeats until unique — one pass can itself create
    a collision (['total','total','total_2'] -> two 'total_2's), which
    would make the frame unselectable (AMBIGUOUS_REFERENCE). Converges
    because positions are unique. Shared by clean_names and the messy
    readers' header promotion."""
    out = list(names)
    for _ in range(len(out)):
        dupes = {n for n in out if out.count(n) > 1}
        if not dupes:
            break
        out = [
            f"{n}_{i + 1}" if n in dupes else n for i, n in enumerate(out)
        ]
    return out


def clean_name(name: str) -> str:
    """Single-name janitor ``make_clean_names`` rules."""
    n = name.strip().lower()
    n = re.sub(r"%", " percent ", n)
    n = re.sub(r"[^a-z0-9]+", "_", n).strip("_")
    if not n:
        return "x"
    if n[0].isdigit():
        n = "x" + n
    return n


# ---------------------------------------------------------------------------
# Row filters / slices (P10, P11, P14)
# ---------------------------------------------------------------------------

def filter_rows_from_marker(
    df: DataFrame, marker: str, row_idx: str = "_row_idx", drop_marker_row: bool = False
) -> DataFrame:
    """Keep rows at/after the first row containing ``marker`` (case-
    insensitive, any column). Requires a stable per-file row index
    (``_row_idx`` added at ingest) — Spark rows have no implicit order.

    P10 — ``filter_rows(df, marker)`` (scripts/build_datasets_main.py:94-119).
    """
    str_cols = [c for c in df.columns if c != row_idx]
    has_marker = reduce(
        lambda a, b: a | b,
        [F.lower(F.col(c).cast("string")).contains(marker.lower()) for c in str_cols],
    )
    first_idx = df.filter(has_marker).agg(F.min(row_idx)).first()[0]
    if first_idx is None:
        return df
    start = first_idx + 1 if drop_marker_row else first_idx
    return df.filter(F.col(row_idx) >= start)


def slice_rows(df: DataFrame, start: int, row_idx: str = "_row_idx") -> DataFrame:
    """Positional row slice ``df.iloc[start:]`` via the ingest row index.

    P11 — scripts/build_datasets_general.py:60-73.
    """
    return df.filter(F.col(row_idx) >= start)


def first_per_group(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """One row per group: the first under ``order_by`` (deterministic —
    callers must order by a unique tiebreaker).

    P14 — ``group_by(org_code) |> slice(1)`` (build_datasets_wait_times.R:449-453).
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def last_per_group(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """One row per group: the last under ``order_by`` (``slice_tail(n=1)``,
    build_datasets_overnight_day_beds.R:454-458)."""
    rev = [F.col(c).desc() if isinstance(c, str) else c.desc() for c in order_by]
    return first_per_group(df, keys, rev)


# ---------------------------------------------------------------------------
# Joins (J1, J2)
# ---------------------------------------------------------------------------

def natural_join(
    left: DataFrame,
    right: DataFrame,
    how: str = "left",
    broadcast_right: bool = False,
) -> DataFrame:
    """Join on all common column names — the reference's only join
    primitive (J1, ``plyr::join`` default; build_datasets_wait_times.R:309,482).

    Keys are computed explicitly so the plan is reviewable; lookup-shaped
    right sides should pass ``broadcast_right=True`` (the reference's
    697-row trust lookup must never shuffle the fact side).
    """
    keys = [c for c in left.columns if c in set(right.columns)]
    if not keys:
        raise ValueError("natural_join: no common columns")
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=keys, how=how)


def coalesce_columns(df: DataFrame, mapping: dict[str, Sequence[str]]) -> DataFrame:
    """Merge era-variant parallel columns into one via left-to-right
    coalesce, dropping the merged sources:
    ``{'org_code': ['OrgID', 'Organisation Code']}``.

    J2 — pandas ``combine_first`` chain, ``consolidate_columns``
    (scripts/build_datasets_main.py:165-196). A pure projection in Spark:
    one ``select`` of ``coalesce_exprs``.
    """
    exprs = coalesce_exprs({c: F.col(c) for c in df.columns}, mapping)
    return df.select(*[e.alias(n) for n, e in exprs.items()])


def coalesce_exprs(
    exprs: dict[str, Column], mapping: dict[str, Sequence[str]]
) -> dict[str, Column]:
    """``coalesce_columns`` over an ordered ``{name: expression}``
    projection: each target becomes the left-to-right coalesce of its
    present sources, which are dropped; a target that already exists
    keeps its position, a new one goes last."""
    out = dict(exprs)
    for new, olds in mapping.items():
        present = [c for c in olds if c in out]
        if not present:
            continue
        out[new] = F.coalesce(*[out[c] for c in present])
        for c in present:
            if c != new:
                del out[c]
    return out


# ---------------------------------------------------------------------------
# Set ops (U1, U2)
# ---------------------------------------------------------------------------

def union_by_name(dfs: Sequence[DataFrame]) -> DataFrame:
    """Union a list of frames by column name, NULL-filling missing columns.

    U1 — ``rbindlist(fill=TRUE)`` / ``pd.concat`` — the reference's
    workhorse (~20 sites, e.g. build_datasets_wait_times.R:413-414).
    """
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs)


# ---------------------------------------------------------------------------
# Aggregations (A1, A3, A4)
# ---------------------------------------------------------------------------

def grouped_sum_na_preserving(
    df: DataFrame, keys: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """Group-by sum where an all-NULL group yields NULL, not 0.

    A1 — ``summarise(across(..., ~ifelse(all(is.na(.)), NA, sum(., na.rm=TRUE))))``
    (build_datasets_wait_times.R:503-505). Spark's ``sum`` already has
    exactly these semantics (ignores NULLs, NULL on empty/all-NULL input),
    so this is a single hash aggregate with map-side partials — no UDF.
    """
    return df.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sum_cols])


def grouped_max_over(df: DataFrame, keys: Sequence[str], col: str, out: str) -> DataFrame:
    """Group max broadcast back onto every row (A3 —
    ``mutate(change_date = max(date))``, build_datasets_wait_times.R:489-491)."""
    return df.withColumn(out, F.max(col).over(Window.partitionBy(*keys)))


def grouped_any_flag(df: DataFrame, keys: Sequence[str], cond: Column, out: str) -> DataFrame:
    """Group-level existential flag on every row: 1 if any row in the
    group satisfies ``cond`` (A4 — ``ifelse(any(flag == 1), 1, 0)``,
    build_datasets_overnight_day_beds.R:554-555)."""
    return df.withColumn(
        out, F.max(F.when(cond, 1).otherwise(0)).over(Window.partitionBy(*keys))
    )


# ---------------------------------------------------------------------------
# Windows (W1, W3)
# ---------------------------------------------------------------------------

def cumulative_sum(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    col: str,
    out: str,
) -> DataFrame:
    """Running sum per group under an explicit ordering (W1 — ``cumsum``,
    build_datasets_wait_times.R:508-513)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out, F.sum(col).over(w))


def fill_directional(
    df: DataFrame,
    cols: Sequence[str],
    keys: Sequence[str],
    order_by: Sequence[Column | str],
    direction: str = "down",
) -> DataFrame:
    """Directional NULL fill within groups: "down" (carry last non-null
    forward), "up" (carry next non-null backward), or "updown".

    W3 — tidyr ``fill(.direction=...)`` (build_datasets_wait_times.R:518-529).
    The reference relies on prior ``arrange`` calls for order; Spark makes
    the ordering explicit in the window spec.
    """
    out = df
    if direction in ("down", "updown", "downup"):
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        for c in cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    if direction in ("up", "updown", "downup"):
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order_by)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        for c in cols:
            out = out.withColumn(c, F.first(c, ignorenulls=True).over(w))
    return out


# ---------------------------------------------------------------------------
# Reshape (R1)
# ---------------------------------------------------------------------------

def unpivot(
    df: DataFrame,
    ids: Sequence[str],
    values: Sequence[str],
    var_name: str = "name",
    value_name: str = "value",
) -> DataFrame:
    """Wide -> long unpivot (R1 — ``pivot_longer(cols=contains("between"))``,
    build_datasets_wait_times.R:508-511). Uses the native ``unpivot``
    operator (Spark >= 3.4) — one generate, no shuffle."""
    return df.unpivot(list(ids), list(values), var_name, value_name)


def drop_positional(df: DataFrame, positions: Sequence[int]) -> DataFrame:
    """Drop columns by 0-based position (P4 — ``x[, -4]`` dropping the
    SHA column, build_datasets_overnight_day_beds.R:355-357). Positions
    resolve against the current schema at plan-build time."""
    drop = {p if p >= 0 else len(df.columns) + p for p in positions}
    return df.select(*[c for i, c in enumerate(df.columns) if i not in drop])


def reorder_columns(df: DataFrame, first: Sequence[str]) -> DataFrame:
    """Move the named columns to the front, preserving the relative
    order of the rest (P5 — year/quarter-first reorder,
    scripts/build_datasets_main.py:53-55). Pure projection."""
    rest = [c for c in df.columns if c not in set(first)]
    return df.select(*first, *rest)


# ---------------------------------------------------------------------------
# Driver-built frames
# ---------------------------------------------------------------------------

def local_frame(spark: SparkSession, rows: Sequence[tuple], schema: StructType) -> DataFrame:
    """A small frame from row tuples computed on the driver, shipped as
    one Arrow table. The plan leaf is a ``LocalTableScan``; a
    ``createDataFrame`` from a list pickles an RDD instead, whose scan
    runs Python worker processes. ``schema`` is kept as given,
    nullability included."""
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
