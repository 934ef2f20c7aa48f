"""Temporal joins: as-of (point-in-time) and banded range joins.

The reference pipeline is quarterly-batch and has no temporal join
operators; these are the time-series shapes an event / training-data
pipeline needs (additive surface — SURVEY §2.11).

Both operators avoid the trap Spark falls into when you write the
semantics naively: a join with an inequality condition (and no usable
equi-key reduction) executes as a nested-loop per key, which is
quadratic in the hottest key's row count. Instead:

- ``asof_join`` is ONE hash-partition shuffle + per-key sort: both
  sides are unioned, ordered by time, and each right row's payload is
  carried forward to later left rows with ``last(ignorenulls)`` over a
  running window — the merge-scan plan a time-series engine would pick.
- ``range_join_binned`` turns the range predicate into an equi-join on
  (keys, time-bin) with bin width = the range width: every left row
  reaches at most 2 bins, hot keys are split across time bins so no
  single reducer sees a key's whole history, and the exact range
  predicate filters after the equi-join. (This is the same rewrite as
  Databricks' range-join hint; OSS Catalyst doesn't do it itself.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _keys(on: str | list[str]) -> list[str]:
    return [on] if isinstance(on, str) else list(on)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
    prefix: str = "r_",
) -> DataFrame:
    """Backward as-of join: for every left row, attach the right row
    with the greatest ``right_ts`` <= ``left_ts`` within the same
    ``on`` keys — pandas ``merge_asof`` / DuckDB ``ASOF JOIN``
    semantics (exact timestamp matches allowed; unmatched left rows
    keep nulls, i.e. left-join semantics).

    Output: every left column, plus ``prefix + c`` for each right
    value column and ``prefix + right_ts`` for the matched timestamp.

    The right row's payload travels as ONE struct so all attached
    columns always come from the SAME right row (per-column
    last(ignorenulls) would mix rows when right values contain nulls).

    Determinism: if right holds several rows at the same (keys, ts)
    the survivor is tie-broken by the struct's natural ordering;
    pre-aggregate right to one row per (keys, ts) when that matters.

    ``tolerance_seconds`` nulls the attachment when the match is older
    than ``left_ts - tolerance`` (merge_asof's ``tolerance``).
    """
    keys = _keys(on)
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in set(keys) | {right_ts}]

    payload = F.struct(
        F.col(right_ts).alias("__mts"), *[F.col(c).alias(c) for c in value_cols]
    )
    r = right.select(
        *keys,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
    )
    l = left.select("*", F.col(left_ts).alias("__ts"), F.lit(1).alias("__side"))
    combined = l.unionByName(r, allowMissingColumns=True)

    # right rows (__side 0) sort before left rows at equal ts, so exact
    # matches attach; the frame ends at the current row
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side", "__payload")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = combined.withColumn("__m", F.last("__payload", ignorenulls=True).over(w))

    m = F.col("__m")
    if tolerance_seconds is not None:
        in_tol = m["__mts"] >= F.col("__ts") - F.expr(
            f"INTERVAL {int(tolerance_seconds)} SECONDS"
        )
        filled = filled.withColumn("__m", F.when(in_tol, m))
    out_cols = [c for c in left.columns] + [
        m["__mts"].alias(prefix + right_ts),
        *[m[c].alias(prefix + c) for c in value_cols],
    ]
    return filled.filter(F.col("__side") == 1).select(*out_cols)


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    upper_seconds: int = 900,
    prefix: str = "r_",
) -> DataFrame:
    """Inner range join: all pairs with equal ``on`` keys and
    ``right_ts`` in ``[left_ts, left_ts + upper_seconds]``.

    Output: every left column plus ``prefix + c`` for every non-key
    right column.

    Plan shape: both sides get a time bin of width ``upper_seconds``
    (floored epoch seconds); each left row explodes to the two bins
    its window can touch; the join is a plain shuffle hash join on
    (keys, bin); the exact range predicate filters after. Each
    (left, right) pair meets in exactly one bin, so no distinct is
    needed. Bin width = range width keeps the fan-out at 2 regardless
    of data density.
    """
    keys = _keys(on)
    rv = [c for c in right.columns if c not in set(keys)]
    w = int(upper_seconds)

    r = right.select(*keys, *[F.col(c).alias(prefix + c) for c in rv]).withColumn(
        "__bin", F.floor(F.unix_timestamp(F.col(prefix + right_ts)) / w)
    )
    l = (
        left.withColumn("__b0", F.floor(F.unix_timestamp(F.col(left_ts)) / w))
        .withColumn("__bin", F.explode(F.array(F.col("__b0"), F.col("__b0") + 1)))
        .drop("__b0")
    )
    rts = F.col(prefix + right_ts)
    return (
        l.join(r, keys + ["__bin"])
        .filter(
            (rts >= F.col(left_ts))
            & (rts <= F.col(left_ts) + F.expr(f"INTERVAL {w} SECONDS"))
        )
        .drop("__bin")
    )


def rolling_time_agg(
    df: DataFrame,
    keys: str | list[str],
    ts_col: str,
    aggs: dict[str, "F.Column"],
    window_seconds: int,
) -> DataFrame:
    """Time-range rolling aggregates: for every row, aggregate all rows
    of the same key whose timestamp lies in
    ``[ts - window_seconds, ts]`` (inclusive both ends — the SQL
    ``RANGE BETWEEN ... PRECEDING AND CURRENT ROW`` contract, so
    same-timestamp peers are always included together and no tiebreak
    order is needed).

    ``aggs`` maps output names to aggregate Columns (built on input
    columns). Implemented as a native RANGE window over integer epoch
    seconds — one shuffle on the key, a per-partition sort, and a
    sliding frame scan; nothing quadratic in ties, nothing collected.
    At 100 TB the frame state per key is bounded by the window span,
    and the partitionBy keys are high-cardinality entities.
    """
    ks = _keys(keys)
    w = (
        Window.partitionBy(*ks)
        .orderBy(F.unix_timestamp(F.col(ts_col)).cast("long"))
        .rangeBetween(-window_seconds, 0)
    )
    out = df
    for name, agg in aggs.items():
        out = out.withColumn(name, agg.over(w))
    return out


def time_weighted_avg(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: list[str] | None = None,
) -> DataFrame:
    """Per-group LOCF time-weighted average of an irregularly-sampled
    series (TimescaleDB's ``time_weight('LOCF', ...)`` semantics):
    each observation's value holds until the NEXT observation, so

        TWA = sum_i value_i * (t_{i+1} - t_i)  /  (t_last - t_first)

    — the honest mean of a signal sampled at uneven intervals, where a
    plain AVG over-weights bursts. Returns ``(*group_cols, n_events,
    span_micros, twa)``; groups with fewer than two timestamped
    observations have no duration and yield NULL twa (span 0).

    Cross-engine exactness: values quantize to integer MILLIONTHS
    immediately (one portable floor-round), durations are exact
    ``unix_micros`` integers, and the weighted sum is a DECIMAL(38,0)
    integer-product sum — order-free, partitioning-independent. One
    double division at the end + the shared floor-round.

    Scale shape: one ``partitionBy(group)`` window for ``lead`` (state
    = one row) and one group-keyed aggregate — a group's rows shuffle
    to one partition, which is the contract of per-entity series (an
    entity's history fits; entities are many). NULL ts or value rows
    are excluded up front (LOCF across a NULL observation would
    fabricate a hold interval the engine never saw). ``order_tiebreak``
    columns break equal-timestamp ties into a total order."""
    tie = order_tiebreak or []
    base = df.filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        *group_cols,
        F.unix_micros(F.col(ts_col)).alias("__tus"),
        F.floor(
            F.col(value_col).cast("double") * F.lit(1000000.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("__vmic"),
        *[F.col(c) for c in tie],
    )
    w = Window.partitionBy(*group_cols).orderBy(
        "__tus", *[F.col(c) for c in tie]
    )
    dec = "decimal(38,0)"
    stepped = base.withColumn("__next", F.lead("__tus").over(w)).withColumn(
        "__dur", F.col("__next") - F.col("__tus")
    )
    out = stepped.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.coalesce(F.sum("__dur"), F.lit(0)).cast("bigint").alias(
            "span_micros"
        ),
        F.sum(F.col("__vmic").cast(dec) * F.col("__dur").cast(dec)).alias(
            "__s"
        ),
    )
    twa = F.floor(
        F.col("__s").cast("double")
        / (F.col("span_micros").cast("double") * F.lit(1000000.0))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return out.select(
        *group_cols,
        "n_events",
        "span_micros",
        F.when(F.col("span_micros") > 0, twa).alias("twa"),
    )


def cusum_changepoint(
    df: DataFrame,
    group_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Single change-point detection per group over a daily-resampled
    series, via the classic CUSUM statistic: with daily totals x_i and
    series mean m, ``CUSUM_t = sum_{i<=t} (x_i - m)`` peaks (in
    absolute value) at the most likely level-shift day. Returns
    ``(*group_cols, n_days, change_day, max_cusum)``; ties in |CUSUM|
    break to the EARLIEST day.

    Exactness: the mean is never materialized as a float — every
    comparison runs on the n-scaled integer ``S_t = n * P_t - t * T``
    (P_t = prefix sum of micro-quantized daily totals, T = series
    total), in DECIMAL(38,0): argmax and tie-breaks are pure integer
    decisions, and only the reported ``max_cusum = |S|/(n * 1e6)`` is
    one double division + the portable floor-round.

    Scale: the daily resample is one (group, day) map-side-combined
    aggregate; every window after it runs on the MODEL-SIZED daily
    table (days per group), partitioned by group — never over raw
    events."""
    D = "decimal(38,0)"
    day = F.date_trunc("day", F.col(ts_col))
    vmic = F.floor(
        F.col(value_col).cast("double") * F.lit(1000000.0) + F.lit(0.5)
    ).cast("bigint")
    daily = (
        df.filter(F.col(ts_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(*group_cols, day.alias("__day"))
        .agg(F.sum(vmic).cast("bigint").alias("__x"))
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("__day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(*group_cols)
    scored = (
        daily.withColumn("__p", F.sum("__x").over(wcum).cast(D))
        .withColumn("__t", F.count("*").over(wcum).cast(D))
        .withColumn("__tt", F.sum("__x").over(wall).cast(D))
        .withColumn("__nd", F.count("*").over(wall).cast(D))
        .withColumn(
            "__s",
            F.col("__nd") * F.col("__p") - F.col("__t") * F.col("__tt"),
        )
        .withColumn("__abs", F.abs(F.col("__s")))
    )
    pick = Window.partitionBy(*group_cols).orderBy(
        F.desc("__abs"), F.asc("__day")
    )
    best = scored.withColumn("__rk", F.row_number().over(pick)).filter(
        F.col("__rk") == 1
    )
    mc = F.floor(
        F.col("__abs").cast("double")
        / (F.col("__nd").cast("double") * F.lit(1000000.0))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return best.select(
        *group_cols,
        F.col("__nd").cast("bigint").alias("n_days"),
        F.col("__day").alias("change_day"),
        mc.alias("max_cusum"),
    )


def calendar_spine(
    df: DataFrame,
    keys: str | list[str],
    period_col: str,
    step: str = "1 hour",
) -> DataFrame:
    """Dense (key x period) spine covering the GLOBAL period range of
    ``df``: every key gets every period from min to max, whether or not
    it has data — the prerequisite for gap-filling a panel (the
    reference's quarterly panels assume a dense spine; A6 resampling
    builds one implicitly).

    The min/max bounds are a tiny aggregate carried in on a broadcast
    cross join; ``sequence()`` explodes driver-free, so the spine is
    built distributed (|keys| x |periods| rows, never materialized on
    the driver). Returns (keys..., period_col)."""
    ks = _keys(keys)
    bounds = df.agg(
        F.min(period_col).alias("__lo"), F.max(period_col).alias("__hi")
    )
    key_rows = df.select(*ks).distinct()
    return (
        key_rows.crossJoin(F.broadcast(bounds))
        .select(
            *ks,
            F.explode(
                F.sequence("__lo", "__hi", F.expr(f"INTERVAL {step}"))
            ).alias(period_col),
        )
    )


def interpolate_linear(
    spine: DataFrame,
    observed: DataFrame,
    keys: str | list[str],
    period_col: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Linear interpolation of ``observed`` onto a dense ``spine``:
    joins observations to the spine, then fills each gap with the
    straight line between its bracketing observations (endpoints
    outside the observed range stay NULL — extrapolation is a policy,
    not a default).

    Two window passes over the same (key, period-ordered) partitioning
    — carry the previous/next known (period, value) pair with
    ``last/first(ignorenulls)``, then one arithmetic expression. The
    shuffle carries (keys, period, value); interpolation math is
    epoch-proportional, engine-portable double arithmetic."""
    ks = _keys(keys)
    out_col = out_col or value_col
    j = spine.join(observed.select(*ks, period_col, value_col), [*ks, period_col], "left")
    e = F.unix_timestamp(F.col(period_col)).cast("long")
    known = F.when(F.col(value_col).isNotNull(), F.struct(e.alias("t"), F.col(value_col).alias("v")))
    wb = (
        Window.partitionBy(*ks)
        .orderBy(e)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*ks)
        .orderBy(e)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev = F.last(known, ignorenulls=True).over(wb)
    nxt = F.first(known, ignorenulls=True).over(wf)
    filled = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(
            prev.isNotNull() & nxt.isNotNull() & (nxt["t"] != prev["t"]),
            prev["v"]
            + (nxt["v"] - prev["v"])
            * ((e - prev["t"]).cast("double") / (nxt["t"] - prev["t"]).cast("double")),
        )
        .otherwise(F.lit(None))
    )
    return j.select(*ks, period_col, filled.alias(out_col))


def ewma(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Exponentially-weighted moving average per group, in order-col
    order: ``ewma_0 = x_0``, ``ewma_t = a*x_t + (1-a)*ewma_{t-1}``.
    Returns every input point with its smoothed value appended —
    ``(*group_cols, order_col, value_col, ewma)``.

    EWMA is inherently a sequential recurrence, so the group's series
    folds left in one array pass (ONE aggregation, the whole
    trajectory from a single array-accumulator ``aggregate`` — no
    O(n^2) prefix recomputation, no self-join). The fold is pure IEEE
    adds/multiplies over a deterministic order, so given identical
    inputs the entire trajectory is bit-identical in any engine
    (DuckDB replays prefix folds — left-fold associativity makes the
    incremental accumulator and the per-prefix folds the same op
    sequence). ``alpha`` is embedded via ``cast(<repr> as double)`` —
    the bare-decimal-literal DECIMAL trap.

    Scale contract: one group's FULL series sits in one aggregation
    buffer — use this on RESAMPLED series (daily/hourly rollups:
    thousands of points), not raw event streams; the resample
    aggregate before it is the unbounded-data stage."""
    a = f"cast({float(alpha)!r} as double)"
    b = f"cast({float(1.0 - alpha)!r} as double)"
    g = (
        df.groupBy(*group_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(value_col).alias("x")))
            ).alias("__ts")
        )
        .withColumn(
            "__tr",
            F.expr(
                f"aggregate(__ts, cast(array() as array<double>), "
                f"(acc, t) -> case when size(acc) = 0 then array(cast(t.x as double)) "
                f"else array_append(acc, {a} * t.x + {b} * element_at(acc, -1)) end)"
            ),
        )
    )
    pe = g.select(
        *group_cols, F.posexplode("__ts").alias("__pos", "__t"), "__tr"
    )
    return pe.select(
        *group_cols,
        F.col("__t.o").alias(order_col),
        F.col("__t.x").alias(value_col),
        F.expr("element_at(__tr, __pos + 1)").alias("ewma"),
    )


def seasonal_baseline_deviation(
    df: DataFrame,
    group_cols: list[str],
    day_col: str,
    value_dec_col: str,
    period: int = 7,
) -> DataFrame:
    """Seasonal-naive anomaly signal: compare each period's value to
    the mean of its SAME-PHASE peers (same weekday for period=7) —
    the adjustment that stops weekend troughs reading as anomalies.
    Input is one row per (group, day) with an exact DECIMAL value
    (the resample output); appends ``phase``, ``phase_mean`` and
    ``dev_ratio = (value - phase_mean) / phase_mean`` (NULL when the
    baseline is 0).

    Portability: the phase is pure integer epoch arithmetic
    (``days_since_epoch mod period`` — calendar weekday functions
    disagree on numbering across engines); phase means divide exact
    DECIMAL sums once; the deviation is a fixed double sequence on
    identical inputs — no rounding anywhere. One model-sized phase
    aggregate, broadcast back; NULL-safe on the group keys."""
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    phase = F.pmod(
        F.datediff(F.col(day_col), F.to_date(F.lit("1970-01-01"))), F.lit(period)
    )
    base = df.withColumn("phase", phase)
    means = base.groupBy(*group_cols, "phase").agg(
        (
            F.sum(F.col(value_dec_col)).cast("double")
            / F.count("*").cast("double")
        ).alias("phase_mean")
    )
    joined = _ns_join(base, means, group_cols + ["phase"], broadcast_right=True)
    dev = F.col(value_dec_col).cast("double") - F.col("phase_mean")
    return joined.withColumn(
        "dev_ratio",
        F.when(F.col("phase_mean") != 0, dev / F.col("phase_mean")),
    )


def sessionize_batch(
    events: DataFrame, gap_seconds: int = 1800, ts_col: str = "ts",
    user_col: str = "user_id", value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization: a session ends after more than
    ``gap_seconds`` of inactivity. Session id = cumulative count of
    gap-exceeding steps per user (lag + running sum), then one
    aggregate per session. All native expressions.

    Gaps compare at MICROSECOND resolution (unix_micros): a
    cast('long') comparison truncates to whole seconds and would
    split or merge sessions whose events are fractional seconds apart
    near the gap.

    Malformed rows: NULL-timestamp rows are dropped (an unfiltered
    lag() would fold them into the user's first session), and
    NULL/NaN values contribute 0 to ``value_sum``."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col(ts_col))
    marked = events.filter(F.col(ts_col).isNotNull()).withColumn(
        "__new",
        F.when(us - F.lag(us).over(w) > gap_seconds * 1_000_000, 1).otherwise(0),
    ).withColumn("__sid", F.sum("__new").over(wrun))
    return marked.groupBy(user_col, "__sid").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum(
            F.coalesce(F.nanvl(F.col(value_col), F.lit(0.0)), F.lit(0.0))
        ).alias("value_sum"),
    ).drop("__sid")
