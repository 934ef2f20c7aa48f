"""Event-stream product analytics: ordered funnels and retention
cohorts over an event log ``(user, ts, event_type, ...)``.

These are the batch analytics a clickstream/telemetry pipeline runs
next to sessionization (ops/temporal.sessionize_batch). Both operators are
single-shuffle shapes:

- ``funnel``: chained per-user window minima — every step's "first
  qualifying arrival" is one more window expression over the SAME
  ``partitionBy(user)`` spec, so Spark plans one Exchange and a stack
  of Window operators with no extra shuffles; the final per-user
  reduction reuses the partitioning.
- ``retention_cohorts``: distinct (user, period) activity, min-period
  cohort per user, and a (cohort, age) count — the shuffles carry
  (user, period) pairs, never raw events.

At 100 TB: both group on high-cardinality user ids (balanced), state
per user is O(steps) / O(active periods), and no driver-side loops or
collects appear anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nhs_data_pipeline_spark.ops.core import local_frame


def _sq(label: str) -> str:
    """Escape a step label for use inside a single-quoted SQL literal
    (stack() exprs) — a step named \"o'clock deal\" must not break the
    parse."""
    return label.replace("'", "''")


def _funnel_arrivals(
    events: DataFrame,
    steps: list[str],
    user_col: str,
    ts_col: str,
    type_col: str,
) -> DataFrame:
    """Per-user ordered first-arrival times for each funnel step:
    ``(user_col, __t0 .. __t{k-1})`` — step i's arrival is the MIN
    timestamp of a step-i event STRICTLY after the step-(i-1) arrival.
    ONE ``partitionBy(user)`` window spec for any step count (a single
    Exchange). Shared by ``funnel`` and ``funnel_conversion_times`` so
    the ordered-funnel semantics can never drift between the user
    counts and the latency medians."""
    w = Window.partitionBy(user_col)
    df = events
    tcols: list[str] = []
    prev: str | None = None
    for i, step in enumerate(steps):
        cond = F.col(type_col) == step
        if prev is not None:
            cond = cond & (F.col(ts_col) > F.col(prev))
        c = f"__t{i}"
        df = df.withColumn(c, F.min(F.when(cond, F.col(ts_col))).over(w))
        tcols.append(c)
        prev = c
    return df.groupBy(user_col).agg(*[F.max(c).alias(c) for c in tcols])


def funnel(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel: step ``i`` counts users whose first
    step-``i`` event STRICTLY follows their step-``i-1`` arrival (the
    standard ordered-funnel semantics — a purchase before the first
    view does not count as a converted view).

    Returns one row per step: ``(step_idx, step, users)`` with
    ``users`` non-increasing down the funnel.

    Shape: for each step a windowed conditional MIN over
    ``partitionBy(user)`` — all steps share the window spec, so the
    chain is one shuffle however many steps; the per-user arrival
    times then reduce with ``max`` (they are partition-constant) and
    a single count per step.
    """
    if not steps:
        raise ValueError("funnel needs at least one step")
    per_user = _funnel_arrivals(events, steps, user_col, ts_col, type_col)
    counts = per_user.agg(
        *[F.count(f"__t{i}").alias(f"__n{i}") for i in range(len(steps))]
    )
    stack = ", ".join(
        f"{i}, '{_sq(s)}', __n{i}" for i, s in enumerate(steps)
    )
    return counts.select(
        F.expr(
            f"stack({len(steps)}, {stack}) AS (step_idx, step, users)"
        )
    )


def funnel_conversion_times(
    events: DataFrame,
    steps: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Time-to-convert distribution down an ordered funnel: for every
    step past the first, the users who reached it and the EXACT lower
    median of their (first-step arrival -> step arrival) latency in
    microseconds: ``(step_idx, step, n_converted, median_micros)``.
    The product question behind every funnel chart's second axis —
    "how long does conversion take?" — where a mean is useless under
    the heavy right tail of user latencies.

    Composition of two proven pieces: the funnel's chained
    conditional window minima (one ``partitionBy(user)`` shuffle for
    any step count — same spec as ``funnel``) and the two-pass
    bucketed weighted order statistic of ``group_weighted_median``
    (unit weights), so the median decision is an exact integer
    comparison and no step ever sorts its full latency set in one
    task. Non-converted users simply have a NULL step arrival and
    drop out of that step's group."""
    if len(steps) < 2:
        raise ValueError("conversion times need at least two steps")
    per_user = _funnel_arrivals(events, steps, user_col, ts_col, type_col)
    stack = ", ".join(
        f"{i}, '{_sq(s)}', unix_micros(__t{i}) - unix_micros(__t0)"
        for i, s in enumerate(steps[1:], start=1)
    )
    durs = per_user.select(
        F.expr(
            f"stack({len(steps) - 1}, {stack}) AS (step_idx, step, __dur)"
        )
    ).filter(F.col("__dur").isNotNull()).withColumn("__one", F.lit(1))
    med = group_weighted_median(
        durs, ["step_idx", "step"], "__dur", "__one", bucket_width=1 << 32
    )
    return med.select(
        F.col("step_idx").cast("int").alias("step_idx"),
        "step",
        F.col("n_rows").alias("n_converted"),
        F.col("weighted_median").alias("median_micros"),
    )


def retention_cohorts(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
    period_seconds: int = 7 * 86400,
) -> DataFrame:
    """Cohort retention: users grouped by their first active period
    (the cohort), counted in every later period they return.

    Returns ``(cohort_start, period_age, n_users)`` — ``period_age``
    0 is the cohort size itself; ``n_users`` at age k = users of that
    cohort active k periods after their first.

    ``period`` is any ``date_trunc`` unit; ``period_seconds`` must be
    its fixed length (week=604800) — ages are computed by integer
    epoch arithmetic on the truncated period starts, which is exact
    for fixed-length units and engine-portable (calendar units like
    'month' need a months_between variant instead).
    """
    active = (
        events.select(
            F.col(user_col).alias("__u"),
            F.date_trunc(period, F.col(ts_col)).alias("__p"),
        )
        .distinct()
    )
    cohort = active.groupBy("__u").agg(F.min("__p").alias("__c"))
    aged = active.join(cohort, "__u").select(
        F.col("__c").alias("cohort_start"),
        (
            (F.unix_timestamp("__p") - F.unix_timestamp("__c"))
            / F.lit(period_seconds)
        )
        .cast("int")
        .alias("period_age"),
    )
    return aged.groupBy("cohort_start", "period_age").agg(
        F.count("*").alias("n_users")
    )


def peak_concurrency(
    intervals: DataFrame,
    keys: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Peak number of simultaneously-open intervals per key group —
    max concurrent sessions/connections/jobs — via the sweep line, not
    the O(n^2) self-join: each interval contributes a +1 at ``start``
    and a -1 at ``end`` (half-open [start, end): an interval ending at
    t does not overlap one starting at t), deltas are pre-summed per
    distinct timestamp, and the peak is the max of the running sum.

    Determinism: summing per distinct (keys, t) BEFORE the cumulative
    window makes the running values independent of row order among
    ties — the window then orders by the now-unique ``t``, a total
    order, so results are partitioning- and engine-independent.

    Scale: two shuffles (the (keys, t) pre-aggregation, then the
    per-key window); both carry (keys, t, int) triples only. State per
    key is O(distinct timestamps), never O(intervals^2).
    """
    # NULL handling: a NULL end means the interval is still open — it
    # contributes its +1 and never a -1 (a NULL __t would sort FIRST
    # in the ascending window and subtract before anything opened,
    # understating every peak). A NULL start is a malformed interval
    # and is dropped entirely.
    valid = intervals.filter(F.col(start_col).isNotNull())
    starts = valid.select(
        *keys, F.col(start_col).alias("__t"), F.lit(1).alias("__d")
    )
    ends = valid.filter(F.col(end_col).isNotNull()).select(
        *keys, F.col(end_col).alias("__t"), F.lit(-1).alias("__d")
    )
    net = (
        starts.unionByName(ends)
        .groupBy(*keys, "__t")
        .agg(F.sum("__d").alias("__net"))
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("__t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = net.withColumn("__open", F.sum("__net").over(w))
    return running.groupBy(*keys).agg(
        F.max("__open").cast("bigint").alias("peak_concurrency")
    )


def zscore_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    threshold: float = 3.0,
    decimals: int = 2,
) -> DataFrame:
    """Per-group z-score anomaly detection with *deterministic* group
    statistics: rows whose value sits more than ``threshold`` standard
    deviations from their group mean.

    The naive ``stddev()`` aggregate sums doubles in partition order —
    nondeterministic across runs and engines. Here the value (known to
    carry at most ``decimals`` true decimals, e.g. a price feed) is
    quantized to an exact integer grid and the two moment sums run in
    DECIMAL(38,0) — exact regardless of row order. Mean/variance are
    then derived from those exact integers through a fixed sequence of
    correctly-rounded double ops (div, mul, sub, sqrt — all IEEE
    exact-rounded, unlike ln), so the resulting z-scores are
    bit-identical on any engine and any partitioning.

    Scale: one partial-aggregating shuffle on the (low-cardinality)
    group key for the stats, then a broadcast join back onto the
    stream. Constant groups (zero variance) emit no rows.
    """
    grid = 10 ** decimals
    # try_cast, not cast: a single NaN/Infinity/overflow value in a
    # regenerated feed must quarantine that ROW (NULL __q, excluded
    # from n and the sums alike), not ANSI-kill the whole query.
    q = F.round(F.col(value_col) * grid).try_cast("decimal(19,0)")
    d = df.withColumn("__q", q)
    stats = d.groupBy(*group_cols).agg(
        # count the QUANTIZED values: rows excluded from the moment
        # sums (NULL or unquantizable) must not dilute the mean
        F.count("__q").alias("__n"),
        F.sum(F.col("__q").cast("decimal(38,0)")).alias("__s1"),
        F.sum((F.col("__q") * F.col("__q")).cast("decimal(38,0)")).alias("__s2"),
    )
    mean = F.col("__s1").cast("double") / F.lit(float(grid)) / F.col("__n")
    ex2 = F.col("__s2").cast("double") / F.lit(float(grid * grid)) / F.col("__n")
    stats = stats.select(
        *group_cols,
        mean.alias("__mean"),
        F.sqrt(F.greatest(ex2 - mean * mean, F.lit(0.0))).alias("__std"),
    )
    joined = d.drop("__q").join(F.broadcast(stats), group_cols)
    z = (F.col(value_col) - F.col("__mean")) / F.col("__std")
    # NaN is excluded EXPLICITLY: Spark (and DuckDB) order NaN greater
    # than everything, so abs(NaN) > t would flag malformed rows with a
    # NaN z-score — noise for consumers and unhashable cross-engine.
    # (+/-Infinity stays: its z is a well-defined, comparable infinity.)
    return (
        joined.filter(
            (F.col("__std") > 0)
            & ~F.isnan(F.col(value_col))
            & (F.abs(z) > threshold)
        )
        .withColumn("zscore", z)
        .drop("__mean", "__std")
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket: int = 256,
) -> DataFrame:
    """Market-basket pair co-occurrence with lift: for every unordered
    item pair appearing together in at least one basket —
    ``(item_a < item_b, pair_baskets, a_baskets, b_baskets,
    n_baskets, lift)`` where

        lift = n_baskets * pair_baskets / (a_baskets * b_baskets)

    (> 1 means "bought together more than independence predicts" —
    the association-rule primitive behind frequent-itemset mining).

    Scale shape: NO self-join — baskets are bounded (``max_basket``
    distinct items; larger baskets are dropped as catalog-crawl noise,
    the span-dedup guardrail), so each basket's C(n,2) pairs explode
    PLAN-SIDE from its sorted distinct-item list: one pass, one
    shuffle on the pair key with map-side combine. Item supports come
    from the same distinct (basket, item) projection. NULL items are
    dropped (a NULL pair key is meaningless); lift is one
    integer-fed double division quantized with the PORTABLE
    floor-round (``floor(x*1e6+0.5)/1e6`` — lift reaches n_baskets
    magnitude when both supports are 1, where ``F.round``'s BigDecimal
    HALF_UP and DuckDB's float rounding can land on opposite sides).

    The cap is enforced BEFORE collection (cap-before-collect rule): a
    per-basket row_number keeps at most ``max_basket + 1`` items, so
    an unbounded mega-basket never builds an unbounded collect_list
    buffer (the r05 advisor catch) — a basket whose capped list still
    holds ``max_basket + 1`` items provably exceeded the cap and is
    dropped, identical semantics to filtering on the true size. The
    row_number's rank filter pre-trims map-side (WindowGroupLimit),
    and its __b partitioning is reused by the collect aggregate."""
    bi = (
        df.filter(F.col(basket_col).isNotNull() & F.col(item_col).isNotNull())
        .select(F.col(basket_col).alias("__b"), F.col(item_col).alias("__i"))
        .distinct()
    )
    n_baskets = bi.groupBy().agg(
        F.count_distinct("__b").cast("bigint").alias("n_baskets")
    )
    supports = bi.groupBy("__i").agg(F.count("*").alias("__supp"))
    wb = Window.partitionBy("__b").orderBy("__i")
    groups = (
        bi.withColumn("__rk", F.row_number().over(wb))
        .filter(F.col("__rk") <= max_basket + 1)
        .groupBy("__b")
        .agg(F.sort_array(F.collect_list("__i")).alias("__items"))
        .filter((F.size("__items") >= 2) & (F.size("__items") <= max_basket))
    )
    pairs = (
        groups.select(
            F.explode(
                F.expr(
                    "flatten(transform(__items, (__a, __x) -> "
                    "transform(slice(__items, __x + 2, size(__items) - __x - 1), "
                    "__c -> struct(__a AS item_a, __c AS item_b))))"
                )
            ).alias("__p")
        )
        .groupBy(F.col("__p.item_a").alias("item_a"), F.col("__p.item_b").alias("item_b"))
        .agg(F.count("*").alias("pair_baskets"))
    )
    out = (
        pairs.join(
            supports.select(F.col("__i").alias("item_a"), F.col("__supp").alias("a_baskets")),
            "item_a",
        )
        .join(
            supports.select(F.col("__i").alias("item_b"), F.col("__supp").alias("b_baskets")),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    raw_lift = (F.col("n_baskets") * F.col("pair_baskets")).cast("double") / (
        F.col("a_baskets") * F.col("b_baskets")
    ).cast("double")
    # portable: floor(x*1e6 + 0.5)/1e6 (docstring; same as group_ols)
    lift = F.floor(raw_lift * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)
    return out.select(
        "item_a", "item_b", "pair_baskets", "a_baskets", "b_baskets",
        "n_baskets", lift.alias("lift"),
    )


def group_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_int_col: str,
    y_scale: int = 1,
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y ~ a + b*x`` via the
    closed-form moment sums — the distributed `regr_slope` family:
    ``(*group_cols, n_points, slope, intercept, r2)``.

    Exactness contract (the reason this beats calling a stats UDF):
    ``x_col`` must be integral and ``y_int_col`` a BIGINT in fixed-
    point integer units (caller scales, e.g. revenue ten-thousandths);
    every moment sum and both covariance/variance combinations are
    then EXACT DECIMAL(38,0) integers — order-free, partition-proof —
    and the only floating point is the final, fixed op sequence
    (cast, divide, round), which is bit-identical in any engine.
    ``slope``/``intercept`` are reported in original units
    (``/ y_scale``); groups with zero x-variance or zero y-variance
    yield NULL slope/intercept/r2 rather than ANSI infinities.

    One aggregate, map-side combinable — at 100 TB this is a single
    shuffle of six numbers per group, no matter how many rows feed
    each fit.

    Quantization note: outputs use a PORTABLE floor-round
    ``floor(x * 1e6 + 0.5) / 1e6`` instead of ``F.round`` — at 1e9+
    magnitudes the 6-dp step approaches the double's ulp, and Spark's
    BigDecimal HALF_UP disagrees with DuckDB's float rounding by one
    ulp on boundary-adjacent inputs (measured on real intercepts).
    The floor form is the same three IEEE ops in any engine."""
    D = "decimal(38,0)"
    xd = F.col(x_col).cast(D)
    yd = F.col(y_int_col).cast(D)
    s = df.groupBy(*group_cols).agg(
        F.count("*").cast(D).alias("__n"),
        F.sum(xd).alias("__sx"),
        F.sum(yd).alias("__sy"),
        F.sum(xd * xd).alias("__sxx"),
        F.sum(xd * yd).alias("__sxy"),
        F.sum(yd * yd).alias("__syy"),
    )
    num = (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).alias("__num")
    den = (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).alias("__den")
    syy = (F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")).alias("__ssyy")
    s = s.select(*group_cols, "__n", "__sx", "__sy", num, den, syy)
    nd = F.col("__n").cast("double")
    sxd = F.col("__sx").cast("double")
    syd = F.col("__sy").cast("double")
    numd = F.col("__num").cast("double")
    dend = F.col("__den").cast("double")
    ssyyd = F.col("__ssyy").cast("double")
    scale = F.lit(float(y_scale))

    def _round6(c):  # portable: floor(x*1e6 + 0.5)/1e6 (docstring)
        return F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)

    ok = F.col("__den") != 0
    slope = F.when(ok, _round6(numd / dend / scale))
    intercept = F.when(ok, _round6((syd - (numd / dend) * sxd) / nd / scale))
    r2 = F.when(
        ok & (F.col("__ssyy") != 0), _round6((numd * numd) / (dend * ssyyd))
    )
    return s.select(
        *group_cols,
        F.col("__n").cast("bigint").alias("n_points"),
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def transition_matrix(
    events: DataFrame,
    entity_col: str,
    order_cols: list[str],
    state_col: str,
) -> DataFrame:
    """First-order Markov transition counts + probabilities over
    per-entity ordered state sequences: ``(prev_state, next_state,
    n_trans, n_from, prob)`` where ``prob = n_trans / n_from``.

    The per-entity ordering runs in ONE window pass (lag + row_number
    over the same ``partitionBy(entity)`` spec — one Exchange), the
    pair count is a map-side-combinable aggregate on the (prev, next)
    key, and the from-totals derive from that same aggregate (states^2
    rows — model-sized), so raw events shuffle exactly once. First
    events per entity are excluded by row number, NOT by a NULL test
    on the lag — a NULL *state* value is a legal state and must not be
    conflated with "no predecessor". ``order_cols`` must be a total
    order per entity (the build-notes window rule). ``prob`` is one
    integer-fed double division — bit-identical cross-engine with no
    rounding at all."""
    w = Window.partitionBy(entity_col).orderBy(*order_cols)
    seq = events.select(
        F.col(state_col).alias("next_state"),
        F.lag(state_col).over(w).alias("prev_state"),
        F.row_number().over(w).alias("__rn"),
    ).filter(F.col("__rn") > 1)
    trans = seq.groupBy("prev_state", "next_state").agg(
        F.count("*").alias("n_trans")
    )
    from_tot = trans.groupBy("prev_state").agg(
        F.sum("n_trans").cast("bigint").alias("n_from")
    )
    # eqNullSafe, not a column-list join: NULL is a legal state and a
    # plain equi-join would silently drop every transition out of it
    # (the build-notes NULL-key trap)
    joined = trans.join(
        F.broadcast(from_tot.withColumnRenamed("prev_state", "__ps")),
        F.col("prev_state").eqNullSafe(F.col("__ps")),
    ).drop("__ps")
    return joined.select(
        "prev_state",
        "next_state",
        "n_trans",
        "n_from",
        (F.col("n_trans").cast("double") / F.col("n_from").cast("double")).alias("prob"),
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_int_col: str,
) -> DataFrame:
    """Leave-one-out target encoding: append ``loo`` — the mean of
    ``target_int_col`` over all OTHER rows sharing this row's
    ``cat_col`` value (``(sum - y) / (n - 1)``; NULL for singleton
    categories). The standard leakage-free way to turn a
    high-cardinality categorical into a numeric feature for the
    quality-classifier pipeline: a row never sees its own target.

    Exactness: the target must be integral (caller fixes the point),
    so category sums are exact DECIMAL(38,0) integers and each row's
    encoding is ONE double division of two exact integers —
    bit-identical cross-engine, no rounding. Shape: one
    map-side-combinable aggregate (two numbers per category), then a
    broadcast-or-shuffle join back keyed on the category; NULL
    categories encode like any other (eqNullSafe — the NULL-key
    trap). Smoothed variants ((sum + m*prior)/(n + m)) drop out of
    the same two aggregates if needed."""
    y = F.col(target_int_col)
    stats = df.groupBy(F.col(cat_col).alias("__cat")).agg(
        F.sum(y.cast("decimal(38,0)")).alias("__sy"),
        F.count("*").cast("bigint").alias("__n"),
    )
    joined = df.join(
        F.broadcast(stats), F.col(cat_col).eqNullSafe(F.col("__cat"))
    )
    loo = F.when(
        F.col("__n") > 1,
        (F.col("__sy").cast("double") - y.cast("double"))
        / (F.col("__n") - 1).cast("double"),
    )
    return joined.withColumn("loo", loo).drop("__cat", "__sy", "__n")


def quantile_normalize(
    df: DataFrame,
    value_int_col: str,
    source_col: str,
    id_col: str,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Cross-source quantile normalization: replace each row's value
    with the GLOBAL order statistic at its within-source quantile —
    after it, every source's value distribution is (a subsample of)
    the same global distribution. The feature-harmonization step
    before cross-source thresholds: a source whose lengths/scores run
    systematically high no longer dominates a global cutoff.

    Appends ``<value>_norm``. All decisions are exact integers:
    within-source rank r of n maps to global rank
    ``k = ceil(r*N/n) = (r*N + n - 1) div n`` (the float-ceil trap,
    avoided), and the normalized value is the value at global rank k.

    Scale shape — the global ranking NEVER uses a global window:
    values bucket by ``value div bucket_width`` (value-ordered, so
    bucket offsets from a model-sized cumulative window + within-
    bucket row_number give exact global ranks — the two-pass rank
    pattern of ops/sampling.shuffle_training_order, keyed by value
    instead of hash). Ties break on (value, source, id) — a total
    order, so ranks are engine- and partitioning-independent.
    NULL values pass through with a NULL norm."""
    v, s = F.col(value_int_col), F.col(source_col)
    base = df.filter(v.isNotNull())
    # pass 1: within-source ranks + source sizes
    ws = Window.partitionBy(source_col).orderBy(value_int_col, id_col)
    ranked = base.withColumn("__r", F.row_number().over(ws))
    # NB: Spark resolution is case-insensitive — __n and __N would be
    # AMBIGUOUS_REFERENCE; use distinct names
    ns = base.groupBy(source_col).agg(F.count("*").alias("__sn"))
    tot = base.agg(F.count("*").alias("__tn"))
    # pass 2: exact global ranks via value-ordered buckets
    bucketed = base.select(
        value_int_col,
        source_col,
        id_col,
        (v / bucket_width).cast("bigint").alias("__b"),
    )
    counts = bucketed.groupBy("__b").agg(F.count("*").alias("__c"))
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__c").over(woff), F.lit(0).cast("bigint"))
    ).select("__b", "__off")
    wb = Window.partitionBy("__b").orderBy(value_int_col, source_col, id_col)
    glob = (
        bucketed.join(F.broadcast(offsets), "__b")
        .withColumn("__g", F.col("__off") + F.row_number().over(wb))
        .select(F.col("__g").alias("__k"), F.col(value_int_col).alias("__nv"))
    )
    # target global rank per row, then the value at that rank
    tgt = (
        ranked.join(F.broadcast(ns), source_col)
        .crossJoin(F.broadcast(tot))
        .withColumn("__k", F.expr("(__r * __tn + __sn - 1) div __sn"))
    )
    norm = tgt.join(glob, "__k").select(
        F.col(id_col), F.col("__nv").alias(f"{value_int_col}_norm")
    )
    # NULL-value rows re-attach with a NULL norm (id_col must uniquely
    # identify rows — the caller contract)
    return df.join(norm, id_col, "left")


def group_weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_int_col: str,
    weight_int_col: str,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Exact per-group LOWER weighted median of a non-negative integer
    value under integer weights: the smallest value v with
    ``2 * cumulative_weight(<= v) >= total_weight`` — the
    quantity-weighted "typical price" statistic GROUP BY mean hides.
    Returns ``(*group_cols, n_rows, total_weight, weighted_median)``.

    Every decision is an exact integer comparison (never a float
    half-of-total), so the picked value replays bit-identically on any
    engine and partitioning. Rows with NULL value/weight or
    non-positive weight are excluded (a zero weight cannot move the
    median; a negative one has no order-statistic meaning).

    Scale shape (100 TB) — the repo's two-pass bucketed order-
    statistic pattern (quantile_normalize, zipf ranks), weighted:

    1. collapse to per-(group, value) weight sums (one map-side-
       combined aggregate);
    2. bucket values by ``value div bucket_width``; cumulative bucket
       offsets run over the per-group BUCKET table (value-range /
       width rows per group — model-sized), never the value table;
    3. only the single median-holding bucket's values re-join for the
       in-bucket cumulative walk (bucket-bounded window).

    No group ever sorts its full value set in one task; group joins
    are NULL-safe (a NULL group key is a legal group)."""
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    v, w = F.col(value_int_col), F.col(weight_int_col)
    base = df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
    vw = base.groupBy(*group_cols, v.alias("__val")).agg(
        F.sum(w).cast("bigint").alias("__wt"),
        F.count("*").cast("bigint").alias("__cnt"),
    )
    bkt = vw.withColumn("__b", F.expr(f"__val div {int(bucket_width)}"))
    bw = bkt.groupBy(*group_cols, "__b").agg(
        F.sum("__wt").cast("bigint").alias("__bw")
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bw.withColumn(
        "__off", F.coalesce(F.sum("__bw").over(woff), F.lit(0).cast("bigint"))
    )
    tot = vw.groupBy(*group_cols).agg(
        F.sum("__wt").cast("bigint").alias("total_weight"),
        F.sum("__cnt").cast("bigint").alias("n_rows"),
    )
    # tot (one row per group) and med_bucket (one bucket-row per
    # group) are group-cardinality model tables: broadcast explicitly —
    # the eqNullSafe condition loses the stats-chosen broadcast when
    # the input lineage hides row counts (the r05 lesson; surfaced by
    # robust_outliers' MAD pass feeding a joined frame back in)
    med_bucket = (
        _ns_join(offs, tot, group_cols, broadcast_right=True)
        .filter(
            (F.lit(2) * (F.col("__off") + F.col("__bw"))
             >= F.col("total_weight"))
            & (F.lit(2) * F.col("__off") < F.col("total_weight"))
        )
        .select(*group_cols, "__b", "__off", "total_weight", "n_rows")
    )
    inb = _ns_join(bkt, med_bucket, group_cols + ["__b"], broadcast_right=True)
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("__val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        inb.withColumn("__cum", F.col("__off") + F.sum("__wt").over(wcum))
        .filter(F.lit(2) * F.col("__cum") >= F.col("total_weight"))
        .groupBy(*group_cols)
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("total_weight").alias("total_weight"),
            F.min("__val").cast("bigint").alias("weighted_median"),
        )
    )


def psi_report(
    df_a: DataFrame,
    df_b: DataFrame,
    value_int_col: str,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Population Stability Index between a baseline (A) and a
    comparison (B) slice of an integer-quantized value — the standard
    model-monitoring drift metric:

        PSI = sum_i (p_ai - p_bi) * ln(p_ai / p_bi)

    over value buckets, with add-one (Laplace) smoothing so buckets
    present on only one side contribute finitely: ``p_xi = (c_xi + 1)
    / (n_x + K)``, K = number of buckets observed in either side.
    Returns one row ``(n_a, n_b, n_buckets, psi)``; rule of thumb:
    < 0.1 stable, 0.1-0.25 moderate shift, > 0.25 drifted.

    Buckets are FIXED-WIDTH (``value div bucket_width``, non-negative
    value contract like the histogram/k-anon bucket ops) — integer
    membership, so no quantile-boundary float can flip a row between
    buckets across engines. Every PSI term is built from exact
    integers: the weight numerator ``(c_a+1)(n_b+K) - (c_b+1)(n_a+K)``
    in DECIMAL(38,0), the ln of the same two exact products (cast once
    to double), micro-quantized; one final double division + the
    portable floor-round.

    Scale shape: one bucket-keyed aggregate per side (map-side
    combined), a full-outer NULL-safe join of two model-sized bucket
    tables, scalar totals broadcast-crossed, one scalar fold."""
    ca = psi_bucket_counts(df_a, value_int_col, bucket_width, out="__ca")
    cb = psi_bucket_counts(df_b, value_int_col, bucket_width, out="__cb")
    return psi_from_bucket_counts(ca, cb)


def psi_bucket_counts(
    df: DataFrame,
    value_int_col: str,
    bucket_width: int = 1 << 16,
    out: str = "__ca",
) -> DataFrame:
    """Fixed-width bucket counts ``(__b, <out>)`` of an integer value —
    the model-sized PSI input table."""
    v = F.col(value_int_col)
    return (
        df.filter(v.isNotNull())
        .select(F.expr(f"{value_int_col} div {int(bucket_width)}").alias("__b"))
        .groupBy("__b")
        .agg(F.count("*").cast("bigint").alias(out))
    )


def psi_from_bucket_counts(ca: DataFrame, cb: DataFrame) -> DataFrame:
    """PSI from two pre-bucketed count tables ``(__b, __ca)`` /
    ``(__b, __cb)`` — the core of :func:`psi_report`. Same
    exact-integer term construction and float discipline as
    psi_report's docstring."""
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    D = "decimal(38,0)"
    both = _ns_join(ca, cb, ["__b"], how="full").select(
        "__b",
        F.coalesce("__ca", F.lit(0)).alias("__ca"),
        F.coalesce("__cb", F.lit(0)).alias("__cb"),
    )
    tots = both.agg(
        F.sum("__ca").cast("bigint").alias("__na"),
        F.sum("__cb").cast("bigint").alias("__nb"),
        F.count("*").cast("bigint").alias("__k"),
    )
    t = both.crossJoin(F.broadcast(tots))
    pa_num = (F.col("__ca") + F.lit(1)).cast(D) * (
        F.col("__nb") + F.col("__k")
    ).cast(D)
    pb_num = (F.col("__cb") + F.lit(1)).cast(D) * (
        F.col("__na") + F.col("__k")
    ).cast(D)
    lnq = F.floor(
        F.log(pa_num.cast("double") / pb_num.cast("double"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    agg = t.agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.max("__k").alias("n_buckets"),
        F.sum((pa_num - pb_num) * lnq.cast(D)).alias("__s"),
    )
    # den as a DOUBLE product of two double-cast exact integers —
    # spelled identically in the oracle (a DECIMAL product cast to
    # double could round differently once n_x * K passes 2^53)
    den = (F.col("n_a") + F.col("n_buckets")).cast("double") * (
        F.col("n_b") + F.col("n_buckets")
    ).cast("double")
    psi = F.floor(
        F.col("__s").cast("double") / den + F.lit(0.5)
    ) / F.lit(1000000.0)
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        psi.alias("psi"),
    )


def psi_by_group(
    df_a: DataFrame,
    df_b: DataFrame,
    group_cols: list[str],
    value_int_col: str,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Per-group PSI — :func:`psi_report` stratified by segment, so
    drift localizes (WHICH source/segment moved?) instead of washing
    out in the corpus-wide mean: ``(*group_cols, n_a, n_b, n_buckets,
    psi)``, one row per group observed on either side. Same integer
    recipe as psi_report (fixed-width buckets, add-one smoothing with
    a PER-GROUP bucket count K, exact-integer term numerators,
    micro-ln of the same products). Groups absent from one side keep
    their key with n_x = 0 — THAT column is the absence signal; their
    PSI stays finite and measures SHAPE difference only (a one-bucket
    new group scores 0: both smoothed distributions are the same
    point mass — volume drift is n_a vs n_b's job, not PSI's).

    Scale: (group, bucket)-keyed aggregates per side, one full-outer
    NULL-safe join (group keys COALESCED across sides — a right-only
    group must keep its key), per-group totals re-joined on the group
    key (co-partitioned), one group-keyed fold."""
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    D = "decimal(38,0)"

    def _counts(df: DataFrame, out: str) -> DataFrame:
        v = F.col(value_int_col)
        return (
            df.filter(v.isNotNull())
            .select(
                *group_cols,
                F.expr(f"{value_int_col} div {int(bucket_width)}").alias(
                    "__b"
                ),
            )
            .groupBy(*group_cols, "__b")
            .agg(F.count("*").cast("bigint").alias(out))
        )

    ca = _counts(df_a, "__ca")
    cb = _counts(df_b, "__cb")
    keys = group_cols + ["__b"]
    r = cb
    for k in keys:
        r = r.withColumnRenamed(k, f"__r_{k}")
    cond = F.col(keys[0]).eqNullSafe(F.col(f"__r_{keys[0]}"))
    for k in keys[1:]:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__r_{k}"))
    both = ca.join(r, cond, "full").select(
        *[
            F.coalesce(F.col(k), F.col(f"__r_{k}")).alias(k)
            for k in group_cols
        ],
        F.coalesce("__ca", F.lit(0)).alias("__ca"),
        F.coalesce("__cb", F.lit(0)).alias("__cb"),
    )
    tots = both.groupBy(*group_cols).agg(
        F.sum("__ca").cast("bigint").alias("__na"),
        F.sum("__cb").cast("bigint").alias("__nb"),
        F.count("*").cast("bigint").alias("__k"),
    )
    t = _ns_join(both, tots, group_cols)
    pa_num = (F.col("__ca") + F.lit(1)).cast(D) * (
        F.col("__nb") + F.col("__k")
    ).cast(D)
    pb_num = (F.col("__cb") + F.lit(1)).cast(D) * (
        F.col("__na") + F.col("__k")
    ).cast(D)
    lnq = F.floor(
        F.log(pa_num.cast("double") / pb_num.cast("double"))
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    agg = t.groupBy(*group_cols).agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.max("__k").alias("n_buckets"),
        F.sum((pa_num - pb_num) * lnq.cast(D)).alias("__s"),
    )
    den = (F.col("n_a") + F.col("n_buckets")).cast("double") * (
        F.col("n_b") + F.col("n_buckets")
    ).cast("double")
    psi = F.floor(
        F.col("__s").cast("double") / den + F.lit(0.5)
    ) / F.lit(1000000.0)
    return agg.select(
        *group_cols,
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        psi.alias("psi"),
    )


def group_weighted_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_int_col: str,
    weight_int_col: str,
    qs: list[str],
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Exact per-group LOWER weighted quantiles at several probes in
    ONE pass: for each exact-fraction ``q`` ("1/4", "1/2", "3/4") the
    smallest value v with ``den * cumulative_weight(<= v) >=
    num * total_weight``. Returns ``(*group_cols, q, n_rows,
    total_weight, value_at_q)`` — one row per (group, probe).

    This is the 100 TB replacement for a sort-based ``percentile``
    aggregate, which buffers a group's ENTIRE value set in one task:
    the generalization of :func:`group_weighted_median` (q = 1/2).
    Quantile probes are strings parsed by ``Fraction`` so every
    threshold decision is an exact integer cross-multiplication —
    never a float ceil/compare (the build-notes trap).

    Shape: one (group, value) weight aggregate; per-group BUCKET-table
    cumulative offsets (model-sized window); the probe list (tiny)
    cross-joins the bucket table so each probe picks its own crossing
    bucket with pure integer predicates; only picked buckets' values
    re-join for the in-bucket walk. NULL-safe group joins; weights
    must be positive integers, values non-negative integers."""
    from fractions import Fraction

    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    probes = [(s, Fraction(s)) for s in qs]
    for s, fr in probes:
        if not 0 < fr <= 1:
            raise ValueError(f"quantile {s} must be in (0, 1]")
    v, w = F.col(value_int_col), F.col(weight_int_col)
    base = df.filter(v.isNotNull() & w.isNotNull() & (w > 0))
    vw = base.groupBy(*group_cols, v.alias("__val")).agg(
        F.sum(w).cast("bigint").alias("__wt"),
        F.count("*").cast("bigint").alias("__cnt"),
    )
    bkt = vw.withColumn("__b", F.expr(f"__val div {int(bucket_width)}"))
    bw = bkt.groupBy(*group_cols, "__b").agg(
        F.sum("__wt").cast("bigint").alias("__bw")
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = bw.withColumn(
        "__off", F.coalesce(F.sum("__bw").over(woff), F.lit(0).cast("bigint"))
    )
    tot = vw.groupBy(*group_cols).agg(
        F.sum("__wt").cast("bigint").alias("total_weight"),
        F.sum("__cnt").cast("bigint").alias("n_rows"),
    )
    spark = df.sparkSession
    qdf = local_frame(
        spark,
        [(s, fr.numerator, fr.denominator) for s, fr in probes],
        StructType.fromDDL("q string, __num bigint, __den bigint"),
    )
    # each probe picks the bucket where den*cum first reaches num*tot
    picked = (
        _ns_join(offs, tot, group_cols)
        .crossJoin(F.broadcast(qdf))
        .filter(
            (
                F.col("__den") * (F.col("__off") + F.col("__bw"))
                >= F.col("__num") * F.col("total_weight")
            )
            & (
                F.col("__den") * F.col("__off")
                < F.col("__num") * F.col("total_weight")
            )
        )
        .select(
            *group_cols, "q", "__num", "__den", "__b", "__off",
            "total_weight", "n_rows",
        )
    )
    inb = _ns_join(bkt, picked, group_cols + ["__b"])
    wcum = (
        Window.partitionBy(*group_cols, "q")
        .orderBy("__val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        inb.withColumn("__cum", F.col("__off") + F.sum("__wt").over(wcum))
        .filter(
            F.col("__den") * F.col("__cum")
            >= F.col("__num") * F.col("total_weight")
        )
        .groupBy(*group_cols, "q")
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("total_weight").alias("total_weight"),
            F.min("__val").cast("bigint").alias("value_at_q"),
        )
    )


def bootstrap_mean_ci(
    df: DataFrame,
    value_int_col: str,
    key_col: str,
    scale: int = 1,
    replicates: int = 48,
    lo_q: str = "1/40",
    hi_q: str = "39/40",
    salt: str = "boot",
) -> DataFrame:
    """Deterministic half-sample bootstrap CI for the mean of an
    integer-quantized value: ``(n_rows, mean_value, ci_lo, ci_hi,
    n_replicates)`` — one row.

    Efron's bootstrap resamples rows; at corpus scale the portable
    variant is the seeded HALF-SAMPLE (delete-d jackknife family):
    replicate ``b`` keeps exactly the rows whose md5-derived bit ``b``
    is set (independent p=1/2 per replicate, fully reproducible from
    the row key on any partitioning, any engine). Each replicate mean
    divides two EXACT integers once; the CI is the exact
    (``lo_q``, ``hi_q``) order statistics of the <= 48 replicate means
    — computed by sorting the length-``replicates`` array in the one
    output row, no window, no second pass.

    Scale shape: ONE map-side-combinable aggregate carrying
    ``2*replicates + 2`` small expressions (the build-notes lesson:
    many small aggregate expressions beat array-lambda forms) — no
    explode (a row-per-replicate explode would scan ``replicates``x
    the corpus), no joins, no shuffle beyond the scalar aggregate.

    Exactness: the 60-bit hash is the md5 prefix (``conv`` hex ->
    BIGINT, DuckDB: ``CAST('0x' || hex AS BIGINT)``); sums are exact
    BIGINTs of the already-integer value; each mean is a single IEEE
    division; the order-statistic ranks come from exact integer
    ceilings of the ``Fraction`` quantiles (the float-ceil trap); the
    final numbers are quantized with the portable floor-round.
    ``replicates`` is capped at 48 so every bit index stays inside the
    60-bit hash with marginal bias ~2^-60. Rows with NULL key or NULL
    value are excluded (they cannot be resampled deterministically).
    An EMPTY replicate (all hash bits zero — probability 2^-n, real
    for tiny inputs) coalesces to the overall mean rather than
    contributing a NULL whose sort position is engine-dependent.
    ``scale`` divides the integer value back to original units (e.g.
    100 for cents).
    """
    from fractions import Fraction

    if not 1 <= replicates <= 48:
        raise ValueError("replicates must be in [1, 48]")
    flo, fhi = Fraction(lo_q), Fraction(hi_q)
    r_lo = (flo.numerator * replicates + flo.denominator - 1) // flo.denominator
    r_hi = (fhi.numerator * replicates + fhi.denominator - 1) // fhi.denominator
    r_lo, r_hi = max(1, r_lo), max(1, r_hi)

    base = df.filter(
        F.col(key_col).isNotNull() & F.col(value_int_col).isNotNull()
    ).select(
        F.col(value_int_col).cast("bigint").alias("__v"),
        F.expr(
            "cast(conv(substring(md5(concat(cast("
            f"{key_col} as string), ':{salt}')), 1, 15), 16, 10) as bigint)"
        ).alias("__h"),
    )
    aggs = [
        F.count("*").cast("bigint").alias("__n"),
        F.sum("__v").cast("bigint").alias("__s"),
    ]
    for b in range(replicates):
        bit = F.expr(f"(__h >> {b}) & 1") == 1
        aggs.append(F.sum(F.when(bit, F.col("__v"))).cast("bigint").alias(f"__s{b}"))
        aggs.append(F.sum(bit.cast("bigint")).alias(f"__n{b}"))
    one = base.agg(*aggs)
    sc = float(scale)
    # degenerate-replicate guard: an EMPTY half-sample (all hash bits
    # 0 for bit b — probability 2^-n, real for tiny groups) has a NULL
    # sum, and a NULL replicate mean sorts FIRST in Spark's sort_array
    # but engine-dependently in DuckDB's list_sort, skewing the picked
    # order statistics. Coalesce each replicate mean to the overall
    # mean (the neutral bootstrap contribution), spelled identically
    # in the oracle so both engines run the same IEEE sequence.
    means = ", ".join(
        f"coalesce(cast(__s{b} as double) / ({sc!r} * cast(__n{b} as double)),"
        f" cast(__s as double) / ({sc!r} * cast(__n as double)))"
        for b in range(replicates)
    )
    return one.select(
        F.col("__n").alias("n_rows"),
        F.expr(
            "floor(cast(__s as double) / "
            f"({sc!r} * cast(__n as double)) * 1e6 + 0.5) / 1e6"
        ).alias("mean_value"),
        F.expr(
            f"floor(element_at(sort_array(array({means})), {r_lo}) "
            "* 1e6 + 0.5) / 1e6"
        ).alias("ci_lo"),
        F.expr(
            f"floor(element_at(sort_array(array({means})), {r_hi}) "
            "* 1e6 + 0.5) / 1e6"
        ).alias("ci_hi"),
        F.lit(replicates).cast("int").alias("n_replicates"),
    )


def corr_matrix(df: DataFrame, int_cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation over k integer-quantized columns:
    long-form ``(col_a, col_b, n_rows, corr)``, col_a < col_b in the
    given order — the feature-redundancy screen before classifier
    training or mixture weighting.

    Exactness follows :func:`group_ols`: columns must be integral
    (caller fixed-point-scales), so all ``2k + k(k+1)/2`` moment sums
    run EXACT in DECIMAL(38,0) — order-free, partition-proof — inside
    ONE map-side-combinable aggregate (no per-pair passes, no
    shuffle beyond the scalar agg; the build-notes many-small-
    expressions lesson). The two variance combinations are cast to
    double SEPARATELY before the multiply (their DECIMAL product can
    exceed 38 digits), then one sqrt — correctly-rounded IEEE in
    every engine — one division, one portable floor-round.

    Complete-case contract: rows with a NULL in ANY of the columns
    are dropped first (per-pair deletion would need 6x the aggregate
    expressions per pair; completeness is the caller's screen — run
    P3/check_not_null upstream). Zero-variance columns yield NULL
    corr for their pairs, not a division error.
    """
    from itertools import combinations

    D = "decimal(38,0)"
    base = df
    for c in int_cols:
        base = base.filter(F.col(c).isNotNull())
    aggs = [F.count("*").cast(D).alias("__n")]
    for c in int_cols:
        cd = F.col(c).cast(D)
        aggs.append(F.sum(cd).alias(f"__s_{c}"))
        aggs.append(F.sum(cd * cd).alias(f"__q_{c}"))
    for a, b in combinations(int_cols, 2):
        aggs.append(
            F.sum(F.col(a).cast(D) * F.col(b).cast(D)).alias(f"__p_{a}_{b}")
        )
    one = base.agg(*aggs)
    # ONE output branch: a union of per-pair selects re-plans (and can
    # re-execute) the corpus aggregate once per pair — explode an
    # array of structs off the single one-row aggregate instead
    rows = []
    for a, b in combinations(int_cols, 2):
        n = F.col("__n")
        sa, sb = F.col(f"__s_{a}"), F.col(f"__s_{b}")
        qa, qb = F.col(f"__q_{a}"), F.col(f"__q_{b}")
        pab = F.col(f"__p_{a}_{b}")
        num = (n * pab - sa * sb).cast("double")
        va = (n * qa - sa * sa)
        vb = (n * qb - sb * sb)
        corr = F.when(
            (va != 0) & (vb != 0),
            F.floor(
                num / F.sqrt(va.cast("double") * vb.cast("double"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            / F.lit(1000000.0),
        )
        rows.append(
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                n.cast("bigint").alias("n_rows"),
                corr.alias("corr"),
            )
        )
    return one.select(F.explode(F.array(*rows)).alias("__r")).select(
        "__r.col_a", "__r.col_b", "__r.n_rows", "__r.corr"
    )


def contingency_chi2(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns, with Cramér's V — the bounded [0, 1] association strength
    that complements ``mutual_information`` (V is comparable across
    tables of different sizes; MI is not): one row ``(n_rows, n_cells,
    a_levels, b_levels, chi2, cramers_v)``.

    chi2 = sum_ij (n_ij - n_i n_j / N)^2 / (n_i n_j / N); each
    OBSERVED cell's term is computed as ``dev^2 / (n_i * n_j * N)``
    with ``dev = n_ij*N - n_i*n_j`` — an EXACT integer (DECIMAL(38,0))
    whose square would pass 38 digits, so dev is cast once to double
    (identical value both engines) and the per-cell double term is
    quantized to integer MILLIONTHS immediately, making the cross-cell
    sum order-free. ABSENT cells (expected > 0, observed 0) never
    appear in the cell join; their total contribution
    ``sum_absent n_i n_j / N`` folds in closed form as ``N - P/N``
    with ``P = sum over observed cells of n_i*n_j`` (exact integer) —
    no dense level-cross-join is materialized. V =
    sqrt(chi2 / (N * (min(a_levels, b_levels) - 1))) is a fixed IEEE
    sequence, floor-rounded at 6; single-level tables yield NULL V.

    Shape: identical to mutual_information — one (a, b) cell
    aggregate, broadcast NULL-safe marginals (NULL categories are
    real), one scalar fold."""
    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count("*").cast("bigint").alias("__nij"))
    ma = cells.groupBy("__a").agg(F.sum("__nij").alias("__ni"))
    mb = cells.groupBy("__b").agg(F.sum("__nij").alias("__nj"))
    tot = cells.agg(F.sum("__nij").alias("__nn"))
    ra = ma.agg(F.count("*").cast("bigint").alias("__ra"))
    rb = mb.agg(F.count("*").cast("bigint").alias("__rb"))
    D = "decimal(38,0)"
    j = (
        cells.join(F.broadcast(ma), cells["__a"].eqNullSafe(ma["__a"]))
        .drop(ma["__a"])
        .join(F.broadcast(mb), cells["__b"].eqNullSafe(mb["__b"]))
        .drop(mb["__b"])
        .crossJoin(F.broadcast(tot))
    )
    dev = (
        F.col("__nij").cast(D) * F.col("__nn").cast(D)
        - F.col("__ni").cast(D) * F.col("__nj").cast(D)
    ).cast("double")
    den = (
        F.col("__ni").cast("double")
        * F.col("__nj").cast("double")
        * F.col("__nn").cast("double")
    )
    term_m = F.floor(dev * dev / den * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    agg = (
        j.agg(
            F.max("__nn").cast("bigint").alias("n_rows"),
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum(term_m).alias("__chi_m"),
            F.sum(F.col("__ni").cast(D) * F.col("__nj").cast(D)).alias(
                "__p_sum"
            ),
        )
        .crossJoin(F.broadcast(ra))
        .crossJoin(F.broadcast(rb))
    )
    absent_m = F.floor(
        (
            F.col("n_rows").cast("double")
            - F.col("__p_sum").cast("double") / F.col("n_rows").cast("double")
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    chi2 = (F.col("__chi_m") + absent_m).cast("double") / F.lit(1000000.0)
    mindim = F.least(F.col("__ra"), F.col("__rb")) - F.lit(1)
    v = F.floor(
        F.sqrt(chi2 / (F.col("n_rows").cast("double") * mindim.cast("double")))
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return agg.select(
        "n_rows",
        "n_cells",
        F.col("__ra").alias("a_levels"),
        F.col("__rb").alias("b_levels"),
        (F.floor(chi2 * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)).alias(
            "chi2"
        ),
        F.when(mindim > 0, v).alias("cramers_v"),
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns, with
    the marginal entropies: one row ``(n_rows, n_cells, mi_nats, h_a,
    h_b)`` — the association screen for mixture design (does source
    predict language? does domain predict quality label?).

    MI = sum_ij (n_ij/N) ln(N*n_ij / (n_i*n_j)). The transcendental
    discipline (build notes): each ln is quantized to integer
    millionths IMMEDIATELY (libms differ by ulps), then multiplied by
    the EXACT integer cell count and summed — an order-free integer
    sum, no fold — and divided by N once at the end. Entropies use
    the same trick: H(a) = ln6(N) - sum_i n_i*ln6(n_i) / N.

    Shape: one (a, b)-keyed count aggregate (map-side combined), two
    marginal re-aggregates of the CELL table (model-sized: distinct
    value combinations, not rows), joined back per cell — at 100 TB
    the corpus is touched once. NULL categories are real categories
    (SQL GROUP BY semantics — they carry information too).
    """
    LN6 = "cast(floor(ln({x}) * 1e6 + 0.5) as bigint)"
    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count("*").cast("bigint").alias("__nij"))
    ma = cells.groupBy("__a").agg(F.sum("__nij").alias("__ni"))
    mb = cells.groupBy("__b").agg(F.sum("__nij").alias("__nj"))
    tot = cells.agg(F.sum("__nij").alias("__nn"))
    # NULL-safe marginal joins (a NULL category is a real category —
    # the build-notes NULL-key rule); model-sized sides broadcast
    j = (
        cells.join(F.broadcast(ma), cells["__a"].eqNullSafe(ma["__a"]))
        .drop(ma["__a"])
        .join(F.broadcast(mb), cells["__b"].eqNullSafe(mb["__b"]))
        .drop(mb["__b"])
        .crossJoin(F.broadcast(tot))
    )
    # per-cell integer term: n_ij * ln6(N*n_ij / (n_i*n_j))
    term = F.col("__nij") * F.expr(
        LN6.format(
            x="cast(__nn * __nij as double) / cast(__ni * __nj as double)"
        )
    )
    ha_term = F.expr(LN6.format(x="cast(__ni as double)"))
    hb_term = F.expr(LN6.format(x="cast(__nj as double)"))
    agg = j.agg(
        F.max("__nn").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(term).alias("__mi_m"),
        # marginal entropy sums count each (value, count) once per
        # CELL it appears in weighted by the cell count — i.e. the
        # exact sum_i n_i*ln6(n_i) since sum over cells of a value's
        # n_ij recovers n_i
        F.sum(F.col("__nij") * ha_term).alias("__ha_m"),
        F.sum(F.col("__nij") * hb_term).alias("__hb_m"),
    )
    lnN = F.expr(LN6.format(x="cast(n_rows as double)"))

    def _final(milli_sum):
        # floor-round the closing division to 6 dp (portable)
        return F.floor(
            milli_sum.cast("double")
            / F.col("n_rows").cast("double")
            + F.lit(0.5)
        ) / F.lit(1000000.0)

    return agg.select(
        "n_rows",
        "n_cells",
        _final(F.col("__mi_m")).alias("mi_nats"),
        ((lnN.cast("double") - F.col("__ha_m").cast("double")
          / F.col("n_rows").cast("double")) / F.lit(1000000.0)).alias("h_a"),
        ((lnN.cast("double") - F.col("__hb_m").cast("double")
          / F.col("n_rows").cast("double")) / F.lit(1000000.0)).alias("h_b"),
    )


def ks_two_sample(
    df: DataFrame,
    value_int_col: str,
    group_col: str,
    group_a,
    group_b,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic between the
    ``group_a`` and ``group_b`` slices of an integer-quantized value:
    one row ``(n_a, n_b, ks_d)`` with

        D = max over x of |ECDF_a(x) - ECDF_b(x)|

    — the standard distribution-drift test statistic (heavier-duty
    than PSI's binned divergence: D is bin-free and metric-exact).
    The caller quantizes the value (KS is invariant under any strictly
    monotone transform, so fixed-point cents/micros change nothing).

    Exactness: per-value side counts are exact integers; the scaled
    deviation ``|cum_a * n_b - cum_b * n_a|`` stays in DECIMAL(38,0)
    (magnitude <= n_a * n_b); the ONE closing division casts the two
    factors to double separately — identical IEEE sequence in the
    oracle — then the portable floor-round to 6 dp. Rows with a NULL
    value are excluded (they have no ECDF position); an empty side
    yields NULL, not a zero-division.

    Scale shape: one (value -> side counts) aggregate, then the
    repo's bucketed two-pass cumulation (quantile_normalize's
    pattern): cumulative offsets run over the model-sized BUCKET
    table, the per-value walk is a window PARTITIONED by value
    bucket, and the final max is one scalar aggregate. No global
    window ever holds the distinct-value table in one task."""
    v = F.col(value_int_col)
    base = df.filter(
        v.isNotNull() & F.col(group_col).isin([group_a, group_b])
    )
    D = "decimal(38,0)"
    g = base.groupBy(value_int_col).agg(
        F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0))
        .cast(D).alias("__ca"),
        F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0))
        .cast(D).alias("__cb"),
    )
    tot = base.agg(
        F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0))
        .cast(D).alias("__na"),
        F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0))
        .cast(D).alias("__nb"),
    )
    bucketed = g.withColumn(
        "__b", (v / bucket_width).cast("bigint")
    )
    counts = bucketed.groupBy("__b").agg(
        F.sum("__ca").alias("__bca"), F.sum("__cb").alias("__bcb")
    )
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__b",
        F.coalesce(F.sum("__bca").over(woff), F.lit(0).cast(D)).alias("__offa"),
        F.coalesce(F.sum("__bcb").over(woff), F.lit(0).cast(D)).alias("__offb"),
    )
    wb = (
        Window.partitionBy("__b")
        .orderBy(value_int_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        bucketed.join(F.broadcast(offsets), "__b")
        .select(
            (F.col("__offa") + F.sum("__ca").over(wb)).alias("__cuma"),
            (F.col("__offb") + F.sum("__cb").over(wb)).alias("__cumb"),
        )
    )
    dev = cum.crossJoin(F.broadcast(tot)).select(
        F.abs(
            F.col("__cuma") * F.col("__nb") - F.col("__cumb") * F.col("__na")
        ).alias("__dev"),
        "__na",
        "__nb",
    )
    return dev.groupBy("__na", "__nb").agg(
        F.max("__dev").alias("__dmax")
    ).select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.when(
            (F.col("__na") > 0) & (F.col("__nb") > 0),
            F.floor(
                F.col("__dmax").cast("double")
                / (F.col("__na").cast("double") * F.col("__nb").cast("double"))
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        ).alias("ks_d"),
    )


def robust_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_int_col: str,
    threshold: str = "5.1891",
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Median/MAD robust outlier flags per group: appends ``__med``,
    ``__mad``, ``is_outlier`` where

        is_outlier = |x - median| * den > num * MAD

    with ``threshold = num/den`` an EXACT decimal fraction (default
    5.1891 ~ 3.5 robust-z at the 1.4826 normal-consistency constant,
    folded into the fraction so no float constant ever multiplies).
    The mean/stddev z-score (``zscore_outliers``) breaks down exactly
    when outliers matter — the outliers inflate the stddev that
    defines them; median and MAD have 50% breakdown.

    Exactness: two passes of the exact LOWER weighted median
    (:func:`group_weighted_median`, unit weights) — value median,
    then median of integer absolute deviations — and one integer
    cross-multiplied flag. No floats anywhere, so flags replay
    bit-identically cross-engine. MAD = 0 (>= half the group equals
    its median) flags every row strictly off the median — the
    documented degenerate behavior of robust z. Rows with NULL value
    get a NULL flag; NULL group keys are legal groups (NULL-safe
    joins throughout)."""
    from fractions import Fraction

    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator
    v = F.col(value_int_col)
    base = df.filter(v.isNotNull()).withColumn("__one", F.lit(1))
    med = group_weighted_median(
        base, group_cols, value_int_col, "__one", bucket_width
    ).select(*group_cols, F.col("weighted_median").alias("__med"))
    # med/mad are group-cardinality model tables: broadcast explicitly —
    # an eqNullSafe condition silently loses the stats-chosen broadcast
    # (the r05 lesson), and an SMJ here would sort the corpus twice
    with_med = _ns_join(base, med, group_cols, broadcast_right=True).withColumn(
        "__dev", F.abs(v - F.col("__med"))
    )
    mad = group_weighted_median(
        with_med, group_cols, "__dev", "__one", bucket_width
    ).select(*group_cols, F.col("weighted_median").alias("__mad"))
    flagged = _ns_join(
        with_med, mad, group_cols, broadcast_right=True
    ).withColumn(
        "is_outlier",
        (F.lit(den) * F.col("__dev")) > (F.lit(num) * F.col("__mad")),
    ).drop("__one", "__dev")
    # NULL-value rows re-attach with NULL med/mad/flag (plan-side
    # union — no isEmpty() driver action; an empty side is free)
    nulls = (
        df.filter(v.isNull())
        .withColumn("__med", F.lit(None).cast("bigint"))
        .withColumn("__mad", F.lit(None).cast("bigint"))
        .withColumn("is_outlier", F.lit(None).cast("boolean"))
    )
    return flagged.unionByName(nulls)


def group_rate_wilson_ci(
    df: DataFrame,
    group_cols: list[str],
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Per-group binomial rate with the Wilson score interval:
    ``(*group_cols, n, n_success, rate, ci_lo, ci_hi)`` — the
    right-behaved rate CI (never escapes [0, 1], sane at 0/1 rates
    and small n, unlike the normal-approximation +-z*sqrt(pq/n)).

    ``success_col`` is a boolean/0-1 column; NULL successes are
    excluded (unknown outcome rows can't be counted either way).
    Exactness: (n, s) are exact integers; every downstream arithmetic
    op (the Wilson center/half-width, one sqrt — correctly-rounded
    IEEE in every engine) is spelled identically in the oracle, so
    the floor-rounded 6-dp bounds replay bit-identically. One
    map-side-combinable aggregate, no joins, no windows."""
    zl = F.lit(float(z))
    base = df.filter(F.col(success_col).isNotNull())
    agg = base.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col(success_col).cast("int")).cast("bigint").alias("n_success"),
    )
    nd = F.col("n").cast("double")
    p = F.col("n_success").cast("double") / nd
    z2 = zl * zl
    denom = F.lit(1.0) + z2 / nd
    center = (p + z2 / (F.lit(2.0) * nd)) / denom
    half = (
        zl
        * F.sqrt(
            p * (F.lit(1.0) - p) / nd
            + z2 / (F.lit(4.0) * nd * nd)
        )
        / denom
    )

    def _r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return agg.select(
        *group_cols,
        "n",
        "n_success",
        _r6(p).alias("rate"),
        _r6(F.greatest(F.lit(0.0), center - half)).alias("ci_lo"),
        _r6(F.least(F.lit(1.0), center + half)).alias("ci_hi"),
    )


def ks_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_int_col: str,
    side_col: str,
    side_a,
    side_b,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov D — :func:`ks_two_sample`
    stratified by segment (the A/B-readout shape: which segment's value
    distribution differs between cohorts?): ``(*group_cols, n_a, n_b,
    ks_d)``, one row per group with a non-NULL value on either side.
    Same exact-integer recipe; the cumulation windows are PARTITIONED
    by (group, value-bucket), offsets run over the model-sized
    per-group bucket table (broadcast), and groups where either side
    is empty return a NULL ``ks_d`` (a one-sided ECDF has no gap to
    measure). NULL group keys are legal groups (NULL-safe joins)."""
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    v = F.col(value_int_col)
    D = "decimal(38,0)"
    base = df.filter(
        v.isNotNull() & F.col(side_col).isin([side_a, side_b])
    )
    g = base.groupBy(*group_cols, value_int_col).agg(
        F.sum(F.when(F.col(side_col) == side_a, 1).otherwise(0))
        .cast(D).alias("__ca"),
        F.sum(F.when(F.col(side_col) == side_b, 1).otherwise(0))
        .cast(D).alias("__cb"),
    )
    tot = base.groupBy(*group_cols).agg(
        F.sum(F.when(F.col(side_col) == side_a, 1).otherwise(0))
        .cast(D).alias("__na"),
        F.sum(F.when(F.col(side_col) == side_b, 1).otherwise(0))
        .cast(D).alias("__nb"),
    )
    bucketed = g.withColumn("__b", (v / bucket_width).cast("bigint"))
    counts = bucketed.groupBy(*group_cols, "__b").agg(
        F.sum("__ca").alias("__bca"), F.sum("__cb").alias("__bcb")
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *group_cols,
        "__b",
        F.coalesce(F.sum("__bca").over(woff), F.lit(0).cast(D)).alias("__offa"),
        F.coalesce(F.sum("__bcb").over(woff), F.lit(0).cast(D)).alias("__offb"),
    )
    wb = (
        Window.partitionBy(*group_cols, "__b")
        .orderBy(value_int_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = _ns_join(
        bucketed, offsets, group_cols + ["__b"], broadcast_right=True
    ).select(
        *group_cols,
        (F.col("__offa") + F.sum("__ca").over(wb)).alias("__cuma"),
        (F.col("__offb") + F.sum("__cb").over(wb)).alias("__cumb"),
    )
    dev = _ns_join(cum, tot, group_cols, broadcast_right=True).select(
        *group_cols,
        "__na",
        "__nb",
        F.abs(
            F.col("__cuma") * F.col("__nb") - F.col("__cumb") * F.col("__na")
        ).alias("__dev"),
    )
    return dev.groupBy(*group_cols).agg(
        F.max("__na").cast("bigint").alias("n_a"),
        F.max("__nb").cast("bigint").alias("n_b"),
        F.when(
            (F.max("__na") > 0) & (F.max("__nb") > 0),
            F.floor(
                F.max("__dev").cast("double")
                / (
                    F.max("__na").cast("double")
                    * F.max("__nb").cast("double")
                )
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        ).alias("ks_d"),
    )


def _survival_day_risk(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    start_type: str,
    event_type: str,
) -> DataFrame:
    """Shared survival preprocessing (extracted r10 for Nelson-Aalen):
    per-subject first-start -> first-qualifying-event durations in
    whole days, right-censored at the corpus max timestamp, rolled to
    the day-granular risk table ``(__dur, __d, __c, __nrisk)``. Two
    subject-keyed aggregates + one day aggregate; the risk cumulation
    windows run over the MODEL-sized duration table. Subjects whose
    only start ts is NULL are dropped explicitly (Spark NULLS FIRST vs
    DuckDB NULLS LAST would diverge the cumulative sums — r8
    ADVICE)."""
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__et"),
    )
    cmax = ev.agg(F.max(F.unix_micros(F.col("__ts"))).alias("__cmax"))
    starts = (
        ev.filter(F.col("__et") == start_type)
        .groupBy("__u")
        .agg(F.min(F.unix_micros(F.col("__ts"))).alias("__t0"))
        .filter(F.col("__t0").isNotNull())
    )
    hits = (
        ev.filter(F.col("__et") == event_type)
        .select("__u", F.unix_micros(F.col("__ts")).alias("__tp"))
        # user-keyed equi-join: both sides are subject-cardinality at
        # 100 TB — co-partitioned shuffle is the correct plan (AQE
        # broadcasts at gate scale); audited in test_plans
        .join(starts.select("__u", "__t0"), "__u")
        .filter(F.col("__tp") >= F.col("__t0"))
        .groupBy("__u")
        .agg(F.min("__tp").alias("__te"))
    )
    subj = (
        starts.join(hits, "__u", "left")
        .crossJoin(F.broadcast(cmax))
        .select(
            F.expr(
                "cast((coalesce(__te, __cmax) - __t0) div 86400000000"
                " as bigint)"
            ).alias("__dur"),
            F.when(F.col("__te").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("__obs"),
        )
    )
    day = subj.groupBy("__dur").agg(
        F.sum("__obs").cast("bigint").alias("__d"),
        F.sum(1 - F.col("__obs")).cast("bigint").alias("__c"),
    )
    n_total = subj.agg(F.count("*").cast("bigint").alias("__n"))
    w_prior = Window.orderBy("__dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return day.crossJoin(F.broadcast(n_total)).withColumn(
        "__nrisk",
        F.col("__n")
        - F.coalesce(
            F.sum(F.col("__d") + F.col("__c")).over(w_prior), F.lit(0)
        ),
    )


def kaplan_meier(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    start_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-event cohorts (the
    product-limit estimator — churn/retention/time-to-conversion
    analysis): per subject, the duration in whole days from the first
    ``start_type`` event to the first subsequent ``event_type`` event,
    right-censored at the global observation end (the corpus max
    timestamp) when no such event occurs.  Returns one row per event
    time: ``(dur_days, n_risk, d_events, c_censored, log_surv_micro,
    survival)`` where ``survival`` is the running product
    ``prod(1 - d_i / n_i)`` over event times ``<= dur_days``.

    100 TB shape: two subject-keyed aggregates (first start / first
    qualifying event) and ONE day-granular aggregate; the risk-set
    cumulation windows run over the MODEL-sized duration table (one
    row per distinct day, bounded by the observation window), never
    over subjects.  The observation-end scalar is an audited one-row
    broadcast cross.

    Cross-engine exactness: durations are integer micro-second
    differences floor-divided to days (exact); risk counts are integer
    window sums; the product folds as a cumulative INTEGER sum of
    per-term ``ln(1 - d/n)`` quantized to millionths (the house
    transcendental rule — libm ulp differences die in the quantize),
    shipped exactly as ``log_surv_micro`` with ``survival`` derived by
    one identically-spelled ``exp`` + floor-round."""
    risked = _survival_day_risk(
        events, user_col, ts_col, type_col, start_type, event_type
    )
    w_cum = Window.orderBy("__dur").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risked = (
        risked
        .withColumn(
            "__lnm",
            F.when(
                (F.col("__d") > 0) & (F.col("__nrisk") > F.col("__d")),
                F.expr(
                    "cast(floor(ln(cast(__nrisk - __d as double)"
                    " / cast(__nrisk as double)) * 1e6 + 0.5) as bigint)"
                ),
            )
            .when(F.col("__d") > 0, F.lit(None).cast("bigint"))
            .otherwise(F.lit(0)),
        )
    )
    # a time where EVERY remaining subject dies (__nrisk == __d) sends
    # ln to -inf: the curve hits exact zero there and stays.  Windowed
    # SUM skips NULLs in both engines, so the sentinel is an explicit
    # cumulative flag: any NULL term so far -> NULL micro-sum,
    # survival 0.0, carried to every later row.
    out = (
        risked.withColumn("__ls", F.sum("__lnm").over(w_cum))
        .withColumn(
            "__dead",
            F.sum(
                F.when(F.col("__lnm").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).over(w_cum),
        )
        .filter(F.col("__d") > 0)
        .select(
            F.col("__dur").alias("dur_days"),
            F.col("__nrisk").cast("bigint").alias("n_risk"),
            F.col("__d").alias("d_events"),
            F.col("__c").alias("c_censored"),
            F.when(F.col("__dead") == 0, F.col("__ls")).alias(
                "log_surv_micro"
            ),
            F.when(F.col("__dead") > 0, F.lit(0.0))
            .otherwise(
                F.expr("floor(exp(cast(__ls as double) / 1e6) * 1e6 + 0.5)"
                       " / 1e6")
            )
            .alias("survival"),
        )
    )
    return out


def nelson_aalen(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    start_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator — the survival
    family's closer next to :func:`kaplan_meier`: where KM estimates
    the survival PROBABILITY via the product limit, Nelson-Aalen
    estimates the cumulative HAZARD directly, ``H(t) = sum_{t_i <= t}
    d_i / n_i``, with the standard variance ``sum d_i / n_i^2`` — the
    preferred estimator for hazard-shape reading and for small risk
    sets (no product collapse when a time kills every subject at
    risk). One row per event time: ``(dur_days, n_risk, d_events,
    cum_hazard, cum_hazard_var)``.

    Shares the day-granular risk table with KM
    (:func:`_survival_day_risk`); per-term ``d/n`` and ``d/n^2``
    quantize to INTEGER micro / pico units immediately (one floor each
    — pure rational terms, no transcendental), so the cumulative sums
    are order-free exact integer additions that replay bit-identically
    cross-engine; the reported doubles are single divisions of those
    integers."""
    risked = _survival_day_risk(
        events, user_col, ts_col, type_col, start_type, event_type
    )
    w_cum = Window.orderBy("__dur").rowsBetween(
        Window.unboundedPreceding, 0
    )
    terms = risked.withColumn(
        "__hm",
        F.expr(
            "cast(floor(cast(__d as double) / cast(__nrisk as double)"
            " * 1e6 + 0.5) as bigint)"
        ),
    ).withColumn(
        "__vp",
        F.expr(
            "cast(floor(cast(__d as double) / cast(__nrisk as double)"
            " / cast(__nrisk as double) * 1e12 + 0.5) as bigint)"
        ),
    )
    return (
        terms.withColumn("__hs", F.sum("__hm").over(w_cum))
        .withColumn("__vs", F.sum("__vp").over(w_cum))
        .filter(F.col("__d") > 0)
        .select(
            F.col("__dur").alias("dur_days"),
            F.col("__nrisk").cast("bigint").alias("n_risk"),
            F.col("__d").alias("d_events"),
            F.expr("cast(__hs as double) / 1e6").alias("cum_hazard"),
            F.expr("cast(__vs as double) / 1e12").alias("cum_hazard_var"),
        )
    )


def group_theil_sen(
    pts: DataFrame,
    group_cols: list[str],
    x_col: str,
    v_micro_col: str,
) -> DataFrame:
    """Theil-Sen robust trend per group: the MEDIAN of all pairwise
    slopes ``(v_j - v_i) / (x_j - x_i)`` over a group's points — the
    estimator that shrugs off the outliers OLS chases (up to ~29%
    contamination).  Expects an already-AGGREGATED point table
    (``x_col`` integer positions — e.g. day ordinals, ``v_micro_col``
    integer micro-unit values) and returns
    ``(*group_cols, n_points, n_pairs, ts_slope)``.

    100 TB shape: the caller reduces the corpus to a MODEL-sized point
    table first (day-granular aggregates are bounded by the
    observation window, not the corpus); the C(n,2) pair explosion is
    a self-join of that model table (broadcast one side) and the
    median is one partitioned rank window over pairs — never a corpus
    shuffle.

    Cross-engine exactness: slopes are single IEEE divisions of exact
    integer differences (identically spelled); the median picks the
    rank-⌈n/2⌉ and rank-⌊n/2⌋+1 VALUES (ties in slope order cannot
    change the selected values) and averages them as
    ``(min + max) / 2`` — one add, one divide; floor-rounded to 6
    decimals.

    NULL-key groups are dropped UP FRONT (matching the oracle, which
    also drops them): the pre-fix shape matched NULL groups through
    the pair join with eqNullSafe only to discard them at the final
    name join — wasted pair work and inconsistent semantics (r8
    ADVICE)."""
    pts = pts.na.drop(subset=group_cols)
    a = pts.select(
        *group_cols,
        F.col(x_col).alias("__xa"),
        F.col(v_micro_col).alias("__va"),
    )
    b = pts.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        F.col(x_col).alias("__xb"),
        F.col(v_micro_col).alias("__vb"),
    )
    cond = [
        a[c] == b[f"__g_{c}"] for c in group_cols
    ]
    pairs = (
        a.join(F.broadcast(b), cond)
        .filter(F.col("__xa") < F.col("__xb"))
        .select(
            *group_cols,
            F.expr(
                "cast(__vb - __va as double)"
                " / cast(__xb - __xa as double) / 1e6"
            ).alias("__sl"),
        )
    )
    w_rank = Window.partitionBy(*group_cols).orderBy("__sl")
    w_cnt = Window.partitionBy(*group_cols)
    sel = (
        pairs.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("__cnt", F.count("*").over(w_cnt))
        .filter(
            # integer ranks only: lower middle (cnt+1) div 2, upper
            # middle cnt div 2 + 1 (equal when cnt is odd)
            (F.col("__rn") == F.expr("(__cnt + 1) div 2"))
            | (F.col("__rn") == F.expr("__cnt div 2 + 1"))
        )
    )
    npts = pts.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_points")
    )
    med = sel.groupBy(*group_cols).agg(
        F.max("__cnt").cast("bigint").alias("n_pairs"),
        F.expr(
            "floor((min(__sl) + max(__sl)) / 2.0 * 1e6 + 0.5) / 1e6"
        ).alias("ts_slope"),
    )
    return npts.join(med, group_cols).select(
        *group_cols, "n_points", "n_pairs", "ts_slope"
    )


def mann_whitney_u(
    df: DataFrame,
    value_int_col: str,
    group_col: str,
    group_a,
    group_b,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Exact two-sample Mann-Whitney U (Wilcoxon rank-sum) between the
    ``group_a`` and ``group_b`` slices of an integer-quantized value:
    one row ``(n_a, n_b, u_a, u_b, auc_effect, z_approx)`` — the
    rank-based location test that pairs with :func:`ks_two_sample`'s
    shape test, and ``auc_effect = U_a / (n_a * n_b)`` is EXACTLY the
    probability a random A value exceeds a random B value (the
    common-language effect size == ROC AUC of the value as a
    classifier for the group).

    Exactness: midranks with ties stay integer by working in DOUBLED
    ranks (``2 * midrank = 2 * prior + t + 1`` at a value with ``t``
    ties); ``2 * R_a = sum(c_a * midrank2)`` accumulates in
    DECIMAL(38,0); U values are exact halves (doubles represent them
    exactly). ``z_approx`` uses the tie-corrected normal approximation
    — the one closing sqrt/divisions spelled identically in the
    oracle, floor-rounded to 6 dp.

    Scale shape: identical to ks_two_sample — one (value -> side
    counts) aggregate, bucketed two-pass cumulation (offsets over the
    model-sized bucket table, per-value walk partitioned by bucket),
    and scalar-broadcast totals. NULL values are excluded; an empty
    side yields NULL u/z."""
    v = F.col(value_int_col)
    base = df.filter(
        v.isNotNull() & F.col(group_col).isin([group_a, group_b])
    )
    D = "decimal(38,0)"
    g = base.groupBy(value_int_col).agg(
        F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0))
        .cast(D).alias("__ca"),
        F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0))
        .cast(D).alias("__cb"),
    )
    tot = base.agg(
        F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0))
        .cast(D).alias("__na"),
        F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0))
        .cast(D).alias("__nb"),
    )
    bucketed = g.withColumn("__b", (v / bucket_width).cast("bigint"))
    counts = bucketed.groupBy("__b").agg(
        F.sum(F.col("__ca") + F.col("__cb")).alias("__bt")
    )
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__b",
        F.coalesce(F.sum("__bt").over(woff), F.lit(0).cast(D)).alias(
            "__off"
        ),
    )
    wb = (
        Window.partitionBy("__b")
        .orderBy(value_int_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_value = (
        bucketed.join(F.broadcast(offsets), "__b")
        .select(
            "__ca",
            "__cb",
            (
                F.col("__off")
                + F.coalesce(
                    F.sum(F.col("__ca") + F.col("__cb")).over(wb),
                    F.lit(0).cast(D),
                )
            ).alias("__prior"),
        )
        .select(
            "__ca",
            "__cb",
            # doubled midrank: 2*prior + t + 1 (t = ca + cb ties here)
            (
                F.lit(2).cast(D) * F.col("__prior")
                + F.col("__ca") + F.col("__cb") + F.lit(1).cast(D)
            ).alias("__mr2"),
            (F.col("__ca") + F.col("__cb")).alias("__t"),
        )
    )
    agg = per_value.agg(
        F.sum(F.col("__ca") * F.col("__mr2")).alias("__r2a"),
        # tie correction term: sum t^3 - t, exact in DECIMAL(38,0)
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__tcor"),
    )
    out = agg.crossJoin(F.broadcast(tot)).select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        # 2*U_a = 2*R_a - n_a*(n_a+1); U exact in halves
        (
            (
                F.col("__r2a")
                - F.col("__na") * (F.col("__na") + F.lit(1).cast(D))
            ).cast("double")
            / F.lit(2.0)
        ).alias("__ua"),
        F.col("__na").cast("double").alias("__nad"),
        F.col("__nb").cast("double").alias("__nbd"),
        F.col("__tcor").cast("double").alias("__tc"),
    )
    n = F.col("__nad") + F.col("__nbd")
    var = (
        F.col("__nad") * F.col("__nbd") / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("__tc") / (n * (n - F.lit(1.0))))
    )
    return out.select(
        "n_a",
        "n_b",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.col("__ua"))
        .alias("u_a"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.col("__nad") * F.col("__nbd") - F.col("__ua"),
        ).alias("u_b"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.expr(
                "floor(__ua / (__nad * __nbd) * 1e6 + 0.5) / 1e6"
            ),
        ).alias("auc_effect"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
            F.floor(
                (F.col("__ua") - F.col("__nad") * F.col("__nbd") / F.lit(2.0))
                / F.sqrt(var)
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        ).alias("z_approx"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_int_col: str,
    group_col: str,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Exact Kruskal-Wallis H test across ALL groups of an integer-
    quantized value — the k-sample generalization of
    :func:`mann_whitney_u` (does at least one group's location
    differ?). One row: ``(n_total, k_groups, h_stat, tie_correction,
    h_corrected)``.

    Exactness: the doubled-midrank device keeps every rank integer
    (``2*prior + t + 1`` at a value with ``t`` ties); per-group
    doubled rank sums AND their squares accumulate in DECIMAL(38,0)
    (``R2^2 <= 4e24`` at a million rows — far inside 38 digits, and
    inside DuckDB's HUGEINT); each group's ``R_i^2 / n_i`` term is ONE
    double division of exact integers, folded in group-key order (the
    model-sized float-fold rule; NULL group keys fold under a chr(0)
    sentinel so both engines order them identically); the closing H
    assembly is identically-spelled double arithmetic, floor-rounded
    to 6 dp. NULL group keys form their own group (NULL-key
    discipline); NULL values are excluded.

    Scale shape: one (value, group) aggregate, the bucketed two-pass
    rank cumulation over the model-sized value table (offsets window
    over bucket counts, per-value walk partitioned by bucket), one
    group-sized aggregate, one scalar fold — no corpus-sized window."""
    D = "decimal(38,0)"
    v = F.col(value_int_col)
    base = df.filter(v.isNotNull()).select(
        v.alias("__v"), F.col(group_col).alias("__g")
    )
    g = base.groupBy("__v", "__g").agg(F.count("*").cast(D).alias("__c"))
    vt = g.groupBy("__v").agg(F.sum("__c").alias("__t"))
    b = vt.withColumn("__b", (F.col("__v") / bucket_width).cast("bigint"))
    counts = b.groupBy("__b").agg(F.sum("__t").alias("__bc"))
    woff = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "__b",
        F.coalesce(F.sum("__bc").over(woff), F.lit(0).cast(D)).alias(
            "__off"
        ),
    )
    wb = (
        Window.partitionBy("__b")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    mr = (
        b.join(F.broadcast(offs), "__b")
        .select(
            "__v",
            "__t",
            (
                F.col("__off")
                + F.coalesce(F.sum("__t").over(wb), F.lit(0).cast(D))
            ).alias("__prior"),
        )
        .select(
            "__v",
            "__t",
            (
                F.lit(2).cast(D) * F.col("__prior")
                + F.col("__t")
                + F.lit(1).cast(D)
            ).alias("__mr2"),
        )
    )
    per_g = (
        g.join(mr.select("__v", "__mr2"), "__v")
        .groupBy("__g")
        .agg(
            F.sum("__c").alias("__n"),
            F.sum(F.col("__c") * F.col("__mr2")).alias("__r2"),
        )
    )
    tcor = mr.agg(
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__tcor")
    )
    terms = per_g.select(
        F.coalesce(F.col("__g").cast("string"), F.lit("\x00")).alias("__k"),
        F.expr(
            "cast(__r2 * __r2 as double) / (4.0 * cast(__n as double))"
        ).alias("__t"),
        F.col("__n"),
    )
    fold = (
        "aggregate(transform(sort_array(collect_list(struct(__k, __t))), "
        "s -> s.__t), cast(0.0 as double), (a, x) -> a + x)"
    )
    folded = terms.agg(
        F.expr(fold).alias("__s"),
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("__n").alias("__N"),
    )
    out = folded.crossJoin(F.broadcast(tcor))
    nd = F.col("__N").cast("double")
    h_raw = (
        F.lit(12.0) / (nd * (nd + F.lit(1.0))) * F.col("__s")
        - F.lit(3.0) * (nd + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("__tcor").cast("double") / (
        nd * nd * nd - nd
    )
    ok = F.col("__N") > 1
    return out.select(
        F.col("__N").cast("bigint").alias("n_total"),
        "k_groups",
        F.when(ok, F.floor(h_raw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("h_stat"),
        F.when(ok, F.floor(corr * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
        .alias("tie_correction"),
        F.when(
            ok & (corr > F.lit(0.0)),
            F.floor(h_raw / corr * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("h_corrected"),
    )


def kendall_tau_by_group(
    df: DataFrame,
    group_cols: list[str],
    x_int_col: str,
    y_int_col: str,
) -> DataFrame:
    """Exact Kendall tau-b per group from the JOINT (x, y) value
    histogram: concordant/discordant pair counts assemble from cell
    products, tie corrections from the marginals — never a row-pair
    explosion. Returns ``(*group_cols, n, concordant, discordant,
    tau_b)``.

    CONTRACT: the caller quantizes x and y to BOUNDED grids (day
    indices, fixed-width value buckets) so the cell table is
    model-sized — the C(cells, 2) product join is the cost model, and
    it is broadcast. With n rows and tie vectors tx/ty:
    ``A2 = n(n-1) - sum tx(tx-1)``, ``B2`` likewise for y, and
    ``tau_b = 2(C - D) / sqrt(A2 * B2)`` — every count and the
    product inside the sqrt computed exactly in
    DECIMAL(38,0)/HUGEINT, then ONE identically-rounded cast to
    double on each side (the portability invariant: both engines'
    decimal→double casts are correctly rounded, NOT that the product
    fits double's 2^53 exact range — at a million rows it doesn't),
    ONE sqrt + division, floor-rounded to 6 dp.
    NULL x/y rows are excluded; NULL group keys are kept (NULL-key
    discipline, eqNullSafe cell join with explicit broadcast — the
    r8 per-callsite broadcast rule)."""
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    D = "decimal(38,0)"
    cells = (
        df.filter(
            F.col(x_int_col).isNotNull() & F.col(y_int_col).isNotNull()
        )
        .groupBy(
            *group_cols,
            F.col(x_int_col).alias("__x"),
            F.col(y_int_col).alias("__y"),
        )
        .agg(F.count("*").cast(D).alias("__c"))
    )
    a = cells.select(
        *group_cols,
        F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
        F.col("__c").alias("__ca"),
    )
    bb = cells.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
        F.col("__c").alias("__cb"),
    )
    cond = [a[c].eqNullSafe(bb[f"__g_{c}"]) for c in group_cols]
    cd = (
        a.join(F.broadcast(bb), cond)
        .filter(F.col("__xa") < F.col("__xb"))
        .groupBy(*group_cols)
        .agg(
            F.sum(
                F.when(
                    F.col("__ya") < F.col("__yb"),
                    F.col("__ca") * F.col("__cb"),
                ).otherwise(F.lit(0).cast(D))
            ).alias("__C"),
            F.sum(
                F.when(
                    F.col("__ya") > F.col("__yb"),
                    F.col("__ca") * F.col("__cb"),
                ).otherwise(F.lit(0).cast(D))
            ).alias("__D"),
        )
    )
    mx = (
        cells.groupBy(*group_cols, "__x")
        .agg(F.sum("__c").alias("__tx"))
        .groupBy(*group_cols)
        .agg(
            F.sum("__tx").alias("__n"),
            F.sum(F.col("__tx") * F.col("__tx") - F.col("__tx")).alias(
                "__sx"
            ),
        )
    )
    my = (
        cells.groupBy(*group_cols, "__y")
        .agg(F.sum("__c").alias("__ty"))
        .groupBy(*group_cols)
        .agg(
            F.sum(F.col("__ty") * F.col("__ty") - F.col("__ty")).alias(
                "__sy"
            )
        )
    )
    j = _ns_join(
        _ns_join(cd, mx, group_cols, broadcast_right=True),
        my,
        group_cols,
        broadcast_right=True,
    )
    nn = F.col("__n")
    a2 = nn * (nn - F.lit(1).cast(D)) - F.col("__sx")
    b2 = nn * (nn - F.lit(1).cast(D)) - F.col("__sy")
    return j.select(
        *group_cols,
        nn.cast("bigint").alias("n"),
        F.col("__C").cast("bigint").alias("concordant"),
        F.col("__D").cast("bigint").alias("discordant"),
        F.when(
            (a2 > 0) & (b2 > 0),
            F.expr(
                "floor(2.0 * cast(__C - __D as double)"
                " / sqrt(cast((__n * (__n - 1) - __sx)"
                " * (__n * (__n - 1) - __sy) as double))"
                " * 1e6 + 0.5) / 1e6"
            ),
        ).alias("tau_b"),
    )


def exp_hazard_ratio(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    start_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Exponential (constant-hazard) MLE hazard-ratio A/B on
    time-to-event with right censoring — the parametric sibling of
    :func:`logrank_test` (cohort = user parity, the repo's standard
    split): per cohort the MLE rate is ``lambda_i = d_i / T_i`` with
    ``d`` observed conversions and ``T`` total exposure in days; the
    ratio ``HR = lambda_a / lambda_b = (d_a * T_b) / (d_b * T_a)`` is
    an exact RATIONAL of integer counts, ``ln HR`` quantizes to
    integer micros immediately (house transcendental rule), and the
    Wald ``z = ln HR / sqrt(1/d_a + 1/d_b)`` closes in
    identically-spelled doubles. One row:
    ``(d_a, t_a_days, d_b, t_b_days, hazard_ratio, z_wald)``.

    Subject construction is the shared survival recipe (first signup
    -> first subsequent purchase, censor at corpus max ts, NULL-t0
    subjects dropped in both engines). Scale shape: two user-keyed
    aggregates + one scalar aggregate — no windows at all."""
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__et"),
    )
    cmax = ev.agg(F.max(F.unix_micros(F.col("__ts"))).alias("__cmax"))
    starts = (
        ev.filter(F.col("__et") == start_type)
        .groupBy("__u")
        .agg(F.min(F.unix_micros(F.col("__ts"))).alias("__t0"))
        .filter(F.col("__t0").isNotNull())
    )
    hits = (
        ev.filter(F.col("__et") == event_type)
        .select("__u", F.unix_micros(F.col("__ts")).alias("__tp"))
        .join(starts.select("__u", "__t0"), "__u")
        .filter(F.col("__tp") >= F.col("__t0"))
        .groupBy("__u")
        .agg(F.min("__tp").alias("__te"))
    )
    subj = (
        starts.join(hits, "__u", "left")
        .crossJoin(F.broadcast(cmax))
        .select(
            (F.col("__u") % 2).cast("int").alias("__coh"),
            F.expr(
                "cast((coalesce(__te, __cmax) - __t0) div 86400000000"
                " as bigint)"
            ).alias("__dur"),
            F.when(F.col("__te").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("__obs"),
        )
    )
    agg = subj.agg(
        F.sum(F.when(F.col("__coh") == 0, F.col("__obs")).otherwise(0))
        .cast("bigint").alias("d_a"),
        F.sum(F.when(F.col("__coh") == 0, F.col("__dur")).otherwise(0))
        .cast("bigint").alias("t_a_days"),
        F.sum(F.when(F.col("__coh") == 1, F.col("__obs")).otherwise(0))
        .cast("bigint").alias("d_b"),
        F.sum(F.when(F.col("__coh") == 1, F.col("__dur")).otherwise(0))
        .cast("bigint").alias("t_b_days"),
    )
    ok = (
        (F.col("d_a") > 0)
        & (F.col("d_b") > 0)
        & (F.col("t_a_days") > 0)
        & (F.col("t_b_days") > 0)
    )
    lnm = F.expr(
        "cast(floor(ln(cast(d_a * t_b_days as double)"
        " / cast(d_b * t_a_days as double)) * 1e6 + 0.5) as bigint)"
    )
    return agg.select(
        "d_a",
        "t_a_days",
        "d_b",
        "t_b_days",
        F.when(
            ok,
            F.expr(
                "floor(cast(d_a * t_b_days as double)"
                " / cast(d_b * t_a_days as double) * 1e6 + 0.5) / 1e6"
            ),
        ).alias("hazard_ratio"),
        F.when(
            ok,
            F.expr(
                "floor(cast(floor(ln(cast(d_a * t_b_days as double)"
                " / cast(d_b * t_a_days as double)) * 1e6 + 0.5) as bigint)"
                " / 1e6"
                " / sqrt(1.0 / cast(d_a as double)"
                " + 1.0 / cast(d_b as double)) * 1e6 + 0.5) / 1e6"
            ),
        ).alias("z_wald"),
    )


def anova_oneway(
    df: DataFrame,
    value_int_col: str,
    group_col: str,
) -> DataFrame:
    """Exact-moment one-way ANOVA F across ALL groups of an
    integer-quantized value — the parametric sibling of
    :func:`kruskal_wallis` (means instead of ranks). One row:
    ``(n_total, k_groups, f_stat, ssb_micro, ssw_micro)`` — the sums
    of squares ship as BIGINT micro-units (floor-quantized to 1e6
    units of the squared input scale), not as raw doubles.

    Exactness: per-group ``(n, sum, sum-of-squares)`` accumulate in
    DECIMAL(38,0) (order-free integer moments — the house PCA trick);
    ``sum_i s_i^2/n_i`` takes ONE double division per group with the
    squares computed exactly in decimal first, folded in group-key
    order (chr(0) NULL sentinel); SSB/SSW/F assemble in
    identically-spelled doubles, floor-rounded to 6 dp. NULL groups
    are their own group; NULL values excluded. Degenerate cases
    (k < 2, N <= k, SSW == 0) yield NULL F.

    Scale shape: ONE map-side-combinable aggregate on the group key,
    then a k-row fold — nothing else touches the corpus."""
    D = "decimal(38,0)"
    v = F.col(value_int_col)
    per_g = (
        df.filter(v.isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.count("*").cast(D).alias("__n"),
            F.sum(v.cast(D)).alias("__s"),
            F.sum(v.cast(D) * v.cast(D)).alias("__q"),
        )
    )
    terms = per_g.select(
        F.coalesce(F.col("__g").cast("string"), F.lit("\x00")).alias("__k"),
        F.expr(
            "cast(__s * __s as double) / cast(__n as double)"
        ).alias("__t"),
        "__n",
        "__s",
        "__q",
    )
    fold = (
        "aggregate(transform(sort_array(collect_list(struct(__k, __t))), "
        "s -> s.__t), cast(0.0 as double), (a, x) -> a + x)"
    )
    agg = terms.agg(
        F.expr(fold).alias("__sb"),
        F.count("*").cast("bigint").alias("k_groups"),
        F.sum("__n").alias("__N"),
        F.sum("__s").alias("__S"),
        F.sum("__q").alias("__Q"),
    )
    nd = F.col("__N").cast("double")
    kd = F.col("k_groups").cast("double")
    grand = F.expr("cast(__S * __S as double)") / nd
    ssb = F.col("__sb") - grand
    ssw = F.col("__Q").cast("double") - F.col("__sb")
    ok = (F.col("k_groups") > 1) & (F.col("__N") > F.col("k_groups"))
    f_stat = (ssb / (kd - F.lit(1.0))) / (ssw / (nd - kd))
    return agg.select(
        F.col("__N").cast("bigint").alias("n_total"),
        "k_groups",
        F.when(
            ok & (ssw > F.lit(0.0)),
            F.floor(f_stat * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("f_stat"),
        F.when(ok, F.floor(ssb * F.lit(1e-6) + F.lit(0.5))).cast(
            "bigint"
        ).alias("ssb_micro"),
        F.when(ok, F.floor(ssw * F.lit(1e-6) + F.lit(0.5))).cast(
            "bigint"
        ).alias("ssw_micro"),
    )


def welch_ttest(
    df: DataFrame,
    value_int_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test on an
    integer-quantized value — the parametric sibling of
    :func:`mann_whitney_u` (mean difference instead of rank shift,
    robust to unequal variances where Student's pooled t is not).
    One row: ``(n_a, n_b, mean_a, mean_b, t_stat, df_welch)``.

    Exactness: both sides' ``(n, sum, sum-of-squares)`` are exact
    DECIMAL(38,0) integer moments from ONE aggregate; each sample
    variance is assembled from those integers with single divisions
    (``(q - s^2/n) / (n-1)``), and t plus the Welch-Satterthwaite df
    close in identically-spelled doubles, floor-rounded to 6 dp.
    NULL values excluded; a side with n < 2 (no variance) yields NULL
    t/df."""
    D = "decimal(38,0)"
    v = F.col(value_int_col)
    base = df.filter(
        v.isNotNull() & F.col(group_col).isin([group_a, group_b])
    )
    agg = base.agg(
        F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0))
        .cast(D).alias("__na"),
        F.sum(
            F.when(F.col(group_col) == group_a, v).otherwise(0).cast(D)
        ).alias("__sa"),
        F.sum(
            F.when(F.col(group_col) == group_a, v.cast(D) * v.cast(D))
            .otherwise(F.lit(0).cast(D))
        ).alias("__qa"),
        F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0))
        .cast(D).alias("__nb"),
        F.sum(
            F.when(F.col(group_col) == group_b, v).otherwise(0).cast(D)
        ).alias("__sb"),
        F.sum(
            F.when(F.col(group_col) == group_b, v.cast(D) * v.cast(D))
            .otherwise(F.lit(0).cast(D))
        ).alias("__qb"),
    )
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    ma = F.col("__sa").cast("double") / na
    mb = F.col("__sb").cast("double") / nb
    va = (
        F.col("__qa").cast("double")
        - F.expr("cast(__sa * __sa as double)") / na
    ) / (na - F.lit(1.0))
    vb = (
        F.col("__qb").cast("double")
        - F.expr("cast(__sb * __sb as double)") / nb
    ) / (nb - F.lit(1.0))
    se2 = va / na + vb / nb
    tstat = (ma - mb) / F.sqrt(se2)
    dfw = (se2 * se2) / (
        (va / na) * (va / na) / (na - F.lit(1.0))
        + (vb / nb) * (vb / nb) / (nb - F.lit(1.0))
    )
    ok = (F.col("__na") > 1) & (F.col("__nb") > 1)
    return agg.select(
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.when(
            F.col("__na") > 0,
            F.floor(ma * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("mean_a"),
        F.when(
            F.col("__nb") > 0,
            F.floor(mb * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("mean_b"),
        F.when(
            ok & (se2 > F.lit(0.0)),
            F.floor(tstat * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("t_stat"),
        F.when(
            ok & (se2 > F.lit(0.0)),
            F.floor(dfw * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("df_welch"),
    )


def bh_fdr(
    tests: DataFrame,
    key_cols: list[str],
    z_col: str,
    q: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg FDR correction over a MODEL-sized battery of
    two-sided z tests — the multiple-comparisons closer for the
    per-segment test families (run k tests per round and 5% of
    "significant" segments are false alarms; BH bounds the EXPECTED
    false-discovery rate at ``q``). Returns ``(*key_cols, z, p_value,
    p_rank, reject)``.

    Two-sided p comes from the Abramowitz-Stegun 26.2.17 normal-CDF
    polynomial — pure arithmetic plus ONE exp, every constant an
    e-notation literal (parsed as DOUBLE by both engines; bare decimal
    literals parse as DECIMAL in expr strings — the r04 HLL-alpha
    trap), with p quantized to integer micros IMMEDIATELY after the
    transcendental (house rule: libm ulp differences die in the
    quantize). Every BH decision is then exact integer arithmetic on
    the rationalized q: keep rank i iff ``p_micro * m * den <= i * num
    * 1e6``; reject all ranks up to the largest kept (the step-up
    rule). Ties in p break deterministically on the key columns.

    NULL z tests (degenerate segments) are DROPPED — they carry no
    p-value and cannot rank; run them through a presence check
    upstream if absence matters. Scale contract: the battery is
    model-sized (one row per tested segment), so the rank window and
    the two scalar crosses are bounded by construction."""
    from fractions import Fraction

    fr = Fraction(str(q))
    num, den = fr.numerator, fr.denominator
    zc = F.col(z_col)
    base = tests.filter(zc.isNotNull()).select(
        *key_cols, zc.alias("__z")
    )
    az = F.abs(F.col("__z"))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(2.316419e-1) * az)
    poly = t * (
        F.lit(3.1938153e-1)
        + t * (
            F.lit(-3.56563782e-1)
            + t * (
                F.lit(1.781477937e0)
                + t * (F.lit(-1.821255978e0) + t * F.lit(1.330274429e0))
            )
        )
    )
    p = (
        F.lit(2.0)
        * (F.lit(3.9894228040143267e-1) * F.exp(-(az * az) / F.lit(2.0)))
        * poly
    )
    # the battery usually derives from an EXPENSIVE corpus aggregate
    # and is referenced by THREE branches below (rank, m, k*):
    # truncate the lineage at the model-sized scored table so the
    # upstream chain runs once (the multi-branch-lineage rule)
    scored = base.withColumn(
        "__pm",
        F.floor(p * F.lit(1e6) + F.lit(0.5)).cast("bigint"),
    ).localCheckpoint(eager=False)
    scored.count()
    # NULL-key tie-break parity: DuckDB's ORDER BY is NULLS LAST for
    # ASC while Spark's default is NULLS FIRST — a NULL segment key
    # tied on p_micro would get a different rank (hence a different
    # reject frontier) per engine. asc_nulls_last matches the oracle's
    # default without a type-changing string cast (r9 ADVICE).
    ranked = scored.withColumn(
        "__rk",
        F.row_number().over(
            Window.orderBy(
                F.col("__pm").asc(),
                *[F.col(c).asc_nulls_last() for c in key_cols],
            )
        ),
    )
    m = scored.agg(F.count("*").cast("bigint").alias("__m"))
    flagged = ranked.crossJoin(F.broadcast(m)).withColumn(
        "__ok",
        F.col("__pm") * F.col("__m") * F.lit(den)
        <= F.col("__rk") * F.lit(num) * F.lit(1000000),
    )
    kstar = flagged.agg(
        F.max(F.when(F.col("__ok"), F.col("__rk"))).alias("__k")
    )
    return flagged.crossJoin(F.broadcast(kstar)).select(
        *key_cols,
        F.col("__z").alias(z_col),
        (F.col("__pm") / F.lit(1e6)).alias("p_value"),
        F.col("__rk").cast("int").alias("p_rank"),
        F.coalesce(
            F.col("__rk") <= F.col("__k"), F.lit(False)
        ).alias("reject"),
    )


def group_acf(
    pts: DataFrame,
    group_cols: list[str],
    x_col: str,
    v_micro_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function per group: the Box-Jenkins lag-k
    estimator ``r_k = sum((y_t - ybar)(y_{t+k} - ybar)) / sum((y_t -
    ybar)^2)`` for ``k = 1..max_lag`` over an integer-positioned
    series — the seasonality/persistence diagnostic next to the EWMA
    and CUSUM ops (a weekly cycle shows as a peak at lag 7).  Lags are
    CALENDAR lags: ``x_t + k`` must exist or the pair drops (gaps
    shrink ``n_pairs``, they do not misalign the series).  Returns
    ``(*group_cols, lag, n_points, n_pairs, acf)``.

    Exactness: every moment (pair products, pair sums, global sum /
    squared sum) accumulates as an exact DECIMAL(38,0) integer; the
    estimator assembles from those moments in identically-spelled
    double arithmetic with ONE mean division — no float accumulation
    anywhere, bit-identical cross-engine before the 6-dp floor-round.

    Scale shape: the caller reduces to a MODEL-sized point table
    first; the lag join is a broadcast self-join on the exact
    ``(group, x + k)`` key; moments are two small aggregates.

    NULL-key groups are dropped UP FRONT (matching the oracle): the
    pre-fix shape eqNullSafe-matched NULL groups through the lag join
    only to discard them at the final name join (r8 ADVICE)."""
    D = "decimal(38,0)"
    pts = pts.na.drop(subset=group_cols)
    spark = pts.sparkSession
    ks = spark.range(1, max_lag + 1).select(
        F.col("id").cast("bigint").alias("__k")
    )
    a = pts.select(
        *group_cols,
        F.col(x_col).alias("__xa"),
        F.col(v_micro_col).cast(D).alias("__va"),
    ).crossJoin(F.broadcast(ks))
    b = pts.select(
        *[F.col(c).alias(f"__g_{c}") for c in group_cols],
        F.col(x_col).alias("__xb"),
        F.col(v_micro_col).cast(D).alias("__vb"),
    )
    cond = [a[c] == b[f"__g_{c}"] for c in group_cols] + [
        b["__xb"] == a["__xa"] + a["__k"]
    ]
    pair_m = (
        a.join(F.broadcast(b), cond)
        .groupBy(*group_cols, "__k")
        .agg(
            F.count("*").cast("bigint").alias("__m"),
            F.sum(F.col("__va") * F.col("__vb")).alias("__p"),
            F.sum("__va").alias("__sa"),
            F.sum("__vb").alias("__sb"),
        )
    )
    glob = pts.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum(F.col(v_micro_col).cast(D)).alias("__s"),
        F.sum(
            F.col(v_micro_col).cast(D) * F.col(v_micro_col).cast(D)
        ).alias("__q"),
    )
    yb = F.col("__s").cast("double") / F.col("__n").cast("double")
    num = (
        F.col("__p").cast("double")
        - yb * (F.col("__sa").cast("double") + F.col("__sb").cast("double"))
        + F.col("__m").cast("double") * yb * yb
    )
    den = F.col("__q").cast("double") - F.col("__s").cast("double") * F.col(
        "__s"
    ).cast("double") / F.col("__n").cast("double")
    return (
        pair_m.join(F.broadcast(glob), group_cols)
        .select(
            *group_cols,
            F.col("__k").alias("lag"),
            F.col("__n").alias("n_points"),
            F.col("__m").alias("n_pairs"),
            F.when(
                den > 0,
                F.floor(num / den * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
            ).alias("acf"),
        )
    )


def hill_tail_index(
    df: DataFrame,
    value_col: str,
    x_min: int,
) -> DataFrame:
    """Hill estimator of the power-law tail index over an integer
    value column: ``alpha = 1 + n_tail / sum(ln(x_i / x_min))`` for
    ``x_i >= x_min`` — the DENSITY exponent in the Clauset et al.
    convention (p(x) ~ x^-alpha; the survival/CCDF exponent is
    ``alpha - 1``) — the heavy-tail diagnostic behind skew planning
    (degree distributions, per-key row counts, document lengths: an
    alpha near 2 means the hottest key dominates shuffles; a large
    alpha means the tail is benign).  One row:
    ``(x_min, n_total, n_tail, max_value, alpha)``.

    Exactness: each ``ln(x / x_min)`` quantizes to integer micros
    immediately (house transcendental rule), the sum is an exact
    integer, and alpha is assembled in identically-spelled double
    arithmetic; NULL when the tail is empty or all tail values equal
    ``x_min`` (zero log-sum).

    Scale shape: one filtered aggregate + one totals aggregate,
    scalar-broadcast crossed."""
    if x_min <= 0:
        raise ValueError("x_min must be positive")
    v = F.col(value_col)
    tail = df.filter(v >= x_min).select(
        F.expr(
            f"cast(floor(ln(cast({value_col} as double)"
            f" / cast({x_min} as double)) * 1e6 + 0.5) as bigint)"
        ).alias("__lm")
    ).agg(
        F.count("*").cast("bigint").alias("n_tail"),
        F.coalesce(F.sum("__lm"), F.lit(0)).cast("bigint").alias("__s"),
    )
    tot = df.filter(v.isNotNull()).agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.max(v).cast("bigint").alias("max_value"),
    )
    return tail.crossJoin(F.broadcast(tot)).select(
        F.lit(x_min).cast("bigint").alias("x_min"),
        "n_total",
        "n_tail",
        "max_value",
        F.when(
            (F.col("n_tail") > 0) & (F.col("__s") > 0),
            F.expr(
                "floor((1.0 + cast(n_tail as double)"
                " / (cast(__s as double) / 1e6)) * 1e6 + 0.5) / 1e6"
            ),
        ).alias("alpha"),
    )


def spearman_corr(
    df: DataFrame,
    x_int_col: str,
    y_int_col: str,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Exact Spearman rank correlation between two integer-quantized
    columns: Pearson's formula over midranks — the monotone-trend
    test that sees what Pearson misses (any nonlinear but monotone
    drift) and shrugs at outliers.  One row ``(n, rho_spearman)``.

    Exactness: midranks stay integer by working in DOUBLED ranks
    (``2*prior + t + 1`` at a value with ``t`` ties — the
    mann_whitney_u device); every moment (sums, squares, cross
    products of doubled ranks) accumulates in DECIMAL(38,0) —
    ``sum((2r)^2) <= 4n^3`` holds to n ~ 1e11 rows — and the closing
    formula assembles from those exact integers in identically-
    spelled double arithmetic, floor-rounded to 6 dp.

    Scale shape: per column, one (value -> count) aggregate, the
    bucketed two-pass cumulation (offsets over the model-sized bucket
    table), and a rank LOOKUP join back on the value key (the
    quantile_normalize audited corpus-x-distinct shape); then ONE
    moment aggregate.  NULL rows in either column are excluded
    pairwise."""
    D = "decimal(38,0)"
    base = df.filter(
        F.col(x_int_col).isNotNull() & F.col(y_int_col).isNotNull()
    ).select(F.col(x_int_col).alias("__x"), F.col(y_int_col).alias("__y"))

    def _rank2(col: str, out: str) -> DataFrame:
        g = base.groupBy(col).agg(F.count("*").cast(D).alias("__c"))
        b = g.withColumn("__b", (F.col(col) / bucket_width).cast("bigint"))
        counts = b.groupBy("__b").agg(F.sum("__c").alias("__bc"))
        woff = Window.orderBy("__b").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offs = counts.select(
            "__b",
            F.coalesce(F.sum("__bc").over(woff), F.lit(0).cast(D)).alias(
                "__off"
            ),
        )
        wb = (
            Window.partitionBy("__b")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            b.join(F.broadcast(offs), "__b")
            .select(
                col,
                (
                    F.lit(2).cast(D)
                    * (
                        F.col("__off")
                        + F.coalesce(
                            F.sum("__c").over(wb), F.lit(0).cast(D)
                        )
                    )
                    + F.col("__c")
                    + F.lit(1).cast(D)
                ).alias(out),
            )
        )

    rx = _rank2("__x", "__rx")
    ry = _rank2("__y", "__ry")
    ranked = base.join(rx, "__x").join(ry, "__y")
    m = ranked.agg(
        F.count("*").cast(D).alias("__n"),
        F.sum("__rx").alias("__sx"),
        F.sum("__ry").alias("__sy"),
        F.sum(F.col("__rx") * F.col("__rx")).alias("__sxx"),
        F.sum(F.col("__ry") * F.col("__ry")).alias("__syy"),
        F.sum(F.col("__rx") * F.col("__ry")).alias("__sxy"),
    )
    num = (
        F.col("__n").cast("double") * F.col("__sxy").cast("double")
        - F.col("__sx").cast("double") * F.col("__sy").cast("double")
    )
    dx = (
        F.col("__n").cast("double") * F.col("__sxx").cast("double")
        - F.col("__sx").cast("double") * F.col("__sx").cast("double")
    )
    dy = (
        F.col("__n").cast("double") * F.col("__syy").cast("double")
        - F.col("__sy").cast("double") * F.col("__sy").cast("double")
    )
    return m.select(
        F.col("__n").cast("bigint").alias("n"),
        F.when(
            (dx > 0) & (dy > 0),
            F.floor(num / F.sqrt(dx * dy) * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6),
        ).alias("rho_spearman"),
    )


def mann_whitney_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_int_col: str,
    side_col: str,
    side_a,
    side_b,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Per-group exact Mann-Whitney U — :func:`mann_whitney_u`
    stratified by segment (the A/B-readout shape: WHICH segment's
    value distribution shifted between cohorts, and by how much?):
    one row per group ``(*group_cols, n_a, n_b, u_a, auc_effect,
    z_approx)``.  The location-test companion to :func:`ks_by_group`'s
    shape test; ``auc_effect`` is the per-segment common-language
    effect size.

    Same exactness recipe (doubled midranks, DECIMAL(38,0) rank sums,
    tie-corrected z); the cumulation windows are PARTITIONED by
    (group, value-bucket), offsets run over the model-sized per-group
    bucket table, totals join back NULL-safely (NULL group keys are
    legal groups), and an empty side yields NULL u/auc/z."""
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    v = F.col(value_int_col)
    D = "decimal(38,0)"
    base = df.filter(
        v.isNotNull() & F.col(side_col).isin([side_a, side_b])
    )
    g = base.groupBy(*group_cols, value_int_col).agg(
        F.sum(F.when(F.col(side_col) == side_a, 1).otherwise(0))
        .cast(D).alias("__ca"),
        F.sum(F.when(F.col(side_col) == side_b, 1).otherwise(0))
        .cast(D).alias("__cb"),
    )
    tot = base.groupBy(*group_cols).agg(
        F.sum(F.when(F.col(side_col) == side_a, 1).otherwise(0))
        .cast(D).alias("__na"),
        F.sum(F.when(F.col(side_col) == side_b, 1).otherwise(0))
        .cast(D).alias("__nb"),
    )
    bucketed = g.withColumn("__b", (v / bucket_width).cast("bigint"))
    counts = bucketed.groupBy(*group_cols, "__b").agg(
        F.sum(F.col("__ca") + F.col("__cb")).alias("__bt")
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *group_cols,
        "__b",
        F.coalesce(F.sum("__bt").over(woff), F.lit(0).cast(D)).alias(
            "__off"
        ),
    )
    wb = (
        Window.partitionBy(*group_cols, "__b")
        .orderBy(value_int_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    per_value = _ns_join(
        bucketed, offsets, group_cols + ["__b"], broadcast_right=True
    ).select(
        *group_cols,
        "__ca",
        "__cb",
        (
            F.lit(2).cast(D)
            * (
                F.col("__off")
                + F.coalesce(
                    F.sum(F.col("__ca") + F.col("__cb")).over(wb),
                    F.lit(0).cast(D),
                )
            )
            + F.col("__ca") + F.col("__cb") + F.lit(1).cast(D)
        ).alias("__mr2"),
        (F.col("__ca") + F.col("__cb")).alias("__t"),
    )
    agg = per_value.groupBy(*group_cols).agg(
        F.sum(F.col("__ca") * F.col("__mr2")).alias("__r2a"),
        F.sum(
            F.col("__t") * F.col("__t") * F.col("__t") - F.col("__t")
        ).alias("__tcor"),
    )
    out = _ns_join(agg, tot, group_cols, broadcast_right=True).select(
        *group_cols,
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        (
            (
                F.col("__r2a")
                - F.col("__na") * (F.col("__na") + F.lit(1).cast(D))
            ).cast("double")
            / F.lit(2.0)
        ).alias("__ua"),
        F.col("__na").cast("double").alias("__nad"),
        F.col("__nb").cast("double").alias("__nbd"),
        F.col("__tcor").cast("double").alias("__tc"),
    )
    n = F.col("__nad") + F.col("__nbd")
    var = (
        F.col("__nad") * F.col("__nbd") / F.lit(12.0)
        * ((n + F.lit(1.0)) - F.col("__tc") / (n * (n - F.lit(1.0))))
    )
    return out.select(
        *group_cols,
        "n_a",
        "n_b",
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), F.col("__ua"))
        .alias("u_a"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.expr(
                "floor(__ua / (__nad * __nbd) * 1e6 + 0.5) / 1e6"
            ),
        ).alias("auc_effect"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
            F.floor(
                (F.col("__ua") - F.col("__nad") * F.col("__nbd") / F.lit(2.0))
                / F.sqrt(var)
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6),
        ).alias("z_approx"),
    )


def kaplan_meier_by_group(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    start_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Kaplan-Meier survival curves stratified by SIGNUP-YEAR cohort —
    the standard retention readout (does this year's cohort convert
    faster than last year's?): :func:`kaplan_meier`'s exact recipe
    with every window PARTITIONED by cohort and per-cohort totals
    joined back NULL-safely.  Returns one row per (cohort, event
    time): ``(cohort, dur_days, n_risk, d_events, c_censored,
    log_surv_micro, survival)``.

    Same exactness contract: integer micro-second durations, integer
    risk sets over the MODEL-sized (cohort, day) table, micro-
    quantized ln terms summed exactly, all-die times carried as exact
    zero.  Censoring is at the GLOBAL observation end (one scalar
    cross) — cohorts share the calendar."""
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__et"),
    )
    cmax = ev.agg(F.max(F.unix_micros(F.col("__ts"))).alias("__cmax"))
    starts = (
        ev.filter(F.col("__et") == start_type)
        .groupBy("__u")
        .agg(F.min(F.unix_micros(F.col("__ts"))).alias("__t0"))
        # NULL __t0 -> NULL __dur sorts opposite ways cross-engine in
        # the risk-set windows (r8 ADVICE); drop like kaplan_meier.
        .filter(F.col("__t0").isNotNull())
        .withColumn("__coh", F.year(F.timestamp_micros(F.col("__t0"))))
    )
    hits = (
        ev.filter(F.col("__et") == event_type)
        .select("__u", F.unix_micros(F.col("__ts")).alias("__tp"))
        .join(starts.select("__u", "__t0"), "__u")
        .filter(F.col("__tp") >= F.col("__t0"))
        .groupBy("__u")
        .agg(F.min("__tp").alias("__te"))
    )
    subj = (
        starts.join(hits, "__u", "left")
        .crossJoin(F.broadcast(cmax))
        .select(
            F.col("__coh"),
            F.expr(
                "cast((coalesce(__te, __cmax) - __t0) div 86400000000"
                " as bigint)"
            ).alias("__dur"),
            F.when(F.col("__te").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("__obs"),
        )
    )
    day = subj.groupBy("__coh", "__dur").agg(
        F.sum("__obs").cast("bigint").alias("__d"),
        F.sum(1 - F.col("__obs")).cast("bigint").alias("__c"),
    )
    n_total = subj.groupBy("__coh").agg(
        F.count("*").cast("bigint").alias("__n")
    )
    w_prior = (
        Window.partitionBy("__coh")
        .orderBy("__dur")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("__coh")
        .orderBy("__dur")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    risked = (
        _ns_join(day, n_total, ["__coh"], broadcast_right=True)
        .withColumn(
            "__nrisk",
            F.col("__n")
            - F.coalesce(
                F.sum(F.col("__d") + F.col("__c")).over(w_prior), F.lit(0)
            ),
        )
        .withColumn(
            "__lnm",
            F.when(
                (F.col("__d") > 0) & (F.col("__nrisk") > F.col("__d")),
                F.expr(
                    "cast(floor(ln(cast(__nrisk - __d as double)"
                    " / cast(__nrisk as double)) * 1e6 + 0.5) as bigint)"
                ),
            )
            .when(F.col("__d") > 0, F.lit(None).cast("bigint"))
            .otherwise(F.lit(0)),
        )
    )
    out = (
        risked.withColumn("__ls", F.sum("__lnm").over(w_cum))
        .withColumn(
            "__dead",
            F.sum(
                F.when(F.col("__lnm").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).over(w_cum),
        )
        .filter(F.col("__d") > 0)
        .select(
            F.col("__coh").alias("cohort"),
            F.col("__dur").alias("dur_days"),
            F.col("__nrisk").cast("bigint").alias("n_risk"),
            F.col("__d").alias("d_events"),
            F.col("__c").alias("c_censored"),
            F.when(F.col("__dead") == 0, F.col("__ls")).alias(
                "log_surv_micro"
            ),
            F.when(F.col("__dead") > 0, F.lit(0.0))
            .otherwise(
                F.expr("floor(exp(cast(__ls as double) / 1e6) * 1e6 + 0.5)"
                       " / 1e6")
            )
            .alias("survival"),
        )
    )
    return out


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    side_a,
    side_b,
) -> DataFrame:
    """Two-proportion z-test on conversion-style rates: one row
    ``(n_a, k_a, rate_a, n_b, k_b, rate_b, diff, z_pooled)`` — the
    classic A/B readout for binary outcomes, the significance
    companion to the per-group Wilson intervals.  Expects one row per
    SUBJECT with an integer 0/1 ``success_col``.

    Exactness: counts are exact integers; rates, the difference, and
    the pooled-variance z assemble in identically-spelled double
    arithmetic (one sqrt), floor-rounded to 6 dp; a degenerate pooled
    rate (0 or 1) or an empty side yields NULL z."""
    g = F.col(group_col)
    agg = df.filter(g.isin([side_a, side_b])).agg(
        F.sum(F.when(g == side_a, 1).otherwise(0)).cast("bigint").alias(
            "n_a"
        ),
        F.sum(F.when(g == side_a, F.col(success_col)).otherwise(0))
        .cast("bigint")
        .alias("k_a"),
        F.sum(F.when(g == side_b, 1).otherwise(0)).cast("bigint").alias(
            "n_b"
        ),
        F.sum(F.when(g == side_b, F.col(success_col)).otherwise(0))
        .cast("bigint")
        .alias("k_b"),
    )
    na, ka = F.col("n_a").cast("double"), F.col("k_a").cast("double")
    nb, kb = F.col("n_b").cast("double"), F.col("k_b").cast("double")
    pa, pb = ka / na, kb / nb
    pp = (ka + kb) / (na + nb)
    se2 = pp * (F.lit(1.0) - pp) * (F.lit(1.0) / na + F.lit(1.0) / nb)

    def _r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return agg.select(
        "n_a",
        "k_a",
        F.when(F.col("n_a") > 0, _r6(pa)).alias("rate_a"),
        "n_b",
        "k_b",
        F.when(F.col("n_b") > 0, _r6(pb)).alias("rate_b"),
        F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), _r6(pa - pb)).alias(
            "diff"
        ),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se2 > 0),
            _r6((pa - pb) / F.sqrt(se2)),
        ).alias("z_pooled"),
    )


def logrank_test(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    start_type: str = "signup",
    event_type: str = "purchase",
) -> DataFrame:
    """Two-cohort log-rank test on time-to-event curves (cohort = user
    parity, the repo's standard A/B split): does cohort A's survival
    curve differ from B's, accounting for censoring? — the
    significance readout over the Kaplan-Meier family.  One row:
    ``(o_a, e_a, v_lr, z_logrank)`` with observed events in A, the
    expected count under the pooled-hazard null
    ``E = sum_i d_i * n_ai / n_i``, the hypergeometric variance, and
    ``z = (O - E)/sqrt(V)``.

    Exactness: risk sets are exact integer window sums over the
    MODEL-sized per-day table; the per-time E and V terms (rational in
    integers) quantize to integer micros immediately and sum exactly
    — one closing subtraction/sqrt/division in identically-spelled
    doubles, floor-rounded to 6 dp.  Times where every remaining
    subject is at risk in one cohort only contribute zero variance
    terms naturally; V == 0 yields NULL z."""
    ev = events.select(
        F.col(user_col).alias("__u"),
        F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__et"),
    )
    cmax = ev.agg(F.max(F.unix_micros(F.col("__ts"))).alias("__cmax"))
    # Subjects whose only signup ts is NULL get a NULL __t0/__dur;
    # Spark windows sort NULLS FIRST while DuckDB sorts NULLS LAST, so
    # the cumulative risk-set sums would diverge cross-engine (r8
    # ADVICE). Drop them explicitly here and in the oracle's HAVING.
    starts = (
        ev.filter(F.col("__et") == start_type)
        .groupBy("__u")
        .agg(F.min(F.unix_micros(F.col("__ts"))).alias("__t0"))
        .filter(F.col("__t0").isNotNull())
    )
    hits = (
        ev.filter(F.col("__et") == event_type)
        .select("__u", F.unix_micros(F.col("__ts")).alias("__tp"))
        .join(starts.select("__u", "__t0"), "__u")
        .filter(F.col("__tp") >= F.col("__t0"))
        .groupBy("__u")
        .agg(F.min("__tp").alias("__te"))
    )
    subj = (
        starts.join(hits, "__u", "left")
        .crossJoin(F.broadcast(cmax))
        .select(
            (F.col("__u") % 2).cast("int").alias("__coh"),
            F.expr(
                "cast((coalesce(__te, __cmax) - __t0) div 86400000000"
                " as bigint)"
            ).alias("__dur"),
            F.when(F.col("__te").isNotNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("__obs"),
        )
    )
    day = subj.groupBy("__dur").agg(
        F.sum(F.when(F.col("__coh") == 0, F.col("__obs")).otherwise(0))
        .cast("bigint").alias("__da"),
        F.sum(F.when(F.col("__coh") == 0, 1 - F.col("__obs")).otherwise(0))
        .cast("bigint").alias("__ca"),
        F.sum(F.when(F.col("__coh") == 1, F.col("__obs")).otherwise(0))
        .cast("bigint").alias("__db"),
        F.sum(F.when(F.col("__coh") == 1, 1 - F.col("__obs")).otherwise(0))
        .cast("bigint").alias("__cb"),
    )
    tot = subj.agg(
        F.sum(F.when(F.col("__coh") == 0, 1).otherwise(0))
        .cast("bigint").alias("__nta"),
        F.sum(F.when(F.col("__coh") == 1, 1).otherwise(0))
        .cast("bigint").alias("__ntb"),
    )
    w_prior = Window.orderBy("__dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risked = day.crossJoin(F.broadcast(tot)).select(
        "__da",
        "__db",
        (
            F.col("__nta")
            - F.coalesce(
                F.sum(F.col("__da") + F.col("__ca")).over(w_prior), F.lit(0)
            )
        ).alias("__na"),
        (
            F.col("__ntb")
            - F.coalesce(
                F.sum(F.col("__db") + F.col("__cb")).over(w_prior), F.lit(0)
            )
        ).alias("__nb"),
    )
    terms = risked.filter(F.col("__da") + F.col("__db") > 0).select(
        "__da",
        F.expr(
            "cast(floor(cast(__da + __db as double)"
            " * cast(__na as double) / cast(__na + __nb as double)"
            " * 1e6 + 0.5) as bigint)"
        ).alias("__em"),
        F.expr(
            "case when __na + __nb > 1 then"
            " cast(floor(cast(__da + __db as double)"
            " * (cast(__na as double) / cast(__na + __nb as double))"
            " * (1.0 - cast(__na as double) / cast(__na + __nb as double))"
            " * cast(__na + __nb - (__da + __db) as double)"
            " / cast(__na + __nb - 1 as double)"
            " * 1e6 + 0.5) as bigint) else cast(0 as bigint) end"
        ).alias("__vm"),
    )
    agg = terms.agg(
        F.sum("__da").cast("bigint").alias("o_a"),
        F.sum("__em").cast("bigint").alias("__ems"),
        F.sum("__vm").cast("bigint").alias("__vms"),
    )
    return agg.select(
        "o_a",
        F.expr("floor(cast(__ems as double) / 1e6 * 1e6 + 0.5) / 1e6").alias(
            "e_a"
        ),
        F.expr("floor(cast(__vms as double) / 1e6 * 1e6 + 0.5) / 1e6").alias(
            "v_lr"
        ),
        F.when(
            F.col("__vms") > 0,
            F.expr(
                "floor((cast(o_a as double) - cast(__ems as double) / 1e6)"
                " / sqrt(cast(__vms as double) / 1e6) * 1e6 + 0.5) / 1e6"
            ),
        ).alias("z_logrank"),
    )


def cuped_lift(
    df: DataFrame,
    user_col: str,
    treat_col: str,
    pre_col: str,
    value_micro_col: str,
) -> DataFrame:
    """CUPED-adjusted treatment lift (Deng et al. 2013) — the variance
    reduction every large experimentation platform runs: adjust each
    user's post-period metric by their PRE-period covariate,
    ``y_adj = y - theta * (x - mean(x))`` with
    ``theta = cov(x, y) / var(x)``, which cannot bias the lift (the
    covariate predates treatment) and shrinks its variance by the
    squared correlation rho^2. One output row:
    ``(n_users, theta, lift_raw, lift_cuped, var_reduction)`` where
    var_reduction = rho^2 (the fraction of metric variance the
    covariate explains).

    Inputs: event rows with a user key, a 0/1 user-level treatment
    flag, a boolean pre-period flag, and the metric as INTEGER micro
    units. Per-user (x, y) sums are exact integers (a user with no
    pre/post rows contributes 0 — the standard missing-covariate
    convention); every moment (Sx, Sy, Sxx, Sxy, Syy, per-arm sums)
    accumulates in DECIMAL(38,0), order-free; theta / lifts / rho^2
    assemble in identically-spelled doubles from ONE decimal->double
    cast each, floor-rounded to 6 dp. Degenerate var(x) = 0 yields
    NULL theta/lift_cuped/var_reduction.

    Scale shape: one map-side-combinable per-user aggregate, then one
    single-row moment aggregate — nothing beyond the user table ever
    shuffles, and the moment row is the only driver-visible object."""
    D = "decimal(38,0)"
    v = F.col(value_micro_col)
    per_user = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.max(F.col(treat_col)).cast("int").alias("__t"),
        F.coalesce(
            F.sum(F.when(F.col(pre_col), v)), F.lit(0)
        ).cast(D).alias("__x"),
        F.coalesce(
            F.sum(F.when(~F.col(pre_col), v)), F.lit(0)
        ).cast(D).alias("__y"),
    )
    m = per_user.agg(
        F.count("*").cast(D).alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.expr("__x * __x")).alias("__sxx"),
        F.sum(F.expr("__x * __y")).alias("__sxy"),
        F.sum(F.expr("__y * __y")).alias("__syy"),
        F.sum(F.when(F.col("__t") == 1, F.lit(1)).otherwise(F.lit(0)))
        .cast(D).alias("__n1"),
        F.coalesce(F.sum(F.when(F.col("__t") == 1, F.col("__x"))), F.lit(0))
        .cast(D).alias("__sx1"),
        F.coalesce(F.sum(F.when(F.col("__t") == 1, F.col("__y"))), F.lit(0))
        .cast(D).alias("__sy1"),
    )
    # every quantity below is ONE decimal->double cast of an exactly
    # computed integer, assembled in identically-spelled IEEE ops
    out = m.select(
        F.col("__n").cast("bigint").alias("n_users"),
        F.when(
            F.expr("__n * __sxx - __sx * __sx") > 0,
            F.expr(
                "floor(cast(__n * __sxy - __sx * __sy as double)"
                " / cast(__n * __sxx - __sx * __sx as double)"
                " * 1e6 + 0.5) / 1e6"
            ),
        ).alias("theta"),
        F.when(
            (F.col("__n1") > 0) & (F.expr("__n - __n1") > 0),
            F.expr(
                "floor((cast(__sy1 as double) / cast(__n1 as double)"
                " - cast(__sy - __sy1 as double)"
                "   / cast(__n - __n1 as double)) / 1e6"
                " * 1e6 + 0.5) / 1e6"
            ),
        ).alias("lift_raw"),
        F.when(
            (F.col("__n1") > 0)
            & (F.expr("__n - __n1") > 0)
            & (F.expr("__n * __sxx - __sx * __sx") > 0),
            F.expr(
                "floor(((cast(__sy1 as double) / cast(__n1 as double)"
                " - cast(__sy - __sy1 as double)"
                "   / cast(__n - __n1 as double))"
                " - cast(__n * __sxy - __sx * __sy as double)"
                "   / cast(__n * __sxx - __sx * __sx as double)"
                "   * (cast(__sx1 as double) / cast(__n1 as double)"
                "      - cast(__sx - __sx1 as double)"
                "        / cast(__n - __n1 as double))) / 1e6"
                " * 1e6 + 0.5) / 1e6"
            ),
        ).alias("lift_cuped"),
        F.when(
            (F.expr("__n * __sxx - __sx * __sx") > 0)
            & (F.expr("__n * __syy - __sy * __sy") > 0),
            F.expr(
                "floor(cast(__n * __sxy - __sx * __sy as double)"
                " * cast(__n * __sxy - __sx * __sy as double)"
                " / cast(__n * __sxx - __sx * __sx as double)"
                " / cast(__n * __syy - __sy * __sy as double)"
                " * 1e6 + 0.5) / 1e6"
            ),
        ).alias("var_reduction"),
    )
    return out


def did_estimator(
    df: DataFrame,
    user_col: str,
    treat_col: str,
    pre_col: str,
    value_micro_col: str,
) -> DataFrame:
    """Difference-in-differences treatment estimate — the
    natural-experiment sibling of :func:`cuped_lift`: each user's
    pre-to-post CHANGE ``d = post - pre`` differences out every
    time-invariant user effect, and the estimator is the arm gap of
    mean changes, ``DiD = mean(d | t=1) - mean(d | t=0)`` (the
    parallel-trends identification). A Welch-style z accompanies it:
    ``z = DiD / sqrt(s1^2/n1 + s0^2/n0)`` with per-arm sample
    variances of d. One row:
    ``(n_treat, n_control, did, z_did)``.

    Exactness: per-user d is an exact integer (micro units); per-arm
    ``(n, sum d, sum d^2)`` accumulate in DECIMAL(38,0); means,
    variances (``(n*Sdd - Sd^2) / (n*(n-1))``), DiD and z assemble in
    identically-spelled doubles with one decimal->double cast per
    moment, floor-rounded to 6 dp. Degenerate arms (n < 2 or zero
    variance in both) yield NULL z; a missing arm yields NULL did.

    Scale: one map-side per-user aggregate + one single-row moment
    aggregate — the same two-shuffle shape as cuped_lift."""
    D = "decimal(38,0)"
    v = F.col(value_micro_col)
    per_user = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.max(F.col(treat_col)).cast("int").alias("__t"),
        (
            F.coalesce(F.sum(F.when(~F.col(pre_col), v)), F.lit(0))
            - F.coalesce(F.sum(F.when(F.col(pre_col), v)), F.lit(0))
        ).cast(D).alias("__d"),
    )
    m = per_user.agg(
        F.coalesce(
            F.sum(F.when(F.col("__t") == 1, F.lit(1))), F.lit(0)
        ).cast(D).alias("__n1"),
        F.coalesce(
            F.sum(F.when(F.col("__t") == 0, F.lit(1))), F.lit(0)
        ).cast(D).alias("__n0"),
        F.coalesce(
            F.sum(F.when(F.col("__t") == 1, F.col("__d"))), F.lit(0)
        ).cast(D).alias("__s1"),
        F.coalesce(
            F.sum(F.when(F.col("__t") == 0, F.col("__d"))), F.lit(0)
        ).cast(D).alias("__s0"),
        F.coalesce(
            F.sum(F.when(F.col("__t") == 1, F.expr("__d * __d"))),
            F.lit(0),
        ).cast(D).alias("__q1"),
        F.coalesce(
            F.sum(F.when(F.col("__t") == 0, F.expr("__d * __d"))),
            F.lit(0),
        ).cast(D).alias("__q0"),
    )
    return m.select(
        F.col("__n1").cast("bigint").alias("n_treat"),
        F.col("__n0").cast("bigint").alias("n_control"),
        F.when(
            (F.col("__n1") > 0) & (F.col("__n0") > 0),
            F.expr(
                "floor((cast(__s1 as double) / cast(__n1 as double)"
                " - cast(__s0 as double) / cast(__n0 as double)) / 1e6"
                " * 1e6 + 0.5) / 1e6"
            ),
        ).alias("did"),
        F.when(
            (F.col("__n1") > 1)
            & (F.col("__n0") > 1)
            & (
                F.expr(
                    "cast(__n1 * __q1 - __s1 * __s1 as double)"
                    " / cast(__n1 * (__n1 - 1) as double)"
                    " / cast(__n1 as double)"
                    " + cast(__n0 * __q0 - __s0 * __s0 as double)"
                    " / cast(__n0 * (__n0 - 1) as double)"
                    " / cast(__n0 as double)"
                )
                > 0
            ),
            F.expr(
                "floor((cast(__s1 as double) / cast(__n1 as double)"
                " - cast(__s0 as double) / cast(__n0 as double))"
                " / sqrt(cast(__n1 * __q1 - __s1 * __s1 as double)"
                "        / cast(__n1 * (__n1 - 1) as double)"
                "        / cast(__n1 as double)"
                "        + cast(__n0 * __q0 - __s0 * __s0 as double)"
                "          / cast(__n0 * (__n0 - 1) as double)"
                "          / cast(__n0 as double))"
                " * 1e6 + 0.5) / 1e6"
            ),
        ).alias("z_did"),
    )


def msprt_monitor(
    df: DataFrame,
    day_col: str,
    treat_col: str,
    value_micro_col: str,
) -> DataFrame:
    """Always-valid sequential experiment monitor (mixture SPRT,
    Johari et al. 2017) — the 'peek whenever you want' replacement for
    the fixed-horizon z test that silently inflates false positives
    when checked daily. For each day's CUMULATIVE data the normal-
    mixture likelihood ratio is

        Lambda_t = sqrt(V_t / (V_t + tau^2))
                   * exp(Delta_t^2 * tau^2 / (2 V_t (V_t + tau^2)))

    with Delta_t the cumulative arm gap of means, V_t its Welch
    variance, and tau^2 the mixture prior — pinned IN-PLAN to the
    FIRST evaluable day's V (deterministic, scale-free: no magnitude-
    coupled literal). The always-valid p is the running minimum of
    1 / Lambda. One row per day:
    ``(day, n_treat, n_control, delta, lambda_msprt,
    p_always_valid)``.

    Exactness: per-day per-arm (n, sum, sum-of-squares) accumulate in
    DECIMAL(38,0) and CUMULATE via window sums on the day-count model
    table; Delta/V assemble in identically-spelled doubles;
    Lambda floor-rounds to 6 dp IMMEDIATELY after its one exp (the
    A&S-polynomial precedent: libm ulp differences die in the
    quantize), so the running min and p replay exactly cross-engine.
    Days where either arm has n < 2 or V <= 0 emit NULL
    lambda/p (and do not advance the running min).

    Scale shape: one map-side day/arm aggregate over the corpus; every
    window after it runs on the day-count table (bounded by the
    calendar span of the data, never the row count)."""
    D = "decimal(38,0)"
    v = F.col(value_micro_col)
    per_day = df.groupBy(F.col(day_col).alias("__day")).agg(
        F.coalesce(
            F.sum(F.when(F.col(treat_col) == 1, F.lit(1))), F.lit(0)
        ).cast(D).alias("__n1"),
        F.coalesce(
            F.sum(F.when(F.col(treat_col) == 1, v)), F.lit(0)
        ).cast(D).alias("__s1"),
        F.coalesce(
            F.sum(F.when(F.col(treat_col) == 1, v.cast(D) * v.cast(D))),
            F.lit(0),
        ).cast(D).alias("__q1"),
        F.coalesce(
            F.sum(F.when(F.col(treat_col) == 0, F.lit(1))), F.lit(0)
        ).cast(D).alias("__n0"),
        F.coalesce(
            F.sum(F.when(F.col(treat_col) == 0, v)), F.lit(0)
        ).cast(D).alias("__s0"),
        F.coalesce(
            F.sum(F.when(F.col(treat_col) == 0, v.cast(D) * v.cast(D))),
            F.lit(0),
        ).cast(D).alias("__q0"),
    )
    wcum = Window.orderBy("__day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_day.select(
        "__day",
        *[
            F.sum(c).over(wcum).alias(c)
            for c in ["__n1", "__s1", "__q1", "__n0", "__s0", "__q0"]
        ],
    )
    # Welch variance of the cumulative arm gap, sample variances
    vexpr = (
        "cast(__n1 * __q1 - __s1 * __s1 as double)"
        " / cast(__n1 * (__n1 - 1) as double) / cast(__n1 as double)"
        " + cast(__n0 * __q0 - __s0 * __s0 as double)"
        "   / cast(__n0 * (__n0 - 1) as double) / cast(__n0 as double)"
    )
    dexpr = (
        "cast(__s1 as double) / cast(__n1 as double)"
        " - cast(__s0 as double) / cast(__n0 as double)"
    )
    ok = (F.col("__n1") > 1) & (F.col("__n0") > 1) & (F.expr(vexpr) > 0)
    scored = cum.withColumn(
        "__v", F.when(ok, F.expr(vexpr))
    ).withColumn("__dl", F.when(ok, F.expr(dexpr)))
    wall = Window.orderBy("__day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    # tau^2 = the first evaluable day's V (in-plan, deterministic)
    tau2 = F.first("__v", ignorenulls=True).over(wall)
    lam = F.when(
        F.col("__v").isNotNull() & tau2.isNotNull(),
        F.expr(
            "floor(sqrt(__v / (__v + __tau2))"
            " * exp(__dl * __dl * __tau2 / (2.0 * __v * (__v + __tau2)))"
            " * 1e6 + 0.5) / 1e6"
        ),
    )
    out = (
        scored.withColumn("__tau2", tau2)
        .withColumn("lambda_msprt", lam)
        .withColumn(
            "__rm",
            F.min(
                F.when(
                    F.col("lambda_msprt") > 0,
                    F.lit(1.0) / F.col("lambda_msprt"),
                )
            ).over(wall),
        )
        .withColumn(
            # guard the NULL-before-first-evaluable-day rows EXPLICITLY:
            # Spark's least() skips NULL arguments while DuckDB's
            # returns NULL — never let least() see a NULL cross-engine
            "p_always_valid",
            F.when(
                F.col("__rm").isNotNull(),
                F.expr(
                    "floor(least(cast(1.0 as double), __rm)"
                    " * 1e6 + 0.5) / 1e6"
                ),
            ),
        )
        .select(
            F.col("__day").alias(day_col),
            F.col("__n1").cast("bigint").alias("n_treat"),
            F.col("__n0").cast("bigint").alias("n_control"),
            F.when(
                F.col("__dl").isNotNull(),
                F.expr("floor(__dl / 1e6 * 1e6 + 0.5) / 1e6"),
            ).alias("delta"),
            "lambda_msprt",
            "p_always_valid",
        )
    )
    return out


def effect_sizes_by_group(
    df: DataFrame,
    group_cols: list[str],
    value_int_col: str,
    cohort_col: str,
    cohort_a,
    cohort_b,
) -> DataFrame:
    """Standardized effect sizes per segment — the magnitude report
    the p-value batteries (Welch t, Mann-Whitney) need beside them:
    at scale EVERYTHING is significant, and the decision variable is
    the effect SIZE. Per group: Cohen's d on the pooled SD,
    ``d = (mean_a - mean_b) / s_pooled``, and the small-sample
    corrected Hedges' g, ``g = d * (1 - 3/(4*df - 1))`` with
    ``df = n_a + n_b - 2``. One row per group:
    ``(*group_cols, n_a, n_b, cohen_d, hedges_g)``.

    Exactness: both cohorts' ``(n, sum, sum-of-squares)`` accumulate
    as exact DECIMAL(38,0) integer moments in ONE map-side-combinable
    aggregate; the pooled variance assembles as
    ``((qa - sa^2/na) + (qb - sb^2/nb)) / (na + nb - 2)`` in
    identically-spelled doubles (one decimal->double cast per moment),
    d and g floor-round to 6 dp. Degenerate groups (either side n < 1,
    df < 1, or zero pooled variance) yield NULL d/g. NULL values are
    excluded; NULL group keys are their own group."""
    D = "decimal(38,0)"
    v = F.col(value_int_col)
    isa = F.col(cohort_col) == cohort_a
    isb = F.col(cohort_col) == cohort_b
    m = (
        df.filter(v.isNotNull() & (isa | isb))
        .groupBy(*[F.col(c) for c in group_cols])
        .agg(
            F.coalesce(F.sum(F.when(isa, F.lit(1))), F.lit(0))
            .cast(D).alias("__na"),
            F.coalesce(F.sum(F.when(isa, v)), F.lit(0))
            .cast(D).alias("__sa"),
            F.coalesce(F.sum(F.when(isa, v.cast(D) * v.cast(D))), F.lit(0))
            .cast(D).alias("__qa"),
            F.coalesce(F.sum(F.when(isb, F.lit(1))), F.lit(0))
            .cast(D).alias("__nb"),
            F.coalesce(F.sum(F.when(isb, v)), F.lit(0))
            .cast(D).alias("__sb"),
            F.coalesce(F.sum(F.when(isb, v.cast(D) * v.cast(D))), F.lit(0))
            .cast(D).alias("__qb"),
        )
    )
    # pooled variance numerator: exact integer (na*qa - sa^2)/na
    # spelled as one double assembly per side
    sp2 = (
        "(cast(__na * __qa - __sa * __sa as double) / cast(__na as double)"
        " + cast(__nb * __qb - __sb * __sb as double)"
        "   / cast(__nb as double))"
        " / cast(__na + __nb - 2 as double)"
    )
    dexpr = (
        "(cast(__sa as double) / cast(__na as double)"
        " - cast(__sb as double) / cast(__nb as double))"
        f" / sqrt({sp2})"
    )
    ok = (
        (F.col("__na") > 0)
        & (F.col("__nb") > 0)
        & (F.expr("__na + __nb - 2") > 0)
        & (F.expr(sp2) > 0)
    )
    return m.select(
        *group_cols,
        F.col("__na").cast("bigint").alias("n_a"),
        F.col("__nb").cast("bigint").alias("n_b"),
        F.when(
            ok, F.expr(f"floor({dexpr} * 1e6 + 0.5) / 1e6")
        ).alias("cohen_d"),
        F.when(
            ok,
            F.expr(
                f"floor({dexpr}"
                " * (1.0 - 3.0 / (4.0 * cast(__na + __nb - 2 as double)"
                "                 - 1.0))"
                " * 1e6 + 0.5) / 1e6"
            ),
        ).alias("hedges_g"),
    )
