"""Count-min sketch: mergeable frequency estimation over key streams.

The count-min sketch (Cormode & Muthukrishnan 2005, public) answers
"how often does key x occur?" from d*w integer counters instead of a
full-vocabulary aggregate: d hash rows, each mapping a key into one of
w buckets; estimate = min over rows of the landed cell. Estimates
never undercount (every collision only adds), and sketches are
MERGEABLE by cell-wise addition — the property that matters at 100 TB:
build one tiny sketch per shard/day/source, answer global frequency
questions by summing sketch tables, never rescanning the raw stream.

Spark-first shape (100 TB design)
---------------------------------
- The sketch IS a DataFrame ``(shard..., row, bucket, cnt)`` of at
  most d*w rows per shard — aggregation combines map-side, the
  shuffle carries (row, bucket) ints, and "persist the sketch" is an
  ordinary tiny table write.
- Merging shards is a groupBy(row, bucket) SUM — no sketch-library
  binary blobs, no driver round-trip, re-aggregatable at any shard
  granularity.
- Point queries broadcast the (small) candidate-key table, compute
  each candidate's d buckets, join the d*w cell table, and take
  min() per key — one broadcast join against a model-sized table.

Cross-engine determinism
------------------------
Unlike opaque sketch-library binaries, every cell is an exact integer
under the engine-portable md5-prefix hash (``llm/dedup._MD5_H60``
over ``key || '#' || row``), so the whole sketch — and every
estimate — replays bit-for-bit in any engine with md5(). The
portable-HLL family below applies the same upgrade to distinct
counting (Spark's native ``approx_count_distinct``,
``percentile_approx`` and ``hll_sketch_agg`` cannot be oracled by
value: their sketches are JVM-specific).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nhs_data_pipeline_spark.llm.dedup import _MD5_H60
from nhs_data_pipeline_spark.ops.core import local_frame


def _ns_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """NULL-safe equi-join on ``keys``, keeping the LEFT copy of each
    key column. A plain column-list join silently drops rows whose
    group key is NULL (the build-notes NULL-key trap): a NULL group's
    histogram rows would vanish from the bounds join and its HLL
    registers would never match their spine (estimating 0). eqNullSafe
    (`<=>`) is still a hash-joinable equi-condition, so the physical
    plan (broadcast-hash or shuffled-hash) is unchanged."""
    if not keys:
        r = F.broadcast(right) if broadcast_right else right
        return left.crossJoin(r)
    r = right
    for k in keys:  # rename right keys so the join output is unambiguous
        r = r.withColumnRenamed(k, f"__nsr_{k}")
    cond = F.col(keys[0]).eqNullSafe(F.col(f"__nsr_{keys[0]}"))
    for k in keys[1:]:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__nsr_{k}"))
    rj = F.broadcast(r) if broadcast_right else r
    return left.join(rj, cond, how).drop(*[f"__nsr_{k}" for k in keys])


def _salted_bucket_expr(key_sql: str, row_sql: str, w: int) -> Column:
    """Portable bucket of ``key_sql`` under hash row ``row_sql``:
    md5-prefix integer of ``key # row`` mod w. The '#'-salt derives d
    independent-enough hash functions from one digest family (keys
    containing '#' stay deterministic — both engines salt
    identically). NULL keys hash via the build-notes chr(0) sentinel —
    a NULL bucket would silently drop the row from every cell join
    (the documented NULL-key trap); a literal chr(0) key aliases with
    NULL, documented and harmless for counting."""
    salted = f"concat(coalesce({key_sql}, chr(0)), '#', cast({row_sql} as string))"
    return F.pmod(F.expr(_MD5_H60.format(x=salted)), F.lit(w))


def cm_sketch(
    df: DataFrame,
    key_col: str,
    d: int = 3,
    w: int = 256,
    shard_cols: list[str] | None = None,
) -> DataFrame:
    """Build the sketch table ``(*shard_cols, row, bucket, cnt)`` from
    a key stream (one input row = one occurrence). With ``shard_cols``
    the result is one independent sketch per shard — merge them with
    :func:`cm_merge`."""
    shards = shard_cols or []
    rows = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row")
    exploded = df.select(F.col(key_col).alias("__k"), *shards, rows)
    return (
        exploded.select(
            *shards,
            "row",
            _salted_bucket_expr("__k", "row", w).alias("bucket"),
        )
        .groupBy(*shards, "row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cm_merge(sketch: DataFrame) -> DataFrame:
    """Merge per-shard sketches into one global sketch by cell-wise
    addition — exact over sketches (the mergeability property)."""
    return sketch.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str,
    d: int = 3,
    w: int = 256,
) -> DataFrame:
    """Point-estimate each candidate key's frequency from a (merged)
    sketch: ``min`` over the d landed cells. Returns EVERY candidate
    row with ``est_n`` appended. Never undercounts; cells the key
    alone occupies give the exact count. Cells absent from the sketch
    table are empty counters (0): the join is a LEFT join with a
    coalesce, so a never-seen candidate correctly estimates 0 instead
    of being dropped (or, worse, over-estimated from only its
    colliding cells — review finding)."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row")
    probes = candidates.select("*", rows).withColumn(
        "bucket", _salted_bucket_expr(key_col, "row", w)
    )
    carry = [c for c in candidates.columns]
    return (
        probes.join(sketch, ["row", "bucket"], "left")
        .groupBy(*carry)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_n"))
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog: register-exact, mergeable, oracle-checkable
# ---------------------------------------------------------------------------

def hll_register_table(
    df: DataFrame,
    key_col: str,
    p: int = 10,
    shard_cols: list[str] | None = None,
) -> DataFrame:
    """HyperLogLog register table ``(*shard_cols, bucket, rho)`` under
    the engine-portable md5 hash: bucket = low ``p`` bits, rho = the
    1-based position of the leftmost 1 in the remaining ``60-p`` bits
    (all-zero suffix -> ``60-p+1``), registers = max(rho) per bucket.

    Unlike the JVM Datasketches blobs (``hll_sketch_agg``), the
    registers are plain integers from portable arithmetic — the whole
    sketch AND its estimate replay bit-exactly in any engine with
    md5() (the same upgrade cm_sketch makes over opaque counter
    blobs). Mergeable by per-bucket MAX (:func:`hll_merge`); NULL keys
    hash via the chr(0) sentinel like cm_sketch."""
    m = 1 << p
    w = 60 - p
    key = f"coalesce(cast({key_col} as string), chr(0))"
    h = f"({_MD5_H60.format(x=key)})"
    shards = shard_cols or []
    rho = (
        f"CASE WHEN {h} div {m} = 0 THEN {w + 1} "
        f"ELSE {w} - length(bin({h} div {m})) + 1 END"
    )
    return (
        df.select(
            *shards,
            F.expr(f"pmod({h}, {m})").alias("bucket"),
            F.expr(rho).alias("__rho"),
        )
        .groupBy(*shards, "bucket")
        .agg(F.max("__rho").alias("rho"))
    )


def hll_merge(registers: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge shard register tables by per-bucket MAX (exact over
    sketches — the HLL mergeability property), keeping ``group_cols``."""
    keys = (group_cols or []) + ["bucket"]
    return registers.groupBy(*keys).agg(F.max("rho").alias("rho"))


def hll_estimate(
    registers: DataFrame, p: int = 10, group_cols: list[str] | None = None
) -> DataFrame:
    """Classic HLL estimate per group from a (merged) register table:
    raw = alpha_m * m^2 / sum_j 2^-M_j over ALL m buckets (absent
    buckets are empty, M=0), with the standard small-range linear-
    counting correction ``m * ln(m / V)`` when raw <= 2.5m and V (the
    zero-register count) > 0. Returns ``(*group_cols, hll_estimate)``.

    Cross-engine exactness: 2^-M terms come from ``1.0 /
    shiftleft(1, M)`` (exact powers of two — ``pow`` is libm and NOT
    trusted), the bucket-spine sum folds in bucket order, alpha is
    spelled as the same literal arithmetic in both engines, and the
    single ``ln`` of the correction rounds to 4 decimals — so even the
    *approximation error* is bit-identical and hash-checkable."""
    m = 1 << p
    groups = group_cols or []
    # The alpha*m^2 numerator is computed in PYTHON doubles and shipped
    # as one literal: an earlier draft spelled it inside F.expr, where
    # Spark (ANSI) parses bare decimal literals as DECIMAL and computes
    # 0.7213/(1.0+1.079/m) in decimal arithmetic — 4.7e-5 away from
    # DuckDB's double path, enough to coin-flip ROUND(raw, 4) on
    # unlucky data (review finding). The oracle spells the identical
    # IEEE op sequence with every literal CAST AS DOUBLE.
    alpha_mm = 0.7213 / (1.0 + 1.079 / float(m)) * float(m) * float(m)
    spine = (
        registers.select(*groups).distinct()
        .select(*groups, F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bucket"))
    )
    full = _ns_join(spine, registers, groups + ["bucket"], how="left").select(
        *groups,
        "bucket",
        F.coalesce("rho", F.lit(0)).alias("__M"),
    )
    per = (
        full.select(
            *groups,
            "bucket",
            # F.shiftleft's bit-count arg must be a literal int; the
            # SQL form takes a column
            (F.lit(1.0) / F.expr("shiftleft(cast(1 as bigint), __M)")).alias("__t"),
            (F.col("__M") == 0).cast("long").alias("__z"),
        )
        .groupBy(*groups)
        .agg(
            F.sort_array(F.collect_list(F.struct("bucket", "__t"))).alias("__st"),
            F.sum("__z").alias("__v"),
        )
        .withColumn(
            "__s",
            F.expr(
                "aggregate(transform(__st, __x -> __x.__t), "
                "cast(0.0 as double), (__a, __b) -> __a + __b)"
            ),
        )
        .withColumn("__raw", F.lit(alpha_mm) / F.col("__s"))
    )
    est = F.when(
        (F.col("__v") > 0) & (F.col("__raw") <= F.lit(2.5 * m)),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("__v")), 4),
    ).otherwise(F.round("__raw", 4))
    return per.select(*groups, est.alias("hll_estimate"))


# ---------------------------------------------------------------------------
# Histogram quantile sketch: mergeable, deterministic, oracle-checkable
# ---------------------------------------------------------------------------


def grid_bin(v: Column, lo: Column, hi: Column, bins: int) -> Column:
    """Bin index for a fixed [lo, hi) grid with clamp-to-edge
    semantics, safe on dirty inputs — the ONE definition every
    histogram uses (divergent hand-rolled copies were a review
    finding):

    - NULL and NaN -> NULL (callers filter them out; silently binning
      NaN into bin 0, or NULL into the top bin through ``least``,
      corrupts quantiles),
    - +/-inf and any-magnitude values clamp on the BIGINT floor
      result BEFORE the int cast — Spark's floor saturates at
      Long.MAX/MIN but a bare ANSI cast of that to int THROWS and
      kills the query (the build-notes bare-cast rule),
    - a degenerate hi == lo grid collapses to bin 0.
    """
    if bins < 1:
        raise ValueError("bins must be >= 1")
    width = (hi - lo) / F.lit(float(bins))
    raw = F.floor((v - lo) / width)
    clamped = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.lit(bins - 1).cast("bigint"), raw),
    )
    return (
        F.when(v.isNull() | F.isnan(v), F.lit(None))
        .when(hi == lo, F.lit(0))
        .otherwise(clamped.cast("int"))
    )


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    bins: int = 64,
    group_cols: list[str] | None = None,
    shard_cols: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fixed-grid histogram sketch for approximate quantiles: per
    group, ``bins`` equal-width bins over the group's [min, max],
    counts per ``(group, *shard, bin)``. Returns ``(counts, bounds)``
    where bounds is the model-sized ``(group, lo, hi)`` table the
    estimator needs.

    The third mergeable-sketch family (distinct -> HLL, frequency ->
    count-min, quantiles -> histogram): shard counts merge by plain
    SUM (:func:`histogram_merge`), and — like the other two — every
    cell is an integer and the bin arithmetic is deterministic double
    ops on identical inputs, so the sketch AND its quantile estimates
    replay bit-exactly cross-engine. The equal-width grid is the
    honest trade-off vs t-digest: accuracy is bounded by bin width
    (documented), in exchange for exact replayability and trivial
    merging. Two passes over the data (bounds, then counts) — the
    bounds aggregate is tiny and broadcast back. NULL values are
    excluded (a quantile over NULL is undefined), max-valued rows
    clamp into the top bin."""
    groups = group_cols or []
    shards = shard_cols or []
    v = F.col(value_col).cast("double")
    bounds = (
        df.filter(v.isNotNull())
        .groupBy(*groups)
        .agg(F.min(v).alias("lo"), F.max(v).alias("hi"))
    )
    joined = _ns_join(
        df.filter(v.isNotNull()), bounds, groups, broadcast_right=True
    )
    bin_idx = grid_bin(v, F.col("lo"), F.col("hi"), bins)
    counts = (
        joined.select(*groups, *shards, bin_idx.alias("bin"))
        # NaN values bin to NULL (grid_bin) and are excluded like
        # NULLs — a quantile over NaN is undefined
        .filter(F.col("bin").isNotNull())
        .groupBy(*groups, *shards, "bin")
        .agg(F.count("*").alias("cnt"))
    )
    return counts, bounds


def histogram_merge(counts: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge shard histograms by per-bin SUM (exact over sketches)."""
    keys = (group_cols or []) + ["bin"]
    return counts.groupBy(*keys).agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    counts: DataFrame,
    bounds: DataFrame,
    quantiles: list[float],
    bins: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a (merged) histogram: for each q, find
    the first bin whose cumulative count reaches rank
    ``r = ceil(q * n)`` (clamped to >= 1) and interpolate uniformly
    within it:

        est = round(lo + width * (bin + (r - cum_before) / cnt), 4)

    The rank ceiling is computed in EXACT integer arithmetic: each q
    is rationalized once via ``Fraction(str(q))`` and
    ``r = (num*n + den - 1) div den`` — a float ``ceil(q * n)``
    overshoots the true ceiling for many (q, n) pairs
    (ceil(0.9*10) = 10, true 9; the build-notes float-ceil trap).
    Integer cumulative sums, one deterministic double expression at
    the end — hash-exact cross-engine. Returns
    ``(*group_cols, q, n, est)``."""
    from fractions import Fraction

    groups = group_cols or []
    w_cum = Window.partitionBy(*groups).orderBy("bin") if groups else Window.orderBy("bin")
    cum = counts.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "cum_before", F.col("cum") - F.col("cnt")
    )
    totals = counts.groupBy(*groups).agg(F.sum("cnt").alias("n"))
    fracs = [(float(q), Fraction(str(q))) for q in quantiles]
    qdf = local_frame(
        counts.sparkSession,
        [(q, fr.numerator, fr.denominator) for q, fr in fracs],
        StructType.fromDDL("q double, __num bigint, __den bigint"),
    )
    probes = (
        totals.crossJoin(F.broadcast(qdf))
        .withColumn(
            "r",
            F.greatest(
                F.expr("(__num * n + __den - 1) div __den"), F.lit(1).cast("bigint")
            ),
        )
        .drop("__num", "__den")
    )
    hit_w = Window.partitionBy(*(groups + ["q"])).orderBy("bin")
    hits = (
        # cum is model-sized by construction (|groups| x bins rows) —
        # broadcast keeps the probe join hash-based at any scale
        _ns_join(probes, cum, groups, broadcast_right=True)
        .filter(F.col("cum") >= F.col("r"))
        .withColumn("__rk", F.row_number().over(hit_w))
        .filter(F.col("__rk") == 1)
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(bins))
    est = F.round(
        F.col("lo")
        + width
        * (F.col("bin") + (F.col("r") - F.col("cum_before")) / F.col("cnt")),
        4,
    )
    joined = _ns_join(hits, bounds, groups, broadcast_right=True)
    return joined.select(*groups, "q", "n", est.alias("est"))


# ---------------------------------------------------------------------------
# Portable Bloom filter: mergeable membership sketch + scan-side join
# prefilter (the runtime-filter pattern, oracle-checkable)
# ---------------------------------------------------------------------------
#
# Spark 3.3+ injects bloom runtime filters itself when statistics allow;
# this is the same idea as an explicit, engine-portable operator: build a
# tiny bitmap over the build side's join keys, broadcast it, and knock
# probe-side rows out BEFORE the join's shuffle. At 100 TB the win is the
# shuffle you never pay: a selective dimension predicate prunes the fact
# scan down to (true matches + bounded false positives), and the exact
# join afterwards only rescues the FP remainder. Every bit position is
# exact integer arithmetic under a fixed multiply-mod hash family, so the
# whole bitmap — and every pass/fail decision — replays bit-for-bit in
# any engine (same discipline as the count-min/HLL tables above).

_BLOOM_P = 2147483647  # 2^31 - 1; pmod(key, P) * A below stays < 2^63
_BLOOM_MIX = [
    (2654435761, 1),
    (2246822519, 7),
    (3266489917, 13),
    (668265263, 19),
]  # (multiplier, offset) per hash row; k <= 4
_BLOOM_WORD = 32  # bits per BIGINT word (shift < 32 is portable SQL)


def _bloom_pos_expr(key_sql: str, i: int, m_bits: int) -> str:
    """SQL text (valid in Spark AND DuckDB) for bit position ``i`` of a
    non-negative BIGINT key: ``((key mod P) * A_i + B_i) mod P mod m``.
    NULL keys hash via a -1 sentinel (a NULL position would silently
    drop the row from the word join — the build-notes NULL-key trap);
    the double-mod keeps every intermediate below 2^63."""
    a, b = _BLOOM_MIX[i]
    k = f"((coalesce({key_sql}, -1) % {_BLOOM_P}) + {_BLOOM_P}) % {_BLOOM_P}"
    return f"((({k}) * {a} + {b}) % {_BLOOM_P}) % {m_bits}"


def bloom_build(
    df: DataFrame,
    key_col: str,
    k: int = 3,
    m_bits: int = 1024,
    shard_cols: list[str] | None = None,
) -> DataFrame:
    """Build the bitmap table ``(*shard_cols, word_idx, word)`` over a
    BIGINT key column: k bit positions per key, OR-ed into
    ``m_bits / 32`` BIGINT words. Model-sized by construction (at most
    m/32 rows per shard), mergeable by word-wise OR, and
    broadcastable into any probe scan. Size ``m_bits`` for the
    expected build-side cardinality (~10 bits/key for ~1% FP at k=3);
    an undersized filter stays CORRECT — it just passes more false
    positives for the exact join to rescue."""
    if not 1 <= k <= len(_BLOOM_MIX):
        raise ValueError(f"k must be in 1..{len(_BLOOM_MIX)}")
    shards = shard_cols or []
    pos = F.explode(
        F.array(*[F.expr(_bloom_pos_expr(key_col, i, m_bits)) for i in range(k)])
    ).alias("__pos")
    return (
        df.select(*shards, pos)
        .select(
            *shards,
            (F.col("__pos") / _BLOOM_WORD).cast("bigint").alias("word_idx"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(__pos % {_BLOOM_WORD} as int))"
            ).alias("__m"),
        )
        .groupBy(*shards, "word_idx")
        .agg(F.bit_or("__m").alias("word"))
    )


def bloom_prefilter(
    probe: DataFrame,
    key_col: str,
    bitmap: DataFrame,
    k: int = 3,
    m_bits: int = 1024,
) -> DataFrame:
    """Append ``bloom_pass`` to every probe row: true iff ALL k bits of
    ``key_col`` are set in the (merged) bitmap. Physically k chained
    broadcast-hash left joins of the model-sized word table against the
    probe scan — no explode (the probe stream is never duplicated), no
    distinct, no shuffle of the probe side; a missing word row is an
    all-zero word (left join + coalesce). ``bloom_pass = false`` rows
    are guaranteed non-members; ``true`` rows still need the exact
    (semi-)join — the filter only shrinks what reaches that shuffle."""
    out = probe
    passed = F.lit(True)
    for i in range(k):
        w = bitmap.select(
            F.col("word_idx").alias(f"__wi{i}"), F.col("word").alias(f"__w{i}")
        )
        pos = F.expr(_bloom_pos_expr(key_col, i, m_bits))
        out = (
            out.withColumn(f"__p{i}", pos)
            .join(
                F.broadcast(w),
                (F.col(f"__p{i}") / _BLOOM_WORD).cast("bigint") == F.col(f"__wi{i}"),
                "left",
            )
        )
        bit = F.expr(
            f"shiftleft(cast(1 as bigint), cast(__p{i} % {_BLOOM_WORD} as int))"
        )
        passed = passed & (
            F.coalesce(F.col(f"__w{i}"), F.lit(0).cast("bigint")).bitwiseAND(bit) != 0
        )
    drop = [c for i in range(k) for c in (f"__p{i}", f"__wi{i}", f"__w{i}")]
    return out.withColumn("bloom_pass", passed).drop(*drop)


# ---------------------------------------------------------------------------
# Exact bitmap distinct: mergeable EXACT distinct counting for bounded
# non-negative integer key domains (the ClickHouse/Doris bitmap trick)
# ---------------------------------------------------------------------------

def bitmap_build(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Bitmap table ``(*group_cols, word_idx, word)`` over a
    NON-NEGATIVE integer key column: bit ``key mod 32`` of word
    ``key div 32``. Unlike HLL this is EXACT — and still mergeable
    (word-wise OR, idempotent), so per-shard/day/source bitmaps
    re-aggregate to exact distinct counts at any granularity without
    ever re-scanning raw data, which count_distinct cannot do (its
    partials are not mergeable across pre-aggregated shards).

    Store size is keyspace/32 words per group — the honest trade:
    right for dense bounded ID domains (user ids, doc ids), wrong for
    sparse 64-bit hashes (use HLL there). NULL keys are excluded (a
    distinct count of NULL is 0 in both engines' count_distinct).

    Rows whose key is negative raise rather than silently aliasing a
    positive key's bit (the guard lives INSIDE the word expression — a
    standalone assert_true column would be pruned by the optimizer the
    moment it is dropped)."""
    groups = group_cols or []
    word_idx = F.when(
        F.col(key_col) >= 0, (F.col(key_col) / 32).cast("bigint")
    ).otherwise(
        F.raise_error(F.lit("bitmap_build: negative key")).cast("bigint")
    )
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(
            *groups,
            word_idx.alias("word_idx"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast({key_col} % 32 as int))"
            ).alias("__m"),
        )
        .groupBy(*groups, "word_idx")
        .agg(F.bit_or("__m").alias("word"))
    )


def bitmap_distinct(bitmap: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """EXACT distinct count per group from a (merged) bitmap:
    ``sum(bit_count(word))`` — a map-side-combinable integer
    aggregate over the model-sized word table."""
    groups = group_cols or []
    return bitmap.groupBy(*groups).agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("distinct_exact")
    )


def hll_rolling_estimate(
    df: DataFrame,
    key_col: str,
    day_col: str,
    window_days: int = 7,
    p: int = 10,
) -> DataFrame:
    """Rolling ``window_days``-day distinct-count estimates from
    day-sharded portable-HLL registers: ``(day, hll_estimate)`` for
    every OBSERVED day, estimating distincts over [day-w+1, day].

    The sketch-reuse pattern this module exists for: raw data is
    scanned ONCE into per-day register tables; each day's registers
    then fan out plan-side to the <= w window-ends they contribute to
    (a register-table explode — model-sized x w, never raw-data x w),
    and window merges are per-bucket MAX. An exact rolling
    count_distinct would rescan every row w times (or self-join days);
    this is the honest approximate trade at 100 TB."""
    regs = hll_register_table(df, key_col, p=p, shard_cols=[day_col])
    off = F.explode(F.sequence(F.lit(0), F.lit(window_days - 1))).alias("__o")
    fanned = regs.select(day_col, "bucket", "rho", off).select(
        F.date_add(F.col(day_col), F.col("__o")).alias(day_col), "bucket", "rho"
    )
    observed = regs.select(day_col).distinct()
    windows = hll_merge(fanned, group_cols=[day_col]).join(
        F.broadcast(observed), day_col, "left_semi"
    )
    return hll_estimate(windows, p=p, group_cols=[day_col])


def cm_join_cardinality(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    d: int = 3,
) -> DataFrame:
    """Equi-join cardinality estimate from two (merged) count-min
    sketches built over the SAME key domain with the same (d, w):
    the classic inner-product estimator — per hash row, sum the
    cell-wise products of the two counter vectors; the estimate is
    the MIN over rows. Never undercounts (collisions only add), and
    exact when no cell holds two distinct keys. One row out:
    ``(join_card_est)``.

    This is how a planner sizes ``A JOIN B ON key`` from model-sized
    sketch tables WITHOUT scanning either input — the sketches came
    from earlier passes (or shard merges) and the estimate itself is
    a d*w-row join + aggregate. All-integer, engine-exact."""
    a = sketch_a.select("row", "bucket", F.col("cnt").alias("__ca"))
    b = sketch_b.select("row", "bucket", F.col("cnt").alias("__cb"))
    per_row = (
        a.join(b, ["row", "bucket"])  # absent cells are zero products
        .groupBy("row")
        .agg(
            F.sum(
                F.col("__ca").cast("decimal(38,0)") * F.col("__cb").cast("decimal(38,0)")
            ).alias("__ip")
        )
    )
    # a hash row whose sketches share NO cells has inner product 0 but
    # contributes no per_row row at all — the MIN must still see it,
    # or disjoint sketches return an inflated (or NULL) estimate
    # instead of the exact 0 (the r05 advisor catch). Fewer than d
    # surviving rows means at least one row's true product is 0.
    return per_row.agg(
        F.when(F.count("*") == F.lit(d), F.min("__ip"))
        .otherwise(F.lit(0).cast("decimal(38,0)"))
        .cast("bigint")
        .alias("join_card_est")
    )
