"""Data-quality auditing: declarative expectation checks and robust
(MAD) outlier detection.

The reference pipeline's QA is ad-hoc (assert-shaped row counts and
set audits inside scripts); these operators make the same intent a
first-class, declarative surface — the "expectations" layer every
production ingest runs before publishing a panel.

Scale shape: every check is an aggregate with map-side partials (one
number per check per partition crosses the shuffle), and the report
is a UNION of one-row frames — lookup-sized however big the audited
table is. Nothing collects; the report itself is a DataFrame, so it
lands in the same sink/alerting path as any other output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nhs_data_pipeline_spark.ops.core import local_frame


def check_not_null(df: DataFrame, col: str) -> DataFrame:
    """Violations = rows where ``col`` is NULL."""
    return df.agg(
        F.lit(f"not_null:{col}").alias("check"),
        F.count_if(F.col(col).isNull()).alias("violations"),
        F.count("*").alias("rows_checked"),
    )


def check_unique(df: DataFrame, cols: str | list[str]) -> DataFrame:
    """Violations = rows beyond the first per duplicate key group
    (0 when the key is unique). Exact distinct count — this is an
    audit, not a sketch; use the HLL op for monitoring at scale."""
    cs = [cols] if isinstance(cols, str) else list(cols)
    name = ",".join(cs)
    # count_distinct over a STRUCT, not the bare columns: count_distinct
    # drops any row with a NULL key column, which would report every
    # NULL-key row as a violation even when it is the only one. The
    # struct wrapper keeps NULL keys as distinct countable values
    # (NULL == NULL for grouping purposes, matching groupBy semantics).
    return df.agg(
        F.lit(f"unique:{name}").alias("check"),
        (
            F.count("*")
            - F.count_distinct(F.struct(*[F.col(c) for c in cs]))
        ).alias("violations"),
        F.count("*").alias("rows_checked"),
    )


def check_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """Violations = non-null values outside [lo, hi]."""
    c = F.col(col)
    return df.agg(
        F.lit(f"range:{col}").alias("check"),
        F.count_if(c.isNotNull() & ~c.between(lo, hi)).alias("violations"),
        F.count("*").alias("rows_checked"),
    )


def check_referential(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """Violations = child rows whose key has no parent (orphans).
    Left join against the parent's DISTINCT keys (no fanout, ships
    keys only, broadcasts when lookup-sized) so the report also
    carries the checked row count."""
    j = child.select(F.col(child_key)).join(
        parent.select(F.col(parent_key).alias(child_key))
        .distinct()
        .withColumn("__p", F.lit(1)),
        child_key,
        "left",
    )
    return j.agg(
        F.lit(f"referential:{child_key}").alias("check"),
        F.count_if(F.col("__p").isNull()).alias("violations"),
        F.count("*").alias("rows_checked"),
    )


def expectations_report(checks: list[DataFrame]) -> DataFrame:
    """Union the one-row check frames into the audit report
    ``(check, violations, rows_checked)``."""
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def mad_outliers(
    df: DataFrame,
    keys: str | list[str],
    value_col: str,
    n_sigmas: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier counts: a value is an outlier when
    ``|x - median| > n_sigmas * 1.4826 * MAD`` (MAD = median absolute
    deviation; 1.4826 scales MAD to the stddev of a normal — the
    standard robust z-score, immune to the outliers it hunts, unlike
    mean/stddev).

    Two exact-percentile aggregations (group medians, then deviation
    medians) and one counting pass — group-keyed shuffles carrying
    (key, value) pairs. Exact interpolated percentiles match across
    engines (sorted-order interpolation, no accumulation-order
    nondeterminism); at monitoring-only scale swap in
    ``approx_percentile`` for one fewer shuffle."""
    ks = [keys] if isinstance(keys, str) else list(keys)
    med = df.groupBy(*ks).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    dev = df.join(med, ks).withColumn(
        "__adev", F.abs(F.col(value_col) - F.col("__med"))
    )
    mad = dev.groupBy(*ks).agg(
        F.expr("percentile(__adev, 0.5)").alias("__mad")
    )
    flagged = dev.join(mad, ks)
    thr = F.lit(float(n_sigmas) * 1.4826) * F.col("__mad")
    return flagged.groupBy(*ks).agg(
        F.count("*").alias("n"),
        F.count_if(F.col("__adev") > thr).alias("n_outliers"),
        F.round(F.first("__med"), 6).alias("median"),
        F.round(F.first("__mad"), 6).alias("mad"),
    )


def benford_audit(df: DataFrame, value_int_col: str) -> DataFrame:
    """Benford's-law first-digit audit of a positive integer-quantized
    amount column — the classic fabricated-data / unit-mixing screen:
    naturally occurring multi-scale amounts put digit d first with
    probability ``log10(1 + 1/d)``; keyed-in or synthesized values
    don't. Returns one row per digit 1-9: ``(digit, n_obs, share,
    expected_share, chi2_term)`` — ``sum(chi2_term)`` is the Pearson
    chi-square statistic against the Benford null (8 dof).

    Exactness: the leading digit comes from the STRING head of the
    exact integer (never ``floor(v / 10^floor(log10 v))`` — the log10
    float lands on the wrong side at exact powers of ten); counts are
    exact integers; the expected shares are inexact constants built as
    python-float literals in the engine and ``CAST(... AS DOUBLE)``
    literals in the oracle (the build-notes F.expr-decimal-literal
    trap), so both engines run the identical IEEE sequence for the
    share and chi-square terms, floor-rounded at 6.

    Scale: one map-side-combinable 9-group aggregate + a broadcast
    9-row expectation join. Non-positive and NULL values are excluded
    (Benford is defined on positive magnitudes)."""
    import math

    v = F.col(value_int_col)
    digits = (
        df.filter(v.isNotNull() & (v > 0))
        .select(
            F.substring(v.cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )
    spark = df.sparkSession
    exp = local_frame(
        spark,
        [(d, math.log10(1.0 + 1.0 / d)) for d in range(1, 10)],
        StructType.fromDDL("digit int, expected_share double"),
    )
    tot = digits.agg(F.sum("n_obs").cast("bigint").alias("__tot"))
    j = (
        F.broadcast(exp)
        .join(digits, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
            "expected_share",
            "__tot",
        )
    )
    share = F.col("n_obs").cast("double") / F.col("__tot").cast("double")
    dev = share - F.col("expected_share")
    chi2 = (
        dev * dev / F.col("expected_share") * F.col("__tot").cast("double")
    )
    floor6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(  # noqa: E731
        1000000.0
    )
    return j.select(
        "digit",
        "n_obs",
        floor6(share).alias("share"),
        floor6(F.col("expected_share")).alias("expected_share"),
        floor6(chi2).alias("chi2_term"),
    )


def content_fingerprint(
    df: DataFrame,
    cols: list[str],
    group_by: list[str] | None = None,
) -> DataFrame:
    """Order-invariant content checksum: ``bit_xor`` of a 60-bit
    md5-derived hash of each row's ``cols`` — the cheap reproducibility
    handshake two pipeline runs (or two engines, or two clusters)
    exchange to prove they landed the SAME rows without moving data.

    Field encoding is injection-proof: each column is length-prefixed
    (``len(s) + ':' + s``; NULL encodes as the bare token ``'N'``,
    which can't collide with a prefixed value since those start with a
    digit), so ('a|b','c') vs ('a','b|c') — or a literal separator /
    NULL-sentinel inside a value — hash differently. Length prefixes
    make the concatenation uniquely parseable with no separator at all.

    XOR is commutative/associative and width-stable, so the fold is
    partitioning-independent and never overflows, and Spark computes
    it map-side-combined in one scan. The hash is the engine-portable
    md5-prefix integer (same value in DuckDB; both engines' length()
    counts characters), so fingerprints compare across engines. Caveat
    of XOR folds: duplicate rows cancel in pairs — include a unique
    key in ``cols`` (the normal case) or add a count to the handshake.
    """
    parts: list = []
    for c in cols:
        s = F.col(c).cast("string")
        parts.append(
            F.when(s.isNull(), F.lit("N")).otherwise(
                F.concat(F.length(s).cast("string"), F.lit(":"), s)
            )
        )
    h = F.conv(F.substring(F.md5(F.concat(*parts)), 1, 15), 16, 10).cast("bigint")
    aggs = [
        F.count("*").alias("n_rows"),
        F.bit_xor(h).alias("content_fingerprint"),
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def functional_dependency_report(
    df: DataFrame,
    det_cols: str | list[str],
    dep_cols: str | list[str],
) -> DataFrame:
    """Functional-dependency audit: does ``det_cols -> dep_cols`` hold?
    Returns the VIOLATION HISTOGRAM — one row per distinct-dependent
    count: ``(n_distinct_dep, n_keys)`` — so a report of a single row
    ``(1, n)`` proves the FD holds, and the tail (keys with 2, 3, ...
    dependent values) sizes the cleanup a normalization/merge step
    faces. The profiling primitive behind schema-normalization
    decisions (is this column a safe join key? does org_code determine
    region?) that the declarative expectation checks can't express.

    NULL discipline: NULL determinant keys group together (groupBy
    semantics); NULL dependent values count as a distinct value via
    the struct wrapper (the check_unique rule), so ``(NULL, 'x')``
    under one key is 2 distinct dependents, not 1. Two map-side
    combinable aggregates; the report is at most max-multiplicity
    rows."""
    det = [det_cols] if isinstance(det_cols, str) else list(det_cols)
    dep = [dep_cols] if isinstance(dep_cols, str) else list(dep_cols)
    per_key = df.groupBy(*[F.col(c) for c in det]).agg(
        F.count_distinct(
            F.struct(*[F.col(c) for c in dep])
        ).cast("bigint").alias("n_distinct_dep")
    )
    return per_key.groupBy("n_distinct_dep").agg(
        F.count("*").cast("bigint").alias("n_keys")
    )
