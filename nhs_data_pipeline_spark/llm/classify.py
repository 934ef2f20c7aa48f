"""Linear quality classifier over hashed bag-of-words features.

Production LLM-data pipelines (GPT-3, LLaMA, RedPajama — all public
papers) filter web text with a *linear classifier* over hashed n-gram
features (fastText-style): each token hashes into a bucket, each
bucket carries a learned weight, and a document's logit is the mean of
its tokens' weights (+ bias). Documents with logit >= 0 look like the
positive ("high quality" / "reference-like") class and are kept or
up-weighted.

This module implements the *scoring* side — the part that runs over
100 TB — as pure Catalyst expressions. Training happens offline at
model scale (the weight table here is a seeded deterministic stand-in
with the exact shape a trained model would have: bucket -> weight).
Swapping in real learned weights is a broadcast-join of a B-row
table; the scoring plan is identical.

Spark-first shape (100 TB design)
---------------------------------
- One projection explodes tokens; the bucket hash is the
  engine-portable md5-prefix integer (``llm/dedup._MD5_H60``) —
  whole-stage-codegen, no Python.
- The weight is a *closed-form* function of the bucket (multiplicative
  integer hash -> [-0.5, 0.5] rational), so scoring needs NO join at
  all; with a learned table it becomes one broadcast join of B rows.
- Per-doc reduction is one groupBy(doc_id) — embarrassingly parallel;
  shuffle rows are ``(doc_id, bucket int)``, never text.

Cross-engine determinism
------------------------
Weights are the exact rationals ``k/1e6 - 0.5`` with integer ``k``, so
the engine sums the INTEGER millionths (order-free, exact — no float
fold needed) and applies the division + offset once per document:

    logit = sum(k_i) / (1e6 * n_tokens) - 0.5

Every step is integer arithmetic or a single correctly-rounded double
op on identical inputs, so the logit is bit-identical in any engine
*without rounding*. (An earlier draft rounded a per-token double fold
to 6 decimals; because the weights have exactly 1e-6 resolution, the
mean regularly lands on round-half boundaries and the engines
coin-flip the last digit — the dual-scale gate caught it at sf0.1.
The integer-sum form removes the boundary entirely.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from nhs_data_pipeline_spark.llm.dedup import _MD5_H60
from nhs_data_pipeline_spark.llm.text import explode_terms
from nhs_data_pipeline_spark.ops.core import local_frame
from nhs_data_pipeline_spark.ops.graph import _round9

#: Knuth multiplicative constant — spreads consecutive bucket ids.
_MIX = 2654435761
#: Weight resolution: weights are k/1e6 - 0.5 for k in [0, 1e6].
_RES = 1_000_000


def bucket_weight_millionths(bucket: Column) -> Column:
    """Integer numerator ``k`` of the deterministic bucket weight
    ``k/1e6 - 0.5``: ``pmod(bucket * 2654435761 + 12345, 1e6+1)``.
    Pure integer arithmetic — replays exactly in any engine."""
    return F.pmod(bucket * F.lit(_MIX) + F.lit(12345), F.lit(_RES + 1))


def linear_quality_scores(
    df: DataFrame,
    buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score every document with the hashed linear classifier:
    ``(doc_id, n_tokens, logit, keep)`` where

        logit = sum(k_tok) / (1e6 * n_tokens) - 0.5      (exact; no round)
        keep  = logit >= 0

    The integer sum is order-free, so no deterministic fold is needed
    (module docstring). Tokens come from ``explode_terms`` — the
    LOWERCASED shared tokenizer the other bag-of-words operators
    (retrieval, BPE, count-min) use: a quality classifier should not
    split its vocabulary on case, and a case-preserving engine side
    against a lowercasing oracle is a latent gate failure the moment
    regenerated data contains an uppercase character (review finding).
    Empty documents (no tokens after normalization) get logit NULL
    and keep false — a quality filter has no evidence to keep them.
    """
    # repartition before the CPU-heavy per-token md5 stage: a small
    # parquet input gives 2-3 splits and idles the other cores (the
    # measured build-notes rule tokenized_frame used to apply here).
    # r11 (guide §2.3/§2.4): hash by doc id so the (doc, token) count
    # aggregate and the per-doc score aggregate both reuse this one
    # exchange, and the md5 runs once per DISTINCT (doc, token) pair
    # with count weights (sum(cnt*k) == the per-occurrence sum — exact
    # integers, values unchanged).
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        explode_terms(df.repartition(par, F.col(id_col)), text_col, id_col)
        .select(F.col(id_col).alias("doc_id"), F.col("term").alias("__tok"))
        .groupBy("doc_id", "__tok")
        .agg(F.count("*").alias("__cnt"))
    )
    feats = toks.select(
        "doc_id",
        "__cnt",
        bucket_weight_millionths(
            F.pmod(F.expr(_MD5_H60.format(x="__tok")), F.lit(buckets))
        ).alias("__k"),
    )
    scored = (
        feats.groupBy("doc_id")
        .agg(
            F.sum("__cnt").alias("n_tokens"),
            F.sum(F.col("__cnt") * F.col("__k")).alias("__s"),
        )
        .withColumn(
            "logit",
            F.col("__s") / (F.lit(float(_RES)) * F.col("n_tokens")) - F.lit(0.5),
        )
        .drop("__s")
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            "logit",
            F.coalesce(F.col("logit") >= 0, F.lit(False)).alias("keep"),
        )
    )


def hashed_features(
    df: DataFrame,
    buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hashed bag-of-words feature table ``(doc_id, bucket, x)`` with
    integer counts, plus a bias feature (``bucket = -1, x = 1``) for
    every document that has at least one token. The training-set
    definition for :func:`logreg_fit`: docs with zero tokens carry no
    evidence and are excluded."""
    # r11 (guide §2.3/§2.4, the linear_quality_scores shape): doc-hash
    # partition once — (doc, term) counts, the bucket projection, and
    # the (doc, bucket) re-aggregate all run exchange-free — and md5
    # evaluates once per distinct (doc, term), not per occurrence.
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        explode_terms(df.repartition(par, F.col(id_col)), text_col, id_col)
        .select(F.col(id_col).alias("doc_id"), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("__cnt"))
        .select(
            "doc_id",
            F.pmod(F.expr(_MD5_H60.format(x="term")), F.lit(buckets)).alias(
                "bucket"
            ),
            "__cnt",
        )
    )
    counts = toks.groupBy("doc_id", "bucket").agg(F.sum("__cnt").alias("x"))
    bias = counts.select("doc_id").distinct().select(
        "doc_id", F.lit(-1).alias("bucket"), F.lit(1).cast("long").alias("x")
    )
    return counts.unionByName(bias)


def logreg_fit(
    df: DataFrame,
    label_col: str,
    buckets: int = 64,
    iterations: int = 3,
    lr: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed full-batch logistic-regression training of the
    hashed linear quality classifier — the train side that
    ``linear_quality_scores``' fixed weights stood in for. Returns the
    learned weight table ``(bucket, weight)`` (``bucket = -1`` is the
    bias) after ``iterations`` synchronous gradient steps

        w_b <- round(w_b + lr * grad_b / N, 9)
        grad_b = sum_d x_db * (y_d - sigmoid(z_d)),  z_d = sum_b w_b x_db

    ``label_col`` must be an integer 0/1 column on ``df``.

    Spark-first shape (100 TB design, reshaped r11 — guide §2.1/§2.2):
    the corpus is featurized ONCE and immediately packed into a
    persisted per-doc table ``(doc_id, __fx sorted[(bucket, x)], __y)``
    — <= buckets+1 array elements per doc, never corpus-sized arrays.
    Each round is then ONE scan of that table: the z fold and the
    millionths-quantized sigmoid evaluate per row with the current
    weights injected as a single 65-element constant array expression
    (one F.expr string — the per-element F.lit py4j trap), and the only
    aggregate is the 65-key integer gradient (map-side partials, ~no
    shuffle bytes). The previous shape paid per round: a broadcast
    weight join, a corpus-wide (doc,bucket) fold SHUFFLE, a doc-keyed
    label join, the gradient shuffle, and a weight-table checkpoint
    (2 more driver jobs) — measured 10.5 s at sf0.1; all of it driver/
    shuffle latency on work whose per-round state is a 65-row model.
    The weight update runs on the driver (the k-means-centroid collect
    pattern: model to the driver, corpus stays distributed).

    Cross-engine determinism: UNCHANGED trajectory. The per-doc z fold
    still adds weight*x in bucket order from 0.0 (array is sorted by
    the unique-per-doc bucket; fold replays the oracle's
    ``list_reduce(list_prepend(0.0, list(w*x ORDER BY bucket)))``),
    weights re-enter each round as exact shortest-repr string casts
    (``CAST('<repr>' AS DOUBLE)`` — bit-exact round-trip; a bare
    decimal literal would parse as DECIMAL under ANSI, the F.expr
    trap), the sigmoid is quantized to integer MILLIONTHS immediately
    after its one ``exp`` (the transcendental rule), the gradient sums
    INTEGER numerators (order-free, exact), and the driver-side update
    ``_round9(w + lr * (g / (1e6 * N)))`` replays Spark's
    BigDecimal-HALF_UP F.round(col, 9) exactly (the r5 replica rule —
    never python round())."""
    feats = hashed_features(df, buckets, text_col, id_col)
    labels = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).cast("long").alias("__y"),
    )
    perdoc = (
        feats.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("bucket", "x"))).alias("__fx"))
        .join(labels, "doc_id")
        .persist()
    )
    n = perdoc.count()  # == COUNT(DISTINCT doc_id) over feats
    denom = float(1000000 * n)

    w = [0.0] * (buckets + 1)  # index i <-> bucket i - 1 (bias first)
    for _ in range(iterations):
        wa = F.expr(
            "array(" + ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in w) + ")"
        )
        z = F.aggregate(
            F.transform(
                F.col("__fx"),
                lambda s: F.element_at(
                    wa, (s["bucket"] + F.lit(2)).cast("int")
                )
                * s["x"],
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        e = (
            F.col("__y") * F.lit(1000000)
            - F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) * F.lit(1000000.0),
                0,
            ).cast("long")
        )
        grad = (
            perdoc.select(F.explode("__fx").alias("__s"), e.alias("__e"))
            .groupBy(F.col("__s.bucket").alias("bucket"))
            .agg(F.sum(F.col("__s.x") * F.col("__e")).alias("__g"))
            .collect()
        )
        g = {r["bucket"]: r["__g"] for r in grad}
        w = [
            _round9(w[i] + lr * (float(g.get(i - 1, 0)) / denom))
            for i in range(buckets + 1)
        ]
    perdoc.unpersist()
    schema = StructType(
        [
            StructField("bucket", IntegerType()),
            StructField("weight", DoubleType()),
        ]
    )
    return local_frame(
        df.sparkSession, [(i - 1, w[i]) for i in range(buckets + 1)], schema
    )


def binary_auc(
    scored: DataFrame,
    score_col: str,
    pos_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """Exact ROC-AUC of a score against a binary label, one row:
    ``(n_pos, n_neg, auc)`` — the rank-sum (Mann-Whitney U) form with
    proper tied-score handling:

        auc = (2*sum(pos ranks) - n_pos*(n_pos+1)) / (2*n_pos*n_neg)

    using average ranks per tied group, kept INTEGER throughout:
    a tie group starting after ``cum`` rows with ``cnt`` members has
    ``2*avg_rank = 2*cum + cnt + 1`` exactly. Every sum runs in
    DECIMAL(38,0) (n^2-magnitude products), and the single closing
    division of two exact integers is bit-identical cross-engine — no
    rounding anywhere. NULL scores are excluded (unscorable rows
    cannot be ranked); degenerate label sets (no positives or no
    negatives) yield NULL, not a zero-division.

    Shape: one groupBy(score), then the cumulative below-count comes
    from the BUCKETED two-pass global rank (ops/analytics.
    quantile_normalize's pattern): distinct scores bucket by a
    RANGE-DERIVED width — ``floor((score - min) / ((max - min) /
    n_buckets))`` off one scalar (min, max) aggregate — so the only
    un-partitioned window runs over the <= n_buckets bucket-count
    table (broadcast back) and the per-score cumulation is PARTITIONED
    by bucket. The r05 verdict's catch: a plain
    ``Window.orderBy(score)`` here is a single task holding every
    distinct score — corpus-scale when ranking raw per-doc logits.
    The r06 review's catch on the first fix: a FIXED bucket width is
    vacuous for real callers — the sole caller ranks double logits in
    [-0.5, 0.5], where ``floor(score / 65536)`` yields two buckets and
    the "partitioned" window still holds the whole table. The bucket
    id only has to be MONOTONE in score for the two-pass ranks to be
    exact (offsets + within-bucket row_number recover the same global
    rank under any value-ordered bucketing), so the float width math
    cannot corrupt results — it only balances partitions. The raw
    stream still shuffles once, on the score key, with map-side
    combine. NaN scores are excluded along with NULLs (NaN has no
    rank; it would also poison the bucket id)."""
    D = "decimal(38,0)"
    # the bucket id is derived from score.cast('double'): that cast is
    # order-preserving for numeric/decimal scores but would SILENTLY
    # corrupt ranks for a string-typed score column (lexicographic
    # order != numeric order of the cast) — reject it loudly
    from pyspark.sql.types import NumericType

    if not isinstance(scored.schema[score_col].dataType, NumericType):
        raise TypeError(
            f"binary_auc: score column {score_col!r} must be numeric, "
            f"got {scored.schema[score_col].dataType.simpleString()}"
        )
    pos = F.col(pos_col).cast("int")
    base = scored.filter(F.col(score_col).isNotNull())
    if isinstance(scored.schema[score_col].dataType, (DoubleType, FloatType)):
        base = base.filter(~F.isnan(F.col(score_col)))
    g = base.groupBy(score_col).agg(
        F.count("*").alias("cnt"), F.sum(pos).alias("pc")
    )
    s = F.col(score_col).cast("double")
    rng = g.agg(
        F.min(s).alias("__lo"), F.max(s).alias("__hi")
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    gb = g.crossJoin(F.broadcast(rng)).withColumn(
        "__bk",
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((s - F.col("__lo")) / width),
                F.lit(n_buckets - 1),
            )
        )
        .cast("bigint"),
    ).drop("__lo", "__hi")
    bcounts = gb.groupBy("__bk").agg(F.sum("cnt").alias("__bc"))
    woff = Window.orderBy("__bk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bcounts.withColumn(
        "__off", F.coalesce(F.sum("__bc").over(woff), F.lit(0).cast("bigint"))
    ).select("__bk", "__off")
    win = Window.partitionBy("__bk").orderBy(score_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    r = (
        gb.join(F.broadcast(offsets), "__bk")
        .withColumn(
            "cum",
            F.col("__off")
            + F.coalesce(F.sum("cnt").over(win), F.lit(0).cast("bigint")),
        )
    )
    twice_avg_rank = (F.lit(2) * F.col("cum") + F.col("cnt") + F.lit(1)).cast(D)
    agg = r.agg(
        F.sum(F.col("pc").cast(D) * twice_avg_rank).alias("s2"),
        F.sum("pc").cast(D).alias("np"),
        F.sum("cnt").cast(D).alias("n"),
    )
    np_, n_ = F.col("np"), F.col("n")
    nneg = n_ - np_
    auc = F.when(
        (np_ > 0) & (nneg > 0),
        (F.col("s2") - np_ * (np_ + F.lit(1).cast(D))).cast("double")
        / (F.lit(2).cast(D) * np_ * nneg).cast("double"),
    )
    return agg.select(
        np_.cast("bigint").alias("n_pos"),
        nneg.cast("bigint").alias("n_neg"),
        auc.alias("auc"),
    )


def calibration_bins(
    scored: DataFrame,
    conf_millionths_col: str,
    pos_col: str,
    bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error, all exact:
    confidences arrive as integer MILLIONTHS in [0, 1e6]; rows land in
    ``bins`` equal-width bins (the top edge folds into the last bin)
    and each bin reports ``(bin, n_bin, n_pos, acc, conf)`` plus the
    global ``ece`` repeated per row:

        ece = sum_b (n_b/N) * |acc_b - conf_b|
            = sum_b |pos_b*1e6 - s_b|  /  (N*1e6)     (exact integers!)

    The absolute-difference numerators are exact integers (s_b = the
    bin's summed millionths), so ECE — usually a float-soup statistic
    — is ONE division of two exact integers, bit-identical
    cross-engine; ``acc`` and ``conf`` are likewise single divisions.
    Shape: one map-side-combinable aggregate onto <= ``bins`` rows,
    one scalar broadcast back — nothing at corpus scale after the
    first shuffle."""
    D = "decimal(38,0)"
    width = _RES // bins
    b = F.least(
        (F.col(conf_millionths_col) / width).cast("bigint"), F.lit(bins - 1)
    )
    g = (
        scored.filter(F.col(conf_millionths_col).isNotNull())
        .groupBy(b.alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n_bin"),
            F.sum(F.col(pos_col).cast("int")).cast("bigint").alias("n_pos"),
            F.sum(F.col(conf_millionths_col).cast(D)).alias("__s"),
        )
    )
    num = F.abs(
        F.col("n_pos").cast(D) * F.lit(_RES).cast(D) - F.col("__s")
    )
    tot = g.agg(
        F.sum(num).alias("__ece_num"),
        F.sum("n_bin").cast(D).alias("__N"),
    ).select(
        (
            F.col("__ece_num").cast("double")
            / (F.col("__N") * F.lit(_RES).cast(D)).cast("double")
        ).alias("ece")
    )
    out = g.crossJoin(F.broadcast(tot))
    return out.select(
        "bin",
        "n_bin",
        "n_pos",
        (F.col("n_pos").cast("double") / F.col("n_bin").cast("double")).alias("acc"),
        (
            F.col("__s").cast("double")
            / (F.col("n_bin").cast(D) * F.lit(_RES).cast(D)).cast("double")
        ).alias("conf"),
        "ece",
    )


def confusion_matrix(
    scored: DataFrame,
    label_col: str,
    pred_col: str,
) -> DataFrame:
    """Multi-class confusion matrix with per-cell shares: one row per
    observed ``(label, pred)`` pair — ``(label, pred, n, label_total,
    pred_total, recall_share, precision_share)`` where
    ``recall_share = n / label_total`` (the diagonal cell's value IS
    that label's recall) and ``precision_share = n / pred_total``
    (diagonal = that prediction's precision).

    NULL is a legal class on either axis (an abstaining classifier
    predicts NULL) — totals come from window sums partitioned by the
    class columns, which keep NULL partitions intact, so there are NO
    joins to drop them (the NULL-key rule by construction). Counts
    are integers; shares are single integer-fed divisions —
    bit-identical, no rounding. One shuffle onto the classes^2
    model-sized table."""
    g = scored.groupBy(
        F.col(label_col).alias("label"), F.col(pred_col).alias("pred")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wl = Window.partitionBy("label")
    wp = Window.partitionBy("pred")
    return g.select(
        "label",
        "pred",
        "n",
        F.sum("n").over(wl).cast("bigint").alias("label_total"),
        F.sum("n").over(wp).cast("bigint").alias("pred_total"),
        (F.col("n").cast("double") / F.sum("n").over(wl).cast("double")).alias("recall_share"),
        (F.col("n").cast("double") / F.sum("n").over(wp).cast("double")).alias("precision_share"),
    )


def token_chi2(
    docs: DataFrame,
    label: Column,
    doc_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-token chi-square association with a binary document label —
    the classic feature-selection statistic for the linear quality
    classifier (select the most label-discriminative vocabulary before
    hashing; fastText-style pipelines prune features exactly this
    way). ``label`` must be a 0/1 BIGINT column expression over
    ``docs`` (NULL-safe: build it with ``eqNullSafe`` so a NULL
    attribute is a real 0, not a dropped row).

    Per token t over document-level presence (each doc counts once
    however often t repeats): contingency counts n11 (label-1 docs
    containing t), n10, n01, n00, and

        chi2 = N * (n11*n00 - n10*n01)^2
               / (df * (N - df) * N1 * (N - N1))

    with df = n11 + n10. Degenerate denominators (a token in every
    doc, or a single-class corpus) yield NULL, not a division error.

    100 TB design: ONE aggregate on the token key over (doc, token)
    distinct pairs (map-side combined; shuffle rows carry a token and
    two ints); corpus totals are a broadcast one-row aggregate (never
    driver literals — oracles derive N themselves). Output is a
    model-sized vocabulary table.

    Cross-engine determinism: every count is an exact integer; the
    statistic is the documented IEEE sequence (cast the BIGINT
    counts to double, multiply in fixed order, one division) on
    identical operands, then the portable floor-round to 6 dp —
    bit-identical in any engine at gate scale. At 1e12+ docs the
    BIGINT product n11*n00 nears 2^63: compute diff in double there
    (ranking error ~1e-16, harmless) — documented, not silent."""
    toks = (
        docs.select(
            F.col(doc_col).alias("__doc"),
            label.cast("bigint").alias("__lab"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    per_tok = toks.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("__lab").cast("bigint").alias("n11"),
    )
    totals = docs.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(label.cast("bigint")).cast("bigint").alias("n1"),
    )
    j = per_tok.crossJoin(F.broadcast(totals))
    n10 = F.col("df") - F.col("n11")
    n01 = F.col("n1") - F.col("n11")
    n00 = (F.col("n_docs") - F.col("n1")) - n10
    diff = (F.col("n11") * n00 - n10 * n01).cast("double")
    den = (
        (F.col("df").cast("double") * (F.col("n_docs") - F.col("df")).cast("double"))
        * F.col("n1").cast("double")
    ) * (F.col("n_docs") - F.col("n1")).cast("double")
    num = F.col("n_docs").cast("double") * (diff * diff)
    chi2 = F.when(den != F.lit(0.0), F.floor(num / den * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
    return j.select("token", "df", "n11", chi2.alias("chi2"))


def precision_threshold_curve(
    scored: DataFrame,
    score_col: str,
    pos_col: str,
    targets: list[tuple[int, int]] = ((1, 4), (2, 5), (1, 2), (3, 4)),
    n_buckets: int = 4096,
) -> DataFrame:
    """Deployment operating curve for a binary scorer: for each target
    precision ``num/den``, the LOWEST score threshold whose
    predict-positive set (score >= threshold) still meets the target —
    i.e. maximal recall at that precision — one row per target:
    ``(target, threshold, n_predicted, n_tp, precision, recall)``.
    Unachievable targets keep their row with NULL threshold/stats (a
    stable row count however the data drifts).

    Exactness: per-score (count, positives) are exact integers; the
    qualification test is the integer cross-multiplication
    ``den * cum_tp >= num * cum_n``; the chosen row's stats ride a
    lexicographic min-struct keyed on the score (distinct scores —
    exactly MIN(score) + lookup); precision/recall are single closing
    divisions with the portable floor-round. The threshold itself is
    returned raw (both engines computed the identical double).

    Scale: binary_auc's bucketed two-pass cumulation mirrored
    DESCENDING (cum-from-the-top) — the distinct-score table is
    corpus-cardinality for continuous scores and never sorts in one
    task; the curve itself is ONE aggregate with ``len(targets)``
    conditional min-structs."""
    from pyspark.sql.types import NumericType

    if not isinstance(scored.schema[score_col].dataType, NumericType):
        raise TypeError(
            f"precision_threshold_curve: score column {score_col!r} must "
            f"be numeric, got "
            f"{scored.schema[score_col].dataType.simpleString()}"
        )
    pos = F.col(pos_col).cast("int")
    base = scored.filter(F.col(score_col).isNotNull())
    if isinstance(scored.schema[score_col].dataType, (DoubleType, FloatType)):
        base = base.filter(~F.isnan(F.col(score_col)))
    g = base.groupBy(score_col).agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum(pos).cast("bigint").alias("pc"),
    )
    s = F.col(score_col).cast("double")
    rng = g.agg(F.min(s).alias("__lo"), F.max(s).alias("__hi"))
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    gb = (
        g.crossJoin(F.broadcast(rng))
        .withColumn(
            "__bk",
            F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor((s - F.col("__lo")) / width),
                    F.lit(n_buckets - 1),
                )
            )
            .cast("bigint"),
        )
        .drop("__lo", "__hi")
    )
    # descending cum-from-the-top: offsets over the bucket table in
    # DESC bucket order, within-bucket window in DESC score order
    bcounts = gb.groupBy("__bk").agg(
        F.sum("cnt").alias("__bc"), F.sum("pc").alias("__bp")
    )
    woff = Window.orderBy(F.desc("__bk")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = bcounts.select(
        "__bk",
        F.coalesce(F.sum("__bc").over(woff), F.lit(0).cast("bigint")).alias(
            "__offn"
        ),
        F.coalesce(F.sum("__bp").over(woff), F.lit(0).cast("bigint")).alias(
            "__offp"
        ),
    )
    win = Window.partitionBy("__bk").orderBy(F.desc(score_col)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = gb.join(F.broadcast(offsets), "__bk").select(
        s.alias("__score"),
        (F.col("__offn") + F.sum("cnt").over(win)).alias("__cumn"),
        (F.col("__offp") + F.sum("pc").over(win)).alias("__cumtp"),
    )
    tot = base.agg(F.sum(pos).cast("bigint").alias("__totp"))
    aggs = []
    for i, (num, den) in enumerate(targets):
        cond = (F.lit(den) * F.col("__cumtp")) >= (
            F.lit(num) * F.col("__cumn")
        )
        aggs.append(
            F.min(
                F.when(cond, F.struct("__score", "__cumn", "__cumtp"))
            ).alias(f"__m{i}")
        )
    one = cum.agg(*aggs).crossJoin(F.broadcast(tot))

    def _r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    rows = []
    for i, (num, den) in enumerate(targets):
        m = F.col(f"__m{i}")
        rows.append(
            F.struct(
                F.lit(f"{num}/{den}").alias("target"),
                m["__score"].alias("threshold"),
                m["__cumn"].alias("n_predicted"),
                m["__cumtp"].alias("n_tp"),
                _r6(
                    m["__cumtp"].cast("double") / m["__cumn"].cast("double")
                ).alias("precision"),
                _r6(
                    m["__cumtp"].cast("double") / F.col("__totp").cast("double")
                ).alias("recall"),
            )
        )
    return one.select(
        F.explode(F.array(*rows)).alias("__r")
    ).select("__r.*")


def isotonic_calibrate(
    bins_df: DataFrame,
    order_col: str = "bin",
    n_col: str = "n_bin",
    pos_col: str = "n_pos",
    rounds: int | None = None,
) -> DataFrame:
    """EXACT isotonic regression (pool-adjacent-violators) over a
    reliability table: the monotone calibration map every production
    classifier release fits after training — raw bucket rates are
    noisy and non-monotone; PAV pools adjacent violating buckets until
    rates are non-decreasing in score, giving the least-squares
    monotone fit.  Input: ``(order_col, n, pos)``, one row per score
    bucket.  Output per ORIGINAL bucket:
    ``(bin, n_bin, n_pos, raw_rate, iso_num, iso_den, iso_rate)``
    where ``iso_num/iso_den`` is the pooled rate as an EXACT integer
    rational.

    The loop is pure INTEGER arithmetic: violator checks cross-
    multiply pooled sums (``sy_prev * sw_cur > sy_cur * sw_prev`` in
    DECIMAL(38,0) — never a float mean), whole violating chains merge
    per round via a kept-boundary prefix count, and ``rounds``
    defaults to ``bins - 1`` (each round removes >= 1 boundary if any
    violation remains, so that is guaranteed convergence, and stable
    rounds are idempotent).  The trajectory therefore replays
    bit-identically in any engine (oracle: unrolled CTE rounds — the
    kmeans pattern).

    Execution (r11 — the bounded-model driver-iteration pattern of
    llm/pca.power_pca and ops/graph): the input is <= bins rows BY
    CONSTRUCTION (the caller's reliability aggregate keys on a
    parameter-bounded bucket id), so the corpus-scale work is whatever
    lazy aggregate feeds ``bins_df`` — collecting it runs that plan
    once — and the PAV rounds are pure Python INTEGER arithmetic on
    the driver (Python ints are exact like the previous DECIMAL(38,0)
    cross-multiplies; the two output divisions replay the engine's
    IEEE double spelling). Identical trajectory, none of the previous
    ~2 driver-scheduled jobs per round."""
    from math import floor

    rows = bins_df.select(
        F.col(order_col).cast("bigint").alias("bin"),
        F.col(n_col).cast("bigint").alias("__n"),
        F.col(pos_col).cast("bigint").alias("__p"),
    ).collect()
    st = [(r["bin"], r["__n"], r["__p"], r["bin"]) for r in rows]
    n_rounds = rounds if rounds is not None else max(len(rows) - 1, 0)

    def _seg_sums(state):
        sums: dict = {}
        for _b, n, p, seg in state:
            sw, sy = sums.get(seg, (0, 0))
            sums[seg] = (sw + n, sy + p)
        return sums

    for _ in range(n_rounds):
        sums = _seg_sums(st)
        segs = sorted(sums)
        gid_of: dict = {}
        gid = 0
        prev = None
        for s in segs:
            sw, sy = sums[s]
            # new-group flag: 0 iff the previous segment's pooled rate
            # strictly exceeds this one's (cross-multiplied, exact)
            gid += 0 if (prev is not None and prev[1] * sw > sy * prev[0]) else 1
            gid_of[s] = gid
            prev = (sw, sy)
        leader: dict = {}
        for s in segs:
            g = gid_of[s]
            if g not in leader or s < leader[g]:
                leader[g] = s
        st = [(b, n, p, leader[gid_of[seg]]) for (b, n, p, seg) in st]

    fin = _seg_sums(st)
    out_rows = []
    for b, n, p, seg in st:
        sw, sy = fin[seg]
        out_rows.append(
            (
                b,
                n,
                p,
                float(p) / float(n),
                sy,
                sw,
                floor(float(sy) / float(sw) * 1e6 + 0.5) / 1e6,
            )
        )
    schema = StructType(
        [
            StructField("bin", LongType()),
            StructField("n_bin", LongType()),
            StructField("n_pos", LongType()),
            StructField("raw_rate", DoubleType()),
            StructField("iso_num", LongType()),
            StructField("iso_den", LongType()),
            StructField("iso_rate", DoubleType()),
        ]
    )
    return local_frame(bins_df.sparkSession, out_rows, schema)
