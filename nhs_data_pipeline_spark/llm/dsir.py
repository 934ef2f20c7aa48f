"""DSIR-style hashed n-gram importance weighting for data selection.

Data Selection via Importance Resampling (Xie et al. 2023, public
NeurIPS paper) scores every raw-corpus document by how much its hashed
bag-of-n-grams profile looks like a *target* domain versus the raw
corpus: features are word uni+bigrams hashed into B buckets, each
bucket gets a smoothed log-likelihood ratio
``ln p_target(b) - ln p_raw(b)``, and a document's importance score is
the count-weighted sum of its buckets' ratios. High-scoring documents
are kept (resampled) to shift the training mixture toward the target.

Spark-first shape (100 TB design)
---------------------------------
- Feature extraction is one explode projection; the only shuffled
  payload is ``(doc_id, bucket int, count)`` — text never crosses an
  exchange.
- The bucket model (B rows, B ~ 1k-1M) is two tiny aggregates
  broadcast back onto the feature table — no driver round-trip, no
  collected model, so refitting on a new target is just re-running the
  plan.
- Everything is a Catalyst expression; scoring a 100 TB corpus is a
  scan + one groupBy(doc) — embarrassingly parallel.

Cross-engine determinism
------------------------
Floating-point sums over an unordered group are
nondeterministic-by-order, so the score folds the per-bucket terms in
*sorted bucket order* via ``aggregate`` over a sorted array — every
engine performs the identical sequence of IEEE-754 adds and the score
is bit-reproducible (same trick DuckDB replays with
``list_reduce(list(...ORDER BY bucket))``). The only transcendental,
``ln``, is rounded to 4 decimals per bucket before use.

The feature hash is the engine-portable md5-prefix 60-bit integer
(``llm/dedup._MD5_H60``), not xxhash64, so the bucket assignment —
and therefore the whole model — replays exactly in any engine with
``md5()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: md5-prefix 60-bit portable hash — the single shared definition.
from nhs_data_pipeline_spark.llm.dedup import _MD5_H60
from nhs_data_pipeline_spark.llm.text import tokenized_frame


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
    carry: list[str] | None = None,
) -> DataFrame:
    """Explode each document into hashed word uni+bigram features:
    one row per feature occurrence, ``(doc_id, bucket)`` plus any
    ``carry`` columns (evaluated per document, pre-explode)."""
    # Shared tokenizer (repartitions before the per-feature md5 stage:
    # measured 3.7x from a 2-split input at the 10x corpus).
    base = tokenized_frame(df, text_col, id_col, tuple(carry or ()))
    # Bigrams via element_at (1-based); the CASE guards Spark's
    # backwards-stepping sequence(1, 0) on single-token docs.
    feats = F.expr(
        "concat(__w, CASE WHEN size(__w) > 1 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "__bg -> concat(element_at(__w, __bg), ' ', element_at(__w, __bg + 1))) "
        "ELSE cast(array() AS array<string>) END)"
    )
    return (
        base.select("doc_id", *(carry or []), F.explode(feats).alias("__feat"))
        .withColumn(
            "bucket",
            F.expr(f"pmod({_MD5_H60.format(x='__feat')}, {buckets})"),
        )
        .drop("__feat")
    )


def dsir_scores(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1024,
) -> DataFrame:
    """Importance score per document: ``(doc_id, dsir_score)``.

    ``target`` is a boolean Column over ``df``'s rows selecting the
    target-domain subset (e.g. ``F.col("source") == "src0"``); the raw
    distribution is estimated from *all* rows. Bucket probabilities
    use add-1 smoothing over the B buckets; ``dsir_score(d) =``
    sum over d's buckets of ``count_d(b) * round(ln p_t(b) - ln p_r(b), 4)``
    folded in bucket order (see module docstring).
    """
    feats = hashed_ngram_features(
        df.withColumn("__tgt", target), text_col, id_col, buckets, carry=["__tgt"]
    )
    per_db = feats.groupBy("doc_id", "__tgt", "bucket").agg(
        F.count("*").alias("c")
    )

    # per_db would feed five branches (raw/target bucket counts, two
    # totals, the scoring probe), each re-running the dominant
    # per-feature md5 hashing (the multi-branch trap measured at 2.7x
    # in llm/lm.py). One extra aggregate collapses the model side to a
    # single pass: a (bucket, tgt) count table — <= 2*buckets rows,
    # persisted — from which raw counts, target counts, and both
    # totals derive. Two hashing passes total (model + probe); the
    # leaked cache is model-sized, not corpus-sized.
    # localCheckpoint, not persist (r12): the model table must not
    # leak a CacheManager entry across calls — a later call's plan
    # would silently rewrite over InMemoryRelation, a new plan shape
    # whose codegen units all recompile (the curate.audit_panel
    # compile-storm root cause; blocks release via ContextCleaner).
    bucket_tgt = (
        per_db.groupBy("bucket", "__tgt")
        .agg(F.sum("c").alias("bc"))
        .localCheckpoint(eager=True)
    )
    braw = bucket_tgt.groupBy("bucket").agg(F.sum("bc").alias("r"))
    btgt = (
        bucket_tgt.filter(F.col("__tgt"))
        .groupBy("bucket")
        .agg(F.sum("bc").alias("t"))
    )
    tot = bucket_tgt.agg(F.sum("bc").alias("__R"))
    ttot = bucket_tgt.filter(F.col("__tgt")).agg(
        F.coalesce(F.sum("bc"), F.lit(0)).alias("__T")
    )

    lls = (
        # explicit broadcast: btgt derives from the checkpointed model
        # table and carries no stats (the r8 per-callsite rule)
        braw.join(F.broadcast(btgt), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ttot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("t"), F.lit(0)) + F.lit(1.0))
                    / (F.col("__T") + F.lit(buckets))
                )
                - F.log(
                    (F.col("r") + F.lit(1.0)) / (F.col("__R") + F.lit(buckets))
                ),
                4,
            ).alias("ll_v"),
        )
    )

    terms = per_db.join(F.broadcast(lls), "bucket").select(
        "doc_id", "bucket", (F.col("c") * F.col("ll_v")).alias("term")
    )
    # Deterministic fold: sort by (unique-per-doc) bucket, then a left
    # fold from 0.0 — the bitwise-reproducible sum.
    return (
        terms.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("bucket", "term"))).alias(
                "__st"
            )
        )
        .select(
            "doc_id",
            F.expr(
                "aggregate(transform(__st, __s -> __s.term), "
                "cast(0.0 as double), (__a, __x) -> __a + __x)"
            ).alias("dsir_score"),
        )
    )


def dsir_ess(scored: DataFrame, score_col: str = "dsir_score") -> DataFrame:
    """Effective sample size of an importance-weighted corpus — the
    diagnostic that tells you whether DSIR reweighting left you a
    usable dataset or three documents wearing a trench coat:
    ``ESS = (sum w)^2 / sum w^2`` with ``w_i = exp(score_i)``. One
    row: ``(n_docs, ess, ess_ratio)``; ratio near 1 = weights flat,
    near 0 = a few documents dominate the target distribution.

    Numerics: scores are log-weights of unbounded magnitude, so exp
    runs on ``score - max(score)`` (the log-sum-exp shift — ESS is
    invariant under it, and weights land in (0, 1]); each exp is
    quantized to integer MILLIONTHS immediately (libm ulp discipline)
    making both sums exact integers (sum in BIGINT-safe DECIMAL(38,0),
    sum of squares likewise), and ESS is scale-invariant in the
    quantized measure — the 1e6 factors cancel. One final double
    division + portable floor-rounds. Weights below 5e-7 of the max
    quantize to 0 and drop — they are ESS-negligible by construction.

    Shape: one scalar max (broadcast-crossed), one map-side-combined
    scalar aggregate. NULL scores are excluded."""
    D = "decimal(38,0)"
    s = F.col(score_col)
    base = scored.filter(s.isNotNull())
    mx = base.agg(F.max(s).alias("__mx"))
    w = base.crossJoin(F.broadcast(mx)).select(
        F.floor(
            F.exp(s - F.col("__mx")) * F.lit(1000000.0) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("__wm")
    )
    agg = w.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__wm").cast(D).alias("__s1"),
        F.sum(F.col("__wm").cast(D) * F.col("__wm").cast(D)).alias("__s2"),
    )
    ess = (F.col("__s1") * F.col("__s1")).cast("double") / F.col(
        "__s2"
    ).cast("double")
    f6 = lambda c: F.floor(c * F.lit(1000000.0) + F.lit(0.5)) / F.lit(  # noqa: E731
        1000000.0
    )
    return agg.select(
        "n_docs",
        f6(ess).alias("ess"),
        f6(ess / F.col("n_docs").cast("double")).alias("ess_ratio"),
    )
