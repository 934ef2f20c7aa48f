"""Distributed PCA via power iteration, bit-exact cross-engine.

Embedding-curation pipelines need principal components constantly —
whitening before SemDeDup, low-rank projection ahead of ANN, drift
monitoring on the spectrum — and the usual route (collect a sample,
numpy ``eigh`` on the driver) neither scales nor replays in another
engine. This module fits the top components *inside the engine* as
ordinary Catalyst plans, in two phases:

    moments:  ONE corpus scan.  Vectors are quantized to integer
              micro-units, then the (dim_i, dim_j) Gram sums and the
              per-dim sums aggregate as exact integers (order-free —
              no float accumulation anywhere near the data).  The
              64x64 covariance assembles from those moments in a
              handful of identically-spelled double ops.
    iterate:  classic power iteration on the MODEL-sized covariance
              (matvec with dim-ordered folds, L2 normalize,
              ``iterations`` rounds, Rayleigh-quotient eigenvalue,
              Hotelling deflation ``C' = C - lambda v v^T``) — run on
              the DRIVER over the collected <= dim^2-row table since
              r11: the state is parameter-bounded, and the previous
              all-Catalyst loop spent 6.7-7.6 s/query in pure
              driver-job scheduling to move a 64-row table
              (power_pca docstring has the equivalence argument).

Scale shape (100 TB): the corpus is touched exactly once, exploded to
(i, j, x_i*x_j) with map-side partial aggregation onto dim^2 keys —
the standard distributed Gram computation; everything after operates
on the collected dim^2 model (the k-means-centroid collect pattern).

Cross-engine determinism (how an iterative float algorithm stays
hash-exact)
-----------
- Inputs quantize ONCE to integer micro-units with the portable
  floor-round; all second moments are INTEGER sums cast to
  DECIMAL(38,0) — exact and order-free, so no sorted fold is needed
  on the corpus-sized path.
- The covariance entries, matvec terms, norms and Rayleigh quotients
  fold in *dimension order* (Spark ``aggregate`` over a sorted
  ``collect_list`` == DuckDB ``list_reduce`` over the dim-ordered
  list) — identical IEEE sequences.
- ``sqrt`` is IEEE correctly-rounded in every engine; divisions
  happen once per value.  The whole trajectory is therefore a
  deterministic function of the data, and the oracle replays it as an
  unrolled CTE chain (``embed_pca_power``) — the kmeans pattern.

Convergence note: ``iterations`` power rounds give the dominant
eigenvector up to O((lambda_2/lambda_1)^T) error — the fit is
approximate like any iterative trainer, but *identically* approximate
in every engine.  tests/test_llm.py checks the converged fit against
a numpy ``eigh`` replica on the same quantized moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nhs_data_pipeline_spark.ops.core import local_frame


def _quantized_micro(df: DataFrame, vec_col: str) -> DataFrame:
    """(__xm): float32 -> double (exact) -> integer micro-units via
    the portable floor-round, once, before any aggregation."""
    return df.select(
        F.expr(
            f"transform({vec_col}, v -> "
            "cast(floor(cast(v as double) * 1e6 + 0.5) as bigint))"
        ).alias("__xm")
    )


def covariance_table(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """(__i, __j, __c): the exact-moment covariance of the quantized
    vectors — ``E[x_i x_j] - E[x_i] E[x_j]`` assembled from integer
    sums in identically-spelled double arithmetic.

    One corpus scan: the double explode pipelines into a partial
    aggregate on dim^2 keys (no corpus-sized shuffle — the shuffle
    carries dim^2 rows per map partition)."""
    ex = (
        _quantized_micro(df, vec_col)
        .select("__xm", F.posexplode("__xm").alias("__i", "__xi"))
        .select("__i", "__xi", F.posexplode("__xm").alias("__j", "__xj"))
    )
    gram = ex.groupBy("__i", "__j").agg(
        F.expr("sum(cast(__xi * __xj as decimal(38,0)))").alias("__g"),
        F.count("*").alias("__n"),
    )
    sums = (
        _quantized_micro(df, vec_col)
        .select(F.posexplode("__xm").alias("__d", "__x"))
        .groupBy("__d")
        .agg(
            F.expr("sum(cast(__x as decimal(38,0)))").alias("__s"),
            F.count("*").alias("__cn"),
        )
    )
    a = sums.select(
        F.col("__d").alias("__ai"), F.col("__s").alias("__as"),
        F.col("__cn").alias("__an"),
    )
    b = sums.select(
        F.col("__d").alias("__bj"), F.col("__s").alias("__bs"),
        F.col("__cn").alias("__bn"),
    )
    return (
        gram.join(F.broadcast(a), gram["__i"] == a["__ai"])
        .join(F.broadcast(b), gram["__j"] == b["__bj"])
        .select(
            "__i",
            "__j",
            F.expr(
                "cast(__g as double) / cast(__n as double) / 1e12"
                " - (cast(__as as double) / cast(__an as double) / 1e6)"
                " * (cast(__bs as double) / cast(__bn as double) / 1e6)"
            ).alias("__c"),
        )
    )


def power_pca(
    df: DataFrame,
    dim: int = 64,
    n_pc: int = 2,
    iterations: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top ``n_pc`` principal components of the vector column by
    power iteration with Hotelling deflation.

    Returns the LONG-FORM model (pc, dim, component, eigenvalue,
    explained_ratio) — one row per component dimension (the shape the
    driver's array-blind canonicalizer needs; see label_centroids).
    Components are sign-canonicalized (the largest-|coordinate| entry
    is made positive, ties to the lowest dim) and floor-rounded to 6
    decimals; ``explained_ratio`` is lambda over the covariance trace.

    Execution split (r11 optimization): the corpus-sized work — the
    exact-integer moment scan — stays a Catalyst plan; the iteration
    state is a <= dim^2-row table BOUNDED BY CONSTRUCTION (dim is a
    parameter, never data-sized), so it collects once and the
    ``n_pc * iterations`` matvec/normalize rounds run as plain Python
    floats on the driver. Python floats are IEEE doubles and every
    fold below replays the engine spelling exactly (dim-ordered left
    folds from 0.0, one division per value, ``math.sqrt`` / ``floor``
    correctly rounded), so the trajectory — and the oracle hash — is
    bit-identical to the previous all-Catalyst loop (verified by the
    unchanged unrolled-CTE oracle at sf0.01 and sf0.1). What it buys:
    the old loop paid ~22 driver-scheduled jobs (localCheckpoint +
    count per round) per call to move a 64-row table — pure scheduling
    latency, 6.7-7.6 s per query at sf0.1 — for work a driver does in
    microseconds. Same pattern as collecting k-means centroids: model
    to the driver, corpus stays distributed."""
    from math import floor, sqrt

    spark = df.sparkSession
    cov_df = covariance_table(df, vec_col)
    rows = cov_df.collect()  # <= dim^2 rows, parameter-bounded
    cov = {(r["__i"], r["__j"]): r["__c"] for r in rows}

    # trace: dim-ordered fold of the diagonal (engine _FOLD spelling)
    tr = 0.0
    for i in sorted(i for (i, j) in cov if i == j):
        tr = tr + cov[(i, i)]

    row_keys = sorted({i for (i, _) in cov})
    cols_of = {i: sorted(j for (i2, j) in cov if i2 == i) for i in row_keys}

    def matvec(c, v):
        # per-row dim-ordered left fold of c[i][j] * v[j] from 0.0
        w = {}
        for i in row_keys:
            acc = 0.0
            for j in cols_of[i]:
                if j in v:
                    acc = acc + c[(i, j)] * v[j]
            w[i] = acc
        return w

    out_rows: list[tuple] = []
    for p in range(n_pc):
        v = {d: 1.0 for d in range(dim)}
        for _ in range(iterations):
            w = matvec(cov, v)
            acc = 0.0
            for d in sorted(w):
                acc = acc + w[d] * w[d]
            nrm = sqrt(acc)
            v = {d: w[d] / nrm for d in sorted(w)}

        cv = matvec(cov, v)
        lam = 0.0
        for d in sorted(v):
            if d in cv:
                lam = lam + v[d] * cv[d]

        # sign canonicalization: largest |coordinate| positive, ties
        # to the lowest dim (the engine's row_number window order)
        bd = sorted(v, key=lambda d: (-abs(v[d]), d))[0]
        sg = -1.0 if v[bd] < 0 else 1.0

        for d in sorted(v):
            out_rows.append(
                (
                    p,
                    d,
                    floor(v[d] * sg * 1e6 + 0.5) / 1e6,
                    floor(lam * 1e6 + 0.5) / 1e6,
                    floor(lam / tr * 1e6 + 0.5) / 1e6,
                )
            )

        if p + 1 < n_pc:
            # Hotelling deflation: C' = C - lambda v v^T (the engine's
            # inner-join key semantics: keep cells whose i AND j are
            # live dims of v; multiply order lam * vi * vj)
            cov = {
                (i, j): cov[(i, j)] - lam * v[i] * v[j]
                for (i, j) in cov
                if i in v and j in v
            }
            row_keys = sorted({i for (i, _) in cov})
            cols_of = {
                i: sorted(j for (i2, j) in cov if i2 == i) for i in row_keys
            }

    return local_frame(
        spark,
        out_rows,
        StructType.fromDDL(
            "pc int, dim int, component double, eigenvalue double, "
            "explained_ratio double"
        ),
    )


def pca_scores_by_label(
    df: DataFrame,
    label_col: str = "label",
    dim: int = 64,
    n_pc: int = 2,
    iterations: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Consume the :func:`power_pca` fit at corpus scale: project
    every vector onto each fitted component and report per-label
    score statistics ``(pc, label, n_vectors, mean_score, var_score)``
    — the class structure along the principal axes (components that
    separate label means are the ones a linear probe uses; a variance
    collapse along PC1 is the re-embedding drift alarm).

    The fit's model table re-packs into one array per component
    (model-sized sorted collect); the projection is a pure per-row
    zip_with fold against that broadcast 2-row table — no shuffle, no
    UDF, pipelined into the scan.  Scores quantize to integer
    micro-units immediately (the transcendental-free version of the
    house rule), so the per-label mean/variance assemble from exact
    integer sums with single divisions — bit-identical cross-engine.
    """
    model = power_pca(
        df, dim=dim, n_pc=n_pc, iterations=iterations, vec_col=vec_col
    )
    comp = model.groupBy("pc").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(dim, component))), "
            "s -> s.component)"
        ).alias("__comp")
    )
    # NULL / short embeddings: the DuckDB oracle's unnest path drops
    # such rows from BOTH count and sums, while count(*) here would
    # keep them and deflate mean/var (r8 ADVICE medium). Mirror
    # exact_knn's defensive filter so a future data regeneration with
    # NULL embeddings cannot split the engines.
    xq = df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(
        F.col(label_col).alias("__lb"),
        F.expr(
            f"transform({vec_col}, v -> "
            "floor(cast(v as double) * 1e6 + 0.5) / 1e6)"
        ).alias("__xq"),
    )
    D = "decimal(38,0)"
    scored = xq.crossJoin(F.broadcast(comp)).select(
        "pc",
        "__lb",
        F.expr(
            "cast(floor(aggregate(zip_with(__xq, __comp, "
            "(a, b) -> a * b), cast(0.0 as double), "
            "(__a, __x) -> __a + __x) * 1e6 + 0.5) as bigint)"
        ).alias("__sm"),
    )
    agg = scored.groupBy("pc", "__lb").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum(F.col("__sm").cast(D)).alias("__s"),
        F.sum(F.col("__sm").cast(D) * F.col("__sm").cast(D)).alias("__q"),
    )
    mean_d = F.col("__s").cast("double") / F.col("n_vectors").cast("double")
    return agg.select(
        F.col("pc").cast("int").alias("pc"),
        F.col("__lb").alias(label_col),
        "n_vectors",
        (F.floor(mean_d + F.lit(0.5)) / F.lit(1e6)).alias("mean_score"),
        (
            F.floor(
                (
                    F.col("__q").cast("double")
                    / F.col("n_vectors").cast("double")
                    - mean_d * mean_d
                )
                / F.lit(1e12)
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("var_score"),
    )
