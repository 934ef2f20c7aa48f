"""Similarity search over embedding columns (``array<float>``).

Two paths:

- ``brute_force_topk``: exact cosine top-k. Pair dot products run
  through an Arrow-vectorized pandas UDF (one BLAS einsum per batch);
  norms are precomputed once per side with native expressions. Cost is
  |Q| x |N| — the correctness baseline and the right plan when one
  side is small enough to broadcast.
- ``lsh_topk``: random-hyperplane LSH. Each vector gets a ``num_bits``
  sign signature against a fixed seeded Gaussian projection; candidates
  = vectors sharing a signature band; exact cosine re-ranks candidates.
  Sub-quadratic: at 100 TB the banded join shuffles ids+buckets, and
  only bucket-mates ever compute a dot product.

Vectors are cast to double before arithmetic so results match a
double-precision oracle bit-for-bit modulo rounding.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, LongType


def _dot(a: Column, b: Column) -> Column:
    """Native higher-order-function dot product.

    Catalyst interprets HOF lambdas per element with no codegen and no
    CSE (measured ~1 ms per 64-dim pair) — fine for per-vector work
    (norms, a handful of centroid scores), ruinous on candidate-pair
    scoring where volume is O(n^2/buckets). Hot pair-scoring paths use
    ``_cosine_pairs`` instead; this stays for small per-row expressions
    where a Python worker round-trip would cost more than it saves."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@pandas_udf(DoubleType())  # DataType object: a DDL string would need an active session at import
def _cosine_pairs(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized batch COSINE over two array<double> columns:
    dot products and both norms in three einsums per batch, NaN (→
    Spark NULL) when either norm is zero.

    This replaces the ``_dot_pairs / (_norm(a) * _norm(b))`` shape on
    pair-scoring paths: interpreted-HOF norms cost ~1 ms per ROW, and
    on candidate-pair scoring they run per PAIR — measured as the
    dominant cost of the rerank stages once the dot product itself was
    vectorized. Falls back to per-row numpy for ragged/null batches."""
    import numpy as np

    if len(a) == 0:
        return pd.Series([], dtype="float64")
    try:
        av = np.vstack(a.to_numpy())
        bv = np.vstack(b.to_numpy())
        dots = np.einsum("ij,ij->i", av, bv)
        na = np.sqrt(np.einsum("ij,ij->i", av, av))
        nb = np.sqrt(np.einsum("ij,ij->i", bv, bv))
        denom = na * nb
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom == 0, np.nan, dots / denom)
        return pd.Series(out)
    except ValueError:  # ragged dims or nulls: row-at-a-time numpy
        vals = []
        for x, y in zip(a, b):
            if x is None or y is None:
                vals.append(None)
                continue
            xv = np.asarray(x, dtype=float)
            yv = np.asarray(y, dtype=float)
            d = float(np.linalg.norm(xv) * np.linalg.norm(yv))
            vals.append(float(np.dot(xv, yv)) / d if d else None)
        return pd.Series(vals, dtype="float64")


def _make_signature_udf(planes: list[list[float]]):
    """Arrow-vectorized packed LSH signature: one ``V @ P.T`` matmul per
    batch, sign bits packed into a long. The plane matrix rides along
    as a closure constant (cloudpickled with the UDF) — unlike the
    literal-array form it never enters whole-stage codegen, whose
    generated-class compilation cost ~10 s for a 48x64 plane set in a
    busy session (measured; see SCALE.md), and unlike the
    broadcast-join form it needs no crossJoin + re-aggregation shuffle."""
    import numpy as np

    plane_mat = np.asarray(planes, dtype=float)  # (num_bits, dim)
    weights = (np.uint64(1) << np.arange(plane_mat.shape[0], dtype=np.uint64))

    @pandas_udf(LongType())
    def signature(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        vecs = np.vstack(v.to_numpy())
        bits = (vecs @ plane_mat.T) > 0  # (batch, num_bits)
        packed = (bits.astype(np.uint64) * weights).sum(axis=1).astype(np.int64)
        return pd.Series(packed)

    return signature


def _as_double(df: DataFrame, vec: str) -> DataFrame:
    return df.withColumn(vec, F.col(vec).cast("array<double>"))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (excluding itself). Returns ``(query_id, neighbor_id, rank,
    cosine)``; ties broken by neighbor id for determinism.

    The query side is broadcast (top-k search with a small query set is
    the common shape); swap sides upstream if the corpus is the small
    one.

    All pair math (dot + both norms) lives in ONE Arrow-batched UDF:
    interpreted-HOF norms cost ~1 ms/row and, worse, repartitioning a
    small corpus to spread them forks a Python worker per core (~1-2 s
    CPU each, the dominant first-run cost — measured); the batched
    einsum needs neither."""
    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        "__qv",
    )
    c = _as_double(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
        "__cv",
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", _cosine_pairs(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _hyperplanes(dim: int, num_bits: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes (driver-side constants,
    broadcast into the plan as literals)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_bits)]


def _nested_array_lit(rows: list[list[float]]) -> Column:
    """A list-of-lists as ONE parsed array<array<double>> literal.

    Building this element-wise (``F.array(*[F.lit(w) ...])`` per row)
    costs one py4j round-trip per element — ~3-5 s of driver time for
    a 48x64 plane set, which dominated the whole LSH stage. A single
    ``F.expr`` string is one parse call; ``repr`` round-trips doubles
    exactly."""
    return F.expr(
        "array(" + ",".join("array(" + ",".join(repr(w) for w in r) + ")" for r in rows) + ")"
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 16,
    bands: int = 4,
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH banding.

    ``num_bits`` sign bits split into ``bands`` bands; vectors sharing
    any band are candidates; exact cosine re-ranks. Recall rises with
    bands (OR-construction). Same output shape as ``brute_force_topk``
    (rank may hold fewer than k rows when buckets are sparse)."""
    planes = _hyperplanes(dim, num_bits, seed)
    bits_per_band = num_bits // bands
    sig_udf = _make_signature_udf(planes)

    def banded(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
        d = _as_double(
            df.select(F.col(id_col).alias(id_alias), F.col(vec_col).alias(vec_alias)),
            vec_alias,
        ).withColumn("__sig", sig_udf(F.col(vec_alias)))
        return d.select(
            id_alias,
            vec_alias,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            F.shiftright("__sig", i * bits_per_band)
                            .bitwiseAND(F.lit((1 << bits_per_band) - 1))
                            .alias("band_val"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("b"),
        ).select(id_alias, vec_alias, "b.band_idx", "b.band_val")

    qb = banded(queries, "query_id", "__qv")
    cb = banded(corpus, "neighbor_id", "__cv")
    cand = (
        qb.join(cb, ["band_idx", "band_val"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "__qv", "neighbor_id", "__cv")
        .distinct()
    )
    scored = cand.withColumn(
        "cosine", _cosine_pairs(F.col("__qv"), F.col("__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def choose_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs_budget: int = 2_000_000,
    centroids: list[list[float]] | None = None,
    n_queries: int | None = None,
    n_corpus: int | None = None,
    report: dict | None = None,
    **path_kwargs,
) -> DataFrame:
    """Top-k dispatcher: pick exact brute force vs a bucketed path from
    the measured cost model, so callers never land on the O(|Q| x |C|)
    plan at corpus scale by accident.

    Model (SCALE.md 10x-vector measurement, d=64, local[32]): brute
    force costs a fixed ~1 s plus |Q| x |C| Arrow-batched dots; the
    bucketed paths cost a larger fixed signature/plan setup (~5 s) plus
    |Q| x bucket work that's insensitive to |C|. The crossover is the
    PAIR COUNT |Q| x |C|, not either side alone — 10 queries vs 20k
    vectors (200k pairs) still favors exact, while 2k x 2k (4M) does
    not. ``pairs_budget`` defaults to the measured ~2M-pair boundary.

    Above budget: IVF when a pre-trained ``centroids`` quantizer is
    supplied (adapts to cluster structure, no per-query training),
    else hyperplane LSH (training-free). ``n_queries``/``n_corpus``
    skip the counting scans when the caller already knows the sizes
    (at 100 TB the catalog does). ``report`` (optional dict) receives
    {path, n_queries, n_corpus, est_pairs} for observability.
    Extra kwargs are tuning knobs for the bucketed paths
    (num_bits/bands/dim/seed for LSH, n_centroids/n_probe/seed for
    IVF); each path receives only the knobs it understands, so a
    caller tuned for corpus scale still gracefully gets the exact
    plan when a small run lands under the budget — unknown names
    raise immediately (typo protection).
    """
    import inspect

    known = {
        name
        for fn in (brute_force_topk, lsh_topk, ivf_topk)
        for name in inspect.signature(fn).parameters
    } - {"queries", "corpus", "k", "id_col", "vec_col", "centroids"}
    unknown = set(path_kwargs) - known
    if unknown:
        raise TypeError(f"choose_topk: unknown kwargs {sorted(unknown)}")

    def _for(fn):
        sig = inspect.signature(fn).parameters
        return {k_: v for k_, v in path_kwargs.items() if k_ in sig}

    nq = n_queries if n_queries is not None else queries.count()
    nc = n_corpus if n_corpus is not None else corpus.count()
    est_pairs = nq * nc
    if est_pairs <= pairs_budget:
        path = "brute_force"
        out = brute_force_topk(
            queries, corpus, k=k, id_col=id_col, vec_col=vec_col,
            **_for(brute_force_topk),
        )
    elif centroids is not None:
        path = "ivf"
        out = ivf_topk(
            queries, corpus, k=k, id_col=id_col, vec_col=vec_col,
            centroids=centroids, **_for(ivf_topk),
        )
    else:
        path = "lsh"
        out = lsh_topk(
            queries, corpus, k=k, id_col=id_col, vec_col=vec_col,
            **_for(lsh_topk),
        )
    if report is not None:
        report.update(
            path=path, n_queries=nq, n_corpus=nc, est_pairs=est_pairs
        )
    return out


def cosine_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_bits: int = 48,
    bands: int = 6,
    dim: int = 64,
    seed: int = 7,
    exact: bool = False,
    max_candidates_per_doc: float | None = None,
    band_report: dict | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all ``(id_a, id_b)`` with
    ``id_a < id_b`` and exact cosine >= ``threshold``.

    ``max_candidates_per_doc``: candidate-volume guardrail (see
    ``dedup.estimate_candidate_pairs``) — measures the blocked pair
    count from bucket sizes before the self-join and halves ``bands``
    (doubling bits-per-band) on the SAME packed signatures until the
    volume fits the budget; ``band_report`` receives the outcome.

    Scale path (default): random-hyperplane LSH banding blocks the
    quadratic pair space — the banded self-join shuffles only
    ``(id, band_idx, band_val)`` triples (no vectors), candidate pairs
    are distinct'd as bare id pairs, and vectors (with norms
    precomputed once per vector, not per pair) are joined back only
    for surviving candidates before the exact-cosine filter. The
    default 48-bit / 6-band config (8-bit bands = 256 buckets/band)
    collides a true pair at cosine 0.9 (angle ~26 deg) in some band
    with p ~ 0.87 — recall is property-tested in tests/test_llm.py —
    while keeping candidate volume ~bands*n^2/512 on spread-out data;
    raise ``num_bits`` (wider bands) as corpus size grows, keeping
    bands <= 10 so signatures stay in one packed long (<= 63 bits).

    ``exact=True`` switches to the brute-force O(n^2) self-join — the
    correctness baseline, and the right plan when one side fits in a
    broadcast.

    Reference parity: the reference has no embedding ops; this extends
    its dedup family (exact / MinHash / SimHash / Jaccard) with the
    embedding-cosine variant a training-data pipeline needs.
    """
    vecs = _as_double(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")), "__v"
    )
    if exact:
        a = vecs.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
        b = vecs.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
        cand = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        planes = _hyperplanes(dim, num_bits, seed)
        # Signatures in ONE narrow projection: the Arrow-batched matmul
        # UDF carries the 48x64 plane matrix as a closure constant, so
        # there is no crossJoin, no re-aggregation shuffle, and no giant
        # literal array for whole-stage codegen to compile (~10 s of
        # compile time in a busy session — measured; see SCALE.md).
        sig_udf = _make_signature_udf(planes)
        # NOTE: no repartition before the UDF. The interpreted-HOF
        # signature needed all cores (1 ms/vector); the batched matmul
        # does the whole split in microseconds, so inflating a small
        # input to defaultParallelism partitions only forks ~1 Python
        # worker per core (each importing pandas+numpy, ~1-2 s CPU) —
        # measured as the dominant first-run cost. At scale the parquet
        # split count provides the parallelism.
        sigs = vecs.select("__id", sig_udf(F.col("__v")).alias("__sig"))

        def _banded(n_bands: int) -> DataFrame:
            bpb = num_bits // n_bands
            return sigs.select(
                "__id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("band_idx"),
                                F.shiftright("__sig", i * bpb)
                                .bitwiseAND(F.lit((1 << bpb) - 1))
                                .alias("band_val"),
                            )
                            for i in range(n_bands)
                        ]
                    )
                ).alias("b"),
            ).select("__id", "b.band_idx", "b.band_val")

        # eager persist: the banded table feeds both sides of the
        # self-join; lazy persist would race and compute signatures twice
        if max_candidates_per_doc is None:
            banded = _banded(bands).persist()
            banded.count()
        else:
            from nhs_data_pipeline_spark.llm.dedup import estimate_candidate_pairs

            sigs = sigs.persist()
            n_docs = sigs.count()
            while True:
                banded = _banded(bands).persist()
                banded.count()
                est = estimate_candidate_pairs(banded, ("band_idx", "band_val"))
                if est <= max_candidates_per_doc * n_docs or bands <= 1:
                    break
                banded.unpersist()
                bands = max(1, bands // 2)
            if band_report is not None:
                band_report.update(
                    bands=bands,
                    bits_per_band=num_bits // bands,
                    n_docs=n_docs,
                    est_candidates=est,
                )
            sigs.unpersist()
        qa = banded.select(
            F.col("__id").alias("id_a"), "band_idx", "band_val"
        )
        qb = banded.select(
            F.col("__id").alias("id_b"), "band_idx", "band_val"
        )
        ids = (
            qa.join(qb, ["band_idx", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        cand = ids.join(
            vecs.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va")),
            "id_a",
        ).join(
            vecs.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb")),
            "id_b",
        )
    # dot + norms in one Arrow batch (zero-norm -> NULL); see _cosine_pairs
    return (
        cand.withColumn("cosine", _cosine_pairs(F.col("__va"), F.col("__vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def fit_centroids_numpy(X, n_centroids: int, seed: int = 11, iters: int = 20):
    """Deterministic Lloyd's k-means over a numpy sample — the offline
    quantizer-training step for IVF. At scale the input is a bounded
    sample of the corpus (train on a sample, broadcast centroids — the
    standard IVF build); determinism (seeded init, fixed iteration
    count, first-min argmin) is what lets an external engine replay
    cell assignment exactly from the centroid literals."""
    import numpy as np

    X = np.asarray(X, dtype=float)
    rng = np.random.RandomState(seed)
    C = X[rng.choice(len(X), size=n_centroids, replace=False)].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        for j in range(n_centroids):
            members = assign == j
            if members.any():
                C[j] = X[members].mean(0)
    return [[float(x) for x in row] for row in C]


def _make_cell_udf(centroids: list[list[float]]):
    """Arrow-vectorized nearest-centroid assignment: one squared-
    distance tensor per batch, first-min argmin (ties resolve to the
    lowest cell id, matching a ``ORDER BY dist, cell LIMIT 1`` replay)."""
    import numpy as np
    from pyspark.sql.types import IntegerType

    C = np.asarray(centroids, dtype=float)  # (n_centroids, dim)

    @pandas_udf(IntegerType())
    def cell(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        V = np.vstack(v.to_numpy())
        d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        return pd.Series(d2.argmin(1).astype("int32"))

    return cell


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 11,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells + multi-probe.

    Build: fit KMeans centroids (driver-side model over the corpus —
    centroid count is tiny; the fit itself is distributed), assign each
    corpus vector to its nearest cell (one shuffle-free transform).
    Query: score each query against the centroid table (literal arrays,
    n_centroids dot products), keep the ``n_probe`` nearest cells,
    join corpus rows in those cells, exact-cosine re-rank.

    Scale shape: the candidate join is keyed on cell id — the shuffle
    carries (id, cell) pairs and only same-cell vectors meet; recall is
    tuned by ``n_probe`` (probing all cells == brute force). Compared
    to ``lsh_topk`` this adapts to the data's cluster structure at the
    cost of a training pass.

    ``centroids``: a pre-trained quantizer (e.g. from
    ``fit_centroids_numpy`` over a corpus sample) — skips the Spark ML
    fit and assigns cells with an Arrow-batched argmin. This is the
    production shape at 100 TB (train offline on a sample, broadcast
    the centroid matrix) and makes the whole query replayable by an
    external engine from the centroid literals.
    """
    c = _as_double(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")),
        "__cv",
    )
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        cv = c.withColumn("__vec", array_to_vector("__cv"))
        km = KMeans(k=n_centroids, seed=seed, featuresCol="__vec", predictionCol="__cell")
        model = km.fit(cv)
        cells = model.transform(cv).select("neighbor_id", "__cv", "__cell")
        centers = [[float(x) for x in ctr] for ctr in model.clusterCenters()]
    else:
        centers = [[float(x) for x in ctr] for ctr in centroids]
        cell_udf = _make_cell_udf(centers)
        cells = c.select("neighbor_id", "__cv", cell_udf("__cv").alias("__cell"))
    q = _as_double(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        "__qv",
    )
    # distance to each centroid: posexplode ONE nested-array literal of
    # all centroids (per-element F.lit would cost a py4j call each),
    # then a native dot per (query, centroid) row; keep the n_probe
    # nearest cells per query
    scored_cells = (
        q.select(
            "query_id",
            "__qv",
            F.posexplode(_nested_array_lit(centers)).alias("__cell", "__ctr"),
        )
        .withColumn("__sim", _dot(F.col("__qv"), F.col("__ctr")))
        .select("query_id", "__qv", "__cell", "__sim")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("__cell"))
    probes = (
        scored_cells.withColumn("__pr", F.row_number().over(w_probe))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "__qv", "__cell")
    )

    cand = probes.join(cells, "__cell").filter(F.col("query_id") != F.col("neighbor_id"))
    rescored = cand.withColumn(
        "cosine", _cosine_pairs(F.col("__qv"), F.col("__cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str = "label",
    round_to: int = 6,
    flat: bool = False,
) -> DataFrame:
    """Mean-pooled centroid per group (class prototypes, cluster
    centers, per-source embedding summaries).

    Shape: posexplode the vector to (group, dim, x) rows and sum per
    (group, dim) — the scalable layout for wide vectors and many
    groups: partials combine map-side, the shuffle carries one double
    per (group, dim), and no executor ever holds a group's full vector
    set (the naive collect_list-of-arrays centroid OOMs on a hot
    group). Reassembly sorts each group's 64 per-dim means, not data.

    Means are rounded to ``round_to`` decimals: summation order
    differs between engines (and between partial-agg topologies), so
    raw doubles disagree in final ulps — same contract as the cosine
    scores. Returns (group_col, centroid: array<double>, n_vectors),
    or with ``flat=True`` the LONG-FORM model (group_col, dim, c,
    n_vectors) straight off the per-dim aggregate — one row per
    centroid dimension, no array reassembly (the shape array-blind
    consumers like the driver's canonicalizer need)."""
    ex = df.select(
        F.col(group_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x"),
    )
    sums = ex.groupBy(group_col, "__pos").agg(
        F.sum("__x").alias("__s"), F.count("*").alias("__c")
    )
    if flat:
        return sums.select(
            F.col(group_col),
            F.col("__pos").alias("dim"),
            F.round(F.col("__s") / F.col("__c"), round_to).alias("c"),
            F.col("__c").alias("n_vectors"),
        )
    return sums.groupBy(group_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("__pos"),
                        F.round(F.col("__s") / F.col("__c"), round_to).alias("__m"),
                    )
                )
            ),
            lambda t: t["__m"],
        ).alias("centroid"),
        F.max("__c").alias("n_vectors"),
    )


def random_projection(
    df: DataFrame,
    d_out: int = 8,
    dim: int = 64,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: append ``proj``, the
    input embedding projected onto ``d_out`` seeded Gaussian
    directions (unscaled — squared distances concentrate around
    ``d_out *`` the original, so consumers normalise by ``d_out``).

    The projection matrix is the same deterministic seeded-literal
    machinery as the LSH hyperplanes (one parsed nested-array literal,
    never per-element ``F.lit``), so any engine replays the exact
    same matrix — and the per-row transform is a pure projection: no
    shuffle, no UDF, fully pipelined into whatever scan feeds it.
    At 100 TB this is the cheap half of dimensionality reduction for
    ANN (project once, bucket/search in d_out dims, rerank survivors
    in full dimension); pair it with ``lsh_topk``/``ivf_topk`` for
    the search side."""
    v = _as_double(df, vec_col)
    proj = F.transform(
        _nested_array_lit(_hyperplanes(dim, d_out, seed)),
        lambda p: _dot(F.col(vec_col), p),
    )
    return v.withColumn("proj", proj)


def semantic_contamination(
    benchmark: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-level benchmark decontamination screen: for every
    benchmark vector, how many corpus vectors sit above ``threshold``
    cosine (near-verbatim paraphrases the n-gram contamination check
    misses) and the maximum cosine observed — per-benchmark rows
    ``(bench_id, n_corpus, n_contaminated, max_cosine)``.

    Shape: the broadcast-benchmark pair scorer of
    :func:`brute_force_topk` (one Arrow-batched cosine stage, corpus
    never shuffles) feeding ONE map-side-combinable aggregate — no
    top-k window at all, so the scan is a single pass however large
    the corpus. The decision column rounds cosine to 6 dp first
    (portable floor-round), so the count replays exactly cross-engine;
    NULL cosines (zero-norm vectors) count as uncontaminated."""
    q = _as_double(
        benchmark.select(
            F.col(id_col).alias("bench_id"), F.col(vec_col).alias("__qv")
        ),
        "__qv",
    )
    c = _as_double(
        corpus.select(F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cv")),
        "__cv",
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("bench_id") != F.col("__cid"))
        .withColumn("cosine", _cosine_pairs(F.col("__qv"), F.col("__cv")))
        .withColumn(
            "__c6",
            F.floor(F.col("cosine") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        )
    )
    return scored.groupBy("bench_id").agg(
        F.count("*").cast("bigint").alias("n_corpus"),
        F.sum(
            F.when(F.col("__c6") >= F.lit(float(threshold)), 1).otherwise(0)
        ).cast("bigint").alias("n_contaminated"),
        F.max("__c6").alias("max_cosine"),
    )
