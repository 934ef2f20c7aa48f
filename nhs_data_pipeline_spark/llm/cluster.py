"""Distributed k-means (Lloyd) over embedding columns, bit-exact.

The embedding-curation operators consume centroid tables: IVF ANN
(`llm/similarity.ivf_topk`) and SemDeDup (`llm/dedup.semantic_dedup`)
both block the quadratic on k-means cells, and until now the quantizer
itself came from a driver-side MLlib fit or offline numpy. This module
fits the centroids *inside the engine* as ordinary Catalyst plans —
the textbook distributed Lloyd iteration:

    assign:  broadcast the k-row centroid table against the vector
             table, per-row squared-L2 via an array fold, argmin cell
    update:  explode (cid, dim, x), one shuffle keyed (cid, dim) with
             map-side partial sums, rebuild the k centroid arrays

Scale shape (100 TB): per iteration exactly ONE shuffle of (cid, dim,
partial-sum) — the assign join is broadcast (k centroids are tiny by
definition), the update aggregate combines map-side, and nothing ever
returns to the driver. The centroid table is localCheckpointed per
iteration (k rows): persist alone leaves the unrolled plan growing.

Cross-engine determinism (how an iterative float algorithm stays
hash-exact)
-----------
- Input vectors are quantized ONCE to 6 decimals (exact float32 ->
  double -> round; same on both engines).
- Distances fold (x-c)^2 terms in *dimension order* (Spark
  ``aggregate`` over ``zip_with`` == DuckDB ``list_reduce`` over the
  dim-ordered term list) — bit-identical, and argmin ties break on
  cell id.
- Centroid updates sum DECIMAL(18,6) casts of the quantized values —
  EXACT and order-free, so the grouped sum needs no sorted fold (the
  same trick as ops/analytics.zscore_outliers' moment sums); the mean
  is one correctly-rounded double division, re-rounded to 6 decimals.
Every iteration therefore maps quantized centroids to quantized
centroids through exact or single-rounded steps — any engine replays
the whole trajectory bit-for-bit (oracle: unrolled CTE iterations,
``embed_kmeans_fit``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nhs_data_pipeline_spark.ops.core import local_frame

_DIST = (
    "aggregate(zip_with(__x, __c, (a, b) -> (a - b) * (a - b)), "
    "cast(0.0 as double), (acc, t) -> acc + t)"
)


def _quantized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, __x): float32 -> double -> round(6) per element, once."""
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({vec_col}, v -> round(cast(v as double), 6))").alias(
            "__x"
        ),
    )


# per-centroid (distance, cid) structs from the collapsed centroid
# array: the same dim-ordered fold as _DIST, run once per centroid in
# cid order. struct comparison is lexicographic, so array_min /
# array_sort over these structs IS the argmin with the (dist, cid)
# tie-break — identical selection to the old row_number window.
_DVEC = (
    "transform(__cs, __cc -> named_struct("
    "'d', aggregate(zip_with(__x, __cc.__c, (a, b) -> (a - b) * (a - b)), "
    "cast(0.0 as double), (acc, t) -> acc + t), "
    "'cid', __cc.cid))"
)


def _cent_arr(cent: DataFrame) -> DataFrame:
    """One row: the k centroids collapsed into a cid-sorted array of
    (cid, __c) structs — the broadcastable literal-free form the
    fold-based assign consumes."""
    return cent.agg(
        F.sort_array(F.collect_list(F.struct("cid", "__c"))).alias("__cs")
    )


def _assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """(id, __x, cid): nearest centroid per vector.

    r12 (guide §2.2/§2.4): the old shape cross-joined the k-row
    centroid table (k rows PER VECTOR) and ran a row_number window
    partitioned by id — shuffling k*n rows, each carrying the 64-dim
    vector, just to pick the argmin. The argmin needs no shuffle at
    all: collapse the centroids into ONE broadcast row holding a
    cid-sorted struct array, compute the per-centroid distances in a
    single projection (same dim-ordered IEEE fold), and take
    array_min over (d, cid) structs — lexicographic struct order ==
    the old (dist asc, cid asc) tie-break, so the assignment is
    bit-identical. Per Lloyd iteration this leaves exactly one
    exchange (the (cid, dim) update aggregate)."""
    best = F.array_min(F.expr(_DVEC))
    return (
        vecs.join(F.broadcast(_cent_arr(cent)), how="cross")
        .select("id", "__x", best["cid"].alias("cid"))
    )


def _update(assigned: DataFrame, cent: DataFrame) -> DataFrame:
    """New centroid table from an assignment: exact decimal sums per
    (cid, dim), single-rounded mean, arrays rebuilt in dim order.
    Clusters that lost every vector keep their previous centroid."""
    means = (
        assigned.select(
            "cid", F.posexplode("__x").alias("__dim", "__v")
        )
        .groupBy("cid", "__dim")
        .agg(
            F.sum(F.col("__v").cast("decimal(18,6)")).alias("__s"),
            F.count("*").alias("__n"),
        )
        .withColumn(
            "__m", F.round(F.col("__s").cast("double") / F.col("__n"), 6)
        )
        .groupBy("cid")
        .agg(
            F.expr(
                "transform(sort_array(collect_list(struct(__dim, __m))), "
                "s -> s.__m)"
            ).alias("__new")
        )
    )
    # both sides are k rows, but the checkpointed left side has no
    # stats — hint the broadcast so Catalyst never sort-merge-joins a
    # k-row pair
    return cent.select("cid", "__c").join(
        F.broadcast(means), "cid", "left"
    ).select("cid", F.coalesce("__new", "__c").alias("__c"))


def kmeans_fit(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit ``k`` centroids with ``iterations`` Lloyd rounds and report
    the final clustering: ``(cid, n_vectors, centroid)``.

    Deterministic init: the ``k`` lowest-id vectors seed cells 0..k-1
    (reproducible anywhere — no RNG; callers wanting k-means++ quality
    pass a pre-spread sample). ``n_vectors`` comes from a final
    assignment under the FINAL centroids, so sizes and centroids are
    consistent.
    """
    vecs = _quantized(df, id_col, vec_col)
    w0 = Window.orderBy("id")
    cent = (
        vecs.orderBy("id")
        .limit(k)
        .withColumn("cid", F.row_number().over(w0) - 1)
        .select("cid", F.col("__x").alias("__c"))
    )
    for _ in range(iterations):
        assigned = _assign(vecs, cent)
        cent = _update(assigned, cent)
        # k-row table; truncate the unrolled plan (module docstring)
        cent = cent.localCheckpoint(eager=False)
        cent.count()
    final = _assign(vecs, cent)
    sizes = final.groupBy("cid").agg(F.count("*").alias("n_vectors"))
    return (
        cent.join(F.broadcast(sizes), "cid", "left")
        .select(
            "cid",
            F.coalesce("n_vectors", F.lit(0)).alias("n_vectors"),
            F.col("__c").alias("centroid"),
        )
    )


def silhouette_by_cluster(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cluster simplified silhouette under a fresh ``kmeans_fit``:
    ``(cid, n_vectors, mean_silhouette, mean_dist)``.

    The exact silhouette is O(n^2) pairwise distances — dead at corpus
    scale. The standard centroid approximation (a = distance to the
    OWN centroid, b = distance to the nearest OTHER centroid,
    s = (b - a) / max(a, b)) is O(n * k) and needs only the same
    broadcast cross-join the assignment step already does. Because the
    own centroid is by definition the argmin, a <= b always, so
    s = (b - a) / b in [0, 1]; a tied second centroid gives 0 and a
    degenerate b = 0 (vector == both centroids) is defined as 0.

    Cross-engine exactness: the squared distances fold in dim order
    (bit-exact, see module docstring), ``sqrt`` is IEEE
    correctly-rounded in every engine, the per-vector score is
    quantized to integer millionths with the portable floor-round,
    and per-cluster means divide the exact integer sums ONCE —
    no order-dependent float accumulation anywhere.

    100 TB shape: one broadcast join (k rows) + one (id)-partitioned
    top-2 window + one (cid)-keyed aggregate with map-side partials.
    """
    vecs = _quantized(df, id_col, vec_col)
    model = kmeans_fit(df, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col)
    cent = model.select("cid", F.col("centroid").alias("__c"))
    # r12: top-2 via array_sort over the per-centroid (d, cid) structs
    # (the _assign fold shape) — the old k*n cross join + id-window +
    # per-id aggregate shuffled the whole vector table twice to pick
    # two rows per id. Lexicographic struct sort == (dist asc, cid
    # asc), so element 1 is the old rk=1 row and element 2 the rk=2
    # row, bit-identically; a k=1 fit leaves element_at(.., 2) NULL
    # exactly like the old max(when(rk==2)) over no rows. One
    # projection, zero exchanges before the final (cid) aggregate.
    ds = F.array_sort(F.expr(_DVEC))
    two = (
        vecs.join(F.broadcast(_cent_arr(cent)), how="cross")
        .select(
            F.element_at(ds, 1)["cid"].alias("cid"),
            F.element_at(ds, 1)["d"].alias("__a2"),
            # try_: a k=1 fit has no second centroid — NULL, exactly
            # like the old max(when(rk==2)) over no rows (ANSI
            # element_at would throw)
            F.try_element_at(ds, F.lit(2))["d"].alias("__b2"),
        )
    )
    per = two.select(
        "cid",
        F.expr(
            "cast(case when sqrt(__b2) > 0.0 then "
            "floor((sqrt(__b2) - sqrt(__a2)) / sqrt(__b2) * 1e6 + 0.5) "
            "else 0 end as bigint)"
        ).alias("__s_m"),
        F.expr("cast(floor(sqrt(__a2) * 1e6 + 0.5) as bigint)").alias("__a_m"),
    )
    return per.groupBy("cid").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.expr(
            "floor(cast(sum(__s_m) as double) / cast(count(*) as double) + 0.5) / 1e6"
        ).alias("mean_silhouette"),
        F.expr(
            "floor(cast(sum(__a_m) as double) / cast(count(*) as double) + 0.5) / 1e6"
        ).alias("mean_dist"),
    )


def kcenter_coreset(
    emb: DataFrame,
    k: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez's 2-approximation,
    public) over an embedding column: pick the deterministic seed (min
    id), then ``k - 1`` times the point FARTHEST from every selected
    center — the classic diverse-subset selector for training-data
    curation (maximize coverage of embedding space with k exemplars;
    the dual of dedup's remove-the-closest). Returns ``(sel_order,
    <id_col>, radius2)`` where ``radius2`` is the squared L2 max-min
    distance at selection time (the coverage radius achieved AFTER the
    previous pick; NULL for the seed).

    Determinism/exactness: distances fold ``(double(x_i) -
    double(c_i))^2`` left-to-right in index order — float->double
    casts are exact and the fold order is pinned, so d2 is
    bit-identical in any engine — and the argmax tiebreaks on the id.
    Each round updates a running min-distance column (least) over ONE
    corpus scan, truncated with localCheckpoint (the iterative-loop
    rule); the only driver crossing is the k-row argmax/center
    hand-off (the kmeans centroid precedent, llm/cluster.py:233).
    Total work k corpus scans — the textbook greedy k-center cost."""
    if k < 1:
        raise ValueError("k must be >= 1")
    base = emb.select(
        F.col(id_col), F.col(vec_col).alias("__v")
    ).filter(F.col("__v").isNotNull())

    def _dist2_expr(center: list[float]) -> str:
        arr = "array(" + ", ".join(repr(float(x)) for x in center) + ")"
        return (
            f"aggregate(zip_with(__v, {arr}, "
            "(a, b) -> (cast(a as double) - b) * (cast(a as double) - b)), "
            "cast(0.0 as double), (acc, x) -> acc + x)"
        )

    seed = base.orderBy(id_col).limit(1).collect()[0]
    selected = [(0, seed[id_col], None)]
    center = [float(x) for x in seed["__v"]]
    cur = base.withColumn("__d2", F.expr(_dist2_expr(center)))
    for i in range(1, k):
        cur = cur.localCheckpoint(eager=False)
        cur.count()
        far = (
            cur.orderBy(F.desc("__d2"), F.asc(id_col)).limit(1).collect()[0]
        )
        selected.append((i, far[id_col], float(far["__d2"])))
        center = [float(x) for x in far["__v"]]
        cur = cur.withColumn(
            "__d2", F.least("__d2", F.expr(_dist2_expr(center)))
        )
    spark = emb.sparkSession
    # carry the input's id dtype through (string doc ids work too; a
    # hardcoded bigint miscast/failed for non-bigint ids — r8 fix)
    id_type = emb.schema[id_col].dataType
    out = local_frame(
        spark,
        selected,
        T.StructType(
            [
                T.StructField("sel_order", T.IntegerType()),
                T.StructField(id_col, id_type),
                T.StructField("radius2", T.DoubleType()),
            ]
        ),
    )
    return out.select(
        "sel_order",
        id_col,
        (F.floor(F.col("radius2") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "radius2"
        ),
    )


def class_separability(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Fisher-style class-separability diagnostic per label: how far
    each class centroid sits from the global mean relative to the
    class's internal spread — the linear-probe-ready check that
    embedding labels are actually separable (and the drift alarm when
    a re-embedding collapses classes).  Returns one row per label:

        (label, n_vectors, dist2_to_global, within_var, sep_ratio)

    where ``dist2_to_global = ||mu_c - mu||^2``, ``within_var`` is the
    mean squared distance to the OWN centroid, and ``sep_ratio`` their
    quotient (the per-class Fisher criterion; higher = more
    separable).

    Exactness: vectors quantize ONCE to integer micro-units; all
    moments (per-(label, dim) sums, per-label squared norms) are exact
    integer sums via ``W = sum||x||^2 - n||mu||^2``; centroid algebra
    folds in dimension order over the MODEL-sized per-label table —
    identical IEEE sequences cross-engine, 6-dp floor-round.

    Scale shape: ONE corpus scan (posexplode -> (label, dim) partial
    sums + one per-label squared-norm aggregate); everything after is
    label-cardinality."""
    D = "decimal(38,0)"
    xm = df.select(
        F.col(label_col).alias("__lb"),
        F.expr(
            f"transform({vec_col}, v -> "
            "cast(floor(cast(v as double) * 1e6 + 0.5) as bigint))"
        ).alias("__xm"),
    )
    ex = xm.select("__lb", F.posexplode("__xm").alias("__d", "__x"))
    ld = ex.groupBy("__lb", "__d").agg(
        F.sum(F.col("__x").cast(D)).alias("__s"),
        F.count("*").alias("__nc"),
    )
    gd = ld.groupBy("__d").agg(
        F.sum("__s").alias("__gs"), F.sum("__nc").alias("__gn")
    )
    q = ex.groupBy("__lb").agg(
        F.sum(F.col("__x").cast(D) * F.col("__x").cast(D)).alias("__q")
    )
    # per-(label, dim) centroid terms, folded in dim order per label
    terms = ld.join(F.broadcast(gd), "__d").select(
        "__lb",
        F.col("__d").alias("__k"),
        (
            F.col("__s").cast("double") / F.col("__nc").cast("double")
        ).alias("__m"),
        (
            F.col("__s").cast("double") / F.col("__nc").cast("double")
            - F.col("__gs").cast("double") / F.col("__gn").cast("double")
        ).alias("__dv"),
        F.col("__nc"),
    )
    folded = terms.select(
        "__lb",
        "__k",
        F.col("__nc"),
        (F.col("__m") * F.col("__m")).alias("__m2"),
        (F.col("__dv") * F.col("__dv")).alias("__dv2"),
    ).groupBy("__lb").agg(
        F.max("__nc").cast("bigint").alias("n_vectors"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(__k, __m2))), s -> s.__m2), cast(0.0 as double), "
            "(a, x) -> a + x)"
        ).alias("__mu2"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(__k, __dv2))), s -> s.__dv2), cast(0.0 as double), "
            "(a, x) -> a + x)"
        ).alias("__d2"),
    )
    within = (
        F.col("__q").cast("double") / F.col("n_vectors").cast("double")
        - F.col("__mu2")
    )
    return (
        # eqNullSafe: a NULL label is a legal class (NULL-key rule)
        folded.join(F.broadcast(q), folded["__lb"].eqNullSafe(q["__lb"]))
        .select(
            folded["__lb"].alias(label_col),
            "n_vectors",
            F.expr("floor(__d2 / 1e12 * 1e6 + 0.5) / 1e6").alias(
                "dist2_to_global"
            ),
            (F.floor(within / F.lit(1e12) * F.lit(1e6) + F.lit(0.5))
             / F.lit(1e6)).alias("within_var"),
            F.when(
                within > 0,
                F.floor(
                    F.col("__d2") / within * F.lit(1e6) + F.lit(0.5)
                )
                / F.lit(1e6),
            ).alias("sep_ratio"),
        )
    )
