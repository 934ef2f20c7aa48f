"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design
------------
- *Exact*: hash-groupBy on a normalized fingerprint — one shuffle keyed
  by md5, keeps the canonical (min-id) representative. At 100 TB the
  shuffle carries (fingerprint, id), never the text.
- *MinHash+LSH*: shingle -> k min-hashes -> b bands; candidate pairs
  come from a self-join on (band_idx, band_hash) buckets — the classic
  sub-quadratic near-dup join. Only bucket-mates are compared; the
  banded join is the *only* pairwise step, so cost tracks true-duplicate
  density rather than n^2.
- *SimHash*: 64-bit weighted-bit fingerprint; near-dups = pairs whose
  fingerprints agree on a 16-bit chunk (4-chunk banding => guaranteed
  recall at Hamming distance <= 3) and pass a bit_count(xor) check.
- *n-gram Jaccard*: exact verification on candidate pairs (array
  intersection/union cardinalities) — used as the confirm stage after
  LSH, or standalone on blocked pairs.

All stages are native expressions (explode/groupBy/array ops); nothing
collects to the driver except ``leakage_safe_split``'s pair list, which
``ops.graph.connected_components`` resolves there.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.llm.text import fingerprint_md5, normalize_text

# Large prime below 2^31 for the universal-hash family.
_MERSENNE = (1 << 31) - 1

# Portable 60-bit hash: first 15 hex chars of md5, parsed base-16.
# Unlike xxhash64 this is reproducible in any engine with md5()
# (DuckDB: list_reduce over hex digits — see queries.py oracle SQL),
# which makes the whole MinHash/SimHash pipeline exactly
# cross-engine-checkable. 60 bits keep every intermediate
# (value < 2^60, universal-hash product < 2^62) inside signed-64
# arithmetic on both engines.
_MD5_H60 = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"

# Portable shingle encoding for MinHash: base-259 polynomial over the
# k character codepoints — injective for ASCII text (every codepoint
# < 259), < 2^54 for any unicode input, and pure integer/substring
# arithmetic, so it whole-stage-codegens in Spark and replays as plain
# SQL in any engine (DuckDB ascii() matches Spark's exactly, '' -> 0).
# Measured ~3x faster than per-shingle md5 at sf0.1.
_POLY_BASE = 259


def _poly_shingle_sql(norm_col: str, pos_col: str, k: int) -> str:
    """SQL text for the base-259 polynomial over characters
    ``norm_col[pos_col .. pos_col+k-1]`` (engine-portable; Spark and
    DuckDB substring/ascii semantics agree, including past-end -> '')."""
    expr = "cast(0 as bigint)"
    for j in range(k):
        expr = f"({expr} * {_POLY_BASE} + ascii(substring({norm_col}, {pos_col} + {j}, 1)))"
    return expr


def minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """The (a, b) universal-hash coefficients used by MinHash
    signatures, exposed so oracle SQL can inline the same literals."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per exact normalized-text match;
    adds ``dup_count``. Single window pass over the md5 fingerprint —
    one shuffle of the rows, no join-back (the groupBy+join shape
    shuffles the text twice; measured 2x slower at sf0.1)."""
    keyed = df.withColumn("__fp", fingerprint_md5(F.col(text_col)))
    w = Window.partitionBy("__fp")
    return (
        keyed.withColumn("dup_count", F.count("*").over(w))
        .withColumn("__rn", F.row_number().over(w.orderBy(id_col)))
        .filter(F.col("__rn") == 1)
        .drop("__fp", "__rn")
    )


def char_shingles(text_col_name: str, k: int = 5, pre_normalized: bool = False) -> Column:
    """Distinct character k-shingles of normalized text, as an array.
    Takes a column *name* (dynamic-start substring needs the SQL lambda
    form); stays fully JVM-side.

    PERF: expressions inside higher-order-function lambdas are
    interpreted per element with no common-subexpression elimination —
    if the normalization regex is inlined here it runs once per
    *shingle* instead of once per document (measured ~10x slowdown).
    Callers on the hot path must materialize normalized text across an
    exchange (see ``minhash_lsh_pairs``) and pass ``pre_normalized``."""
    if pre_normalized:
        norm = text_col_name
    else:
        norm = f"trim(regexp_replace(lower({text_col_name}), '\\\\s+', ' '))"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({norm}) - {k} + 1, 1)), "
        f"i -> substring({norm}, i, {k})))"
    )


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of normalized text."""
    c = text if isinstance(text, Column) else F.col(text)
    toks = F.split(normalize_text(c), " ")
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def _signature_cols(hashes_df: DataFrame, id_col: str, num_hashes: int, seed: int) -> DataFrame:
    """64-min signature aggregate over row-form distinct shingle hashes
    ``(id_col, __h)`` -> one row per doc with __m0..__m{n-1} columns."""
    coeffs = minhash_coeffs(num_hashes, seed)
    return hashes_df.groupBy(id_col).agg(
        *[
            F.min(F.pmod(a * F.col("__h") + b, F.lit(_MERSENNE))).alias(f"__m{j}")
            for j, (a, b) in enumerate(coeffs)
        ]
    )


def estimate_candidate_pairs(
    banded: DataFrame, band_cols: tuple[str, str] = ("band_idx", "band_hash")
) -> int:
    """Exact blocked-candidate-pair count from bucket sizes: sum over
    buckets of c*(c-1)/2. Two narrow aggregates over the (persisted)
    banded table — the pair space is COUNTED, never materialized, so
    the check costs ~|banded| rows regardless of how pathological the
    bucket skew is. This is the number the self-join will actually
    produce; measuring it first is what makes candidate flooding (the
    real LSH scale risk — 527k pairs measured on 10k self-similar docs
    at r=4) observable before it happens."""
    sizes = banded.groupBy(*band_cols).agg(F.count("*").alias("__c"))
    row = sizes.agg(
        F.sum((F.col("__c") * (F.col("__c") - F.lit(1))) / 2).alias("__n")
    ).first()
    return int(row["__n"] or 0)


def _minhash_sig(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_k: int,
    shingle_sample_mod: int,
    seed: int,
    hash_fn: str,
) -> DataFrame:
    """Shared MinHash signature pipeline: ``(id_col, sig array<bigint>)``
    — extracted (r8) so the self-join path (:func:`minhash_lsh_pairs`)
    and the batch-vs-corpus incremental screen
    (:func:`lsh_incremental_screen`) can never drift apart.

    PERF shape (each step measured at sf0.1, local[32]):
    1. normalize BEFORE a repartition exchange — parallelism decoupled
       from input splits, normalization materialized (10x on inlined
       regex, 4x on 2-split parallelism).
    2. ROW-LEVEL shingling: explode positions, then substring/hash/
       sample-filter as ordinary row expressions. Higher-order array
       lambdas (transform/filter) are ALWAYS interpreted — the array
       form of this same pipeline ran 3.3x slower (19.7s -> 5.9s).
    3. distinct via (id, hash) partial-aggregate, then the 64-min
       signature aggregate — r11 (guide §2.4): the repartition hashes
       on the doc id, so BOTH aggregates run exchange-free on that one
       established partitioning (their grouping keys contain the id);
       previously each paid its own shuffle."""
    par = df.sparkSession.sparkContext.defaultParallelism
    norm = df.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__norm")
    ).repartition(par, F.col(id_col))
    pos = norm.select(
        F.col(id_col),
        "__norm",
        F.explode(
            F.expr(f"sequence(1, greatest(length(__norm) - {shingle_k} + 1, 1))")
        ).alias("__i"),
    )
    if hash_fn == "portable":
        # Polynomial encode reduced mod p; sampling by a dedicated
        # seeded universal hash (coefficient index num_hashes — a
        # stable extension of the signature family) so the kept subset
        # is hash-uniform, not character-structured.
        # PERF: extract the k-char shingle ONCE, then poly over the
        # short string. substring(str, pos, 1) scans from the string
        # start (UTF-8 aware), so k direct per-char probes into the
        # full document are O(k * position) — quadratic per doc
        # (measured 3.5x slower than xxhash64; this shape is ~1.2x).
        hashed = pos.select(
            F.col(id_col),
            F.expr(f"substring(__norm, __i, {shingle_k})").alias("__s5"),
        ).select(
            F.col(id_col),
            F.pmod(
                F.expr(_poly_shingle_sql("__s5", "1", shingle_k)),
                F.lit(_MERSENNE),
            ).alias("__sh64"),
        )
        if shingle_sample_mod > 1:
            a_s, b_s = minhash_coeffs(num_hashes + 1, seed)[num_hashes]
            samp = F.pmod(a_s * F.col("__sh64") + b_s, F.lit(_MERSENNE))
            hashed = hashed.filter(F.pmod(samp, F.lit(shingle_sample_mod)) == 0)
        distinct_h = (
            hashed.groupBy(id_col, "__sh64")
            .agg(F.first("__sh64").alias("__dummy"))
            .select(F.col(id_col), F.col("__sh64").alias("__h"))
        )
    else:
        hashed = pos.select(
            F.col(id_col),
            F.xxhash64(F.expr(f"substring(__norm, __i, {shingle_k})")).alias("__sh64"),
        )
        if shingle_sample_mod > 1:
            hashed = hashed.filter(F.pmod("__sh64", F.lit(shingle_sample_mod)) == 0)
        distinct_h = (
            hashed.groupBy(id_col, "__sh64")
            .agg(F.first("__sh64").alias("__dummy"))
            .select(F.col(id_col), F.pmod("__sh64", F.lit(_MERSENNE)).alias("__h"))
        )
    mins = _signature_cols(distinct_h, id_col, num_hashes, seed)
    return mins.select(
        F.col(id_col), F.array(*[f"__m{j}" for j in range(num_hashes)]).alias("sig")
    )


def _banded_from_sig(
    sig: DataFrame,
    id_col: str,
    num_hashes: int,
    n_bands: int,
    hash_fn: str,
) -> DataFrame:
    """Band table ``(id_col, band_idx, band_hash)`` from a signature
    frame (the LSH bucket keys; shared by self-join and incremental
    paths)."""
    rows_per_band = num_hashes // n_bands

    def _band_key(b: int) -> Column:
        key = F.concat_ws(
            ",",
            *[
                F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                for r in range(rows_per_band)
            ],
        )
        # Portable mode keeps the raw signature string as the bucket key
        # so an external engine reproduces buckets without a matching
        # xxhash64; default mode hashes it to 8 bytes for shuffle economy.
        return F.xxhash64(key) if hash_fn == "xxhash64" else key

    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        _band_key(b).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    shingle_sample_mod: int = 4,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    max_candidates_per_doc: float | None = None,
    band_report: dict | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    Returns ``(id_a, id_b, n_shared_bands)`` with ``id_a < id_b``.
    Default 64 hashes x 8 bands = r=8 rows per band: s-curve threshold
    ~ (1/8)^(1/8) ~ 0.77 Jaccard — dedup-grade precision. On highly
    self-similar corpora a loose threshold (r=4) floods the bucket join
    with O(n^2)-ish candidates (measured 527k pairs on 10k synthetic
    docs); candidate volume, not signature math, is what blows up at
    scale, so precision is the default and recall-hungry callers lower
    ``bands``-per-hash deliberately.

    ``hash_fn``: ``"xxhash64"`` (default — fastest, JVM-native) or
    ``"portable"`` — shingles encoded with the base-259 character
    polynomial (``_poly_shingle_sql``), sampling decided by a seeded
    universal hash, and band keys kept as plain signature strings, so
    an external engine reproduces the candidate set exactly with plain
    SQL arithmetic (cross-engine verification / engine-portable dedup
    keys). Portable mode stays inside whole-stage codegen — measured
    ~1.4x the xxhash64 runtime at sf0.1, vs ~3x for per-shingle md5.

    ``max_candidates_per_doc``: candidate-volume guardrail. When set,
    the blocked pair count is measured from bucket sizes (never
    materialized) BEFORE the self-join; if it exceeds
    ``max_candidates_per_doc * n_docs`` the banding auto-widens
    (bands halve -> rows-per-band double -> stricter s-curve), re-banding
    the already-computed signatures — no shingle/signature recompute.
    On a self-similar corpus this is the difference between a bounded
    join and an accidental O(n^2) shuffle. ``band_report`` (optional
    dict) receives {bands, rows_per_band, n_docs, est_candidates}."""
    sig = _minhash_sig(
        df, text_col, id_col, num_hashes, shingle_k,
        shingle_sample_mod, seed, hash_fn,
    )

    def _banded(n_bands: int) -> DataFrame:
        return _banded_from_sig(sig, id_col, num_hashes, n_bands, hash_fn)

    # Persist before the self-join: both join sides share this lineage,
    # and without a materialization the whole shingle+signature pipeline
    # executes twice (measured ~2x end-to-end). n_docs x bands rows of
    # three longs — safely cacheable at any corpus size that fits a
    # cluster; storage level spills to disk if not. The count() makes
    # the persist EAGER: a lazy persist lets the join's two scans race
    # and compute the shared lineage twice (measured ~2x end-to-end).
    # localCheckpoint, not persist (r12): banded outlives the call, and
    # a leaked persist rewrites the next call's plan over
    # InMemoryRelation — a new shape whose fused signature codegen
    # units (64 min() aggregates) recompile every rep (the audit-panel
    # compile-storm lesson). Checkpoint keeps one stable shape and
    # releases via the ContextCleaner.
    if max_candidates_per_doc is None:
        banded = _banded(bands).localCheckpoint(eager=False)
        banded.count()
    else:
        # Guardrail loop: re-band the SAME persisted signatures with
        # progressively fewer/stricter bands until the measured blocked
        # pair count is within budget (or one band remains). sig is
        # released in-call, so its persist cannot leak.
        sig = sig.persist()
        n_docs = sig.count()
        while True:
            banded = _banded(bands).localCheckpoint(eager=False)
            banded.count()
            est = estimate_candidate_pairs(banded)
            if est <= max_candidates_per_doc * n_docs or bands <= 1:
                break
            bands = max(1, bands // 2)
        if band_report is not None:
            band_report.update(
                bands=bands,
                rows_per_band=num_hashes // bands,
                n_docs=n_docs,
                est_candidates=est,
            )
        sig.unpersist()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_shared_bands"))
    )


def lsh_incremental_screen(
    corpus: DataFrame,
    new_batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    shingle_sample_mod: int = 4,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Ingest-time NEAR-dup admission: screen an arriving batch against
    the standing corpus by joining their MinHash-LSH band tables — the
    near-dup counterpart of :func:`incremental_dedup`'s exact-md5
    screen, and the shape a 100 TB ingest actually runs: the corpus's
    band table is computed once and stored (n_docs x bands rows of
    three longs — a fraction of corpus bytes); each arriving batch
    shingles ONLY itself and probes with one equi-join on
    (band_idx, band_hash). Nothing ever self-joins the corpus.

    Returns one row per new doc: ``(doc_id, n_corpus_matches,
    best_match, max_shared_bands, admitted)`` — best_match is the
    smallest colliding corpus id among those sharing the most bands
    (deterministic tiebreak), NULL (with admitted = true) when no
    corpus band collides. Same signature pipeline as
    :func:`minhash_lsh_pairs` (shared ``_minhash_sig`` /
    ``_banded_from_sig``), so the screen's s-curve is identical to the
    batch dedup it gates for."""
    cb = _banded_from_sig(
        _minhash_sig(corpus, text_col, id_col, num_hashes, shingle_k,
                     shingle_sample_mod, seed, hash_fn),
        id_col, num_hashes, bands, hash_fn,
    ).select(
        F.col(id_col).alias("__cid"), "band_idx", "band_hash"
    )
    nb = _banded_from_sig(
        _minhash_sig(new_batch, text_col, id_col, num_hashes, shingle_k,
                     shingle_sample_mod, seed, hash_fn),
        id_col, num_hashes, bands, hash_fn,
    )
    hits = (
        nb.join(cb, ["band_idx", "band_hash"])
        .groupBy(id_col, "__cid")
        .agg(F.count("*").alias("__nb"))
    )
    per_new = hits.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_corpus_matches"),
        F.max(F.struct(F.col("__nb"), (-F.col("__cid")).alias("__neg")))
        .alias("__best"),
    ).select(
        id_col,
        "n_corpus_matches",
        (-F.col("__best.__neg")).alias("best_match"),
        F.col("__best.__nb").cast("bigint").alias("max_shared_bands"),
    )
    return (
        new_batch.select(id_col).distinct()
        .join(per_new, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_corpus_matches", F.lit(0).cast("bigint")).alias(
                "n_corpus_matches"
            ),
            "best_match",
            "max_shared_bands",
            F.col("n_corpus_matches").isNull().alias("admitted"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact word-``n``-gram Jaccard on candidate pairs: the verification
    stage after LSH (or any blocking). ``candidate_pairs`` has
    ``(id_a, id_b)``. Returns pairs with ``jaccard >= threshold``."""
    # Tokenize before a repartition exchange (parallelism + materialized
    # token arrays; see char_shingles PERF note), then build n-grams
    # from the plain array column.
    par = df.sparkSession.sparkContext.defaultParallelism
    toks_df = df.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("__toks")
    ).repartition(par)
    grams = toks_df.select(
        F.col(id_col),
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("__toks") - ngram_n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("__toks", i + 1, ngram_n)),
            )
        ).alias("__g"),
    )
    # r12 (guide §2.3 narrower types — the r11 §11 lesson propagated to
    # the LSH/blocked-candidate verify, the last string-array intersect
    # in the family): array_intersect over STRING arrays builds a
    # per-ROW hash set of UTF8Strings (SQLOpenHashSet init/rehash +
    # Murmur3 over the bytes, once per candidate pair) — 33 s isolated
    # at the 620k-candidate source-blocked volume. Map each n-gram to
    # its dense vocabulary ordinal (row_number over the aggregated
    # gram-frequency table; the vocab join is left UNHINTED so the
    # planner/AQE picks broadcast at gate scale and a shuffle join at
    # corpus scale — never a forced vocabulary broadcast), intersect
    # primitive ints, and derive the union from the set sizes
    # (|A∪B| = |A| + |B| − |A∩B| — array_union was a second per-row
    # hash set for a number the sizes already determine). The
    # gram↔ordinal map is a bijection, so intersection counts, sizes,
    # and the single IEEE division are bit-identical.
    gr = grams.select(F.col(id_col), F.explode("__g").alias("__gram"))
    vid = (
        gr.groupBy("__gram")
        .agg(F.count("*").alias("__df"))
        .select(
            "__gram", F.row_number().over(Window.orderBy("__gram")).alias("__vid")
        )
    )
    sets = (
        gr.join(vid, "__gram")
        .groupBy(id_col)
        .agg(F.collect_set("__vid").alias("__S"))
    )
    # both join sides read this lineage; localCheckpoint, not persist:
    # sets outlives the call — the stable-plan-shape rule
    sets = sets.localCheckpoint(eager=False)
    sets.count()  # eager: see minhash_lsh_pairs materialization note
    ga = sets.select(F.col(id_col).alias("id_a"), F.col("__S").alias("__Sa"))
    gb = sets.select(F.col(id_col).alias("id_b"), F.col("__S").alias("__Sb"))
    joined = candidate_pairs.join(ga, "id_a").join(gb, "id_b")
    inter = F.size(F.array_intersect("__Sa", "__Sb"))
    union = F.size("__Sa") + F.size("__Sb") - inter
    return (
        joined.withColumn(
            "jaccard",
            F.when(union == 0, F.lit(None)).otherwise(inter.cast("double") / union),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_pattern: str = r"\w+",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: per bit, the sign of the (+1/-1)
    vote sum across token hashes.

    Shape (r11, guide §2.3/§2.4): ONE exchange — hash-partition by doc
    id up front, so the ``(doc, token)`` count aggregate AND the final
    per-doc vote aggregate both run exchange-free on the established
    partitioning (HashPartitioning(id) satisfies both clusterings).
    The token hashes and the 64 conditional-sum vote expressions then
    evaluate once per DISTINCT (doc, token) pair with count weights
    (``sum(cnt * (2*bit - 1))`` == the per-occurrence ±1 sum, exact
    integer arithmetic — fingerprints bit-identical), a measured 2.3x
    occurrence-to-pair compression on the gate corpus that shrinks the
    expensive md5 work by the same factor. Returns ``(id_col,
    simhash)``.

    ``hash_fn="md5"`` draws the 64 bits from two portable md5-prefix
    hashes (bits 0-59 from ``h(tok)``, 60-63 from ``h(tok || '#2')``)
    instead of xxhash64, making the fingerprint reproducible in any
    engine with md5() (see ``_MD5_H60``).
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.select(F.col(id_col), F.col(text_col))
        # hash by doc, not round-robin: same split decoupling, but the
        # partitioning is REUSED by both aggregates below (zero further
        # exchanges) and skips round-robin's sort-before-repartition
        .repartition(par, F.col(id_col))
        .select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(token_pattern), 0)
            ).alias("__tok"),
        )
        .groupBy(id_col, "__tok")
        .agg(F.count("*").alias("__cnt"))
    )
    if hash_fn == "md5":
        toks = toks.withColumn("__h", F.expr(_MD5_H60.format(x="__tok"))).withColumn(
            "__h2", F.expr(_MD5_H60.format(x="concat(__tok, '#2')"))
        )

        def _bit(b: int) -> Column:
            col, sh = ("__h", b) if b < 60 else ("__h2", b - 60)
            return F.shiftright(col, sh).bitwiseAND(F.lit(1))

    else:
        toks = toks.withColumn("__h", F.xxhash64("__tok"))

        def _bit(b: int) -> Column:
            return F.shiftright("__h", b).bitwiseAND(F.lit(1))

    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(_bit(b) == 1, F.col("__cnt")).otherwise(-F.col("__cnt"))
            ).alias(f"__v{b}")
            for b in range(64)
        ]
    )
    fp = F.lit(0).cast("long")
    for b in range(64):
        bit_val = F.lit(1 << b if b < 63 else -(1 << 63)).cast("long")
        fp = fp + F.when(F.col(f"__v{b}") > 0, bit_val).otherwise(F.lit(0).cast("long"))
    return votes.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit fingerprint into four
    16-bit chunks (pigeonhole: hamming<=3 pairs share >=1 exact chunk),
    bucket-join, verify with bit_count(xor). Returns
    ``(id_a, id_b, hamming)``. ``hash_fn="md5"`` makes the fingerprints
    (and so the whole pair set) engine-portable — see ``simhash64``."""
    sh = simhash64(df, text_col, id_col, hash_fn=hash_fn).withColumnRenamed(
        "simhash", "__sh"
    )
    # self-joined below; avoid recomputing the explode+agg.
    # localCheckpoint, not persist (r12): the fingerprint table
    # outlives the call, and a leaked persist rewrites the NEXT call's
    # plan over InMemoryRelation — a new shape whose 64-expression
    # fused codegen units recompile every rep (the audit-panel
    # compile-storm lesson; in-suite simhash_near_pairs read 8.0 s vs
    # 1.7 s isolated). Checkpoint keeps one stable ExistingRDD shape
    # and releases via the ContextCleaner.
    sh = sh.localCheckpoint(eager=False)
    sh.count()  # eager: see minhash_lsh_pairs materialization note
    chunks = sh.select(
        id_col,
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftright("__sh", i * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "__sh", "c.chunk_idx", "c.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__sh").alias("sh_a"),
            F.col("b.__sh").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-contamination check (GPT-3/PaLM style): for every
    corpus document, how many of its distinct word ``n``-grams appear
    anywhere in the ``benchmark`` set. Returns
    ``(id_col, n_grams, n_contaminated, contamination_frac)`` — gate
    training docs on ``contamination_frac`` (or any overlap at all)
    before eval-set reuse.

    Scale shape: the benchmark's distinct gram set is tiny relative to
    the corpus (eval suites are KBs-to-MBs) — broadcast it so the
    corpus-side explode joins map-side with no shuffle of corpus grams;
    set ``broadcast_benchmark=False`` for a giant benchmark and the
    join degrades gracefully to a hash-partitioned equi-join on the
    gram string.

    r11 (guide §1.5/§2 — the no-CSE-inside-lambda rule): the token
    array materializes ACROSS a repartition exchange before the gram
    lambda. Calling :func:`word_ngrams` on the raw text column left
    ``split(normalize(text))`` as a free subexpression INSIDE the
    per-gram transform lambda — interpreted per element, O(tokens^2)
    regex work per document (measured 6.4 s -> see
    OPTIMIZATION_r11.md). Same gram multiset, values unchanged."""

    def _grams(d: DataFrame, with_id: bool):
        par = d.sparkSession.sparkContext.defaultParallelism
        toks = d.select(
            F.col(id_col),
            F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
        ).repartition(par)
        arr = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("__w") - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice("__w", i + 1, n)),
            )
        )
        cols = [F.col(id_col)] if with_id else []
        return toks.select(*cols, F.explode(arr).alias("__g"))

    c_grams = _grams(corpus, True)
    b_grams = _grams(benchmark, False).distinct().withColumn("__hit", F.lit(1))
    if broadcast_benchmark:
        b_grams = F.broadcast(b_grams)
    joined = c_grams.join(b_grams, "__g", "left")
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.sum(F.coalesce("__hit", F.lit(0))).alias("n_contaminated"),
        F.round(
            F.sum(F.coalesce("__hit", F.lit(0))) / F.count("*"), 6
        ).alias("contamination_frac"),
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ingest-time exact dedup of a NEW batch against an existing
    corpus: keep one representative (min id) per normalized-text
    fingerprint within the batch, then drop representatives whose
    fingerprint already exists in the corpus (anti-join).

    This is the shape a production pipeline runs on every arrival —
    the corpus is never re-deduped, and the corpus side of the
    anti-join ships only DISTINCT fingerprints (16-byte md5), never
    text: at 100 TB the anti-join shuffles |corpus| fingerprints once
    while the batch side is usually small enough that a broadcast of
    the BATCH fingerprints would be even cheaper — Spark's AQE picks
    that automatically when the batch is tiny. Returns (id_col, fp)
    of the surviving new documents."""
    batch = new_df.select(
        F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fp")
    )
    reps = batch.groupBy("fp").agg(F.min(id_col).alias(id_col))
    corpus_fp = corpus_df.select(
        fingerprint_md5(F.col(text_col)).alias("fp")
    ).distinct()
    return reps.join(corpus_fp, "fp", "left_anti").select(id_col, "fp")


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_pairs: int | None = 100_000_000,
    report: dict | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means cell + within-cell cosine pruning. A
    document is DROPPED when some LOWER-ID document in the same cell
    has cosine >= ``threshold`` with it; the surviving set therefore
    keeps exactly one representative (the min id) per within-cell
    near-duplicate clique chain. Returns kept rows ``(id_col, cell)``.

    Unlike LSH-banded dedup (``cosine_dedup_pairs``) the blocking is
    the data's own cluster structure: the quantizer (trained offline
    on a sample — see ``similarity.fit_centroids_numpy``) bounds every
    pairwise comparison to one cell, so cost is sum(|cell|^2) not n^2,
    and the cell assignment is one Arrow-batched argmin pass with no
    shuffle. The pair join shuffles (id, cell) pairs and joins vectors
    back per candidate — same id-only-shuffle discipline as the LSH
    paths. Deterministic end-to-end from the centroid literals, so an
    external engine can replay the exact kept set (queries.py inlines
    the same centroids into the DuckDB oracle).

    COST CONTRACT (r11, flagged by the sf1 timed bench): the pairwise
    cost is sum(|cell|^2) — linear in corpus size ONLY when the
    quantizer's cell count scales with the corpus (Abbas et al. train
    k ~ n/target_cell_size clusters; a FIXED-k quantizer makes every
    cell grow with n and the op quadratic: measured 102 s with k=8 vs
    32 s with k=64 on the same 20k-vector sf1 corpus, SCALE.md r11).
    ``max_cell_pairs`` enforces this contract the same way the
    countjoin family's ``max_pairs`` does: the predicted
    sum(|cell|^2) is computed from a model-sized (k-row) aggregate of
    the already-persisted cell assignment BEFORE any pair shuffle
    runs, lands in ``report`` for observability, and the op REFUSES
    above the budget with retrain-the-quantizer guidance."""
    from nhs_data_pipeline_spark.llm import similarity as _sim

    cell_udf = _sim._make_cell_udf(centroids)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__cell", cell_udf(F.col("__v")))
    # eager materialization: cells feed both sides of the self-join and
    # the final anti-join; a lazy frame would recompute the assignment.
    # localCheckpoint, not persist (r12): base outlives the call — the
    # stable-plan-shape rule (audit-panel compile-storm lesson).
    base = base.localCheckpoint(eager=False)
    base.count()
    if report is not None or max_cell_pairs is not None:
        sizes = base.groupBy("__cell").count()
        cell_pairs = int(
            sizes.agg(
                F.coalesce(F.sum(F.col("count") * F.col("count")), F.lit(0))
            ).collect()[0][0]
        )
        if report is not None:
            report["cell_pairs"] = cell_pairs
        if max_cell_pairs is not None and cell_pairs > max_cell_pairs:
            raise ValueError(
                f"semantic_dedup: predicted within-cell pair volume "
                f"{cell_pairs} exceeds max_cell_pairs={max_cell_pairs}; "
                f"the quantizer's {len(centroids)} cells are too few "
                "for this corpus — retrain with k ~ n/target_cell_size "
                "centroids (cost is sum(|cell|^2)), or raise the budget"
            )
    a = base.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"), "__cell"
    )
    b = base.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), "__cell"
    )
    dropped = (
        a.join(b, "__cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__cos", _sim._cosine_pairs(F.col("__va"), F.col("__vb")))
        .filter(F.col("__cos") >= threshold)
        .select(F.col("id_b").alias("__id"))
        .distinct()
    )
    return base.join(dropped, "__id", "left_anti").select(
        F.col("__id").alias(id_col), F.col("__cell").alias("cell")
    )


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    val_fraction: float = 0.1,
    salt: str = "split",
    pairs: DataFrame | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Deterministic train/val split with near-duplicate leakage repair
    — the eval-integrity op of a training pipeline: a val document
    whose near-duplicate sits in train leaks the answer into training,
    silently inflating eval scores.

    Mechanics: every doc gets the portable md5-bucket split decision
    (``ops.sampling.hash_bucket`` — key-stable, engine-portable, no
    RNG state), then near-dup CLUSTERS are made split-coherent: a
    connected component of the near-dup graph (``pairs`` if given,
    else portable-mode ``minhash_lsh_pairs`` over ``df``) goes to val
    ONLY if every member was assigned val; otherwise the whole
    component goes to train. Component-level repair is required — the
    obvious one-hop rule (move leaky val docs to train) creates NEW
    leaks between a moved doc and its still-val neighbors, while a
    component can never straddle the split by construction.

    Scale shape: the split decision is a codegen'd scalar, the pair
    graph is the bounded LSH self-join, components are one driver-side
    union-find over the collected pairs, and the repair is one tiny
    per-component aggregate joined back — nothing new shuffles document
    text.

    Returns ``(id_col, split, reassigned)`` where ``reassigned`` marks
    docs assigned val but repaired into train (leak-driven moves).
    """
    from nhs_data_pipeline_spark.ops.graph import connected_components
    from nhs_data_pipeline_spark.ops.sampling import _BUCKETS, hash_bucket

    threshold = int(val_fraction * _BUCKETS)
    assigned = df.select(
        F.col(id_col),
        (hash_bucket(id_col, salt) < F.lit(threshold)).alias("__val"),
    )
    if pairs is None:
        pairs = minhash_lsh_pairs(
            df.select(id_col, text_col),
            text_col=text_col,
            id_col=id_col,
            **lsh_kwargs,
        )
    cc = connected_components(pairs, nodes=df, id_col=id_col).select(
        F.col("id").alias(id_col), "component"
    )
    labeled = assigned.join(cc, id_col)
    comp = labeled.groupBy("component").agg(
        F.min(F.col("__val").cast("int")).alias("__all_val")
    )
    return (
        labeled.join(comp, "component")
        .select(
            F.col(id_col),
            F.when(F.col("__all_val") == 1, F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
            (F.col("__val") & (F.col("__all_val") == 0))
            .cast("int")
            .alias("reassigned"),
        )
    )


def _bigram_tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Distinct word-bigram set per document: ``(doc_id, bg)``. NOT
    persisted: corpus-sized, and per-call persists of corpus-sized
    frames accumulate across long gate sessions (the lm/dsir lesson) —
    consumers recompute the narrow tokenize+distinct pass."""
    from nhs_data_pipeline_spark.llm.text import tokenized_frame

    base = tokenized_frame(df, text_col, id_col)
    bigrams = F.expr(
        "CASE WHEN size(__w) > 1 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "__bg -> concat(element_at(__w, __bg), ' ', element_at(__w, __bg + 1))) "
        "ELSE cast(array() AS array<string>) END"
    )
    return base.select("doc_id", F.explode(bigrams).alias("bg")).distinct()


def _countjoin_pair_volume(toks: DataFrame) -> int:
    """EXACT countjoin intermediate volume ``sum over tokens of
    C(df, 2)`` from one map-side-combinable aggregate over an
    (already persisted) token table — the look-before-you-shuffle
    probe of :func:`estimate_jaccard_join_modes`, extracted so the
    weighted/containment joins can report and budget-guard their
    quadratic candidate volume too (r8 judge ask)."""
    row = (
        toks.groupBy("bg")
        .agg(F.count("*").alias("__df"))
        .agg(
            F.sum(F.expr("__df * (__df - 1) div 2"))
            .cast("bigint")
            .alias("__cj")
        )
        .collect()[0]
    )
    return int(row["__cj"] or 0)


def _check_pair_budget(
    op: str, cj_pairs: int, max_pairs: int | None, report: dict | None
) -> None:
    """Shared refuse-above-budget guard for the countjoin family: the
    predicted C(df,2) volume lands in ``report`` for observability and
    the op REFUSES (before any shuffle runs) when a caller budget is
    exceeded — the diagnose_join_skew look-before-you-shuffle
    pattern."""
    if report is not None:
        report["cj_pairs"] = cj_pairs
    if max_pairs is not None and cj_pairs > max_pairs:
        raise ValueError(
            f"{op}: predicted countjoin candidate volume "
            f"{cj_pairs} pairs exceeds max_pairs={max_pairs}; "
            "shrink the corpus, raise the budget, or use the "
            "LSH family for unbounded corpora"
        )


def _cooccurrence_stage(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared persist + sizes + co-occurrence-intersection stage of the
    unweighted countjoin family (:func:`exact_jaccard_join`'s countjoin,
    :func:`ngram_overlap_scores` and :func:`containment_join` — one
    stage so the pair joins cannot drift): returns ``(toks, sized)``
    where ``toks`` is the PERSISTED distinct bigram table (the caller
    owns the release after materializing its result — the
    eager-persist/explicit-release countjoin pattern: unpersisted, the
    tokenize+distinct lineage runs three times, for the a side, the b
    side and the sizes; measured 8.3 s -> 3.9 s at sf0.1) and ``sized``
    is the per-co-occurring-pair frame ``(id_a, id_b, __i, __na,
    __nb)`` BEFORE any threshold predicate."""
    toks = _bigram_tokens(df, text_col, id_col).persist()
    toks.count()
    sz = toks.groupBy("doc_id").agg(F.count("*").alias("__sz"))
    a = toks.select(F.col("doc_id").alias("id_a"), "bg")
    b = toks.select(F.col("doc_id").alias("id_b"), "bg")
    inter = (
        a.join(b, "bg")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__i"))
    )
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("__sz").alias("__na"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("__sz").alias("__nb"))
    return toks, inter.join(sa, "id_a").join(sb, "id_b")


def ngram_overlap_scores(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Directional overlap metrics for every document pair whose
    word-bigram sets reach Jaccard >= ``threshold``: ``(id_a, id_b,
    inter, n_a, n_b, jaccard, containment, f1)``, id_a < id_b.

    Jaccard is symmetric and blind to DIRECTION: a 50-word quote fully
    embedded in a 5000-word page scores ~0.01 Jaccard but containment
    1.0 — the signal substring-style dedup policies act on. So beside
    the exact Jaccard this emits ``containment = i / min(n_a, n_b)``
    (how much of the SMALLER set the overlap covers) and the n-gram F1
    ``2i / (n_a + n_b)`` (the BLEU/ROUGE-style harmonic precision-
    recall summary for the pair).

    Physical plan is the dense-vocabulary co-occurrence count-join of
    :func:`exact_jaccard_join` (one bg-keyed self-join with map-side
    partial counts, then two size joins); the threshold keep decision
    is the same exact integer-fraction filter. Each metric is one IEEE
    division of exact integers rounded to 6 decimals (magnitude <= 1,
    where ROUND is engine-portable)."""
    from fractions import Fraction

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator

    # shared eager-persist + co-occurrence stage (release via the
    # materialized result — 2.15x measured on the countjoin)
    toks, sized = _cooccurrence_stage(df, text_col, id_col)
    i, na, nb = F.col("__i"), F.col("__na"), F.col("__nb")
    out = (
        sized.filter((F.lit(den) * i) >= (F.lit(num) * (na + nb - i)))
        .select(
            "id_a",
            "id_b",
            i.cast("bigint").alias("inter"),
            na.cast("bigint").alias("n_a"),
            nb.cast("bigint").alias("n_b"),
            F.round(i / (na + nb - i), 6).alias("jaccard"),
            F.round(i / F.least(na, nb), 6).alias("containment"),
            F.round(F.lit(2) * i / (na + nb), 6).alias("f1"),
        )
        .localCheckpoint(eager=False)
    )
    out.count()
    toks.unpersist()
    return out


def estimate_jaccard_join_modes(
    df: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    _toks: DataFrame | None = None,
) -> dict:
    """Cost estimates for :func:`exact_jaccard_join`'s two physical
    strategies, from one cheap token-frequency aggregate — never by
    running either join.

    - ``cj_pairs``: the countjoin's EXACT intermediate volume,
      sum over tokens of C(df, 2) — computable from the df histogram
      alone.
    - ``pf_pairs``: an estimate of the prefix mode's pre-filter
      candidate volume. Prefixes keep each doc's globally RAREST
      ``n - ceil(t*n) + 1`` tokens, so the total prefix-token budget
      ``P = sum_docs(n_i - exact_ceil(t*n_i) + 1)`` lands on the
      low-df end of the histogram: fill bins rarest-first until P
      occurrences are spent, summing C(df, 2) per filled token (the
      boundary bin scales by fill-fraction squared). NOT a bound in
      either direction (measured, r8 rehearsal): each DOC takes its
      own rarest tokens, which can have df >= 2 even when globally
      rarer tokens exist elsewhere — on a 50k-doc Zipfian corpus the
      fill predicted 0 while the actual prefix join carried 8,948
      rows. It is an ORDERING signal, and a reliable one: the same
      corpus had cj_pairs = 6.9e8, and the errors are orders of
      magnitude smaller than the gap the dispatch decision rides on.
      On Zipfian real-corpus vocabularies pf_pairs collapses far
      below cj_pairs (prefix measured 16x faster at 50k docs); on
      dense synthetic vocabularies it stays a large fraction of
      cj_pairs and countjoin wins.

    Scale shape: one (token -> df) aggregate, one TINY df-histogram
    aggregate (rows = distinct df values), one doc-size aggregate —
    all map-side-combinable; two scalar collects; no joins. The same
    shuffles the chosen mode pays anyway.
    """
    from fractions import Fraction

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator
    # both scalar aggregates below consume toks inside this call, so a
    # persist/release pair halves the tokenize+distinct work (r8);
    # auto-mode callers pass their already-persisted table via _toks
    # (and keep ownership of its release)
    own_toks = _toks is None
    if own_toks:
        toks = _bigram_tokens(df, text_col, id_col).persist()
        toks.count()
    else:
        toks = _toks
    prow = (
        toks.groupBy("doc_id")
        .agg(F.count("*").alias("__sz"))
        .agg(
            F.sum(
                F.col("__sz")
                - F.expr(f"({num} * __sz + {den} - 1) div {den}")
                + F.lit(1)
            ).alias("__P")
        )
        .collect()[0]
    )
    P = int(prow["__P"] or 0)
    # df histogram: rows = distinct df VALUES (bounded by max df, tiny
    # in practice), ordered ascending = rarest-first
    bins = (
        toks.groupBy("bg")
        .agg(F.count("*").alias("__df"))
        .groupBy("__df")
        .agg(F.count("*").alias("__ntok"))
        .orderBy("__df")
        .collect()
    )
    if own_toks:
        toks.unpersist()
    cj = 0
    pf = 0.0
    rem = P
    for r in bins:
        d, n = int(r["__df"]), int(r["__ntok"])
        token_pairs = d * (d - 1) // 2
        cj += n * token_pairs
        occ = d * n
        if rem >= occ:
            pf += n * token_pairs
            rem -= occ
        elif rem > 0:
            fill = rem / occ
            pf += n * token_pairs * fill * fill
            rem = 0
    return {"cj_pairs": cj, "pf_pairs": pf, "prefix_budget": P}


# Measured-crossover calibration (this host, local[32], sf0.1 dense
# synthetic vocabulary, r07 session): prefix's per-candidate cost
# (rank window + distinct + array-intersect verify) is ~6x countjoin's
# per-pair count cost. At pf/cj = 0.38 (t=0.6 dense) countjoin measured
# 2x faster (4.9 vs 9.8 s); at 0.19 (t=0.8 dense) they tie (4.1 vs
# 4.6 s) — so the wall-clock crossover sits near pf/cj ~ 1/6. Real
# sparse corpora land at pf/cj << 0.01 and dispatch to prefix
# decisively; the factor only arbitrates the dense middle.
_JACCARD_PREFIX_COST_FACTOR = 6


def exact_jaccard_join(
    df: DataFrame,
    threshold: float = 0.6,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "countjoin",
    report: dict | None = None,
) -> DataFrame:
    """EXACT set-similarity self-join: every pair of documents whose
    word-bigram SETS have Jaccard >= ``threshold``, with the exact
    similarity — the lossless counterpart to the approximate
    MinHash-LSH path. Returns ``(id_a, id_b, jaccard)``, id_a < id_b.
    ``threshold`` must be in (0, 1] (at 0 the contract would require
    non-co-occurring pairs, which no intersection-driven join emits).

    EVERY threshold decision is made in exact integer arithmetic on
    the decimal fraction num/den of ``threshold``: the prefix length
    uses the exact ceiling ``(num*n + den - 1) div den`` and the final
    filter is ``den*i >= num*(|A|+|B|-i)``. The float forms are traps
    the review caught: ``ceil(0.28 * 25)`` is 8 in IEEE doubles (exact
    7), silently shortening prefixes and LOSING qualifying pairs, and
    a float boundary compare can disagree with the prefix-length
    pigeonhole at J == t exactly.

    Two physical strategies, because the right plan depends on the
    VOCABULARY SHAPE (measured at sf0.1, 5000 docs x ~90 bigrams over
    a ~1k-bigram dense synthetic vocabulary):

    - ``mode="countjoin"`` (default): one co-occurrence count join —
      toks x toks on the bigram key (id_a < id_b), partial-aggregated
      into per-pair intersection counts, then one size join + the
      threshold filter. Intermediate volume is sum over tokens of
      df(token)^2 — on DENSE vocabularies (every token frequent) this
      is unavoidable and the columnar count-join is by far the
      fastest exact plan (4.5 s vs 172 s for prefix+array-verify on
      the same data).
    - ``mode="prefix"``: PPJoin-style prefix filtering (Xiao et al.,
      public): order each doc's bigrams rarest-first (by global
      (frequency, bigram) — joined per-token, never a global rank
      window) and keep the first ``n - exact_ceil(t*n) + 1`` as its
      prefix; two sets with Jaccard >= t MUST share a prefix token
      (pigeonhole), so only prefixes candidate-join, then survivors
      verify with one array intersection. Wins on SPARSE vocabularies
      (real corpora); on dense ones the prefixes stay frequent and
      verification drowns — hence not the default here.
    - ``mode="auto"``: dispatch between the two from
      :func:`estimate_jaccard_join_modes` (the measured-crossover
      dispatcher pattern of ``llm/similarity.choose_topk``): prefix
      when ``pf_pairs * _JACCARD_PREFIX_COST_FACTOR < cj_pairs``,
      else countjoin. Both modes are lossless, so the choice affects
      ONLY the physical plan — results (and any oracle) are identical
      either way. ``report`` (optional dict) receives
      {mode, cj_pairs, pf_pairs, prefix_budget} for observability.

    Determinism: all decisions are integer-exact; the reported
    similarity is one IEEE division on identical integers, rounded to
    6 decimals — the kept pair set and values replay exactly
    cross-engine.
    """
    from fractions import Fraction

    from nhs_data_pipeline_spark.llm.text import tokenized_frame

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if mode not in ("countjoin", "prefix", "auto"):
        raise ValueError(f"unknown mode {mode!r}")
    if mode == "auto":
        # persist toks BEFORE the estimate so the dispatch aggregates
        # and the chosen join share one tokenize+distinct computation
        # (the branch below re-persists the same plan — a no-op — and
        # owns the release)
        _shared_toks = _bigram_tokens(df, text_col, id_col).persist()
        _shared_toks.count()
        est = estimate_jaccard_join_modes(
            df, threshold, text_col, id_col, _toks=_shared_toks
        )
        mode = (
            "prefix"
            if est["pf_pairs"] * _JACCARD_PREFIX_COST_FACTOR
            < est["cj_pairs"]
            else "countjoin"
        )
        if report is not None:
            report.update(est)
            report["mode"] = mode
    elif report is not None:
        report["mode"] = mode
    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator

    def _keep(i_col, na_col, nb_col):
        return (F.lit(den) * i_col) >= (F.lit(num) * (na_col + nb_col - i_col))

    if mode == "countjoin":
        # the shared co-occurrence stage persists the token table and
        # this branch releases it once the result is materialized
        toks, sized = _cooccurrence_stage(df, text_col, id_col)
        jac = F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i"))
        out = (
            sized.filter(_keep(F.col("__i"), F.col("__na"), F.col("__nb")))
            .select(
                "id_a", "id_b",
                # portable floor-round (repo rule): three IEEE ops
                # spelled identically in the DuckDB oracle, never
                # library ROUND (F.round is BigDecimal HALF_UP,
                # DuckDB rounds in floats)
                (F.floor(jac * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
                .alias("jaccard"),
            )
            .localCheckpoint(eager=False)
        )
        out.count()
        toks.unpersist()
        return out

    # eager persist + explicit release (the countjoin pattern): the
    # prefix path otherwise recomputes the tokenize+distinct lineage
    # for sizes, freq, the prefix build, and the verify sets
    toks = _bigram_tokens(df, text_col, id_col).persist()
    toks.count()
    sz = toks.groupBy("doc_id").agg(F.count("*").alias("__sz"))
    freq = toks.groupBy("bg").agg(F.count("*").alias("__n"))
    prefix = (
        toks.join(freq, "bg")
        .join(sz, "doc_id")
        .withColumn(
            "__p",
            F.col("__sz")
            - F.expr(f"({num} * __sz + {den} - 1) div {den}")
            + F.lit(1),
        )
        .withColumn(
            "__rk",
            F.row_number().over(
                # rarest-first directly on (global frequency, bigram):
                # strictly monotone in the old global rank, with no
                # single-partition vocabulary window
                Window.partitionBy("doc_id").orderBy(
                    F.asc("__n"), F.asc("bg")
                )
            ),
        )
        .filter(F.col("__rk") <= F.col("__p"))
        .select("doc_id", "bg", "__sz", "__rk")
        # eager: a lazy self-join would race its two scans through the
        # whole lineage (the measured 2x trap)
        .persist()
    )
    prefix.count()
    a = prefix.select(
        F.col("doc_id").alias("id_a"),
        "bg",
        F.col("__sz").alias("__sza"),
        F.col("__rk").alias("__rka"),
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"),
        "bg",
        F.col("__sz").alias("__szb"),
        F.col("__rk").alias("__rkb"),
    )
    # PPJoin length filter (lossless): J(A,B) <= min/max of the set
    # sizes, so den*min >= num*max is NECESSARY for J >= t — pruned
    # inside the candidate join, BEFORE the distinct shuffle and the
    # array-intersect verify ever see the pair
    len_ok = F.lit(den) * F.least("__sza", "__szb") >= F.lit(num) * F.greatest(
        "__sza", "__szb"
    )
    # PPJoin POSITIONAL filter (lossless): for the FIRST common token
    # (global rarest-first order) at positions pa/pb, every other
    # common token sits after it in both lists, so the true overlap o
    # satisfies o <= 1 + min(na - pa, nb - pb); J >= t requires
    # (den + num) * o >= num * (na + nb). Filtering each matched row
    # and OR-keeping via the distinct is conservative-lossless: a
    # qualifying pair's first-common-token row always passes. On the
    # self-similar synthetic corpus this cuts the candidate set ~7x
    # (1.50M -> 0.21M at t=0.8), which is where the verify cost and
    # its run-to-run variance lived.
    pos_ok = F.lit(den + num) * (
        F.lit(1)
        + F.least(
            F.col("__sza") - F.col("__rka"), F.col("__szb") - F.col("__rkb")
        )
    ) >= F.lit(num) * (F.col("__sza") + F.col("__szb"))
    cand = (
        a.join(b, "bg")
        .filter((F.col("id_a") < F.col("id_b")) & len_ok & pos_ok)
        .select("id_a", "id_b")
        .distinct()
        # truncate to the (bounded) candidate table so the prefix
        # cache can be released before returning — a per-call
        # corpus-fraction cache must not outlive the call
        .localCheckpoint(eager=False)
    )
    cand.count()
    prefix.unpersist()
    # verify-shape note (r10, measured at sf0.1 t=0.8 on calm host):
    # this UNWEIGHTED path keeps the array-intersect verify — its
    # ~210k post-filter candidates re-scanning the token stream via
    # the co-occurrence shape measured 12.6-14.7 s vs 6.6-8.3 s for
    # the array verify, the OPPOSITE of the weighted variant (~40k
    # candidates, where co-occurrence won 6.2 s vs 9.8 s). The
    # crossover is candidate volume x doc length: low-candidate
    # strict-threshold runs favor co-occurrence, high-candidate runs
    # favor one array ship per pair.
    #
    # r11 (guide §2.3 narrower types): intersect dense INTEGER token
    # ids, never the bigram strings. array_intersect over string
    # arrays builds a per-ROW hash set of UTF8Strings (jstack during
    # the slow stage: SQLOpenHashSet init/rehash +
    # PhysicalDataType.apply + Murmur3 hashUnsafeBytes per element),
    # and the expression recurs in the filter and the jaccard
    # projection — measured 42.8-246.6 s for the verify alone on the
    # r11-regenerated corpus (667,400 post-filter candidates).
    # Mapping each bigram to its dense vocabulary ordinal first
    # (row_number over the ALREADY-AGGREGATED freq table — the same
    # table the prefix build broadcasts, so the single-partition
    # vocabulary sort adds no new memory assumption) makes the
    # intersect a primitive-int set probe: 5.3-13.8 s, identical pair
    # set and jaccard values (hash-sum verified; the bg -> ordinal
    # map is a bijection, so set sizes and intersections are
    # preserved exactly).
    vid = freq.withColumn(
        "__vid", F.row_number().over(Window.orderBy("bg"))
    ).select("bg", "__vid")
    sets = (
        toks.join(F.broadcast(vid), "bg")
        .groupBy("doc_id")
        .agg(F.collect_set("__vid").alias("__S"), F.count("*").alias("__n"))
    )
    sa = sets.select(
        F.col("doc_id").alias("id_a"),
        F.col("__S").alias("__Sa"),
        F.col("__n").alias("__na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("id_b"),
        F.col("__S").alias("__Sb"),
        F.col("__n").alias("__nb"),
    )
    inter = F.size(F.array_intersect("__Sa", "__Sb"))
    jac = inter / (F.col("__na") + F.col("__nb") - inter)
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(_keep(inter, F.col("__na"), F.col("__nb")))
        .select(
                "id_a", "id_b",
                # portable floor-round (repo rule): three IEEE ops
                # spelled identically in the DuckDB oracle, never
                # library ROUND (F.round is BigDecimal HALF_UP,
                # DuckDB rounds in floats)
                (F.floor(jac * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
                .alias("jaccard"),
            )
        .localCheckpoint(eager=False)
    )
    out.count()
    toks.unpersist()
    return out


def containment_join(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    report: dict | None = None,
    max_pairs: int | None = None,
) -> DataFrame:
    """EXACT overlap-coefficient self-join: every document pair whose
    word-bigram sets satisfy ``|A ∩ B| / min(|A|, |B|) >= threshold``
    — the ASYMMETRIC near-dup detector Jaccard misses: a short doc
    wholly contained in a long one (quote farms, boilerplate wrappers,
    truncated duplicates) scores overlap 1.0 but arbitrarily low
    Jaccard as the long side grows.  Returns
    ``(id_a, id_b, overlap, cont_a, cont_b)``, id_a < id_b, where
    ``cont_a = |A∩B|/|A|`` (how much of A sits inside B) and vice
    versa — the directional signals a dedup policy keeps/drops on.

    Same co-occurrence count-join shape (and Σ df(token)² cost model)
    as :func:`exact_jaccard_join` mode='countjoin': intersections are
    computed ONLY for co-occurring pairs, the threshold decision is
    exact integer arithmetic (``den*i >= num*least(na, nb)`` on the
    rationalized threshold — never a float boundary), and the three
    reported ratios are single IEEE divisions floor-rounded to 6
    decimals — the pair set and values replay exactly cross-engine.

    ``report`` (optional dict) receives the predicted countjoin
    candidate volume ``cj_pairs`` (exact, from the token df histogram,
    BEFORE the join runs); ``max_pairs`` is a refuse-above budget — the
    op raises instead of shuffling a flood (the
    look-before-you-shuffle pattern; prefix filtering has no analogue
    for the overlap coefficient: J >= t bounds size RATIOS via the
    pigeonhole, overlap does not, so the guard is the honest tool).
    """
    from fractions import Fraction

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    frac = Fraction(str(threshold))
    num, den = frac.numerator, frac.denominator

    toks, sized = _cooccurrence_stage(df, text_col, id_col)
    if report is not None or max_pairs is not None:
        try:
            _check_pair_budget(
                "containment_join",
                _countjoin_pair_volume(toks),
                max_pairs,
                report,
            )
        except ValueError:
            toks.unpersist()
            raise

    def _r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    out = (
        sized.filter(
            (F.lit(den) * F.col("__i"))
            >= (F.lit(num) * F.least(F.col("__na"), F.col("__nb")))
        )
        .select(
            "id_a",
            "id_b",
            _r6(F.col("__i") / F.least(F.col("__na"), F.col("__nb"))).alias(
                "overlap"
            ),
            _r6(F.col("__i") / F.col("__na")).alias("cont_a"),
            _r6(F.col("__i") / F.col("__nb")).alias("cont_b"),
        )
        .localCheckpoint(eager=False)
    )
    out.count()
    toks.unpersist()
    return out


def weighted_jaccard_join(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    idf_scale: int = 1000,
    report: dict | None = None,
    max_pairs: int | None = None,
    mode: str = "countjoin",
) -> DataFrame:
    """EXACT IDF-weighted set-similarity self-join: every document
    pair whose word-bigram sets reach weighted Jaccard >= ``threshold``
    under inverse-document-frequency token weights,

        J_w(A, B) = sum_{t in A&B} w(t) / sum_{t in A|B} w(t),
        w(t) = (N_docs * idf_scale) div df(t)

    — the near-dup variant that DOWN-WEIGHTS boilerplate: two docs
    sharing only ubiquitous navigation/footer bigrams (df ~ N, w ~
    idf_scale) no longer pass a threshold that genuinely-shared rare
    content (w ~ N * idf_scale) clears. Returns ``(id_a, id_b,
    wjaccard)``, id_a < id_b.

    Exactness: the weight is a pure INTEGER floor division — no ln(),
    so no transcendental quantization risk anywhere (the ln-based IDF
    differs by ulps between libms; the reciprocal-frequency weight is
    the same monotone rarity ranking with none of that) — and the
    threshold filter is the exact integer cross-multiplication
    ``den * inter_w >= num * (wa + wb - inter_w)`` on the decimal
    fraction num/den. The reported similarity is one IEEE division +
    the portable floor-round.

    Scale shape: the dense-safe countjoin (exact_jaccard_join's
    default physical strategy) with the weight joined per-token: one
    (token -> df) aggregate broadcast-joined onto the token stream,
    per-doc total weights, one co-occurrence join partial-aggregated
    into per-pair intersection weight. Volume is sum over tokens of
    C(df,2) — the documented dense-vocabulary cost model.

    Two physical strategies (r9 — the "weighted prefix filtering is
    hard" deferral is now closed), dispatched like
    :func:`exact_jaccard_join`:

    - ``mode="countjoin"`` (default): the co-occurrence count join
      with the weight joined from a broadcast probe — volume is the
      documented sum-of-C(df,2) model; right on dense vocabularies.
    - ``mode="prefix"``: WEIGHTED PPJoin prefix filtering. Tokens
      order globally rarest-first (weight DESC == df ASC, then token);
      a doc's prefix is the MINIMAL head such that the remaining
      suffix weight drops below ``t * w(doc)`` — if a qualifying pair
      shared no prefix token of A, then ``w(∩) <= w(suffix(A)) <
      t*w(A) <= t*w(A∪B)``, contradiction (the weighted pigeonhole).
      Every prefix-boundary decision is the exact integer comparison
      ``den*(W - cum_prev) >= num*W``. Candidates add the lossless
      weighted length filter (``den*min(WA,WB) >= num*max(WA,WB)``)
      and the weighted positional filter (first-common-token bound
      ``(den+num)*(w0 + min(suffix_a, suffix_b)) >= num*(WA+WB)``),
      then verify with the exact intersection weight via the
      CO-OCCURRENCE shape (r10): candidates broadcast onto the token
      stream, ``sum(w)`` partial-aggregates per pair map-side —
      never a per-pair array re-ship. Measured funnel (sf0.1, t=0.8,
      30% sample): 373,614 predicted -> 133,442 post-length ->
      44,779 post-positional -> 40,109 distinct -> 2 verified;
      end-to-end 9.8 s -> 6.2 s vs the struct-array verify. Wins on
      sparse vocabularies exactly like the unweighted prefix mode.
    - ``mode="auto"``: the prefix table is built (join-free window
      pass), its EXACT pre-filter candidate volume ``sum over tokens
      of C(prefix_df, 2)`` is measured from one aggregate, and the
      measured crossover factor arbitrates vs ``cj_pairs`` — a
      sharper dispatch than the unweighted fill heuristic because the
      weighted prefix volume is exact, not estimated.

    Both modes are lossless — results (and the oracle) are identical.
    ``report`` receives {mode, cj_pairs[, pf_pairs]}; ``max_pairs``
    refuses above budget on the CHOSEN mode's predicted volume before
    any pair shuffle runs."""
    from fractions import Fraction

    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if mode not in ("countjoin", "prefix", "auto"):
        raise ValueError(f"unknown mode {mode!r}")
    fr = Fraction(str(threshold))
    num, den = fr.numerator, fr.denominator

    # eager persist + explicit release via the materialized result (the
    # countjoin pattern above): freq, the co-occurrence sides, and the
    # per-doc totals otherwise each recompute the tokenize+distinct
    # lineage
    toks = _bigram_tokens(df, text_col, id_col).persist()
    toks.count()
    # N as a plan-side scalar (broadcast cross), never a driver literal
    # — the repo's scalar-aggregate rule: the oracle derives N the same
    # way, and no extra driver action runs
    # count(doc_id), not count(*): DISTINCT keeps a NULL id row but the
    # DuckDB oracle's COUNT(DISTINCT doc_id) excludes it — counting the
    # column drops NULLs on both engines identically (r8 ADVICE fix)
    nd = df.select(F.col(id_col).alias("doc_id")).distinct().agg(
        F.count("doc_id").cast("bigint").alias("__nd")
    )
    freq = toks.groupBy("bg").agg(F.count("*").alias("__df"))
    # vocabulary-sized weight PROBE table, broadcast: the co-occurrence
    # join runs on the BARE (doc, bg) sides (the fast exact-countjoin
    # shape) and every matched row picks its weight from the broadcast
    # probe — r8 restructure: joining freq onto the token stream BEFORE
    # the self-join dragged the weight lineage through one join side
    # and, with cached stats, flipped the 36M-row co-occurrence into a
    # broadcast build (measured 24 s); this shape measures 6.8-8.2 s
    # with identical integer weights
    w_bg = freq.crossJoin(F.broadcast(nd)).select(
        "bg", F.expr(f"__nd * {idf_scale} div __df").alias("__w")
    )
    wsz = toks.join(F.broadcast(w_bg), "bg").groupBy("doc_id").agg(
        F.sum("__w").alias("__wt")
    )

    def _release_and_raise(e: Exception) -> None:
        toks.unpersist()
        raise e

    prefix = None
    if mode in ("prefix", "auto"):
        # weighted prefix table: global rarest-first order (weight
        # DESC == df ASC, tie token ASC), cumulative weights, the
        # exact integer boundary keep den*(W - cum_prev) >= num*W.
        # The per-doc TOTAL rides the same window partition as a
        # full-frame sum (one exchange+sort serves both) instead of a
        # wsz join — the r10 funnel A/B measured the join variant at
        # 9.8 s end-to-end vs 6.2 s for this shape.
        wt = (
            toks.join(F.broadcast(w_bg), "bg")
            .withColumn(
                "__cw",
                F.sum("__w").over(
                    Window.partitionBy("doc_id")
                    .orderBy(F.desc("__w"), F.asc("bg"))
                    .rowsBetween(Window.unboundedPreceding, 0)
                ),
            )
            .withColumn(
                "__wt",
                F.sum("__w").over(
                    Window.partitionBy("doc_id").rowsBetween(
                        Window.unboundedPreceding,
                        Window.unboundedFollowing,
                    )
                ),
            )
        )
        prefix = (
            wt.filter(
                F.lit(den) * (F.col("__wt") - (F.col("__cw") - F.col("__w")))
                >= F.lit(num) * F.col("__wt")
            )
            .select("doc_id", "bg", "__w", "__wt", "__cw")
            # eager: a lazy self-join would race its two scans through
            # the whole lineage (the measured 2x trap)
            .persist()
        )
        prefix.count()
    if mode == "auto":
        cj = _countjoin_pair_volume(toks)
        pfrow = (
            prefix.groupBy("bg")
            .agg(F.count("*").alias("__pdf"))
            .agg(
                F.sum(F.expr("__pdf * (__pdf - 1) div 2"))
                .cast("bigint")
                .alias("__p")
            )
            .collect()[0]
        )
        pf = int(pfrow["__p"] or 0)
        mode = (
            "prefix" if pf * _JACCARD_PREFIX_COST_FACTOR < cj
            else "countjoin"
        )
        if report is not None:
            report.update(cj_pairs=cj, pf_pairs=pf, mode=mode)
        if max_pairs is not None:
            vol = pf if mode == "prefix" else cj
            if vol > max_pairs:
                prefix.unpersist()
                _release_and_raise(ValueError(
                    f"weighted_jaccard_join: predicted {mode} candidate "
                    f"volume {vol} pairs exceeds max_pairs={max_pairs}"
                ))
        if mode == "countjoin":
            prefix.unpersist()
            prefix = None
    elif report is not None or max_pairs is not None:
        if mode == "countjoin":
            try:
                _check_pair_budget(
                    "weighted_jaccard_join",
                    _countjoin_pair_volume(toks),
                    max_pairs,
                    report,
                )
            except ValueError as e:
                _release_and_raise(e)
        else:
            pfrow = (
                prefix.groupBy("bg")
                .agg(F.count("*").alias("__pdf"))
                .agg(
                    F.sum(F.expr("__pdf * (__pdf - 1) div 2"))
                    .cast("bigint")
                    .alias("__p")
                )
                .collect()[0]
            )
            pf = int(pfrow["__p"] or 0)
            if report is not None:
                report["pf_pairs"] = pf
            if max_pairs is not None and pf > max_pairs:
                prefix.unpersist()
                _release_and_raise(ValueError(
                    f"weighted_jaccard_join: predicted prefix candidate "
                    f"volume {pf} pairs exceeds max_pairs={max_pairs}"
                ))
        if report is not None:
            report["mode"] = mode

    if mode == "countjoin":
        # r12 (guide §2.3 narrower types; the §11 dense-ordinal lesson
        # propagated): the co-occurrence self-join ran on STRING bigram
        # keys and then probed the broadcast weight table once per
        # co-occurrence ROW — at the regenerated corpus that is ~36.5M
        # UTF8String hash probes plus string sort-merge compares, and
        # it measured 11.4 s in-suite (exact_jaccard's identical-volume
        # unweighted countjoin: 1.9 s). Map each bigram to its dense
        # vocabulary ordinal ONCE (row_number over the aggregated freq
        # table — vocabulary-sized, audited in tests/test_plans.py
        # unpart_ok), attach the integer weight in the same probe, and
        # materialize (doc, vid, w) via localCheckpoint: strings are
        # touched exactly once, the self-join keys/compares are
        # primitive ints, and the weight rides the build side instead
        # of a per-row broadcast probe. Bijection bg <-> vid preserves
        # every set and weight exactly — pair set and wjaccard values
        # are bit-identical (oracle unchanged).
        vid = freq.crossJoin(F.broadcast(nd)).select(
            "bg",
            F.row_number().over(Window.orderBy("bg")).alias("__vid"),
            F.expr(f"__nd * {idf_scale} div __df").alias("__w"),
        )
        # persist, not checkpoint: itoks is released IN-CALL (below),
        # so it cannot leak across calls, and the cached stats let the
        # planner keep the stats-driven broadcast of the probe side of
        # the self-join at gate scale while falling back to SMJ at
        # cluster scale (an explicit hint here would FORCE a
        # corpus-sized broadcast at 100 TB — the r11 ADVICE trap; a
        # checkpoint's missing stats forced SMJ and measured 2x slower,
        # 5.7 -> 11.7 s on the inter stage alone)
        itoks = (
            toks.join(F.broadcast(vid), "bg")
            .select("doc_id", "__vid", "__w")
            .persist()
        )
        itoks.count()
        a = itoks.select(F.col("doc_id").alias("id_a"), "__vid", "__w")
        b = itoks.select(F.col("doc_id").alias("id_b"), "__vid")
        inter = (
            a.join(b, "__vid")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.sum("__w").alias("__iw"))
        )
        wsz_i = itoks.groupBy("doc_id").agg(F.sum("__w").alias("__wt"))
        sa = wsz_i.select(
            F.col("doc_id").alias("id_a"), F.col("__wt").alias("__wa")
        )
        sb = wsz_i.select(
            F.col("doc_id").alias("id_b"), F.col("__wt").alias("__wb")
        )
        union_w = F.col("__wa") + F.col("__wb") - F.col("__iw")
        wjac = F.col("__iw") / union_w
        out = (
            inter.join(sa, "id_a")
            .join(sb, "id_b")
            .filter((F.lit(den) * F.col("__iw")) >= (F.lit(num) * union_w))
            .select(
                "id_a",
                "id_b",
                (F.floor(wjac * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6))
                .alias("wjaccard"),
            )
            .localCheckpoint(eager=False)
        )
        out.count()
        itoks.unpersist()
        toks.unpersist()
        return out

    # prefix mode: candidate join on prefix tokens with the weighted
    # length + positional filters, then exact set-intersection verify
    a = prefix.select(
        F.col("doc_id").alias("id_a"),
        "bg",
        F.col("__w").alias("__w0a"),
        F.col("__wt").alias("__Wa"),
        F.col("__cw").alias("__cwa"),
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"),
        "bg",
        F.col("__wt").alias("__Wb"),
        F.col("__cw").alias("__cwb"),
    )
    len_ok = F.lit(den) * F.least("__Wa", "__Wb") >= F.lit(num) * F.greatest(
        "__Wa", "__Wb"
    )
    # first-common-token bound: shared weight <= w(token) +
    # min(remaining suffix weight on either side)
    pos_ok = F.lit(den + num) * (
        F.col("__w0a")
        + F.least(
            F.col("__Wa") - F.col("__cwa"), F.col("__Wb") - F.col("__cwb")
        )
    ) >= F.lit(num) * (F.col("__Wa") + F.col("__Wb"))
    cand = (
        a.join(b, "bg")
        .filter((F.col("id_a") < F.col("id_b")) & len_ok & pos_ok)
        .select("id_a", "id_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand.count()
    prefix.unpersist()
    # co-occurrence verify (r10 — replaces the struct-array intersect):
    # candidates broadcast onto the token stream, the intersection
    # weight partial-aggregates map-side per pair — the old shape
    # collect_set the FULL corpus into per-doc struct arrays and
    # re-shipped each doc's array once per pair it appeared in
    # (measured funnel at sf0.1, t=0.8, 30% sample: 373,614 predicted
    # -> 133,442 post-length -> 44,779 post-positional -> 40,109
    # distinct candidates -> 2 verified; array verify 4.7 s vs 3.2 s
    # for this shape, 9.8 s -> 6.2 s end-to-end). The broadcast is
    # safe BY CONTRACT: candidate volume is exactly what ``max_pairs``
    # budget-guards before this stage runs — a caller that skips the
    # guard accepts pair-table-sized broadcasts.
    ta = toks.join(F.broadcast(w_bg), "bg").select(
        F.col("doc_id").alias("id_a"), "bg", "__w"
    )
    tb = toks.select(F.col("doc_id").alias("id_b"), "bg")
    inter = (
        F.broadcast(cand)
        .join(ta, "id_a")
        .join(tb, ["id_b", "bg"])
        .groupBy("id_a", "id_b")
        .agg(F.sum("__w").alias("__iw"))
    )
    wa = wsz.select(
        F.col("doc_id").alias("id_a"), F.col("__wt").alias("__wa")
    )
    wb = wsz.select(
        F.col("doc_id").alias("id_b"), F.col("__wt").alias("__wb")
    )
    union_w = F.col("__wa") + F.col("__wb") - F.col("__iw")
    out = (
        inter.join(wa, "id_a")
        .join(wb, "id_b")
        .filter((F.lit(den) * F.col("__iw")) >= (F.lit(num) * union_w))
        .select(
            "id_a",
            "id_b",
            (
                F.floor(
                    F.col("__iw") / union_w * F.lit(1e6) + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("wjaccard"),
        )
        .localCheckpoint(eager=False)
    )
    out.count()
    toks.unpersist()
    return out


def ngram_novelty_by_source(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source n-gram novelty profile: for each document, the
    fraction of its distinct word-bigrams that occur NOWHERE else in
    the corpus, rolled up per source — the memorization-risk /
    templating diagnostic (a source whose docs are mostly
    corpus-unique bigrams contributes fresh text; one near zero is
    recombining boilerplate the dedup family should look harder at).
    Returns ``(source, n_docs, mean_novelty, singleton_share)`` where
    ``singleton_share`` is the token-weighted variant
    ``sum(unique)/sum(total)``.

    Exactness: per-doc ratios are exact integer divisions
    (``u * 1e6 div n``), the mean is one division of their exact
    integer sum, and the share is one division of two exact sums —
    no float accumulation (the fixed-resolution-weights rule: never
    average pre-rounded floats, sum integers and divide once).

    100 TB shape: tokenize once, ONE (bg -> df) aggregate joined back
    on the bigram key (corpus x vocabulary — co-partitioned shuffle),
    one doc-keyed aggregate, one source-keyed rollup. Docs with fewer
    than two words have no bigrams and drop (documented)."""
    toks = _bigram_tokens(df, text_col, id_col)
    freq = toks.groupBy("bg").agg(F.count("*").alias("__df"))
    per_doc = (
        toks.join(freq, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("__n"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("__u"),
        )
        .select(
            "doc_id",
            "__n",
            "__u",
            F.expr("(__u * 1000000) div __n").alias("__rm"),
        )
    )
    src = df.select(F.col(id_col).alias("doc_id"), F.col(source_col))
    return (
        src.join(per_doc, "doc_id")
        .groupBy(source_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.expr(
                "floor(cast(sum(__rm) as double)"
                " / cast(count(*) as double) + 0.5) / 1e6"
            ).alias("mean_novelty"),
            F.expr(
                "floor(cast(sum(__u) as double)"
                " / cast(sum(__n) as double) * 1e6 + 0.5) / 1e6"
            ).alias("singleton_share"),
        )
    )
