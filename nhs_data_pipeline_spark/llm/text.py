"""Text analysis columns for a training-data pipeline.

Token counting, quality scoring, language ID, and document
fingerprinting as *native* column expressions (JVM-side, codegen'd) —
at 100 TB these run inside the parquet scan stage with zero shuffles.

Each expression is written to be exactly reproducible in ANSI SQL (the
DuckDB oracle): same tokenizer (whitespace split), same word-boundary
regexes, same edge-case handling for empty strings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text; NULL for NULL.

    Counts NON-EMPTY split pieces rather than trimming first: SQL
    ``trim`` (Spark and DuckDB alike) strips only SPACES, so a doc
    with a leading/trailing newline or tab kept phantom empty-string
    tokens under the old trim-then-split form ("\\nfoo" counted 2 —
    the r06 hypothesis fuzzer's catch). The filter form is exact for
    every whitespace shape and needs no blank-text special case."""
    return F.size(F.filter(F.split(_c(text), r"\s+"), lambda w: w != ""))


def char_count(text: Column | str) -> Column:
    return F.length(_c(text))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars; NULL on empty text."""
    t = _c(text)
    n = F.length(t)
    p = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0))
    return F.when(n == 0, F.lit(None)).otherwise(p.cast("double") / n)


# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language ID. Deliberately small + word-boundary anchored so
# the same pattern runs identically under Java regex and RE2 (DuckDB).
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|to|is|in|that|for|with)\b",
    "fr": r"\b(le|la|les|et|des|une|est|dans|pour)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|zu)\b",
    "es": r"\b(el|los|las|una|es|en|que|por|con)\b",
}


def stopword_hits(text: Column | str, pattern: str) -> Column:
    """Count of marker-word occurrences (lower-cased match)."""
    return F.size(F.regexp_extract_all(F.lower(_c(text)), F.lit(pattern), 0))


def stopword_ratio(text: Column | str, pattern: str = LANG_MARKERS["en"]) -> Column:
    """Marker-stopword hits / token count; NULL for empty text."""
    n = token_count(text)
    return F.when(n == 0, F.lit(None)).otherwise(
        stopword_hits(text, pattern).cast("double") / n
    )


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language marker hits, ties
    broken by language code order; NULL when no marker hits at all."""
    t = _c(text)
    hits = {lang: stopword_hits(t, pat) for lang, pat in LANG_MARKERS.items()}
    best = None
    best_hits = None
    for lang in sorted(LANG_MARKERS):  # deterministic tie order
        h = hits[lang]
        if best is None:
            best, best_hits = F.lit(lang), h
        else:
            cond = h > best_hits
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_hits = F.when(cond, h).otherwise(best_hits)
    return F.when(best_hits > 0, best)


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length sweet-spot x (1 - punct
    excess) x stopword presence. A cheap filterable signal, not a model.
    All terms SQL-expressible for the oracle."""
    n_tok = token_count(text)
    len_term = F.least(n_tok.cast("double") / 20.0, F.lit(1.0))
    punct = F.coalesce(punct_ratio(text), F.lit(0.0))
    punct_term = F.greatest(F.lit(0.0), 1.0 - 2.0 * punct)
    stop_term = F.least(
        F.coalesce(stopword_ratio(text), F.lit(0.0)) * 4.0, F.lit(1.0)
    )
    return F.round(len_term * punct_term * (0.5 + 0.5 * stop_term), 6)


# The 8 canonical Gopher stop words (Rae et al. 2021, A1.1): a doc
# must contain at least 2 DISTINCT ones to pass the stop-word rule.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher quality-filter rule panel (Rae et al. 2021, Appendix
    A1.1 — the published ruleset most open-data pipelines start from):
    per-document integer 0/1 flags for each rule plus the conjunction.

    Rules (standard thresholds, exact INTEGER comparisons only — a
    float ratio-vs-threshold compare can coin-flip between engines at
    boundary docs, so every decision is cross-multiplied):

    - ``ok_word_count``   : word count in [min_words, max_words]
    - ``ok_mean_word_len``: mean word length in [3, 10]
                            (``3*n <= sum_len AND sum_len <= 10*n``)
    - ``ok_symbol_ratio`` : (# + ellipsis) / words <= 0.1
    - ``ok_bullet_ratio`` : lines starting with a bullet <= 90%
    - ``ok_ellipsis_line``: lines ending with '...' <= 30%
    - ``ok_alpha_words``  : words containing a letter >= 80%
    - ``ok_stopwords``    : >= 2 distinct Gopher stop words present
    - ``pass_gopher``     : AND of all seven

    Everything is a native column expression over one projection —
    at 100 TB this runs inside the parquet scan stage, zero shuffles,
    and each rule is reproducible in ANSI SQL for the oracle (same
    whitespace tokenizer, same regexes). Word-length sum is computed
    as ``length(regexp_replace(text, '\\s', ''))`` — total non-space
    chars — which equals the sum over words without a lambda fold.
    NULL text is treated as the empty string (flags still total)."""
    t = F.coalesce(_c(text_col), F.lit(""))
    # non-empty split pieces, NOT trim-then-split: trim strips only
    # SPACES, so "\nfoo" would keep a phantom '' word (fuzzer catch)
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    lines = F.split(t, "\n")
    n_words = F.size(words).cast("bigint")
    sum_len = F.length(F.regexp_replace(t, r"\s", "")).cast("bigint")
    n_alpha = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("bigint")
    n_symbols = F.size(
        F.regexp_extract_all(t, F.lit(r"#|\.\.\."), 0)
    ).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    n_bullet = F.size(
        F.filter(lines, lambda ln: F.ltrim(ln).rlike("^[-*•]"))
    ).cast("bigint")
    n_ell = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).rlike(r"\.\.\.$"))
    ).cast("bigint")
    low = F.lower(t)
    n_stop = sum(
        F.when(low.rlike(rf"\b{w}\b"), 1).otherwise(0)
        for w in GOPHER_STOPWORDS
    ).cast("bigint")
    flags = {
        "ok_word_count": n_words.between(min_words, max_words),
        "ok_mean_word_len": (3 * n_words <= sum_len) & (sum_len <= 10 * n_words),
        "ok_symbol_ratio": 10 * n_symbols <= n_words,
        "ok_bullet_ratio": 10 * n_bullet <= 9 * n_lines,
        "ok_ellipsis_line": 10 * n_ell <= 3 * n_lines,
        "ok_alpha_words": 5 * n_alpha >= 4 * n_words,
        "ok_stopwords": n_stop >= 2,
    }
    cols = [F.col(id_col), n_words.alias("n_words")]
    passing = F.lit(True)
    for name, cond in flags.items():
        cols.append(cond.cast("int").alias(name))
        passing = passing & cond
    cols.append(passing.cast("int").alias("pass_gopher"))
    return df.select(*cols)


def c4_line_filters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4 line-level cleaning rules (Raffel et al. 2020 §2.2 — the
    other canonical published ruleset, line-granular where Gopher's is
    document-granular): a line is KEPT iff it ends in terminal
    punctuation (``. ! ? "``), has at least 3 whitespace words, and
    does not mention ``javascript`` (case-insensitive); the document-
    level policy markers (``lorem ipsum``, ``{``) are flagged for the
    caller's page-drop decision.

    Returns per document: ``n_lines``, ``n_kept``, ``n_kept_words``
    (exact integers), 0/1 ``has_lorem_ipsum`` / ``has_curly`` flags,
    and ``kept_fp`` — the md5 of the kept lines rejoined with
    ``\\n`` (the downstream exact-dedup key of the CLEANED text, so
    two docs that clean to the same content collide here). One native
    projection, scan-stage at 100 TB, zero shuffles; every expression
    replays exactly in ANSI SQL. NULL text is the empty string."""
    t = F.coalesce(_c(text_col), F.lit(""))
    lines = F.split(t, "\n")
    def _line_words(ln):
        # non-empty pieces (trim strips only spaces — fuzzer catch)
        return F.size(F.filter(F.split(ln, r"\s+"), lambda w: w != ""))

    keep = F.filter(
        lines,
        lambda ln: F.rtrim(ln).rlike('[.!?"]$')
        & (_line_words(ln) >= 3)
        & ~F.lower(ln).contains("javascript"),
    )
    kept_words = F.aggregate(
        keep,
        F.lit(0).cast("bigint"),
        lambda acc, ln: acc + _line_words(ln).cast("bigint"),
    )
    return df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(keep).cast("bigint").alias("n_kept"),
        kept_words.alias("n_kept_words"),
        F.lower(t).contains("lorem ipsum").cast("int").alias("has_lorem_ipsum"),
        t.contains("{").cast("int").alias("has_curly"),
        F.md5(F.array_join(keep, "\n")).alias("kept_fp"),
    )


def normalize_text(text: Column | str) -> Column:
    """Canonical form for exact-dup detection: lower, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(_c(text)), r"\s+", " "))


def fingerprint_md5(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (portable across engines — DuckDB md5 matches)."""
    return F.md5(normalize_text(text))


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality filters, Rae et al. 2021 A1.2)
# ---------------------------------------------------------------------------

def repetition_metrics(
    df, text_col: str = "text", id_col: str = "doc_id", ns: tuple = (1, 2, 3)
):
    """Within-document repetition profile — the Gopher-style quality
    signals for training-data filtering: for each n in ``ns``,
    ``top{n}_frac`` (most frequent n-gram's share of all n-grams) and
    ``dup{n}_frac`` (share of n-gram occurrences beyond first use).
    Returns one row per doc: (id_col, n_tokens, top1_frac, dup1_frac,
    top2_frac, ...). Docs shorter than n grams count a single
    empty-window gram (matching word_ngrams' greatest() clamp).

    Scale shape (r11, single-pass): tokenize ONCE (the normalized
    token array materializes across a repartition exchange — the
    no-CSE-inside-lambda rule), build every n's gram list from that
    array in one projection, explode them TAGGED with n, and shuffle
    ONE (id, n, gram) stream instead of one exchange pair per n (3
    scans + 3 gram shuffles -> 1 scan + 1 gram shuffle; same total
    gram bytes). The per-(doc, n) aggregates then pivot to columns by
    conditional aggregation — identical per-n gram multisets, counts
    and rounded metrics as the per-n loop (values hash-equal; oracle
    unchanged). Text never moves after the first projection; metrics
    join back on id (tiny rows)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    out = df.select(F.col(id_col), token_count(text_col).alias("n_tokens"))
    # r11 (guide §2.4): hash by doc id, not round-robin — the three
    # per-doc aggregates below ((id,n,gram) counts, (id,n) stats, the
    # metric pivot) all reuse this single exchange instead of paying
    # one each; same gram multisets, values unchanged.
    toks = df.select(
        F.col(id_col),
        F.split(normalize_text(F.col(text_col)), " ").alias("__w"),
    ).repartition(par, F.col(id_col))
    def _tagged_grams(n: int):
        # single-arg lambda: a 2-param lambda would make F.transform
        # pass the element INDEX as the second argument, shadowing n
        return F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("__w") - n, F.lit(0))),
            lambda i: F.struct(
                F.lit(n).alias("__n"),
                F.concat_ws(" ", F.slice("__w", i + 1, n)).alias("__g"),
            ),
        )

    gram_arrays = [_tagged_grams(n) for n in ns]
    grams = toks.select(
        F.col(id_col), F.explode(F.concat(*gram_arrays)).alias("__t")
    ).select(id_col, "__t.__n", "__t.__g")
    counts = grams.groupBy(id_col, "__n", "__g").agg(F.count("*").alias("__c"))
    per_doc = counts.groupBy(id_col, "__n").agg(
        F.sum("__c").alias("__total"),
        F.max("__c").alias("__top"),
        F.count("*").alias("__distinct"),
    )
    aggs = []
    for n in ns:
        aggs.append(
            F.max(
                F.when(
                    F.col("__n") == n,
                    F.round(F.col("__top") / F.col("__total"), 6),
                )
            ).alias(f"top{n}_frac")
        )
        aggs.append(
            F.max(
                F.when(
                    F.col("__n") == n,
                    F.round(
                        (F.col("__total") - F.col("__distinct"))
                        / F.col("__total"),
                        6,
                    ),
                )
            ).alias(f"dup{n}_frac")
        )
    metrics = per_doc.groupBy(id_col).agg(*aggs)
    return out.join(metrics, id_col, "left")


# ---------------------------------------------------------------------------
# PII / sensitive-pattern scan
# ---------------------------------------------------------------------------

# Deliberately RE2-compatible (no backrefs/lookarounds) so the same
# patterns run identically under Java regex (Spark) and RE2 (DuckDB).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\b(?:\+?\d[\d -]{7,}\d)\b",
    "long_digits": r"\b\d{9,}\b",
}


def pii_counts(text: Column | str, patterns: dict[str, str] = PII_PATTERNS):
    """One count column per sensitive pattern (emails, IPv4s, phone-ish
    runs, long digit sequences) — the redaction/reporting front half of
    a PII scrub; counts are what scrubbing pipelines audit and gate on.
    Returns a dict {name: Column}."""
    t = _c(text)
    return {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat in patterns.items()
    }


# ---------------------------------------------------------------------------
# Corpus term statistics (global vocabulary + TF-IDF keyword extraction)
# ---------------------------------------------------------------------------

def pii_placeholder(name: str) -> str:
    """Placeholder token for a PII pattern name, with digits STRIPPED
    (``ipv4`` -> ``<IPV>``): the chain-safety invariant below requires
    placeholders to be digit-free, and ``<IPV4>``'s literal 4 would
    silently violate it for any future non-\\b-anchored digit pattern
    (review finding)."""
    return "<" + "".join(ch for ch in name.upper() if not ch.isdigit()) + ">"


def pii_redact(
    text: Column | str, patterns: dict[str, str] = PII_PATTERNS
) -> Column:
    """The scrub half of the PII pipeline: every match of every
    pattern replaced with a typed placeholder (``<EMAIL>``, ``<IPV>``,
    ...), applied sequentially in ``patterns`` order. Placeholders
    contain no digits (``pii_placeholder`` strips them), so earlier
    replacements can never create or extend matches for later
    (digit-based) patterns; overlap between raw patterns (an IPv4
    inside a phone-ish run) resolves to whichever pattern runs first —
    deterministic in any engine with the same order. Pure codegen:
    one nested regexp_replace chain."""
    t = _c(text)
    for name, pat in patterns.items():
        t = F.regexp_replace(t, pat, pii_placeholder(name))
    return t


def explode_terms(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per (doc, token) over whitespace tokens of the
    normalized text; empty tokens dropped. The corpus-analytics
    fan-out: everything downstream is ordinary relational algebra
    with map-side partial aggregation."""
    return df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")


def top_terms(
    df: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Global top-``k`` vocabulary terms by corpus frequency, with
    document frequency alongside. Tie-break on the term itself so the
    ordering is total (engine-stable).

    Scale: token counts combine map-side before the single term-keyed
    shuffle, so skewed head terms ("the") cost one long per partition,
    not one row per occurrence; the final top-k is a TakeOrdered over
    |vocab| aggregated rows, never a global sort of the token stream."""
    terms = explode_terms(df, text_col, id_col)
    counts = terms.groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct(id_col).alias("n_docs"),
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("term")).limit(k)


def tfidf_topk(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document top-``k`` keywords by TF-IDF.

    The score is the *rational* form ``tf * n_docs / df`` (no
    logarithm): rank-equivalent to classic tf-idf for fixed tf
    monotonicity in 1/df, and — unlike ``ln`` — bit-identical across
    engines (exact integers divided once in IEEE double). Ties break
    on the term so every engine picks the same k rows.

    Scale: per-(doc,term) counts persist eagerly (three consumers:
    document frequency, corpus size, and the score join — lazy persist
    would recompute the tokenize+count lineage each time); document
    frequency joins back on the term key (a shuffle join — the
    vocabulary is unbounded at corpus scale, so no broadcast); the
    final top-k is a per-doc window row_number that pushes into
    WindowGroupLimit."""
    # localCheckpoint, not persist (r12): tf outlives the call — a
    # leaked persist rewrites the next call's plan over
    # InMemoryRelation and recompiles its codegen units (the
    # audit-panel compile-storm lesson)
    tf = (
        explode_terms(df, text_col, id_col)
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=False)
    )
    tf.count()  # eager: see docstring
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = tf.agg(F.count_distinct(id_col).alias("__n"))
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(F.col("tf") * F.col("__n") / F.col("df"), 6).alias("score"),
        )
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def source_token_kl(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Data-mixture diagnostic: per-group KL divergence of the group's
    unigram token distribution from the whole-corpus distribution —
    ``KL(P_g || P) = sum_t (c_gt/n_g) * ln(c_gt*N / (n_g*c_t))`` —
    the quantity mixture-balancing loops (DoReMi-style reweighting,
    source pruning) monitor. Returns ``(group, n_tokens, n_terms,
    kl)`` with kl >= 0, 6-decimal.

    Determinism is the integer-numerator recipe (the r05 trainer
    lesson): each ln is quantized to integer MILLIONTHS immediately
    (``floor(ln(r)*1e6 + 0.5)`` — three IEEE ops, no library
    rounding), weighted by the exact integer count, and summed as
    DECIMAL(38,0) — order-free, so no sorted fold is needed and the
    shuffle topology cannot change the value. One final double
    division + the portable floor-round, spelled identically in the
    oracle.

    Shape for 100 TB: ONE (group, term) aggregate off the tokenize
    stream builds the model-sized count table (persisted — the lm/dsir
    rule: everything else derives from it, so the corpus is tokenized
    once); corpus term totals re-aggregate it on the term key, group
    totals and N are broadcast back. No window, no self-join."""
    D = "decimal(38,0)"
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    toks = df.select(
        F.col(group_col).alias("__g"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    # localCheckpoint, not persist (r12): cs outlives the call — the
    # stable-plan-shape rule (audit-panel compile-storm lesson)
    cs = (
        toks.groupBy("__g", "term")
        .agg(F.count("*").alias("c_gt"))
        .localCheckpoint(eager=False)
    )
    # eager: the numer plan scans cs through four branches (ct, two ns
    # broadcasts, the direct join) — a lazy frame lets them race and
    # recompute the tokenize+aggregate lineage (the measured 2x trap)
    cs.count()
    ct = cs.groupBy("term").agg(F.sum("c_gt").alias("c_t"))
    ns = cs.groupBy("__g").agg(
        F.sum("c_gt").alias("n_g"), F.count("*").alias("n_terms")
    )
    big_n = ns.agg(F.sum("n_g").alias("__N"))
    ratio = (F.col("c_gt").cast(D) * F.col("__N").cast(D)).cast("double") / (
        F.col("n_g").cast(D) * F.col("c_t").cast(D)
    ).cast("double")
    lnq = F.floor(F.log(ratio) * F.lit(1000000.0) + F.lit(0.5))
    # group joins are NULL-SAFE: a NULL source is a legal group (the
    # oracle's GROUP BY keeps it); a plain column-list join would
    # silently drop its rows (the build-notes NULL-key trap)
    numer = (
        _ns_join(cs.join(ct, "term"), ns, ["__g"], broadcast_right=True)
        .crossJoin(F.broadcast(big_n))
        .groupBy("__g")
        .agg(
            F.sum((F.col("c_gt").cast(D) * lnq.cast(D))).alias("__num"),
        )
    )
    kl = F.floor(F.col("__num").cast("double") / F.col("n_g") + F.lit(0.5)) / F.lit(
        1000000.0
    )
    return (
        _ns_join(numer, ns, ["__g"], broadcast_right=True)
        .select(
            F.col("__g").alias(group_col),
            F.col("n_g").cast("bigint").alias("n_tokens"),
            F.col("n_terms").cast("bigint").alias("n_terms"),
            kl.alias("kl"),
        )
    )


def zipf_slopes(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group Zipf fit: OLS slope of ``ln(term frequency)`` on
    ``ln(frequency rank)`` over the group's unigram vocabulary — the
    corpus-health diagnostic (natural text sits near slope -1;
    boilerplate-heavy or template-generated slices drift off it).
    Returns ``(group, n_terms, zipf_slope, r2)``, slope dimensionless.

    Composition of two proven exact-at-scale pieces:

    - ranks come from the TWO-PASS bucketed pattern keyed by the count
      value itself (count DESC, term ASC ties — a total order): bucket
      offsets from a cumulative window over the per-(group, count)
      table (sqrt-bounded, PARTITIONED by group), within-bucket
      row_number partitioned by (group, count). No unpartitioned
      window anywhere, no vocabulary-sized single task.
    - both lns are quantized to integer millionths immediately and fed
      to ``ops/analytics.group_ols`` — every moment sum is an exact
      DECIMAL(38,0) integer, order-free; the only floating point is
      the fixed final (divide, portable-round) sequence. With x and y
      in the same micro-ln units the slope is the dimensionless
      d ln(c)/d ln(r) directly (y_scale=1)."""
    from nhs_data_pipeline_spark.ops.analytics import group_ols

    toks = df.select(
        F.col(group_col).alias("__g"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("__g", "term").agg(F.count("*").alias("c"))
    cc = tf.groupBy("__g", "c").agg(F.count("*").alias("__bc"))
    woff = (
        Window.partitionBy("__g")
        .orderBy(F.desc("c"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = cc.withColumn(
        "__off", F.coalesce(F.sum("__bc").over(woff), F.lit(0).cast("bigint"))
    ).select("__g", "c", "__off")
    win = Window.partitionBy("__g", "c").orderBy("term")
    micro = lambda col: F.floor(  # noqa: E731 — the portable micro-ln
        F.log(col.cast("double")) * F.lit(1000000.0) + F.lit(0.5)
    )
    from nhs_data_pipeline_spark.ops.sketch import _ns_join

    # NULL-safe: a NULL source is a legal group; the plain column-list
    # join would drop its terms while the oracle's window PARTITION BY
    # fits it (the build-notes NULL-key trap)
    ranked = (
        _ns_join(tf, offs, ["__g", "c"], broadcast_right=True)
        .withColumn("__r", F.col("__off") + F.row_number().over(win))
        .select(
            "__g",
            micro(F.col("__r")).alias("__x"),
            micro(F.col("c")).cast("bigint").alias("__y"),
        )
    )
    fit = group_ols(ranked, ["__g"], "__x", "__y", y_scale=1)
    return fit.select(
        F.col("__g").alias(group_col),
        F.col("n_points").alias("n_terms"),
        F.col("slope").alias("zipf_slope"),
        F.col("r2"),
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group n-gram (word-bigram) diversity diagnostics — the
    self-BLEU-adjacent signals that catch template-generated or
    collapsed slices before they reach a training mix: ``(group,
    total_ngrams, distinct_ngrams, distinct_ratio, top_share,
    entropy)``.

    - ``distinct_ratio`` = distinct/total bigram occurrences (the
      distinct-n metric of Li et al. 2016): near 1 for diverse prose,
      collapsing toward 0 for repetitive generation.
    - ``top_share`` = the most frequent bigram's share — one dominant
      boilerplate phrase shows up here before it moves the mean.
    - ``entropy`` = Shannon entropy of the bigram distribution in
      nats: ``H = ln T - (1/T) * sum_g c_g ln c_g``.

    Cross-engine exactness (the r05 trainer recipe): each ``ln c`` is
    quantized to integer MILLIONTHS immediately, weighted by the exact
    integer count and summed order-free in DECIMAL(38,0); ``ln T`` is
    quantized the same way; the only remaining float is one division
    of exact integers plus the shared portable floor-round — identical
    IEEE sequences in the DuckDB oracle. Ratios are single divisions
    of exact integers, floor-rounded at 6.

    Scale shape (100 TB): ONE (group, bigram) aggregate off the shared
    tokenize stream (map-side combined), then one group-keyed fold of
    the vocabulary-sized count table. No windows, no joins, no
    collects; a NULL group is a legal group (groupBy keeps it — no
    key join exists to drop it)."""
    D = "decimal(38,0)"
    base = tokenized_frame(df, text_col, id_col, carry=(group_col,))
    bigrams = F.expr(
        "CASE WHEN size(__w) > 1 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "__bg -> concat(element_at(__w, __bg), ' ', element_at(__w, __bg + 1))) "
        "ELSE cast(array() AS array<string>) END"
    )
    grams = base.select(
        F.col(group_col).alias("__g"), F.explode(bigrams).alias("bg")
    )
    cnt = grams.groupBy("__g", "bg").agg(F.count("*").alias("__c"))
    lnq = F.floor(
        F.log(F.col("__c").cast("double")) * F.lit(1000000.0) + F.lit(0.5)
    )
    per = cnt.groupBy("__g").agg(
        F.sum("__c").cast("bigint").alias("total_ngrams"),
        F.count("*").cast("bigint").alias("distinct_ngrams"),
        F.max("__c").cast("bigint").alias("__maxc"),
        F.sum(F.col("__c").cast(D) * lnq.cast(D)).alias("__s"),
    )
    t_dbl = F.col("total_ngrams").cast("double")
    lnq_t = F.floor(F.log(t_dbl) * F.lit(1000000.0) + F.lit(0.5))
    micro6 = lambda x: F.floor(x * F.lit(1000000.0) + F.lit(0.5)) / F.lit(  # noqa: E731
        1000000.0
    )
    entropy = (
        F.floor(
            lnq_t - F.col("__s").cast("double") / t_dbl + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return per.select(
        F.col("__g").alias(group_col),
        "total_ngrams",
        "distinct_ngrams",
        micro6(
            F.col("distinct_ngrams").cast("double") / t_dbl
        ).alias("distinct_ratio"),
        micro6(F.col("__maxc").cast("double") / t_dbl).alias("top_share"),
        entropy.alias("entropy"),
    )


def source_jsd(
    df: DataFrame,
    target_cond,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence (nats) between the unigram token
    distribution of a TARGET slice and the REST of the corpus — the
    bounded [0, ln 2] symmetric companion to ``source_token_kl``
    (JSD is finite even on disjoint supports, so it is the metric
    curation papers compare candidate slices with). One row:
    ``(n_target_tokens, n_rest_tokens, n_terms, jsd)``.

    JSD = (KL(P||M) + KL(Q||M)) / 2 with M = (P+Q)/2. Per term the
    log ratios reduce to EXACT integer products:
    ``p/m = 2*c_a*Nb / (c_a*Nb + c_b*Na)`` — cast once to double,
    micro-ln quantized, weighted by the exact count and summed
    order-free in DECIMAL(38,0) (the r05 trainer recipe). Terms
    absent from a side contribute exactly ln 2 to the other side's
    KL, which the same formula produces (c_other = 0) — no smoothing
    needed, no dropped rows.

    Shape: ONE (flag, term) aggregate off the tokenize stream
    (conditional sums — no self-join of two slices), scalar totals
    broadcast-crossed, one scalar fold."""
    D = "decimal(38,0)"
    toks = df.select(
        target_cond.cast("int").alias("__ta"),
        F.explode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("term"),
    ).filter(F.col("term") != "")
    cnt = toks.groupBy("term").agg(
        F.sum("__ta").cast("bigint").alias("__ca"),
        F.sum(F.lit(1) - F.col("__ta")).cast("bigint").alias("__cb"),
    )
    tot = cnt.agg(
        F.sum("__ca").cast("bigint").alias("__na"),
        F.sum("__cb").cast("bigint").alias("__nb"),
    )
    j = cnt.crossJoin(F.broadcast(tot))
    mix = (
        F.col("__ca").cast(D) * F.col("__nb").cast(D)
        + F.col("__cb").cast(D) * F.col("__na").cast(D)
    ).cast("double")
    lnq_a = F.floor(
        F.log(
            F.lit(2.0)
            * (F.col("__ca").cast(D) * F.col("__nb").cast(D)).cast("double")
            / mix
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    lnq_b = F.floor(
        F.log(
            F.lit(2.0)
            * (F.col("__cb").cast(D) * F.col("__na").cast(D)).cast("double")
            / mix
        )
        * F.lit(1000000.0)
        + F.lit(0.5)
    )
    agg = j.agg(
        F.max("__na").alias("n_target_tokens"),
        F.max("__nb").alias("n_rest_tokens"),
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum(
            F.when(F.col("__ca") > 0, F.col("__ca").cast(D) * lnq_a.cast(D))
        ).alias("__sa"),
        F.sum(
            F.when(F.col("__cb") > 0, F.col("__cb").cast(D) * lnq_b.cast(D))
        ).alias("__sb"),
    )
    jsd = F.floor(
        (
            F.col("__sa").cast("double") / F.col("n_target_tokens").cast("double")
            + F.col("__sb").cast("double") / F.col("n_rest_tokens").cast("double")
        )
        / F.lit(2.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return agg.select(
        "n_target_tokens", "n_rest_tokens", "n_terms", jsd.alias("jsd")
    )


def gini_concentration(
    df: DataFrame,
    group_cols: list[str],
    value_int_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative integer value —
    the concentration diagnostic for mixture design (is a source's
    token mass concentrated in a few mega-documents, or spread?):
    0 = perfectly even, ->1 = one row holds everything. Returns
    ``(*group_cols, n_rows, value_total, gini)``; groups with zero
    total value yield NULL gini.

    Gini = (2 * sum_i i * x_(i) - (n+1) * sum x) / (n * sum x) over
    ascending-sorted values. The rank sum is TIE-INVARIANT (equal
    values contribute identically under any tie order), so it
    collapses duplicates exactly: a value v with count c after o
    earlier rows contributes ``v * (2*c*o + c*(c+1))`` to 2S — pure
    integer arithmetic in DECIMAL(38,0) (the doubled form: c*(c+1)
    needs no halving, so no parity or integer-division concern), and
    only the closing division is a float + the portable floor-round.

    Scale: one (group, value) aggregate off the input, then a
    per-group cumulative window over the DISTINCT-VALUE table — for
    count-like values that table is bounded by the value range (max
    document length), not the corpus."""
    D = "decimal(38,0)"
    v = F.col(value_int_col)
    vw = (
        df.filter(v.isNotNull() & (v >= 0))
        .groupBy(*group_cols, v.alias("__v"))
        .agg(F.count("*").cast("bigint").alias("__c"))
    )
    woff = (
        Window.partitionBy(*group_cols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = vw.withColumn(
        "__o", F.coalesce(F.sum("__c").over(woff), F.lit(0).cast("bigint"))
    )
    term = F.col("__v").cast(D) * (
        F.lit(2).cast(D) * F.col("__c").cast(D) * F.col("__o").cast(D)
        + F.col("__c").cast(D) * (F.col("__c").cast(D) + F.lit(1).cast(D))
    )
    agg = cum.groupBy(*group_cols).agg(
        F.sum("__c").cast("bigint").alias("n_rows"),
        F.sum(F.col("__v").cast(D) * F.col("__c").cast(D))
        .cast(D)
        .alias("__tt"),
        F.sum(term).alias("__s2"),
    )
    n_d = F.col("n_rows").cast("double")
    t_d = F.col("__tt").cast("double")
    gini = F.floor(
        (F.col("__s2").cast("double") - (n_d + F.lit(1.0)) * t_d)
        / (n_d * t_d)
        * F.lit(1000000.0)
        + F.lit(0.5)
    ) / F.lit(1000000.0)
    return agg.select(
        *group_cols,
        "n_rows",
        F.col("__tt").cast("bigint").alias("value_total"),
        F.when(F.col("__tt") > 0, gini).alias("gini"),
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 40,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over the
    corpus's adjacent word pairs — the phrase-mining primitive
    (Church & Hanks 1990; word2vec-style phrase detection):

        PMI(a, b) = ln( p(ab) / (p(a) p(b)) )
                  = ln( c_ab * T1^2 / (T2 * c_a * c_b) )

    with c_ab adjacent-pair counts (T2 total pairs) and c_a unigram
    counts (T1 total tokens). Returns ``(w1, w2, pair_count, pmi)``,
    PMI in nats, highest first. ``min_count`` floors the pair count —
    PMI's known rare-pair bias (a 1-occurrence pair of two hapaxes
    maxes the score) is cut off exactly where every published phrase
    miner cuts it.

    Cross-engine exactness: every factor is an exact integer cast
    ONCE to double (exact below 2^53 — holds past 10^15 tokens, ~4 PB
    of text; no DECIMAL(38) product overflow at the most frequent
    pair), the multiply/divide chain is one fixed IEEE sequence
    spelled identically in the oracle, the ln is quantized to integer
    millionths with the portable floor-round, and ties in the
    quantized PMI break on (w1, w2).

    Scale shape (100 TB): two token-keyed aggregates (pair and
    unigram, both map-side combined); the unigram table re-joins the
    ``min_count``-filtered pair table on each side's term key (vocab
    is corpus-derived — shuffle joins, never a forced broadcast);
    scalar totals broadcast-crossed; top-k is a distributed
    TakeOrderedAndProject, never a global sort."""
    base = tokenized_frame(df, text_col, id_col)
    pair_arr = F.expr(
        "CASE WHEN size(__w) > 1 THEN "
        "transform(sequence(1, size(__w) - 1), "
        "__bg -> struct(element_at(__w, __bg) AS w1, "
        "element_at(__w, __bg + 1) AS w2)) "
        "ELSE cast(array() AS array<struct<w1:string,w2:string>>) END"
    )
    pairs = base.select(F.explode(pair_arr).alias("__p")).select(
        "__p.w1", "__p.w2"
    )
    uni = base.select(F.explode("__w").alias("term")).filter(
        F.col("term") != ""
    )
    cp = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
        .filter(F.col("pair_count") >= F.lit(int(min_count)))
    )
    cu = uni.groupBy("term").agg(F.count("*").alias("__cu"))
    tot1 = uni.agg(F.count("*").cast("bigint").alias("__t1"))
    tot2 = pairs.agg(F.count("*").cast("bigint").alias("__t2"))
    d = lambda c: c.cast("double")  # noqa: E731
    joined = (
        cp.join(cu.select(F.col("term").alias("w1"), F.col("__cu").alias("__ca")), "w1")
        .join(cu.select(F.col("term").alias("w2"), F.col("__cu").alias("__cb")), "w2")
        .crossJoin(F.broadcast(tot1))
        .crossJoin(F.broadcast(tot2))
    )
    ratio = (d(F.col("pair_count")) * d(F.col("__t1")) * d(F.col("__t1"))) / (
        d(F.col("__t2")) * d(F.col("__ca")) * d(F.col("__cb"))
    )
    pmi = F.floor(F.log(ratio) * F.lit(1000000.0) + F.lit(0.5)) / F.lit(
        1000000.0
    )
    return (
        joined.select(
            "w1", "w2", F.col("pair_count").cast("bigint").alias("pair_count"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(int(top_k))
    )


def remove_boilerplate_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet/RefinedWeb-style line-level boilerplate removal: a line
    that appears (exactly) in >= ``min_docs`` distinct documents is
    boilerplate (nav bars, cookie banners, license footers) and is
    stripped from every document; remaining lines are reassembled in
    their original order.

    Returns ``(id_col, clean_text, n_lines_kept, n_lines_removed)`` —
    documents whose every line is boilerplate survive with an empty
    ``clean_text`` (the downstream length filter decides their fate,
    not this operator).

    Scale: the document-frequency aggregate shuffles one row per
    distinct (line) with map-side combine; the verdict joins back on
    the line key (shuffle join — the line universe is unbounded, no
    broadcast); reassembly is a single doc-keyed aggregate whose
    array_sort runs on each doc's own lines only. No step is driver-
    side and nothing carries the full document across a shuffle more
    than once."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    ).filter(F.col("__line") != "")
    # localCheckpoint, not persist (r12): lines outlives the call — the
    # stable-plan-shape rule (audit-panel compile-storm lesson)
    lines = lines.localCheckpoint(eager=False)
    lines.count()  # eager: feeds both the df-count and the join-back
    linedf = lines.groupBy("__line").agg(
        F.count_distinct(id_col).alias("__line_docs")
    )
    verdict = lines.join(linedf, "__line").select(
        id_col,
        "__pos",
        "__line",
        (F.col("__line_docs") >= min_docs).alias("__boiler"),
    )
    kept_struct = F.when(
        ~F.col("__boiler"), F.struct(F.col("__pos"), F.col("__line"))
    )
    return verdict.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["__line"]
            ),
        ).alias("clean_text"),
        F.sum(F.when(~F.col("__boiler"), 1).otherwise(0)).alias("n_lines_kept"),
        F.sum(F.when(F.col("__boiler"), 1).otherwise(0)).alias("n_lines_removed"),
    )


def oov_stats(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against ``vocab`` (a
    DataFrame with a ``term`` column — typically ``top_terms`` output
    or a tokenizer's vocab). The vocab broadcasts (even a 100k-entry
    BPE vocab is a few MB); tokens stay partition-local, so the only
    shuffle is the per-doc count aggregate."""
    toks = explode_terms(df, text_col, id_col)
    marked = toks.join(
        F.broadcast(vocab.select("term").withColumn("__in_vocab", F.lit(1))),
        "term",
        "left",
    )
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            * F.lit(1.0)
            / F.count("*"),
            6,
        ).alias("oov_frac"),
    )


def tokenized_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Shared whitespace tokenizer for the token-level operators
    (spans / DSIR / LM): ``(doc_id, *carry, __w array<string>)`` with
    whitespace-normalized, case-preserving tokens. ONE definition so
    the operators that the audit panel composes (and their DuckDB
    oracle replays) can never silently drift apart.

    Repartitions to the default parallelism first: the downstream
    explode/hash stages are CPU-heavy, and a small parquet input's 2-3
    splits would otherwise pin them to 2-3 cores (measured 2.8-3.7x
    at the 10x corpus on local[32] — the build notes' standing rule).

    r11 (guide §2.4): the repartition hashes on ``doc_id`` instead of
    round-robin — same split decoupling and core count, but every
    downstream PER-DOC aggregate (the LM/DSIR scoring folds, the span
    interval union, dsir's (doc, tgt, bucket) counts) now reuses this
    one exchange instead of paying its own (HashPartitioning(doc_id)
    satisfies any clustering that contains doc_id), and round-robin's
    sort-before-repartition is skipped. Doc keys are hash-spread, so
    balance matches round-robin at any corpus size; per-partition work
    stays bounded by document length.
    """
    norm = F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in carry],
        F.split(norm, " ").alias("__w"),
    )
