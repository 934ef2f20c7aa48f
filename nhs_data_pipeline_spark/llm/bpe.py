"""BPE tokenizer merge learning AND encoding (Sennrich et al. 2016).

Training-data stacks fit their tokenizer on the corpus they curate;
the core of BPE training is iterative: count adjacent symbol pairs
over the (word-type, frequency) table, take the most frequent pair,
merge it everywhere, repeat. This module runs those rounds as
Catalyst plans — the merge table (the tokenizer artifact) is one
output; the ENCODE side (:func:`bpe_apply` /
:func:`bpe_token_counts`) runs a learned merge table over any
corpus's word types and joins real tokenizer token counts back onto
documents — the counts token-budget mixture sampling and sequence
packing should budget in.

Spark-first shape (100 TB design)
---------------------------------
- BPE never touches the corpus after one pass: training operates on
  the *word-type* table ``(word, n)`` (vocabulary-sized, the classic
  trick), built with one corpus aggregate. Every round is then one
  explode+aggregate over the vocabulary (pair counts, map-side
  combined, weighted by ``n``) and one projection (the merge).
- The winning pair is a TakeOrdered(1) broadcast-crossed back into
  the vocabulary — the merge itself never leaves the cluster and no
  driver round-trip is needed; the word table localCheckpoints per
  round (the iterative-loop lineage rule, llm/cluster.kmeans_fit).

Cross-engine determinism
------------------------
Everything is integer counts and string manipulation — no floats
anywhere. The greedy left-to-right merge folds each word's symbol
sequence with a STRING accumulator (the ``\\x1f``-joined symbols so
far): merging appends ``b`` to an accumulator ending in ``sep+a``,
otherwise appends ``sep+s``. A string accumulator (not an array one)
is deliberate: DuckDB's ``list_reduce`` requires accumulator and
element types to match, and with string elements the joined-string
accumulator satisfies that — so the oracle replays the exact greedy
semantics, including chained merges ('aaaa' + (a,a) -> aa aa).
Symbols can never contain the separator (it is stripped from input),
and a merged symbol always ends with ``b`` (non-empty), so a merge
can never fabricate a fresh ``sep+a`` suffix — no false chains.
Ties in pair counts break on (count desc, left, right).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nhs_data_pipeline_spark.llm.text import explode_terms
from nhs_data_pipeline_spark.ops.core import local_frame

#: Symbol separator inside the fold accumulator (unit separator).
SEP = "\x1f"

#: Greedy left-to-right merge of pair (__a, __b) over the symbol
#: string __syms of each word; __a/__b come from the crossed-in
#: winning-pair row. ``endswith(acc, sep || __a)`` is exact
#: last-symbol equality because symbols cannot contain the separator.
_MERGE = (
    "aggregate(split(substr(__syms, 2), chr(31)), '', "
    "(__acc, __s) -> CASE WHEN __acc <> '' "
    "AND endswith(__acc, chr(31) || __a) AND __s = __b "
    "THEN __acc || __s ELSE __acc || chr(31) || __s END)"
)


def word_type_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, n): whitespace word types with corpus frequencies — the
    one corpus-sized pass; everything after runs on the vocabulary.
    The fold separator is stripped defensively."""
    return (
        explode_terms(df, text_col, id_col)
        .select(F.regexp_replace("term", SEP, "").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _initial_symbols(words: DataFrame, carry: list[str]) -> DataFrame:
    """(*carry, __syms): each word as its sep-joined character sequence
    (leading separator), via position probes — identical in any
    engine (character split functions disagree about empty edges)."""
    return words.select(
        *carry,
        F.expr(
            "aggregate(transform(sequence(1, length(word)), "
            "__i -> substring(word, __i, 1)), '', "
            "(__acc, __c) -> __acc || chr(31) || __c)"
        ).alias("__syms"),
    )


def _empty_merge_table(df: DataFrame) -> DataFrame:
    return local_frame(
        df.sparkSession,
        [],
        StructType.fromDDL("it int, left_sym string, right_sym string, pair_count bigint"),
    )


def _train(
    df: DataFrame, n_merges: int, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared BPE training loop: returns ``(merges, state)`` where
    ``state`` is the word-type table ``(word, n, __syms)`` with every
    learned merge already applied — i.e. the ENCODED vocabulary (the
    training state after round M is exactly the encoding under the
    M learned rules, so train-and-encode is one loop, not two)."""
    state = _initial_symbols(
        word_type_table(df, text_col, id_col), carry=["word", "n"]
    )
    merges = None
    for it in range(1, n_merges + 1):
        pairs = (
            state.select(
                "n", F.expr("split(substr(__syms, 2), chr(31))").alias("__w")
            )
            .select(
                "n",
                F.explode(
                    F.expr(
                        "CASE WHEN size(__w) > 1 "
                        "THEN transform(sequence(1, size(__w) - 1), "
                        "__j -> struct(element_at(__w, __j) AS l, "
                        "element_at(__w, __j + 1) AS r)) "
                        "ELSE cast(array() as array<struct<l: string, r: string>>) END"
                    )
                ).alias("__p"),
            )
            .groupBy(F.col("__p.l").alias("__a"), F.col("__p.r").alias("__b"))
            .agg(F.sum("n").alias("pair_count"))
        )
        top1 = pairs.orderBy(
            F.desc("pair_count"), F.asc("__a"), F.asc("__b")
        ).limit(1).localCheckpoint()  # 1 row, eager: reused 3x below
        if not top1.take(1):
            # Vocabulary exhausted (every word is a single symbol): an
            # empty winner crossJoined into the state would silently
            # annihilate the whole vocabulary and truncate the merge
            # table without error (review finding). Stop with the
            # merges learned so far instead.
            break
        step = top1.select(
            F.lit(it).alias("it"),
            # not "left"/"right": SQL reserved words complicate oracles
            F.col("__a").alias("left_sym"),
            F.col("__b").alias("right_sym"),
            "pair_count",
        )
        merges = step if merges is None else merges.unionByName(step)
        state = (
            state.crossJoin(F.broadcast(top1.select("__a", "__b")))
            .select("word", "n", F.expr(_MERGE).alias("__syms"))
            # vocabulary-sized; truncate the per-round plan
            .localCheckpoint(eager=False)
        )
        state.count()
    if merges is None:  # no pairs at all (every word single-symbol)
        merges = _empty_merge_table(df)
    return merges, state


def bpe_merges(
    df: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Learn ``n_merges`` BPE merge rules from the corpus:
    ``(it, left, right, pair_count)`` with ``it`` starting at 1.

    Each round: explode adjacent symbol pairs weighted by word
    frequency, pick the (count desc, left, right) winner, merge it
    greedily left-to-right in every word, continue on the merged
    vocabulary. Returns ``(it, left_sym, right_sym, pair_count)``.
    If the vocabulary runs out of pairs before ``n_merges`` rounds,
    the loop stops and returns the merges learned so far (an empty
    winner crossJoined into the state would otherwise silently empty
    the vocabulary)."""
    return _train(df, n_merges, text_col, id_col)[0]


def _state_tokens(state: DataFrame, carry: list[str]) -> DataFrame:
    """Decode ``__syms`` back to ``(tokens array<string>, n_tokens)``."""
    return state.select(
        *carry,
        F.expr("split(substr(__syms, 2), chr(31))").alias("tokens"),
    ).withColumn("n_tokens", F.size("tokens"))


def bpe_train_encode(
    df: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Train ``n_merges`` rules AND encode the training vocabulary in
    one loop: returns ``(merges, vocab)`` with ``vocab = (word, n,
    tokens, n_tokens)`` — the training state after the last round IS
    the encoding, so no second apply pass over the vocabulary is
    needed. Use :func:`bpe_apply` to encode NEW text under an already
    learned merge table."""
    merges, state = _train(df, n_merges, text_col, id_col)
    return merges, _state_tokens(state, carry=["word", "n"])


def bpe_apply(
    words: DataFrame, merges: DataFrame, word_col: str = "word"
) -> DataFrame:
    """Distributed tokenize-with-merges: apply an already-learned merge
    table to a vocabulary table, in rank (``it``) order — the encode
    half of the tokenizer story (training fits the rules; this runs
    them over any corpus's word types). Returns ``(word, tokens,
    n_tokens)`` with one row per distinct input word.

    Scale shape mirrors training: per-rule cost tracks the VOCABULARY
    (word types), never the corpus — each round is one broadcast
    crossJoin of a single-rule row plus a projection, with the same
    per-round ``localCheckpoint`` lineage discipline. The merge table
    must have contiguous ranks 1..M (what ``bpe_merges`` produces); a
    gap would cross an empty rule into the state and silently empty
    the vocabulary, so it raises instead."""
    bounds = merges.agg(
        F.count("*").alias("c"), F.coalesce(F.max("it"), F.lit(0)).alias("m")
    ).first()
    if bounds.c != bounds.m:
        raise ValueError(
            f"merge table ranks must be contiguous 1..M, got {bounds.c} "
            f"rules with max rank {bounds.m}"
        )
    state = _initial_symbols(
        words.select(F.regexp_replace(word_col, SEP, "").alias("word"))
        .filter(F.col("word") != "")
        .distinct(),
        carry=["word"],
    )
    for it in range(1, int(bounds.m) + 1):
        rule = merges.filter(F.col("it") == it).select(
            F.col("left_sym").alias("__a"), F.col("right_sym").alias("__b")
        )
        state = (
            state.crossJoin(F.broadcast(rule))
            .select("word", F.expr(_MERGE).alias("__syms"))
            .localCheckpoint(eager=False)
        )
        state.count()
    return _state_tokens(state, carry=["word"])


def bpe_token_counts(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    encoded_vocab: DataFrame | None = None,
) -> DataFrame:
    """Per-document REAL tokenizer token counts under a learned merge
    table: ``(id_col, n_words, n_bpe_tokens)``, one row per input
    document (empty documents count 0). This is the column
    token-budget mixture sampling and sequence packing should budget
    in — whitespace counts mis-size both whenever merge density varies
    across sources.

    Scale: the merge rules run over the corpus's word-TYPE table
    (:func:`bpe_apply`), then one word-keyed join maps the token
    counts back onto the (doc, word) stream and a doc-keyed aggregate
    sums them — the corpus is touched twice (type extraction, count
    join), never per-rule.

    Pass ``encoded_vocab`` (from :func:`bpe_train_encode`, covering
    this corpus's word types) to skip the re-apply loop when the
    merges were just trained on the same corpus."""
    doc_words = (
        explode_terms(df, text_col, id_col)
        .select(
            F.col(id_col), F.regexp_replace("term", SEP, "").alias("word")
        )
        .filter(F.col("word") != "")
    )
    if encoded_vocab is not None:
        encoded = encoded_vocab
    else:
        encoded = bpe_apply(doc_words.select("word"), merges)
    counts = (
        doc_words.join(encoded.select("word", "n_tokens"), "word")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_tokens").alias("n_bpe_tokens"),
        )
    )
    return (
        df.select(id_col)
        .distinct()
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_words", F.lit(0).cast("bigint")).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0).cast("bigint")).alias(
                "n_bpe_tokens"
            ),
        )
    )
