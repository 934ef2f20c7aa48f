"""Property-based tests (hypothesis) for the order-sensitive composites:
directional fill, binned median, closure idempotence. Deterministic
profile (fixed seeds, no deadline) for CI stability."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
import pytest

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

vals_strategy = st.lists(
    st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)),
    min_size=1,
    max_size=12,
)


@given(vals=vals_strategy)
@settings(**SETTINGS)
@pytest.mark.slow
def test_fill_matches_pandas_property(spark, vals):
    from nhs_data_pipeline_spark.ops.core import fill_directional

    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], "k string, ord int, v double"
    )
    for direction, ref in [
        ("down", pd.Series(vals).ffill()),
        ("up", pd.Series(vals).bfill()),
        ("updown", pd.Series(vals).ffill().bfill()),
    ]:
        got = [
            r.v
            for r in fill_directional(df, ["v"], ["k"], ["ord"], direction)
            .orderBy("ord")
            .collect()
        ]
        exp = [None if pd.isna(x) else x for x in ref]
        assert got == exp, (direction, vals)


@given(
    counts=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=10)
)
@settings(**SETTINGS)
def test_binned_median_brackets_exact_median(spark, counts):
    """The binned median lands within the bin containing the exact
    median of the expanded distribution (bin width 1, midpoint 0.5)."""
    import numpy as np

    from nhs_data_pipeline_spark.ops.binned import binned_median

    bins = spark.createDataFrame(
        [("g", float(i), c) for i, c in enumerate(counts)],
        "k string, bin_lower double, cnt long",
    )
    med = binned_median(bins, ["k"], "bin_lower", "cnt").first().median
    expanded = [i for i, c in enumerate(counts) for _ in range(c)]
    if not expanded:
        assert med is None
        return
    exact = float(np.median(expanded))
    assert abs(med - exact) <= 1.0, (counts, med, exact)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8), st.integers(min_value=0, max_value=8)
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
@pytest.mark.slow
def test_closure_reaches_terminals(spark, edges):
    """Acyclic inputs: the closure equals a brute-force enumeration of
    every (origin, terminal, path length). Cyclic inputs: ValueError
    naming codes that lie on a cycle."""
    import re

    from nhs_data_pipeline_spark.orgchange import successor_closure

    edges = [(f"N{a}", f"N{b}") for a, b in edges]
    e = spark.createDataFrame(edges, ["old_code", "new_code"])
    succ = {}
    for a, b in edges:
        succ.setdefault(a, set()).add(b)

    def reachable(start):
        seen, todo = set(), list(succ.get(start, ()))
        while todo:
            n = todo.pop()
            if n not in seen:
                seen.add(n)
                todo.extend(succ.get(n, ()))
        return seen

    cyclic = {a for a in succ if a in reachable(a)}
    if cyclic:
        with pytest.raises(ValueError) as err:
            successor_closure(e)
        named = set(re.findall(r"N\d", str(err.value)))
        assert named and named <= cyclic, (err.value, cyclic)
        return

    def walks(node, hops):
        if node not in succ:
            yield node, hops
        for n in succ.get(node, ()):
            yield from walks(n, hops + 1)

    want = {(a, t, h) for a in succ for t, h in walks(a, 0)}
    got = [tuple(r) for r in successor_closure(e).collect()]
    assert len(got) == len(set(got)) and set(got) == want


# -- Gopher / C4 quality panels vs exact python replicas ------------------

_WORDS = ["the", "and", "have", "quick", "zz9", "1234", "#", "a", "item...",
          "- x", "word"]
_doc_strategy = st.lists(
    st.tuples(
        st.lists(st.sampled_from(_WORDS), min_size=0, max_size=12),
        st.sampled_from([" ", "  "]),
    ),
    min_size=1,
    max_size=4,
).map(lambda lns: "\n".join(sep.join(ws) for ws, sep in lns))


# SQL ltrim/rtrim strip SPACES ONLY (Spark and DuckDB alike) — the
# replicas below mirror that with lstrip(" ")/rstrip(" "), never the
# all-whitespace python default (a line ending in a tab before its
# terminal punctuation must disagree with the engines identically)
def _py_gopher(text: str) -> dict:
    import re

    t = text or ""
    trimmed = t.strip()
    words = re.split(r"\s+", trimmed) if trimmed else []
    n, sum_len = len(words), len(re.sub(r"\s", "", t))
    n_alpha = sum(1 for w in words if re.search("[A-Za-z]", w))
    n_sym = len(re.findall(r"#|\.\.\.", t))
    lines = t.split("\n")
    n_lines = len(lines)
    n_bullet = sum(1 for ln in lines if re.match(r"^[-*•]", ln.lstrip(" ")))
    n_ell = sum(1 for ln in lines if re.search(r"\.\.\.$", ln.rstrip(" ")))
    low = t.lower()
    n_stop = sum(
        1
        for w in ("the", "be", "to", "of", "and", "that", "have", "with")
        if re.search(rf"\b{w}\b", low)
    )
    return {
        "n_words": n,
        "ok_word_count": int(50 <= n <= 100_000),
        "ok_mean_word_len": int(3 * n <= sum_len <= 10 * n),
        "ok_symbol_ratio": int(10 * n_sym <= n),
        "ok_bullet_ratio": int(10 * n_bullet <= 9 * n_lines),
        "ok_ellipsis_line": int(10 * n_ell <= 3 * n_lines),
        "ok_alpha_words": int(5 * n_alpha >= 4 * n),
        "ok_stopwords": int(n_stop >= 2),
    }


def _py_c4(text: str) -> dict:
    import hashlib
    import re

    t = text or ""
    lines = t.split("\n")

    def _kept(ln: str) -> bool:
        s = ln.strip()
        return (
            bool(s)
            and bool(re.search(r'[.!?"]$', ln.rstrip(" ")))
            and len(re.split(r"\s+", s)) >= 3
            and "javascript" not in ln.lower()
        )

    keep = [ln for ln in lines if _kept(ln)]
    return {
        "n_lines": len(lines),
        "n_kept": len(keep),
        "n_kept_words": sum(len(re.split(r"\s+", ln.strip())) for ln in keep),
        "kept_fp": hashlib.md5("\n".join(keep).encode()).hexdigest(),
    }


@given(docs=st.lists(_doc_strategy, min_size=1, max_size=5))
@settings(**SETTINGS)
@pytest.mark.slow
def test_gopher_c4_match_python_replicas(spark, docs):
    """Fuzz the published-ruleset panels against independent python
    replicas over ASCII docs mixing bullets, ellipses, symbols,
    numerics and stop words (ASCII-only: Java and python regex \\s
    agree there; the unicode divergence is out of contract)."""
    from nhs_data_pipeline_spark.llm.text import c4_line_filters, gopher_quality_flags

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string"
    )
    got_g = {r.doc_id: r.asDict() for r in gopher_quality_flags(df).collect()}
    for i, text in enumerate(docs):
        exp = _py_gopher(text)
        act = {k: got_g[i][k] for k in exp}
        assert act == exp, (text, act, exp)
    got_c = {r.doc_id: r.asDict() for r in c4_line_filters(df).collect()}
    for i, text in enumerate(docs):
        exp = _py_c4(text)
        act = {k: got_c[i][k] for k in exp}
        assert act == exp, (text, act, exp)
