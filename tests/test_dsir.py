"""DSIR hashed n-gram importance weighting (llm/dsir.py)."""

import hashlib
import math

from pyspark.sql import functions as F

from nhs_data_pipeline_spark.llm import dsir


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def _py_bucket(feat: str, buckets: int) -> int:
    return int(hashlib.md5(feat.encode()).hexdigest()[:15], 16) % buckets


def _py_scores(rows, target_source, buckets):
    """Pure-python replica: same hashing, smoothing, 4-decimal ll
    rounding, and bucket-ordered left fold."""
    per_db: dict[tuple[int, int], int] = {}
    tgt_docs = {i for i, _, s in rows if s == target_source}
    for i, text, _ in rows:
        w = " ".join(text.split()).split(" ")
        feats = list(w) + [f"{a} {b}" for a, b in zip(w, w[1:])]
        for f_ in feats:
            k = (i, _py_bucket(f_, buckets))
            per_db[k] = per_db.get(k, 0) + 1
    braw: dict[int, int] = {}
    btgt: dict[int, int] = {}
    for (i, b), c in per_db.items():
        braw[b] = braw.get(b, 0) + c
        if i in tgt_docs:
            btgt[b] = btgt.get(b, 0) + c
    R = sum(braw.values())
    T = sum(btgt.values())
    ll = {
        b: round(
            math.log((btgt.get(b, 0) + 1.0) / (T + buckets))
            - math.log((r + 1.0) / (R + buckets)),
            4,
        )
        for b, r in braw.items()
    }
    out = {}
    for i in {i for i, _, _ in rows}:
        terms = sorted(
            (b, c * ll[b]) for (d, b), c in per_db.items() if d == i
        )
        acc = 0.0
        for _, t in terms:
            acc = acc + t
        out[i] = acc
    return out


ROWS = [
    (1, "alpha beta gamma alpha beta", "tgt"),
    (2, "alpha beta gamma delta", "tgt"),
    (3, "alpha beta gamma", "raw"),
    (4, "omega psi chi omega psi chi", "raw"),
    (5, "unrelated words entirely different", "raw"),
]


def test_scores_match_python_replica_exactly(spark):
    got = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir.dsir_scores(
            _docs(spark, ROWS), F.col("source") == "tgt", buckets=64
        ).collect()
    }
    want = _py_scores(ROWS, "tgt", 64)
    assert got == want  # bit-exact: same fold order, same rounding


def test_target_like_docs_score_higher(spark):
    got = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir.dsir_scores(
            _docs(spark, ROWS), F.col("source") == "tgt", buckets=64
        ).collect()
    }
    # Doc 3 shares the target vocabulary; docs 4/5 do not.
    assert got[3] > got[4]
    assert got[3] > got[5]
    assert got[1] > got[5]


def test_single_token_and_whitespace_docs(spark):
    rows = [(1, "solo", "tgt"), (2, "  solo  ", "raw"), (3, "a b", "raw")]
    out = dsir.dsir_scores(
        _docs(spark, rows), F.col("source") == "tgt", buckets=16
    ).collect()
    got = {r["doc_id"]: r["dsir_score"] for r in out}
    assert len(got) == 3
    # Docs 1 and 2 normalize identically -> identical scores.
    assert got[1] == got[2]


def test_no_target_rows_degenerates_gracefully(spark):
    out = dsir.dsir_scores(
        _docs(spark, ROWS), F.lit(False), buckets=64
    ).collect()
    # All-raw model: target probs are the uniform prior; scores finite.
    assert len(out) == 5
    assert all(math.isfinite(r["dsir_score"]) for r in out)
