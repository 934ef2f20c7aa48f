"""Sparse retrieval (inverted index / BM25), linear quality
classifier, and PageRank: correctness vs hand-computed values plus
the partitioning-invariance contract of the bit-reproducible folds."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.llm import classify as clf
from nhs_data_pipeline_spark.llm import retrieval as rtv
from nhs_data_pipeline_spark.ops import graph as og


def _docs(spark):
    rows = [
        (1, "apple banana apple cherry"),
        (2, "banana banana cherry"),
        (3, "cherry date elderberry"),
        (4, "apple fig"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


# ---------------------------------------------------------------- index

def test_inverted_index_stats_and_postings(spark):
    out = {r.term: r for r in rtv.inverted_index(_docs(spark)).collect()}
    assert out["apple"].n_occurrences == 3
    assert out["apple"].df == 2
    assert out["apple"].postings == [1, 4]
    assert out["cherry"].df == 3 and out["cherry"].postings == [1, 2, 3]
    assert "" not in out  # empty doc contributes nothing


def test_inverted_index_posting_cap(spark):
    docs = spark.createDataFrame(
        [(i, "shared") for i in range(20)], ["doc_id", "text"]
    )
    out = rtv.inverted_index(docs, k_postings=5).collect()
    assert len(out) == 1
    row = out[0]
    assert row.df == 20 and row.n_occurrences == 20
    assert row.postings == [0, 1, 2, 3, 4]  # capped, smallest ids first


# ---------------------------------------------------------------- bm25

def _bm25_expected(tf, df, n, dl, avgdl, k1=1.2, b=0.75):
    idf = round(math.log(1.0 + (n - df + 0.5) / (df + 0.5)), 6)
    return round(idf * tf * (k1 + 1.0) / (tf + k1 * (1 - b + b * dl / avgdl)), 6)


def test_bm25_single_term_matches_formula(spark):
    docs = _docs(spark)
    qs = spark.createDataFrame([(0, "apple")], ["query_id", "term"])
    got = {r.doc_id: r for r in rtv.bm25_topk(docs, qs, k=10).collect()}
    # corpus: 4 non-empty docs, dl = [4, 3, 3, 2], avgdl = 3.0
    assert set(got) == {1, 4}
    exp1 = _bm25_expected(tf=2, df=2, n=4, dl=4, avgdl=3.0)
    exp4 = _bm25_expected(tf=1, df=2, n=4, dl=2, avgdl=3.0)
    assert abs(got[1].score - exp1) < 1e-9
    assert abs(got[4].score - exp4) < 1e-9
    assert got[1].n_terms_hit == 1
    # higher tf on a slightly longer doc still wins here
    assert got[1].rank == 1 and got[4].rank == 2


def test_bm25_multi_term_sums_and_ranks(spark):
    docs = _docs(spark)
    qs = spark.createDataFrame(
        [(0, "apple"), (0, "cherry")], ["query_id", "term"]
    )
    got = {r.doc_id: r for r in rtv.bm25_topk(docs, qs, k=10).collect()}
    assert got[1].n_terms_hit == 2  # doc 1 has both terms
    both = (
        _bm25_expected(tf=2, df=2, n=4, dl=4, avgdl=3.0)
        + _bm25_expected(tf=1, df=3, n=4, dl=4, avgdl=3.0)
    )
    assert abs(got[1].score - both) < 1e-9
    ranks = {r.doc_id: r.rank for r in got.values()}
    assert ranks[1] == 1  # two-term hit outranks the single-term docs


def test_bm25_topk_cap_and_tiebreak(spark):
    docs = spark.createDataFrame(
        [(i, "same text here") for i in range(10)], ["doc_id", "text"]
    )
    qs = spark.createDataFrame([(0, "same")], ["query_id", "term"])
    out = rtv.bm25_topk(docs, qs, k=3).orderBy("rank").collect()
    assert [r.doc_id for r in out] == [0, 1, 2]  # identical scores: id ties


def test_derived_term_queries_shape(spark):
    qs = rtv.derived_term_queries(
        _docs(spark), n_queries=2, terms_per_query=1, skip_top=0
    ).collect()
    # ranks 1..2 by (freq desc, term): cherry (3), apple/banana (3)...
    # frequency ties break on the term, so the set is deterministic
    assert [(r.query_id, r.term) for r in sorted(qs, key=lambda r: r.query_id)] == [
        (0, "apple"), (1, "banana")
    ]


def test_bm25_partitioning_invariance(spark):
    docs = _docs(spark)
    qs = spark.createDataFrame(
        [(0, "apple"), (0, "cherry"), (1, "banana")], ["query_id", "term"]
    )
    a = rtv.bm25_topk(docs, qs, k=10)
    b = rtv.bm25_topk(docs.repartition(7, "doc_id"), qs, k=10)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------- classifier

def test_classifier_deterministic_and_total(spark):
    docs = _docs(spark)
    out = {r.doc_id: r for r in clf.linear_quality_scores(docs).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # every doc scored, incl. empty
    assert out[5].n_tokens == 0 and out[5].logit is None and out[5].keep is False
    assert out[1].n_tokens == 4
    assert out[1].keep == (out[1].logit >= 0)
    # same bag of tokens in a different doc scores from the same buckets
    again = {r.doc_id: r for r in clf.linear_quality_scores(docs).collect()}
    assert out[1].logit == again[1].logit  # bit-stable across runs


def test_classifier_partitioning_invariance(spark):
    docs = _docs(spark)
    a = clf.linear_quality_scores(docs).collect()
    b = clf.linear_quality_scores(docs.repartition(5, "doc_id")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_classifier_weight_range(spark):
    rows = [(i, f"tok{i} tok{i+1} tok{i*7}") for i in range(50)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = clf.linear_quality_scores(docs).collect()
    assert all(-0.5 <= r.logit <= 0.5 for r in out)  # mean of [-0.5, 0.5]


# ---------------------------------------------------------------- pagerank

def test_pagerank_two_node_cycle(spark):
    e = spark.createDataFrame([(1, 2, 1), (2, 1, 1)], ["src", "dst", "w"])
    out = {r.node: r.pr for r in og.pagerank(e, iterations=5).collect()}
    # symmetric cycle: the uniform vector is the fixed point
    assert abs(out[1] - 0.5) < 1e-9 and abs(out[2] - 0.5) < 1e-9


@pytest.mark.slow
def test_pagerank_sink_gets_mass(spark):
    # star: 1->3, 2->3 ; 3->1 back-edge keeps everyone non-dangling
    e = spark.createDataFrame(
        [(1, 3, 1), (2, 3, 1), (3, 1, 1)], ["src", "dst", "w"]
    )
    out = {r.node: r.pr for r in og.pagerank(e, iterations=20).collect()}
    assert out[3] > out[1] > out[2]  # hub > its successor > leaf
    assert abs(sum(out.values()) - 1.0) < 1e-6  # closed graph conserves mass


@pytest.mark.slow
def test_pagerank_weighted_edges_split_mass(spark):
    # 1 sends 3x more weight to 2 than to 3
    e = spark.createDataFrame(
        [(1, 2, 3), (1, 3, 1), (2, 1, 1), (3, 1, 1)], ["src", "dst", "w"]
    )
    out = {r.node: r.pr for r in og.pagerank(e, iterations=20).collect()}
    assert out[2] > out[3]
    # weighted contribution ratio: (pr2 - teleport) ~= 3 * (pr3 - teleport)
    t = 0.15 / 3
    assert abs((out[2] - t) / (out[3] - t) - 3.0) < 1e-3


def test_pagerank_parallel_edges_preaggregate(spark):
    e1 = spark.createDataFrame(
        [(1, 2, 1), (1, 2, 2), (2, 1, 3)], ["src", "dst", "w"]
    )
    e2 = spark.createDataFrame([(1, 2, 3), (2, 1, 3)], ["src", "dst", "w"])
    a = {r.node: r.pr for r in og.pagerank(e1, iterations=4).collect()}
    b = {r.node: r.pr for r in og.pagerank(e2, iterations=4).collect()}
    assert a == b


@pytest.mark.slow
def test_pagerank_partitioning_invariance(spark):
    rows = [(i, (i * 3 + 1) % 17, 1 + i % 4) for i in range(17)]
    e = spark.createDataFrame(rows, ["src", "dst", "w"])
    a = og.pagerank(e, iterations=5).collect()
    b = og.pagerank(e.repartition(11, "src"), iterations=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ------------------------------------------------- python replicas

def test_bm25_matches_python_replica(spark):
    import itertools, random
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 15))))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    qrows = [(0, "w1"), (0, "w2"), (1, "w3"), (1, "w1"), (2, "w7")]
    qs = spark.createDataFrame(qrows, ["query_id", "term"])
    got = {
        (r.query_id, r.doc_id): (r.n_terms_hit, r.score, r.rank)
        for r in rtv.bm25_topk(docs, qs, k=1000).collect()
    }

    # pure-python replica: same tokenization, same rounding, same fold
    toks = {i: t.split() for i, t in rows if t}
    n = len([1 for w in toks.values() if w])
    avgdl = sum(len(w) for w in toks.values()) / n
    dfreq = {}
    for w in toks.values():
        for term in set(w):
            dfreq[term] = dfreq.get(term, 0) + 1
    exp = {}
    for qid, qterms in itertools.groupby(sorted(qrows), key=lambda x: x[0]):
        terms = sorted({t for _, t in qterms})
        for d, w in toks.items():
            contribs = []
            for term in terms:  # term order == fold order
                tf = w.count(term)
                if tf == 0:
                    continue
                idf = round(math.log(1.0 + (n - dfreq[term] + 0.5) / (dfreq[term] + 0.5)), 6)
                c = round(idf * tf * (1.2 + 1.0)
                          / (tf + 1.2 * ((1.0 - 0.75) + (0.75 * len(w)) / avgdl)), 6)
                contribs.append(c)
            if contribs:
                s = 0.0
                for c in contribs:
                    s = s + c
                exp[(qid, d)] = (len(contribs), s)
    assert set(got) == set(exp)
    for k, (nh, s) in exp.items():
        assert got[k][0] == nh
        assert got[k][1] == s  # bit-exact: same IEEE fold


def test_pagerank_matches_python_replica(spark):
    import random
    rng = random.Random(11)
    edges = [
        (rng.randint(0, 9), rng.randint(0, 9), rng.randint(1, 5))
        for _ in range(25)
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r.node: r.pr
        for r in og.pagerank(e, iterations=5).collect()
    }

    agg = {}
    for s, d, w in edges:
        agg[(s, d)] = agg.get((s, d), 0) + w
    outw = {}
    for (s, _), w in agg.items():
        outw[s] = outw.get(s, 0) + w
    nodes = sorted({s for s, _ in agg} | {d for _, d in agg})
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        inc = {v: [] for v in nodes}
        for (s, d), w in agg.items():
            inc[d].append((s, pr[s] * w / outw[s]))
        nxt = {}
        for v in nodes:
            acc = 0.0
            for _, c in sorted(inc[v]):  # src order == fold order
                acc = acc + c
            nxt[v] = round((1.0 - 0.85) / n + 0.85 * acc, 9)
        pr = nxt
    assert got == pr  # bit-exact


def test_bm25_duplicate_query_terms_deduped(spark):
    docs = _docs(spark)
    qs = spark.createDataFrame(
        [(0, "apple"), (0, "apple")], ["query_id", "term"]
    )
    got = {r.doc_id: r for r in rtv.bm25_topk(docs, qs, k=10).collect()}
    assert got[1].n_terms_hit == 1  # not double-counted


def test_graph_edge_cap_refuses_never_truncates(spark, monkeypatch):
    monkeypatch.setattr(og, "_EDGE_CAP", 3)
    rows = [(1, 2, 1), (2, 3, 1), (3, 1, 1)]
    e3 = spark.createDataFrame(rows, ["src", "dst", "w"])
    assert og.pagerank(e3, iterations=2).count() == 3
    e4 = spark.createDataFrame(rows + [(1, 3, 1)], ["src", "dst", "w"])
    with pytest.raises(RuntimeError, match="pagerank"):
        og.pagerank(e4, iterations=2)
    p3 = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    assert og.connected_components(p3).count() == 5
    p4 = spark.createDataFrame([(1, 2), (2, 3), (4, 5), (5, 6)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="connected_components"):
        og.connected_components(p4)


def test_pagerank_and_component_frames_scan_local_tables(spark):
    # driver-built results ship as one Arrow table: no pickled RDD
    e = spark.createDataFrame([(1, 2, 1.0), (2, 1, 1.0)], "src bigint, dst bigint, w double")
    p = spark.createDataFrame([(1, 2), (4, 3)], "id_a bigint, id_b bigint")
    for out, schema in [
        (og.pagerank(e, iterations=2), [("node", "bigint"), ("pr", "double")]),
        (og.connected_components(p), [("id", "bigint"), ("component", "bigint")]),
    ]:
        assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == [
            (n, t, True) for n, t in schema
        ]
        leaf = out._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in leaf and "ExistingRDD" not in leaf, leaf


@pytest.mark.parametrize("name", [
    "quality_benford_digits",  # ops/quality.py::benford_audit
    "o5_quantile_bands",  # ops/analytics.py::group_weighted_quantiles
    "sketch_quantile_hist",  # ops/sketch.py::histogram_quantiles
    "classifier_logreg_fit",  # llm/classify.py::logreg_fit
    "eval_isotonic_calibration",  # llm/classify.py::isotonic_calibrate
    "embed_kcenter_coreset",  # llm/cluster.py::kcenter_coreset
    "embed_pca_power",  # llm/pca.py::power_pca
    "orgchange_adjust_panel",  # the registry's hand-built lookup
])
def test_registry_driver_built_frames_scan_local_tables(spark, sf_dir, name):
    # every driver-built frame in these plans ships as one Arrow table
    from nhs_data_pipeline_spark.queries import QUERIES

    plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_pagerank_null_endpoint_edges_dropped(spark):
    e = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (None, 1, 9), (1, None, 9)],
        "src bigint, dst bigint, w bigint",
    )
    out = {r.node: r.pr for r in og.pagerank(e, iterations=5).collect()}
    assert set(out) == {1, 2}
    assert abs(out[1] - 0.5) < 1e-9  # the NULL edges had no effect


# ------------------------------------------------- count-min sketch

def _tok_stream(spark, rows):
    return spark.createDataFrame(rows, ["shard", "term"])


def test_cm_never_undercounts_and_exact_when_sparse(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    rows = [("a", f"t{i % 7}") for i in range(70)] + [("b", "t0")] * 5
    toks = _tok_stream(spark, rows)
    merged = sk.cm_merge(sk.cm_sketch(toks, "term", d=3, w=512, shard_cols=["shard"]))
    true = toks.groupBy("term").agg(F.count("*").alias("true_n"))
    est = {r.term: (r.true_n, r.est_n)
           for r in sk.cm_estimate(merged, true, "term", d=3, w=512).collect()}
    assert all(e >= t for t, e in est.values())
    # 7 keys in 512 buckets x 3 rows: min-row is collision-free
    assert all(e == t for t, e in est.values())
    assert est["t0"] == (15, 15)  # cross-shard merge summed both shards


def test_cm_merge_equals_direct_sketch(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    rows = [(f"s{i % 3}", f"k{i % 11}") for i in range(200)]
    toks = _tok_stream(spark, rows)
    merged = sk.cm_merge(sk.cm_sketch(toks, "term", d=3, w=64, shard_cols=["shard"]))
    direct = sk.cm_sketch(toks, "term", d=3, w=64)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_cm_collision_overcounts_visibly(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    # w=1: every key collides into one bucket per row -> est = total stream
    rows = [("a", f"k{i}") for i in range(10)]
    toks = _tok_stream(spark, rows)
    merged = sk.cm_merge(sk.cm_sketch(toks, "term", d=2, w=1))
    cand = toks.select("term").distinct()
    est = sk.cm_estimate(merged, cand, "term", d=2, w=1).collect()
    assert all(r.est_n == 10 for r in est)


# ------------------------------------------------- k-means fit

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_kmeans_separates_clear_clusters(spark):
    from nhs_data_pipeline_spark.llm import cluster as cl
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [0.2, 0.1]),
            (3, [10.1, 9.9]), (4, [0.1, 0.2]), (5, [9.9, 10.2])]
    out = {r.cid: r for r in cl.kmeans_fit(_vecs(spark, rows), k=2, iterations=3).collect()}
    assert {r.n_vectors for r in out.values()} == {3, 3}
    # centroid 0 seeded at vec 0 -> converges to the origin cluster mean
    assert abs(out[0].centroid[0] - 0.1) < 1e-6
    assert abs(out[1].centroid[0] - 10.0) < 1e-6


def test_kmeans_empty_cluster_keeps_centroid(spark):
    from nhs_data_pipeline_spark.llm import cluster as cl
    # two identical seed vectors: round-1 ties all break to cid 0, so
    # cid 1 starves during the update — it must keep its init centroid
    # (not vanish / go NULL), which lets it recapture the exact-match
    # points in the final assignment
    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 0.1])]
    out = {r.cid: r for r in cl.kmeans_fit(_vecs(spark, rows), k=2, iterations=1).collect()}
    assert set(out) == {0, 1}  # starved cluster still present
    assert out[1].centroid == [0.0, 0.0]  # init centroid kept, not NULL
    # final assignment: the kept [0,0] centroid wins the two exact-match
    # vectors back from the updated c0 = [0, 0.033333]
    assert out[1].n_vectors == 2 and out[0].n_vectors == 1


def test_kmeans_matches_python_replica(spark):
    import random
    from nhs_data_pipeline_spark.llm import cluster as cl
    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    import numpy as np
    f32 = [(i, [float(np.float32(v)) for v in xs]) for i, xs in rows]
    got = {r.cid: (r.n_vectors, list(r.centroid))
           for r in cl.kmeans_fit(_vecs(spark, f32), k=3, iterations=2).collect()}

    # replica: same quantization, same fold order, same tie-breaks
    X = {i: [round(float(np.float32(v)), 6) for v in xs] for i, xs in rows}
    cent = {c: X[i] for c, i in enumerate(sorted(X)[:3])}

    def assign():
        a = {}
        for i, x in X.items():
            best = None
            for c in sorted(cent):
                d = 0.0
                for xa, ca in zip(x, cent[c]):
                    d = d + (xa - ca) * (xa - ca)
                if best is None or d < best[0]:
                    best = (d, c)
            a[i] = best[1]
        return a

    for _ in range(2):
        a = assign()
        nxt = {}
        for c in cent:
            members = [X[i] for i in a if a[i] == c]
            if not members:
                nxt[c] = cent[c]
                continue
            from decimal import Decimal
            nxt[c] = [
                round(float(sum(Decimal(f"{m[d]:.6f}") for m in members))
                      / len(members), 6)
                for d in range(8)
            ]
        cent = nxt
    a = assign()
    sizes = {c: sum(1 for i in a if a[i] == c) for c in cent}
    for c in cent:
        assert got[c][0] == sizes[c]
        assert got[c][1] == cent[c]  # bit-exact trajectory


def test_kmeans_partitioning_invariance(spark):
    from nhs_data_pipeline_spark.llm import cluster as cl
    rows = [(i, [float((i * 7 + d) % 5) for d in range(4)]) for i in range(30)]
    v = _vecs(spark, rows)
    a = cl.kmeans_fit(v, k=3, iterations=2).collect()
    b = cl.kmeans_fit(v.repartition(9, "vec_id"), k=3, iterations=2).collect()
    key = lambda r: r.cid
    assert sorted(map(tuple, a), key=lambda t: t[0]) == sorted(map(tuple, b), key=lambda t: t[0])


def test_silhouette_clear_clusters(spark):
    from nhs_data_pipeline_spark.llm import cluster as cl
    rows = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [0.2, 0.1]),
            (3, [10.1, 9.9]), (4, [0.1, 0.2]), (5, [9.9, 10.2])]
    out = {r.cid: r for r in
           cl.silhouette_by_cluster(_vecs(spark, rows), k=2, iterations=3).collect()}
    assert {r.n_vectors for r in out.values()} == {3, 3}
    # tight, well-separated clusters: near-perfect silhouette, tiny
    # own-centroid distances
    for r in out.values():
        assert r.mean_silhouette > 0.95, r
        assert r.mean_dist < 0.3, r


def test_silhouette_single_cluster_is_zero(spark):
    from nhs_data_pipeline_spark.llm import cluster as cl
    # k=1: no second centroid exists, b is NULL -> silhouette defined 0
    rows = [(i, [float(i), 1.0]) for i in range(5)]
    out = cl.silhouette_by_cluster(_vecs(spark, rows), k=1, iterations=1).collect()
    assert len(out) == 1
    assert out[0].n_vectors == 5
    assert out[0].mean_silhouette == 0.0


def test_silhouette_python_replica(spark):
    import math
    import random

    import numpy as np
    from nhs_data_pipeline_spark.llm import cluster as cl

    rng = random.Random(11)
    rows = [(i, [float(np.float32(rng.uniform(-1, 1))) for _ in range(4)])
            for i in range(30)]
    got = {r.cid: r for r in
           cl.silhouette_by_cluster(_vecs(spark, rows), k=3, iterations=2).collect()}
    # independent replica from the fitted centroids (trajectory is
    # pinned by test_kmeans_matches_python_replica; here we pin the
    # silhouette arithmetic itself)
    cent = {r.cid: list(r.centroid) for r in
            cl.kmeans_fit(_vecs(spark, rows), k=3, iterations=2).collect()}
    X = {i: [round(v, 6) for v in xs] for i, xs in rows}
    agg: dict[int, list[tuple[int, int]]] = {}
    for i, x in X.items():
        ds = sorted(
            (sum((a - b) * (a - b) for a, b in zip(x, c)), cid)
            for cid, c in cent.items()
        )
        (a2, own), (b2, _) = ds[0], ds[1]
        sa, sb = math.sqrt(a2), math.sqrt(b2)
        s_m = int(math.floor((sb - sa) / sb * 1e6 + 0.5)) if sb > 0 else 0
        a_m = int(math.floor(sa * 1e6 + 0.5))
        agg.setdefault(own, []).append((s_m, a_m))
    for cid, pairs in agg.items():
        n = len(pairs)
        exp_sil = math.floor(sum(p[0] for p in pairs) / n + 0.5) / 1e6
        exp_dist = math.floor(sum(p[1] for p in pairs) / n + 0.5) / 1e6
        assert got[cid].n_vectors == n
        assert got[cid].mean_silhouette == exp_sil
        assert got[cid].mean_dist == exp_dist


def test_engine_fit_centroids_drive_ivf_exactly_like_bruteforce(spark):
    import random
    from nhs_data_pipeline_spark.llm import cluster as cl
    from nhs_data_pipeline_spark.llm import similarity as sim
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    vecs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    fit = cl.kmeans_fit(vecs, k=4, iterations=2).collect()
    centers = [list(r.centroid) for r in sorted(fit, key=lambda r: r.cid)]
    assert len(centers) == 4 and all(len(c) == 8 for c in centers)
    qs = vecs.limit(5)
    # probing ALL cells with the engine-fit quantizer == brute force
    ivf = sim.ivf_topk(qs, vecs, k=3, n_centroids=4, n_probe=4, centroids=centers)
    bf = sim.brute_force_topk(qs, vecs, k=3)
    a = sorted((r.query_id, r.neighbor_id, r.rank) for r in ivf.collect())
    b = sorted((r.query_id, r.neighbor_id, r.rank) for r in bf.collect())
    assert a == b


def test_pii_redact_masks_all_patterns(spark):
    from nhs_data_pipeline_spark.llm import text as tx2
    rows = [(1, "mail me at bob.smith+x@corp.io from 192.168.1.10 "
                "or call +44 7700 900123 ref 1234567890"),
            (2, "clean text with no sensitive content"),
            (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.red for r in df.select(
        "doc_id", tx2.pii_redact("text").alias("red")).collect()}
    assert "<EMAIL>" in out[1] and "<IPV>" in out[1] and "<PHONE>" in out[1]
    # the chain-safety invariant: REAL placeholders are digit-free
    placeholders = "".join(tx2.pii_placeholder(n) for n in tx2.PII_PATTERNS)
    assert not any(ch.isdigit() for ch in placeholders)
    assert "@" not in out[1] and "900123" not in out[1]
    assert "1234567890" not in out[1]  # phone/long-digits swallowed it
    assert out[2] == rows[1][1]  # untouched
    assert out[3] == ""


# ------------------------------------------------- BPE merge learning

def test_bpe_learns_expected_merges(spark):
    from nhs_data_pipeline_spark.llm import bpe
    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        ["doc_id", "text"])
    out = [(r.it, r.left_sym, r.right_sym, r.pair_count)
           for r in bpe.bpe_merges(docs, n_merges=4).orderBy("it").collect()]
    # word types: low(3) lower(1) lowest(1) new(2) newer(1) newest(1)
    assert out == [(1, "l", "o", 5), (2, "lo", "w", 5),
                   (3, "e", "w", 4), (4, "n", "ew", 4)]


def test_bpe_chained_merge_is_greedy_left_to_right(spark):
    from nhs_data_pipeline_spark.llm import bpe
    docs = spark.createDataFrame([(1, "aaaa aaaa aa")], ["doc_id", "text"])
    out = [(r.it, r.left_sym, r.right_sym, r.pair_count)
           for r in bpe.bpe_merges(docs, n_merges=2).orderBy("it").collect()]
    # 'aaaa' (n=2) has 3 adjacent (a,a) each; 'aa' (n=1) has 1 -> 7
    assert out[0] == (1, "a", "a", 7)
    # after merge: 'aaaa' -> [aa, aa] (chained, not [aa, a, a]);
    # 'aa' -> [aa]; next round the only pair is (aa, aa) weighted 2
    assert out[1] == (2, "aa", "aa", 2)


def test_bpe_matches_python_replica(spark):
    import random
    from nhs_data_pipeline_spark.llm import bpe
    rng = random.Random(9)
    words = ["".join(rng.choice("abc") for _ in range(rng.randint(1, 6)))
             for _ in range(80)]
    docs = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    got = [(r.it, r.left_sym, r.right_sym, r.pair_count)
           for r in bpe.bpe_merges(docs, n_merges=3).orderBy("it").collect()]

    from collections import Counter
    vocab = Counter(words)
    state = {w: list(w) for w in vocab}
    exp = []
    for it in range(1, 4):
        pc = Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += vocab[w]
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        exp.append((it, a, b, c))
        for w, syms in state.items():
            out_syms = []
            for s in syms:
                if out_syms and out_syms[-1] == a and s == b:
                    out_syms[-1] = a + b
                else:
                    out_syms.append(s)
            state[w] = out_syms
    assert got == exp


# ------------------------------------------------- BPE encode/apply

def test_bpe_token_counts_matches_hand_computation(spark):
    from nhs_data_pipeline_spark.llm import bpe
    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new"),
         (3, "   ")],
        ["doc_id", "text"])
    merges, vocab = bpe.bpe_train_encode(docs, n_merges=4)
    out = {r.doc_id: (r.n_words, r.n_bpe_tokens)
           for r in bpe.bpe_token_counts(
               docs, merges, encoded_vocab=vocab).collect()}
    # merges: (l,o) (lo,w) (e,w) (n,ew); encodings: low->1, lower->3,
    # lowest->4, new->1, newer->3, newest->4 tokens
    assert out == {1: (5, 3 * 1 + 3 + 4), 2: (4, 2 * 1 + 3 + 4), 3: (0, 0)}


def test_bpe_apply_equals_train_encode(spark):
    # The standalone rank-ordered apply loop must reproduce the
    # training state exactly (tokenizer_bpe_encode's shortcut relies
    # on this equivalence).
    import random
    from nhs_data_pipeline_spark.llm import bpe
    rng = random.Random(21)
    words = ["".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
             for _ in range(60)]
    docs = spark.createDataFrame([(1, " ".join(words))], ["doc_id", "text"])
    merges, vocab = bpe.bpe_train_encode(docs, n_merges=4)
    applied = bpe.bpe_apply(vocab.select("word"), merges)
    a = {r.word: list(r.tokens) for r in vocab.collect()}
    b = {r.word: list(r.tokens) for r in applied.collect()}
    assert a == b


def test_bpe_apply_encodes_unseen_words(spark):
    from nhs_data_pipeline_spark.llm import bpe
    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        ["doc_id", "text"])
    merges = bpe.bpe_merges(docs, n_merges=4)
    new_words = spark.createDataFrame([("slow",), ("wen",)], ["word"])
    out = {r.word: list(r.tokens)
           for r in bpe.bpe_apply(new_words, merges).collect()}
    # (l,o) then (lo,w): slow -> [s, low]; no rule matches wen
    assert out == {"slow": ["s", "low"], "wen": ["w", "e", "n"]}


def test_bpe_apply_rejects_gapped_rank_table(spark):
    from nhs_data_pipeline_spark.llm import bpe
    merges = spark.createDataFrame(
        [(1, "a", "b", 5), (3, "ab", "c", 2)],
        "it int, left_sym string, right_sym string, pair_count bigint")
    words = spark.createDataFrame([("abc",)], ["word"])
    with pytest.raises(ValueError, match="contiguous"):
        bpe.bpe_apply(words, merges)


def test_bpe_exhausted_vocabulary_stops_cleanly(spark):
    # Vocabulary with exactly one learnable merge: round 2 has no
    # pairs left. The loop must stop with the merges learned so far —
    # an empty winner crossJoined into the state would silently empty
    # the vocabulary and truncate the table without error.
    from nhs_data_pipeline_spark.llm import bpe
    docs = spark.createDataFrame([(1, "ab ab ab")], ["doc_id", "text"])
    out = [(r.it, r.left_sym, r.right_sym, r.pair_count)
           for r in bpe.bpe_merges(docs, n_merges=5).orderBy("it").collect()]
    assert out == [(1, "a", "b", 3)]


def test_bpe_no_pairs_at_all_returns_empty(spark):
    from nhs_data_pipeline_spark.llm import bpe
    docs = spark.createDataFrame([(1, "a b c a")], ["doc_id", "text"])
    out = bpe.bpe_merges(docs, n_merges=3)
    assert out.count() == 0
    assert out.columns == ["it", "left_sym", "right_sym", "pair_count"]


# --------------------------------------------- logreg training

def test_logreg_fit_matches_python_replica(spark):
    import random
    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(15)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 10))),
             rng.randint(0, 1)) for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "y"])
    B, T, LR = 8, 3, 0.5
    got = {r.bucket: r.weight
           for r in clf.logreg_fit(docs, "y", buckets=B, iterations=T,
                                   lr=LR).collect()}

    # feature replica: same md5-prefix bucket hash
    import hashlib
    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B
    feats, labels = {}, {}
    for i, txt, y in rows:
        toks = txt.lower().split()
        if not toks:
            continue
        f = {}
        for t in toks:
            b = bucket(t)
            f[b] = f.get(b, 0) + 1
        f[-1] = 1  # bias
        feats[i] = f
        labels[i] = y
    # Spark rounds HALF_UP; python round() is banker's — use Decimal
    from decimal import ROUND_HALF_UP, Decimal

    def _rhu(x, exp):
        return float(Decimal(repr(x)).quantize(Decimal(exp), ROUND_HALF_UP))

    n = len(feats)
    w = {b: 0.0 for b in range(-1, B)}
    for _ in range(T):
        err_num = {}
        for d, f in feats.items():
            z = 0.0
            for b in sorted(f):  # bucket order == fold order
                z = z + w[b] * f[b]
            import math as m
            p_num = int(_rhu(1.0 / (1.0 + m.exp(-z)) * 1000000.0, "1"))
            err_num[d] = labels[d] * 1000000 - p_num
        for b in w:
            g = sum(f.get(b, 0) * err_num[d] for d, f in feats.items())
            w[b] = _rhu(w[b] + LR * (float(g) / float(1000000 * n)), "1e-9")
    assert set(got) == set(w)
    for b in w:
        assert abs(got[b] - w[b]) < 1e-9, (b, got[b], w[b])


def test_logreg_learns_separable_classes(spark):
    # Perfectly separable vocabulary: positive docs say "good",
    # negative docs say "bad". After training, scoring with the
    # learned weights must order every positive above every negative.
    rows = [(i, "good good good", 1) for i in range(10)] + \
           [(10 + i, "bad bad bad", 0) for i in range(10)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "y"])
    w = {r.bucket: r.weight
         for r in clf.logreg_fit(docs, "y", buckets=16, iterations=10,
                                 lr=1.0).collect()}
    import hashlib
    bg = int(hashlib.md5(b"good").hexdigest()[:15], 16) % 16
    bb = int(hashlib.md5(b"bad").hexdigest()[:15], 16) % 16
    assert w[bg] > 0 > w[bb]


def test_logreg_empty_docs_excluded_from_n(spark):
    # A doc with no tokens must not dilute the gradient step (it is
    # not in the training set at all).
    rows_a = [(1, "x y", 1), (2, "z", 0)]
    rows_b = rows_a + [(3, "   ", 1)]
    a = {r.bucket: r.weight
         for r in clf.logreg_fit(
             spark.createDataFrame(rows_a, ["doc_id", "text", "y"]),
             "y", buckets=8, iterations=2).collect()}
    b = {r.bucket: r.weight
         for r in clf.logreg_fit(
             spark.createDataFrame(rows_b, ["doc_id", "text", "y"]),
             "y", buckets=8, iterations=2).collect()}
    assert a == b


# --------------------------------------------- review-fix regressions

def test_classifier_is_case_insensitive_like_its_oracle(spark):
    # the oracle tokenizes lower(text); the engine must agree or the
    # first regenerated corpus with an uppercase char fails the gate
    docs = spark.createDataFrame(
        [(1, "Apple Banana"), (2, "apple banana")], ["doc_id", "text"])
    out = {r.doc_id: r.logit for r in clf.linear_quality_scores(docs).collect()}
    assert out[1] == out[2]


def test_cm_estimate_unseen_candidate_is_zero_not_dropped(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    toks = _tok_stream(spark, [("a", "present")] * 5)
    merged = sk.cm_merge(sk.cm_sketch(toks, "term", d=3, w=512))
    cand = spark.createDataFrame(
        [("present",), ("never_seen_key",)], ["term"])
    est = {r.term: r.est_n
           for r in sk.cm_estimate(merged, cand, "term", d=3, w=512).collect()}
    assert est["present"] == 5
    assert est["never_seen_key"] == 0  # empty counters win the min


def test_cm_null_key_counted_via_sentinel(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    toks = spark.createDataFrame(
        [("a", "x"), ("a", None), ("a", None)], ["shard", "term"])
    merged = sk.cm_merge(sk.cm_sketch(toks, "term", d=2, w=512))
    cand = spark.createDataFrame([("x",), (None,)], "term string")
    est = {r.term: r.est_n
           for r in sk.cm_estimate(merged, cand, "term", d=2, w=512).collect()}
    assert est["x"] == 1
    assert est[None] == 2  # NULL keys hash via the sentinel, not dropped


# ------------------------------------------------- weighted sampling

def test_weighted_ares_matches_python_replica(spark):
    import hashlib
    from nhs_data_pipeline_spark.ops import sampling as smp
    rows = [(i, "s%d" % (i % 2), (i * 13) % 40 + 1) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"])
    got = sorted((r.source, r.doc_id, r.weight, r.rank) for r in
                 smp.weighted_sample_ares(df, "w", 2, "doc_id", "source").collect())

    def key(i, w):
        h = int(hashlib.md5(f"{i}:w0".encode()).hexdigest()[:8], 16)
        u = (h + 1) / float(2**32 + 2)
        return round(math.log(u), 6) / w
    exp = []
    for s in ("s0", "s1"):
        members = sorted(((key(i, w), i, w) for i, src, w in rows if src == s),
                         key=lambda t: (-t[0], t[1]))
        exp += [(s, i, w, r + 1) for r, (_, i, w) in enumerate(members[:2])]
    assert got == sorted(exp)


def test_weighted_ares_nonpositive_weights_lose(spark):
    from nhs_data_pipeline_spark.ops import sampling as smp
    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, None), (4, 5)], "doc_id bigint, w bigint")
    out = smp.weighted_sample_ares(df, "w", 2, "doc_id").collect()
    assert {r.doc_id for r in out} == {1, 4}  # zero/NULL weights never win


def test_weighted_ares_partitioning_invariance(spark):
    from nhs_data_pipeline_spark.ops import sampling as smp
    rows = [(i, "s", i % 7 + 1) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"])
    a = smp.weighted_sample_ares(df, "w", 5, "doc_id", "source").collect()
    b = smp.weighted_sample_ares(
        df.repartition(11, "doc_id"), "w", 5, "doc_id", "source").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_weighted_ares_heavy_weight_dominates(spark):
    from nhs_data_pipeline_spark.ops import sampling as smp
    rows = [(i, 1) for i in range(50)] + [(99, 10_000_000)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    out = smp.weighted_sample_ares(df, "w", 1, "doc_id").collect()
    # P(miss) ~ sum(w_small)/w_big ~ 5e-6 under this fixed seed: the
    # heavy row's key ln(u)/1e7 is ~0 while light keys are ~ln(u)
    assert out[0].doc_id == 99


# ------------------------------------------------- label propagation

def _sym(spark, rows):
    e = spark.createDataFrame(rows, ["src", "dst", "w"])
    return e.unionByName(e.selectExpr("dst as src", "src as dst", "w"))


def test_label_prop_finds_two_communities(spark):
    e = _sym(spark, [(1, 2, 5), (2, 3, 5), (3, 1, 5),
                     (10, 11, 5), (11, 12, 5), (12, 10, 5), (3, 10, 1)])
    out = {r.node: r.label for r in og.label_propagation(e, 5).collect()}
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11] == out[12]
    assert out[1] != out[10]  # the weak bridge does not merge them


def test_label_prop_tiebreak_smallest_label(spark):
    # node 2 hears label 1 and label 3 with equal weight -> adopts 1
    e = _sym(spark, [(1, 2, 5), (3, 2, 5)])
    out = {r.node: r.label for r in og.label_propagation(e, 1).collect()}
    assert out[2] == 1


@pytest.mark.slow
def test_label_prop_partitioning_invariance(spark):
    rows = [(i, (i * 5 + 2) % 23, 1 + i % 3) for i in range(23)]
    a = og.label_propagation(_sym(spark, rows), 4).collect()
    b = og.label_propagation(_sym(spark, rows).repartition(7, "src"), 4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_label_prop_null_edges_dropped(spark):
    e = spark.createDataFrame(
        [(1, 2, 5), (2, 1, 5), (None, 1, 99), (2, None, 99)],
        "src bigint, dst bigint, w bigint")
    out = {r.node: r.label for r in og.label_propagation(e, 3).collect()}
    assert set(out) == {1, 2}


def test_weighted_ares_subnormal_weight_still_beats_zero(spark):
    # a finite sentinel is NOT a floor: ln(u)/1e-308 overflows past any
    # finite constant; only -inf keeps zero/NULL weights strictly last
    from nhs_data_pipeline_spark.ops import sampling as smp
    df = spark.createDataFrame(
        [(1, 1e-308), (2, 0.0), (3, None)], "doc_id bigint, w double")
    out = smp.weighted_sample_ares(df, "w", 1, "doc_id").collect()
    assert out[0].doc_id == 1


# ------------------------------------------------- portable HLL

def test_hll_portable_estimate_accuracy(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    n = 5000
    df = spark.createDataFrame([(f"user{i}",) for i in range(n)], ["k"])
    reg = sk.hll_register_table(df, "k", p=10)
    est = sk.hll_estimate(sk.hll_merge(reg), p=10).collect()[0].hll_estimate
    # standard error ~ 1.04/sqrt(1024) ~ 3.3%; allow 3 sigma
    assert abs(est - n) / n < 0.10


def test_hll_merge_equals_direct(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    rows = [(f"s{i % 4}", f"u{i % 97}") for i in range(500)]
    df = spark.createDataFrame(rows, ["shard", "k"])
    merged = sk.hll_merge(sk.hll_register_table(df, "k", p=10, shard_cols=["shard"]))
    direct = sk.hll_register_table(df, "k", p=10)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, direct.collect()))


def test_hll_small_range_linear_counting(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    df = spark.createDataFrame([(f"x{i}",) for i in range(20)], ["k"])
    est = sk.hll_estimate(sk.hll_merge(sk.hll_register_table(df, "k")), p=10)
    v = est.collect()[0].hll_estimate
    assert abs(v - 20) < 2  # linear counting is near-exact at 20 << m


def test_hll_null_keys_counted_once(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    df = spark.createDataFrame([("a",), (None,), (None,)], "k string")
    est = sk.hll_estimate(sk.hll_merge(sk.hll_register_table(df, "k")), p=10)
    v = est.collect()[0].hll_estimate
    assert abs(v - 2) < 1  # a + the NULL sentinel = 2 distinct


# ------------------------------------------------- histogram quantiles

def test_hist_quantiles_accuracy_within_bin_width(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    rows = [("g", float(i)) for i in range(1, 1001)]  # uniform 1..1000
    df = spark.createDataFrame(rows, ["g", "v"])
    counts, bounds = sk.histogram_sketch(df, "v", bins=64, group_cols=["g"])
    out = {r.q: r for r in sk.histogram_quantiles(
        sk.histogram_merge(counts, ["g"]), bounds, [0.5, 0.9], 64, ["g"]).collect()}
    width = 999.0 / 64
    assert abs(out[0.5].est - 500.0) <= width
    assert abs(out[0.9].est - 900.0) <= width
    assert out[0.5].n == 1000


def test_hist_merge_equals_direct(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    rows = [("g", f"d{i % 3}", float(i % 17)) for i in range(200)]
    df = spark.createDataFrame(rows, ["g", "day", "v"])
    sharded, _ = sk.histogram_sketch(df, "v", 16, ["g"], ["day"])
    direct, _ = sk.histogram_sketch(df, "v", 16, ["g"])
    assert sorted(map(tuple, sk.histogram_merge(sharded, ["g"]).collect())) == \
           sorted(map(tuple, direct.collect()))


def test_hist_quantiles_rank_is_exact_integer_ceiling(spark):
    # ceil(0.9 * 10) = 10 in IEEE doubles (0.9*10 -> 9.000000000000002;
    # true ceiling 9): a float rank would skip from rank-9's bin to
    # rank-10's. Nine values in bin 0 and one at the far end make the
    # two ranks land in different bins — the exact-fraction ceiling
    # must pick the low bin.
    from nhs_data_pipeline_spark.ops import sketch as sk
    rows = [("g", 0.0)] * 9 + [("g", 100.0)]
    df = spark.createDataFrame(rows, ["g", "v"])
    counts, bounds = sk.histogram_sketch(df, "v", bins=64, group_cols=["g"])
    out = {r.q: r for r in sk.histogram_quantiles(
        sk.histogram_merge(counts, ["g"]), bounds, [0.9], 64, ["g"]).collect()}
    # r = 9 -> bin 0: est = 0 + (100/64) * (0 + 9/9) = 1.5625.
    # The float-ceil bug gives r = 10 -> bin 63 -> est = 100.0.
    assert out[0.9].est == 1.5625


def test_hist_and_hll_null_group_not_dropped(spark):
    # NULL group keys must survive the bounds/spine joins (the
    # build-notes NULL-key trap): a plain column-list join silently
    # drops the NULL group from histograms and makes its HLL estimate
    # vanish. eqNullSafe joins keep it.
    from nhs_data_pipeline_spark.ops import sketch as sk
    rows = [("a", 1.0), ("a", 2.0), (None, 5.0), (None, 7.0), (None, 9.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    counts, bounds = sk.histogram_sketch(df, "v", bins=8, group_cols=["g"])
    qs = sk.histogram_quantiles(
        sk.histogram_merge(counts, ["g"]), bounds, [0.5], 8, ["g"]
    ).collect()
    got = {r.g: r for r in qs}
    assert None in got and got[None].n == 3
    assert got["a"].n == 2

    reg = sk.hll_register_table(df, "v", p=10, shard_cols=["g"])
    est = {r.g: r.hll_estimate
           for r in sk.hll_estimate(sk.hll_merge(reg, ["g"]),
                                    p=10, group_cols=["g"]).collect()}
    assert None in est and abs(est[None] - 3) < 1
    assert abs(est["a"] - 2) < 1


def test_hist_degenerate_single_value_group(spark):
    from nhs_data_pipeline_spark.ops import sketch as sk
    df = spark.createDataFrame([("g", 7.5)] * 5 + [("h", None)],
                               "g string, v double")
    counts, bounds = sk.histogram_sketch(df, "v", 8, ["g"])
    out = sk.histogram_quantiles(
        sk.histogram_merge(counts, ["g"]), bounds, [0.5], 8, ["g"]).collect()
    assert len(out) == 1  # the all-NULL group has no quantile rows
    assert out[0].est == 7.5 and out[0].n == 5  # hi == lo collapses to bin 0


# --------------------------------------------- exact Jaccard join

def test_exact_jaccard_modes_agree_and_match_python(spark):
    import itertools, random
    from nhs_data_pipeline_spark.llm import dedup as dd2
    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(10)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20))))
            for i in range(25)]
    rows.append((25, rows[0][1]))  # exact duplicate -> jaccard 1.0
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    t = 0.5
    got_cj = sorted(map(tuple, dd2.exact_jaccard_join(docs, t).collect()))
    got_pf = sorted(map(tuple,
                        dd2.exact_jaccard_join(docs, t, mode="prefix").collect()))
    assert got_cj == got_pf  # prefix filtering is lossless

    sets = {}
    for i, txt in rows:
        w = txt.split()
        sets[i] = {f"{a} {b}" for a, b in zip(w, w[1:])}
    exp = []
    for a, b in itertools.combinations(sorted(sets), 2):
        if not sets[a] or not sets[b]:
            continue
        i = len(sets[a] & sets[b])
        if i == 0:
            continue
        j = i / (len(sets[a]) + len(sets[b]) - i)
        if j >= t:
            exp.append((a, b, round(j, 6)))
    assert got_cj == sorted(exp)
    assert (0, 25, 1.0) in got_cj  # the planted exact duplicate


def test_exact_jaccard_prefix_survives_float_ceil_overshoot(spark):
    # ceil(0.28 * 25) = 8 in IEEE doubles (exact ceiling is 7): the
    # float form shortens the prefix and silently LOSES this pair.
    # The exact-fraction ceiling must keep modes equal here.
    from nhs_data_pipeline_spark.llm import dedup as dd2
    words = [f"w{i}" for i in range(26)]
    docs = spark.createDataFrame(
        [(0, " ".join(words)),            # 25 bigrams
         (1, " ".join(words[18:]))],      # 7 bigrams, all shared
        ["doc_id", "text"])
    t = 0.28  # J = 7 / 25 = 0.28 exactly on the boundary
    cj = sorted(map(tuple, dd2.exact_jaccard_join(docs, t).collect()))
    pf = sorted(map(tuple, dd2.exact_jaccard_join(docs, t, mode="prefix").collect()))
    assert cj == pf == [(0, 1, 0.28)]


def test_exact_jaccard_rejects_degenerate_threshold(spark):
    import pytest as _pytest
    from nhs_data_pipeline_spark.llm import dedup as dd2
    docs = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        dd2.exact_jaccard_join(docs, 0.0)
    with _pytest.raises(ValueError, match="unknown mode"):
        dd2.exact_jaccard_join(docs, 0.5, mode="bogus")


@pytest.mark.slow
def test_exact_jaccard_auto_dispatches_by_vocabulary_shape(spark):
    """The auto mode must pick countjoin on a DENSE vocabulary (every
    token frequent: truncated rarest-first volume stays a large
    fraction of sum C(df,2)) and prefix on a SPARSE one (near-unique
    bigrams per doc: the rarest-P occupancy has df ~ 1 and the
    estimate collapses), and in both cases return exactly the fixed
    modes' (identical) results."""
    import random

    from nhs_data_pipeline_spark.llm import dedup as dd2

    rng = random.Random(7)
    # dense: 60 docs over a 6-word vocabulary -> df ~ docs
    dense = spark.createDataFrame(
        [(i, " ".join(rng.choice("a b c d e f".split())
                      for _ in range(rng.randint(5, 15))))
         for i in range(60)],
        ["doc_id", "text"],
    )
    rep: dict = {}
    got = sorted(map(tuple, dd2.exact_jaccard_join(
        dense, 0.6, mode="auto", report=rep).collect()))
    assert rep["mode"] == "countjoin", rep
    assert got == sorted(map(tuple, dd2.exact_jaccard_join(
        dense, 0.6, mode="countjoin").collect()))
    # sparse: 60 docs with disjoint vocabularies (df == 1 everywhere)
    # except one planted near-duplicate pair
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(59)]
    rows.append((59, rows[0][1] + " extra"))
    sparse = spark.createDataFrame(rows, ["doc_id", "text"])
    rep2: dict = {}
    got2 = sorted(map(tuple, dd2.exact_jaccard_join(
        sparse, 0.6, mode="auto", report=rep2).collect()))
    assert rep2["mode"] == "prefix", rep2
    assert got2 == sorted(map(tuple, dd2.exact_jaccard_join(
        sparse, 0.6, mode="prefix").collect()))
    assert [(a, b) for a, b, _ in got2] == [(0, 59)]
    # estimator internals are self-consistent
    assert rep2["pf_pairs"] <= rep2["cj_pairs"]
    assert rep["cj_pairs"] > 0 and rep["prefix_budget"] > 0


def test_kfold_disjoint_exhaustive_stable(spark):
    from nhs_data_pipeline_spark.ops import sampling as smp
    import pytest as _pytest
    df = spark.createDataFrame([(i,) for i in range(500)], ["k"])
    out = smp.kfold_assign(df, "k", k=5)
    folds = {r.k: r.fold for r in out.collect()}
    assert set(folds.values()) <= set(range(5))
    assert len(folds) == 500  # exhaustive, one fold per row
    # key-stable: growing the corpus never moves an existing row
    bigger = spark.createDataFrame([(i,) for i in range(1000)], ["k"])
    folds2 = {r.k: r.fold for r in smp.kfold_assign(bigger, "k", k=5).collect()}
    assert all(folds2[i] == folds[i] for i in range(500))
    # roughly balanced
    from collections import Counter
    c = Counter(folds.values())
    assert max(c.values()) - min(c.values()) < 100
    with _pytest.raises(ValueError):
        smp.kfold_assign(df, "k", k=1)


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------

def _tri(spark, edges):
    from nhs_data_pipeline_spark.ops.graph import triangle_count

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r.node: r.triangles for r in triangle_count(df).collect()}


def test_triangle_single(spark):
    # one triangle + a dangling edge
    got = _tri(spark, [(1, 2), (2, 3), (3, 1), (3, 4)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_k4_complete(spark):
    # K4: 4 triangles total, each node in exactly 3
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    got = _tri(spark, edges)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    assert sum(got.values()) // 3 == 4


def test_triangle_canonicalizes_dupes_loops_directions(spark):
    # duplicates, reversed copies, and self-loops must not change counts
    got = _tri(
        spark,
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1), (2, 3), (3, 3)],
    )
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_null_endpoints_dropped(spark):
    got = _tri(spark, [(1, 2), (2, 3), (3, 1), (None, 2), (3, None)])
    assert got == {1: 1, 2: 1, 3: 1}


@pytest.mark.slow
def test_triangle_free_graph_is_empty(spark):
    # a 4-cycle has no triangles -> empty result table
    assert _tri(spark, [(1, 2), (2, 3), (3, 4), (4, 1)]) == {}


@pytest.mark.slow
def test_triangle_partitioning_invariance(spark):
    from nhs_data_pipeline_spark.ops.graph import triangle_count

    edges = [(a, b) for a in range(1, 8) for b in range(1, 8) if a < b]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    one = {r.node: r.triangles for r in triangle_count(df.coalesce(1)).collect()}
    many = {r.node: r.triangles for r in triangle_count(df.repartition(13)).collect()}
    # K7: each node participates in C(6,2) = 15 triangles
    assert one == many == {n: 15 for n in range(1, 8)}


# ---------------------------------------------------------------------------
# shortest_paths
# ---------------------------------------------------------------------------

def _sssp(spark, edges, sources=(1,), iterations=6):
    from nhs_data_pipeline_spark.ops.graph import shortest_paths

    e = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    s = spark.createDataFrame([(x,) for x in sources], "node bigint")
    return {
        r.node: r.dist
        for r in shortest_paths(e, s, iterations=iterations).collect()
    }


@pytest.mark.slow
def test_sssp_picks_cheaper_indirect_path(spark):
    # 1->3 direct costs 10; 1->2->3 costs 3
    got = _sssp(spark, [(1, 3, 10), (1, 2, 1), (2, 3, 2)])
    assert got == {1: 0, 2: 1, 3: 3}


@pytest.mark.slow
def test_sssp_unreachable_stays_null_and_direction_respected(spark):
    got = _sssp(spark, [(1, 2, 5), (3, 2, 1), (4, 5, 1)])
    assert got[1] == 0 and got[2] == 5
    # 3 only points INTO the component; 4/5 are a separate component
    assert got[3] is None and got[4] is None and got[5] is None


@pytest.mark.slow
def test_sssp_parallel_edges_take_min_and_multi_source(spark):
    got = _sssp(
        spark,
        [(1, 2, 9), (1, 2, 4), (7, 2, 1)],
        sources=(1, 7),
    )
    assert got == {1: 0, 2: 1, 7: 0}


@pytest.mark.slow
def test_sssp_iteration_budget_bounds_depth(spark):
    chain = [(i, i + 1, 1) for i in range(1, 6)]  # 1-2-3-4-5-6
    got = _sssp(spark, chain, iterations=2)
    assert got[3] == 2 and got[4] is None  # 3 hops > budget


@pytest.mark.slow
def test_sssp_partitioning_invariance(spark):
    from nhs_data_pipeline_spark.ops.graph import shortest_paths

    edges = [(a, b, (a * b) % 7 + 1) for a in range(1, 12) for b in range(1, 12) if a != b]
    e = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    s = spark.createDataFrame([(1,)], "node bigint")
    one = {r.node: r.dist for r in shortest_paths(e.coalesce(1), s, 5).collect()}
    many = {r.node: r.dist for r in shortest_paths(e.repartition(13), s, 5).collect()}
    assert one == many


# ---------------------------------------------------------------------------
# tf_topk + rrf_fuse
# ---------------------------------------------------------------------------

def _docs_df(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana banana banana cherry"),
            (3, "apple cherry"),
            (4, "durian"),
        ],
        "doc_id bigint, text string",
    )


def _qs_df(spark):
    return spark.createDataFrame(
        [(0, "apple"), (0, "banana")], "query_id int, term string"
    )


def test_tf_topk_ranks_by_summed_tf(spark):
    from nhs_data_pipeline_spark.llm.retrieval import tf_topk

    got = {r.doc_id: (r.tf_sum, r.rank)
           for r in tf_topk(_docs_df(spark), _qs_df(spark), k=3).collect()}
    # doc2: 3 bananas; doc1: 2 apples + 1 banana = 3 (tie -> doc1 first); doc3: 1
    assert got[1] == (3, 1) and got[2] == (3, 2) and got[3] == (1, 3)
    assert 4 not in got


def test_rrf_fuse_hand_computed(spark):
    from nhs_data_pipeline_spark.llm.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 20, 2)], "query_id int, doc_id bigint, rank int"
    )
    b = spark.createDataFrame(
        [(0, 20, 1), (0, 30, 2)], "query_id int, doc_id bigint, rank int"
    )
    got = {r.doc_id: (r.rrf_score, r.rrf_rank)
           for r in rrf_fuse([a, b], k0=60).collect()}
    # doc20 in both runs: 1/62 + 1/61; doc10 only in a: 1/61; doc30: 1/62
    assert got[20] == (1 / 62 + 1 / 61, 1)
    assert got[10] == (1 / 61, 2)
    assert got[30] == (1 / 62, 3)


def test_rrf_fuse_three_runs_and_rejects_one(spark):
    import pytest as _pytest

    from nhs_data_pipeline_spark.llm.retrieval import rrf_fuse

    mk = lambda rows: spark.createDataFrame(
        rows, "query_id int, doc_id bigint, rank int"
    )
    a, b, c = mk([(0, 1, 1)]), mk([(0, 1, 2)]), mk([(0, 2, 1)])
    got = {r.doc_id: r.rrf_score for r in rrf_fuse([a, b, c]).collect()}
    assert got[1] == 1 / 61 + 1 / 62 and got[2] == 1 / 61
    with _pytest.raises(ValueError):
        rrf_fuse([a])


# ---------------------------------------------------------------------------
# binary_auc
# ---------------------------------------------------------------------------

def _auc(spark, rows):
    from nhs_data_pipeline_spark.llm.classify import binary_auc

    df = spark.createDataFrame(rows, "score double, pos boolean")
    return binary_auc(df, "score", "pos").collect()[0]


@pytest.mark.slow
def test_auc_perfect_and_inverted(spark):
    r = _auc(spark, [(1.0, True), (2.0, True), (0.1, False), (0.2, False)])
    assert (r.n_pos, r.n_neg, r.auc) == (2, 2, 1.0)
    r = _auc(spark, [(0.1, True), (0.2, True), (1.0, False), (2.0, False)])
    assert r.auc == 0.0


def test_auc_matches_sklearn_formula_with_ties(spark):
    # hand case with ties: scores [1,1,2,3], labels [0,1,0,1]
    # ranks (avg): 1.5, 1.5, 3, 4 -> pos rank sum = 5.5
    # auc = (5.5 - 2*3/2) / (2*2) = 2.5/4
    r = _auc(spark, [(1.0, False), (1.0, True), (2.0, False), (3.0, True)])
    assert r.auc == 2.5 / 4


@pytest.mark.slow
def test_auc_random_scores_near_half_and_degenerate_null(spark):
    import random

    rng = random.Random(9)
    rows = [(rng.random(), rng.random() < 0.5) for _ in range(4000)]
    r = _auc(spark, rows)
    assert abs(r.auc - 0.5) < 0.05
    r = _auc(spark, [(1.0, True), (2.0, True)])
    assert r.n_neg == 0 and r.auc is None


def test_auc_null_scores_excluded(spark):
    rows = [(None, True), (1.0, True), (0.5, False)]
    r = _auc(spark, rows)
    assert (r.n_pos, r.n_neg, r.auc) == (1, 1, 1.0)


def test_auc_rejects_non_numeric_score(spark):
    """A string score column would rank lexicographically while the
    bucket id ranks its double cast — silent rank corruption. Must
    raise loudly instead (r06 ADVICE)."""
    import pytest

    from nhs_data_pipeline_spark.llm.classify import binary_auc

    df = spark.createDataFrame(
        [("0.9", True), ("0.10", False)], "score string, pos boolean"
    )
    with pytest.raises(TypeError, match="must be numeric"):
        binary_auc(df, "score", "pos")


def test_calibration_bins_hand_computed_and_ece_exact(spark):
    from nhs_data_pipeline_spark.llm.classify import calibration_bins

    # bin 0: conf 50_000 x2 (one pos) ; bin 9: conf 950_000 x2 (both pos)
    rows = [(50_000, False), (50_000, True), (950_000, True), (950_000, True)]
    df = spark.createDataFrame(rows, "conf bigint, pos boolean")
    got = {r.bin: r for r in calibration_bins(df, "conf", "pos").collect()}
    assert set(got) == {0, 9}
    b0, b9 = got[0], got[9]
    assert (b0.n_bin, b0.n_pos, b0.acc, b0.conf) == (2, 1, 0.5, 0.05)
    assert (b9.n_bin, b9.n_pos, b9.acc, b9.conf) == (2, 2, 1.0, 0.95)
    # ece = (|1e6 - 1e5| + |2e6 - 19e5|) / (4 * 1e6)
    want = (abs(1_000_000 - 100_000) + abs(2_000_000 - 1_900_000)) / 4_000_000
    assert b0.ece == want and b9.ece == want


def test_calibration_top_edge_folds_into_last_bin(spark):
    from nhs_data_pipeline_spark.llm.classify import calibration_bins

    df = spark.createDataFrame([(1_000_000, True)], "conf bigint, pos boolean")
    r = calibration_bins(df, "conf", "pos").collect()
    assert len(r) == 1 and r[0].bin == 9 and r[0].conf == 1.0 and r[0].ece == 0.0


def test_confusion_matrix_hand_computed_with_null_class(spark):
    from nhs_data_pipeline_spark.llm.classify import confusion_matrix

    rows = [("a", "a"), ("a", "a"), ("a", "b"), ("b", "b"), ("b", None)]
    df = spark.createDataFrame(rows, "label string, pred string")
    got = {(r.label, r.pred): r for r in confusion_matrix(df, "label", "pred").collect()}
    aa = got[("a", "a")]
    assert (aa.n, aa.label_total, aa.pred_total) == (2, 3, 2)
    assert aa.recall_share == 2 / 3 and aa.precision_share == 1.0
    bb = got[("b", "b")]
    # pred='b' appears twice overall: ("a","b") and ("b","b")
    assert bb.recall_share == 1 / 2 and bb.precision_share == 1 / 2
    # NULL prediction is a real class with its own totals
    bn = got[("b", None)]
    assert bn.n == 1 and bn.pred_total == 1 and bn.precision_share == 1.0


# ---------------------------------------------------------------------------
# k-core peeling (ops/graph.kcore)
# ---------------------------------------------------------------------------


def _sym_edges(spark, pairs):
    """Symmetrize + dedup an undirected pair list (kcore's contract)."""
    both = sorted({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    return spark.createDataFrame(both, ["src", "dst"])


def _ktab(spark, k):
    return spark.createDataFrame([(k,)], "k bigint")


def test_kcore_pendant_peels_triangle_survives(spark):
    # triangle {1,2,3} + pendant 4-1: at k=2 the pendant peels away,
    # the triangle survives with degree 2 each
    e = _sym_edges(spark, [(1, 2), (2, 3), (1, 3), (1, 4)])
    out = {r.node: r.core_deg for r in og.kcore(e, _ktab(spark, 2), rounds=3).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_chain_fully_peels(spark):
    # path 1-2-3-4 has no 2-core: endpoints peel each round until empty
    e = _sym_edges(spark, [(1, 2), (2, 3), (3, 4)])
    assert og.kcore(e, _ktab(spark, 2), rounds=3).count() == 0


def test_kcore_cascade_needs_multiple_rounds(spark):
    # chain 5-4 hanging off triangle {1,2,3} via 4-1: node 5 peels in
    # round 1, node 4 (deg 2 until 5 drops) only in round 2
    e = _sym_edges(spark, [(1, 2), (2, 3), (1, 3), (1, 4), (4, 5)])
    after1 = set(
        r.node for r in og.kcore(e, _ktab(spark, 2), rounds=1).collect()
    )
    assert after1 == {1, 2, 3, 4}  # 4 still alive: its degree was 2 pre-peel
    after2 = set(
        r.node for r in og.kcore(e, _ktab(spark, 2), rounds=2).collect()
    )
    assert after2 == {1, 2, 3}


@pytest.mark.slow
def test_kcore_converged_rounds_are_stable(spark):
    e = _sym_edges(spark, [(1, 2), (2, 3), (1, 3), (1, 4), (4, 5)])
    r3 = sorted(map(tuple, og.kcore(e, _ktab(spark, 2), rounds=3).collect()))
    r5 = sorted(map(tuple, og.kcore(e, _ktab(spark, 2), rounds=5).collect()))
    assert r3 == r5


@pytest.mark.slow
def test_kcore_partitioning_invariance(spark):
    e = _sym_edges(
        spark, [(i, j) for i in range(8) for j in range(i + 1, 8) if (i + j) % 3]
    )
    base = sorted(map(tuple, og.kcore(e, _ktab(spark, 4), rounds=4).collect()))
    rep = sorted(
        map(tuple, og.kcore(e.repartition(7), _ktab(spark, 4), rounds=4).collect())
    )
    assert base == rep and base  # non-empty and identical


# ---------------------------------------------------------------------------
# chi-square token/label feature selection (llm/classify.token_chi2)
# ---------------------------------------------------------------------------


def _chi2_docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_token_chi2_hand_computed(spark):
    from pyspark.sql import functions as F

    docs = _chi2_docs(
        spark,
        [
            (1, "a b", "en"),
            (2, "a", "en"),
            (3, "b c", "fr"),
            (4, "c", "fr"),
        ],
    )
    out = {
        r.token: (r.df, r.n11, r.chi2)
        for r in clf.token_chi2(docs, F.col("lang").eqNullSafe("en")).collect()
    }
    # a: (2,2): diff=4, chi2 = 4*16/(2*2*2*2) = 4.0 ; c mirrors with n11=0
    assert out["a"] == (2, 2, 4.0)
    assert out["c"] == (2, 0, 4.0)
    assert out["b"] == (2, 1, 0.0)  # perfectly balanced token


def test_token_chi2_all_docs_token_is_null_not_error(spark):
    from pyspark.sql import functions as F

    docs = _chi2_docs(spark, [(1, "z a", "en"), (2, "z", "fr")])
    out = {
        r.token: r.chi2
        for r in clf.token_chi2(docs, F.col("lang").eqNullSafe("en")).collect()
    }
    assert out["z"] is None  # df == N -> zero denominator -> NULL


def test_token_chi2_null_lang_is_label_zero(spark):
    from pyspark.sql import functions as F

    docs = _chi2_docs(spark, [(1, "a", "en"), (2, "a b", None), (3, "b", None)])
    out = {
        r.token: (r.df, r.n11)
        for r in clf.token_chi2(docs, F.col("lang").eqNullSafe("en")).collect()
    }
    # the NULL-lang docs still count: b has df=2 with n11=0
    assert out["b"] == (2, 0)
    assert out["a"] == (2, 1)


def test_token_chi2_repeated_token_counts_once_per_doc(spark):
    from pyspark.sql import functions as F

    docs = _chi2_docs(spark, [(1, "a a a", "en"), (2, "b", "fr")])
    out = {
        r.token: r.df
        for r in clf.token_chi2(docs, F.col("lang").eqNullSafe("en")).collect()
    }
    assert out["a"] == 1  # presence, not term frequency


# ------------------------------------------------------------------- HITS

@pytest.mark.slow
def test_hits_bipartite_star_ranks_hub_and_authority(spark):
    # 1 points at both authorities; 10 is pointed at by everyone
    e = spark.createDataFrame(
        [(1, 10, 1), (2, 10, 1), (3, 10, 1), (1, 11, 1)],
        ["src", "dst", "w"],
    )
    out = {r.node: r for r in og.hits(e, iterations=4).collect()}
    assert out[10].authority == 1.0  # L-inf: the max authority is 1
    assert out[1].hub == 1.0  # the double-pointer is the max hub
    assert out[2].hub < 1.0 and out[11].authority < 1.0
    # pure authorities have hub 0; pure hubs have authority 0
    assert out[10].hub == 0.0 and out[1].authority == 0.0


@pytest.mark.slow
def test_hits_matches_python_replica_bit_exact(spark):
    import random
    from decimal import ROUND_HALF_UP, Decimal

    def r9(x: float) -> float:
        # Spark F.round is BigDecimal HALF_UP — python round() is
        # banker's and differs at half boundaries (r05 lesson)
        return float(Decimal(repr(x)).quantize(
            Decimal("1e-9"), ROUND_HALF_UP))

    rng = random.Random(23)
    edges = [
        (rng.randint(0, 7), rng.randint(0, 7), rng.randint(1, 4))
        for _ in range(20)
    ]
    e = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r.node: (r.hub, r.authority)
        for r in og.hits(e, iterations=4).collect()
    }
    agg = {}
    for s, d, w in edges:
        agg[(s, d)] = agg.get((s, d), 0) + w
    nodes = sorted({s for s, _ in agg} | {d for _, d in agg})
    h = {v: 1.0 for v in nodes}
    a = {}
    for _ in range(4):
        inc = {v: [] for v in nodes}
        for (s, d), w in agg.items():
            inc[d].append((s, h[s] * w))
        raw = {}
        for v in nodes:
            acc = 0.0
            for _, c in sorted(inc[v]):  # src order == fold order
                acc += c
            raw[v] = acc
        m = max(raw.values())
        a = {v: r9(raw[v] / m) for v in nodes}
        out_ = {v: [] for v in nodes}
        for (s, d), w in agg.items():
            out_[s].append((d, a[d] * w))
        raw = {}
        for v in nodes:
            acc = 0.0
            for _, c in sorted(out_[v]):  # dst order == fold order
                acc += c
            raw[v] = acc
        m = max(raw.values())
        h = {v: r9(raw[v] / m) for v in nodes}
    assert got == {v: (h[v], a[v]) for v in nodes}


@pytest.mark.slow
def test_hits_partitioning_invariance_deterministic(spark):
    rows = [(i % 6, (i * 3) % 6 + 1, 1 + i % 3) for i in range(30)]
    e = spark.createDataFrame(rows, ["src", "dst", "w"])
    x = sorted(map(tuple, og.hits(e).collect()))
    y = sorted(map(tuple, og.hits(e.repartition(7)).collect()))
    assert x == y


def test_hits_empty_graph_is_empty(spark):
    e = spark.createDataFrame([], "src bigint, dst bigint, w bigint")
    assert og.hits(e).count() == 0
    assert og.pagerank(e).columns == ["node", "pr"]
    assert og.pagerank(e).count() == 0
    assert og.label_propagation(e).count() == 0
    p = spark.createDataFrame([], "id_a bigint, id_b bigint")
    cc = og.connected_components(p)
    assert cc.columns == ["id", "component"]
    assert cc.count() == 0
    nodes = spark.createDataFrame([(3,), (1,)], "id bigint")
    got = og.connected_components(p, nodes=nodes).collect()
    assert sorted((r.id, r.component) for r in got) == [(1, 1), (3, 3)]


def test_components_null_endpoint_pairs_dropped(spark):
    p = spark.createDataFrame(
        [(2, 1), (1, 2), (None, 1), (3, None), (None, None), (4, 4)],
        "id_a bigint, id_b bigint",
    )
    got = og.connected_components(p).collect()
    assert sorted((r.id, r.component) for r in got) == [(1, 1), (2, 1), (4, 4)]


def test_weighted_jaccard_downweights_boilerplate(spark):
    """Two docs sharing ONLY a ubiquitous footer must fail a weighted
    threshold that the same docs pass under unweighted Jaccard, while
    a rare-content pair passes both."""
    from nhs_data_pipeline_spark.llm import dedup as dd2

    footer = "contact us today please call now"  # shared by EVERY doc
    rows = (
        # 0/1 share only the footer (one-word distinct bodies): 5 of 7
        # bigrams shared -> unweighted J = 5/9 >= 0.5, weighted << 0.5
        [(0, f"alpha {footer}"), (1, f"gamma {footer}")]
        # 2/3 share a rare body and the footer
        + [(2, f"quantum flux capacitor {footer}"),
           (3, f"quantum flux capacitor {footer}")]
        # padding docs so the footer's df is high
        + [(i, f"body{i} {footer}") for i in range(4, 20)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    w = {(r.id_a, r.id_b): r.wjaccard
         for r in dd2.weighted_jaccard_join(docs, 0.5).collect()}
    u = {(r.id_a, r.id_b): r.jaccard
         for r in dd2.exact_jaccard_join(docs, 0.5).collect()}
    assert (2, 3) in w and w[(2, 3)] == 1.0
    assert (0, 1) not in w  # footer-only overlap fails weighted 0.5
    assert (0, 1) in u  # ...but passes unweighted (footer dominates)


@pytest.mark.slow
def test_weighted_jaccard_null_id_excluded_from_n(spark):
    """Regression (r8 ADVICE): N must be COUNT(doc_id)-style — a NULL
    doc_id row must not inflate the IDF numerator (the DuckDB oracle's
    COUNT(DISTINCT doc_id) excludes NULLs). The NULL row carries a
    single word (zero bigrams), so the ONLY thing it could change is
    N — results must be identical with and without it."""
    from nhs_data_pipeline_spark.llm import dedup as dd2

    rows = [(0, "quantum flux capacitor now"),
            (1, "quantum flux capacitor today"),
            (2, "alpha beta gamma delta"),
            (3, "alpha beta gamma epsilon")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    with_null = docs.unionByName(
        spark.createDataFrame([(None, "oneword")],
                              "doc_id bigint, text string"))
    a = sorted(map(tuple, dd2.weighted_jaccard_join(docs, 0.3).collect()))
    b = sorted(map(tuple, dd2.weighted_jaccard_join(with_null, 0.3).collect()))
    assert a == b and len(a) >= 2


def test_weighted_jaccard_matches_python_replica(spark):
    import itertools
    import random

    from nhs_data_pipeline_spark.llm import dedup as dd2

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(8)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(map(tuple, dd2.weighted_jaccard_join(docs, 0.5).collect()))
    rep = sorted(map(tuple, dd2.weighted_jaccard_join(
        docs.repartition(7), 0.5).collect()))
    assert got == rep  # partitioning invariance

    sets = {}
    for i, txt in rows:
        ws = txt.split()
        sets[i] = {f"{a} {b}" for a, b in zip(ws, ws[1:])}
    n = len(rows)
    df_ = {}
    for s in sets.values():
        for t in s:
            df_[t] = df_.get(t, 0) + 1
    w_ = {t: (n * 1000) // d for t, d in df_.items()}
    exp = []
    for a, b in itertools.combinations(sorted(sets), 2):
        iw = sum(w_[t] for t in sets[a] & sets[b])
        if iw == 0:
            continue
        uw = sum(w_[t] for t in sets[a]) + sum(w_[t] for t in sets[b]) - iw
        if 2 * iw >= uw:
            import math
            exp.append((a, b, math.floor(iw / uw * 1e6 + 0.5) / 1e6))
    assert got == sorted(exp)


# ------------------------------------------------------- retrieval eval

def test_retrieval_eval_hand_case(spark):
    """Two queries, k=3: q0's first relevant hit at rank 2 (rr=1/2,
    one of its 2 relevant docs ranked), q1 misses entirely (rr=0,
    ndcg=0). Hand-computed against the same inlined gain literals."""
    import math

    run = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1), (1, 21, 2)],
        ["query_id", "doc_id", "rank"],
    )
    qrels = spark.createDataFrame(
        [(0, 11), (0, 99), (1, 77)], ["query_id", "doc_id"]
    )
    r = rtv.retrieval_eval(run, qrels, k=3).collect()[0]
    assert r.n_queries == 2
    assert r.hit_rate == 0.5
    # mrr = (1/2 + 0) / 2 = 0.25 exactly (lcm(1..3)=6: 6//2=3; 3/(6*2))
    assert r.mrr == 0.25
    g2 = math.floor(1.0 / math.log2(3) * 1e6 + 0.5)  # gain at rank 2
    idcg2 = 1000000 + g2  # two relevant docs, ideal = ranks 1..2
    ndcg0 = math.floor(g2 / idcg2 * 1e6 + 0.5)
    assert r.ndcg == math.floor(ndcg0 / 2 + 0.5) / 1e6


def test_retrieval_eval_perfect_run_and_exclusions(spark):
    """A run that ranks the sole relevant doc first scores 1.0 on all
    metrics; queries absent from qrels are excluded; hits beyond k
    don't count."""
    run = spark.createDataFrame(
        [(0, 5, 1), (2, 6, 1), (3, 7, 9)], ["query_id", "doc_id", "rank"]
    )
    qrels = spark.createDataFrame(
        [(0, 5), (3, 7)], ["query_id", "doc_id"]
    )
    r = rtv.retrieval_eval(run, qrels, k=5).collect()[0]
    # query 2 has no qrels -> excluded; query 3's hit is at rank 9 > k
    assert r.n_queries == 2
    assert r.hit_rate == 0.5 and r.mrr == 0.5 and r.ndcg == 0.5


def test_retrieval_eval_rejects_bad_k(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(0, 1, 1)], ["query_id", "doc_id", "rank"])
    with _pytest.raises(ValueError):
        rtv.retrieval_eval(df, df.select("query_id", "doc_id"), k=0)


# ------------------------------------------------ precision threshold curve

def test_precision_curve_hand_case(spark):
    from nhs_data_pipeline_spark.llm.classify import precision_threshold_curve

    # scores desc: 9(+), 8(-), 7(+), 6(+), 5(-)
    # prefix precisions: 1/1, 1/2, 2/3, 3/4, 3/5
    rows = [(9.0, True), (8.0, False), (7.0, True), (6.0, True), (5.0, False)]
    df = spark.createDataFrame(rows, "score double, pos boolean")
    got = {r.target: r for r in precision_threshold_curve(
        df, "score", "pos", targets=[(3, 4), (9, 10), (1, 2)]).collect()}
    r34 = got["3/4"]  # 3/4 met at threshold 6 (prefix of 4) — max recall
    assert (r34.threshold, r34.n_predicted, r34.n_tp) == (6.0, 4, 3)
    assert r34.precision == 0.75 and r34.recall == 1.0
    r12 = got["1/2"]  # met even at the full set (3/5 >= 1/2)
    assert (r12.threshold, r12.n_predicted) == (5.0, 5)
    r910 = got["9/10"]  # only the top-1 prefix reaches 100% >= 90%
    assert (r910.threshold, r910.n_predicted, r910.n_tp) == (9.0, 1, 1)


def test_precision_curve_unachievable_target_keeps_null_row(spark):
    from nhs_data_pipeline_spark.llm.classify import precision_threshold_curve

    rows = [(2.0, False), (1.0, True)]  # top prefix precision 0, then 1/2
    df = spark.createDataFrame(rows, "score double, pos boolean")
    got = {r.target: r for r in precision_threshold_curve(
        df, "score", "pos", targets=[(9, 10)]).collect()}
    r = got["9/10"]
    assert r.threshold is None and r.n_predicted is None
    assert r.precision is None and r.recall is None


def test_precision_curve_rejects_string_scores(spark):
    import pytest as _pytest

    from nhs_data_pipeline_spark.llm.classify import precision_threshold_curve

    df = spark.createDataFrame([("0.9", True)], "score string, pos boolean")
    with _pytest.raises(TypeError, match="must be numeric"):
        precision_threshold_curve(df, "score", "pos")


def test_exact_jaccard_auto_empty_corpus(spark):
    """The dispatcher must handle an empty/degenerate corpus: zero
    estimates dispatch to countjoin and the join returns no pairs."""
    from nhs_data_pipeline_spark.llm import dedup as dd2

    docs = spark.createDataFrame(
        [(0, ""), (1, None), (2, "one")], ["doc_id", "text"]
    )
    rep: dict = {}
    out = dd2.exact_jaccard_join(docs, 0.5, mode="auto", report=rep)
    assert out.count() == 0
    assert rep["mode"] == "countjoin"
    assert rep["cj_pairs"] == 0 and rep["prefix_budget"] == 0


@pytest.mark.slow
def test_weighted_jaccard_modes_agree_and_match_python(spark):
    """r9: the weighted PPJoin prefix mode is LOSSLESS — countjoin,
    prefix, and auto return the identical pair set and values, and
    they match an O(n^2) python replica of the integer-weight
    definition (w = N*1000 div df)."""
    import itertools
    import random

    from nhs_data_pipeline_spark.llm import dedup as dd2

    rng = random.Random(29)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 18))))
        for i in range(24)
    ]
    rows.append((24, rows[3][1]))  # exact duplicate
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    t = 0.5
    rep_cj: dict = {}
    rep_pf: dict = {}
    rep_auto: dict = {}
    cj = sorted(map(tuple, dd2.weighted_jaccard_join(
        docs, t, report=rep_cj).collect()))
    pf = sorted(map(tuple, dd2.weighted_jaccard_join(
        docs, t, mode="prefix", report=rep_pf).collect()))
    auto = sorted(map(tuple, dd2.weighted_jaccard_join(
        docs, t, mode="auto", report=rep_auto).collect()))
    assert cj == pf == auto
    assert rep_pf["mode"] == "prefix" and rep_pf["pf_pairs"] >= 0
    assert rep_auto["mode"] in ("countjoin", "prefix")
    assert rep_auto["cj_pairs"] >= rep_auto["pf_pairs"]

    # python replica
    sets = {}
    for i, txt in rows:
        w = txt.split()
        sets[i] = {f"{a} {b}" for a, b in zip(w, w[1:])}
    n_docs = len(rows)
    from collections import Counter
    dfreq = Counter(bg for s in sets.values() for bg in s)
    wmap = {bg: (n_docs * 1000) // d for bg, d in dfreq.items()}
    exp = []
    for a, b in itertools.combinations(sorted(sets), 2):
        iw = sum(wmap[x] for x in sets[a] & sets[b])
        if iw == 0:
            continue
        uw = (sum(wmap[x] for x in sets[a])
              + sum(wmap[x] for x in sets[b]) - iw)
        if 2 * iw >= uw:
            import math
            exp.append((a, b, math.floor(iw / uw * 1e6 + 0.5) / 1e6))
    assert cj == sorted(exp)
    assert any(p[2] == 1.0 for p in cj)  # the planted duplicate


def test_weighted_jaccard_prefix_prunes_sparse_and_guards(spark):
    """On a sparse vocabulary (near-unique tokens per doc) the exact
    prefix volume collapses below the countjoin volume, auto picks
    prefix, and the max_pairs guard fires per-mode BEFORE any pair
    shuffle."""
    import pytest as _pytest

    from nhs_data_pipeline_spark.llm import dedup as dd2

    docs = spark.createDataFrame(
        [(i, " ".join(f"u{i}_{k}" for k in range(12)) + " shared tail")
         for i in range(30)],
        ["doc_id", "text"],
    )
    rep: dict = {}
    out = dd2.weighted_jaccard_join(
        docs, 0.6, mode="auto", report=rep)
    assert rep["pf_pairs"] < rep["cj_pairs"], rep
    assert rep["mode"] == "prefix", rep
    out.count()
    # on THIS corpus every prefix token is unique -> pf_pairs == 0 and
    # a zero budget has nothing to refuse (that IS the prefix win)
    assert rep["pf_pairs"] == 0
    # guard firing needs a corpus whose prefixes still collide: a
    # dense self-similar one
    dense = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + f"t{i % 2}")
         for i in range(10)],
        ["doc_id", "text"],
    )
    with _pytest.raises(ValueError, match="max_pairs"):
        dd2.weighted_jaccard_join(dense, 0.6, mode="prefix", max_pairs=0)
    with _pytest.raises(ValueError, match="max_pairs"):
        dd2.weighted_jaccard_join(dense, 0.6, mode="auto", max_pairs=0)
