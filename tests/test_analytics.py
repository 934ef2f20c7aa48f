"""Funnel / retention analytics, MERGE upsert, SCD2 history,
temperature sampling, SemDeDup, and int8 quantization."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.llm.dedup import semantic_dedup
from nhs_data_pipeline_spark.llm.quantize import quantize_int8
from nhs_data_pipeline_spark.ops.analytics import funnel, retention_cohorts
from nhs_data_pipeline_spark.ops.merge import merge_upsert, scd2_from_feed
from nhs_data_pipeline_spark.ops.sampling import temperature_sample


def _ts(day: int, hour: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, day, hour, 0, 0)


@pytest.fixture(scope="module")
def events_df(spark):
    # A: completes view -> click -> purchase in order
    # B: clicks BEFORE first view (click must not count), then views
    # C: view only
    # D: purchase only (counts for no step but step order still holds)
    rows = [
        (1, "A", _ts(1, 1), "view"),
        (2, "A", _ts(1, 2), "click"),
        (3, "A", _ts(1, 3), "purchase"),
        (4, "B", _ts(2, 1), "click"),
        (5, "B", _ts(2, 2), "view"),
        (6, "B", _ts(2, 3), "view"),
        (7, "C", _ts(3, 1), "view"),
        (8, "D", _ts(4, 1), "purchase"),
    ]
    return spark.createDataFrame(rows, "event_id long, user_id string, ts timestamp, event_type string")


@pytest.mark.slow
def test_funnel_ordered_semantics(events_df):
    out = {
        r["step"]: r["users"]
        for r in funnel(events_df, ["view", "click", "purchase"]).collect()
    }
    # view: A, B, C reach it; click-after-view: only A; purchase: only A
    assert out == {"view": 3, "click": 1, "purchase": 1}


def test_funnel_monotone(spark):
    rows = [(i, f"u{i % 7}", _ts(1 + i % 20, i % 24), t)
            for i, t in enumerate(["view", "click", "purchase", "error"] * 40)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, event_type string"
    )
    counts = [
        r["users"]
        for r in funnel(df, ["view", "click", "purchase"])
        .orderBy("step_idx")
        .collect()
    ]
    assert counts == sorted(counts, reverse=True)


def test_retention_cohorts(spark):
    # u1 first week W0, returns W2; u2 first week W0 only; u3 first W1.
    rows = [
        ("u1", _ts(1)), ("u1", _ts(2)),          # week of Jan 1 (Mon)
        ("u1", _ts(15)),                          # two weeks later
        ("u2", _ts(3)),
        ("u3", _ts(8)),                           # week of Jan 8
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {
        (r["cohort_start"].date(), r["period_age"]): r["n_users"]
        for r in retention_cohorts(df).collect()
    }
    assert out == {
        (dt.date(2024, 1, 1), 0): 2,
        (dt.date(2024, 1, 1), 2): 1,
        (dt.date(2024, 1, 8), 0): 1,
    }


@pytest.fixture(scope="module")
def merge_frames(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    source = spark.createDataFrame(
        [(2, "b2", 25.0), (4, "d", 40.0)],
        "k long, name string, bal double",
    )
    return target, source


def test_merge_upsert_routing(merge_frames):
    target, source = merge_frames
    out = {
        r["k"]: (r["name"], r["bal"], r["action"])
        for r in merge_upsert(target, source, ["k"], action_col="action").collect()
    }
    assert out == {
        1: ("a", 10.0, "carried"),
        2: ("b2", 25.0, "updated"),
        3: ("c", 30.0, "carried"),
        4: ("d", 40.0, "inserted"),
    }


def test_merge_upsert_broadcast_equivalence(merge_frames):
    target, source = merge_frames
    full = merge_upsert(target, source, ["k"], action_col="action")
    bc = merge_upsert(
        target, source, ["k"], action_col="action", broadcast_source=True
    )
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, bc.collect()))


def test_merge_upsert_delete_condition(merge_frames):
    target, source = merge_frames
    out = merge_upsert(
        target, source, ["k"], delete_condition=F.col("bal") > 24
    )
    assert sorted(r["k"] for r in out.collect()) == [1, 3, 4]


def test_merge_upsert_source_nulls_win(spark):
    """Matched rows take source values INCLUDING NULLs (MERGE update
    semantics, not coalesce)."""
    target = spark.createDataFrame([(1, "x")], "k long, name string")
    source = spark.createDataFrame([(1, None)], "k long, name string")
    [row] = merge_upsert(target, source, ["k"]).collect()
    assert row["name"] is None


def test_scd2_runs_collapse(spark):
    feed = spark.createDataFrame(
        [
            (1, dt.date(2020, 1, 1), "LOW", 10),
            (1, dt.date(2020, 2, 1), "LOW", 11),     # same run
            (1, dt.date(2020, 3, 1), "HIGH", 12),    # change
            (1, dt.date(2020, 4, 1), "LOW", 13),     # change back
            (2, dt.date(2020, 1, 5), None, 20),      # NULL opens a run
            (2, dt.date(2020, 2, 5), "MED", 21),     # NULL -> value = change
        ],
        "k long, d date, prio string, seq long",
    )
    out = scd2_from_feed(feed, ["k"], ["prio"], "d", tiebreak=["seq"])
    got = sorted(
        (r["k"], str(r["prio"]), str(r["valid_from"]), str(r["valid_to"]), r["is_current"])
        for r in out.collect()
    )
    assert got == [
        (1, "HIGH", "2020-03-01", "2020-04-01", False),
        (1, "LOW", "2020-01-01", "2020-03-01", False),
        (1, "LOW", "2020-04-01", "None", True),
        (2, "MED", "2020-02-05", "None", True),
        (2, "None", "2020-01-05", "2020-02-05", False),
    ]


def test_scd2_tiebreak_same_timestamp(spark):
    """Same-date feed rows order by the tiebreak column, making the
    run sequence (and therefore the history) deterministic."""
    feed = spark.createDataFrame(
        [
            (1, dt.date(2020, 1, 1), "A", 1),
            (1, dt.date(2020, 1, 1), "B", 2),
        ],
        "k long, d date, v string, seq long",
    )
    out = scd2_from_feed(feed, ["k"], ["v"], "d", tiebreak=["seq"]).collect()
    current = {r["v"]: r["is_current"] for r in out}
    assert current == {"A": False, "B": True}


def test_temperature_sample_alpha_one_keeps_all(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 90 else "small") for i in range(100)],
        "k long, s string",
    )
    assert temperature_sample(df, "k", "s", alpha=1.0).count() == 100


def test_temperature_sample_flattens_head(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small") for i in range(1000)],
        "k long, s string",
    )
    out = {
        r["s"]: r["n"]
        for r in temperature_sample(df, "k", "s", alpha=0.5)
        .groupBy("s")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # small stratum (n = nmin) keeps everything; big keeps ~sqrt(100/900)=1/3
    assert out["small"] == 100
    assert 200 < out["big"] < 400
    # determinism: same call, same result
    out2 = {
        r["s"]: r["n"]
        for r in temperature_sample(df, "k", "s", alpha=0.5)
        .groupBy("s")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == out2


def _unit(v):
    import numpy as np

    a = np.asarray(v, dtype=float)
    return (a / np.linalg.norm(a)).tolist()


def test_semantic_dedup_keeps_min_id_per_clique(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    base = rng.normal(size=8)
    other = rng.normal(size=8)
    rows = [
        (1, _unit(base)),
        (2, _unit(base + 0.01 * rng.normal(size=8))),   # near-dup of 1
        (3, _unit(base + 0.01 * rng.normal(size=8))),   # near-dup of 1
        (10, _unit(other)),                             # different direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [list(np.asarray(_unit(base))), list(np.asarray(_unit(other)))]
    kept = sorted(
        r["vec_id"]
        for r in semantic_dedup(df, centroids, threshold=0.95).collect()
    )
    assert kept == [1, 10]


def test_semantic_dedup_cell_pair_budget_guard(spark):
    """r11 (sf1 timed-bench flag): semantic_dedup's cost is
    sum(|cell|^2); with a fixed-k quantizer that is quadratic in
    corpus size, so the op must predict the volume from the k-row
    cell-size aggregate, expose it via ``report``, and REFUSE above
    ``max_cell_pairs`` before any pair shuffle runs."""
    import numpy as np

    import pytest

    rng = np.random.RandomState(5)
    base = rng.normal(size=8)
    rows = [(i, _unit(base + 0.3 * rng.normal(size=8))) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [list(np.asarray(_unit(base)))]  # one cell: 6^2 = 36
    report: dict = {}
    semantic_dedup(
        df, centroids, threshold=0.99, report=report, max_cell_pairs=None
    ).collect()
    assert report["cell_pairs"] == 36
    with pytest.raises(ValueError, match="max_cell_pairs"):
        semantic_dedup(df, centroids, threshold=0.99, max_cell_pairs=35)
    # at or under budget: runs
    out = semantic_dedup(df, centroids, threshold=0.99, max_cell_pairs=36)
    assert out.count() > 0


def test_quantize_int8_grid_and_cosine(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [(i, rng.normal(size=16).tolist()) for i in range(40)]
    rows.append((99, [0.0] * 16))  # zero vector -> NULL qvec
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = quantize_int8(df)
    data = {r["vec_id"]: r for r in q.collect()}
    assert data[99]["qvec"] is None
    for i in range(40):
        qv = data[i]["qvec"]
        assert max(abs(x) for x in qv) == 127  # max-abs element maps to +/-127
        assert all(-127 <= x <= 127 for x in qv)
    # the cosine of the quantized vectors approximates the float cosine
    # to grid resolution (the per-vector scale cancels out of the ratio)
    def cosine(c, alias):
        a, b = f"cast(a.{c} as array<double>)", f"cast(b.{c} as array<double>)"
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
            f" / (sqrt(aggregate({a}, 0D, (acc, v) -> acc + v * v))"
            f" * sqrt(aggregate({b}, 0D, (acc, v) -> acc + v * v)))"
        ).alias(alias)

    pairs = (
        q.filter(F.col("vec_id") < 40)
        .alias("a")
        .join(q.filter(F.col("vec_id") < 40).alias("b"), F.expr("a.vec_id < b.vec_id"))
        .select(cosine("qvec", "qc"), cosine("embedding", "fc"))
        .collect()
    )
    err = max(abs(r["qc"] - r["fc"]) for r in pairs)
    assert err < 0.02


class TestPeakConcurrency:
    def _iv(self, spark, rows):
        return spark.createDataFrame(rows, "k string, s int, e int").select(
            "k",
            F.timestamp_seconds("s").alias("s"),
            F.timestamp_seconds("e").alias("e"),
        )

    def test_overlap_chain(self, spark):
        from nhs_data_pipeline_spark.ops.analytics import peak_concurrency

        # [0,10) [5,15) [8,12) overlap 3-deep at t=8; [20,25) alone
        iv = self._iv(
            spark, [("a", 0, 10), ("a", 5, 15), ("a", 8, 12), ("a", 20, 25)]
        )
        got = peak_concurrency(iv, ["k"], "s", "e").collect()
        assert got[0]["peak_concurrency"] == 3

    def test_touching_intervals_do_not_overlap(self, spark):
        from nhs_data_pipeline_spark.ops.analytics import peak_concurrency

        iv = self._iv(spark, [("a", 0, 10), ("a", 10, 20), ("a", 20, 30)])
        got = peak_concurrency(iv, ["k"], "s", "e").collect()
        assert got[0]["peak_concurrency"] == 1  # half-open [s, e)

    def test_keys_independent_and_partitioning_invariant(self, spark):
        from nhs_data_pipeline_spark.ops.analytics import peak_concurrency

        rows = [("a", i, i + 10) for i in range(0, 50, 2)] + [
            ("b", 0, 5),
            ("b", 100, 105),
        ]
        iv = self._iv(spark, rows)
        got = {
            r["k"]: r["peak_concurrency"]
            for r in peak_concurrency(iv, ["k"], "s", "e").collect()
        }
        got2 = {
            r["k"]: r["peak_concurrency"]
            for r in peak_concurrency(
                iv.repartition(13), ["k"], "s", "e"
            ).collect()
        }
        assert got == got2
        assert got["b"] == 1 and got["a"] == 5  # [i, i+10) step 2 -> 5 deep


# ---------------------------------------------------------------------------
# cooccurrence_pairs (market-basket lift)
# ---------------------------------------------------------------------------

def _baskets(spark, rows):
    from nhs_data_pipeline_spark.ops.analytics import cooccurrence_pairs

    df = spark.createDataFrame(rows, "b bigint, i bigint")
    return {
        (r.item_a, r.item_b): r
        for r in cooccurrence_pairs(df, "b", "i").collect()
    }


def test_basket_pairs_hand_computed(spark):
    # baskets: {1,2,3}, {1,2}, {2,3}, {4}
    got = _baskets(
        spark,
        [(10, 1), (10, 2), (10, 3), (20, 1), (20, 2), (30, 2), (30, 3), (40, 4)],
    )
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    r = got[(1, 2)]
    assert (r.pair_baskets, r.a_baskets, r.b_baskets, r.n_baskets) == (2, 2, 3, 4)
    # lift = 4*2 / (2*3)
    assert r.lift == round(8 / 6, 6)
    assert got[(2, 3)].pair_baskets == 2
    assert got[(1, 3)].pair_baskets == 1


def test_basket_dupe_items_collapse_and_nulls_drop(spark):
    got = _baskets(
        spark,
        [(10, 1), (10, 1), (10, 2), (10, None), (None, 3), (20, 1), (20, 2)],
    )
    assert set(got) == {(1, 2)}
    assert got[(1, 2)].pair_baskets == 2
    assert got[(1, 2)].n_baskets == 2  # the all-NULL basket vanished


def test_basket_cap_drops_megabasket_pairs_not_supports(spark):
    from nhs_data_pipeline_spark.ops.analytics import cooccurrence_pairs

    rows = [(1, i) for i in range(10)] + [(2, 0), (2, 1)]
    df = spark.createDataFrame(rows, "b bigint, i bigint")
    got = {
        (r.item_a, r.item_b): r
        for r in cooccurrence_pairs(df, "b", "i", max_basket=5).collect()
    }
    # only the small basket contributes pairs...
    assert set(got) == {(0, 1)}
    r = got[(0, 1)]
    assert r.pair_baskets == 1
    # ...but supports and the basket total still count the mega-basket
    assert (r.a_baskets, r.b_baskets, r.n_baskets) == (2, 2, 2)


def test_basket_pairs_match_naive_self_join(spark):
    from nhs_data_pipeline_spark.ops.analytics import cooccurrence_pairs

    rows = [(b, (b * 7 + k) % 11) for b in range(30) for k in range(1 + b % 5)]
    df = spark.createDataFrame(rows, "b bigint, i bigint").distinct()
    got = {
        (r.item_a, r.item_b): r.pair_baskets
        for r in cooccurrence_pairs(df, "b", "i").collect()
    }
    naive = (
        df.alias("x")
        .join(df.alias("y"), (F.col("x.b") == F.col("y.b")) & (F.col("x.i") < F.col("y.i")))
        .groupBy(F.col("x.i").alias("a"), F.col("y.i").alias("c"))
        .count()
        .collect()
    )
    assert got == {(r.a, r.c): r["count"] for r in naive}


# ---------------------------------------------------------------------------
# group_ols (closed-form per-group regression)
# ---------------------------------------------------------------------------

def _ols(spark, rows, y_scale=1):
    from nhs_data_pipeline_spark.ops.analytics import group_ols

    df = spark.createDataFrame(rows, "g string, x bigint, y bigint")
    return {r.g: r for r in group_ols(df, ["g"], "x", "y", y_scale).collect()}


def test_ols_recovers_exact_line(spark):
    # y = 3x + 10, scaled by 100 -> slope 3, intercept 10, r2 = 1
    rows = [("a", x, (3 * x + 10) * 100) for x in range(1, 8)]
    r = _ols(spark, rows, y_scale=100)["a"]
    assert (r.n_points, r.slope, r.intercept, r.r2) == (7, 3.0, 10.0, 1.0)


def test_ols_matches_numpy_polyfit(spark):
    import numpy as np

    xs = [1, 2, 3, 5, 8, 13, 21]
    ys = [7, 9, 8, 15, 21, 30, 55]
    r = _ols(spark, [("a", x, y) for x, y in zip(xs, ys)])["a"]
    slope, intercept = np.polyfit(np.array(xs, float), np.array(ys, float), 1)
    assert abs(r.slope - slope) < 1e-6 and abs(r.intercept - intercept) < 1e-6
    corr = np.corrcoef(xs, ys)[0, 1]
    assert abs(r.r2 - corr * corr) < 1e-6


def test_ols_degenerate_groups_null_not_infinity(spark):
    rows = [("one_point", 5, 50), ("flat_x", 2, 10), ("flat_x", 2, 99),
            ("flat_y", 1, 7), ("flat_y", 2, 7)]
    got = _ols(spark, rows)
    # zero x-variance -> no fit at all
    assert got["one_point"].slope is None and got["one_point"].r2 is None
    assert got["flat_x"].slope is None
    # zero y-variance -> slope 0 exists, r2 undefined
    assert got["flat_y"].slope == 0.0 and got["flat_y"].r2 is None


def test_ols_partitioning_invariance(spark):
    from nhs_data_pipeline_spark.ops.analytics import group_ols

    rows = [("g%d" % (i % 4), i, i * i * 3 + 17) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, x bigint, y bigint")
    one = {r.g: (r.slope, r.intercept, r.r2)
           for r in group_ols(df.coalesce(1), ["g"], "x", "y").collect()}
    many = {r.g: (r.slope, r.intercept, r.r2)
            for r in group_ols(df.repartition(17), ["g"], "x", "y").collect()}
    assert one == many


# ---------------------------------------------------------------------------
# transition_matrix (first-order Markov)
# ---------------------------------------------------------------------------

def _trans(spark, rows):
    from nhs_data_pipeline_spark.ops.analytics import transition_matrix

    df = spark.createDataFrame(rows, "u bigint, t bigint, s string")
    return {
        (r.prev_state, r.next_state): r
        for r in transition_matrix(df, "u", ["t"], "s").collect()
    }


def test_transitions_hand_computed(spark):
    # user 1: a->b->a->c ; user 2: a->b
    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "c"),
            (2, 1, "a"), (2, 2, "b")]
    got = _trans(spark, rows)
    assert set(got) == {("a", "b"), ("b", "a"), ("a", "c")}
    ab = got[("a", "b")]
    assert (ab.n_trans, ab.n_from) == (2, 3) and ab.prob == 2 / 3
    assert got[("b", "a")].n_trans == 1 and got[("b", "a")].n_from == 1
    assert got[("a", "c")].prob == 1 / 3


def test_transitions_do_not_cross_entities(spark):
    # the last event of user 1 must not chain into user 2's first
    rows = [(1, 1, "a"), (1, 2, "b"), (2, 3, "c"), (2, 4, "d")]
    got = _trans(spark, rows)
    assert set(got) == {("a", "b"), ("c", "d")}


def test_transitions_null_state_is_a_state(spark):
    # NULL is a legal state: a->NULL->b yields two transitions
    rows = [(1, 1, "a"), (1, 2, None), (1, 3, "b")]
    got = _trans(spark, rows)
    assert set(got) == {("a", None), (None, "b")}
    assert got[("a", None)].n_trans == 1 and got[(None, "b")].n_from == 1


def test_transitions_single_event_users_emit_nothing(spark):
    got = _trans(spark, [(1, 1, "a"), (2, 1, "b")])
    assert got == {}


def test_transitions_probs_sum_to_one_per_row_state(spark):
    rows = [(u, t, "s%d" % ((u * 3 + t * t) % 4)) for u in range(20) for t in range(15)]
    got = _trans(spark, rows)
    from collections import defaultdict

    by_prev = defaultdict(float)
    for (p, _n), r in got.items():
        by_prev[p] += r.prob
    for p, s in by_prev.items():
        assert abs(s - 1.0) < 1e-9, (p, s)


# ---------------------------------------------------------------------------
# target_encode_loo
# ---------------------------------------------------------------------------

def test_target_encode_loo_hand_computed(spark):
    from nhs_data_pipeline_spark.ops.analytics import target_encode_loo

    rows = [(1, "a", 10), (2, "a", 20), (3, "a", 30), (4, "b", 7)]
    df = spark.createDataFrame(rows, "id bigint, cat string, y bigint")
    got = {r.id: r.loo for r in target_encode_loo(df, "cat", "y").collect()}
    assert got[1] == (20 + 30) / 2 and got[2] == (10 + 30) / 2
    assert got[3] == (10 + 20) / 2
    assert got[4] is None  # singleton category: no leakage-free mean


def test_target_encode_loo_null_category_encodes(spark):
    from nhs_data_pipeline_spark.ops.analytics import target_encode_loo

    rows = [(1, None, 4), (2, None, 8), (3, "a", 5), (4, "a", 9)]
    df = spark.createDataFrame(rows, "id bigint, cat string, y bigint")
    got = {r.id: r.loo for r in target_encode_loo(df, "cat", "y").collect()}
    # NULL category is a real category (eqNullSafe join)
    assert got[1] == 8.0 and got[2] == 4.0
    assert got[3] == 9.0 and got[4] == 5.0


def test_target_encode_loo_mean_identity(spark):
    from nhs_data_pipeline_spark.ops.analytics import target_encode_loo

    rows = [(i, "c%d" % (i % 3), (i * 13) % 101) for i in range(120)]
    df = spark.createDataFrame(rows, "id bigint, cat string, y bigint")
    out = target_encode_loo(df, "cat", "y").collect()
    # identity: n*mean(cat) == y_i + (n-1)*loo_i for every row
    from collections import defaultdict

    sums, ns = defaultdict(int), defaultdict(int)
    for i, c, y in rows:
        sums[c] += y
        ns[c] += 1
    for r in out:
        c = r.cat
        assert abs(r.y + (ns[c] - 1) * r.loo - sums[c]) < 1e-9


# ---------------------------------------------------------------------------
# last-touch attribution (asof composition; the query-level op)
# ---------------------------------------------------------------------------

def test_attribution_last_touch_semantics(spark):
    import datetime as dt

    from nhs_data_pipeline_spark.ops.temporal import asof_join

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ts(h):
        return t0 + dt.timedelta(hours=h)

    conv = spark.createDataFrame(
        [(1, 100, ts(10)), (2, 100, ts(0)), (3, 200, ts(10))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    touch = spark.createDataFrame(
        [(100, ts(9), "view"), (100, ts(5), "signup"),
         (200, ts(-200), "view")],  # >7 days before conv 3
        "user_id bigint, ts timestamp, event_type string",
    )
    got = {
        r.event_id: r.r_event_type
        for r in asof_join(
            conv, touch, on="user_id",
            value_cols=["event_type"], tolerance_seconds=7 * 86400,
        ).collect()
    }
    assert got[1] == "view"      # latest touch before ts(10)
    assert got[2] is None        # no touch before ts(0)
    assert got[3] is None        # touch exists but outside tolerance


# ---------------------------------------------------------------------------
# quantile_normalize
# ---------------------------------------------------------------------------

def test_quantile_normalize_aligns_shifted_sources(spark):
    from nhs_data_pipeline_spark.ops.analytics import quantile_normalize

    # source a: 1..10, source b: 101..110 — same shape, shifted
    rows = [(i, "a", i) for i in range(1, 11)] + \
           [(100 + i, "b", 100 + i) for i in range(1, 11)]
    df = spark.createDataFrame(rows, "id bigint, src string, v bigint")
    out = {r.id: r.v_norm for r in quantile_normalize(df, "v", "src", "id").collect()}
    # both sources' k-th order statistic maps to the same global rank
    # ceil(k*20/10) = 2k -> global sorted values [1..10,101..110]
    g = sorted([v for _, _, v in rows])
    for k in range(1, 11):
        assert out[k] == g[2 * k - 1]          # source a, value k
        assert out[100 + k] == g[2 * k - 1]    # source b, value 100+k
    # after normalization the two sources have IDENTICAL distributions
    assert sorted(out[k] for k in range(1, 11)) == \
           sorted(out[100 + k] for k in range(1, 11))


def test_quantile_normalize_null_values_pass_through(spark):
    from nhs_data_pipeline_spark.ops.analytics import quantile_normalize

    rows = [(1, "a", 5), (2, "a", None), (3, "b", 7)]
    df = spark.createDataFrame(rows, "id bigint, src string, v bigint")
    out = {r.id: r.v_norm for r in quantile_normalize(df, "v", "src", "id").collect()}
    assert out[2] is None and out[1] is not None and out[3] is not None


def test_quantile_normalize_bucket_width_invariance(spark):
    from nhs_data_pipeline_spark.ops.analytics import quantile_normalize

    rows = [(i, "s%d" % (i % 3), (i * 37) % 1000) for i in range(300)]
    df = spark.createDataFrame(rows, "id bigint, src string, v bigint")
    a = {r.id: r.v_norm for r in quantile_normalize(df, "v", "src", "id", bucket_width=8).collect()}
    b = {r.id: r.v_norm for r in quantile_normalize(df, "v", "src", "id", bucket_width=1 << 20).collect()}
    assert a == b  # bucketing is an implementation detail, not semantics


# ---------------------------------------------------------------------------
# group_weighted_median
# ---------------------------------------------------------------------------

def _wmedian_replica(pairs):
    """Lower weighted median: smallest v with 2*cum(<=v) >= total."""
    tot = sum(w for _, w in pairs)
    cum = 0
    for v, w in sorted(pairs):
        cum += w
        if 2 * cum >= tot:
            return v
    raise AssertionError("unreachable")


def test_weighted_median_python_replica(spark):
    from nhs_data_pipeline_spark.ops.analytics import group_weighted_median

    rows = []
    groups = {}
    for i in range(400):
        g = "g%d" % (i % 3)
        v = (i * 131) % 1000
        w = (i % 7) + 1
        rows.append((g, v, w))
        groups.setdefault(g, []).append((v, w))
    df = spark.createDataFrame(rows, "g string, v bigint, w bigint")
    got = {
        r.g: r
        for r in group_weighted_median(df, ["g"], "v", "w", bucket_width=64)
        .collect()
    }
    for g, pairs in groups.items():
        assert got[g].weighted_median == _wmedian_replica(pairs), g
        assert got[g].n_rows == len(pairs)
        assert got[g].total_weight == sum(w for _, w in pairs)


def test_weighted_median_even_total_takes_lower(spark):
    from nhs_data_pipeline_spark.ops.analytics import group_weighted_median

    # weights 1,1: total 2, cum at v=10 is 1, 2*1 >= 2 -> lower value
    df = spark.createDataFrame(
        [("a", 10, 1), ("a", 20, 1)], "g string, v bigint, w bigint"
    )
    r = group_weighted_median(df, ["g"], "v", "w").collect()[0]
    assert r.weighted_median == 10


def test_weighted_median_weight_dominates(spark):
    from nhs_data_pipeline_spark.ops.analytics import group_weighted_median

    # one heavy row outweighs many light ones
    rows = [("a", i, 1) for i in range(10)] + [("a", 999, 100)]
    df = spark.createDataFrame(rows, "g string, v bigint, w bigint")
    r = group_weighted_median(df, ["g"], "v", "w").collect()[0]
    assert r.weighted_median == 999


def test_weighted_median_null_group_and_filters(spark):
    from nhs_data_pipeline_spark.ops.analytics import group_weighted_median

    rows = [
        (None, 5, 2), (None, 7, 2), (None, 9, 1),   # median 7
        ("a", 1, 0),                                 # zero weight: dropped
        ("a", 3, 1), ("a", None, 5), ("a", 4, None),
    ]
    df = spark.createDataFrame(rows, "g string, v bigint, w bigint")
    got = {r.g: r for r in group_weighted_median(df, ["g"], "v", "w").collect()}
    assert got[None].weighted_median == 7 and got[None].n_rows == 3
    assert got["a"].weighted_median == 3 and got["a"].n_rows == 1


def test_weighted_median_bucket_width_invariance(spark):
    from nhs_data_pipeline_spark.ops.analytics import group_weighted_median

    rows = [("s%d" % (i % 2), (i * 37) % 500, i % 5 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v bigint, w bigint")
    a = {r.g: r.weighted_median
         for r in group_weighted_median(df, ["g"], "v", "w", bucket_width=7).collect()}
    b = {r.g: r.weighted_median
         for r in group_weighted_median(df, ["g"], "v", "w", bucket_width=1 << 20).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# funnel_conversion_times
# ---------------------------------------------------------------------------

def test_funnel_conversion_times_hand_computed(spark):
    import datetime as dt

    from nhs_data_pipeline_spark.ops.analytics import funnel_conversion_times

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # user 1 converts fully: view@0, click@10, purchase@30
        (1, t(0), "view"), (1, t(10), "click"), (1, t(30), "purchase"),
        # user 2: view@0, click@20 (no purchase)
        (2, t(0), "view"), (2, t(20), "click"),
        # user 3: click BEFORE view — ordered funnel must not count it
        (3, t(5), "click"), (3, t(9), "view"),
        # user 4: view only
        (4, t(0), "view"),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    got = {r.step_idx: r for r in funnel_conversion_times(
        df, ["view", "click", "purchase"]).collect()}
    assert set(got) == {1, 2}
    # click latencies: u1 10s, u2 20s -> lower median 10s
    assert got[1].step == "click"
    assert got[1].n_converted == 2
    assert got[1].median_micros == 10_000_000
    # purchase: only u1 (30s)
    assert got[2].n_converted == 1
    assert got[2].median_micros == 30_000_000


def test_funnel_conversion_times_needs_two_steps(spark):
    import pytest as _pytest

    from nhs_data_pipeline_spark.ops.analytics import funnel_conversion_times

    df = spark.createDataFrame([], "user_id bigint, ts timestamp, event_type string")
    with _pytest.raises(ValueError):
        funnel_conversion_times(df, ["view"])


# ---------------------------------------------------------------------------
# incremental_agg_merge
# ---------------------------------------------------------------------------

def test_incremental_agg_matches_recompute(spark):
    from nhs_data_pipeline_spark.ops.merge import incremental_agg_merge

    base_rows = [("a", 10), ("a", 20), ("b", 5), (None, 7)]
    changes = [
        ("a", 10, -1),   # delete one of a's rows
        ("b", 5, -1),    # delete b's only row -> group drops
        ("c", 100, 1),   # brand-new group
        (None, 3, 1),    # NULL key gains a row
        ("a", 99, 1),    # update = delete+insert pair
        ("a", 20, -1),
    ]
    base = spark.createDataFrame(base_rows, "k string, v bigint").groupBy(
        "k"
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("v").cast("bigint").alias("total"),
    )
    ch = spark.createDataFrame(changes, "k string, v bigint, __op int")
    got = {
        r.k: (r.n_rows, r.total)
        for r in incremental_agg_merge(
            base, ch, ["k"], count_col="n_rows", sum_cols={"total": "v"}
        ).collect()
    }
    # recompute from scratch
    final = [("a", 99), (None, 7), (None, 3), ("c", 100)]
    exp = {}
    for k, v in final:
        n, t = exp.get(k, (0, 0))
        exp[k] = (n + 1, t + v)
    assert got == exp
    assert "b" not in got  # zero-count group dropped


def test_incremental_agg_insert_only_and_count_only(spark):
    from nhs_data_pipeline_spark.ops.merge import incremental_agg_merge

    base = spark.createDataFrame([("x", 2)], "k string, n_rows bigint")
    ch = spark.createDataFrame([("x", 1), ("y", 1)], "k string, __op int")
    got = {
        r.k: r.n_rows
        for r in incremental_agg_merge(base, ch, ["k"]).collect()
    }
    assert got == {"x": 3, "y": 1}


def test_incremental_agg_rejects_empty_keys(spark):
    """keys=[] must raise a clear ValueError, not IndexError at the
    keys[0] join-condition build (r06 ADVICE)."""
    import pytest

    from nhs_data_pipeline_spark.ops.merge import incremental_agg_merge

    base = spark.createDataFrame([("x", 2)], "k string, n_rows bigint")
    ch = spark.createDataFrame([("x", 1)], "k string, __op int")
    with pytest.raises(ValueError, match="keys must be non-empty"):
        incremental_agg_merge(base, ch, [])


# ---------------------------------------------------------------------------
# corr_matrix / mutual_information
# ---------------------------------------------------------------------------

def test_corr_matrix_python_replica(spark):
    import math

    from nhs_data_pipeline_spark.ops.analytics import corr_matrix

    rows = [(i, 2 * i + 3, (i * 17) % 23, 7) for i in range(50)]
    df = spark.createDataFrame(rows, "x bigint, y bigint, z bigint, c bigint")
    got = {(r.col_a, r.col_b): r for r in corr_matrix(df, ["x", "y", "z", "c"]).collect()}
    assert set(got) == {("x", "y"), ("x", "z"), ("x", "c"),
                        ("y", "z"), ("y", "c"), ("z", "c")}
    # y = 2x+3 -> corr exactly 1 (after floor-round)
    assert got[("x", "y")].corr == 1.0
    # constant column -> zero variance -> NULL corr
    assert got[("x", "c")].corr is None
    assert got[("z", "c")].corr is None
    # replica for the non-trivial pair
    n = len(rows)
    xs = [r[0] for r in rows]; zs = [r[2] for r in rows]
    sx, sz = sum(xs), sum(zs)
    sxx = sum(v * v for v in xs); szz = sum(v * v for v in zs)
    sxz = sum(a * b for a, b in zip(xs, zs))
    num = n * sxz - sx * sz
    va, vb = n * sxx - sx * sx, n * szz - sz * sz
    exp = math.floor(num / math.sqrt(float(va) * float(vb)) * 1e6 + 0.5) / 1e6
    assert got[("x", "z")].corr == exp
    assert all(r.n_rows == n for r in got.values())


def test_corr_matrix_complete_case_filter(spark):
    from nhs_data_pipeline_spark.ops.analytics import corr_matrix

    rows = [(1, 2, None), (2, 4, 5), (3, 6, 7), (4, 8, 9)]
    df = spark.createDataFrame(rows, "x bigint, y bigint, z bigint")
    got = {(r.col_a, r.col_b): r for r in corr_matrix(df, ["x", "y", "z"]).collect()}
    assert all(r.n_rows == 3 for r in got.values())  # NULL row dropped


def test_mutual_information_python_replica(spark):
    import math
    from collections import Counter

    from nhs_data_pipeline_spark.ops.analytics import mutual_information

    rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"),
            ("b", "y"), ("b", "x"), (None, "x"), (None, None)]
    df = spark.createDataFrame(rows, "s string, l string")
    got = mutual_information(df, "s", "l").collect()[0]
    cells = Counter(rows)
    ma = Counter(a for a, _ in rows)
    mb = Counter(b for _, b in rows)
    nn = len(rows)
    ln6 = lambda x: math.floor(math.log(x) * 1e6 + 0.5)  # noqa: E731
    mi_m = sum(
        nij * ln6(nn * nij / (ma[a] * mb[b]))
        for (a, b), nij in cells.items()
    )
    ha_m = sum(nij * ln6(ma[a]) for (a, b), nij in cells.items())
    assert got.n_rows == nn
    assert got.n_cells == len(cells)
    assert got.mi_nats == math.floor(mi_m / nn + 0.5) / 1e6
    assert got.h_a == (ln6(nn) - ha_m / nn) / 1e6
    assert got.mi_nats >= 0


def test_mutual_information_independent_is_zero(spark):
    from nhs_data_pipeline_spark.ops.analytics import mutual_information

    # perfectly independent 2x2: MI exactly 0
    rows = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 5
    df = spark.createDataFrame(rows, "s string, l string")
    got = mutual_information(df, "s", "l").collect()[0]
    assert got.mi_nats == 0.0


# ---------------------------------------------------------------------------
# benford_audit
# ---------------------------------------------------------------------------

def test_benford_audit_python_replica(spark):
    import math
    from collections import Counter

    from nhs_data_pipeline_spark.ops.quality import benford_audit

    vals = [1, 19, 199, 2, 23, 305, 47, 512, 6_000_001, 77, 81, 9]
    rows = [(v,) for v in vals] + [(None,), (0,), (-5,)]  # excluded tail
    df = spark.createDataFrame(rows, "v bigint")
    got = {r.digit: r for r in benford_audit(df, "v").collect()}
    assert set(got) == set(range(1, 10))
    cnt = Counter(int(str(v)[0]) for v in vals)
    tot = len(vals)
    f6 = lambda x: math.floor(x * 1e6 + 0.5) / 1e6  # noqa: E731
    for d in range(1, 10):
        exp_share = math.log10(1.0 + 1.0 / d)
        share = cnt.get(d, 0) / tot
        r = got[d]
        assert r.n_obs == cnt.get(d, 0)
        assert r.share == f6(share)
        assert r.expected_share == f6(exp_share)
        assert r.chi2_term == f6(
            (share - exp_share) * (share - exp_share) / exp_share * tot
        )
    # digit 3/4/5 present once; digit 8 -> one obs (81); all 9 rows exist
    assert got[3].n_obs == 1 and got[8].n_obs == 1


def test_contingency_chi2_python_replica(spark):
    import math
    from collections import Counter

    from nhs_data_pipeline_spark.ops.analytics import contingency_chi2

    rows = [("a", "x"), ("a", "x"), ("a", "y"), ("b", "y"),
            ("b", "y"), ("b", "y"), ("b", "x"), (None, "x")]
    df = spark.createDataFrame(rows, "s string, l string")
    got = contingency_chi2(df, "s", "l").collect()[0]
    cells = Counter(rows)
    ma = Counter(a for a, _ in rows)
    mb = Counter(b for _, b in rows)
    nn = len(rows)
    chi_m = 0
    p_sum = 0
    for (a, b), nij in cells.items():
        dev = float(nij * nn - ma[a] * mb[b])
        chi_m += math.floor(
            dev * dev / (float(ma[a]) * float(mb[b]) * float(nn)) * 1e6 + 0.5
        )
        p_sum += ma[a] * mb[b]
    # absent cells (observed 0) fold in closed form as N - P/N
    chi_m += math.floor((float(nn) - float(p_sum) / float(nn)) * 1e6 + 0.5)
    chi2 = chi_m / 1e6
    mindim = min(len(ma), len(mb)) - 1
    v = math.floor(math.sqrt(chi2 / (nn * mindim)) * 1e6 + 0.5) / 1e6
    assert got.n_rows == nn and got.n_cells == len(cells)
    assert got.a_levels == len(ma) and got.b_levels == len(mb)
    assert got.chi2 == math.floor(chi2 * 1e6 + 0.5) / 1e6
    assert got.cramers_v == v


def test_contingency_perfect_association_v_is_one(spark):
    from nhs_data_pipeline_spark.ops.analytics import contingency_chi2

    rows = [("a", "x")] * 5 + [("b", "y")] * 5
    df = spark.createDataFrame(rows, "s string, l string")
    r = contingency_chi2(df, "s", "l").collect()[0]
    assert r.cramers_v == 1.0


def test_contingency_independent_v_is_zero(spark):
    from nhs_data_pipeline_spark.ops.analytics import contingency_chi2

    rows = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")] * 4
    df = spark.createDataFrame(rows, "s string, l string")
    r = contingency_chi2(df, "s", "l").collect()[0]
    assert r.chi2 == 0.0 and r.cramers_v == 0.0


def test_contingency_single_level_null_v(spark):
    from nhs_data_pipeline_spark.ops.analytics import contingency_chi2

    df = spark.createDataFrame([("a", "x"), ("a", "y")], "s string, l string")
    r = contingency_chi2(df, "s", "l").collect()[0]
    assert r.cramers_v is None


def test_weighted_quantiles_python_replica(spark):
    from fractions import Fraction

    from nhs_data_pipeline_spark.ops.analytics import group_weighted_quantiles

    rows = [("g%d" % (i % 2), (i * 131) % 997, (i % 5) + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v bigint, w bigint")
    qs = ["1/4", "1/2", "3/4", "9/10"]
    got = {
        (r.g, r.q): r
        for r in group_weighted_quantiles(
            df, ["g"], "v", "w", qs, bucket_width=64
        ).collect()
    }
    groups = {}
    for g, v, w in rows:
        groups.setdefault(g, []).append((v, w))
    for g, pairs in groups.items():
        tot = sum(w for _, w in pairs)
        for s in qs:
            fr = Fraction(s)
            cum = 0
            for v, w in sorted(pairs):
                cum += w
                if fr.denominator * cum >= fr.numerator * tot:
                    break
            r = got[(g, s)]
            assert r.value_at_q == v, (g, s)
            assert r.total_weight == tot
    # quantiles are monotone in q
    for g in groups:
        assert (
            got[(g, "1/4")].value_at_q
            <= got[(g, "1/2")].value_at_q
            <= got[(g, "3/4")].value_at_q
            <= got[(g, "9/10")].value_at_q
        )


def test_weighted_quantiles_median_matches_median_op(spark):
    from nhs_data_pipeline_spark.ops.analytics import (
        group_weighted_median,
        group_weighted_quantiles,
    )

    rows = [("a", (i * 37) % 500, i % 3 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, v bigint, w bigint")
    med = group_weighted_median(df, ["g"], "v", "w").collect()[0]
    q = {
        r.q: r
        for r in group_weighted_quantiles(df, ["g"], "v", "w", ["1/2"]).collect()
    }
    assert q["1/2"].value_at_q == med.weighted_median


def test_weighted_quantiles_rejects_bad_q(spark):
    import pytest as _pytest

    from nhs_data_pipeline_spark.ops.analytics import group_weighted_quantiles

    df = spark.createDataFrame([("a", 1, 1)], "g string, v bigint, w bigint")
    with _pytest.raises(ValueError):
        group_weighted_quantiles(df, ["g"], "v", "w", ["0"])


# ---------------------------------------------------------------------------
# ks_two_sample
# ---------------------------------------------------------------------------

def test_ks_identical_and_disjoint_distributions(spark):
    from nhs_data_pipeline_spark.ops.analytics import ks_two_sample

    rows = [(v, g) for v in (1, 2, 3, 4) for g in ("a", "b")]
    df = spark.createDataFrame(rows, "v bigint, g string")
    r = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert (r.n_a, r.n_b, r.ks_d) == (4, 4, 0.0)
    rows = [(v, "a") for v in (1, 2)] + [(v, "b") for v in (10, 11)]
    df = spark.createDataFrame(rows, "v bigint, g string")
    r = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert r.ks_d == 1.0


def test_ks_hand_case_and_null_exclusion(spark):
    from nhs_data_pipeline_spark.ops.analytics import ks_two_sample

    # A = {1,2,3}, B = {2,3,4}: max ECDF gap is 1/3 (at x=1, 2, or 3)
    rows = [(1, "a"), (2, "a"), (3, "a"), (2, "b"), (3, "b"), (4, "b"),
            (None, "a"), (99, "zzz")]
    df = spark.createDataFrame(rows, "v bigint, g string")
    r = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert (r.n_a, r.n_b) == (3, 3)  # NULL value + foreign group excluded
    assert r.ks_d == 0.333333  # floor(1/3 * 1e6 + 0.5) / 1e6


def test_ks_empty_side_yields_null(spark):
    from nhs_data_pipeline_spark.ops.analytics import ks_two_sample

    df = spark.createDataFrame([(1, "a"), (2, "a")], "v bigint, g string")
    r = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    assert r.n_b == 0 and r.ks_d is None


def test_ks_partitioning_invariance_and_bucket_width(spark):
    from nhs_data_pipeline_spark.ops.analytics import ks_two_sample

    rows = [((i * 37) % 1000, "a" if i % 3 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "v bigint, g string")
    base = ks_two_sample(df, "v", "g", "a", "b").collect()[0]
    rep = ks_two_sample(df.repartition(7), "v", "g", "a", "b").collect()[0]
    tiny = ks_two_sample(df, "v", "g", "a", "b", bucket_width=8).collect()[0]
    assert base == rep == tiny


# ---------------------------------------------------------------------------
# robust_outliers
# ---------------------------------------------------------------------------

def test_robust_outliers_hand_case(spark):
    from nhs_data_pipeline_spark.ops.analytics import robust_outliers

    # group g: values 10,11,12,13,14 and one wild 1000
    # lower median of {10,11,12,13,14,1000} = 12;
    # deviations {2,1,0,1,2,988} -> lower MAD = 1
    # threshold 5.1891: outlier iff 10000*dev > 51891*1 -> dev >= 6
    rows = [("g", v) for v in (10, 11, 12, 13, 14, 1000)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    got = {r["v"]: (r["__med"], r["__mad"], r["is_outlier"])
           for r in robust_outliers(df, ["g"], "v").collect()}
    assert all(m == (12, 1) for m, _ in [((a, b), c) for a, b, c in got.values()])
    assert got[1000][2] is True
    assert all(got[v][2] is False for v in (10, 11, 12, 13, 14))


def test_robust_outliers_zero_mad_and_nulls(spark):
    from nhs_data_pipeline_spark.ops.analytics import robust_outliers

    # >= half the group equals the median -> MAD 0: anything strictly
    # off the median flags (documented degenerate robust-z behavior)
    rows = [("a", 5), ("a", 5), ("a", 5), ("a", 7), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    got = {(r.v): r.is_outlier for r in robust_outliers(df, ["g"], "v").collect()}
    assert got[5] is False and got[7] is True
    assert got[None] is None  # NULL value -> NULL flag, row kept


def test_robust_outliers_beats_zscore_masking(spark):
    """The classic masking failure: two huge outliers inflate the
    stddev enough that a 2-sigma z-score misses them both, while
    median/MAD flags them."""
    from nhs_data_pipeline_spark.ops.analytics import robust_outliers

    vals = [100 + i for i in range(20)] + [100000 + i for i in range(8)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v bigint")
    got = {r.v: r.is_outlier for r in robust_outliers(df, ["g"], "v").collect()}
    assert all(got[100000 + i] for i in range(8))
    assert not any(got[100 + i] for i in range(20))
    import statistics
    mu, sd = statistics.mean(vals), statistics.pstdev(vals)
    assert abs(100007 - mu) / sd < 2.3  # z-score would NOT flag at 2.3


def test_robust_outliers_partitioning_invariance(spark):
    from nhs_data_pipeline_spark.ops.analytics import robust_outliers

    rows = [(f"g{i % 3}", (i * 37) % 500) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    a = sorted(map(tuple, robust_outliers(df, ["g"], "v").collect()))
    b = sorted(map(tuple, robust_outliers(
        df.repartition(11), ["g"], "v").collect()))
    assert a == b


# ---------------------------------------------------------------------------
# group_rate_wilson_ci
# ---------------------------------------------------------------------------

def test_wilson_ci_hand_case(spark):
    import math

    from nhs_data_pipeline_spark.ops.analytics import group_rate_wilson_ci

    # g: 3 of 4 successes
    rows = [("g", True), ("g", True), ("g", True), ("g", False),
            ("g", None)]
    df = spark.createDataFrame(rows, "g string, ok boolean")
    r = group_rate_wilson_ci(df, ["g"], "ok").collect()[0]
    assert (r.n, r.n_success, r.rate) == (4, 3, 0.75)
    z, n, p = 1.96, 4.0, 0.75
    denom = 1.0 + z * z / n
    center = (p + z * z / (2.0 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert r.ci_lo == math.floor(max(0.0, center - half) * 1e6 + 0.5) / 1e6
    assert r.ci_hi == math.floor(min(1.0, center + half) * 1e6 + 0.5) / 1e6
    assert 0.0 <= r.ci_lo < 0.75 < r.ci_hi <= 1.0


def test_wilson_ci_extreme_rates_stay_in_unit_interval(spark):
    from nhs_data_pipeline_spark.ops.analytics import group_rate_wilson_ci

    rows = [("all", True)] * 5 + [("none", False)] * 5
    df = spark.createDataFrame(rows, "g string, ok boolean")
    got = {r.g: r for r in group_rate_wilson_ci(df, ["g"], "ok").collect()}
    # the normal approximation would put ci_hi > 1 / ci_lo < 0 here
    assert got["all"].rate == 1.0 and got["all"].ci_hi == 1.0
    assert got["all"].ci_lo > 0.5  # informative even at p-hat = 1
    assert got["none"].rate == 0.0 and got["none"].ci_lo == 0.0
    assert got["none"].ci_hi < 0.5


def test_ks_by_group_localizes_the_shifted_segment(spark):
    from nhs_data_pipeline_spark.ops.analytics import ks_by_group

    rows = (
        # segment "same": identical cohort distributions -> D = 0
        [("same", v, c) for v in (1, 2, 3) for c in (0, 1)]
        # segment "shifted": disjoint supports -> D = 1
        + [("shifted", v, 0) for v in (1, 2)]
        + [("shifted", v, 1) for v in (100, 200)]
        # segment "onesided": cohort 1 empty -> NULL D
        + [("onesided", 5, 0)]
    )
    df = spark.createDataFrame(rows, "g string, v bigint, side int")
    got = {r.g: r for r in ks_by_group(
        df, ["g"], "v", "side", 0, 1).collect()}
    assert got["same"].ks_d == 0.0
    assert got["shifted"].ks_d == 1.0
    assert got["onesided"].n_b == 0 and got["onesided"].ks_d is None
    # matches the unstratified op per segment
    from nhs_data_pipeline_spark.ops.analytics import ks_two_sample

    solo = ks_two_sample(
        df.filter("g = 'shifted'").withColumnRenamed("side", "grp"),
        "v", "grp", 0, 1,
    ).collect()[0]
    assert (solo.n_a, solo.n_b, solo.ks_d) == (
        got["shifted"].n_a, got["shifted"].n_b, got["shifted"].ks_d
    )


class TestKaplanMeier:
    """ops/analytics.kaplan_meier — the product-limit estimator."""

    @staticmethod
    def _ev(spark, rows):
        import datetime as dt

        base = dt.datetime(2000, 1, 1)
        data = [
            (u, base + dt.timedelta(days=d), et)
            for (u, d, et) in rows
        ]
        return spark.createDataFrame(
            data, "user_id long, ts timestamp, event_type string"
        )

    def test_textbook_case(self, spark):
        """observed durations {5, 10, 10}, censored {7, 12} (censor =
        corpus max at day 100): S(5) = 4/5, S(10) = 0.8 * (3-2)/3."""
        import math

        from nhs_data_pipeline_spark.ops import analytics as oan2

        ev = self._ev(spark, [
            (1, 0, "signup"), (1, 5, "purchase"),
            (2, 93, "signup"),                      # censored at 7
            (3, 0, "signup"), (3, 10, "purchase"),
            (4, 10, "signup"), (4, 20, "purchase"),  # dur 10
            (5, 88, "signup"),                      # censored at 12
            (9, 100, "view"),                       # pins corpus max
            (1, -3, "purchase"),  # before signup: must be ignored
            (7, 50, "purchase"),  # no signup: excluded entirely
        ])
        out = {r["dur_days"]: r for r in
               oan2.kaplan_meier(ev).collect()}
        assert set(out) == {5, 10}
        r5 = out[5]
        assert (r5["n_risk"], r5["d_events"], r5["c_censored"]) == (5, 1, 0)
        m5 = math.floor(math.log(4 / 5) * 1e6 + 0.5)
        assert r5["log_surv_micro"] == m5
        assert abs(r5["survival"] - 0.8) < 2e-6
        r10 = out[10]
        assert (r10["n_risk"], r10["d_events"]) == (3, 2)
        m10 = m5 + math.floor(math.log(1 / 3) * 1e6 + 0.5)
        assert r10["log_surv_micro"] == m10
        assert abs(r10["survival"] - 0.8 / 3) < 2e-6

    def test_all_die_hits_exact_zero(self, spark):
        """A time where the whole risk set converts: ln(-inf) is
        modeled as NULL log-survival + survival exactly 0.0, carried
        to later rows."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        ev = self._ev(spark, [
            (1, 0, "signup"), (1, 5, "purchase"),
            (2, 0, "signup"), (2, 5, "purchase"),
        ])
        rows = oan2.kaplan_meier(ev).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r["dur_days"], r["n_risk"], r["d_events"]) == (5, 2, 2)
        assert r["log_surv_micro"] is None
        assert r["survival"] == 0.0

    def test_no_events_only_censoring(self, spark):
        """All subjects censored: no event times, empty curve."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        ev = self._ev(spark, [
            (1, 0, "signup"), (2, 3, "signup"), (9, 10, "view"),
        ])
        assert oan2.kaplan_meier(ev).count() == 0


class TestTheilSen:
    """ops/analytics.group_theil_sen — robust pairwise-median slope."""

    @staticmethod
    def _pts(spark, rows):
        return spark.createDataFrame(
            rows, "g string, x bigint, vm bigint"
        )

    def test_clean_line_exact_slope(self, spark):
        """Perfect line vm = 2e6 * x (slope 2.0/day in value units):
        every pairwise slope is identical."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        pts = self._pts(spark, [("a", x, 2_000_000 * x)
                                for x in range(6)])
        r = oan2.group_theil_sen(pts, ["g"], "x", "vm").collect()[0]
        assert (r.n_points, r.n_pairs) == (6, 15)
        assert r.ts_slope == 2.0

    def test_outlier_robustness_vs_mean(self, spark):
        """One wild outlier barely moves the Theil-Sen slope (median of
        pairwise slopes) while the OLS slope would chase it."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        rows = [("a", x, 1_000_000 * x) for x in range(9)]
        rows[4] = ("a", 4, 500_000_000)  # massive spike at x=4
        r = oan2.group_theil_sen(
            self._pts(spark, rows), ["g"], "x", "vm"
        ).collect()[0]
        assert abs(r.ts_slope - 1.0) < 0.01, r.ts_slope

    def test_even_pair_count_averages_middles(self, spark):
        """4 points -> 6 pairs (even): median = mean of 3rd and 4th
        ordered slopes."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        pts = self._pts(spark, [("a", 0, 0), ("a", 1, 1_000_000),
                                ("a", 2, 4_000_000), ("a", 3, 5_000_000)])
        # slopes: 1, 2, 5/3; 3, 2; 1 -> sorted [1,1,5/3,2,2,3] -> (5/3+2)/2
        r = oan2.group_theil_sen(pts, ["g"], "x", "vm").collect()[0]
        import math
        exp = math.floor((5 / 3 + 2.0) / 2.0 * 1e6 + 0.5) / 1e6
        assert r.ts_slope == exp, (r.ts_slope, exp)

    def test_single_point_group_dropped(self, spark):
        from nhs_data_pipeline_spark.ops import analytics as oan2

        pts = self._pts(spark, [("a", 0, 0), ("a", 5, 1_000_000),
                                ("lonely", 3, 7_000_000)])
        got = {r.g for r in
               oan2.group_theil_sen(pts, ["g"], "x", "vm").collect()}
        assert got == {"a"}


class TestMannWhitney:
    """ops/analytics.mann_whitney_u — exact rank-sum with midranks."""

    @staticmethod
    def _df(spark, a_vals, b_vals):
        rows = [(v, "A") for v in a_vals] + [(v, "B") for v in b_vals]
        return spark.createDataFrame(rows, "v bigint, g string")

    def test_textbook_no_ties(self, spark):
        """A = {1,2,3}, B = {4,5}: every B beats every A -> U_a = 0,
        U_b = 6, AUC 0."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        r = oan2.mann_whitney_u(
            self._df(spark, [1, 2, 3], [4, 5]), "v", "g", "A", "B"
        ).collect()[0]
        assert (r.n_a, r.n_b) == (3, 2)
        assert r.u_a == 0.0 and r.u_b == 6.0
        assert r.auc_effect == 0.0

    def test_ties_give_half_units_scipy_replica(self, spark):
        """Tied values produce exact half-unit U; cross-checked against
        the closed-form midrank computation."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        a, b = [1, 2, 2, 5], [2, 3, 5]
        r = oan2.mann_whitney_u(
            self._df(spark, a, b), "v", "g", "A", "B"
        ).collect()[0]
        # ranks of sorted [1,2,2,2,3,5,5]: midranks 1, 3,3,3, 5, 6.5,6.5
        # R_a = 1 + 3 + 3 + 6.5 = 13.5; U_a = 13.5 - 4*5/2 = 3.5
        assert r.u_a == 3.5 and r.u_b == 4 * 3 - 3.5
        assert abs(r.auc_effect - 3.5 / 12) < 2e-6
        try:
            from scipy.stats import mannwhitneyu  # noqa: F401
        except Exception:
            return
        import numpy as np
        res = mannwhitneyu(np.array(a), np.array(b),
                           alternative="two-sided", method="asymptotic")
        assert abs(res.statistic - r.u_a) < 1e-9

    def test_empty_side_null(self, spark):
        from nhs_data_pipeline_spark.ops import analytics as oan2

        r = oan2.mann_whitney_u(
            self._df(spark, [1, 2], []), "v", "g", "A", "B"
        ).collect()[0]
        assert r.n_b == 0 and r.u_a is None and r.z_approx is None

    def test_identical_distributions_auc_half(self, spark):
        from nhs_data_pipeline_spark.ops import analytics as oan2

        vals = list(range(50))
        r = oan2.mann_whitney_u(
            self._df(spark, vals, vals), "v", "g", "A", "B"
        ).collect()[0]
        assert r.auc_effect == 0.5
        assert abs(r.z_approx) < 1e-6


class TestGroupAcf:
    """ops/analytics.group_acf — exact-moment Box-Jenkins ACF."""

    def test_matches_numpy_replica(self, spark):
        """Random-ish integer series: every lag matches the closed-form
        estimator computed in numpy at 6 dp."""
        import math

        from nhs_data_pipeline_spark.ops import analytics as oan2

        vals = [((i * 37) % 11) * 1_000_000 - 3_000_000 for i in range(30)]
        pts = spark.createDataFrame(
            [("a", i, v) for i, v in enumerate(vals)],
            "g string, x bigint, vm bigint",
        )
        got = {r.lag: r for r in
               oan2.group_acf(pts, ["g"], "x", "vm", max_lag=3).collect()}
        n = len(vals)
        ybar = sum(vals) / n
        den = sum((v - ybar) ** 2 for v in vals)
        for k in (1, 2, 3):
            num = sum((vals[t] - ybar) * (vals[t + k] - ybar)
                      for t in range(n - k))
            exp = math.floor(num / den * 1e6 + 0.5) / 1e6
            assert abs(got[k].acf - exp) < 2e-6, (k, got[k].acf, exp)
            assert got[k].n_pairs == n - k

    def test_weekly_cycle_peaks_at_period(self, spark):
        """A pure period-7 cycle: acf(7) ~ 1, acf(1) well below."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        vals = [(1_000_000 if i % 7 == 0 else 0) for i in range(70)]
        pts = spark.createDataFrame(
            [("a", i, v) for i, v in enumerate(vals)],
            "g string, x bigint, vm bigint",
        )
        got = {r.lag: r.acf for r in
               oan2.group_acf(pts, ["g"], "x", "vm", max_lag=7).collect()}
        assert got[7] > 0.8 and got[1] < 0.0

    def test_calendar_gaps_drop_pairs(self, spark):
        """A missing day removes exactly the pairs that straddle it."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        pts = spark.createDataFrame(
            [("a", x, x * 1_000_000) for x in [0, 1, 2, 4, 5]],
            "g string, x bigint, vm bigint",
        )
        got = {r.lag: r.n_pairs for r in
               oan2.group_acf(pts, ["g"], "x", "vm", max_lag=2).collect()}
        assert got[1] == 3  # (0,1),(1,2),(4,5); (2,3),(3,4) straddle x=3
        assert got[2] == 2  # (0,2),(2,4); (3,5) needs the missing x=3


class TestHillTailIndex:
    """ops/analytics.hill_tail_index — power-law tail estimator."""

    def test_pareto_sample_recovers_alpha(self, spark):
        """Deterministic Pareto(alpha=2.5) quantile sample: the Hill
        estimate lands near the true exponent."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        surv = 2.5  # survival exponent; density (Clauset) alpha = 3.5
        n = 2000
        # x_min 1000 keeps integer rounding from biasing ln(x/x_min)
        vals = [int(round(1000.0 * (1.0 - (i + 0.5) / n) ** (-1.0 / surv)))
                for i in range(n)]
        df = spark.createDataFrame([(v,) for v in vals], "v bigint")
        r = oan2.hill_tail_index(df, "v", x_min=1000).collect()[0]
        assert r.n_tail > 1500
        assert 3.3 < r.alpha < 3.7, r.alpha

    def test_empty_tail_and_degenerate(self, spark):
        import pytest as _pytest

        from nhs_data_pipeline_spark.ops import analytics as oan2

        df = spark.createDataFrame([(1,), (2,), (3,)], "v bigint")
        r = oan2.hill_tail_index(df, "v", x_min=100).collect()[0]
        assert r.n_tail == 0 and r.alpha is None
        # all tail values == x_min: log-sum 0 -> NULL, not div0
        d2 = spark.createDataFrame([(5,), (5,), (5,)], "v bigint")
        r2 = oan2.hill_tail_index(d2, "v", x_min=5).collect()[0]
        assert r2.n_tail == 3 and r2.alpha is None
        with _pytest.raises(ValueError):
            oan2.hill_tail_index(df, "v", x_min=0)


class TestSpearman:
    """ops/analytics.spearman_corr — exact midrank Spearman."""

    def test_perfect_monotone_nonlinear(self, spark):
        """y = x^3 (nonlinear, monotone): Pearson < 1 but Spearman
        exactly 1; reversed sign gives exactly -1."""
        from nhs_data_pipeline_spark.ops import analytics as oan2

        rows = [(x, x ** 3) for x in range(1, 40)]
        df = spark.createDataFrame(rows, "a bigint, b bigint")
        r = oan2.spearman_corr(df, "a", "b").collect()[0]
        assert r.n == 39 and r.rho_spearman == 1.0
        neg = spark.createDataFrame(
            [(x, -(x ** 3)) for x in range(1, 40)], "a bigint, b bigint"
        )
        assert oan2.spearman_corr(neg, "a", "b").collect()[0].rho_spearman == -1.0

    def test_ties_match_scipy(self, spark):
        from nhs_data_pipeline_spark.ops import analytics as oan2

        a = [1, 2, 2, 3, 3, 3, 4, 10, 10, 5]
        b = [2, 1, 3, 3, 5, 4, 4, 9, 12, 7]
        df = spark.createDataFrame(list(zip(a, b)), "a bigint, b bigint")
        r = oan2.spearman_corr(df, "a", "b").collect()[0]
        try:
            from scipy.stats import spearmanr
        except Exception:
            assert 0.5 < r.rho_spearman < 1.0
            return
        exp = spearmanr(a, b).statistic
        assert abs(r.rho_spearman - exp) < 2e-6, (r.rho_spearman, exp)

    def test_constant_column_null(self, spark):
        from nhs_data_pipeline_spark.ops import analytics as oan2

        df = spark.createDataFrame(
            [(1, 5), (2, 5), (3, 5)], "a bigint, b bigint"
        )
        r = oan2.spearman_corr(df, "a", "b").collect()[0]
        assert r.rho_spearman is None


def test_mannwhitney_by_group_matches_global_and_isolates(spark):
    """Each group's row equals the global op run on that slice; a
    shifted group shows auc > 0.5 while an identical group sits at
    exactly 0.5; NULL group keys are legal groups."""
    from nhs_data_pipeline_spark.ops import analytics as oan2

    rows = []
    rows += [("shift", v, "A") for v in range(20, 40)]
    rows += [("shift", v, "B") for v in range(0, 20)]
    rows += [("same", v, "A") for v in range(10)]
    rows += [("same", v, "B") for v in range(10)]
    rows += [(None, v, "A") for v in (1, 2)]
    rows += [(None, v, "B") for v in (1, 3)]
    df = spark.createDataFrame(rows, "g string, v bigint, s string")
    got = {r.g: r for r in oan2.mann_whitney_by_group(
        df, ["g"], "v", "s", "A", "B").collect()}
    assert got["shift"].auc_effect == 1.0
    assert got["same"].auc_effect == 0.5
    assert None in got and got[None].n_a == 2
    for gname in ("shift", "same"):
        sub = df.filter(
            f"g = '{gname}'" if gname else "g is null"
        )
        glob = oan2.mann_whitney_u(sub, "v", "s", "A", "B").collect()[0]
        assert glob.u_a == got[gname].u_a
        assert glob.auc_effect == got[gname].auc_effect


def test_km_by_cohort_matches_global_per_slice(spark):
    """Each cohort's curve equals the global op run on that cohort's
    users alone (with the same global censor time pinned)."""
    import datetime as dt

    from nhs_data_pipeline_spark.ops import analytics as oan2

    base = dt.datetime(2000, 1, 1)
    rows = []
    # cohort 2000: two users, one converts at 5d, one censored
    rows += [(1, base, "signup"), (1, base + dt.timedelta(days=5), "purchase")]
    rows += [(2, base + dt.timedelta(days=2), "signup")]
    # cohort 2001: one user converting at 3d
    y1 = base + dt.timedelta(days=400)
    rows += [(3, y1, "signup"), (3, y1 + dt.timedelta(days=3), "purchase")]
    rows += [(9, base + dt.timedelta(days=500), "view")]  # censor pin
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {(r.cohort, r.dur_days): r
           for r in oan2.kaplan_meier_by_group(ev).collect()}
    assert set(got) == {(2000, 5), (2001, 3)}
    r0 = got[(2000, 5)]
    assert (r0.n_risk, r0.d_events) == (2, 1)
    assert abs(r0.survival - 0.5) < 2e-6
    r1 = got[(2001, 3)]
    assert (r1.n_risk, r1.d_events) == (1, 1)
    assert r1.survival == 0.0 and r1.log_surv_micro is None


def test_two_proportion_ztest_textbook(spark):
    """50/100 vs 30/100: diff 0.2, z = 0.2/sqrt(0.4*0.6*0.02) —
    cross-checked against the closed form; empty side -> NULLs."""
    import math

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rows = [("a", 1)] * 50 + [("a", 0)] * 50 + [("b", 1)] * 30 + [("b", 0)] * 70
    df = spark.createDataFrame(rows, "g string, s int")
    r = oan2.two_proportion_ztest(df, "g", "s", "a", "b").collect()[0]
    assert (r.n_a, r.k_a, r.n_b, r.k_b) == (100, 50, 100, 30)
    assert r.rate_a == 0.5 and r.rate_b == 0.3 and r.diff == 0.2
    exp = 0.2 / math.sqrt(0.4 * 0.6 * 0.02)
    assert abs(r.z_pooled - exp) < 2e-6
    # one-sided empty
    e = oan2.two_proportion_ztest(
        spark.createDataFrame([("a", 1)], "g string, s int"),
        "g", "s", "a", "b",
    ).collect()[0]
    assert e.n_b == 0 and e.z_pooled is None and e.diff is None
    # degenerate pooled rate (all successes): NULL z, valid rates
    d = oan2.two_proportion_ztest(
        spark.createDataFrame([("a", 1), ("b", 1)], "g string, s int"),
        "g", "s", "a", "b",
    ).collect()[0]
    assert d.rate_a == 1.0 and d.z_pooled is None


@pytest.mark.slow
def test_survival_ops_drop_null_start_ts(spark):
    """Regression (r8 ADVICE): a subject whose only signup ts is NULL
    gets a NULL __t0/__dur; Spark windows sort NULLS FIRST while
    DuckDB sorts NULLS LAST, so the cumulative risk-set sums would
    coin-flip cross-engine. All three survival ops must drop such
    subjects — outputs equal the same data without the NULL-ts user."""
    import datetime as dt

    from nhs_data_pipeline_spark.ops import analytics as oan2

    base = dt.datetime(2000, 1, 1)
    clean = [
        (1, base, "signup"),
        (1, base + dt.timedelta(days=5), "purchase"),
        (2, base + dt.timedelta(days=2), "signup"),
        (3, base, "signup"),
        (3, base + dt.timedelta(days=3), "purchase"),
        (9, base + dt.timedelta(days=100), "view"),
    ]
    dirty = clean + [(7, None, "signup")]
    for op in (
        oan2.kaplan_meier,
        oan2.kaplan_meier_by_group,
        oan2.logrank_test,
    ):
        ev_c = spark.createDataFrame(
            clean, "user_id long, ts timestamp, event_type string"
        )
        ev_d = spark.createDataFrame(
            dirty, "user_id long, ts timestamp, event_type string"
        )
        rows_c = sorted(map(tuple, op(ev_c).collect()))
        rows_d = sorted(map(tuple, op(ev_d).collect()))
        assert rows_c == rows_d, op.__name__


def test_theil_sen_acf_drop_null_groups_up_front(spark):
    """Regression (r8 ADVICE): group_theil_sen / group_acf drop
    NULL-key groups UP FRONT (matching their oracles) instead of
    carrying them through the pair join only to lose them at the final
    name join — NULL-group rows yield no output and leave the other
    groups' results untouched."""
    from nhs_data_pipeline_spark.ops import analytics as oan2

    rows = [("a", x, 1000000 * (x + 1)) for x in range(5)]
    rows += [(None, x, 7000000 * x) for x in range(5)]
    pts = spark.createDataFrame(rows, "g string, x bigint, vm bigint")
    clean = pts.filter(F.col("g").isNotNull())

    ts_d = sorted(map(tuple, oan2.group_theil_sen(
        pts, ["g"], "x", "vm").collect()))
    ts_c = sorted(map(tuple, oan2.group_theil_sen(
        clean, ["g"], "x", "vm").collect()))
    assert ts_d == ts_c and len(ts_d) == 1 and ts_d[0][0] == "a"

    acf_d = sorted(map(tuple, oan2.group_acf(
        pts, ["g"], "x", "vm", max_lag=2).collect()))
    acf_c = sorted(map(tuple, oan2.group_acf(
        clean, ["g"], "x", "vm", max_lag=2).collect()))
    assert acf_d == acf_c and {r[0] for r in acf_d} == {"a"}


def test_logrank_identical_cohorts_and_lifelines_replica(spark):
    """Mirrored cohorts (same durations/censoring in both): O == E
    exactly and z ~ 0; a strongly separated pair gives |z| large with
    the sign of the faster-converting cohort; values match a direct
    python replica of the pooled-hazard formula."""
    import datetime as dt
    import math

    from nhs_data_pipeline_spark.ops import analytics as oan2

    base = dt.datetime(2000, 1, 1)

    def ev(spark, spec):
        # spec: list of (uid, conv_day or None)
        rows = [(9999, base + dt.timedelta(days=200), "view")]
        for uid, d in spec:
            rows.append((uid, base, "signup"))
            if d is not None:
                rows.append((uid, base + dt.timedelta(days=d), "purchase"))
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        )

    # mirrored: even uid 2k and odd uid 2k+1 behave identically
    spec = []
    for k, d in enumerate([3, 7, None, 12, None]):
        spec += [(2 * k, d), (2 * k + 1, d)]
    r = oan2.logrank_test(ev(spark, spec)).collect()[0]
    assert r.o_a == 3 and abs(r.e_a - 3.0) < 2e-6
    assert abs(r.z_logrank) < 1e-4

    # separated: evens all convert day 1, odds never
    spec2 = [(2 * k, 1) for k in range(8)] + [(2 * k + 1, None)
                                              for k in range(8)]
    r2 = oan2.logrank_test(ev(spark, spec2)).collect()[0]
    assert r2.o_a == 8
    # python replica: single event time, d=8, na=nb=8
    e = 8 * 8 / 16
    v = 8 * (8 / 16) * (1 - 8 / 16) * (16 - 8) / (16 - 1)
    z = math.floor((8 - e) / math.sqrt(v) * 1e6 + 0.5) / 1e6
    assert abs(r2.e_a - e) < 2e-6 and abs(r2.z_logrank - z) < 2e-6


def test_kruskal_wallis_matches_rank_replica(spark):
    """3 groups with ties: H (raw + tie-corrected) matches a direct
    numpy midrank replica of the textbook formula; single-row guard."""
    import numpy as np

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rng = np.random.RandomState(3)
    vals, grps = [], []
    for gi, (mu, n) in enumerate([(10, 40), (12, 35), (10, 25)]):
        v = (mu + rng.randint(-4, 5, n)).tolist()  # heavy ties
        vals += v
        grps += [f"g{gi}"] * n
    df = spark.createDataFrame(
        list(zip(grps, vals)), "g string, v long"
    )
    r = oan2.kruskal_wallis(df, "v", "g").collect()[0]
    # numpy replica: midranks over pooled values
    arr = np.array(vals, dtype=np.float64)
    order = np.argsort(arr, kind="stable")
    ranks = np.empty_like(arr)
    sorted_v = arr[order]
    i = 0
    pos = 1
    while i < len(arr):
        j = i
        while j < len(arr) and sorted_v[j] == sorted_v[i]:
            j += 1
        mid = (pos + (pos + (j - i) - 1)) / 2.0
        for k in range(i, j):
            ranks[order[k]] = mid
        pos += j - i
        i = j
    n_tot = len(arr)
    garr = np.array(grps)
    s = 0.0
    for gname in ["g0", "g1", "g2"]:
        rsum = ranks[garr == gname].sum()
        s += rsum * rsum / (garr == gname).sum()
    h_raw = 12.0 / (n_tot * (n_tot + 1)) * s - 3 * (n_tot + 1)
    _, counts = np.unique(arr, return_counts=True)
    corr = 1.0 - (counts ** 3 - counts).sum() / (n_tot ** 3 - n_tot)
    assert r.n_total == n_tot and r.k_groups == 3
    assert abs(r.h_stat - h_raw) < 2e-6
    assert abs(r.tie_correction - corr) < 2e-6
    assert abs(r.h_corrected - h_raw / corr) < 2e-6


def test_kendall_tau_matches_bruteforce(spark):
    """tau-b per group matches an O(n^2) pair replica (ties in both
    x and y); NULL group kept as its own group (discipline)."""
    import numpy as np

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rng = np.random.RandomState(5)
    rows = []
    for gname in ["a", "b", None]:
        for _ in range(40):
            x = int(rng.randint(0, 8))
            rows.append((gname, x, x // 2 + int(rng.randint(-2, 3))))
    df = spark.createDataFrame(rows, "g string, x long, y long")
    got = {r.g: r for r in oan2.kendall_tau_by_group(
        df, ["g"], "x", "y").collect()}
    assert set(got) == {"a", "b", None}
    for gname in got:
        pts = [(x, y) for g, x, y in rows if g == gname]
        C = Dd = 0
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                dx = pts[i][0] - pts[j][0]
                dy = pts[i][1] - pts[j][1]
                if dx * dy > 0:
                    C += 1
                elif dx * dy < 0:
                    Dd += 1
        n = len(pts)
        from collections import Counter
        sx = sum(t * t - t for t in Counter(p[0] for p in pts).values())
        sy = sum(t * t - t for t in Counter(p[1] for p in pts).values())
        a2 = n * (n - 1) - sx
        b2 = n * (n - 1) - sy
        import math
        tau = 2.0 * (C - Dd) / math.sqrt(a2 * b2)
        r = got[gname]
        assert (r.concordant, r.discordant, r.n) == (C, Dd, n), gname
        assert abs(r.tau_b - tau) < 2e-6, gname


def test_exp_hazard_ratio_closed_form(spark):
    """Two cohorts with known event counts / exposures: HR and the
    Wald z match the closed form; NULL-t0 subjects dropped; empty
    cohort yields NULL HR/z."""
    import datetime as dt
    import math

    from nhs_data_pipeline_spark.ops import analytics as oan2

    base = dt.datetime(2000, 1, 1)
    rows = [(999, base + dt.timedelta(days=100), "view")]  # censor pin
    # evens (coh 0): 2 convert at 5d and 10d, 1 censored (100d)
    rows += [(0, base, "signup"), (0, base + dt.timedelta(days=5), "purchase")]
    rows += [(2, base, "signup"), (2, base + dt.timedelta(days=10), "purchase")]
    rows += [(4, base, "signup")]
    # odds (coh 1): 1 converts at 20d, 1 censored
    rows += [(1, base, "signup"), (1, base + dt.timedelta(days=20), "purchase")]
    rows += [(3, base, "signup")]
    rows += [(7, None, "signup")]  # NULL-t0: dropped
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    r = oan2.exp_hazard_ratio(ev).collect()[0]
    assert (r.d_a, r.t_a_days, r.d_b, r.t_b_days) == (2, 115, 1, 120)
    hr = (2 * 120) / (1 * 115)
    assert abs(r.hazard_ratio - hr) < 2e-6
    lnm = math.floor(math.log(hr) * 1e6 + 0.5) / 1e6
    z = math.floor(lnm / math.sqrt(1 / 2 + 1 / 1) * 1e6 + 0.5) / 1e6
    assert abs(r.z_wald - z) < 1e-9
    # empty B cohort
    ev2 = spark.createDataFrame(
        [(0, base, "signup"), (999, base + dt.timedelta(days=9), "view")],
        "user_id long, ts timestamp, event_type string",
    )
    r2 = oan2.exp_hazard_ratio(ev2).collect()[0]
    assert r2.hazard_ratio is None and r2.z_wald is None


def test_bh_fdr_step_up_and_replica(spark):
    """BH: p from the A&S polynomial matches a python replica exactly
    (after the micro quantize); the STEP-UP rule holds (a passing
    later rank rescues earlier failures; the k*-cut rejects exactly
    ranks 1..k*); NULL z drops from the battery."""
    import math

    from nhs_data_pipeline_spark.ops import analytics as oan2

    def p_replica(z):
        az = abs(z)
        t = 1.0 / (1.0 + 2.316419e-1 * az)
        poly = t * (3.1938153e-1 + t * (-3.56563782e-1 + t * (
            1.781477937e0 + t * (-1.821255978e0 + t * 1.330274429e0))))
        p = 2.0 * (3.9894228040143267e-1
                   * math.exp(-(az * az) / 2.0)) * poly
        return math.floor(p * 1e6 + 0.5) / 1e6

    zs = [("t1", 3.3), ("t2", 2.8), ("t3", 2.2), ("t4", 2.12),
          ("t5", 0.5), ("t6", None)]
    df = spark.createDataFrame(zs, "seg string, z double")
    got = {r.seg: r for r in oan2.bh_fdr(df, ["seg"], "z", q=0.05)
           .collect()}
    assert set(got) == {"t1", "t2", "t3", "t4", "t5"}  # NULL dropped
    ps = {s: p_replica(z) for s, z in zs if z is not None}
    for s in ps:
        assert got[s].p_value == ps[s], (s, got[s].p_value, ps[s])
    # python BH replica
    ordered = sorted(ps.items(), key=lambda kv: (kv[1], kv[0]))
    m = len(ordered)
    kstar = max(
        (i for i, (_, p) in enumerate(ordered, 1)
         if p * m <= i * 0.05 + 1e-15),
        default=0,
    )
    expect_reject = {s for s, _ in ordered[:kstar]}
    assert {s for s in got if got[s].reject} == expect_reject
    assert kstar >= 1  # the case actually rejects something
    # step-up rescue: ranks engineered so rank 2 fails its own
    # threshold but rank 3 passes -> all of 1..3 reject
    df2 = spark.createDataFrame(
        [("a", 3.5), ("b", 1.75), ("c", 1.71)], "seg string, z double"
    )
    got2 = {r.seg: (r.p_rank, r.reject) for r in oan2.bh_fdr(
        df2, ["seg"], "z", q=0.1).collect()}
    ps2 = sorted((p_replica(z), s) for s, z in
                 [("a", 3.5), ("b", 1.75), ("c", 1.71)])
    # verify the engineered shape before asserting the rescue
    assert ps2[1][0] * 3 > 2 * 0.1 and ps2[2][0] * 3 <= 3 * 0.1, ps2
    assert all(rej for _, rej in got2.values()), got2


def test_bh_fdr_null_key_ties_rank_nulls_last(spark):
    """A NULL segment key tied on p_micro must rank AFTER the non-NULL
    keys — DuckDB's ORDER BY is NULLS LAST for ASC while Spark's
    Window default is NULLS FIRST, and the divergent p_rank flips the
    reject frontier cross-engine (r9 ADVICE regression)."""
    from nhs_data_pipeline_spark.ops import analytics as oan2

    # identical z -> identical p_micro -> the rank tie-break is
    # entirely the key ordering
    df = spark.createDataFrame(
        [("a", 2.0), (None, 2.0), ("b", 2.0)], "seg string, z double"
    )
    got = oan2.bh_fdr(df, ["seg"], "z", q=0.05).collect()
    ranks = {r["seg"]: r["p_rank"] for r in got}
    assert ranks["a"] == 1 and ranks["b"] == 2, ranks
    assert ranks[None] == 3, ranks  # NULL key ranks last, as in DuckDB


def test_anova_oneway_matches_numpy_replica(spark):
    """F statistic matches a direct numpy decomposition (SSB/SSW from
    group means); degenerate single-group and zero-variance cases are
    NULL."""
    import numpy as np

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rng = np.random.RandomState(9)
    vals, grps = [], []
    for gi, (mu, n) in enumerate([(100, 50), (115, 40), (95, 30)]):
        v = (mu + rng.randint(-20, 21, n)).tolist()
        vals += v
        grps += [f"g{gi}"] * n
    df = spark.createDataFrame(list(zip(grps, vals)), "g string, v long")
    r = oan2.anova_oneway(df, "v", "g").collect()[0]
    arr = np.array(vals, dtype=np.float64)
    garr = np.array(grps)
    grand = arr.mean()
    ssb = sum(
        (garr == g).sum() * (arr[garr == g].mean() - grand) ** 2
        for g in ["g0", "g1", "g2"]
    )
    ssw = sum(
        ((arr[garr == g] - arr[garr == g].mean()) ** 2).sum()
        for g in ["g0", "g1", "g2"]
    )
    f_exp = (ssb / 2) / (ssw / (len(arr) - 3))
    assert r.n_total == len(arr) and r.k_groups == 3
    assert abs(r.f_stat - f_exp) < 2e-5
    # zero within-variance -> NULL F
    z = spark.createDataFrame(
        [("a", 5), ("a", 5), ("b", 7), ("b", 7)], "g string, v long"
    )
    rz = oan2.anova_oneway(z, "v", "g").collect()[0]
    assert rz.f_stat is None and rz.ssb_micro is not None


def test_welch_ttest_matches_replica(spark):
    """t and the Welch-Satterthwaite df match the closed form on
    unequal-variance samples; n<2 side yields NULL t/df."""
    import math

    import numpy as np

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rng = np.random.RandomState(4)
    a = (1000 + rng.randint(-5, 6, 30)).tolist()
    b = (900 + rng.randint(-200, 201, 50)).tolist()
    rows = [("A", int(v)) for v in a] + [("B", int(v)) for v in b]
    df = spark.createDataFrame(rows, "g string, v long")
    r = oan2.welch_ttest(df, "v", "g", "A", "B").collect()[0]
    va = np.var(a, ddof=1)
    vb = np.var(b, ddof=1)
    se2 = va / 30 + vb / 50
    t_exp = (np.mean(a) - np.mean(b)) / math.sqrt(se2)
    df_exp = se2 ** 2 / (
        (va / 30) ** 2 / 29 + (vb / 50) ** 2 / 49
    )
    assert (r.n_a, r.n_b) == (30, 50)
    assert abs(r.t_stat - t_exp) < 2e-5
    assert abs(r.df_welch - df_exp) < 2e-4
    tiny = spark.createDataFrame(
        [("A", 1), ("B", 2), ("B", 3)], "g string, v long"
    )
    rt = oan2.welch_ttest(tiny, "v", "g", "A", "B").collect()[0]
    assert rt.t_stat is None and rt.df_welch is None


def test_cuped_lift_matches_numpy_replica(spark):
    """CUPED == the direct numpy estimator (theta from the covariance,
    per-arm adjusted means) on a synthetic experiment where the pre
    covariate strongly predicts the post metric; variance reduction
    equals rho^2; zero-variance covariate and single-arm inputs
    degrade to NULL, never crash."""
    import math
    import random

    import numpy as np

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rng = random.Random(17)
    rows = []
    truth = {}
    for u in range(60):
        t = u % 2
        pre = rng.randrange(100, 1000)
        post = 2 * pre + rng.randrange(0, 200) + (150 if t else 0)
        truth[u] = (t, pre, post)
        # split each user's totals across several event rows
        for part in (pre // 2, pre - pre // 2):
            rows.append((u, t, True, part))
        rows.append((u, t, False, post))
    df = spark.createDataFrame(
        rows, "u long, t int, pre boolean, vm long"
    )
    got = oan2.cuped_lift(df, "u", "t", "pre", "vm").collect()[0]
    x = np.array([truth[u][1] for u in sorted(truth)], dtype=float)
    y = np.array([truth[u][2] for u in sorted(truth)], dtype=float)
    tt = np.array([truth[u][0] for u in sorted(truth)])
    n = len(x)
    theta = ((n * (x * y).sum() - x.sum() * y.sum())
             / (n * (x * x).sum() - x.sum() ** 2))
    lift_raw = y[tt == 1].mean() - y[tt == 0].mean()
    lift_cuped = lift_raw - theta * (x[tt == 1].mean() - x[tt == 0].mean())
    rho2 = ((n * (x * y).sum() - x.sum() * y.sum()) ** 2
            / ((n * (x * x).sum() - x.sum() ** 2)
               * (n * (y * y).sum() - y.sum() ** 2)))

    def fl6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert got.n_users == n
    assert got.theta == pytest.approx(fl6(theta), abs=2e-6)
    assert got.lift_raw == pytest.approx(fl6(lift_raw / 1e6), abs=2e-6)
    assert got.lift_cuped == pytest.approx(fl6(lift_cuped / 1e6), abs=2e-6)
    assert got.var_reduction == pytest.approx(fl6(rho2), abs=2e-6)
    # CUPED must beat the raw estimator's noise here: the covariate
    # explains most of the variance
    assert got.var_reduction > 0.8
    # degenerate: constant covariate -> NULL theta/lift_cuped/rho2
    flat = spark.createDataFrame(
        [(u, u % 2, True, 5) for u in range(10)]
        + [(u, u % 2, False, u * 3) for u in range(10)],
        "u long, t int, pre boolean, vm long",
    )
    g2 = oan2.cuped_lift(flat, "u", "t", "pre", "vm").collect()[0]
    assert g2.theta is None and g2.lift_cuped is None
    assert g2.var_reduction is None and g2.lift_raw is not None
    # single-arm: lift undefined
    solo = spark.createDataFrame(
        [(u, 1, u % 2 == 0, u + 1) for u in range(8)],
        "u long, t int, pre boolean, vm long",
    )
    g3 = oan2.cuped_lift(solo, "u", "t", "pre", "vm").collect()[0]
    assert g3.lift_raw is None and g3.lift_cuped is None


def test_functional_dependency_report(spark):
    """FD histogram: a held dependency reports only (1, n); a violated
    one shows the exact multiplicity tail; NULL determinants group
    together and NULL dependents count as a distinct value (the
    check_unique struct rule)."""
    from nhs_data_pipeline_spark.ops.quality import (
        functional_dependency_report,
    )

    df = spark.createDataFrame(
        [
            (1, "a", "x"), (1, "a", "x"),        # key 1: dep {x} -> 1
            (2, "b", "x"), (2, "b", "y"),        # key 2: {x, y} -> 2
            (3, "c", None), (3, "c", "x"),       # key 3: {NULL, x} -> 2
            (None, "d", "q"), (None, "d", "q"),  # NULL key: {q} -> 1
        ],
        "k int, d string, v string",
    )
    hist = {
        r.n_distinct_dep: r.n_keys
        for r in functional_dependency_report(df, "k", "v").collect()
    }
    assert hist == {1: 2, 2: 2}
    held = {
        r.n_distinct_dep: r.n_keys
        for r in functional_dependency_report(df, "k", "d").collect()
    }
    assert held == {1: 4}  # k -> d holds everywhere incl. the NULL key
    # composite determinant and composite dependent
    comp = {
        r.n_distinct_dep: r.n_keys
        for r in functional_dependency_report(
            df, ["k", "d"], ["v", "d"]
        ).collect()
    }
    assert comp == {1: 2, 2: 2}


def test_did_estimator_matches_numpy_replica(spark):
    """DiD == the direct numpy estimator (per-user change, arm gap,
    Welch z on per-arm change variances) on a panel with a known
    injected treatment effect and user fixed effects the raw post
    comparison would mistake for lift; degenerate arms yield NULLs."""
    import math
    import random

    import numpy as np

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rng = random.Random(23)
    rows, truth = [], {}
    for u in range(50):
        t = u % 2
        base = rng.randrange(0, 5000)       # user fixed effect
        drift = rng.randrange(50, 150)      # common time trend
        effect = 300 if t else 0
        pre = base + rng.randrange(0, 40)
        post = base + drift + effect + rng.randrange(0, 40)
        truth[u] = (t, post - pre)
        rows.append((u, t, True, pre))
        rows.append((u, t, False, post))
    df = spark.createDataFrame(rows, "u long, t int, pre boolean, vm long")
    got = oan2.did_estimator(df, "u", "t", "pre", "vm").collect()[0]
    d = np.array([truth[u][1] for u in sorted(truth)], dtype=float)
    tt = np.array([truth[u][0] for u in sorted(truth)])
    d1, d0 = d[tt == 1], d[tt == 0]
    did = d1.mean() - d0.mean()
    se = math.sqrt(d1.var(ddof=1) / len(d1) + d0.var(ddof=1) / len(d0))

    def fl6(v):
        return math.floor(v * 1e6 + 0.5) / 1e6

    assert (got.n_treat, got.n_control) == (25, 25)
    assert got.did == pytest.approx(fl6(did / 1e6), abs=2e-6)
    assert got.z_did == pytest.approx(fl6(did / se), abs=2e-6)
    # the injected 300-unit effect is detected with high confidence
    assert got.did > 200 / 1e6 and got.z_did > 5
    # degenerate: one arm only
    solo = spark.createDataFrame(
        [(u, 1, p, u + 1) for u in range(6) for p in (True, False)],
        "u long, t int, pre boolean, vm long",
    )
    g2 = oan2.did_estimator(solo, "u", "t", "pre", "vm").collect()[0]
    assert g2.did is None and g2.z_did is None and g2.n_control == 0


def test_msprt_monitor_matches_python_replica(spark):
    """Per-day mSPRT path == the python replica (cumulative Welch
    moments, tau^2 = first evaluable day's V, 6-dp-quantized Lambda,
    running-min always-valid p); p is non-increasing by construction
    and falls as a real effect accumulates; pre-evaluable days carry
    NULLs."""
    import math
    import random

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rng = random.Random(31)
    rows = []
    for day in range(1, 7):
        # day 1: single row per arm -> n < 2, not evaluable
        per_arm = 1 if day == 1 else 8
        for t in (0, 1):
            for _ in range(per_arm):
                rows.append(
                    (day, t, rng.randrange(100, 200) + (40 if t else 0))
                )
    df = spark.createDataFrame(rows, "day int, t int, vm long")
    got = {r.day: r for r in oan2.msprt_monitor(df, "day", "t", "vm")
           .collect()}

    # python replica
    cum = {0: [0, 0, 0], 1: [0, 0, 0]}
    tau2, rmin, exp = None, None, {}
    by_day: dict[int, list] = {}
    for d, t, vv in rows:
        by_day.setdefault(d, []).append((t, vv))
    for d in sorted(by_day):
        for t, vv in by_day[d]:
            cum[t][0] += 1
            cum[t][1] += vv
            cum[t][2] += vv * vv
        (n1, s1, q1), (n0, s0, q0) = cum[1], cum[0]
        lam = dl = None
        if n1 > 1 and n0 > 1:
            v = (
                (n1 * q1 - s1 * s1) / (n1 * (n1 - 1)) / n1
                + (n0 * q0 - s0 * s0) / (n0 * (n0 - 1)) / n0
            )
            if v > 0:
                dl = s1 / n1 - s0 / n0
                if tau2 is None:
                    tau2 = v
                lam = math.floor(
                    math.sqrt(v / (v + tau2))
                    * math.exp(dl * dl * tau2 / (2.0 * v * (v + tau2)))
                    * 1e6 + 0.5
                ) / 1e6
        if lam is not None and lam > 0:
            rmin = 1.0 / lam if rmin is None else min(rmin, 1.0 / lam)
        p = (
            math.floor(min(1.0, rmin) * 1e6 + 0.5) / 1e6
            if rmin is not None else None
        )
        exp[d] = (
            n1, n0,
            None if dl is None
            else math.floor(dl / 1e6 * 1e6 + 0.5) / 1e6,
            lam, p,
        )
    for d in exp:
        r = got[d]
        assert (
            r.n_treat, r.n_control, r.delta, r.lambda_msprt,
            r.p_always_valid,
        ) == exp[d], (d, tuple(r), exp[d])
    # day 1 is pre-evaluable; the accumulated effect drives p down
    assert got[1].lambda_msprt is None and got[1].p_always_valid is None
    ps = [got[d].p_always_valid for d in range(2, 7)]
    assert all(a >= b for a, b in zip(ps, ps[1:]))  # non-increasing
    assert ps[-1] < ps[0]  # the injected 40-unit effect accumulates


def test_nelson_aalen_matches_python_replica(spark):
    """Nelson-Aalen == the direct lifelines-style replica (risk sets
    from sorted durations, H = sum d/n, var = sum d/n^2, censoring at
    the corpus max) on a hand-built cohort incl. ties, censored
    subjects and a day where everyone at risk dies (KM collapses to 0
    there; NA stays finite — the estimator's point)."""
    import datetime as dt
    import math

    from nhs_data_pipeline_spark.ops import analytics as oan2

    base = dt.datetime(2024, 1, 1)
    rows = []
    # subjects 0..5 sign up on day 0; durations 1,1,2 observed;
    # 3 censored at corpus end (day 4: the last purchase)
    for u in range(6):
        rows.append((u, base, "signup"))
    for u, d in [(0, 1), (1, 1), (2, 2)]:
        rows.append((u, base + dt.timedelta(days=d), "purchase"))
    # subjects 6,7 sign up day 2, BOTH purchase day 4 -> at dur 2 all
    # remaining risk dies at some time in the table
    rows.append((6, base + dt.timedelta(days=2), "signup"))
    rows.append((7, base + dt.timedelta(days=2), "signup"))
    rows.append((6, base + dt.timedelta(days=4), "purchase"))
    rows.append((7, base + dt.timedelta(days=4), "purchase"))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {r.dur_days: r for r in oan2.nelson_aalen(ev).collect()}

    # replica: durations per subject (censor at corpus max = day 4)
    durs = {0: (1, 1), 1: (1, 1), 2: (2, 1), 3: (4, 0), 4: (4, 0),
            5: (4, 0), 6: (2, 1), 7: (2, 1)}
    from collections import Counter

    dcount = Counter(d for d, o in durs.values() if o)
    ccount = Counter(d for d, o in durs.values() if not o)
    n = len(durs)
    at_risk, H, V, exp = n, 0, 0, {}
    for d in sorted(set(dcount) | set(ccount)):
        ev_d, c_d = dcount.get(d, 0), ccount.get(d, 0)
        if ev_d:
            H += math.floor(ev_d / at_risk * 1e6 + 0.5)
            V += math.floor(ev_d / at_risk / at_risk * 1e12 + 0.5)
            exp[d] = (at_risk, ev_d, H / 1e6, V / 1e12)
        at_risk -= ev_d + c_d
    assert set(got) == set(exp)
    for d, (nr, ev_d, h, v) in exp.items():
        r = got[d]
        assert (r.n_risk, r.d_events) == (nr, ev_d), (d, tuple(r))
        assert r.cum_hazard == pytest.approx(h, abs=1e-12)
        assert r.cum_hazard_var == pytest.approx(v, abs=1e-15)
    # the KM-collapse case: a cohort where EVERY subject at risk
    # events on the same day — KM's product hits exact 0 there, while
    # NA adds d/n = 1.0 and stays finite (the estimator's point)
    base2 = dt.datetime(2024, 2, 1)
    ev2 = spark.createDataFrame(
        [(10, base2, "signup"), (11, base2, "signup"),
         (10, base2 + dt.timedelta(days=1), "purchase"),
         (11, base2 + dt.timedelta(days=1), "purchase")],
        "user_id long, ts timestamp, event_type string",
    )
    r2 = {r.dur_days: r for r in oan2.nelson_aalen(ev2).collect()}
    assert r2[1].n_risk == r2[1].d_events == 2
    assert r2[1].cum_hazard == pytest.approx(1.0)
    km2 = {r.dur_days: r for r in oan2.kaplan_meier(ev2).collect()}
    assert km2[1].survival == 0.0  # KM collapses where NA is finite


def test_effect_sizes_match_numpy_replica(spark):
    """Cohen's d / Hedges' g == the direct numpy pooled-SD estimator
    per group; the Hedges correction shrinks toward zero; degenerate
    groups (one-sided, zero pooled variance) yield NULLs."""
    import math
    import random

    import numpy as np

    from nhs_data_pipeline_spark.ops import analytics as oan2

    rng = random.Random(41)
    rows = []
    data: dict[str, dict[bool, list]] = {"g1": {}, "g2": {}}
    for g, shift in [("g1", 500), ("g2", 0)]:
        for ca in (True, False):
            vals = [rng.randrange(1000, 2000) + (shift if ca else 0)
                    for _ in range(12 if ca else 9)]
            data[g][ca] = vals
            rows += [(g, v, ca) for v in vals]
    rows.append(("solo", 7, True))        # one-sided group
    rows += [("flat", 5, True), ("flat", 5, True), ("flat", 5, False)]
    df = spark.createDataFrame(rows, "g string, v long, ca boolean")
    got = {r.g: r for r in oan2.effect_sizes_by_group(
        df, ["g"], "v", "ca", True, False).collect()}

    def fl6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    for g in ("g1", "g2"):
        a = np.array(data[g][True], dtype=float)
        b = np.array(data[g][False], dtype=float)
        sp = math.sqrt(
            ((a.var(ddof=0) * len(a)) + (b.var(ddof=0) * len(b)))
            / (len(a) + len(b) - 2)
        )
        d = (a.mean() - b.mean()) / sp
        gg = d * (1 - 3 / (4 * (len(a) + len(b) - 2) - 1))
        r = got[g]
        assert (r.n_a, r.n_b) == (len(a), len(b))
        assert r.cohen_d == pytest.approx(fl6(d), abs=2e-6), g
        assert r.hedges_g == pytest.approx(fl6(gg), abs=2e-6), g
        assert abs(r.hedges_g) < abs(r.cohen_d)  # correction shrinks
    assert got["g1"].cohen_d > 1  # the injected 500-unit shift is large
    assert got["solo"].cohen_d is None and got["solo"].n_b == 0
    assert got["flat"].cohen_d is None  # zero pooled variance
