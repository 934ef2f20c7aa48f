"""Temporal join operators vs pandas/naive-join ground truth."""

from __future__ import annotations

import datetime

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.ops import temporal as ot

BASE = datetime.datetime(2024, 1, 1)


def _frames(spark, seed=0, n_left=120, n_right=80, n_keys=5):
    rng = np.random.RandomState(seed)
    left = pd.DataFrame(
        {
            "k": rng.randint(0, n_keys, n_left),
            "ts": [BASE + datetime.timedelta(seconds=int(s)) for s in rng.randint(0, 3600, n_left)],
            "lval": rng.randint(0, 1000, n_left),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.randint(0, n_keys, n_right),
            "ts": [BASE + datetime.timedelta(seconds=int(s)) for s in rng.randint(0, 3600, n_right)],
            "rval": rng.randint(0, 1000, n_right),
        }
    )
    # dedup right per (k, ts): keep max rval, so the as-of survivor is
    # deterministic in every engine (incl. pandas)
    right = right.groupby(["k", "ts"], as_index=False)["rval"].max()
    return left, right


def test_asof_join_matches_pandas(spark):
    left, right = _frames(spark)
    got = (
        ot.asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            on="k",
            value_cols=["rval"],
        )
        .toPandas()
        .sort_values(["k", "ts", "lval"])
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("ts"),
        on="ts",
        by="k",
        direction="backward",
    ).sort_values(["k", "ts", "lval"]).reset_index(drop=True)
    assert len(got) == len(exp) == len(left)
    assert list(got["r_rval"].fillna(-1)) == list(exp["rval"].fillna(-1))


def test_asof_join_exact_match_and_unmatched(spark):
    l = spark.createDataFrame(
        [(1, BASE, "a"), (1, BASE + datetime.timedelta(seconds=10), "b"),
         (2, BASE, "c")],
        "k int, ts timestamp, tag string",
    )
    r = spark.createDataFrame(
        [(1, BASE, 100.0), (1, BASE + datetime.timedelta(seconds=10), 200.0)],
        "k int, ts timestamp, v double",
    )
    out = {row.tag: (row.r_v, row.r_ts) for row in ot.asof_join(l, r, on="k").collect()}
    assert out["a"] == (100.0, BASE)  # exact ts match attaches
    assert out["b"] == (200.0, BASE + datetime.timedelta(seconds=10))
    assert out["c"] == (None, None)  # no right row for k=2 -> left join nulls


def test_asof_join_tolerance(spark):
    l = spark.createDataFrame(
        [(1, BASE + datetime.timedelta(seconds=100), "late")],
        "k int, ts timestamp, tag string",
    )
    r = spark.createDataFrame([(1, BASE, 7.0)], "k int, ts timestamp, v double")
    with_tol = ot.asof_join(l, r, on="k", tolerance_seconds=50).collect()[0]
    assert with_tol.r_v is None  # match is 100s old, tolerance 50s
    no_tol = ot.asof_join(l, r, on="k", tolerance_seconds=200).collect()[0]
    assert no_tol.r_v == 7.0


def test_range_join_binned_matches_naive(spark):
    left, right = _frames(spark, seed=1)
    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right)
    got = {
        (r.k, r.ts, r.lval, r.r_ts, r.r_rval)
        for r in ot.range_join_binned(ldf, rdf, on="k", upper_seconds=300).collect()
    }
    naive = (
        ldf.alias("l")
        .join(rdf.alias("r"), F.expr(
            "l.k = r.k AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 300 SECONDS"
        ))
        .selectExpr("l.k", "l.ts", "l.lval", "r.ts AS rts", "r.rval")
    )
    exp = {(r.k, r.ts, r.lval, r.rts, r.rval) for r in naive.collect()}
    assert got == exp
    assert len(exp) > 0


def test_range_join_binned_hot_key(spark):
    # every row shares one key: the binned join must still be exact
    rows = [(1, BASE + datetime.timedelta(seconds=i * 37), float(i)) for i in range(60)]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v double")
    got = ot.range_join_binned(df, df, on="k", upper_seconds=100)
    n = got.count()
    naive = df.alias("l").join(
        df.alias("r"),
        F.expr("l.k = r.k AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 100 SECONDS"),
    )
    assert n == naive.count()


# ---------------------------------------------------------------------------
# ewma
# ---------------------------------------------------------------------------

def _ewma_rows(spark, rows, alpha=0.5):
    from nhs_data_pipeline_spark.ops.temporal import ewma

    df = spark.createDataFrame(rows, "g string, t bigint, x double")
    return {
        (r.g, r.t): r.ewma
        for r in ewma(df, ["g"], "t", "x", alpha=alpha).collect()
    }


def test_ewma_hand_computed(spark):
    got = _ewma_rows(spark, [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 0.0)])
    # a=0.5: 10, 0.5*20+0.5*10=15, 0.5*0+0.5*15=7.5
    assert got == {("a", 1): 10.0, ("a", 2): 15.0, ("a", 3): 7.5}


def test_ewma_matches_pandas(spark):
    import pandas as pd

    xs = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    got = _ewma_rows(spark, [("a", t, x) for t, x in enumerate(xs)], alpha=0.3)
    want = pd.Series(xs).ewm(alpha=0.3, adjust=False).mean()
    for t in range(len(xs)):
        assert abs(got[("a", t)] - want[t]) < 1e-12


def test_ewma_groups_independent_and_order_robust(spark):
    rows = [("b", 2, 8.0), ("a", 1, 1.0), ("b", 1, 4.0), ("a", 2, 3.0)]
    got = _ewma_rows(spark, rows)
    assert got[("a", 1)] == 1.0 and got[("a", 2)] == 2.0
    assert got[("b", 1)] == 4.0 and got[("b", 2)] == 6.0


def test_ewma_partitioning_invariance(spark):
    from nhs_data_pipeline_spark.ops.temporal import ewma

    rows = [("g%d" % (i % 3), i, float((i * 7) % 13)) for i in range(120)]
    df = spark.createDataFrame(rows, "g string, t bigint, x double")
    one = {(r.g, r.t): r.ewma for r in ewma(df.coalesce(1), ["g"], "t", "x").collect()}
    many = {(r.g, r.t): r.ewma for r in ewma(df.repartition(11), ["g"], "t", "x").collect()}
    assert one == many


def test_seasonal_baseline_deviation_hand_computed(spark):
    import datetime as dt
    from decimal import Decimal

    from nhs_data_pipeline_spark.ops.temporal import seasonal_baseline_deviation

    base = dt.date(2024, 1, 1)  # a Monday; epoch-phase of Mondays = (day-epoch)%7
    rows = []
    # two weeks: Mondays carry 10 then 30 (mean 20); Tuesdays 5 and 5
    for week, (mon, tue) in enumerate([(10, 5), (30, 5)]):
        rows.append(("t", base + dt.timedelta(weeks=week), Decimal(mon)))
        rows.append(("t", base + dt.timedelta(weeks=week, days=1), Decimal(tue)))
    df = spark.createDataFrame(rows, "g string, day date, x decimal(30,10)")
    got = {
        (r.g, r.day): r
        for r in seasonal_baseline_deviation(df, ["g"], "day", "x").collect()
    }
    m1 = got[("t", base)]
    assert m1.phase_mean == 20.0 and m1.dev_ratio == (10.0 - 20.0) / 20.0
    t1 = got[("t", base + dt.timedelta(days=1))]
    assert t1.phase_mean == 5.0 and t1.dev_ratio == 0.0
    # same-phase days share a baseline; different phases do not
    assert got[("t", base + dt.timedelta(weeks=1))].phase == m1.phase
    assert t1.phase != m1.phase


def test_seasonal_baseline_zero_mean_gives_null_ratio(spark):
    import datetime as dt
    from decimal import Decimal

    from nhs_data_pipeline_spark.ops.temporal import seasonal_baseline_deviation

    base = dt.date(2024, 3, 4)
    rows = [("g", base, Decimal(0)), ("g", base + dt.timedelta(weeks=1), Decimal(0))]
    df = spark.createDataFrame(rows, "g string, day date, x decimal(30,10)")
    out = seasonal_baseline_deviation(df, ["g"], "day", "x").collect()
    assert all(r.dev_ratio is None for r in out)


# ---------------------------------------------------------------------------
# time_weighted_avg
# ---------------------------------------------------------------------------

def _ts(s):
    import datetime as dt

    return dt.datetime.fromisoformat(s)


def test_time_weighted_avg_hand_computed(spark):
    from nhs_data_pipeline_spark.ops.temporal import time_weighted_avg

    # value 10 held 1s, value 20 held 3s, last point contributes 0:
    # TWA = (10*1 + 20*3) / 4 = 17.5 — plain AVG would say 11.0
    rows = [
        (1, _ts("2024-01-01T00:00:00"), 10.0, 1),
        (1, _ts("2024-01-01T00:00:01"), 20.0, 2),
        (1, _ts("2024-01-01T00:00:04"), 4.0, 3),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_id bigint"
    )
    r = time_weighted_avg(
        df, ["user_id"], order_tiebreak=["event_id"]
    ).collect()[0]
    assert r.n_events == 3
    assert r.span_micros == 4_000_000
    assert r.twa == 17.5


def test_time_weighted_avg_single_event_null(spark):
    from nhs_data_pipeline_spark.ops.temporal import time_weighted_avg

    df = spark.createDataFrame(
        [(7, _ts("2024-01-01T00:00:00"), 5.0, 1)],
        "user_id bigint, ts timestamp, value double, event_id bigint",
    )
    r = time_weighted_avg(df, ["user_id"], order_tiebreak=["event_id"]).collect()[0]
    assert r.n_events == 1 and r.span_micros == 0 and r.twa is None


def test_time_weighted_avg_excludes_null_rows(spark):
    from nhs_data_pipeline_spark.ops.temporal import time_weighted_avg

    rows = [
        (1, _ts("2024-01-01T00:00:00"), 10.0, 1),
        (1, _ts("2024-01-01T00:00:01"), None, 2),  # dropped, no hold
        (1, _ts("2024-01-01T00:00:02"), 30.0, 3),
        (1, None, 99.0, 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_id bigint"
    )
    r = time_weighted_avg(df, ["user_id"], order_tiebreak=["event_id"]).collect()[0]
    # 10 held the full 2s span (LOCF across the dropped row)
    assert r.n_events == 2 and r.span_micros == 2_000_000 and r.twa == 10.0


def test_time_weighted_avg_burst_insensitive(spark):
    from nhs_data_pipeline_spark.ops.temporal import time_weighted_avg

    # a burst of high samples in a short window must not dominate
    rows = [(1, _ts("2024-01-01T00:00:00"), 1.0, 0)]
    rows += [
        (1, _ts(f"2024-01-01T00:59:00.{i:06d}"), 100.0, i + 1)
        for i in range(20)
    ]
    rows += [(1, _ts("2024-01-01T01:00:00"), 1.0, 99)]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, value double, event_id bigint"
    )
    r = time_weighted_avg(df, ["user_id"], order_tiebreak=["event_id"]).collect()[0]
    assert r.twa < 4.0  # plain AVG would be ~91


# ---------------------------------------------------------------------------
# cusum_changepoint
# ---------------------------------------------------------------------------

def test_cusum_finds_level_shift(spark):
    import datetime as dt

    from nhs_data_pipeline_spark.ops.temporal import cusum_changepoint

    # 10 days at level 10, then 10 days at level 50: |CUSUM| peaks at
    # the last low day (day 10)
    rows = []
    for i in range(20):
        v = 10.0 if i < 10 else 50.0
        rows.append(("a", dt.datetime(2024, 1, 1 + i, 12, 0), v))
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    r = cusum_changepoint(df, ["g"], "ts", "value").collect()[0]
    assert r.n_days == 20
    assert r.change_day == dt.datetime(2024, 1, 10)
    # |CUSUM| at day 10 = 10 * (10 - 30) = 200 in value units
    assert r.max_cusum == 200.0


def test_cusum_python_replica_and_tiebreak(spark):
    import datetime as dt
    import math

    from nhs_data_pipeline_spark.ops.temporal import cusum_changepoint

    vals = [3.25, 7.5, 1.125, 9.0, 4.75, 2.5, 8.125, 5.0]
    rows = [
        ("g", dt.datetime(2024, 2, 1 + i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    r = cusum_changepoint(df, ["g"], "ts", "value").collect()[0]
    micro = [math.floor(v * 1e6 + 0.5) for v in vals]
    n, tot = len(micro), sum(micro)
    best = None
    pref = 0
    for t, x in enumerate(micro, start=1):
        pref += x
        s = abs(n * pref - t * tot)
        if best is None or s > best[0]:
            best = (s, t)
    exp_day = dt.datetime(2024, 2, best[1])
    assert r.change_day == exp_day
    assert r.max_cusum == math.floor(
        best[0] / (n * 1e6) * 1e6 + 0.5
    ) / 1e6


def test_sessionize_batch_gaps_at_microsecond_resolution(spark):
    """30-minute gap sessions: user 1 splits at a 2-hour gap, user 2
    stays one session, and user 3's steps of 1800.000001 s (new
    session) and 1799.999999 s (same session) straddle the gap, which
    a whole-second comparison would sessionize differently."""
    step_in = datetime.timedelta(seconds=1799, microseconds=999999)
    step_out = datetime.timedelta(seconds=1800, microseconds=1)
    rows = [(BASE + datetime.timedelta(minutes=m), 1, 1.0) for m in (0, 5, 10, 130, 135)]
    rows += [(BASE + datetime.timedelta(minutes=m), 2, 2.0) for m in (0, 20)]
    rows += [(BASE, 3, 3.0), (BASE + step_out, 3, 3.0), (BASE + step_out + step_in, 3, 3.0)]
    ev = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.value_sum)
        for r in ot.sessionize_batch(ev, gap_seconds=1800).collect()
    )

    def m(k):
        return BASE + datetime.timedelta(minutes=k)

    assert got == [
        (1, m(0), m(10), 3, 3.0),
        (1, m(130), m(135), 2, 2.0),
        (2, m(0), m(20), 2, 4.0),
        (3, BASE, BASE, 1, 3.0),
        (3, BASE + step_out, BASE + step_out + step_in, 2, 6.0),
    ]


def test_sessionize_batch_malformed_rows(spark):
    """NULL timestamps are dropped; NULL/NaN values sum as 0."""
    rows = [
        (BASE, 1, 1.0),
        (BASE + datetime.timedelta(seconds=10), 1, float("nan")),
        (BASE + datetime.timedelta(seconds=20), 1, None),
        (None, 1, 99.0),  # invalid event: dropped entirely
    ]
    ev = spark.createDataFrame(rows, "ts timestamp, user_id long, value double")
    out = ot.sessionize_batch(ev).collect()
    assert len(out) == 1
    assert out[0].n_events == 3  # null-ts row gone
    assert out[0].value_sum == 1.0  # NaN and NULL contribute 0
