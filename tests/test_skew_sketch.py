"""Salted skew join and mergeable HLL sketches."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nhs_data_pipeline_spark.ops.skew import salted_join


def _skewed(spark):
    # one hot key (90%), two cold keys
    rows = [(i, "hot" if i % 10 else "cold" + str(i % 2), float(i)) for i in range(1000)]
    return spark.createDataFrame(rows, "id bigint, k string, v double")


def _dim(spark):
    return spark.createDataFrame(
        [("hot", 1.0), ("cold0", 2.0), ("cold1", 3.0)], "k string, w double"
    )


class TestSaltedJoin:
    def test_inner_equals_plain_join(self, spark):
        big, dim = _skewed(spark), _dim(spark)
        got = salted_join(big, dim, ["k"], salt_buckets=8)
        want = big.join(dim, ["k"])
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_left_preserves_unmatched(self, spark):
        big, dim = _skewed(spark), _dim(spark)
        dim2 = dim.filter(F.col("k") != "cold1")
        got = salted_join(big, dim2, ["k"], how="left")
        want = big.join(dim2, ["k"], "left")
        assert got.count() == big.count()
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    def test_rejects_outer(self, spark):
        with pytest.raises(ValueError):
            salted_join(_skewed(spark), _dim(spark), ["k"], how="full_outer")

    def test_salt_spreads_hot_key(self, spark):
        big = _skewed(spark).withColumn(
            "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(8)).cast("int")
        )
        n_sub = (
            big.filter(F.col("k") == "hot")
            .select("__salt")
            .distinct()
            .count()
        )
        assert n_sub == 8  # the hot key occupies all 8 sub-keys


class TestHllMergeable:
    def test_union_of_shards_equals_direct_sketch(self, spark):
        df = spark.createDataFrame(
            [(i % 7, i % 97, i % 5) for i in range(2000)], "g int, u int, shard int"
        )
        direct = df.groupBy("g").agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("est")
        )
        merged = (
            df.groupBy("g", "shard")
            .agg(F.hll_sketch_agg("u").alias("sk"))
            .groupBy("g")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        )
        d = {r["g"]: r["est"] for r in direct.collect()}
        m = {r["g"]: r["est"] for r in merged.collect()}
        assert d == m  # sketch union is exact over sketches

    def test_estimate_close_to_exact(self, spark):
        df = spark.createDataFrame(
            [(i % 3, (i * 131) % 1009) for i in range(5000)], "g int, u int"
        )
        est = {
            r["g"]: r["est"]
            for r in df.groupBy("g")
            .agg(F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("est"))
            .collect()
        }
        exact = {
            r["g"]: r["n"]
            for r in df.groupBy("g").agg(F.countDistinct("u").alias("n")).collect()
        }
        for g, n in exact.items():
            assert abs(est[g] - n) / n < 0.05


class TestBloomFilter:
    """Portable Bloom membership sketch + scan-side join prefilter."""

    def _build_probe(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import bloom_build, bloom_prefilter

        members = spark.createDataFrame(
            [(i * 7,) for i in range(40)], "key bigint"
        )
        probe = spark.createDataFrame(
            [(i,) for i in range(300)] + [(None,)], "key bigint"
        )
        bloom = bloom_build(members, "key", k=3, m_bits=512)
        return members, bloom_prefilter(probe, "key", bloom, k=3, m_bits=512)

    def test_no_false_negatives(self, spark):
        members, flagged = self._build_probe(spark)
        member_keys = {r.key for r in members.collect()}
        missed = [
            r.key
            for r in flagged.collect()
            if r.key in member_keys and not r.bloom_pass
        ]
        assert missed == []

    def test_nonmember_fails_are_correct_and_fp_bounded(self, spark):
        members, flagged = self._build_probe(spark)
        member_keys = {r.key for r in members.collect()}
        rows = flagged.collect()
        # every bloom-fail is truly a non-member (the pruning guarantee)
        assert all(r.key not in member_keys for r in rows if not r.bloom_pass)
        # 40 keys in 512 bits / k=3 -> FP rate far below saturation
        fp = sum(1 for r in rows if r.bloom_pass and r.key not in member_keys)
        non = sum(1 for r in rows if r.key not in member_keys)
        assert fp / non < 0.30, (fp, non)

    def test_shard_merge_equals_global_build(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import bloom_build

        df = spark.createDataFrame(
            [(i, "s%d" % (i % 3)) for i in range(100)], "key bigint, shard string"
        )
        global_words = {
            (r.word_idx, r.word)
            for r in bloom_build(df, "key", k=2, m_bits=256).collect()
        }
        sharded = bloom_build(df, "key", k=2, m_bits=256, shard_cols=["shard"])
        # per-shard filters merge into the global one by word-wise OR
        merged = {
            (r.word_idx, r.word)
            for r in sharded.groupBy("word_idx").agg(F.bit_or("word").alias("word")).collect()
        }
        assert merged == global_words

    def test_null_key_hashes_stably(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import bloom_build, bloom_prefilter

        members = spark.createDataFrame([(None,), (5,)], "key bigint")
        bloom = bloom_build(members, "key", k=3, m_bits=256)
        flagged = bloom_prefilter(
            spark.createDataFrame([(None,), (5,), (6,)], "key bigint"),
            "key", bloom, k=3, m_bits=256,
        ).collect()
        by_key = {r.key: r.bloom_pass for r in flagged}
        assert by_key[None] and by_key[5]

    def test_rejects_bad_k(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import bloom_build

        with pytest.raises(ValueError):
            bloom_build(spark.range(5), "id", k=9)


class TestHllSetAlgebra:
    """Inclusion-exclusion over portable HLL registers."""

    def test_pairwise_overlap_estimates(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import (
            hll_estimate,
            hll_merge,
            hll_register_table,
        )

        # A = 0..999, B = 500..1499 -> |A|=|B|=1000, union 1500, inter 500
        rows = [("A", i) for i in range(1000)] + [("B", i) for i in range(500, 1500)]
        df = spark.createDataFrame(rows, "s string, k bigint")
        regs = hll_register_table(df, "k", p=10, shard_cols=["s"])
        per = {
            r.s: r.hll_estimate
            for r in hll_estimate(regs, p=10, group_cols=["s"]).collect()
        }
        u = hll_estimate(
            hll_merge(regs.drop("s")), p=10
        ).collect()[0].hll_estimate
        inter = per["A"] + per["B"] - u
        assert abs(per["A"] - 1000) / 1000 < 0.10
        assert abs(u - 1500) / 1500 < 0.10
        assert abs(inter - 500) / 500 < 0.25  # I-E compounds both errors
        jacc = inter / u
        assert abs(jacc - 1 / 3) < 0.12

    def test_disjoint_sets_estimate_near_zero_overlap(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import (
            hll_estimate,
            hll_merge,
            hll_register_table,
        )

        rows = [("A", i) for i in range(800)] + [("B", i + 100000) for i in range(800)]
        df = spark.createDataFrame(rows, "s string, k bigint")
        regs = hll_register_table(df, "k", p=10, shard_cols=["s"])
        per = {
            r.s: r.hll_estimate
            for r in hll_estimate(regs, p=10, group_cols=["s"]).collect()
        }
        u = hll_estimate(hll_merge(regs.drop("s")), p=10).collect()[0].hll_estimate
        inter = max(0.0, per["A"] + per["B"] - u)
        assert inter / u < 0.08  # near-zero overlap, clamped at 0


class TestBitmapDistinct:
    """Exact mergeable bitmap distinct counting."""

    def test_matches_count_distinct_and_merges(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import bitmap_build, bitmap_distinct

        rows = [("s%d" % (i % 3), (i * i) % 500) for i in range(2000)]
        df = spark.createDataFrame(rows, "shard string, k bigint")
        sharded = bitmap_build(df, "k", group_cols=["shard"])
        per = {
            r.shard: r.distinct_exact
            for r in bitmap_distinct(sharded, ["shard"]).collect()
        }
        truth = {
            r.shard: r.n
            for r in df.groupBy("shard").agg(
                F.count_distinct("k").alias("n")
            ).collect()
        }
        assert per == truth
        # shard merge by word-wise OR -> exact GLOBAL distinct (what
        # count_distinct partials cannot give you from pre-aggregated shards)
        merged = sharded.groupBy("word_idx").agg(F.bit_or("word").alias("word"))
        glob = bitmap_distinct(merged).collect()[0]
        assert glob.distinct_exact == df.select("k").distinct().count()

    def test_null_keys_excluded_and_negative_raises(self, spark):
        import pytest as _pytest
        from pyspark.errors import PySparkException

        from nhs_data_pipeline_spark.ops.sketch import bitmap_build, bitmap_distinct

        df = spark.createDataFrame([(1,), (None,), (1,), (33,)], "k bigint")
        got = bitmap_distinct(bitmap_build(df, "k")).collect()[0]
        assert got.distinct_exact == 2
        bad = spark.createDataFrame([(-5,)], "k bigint")
        with _pytest.raises(PySparkException):
            bitmap_distinct(bitmap_build(bad, "k")).collect()


class TestHllRolling:
    def test_rolling_window_accuracy(self, spark):
        import datetime as dt

        from nhs_data_pipeline_spark.ops.sketch import hll_rolling_estimate

        # day d has users [d*50, d*50 + 400): windows overlap heavily
        rows = []
        base = dt.date(2024, 1, 1)
        for d in range(10):
            for u in range(d * 50, d * 50 + 400):
                rows.append((base + dt.timedelta(days=d), u))
        df = spark.createDataFrame(rows, "day date, u bigint")
        est = {
            r.day: r.hll_estimate
            for r in hll_rolling_estimate(df, "u", "day", window_days=3).collect()
        }
        assert set(est) == {base + dt.timedelta(days=d) for d in range(10)}
        # true 3-day distinct at day 5: users [150, 650) -> 500
        d5 = base + dt.timedelta(days=5)
        assert abs(est[d5] - 500) / 500 < 0.10
        # first day: only its own 400
        assert abs(est[base] - 400) / 400 < 0.10


class TestCmJoinCardinality:
    def test_exact_when_collision_free_and_upper_bound(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import (
            cm_join_cardinality,
            cm_sketch,
        )

        # A: keys 0..49 each appearing (k%3 + 1) times; B: keys 25..74 once
        rows_a = [(k,) for k in range(50) for _ in range(k % 3 + 1)]
        rows_b = [(k,) for k in range(25, 75)]
        a = spark.createDataFrame(rows_a, "k bigint")
        b = spark.createDataFrame(rows_b, "k bigint")
        true_join = a.join(b, "k").count()
        sa = cm_sketch(a, "k", d=3, w=4096)
        sb = cm_sketch(b, "k", d=3, w=4096)
        est = cm_join_cardinality(sa, sb, d=3).collect()[0].join_card_est
        # wide sketch, 75 keys -> almost surely collision-free: exact
        assert est == true_join
        # narrow sketch: still never undercounts
        sa2 = cm_sketch(a, "k", d=3, w=16)
        sb2 = cm_sketch(b, "k", d=3, w=16)
        est2 = cm_join_cardinality(sa2, sb2, d=3).collect()[0].join_card_est
        assert est2 >= true_join

    def test_disjoint_sides_estimate_small(self, spark):
        from nhs_data_pipeline_spark.ops.sketch import (
            cm_join_cardinality,
            cm_sketch,
        )

        a = spark.createDataFrame([(k,) for k in range(100)], "k bigint")
        b = spark.createDataFrame([(k + 10_000,) for k in range(100)], "k bigint")
        sa = cm_sketch(a, "k", d=3, w=4096)
        sb = cm_sketch(b, "k", d=3, w=4096)
        est = cm_join_cardinality(sa, sb, d=3).collect()[0].join_card_est
        assert est <= 2  # only chance collisions

    def test_fully_disjoint_zero_not_null(self, spark):
        """A hash row whose sketches share no cells has inner product
        0 — it must drive the MIN to 0, not vanish from it (the r05
        advisor catch: the inner join dropped empty rows, so disjoint
        sketches returned NULL/inflated estimates)."""
        from nhs_data_pipeline_spark.ops.sketch import (
            cm_join_cardinality,
            cm_sketch,
        )

        a = spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
        b = spark.createDataFrame([(100001,), (100002,), (100003,)], "k bigint")
        sa = cm_sketch(a, "k", d=3, w=4096)
        sb = cm_sketch(b, "k", d=3, w=4096)
        est = cm_join_cardinality(sa, sb, d=3).collect()[0].join_card_est
        # 3 keys x 3 keys in 4096 buckets: every hash row almost
        # surely shares no cell -> exact 0, and NEVER None
        assert est == 0


def test_bitmap_distinct_of_union_is_true_distinct(spark):
    """Exact distinct from one bitmap over two overlapping batches of
    keys equals the true distinct count of their union."""
    from nhs_data_pipeline_spark.ops.sketch import bitmap_build, bitmap_distinct

    b1 = spark.createDataFrame([(i % 90,) for i in range(200)], "key bigint")
    b2 = spark.createDataFrame([(i % 150,) for i in range(200)], "key bigint")
    bitmap = bitmap_build(b1.unionByName(b2), "key")
    assert bitmap_distinct(bitmap).collect()[0].distinct_exact == 150


def test_grid_bin_survives_dirty_values(spark):
    """Fixed [lo, hi) grid: NaN bins to NULL, +/-inf and huge values
    clamp into the edge bins (an ANSI cast of an overflowed floor would
    otherwise throw mid-query). Callers filter NULL values first."""
    from nhs_data_pipeline_spark.ops.sketch import grid_bin

    vals = [5.0, float("nan"), float("inf"), float("-inf"), 1e300, -5.0, 10.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [
        r.b for r in df.select(
            grid_bin(F.col("v"), F.lit(0.0), F.lit(10.0), 10).alias("b")
        ).collect()
    ]
    assert got == [5, None, 9, 0, 9, 0, 9]


def test_grid_bin_null_is_null(spark):
    """A NULL value has no bin: ``least`` skips NULL arguments, so
    without the guard it landed in the top bin."""
    from nhs_data_pipeline_spark.ops.sketch import grid_bin

    df = spark.createDataFrame([(None,), (9.5,)], "v double")
    got = [
        r.b for r in df.select(
            grid_bin(F.col("v"), F.lit(0.0), F.lit(10.0), 10).alias("b")
        ).collect()
    ]
    assert got == [None, 9]


def test_grid_bin_rejects_bad_bins(spark):
    from nhs_data_pipeline_spark.ops.sketch import grid_bin

    with pytest.raises(ValueError):
        grid_bin(F.col("v"), F.lit(0.0), F.lit(1.0), 0)


def test_diagnose_join_skew_hand_computed(spark):
    from nhs_data_pipeline_spark.ops.skew import diagnose_join_skew

    # hot key 7 with 60 rows; 20 cold keys with 2 rows each -> 100 rows
    rows = [(7,)] * 60 + [(100 + k,) for k in range(20) for _ in range(2)]
    df = spark.createDataFrame(rows, "k bigint")
    got = diagnose_join_skew(df, ["k"], top_k=3, target_rows_per_task=25).collect()
    assert [r.k for r in got][0] == 7
    hot = got[0]
    assert (hot.key_rows, hot.n_rows, hot.n_keys) == (60, 100, 21)
    assert hot.key_share == 0.6 and hot.skew_factor == 60 * 21 / 100
    assert hot.suggested_salt == 3  # ceil(60/25), exact-integer ceiling
    # deterministic tie-break among the 2-row keys
    assert [r.k for r in got[1:]] == [100, 101]


def test_diagnose_join_skew_null_key_is_diagnosed(spark):
    from nhs_data_pipeline_spark.ops.skew import diagnose_join_skew

    rows = [(None,)] * 10 + [(1,), (2,)]
    df = spark.createDataFrame(rows, "k bigint")
    got = diagnose_join_skew(df, ["k"], top_k=1).collect()
    assert got[0].k is None and got[0].key_rows == 10
