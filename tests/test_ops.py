"""Relational core op tests (SURVEY §2 surface)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from nhs_data_pipeline_spark.ops import core as oc
from nhs_data_pipeline_spark.ops.binned import binned_median, pct_within_threshold


def test_clean_names_janitor_rules(spark):
    df = spark.createDataFrame(
        [(1, 2, 3, 4, 5)],
        ["Org Name!", "1st Value", "  total ", "Total", "% occupied"],
    )
    out = oc.clean_names(df)
    assert out.columns == ["org_name", "x1st_value", "total_3", "total_4", "percent_occupied"]


def test_rename_skip_absent(spark):
    df = spark.createDataFrame([(1, 2)], ["a", "b"])
    out = oc.rename_columns(df, {"a": "x", "missing": "y"})
    assert out.columns == ["x", "b"]


def test_select_by_pattern_negate(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["keep_a", "keep_b", "drop_me"])
    assert oc.select_by_pattern(df, "^keep").columns == ["keep_a", "keep_b"]
    assert oc.select_by_pattern(df, "^keep", negate=True).columns == ["drop_me"]


def test_drop_all_null_columns(spark):
    df = spark.createDataFrame(
        [(1, None, "x"), (2, None, None)], "a int, b string, c string"
    )
    out = oc.drop_all_null_columns(df)
    assert out.columns == ["a", "c"]


def test_filter_rows_from_marker(spark):
    df = spark.createDataFrame(
        [
            (0, "preamble junk", None),
            (1, "more junk", None),
            (2, "Number of THEATRES", "hdr"),
            (3, "RX1", "10"),
        ],
        ["_row_idx", "col1", "col2"],
    )
    out = oc.filter_rows_from_marker(df, "number of theatres")
    assert [r._row_idx for r in out.orderBy("_row_idx").collect()] == [2, 3]
    out2 = oc.filter_rows_from_marker(df, "number of theatres", drop_marker_row=True)
    assert [r._row_idx for r in out2.collect()] == [3]
    # marker absent -> unchanged
    assert oc.filter_rows_from_marker(df, "zzz-not-there").count() == 4


def test_first_last_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 5, "z")], ["k", "ord", "v"]
    )
    first = {r.k: r.v for r in oc.first_per_group(df, ["k"], ["ord"]).collect()}
    last = {r.k: r.v for r in oc.last_per_group(df, ["k"], ["ord"]).collect()}
    assert first == {"a": "x", "b": "z"}
    assert last == {"a": "y", "b": "z"}


def test_natural_join_keys_and_multiplicity(spark):
    left = spark.createDataFrame([("k1", 1), ("k2", 2)], ["k", "lv"])
    right = spark.createDataFrame([("k1", "a"), ("k1", "b")], ["k", "rv"])
    out = oc.natural_join(left, right, how="left").orderBy("k", "rv")
    rows = [(r.k, r.lv, r.rv) for r in out.collect()]
    # duplicate-key multiplicity matches plyr::join left semantics
    assert rows == [("k1", 1, "a"), ("k1", 1, "b"), ("k2", 2, None)]


def test_natural_join_no_common_cols_raises(spark):
    a = spark.createDataFrame([(1,)], ["x"])
    b = spark.createDataFrame([(1,)], ["y"])
    try:
        oc.natural_join(a, b)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_coalesce_columns(spark):
    df = spark.createDataFrame(
        [(None, "b1", "z"), ("a2", None, "z"), (None, None, "z")],
        ["OrgID", "Organisation Code", "other"],
    )
    out = oc.coalesce_columns(df, {"org_code": ["OrgID", "Organisation Code"]})
    assert set(out.columns) == {"org_code", "other"}
    assert [r.org_code for r in out.collect()] == ["b1", "a2", None]


def test_union_by_name_missing_columns(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "only_a"])
    b = spark.createDataFrame([(2,)], ["id"])
    out = oc.union_by_name([a, b]).orderBy("id")
    rows = out.collect()
    assert rows[0].only_a == "x" and rows[1].only_a is None


def test_grouped_sum_na_preserving(spark):
    df = spark.createDataFrame(
        [("g1", 1.0), ("g1", None), ("g2", None)], ["k", "v"]
    )
    out = {r.k: r.v for r in oc.grouped_sum_na_preserving(df, ["k"], ["v"]).collect()}
    assert out == {"g1": 1.0, "g2": None}  # all-null group -> NULL, not 0


def test_fill_directional_matches_pandas(spark):
    import pandas as pd

    vals = [None, 1.0, None, None, 4.0, None]
    df = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], ["k", "ord", "v"]
    )
    down = [r.v for r in oc.fill_directional(df, ["v"], ["k"], ["ord"], "down").orderBy("ord").collect()]
    up = [r.v for r in oc.fill_directional(df, ["v"], ["k"], ["ord"], "up").orderBy("ord").collect()]
    updown = [r.v for r in oc.fill_directional(df, ["v"], ["k"], ["ord"], "updown").orderBy("ord").collect()]
    s = pd.Series(vals)

    def expect(series):
        return [None if pd.isna(v) else v for v in series]

    assert down == expect(s.ffill())
    assert up == expect(s.bfill())
    assert updown == expect(s.ffill().bfill())


def test_cumulative_sum(spark):
    df = spark.createDataFrame([("g", 1, 10.0), ("g", 2, 5.0)], ["k", "ord", "v"])
    out = oc.cumulative_sum(df, ["k"], ["ord"], "v", "cum").orderBy("ord")
    assert [r.cum for r in out.collect()] == [10.0, 15.0]


def test_unpivot(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], ["id", "a", "b"])
    out = oc.unpivot(df, ["id"], ["a", "b"], "name", "val").orderBy("name")
    assert [(r.name, r.val) for r in out.collect()] == [("a", 10.0), ("b", 20.0)]


def test_binned_median_against_exact_quantile(spark):
    # binned median over fine bins approximates the exact median
    import numpy as np

    rng = np.random.RandomState(0)
    vals = rng.uniform(0, 100, 2000)
    df = spark.createDataFrame([("g", float(v)) for v in vals], ["k", "v"])
    bins = df.groupBy("k", (F.floor(F.col("v"))).alias("bin_lower")).agg(
        F.count("*").alias("cnt")
    )
    med = binned_median(bins, ["k"], "bin_lower", "cnt").first().median
    assert abs(med - np.median(vals)) < 1.5  # within one bin width


def test_binned_median_zero_total_is_null(spark):
    bins = spark.createDataFrame(
        [("g", 0.0, None), ("g", 1.0, None)], "k string, bin_lower double, cnt bigint"
    )
    assert binned_median(bins, ["k"], "bin_lower", "cnt").first().median is None


def test_pct_within_threshold(spark):
    bins = spark.createDataFrame(
        [("g", 0.0, 3), ("g", 10.0, 1)], ["k", "bin_lower", "cnt"]
    )
    out = pct_within_threshold(bins, ["k"], "bin_lower", "cnt", 5.0).first()
    assert out.pct_within == 0.75


def test_drop_positional(spark):
    df = spark.createDataFrame([(1, 2, 3, 4)], ["a", "b", "c", "d"])
    assert oc.drop_positional(df, [1]).columns == ["a", "c", "d"]
    assert oc.drop_positional(df, [-1, 0]).columns == ["b", "c"]


def test_reorder_columns(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b", "year"])
    assert oc.reorder_columns(df, ["year"]).columns == ["year", "a", "b"]


def test_salted_grouped_sum_matches_direct(spark):
    from nhs_data_pipeline_spark.ops.skew import salted_grouped_sum

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(1000)] + [("cold", 5.0), ("nullish", None)],
        "k string, v double",
    )
    salted = {
        r.k: (r.v, r.n)
        for r in salted_grouped_sum(df, ["k"], ["v"], count_col="n").collect()
    }
    direct = {
        r.k: (r.v, r.n)
        for r in df.groupBy("k").agg(F.sum("v").alias("v"), F.count("*").alias("n")).collect()
    }
    assert salted == direct
    assert salted["nullish"] == (None, 1)  # NA-preserving through both phases


def test_approx_count_distinct_error_bound(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    row = o.agg(
        F.approx_count_distinct("o_custkey", 0.01).alias("a"),
        F.countDistinct("o_custkey").alias("e"),
    ).first()
    assert abs(row.a - row.e) / row.e < 0.05


def test_percentile_approx_brackets_exact(spark, sf_dir):
    import numpy as np

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = o.agg(F.percentile_approx("o_totalprice", 0.5, 10000).alias("m")).first().m
    exact = np.median([r.o_totalprice for r in o.select("o_totalprice").collect()])
    assert abs(got - exact) / exact < 0.01


def test_deterministic_sample_stable_and_accurate(spark):
    from nhs_data_pipeline_spark.ops import sampling as smp

    df = spark.range(20000).withColumnRenamed("id", "k")
    s1 = {r.k for r in smp.deterministic_sample(df, "k", 0.2).collect()}
    # same result under a different partitioning (RNG sampling fails this)
    s2 = {r.k for r in smp.deterministic_sample(df.repartition(17), "k", 0.2).collect()}
    assert s1 == s2
    assert abs(len(s1) / 20000 - 0.2) < 0.01
    # nested sample property: a 10% sample is a subset of the 20% sample
    s3 = {r.k for r in smp.deterministic_sample(df, "k", 0.1).collect()}
    assert s3 <= s1


def test_hash_split_disjoint_exhaustive_stable(spark):
    from nhs_data_pipeline_spark.ops import sampling as smp

    df = spark.range(10000).withColumnRenamed("id", "k")
    out = smp.hash_split(df, "k")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 10000  # exhaustive, disjoint by construction
    assert abs(counts["train"] / 10000 - 0.8) < 0.02
    # key stability: the split of the first 5000 keys is unchanged when
    # the corpus doubles (no train/test leakage across snapshots)
    small = {r.k: r.split for r in smp.hash_split(df.filter(F.col("k") < 5000), "k").collect()}
    full = {r.k: r.split for r in out.filter(F.col("k") < 5000).collect()}
    assert small == full


def test_stratified_sample_fractions_and_stability(spark):
    from nhs_data_pipeline_spark.ops import sampling as smp

    df = (
        spark.range(30000)
        .withColumnRenamed("id", "k")
        .withColumn("g", (F.col("k") % 3).cast("string"))
    )
    out = smp.stratified_sample(df, "k", "g", {"0": 1.0, "1": 0.3}, default_fraction=0.0)
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts["0"] == 10000  # fraction 1.0 keeps everything
    assert abs(counts["1"] / 10000 - 0.3) < 0.02
    assert "2" not in counts  # default 0.0 drops the stratum
    # partitioning-independent
    again = smp.stratified_sample(
        df.repartition(13), "k", "g", {"0": 1.0, "1": 0.3}, default_fraction=0.0
    )
    assert {r.k for r in again.collect()} == {r.k for r in out.collect()}


def test_compact_parquet_reduces_file_count_losslessly(spark, tmp_path):
    from nhs_data_pipeline_spark.ops.layout import compact_parquet

    p = str(tmp_path / "frag")
    src = spark.range(0, 10000).withColumn("v", F.col("id") * 2)
    src.repartition(40).write.parquet(p)
    import glob as _glob
    import os as _os

    assert len(_glob.glob(_os.path.join(p, "part-*.parquet"))) == 40
    total = _dir_size = sum(
        _os.path.getsize(f) for f in _glob.glob(_os.path.join(p, "*")) if _os.path.isfile(f)
    )
    n = compact_parquet(spark, p, target_file_bytes=max(1, total // 2))
    assert n <= 3
    back = spark.read.parquet(p)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).first()[0] == sum(i * 2 for i in range(10000))


def test_compact_parquet_restores_output_left_aside(spark, tmp_path):
    # a crash between the two renames of an earlier swap left the data
    # aside: compaction restores it first, then swaps its rewrite in
    import os as _os

    from nhs_data_pipeline_spark.ops.layout import compact_parquet

    p = str(tmp_path / "frag")
    spark.range(0, 100).repartition(4).write.parquet(p + ".old")
    assert compact_parquet(spark, p + "/") == 1
    assert spark.read.parquet(p).agg(F.sum("id")).first()[0] == sum(range(100))
    assert _os.listdir(tmp_path) == ["frag"]


def test_zorder_write_clusters_every_dim(spark, tmp_path):
    """Z-ordered files must have tight per-file min-max envelopes on
    BOTH columns (a single-column sort leaves the other column's
    per-file range at ~full span — no pruning possible)."""
    from nhs_data_pipeline_spark.ops.layout import zorder_write

    import itertools

    rows = [(x, y) for x, y in itertools.product(range(64), range(64))]
    df = spark.createDataFrame(rows, "x int, y int").repartition(8)
    p = str(tmp_path / "zo")
    zorder_write(df, p, ["x", "y"], n_files=4, bits_per_col=6)

    def envelopes(path):
        return (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                (F.max("x") - F.min("x")).alias("xr"),
                (F.max("y") - F.min("y")).alias("yr"),
                F.count("*").alias("n"),
            )
            .collect()
        )

    zo = envelopes(p)
    assert len(zo) == 4 and sum(r.n for r in zo) == 64 * 64
    # baseline: one-dim sort clusters x perfectly but leaves every
    # file's y envelope at the full span — no pruning on y
    p1 = str(tmp_path / "xsort")
    df.repartitionByRange(4, "x").sortWithinPartitions("x").write.parquet(p1)
    xs = envelopes(p1)
    mean = lambda rs, a: sum(getattr(r, a) for r in rs) / len(rs)  # noqa: E731
    assert mean(xs, "yr") >= 60  # the baseline really can't prune y
    # z-order: BOTH dims' file envelopes shrink well below the full
    # span. repartitionByRange SAMPLES with a seed derived from the
    # global RDD id, so exact boundaries vary run to run (a boundary
    # landing mid-quadrant can put one file across two quadrants:
    # that file's envelope hits the full span in one dim). Assert a
    # bound that holds for any sane boundary draw — ideal quadrants
    # give mean 31, one spanning file pushes a mean to ~47.
    assert mean(zo, "xr") <= 55 and mean(zo, "yr") <= 55, zo


class TestContentFingerprint:
    def _df(self, spark):
        return spark.createDataFrame(
            [(i, f"doc {i}", "a" if i % 2 else "b") for i in range(50)],
            "id int, text string, src string",
        )

    def test_partitioning_and_order_invariant(self, spark):
        from nhs_data_pipeline_spark.ops.quality import content_fingerprint

        df = self._df(spark)
        a = content_fingerprint(df, ["id", "text"]).collect()[0]
        b = content_fingerprint(
            df.repartition(13).sortWithinPartitions("text"), ["id", "text"]
        ).collect()[0]
        assert (a["n_rows"], a["content_fingerprint"]) == (
            b["n_rows"],
            b["content_fingerprint"],
        )

    def test_any_row_change_flips_fingerprint(self, spark):
        from nhs_data_pipeline_spark.ops.quality import content_fingerprint

        df = self._df(spark)
        base = content_fingerprint(df, ["id", "text"]).collect()[0]
        changed = df.withColumn(
            "text", F.when(F.col("id") == 37, "DOC 37").otherwise(F.col("text"))
        )
        got = content_fingerprint(changed, ["id", "text"]).collect()[0]
        assert got["content_fingerprint"] != base["content_fingerprint"]
        assert got["n_rows"] == base["n_rows"]

    def test_grouped_mode_and_null_handling(self, spark):
        from nhs_data_pipeline_spark.ops.quality import content_fingerprint

        df = self._df(spark).withColumn(
            "text", F.when(F.col("id") == 3, None).otherwise(F.col("text"))
        )
        by_src = content_fingerprint(df, ["id", "text"], group_by=["src"])
        rows = {r["src"]: r for r in by_src.collect()}
        assert set(rows) == {"a", "b"} and rows["a"]["n_rows"] == 25

    def test_separator_injection_proof(self, spark):
        """Length-prefixed field encoding: rows whose concatenation
        would be ambiguous under a plain separator must fingerprint
        differently — ('a|b','c') vs ('a','b|c'), NULL vs a literal
        NULL-sentinel string, and shifted boundaries like
        ('ab','') vs ('a','b')."""
        from nhs_data_pipeline_spark.ops.quality import content_fingerprint

        def fp(rows):
            df = spark.createDataFrame(rows, "x string, y string")
            return content_fingerprint(df, ["x", "y"]).collect()[0][
                "content_fingerprint"
            ]

        assert fp([("a|b", "c")]) != fp([("a", "b|c")])
        assert fp([(None, "c")]) != fp([("\\N", "c")])
        assert fp([("ab", "")]) != fp([("a", "b")])
        assert fp([("1:a", "c")]) != fp([("1", ":ac")])


# ---------------------------------------------------------------------------
# winsorize_stats
# ---------------------------------------------------------------------------

def test_winsorize_hand_computed(spark):
    from nhs_data_pipeline_spark.ops.binned import winsorize_stats

    # group a: values 1..10; at [0.2, 0.8]: lo = 2nd smallest = 2,
    # hi = 8th smallest = 8; clipped: {1} below, {9, 10} above;
    # clipped sum = 2+2+3+4+5+6+7+8+8+8 = 53
    rows = [("a", v) for v in range(1, 11)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    r = winsorize_stats(df, "v", ["g"], 0.2, 0.8).collect()[0]
    assert (r.n, r.lo, r.hi) == (10, 2, 8)
    assert (r.n_clipped_low, r.n_clipped_high) == (1, 2)
    assert r.mean_after == 53 / 10


def test_winsorize_extremes_noop_and_null_group(spark):
    from nhs_data_pipeline_spark.ops.binned import winsorize_stats

    rows = [("a", 5), ("a", 7), (None, 1), (None, 100)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    got = {r.g: r for r in winsorize_stats(df, "v", ["g"], 0.01, 0.99).collect()}
    # tiny groups: rank 1 and rank n -> bounds are min/max, nothing clips
    assert got["a"].n_clipped_low == 0 and got["a"].n_clipped_high == 0
    # a NULL group key winsorizes like any other group (NULL-key rule)
    assert None in got and got[None].n == 2 and got[None].lo == 1


def test_winsorize_null_values_excluded(spark):
    """NULL VALUES (vs NULL group keys) are excluded from ranks,
    counts and the mean — left in, they shift the ceil(q*n) order-
    statistic ranks and can make a bound NULL (r05 advisor catch)."""
    from nhs_data_pipeline_spark.ops.binned import winsorize_stats

    rows = [("a", v) for v in range(1, 11)] + [("a", None)] * 5 + [("b", None)]
    df = spark.createDataFrame(rows, "g string, v bigint")
    got = {r.g: r for r in winsorize_stats(df, "v", ["g"], 0.2, 0.8).collect()}
    # identical to the no-NULL hand-computed case: 5 NULLs change nothing
    r = got["a"]
    assert (r.n, r.lo, r.hi) == (10, 2, 8)
    assert (r.n_clipped_low, r.n_clipped_high) == (1, 2)
    assert r.mean_after == 53 / 10
    # an all-NULL group has no order statistics: it disappears
    assert "b" not in got


def test_winsorize_matches_numpy_order_stats(spark):
    import numpy as np
    from fractions import Fraction

    from nhs_data_pipeline_spark.ops.binned import winsorize_stats

    vals = [int(x) for x in np.random.default_rng(5).integers(0, 10_000, 500)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v bigint")
    r = winsorize_stats(df, "v", ["g"], 0.05, 0.95).collect()[0]
    s = sorted(vals)
    rlo = max(1, -(-Fraction("0.05").numerator * 500 // Fraction("0.05").denominator))
    # ceil(q*n) with q=1/20, n=500 -> 25; q=19/20 -> 475
    assert r.lo == s[25 - 1] and r.hi == s[475 - 1]
    clipped = [min(max(v, r.lo), r.hi) for v in vals]
    assert r.mean_after == sum(clipped) / 500


# ---------------------------------------------------------------------------
# portable Soundex + phonetic matching
# ---------------------------------------------------------------------------

def test_soundex_standard_codes_and_edge_cases(spark):
    """The portable pipeline must reproduce the canonical American
    Soundex examples — including the h/w-separation collapse
    (Ashcraft), the first-letter absorption (Pfister), and first-letter
    H/W keeping the next consonant's code (Hradek)."""
    from nhs_data_pipeline_spark.ops import fuzzy as fz

    exp = {
        "Robert": "R163", "Rupert": "R163", "Ashcraft": "A261",
        "Ashcroft": "A261", "Tymczak": "T522", "Pfister": "P236",
        "Honeyman": "H555", "Hradek": "H632", "White": "W300",
        "Wu": "W000", "A": "A000", "123": None, "": None,
    }
    df = spark.createDataFrame([(n,) for n in exp], ["n"])
    got = {r.n: r.s for r in df.select(
        "n", fz.soundex_expr("n").alias("s")).collect()}
    assert got == exp


def test_soundex_cross_engine_parity(spark):
    import duckdb

    from nhs_data_pipeline_spark.ops import fuzzy as fz

    names = ["widget", "wedgit", "boltt", "gear", "giar", "O'Brien",
             "Mc Donald", "llama", "aeiou"]
    df = spark.createDataFrame([(n,) for n in names], ["n"])
    got = {r.n: r.s for r in df.select(
        "n", fz.soundex_expr("n").alias("s")).collect()}
    con = duckdb.connect()
    for n in names:
        lit = "'" + n.replace("'", "''") + "'"
        d = con.execute(
            "SELECT " + fz.soundex_oracle_sql(lit)).fetchone()[0]
        assert d == got[n], (n, got[n], d)


def test_phonetic_match_catches_what_dist1_blocking_misses(spark):
    """A 2-edit sound-preserving corruption ('widget' -> 'wedgit')
    must resolve through the soundex block; an unrelated name must
    stay unmatched (NULL)."""
    from nhs_data_pipeline_spark.ops import fuzzy as fz

    canon = spark.createDataFrame(
        [("widget",), ("bolt",), ("gear",)], ["name"]
    )
    dirty = spark.createDataFrame(
        [(1, "wedgit"), (2, "boltt"), (3, "zzzzz")], ["id", "dn"]
    )
    got = {r.id: (r.matched_name, r.match_distance)
           for r in fz.phonetic_match_best(
               dirty, canon, "id", "dn", "name").collect()}
    assert got[1] == ("widget", 2)  # distance 2: deletion blocking misses it
    assert got[2] == ("bolt", 1)
    assert got[3] == (None, None)
