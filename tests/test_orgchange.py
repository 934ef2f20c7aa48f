"""Org-change subsystem tests: closure and adjustment."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from nhs_data_pipeline_spark.orgchange import (
    adjust_org_changes,
    successor_closure,
)
import pytest


def _edges(spark, rows):
    return spark.createDataFrame(rows, ["old_code", "new_code"])


def test_closure_multi_hop_chain(spark):
    out = successor_closure(_edges(spark, [("A", "B"), ("B", "C"), ("C", "D")]))
    got = {(r.old_code, r.final_code, r.n_hops) for r in out.collect()}
    assert got == {("A", "D", 3), ("B", "D", 2), ("C", "D", 1)}


def test_closure_split_fans_out(spark):
    out = successor_closure(_edges(spark, [("A", "B"), ("A", "C"), ("C", "D")]))
    got = {(r.old_code, r.final_code) for r in out.collect()}
    assert got == {("A", "B"), ("A", "D"), ("C", "D")}


def test_closure_merge_then_split(spark):
    out = successor_closure(_edges(spark, [("A", "M"), ("B", "M"), ("M", "X"), ("M", "Y")]))
    got = {(r.old_code, r.final_code) for r in out.collect()}
    assert got == {("A", "X"), ("A", "Y"), ("B", "X"), ("B", "Y"), ("M", "X"), ("M", "Y")}


def _closure_rows(out):
    return sorted((tuple(r) for r in out.collect()), key=str)


def test_closure_diamond_keeps_both_path_lengths(spark):
    out = successor_closure(_edges(spark, [("A", "B"), ("A", "C"), ("B", "C")]))
    assert _closure_rows(out) == [("A", "C", 1), ("A", "C", 2), ("B", "C", 1)]


def test_closure_null_successor_stops_the_path(spark):
    # an edge with a NULL new code makes its old code a terminal
    ddl = "old_code string, new_code string"
    e = spark.createDataFrame([("A", None), ("B", "A")], ddl)
    assert _closure_rows(successor_closure(e)) == [("A", None, 1), ("B", "A", 1)]
    # when that code also has successors, paths go on past it, and every
    # code they reach after it is reported, not only the terminal D
    e = spark.createDataFrame([("A", None), ("A", "C"), ("C", "D"), ("B", "A")], ddl)
    assert _closure_rows(successor_closure(e)) == [
        ("A", "D", 2), ("A", None, 1), ("B", "A", 1), ("B", "C", 2), ("B", "D", 3),
        ("C", "D", 1),
    ]


def test_closure_empty_edges(spark):
    e = spark.createDataFrame([], "old_code string, new_code string")
    assert successor_closure(e).collect() == []


def test_closure_cycle_raises(spark):
    cases = [
        ([("A", "B"), ("B", "A")], {"A", "B"}),
        ([("A", "A")], {"A"}),
        ([("X", "A"), ("A", "B"), ("B", "A"), ("B", "Y")], {"A", "B"}),  # reached from X
    ]
    for rows, cycle in cases:
        with pytest.raises(ValueError, match="succession cycle") as err:
            successor_closure(_edges(spark, rows))
        named = str(err.value).split(": ", 1)[1].split(" -> ")
        assert set(named) == cycle and named[0] == named[-1], (rows, named)


def test_closure_output_schema(spark):
    e = spark.createDataFrame([(1, 2), (2, 3)], "org long, succ long")
    out = successor_closure(e, old="org", new="succ")
    assert [(f.name, f.dataType) for f in out.schema] == [
        ("org", T.LongType()), ("final_code", T.LongType()), ("n_hops", T.IntegerType()),
    ]
    assert _closure_rows(out) == [(1, 3, 2), (2, 3, 1)]
    assert [f.nullable for f in out.schema] == [True, True, False]
    # shipped as one Arrow table: no pickled RDD, no Python workers
    leaf = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in leaf and "ExistingRDD" not in leaf, leaf


def _panel(spark):
    rows = [
        # org, period, name, val
        ("OLD1", 2001, "Old One", 10.0),
        ("OLD1", 2002, "Old One", 20.0),
        ("OLD2", 2001, "Old Two", 5.0),
        ("NEW", 2001, "New Trust", 100.0),
        ("NEW", 2002, "New Trust", 200.0),
        ("PROB", 2001, "Problem Trust", 7.0),
        ("FREE", 2001, "Untouched", 1.0),
        ("NA1", 2001, "All Null", None),
    ]
    return spark.createDataFrame(rows, ["org_code", "period", "org_name", "val"])


def _lookup(spark):
    return spark.createDataFrame(
        [("OLD1", "NEW", 0, 0), ("OLD2", "NEW", 0, 0), ("PROB", "X", 0, 1)],
        ["old_code", "final_code", "experiences_split", "problematic"],
    )


def test_adjust_merges_and_conserves_sums(spark):
    out = adjust_org_changes(
        _panel(spark), _lookup(spark), keys=["org_code", "period"],
        sum_cols=["val"],
    )
    rows = {(r.org_code, r.period): r for r in out.collect()}
    # merged trust: OLD1+OLD2+NEW in 2001 = 10+5+100
    assert rows[("NEW", 2001)].val == 115.0
    assert rows[("NEW", 2002)].val == 220.0
    # conservation: total value is preserved by adjustment
    total_before = 10 + 20 + 5 + 100 + 200 + 7 + 1
    total_after = sum(r.val for r in rows.values() if r.val is not None)
    assert total_after == total_before
    # problematic trust: flagged, not adjusted
    assert rows[("PROB", 2001)].exp_problematic_org_change == 1
    assert rows[("PROB", 2001)].val == 7.0
    # untouched trust: no flags
    assert rows[("FREE", 2001)].exp_unproblematic_org_change == 0
    # all-null measure stays NULL (NA-preserving sum)
    assert rows[("NA1", 2001)].val is None
    # adjusted group flags
    assert rows[("NEW", 2001)].unproblematic_org_change == 1
    assert rows[("NEW", 2002)].exp_unproblematic_org_change == 1
    # names re-attached from the snapshot
    assert rows[("NEW", 2001)].org_name == "New Trust"


@pytest.mark.slow
def test_adjust_idempotent(spark):
    """Adjusting an already-adjusted panel changes nothing (all old
    codes are gone after the first pass)."""
    out1 = adjust_org_changes(
        _panel(spark), _lookup(spark), keys=["org_code", "period"],
        sum_cols=["val"],
    ).select("org_code", "period", "val", "org_name")
    out2 = adjust_org_changes(
        out1, _lookup(spark), keys=["org_code", "period"],
        sum_cols=["val"],
    ).select("org_code", "period", "val", "org_name")
    a = {(r.org_code, r.period): r.val for r in out1.collect()}
    b = {(r.org_code, r.period): r.val for r in out2.collect()}
    assert a == b


_ADJUST_KW = dict(keys=["org_code", "period"], sum_cols=["val"])


def _edge_panel(spark):
    panel = spark.createDataFrame([
        (None, 2001, "No Code", 1.0), (None, 2002, "No Code B", 2.0),
        ("N", 2001, None, 3.0), ("N", 2001, "En", 4.0),  # NULL name, earliest period
        ("N", 2002, "En 2", 5.0),
        ("A", None, "Alpha N", 6.0), ("A", 2001, "Alpha", 7.0),  # NULL period
        ("B", 2004, "Bee", 8.0),                                  # B -> A
        ("S", 2001, "Self", 9.0), ("S", 2003, "Self", 10.0),      # S -> S
        ("X", 2001, "Stop", 11.0), ("X", 2002, "Stop", 12.0),     # X -> NULL, X -> Y
        ("Y", 2002, "Why", 13.0),
        ("P", 2001, "Prob", 14.0),                                # problematic
        ("Z", 2001, "Zed", None),                                 # all-NULL measure
    ], "org_code string, period int, org_name string, val double")
    lookup = spark.createDataFrame(
        [("S", "S", 0, 0), ("X", None, 1, 0), ("X", "Y", 1, 0), ("P", "Q", 0, 1),
         ("B", "A", 0, 0)],
        "old_code string, final_code string, experiences_split int, problematic int",
    )
    return panel, lookup


def test_adjust_plans_one_shuffle_and_one_broadcast(spark):
    """One hash exchange on the output org code serves the re-aggregation
    and the per-org window; the lookup is the only broadcast."""
    out = adjust_org_changes(*_edge_panel(spark), **_ADJUST_KW)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan


def test_adjust_needs_org_and_period_keys(spark):
    panel, lookup = _edge_panel(spark)
    with pytest.raises(ValueError, match="org_col, period_col"):
        adjust_org_changes(panel, lookup, keys=["org_code"], sum_cols=["val"])


def test_adjust_edge_cases_exact(spark):
    """NULL org codes keep no name, a NULL name or a NULL period sorts
    first in the name pick, a self-map and a stop code keep their own
    rows, a problematic code is flagged not moved, an all-NULL measure
    stays NULL; the schema is pinned, nullability included."""
    panel, lookup = _edge_panel(spark)
    out = adjust_org_changes(panel, lookup, **_ADJUST_KW)
    assert [(f.name, f.dataType.simpleString(), f.nullable) for f in out.schema] == [
        ("org_code", "string", True), ("period", "int", True), ("val", "double", True),
        ("exp_problematic_org_change", "int", True), ("unproblematic_org_change", "int", True),
        ("org_name", "string", True), ("change_period", "int", True),
        ("exp_unproblematic_org_change", "int", True),
    ]
    assert sorted(map(tuple, out.collect()), key=repr) == [
        ("A", 2001, 7.0, 0, 0, "Alpha N", 2004, 1),
        ("A", 2004, 8.0, 0, 1, "Alpha N", 2004, 1),
        ("A", None, 6.0, 0, 0, "Alpha N", 2004, 1),
        ("N", 2001, 7.0, 0, 0, None, None, 0),
        ("N", 2002, 5.0, 0, 0, None, None, 0),
        ("P", 2001, 14.0, 1, 0, "Prob", None, 0),
        ("S", 2001, 9.0, 0, 1, "Self", 2003, 1),
        ("S", 2003, 10.0, 0, 1, "Self", 2003, 1),
        ("X", 2001, 11.0, 0, 0, "Stop", None, 0),
        ("X", 2002, 12.0, 0, 0, "Stop", None, 0),
        ("Y", 2001, 11.0, 0, 1, "Why", 2002, 1),
        ("Y", 2002, 25.0, 0, 1, "Why", 2002, 1),
        ("Z", 2001, None, 0, 0, "Zed", None, 0),
        (None, 2001, 1.0, 0, 0, None, None, 0),
        (None, 2002, 2.0, 0, 0, None, None, 0),
    ]
    unnamed = adjust_org_changes(panel, lookup, name_col=None, **_ADJUST_KW)
    assert "org_name" not in unnamed.columns and unnamed.count() == 15
    assert adjust_org_changes(panel.limit(0), lookup, **_ADJUST_KW).collect() == []
