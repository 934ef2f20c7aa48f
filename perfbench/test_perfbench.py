"""Self-tests of the benchmark: deterministic generators, the reference
panel the nhs check relies on, each workload end to end at a tiny size,
and a corrupted output surfacing as a failure.

    python -m pytest perfbench/test_perfbench.py -q

The end-to-end tests start a Spark JVM each (about three minutes in all).
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            p = os.path.join(d, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> dict[str, str]:
    gen.nhs_releases(os.path.join(root, "nhs"), seed, n_files=3, n_trusts=40)
    gen.warehouse_tables(os.path.join(root, "wh"), seed, sf=0.001)
    gen.corpus(os.path.join(root, "docs", "documents.parquet"), seed, 200, 0.05, 0.1)
    return _digest(root)


def test_generators_are_deterministic(tmp_path):
    a = _generate(str(tmp_path / "a"), seed=7)
    b = _generate(str(tmp_path / "b"), seed=7)
    c = _generate(str(tmp_path / "c"), seed=8)
    assert a == b
    assert len(a) == 3 + 1 + 7 + 1  # releases + edge list + tables + corpus
    assert a != c


def test_reference_panel_follows_closure_and_na_sums():
    inputs = gen.NhsInputs(
        files=[], edges_path="",
        # A -> B -> C is a two-hop chain; S splits into S1 and S2; P is problematic
        edges=[("A", "B"), ("B", "C"), ("S", "S1"), ("S", "S2"), ("P", "Q")],
        problematic={"P"},
        rows=[
            ("A", "A TRUST", 2010, "Q1", (1.0, None, None)),
            ("C", "C TRUST", 2010, "Q1", (2.0, None, 5.0)),
            ("S", "S TRUST", 2011, "Q2", (3.0, 4.0, None)),
            ("P", "P TRUST", 2010, "Q1", (6.0, 6.0, 6.0)),
        ],
    )
    ref = workloads.reference_panel(inputs)
    assert set(ref) == {("C", 2010, "Q1"), ("S1", 2011, "Q2"), ("S2", 2011, "Q2"),
                        ("P", 2010, "Q1")}
    c = ref[("C", 2010, "Q1")]
    assert (c["total_beds"], c["occupied_beds"], c["day_beds"]) == (3.0, None, 5.0)
    assert c["unproblematic_org_change"] == 1 and c["change_period"] == 2010
    assert ref[("S1", 2011, "Q2")]["org_name"] is None  # successor never reported
    assert ref[("S2", 2011, "Q2")]["occupied_beds"] == 4.0  # splits fan out
    p = ref[("P", 2010, "Q1")]
    assert p["exp_problematic_org_change"] == 1 and p["unproblematic_org_change"] == 0


def _run(argv) -> tuple[dict, dict]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        assert run.main(argv) == 0
    lines = out.getvalue().strip().splitlines()
    summary = json.loads(lines[-2].split(": ", 1)[1])
    return summary, json.loads(lines[-1])


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "NHS_FILES", 3)
    monkeypatch.setattr(workloads, "NHS_TRUSTS", 40)
    monkeypatch.setattr(workloads, "WAREHOUSE_SF", 0.002)
    monkeypatch.setattr(workloads, "CORPUS_DOCS", 120)
    monkeypatch.setattr(workloads, "MIX", (
        "q1_pricing_summary", "j5_asof_join", "dedup_exact"))


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_reports_every_metric(tiny, workload, trace):
    _, result = _run(["--workload", workload, "--seed", "3",
                      "--seconds", "0.1", "--trace", str(trace)])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_corrupted_output_raises_error_rate(tiny, monkeypatch):
    build = workloads.NhsPanelBuild.build

    def corrupting_build(self, spark, tracer, inputs):
        n = build(self, spark, tracer, inputs)
        with open(self.csv_path) as f:
            text = f.read()
        with open(self.csv_path, "w") as f:
            f.write(text.replace(",NA,", ",1.0,", 1))
        return n

    monkeypatch.setattr(workloads.NhsPanelBuild, "build", corrupting_build)
    summary, result = _run(["--workload", "nhs_panel_build", "--seed", "3",
                            "--seconds", "0.1", "--trace", "0"])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert summary["error_rate"] > 0
