"""The benchmark's workloads, each driving the engine's public functions.

A workload generates its inputs from the seed (``prepare``, untimed and
outside set-up), warms the engine once (``warmup``, part of set-up) and
then runs one *round* at a time in the timed phase. A round is a list of
operations; each operation is timed alone, and its output is checked
right after it, outside its timing. ``final_check`` runs the per-run
checks that need an independent engine (DuckDB).

- ``NhsPanelBuild``: the paper's job. Succession closure -> messy
  ingest of every raw release -> org-change adjusted panel -> single
  CSV + partitioned parquet sinks -> parquet read-back. A round is one
  full build.
- ``WarehouseQueryMix``: one client in a closed loop issuing registry
  queries. A round is one pass over every query shape, in an order
  shuffled from the seed, so each shape weighs the same in every run.
"""

from __future__ import annotations

import csv
import os
import random
from collections import defaultdict
from contextlib import contextmanager
from typing import NamedTuple

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from spans import catalyst_phases

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


@contextmanager
def patched(module, name: str, wrapper):
    """Replace ``module.name`` with ``wrapper(original)`` for the block."""
    original = getattr(module, name)
    setattr(module, name, wrapper(original))
    try:
        yield
    finally:
        setattr(module, name, original)


def traced_call(tracer, span_name: str):
    """Wrapper factory: run the wrapped function inside a span."""

    def wrap(fn):
        def inner(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return inner

    return wrap


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Op(NamedTuple):
    """Outcome of one timed operation."""

    name: str
    seconds: float
    cpu_s: float  # engine CPU seconds, see ``spans.CpuClock``
    ok: bool
    detail: str = ""


def timed(fn, clock):
    """Run ``fn()``; return (result, seconds, engine CPU seconds,
    error-or-None)."""
    before = clock.read()
    try:
        result, err = fn(), None
    except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
        result, err = None, f"{type(e).__name__}: {e}"
    spent = clock.read() - before
    return result, spent.wall_s, spent.engine_s, err


# ---------------------------------------------------------------------------
# nhs_panel_build
# ---------------------------------------------------------------------------

NHS_FILES, NHS_TRUSTS = 8, 200           # timed build: 8 releases x 200 trusts
# The third build is still ~10% faster than the second (the JIT is still
# compiling), so set-up runs two builds before the timed ones.
WARMUP_BUILDS = 2
PANEL_KEYS = ["org_code", "file_year", "file_quarter"]


def series_config(inputs: gen.NhsInputs, lookup):
    from nhs_data_pipeline_spark.pipelines import SeriesConfig

    return SeriesConfig(
        name="beds",
        files=inputs.files,
        marker="Occupied Beds",
        rename={
            "orgid": "org_code", "name": "org_name",
            "organisation_code": "org_code_b", "organisation_name": "org_name_b",
        },
        coalesce={"org_code": ["org_code", "org_code_b"],
                  "org_name": ["org_name", "org_name_b"]},
        numeric_cols=list(gen.MEASURES),
        require_cols=["org_code"],
        drop_name_values=[gen.ENGLAND],
        keys=PANEL_KEYS,
        sum_cols=list(gen.MEASURES),
        org_lookup=lookup,
    )


def reference_panel(inputs: gen.NhsInputs) -> dict[tuple, dict]:
    """The adjusted panel computed in plain Python from the generator's
    ground truth: succession closure (splits fan out), recode of
    non-problematic old codes, NA-preserving re-aggregation, first-name
    re-attach, change period and the group-level change flag."""
    succ = defaultdict(list)
    for old, new in inputs.edges:
        succ[old].append(new)

    def finals(code: str) -> set[str]:
        if code not in succ:
            return {code}
        return set().union(*(finals(n) for n in succ[code]))

    lookup = {old: sorted(finals(old)) for old in succ}
    names = {code: name for code, name, *_ in inputs.rows}
    out: dict[tuple, dict] = {}
    change: dict[str, int] = {}
    for code, _name, year, quarter, vals in inputs.rows:
        targets = [(code, 0, 0)]
        if code in lookup:
            prob = int(code in inputs.problematic)
            targets = [(code if prob else f, prob, 1 - prob) for f in lookup[code]]
        for tgt, prob, moved in targets:
            row = out.setdefault((tgt, year, quarter), {
                "vals": [None] * len(vals), "exp_problematic_org_change": 0,
                "unproblematic_org_change": 0,
            })
            for k, v in enumerate(vals):
                if v is not None:
                    row["vals"][k] = (row["vals"][k] or 0.0) + v
            row["exp_problematic_org_change"] |= prob
            row["unproblematic_org_change"] |= moved
            if moved:
                change[tgt] = max(change.get(tgt, year), year)
    any_moved = defaultdict(int)
    for (code, _, _), row in out.items():
        any_moved[code] |= row["unproblematic_org_change"]
    return {
        key: {
            **dict(zip(gen.MEASURES, row["vals"])),
            "org_name": names.get(key[0]),
            "exp_problematic_org_change": row["exp_problematic_org_change"],
            "unproblematic_org_change": row["unproblematic_org_change"],
            "change_period": change.get(key[0]),
            "exp_unproblematic_org_change": any_moved[key[0]],
        }
        for key, row in out.items()
    }


def _panel_rows(records) -> dict[tuple, dict]:
    return {
        (r["org_code"], int(r["file_year"]), r["file_quarter"]): {
            "org_name": r["org_name"],
            **{m: None if r[m] is None else float(r[m]) for m in gen.MEASURES},
            **{
                c: None if r[c] is None else int(r[c])
                for c in ("exp_problematic_org_change", "unproblematic_org_change",
                          "change_period", "exp_unproblematic_org_change")
            },
        }
        for r in records
    }


def read_panel_csv(path: str) -> dict[tuple, dict]:
    with open(path, newline="") as f:
        rows = [{k: None if v == "NA" else v for k, v in r.items()}
                for r in csv.DictReader(f)]
    return _panel_rows(rows)


def read_panel_parquet(path: str) -> dict[tuple, dict]:
    return _panel_rows(pq.read_table(path).to_pylist())


class NhsPanelBuild:
    name = "nhs_panel_build"
    op_label, op_plural = "build", "builds"

    def __init__(self, work: str, seed: int):
        self.work = os.path.join(work, "nhs")
        self.seed = seed

    def prepare(self) -> None:
        self.inputs = gen.nhs_releases(
            os.path.join(self.work, "releases"), self.seed, NHS_FILES, NHS_TRUSTS)
        self.reference = reference_panel(self.inputs)
        self.csv_path = os.path.join(self.work, "out", "panel.csv")
        self.parquet_path = os.path.join(self.work, "out", "panel.parquet")
        self.output_rows = len(self.reference)
        self.bytes_written: list[int] = []

    def describe(self) -> str:
        return (f"{NHS_FILES} releases x {NHS_TRUSTS} trusts, "
                f"{len(self.inputs.edges)} succession edges, "
                f"{self.output_rows} adjusted panel rows")

    def build(self, spark, tracer, inputs: gen.NhsInputs) -> int:
        from nhs_data_pipeline_spark.io.writers import write_parquet, write_single_csv
        from nhs_data_pipeline_spark.orgchange import successor_closure
        from nhs_data_pipeline_spark.pipelines import run_series, runner

        with tracer.span("orgchange.successor_closure"):
            closure = successor_closure(spark.read.csv(inputs.edges_path, header=True))
            n_final = closure.groupBy("old_code").agg(F.count("*").alias("n_final"))
            lookup = closure.join(n_final, "old_code").select(
                "old_code", "final_code",
                (F.col("n_final") > 1).cast("int").alias("experiences_split"),
                F.col("old_code").isin(sorted(inputs.problematic)).cast("int")
                .alias("problematic"),
            ).localCheckpoint()
        with tracer.span("pipelines.run_series"):
            if tracer.enabled:
                with patched(runner, "read_messy_csv",
                             traced_call(tracer, "io.read_messy_csv")):
                    panel = run_series(spark, series_config(inputs, lookup))
                with tracer.span("catalyst.plan") as s:
                    panel._jdf.queryExecution().executedPlan()
                    s.attrs["phases"] = catalyst_phases(panel)
            else:
                panel = run_series(spark, series_config(inputs, lookup))
        with tracer.span("io.write_single_csv"):
            write_single_csv(panel, self.csv_path, order_by=PANEL_KEYS, null_value="NA")
        with tracer.span("io.write_parquet"):
            write_parquet(panel, self.parquet_path, partition_by=["file_year"])
        with tracer.span("io.read_back"):
            return spark.read.parquet(self.parquet_path).count()

    def warmup(self, spark, tracer) -> None:
        # the first build compiles every generated class of the timed plan shape
        for _ in range(WARMUP_BUILDS):
            self.build(spark, tracer, self.inputs)

    def round(self, spark, tracer, clock) -> list[Op]:
        n, secs, cpu, err = timed(lambda: self.build(spark, tracer, self.inputs), clock)
        if err is None:
            err = self.check(n)
            self.bytes_written.append(
                tree_bytes(self.csv_path) + tree_bytes(self.parquet_path))
        return [Op(self.op_label, secs, cpu, err is None, err or "")]

    def check(self, n_read_back: int) -> str | None:
        """Compare both sinks with the pure-Python reference panel."""
        if n_read_back != len(self.reference):
            return f"read-back rows {n_read_back} != reference {len(self.reference)}"
        from_csv = read_panel_csv(self.csv_path)
        if from_csv != self.reference:
            bad = next(k for k in self.reference if from_csv.get(k) != self.reference[k])
            return f"csv differs from reference at {bad}: {from_csv.get(bad)}"
        if read_panel_parquet(self.parquet_path) != from_csv:
            return "parquet and csv outputs disagree"
        return None

    def final_check(self) -> list[str]:
        return []

    def layer_metrics(self, spans) -> dict[str, float]:
        written = sum(self.bytes_written) / max(1, len(self.bytes_written))
        return {
            "io.bytes_written": written,
            "io.output_bytes_per_row": written / self.output_rows,
        }

    def summary(self) -> dict[str, float]:
        return {"output_bytes_per_row": self.layer_metrics([])["io.output_bytes_per_row"]}


# ---------------------------------------------------------------------------
# warehouse_query_mix
# ---------------------------------------------------------------------------

WAREHOUSE_SF = 0.01       # 60k lineitem, 15k orders, 10k events
CORPUS_DOCS = 120         # documents table for dedup_exact
CORPUS_EXACT_RATE, CORPUS_NEAR_RATE = 0.05, 0.10
MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q18_large_orders",
    "j5_asof_join", "w8_rolling_revenue", "stats_welch_ttest",
    "dedup_exact",
)
LLM_QUERIES = {"dedup_exact": "llm.exact_dedup"}
# A shape's second run is ~25% faster than its first (the JIT is still
# compiling), so set-up runs every shape twice before the timed passes.
WARMUP_PASSES = 2


def same_rows(got: list, want: list) -> bool:
    """Canonical row lists equal, floats within ``check_oracle.close``."""
    from tools.check_oracle import close

    return len(got) == len(want) and all(close(a, b) for a, b in zip(got, want))


class WarehouseQueryMix:
    name = "warehouse_query_mix"
    op_label, op_plural = "query", "queries"

    def __init__(self, work: str, seed: int):
        self.sf_dir = os.path.join(work, "warehouse")
        self.seed = seed
        self.rng = random.Random(seed)
        self.expected: dict[str, tuple[list, list]] = {}  # name -> (cols, canon rows)

    def prepare(self) -> None:
        self.counts = gen.warehouse_tables(self.sf_dir, self.seed, WAREHOUSE_SF)
        gen.corpus(os.path.join(self.sf_dir, "documents.parquet"), self.seed,
                   CORPUS_DOCS, CORPUS_EXACT_RATE, CORPUS_NEAR_RATE)

    def describe(self) -> str:
        return (f"{len(MIX)} distinct query shapes, one client, closed loop; "
                f"sf{WAREHOUSE_SF} ({self.counts['lineitem']} lineitem rows), "
                f"{CORPUS_DOCS} documents with {CORPUS_EXACT_RATE:.0%} exact and "
                f"{CORPUS_NEAR_RATE:.0%} near duplicates")

    def run_query(self, spark, tracer, name: str):
        from nhs_data_pipeline_spark.queries import QUERIES

        with tracer.span("queries.build", query=name):
            df = QUERIES[name](spark, self.sf_dir)
        with tracer.span("queries.execute", query=name) as s:
            rows = [tuple(r) for r in df.collect()]
            if tracer.enabled:
                s.attrs["phases"] = catalyst_phases(df)
        return df.columns, rows

    def warmup(self, spark, tracer) -> None:
        """``WARMUP_PASSES`` passes over every shape. The first pass's
        results are the ones ``final_check`` compares with DuckDB and
        every timed result must reproduce; the later passes move the JIT
        past the steep part of its warm-up curve."""
        from tools.check_oracle import rows_canon

        for name in MIX:
            cols, rows = self.run_query(spark, tracer, name)
            self.expected[name] = (cols, rows_canon(cols, rows))
        for _ in range(WARMUP_PASSES - 1):
            for name in MIX:
                self.run_query(spark, tracer, name)

    def round(self, spark, tracer, clock) -> list[Op]:
        from tools.check_oracle import rows_canon

        order = list(MIX)
        self.rng.shuffle(order)
        ops = []
        for name in order:
            res, secs, cpu, err = timed(lambda: self.run_query(spark, tracer, name), clock)
            if err is None:
                cols, rows = res
                if not same_rows(rows_canon(cols, rows), self.expected[name][1]):
                    err = "result differs from the oracle-checked result"
            ops.append(Op(name, secs, cpu, err is None, err or ""))
        return ops

    def final_check(self) -> list[str]:
        """Compare each distinct query's warm-up result with its DuckDB
        oracle (exact, or equal within float tolerance)."""
        from nhs_data_pipeline_spark.queries import ORACLES
        from tools.check_oracle import duck_con, rows_canon

        con = duck_con(self.sf_dir)
        problems = []
        try:
            for name in MIX:
                cols, got = self.expected[name]
                res = con.execute(ORACLES[name])
                d_cols = [d[0] for d in res.description]
                want = rows_canon(d_cols, res.fetchall())
                if sorted(cols) != sorted(d_cols):
                    problems.append(f"{name}: columns {sorted(cols)} != {sorted(d_cols)}")
                elif not same_rows(got, want):
                    problems.append(f"{name}: differs from its DuckDB oracle")
        finally:
            con.close()
        return problems

    def layer_metrics(self, spans) -> dict[str, float]:
        """Mean seconds per call of each llm query (plan build + collect)."""
        seconds, calls = defaultdict(float), defaultdict(int)
        for s in spans:
            if s.name.startswith("queries.") and s.attrs.get("query") in LLM_QUERIES:
                seconds[s.attrs["query"]] += s.duration
                calls[s.attrs["query"]] += s.name == "queries.build"
        return {
            f"{layer}.s": seconds[q] / max(1, calls[q]) for q, layer in LLM_QUERIES.items()
        }

    def summary(self) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (NhsPanelBuild, WarehouseQueryMix)}
