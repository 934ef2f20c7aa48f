"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments write byte-identical files. Each returns the ground truth
the output checks need, so no check has to trust the engine's own
reading of the inputs.

- ``nhs_releases``: quarterly raw CSV releases in two column-layout
  eras (preamble rows, an in-data header, sentinel tokens, England junk
  rows) plus a succession edge list with chains of up to three hops and
  splits.
- ``warehouse_tables``: TPC-H-shaped parquet tables plus ``events``, in
  the schemas and value domains the registry queries read.
- ``corpus``: a synthetic document corpus with a stated rate of
  injected exact and near duplicates.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# nhs_panel_build
# ---------------------------------------------------------------------------

MEASURES = ("total_beds", "occupied_beds", "day_beds")
SENTINELS = ("-", "..", "*", "n/a", "Not available")
ENGLAND = "England"
# Column headers per era. Era A is the pre-2015 layout (SHA / OrgID /
# Name); era B the later one (Region Code / Organisation Code /
# Organisation Name / Area Team Code). Both carry the three measures.
ERA_A_HEADER = ["SHA", "OrgID", "Name", "Total Beds", "Occupied Beds", "Day Beds"]
ERA_B_HEADER = [
    "Region Code", "Organisation Code", "Organisation Name", "Area Team Code",
    "Day Beds", "Total Beds", "Occupied Beds",
]
FIRST_ERA_B_YEAR = 2015


@dataclass
class NhsInputs:
    files: list[str]          # raw release paths, in release order
    edges_path: str           # succession edge list CSV (old_code,new_code)
    edges: list[tuple[str, str]]
    problematic: set[str]     # old codes flagged problematic in the lookup
    # ground truth: one row per (org_code, year, quarter) as published
    rows: list[tuple[str, str, int, str, tuple[float | None, ...]]]


def _quarters(n: int):
    """n consecutive (year, quarter) release slots, placed so that about
    half fall before ``FIRST_ERA_B_YEAR`` (era A) and half from it on."""
    first_year = FIRST_ERA_B_YEAR - (n + 7) // 8
    return [(first_year + i // 4, i % 4 + 1) for i in range(n)]


def _succession(rng: random.Random, codes: list[str], n_chains: int, n_splits: int):
    """Disjoint succession chains of 1-3 hops among fresh successor codes,
    plus splits (one old code with two successors)."""
    edges: list[tuple[str, str]] = []
    pool = list(codes)
    rng.shuffle(pool)
    fresh = iter(f"N{i:04d}" for i in range(10_000))
    for c in range(n_chains):
        hops = 1 + c % 3
        cur = pool.pop()
        for _ in range(hops):
            nxt = next(fresh)
            edges.append((cur, nxt))
            cur = nxt
    for _ in range(n_splits):
        old = pool.pop()
        edges.append((old, next(fresh)))
        edges.append((old, next(fresh)))
    return edges


def nhs_releases(
    out_dir: str, seed: int, n_files: int, n_trusts: int
) -> NhsInputs:
    """Write ``n_files`` quarterly releases of ``n_trusts`` trusts each.

    Trusts report every quarter. A reported value is a sentinel token
    (a NULL after ingest) with probability 5%; England rows and the
    preamble must never reach the panel. File names carry the year and
    quarter (``Beds_Quarter_<q>_<yyyy>_<yy>.csv``)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    codes = [f"R{i:04d}" for i in range(n_trusts)]
    names = {c: f"{c} NHS TRUST" for c in codes}
    edges = _succession(rng, codes, n_chains=n_trusts // 8, n_splits=n_trusts // 40)
    olds = sorted({o for o, _ in edges})
    problematic = set(rng.sample(olds, max(1, len(olds) // 20)))
    edges_path = os.path.join(out_dir, "succession.csv")
    with open(edges_path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["old_code", "new_code"])
        w.writerows(edges)

    files, truth = [], []
    for year, q in _quarters(n_files):
        era_b = year >= FIRST_ERA_B_YEAR
        path = os.path.join(
            out_dir, f"Beds_Quarter_{q}_{year}_{(year + 1) % 100:02d}.csv"
        )
        header = ERA_B_HEADER if era_b else ERA_A_HEADER
        width = len(header)
        body = []
        totals = [0.0] * len(MEASURES)
        for c in codes:
            vals: list[float | None] = []
            for _ in MEASURES:
                vals.append(None if rng.random() < 0.05 else float(rng.randint(0, 900)))
            cells = {
                m: (rng.choice(SENTINELS) if v is None else str(int(v)))
                for m, v in zip(MEASURES, vals)
            }
            for k, v in enumerate(vals):
                totals[k] += v or 0.0
            if era_b:
                body.append(["Y56", c, names[c], "Q71", cells["day_beds"],
                             cells["total_beds"], cells["occupied_beds"]])
            else:
                body.append(["Q30", c, names[c], cells["total_beds"],
                             cells["occupied_beds"], cells["day_beds"]])
            truth.append((c, names[c], year, f"Q{q}", tuple(vals)))
        eng = [str(int(t)) for t in totals]
        england = (["", "ENG", ENGLAND, "", eng[2], eng[0], eng[1]] if era_b
                   else ["", "", ENGLAND, *eng])
        preamble = [
            ["Bed Availability and Occupancy Data - Overnight"] + [""] * (width - 1),
            [f"Period: Quarter {q} {year}"] + [""] * (width - 1),
            [""] * width,
        ]
        with open(path, "w", newline="") as f:
            csv.writer(f).writerows(preamble + [header, england] + body)
        files.append(path)
    return NhsInputs(files, edges_path, edges, problematic, truth)


# ---------------------------------------------------------------------------
# warehouse_query_mix
# ---------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "MACHINERY", "HOUSEHOLD", "FURNITURE", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
DAY_US = 86_400_000_000


def _ts_us(base: str, us: np.ndarray) -> pa.Array:
    origin = np.datetime64(base, "us")
    return pa.array(origin + us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def warehouse_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region, nation, customer, supplier, orders, lineitem and
    events as parquet at scale factor ``sf`` (sf1 = 6M lineitem rows).
    Returns the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.RandomState(seed)
    counts: dict[str, int] = {}

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows

    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    n_cust = int(150_000 * sf)
    write("customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
    }))
    n_supp = max(25, int(10_000 * sf))
    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))
    n_ord = int(1_500_000 * sf)
    span_days = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    odate_day = rng.randint(0, span_days + 1, n_ord).astype(np.int64)
    write("orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "P", "F")[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01", odate_day * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)],
    }))
    n_li = int(6_000_000 * sf)
    li_order = rng.randint(0, n_ord, n_li).astype(np.int64)
    ship_off = rng.randint(-2400, 2500, n_li).astype(np.int64)
    ship_day = np.clip(odate_day[li_order] + ship_off, 1, span_days + 95)
    write("lineitem", pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.randint(0, int(200_000 * sf), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), pa.int64()),
        # (l_orderkey, l_linenumber) is deliberately not unique
        "l_linenumber": pa.array(rng.randint(1, 8, n_li), pa.int32()),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.randint(0, 11, n_li) / 100.0,
        "l_tax": rng.randint(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.randint(0, 2, n_li)],
        "l_shipdate": _ts_us("1995-01-01", ship_day * DAY_US),
    }))
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    ev_us = rng.randint(0, 30 * DAY_US, n_ev, dtype=np.int64)
    write("events", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us("2024-01-01", ev_us),
        "user_id": pa.array(rng.randint(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.randint(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.25), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_ev)],
    }))
    return counts


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort "
    "spark stream table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]


@dataclass
class CorpusInputs:
    path: str
    n_docs: int
    n_exact: int   # documents replaced by an exact copy of another
    n_near: int    # documents replaced by a one-word edit of another


def corpus(
    path: str, seed: int, n_docs: int, exact_rate: float, near_rate: float
) -> CorpusInputs:
    """Write ``n_docs`` documents (8-91 words over a 30-word vocabulary)
    to one parquet file. A share ``exact_rate`` of them is overwritten
    by an exact copy of another document and a share ``near_rate`` by a
    near duplicate (the source with one word appended), so the rates set
    the exact-dedup and LSH candidate volumes."""
    rng = np.random.RandomState(seed)
    vocab = np.array(DOC_VOCAB)
    texts = [
        " ".join(vocab[rng.randint(0, len(vocab), int(rng.randint(8, 92)))])
        for _ in range(n_docs)
    ]
    n_exact, n_near = int(n_docs * exact_rate), int(n_docs * near_rate)
    targets = rng.choice(n_docs, n_exact + n_near, replace=False)
    sources = rng.randint(0, n_docs, n_exact + n_near)
    for j, (tgt, src) in enumerate(zip(targets, sources)):
        if j < n_exact:
            texts[tgt] = texts[src]
        else:
            texts[tgt] = texts[src] + " " + str(vocab[rng.randint(len(vocab))])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.randint(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.randint(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    return CorpusInputs(path, n_docs, n_exact, n_near)
