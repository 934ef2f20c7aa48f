"""Iterative graph analytics over a ``(src, dst, weight)`` edge table.

The org-change subsystem already ships one iterative-closure algorithm
(orgchange/closure.py — successor chains). This module adds the other
canonical iterative graph primitives a data-curation stack needs:
link-analysis centrality (PageRank, HITS), communities (label
propagation), connected components (near-duplicate clusters), shortest
paths, k-core peeling and triangle counts. The same operators rank any
edge table — citation graphs, org-successor graphs, near-duplicate
clusters.

The iterative operators run their rounds on the driver, as the
succession closure does. Their graphs are keyed by a dimension of the
data (the registry's nation x nation trade graphs have at most 625
edges), and on graphs that small each synchronous Spark round is 2-3
scheduled jobs of pure latency. So the corpus-scale edge aggregation
stays a Catalyst plan; the aggregated edges are collected once under
``_EDGE_CAP`` (a larger edge table is refused, never truncated); the
rounds run as plain Python and the result is a small frame. Python
floats are IEEE doubles, the float folds run in src (or dst) order
from 0.0 and ``_round9`` is Spark's HALF_UP ``round``, so the DuckDB
oracles replay every round bit for bit. ``connected_components`` collects
its pairs the same way and resolves them in one union-find pass.
``triangle_count`` has no rounds and stays a Spark plan.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from nhs_data_pipeline_spark.ops.core import local_frame

#: Most aggregated edges an operator collects to the driver.
_EDGE_CAP = 1_000_000


def _round9(x: float) -> float:
    """Spark F.round(col, 9) on a double: BigDecimal.valueOf (shortest
    decimal repr — Python ``repr``) + HALF_UP at scale 9."""
    return float(
        Decimal(repr(x)).quantize(Decimal("1E-9"), rounding=ROUND_HALF_UP)
    )


def _collect_edges(e: DataFrame, op: str) -> list:
    """Collect an edge table under ``_EDGE_CAP`` rows. The
    ``limit(cap + 1)`` probe bounds what the driver can ever pull; a
    capped result is a loud refusal, never a silent truncation."""
    rows = e.limit(_EDGE_CAP + 1).collect()
    if len(rows) > _EDGE_CAP:
        raise RuntimeError(
            f"{op}: edge table exceeds {_EDGE_CAP} rows; the graph "
            "operators run on the driver and refuse larger graphs"
        )
    return rows


def _aggregated_edges(
    edges: DataFrame, src: str, dst: str, w: Column, op: str
) -> tuple[dict, list, DataType]:
    """Shared preamble of the weighted operators: drop NULL-endpoint
    edges (a NULL is no node), aggregate parallel edges with ``w``,
    collect, and sort the nodes. Returns ``({(u, v): w}, nodes, node
    type)``."""
    agg = (
        edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .groupBy(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .agg(w.alias("w"))
    )
    ew = {(r["src"], r["dst"]): r["w"] for r in _collect_edges(agg, op)}
    nodes = sorted({u for u, _ in ew} | {v for _, v in ew})
    return ew, nodes, agg.schema["src"].dataType


def _node_frame(
    spark, node_t: DataType, fields: list[tuple[str, DataType]], rows: list
) -> DataFrame:
    """The small ``(node, *fields)`` result frame."""
    schema = StructType(
        [StructField("node", node_t)] + [StructField(n, t) for n, t in fields]
    )
    return local_frame(spark, rows, schema)


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank after ``iterations`` synchronous rounds:
    ``(node, pr)`` with uniform ``1/N`` initial ranks and

        pr'(v) = round((1-d)/N + d * sum_{(u,v) in E}
                       pr(u) * w(u,v) / outw(u), 9)

    ``edges`` may carry parallel edges; they are pre-aggregated on
    (src, dst). Each node's sum folds its contributions in ``u`` order
    (the oracle's ``list(c ORDER BY src)``). Dangling nodes (no
    out-edges) redistribute no mass (the standard simplification);
    nodes with no in-edges get the teleport term.
    """
    ew, nodes, node_t = _aggregated_edges(
        edges, src, dst, F.sum(weight), "pagerank"
    )
    outw: dict = {}
    for (u, _v), w in ew.items():
        outw[u] = outw.get(u, 0) + w
    inn: dict = {v: [] for v in nodes}
    for (u, v) in ew:
        inn[v].append(u)
    for v in inn:
        inn[v].sort()  # the src-ordered fold key
    n = len(nodes) or 1  # an empty graph ranks no node
    teleport = (1.0 - damping) / n
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        new = {}
        for v in nodes:
            acc = 0.0
            for u in inn[v]:
                acc = acc + pr[u] * ew[(u, v)] / outw[u]
            new[v] = _round9(teleport + damping * acc)
        pr = new
    return _node_frame(
        edges.sparkSession, node_t, [("pr", DoubleType())],
        [(v, pr[v]) for v in nodes],
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Synchronous weighted label propagation (community detection):
    every node starts in its own community (label = node id); each
    round a node adopts the incoming label with the largest total edge
    weight, ties to the SMALLEST label. Returns ``(node, label)``
    after ``iterations`` rounds.

    Deterministic by construction — labels and weights are integers,
    the argmax tie-breaks totally, and rounds are synchronous — so the
    oracle needs no rounding discipline at all. Communities over a
    near-duplicate pair graph give dedup clusters with locality
    (denser than connected components); over a link graph, topical
    domains. Pass a symmetrized edge table for undirected semantics.
    NULL endpoints are dropped like pagerank's.
    """
    ew, nodes, node_t = _aggregated_edges(
        edges, src, dst, F.sum(weight), "label_propagation"
    )
    labels = {v: v for v in nodes}
    for _ in range(iterations):
        wt: dict = {}
        for (u, v), w in ew.items():
            key = (v, labels[u])
            wt[key] = wt.get(key, 0) + w
        best: dict = {}
        for (v, lb), w in wt.items():
            cur = best.get(v)
            # argmax by (weight desc, label asc) — total order
            if cur is None or (-w, lb) < (-cur[0], cur[1]):
                best[v] = (w, lb)
        labels = {v: (best[v][1] if v in best else labels[v]) for v in nodes}
    return _node_frame(
        edges.sparkSession, node_t, [("label", node_t)],
        [(v, labels[v]) for v in nodes],
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "id",
) -> DataFrame:
    """Undirected connected components over a pair list — the last step
    of near-dedup, turning pairwise matches into duplicate CLUSTERS.
    Returns ``(id, component)`` where ``component`` is the smallest id
    in the cluster, the canonical survivor: drop every row whose id !=
    component to dedup.

    Without ``nodes`` every non-NULL pair endpoint is labelled (an id
    seen only in a self-pair is its own component). With ``nodes``
    (ids in ``id_col``) exactly its distinct ids are labelled, an id in
    no pair being a singleton. A pair with a NULL endpoint is dropped,
    as the other operators drop NULL-endpoint edges.

    The distinct pairs are collected once under ``_EDGE_CAP`` and
    resolved by a union-find (the smaller root wins, so every root is
    its cluster's minimum; path halving keeps finds short). There are
    no rounds, so no chain is too long to converge.
    """
    p = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in _collect_edges(p, "connected_components"):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    t = p.schema["a"].dataType
    cc = local_frame(
        pairs.sparkSession,
        [(v, find(v)) for v in sorted(parent)],
        StructType([StructField("id", t), StructField("component", t)]),
    )
    if nodes is None:
        return cc
    return (
        nodes.select(F.col(id_col).alias("id"))
        .distinct()
        .join(F.broadcast(cc), "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact per-node triangle counts ``(node, triangles)`` over an
    undirected simple graph (input may carry duplicates, both
    directions, self-loops — all canonicalized away).

    Algorithm: degree-ordered edge orientation (the standard
    distributed-triangle trick — Suri & Vassilvitskii's MR variant):
    orient every undirected edge from its lower-(degree, id) endpoint
    to the higher, so each triangle survives as exactly ONE wedge
    ``a->b, b->c`` plus its closing edge ``a->c``. The wedge join's
    fan-out per node is then bounded by out-degree in the ORIENTED
    graph, which is O(sqrt(m)) on any graph (arboricity bound) — a
    10^7-follower hub never enumerates its in-neighborhood pairs.
    All joins are edge-table x edge-table equi-joins (shuffle joins at
    scale — the correct plan); counts are pure integers, so the oracle
    needs no float discipline. The oriented table is persisted eagerly
    (it feeds three scans — the build-notes self-join rule) and the
    model-sized result is checkpointed before unpersist."""
    e = edges.filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull() & (F.col(src) != F.col(dst))
    )
    und = e.select(
        F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
    ).distinct()
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ranked = (
        und.join(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")), "v")
    )
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    ori = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    ).persist()
    ori.count()
    wedges = ori.join(
        ori.select(F.col("a").alias("b"), F.col("b").alias("c")), "b"
    )
    tri = wedges.join(
        ori.select(F.col("a").alias("a"), F.col("b").alias("c")), ["a", "c"]
    )
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
        .localCheckpoint(eager=False)
    )
    pernode.count()
    ori.unpersist()
    return pernode


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    iterations: int,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Single-source (or multi-source) shortest path distances after
    ``iterations`` synchronous Bellman-Ford rounds: ``(node, dist)``
    with ``dist = NULL`` for nodes not reached within the round
    budget. ``sources`` is a one-column (``node``) DataFrame; source
    distance is 0. Weights must be non-negative integers — every
    relaxation is then exact integer arithmetic with zero float
    discipline (the label-propagation property).

    ``iterations`` bounds the explored hop depth (Bellman-Ford
    converges in diameter rounds). Parallel edges pre-aggregate to
    their MINIMUM weight (the cheapest link is the only one shortest
    paths can use); NULL endpoints drop as in :func:`pagerank`."""
    ew, nodes, node_t = _aggregated_edges(
        edges, src, dst, F.min(weight).cast("bigint"), "shortest_paths"
    )
    srcs = {
        r["node"]
        for r in _collect_edges(
            sources.select("node").distinct(), "shortest_paths(sources)"
        )
    }
    dist: dict = {v: (0 if v in srcs else None) for v in nodes}
    for _ in range(iterations):
        new = dict(dist)
        for (u, v), w in ew.items():
            if dist[u] is not None:
                c = dist[u] + w
                if new[v] is None or c < new[v]:
                    new[v] = c
        dist = new
    return _node_frame(
        edges.sparkSession, node_t, [("dist", LongType())],
        [(v, dist[v]) for v in nodes],
    )


def kcore(
    edges: DataFrame,
    k_table: DataFrame,
    rounds: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Iterative k-core peeling over an undirected edge table:
    repeatedly drop nodes whose *current* degree is below ``k`` (and
    the edges touching them) for ``rounds`` synchronous rounds, then
    return ``(node, core_deg)`` for every node that still has at least
    one surviving edge. The k-core is the standard dense-subgraph /
    spam-farm filter over hyperlink graphs (a page kept only by
    low-degree neighbors peels away; a genuinely embedded page
    survives) — reference scope: the same graph-reduction family as
    the org successor-chain closure (reference ``fns_join.R``
    reachability), re-expressed as degree peeling.

    ``edges`` must already be symmetrized (both directions present)
    and deduplicated — degree is then the row count per ``src``
    (multiplicity is kept, not aggregated). ``k_table`` is a ONE-ROW
    DataFrame with a BIGINT column ``k``, so callers derive the
    threshold from the data in their own plan — never a driver
    literal (the build-notes magnitude-coupling rule). ``rounds``
    bounds the peel depth; a converged graph passes through later
    rounds unchanged, and the unrolled oracle replays the SAME fixed
    rounds, converged or not — all-integer decisions."""
    filt = edges.filter(
        F.col(src).isNotNull() & F.col(dst).isNotNull()
    ).select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e_l = [(r["src"], r["dst"]) for r in _collect_edges(filt, "kcore")]
    k = k_table.collect()[0]["k"]
    for _ in range(rounds):
        deg: dict = {}
        for u, _v in e_l:
            deg[u] = deg.get(u, 0) + 1
        alive = {u for u, d in deg.items() if d >= k}
        e_l = [(u, v) for (u, v) in e_l if u in alive and v in alive]
    core: dict = {}
    for u, _v in e_l:
        core[u] = core.get(u, 0) + 1
    return _node_frame(
        edges.sparkSession, filt.schema["src"].dataType,
        [("core_deg", LongType())], sorted(core.items()),
    )


def hits(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg, public) after
    ``iterations`` synchronous rounds: ``(node, hub, authority)``.
    Each round:

        a'(v) = sum_{(u,v) in E} h(u) * w(u,v);  a = round(a'/max(a'), 9)
        h'(u) = sum_{(u,v) in E} a(v) * w(u,v);  h = round(h'/max(h'), 9)

    with all-ones initial hubs. L-infinity normalization (divide by
    the max) on purpose: ``max`` is ORDER-FREE over doubles, so the
    oracle's normalizer needs no fold order — an L2 norm's
    sum-of-squares would be one more ordered float fold (and converges
    to the same principal eigenvector direction regardless).

    Authority sums fold in src order, hub sums in dst order (the
    oracle's fold keys). Nodes with no in-edges (out-edges) hold
    authority (hub) 0."""
    ew, nodes, node_t = _aggregated_edges(
        edges, src, dst, F.sum(weight), "hits"
    )
    inn: dict = {v: [] for v in nodes}
    outn: dict = {u: [] for u in nodes}
    for (u, v) in ew:
        inn[v].append(u)
        outn[u].append(v)
    for v in nodes:
        inn[v].sort()   # authority fold key: src order
        outn[v].sort()  # hub fold key: dst order
    h = {v: 1.0 for v in nodes}
    a = {}
    for _ in range(iterations):
        s_a = {}
        for v in nodes:
            if inn[v]:
                acc = 0.0
                for u in inn[v]:
                    acc = acc + h[u] * ew[(u, v)]
                s_a[v] = acc
        m = max(s_a.values(), default=1.0)  # empty only on an empty graph
        a = {v: _round9(s_a.get(v, 0.0) / m) for v in nodes}
        s_h = {}
        for u in nodes:
            if outn[u]:
                acc = 0.0
                for v in outn[u]:
                    acc = acc + a[v] * ew[(u, v)]
                s_h[u] = acc
        m2 = max(s_h.values(), default=1.0)
        h = {u: _round9(s_h.get(u, 0.0) / m2) for u in nodes}
    return _node_frame(
        edges.sparkSession, node_t,
        [("hub", DoubleType()), ("authority", DoubleType())],
        [(v, h[v], a[v]) for v in nodes],
    )
