"""Successor transitive closure (J3).

The reference resolves NHS trust succession chains (old_code -> ... ->
final_code, with splits fanning one-to-many) by an iterative in-memory
loop (scripts/org-changes/build_trust_lookup.R:59-84,
build_all_org_changes.R:55-106). Succession graphs are lookup-sized, so
the engine does the same: it collects the edges once, walks them in
plain Python on the driver and ships the resolved pairs back as one
Arrow table (a ``LocalTableScan``). A Spark loop of self-joins would
spend its time scheduling jobs, not joining. A cycle has no terminal
successor, so it raises ``ValueError`` naming the codes on the cycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from nhs_data_pipeline_spark.ops.core import local_frame


def _find_cycle(succ: dict) -> list | None:
    """One cycle of the ``code -> successors`` map as ``[c0, ..., c0]``,
    or None when the map is acyclic."""
    live = dict(succ)  # peel codes until only cycles and their feeders remain
    while dead := [c for c, s in live.items() if not any(n in live for n in s)]:
        for c in dead:
            del live[c]
    if not live:
        return None
    path = [next(iter(live))]  # every live code has a live successor
    while path.count(path[-1]) < 2:
        path.append(next(n for n in live[path[-1]] if n in live))
    return path[path.index(path[-1]):]


def successor_closure(edges: DataFrame, old: str = "old_code", new: str = "new_code") -> DataFrame:
    """Resolve every ``old`` code to its terminal successor(s).

    ``edges`` is the one-hop succession list. Returns ``(old, final_code,
    n_hops)``: one row per distinct (origin, terminal, path length), so
    splits yield several rows per origin and two paths of different
    lengths to one terminal yield two rows. An edge with a NULL new code
    makes its old code a terminal too; a path that goes on past such a
    code reports every code it reaches after it, not only its terminal.
    A cycle raises ``ValueError``.

    Parity: build_trust_lookup.R:59-84 (the ``while (length(repl) > 0)``
    loop); build_all_org_changes.R:55-106 (bounded per-hop variant).
    """
    pairs = edges.select(old, new)
    succ: dict = {}
    for o, n in pairs.collect():
        succ.setdefault(o, set()).add(n)
    stops = {o for o, s in succ.items() if None in s}  # paths end there too
    for s in succ.values():
        s.discard(None)
    cycle = _find_cycle(succ)
    if cycle:
        raise ValueError("succession cycle: " + " -> ".join(map(str, cycle)))

    rows = []
    for origin, first in succ.items():
        if origin in stops:
            rows.append((origin, None, 1))
        # (code, reached past a stop) per path length, deduplicated per level
        frontier, hops = {(c, False) for c in first}, 1
        while frontier:
            rows += {(origin, c, hops) for c, held in frontier
                     if held or c in stops or not succ.get(c)}
            frontier = {(n, held or c in stops) for c, held in frontier for n in succ.get(c, ())}
            hops += 1
    o_field, n_field = pairs.schema.fields
    schema = T.StructType([
        o_field,
        T.StructField("final_code", n_field.dataType, n_field.nullable),
        T.StructField("n_hops", T.IntegerType(), False),
    ])
    return local_frame(edges.sparkSession, rows, schema)


