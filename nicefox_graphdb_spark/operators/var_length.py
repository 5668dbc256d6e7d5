"""Variable-length path expansion — iterative frontier BFS.

The reference compiles ``-[:T*min..max]->`` to a SQLite recursive CTE with a
JSON-array cycle check and LIMIT-bounded early termination (reference
src/translator.ts:3300-4244). A recursive CTE doesn't exist in Spark; the
idiomatic equivalent is a driver-side loop of DataFrame self-joins — each
iteration is one distributed hop, so a 1000-executor cluster expands the
whole frontier of a hop in parallel.

Scale design:
- **Seed pushdown** (mirrors the reference's base-case predicate pushdown,
  src/translator.ts:3380-3416): when the caller already knows the candidate
  start ids, the hop-1 frontier is semi-joined down to them before any
  expansion happens.
- **Cycle check** is `array_contains(path_eids, eid)` per candidate edge —
  Cypher relationship-isomorphism (no edge reused within one path).
- **Frontier-sized hops**: the hops run on the superstep driver
  (``operators.superstep.frontier_supersteps``) over an edge set cut once.
  A seed set of at most ``FRONTIER_PATHS`` ids (one bounded collect) keeps
  its paths on the driver, and each hop is one pruned scan of the edges
  whose ``__from`` is a frontier end; the result is one local frame. A
  larger seed set, or paths past the bound, join per hop instead: each
  frontier is cut with its row count riding the cut, so the result is a
  union of materialized frontiers (a recursive CTE's memo table,
  re-expressed) and no hop runs a separate count or emptiness probe.
- **Early stop**: expansion halts when the frontier is empty; callers with a
  LIMIT can pass ``max_rows`` to stop once enough rows are accumulated
  (reference caps at min(limit*10, 10000), src/translator.ts:3355-3359).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nicefox_graphdb_spark.operators.common import local_frame
from nicefox_graphdb_spark.operators.superstep import (
    bounded_rows,
    cut,
    frontier_supersteps,
)

DEFAULT_MAX_HOPS = 12

# Most paths the BFS holds on the driver before its hops join
# (``superstep.frontier_supersteps``): below the measured crossover of the
# two hops, near 6k. One hop from F two-hop paths on the ×10 ``NEXT``
# edges of ``scripts/gen_scale_data.py`` (1M edges, 4 cores), driver
# (scan and extension, then the paths' local frame) / join, median of 3:
#
#     F         10     1k     2k     5k     7k    10k    20k    50k
#     driver  0.18   0.21   0.20   0.30   0.46   0.54   0.94   2.17 s
#     join    0.35   0.34   0.35   0.38   0.34   0.37   0.43   0.63 s
#
# A path row carries two arrays, so it costs the driver more than an SSSP
# row: this crossover sits lower than ``graph_algos.SSSP_FRONTIER_ROWS``.
FRONTIER_PATHS = 5_000

START, END, PATH_EIDS, PATH_NODES, HOPS = (
    "__vl_start",
    "__vl_end",
    "__vl_eids",
    "__vl_nodes",
    "__vl_hops",
)


def var_length_expand(
    edges: DataFrame,
    min_hops: int,
    max_hops: int | None,
    seed_ids: DataFrame | None = None,
    max_rows: int | None = None,
) -> DataFrame:
    """Expand paths over `edges` (columns: __from, __to, __eid).

    Returns a DataFrame with columns (START, END, PATH_EIDS, PATH_NODES,
    HOPS): one row per distinct path of length in [min_hops, max_hops].
    PATH_NODES holds the visited node ids *after* the start node (so the
    full node sequence of a path is [start] + PATH_NODES).
    """
    min_hops = max(min_hops, 1)
    max_hops = max_hops if max_hops is not None else DEFAULT_MAX_HOPS
    if max_hops > 1:
        # every hop re-reads the edge set: a derived edge view (joins,
        # windows) recomputed per hop would be the recursive-CTE equivalent
        # of forgetting to memoize the base case
        edges, _ = cut(edges.select("__from", "__to", "__eid"))

    base = edges.select(
        F.col("__from").alias(START),
        F.col("__to").alias(END),
        F.array(F.col("__eid")).alias(PATH_EIDS),
        F.array(F.col("__to")).alias(PATH_NODES),
        F.lit(1).alias(HOPS),
    )
    if max_hops < 1:
        # *0..0 — no expansion at all; the caller adds the zero-hop
        # identity rows itself
        return base.where(F.lit(False))
    if seed_ids is not None:
        # predicate pushdown into the traversal seed
        base = base.join(
            seed_ids.select(F.col(seed_ids.columns[0]).alias(START)).distinct(),
            on=START,
            how="left_semi",
        )
    if max_hops == 1:
        return base  # one hop: nothing to iterate

    def hop(frontier: DataFrame | None, _seen) -> DataFrame:
        if frontier is None:
            return base
        return (
            frontier.join(edges, frontier[END] == F.col("__from"))
            # a zero-hop path (a driver frontier of seeds handed over to
            # this join) takes any edge, as `base` does
            .where(
                (F.size(PATH_EIDS) == 0)
                | ~F.array_contains(F.col(PATH_EIDS), F.col("__eid"))
            )
            .select(
                F.col(START),
                F.col("__to").alias(END),
                F.concat(F.col(PATH_EIDS), F.array(F.col("__eid"))).alias(PATH_EIDS),
                F.concat(F.col(PATH_NODES), F.array(F.col("__to"))).alias(PATH_NODES),
                (F.col(HOPS) + 1).alias(HOPS),
            )
        )

    schema = T.StructType(
        [
            T.StructField(START, edges.schema["__from"].dataType),
            T.StructField(END, edges.schema["__to"].dataType),
            T.StructField(PATH_EIDS, T.ArrayType(edges.schema["__eid"].dataType)),
            T.StructField(PATH_NODES, T.ArrayType(edges.schema["__to"].dataType)),
            T.StructField(HOPS, T.IntegerType()),
        ]
    )
    # a bounded seed set starts on the driver, each seed a zero-hop path
    # whose first extension is hop 1; otherwise the first hop is `base`
    id_types = {edges.schema[c].dataType for c in ("__from", "__to")}
    seeds = None
    if seed_ids is not None and id_types == {seed_ids.schema[0].dataType}:
        seeds = bounded_rows(seed_ids, FRONTIER_PATHS)
    start = None
    if seeds is not None:
        start = [(s, s, [], [], 0) for s in dict.fromkeys(r[0] for r in seeds)]

    def extend(frontier: list, edge_rows: list, limit: int) -> list | None:
        # `hop` on the driver; None past `limit` paths. Past hop 1,
        # array_contains is NULL (the row dropped) for a NULL eid and for a
        # path that holds one
        adj: dict = {}
        for src, dst, eid in edge_rows:
            adj.setdefault(src, []).append((dst, eid))
        out = []
        for s, end, eids, nodes, n in frontier:
            for dst, eid in adj.get(end, ()):
                if eids and (eid is None or None in eids or eid in eids):
                    continue
                if len(out) == limit:
                    return None
                out.append((s, dst, [*eids, eid], [*nodes, dst], n + 1))
        return out

    rows: list = []
    results: list[DataFrame] = []
    collected = 0
    hops = frontier_supersteps(
        hop, extend, start, edges, "__from", schema, max_hops, FRONTIER_PATHS
    )
    for n, (frontier, k) in enumerate(hops, 1):
        if not k:
            break
        if n >= min_hops:
            if isinstance(frontier, list):
                rows.extend(frontier)
            else:
                results.append(frontier)
            collected += k
            if max_rows is not None and collected >= max_rows:
                break

    if rows:
        results.insert(0, local_frame(edges.sparkSession, rows, schema))
    if not results:
        return base.where(F.lit(False))
    return functools.reduce(DataFrame.unionByName, results)
