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
- **One observed cut per hop**: the hops run on the superstep driver
  (``operators.superstep``). The edge set is cut once and every hop's
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

from nicefox_graphdb_spark.operators.superstep import cut, supersteps

DEFAULT_MAX_HOPS = 12

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
            .where(~F.array_contains(F.col(PATH_EIDS), F.col("__eid")))
            .select(
                F.col(START),
                F.col("__to").alias(END),
                F.concat(F.col(PATH_EIDS), F.array(F.col("__eid"))).alias(PATH_EIDS),
                F.concat(F.col(PATH_NODES), F.array(F.col("__to"))).alias(PATH_NODES),
                (F.col(HOPS) + 1).alias(HOPS),
            )
        )

    results: list[DataFrame] = []
    collected = 0
    hops = supersteps(hop, None, None, max_hops, rows=F.count(F.lit(1)))
    for n, (frontier, seen) in enumerate(hops, 1):
        if not seen["rows"]:
            break
        if n >= min_hops:
            results.append(frontier)
            collected += seen["rows"]
            if max_rows is not None and collected >= max_rows:
                break

    if not results:
        return base.where(F.lit(False))
    return functools.reduce(DataFrame.unionByName, results)
