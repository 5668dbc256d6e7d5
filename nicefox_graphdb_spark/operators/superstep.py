"""One superstep driver for every iterative operator.

Pagerank, SSSP, label propagation, connected components' contraction
levels and star rounds, and the Cypher var-length BFS all run the same
loop: build the next frame from the current one, cut its lineage, and let
a few aggregates decide whether to go on. Pregelix (VLDB 2014) treats
each Pregel superstep as the same dataflow step over vertex state;
``supersteps`` is that loop and ``cut`` its one lineage cut (guide §5:
without a cut the plan, and its re-execution, grows with every step).

Each cut is one Spark action. The aggregates a stop test needs (dangling
mass, frontier size, changed labels, residual rows, the star check) ride
that action as one ``Observation``; a separate ``count()`` or
``isEmpty()`` probe would run the step's plan a second time.

Breadth-first loops (SSSP, the var-length BFS) choose each step's plan
by the size of their frontier, as Pregelix does from its active vertex
count (``frontier_supersteps``). A join hop costs several stages: the
cut edge set is broadcast and the visited set shuffled and broadcast,
and under AQE each shuffle stage is a job of its own. A frontier of a
few rows instead stays on the driver, and each hop is one pruned scan of
the cut edges (``edges.where(key IN ids).collect()``, one job, one
stage) whose rows the caller joins to its frontier in Python: the
reference's ``edges(source_id, type)`` index probe, re-expressed.
Each loop passes its own bound on the rows it holds on the driver, every
frontier it has produced counted, and on the rows one driver hop takes
in; past it the loop hands its frontier over as a lineage-free local
frame and continues with the join hop.

Each bound is set from the measured crossover of that loop's two hops on
the ×10 data of ``scripts/gen_scale_data.py`` (1M ``NEXT`` edges, 4 cores):
``graph_algos.SSSP_FRONTIER_ROWS`` and ``var_length.FRONTIER_PATHS``,
tables beside them. The driver hop grows with the frontier: its ids
travel into the plan as literals and the matched edges come back as
rows. The join hop barely does. A bound on the rows held also bounds
what a plan-cache entry (a Cypher var-length result) keeps on the
driver.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nicefox_graphdb_spark.operators.common import local_frame

# partitions the first job of a limited collect scans (Spark's default 1,
# then 4x more per job until the limit is met)
_LIMIT_PARTS = "spark.sql.limit.initialNumPartitions"


def _reliable_every_k() -> int:
    """Reliable-checkpoint cadence of ``cut`` (0 = off).

    Cuts use ``localCheckpoint``: executor-storage-backed and
    non-replayable, so on a real cluster an executor loss mid-run aborts
    the job (the same trade GraphX makes). Set
    ``NICEFOX_RELIABLE_CHECKPOINT_EVERY_K=k`` (with
    ``sparkContext.setCheckpointDir`` pointing at durable storage) to route
    every k-th step's cut through the reliable checkpoint instead:
    replayable across executor loss, at the cost of a distributed write.
    Off by default: a single host has no executor to lose."""
    try:
        return int(os.environ.get("NICEFOX_RELIABLE_CHECKPOINT_EVERY_K", "0") or 0)
    except ValueError:
        return 0


def _moved(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s analyzed plan as a frame of ``session``: its actions plan
    and run under that session's SQL conf."""
    jvm = session.sparkContext._jvm
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, session)


def _clone(home: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A clone of ``home`` with ``conf`` set: the frames moved into it plan
    and run under that conf while ``home``, shared with other threads,
    keeps its own."""
    iso = type(home)(home.sparkContext, home._jsparkSession.cloneSession())
    for k, v in conf.items():
        iso.conf.set(k, v)
    return iso


def cut(
    df: DataFrame, i: int = 0, copartitioned: bool = False, **aggs: Column
) -> tuple[DataFrame, dict]:
    """Checkpoint ``df`` in one Spark action; return the cut frame and the
    values of ``aggs`` (name -> aggregate over ``df``'s rows) observed on
    that same action. ``i`` is the step number, for the reliable cadence.

    ``copartitioned`` records ``df``'s hash partitioning on the cut. Under
    AQE the executed plan's root is AdaptiveSparkPlanExec, which reports
    UnknownPartitioning, so a plain checkpoint stamps the new LogicalRDD
    Unknown and every later same-key join re-shuffles it. Without AQE the
    plan's HashPartitioning is recorded, and a superstep's ``edges ⋈
    state`` join reads both sides' partitioning with no join Exchange (the
    co-partitioned GraphX shape; AQE's coalescing is traded away for the
    cut's own job). The action runs in a clone of ``df``'s session with
    AQE off: the session itself is shared with other threads (the HTTP
    server's), whose plans must keep AQE."""
    home = df.sparkSession
    if copartitioned:
        df = _moved(df, _clone(home, {"spark.sql.adaptive.enabled": "false"}))
    if aggs:
        obs = Observation()
        # Attached after the move, in the session that runs the action: an
        # Observation registers with its frame's session, and one attached
        # before the move never fires (its get then blocks forever).
        df = df.observe(obs, *(c.alias(k) for k, c in aggs.items()))
    k = _reliable_every_k()
    if k and (i + 1) % k == 0:
        df = df.checkpoint(eager=True)
    else:
        df = df.localCheckpoint(eager=True)
    if copartitioned:
        df = _moved(df, home)
    return df, (obs.get if aggs else {})


def supersteps(
    step: Callable[[DataFrame | None, dict | None], DataFrame],
    frame: DataFrame | None,
    seen: dict | None = None,
    max_steps: int | None = None,
    copartitioned: bool = False,
    **aggs: Column,
) -> Iterator[tuple[DataFrame, dict]]:
    """Run ``frame = step(frame, seen)`` up to ``max_steps`` times (no
    bound when None), each new frame cut once by ``cut`` with ``aggs``
    observed, and yield every ``(frame, seen)``. ``seen`` starts as the
    observation of the caller's own cut of ``frame``, if any. The caller
    stops by breaking out of its loop: a step is built only when the loop
    asks for the next one."""
    for i in range(max_steps) if max_steps is not None else itertools.count():
        frame, seen = cut(step(frame, seen), i, copartitioned, **aggs)
        yield frame, seen


def bounded_rows(df: DataFrame, bound: int) -> list[Row] | None:
    """``df``'s rows when it has at most ``bound``, else None: one collect
    of at most ``bound + 1`` rows."""
    rows = df.limit(bound + 1).collect()
    return rows if len(rows) <= bound else None


def pruned_scan(edges: DataFrame, key: str, ids: set, limit: int) -> list[Row] | None:
    """The rows of ``edges`` whose ``key`` is one of ``ids``, collected when
    there are at most ``limit`` of them, else None: at most ``limit + 1``
    rows reach Python. No job when there are no ids; one when ``edges``'
    session scans every partition in a limit's first job
    (``frontier_supersteps`` moves its edges into such a session).

    ``Column.isin`` makes two py4j calls per value (its literal and its
    place in the list); non-empty string ids go over as one joined string
    that the JVM splits into a ``java.util.List`` for
    ``Column.isInCollection``, a fixed four calls whatever their number.
    Collecting the rows of 1k / 10k ids from a 200k-row frame took
    0.32 / 0.51 s this way and 0.64 / 4.10 s through ``isin`` (4 cores)."""
    if not ids:
        return []
    sep = "\x1f"
    # a non-empty id never splits into the empty string that a stream
    # split drops at the end
    if all(isinstance(v, str) and v and sep not in v for v in ids):
        jvm = edges.sparkSession.sparkContext._jvm
        vals = jvm.java.util.regex.Pattern.compile(sep).splitAsStream(sep.join(ids))
        cond = Column(F.col(key)._jc.isInCollection(vals.toList()))
    else:
        cond = F.col(key).isin(list(ids))
    rows = edges.where(cond).limit(limit + 1).collect()
    return rows if len(rows) <= limit else None


def frontier_supersteps(
    step: Callable[[DataFrame, dict | None], DataFrame],
    extend: Callable[[list, list[Row], int], list | None],
    frontier: DataFrame | list | None,
    edges: DataFrame,
    key: str,
    schema: T.StructType,
    max_steps: int,
    bound: int,
) -> Iterator[tuple[DataFrame | list, int]]:
    """Up to ``max_steps`` breadth-first steps from ``frontier``; yield each
    new frontier with its row count.

    A frontier held as a list of rows (tuples in ``schema``'s column
    order, the vertex each row reached second) steps on the driver: those
    vertex ids prune one scan of ``edges`` on column ``key``, and
    ``extend(frontier, edge_rows, limit)`` returns the next frontier's
    rows, or None once they would pass ``limit``. A frontier frame (or
    None) steps as ``supersteps`` does: ``step(frame, seen)``, cut with its
    rows observed.

    A driver step takes in at most ``bound`` edge rows and builds at most
    ``bound`` next rows: its scan and its ``extend`` each stop one row
    past that, before the rest of a high-degree vertex's edges or paths
    reach the driver, and the step runs as a join instead, from its
    frontier turned into a local frame. The frontiers the loop keeps on
    the driver, the first one and every one yielded since, stay within
    ``bound`` rows: the step whose rows would pass that yields them as a
    local frame instead. Every step after either hand-over joins. The
    caller stops by breaking out of its loop."""
    held = 0
    scan_edges = None
    while isinstance(frontier, list) and max_steps > 0:
        held += len(frontier)
        ids = {r[1] for r in frontier} - {None}
        if scan_edges is None and ids:
            # one job per scan: the limit's first job reads every partition
            iso = _clone(edges.sparkSession, {_LIMIT_PARTS: str(1 << 30)})
            scan_edges = _moved(edges, iso)
        edge_rows = pruned_scan(scan_edges, key, ids, bound)
        nxt = extend(frontier, edge_rows, bound) if edge_rows is not None else None
        if nxt is None:
            frontier = local_frame(edges.sparkSession, frontier, schema)
            break
        max_steps -= 1
        if held + len(nxt) > bound:
            frontier = local_frame(edges.sparkSession, nxt, schema)
        else:
            frontier = nxt
        yield frontier, len(nxt)
    if not isinstance(frontier, list):
        for frontier, seen in supersteps(
            step, frontier, None, max_steps, rows=F.count(F.lit(1))
        ):
            yield frontier, seen["rows"]
