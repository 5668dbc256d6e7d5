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
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable, Iterator

from pyspark.sql import Column, DataFrame, Observation, SparkSession


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
        iso = type(home)(home.sparkContext, home._jsparkSession.cloneSession())
        iso.conf.set("spark.sql.adaptive.enabled", "false")
        df = _moved(df, iso)
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
