"""Span tracing from the benchmark's own files.

``Tracer.install`` wraps the package's public entry points (parser,
compiler, engine, DataFrame.collect, var-length expansion, the durable
store, the commit plane and the analytics operators) with functions that
record a span per call: name, start, end, parent span, operation id and
thread. Spans stay in memory until ``write``.

Spark work is attributed by job group. A wrapper that owns a layer sets
``spark.jobGroup.id`` to ``<op>:<layer>`` on the calling thread (the
server's handler thread for statements) and restores the previous group
on exit, so every job lands in the innermost traced layer. After each
operation ``resolve`` reads jobs, stages and tasks from ``statusTracker``
and shuffle, spill and CPU per stage from the driver's status store; both
reads schedule no Spark job.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op: str | None = None  # single closed-loop client: one op in flight
        self.root: int | None = None  # the client-side span of that op
        self.jobs: dict[str, dict[str, dict]] = {}  # op -> layer -> counters
        self._groups: dict[str, set] = {}  # op -> job groups it used
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def parent_name(self) -> str | None:
        stack = self._stack()
        idx = stack[-1] if stack else self.root
        return None if idx is None else self.spans[idx]["name"]

    @contextmanager
    def span(self, name: str, layer: str | None = None, **attrs):
        stack = self._stack()
        rec = {
            "id": None,
            "name": name,
            "parent": stack[-1] if stack else self.root,
            "op": self.op,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        with self._lock:
            idx = rec["id"] = len(self.spans)
            self.spans.append(rec)
        prev = None
        if layer is not None and self.op is not None:
            group = f"{self.op}:{layer}"
            self._groups.setdefault(self.op, set()).add(group)
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, group)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if layer is not None and self.op is not None:
                self.sc.setLocalProperty(_GROUP, prev)

    def add_span(self, name: str, start: float, end: float, **attrs) -> None:
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": None, "op": self.op,
             "thread": None, "start": start, "end": end, **attrs}
        )

    # -- patching ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, layer=None, before=None, after=None):
        """Replace ``owner.attr`` with a span-recording wrapper. ``layer``
        is a layer name, or a function of the parent span's name that
        returns one (or None). ``before(args)`` runs ahead of the call and
        its value is handed to ``after(args, value, rec)``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            lay = layer(tracer.parent_name()) if callable(layer) else layer
            state = before(args) if before else None
            with tracer.span(name, lay) as rec:
                out = orig(*args, **kwargs)
            if after:
                after(args, state, rec)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from nicefox_graphdb_spark import commit_plane, durable_store, engine
        from nicefox_graphdb_spark.cypher.compiler import CypherToSpark
        from nicefox_graphdb_spark.operators import (
            dedup, graph_algos, pipeline, similarity, var_length,
        )

        self.wrap(engine, "parse", "parser.parse")
        self.wrap(CypherToSpark, "compile_query", "compiler.compile_query", "compiler")
        self.wrap(engine.CypherEngine, "dataframe", "engine.dataframe")
        self.wrap(engine.CypherEngine, "query", "engine.query", "engine")
        self.wrap(
            DataFrame, "collect", "exec.collect",
            lambda parent: "exec" if parent in ("engine.query", "job") else None,
        )
        self.wrap(var_length, "var_length_expand", "var_length.expand", "var_length")
        self.wrap(durable_store.DurableGraph, "commit_query",
                  "durable_store.commit_query", "durable_store")
        self.wrap(durable_store.DurableTableStore, "commit", "durable_store.commit")
        self.wrap(durable_store.DurableTableStore, "apply_retention",
                  "durable_store.apply_retention", "durable_store")

        def files_of(args):
            store, key = args[0], args[1]
            return {e["name"] for e in store.manifest["tables"][key]["files"]}

        def compacted(args, before_names, rec):
            rec["compacted"] = bool(before_names - files_of(args))

        self.wrap(durable_store.DurableTableStore, "maybe_compact",
                  "durable_store.maybe_compact", "durable_store",
                  before=files_of, after=compacted)
        self.wrap(commit_plane.LocalCommitPlane, "write_text_atomic",
                  "commit_plane.write_text_atomic")

        def moved_bytes(args, size, rec):
            rec["bytes"] = size

        # a move into a table's data dir is a data file being published
        self.wrap(commit_plane.LocalCommitPlane, "move", "commit_plane.move",
                  before=lambda a: os.path.getsize(a[1]), after=moved_bytes)
        for fn in ("pagerank", "connected_components", "shortest_path_lengths",
                   "label_propagation"):
            self.wrap(graph_algos, fn, f"graph_algos.{fn}", "graph_algos")
        self.wrap(dedup, "jaccard_pairs", "dedup.jaccard_pairs", "dedup")
        self.wrap(similarity, "ann_neardup_pairs", "similarity.ann_neardup_pairs",
                  "similarity")
        self.wrap(similarity, "build_ivf_index", "similarity.build_ivf_index",
                  "similarity")
        self.wrap(pipeline, "pack_chunks", "pipeline.pack_chunks", "pipeline")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- Spark job attribution --------------------------------------------
    def resolve(self, op: str) -> None:
        """Fold the op's jobs into per-layer counters. Waits for the
        listener bus first so the status store has every finished stage."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = self.jobs.setdefault(op, {})
        for group in sorted(self._groups.get(op, ())):
            layer = group.split(":", 1)[1]
            c = out.setdefault(layer, {
                "jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
                "spill_bytes": 0, "cpu_ms": 0.0,
            })
            for job_id in tracker.getJobIdsForGroup(group):
                c["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in (info.stageIds if info else []):
                    sd = store.lastStageAttempt(stage_id)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["shuffle_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    c["cpu_ms"] += sd.executorCpuTime() / 1e6

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs}, f)
