"""Per-layer metrics from a traced pass.

Every workload reports every metric in ``PER_LAYER`` (a layer a workload
does not touch reads 0). Times are medians per call unless the name says
otherwise; job, stage and file figures are totals over the pass. A layer's
self time is its span minus its traced children on the same thread.
"""

from __future__ import annotations

from collections import defaultdict

from harness import median

ALGOS = ("pagerank", "shortest_path_lengths")
EXEC_FIELDS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "cpu_ms")
# metrics whose values are counts a same-seed run must repeat exactly
EXACT = ("engine.plan_cache_hit_ratio", "durable_store.manifest_commits",
         "durable_store.compactions", "durable_store.vacuums",
         "durable_store.files_written")


def layer_metrics(tracer, traced: dict, session_s: float) -> tuple[dict, dict]:
    # spans outside an op (session start, set-ups) only feed tpch.load_s
    spans = [s for s in tracer.spans if s["op"] is not None]
    by_name = defaultdict(list)
    kids = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def ms(s):
        return (s["end"] - s["start"]) * 1000

    def self_ms(s):
        return ms(s) - sum(ms(c) for c in kids[s["id"]] if c["thread"] == s["thread"])

    def med(name, fn=ms):
        return median(fn(s) for s in by_name[name])

    def total(name, fn=ms):
        return sum(fn(s) for s in by_name[name])

    def jobs(layer, field="jobs", shape=None):
        return sum(
            tracer.jobs.get(r["op"], {}).get(layer, {}).get(field, 0)
            for r in traced["records"] if shape in (None, r["shape"])
        )

    def op_ms(shape):
        return median(r["s"] * 1000 for r in traced["records"] if r["shape"] == shape)

    def op_jobs(shape):
        return sum(
            c["jobs"] for r in traced["records"] if r["shape"] == shape
            for c in tracer.jobs.get(r["op"], {}).values()
        )

    query_of = {c["parent"]: c for c in by_name["engine.query"]}
    overhead = [ms(r) - ms(query_of[r["id"]]) for r in by_name["remote.request"]
                if r["id"] in query_of]
    decode = [
        ms(q) - sum(ms(c) for c in kids[q["id"]]
                    if c["name"] in ("engine.dataframe", "exec.collect"))
        for q in by_name["engine.query"]
    ]
    executes = [s for s in by_name["exec.collect"]
                if s["parent"] is not None
                and tracer.spans[s["parent"]]["name"] in ("engine.query", "job")]
    m = {
        "session.start_s": (session_s, "s"),
        "tpch.load_s": (median(ms(s) for s in tracer.spans if s["name"] == "tpch.load") / 1000, "s"),
        "server.overhead_ms": (median(overhead), "ms"),
        "engine.plan_cache_hit_ratio": (traced["plan_cache_hit_ratio"], "ratio"),
        "engine.decode_ms": (median(decode), "ms"),
        "parser.parse_ms": (med("parser.parse"), "ms"),
        "compiler.compile_ms": (med("compiler.compile_query", self_ms), "ms"),
        "compiler.jobs": (jobs("compiler"), "count"),
        "var_length.expand_ms": (med("var_length.expand"), "ms"),
        "var_length.jobs": (jobs("var_length"), "count"),
        "exec.ms": (median(ms(s) for s in executes), "ms"),
    }
    for f in EXEC_FIELDS:
        m[f"exec.{f}"] = (jobs("exec", f), "ms" if f == "cpu_ms" else
                          "bytes" if f.endswith("bytes") else "count")
    compactions = [s for s in by_name["durable_store.maybe_compact"] if s.get("compacted")]
    m.update({
        "durable_store.commit_ms": (med("durable_store.commit_query"), "ms"),
        "durable_store.manifest_commits": (len(by_name["durable_store.commit"]), "count"),
        "durable_store.compactions": (len(compactions), "count"),
        "durable_store.vacuums": (len(by_name["durable_store.apply_retention"]), "count"),
        "durable_store.vacuum_ms": (total("durable_store.apply_retention"), "ms"),
        "durable_store.files_written": (len(by_name["commit_plane.move"]), "count"),
        "durable_store.bytes_written": (total("commit_plane.move", lambda s: s["bytes"]), "bytes"),
        "durable_store.live_files": (traced["info"].get("live_files", 0), "count"),
        "commit_plane.atomic_writes": (len(by_name["commit_plane.write_text_atomic"]), "count"),
        "commit_plane.ms": (total("commit_plane.write_text_atomic"), "ms"),
    })
    for algo in ALGOS:
        m[f"graph_algos.{algo}_ms"] = (op_ms(algo), "ms")
        m[f"graph_algos.{algo}_jobs"] = (op_jobs(algo), "count")
    m.update({
        "dedup.jaccard_pairs_ms": (op_ms("jaccard_pairs"), "ms"),
        "similarity.ann_ms": (op_ms("ann_search"), "ms"),
        "pipeline.pack_chunks_ms": (op_ms("pack_chunks"), "ms"),
        "trace.ops_per_s": (traced["ops_per_s"], "1/s"),
    })

    shapes = sorted({r["shape"] for r in traced["records"]})
    counts = {k: m[k][0] for k in EXACT}
    counts.update({f"exec.jobs.{s}": jobs("exec", shape=s) for s in shapes})
    counts.update({f"compiler.jobs.{s}": jobs("compiler", shape=s) for s in shapes})
    counts["span_names"] = sorted({s["name"] for s in tracer.spans})
    counts["spans"] = len(spans)
    return m, counts
