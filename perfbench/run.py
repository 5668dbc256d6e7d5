"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload statements --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of stdout is a JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Lines before it give every metric and each
shape's median by name and unit. The full report (per-shape numbers,
counts, host block) goes to ``perfbench/work/<workload>/report.json`` and
the spans of a traced run to ``spans.json`` beside it.

Each run: start Spark pinned to ``local[nproc]``; generate the seeded
data; time the workload's set-up; run an untimed warm-up of each op shape
with a different seed on that first set-up (or on warm-up data); time
the set-up ``SETUP_REPS - 1`` more times; run the timed pass, a fixed
sequence of ops whose count follows from ``--seconds``, on the last one;
check every answer. ``--trace 1`` records spans from the second set-up on
and reports the per-layer metrics instead; its ``trace.ops_per_s`` against
the untraced ``ops_per_s`` of the same seed is the tracing overhead.
``--smoke`` shrinks the data to sf0.001 and each shape to one round.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from harness import ROOT, WORK, fresh_dir, gmean, median  # noqa: E402

SETUP_REPS = 3
# Wall seconds of one round of each workload's ops on a 4-core host; the
# number of rounds in a pass is --seconds divided by this, so a given
# --seconds always runs the same ops.
ROUND_SECONDS = {"statements": 14.0, "graph_analytics": 12.0}
DEADLINE_S = 165


def _workloads():
    from graph_analytics import GraphAnalytics
    from statements import Statements

    return {w.name: w for w in (Statements, GraphAnalytics)}


class Bench:
    """What a workload needs from the run: session, data, servers, the
    request path, and (in a traced pass) the tracer."""

    def __init__(self, args, spark):
        self.spark = spark
        self.seed = args.seed
        self.warm_seed = args.seed + 1_000_003
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.work = os.path.join(WORK, args.workload)
        self.tracer = None
        self.warm_up_s: list[tuple[str, float]] = []
        self._servers = []

    def dataset(self, sf: float, seed: int) -> dict:
        import datagen

        sf = 0.001 if self.smoke else sf
        d = os.path.join(self.work, "data", f"sf{sf}-seed{seed}")
        return {"dir": d, "rows": datagen.generate(d, sf, seed)}

    def server(self, data_dir: str | None = None):
        srv = harness.Server(self.spark, data_dir)
        self._servers.append(srv)
        return srv

    def rounds(self, workload) -> int:
        if self.smoke:
            return 1
        return max(1, round(self.seconds / ROUND_SECONDS[workload.name]))

    def request(self, client, cypher: str, params: dict | None = None) -> dict:
        if self.tracer is None:
            return client.query_response(cypher, params)
        with self.tracer.span("remote.request") as rec:
            self.tracer.root = rec["id"]
            try:
                return client.query_response(cypher, params)
            finally:
                self.tracer.root = None

    def span(self, name: str, layer: str | None = None):
        """A span when tracing, else nothing."""
        return nullcontext() if self.tracer is None else self.tracer.span(name, layer)

    def run_untimed(self, ops) -> None:
        """The warm-up: the first op of each shape, in script order."""
        seen = set()
        for op in ops:
            if op.shape not in seen:
                seen.add(op.shape)
                dt, _ = harness.timed(op.run)
                self.warm_up_s.append((op.shape, dt))

    def close(self) -> None:
        for srv in self._servers:
            srv.close()


def timed_pass(bench: Bench, wl, target) -> dict:
    """Run the workload's op script once on ``target``; only ``op.run``
    is inside the timed window."""
    import bench as host  # the repo's bench.py, for its host telemetry

    ops = wl.ops(target)
    engines = wl.engines(target)
    cache0 = [dict(e.cache_stats) for e in engines]
    tracer = bench.tracer
    stat0 = host._read_proc_stat()
    records = []
    for i, op in enumerate(ops):
        op_id = f"op{i:04d}"
        if tracer is not None:
            tracer.op = op_id
        err = None
        t0 = time.perf_counter()
        try:
            res = op.run()
        except Exception as e:  # noqa: BLE001 — a raising op counts as failed
            res, err = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.op = None
            tracer.resolve(op_id)
        if err is None:
            try:
                ok = bool(op.check(res))
            except Exception as e:  # noqa: BLE001
                ok, err = False, f"check raised {type(e).__name__}: {e}"
        else:
            ok = False
        if not ok and err is None:
            err = f"wrong answer: {json.dumps(res, default=str)[:300]}"
        records.append({"op": op_id, "shape": op.shape, "s": dt, "ok": ok,
                        "error": err, **op.meta})
    stat1 = host._read_proc_stat()
    final_ok, info = wl.finish(target)
    d_hits = sum(e.cache_stats["plan_hits"] - c["plan_hits"] for e, c in zip(engines, cache0))
    d_miss = sum(e.cache_stats["misses"] - c["misses"] for e, c in zip(engines, cache0))
    hits = d_hits / (d_hits + d_miss) if d_hits + d_miss else 0.0
    busy = sum(r["s"] for r in records)
    return {
        "records": records,
        "final_ok": final_ok,
        "info": info,
        "plan_cache_hit_ratio": hits,
        "ops_per_s": len(records) / busy,
        "host": host._host_block(stat0, stat1, None, None),
    }


def shape_medians_ms(records) -> dict[str, float]:
    by = defaultdict(list)
    for r in records:
        by[r["shape"]].append(r["s"] * 1000)
    return {s: median(v) for s, v in by.items()}


def end_to_end(setup_s: list[float], p: dict) -> dict:
    return {
        "setup_s": (median(setup_s), "s"),
        "ops_per_s": (p["ops_per_s"], "1/s"),
        "shape_p50_ms": (gmean(shape_medians_ms(p["records"]).values()), "ms"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    pkg = os.path.join(ROOT, "nicefox_graphdb_spark", "__init__.py")
    if not os.path.isfile(pkg):
        print(f"perfbench: no nicefox_graphdb_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    def expire(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, expire)
    signal.alarm(DEADLINE_S)
    fresh_dir(os.path.join(WORK, args.workload))
    harness.pin_environment()
    t0 = time.perf_counter()
    spark = harness.start_spark()
    session_s = time.perf_counter() - t0
    bench = Bench(args, spark)
    try:
        report = run(bench, workloads[args.workload](bench), args, session_s)
    finally:
        signal.alarm(0)
        bench.close()
        harness.stop_spark(spark)
    with open(os.path.join(bench.work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    for name, (value, unit) in report["printed"].items():
        print(f"{name:40s} {value:14.4f} {unit}")
    print(json.dumps(report["result"]))
    return 0


def run(bench: Bench, wl, args, session_s: float) -> dict:
    from tracing import Tracer

    phases = {"session": session_s}
    phases["prepare"], _ = harness.timed(wl.prepare)
    # the first set-up in a fresh JVM pays first-run costs; the median of
    # SETUP_REPS leaves it out
    dt, target = harness.timed(wl.setup)
    setup_s = [dt]
    phases["warm_up"], _ = harness.timed(lambda: wl.warm_up(target))
    tracer = None
    if args.trace:
        tracer = bench.tracer = Tracer(bench.spark.sparkContext)
        tracer.add_span("session.start", 0.0, session_s)
        tracer.install()
    try:
        for _ in range(SETUP_REPS - 1):
            dt, target = harness.timed(wl.setup)
            setup_s.append(dt)
        phases["pass"], p = harness.timed(lambda: timed_pass(bench, wl, target))
    finally:
        if tracer is not None:
            bench.tracer = None
            tracer.uninstall()
    report = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
              "smoke": args.smoke, "trace": args.trace, "cores": harness.cores(),
              "setup_s": setup_s, "phases_s": phases, "warm_up_s": bench.warm_up_s,
              "pass": p}
    if tracer is None:
        metrics = end_to_end(setup_s, p)
    else:
        from layers import layer_metrics

        tracer.write(os.path.join(bench.work, "spans.json"))
        metrics, report["counts"] = layer_metrics(tracer, p, session_s)
    attempted = len(p["records"])
    failed = sum(not r["ok"] for r in p["records"])
    correct = failed == 0 and p["final_ok"]
    report["shape_p50_ms"] = shape_medians_ms(p["records"])
    printed = dict(metrics)
    printed.update({f"{s}_p50_ms": (v, "ms") for s, v in report["shape_p50_ms"].items()})
    printed["error_rate"] = (failed / attempted, "fraction")
    for k, v in p["info"].items():
        if isinstance(v, (int, float)):
            printed[k] = (v, "ratio" if k == "space_amp" else "count" if "files" in k else "bytes")
    report["printed"] = printed
    report["result"] = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return report


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
