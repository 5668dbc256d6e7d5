"""Self-checks of the benchmark itself. Run from the checkout root.

    python3 perfbench/check.py smoke
        Every workload at sf0.001 with one round of ops, untraced and
        traced. Checks that every metric of BENCHMARK.json prints with its
        unit, that no op fails (error_rate 0), and that the traced runs
        together emit spans for every layer named in ``per_layer``.

    python3 perfbench/check.py counts [--seed N] [--smoke] [--workload W]
        Two traced runs per workload with the same seed. Checks that the
        counts in ``layers.EXACT`` and the per-shape job counts repeat
        exactly, except those listed in ``NOT_EXACT``.

Exits 0 when every check holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# counts that legitimately differ between same-seed runs, with the reason;
# they are reported but not used for claims
NOT_EXACT: dict[str, str] = {}
# per_layer name prefix -> prefix of the span names that cover that layer
SPAN_PREFIX = {"server": "remote.", "trace": None}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, seed: int, seconds: int, trace: int, smoke: bool) -> tuple[list, dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if smoke:
        cmd.append("--smoke")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    with open(os.path.join(HERE, "work", workload, "report.json")) as f:
        report = json.load(f)
    return lines[:-1], json.loads(lines[-1]), report


def smoke() -> list[str]:
    spec = _spec()
    problems, span_names = [], set()
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            printed, result, report = _run(wl["name"], 1, spec["run_seconds"], trace, True)
            tag = f"{wl['name']} trace={trace}"
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if got != want:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want.items()))}")
            shown = {ln.split()[0]: ln.split()[-1] for ln in printed if ln.strip()}
            missing = [n for n, u in want.items() if shown.get(n) != u]
            if missing:
                problems.append(f"{tag}: not printed with unit: {missing}")
            if result["failed"] or not result["correct"] or float(
                    next(ln.split()[1] for ln in printed if ln.startswith("error_rate"))):
                problems.append(f"{tag}: failed={result['failed']} correct={result['correct']}")
            if trace:
                span_names |= set(report["counts"]["span_names"])
    for layer in sorted({m["name"].split(".")[0] for m in spec["per_layer"]}):
        prefix = SPAN_PREFIX.get(layer, layer + ".")
        if prefix and not any(n.startswith(prefix) for n in span_names):
            problems.append(f"no span for layer {layer!r}")
    return problems


def counts(seed: int, smoke_mode: bool, only: str | None) -> list[str]:
    spec = _spec()
    problems = []
    for wl in spec["workloads"]:
        if only and wl["name"] != only:
            continue
        a, b = (_run(wl["name"], seed, spec["run_seconds"], 1, smoke_mode)[2]["counts"]
                for _ in range(2))
        for k in sorted(set(a) | set(b)):
            if k in ("span_names", "spans") or a.get(k) == b.get(k):
                continue
            line = f"{wl['name']}: {k} {a.get(k)} != {b.get(k)}"
            if k in NOT_EXACT:
                print(f"not exact (expected): {line}")
            else:
                problems.append(line)
        print(f"{wl['name']}: {len(a) - 2} counts compared")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("check", choices=("smoke", "counts"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--workload")
    args = ap.parse_args()
    problems = smoke() if args.check == "smoke" else counts(args.seed, args.smoke, args.workload)
    for p in problems:
        print("FAIL", p)
    print("ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
