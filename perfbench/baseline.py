"""Baseline of one workload: run-to-run spread of the end-to-end metrics
over several seeds, and optionally one traced run for the per-layer
numbers, its span file and the tracing overhead.

    python3 perfbench/baseline.py --workload llm_vector --seeds 1 2 3 4 5 \\
        [--trace-seed 1] [--out perfbench/results]

Spread is computed as the acceptance check does: the distance between the
first and third quartile of a metric's values (statistics.quantiles,
n=4) as a share of their median. Tracing overhead is the traced run's
cold_total_s minus that of the untraced run with the same seed (the
untraced median when that seed is not among --seeds). The traced run is
also accounted against times taken independently of its step spans: its
blocking self time (cold build, plan, execute and reap) against the
untraced cold_total_s, and the self times of every step span under the
cold span (build, plan, execute, steady, check, reap, probe) against that
span's own duration. run_seconds comes from BENCHMARK.json; every run is
its own `perfbench/run.py` process."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.layers import self_times  # noqa: E402


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    print(f"# {workload} seed {seed} trace {trace}: {wall:.1f} s wall", file=sys.stderr)
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


#: Spans of the steps the cold phase runs; the rest is loop bookkeeping.
COLD_STEPS = ("build", "plan", "execute", "steady", "check", "reap", "probe")


def cold_accounting(spans: list[dict]) -> tuple[float, float]:
    """(cold span duration, self-time sum of the step spans under it)."""
    by_id = {s["id"]: s for s in spans}
    cold = next(s for s in spans if s["name"] == "cold")

    def under_cold(s) -> bool:
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            if s is cold:
                return True
        return False

    selfs = self_times(spans)
    steps = sum(selfs[s["id"]] for s in spans if s["name"] in COLD_STEPS and under_cold(s))
    return cold["end"] - cold["start"], steps


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out", help="directory for <workload>.json and <workload>.spans.json")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    if args.out:
        os.makedirs(args.out, exist_ok=True)

    runs, walls = [], []
    for seed in args.seeds:
        result, wall = run_once(args.workload, seed, seconds, 0)
        runs.append(result)
        walls.append(wall)

    summary = {}
    print(f"| {args.workload} | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|")
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                              "bound": m["bound"], "unit": m["unit"]}
        print(f"| {m['name']} ({m['unit']}) | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | {m['bound']} |")
    print(f"\nwall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s; "
          f"failed {sum(r['failed'] for r in runs)} of {sum(r['attempted'] for r in runs)} attempted")

    record = {"workload": args.workload, "seeds": args.seeds, "run_seconds": seconds,
              "walls_s": walls, "runs": runs, "end_to_end": summary}
    if args.trace_seed is not None:
        traced, wall = run_once(args.workload, args.trace_seed, seconds, 1)
        layers = {k: m["value"] for k, m in traced["metrics"].items()}
        if args.trace_seed in args.seeds:
            untraced = runs[args.seeds.index(args.trace_seed)]["metrics"]["cold_total_s"]["value"]
        else:
            untraced = summary["cold_total_s"]["median"]
        overhead = layers["trace.cold_total_s"] - untraced
        residual = layers["trace.cold_blocking_self_s"] - untraced
        tag = f"{args.workload}-sf0.1-seed{args.trace_seed}-trace1"
        traced_record = os.path.join(HERE, "out", f"{tag}.json")
        with open(traced_record) as f:
            cold_span, cold_steps = cold_accounting(json.load(f)["spans"])
        record.update(trace_seed=args.trace_seed, per_layer=layers, tracing_overhead_s=overhead,
                      untraced_cold_total_s=untraced, blocking_residual_s=residual,
                      cold_span_s=cold_span, cold_steps_self_s=cold_steps)
        print(f"\n| {args.workload} per layer (seed {args.trace_seed}) | value |\n|---|---|")
        for m in spec["per_layer"]:
            print(f"| {m['name']} ({m['unit']}) | {layers[m['name']]:.6g} |")
        print(f"| tracing overhead: traced - untraced cold_total_s (s) | {overhead:.3f} |")
        print(f"| blocking self time - untraced cold_total_s (s) | {residual:.3f} |")
        print(f"| cold span (s) | {cold_span:.3f} |")
        print(f"| step self times under it (s) | {cold_steps:.3f} |")
        if args.out:
            shutil.copyfile(traced_record, os.path.join(args.out, f"{args.workload}.spans.json"))
    if args.out:
        with open(os.path.join(args.out, f"{args.workload}.json"), "w") as f:
            json.dump(record, f, indent=1)
    return 0 if all(r["correct"] for r in runs) else 1


if __name__ == "__main__":
    raise SystemExit(main())
