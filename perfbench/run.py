"""Closed-loop latency benchmark of sparkml_spark, one workload per run.

    python3 perfbench/run.py --workload olap_headline --seed 1 --seconds 40 --trace 0

One process, one client: Spark local[4] with 8 shuffle partitions, and
the next query is sent only after the previous result has been
collected. The seed only permutes query order, which decides whether a
base query or its *_bound twin pays a shared fit. The inputs are the
sf0.1 fixture tables under perfbench/data: deterministic synthetic
TPC-H-like tables plus events, documents and embeddings.

Protocol, in one process:
1. setup, three times: launch a fresh JVM with get_spark, then run one
   throwaway query outside the workload (the first query of a JVM pays
   its warm-up). Each set-up but the last stops its session and waits
   for its JVM to exit, so every one pays JVM start, session start and
   first-query warm-up; the last session is kept.
2. cold: each query once, in seeded order. Build it and collect it (a
   cold sample), re-execute that same DataFrame STEADY_REPS times
   (steady samples), check its result untimed, and only then
   reap_registered: a reaped lineage-truncated checkpoint cannot be
   re-executed.
3. warm: passes of rebuild + collect + reap for every query, each pass
   in a fresh seeded order, while the measured time stays within
   --seconds (at least one pass). The first pass's results are checked
   untimed.

The last line of stdout is one JSON object. --trace 0 gives the
end-to-end metrics; --trace 1 adds job groups, plan forcing and counter
reads, gives the per-layer metrics, and writes the spans to
perfbench/out/. Each run holds an exclusive lock and keeps its Spark
local dirs, temp files and warehouse in its own directory under
perfbench/out/, removed at exit.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import random
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

# The checkout that holds this file is the one measured.
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.check import Checker  # noqa: E402
from perfbench.layers import (  # noqa: E402
    Tracer,
    catalyst_phases_ms,
    job_counts,
    self_times,
    sql_metrics,
)
from perfbench.stats import percentile  # noqa: E402

CPUS = 4
SHUFFLE_PARTITIONS = 8
SETUPS = 3
WARMUP_QUERY = "agg_global"
#: Re-executions of each built DataFrame: a query's steady time is the
#: fastest of them, and with five or more queries the pooled steady p75
#: has the ten samples beyond it that it needs.
STEADY_REPS = 12

#: Query ids per workload; olap_headline's are bench.HEADLINE's values.
WORKLOADS: dict[str, list[str] | None] = {
    "olap_headline": None,
    "ml_vector": [
        "ml_classify_logistic",
        "ml_fit_quality_bound",
        "dedup_semantic_semdedup",
        "sim_topk_bruteforce",
        "sim_retrieval_metrics",
    ],
}

#: Suite statistics, as in bench.py: a query's steady time is its fastest
#: re-execution, its warm time the median over warm passes. Pooled
#: percentiles over the mixed queries are printed with their sample
#: counts but not reported: their run-to-run spread exceeds the bound.
END_TO_END = {
    "setup_s": "s",
    "cold_total_s": "s",
    "warm_total_s": "s",
    "steady_total_s": "s",
    "peak_rss_mb": "MB",
}

#: Module (relative to sparkml_spark) whose build time gets its own metric.
BUILD_MODULES = (
    "operators.ml",
    "operators.llm_dedup",
    "operators.llm_similarity",
    "operators.aggregates",
    "operators.joins",
    "operators.windows",
    "functions.scalar",
)

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "session.artifacts_built": "count",
    "session.artifacts_built.warm": "count",
    "session.reap_s": "s",
    "session.reaped_rdds": "count",
    "session.standing_rdds.max": "count",
    "operators.build_s": "s",
    "operators.warm_build_s": "s",
    "operators.build_jobs": "count",
    **{f"{m}.build_s": "s" for m in BUILD_MODULES},
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "sources.scan_rows": "count",
    "sources.scan_time_ms": "ms",
    "exec.first_run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.peak_memory_bytes": "bytes",
    "exec.result_rows": "count",
    "trace.cold_total_s": "s",
    "trace.cold_blocking_self_s": "s",
}


def workload_queries(name: str) -> list[str]:
    if WORKLOADS[name] is not None:
        return list(WORKLOADS[name])
    import bench

    return list(bench.HEADLINE.values())


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


class Bench:
    """One run of one workload against one SparkSession."""

    def __init__(self, spark, sf_dir, checker, tracer) -> None:
        from sparkml_spark import session
        from sparkml_spark.registry import QUERIES

        self.spark = spark
        self.sc = spark.sparkContext
        self.sf_dir = sf_dir
        self.checker = checker
        self.tr = tracer
        self.queries = QUERIES
        self.session = session
        self.attempted = 0
        self.failures: list[dict] = []
        self.layer = Counter()
        self.standing_max = 0

    def _fail(self, qid: str, phase: str, what) -> None:
        msg = what if isinstance(what, str) else f"{type(what).__name__}: {what}"
        self.failures.append({"query": qid, "phase": phase, "error": msg.splitlines()[0]})
        print(f"# FAIL {qid} [{phase}]: {msg.splitlines()[0]}", file=sys.stderr)

    def _group(self, name: str) -> None:
        if self.tr.enabled:
            self.sc.setJobGroup(name, name)

    def _artifacts(self) -> int:
        """Session memo entries (session._ARTIFACTS) of the live app."""
        app = self.sc.applicationId
        return sum(1 for k in getattr(self.session, "_ARTIFACTS", {}) if k[0] == app)

    def build_and_collect(self, qid: str, phase: str):
        """Build `qid` and collect it once. Returns (df, build_s, total_s)
        or None on failure; in a traced run also reads the layer counters."""
        self.attempted += 1
        tracing = self.tr.enabled
        group = f"{qid}:{phase}"
        try:
            with self.tr.span("query", qid):
                self._group(group + ":build")
                before = self._artifacts()
                t0 = time.perf_counter()
                with self.tr.span("build", qid):
                    df = self.queries[qid](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                built = self._artifacts() - before
                if tracing:
                    self._group(group + ":exec")
                    with self.tr.span("plan", qid):
                        phases = catalyst_phases_ms(df)
                with self.tr.span("execute", qid):
                    rows = df.collect()
                t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
            self._fail(qid, phase, exc)
            return None
        if tracing:
            with self.tr.span("probe", qid):
                self._record(qid, phase, df, t1 - t0, t2 - t1, built, phases, len(rows))
        return df, t1 - t0, t2 - t0

    def _record(self, qid, phase, df, build_s, exec_s, built, phases, n_rows) -> None:
        L = self.layer
        if phase == "cold":
            L["session.artifacts_built"] += built
            L["operators.build_s"] += build_s
            module = self.queries[qid].__module__.removeprefix("sparkml_spark.")
            if module in BUILD_MODULES:
                L[f"{module}.build_s"] += build_s
            L["operators.build_jobs"] += job_counts(self.sc, f"{qid}:cold:build")["jobs"]
            for k, v in job_counts(self.sc, f"{qid}:cold:exec").items():
                L[f"exec.{k}"] += v
            m = sql_metrics(df)
            for k in ("shuffle_write_bytes", "spill_bytes", "peak_memory_bytes"):
                L[f"exec.{k}"] += m[k]
            L["sources.scan_rows"] += m["scan_rows"]
            L["sources.scan_time_ms"] += m["scan_time_ms"]
            L["exec.first_run_s"] += exec_s
            L["exec.result_rows"] += n_rows
        else:
            L["session.artifacts_built.warm"] += built
            L["warm.build_s"] += build_s
            for k, v in phases.items():
                L[f"warm.{k}_ms"] += v

    def check(self, qid: str, df, phase: str) -> None:
        self.attempted += 1
        self._group("perfbench:check")
        with self.tr.span("check", qid):
            try:
                problem = self.checker.problem(qid, df)
            except Exception as exc:  # noqa: BLE001
                problem = exc
        if problem is not None:
            self._fail(qid, f"{phase} check", problem)

    def reap(self, qid: str) -> float:
        self._group("perfbench:reap")
        t0 = time.perf_counter()
        with self.tr.span("reap", qid):
            n = self.session.reap_registered(self.spark)
        dt = time.perf_counter() - t0
        self.layer["session.reap_s"] += dt
        self.layer["session.reaped_rdds"] += n
        self.standing_max = max(self.standing_max, self.session.persistent_rdd_count(self.spark))
        return dt

    def cold(self, order: list[str], steady: dict) -> tuple[dict, float]:
        """Returns the cold sample per query and the measured seconds
        spent; steady samples are added to `steady` per query."""
        cold, spent = {}, 0.0
        with self.tr.span("cold"):
            for qid in order:
                got = self.build_and_collect(qid, "cold")
                if got is None:
                    spent += self.reap(qid)
                    continue
                df, _, total = got
                cold[qid] = total
                spent += total
                self._group(f"{qid}:steady")
                for _ in range(STEADY_REPS):
                    self.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        with self.tr.span("steady", qid):
                            df.collect()
                    except Exception as exc:  # noqa: BLE001
                        self._fail(qid, "steady", exc)
                        continue
                    dt = time.perf_counter() - t0
                    steady.setdefault(qid, []).append(dt)
                    spent += dt
                self.check(qid, df, "cold")
                spent += self.reap(qid)
        return cold, spent

    def warm(self, queries: list[str], rng: random.Random, budget: float):
        """Passes until `budget` seconds are spent; returns (samples per
        query, seconds spent, passes)."""
        samples, spent, passes, last = {}, 0.0, 0, 0.0
        with self.tr.span("warm"):
            while passes == 0 or spent + last <= budget:
                order = rng.sample(queries, len(queries))
                pass_s = 0.0
                for qid in order:
                    got = self.build_and_collect(qid, "warm")
                    if got is not None:
                        samples.setdefault(qid, []).append(got[2])
                        pass_s += got[2]
                        if passes == 0:
                            self.check(qid, got[0], "warm")
                    pass_s += self.reap(qid)
                passes += 1
                spent += pass_s
                last = pass_s
        return samples, spent, passes


def setup_session(sf_dir: str, tracer, layer: Counter):
    """SETUPS x (fresh JVM: get_spark + warm-up query); returns (spark,
    median s). Per-part medians go to session.get_spark_s / warmup_s."""
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import get_spark

    totals, get_s, warm_s = [], [], []
    for i in range(SETUPS):
        if i:
            shutdown_jvm()
        with tracer.span("setup"):
            t0 = time.perf_counter()
            with tracer.span("get_spark"):
                spark = get_spark("perfbench", master=f"local[{CPUS}]")
                spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
            t1 = time.perf_counter()
            with tracer.span("warmup"):
                QUERIES[WARMUP_QUERY](spark, sf_dir).collect()
            t2 = time.perf_counter()
        totals.append(t2 - t0)
        get_s.append(t1 - t0)
        warm_s.append(t2 - t1)
    layer["session.get_spark_s"] = statistics.median(get_s)
    layer["session.warmup_s"] = statistics.median(warm_s)
    print(f"# setups (s): {', '.join(f'{t:.3f}' for t in totals)}", file=sys.stderr)
    return spark, statistics.median(totals)


def shutdown_jvm() -> None:
    """Stop the active session and wait for its JVM child to exit; the
    next get_spark launches a new JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args) -> dict:
    from sparkml_spark.registry import ORACLES

    import sparkml_spark.operators  # noqa: F401  (registers every query)

    sf_dir = os.path.join(HERE, "data", f"sf{args.sf}")
    queries = workload_queries(args.workload)
    tracer = Tracer(bool(args.trace))
    layer = Counter()
    checker = Checker(ROOT, sf_dir, {q: ORACLES[q] for q in queries if q in ORACLES})
    with tracer.span("run"):
        spark, setup_s = setup_session(sf_dir, tracer, layer)
        bench = Bench(spark, sf_dir, checker, tracer)
        bench.layer.update(layer)
        rng = random.Random(args.seed)
        steady: dict[str, list[float]] = {}
        cold, spent = bench.cold(rng.sample(queries, len(queries)), steady)
        warm, warm_wall, passes = bench.warm(queries, rng, args.seconds - spent)
        rss = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    failed = len(bench.failures)
    attempted = bench.attempted
    samples = {"cold": cold, "steady": steady, "warm": warm}
    pct = {
        f"{phase}_query_s.p{int(q * 100)}": percentile([t for ts in samples[phase].values() for t in ts], q)
        for phase in ("warm", "steady")
        for q in (0.5, 0.75)
    }
    e2e = {
        "setup_s": setup_s,
        "cold_total_s": sum(cold.values()),
        "warm_total_s": sum(statistics.median(ts) for ts in warm.values()),
        "steady_total_s": sum(min(ts) for ts in steady.values()),
        "peak_rss_mb": rss,
    }
    qps = sum(map(len, warm.values())) / warm_wall
    for k, p in pct.items():
        print(f"# {k} = {p.describe('s')}", file=sys.stderr)
    print(
        f"# cold n={len(cold)}, warm passes={passes}, warm qps={qps:.3f};"
        f" fail_share={failed / attempted:.4f} ({failed} failed of {attempted} attempted)"
        + "".join(f"; {f['query']} [{f['phase']}]" for f in bench.failures),
        file=sys.stderr,
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "trace": args.trace,
        "queries": queries,
        "samples": samples,
        "warm_passes": passes,
        "warm_qps": qps,
        "failures": bench.failures,
        "fail_share": failed / attempted,
        "attempted": attempted,
        "failed": failed,
        "percentiles": {k: vars(p) for k, p in pct.items()},
        "end_to_end": e2e,
    }
    if args.trace:
        record["per_layer"] = per_layer(bench, tracer, passes, e2e["cold_total_s"])
        record["spans"] = tracer.spans
        metrics = {k: {"value": record["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    tag = f"{args.workload}-sf{args.sf}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(record, f)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def per_layer(bench: Bench, tracer, passes: int, cold_total: float) -> dict:
    L = bench.layer
    out = {k: float(L[k]) for k in PER_LAYER}
    out["session.standing_rdds.max"] = float(bench.standing_max)
    out["operators.warm_build_s"] = L["warm.build_s"] / passes
    for k in ("analysis", "optimization", "planning"):
        out[f"catalyst.{k}_ms"] = L[f"warm.{k}_ms"] / passes
    selfs = self_times(tracer.spans)
    by_id = {s["id"]: s for s in tracer.spans}
    cold_id = next(s["id"] for s in tracer.spans if s["name"] == "cold")

    def cold_step(s) -> bool:
        """A blocking step of the cold phase: a cold query's build, plan
        or execute span, or a reap span directly under the cold span."""
        p = by_id.get(s["parent"])
        if p is None:
            return False
        if s["name"] == "reap":
            return p["id"] == cold_id
        return s["name"] in ("build", "plan", "execute") and p["name"] == "query" and p["parent"] == cold_id

    out["trace.cold_total_s"] = cold_total
    out["trace.cold_blocking_self_s"] = sum(selfs[s["id"]] for s in tracer.spans if cold_step(s))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.1", help="fixture scale under perfbench/data")
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "run.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        work = tempfile.mkdtemp(prefix="run-", dir=OUT)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        os.environ.update(
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            TMPDIR=tmp,
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            SPARK_GRAFT_SHUFFLE=str(SHUFFLE_PARTITIONS),
        )
        tempfile.tempdir = tmp
        cwd = os.getcwd()
        os.chdir(work)
        try:
            result = measure(args)
        finally:
            shutdown_jvm()
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0

if __name__ == "__main__":
    raise SystemExit(main())
