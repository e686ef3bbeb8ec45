"""Benchmark of the engine: one workload at one seed, one process, one client.

Run from the root of a checkout:

    python3 perfbench/run.py --workload star_etl --seed 1 --seconds 12 --trace 0

The engine is driven from outside, through its public calls, the way
``bench.py`` drives it: ``session.get_session``, then
``registry.load_all_queries()[name].fn(spark, sf_dir)`` forced with a
``noop`` write. The load is a closed loop with one client: each query is
issued only after the previous one finished.

A run:

1. generates the seeded inputs (``gen.py``) under ``perfbench/.work``;
2. sets up the engine (session, registry import, JVM/codegen and Python
   worker warmup), timed as ``setup_s``;
3. computes the DuckDB oracle answers for the workload's queries;
4. runs the cold pass, checking each query's rows against its oracle after
   the query's timed part;
5. runs a fixed number of warm passes: as many as take ``--seconds`` at
   the workload's nominal pass time in ``workloads.json`` (at least three,
   and enough to give the tail percentile ten samples beyond it);
6. stops the session, measures what the run left on disk, removes it, and
   prints one JSON line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes and reports the per-layer metrics of the
traced ones and ``trace_overhead``; its spans go to
``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import MB, JobCounters, Tracer, cpu_seconds, memory_mb, process_tree, tree_bytes  # noqa: E402

LAYERS = [
    "plans",
    "operators",
    "operators.windows",
    "functions.similarity",
    "functions.corpus_scale",
    "functions.pq",
    "functions.graph",
    "sources.cdc",
    "sources.versioned",
    "streaming.sinks",
]
PHASES = ("build", "plan", "exec")
LAYER_METRICS = {
    "build_s": "s",
    "plan_s": "s",
    "exec_s": "s",
    "build_jobs": "count",
    "jobs": "count",
    "tasks": "count",
    "task_run_s": "s",
    "task_cpu_s": "s",
    "input_mb": "MB",
    "shuffle_write_mb": "MB",
    "persisted_mb": "MB",
}
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "cpu_s": "s",
    "rss_after_gc_mb": "MB",
    "disk_left_mb": "MB",
    "correct_frac": "ratio",
}
MIN_WARM_PASSES = 3
TAIL_BEYOND = 10  # samples that must lie above the reported tail percentile


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "session.warmup_s": "s", "trace_overhead": "ratio"}
    for layer in LAYERS:
        for metric, unit in LAYER_METRICS.items():
            units[f"{layer}.{metric}"] = unit
    return units


def warm_passes(seconds: float, nominal_pass_s: float, n_queries: int) -> int:
    """Warm passes of a run: as many as take ``seconds`` at the nominal pass time.

    The count does not depend on how fast this host runs now, so a slow
    phase of a shared host slows the passes without also changing how far
    into the session's warm-up they reach. There are at least
    MIN_WARM_PASSES, and enough to put TAIL_BEYOND samples above the tail.
    """
    return max(MIN_WARM_PASSES, round(seconds / nominal_pass_s), TAIL_BEYOND // n_queries + 1)


def load_workloads() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with TAIL_BEYOND samples above it: (value, percentile)."""
    ordered = sorted(samples)
    n = len(ordered)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples cannot give a percentile with {TAIL_BEYOND} beyond it")
    return ordered[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


class Bench:
    def __init__(self, queries: list[str], layer_of: dict[str, str], sf_dir: str, traced_run: bool):
        self.queries = queries
        self.layer_of = layer_of
        self.sf_dir = sf_dir
        self.traced_run = traced_run
        self.tracer = Tracer()
        self.attempted = 0
        self.failed: list[str] = []
        self.check_s = 0.0
        self.spark = None
        self.jvm_proc = None

    # -- setup ---------------------------------------------------------
    def setup(self) -> tuple[float, float]:
        """Session start (engine import, get_session, registry) and warmup, as bench.py does."""
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        from wheels_in_motion_analytics_spark.registry import load_all_queries
        from wheels_in_motion_analytics_spark.session import get_session

        self.spark = get_session("perfbench")
        self.jvm_proc = self.spark.sparkContext._gateway.proc
        self.spark.sparkContext.setLogLevel("ERROR")
        self.specs = load_all_queries()
        t1 = time.perf_counter()
        self.specs["count_total"].fn(self.spark, self.sf_dir).write.mode("overwrite").format("noop").save()
        self.spark.createDataFrame([(1,)], "x int").mapInPandas(
            lambda it: (pdf for pdf in it), "x int"
        ).write.mode("overwrite").format("noop").save()
        t2 = time.perf_counter()
        if self.traced_run:
            setup = self.tracer.add("setup", t0, t2)
            self.tracer.add("session", t0, t1, setup)
            self.tracer.add("warmup", t1, t2, setup)
        self.counters = JobCounters(self.spark) if self.traced_run else None
        return t1 - t0, t2 - t1

    def compute_oracles(self) -> None:
        import duckdb

        from wheels_in_motion_analytics_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.oracle: dict[str, tuple | Exception] = {}
        for name in self.queries:
            try:
                tab = con.execute(self.specs[name].oracle).arrow()
            except duckdb.Error as exc:
                self.oracle[name] = exc
                continue
            rows = list(zip(*(col.to_pylist() for col in tab.columns))) if tab.columns else []
            self.oracle[name] = (tab.column_names, rows, tab.schema)
        con.close()

    # -- one query -----------------------------------------------------
    def release_blocks(self) -> None:
        """Drop persisted blocks the previous query left, as bench.py does between queries."""
        gc.collect()
        for jrdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            jrdd.unpersist(False)

    def run_query(self, name: str, pass_span: int | None, traced: bool, check: bool) -> dict | None:
        """Time build/plan/exec of one query; None if it raised or its rows were wrong.

        Spans are recorded under ``pass_span`` when it is given; job counters
        are read only when ``traced``.
        """
        self.release_blocks()
        self.attempted += 1
        cursor = self.counters.cursor if traced else (lambda: 0)
        try:
            c0, t0 = cursor(), time.perf_counter()
            df = self.specs[name].fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            c1 = cursor()
            df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            c2 = cursor()
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
            c3 = cursor()
        except Exception as exc:  # a failing query is counted, the run goes on
            self.failed.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return None
        res = {"name": name, "layer": self.layer_of[name], "wall": t3 - t0,
               "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2}
        if pass_span is not None:
            qid = len(self.tracer.spans)
            self.tracer.add("query", t0, t3, pass_span, qid, query=name, layer=res["layer"])
            for phase, (a, b) in zip(PHASES, ((t0, t1), (t1, t2), (t2, t3))):
                self.tracer.add(phase, a, b, qid, qid)
        if traced:
            res["persisted_mb"] = self.counters.persisted_mb()
            build = self.counters.jobs(c0, c1)
            rest = [self.counters.jobs(c1, c2), self.counters.jobs(c2, c3)]
            res["build_jobs"] = build["jobs"]
            for key in build:
                res[key] = build[key] + sum(r[key] for r in rest)
        if check and not self.check(name, df, pass_span):
            return None
        return res

    def check(self, name: str, df, pass_span: int | None) -> bool:
        from driver_check import canon

        from wheels_in_motion_analytics_spark.oracle_types import type_kind_diff

        t0 = time.perf_counter()
        expected = self.oracle[name]
        try:
            if isinstance(expected, Exception):
                raise expected
            dcols, drows, dschema = expected
            srows = [tuple(r) for r in df.collect()]
            ok = (
                sorted(df.columns) == sorted(dcols)
                and len(srows) == len(drows)
                and not type_kind_diff(df.dtypes, dschema)
                and canon(srows, df.columns) == canon(drows, dcols)
            )
            if not ok:
                self.failed.append(f"{name}: rows differ from the DuckDB oracle")
        except Exception as exc:  # an erroring check is a failed query, not a failed run
            self.failed.append(f"{name}: check {type(exc).__name__}: {str(exc)[:200]}")
            ok = False
        self.check_s += time.perf_counter() - t0
        if pass_span is not None:
            self.tracer.add("check", t0, time.perf_counter(), pass_span)
        return ok

    # -- passes --------------------------------------------------------
    def run_pass(self, kind: str, traced: bool, check: bool = False) -> tuple[float, list[dict]]:
        """One pass over the workload; returns (wall seconds excluding checks, results)."""
        self.check_s = 0.0
        span = self.tracer.open(kind) if self.traced_run else None
        t0 = time.perf_counter()
        results = []
        for name in self.queries:
            res = self.run_query(name, span, traced, check)
            if res is not None:
                results.append(res)
        wall = time.perf_counter() - t0 - self.check_s
        if span is not None:
            self.tracer.close(span)
            self.tracer.spans[span]["traced"] = traced
        return wall, results

    def resident_mb(self, field: str) -> float:
        return memory_mb(os.getpid(), field) + memory_mb(self.jvm_proc.pid, field)

    def resident_after_gc_mb(self) -> float:
        """Resident memory of the Python driver and the JVM after full JVM GCs.

        The first GC leaves objects that wait for finalization; the second
        frees them. G1 returns freed heap to the OS shortly after each GC.
        """
        for _ in range(2):
            self.spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
        return self.resident_mb("VmRSS")

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for it to end."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        if self.jvm_proc is not None:
            self.jvm_proc.stdin.close()
            try:
                self.jvm_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.jvm_proc.kill()
                self.jvm_proc.wait()
        self.spark = None


def layer_metrics(traced_passes: list[list[dict]]) -> dict[str, float]:
    """Per-layer sums per traced warm pass, medians over the passes."""
    per_pass = []
    for results in traced_passes:
        sums = {f"{layer}.{m}": 0.0 for layer in LAYERS for m in LAYER_METRICS}
        for res in results:
            for m in LAYER_METRICS:
                sums[f"{res['layer']}.{m}"] += res[m]
        per_pass.append(sums)
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def parse_args(argv: list[str] | None, workload_names: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workload_names)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="warm work, as seconds at the nominal pass time")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default=None, help="scale factor of the base tables (default: workloads.json)")
    args = p.parse_args(argv)
    if args.seed < 0 or args.seconds <= 0:
        p.error("--seed must be >= 0 and --seconds > 0")
    return args


def main(argv: list[str] | None = None) -> int:
    # On SIGTERM, unwind through the cleanup below: stop the JVM, remove the run's files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spec = load_workloads()
    args = parse_args(argv, sorted(spec["workloads"]))
    if not os.path.isdir(os.path.join(ROOT, "wheels_in_motion_analytics_spark")):
        sys.exit(f"perfbench: no engine package next to {HERE}; run from a checkout of the repository")
    sf = args.sf or spec["scale_factor"]
    queries = spec["workloads"][args.workload]
    run_dir = os.path.join(WORK, f"run-{args.workload}-seed{args.seed}-{os.getpid()}")
    tmp, spark_tmp = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark")
    os.makedirs(tmp)
    os.makedirs(spark_tmp)
    # Temp files land in this run's own directory, so the run can measure and
    # remove them: the engine's (Python tempfile) in tmp, and Spark's block
    # manager and the JVM's, which Spark removes when the session stops, in
    # spark_tmp.
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=spark_tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={spark_tmp} pyspark-shell",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
    )
    tempfile.tempdir = tmp
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    t_begin = time.perf_counter()
    sf_dir = gen.generate(sf, args.seed, os.path.join(run_dir, "data"))
    derived = os.path.join(ROOT, ".derived", os.path.basename(sf_dir))
    derived_existed = os.path.exists(derived)
    warehouse = os.path.join(ROOT, "spark-warehouse")
    warehouse_before = set(os.listdir(warehouse)) if os.path.isdir(warehouse) else set()

    def warehouse_growth() -> int:
        new = set(os.listdir(warehouse)) - warehouse_before if os.path.isdir(warehouse) else set()
        return sum(tree_bytes(os.path.join(warehouse, e)) for e in new)

    bench = Bench(queries, spec["layer_of"], sf_dir, bool(args.trace))
    try:
        t_gen = time.perf_counter()
        start_s, warmup_s = bench.setup()
        t_setup = time.perf_counter()
        bench.compute_oracles()
        t_oracle = time.perf_counter()
        cold_s, _ = bench.run_pass("cold", traced=False, check=True)
        check_s = bench.check_s
        # One scheduled batch's disk footprint: its input tables plus what the
        # cold pass left in the engine's temp dir and spark-warehouse/.
        inputs_b, cold_left_b = tree_bytes(sf_dir), tree_bytes(tmp) + warehouse_growth()

        t_cold = time.perf_counter()
        cpu0 = cpu_seconds(process_tree(os.getpid()))
        walls: dict[bool, list[float]] = {False: [], True: []}
        samples: list[float] = []
        traced_results: list[list[dict]] = []
        for i in range(warm_passes(args.seconds, spec["nominal_pass_s"][args.workload], len(queries))):
            traced = bool(args.trace) and i % 2 == 1
            wall, results = bench.run_pass("pass", traced)
            walls[traced].append(wall)
            if traced:
                traced_results.append(results)
            else:
                samples.extend(r["wall"] for r in results)
        cpu_window = cpu_seconds(process_tree(os.getpid())) - cpu0
        t_warm = time.perf_counter()
        # Peak RSS mostly tracks how far the JVM grew its heap, which moves
        # with GC timing; resident memory after a full GC is what the session
        # holds, and is reported as the metric.
        rss_peak = bench.resident_mb("VmHWM")
        rss_after_gc = bench.resident_after_gc_mb()
        bench.stop()
        leaked = tree_bytes(tmp) + warehouse_growth()
    finally:
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        if not derived_existed:
            shutil.rmtree(derived, ignore_errors=True)
        if os.path.isdir(warehouse):
            for entry in set(os.listdir(warehouse)) - warehouse_before:
                shutil.rmtree(os.path.join(warehouse, entry), ignore_errors=True)

    t_end = time.perf_counter()
    failed = len(bench.failed)
    lines = [f"workload {args.workload} seed {args.seed} sf{sf} local[{os.environ['SPARK_GRAFT_CPUS']}] "
             f"{spec['load']}; queries: {', '.join(queries)}"]
    lines += [f"failed query: {f}" for f in bench.failed]
    lines.append(f"run phases: inputs {t_gen - t_begin:.2f} s, set-up {t_setup - t_gen:.2f} s, "
                 f"oracles {t_oracle - t_setup:.2f} s, cold pass {cold_s:.2f} s + checks {check_s:.2f} s, "
                 f"{len(walls[False]) + len(walls[True])} warm passes {t_warm - t_cold:.2f} s, "
                 f"measure and clean up {t_end - t_warm:.2f} s")
    lines.append(f"failed_frac {failed / bench.attempted:.6f} ratio ({failed} failed / {bench.attempted} attempted)")
    if args.trace:
        metrics = layer_metrics(traced_results)
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warmup_s
        metrics["trace_overhead"] = statistics.median(walls[True]) / statistics.median(walls[False]) - 1
        units = per_layer_units()
        trace_path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        bench.tracer.write(trace_path)
        lines.append(f"spans written to {os.path.relpath(trace_path, ROOT)}")
        lines += [f"span self time {name} {t:.4f} s" for name, t in sorted(bench.tracer.self_time_by_name().items())]
        lines.append(f"trace_overhead {metrics['trace_overhead']:.4f} ratio "
                     f"(traced pass median {statistics.median(walls[True]):.4f} s over {len(walls[True])}, "
                     f"untraced {statistics.median(walls[False]):.4f} s over {len(walls[False])})")
    else:
        tail_s, pct = tail(samples)
        n_warm = len(walls[False])
        metrics = {
            "setup_s": start_s + warmup_s,
            "cold_pass_s": cold_s,
            "warm_pass_s": statistics.median(walls[False]),
            "query_p50_s": statistics.median(samples),
            "query_tail_s": tail_s,
            "cpu_s": cpu_window / n_warm,
            "rss_after_gc_mb": rss_after_gc,
            "disk_left_mb": (inputs_b + cold_left_b) / MB,
            "correct_frac": 1 - failed / bench.attempted,
        }
        units = END_TO_END_UNITS
        lines.append(f"disk_left_mb = inputs {inputs_b / MB:.4f} MB + left by the cold pass {cold_left_b / MB:.4f} MB; "
                     f"left by the whole run after the session stopped: {leaked / MB:.4f} MB (removed)")
        lines.append(f"peak resident memory (JVM + Python driver, VmHWM): {rss_peak:.1f} MB")
        lines.append("warm pass walls: " + " ".join(f"{w:.3f}" for w in walls[False]) + " s")
        lines.append(f"query_tail_s is p{pct:.1f} of {len(samples)} warm query samples ({TAIL_BEYOND} beyond it); "
                     f"{n_warm} warm passes")
    lines += [f"{name} {value:.6g} {units[name]}" for name, value in metrics.items()]
    print("\n".join(lines))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
