#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload curation_funnel --seed 1 --seconds 10 --trace 0

A run starts Spark (``local[nproc]``, shuffle partitions = nproc) the way a
curation job does, generates the workload's input from the seed, runs one
untimed warm-up pass, then timed passes until ``--seconds`` have elapsed
(at least three). A pass runs every query of the workload in a fixed order:
the registered builder ``QUERIES[q].fn(spark, input_dir)``, then the full
result written by ``DataFrame.write`` as parquet. Barriers are cleared once
at pass start, so the queries of a pass share materializations as one job
would. After the passes, outside every timer, each written result is checked
against the query's DuckDB oracle on the same input.

``--trace 1`` runs an untraced, a traced and another untraced pass and
reports the per-layer ledger of the traced one (see README.md) instead of
the end-to-end metrics; tracing overhead is the traced pass time minus the
mean of its two untraced neighbours.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import glob
import hashlib
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import procstat
from tracing import PlanListener, SparkProbe, Tracer, install_wrappers
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "datapipeline_ops_spark"
STATE = os.path.join(ROOT, ".bench_state")
SETUP_SAMPLES = 3
WARMUP_PASSES = 1
MIN_PASSES = 3
JOB_PROBES = 15
DRIVER_MEMORY = "3g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Pipeline benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_pass(queries, build, sink, out_dir):
    """Build and sink every query in order; a query that raises is recorded
    and the pass goes on. Returns ({query: (path, columns)}, {query: error},
    {query: seconds})."""
    written, errors, walls = {}, {}, {}
    for q in queries:
        path = os.path.join(out_dir, q)
        t0 = time.perf_counter()
        try:
            df = build(q)
            sink(q, df, path)
            written[q] = (path, list(df.columns))
        except Exception as e:  # noqa: BLE001 - a failing query is counted, not fatal
            first = (str(e).strip().splitlines() or [""])[0]
            errors[q] = f"{type(e).__name__}: {first[:300]}"
        walls[q] = time.perf_counter() - t0
    return written, errors, walls


def first_errors(passes: list[dict]) -> dict[str, str]:
    """Each query's first error over all passes, warm-up passes included,
    so a query that raised in any pass counts as failed."""
    errors: dict[str, str] = {}
    for i, p in enumerate(passes, 1):
        for q, e in p["errors"].items():
            errors.setdefault(q, f"{e} (pass {i} of {len(passes)})")
    return errors


# ---------------------------------------------------------------- Spark side


def _spark_env(cpus: int) -> dict:
    """Environment and confs that keep every file a run writes inside the
    checkout and let Python workers import the package."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(STATE, d), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(STATE, 'tmp')}"
    )
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return {
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def _purge_package() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    gc.collect()


def start(cpus: int, conf: dict, tracer, trace: bool):
    """Import the package, build the session, import the query registry and
    run one trivial job. Returns (spark, {phase: seconds})."""
    t0 = time.perf_counter()
    with tracer.span("setup", "bench"):
        with tracer.span("import_package", "session"):
            if trace:
                install_wrappers(tracer)
            session = importlib.import_module(f"{PKG}.session")
        t1 = time.perf_counter()
        with tracer.span("get_spark", "session"):
            spark = session.get_spark(
                "perfbench", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf
            )
        t2 = time.perf_counter()
        with tracer.span("import_registry", "session"):
            importlib.import_module(f"{PKG}.queries")
        t3 = time.perf_counter()
        with tracer.span("first_job", "session"):
            spark.range(1).collect()
        t4 = time.perf_counter()
    return spark, {"import_s": (t1 - t0) + (t3 - t2), "start_s": t2 - t1, "first_job_s": t4 - t3}


def restart(spark, cpus: int, conf: dict, tracer, trace: bool):
    """One in-process set-up sample: stop the session, drop every package
    module, then set up again (same JVM)."""
    spark.stop()
    _purge_package()
    t0 = time.perf_counter()
    spark, _ = start(cpus, conf, tracer, trace)
    return spark, time.perf_counter() - t0


def shutdown(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def box_identity(spark, cpus: int) -> dict:
    sc = spark.sparkContext
    src = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            src.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read())
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        sha = "none"
    import pyspark

    return {
        "nproc": cpus,
        "master": sc.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "pyspark": pyspark.__version__,
        "java": sc._jvm.System.getProperty("java.version"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "git_sha": sha,
        "source_sha256": src.hexdigest()[:16],
    }


def job_fixed_ms(spark) -> float:
    """Median latency of a trivial 1-row job."""
    lat = []
    for _ in range(JOB_PROBES):
        t0 = time.perf_counter()
        spark.range(1).collect()
        lat.append((time.perf_counter() - t0) * 1000)
    return statistics.median(lat)


# ------------------------------------------------------------------- passes


class Runner:
    def __init__(self, spark, workload, input_dir: str, out_dir: str):
        self.spark = spark
        self.wl = workload
        self.input_dir = input_dir
        self.out_dir = out_dir
        # the modules imported by the last set-up sample
        self.registry = importlib.import_module(f"{PKG}.core.registry").QUERIES
        self.clear_barriers = importlib.import_module(f"{PKG}.operators.dedup").clear_barriers

    def build(self, q):
        return self.registry[q].fn(self.spark, self.input_dir)

    @staticmethod
    def sink(q, df, path):
        df.write.mode("overwrite").parquet(path)

    def untraced(self) -> dict:
        self.clear_barriers()
        gc.collect()
        procstat.reset_peak_rss()
        c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        written, errors, walls = run_pass(self.wl.queries, self.build, self.sink, self.out_dir)
        wall, cpu = time.perf_counter() - t0, procstat.tree_cpu_s() - c0
        return {"pass_s": wall, "cpu_s": cpu, "rss_mb": procstat.peak_rss_mb(),
                "written": written, "errors": errors, "walls": walls}

    def traced(self, tracer, probe, plans) -> dict:
        """One pass with spans, job groups and per-step Spark metrics. The
        metric reads run with the pass clock paused. Planning time is read
        from the executions Spark itself ran (``plans``), so the pass plans
        each query exactly as an untraced pass does."""
        sc = self.spark.sparkContext
        per_query: dict[str, dict] = {}
        state = {"cached_peak": 0, "py_cpu": procstat.py_worker_cpu_s()}
        py0 = state["py_cpu"]

        def after(q, phase):
            with tracer.paused():
                rec = per_query.setdefault(q, {})
                for k, v in probe.group(f"{q}:{phase}").items():
                    rec[f"{phase}.{k}"] = v
                rec[f"{phase}.plan_ms"] = plans.take_ms()
                state["cached_peak"] = max(state["cached_peak"], probe.cached_bytes())
                if phase == "sink":
                    py = procstat.py_worker_cpu_s()
                    rec["py_worker_cpu_s"] = py - state["py_cpu"]
                    state["py_cpu"] = py

        def build(q):
            sc.setJobGroup(f"{q}:build", q)
            with tracer.span("build", "queries", query=q) as sp:
                c0 = procstat.self_cpu_s()
                df = self.registry[q].fn(self.spark, self.input_dir)
                sp["driver_cpu_s"] = procstat.self_cpu_s() - c0
            after(q, "build")
            return df

        def sink(q, df, path):
            sc.setJobGroup(f"{q}:sink", q)
            with tracer.span("sink", "sources", query=q):
                self.sink(q, df, path)
            after(q, "sink")

        self.clear_barriers()
        gc.collect()
        probe.bus.waitUntilEmpty()  # drop planning of the passes before this one
        plans.take_ms()
        tracer.paused_s = 0.0
        tracer.counts.clear()
        tracer.on = True
        t0 = time.perf_counter()
        with tracer.span("pass", "bench", workload=self.wl.name) as root:
            written, errors, _ = run_pass(self.wl.queries, build, sink, self.out_dir)
        wall = time.perf_counter() - t0 - tracer.paused_s
        tracer.on = False
        sc.setJobGroup("perfbench", "idle")
        root["per_query"] = per_query
        return {"pass_s": wall, "root": root["id"], "per_query": per_query,
                "py_worker_cpu_s": procstat.py_worker_cpu_s() - py0,
                "cached_bytes_peak": state["cached_peak"], "written": written, "errors": errors}


def median_pass_s(passes: list[dict]) -> float:
    """Pass time with each query at its median over the timed passes, so a
    stall that hits one query in one pass does not count."""
    return sum(statistics.median(p["walls"][q] for p in passes) for q in passes[0]["walls"])


def ledger(tracer, traced: dict, untraced_pass_s: float, cold: dict, warmup_s: float,
           job_ms: float) -> dict:
    """Per-layer metrics of the traced pass (names as in BENCHMARK.json)."""
    root = traced["root"]
    spans = [s for s in tracer.spans if s.get("query") and s["name"] == "build"]
    build_s = sum(s["end"] - s["start"] for s in spans)
    load_s, load_n = tracer.total(root, "load_table")
    cc_s, cc_n = tracer.total(root, "connected_components")
    selfs = tracer.self_times(root)

    def tot(key):
        return sum(r.get(key, 0) for r in traced["per_query"].values())

    def all_phases(key):
        return sum(tot(f"{p}.{key}") for p in ("build", "sink"))

    calls = tracer.counts["barrier_calls"]
    m = {
        "session.cold_setup_s": (cold["cold_setup_s"], "s"),
        "session.start_s": (cold["start_s"], "s"),
        "session.import_s": (cold["import_s"], "s"),
        "session.first_job_s": (cold["first_job_s"], "s"),
        "session.warmup_s": (warmup_s, "s"),
        "queries.build_s": (build_s, "s"),
        "queries.build_jobs": (tot("build.jobs"), "count"),
        "queries.build_share": (build_s / traced["pass_s"], "ratio"),
        "queries.driver_cpu_s": (sum(s.get("driver_cpu_s", 0.0) for s in spans), "s"),
        "queries.self_s": (selfs.get("queries", 0.0), "s"),
        "tables.load_s": (load_s, "s"),
        "tables.load_calls": (load_n, "count"),
        "tables.self_s": (selfs.get("tables", 0.0), "s"),
        "operators.barrier_calls": (calls, "count"),
        "operators.barrier_hit_ratio": (tracer.counts["barrier_hits"] / calls if calls else 0.0,
                                        "ratio"),
        "operators.cc_calls": (cc_n, "count"),
        "operators.cc_s": (cc_s, "s"),
        "operators.cached_bytes_peak": (traced["cached_bytes_peak"], "bytes"),
        "operators.self_s": (selfs.get("operators", 0.0), "s"),
        "spark.plan_s": (all_phases("plan_ms") / 1000, "s"),
        "spark.exec_s": (all_phases("job_wall_ms") / 1000, "s"),
        "spark.run_s": (all_phases("run_ms") / 1000, "s"),
        "spark.cpu_s": (all_phases("cpu_ns") / 1e9, "s"),
        "spark.gc_s": (all_phases("gc_ms") / 1000, "s"),
        "spark.jobs": (all_phases("jobs"), "count"),
        "spark.stages": (all_phases("stages"), "count"),
        "spark.tasks": (all_phases("tasks"), "count"),
        "spark.failed_tasks": (all_phases("failed_tasks"), "count"),
        "spark.shuffle_read_bytes": (all_phases("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (all_phases("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes": (all_phases("spill_bytes"), "bytes"),
        "spark.peak_exec_mem_bytes": (
            max((max(r.get(f"{p}.peak_exec_mem_bytes", 0) for p in ("build", "sink"))
                 for r in traced["per_query"].values()), default=0), "bytes"),
        "spark.result_bytes": (all_phases("result_bytes"), "bytes"),
        "spark.job_fixed_ms": (job_ms, "ms"),
        "functions.py_worker_cpu_s": (traced["py_worker_cpu_s"], "s"),
        "sources.rows_written": (tot("sink.output_records"), "count"),
        "sources.bytes_written": (tot("sink.output_bytes"), "bytes"),
        "sources.self_s": (selfs.get("sources", 0.0), "s"),
        "trace.pass_s": (traced["pass_s"], "s"),
        "trace.overhead_s": (traced["pass_s"] - untraced_pass_s, "s"),
        "trace.spans": (len(tracer.spans), "count"),
    }
    return {k: {"value": round(float(v), 6), "unit": u} for k, (v, u) in m.items()}


def print_ledger(workload: str, seed: int, metrics: dict, untraced_pass_s: float) -> None:
    v = {k: m["value"] for k, m in metrics.items()}
    print(f"ledger {workload} seed={seed}: traced pass {v['trace.pass_s']:.3f} s, "
          f"untraced {untraced_pass_s:.3f} s, tracing overhead {v['trace.overhead_s']:+.3f} s")
    print(f"  {'layer':<10} {'self_s':>8}  counts")
    counts = {
        "tables": f"load_calls={v['tables.load_calls']:.0f} load_s={v['tables.load_s']:.3f}",
        "queries": f"build_s={v['queries.build_s']:.3f} build_jobs={v['queries.build_jobs']:.0f} "
                   f"build_share={v['queries.build_share']:.3f}",
        "operators": f"barrier_calls={v['operators.barrier_calls']:.0f} "
                     f"hit_ratio={v['operators.barrier_hit_ratio']:.3f} "
                     f"cc_calls={v['operators.cc_calls']:.0f}",
        "sources": f"rows_written={v['sources.rows_written']:.0f} "
                   f"bytes_written={v['sources.bytes_written']:.0f}",
    }
    for layer, text in counts.items():
        print(f"  {layer:<10} {v[layer + '.self_s']:>8.3f}  {text}")
    print(f"  {'spark':<10} {'-':>8}  jobs={v['spark.jobs']:.0f} stages={v['spark.stages']:.0f} "
          f"tasks={v['spark.tasks']:.0f} plan_s={v['spark.plan_s']:.3f} "
          f"run_s={v['spark.run_s']:.3f} cpu_s={v['spark.cpu_s']:.3f}")
    print(f"  {'functions':<10} {'-':>8}  py_worker_cpu_s={v['functions.py_worker_cpu_s']:.3f}")
    print(f"  {'session':<10} {'-':>8}  cold_setup_s={v['session.cold_setup_s']:.3f} "
          f"warmup_s={v['session.warmup_s']:.3f}")


# --------------------------------------------------------------------- main


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG!r} not found next to perfbench/", file=sys.stderr)
        return 2
    args = parse_args(argv)
    age0 = procstat.process_age_s()
    t_main = time.perf_counter()
    sys.path.insert(1, ROOT)
    from inputs import generate
    from oracle import OracleCache, check_pass, fail_ratio

    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    conf = _spark_env(cpus)
    tracer = Tracer()
    phases: dict[str, float] = {}
    t_phase = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - t_phase[0], 3)
        t_phase[0] = now

    # set-up: one cold start (spanned when tracing), then SETUP_SAMPLES
    # in-process restarts
    tracer.on = bool(args.trace)
    spark, cold = start(cpus, conf, tracer, bool(args.trace))
    tracer.on = False
    cold["cold_setup_s"] = age0 + (time.perf_counter() - t_main)
    phase("cold_setup")
    samples = []
    for _ in range(SETUP_SAMPLES):
        spark, s = restart(spark, cpus, conf, tracer, bool(args.trace))
        samples.append(s)
    spark.sparkContext.setLogLevel("ERROR")
    phase("setup_samples")

    try:
        work = os.path.join(STATE, "work", wl.name)
        shutil.rmtree(work, ignore_errors=True)
        input_dir = os.path.join(work, "input")
        info = generate(input_dir, args.seed, wl.sizes)
        out_dir = os.path.join(work, "out")
        runner = Runner(spark, wl, input_dir, out_dir)
        phase("inputs")

        t_warm = time.perf_counter()
        warmups = [runner.untraced() for _ in range(WARMUP_PASSES)]
        warmup_s = time.perf_counter() - t_warm
        phase("warmup")
        traced = None
        if args.trace:
            # untraced, traced, untraced: the overhead is read against the
            # mean of the two neighbours, so warming across passes cancels
            passes = [runner.untraced()]
            with PlanListener(spark) as plans:
                traced = runner.traced(tracer, SparkProbe(spark), plans)
            passes.append(runner.untraced())
        else:
            passes = []
            t_measure = time.perf_counter()
            while len(passes) < MIN_PASSES or time.perf_counter() - t_measure < args.seconds:
                passes.append(runner.untraced())
        phase("passes")
        job_ms = job_fixed_ms(spark)
        box = box_identity(spark, cpus)
        phase("probe")

        every = warmups + (passes[:1] + [traced] + passes[1:] if traced else passes)
        registry = runner.registry
        outcomes = check_pass(
            list(wl.queries), every[-1]["written"], first_errors(every),
            {q: registry[q].oracle for q in wl.queries},
            OracleCache(os.path.join(STATE, "oracle"), wl.name, args.seed, info["sha256"]),
            input_dir,
        )
        phase("check")
    finally:
        shutdown(spark)
    phase("shutdown")

    failed = [o for o in outcomes if o.failed]
    for o in failed:
        print(f"FAIL {o.query}: {'; '.join(o.problems)}")
    untraced_pass_s = median_pass_s(passes)
    box["job_fixed_ms"] = round(job_ms, 3)
    print("box " + json.dumps(box, sort_keys=True))
    print(f"input {wl.name} seed={args.seed}: {info['rows']} rows, {info['bytes']} bytes; "
          f"{len(wl.queries)} queries x {len(passes)} timed pass(es), "
          f"warm-up {warmup_s:.3f} s")
    print("phases_s " + json.dumps(phases))
    print("query_s " + json.dumps({q: [round(p["walls"][q], 3) for p in passes]
                                   for q in wl.queries}))

    if args.trace:
        untraced_pass_s = statistics.mean(p["pass_s"] for p in passes)
        metrics = ledger(tracer, traced, untraced_pass_s, cold, warmup_s, job_ms)
        spans_path = os.path.join(work, f"spans-seed{args.seed}.json")
        tracer.dump(spans_path)
        print_ledger(wl.name, args.seed, metrics, untraced_pass_s)
        print(f"spans: {os.path.relpath(spans_path, ROOT)} ({len(tracer.spans)} spans)")
    else:
        metrics = {
            "setup_s": {"value": statistics.median(samples), "unit": "s"},
            "pass_s": {"value": untraced_pass_s, "unit": "s"},
            "cpu_s": {"value": statistics.median(p["cpu_s"] for p in passes), "unit": "s"},
            "driver_rss_mb": {"value": statistics.median(p["rss_mb"] for p in passes),
                              "unit": "MB"},
        }
        for k, m in metrics.items():
            print(f"{k} {m['value']:.4f} {m['unit']}")
    print(f"fail_ratio {fail_ratio(outcomes):.4f} ratio ({len(failed)}/{len(outcomes)})")
    print(json.dumps({"correct": not failed, "attempted": len(outcomes),
                      "failed": len(failed), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
