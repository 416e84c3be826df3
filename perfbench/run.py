"""Engine benchmark: one client, closed loop, one op mix per workload.

Run from the repository root:

    python3 perfbench/run.py --workload sc_preprocess --seed 1 --seconds 5 --trace 0

A run sizes a Spark session to the host, generates its inputs from
``--seed`` (see ``gen.py``), times a cold pass over the workload's op mix
in the fresh JVM and checks every op's output on it (outside the op
spans), then times warm passes until ``--seconds`` have elapsed and at
least ``MIN_PASSES`` ran; timings are medians over those passes.  Between
ops, outside the timed spans, it drops the op's results, clears Spark's
cache and runs Python and JVM garbage collection.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log, gives each op its own job group, reads each op's Catalyst
phase times, and prints the per-layer metrics; the spans and the event-log
join are written to ``.perfbench_out/``.  Every run ends with one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``.  Exit code 1
means an op failed or its output was wrong; 2 means the engine is missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "single_cell_experiments_spark"
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import ops  # noqa: E402
from spans import GROUP_FIELDS, Tracer, event_log_by_group  # noqa: E402

MIN_PASSES = 2  # timed warm passes, at least, whatever --seconds says


def host_sizing() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return {
        "cpus": cpus,
        "mem_mb": mem_mb,
        "driver_mem_mb": max(1024, min(4096, mem_mb // 4)),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }


def prepare_env(work: str) -> None:
    """Point every scratch path of Python, Spark and its workers into ``work``
    and let Python workers import the engine from the repository root."""
    import tempfile

    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata files outside ``work``
    tempfile.tempdir = None


def setup_session(work: str, sizing: dict, traced: bool):
    """Imports, ``get_spark`` and the first empty job: the timed set-up."""
    t0 = time.perf_counter()
    from single_cell_experiments_spark import registry  # noqa: F401
    from single_cell_experiments_spark.session import get_spark

    java_opts = [
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        # A fixed heap: the reset's System.gc() between ops otherwise shrinks
        # the heap, and the next op pays for growing it again, by a varying
        # amount (the same op repeated in one JVM: 6.2-8.1 s vs 5.8-6.1 s).
        f"-Xms{sizing['driver_mem_mb']}m",
    ]
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join(java_opts),
    }
    if traced:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        cpus=sizing["cpus"],
        driver_memory=f"{sizing['driver_mem_mb']}m",
        extra_confs=confs,
    )
    empty_job(spark)
    return spark, time.perf_counter() - t0


def empty_job(spark) -> None:
    """One single-task job that runs no Python worker: the dispatch floor."""
    one = spark._jvm.java.util.ArrayList()
    one.add(0)
    spark.sparkContext._jsc.parallelize(one, 1).count()


def teardown(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def gmean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Bench:
    """One workload's passes on one session, recorded as spans."""

    def __init__(self, spark, runner, ops: list, tracer, traced: bool):
        self.spark = spark
        self.traced = traced
        self.jvm_pid = spark._jvm.ProcessHandle.current().pid()
        self.runner = runner
        self.ops = ops
        self.tracer = tracer
        self.attempted = 0
        self.failed: list[str] = []
        self.footprint: dict[str, tuple[int, int]] = {}  # store format -> (bytes, files)

    def run_pass(self, kind: str, check: bool = False) -> dict:
        with self.tracer.span("floor") as floor:
            empty_job(self.spark)
        for pid in ("self", self.jvm_pid):
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")  # restart VmHWM, so the peak is this pass's
        with self.tracer.span("pass", kind=kind, floor_s=self.tracer.dur(floor)) as p:
            for op in self.ops:
                self.run_op(op, check)
                with self.tracer.span("reset"):
                    self.reset()
        p["attrs"]["rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(self.jvm_pid)
        return p

    def run_op(self, op, check: bool) -> None:
        sc = self.spark.sparkContext
        df = pdf = None
        self.attempted += 1
        with self.tracer.span("op", op=op.name, kind=op.kind) as span:
            if self.traced:
                # the description tells build jobs (launched while the plan is
                # built: eager checkpoints, probes) from write and action jobs
                sc.setJobGroup(f"op{span['id']}", "write" if op.kind == "write" else "build")
            try:
                if op.kind == "write":
                    with self.tracer.span("write"):
                        self.runner.write(op)
                else:
                    with self.tracer.span("build"):
                        df = self.runner.build(op)
                    if self.traced:
                        sc.setJobDescription("action")
                    with self.tracer.span("action"):
                        pdf = df.toPandas()
                span["attrs"]["ok"] = True
            except Exception as ex:  # a failing op is counted and reported; the run goes on
                span["attrs"]["ok"] = False
                self.failed.append(f"{op.name}: {type(ex).__name__}: {ex}")
            finally:
                if self.traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
        if self.traced and df is not None:
            span["attrs"]["catalyst_ms"] = catalyst_phases(df)
        if check and span["attrs"]["ok"]:
            with self.tracer.span("check"):
                problem = self.runner.check(op, pdf)
                if op.kind == "write":
                    self.footprint[op.fmt] = ops.store_footprint(self.runner.store(op.fmt))
            if problem:
                span["attrs"]["ok"] = False
                self.failed.append(problem)

    def reset(self) -> None:
        """The sweep reset of ``tools/driver_mimic.py``: cache, plan cache, both GCs."""
        from single_cell_experiments_spark import registry

        self.spark.catalog.clearCache()
        registry._plan_cache.pop(self.spark, None)
        gc.collect()
        self.spark._jvm.System.gc()


def catalyst_phases(df) -> dict[str, float]:
    """Catalyst phase times the DataFrame's own query execution recorded."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def pass_seconds(tracer, p: dict) -> float:
    """A pass's wall time, less the resets and checks between its ops."""
    side = sum(tracer.dur(s) for s in tracer.children(p) if s["name"] in ("reset", "check"))
    return tracer.dur(p) - side


def op_latencies(tracer, passes: list[dict]) -> dict[str, list[float]]:
    lat: dict[str, list[float]] = {}
    for p in passes:
        for s in tracer.children(p, "op"):
            lat.setdefault(s["attrs"]["op"], []).append(tracer.dur(s))
    return lat


def end_to_end(bench: Bench, cold: dict, timed: list[dict], setup_s: float) -> dict:
    """name -> (value, unit, samples) for every end-to-end metric."""
    tr = bench.tracer
    med = {name: statistics.median(v) for name, v in op_latencies(tr, timed).items()}
    kinds = {op.name: op.kind for op in bench.ops}
    writes = [v for k, v in med.items() if kinds[k] == "write"]
    reads = [v for k, v in med.items() if kinds[k] == "read"]
    input_bytes = bench.runner.matrix.nbytes
    return {
        "setup_s": (setup_s, "s", 1),
        "cold_pass_s": (pass_seconds(tr, cold), "s", 1),
        "pass_s": (statistics.median(pass_seconds(tr, p) for p in timed), "s", len(timed)),
        "op_gmean_ms": (1000 * gmean(med.values()), "ms", len(med)),
        "write_ms": (1000 * gmean(writes), "ms", len(writes)),
        "read_ms": (1000 * gmean(reads), "ms", len(reads)),
        "stored_bytes_per_input_byte": (
            gmean(b / input_bytes for b, _ in bench.footprint.values()), "ratio", len(bench.footprint)
        ),
        "peak_rss_mb": (statistics.median(p["attrs"]["rss_mb"] for p in timed), "MB", len(timed)),
        "ok_op_frac": ((bench.attempted - len(bench.failed)) / bench.attempted, "ratio", bench.attempted),
    }


def per_layer(bench: Bench, timed: list[dict], groups: dict) -> dict:
    """name -> (value, unit, samples) for every per-layer metric: per-pass
    totals over the timed passes (median), joined to the event log by job
    group."""
    tr = bench.tracer
    none = dict.fromkeys(GROUP_FIELDS, 0.0)

    def per_pass(fn, unit: str) -> tuple:
        return statistics.median(fn(p) for p in timed), unit, len(timed)

    def group_sum(key: str):
        return lambda p: sum(groups.get(f"op{s['id']}", none)[key] for s in tr.children(p, "op"))

    def phase_ms(name: str):
        return lambda p: 1000 * sum(tr.dur(c) for s in tr.children(p, "op") for c in tr.children(s, name))

    def catalyst_ms(phase: str):
        return lambda p: sum(s["attrs"].get("catalyst_ms", {}).get(phase, 0.0) for s in tr.children(p, "op"))

    def reset_ms(p) -> float:
        return 1000 * sum(tr.dur(s) for s in tr.children(p, "reset"))

    def span_cover(p) -> float:
        return sum(tr.dur(s) for s in tr.children(p) if s["name"] in ("op", "reset", "check")) / tr.dur(p)

    return {
        "registry.build_ms": per_pass(phase_ms("build"), "ms"),
        "catalyst.analysis_ms": per_pass(catalyst_ms("analysis"), "ms"),
        "catalyst.optimization_ms": per_pass(catalyst_ms("optimization"), "ms"),
        "catalyst.planning_ms": per_pass(catalyst_ms("planning"), "ms"),
        "spark.jobs": per_pass(group_sum("jobs"), "count"),
        "spark.build_jobs": per_pass(group_sum("build_jobs"), "count"),
        "spark.stages": per_pass(group_sum("stages"), "count"),
        "spark.tasks": per_pass(group_sum("tasks"), "count"),
        "session.dispatch_floor_ms": (1000 * statistics.median(p["attrs"]["floor_s"] for p in timed), "ms", len(timed)),
        "session.reset_ms": per_pass(reset_ms, "ms"),
        "shuffle.write_mb": per_pass(group_sum("shuffle_write_mb"), "MB"),
        "shuffle.read_mb": per_pass(group_sum("shuffle_read_mb"), "MB"),
        "spill.mb": per_pass(group_sum("spill_mb"), "MB"),
        "executor.run_s": per_pass(group_sum("run_s"), "s"),
        "executor.cpu_s": per_pass(group_sum("cpu_s"), "s"),
        "executor.gc_s": per_pass(group_sum("gc_s"), "s"),
        "store.mb": (sum(b for b, _ in bench.footprint.values()) / 2**20, "MB", len(bench.footprint)),
        "store.files": (sum(n for _, n in bench.footprint.values()), "count", len(bench.footprint)),
        "trace.pass_s": per_pass(lambda p: pass_seconds(tr, p), "s"),
        "trace.span_cover": per_pass(span_cover, "ratio"),
    }


def report_ops(bench: Bench, cold: dict, timed: list[dict], groups: dict | None) -> None:
    """Per-op and per-store-format lines: ``op.<name>.ms`` (and its cold
    time), ``op.<name>.jobs`` and ``store.<fmt>.{write_ms,read_ms,mb,files}``."""
    tr = bench.tracer
    lat = op_latencies(tr, timed)
    cold_lat = op_latencies(tr, [cold])
    for op in bench.ops:
        line = (f"op.{op.name}.ms {1000 * statistics.median(lat[op.name]):.1f} ms n={len(lat[op.name])}"
                f"  cold {1000 * cold_lat[op.name][0]:.1f} ms")
        if groups is not None:
            jobs = {groups.get(f"op{s['id']}", {}).get("jobs", 0) for p in timed
                    for s in tr.children(p, "op") if s["attrs"]["op"] == op.name}
            line += f"  op.{op.name}.jobs {'/'.join(str(int(j)) for j in sorted(jobs))} count"
        print("#", line)
    for fmt, (n_bytes, n_files) in bench.footprint.items():
        w, r = lat[f"write_{fmt}"], lat[f"read_{fmt}"]
        print(f"# store.{fmt}.write_ms {1000 * statistics.median(w):.1f}  store.{fmt}.read_ms"
              f" {1000 * statistics.median(r):.1f}  store.{fmt}.mb {n_bytes / 2**20:.4f}  store.{fmt}.files {n_files}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="sf0.01", choices=sorted(gen.SIZES), help="input size preset")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: engine package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in ops.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    sizing = host_sizing()
    t_run = time.perf_counter()
    try:
        prepare_env(work)
        spark, setup_s = setup_session(work, sizing, traced)
        tracer = Tracer()
        try:
            inputs, matrices = gen.generate(os.path.join(work, "in"), args.seed, args.size)
            runner = ops.OpRunner(spark, args.workload, os.path.join(work, "in"), os.path.join(work, "stores"), matrices)
            bench = Bench(spark, runner, ops.op_mix(args.workload), tracer, traced)
            with tracer.span("run", run_id=run_id), tracer.span("workload", workload=args.workload):
                cold = bench.run_pass("cold", check=True)
                timed: list[dict] = []
                t_end = time.perf_counter() + args.seconds
                while len(timed) < MIN_PASSES or time.perf_counter() < t_end:
                    timed.append(bench.run_pass("timed"))
            runner.close()
        finally:
            teardown(spark)
        groups = None
        if traced:
            groups = event_log_by_group(os.path.join(work, "events"))
            for s in tracer.spans:
                if s["name"] == "op":
                    s["attrs"].update(groups.get(f"op{s['id']}", {}))
            metrics = per_layer(bench, timed, groups)
            tracer.dump(
                os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-s{args.seed}.json"),
                {"host": sizing, "inputs": inputs, "metrics": metrics},
            )
        else:
            metrics = end_to_end(bench, cold, timed, setup_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"# host cpus={sizing['cpus']} mem_mb={sizing['mem_mb']} driver_mem_mb={sizing['driver_mem_mb']}"
          f" loadavg_start={sizing['loadavg']} loadavg_end={[round(x, 2) for x in os.getloadavg()]}")
    print("# inputs", json.dumps(inputs))
    checks = sum(tracer.dur(s) for s in tracer.spans if s["name"] == "check")
    print(f"# passes cold=1 timed={len(timed)} setup_s={setup_s:.3f}"
          f" check_s={checks:.1f} run_s={time.perf_counter() - t_run:.1f}"
          f" timed_s={[round(pass_seconds(tracer, p), 3) for p in timed]}")
    report_ops(bench, cold, timed, groups)
    for name, (value, unit, n) in metrics.items():
        print(f"# {name} {value:.6g} {unit} n={n}")
    for problem in bench.failed:
        print("# FAILED", problem)
    correct = not bench.failed
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": len(bench.failed),
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit, _) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
