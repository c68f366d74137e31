"""Engine benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload long_history --seed 1 --seconds 8 --trace 0

Builds a local[k] session through ``get_spark`` (k = min(4, cores)), puts
the store, ``SPARK_LOCAL_DIRS`` and every scratch file in a fresh
directory under ``.perfbench_run/`` (deleted at exit), sets up the
workload once, warms it, measures it for ``--seconds``, checks
every answer, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the timed phase runs
twice, untraced then traced, and the metrics are the per-layer ones.
Spans of a traced run are written to ``.perfbench_out/``.  The lines
before the last carry the run's configuration and the workload's timings,
which are not gated.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "2g"

# only figures that repeat from run to run: on a 4-vCPU VM whose host
# stole a varying share of the CPU, every timing moved 0.15-0.36 (quartile
# distance over median, 10 runs), in wall and in CPU time alike, so the
# timings are per-layer metrics; set-up is counted in CPU seconds
# (perfbench.proc)
END_TO_END = {
    "setup_s": "s",
    "store_bytes_per_event": "B",
    "ci_coverage": "ratio",
}

# per-layer metric -> (call kind, counter, unit); averaged per call
PER_CALL = {
    "flush.jobs_per_call": ("flush", "jobs", "count"),
    "flush.tasks_per_call": ("flush", "tasks", "count"),
    "flush.exec_cpu_s_per_call": ("flush", "exec_cpu_s", "s"),
    "flush.rows_read_per_call": ("flush", "rows_read", "count"),
    "flush.bytes_written_per_call": ("flush", "bytes_written", "B"),
    "flush.driver_ms_per_call": ("flush", "driver_ms", "ms"),
    "query.jobs_per_call": ("query", "jobs", "count"),
    "query.job_ms_per_call": ("query", "job_ms", "ms"),
    "query.driver_ms_per_call": ("query", "driver_ms", "ms"),
    "query.rows_read_per_call": ("query", "rows_read", "count"),
    "query_many.jobs_per_call": ("query_many", "jobs", "count"),
    "query_many.tasks_per_call": ("query_many", "tasks", "count"),
    "query_many.shuffle_bytes_per_call": ("query_many", "shuffle_bytes", "B"),
    "query_many.plan_ms_per_call": ("query_many", "plan_ms", "ms"),
    "query_many.files_listed_per_call": ("query_many", "files_listed", "count"),
    "query_many_sketch.jobs_per_call": ("sketch", "jobs", "count"),
    "query_many_sketch.tasks_per_call": ("sketch", "tasks", "count"),
    "query_many_sketch.exec_cpu_s_per_call": ("sketch", "exec_cpu_s", "s"),
    "dsum.jobs_per_call": ("dsum", "jobs", "count"),
    "dsum.plan_ms_per_call": ("dsum", "plan_ms", "ms"),
    "fold.jobs_per_batch": ("fold", "jobs", "count"),
    "fold.exec_cpu_s_per_batch": ("fold", "exec_cpu_s", "s"),
    "fold.driver_ms_per_batch": ("fold", "driver_ms", "ms"),
    "snapshot_query.jobs_per_call": ("snapshot_query", "jobs", "count"),
    "register.jobs_per_query": ("register", "jobs", "count"),
    "register.exec_cpu_s_per_query": ("register", "exec_cpu_s", "s"),
    "register.driver_ms_per_query": ("register", "driver_ms", "ms"),
}
# per-layer metrics a workload or probe computes itself (0 where none)
COMPUTED = {
    "flush.cpu_ms_per_call": "ms",
    "flush.wall_p50_ms": "ms",
    "query.cpu_ms_per_call": "ms",
    "query.wall_p50_ms": "ms",
    "query.wall_p95_ms": "ms",
    "append_pairs.rows_per_cpu_s": "1/s",
    "append_pairs.rows_per_s": "1/s",
    "query_many.ranges_per_cpu_s": "1/s",
    "query_many.ranges_per_s": "1/s",
    "dsum.cpu_ms_per_call": "ms",
    "dsum.wall_p50_ms": "ms",
    "append_pairs.us_per_row": "us",
    "append_pairs.spills": "count",
    "append_pairs.spill_s": "s",
    "summary.rebuild_s_per_mevent": "s",
    "sketch.build_s_per_mevent": "s",
    "estimator.us_per_query": "us",
    "query_many_sketch.requests_per_s": "1/s",
    "sql_surface.register_s": "s",
    "fold.rows_per_s": "1/s",
    "fold.p50_ms": "ms",
    "fold.state_rows": "count",
    "fold.state_bytes": "B",
    "fold.state_bytes_per_event": "B",
    "register.queries_per_s": "1/s",
    "register.query_p50_ms": "ms",
    "register.engine_sql_p50_ms": "ms",
    "store.files": "count",
    "store.raw_bytes": "B",
    "store.summary_bytes": "B",
    "store.sketch_bytes": "B",
    "session.start_s": "s",
    # driver + JVM; per layer, as its run-to-run spread (0.18-0.20 over 8
    # runs) does not fit an end-to-end bound
    "session.peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.heap_used_mb": "MB",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
}
PER_LAYER = {**{k: u for k, (_, _, u) in PER_CALL.items()}, **COMPUTED}


class Context:
    def __init__(self, spark, args, rundir, tracer, ledger) -> None:
        self.spark = spark
        self.seed = args.seed
        self.tiny = args.tiny
        self.fixed_units = args.fixed_units
        self.rundir = rundir
        self.tracer = tracer
        self.ledger = ledger

    def collect(self, df) -> list:
        """Collect a DataFrame.  Traced, the physical plan is forced
        first, so the span records plan time (from its start) and the
        files the scan lists apart from execution."""
        rec = self.tracer.current()
        if rec is not None:
            df._jdf.queryExecution().executedPlan()
            t = time.perf_counter()
            rec["plan_ms"] = 1e3 * (t - rec["start"])
            rec["files_listed"] = len(df.inputFiles())
            rec["tracer_ms"] = rec.get("tracer_ms", 0.0) + 1e3 * (time.perf_counter() - t)
        return df.collect()


def _per_layer(tracer, wl, extras: dict) -> dict:
    """Every per-layer metric: per-call averages over the timed spans,
    then the values the workload, its probe and the session computed."""
    timed = [s for s in tracer.spans if s["phase"] == "timed"]

    def kind_of(s):
        if s["name"] == "plans.register":
            return "register"
        if s.get("sql_fn") == "dsum":
            return "dsum"
        return s["kind"]

    out = dict.fromkeys(PER_LAYER, 0.0)
    for metric, (kind, counter, _unit) in PER_CALL.items():
        vals = []
        for s in (s for s in timed if kind_of(s) == kind):
            if counter == "driver_ms":
                wall = 1e3 * (s["end"] - s["start"])
                vals.append(wall - s["job_ms"] - s.get("tracer_ms", 0.0))
            else:
                vals.append(s.get(counter, 0))
        if vals:
            out[metric] = statistics.fmean(vals)
    pairs = [s for s in timed if s["kind"] == "append_pairs"]
    spills = [s for s in pairs if s["jobs"] > 0]
    rows = sum(s["rows"] for s in pairs)
    if rows:
        out["append_pairs.us_per_row"] = (
            1e6 * sum(s["end"] - s["start"] for s in pairs) / rows
        )
    out["append_pairs.spills"] = len(spills)
    out["append_pairs.spill_s"] = sum(s["end"] - s["start"] for s in spills)
    reg = [s for s in tracer.spans if s["kind"] == "register_sql"]
    if reg:
        out["sql_surface.register_s"] = reg[-1]["end"] - reg[-1]["start"]
    out["trace.spans"] = len(tracer.spans)
    out.update(extras)
    return out


def _probe(probe, ledger, tracer, args) -> dict:
    """A traced run's probe: set up once, warm, one timed pass, checks."""
    tracer.phase = "setup"
    probe.setup()
    tracer.phase = "warmup"
    ledger.record = False
    probe.warmup()
    ledger.record = True
    gc.collect()
    tracer.phase = "timed"
    probe.timed(args.seconds / 2)
    tracer.phase = "finish"
    probe.finish()
    return probe.layers()


def _jvm_layers(spark) -> dict:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return {"jvm.gc_s": gc_ms / 1e3, "jvm.heap_used_mb": heap / 2**20}


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _parse(argv):
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test sizes")
    p.add_argument(
        "--fixed-units", type=int, default=0,
        help="run exactly this many units per timed pass instead of a time window",
    )
    return p.parse_args(argv)


def _environment(rundir: str) -> None:
    tmp = os.path.join(rundir, "tmp")
    for d in (tmp, os.path.join(rundir, "spark-local")):
        os.makedirs(d)
    os.environ.update(
        SPARK_LOCAL_DIRS=os.path.join(rundir, "spark-local"),
        SUMMARYDB_STORE_DIR=os.path.join(rundir, "store"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
    )
    # spark-warehouse and metastore files land in the working directory
    os.chdir(rundir)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, rundir: str) -> tuple[dict, dict, dict]:
    from perfbench.proc import CpuMeter, peak_rss_mb
    from perfbench.trace import Tracer
    from perfbench.workloads import PROBES, WORKLOADS, Ledger
    from summarydb_spark.session import get_spark

    cpus = min(4, os.cpu_count() or 1)
    t = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    session_start = time.perf_counter() - t
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        cpu_s = CpuMeter()
        ledger = Ledger(tracer, cpu_s)
        ctx = Context(spark, args, rundir, tracer, ledger)
        wl = WORKLOADS[args.workload](ctx)
        config = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": f"local[{cpus}]",
            "shuffle_partitions": cpus,
            "driver_memory": DRIVER_MEM,
            "sizes": wl.size,
            "fixed_units": args.fixed_units,
            "spark": spark.version,
            "python": platform.python_version(),
            "cores": os.cpu_count(),
        }

        tracer.phase = "setup"
        c, t = cpu_s(), time.perf_counter()
        wl.setup()
        setup_wall_s = time.perf_counter() - t
        setup_cpu_s = cpu_s() - c
        gc.collect()
        tracer.phase = "warmup"
        ledger.record = False
        wl.warmup()
        ledger.record = True
        gc.collect()

        extras = {}
        if args.trace:
            # untraced pass, then traced pass: the overhead is the growth of
            # CPU per call, span bookkeeping and status-store reads included
            cost = []
            for traced in (False, True):
                ledger.reset()
                gc.collect()
                tracer.enabled = traced
                tracer.phase = "timed"
                c = cpu_s()
                wl.timed(args.seconds / 2)
                calls = sum(len(v) for v in ledger.walls.values())
                cost.append((cpu_s() - c) / calls)
            extras["trace.overhead_pct"] = 100 * (cost[1] / cost[0] - 1)
            wl.traced_only()
        else:
            tracer.phase = "timed"
            wl.timed(args.seconds)
        # the driver and its JVM; the JVM's Python workers come and go
        peak = peak_rss_mb((os.getpid(), spark.sparkContext._gateway.proc.pid))
        gc.collect()
        tracer.phase = "finish"
        timings = wl.timings()
        wl.finish()
        e2e = wl.end_to_end()
        if args.trace:
            extras.update(timings)
            extras.update(wl.layers())
            extras.update(_probe(PROBES[args.workload](ctx), ledger, tracer, args))
            extras.update(_jvm_layers(spark))
            extras["session.start_s"] = session_start
            extras["session.peak_rss_mb"] = peak
            metrics = _per_layer(tracer, wl, extras)
            out = {k: _metric(metrics[k], u) for k, u in PER_LAYER.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.write(
                os.path.join(
                    ROOT, ".perfbench_out",
                    f"{args.workload}-seed{args.seed}-spans.jsonl",
                ),
                t_origin=tracer.spans[0]["start"] if tracer.spans else 0.0,
            )
        else:
            vals = {"setup_s": setup_cpu_s, **e2e}
            out = {k: _metric(vals[k], u) for k, u in END_TO_END.items()}
        detail = {
            "timings": {k: _metric(v, COMPUTED[k]) for k, v in timings.items()},
            "setup_wall_s": setup_wall_s,
            "peak_rss_mb": peak,
            "session_start_s": session_start,
            "cpu_ms": {k: [round(1e3 * c) for c in v] for k, v in ledger.cpu.items()},
            "problems": ledger.problems[:10],
        }
        result = {
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": out,
        }
        return config, detail, result
    finally:
        os.chdir(ROOT)
        _stop(spark)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "summarydb_spark", "__init__.py")):
        print(
            f"perfbench: no summarydb_spark package under {ROOT}; run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    args = _parse(argv)
    rundir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(rundir)
    try:
        _environment(rundir)
        config, detail, result = run(args, rundir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps({"config": config}))
    print(json.dumps({"detail": detail}))
    for p in detail["problems"]:
        print(f"perfbench: failed: {p}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
