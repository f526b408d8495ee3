"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload mosaic_build --seed 1 --seconds 8 --trace 0

Run from the repository root. Spark runs on ``local[nproc]`` with one
client thread. The process does ``SETUP_REPS`` set-ups (each: start a
new JVM and Spark session with ``get_spark``; generate the seeded
inputs into a fresh directory; run one untimed warm-up operation) and
reports their median as ``setup_s``; the first is timed from process
start. After one untimed warm round in the last set-up's session it
runs operations in a closed loop, in whole rounds, until ``--seconds`` of
operation time have been measured; each output is checked outside the
timed region. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``
(which also writes every span to ``perfbench/traces/``). Everything the
run writes lives under ``perfbench/work/`` and is deleted at exit.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up is timed from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from flytemosaic_spark import shipping  # noqa: E402
from flytemosaic_spark.session import get_spark  # noqa: E402
from pyspark import SparkContext, cloudpickle  # noqa: E402

import perfbench.mosaic  # noqa: E402
from perfbench.curation import CurationMix  # noqa: E402
from perfbench.mosaic import MosaicBuild, MosaicServe  # noqa: E402
from perfbench.tracing import JobCounter, Tracer, peak_rss_mb, percentile  # noqa: E402

# Every set-up starts its own JVM (~10 s each); two keep the 70 runs of a
# benchmark check inside its time budget.
SETUP_REPS = 2
WORKLOADS = {w.name: w for w in (MosaicBuild, MosaicServe, CurationMix)}
END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "op_s.p90": "s",
    "ops_per_s": "1/s",
    "input_mb_per_s": "MB/s",
    "driver_peak_rss_mb": "MB",
}
# every per-layer metric; a layer a workload leaves idle reports 0
PER_LAYER = {
    "session.get_spark_s": "s",
    "operators.catalog.required_scenes_s.p50": "s",
    "operators.catalog.required_scenes_s.p90": "s",
    "operators.catalog.rows_per_call": "count",
    "pipeline.build_mosaic_s": "s",
    "pipeline.export_feature_geotiffs_s": "s",
    "pipeline.chunks_written": "count",
    "pipeline.worker_busy_frac": "ratio",
    "sources.geotiff.decode_calls": "count",
    "sources.geotiff.decode_busy_s": "s",
    "sources.geotiff.decode_mb_per_core_s": "MB/s",
    "sources.geotiff.window_s.p50": "s",
    "sources.geotiff.fetch_bytes_per_window_byte": "ratio",
    "sources.geotiff.cog_bytes_per_store_byte": "ratio",
    "sources.chunkstore.bytes_written_per_output_byte": "ratio",
    "sources.chunkstore.read_store_s.p50": "s",
    "probes.plan_s.dedup": "s",
    "probes.plan_s.text": "s",
    "probes.plan_s.relational": "s",
    "probes.exec_s.dedup": "s",
    "probes.exec_s.text": "s",
    "probes.exec_s.relational": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.tasks_failed": "count",
    "trace.op_s.p50": "s",
}


def host() -> tuple[int, float]:
    """(usable cores, total memory in GB)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return len(os.sched_getaffinity(0)), kb / 1024**2


def isolate(workdir: str) -> None:
    """Keep every file Spark, the JVM and Python write inside workdir.

    HotSpot writes its perf-data file to /tmp whatever java.io.tmpdir
    says, so the driver JVM runs with -XX:-UsePerfData; the engine's
    package zip (``ship_package``) goes to workdir instead of /tmp.
    """
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    shipping._ZIP_PATH = os.path.join(workdir, "flytemosaic_spark.zip")


def stop(spark) -> None:
    """Stop the session and the JVM it runs in, wait for the JVM, and
    drop the gateway so that the next ``get_spark`` starts a new JVM."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, workdir: str) -> tuple[dict, dict]:
    cores, mem_gb = host()
    driver_memory = f"{max(1, min(4, int(mem_gb) // 6))}g"
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, tracer, cores)

    setups, phases, walls = [], [], {}
    spark = None
    try:
        for rep in range(SETUP_REPS):
            if rep:  # tearing down the last set-up is not set-up
                stop(spark)
                spark = None
                shutil.rmtree(os.path.join(workdir, f"setup-{rep - 1}"), ignore_errors=True)
            start = T0 if rep == 0 else time.perf_counter()
            t = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark("perfbench", cpus=cores, driver_memory=driver_memory)
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            wl.prepare(spark, os.path.join(workdir, f"setup-{rep}"))
            t2 = time.perf_counter()
            wl.warmup()  # untimed and unchecked: it only warms the session
            end = time.perf_counter()
            setups.append(end - start)
            phases.append({"session": t1 - t, "inputs": t2 - t1, "warmup_op": end - t2})
        # Untimed warm round in the session the loop uses, outside setup_s:
        # JIT, codegen and first-use-per-session costs otherwise made the
        # first timed round 30-40 % slower on most probes.
        t = time.perf_counter()
        for _, fn in wl.round():
            fn()
        walls["warm_round"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare_checks()
        walls["prepare_checks"] = time.perf_counter() - t

        counter = JobCounter(spark.sparkContext) if args.trace else None
        if counter:
            counter.end_op()
        durations, nbytes, failed = [], 0, 0
        t = time.perf_counter()
        while sum(durations) < args.seconds:
            for kind, fn in wl.round():
                op_id = tracer.op_id = len(durations)
                if counter:
                    counter.start_op(op_id)
                check = None
                t_op = time.perf_counter()
                try:
                    with tracer.span(f"op.{kind}"):
                        n, check = fn()
                    nbytes += n
                except Exception:
                    traceback.print_exc()
                durations.append(time.perf_counter() - t_op)
                if counter:
                    counter.end_op()
                try:
                    ok = check is not None and bool(check())
                except Exception:
                    traceback.print_exc()
                    ok = False
                if not ok:
                    failed += 1
                    print(f"[perfbench] operation {op_id} ({kind}) failed", file=sys.stderr)
                if counter:
                    counter.record(op_id)
        walls["loop"] = time.perf_counter() - t
        driver_mb = peak_rss_mb(os.getpid())
        jvm_mb = peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        if spark is not None:
            stop(spark)

    total = sum(durations)
    p50 = percentile(durations, 50)
    if args.trace:
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics["session.get_spark_s"] = statistics.median(p["session"] for p in phases)
        metrics.update(wl.layer_metrics())
        metrics.update(counter.metrics())
        metrics["trace.op_s.p50"] = p50
        units = PER_LAYER
        tracer.write(os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "op_s.p50": p50,
            "op_s.p90": percentile(durations, 90),
            "ops_per_s": len(durations) / total,
            "input_mb_per_s": nbytes / 1e6 / total,
            "driver_peak_rss_mb": driver_mb,
        }
        units = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": len(durations),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "mem_gb": round(mem_gb, 1), "driver_memory": driver_memory,
        "setups_s": setups,
        "setup_phases_s": [{k: round(v, 3) for k, v in p.items()} for p in phases],
        "wall_s": {k: round(v, 3) for k, v in walls.items()}, "failed_frac": failed / len(durations),
        "jvm_peak_rss_mb": jvm_mb,
    }
    return result, info


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # operation closures defined in the benchmark run on Spark workers
    cloudpickle.register_pickle_by_value(perfbench.mosaic)
    workdir = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(workdir)
    try:
        result, info = run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    for name, m in result["metrics"].items():
        print(f"[perfbench] {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"[perfbench] {json.dumps(info)}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
