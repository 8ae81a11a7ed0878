"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The run pins its environment, builds a
Spark session through the package's ``get_spark``, sets the workload up
(generating its inputs from ``--seed``), warms every op type once,
measures a fixed amount of closed-loop ops that takes about
``--seconds`` seconds on a 4-vCPU host (see workloads.py), checks the
outputs and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
package's public calls in spans, enables the Spark event log and
reports the per-layer metrics instead (see layers.py). Everything the
run writes goes under ``.bench_work/`` (removed at exit) and, for
traced runs, ``.bench_traces/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".bench_work")
TRACE_DIR = os.path.join(ROOT, ".bench_traces")
DRIVER_MEM = "2g"


def metric_units(key: str) -> dict[str, str]:
    """Metric name -> unit of one metric set (``end_to_end`` or
    ``per_layer``) as BENCHMARK.json declares it."""
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def pin_env(work: str) -> None:
    """Fix everything the session reads from the environment, before
    pyspark starts the JVM (which the Python workers inherit)."""
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # initial heap = max heap: the heap does not resize mid-run;
        # no perf-data file: the JVM would write it to /tmp
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    if trace:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + logs
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process the
    run started has exited."""
    from pyspark import SparkContext

    import procstat

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while True:
        rest = [p for p in procstat.tree_pids(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.time() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def measure(args, work: str):
    """Set up, time and check one workload; returns (run, host regime,
    phase durations, reported metrics), or None for an unknown
    workload."""
    import procstat
    import workloads
    from crypto_prediction_etl_spark import session
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return None

    host = procstat.HostRegime()
    tracer = Tracer() if args.trace else None
    run = workloads.Run(None, work, args.seed, tracer)
    wl = workloads.WORKLOADS[args.workload](run)
    if tracer is not None:
        import layers

        layers.install(tracer, wl)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", extra_conf=session_conf(work, bool(args.trace)))
        session_s = time.perf_counter() - t0
        run.spark = spark
        data_s, warm_s = wl.setup()

        me = os.getpid()
        sampler = procstat.RssSampler(me).start()
        cpu0 = procstat.tree_cpu_s(me)
        w0 = time.time()
        elapsed = workloads.timed_units(args.seconds, wl)
        w1 = time.time()
        cpu = procstat.tree_cpu_s(me) - cpu0
        peak = sampler.stop()

        run.unit("post")
        wl.post_checks()
        run.attempted = wl.attempted()
        metrics = {
            "setup_s": session_s + data_s + warm_s,
            "throughput_per_s": run.work_done / elapsed,
            "op_p50_s": statistics.median(run.op_latencies),
            "cpu_s_per_op": cpu / max(1, run.attempted),
        }
    finally:
        if spark is not None:
            stop_spark(spark)

    if tracer is not None:
        import layers
        from spans import read_event_log

        jobs = read_event_log(os.path.join(work, "eventlog"))
        per_layer = layers.per_layer(tracer, jobs, wl, run, (w0, w1))
        per_layer["proc.peak_rss_mb"] = peak / 2**20
        os.makedirs(TRACE_DIR, exist_ok=True)
        tracer.dump(
            os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.json"),
            {
                "per_layer": per_layer,
                "end_to_end": metrics,
                "timed_window": [w0, w1],
                "batches": [
                    {"topic": d["topic"], **p["durationMs"]}
                    for d in getattr(wl, "drains", ()) if d is not None
                    for p in d["progress"]
                ],
            },
        )
        if set(per_layer) != set(layers.MOVES):
            raise RuntimeError("per-layer metrics and layers.MOVES disagree")
        reported = per_layer
    else:
        reported = metrics
    units = metric_units("per_layer" if tracer is not None else "end_to_end")
    if set(reported) != set(units):
        raise RuntimeError(f"metrics {sorted(set(reported) ^ set(units))} disagree with "
                           "BENCHMARK.json")
    report = {k: {"value": v, "unit": units[k]} for k, v in reported.items()}

    phases = {
        "session_s": session_s, "data_setup_s": data_s, "warmup_s": warm_s,
        "timed_s": elapsed, "ops": len(run.op_latencies),
    }
    return run, host, phases, report


def main(argv=None) -> int:
    start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "crypto_prediction_etl_spark")):
        print("run from the repository root: crypto_prediction_etl_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        pin_env(work)
        outcome = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    if outcome is None:
        return 2
    run, host, phases, report = outcome
    phases["wall_s"] = time.perf_counter() - start

    correct = run.setup_checks_ok and run.post_checks_ok and run.failed == 0
    print("host: " + json.dumps(host.stamp()))
    print("phases: " + json.dumps(phases))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": report,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
