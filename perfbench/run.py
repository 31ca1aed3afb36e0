"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query_serve --seed 1 --seconds 16 --trace 0

Run from the repository root. The run starts a local[nproc] session,
sets up the workload and drives its closed loop for `--seconds`. It then
checks the outputs and stops every process it started. Its last line is
a JSON object with `correct`, `attempted`, `failed` and `metrics`.

- `--trace 0` reports the end-to-end metrics.
- `--trace 1` runs the same loop with each span tagged with a Spark job
  group and the event log on, and reports the per-layer metrics.

The line before the result is a report. It has every metric of the
workload by name, tail percentiles with sample counts, the seed, the
input fingerprint and the environment. Exits 1 when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "1g"
# median of measure.RefJob on the reference host: a quiet 4-core box
REF_JOB_MS = 40.0

END_TO_END = {   # name -> unit (BENCHMARK.json end_to_end)
    "setup_s": "s",
    "latency_ms.p50": "ms",
    "store_bytes_per_text_byte": "ratio",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ingest_stream", "query_serve", "upsert_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(cores: int, work: str, trace: bool):
    from engine.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()   # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 20
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants() and time.monotonic() < deadline + 10:
        time.sleep(0.2)


def environment(spark, cores: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": os.cpu_count(),
        "cores": cores,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
    }


def run(args, work: str) -> tuple[dict, int, int]:
    """One run; returns (metrics for the result line, attempted, failed)."""
    from perfbench import checks, layers
    from perfbench.measure import RefJob, descendants, p50, peak_rss_mb, tail
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = start_session(cores, work, bool(args.trace))
    try:
        phases = {"start": time.perf_counter() - t0}
        tracer = Tracer(spark, bool(args.trace))
        wl = WORKLOADS[args.workload](Ctx(spark, tracer, args.seed, args.seconds, cores, work))
        with tracer.span("corpus_gen", "session") as gen:
            wl.make_corpus()
        with tracer.span("setup_build", "session") as build:
            wl.build()
        phases.update(corpus_gen=gen.dur, setup_build=build.dur)
        setup_s = phases["start"] + gen.dur + build.dur
        with tracer.span("warm_up", "session") as warm:
            wl.warm_up()
        ref = RefJob(spark, cores)
        ref.repeat(RefJob.AROUND)
        wl.window(ref)
        ref.repeat(RefJob.AROUND)
        t1 = time.perf_counter()
        rss = peak_rss_mb(descendants())
        lat = wl.latency_samples()
        report = {"setup_s": {"value": setup_s, "unit": "s"},
                  "peak_rss_mb": {"value": rss, "unit": "MB"},
                  **layers.end_to_end(wl)}
        # window times scaled to the reference host speed; the report keeps
        # them raw
        f = REF_JOB_MS / p50(ref.ms)
        metrics = {
            "setup_s": setup_s,
            "latency_ms.p50": p50(lat) * f,
            "store_bytes_per_text_byte": report["store_bytes_per_text_byte"]["value"],
            "peak_rss_mb": rss,
        }
        v, pct, n = tail(lat)
        info = {
            "workload": args.workload, "seed": args.seed,
            "inputs_fingerprint": wl.inputs_fingerprint(),
            "latency_ms.p50": p50(lat),
            "latency_ms.tail": {"value": v, "percentile": pct, "n": n},
            "latency_ms.samples": [round(x, 1) for x in lat],
            "host_factor": f, "reference_job_ms": ref.ms,
            "env": environment(spark, cores),
        }
        if args.trace:
            per_layer = layers.traced_extras(wl, phases)

        t2 = time.perf_counter()
        gate = checks.Gate()
        checks.CHECKS[args.workload](wl, gate)
        phases.update(warm_up=warm.dur, window=wl.window_s, after_window=t2 - t1, checks=time.perf_counter() - t2)
    finally:
        t3 = time.perf_counter()
        stop_session(spark)
    phases.update(stop=time.perf_counter() - t3, total=time.perf_counter() - t0)

    attempted = tracer_calls(tracer) + gate.attempted
    report["failed_op_ratio"] = {"value": len(gate.failures) / attempted, "unit": "ratio"}
    info.update(phases_s=phases, failures=gate.failures, metrics=report)
    if args.trace:
        tracer.load_event_log(os.path.join(work, "events"))
        per_layer.update(layers.from_spans(wl, tracer))
        tracer.dump(os.path.join(STATE, "out", f"spans-{args.workload}-{args.seed}.json"))
        metrics = per_layer
    print("perfbench report: " + json.dumps(info, default=str), flush=True)
    return metrics, attempted, len(gate.failures)


def tracer_calls(tracer) -> int:
    """Engine calls made, set-up included."""
    return sum(1 for s in tracer.spans if s.layer != "session" and s.name != "op")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "engine")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(STATE, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    try:
        metrics, attempted, failed = run(args, work)
    except Exception:
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    from perfbench.layers import PER_LAYER

    units = END_TO_END if not args.trace else PER_LAYER
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
