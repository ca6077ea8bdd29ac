"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 12 --trace 0

Workloads: ``cdc`` and ``query_suite`` (see
perfbench/README.md). With ``--trace 0`` the result carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics, and the
run's spans are written to ``.perfbench_out/``. Every file the run
creates lives under ``.perfbench_work/`` in the checkout and is removed at
the end. The exit code is non-zero when an output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc", "query_suite")


def process_start() -> float:
    """Epoch seconds at which this process was started (from /proc)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the package write inside ``work``.
    Must run before pyspark launches the JVM."""
    for d in ("tmp", "local", "ann"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["KSS_ANN_DIR"] = os.path.join(work, "ann")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={work}/tmp pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.chdir(work)  # spark-warehouse and friends land here


class Context:
    """What a workload gets: session, tracer, seed, run length, work dir."""

    def __init__(self, args, work: str, t_start: float, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.t_start = t_start
        self.tracer = tracer
        self.root = tracer.add("run", t_start, float("nan"), None)
        self.spark = None
        self.record_counter = None
        self.children: list[subprocess.Popen] = []  # generator processes
        self.input_rows = 0  # rows read by every streaming query of the run
        self.get_spark_s = 0.0
        self.setup_s = 0.0

    def start_session(self) -> None:
        from kafka_stream_spark.session import get_spark

        with self.tracer.span("session.get_spark", self.root):
            t = time.time()
            self.spark = get_spark("perfbench")
            self.get_spark_s = time.time() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer.enabled:
            from kafka_stream_spark.streaming.metrics import RecordCounter

            self.record_counter = RecordCounter()
            self.spark.streams.addListener(self.record_counter)

    def mark_setup_done(self) -> None:
        self.setup_s = time.time() - self.t_start

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        from sparkstats import vm_hwm_mb

        return vm_hwm_mb(SparkContext._gateway.proc.pid) + vm_hwm_mb(os.getpid())

    def stop(self) -> None:
        """Stop the generators and the session; wait until each has ended."""
        for p in self.children:
            if p.poll() is None:
                p.terminate()
            p.wait()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        # no gw.shutdown(): it can block for good joining py4j's callback
        # threads. The gateway JVM exits when its stdin closes.
        gw.proc.stdin.close()
        try:
            gw.proc.wait(60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def main() -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    sys.path.append(ROOT)
    import layers
    from tracing import NullTracer, Tracer

    ctx = Context(args, work, t_start, Tracer() if args.trace else NullTracer())
    try:
        if args.workload == "query_suite":
            from suite import query_suite as run
        else:
            from cdc import cdc as run
        res = run(ctx)
        t_end = time.time()
        res["peak_rss_mb"] = ctx.peak_rss_mb()
    finally:
        ctx.stop()
        shutil.rmtree(work, ignore_errors=True)

    chk = res["check"]
    correct = chk["failed"] == 0 and chk.get("only_id_unique", True)
    wall_s = t_end - t_start
    print(f"perfbench: workload={args.workload} seed={args.seed} wall_s={wall_s:.3f} "
          f"check={json.dumps(chk)}")
    lat = res["latencies_ms"]
    if args.trace:
        ctx.tracer.spans[ctx.root]["end"] = t_end
        metrics = layers.per_layer(ctx, res)
        correct = correct and metrics["metrics.rows_in"] == metrics["sources.input_rows"]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = {
            "latency_p50_ms": layers.percentile(lat, 50),
            "latency_p99_ms": layers.percentile(lat, 99),
            "throughput_per_s": res["throughput"],
            "setup_s": ctx.setup_s,
        }
    units = layers.UNITS
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(chk["attempted"]),
        "failed": int(chk["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        rc = main()
    except SystemExit as e:  # argparse
        rc = e.code if isinstance(e.code, int) else 1
    except BaseException:
        traceback.print_exc()
        rc = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # The JVM and the generators have been waited for; py4j's Python-side
    # threads are not daemons and must not hold the process open.
    os._exit(rc)
