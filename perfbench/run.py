"""Layered benchmark of the Kafka → object-store sink and the curation
operators.

    python3 perfbench/run.py --workload bulk_flush --seed 1 --seconds 20 --trace 0

Workloads: ``bulk_flush`` and ``small_objects`` (perfbench/sink.py). The
streaming layer (perfbench/stream.py) is measured in the ``bulk_flush``
traced run, the curation layer (perfbench/curation.py) in the
``small_objects`` one.

End-to-end metrics:

- ``setup_s``: session start + input generation (median of repeats) +
  warm-up;
- ``sink_vs_reference``: the sink's throughput relative to a fixed
  reference job (perfbench/sink.py) that uses no library code and runs in
  the same session before the first pass and after every pass: configs /
  the sum over configs of the median over passes of ``write_batch`` time /
  the mean of the reference times just before and after the pass. On
  a 4-core VM sharing its host, speed drifted up to 2.5x within half an
  hour and records/s with it: in a ten-seed set of ``bulk_flush`` during
  such a drift records/s spread 0.75 of its median (interquartile), the
  ratio, recomputed from its passes, 0.06; in steadier sets records/s spread 0.08-0.11, the ratio
  0.06-0.07. Records/s itself is in the payload and the traced metrics
  (``writer.records_per_s``);
- ``output_bytes``: committed bytes of one pass;
- ``peak_rss_mb``: peak proportional set size of the driver, its JVM and
  the Python workers.

Run it from the repository root. It starts one Spark session at
``local[<cores>]`` (all usable cores unless ``--cores`` is given), builds
the workload's inputs from ``--seed``, warms up, measures for ``--seconds``,
checks the outputs, and prints one JSON object as the last line of stdout:
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones (layers not exercised by the workload read 0). The line
before it, prefixed ``payload:``, carries provenance, the error rate
(``failed / attempted``), sample counts, output digests and the per-layer
detail.

All files go under ``.bench_work/`` in the working directory and are
removed at exit. ``PYTHONPATH`` is exported before Spark starts: Spark's
Python workers import the library (and ``perfbench.trace``) inside
``mapInArrow``, and patching ``sys.path`` in the driver alone fails there
with ``ModuleNotFoundError``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk_flush", "small_objects")


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    from perfbench.curation import ENTRIES, branches
    from perfbench.sink import CONFIGS
    from perfbench.stream import TRIGGER_KEYS

    names = []
    for cfg in CONFIGS:
        names += [
            f"writer.{m}.{cfg}"
            for m in ("prepare_s", "render_s", "distribute_s", "write_s", "encode_s",
                      "manifest_rows", "output_bytes", "write_tasks", "task_skew")
        ]
        names += [f"storage.{m}.{cfg}" for m in ("open_s", "commit_s", "objects")]
        names += [f"spark.{m}.{cfg}" for m in ("shuffle_write_bytes", "spill_bytes", "executor_run_s")]
    names += ["writer.records_per_s", "reference.job_s",
              "writer.latency_p50_s", "writer.latency_p90_s",
              "writer.speedup_1_to_n", "trace.overhead_s"]
    names += [f"stream.{m}" for m in ("drain_records_per_s", "latency_p50_s",
                                       "latency_p90_s", "output_bytes")]
    names += [f"stream.trigger_ms.{k}" for k in TRIGGER_KEYS]
    names += ["stream.batches", "stream.batch_records_p50", "stream.backlog_records_end",
              "gen.late_s_max"]
    names.append("curation.pass_s")
    for entry in ENTRIES:
        names += [f"curation.{entry}.build_s", f"curation.{entry}.exec_s"]
        names += [f"curation.{entry}.{b}_s" for b in branches(entry)[1]]
        names.append(f"spark.shuffle_write_bytes.{entry}")
    return names


END_TO_END = {
    "setup_s": "s",
    "sink_vs_reference": "ratio",
    "output_bytes": "bytes",
    "peak_rss_mb": "MB",
}


class Checks:
    """Attempted and failed operations of one run (writes, micro-batches,
    entries and output verifications)."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)


class Run:
    """What a workload needs: the session, its arguments and a work dir."""

    def __init__(self, args, work: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = args.cores
        self.configs = [c for c in args.configs.split(",") if c]
        self.work = work
        self.checks = Checks()
        self.spark = None
        self.payload: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from pyspark.sql import SparkSession

        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(self.cores))
            # AQE would coalesce a 100k-record shuffle into one or two tasks;
            # keep one task per core, as at production batch sizes
            .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "1g")
            .config("spark.local.dir", self.path("spark-local"))
            .config("spark.sql.warehouse.dir", self.path("warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def job_group(self, label: str) -> None:
        self.spark.sparkContext.setJobGroup(label, label)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def provenance(run: Run) -> dict:
    import pyarrow
    import pyspark

    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        head = "not a git checkout"
    return {
        "nproc": os.cpu_count(),
        "usable_cores": len(os.sched_getaffinity(0)),
        "master": f"local[{run.cores}]",
        "git_head": head,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": run.spark._jvm.System.getProperty("java.version"),
        "note": "PYTHONPATH is exported before Spark starts; Python workers "
                "fail with ModuleNotFoundError inside mapInArrow otherwise",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--configs", default="",
                    help="comma-separated sink configs to write instead of the workload's")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kafka_connector_s3_sink_spark", "__init__.py")):
        print("perfbench: the library is not in this checkout", file=sys.stderr)
        return 2

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM writes its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    from perfbench import sink
    from perfbench.trace import RssSampler

    load_1min = os.getloadavg()[0]
    run = Run(args, work)
    workload = {
        "bulk_flush": sink.bulk_flush,
        "small_objects": sink.small_objects,
    }[args.workload]
    try:
        os.sync()  # earlier runs' writes and deletes must not land in this one
        with RssSampler() as rss:
            t0 = time.perf_counter()
            run.start_spark()
            run.payload["session_s"] = time.perf_counter() - t0
            e2e, layers = workload(run, t0)
            e2e["peak_rss_mb"] = rss.peak_bytes / 2**20
        run.payload["provenance"] = {**provenance(run), "load_1min_at_start": load_1min}
        t_stop = time.perf_counter()
        stop_spark(run.spark)
        run.spark = None
        run.payload["stop_s"] = time.perf_counter() - t_stop
        run.payload["wall_s"] = time.perf_counter() - t0
    finally:
        if run.spark is not None:  # a workload failed: still stop the JVM
            stop_spark(run.spark)
        shutil.rmtree(work, ignore_errors=True)
        os.sync()

    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": _layer_unit(n)}
                   for n in per_layer_names()}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    run.payload.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        trace=args.trace, failures=run.checks.failures,
        error_rate=run.checks.failed / max(run.checks.attempted, 1),
        end_to_end=e2e, per_layer=layers,
    )
    print("payload: " + json.dumps(run.payload, sort_keys=True, default=str))
    print(json.dumps({
        "correct": run.checks.failed == 0,
        "attempted": run.checks.attempted,
        "failed": run.checks.failed,
        "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("per_s"):
        return "1/s"
    if name.endswith("_s") or "_s." in name or name == "gen.late_s_max":
        return "s"
    if name.startswith("stream.trigger_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if "task_skew" in name or "speedup" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
