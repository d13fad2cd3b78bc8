"""Measurement helpers: per-object write spans, Spark stage counters, the
reference job's Python body and a peak-RSS sampler.

``TracingStorage`` and ``SpanFault`` are handed to ``write_batch`` in the
traced run. They are unpickled inside Spark's Python workers, so this module
must be importable there (the benchmark exports ``PYTHONPATH``). A worker
keeps the open/encode stamps of its in-flight objects in memory and appends
one JSON line per committed object to ``<span_dir>/spans-<pid>.jsonl``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage

# object name -> (perf_counter after open, perf_counter at the fault hook),
# per worker process
_STAMPS: dict[str, list[float]] = {}
_SPAN_FILES: dict[str, object] = {}


class SpanFault:
    """Non-raising ``fault`` hook: the writers call it after an object's bytes
    are encoded and compressed, just before the commit."""

    def __call__(self, name: str) -> None:
        _STAMPS[name][1] = time.perf_counter()


class TracingStorage(ObjectStorage):
    """``ObjectStorage`` that records, per object, the time to open it, the
    time from open to the fault hook (encode + compress) and the time from the
    hook to the end of the commit."""

    def __init__(self, base_uri: str, span_dir: str, label: str):
        super().__init__(base_uri)
        self.span_dir = span_dir
        self.label = label

    def __getstate__(self):
        return {**super().__getstate__(), "span_dir": self.span_dir, "label": self.label}

    def __setstate__(self, state):
        super().__setstate__(state)
        self.span_dir = state["span_dir"]
        self.label = state["label"]

    @contextmanager
    def open_output(self, name: str):
        t0 = time.perf_counter()
        with super().open_output(name) as raw:
            t1 = time.perf_counter()
            _STAMPS[name] = [t1, t1]
            yield raw
        t3 = time.perf_counter()
        _, tf = _STAMPS.pop(name)
        self._emit(
            {"label": self.label, "object": name, "open_s": t1 - t0,
             "encode_s": tf - t1, "commit_s": t3 - tf}
        )

    def _emit(self, span: dict) -> None:
        path = os.path.join(self.span_dir, f"spans-{os.getpid()}.jsonl")
        f = _SPAN_FILES.get(path)
        if f is None:
            os.makedirs(self.span_dir, exist_ok=True)
            f = _SPAN_FILES[path] = open(path, "a")
        f.write(json.dumps(span) + "\n")
        f.flush()


def gzip_batches(batches):
    """``mapInArrow`` body of the reference job: gzip each Arrow batch's
    ``line`` column and yield the compressed size."""
    import gzip

    import pyarrow as pa

    for batch in batches:
        data = "\n".join(batch.column("line").to_pylist()).encode()
        yield pa.record_batch([pa.array([len(gzip.compress(data, 6))], pa.int64())], names=["n"])


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q))


def read_spans(span_dir: str) -> list[dict]:
    spans: list[dict] = []
    if os.path.isdir(span_dir):
        for fn in sorted(os.listdir(span_dir)):
            with open(os.path.join(span_dir, fn)) as f:
                spans.extend(json.loads(line) for line in f)
    return spans


def stage_metrics(spark, group: str) -> dict[str, float]:
    """Counters of the stages run by the jobs of job group ``group``, read from
    the AppStatusStore: task count and max/median task time of the last stage
    (the write), and shuffle-write bytes, spill bytes and executor run time
    summed over all stages."""
    jvm = spark._jvm
    store = spark._jsc.sc().statusStore()
    jobs = store.jobsList(jvm.java.util.ArrayList())
    ids: set[int] = set()
    for i in range(jobs.size()):
        job = jobs.apply(i)
        g = job.jobGroup()
        if g.isDefined() and g.get() == group:
            sids = job.stageIds()
            ids.update(sids.apply(k) for k in range(sids.size()))
    empty = jvm.java.util.ArrayList()
    stages = store.stageList(
        empty, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0), empty
    )
    ran = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() in ids and s.numCompleteTasks() > 0:
            ran.append(s)
    out = {
        "shuffle_write_bytes": float(sum(s.shuffleWriteBytes() for s in ran)),
        "spill_bytes": float(sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in ran)),
        "executor_run_s": sum(s.executorRunTime() for s in ran) / 1000.0,
        "write_tasks": 0.0,
        "task_skew": 0.0,
    }
    if ran:
        last = max(ran, key=lambda s: s.stageId())
        out["write_tasks"] = float(last.numTasks())
        qs = spark.sparkContext._gateway.new_array(jvm.double, 2)
        qs[0], qs[1] = 0.5, 1.0
        summary = store.taskSummary(last.stageId(), last.attemptId(), qs)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, mx = run.apply(0), run.apply(1)
            out["task_skew"] = mx / med if med > 0 else 1.0
    return out


class RssSampler:
    """Peak memory of this process and all its descendants (the Spark JVM and
    its Python workers), sampled every ``interval_s``.

    Each process counts its proportional set size (``Pss``), so pages that
    forked Python workers share with their daemon are counted once. The JVM
    heap is fixed and pre-touched (``-Xms`` = max heap, ``AlwaysPreTouch``),
    so the figure moves with native and Python-worker memory rather than
    with when the heap happened to grow."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(line for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            total += int(pss.split()[1]) * 1024
        self.peak_bytes = max(self.peak_bytes, total)
