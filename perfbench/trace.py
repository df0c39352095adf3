"""Spans around the benchmark's calls into the package's layers, with
Spark jobs attributed to spans by job-id range.

A span records its name, layer, start, end, parent and op id. In a traced
run each span also records the Spark scheduler's next job id at its start
and end, so every job submitted in between -- from the calling thread or
from a thread pool inside the package -- falls into the span's range.
Nothing inside the package is instrumented.
"""

from __future__ import annotations

import contextlib
import time


class JobCounter:
    """Reads the next Spark job id from the driver's DAG scheduler."""

    def __init__(self, spark):
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()

    def next_id(self) -> int:
        return int(self._sched.nextJobId())


class Tracer:
    """Keeps spans in memory. ``traced=False`` records only op spans, the
    ones the end-to-end metrics are read from; layer spans then cost
    nothing but a ``yield``."""

    def __init__(self, jobs: JobCounter, traced: bool):
        self.jobs = jobs
        self.traced = traced
        # seconds spent recording layer spans: what tracing adds to a pass
        self.cost = 0.0
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, *, op: bool = False):
        """``op=True`` marks a benchmark op (always recorded, with its job
        count); otherwise the span is a layer call, recorded when traced."""
        if not (op or self.traced):
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "is_op": op,
            "job0": self.jobs.next_id(),
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if not op:
            self.cost += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"] = self.jobs.next_id()
            self._stack.pop()
            if not op:
                self.cost += time.perf_counter() - rec["end"]

    def call(self, layer: str, name: str, fn, *args, **kw):
        """One call into ``layer``; its return value is returned."""
        with self.span(name, layer):
            return fn(*args, **kw)

    @contextlib.contextmanager
    def materialize(self, layer: str, name: str):
        """Span for materializing a lazy result ``layer`` produced: it
        counts toward the layer's wall time but not its build time."""
        with self.span(name, layer) as s:
            if s is not None:
                s["materialize"] = True
            yield

    def collect(self, layer: str, name: str, df) -> list:
        """Collect a lazy result ``layer`` produced to the driver."""
        with self.materialize(layer, name + ".collect"):
            return df.collect()


def self_intervals(spans: list[dict]) -> dict[int, float]:
    """Self time per span: its duration minus its children's durations."""
    child = {s["id"]: 0.0 for s in spans}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def self_jobs(spans: list[dict]) -> dict[int, list[int]]:
    """Job ids per span, excluding the ranges of its child spans."""
    kids: dict[int, list[dict]] = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        ids = set(range(s["job0"], s["job1"]))
        for k in kids[s["id"]]:
            ids -= set(range(k["job0"], k["job1"]))
        out[s["id"]] = sorted(ids)
    return out


class StageReader:
    """Executor run time, CPU time and shuffle bytes per job, read from
    the application status store (the same store ``scripts/job_trace.py``
    reads). One read covers every job and stage the store retains."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._list = jvm.java.util.ArrayList
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def _seq(self, seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    def job_stats(self, job_ids) -> dict[int, dict]:
        wanted = set(job_ids)
        stages: dict[int, list[int]] = {}
        for j in self._seq(self._store.jobsList(self._list())):
            jid = j.jobId()
            if jid in wanted:
                stages[jid] = list(self._seq(j.stageIds()))
        per_stage: dict[int, list[float]] = {}
        need = {sid for ids in stages.values() for sid in ids}
        for d in self._seq(self._store.stageList(self._list(), False, False,
                                                 self._no_quantiles, self._list())):
            sid = d.stageId()
            if sid in need:
                acc = per_stage.setdefault(sid, [0.0, 0.0, 0.0])
                acc[0] += d.executorRunTime() / 1e3
                acc[1] += d.executorCpuTime() / 1e9
                acc[2] += d.shuffleWriteBytes()
        out = {}
        for jid in wanted:
            sids = stages.get(jid)
            tot = [0.0, 0.0, 0.0]
            for sid in sids or ():
                for i, v in enumerate(per_stage.get(sid, (0.0, 0.0, 0.0))):
                    tot[i] += v
            out[jid] = {"run_s": tot[0], "cpu_s": tot[1], "shuffle_b": tot[2],
                        "known": sids is not None}
        return out


def progress_listener():
    """A StreamingQueryListener collecting each micro-batch's
    ``durationMs`` map (``triggerExecution``, ``walCommit``, ...)."""
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self._cv = threading.Condition()
            self._items: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._cv:
                self._items.append(dict(event.progress.durationMs))
                self._cv.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def drain(self, expected: int, timeout: float = 30.0) -> list[dict]:
            """Wait for ``expected`` progress events (they arrive
            asynchronously after the query ends), then take them all."""
            deadline = time.monotonic() + timeout
            with self._cv:
                while len(self._items) < expected:
                    left = deadline - time.monotonic()
                    if left <= 0:
                        break
                    self._cv.wait(left)
                out, self._items = self._items, []
            return out

    return ProgressListener()
