"""Spans, self times and Spark engine counters for the traced run.

Spans are recorded from the benchmark's own files, around calls into the
engine's public functions: a ``call`` span lasts until the call returns
(Spark is lazy, so for most functions this is plan building), an ``exec``
span covers a ``noop``-sink action on the DataFrame the call returned, and
a ``collect`` span covers the benchmark's own action on a layer's output.
Spans stay in memory and are written out when the run ends.

Engine counts come from Spark itself. Jobs are counted by the rise in the
highest job id the scheduler has handed out: the status tracker's job list
is capped at ``spark.ui.retainedJobs`` (its length stops growing on long
runs) and lists only jobs outside a job group, so it misses streaming
queries' jobs. Stage and task counts come from the status tracker. Bytes
written are read from Hadoop's local file system counters, so files the
program writes and deletes again within a span are counted too.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
import urllib.request
from urllib.parse import urlparse


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of its interval its children cover."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(c["start"], lo), min(c["end"], hi)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (hi - lo) - covered


def self_times(spans: list[dict]) -> dict[int, float]:
    kids: dict[int | None, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return {s["id"]: self_time(s, kids.get(s["id"], [])) for s in spans}


class JobCounter:
    """Spark job/stage/task counts between two points of a run."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self._dag = sc._jsc.sc().dagScheduler()
        self._bus = sc._jsc.sc().listenerBus()

    def high_job_id(self) -> int:
        # ids are handed out in order, synchronously at job submission
        return int(self._dag.nextJobId()) - 1

    def counts(self, first_job: int, last_job: int, cache: dict) -> dict:
        """Jobs in (first_job, last_job] with the stages they ran and those
        stages' tasks. ``cache`` memoizes per-job stage info across spans."""
        # the status store is fed asynchronously by the listener bus;
        # drain it so jobs that just ended are visible
        self._bus.waitUntilEmpty()
        stages: dict[int, tuple[int, int]] = {}
        for jid in range(first_job + 1, last_job + 1):
            if jid not in cache:
                info = self.tracker.getJobInfo(jid)
                ran = {}
                for sid in (info.stageIds if info else []):
                    st = self.tracker.getStageInfo(sid)
                    # a skipped stage (shuffle output reused) ran no task
                    if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                        ran[sid] = (st.numCompletedTasks, st.numFailedTasks)
                cache[jid] = ran
            stages.update(cache[jid])
        return {"jobs": last_job - first_job, "stages": len(stages),
                "tasks": sum(t for t, _ in stages.values()),
                "tasks_failed": sum(f for _, f in stages.values()), "stage_ids": sorted(stages)}


class WriteCounter:
    """Bytes the JVM has written through Hadoop's local file system since it
    started: the ``FileSystem`` counters (batch writes) plus the
    ``FileContext`` counters (streaming checkpoints and state). Every sink,
    ledger, state and checkpoint write of the engine goes through one of
    them; only its Python-written commit markers (2 bytes each) do not."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        fs = jvm.org.apache.hadoop.fs
        raw = jvm.java.lang.Class.forName("org.apache.hadoop.fs.RawLocalFileSystem")
        self._stats = [fs.FileSystem.getStatistics("file", raw),
                       fs.FileContext.getStatistics(jvm.java.net.URI.create("file:///"))]

    def written(self) -> int:
        return sum(int(s.getBytesWritten()) for s in self._stats)


class RestStages:
    """Per-stage I/O from the local REST status API, when it is up."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        self.base = None
        if url:
            port = urlparse(url).port
            # only ever the local driver UI: never follow another host
            self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def totals(self, stage_ids: list[int]) -> dict | None:
        if not self.base or not stage_ids:
            return None
        try:
            with urllib.request.urlopen(f"{self.base}/stages", timeout=10) as r:
                rows = json.load(r)
        except (OSError, ValueError):
            return None
        want = set(stage_ids)
        out = {"input_bytes": 0, "shuffle_write_bytes": 0, "executor_run_s": 0.0}
        for st in rows:
            if st.get("stageId") in want:
                out["input_bytes"] += st.get("inputBytes", 0)
                out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                out["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
        return out


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every method a
    pass-through, so the untraced run executes the same iteration code."""

    def __init__(self, run_id: str, spark=None, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self.jobs = JobCounter(spark) if (enabled and spark is not None) else None
        self.rest = RestStages(spark) if (enabled and spark is not None) else None
        self.bytes = WriteCounter(spark) if (enabled and spark is not None) else None
        self.iteration = 0

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, kind: str = "call", **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a streaming callback thread has no stack of its own: its spans
        # belong to whatever span the main thread is waiting in
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        rec = {"id": sid, "run_id": self.run_id, "iteration": self.iteration, "name": name,
               "kind": kind, "parent": parent, **attrs}
        rec["job_lo"] = self.jobs.high_job_id() if self.jobs else -1
        rec["bytes_lo"] = self.bytes.written() if self.bytes else 0
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            # stage and task counts are read in finalize(), after the
            # iteration, so their cost lands in no span
            rec["job_hi"] = self.jobs.high_job_id() if self.jobs else -1
            rec["bytes_written"] = (self.bytes.written() if self.bytes else 0) - rec["bytes_lo"]
            with self._lock:
                self.spans.append(rec)

    def finalize(self) -> None:
        """Attach engine counts to every span, and REST I/O totals to
        root spans."""
        if not self.jobs:
            return
        cache: dict = {}
        for rec in self.spans:
            rec.update(self.jobs.counts(rec["job_lo"], rec["job_hi"], cache))
            if rec["parent"] is None:
                rec["rest"] = self.rest.totals(rec["stage_ids"])

    def call(self, layer: str, fn, *args, exec_result: bool = True, **kwargs):
        """Call ``fn`` inside a call span; then run a noop-sink action on
        the DataFrames it returned inside an exec span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(layer, "call", fn=fn.__name__):
            out = fn(*args, **kwargs)
        if exec_result:
            for df in _frames(out):
                with self.span(layer, "exec", fn=fn.__name__):
                    df.write.format("noop").mode("overwrite").save()
        return out

    def wrap(self, layer: str, fn, exec_result: bool = True):
        def traced(*args, **kwargs):
            return self.call(layer, fn, *args, exec_result=exec_result, **kwargs)

        traced.__name__ = fn.__name__
        return traced

    @contextlib.contextmanager
    def patched(self, patches):
        """Temporarily route module-level names through :meth:`wrap`.
        ``patches``: (module, attribute, layer, exec_result) tuples."""
        if not self.enabled:
            yield
            return
        saved = []
        try:
            for mod, attr, layer, ex in patches:
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(layer, orig, ex))
            yield
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)


def _frames(out) -> list:
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        return [out]
    if isinstance(out, tuple):
        return [x for x in out if isinstance(x, DataFrame)]
    rep = getattr(out, "report", None)  # FanoutReport / DqaResult
    return [rep] if isinstance(rep, DataFrame) else []
