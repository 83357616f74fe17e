"""Spans around the engine's layer boundaries, recorded from outside the
engine.

:class:`Tracer` replaces the public functions of each layer (``http_api``,
``api.Datastream``, ``storage.Tables``, ``txnlog``, ``operators``) with
wrappers that record a span — name, parent, start and end — and restores
the originals on :meth:`Tracer.uninstall`. Spans stay in memory; the
caller writes them out when the run ends. ``own_s`` adds up the time the
tracer spends in its own code while the pass runs (span bookkeeping and
the job-group calls), which is its overhead on the pass.

Every client call runs under its own Spark job group. Spark reports jobs,
stages and SQL executions through an asynchronous listener bus, so the
counts are attributed after the traced pass has ended (:meth:`Tracer.collect`):
each job goes to every span of its call whose interval contains the job's
submission time, and each SQL execution to the call that ran its jobs.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext

FILES_READ_METRIC = "number of files read"


def _layer_targets():
    """(owner, attribute, span name) for every wrapped layer function."""
    from django_datastream_spark import api, http_api, storage, txnlog
    from django_datastream_spark.operators import derive, downsample

    targets = [
        (http_api, fn, f"http_api.{fn}")
        for fn in ("stream_datapoints", "list_streams", "aggregate_streams")
    ]
    targets += [
        (api.Datastream, fn, f"api.{fn}")
        for fn in (
            "get_data",
            "find_streams",
            "aggregate",
            "ensure_stream",
            "append_multiple",
            "downsample_streams",
        )
    ]
    targets += [
        (storage.Tables, fn, f"storage.{fn}")
        for fn in (
            "read_streams",
            "read_points_raw",
            "read_points_agg",
            "append_points_raw",
            "upsert_streams",
            "upsert_streams_df",
            "upsert_points_agg",
        )
    ]
    targets += [
        (txnlog, "commit", "txnlog.commit"),
        (downsample, "downsample_raw", "operators.downsample_raw"),
        (downsample, "rollup_agg", "operators.rollup_agg"),
        (derive, "build_derive_plan", "operators.build_derive_plan"),
    ]
    return targets


class Tracer:
    """In-memory span recorder with wrappers around the layer functions."""

    def __init__(self, session) -> None:
        self.session = session  # the SparkSession whose SQL store to read
        self.spans: list[dict] = []
        self.calls: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        self._call: dict | None = None
        self.own_s = 0.0

    # -- spans -----------------------------------------------------------
    def _open(self, name: str) -> dict:
        c0 = time.perf_counter()
        span = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "call": self._call["id"] if self._call else None,
            "name": name,
            "t0": time.time(),
            "t1": None,
        }
        self._stack.append(span)
        self.spans.append(span)
        self.own_s += time.perf_counter() - c0
        return span

    def _close(self, span: dict) -> None:
        c0 = time.perf_counter()
        span["t1"] = time.time()
        self._stack.remove(span)
        self.own_s += time.perf_counter() - c0

    @contextlib.contextmanager
    def span(self, name: str):
        span = self._open(name)
        try:
            yield span
        finally:
            self._close(span)

    @contextlib.contextmanager
    def call(self, kind: str):
        """One client call: a root span under its own Spark job group."""
        c0 = time.perf_counter()
        sc = SparkContext._active_spark_context
        call = {"id": len(self.calls) + 1, "kind": kind, "group": None}
        call["group"] = f"perfbench-{call['id']}"
        self.calls.append(call)
        self._call = call
        sc.setJobGroup(call["group"], kind, False)
        self.own_s += time.perf_counter() - c0
        try:
            with self.span(f"call.{kind}"):
                yield
        finally:
            c0 = time.perf_counter()
            sc._jsc.clearJobGroup()
            self._call = None
            self.own_s += time.perf_counter() - c0

    # -- wrappers --------------------------------------------------------
    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def _wrap_iter(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(dps):
            span = tracer._open("api.iter")
            span["rows"] = 0
            try:
                for row in fn(dps):
                    span["rows"] += 1
                    yield row
            finally:
                tracer._close(span)

        return wrapper

    def install(self) -> None:
        from django_datastream_spark import api

        for owner, attr, name in _layer_targets():
            fn = getattr(owner, attr)
            self._patches.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))
        fn = api.Datapoints.__iter__
        self._patches.append((api.Datapoints, "__iter__", fn))
        api.Datapoints.__iter__ = self._wrap_iter(fn)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, fn = self._patches.pop()
            setattr(owner, attr, fn)

    # -- Spark counters --------------------------------------------------
    def collect(self, timeout_s: float = 10.0) -> dict:
        """Attach job, stage and file counts to the calls and their spans
        once Spark's listener bus has caught up; returns the pass totals."""
        calls = self.calls
        sc = SparkContext._active_spark_context
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        totals = dict.fromkeys(
            (
                "jobs",
                "stages",
                "tasks",
                "exec_s",
                "executor_run_s",
                "shuffle_write_bytes",
                "shuffle_read_bytes",
                "spill_bytes",
                "stages_missing",
            ),
            0,
        )
        deadline = time.monotonic() + timeout_s
        job_call: dict[int, dict] = {}
        for call in calls:
            jobs = []
            for jid in sorted(tracker.getJobIdsForGroup(call["group"])):
                jd = store.job(jid)
                while jd.completionTime().isEmpty() and time.monotonic() < deadline:
                    time.sleep(0.05)
                    jd = store.job(jid)
                job = {
                    "id": jid,
                    "submitted": jd.submissionTime().get().getTime() / 1000,
                    "completed": (
                        jd.completionTime().get().getTime() / 1000
                        if jd.completionTime().isDefined()
                        else None
                    ),
                    "stages": 0,
                    "tasks": 0,
                }
                for sid in tracker.getJobInfo(jid).stageIds:
                    try:
                        sd = store.lastStageAttempt(int(sid))
                    except Py4JJavaError:  # evicted from the status store
                        totals["stages_missing"] += 1
                        continue
                    if str(sd.status()) == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += sd.numTasks()
                    totals["executor_run_s"] += sd.executorRunTime() / 1000
                    totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    totals["spill_bytes"] += (
                        sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    )
                totals["jobs"] += 1
                totals["stages"] += job["stages"]
                totals["tasks"] += job["tasks"]
                if job["completed"] is not None:
                    totals["exec_s"] += job["completed"] - job["submitted"]
                jobs.append(job)
                job_call[jid] = call
            call["jobs"] = jobs
            call["files_read"] = 0
        self._files_read(job_call)
        by_call: dict[int, list[dict]] = {}
        for span in self.spans:
            by_call.setdefault(span["call"], []).append(span)
        for call in calls:
            for span in by_call.get(call["id"], []):
                inside = [
                    j for j in call["jobs"] if span["t0"] <= j["submitted"] <= span["t1"]
                ]
                span["jobs"] = len(inside)
                span["stages"] = sum(j["stages"] for j in inside)
        return totals

    def _files_read(self, job_call: dict[int, dict]) -> None:
        """Sum the scans' "number of files read" over each call's SQL
        executions."""
        if not job_call:
            return
        sql = self.session._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            it = ex.jobs().keysIterator()
            call = None
            while it.hasNext():
                call = job_call.get(int(it.next()))
                if call is not None:
                    break
            if call is None:
                continue
            ids = []
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == FILES_READ_METRIC:
                    ids.append(m.accumulatorId())
            if not ids:
                continue
            values = sql.executionMetrics(ex.executionId())
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    call["files_read"] += int(str(v.get()).replace(",", ""))
