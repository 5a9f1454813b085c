"""In-memory span recorder and the wrappers that feed it.

``install`` replaces public methods of the engine's classes with thin
wrappers defined here, so the engine's own files stay untouched. A
wrapper records one span per call while ``Recorder.enabled`` is set and
calls straight through otherwise. Spans of one engine job share its
``job_id`` as the trace id; the parent is the enclosing span on the
same thread.

Spark jobs launched while a task's DataFrame is built are counted by
running the build under a job group of the wrapper's own and reading
it back from ``statusTracker``; the thread's previous job group is
restored afterwards. The result write already runs under the engine
job's group, so its Spark jobs are read from that group.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time

_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


class Recorder:
    """Spans kept in memory until ``snapshot`` is read at the end."""

    def __init__(self) -> None:
        self.enabled = False
        self._spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current_trace(self) -> str | None:
        return getattr(self._local, "trace", None)

    def span(self, name: str, fn, trace_of, attrs_of=None):
        """Run ``fn()`` inside a span; ``trace_of(result)`` names the
        trace (None keeps the thread's current one) and ``attrs_of``
        adds attributes from the result."""
        stack = self._stack()
        span_id = next(self._ids)
        parent = stack[-1] if stack else 0
        stack.append(span_id)
        start = time.time()
        result = None
        try:
            result = fn()
            return result
        finally:
            end = time.time()
            stack.pop()
            trace = trace_of(result)
            if trace:
                self._local.trace = trace
            else:
                trace = self.current_trace()
            attrs = attrs_of(result) if attrs_of is not None else {}
            self._spans.append(
                (name, trace, span_id, parent, threading.get_ident(),
                 start, end, attrs)
            )

    def snapshot(self) -> list[dict]:
        keys = ("name", "trace", "id", "parent", "thread", "start", "end",
                "attrs")
        return [dict(zip(keys, s)) for s in list(self._spans)]


def _wrap(rec: Recorder, cls, meth: str, name: str, trace_of, attrs_of=None):
    orig = getattr(cls, meth)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        if not rec.enabled:
            return orig(*args, **kwargs)
        return rec.span(
            name,
            lambda: orig(*args, **kwargs),
            lambda result: trace_of(args, result),
            attrs_of and (lambda result: attrs_of(args, result)),
        )

    setattr(cls, meth, wrapper)


def _spark_jobs(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def install(rec: Recorder) -> None:
    """Wrap the layer entry points of ``core``, ``jobstore``,
    ``broker`` and ``results``."""
    from dungbeetle_spark.broker import SqliteBroker
    from dungbeetle_spark.core import Core
    from dungbeetle_spark.jobstore import JobStore
    from dungbeetle_spark.results import ParquetResultBackend

    def by_arg(i):
        return lambda args, result: args[i]

    def by_rec(i):
        return lambda args, result: args[i].job_id

    def claimed(args, result):
        return result.job_id if result is not None else None

    _wrap(rec, Core, "new_job", "core.new_job",
          lambda args, result: args[2].job_id)
    _wrap(rec, Core, "read_result", "results.read", by_arg(1))
    _wrap(rec, JobStore, "create", "jobstore.create", by_rec(1))
    _wrap(rec, JobStore, "get", "jobstore.get", by_arg(1))
    _wrap(rec, JobStore, "set_state", "jobstore.set_state", by_arg(1),
          lambda args, result: {"state": args[2]})
    _wrap(rec, JobStore, "claim", "jobstore.claim", claimed,
          lambda args, result: {"hit": result is not None})
    _wrap(rec, SqliteBroker, "check_and_put", "broker.check_and_put",
          by_rec(1))
    _wrap(rec, SqliteBroker, "get", "broker.get", by_arg(1))
    _wrap(rec, SqliteBroker, "mutate", "broker.mutate", by_arg(1))
    _wrap(rec, SqliteBroker, "claim", "broker.claim", claimed)

    build = Core.build_dataframe
    groups = itertools.count(1)

    @functools.wraps(build)
    def build_dataframe(self, *args, **kwargs):
        if not rec.enabled:
            return build(self, *args, **kwargs)
        sc = self.spark.sparkContext
        saved = [sc.getLocalProperty(k) for k in _GROUP_KEYS]
        group = f"jobbench-build-{next(groups)}"
        sc.setJobGroup(group, "jobbench build")
        counted = {}

        def run():
            try:
                return build(self, *args, **kwargs)
            finally:
                counted["spark_jobs"] = _spark_jobs(sc, group)
                for k, v in zip(_GROUP_KEYS, saved):
                    sc.setLocalProperty(k, v)

        return rec.span("build", run, lambda result: None,
                        lambda result: counted)

    Core.build_dataframe = build_dataframe

    write = ParquetResultBackend.write

    @functools.wraps(write)
    def write_result(self, job_id, *args, **kwargs):
        if not rec.enabled:
            return write(self, job_id, *args, **kwargs)
        from pyspark import SparkContext

        def attrs(rows):
            return {
                "rows": rows or 0,
                "spark_jobs": _spark_jobs(SparkContext._active_spark_context,
                                          job_id),
            }

        return rec.span("results.write",
                        lambda: write(self, job_id, *args, **kwargs),
                        lambda result: job_id, attrs)

    ParquetResultBackend.write = write_result
