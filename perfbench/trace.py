"""Traced mode: spans around the program's public functions, from outside.

A span records its name, start, end and parent. While a span is open on
the driver thread, Spark jobs submitted from that thread carry the span's
job group, so each job lands in the innermost open span. Jobs started from
the program's own thread pools carry no group; they are counted as
``spark.jobs_unattributed`` instead of being dropped.

The status store keeps only the last 100 jobs and stages
(``spark.ui.retainedJobs`` / ``retainedStages`` in the engine conf), so
each span's jobs are read as soon as the span closes. The store is filled
asynchronously from the listener bus, so the bus is drained first; a job
that has still not reached a final status is read again at the next span
end and at :meth:`Tracer.close`. Spans stay in memory and are written out
once, at the end of the run.

The benchmark's own bookkeeping inside a span (the store reads, file
scans) is recorded as ``perfbench.overhead`` child spans, so it is not
counted in the enclosing span's self time.

:meth:`Tracer.patch` swaps a module attribute of the package for a
wrapped version and :meth:`Tracer.close` puts the originals back;
nothing in the package is edited.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: Stage fields summed into each span's Spark metrics.
_STAGE_FIELDS = (
    "numCompleteTasks", "numFailedTasks", "executorRunTime", "executorCpuTime",
    "jvmGcTime", "inputBytes", "outputBytes", "outputRecords", "shuffleReadBytes",
    "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled",
)


class Tracer:
    """Span recorder bound to one SparkSession. Create it where the timed
    region starts: jobs that ran before are not attributed to anything."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()
        self._bus = self._sc._jsc.sc().listenerBus()
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.job_intervals: list[tuple[float, float]] = []
        self._stack: list[dict] = []
        self._seen_jobs = set(self._tracker.getJobIdsForGroup(None))
        self._pending: list[tuple[dict, int, str]] = []  # jobs not yet final
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def begin(self, name: str, **attrs) -> dict:
        self._next_id += 1
        span = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.time(),
            "group": f"perfbench-span-{self._next_id}",
            **attrs,
        }
        self._sc.setLocalProperty("spark.jobGroup.id", span["group"])
        self._stack.append(span)
        return span

    def end(self, span: dict, error: BaseException | None = None) -> None:
        span["end"] = time.time()
        self._stack.remove(span)
        self._sc.setLocalProperty(
            "spark.jobGroup.id", self._stack[-1]["group"] if self._stack else None
        )
        if error is not None:
            span["error"] = type(error).__name__
        with self.overhead():
            self._bus.waitUntilEmpty()
            self._retry_pending()
            span["spark"] = self._read_jobs(span, self._tracker.getJobIdsForGroup(span["group"]))
            if not self._stack:
                loose = [j for j in self._tracker.getJobIdsForGroup(None) if j not in self._seen_jobs]
                self.counts["spark.jobs_unattributed"] += len(loose)
                span["spark_unattributed"] = self._read_jobs(span, loose, "spark_unattributed")
        self.spans.append(span)

    @contextmanager
    def overhead(self):
        """Record the benchmark's own work as a ``perfbench.overhead`` span
        under the innermost open span. It runs no Spark job."""
        start = time.time()
        try:
            yield
        finally:
            self._next_id += 1
            self.spans.append({
                "id": self._next_id, "name": "perfbench.overhead",
                "parent": self._stack[-1]["id"] if self._stack else None,
                "start": start, "end": time.time(), "spark": {},
            })

    def close(self) -> None:
        """Put the wrapped functions back and read the jobs still pending."""
        self.uninstall()
        self._bus.waitUntilEmpty()
        self._retry_pending()
        for span, jid, _key in self._pending:
            span.setdefault("unfinished_jobs", []).append(jid)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        except BaseException as e:
            self.end(s, e)
            raise
        self.end(s)

    def open_span(self, name: str) -> dict | None:
        """The innermost open span called ``name``, if any."""
        for s in reversed(self._stack):
            if s["name"] == name:
                return s
        return None

    def _retry_pending(self) -> None:
        pending, self._pending = self._pending, []
        for span, jid, key in pending:
            figures = self._read_job(jid)
            if figures is None:
                self._pending.append((span, jid, key))
                continue
            for k, v in figures.items():
                span[key][k] = span[key].get(k, 0.0) + v

    def _read_jobs(self, span: dict, job_ids, key: str = "spark") -> dict:
        """Summed Spark figures of the final jobs among ``job_ids``; a job
        that is not final yet is kept pending and later added to
        ``span[key]``."""
        out: dict[str, float] = defaultdict(float)
        for jid in job_ids:
            if jid in self._seen_jobs:
                continue
            self._seen_jobs.add(jid)
            figures = self._read_job(jid)
            if figures is None:
                self._pending.append((span, jid, key))
                continue
            for k, v in figures.items():
                out[k] += v
        return dict(out)

    def _read_job(self, jid: int) -> dict | None:
        """One job's figures summed over its stages, or None while it runs."""
        job = json.loads(self._mapper.writeValueAsString(self._store.job(jid)))
        if job.get("status") not in ("SUCCEEDED", "FAILED"):
            return None
        out: dict[str, float] = defaultdict(float)
        out["jobs"] = 1
        if job.get("submissionTime") and job.get("completionTime"):
            self.job_intervals.append(
                (job["submissionTime"] / 1000.0, job["completionTime"] / 1000.0)
            )
        for sid in job["stageIds"]:
            try:
                stage = json.loads(
                    self._mapper.writeValueAsString(self._store.lastStageAttempt(sid))
                )
            except Py4JJavaError:
                continue  # a skipped stage that never ran has no record
            for f in _STAGE_FIELDS:
                out[f] += stage.get(f) or 0
        return dict(out)

    # -- wrapping --------------------------------------------------------------

    def patch(self, module, attr: str, wrapper_factory) -> None:
        original = getattr(module, attr)
        self._patched.append((module, attr, original))
        setattr(module, attr, wrapper_factory(original))

    def uninstall(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def spanned(self, name: str):
        """Wrapper factory: run the function inside a span called ``name``."""

        def factory(fn):
            def wrapped(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)

            wrapped.__name__ = getattr(fn, "__name__", name)
            return wrapped

        return factory

    # -- summaries -------------------------------------------------------------

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f, indent=1)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_seconds(tracer: Tracer, name: str) -> float:
    """Total duration of spans called ``name`` minus the part of each that
    its child spans cover."""
    children = defaultdict(list)
    for s in tracer.spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return sum(
        (s["end"] - s["start"]) - _union_length(children[s["id"]], s["start"], s["end"])
        for s in tracer.spans
        if s["name"] == name
    )


def span_totals(tracer: Tracer, name: str) -> dict[str, float]:
    """Summed duration (``s``), span count and Spark figures of spans ``name``."""
    out: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        if s["name"] == name:
            out["s"] += s["end"] - s["start"]
            out["n"] += 1
            for k, v in s["spark"].items():
                out[k] += v
    return dict(out)


def spark_totals(tracer: Tracer, lo: float, hi: float) -> dict[str, float]:
    """The ``spark.*`` per-layer figures over the timed region [lo, hi]."""
    tot: dict[str, float] = defaultdict(float)
    for s in tracer.spans:
        for part in (s["spark"], s.get("spark_unattributed", {})):
            for k, v in part.items():
                tot[k] += v
    covered = _union_length(tracer.job_intervals, lo, hi)
    top = [(s["start"], s["end"]) for s in tracer.spans if s["parent"] is None]
    return {
        "spark.jobs": tot["jobs"],
        "spark.jobs_unattributed": tracer.counts["spark.jobs_unattributed"],
        "spark.tasks": tot["numCompleteTasks"] + tot["numFailedTasks"],
        "spark.tasks_failed": tot["numFailedTasks"],
        "spark.executor_run_s": tot["executorRunTime"] / 1e3,
        "spark.executor_cpu_s": tot["executorCpuTime"] / 1e9,
        "spark.gc_s": tot["jvmGcTime"] / 1e3,
        "spark.shuffle_bytes": tot["shuffleReadBytes"] + tot["shuffleWriteBytes"],
        "spark.input_bytes": tot["inputBytes"],
        "spark.output_bytes": tot["outputBytes"],
        "spark.spill_bytes": tot["memoryBytesSpilled"] + tot["diskBytesSpilled"],
        "spark.driver_s": (hi - lo) - covered,
        "trace.top_span_coverage": _union_length(top, lo, hi) / (hi - lo),
    }
