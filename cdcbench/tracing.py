"""Traced-mode instrumentation, all of it outside the engine.

* ``Tracer`` keeps spans in memory (name, start, end, parent, Spark jobs
  launched inside) and hands them back at the end of the run.
* ``JobMarks`` counts Spark jobs through the public status tracker.
* ``ProgressCollector`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report Spark emits.
* ``wrap_apply_batch`` puts a span around every ``apply_batch`` call the
  engine makes, so merge phases and counters are seen per call even when
  the call happens inside ``replay_feed`` or a streaming trigger.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

PHASE_ORDER = ("scan", "patch_obs", "plan", "write", "commit")


class JobMarks:
    """Highest Spark job id seen so far, across the default job group and
    the groups of the streaming queries started in this run."""

    def __init__(self, spark):
        self._tracker = spark.sparkContext.statusTracker()
        self.groups: list[str | None] = [None]

    def mark(self) -> int:
        ids = [j for g in self.groups for j in self._tracker.getJobIdsForGroup(g)]
        return max(ids, default=-1)


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op."""

    def __init__(self, enabled: bool, jobs: JobMarks | None = None):
        self.enabled = enabled
        self.jobs = jobs
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        # parent for spans opened on threads with no open span of their
        # own (the streaming callback thread)
        self.default_parent: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else self.default_parent,
            "name": name,
            "start": time.time(),
            "attrs": attrs,
        }
        j0 = self.jobs.mark() if self.jobs else None
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if j0 is not None:
                rec["jobs"] = self.jobs.mark() - j0
            self.spans.append(rec)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span reconstructed after the fact."""
        self.spans.append(
            {"id": next(self._ids), "parent": parent, "name": name, "start": start,
             "end": end, "attrs": attrs}
        )


class ProgressCollector(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` as a dict."""

    def __init__(self, jobs: JobMarks):
        self.jobs = jobs
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.jobs.groups.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drain(self, expected: int) -> None:
        """Wait up to 30 s until the listener bus has delivered ``expected``
        progress reports (events reach the listener asynchronously)."""
        deadline = time.time() + 30
        while len(self.progress) < expected and time.time() < deadline:
            time.sleep(0.05)
        if len(self.progress) < expected:
            raise RuntimeError(
                f"listener saw {len(self.progress)} of {expected} progress reports"
            )


def wrap_apply_batch(tracer: Tracer, table_path: str, calls: list):
    """Patch the engine modules' ``apply_batch`` references with a traced
    wrapper; returns a function that restores them. Calls on the measured
    table are recorded in ``calls`` as (span, MergeStats), with the merge
    phases as child spans laid end to end; other calls pass through."""
    from etl_spark.cdc import apply as apply_mod
    from etl_spark.cdc import stream as stream_mod

    orig = apply_mod.apply_batch

    def traced(spark, table, *a, **k):
        if table.path != table_path:
            return orig(spark, table, *a, **k)
        with tracer.span("cdc.apply") as sp:
            stats = orig(spark, table, *a, **k)
        calls.append((sp, stats))
        t = sp["start"]
        for ph in PHASE_ORDER:
            if ph in stats.phase_sec:
                d = stats.phase_sec[ph]
                tracer.add(f"lake.merge.{ph}", t, t + d, sp["id"], derived=True)
                t += d
        return stats

    apply_mod.apply_batch = traced
    stream_mod.apply_batch = traced

    def restore() -> None:
        apply_mod.apply_batch = orig
        stream_mod.apply_batch = orig

    return restore
