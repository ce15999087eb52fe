"""Traced mode: spans around calls into the engine's layers, recorded
from the benchmark's side by wrapping the engine's public functions,
plus Spark job, task and failed-task counts per operation from job
groups.

Spans are kept in memory and written out once, after the run. The
engine is driven by one client thread; the only other thread that
enters a wrapped function is the streaming ``foreachBatch`` callback,
which runs while the client thread waits in ``awaitTermination``, so a
single span stack is never entered by two threads at once.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

JOB_GROUP_PROPERTY = "spark.jobGroup.id"


class Tracer:
    """Records spans ``(name, start, end, parent, op)`` and the Spark
    job groups each operation ran under. Disabled, it records nothing
    and wraps nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._current: dict | None = None
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        """Use ``sc`` for job groups from now on (a new one per set-up)."""
        self._sc = sc

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)

    @contextmanager
    def span(self, name: str, own_jobs: bool = False):
        """A span around one layer call inside an operation; outside one
        (warm-up, checks) nothing is recorded. With ``own_jobs`` its
        Spark jobs run under a job group of their own, so they can be
        counted apart from the rest of the operation."""
        if not self.enabled or self._current is None:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._current["id"],
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        if own_jobs:
            rec["groups"] = [f"perfbench-span-{len(self.spans) - 1}"]
            self._set_group(rec["groups"][0], name)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if own_jobs:
                self._current["groups"].extend(rec["groups"])
                self._set_group(self._current["groups"][0], self._current["kind"])

    def _set_group(self, group: str, description: str) -> None:
        self._sc.setJobGroup(group, description)

    @contextmanager
    def op(self, kind: str):
        """One benchmark operation: its Spark jobs run under its own job
        group, and its spans carry its id."""
        if not self.enabled:
            yield
            return
        op_id = len(self.ops)
        self._current = {"id": op_id, "kind": kind, "groups": [f"perfbench-op-{op_id}"]}
        self.ops.append(self._current)
        self._set_group(self._current["groups"][0], kind)
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._current = None
            self._set_group("perfbench-idle", "outside operations")

    def note_current_group(self) -> None:
        """Attribute the calling thread's job group to the current
        operation: a streaming query runs its jobs under a group of its
        own, which only its ``foreachBatch`` thread can see."""
        if not self.enabled or not self._current:
            return
        group = self._sc.getLocalProperty(JOB_GROUP_PROPERTY)
        if group and group not in self._current["groups"]:
            self._current["groups"].append(group)

    def count_jobs(self) -> None:
        """Fill in jobs, completed tasks and failed tasks per operation
        and per span that ran its own jobs. Call once after the run,
        before the session stops."""
        if not self.enabled or self._sc is None:
            return
        try:
            # draining the JVM listener bus makes the status store's
            # task counts final
            self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 - fall back to a grace period
            time.sleep(1.0)
        st = self._sc.statusTracker()
        for rec in self.ops + [s for s in self.spans if "groups" in s]:
            jobs = tasks = failed = 0
            for group in rec["groups"]:
                for jid in st.getJobIdsForGroup(group):
                    jobs += 1
                    info = st.getJobInfo(jid)
                    for sid in info.stageIds if info else []:
                        si = st.getStageInfo(sid)
                        if si:
                            tasks += si.numCompletedTasks
                            failed += si.numFailedTasks
            rec.update(jobs=jobs, tasks=tasks, failed_tasks=failed)

    def finished(self, name: str, op: int | None = None) -> list[dict]:
        """Finished spans called ``name``, optionally of one operation."""
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None and (op is None or s["op"] == op)
        ]

    def durations(self, name: str, op: int | None = None) -> list[float]:
        """Durations in seconds of the spans :meth:`finished` returns."""
        return [s["end"] - s["start"] for s in self.finished(name, op)]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)
