"""Spans and Spark counters for the traced run.

Spans are recorded only around the benchmark's own calls into each layer
and kept in memory until :meth:`Tracer.dump`. Spark counters are read from
outside the program: every traced op runs under its own job group, its
job and stage ids come from ``statusTracker()``, and per-stage task,
CPU, GC, shuffle and spill figures from the local UI's REST ``/stages``
endpoint. A read that fails records ``None``, never a stand-in number.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

COUNTERS = ("jobs", "tasks", "shuffle_bytes", "spill_bytes", "executor_cpu_s", "gc_s")
_DONE = {"COMPLETE", "SKIPPED", "FAILED"}


class Tracer:
    """Collects spans and per-op Spark counters while ``enabled``;
    :meth:`span` and :meth:`op` do nothing otherwise, so untraced passes
    pay nothing."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.counters: dict[str, dict] = {}
        self._stack: list[int] = []
        self._stages_url = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}/stages"
            if self.sc.uiWebUrl
            else None
        )

    def warm_rest(self) -> None:
        """The UI serves its first REST request slowly: make it untimed."""
        if self._stages_url is not None:
            try:
                urllib.request.urlopen(self._stages_url, timeout=30).close()
            except OSError:
                pass  # counter reads will record None

    @contextmanager
    def span(self, name: str, op: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, op: str, label: str):
        """Run one op under job group ``op`` and record its counters."""
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(op, label)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.counters[op] = self._read_counters(op)

    def _read_counters(self, group: str) -> dict:
        from py4j.protocol import Py4JError

        out: dict = dict.fromkeys(COUNTERS)
        st = self.sc.statusTracker()
        try:
            # status events are delivered asynchronously: wait until the
            # listener has seen every job and stage of the op
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = st.getJobIdsForGroup(group)
        except Py4JError:
            return out
        out["jobs"] = len(jobs)
        ids = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                return out
            ids.update(info.stageIds)
        stages = self._rest_stages(ids) if ids else []
        if stages is None:
            return out
        out["tasks"] = sum(s.get("numCompleteTasks", 0) for s in stages)
        out["shuffle_bytes"] = sum(
            s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0) for s in stages
        )
        out["spill_bytes"] = sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in stages
        )
        out["executor_cpu_s"] = sum(s.get("executorCpuTime", 0) for s in stages) / 1e9
        out["gc_s"] = sum(s.get("jvmGcTime", 0) for s in stages) / 1e3
        return out

    def _rest_stages(self, ids: set[int]) -> list[dict] | None:
        if self._stages_url is None:
            return None
        for _ in range(40):
            try:
                with urllib.request.urlopen(self._stages_url, timeout=10) as r:
                    rows = [s for s in json.load(r) if s["stageId"] in ids]
            except (OSError, ValueError):
                return None
            if {s["stageId"] for s in rows} == ids and all(
                s["status"] in _DONE for s in rows
            ):
                return rows
            time.sleep(0.05)
        return None

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters, **extra}, fh)
