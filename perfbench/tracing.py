"""In-memory spans around the public calls the benchmark makes.

A span records name, start, end and its parent span. When a Spark
context is attached, each span runs its calls under its own Spark job
group, so the jobs, stages and tasks a call ran are read back from the
status tracker once the run ends. A span's self time is its duration
minus the time its child spans cover; the layer is the name up to the
first dot (``store.append`` -> ``store``).

``Tracer(enabled=False)`` records nothing and touches no Spark state, so
untraced runs measure the program alone.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Start attributing Spark jobs once the context exists."""
        if self.enabled:
            self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "group": None,
        }
        self.spans.append(rec)
        if self._sc is not None:
            rec["group"] = f"perfbench-{rec['id']}"
            self._sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if rec["group"] is not None:
                outer = next((s["group"] for s in reversed(self._stack)
                              if s["group"] is not None), "perfbench-none")
                self._sc.setJobGroup(outer, "perfbench")

    def finish(self) -> None:
        """Fill in per-span Spark job, stage and task counts. Call once,
        after the last span closed and before the context stops."""
        if self._sc is None:
            return
        _drain_listener_bus(self._sc)
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            jobs = stages = tasks = 0
            if rec["group"] is not None:
                for jid in tracker.getJobIdsForGroup(rec["group"]):
                    jobs += 1
                    info = tracker.getJobInfo(jid)
                    for sid in (info.stageIds if info else []):
                        st = tracker.getStageInfo(sid)
                        # skipped stages (reused shuffle output) run no task
                        if st is not None and st.numCompletedTasks > 0:
                            stages += 1
                            tasks += st.numCompletedTasks
            rec.update(jobs=jobs, stages=stages, tasks=tasks)

    # -------------------------------------------------------------- views
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[int, float]:
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans}

    def layer_self_s(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for sid, t in self.self_times().items():
            out[self.spans[sid]["name"].split(".", 1)[0]] += t
        return dict(out)

    def dump(self) -> list[dict]:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        return [dict(s, start=s["start"] - t0, end=s["end"] - t0)
                for s in self.spans]


def _drain_listener_bus(sc, timeout_ms: int = 30_000) -> None:
    """Wait until Spark's listener bus has delivered every job/stage
    event, so the status tracker's counts are final."""
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(timeout_ms)

