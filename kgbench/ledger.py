"""Outside-in Spark ledger: per-call deltas read from Spark's status store.

The status store (``sc._jsc.sc().statusStore()``) is populated by the
listener bus even with ``spark.ui.enabled=false``.  A :class:`Ledger`
wraps one call into the library: it drains the listener bus, remembers
the newest stage and job ids, runs the call, drains again and sums the
metrics of every stage and job created in between.  Spans nest; each
records name, start, end, parent and its ledger delta, and all of them
are kept in memory until the run writes its sidecar file.

Nothing here changes what Spark executes: the only extra JVM work is the
listener-bus drain and the status-store listing, which is why traced
runs report ``trace_overhead_s`` separately from the untraced timings.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "numTasks",
    "executorRunTime",       # ms, summed over tasks
    "executorCpuTime",       # ns, JVM threads only (Python workers excluded)
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
)


class Ledger:
    """Status-store reader plus an in-memory span list for one session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._store = self._jsc.statusStore()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    # ----------------------------------------------------------- reading ---
    def drain(self) -> None:
        """Wait until every posted listener event reached the store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _stage_seq(self):
        return self._store.stageList(
            None, False, False,
            self._gw.new_array(self._gw.jvm.double, 0),
            self._gw.jvm.java.util.ArrayList(),
        )

    # Both listings come back newest first, so a scan stops at the mark.
    def _marks(self) -> tuple[int, int]:
        self.drain()
        stages = self._stage_seq()
        jobs = self._store.jobsList(None)
        s = stages.apply(0).stageId() if stages.size() else -1
        j = jobs.apply(0).jobId() if jobs.size() else -1
        return s, j

    def stages_after(self, mark: int, summaries: bool = False) -> list[dict]:
        """Every retained stage with stageId > mark, as plain dicts."""
        seq = self._stage_seq()
        out = []
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid <= mark:
                break
            row = {"stage": sid, "status": str(s.status()), "name": s.name()}
            for f in STAGE_FIELDS:
                row[f] = int(getattr(s, f)())
            if summaries and row["status"] == "COMPLETE" and row["numTasks"] > 0:
                row["max_task_ms"] = self._max_task_ms(sid, s.attemptId())
            out.append(row)
        return out

    def _max_task_ms(self, sid: int, attempt: int) -> float:
        q = self._gw.new_array(self._gw.jvm.double, 1)
        q[0] = 1.0
        dist = self._store.taskSummary(sid, attempt, q)
        if dist.isEmpty():
            return 0.0
        return float(dist.get().executorRunTime().apply(0))

    def jobs_after(self, mark: int) -> list[dict]:
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= mark:
                break
            out.append({"job": j.jobId(), "name": j.name(), "numTasks": j.numTasks()})
        return sorted(out, key=lambda r: r["job"])

    # ------------------------------------------------------------- spans ---
    @contextmanager
    def span(self, name: str, summaries: bool = False):
        """Record one call: wall time plus the stages and jobs it ran.

        Yields the span dict; callers may add counts to ``span["counts"]``.
        """
        stage_mark, job_mark = self._marks()
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "counts": {}}
        self.spans.append(rec)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self.drain()
            stages = self.stages_after(stage_mark, summaries=summaries)
            rec["jobs"] = self.jobs_after(job_mark)
            rec["stages"] = stages
            rec["delta"] = summarize(stages, rec["jobs"])

    def session_totals(self) -> dict:
        """Whole-session job and task totals over the retained history."""
        self.drain()
        jobs = self.jobs_after(-1)
        stages = self.stages_after(-1)
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numTasks"] for s in stages if s["status"] == "COMPLETE"),
            "stages": sum(1 for s in stages if s["status"] == "COMPLETE"),
        }


def summarize(stages: list[dict], jobs: list[dict]) -> dict:
    """Sum a stage list into the per-layer metric set."""
    done = [s for s in stages if s["status"] == "COMPLETE"]
    task_ms = sum(s["executorRunTime"] for s in done)
    cpu_ns = sum(s["executorCpuTime"] for s in done)
    return {
        "stages": len(done),
        "jobs": len(jobs),
        "tasks": sum(s["numTasks"] for s in done),
        "task_s": task_ms / 1e3,
        "jvm_cpu_s": cpu_ns / 1e9,
        "jvm_cpu_share": (cpu_ns / 1e6) / task_ms if task_ms else 0.0,
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in done),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in done),
        "spill_bytes": sum(s["memoryBytesSpilled"] for s in done),
        "max_task_s": max((s.get("max_task_ms", 0.0) for s in done), default=0.0) / 1e3,
    }

