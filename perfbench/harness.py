"""Operation accounting for one benchmark run.

Every timed call of a workload runs inside ``Bench.op(kind)``, which
- tags the Spark jobs it starts with a job group named after the op,
- clears `Series.df_fallbacks` so its growth is the op's own,
- times the call and counts, exactly: Spark jobs and tasks (status
  tracker, after the listener bus drains), `BaseFS.metrics()` bytes and
  fallbacks taken,
- turns an exception into a failed operation instead of ending the run.

A workload is a closed loop with one client: `Bench.loop` runs whole
cycles of a fixed op schedule until ``--seconds`` have passed.
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Op:
    kind: str
    id: str
    variant: str = ""
    cycle: int = -1
    traced: bool = False
    start_ns: int = 0
    end_ns: int = 0
    seconds: float = 0.0
    failed: bool = False
    error: str = ""
    jobs: int = 0
    tasks: int = 0
    job_ids: list = field(default_factory=list)
    fs_read: int = 0
    fs_write: int = 0
    fallbacks: int = 0
    user_bytes: int = 0
    rows: int = 0
    result: object = None

    @property
    def latency(self) -> float:
        """Seconds; a failed op misses every latency limit."""
        return math.inf if self.failed else self.seconds


class Bench:
    def __init__(self, spark, tracer=None):
        from lakota_spark.fsio import BaseFS
        from lakota_spark.series import Series

        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.tracer = tracer
        self.ops: list[Op] = []
        self.cycles: list[dict] = []
        self.errors: list[str] = []
        self._series_cls = Series
        self._fs = BaseFS
        self._n = 0
        self.ungrouped = 0

    # -- one operation -----------------------------------------------------

    def _drain(self) -> None:
        # the status store is fed by the listener bus: wait for it so the
        # per-op job/task counts are exact, not a race with the bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def ungrouped_jobs(self) -> int:
        """Jobs that ran outside every op's job group. Every Spark call
        of the program comes from the calling thread, so this stays 0
        and the per-op group counts are complete; the detail record
        reports it."""
        return len(self.status.getJobIdsForGroup(None))

    @contextmanager
    def op(self, kind: str):
        self._n += 1
        o = Op(kind, f"op{self._n:06d}-{kind}")
        fallbacks = self._series_cls.df_fallbacks
        fallbacks.clear()
        fs0 = self._fs.metrics()
        self.sc.setJobGroup(o.id, kind)
        if self.tracer is not None:
            self.tracer.op = o.id
        o.start_ns = time.time_ns()
        t0 = time.perf_counter()
        try:
            yield o
        except Exception as exc:  # noqa: BLE001 - a failed op is data
            o.failed = True
            o.error = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        finally:
            o.seconds = time.perf_counter() - t0
            o.end_ns = time.time_ns()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            if self.tracer is not None:
                self.tracer.op = None
            self._drain()
            o.job_ids = sorted(self.status.getJobIdsForGroup(o.id))
            o.jobs = len(o.job_ids)
            o.tasks = self._tasks(o.job_ids)
            fs1 = self._fs.metrics()
            o.fs_read = _delta(fs0, fs1, ".read")
            o.fs_write = _delta(fs0, fs1, ".write")
            o.fallbacks = len(fallbacks)
            self.ops.append(o)
            if o.failed:
                self.errors.append(f"{o.id}: {o.error}")

    def _tasks(self, jobs) -> int:
        n = 0
        for j in jobs:
            info = self.status.getJobInfo(j)
            if info is None:
                continue
            for s in list(info.stageIds):
                st = self.status.getStageInfo(s)
                if st is not None:
                    n += st.numCompletedTasks
        return n

    @contextmanager
    def span(self, name: str):
        """A benchmark-level span (no-op when untraced)."""
        if self.tracer is None:
            yield None
        else:
            with self.tracer.span(name) as sp:
                yield sp

    def check(self, op: Op, ok: bool, what: str) -> None:
        """Record an output check: a mismatch fails the operation."""
        if ok or op.failed:
            return
        op.failed = True
        op.error = f"wrong output: {what}"
        self.errors.append(f"{op.id}: {op.error}")

    # -- the closed loop ---------------------------------------------------

    def loop(self, seconds: float, cycle, min_cycles: int) -> None:
        """Run ``cycle(i)`` until ``seconds`` have passed (whole cycles,
        at least ``min_cycles``). With a tracer, even cycles record spans
        and odd ones do not, so the run also measures tracing overhead."""
        deadline = time.perf_counter() + seconds
        i = 0
        while i < min_cycles or time.perf_counter() < deadline:
            traced = self.tracer is not None and i % 2 == 0
            if self.tracer is not None:
                self.tracer.recording = traced
            n0 = len(self.ops)
            cycle(i)
            ops = self.ops[n0:]
            for o in ops:
                o.cycle = i
                o.traced = traced
            self.cycles.append(
                {
                    "i": i,
                    "traced": traced,
                    # pure operation time: checks between ops excluded
                    "seconds": sum(o.seconds for o in ops),
                    "failed": sum(o.failed for o in ops),
                }
            )
            i += 1
        if self.tracer is not None:
            self.tracer.recording = False

    # -- summaries ---------------------------------------------------------

    def timed(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.cycle >= 0 and o.kind in kinds]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(o.failed for o in self.ops)


def _delta(before: dict, after: dict, suffix: str) -> int:
    return sum(
        v - before.get(k, 0) for k, v in after.items() if k.endswith(suffix)
    )
