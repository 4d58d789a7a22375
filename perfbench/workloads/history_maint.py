"""history_maint: a git-style workflow over a long history.

Set-up builds a fragmented series of 1,000 commits of 500 rows each,
well past the 600-entry revision payload memo and ``KEEP_HOT=64``, in a
collection that no maintenance step rewrites, and clones the repo into
a fork with ``Repo.pull``. Each cycle
- appends a burst to the working collection on both repos,
- reads the last burst back with ``Series.df(start=<ISO string>)``,
  which takes the Spark fallback of a bounded driver-local read,
- pulls the repo into the fork and merges the fork's two branches,
- reads the fragmented series at earlier ``before=`` points through
  fresh handles,
- runs a Spark ``frame()`` range scan over the fragmented series,
- runs ``defrag`` and ``gc`` on the working collection.

Loads the changelog and snapshot layers the other way from append_tail:
full listings, archive and manifest reads, delta replay from disk,
merges, gc, and Spark over many tiny files. Bypasses: zone maps, the
data source, executor writers.
"""

from __future__ import annotations

import os
import statistics

import numpy as np

from perfbench import storage

N_COMMITS = 1_000
ROWS = 500
BURST = 8  # appends per repo per cycle
TRAVEL_DEPTHS = (0.25, 0.5, 0.75)  # time-travel reads per cycle
FORK_ZONE = 10**8  # the fork appends this many seconds later on the axis
ROW_BYTES = 16


def _values(seed: int, i: np.ndarray) -> np.ndarray:
    return ((i * 7919 + seed) % 10_007) / 8.0


class Workload:
    MIN_CYCLES = 3  # the median then rejects one disturbed cycle

    def __init__(self, spark, bench, seed, work, root):
        self.spark = spark
        self.bench = bench
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.root_a = os.path.join(work, "repo-main")
        self.root_b = os.path.join(work, "repo-fork")
        self.t0 = np.datetime64("2020-01-01T00:00:00", "s")
        self.epochs: list[float] = []  # epoch of each history commit
        self.work_rows = {"a": 0, "b": 0}  # rows appended per repo zone

    # -- data ----------------------------------------------------------

    def _chunk(self, first_row: int) -> dict:
        i = np.arange(first_row, first_row + ROWS, dtype=np.int64)
        return {
            "timestamp": self.t0 + i.astype("m8[s]"),
            "value": _values(self.seed, i),
        }

    def _expect(self, zones: dict) -> tuple[int, float]:
        """Rows and value sum of the working series for rows appended
        so far in the given zones."""
        n = tot = 0
        for zone, rows in zones.items():
            i = np.arange(rows, dtype=np.int64) + (FORK_ZONE if zone == "b" else 0)
            n += rows
            tot += float(_values(self.seed, i).sum())
        return n, tot

    def _open(self, root):
        from lakota_spark import Repo

        return Repo(root, spark=self.spark)

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        from lakota_spark import Schema

        schema = Schema(timestamp="timestamp*", value="float")
        a = self._open(self.root_a)
        hist = a.create_collection(schema, "hist")
        a.create_collection(schema, "work")
        frag = hist.series("frag")
        with self.bench.op("build_history"):
            for k in range(N_COMMITS):
                frag.write(self._chunk(k * ROWS))
                self.epochs.append(hist.changelog.leaf().epoch)
        with self.bench.op("clone"):
            self._open(self.root_b).pull(a)
        # warm the operations whose first run is slow (JIT, Python
        # workers); untimed, still checked
        self._frag_scan()
        self._time_travel(TRAVEL_DEPTHS[0])
        self._burst(self.root_a, "a")
        self._tail_read()

    # -- operations -------------------------------------------------------

    def _burst(self, root, zone: str) -> None:
        w = self._open(root).collection("work").series("w")
        base = FORK_ZONE if zone == "b" else 0
        for _ in range(BURST):
            with self.bench.op("append") as op:
                op.variant = zone  # the repos commit at different costs
                w.write(self._chunk(base + self.work_rows[zone]))
                op.user_bytes = ROWS * ROW_BYTES
            if not op.failed:
                self.work_rows[zone] += ROWS

    def _tail_read(self) -> None:
        first = self.work_rows["a"] - BURST * ROWS
        start = str(self.t0 + np.timedelta64(first, "s"))  # ISO string
        with self.bench.op("tail_read") as op:
            w = self._open(self.root_a).collection("work").series("w")
            op.result = w.df(start=start)
        if not op.failed:
            df = op.result
            i = np.arange(first, self.work_rows["a"], dtype=np.int64)
            want = float(_values(self.seed, i).sum())
            got = float(df["value"].sum())
            self.bench.check(
                op,
                len(df) == len(i) and abs(got - want) <= 1e-9 * want,
                f"tail from row {first}: {len(df)} rows, sum {got} != {want}",
            )
            op.result = None

    def _check_work(self, op, root, zones, what: str) -> None:
        df = self._open(root).collection("work").series("w").df()
        n, tot = self._expect(zones)
        got = float(df["value"].sum())
        self.bench.check(
            op,
            len(df) == n and abs(got - tot) <= 1e-9 * max(abs(tot), 1.0),
            f"{what}: {len(df)} rows, sum {got} != {n} rows, sum {tot}",
        )

    def _time_travel(self, depth: float) -> None:
        # the read cost grows with the point read, so the points sit at
        # fixed depths, jittered by the seed over 1% of the history
        k = int(depth * N_COMMITS) + int(self.rng.integers(-5, 6))
        before = self.epochs[k] + 0.0005  # after commit k, before k+1
        with self.bench.op("time_travel") as op:
            op.variant = f"{depth:g}"  # the read cost grows with depth
            with self.bench.span("repo.open"):
                coll = self._open(self.root_a).collection("hist")
            op.result = coll.series("frag").df(before=before)
        if not op.failed:
            df = op.result
            n = (k + 1) * ROWS
            want = float(_values(self.seed, np.arange(n, dtype=np.int64)).sum())
            got = float(df["value"].sum())
            self.bench.check(
                op,
                len(df) == n and abs(got - want) <= 1e-9 * want,
                f"before commit {k + 1}: {len(df)} rows",
            )
            op.result = None

    def _frag_scan(self) -> None:
        from pyspark.sql import functions as F

        lo = int(self.rng.integers(0, N_COMMITS // 2)) * ROWS
        hi = lo + (N_COMMITS // 4) * ROWS
        start, stop = str(self.t0 + np.timedelta64(lo, "s")), str(
            self.t0 + np.timedelta64(hi, "s")
        )
        with self.bench.op("frag_scan") as op:
            frag = self._open(self.root_a).collection("hist").series("frag")
            op.result = (
                frag.frame(start=start, stop=stop, closed="l")
                .agg(F.count("*"), F.sum("value"))
                .collect()[0]
            )
        if not op.failed:
            n, got = op.result
            want = float(_values(self.seed, np.arange(lo, hi, dtype=np.int64)).sum())
            self.bench.check(
                op,
                n == hi - lo and abs(got - want) <= 1e-9 * want,
                f"frag scan [{lo}, {hi}): {n} rows",
            )
            op.result = None

    def cycle(self, i: int) -> None:
        self._burst(self.root_a, "a")
        self._burst(self.root_b, "b")
        self._tail_read()
        with self.bench.op("pull"):
            self._open(self.root_b).pull(self._open(self.root_a))
        with self.bench.op("merge") as op:
            self._open(self.root_b).collection("work").merge()
        if not op.failed:
            # the merge keeps every write of both repos
            self._check_work(op, self.root_b, dict(self.work_rows), "merged fork")
        for depth in TRAVEL_DEPTHS:
            self._time_travel(depth)
        self._frag_scan()
        with self.bench.op("defrag"):
            self._open(self.root_a).collection("work").defrag()
        with self.bench.op("gc") as gc_op:
            self._open(self.root_a).gc()
        if not gc_op.failed:
            # reads after defrag and gc equal the writes made
            self._check_work(gc_op, self.root_a, {"a": self.work_rows["a"]}, "defrag+gc")

    def finish(self) -> None:
        a = self._open(self.root_a)
        self.state = {
            "hist": storage.log_state(a.collection("hist")),
            "work": storage.log_state(a.collection("work")),
            "fork_work": storage.log_state(
                self._open(self.root_b).collection("work")
            ),
        }
        storage.collect_garbage(a)
        rows = N_COMMITS * ROWS + self.work_rows["a"]
        self.state["disk_bytes"] = storage.disk_bytes(self.root_a)
        self.state["user_bytes"] = rows * ROW_BYTES
        self.state["rows"] = rows
        self.state["working_set"] = {
            "history_revisions": self.state["hist"]["revisions"],
            **storage.memo_sizes(),
        }

    def named(self, m) -> None:
        maint = {}
        for o in self.bench.timed("pull", "merge", "defrag", "gc"):
            maint.setdefault(o.cycle, []).append(o.latency)
        if maint:
            m.value(
                "maint_cycle_s",
                statistics.median(sum(v) for v in maint.values()),
                "s",
                len(maint),
            )
        m.latency("frag_scan_p50_ms", self.bench.timed("frag_scan"), 50)
        m.latency("time_travel_p50_ms", self.bench.timed("time_travel"), 50)
        m.latency("tail_read_p50_ms", self.bench.timed("tail_read"), 50)
        m.value(
            "disk_bytes_per_user_byte",
            self.state["disk_bytes"] / self.state["user_bytes"],
            "ratio",
        )
