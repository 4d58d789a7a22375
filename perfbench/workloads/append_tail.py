"""append_tail: an ingest service with a dashboard.

Appends 5,000-row dict-of-numpy chunks to 16 series of one
timestamp-indexed collection through the driver-local write path, and
between appends reads recent windows with ``Series.df(start=<ISO
string>)``, once per cycle through a fresh ``Repo(root)`` handle.

Loads: encode, sha1, publish, overlay, delta/checkpoint commit, archive
and the driver-local read. The bounded read currently falls back to
``frame().toPandas()`` (a tz-aware column compared with a naive
literal); the benchmark measures that as it is. Working set: the
recent delta chain, which fits the 600-entry revision payload memo.
Bypasses: executor writers, zone maps, merges, defrag.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench import storage

N_SERIES = 16
CHUNK = 5_000
# chunks per series written during set-up: commit cost grows with the
# table, so the timed appends start from a table large enough that the
# few hundred they add move it by a few percent, whatever the run length
PREFILL = 32
APPENDS_PER_CYCLE = 64
WINDOW_CHUNKS = 2  # a recent-window read covers the last two chunks


class Workload:
    MIN_CYCLES = 3  # the median then rejects one disturbed cycle

    def __init__(self, spark, bench, seed, work, root):
        self.spark = spark
        self.bench = bench
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.root = os.path.join(work, "repo-append")
        self.t0 = np.datetime64("2024-01-01T00:00:00", "s") + np.timedelta64(
            int(seed % 365), "D"
        )
        self.labels = [f"s{i:02d}" for i in range(N_SERIES)]
        self.n_chunks = {s: 0 for s in self.labels}  # chunks written
        self.user_bytes = 0

    # -- data ----------------------------------------------------------

    def _chunk(self, label: str, j: int) -> dict:
        """Chunk ``j`` of a series: a pure function of (seed, series,
        j), so checks regenerate what they expect."""
        rng = np.random.default_rng([self.seed, int(label[1:]), j])
        ts = self.t0 + np.arange(j * CHUNK, (j + 1) * CHUNK).astype("m8[s]")
        return {
            "timestamp": ts,
            "price": np.round(rng.uniform(10, 500, CHUNK), 4),
            "qty": rng.integers(1, 1_000, CHUNK, dtype=np.int64),
        }

    def _expected(self, label: str, first_chunk: int) -> dict:
        parts = [
            self._chunk(label, j)
            for j in range(first_chunk, self.n_chunks[label])
        ]
        return {
            k: np.concatenate([p[k] for p in parts])
            for k in ("timestamp", "price", "qty")
        }

    # -- operations ------------------------------------------------------

    def _write(self, label: str) -> None:
        self.coll.series(label).write(self._chunk(label, self.n_chunks[label]))
        self.n_chunks[label] += 1
        self.user_bytes += CHUNK * 24

    def _append(self, label: str) -> None:
        data = self._chunk(label, self.n_chunks[label])
        with self.bench.op("append") as op:
            self.coll.series(label).write(data)
            op.user_bytes = CHUNK * 24
        if not op.failed:
            self.n_chunks[label] += 1
            self.user_bytes += CHUNK * 24

    def _window_read(self, kind: str, label: str, fresh: bool) -> None:
        first = max(self.n_chunks[label] - WINDOW_CHUNKS, 0)
        start = str(self._chunk(label, first)["timestamp"][0])  # ISO string
        with self.bench.op(kind) as op:
            if fresh:
                with self.bench.span("repo.open"):
                    coll = self._open().collection("ticks")
            else:
                coll = self.coll
            op.result = coll.series(label).df(start=start)
        if not op.failed:
            self._check(op, label, first)

    def _open(self):
        from lakota_spark import Repo

        return Repo(self.root, spark=self.spark)

    def _check(self, op, label: str, first: int) -> None:
        want = self._expected(label, first)
        got = op.result
        ok = len(got) == len(want["qty"]) and bool(
            np.array_equal(
                got["timestamp"].to_numpy().astype("M8[s]"), want["timestamp"]
            )
            and np.array_equal(got["price"].to_numpy(), want["price"])
            and np.array_equal(got["qty"].to_numpy(), want["qty"])
        )
        self.bench.check(op, ok, f"{label} window from chunk {first}")
        op.result = None

    # -- workload protocol -------------------------------------------------

    def setup(self) -> None:
        from lakota_spark import Schema

        repo = self._open()
        self.coll = repo.create_collection(
            Schema(timestamp="timestamp*", price="float", qty="int"), "ticks"
        )
        with self.bench.op("prefill"):
            for _ in range(PREFILL):
                for label in self.labels:
                    self._write(label)
        for label in self.labels:  # warm the append path
            self._append(label)
        # warm both read paths once (untimed, still checked)
        self._window_read("tail_read", self.labels[0], fresh=False)
        self._window_read("cold_read", self.labels[1], fresh=True)

    def cycle(self, i: int) -> None:
        order = self.rng.permutation(
            np.repeat(np.arange(N_SERIES), APPENDS_PER_CYCLE // N_SERIES)
        )
        half = len(order) // 2
        for k, s in enumerate(order):
            self._append(self.labels[s])
            if k == half:
                self._window_read(
                    "tail_read", self.labels[self.rng.integers(N_SERIES)], False
                )
        self._window_read(
            "cold_read", self.labels[self.rng.integers(N_SERIES)], True
        )

    def finish(self) -> None:
        """Every series reads back exactly as written; then gc and read
        the bytes on disk."""
        coll = self._open().collection("ticks")
        for label in self.labels:
            with self.bench.op("verify") as op:
                op.result = coll.series(label).df()
            if not op.failed:
                self._check(op, label, 0)
        self.state = storage.log_state(coll)
        storage.collect_garbage(self._open())
        self.state["disk_bytes"] = storage.disk_bytes(self.root)
        self.state["user_bytes"] = self.user_bytes
        self.state["rows"] = self.user_bytes // 24
        self.state["working_set"] = {
            "series": N_SERIES,
            "revisions": self.state["revisions"],
            **storage.memo_sizes(),
        }

    def named(self, m) -> None:
        """Named end-to-end metrics of this workload."""
        m.latency("append_p50_ms", self.bench.timed("append"), 50)
        m.latency("append_p99_ms", self.bench.timed("append"), 99)
        m.latency("tail_read_p50_ms", self.bench.timed("tail_read"), 50)
        m.latency("tail_read_p90_ms", self.bench.timed("tail_read"), 90)
        m.latency("cold_read_p50_ms", self.bench.timed("cold_read"), 50)
        m.value(
            "disk_bytes_per_user_byte",
            self.state["disk_bytes"] / self.state["user_bytes"],
            "ratio",
        )
