"""scan_query: Spark-side analytics over one large series.

Set-up ingests a 1M-row series (timestamp index plus float, int and str
columns) as two segments, one through ``Series.write(DataFrame)`` and
one through ``df.write.format("lakota")``. Each cycle runs the query mix (`QUERY_KINDS`) in
seeded order, then one 250k-row ingest through each executor writer
into a separate collection, so the queried data stays fixed.

Each cycle also runs the declared query `corpus_ops.GATED` over the
seeded synthetic corpus (`corpus_ops.Corpus`), so the operators layer is
measured on a workload `BENCHMARK.json` lists.

Loads: the read, prune and executor-write layers (ordered mapInArrow
scan, zone maps, s-expr compile, data source planning and commit) and
one declared operator pipeline. Nearly bypasses: the changelog (one
revision per ingest).

Every input column is a closed form of the row number, so each query's
expected answer is computed with numpy from the same formulas.
"""

from __future__ import annotations

import os

import numpy as np

from perfbench.workloads.corpus_ops import GATED, Corpus

N_MAIN = 1_000_000  # rows in the queried series
N_INGEST = 250_000  # rows per timed ingest
BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z
N_TAGS = 50

#: query kind -> the main-series segment its window lies in; the two
#: segments were written by different writers and read at different
#: costs, so each kind always reads the same one
QUERY_KINDS = {
    "q_sorted_range": 0,
    "q_masked": 0,  # its mask prunes segment 1 whatever the window
    "q_datasource": 1,
}


class Workload:
    MIN_CYCLES = 3  # the median then rejects one disturbed cycle

    def __init__(self, spark, bench, seed, work, root):
        self.spark = spark
        self.bench = bench
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.root = os.path.join(work, "repo-scan")
        self.corpus = Corpus(spark, bench, seed, os.path.join(work, "corpus"), GATED)
        self.ingested: dict[str, int] = {}
        self.next_ingest_id = 0

    # -- generated data: closed forms of the row number ------------------

    def _np_cols(self, ids: np.ndarray) -> dict:
        s = self.seed
        return {
            "value": (ids // 100) + ((ids * 104729 + s) % 100) / 100.0,
            "qty": (ids * 7919 + s * 13) % 1000,
            "tag": (ids * 31 + s) % N_TAGS,
        }

    def _frame(self, lo: int, hi: int, parts: int):
        from pyspark.sql import functions as F

        s = self.seed
        ids = F.col("id")
        return self.spark.range(lo, hi, numPartitions=parts).select(
            F.timestamp_seconds(F.lit(BASE_EPOCH) + ids).alias("timestamp"),
            ((ids / 100).cast("long") + ((ids * 104729 + s) % 100) / 100.0).alias(
                "value"
            ),
            ((ids * 7919 + s * 13) % 1000).alias("qty"),
            F.concat(F.lit("t"), ((ids * 31 + s) % N_TAGS).cast("string")).alias(
                "tag"
            ),
        )

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        from lakota_spark import Repo, Schema

        from perfbench.tracing import register_datasource

        register_datasource(self.spark, traced=self.bench.tracer is not None)
        self.repo = Repo(self.root, spark=self.spark)
        schema = Schema(timestamp="timestamp*", value="float", qty="int", tag="str")
        self.main = self.repo.create_collection(schema, "facts").series("main")
        # one segment through each executor writer (the data source writer
        # stages a segment per partition), which also warms both
        step = N_MAIN // 2
        with self.bench.op("setup_ingest"):
            self.main.write(self._frame(0, step, 4))
        with self.bench.op("setup_ingest"):
            self._write_datasource(self._frame(step, N_MAIN, 4), "facts/main", 1)
        self.ingest = self.repo.create_collection(schema, "ingest")
        self.cols = self._np_cols(np.arange(N_MAIN, dtype=np.int64))
        # warm every query kind once (untimed, checked)
        for kind, seg in QUERY_KINDS.items():
            self._query(kind, seg)
        # and one ingest through each writer: the first ones into the
        # ingest collection run a third slower than the rest
        self._ingest()
        self._ingest()
        self.corpus.prepare()

    # -- operations -------------------------------------------------------

    def _ts(self, i: int) -> str:
        return str(np.datetime64(BASE_EPOCH + int(i), "s"))

    def _window(self, seg: int):
        """A quarter of the series inside segment ``seg`` (the two were
        written by different writers and read at different costs), at a
        seeded position: the position varies, the work does not."""
        half = N_MAIN // 2
        lo = seg * half + int(self.rng.integers(0, half // 2))
        return lo, lo + half // 2

    def _query(self, kind: str, seg: int) -> None:
        from pyspark.sql import functions as F

        c = self.cols
        lo, hi = self._window(seg)
        sel = slice(lo, hi)
        b = self.bench
        with b.op("query") as op:
            op.variant = kind
            if kind == "q_sorted_range":
                row = (
                    self.main.frame(start=self._ts(lo), stop=self._ts(hi), closed="l")
                    .agg(
                        F.count("*"),
                        F.sum("qty"),
                        F.min(F.col("timestamp").cast("long")),
                    )
                    .collect()[0]
                )
                got = tuple(row)
                want = (hi - lo, int(c["qty"][sel].sum()), BASE_EPOCH + lo)
            elif kind == "q_masked":
                # value grows with the row number, so a cut inside the
                # first segment lets zone maps prune the second. (`>` and
                # `>=` on a float column never prune: stats cannot see NaN,
                # which Spark orders greatest.)
                cut = float(c["value"][N_MAIN // 8 + lo % (N_MAIN // 4)])
                row = (
                    self.main.frame(mask=f"(< self.value {cut})", sort=False)
                    .agg(F.count("*"), F.sum("qty"))
                    .collect()[0]
                )
                m = c["value"] < cut
                got = (row[0], row[1])
                want = (int(m.sum()), int(c["qty"][m].sum()))
            elif kind == "q_datasource":
                tag = int(self.rng.integers(N_TAGS))
                df = (
                    self.spark.read.format("lakota")
                    .option("path", self.repo.root)
                    .option("table", "facts/main")
                    .load()
                )
                row = (
                    df.where(
                        (F.col("timestamp") >= self._ts(lo))
                        & (F.col("timestamp") < self._ts(hi))
                        & (F.col("tag") == f"t{tag}")
                    )
                    .agg(F.count("*"), F.sum("qty"))
                    .collect()[0]
                )
                m = c["tag"][sel] == tag
                got = (row[0], row[1] or 0)
                want = (int(m.sum()), int(c["qty"][sel][m].sum()))
            op.result = (got, want)
        if not op.failed:
            got, want = op.result
            self.bench.check(op, _same(got, want), f"{kind}: {got} != {want}")
            op.result = None

    def _write_datasource(self, df, table: str, parts: int = 4) -> None:
        from pyspark.sql import functions as F

        (
            df.repartitionByRange(parts, F.col("timestamp"))
            .write.format("lakota")
            .option("path", self.repo.root)
            .option("table", table)
            .mode("append")
            .save()
        )

    def _ingest(self) -> None:
        i = self.next_ingest_id
        self.next_ingest_id += 1
        label = f"in{i % 4}"
        # each ingest appends a fresh time range after the series' data
        lo = N_MAIN + self.ingested.get(label, 0) + (i % 4) * 10**9
        df = self._frame(lo, lo + N_INGEST, 4)
        via = "series" if i % 2 == 0 else "datasource"
        with self.bench.op("ingest") as op:
            op.variant = via
            if via == "series":
                self.ingest.series(label).write(df)
            else:
                self._write_datasource(df, f"ingest/{label}")
            op.rows = N_INGEST
            op.user_bytes = N_INGEST * 26
        if not op.failed:
            self.ingested[label] = self.ingested.get(label, 0) + N_INGEST

    def cycle(self, i: int) -> None:
        for kind in self.rng.permutation(list(QUERY_KINDS)):
            self._query(str(kind), QUERY_KINDS[str(kind)])
        for q in GATED:
            self.corpus.run(q)
        self._ingest()
        self._ingest()

    def finish(self) -> None:
        from pyspark.sql import functions as F

        for label, n in sorted(self.ingested.items()):
            with self.bench.op("verify") as op:
                got = (
                    self.ingest.series(label)
                    .frame(sort=False)
                    .agg(F.count("*"))
                    .collect()[0][0]
                )
            if not op.failed:
                self.bench.check(op, got == n, f"ingest/{label}: {got} != {n}")
        from perfbench import storage

        self.state = {
            "main_rows": N_MAIN,
            "ingested_rows": sum(self.ingested.values()),
            "facts": storage.log_state(self.main.collection),
            "ingest": storage.log_state(self.ingest),
            "disk_bytes": storage.disk_bytes(self.root),
        }

    def named(self, m) -> None:
        queries = [o for o in self.bench.timed("query") if o.variant in QUERY_KINDS]
        m.latency("query_p50_ms", queries, 50)
        m.latency("query_p90_ms", queries, 90)
        for q in GATED:
            ops = [o for o in self.bench.timed("query") if o.variant == q]
            m.latency(f"queries.{q}_p50_ms", ops, 50)
        ingests = self.bench.timed("ingest")
        secs = sum(o.seconds for o in ingests if not o.failed)
        rows = sum(o.rows for o in ingests if not o.failed)
        if secs:
            m.value("ingest_rows_per_s", rows / secs, "1/s", len(ingests))


def _same(a, b) -> bool:
    """Equal, with floats equal to a relative 1e-9 (Spark and numpy sum
    in different orders)."""
    if isinstance(a, (tuple, list)) and isinstance(b, (tuple, list)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1.0)
    return a == b
