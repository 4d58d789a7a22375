"""corpus_ops: passes over a fixed list of declared queries.

Runs queries from ``__spark_entry__.queries()`` over a seeded synthetic
corpus (`perfbench.corpus_data`), each pass in seeded order, into a noop
sink. Each query's result is compared once per run, outside the timed
region, with its DuckDB ``oracle_sql()`` twin.

Loads: `operators/` and `queries/`, where most of the code and the open
performance backlog live. Bypasses the storage engine.

`scan_query` runs the `GATED` queries through `Corpus` too, so the
queries layer is measured on a workload `BENCHMARK.json` lists; this one
runs the longer list (see README.md).
"""

from __future__ import annotations

import os
import statistics

import numpy as np

#: run by `scan_query` too: the cheapest declared query (cold and warm),
#: so the operators layer costs the benchmark's time budget least
GATED = ("cosine_topk",)
#: the full pass adds candidate generation for near-duplicate pairs
#: (ROADMAP item 5) and an anti-scaling rung (item 3)
QUERIES = GATED + ("minhash_dedup_pairs", "bpe_packed_sequences")


class Corpus:
    """The synthetic corpus, its declared queries and their oracles."""

    def __init__(self, spark, bench, seed: int, data_dir: str, queries):
        self.spark = spark
        self.bench = bench
        self.seed = seed
        self.data = data_dir
        self.queries = tuple(queries)

    def prepare(self) -> None:
        """Write the corpus, then run every query once (untimed): the
        first execution builds the per-corpus caches and warms the JVM,
        and its collected result is checked against the oracle."""
        import __spark_entry__ as entry

        from perfbench.corpus_data import write_corpus

        self.rows = write_corpus(self.data, self.seed)
        self.fns = {q: entry.queries()[q] for q in self.queries}
        self.oracles = entry.oracle_sql()
        for q in self.queries:
            with self.bench.op("query") as op:
                op.variant = q
                op.result = self.fns[q](self.spark, self.data).toPandas()
            if not op.failed:
                self._check(op, q)

    def _check(self, op, q: str) -> None:
        import duckdb

        from perfbench.oracle import mismatch

        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data, t)}.parquet'"
                )
            want = con.execute(self.oracles[q]).df()
        finally:
            con.close()
        why = mismatch(op.result, want)
        self.bench.check(op, why is None, f"{q} vs oracle: {why}")
        op.result = None

    def run(self, q: str) -> None:
        """One timed execution into the noop sink."""
        with self.bench.op("query") as op:
            op.variant = q
            self.fns[q](self.spark, self.data).write.format("noop").mode(
                "overwrite"
            ).save()


class Workload:
    MIN_CYCLES = 2
    QUERIES = QUERIES

    def __init__(self, spark, bench, seed, work, root):
        self.bench = bench
        self.rng = np.random.default_rng(seed)
        self.corpus = Corpus(
            spark, bench, seed, os.path.join(work, "corpus"), QUERIES
        )

    def setup(self) -> None:
        self.corpus.prepare()

    def cycle(self, i: int) -> None:
        for q in self.rng.permutation(QUERIES):
            self.corpus.run(str(q))

    def finish(self) -> None:
        self.state = {"rows": self.corpus.rows, "queries": list(QUERIES)}

    def named(self, m) -> None:
        passes: dict = {}
        for o in self.bench.timed("query"):
            passes.setdefault(o.cycle, []).append(o.latency)
        if passes:
            m.value(
                "corpus_pass_s",
                statistics.median(sum(v) for v in passes.values()),
                "s",
                len(passes),
            )
        for q in QUERIES:
            ops = [o for o in self.bench.timed("query") if o.variant == q]
            m.latency(f"queries.{q}_p50_ms", ops, 50)
