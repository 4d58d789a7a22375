"""The lakota data source with span recording in Spark's Python workers.

Registered under the same format name in traced runs only. Defined at
module level so workers unpickle the classes by reference.
"""

from __future__ import annotations

from lakota_spark.datasource import (
    LakotaArrowWriter,
    LakotaBatchReader,
    LakotaDataSource,
)

from perfbench.tracing import worker_tracer


class TracedReader(LakotaBatchReader):
    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        t = worker_tracer()
        filters = list(filters)
        with t.span("datasource.pushFilters") as sp:
            kept = list(super().pushFilters(filters))
        sp.attrs.update(offered=len(filters), kept=len(kept))
        t.flush()
        return iter(kept)

    def partitions(self):
        t = worker_tracer()
        with t.span("datasource.partitions"):
            parts = super().partitions()
        t.flush()
        return parts


class TracedWriter(LakotaArrowWriter):
    def commit(self, messages):
        t = worker_tracer()
        try:
            with t.span("datasource.writer_commit"):
                return super().commit(messages)
        finally:
            t.flush()


class TracedLakotaDataSource(LakotaDataSource):
    def reader(self, schema):
        return TracedReader(self.options, schema)

    def writer(self, schema, overwrite: bool):
        return TracedWriter(self.options, schema, overwrite)
