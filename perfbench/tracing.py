"""Spans recorded from the benchmark's own code.

In traced mode the benchmark wraps public functions of `lakota_spark`
(the list is `default_targets`) so each call records a span: name, start, end,
parent span and operation id. Spans stay in memory and are written out
when the run ends. Nothing here edits the program's files; the wrappers
are installed on the imported classes and modules and removed again.

The lakota data source plans and commits in Spark's Python worker
processes, which the Spark driver process cannot patch. In traced mode the benchmark
registers `TracedLakotaDataSource` under the same format name; its
reader and writer record spans in the worker and append them to a
per-process file under ``$PERFBENCH_SPAN_DIR``, which the run reads
at the end and assigns to operations by time.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_DIR_ENV = "PERFBENCH_SPAN_DIR"


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, id, name, start, end, parent, op, attrs):
        self.id = id
        self.name = name
        self.start = start
        self.end = end
        self.parent = parent
        self.op = op
        self.attrs = attrs

    def to_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}

    @classmethod
    def from_dict(cls, d: dict) -> "Span":
        return cls(**d)


class Tracer:
    """Span recorder. ``recording`` switches spans on and off without
    removing the wrappers, so one run can alternate traced and
    untraced cycles and measure the tracing overhead."""

    def __init__(self, sink: str | None = None):
        self.recording = False
        self.op: str | None = None
        self.spans: list[Span] = []
        self.sink = sink
        self._local = threading.local()
        self._ids = itertools.count()
        self._pid = os.getpid()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.recording:
            yield None
            return
        stack = self._stack()
        sp = Span(
            f"{self._pid}:{next(self._ids)}",
            name,
            time.time_ns(),
            None,
            stack[-1].id if stack else None,
            self.op,
            attrs,
        )
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time_ns()
            stack.pop()
            self.spans.append(sp)

    @contextmanager
    def paused(self):
        was, self.recording = self.recording, False
        try:
            yield
        finally:
            self.recording = was

    # -- wrappers ------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, pre=None, post=None):
        """Replace ``owner.attr`` by a wrapper recording span ``name``.
        ``pre(args, kwargs)`` runs before the span opens and
        ``post(state, args, kwargs, result)`` after it closes, both
        with recording paused; ``post`` returns attributes for the
        span."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.recording:
                return fn(*args, **kwargs)
            state = None
            if pre is not None:
                with tracer.paused():
                    state = pre(args, kwargs)
            with tracer.span(name) as sp:
                result = fn(*args, **kwargs)
            if post is not None:
                with tracer.paused():
                    sp.attrs.update(post(state, args, kwargs, result) or {})
            return result

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._patches.append((owner, attr, raw))

    def install(self) -> "Tracer":
        for owner, attr, name, pre, post in default_targets():
            self.wrap(owner, attr, name, pre, post)
        return self

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # -- worker-side sink ------------------------------------------------

    def flush(self) -> None:
        """Append finished spans to the sink file (worker processes)."""
        if not self.sink or not self.spans:
            return
        with open(self.sink, "a") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp.to_dict()) + "\n")
        self.spans.clear()


def read_worker_spans(span_dir: str) -> list[Span]:
    out = []
    for fn in sorted(os.listdir(span_dir)):
        with open(os.path.join(span_dir, fn)) as fh:
            out.extend(Span.from_dict(json.loads(line)) for line in fh)
    return out


# -- what is wrapped -----------------------------------------------------


def _write_path(state, args, kwargs, result):
    from pyspark.sql import DataFrame

    data = args[1] if len(args) > 1 else kwargs.get("data")
    return {"path": "exec" if isinstance(data, DataFrame) else "local"}


def _bytes_read() -> int:
    from lakota_spark.fsio import BaseFS

    return sum(v for k, v in BaseFS.metrics().items() if k.endswith(".read"))


def _revision_pre(args, kwargs):
    return _bytes_read()


def _revision_post(before, args, kwargs, result):
    # a payload memo hit reads no bytes
    return {"miss": _bytes_read() > before}


def _commit_post(state, args, kwargs, result):
    payload = args[1] if len(args) > 1 else kwargs.get("payload")
    return {
        "checkpoint": payload.get("kind") != "delta",
        "noop": result is None,
    }


def _prune_post(state, args, kwargs, result):
    return {"n_in": len(args[0]), "n_out": len(result)}


def _ls_post(state, args, kwargs, result):
    return {"n": len(result)}


def _archive_post(state, args, kwargs, result):
    return {"archived": bool(result)}


def _live_paths(coll) -> dict:
    return {s.path: s.length for s in coll.snapshot().segments if s.path}


def _defrag_pre(args, kwargs):
    return _live_paths(args[0])


def _defrag_post(before, args, kwargs, result):
    after = _live_paths(args[0])
    return {"rows": sum(n for p, n in after.items() if p not in before)}


def default_targets():
    """(owner, attribute, span name, pre, post) for every wrapped call."""
    from lakota_spark import sexpr, zonemap
    from lakota_spark.changelog import Changelog, Revision
    from lakota_spark.collection import Collection
    from lakota_spark.commit import Snapshot
    from lakota_spark.fsio import FS, BaseFS
    from lakota_spark.repo import Repo
    from lakota_spark.series import Series

    return [
        (Series, "write", "series.write", None, _write_path),
        (Series, "frame", "series.frame", None, None),
        (Series, "df", "series.df", None, None),
        (Collection, "snapshot", "collection.snapshot", None, None),
        (Collection, "apply_segments", "collection.apply_segments", None, None),
        (Collection, "merge", "collection.merge", None, None),
        (Collection, "defrag", "collection.defrag", _defrag_pre, _defrag_post),
        (Snapshot, "overlay", "commit.overlay", None, None),
        (Snapshot, "to_payload", "commit.to_payload", None, None),
        (Changelog, "log", "changelog.log", None, None),
        (Changelog, "commit", "changelog.commit", None, _commit_post),
        (Changelog, "maybe_archive", "changelog.archive", None, _archive_post),
        (Revision, "read", "changelog.revision_read", _revision_pre, _revision_post),
        (BaseFS, "files_sha1", "fsio.sha1", None, None),
        (BaseFS, "combine_sha1", "fsio.sha1", None, None),
        (FS, "ls", "fsio.ls", None, _ls_post),
        (zonemap, "prune", "zonemap.prune", None, _prune_post),
        (zonemap, "prune_kv", "zonemap.prune", None, _prune_post),
        (sexpr, "parse", "sexpr.compile", None, None),
        (sexpr, "to_filter_plan", "sexpr.compile", None, None),
        (Repo, "pull", "repo.pull", None, None),
        (Repo, "gc", "repo.gc", None, None),
    ]


# -- data source planning/commit in Spark's Python workers ---------------

_WORKER: Tracer | None = None


def worker_tracer() -> Tracer:
    """This worker process's tracer: created on first use, wraps the
    same targets as the Spark driver process and sinks to ``$PERFBENCH_SPAN_DIR``."""
    global _WORKER
    if _WORKER is None:
        span_dir = os.environ[SPAN_DIR_ENV]
        _WORKER = Tracer(
            sink=os.path.join(span_dir, f"spans-{os.getpid()}.jsonl")
        ).install()
        _WORKER.recording = True
    return _WORKER


def register_datasource(spark, traced: bool) -> None:
    """Make ``format("lakota")`` available; in traced mode through the
    span-recording subclass."""
    from lakota_spark.datasource import register

    register(spark)  # also enables Python data source filter pushdown
    if traced:
        from perfbench.traced_source import TracedLakotaDataSource

        spark.dataSource.register(TracedLakotaDataSource)
