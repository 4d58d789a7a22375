"""Turn one run's operations, spans and Spark event log into metrics."""

from __future__ import annotations

import json
import os
import platform
import statistics
import sys

from perfbench.stats import percentile, self_times, supported, covered


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# -- end to end -----------------------------------------------------------


def end_to_end(setup_s: float, bench) -> dict:
    """The gated metrics, defined the same way on every workload:
    set-up time and the time of one cycle of the workload's fixed
    operation schedule."""
    return {
        "setup_s": _metric(setup_s, "s"),
        "cycle_s": _metric(median_cycle(bench), "s"),
    }


def median_cycle(bench) -> float:
    """One cycle built from medians: for each operation kind and
    variant, its median latency over the untraced cycles times the
    number of times one cycle runs it. Every operation of the run is a
    sample, not only one sum per cycle, so a disturbed operation moves
    the figure less than it moves its cycle."""
    plain = {c["i"] for c in bench.cycles if not c["traced"]}
    groups: dict = {}
    for o in bench.ops:
        if o.cycle in plain:
            groups.setdefault((o.kind, o.variant), []).append(o.seconds)
    return sum(
        len(v) / len(plain) * statistics.median(v) for v in groups.values()
    )


class Named:
    """The named metrics of a workload, with sample counts. A
    percentile without MIN_TAIL samples beyond it is dropped, not
    reported."""

    def __init__(self):
        self.metrics: dict = {}
        self.dropped: dict = {}

    def latency(self, name: str, ops, q: float) -> None:
        vals = [o.latency for o in ops]
        if not supported(len(vals), q):
            self.dropped[name] = f"{len(vals)} samples"
            return
        self.metrics[name] = {
            "value": percentile(vals, q) * 1e3,
            "unit": "ms",
            "n": len(vals),
        }

    def value(self, name: str, v: float, unit: str, n: int | None = None):
        self.metrics[name] = {"value": v, "unit": unit, "n": n}


def _kind_counters(bench) -> dict:
    """Per op kind: counts per operation. Jobs, tasks, FS bytes and
    fallbacks repeat exactly under one seed; times do not."""
    groups: dict = {}
    for o in bench.ops:
        if o.cycle >= 0:
            key = f"{o.kind}:{o.variant}" if o.variant else o.kind
            groups.setdefault(key, []).append(o)
    out = {}
    for key, ops in sorted(groups.items()):
        n = len(ops)
        out[key] = {
            "ops": n,
            "p50_ms": percentile([o.latency for o in ops], 50) * 1e3,
            "jobs_per_op": sum(o.jobs for o in ops) / n,
            "tasks_per_op": sum(o.tasks for o in ops) / n,
            "fs_read_bytes_per_op": sum(o.fs_read for o in ops) / n,
            "fs_write_bytes_per_op": sum(o.fs_write for o in ops) / n,
            "df_fallbacks_per_op": sum(o.fallbacks for o in ops) / n,
        }
    return out


def regime(args, cpus: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "regime": f"local-{cpus}core",
        "cpus": cpus,
        "spark_master": f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "machine": platform.machine(),
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def detail(args, cpus, session_s, setup_s, bench, wl) -> dict:
    named = Named()
    named.value("setup_s", setup_s, "s")
    named.value(
        "op_error_rate", bench.failed / max(bench.attempted, 1), "ratio",
        bench.attempted,
    )
    wl.named(named)
    return {
        "workload": args.workload,
        "regime": regime(args, cpus),
        "session_start_s": session_s,
        "cycles": len(bench.cycles),
        "ungrouped_spark_jobs": bench.ungrouped,
        "named_metrics": named.metrics,
        "dropped": named.dropped,
        "counters": _kind_counters(bench),
        "state": getattr(wl, "state", {}),
        "errors": bench.errors[:20],
    }


# -- per layer --------------------------------------------------------------


def _mean(xs, default=0.0) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


def _ms(ns) -> float:
    return ns / 1e6


def read_event_log(work: str) -> dict:
    """Jobs (group, submit, end, stages) and per-stage task records from
    the Spark event log of a traced run."""
    jobs, tasks = {}, {}
    d = os.path.join(work, "eventlog")
    for fn in sorted(os.listdir(d)) if os.path.isdir(d) else ():
        with open(os.path.join(d, fn)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"],
                        "end": None,
                        "stages": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        {
                            "ms": info.get("Finish Time", 0)
                            - info.get("Launch Time", 0),
                            "run_ms": m.get("Executor Run Time", 0),
                            "shuffle_write": (
                                m.get("Shuffle Write Metrics") or {}
                            ).get("Shuffle Bytes Written", 0),
                        }
                    )
    return {"jobs": jobs, "tasks": tasks}


def _op_spark(op, log) -> dict:
    """Event-log view of one op: its jobs' stages, tasks and idle time."""
    jobs = [log["jobs"][j] for j in op.job_ids if j in log["jobs"]]
    stages = sorted({s for j in jobs for s in j["stages"]})
    recs = [t for s in stages for t in log["tasks"].get(s, ())]
    start_ms, end_ms = op.start_ns / 1e6, op.end_ns / 1e6
    busy = covered(
        (max(j["submit"], start_ms), min(j["end"] or end_ms, end_ms))
        for j in jobs
    )
    skews = []
    for s in stages:
        durs = [t["ms"] for t in log["tasks"].get(s, ())]
        if len(durs) >= 2 and statistics.median(durs) > 0:
            skews.append(max(durs) / statistics.median(durs))
    return {
        "stages": sum(1 for s in stages if log["tasks"].get(s)),
        "tasks": len(recs),
        "run_ms": sum(t["run_ms"] for t in recs),
        "shuffle_write": sum(t["shuffle_write"] for t in recs),
        "idle_ms": (end_ms - start_ms) - busy,
        "skews": skews,
    }


#: every per-layer metric, in the order BENCHMARK.json lists them
LAYER_METRICS = (
    ("series.write_local_self_ms", "ms"),
    ("series.write_exec_ms", "ms"),
    ("series.write_exec_jobs", "count"),
    ("series.read_plan_ms", "ms"),
    ("series.df_fallbacks_per_read", "count"),
    ("collection.commit_self_ms", "ms"),
    ("collection.snapshot_ms", "ms"),
    ("collection.snapshot_revision_reads", "count"),
    ("collection.merge_ms", "ms"),
    ("collection.defrag_ms", "ms"),
    ("collection.defrag_rows_rewritten", "count"),
    ("commit.overlay_calls", "count"),
    ("commit.overlay_ms", "ms"),
    ("commit.to_payload_ms", "ms"),
    ("changelog.commit_ms", "ms"),
    ("changelog.checkpoint_share", "ratio"),
    ("changelog.archive_ms", "ms"),
    ("changelog.log_ms", "ms"),
    ("changelog.files_listed_per_log", "count"),
    ("fsio.bytes_written_per_user_byte", "ratio"),
    ("fsio.bytes_read_per_op", "bytes"),
    ("fsio.ls_calls_per_op", "count"),
    ("fsio.sha1_ms", "ms"),
    ("zonemap.segments_in", "count"),
    ("zonemap.pruned_share", "ratio"),
    ("zonemap.prune_ms", "ms"),
    ("sexpr.compile_ms", "ms"),
    ("datasource.plan_ms", "ms"),
    ("datasource.pushed_filter_share", "ratio"),
    ("datasource.writer_commit_ms", "ms"),
    ("repo.open_ms", "ms"),
    ("repo.pull_ms", "ms"),
    ("repo.gc_ms", "ms"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.task_skew", "ratio"),
    ("spark.idle_ms", "ms"),
)

#: per declared query, next to its median latency: its Spark stage table
QUERY_STATS = (
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_run_ms", "ms"),
    ("shuffle_write_bytes", "bytes"),
)


def layer_names(queries) -> list[tuple[str, str]]:
    names = list(LAYER_METRICS)
    for q in queries:
        names.append((f"queries.{q}_ms", "ms"))
        names.extend((f"queries.{q}.{k}", u) for k, u in QUERY_STATS)
    names.append(("trace.overhead_share", "ratio"))
    return names


def _by_name(spans, name):
    return [s for s in spans if s.name == name]


def per_layer(bench, wl, tracer, work) -> dict:
    """Layer metrics from the traced cycles of a traced run. ``_ms``
    values are mean milliseconds per call (busy time / calls); a layer
    the workload does not reach reports 0."""
    from perfbench.tracing import read_worker_spans

    ops = [o for o in bench.ops if o.cycle >= 0 and o.traced]
    op_ids = {o.id for o in ops}
    spans = [s for s in tracer.spans if s.op in op_ids]
    # worker spans carry no op: assign them by time
    for s in read_worker_spans(os.path.join(work, "spans")):
        for o in ops:
            if o.start_ns <= s.start and s.end <= o.end_ns:
                s.op = o.id
                spans.append(s)
                break
    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    log = read_event_log(work)
    per_op = {o.id: _op_spark(o, log) for o in ops}
    n_ops = max(len(ops), 1)

    def durs(name):
        return [_ms(s.end - s.start) for s in _by_name(spans, name)]

    def outermost(names):
        out = []
        for s in spans:
            if s.name not in names:
                continue
            p = by_id.get(s.parent)
            while p is not None and p.name not in names:
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def under(root, name):
        out, todo = [], [root.id]
        while todo:
            for k in kids.get(todo.pop(), ()):
                if k.name == name:
                    out.append(k)
                todo.append(k.id)
        return out

    writes = _by_name(spans, "series.write")
    local_w = [s for s in writes if s.attrs.get("path") == "local"]
    exec_w = [s for s in writes if s.attrs.get("path") == "exec"]

    op_by_id = {o.id: o for o in ops}

    def submits_in(span) -> list:
        """Submission times (ms) of the op's jobs started inside span."""
        lo, hi = span.start / 1e6, span.end / 1e6
        jobs = (log["jobs"].get(j) for j in op_by_id[span.op].job_ids)
        return [j["submit"] for j in jobs if j and lo <= j["submit"] <= hi]

    def plan_ms(span) -> float:
        first = submits_in(span)
        return (min(first) if first else span.end / 1e6) - span.start / 1e6

    reads = outermost({"series.frame", "series.df"})
    snaps = outermost({"collection.snapshot"})
    commits = [s for s in _by_name(spans, "changelog.commit") if not s.attrs.get("noop")]
    logs = _by_name(spans, "changelog.log")
    prunes = _by_name(spans, "zonemap.prune")
    pushes = _by_name(spans, "datasource.pushFilters")
    df_calls = len(_by_name(spans, "series.df"))
    user_bytes = sum(o.user_bytes for o in ops)
    spark_ops = [per_op[o.id] for o in ops if o.jobs]
    skews = [k for p in per_op.values() for k in p["skews"]]
    n_in = sum(s.attrs["n_in"] for s in prunes)
    offered = sum(s.attrs["offered"] for s in pushes)

    v = {
        "series.write_local_self_ms": _mean(_ms(selfs[s.id]) for s in local_w),
        "series.write_exec_ms": _mean(_ms(s.end - s.start) for s in exec_w),
        "series.write_exec_jobs": _mean(len(submits_in(s)) for s in exec_w),
        "series.read_plan_ms": _mean(plan_ms(s) for s in reads),
        "series.df_fallbacks_per_read": (
            sum(o.fallbacks for o in ops) / df_calls if df_calls else 0.0
        ),
        "collection.commit_self_ms": _mean(
            _ms(selfs[s.id]) for s in _by_name(spans, "collection.apply_segments")
        ),
        "collection.snapshot_ms": _mean(_ms(s.end - s.start) for s in snaps),
        "collection.snapshot_revision_reads": _mean(
            sum(r.attrs.get("miss", False) for r in under(s, "changelog.revision_read"))
            for s in snaps
        ),
        "collection.merge_ms": _mean(durs("collection.merge")),
        "collection.defrag_ms": _mean(durs("collection.defrag")),
        "collection.defrag_rows_rewritten": _mean(
            s.attrs.get("rows", 0) for s in _by_name(spans, "collection.defrag")
        ),
        "commit.overlay_calls": len(_by_name(spans, "commit.overlay")) / n_ops,
        "commit.overlay_ms": _mean(durs("commit.overlay")),
        "commit.to_payload_ms": _mean(durs("commit.to_payload")),
        "changelog.commit_ms": _mean(_ms(s.end - s.start) for s in commits),
        "changelog.checkpoint_share": _mean(
            float(s.attrs.get("checkpoint", False)) for s in commits
        ),
        "changelog.archive_ms": _mean(durs("changelog.archive")),
        "changelog.log_ms": _mean(_ms(s.end - s.start) for s in logs),
        "changelog.files_listed_per_log": _mean(
            sum(k.attrs.get("n", 0) for k in under(s, "fsio.ls")) for s in logs
        ),
        "fsio.bytes_written_per_user_byte": (
            sum(o.fs_write for o in ops) / user_bytes if user_bytes else 0.0
        ),
        "fsio.bytes_read_per_op": sum(o.fs_read for o in ops) / n_ops,
        "fsio.ls_calls_per_op": len(_by_name(spans, "fsio.ls")) / n_ops,
        "fsio.sha1_ms": _mean(_ms(s.end - s.start) for s in outermost({"fsio.sha1"})),
        "zonemap.segments_in": _mean(s.attrs["n_in"] for s in prunes),
        "zonemap.pruned_share": (
            1 - sum(s.attrs["n_out"] for s in prunes) / n_in if n_in else 0.0
        ),
        "zonemap.prune_ms": _mean(durs("zonemap.prune")),
        "sexpr.compile_ms": _mean(
            _ms(s.end - s.start) for s in outermost({"sexpr.compile"})
        ),
        "datasource.plan_ms": _mean(
            durs("datasource.pushFilters") + durs("datasource.partitions")
        ),
        "datasource.pushed_filter_share": (
            1 - sum(s.attrs["kept"] for s in pushes) / offered if offered else 0.0
        ),
        "datasource.writer_commit_ms": _mean(durs("datasource.writer_commit")),
        "repo.open_ms": _mean(durs("repo.open")),
        "repo.pull_ms": _mean(durs("repo.pull")),
        "repo.gc_ms": _mean(durs("repo.gc")),
        "spark.jobs_per_op": sum(o.jobs for o in ops) / n_ops,
        "spark.tasks_per_op": sum(o.tasks for o in ops) / n_ops,
        "spark.executor_run_ms": _mean(p["run_ms"] for p in spark_ops),
        "spark.shuffle_write_bytes": _mean(p["shuffle_write"] for p in spark_ops),
        "spark.task_skew": statistics.median(skews) if skews else 0.0,
        "spark.idle_ms": _mean(p["idle_ms"] for p in spark_ops),
    }
    from perfbench.workloads.corpus_ops import GATED

    for q in GATED:
        qops = [o for o in ops if o.kind == "query" and o.variant == q]
        qs = [per_op[o.id] for o in qops]
        v[f"queries.{q}_ms"] = (
            statistics.median(o.latency for o in qops) * 1e3 if qops else 0.0
        )
        v[f"queries.{q}.stages"] = _mean(p["stages"] for p in qs)
        v[f"queries.{q}.tasks"] = _mean(p["tasks"] for p in qs)
        v[f"queries.{q}.executor_run_ms"] = _mean(p["run_ms"] for p in qs)
        v[f"queries.{q}.shuffle_write_bytes"] = _mean(
            p["shuffle_write"] for p in qs
        )
    traced = [c["seconds"] for c in bench.cycles if c["traced"]]
    plain = [c["seconds"] for c in bench.cycles if not c["traced"]]
    v["trace.overhead_share"] = (
        statistics.median(traced) / statistics.median(plain) - 1
        if traced and plain
        else 0.0
    )
    units = dict(layer_names(GATED))
    return {
        name: _metric(float(v.get(name, 0.0)), unit)
        for name, unit in units.items()
    }
