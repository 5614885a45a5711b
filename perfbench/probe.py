"""Per-layer measurement for traced runs.

``Probe.install`` wraps the program's layer entry points (the wrappers
forward every call unchanged).  Around each traced operation the probe
notes Spark's next job id; afterwards it reads the jobs, stages and tasks
of that operation from Spark's status store, the Catalyst phase times from
the final DataFrame's ``QueryPlanningTracker``, and records them as spans
under the Python span that was open when they happened.
"""

from __future__ import annotations

import statistics

from perfbench.trace import Span, Tracer, patch_everywhere, self_times, union_length

#: Span name prefix -> layer.  ``op`` spans are the benchmark's own loop.
LAYERS = (
    "session",
    "client_context",
    "operators",
    "sources",
    "catalyst",
    "execution",
    "arrow",
    "streaming",
)
#: Spans whose call runs a Spark action: the driver work between planning
#: and the last job goes into an ``execution.query`` span under them.
_ACTIONS = ("arrow.to_arrow", "client_context.run")
#: Spark-side spans that never contain another span.
_LEAVES = ("catalyst.analysis", "catalyst.optimization", "catalyst.planning", "execution.job")

#: Every per-layer metric a traced run reports, in output order.
METRICS = {
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_share": "fraction",
    "operators.measured_broadcast_calls": "count",
    "operators.measured_broadcast_s": "s",
    "operators.measured_broadcast_memo_hits": "count",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    "sources.register_views_calls": "count",
    "sources.register_views_s": "s",
    "sources.scan_units_s": "s",
    "sources.bucketing_probe_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "session.sql_s": "s",
    "session.rewrite_s": "s",
    "session.retries": "count",
    "session.retry_s": "s",
    "session.build_spark_s": "s",
    "client_context.run_s": "s",
    "client_context.prepare_s": "s",
    "client_context.execute_prepared_s": "s",
    "execution.exec_s": "s",
    "execution.jobs": "count",
    "execution.stages": "count",
    "execution.tasks": "count",
    "execution.task_run_s": "s",
    "execution.task_cpu_s": "s",
    "execution.gc_s": "s",
    "execution.core_busy_frac": "fraction",
    "execution.input_bytes": "bytes",
    "execution.shuffle_write_bytes": "bytes",
    "execution.spill_bytes": "bytes",
    "arrow.result_bytes": "bytes",
    "arrow.tail_s": "s",
    "streaming.plan_s": "s",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_rows_max": "count",
    "streaming.state_memory_bytes_max": "bytes",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.unattributed_s": "s",
    "trace.accounted_frac": "fraction",
    "trace.overhead_frac": "ratio",
}

class Probe:
    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.final_df = None
        self.per_op: list[dict] = []
        self.pass_no = 0

    # -- wrappers -------------------------------------------------------------

    def install(self) -> None:
        from pyspark.sql import SparkSession

        import sqlrs_spark.client_context as cc
        import sqlrs_spark.operators.common as common
        import sqlrs_spark.session as session
        import sqlrs_spark.sources.bucketing as bucketing
        import sqlrs_spark.sources.tables as tables
        import sqlrs_spark.streaming.ops as stream_ops
        from sqlrs_spark.registry import all_specs

        all_specs()  # import every operator module so by-name imports are patched
        tr = self.tracer

        def keep_df(span, args, out):
            if out is not None:
                self.final_df = out

        for name, mod, attr in (
            ("sources.load_table", tables, "load_table"),
            ("sources.register_views", tables, "register_views"),
            ("sources.scan_units", tables, "_scan_units"),
            ("sources.bucketing_probe", bucketing, "adopted_bucketed_facts"),
            ("sources.bucketing_probe", bucketing, "adopted_bucketed_source"),
        ):
            orig = getattr(mod, attr)
            patch_everywhere("sqlrs_spark", orig, tr.wrap(name, orig))
        orig_drain = stream_ops._drain_memory_sink
        patch_everywhere("sqlrs_spark", orig_drain, tr.wrap("streaming.drain", orig_drain))
        orig_mb = common.measured_broadcast
        patch_everywhere("sqlrs_spark", orig_mb, self._wrap_measured_broadcast(orig_mb, common))

        session.Session.sql = tr.wrap("session.sql", session.Session.sql, keep_df)
        session.Session._rewrite_query = tr.wrap("session.rewrite", session.Session._rewrite_query)
        SparkSession.sql = tr.wrap("catalyst.sql", SparkSession.sql)
        cc.ClientContext.query = tr.wrap("client_context.query", cc.ClientContext.query)
        cc.ClientContext.prepare = tr.wrap("client_context.prepare", cc.ClientContext.prepare)
        cc.ClientContext.execute_prepared = tr.wrap(
            "client_context.execute_prepared", cc.ClientContext.execute_prepared
        )
        cc.ClientContext._run = tr.wrap(
            "client_context.run", cc.ClientContext._run, lambda s, a, o: setattr(self, "final_df", a[1])
        )

    def _wrap_measured_broadcast(self, orig, common):
        tr = self.tracer

        def wrapper(*args, **kwargs):
            if not tr.active:
                return orig(*args, **kwargs)
            memo = {id(e[2]) for e in common._MEASURED_MEMO}
            s = tr.begin("operators.measured_broadcast")
            try:
                out = orig(*args, **kwargs)
            finally:
                tr.finish(s)
            s.attrs["memo_hit"] = id(out) in memo
            return out

        return wrapper

    # -- per operation ----------------------------------------------------------

    def attach(self, spark) -> None:
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def before(self) -> None:
        self.final_df = None
        self._job0 = self._dag.nextJobId()

    def after(self, op: Span, result) -> None:
        """Add the Spark-side spans of the finished operation ``op``."""
        tr = self.tracer
        job1 = self._dag.nextJobId()
        self._bus.waitUntilEmpty()
        spans = [s for s in tr.spans if s.op == op.op]

        def parent_at(t: float) -> Span:
            inside = [
                s for s in spans
                if s.start <= t < s.end and not s.name.startswith(_LEAVES)
            ]
            return max(inside, key=lambda s: (s.start, s.sid)) if inside else op

        def add(name, start, end, **attrs):
            p = parent_at(start)
            lo = max(start, p.start)
            s = tr.add(name, lo, max(lo, min(end, p.end)), p, **attrs)
            spans.append(s)
            return s

        if self.final_df is not None:
            phases = self.final_df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                o = phases.get(phase)
                if o.isDefined():
                    p = o.get()
                    add(f"catalyst.{phase}", p.startTimeMs() / 1e3, p.endTimeMs() / 1e3)
        jobs = []
        for jid in range(self._job0, job1):
            j = self._store.job(jid)
            if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
                continue
            st = dict(stages=0, tasks=0, run_ms=0, cpu_ns=0, gc_ms=0, input=0, shuffle_write=0, spill=0)
            ids = j.stageIds()
            for i in range(ids.length()):
                try:
                    s = self._store.lastStageAttempt(ids.apply(i))
                except Exception:  # a stage the status store never saw
                    continue
                if s.status().toString() != "COMPLETE":
                    continue
                st["stages"] += 1
                st["tasks"] += s.numCompleteTasks()
                st["run_ms"] += s.executorRunTime()
                st["cpu_ns"] += s.executorCpuTime()
                st["gc_ms"] += s.jvmGcTime()
                st["input"] += s.inputBytes()
                st["shuffle_write"] += s.shuffleWriteBytes()
                st["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            jobs.append(
                (j.submissionTime().get().getTime() / 1e3, j.completionTime().get().getTime() / 1e3, st)
            )
        # driver-side execution between planning and the last job of an action
        for a in [s for s in spans if s.name in _ACTIONS]:
            inner = [jb for jb in jobs if a.start <= jb[0] <= a.end]
            if not inner:
                continue
            plans = [s.end for s in spans if s.name == "catalyst.planning" and s.parent == a.sid]
            lo = min(plans + [inner[0][0]])
            add("execution.query", lo, max(jb[1] for jb in inner))
        for start, end, st in jobs:
            add("execution.job", start, end, **st)
        self.per_op.append({"op": op.op, "pass": self.pass_no, "arrow_bytes": getattr(result, "nbytes", 0)})

    # -- summary ---------------------------------------------------------------

    def pass_metrics(self, op_ids: set[int], pass_s: float) -> dict[str, float]:
        spans = [s for s in self.tracer.spans if s.op in op_ids]
        by_sid = {s.sid: s for s in spans}
        selfs = self_times(spans)
        m = {k: 0.0 for k in METRICS}

        def dur(s):
            return s.end - s.start

        def count(name):
            return sum(1 for s in spans if s.name == name)

        def total(name):
            return sum(dur(s) for s in spans if s.name == name)

        def inside(s, name):
            p = s.parent
            while p is not None:
                if by_sid[p].name == name:
                    return True
                p = by_sid[p].parent
            return False

        jobs = [s for s in spans if s.name == "execution.job"]
        m["operators.build_s"] = total("operators.build")
        m["operators.build_jobs"] = sum(1 for s in jobs if inside(s, "operators.build"))
        m["operators.build_share"] = m["operators.build_s"] / pass_s
        m["operators.measured_broadcast_calls"] = count("operators.measured_broadcast")
        m["operators.measured_broadcast_s"] = total("operators.measured_broadcast")
        m["operators.measured_broadcast_memo_hits"] = sum(
            1 for s in spans if s.name == "operators.measured_broadcast" and s.attrs.get("memo_hit")
        )
        m["sources.load_table_calls"] = count("sources.load_table")
        m["sources.load_table_s"] = total("sources.load_table")
        m["sources.register_views_calls"] = count("sources.register_views")
        m["sources.register_views_s"] = total("sources.register_views")
        m["sources.scan_units_s"] = total("sources.scan_units")
        m["sources.bucketing_probe_s"] = total("sources.bucketing_probe")
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_s"] = total(f"catalyst.{phase}")
        top_sql = [s for s in spans if s.name == "session.sql" and not inside(s, "session.sql")]
        m["session.sql_s"] = sum(dur(s) for s in top_sql)
        m["session.rewrite_s"] = total("session.rewrite")
        for s in top_sql:
            if s.attrs.get("error"):
                continue
            failed = [
                c for c in spans
                if c.name == "catalyst.sql" and c.attrs.get("error") and inside(c, "session.sql")
                and s.start <= c.start <= s.end
            ]
            if failed:
                m["session.retries"] += 1
                m["session.retry_s"] += s.end - min(c.start for c in failed)
        m["client_context.run_s"] = total("client_context.run")
        m["client_context.prepare_s"] = total("client_context.prepare")
        m["client_context.execute_prepared_s"] = total("client_context.execute_prepared")
        m["execution.jobs"] = len(jobs)
        for key, attr, scale in (
            ("execution.stages", "stages", 1),
            ("execution.tasks", "tasks", 1),
            ("execution.task_run_s", "run_ms", 1e-3),
            ("execution.task_cpu_s", "cpu_ns", 1e-9),
            ("execution.gc_s", "gc_ms", 1e-3),
            ("execution.input_bytes", "input", 1),
            ("execution.shuffle_write_bytes", "shuffle_write", 1),
            ("execution.spill_bytes", "spill", 1),
        ):
            m[key] = sum(s.attrs[attr] for s in jobs) * scale
        m["execution.exec_s"] = union_length((s.start, s.end) for s in jobs)
        if m["execution.exec_s"] > 0:
            m["execution.core_busy_frac"] = m["execution.task_run_s"] / (m["execution.exec_s"] * self.cores)
        m["arrow.result_bytes"] = sum(
            r["arrow_bytes"] for r in self.per_op if r["op"] in op_ids
        )
        m["streaming.plan_s"] = total("streaming.plan")
        m["streaming.drain_s"] = total("streaming.drain")
        batches = [b for r in self.per_op if r["op"] in op_ids for b in r.get("stream", ())]
        m["streaming.batches"] = len(batches)
        for key in ("trigger_ms", "add_batch_ms", "query_planning_ms", "wal_commit_ms"):
            m[f"streaming.{key}"] = sum(b[key] for b in batches)
        for key in ("state_rows", "state_memory_bytes"):
            m[f"streaming.{key}_max"] = max((b[key] for b in batches), default=0)
        for a in (s for s in spans if s.name == "arrow.to_arrow"):
            ends = [j.end for j in jobs if a.start <= j.start <= a.end]
            if ends:
                m["arrow.tail_s"] += a.end - max(ends)
        wall = 0.0
        for s in spans:
            layer = s.name.split(".")[0]
            if s.name == "op":
                m["trace.unattributed_s"] += selfs[s.sid]
                wall += dur(s)
            elif layer in LAYERS and s.name != "execution.job":
                m[f"{layer}.self_s"] += selfs[s.sid]
        # jobs of one parent may run concurrently: count their covered time once
        by_parent: dict[int, list[Span]] = {}
        for j in jobs:
            by_parent.setdefault(j.parent, []).append(j)
        m["execution.self_s"] += sum(
            union_length((j.start, j.end) for j in js) for js in by_parent.values()
        )
        attributed = sum(m[f"{layer}.self_s"] for layer in LAYERS) + m["trace.unattributed_s"]
        m["trace.accounted_frac"] = attributed / wall if wall else 0.0
        return m

    def summary(self, out: dict) -> dict[str, float]:
        """Median over traced warm passes of each per-pass metric."""
        ops_by_pass: dict[int, set[int]] = {}
        for r in self.per_op:
            ops_by_pass.setdefault(r["pass"], set()).add(r["op"])
        passes = out["passes"]
        rows = [
            self.pass_metrics(ops_by_pass[k], p["s"])
            for k, p in enumerate(passes)
            if p["traced"] and k in ops_by_pass
        ]
        res = {k: statistics.median(r[k] for r in rows) for k in METRICS if rows}
        traced = [p["s"] for p in passes if p["traced"]]
        plain = [p["s"] for p in passes if p["measured"] and not p["traced"]]
        res["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain)
        res["session.build_spark_s"] = out["build_spark_s"]
        return res

