"""One fresh benchmark session: set up the program, run passes, check results.

Started by ``perfbench/run.py`` as its own process (so module-level caches
of the program never leak between workloads) with the checkout root as its
working directory and ``PYTHONPATH``.  Reads a JSON job file, writes a JSON
result file; prints nothing the runner parses.

The session sets up, runs a cold pass and the workload's warm-up passes,
then measured warm passes until the measurement window closes.  With
``trace`` on, measured passes alternate between traced and untraced so the
run measures its own tracing overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.dont_write_bytecode = True

ROOT = os.getcwd()
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from perfbench import digest, workloads  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def _exec_memory_mb(spark, job0: int, job1: int) -> float:
    """Spark's peak execution memory (the memory of sorts, aggregation
    maps and join buffers, summed over a stage's tasks), summed over the
    completed stages of jobs ``job0`` .. ``job1 - 1``, in MB."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    total = 0
    for jid in range(job0, job1):
        try:
            ids = store.job(jid).stageIds()
        except Exception:  # a job the status store never saw
            continue
        for i in range(ids.length()):
            try:
                st = store.lastStageAttempt(ids.apply(i))
            except Exception:
                continue
            if st.status().toString() == "COMPLETE":
                total += st.peakExecutionMemory()
    return total / 2**20


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Workload:
    """The program set up for one workload, plus the operations of a pass."""

    def __init__(self, job: dict, tracer: Tracer):
        self.job = job
        self.tracer = tracer
        self.inputs = job["inputs"]
        self.tables = os.path.join(self.inputs, "tables")
        self.expected = job["expected"]
        self.probe = None

    # -- set-up -------------------------------------------------------------

    def setup(self) -> None:
        from sqlrs_spark.session import build_spark

        tmp = self.job["tmp"]
        t0 = time.time()
        self.spark = build_spark(
            f"perfbench_{self.job['workload']}",
            cores=self.job["cores"],
            extra_conf={
                "spark.driver.memory": self.job["driver_memory"],
                "spark.local.dir": os.path.join(tmp, "local"),
                "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                # no perf-data file: the JVM would write it under /tmp
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData"
                f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
                "spark.sqlrs.bucketedAdoption": "off",
            },
        )
        self.build_spark_s = time.time() - t0
        if self.job["workload"] == "slt_session":
            self._setup_session()
        else:
            self._setup_registry()

    def _setup_registry(self) -> None:
        from sqlrs_spark.registry import all_specs

        self.specs = all_specs()
        self.progress = StreamProgress()
        self.spark.streams.addListener(self.progress)
        self.order = {
            cold: workloads.headline_order(None if cold else self.job["seed"])
            for cold in (True, False)
        }

    def _setup_session(self) -> None:
        from sqlrs_spark.client_context import ClientContext
        from sqlrs_spark.slt import parse_slt

        self.ctx = ClientContext(self.spark)
        for name in workloads.SLT_FIXTURES:
            self.ctx.session.load_csv(name, os.path.join("tests", "slt", "csv", f"{name}.csv"))
        for name in workloads.PREPARED_TABLES:
            self.spark.read.parquet(os.path.join(self.tables, f"{name}.parquet")).createOrReplaceTempView(name)
        self.order = {}
        for cold in (True, False):
            records = []
            for path in workloads.slt_files(ROOT, None if cold else self.job["seed"]):
                with open(path) as f:
                    recs = parse_slt(f.read())
                base = os.path.basename(path)
                for r in recs:
                    if r.skipif & workloads.SLT_LABELS:
                        continue
                    if r.onlyif and not (r.onlyif & workloads.SLT_LABELS):
                        continue
                    records.append((f"{base}:{r.line}", r))
            self.order[cold] = records
        self.lookups = [tuple(p) for p in self.job["lookups"]]

    # -- operations -----------------------------------------------------------

    def run_pass(self, cold: bool, traced: bool):
        """Run every operation once.  Yields (name, seconds, ok, error,
        result digest, latency samples or None)."""
        if self.job["workload"] == "slt_session":
            yield from self._session_pass(self.order[cold], traced)
        else:
            yield from self._registry_pass(self.order[cold], traced)

    def _timed(self, name: str, traced: bool, fn):
        tr = self.tracer
        tr.active = traced
        span = None
        if traced:
            tr.op += 1
            span = tr.begin("op", op_name=name)
            self.probe.before()
        err = None
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # a failed operation is counted, never dropped
            out, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        dt = time.perf_counter() - t0
        tr.active = False
        if traced:
            tr.finish(span)
            self.probe.after(span, out if err is None else None)
        return dt, out, err

    def _registry_pass(self, ops: list[str], traced: bool):
        for name in ops:
            if name == workloads.STREAM_QUERY:
                yield self._stream_op(name, traced)
                continue
            dt, tbl, err = self._timed(name, traced, self._batch_op(self.specs[name]))
            got = None if err else digest.arrow_digest(tbl)
            ok = got == self.expected[name]
            if err is None and not ok:
                err = "result differs from the DuckDB oracle"
            yield name, dt, ok, err, got, None

    def _stream_op(self, name: str, traced: bool):
        """One drain of the s09 plan over the event chunks, one file per
        trigger, read back with ``toArrow``.  Its latency samples are the
        micro-batches' trigger times."""
        from pyspark.sql import functions as F

        from sqlrs_spark.streaming.ops import _EVENTS_SCHEMA, s09_plan

        tr = self.tracer
        plan = tr.wrap("streaming.plan", s09_plan)
        to_arrow = tr.wrap("arrow.to_arrow", lambda df: df.toArrow())
        chunks = os.path.join(self.inputs, "event_chunks")

        def run():
            ev = (
                self.spark.readStream.schema(_EVENTS_SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(chunks)
                .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
            )
            df = plan(self.spark, self.tables, ev_stream=ev)
            if self.probe is not None:
                self.probe.final_df = df
            return to_arrow(df)

        self.progress.clear()
        dt, tbl, err = self._timed(name, traced, run)
        batches = self.progress.collect(self.spark)
        if traced:
            self.probe.per_op[-1]["stream"] = batches
        got = None if err else digest.arrow_digest(tbl)
        ok = got == self.expected[name]
        if err is None and not ok:
            err = "result differs from the DuckDB oracle"
        if err is None and len(batches) < workloads.EVENT_CHUNKS:
            ok, err = False, f"{len(batches)} micro-batches, expected {workloads.EVENT_CHUNKS} or more"
        return name, dt, ok, err, got, [b["trigger_ms"] / 1e3 for b in batches]

    def _batch_op(self, spec):
        tr = self.tracer
        build = tr.wrap("operators.build", spec.fn)
        to_arrow = tr.wrap("arrow.to_arrow", lambda df: df.toArrow())

        def run():
            df = build(self.spark, self.tables)
            if self.probe is not None:
                self.probe.final_df = df
            return to_arrow(df)

        return run

    def _session_pass(self, records: list, traced: bool):
        """Each slt file drops its tables before and after use, so every
        pass starts from the fixtures alone; statements are prepared once
        per pass."""
        from sqlrs_spark.slt import render_rows

        prepared_by_stmt = {}
        for name, rec in records:
            dt, res, err = self._timed(name, traced, lambda: self.ctx.query(rec.sql))
            got = "error" if err else "ok"
            if rec.kind == "statement_error":
                ok = err is not None
                err = None if ok else "statement expected to error"
            elif rec.kind == "statement_ok":
                ok = err is None
            else:
                ok = False
                if err is None:
                    actual = [" ".join(r.split()) for r in render_rows(res.rows, res.types)]
                    expected = [" ".join(r.split()) for r in rec.expected]
                    if rec.sort_mode == "rowsort":
                        actual, expected = sorted(actual), sorted(expected)
                    elif rec.sort_mode == "valuesort":
                        actual = sorted(v for r in actual for v in r.split(" "))
                        expected = sorted(v for r in expected for v in r.split(" "))
                    ok = actual == expected
                    got = digest.lines_digest(actual)
                    if not ok:
                        err = "rows differ from the slt record"
            yield name, dt, ok, err, got, None
        for i, (stmt, param) in enumerate(self.lookups):
            name = f"prepared.{stmt}:{i}"

            def lookup(stmt=stmt, param=param):
                prepared = prepared_by_stmt.get(stmt)
                if prepared is None:
                    prepared = prepared_by_stmt[stmt] = self.ctx.prepare(workloads.PREPARED[stmt])
                return self.ctx.execute_prepared(prepared, param)

            dt, res, err = self._timed(name, traced, lookup)
            got = None if err else digest.rows_digest(res.rows, res.names)
            ok = got == self.expected[f"{stmt}:{param}"]
            if err is None and not ok:
                err = "result differs from DuckDB"
            yield name, dt, ok, err, got, None


class StreamProgress(StreamingQueryListener):
    """Keeps the progress of each micro-batch of the session's streaming
    queries."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        ops = p.stateOperators
        self.batches.append(
            {
                "batch": p.batchId,
                "input_rows": p.numInputRows,
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_memory_bytes": sum(o.memoryUsedBytes for o in ops),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def clear(self) -> None:
        self.batches = []

    def collect(self, spark) -> list[dict]:
        """The batches since ``clear``, once every queued event is delivered."""
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return list(self.batches)


def _host(spark, job: dict) -> dict:
    import duckdb
    import pyspark

    heap_gib = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1 << 30)
    return {
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "heap_gib": round(heap_gib, 2),
        "heap_requested": job["driver_memory"],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def main(job_path: str) -> None:
    with open(job_path) as f:
        job = json.load(f)
    out: dict = {"ok": False}
    tracer = Tracer()
    try:
        sess = Workload(job, tracer)
        if job["trace"]:
            from perfbench.probe import Probe

            sess.probe = Probe(tracer)
            sess.probe.install()
        sess.setup()
        out["ready_epoch"] = time.time()
        out["build_spark_s"] = sess.build_spark_s
        if job["trace"]:
            sess.probe.attach(sess.spark)
        _measure(sess, job, out)
        out["host"] = _host(sess.spark, job)
        out["jvm_peak_rss_mb"] = _jvm_peak_rss_mb(sess.spark)
        if job["trace"]:
            out["layers"] = sess.probe.summary(out)
            tracer.dump(job["spans"])
        sess.spark.stop()
        out["ok"] = True
    except Exception:
        out["error"] = traceback.format_exc()
    with open(job["result"], "w") as f:
        json.dump(out, f)


def _measure(sess: Workload, job: dict, out: dict) -> None:
    """Cold pass, warm-up passes, then measured warm passes for the
    measurement window: a measured pass starts while time is left, so the
    last one may end past the window.  At least MIN_MEASURED_PASSES run.  In
    traced runs the cold and warm-up passes are untraced and at least four
    measured passes run, traced and untraced in the order T U U T T U U T
    ..., so the JIT's warming over a run favours neither."""
    passes = []
    deadline = None
    k = 0
    warmup = workloads.WARMUP_PASSES[job["workload"]]
    min_measured = 4 if job["trace"] else workloads.MIN_MEASURED_PASSES
    dag = sess.spark.sparkContext._jsc.sc().dagScheduler()
    while True:
        measured = k > warmup
        traced = bool(job["trace"]) and measured and (k - warmup - 1) % 4 in (0, 3)
        if traced:
            sess.probe.pass_no = k
        job0 = dag.nextJobId()
        ops = [
            {"name": n, "s": dt, "ok": ok, "err": err, "digest": got, "samples": samples}
            for n, dt, ok, err, got, samples in sess.run_pass(k == 0, traced)
        ]
        mem = _exec_memory_mb(sess.spark, job0, dag.nextJobId())
        # a pass takes the time its operations took, not the result checks
        # and trace collection between them
        passes.append(
            {
                "cold": k == 0,
                "measured": measured,
                "traced": traced,
                "s": sum(o["s"] for o in ops),
                "ops": ops,
                "exec_memory_mb": mem,
            }
        )
        k += 1
        if k == warmup + 1:
            deadline = time.perf_counter() + job["seconds"]
        elif k > warmup + min_measured and time.perf_counter() >= deadline:
            break
    out["passes"] = passes


if __name__ == "__main__":
    main(sys.argv[1])
