"""Streaming semantics that oracle parity can't see: watermark late-data
eviction only manifests across micro-batch boundaries, and the bounded
availableNow runs used by the s* contract queries process everything in
one batch (nothing is ever late there by construction).

This forces multiple micro-batches (maxFilesPerTrigger=1 over
mtime-ordered files) and pins the behaviors the 100 TB streaming design
rests on: finalized windows emit exactly once with only their on-time
rows (append mode), and an event arriving behind the watermark is
counted in numRowsDroppedByWatermark instead of corrupting the result.

Measured subtlety worth keeping on record: Spark's drop guarantee has a
one-batch lag — a late row arriving in the SAME batch where the
watermark first passes its window end still merges into the not-yet-
evicted state. The drop is guaranteed only once eviction happened in a
prior batch, which is why this test separates the watermark-advancing
batch from the late arrival with an intermediate batch.
"""

from __future__ import annotations

import datetime as dt
import os
import tempfile
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("k", T.StringType()),
    ]
)


def _write_batch(d, name, rows, mtime):
    path = os.path.join(d, name)
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
                "k": pa.array([r[1] for r in rows]),
            }
        ),
        path,
    )
    os.utime(path, (mtime, mtime))


def test_watermark_drops_late_event_across_batches(spark):
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    d = tempfile.mkdtemp(prefix="wm_src_")
    now = time.time()
    # batch 0: three on-time events in the 10:00 window, plus a 12:00 event
    # that will advance the watermark (12:00 − 10 min) past the window end
    _write_batch(
        d,
        "b1.parquet",
        [
            (base + dt.timedelta(minutes=5), "a"),
            (base + dt.timedelta(minutes=20), "a"),
            (base + dt.timedelta(minutes=40), "a"),
            (base + dt.timedelta(hours=2), "b"),
        ],
        now - 120,
    )
    # batch 1: unrelated event — the batch where the advanced watermark
    # takes effect, finalizing and evicting the 10:00/a window
    _write_batch(d, "b2.parquet", [(base + dt.timedelta(hours=2, minutes=5), "b")], now - 60)
    # batch 2: a LATE event for the already-evicted 10:00 window
    _write_batch(d, "b3.parquet", [(base + dt.timedelta(minutes=30), "a")], now)

    stream = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.count("*").alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("ws"), "k", "n")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_wm_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r["ws"], r["k"]): r["n"] for r in spark.table(name).collect()}
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    spark.catalog.dropTempView(name)

    # finalized window holds exactly the on-time rows; the late row was
    # dropped by the watermark, not merged anywhere
    assert rows.get(("10:00", "a")) == 3, rows
    assert sum(n for (ws, k), n in rows.items() if k == "a") == 3, rows
    assert dropped == 1, q.recentProgress


def test_s02_stream_sessions_match_batch_twin(spark, sf_dir):
    """s02 has no SQL oracle (custom stateful op), so its semantics are
    pinned against the batch twin instead: total session count from the
    streaming GroupState fold must equal x10's window-based batch
    sessionization for the same 30-minute gap. This exact check caught a
    real unit bug (datetime64[ns] // 1e6 is millis, which silently turned
    the 30-minute gap into 1.8 seconds)."""
    from pyspark.sql import functions as F

    from sqlrs_spark.registry import all_specs

    S = all_specs()
    stream_total = (
        S["s02_stream_stateful_sessions"]
        .fn(spark, sf_dir)
        .agg(F.sum("n_sessions"))
        .collect()[0][0]
    )
    batch_total = (
        S["x10_sessionization"].fn(spark, sf_dir).select("user_id", "session_id").distinct().count()
    )
    assert stream_total == batch_total, (stream_total, batch_total)


def test_drained_result_is_jvm_resident(spark, sf_dir):
    """The memory-sink drain and the sink round-trip helper
    (``materialize_then_rm``) hand back an Arrow-built LocalTableScan, not
    a Scan ExistingRDD that downstream jobs would re-read through Python
    workers."""
    from sqlrs_spark.operators.common import materialize_then_rm
    from sqlrs_spark.streaming.ops import read_events_stream, run_to_completion

    batch_counts = spark.read.parquet(f"{sf_dir}/events.parquet").groupBy("event_type").count()
    want = {r["event_type"]: r["count"] for r in batch_counts.collect()}
    counts = read_events_stream(spark, sf_dir).groupBy("event_type").count()
    scratch = tempfile.mkdtemp(prefix="mat_")
    batch_counts.write.parquet(f"{scratch}/counts")
    outs = [
        run_to_completion(counts, "drain_plan"),
        materialize_then_rm(spark.read.parquet(f"{scratch}/counts"), scratch),
    ]
    assert not os.path.exists(scratch)
    for out in outs:
        qe = out.orderBy("event_type")._jdf.queryExecution()
        assert "ExistingRDD" not in qe.executedPlan().toString()
        assert "LocalRelation" in qe.optimizedPlan().toString()
        assert {r["event_type"]: r["count"] for r in out.collect()} == want
