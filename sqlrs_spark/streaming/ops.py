"""Structured Streaming operators over the `events` table.

The reference engine is batch-only (SURVEY §2.9); these are the streaming
capabilities a Spark-native engine adds: windowed event-time aggregation
with watermarks, and a custom stateful operator via applyInPandasWithState.

Tests drive them with file sources + availableNow triggers so a bounded
parquet directory exercises the incremental engine end-to-end; production
swaps the source for Kafka and the sink for a real table — the plan is
unchanged.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqlrs_spark.registry import register
from sqlrs_spark.operators.common import VAL_NAN_NULL
from sqlrs_spark.session import configure_runtime

_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        # naive parquet timestamp[us] — same TIMESTAMP_NTZ the batch reader
        # infers (sources/tables.py); session tz is pinned UTC
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet file.

    Watermarks demand TIMESTAMP_LTZ (`EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`
    on NTZ), so the naive micros column is cast — value-preserving because
    the session tz is pinned UTC (session.py), keeping wall-clock outputs
    identical to the batch/DuckDB reads of the same file.
    """
    configure_runtime(spark)
    # file stream sources require a directory: stream the sf_dir with a
    # glob filter selecting only the events file
    raw = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp_ltz"))


def _drain_memory_sink(stream_df: DataFrame, query_name: str, mode: str) -> DataFrame:
    """Drive a bounded stream to completion (availableNow + memory sink)
    and return the materialized result as a batch DataFrame.  The per-run
    checkpoint scratch dir is removed after materialization — each
    bench/driver rerun otherwise leaks one /tmp dir per invocation (the
    s08 sink-leak advice, applied to every memory-sink query)."""
    import shutil

    spark = stream_df.sparkSession
    name = f"{query_name}_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    q = None
    try:
        # start() inside the try: a rejected plan (bad output mode,
        # unsupported op) must not leak the just-created checkpoint dir
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(name)
        # materialize before the memory sink is dropped, through Arrow: the
        # result plans as a JVM-resident LocalTableScan, where a list of
        # collected Rows would plan as a Scan ExistingRDD that every
        # downstream job re-reads through Python workers
        result = spark.createDataFrame(out.toArrow(), out.schema)
    finally:
        # a failed query must not stay running, nor leak its scratch (the
        # leak this helper exists to stop) nor its memory-sink temp view
        if q is not None:
            try:
                q.stop()
            except Exception:
                pass
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(ckpt, ignore_errors=True)
    return result


def run_to_completion(stream_df: DataFrame, query_name: str) -> DataFrame:
    return _drain_memory_sink(stream_df, query_name, "complete")


@register(
    "s01_stream_tumbling",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM((CASE WHEN isnan(value) THEN NULL ELSE value END)::DECIMAL(18,4)) AS DOUBLE) AS total_value
    FROM events
    WHERE ts IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("pipeline", "streaming"),
)
def s01_stream_tumbling(spark, sf_dir):
    """Streaming tumbling-window aggregation (1h windows, 1h watermark),
    driven to completion over the bounded events file. The oracle is the
    batch date_trunc equivalent — streaming and batch must agree exactly
    (same decimal-sum determinism as the batch operators)."""
    # degenerate-events policy (tests/test_degenerate_tables.py): rows
    # without event time cannot enter event-time windows, and NaN measures
    # are NULL — both engines apply the identical rules
    ev = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr(VAL_NAN_NULL).cast("decimal(18,4)")).alias("total_value_dec"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            F.col("total_value_dec").cast("double").alias("total_value"),
        )
    )
    return run_to_completion(agg, "s01").orderBy("window_start", "event_type")


@register(
    "s02_stream_stateful_sessions",
    # gaps-and-islands: a session opens where the previous event by the
    # same user is absent or > 30 min older — full-precision interval
    # compare, exactly the stream's micros-gap check.  The unbounded-stream
    # state machine is SQL-expressible over a BOUNDED replay, so the driver
    # gets a real value hash (VERDICT r1: the 1000×-unit-bug history is why
    # this operator needs one, not a rows-only check).
    oracle="""
    WITH flagged AS (
      SELECT user_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM flagged
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("pipeline", "streaming", "stateful"),
)
def s02_stream_stateful_sessions(spark, sf_dir):
    """Custom stateful operator: per-user session counting with a 30-minute
    gap, implemented with applyInPandasWithState (GroupState timeout).

    The batch-mode twin x10_sessionization pins the same session
    definition; over the bounded availableNow replay the fold is
    deterministic, so the registry carries a full gaps-and-islands SQL
    oracle (update-mode emission keeps only the final row per user, which
    is what the oracle's GROUP BY computes).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    # rows without event time cannot enter a time-gap session machine;
    # the oracle drops them identically (degenerate-events policy)
    ev = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())

    out_schema = "user_id bigint, n_sessions bigint, n_events bigint"
    state_schema = "last_ts bigint, n_sessions bigint, n_events bigint"

    def count_sessions(key, batches, state: GroupState):
        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        rows = pd.concat(list(batches))
        # datetime64[ns] int64 is NANOseconds — // 1_000 gives micros, the
        # data's native precision; the 30-min gap compares in micros so the
        # stream agrees exactly with x10's full-precision batch gap (every
        # ts has sub-second micros; whole-second truncation would flip
        # boundary-straddling gaps)
        for ts in sorted(rows["ts"].astype("int64") // 1_000):
            if last_ts is None or ts - last_ts > 1800 * 1_000_000:
                n_sessions += 1
            n_events += 1
            last_ts = ts
        state.update((int(last_ts), int(n_sessions), int(n_events)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    result = ev.groupBy("user_id").applyInPandasWithState(
        count_sessions,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode sink: keep the latest row per user
    materialized = run_to_completion_update(result, "s02")
    return materialized.orderBy("user_id")


def run_to_completion_update(stream_df: DataFrame, query_name: str) -> DataFrame:
    return _drain_memory_sink(stream_df, query_name, "update")


@register(
    "s03_stream_sliding",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM((CASE WHEN isnan(value) THEN NULL ELSE value END)::DECIMAL(18,4)) AS DOUBLE) AS total_value
    FROM (
      SELECT date_trunc('hour', ts) AS ws, event_type, value
      FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws, event_type, value
      FROM events WHERE ts IS NOT NULL
    )
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("pipeline", "streaming"),
)
def s03_stream_sliding(spark, sf_dir):
    """Streaming sliding-window aggregation: 2-hour windows every 1 hour,
    1-hour watermark for late data, driven to completion over the bounded
    events file.

    Each event lands in exactly two overlapping windows (starts at
    hour-trunc(ts) and hour-trunc(ts) − 1h), which is what the batch
    UNION-ALL oracle enumerates.  Scale: sliding windows multiply state by
    window/slide = 2×; the watermark bounds state eviction, so executor
    memory stays O(active windows × groups) regardless of stream length.
    """
    ev = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr(VAL_NAN_NULL).cast("decimal(18,4)")).alias("total_value_dec"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            F.col("total_value_dec").cast("double").alias("total_value"),
        )
    )
    return run_to_completion(agg, "s03").orderBy("window_start", "event_type")


_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


@register(
    "s04_stream_dedup",
    oracle="""
    SELECT md5(text) AS text_hash FROM documents GROUP BY 1 ORDER BY 1
    """,
    tags=("pipeline", "streaming", "dedup"),
)
def s04_stream_dedup(spark, sf_dir):
    """Streaming exact dedup: the continuous-ingestion twin of
    p01_dedup_exact — emit each distinct content digest once as documents
    stream in (dropDuplicates keyed on the 16-byte digest, append mode).

    The emitted *set* of digests is deterministic (which arrival got kept
    is not, so the output is the digest column only — the batch oracle is
    GROUP BY md5(text)).  Scale: dedup state is one digest per distinct
    doc, hash-partitioned across executors; a production pipeline bounds
    it with dropDuplicatesWithinWatermark on the ingest timestamp so
    state ages out past the dedup horizon.
    """
    configure_runtime(spark)
    raw = (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    deduped = (
        raw.select(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .dropDuplicates(["text_hash"])
    )
    return _drain_memory_sink(deduped, "s04", "append").orderBy("text_hash")


@register(
    "s05_stream_static_join",
    oracle="""
    SELECT c_mktsegment, event_type,
           COUNT(*) AS n,
           CAST(SUM((CASE WHEN isnan(value) THEN NULL ELSE value END)::DECIMAL(18,4)) AS DOUBLE) AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming", "join"),
)
def s05_stream_static_join(spark, sf_dir):
    """Stream-static enrichment join: the event stream joins a static
    dimension (customer segment) micro-batch by micro-batch, then feeds a
    running aggregation — the canonical streaming-ETL enrichment shape.

    The static side is planned per micro-batch with no state kept for it
    (stream-static inner joins are stateless in Structured Streaming).
    No forced broadcast hint: customer scales with SF, and a pinned
    broadcast would OOM executors at the 100 TB target — the per-batch
    plan picks broadcast from stats while the dimension fits, exactly as
    in the batch operators.  Only the downstream aggregation holds state,
    keyed by (segment, type) — tiny and bounded.  At cluster scale the
    dimension refreshes by re-resolving the table per batch (Delta/parquet
    re-read), and the same plan serves a slowly-changing dimension.
    Batch twin = the oracle SQL; decimal sums keep the incremental and
    batch answers bit-identical.
    """
    from sqlrs_spark.operators.common import t as load_static

    ev = read_events_stream(spark, sf_dir)
    cust = load_static(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    agg = (
        joined.groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            # NaN -> NULL before the decimal cast (same policy as s01/s03/
            # s08; this op escapes the events sweep only because its oracle
            # joins customer, so the shared guard is applied preemptively)
            F.sum(F.expr(VAL_NAN_NULL).cast("decimal(18,4)")).alias("total_value_dec"),
        )
    )
    out = run_to_completion(agg, "s05_stream_static_join")
    return (
        out.select(
            "c_mktsegment",
            "event_type",
            "n",
            F.col("total_value_dec").cast("double").alias("total_value"),
        )
        .orderBy("c_mktsegment", "event_type")
    )


@register(
    "s06_stream_funnel",
    oracle="""
    WITH stage AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'     THEN ts END) AS tv,
             MIN(CASE WHEN event_type = 'click'    THEN ts END) AS tc,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           tv IS NOT NULL                        AS viewed,
           COALESCE(tc > tv, FALSE)              AS clicked_after_view,
           COALESCE(tp > tc AND tc > tv, FALSE)  AS purchased_after_click
    FROM stage
    ORDER BY user_id
    """,
    tags=("pipeline", "streaming", "stateful"),
)
def s06_stream_funnel(spark, sf_dir):
    """Stateful streaming funnel: per-user stage minima (view → click →
    purchase) held in GroupState, strict-order conversion flags emitted on
    every update — the streaming twin of x18's batch funnel.

    This is the chained-stateful shape Structured Streaming's append-mode
    aggregation restriction forbids as two groupBys: applyInPandasWithState
    takes the place of the first aggregation (per-user fold with explicit
    state), emits update-mode rows, and any downstream rollup operates on
    the (bounded-cardinality) per-user output.  State is three BIGINT
    micros per user — O(users), watermark-free.  Over the bounded
    availableNow run the emission per user is deterministic, so unlike s02
    this carries a full value oracle, not just a rows-only check.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)
    out_schema = (
        "user_id bigint, viewed boolean, clicked_after_view boolean, "
        "purchased_after_click boolean"
    )
    state_schema = "tv bigint, tc bigint, tp bigint"
    stages = {"view": 0, "click": 1, "purchase": 2}

    def funnel(key, batches, state: GroupState):
        mins = list(state.get) if state.exists else [None, None, None]
        for pdf in batches:
            ts_us = pdf["ts"].astype("int64") // 1_000
            for et, t in zip(pdf["event_type"], ts_us):
                i = stages.get(et)
                if i is not None and (mins[i] is None or t < mins[i]):
                    mins[i] = int(t)
        state.update(tuple(mins))
        tv, tc, tp = mins
        viewed = tv is not None
        cav = viewed and tc is not None and tc > tv
        pac = cav and tp is not None and tp > tc
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "viewed": [viewed],
                "clicked_after_view": [cav],
                "purchased_after_click": [pac],
            }
        )

    result = ev.groupBy("user_id").applyInPandasWithState(
        funnel,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_completion_update(result, "s06").orderBy("user_id")


@register(
    "s07_stream_stream_join",
    # batch twin: every (view, click) pair for the same user with the
    # click in (view_ts, view_ts + 30 min] — delay in exact microseconds
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS delay_us
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
    ORDER BY view_id, click_id
    """,
    tags=("pipeline", "streaming"),
)
def s07_stream_stream_join(spark, sf_dir):
    """Watermarked stream-stream self-join: click-to-view attribution.
    Views and clicks are two filtered arms of ONE events stream; a click
    attributes to every view by the same user in the preceding 30 minutes.

    This is the streaming join class s05 (stream-static) cannot cover:
    BOTH sides arrive incrementally, so the engine must buffer each side's
    rows in state until the other side's matches can no longer arrive.
    The 1-hour watermarks plus the bounded time-range condition give
    Spark exactly that bound — state evicts once the click watermark
    passes view_ts + 30 min (Structured Streaming derives the eviction
    predicate from the interval condition; without it, state grows
    unboundedly).  INNER join emits matches eagerly, so the bounded
    availableNow replay yields the complete deterministic pair set and a
    full value oracle.

    At scale: both arms hash-partition on user_id, so the join is
    co-partitioned state lookup, not a shuffle per micro-batch; state
    size ~ events within the watermark horizon per user.
    """
    ev = read_events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = click_user AND click_ts > view_ts "
            "AND click_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
        "inner",
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("delay_us"),
    )
    return _drain_memory_sink(joined, "s07", "append").orderBy("view_id", "click_id")


# ---------------------------------------------------------------------------
# s08 — foreachBatch sink with epoch-keyed idempotent writes
# ---------------------------------------------------------------------------

_S08_ORACLE = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       COUNT(*) AS n,
       CAST(SUM((CASE WHEN isnan(value) THEN NULL ELSE value END)::DECIMAL(18,4)) AS DOUBLE) AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
"""


@register(
    "s08_stream_foreachbatch_sink",
    oracle=_S08_ORACLE,
    tags=("pipeline", "streaming", "sink"),
)
def s08_stream_foreachbatch_sink(spark, sf_dir):
    """foreachBatch sink with the production idempotent-write pattern:
    every micro-batch lands in its own ``epoch=<batch_id>`` partition
    directory with mode("overwrite"), so a replayed batch (failure ->
    checkpoint restart redelivers the same epoch id) OVERWRITES its own
    prior output instead of appending duplicates — exactly-once table
    state from an at-least-once delivery contract.  This is the one
    Structured Streaming surface s01-s07 don't exercise: an arbitrary
    batch-DataFrame sink callback rather than a built-in sink.

    The returned DataFrame re-reads the sink directory (partition
    discovery recovers the epoch column) and aggregates it, so the
    driver's value hash covers the full stream -> sink -> re-scan loop;
    the batch oracle proves the sink holds exactly the source's purchase
    rows no matter how the stream chopped them into micro-batches.

    Scale: foreachBatch writes are distributed (the callback runs a
    normal cluster write per batch); the per-epoch directory layout keeps
    replay overwrites partition-local, never rewriting the whole table.
    """
    from sqlrs_spark.operators.common import materialize_then_rm

    ev = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    out_dir = tempfile.mkdtemp(prefix="s08_sink_")
    ckpt_dir = tempfile.mkdtemp(prefix="ckpt_s08_")

    def write_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        # idempotent: epoch-keyed path + overwrite; a redelivered epoch
        # replaces its own output byte-for-byte
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    q = (
        ev.writeStream.foreachBatch(write_epoch)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sunk = spark.read.parquet(out_dir).drop("epoch")
    # materialize the (bounded) hourly rollup, then drop the sink +
    # checkpoint scratch — a fresh mkdtemp pair per invocation otherwise
    # leaks a full purchase-row copy on every bench/driver rerun
    return materialize_then_rm(
        sunk.groupBy(F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"))
        .agg(
            F.count("*").alias("n"),
            # NaN -> NULL before the decimal cast, matching the oracle
            # (reachable via r8 degenerate-events user 12)
            F.sum(F.expr(VAL_NAN_NULL).cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("hour_start"),
        out_dir,
        ckpt_dir,
    )


# ---------------------------------------------------------------------------
# s09 — watermarked stream-stream LEFT OUTER join (eviction-time null rows)
# ---------------------------------------------------------------------------


@register(
    "s09_stream_stream_outer_join",
    # batch twin: LEFT JOIN with the identical interval condition, then the
    # same conservative eviction margin the streaming side applies (see
    # docstring) so the hash never touches the eviction boundary itself
    oracle="""
    WITH horizon AS (
        SELECT LEAST(MAX(CASE WHEN event_type = 'view' THEN ts END),
                     MAX(CASE WHEN event_type = 'click' THEN ts END)) AS least_max
        FROM events)
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS delay_us
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE c.event_id IS NOT NULL
       OR v.ts <= (SELECT least_max FROM horizon) - INTERVAL 2 HOUR
    ORDER BY view_id, click_id
    """,
    tags=("pipeline", "streaming"),
)
def s09_stream_stream_outer_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER self-join: views that never
    attracted a click still emit a (view, NULL) row — the outer-join
    state-eviction semantics s07's inner join cannot exercise.  An outer
    match CANNOT be emitted eagerly (a matching click may still arrive);
    Structured Streaming holds the view in state and emits the null-joined
    row only when the click watermark passes view_ts + 30 min, proving the
    match window is closed.  The availableNow replay's final batch advances
    the watermark to max(ts) - 1 h and flushes exactly the evictable state.

    Determinism contract: views younger than the final watermark horizon
    are STILL IN STATE at query end — whether their null row exists depends
    on the engine's exact eviction boundary.  Both sides therefore apply
    the same conservative margin anchored to the watermark Spark ACTUALLY
    computes: under the default min multiple-watermark policy the global
    watermark is min(max view_ts, max click_ts) - 1 h — NOT max(ts) - 1 h.
    If clicks end early (one stream's events stop >30 min before the
    other's), a max(ts)-anchored margin would claim null rows the stream
    never evicts.  Unmatched views count only when
    view_ts <= least(max view_ts, max click_ts) - 2 h (30 min strictly
    inside the eviction boundary at least_max - 90 min), so the value hash
    covers every matched pair plus every confidently-evicted view and no
    boundary row.  Both maxima come from the batch table — fixed data,
    deterministic margin.

    At scale: both arms hash-partition on user_id (co-partitioned state
    lookup per micro-batch, no re-shuffle); outer-join state holds only
    the watermark horizon per user, same bound as s07 plus the unmatched
    views awaiting eviction.
    """
    return s09_plan(spark, sf_dir)


def s09_plan(spark, sf_dir, ev_stream=None):
    """s09's plan with an optional source override so tests can feed a
    CHUNKED copy of events through maxFilesPerTrigger=1 — true multi-batch
    incremental arrival with per-batch watermark advancement
    (tests/test_streaming_multibatch.py asserts batch-count > 1 and
    result equality with the single-batch run)."""
    from sqlrs_spark.operators.common import t as load_static

    # conservative eviction margin, mirrored in the oracle (docstring):
    # anchored to least(max view_ts, max click_ts) because Spark's min
    # multiple-watermark policy pins the global watermark to the LAGGING
    # stream's max event time, not the overall max(ts).  Computed BEFORE
    # the stream runs: a one-event-type dataset can never evict outer-join
    # state, so fail fast instead of draining the stream first
    row = (
        load_static(spark, sf_dir, "events")
        .agg(
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))).alias("mv"),
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("mc"),
        )
        .collect()[0]
    )
    if row["mv"] is None or row["mc"] is None:
        missing = "view" if row["mv"] is None else "click"
        raise ValueError(
            f"s09 requires both event types in events; dataset has no "
            f"'{missing}' rows, so the multiple-watermark policy would "
            "never evict outer-join state"
        )
    least_max = min(row["mv"], row["mc"])

    ev = ev_stream if ev_stream is not None else read_events_stream(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        F.expr(
            "user_id = click_user AND click_ts > view_ts "
            "AND click_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("delay_us"),
        "view_ts",
    )
    result = _drain_memory_sink(joined, "s09", "append")
    return (
        result.filter(
            F.col("click_id").isNotNull()
            | (F.col("view_ts") <= F.lit(least_max) - F.expr("INTERVAL 2 HOURS"))
        )
        .drop("view_ts")
        .orderBy("view_id", "click_id")
    )


# ---------------------------------------------------------------------------
# s10 — NATIVE streaming session windows (session_window aggregation)
# ---------------------------------------------------------------------------


@register(
    "s10_stream_session_window",
    # batch twin: gap-based session assignment (the x10 pattern) with
    # Spark's session_window end semantics — a session's end is its LAST
    # event + the 30-minute gap — plus the same conservative eviction
    # margin the stream applies (docstring)
    oracle="""
    WITH horizon AS (SELECT MAX(ts) AS max_ts FROM events),
    flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
           CAST(epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS BIGINT) AS session_end_us,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL 30 MINUTE
             <= (SELECT max_ts FROM horizon) - INTERVAL 2 HOUR
    ORDER BY user_id, session_start_us
    """,
    tags=("pipeline", "streaming"),
)
def s10_stream_session_window(spark, sf_dir):
    """Streaming sessionization through Spark's NATIVE session_window
    aggregation — the built-in dynamic-gap operator (merging session
    state managed by the engine), complementing s02, which builds the
    same semantics by hand with applyInPandasWithState.  A session's
    window is [first event, last event + gap); windows merge as late
    events bridge gaps, and a session emits (append mode) only when the
    watermark passes its end — engine-managed eviction, no custom state
    code.

    Determinism contract (the s09 pattern): sessions ending after the
    final watermark horizon are still in state at query end, so both
    sides keep only sessions with end <= max(ts) - 2h (1h watermark +
    30min gap + 30min slack).  Single input stream, so the min
    multiple-watermark policy cannot move the horizon (the s09 lesson
    does not apply).

    At scale: state is hash-partitioned by (user_id); per-key state is
    the open session's bounds — O(open sessions), the same bound a
    1000-executor cluster shards by user.
    """
    from sqlrs_spark.operators.common import t as load_static

    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )
    result = _drain_memory_sink(agg, "s10", "append")
    max_ts = (
        load_static(spark, sf_dir, "events").agg(F.max("ts").alias("m")).collect()[0]["m"]
    )
    margin_us = F.unix_micros(
        F.lit(max_ts).cast("timestamp_ltz") - F.expr("INTERVAL 2 HOURS")
    )
    return (
        result.filter(F.col("session_end_us") <= margin_us)
        .orderBy("user_id", "session_start_us")
    )


# ---------------------------------------------------------------------------
# s11 — streaming CDC apply (continuously-maintained MERGE materialization)
# ---------------------------------------------------------------------------


@register(
    "s11_stream_cdc_apply",
    # identical semantics to the batch half: last change per key wins,
    # terminal 'view' events are DELETE markers (temporal._P27_ORACLE)
    oracle=None,  # set right below — the import must not be at module top
    tags=("pipeline", "streaming", "stateful", "cdc"),
)
def s11_stream_cdc_apply(spark, sf_dir):
    """Streaming CDC apply: the STREAMING half of p27's changelog MERGE —
    a continuously-maintained final-state view over an unbounded change
    stream, the operator a feature store or training-corpus snapshot
    runs to track an upstream operational table in near-real-time.

    applyInPandasWithState keyed by user_id holds exactly one winner per
    key: the argmax change by (ts, event_id) plus a change counter —
    O(|keys|) state, never a buffer of the stream.  Each micro-batch
    folds its rows into the state and emits the CURRENT winner (update
    semantics); because the winner's (n_changes) strictly increases per
    emission, the bounded replay's final state is the per-key maximum
    over all emissions — recovered with one partial-aggregating
    lexicographic-max regardless of how the source was batched.  A
    terminal 'view' event deletes the key from the final state (the p27
    DELETE-marker contract).

    At scale: state is hash-partitioned on user_id (the stream's shuffle
    key), per-key state is five scalars, and the post-aggregate is the
    same |keys|-row reduction p27 runs — the 100 TB cost is the one
    changelog shuffle either way.
    """
    return s11_plan(spark, sf_dir)


def s11_plan(spark, sf_dir, ev_stream=None):
    """s11's plan with an optional source override so tests can feed a
    CHUNKED copy of events through maxFilesPerTrigger=1 — true multi-batch
    arrival, which exercises the monotone-counter recovery the operator's
    any-batching claim rests on (tests/test_streaming_multibatch.py)."""
    ev = ev_stream if ev_stream is not None else read_events_stream(spark, sf_dir)
    emitted = s11_emitted(ev)
    result = _drain_memory_sink(emitted, "s11", "update")
    return s11_finalize(result)


def s11_emitted(ev):
    """The stateful stage of s11, sink-free: tests attach their own sink
    (foreachBatch->parquet for the kill/restart recovery scenario, where
    the memory sink would silently reset on restart)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, last_event_id bigint, last_value_cents bigint,"
        " last_ts_us bigint, n_changes bigint, last_type string"
    )
    state_schema = (
        "best_ts bigint, best_eid bigint, best_cents bigint,"
        " best_type string, n_changes bigint"
    )

    # NaT views as INT64_MIN, so a NULL-ts change carries this ts_us after
    # the //1000 below.  The empty-state sentinel must sit BELOW it in the
    # (ts, eid) order — the r7 sentinel (-1, -1) beat every NULL-ts change,
    # so a key whose changes ALL have NULL ts emitted the sentinel values
    # instead of its max-event_id row (r8 ADVICE).  Same NULL_TS value with
    # eid -1 loses the tie-break to any real change (event_id >= 0).
    NULL_TS = (-(2**63)) // 1_000

    def apply_changes(key, batches, state: GroupState):
        best_ts, best_eid, best_cents, best_type, n = (
            state.get if state.exists else (NULL_TS, -1, 0, "", 0)
        )
        import math

        for rows in batches:
            # NULL-ts changes lose the argmax to any timestamped one (both
            # engines sort NULLS LAST under the oracle's ts DESC) but still
            # count in n_changes, exactly as _P27_ORACLE's
            # COUNT(*)/ROW_NUMBER pair does
            ts_us = rows["ts"].to_numpy().view("int64") // 1_000
            eid = rows["event_id"].astype("int64")
            vals = rows["value"]
            etype = rows["event_type"]
            n += len(rows)
            for t_us, e, v, ty in zip(ts_us, eid, vals, etype):
                if (t_us, e) > (best_ts, best_eid):
                    # cents computed for the winner only, NULL-safe: the
                    # oracle's CAST(FLOOR(NULL * 100 + 0.5)) is NULL
                    c = (
                        None
                        if v is None or math.isnan(v)
                        else int(math.floor(v * 100 + 0.5))
                    )
                    # NULL event_type stays None (not str(None)): the
                    # oracle's `event_type <> 'view'` is 3VL-false on
                    # NULL, and the finalize filter reproduces that only
                    # if the NULL survives to the comparison
                    best_ts, best_eid, best_cents, best_type = (
                        int(t_us),
                        int(e),
                        c,
                        None if ty is None else str(ty),
                    )
        state.update((best_ts, best_eid, best_cents, best_type, int(n)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_event_id": [best_eid],
                "last_value_cents": [best_cents],
                # a NULL-ts winner emits NULL, as the oracle's
                # epoch_us(NULL) does; NULL_TS is the internal orderand only
                "last_ts_us": [None if best_ts == NULL_TS else best_ts],
                "n_changes": [n],
                "last_type": [best_type],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        apply_changes,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def s11_finalize(result):
    """Reduce s11's emission log to the final per-key state: latest
    emission per key = lexicographic max on the monotone counter.  Also
    how a KILLED-and-restarted run recovers — replayed batches re-emit
    with counters <= the final ones, so duplicates from an at-least-once
    sink are absorbed by the max (tests/test_streaming_recovery.py)."""
    final = (
        result.groupBy("user_id")
        .agg(
            F.max(
                F.struct(
                    "n_changes",
                    "last_ts_us",
                    "last_event_id",
                    "last_value_cents",
                    "last_type",
                )
            ).alias("w")
        )
        .select(
            "user_id",
            F.col("w.last_event_id").alias("last_event_id"),
            F.col("w.last_value_cents").alias("last_value_cents"),
            F.col("w.last_ts_us").alias("last_ts_us"),
            F.col("w.n_changes").alias("n_changes"),
            F.col("w.last_type").alias("last_type"),
        )
    )
    return (
        final.filter(F.col("last_type") != "view")
        .drop("last_type")
        .orderBy("user_id")
    )


def _set_s11_oracle() -> None:
    from sqlrs_spark.operators.temporal import _P27_ORACLE
    from sqlrs_spark.registry import REGISTRY

    REGISTRY["s11_stream_cdc_apply"].oracle = _P27_ORACLE


_set_s11_oracle()


# ---------------------------------------------------------------------------
# s12 — streaming SCD Type-2 (continuously-maintained full version history)
# ---------------------------------------------------------------------------


@register(
    "s12_stream_scd2",
    # identical semantics to the batch half: every change opens a version,
    # the next change closes it (temporal._X32_ORACLE)
    oracle=None,  # set right below — the import must not be at module top
    tags=("pipeline", "streaming", "stateful", "cdc"),
)
def s12_stream_scd2(spark, sf_dir):
    """Streaming SCD Type-2: the STREAMING half of x32 — the full
    valid_from/valid_to version history, maintained continuously over an
    unbounded changelog (the warehouse-dimension twin of s11's
    final-state view).

    State per key is the UNFINALIZED suffix of the version history plus
    two counters — never the stream: a version row is immutable once the
    event-time watermark passes the ts that CLOSES it (no event with an
    earlier ts can still arrive and re-split it), so each batch emits the
    newly-immutable prefix once, prunes it from state, and re-emits the
    still-mutable suffix with a per-key monotone event counter.  At
    steady state the retained suffix is the open version plus whatever
    falls inside the watermark delay — O(churn within the delay), the
    minimum any out-of-order-correct SCD2 must hold.

    Recovery/batching contract (the s11 discipline): finalized rows are
    immutable (duplicates collapse under DISTINCT-by-version); mutable
    rows carry the monotone counter, so the bounded replay's final
    answer is the per-(key, version) emission with the highest
    (is_final, n_seen) — proven equal to the batch x32 by the shared
    oracle regardless of how the source was batched.
    """
    return s12_plan(spark, sf_dir)


def s12_plan(spark, sf_dir, ev_stream=None):
    ev = ev_stream if ev_stream is not None else read_events_stream(spark, sf_dir)
    emitted = s12_emitted(ev.withWatermark("ts", "2 hours"))
    result = _drain_memory_sink(emitted, "s12", "update")
    return s12_finalize(result)


def s12_emitted(ev):
    """The stateful stage of s12, sink-free (tests attach their own sink
    for kill/restart recovery scenarios)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, version bigint, event_id bigint, attr string,"
        " value_cents bigint, valid_from_us bigint, valid_to_us bigint,"
        " is_current boolean, is_final boolean, n_seen bigint"
    )
    state_schema = (
        "n_seen bigint, n_finalized bigint, ts array<bigint>,"
        " eid array<bigint>, cents array<bigint>, attr array<string>"
    )

    def apply_changes(key, batches, state: GroupState):
        if state.exists:
            n_seen, n_finalized, ts_a, eid_a, cents_a, attr_a = state.get
            hist = list(zip(ts_a, eid_a, cents_a, attr_a))
        else:
            n_seen, n_finalized, hist = 0, 0, []
        import math

        for rows in batches:
            # degenerate-events policy: a change without event time cannot
            # open or close a version (the batch twin x32 filters ts IS
            # NOT NULL); NaN measures are NULL cents, like the oracle
            rows = rows[rows["ts"].notna()]
            ts_us = rows["ts"].astype("int64") // 1_000  # ns -> micros
            eid = rows["event_id"].astype("int64")
            vals = rows["value"]
            etype = rows["event_type"]
            n_seen += len(rows)
            hist.extend(
                (
                    int(t),
                    int(e),
                    None
                    if v is None or math.isnan(v)
                    else int(math.floor(v * 100 + 0.5)),
                    str(a),
                )
                for t, e, v, a in zip(ts_us, eid, vals, etype)
            )
        hist.sort()
        try:
            wm_us = state.getCurrentWatermarkMs() * 1_000
        except Exception:
            wm_us = 0
        # versions whose CLOSING ts is past the watermark are immutable:
        # no event with ts < watermark can arrive to re-split them
        n_final_now = 0
        while n_final_now + 1 < len(hist) and hist[n_final_now + 1][0] <= wm_us:
            n_final_now += 1
        out = {
            "user_id": [],
            "version": [],
            "event_id": [],
            "attr": [],
            "value_cents": [],
            "valid_from_us": [],
            "valid_to_us": [],
            "is_current": [],
            "is_final": [],
            "n_seen": [],
        }

        def emit(idx, row, nxt, final):
            t, e, c, a = row
            out["user_id"].append(key[0])
            out["version"].append(n_finalized + idx + 1)
            out["event_id"].append(e)
            out["attr"].append(a)
            out["value_cents"].append(c)
            out["valid_from_us"].append(t)
            out["valid_to_us"].append(nxt[0] if nxt is not None else None)
            out["is_current"].append(nxt is None)
            out["is_final"].append(final)
            out["n_seen"].append(n_seen)

        for i in range(n_final_now):
            emit(i, hist[i], hist[i + 1], True)
        for i in range(n_final_now, len(hist)):
            nxt = hist[i + 1] if i + 1 < len(hist) else None
            emit(i, hist[i], nxt, False)

        # prune the immutable prefix; renumber the retained suffix's base
        retained = hist[n_final_now:]
        n_finalized += n_final_now
        state.update(
            (
                int(n_seen),
                int(n_finalized),
                [r[0] for r in retained],
                [r[1] for r in retained],
                [r[2] for r in retained],
                [r[3] for r in retained],
            )
        )
        yield pd.DataFrame(out)

    return ev.groupBy("user_id").applyInPandasWithState(
        apply_changes,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def s12_finalize(result):
    """Reduce s12's emission log to the version history: per (key,
    version) the winning emission is the lexicographic max of (is_final,
    n_seen) — finalized rows are immutable and beat any mutable
    re-emission; among mutable ones the monotone counter picks the
    latest.  Absorbs at-least-once duplicates after kill/restart the
    same way s11_finalize does."""
    final = (
        result.groupBy("user_id", "version")
        .agg(
            F.max(
                F.struct(
                    F.col("is_final").cast("int").alias("fin"),
                    "n_seen",
                    "event_id",
                    "attr",
                    "value_cents",
                    "valid_from_us",
                    "valid_to_us",
                    "is_current",
                )
            ).alias("w")
        )
        .select(
            "user_id",
            "version",
            F.col("w.event_id").alias("event_id"),
            F.col("w.attr").alias("attr"),
            F.col("w.value_cents").alias("value_cents"),
            F.col("w.valid_from_us").alias("valid_from_us"),
            F.col("w.valid_to_us").alias("valid_to_us"),
            F.col("w.is_current").alias("is_current"),
        )
    )
    return final.orderBy("user_id", "version")


def _set_s12_oracle() -> None:
    from sqlrs_spark.operators.temporal import _X32_ORACLE
    from sqlrs_spark.registry import REGISTRY

    REGISTRY["s12_stream_scd2"].oracle = _X32_ORACLE


_set_s12_oracle()
