"""Structured Streaming operators (SURVEY.md §2.I i5–i7).

Each operator is a real `readStream → transform → writeStream` pipeline run
to completion with an availableNow trigger into a memory sink, so it can be
registered as a (rows-only) driver query AND exercised incrementally in
pytest. The stream source is the corpus events parquet itself.

Scale design: watermarks bound state (late rows beyond 1 day are dropped at
the state store, so state size tracks the watermark horizon, not history);
the stateful count keeps one small row per user key; stream–static joins
broadcast the static dim per micro-batch.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from recommendersystems_bigdata_spark.tmpdirs import scratch_dir
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from recommendersystems_bigdata_spark.catalog import load_table
from recommendersystems_bigdata_spark.registry import query

# Chunked-copy cache: sf_dir -> (src_dir, schema). One materialization per
# corpus directory serves all seven streaming queries in a session.
_STREAM_SRC: dict[str, tuple[str, StructType]] = {}

# How many ts-ordered files (= micro-batches under maxFilesPerTrigger=1) to
# split the corpus into. Must be >1: in append output mode the watermark
# only advances BETWEEN micro-batches, so a single-batch stream never closes
# any window and emits nothing.
N_STREAM_CHUNKS = 4

# Scale-adaptive state-partition count for the availableNow drains
# (partitions ∝ bytes, never a constant tuned to one machine). A stateful
# streaming operator claims ONE state store per shuffle partition per
# micro-batch, and the default HDFS-backed provider writes + fsyncs a delta
# file per store per batch, so the per-batch fixed cost is linear in the
# partition count REGARDLESS of data. Measured at sf0.1
# (scripts/profile.py 'q_stream_*'): state-store commit time dominates
# addBatch while total state is 40–50k rows, and a default 200-partition
# session pays 200 store commits × batches × (up to 4 stores for a
# stream-stream join) to manage kilobytes. stream_state_partitions()
# therefore sizes state partitions from the bytes that will actually stream
# through: chunked-source bytes / 32 MB, at least 1 (every shipped corpus
# derives 1), growing without bound with the corpus. Each query passes that
# count to run_to_memory, which drains under min(session shuffle
# partitions, count): the session value caps it. Partition COUNT is
# invisible to results: rows hash to stores by key, and within-key arrival
# order (which decides keep-first dedup) rides the per-batch single-file map
# order, not the reducer count — pinned by the oracle/hash checks either
# way.
_STREAM_STATE_BYTES_PER_PARTITION = 32 * 1024 * 1024


def _chunked_events_dir(spark: SparkSession, sf_dir: str) -> tuple[str, StructType]:
    """Materialize events as N ts-range-ordered parquet files for streaming.

    The corpus ships events as ONE parquet file; a file stream over it is a
    single micro-batch, which in append mode emits zero closed windows (the
    watermark advances only between batches). The table is re-written as N
    files whose ts ranges are ascending in file order; stamping ascending
    mtimes makes the file-stream source (which orders batches by
    modification time) replay them oldest-first, so the watermark moves
    strictly forward and streamed results equal the batch twin on every
    closed window.

    Chunk assignment is an exact row_number split over the (ts, event_id)
    total order — NOT ``repartitionByRange``, whose boundaries come from
    reservoir sampling seeded by the RDD id and therefore shift with the
    session's prior execution history (observed: the per-batch row counts,
    and with them the foreachBatch and flushed-state outputs, differed
    between two harnesses running the same queries in different orders).
    The row_number split makes micro-batch composition a pure function of
    the data, so every streaming result is reproducible across sessions
    and orderings.

    This stands in for what a production deployment gets for free from a
    Kafka / file-drop source: many ordered arrivals. The rewrite is a
    one-off per session, cached across all streaming queries.
    """
    key = os.path.abspath(sf_dir)
    if key in _STREAM_SRC:
        # Validate the cached generation still exists: scratch_dir prunes
        # generations KEEP_GENERATIONS behind, so a cache entry restored
        # after other callers cycled the tag (the chunk-invariance tests
        # do) can dangle. Re-materialize instead of streaming a deleted
        # directory.
        if os.path.isdir(_STREAM_SRC[key][0]):
            return _STREAM_SRC[key]
        del _STREAM_SRC[key]
    out = scratch_dir("stream_src_" + hashlib.md5(key.encode()).hexdigest()[:8])
    ev = load_table(spark, sf_dir, "events")  # ts already µs timestamp_ntz
    n_rows = ev.count()
    w = Window.orderBy("ts", "event_id")
    chunked = ev.withColumn(
        "_chunk",
        ((F.row_number().over(w) - 1) * N_STREAM_CHUNKS / n_rows).cast("int"),
    )
    base = time.time()
    for i in range(N_STREAM_CHUNKS):
        before = set(_glob.glob(os.path.join(out, "part-*")))
        (
            chunked.filter(F.col("_chunk") == i)
            .drop("_chunk")
            .coalesce(1)
            .write.mode("append")
            .parquet(out)
        )
        for p in set(_glob.glob(os.path.join(out, "part-*"))) - before:
            os.utime(p, (base + i, base + i))
    _STREAM_SRC[key] = (out, ev.schema)
    return _STREAM_SRC[key]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the chunked events copy, one file per micro-batch.

    ``ts`` is cast NTZ→LTZ because watermarks require TimestampType; the
    session timezone is pinned to UTC (session.py) so the cast is
    wall-clock-identity and streamed window starts line up with the NTZ
    batch twins.
    """
    src, schema = _chunked_events_dir(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_state_partitions(spark: SparkSession, sf_dir: str) -> int:
    """State-partition count for draining the events stream of ``sf_dir``:
    ceil(chunked-source bytes / 32 MB), at least 1 (see the note above
    _STREAM_STATE_BYTES_PER_PARTITION)."""
    src, _schema = _chunked_events_dir(spark, sf_dir)
    total_bytes = sum(os.path.getsize(p) for p in _glob.glob(os.path.join(src, "part-*")))
    return max(1, -(-total_bytes // _STREAM_STATE_BYTES_PER_PARTITION))


def run_to_memory(stream_df: DataFrame, output_mode: str, partitions: int) -> DataFrame:
    """Drain a stream into a memory sink with availableNow; return the
    sink's table.

    State partitioning: `spark.sql.shuffle.partitions` is captured by a
    streaming query at start and becomes its state-store partition count
    for life, so the drain starts under min(session value, ``partitions``
    — normally stream_state_partitions()) and restores the session conf
    immediately after: never raising it above what the session chose, only
    refusing to spread kilobytes of state over hundreds of per-batch store
    commits (see the note above _STREAM_STATE_BYTES_PER_PARTITION)."""
    spark = stream_df.sparkSession
    name = "mem_" + uuid.uuid4().hex[:12]
    ckpt = scratch_dir("ckpt_" + name)
    conf_key = "spark.sql.shuffle.partitions"
    session_n = int(spark.conf.get(conf_key))
    n = min(session_n, partitions)
    if n != session_n:
        spark.conf.set(conf_key, str(n))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if n != session_n:
            spark.conf.set(conf_key, str(session_n))
    return spark.table(name)


@query(
    "q_stream_watermark_tumble",
    oracle="""
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events
    WHERE date_trunc('day', CAST(ts AS TIMESTAMP)) + INTERVAL 1 DAY
          <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 DAY FROM events)
    GROUP BY 1, 2
    """,
)
def q_stream_watermark_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i5 — watermarked tumbling aggregate over the event stream.

    1-day watermark + 1-day windows in append mode: a window emits only
    once the watermark passes its end, and state for closed windows is
    evicted — bounded state at any volume. The emitted set is exactly the
    windows whose end precedes the final watermark (max ts − 1 day) —
    independent of micro-batch boundaries, because the final no-data batch
    flushes everything the last watermark update closed — so the result is
    hash-verified against the batch SQL with that closure predicate.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "total_value")
    )
    return run_to_memory(agg, "append", stream_state_partitions(spark, sf_dir))


@query(
    "q_stream_static_join",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i6 — stream–static join: enrich the event stream with the customer
    dim (static side re-read per micro-batch, broadcast under threshold).

    Complete output mode over an availableNow drain converges to the batch
    aggregate over the whole corpus, so the streamed result hash-matches
    the plain SQL oracle — the streaming runtime is inside the verified
    path, not just rows-only."""
    ev = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    joined = ev.join(customer, ev.user_id == customer.c_custkey, "inner")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_to_memory(agg, "complete", stream_state_partitions(spark, sf_dir))


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT l.event_id AS l_id, l.user_id AS l_user, r.event_id AS r_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.event_id <> l.event_id
     AND r.ts >= l.ts
     AND r.ts <= l.ts + INTERVAL 1 HOUR
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream interval self-join: for each event, count the same
    user's events landing within the following hour (click→follow-up
    attribution shape). Inner-join matches emit as they are found and the
    ts-ordered chunked source never evicts a row before its match horizon
    passes, so the drained stream equals the batch join exactly — the
    oracle is the plain SQL interval self-join.

    Both sides carry a 1-hour watermark and the join condition bounds
    `r.ts` to [l.ts, l.ts + 1h], so each side's join state is evicted once
    the watermark passes the interval — state is bounded by rate × horizon,
    not by stream history. That eviction bound is the whole scale story
    for stream joins; without the time bound state grows forever. Batch
    twin for value-level verification: tests/test_streaming.py.
    """
    left = (
        read_events_stream(spark, sf_dir)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", "1 hour")
    )
    right = (
        read_events_stream(spark, sf_dir)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", "1 hour")
    )
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_id") != F.col("l_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    pairs = joined.select("l_id", "l_user", "r_id")
    return run_to_memory(pairs, "append", stream_state_partitions(spark, sf_dir))


@query("q_stream_foreach_batch_sink")
def q_stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch idempotent sink — the exactly-once delivery pattern for
    sinks without native streaming support.

    Each micro-batch lands in a directory keyed by its batchId; on
    recovery after a failure the same batchId is re-delivered, and the
    overwrite of that directory makes the replay idempotent (the
    transactional-sink recipe: key every side effect on (queryId,
    batchId)). At 100 TB this is how streams feed warehouses, JDBC, or
    any non-idempotent store. Returns the per-batch row counts read back
    from the sink directories — total must equal the source row count.
    """
    base = scratch_dir("febatch")
    agg = read_events_stream(spark, sf_dir).select("event_id", "user_id", "event_type")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # overwrite => replaying the same batch_id after a crash is a no-op
        batch_df.write.mode("overwrite").parquet(f"{base}/batch_id={batch_id}")

    ckpt = scratch_dir("febatch_ckpt")
    q = (
        agg.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sunk = spark.read.option("basePath", base).parquet(f"{base}/batch_id=*")
    return (
        sunk.groupBy("batch_id")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.col("batch_id").cast("long"), "n_rows")
    )


_STATE_SCHEMA = StructType([StructField("n", LongType()), StructField("total_us", LongType())])
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("last_ts", TimestampType()),
    ]
)


@query("q_stream_stateful_count")
def q_stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i7 — custom stateful operator: running per-user event count via
    applyInPandasWithState. State is one (count, last_ts) pair per user —
    constant per key, mergeable across micro-batches, RocksDB-backable.

    The stateful fn is a *nested* def: cloudpickle then serializes it by
    value, so Spark's Python workers never need this package importable on
    their sys.path (they only import pandas). A module-level fn would be
    pickled by reference and break under any driver whose workers lack the
    repo on PYTHONPATH.
    """

    def count_events(key, pdf_iter, state):
        import pandas as pd  # noqa: shadowing for by-value pickling

        if state.exists:
            (n, last_us) = state.get
        else:
            n, last_us = 0, 0
        for pdf in pdf_iter:
            n += len(pdf)
            if len(pdf):
                batch_max_us = int(pd.Timestamp(pdf["ts"].max()).value // 1000)  # ns → µs
                last_us = max(last_us, batch_max_us)
        state.update((n, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
            }
        )

    ev = read_events_stream(spark, sf_dir).select("user_id", "ts")
    counted = ev.groupBy("user_id").applyInPandasWithState(
        count_events,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(counted, "update", stream_state_partitions(spark, sf_dir))


@query(
    "q_stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - epoch_us(lag(CAST(ts AS TIMESTAMP))
                                  OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    ),
    s AS (
      SELECT user_id, session_id, min(ts) AS session_start,
             max(ts) AS session_end, count(*) AS n_events
      FROM numbered GROUP BY user_id, session_id
    )
    SELECT user_id, session_start, n_events FROM s
    WHERE session_end + INTERVAL 30 MINUTE
          <= (SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 DAY FROM events)
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i3 (streaming form) — session windows under a watermark: per-user
    sessions with a 30-minute gap computed incrementally. Session state
    MERGES as events arrive (unlike fixed windows), and a session only
    emits once the watermark passes its close — the canonical stateful-
    merging-window workload. The emitted set is exactly the sessions whose
    end (last event + 30 min) precedes the final watermark (max ts − 1
    day) — chunk-boundary-independent — so it hash-verifies against the
    gaps-and-islands SQL with that closure predicate; containment vs the
    batch twin is additionally asserted in tests/test_streaming.py.

    Scale: state is one (start, end, count) row per open session per
    user — eviction tracks the watermark, so state size is bounded by
    active users × gap horizon, not history.
    """
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, "append", stream_state_partitions(spark, sf_dir))
