"""Structured Streaming extensions (SURVEY.md §2.I i12, round 9).

Builds on the chunked-replay harness in ``stream_queries.py`` (ts-ordered
micro-batches, availableNow drain, memory sink) to cover the sliding-
window family: overlapping windows whose state the watermark still
bounds, with a downstream ranking step applied to the drained sink — the
shape a real deployment uses for "top movers this rolling day" alerting
dashboards (streaming aggregation upstream, cheap batch rank over the
append-only sink downstream, because ranking functions are not legal on
an unaggregated stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from recommendersystems_bigdata_spark.registry import query
from recommendersystems_bigdata_spark.streaming.stream_queries import (
    read_events_stream,
    run_to_memory,
    stream_state_partitions,
)


@query(
    "q_stream_sliding_topk",
    oracle="""
    WITH e AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec, event_type
      FROM events
    ), mx AS (
      SELECT max(sec) AS mx FROM e
    ), assign AS (
      SELECT (sec // 43200) * 43200 AS w_sec, event_type FROM e
      UNION ALL
      SELECT (sec // 43200) * 43200 - 43200, event_type FROM e
    ), g AS (
      SELECT w_sec, event_type, count(*) AS n_events
      FROM assign GROUP BY 1, 2
    ), closed AS (
      SELECT g.* FROM g, mx WHERE g.w_sec + 86400 <= mx.mx - 86400
    ), r AS (
      SELECT TIMESTAMP '1970-01-01' + w_sec * INTERVAL 1 SECOND AS w_start,
             event_type, n_events,
             row_number() OVER (PARTITION BY w_sec
                                ORDER BY n_events DESC, event_type) AS rk
      FROM closed
    )
    SELECT w_start, event_type, CAST(n_events AS BIGINT) AS n_events,
           CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 2
    ORDER BY w_start, rk
    """,
)
def q_stream_sliding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i12 — sliding-window top-k over the event stream: 1-day windows
    sliding every 12 h (each event lands in exactly 2 overlapping
    windows), per-type counts aggregated in append mode under a 1-day
    watermark, then the top-2 event types per CLOSED window ranked with
    the deterministic (count desc, type asc) tiebreak. The rank runs as
    a batch window over the drained sink — ranking an unaggregated
    stream is not legal in Spark, and a real pipeline does exactly this:
    stream the heavy aggregation, rank the tiny append-only result
    downstream.

    The emitted window set is exactly the windows whose end precedes the
    final watermark (max ts − 1 day) — the same closure predicate the
    tumbling twin (i5) hash-verifies — so the oracle is batch SQL that
    assigns each event to its two covering windows (starts at
    floor(t/12h)·12h and that minus 12 h, Spark's epoch-aligned origin),
    applies the closure, and ranks identically.

    Scale: sliding windows multiply state by duration/slide (2× here),
    still watermark-bounded — closed windows evict; the post-drain rank
    touches |windows|·|types| rows, not events."""
    ev = read_events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "1 day", "12 hours").alias("w"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events")
    )
    drained = run_to_memory(agg, "append", stream_state_partitions(spark, sf_dir))
    rk = F.row_number().over(
        Window.partitionBy("w_start").orderBy(
            F.col("n_events").desc(), "event_type"
        )
    )
    return (
        drained.withColumn("rk", rk)
        .filter(F.col("rk") <= 2)
        .select(
            "w_start",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("w_start", "rk")
    )
