"""Structured Streaming completeness: outer join + watermarked dedup
(SURVEY.md §2.I i14/i15, round 9).

Two streaming surfaces the i5–i13 set does not cover:

- **Stream–stream LEFT OUTER join** (i14): the attribution shape "every
  click, with its follow-up if one ever arrives" — null-padded rows for
  unmatched left events can only be emitted once the watermark proves no
  match can still arrive, so outer emission is WATERMARK-GATED state
  eviction, a fundamentally different mechanism from the inner join's
  emit-on-match (i7a covers that). The emitted set is deterministic
  given the final watermark, so it hash-verifies against batch SQL with
  the closure predicate.
- **dropDuplicatesWithinWatermark** (i15): at-least-once sources (Kafka
  replays, file re-drops) deliver duplicates CLOSE TOGETHER in event
  time; this operator dedups within the watermark delay of first sight
  and — unlike plain dropDuplicates — evicts each key's state once the
  watermark passes it, so state is bounded by rate × delay, not by the
  key cardinality of the whole stream. The duplicate feed is simulated
  by unioning the chunked file stream with itself (every event arrives
  exactly twice, both copies in the same micro-batch), so the deduped
  output equals the events table row-for-row and takes a plain SQL
  oracle.

Scale: both operators' state is watermark-bounded — the left-join state
holds each left row only until `l_ts + horizon` passes the watermark;
the dedup state holds each key for exactly the delay window. That
eviction is the entire 100 TB story for unbounded streams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from recommendersystems_bigdata_spark.registry import query
from recommendersystems_bigdata_spark.streaming.stream_queries import (
    read_events_stream,
    run_to_memory,
    stream_state_partitions,
)


@query(
    "q_stream_stream_left_outer",
    oracle="""
    WITH wm AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS final_wm
      FROM events
    ),
    matched AS (
      SELECT l.event_id AS l_id, l.user_id AS l_user, r.event_id AS r_id
      FROM events l JOIN events r
        ON l.user_id = r.user_id
       AND r.event_id <> l.event_id
       AND r.ts >= l.ts
       AND r.ts <= l.ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
      SELECT l.event_id AS l_id, l.user_id AS l_user,
             CAST(NULL AS BIGINT) AS r_id
      FROM events l
      WHERE NOT EXISTS (
        SELECT 1 FROM events r
        WHERE r.user_id = l.user_id
          AND r.event_id <> l.event_id
          AND r.ts >= l.ts
          AND r.ts <= l.ts + INTERVAL 1 HOUR
      )
      AND CAST(l.ts AS TIMESTAMP) + INTERVAL 1 HOUR
          < (SELECT final_wm FROM wm)
    )
    SELECT l_id, l_user, r_id FROM matched
    UNION ALL
    SELECT l_id, l_user, r_id FROM unmatched
    """,
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i14 — stream–stream LEFT OUTER interval self-join: every event,
    paired with each same-user follow-up inside the next hour; events
    with NO follow-up emit a null-padded row — but only once the
    watermark passes their one-hour match horizon (emitting earlier
    could be contradicted by a late match; that wait IS the outer-join
    semantics under watermarks). Matched pairs emit as found, exactly
    like the inner join.

    The availableNow drain ends with final watermark = max(ts) − 1h, so
    the emitted set is: ALL matched pairs, plus null-padded rows for
    match-less events whose horizon (l_ts + 1h) lies strictly before
    the final watermark — the closure predicate the batch oracle
    mirrors with NOT EXISTS. Match-less events inside the last
    watermark lag stay in state at shutdown and are not emitted
    (deterministically — the predicate excludes them too).

    Scale: join state on each side is evicted once the watermark
    passes the interval bound — state ∝ rate × 1h horizon, never
    stream history; the null-pad check costs nothing extra (it rides
    the same eviction scan)."""
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
        "left_outer",
    )
    return run_to_memory(
        joined.select("l_id", "l_user", "r_id"),
        "append",
        stream_state_partitions(spark, sf_dir),
    )


@query(
    "q_stream_dedup_within_watermark",
    oracle="""
    SELECT event_id, user_id, event_type FROM events
    """,
)
def q_stream_dedup_within_watermark(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """i15 — dropDuplicatesWithinWatermark over an at-least-once feed:
    the chunked event stream unioned with itself (every event delivered
    exactly twice, both copies in the same micro-batch — the Kafka-
    replay / file-redrop shape), deduplicated on event_id within a
    1-day watermark. Output = each event once, so the oracle is the
    plain events projection.

    Unlike plain dropDuplicates (i4's batch-twin caveat), the
    WithinWatermark variant EVICTS each key's state once the watermark
    passes first-sight + delay — the guarantee is "duplicates arrive
    within the delay of each other", and in exchange state is bounded
    by rate × delay instead of the stream's full key cardinality. That
    bound is what makes dedup deployable on an unbounded 100 TB/day
    feed.

    Emission is immediate on first sight (not watermark-gated), so
    append mode drains the full deduped stream under availableNow."""
    cols = ["event_id", "user_id", "event_type", "ts"]
    a = read_events_stream(spark, sf_dir).select(*cols)
    b = read_events_stream(spark, sf_dir).select(*cols)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )
    return run_to_memory(deduped, "append", stream_state_partitions(spark, sf_dir))
