"""Custom stateful milestone streaming operator (SURVEY.md §2.I i13,
round 9) on applyInPandasWithState.

The operator is milestone emission: every user's running lifetime event
count, persisted across micro-batches in per-user state, emitting one
row each time the count crosses a multiple of 10 — the "loyalty badge" /
"every Nth occurrence" pattern that windowed aggregation cannot express
(the emission condition references the lifetime count, not any window).
Because the chunked-replay harness delivers each user's events in exact
(ts, event_id) order across micro-batches
(stream_queries._chunked_events_dir's row_number split) and the handler
sorts within each batch by the same key, the emitted set is a pure
function of the data: exactly the rows batch SQL selects with
``row_number() % 10 = 0`` — so this genuinely stateful operator is
hash-verified against a DuckDB oracle, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupStateTimeout

from recommendersystems_bigdata_spark.registry import query
from recommendersystems_bigdata_spark.streaming.stream_queries import (
    read_events_stream,
    run_to_memory,
    stream_state_partitions,
)

_EVERY_N = 10
_OUT_SCHEMA = "user_id BIGINT, milestone_n BIGINT, ts TIMESTAMP"


@query(
    "q_stream_tws_milestones",
    oracle=f"""
    WITH r AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
      FROM events
    )
    SELECT user_id, CAST(rn AS BIGINT) AS milestone_n, ts
    FROM r WHERE rn % {_EVERY_N} = 0
    ORDER BY user_id, milestone_n
    """,
)
def q_stream_tws_milestones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """i13 — custom stateful milestone operator: per-user lifetime event
    counts in per-key streaming state, emitting (user, n, ts) whenever
    the count crosses a multiple of 10. State survives micro-batch
    boundaries — a user whose 7th event arrives in batch 1 and 13th in
    batch 3 emits exactly one milestone row at event 10, whichever batch
    carries it.

    Scale: state is ONE bigint per user (RocksDB-backable, off-heap,
    incrementally checkpointed); per batch each user's rows arrive as
    Arrow batches, are sorted by the harness's (ts, event_id) total
    order, and counted in one pass — O(rows) work, O(users) state, no
    shuffle beyond the groupBy key exchange every stateful operator
    needs. It runs on the session's state-store provider and leaves the
    session's conf as it found it.
    """
    ev = read_events_stream(spark, sf_dir).select("user_id", "event_id", "ts")
    every_n = _EVERY_N

    def kernel(n0, pdf_iter):
        # NESTED so cloudpickle ships it by value (a module-level fn
        # pickles by reference and dies on workers without this package
        # on sys.path).
        import pandas as pd

        frames = [p for p in pdf_iter if len(p)]
        n = n0
        hit_n, hit_ts = [], []
        if frames:
            df = pd.concat(frames, ignore_index=True)
            df = df.sort_values(["ts", "event_id"], kind="mergesort")
            for ts in df["ts"]:
                n += 1
                if n % every_n == 0:
                    hit_n.append(n)
                    hit_ts.append(ts)
        return n, hit_n, hit_ts

    def emit_milestones(key, pdf_iter, state):
        import pandas as pd

        n0 = state.get[0] if state.exists else 0
        n, hit_n, hit_ts = kernel(int(n0), pdf_iter)
        state.update((n,))
        if hit_n:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(hit_n),
                    "milestone_n": hit_n,
                    "ts": hit_ts,
                }
            )

    milestones = ev.groupBy("user_id").applyInPandasWithState(
        emit_milestones,
        outputStructType=_OUT_SCHEMA,
        stateStructType="n BIGINT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    drained = run_to_memory(milestones, "append", stream_state_partitions(spark, sf_dir))
    return drained.select("user_id", "milestone_n", "ts").orderBy(
        "user_id", "milestone_n"
    )
