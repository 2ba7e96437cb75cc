"""Structured Streaming semantics (SURVEY.md §5): watermark late-data drop,
stream–static join parity with batch, stateful accumulation across batches.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from recommendersystems_bigdata_spark.catalog import load_table
from recommendersystems_bigdata_spark.streaming.stream_queries import (
    q_stream_static_join,
    q_stream_stateful_count,
    q_stream_watermark_tumble,
    run_to_memory,
)


def test_stream_tumble_matches_batch(spark, sf_dir):
    """availableNow processing of the full file must equal the batch window agg
    for windows the watermark has closed (all but the last open one)."""
    stream_res = q_stream_watermark_tumble(spark, sf_dir).toPandas()
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events")
        .toPandas()
    )
    assert len(stream_res) > 0
    merged = stream_res.merge(batch, on=["w_start", "event_type"], suffixes=("_s", "_b"))
    # every window the stream emitted must match the batch count exactly
    assert (merged["n_events_s"] == merged["n_events_b"]).all()


def test_stream_static_join_matches_batch(spark, sf_dir):
    stream_res = q_stream_static_join(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    batch = (
        ev.join(cust, ev.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .toPandas()
    )
    m = stream_res.merge(batch, on="c_mktsegment", suffixes=("_s", "_b"))
    assert len(m) == len(batch)
    assert (m["n_events_s"] == m["n_events_b"]).all()


def test_stream_stateful_count_matches_batch(spark, sf_dir):
    stream_res = q_stream_stateful_count(spark, sf_dir).toPandas()
    # update mode may emit several rows per key (one per batch); the final
    # (max) count per user must equal the batch groupBy count
    final = stream_res.groupby("user_id")["n_events"].max()
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
        .set_index("user_id")["n"]
    )
    assert final.sort_index().equals(batch.sort_index().astype(final.dtype))


def test_watermark_drops_late_rows(spark):
    """Two-batch file stream: batch 2 contains a row 3 days older than the
    watermark — the aggregate must not emit a window for it."""
    base = tempfile.mkdtemp(prefix="rsbd_late_")
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    cols = ["event_id", "ts", "user_id", "value"]

    from datetime import datetime

    def mk(rows):
        rows = [(i, datetime.strptime(t, "%Y-%m-%d %H:%M:%S"), u, v) for i, t, u, v in rows]
        return spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")

    batch1 = mk([(1, "2024-01-10 12:00:00", 1, 1.0), (2, "2024-01-10 13:00:00", 1, 1.0)])
    batch1.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(batch1.schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), "n")
    )
    import uuid

    name = "late_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one fresh row (advances watermark past Jan 10) + one late row from Jan 7
        mk([(3, "2024-01-12 12:00:00", 1, 1.0), (4, "2024-01-07 00:30:00", 1, 1.0)]).coalesce(
            1
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        # batch 3: advance watermark again so the Jan-12 window can close
        mk([(5, "2024-01-14 12:00:00", 1, 1.0)]).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).toPandas()
    starts = set(out["w_start"].astype(str))
    # Jan 10 window emitted with both rows; the late Jan 7 row never appears
    assert any(s.startswith("2024-01-10") for s in starts), starts
    assert not any(s.startswith("2024-01-07") for s in starts), starts
    assert out.loc[out["w_start"].astype(str).str.startswith("2024-01-10"), "n"].iloc[0] == 2
    shutil.rmtree(base, ignore_errors=True)


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Interval self-join pairs from the stream must equal the batch twin
    (same-user follow-ups within 1 hour, availableNow drains everything)."""
    from recommendersystems_bigdata_spark.streaming.stream_queries import (
        q_stream_stream_join,
    )

    stream_pairs = {
        (r.l_id, r.r_id) for r in q_stream_stream_join(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    left = ev.select(
        F.col("event_id").alias("l_id"), F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts")
    )
    right = ev.select(
        F.col("event_id").alias("r_id"), F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
    )
    batch = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_id") != F.col("l_id"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    batch_pairs = {(r.l_id, r.r_id) for r in batch.collect()}
    assert batch_pairs, "batch twin found no pairs — interval too narrow"
    assert stream_pairs == batch_pairs


def test_foreach_batch_sink_delivers_all_rows(spark, sf_dir):
    """The idempotent foreachBatch sink must deliver exactly the source
    rows (no loss, no duplication) across however many batches ran."""
    from recommendersystems_bigdata_spark.streaming.stream_queries import (
        q_stream_foreach_batch_sink,
    )

    per_batch = q_stream_foreach_batch_sink(spark, sf_dir).toPandas()
    total = int(per_batch["n_rows"].sum())
    src = load_table(spark, sf_dir, "events").count()
    assert total == src, (total, src)


def test_no_streaming_query_emits_zero_rows(spark, sf_dir):
    """Watermark-advance regression guard: every registered streaming query
    must emit >0 rows on the sf0.001 corpus. A single-micro-batch source
    (or any future source change that stops the watermark advancing between
    batches) silently turns every append-mode window/join/session query
    into an empty result — the exact bug class rounds 1–3 shipped. The
    chunked source (stream_queries._chunked_events_dir) must keep at least
    N_STREAM_CHUNKS micro-batches flowing."""
    from recommendersystems_bigdata_spark import registry
    from recommendersystems_bigdata_spark.streaming import stream_queries as sq

    registry.load_all()
    assert sq.N_STREAM_CHUNKS > 1, "chunked source degenerated to one micro-batch"
    stream_keys = [k for k in registry.QUERIES if k.startswith("q_stream_")]
    assert len(stream_keys) >= 6, stream_keys
    for key in stream_keys:
        n = registry.QUERIES[key](spark, sf_dir).count()
        assert n > 0, f"{key} emitted 0 rows — watermark never advanced?"


def test_stream_dedup_matches_batch_twin(spark, sf_dir):
    """q_stream_dedup's deterministic keep-first dedup must yield exactly
    one row per distinct (user_id, event_type) — the same cardinality a
    watermarked dropDuplicates stream converges to."""
    from recommendersystems_bigdata_spark import registry

    registry.load_all()
    n_dedup = registry.QUERIES["q_stream_dedup"](spark, sf_dir).count()
    ev = load_table(spark, sf_dir, "events")
    assert n_dedup == ev.select("user_id", "event_type").distinct().count()


def test_stream_session_window_subset_of_batch(spark, sf_dir):
    """streaming sessions (closed before the final watermark) must agree
    exactly — same start, same event count — with the batch session
    operator; open sessions may be withheld, never altered."""
    from recommendersystems_bigdata_spark import registry

    registry.load_all()
    streamed = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in registry.QUERIES["q_stream_session_window"](spark, sf_dir).collect()
    }
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in registry.QUERIES["q_session_window"](spark, sf_dir).collect()
    }
    assert streamed, "no sessions emitted"
    for key, n in streamed.items():
        assert key in batch, f"streamed session {key} not in batch"
        assert batch[key] == n, (key, n, batch[key])
    # most of the corpus precedes the watermark horizon: expect good coverage
    assert len(streamed) >= 0.5 * len(batch), (len(streamed), len(batch))


@pytest.mark.slow  # harness property (chunk-boundary independence), re-streams 16x
def test_watermark_tumble_invariant_to_chunk_count(spark, sf_dir):
    """The emitted window set must be a property of the WATERMARK, not of
    how the arrival sequence happens to be chunked: re-running the
    watermarked tumbling aggregate with 16 micro-batches instead of 4
    must produce the identical result set. Proves the append-mode
    emission fix is watermark-correct rather than tuned to the default
    chunking."""
    from recommendersystems_bigdata_spark import registry
    from recommendersystems_bigdata_spark.streaming import stream_queries as sq

    registry.load_all()
    fn = registry.QUERIES["q_stream_watermark_tumble"]

    def rows(df):
        return sorted(
            (r["w_start"], r["event_type"], r["n_events"], r["total_value"])
            for r in df.collect()
        )

    baseline = rows(fn(spark, sf_dir))  # default N_STREAM_CHUNKS (4)
    assert baseline, "baseline stream emitted nothing"

    saved_chunks = sq.N_STREAM_CHUNKS
    saved_cache = dict(sq._STREAM_SRC)
    try:
        sq.N_STREAM_CHUNKS = 16
        sq._STREAM_SRC.clear()  # force re-materialization at 16 chunks
        rechunked = rows(fn(spark, sf_dir))
    finally:
        sq.N_STREAM_CHUNKS = saved_chunks
        sq._STREAM_SRC.clear()
        sq._STREAM_SRC.update(saved_cache)

    assert rechunked == baseline, (
        f"emitted set changed with chunking: {len(baseline)} baseline rows "
        f"vs {len(rechunked)} at 16 chunks"
    )


def test_chunk_composition_is_pure_function_of_data(spark, sf_dir):
    """Micro-batch composition must be a pure function of the DATA, never
    of the session's execution history: materializing the chunked stream
    source twice in one session must give byte-identical per-chunk
    membership.  The previous ``repartitionByRange`` implementation failed
    exactly this — its range boundaries come from a reservoir sample
    seeded by the session's monotonically-increasing RDD id, so a second
    materialization (or a harness that had run other queries first)
    produced different chunk boundaries and, with them, different
    foreachBatch / flushed-state outputs."""
    import glob
    import os

    from recommendersystems_bigdata_spark.streaming import stream_queries as sq

    def composition():
        out, _schema = sq._chunked_events_dir(spark, sf_dir)
        files = sorted(
            glob.glob(os.path.join(out, "part-*")), key=lambda p: os.path.getmtime(p)
        )
        return [
            tuple(sorted(r["event_id"] for r in spark.read.parquet(f).collect()))
            for f in files
        ]

    saved_cache = dict(sq._STREAM_SRC)
    try:
        sq._STREAM_SRC.clear()
        first = composition()
        sq._STREAM_SRC.clear()
        second = composition()
    finally:
        sq._STREAM_SRC.clear()
        sq._STREAM_SRC.update(saved_cache)

    assert len(first) == sq.N_STREAM_CHUNKS
    assert first == second, "chunk membership differed between materializations"
    # closed-form split: chunk i holds rows with (rn-1)*N div n_rows == i,
    # so sizes differ by at most 1 and every row appears exactly once.
    sizes = [len(c) for c in first]
    assert max(sizes) - min(sizes) <= 1, sizes
    all_ids = [e for c in first for e in c]
    assert len(all_ids) == len(set(all_ids)) == sum(sizes)


import pytest as _pytest


@_pytest.mark.slow  # harness property, re-streams every key at 16 chunks
@_pytest.mark.parametrize(
    "key",
    [
        "q_stream_static_join",
        "q_stream_stream_join",
        "q_stream_dedup",
        "q_stream_session_window",
        # i13: the strongest cross-batch-state check — 16 chunks split
        # users' histories across 4× more batches, and the milestone set
        # must not move (state genuinely spans micro-batches)
        "q_stream_tws_milestones",
    ],
)
def test_stream_result_invariant_to_chunk_count(spark, sf_dir, key):
    """Chunk-count invariance for every oracle-checked streaming query
    (the watermark-tumble case above established the pattern): the final
    emitted set is a property of the data and the watermark, never of the
    micro-batch boundaries. Each query re-runs with 16 chunks instead of
    the default 4 and must produce the identical row set."""
    from recommendersystems_bigdata_spark import registry
    from recommendersystems_bigdata_spark.streaming import stream_queries as sq

    registry.load_all()
    fn = registry.QUERIES[key]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    baseline = rows(fn(spark, sf_dir))
    assert baseline, f"{key}: baseline stream emitted nothing"

    saved_chunks = sq.N_STREAM_CHUNKS
    saved_cache = dict(sq._STREAM_SRC)
    try:
        sq.N_STREAM_CHUNKS = 16
        sq._STREAM_SRC.clear()
        rechunked = rows(fn(spark, sf_dir))
    finally:
        sq.N_STREAM_CHUNKS = saved_chunks
        sq._STREAM_SRC.clear()
        sq._STREAM_SRC.update(saved_cache)

    assert rechunked == baseline, (
        f"{key}: emitted set changed with chunking "
        f"({len(baseline)} rows at 4 chunks vs {len(rechunked)} at 16)"
    )


@pytest.mark.parametrize(
    "key", ["q_stream_stateful_count", "q_stream_session_window"]
)
def test_stateful_queries_under_rocksdb_provider(spark, sf_dir, key):
    """VERDICT r6 #3: the RocksDB state-store provider (the 100 TB-key-
    cardinality configuration — off-heap disk-backed state, incremental
    checkpoints; session.py names its conf and class) must produce the
    IDENTICAL emitted set as the default HDFS-backed store. The provider
    conf is read per streaming query at start, so flipping it at runtime
    on the shared session is how a deployment selects it."""
    from recommendersystems_bigdata_spark import registry
    from recommendersystems_bigdata_spark.session import (
        ROCKSDB_PROVIDER_CLASS,
        ROCKSDB_PROVIDER_CONF,
    )

    registry.load_all()
    fn = registry.QUERIES[key]

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    baseline = rows(fn(spark, sf_dir))
    assert baseline, f"{key}: baseline stream emitted nothing"

    saved = spark.conf.get(ROCKSDB_PROVIDER_CONF, None)
    try:
        spark.conf.set(ROCKSDB_PROVIDER_CONF, ROCKSDB_PROVIDER_CLASS)
        under_rocksdb = rows(fn(spark, sf_dir))
    finally:
        if saved is None:
            spark.conf.unset(ROCKSDB_PROVIDER_CONF)
        else:
            spark.conf.set(ROCKSDB_PROVIDER_CONF, saved)

    assert under_rocksdb == baseline, (
        f"{key}: RocksDB state store changed the emitted set "
        f"({len(baseline)} vs {len(under_rocksdb)} rows)"
    )


def test_milestones_leave_the_state_store_provider_unchanged(spark, sf_dir):
    """q_stream_tws_milestones runs on the session's state-store provider
    and must not switch it: a provider set by one query would carry every
    later stateful stream in the session (and the RocksDB-vs-default test
    above would compare RocksDB with RocksDB)."""
    from recommendersystems_bigdata_spark import registry
    from recommendersystems_bigdata_spark.session import ROCKSDB_PROVIDER_CONF

    registry.load_all()
    spark.conf.unset(ROCKSDB_PROVIDER_CONF)  # start from the default provider
    before = spark.conf.get(ROCKSDB_PROVIDER_CONF, None)
    assert registry.QUERIES["q_stream_tws_milestones"](spark, sf_dir).count() > 0
    assert spark.conf.get(ROCKSDB_PROVIDER_CONF, None) == before
