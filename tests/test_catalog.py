"""catalog.load_table pins each table's parquet schema per file signature.

A schema-less ``spark.read.parquet`` runs a footer-inference Spark job on
every call; the catalog pays it once per (path, data files, schema confs)
and passes the pinned schema on every later read. These tests count the
jobs a read fires through a job group, and check that pinning changes no
result: fresh relations per call, rewrites re-inferred, events' ns→µs
conversion intact, part-file directories pinned like single files.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from recommendersystems_bigdata_spark.catalog import _file_signature, load_table


def _load_counting_jobs(spark, corpus: str, name: str):
    """load_table under a fresh job group; return (df, jobs it fired)."""
    sc = spark.sparkContext
    group = "catalog-test-" + uuid.uuid4().hex[:8]
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, corpus, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _copy_table(sf_dir: str, corpus: str, name: str) -> str:
    os.makedirs(corpus, exist_ok=True)
    dst = os.path.join(corpus, f"{name}.parquet")
    shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), dst)
    return dst


def test_second_read_runs_no_job(spark, sf_dir, tmp_path):
    corpus = str(tmp_path)
    _copy_table(sf_dir, corpus, "orders")
    first, first_jobs = _load_counting_jobs(spark, corpus, "orders")
    second, second_jobs = _load_counting_jobs(spark, corpus, "orders")
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_rewritten_table_is_inferred_again(spark, sf_dir, tmp_path):
    corpus = str(tmp_path)
    path = _copy_table(sf_dir, corpus, "orders")
    load_table(spark, corpus, "orders")
    assert "o_extra" not in load_table(spark, corpus, "orders").columns
    table = pq.read_table(path)
    table = table.append_column("o_extra", pa.array(range(table.num_rows), pa.int64()))
    pq.write_table(table, path)
    df, jobs = _load_counting_jobs(spark, corpus, "orders")
    assert jobs >= 1
    assert "o_extra" in df.columns
    assert df.agg(F.sum("o_extra")).first()[0] == sum(range(table.num_rows))


def test_self_join_of_pinned_reads(spark, sf_dir):
    load_table(spark, sf_dir, "orders")  # pin
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    joined = a.join(b, a.o_orderkey == b.o_orderkey).select(a.o_orderkey, b.o_custkey)
    got = sorted(tuple(r) for r in joined.collect())
    ref = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = sorted(tuple(r) for r in ref.select("o_orderkey", "o_custkey").collect())
    assert got == want


def test_pinned_events_ts_is_timestamp_ntz(spark, sf_dir):
    first = load_table(spark, sf_dir, "events")
    second, jobs = _load_counting_jobs(spark, sf_dir, "events")
    assert jobs == 0
    assert dict(second.dtypes)["ts"] == "timestamp_ntz"

    def head(df):
        return df.orderBy("event_id").select("event_id", "ts").limit(50).collect()

    assert head(second) == head(first)


def test_part_file_directory_is_pinned(spark, sf_dir, tmp_path):
    corpus = str(tmp_path)
    table = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    part_dir = os.path.join(corpus, "orders.parquet")
    os.makedirs(part_dir)
    step = -(-table.num_rows // 3)
    for p in range(3):
        pq.write_table(table.slice(p * step, step), os.path.join(part_dir, f"part-{p:05d}.parquet"))
    first, first_jobs = _load_counting_jobs(spark, corpus, "orders")
    second, second_jobs = _load_counting_jobs(spark, corpus, "orders")
    assert first_jobs >= 1
    assert second_jobs == 0
    assert second.count() == table.num_rows
    # Dropping a part changes the signature, so the read re-lists and re-infers.
    os.remove(os.path.join(part_dir, "part-00002.parquet"))
    third, third_jobs = _load_counting_jobs(spark, corpus, "orders")
    assert third_jobs >= 1
    assert third.count() == 2 * step


def test_unstattable_path_has_no_signature(spark):
    assert _file_signature(spark, "s3a://bucket/corpus/orders.parquet") is None
