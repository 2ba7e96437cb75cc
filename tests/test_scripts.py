"""scripts/profile.py (per-key profile records) and scripts/make_replica.py
(key-space offset units)."""

from __future__ import annotations

import fnmatch
import importlib.util
import json
from pathlib import Path

import pytest

from recommendersystems_bigdata_spark import registry

SCRIPTS = Path(__file__).resolve().parent.parent / "scripts"


def _load(name: str):
    # Loaded under another name: as ``profile`` the script would shadow
    # the standard library module of that name.
    spec = importlib.util.spec_from_file_location(f"{name}_script", SCRIPTS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_profile_selects_exactly_the_fnmatch_keys():
    select = _load("profile").select
    registry.load_all()
    keys = list(registry.QUERIES)
    assert select([], keys) == keys
    assert select(["q_stream_*"], keys) == fnmatch.filter(keys, "q_stream_*")
    both = ["q_stream_*", "q_agg_pricing_summary", "q_stream_dedup"]
    assert select(both, keys) == [
        k for k in keys if k == "q_agg_pricing_summary" or fnmatch.fnmatch(k, "q_stream_*")
    ]
    with pytest.raises(SystemExit):
        select(["q_no_such_key*"], keys)


def test_profile_records_batch_and_stream_keys(spark, sf_dir, tmp_path):
    registry.load_all()
    out = tmp_path / "profile.json"
    keys = ["q_agg_pricing_summary", "q_stream_watermark_tumble"]
    records = _load("profile").profile(spark, sf_dir, keys, str(out))
    assert json.loads(out.read_text()) == records
    assert list(records) == keys
    batch, stream = records["q_agg_pricing_summary"], records["q_stream_watermark_tumble"]
    assert "error" not in batch and "error" not in stream
    assert batch["jobs"] >= 1 and batch["rows"] > 0
    assert "isFinalPlan=true" in batch["plan"]
    assert batch["build_s"] >= 0 and batch["action_s"] > 0
    assert len(stream["stream"]) >= 2
    assert all("numInputRows" in b and "durationMs" in b for b in stream["stream"])


def test_replica_offset_units_cover_each_key_space():
    replica = _load("make_replica")
    assert [replica.offset_unit(m) for m in (0, 9, 10, 1499, 14999, 9_999_999, 10_000_000)] == [
        1, 10, 100, 10_000, 100_000, 10_000_000, 100_000_000
    ]
    offsets = replica.table_offsets(
        {"custkey": 14999, "suppkey": 999, "partkey": 19999, "orderkey": 59_999_999,
         "event_id": 99999, "doc_id": 4999}
    )
    assert offsets["lineitem"] == {
        "l_suppkey": 1_000, "l_partkey": 100_000, "l_orderkey": 100_000_000
    }
    # Every column of a key space takes one unit, so foreign keys survive.
    assert offsets["orders"]["o_custkey"] == offsets["customer"]["c_custkey"]
    assert offsets["events"]["user_id"] == offsets["customer"]["c_custkey"]
    assert offsets["embeddings"]["vec_id"] == offsets["documents"]["doc_id"]
    assert offsets["orders"]["o_orderkey"] == offsets["lineitem"]["l_orderkey"]
