"""Profile registered query keys: one JSON record per key.

    python scripts/profile.py OUT.json [KEY_OR_GLOB ...]

Arguments are exact keys or ``fnmatch`` globs (``'q_stream_*'``); none
means every key. Keys run in turn, each under ``setJobGroup(key)``, in the
session bench.py builds, over ``$SPARK_GRAFT_SF_DIR``. A record holds:

- ``build_s``: the query function call, with the eager jobs it fires;
- ``action_s`` and ``rows``: ``queryExecution().toRdd().count()``, which
  runs the DataFrame's own plan to its final adaptive form and sends no
  rows to Python;
- ``jobs`` in the key's group (micro-batches run in groups of their own);
- ``plan``, the final plan, and its ``joins``, ``shuffles`` (join-side
  exchanges), ``pushed_filters`` and ``codegen``;
- ``stream``: per micro-batch, input rows, ``durationMs`` and the state
  operators' commit time and row counts;
- ``error``, for a failing key; the sweep goes on.

OUT.json is rewritten after every key. Timings rank keys; a before/after
claim needs a same-session A/B (scripts/ab_bench.py).
"""

from __future__ import annotations

import fnmatch
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# Profile this checkout's tree. scripts/ itself must leave the path: this
# file would shadow the standard library's profile module, which pyspark
# imports through cProfile.
sys.path[:] = [os.path.dirname(HERE)] + [p for p in sys.path if p != HERE]

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from recommendersystems_bigdata_spark import registry  # noqa: E402
from recommendersystems_bigdata_spark.plans.inspect import (  # noqa: E402
    count_join_side_exchanges,
    final_plan,
    pushed_filters,
)
from recommendersystems_bigdata_spark.session import get_spark  # noqa: E402

JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")
STATE_FIELDS = ("operatorName", "commitTimeMs", "numRowsTotal", "numRowsUpdated")


def select(patterns: list[str], keys: list[str]) -> list[str]:
    """Keys matching any pattern, in registry order; no patterns: all."""
    for p in patterns:
        if not fnmatch.filter(keys, p):
            raise SystemExit(f"profile: no registered key matches {p!r}")
    return [k for k in keys if not patterns or any(fnmatch.fnmatchcase(k, p) for p in patterns)]


class Batches(StreamingQueryListener):
    """Every micro-batch's progress, in arrival order."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.last_event = 0.0

    def onQueryProgress(self, event) -> None:
        p = event.progress
        ops = [{f: getattr(op, f) for f in STATE_FIELDS} for op in p.stateOperators]
        self.batches.append({"batchId": p.batchId, "numInputRows": p.numInputRows,
                             "durationMs": p.durationMs, "stateOperators": ops})
        self.last_event = time.monotonic()

    def onQueryStarted(self, event) -> None:
        pass

    onQueryTerminated = onQueryStarted


def profile_key(spark, sf_dir: str, key: str, listener: Batches) -> dict:
    sc = spark.sparkContext
    sc.setJobGroup(key, key)
    listener.batches = []
    rec: dict = {}
    try:
        t0 = time.perf_counter()
        df = registry.QUERIES[key](spark, sf_dir)
        t1 = time.perf_counter()
        rows = df._jdf.queryExecution().toRdd().count()
        rec.update(build_s=round(t1 - t0, 4), action_s=round(time.perf_counter() - t1, 4))
        plan = final_plan(df)
        rec.update(rows=rows, plan=plan, joins=[j for j in JOINS if j in plan],
                   shuffles=count_join_side_exchanges(plan),
                   pushed_filters=len(pushed_filters(df)), codegen="*(" in plan)
    except Exception as exc:  # noqa: BLE001 — record the error, keep sweeping
        rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
    rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(key))
    # Progress events reach Python asynchronously; wait for quiet.
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline and time.monotonic() - listener.last_event < 1.0:
        time.sleep(0.2)
    if listener.batches:
        rec["stream"] = listener.batches
    return rec


def profile(spark, sf_dir: str, keys: list[str], out_path: str) -> dict[str, dict]:
    records: dict[str, dict] = {}
    listener = Batches()
    spark.streams.addListener(listener)
    try:
        for key in keys:
            rec = records[key] = profile_key(spark, sf_dir, key, listener)
            with open(out_path, "w", encoding="utf-8") as fh:
                json.dump(records, fh, indent=1)
            fields = ("build_s", "action_s", "rows", "jobs", "error")
            line = " ".join(f"{f}={str(rec[f])[:120]}" for f in fields if f in rec)
            print(f"{key}: {line} batches={len(rec.get('stream', []))}", flush=True)
    finally:
        spark.streams.removeListener(listener)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return records


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    keys = select(sys.argv[2:], list(registry.QUERIES))
    spark = get_spark(app_name="profile", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        profile(spark, sf_dir, keys, sys.argv[1])
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
