"""Per-trigger profile of the streaming keys (round-12 verdict item 7).

For each streaming query key, monkeypatches ``run_to_memory`` so the
StreamingQuery handle is captured, then records every micro-batch's
progress metrics: batch id, input rows, ``durationMs`` breakdown
(addBatch = plan execution, walCommit / commitOffsets = offset+commit log
fsyncs, getBatch / latestOffset = source bookkeeping) and state-store
metrics where present. The question it answers: is a streaming key's wall
time trigger-count × fixed micro-batch machinery (nothing a query-plan
change can remove without changing the declared output) or actual plan
waste inside addBatch?

Usage:
    cd /tmp && python /root/repo/scripts/stream_profile.py OUT.json [KEY ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from recommendersystems_bigdata_spark import registry  # noqa: E402
from recommendersystems_bigdata_spark.session import get_spark  # noqa: E402

DEFAULT_KEYS = (
    "q_stream_watermark_tumble",
    "q_stream_static_join",
    "q_stream_stream_join",
    "q_stream_foreach_batch_sink",
    "q_stream_stateful_count",
    "q_stream_session_window",
    "q_stream_dedup",
    "q_stream_sliding_topk",
    "q_stream_tws_milestones",
    "q_stream_stream_left_outer",
    "q_stream_dedup_within_watermark",
)


def main() -> None:
    out_path = sys.argv[1]
    keys = sys.argv[2:] or list(DEFAULT_KEYS)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()

    from recommendersystems_bigdata_spark.streaming import stream_queries

    captured: list[dict] = []

    def run(stream_df, output_mode, partitions):
        q = stream_queries.drain_to_memory(stream_df, output_mode, partitions)
        for p in q.recentProgress:
            captured.append(
                {
                    "batchId": p["batchId"],
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": p.get("durationMs"),
                    "stateOperators": [
                        {
                            k: so.get(k)
                            for k in (
                                "operatorName",
                                "commitTimeMs",
                                "numRowsTotal",
                                "numRowsUpdated",
                            )
                        }
                        for so in p.get("stateOperators", [])
                    ],
                }
            )
        return stream_df.sparkSession.table(q.name)

    spark = get_spark(app_name="stream_profile")
    spark.sparkContext.setLogLevel("ERROR")
    # Pre-materialize the chunked source so the first key doesn't carry it.
    stream_queries._chunked_events_dir(spark, sf_dir)

    # `from X import run_to_memory` binds the name per consumer module, so
    # patch every package module that holds a binding.
    pkg = "recommendersystems_bigdata_spark"
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith(pkg) and getattr(mod, "run_to_memory", None):
            mod.run_to_memory = run

    results: dict[str, dict] = {}
    for key in keys:
        captured.clear()
        t0 = time.perf_counter()
        registry.QUERIES[key](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        wall = round(time.perf_counter() - t0, 3)
        add_batch = sum((p["durationMs"] or {}).get("addBatch", 0) for p in captured)
        overhead = sum(
            sum(v for k, v in (p["durationMs"] or {}).items() if k != "addBatch")
            for p in captured
        )
        results[key] = {
            "wall_sec": wall,
            "n_triggers": len(captured),
            "addBatch_ms_total": add_batch,
            "trigger_overhead_ms_total": overhead,
            "batches": captured[:],
        }
        print(
            f"{key}: wall={wall}s triggers={len(captured)} "
            f"addBatch={add_batch}ms overhead={overhead}ms"
        )
    with open(out_path, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
