"""Build the FK-preserving K× replica of a test-SF corpus (SCALE.md §4).

Each copy c in 0..K-1 offsets every key space by c × the space's unit:
the next power of ten above the largest key any column of that space
holds in the source (keys are non-negative). Every column of a space
takes the same unit, so foreign keys stay consistent within a copy and
copies are disjoint at any source scale; every non-key attribute (texts,
vectors, timestamps, prices) is carried VERBATIM so per-row work is
unchanged and only volume grows. Dimension tables (region, nation) and
the nation/region foreign keys are NOT offset — exactly how a bigger
TPC-H SF behaves (fixed dims, growing facts). Documents/embeddings take
offset ids with unchanged text/vectors. Events offset event_id/user_id
and keep ts verbatim (K× density on the same calendar, like a busier
day, matching the earlier rounds' probes).

Output is written with several part files per table so scans can split
(the single-row-group bound of the shipped test files — SCALE.md §6 —
does not apply to the replicas).

Usage:
    cd /tmp && python /root/repo/scripts/make_replica.py OUT_DIR K [SRC_DIR]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from recommendersystems_bigdata_spark.catalog import load_table  # noqa: E402
from recommendersystems_bigdata_spark.session import get_spark  # noqa: E402

# Key space -> every (table, column) holding its keys. events.user_id joins
# customer and embeddings.vec_id joins documents, so each shares its
# parent's space.
KEY_SPACES = {
    "custkey": (("customer", "c_custkey"), ("orders", "o_custkey"), ("events", "user_id")),
    "suppkey": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "partkey": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "event_id": (("events", "event_id"),),
    "doc_id": (("documents", "doc_id"), ("embeddings", "vec_id")),
}
VERBATIM = ("region", "nation")


def offset_unit(max_key: int) -> int:
    """The smallest power of ten above ``max_key``."""
    unit = 1
    while unit <= max_key:
        unit *= 10
    return unit


def table_offsets(space_max: dict[str, int]) -> dict[str, dict[str, int]]:
    """table -> {column: offset unit}, from each key space's max key."""
    offsets: dict[str, dict[str, int]] = {}
    for space, columns in KEY_SPACES.items():
        for table, col in columns:
            offsets.setdefault(table, {})[col] = offset_unit(space_max[space])
    return offsets


def main() -> None:
    out_dir = sys.argv[1]
    k = int(sys.argv[2])
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name=f"make_replica_x{k}")
    spark.sparkContext.setLogLevel("ERROR")
    for t in VERBATIM:
        load_table(spark, src, t).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{t}.parquet")
        )
        print(f"{t}: verbatim")
    space_max = {
        space: max(
            load_table(spark, src, t).agg(F.max(col)).first()[0] or 0 for t, col in columns
        )
        for space, columns in KEY_SPACES.items()
    }
    for t, offs in table_offsets(space_max).items():
        base = load_table(spark, src, t)
        copies = base.crossJoin(
            spark.range(k).select(F.col("id").alias("_copy"))
        )
        for col, unit in offs.items():
            copies = copies.withColumn(
                col, (F.col(col) + F.col("_copy") * F.lit(unit)).cast("long")
            )
        n_parts = max(4, k)
        (
            copies.drop("_copy")
            .repartition(n_parts)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"{t}.parquet"))
        )
        n = spark.read.parquet(os.path.join(out_dir, f"{t}.parquet")).count()
        print(f"{t}: {n} rows in {n_parts} parts")
    spark.stop()


if __name__ == "__main__":
    main()
