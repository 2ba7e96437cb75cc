"""Table catalog: parquet loading + temp-view registration.

The corpus (TESTDATA.md, FIXTURES.md) is ten parquet tables per scale-factor
directory. Loading is a plain ``spark.read.parquet`` so Catalyst sees a
relation it can push filters/projections into (SURVEY.md §4: PushedFilters /
ReadSchema).

A schema-less ``spark.read.parquet`` is not free: Spark runs a one-task job
that reads and merges the parquet footers before it can build the relation —
a full Spark round (~0.1 s warm) that does no data work, paid on every call.
The catalog therefore pins each table's schema per file signature (path,
every data file's name/mtime/size, and the session confs that change how
parquet types map to Spark types): the first read infers, every later read
of the same files passes the pinned schema and skips the footer job. A
rewritten table has a new signature and is inferred again; a path the local
filesystem cannot stat (an object-store URI) keeps the schema-less read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that are always broadcast-join candidates at any
# scale factor (region/nation are fixed-size; supplier/part grow ×sf but
# stay far under the broadcast threshold at test scale).
BROADCAST_DIMS = ("region", "nation")

# Session confs that change the schema Spark infers from the same footers.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# File signature -> the schema Spark inferred on the first read of it.
_PINNED_SCHEMAS: dict[tuple, StructType] = {}


def _file_signature(spark: SparkSession, path: str) -> tuple | None:
    """(abs path, data files, schema confs), or None if ``path`` is not a
    local file or directory. A directory of part files signs every file
    under it, so adding, removing or rewriting any part changes it."""
    path = os.path.abspath(path)
    try:
        if os.path.isdir(path):
            files = []
            for root, _dirs, names in os.walk(path):
                for n in names:
                    f = os.path.join(root, n)
                    st = os.stat(f)
                    files.append((os.path.relpath(f, path), st.st_mtime_ns, st.st_size))
            files.sort()
        else:
            st = os.stat(path)
            files = [(os.path.basename(path), st.st_mtime_ns, st.st_size)]
    except OSError:
        return None
    return (path, tuple(files), tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the footer-inference job paid once
    per file signature. Every call still builds a fresh relation (fresh
    attribute ids), so two reads of one table self-join cleanly."""
    sig = _file_signature(spark, path)
    pinned = _PINNED_SCHEMAS.get(sig) if sig else None
    if pinned is not None:
        return spark.read.schema(pinned).parquet(path)
    df = spark.read.parquet(path)
    if sig:
        _PINNED_SCHEMAS[sig] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. ``name`` must be in :data:`TABLES`.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL) under default
    config. We read it as a raw int64 via ``spark.sql.legacy.parquet
    .nanosAsLong`` and truncate to microseconds ourselves — the exact
    semantics DuckDB applies with ``CAST(ts AS TIMESTAMP)``, so oracle
    comparisons line up. The conversion is a cheap codegen'd projection;
    pushdown on the remaining columns is unaffected.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = _read_parquet(spark, f"{sf_dir}/events.parquet")
        # Schema-aware: only the corpus's TIMESTAMP(NANOS) files surface ts
        # as a raw bigint under nanosAsLong; an events table written with
        # ordinary µs timestamps (e.g. one of our own sinks, or a user's
        # table) reads as a timestamp already and needs no conversion.
        if dict(raw.dtypes).get("ts") == "bigint":
            return raw.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return _read_parquet(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several corpus tables at once."""
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view for ``spark.sql`` entry."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
