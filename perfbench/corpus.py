"""Seeded synthetic corpus for the benchmark, plus its 10x replica.

``write_base`` writes the ten corpus tables at the sf0.01 row counts of
FIXTURES.md (lineitem 60,000 rows), with the same column names, types and
value domains, one parquet file per table.  ``write_replica`` derives the
FK-preserving K-fold replica from it: copy ``c`` offsets every key space
by ``c`` times a round power of ten above the base's largest key, so
foreign keys stay consistent within a copy and copies never collide.
Non-key attributes are carried verbatim, so per-row work is unchanged and
only volume grows.  region and nation are copied unchanged, like a bigger
TPC-H scale factor.  Replica tables are directories of several part files
so their scans split into several tasks.

Both are pure numpy + pyarrow: no Spark session is needed to build them,
so the build stays outside every timed region and outside set-up time.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The corpus itself is fixed; the run seed only permutes key order.
CORPUS_SEED = 42

BASE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

# table -> {key column: offset unit}, as in scripts/make_replica.py.
OFFSETS = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
    "documents": {"doc_id": 1_000_000},
    "embeddings": {"vec_id": 1_000_000},
}
VERBATIM = ("region", "nation")
REPLICA_PARTS = 10

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = ("small", "red", "blue", "hot", "old", "large", "cold", "new")
_NOUN = ("widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil")


def _days(rng, n, start, end):
    """``n`` midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _build_base(rng) -> dict[str, pa.Table]:
    n = BASE_ROWS
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -1000, 10000),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
        ),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -1000, 10000),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, npart)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
        ),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000, 500000),
        "o_orderdate": _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900, 105000),
        "l_discount": np.round(rng.uniform(0, 0.10, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, month_us, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, nc // 10, ne), i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for k in range(nd):
        if k > 20 and rng.random() < 0.05:
            # Near-duplicate of an earlier document, as in the shipped corpus.
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(
            ["en", "de", "es", "fr", "zh"], nd, p=[0.42, 0.145, 0.145, 0.145, 0.145]
        ),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    nv = n["embeddings"]
    vecs = rng.normal(0.0, 0.125, (nv, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def _publish(tmp: str, out: str) -> None:
    """Move a finished build into place, so a cut build is never used."""
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def write_base(out: str) -> None:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _build_base(np.random.default_rng(CORPUS_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    _publish(tmp, out)


def _replicate(table: pa.Table, offsets: dict[str, int], k: int) -> pa.Table:
    copies = []
    for c in range(k):
        cols = {
            name: (
                pc.add(table[name].cast(pa.int64()), c * offsets[name])
                if name in offsets
                else table[name]
            )
            for name in table.column_names
        }
        copies.append(pa.table(cols))
    return pa.concat_tables(copies)


def write_replica(src: str, out: str, k: int) -> None:
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name in VERBATIM:
        shutil.copy(os.path.join(src, f"{name}.parquet"), tmp)
    for name, offsets in OFFSETS.items():
        big = _replicate(pq.read_table(os.path.join(src, f"{name}.parquet")), offsets, k)
        # Shuffle rows across part files, like the repartitioned replica
        # scripts/make_replica.py writes, with a fixed permutation.
        order = np.random.default_rng(CORPUS_SEED).permutation(big.num_rows)
        big = big.take(pa.array(order))
        part_dir = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(part_dir)
        step = -(-big.num_rows // REPLICA_PARTS)
        for p in range(REPLICA_PARTS):
            pq.write_table(
                big.slice(p * step, step),
                os.path.join(part_dir, f"part-{p:05d}.parquet"),
            )
    _publish(tmp, out)


def row_counts(corpus_dir: str) -> dict[str, int]:
    counts = {}
    for name in BASE_ROWS:
        path = os.path.join(corpus_dir, f"{name}.parquet")
        files = (
            [os.path.join(path, f) for f in sorted(os.listdir(path))]
            if os.path.isdir(path)
            else [path]
        )
        counts[name] = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return counts


def expected_counts(k: int) -> dict[str, int]:
    return {
        name: rows if name in VERBATIM else rows * k
        for name, rows in BASE_ROWS.items()
    }


def ensure(root: str, k: int) -> dict[str, str]:
    """Build (once) and verify the base corpus and its k-fold replica.

    Returns ``{"base": dir, "x<k>": dir}``.  Raises if a table's row count
    is not the expected one.
    """
    dirs = {"base": os.path.join(root, "base"), f"x{k}": os.path.join(root, f"x{k}")}
    if not os.path.isdir(dirs["base"]):
        write_base(dirs["base"])
    if not os.path.isdir(dirs[f"x{k}"]):
        write_replica(dirs["base"], dirs[f"x{k}"], k)
    for name, factor in (("base", 1), (f"x{k}", k)):
        got, want = row_counts(dirs[name]), expected_counts(factor)
        if got != want:
            raise RuntimeError(f"corpus {name}: row counts {got} != {want}")
    return dirs
