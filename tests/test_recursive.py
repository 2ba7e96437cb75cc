"""Semantic gates for the §2.Z recursive/hierarchical family (beyond
oracle parity): brute-force Python references over the collected sf0.001
customer/orders tables, computing the 10-ary hierarchy iteratively (a
plain while-loop, not SQL recursion) so a recursion-semantics slip that
happened to agree with an equally-wrong oracle spelling still fails.
"""

from __future__ import annotations

import math
import os

import pyarrow.parquet as pq

from recommendersystems_bigdata_spark import registry
from recommendersystems_bigdata_spark.catalog import TABLES, load_table
from recommendersystems_bigdata_spark.oracle import compare_frames, duckdb_connection

registry.load_all()


def _cents(v: float) -> int:
    return math.floor(v * 100 + 0.5)


def _depth_root(k: int) -> tuple[int, int]:
    depth, cur = 1, k
    while cur >= 10:
        cur //= 10
        depth += 1
    return depth, cur


def test_hierarchy_levels_match_iterative_reference(spark, sf_dir):
    cust = [
        (r["c_custkey"], _cents(r["c_acctbal"]))
        for r in load_table(spark, sf_dir, "customer").collect()
    ]
    ref = {}
    for k, c in cust:
        d, _ = _depth_root(k)
        n, mn, mx, s = ref.get(d, (0, None, None, 0))
        ref[d] = (
            n + 1,
            k if mn is None else min(mn, k),
            k if mx is None else max(mx, k),
            s + c,
        )
    rows = registry.QUERIES["q_rec_hierarchy_levels"](spark, sf_dir).collect()
    got = {
        r["depth"]: (r["n_nodes"], r["min_key"], r["max_key"], r["acctbal_cents"])
        for r in rows
    }
    assert got == ref
    assert len(got) >= 2  # actual recursion happened


def test_subtree_rollup_matches_iterative_reference(spark, sf_dir):
    cust = [
        (r["c_custkey"], _cents(r["c_acctbal"]))
        for r in load_table(spark, sf_dir, "customer").collect()
    ]
    ref = {}
    for k, c in cust:
        d, root = _depth_root(k)
        n, mx, s = ref.get(root, (0, 0, 0))
        ref[root] = (n + 1, max(mx, d), s + c)
    rows = registry.QUERIES["q_rec_subtree_rollup"](spark, sf_dir).collect()
    got = {
        r["root"]: (r["subtree_n"], r["max_depth"], r["subtree_cents"]) for r in rows
    }
    assert got == ref
    # every subtree but the (possibly childless) roots must roll up > 1 node
    assert sum(n for n, _, _ in got.values()) == len(cust)


def test_path_to_root_matches_reference(spark, sf_dir):
    cust = [
        (r["c_custkey"], r["c_acctbal"])
        for r in load_table(spark, sf_dir, "customer").collect()
    ]
    top20 = sorted(cust, key=lambda p: (-p[1], p[0]))[:20]
    ref = {}
    for k, _ in top20:
        chain, cur = [k], k
        while cur >= 10:
            cur //= 10
            chain.append(cur)
        ref[k] = (len(chain), "/".join(str(x) for x in reversed(chain)))
    rows = registry.QUERIES["q_rec_path_to_root"](spark, sf_dir).collect()
    got = {r["c_custkey"]: (r["depth"], r["root_path"]) for r in rows}
    assert got == ref
    assert len(got) == 20


def test_month_spine_covers_full_range_with_gaps_flagged(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderdate").collect()
    months = sorted({(r["o_orderdate"].year, r["o_orderdate"].month) for r in orders})
    # full spine: every month between first and last, inclusive
    spine = []
    y, m = months[0]
    while (y, m) <= months[-1]:
        spine.append((y, m))
        m += 1
        if m == 13:
            y, m = y + 1, 1
    counts = {}
    for r in orders:
        ym = (r["o_orderdate"].year, r["o_orderdate"].month)
        counts[ym] = counts.get(ym, 0) + 1
    rows = registry.QUERIES["q_rec_month_spine"](spark, sf_dir).collect()
    assert [r["ym"] for r in rows] == [f"{y:04d}-{m:02d}" for y, m in spine]
    for r, ym in zip(rows, spine):
        assert r["n_orders"] == counts.get(ym, 0)
        assert r["is_gap"] == (0 if ym in counts else 1)


def test_month_spine_empty_orders_emits_no_rows(spark, sf_dir, tmp_path):
    """An empty ``orders`` has NULL month bounds: engine and oracle both
    emit 0 rows, not one NULL month."""
    corpus = str(tmp_path)
    for t in TABLES:
        if t != "orders":
            os.symlink(os.path.abspath(f"{sf_dir}/{t}.parquet"), f"{corpus}/{t}.parquet")
    schema = pq.read_schema(f"{sf_dir}/orders.parquet")
    pq.write_table(schema.empty_table(), f"{corpus}/orders.parquet")
    got = registry.QUERIES["q_rec_month_spine"](spark, corpus).toPandas()
    con = duckdb_connection(corpus)
    try:
        want = con.execute(registry.ORACLES["q_rec_month_spine"]).df()
    finally:
        con.close()
    assert len(got) == 0 and len(want) == 0
    res = compare_frames("q_rec_month_spine", got, want)
    assert res.ok, res.message()
