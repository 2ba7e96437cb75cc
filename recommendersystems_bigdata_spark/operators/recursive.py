"""Hierarchical / recursive relational queries (SURVEY.md §2.Z, round 9).

Spark 4's native recursive CTE support (`WITH RECURSIVE`, executed as an
iterative distributed union-loop) expressed through the engine's
`spark.sql` entry point, with DuckDB `WITH RECURSIVE` oracles — the
query family every warehouse needs for org charts, bill-of-materials
rollups, category trees, and calendar spines, and one the flat §2
surface didn't cover. The hierarchy under test is the deterministic
10-ary customer tree `parent(k) = k div 10` (roots: k < 10) — synthetic
but structurally identical to any integer-keyed adjacency list, and
reproducible in both engines from the same parquet bytes.

Exactness discipline: monetary rollups in exact cents
(`floor(v·100 + 0.5)`), depths/sizes as BIGINT counts, paths as plain
integer-text joins — nothing transcendental, nothing float-summed, so
every query hash-matches the oracle bit-for-bit.

Spark-first shape, sized for 100 TB:
- A recursive CTE in Spark is a UnionLoop: iteration i joins the
  frontier (depth-i nodes) against the child relation — the SAME
  frontier-join shape as ml/graph.py's BFS kernel, but planned by
  Catalyst from declarative SQL. Round count = tree depth =
  log₁₀(|customers|) for the 10-ary tree (≈10 rounds at 10¹⁰ rows),
  each round one distributed hash join keyed on the parent id.
- The upward path walk (z3) recurses on a CONSTANT-size frontier (the
  top-20 anchor), so every iteration is a 20-row broadcast probe.
- The month spine (z4) recurses on a 1-row seed — iteration count is
  the calendar span, not the data; the spine then LEFT-joins the
  month-bucketed aggregate (|months| rows both sides).
- `spark.sql.cteRecursionLevelLimit` defaults to 100: depth 100 covers
  10^100 customers (10-ary) and an 8-year month spine uses ~100 of the
  same budget only past year 2103 — both documented, neither binding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from recommendersystems_bigdata_spark.catalog import load_table, register_views
from recommendersystems_bigdata_spark.registry import query

# shared hierarchy closure: (node k, its root, depth from root), exact
# cents carried per node for the rollups. Spark `div` == DuckDB `//` on
# BIGINT (both truncate toward zero — measured, functions/exactmath.py).
_CLOSURE = """
WITH RECURSIVE h(k, root, depth, cents) AS (
  SELECT c_custkey, c_custkey, CAST(1 AS BIGINT),
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, h.root, h.depth + 1,
         CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)
  FROM customer c JOIN h ON c.c_custkey {div} 10 = h.k
  WHERE c.c_custkey >= 10
)
"""


@query(
    "q_rec_hierarchy_levels",
    oracle=_CLOSURE.format(div="//")
    + """
    SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key,
           CAST(sum(cents) AS BIGINT) AS acctbal_cents
    FROM h GROUP BY depth ORDER BY depth
    """,
)
def q_rec_hierarchy_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.Z z1 — per-level census of the 10-ary customer hierarchy via a
    native recursive CTE: node count, key range, and exact acctbal cents
    at every depth. The org-chart "how wide is each level" question.

    Scale: UnionLoop with log₁₀(|customers|) iterations; each iteration
    is one distributed hash join of the full child relation against the
    previous frontier on the parent key, then the closure collapses to
    |depth| rows in one partial-aggregated groupBy."""
    register_views(spark, sf_dir)
    return spark.sql(
        _CLOSURE.format(div="div")
        + """
        SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key,
               CAST(sum(cents) AS BIGINT) AS acctbal_cents
        FROM h GROUP BY depth ORDER BY depth
        """
    )


@query(
    "q_rec_subtree_rollup",
    oracle=_CLOSURE.format(div="//")
    + """
    SELECT root, CAST(count(*) AS BIGINT) AS subtree_n,
           CAST(max(depth) AS BIGINT) AS max_depth,
           CAST(sum(cents) AS BIGINT) AS subtree_cents
    FROM h GROUP BY root ORDER BY root
    """,
)
def q_rec_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.Z z2 — bill-of-materials-style subtree rollup: for each of the
    10 roots, the subtree size, its deepest level, and the exact total
    acctbal cents underneath it. The closure carries the root along each
    recursive step, so the rollup is one groupBy over the closure — no
    per-root re-traversal.

    Scale: same UnionLoop as z1 (the closure is shared SQL text); the
    rollup output is |roots| rows. At 100 TB the closure relation is
    |nodes| rows × depth-bounded iterations, exactly the distributed
    transitive-closure cost floor."""
    register_views(spark, sf_dir)
    return spark.sql(
        _CLOSURE.format(div="div")
        + """
        SELECT root, CAST(count(*) AS BIGINT) AS subtree_n,
               CAST(max(depth) AS BIGINT) AS max_depth,
               CAST(sum(cents) AS BIGINT) AS subtree_cents
        FROM h GROUP BY root ORDER BY root
        """
    )


_PATH_SQL = """
WITH RECURSIVE top20 AS (
  SELECT c_custkey AS start_k
  FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 20
),
walk(start_k, cur, path, steps) AS (
  SELECT start_k, start_k, CAST(start_k AS VARCHAR), CAST(1 AS BIGINT)
  FROM top20
  UNION ALL
  SELECT start_k, cur {div} 10,
         CAST(cur {div} 10 AS VARCHAR) || '/' || path, steps + 1
  FROM walk WHERE cur >= 10
)
SELECT start_k AS c_custkey, steps AS depth, path AS root_path
FROM walk WHERE cur < 10 ORDER BY c_custkey
"""


@query(
    "q_rec_path_to_root",
    oracle=_PATH_SQL.format(div="//"),
)
def q_rec_path_to_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.Z z3 — materialized ancestor paths: for the 20 highest-balance
    customers (ties → lowest key), the full root→node path as a
    '/'-joined key string plus its length — the breadcrumb query every
    category tree serves.

    Scale: the anchor is materialized FIRST as a TakeOrderedAndProject
    top-k (per-partition top-20 + driver merge — no global sort; a
    plain `ORDER BY ... LIMIT` anchor inside the UnionLoop plans as a
    corpus-wide Sort in Spark 4.1, which is exactly the 100 TB plan we
    refuse) and pinned with a 20-row localCheckpoint, so the recursion
    runs on a CONSTANT 20-row frontier with NO table scan inside the
    loop; each of the ≤ log₁₀(maxkey) iterations is pure arithmetic on
    those 20 rows (plan-asserted in tests/test_plans.py). Path text is
    integer-rendered identically by both engines."""
    register_views(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    anchor = (
        cust.orderBy(F.desc("c_acctbal"), "c_custkey")
        .limit(20)
        .select(F.col("c_custkey").alias("start_k"))
        .localCheckpoint()  # 20 rows, eager: TakeOrdered runs once, here
    )
    anchor.createOrReplaceTempView("top20_anchor")
    # Spark spells string concat with concat(); keep the oracle's ||
    # spelling DuckDB-side only.
    sql = """
    WITH RECURSIVE walk(start_k, cur, path, steps) AS (
      SELECT start_k, start_k, CAST(start_k AS STRING), CAST(1 AS BIGINT)
      FROM top20_anchor
      UNION ALL
      SELECT start_k, cur div 10,
             concat(CAST(cur div 10 AS STRING), '/', path), steps + 1
      FROM walk WHERE cur >= 10
    )
    SELECT start_k AS c_custkey, steps AS depth, path AS root_path
    FROM walk WHERE cur < 10 ORDER BY c_custkey
    """
    return spark.sql(sql)


@query(
    "q_rec_month_spine",
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT date_trunc('month', min(CAST(o_orderdate AS TIMESTAMP))) AS lo,
             date_trunc('month', max(CAST(o_orderdate AS TIMESTAMP))) AS hi
      FROM orders
    ),
    spine(m) AS (
      SELECT lo FROM bounds WHERE lo IS NOT NULL
      UNION ALL
      SELECT m + INTERVAL 1 MONTH FROM spine, bounds WHERE m < hi
    ),
    per_month AS (
      SELECT date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS m,
             count(*) AS n
      FROM orders GROUP BY 1
    )
    SELECT strftime(s.m, '%Y-%m') AS ym,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_orders,
           CAST(CASE WHEN p.m IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM spine s LEFT JOIN per_month p ON s.m = p.m
    ORDER BY ym
    """,
)
def q_rec_month_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.Z z4 — calendar spine: generate every month between the first
    and last order, LEFT-join the monthly order counts, and flag gap
    months — the "no silent missing partitions" report a
    time-partitioned warehouse runs nightly (the §2.Q gap-fill
    interpolates VALUES; this one audits the CALENDAR).

    Round 12 (guide §2.4 — remove per-iteration jobs outright): the
    spine no longer recurses. The month walk `m → m + 1 MONTH while
    m < hi` from a single seed is a strict arithmetic progression — the
    recursion was incidental, not relational (no per-step join against
    data) — so the engine folds it into ONE declarative
    `explode(sequence(lo, hi, interval 1 month))` over the checkpointed
    1-row bounds. The old UnionLoop spelling paid one Spark job PER
    CALENDAR MONTH (~80 driver round-trips at the 1992–1998 span) to
    produce ~80 rows; `sequence` emits the identical inclusive
    month-start list (lo and hi are both month-truncated, so the last
    step lands exactly on hi) in a single LocalTableScan-sized job. The
    DuckDB oracle keeps its independent WITH RECURSIVE spelling, so the
    hash match certifies fold ≡ recursion on the data. The genuinely
    relational recursions — the z1/z2 hierarchy closure and the z3
    anchored walk, where each step is a frontier join — stay on the
    native recursive-CTE path (UnionLoop, plan-pinned).

    Scale: the only corpus-sized work is the month-bucketed
    partial-aggregated groupBy plus ONE min/max pass for the bounds,
    materialized FIRST with a 1-row localCheckpoint (an inline bounds
    subquery would re-scan orders under the generate). The
    spine⋈aggregate join is |months| vs |months| rows.

    Empty input: an empty ``orders`` gives NULL bounds, and both the engine
    and the oracle drop a NULL ``lo`` before the spine, so each emits 0
    rows (not one NULL month)."""
    register_views(spark, sf_dir)
    bounds = spark.sql(
        """
        SELECT date_trunc('MONTH', min(CAST(o_orderdate AS TIMESTAMP))) AS lo,
               date_trunc('MONTH', max(CAST(o_orderdate AS TIMESTAMP))) AS hi
        FROM orders
        """
    ).localCheckpoint()  # 1 row, eager: the min/max scan runs once, here
    bounds.createOrReplaceTempView("spine_bounds")
    return spark.sql(
        """
        WITH spine AS (
          SELECT explode(sequence(lo, hi, interval 1 month)) AS m
          FROM spine_bounds WHERE lo IS NOT NULL
        ),
        per_month AS (
          SELECT date_trunc('MONTH', CAST(o_orderdate AS TIMESTAMP)) AS m,
                 count(*) AS n
          FROM orders GROUP BY 1
        )
        SELECT date_format(s.m, 'yyyy-MM') AS ym,
               CAST(coalesce(p.n, 0) AS BIGINT) AS n_orders,
               CAST(CASE WHEN p.m IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
        FROM spine s LEFT JOIN per_month p ON s.m = p.m
        ORDER BY ym
        """
    )
