"""Fixpoint / transitive-closure queries (SURVEY §2.4: Fix / TransitiveClosure).

Reference: ``expressiontree/Fix.scala:4-41`` — naive fixpoint iteration;
``FixpointTest.scala:20-22``. Spark has no native recursion (< 4.0 SQL), so
the operator is an iterative DataFrame loop with per-iteration dedup and
``session.materialize`` to truncate lineage — the GraphFrames pattern.
The oracle is DuckDB's WITH RECURSIVE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table
from linqonsteroids_spark.operators.fixpoint import transitive_closure
from linqonsteroids_spark.session import materialize


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deterministic synthetic relation from catalog data: nation k → (k*7+3) % 25
    # is a permutation of 0..24 → closure = all pairs within each cycle.
    nation = load_table(spark, sf_dir, "nation")
    return nation.select(
        F.col("n_nationkey").cast("int").alias("src"),
        ((F.col("n_nationkey") * 7 + 3) % 25).cast("int").alias("dst"),
    )


def nation_transitive_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transitive_closure(_edges(spark, sf_dir), max_iterations=32)


# --- native recursive-CTE lowering (Spark 4 WITH RECURSIVE) ------------------
# The engine-scheduled alternative to the driver loop: reachability over
# an ACYCLIC successor relation (nation k → k+3 and k → k+7, bounded at
# 25) lowered to one native WITH RECURSIVE query behind the
# supports_recursive_cte capability probe (falls back to the semi-naive
# loop elsewhere). Acyclic is the contract because Spark recursion is
# UNION ALL only — it enumerates paths, dedup happens once at the end —
# while the cyclic nation permutation above must stay on the driver loop
# (per-round left-anti dedup). One query, no per-round driver sync, no
# materialization barriers.
def _dag_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("int")
    e3 = nation.select(k.alias("src"), (k + 3).alias("dst")).filter(
        F.col("dst") < 25
    )
    e7 = nation.select(k.alias("src"), (k + 7).alias("dst")).filter(
        F.col("dst") < 25
    )
    return e3.unionByName(e7)


def dag_reachability_rcte(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transitive_closure(_dag_edges(spark, sf_dir), strategy="rcte")


NATION_TC_SQL = """
WITH RECURSIVE tc(src, dst) AS (
  SELECT CAST(n_nationkey AS INT) AS src,
         CAST((n_nationkey * 7 + 3) % 25 AS INT) AS dst FROM nation
  UNION
  SELECT tc.src, e.dst
  FROM tc JOIN (SELECT CAST(n_nationkey AS INT) AS src,
                       CAST((n_nationkey * 7 + 3) % 25 AS INT) AS dst
                FROM nation) e
       ON tc.dst = e.src
)
SELECT src, dst FROM tc
"""


# --- generic Fix combinator with a user-supplied step function ---------------
# The FULL Fix surface (reference ``expressiontree/Fix.scala:4-41``:
# ``Fix(coll, f)`` for ARBITRARY f, of which TransitiveClosure is just one
# instantiation): least fixpoint of a user-written DataFrame->DataFrame
# step that is NOT an edge-join — a 30-day same-customer "contagion"
# spread from high-value seed orders. Each round joins only the FRONTIER
# (semi-naive; operators/fixpoint.py) against the order base; epoch-
# second day windows keep the arithmetic integer-exact across engines.
# Scale: frontier shrinks monotonically, per-round cost is one
# frontier-vs-base equi-join on the customer key; converges in the
# longest 30-day-adjacency chain length (~3 rounds on this data).
_CONTAGION_SEED = 475_000.0
_CONTAGION_WINDOW_S = 30 * 86_400


def fix_order_contagion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.fixpoint import fix

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_timestamp("o_orderdate").alias("ots"),
        "o_totalprice",
    )
    base = orders.select("o_orderkey", "o_custkey", "ots")
    seed = materialize(
        orders.filter(F.col("o_totalprice") > _CONTAGION_SEED)
        .select("o_orderkey", "o_custkey", "ots")
        .distinct(),
        "fix_order_contagion: seed",
    )

    def step(frontier: DataFrame) -> DataFrame:
        f = frontier.select(
            F.col("o_custkey").alias("fc"), F.col("ots").alias("fts")
        )
        return base.join(
            f,
            (base.o_custkey == f.fc)
            & (F.abs(base.ots - f.fts) <= _CONTAGION_WINDOW_S),
        ).select("o_orderkey", "o_custkey", "ots")

    return fix(seed, step, max_iterations=40).select("o_orderkey", "o_custkey")


FIX_CONTAGION_SQL = f"""
WITH RECURSIVE flagged(o_orderkey, o_custkey, ots) AS (
  SELECT o_orderkey, o_custkey, CAST(epoch(o_orderdate) AS BIGINT)
  FROM orders WHERE o_totalprice > {_CONTAGION_SEED}
  UNION
  SELECT o.o_orderkey, o.o_custkey, CAST(epoch(o.o_orderdate) AS BIGINT)
  FROM orders o JOIN flagged f ON o.o_custkey = f.o_custkey
   AND abs(CAST(epoch(o.o_orderdate) AS BIGINT) - f.ots)
       <= {_CONTAGION_WINDOW_S}
)
SELECT o_orderkey, o_custkey FROM flagged
"""


# --- PageRank over the order–part bipartite graph ---------------------------
# Link-mass ranking on a real data-derived graph: orders and parts are
# nodes (disjointly encoded as 2k / 2k+1), every distinct lineitem
# (order, part) pair contributes both directed edges. Fixed 3 synchronous
# iterations in 64-bit integer fixed-point (operators/pagerank.py) — every
# value exact, so the unrolled-CTE oracle matches bit-for-bit with no
# float-summation-order hazard. Scale: the O(E) edge relation is
# partitioned on src once and reused; only O(V) rank rows move per round.
_PR_ITERS = 3


def _order_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both directions fan out ROW-LOCALLY from one distinct pass (r16):
    # the union-of-two-selects form referenced the distinct subtree from
    # two branches, and Spark has no cross-branch CSE — the lineitem
    # scan + distinct shuffle executed TWICE inside the one job that
    # materializes the edges. The explode form runs it once; fwd and rev
    # rows are identical to the union's (parity encoding keeps the two
    # directions disjoint, so no cross-direction duplicates exist).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_orderkey") * 2).alias("o"),
            (F.col("l_partkey") * 2 + 1).alias("p"),
        )
        .distinct()
    )
    return li.select(
        F.explode(
            F.array(
                F.struct(F.col("o").alias("src"), F.col("p").alias("dst")),
                F.struct(F.col("p").alias("src"), F.col("o").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def pagerank_order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.pagerank import pagerank

    return pagerank(_order_part_edges(spark, sf_dir), n_iterations=_PR_ITERS)


def pagerank_order_parts_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same ranks through the bucketed-static-edges path: the O(E) side is
    persisted once as a bucketed table and every round's join scans it
    Exchange-free (pinned in test_plans)."""
    from linqonsteroids_spark.operators.pagerank import pagerank

    return pagerank(
        _order_part_edges(spark, sf_dir), n_iterations=_PR_ITERS,
        bucket_edges=True,
    )


def _pagerank_sql() -> str:
    from linqonsteroids_spark.operators.pagerank import (
        DAMPING_DEN,
        DAMPING_NUM,
        SCALE,
    )

    num, den, scale = DAMPING_NUM, DAMPING_DEN, SCALE
    sql = f"""
WITH edges AS (
  SELECT DISTINCT l_orderkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM lineitem
  UNION
  SELECT DISTINCT l_partkey * 2 + 1 AS src, l_orderkey * 2 AS dst FROM lineitem
), nodes AS (
  SELECT DISTINCT node
  FROM (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
), deg AS (
  SELECT src, count(*) AS out_deg FROM edges GROUP BY src
), params AS (
  SELECT (({scale} * {den - num}) // {den}) // count(*) AS base,
         {scale} // count(*) AS init
  FROM nodes
), r0 AS (
  SELECT node, (SELECT init FROM params) AS rank FROM nodes
)"""
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        sql += f""", r{i} AS (
  SELECT n.node,
         CAST((SELECT base FROM params)
              + ({num} * coalesce(m.in_mass, 0)) // {den} AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum(r.rank // d.out_deg) AS in_mass
    FROM edges e JOIN deg d ON e.src = d.src JOIN {prev} r ON r.node = e.src
    GROUP BY e.dst
  ) m ON n.node = m.dst
)"""
        prev = f"r{i}"
    return sql + f"\nSELECT node, rank FROM {prev}\n"


PAGERANK_SQL = _pagerank_sql()


# --- triangle counting on the part co-order graph ---------------------------
# Parts are connected when some order contains both (the co-occurrence
# graph a recommender mines). Edge generation is a self-join blocked by
# the natural key (order) — per-order fanout is bounded by order size, so
# it is NOT an all-pairs pattern. Counting uses degree orientation
# (operators/triangles.py) so hub parts cost O(out_deg²), out_deg ≤
# O(sqrt(|E|)), not O(deg²). The oracle counts the same triangles with
# the naive ordered 3-way join (a < b < c).
def triangle_count_coparts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.triangles import triangle_count

    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    # co-order pairs via per-order grouping + row-local i<j expansion (the
    # lsh_candidate_pairs pattern) instead of a sort-merge self-join on
    # ``o``: one Exchange on the order key and per-order work bounded by
    # order size, vs two sorted join sides over the same subtree (r15).
    buckets = op.groupBy("o").agg(F.array_sort(F.collect_list("p")).alias("ps"))
    pairs = F.flatten(
        F.expr(
            "transform(ps, (x, i) -> "
            "transform(slice(ps, i + 2, size(ps) - i - 1), "
            "y -> struct(x AS lo, y AS hi)))"
        )
    )
    edges = (
        buckets.filter(F.size("ps") > 1)
        .select(F.explode(pairs).alias("e"))
        .select(F.col("e.lo").alias("lo"), F.col("e.hi").alias("hi"))
        .distinct()
    )
    return triangle_count(edges)


TRIANGLE_COPARTS_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (
  SELECT DISTINCT a.p AS lo, b.p AS hi
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
)
SELECT count(*) AS n_triangles
FROM e e1
JOIN e e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
JOIN e e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
"""


DAG_RCTE_SQL = """
WITH RECURSIVE base(src, dst) AS (
  SELECT CAST(n_nationkey AS INT) AS src, CAST(n_nationkey + 3 AS INT) AS dst
  FROM nation WHERE n_nationkey + 3 < 25
  UNION ALL
  SELECT CAST(n_nationkey AS INT), CAST(n_nationkey + 7 AS INT)
  FROM nation WHERE n_nationkey + 7 < 25
), tc(src, dst) AS (
  SELECT src, dst FROM base
  UNION
  SELECT tc.src, e.dst FROM tc JOIN base e ON tc.dst = e.src
)
SELECT DISTINCT src, dst FROM tc
"""


QUERIES = {
    "nation_transitive_closure": (nation_transitive_closure, NATION_TC_SQL),
    "dag_reachability_rcte": (dag_reachability_rcte, DAG_RCTE_SQL),
    "fix_order_contagion": (fix_order_contagion, FIX_CONTAGION_SQL),
    "pagerank_order_parts": (pagerank_order_parts, PAGERANK_SQL),
    "pagerank_order_parts_bucketed": (pagerank_order_parts_bucketed, PAGERANK_SQL),
    "triangle_count_coparts": (triangle_count_coparts, TRIANGLE_COPARTS_SQL),
}
