"""Remaining scalar/aggregate parity: product, first/last, regex, casts,
Option semantics — closing out SURVEY §2.4/§2.9 line items.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table
from linqonsteroids_spark.session import materialize


# --- product (foldLeft over Numeric, traversableOps.scala:247-248) --------
# F.product is the distributed monoid fold; log-domain alternative for
# magnitude safety is exp(sum(log)) — here factors are near 1 so direct
# product is exact-ish and both engines multiply in double.
def discount_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") <= 100)
        .groupBy("l_orderkey")
        .agg(
            F.round(F.product(1 - F.col("l_discount")), 6).alias("retained_frac"),
            F.count("*").alias("n_items"),
        )
    )


DISCOUNT_PRODUCTS_SQL = """
SELECT l_orderkey, round(product(1 - l_discount), 6) AS retained_frac,
       count(*) AS n_items
FROM lineitem WHERE l_orderkey <= 100 GROUP BY l_orderkey
"""


# --- head/last with declared order (traversableOps.scala:249-252) ---------
# Distributed first/last is only meaningful under an explicit sort key:
# min_by/max_by (arg_min/arg_max) — single shuffle, no global sort.
def first_last_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # composite (date, orderkey) sort key packed into ONE long:
    # days-since-epoch * 10^12 + orderkey (orderkey < 10^12 at any TPC-H
    # SF; product < 2^63). min/max over longs keep HashAggregate —
    # min_by/max_by over a string key silently degrade to SortAggregate
    # (immutable agg buffer), two extra sorts of the orders table.
    packed = (
        F.datediff("o_orderdate", F.lit("1970-01-01")).cast("long")
        * F.lit(1_000_000_000_000)
        + F.col("o_orderkey")
    )
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.min(packed).alias("_first"),
            F.max(packed).alias("_last"),
            F.count("*").alias("n_orders"),
        )
        .select(
            "o_custkey",
            (F.col("_first") % 1_000_000_000_000).alias("first_order"),
            (F.col("_last") % 1_000_000_000_000).alias("last_order"),
            "n_orders",
        )
    )


FIRST_LAST_SQL = """
SELECT o_custkey,
       min(datediff('day', DATE '1970-01-01', o_orderdate)::BIGINT
           * 1000000000000 + o_orderkey) % 1000000000000 AS first_order,
       max(datediff('day', DATE '1970-01-01', o_orderdate)::BIGINT
           * 1000000000000 + o_orderkey) % 1000000000000 AS last_order,
       count(*) AS n_orders
FROM orders GROUP BY o_custkey
"""


# --- regex (Pattern.matcher/find, simpleOpenEncoding.scala:488-499) -------
def customer_key_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.filter(F.col("c_name").rlike("Customer#0*[0-9]*[02468]$"))
        .select(
            "c_custkey",
            F.regexp_extract("c_name", r"#(0*)([0-9]+)$", 2).alias("digits"),
        )
    )


CUSTOMER_REGEX_SQL = r"""
SELECT c_custkey,
       regexp_extract(c_name, '#(0*)([0-9]+)$', 2) AS digits
FROM customer
WHERE regexp_matches(c_name, 'Customer#0*[0-9]*[02468]$')
"""


# --- numeric conversions / casts (NumConvOps.scala:6-13; ToString) --------
def cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") <= 50).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linenumber").cast("double").alias("ln_d"),
        F.col("l_quantity").cast("long").alias("qty_l"),
        F.col("l_quantity").cast("string").alias("qty_s"),
        F.round(F.col("l_linenumber") + F.col("l_quantity"), 2).alias("widened"),
    )


CAST_MATRIX_SQL = """
SELECT l_orderkey, l_linenumber,
       CAST(l_linenumber AS DOUBLE) AS ln_d,
       CAST(l_quantity AS BIGINT) AS qty_l,
       CAST(l_quantity AS VARCHAR) AS qty_s,
       round(l_linenumber + l_quantity, 2) AS widened
FROM lineitem WHERE l_orderkey <= 50
"""


# --- Option semantics (Lifting.scala:39-99): nullable outer-join columns --
def option_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's order count with Option-style defaults over an outer
    join: isDefined → isNotNull, getOrElse → coalesce, fold → when."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    last_order = orders.groupBy("o_custkey").agg(
        F.max("o_totalprice").alias("max_price")
    )
    joined = customer.join(
        last_order, customer.c_custkey == last_order.o_custkey, "left_outer"
    )
    return joined.select(
        "c_custkey",
        F.col("max_price").isNotNull().alias("has_orders"),
        F.round(F.coalesce(F.col("max_price"), F.lit(0.0)), 2).alias("max_or_zero"),
        F.when(F.col("max_price").isNotNull(), "buyer").otherwise("prospect").alias(
            "kind"
        ),
    )


OPTION_SQL = """
SELECT c_custkey,
       max_price IS NOT NULL AS has_orders,
       round(coalesce(max_price, 0.0), 2) AS max_or_zero,
       CASE WHEN max_price IS NOT NULL THEN 'buyer' ELSE 'prospect' END AS kind
FROM customer
LEFT OUTER JOIN (SELECT o_custkey, max(o_totalprice) AS max_price
                 FROM orders GROUP BY o_custkey) lo
  ON c_custkey = lo.o_custkey
"""


# --- file-format round-trip (sources/formats.py; new surface, SURVEY §2.1
# "no file formats in the reference") ---------------------------------------
# supplier → CSV + JSON + ORC → read back (explicit schema, FAILFAST; no
# inference pass) → union → per-nation aggregate. Counts come out exactly
# 3× the base table iff every format preserved every row and value.
def format_roundtrip_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.sources import (
        read_csv,
        read_json,
        read_orc,
        write_csv,
        write_json,
        write_orc,
    )

    from linqonsteroids_spark.session import scratch_dir

    sup = load_table(spark, sf_dir, "supplier")
    base = scratch_dir(prefix="squopt_fmt_")
    write_csv(sup, f"{base}/csv")
    write_json(sup, f"{base}/json")
    write_orc(sup, f"{base}/orc")
    together = (
        read_csv(spark, f"{base}/csv", sup)
        .unionByName(read_json(spark, f"{base}/json", sup))
        .unionByName(read_orc(spark, f"{base}/orc"))
    )
    return together.groupBy("s_nationkey").agg(
        F.count("*").alias("n_rows_3x"),
        F.round(F.sum("s_acctbal"), 2).alias("acctbal_3x"),
    )


FORMAT_ROUNDTRIP_SQL = """
SELECT s_nationkey,
       3 * count(*) AS n_rows_3x,
       round(3 * sum(s_acctbal), 2) AS acctbal_3x
FROM supplier GROUP BY s_nationkey
"""


# --- parquet schema evolution (evolved-schema read over mixed batches) ------
# The lakehouse ingestion reality a 100 TB dataset lives with: early
# batches were written before a column existed, later batches carry it,
# and ONE dataset directory holds both. Reading with the evolved schema
# the latest writer held (a superset of the earlier one) yields the union
# (pre-evolution rows NULL in the added column) without rewriting
# history or merging footers — the alternative, a backfill of every old
# file, is a full rewrite of the table. The gate stages v1 (no
# o_orderpriority) and v2 (with it) batches from a deterministic row
# split, reads them with v2's schema,
# and aggregates per generation; exact integer cents avoid the
# float-sum-round boundary class. The staging directory is rebuilt per
# invocation (append semantics are not idempotent) and removed after.
def schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", cents.alias("cents")
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", cents.alias("cents"), "o_orderpriority"
    )
    base = tempfile.mkdtemp(prefix="squopt_evo_")
    try:
        v1.write.mode("overwrite").parquet(f"{base}/data")
        v2.write.mode("append").parquet(f"{base}/data")
        evolved = spark.read.schema(v2.schema).parquet(f"{base}/data")
        gen = F.when(
            F.col("o_orderpriority").isNull(), "v1-pre-evolution"
        ).otherwise("v2-evolved")
        out = (
            evolved.groupBy(gen.alias("generation"))
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("o_orderpriority").alias("n_priorities"),
                F.sum("cents").alias("total_cents"),
            )
        )
        rows = out.collect()  # materialize before the staging dir dies
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


SCHEMA_EVOLUTION_SQL = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'v1-pre-evolution'
            ELSE 'v2-evolved' END AS generation,
       count(*) AS n_rows,
       count(DISTINCT CASE WHEN o_orderkey % 2 = 1
                           THEN o_orderpriority END) AS n_priorities,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY 1
"""


# --- SQL entry point (Queryable surface, SURVEY §2.1) ----------------------
# The reference's Queryable mixin makes live collections addressable by
# name; here catalog tables register as temp views and the SAME SQL text
# runs on both engines — the strongest possible parity statement for the
# SQL surface (dialect-shared subset: no engine-specific functions). The
# query is TPC-H Q6's shape (forecasting revenue change): a scan-heavy
# filter + single aggregate, where Catalyst pushes both range predicates
# into the parquet scan.
SQL_SURFACE_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def sql_surface_revenue(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(SQL_SURFACE_Q6)


# Q4-shaped: EXISTS subquery through the SQL parser — the semi-join
# unnesting the reference implements by hand (existsUnnester) happens in
# Catalyst's RewritePredicateSubquery; one SQL text serves both engines.
SQL_SURFACE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
"""


def sql_surface_priority_counts(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(SQL_SURFACE_Q4)


# Q12-shaped: conditional aggregation over a joined fact — CASE inside
# sum, identical text on both engines.
SQL_SURFACE_Q12 = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                       OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                      AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END)
            AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate
GROUP BY l_returnflag
"""
# ^ Identical SQL text on both engines does NOT mean identical result
# types: DuckDB types sum(<integer>) as HUGEINT, which its pandas
# conversion degrades to float64 and hash-mismatches Spark's bigint.
# CAST(... AS BIGINT) parses identically in both dialects and pins the
# type on both sides. Guarded by tests/test_oracle_types.py.


def sql_surface_flag_priority(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["orders", "lineitem"])
    return spark.sql(SQL_SURFACE_Q12)


# Q5-shaped: the 6-table star join (customer ⋈ orders ⋈ lineitem ⋈
# supplier ⋈ nation ⋈ region) — the canonical join-REORDERING workload:
# Catalyst must broadcast the three dimension tables, push the region
# filter below the joins, and pick a join order that never materializes
# a fact×fact intermediate. One SQL text serves both engines; the
# repo-wide plan audit asserts no cartesian/nested-loop join appears.
SQL_SURFACE_Q5 = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


def sql_surface_local_revenue(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(
        spark, sf_dir,
        ["customer", "orders", "lineitem", "supplier", "nation", "region"],
    )
    return spark.sql(SQL_SURFACE_Q5)


# Q10-shaped: the returned-item ranking report — 4-table join, grouped
# revenue, TOP-k. Ranking happens on the ROUNDED revenue with a key
# tiebreak, so cross-engine float-summation ulps can never reorder the
# cut line. Catalyst broadcasts customer/nation under the fact side and
# takes the limit via TakeOrderedAndProject, never a global sort.
# Revenue accumulates in DECIMAL and is emitted as 4-decimal fixed-point
# integer (revenue_c4): the first cut of this gate used round(double, 2)
# and hit a live .005 boundary at sf0.01 — engines' float-sum ulps fell
# on opposite sides (378060.515 → .51 vs .52). DECIMAL is exact and
# summation-order-independent, so the ranking and the cut line are too.
SQL_SURFACE_Q10 = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * CAST(1 - l_discount AS DECIMAL(18,2))) * 10000
            AS BIGINT) AS revenue_c4,
       count(*) AS n_lines
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_c4 DESC, c_custkey
LIMIT 20
"""


def sql_surface_returned_revenue(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(
        spark, sf_dir, ["customer", "orders", "lineitem", "nation"]
    )
    return spark.sql(SQL_SURFACE_Q10)


# Q8-shaped: national market share — the widest star join in the suite
# (8 relations: fact lineitem against part, supplier, orders, customer,
# region, and nation TWICE under different roles — customer's nation
# routes the region filter, supplier's nation is the share subject).
# Catalyst's join reordering keeps the fact table on the streaming side
# and broadcasts every dimension (all are orders-of-magnitude smaller;
# at 100 TB this is one shuffle-free pass over lineitem plus the
# orders join). The share is emitted as TWO exact fixed-point columns
# (conditional and total volume), never a float ratio — the Q14
# discipline; the CASE factor stays integer so the DECIMAL product type
# matches across engines.
SQL_SURFACE_Q8 = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum((CASE WHEN n2.n_name = 'NATION_5' THEN 1 ELSE 0 END)
               * CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) * 10000
            AS BIGINT) AS nation_volume_c4,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) * 10000
            AS BIGINT) AS total_volume_c4,
       count(*) AS n_lines
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_year
"""


def sql_surface_market_share(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(
        spark, sf_dir,
        ["part", "lineitem", "supplier", "orders", "customer", "nation",
         "region"],
    )
    return spark.sql(SQL_SURFACE_Q8)


# Q9-shaped (sans partsupp, which the testdata lacks): profit
# contribution by SUPPLIER nation × order year, the part filter a LIKE
# over an unanchored substring — a predicate no index helps, pushed to
# the part scan and broadcast into the fact join. Group keys are a
# dimension string and an exact integer year (cast BIGINT on both
# engines); money accumulates in DECIMAL, emitted c4 fixed-point.
SQL_SURFACE_Q9 = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) * 10000
            AS BIGINT) AS profit_c4,
       count(*) AS n_lines
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, o_year
"""


def sql_surface_nation_profit(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(
        spark, sf_dir,
        ["part", "lineitem", "supplier", "nation", "orders"],
    )
    return spark.sql(SQL_SURFACE_Q9)


# Q13-shaped: the customer order-count DISTRIBUTION — a two-level
# aggregation where the first level's COUNT becomes the second level's
# GROUP KEY, and the left outer join keeps zero-order customers as the
# n_orders = 0 bucket (an inner join silently drops the most important
# row of the histogram). All-integer output: the strongest
# hash-stability class, no rounding anywhere.
SQL_SURFACE_Q13 = """
SELECT n_orders, count(*) AS n_customers
FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) per_customer
GROUP BY n_orders
"""


def sql_surface_custdist(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["customer", "orders"])
    return spark.sql(SQL_SURFACE_Q13)


# Q19-shaped: DISJUNCTION of per-branch conjunctions over an equi-join.
# The join key stays a plain hash join; Catalyst additionally derives
# the per-side OR-of-ANDs filters (brand/size terms to the part scan,
# quantity terms to the lineitem scan) so both inputs shrink BEFORE the
# join — the pattern that turns a "filter after join" query into a
# pruned scan at 100 TB. One-row exact fixed-point output.
SQL_SURFACE_Q19 = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l_discount AS DECIMAL(18,2))) * 10000
            AS BIGINT) AS revenue_c4,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#18' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def sql_surface_disjunctive_parts(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["lineitem", "part"])
    return spark.sql(SQL_SURFACE_Q19)


# Spark 4 SQL PIPE syntax (|>): the linear FROM → WHERE → EXTEND →
# AGGREGATE form of the Q1 pricing rollup. The pipe dialect is pure
# surface — Catalyst plans it identically to the classic text — so the
# oracle IS the classic text (DuckDB has no pipe dialect), which gates
# both the parser surface and the plan equivalence in one row set.
SQL_PIPE_PRICING = """
FROM lineitem
|> WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
|> EXTEND CAST(year(l_shipdate) AS BIGINT) AS ship_year
|> AGGREGATE count(*) AS n_rows,
     CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
     CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
       AS revenue_cents
   GROUP BY l_returnflag, l_linestatus, ship_year
"""

SQL_PIPE_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       count(*) AS n_rows,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS revenue_cents
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus, ship_year
"""


def sql_pipe_pricing_summary(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["lineitem"])
    return spark.sql(SQL_PIPE_PRICING)


# Spark 4 SQL SCRIPTING (BEGIN/DECLARE/REPEAT): a data-dependent loop —
# double the price cutoff until fewer than half the orders lie above it
# (the doubling phase of a median-bracketing search; each trip is one
# counting scan, so the loop is O(log range) scans — the scripted form
# of driver-side iterate-until in procedural engines). DuckDB has no
# scripting dialect, so the oracle UNROLLS the loop declaratively:
# counts for every power-of-two cutoff, first row past the stop
# condition. All-integer output; REPEAT runs its body at least once,
# which the oracle mirrors by starting at k=1.
SQL_SCRIPT_THRESHOLD = """
BEGIN
  DECLARE cutoff DOUBLE DEFAULT 1000;
  DECLARE total BIGINT DEFAULT 0;
  DECLARE n BIGINT DEFAULT 0;
  SET total = (SELECT count(*) FROM orders);
  REPEAT
    SET cutoff = cutoff * 2;
    SET n = (SELECT count(*) FROM orders WHERE o_totalprice > cutoff);
  UNTIL n * 2 < total END REPEAT;
  SELECT CAST(cutoff AS BIGINT) AS final_cutoff, n AS n_above;
END
"""

# The declarative unroll enumerates doublings k=1..53: 1000*2^53 ≈
# 9.0e18 is the last cutoff that fits the BIGINT final_cutoff column
# (DuckDB casts every enumerated row eagerly, so k=54 would overflow
# the CAST) — i.e. the cap is as wide as the gate's own output type
# allows, not an arbitrary bound. Spark's REPEAT loop terminates at the
# first k where n*2 < total (k≈9 at the testdata's price range); the
# LIMIT 1 over the ordered unroll picks the same k.
SQL_SCRIPT_THRESHOLD_ORACLE = """
WITH total AS (SELECT count(*) AS c FROM orders),
counts AS (
  SELECT k, CAST(1000 * power(2, k) AS BIGINT) AS final_cutoff,
         (SELECT count(*) FROM orders
          WHERE o_totalprice > 1000 * power(2, k)) AS n_above
  FROM range(1, 54) t(k)
)
SELECT final_cutoff, n_above
FROM counts, total WHERE n_above * 2 < c ORDER BY k LIMIT 1
"""


def sql_script_threshold_search(spark, sf_dir):
    from linqonsteroids_spark.session import conf_guard
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["orders"])
    # scripting.enabled is consumed at parse time (spark.sql below), so
    # the guard can restore before the returned frame is collected —
    # verified: the script result collects correctly after restore
    with conf_guard(spark, "spark.sql.scripting.enabled", "true"):
        return spark.sql(SQL_SCRIPT_THRESHOLD)


# --- SQL session variables + EXECUTE IMMEDIATE parameter markers -------------
# The session-state surface a BI tool / notebook leans on: a DECLAREd
# variable filled from a DATA-DEPENDENT scalar (max price / 2 — one
# exact IEEE divide, identical on both engines), then consumed through
# EXECUTE IMMEDIATE's `?` parameter marker, which plans the inner text
# with the value bound as a literal — so the filter still reaches the
# scan as a pushed predicate, exactly as if inlined. DECLARE OR REPLACE
# keeps the gate idempotent across invocations; the oracle inlines the
# scalar subquery the variable was set from.
SESSIONVAR_PARAM_ORACLE = """
SELECT o_orderpriority, count(*) AS n_above,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS price_cents
FROM orders
WHERE o_totalprice > (SELECT max(o_totalprice) / 2 FROM orders)
GROUP BY o_orderpriority
"""


def sessionvar_param_exec(spark, sf_dir):
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, ["orders"])
    spark.sql("DECLARE OR REPLACE VARIABLE price_cut DOUBLE DEFAULT 0")
    spark.sql(
        "SET VARIABLE price_cut = (SELECT max(o_totalprice) / 2 FROM orders)"
    )
    return spark.sql("""EXECUTE IMMEDIATE
        'SELECT o_orderpriority, count(*) AS n_above,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                    AS price_cents
         FROM orders WHERE o_totalprice > ? GROUP BY o_orderpriority'
        USING price_cut""")


# --- exact DECIMAL aggregation (money must not float) ------------------------
# Revenue as DECIMAL(18,2): the sum is EXACT and aggregation-order-
# independent on both engines — no rounding anywhere, the strongest
# hash-stability class (what the double-sum gates approximate with
# round()). This is how a warehouse actually accumulates money.
# The GATED projection is integer CENTS (sum * 100 cast to BIGINT — a
# lossless re-representation of the DECIMAL(·,2) total): Spark hands a
# DECIMAL sum to pandas as decimal.Decimal objects while DuckDB's pandas
# conversion degrades DECIMAL(38,2) to float64, so hashing the decimal
# directly splits on representation even when the values are identical.
# The decimal aggregation itself stays in the plan — only the final
# projection re-bases it.
DECIMAL_TOTALS_SQL = """
SELECT l_returnflag,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS revenue_cents,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


def decimal_exact_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias(
                "exact_revenue"
            ),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            (F.col("exact_revenue") * 100).cast("long").alias("revenue_cents"),
            "n_rows",
        )
    )


# --- bivariate statistics: correlation / covariance --------------------------
# Named-agg breadth beyond the reference's fold surface: Pearson
# correlation and sample covariance per group. Both engines aggregate
# co-moments distributively (map-side combined, one shuffle); the
# round(4)/round(2) projection absorbs partition-order float drift (the
# stddev/quartile gates' long-green precedent).
def qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias(
            "qty_price_covar"
        ),
        F.count("*").alias("n_rows"),
    )


QTY_PRICE_CORR_SQL = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS qty_price_covar,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


# --- bivariate statistics, completed: linear-regression aggregates (r12) -----
# The regr_* family finishes what corr/covar started: per-group OLS fit
# (slope, intercept, R²) as ONE distributive aggregation — both engines
# accumulate the same five co-moments map-side, so a grouped regression
# over 100 TB costs exactly one shuffle of 5 doubles per group, never a
# per-group collect or an iterative solver. Same round-projection
# conventions as the corr gate (+0.0 kills IEEE -0.0 on both sides).
def price_qty_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4) + 0.0)
        .alias("price_per_qty"),
        (F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4) + 0.0)
        .alias("base_price"),
        (F.round(F.regr_r2("l_extendedprice", "l_quantity"), 4) + 0.0)
        .alias("fit_r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n_pairs"),
    )


PRICE_QTY_REGRESSION_SQL = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity), 4) + 0.0
         AS price_per_qty,
       round(regr_intercept(l_extendedprice, l_quantity), 4) + 0.0
         AS base_price,
       round(regr_r2(l_extendedprice, l_quantity), 4) + 0.0 AS fit_r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
FROM lineitem GROUP BY l_returnflag
"""


# --- Bloom-pruned selective join ---------------------------------------------
# Semi-join reduction (Bernstein & Chiu JACM'81; Bloom CACM'70): revenue
# of lineitems belonging to urgent finished orders. The selective order
# subset builds a broadcastable (word, bits) Bloom bitmap; lineitem is
# pre-filtered by k sequential broadcast bit tests BEFORE its shuffle —
# probe traffic drops to true matches + false positives, which the exact
# join then removes. The oracle is the PLAIN join: equality IS the
# no-false-negative proof on real data (operators/bloomjoin.py; shuffle
# reduction pinned in tests/test_operators.py).
def bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.bloomjoin import bloom_semi_reduce

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    urgent = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey")
    reduced = bloom_semi_reduce(li, urgent, "l_orderkey", "o_orderkey")
    return (
        reduced.join(urgent, reduced.l_orderkey == urgent.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


BLOOM_PRUNED_SQL = """
SELECT l_returnflag, count(*) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
GROUP BY l_returnflag
"""


# --- referential-integrity audit (data-quality constraint checking) ----------
# The constraint pass a warehouse runs after every load (dbt tests /
# Deequ checks, relationally): per declared relationship, child-row and
# orphan counts (anti-join semantics); per candidate key, duplicate-key
# counts. One row per check, all integers. Scale: each orphan count is a
# broadcast-or-shuffle anti-join that Catalyst plans like any semi-join;
# each uniqueness check is one map-side-combined agg. No new machinery —
# the point is the AUDIT SHAPE: constraints as data, results as a table.
def referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    # fk_check keeps the anti-join + separate count shape DELIBERATELY
    # (r15): the n_rows "duplicate scan" is a zero-column count-star
    # served from parquet row-group metadata, and the measured one-pass
    # alternative (left join against DISTINCT parent keys) was
    # consistently ~8 % SLOWER in two interleaved A/Bs — the distinct
    # costs a real aggregate to save a free scan.
    def fk_check(name, child, child_key, parent, parent_key):
        orphans = child.join(
            parent.select(F.col(parent_key).alias(child_key)),
            child_key,
            "left_anti",
        )
        return child.agg(
            F.lit(name).alias("check_name"),
            F.count("*").alias("n_rows"),
        ).crossJoin(
            F.broadcast(orphans.agg(F.count("*").alias("n_violations")))
        )

    def unique_check(name, df, key):
        return (
            df.groupBy(key)
            .agg(F.count("*").alias("c"))
            .agg(
                F.lit(name).alias("check_name"),
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0)
                )
                .cast("long")
                .alias("n_violations"),
            )
        )

    checks = [
        fk_check("fk_lineitem_orders", li, "l_orderkey", orders, "o_orderkey"),
        fk_check("fk_orders_customer", orders, "o_custkey", cust, "c_custkey"),
        unique_check("uq_orders_orderkey", orders, "o_orderkey"),
        unique_check("uq_customer_custkey", cust, "c_custkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


REFERENTIAL_AUDIT_SQL = """
SELECT 'fk_lineitem_orders' AS check_name,
       (SELECT count(*) FROM lineitem) AS n_rows,
       (SELECT count(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS n_violations
UNION ALL
SELECT 'fk_orders_customer',
       (SELECT count(*) FROM orders),
       (SELECT count(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'uq_orders_orderkey',
       (SELECT count(*) FROM orders),
       (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
         (SELECT count(*) AS c FROM orders GROUP BY o_orderkey HAVING count(*) > 1))
UNION ALL
SELECT 'uq_customer_custkey',
       (SELECT count(*) FROM customer),
       (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM
         (SELECT count(*) AS c FROM customer GROUP BY c_custkey HAVING count(*) > 1))
"""


# --- table content digest (reconciliation) -----------------------------------
# The operator every 100 TB migration/copy runs to prove two tables hold
# the same rows without moving either: per partition-ish group, an
# ORDER-INDEPENDENT content digest — bit_xor of a 48-bit md5 of each
# row's canonical string — plus the row count. XOR is commutative,
# associative, and overflow-free, so the digest is identical under any
# partitioning/aggregation order on any engine (the property an integer
# SUM digest loses to overflow at scale). Doubles enter the canonical
# string as integer cents, never via double→string formatting (engine-
# dependent). One map-side-combined agg; zero other shuffles.
def table_digest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    canonical = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long"),
        F.col("o_orderpriority"),
    )
    row_hash = F.conv(F.substring(F.md5(canonical), 1, 12), 16, 10).cast("long")
    return (
        orders.select("o_orderpriority", row_hash.alias("h"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            F.expr("bit_xor(h)").alias("content_digest"),
        )
    )


TABLE_DIGEST_SQL = """
SELECT o_orderpriority, count(*) AS n_rows,
       bit_xor(('0x' || substr(md5(
         o_orderkey || '|' || o_custkey || '|' || o_orderstatus || '|'
         || CAST(round(o_totalprice * 100, 0) AS BIGINT) || '|'
         || o_orderpriority
       ), 1, 12))::BIGINT) AS content_digest
FROM orders GROUP BY o_orderpriority
"""


# --- column profile (ANALYZE-style statistics) --------------------------------
# The statistics pass a warehouse runs before planning: per column, null
# count and exact distinct count, in long format. One pass computes every
# column's aggregates (count_distinct + conditional sums share one
# map-side-combined agg); stack unpivots the single row. All-integer
# output — hash-stable by construction.
_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
            for c in _PROFILE_COLS
        ],
        *[F.countDistinct(c).alias(f"ndv_{c}") for c in _PROFILE_COLS],
    )
    stacked = ", ".join(
        f"'{c}', n_rows, nulls_{c}, ndv_{c}" for c in _PROFILE_COLS
    )
    return agg.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stacked}) "
        "AS (column_name, n_rows, n_nulls, n_distinct)"
    )


PROFILE_COLUMNS_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, count(*) AS n_rows,\n"
    f"       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS n_nulls,\n"
    f"       count(DISTINCT {c}) AS n_distinct FROM orders"
    for c in _PROFILE_COLS
)


# --- interval-overlap join (grid-bucketed, exactly-once) ---------------------
# True interval×interval overlap join — the θ-join shape the reference
# could only write as cross+filter (SURVEY §2.3) and whose naive plan is
# quadratic. operators/intervals.py rewrites it as a grid-cell equi-join
# with row-local first-shared-cell dedup. Gate: 15-day order-handling
# windows per customer that overlap; left/right intervals come from two
# INDEPENDENT reads (fresh attribute ids — the documented self-join
# hygiene), pairs canonicalized okey_a < okey_b. Everything integer
# (epoch seconds, floor-div days).
_IV_WINDOW_S = 15 * 86_400


def interval_overlap_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.intervals import interval_overlap_join

    def iv(side: str) -> DataFrame:
        o = load_table(spark, sf_dir, "orders")
        s = F.unix_timestamp("o_orderdate")
        return o.select(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderkey").alias(f"okey_{side}"),
            s.alias(f"s_{side}"),
            (s + _IV_WINDOW_S).alias(f"e_{side}"),
        )

    left, right = iv("a"), iv("b")
    pairs = interval_overlap_join(
        left,
        right,
        "s_a",
        "e_a",
        "s_b",
        "e_b",
        cell_size=_IV_WINDOW_S,
        keys=["cust"],
    )
    return pairs.filter(F.col("okey_a") < F.col("okey_b")).select(
        left["cust"].alias("o_custkey"),
        "okey_a",
        "okey_b",
        (
            (
                F.least(F.col("e_a"), F.col("e_b"))
                - F.greatest(F.col("s_a"), F.col("s_b"))
            )
            / 86_400
        )
        .cast("long")
        .alias("overlap_days"),
    )


INTERVAL_OVERLAP_SQL = f"""
WITH iv AS (
  SELECT o_custkey AS cust, o_orderkey AS okey,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS s,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) + {_IV_WINDOW_S} AS e
  FROM orders
)
SELECT a.cust AS o_custkey, a.okey AS okey_a, b.okey AS okey_b,
       (least(a.e, b.e) - greatest(a.s, b.s)) // 86400 AS overlap_days
FROM iv a JOIN iv b
  ON a.cust = b.cust AND a.okey < b.okey
 AND greatest(a.s, b.s) <= least(a.e, b.e)
"""


# --- market-basket brand co-occurrence with exact lift (r12) ----------------
# The frequent-itemset pass of a recommendation/affinity pipeline,
# expressed so a 100 TB fact side stays safe: lineitem joins the part
# dim BROADCAST (dim-sized, never shuffles the fact), baskets collapse
# to DISTINCT (order, brand) first — bounding the pair expansion per
# order at C(|brands|,2) = C(25,2) regardless of basket size — and the
# pair generation is an equi self-join on l_orderkey (co-partitioned
# shuffle, never all-pairs across orders). Output is the bounded
# brand x brand matrix with exact-integer support and lift in ppm
# (lift = P(a,b) / (P(a)P(b)), computed as n_both * n_orders * 1e6
# div (n_a * n_b) — pure BIGINT arithmetic, hash-stable by
# construction). Only pairs seen in >= 2 orders survive, the classic
# min-support prune.
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    # One row per order with its sorted distinct brand set (collect_set
    # folds the distinct into the same shuffle), materialized ONCE for its
    # three consumers (pairs, per-brand counts, order total). Pairs expand
    # row-locally (i<j over the ≤25-brand array, the C(25,2) bound), so
    # the query is ONE shuffle on the order key plus three scans of the
    # tiny materialized relation (r15).
    ob = materialize(
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("brands")),
        "basket_brand_pairs: order brand sets",
    )
    pair_expr = F.flatten(
        F.expr(
            "transform(brands, (x, i) -> "
            "transform(slice(brands, i + 2, size(brands) - i - 1), "
            "y -> struct(x AS brand_a, y AS brand_b)))"
        )
    )
    pairs = (
        ob.select(F.explode(pair_expr).alias("e"))
        .select("e.brand_a", "e.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("bigint").alias("n_both"))
        .where(F.col("n_both") >= 2)
    )
    per_brand = (
        ob.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    total = ob.agg(F.count("*").cast("bigint").alias("n_orders"))
    return (
        pairs.join(
            F.broadcast(per_brand).withColumnRenamed("p_brand", "brand_a"),
            "brand_a",
        )
        .withColumnRenamed("n", "n_a")
        .join(
            F.broadcast(per_brand).withColumnRenamed("p_brand", "brand_b"),
            "brand_b",
        )
        .withColumnRenamed("n", "n_b")
        .crossJoin(F.broadcast(total))
        .select(
            "brand_a",
            "brand_b",
            "n_both",
            F.expr("n_both * 1000000L div n_orders").alias("support_ppm"),
            F.expr("n_both * n_orders * 1000000L div (n_a * n_b)").alias(
                "lift_ppm"
            ),
        )
    )


BASKET_PAIRS_SQL = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
),
pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY a.p_brand, b.p_brand
  HAVING count(*) >= 2
),
per_brand AS (
  SELECT p_brand, CAST(count(*) AS BIGINT) AS n FROM ob GROUP BY p_brand
),
total AS (
  SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob
)
SELECT brand_a, brand_b, n_both,
       n_both * 1000000 // n_orders AS support_ppm,
       n_both * n_orders * 1000000 // (na.n * nb.n) AS lift_ppm
FROM pairs
JOIN per_brand na ON na.p_brand = brand_a
JOIN per_brand nb ON nb.p_brand = brand_b
CROSS JOIN total
"""


# --- file-provenance rollup via the _metadata column (r12) ------------------
# Row-level lineage without reading anything twice: Spark's hidden
# ``_metadata`` struct exposes the originating file per row at scan
# time, so per-file row counts / key ranges — the first diagnostic for
# a corrupt or skewed ingest at 100 TB — cost one normal aggregation,
# no filesystem round-trips. The testdata stages each table as a single
# parquet file, so the expected basename is deterministic and the
# oracle replays it as a literal.
def file_provenance_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.col("_metadata.file_name").alias("file"),
            "o_orderkey",
            "o_totalprice",
        )
        .groupBy("file")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
    )


FILE_PROVENANCE_SQL = """
SELECT 'orders.parquet' AS file, CAST(count(*) AS BIGINT) AS n_rows,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents
FROM orders
"""


QUERIES = {
    "qty_price_correlation": (qty_price_correlation, QTY_PRICE_CORR_SQL),
    "basket_brand_pairs": (basket_brand_pairs, BASKET_PAIRS_SQL),
    "file_provenance_counts": (file_provenance_counts, FILE_PROVENANCE_SQL),
    "price_qty_regression": (price_qty_regression, PRICE_QTY_REGRESSION_SQL),
    "interval_overlap_orders": (interval_overlap_orders, INTERVAL_OVERLAP_SQL),
    "table_digest_orders": (table_digest_orders, TABLE_DIGEST_SQL),
    "profile_orders_columns": (profile_orders_columns, PROFILE_COLUMNS_SQL),
    "bloom_pruned_revenue": (bloom_pruned_revenue, BLOOM_PRUNED_SQL),
    "sql_surface_local_revenue": (sql_surface_local_revenue, SQL_SURFACE_Q5),
    "sql_surface_returned_revenue": (
        sql_surface_returned_revenue,
        SQL_SURFACE_Q10,
    ),
    "sql_surface_market_share": (sql_surface_market_share, SQL_SURFACE_Q8),
    "sql_surface_nation_profit": (sql_surface_nation_profit, SQL_SURFACE_Q9),
    "sql_surface_custdist": (sql_surface_custdist, SQL_SURFACE_Q13),
    "sql_surface_disjunctive_parts": (
        sql_surface_disjunctive_parts,
        SQL_SURFACE_Q19,
    ),
    "sql_pipe_pricing_summary": (
        sql_pipe_pricing_summary,
        SQL_PIPE_PRICING_ORACLE,
    ),
    "sql_script_threshold_search": (
        sql_script_threshold_search,
        SQL_SCRIPT_THRESHOLD_ORACLE,
    ),
    "sessionvar_param_exec": (
        sessionvar_param_exec,
        SESSIONVAR_PARAM_ORACLE,
    ),
    "referential_audit": (referential_audit, REFERENTIAL_AUDIT_SQL),
    "decimal_exact_totals": (decimal_exact_totals, DECIMAL_TOTALS_SQL),
    "discount_products": (discount_products, DISCOUNT_PRODUCTS_SQL),
    "sql_surface_revenue": (sql_surface_revenue, SQL_SURFACE_Q6),
    "sql_surface_priority_counts": (sql_surface_priority_counts, SQL_SURFACE_Q4),
    "sql_surface_flag_priority": (
        sql_surface_flag_priority,
        SQL_SURFACE_Q12,
    ),
    "format_roundtrip_supplier": (format_roundtrip_supplier, FORMAT_ROUNDTRIP_SQL),
    "schema_evolution_orders": (schema_evolution_orders, SCHEMA_EVOLUTION_SQL),
    "first_last_order_per_customer": (
        first_last_order_per_customer,
        FIRST_LAST_SQL,
    ),
    "customer_key_regex": (customer_key_regex, CUSTOMER_REGEX_SQL),
    "cast_matrix": (cast_matrix, CAST_MATRIX_SQL),
    "option_last_event": (option_last_event, OPTION_SQL),
}
