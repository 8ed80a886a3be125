"""Engine-capability queries under the differential gate: the index/MV
rewrite (the reference's flagship SubquerySharing feature), the named
pandas-UDAF surface (fmap/foldLeft contract), and the multimodal
mapInPandas pipeline.

Each is oracle-backed: the MV rewrite is semantics-preserving by
construction (oracle = the unrewritten filter); the fake-media decode stub
is a deterministic hash, so even the Arrow-batched Python stage is
bit-reproducible in SQL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linqonsteroids_spark.api import lift
from linqonsteroids_spark.catalog import load_table
from linqonsteroids_spark.functions.udf import fmap, register, registered
from linqonsteroids_spark.multimodal.media import (
    attach_fake_media,
    decode_image_stats,
    sample_video_frames,
)
from linqonsteroids_spark.plans.registry import IndexRepository
from linqonsteroids_spark.session import cached_scratch_dir


# --- index/MV rewrite (SURVEY §2.10; SubquerySharing.scala:20-455) --------
# addIndex materializes customer keyed by segment (hash-layout parquet);
# optimize() rewrites filter(segment == k && rest) into an MV scan with the
# key filter pushed to parquet + the residual rebuilt. The query RAISES if
# the rewrite did not fire — the gate then verifies the rewritten plan
# against the plain-filter oracle (the reference's indexingTest discipline,
# SubquerySharingTests.scala:43-62).
def indexed_segment_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    storage = cached_scratch_dir("squopt_idx_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_index(
        "customer_by_segment",
        lift(customer, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    q = lift(customer, table="customer").filter(
        lambda c: (c.c_mktsegment == "BUILDING") & (c.c_acctbal > 1000.0)
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("customer_by_segment" in f for f in files):
        raise RuntimeError("index rewrite did not fire — scanning base table")
    return opt.df.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )


INDEXED_LOOKUP_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000.0
"""


# --- RANGE-predicate index lookup (r10: the range leg of the rewrite) ------
# The reference's substitution recognizes equality only; every index
# layout here is key-ORDERED, so a range conjunct is just as
# serviceable — the hash layout sorts within buckets (row-group min/max
# skip), the partitioned layout prunes key directories. The gate RAISES
# unless the optimizer actually rerouted the scan to index files (the
# indexed_segment_lookup discipline).
def indexed_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    storage = cached_scratch_dir("squopt_idx_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_index(
        "orders_by_price",
        lift(orders, table="orders").index_by(lambda o: o.o_totalprice),
    )
    q = lift(orders, table="orders").filter(
        lambda o: (o.o_totalprice >= 280000.0)
        & (o.o_orderstatus == "F")
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("orders_by_price" in f for f in files):
        raise RuntimeError("range index rewrite did not fire")
    return opt.df.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )


INDEXED_RANGE_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         AS price_cents
FROM orders
WHERE o_totalprice >= 280000.0 AND o_orderstatus = 'F'
"""


# --- workload-advised index (SparkCruise-style computation reuse) ----------
# No human calls add_index here: the advisor OBSERVES two queries sharing
# a filter-key pattern, mines the repetition, and materializes the index
# itself; a third query with the same shape must then rewrite to the
# advised MV (RAISES otherwise — same discipline as the manual gates).
def advised_segment_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.plans.advisor import WorkloadAdvisor

    customer = load_table(spark, sf_dir, "customer")
    storage = cached_scratch_dir("squopt_adv_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    advisor = WorkloadAdvisor(
        repo,
        {"customer": lambda: lift(customer, table="customer")},
        min_count=2,
    )

    def seg_query(seg):
        return lift(customer, table="customer").filter(
            lambda c: c.c_mktsegment == seg
        )

    advisor.observe(seg_query("BUILDING"))
    advisor.observe(seg_query("MACHINERY"))
    advisor.auto_materialize()

    q = lift(customer, table="customer").filter(
        lambda c: (c.c_mktsegment == "HOUSEHOLD") & (c.c_acctbal > 2500.0)
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("adv_customer_c_mktsegment" in f for f in files):
        raise RuntimeError("advised index rewrite did not fire")
    return opt.df.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal")
    )


ADVISED_LOOKUP_SQL = """
SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_mktsegment = 'HOUSEHOLD' AND c_acctbal > 2500.0
"""


# --- workload-advised RANGE index (r10: the advisor's range leg) ------------
# Two range queries with DIFFERENT bounds on the same column are one
# repeated (table, column) pattern — the key-ordered index serves any
# bound — so the advisor materializes one index from them, and a THIRD
# range query with yet another bound must reroute to it (RAISES
# otherwise, the established discipline).
def advised_range_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.plans.advisor import WorkloadAdvisor

    orders = load_table(spark, sf_dir, "orders")
    storage = cached_scratch_dir("squopt_advrng_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    advisor = WorkloadAdvisor(
        repo,
        {"orders": lambda: lift(orders, table="orders")},
        min_count=2,
    )

    def price_above(cut):
        return lift(orders, table="orders").filter(
            lambda o: o.o_totalprice >= cut
        )

    advisor.observe(price_above(250000.0))
    advisor.observe(price_above(310000.0))
    advisor.auto_materialize()

    q = lift(orders, table="orders").filter(
        lambda o: (o.o_totalprice >= 290000.0) & (o.o_orderstatus == "O")
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("adv_orders_o_totalprice" in f for f in files):
        raise RuntimeError("advised range index rewrite did not fire")
    return opt.df.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )


ADVISED_RANGE_SQL = """
SELECT o_orderkey, o_orderpriority,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         AS price_cents
FROM orders
WHERE o_totalprice >= 290000.0 AND o_orderstatus = 'O'
"""


# --- saved-workload replay (plans/workload.py, the OFFLINE advisor loop) ----
# The end-to-end SparkCruise shape: pass 1 RECORDS query shapes to a
# JSONL log (driver-side metadata, session-independent); pass 2 — a
# FRESH advisor and repository, as an offline job would be — REPLAYS the
# log, advises the repeated (orders, o_orderpriority) pattern, and
# materializes it; a new query with that shape must then rewrite to the
# replay-advised MV (RAISES otherwise). The replay path itself never
# runs a query — only the one materialization touches data.
def workload_replay_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.plans.advisor import WorkloadAdvisor
    from linqonsteroids_spark.plans.workload import WorkloadLog

    orders = load_table(spark, sf_dir, "orders")
    storage = cached_scratch_dir("squopt_replay_", sf_dir)
    log_path = os.path.join(storage, "workload.jsonl")
    if os.path.exists(log_path):
        os.remove(log_path)  # idempotent across invocations
    log = WorkloadLog(log_path)

    def prio_query(p):
        return lift(orders, table="orders").filter(
            lambda o: o.o_orderpriority == p
        )

    # pass 1: the "online" day — shapes logged, nothing advised yet
    log.record(prio_query("1-URGENT"))
    log.record(prio_query("3-MEDIUM"))
    log.record(
        lift(orders, table="orders").filter(lambda o: o.o_totalprice > 100.0)
    )  # non-repeated: must NOT be advised

    # pass 2: the "offline" job — fresh advisor, replay, materialize
    repo = IndexRepository(spark, storage, n_buckets=8)
    advisor = WorkloadAdvisor(
        repo,
        {"orders": lambda: lift(orders, table="orders")},
        min_count=2,
    )
    n = log.replay_into(advisor)
    advice = advisor.advise()
    if n != 3:
        raise RuntimeError(f"replay read {n} log entries, wanted 3")
    # the repository catalog persists across invocations (storage is
    # cached per sf_dir): cold run must advise exactly the repeated
    # pattern; warm run must advise NOTHING (already materialized) —
    # both legs of the idempotence contract, asserted
    if ("orders", "o_orderpriority") in repo._by_table_key:
        if advice:
            raise RuntimeError(f"re-advised registered index: {advice}")
    elif advice != [("orders", "o_orderpriority", 2)]:
        raise RuntimeError(f"replay advice wrong: {advice}")
    advisor.auto_materialize()

    q = lift(orders, table="orders").filter(
        lambda o: (o.o_orderpriority == "5-LOW") & (o.o_totalprice > 150000.0)
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("adv_orders_o_orderpriority" in f for f in files):
        raise RuntimeError("replay-advised index rewrite did not fire")
    return opt.df.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total"),
    )


WORKLOAD_REPLAY_SQL = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total
FROM orders
WHERE o_orderpriority = '5-LOW' AND o_totalprice > 150000.0
"""


# The rollup leg of the SparkCruise loop: two logged agg_summary shapes
# with DIFFERENT column subsets replay into ONE advised covering MV
# (the union), and a THIRD, narrower query — never observed — then
# substitutes to it by subset matching. RAISES unless the advised MV is
# what the optimized plan scans; oracle recomputes the rollup from the
# base table.
def advised_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.plans.advisor import WorkloadAdvisor
    from linqonsteroids_spark.plans.workload import WorkloadLog

    orders = load_table(spark, sf_dir, "orders")
    storage = cached_scratch_dir("squopt_aggadv_", sf_dir)
    log_path = os.path.join(storage, "workload.jsonl")
    if os.path.exists(log_path):
        os.remove(log_path)  # idempotent across invocations
    log = WorkloadLog(log_path)

    def rollup(**kw):
        return (
            lift(orders, table="orders")
            .index_by(lambda o: o.o_orderpriority)
            .agg_summary(**kw)
        )

    log.record(rollup(sums=["o_orderkey"]))
    log.record(rollup(maxs=["o_totalprice"], mins=["o_totalprice"]))

    repo = IndexRepository(spark, storage, n_buckets=8)
    advisor = WorkloadAdvisor(
        repo,
        {"orders": lambda: lift(orders, table="orders")},
        min_count=2,
    )
    n = log.replay_into(advisor)
    if n != 2:
        raise RuntimeError(f"replay read {n} log entries, wanted 2")
    advice = advisor.advise_aggs()
    if ("orders", "o_orderpriority") in repo._agg_mvs:
        if advice:  # warm leg: already materialized, nothing re-advised
            raise RuntimeError(f"re-advised registered rollup: {advice}")
    elif advice != [
        (
            "orders",
            "o_orderpriority",
            2,
            ("o_orderkey",),
            ("o_totalprice",),
            ("o_totalprice",),
        )
    ]:
        raise RuntimeError(f"rollup advice wrong: {advice}")
    advisor.auto_materialize()

    # never-observed narrower query: served by the covering MV
    q = rollup(sums=["o_orderkey"], mins=["o_totalprice"])
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all(
        "adv_agg_orders_o_orderpriority" in f for f in files
    ):
        raise RuntimeError("advised rollup substitution did not fire")
    return opt.df.select(
        "o_orderpriority",
        F.col("cnt_star").alias("n_orders"),
        F.col("sum_o_orderkey").alias("key_sum"),
        F.round("min_o_totalprice", 2).alias("min_price"),
    )


ADVISED_AGG_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(min(o_totalprice), 2) AS min_price
FROM orders GROUP BY o_orderpriority
"""


def _split_base(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Scratch base table for the MV-freshness gates: RESET to the
    o_orderkey%3!=0 two-thirds of orders on every invocation, so each
    run replays the same append story deterministically (the previous
    run's grown base and its MV become provably stale — which is the
    point).

    The reset is manifest-based (r15): the first build records the
    part-file listing beside the data, and later invocations restore the
    split state by UNLINKING the files a previous run appended —
    O(|delta files|) driver-side metadata work, no Spark job, instead of
    rewriting the full two-thirds every time. This is how a snapshot
    restore works on a manifest-tracked table: the base files are
    immutable, only the membership list changes. A missing or
    inconsistent manifest (cold scratch dir, crashed first build) falls
    back to the full rewrite."""
    import os

    base = os.path.join(cached_scratch_dir(prefix, sf_dir), "base")
    manifest = base + ".manifest"
    if os.path.exists(manifest) and os.path.isdir(base):
        with open(manifest) as f:
            original = set(f.read().split("\n")) - {""}
        current = set(os.listdir(base))
        if original <= current:
            for extra in current - original:
                os.remove(os.path.join(base, extra))
            return base
    orders = load_table(spark, sf_dir, "orders")
    (
        orders.filter(F.col("o_orderkey") % 3 != 0)
        .write.mode("overwrite")
        .parquet(base)
    )
    with open(manifest, "w") as f:
        f.write("\n".join(sorted(os.listdir(base))))
    return base


def _read_split(spark: SparkSession, sf_dir: str, *paths: str) -> DataFrame:
    """Read split-base files with the schema they were written with:
    the orders table's."""
    orders = load_table(spark, sf_dir, "orders")
    return spark.read.schema(orders.schema).parquet(*paths)


def _append_rest(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    """Append the held-back third of orders to ``base`` and return its
    CHANGE FEED — the appended files, read back directly. For an
    append-only table the new-file set IS the delta; no diffing of row
    contents is ever needed (O(|delta|), not O(|base|)). The pre/post
    file listings are driver-side directory reads (r15) — the snapshot
    primitive every gate here already treats as listing-only — instead
    of two Spark ``inputFiles()`` file-index builds per invocation."""
    import os

    orders = load_table(spark, sf_dir, "orders")
    pre_files = {f for f in os.listdir(base) if f.endswith(".parquet")}
    (
        orders.filter(F.col("o_orderkey") % 3 == 0)
        .write.mode("append")
        .parquet(base)
    )
    new_files = sorted(
        os.path.join(base, f)
        for f in os.listdir(base)
        if f.endswith(".parquet") and f not in pre_files
    )
    if not new_files:
        raise RuntimeError("append produced no new files")
    return _read_split(spark, sf_dir, *new_files)


# --- MV freshness SLA (r11): stale MVs fall back, refreshed MVs return ------
# The failure mode this closes: a rollup MV materialized last week, a
# base table that grew since, and a query that silently reads week-old
# aggregates. Under refresh_mode='on_read_stale' the repository compares
# the query's OWN base-file snapshot against the one recorded at
# materialization — a listing-only check, no data read — and withholds
# the substitution when they differ. Three phases, each RAISING on the
# wrong plan: (1) fresh MV → substitution fires; (2) base appended → the
# SAME query must NOT read the MV (it computes grown-base truth from the
# base scan); (3) incremental refresh from the change feed → the
# substitution returns, now serving grown-base truth from the MV. The
# oracle recomputes the final rollup over the full orders table (the two
# splits union to exactly it).
def mv_stale_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _split_base(spark, sf_dir, "squopt_mvsla_")
    storage = cached_scratch_dir("squopt_mvsla_store_", sf_dir)
    repo = IndexRepository(
        spark, storage, n_buckets=8, refresh_mode="on_read_stale"
    )

    def rollup(b):
        return (
            lift(_read_split(spark, sf_dir, b), table="orders_sla")
            .index_by(lambda o: o.o_orderpriority)
            .agg_summary(sums=["o_orderkey"], maxs=["o_totalprice"])
        )

    repo.add_agg_index(
        "orders_sla_rollup",
        lift(_read_split(spark, sf_dir, base), table="orders_sla").index_by(
            lambda o: o.o_orderpriority
        ),
        sums=["o_orderkey"],
        maxs=["o_totalprice"],
    )
    opt1 = repo.optimize(rollup(base))
    files1 = opt1.df.inputFiles()
    if not files1 or not all("orders_sla_rollup" in f for f in files1):
        raise RuntimeError("fresh MV was not substituted")

    delta = _append_rest(spark, sf_dir, base)

    opt2 = repo.optimize(rollup(base))
    files2 = opt2.df.inputFiles()
    if any("orders_sla_rollup" in f for f in files2):
        raise RuntimeError("STALE MV served after base append")
    # the fallback path must already be grown-base-correct
    n_total = _read_split(spark, sf_dir, base).count()
    n_fallback = opt2.df.agg(F.sum("cnt_star")).collect()[0][0]
    if n_fallback != n_total:
        raise RuntimeError(
            f"fallback rollup covers {n_fallback} rows, base has {n_total}"
        )

    repo.refresh_agg_index(
        "orders_sla_rollup", delta, _read_split(spark, sf_dir, base)
    )
    opt3 = repo.optimize(rollup(base))
    files3 = opt3.df.inputFiles()
    if not files3 or not all("orders_sla_rollup" in f for f in files3):
        raise RuntimeError("substitution did not return after refresh")
    return opt3.df.select(
        "o_orderpriority",
        F.col("cnt_star").alias("n_orders"),
        F.col("sum_o_orderkey").alias("key_sum"),
        F.round("max_o_totalprice", 2).alias("max_price"),
    )


MV_STALE_FALLBACK_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_orderpriority
"""


# --- advisor refresh-through-substitution, end to end (r11) -----------------
# The loop the r9/r10 verdicts asked for, in one gate: the advisor mines
# two observed rollup shapes and auto-materializes a covering MV; the
# query substitutes; the base table APPENDS; the change feed (the
# appended files) drives refresh_agg_index — an O(|delta|+|MV|) merge,
# the base is never rescanned — which rewrites the MV's part files and
# re-stamps the snapshot (raised unless the MV files were replaced); the
# SAME query then substitutes again and must hash-match an oracle
# recomputed over the grown base.
def advised_refresh_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.plans.advisor import WorkloadAdvisor

    base = _split_base(spark, sf_dir, "squopt_advrefresh_")
    storage = cached_scratch_dir("squopt_advrefresh_store_", sf_dir)
    repo = IndexRepository(
        spark, storage, n_buckets=8, refresh_mode="on_read_stale"
    )
    advisor = WorkloadAdvisor(
        repo,
        {
            "orders_ref": lambda: lift(
                _read_split(spark, sf_dir, base), table="orders_ref"
            )
        },
        min_count=2,
    )

    def rollup(**kw):
        return (
            lift(_read_split(spark, sf_dir, base), table="orders_ref")
            .index_by(lambda o: o.o_orderpriority)
            .agg_summary(**kw)
        )

    advisor.observe(rollup(sums=["o_orderkey"]))
    advisor.observe(rollup(maxs=["o_totalprice"]))
    advisor.auto_materialize()
    # warm invocations: the persisted catalog rehydrates LAST run's MV
    # (built over last run's grown base), which is stale against the
    # freshly rewritten split base. Re-registering through the same API
    # is a no-op when fresh and a forced rebuild when the snapshot
    # mismatches — the idempotence contract of _reuse_or_build.
    repo.add_agg_index(
        "adv_agg_orders_ref_o_orderpriority",
        lift(_read_split(spark, sf_dir, base), table="orders_ref").index_by(
            lambda o: o.o_orderpriority
        ),
        sums=("o_orderkey",),
        maxs=("o_totalprice",),
    )

    q1 = rollup(sums=["o_orderkey"], maxs=["o_totalprice"])
    opt1 = repo.optimize(q1)
    files1 = opt1.df.inputFiles()
    if not files1 or not all(
        "adv_agg_orders_ref_o_orderpriority" in f for f in files1
    ):
        raise RuntimeError("advised rollup substitution did not fire")

    delta = _append_rest(spark, sf_dir, base)
    repo.refresh_agg_index(
        "adv_agg_orders_ref_o_orderpriority",
        delta,
        _read_split(spark, sf_dir, base),
    )

    q2 = rollup(sums=["o_orderkey"], maxs=["o_totalprice"])
    opt2 = repo.optimize(q2)
    files2 = opt2.df.inputFiles()
    if not files2 or not all(
        "adv_agg_orders_ref_o_orderpriority" in f for f in files2
    ):
        raise RuntimeError("substitution did not survive the refresh")
    if set(files2) & set(files1):
        raise RuntimeError("refresh did not rewrite the rollup MV")
    return opt2.df.select(
        "o_orderpriority",
        F.col("cnt_star").alias("n_orders"),
        F.col("sum_o_orderkey").alias("key_sum"),
        F.round("max_o_totalprice", 2).alias("max_price"),
    )


ADVISED_REFRESH_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_orderpriority
"""


# --- partitioned type-index (TypeMapping, SubquerySharing.scala:345-448) ---
# The MV is stored partitionBy(tag): a key equality prunes whole partition
# DIRECTORIES (PartitionFilters), not just row groups — the right layout
# for low-cardinality type/tag columns. RAISES unless the rewrite fired
# AND the key landed in PartitionFilters.
def typeindex_event_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    storage = cached_scratch_dir("squopt_tidx_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_partitioned_index(
        "events_by_type",
        lift(events, table="events").index_by(lambda e: e.event_type),
    )
    q = lift(events, table="events").filter(
        lambda e: (e.event_type == "purchase") & (e.value > 50.0)
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("events_by_type" in f for f in files):
        raise RuntimeError("type-index rewrite did not fire")
    plan = opt.df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    if len(pf) < 2 or "event_type" not in pf[1].split("]", 1)[0]:
        raise RuntimeError("key equality did not reach PartitionFilters")
    return opt.df.select(
        "event_id", "user_id", F.round("value", 4).alias("value")
    )


TYPEINDEX_LOOKUP_SQL = """
SELECT event_id, user_id, round(value, 4) AS value
FROM events
WHERE event_type = 'purchase' AND value > 50.0
"""


# --- IN-list index lookup (r11: the membership leg of the rewrite) ---------
# ``col.isin(...)`` is a union of key equalities: on the directory
# layout it prunes to the UNION of the named key directories — the scan
# reads exactly two partitions of the index, however large the table.
# The residual here is a tracked ``between``, which lowers to the two
# range conjuncts the r10 range leg already reconstructs — BETWEEN needs
# no matcher of its own. Shares the type-index artifact (same storage
# key), so the MV builds once per sf_dir and both gates probe it.
# RAISES unless the rewrite fired AND the IN reached PartitionFilters.
def indexed_in_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    storage = cached_scratch_dir("squopt_tidx_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_partitioned_index(
        "events_by_type",
        lift(events, table="events").index_by(lambda e: e.event_type),
    )
    q = lift(events, table="events").filter(
        lambda e: e.event_type.isin("purchase", "click")
        & e.value.between(10.0, 80.0)
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("events_by_type" in f for f in files):
        raise RuntimeError("IN-list index rewrite did not fire")
    plan = opt.df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)
    if len(pf) < 2 or "event_type" not in pf[1].split("]", 1)[0]:
        raise RuntimeError("IN list did not reach PartitionFilters")
    return opt.df.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
    )


INDEXED_IN_SQL = """
SELECT event_id, user_id, event_type, round(value, 4) AS value
FROM events
WHERE event_type IN ('purchase', 'click') AND value BETWEEN 10.0 AND 80.0
"""


# --- named-UDF (fmap) surface gate ------------------------------------------
# The fmap contract end-to-end under the driver oracle: a pandas UDF
# registered under a stable name, applied TWICE in one projection — the
# identity contract makes both applications the same plan expression
# (Call.scala:18-35's CSE property) — with pure-arithmetic semantics the
# oracle reproduces in SQL. ArrowEvalPython (vectorized), never
# BatchEvalPython; plan_audit enforces that repo-wide.
@register("squash_value", returns="double")
def _squash_value(v):
    import numpy as np

    return 1.0 / (1.0 + np.exp(-v))


def udf_event_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    squash = fmap("squash_value")
    return events.select(
        "event_id",
        F.round(squash(F.col("value")), 6).alias("squashed"),
        F.round(squash(F.col("value")) * 2, 6).alias("squashed_2x"),
    )


UDF_FEATURES_SQL = """
SELECT event_id,
       round(1.0 / (1.0 + exp(-value)), 6) AS squashed,
       round((1.0 / (1.0 + exp(-value))) * 2, 6) AS squashed_2x
FROM events
"""


# --- computed-key index (the reference's normalized filter(f(x) == k):
# SubquerySharing matches structurally-equal computed key expressions via
# its normalizer; here the tracked let records (name, structure), the MV
# materializes the computed column, and optimize() substitutes only when
# the query's lets are structurally identical. RAISES unless it fired.
def indexed_computed_key_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    storage = cached_scratch_dir("squopt_lidx_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_index(
        "customer_by_band",
        lift(customer, table="customer")
        .let("band", lambda c: c.c_custkey % 7)
        .index_by(lambda c: c.band),
    )
    q = (
        lift(customer, table="customer")
        .let("band", lambda c: c.c_custkey % 7)
        .filter(lambda c: (c.band == 3) & (c.c_acctbal > 500.0))
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("customer_by_band" in f for f in files):
        raise RuntimeError("computed-key index rewrite did not fire")
    return opt.df.select(
        "c_custkey", "band", F.round("c_acctbal", 2).alias("acctbal")
    )


INDEXED_COMPUTED_SQL = """
SELECT c_custkey, c_custkey % 7 AS band, round(c_acctbal, 2) AS acctbal
FROM customer
WHERE c_custkey % 7 = 3 AND c_acctbal > 500.0
"""


# --- join-MV substitution (the nested-scope variant of SubquerySharing,
# SubquerySharing.scala:110-343 in relational form): the repository holds a
# materialized customer⋈orders; a filtered re-statement of that join
# rewrites to ONE MV scan (no Join in the plan) with every side- and
# post-join filter preserved as a residual. RAISES if a Join survives.
def indexed_join_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    storage = cached_scratch_dir("squopt_jidx_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_join_index(
        "cust_orders",
        lift(customer, table="customer").join(
            lift(orders, table="orders"),
            lambda c: c.c_custkey,
            lambda o: o.o_custkey,
        ),
    )
    q = (
        lift(customer, table="customer")
        .filter(lambda c: c.c_mktsegment == "AUTOMOBILE")
        .join(
            lift(orders, table="orders").filter(lambda o: o.o_totalprice > 50000.0),
            lambda c: c.c_custkey,
            lambda o: o.o_custkey,
        )
        .filter(lambda r: r.o_orderpriority == "1-URGENT")
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("cust_orders" in f for f in files):
        raise RuntimeError("join-MV rewrite did not fire — still joining base tables")
    return opt.df.select(
        "c_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice")
    )


INDEXED_JOIN_SQL = """
SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice
FROM customer JOIN orders ON c_custkey = o_custkey
WHERE c_mktsegment = 'AUTOMOBILE'
  AND o_totalprice > 50000.0
  AND o_orderpriority = '1-URGENT'
"""


# --- multi-level nested index substitution (SubquerySharing.scala:110-343;
# the reference rewrites indexes over flatMap-nested tuple scopes up to 3
# levels deep, SubquerySharingTests.scala:186-253). Relational form: a
# 3-table left-deep chain customer⋈orders⋈lineitem registered as ONE MV;
# a filtered re-statement of the same chain — side filters on all three
# tables plus a between-joins filter — substitutes to a single MV scan with
# every filter rebuilt as a residual. RAISES unless zero Joins survive.
def indexed_chain_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    storage = cached_scratch_dir("squopt_cidx_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_join_index(
        "cust_orders_items",
        lift(customer, table="customer")
        .join(lift(orders, table="orders"),
              lambda c: c.c_custkey, lambda o: o.o_custkey)
        .join(lift(lineitem, table="lineitem"),
              lambda co: co.o_orderkey, lambda li: li.l_orderkey),
    )
    q = (
        lift(customer, table="customer")
        .filter(lambda c: c.c_mktsegment == "BUILDING")
        .join(
            lift(orders, table="orders").filter(lambda o: o.o_totalprice > 20000.0),
            lambda c: c.c_custkey,
            lambda o: o.o_custkey,
        )
        .filter(lambda co: co.o_orderpriority == "2-HIGH")  # between joins
        .join(
            lift(lineitem, table="lineitem").filter(lambda li: li.l_quantity >= 25.0),
            lambda co: co.o_orderkey,
            lambda li: li.l_orderkey,
        )
        .filter(lambda r: r.l_returnflag == "R")  # post-join
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("cust_orders_items" in f for f in files):
        raise RuntimeError("chain-MV rewrite did not fire — still joining base tables")
    if "Join" in opt.df._jdf.queryExecution().executedPlan().toString():
        raise RuntimeError("chain-MV rewrite left a Join in the physical plan")
    return opt.df.select(
        "c_custkey",
        "o_orderkey",
        "l_linenumber",
        F.round("l_quantity", 2).alias("quantity"),
    )


INDEXED_CHAIN_SQL = """
SELECT c_custkey, o_orderkey, l_linenumber, round(l_quantity, 2) AS quantity
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_totalprice > 20000.0
  AND o_orderpriority = '2-HIGH'
  AND l_quantity >= 25.0
  AND l_returnflag = 'R'
"""


# --- shuffle-free co-bucketed MV join --------------------------------------
# Two MVs written bucketBy(8, key).sortBy(key) as managed tables: Spark's
# bucketed-scan output partitioning satisfies the join's distribution
# requirement on BOTH sides, so the SortMergeJoin plans with ZERO Exchange
# — the layout write_bucketed_table promises (and what IndexRepository
# upgrades to on a managed cluster). The query RAISES if any Exchange
# appears under forced-SMJ planning; the oracle is the plain join.
_BUCKETED_MV_NAMES: dict[str, tuple[str, str]] = {}


def bucketed_mv_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from linqonsteroids_spark.sources import write_bucketed_table

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    order_totals = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )
    # unique per process: the warehouse dir outlives the in-memory
    # metastore, so a name reused from an earlier PROCESS collides on
    # location (LOCATION_ALREADY_EXISTS) even under mode=overwrite. Within
    # a process the tables are the MV — build once, probe thereafter.
    if sf_dir not in _BUCKETED_MV_NAMES:
        n = uuid.uuid4().hex[:10]
        cust_t, ord_t = f"bmv_customer_{n}", f"bmv_orders_{n}"
        write_bucketed_table(customer, cust_t, ["c_custkey"], n_buckets=8)
        write_bucketed_table(order_totals, ord_t, ["o_custkey"], n_buckets=8)
        _BUCKETED_MV_NAMES[sf_dir] = (cust_t, ord_t)
    cust_t, ord_t = _BUCKETED_MV_NAMES[sf_dir]
    a, b = spark.table(cust_t), spark.table(ord_t)
    joined = a.join(b, a["c_custkey"] == b["o_custkey"]).select(
        "c_custkey", "c_name", "n_orders", "total_price"
    )
    # prove co-location under sort-merge planning (broadcast would hide a
    # missing bucket alignment), then restore the session threshold
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        if "Exchange hashpartitioning" in plan:
            raise RuntimeError("bucketed MV join still shuffles — bucket layout lost")
        if "SortMergeJoin" not in plan:
            raise RuntimeError("expected a sort-merge join over co-bucketed scans")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return joined


BUCKETED_MV_SQL = """
SELECT c_custkey, c_name, n_orders, total_price
FROM customer JOIN (
  SELECT o_custkey, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
  FROM orders GROUP BY o_custkey
) o ON c_custkey = o_custkey
"""


# --- pandas UDAF (fmap contract + foldLeft, SURVEY §2.11) -----------------
# An arbitrary fold the built-in aggregates don't provide as one function:
# quantity-weighted mean price. Registered under a stable name (fmap
# identity contract, Call.scala:18-35); Arrow-vectorized grouped-agg — one
# shuffle on the group key, pandas sees each group as Series batches.
if not registered("wavg_price"):

    @register("wavg_price", returns="double")
    def _wavg_price(v: pd.Series, w: pd.Series) -> float:
        return float((v * w).sum() / w.sum())


# Spark disallows mixing grouped-agg pandas UDFs with built-in aggregates
# in one agg() — the row count rides along as a second pandas UDAF.
if not registered("n_rows"):

    @register("n_rows", returns="long")
    def _n_rows(v: pd.Series) -> int:
        return len(v)


def udaf_weighted_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        fmap("wavg_price")(F.col("l_extendedprice"), F.col("l_quantity")).alias("_w"),
        fmap("n_rows")(F.col("l_orderkey")).alias("n_rows"),
    )
    return out.select(
        "l_returnflag", F.round("_w", 4).alias("wavg_price"), "n_rows"
    )


UDAF_WAVG_SQL = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS wavg_price,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


# --- multimodal decode via mapInPandas (north-star spec) ------------------
# Payload = sha2(doc_id) hex cast to binary (64 ASCII bytes); the decode
# stub's "pixel stats" are bytes of sha256(payload) — so the whole Arrow-
# batched Python stage is reproducible in SQL via nested sha256. Only
# image-format rows (doc_id % 3 in 0,1) reach Python: the format filter
# pushes down before the decode stage.
_HEX = "0123456789abcdef"


def _hex_byte_sql(h: str, pos: int) -> str:
    """SQL for byte value at 1-based hex position ``pos`` of expression h."""
    return (
        f"((instr('{_HEX}', substr({h}, {pos}, 1)) - 1) * 16"
        f" + instr('{_HEX}', substr({h}, {pos + 1}, 1)) - 1)"
    )


def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs)
    stats = decode_image_stats(media, decoder="stub")  # payloads are hashes
    return stats.select(
        "doc_id",
        "format",
        "content_hash",
        F.round("mean_luma", 6).alias("mean_luma"),
        F.round("edge_density", 6).alias("edge_density"),
    )


MULTIMODAL_STATS_SQL = f"""
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       substr(h, 1, 16) AS content_hash,
       round({_hex_byte_sql('h', 1)} / 255.0, 6) AS mean_luma,
       round({_hex_byte_sql('h', 3)} / 255.0, 6) AS edge_density
FROM (
  SELECT doc_id, sha256(sha256(CAST(doc_id AS VARCHAR))) AS h
  FROM documents WHERE doc_id % 3 IN (0, 1)
)
"""


# --- multimodal resize (the remaining verb of decode/feature/resize/sample) --
# Thumbnail/normalization pass: stub tier here (sha-derived, oracle
# replays sha256(payload || '#WxH')); the REAL tier — pure-stdlib PNG
# decode + the shared integer nearest-neighbor kernel, exact pixels —
# is pinned in tests/test_multimodal.py on a crafted gradient PNG.
_RESIZE_W = 16
_RESIZE_H = 16


def multimodal_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.multimodal.media import (
        attach_fake_media,
        resize_images,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs)
    return resize_images(
        media, _RESIZE_W, _RESIZE_H, decoder="stub"
    )  # payloads are hashes


MULTIMODAL_RESIZE_SQL = f"""
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'png' ELSE 'jpeg' END AS format,
       {_RESIZE_W} AS out_w,
       {_RESIZE_H} AS out_h,
       {_hex_byte_sql('h', 1)} AS mean_luma,
       substr(h, 1, 16) AS resized_hash
FROM (
  SELECT doc_id,
         sha256(sha256(CAST(doc_id AS VARCHAR))
                || '#{_RESIZE_W}x{_RESIZE_H}') AS h
  FROM documents WHERE doc_id % 3 IN (0, 1)
)
"""


# --- multimodal frame sampling (explode JVM-side, features in pandas) -----
# Videos (doc_id % 3 = 2) carry n_frames = doc_id % 120 + 1; sampling every
# 30th frame yields (n_frames - 1) // 30 + 1 rows — the closed form the
# oracle checks. The explode happens JVM-side; only sampled frames reach
# the pandas feature stage.
def multimodal_frame_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs)
    frames = sample_video_frames(media, every_n=30)
    return frames.groupBy("doc_id").agg(F.count("*").alias("n_sampled"))


FRAME_COUNTS_SQL = """
SELECT doc_id, CAST((doc_id % 120) // 30 + 1 AS BIGINT) AS n_sampled
FROM documents WHERE doc_id % 3 = 2
"""


# --- video keyframe selection (frame-level near-dup filtering) ---------------
# Consecutive video frames are overwhelmingly redundant; a training
# pipeline keeps frame 0 + scene changes (|Δ mean luma| > threshold).
# The stub tier's per-frame luma is hex byte 1 of
# sha256(payload || ':' || idx) — payload is ASCII, so DuckDB's string
# sha256 replays it exactly; the REAL tier (Y4M luma-plane integer mean)
# is exercised in tests/test_multimodal.py on a crafted
# flat-flat-bright-flat sequence. The selection itself is one window
# over (doc, frame_idx) — identical machinery both tiers.
_KEYFRAME_THRESHOLD = 64


def multimodal_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.multimodal.media import (
        frame_lumas,
        select_keyframes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_media(docs)
    keys = select_keyframes(
        frame_lumas(media, extractor="stub"), threshold=_KEYFRAME_THRESHOLD
    )
    return keys.groupBy("doc_id").agg(
        F.count("*").alias("n_keyframes"),
        F.sum("frame_idx").cast("long").alias("idx_sum"),
        F.max("luma").alias("max_luma"),
    )


KEYFRAMES_SQL = f"""
WITH vids AS (
  SELECT doc_id, sha256(CAST(doc_id AS VARCHAR)) AS payload,
         doc_id % 120 + 1 AS n_frames
  FROM documents WHERE doc_id % 3 = 2
), frames AS (
  SELECT doc_id, CAST(unnest(range(n_frames)) AS INT) AS frame_idx, payload
  FROM vids
), lumas AS (
  SELECT doc_id, frame_idx,
         {_hex_byte_sql("sha256(payload || ':' || CAST(frame_idx AS VARCHAR))", 1)}
           AS luma
  FROM frames
), marked AS (
  SELECT doc_id, frame_idx, luma,
         abs(luma - lag(luma) OVER (PARTITION BY doc_id ORDER BY frame_idx))
           AS delta
  FROM lumas
)
SELECT doc_id, count(*) AS n_keyframes,
       CAST(sum(frame_idx) AS BIGINT) AS idx_sum,
       CAST(max(luma) AS INT) AS max_luma
FROM marked
WHERE delta IS NULL OR delta > {_KEYFRAME_THRESHOLD}
GROUP BY doc_id
"""


# --- multimodal audio (completes the image/audio/video triad) ----------------
# Same contract as the image gate: synthetic sha2-derived payloads run the
# STUB tier (all-integer duration/peak/energy from the content hash —
# SQL-replayable via nested sha256 + hex-byte extraction); the REAL tier
# (pure-stdlib RIFF/WAVE PCM16 parse, exact integer stats) is exercised in
# tests/test_multimodal.py with an in-memory WAV fixture.
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.multimodal.media import (
        attach_fake_audio,
        decode_audio_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    media = attach_fake_audio(docs)
    return decode_audio_stats(media, decoder="stub")  # payloads are hashes


AUDIO_STATS_SQL = f"""
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp3' END AS format,
       {_hex_byte_sql('h', 1)} * 256 + {_hex_byte_sql('h', 3)} AS duration_ms,
       {_hex_byte_sql('h', 5)} * 256 + {_hex_byte_sql('h', 7)} AS peak_amp,
       {_hex_byte_sql('h', 9)} * 256 + {_hex_byte_sql('h', 11)} AS energy,
       substr(h, 1, 16) AS content_hash
FROM (
  SELECT doc_id, sha256(sha256('aud:' || CAST(doc_id AS VARCHAR))) AS h
  FROM documents
)
"""


# --- audio VAD segmentation (completes the audio feature pass) ---------------
# The ASR-data-prep segmenter: per-frame energies (stub tier here —
# sha2-derived, SQL-replayable; the REAL PCM16 tier is pinned in
# tests/test_multimodal.py on a crafted silence/loud/silence WAV) →
# gaps-and-islands segmentation (maximal runs of frames above the
# energy threshold). All integers; ONE shuffle for the windows plus the
# grouped aggregate.
_VAD_THRESHOLD = 32768  # half the 0..65535 stub-energy range


def audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.multimodal.media import (
        attach_fake_audio,
        frame_energies,
        vad_segments,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") % 3 == 1
    )
    media = attach_fake_audio(docs)
    energies = frame_energies(
        media, n_frames=F.col("doc_id") % 40 + 10, extractor="stub"
    )
    return vad_segments(energies, threshold=_VAD_THRESHOLD)


AUDIO_VAD_SQL = f"""
WITH aud AS (
  SELECT doc_id, sha256('aud:' || CAST(doc_id AS VARCHAR)) AS payload,
         CAST(doc_id % 40 + 10 AS INT) AS n_frames
  FROM documents WHERE doc_id % 3 = 1
), frames AS (
  SELECT doc_id, CAST(unnest(range(n_frames)) AS INT) AS frame_idx, payload
  FROM aud
), energies AS (
  SELECT doc_id, frame_idx,
         {_hex_byte_sql("sha256(payload || '@' || CAST(frame_idx AS VARCHAR))", 1)}
           * 256 +
         {_hex_byte_sql("sha256(payload || '@' || CAST(frame_idx AS VARCHAR))", 3)}
           AS energy
  FROM frames
), flagged AS (
  SELECT doc_id, frame_idx, energy,
         CASE WHEN energy >= {_VAD_THRESHOLD} THEN 1 ELSE 0 END AS active,
         coalesce(lag(CASE WHEN energy >= {_VAD_THRESHOLD} THEN 1 ELSE 0 END)
                  OVER (PARTITION BY doc_id ORDER BY frame_idx), 0)
           AS prev_active
  FROM energies
), marked AS (
  SELECT doc_id, frame_idx, energy, active,
         sum(CASE WHEN active = 1 AND prev_active = 0 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY frame_idx
                 ROWS UNBOUNDED PRECEDING) AS seg_id
  FROM flagged
)
SELECT doc_id, CAST(seg_id AS BIGINT) AS seg_id,
       min(frame_idx) AS start_frame,
       max(frame_idx) AS end_frame,
       count(*) AS n_frames,
       CAST(sum(energy) AS BIGINT) AS sum_energy
FROM marked WHERE active = 1
GROUP BY doc_id, seg_id
"""


# --- aggregate-MV rollup artifact (the rollup-substitution substrate) ------
# add_agg_index materializes the single-key rollup (cnt_star / sum_ /
# min_ / max_ naming — the contract IndexRepository.optimize's Aggregate
# substitution matches). This gate drives the artifact through the
# repository: RAISES unless the lookup scans the rollup files, then
# checks the pre-aggregated contents against the oracle RECOMPUTING the
# aggregation from the base table — MV semantics, not scan plumbing.
def agg_mv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    storage = cached_scratch_dir("squopt_aggmv_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_agg_index(
        "orders_rollup",
        lift(orders, table="orders").index_by(lambda o: o.o_orderpriority),
        sums=["o_orderkey"],
        mins=["o_totalprice"],
        maxs=["o_totalprice"],
    )
    mv = repo.lookup_agg("orders", "o_orderpriority")
    files = mv.inputFiles()
    if not files or not all("orders_rollup" in f for f in files):
        raise RuntimeError("agg MV lookup is not scanning the rollup artifact")
    return mv.select(
        "o_orderpriority",
        F.col("cnt_star").alias("n_orders"),
        F.col("sum_o_orderkey").alias("key_sum"),
        F.round("min_o_totalprice", 2).alias("min_price"),
        F.round("max_o_totalprice", 2).alias("max_price"),
    )


AGG_MV_ROLLUP_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_orderpriority
"""


# The QUERY-path twin: the tracked agg_summary shape runs through
# repository.optimize(), which substitutes the registered rollup MV by
# SUBSET matching (the MV here is built wider than the query asks).
# RAISES unless the optimized plan scans the rollup files; the oracle
# recomputes the aggregation from the base table — the reference's
# indexingTest discipline applied to grouping MVs
# (Optimization.scala's shareSubqueries family).
def agg_mv_optimized_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    storage = cached_scratch_dir("squopt_aggopt_", sf_dir)
    repo = IndexRepository(spark, storage, n_buckets=8)
    repo.add_agg_index(
        "orders_rollup_wide",
        lift(orders, table="orders").index_by(lambda o: o.o_orderpriority),
        sums=["o_orderkey"],
        mins=["o_totalprice"],
        maxs=["o_totalprice"],
    )
    q = (
        lift(orders, table="orders")
        .index_by(lambda o: o.o_orderpriority)
        .agg_summary(sums=["o_orderkey"], maxs=["o_totalprice"])
    )
    opt = repo.optimize(q)
    files = opt.df.inputFiles()
    if not files or not all("orders_rollup_wide" in f for f in files):
        raise RuntimeError("agg-MV substitution did not fire in optimize()")
    return opt.df.select(
        "o_orderpriority",
        F.col("cnt_star").alias("n_orders"),
        F.col("sum_o_orderkey").alias("key_sum"),
        F.round("max_o_totalprice", 2).alias("max_price"),
    )


AGG_MV_OPTIMIZED_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_orderpriority
"""


# --- custom Python Data Source (Spark 4 connector surface) ----------------
# The registered linq_synth source (sources/pydatasource.py) read as a
# first-class leaf: 32 declared partitions, the id-range predicate
# absorbed by pushFilters BEFORE row generation (the post-scan Filter
# keeps only isnotnull — pinned in tests/test_pydatasource.py), and a
# grouped rollup on top. The oracle regenerates the same deterministic
# rows from DuckDB's range(); every column is exact integer/string
# arithmetic, so the gate is bit-stable by construction.
def pyds_ledger_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.sources.pydatasource import (
        register as register_pyds,
    )

    from linqonsteroids_spark.session import conf_guard

    register_pyds(spark)
    # filterPushdown is consumed when the V2 scan EXECUTES (a reader
    # with pushFilters refuses to initialize when it's off) — and any
    # consumer that derives a new Dataset from the returned frame (an
    # orderBy, a createDataFrame round-trip) would re-plan OUTSIDE the
    # guard and fail. So the gate materializes inside the guard and
    # returns a local frame: the conf dependency ends here instead of
    # leaking into the caller's contract (bounded: one row per
    # (bucket, tag) pair).
    with conf_guard(
        spark, "spark.sql.python.filterPushdown.enabled", "true"
    ):
        src = (
            spark.read.format("linq_synth")
            .option("n", 60000)
            .option("parts", 32)
            .load()
        )
        out = (
            src.filter((F.col("i") >= 10000) & (F.col("i") < 40000))
            .groupBy("bucket", "tag")
            .agg(
                F.sum("amount").alias("total_amount"),
                F.count("*").alias("n"),
                F.min("i").alias("min_i"),
                F.max("i").alias("max_i"),
            )
        )
        rows = out.collect()
    return spark.createDataFrame(rows, out.schema)


# Streaming twin: the SAME registered source read as a micro-batch
# stream (partition-planned DataSourceStreamReader — offsets advance by
# `batch` ids per trigger, each micro-batch split into `parts` executor
# ranges; replayable offsets = the exactly-once-source contract). The
# stream drains via processAllAvailable (5 genuine micro-batches — the
# custom source has no availableNow admission control, unlike file
# sources), lands as parquet, and the gate aggregates the landed table.
# Oracle: the same deterministic rows from range().
def pyds_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from linqonsteroids_spark.sources.pydatasource import (
        register as register_pyds,
    )

    register_pyds(spark)
    base = tempfile.mkdtemp(prefix="pyds_stream_")
    out, chk = os.path.join(base, "out"), os.path.join(base, "chk")
    try:
        stream = (
            spark.readStream.format("linq_synth")
            .option("n", 30000)
            .option("batch", 6000)
            .option("parts", 8)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        res = (
            spark.read.schema(stream.schema)
            .parquet(out)
            .groupBy("tag")
            .agg(
                F.sum("amount").alias("total_amount"),
                F.count("*").alias("n"),
                F.min("i").alias("min_i"),
                F.max("i").alias("max_i"),
            )
        )
        rows = res.collect()  # materialize before the staging dir dies
        return spark.createDataFrame(rows, res.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# Write side of the connector: the manifest-committed JSONL sink. The
# job writes one uniquely-named file per task and publishes the
# manifest atomically in commit(); the read-back resolves the MANIFEST,
# not the directory listing, so dead-attempt orphans are invisible
# (exactly-once pinned in tests/test_pydatasource.py). Roundtrip gated:
# source -> custom write -> manifest read -> rollup vs the range()
# oracle.
def pyds_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from linqonsteroids_spark.sources.pydatasource import (
        SYNTH_SCHEMA,
        read_jsonl_manifest,
    )
    from linqonsteroids_spark.sources.pydatasource import (
        register as register_pyds,
    )

    from linqonsteroids_spark.session import conf_guard

    register_pyds(spark)
    base = tempfile.mkdtemp(prefix="pyds_write_")
    sink = os.path.join(base, "sink")
    # the batch reader implements pushFilters(), which Spark refuses to
    # even INITIALIZE while the conf is off — and all the eager work
    # (save + collect) happens inside this gate, so the guard covers it
    with conf_guard(
        spark, "spark.sql.python.filterPushdown.enabled", "true"
    ):
        try:
            src = (
                spark.read.format("linq_synth")
                .option("n", 20000)
                .option("parts", 16)
                .load()
            )
            src.write.format("linq_synth").option("path", sink).mode(
                "append"
            ).save()
            res = (
                read_jsonl_manifest(spark, sink, SYNTH_SCHEMA)
                .groupBy("bucket")
                .agg(
                    F.sum("amount").alias("total_amount"),
                    F.count("*").alias("n"),
                    F.min("i").alias("min_i"),
                    F.max("i").alias("max_i"),
                )
            )
            rows = res.collect()  # materialize before staging dir dies
            return spark.createDataFrame(rows, res.schema)
        finally:
            shutil.rmtree(base, ignore_errors=True)


# Streaming write side of the connector (DataSourceStreamWriter): the
# custom stream source drains INTO the custom stream sink — one
# manifest per micro-batch, published atomically by the driver commit,
# keyed by batchId so a replayed batch overwrites only its own listing
# (exactly-once pinned in tests/test_pydatasource.py, including the
# orphan-file and batch-replay shapes). Read-back resolves the batch
# manifests, never the directory; the oracle regenerates the rows from
# DuckDB range() — the full stream-in/stream-out connector matrix in
# one gate.
def pyds_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from linqonsteroids_spark.sources.pydatasource import (
        SYNTH_SCHEMA,
        read_jsonl_stream_manifests,
    )
    from linqonsteroids_spark.sources.pydatasource import (
        register as register_pyds,
    )

    register_pyds(spark)
    base = tempfile.mkdtemp(prefix="pyds_streamsink_")
    sink, chk = os.path.join(base, "sink"), os.path.join(base, "chk")
    try:
        stream = (
            spark.readStream.format("linq_synth")
            .option("n", 24000)
            .option("batch", 6000)
            .option("parts", 8)
            .load()
        )
        q = (
            stream.writeStream.format("linq_synth")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        res = (
            read_jsonl_stream_manifests(spark, sink, SYNTH_SCHEMA)
            .groupBy("bucket", "tag")
            .agg(
                F.sum("amount").alias("total_amount"),
                F.count("*").alias("n"),
                F.min("i").alias("min_i"),
                F.max("i").alias("max_i"),
            )
        )
        rows = res.collect()  # materialize before the staging dir dies
        return spark.createDataFrame(rows, res.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


PYDS_STREAM_SINK_SQL = """
WITH src AS (
  SELECT i, CAST(i % 16 AS INT) AS bucket,
         (i * 2654435761) % 100000 AS amount,
         'tag_' || CAST(i % 7 AS VARCHAR) AS tag
  FROM range(24000) t(i)
)
SELECT bucket, tag,
       CAST(sum(amount) AS BIGINT) AS total_amount,
       count(*) AS n,
       CAST(min(i) AS BIGINT) AS min_i,
       CAST(max(i) AS BIGINT) AS max_i
FROM src
GROUP BY bucket, tag
"""


PYDS_WRITE_SQL = """
WITH src AS (
  SELECT i, CAST(i % 16 AS INT) AS bucket,
         (i * 2654435761) % 100000 AS amount
  FROM range(20000) t(i)
)
SELECT bucket,
       CAST(sum(amount) AS BIGINT) AS total_amount,
       count(*) AS n,
       CAST(min(i) AS BIGINT) AS min_i,
       CAST(max(i) AS BIGINT) AS max_i
FROM src
GROUP BY bucket
"""


PYDS_STREAM_SQL = """
WITH src AS (
  SELECT i, (i * 2654435761) % 100000 AS amount,
         'tag_' || CAST(i % 7 AS VARCHAR) AS tag
  FROM range(30000) t(i)
)
SELECT tag,
       CAST(sum(amount) AS BIGINT) AS total_amount,
       count(*) AS n,
       CAST(min(i) AS BIGINT) AS min_i,
       CAST(max(i) AS BIGINT) AS max_i
FROM src
GROUP BY tag
"""


PYDS_ROLLUP_SQL = """
WITH src AS (
  SELECT i, CAST(i % 16 AS INT) AS bucket,
         (i * 2654435761) % 100000 AS amount,
         'tag_' || CAST(i % 7 AS VARCHAR) AS tag
  FROM range(60000) t(i)
)
SELECT bucket, tag,
       CAST(sum(amount) AS BIGINT) AS total_amount,
       count(*) AS n,
       CAST(min(i) AS BIGINT) AS min_i,
       CAST(max(i) AS BIGINT) AS max_i
FROM src
WHERE i >= 10000 AND i < 40000
GROUP BY bucket, tag
"""


# --- plan-fingerprint result cache: memoize-any-query with snapshot keys ----
# (r12) The UNDECLARED complement of the IndexRepository's registered
# MVs, and the closest analogue of the reference's SubquerySharing
# premise (reuse a prior query's result until the base mutates):
# plans/result_cache.py keys a materialized result by sha256(
# canonicalized plan + base-file snapshot), so a semantically-identical
# rebuilt query HITS while any base append MISSES by construction —
# no TTL, no invalidation API, staleness is impossible. The gate
# replays the full story every invocation and RAISES on the wrong
# outcome at each step: fresh base -> miss; identical rebuilt query ->
# hit that must read ONLY cache files (the base plan never executes);
# append the held-back third -> miss (fingerprint rotated) with the
# grown-base result. Oracle: the final aggregate over full orders.
def result_cache_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.plans.result_cache import ResultCache

    base = _split_base(spark, sf_dir, "squopt_rescache_")
    store = os.path.join(
        cached_scratch_dir("squopt_rescache_store_", sf_dir), "cache"
    )
    cache = ResultCache(spark, store)
    cache.sweep(0)  # previous invocations' entries are unreachable garbage

    def q():
        return (
            _read_split(spark, sf_dir, base)
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").cast("bigint").alias("n_orders"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
                .cast("bigint")
                .alias("price_cents"),
            )
        )

    _, hit1 = cache.get_or_materialize(q())
    if hit1:
        raise RuntimeError("fresh base: first probe must miss")
    served, hit2 = cache.get_or_materialize(q())
    if not hit2:
        raise RuntimeError("identical rebuilt query must hit the cache")
    wrong = [f for f in served.inputFiles() if store not in f]
    if not served.inputFiles() or wrong:
        raise RuntimeError(f"cache hit read non-cache files: {wrong}")
    _append_rest(spark, sf_dir, base)
    grown, hit3 = cache.get_or_materialize(q())
    if hit3:
        raise RuntimeError("base append must rotate the fingerprint (miss)")
    return grown


RESULT_CACHE_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents
FROM orders GROUP BY o_orderstatus
"""


QUERIES = {
    "indexed_segment_lookup": (indexed_segment_lookup, INDEXED_LOOKUP_SQL),
    "result_cache_revenue": (result_cache_revenue, RESULT_CACHE_SQL),
    "pyds_ledger_rollup": (pyds_ledger_rollup, PYDS_ROLLUP_SQL),
    "pyds_stream_ingest": (pyds_stream_ingest, PYDS_STREAM_SQL),
    "pyds_write_roundtrip": (pyds_write_roundtrip, PYDS_WRITE_SQL),
    "pyds_stream_sink": (pyds_stream_sink, PYDS_STREAM_SINK_SQL),
    "agg_mv_rollup": (agg_mv_rollup, AGG_MV_ROLLUP_SQL),
    "agg_mv_optimized_rollup": (agg_mv_optimized_rollup, AGG_MV_OPTIMIZED_SQL),
    "advised_segment_lookup": (advised_segment_lookup, ADVISED_LOOKUP_SQL),
    "workload_replay_lookup": (workload_replay_lookup, WORKLOAD_REPLAY_SQL),
    "advised_agg_rollup": (advised_agg_rollup, ADVISED_AGG_SQL),
    "typeindex_event_lookup": (typeindex_event_lookup, TYPEINDEX_LOOKUP_SQL),
    "udf_event_features": (udf_event_features, UDF_FEATURES_SQL),
    "indexed_computed_key_lookup": (indexed_computed_key_lookup, INDEXED_COMPUTED_SQL),
    "indexed_range_lookup": (indexed_range_lookup, INDEXED_RANGE_SQL),
    "advised_range_lookup": (advised_range_lookup, ADVISED_RANGE_SQL),
    "indexed_in_lookup": (indexed_in_lookup, INDEXED_IN_SQL),
    "mv_stale_fallback": (mv_stale_fallback, MV_STALE_FALLBACK_SQL),
    "advised_refresh_rollup": (advised_refresh_rollup, ADVISED_REFRESH_SQL),
    "indexed_join_lookup": (indexed_join_lookup, INDEXED_JOIN_SQL),
    "indexed_chain_lookup": (indexed_chain_lookup, INDEXED_CHAIN_SQL),
    "bucketed_mv_join": (bucketed_mv_join, BUCKETED_MV_SQL),
    "udaf_weighted_price": (udaf_weighted_price, UDAF_WAVG_SQL),
    "multimodal_image_stats": (multimodal_image_stats, MULTIMODAL_STATS_SQL),
    "multimodal_frame_counts": (multimodal_frame_counts, FRAME_COUNTS_SQL),
    "multimodal_keyframes": (multimodal_keyframes, KEYFRAMES_SQL),
    "multimodal_audio_stats": (multimodal_audio_stats, AUDIO_STATS_SQL),
    "audio_vad_segments": (audio_vad_segments, AUDIO_VAD_SQL),
    "multimodal_resize_stats": (multimodal_resize_stats, MULTIMODAL_RESIZE_SQL),
}
