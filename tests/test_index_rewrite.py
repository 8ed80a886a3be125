"""Index/MV repository tests — the SubquerySharing capability.

Mirrors the reference's index tests (``SubquerySharingTests.scala:43-62``
``indexingTest`` harness): assert BOTH that the optimized query actually
uses the index (here: scans the MV files, filter pushed to parquet) AND
that optimized results equal unoptimized results.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from linqonsteroids_spark.api import lift
from linqonsteroids_spark.catalog import load_table
from linqonsteroids_spark.plans import IndexRepository
from linqonsteroids_spark.session import conf_guard
from tests.conftest import SF_SMOKE, part_files


@pytest.fixture(scope="module")
def repo(spark, tmp_path_factory):
    storage = str(tmp_path_factory.mktemp("indexes"))
    r = IndexRepository(spark, storage, n_buckets=4)
    customer = load_table(spark, SF_SMOKE, "customer")
    r.add_index(
        "customer_by_segment",
        lift(customer, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    return r


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rewrite_uses_index_and_matches(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    q = lift(customer, table="customer").filter(
        lambda c: (c.c_mktsegment == "BUILDING") & (c.c_acctbal > 0)
    )
    opt = repo.optimize(q)
    # 1. the rewrite happened: scan reads MV storage, not the base table
    files = opt.df.inputFiles()
    assert files and all("customer_by_segment" in f for f in files)
    # 2. the key filter reaches the parquet scan
    plan = opt.df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "c_mktsegment" in plan
    # 3. results identical to the unoptimized query (semantic equivalence,
    #    the reference's core test discipline)
    assert _sorted_rows(opt.df) == _sorted_rows(q.df)


def test_rewrite_commuted_equality(spark, repo):
    # k == col form (normalizer: commutative Eq, OptimizationTransforms:123-127)
    customer = load_table(spark, SF_SMOKE, "customer")
    from linqonsteroids_spark.api import lit

    q = lift(customer, table="customer").filter(
        lambda c: lit("MACHINERY") == c.c_mktsegment
    )
    opt = repo.optimize(q)
    assert opt.df.inputFiles() and "customer_by_segment" in opt.df.inputFiles()[0]
    assert _sorted_rows(opt.df) == _sorted_rows(q.df)


def test_no_rewrite_without_matching_index(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    q = lift(customer, table="customer").filter(lambda c: c.c_custkey == 5)
    opt = repo.optimize(q)  # no index on c_custkey → unchanged
    assert opt is q


def test_no_rewrite_on_opaque_residual(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    q = lift(customer, table="customer").filter(
        lambda c: (c.c_mktsegment == "BUILDING") & c.c_name.contains("1")
    )
    opt = repo.optimize(q)  # contains() is opaque structure → conservative bail
    assert opt is q


def test_direct_lookup(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    got = repo.lookup("customer_by_segment", "HOUSEHOLD")
    want = customer.filter(F.col("c_mktsegment") == "HOUSEHOLD")
    assert _sorted_rows(got) == _sorted_rows(want)


def test_refresh_rematerializes(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    smaller = customer.filter(F.col("c_acctbal") > 0)
    repo.refresh("customer_by_segment", smaller)
    got = repo.lookup("customer_by_segment", "BUILDING")
    want = smaller.filter(F.col("c_mktsegment") == "BUILDING")
    assert _sorted_rows(got) == _sorted_rows(want)
    repo.refresh("customer_by_segment", customer)  # restore for other tests


def test_add_index_rejects_filtered_source(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    with pytest.raises(ValueError):
        repo.add_index(
            "bad",
            lift(customer, table="customer")
            .filter(lambda c: c.c_acctbal > 0)
            .index_by(lambda c: c.c_mktsegment),
        )

# --- join-MV substitution (SubquerySharing.scala:110-343 relational form) --


@pytest.fixture(scope="module")
def join_repo(spark, tmp_path_factory):
    storage = str(tmp_path_factory.mktemp("join_indexes"))
    r = IndexRepository(spark, storage, n_buckets=4)
    customer = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    joined = lift(customer, table="customer").join(
        lift(orders, table="orders"),
        lambda c: c.c_custkey,
        lambda o: o.o_custkey,
    )
    r.add_join_index("cust_orders", joined)
    return r


def _cust_orders_query(spark):
    customer = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    return (
        lift(customer, table="customer")
        .filter(lambda c: c.c_mktsegment == "BUILDING")
        .join(
            lift(orders, table="orders").filter(lambda o: o.o_totalprice > 1000.0),
            lambda c: c.c_custkey,
            lambda o: o.o_custkey,
        )
        .filter(lambda r: r.o_orderpriority == "1-URGENT")
    )


def test_join_mv_rewrite_fires_and_matches(spark, join_repo):
    q = _cust_orders_query(spark)
    opt = join_repo.optimize(q)
    files = opt.df.inputFiles()
    # the join disappeared: one MV scan, no Join operator in the plan
    assert files and all("cust_orders" in f for f in files)
    plan = opt.df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # side-filters and post-join filter all survive as residuals
    assert _sorted_rows(opt.df) == _sorted_rows(q.df)


def test_join_mv_no_match_on_different_keys(spark, join_repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    nation = load_table(spark, SF_SMOKE, "nation")
    q = lift(customer, table="customer").join(
        lift(nation, table="nation"),
        lambda c: c.c_nationkey,
        lambda n: n.n_nationkey,
    )
    opt = join_repo.optimize(q)
    assert opt is q


def test_join_mv_bails_on_opaque_side_filter(spark, join_repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    q = lift(customer, table="customer").filter(
        lambda c: c.c_name.contains("1")
    ).join(
        lift(orders, table="orders"),
        lambda c: c.c_custkey,
        lambda o: o.o_custkey,
    )
    opt = join_repo.optimize(q)
    assert opt is q


def test_add_join_index_rejects_filtered_sides(spark, join_repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    joined = lift(customer, table="customer").filter(
        lambda c: c.c_acctbal > 0
    ).join(
        lift(orders, table="orders"),
        lambda c: c.c_custkey,
        lambda o: o.o_custkey,
    )
    with pytest.raises(ValueError):
        join_repo.add_join_index("bad_join", joined)


# --- partitioned type-index (TypeMapping, SubquerySharing.scala:345-448) ---


def test_partitioned_index_prunes_directories(spark, tmp_path_factory):
    storage = str(tmp_path_factory.mktemp("part_indexes"))
    r = IndexRepository(spark, storage)
    events = load_table(spark, SF_SMOKE, "events")
    r.add_partitioned_index(
        "events_by_type",
        lift(events, table="events").index_by(lambda e: e.event_type),
    )
    q = lift(events, table="events").filter(
        lambda e: (e.event_type == "click") & (e.value > 10.0)
    )
    opt = r.optimize(q)
    files = opt.df.inputFiles()
    assert files and all("events_by_type" in f for f in files)
    # directory pruning: the key equality lands in PartitionFilters (whole
    # partition directories skipped), not just row-group stats
    plan = opt.df._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "event_type" in pf and "click" in pf
    assert _sorted_rows(opt.df) == _sorted_rows(q.df)


def test_partitioned_index_writes_few_files_per_key_directory(
    spark, tmp_path
):
    # the build and the refresh REBALANCE on the key before partitionBy
    # (AQE coalesces the shuffle): each key directory gets O(1) part
    # files however many scan tasks or shuffle partitions there are —
    # without the hint every task writes one file into every directory
    src_path = str(tmp_path / "src")
    spark.range(0, 16_000).selectExpr(
        "id", "id % 4 AS k", "id * 2 AS v"
    ).repartition(16).write.parquet(src_path)
    src = spark.read.schema("id long, k long, v long").parquet(src_path)
    assert len(src.inputFiles()) >= 16

    storage = str(tmp_path / "idx")
    mv_dir = os.path.join(storage, "by_k")

    def files_per_key():
        return Counter(os.path.dirname(f) for f in part_files(mv_dir))

    with conf_guard(spark, "spark.sql.shuffle.partitions", "64"):
        r = IndexRepository(spark, storage)
        r.add_partitioned_index(
            "by_k", lift(src, table="t").index_by(lambda t: t.k)
        )
        built = files_per_key()
        r.refresh("by_k", src)
        refreshed = files_per_key()
    for counts in (built, refreshed):
        assert sorted(counts) == [f"k={i}" for i in range(4)]
        assert max(counts.values()) <= 2, counts


# --- unsound-rewrite regressions (semi/anti joins and let must block the
# MV substitution: PlanInfo cannot reproduce them, so a rewrite would
# silently return a superset / drop the computed column) ---------------------


def test_exists_in_blocks_rewrite(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    q = (
        lift(customer, table="customer")
        .filter(lambda c: c.c_mktsegment == "BUILDING")
        .exists_in(lift(orders), lambda c, o: c.c_custkey == o.o_custkey)
    )
    opt = repo.optimize(q)
    assert opt is q  # NOT rewritten: the semi-join is not in PlanInfo
    assert not q.plan.rewritable


def test_forall_not_in_blocks_rewrite(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    orders = load_table(spark, SF_SMOKE, "orders")
    q = (
        lift(customer, table="customer")
        .filter(lambda c: c.c_mktsegment == "BUILDING")
        .forall_not_in(lift(orders), lambda c, o: c.c_custkey == o.o_custkey)
    )
    assert repo.optimize(q) is q


def test_let_blocks_rewrite(spark, repo):
    customer = load_table(spark, SF_SMOKE, "customer")
    q = (
        lift(customer, table="customer")
        .filter(lambda c: c.c_mktsegment == "BUILDING")
        .let("bal2", lambda c: c.c_acctbal * 2)
    )
    opt = repo.optimize(q)
    assert opt is q
    assert "bal2" in opt.df.columns  # the computed column survives


# --- multi-level (3-table) chain-MV substitution ----------------------------


@pytest.fixture(scope="module")
def chain_repo(spark, tmp_path_factory):
    storage = str(tmp_path_factory.mktemp("chain_indexes"))
    r = IndexRepository(spark, storage, n_buckets=4)
    customer = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    lineitem = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    chain = (
        lift(customer, table="customer")
        .join(lift(orders, table="orders"),
              lambda c: c.c_custkey, lambda o: o.o_custkey)
        .join(lift(lineitem, table="lineitem"),
              lambda co: co.o_orderkey, lambda li: li.l_orderkey)
    )
    assert chain.plan.join is not None
    assert chain.plan.join.tables == ("customer", "orders", "lineitem")
    r.add_join_index("coi", chain)
    return r


def _chain_query(spark):
    customer = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    lineitem = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return (
        lift(customer, table="customer")
        .filter(lambda c: c.c_mktsegment == "BUILDING")
        .join(lift(orders, table="orders"),
              lambda c: c.c_custkey, lambda o: o.o_custkey)
        .filter(lambda co: co.o_orderpriority == "2-HIGH")
        .join(lift(lineitem, table="lineitem").filter(lambda li: li.l_quantity >= 25.0),
              lambda co: co.o_orderkey, lambda li: li.l_orderkey)
    )


def test_chain_mv_rewrite_fires_and_matches(spark, chain_repo):
    q = _chain_query(spark)
    opt = chain_repo.optimize(q)
    files = opt.df.inputFiles()
    assert files and all("coi" in f for f in files)
    plan = opt.df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # both joins disappeared
    assert _sorted_rows(opt.df) == _sorted_rows(q.df)


def test_chain_mv_prefix_does_not_match(spark, chain_repo):
    # the 2-table prefix has a different signature than the 3-table MV
    customer = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    q = lift(customer, table="customer").join(
        lift(orders, table="orders"), lambda c: c.c_custkey, lambda o: o.o_custkey
    )
    assert chain_repo.optimize(q) is q


def test_chain_mv_different_key_does_not_match(spark, chain_repo):
    # same 3 tables, different second join key → different signature
    customer = load_table(spark, SF_SMOKE, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = load_table(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    lineitem = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey"
    )
    q = (
        lift(customer, table="customer")
        .join(lift(orders, table="orders"),
              lambda c: c.c_custkey, lambda o: o.o_custkey)
        .join(lift(lineitem, table="lineitem"),
              lambda co: co.o_orderkey, lambda li: li.l_suppkey)
    )
    assert chain_repo.optimize(q) is q


# --- rewrite-strategy combinators (TransformationCombinators.scala:140-210)


def test_combinators_seq_first_of_exhaust(spark, repo):
    from linqonsteroids_spark.plans import attempt, exhaust, first_of, seq

    customer = load_table(spark, SF_SMOKE, "customer")
    q = lift(customer, table="customer").filter(
        lambda c: (c.c_mktsegment == "BUILDING") & (c.c_acctbal > 0)
    )

    never = lambda _q: None  # noqa: E731
    index_rule = repo.optimize

    # first_of: the first applying rule wins
    out = first_of(never, index_rule)(q)
    assert out is not None and out is not q
    assert out.df.inputFiles() and "customer_by_segment" in out.df.inputFiles()[0]

    # seq: applies iff any constituent applied; threading preserved
    assert seq(never, never)(q) is None
    assert seq(never, index_rule)(q) is not None

    # exhaust: substitution output is non-rewritable → exactly one round,
    # then fixpoint; results still equal the unrewritten query
    out2 = exhaust(index_rule)(q)
    assert out2 is not None and not out2.plan.rewritable
    assert _sorted_rows(out2.df) == _sorted_rows(q.df)

    # attempt: total — identity when nothing applies
    unmatched = lift(customer, table="customer").filter(lambda c: c.c_custkey == 5)
    assert attempt(index_rule)(unmatched) is unmatched


def test_combinators_exhaust_guards_nontermination(spark):
    from linqonsteroids_spark.api import lift as _lift
    from linqonsteroids_spark.plans import exhaust

    customer = load_table(spark, SF_SMOKE, "customer")
    q = _lift(customer, table="customer")

    def always(lifted):  # pathological: always "applies"
        return _lift(lifted.df, table="customer")

    with pytest.raises(RuntimeError, match="still matching"):
        exhaust(always, max_iterations=4)(q)


def test_combinators_chain_two_repositories(spark, repo, join_repo):
    # a pipeline of independent repositories: first_of picks whichever
    # matches the query shape — the reference's optimizer composes
    # shareSubqueries over multiple index maps the same way
    from linqonsteroids_spark.plans import attempt, first_of, index_substitution

    pipeline = attempt(
        first_of(index_substitution(repo), index_substitution(join_repo))
    )
    flat = lift(load_table(spark, SF_SMOKE, "customer"), table="customer").filter(
        lambda c: c.c_mktsegment == "MACHINERY"
    )
    joined = _cust_orders_query(spark)
    out_flat, out_join = pipeline(flat), pipeline(joined)
    assert "customer_by_segment" in out_flat.df.inputFiles()[0]
    assert all("cust_orders" in f for f in out_join.df.inputFiles())


# --- computed (let-bound) index keys — normalized f(x)==k matching ---------


def test_computed_key_index_rewrite(spark, tmp_path_factory):
    storage = str(tmp_path_factory.mktemp("let_indexes"))
    r = IndexRepository(spark, storage, n_buckets=4)
    customer = load_table(spark, SF_SMOKE, "customer")
    r.add_index(
        "customer_by_band",
        lift(customer, table="customer")
        .let("band", lambda c: c.c_custkey % 7)
        .index_by(lambda c: c.band),
    )
    q = (
        lift(customer, table="customer")
        .let("band", lambda c: c.c_custkey % 7)
        .filter(lambda c: (c.band == 3) & (c.c_acctbal > 0))
    )
    opt = r.optimize(q)
    files = opt.df.inputFiles()
    assert files and all("customer_by_band" in f for f in files)
    # the computed key column exists IN the MV, so the equality pushes down
    plan = opt.df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "band" in plan
    assert _sorted_rows(opt.df) == _sorted_rows(q.df)

    # a structurally DIFFERENT let must not match (band = custkey % 5)
    q2 = (
        lift(customer, table="customer")
        .let("band", lambda c: c.c_custkey % 5)
        .filter(lambda c: c.band == 3)
    )
    assert r.optimize(q2) is q2

    # opaque let (string fn) stays non-rewritable
    q3 = (
        lift(customer, table="customer")
        .let("u", lambda c: c.c_name.to_upper())
        .filter(lambda c: c.c_mktsegment == "BUILDING")
    )
    assert not q3.plan.rewritable
    assert r.optimize(q3) is q3


def test_let_without_index_keeps_column_through_optimize(spark, repo):
    # a tracked let over an indexed table: entry has no lets → mismatch →
    # conservative no-rewrite, computed column intact
    customer = load_table(spark, SF_SMOKE, "customer")
    q = (
        lift(customer, table="customer")
        .let("bal2", lambda c: c.c_acctbal * 2)
        .filter(lambda c: c.c_mktsegment == "BUILDING")
    )
    opt = repo.optimize(q)
    assert opt is q and "bal2" in opt.df.columns


# --- table-backed (metastore-grade) layout ----------------------------------
def test_table_backed_index_rewrite_and_colocated_probe(spark, tmp_path):
    # the saveAsTable layout: same rewrite + same results as the parquet
    # path, with the MV scanned through the session catalog so its
    # bucketing metadata survives (shuffle-free key joins at cluster scale)
    storage = str(tmp_path / "tbl_idx")
    r = IndexRepository(spark, storage, n_buckets=4, table_backed=True)
    customer = load_table(spark, SF_SMOKE, "customer")
    r.add_index(
        "cust_seg_tbl",
        lift(customer, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    try:
        q = lift(customer, table="customer").filter(
            lambda c: (c.c_mktsegment == "BUILDING") & (c.c_acctbal > 0)
        )
        opt = r.optimize(q)
        # rewrite happened, through the catalog table
        assert "idx_cust_seg_tbl" in opt.df._jdf.queryExecution().analyzed().toString()
        assert _sorted_rows(opt.df) == _sorted_rows(q.df)
        # point lookup parity with the base-table filter
        got = _sorted_rows(r.lookup("cust_seg_tbl", "MACHINERY"))
        want = _sorted_rows(customer.filter(F.col("c_mktsegment") == "MACHINERY"))
        assert got == want
        # bucketed layout is real: a join on the key against an
        # identically-bucketed side plans without exchanging the MV side
        mv = spark.table("idx_cust_seg_tbl")
        plan = (
            mv.groupBy("c_mktsegment").count()
            ._jdf.queryExecution().executedPlan().toString()
        )
        # bucket pre-partitioning on the key removes the agg Exchange
        assert "Exchange hashpartitioning(c_mktsegment" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS idx_cust_seg_tbl")


def test_catalog_persists_registrations_across_repo_instances(spark, tmp_path):
    # the _catalog.json written by add_index must rehydrate a FRESH
    # repository instance: lookup and rewrite work with zero re-adds and
    # zero rebuilds (file mtimes untouched)
    storage = str(tmp_path / "persist_idx")
    r1 = IndexRepository(spark, storage, n_buckets=4)
    customer = load_table(spark, SF_SMOKE, "customer")
    r1.add_index(
        "cust_seg_persist",
        lift(customer, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    mv_dir = os.path.join(storage, "cust_seg_persist")
    before = {
        f: os.path.getmtime(os.path.join(mv_dir, f))
        for f in os.listdir(mv_dir)
        if f.endswith(".parquet")
    }
    assert before

    r2 = IndexRepository(spark, storage, n_buckets=4)  # fresh instance
    got = _sorted_rows(r2.lookup("cust_seg_persist", "BUILDING"))
    want = _sorted_rows(customer.filter(F.col("c_mktsegment") == "BUILDING"))
    assert got == want
    q = lift(customer, table="customer").filter(
        lambda c: c.c_mktsegment == "BUILDING"
    )
    opt = r2.optimize(q)
    files = opt.df.inputFiles()
    assert files and all("cust_seg_persist" in f for f in files)
    # idempotent re-registration: fingerprint matches -> metadata-only reuse
    r2.add_index(
        "cust_seg_persist",
        lift(customer, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    after = {
        f: os.path.getmtime(os.path.join(mv_dir, f))
        for f in os.listdir(mv_dir)
        if f.endswith(".parquet")
    }
    assert after == before  # no rebuild


def test_stale_definition_rebuilds_not_reuses(spark, tmp_path):
    # same name, different definition (projected source) -> fingerprint
    # mismatch -> rebuild, never silently installing the old data
    storage = str(tmp_path / "stale_idx")
    customer = load_table(spark, SF_SMOKE, "customer")
    r = IndexRepository(spark, storage, n_buckets=4)
    r.add_index(
        "cust_idx_v",
        lift(customer, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    mv_dir = os.path.join(storage, "cust_idx_v")
    n_cols_v1 = len(spark.read.parquet(mv_dir).columns)

    slim = customer.select("c_custkey", "c_mktsegment")
    r.add_index(
        "cust_idx_v",
        lift(slim, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    assert len(spark.read.parquet(mv_dir).columns) == 2 != n_cols_v1


def test_materialization_replaces_part_files_and_reuse_keeps_them(
    spark, tmp_path
):
    # the addIndex contract, read off the MV directory: a build or a
    # refresh writes a new set of part files; a metadata-only
    # re-registration (same definition, same path) leaves it untouched
    customer = load_table(spark, SF_SMOKE, "customer")
    storage = str(tmp_path / "reuse_idx")
    mv_dir = os.path.join(storage, "cust_seg_dir")
    r = IndexRepository(spark, storage, n_buckets=4)
    r.add_partitioned_index(
        "cust_seg_dir",
        lift(customer, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    built = part_files(mv_dir)
    assert built

    r2 = IndexRepository(spark, storage, n_buckets=4)
    r2.add_partitioned_index(
        "cust_seg_dir",
        lift(customer, table="customer").index_by(lambda c: c.c_mktsegment),
    )
    assert part_files(mv_dir) == built

    r2.refresh("cust_seg_dir", customer)
    refreshed = part_files(mv_dir)
    assert refreshed and not refreshed & built


def test_agg_index_build_reuse_and_rebuild(spark, tmp_path):
    # the addIndex contract extended to rollups: identical definition →
    # metadata-only reuse (part files untouched); changed aggregate set →
    # fingerprint mismatch → rebuild with the new columns
    orders = load_table(spark, SF_SMOKE, "orders")
    r = IndexRepository(spark, str(tmp_path / "aggidx"), n_buckets=4)
    r.add_agg_index(
        "orders_rollup",
        lift(orders, table="orders").index_by(lambda o: o.o_orderpriority),
        sums=["o_orderkey"],
    )
    mv = r.lookup_agg("orders", "o_orderpriority")
    assert set(mv.columns) == {"o_orderpriority", "cnt_star", "sum_o_orderkey"}
    base = orders.groupBy("o_orderpriority").count().collect()
    want = {(row.o_orderpriority, row["count"]) for row in base}
    got = {(row.o_orderpriority, row.cnt_star) for row in mv.collect()}
    assert got == want

    # identical re-registration: reuse, not rebuild
    mv_dir = str(tmp_path / "aggidx" / "orders_rollup")
    built = part_files(mv_dir)
    assert built
    r2 = IndexRepository(spark, str(tmp_path / "aggidx"), n_buckets=4)
    r2.add_agg_index(
        "orders_rollup",
        lift(orders, table="orders").index_by(lambda o: o.o_orderpriority),
        sums=["o_orderkey"],
    )
    assert part_files(mv_dir) == built

    # changed definition at the same name/path: rebuild with new columns
    r2.add_agg_index(
        "orders_rollup",
        lift(orders, table="orders").index_by(lambda o: o.o_orderpriority),
        sums=["o_orderkey"],
        maxs=["o_totalprice"],
    )
    assert not part_files(mv_dir) & built
    assert "max_o_totalprice" in r2.lookup_agg("orders", "o_orderpriority").columns

    # filtered sources are rejected — the rollup must cover the base
    import pytest as _pytest

    with _pytest.raises(ValueError):
        r2.add_agg_index(
            "bad",
            lift(orders, table="orders")
            .filter(lambda o: o.o_orderpriority == "1-URGENT")
            .index_by(lambda o: o.o_orderpriority),
        )


def test_agg_summary_optimize_substitutes_by_subset(spark, tmp_path):
    # the tracked rollup shape: optimize() must swap in the registered
    # MV when it covers the requested columns (wider MV, narrower
    # query), and must leave the query untouched when no entry matches
    # or a requested column is missing from the MV
    orders = load_table(spark, SF_SMOKE, "orders")
    r = IndexRepository(spark, str(tmp_path / "aggopt"), n_buckets=4)
    r.add_agg_index(
        "orders_rollup",
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
    plain = _sorted_rows(q.df)
    opt = r.optimize(q)
    files = opt.df.inputFiles()
    assert files and all("orders_rollup" in f for f in files)
    assert _sorted_rows(opt.df) == plain
    assert opt.df.columns == q.df.columns  # drop-in projection

    # unregistered key: unchanged object, still computes correctly
    q2 = (
        lift(orders, table="orders")
        .index_by(lambda o: o.o_orderstatus)
        .agg_summary(sums=["o_orderkey"])
    )
    assert r.optimize(q2) is q2

    # column the MV lacks: unchanged
    q3 = (
        lift(orders, table="orders")
        .index_by(lambda o: o.o_orderpriority)
        .agg_summary(sums=["o_custkey"])
    )
    assert r.optimize(q3) is q3

    # filtered source: structure is never recorded, never substituted
    q4 = (
        lift(orders, table="orders")
        .filter(lambda o: o.o_orderpriority == "1-URGENT")
        .index_by(lambda o: o.o_orderpriority)
        .agg_summary(sums=["o_orderkey"])
    )
    assert q4.plan.agg is None
    assert r.optimize(q4) is q4
