"""MV freshness SLA + incremental agg refresh (r11).

The repository's 'on_read_stale' mode compares the query's base-file
snapshot against the one recorded at materialization and withholds the
substitution when they differ — stale aggregates are never served, the
query computes from the base scan instead. ``refresh_agg_index`` merges
an append delta into the rollup (O(|delta|+|MV|), mergeable aggregates
only), rewrites the MV's part files and re-stamps the snapshot.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from linqonsteroids_spark.api import lift
from linqonsteroids_spark.plans.registry import (
    IndexRepository,
    base_snapshot,
    match_key_in,
    node_to_column,
)
from tests.conftest import part_files


def _write_base(spark, path, lo, hi, mode):
    (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), (F.col("id") % 5).cast("string")).alias(
                "grp"
            ),
            (F.col("id") * 2).alias("v"),
        )
        .write.mode(mode)
        .parquet(path)
    )


def _rollup_q(spark, path):
    return (
        lift(spark.read.parquet(path), table="t")
        .index_by(lambda r: r.grp)
        .agg_summary(sums=["v"], maxs=["k"])
    )


@pytest.fixture()
def base(spark, tmp_path):
    p = str(tmp_path / "base")
    _write_base(spark, p, 0, 1000, "overwrite")
    return p


def test_snapshot_changes_on_append_and_overwrite(spark, base):
    s0 = base_snapshot(spark.read.parquet(base))
    s0b = base_snapshot(spark.read.parquet(base))
    assert s0 == s0b  # deterministic over an unchanged listing
    _write_base(spark, base, 1000, 1100, "append")
    s1 = base_snapshot(spark.read.parquet(base))
    assert s1 != s0
    _write_base(spark, base, 0, 1000, "overwrite")
    s2 = base_snapshot(spark.read.parquet(base))
    assert s2 != s1  # fresh part filenames: overwrite is always visible


def test_stale_mv_falls_back_then_refresh_restores(spark, base, tmp_path):
    repo = IndexRepository(
        spark, str(tmp_path / "store"), n_buckets=4,
        refresh_mode="on_read_stale",
    )
    repo.add_agg_index(
        "t_rollup",
        lift(spark.read.parquet(base), table="t").index_by(lambda r: r.grp),
        sums=["v"],
        maxs=["k"],
    )
    opt1 = repo.optimize(_rollup_q(spark, base))
    assert all("t_rollup" in f for f in opt1.df.inputFiles())

    pre = set(spark.read.parquet(base).inputFiles())
    _write_base(spark, base, 1000, 1100, "append")
    delta_files = sorted(set(spark.read.parquet(base).inputFiles()) - pre)
    assert delta_files

    # stale: substitution withheld, fallback computes grown-base truth
    opt2 = repo.optimize(_rollup_q(spark, base))
    assert not any("t_rollup" in f for f in opt2.df.inputFiles())
    got2 = {r.grp: (r.cnt_star, r.sum_v, r.max_k) for r in opt2.df.collect()}
    assert got2["g0"] == (220, sum(i * 2 for i in range(1100) if i % 5 == 0), 1095)

    # refresh from the delta: substitution returns, values are grown-base
    mv_dir = str(tmp_path / "store" / "t_rollup")
    built = part_files(mv_dir)
    assert built
    repo.refresh_agg_index(
        "t_rollup",
        spark.read.parquet(*delta_files),
        spark.read.parquet(base),
    )
    refreshed = part_files(mv_dir)
    assert refreshed and not refreshed & built
    opt3 = repo.optimize(_rollup_q(spark, base))
    assert all("t_rollup" in f for f in opt3.df.inputFiles())
    got3 = {r.grp: (r.cnt_star, r.sum_v, r.max_k) for r in opt3.df.collect()}
    assert got3 == got2


def test_manual_mode_keeps_substituting_after_append(spark, base, tmp_path):
    """The default mode is the classic addIndex contract: registration
    is trusted, refresh is the operator's job — an appended base does
    NOT disable the rewrite."""
    repo = IndexRepository(spark, str(tmp_path / "store"), n_buckets=4)
    repo.add_agg_index(
        "t_rollup",
        lift(spark.read.parquet(base), table="t").index_by(lambda r: r.grp),
        sums=["v"],
    )
    _write_base(spark, base, 1000, 1100, "append")
    opt = repo.optimize(
        lift(spark.read.parquet(base), table="t")
        .index_by(lambda r: r.grp)
        .agg_summary(sums=["v"])
    )
    assert all("t_rollup" in f for f in opt.df.inputFiles())


def test_filter_index_sla_fallback(spark, base, tmp_path):
    """The SLA covers the filter→index path too: a key lookup against a
    stale single-key index recomputes from the base scan."""
    repo = IndexRepository(
        spark, str(tmp_path / "store"), n_buckets=4,
        refresh_mode="on_read_stale",
    )
    repo.add_index(
        "t_by_grp",
        lift(spark.read.parquet(base), table="t").index_by(lambda r: r.grp),
    )
    q = lift(spark.read.parquet(base), table="t").filter(
        lambda r: r.grp == "g3"
    )
    assert all("t_by_grp" in f for f in repo.optimize(q).df.inputFiles())
    _write_base(spark, base, 1000, 1100, "append")
    q2 = lift(spark.read.parquet(base), table="t").filter(
        lambda r: r.grp == "g3"
    )
    opt2 = repo.optimize(q2)
    assert not any("t_by_grp" in f for f in opt2.df.inputFiles())
    assert opt2.df.count() == sum(1 for i in range(1100) if i % 5 == 3)


def test_refresh_agg_rejects_unknown_name(spark, base, tmp_path):
    repo = IndexRepository(spark, str(tmp_path / "store"), n_buckets=4)
    with pytest.raises(KeyError):
        repo.refresh_agg_index(
            "nope", spark.read.parquet(base), spark.read.parquet(base)
        )


def test_refresh_agg_preserves_mv_schema(spark, base, tmp_path):
    """The delta rollup's agg types can widen (sum over int → long is
    benign, DECIMAL(p,s) → p+10 is not); the merged MV must keep the
    published schema so substituted readers never see drift."""
    repo = IndexRepository(spark, str(tmp_path / "store"), n_buckets=4)
    e = repo.add_agg_index(
        "t_rollup",
        lift(spark.read.parquet(base), table="t").index_by(lambda r: r.grp),
        sums=["v"],
        mins=["k"],
        maxs=["k"],
    )
    before = spark.read.parquet(e.path).schema
    pre = set(spark.read.parquet(base).inputFiles())
    _write_base(spark, base, 1000, 1100, "append")
    delta_files = sorted(set(spark.read.parquet(base).inputFiles()) - pre)
    repo.refresh_agg_index(
        "t_rollup",
        spark.read.parquet(*delta_files),
        spark.read.parquet(base),
    )
    after = spark.read.parquet(e.path).schema
    assert after == before
    # sidecar snapshot advanced to the grown base
    from linqonsteroids_spark.plans.registry import _SIDECAR, _read_json

    meta = _read_json(os.path.join(e.path, _SIDECAR))
    assert meta["base_snapshot"] == base_snapshot(spark.read.parquet(base))


def test_isin_single_list_form_tracks_and_filters(spark):
    """PySpark's documented single list/set/tuple form must behave like
    varargs (Column.isin unpacks it) AND produce the same tracked atom —
    the r11 review caught the lifted-literal version building an ARRAY
    literal instead."""
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 3).alias("m")
    )
    for vals in ([0, 2], (0, 2), {0, 2}):
        q = lift(df, table="t").filter(lambda r, v=vals: r.m.isin(v))
        assert q.df.count() == 7
    q_list = lift(df, table="t").filter(lambda r: r.m.isin([0, 2]))
    q_args = lift(df, table="t").filter(lambda r: r.m.isin(0, 2))
    atoms_l = [match_key_in(c) for c in q_list.plan.filters]
    atoms_a = [match_key_in(c) for c in q_args.plan.filters]
    assert atoms_l == atoms_a != [None]


def test_match_key_in_shapes():
    """IN matcher: plain-column LHS with a literal tuple matches; a
    non-column LHS does not; node_to_column round-trips the atom."""
    from linqonsteroids_spark.api import Node

    atom = Node("in", (Node("col", ("seg",)), ("a", "b")))
    assert match_key_in(atom) == ("seg", ("a", "b"))
    opaque = Node("in", (Node("opaque"), ("a",)))
    assert match_key_in(opaque) is None
    assert node_to_column(atom) is not None
    assert node_to_column(opaque) is None


def test_catalog_rehydrates_after_refreshes(spark, base, tmp_path):
    """Cross-process survival: both refresh paths advance the sidecar
    snapshot, and the catalog must be re-synced to it — otherwise a new
    repository over the same storage would drop the entry on rehydrate
    (catalog meta != sidecar) and silently rebuild."""
    store = str(tmp_path / "store")
    repo = IndexRepository(spark, store, n_buckets=4)
    repo.add_index(
        "t_by_grp",
        lift(spark.read.parquet(base), table="t").index_by(lambda r: r.grp),
    )
    repo.add_agg_index(
        "t_rollup",
        lift(spark.read.parquet(base), table="t").index_by(lambda r: r.grp),
        sums=["v"],
    )
    pre = set(spark.read.parquet(base).inputFiles())
    _write_base(spark, base, 1000, 1100, "append")
    delta_files = sorted(set(spark.read.parquet(base).inputFiles()) - pre)
    repo.refresh("t_by_grp", spark.read.parquet(base))
    repo.refresh_agg_index(
        "t_rollup",
        spark.read.parquet(*delta_files),
        spark.read.parquet(base),
    )
    fresh = IndexRepository(spark, store, n_buckets=4)
    assert ("t", "grp") in fresh._by_table_key, "index entry dropped"
    assert ("t", "grp") in fresh._agg_mvs, "agg entry dropped"
    # and the rehydrated entries serve grown-base truth
    n = fresh.lookup("t_by_grp", "g0").count()
    assert n == sum(1 for i in range(1100) if i % 5 == 0)
    mv = fresh.lookup_agg("t", "grp")
    got = {r.grp: r.cnt_star for r in mv.collect()}
    assert got["g0"] == 220


def test_isin_set_input_canonicalized(spark):
    """r12 ADVICE: set inputs iterate in hash order, which for strings
    varies per process — the tracked node must be canonical (sorted by
    repr) so plan text is stable run to run."""
    df = spark.createDataFrame([("a",), ("b",), ("z",)], ["seg"])
    q = lift(df, table="t").filter(lambda r: r.seg.isin({"z", "a", "b"}))
    atoms = [match_key_in(c) for c in q.plan.filters]
    assert atoms == [("seg", ("'a'", "'b'", "'z'"))] or atoms == [
        ("seg", ("a", "b", "z"))
    ]
    assert q.df.count() == 3
