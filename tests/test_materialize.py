"""``session.materialize`` is the package's one materialization: every
local checkpoint goes through it, and its job carries a label."""

from __future__ import annotations

import ast
import os

import linqonsteroids_spark
from linqonsteroids_spark.session import materialize
from tests.conftest import jobs_started

_PKG = os.path.dirname(linqonsteroids_spark.__file__)


def _checkpoints(tree):
    """(innermost enclosing function or None, line) for every
    ``localCheckpoint`` / ``checkpoint`` attribute."""
    out = []

    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if isinstance(child, ast.Attribute) and child.attr in (
                "localCheckpoint",
                "checkpoint",
            ):
                out.append((scope, child.lineno))
            visit(child, scope)

    visit(tree, None)
    return out


def test_only_materialize_checkpoints():
    """No module checkpoints by hand: a checkpoint outside the helper
    would choose its own eagerness and start an unlabelled job."""
    found = []
    for d, _, files in os.walk(_PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path) as fh:
                    tree = ast.parse(fh.read())
                rel = os.path.relpath(path, _PKG)
                found += [(rel, fn) for fn, _ in _checkpoints(tree)]
    assert found == [("session.py", "materialize")]


def test_materialize_starts_one_labelled_job(spark):
    sc = spark.sparkContext
    df = spark.range(1000).selectExpr("id % 7 AS k")
    sc.setJobDescription("caller description")
    try:
        with jobs_started(spark) as started:
            group = sc.getLocalProperty("spark.jobGroup.id")
            desc = sc.getLocalProperty("spark.job.description")
            out = materialize(df, "test: residues")
            assert started() == 1
            # the caller's job group and description are unchanged
            assert sc.getLocalProperty("spark.jobGroup.id") == group
            assert sc.getLocalProperty("spark.job.description") == desc
            (job_id,) = sc.statusTracker().getJobIdsForGroup(group)
            job = sc._jsc.sc().statusStore().job(job_id)
            assert job.description().get() == "test: residues"
        assert sorted(r.k for r in out.distinct().collect()) == list(range(7))
    finally:
        sc.setLocalProperty("spark.job.description", None)
