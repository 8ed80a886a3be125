"""Catalog scan-layer tests: events.ts normalization across testdata
generations.

The driver has shipped events.parquet with ts as parquet TIMESTAMP(NANOS)
(Spark reads a raw long under the nanosAsLong conf) and as
TIMESTAMP(MICROS) without UTC adjustment (Spark infers TIMESTAMP_NTZ).
Round 3 lost every events-based correctness row to the switch;
normalize_events_ts dispatches on the actual dtype so either encoding —
or a plain TimestampType — lands on identical session-tz values.
"""

from __future__ import annotations

import ast
import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

import linqonsteroids_spark
from linqonsteroids_spark.catalog import load_table, normalize_events_ts
from tests.conftest import SF_SMOKE, jobs_started

_WALL = dt.datetime(2024, 3, 1, 12, 34, 56, 789000)
_MICROS = int(_WALL.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


@pytest.mark.parametrize(
    "dtype,value",
    [
        ("bigint", _MICROS * 1000),  # raw nanos (nanosAsLong read)
        ("timestamp_ntz", _WALL),  # micros without UTC adjustment
        ("timestamp", _WALL),  # already session-tz: pass-through
    ],
)
def test_normalize_events_ts_encodings(spark, dtype, value):
    df = spark.createDataFrame([(1, value)], f"event_id long, ts {dtype}")
    out = normalize_events_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    got = out.collect()[0].ts
    assert got == _WALL  # UTC session tz (session.py) makes this exact


def test_load_table_events_ts_is_timestamp(spark):
    events = load_table(spark, SF_SMOKE, "events")
    assert dict(events.dtypes)["ts"] == "timestamp"
    # values must agree with DuckDB's read of the same file
    import duckdb

    d = duckdb.sql(
        f"SELECT min(ts) FROM '{SF_SMOKE}/events.parquet'"
    ).fetchone()[0]
    s = events.agg(F.min("ts")).collect()[0][0]
    assert s == d


def test_variant_parses_typed_structure(spark):
    """The VARIANT gate's docstring promise: props parses into typed
    structure (schema_of_variant sees OBJECT<k: BIGINT>), and
    try_variant_get yields NULL — never an error — on missing paths and
    type mismatches."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.catalog import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").limit(5)
    rows = ev.select(
        F.schema_of_variant(F.parse_json("props")).alias("sch"),
        F.try_variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
        F.try_variant_get(F.parse_json("props"), "$.nope", "long").alias("m"),
        F.try_variant_get(F.parse_json("props"), "$", "long").alias("bad"),
    ).collect()
    assert all(r.sch == "OBJECT<k: BIGINT>" for r in rows)
    assert all(r.k is not None and r.m is None for r in rows)
    # an OBJECT root cannot cast to long: try_ semantics -> NULL, no error
    # (note scalar casts COERCE where sensible, e.g. long->boolean)
    assert all(r.bad is None for r in rows)


def test_observed_metrics_match_direct_aggregates(spark, tmp_path):
    """observe(): metrics collected during the single write action equal
    a direct aggregate pass — the zero-extra-scan reconciliation gate a
    production wash runs on every stage."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.catalog import load_table
    from linqonsteroids_spark.monitoring import observed
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    obs, out = observed(
        docs,
        "stage",
        rows=F.count(F.lit(1)),
        null_ids=F.count_if(F.col("doc_id").isNull()),
        text_bytes=F.sum(F.length("text")).cast("long"),
    )
    out.write.mode("overwrite").parquet(str(tmp_path / "o"))  # ONE action
    direct = docs.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_if(F.col("doc_id").isNull()).alias("null_ids"),
        F.sum(F.length("text")).cast("long").alias("text_bytes"),
    ).collect()[0]
    got = obs.get
    assert got["rows"] == direct["rows"] > 0
    assert got["null_ids"] == direct["null_ids"] == 0
    assert got["text_bytes"] == direct["text_bytes"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one metric"):
        observed(docs, "empty")


# --- one read path: every parquet read declares a schema -------------------

_PKG = os.path.dirname(os.path.abspath(linqonsteroids_spark.__file__))

#: parquet reads that infer their schema, by (module, function) — the
#: catalog's one resolver and reads of data whose schema the package never
#: recorded
_INFERRING_READS = {
    ("catalog.py", "table_schema"): "the catalog resolver: infers each "
    "table's file schema once per process",
    ("operators/compact.py", "compact_parquet"): "compacts a directory "
    "the caller hands in",
    ("sources/fileindex.py", "read_pruned"): "range-scans a directory "
    "the caller names; no schema is recorded with it",
    ("operators/mor.py", "_footer_fields"): "MOR self-heal: data the "
    "table meta does not describe (older tables, a version whose writer "
    "died before its meta stamp)",
}


def _chain(node):
    """Attribute names along a call chain ``a.b(..).c.parquet`` and its
    root node."""
    attrs = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            attrs.append(node.attr)
            node = node.value
        else:
            return attrs, node


def _parquet_reads(tree):
    """(function, line, declares_schema) for every ``.parquet(`` read."""
    out = []

    def visit(fn, scope):
        assigns: dict[str, list] = {}
        for n in ast.walk(fn):
            if isinstance(n, ast.Assign):
                for t in n.targets:
                    if isinstance(t, ast.Name):
                        assigns.setdefault(t.id, []).append(n.value)

        def attrs_of(node, depth=0):
            attrs, root = _chain(node)
            if isinstance(root, ast.Name) and depth < 4:
                for v in assigns.get(root.id, []):
                    attrs += attrs_of(v, depth + 1)
            return attrs

        own = list(ast.iter_child_nodes(fn))  # nested defs are own scopes
        while own:
            n = own.pop()
            if isinstance(n, ast.FunctionDef):
                continue
            own.extend(ast.iter_child_nodes(n))
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "parquet"
            ):
                continue
            attrs = attrs_of(n.func.value)
            if {"write", "writeStream"} & set(attrs):
                continue
            assert {"read", "readStream"} & set(attrs), (
                f"{scope}:{n.lineno}: cannot tell whether .parquet( reads"
            )
            out.append((scope, n.lineno, "schema" in attrs))

    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef):
            visit(node, node.name)
    return out


def test_every_parquet_read_declares_a_schema():
    """Catalog tables are read through the catalog; artifacts the package
    wrote are read with their writer's schema. Only the allow-listed
    reads infer one (a Spark job per read), and each must still exist."""
    inferring = set()
    for d, _, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, _PKG)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for fn, line, declared in _parquet_reads(tree):
                if not declared:
                    inferring.add((rel, fn))
    assert inferring == set(_INFERRING_READS)


def test_catalog_schemas_match_inference(spark):
    """The declared schema of every catalog table equals what inference
    finds in the file; the streaming source normalizes to the batch one."""
    from linqonsteroids_spark.catalog import TABLES, stream_table

    for name in TABLES:
        path = os.path.join(SF_SMOKE, f"{name}.parquet")
        inferred = spark.read.parquet(path)
        if name == "events":
            inferred = normalize_events_ts(inferred)
        batch = load_table(spark, SF_SMOKE, name)
        assert batch.schema == inferred.schema, name
        assert stream_table(spark, SF_SMOKE, name).schema == batch.schema, name


def test_second_load_table_starts_no_job(spark):
    load_table(spark, SF_SMOKE, "lineitem")
    with jobs_started(spark) as started:
        load_table(spark, SF_SMOKE, "lineitem")
    assert started() == 0
