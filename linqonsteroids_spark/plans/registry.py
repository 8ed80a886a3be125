"""Index / materialized-view repository with filter-to-index rewriting.

The reference's flagship capability (SURVEY §2.10): ``Optimization.addIndex``
evaluates a reified ``coll.indexBy(f)`` and registers it in a precomputed-
query repository (``Optimization.scala:26-63``); ``SubquerySharing.
shareSubqueries`` then rewrites ``coll.filter(x => F(x) == k && rest)`` into
``index(k).filter(rest)``: CNF-split the predicate (``BooleanOperators.
scala:6-28``), find an equality with one constant side (``SubquerySharing.
scala:81-95``), look the index up by normalized structural equality
(``:42-79``), emit the lookup plus a residual filter (``:26-31``).

Spark-first redesign — the index is not a driver-side Map but a
**materialized table laid out for key access**:

- storage: parquet, hash-repartitioned on the key and sorted within
  partitions → key-equality scans prune row groups via min/max stats
  (zone maps). On a managed cluster the same write becomes
  ``bucketBy(key).sortBy(key).saveAsTable`` — co-located joins for free.
- matching: our own canonical form of the key/predicate structure
  (``api.Node``) — commutative ``==`` normalized, exactly the
  ``normalizer`` analogue (``OptimizationTransforms.scala:123-127``);
  we deliberately do NOT reach into Catalyst's canonicalized plans from
  Python (SURVEY §7.2 boundary).
- rewrite: equality conjunct on a registered (table, key) → MV scan with
  the key filter (pushed to parquet) + rebuilt residual filter.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from linqonsteroids_spark.api import (
    AggInfo,
    Indexed,
    JoinInfo,
    Lifted,
    Node,
    PlanInfo,
)
from linqonsteroids_spark.catalog import SCHEMA_SIDECAR, read_saved, save_schema


# --- canonical forms -------------------------------------------------------

#: metadata sidecar inside the MV directory.  Leading underscore → parquet
#: readers ignore it (like _SUCCESS); it travels with the MV files.
_SIDECAR = "_mv_meta.json"
#: storage-dir-level catalog of every registered entry — the repository
#: reads it at construction, so MV reuse survives process restarts instead
#: of depending on in-memory registration order.
_CATALOG = "_catalog.json"


def _is_local(path: str) -> bool:
    return "://" not in path


def _already_built(path: str) -> bool:
    """True if a complete materialization exists at ``path`` (local paths
    only — remote object stores rebuild; their callers pass unique paths)."""
    return _is_local(path) and os.path.exists(os.path.join(path, "_SUCCESS"))


def _read_json(path: str) -> dict | None:
    if not _is_local(path) or not os.path.exists(path):
        return None
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None


def _write_json(path: str, payload: dict) -> None:
    if not _is_local(path):
        return
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)  # atomic on POSIX — no torn sidecars


def _lets_canon(lets) -> tuple[tuple[str, str], ...]:
    """Serialize let-bound computed columns to (name, structure-repr) pairs.
    ``Node`` is a frozen dataclass of nested tuples over plain literals, so
    ``repr`` equality ≡ structural equality — and it JSON-roundtrips, which
    in-memory ``Node`` trees do not."""
    return tuple((n, repr(nd)) for n, nd in lets)


def _node_cols(node: Node) -> set[str]:
    """Every column name a predicate structure references."""
    if node.kind == "col":
        return {node.args[0]}
    out: set[str] = set()
    for a in node.args:
        if isinstance(a, Node):
            out |= _node_cols(a)
    return out


def canon_key(node: Node) -> str | None:
    """Canonical string for an index key expression; None if opaque."""
    if node.kind == "col":
        return f"col:{node.args[0]}"
    return None


def split_conjuncts(node: Node) -> list[Node]:
    """CNF top-level split (BooleanOperators.scala:6-28 analogue)."""
    if node.kind == "and":
        return [c for a in node.args for c in split_conjuncts(a)]
    return [node]


def match_key_equality(conj: Node) -> tuple[str, object] | None:
    """Recognize col == const (either operand order — commutative Eq is
    normalized here, the reference's ``normalizer``)."""
    if conj.kind != "eq":
        return None
    l, r = conj.args
    if l.kind == "col" and r.kind == "lit":
        return l.args[0], r.args[0]
    if r.kind == "col" and l.kind == "lit":
        return r.args[0], l.args[0]
    return None


def match_key_range(conj: Node) -> tuple[str, str, object] | None:
    """Recognize col <op> const (the range leg, r10): returns (col,
    normalized-op, value) with the operator flipped when the literal is
    on the left. Range predicates are index-serviceable because every
    index layout is key-ordered: the hash layout sorts within buckets
    (row-group min/max skipping), the partitioned layout prunes whole
    key directories."""
    if conj.kind != "cmp":
        return None
    sym, l, r = conj.args
    if l.kind == "col" and r.kind == "lit":
        return l.args[0], sym, r.args[0]
    if r.kind == "col" and l.kind == "lit":
        flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
        return r.args[0], flip[sym], l.args[0]
    return None


def match_key_in(conj: Node) -> tuple[str, tuple] | None:
    """Recognize col IN (v1, v2, ...) — the IN-list leg (r11). A
    membership atom is index-serviceable like a union of equalities: the
    hash layout skips row groups per value via sorted min/max, the
    partitioned layout prunes to the union of the named key
    directories."""
    if conj.kind != "in":
        return None
    col_node, vals = conj.args
    if col_node.kind != "col":
        return None
    return col_node.args[0], tuple(vals)


def node_to_column(node: Node) -> Column | None:
    """Rebuild a Spark Column from predicate structure; None if any part is
    opaque (then the rewrite bails — same conservatism as the reference,
    which only rewrites recognized shapes)."""
    k = node.kind
    if k == "col":
        return F.col(node.args[0])
    if k == "lit":
        return F.lit(node.args[0])
    if k == "eq":
        l, r = (node_to_column(a) for a in node.args)
        return None if l is None or r is None else l == r
    if k == "cmp":
        sym, ln, rn = node.args
        l, r = node_to_column(ln), node_to_column(rn)
        if l is None or r is None:
            return None
        return {"<": l < r, "<=": l <= r, ">": l > r, ">=": l >= r}[sym]
    if k == "and":
        l, r = (node_to_column(a) for a in node.args)
        return None if l is None or r is None else l & r
    if k == "or":
        l, r = (node_to_column(a) for a in node.args)
        return None if l is None or r is None else l | r
    if k == "not":
        x = node_to_column(node.args[0])
        return None if x is None else ~x
    if k == "arith":
        sym, ln, rn = node.args
        l, r = node_to_column(ln), node_to_column(rn)
        if l is None or r is None:
            return None
        return {
            "+": l + r, "-": l - r, "*": l * r, "/": l / r, "%": l % r,
        }[sym]
    if k == "neg":
        x = node_to_column(node.args[0])
        return None if x is None else -x
    if k == "in":
        col_node, vals = node.args
        c = node_to_column(col_node)
        return None if c is None else c.isin(*vals)
    return None


# --- repository ------------------------------------------------------------


@dataclass
class IndexEntry:
    name: str
    table: str
    key_col: str
    path: str
    n_buckets: int
    layout: str = "hash"  # "hash" (repartition+sort) | "dir" (partitionBy)
    #: original column order — partitionBy moves the key column to the end
    #: on read-back; the rewrite restores this so the MV is a drop-in scan
    columns: tuple[str, ...] = ()
    #: computed (let-bound) columns materialized into the MV, in canonical
    #: (name, structure-repr) form; a query matches only if its own lets are
    #: structurally identical — the reference's normalized f(x)==k matching
    lets: tuple[tuple[str, str], ...] = ()


@dataclass
class JoinIndexEntry:
    name: str
    tables: tuple[str, ...]
    keys: tuple[tuple[str, str], ...]
    path: str
    n_buckets: int
    #: the MV's column space — signature matching is (tables, keys) only,
    #: so a same-signature query built over different projections must be
    #: column-checked before substitution (schema drift / missing columns)
    columns: tuple[str, ...] = ()


@dataclass
class AggIndexEntry:
    """A pre-aggregated rollup MV: one row per distinct key, columns
    following the cnt_star / sum_<col> / min_<col> / max_<col> naming
    convention ``optimize``'s Aggregate substitution recognizes. MV size is
    n_groups rows, NOT partitioned by key (one directory per group would
    be the small-files trap for high-cardinality keys; the rollup itself
    is already the compression — scanning it whole is the cheap path)."""

    name: str
    table: str
    key_col: str
    path: str
    sums: tuple[str, ...] = ()
    mins: tuple[str, ...] = ()
    maxs: tuple[str, ...] = ()


def base_snapshot(df: DataFrame) -> str:
    """Snapshot id of the base data a query or materialization reads:
    a digest over the sorted (path, size) list of the plan's input
    files. Two frames reading the same committed files get the same id;
    any append, overwrite, or compaction changes the file list (Spark
    writers always mint fresh part-file names) and therefore the id.
    This is the cheap, listing-only freshness primitive the MV SLA
    (``refresh_mode='on_read_stale'``) compares — no data is read. On
    object stores the same role is played by the table-format snapshot
    id; here the file listing IS the snapshot."""
    import hashlib

    entries = []
    for f in sorted(df.inputFiles()):
        p = f[5:] if f.startswith("file:") else f
        try:
            size = os.path.getsize(p)
        except OSError:
            size = -1
        entries.append(f"{f}:{size}")
    return hashlib.sha256("\n".join(entries).encode()).hexdigest()


class IndexRepository:
    """Precomputed-query repository (Optimization.scala:26-63 analogue).

    ``table_backed=True`` stores single-key indexes as bucketed+sorted
    catalog tables (``bucketBy(key).sortBy(key).saveAsTable``) instead of
    loose parquet directories — the metastore-grade layout: key joins
    against an identically-bucketed side are shuffle-free, bucket pruning
    serves point lookups, and on a Hive/Glue-backed cluster the table (and
    its bucketing metadata) outlives the session. The parquet-path layout
    remains the default and the fallback for sessions without a warehouse.
    """

    def __init__(
        self,
        spark: SparkSession,
        storage_dir: str,
        n_buckets: int = 32,
        table_backed: bool = False,
        refresh_mode: str = "manual",
    ):
        if refresh_mode not in ("manual", "on_read_stale"):
            raise ValueError(
                "refresh_mode must be 'manual' or 'on_read_stale'"
            )
        self.spark = spark
        self.storage_dir = storage_dir
        self.n_buckets = n_buckets
        self.table_backed = table_backed
        #: MV freshness SLA (r11). 'manual': substitution trusts the
        #: registry (the classic addIndex contract — refresh is the
        #: operator's job). 'on_read_stale': before substituting,
        #: optimize() compares the QUERY's own base-file snapshot
        #: against the one recorded when the MV materialized; a grown or
        #: rewritten base disables the rewrite for that query, which
        #: then computes from the base scan — stale data is never
        #: served, at the cost of one file listing per optimize().
        self.refresh_mode = refresh_mode
        self._by_table_key: dict[tuple[str, str], IndexEntry] = {}
        self._by_name: dict[str, IndexEntry] = {}
        self._joins: dict[tuple, JoinIndexEntry] = {}
        self._agg_mvs: dict[tuple[str, str], AggIndexEntry] = {}
        self._load_catalog()

    # -- persistent catalog (survives process restarts) --
    def _catalog_path(self) -> str:
        return os.path.join(self.storage_dir, _CATALOG)

    def _table_location(self, tbl: str) -> str | None:
        """Filesystem location of a (local-warehouse) catalog table — where
        the sidecar fingerprint lives for table-backed entries. None for
        remote warehouses (those rebuild instead of fingerprint-reusing)."""
        from urllib.parse import urlparse

        wh = urlparse(self.spark.conf.get("spark.sql.warehouse.dir"))
        if wh.scheme in ("", "file"):
            return os.path.join(wh.path, tbl.lower())
        return None

    def _entry_built(self, layout: str, path: str, meta: dict) -> bool:
        """True when the stored materialization exists AND its sidecar
        fingerprint matches ``meta`` (definition + source schema)."""
        if layout == "table":
            loc = self._table_location(path)
            return (
                loc is not None
                and self.spark.catalog.tableExists(path)
                and _read_json(os.path.join(loc, _SIDECAR)) == meta
            )
        return (
            _already_built(path)
            and _read_json(os.path.join(path, _SIDECAR)) == meta
            and os.path.exists(os.path.join(path, SCHEMA_SIDECAR))
        )

    def _scan(self, entry) -> DataFrame:
        """Scan an entry's materialization: catalog table (bucketing
        metadata intact → shuffle-free key joins) or parquet path."""
        if getattr(entry, "layout", "hash") == "table":
            return self.spark.table(entry.path)
        return read_saved(self.spark, entry.path)

    def _stale_for(self, entry, q: Lifted, q_snapshot: str | None) -> bool:
        """True when substitution must be withheld under the
        'on_read_stale' SLA: the query's base-file snapshot differs from
        the one the MV recorded at materialization (or the MV predates
        snapshot recording — unprovable freshness counts as stale).
        Under 'manual' mode this never fires. ``q_snapshot`` is the
        query's snapshot computed ONCE per optimize() call — the listing
        walk must not repeat per candidate entry."""
        if self.refresh_mode != "on_read_stale":
            return False
        meta = self._sidecar_of(entry) or {}
        recorded = meta.get("base_snapshot")
        if recorded is None:
            return True
        return recorded != (q_snapshot or base_snapshot(q.df))

    def _load_catalog(self) -> None:
        """Rehydrate registrations from the storage dir's catalog. An entry
        is installed only if its MV is complete AND its sidecar fingerprint
        still matches the cataloged one — a stale or repurposed directory
        falls back to unregistered (next add_* rebuilds it)."""
        data = _read_json(self._catalog_path())
        if not data:
            return
        for e in data.get("indexes", []):
            meta = e.get("meta") or {}
            if not self._entry_built(e.get("layout", "hash"), e["path"], meta):
                continue
            entry = IndexEntry(
                e["name"], e["table"], e["key_col"], e["path"],
                e["n_buckets"], layout=e["layout"],
                columns=tuple(e["columns"]),
                lets=tuple((n, s) for n, s in e["lets"]),
            )
            self._by_table_key[(entry.table, entry.key_col)] = entry
            self._by_name[entry.name] = entry
        for e in data.get("join_indexes", []):
            meta = e.get("meta") or {}
            if not self._entry_built("hash", e["path"], meta):
                continue
            entry = JoinIndexEntry(
                e["name"], tuple(e["tables"]),
                tuple((l, r) for l, r in e["keys"]),
                e["path"], e["n_buckets"], columns=tuple(e["columns"]),
            )
            self._joins[(entry.tables, entry.keys)] = entry
        for e in data.get("agg_indexes", []):
            meta = e.get("meta") or {}
            if not self._entry_built("hash", e["path"], meta):
                continue
            entry = AggIndexEntry(
                e["name"], e["table"], e["key_col"], e["path"],
                sums=tuple(e["sums"]), mins=tuple(e["mins"]),
                maxs=tuple(e["maxs"]),
            )
            self._agg_mvs[(entry.table, entry.key_col)] = entry

    def _save_catalog(self) -> None:
        if not _is_local(self.storage_dir):
            return
        # table-backed repos store data in the warehouse; the storage dir
        # may hold nothing but this catalog
        os.makedirs(self.storage_dir, exist_ok=True)
        payload = {
            "indexes": [
                {
                    "name": e.name, "table": e.table, "key_col": e.key_col,
                    "path": e.path, "n_buckets": e.n_buckets,
                    "layout": e.layout, "columns": list(e.columns),
                    "lets": [list(p) for p in e.lets],
                    "meta": self._sidecar_of(e),
                }
                for e in self._by_name.values()
            ],
            "join_indexes": [
                {
                    "name": e.name, "tables": list(e.tables),
                    "keys": [list(k) for k in e.keys],
                    "path": e.path, "n_buckets": e.n_buckets,
                    "columns": list(e.columns),
                    "meta": _read_json(os.path.join(e.path, _SIDECAR)),
                }
                for e in self._joins.values()
            ],
            "agg_indexes": [
                {
                    "name": e.name, "table": e.table, "key_col": e.key_col,
                    "path": e.path, "sums": list(e.sums),
                    "mins": list(e.mins), "maxs": list(e.maxs),
                    "meta": _read_json(os.path.join(e.path, _SIDECAR)),
                }
                for e in self._agg_mvs.values()
            ],
        }
        _write_json(self._catalog_path(), payload)

    def _sidecar_of(self, e) -> dict | None:
        if getattr(e, "layout", "hash") == "table":
            loc = self._table_location(e.path)
            return _read_json(os.path.join(loc, _SIDECAR)) if loc else None
        return _read_json(os.path.join(e.path, _SIDECAR))

    def _reuse_or_build(
        self, layout: str, path: str, meta: dict, build, schema: StructType
    ) -> None:
        """The addIndex contract: one-time build, later registrations are
        metadata-only reuse — but ONLY when the on-disk sidecar fingerprint
        matches this registration (definition + source schema). A name
        reused for a different definition, or a source whose schema
        changed since the old build, rebuilds instead of silently
        installing stale data (round-2 ADVICE, registry.py:42). A parquet
        build also records the ``schema`` of the data files it wrote beside
        the fingerprint, so scans of it need no schema inference."""
        if self._entry_built(layout, path, meta):
            return
        build()
        if layout == "table":
            loc = self._table_location(path)
            if loc is not None:
                _write_json(os.path.join(loc, _SIDECAR), meta)
        else:
            _write_json(os.path.join(path, _SIDECAR), meta)
            save_schema(path, schema)

    def _install(self, entry: IndexEntry) -> None:
        self._by_table_key[(entry.table, entry.key_col)] = entry
        self._by_name[entry.name] = entry
        self._save_catalog()

    # -- registration (entry point C, SURVEY §3) --
    def add_index(self, name: str, indexed: Indexed) -> IndexEntry:
        """Materialize ``coll.index_by(key)`` now and register it.

        Requires: the source is a rewritable base-table scan (optionally
        with tracked ``let`` computed columns — the reference's computed
        index keys, normalized f(x)==k) and the key is a named column.
        """
        src = indexed.src
        table = src.plan.base_table
        if table is None or not src.plan.rewritable or src.plan.filters:
            raise ValueError(
                "add_index needs an unfiltered base-table scan "
                "(lift(df, table=...).index_by(...)); computed keys via a "
                "tracked .let() first"
            )
        key = canon_key(indexed.key.node)
        if key is None or not key.startswith("col:"):
            raise ValueError("index key must be a named column; use .let() for computed keys")
        key_col = key.split(":", 1)[1]
        lets = _lets_canon(src.plan.lets)
        meta = {
            "table": table, "key_col": key_col, "n_buckets": self.n_buckets,
            "lets": [list(p) for p in lets],
            "source_schema": src.df.schema.simpleString(),
            "base_snapshot": base_snapshot(src.df),
        }
        if self.table_backed:
            from linqonsteroids_spark.sources.parquet import write_bucketed_table

            tbl = f"idx_{name}"
            self._reuse_or_build(
                "table", tbl, {**meta, "layout": "table"},
                lambda: write_bucketed_table(
                    src.df, tbl, [key_col], n_buckets=self.n_buckets
                ),
                src.df.schema,
            )
            entry = IndexEntry(
                name, table, key_col, tbl, self.n_buckets,
                layout="table", lets=lets,
            )
        else:
            path = os.path.join(self.storage_dir, f"{name}")
            self._reuse_or_build(
                "hash", path, {**meta, "layout": "hash"},
                lambda: (
                    src.df.repartition(self.n_buckets, F.col(key_col))
                    .sortWithinPartitions(key_col)
                    .write.mode("overwrite")
                    .parquet(path)
                ),
                src.df.schema,
            )
            entry = IndexEntry(
                name, table, key_col, path, self.n_buckets, lets=lets,
            )
        self._install(entry)
        return entry

    def add_partitioned_index(self, name: str, indexed: Indexed) -> IndexEntry:
        """Type-index variant (TypeMapping, SubquerySharing.scala:345-448):
        materialize with directory partitioning on the key, so a key
        equality prunes whole partition directories (PartitionFilters),
        not just row groups. Right layout for low-cardinality keys — tag/
        type columns; use ``add_index`` for high-cardinality keys (one
        directory per distinct key does not scale)."""
        src = indexed.src
        table = src.plan.base_table
        if table is None or not src.plan.rewritable or src.plan.filters:
            raise ValueError(
                "add_partitioned_index needs an unfiltered base-table scan"
            )
        key = canon_key(indexed.key.node)
        if key is None or not key.startswith("col:"):
            raise ValueError("index key must be a plain column")
        key_col = key.split(":", 1)[1]
        path = os.path.join(self.storage_dir, f"{name}")
        lets = _lets_canon(src.plan.lets)
        meta = {
            "table": table, "key_col": key_col, "layout": "dir",
            "lets": [list(p) for p in lets],
            "source_schema": src.df.schema.simpleString(),
            "base_snapshot": base_snapshot(src.df),
        }
        self._reuse_or_build(
            "dir", path, meta,
            # REBALANCE on the partition key before partitionBy: without
            # it every scan task writes one file into every key directory
            # (tasks × keys files), and every warm probe then pays that
            # many per-file opens — the r15 driver measured the probe
            # gates 2-5× SLOWER at 32 cores than 8 for exactly this
            # reason. The AQE rebalance clusters rows by key and splits
            # oversized keys, so file count per directory is O(1) at any
            # core count and stays size-bounded at scale (guide §6).
            lambda: src.df.hint("rebalance", key_col)
            .write.mode("overwrite")
            .partitionBy(key_col)
            .parquet(path),
            src.df.drop(key_col).schema,
        )
        entry = IndexEntry(
            name, table, key_col, path, 0, layout="dir",
            columns=tuple(src.df.columns), lets=lets,
        )
        self._install(entry)
        return entry

    def add_agg_index(
        self,
        name: str,
        indexed: Indexed,
        sums: tuple[str, ...] | list[str] = (),
        mins: tuple[str, ...] | list[str] = (),
        maxs: tuple[str, ...] | list[str] = (),
    ) -> AggIndexEntry:
        """Materialize a single-key rollup of an unfiltered base-table
        scan: one row per distinct key with ``cnt_star`` plus
        ``sum_/min_/max_<col>`` for each requested column — the naming
        convention ``optimize``'s Aggregate substitution matches. The
        100 TB story is categorical: a grouped rollup over the base
        becomes a read of n_groups pre-aggregated rows, with NO
        aggregation operator in the plan at all."""
        src = indexed.src
        table = src.plan.base_table
        if table is None or not src.plan.rewritable or src.plan.filters:
            raise ValueError(
                "add_agg_index needs an unfiltered base-table scan "
                "(lift(df, table=...).index_by(...))"
            )
        if src.plan.lets:
            raise ValueError("add_agg_index does not support computed keys")
        key = canon_key(indexed.key.node)
        if key is None or not key.startswith("col:"):
            raise ValueError("agg-index key must be a plain column")
        key_col = key.split(":", 1)[1]
        sums, mins, maxs = tuple(sums), tuple(mins), tuple(maxs)
        path = os.path.join(self.storage_dir, name)
        meta = {
            "table": table, "key_col": key_col, "layout": "agg",
            "sums": list(sums), "mins": list(mins), "maxs": list(maxs),
            "source_schema": src.df.schema.simpleString(),
            "base_snapshot": base_snapshot(src.df),
        }
        aggs = [F.count(F.lit(1)).alias("cnt_star")]
        aggs += [F.sum(c).alias(f"sum_{c}") for c in sums]
        aggs += [F.min(c).alias(f"min_{c}") for c in mins]
        aggs += [F.max(c).alias(f"max_{c}") for c in maxs]
        rollup = src.df.groupBy(F.col(key_col)).agg(*aggs)
        self._reuse_or_build(
            "hash", path, meta,
            lambda: rollup.write.mode("overwrite").parquet(path),
            rollup.schema,
        )
        entry = AggIndexEntry(
            name, table, key_col, path, sums=sums, mins=mins, maxs=maxs
        )
        self._agg_mvs[(table, key_col)] = entry
        self._save_catalog()
        return entry

    def lookup_agg(self, table: str, key_col: str) -> DataFrame:
        """Scan a registered rollup MV directly (the explicit-lookup
        twin of ``optimize``'s Aggregate substitution)."""
        entry = self._agg_mvs.get((table, key_col))
        if entry is None:
            raise KeyError(f"no agg index for ({table}, {key_col})")
        return read_saved(self.spark, entry.path)

    def add_join_index(self, name: str, joined: Lifted) -> JoinIndexEntry:
        """Materialize a left-deep equi-join chain of base tables as an MV
        (the nested-scope index of SubquerySharing.scala:110-343, in
        relational form; n tables ≅ the reference's n nesting levels,
        SubquerySharingTests.scala:186-253). Requires a chain of unfiltered
        base-table scans ``lift(a, table=..).join(lift(b, table=..), ..)
        .join(...)``; stored hash-partitioned on the first join key so later
        key lookups prune row groups."""
        ji = joined.plan.join
        if ji is None or joined.plan.filters or ji.filters:
            raise ValueError(
                "add_join_index needs an unfiltered equi-join chain of "
                "base-table scans (lift(a, table=..).join(lift(b, table=..), ..))"
            )
        cols = joined.df.columns
        if len(cols) != len(set(cols)):
            raise ValueError("join MV columns must be unique; project/rename first")
        path = os.path.join(self.storage_dir, f"{name}")
        first_key = ji.keys[0][0]
        meta = {
            "tables": list(ji.tables), "keys": [list(k) for k in ji.keys],
            "n_buckets": self.n_buckets,
            "source_schema": joined.df.schema.simpleString(),
            "base_snapshot": base_snapshot(joined.df),
        }
        self._reuse_or_build(
            "hash", path, meta,
            lambda: (
                joined.df.repartition(self.n_buckets, F.col(first_key))
                .sortWithinPartitions(first_key)
                .write.mode("overwrite")
                .parquet(path)
            ),
            joined.df.schema,
        )
        entry = JoinIndexEntry(name, ji.tables, ji.keys, path, self.n_buckets)
        self._joins[ji.signature] = entry
        self._save_catalog()
        return entry

    def refresh(self, name: str, df: DataFrame) -> None:
        """Batch MV refresh (the incremental upgrade is streaming/, §2.8)."""
        e = self._by_name[name]
        old_meta = self._sidecar_of(e)
        if e.layout == "dir":
            # same rebalance-before-partitionBy as the build (guide §6)
            (
                df.hint("rebalance", e.key_col)
                .write.mode("overwrite")
                .partitionBy(e.key_col)
                .parquet(e.path)
            )
            save_schema(e.path, df.drop(e.key_col).schema)
            sidecar = os.path.join(e.path, _SIDECAR)
        elif e.layout == "table":
            from linqonsteroids_spark.sources.parquet import write_bucketed_table

            write_bucketed_table(df, e.path, [e.key_col], n_buckets=e.n_buckets)
            loc = self._table_location(e.path)
            sidecar = os.path.join(loc, _SIDECAR) if loc else None
        else:
            (
                df.repartition(e.n_buckets, F.col(e.key_col))
                .sortWithinPartitions(e.key_col)
                .write.mode("overwrite")
                .parquet(e.path)
            )
            save_schema(e.path, df.schema)
            sidecar = os.path.join(e.path, _SIDECAR)
        if old_meta is not None and sidecar is not None:
            # the overwrite cleared the sidecar with the data; restore the
            # fingerprint (schema may have evolved with the refresh df,
            # and the base snapshot advances to what was just read)
            _write_json(
                sidecar,
                {
                    **old_meta,
                    "source_schema": df.schema.simpleString(),
                    "base_snapshot": base_snapshot(df),
                },
            )
        # re-sync the catalog to the advanced sidecar — rehydration
        # compares the two, and a mismatch would silently drop the entry
        # in the next process
        self._save_catalog()

    def refresh_agg_index(
        self, name: str, delta: DataFrame, base: DataFrame
    ) -> AggIndexEntry:
        """Incrementally refresh a rollup MV from an APPEND delta — the
        batch form of Δ(indexBy) maintenance (SURVEY §2.8): the refresh
        reads O(|delta| + |MV|) rows, never the base. count/sum/min/max
        are all self-mergeable, so the new MV is ``re-aggregate(old MV ∪
        rollup(delta))`` — sums of sums, mins of mins; the same identity
        that makes the aggregation map-side-combinable makes it
        delta-refreshable. Deletes/updates are NOT expressible this way
        (min/max are not subtractable); those go through full
        re-materialization (``add_agg_index`` over the new base), which
        the snapshot fingerprint forces automatically.

        ``base`` is the post-append base scan — its file snapshot is
        recorded so 'on_read_stale' reads see the refreshed MV as fresh."""
        entry = None
        for e in self._agg_mvs.values():
            if e.name == name:
                entry = e
                break
        if entry is None:
            raise KeyError(f"no agg index named {name!r}")
        old_meta = _read_json(os.path.join(entry.path, _SIDECAR)) or {}
        key_col = entry.key_col
        aggs = [F.count(F.lit(1)).cast("long").alias("cnt_star")]
        aggs += [F.sum(c).alias(f"sum_{c}") for c in entry.sums]
        aggs += [F.min(c).alias(f"min_{c}") for c in entry.mins]
        aggs += [F.max(c).alias(f"max_{c}") for c in entry.maxs]
        delta_rollup = delta.groupBy(F.col(key_col)).agg(*aggs)
        old_mv = read_saved(self.spark, entry.path)
        merge_aggs = [F.sum("cnt_star").cast("long").alias("cnt_star")]
        merge_aggs += [
            F.sum(f"sum_{c}").alias(f"sum_{c}") for c in entry.sums
        ]
        merge_aggs += [
            F.min(f"min_{c}").alias(f"min_{c}") for c in entry.mins
        ]
        merge_aggs += [
            F.max(f"max_{c}").alias(f"max_{c}") for c in entry.maxs
        ]
        cols = old_mv.columns
        merged = (
            old_mv.unionByName(
                delta_rollup.select(
                    # the delta rollup's agg output types can widen past
                    # the MV's (sum over DECIMAL(p,s) → p+10); pin every
                    # column to the MV's published schema so refresh
                    # never drifts what substituted queries read
                    *[
                        F.col(c).cast(old_mv.schema[c].dataType).alias(c)
                        for c in cols
                    ]
                )
            )
            .groupBy(F.col(key_col))
            .agg(*merge_aggs)
            .select(
                *[
                    F.col(c).cast(old_mv.schema[c].dataType).alias(c)
                    for c in cols
                ]
            )
        )
        # the merge reads the MV it replaces: stage then swap
        tmp = f"{entry.path}__refresh_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        self.spark.read.schema(merged.schema).parquet(tmp).write.mode(
            "overwrite"
        ).parquet(entry.path)
        save_schema(entry.path, merged.schema)
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
        _write_json(
            os.path.join(entry.path, _SIDECAR),
            {**old_meta, "base_snapshot": base_snapshot(base)},
        )
        self._save_catalog()
        return entry

    def lookup(self, name: str, key_value) -> DataFrame:
        """Direct index probe: ``indexMap(k)`` (SubquerySharing.scala:26-31).
        The key filter reaches the scan (PushedFilters) and prunes row
        groups via the sorted layout — or buckets, for table-backed MVs."""
        e = self._by_name[name]
        df = self._scan(e).filter(F.col(e.key_col) == F.lit(key_value))
        return df.select(*e.columns) if e.columns else df

    # -- the rewrite (shareSubqueries analogue) --
    def optimize(self, q: Lifted) -> Lifted:
        """Rewrite filter-over-scan to index-lookup + residual, or
        filter-over-equi-join to a join-MV scan, when a registered entry
        matches; otherwise return ``q`` unchanged."""
        plan = q.plan
        if not plan.rewritable:
            return q
        # one listing walk per optimize() call, shared by every
        # candidate entry the SLA check visits (None in manual mode)
        q_snapshot = (
            base_snapshot(q.df)
            if self.refresh_mode == "on_read_stale"
            else None
        )
        if plan.agg is not None:
            out = self._optimize_agg(q, plan.agg, q_snapshot)
            if out is not None:
                return out
        if plan.join is not None:
            out = self._optimize_join(q, plan.join, plan.filters, q_snapshot)
            if out is not None:
                return out
        if plan.base_table is None or not plan.filters:
            return q
        conjuncts: list[Node] = []
        for f in plan.filters:
            conjuncts.extend(split_conjuncts(f))
        for i, conj in enumerate(conjuncts):
            m = match_key_equality(conj)
            if m is not None:
                col, value = m
                pred = F.col(col) == F.lit(value)
            else:
                kr = match_key_range(conj)
                ki = None if kr is not None else match_key_in(conj)
                if kr is not None:
                    col, sym, value = kr
                    pred = {
                        "<": F.col(col) < F.lit(value),
                        "<=": F.col(col) <= F.lit(value),
                        ">": F.col(col) > F.lit(value),
                        ">=": F.col(col) >= F.lit(value),
                    }[sym]
                elif ki is not None:
                    # IN-list (r11): a union of key equalities — the dir
                    # layout prunes to the union of key directories, the
                    # hash layout row-group-skips per value
                    col, values = ki
                    pred = F.col(col).isin(*values)
                else:
                    continue
            entry = self._by_table_key.get((plan.base_table, col))
            if entry is None:
                continue
            if _lets_canon(plan.lets) != entry.lets:
                # the MV's computed columns must be structurally identical
                # to the query's (normalized f(x)==k matching); anything
                # else risks a column the scan cannot provide
                continue
            if self._stale_for(entry, q, q_snapshot):
                continue  # SLA: base moved on; compute from the base scan
            residual = [c for j, c in enumerate(conjuncts) if j != i]
            res_cols = [node_to_column(c) for c in residual]
            if any(c is None for c in res_cols):
                continue  # unrecognized residual: bail, don't risk wrong rewrite
            df = self._scan(entry).filter(pred)
            if entry.columns:
                df = df.select(*entry.columns)
            for c in res_cols:
                df = df.filter(c)
            return Lifted(
                df,
                kind=q.kind,
                order=q.order or None,
                plan=PlanInfo(base_table=None, rewritable=False),
            )
        return q

    def _optimize_agg(
        self, q: Lifted, ai: AggInfo, q_snapshot: str | None = None
    ) -> Lifted | None:
        """Substitute a registered rollup MV for a tracked
        ``agg_summary`` shape: the MV must cover the requested column
        set (subset matching — a wider MV answers a narrower query); the
        substituted scan is projected to exactly the query's columns in
        the query's order, so it is a drop-in replacement. None when no
        entry matches — the query computes normally, never wrongly."""
        entry = self._agg_mvs.get((ai.table, ai.key_col))
        if entry is None:
            return None
        if self._stale_for(entry, q, q_snapshot):
            return None  # SLA: base moved on; aggregate the base scan
        if not (
            set(ai.sums) <= set(entry.sums)
            and set(ai.mins) <= set(entry.mins)
            and set(ai.maxs) <= set(entry.maxs)
        ):
            return None
        cols = (
            [ai.key_col, "cnt_star"]
            + [f"sum_{c}" for c in ai.sums]
            + [f"min_{c}" for c in ai.mins]
            + [f"max_{c}" for c in ai.maxs]
        )
        df = read_saved(self.spark, entry.path).select(*cols)
        return Lifted(
            df,
            kind=q.kind,
            plan=PlanInfo(base_table=None, rewritable=False),
        )

    def _optimize_join(
        self,
        q: Lifted,
        ji: JoinInfo,
        post_filters: list[Node],
        q_snapshot: str | None = None,
    ) -> Lifted | None:
        """Substitute a registered join MV: all side- and post-join filters
        become residuals over the MV scan (its column space is the union of
        every chained table, so every recognized conjunct rebuilds
        directly). Bails to None — never a wrong rewrite — on any opaque
        predicate."""
        entry = self._joins.get(ji.signature)
        if entry is None:
            return None
        if self._stale_for(entry, q, q_snapshot):
            return None  # SLA: a side grew since the MV materialized
        residual: list[Node] = []
        for f in [*ji.filters, *post_filters]:
            residual.extend(split_conjuncts(f))
        res_cols = [node_to_column(c) for c in residual]
        if any(c is None for c in res_cols):
            return None
        df = self._scan(entry)
        for c in res_cols:
            df = df.filter(c)
        return Lifted(
            df,
            kind=q.kind,
            order=q.order or None,
            plan=PlanInfo(base_table=None, rewritable=False),
        )
