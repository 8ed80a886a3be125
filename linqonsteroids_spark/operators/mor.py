"""Merge-on-read table: immutable base parquet + ordered delta logs,
reconstructed to latest state at read time.

The write-optimized twin of ``operators/merge.py``'s copy-on-write
``BucketedMergeTable`` (reference analogue: the IVM maintenance surface,
``SURVEY.md §2.8``; the reference maintains derived collections
incrementally — ``ivm/`` — but has no table-format layer at all, so this
is new surface). Writes land as small versioned delta files — upserts
carry full rows, deletes carry only keys — and the base file set is
NEVER rewritten; an append is O(|delta|) regardless of table size. The
read path resolves latest-version-wins per key.

100 TB cost model — why the reader splits the base instead of windowing
it whole: a naive reconstruction unions base + deltas and runs one
row_number() window over EVERY key, i.e. a full shuffle of the 100 TB
base to apply a few MB of deltas. Instead the reader broadcasts the
delta key set and splits the base on membership:

- untouched base rows (the overwhelming majority) flow through a
  broadcast ANTI join — a hash-probe per row, NO shuffle, NO window;
- only base rows whose key appears in some delta enter the
  version-resolution window, so the merge's shuffled volume is
  O(|touched| + |delta|), not O(|base|).

This is the economics Hudi's MOR reader ("merge only the affected file
groups") and Iceberg merge-on-read deletes implement; periodic
``operators/compact.py`` rewrites fold the log back into base.

Contract: within one delta version, keys are unique (upsert semantics);
versions are strictly increasing positive ints. Delete markers are
null-padded to the table schema by ``append_delta``, and the reader
never reads a delete row's payload.

Schema evolution (r14): an upsert may carry a SUBSET of the table's
columns (absent columns are null-padded) or a SUPERSET (new columns
become nullable additions visible from the version that introduced
them). Type changes on existing columns are REFUSED using the
``functions/schema_compat.py`` verdict classes — the same rule a
parquet reader enforces, applied at write time where it is cheap.

Concurrency contract (r15 — multi-writer through the commit seam,
``sources/commitlog.py``):

- **Appends** are multi-writer safe. ``append_delta(version=None)``
  ALLOCATES the next version through the seam: the delta stages under
  a private name and claims ``mor_v=N`` with ``publish_dir_if_absent``
  — the atomic compare-and-create every backend provides (POSIX
  no-clobber rename; object stores a conditional PUT) — retrying at
  the next number on a lost race. An explicit ``version=`` goes
  through the same atomic claim and raises on collision instead of
  retrying. Either way two concurrent appends can never tear or
  silently overwrite each other.
- **Maintenance** (``compact``, ``compact_log``, ``merge_into``) and
  every metadata read-modify-write run inside the per-table
  ``commit_lock``; where the backend leases locks with a TTL
  (:class:`~linqonsteroids_spark.sources.commitlog.ConditionalPutBackend`)
  the holder's meta writes carry its FENCING token, so a zombie
  compactor whose lease was taken over loses at the meta write instead
  of corrupting the new holder's state.
- ``digest_manifest=True`` additionally serializes WHOLE appends under
  the commit lock: the before-image is derived from the table state at
  append start, so two unserialized concurrent appends touching
  overlapping keys would both retract the same before-image and leave
  the manifest permanently XOR-inconsistent (the r14 advice item).
  Digest tables trade append concurrency for O(changes) auditability —
  by construction, not by discipline.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from linqonsteroids_spark.session import materialize

_OP = "_op"  # 'U' = upsert (full row), 'D' = delete (key only)
_VER = "_v"
_META = "_mor_meta.json"


def _to_epoch(ts) -> float:
    """Normalize a commit/probe timestamp to epoch seconds. Naive ISO
    strings and naive datetimes are taken as UTC — commit wall-clocks
    must be zone-unambiguous or timestamp travel resolves differently
    per client."""
    import datetime

    if isinstance(ts, bool):
        raise TypeError("timestamp cannot be a bool")
    if isinstance(ts, (int, float)):
        return float(ts)
    if isinstance(ts, str):
        ts = datetime.datetime.fromisoformat(ts)
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return ts.timestamp()
    if isinstance(ts, datetime.date):
        return _to_epoch(
            datetime.datetime(ts.year, ts.month, ts.day)
        )
    raise TypeError(f"unsupported timestamp type: {type(ts).__name__}")


class MorTable:
    """A key-addressed merge-on-read table rooted at ``path``.

    Layout::

        path/base/...parquet          immutable initial snapshot
        path/delta/mor_v=N/...parquet delta log, Hive-partitioned by
                                      version (no leading underscore —
                                      Hadoop listings hide _-prefixed
                                      dirs)
        path/_mor_meta.json           {"compacted_through": N} — the
                                      time-travel horizon; versions <= N
                                      are folded into base

    ``digest_manifest=True`` co-maintains a reconciliation sidecar
    (``operators/tablediff.py`` digest manifest) per write: the base
    write summarizes the snapshot, every ``append_delta`` applies its
    own before/after images as an O(changes) incremental update, and
    ``compact`` leaves it untouched (the logical state is unchanged).
    The audit question "has this table drifted from what its writes
    claim" then costs one scan + a KB compare at ANY point in the
    append→compact→append lifecycle, with no second snapshot retained.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        digest_manifest: bool = False,
        manifest_buckets: int = 256,
        bloom_ndv: dict[str, int] | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        self.digest_manifest = digest_manifest
        self.manifest_buckets = manifest_buckets
        self._bloom_param = bloom_ndv
        self._base = os.path.join(path, "base")
        self._delta_root = os.path.join(path, "delta")
        self._staged = os.path.join(path, "_compact_staged")
        self._lock_path = os.path.join(path, "_commit.lock")
        self._tl = threading.local()  # reentrancy for _locked()
        self._sweep_txn_markers()
        self._recover_interrupted_compact()
        self._recover_interrupted_log_fold()
        self._sweep_orphaned_delta_staging()

    def _sweep_orphaned_delta_staging(self) -> None:
        """Reclaim staged delta dirs stranded by a crashed append (died
        between its staged write and the atomic claim) — without this,
        every such crash leaks a delta-sized copy forever, the same
        debris class as the r12 retired-base leak. Staged names carry
        the writer's pid; ONLY dirs whose pid is dead are swept, so a
        LIVE concurrent appender mid-publish is never yanked out from
        under its rename. Pid liveness is a single-host signal — a
        multi-host object-store deployment reclaims orphaned staging
        with storage lifecycle rules instead (age-based, exactly what
        Delta/Iceberg docs prescribe for their _tmp prefixes)."""
        import glob
        import shutil

        for d in glob.glob(os.path.join(self.path, "_delta_staged.*")):
            parts = os.path.basename(d).split(".")
            try:
                pid = int(parts[1])
            except (IndexError, ValueError):
                continue  # unknown layout: leave it for a human
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                shutil.rmtree(d, ignore_errors=True)
            except PermissionError:
                pass  # pid exists under another uid: alive, keep

    def _assert_fence_valid(self) -> None:
        """Abort if this thread's held lease was taken over (the fence
        is stale). Maintenance ops hold the commit lock across Spark
        jobs; on a leased backend a job outlasting the TTL makes the
        holder a ZOMBIE, and fencing only guards META writes — a
        zombie merge could still publish a delta classified against a
        pre-takeover state (lost-update write skew). This probe is a
        fenced no-op put checked immediately before the decision's
        publish, shrinking the unguarded window to probe→publish; a
        real object-store port closes even that by making the delta
        publish itself a fenced conditional PUT of the manifest key."""
        from linqonsteroids_spark.sources.commitlog import fenced_put

        fence = getattr(self._tl, "fence", None)
        if fence is None:
            return  # non-leased backend: the lock cannot be lost
        if not fenced_put(
            os.path.join(self.path, "_fence_probe"),
            str(fence),
            self._lock_path,
            fence,
        ):
            raise RuntimeError(
                "commit fence lost mid-operation: this holder's lease "
                "was taken over — aborting before publishing a "
                "decision made against a pre-takeover state"
            )

    @contextlib.contextmanager
    def _locked(self):
        """Per-table commit lock through the seam, reentrant WITHIN a
        thread (``merge_into`` holds it across its classify→append
        window while the append's own meta stamp re-enters). Yields the
        backend's fencing token (None on POSIX) for fenced meta
        writes."""
        from linqonsteroids_spark.sources.commitlog import commit_lock

        if getattr(self._tl, "held", False):
            yield getattr(self._tl, "fence", None)
            return
        os.makedirs(self.path, exist_ok=True)
        with commit_lock(self._lock_path) as fence:
            self._tl.held, self._tl.fence = True, fence
            try:
                yield fence
            finally:
                self._tl.held, self._tl.fence = False, None

    # --- compaction horizon ---------------------------------------------------
    def _folded_versions(self) -> set[int]:
        """Versions removed by log compaction (``compact_log``): their
        individual states are no longer reconstructible — the net
        version at the fold target subsumes them — so as-of/changes
        refuse them by name instead of claiming they never committed."""
        meta = os.path.join(self.path, _META)
        if not os.path.exists(meta):
            return set()
        with open(meta) as f:
            return set(json.load(f).get("folded_versions", []))

    def _read_meta(self) -> dict:
        meta = os.path.join(self.path, _META)
        if not os.path.exists(meta):
            return {"compacted_through": 0}
        with open(meta) as f:
            return json.load(f)

    def _write_meta_dict(self, m: dict, fence=None) -> None:
        """Publish the meta object. With a fencing token (a leased
        backend's ``commit_lock`` yielded one) the publish is FENCED:
        a holder whose lease was taken over mid-operation loses here —
        loudly — instead of clobbering the new holder's meta (the
        zombie-compactor hazard lease TTLs introduce)."""
        from linqonsteroids_spark.sources.commitlog import (
            atomic_replace,
            fenced_put,
        )

        final = os.path.join(self.path, _META)
        if fence is not None:
            if not fenced_put(
                final, json.dumps(m), self._lock_path, fence
            ):
                raise RuntimeError(
                    "commit fence lost: this holder's lease was taken "
                    "over mid-operation — aborting the meta publish "
                    "(the new holder owns the table now)"
                )
            return
        tmp = os.path.join(self.path, _META + ".tmp")
        with open(tmp, "w") as f:
            json.dump(m, f)
        atomic_replace(tmp, os.path.join(self.path, _META))

    def _compacted_through(self) -> int:
        """Highest delta version folded into base by a compact().

        Versions ``<= `` this horizon are not time-travelable: their
        files may be gone (normal compact) or still present but
        subsumed (crash between the meta write and the log sweep), and
        in the latter case the base may already include later versions'
        effects — reconstructing an old prefix over it would be WRONG,
        so the horizon refuses rather than guesses."""
        return int(self._read_meta().get("compacted_through", 0))

    def _write_meta(
        self, compacted_through: int, fence=None, base_schema=None
    ) -> None:
        """Advance the horizon; ``compact`` also records the schema of the
        base it is about to promote, in the same write."""
        m = self._read_meta()
        m["compacted_through"] = compacted_through
        if base_schema is not None:
            m["base_schema"] = base_schema.jsonValue()
        # versions at or below the horizon are refused by the horizon
        # rule already; keep the folded list small
        m["folded_versions"] = [
            v
            for v in m.get("folded_versions", [])
            if v > compacted_through
        ]
        self._write_meta_dict(m, fence=fence)

    def _recover_interrupted_compact(self) -> None:
        """Finish a compact() that crashed between its renames.

        The only reader-visible crash window is ``base`` absent with a
        COMPLETE staged snapshot present (reads fail loudly in it, they
        never serve wrong data); recovery promotes the staged snapshot.
        An INCOMPLETE staged dir (no _SUCCESS) is debris from a crash
        before the swap began — the live table is untouched, drop it.

        A ``_retired_base.<pid>`` dir is the old base awaiting removal
        (compact's last step). It can only coexist with a live ``base``
        once the staged→base promote completed (``os.replace`` is
        atomic, so ``base`` absent ⇔ mid-swap), at which point ``base``
        IS the merged snapshot: the retired copy — and the delta
        versions it subsumed — are pure debris. Without this sweep
        every crashed compact strands a full table copy (the r12
        verdict's item 3); at 100 TB that is real money per crash.

        The sweep removes ONLY delta versions ``<=`` the recorded
        compaction horizon (``_mor_meta.json``, written by compact()
        BEFORE its swap): a version appended by another still-live
        writer between the compact crash and this recovery is above the
        horizon and survives — it is real committed data the merged
        base does NOT subsume (the r13 advice's multi-process loss
        scenario). Dropping the subsumed versions is safe for the same
        reason compact's own late sweep is: re-applying them onto the
        merged base is idempotent under latest-version-wins, so a crash
        ANYWHERE in this sweep leaves a correct readable table for the
        next recovery pass.
        """
        import glob
        import shutil

        from linqonsteroids_spark.sources.commitlog import atomic_replace

        if os.path.isdir(self._staged):
            staged_complete = os.path.exists(
                os.path.join(self._staged, "_SUCCESS")
            )
            if staged_complete and not os.path.isdir(self._base):
                atomic_replace(self._staged, self._base)
            elif os.path.isdir(self._base):
                horizon = self._compacted_through()
                subsumed = [
                    v for v in self._existing_versions() if v <= horizon
                ]
                if staged_complete and subsumed:
                    # Crash landed BETWEEN compact's meta write and its
                    # base swap (the r14 advice window): the horizon is
                    # advanced, the staged snapshot is complete, and the
                    # OLD base still serves alongside the full delta
                    # log. Dropping the staged dir here (the pre-r15
                    # behavior) stranded the table in that state until
                    # the next full compact — as-of reads over-refused
                    # and changes(horizon, ...) had to rebuild its
                    # pre-state from base+deltas. Roll FORWARD instead:
                    # every remaining step of the crashed compact is a
                    # rename or a horizon-bounded sweep, all idempotent,
                    # so finishing is strictly better than rolling the
                    # horizon back and discarding the staged work.
                    old = os.path.join(
                        self.path, f"_retired_base.{os.getpid()}"
                    )
                    atomic_replace(self._base, old)
                    atomic_replace(self._staged, self._base)
                    for v in subsumed:
                        shutil.rmtree(self._version_dir(v))
                    if os.path.isdir(
                        self._delta_root
                    ) and not os.listdir(self._delta_root):
                        os.rmdir(self._delta_root)
                    shutil.rmtree(old)
                else:
                    # incomplete staging, or a complete staging whose
                    # meta write never landed (live versions are all
                    # above the horizon): the live table is untouched
                    # debris-drop territory
                    shutil.rmtree(self._staged)
        retired = glob.glob(os.path.join(self.path, "_retired_base.*"))
        if retired and os.path.isdir(self._base):
            for d in retired:
                shutil.rmtree(d)
            horizon = self._compacted_through()
            for v in self._existing_versions():
                if v <= horizon:
                    shutil.rmtree(self._version_dir(v))
            if os.path.isdir(self._delta_root) and not os.listdir(
                self._delta_root
            ):
                os.rmdir(self._delta_root)

    # --- writes -------------------------------------------------------------
    #: names the reader claims for itself; a base schema using them would
    #: be silently corrupted by withColumn/partition-dir shadowing
    _RESERVED = frozenset({_OP, _VER, "_rn", "mor_v", "_last_version"})

    def write_base(self, df: DataFrame, stats_files: int | None = None) -> None:
        """``stats_files`` range-clusters the base on the key into that
        many files and records a per-file (min, max) key manifest
        (``sources/fileindex.py``), enabling :meth:`lookup`'s
        O(touched files) point reads; plain write otherwise.

        With ``bloom_ndv`` configured on the table, every data file is
        additionally stamped with parquet split-block bloom filters on
        those columns (``sources/bloomfilters.py``) — the skipping
        signal for :meth:`lookup_by` point reads on SECONDARY columns,
        which key-range statistics cannot prune (an unclustered
        column's [min, max] spans every file). The setting is recorded
        in the table meta so compaction restages keep stamping it from
        any handle. Blooms are layout-independent and compose with the
        key-range manifest."""
        clash = self._RESERVED & set(df.columns)
        if clash:
            raise ValueError(
                f"base schema uses reserved MOR column names: {sorted(clash)}"
            )
        bloom = self._bloom_ndv()
        if stats_files is not None:
            from linqonsteroids_spark.sources.fileindex import (
                write_with_stats,
            )

            write_with_stats(
                df, self._base, [self.key], n_files=stats_files,
                bloom_ndv=bloom or None,
            )
        else:
            self._write_parquet(df, self._base, mode="error")
        if bloom:
            with self._locked() as fence:
                m = self._read_meta()
                m["bloom_ndv"] = {c: int(n) for c, n in bloom.items()}
                self._write_meta_dict(m, fence=fence)
        with self._locked() as fence:
            m = self._read_meta()
            m["schema"] = m["base_schema"] = df.schema.jsonValue()
            m["schema_through"] = int(m.get("compacted_through", 0))
            self._write_meta_dict(m, fence=fence)
        if self.digest_manifest:
            from linqonsteroids_spark.operators.tablediff import (
                write_digest_manifest,
            )

            write_digest_manifest(
                self._read_base(),
                self.path,
                [self.key],
                n_buckets=self.manifest_buckets,
            )

    def _bloom_ndv(self) -> dict[str, int]:
        """Effective bloom-filter config: the constructor parameter, or
        the setting ``write_base`` recorded in the meta (so a fresh
        handle's compact keeps stamping the filters)."""
        if self._bloom_param is not None:
            return {c: int(n) for c, n in self._bloom_param.items()}
        return {
            c: int(n)
            for c, n in self._read_meta().get("bloom_ndv", {}).items()
        }

    def _write_parquet(self, df: DataFrame, path: str, mode: str) -> None:
        """The table's one parquet-writing seam: stamps the configured
        bloom filters on every data file (base, staged compact
        snapshots, and delta versions alike — a delta big enough to
        matter prunes too)."""
        w = df.write.mode(mode)
        for c, ndv in self._bloom_ndv().items():
            w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
            w = w.option(
                f"parquet.bloom.filter.expected.ndv#{c}", str(ndv)
            )
        w.parquet(path)

    def _all_claimed_versions(self) -> list[int]:
        """Every claimed version DIRECTORY, visible or not — the
        allocation view (a new version number must not collide with an
        in-flight transactional claim)."""
        if not os.path.isdir(self._delta_root):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(self._delta_root)
            if d.startswith("mor_v=")
        )

    def _existing_versions(self) -> list[int]:
        """COMMITTED (reader-visible) versions. A version dir carrying
        a ``_TXN`` marker is visible only if its transaction's decision
        record says ``commit`` (operators/mortxn.py) — in-flight and
        aborted transactional versions are invisible to every read,
        feed, maintenance, and schema path, which all route through
        here. Unmarked versions pay one ``exists`` probe and nothing
        else."""
        from linqonsteroids_spark.operators.mortxn import (
            version_visibility,
        )

        out = []
        for v in self._all_claimed_versions():
            d = self._version_dir(v)
            if version_visibility(d) == "visible":
                out.append(v)
        return out

    def _inflight_versions(self) -> list[int]:
        """Claimed versions whose transaction is still undecided."""
        from linqonsteroids_spark.operators.mortxn import (
            version_visibility,
        )

        return [
            v
            for v in self._all_claimed_versions()
            if version_visibility(self._version_dir(v)) == "in-flight"
        ]

    def _table_schema(self):
        """The table's CURRENT evolved schema: base fields plus every
        column a delta version has added, in introduction order.

        r15: served from the ``schema`` cache in ``_mor_meta.json``
        (updated transactionally by every append), so the cost is one
        small JSON read regardless of log depth — a thousand-version
        log no longer pays a thousand parquet-footer round trips per
        append (the r14 verdict's design note). The cache records
        ``schema_through``, the highest version it covers; any live
        version above it (a crash between an append's delta publish and
        its meta stamp, or a pre-r15 table with no cache at all) is
        caught up from its parquet footer — self-healing, and the next
        append's meta stamp persists the catch-up."""
        fields, _, _ = self._evolved_fields(self._read_meta())
        return fields

    def _evolved_fields(self, m: dict, known: dict | None = None):
        """(fields, through, added): the evolved schema per the meta cache
        plus catch-up for any live version the cache doesn't cover, and
        the version that introduced each column a delta added. ``known``
        maps a version to the columns it adds when the caller just wrote
        it; other uncovered versions are caught up from their footers."""
        cached = m.get("schema")
        if cached is not None:
            fields = list(StructType.fromJson(cached).fields)
            through = int(m.get("schema_through", 0))
        else:
            fields = self._footer_fields(self._base)
            through = 0
        added = dict(m.get("schema_added", {}))
        seen = {f.name for f in fields}
        have = self._existing_versions()
        for v in have:
            if v <= through:
                continue
            new = (known or {}).get(v)
            if new is None:
                new = self._footer_fields(self._version_dir(v))
            for f in new:
                if f.name not in seen and f.name != _OP:
                    fields.append(f)
                    seen.add(f.name)
                    added[f.name] = v
        return fields, max([through, *have]), added

    def _footer_fields(self, path: str) -> list:
        """Fields of the parquet files under ``path``: the only schema
        inference here, for data the meta does not describe (an older
        table, or a version whose writer died before its meta stamp)."""
        return list(self.spark.read.parquet(path).schema.fields)

    def _version_dir(self, v: int) -> str:
        return os.path.join(self._delta_root, f"mor_v={v}")

    def _read_base(self, *paths: str) -> DataFrame:
        """The base files (all, or the listed subset) read with the schema
        their writer recorded in the meta (``write_base`` / ``compact``)."""
        cached = self._read_meta().get("base_schema")
        schema = StructType.fromJson(cached) if cached else StructType(
            self._footer_fields(self._base)
        )
        return self.spark.read.schema(schema).parquet(*(paths or [self._base]))

    def _read_deltas(self, versions: list[int]) -> DataFrame:
        """The delta versions listed, tagged ``_v`` = version. Read with the
        evolved schema as of the newest of them — a column a later
        version added is absent, as it was in that state — plus ``_op``;
        ``mor_v`` comes from the directory names."""
        fields, _, added = self._evolved_fields(self._read_meta())
        top = max(versions)
        schema = StructType(
            [f for f in fields if added.get(f.name, 0) <= top]
            + [StructField(_OP, StringType())]
        )
        return (
            self.spark.read.schema(schema)
            .option("basePath", self._delta_root)
            .parquet(*[self._version_dir(v) for v in versions])
            .withColumn(_VER, F.col("mor_v").cast("int"))
            .drop("mor_v")
        )

    def _next_version(self) -> int:
        """Next candidate version: above every live version, every
        burned (log-folded) version NAME, and the compaction horizon."""
        m = self._read_meta()
        return (
            max(
                [
                    int(m.get("compacted_through", 0)),
                    *m.get("folded_versions", []),
                    *self._all_claimed_versions(),
                ]
            )
            + 1
        )

    def append_delta(
        self,
        version: int | None = None,
        upserts: DataFrame | None = None,
        delete_keys: DataFrame | None = None,
        commit_timestamp=None,
        txn=None,
        check_unique: bool = True,
    ) -> int:
        """Append one delta version: full-row upserts and/or key-only
        deletes. Returns the committed version number.

        ``version=None`` (allocate mode) makes the append MULTI-WRITER
        SAFE: the delta stages under a private name and the final
        ``mor_v=N`` name is claimed through the commit seam's atomic
        compare-and-create (``publish_dir_if_absent``); a lost race
        re-stages at the next number. An explicit ``version`` takes the
        same atomic claim but raises on collision — the caller chose
        the number, so silently taking a different one would lie.

        ``commit_timestamp`` (optional; epoch seconds, ISO string, or
        datetime) pins this version's wall-clock for timestamp time
        travel; defaults to now. Recorded timestamps are forced
        monotonically non-decreasing across versions (an explicit
        earlier-than-history timestamp is refused) so
        ``read(as_of_timestamp=...)`` resolution is well-defined.

        Schema evolution: upserts may OMIT existing columns (null-padded
        here) and may ADD new columns (nullable additions, visible from
        this version on). A TYPE change on an existing column is refused
        with the ``schema_compat`` verdict class that names the hazard —
        widenings included, because the log would then carry mixed
        physical types that ``mergeSchema`` readers reject at read time,
        far from the write that caused it. ``delete_keys`` needs only
        the key column; payload columns are null-padded so the reader
        never depends on a delete row's payload.

        Digest-manifest cost note: with ``digest_manifest=True`` the
        before-image is the pre-append state of the touched keys —
        column-pruned to the manifest's key+compare columns and probed
        via broadcast semi-joins (no table shuffle), but it IS one scan
        of the base per append. The manifest's O(|changes|) claim is
        about the METADATA update and the audit it replaces (a full
        rescan compare); an ingest pipeline where even the scan is too
        much should batch appends or maintain the manifest from its own
        CDC before-images (``update_digest_manifest`` accepts any
        before/after pair) instead of deriving them here. Digest-mode
        appends are additionally SERIALIZED under the table commit lock
        (see the module concurrency contract): the before-image is only
        correct against a table no other writer is mutating.
        ``txn`` (r15, ``operators/mortxn.py``) makes this append part
        of a MULTI-TABLE ATOMIC transaction: the published version dir
        carries the transaction marker and stays INVISIBLE to every
        reader of every table until the transaction's single
        decision-record CAS commits them all together. Transactional
        appends may not add new columns and may not target a
        digest-manifest table (refused loudly — see the mortxn module
        contract for why).
        """
        if txn is not None and self.digest_manifest:
            raise ValueError(
                "transactional appends are not supported on a "
                "digest_manifest table: the manifest applies images at "
                "append time, so an aborted transaction would leave "
                "them applied — maintain the manifest from the "
                "committed change feed instead"
            )
        if self.digest_manifest:
            with self._locked():
                return self._append_delta(
                    version, upserts, delete_keys, commit_timestamp,
                    check_unique=check_unique,
                )
        return self._append_delta(
            version, upserts, delete_keys, commit_timestamp, txn,
            check_unique=check_unique,
        )

    def _append_delta(
        self, version, upserts, delete_keys, commit_timestamp, txn=None,
        check_unique=True,
    ) -> int:
        from linqonsteroids_spark.functions.schema_compat import (
            reader_compatibility,
        )

        have = self._existing_versions()
        if version is not None:
            if have and version <= have[-1]:
                raise ValueError(
                    f"delta versions must increase: have {have}, got {version}"
                )
            if version <= self._compacted_through():
                raise ValueError(
                    f"delta versions must increase: version {version} is at or "
                    f"below the compaction horizon "
                    f"{self._compacted_through()}"
                )
        table_fields = self._table_schema()
        table_names = [f.name for f in table_fields]
        before_rows = None
        touched = None
        if self.digest_manifest:
            touched = self._touched_keys(upserts, delete_keys)
            # pre-change rows of every touched key; the read plan pins
            # its version-dir list NOW, so evaluating it after the new
            # delta lands still yields the PRE-append state
            before_rows = self.read().join(
                F.broadcast(touched), self.key, "left_semi"
            )
        parts: list[DataFrame] = []
        new_cols = []
        if upserts is not None:
            if self.key not in upserts.columns:
                raise ValueError(
                    f"upserts must carry the key column {self.key!r}"
                )
            new_cols = [
                f
                for f in upserts.schema.fields
                if f.name not in table_names
            ]
            clash = self._RESERVED & {f.name for f in new_cols}
            if clash:
                raise ValueError(
                    f"upsert adds reserved MOR column names: {sorted(clash)}"
                )
            if txn is not None and new_cols:
                raise ValueError(
                    "transactional appends may not add new columns "
                    f"({[f.name for f in new_cols]}): a late-committed "
                    "version numbered below the schema cache watermark "
                    "would evade the catch-up scan — evolve the schema "
                    "in a non-transactional append first"
                )
            common_table = StructType(
                [f for f in table_fields if f.name in set(upserts.columns)]
            )
            common_up = StructType(
                [f for f in upserts.schema.fields if f.name in table_names]
            )
            verdict = reader_compatibility(common_table, common_up)
            # only TYPE differences matter here: the log would carry
            # mixed physical types that mergeSchema readers reject.
            # Nullability differences are fine — writing non-null data
            # into a nullable column is always safe.
            changed = [
                (cls, name)
                for cls, name in verdict["findings"]
                if cls in ("widened", "silent-narrowing", "type-incompatible")
            ]
            if changed:
                raise ValueError(
                    "upsert schema changes the type of existing column(s): "
                    f"{changed} — schema evolution accepts only nullable "
                    "column additions and omissions"
                )
            padded = upserts.select(
                *[
                    F.col(f.name)
                    if f.name in upserts.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in table_fields
                ],
                *[F.col(f.name) for f in new_cols],
            )
            parts.append(padded.withColumn(_OP, F.lit("U")))
        if delete_keys is not None:
            padded = delete_keys.select(
                self.key,
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in table_fields
                    if f.name != self.key
                ],
            ).select(*table_names)
            parts.append(padded.withColumn(_OP, F.lit("D")))
        if not parts:
            raise ValueError("append_delta needs upserts and/or delete_keys")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if check_unique:
            # one key, one outcome per version: two rows of the same
            # key WITHIN a version (upsert twice, or upsert + delete)
            # would make last-wins resolution order-dependent — the
            # read would pick whichever row the shuffle happened to
            # order first, a nondeterminism no refusal downstream can
            # catch. SQL MERGE refuses multi-matched sources for the
            # same reason (Delta's "multiple source rows matched").
            # One O(batch) aggregate over the delta being published;
            # callers that guarantee uniqueness by construction (e.g.
            # a keyed micro-batch) pass check_unique=False.
            dup = (
                out.groupBy(self.key)
                .count()
                .where(F.col("count") > 1)
                .limit(5)
                .collect()
            )
            if dup:
                raise ValueError(
                    "delta batch carries multiple rows for key(s) "
                    f"{[r[self.key] for r in dup]} within ONE version "
                    "— last-wins would be order-dependent; dedupe the "
                    "batch (or split upsert and delete of a key into "
                    "separate versions), or pass check_unique=False "
                    "if uniqueness is guaranteed by construction"
                )
        if commit_timestamp is not None:
            # validate monotonicity BEFORE publishing: a refused
            # timestamp must not strand a committed-but-unstamped
            # version (the stamp re-checks under the lock — that
            # re-check is the concurrent-writer backstop, this one is
            # the sequential-caller fast path)
            early = _to_epoch(commit_timestamp)
            prev = max(
                self._read_meta()
                .get("version_timestamps", {})
                .values(),
                default=0.0,
            )
            if early < prev:
                raise ValueError(
                    f"commit_timestamp {early} precedes an already "
                    f"recorded commit ({prev}): timestamps must be "
                    "non-decreasing across versions"
                )
        committed = self._publish_delta(out, version, txn)
        if txn is not None:
            # invisible until the txn's decision CAS; the stamp (and
            # with it, visibility metadata) happens at commit-finalize
            txn.enlist(self, committed)
            return committed
        self._stamp_commit(committed, commit_timestamp, new_cols)
        version = committed
        if self.digest_manifest:
            from linqonsteroids_spark.operators.tablediff import (
                update_digest_manifest,
            )

            # after-image: the upserted rows as the table will now hold
            # them, projected to the manifest's own (frozen) columns by
            # update_digest_manifest itself. Ordering: delta first, then
            # manifest — a crash between leaves the manifest one batch
            # BEHIND the table, which the audit reports as drift (the
            # detectable direction) rather than describing a state that
            # never committed.
            after_rows = (
                parts[0].where(F.col(_OP) == "U").drop(_OP)
                if upserts is not None
                else None
            )
            update_digest_manifest(
                self.path,
                before=before_rows,
                after=after_rows,
            )
        return version

    def _publish_delta(
        self, out: DataFrame, version: int | None, txn=None
    ) -> int:
        """Stage the delta privately, then claim its final ``mor_v=N``
        name via the seam's atomic compare-and-create. The staged bytes
        are version-independent (the version lives in the DIRECTORY
        name), so a lost allocation race only costs a re-stage — and a
        collision can never tear: the loser's staged dir is discarded
        by the seam, the winner's committed dir is untouched."""
        import uuid

        from linqonsteroids_spark.sources.commitlog import (
            publish_dir_if_absent,
        )

        os.makedirs(self._delta_root, exist_ok=True)
        for _ in range(64):
            candidate = version if version is not None else self._next_version()
            # pid-tagged so a crashed appender's orphaned staging is
            # identifiable and reclaimed by the next construction's
            # sweep (_sweep_orphaned_delta_staging)
            staged = os.path.join(
                self.path,
                f"_delta_staged.{os.getpid()}.{uuid.uuid4().hex[:12]}",
            )
            self._write_parquet(out, staged, "error")
            if txn is not None:
                # the marker rides the directory rename: no reader can
                # ever see the version without seeing it is
                # transactional (operators/mortxn.py protocol step 2)
                with open(os.path.join(staged, "_TXN"), "w") as f:
                    f.write(txn.marker_payload())
            if publish_dir_if_absent(
                staged,
                os.path.join(self._delta_root, f"mor_v={candidate}"),
            ):
                return candidate
            if version is not None:
                raise ValueError(
                    f"delta version {version} already exists: a "
                    "concurrent writer claimed it first (use "
                    "version=None to allocate-and-retry)"
                )
        raise RuntimeError(
            "could not allocate a delta version in 64 attempts — a "
            "writer storm or a livelocked allocator"
        )

    def _finalize_txn_version(self, version: int, commit_timestamp=None) -> None:
        """Post-decision cleanup for one committed transactional
        version: drop the ``_TXN`` marker (visibility no longer needs
        the decision probe) and stamp the commit wall-clock. Idempotent
        — ``MorTxn.commit`` runs it inline and any later construction's
        ``_sweep_txn_markers`` replays it after a crash. Marker first:
        a crash between the two leaves the version live-but-unstamped,
        exactly the append crash window the stamp machinery already
        refuses loudly and heals."""
        marker = os.path.join(
            self._delta_root, f"mor_v={version}", "_TXN"
        )
        if os.path.exists(marker):
            os.remove(marker)
        # a transactional version may not add columns (append_delta)
        self._stamp_commit(version, commit_timestamp, [])

    def _sweep_txn_markers(self) -> None:
        """Construction-time transactional recovery: finalize committed
        versions a crashed committer never cleaned up (their decision
        record IS the commit — this just retires the per-read decision
        probe), sweep aborted version dirs, and leave in-flight ones
        strictly alone (their writer may be racing toward its decision
        CAS right now; only an explicit ``force_abort`` may kill them)."""
        import shutil

        from linqonsteroids_spark.operators.mortxn import (
            version_visibility,
        )

        for v in self._all_claimed_versions():
            d = self._version_dir(v)
            if not os.path.exists(os.path.join(d, "_TXN")):
                continue
            state = version_visibility(d)
            if state == "visible":
                self._finalize_txn_version(v)
            elif state == "aborted":
                shutil.rmtree(d)

    def _stamp_commit(self, version: int, commit_timestamp, new_cols: list) -> None:
        """Record the committed version's wall-clock and fold its
        schema into the meta cache — ONE serialized read-modify-write
        under the table commit lock (concurrent appends interleave
        here safely). Timestamps are clamped monotonically
        non-decreasing; a crash between a delta's publish and its stamp
        leaves the version live-but-unstamped, which timestamp
        resolution refuses loudly and the NEXT stamp heals (the healed
        version inherits this stamp's timestamp — conservative: probes
        inside the ambiguous gap resolve to the older state)."""
        with self._locked() as fence:
            m = self._read_meta()
            ts_map = m.get("version_timestamps", {})
            prev_max = max(ts_map.values(), default=0.0)
            if commit_timestamp is None:
                ts = max(time.time(), prev_max)
            else:
                ts = _to_epoch(commit_timestamp)
                if ts < prev_max:
                    raise ValueError(
                        f"commit_timestamp {ts} precedes an already "
                        f"recorded commit ({prev_max}): timestamps "
                        "must be non-decreasing across versions"
                    )
            ts_map[str(version)] = ts
            for v in self._existing_versions():  # heal unstamped
                ts_map.setdefault(str(v), ts)
            m["version_timestamps"] = ts_map
            fields, through, added = self._evolved_fields(m, {version: new_cols})
            m["schema"] = StructType(fields).jsonValue()
            m["schema_through"] = through
            m["schema_added"] = added
            self._write_meta_dict(m, fence=fence)

    # --- named refs (tags) ------------------------------------------------------
    def tag(self, name: str, version: int | None = None, timestamp=None) -> int:
        """Pin a reconstructible state under a NAME — Iceberg's tag refs
        (``CREATE TAG``) re-expressed on the delta-log history: a tag is
        one ``{name: version}`` meta entry, so creating one costs a
        metadata write, never a data copy. ``read(tag=name)`` reads the
        pinned state forever after ("the corpus snapshot we trained
        run X on"), and RETENTION RESPECTS TAGS: :meth:`compact` /
        :meth:`compact_log` REFUSE to fold a tagged version's state
        away — the caller must ``delete_tag`` first, making history
        destruction a two-step, named, auditable act instead of a side
        effect of routine maintenance (exactly Iceberg's
        expire-snapshots-respects-refs rule).

        ``version=None`` with no ``timestamp`` tags the LATEST state
        (the newest live version, or the compaction horizon when the
        log is empty — i.e. the base snapshot). A ``timestamp`` resolves
        through the recorded commit wall-clocks like
        ``read(as_of_timestamp=)``. The resolved version must be
        reconstructible NOW (same refusal taxonomy as ``read``: below
        the horizon / log-folded / never committed all refuse), so a
        tag can never be born dead. Re-tagging an existing name is
        idempotent at the same version and refused at a different one
        (tags are immutable pins; move = ``delete_tag`` + ``tag``).
        Returns the pinned version."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version or timestamp, not both")
        with self._locked() as fence:
            m = self._read_meta()
            have = self._existing_versions()
            horizon = int(m.get("compacted_through", 0))
            if timestamp is not None:
                version = self._version_at(timestamp)
                if version == 0 and horizon > 0:
                    raise ValueError(
                        f"timestamp {timestamp!r} predates every "
                        "reconstructible state: the base was folded "
                        f"through version {horizon} by compaction"
                    )
            if version is None:
                version = have[-1] if have else horizon
            version = int(version)
            if not (version == horizon or version in have):
                if version < horizon:
                    raise ValueError(
                        f"cannot tag version {version}: it is below the "
                        f"compaction horizon {horizon} — its state was "
                        "folded into the base"
                    )
                if version in set(m.get("folded_versions", [])):
                    raise ValueError(
                        f"cannot tag version {version}: it was folded "
                        "by log compaction and is no longer "
                        "reconstructible"
                    )
                raise ValueError(
                    f"cannot tag version {version}: not in the delta "
                    f"log {have} — it never committed"
                )
            tags = m.get("tags", {})
            prior = tags.get(name)
            if prior is not None:
                if int(prior) == version:
                    return version  # idempotent re-pin
                raise ValueError(
                    f"tag {name!r} already pins version {prior}: tags "
                    "are immutable — delete_tag() first to move it"
                )
            tags[name] = version
            m["tags"] = tags
            self._write_meta_dict(m, fence=fence)
            return version

    def tags(self) -> dict[str, int]:
        """Live tag refs, ``{name: pinned version}``."""
        return {
            k: int(v) for k, v in self._read_meta().get("tags", {}).items()
        }

    def delete_tag(self, name: str) -> None:
        """Drop a tag ref — the explicit step that releases its pinned
        state back to retention (compaction can fold past it only after
        this). Unknown names refuse loudly: a typo must not silently
        'succeed' and leave the real tag still blocking retention."""
        with self._locked() as fence:
            m = self._read_meta()
            tags = m.get("tags", {})
            if name not in tags:
                raise ValueError(f"tag {name!r} does not exist")
            del tags[name]
            m["tags"] = tags
            self._write_meta_dict(m, fence=fence)

    def _tags_blocking(self, lost_versions: set[int]) -> dict[str, int]:
        """Tags whose pinned state a maintenance op is about to destroy."""
        return {
            n: v
            for n, v in self.tags().items()
            if v in lost_versions
        }

    # --- change-feed consumers (durable checkpoints) -----------------------------
    def consumer_position(self, consumer_id: str) -> int:
        """The version this consumer last acknowledged (its feed
        baseline), or -1 if it was never registered."""
        pos = self._read_meta().get("consumers", {}).get(consumer_id)
        return -1 if pos is None else int(pos)

    def consume_changes(
        self,
        consumer_id: str,
        start: str = "earliest",
        include_preimages: bool = False,
    ):
        """The Kafka-consumer shape on the MOR change feed: a durable,
        named checkpoint per downstream consumer, stored in the table
        meta and advanced ONLY by an explicit :meth:`ack_changes` —
        process-then-ack, so a consumer that crashes mid-apply re-reads
        the SAME window on restart instead of silently skipping it
        (at-least-once delivery; pair it with a versioned apply — the
        gate's agg-MV records ``applied_through`` — for exactly-once
        effect).

        Returns ``(feed, through_version)``: the CDC rows from the
        checkpoint (exclusive) through the current latest version
        (inclusive), and the version to pass to ``ack_changes`` after
        the feed is durably applied. ``(None, position)`` when there is
        nothing new. First consume registers the checkpoint:
        ``start='earliest'`` baselines at the compaction horizon (the
        base state — the consumer sees every change still
        reconstructible), ``start='latest'`` at the newest version
        (only future changes). ``include_preimages`` passes through to
        :meth:`changes` for retraction-algebra consumers.

        Retention integrates exactly like tags: :meth:`compact` /
        :meth:`compact_log` REFUSE to fold a registered consumer's
        unread window away (``drop_consumer`` is the explicit release),
        so a lagging consumer can always resume — the feed can be
        behind, never broken."""
        if start not in ("earliest", "latest"):
            raise ValueError(
                f"start must be 'earliest' or 'latest', got {start!r}"
            )
        with self._locked() as fence:
            m = self._read_meta()
            consumers = m.get("consumers", {})
            have = self._existing_versions()
            horizon = int(m.get("compacted_through", 0))
            latest = have[-1] if have else horizon
            if consumer_id not in consumers:
                consumers[consumer_id] = (
                    horizon if start == "earliest" else latest
                )
                m["consumers"] = consumers
                self._write_meta_dict(m, fence=fence)
            pos = int(consumers[consumer_id])
        if pos >= latest:
            return None, pos
        feed = self.changes(
            from_version=pos,
            to_version=latest,
            include_preimages=include_preimages,
        )
        return feed, latest

    def ack_changes(self, consumer_id: str, through_version: int) -> None:
        """Advance a consumer's checkpoint to ``through_version`` —
        call AFTER the consumed feed is durably applied. Monotonic:
        moving backwards refuses (an ack is a promise the window was
        applied; un-promising it would re-deliver into a state that
        already absorbed it). The target must be an ackable feed
        endpoint: a live version, or the consumer's current position
        (a no-op re-ack after an idempotent retry)."""
        through_version = int(through_version)
        with self._locked() as fence:
            m = self._read_meta()
            consumers = m.get("consumers", {})
            if consumer_id not in consumers:
                raise ValueError(
                    f"consumer {consumer_id!r} was never registered "
                    "(consume_changes registers on first read)"
                )
            pos = int(consumers[consumer_id])
            if through_version < pos:
                raise ValueError(
                    f"ack would move consumer {consumer_id!r} backwards "
                    f"({pos} -> {through_version}): acks are monotonic"
                )
            if (
                through_version != pos
                and through_version not in self._existing_versions()
            ):
                raise ValueError(
                    f"ack target {through_version} is not a live "
                    "version: a consumer can only checkpoint at a feed "
                    "endpoint it could have read"
                )
            consumers[consumer_id] = through_version
            m["consumers"] = consumers
            self._write_meta_dict(m, fence=fence)

    def drop_consumer(self, consumer_id: str) -> None:
        """Deregister a consumer — the explicit step that releases its
        unread window back to retention (compaction can fold past its
        checkpoint only after this). Unknown ids refuse loudly."""
        with self._locked() as fence:
            m = self._read_meta()
            consumers = m.get("consumers", {})
            if consumer_id not in consumers:
                raise ValueError(
                    f"consumer {consumer_id!r} does not exist"
                )
            del consumers[consumer_id]
            m["consumers"] = consumers
            self._write_meta_dict(m, fence=fence)

    def _consumers_blocking(self, boundary: int) -> dict[str, int]:
        """Consumers whose unread window a fold through ``boundary``
        would destroy (checkpoint strictly below it: versions they
        haven't acked would fold). A consumer checkpointed exactly AT
        the boundary is safe — the new horizon IS its baseline and
        ``changes(from_version=horizon)`` stays readable."""
        return {
            c: p
            for c, p in self._read_meta().get("consumers", {}).items()
            if int(p) < boundary
        }

    def merge_into(
        self,
        version: int | None = None,
        source: DataFrame | None = None,
        when_matched: str | None = "update",
        when_not_matched: str | None = "insert",
        clauses: list | None = None,
        commit_timestamp=None,
        broadcast_source: bool = True,
    ) -> dict:
        """SQL MERGE semantics compiled to ONE delta append — the
        write-optimized MOR answer to ``operators/merge.py``'s
        copy-on-write bucketed MERGE. Returns ``{"updated": n,
        "deleted": n, "inserted": n, "version": committed | None}``.

        Two surfaces:

        - Legacy single-action form: rows of ``source`` whose key
          exists in the current table take ``when_matched`` ('update' =
          full-row upsert, 'delete', None = leave untouched), the rest
          take ``when_not_matched`` ('insert' or None = drop).
        - ``clauses`` (r15): an ORDERED list of ``(branch, condition,
          action)`` — branch ∈ {'matched', 'not_matched',
          'not_matched_by_source'}, condition a Column / SQL string /
          None (always true), action ∈ {'update', 'delete', 'ignore'}
          for matched, {'insert', 'ignore'} for not_matched, and
          {'delete', 'ignore'} for not_matched_by_source. FIRST MATCH
          WINS per row, exactly SQL MERGE's ``WHEN ... AND cond THEN``
          chain; a row no clause claims is left untouched. Matched /
          not_matched clauses classify SOURCE rows and their
          conditions see the source columns by name plus the CURRENT
          target row's columns as ``_t_<name>`` ("o_totalprice >
          _t_o_totalprice" = upsert-if-newer); not_matched_by_source
          clauses classify TARGET rows absent from the source (the
          snapshot-sync "delete what the source no longer has" branch)
          and their conditions see the target columns by name. The
          by-source branch costs one broadcast-anti-probed scan of the
          table and its delete set is bounded by the unmatched target
          rows, not by |source| — stats report it as
          ``deleted_by_source``. A matched action may also be the SQL
          UPDATE SET form ``('update', {col: expr})``: assigned columns
          take the expression (source columns bare, target columns as
          ``_t_<name>`` — so ``{"x": "_t_x + x"}`` is an increment
          merge), every unassigned column KEEPS the target row's
          current value; plain ``'update'`` remains a full-row replace
          from the source.

        Concurrency: the whole read→classify→append window runs inside
        the table commit lock, so a concurrent writer cannot flip a
        row's matched status between classification and commit;
        ``version=None`` allocates through the seam as usual.

        Cost shape at 100 TB: membership (plus the target payload the
        conditions need) is ONE column-pruned scan of the table probed
        against the BROADCAST source key set — no shuffle of the table
        — materialized at |matched| ≤ |source| rows; the stats are
        ONE ``groupBy(_action).count()`` job over the classified source
        (r14's three separate ``.count()`` legs folded away); the write
        is the normal O(|source|) delta append; the base is never
        rewritten. Source keys must be unique (the delta contract).

        ``broadcast_source=False`` is the BULK-merge escape hatch: when
        the source is itself too large to broadcast (a backfill, a
        full-snapshot sync), the broadcast hints and the eager matched-
        set checkpoint are dropped — Catalyst plans shuffle joins
        co-partitioned on the key, and the classification is simply
        recomputed by the stats job and the write (two passes instead
        of one plus materialized state that would not fit).
        """
        if source is None:
            raise ValueError("merge_into needs a source DataFrame")
        if clauses is None:
            if when_matched not in ("update", "delete", None):
                raise ValueError(f"when_matched: {when_matched!r}")
            if when_not_matched not in ("insert", None):
                raise ValueError(
                    f"when_not_matched: {when_not_matched!r}"
                )
            if when_matched is None and when_not_matched is None:
                raise ValueError("merge_into with no actions is a no-op")
            clauses = []
            if when_matched is not None:
                clauses.append(("matched", None, when_matched))
            if when_not_matched is not None:
                clauses.append(("not_matched", None, when_not_matched))
        if not clauses:
            raise ValueError("merge_into with no clauses is a no-op")
        _ALLOWED = {
            "matched": ("update", "delete", "ignore"),
            "not_matched": ("insert", "ignore"),
            "not_matched_by_source": ("delete", "ignore"),
        }
        for branch, _cond, action in clauses:
            if branch not in _ALLOWED:
                raise ValueError(f"clause branch: {branch!r}")
            if isinstance(action, tuple):
                # ("update", {col: expr}) — SQL's UPDATE SET form:
                # assigned columns take the expression (source columns
                # bare, target columns as _t_<name>), every OTHER
                # column KEEPS the target row's current value — unlike
                # plain "update", which is a full-row replace from the
                # source
                if branch != "matched" or len(action) != 2 or action[
                    0
                ] != "update":
                    raise ValueError(
                        f"tuple action {action!r}: only "
                        "('update', {col: expr}) on the matched branch"
                    )
                if not isinstance(action[1], dict) or not action[1]:
                    raise ValueError(
                        "UPDATE SET needs a non-empty {column: "
                        "expression} dict"
                    )
                continue
            if action not in _ALLOWED[branch]:
                raise ValueError(
                    f"clause action {action!r} invalid for branch "
                    f"{branch!r} (allowed: {_ALLOWED[branch]})"
                )
        with self._locked():
            return self._merge_into(
                version, source, clauses, commit_timestamp,
                broadcast_source,
            )

    def _merge_into(
        self,
        version,
        source: DataFrame,
        clauses: list,
        commit_timestamp,
        broadcast_source: bool = True,
    ) -> dict:
        bc = F.broadcast if broadcast_source else (lambda df: df)
        tgt = self.read()
        src_keys = source.select(self.key)
        src_clauses = [c for c in clauses if c[0] != "not_matched_by_source"]
        nbs_clauses = [c for c in clauses if c[0] == "not_matched_by_source"]
        # UPDATE SET legs: give each its own action id so the upsert
        # projection can differ per clause; validate assignments here
        # where the table schema is known
        set_legs: list[tuple[str, dict]] = []
        chain_clauses = []
        for i, (branch, cond, action) in enumerate(src_clauses):
            if isinstance(action, tuple):
                sets = action[1]
                bad = set(sets) - set(tgt.columns)
                if bad:
                    raise ValueError(
                        f"UPDATE SET assigns unknown column(s) "
                        f"{sorted(bad)} (table has {tgt.columns})"
                    )
                if self.key in sets:
                    raise ValueError(
                        "UPDATE SET cannot reassign the table key"
                    )
                aid = f"update#set{i}"
                set_legs.append((aid, sets))
                chain_clauses.append((branch, cond, aid))
            else:
                chain_clauses.append((branch, cond, action))
        # target payload when some condition references _t_ columns, and
        # ALWAYS for SET legs (unassigned columns keep target values)
        needs_target = bool(set_legs) or any(
            cond is not None and "_t_" in str(cond)
            for _b, cond, _a in src_clauses
        )
        matched_t = tgt.join(
            bc(src_keys), self.key, "left_semi"
        ).select(
            F.col(self.key),
            *(
                [
                    F.col(c).alias(f"_t_{c}")
                    for c in tgt.columns
                    if c != self.key
                ]
                if needs_target
                else []
            ),
            F.lit(True).alias("_t_exists"),
        )
        if broadcast_source:
            # bounded by |source|; skipped for bulk merges where the
            # matched set would not fit executor storage
            matched_t = materialize(matched_t, "MorTable.merge_into: matched target")
        joined = source.join(bc(matched_t), self.key, "left")
        is_matched = F.coalesce(F.col("_t_exists"), F.lit(False))

        def _when_chain(rows_clauses, base_cond):
            chain = None
            for branch, cond, action in rows_clauses:
                c = base_cond(branch)
                if cond is not None:
                    c = c & (
                        F.expr(cond) if isinstance(cond, str) else cond
                    )
                chain = (
                    F.when(c, F.lit(action))
                    if chain is None
                    else chain.when(c, F.lit(action))
                )
            return chain

        src_chain = _when_chain(
            chain_clauses,
            lambda b: is_matched if b == "matched" else ~is_matched,
        )
        classified = joined.withColumn(
            "_action",
            src_chain
            if src_chain is not None
            else F.lit(None).cast("string"),
        )
        counts = {
            r["_action"]: r["count"]
            for r in classified.groupBy("_action").count().collect()
        }  # ONE stats job for every source-side leg
        stats = {
            "updated": counts.get("update", 0)
            + sum(counts.get(aid, 0) for aid, _ in set_legs),
            "deleted": counts.get("delete", 0),
            "inserted": counts.get("insert", 0),
            "version": None,
        }
        nbs_dels = None
        if nbs_clauses:
            stats["deleted_by_source"] = 0
            # target rows the source no longer carries: ONE scan of the
            # table, broadcast-anti-probed on the source key set;
            # conditions see the target columns by name
            unmatched_t = tgt.join(
                bc(src_keys), self.key, "left_anti"
            ).withColumn(
                "_action",
                _when_chain(nbs_clauses, lambda b: F.lit(True)),
            )
            nbs_dels = unmatched_t.where(
                F.col("_action") == "delete"
            ).select(self.key)
            stats["deleted_by_source"] = nbs_dels.count()
            if stats["deleted_by_source"] == 0:
                nbs_dels = None
        if (
            stats["updated"]
            + stats["deleted"]
            + stats["inserted"]
            + stats.get("deleted_by_source", 0)
            == 0
        ):
            return stats  # nothing to commit; no version burned
        src_cols = source.columns
        legs = []
        if (
            counts.get("update", 0) + counts.get("insert", 0) > 0
        ):  # full-row legs carry the source schema verbatim
            legs.append(
                classified.where(
                    F.col("_action").isin("update", "insert")
                ).select(*src_cols)
            )
        for aid, sets in set_legs:
            if not counts.get(aid, 0):
                continue
            proj = [F.col(self.key)]
            for c in tgt.columns:
                if c == self.key:
                    continue
                e = sets.get(c)
                col = (
                    (F.expr(e) if isinstance(e, str) else e)
                    if e is not None
                    else F.col(f"_t_{c}")  # unassigned: keep target
                )
                proj.append(col.alias(c))
            legs.append(
                classified.where(F.col("_action") == aid).select(*proj)
            )
        upserts = None
        for leg in legs:
            upserts = (
                leg
                if upserts is None
                else upserts.unionByName(leg, allowMissingColumns=True)
            )
        dels = (
            classified.where(F.col("_action") == "delete").select(
                self.key
            )
            if stats["deleted"] > 0
            else None
        )
        if nbs_dels is not None:
            dels = (
                dels.unionByName(nbs_dels)
                if dels is not None
                else nbs_dels
            )
        self._assert_fence_valid()  # a zombie merge must lose HERE,
        # before its pre-takeover classification is published
        stats["version"] = self._append_delta(
            version, upserts, dels, commit_timestamp
        )
        return stats

    def _touched_keys(
        self,
        upserts: DataFrame | None,
        delete_keys: DataFrame | None,
    ) -> DataFrame:
        keys = []
        if upserts is not None:
            keys.append(upserts.select(self.key))
        if delete_keys is not None:
            keys.append(delete_keys.select(self.key))
        out = keys[0]
        for k in keys[1:]:
            out = out.unionByName(k)
        return out.distinct()

    # --- maintenance ----------------------------------------------------------
    def compact(
        self,
        through_version: int | None = None,
        older_than_timestamp=None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Fold the delta log back into a fresh base; the read path's
        split/window cost returns to zero until the next append.
        Returns the horizon folded through (0 = nothing to fold).

        RETENTION (r15): by default the whole log folds. Passing
        ``through_version=N`` — or ``older_than_timestamp=t``, which
        resolves to the highest version committed at or before ``t`` —
        folds ONLY versions ``<= N``: the new base is the table's state
        as of N, newer deltas stay live and keep their time travel.
        This is the production retention shape ("keep 7 days of time
        travel, fold the rest"): the fold boundary snaps DOWN to the
        largest live version at or below the requested one, so a
        boundary inside an already-log-folded range folds less rather
        than guessing. Correctness is the same idempotent-last-wins
        argument as a full compact — the new base holds exactly the
        as-of-N state, and every surviving delta version applies over
        it unchanged.

        ``zorder_by=[cols]`` (r15) restages the fold along the Morton
        curve of the given columns — Delta's OPTIMIZE ZORDER BY as a
        compaction option: the rewrite the compact already pays buys
        multi-column data skipping for every scan after it. Exclusive
        with a key-range stats manifest (one physical order).

        Swap order is chosen so NO intermediate state can serve wrong
        data: (1) the merged snapshot is staged completely (with
        _SUCCESS); (2) the compaction horizon is recorded in
        ``_mor_meta.json`` BEFORE any rename — if the crash lands here,
        time travel to the about-to-fold versions is refused
        conservatively (they may or may not still reconstruct) but
        nothing can read WRONG history, and the latest-state read is
        unaffected because re-applying subsumed versions is idempotent;
        (3) the old base is renamed away — reads in this brief window
        fail loudly (recovered on next construction, see
        ``_recover_interrupted_compact``); (4) the staged snapshot
        becomes the base; (5) delta versions ``<=`` the horizon are
        removed LAST — and ONLY those versions, so a concurrent
        writer's newer append survives a compact racing past it.

        At 100 TB this full rewrite is the periodic floor-cost path; the
        bucketed copy-on-write table (operators/merge.py) is the
        incremental alternative when appends are frequent enough that
        rewriting everything is the wrong trade. The digest manifest,
        if enabled, is untouched: compaction changes the physical
        layout, never the logical state the manifest summarizes.

        r15: the whole compact runs inside the table commit lock — the
        single-compactor assumption is now ENFORCED, not documented —
        and on a leased backend the horizon meta write carries the
        holder's fencing token, so a compactor that stalls past its
        lease TTL loses at the meta write (before any rename) instead
        of corrupting the takeover's state. Concurrent APPENDS remain
        lock-free and safe: the fold touches only versions it read at
        entry, and the sweep stays horizon-bounded.
        """
        if through_version is not None and older_than_timestamp is not None:
            raise ValueError(
                "pass through_version or older_than_timestamp, not both"
            )
        with self._locked() as fence:
            return self._compact(
                fence, through_version, older_than_timestamp, zorder_by
            )

    def _compact(
        self,
        fence,
        through_version=None,
        older_than_timestamp=None,
        zorder_by=None,
    ) -> int:
        import shutil

        from linqonsteroids_spark.sources.commitlog import atomic_replace

        have = self._existing_versions()
        if not have:
            return 0
        if older_than_timestamp is not None:
            through_version = self._version_at(older_than_timestamp)
        if through_version is None:
            through_version = have[-1]
        folding = [v for v in have if v <= through_version]
        if not folding:
            return 0  # boundary predates every live version
        effective = folding[-1]
        # retention respects tags (Iceberg's expire-snapshots rule):
        # every state STRICTLY below the fold boundary becomes
        # unreconstructible (a tag AT the boundary survives — the new
        # base IS that state), so a tag inside the fold refuses the
        # compact before any data is staged. delete_tag() first.
        blocking = self._tags_blocking(
            {v for v in self.tags().values() if v < effective}
        )
        if blocking:
            raise ValueError(
                f"compact through version {effective} would destroy "
                f"tagged state(s) {blocking}: delete_tag() first — "
                "retention respects tags"
            )
        lagging = self._consumers_blocking(effective)
        if lagging:
            raise ValueError(
                f"compact through version {effective} would fold "
                f"change-feed window(s) consumer(s) {lagging} have not "
                "acknowledged: drop_consumer() first — retention "
                "respects consumers"
            )
        inflight = [v for v in self._inflight_versions() if v <= effective]
        if inflight:
            raise ValueError(
                f"compact through version {effective} would strand "
                f"in-flight transactional version(s) {inflight}: if "
                "their transaction later commits they would land below "
                "the horizon, unreadable and unfolded — wait for the "
                "decision or force_abort the transaction"
            )
        merged = (
            self.read()
            if effective == have[-1]
            else self.read(as_of_version=effective)
        )
        if os.path.isdir(self._staged):
            shutil.rmtree(self._staged)
        stats_manifest = os.path.join(self._base, "_FILE_STATS.json")
        if zorder_by is not None:
            # OPTIMIZE ZORDER BY: restage the fold along the Morton
            # curve of the given columns, so post-compact scans skip
            # files on EVERY z-ordered column (sources/zorder.py). The
            # key-range stats manifest describes a different layout —
            # the two clustering choices are exclusive by construction.
            if self._bloom_ndv():
                raise ValueError(
                    "zorder_by on a bloom-stamped table would silently "
                    "drop the bloom filters from the restaged base, "
                    "degrading every lookup_by to a full scan — the "
                    "zorder writer does not stamp them (yet); pick one "
                    "skipping structure"
                )
            if os.path.exists(stats_manifest):
                raise ValueError(
                    "zorder_by conflicts with this table's key-range "
                    "stats manifest (write_base(stats_files=...)): one "
                    "physical order cannot serve both; pick one layout"
                )
            from linqonsteroids_spark.sources.zorder import (
                write_zordered,
            )

            write_zordered(
                merged, self._staged, zorder_by, mode="error"
            )
        elif os.path.exists(stats_manifest):
            # a stats-indexed base stays stats-indexed across compacts:
            # restage through the same range-clustered writer so the
            # manifest (and lookup's O(touched files) promise) rides
            # the staged dir through the swap
            import json as _json

            from linqonsteroids_spark.sources.fileindex import (
                write_with_stats,
            )

            with open(stats_manifest) as f:
                n_files = len(_json.load(f)["files"])
            write_with_stats(
                merged, self._staged, [self.key], n_files=n_files,
                bloom_ndv=self._bloom_ndv() or None,
            )
        else:
            self._write_parquet(merged, self._staged, "error")
        horizon = effective
        self._write_meta(horizon, fence=fence, base_schema=merged.schema)
        old = os.path.join(self.path, f"_retired_base.{os.getpid()}")
        atomic_replace(self._base, old)
        atomic_replace(self._staged, self._base)
        for v in folding:  # only the folded versions; newer appends
            shutil.rmtree(self._version_dir(v))
        if os.path.isdir(self._delta_root) and not os.listdir(
            self._delta_root
        ):
            os.rmdir(self._delta_root)
        shutil.rmtree(old)
        return horizon

    # --- change feed ----------------------------------------------------------
    def changes(
        self,
        from_version: int | None = None,
        to_version: int | None = None,
        include_preimages: bool = False,
        from_timestamp=None,
        to_timestamp=None,
        from_tag: str | None = None,
        to_tag: str | None = None,
    ) -> DataFrame:
        """The CDC leg of time travel: one row per key whose state
        differs between as-of ``from_version`` (exclusive) and as-of
        ``to_version`` (inclusive; default latest), tagged
        ``_change_type`` ∈ {insert, update, delete} — the delta log IS
        the change feed, so no extra storage (Delta's CDF pays a
        ``_change_data`` copy per commit for the same answer).

        Semantics: ``insert`` = key absent at from_version, present at
        to_version (post-image); ``update`` = present in both with the
        LAST op in the window an upsert (post-image — an upsert writing
        identical values still emits, matching CDF's contract that the
        feed reflects commits, not value diffs); ``delete`` = present
        at from_version, last op a delete (PRE-image values, so the
        consumer sees what was removed). A key deleted and re-upserted
        within the window collapses to its net effect, last-wins.

        Cost shape: the log window shuffles O(|touched keys|) rows for
        its last-op window; the pre-state leg is the normal as-of read
        semi-filtered to touched keys via broadcast — never a
        full-table diff. ``from_version`` may be the compaction horizon
        (the base state); both endpoints must otherwise be committed,
        un-compacted versions, same refusal rules as ``read``.

        Columns added by versions inside the window exist in the
        output (null in pre-image delete rows, like any pre-evolution
        row).

        ``include_preimages=True`` switches to the Delta-CDF row
        protocol: updates emit TWO rows — ``update_preimage`` (old
        values) and ``update_postimage`` (new values) — which is
        exactly what downstream incremental view maintenance needs
        (retract the old contribution, add the new one; see
        ``streaming/incremental.py::apply_cdf_to_agg_mv``). insert and
        delete rows are unchanged.

        ``from_timestamp``/``to_timestamp`` (r15) resolve wall-clock
        endpoints to version watermarks via the commit timestamps the
        meta records — ``changes(from_timestamp=t)`` yields everything
        committed AFTER the last version at-or-before ``t`` — then
        apply the same refusal rules; a probe inside a compacted or
        log-folded era refuses rather than guessing."""
        have = self._existing_versions()
        horizon = self._compacted_through()
        # tag endpoints (r15): "what changed since the snapshot run X
        # trained on" — each tag resolves to its pinned version, then
        # the normal refusal rules apply (a tag on the horizon is the
        # base state, a valid feed baseline by the rule below)
        for tag_name, target in ((from_tag, "from"), (to_tag, "to")):
            if tag_name is None:
                continue
            if (target == "from" and from_version is not None) or (
                target == "to" and to_version is not None
            ):
                raise ValueError(
                    f"pass {target}_tag or {target}_version, not both"
                )
            pinned = self.tags().get(tag_name)
            if pinned is None:
                raise ValueError(
                    f"tag {tag_name!r} does not exist: "
                    f"{sorted(self.tags())} are the live tags"
                )
            if target == "from":
                from_version = pinned
            else:
                to_version = pinned
        if from_timestamp is not None:
            if from_version is not None:
                raise ValueError(
                    "pass from_version or from_timestamp, not both"
                )
            resolved = self._version_at(from_timestamp)
            # 0 = before every commit: the base state, which is only a
            # valid feed baseline while nothing was folded into it
            from_version = resolved if resolved > 0 else horizon
            if resolved == 0 and horizon > 0:
                raise ValueError(
                    f"from_timestamp {from_timestamp!r} predates every "
                    "reconstructible state: the base was folded "
                    f"through version {horizon} by compaction"
                )
        if from_version is None:
            raise ValueError("changes() needs from_version or from_timestamp")
        if to_timestamp is not None:
            if to_version is not None:
                raise ValueError(
                    "pass to_version or to_timestamp, not both"
                )
            to_version = self._version_at(to_timestamp)
            if to_version == 0:
                raise ValueError(
                    f"to_timestamp {to_timestamp!r} predates every "
                    "recorded commit: nothing to read"
                )
        if to_version is None:
            if not have:
                raise ValueError("empty delta log: no changes to read")
            to_version = have[-1]

        def _checkpointable(v: int, what: str) -> None:
            if v == horizon or v in have:
                return
            if v < horizon:
                raise ValueError(
                    f"{what} {v} is below the compaction horizon "
                    f"{horizon}: its state was folded into the base"
                )
            if v in self._folded_versions():
                raise ValueError(
                    f"{what} {v} was folded by log compaction: its "
                    "individual state is no longer reconstructible"
                )
            raise ValueError(
                f"{what} {v} not in the delta log {have}: it never "
                "committed"
            )

        _checkpointable(from_version, "from_version")
        _checkpointable(to_version, "to_version")
        if not from_version < to_version:
            raise ValueError(
                f"from_version {from_version} must precede to_version "
                f"{to_version}"
            )
        window_vs = [v for v in have if from_version < v <= to_version]
        deltas = self._read_deltas(window_vs)
        w = Window.partitionBy(self.key).orderBy(F.desc(_VER))
        last = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", _VER)
        )
        # Horizon pre-state (r14 advice, medium): the horizon state is
        # the base PLUS any still-live delta versions <= from_version,
        # resolved last-wins — identical to read()'s merge. Normally
        # those dirs are gone (the list is empty and this IS the raw
        # base); in the crash window where compact advanced the horizon
        # but never swapped the base, the old base alone would
        # misclassify rows (a deleted key re-appearing as an existing
        # 'update', feeding corrupt retractions downstream).
        pre_state = (
            self._apply_deltas(
                self._read_base(),
                [v for v in have if v <= from_version],
                False,
            )
            if from_version == horizon
            else self.read(as_of_version=from_version)
        )
        touched = deltas.select(self.key).distinct()
        pre = pre_state.join(F.broadcast(touched), self.key, "left_semi")
        pre_cols = [c for c in pre.columns if c != self.key]
        pre_tagged = pre.select(
            self.key,
            *[F.col(c).alias(f"_pre_{c}") for c in pre_cols],
            F.lit(True).alias("_pre_exists"),
        )
        joined = last.join(pre_tagged, self.key, "left")
        existed = F.coalesce(F.col("_pre_exists"), F.lit(False))
        is_upsert = F.col(_OP) == "U"
        out_cols = [c for c in last.columns if c != _OP]
        classified = joined.withColumn(
            "_change_type",
            F.when(is_upsert & existed, F.lit("update"))
            .when(is_upsert & ~existed, F.lit("insert"))
            .when(~is_upsert & existed, F.lit("delete")),
        ).where(F.col("_change_type").isNotNull())

        if not include_preimages:
            # post-image for insert/update; PRE-image for delete
            return classified.select(
                self.key,
                *[
                    F.when(
                        F.col("_change_type") == "delete",
                        F.col(f"_pre_{c}")
                        if f"_pre_{c}" in joined.columns
                        else F.lit(None),
                    )
                    .otherwise(F.col(c))
                    .alias(c)
                    for c in out_cols
                    if c != self.key
                ],
                "_change_type",
            )
        # Delta-CDF protocol: updates fan out into pre+post rows. Emitted
        # ROW-LOCALLY via array+explode (r15): the previous four-way
        # unionByName re-planned the whole classified subtree (delta
        # window + pre-state as-of read + joins) once PER BRANCH — the
        # feed plan carried 24 parquet scans and 4 window passes for one
        # consumer. One when() builds each row's image list in place
        # (insert → post, delete → pre, update → pre+post), so the
        # subtree plans exactly once and the fan-out costs one narrow
        # generator — same rows, same columns, at any scale.
        value_cols = [c for c in out_cols if c != self.key]

        def _img(pre: bool, tag: str):
            return F.struct(
                *[
                    (
                        F.col(f"_pre_{c}")
                        if pre and f"_pre_{c}" in joined.columns
                        else F.lit(None).cast(dict(last.dtypes)[c])
                        if pre
                        else F.col(c)
                    ).alias(c)
                    for c in value_cols
                ],
                F.lit(tag).alias("_change_type"),
            )

        ct = F.col("_change_type")
        images = (
            F.when(ct == F.lit("insert"), F.array(_img(False, "insert")))
            .when(ct == F.lit("delete"), F.array(_img(True, "delete")))
            .otherwise(
                F.array(
                    _img(True, "update_preimage"),
                    _img(False, "update_postimage"),
                )
            )
        )
        return classified.select(
            self.key, F.explode(images).alias("_img")
        ).select(
            self.key,
            *[F.col(f"_img.{c}").alias(c) for c in value_cols],
            F.col("_img._change_type").alias("_change_type"),
        )

    # --- point lookup -----------------------------------------------------------
    def lookup(self, keys: list) -> DataFrame:
        """Point reads — the SERVING path: resolve the current rows for
        an explicit key list touching O(matching files + delta), not
        the table. With a stats-indexed base (``write_base(...,
        stats_files=N)``) the file list is pruned DRIVER-SIDE against
        the per-file (min, max) key manifest in one pass for the whole
        key set — at 100 TB a 20-key lookup plans a handful of file
        reads instead of a full scan (and instead of even LISTING the
        table: the manifest probe is one small JSON read). The delta
        log is filtered to the same keys and resolved
        latest-version-wins exactly as :meth:`read` does, so deletes
        and recent upserts are honored. Without a manifest the lookup
        degrades gracefully to ``read().where(key IN ...)`` — correct,
        just unpruned. Keys should be a bounded list (it is broadcast
        as an IN-list literal); for bulk key sets use a semi-join
        against :meth:`read` instead."""
        if not keys:
            return self.read().limit(0)
        isin = F.col(self.key).isin(list(keys))
        manifest = os.path.join(self._base, "_FILE_STATS.json")
        if os.path.exists(manifest):
            from linqonsteroids_spark.sources.fileindex import (
                prune_files_for_points,
            )

            kept, _total = prune_files_for_points(
                self._base, self.key, list(keys)
            )
            base_hits = (
                self._read_base(*kept).where(isin)
                if kept
                else self._read_base().limit(0)
            )
        else:
            base_hits = self._read_base().where(isin)
        have = self._existing_versions()
        if not have:
            return base_hits
        cols = base_hits.columns
        deltas = self._read_deltas(have).where(isin)
        cols = cols + [
            c
            for c in deltas.columns
            if c not in cols and c not in (_OP, _VER)
        ]
        w = Window.partitionBy(self.key).orderBy(F.desc(_VER))
        return (
            base_hits.withColumn(_OP, F.lit("U"))
            .withColumn(_VER, F.lit(0))
            .unionByName(deltas, allowMissingColumns=True)
            .withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & (F.col(_OP) == "U"))
            .select(*cols)
        )

    def table_status(self) -> dict:
        """One operational snapshot of everything an operator needs
        before maintenance (DESCRIBE DETAIL / DESCRIBE HISTORY in one
        driver-side dict, O(listing) with zero data reads): live and
        in-flight versions, the compaction horizon and log-folded
        names, every retention pin (tags, consumer checkpoints), the
        schema-cache watermark, bloom config, and on-disk debris
        classes the recovery sweeps would reclaim (orphaned staging,
        retired bases) — so "why did compact refuse" and "what is
        holding retention back" are answerable without reading code."""
        import glob

        m = self._read_meta()
        return {
            "versions": self._existing_versions(),
            "inflight_versions": self._inflight_versions(),
            "compacted_through": int(m.get("compacted_through", 0)),
            "folded_versions": sorted(m.get("folded_versions", [])),
            "tags": {k: int(v) for k, v in m.get("tags", {}).items()},
            "consumers": {
                k: int(v) for k, v in m.get("consumers", {}).items()
            },
            "version_timestamps": {
                int(k): v
                for k, v in m.get("version_timestamps", {}).items()
            },
            "schema_through": int(m.get("schema_through", 0)),
            "bloom_ndv": self._bloom_ndv(),
            "debris": {
                "staged_deltas": sorted(
                    os.path.basename(d)
                    for d in glob.glob(
                        os.path.join(self.path, "_delta_staged.*")
                    )
                ),
                "retired_bases": sorted(
                    os.path.basename(d)
                    for d in glob.glob(
                        os.path.join(self.path, "_retired_base.*")
                    )
                ),
                "compact_staged": os.path.isdir(self._staged),
            },
        }

    def lookup_by(self, col: str, values: list) -> DataFrame:
        """Point lookup on a SECONDARY (non-key) column — the serving
        query :meth:`lookup`'s key-range manifest cannot help with,
        because an unclustered column's per-file [min, max] spans the
        whole domain. The filter is expressed declaratively over the
        normal merge-on-read plan, and physical skipping comes from the
        parquet split-block bloom filters the table stamps at write
        time (``bloom_ndv``): Catalyst pushes the IN predicate through
        the union into the untouched-base leg's scan, parquet-mr probes
        each row group's bloom before reading it, and at 100 TB the
        scan touches only the row groups that may contain a probed
        value — no false negatives by construction, bounded
        false-positive reads. The touched/delta leg stays O(delta) and
        is filtered after last-wins resolution, so a row whose
        secondary value was UPDATED into (or out of) the probed set is
        classified by its CURRENT value, exactly like the SQL the plan
        expresses. Works unstamped too — correct, just unpruned."""
        return self.read().where(F.col(col).isin(values))

    # --- minor (log) compaction -----------------------------------------------
    def compact_log(self) -> None:
        """Fold ALL current delta versions into ONE net version at the
        highest version number — the Hudi "log compaction" tier between
        appending forever and :meth:`compact`'s full base rewrite: read
        cost returns to O(one delta) while the 100 TB base is never
        touched. The net is last-wins per key over the folded versions
        with delete markers KEPT (a base key's deletion must survive
        the fold; an insert-then-delete key keeps its marker too —
        harmless, and deciding otherwise would cost a base scan).

        The folded intermediate versions' individual states become
        unreconstructible; as-of/changes refuse them with "folded by
        log compaction" (recorded in ``_mor_meta.json``), while the
        fold TARGET stays readable and ``changes(horizon, target)``
        still yields the correct cumulative feed (the net version IS
        that feed). The latest state is bit-identical by construction.

        Crash safety (same conservative-refusal discipline as
        :meth:`compact`): (1) a ``log_fold_pending`` record lands in
        the meta first; (2) the net stages completely (with _SUCCESS);
        (3) the old target dir is removed and the staged net renamed
        in — a crash between is recovered by promoting the staged net
        (which dominates the old target's content per key); (4) the
        pending record flips to done; (5) intermediates are swept LAST,
        safe in any order because every key they touch is dominated by
        the net. Recovery (``_recover_interrupted_compact``) finishes
        or aborts a crashed fold from the pending record alone; an
        aborted fold (staged never completed) keeps every version and
        only over-refuses as-of reads. Single-compactor ENFORCED under
        the table commit lock (r15), fenced meta writes on leased
        backends, as for compact(); concurrent APPENDS above the fold
        target are untouched by every step."""
        with self._locked() as fence:
            self._compact_log(fence)

    def _compact_log(self, fence) -> None:
        import shutil

        have = self._existing_versions()
        horizon = self._compacted_through()
        folded_now = [v for v in have if v > horizon]
        if len(folded_now) < 2:
            return
        target = folded_now[-1]
        # retention respects tags: the intermediates' individual states
        # are destroyed by the fold (the target survives), so a tag on
        # any of them refuses the fold before the pending record lands.
        blocking = self._tags_blocking(set(folded_now[:-1]))
        if blocking:
            raise ValueError(
                f"compact_log would fold tagged version(s) {blocking} "
                "into the net: delete_tag() first — retention respects "
                "tags"
            )
        lagging = {
            c: p
            for c, p in self._read_meta().get("consumers", {}).items()
            if int(p) in set(folded_now[:-1])
        }
        if lagging:
            raise ValueError(
                f"compact_log would fold consumer checkpoint(s) "
                f"{lagging} into the net — their next feed baseline "
                "would be unreconstructible: ack to the fold target or "
                "drop_consumer() first"
            )
        inflight = [v for v in self._inflight_versions() if v <= target]
        if inflight:
            raise ValueError(
                f"compact_log would fold past in-flight transactional "
                f"version(s) {inflight}: a later commit would land "
                "them below the fold target with their effects absent "
                "from the net — wait for the decision or force_abort"
            )
        staged = os.path.join(self.path, f"_log_compact_staged.v{target}")
        m = self._read_meta()
        m["log_fold_pending"] = {
            "target": target,
            "folded": folded_now[:-1],
        }
        self._write_meta_dict(m, fence=fence)
        deltas = self._read_deltas(folded_now)
        w = Window.partitionBy(self.key).orderBy(F.desc(_VER))
        net = (
            deltas.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", _VER)
        )
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        self._write_parquet(net, staged, "error")
        self._finish_log_fold(target, folded_now[:-1], staged, fence)

    def _finish_log_fold(
        self, target: int, folded: list[int], staged: str, fence=None
    ) -> None:
        """Steps (3)-(5) of compact_log, shared with crash recovery."""
        import shutil

        tdir = os.path.join(self._delta_root, f"mor_v={target}")
        if os.path.isdir(tdir):
            shutil.rmtree(tdir)  # net dominates the old target per key
        os.rename(staged, tdir)
        m = self._read_meta()
        m["folded_versions"] = sorted(
            set(m.get("folded_versions", [])) | set(folded)
        )
        m.pop("log_fold_pending", None)
        self._write_meta_dict(m, fence=fence)
        for v in folded:
            d = self._version_dir(v)
            if os.path.isdir(d):
                shutil.rmtree(d)

    def _recover_interrupted_log_fold(self) -> None:
        import glob
        import shutil

        m = self._read_meta()
        pending = m.get("log_fold_pending")
        if pending:
            target, folded = pending["target"], pending["folded"]
            staged = os.path.join(
                self.path, f"_log_compact_staged.v{target}"
            )
            if os.path.isdir(staged) and os.path.exists(
                os.path.join(staged, "_SUCCESS")
            ):
                # the net is complete: finish the fold exactly as the
                # crashed process would have
                self._finish_log_fold(target, folded, staged)
            else:
                # the net never completed: abort the fold — every
                # version is still present, the table is untouched
                if os.path.isdir(staged):
                    shutil.rmtree(staged)
                m.pop("log_fold_pending", None)
                self._write_meta_dict(m)
        else:
            # a done fold's sweep may have been interrupted: folded
            # versions still on disk are dominated debris
            folded = self._folded_versions()
            for v in self._existing_versions():
                if v in folded:
                    shutil.rmtree(self._version_dir(v))
            for d in glob.glob(
                os.path.join(self.path, "_log_compact_staged.v*")
            ):
                shutil.rmtree(d)  # orphaned staging with no pending

    # --- read ---------------------------------------------------------------
    def _version_at(self, ts) -> int:
        """Resolve a wall-clock probe to its version watermark: the
        highest version whose recorded commit timestamp is <= the probe
        (0 = before every recorded commit, i.e. the original base
        snapshot). Resolution consults timestamps of ALL versions ever
        committed — including compacted/folded ones, which are retained
        in the meta precisely so a probe inside a folded era resolves
        to the folded version and gets the horizon REFUSAL instead of
        silently reading the (later-state) base."""
        probe = _to_epoch(ts)
        m = self._read_meta()
        ts_map = {
            int(k): v
            for k, v in m.get("version_timestamps", {}).items()
        }
        unstamped = [
            v for v in self._existing_versions() if v not in ts_map
        ]
        if unstamped:
            raise ValueError(
                f"versions {unstamped} have no recorded commit "
                "timestamp (an append crashed between its publish and "
                "its meta stamp; the next append heals this) — "
                "timestamp resolution would be ambiguous"
            )
        return max(
            [v for v, t in ts_map.items() if t <= probe], default=0
        )

    def read(
        self,
        as_of_version: int | None = None,
        with_provenance: bool = False,
        as_of_timestamp=None,
        tag: str | None = None,
    ) -> DataFrame:
        """Latest state: base with all delta versions applied, last-wins.

        ``with_provenance=True`` appends ``_last_version``: the delta
        version that last wrote each row (0 = the row is untouched
        base, or predates the compaction horizon after a compact) —
        the Hudi ``_hoodie_commit_time`` / Delta CDF ``_commit_version``
        answer to "which ingest batch wrote this row", free here
        because the resolution window already carries the winning
        version before dropping it. After ``compact_log`` the fold
        target stands in for the versions it subsumed, and after a full
        ``compact()`` everything reports 0 — provenance is bounded by
        the retained history, like every MOR format.

        ``as_of_version`` time-travels: only delta versions ``<= v``
        apply, reconstructing the table exactly as it stood after that
        version committed (the delta log IS the history — no extra
        storage, same O(touched + delta) read shape; the reader lists
        ONLY the included versions' directories, so later versions'
        files are never even enumerated). Readable versions are exactly
        those in the delta log ABOVE the compaction horizon: compaction
        bounds the time-travel horizon (the fold discards the log)
        matching every MOR format's rule, and a version at or below the
        horizon raises "compacted away" while one that never committed
        raises "never committed" — a typo cannot silently read a
        different state. Old-time reads also carry the OLD schema:
        columns added by later versions don't exist in the included
        files, so they don't appear in the result.

        ``tag=name`` (r15) reads the state a :meth:`tag` pinned —
        stable across any amount of later history, and guaranteed
        readable because retention refuses to fold a tagged state away
        (a tag sitting exactly ON the compaction horizon reads the
        base, which IS its state; tags cannot sit below it).
        """
        base = self._read_base()
        have = self._existing_versions()
        horizon = self._compacted_through()
        if tag is not None:
            if as_of_version is not None or as_of_timestamp is not None:
                raise ValueError(
                    "pass tag, as_of_version, or as_of_timestamp — "
                    "they are exclusive ways to name one state"
                )
            pinned = self.tags().get(tag)
            if pinned is None:
                raise ValueError(
                    f"tag {tag!r} does not exist: "
                    f"{sorted(self.tags())} are the live tags"
                )
            if pinned == horizon:
                # the tagged state IS the base (tags survive a compact
                # whose boundary lands exactly on them) — plus any
                # still-live subsumed versions in a compact crash window
                have = [v for v in have if v <= pinned]
            else:
                as_of_version = pinned  # refusal rules below apply
        if as_of_timestamp is not None:
            if as_of_version is not None:
                raise ValueError(
                    "pass as_of_version or as_of_timestamp, not both"
                )
            resolved = self._version_at(as_of_timestamp)
            if resolved == 0:
                if horizon > 0:
                    raise ValueError(
                        f"timestamp {as_of_timestamp!r} predates every "
                        "reconstructible state: the original base was "
                        f"folded through version {horizon} by "
                        "compaction"
                    )
                have = []  # the original base snapshot
            elif resolved == horizon:
                # the horizon state IS the base (plus any still-live
                # subsumed versions in a compact crash window) — a
                # probe at or after the last pre-compact commit must
                # read it, not hit the as-of refusal meant for
                # versions STRICTLY below the fold
                have = [v for v in have if v <= resolved]
            else:
                as_of_version = resolved  # refusal rules below apply
        if as_of_version is not None:
            if as_of_version <= horizon:
                raise ValueError(
                    f"version {as_of_version} is at or below the "
                    f"compaction horizon {horizon}: it was folded into "
                    "the base and is no longer time-travelable"
                )
            if as_of_version in self._folded_versions():
                raise ValueError(
                    f"version {as_of_version} was folded by log "
                    "compaction: its individual state is subsumed by "
                    "the fold target and no longer reconstructible"
                )
            if as_of_version not in have:
                raise ValueError(
                    f"version {as_of_version} not in the delta log "
                    f"{have}: it never committed"
                )
            have = [v for v in have if v <= as_of_version]
        return self._apply_deltas(base, have, with_provenance)

    def _apply_deltas(
        self, base: DataFrame, have: list[int], with_provenance: bool
    ) -> DataFrame:
        """The split-merge reader over an explicit version list: the
        untouched base majority flows through a broadcast anti probe,
        only touched keys enter the resolution window (see the module
        docstring's 100 TB cost model). Shared by :meth:`read` and by
        :meth:`changes`' horizon pre-state (which must apply any
        still-live subsumed versions onto the base — identical merge,
        different version list)."""
        if not have:
            if with_provenance:
                return base.withColumn(
                    "_last_version", F.lit(0).cast("int")
                )
            return base
        cols = base.columns
        deltas = self._read_deltas(have)
        # evolved schema: base columns first, then additions in the order
        # versions introduced them — absent in base rows, null-filled below
        cols = cols + [
            c for c in deltas.columns if c not in cols and c not in (_OP, _VER)
        ]
        delta_keys = deltas.select(self.key).distinct()
        # Untouched majority: broadcast anti probe, no shuffle, no window.
        untouched = base.join(F.broadcast(delta_keys), self.key, "left_anti")
        touched = (
            base.join(F.broadcast(delta_keys), self.key, "left_semi")
            .withColumn(_OP, F.lit("U"))
            .withColumn(_VER, F.lit(0))
        )
        w = Window.partitionBy(self.key).orderBy(F.desc(_VER))
        if with_provenance:
            cols = cols + ["_last_version"]
            latest = (
                touched.unionByName(deltas, allowMissingColumns=True)
                .withColumn("_rn", F.row_number().over(w))
                .where((F.col("_rn") == 1) & (F.col(_OP) == "U"))
                .withColumn(
                    "_last_version", F.col(_VER).cast("int")
                )
                .select(*cols)
            )
            untouched = untouched.withColumn(
                "_last_version", F.lit(0).cast("int")
            )
        else:
            latest = (
                touched.unionByName(deltas, allowMissingColumns=True)
                .withColumn("_rn", F.row_number().over(w))
                .where((F.col("_rn") == 1) & (F.col(_OP) == "U"))
                .select(*cols)
            )
        return untouched.unionByName(
            latest, allowMissingColumns=True
        ).select(*cols)
