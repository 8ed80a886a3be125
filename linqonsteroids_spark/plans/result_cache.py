"""Plan-fingerprint query-result cache with snapshot-keyed invalidation.

The reference's core premise is memoized query results over mutating
collections (``SubquerySharing.scala`` reuses a registered query's
result inside later queries until the base changes; SURVEY §2.10). The
``IndexRepository`` covers the DECLARED side of that idea — explicitly
registered indexes and MVs with a refresh contract. This cache covers
the UNDECLARED side: ANY DataFrame result is memoizable, keyed by

    sha256( canonicalized logical plan  +  base-file snapshot )

The canonicalized plan (Catalyst's own normalization — expression IDs
rewritten, aliases stripped) makes two independently-built but
semantically-identical frames hit the same entry; the snapshot
(:func:`~linqonsteroids_spark.plans.registry.base_snapshot`, a digest of
the sorted input-file (path, size) listing) makes ANY base mutation miss
cleanly BY CONSTRUCTION — Spark writers always mint fresh part-file
names, so an append, overwrite, or compaction changes the key. There is
deliberately no TTL and no invalidation API: stale entries simply become
unreachable, and :meth:`ResultCache.sweep` reclaims anything a new run
no longer reaches.

100 TB: fingerprinting reads NO data — a plan string plus a file
listing — so a cache probe costs milliseconds against any table size; a
hit replaces a full scan-and-aggregate with an O(|result|) parquet read.
Results are materialized with the session's normal partitioning, so a
large cached result is still a distributed read. Like every scratch
artifact here, point ``root`` at a shared filesystem / object store on a
real cluster (driver-local paths are invisible to executors).
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import DataFrame, SparkSession

from linqonsteroids_spark.plans.registry import base_snapshot


class ResultCache:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- key ------------------------------------------------------------------
    def fingerprint(self, df: DataFrame) -> str:
        """Cache key: canonicalized-plan digest x base-file snapshot.

        Uses the ANALYZED plan (pre-optimizer) so the key is stable
        across optimizer-conf differences between sessions; Catalyst's
        ``canonicalized`` normalizes expression IDs and alias names, so
        a rebuilt-from-scratch equivalent query maps to the same entry.

        Serialized via ``toJSON``, NOT ``toString``: the string form
        truncates node argument lists at
        ``spark.sql.debug.maxToStringFields`` (default 25) with
        '... N more fields', so two wide queries differing only past
        the cutoff would hash IDENTICALLY and serve each other's
        results — the r12 advisor's collision finding, pinned by
        ``tests/test_result_cache.py``. The JSON form is complete at
        any width.
        """
        plan = df._jdf.queryExecution().analyzed().canonicalized().toJSON()
        schema = df.schema.simpleString()
        snap = base_snapshot(df)
        return hashlib.sha256(
            f"{plan}\n--schema--\n{schema}\n--snap--\n{snap}".encode()
        ).hexdigest()

    def _entry(self, fp: str) -> str:
        return os.path.join(self.root, fp)

    # -- probe / materialize ----------------------------------------------------
    def get_or_materialize(self, df: DataFrame) -> tuple[DataFrame, bool]:
        """Serve ``df``'s result from the cache, materializing on miss.

        Returns ``(result, hit)`` where ``result`` always reads from the
        cache path — on a hit the original plan is never executed.

        A miss materializes to a writer-private staging dir and claims
        the entry via the commit seam's no-clobber rename
        (:func:`~linqonsteroids_spark.sources.commitlog.publish_dir_if_absent`):
        two sessions missing on the same fingerprint each stage their
        own copy, exactly one rename wins, the loser discards its
        staging and reads the winner's COMPLETE entry — the interleaved
        delete-then-write corruption of a shared ``mode("overwrite")``
        path (the r12 race) is impossible. Same-fingerprint entries are
        semantically identical by construction, so it never matters
        which writer won. Crash debris (an entry dir without
        ``_SUCCESS``, possible only from pre-r13 overwrite crashes) is
        cleared before the claim so it can neither be served nor block
        publication forever.
        """
        import shutil
        import uuid

        from linqonsteroids_spark.sources.commitlog import (
            publish_dir_if_absent,
        )

        fp = self.fingerprint(df)
        path = self._entry(fp)
        hit = os.path.exists(os.path.join(path, "_SUCCESS"))
        if not hit:
            staged = f"{path}.staged.{uuid.uuid4().hex[:8]}"
            df.write.mode("error").parquet(staged)
            if os.path.isdir(path) and not os.path.exists(
                os.path.join(path, "_SUCCESS")
            ):
                shutil.rmtree(path, ignore_errors=True)
            if not publish_dir_if_absent(staged, path):
                hit = True  # a concurrent writer won with the same result
        else:
            try:
                # touch for sweep(): last-served time, not last-written
                os.utime(path)
            except FileNotFoundError:
                # a concurrent sweep() reclaimed the entry between the
                # probe and the touch — fall through to a fresh miss
                # instead of handing back a dangling read
                return self.get_or_materialize(df)
        return self.spark.read.schema(df.schema).parquet(path), hit

    # -- maintenance ------------------------------------------------------------
    def sweep(self, older_than_s: float) -> int:
        """Drop entries not served within ``older_than_s`` seconds.

        Snapshot-keyed entries can never be WRONG, only unreachable
        (their base mutated, so no future fingerprint maps to them);
        age-based reclamation is pure space management.
        """
        import shutil

        cutoff = time.time() - older_than_s
        dropped = 0
        for d in os.listdir(self.root):
            p = os.path.join(self.root, d)
            if os.path.isdir(p) and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p)
                dropped += 1
        return dropped
