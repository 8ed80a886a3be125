"""Write-audit-publish (WAP): no row becomes readable before its audit.

The write-path governance pattern (Iceberg's WAP, Databricks'
expectations) on plain parquet, completing the lakehouse maintenance
tier next to ``operators/merge.py`` (copy-on-write upsert),
``operators/mor.py`` (merge-on-read) and ``operators/compact.py``
(layout): a producer STAGES a candidate snapshot into an isolated
directory, runs declarative AUDITS over it, and only a passing audit
PUBLISHES it — by writing a manifest that names the staged files. The
reader resolves the manifest, so unaudited or failed data is
structurally invisible: there is no window in which a reader can
observe a staged-but-unpublished row, and a failed audit leaves the
previous published snapshot serving.

Audits are (name, predicate Column) pairs evaluated in ONE aggregate
pass over the staged frame — ``sum(violates)`` per audit — so auditing
100 TB costs one scan regardless of how many expectations are attached,
and the violation counts come back as a bounded report row set.

Publish is atomic at the manifest level: the manifest is written to a
temp name and ``os.replace``d over ``MANIFEST.json`` (POSIX-atomic; on
object stores the same role is played by a conditional PUT). Staged
snapshots that never publish are debris under ``_staged/`` and are
reclaimed by :meth:`WapTable.vacuum`, never read.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import read_saved, save_schema


class AuditFailure(RuntimeError):
    def __init__(self, report: list[dict]):
        self.report = report
        failing = [r for r in report if r["n_violations"] > 0]
        super().__init__(f"audit failed: {failing}")


class PublishConflict(RuntimeError):
    """Another writer published between this writer's read and its
    publish — the optimistic-concurrency loser. Retry = re-read
    ``published_id()``, re-audit against the new state if the checks
    depend on it, and publish again with the refreshed expectation."""


#: sentinel: "no concurrency expectation" (None means "expect no
#: published snapshot yet", so it cannot double as the default)
_UNSET = object()


class WapTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._staged_root = os.path.join(path, "_staged")
        self._manifest = os.path.join(path, "MANIFEST.json")
        self._log = os.path.join(path, "_manifest_log.jsonl")

    # -- write ------------------------------------------------------------------
    def stage(self, df: DataFrame) -> str:
        """Materialize a candidate snapshot; invisible until published."""
        staging_id = uuid.uuid4().hex[:16]
        staged = os.path.join(self._staged_root, staging_id)
        df.write.mode("error").parquet(staged)
        save_schema(staged, df.schema)
        return staging_id

    def stage_audited(
        self, df: DataFrame, checks: dict[str, Column]
    ) -> tuple[str, list[dict]]:
        """Stage AND audit in one pass: the audit aggregates ride the
        staging write itself via ``Observation`` metrics, so the staged
        snapshot is never re-scanned just to count violations — at 100 TB
        that halves the write-path I/O versus ``stage()`` + ``audit()``.
        The counts are computed over exactly the rows the write
        materialized (observe metrics are collected from the same tasks),
        so the report is identical to a post-hoc ``audit()`` of the staged
        files. The report is also persisted next to the data
        (``_audit.json``) so ``publish(report=...)`` can verify it belongs
        to this staging."""
        from pyspark.sql import Observation

        staging_id = uuid.uuid4().hex[:16]
        obs = Observation(f"wap_audit_{staging_id}")
        aggs = [
            F.sum(F.when(cond, 0).otherwise(1)).cast("bigint").alias(name)
            for name, cond in checks.items()
        ]
        staged = os.path.join(self._staged_root, staging_id)
        df.observe(obs, *aggs).write.mode("error").parquet(staged)
        save_schema(staged, df.schema)
        row = obs.get
        report = [
            {"audit": name, "n_violations": int(row[name] or 0)}
            for name in checks
        ]
        with open(
            os.path.join(self._staged_root, staging_id, "_audit.json"), "w"
        ) as f:
            json.dump(report, f)
        return staging_id, report

    def _staged_df(self, staging_id: str) -> DataFrame:
        return read_saved(self.spark, os.path.join(self._staged_root, staging_id))

    # -- audit ------------------------------------------------------------------
    def audit(
        self, staging_id: str, checks: dict[str, Column]
    ) -> list[dict]:
        """Evaluate every expectation in ONE pass; return the report.

        ``checks`` maps audit name -> a boolean Column that must hold
        for EVERY row. The report carries per-audit violation counts.
        """
        # when(cond, 0).otherwise(1): a NULL-valued expectation counts as
        # a VIOLATION — under three-valued logic ~NULL is NULL, so the
        # inverted form would silently pass rows the check cannot vouch
        # for (a NULL price is not a positive price)
        aggs = [
            F.sum(F.when(cond, 0).otherwise(1)).cast("bigint").alias(name)
            for name, cond in checks.items()
        ]
        row = self._staged_df(staging_id).agg(*aggs).collect()[0]
        return [
            {"audit": name, "n_violations": int(row[name] or 0)}
            for name in checks
        ]

    # -- publish ----------------------------------------------------------------
    def publish(
        self,
        staging_id: str,
        checks: dict[str, Column] | None = None,
        expect=_UNSET,
        report: list[dict] | None = None,
    ) -> list[dict]:
        """Atomically make a staged snapshot the published one.

        When ``checks`` is given, they are audited here and a violation
        raises :class:`AuditFailure` WITHOUT touching the manifest — the
        previously published snapshot keeps serving.

        ``expect`` is the optimistic-concurrency guard (the commit
        protocol Delta/Iceberg run against a log store): pass the
        ``published_id()`` this writer based its work on (``None`` for
        "nothing published yet") and the publish succeeds only if that
        is STILL the published snapshot — a concurrent winner raises
        :class:`PublishConflict` and the manifest is untouched. The
        check-and-swap pair is serialized by the commit seam
        (:mod:`linqonsteroids_spark.sources.commitlog` — flock here, a
        conditional PUT on an object store). Omit ``expect`` for
        last-writer-wins.
        """
        from linqonsteroids_spark.sources.commitlog import (
            atomic_replace,
            commit_lock,
        )

        if report is not None:
            # a stage_audited() report: accept it only if it provably
            # belongs to this staging (persisted by the same pass that
            # wrote the data) — otherwise fall back to a fresh audit
            audit_path = os.path.join(
                self._staged_root, staging_id, "_audit.json"
            )
            try:
                with open(audit_path) as f:
                    stored = json.load(f)
            except FileNotFoundError:
                stored = None
            if stored != report:
                report = self.audit(staging_id, checks) if checks else []
        else:
            report = self.audit(staging_id, checks) if checks else []
        if any(r["n_violations"] > 0 for r in report):
            raise AuditFailure(report)
        staged_dir = os.path.join(self._staged_root, staging_id)
        if not os.path.exists(os.path.join(staged_dir, "_SUCCESS")):
            raise ValueError(f"staging {staging_id!r} is not committed")
        manifest = {
            "staging_id": staging_id,
            "path": staged_dir,
            "published_at": time.time(),
            "audits": report,
        }
        with commit_lock(os.path.join(self.path, ".publish.lock")):
            if expect is not _UNSET:
                current = self.published_id()
                if current != expect:
                    raise PublishConflict(
                        f"expected published snapshot {expect!r} but found "
                        f"{current!r}: a concurrent writer won; re-read and "
                        f"retry"
                    )
            manifest["version"] = len(self._history()) + 1
            tmp = self._manifest + f".tmp.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            atomic_replace(tmp, self._manifest)
            with open(self._log, "a") as f:
                f.write(json.dumps(manifest) + "\n")
        return report

    # -- read -------------------------------------------------------------------
    def _history(self) -> list[dict]:
        """Every publish ever, in order — the append-only manifest log."""
        try:
            with open(self._log) as f:
                return [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            return []

    def read(self, version: int | None = None) -> DataFrame:
        """The published snapshot — staged-only data is unreachable.

        ``version`` time-travels to the N-th publish (1-based, from the
        append-only manifest log), as long as :meth:`vacuum`'s retention
        still holds that snapshot's files; a reclaimed version raises
        ``FileNotFoundError`` rather than serving anything else.
        """
        if version is None:
            with open(self._manifest) as f:
                manifest = json.load(f)
        else:
            hist = [m for m in self._history() if m["version"] == version]
            if not hist:
                raise FileNotFoundError(f"no publish with version={version}")
            manifest = hist[0]
            if not os.path.exists(os.path.join(manifest["path"], "_SUCCESS")):
                raise FileNotFoundError(
                    f"version {version} was reclaimed by vacuum retention"
                )
        return read_saved(self.spark, manifest["path"])

    def published_id(self) -> str | None:
        try:
            with open(self._manifest) as f:
                return json.load(f)["staging_id"]
        except FileNotFoundError:
            return None

    # -- maintenance --------------------------------------------------------------
    def vacuum(self, retain_last: int = 1) -> int:
        """Drop staged snapshots outside the retention window.

        Keeps the current published snapshot plus the last
        ``retain_last`` publishes from the manifest log (the time-travel
        horizon); everything else — rejected stagings, never-published
        debris, aged-out versions — is reclaimed. Shrinking the window
        trades history for space, exactly Delta's VACUUM semantics.
        ``retain_last=0`` keeps only the live snapshot (``hist[-0:]``
        would be the WHOLE list — the opposite — hence the guard).
        """
        import shutil

        keep = {self.published_id()}
        for m in self._history()[-retain_last:] if retain_last > 0 else []:
            keep.add(m["staging_id"])
        dropped = 0
        if not os.path.isdir(self._staged_root):
            return 0
        for d in os.listdir(self._staged_root):
            if d not in keep:
                shutil.rmtree(os.path.join(self._staged_root, d))
                dropped += 1
        return dropped
