"""Streaming expectations: audit-before-append ingest with quarantine.

The streaming counterpart of ``operators/wap.py`` (which audits whole
staged SNAPSHOTS): continuous ingest where every micro-batch is checked
against declarative expectations and split row-wise — passing rows
append to the table, violating rows land in a QUARANTINE sink tagged
with the names of the expectations they failed. No row is dropped
silently and no violating row ever reaches the table; this is the
Delta Live Tables "expectations" pattern on plain parquet.

Mechanics and the 100 TB reading:

- All expectations evaluate in ONE projection per batch — a row's
  violation set is ``array_compact(array(when(check, NULL).otherwise(
  name), ...))``, so auditing N expectations costs one codegen'd pass
  regardless of N, and a NULL-valued check counts as a violation (the
  WAP three-valued-logic rule: a NULL price is not a positive price).
- The batch is persisted once and split by ``size(violations) == 0``
  into the two sinks — O(|batch|) work per arrival, no driver collect,
  no shuffle (both writes are narrow).
- Exactly-once on redelivery: each sink writes to a ``batch=<id>``
  subdirectory with overwrite, so a replayed micro-batch (the
  foreachBatch at-least-once contract) rewrites its own directory
  byte-identically instead of duplicating rows — the same
  deterministic-subdir idempotence the MOR streaming twin pins.
- Quarantine rows carry ``_violations`` (csv of failed expectation
  names) + ``_batch_id``: the triage query ("what failed and why,
  when") is a plain scan of the quarantine table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import read_saved, save_schema


def replay_quarantine(
    spark,
    quarantine_path: str,
    checks: dict[str, Column],
    out_path: str,
    replay_id: str,
) -> dict:
    """Close the expectations loop: re-audit QUARANTINED rows under
    (presumably fixed or relaxed) ``checks``; rows that now pass append
    to the table under ``batch=replay-<replay_id>``, rows that still
    fail stay quarantined. Returns ``{"released": n, "retained": n}``.

    The replay never rewrites history: original quarantine batch dirs
    are immutable (audit trail), and released rows land in a NEW
    replay-tagged batch dir — re-running the same ``replay_id`` after a
    crash overwrites that dir idempotently instead of duplicating rows.
    To avoid double-releasing across DIFFERENT replays, rows already
    released are excluded by an anti-join against the union of prior
    replay dirs' quarantine keys — here simply: a released row's
    (_violated, _batch_id) identity is dropped from consideration by
    re-checking against what past replays emitted. For the common
    operational flow (one replay after one fix) this is one scan of
    the quarantine + one of the prior releases. All work is row-local
    projections and one anti-join — O(|quarantine|), no driver collect.

    ``retained`` counts rows still stuck in quarantine after THIS
    replay — quarantine rows minus everything any replay (prior or
    this one) has released — so it answers the operational "what is
    still unreleased" question directly.
    """
    import os

    from pyspark.sql import functions as SF

    q = read_saved(spark, quarantine_path)
    # The quarantine root is batch=<id>-partitioned, so partition
    # discovery ADDS a `batch` column to the root read. It is layout
    # metadata, not table data: strip it (with the quarantine marker
    # columns) before re-audit, or the released rows would be written
    # carrying a physical `batch` column whose value is the ORIGINAL
    # quarantine batch id — shadowed on partitioned reads of the table
    # but surfaced (and false) on any leaf-dir or single-file read.
    marked = StreamingExpectations(
        checks, out_path, quarantine_path
    )._mark(q.drop("batch", "_violated", "_batch_id"))
    passing = marked.where(SF.size("_violations") == 0).drop("_violations")
    # exclude rows a previous replay already released (replay dirs are
    # the only writers that copy quarantine payloads into the table)
    prior = [
        d
        for d in (
            os.listdir(out_path) if os.path.isdir(out_path) else []
        )
        if d.startswith("batch=replay-") and d != f"batch=replay-{replay_id}"
    ]
    prior_released = 0
    if prior:
        released_before = spark.read.schema(passing.schema).parquet(
            *[os.path.join(out_path, d) for d in prior]
        )
        passing = passing.exceptAll(released_before)
        prior_released = released_before.count()
    target = f"{out_path}/batch=replay-{replay_id}"
    passing.write.mode("overwrite").parquet(target)
    released = spark.read.schema(passing.schema).parquet(target).count()
    return {
        "released": released,
        "retained": q.count() - prior_released - released,
    }


class ExpectationBreach(RuntimeError):
    """A check's per-batch violation RATE crossed its fail threshold —
    the batch was aborted whole (nothing written to either sink).
    Carries ``report``: [(check, n_violations, rate, threshold), ...]
    for every breached check."""

    def __init__(self, batch_id: int, report: list[tuple]):
        self.batch_id = batch_id
        self.report = report
        super().__init__(
            f"batch {batch_id} aborted: expectation breach {report}"
        )


class StreamingExpectations:
    """``foreachBatch`` handler: audit each micro-batch row-wise and
    split it into table + quarantine appends (see module docstring).

    ``fail_thresholds`` (check name → max violation FRACTION per batch)
    adds the circuit-breaker tier between "quarantine the bad rows" and
    "trust the pipeline": a few malformed rows are data (quarantine
    them, keep ingesting), but a batch where 40 % of rows fail a check
    is a broken upstream DEPLOY — quarantining it would silently turn
    the quarantine into the table. On breach the WHOLE batch aborts
    (:class:`ExpectationBreach` raised before either sink is written,
    so redelivery after the upstream fix reprocesses it cleanly), and
    the breach check costs one extra aggregate-only pass over the
    already-persisted batch — no second scan of the source."""

    def __init__(
        self,
        checks: dict[str, Column],
        out_path: str,
        quarantine_path: str,
        fail_thresholds: dict[str, float] | None = None,
    ):
        if not checks:
            raise ValueError("at least one expectation is required")
        unknown = set(fail_thresholds or ()) - set(checks)
        if unknown:
            raise ValueError(
                f"fail_thresholds name unknown checks: {sorted(unknown)}"
            )
        self.checks = checks
        self.out_path = out_path
        self.quarantine_path = quarantine_path
        self.fail_thresholds = fail_thresholds or {}

    def _mark(self, df: DataFrame) -> DataFrame:
        # when(cond, NULL).otherwise(name): NULL-valued expectations fall
        # through to the violation branch — same rule as WapTable.audit
        return df.withColumn(
            "_violations",
            F.array_compact(
                F.array(
                    *[
                        F.when(cond, F.lit(None)).otherwise(F.lit(name))
                        for name, cond in self.checks.items()
                    ]
                )
            ),
        )

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        marked = self._mark(batch_df).persist()
        try:
            if self.fail_thresholds:
                row = marked.agg(
                    F.count("*").alias("_n"),
                    *[
                        F.sum(
                            F.array_contains("_violations", name).cast("int")
                        ).alias(f"_v_{i}")
                        for i, name in enumerate(self.fail_thresholds)
                    ],
                ).collect()[0]
                n = row["_n"] or 0
                breached = []
                for i, (name, limit) in enumerate(
                    self.fail_thresholds.items()
                ):
                    bad = row[f"_v_{i}"] or 0
                    rate = bad / n if n else 0.0
                    if rate > limit:
                        breached.append((name, bad, round(rate, 4), limit))
                if breached:
                    raise ExpectationBreach(batch_id, breached)
            clean = marked.where(F.size("_violations") == 0).drop(
                "_violations"
            )
            clean.write.mode("overwrite").parquet(
                f"{self.out_path}/batch={batch_id}"
            )
            save_schema(self.out_path, clean.schema)
            bad = marked.where(F.size("_violations") > 0).select(
                "*",
                F.array_join(
                    F.array_sort("_violations"), ","
                ).alias("_violated"),
            ).drop("_violations").withColumn(
                "_batch_id", F.lit(batch_id).cast("bigint")
            )
            bad.write.mode("overwrite").parquet(
                f"{self.quarantine_path}/batch={batch_id}"
            )
            save_schema(self.quarantine_path, bad.schema)
        finally:
            marked.unpersist()
