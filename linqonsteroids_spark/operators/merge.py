"""Batch MERGE INTO over a key-bucketed parquet table.

The lakehouse upsert statement (Delta/Iceberg ``MERGE INTO target USING
source ON key WHEN MATCHED [AND cond] THEN UPDATE/DELETE WHEN NOT
MATCHED THEN INSERT``) re-expressed on plain parquet with the bucketed-MV
refresh contract this repo's streaming IVM layer established
(streaming/incremental.py): the table is partitioned by ``mv_bucket =
pmod(xxhash64(key), n_buckets)``, a merge reads ONLY the buckets that
contain source keys (directory pruning via the partition filter),
resolves all clauses in one full-outer join, and rewrites only those
buckets under dynamic partition overwrite. Refresh I/O is
O(|source| + |touched buckets|), never O(|table|) — the property that
makes MERGE usable against a 100 TB table where the sources are small.

Clause contract (one joined row scope, like the SQL statement):
- target and source column names must be DISJOINT except the join key,
  so update/insert/delete expressions are unambiguous without aliases;
- ``matched_delete``: boolean Column over (target ∪ source) columns —
  matched rows satisfying it are dropped;
- ``matched_update``: {target_col -> Column} applied to surviving
  matched rows (unlisted columns keep their target values);
- ``insert_values``: {target_col -> Column over source columns} for
  source-only rows; omit to drop unmatched source rows (= no WHEN NOT
  MATCHED clause);
- target-only rows always survive unchanged (MERGE never touches them).

Like the IVM MVs, the merged slice is materialized BEFORE overwriting
the partitions it was read from, and the bucket modulus is persisted
beside the data and validated on every merge — a merge run with a
different modulus would strand stale rows in buckets the pruning filter
never reads.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import read_saved, save_schema
from linqonsteroids_spark.session import materialize


class BucketedMergeTable:
    def __init__(self, spark: SparkSession, path: str, key: str, n_buckets: int = 16):
        self.spark = spark
        self.path = path
        self.key = key
        self.n_buckets = n_buckets

    def _bucket(self) -> Column:
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets))

    def _meta_path(self) -> str:
        return os.path.join(self.path, "_merge_meta.json")

    def _check_meta(self) -> None:
        try:
            with open(self._meta_path()) as f:
                meta = json.load(f)
        except FileNotFoundError:
            return
        if meta["n_buckets"] != self.n_buckets or meta["key"] != self.key:
            raise ValueError(
                f"BucketedMergeTable layout mismatch at {self.path}: stored "
                f"(key={meta['key']!r}, n_buckets={meta['n_buckets']}), "
                f"configured (key={self.key!r}, n_buckets={self.n_buckets}). "
                f"Merging across layouts would strand stale rows in unread "
                f"buckets."
            )

    def create(self, df: DataFrame) -> None:
        """Materialize the initial table, bucketed by the merge key.
        Repartitioned BY the bucket column first: without it every one of
        the write's tasks opens a file in every bucket directory —
        tasks × n_buckets small files and as many parquet footers on
        every later merge's pruned read."""
        (
            df.withColumn("mv_bucket", self._bucket())
            .repartition(F.col("mv_bucket"))
            .write.mode("overwrite")
            .partitionBy("mv_bucket")
            .parquet(self.path)
        )
        with open(self._meta_path(), "w") as f:
            json.dump({"n_buckets": self.n_buckets, "key": self.key}, f)
        # reads declare the data schema; mv_bucket comes from the dirs
        save_schema(self.path, df.schema)

    def read(self) -> DataFrame:
        return read_saved(self.spark, self.path).drop("mv_bucket")

    def merge(
        self,
        source: DataFrame,
        matched_update: dict[str, Column] | None = None,
        matched_delete: Column | None = None,
        insert_values: dict[str, Column] | None = None,
    ) -> None:
        """Merge ``source`` into the bucketed table.

        The source and the merged slice are each materialized once; see
        ``session.materialize`` for the cluster caveat of its blocks.
        """
        self._check_meta()
        target = read_saved(self.spark, self.path)
        tcols = [c for c in target.columns if c != "mv_bucket"]
        overlap = (set(tcols) & set(source.columns)) - {self.key}
        if overlap:
            raise ValueError(
                f"target and source share non-key columns {sorted(overlap)}; "
                f"rename the source side so merge expressions are unambiguous"
            )
        # materialized once: the source plan (often an aggregate) feeds
        # BOTH the touched-bucket collect and the merge join below —
        # without the checkpoint it executes twice per merge (r15)
        src = materialize(
            source.withColumn("_src_bucket", self._bucket()).withColumn(
                "_s_present", F.lit(1)
            ),
            "BucketedMergeTable.merge: source",
        )
        # <= n_buckets ints of driver traffic, independent of source size
        touched = [
            r["_src_bucket"]
            for r in src.select("_src_bucket").distinct().collect()
        ]
        tgt = target.filter(F.col("mv_bucket").isin(touched)).withColumn(
            "_t_present", F.lit(1)
        )
        joined = tgt.join(src, self.key, "full_outer")
        matched = F.col("_t_present").isNotNull() & F.col("_s_present").isNotNull()
        if matched_delete is not None:
            joined = joined.filter(~(matched & matched_delete))
        if insert_values is None:
            joined = joined.filter(F.col("_t_present").isNotNull())
        out_cols = [F.col(self.key)]
        for c in tcols:
            if c == self.key:
                continue
            expr = F.col(c)
            if matched_update and c in matched_update:
                expr = F.when(matched, matched_update[c]).otherwise(expr)
            if insert_values is not None:
                ins = insert_values.get(c, F.lit(None))
                expr = F.when(F.col("_t_present").isNull(), ins).otherwise(expr)
            out_cols.append(expr.alias(c))
        out_cols.append(
            F.coalesce(F.col("mv_bucket"), F.col("_src_bucket")).alias("mv_bucket")
        )
        merged = materialize(
            joined.select(*out_cols).repartition(F.col("mv_bucket")),
            "BucketedMergeTable.merge: merged slice",
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("mv_bucket")
            .parquet(self.path)
        )
        save_schema(self.path, merged.drop("mv_bucket").schema)
        # Dynamic partition overwrite only rewrites partitions PRESENT in
        # the written frame: a touched bucket whose every row was deleted
        # (and that received no update/insert) produces zero output rows,
        # its old directory survives, and the deleted keys resurrect on
        # the next read. Diff touched vs written buckets and clear the
        # now-empty directories explicitly (<= n_buckets driver-side ints
        # and filesystem metadata ops, independent of data size; the
        # Hadoop FS API covers local/HDFS/object stores alike).
        present = {
            r["mv_bucket"] for r in merged.select("mv_bucket").distinct().collect()
        }
        emptied = sorted(set(touched) - present)
        if emptied:
            jvm = self.spark._jvm
            hconf = self.spark._jsc.hadoopConfiguration()
            for b in emptied:
                p = jvm.org.apache.hadoop.fs.Path(
                    os.path.join(self.path, f"mv_bucket={b}")
                )
                fs = p.getFileSystem(hconf)
                if fs.exists(p):
                    fs.delete(p, True)
