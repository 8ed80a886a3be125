"""Change-data-capture surface: changelog upsert/tombstone application and
slowly-changing-dimension (SCD Type 2) history construction.

The reference's incremental layer maintains derived collections from a
stream of deltas (SURVEY §2.8, ``FoldOperators.scala`` IVM prototypes); the
batch-side complement any warehouse needs is applying a CHANGELOG to reach
a current snapshot (latest change wins per key, delete tombstones remove
the key) and materializing the full effective-dated history of every key —
the two halves of a MERGE/SCD2 pipeline. The `events` table plays the
changelog: key = ``user_id``, change order = ``(ts, event_id)``, and
``event_type = 'error'`` is the delete tombstone.

Scale design (100 TB):
- The snapshot is ONE partial-aggregated shuffle: ``max_by(payload,
  (ts, event_id))`` reduces each key map-side before the exchange — no
  window sort over the full changelog, no per-key row materialization.
  This is the shape that survives a 1000-executor MERGE: shuffle traffic
  is O(distinct keys), not O(changes).
- The SCD2 history is inherently O(changes) output; both window functions
  (version number, validity-end lookahead) share ONE ``(user_id)``
  exchange and ONE ``(ts, event_id)`` sort — pinned in tests.
- Neither path collects; tombstone filtering happens AFTER the latest-wins
  reduction (a delete must suppress earlier upserts, not be skipped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table, table_schema

#: the changelog operation that deletes its key from the snapshot.
TOMBSTONE = "error"


def apply_changelog(
    changes: DataFrame,
    key: str,
    order: tuple[str, ...],
    payload: tuple[str, ...],
    op_col: str,
    tombstone: str = TOMBSTONE,
) -> DataFrame:
    """Latest-wins upsert with delete tombstones → current snapshot.

    One aggregation: per ``key``, take the ``payload`` (plus ``op_col``) of
    the maximal ``order`` tuple via ``max_by`` (map-side combined), count
    the changes, then drop keys whose LAST operation is the tombstone."""
    last = F.max_by(
        F.struct(op_col, *payload), F.struct(*[F.col(c) for c in order])
    ).alias("_last")
    snap = changes.groupBy(key).agg(last, F.count("*").alias("n_changes"))
    return snap.filter(F.col(f"_last.{op_col}") != tombstone).select(
        key,
        F.col(f"_last.{op_col}").alias("last_op"),
        *[F.col(f"_last.{c}").alias(f"last_{c}") for c in payload],
        "n_changes",
    )


def scd2_history(
    changes: DataFrame,
    key: str,
    order: tuple[str, ...],
    payload: tuple[str, ...],
    op_col: str,
) -> DataFrame:
    """Effective-dated (SCD Type 2) change history per key.

    Each change becomes a versioned row valid from its own timestamp until
    the next change's (NULL = still current). Both window expressions use
    the same partition/order spec, so Catalyst plans one Exchange + one
    Sort for the whole history."""
    w = Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in order])
    ts_col = order[0]
    return changes.select(
        key,
        F.row_number().over(w).alias("version"),
        F.col(op_col).alias("op"),
        *payload,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col, 1).over(w).alias("valid_to"),
        F.lead(ts_col, 1).over(w).isNull().cast("int").alias("is_current"),
    )


def cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    snap = apply_changelog(
        ev, key="user_id", order=("ts", "event_id"), payload=("value",),
        op_col="event_type",
    )
    return snap.select(
        "user_id", "last_op", F.round("last_value", 4).alias("last_value"),
        "n_changes",
    )


CDC_SNAPSHOT_SQL = f"""
WITH ranked AS (
  SELECT user_id, event_type, value,
         count(*) OVER (PARTITION BY user_id) AS n_changes,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT user_id, event_type AS last_op, round(value, 4) AS last_value,
       n_changes
FROM ranked WHERE rn = 1 AND event_type <> '{TOMBSTONE}'
"""


def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(
        ev, key="user_id", order=("ts", "event_id"), payload=("value",),
        op_col="event_type",
    )
    return hist.select(
        "user_id", "version", "op", F.round("value", 4).alias("value"),
        "valid_from", "valid_to", "is_current",
    )


CDC_SCD2_SQL = """
SELECT user_id,
       row_number() OVER w AS version,
       event_type AS op,
       round(value, 4) AS value,
       ts AS valid_from,
       lead(ts, 1) OVER w AS valid_to,
       CAST(lead(ts, 1) OVER w IS NULL AS INT) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
"""


# --- streaming CDC upsert MV -------------------------------------------------
# The changelog applied CONTINUOUSLY: the events file lands twice in a
# scratch source dir and maxFilesPerTrigger=1 forces two micro-batches, so
# the second merge resolves latest-wins conflicts against the MV written by
# the first (max_by is a semilattice — any batch carving yields the batch
# answer). Oracle = the batch snapshot with n_changes doubled (every change
# was seen twice); the latest change per key is unaffected by duplication.
def streaming_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.queries.scale import _events_twice
    from linqonsteroids_spark.streaming import CdcUpsertMV

    base, src_dir = _events_twice(sf_dir, "squopt_cdcmv_")
    mv = CdcUpsertMV(
        spark,
        src_dir,
        table_schema(spark, sf_dir, "events"),
        key="user_id",
        order=("ts", "event_id"),
        payload=("value",),
        op_col="event_type",
        tombstone=TOMBSTONE,
        mv_path=f"{base}/mv",
        checkpoint_dir=f"{base}/ckpt",
        max_files_per_trigger=1,
    )
    mv.refresh_available()
    return mv.read().select(
        "user_id",
        F.col("event_type").alias("last_op"),
        F.round("value", 4).alias("last_value"),
        "n_changes",
    )


STREAMING_CDC_SQL = f"""
WITH ranked AS (
  SELECT user_id, event_type, value,
         count(*) OVER (PARTITION BY user_id) AS n_changes,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
)
SELECT user_id, event_type AS last_op, round(value, 4) AS last_value,
       2 * n_changes AS n_changes
FROM ranked WHERE rn = 1 AND event_type <> '{TOMBSTONE}'
"""


# --- CDC snapshot-as-of (time-traveling dimension) ---------------------------
# The reproducibility primitive: "join against the dimension exactly as
# refresh N saw it". Two forced micro-batches commit snapshots v1/v2 of
# the VersionedCdcMV; the gate reads BOTH after the second commit — v1
# must equal the single-pass snapshot (n_changes = count) even though v2
# has since doubled every count.
def streaming_cdc_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.queries.scale import _events_twice
    from linqonsteroids_spark.streaming import VersionedCdcMV

    base, src_dir = _events_twice(sf_dir, "squopt_cdcver_")
    mv = VersionedCdcMV(
        spark,
        src_dir,
        table_schema(spark, sf_dir, "events"),
        key="user_id",
        order=("ts", "event_id"),
        payload=("value",),
        op_col="event_type",
        tombstone=TOMBSTONE,
        mv_path=f"{base}/mv",
        checkpoint_dir=f"{base}/ckpt",
        max_files_per_trigger=1,
    )
    mv.refresh_available()
    out = None
    for v in mv.versions():
        snap = mv.read(version=v).withColumn("version", F.lit(v).cast("long"))
        out = snap if out is None else out.unionByName(snap)
    return out.select(
        "version",
        "user_id",
        F.col("event_type").alias("last_op"),
        F.round("value", 4).alias("last_value"),
        "n_changes",
    )


STREAMING_CDC_AS_OF_SQL = f"""
WITH ranked AS (
  SELECT user_id, event_type, value,
         count(*) OVER (PARTITION BY user_id) AS n_changes,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
), snap AS (
  SELECT user_id, event_type AS last_op, round(value, 4) AS last_value,
         n_changes
  FROM ranked WHERE rn = 1 AND event_type <> '{TOMBSTONE}'
)
SELECT 1 AS version, user_id, last_op, last_value, n_changes FROM snap
UNION ALL
SELECT 2 AS version, user_id, last_op, last_value, 2 * n_changes FROM snap
"""


# --- point-in-time (PIT) feature join ----------------------------------------
# THE training-data correctness primitive: join facts to the dimension
# version that was valid AT each fact's own timestamp — never a later one
# (feature leakage) and never an earlier one than necessary (staleness).
# Composition, not new machinery: the dimension history is scd2_history
# over the user-state changelog (every non-purchase event), and the
# per-fact version resolution is the as-of join (operators/asof.py:
# union+window, ONE shuffle, hot keys boundable via time_bucket_width) —
# NOT a validity-range theta-join, whose per-key version fan-out explodes
# at 100 TB. Strict (<) semantics: a state change at the purchase's exact
# timestamp is not yet visible to it.
def pit_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    hist = scd2_history(
        ev.filter(F.col("event_type") != "purchase"),
        key="user_id", order=("ts", "event_id"), payload=("value",),
        op_col="event_type",
    ).select(
        "user_id", "version", "op", "value", F.col("valid_from").alias("dim_ts")
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts",
        F.round("value", 4).alias("purchase_value"),
    )
    out = asof_join(
        facts, hist, on="user_id", left_time="ts", right_time="dim_ts",
        value_cols=["version", "op", "value"],
        strict=True, right_tiebreak="version",
    )
    return out.select(
        "user_id", "event_id", "ts", "purchase_value",
        F.col("asof_version").alias("dim_version"),
        F.col("asof_op").alias("dim_op"),
        F.round("asof_value", 4).alias("dim_value"),
    )


PIT_FEATURE_SQL = """
WITH hist AS (
  SELECT user_id,
         row_number() OVER w AS version,
         event_type AS op,
         value,
         ts AS dim_ts
  FROM events WHERE event_type <> 'purchase'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), facts AS (
  SELECT user_id, event_id, ts, round(value, 4) AS purchase_value
  FROM events WHERE event_type = 'purchase'
), matched AS (
  SELECT f.user_id, f.event_id, f.ts, f.purchase_value,
         h.version AS dim_version, h.op AS dim_op,
         round(h.value, 4) AS dim_value,
         row_number() OVER (
           PARTITION BY f.event_id
           ORDER BY h.dim_ts DESC NULLS LAST, h.version DESC NULLS LAST
         ) AS rn
  FROM facts f LEFT JOIN hist h
    ON f.user_id = h.user_id AND h.dim_ts < f.ts
)
SELECT user_id, event_id, ts, purchase_value, dim_version, dim_op, dim_value
FROM matched WHERE rn = 1
"""


# --- batch MERGE INTO (lakehouse upsert statement) ---------------------------
# The full three-clause MERGE on the bucketed-parquet layout
# (operators/merge.py): customers minus every 7th key form the target;
# per-customer order totals are the source. Matched heavy customers
# (> 15 orders) are DELETED, other matched customers get their balance
# UPDATED (+ order total), source-only customers are INSERTED as NEW
# rows, and customers without orders survive untouched. All clauses
# resolve in ONE full-outer join over only the touched buckets; the
# oracle states the same result set-theoretically from the base tables.
def merge_into_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.merge import BucketedMergeTable
    from linqonsteroids_spark.session import scratch_dir

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    tbl = BucketedMergeTable(
        spark, f"{scratch_dir(prefix='squopt_merge_')}/balances", key="c_custkey"
    )
    tbl.create(
        cust.filter(F.col("c_custkey") % 7 != 0).select(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
        )
    )
    src = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("order_total"),
    )
    tbl.merge(
        src,
        matched_update={
            "c_acctbal": F.round(F.col("c_acctbal") + F.col("order_total"), 2)
        },
        matched_delete=F.col("n_orders") > 15,
        insert_values={
            "c_name": F.concat(F.lit("NEW-"), F.col("c_custkey").cast("string")),
            "c_acctbal": F.col("order_total"),
        },
    )
    return tbl.read()


MERGE_INTO_SQL = """
WITH tgt AS (
  SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal
  FROM customer WHERE c_custkey % 7 <> 0
), src AS (
  SELECT o_custkey AS k, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS order_total
  FROM orders GROUP BY 1
)
SELECT coalesce(t.c_custkey, s.k) AS c_custkey,
       CASE WHEN t.c_custkey IS NULL THEN 'NEW-' || s.k
            ELSE t.c_name END AS c_name,
       CASE WHEN t.c_custkey IS NULL THEN s.order_total
            WHEN s.k IS NULL THEN t.c_acctbal
            ELSE round(t.c_acctbal + s.order_total, 2) END AS c_acctbal
FROM tgt t FULL OUTER JOIN src s ON t.c_custkey = s.k
WHERE NOT (t.c_custkey IS NOT NULL AND s.k IS NOT NULL AND s.n_orders > 15)
"""


QUERIES = {
    "cdc_latest_snapshot": (cdc_latest_snapshot, CDC_SNAPSHOT_SQL),
    "cdc_scd2_history": (cdc_scd2_history, CDC_SCD2_SQL),
    "streaming_cdc_snapshot": (streaming_cdc_snapshot, STREAMING_CDC_SQL),
    "streaming_cdc_as_of": (streaming_cdc_as_of, STREAMING_CDC_AS_OF_SQL),
    "pit_feature_join": (pit_feature_join, PIT_FEATURE_SQL),
    "merge_into_balances": (merge_into_balances, MERGE_INTO_SQL),
}
