"""Scale-path operators as oracle-backed queries: salted join/agg, IVF ANN,
binned range join, and a streaming windowed aggregate.

These register the operators built for 100 TB behavior (skew mitigation,
cell-probed ANN, bin-bucketed θ-joins, incrementally-maintained windows)
under the driver's differential gate. Where the operator is approximate by
design (IVF), the registered query runs it in its exact configuration
(n_probe = n_lists) so the DuckDB oracle is well-defined; the recall/cost
trade-off is pinned separately in tests/test_similarity.py.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import (
    load_table,
    normalize_events_ts,
    stream_table,
    table_path,
    table_schema,
)
from linqonsteroids_spark.operators.asof import range_join
from linqonsteroids_spark.operators.skew import salted_aggregate, salted_join
from linqonsteroids_spark.similarity.ivf import ivf_topk
from linqonsteroids_spark.streaming.incremental import (
    sessionized_counts,
    stateful_running_totals,
    stream_stream_interval_join,
    windowed_aggregate,
)


# --- salted join (skew.py): hot-key fact-dim join -------------------------
# The salt spreads each supplier's lineitems over 8 tasks; the supplier side
# replicates 8x (still tiny). Result is identical to the plain equi-join —
# the oracle is the plain join.
def salted_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    joined = salted_join(li, supp, "l_suppkey", "s_suppkey", n_salts=8)
    return joined.groupBy("s_suppkey", "s_name").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


SALTED_JOIN_SQL = """
SELECT s_suppkey, s_name, count(*) AS n_items,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
"""


# --- salted two-stage aggregation (skew.py): 3-hot-key groupBy ------------
# l_linestatus has ~3 values — the worst case for a direct shuffle (3 busy
# reducers). The salted plan pre-aggregates on (key, salt): both shuffles
# move O(keys x salts) rows regardless of SF.
def salted_status_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        "l_linestatus",
        {
            "n_rows": ("sum", F.count("*")),
            "sum_qty": ("sum", F.sum("l_quantity")),
            "max_price": ("max", F.max("l_extendedprice")),
        },
        n_salts=8,
    )
    return out.select(
        "l_linestatus",
        "n_rows",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("max_price", 2).alias("max_price"),
    )


SALTED_AGG_SQL = """
SELECT l_linestatus, count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       round(max(l_extendedprice), 2) AS max_price
FROM lineitem GROUP BY l_linestatus
"""


# --- IVF ANN (similarity/ivf.py), exact configuration ---------------------
# n_probe = n_lists probes every cell, so the cell partition cannot drop a
# true neighbor and the result equals brute force — which is the oracle.
# Queries include themselves as rank-1 hits (sim 1.0): a deterministic
# fixture the oracle reproduces.
def knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(queries, emb, k=5, n_lists=8, n_probe=8)
    return out.select(
        "query_id", "rnk", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim")
    )


# The PRODUCTION configuration: pretrained cells, n_probe < n_lists. The
# centroids are a frozen index artifact (similarity/pretrained.py, seeded
# MLlib k-means run once via tools/train_ivf_centroids.py — exactly how
# production IVF ships: train on a sample, freeze the artifact, replay it
# per query; zero training passes at query time). Frozen literals make
# assignment and probing deterministic and SQL-replayable, so this gate
# carries a full value-hash oracle (the round-4 verdict's ask); recall vs
# exact is pinned in tests/test_similarity.py.
def knn_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = ivf_topk(queries, emb, k=5, n_probe=2, centroids=IVF_CENTROIDS)
    return out.select(
        "query_id", "rnk", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim")
    )


def _knn_ivf_trained_sql() -> str:
    """Replay the frozen-centroid probe in DuckDB: same -2·v·c + |c|²
    squared-L2 ranking (|c|² precomputed from the same rounded literals,
    sequential double accumulation), same ASC cell tie-break, same top-k."""
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    rows = []
    for i, c in enumerate(IVF_CENTROIDS):
        cc = 0.0
        for x in c:
            cc += float(x) * float(x)
        vals = ", ".join(repr(float(x)) for x in c)
        rows.append(f"({i}, [{vals}]::DOUBLE[], {cc!r})")
    cent = ",\n       ".join(rows)
    return f"""
WITH cent AS (
  SELECT * FROM (VALUES {cent}) AS t(cell, cvec, cc)
), corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT c.vec_id, c.v, ct.cell,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY -2 * list_dot_product(c.v, ct.cvec) + ct.cc ASC,
                      ct.cell ASC) AS arnk
    FROM corpus c CROSS JOIN cent ct
  ) WHERE arnk = 1
), probes AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, ct.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY -2 * list_dot_product(q.v, ct.cvec) + ct.cc ASC,
                      ct.cell ASC) AS prnk
    FROM corpus q CROSS JOIN cent ct
    WHERE q.vec_id % 25 = 0
  ) WHERE prnk <= 2
)
SELECT query_id, rnk, neighbor_id, cos_sim FROM (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         round(list_cosine_similarity(p.qv, a.v), 4) AS cos_sim,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(p.qv, a.v) DESC,
                    a.vec_id ASC) AS rnk
  FROM probes p JOIN assigned a USING (cell)
) WHERE rnk <= 5
"""


KNN_IVF_TRAINED_SQL = _knn_ivf_trained_sql()


KNN_IVF_SQL = """
SELECT query_id, rnk, neighbor_id, cos_sim
FROM (
  SELECT q.vec_id AS query_id,
         c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 4) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id ASC) AS rnk
  FROM embeddings q, embeddings c
  WHERE q.vec_id % 25 = 0
)
WHERE rnk <= 5
"""


# --- binned range join (asof.py): value-band classification ---------------
# The bin_width path turns the interval θ-join into bin-equi + residual:
# each event lands in exactly one 50-wide bin, each band explodes over the
# bins it covers, and the join shuffles on bin — per-bin work is bounded,
# so the plan survives 100x more events without a global cross product.
_BANDS = [(0, 0, 50), (1, 50, 100), (2, 100, 200), (3, 200, 350), (4, 350, 500)]


def events_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "band_id int, lo int, hi int")
    # broadcast the 5-row band relation DELIBERATELY (guide §3): the
    # Python-RDD-backed local table carries no size stats, so the planner
    # otherwise sizes it at the default-huge estimate and broadcasts the
    # O(N) EVENTS side instead (BuildLeft in the r15 before-plan) — an
    # inversion that cannot survive scale
    joined = range_join(
        events.select("event_id", "value"),
        F.broadcast(bands),
        "value",
        "lo",
        "hi",
        bin_width=50,
    )
    return joined.groupBy("band_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


VALUE_BANDS_SQL = """
SELECT band_id, count(*) AS n_events, round(avg(e.value), 4) AS avg_value
FROM events e
JOIN (VALUES (0, 0, 50), (1, 50, 100), (2, 100, 200),
             (3, 200, 350), (4, 350, 500)) AS b(band_id, lo, hi)
  ON e.value >= b.lo AND e.value < b.hi
GROUP BY band_id
"""


# --- streaming windowed aggregate (streaming/incremental.py) --------------
# The same tumbling-window query a batch engine would run, executed through
# Structured Streaming (Trigger.AvailableNow) so state is maintained
# incrementally per micro-batch — the Δ(indexBy) rule from the reference's
# derivation prototype (Prototype.scala:32-66), engine-maintained.
# The memory sink here is demonstration-sized (complete mode); the
# production sink is StreamingIndex.refresh_available (foreachBatch to
# parquet), which never holds the result on the driver.
_MV_IDS = itertools.count()


def _run_stream_to_memory(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    state_partitions: int = 8,
    no_data_batches: bool = True,
) -> None:
    """Execute a stateful streaming query to a memory sink with state
    partitions sized to the stream's key volume: each stateful operator
    opens one state store per shuffle partition, and at these key counts
    store setup dominates wall time ~4x at 32 partitions. Per-query knob —
    a real deployment scales it back up with the data; the session default
    is untouched for everything else.

    ``no_data_batches=False`` skips the trailing zero-row micro-batch the
    engine otherwise appends to advance the watermark (r15). ONLY valid
    for queries whose every output row is emitted by a DATA batch —
    dropDuplicatesWithinWatermark in append mode emits on arrival and
    uses the watermark purely for state eviction. Queries whose output
    depends on watermark-driven finalization (outer-join null padding,
    append-mode window finals) MUST keep it on or they lose rows."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    nkey = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_ndb = spark.conf.get(nkey)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        if not no_data_batches:
            spark.conf.set(nkey, "false")
        (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set(nkey, old_ndb)


def streaming_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_table(spark, sf_dir, "events")
    windows = windowed_aggregate(
        stream,
        ts_col="ts",
        window="1 hour",
        aggs={"n_events": F.count("*"), "sum_value": F.sum("value")},
        extra_keys=["event_type"],
    )
    name = f"mv_hourly_{next(_MV_IDS)}"
    _run_stream_to_memory(spark, windows, name, "complete")
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
    )


STREAMING_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""


# --- streaming session windows (gap-based sessionization) -----------------
# Spark merges an event into the current session iff gap_to_previous <
# gap (window end is exclusive), which is exactly the SQL islands
# algorithm with a new-session mark at diff >= gap — the oracle below.
# session_end is last-event + gap by definition of session_window.
_SESSION_GAP = "2 hours"


def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_table(spark, sf_dir, "events")
    sessions = sessionized_counts(stream, ts_col="ts", gap=_SESSION_GAP, key="user_id")
    name = f"mv_sessions_{next(_MV_IDS)}"
    _run_stream_to_memory(spark, sessions, name, "complete")
    return spark.table(name).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


STREAMING_SESSIONS_SQL = """
WITH marks AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL 2 HOUR
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
grouped AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts) + INTERVAL 2 HOUR, '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events
FROM grouped GROUP BY user_id, sid
"""


# --- custom stateful streaming op (applyInPandasWithState) ----------------
# Per-user running (count, sum, max) maintained in partitioned state — the
# live form of the reference's dead incremental folds
# (FoldOperators.scala:58-72). Update mode emits a row per key per batch;
# the max-n_events row per key is the final cumulative state, which must
# equal the batch recompute (the oracle).
def streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_table(spark, sf_dir, "events")
    totals = stateful_running_totals(stream, key="user_id", value_col="value")
    name = f"mv_totals_{next(_MV_IDS)}"
    _run_stream_to_memory(spark, totals, name, "update")
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total", 4).alias("total"),
            F.round("max_value", 4).alias("max_value"),
        )
    )


# --- stream-stream interval join (Prototype.scala:56-61 delta join) -------
# Purchases ⋈ clicks: for every purchase, all same-user clicks in the two
# hours strictly before it. Both sides are independent file streams over
# the same events source; Structured Streaming buffers each side's rows in
# watermark-bounded state and probes the opposite buffer per micro-batch —
# the ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB rule, engine-maintained. One input file ⇒ one
# micro-batch under AvailableNow, so the append-mode sink sees every pair;
# the oracle is the equivalent batch interval join.
def streaming_purchase_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE source, self-joined: Spark splits the stream into both join sides.
    events = stream_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value"),
    )
    joined = stream_stream_interval_join(
        purchases,
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
        left_time="p_ts",
        right_time="c_ts",
    )
    name = f"mv_ssjoin_{next(_MV_IDS)}"
    # a stream-stream join is the worst case: FOUR state stores per shuffle
    # partition (key→count + key+index→row per side), so halve the state
    # partitions again relative to single-store queries.
    # no_data_batches=False (r15): an INNER stream-stream join emits each
    # pair in the data micro-batch where both sides arrive — the trailing
    # watermark-advance batch only evicts state a terminating query never
    # reuses (same argument as the append-mode dedup gate; the OUTER
    # variant below MUST keep it for null-padding finalization)
    _run_stream_to_memory(
        spark, joined, name, "append", state_partitions=4, no_data_batches=False
    )
    return spark.table(name).select(
        "purchase_id", "click_id", F.round("value", 4).alias("click_value")
    )


# --- stream-stream LEFT OUTER interval join (null-padding on watermark) ------
# The outer completion of the Δ-join above: purchases with NO click in
# the preceding two hours must still emit, null-padded — which in
# Structured Streaming happens only when the GLOBAL watermark (the min
# across both sides) proves no future match can arrive. That makes this
# gate a genuine semantics test of watermark-driven state eviction, not
# just a join-flag flip, and it exposes the operational rule a real
# pipeline must know: a stream that simply STOPS never flushes its
# outer rows (the final batch's watermark is computed from data already
# seen). The gate stages the source as two files — the events file, then
# a far-future sentinel pair (one per side, user -1, which can never
# match and, being right-side-unmatched / still-in-state, never appears
# in output) — so the data batch's closing watermark passes every real
# row and the engine's watermark-advance batch hands the append sink
# the complete outer result. The
# oracle is the equivalent batch LEFT JOIN. State: watermark + interval
# bound both buffers, O(rows in window), exactly as the inner variant.
def streaming_outer_purchase_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    base = spark.read.schema(table_schema(spark, sf_dir, "events")).parquet(
        table_path(sf_dir, "events")
    )
    ts_dtype = dict(base.dtypes)["ts"]

    stage = tempfile.mkdtemp(prefix="outer_join_stage_")
    try:
        return _run_outer_join_staged(spark, sf_dir, base, ts_dtype, stage)
    finally:
        # the memory-sink table owns the result once the stream has run;
        # the staged copy of events.parquet is dead weight (it leaked one
        # full copy per invocation before round 8).
        shutil.rmtree(stage, ignore_errors=True)


def _run_outer_join_staged(spark, sf_dir, base, ts_dtype, stage):
    import os
    import shutil

    shutil.copy(f"{sf_dir}/events.parquet", f"{stage}/part-0-events.parquet")
    far = (
        F.lit(4102444800 * 10**9).cast("long")
        if ts_dtype == "bigint"
        else F.lit("2100-01-01 00:00:00").cast(ts_dtype)
    )
    one = base.limit(1)

    def sentinel(eid: int, etype: str):
        return one.select(
            F.lit(eid).cast("long").alias("event_id"),
            far.alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit(etype).alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        )

    sentinel(10**9, "click").union(sentinel(10**9 + 1, "purchase")).coalesce(
        1
    ).write.mode("overwrite").parquet(f"{stage}/z")
    for f in os.listdir(f"{stage}/z"):
        if f.endswith(".parquet"):
            shutil.move(f"{stage}/z/{f}", f"{stage}/part-9-sentinel.parquet")
    shutil.rmtree(f"{stage}/z")

    # no maxFilesPerTrigger (r15): event-time semantics do not depend on
    # arrival order within a batch, so the events file and the sentinel
    # file land in ONE data batch — the watermark computed at its end
    # already passes every real row (the sentinel is far-future), and the
    # engine's trailing no-data batch flushes the outer null-padded rows
    # exactly as before. Was three micro-batches (events, sentinel,
    # no-data flush) at ~3.3 s addBatch each; now two. Output identical:
    # inner matches emit from the data batch, outer rows from the flush.
    events = normalize_events_ts(
        spark.readStream.schema(base.schema).parquet(stage)
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value"),
    )
    joined = stream_stream_interval_join(
        purchases,
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 2 HOURS"))
        & (F.col("c_ts") < F.col("p_ts")),
        left_time="p_ts",
        right_time="c_ts",
        how="left_outer",
    )
    name = f"mv_ssouter_{next(_MV_IDS)}"
    _run_stream_to_memory(spark, joined, name, "append", state_partitions=4)
    return (
        spark.table(name)
        .filter(F.col("p_user") >= 0)  # drop the sentinel's own row if any
        .select(
            "purchase_id",
            "click_id",
            F.round("value", 4).alias("click_value"),
        )
    )


STREAMING_SSOUTER_SQL = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       round(c.value, 4) AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 2 HOUR
 AND c.ts < p.ts
"""


STREAMING_SSJOIN_SQL = """
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       round(c.value, 4) AS click_value
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 2 HOUR
 AND c.ts < p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


STREAMING_TOTALS_SQL = """
SELECT user_id,
       count(*) AS n_events,
       round(sum(value), 4) AS total,
       round(max(value), 4) AS max_value
FROM events GROUP BY user_id
"""


# --- streaming dedup with watermark-bounded state --------------------------
# The streaming form of dedup_exact: dropDuplicatesWithinWatermark keeps
# one state-store entry per key and EVICTS it once the watermark passes —
# the state bound that makes continuous dedup of an unbounded stream
# feasible (plain dropDuplicates on a stream grows state forever). Emitted
# rows are key-only (which physical duplicate arrives first is scheduler-
# dependent), then batch-aggregated; the oracle is the batch DISTINCT.
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = (
        stream_table(spark, sf_dir, "events")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    name = f"mv_dedup_{next(_MV_IDS)}"
    # no_data_batches=False (r15): the trailing watermark-advance batch
    # re-ran the whole stateful plan for zero input rows and cost nearly
    # as much as the data batch (addBatch 1.8-3.7 s vs 2.6-5 s measured);
    # dedup emits first-seen rows in the data batch itself, so the
    # no-data batch only evicted state this terminating query never
    # reuses. Output rows are identical by construction.
    _run_stream_to_memory(
        spark, stream, name, "append", no_data_batches=False
    )
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_users"))
    )


STREAMING_DEDUP_SQL = """
SELECT event_type, count(*) AS n_users
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
"""


def _events_twice(sf_dir: str, prefix: str) -> tuple[str, str]:
    """(scratch dir, its ``src`` dir holding the events file twice): two
    input files make a ``maxFilesPerTrigger=1`` stream run two batches."""
    import os
    import shutil

    from linqonsteroids_spark.session import scratch_dir

    base = scratch_dir(prefix=prefix)
    os.makedirs(f"{base}/src", exist_ok=True)
    for copy in ("a", "b"):
        shutil.copy(
            table_path(sf_dir, "events"), f"{base}/src/events_{copy}.parquet"
        )
    return base, f"{base}/src"


# --- incremental aggregate MV (externalized-state IVM) ---------------------
# The events file lands TWICE in a scratch source dir; maxFilesPerTrigger=1
# forces two micro-batches, so the second refresh MERGES its partial
# aggregate into the MV written by the first (Δ(indexBy∘fold) with the
# keyed map in the MV, not the state store). The oracle is the doubled
# batch recompute: counts and sums 2x, min/max unchanged.
def incremental_mv_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.streaming import IncrementalAggMV

    base, src_dir = _events_twice(sf_dir, "squopt_imv_")
    mv = IncrementalAggMV(
        spark,
        src_dir,
        table_schema(spark, sf_dir, "events"),
        key="event_type",
        aggs={
            "n_events": ("sum", F.count("*")),
            "sum_value": ("sum", F.round(F.sum("value"), 4)),
            "max_value": ("max", F.round(F.max("value"), 4)),
        },
        mv_path=f"{base}/mv",
        checkpoint_dir=f"{base}/ckpt",
        max_files_per_trigger=1,
    )
    mv.refresh_available()
    return mv.read().select(
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "max_value",
    )


INCREMENTAL_MV_SQL = """
SELECT event_type,
       2 * count(*) AS n_events,
       round(2 * round(sum(value), 4), 2) AS sum_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY event_type
"""


# --- versioned MV: time travel + change feed --------------------------------
# The manifest-backed copy-on-write variant (VersionedAggMV): two forced
# micro-batches commit snapshots v1 and v2; the gate reads BOTH versions
# tagged — v1 must equal the single batch recompute and v2 the doubled one
# even though v2 was committed after v1 (no file is ever rewritten, so
# time travel is exact). The change feed between the snapshots is derived
# by diffing them, skipping buckets whose manifest file lists are equal.
def _versioned_mv(spark: SparkSession, sf_dir: str):
    from linqonsteroids_spark.streaming import VersionedAggMV

    base, src_dir = _events_twice(sf_dir, "squopt_vmv_")
    mv = VersionedAggMV(
        spark,
        src_dir,
        table_schema(spark, sf_dir, "events"),
        key="event_type",
        aggs={
            "n_events": ("sum", F.count("*")),
            "sum_value": ("sum", F.round(F.sum("value"), 4)),
            "max_value": ("max", F.round(F.max("value"), 4)),
        },
        mv_path=f"{base}/mv",
        checkpoint_dir=f"{base}/ckpt",
        max_files_per_trigger=1,
    )
    mv.refresh_available()
    return mv


def incremental_mv_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv = _versioned_mv(spark, sf_dir)
    out = None
    for v in mv.versions():
        snap = mv.read(version=v).withColumn("version", F.lit(v).cast("long"))
        out = snap if out is None else out.unionByName(snap)
    return out.select(
        "version",
        "event_type",
        "n_events",
        F.round("sum_value", 2).alias("sum_value"),
        "max_value",
    )


TIME_TRAVEL_SQL = """
SELECT 1 AS version, event_type,
       count(*) AS n_events,
       round(round(sum(value), 4), 2) AS sum_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY event_type
UNION ALL
SELECT 2 AS version, event_type,
       2 * count(*) AS n_events,
       round(2 * round(sum(value), 4), 2) AS sum_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY event_type
"""


def mv_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    mv = _versioned_mv(spark, sf_dir)
    feed = mv.changes_between(1, 2)
    return feed.select(
        "event_type",
        "change_type",
        "n_events_old",
        "n_events_new",
        F.round("sum_value_old", 2).alias("sum_value_old"),
        F.round("sum_value_new", 2).alias("sum_value_new"),
    )


CHANGE_FEED_SQL = """
SELECT event_type, 'update' AS change_type,
       count(*) AS n_events_old,
       2 * count(*) AS n_events_new,
       round(round(sum(value), 4), 2) AS sum_value_old,
       round(2 * round(sum(value), 4), 2) AS sum_value_new
FROM events GROUP BY event_type
"""


# --- streaming MV refresh (StreamingIndex) ----------------------------------
# The reference's Optimization.addIndex upgraded from batch build to
# stream-log-driven refresh: StreamingIndex replays only files the
# checkpoint hasn't seen (here: everything, once) and rewrites the MV
# parquet; read() serves the maintained result. Complete-mode for the
# bounded-key aggregate; the oracle is the batch recompute.
def streaming_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.session import scratch_dir
    from linqonsteroids_spark.streaming import StreamingIndex

    schema = table_schema(spark, sf_dir, "events")
    base = scratch_dir(prefix="squopt_smv_")

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )

    idx = StreamingIndex(
        spark,
        sf_dir,
        schema,
        transform=transform,
        mv_path=f"{base}/mv",
        checkpoint_dir=f"{base}/ckpt",
        path_glob="events.parquet",
    )
    idx.refresh_available()
    return idx.read()


STREAMING_MV_SQL = """
SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY event_type
"""


# --- continuous trending top-k (streaming agg + batch-side rank) ------------
# "Most active users per hour, maintained continuously": the hourly
# (window, user) counts are an incremental streaming aggregate; the top-k
# RANK is not streamable (ranking windows are unsupported on unbounded
# streams), so it runs as StreamingIndex.post_transform INSIDE the
# foreachBatch sink over the small aggregated result — engine maintains
# the counts, the sink finishes the leaderboard. Scale: rank input is
# O(windows × users-with-events), already reduced; the only corpus-sized
# work is the streaming aggregate itself.
_TRENDING_K = 3


def streaming_trending_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from linqonsteroids_spark.session import scratch_dir
    from linqonsteroids_spark.streaming import StreamingIndex

    schema = table_schema(spark, sf_dir, "events")
    base = scratch_dir(prefix="squopt_trend_")

    def transform(stream: DataFrame) -> DataFrame:
        ev = normalize_events_ts(stream)
        return (
            ev.groupBy(F.window("ts", "1 hour"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("window.start").alias("window_start"), "user_id", "n_events"
            )
        )

    def rank_topk(batch: DataFrame) -> DataFrame:
        w = W.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("user_id")
        )
        return (
            batch.withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= _TRENDING_K)
        )

    idx = StreamingIndex(
        spark,
        sf_dir,
        schema,
        transform=transform,
        mv_path=f"{base}/mv",
        checkpoint_dir=f"{base}/ckpt",
        path_glob="events.parquet",
        post_transform=rank_topk,
    )
    idx.refresh_available()
    return idx.read()


STREAMING_TRENDING_SQL = f"""
WITH c AS (
  SELECT date_trunc('hour', ts) AS window_start, user_id, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT window_start, user_id, n_events, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY window_start ORDER BY n_events DESC, user_id ASC
  ) AS rnk
  FROM c
)
WHERE rnk <= {_TRENDING_K}
"""


# --- stream-static dimension enrichment ------------------------------------
# The remaining table-stakes streaming join shape: an unbounded stream
# enriched against a STATIC dimension. No state stores at all — the dim is
# broadcast and re-resolved per micro-batch (Spark re-plans the static
# side each trigger, so a dim refresh between triggers is picked up); the
# downstream aggregate is the only stateful operator. At 100 TB the dim
# side stays broadcast-bounded (customer segments here); bigger dims fall
# back to a shuffled stream-static join, still stateless.
def streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_table(spark, sf_dir, "events")
    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = stream.join(
        F.broadcast(customers), stream.user_id == customers.c_custkey
    )
    counts = enriched.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    name = f"mv_enriched_{next(_MV_IDS)}"
    _run_stream_to_memory(spark, counts, name, "complete", state_partitions=4)
    return spark.table(name)


STREAMING_ENRICHED_SQL = """
SELECT c_mktsegment,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c_mktsegment
"""


# --- state-store reader: the streaming-ops surface -------------------------
# Spark 4's `statestore` batch source reads a streaming query's RocksDB/
# HDFS state files directly — the tool for inspecting, auditing, or
# repairing a 100 TB pipeline's state WITHOUT replaying the stream. The
# gate runs a stateful count+sum aggregation to a checkpoint, then reads
# the raw per-key state back and compares it to the batch truth: if the
# state bytes decode to exactly the GROUP BY result, the checkpoint is
# provably consistent. Money accumulates as per-row DECIMAL(18,2) cents
# summed in BIGINT, so state equals oracle bit-exactly (no float order).


def statestore_reader_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.session import cached_scratch_dir

    stream = stream_table(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    agg = (
        stream.select("event_type", cents.alias("_cents"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_cents").alias("value_cents"),
        )
    )
    # checkpoint is key-stable per sf_dir: a re-invocation restarts
    # from the checkpoint, lists no new files, and leaves the state
    # unchanged (the repository build->reuse contract, double-sweep
    # verified)
    chk = f"{cached_scratch_dir('squopt_sstate_', sf_dir)}/chk"
    name = f"mv_sstate_{next(_MV_IDS)}"
    _run_stream_to_memory_checkpointed(spark, agg, name, "complete", chk)
    # state value struct fields carry the AGG BUFFER names (count/sum),
    # one row per key (a key lives in exactly one shuffle partition)
    return (
        spark.read.format("statestore")
        .load(chk)
        .select(
            F.col("key.event_type").alias("event_type"),
            F.col("value.count").alias("n_events"),
            F.col("value.sum").alias("value_cents"),
        )
    )


def _run_stream_to_memory_checkpointed(
    spark: SparkSession,
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    checkpoint: str,
    state_partitions: int = 4,
) -> None:
    """_run_stream_to_memory with an explicit checkpoint so the state
    outlives the query (the statestore source reads checkpoint files)."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


STATESTORE_READER_SQL = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS value_cents
FROM events GROUP BY event_type
"""


# --- hot-key partial salting (r11) ------------------------------------------
# Blanket salting (salted_supplier_volume above) replicates the WHOLE
# small side n_salts× — the right trade when most keys are hot. The
# 100 TB norm is the opposite: a few whale keys in an otherwise uniform
# distribution, where blanket replication multiplies the entire dim's
# shuffle volume for the benefit of a handful of keys. The partial
# variant measures the top-K heaviest fact keys (one key-only
# aggregation; sample-able at scale) and salts ONLY those — every other
# key joins once, unsalted. Result ≡ the plain equi-join; the oracle
# replays it declaratively.
def hotkey_salted_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.skew import hotkey_salted_join

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    joined = hotkey_salted_join(
        li, supp, "l_suppkey", "s_suppkey", n_salts=8, max_hot_keys=16
    )
    return joined.groupBy("s_suppkey", "s_name").agg(
        F.count("*").alias("n_items"),
        F.sum("l_quantity").cast("bigint").alias("total_qty"),
        (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("price_cents"),
    )


HOTKEY_SALTED_SQL = """
SELECT s_suppkey, s_name, count(*) AS n_items,
       CAST(sum(l_quantity) AS BIGINT) AS total_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
"""


# --- dynamic partition pruning (the third scan-pruning tier) ---------------
# Static pruning handles literal predicates and the index rewrite handles
# registered keys; DPP covers the remaining — and at 100 TB the most
# common — shape: a partitioned FACT joined to a FILTERED dim, where the
# set of fact partitions worth reading is only known at runtime. Catalyst
# broadcasts the dim, reuses the broadcast as an IN-subquery inside the
# fact scan's PartitionFilters (`dynamicpruningexpression`), and the scan
# reads only the matching key directories — here 2 of 5, at a petabyte
# fact it is the difference between a full scan and a sliver. The gate
# stages orders as a priority-partitioned fact plus a tiny urgency dim
# (built once per sf_dir), and RAISES unless the executed plan carries
# the dynamic pruning filter on the fact scan. Oracle: the join replayed
# declaratively over the unpartitioned source.
def dpp_partition_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_dpp_", sf_dir)
    fact, dim = os.path.join(base, "fact"), os.path.join(base, "dim")
    orders = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(fact, "_SUCCESS")):
        # repartition on the partition column first — without it every
        # task opens a file per directory (the measured partitionBy trap)
        (
            orders.repartition("o_orderpriority")
            .write.mode("overwrite")
            .partitionBy("o_orderpriority")
            .parquet(fact)
        )
    dim_df = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn("urgency", F.substring("o_orderpriority", 1, 1).cast("int"))
    )
    if not os.path.exists(os.path.join(dim, "_SUCCESS")):
        dim_df.write.mode("overwrite").parquet(dim)
    # a declared schema names the data columns only; the partition column
    # is appended from the directory names, typed as inference would
    f = spark.read.schema(orders.drop("o_orderpriority").schema).parquet(fact)
    d = spark.read.schema(dim_df.schema).parquet(dim).filter(F.col("urgency") <= 2)
    q = (
        f.join(d, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    segs = [s.split("]", 1)[0] for s in plan.split("PartitionFilters: [")[1:]]
    if not any("dynamicpruning" in s for s in segs):
        raise RuntimeError(
            "dynamic partition pruning did not reach the fact scan's "
            f"PartitionFilters: {segs}"
        )
    return q


DPP_REVENUE_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents
FROM orders
WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) <= 2
GROUP BY o_orderpriority
"""


# --- parquet bloom-filter layout: point lookup on an unclustered key ---------
# The fourth scan-pruning tier (static pushdown / DPP / index reroute /
# THIS): a date-clustered fact gives every file a full-range [min, max]
# span on o_orderkey, so footer statistics prune NOTHING for a key
# lookup — the write-time split-block bloom filter is the only skipping
# signal (sources/bloomfilters.py). The gate stages orders date-clustered
# with a bloom filter stamped on o_orderkey, then RAISES unless (a) every
# staged file's footer carries the filter, (b) the point predicate reached
# the scan as a PushedFilter, and (c) the scan's numOutputRows shows
# row groups were actually SKIPPED (at most half the staged rows — the
# date-scattered layout guarantees statistics alone cannot do that).
# Oracle: the same lookup over the raw table.
def bloom_layout_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.sources.bloomfilters import (
        bloom_columns_per_file,
        scan_output_rows,
        write_with_bloom,
    )

    base = cached_scratch_dir("squopt_bloomlayout_", sf_dir)
    layout = os.path.join(base, "orders_bloom")
    orders = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(layout, "_SUCCESS")):
        write_with_bloom(
            orders.repartitionByRange(8, "o_orderdate").sortWithinPartitions(
                "o_orderdate"
            ),
            layout,
            {"o_orderkey": 100_000},
        )
    stamped = bloom_columns_per_file(spark, layout)
    missing = [f for f, cols in stamped.items() if "o_orderkey" not in cols]
    if not stamped or missing:
        raise RuntimeError(
            f"bloom filter missing on o_orderkey in staged files: {missing}"
        )
    key = orders.agg(F.min("o_orderkey")).collect()[0][0]
    staged = spark.read.schema(orders.schema).parquet(layout)
    q = staged.filter(F.col("o_orderkey") == key).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    pushed = [s.split("]", 1)[0] for s in plan.split("PushedFilters: [")[1:]]
    if not any("EqualTo(o_orderkey" in s for s in pushed):
        raise RuntimeError(f"point predicate not pushed to the scan: {pushed}")
    rows_read = scan_output_rows(q)
    total = orders.count()
    if rows_read * 2 > total:
        raise RuntimeError(
            f"bloom row-group skipping did not engage: scan read {rows_read} "
            f"of {total} rows on a key lookup"
        )
    return q


BLOOM_LAYOUT_SQL = """
SELECT o_orderkey, o_custkey, o_orderpriority,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
FROM orders
WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
"""


# --- Z-order layout: multi-column range scan with measured skipping (r12) ----
# sources/zorder.py had only pytest footer pins; this gate makes the
# layout's VALUE driver-gated. Orders is staged once per sf_dir along
# the Morton curve of (o_custkey, o_totalprice); a 2-D range box —
# bounds derived as min + span/8 on each dimension, arithmetic both
# engines reproduce bit-for-bit from the same exact min/max — must reach
# the scan as PushedFilters AND prune: the gate RAISES unless the scan
# outputs under half the table's rows (a single-column sort cannot prune
# the second dimension; the Morton layout bounds min/max spans on BOTH).
# Oracle: the same box replayed over the raw table.
def zorder_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.sources.bloomfilters import scan_output_rows
    from linqonsteroids_spark.sources.zorder import write_zordered

    base = cached_scratch_dir("squopt_zorder_", sf_dir)
    layout = os.path.join(base, "orders_z")
    orders = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(layout, "_SUCCESS")):
        write_zordered(
            orders, layout, ["o_custkey", "o_totalprice"], n_files=16
        )
    b = orders.agg(
        F.min("o_custkey"),
        F.max("o_custkey"),
        F.min("o_totalprice"),
        F.max("o_totalprice"),
    ).collect()[0]
    ck_lo, ck_hi = b[0], b[0] + (b[1] - b[0]) // 8
    tp_lo, tp_hi = b[2], b[2] + (b[3] - b[2]) / 8
    from linqonsteroids_spark.session import conf_guard

    # the scan node renders its metadata (PushedFilters included) at most
    # spark.sql.maxMetadataStringLength chars (default 100) — four range
    # conjuncts overflow it and the assertion would misread "..." as
    # missing pushdown. The metadata string is fixed at plan creation, so
    # the guard must wrap the DataFrame construction, not just toString.
    with conf_guard(spark, "spark.sql.maxMetadataStringLength", "1000"):
        staged = spark.read.schema(orders.schema).parquet(layout)
        box = staged.filter(
            F.col("o_custkey").between(F.lit(ck_lo), F.lit(ck_hi))
            & F.col("o_totalprice").between(F.lit(tp_lo), F.lit(tp_hi))
        )
        plan = box._jdf.queryExecution().executedPlan().toString()
    pushed = [s.split("]", 1)[0] for s in plan.split("PushedFilters: [")[1:]]
    for col in ("o_custkey", "o_totalprice"):
        if not any(f"GreaterThanOrEqual({col}" in s for s in pushed):
            raise RuntimeError(f"range on {col} not pushed to scan: {pushed}")
    q = box.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_in_box"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
    rows_read = scan_output_rows(box.select("o_orderkey"))
    total = orders.count()
    if rows_read * 2 > total:
        raise RuntimeError(
            f"z-order skipping did not engage: 2-D box scan read "
            f"{rows_read} of {total} rows"
        )
    return q


ZORDER_RANGE_SQL = """
WITH b AS (
  SELECT min(o_custkey) AS ck_lo,
         min(o_custkey) + (max(o_custkey) - min(o_custkey)) // 8 AS ck_hi,
         min(o_totalprice) AS tp_lo,
         min(o_totalprice)
           + (max(o_totalprice) - min(o_totalprice)) / 8 AS tp_hi
  FROM orders
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_in_box,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders, b
WHERE o_custkey BETWEEN b.ck_lo AND b.ck_hi
  AND o_totalprice BETWEEN b.tp_lo AND b.tp_hi
GROUP BY o_orderstatus
"""


# --- runtime bloom-filter join pruning, driver-gated (r12) ------------------
# DPP's unpartitioned cousin: when the fact side is NOT partitioned by
# the join key (so dpp_partition_revenue's directory pruning cannot
# apply) and the dim side is too big to broadcast, Catalyst's runtime
# row-level filtering builds a bloom filter from the SELECTIVE filtered
# dim and injects might_contain(...) into the fact side, pruning fact
# rows BEFORE the join shuffle. The feature previously had only a
# pytest pin (test_plans.py); this gate makes it driver-gated: with
# broadcast disabled (simulating a dim above the threshold at real
# scale) and the scan-size gate lowered (the sf0.1 fact is under the
# deployment-tuned 10GB floor), the optimized plan must carry the
# injected bloom on the fact side or the gate RAISES. Oracle: the same
# join replayed declaratively.
def runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.session import conf_guard

    li = load_table(spark, sf_dir, "lineitem")
    # modulus keeps the dim filter at a deterministic 10% selectivity at
    # every SF (an acctbal threshold is empty at sf0.001's 10 suppliers)
    rich = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_suppkey") % 10 == 0
    )
    with conf_guard(
        spark,
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    ), conf_guard(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        q = (
            li.join(rich, li.l_suppkey == rich.s_suppkey)
            .groupBy("s_nationkey")
            .agg(
                F.count("*").cast("bigint").alias("n_items"),
                (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
                .cast("bigint")
                .alias("revenue_cents"),
            )
        )
        plan = q._jdf.queryExecution().optimizedPlan().toString()
    if "bloom_filter" not in plan.lower() and "might_contain" not in plan.lower():
        raise RuntimeError(
            f"runtime bloom filter was not injected into the fact side: "
            f"{plan[:1500]}"
        )
    return q


RUNTIME_BLOOM_SQL = """
SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_suppkey % 10 = 0
GROUP BY s_nationkey
"""


# --- external file-stats manifest: driver-side file pruning (r12) -----------
# The third rung of the data-skipping ladder: bloom_layout_lookup skips
# ROW GROUPS via footer metadata (a footer read per file), and
# zorder_range_scan makes footer min/max effective on TWO dims via
# layout; this gate prunes the FILE LIST on the driver from one sidecar
# manifest (sources/fileindex.py) — Iceberg-manifest / Delta-file-stats
# economics: zero footer I/O, zero per-file object-store GETs at plan
# time, decisive when a 100 TB table is a million files. The gate
# stages orders range-clustered on o_totalprice with a recorded
# manifest, then RAISES unless the range probe reads under half the
# staged files; correctness never depends on the manifest (the
# predicate is re-applied), so the oracle just replays the box.
def fileindex_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.sources.fileindex import (
        read_pruned,
        write_with_stats,
    )

    base = cached_scratch_dir("squopt_fileindex_", sf_dir)
    layout = os.path.join(base, "orders_stats")
    orders = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(layout, "_SUCCESS")):
        write_with_stats(orders, layout, ["o_totalprice"], n_files=16)
    b = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).collect()[0]
    lo, hi = b[0], b[0] + (b[1] - b[0]) / 8
    df, n_read, n_total = read_pruned(spark, layout, "o_totalprice", lo, hi)
    if n_read * 2 >= n_total:
        raise RuntimeError(
            f"manifest pruning did not engage: read {n_read} of {n_total} "
            f"files for a 1/8-span range"
        )
    return df.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_in_range"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


FILEINDEX_RANGE_SQL = """
WITH b AS (
  SELECT min(o_totalprice) AS lo,
         min(o_totalprice)
           + (max(o_totalprice) - min(o_totalprice)) / 8 AS hi
  FROM orders
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_in_range,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders, b
WHERE o_totalprice BETWEEN b.lo AND b.hi
GROUP BY o_orderstatus
"""


QUERIES = {
    "salted_supplier_volume": (salted_supplier_volume, SALTED_JOIN_SQL),
    "runtime_bloom_join": (runtime_bloom_join, RUNTIME_BLOOM_SQL),
    "fileindex_range_scan": (fileindex_range_scan, FILEINDEX_RANGE_SQL),
    "hotkey_salted_volume": (hotkey_salted_volume, HOTKEY_SALTED_SQL),
    "dpp_partition_revenue": (dpp_partition_revenue, DPP_REVENUE_SQL),
    "bloom_layout_lookup": (bloom_layout_lookup, BLOOM_LAYOUT_SQL),
    "zorder_range_scan": (zorder_range_scan, ZORDER_RANGE_SQL),
    "salted_status_stats": (salted_status_stats, SALTED_AGG_SQL),
    "knn_ivf_exact": (knn_ivf_exact, KNN_IVF_SQL),
    "knn_ivf_trained": (knn_ivf_trained, KNN_IVF_TRAINED_SQL),
    "events_value_bands": (events_value_bands, VALUE_BANDS_SQL),
    "streaming_hourly_events": (streaming_hourly_events, STREAMING_HOURLY_SQL),
    "streaming_user_sessions": (streaming_user_sessions, STREAMING_SESSIONS_SQL),
    "streaming_user_totals": (streaming_user_totals, STREAMING_TOTALS_SQL),
    "streaming_purchase_click_pairs": (
        streaming_purchase_click_pairs,
        STREAMING_SSJOIN_SQL,
    ),
    "streaming_outer_purchase_clicks": (
        streaming_outer_purchase_clicks,
        STREAMING_SSOUTER_SQL,
    ),
    "incremental_mv_event_stats": (incremental_mv_event_stats, INCREMENTAL_MV_SQL),
    "streaming_dedup_events": (streaming_dedup_events, STREAMING_DEDUP_SQL),
    "streaming_enriched_segments": (
        streaming_enriched_segments,
        STREAMING_ENRICHED_SQL,
    ),
    "streaming_mv_refresh": (streaming_mv_refresh, STREAMING_MV_SQL),
    "incremental_mv_time_travel": (incremental_mv_time_travel, TIME_TRAVEL_SQL),
    "mv_change_feed": (mv_change_feed, CHANGE_FEED_SQL),
    "streaming_trending_users": (streaming_trending_users, STREAMING_TRENDING_SQL),
    "statestore_reader_counts": (statestore_reader_counts, STATESTORE_READER_SQL),
}
