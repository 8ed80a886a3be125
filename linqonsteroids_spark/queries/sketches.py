"""Deterministic cardinality sketches: KMV (k-minimum-values) distinct
counting.

Spark's ``approx_count_distinct`` (HyperLogLog++) and DuckDB's
``approx_distinct`` use different sketch internals, so their estimates can
never be oracle-compared. KMV gives the same capability — bounded-memory
distinct estimation with ~1/sqrt(k) relative error — from nothing but a
uniform hash and a top-k, both of which this engine already computes
bit-identically in both engines (the md5 family from queries/pipeline.py,
the two-stage top-k from quota_per_source). Estimator: with the k-th
smallest of n distinct uniform hashes at height h, n ≈ (k-1)/h; fewer
than k distinct values means the sketch IS the exact set.

Scale: the sketch of any group is k values — constant memory per group —
and the two-stage window bounds hot-group skew exactly like
quota_per_source. The exact count emitted next to the estimate (for the
relative-error column) is the one part that's only cheap at test scale;
at 100 TB you'd drop it — it exists to measure the sketch against truth
under the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table
from linqonsteroids_spark.queries.pipeline import _hash_frac, _hash_frac_sql
from linqonsteroids_spark.session import materialize

KMV_K = 32
_KMV_SEED = "kmv"
_N_SUB = 16


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: KMV estimate of distinct users vs the exact count.

    distinct (type, user) → two-stage top-K by hash per type (subshard
    prune, then final — identical to the quota_per_source skew bound) →
    (k-1)/h_k estimator, exact when the group has < K distinct users."""
    events = load_table(spark, sf_dir, "events")
    du = (
        events.select("event_type", "user_id")
        .distinct()
        .withColumn("h", _hash_frac(_KMV_SEED, F.col("user_id")))
    )
    pruned = (
        du.withColumn(
            "rn1",
            F.row_number().over(
                Window.partitionBy(
                    "event_type", (F.col("user_id") % _N_SUB)
                ).orderBy("h", "user_id")
            ),
        )
        .filter(F.col("rn1") <= KMV_K)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("h", "user_id")
            ),
        )
        .filter(F.col("rn") <= KMV_K)
    )
    sketch = pruned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("kth")
    )
    exact = du.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_users")
    )
    est = F.when(
        F.col("n_kept") < KMV_K, F.col("n_kept").cast("double")
    ).otherwise((F.lit(KMV_K - 1)) / F.col("kth"))
    return (
        sketch.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            "exact_users",
            F.round(est, 2).alias("kmv_est"),
            F.round(
                F.abs(est - F.col("exact_users")) / F.col("exact_users"), 4
            ).alias("rel_err"),
        )
    )


KMV_DISTINCT_SQL = f"""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
),
hashed AS (
  SELECT event_type, user_id,
         {_hash_frac_sql(_KMV_SEED, "user_id")} AS h
  FROM du
),
pruned AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
  FROM hashed
),
sketch AS (
  SELECT event_type, count(*) AS n_kept, max(h) AS kth
  FROM pruned WHERE rn <= {KMV_K} GROUP BY event_type
),
exact AS (
  SELECT event_type, count(*) AS exact_users FROM du GROUP BY event_type
)
SELECT s.event_type, e.exact_users,
       round(CASE WHEN s.n_kept < {KMV_K} THEN CAST(s.n_kept AS DOUBLE)
                  ELSE {KMV_K - 1} / s.kth END, 2) AS kmv_est,
       round(abs(CASE WHEN s.n_kept < {KMV_K} THEN CAST(s.n_kept AS DOUBLE)
                      ELSE {KMV_K - 1} / s.kth END - e.exact_users)
             / e.exact_users, 4) AS rel_err
FROM sketch s JOIN exact e USING (event_type)
"""


# --- KMV sketch union (mergeability — the distributed-rollup property) -------
# The reason sketches beat exact distinct at 100 TB is MERGEABILITY:
# per-partition/per-group sketches combine into the global answer without
# re-reading data. KMV merges losslessly: every one of the global k
# smallest hashes is, in its own group, among that group's k smallest —
# so the k-min of the union of per-group k-min sketches EQUALS the k-min
# over all raw values, and the merged estimate is IDENTICAL to the
# direct global estimate (not merely close). The gate emits both paths
# plus the exact global count; the oracle replays them, so equality is
# hash-verified on real data every round.
# Scale: the MERGED path is the production one — per-group windows are
# key-partitioned and the union of sketches is |groups| x k rows
# (bounded), so the final global k-min runs over sketch rows, never raw
# data. The DIRECT path (a global window over all distinct values) and
# the exact count exist only to prove losslessness under the gate — at
# 100 TB you'd drop both, exactly like kmv_distinct_users' exact column.
def kmv_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # materialized once: three consumers below (merged / direct / exact)
    # would otherwise each re-run the scan + distinct
    du = materialize(
        events.select("event_type", "user_id")
        .distinct()
        .withColumn("h", _hash_frac(_KMV_SEED, F.col("user_id"))),
        "kmv_sketch_union: distinct users",
    )
    # per-group sketches: k smallest hashes per event_type
    per_group = du.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("h", "user_id")
        ),
    ).filter(F.col("rn") <= KMV_K)
    # global k-min via sort+limit, NOT row_number over an unpartitioned
    # window: the window form shuffles EVERY row to one partition; the
    # limit form takes per-partition top-k and merges k-row slices.
    # (h, user_id) is unique per distinct row, so top-k is deterministic
    # and row-identical to the rn <= k filter.
    # merge: global k-min over the union of the per-group sketches.
    # (user_id, h) pairs repeat across groups — the merged sketch is over
    # DISTINCT values, exactly as a re-scan would see them.
    merged = (
        per_group.select("user_id", "h")
        .distinct()
        .orderBy("h", "user_id")
        .limit(KMV_K)
        .agg(F.count(F.lit(1)).alias("m_kept"), F.max("h").alias("m_kth"))
    )
    # direct: global k-min over the raw distinct values
    direct = (
        du.select("user_id", "h")
        .distinct()
        .orderBy("h", "user_id")
        .limit(KMV_K)
        .agg(F.count(F.lit(1)).alias("d_kept"), F.max("h").alias("d_kth"))
    )
    exact = du.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("exact_users")
    )

    def est(kept, kth):
        return F.when(
            F.col(kept) < KMV_K, F.col(kept).cast("double")
        ).otherwise(F.lit(KMV_K - 1) / F.col(kth))

    return (
        merged.crossJoin(F.broadcast(direct))
        .crossJoin(F.broadcast(exact))
        .select(
            "exact_users",
            F.round(est("m_kept", "m_kth"), 2).alias("merged_est"),
            F.round(est("d_kept", "d_kth"), 2).alias("direct_est"),
            (est("m_kept", "m_kth") == est("d_kept", "d_kth")).alias(
                "merge_lossless"
            ),
        )
    )


KMV_UNION_SQL = f"""
WITH du AS (
  SELECT DISTINCT event_type, user_id FROM events
),
hashed AS (
  SELECT event_type, user_id,
         {_hash_frac_sql(_KMV_SEED, "user_id")} AS h
  FROM du
),
per_group AS (
  SELECT user_id, h FROM (
    SELECT event_type, user_id, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h, user_id) AS rn
    FROM hashed
  ) WHERE rn <= {KMV_K}
),
merged AS (
  SELECT count(*) AS m_kept, max(h) AS m_kth FROM (
    SELECT user_id, h,
           row_number() OVER (ORDER BY h, user_id) AS mrn
    FROM (SELECT DISTINCT user_id, h FROM per_group)
  ) WHERE mrn <= {KMV_K}
),
direct AS (
  SELECT count(*) AS d_kept, max(h) AS d_kth FROM (
    SELECT user_id, h,
           row_number() OVER (ORDER BY h, user_id) AS drn
    FROM (SELECT DISTINCT user_id, h FROM hashed)
  ) WHERE drn <= {KMV_K}
),
exact AS (
  SELECT count(DISTINCT user_id) AS exact_users FROM du
)
SELECT e.exact_users,
       round(CASE WHEN m.m_kept < {KMV_K} THEN CAST(m.m_kept AS DOUBLE)
                  ELSE {KMV_K - 1} / m.m_kth END, 2) AS merged_est,
       round(CASE WHEN d.d_kept < {KMV_K} THEN CAST(d.d_kept AS DOUBLE)
                  ELSE {KMV_K - 1} / d.d_kth END, 2) AS direct_est,
       (CASE WHEN m.m_kept < {KMV_K} THEN CAST(m.m_kept AS DOUBLE)
             ELSE {KMV_K - 1} / m.m_kth END
        = CASE WHEN d.d_kept < {KMV_K} THEN CAST(d.d_kept AS DOUBLE)
               ELSE {KMV_K - 1} / d.d_kth END) AS merge_lossless
FROM merged m CROSS JOIN direct d CROSS JOIN exact e
"""


# --- count-min sketch (frequency estimation / heavy hitters) -----------------
# The frequency-side companion to KMV's cardinality sketch (Cormode &
# Muthukrishnan, J. Algorithms 2005): d hash rows of w counters; add each
# key's count to cell (r, h_r(key)); estimate = min over rows — one-sided
# (est >= true, never under). All d hashes come from ONE md5 per DISTINCT
# key (four disjoint 8-hex-digit slices = four independent 32-bit hashes
# — the measured lesson from bloomjoin: hashing per condition, not per
# row, is what keeps this cheap), and the sketch is built from the exact
# per-key aggregate, which is identical to streaming row-updates but one
# map-side-combined shuffle instead of |events| cell updates. w=64 is
# deliberately SMALL for the gate so collisions actually occur and the
# overcount column measures real sketch error; production sizing is
# w = ceil(e/eps). Probe set: the top-20 true heavy hitters
# (deterministic tiebreak). Everything integer — exact across engines.
_CMS_W = 64
_CMS_D = 4
_CMS_TOPK = 20


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(F.count("*").alias("cnt"))
    hx = counts.withColumn("h", F.md5(F.col("user_id").cast("string")))
    bucket = [
        F.conv(F.substring("h", 1 + 8 * d, 8), 16, 10).cast("long") % _CMS_W
        for d in range(_CMS_D)
    ]
    cells = (
        hx.select(
            "cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(d).alias("d"), bucket[d].alias("bucket"))
                        for d in range(_CMS_D)
                    ]
                )
            ).alias("db"),
        )
        .groupBy("db.d", "db.bucket")
        .agg(F.sum("cnt").alias("cell"))
    )
    # top-k probe selection via orderBy().limit(): plans
    # TakeOrderedAndProject (per-partition partial top-k merged on the
    # driver) — NOT a global row_number window, which would funnel every
    # distinct user through one Exchange SinglePartition task at scale
    probes = (
        hx.orderBy(F.col("cnt").desc(), F.col("user_id"))
        .limit(_CMS_TOPK)
        .select("user_id", "cnt", "h")
    )
    # probe each heavy hitter's d cells; cells is tiny (d*w rows) and
    # broadcasts
    probe_cells = (
        probes.select(
            "user_id",
            "cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(d).alias("d"), bucket[d].alias("bucket"))
                        for d in range(_CMS_D)
                    ]
                )
            ).alias("db"),
        )
        .select("user_id", "cnt", F.col("db.d").alias("d"), F.col("db.bucket").alias("bucket"))
        .join(F.broadcast(cells), ["d", "bucket"])
    )
    return (
        probe_cells.groupBy("user_id", "cnt")
        .agg(F.min("cell").alias("est_cnt"))
        .select(
            "user_id",
            F.col("cnt").alias("true_cnt"),
            "est_cnt",
            (F.col("est_cnt") - F.col("cnt")).alias("overcount"),
        )
    )


CMS_SQL = f"""
WITH counts AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
), hx AS (
  SELECT user_id, cnt, md5(CAST(user_id AS VARCHAR)) AS h FROM counts
), dims AS (
  SELECT unnest(range({_CMS_D})) AS d
), cells AS (
  SELECT d, bucket, CAST(sum(cnt) AS BIGINT) AS cell FROM (
    SELECT u.cnt, dims.d,
           ('0x' || substr(u.h, 1 + 8 * dims.d::INT, 8))::BIGINT % {_CMS_W}
             AS bucket
    FROM hx u CROSS JOIN dims
  ) GROUP BY d, bucket
), probes AS (
  SELECT user_id, cnt, h FROM hx
  ORDER BY cnt DESC, user_id LIMIT {_CMS_TOPK}
), probe_cells AS (
  SELECT p.user_id, p.cnt, c.cell
  FROM (
    SELECT p0.user_id, p0.cnt, dims.d,
           ('0x' || substr(p0.h, 1 + 8 * dims.d::INT, 8))::BIGINT % {_CMS_W}
             AS bucket
    FROM probes p0 CROSS JOIN dims
  ) p JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
)
SELECT user_id, cnt AS true_cnt,
       CAST(min(cell) AS BIGINT) AS est_cnt,
       CAST(min(cell) - cnt AS BIGINT) AS overcount
FROM probe_cells GROUP BY user_id, cnt
"""


# --- engine-native approximate aggregates, gated on their ERROR CONTRACT -----
# approx_count_distinct (HyperLogLog++) and approx_percentile
# (QuantileSummaries) have engine-specific sketch internals whose
# estimates can never hash-match DuckDB's. What IS cross-engine
# checkable is the published error bound: each gate computes the exact
# truth (identical on both engines) AND, Spark-side only, an integer
# verdict that the estimate satisfies its contract; the oracle emits
# the exact truth with a literal verdict of 1. A bound violation turns
# the gate red — the contract, not the sketch internals, is what a
# 100 TB user actually relies on (estimate-only plans replace the exact
# pass entirely at scale; the exact column exists to measure truth
# under the gate, same note as the KMV module header).

_HLL_RSD = 0.05


def hll_distinct_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event_type: exact distinct users next to a verdict that the
    HLL++ estimate (rsd=0.05) lands within 3 standard errors — one
    aggregation pass computes both (HLL++ is a map-side-combinable
    sketch, so the shuffle carries one register block per group, not
    user ids)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", _HLL_RSD).alias("_hll"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_hll") - F.col("exact_users"))
                <= 3 * _HLL_RSD * F.col("exact_users") + F.lit(1)
            )
            .cast("bigint")
            .alias("hll_within_3se"),
        )
    )


HLL_BOUNDS_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       1 AS hll_within_3se
FROM events GROUP BY event_type
"""


_PCTL_ACCURACY = 1000


def approx_quantile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per l_returnflag: verdict that approx_percentile's median lands
    within its guaranteed RANK error (n / accuracy). Pass 1 computes the
    estimate per group (one grouped agg); pass 2 broadcasts the 3-row
    estimate table back onto the fact to count rows <= estimate — the
    exact rank — and checks |rank - n/2| <= n/accuracy + 1. The
    broadcast-join-back pattern is the scale shape: the second pass is
    one more map-side scan, no extra shuffle of the fact."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    est = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", 0.5, _PCTL_ACCURACY
        ).alias("_p50"),
        F.count("*").alias("n_rows"),
    )
    ranked = li.join(
        F.broadcast(est.select("l_returnflag", "_p50")), "l_returnflag"
    )
    rank = ranked.groupBy("l_returnflag").agg(
        F.sum(
            (F.col("l_extendedprice") <= F.col("_p50")).cast("bigint")
        ).alias("_rank")
    )
    return (
        est.join(rank, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            (
                F.abs(F.col("_rank") - F.col("n_rows") / 2)
                <= F.col("n_rows") / _PCTL_ACCURACY + F.lit(1)
            )
            .cast("bigint")
            .alias("median_within_rank_bound"),
        )
    )


PCTL_BOUNDS_SQL = """
SELECT l_returnflag, count(*) AS n_rows, 1 AS median_within_rank_bound
FROM lineitem GROUP BY l_returnflag
"""


# --- Apache DataSketches integration (Spark 4.1 built-ins) ------------------
# hll_sketch_agg / theta_sketch_agg / kll_sketch_agg_* / approx_top_k_*
# are the engine-native MERGEABLE sketch objects — the 100 TB shape where
# per-partition/per-day sketches are persisted and rolled up without
# re-touching raw rows. Same error-contract gate discipline as above
# (sketch internals can't hash-match DuckDB; the published bound and the
# exact-arithmetic invariants — element counts, set-op truths — can),
# with one exception: approx_top_k is EXACT below maxItemsTracked, so its
# lifecycle gate gets a full value differential, the strongest evidence a
# sketch op can have.

_HLL_LGK = 14  # rse = 1.04/sqrt(2^14) ~ 0.81%; verdicts use 3 se + 1
_THETA_RSE = 1.0 / 64  # default nominal 4096 entries -> 1/sqrt(4096)


def _register(spark: SparkSession, sf_dir: str, tables: list[str]) -> None:
    from linqonsteroids_spark.sources.parquet import register_views

    register_views(spark, sf_dir, tables)


def hll_sketch_mergeability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: exact distinct custkeys next to verdicts that (a) the
    UNION of per-priority HLL sketches and (b) a direct global sketch
    both land within 3 standard errors of truth. (a) is the mergeability
    contract — per-group register blocks union'd without revisiting rows
    (union can re-encode the registers, so merged != direct bit-wise;
    the shared bound is what holds). Grouped sketch build is one
    map-side-combined shuffle of register blocks, never of custkeys."""
    _register(spark, sf_dir, ["orders"])
    bound = f"3 * 1.04 / sqrt(pow(2, {_HLL_LGK})) * d.exact + 1"
    return spark.sql(f"""
        WITH per_g AS (SELECT o_orderpriority,
                              hll_sketch_agg(o_custkey, {_HLL_LGK}) AS sk
                       FROM orders GROUP BY o_orderpriority),
         m AS (SELECT hll_sketch_estimate(hll_union_agg(sk, true)) AS est
               FROM per_g),
         d AS (SELECT hll_sketch_estimate(
                          hll_sketch_agg(o_custkey, {_HLL_LGK})) AS est,
                      count(DISTINCT o_custkey) AS exact FROM orders)
        SELECT d.exact AS exact_custkeys,
               CAST(abs(m.est - d.exact) <= {bound} AS BIGINT)
                   AS merged_within_3se,
               CAST(abs(d.est - d.exact) <= {bound} AS BIGINT)
                   AS direct_within_3se
        FROM m, d""")


HLL_MERGE_SQL = """
SELECT count(DISTINCT o_custkey) AS exact_custkeys,
       1 AS merged_within_3se, 1 AS direct_within_3se
FROM orders
"""


def theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches carry SET OPERATIONS, not just cardinality: the
    estimated union / intersection / difference of urgent-vs-low
    customer-key sets, each gated within 3 relative-standard-errors of
    the exact truth (error of derived set ops scales with the UNION
    size, the published theta contract — below the 4096-entry nominal
    the sketch is in exact mode and the estimates ARE the truth). The
    100 TB use: overlap/containment between corpus partitions from
    per-partition sketches, no pairwise row joins."""
    _register(spark, sf_dir, ["orders"])
    bound = f"3 * {_THETA_RSE} * ex.ex_union + 1"
    return spark.sql(f"""
        WITH a AS (SELECT theta_sketch_agg(o_custkey) AS sk FROM orders
                   WHERE o_orderpriority = '1-URGENT'),
         b AS (SELECT theta_sketch_agg(o_custkey) AS sk FROM orders
               WHERE o_orderpriority = '5-LOW'),
         est AS (SELECT
             theta_sketch_estimate(theta_union(a.sk, b.sk)) AS e_union,
             theta_sketch_estimate(theta_intersection(a.sk, b.sk)) AS e_int,
             theta_sketch_estimate(theta_difference(a.sk, b.sk)) AS e_diff
             FROM a, b),
         ua AS (SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderpriority = '1-URGENT'),
         ub AS (SELECT DISTINCT o_custkey FROM orders
                WHERE o_orderpriority = '5-LOW'),
         ex AS (SELECT
             (SELECT count(*) FROM (SELECT * FROM ua UNION SELECT * FROM ub))
                 AS ex_union,
             (SELECT count(*)
              FROM (SELECT * FROM ua INTERSECT SELECT * FROM ub)) AS ex_int,
             (SELECT count(*)
              FROM (SELECT * FROM ua EXCEPT SELECT * FROM ub)) AS ex_diff)
        SELECT ex.ex_union AS exact_union, ex.ex_int AS exact_intersect,
               ex.ex_diff AS exact_diff,
               CAST(abs(est.e_union - ex.ex_union) <= {bound} AS BIGINT)
                   AS union_within_3se,
               CAST(abs(est.e_int - ex.ex_int) <= {bound} AS BIGINT)
                   AS intersect_within_3se,
               CAST(abs(est.e_diff - ex.ex_diff) <= {bound} AS BIGINT)
                   AS diff_within_3se
        FROM est, ex""")


THETA_SETOPS_SQL = """
WITH ua AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderpriority = '1-URGENT'),
 ub AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
SELECT (SELECT count(*) FROM (SELECT * FROM ua UNION SELECT * FROM ub))
           AS exact_union,
       (SELECT count(*) FROM (SELECT * FROM ua INTERSECT SELECT * FROM ub))
           AS exact_intersect,
       (SELECT count(*) FROM (SELECT * FROM ua EXCEPT SELECT * FROM ub))
           AS exact_diff,
       1 AS union_within_3se, 1 AS intersect_within_3se, 1 AS diff_within_3se
"""


_KLL_K = 400  # 99%-confidence rank eps ~1%; verdict bound 5% absorbs
# the randomized-compaction variance across merge orders


def kll_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketches per l_returnflag PLUS a '*ALL*' row whose
    sketch is the fold-merge of the per-group sketches (2-ary
    kll_sketch_merge_double over the collected list — what a per-day
    rollup does). Exact invariants gated exactly: get_n equals the true
    row count on every row including the merged one (n is additive and
    deterministic). The median estimate is gated on rank error: rows at
    or below the estimate must sit within 5% * n of n/2, checked by one
    broadcast-join-back counting pass (no second fact shuffle)."""
    _register(spark, sf_dir, ["lineitem"])
    return spark.sql(f"""
        WITH sk AS (SELECT l_returnflag,
                           kll_sketch_agg_double(l_extendedprice, {_KLL_K})
                               AS sk,
                           count(*) AS n
                    FROM lineitem GROUP BY l_returnflag),
         merged AS (SELECT '*ALL*' AS l_returnflag,
                           aggregate(slice(l, 2, size(l) - 1),
                                     element_at(l, 1),
                                     (acc, x) ->
                                         kll_sketch_merge_double(acc, x))
                               AS sk,
                           n_total AS n
                    FROM (SELECT collect_list(sk) AS l, sum(n) AS n_total
                          FROM sk)),
         both AS (SELECT * FROM sk UNION ALL SELECT * FROM merged),
         est AS (SELECT l_returnflag, n,
                        kll_sketch_get_n_double(sk) AS sketch_n,
                        kll_sketch_get_quantile_double(sk, 0.5d) AS p50
                 FROM both),
         ranked AS (SELECT e.l_returnflag,
                           sum(CASE WHEN li.l_extendedprice <= e.p50
                                    THEN 1 ELSE 0 END) AS rnk
                    FROM est e JOIN lineitem li
                      ON e.l_returnflag = li.l_returnflag
                    GROUP BY e.l_returnflag
                    UNION ALL
                    SELECT '*ALL*',
                           sum(CASE WHEN l_extendedprice <=
                               (SELECT p50 FROM est
                                WHERE l_returnflag = '*ALL*')
                               THEN 1 ELSE 0 END)
                    FROM lineitem)
        SELECT e.l_returnflag, CAST(e.n AS BIGINT) AS n_rows,
               CAST(e.sketch_n = e.n AS BIGINT) AS sketch_n_exact,
               CAST(abs(r.rnk - e.n / 2) <= 0.05 * e.n + 1 AS BIGINT)
                   AS median_within_rank_bound
        FROM est e JOIN ranked r ON e.l_returnflag = r.l_returnflag""")


KLL_SKETCH_SQL = """
SELECT l_returnflag, count(*) AS n_rows,
       1 AS sketch_n_exact, 1 AS median_within_rank_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT '*ALL*', count(*), 1, 1 FROM lineitem
"""


def approx_topk_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approx_top_k accumulate -> combine -> estimate lifecycle —
    per-bucket partial sketches merged into one, exactly the partial-
    aggregation contract a 1000-executor rollup relies on. Below
    maxItemsTracked the sketch is EXACT, so this gate gets the full
    value differential (not just a bound verdict): the estimated counts
    must equal count(*) GROUP BY, every item, every count."""
    _register(spark, sf_dir, ["events"])
    return spark.sql("""
        WITH acc AS (SELECT pmod(xxhash64(user_id), 4) AS bucket,
                            approx_top_k_accumulate(event_type, 10) AS st
                     FROM events GROUP BY 1),
         comb AS (SELECT approx_top_k_combine(st) AS c FROM acc),
         est AS (SELECT explode(approx_top_k_estimate(c, 10)) AS kv
                 FROM comb)
        SELECT kv.item AS event_type, CAST(kv.count AS BIGINT) AS n_events
        FROM est""")


APPROX_TOPK_SQL = """
SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
"""


QUERIES = {
    "kmv_distinct_users": (kmv_distinct_users, KMV_DISTINCT_SQL),
    "kmv_sketch_union": (kmv_sketch_union, KMV_UNION_SQL),
    "cms_heavy_hitters": (cms_heavy_hitters, CMS_SQL),
    "hll_distinct_bounds": (hll_distinct_bounds, HLL_BOUNDS_SQL),
    "approx_quantile_bounds": (approx_quantile_bounds, PCTL_BOUNDS_SQL),
    "hll_sketch_mergeability": (hll_sketch_mergeability, HLL_MERGE_SQL),
    "theta_sketch_setops": (theta_sketch_setops, THETA_SETOPS_SQL),
    "kll_quantile_sketch": (kll_quantile_sketch, KLL_SKETCH_SQL),
    "approx_topk_lifecycle": (approx_topk_lifecycle, APPROX_TOPK_SQL),
}
