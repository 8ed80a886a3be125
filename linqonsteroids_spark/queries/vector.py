"""Embedding-similarity queries over the embeddings table.

Brute-force cosine top-k is the correctness baseline (SURVEY north-star:
similarity search); the LSH-bucketed scale path lives in
``linqonsteroids_spark.similarity``. Per-pair scoring is Arrow-vectorized
with order-preserving float64 accumulation (see ``similarity.knn`` module
docstring for the measured HOF-vs-Arrow numbers); per-side work stays in
JVM built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table, read_saved
from linqonsteroids_spark.similarity.knn import (
    brute_force_topk,
    lsh_topk,
    random_hyperplanes,
)


# --- brute-force cosine top-k ---------------------------------------------
# Queries = every 50th vector (deterministic, scale-proportional); the query
# matrix ships to every task (broadcast-sized), the corpus side streams
# through a batch-scoring stage — at 100 TB the cost is |corpus| × |queries|
# flops by definition, the honest baseline the IVF/LSH path is measured
# against; what the streaming shape buys is O(|C|·dim) transfer and a
# top-k-per-batch reduction instead of materializing |Q|×|C| pair rows.
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(
        queries, emb, k=5, exclude_self=True, carry_cols=["label"]
    )
    return out.select(
        "query_id",
        "rnk",
        "neighbor_id",
        F.col("label").alias("neighbor_label"),
        F.round("cos_sim", 4).alias("cos_sim"),
    )


KNN_BRUTEFORCE_SQL = """
SELECT query_id, rnk, neighbor_id, neighbor_label, cos_sim
FROM (
  SELECT q.vec_id AS query_id,
         c.vec_id AS neighbor_id,
         c.label AS neighbor_label,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 4) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id ASC) AS rnk
  FROM embeddings q, embeddings c
  WHERE q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
)
WHERE rnk <= 5
"""


# --- centroid distance per label ------------------------------------------
# Aggregate over vector columns entirely JVM-side: element-wise mean via
# aggregate over posexplode — demonstrates vector aggs without UDFs.
def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # explode to (label, pos, val), average per (label,pos), then reassemble
    # the centroid norm per label. Shuffle is |labels|×dim rows — tiny.
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    centroid = exploded.groupBy("label", "pos").agg(F.avg("val").alias("mean_val"))
    return (
        centroid.groupBy("label")
        .agg(
            F.round(F.sqrt(F.sum(F.col("mean_val") * F.col("mean_val"))), 4).alias(
                "centroid_norm"
            ),
            F.count("*").alias("dim"),
        )
    )


LABEL_CENTROID_SQL = """
SELECT label,
       round(sqrt(sum(mean_val * mean_val)), 4) AS centroid_norm,
       count(*) AS dim
FROM (
  SELECT label, pos, avg(val) AS mean_val
  FROM (SELECT label,
               generate_subscripts(embedding, 1) AS pos,
               unnest(embedding) AS val
        FROM embeddings)
  GROUP BY label, pos
)
GROUP BY label
"""


# --- LSH-bucketed ANN (similarity/knn.py lsh_topk), oracle-gated -----------
# The hyperplanes are deterministic plan literals (random_hyperplanes,
# seed=42), so the bucket assignment is reproducible in SQL: the oracle
# computes the same sign-bit buckets with the same double arithmetic
# (sequential dot products over DOUBLE[]), joins within buckets, and ranks
# by the same cosine. This gates the ACTUAL approximate path — bucket
# pruning included — not a degenerate exact configuration; recall vs brute
# force is pinned separately in tests/test_similarity.py.
_LSH_PLANES = random_hyperplanes(dim=64, n_planes=4, seed=42)


def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = lsh_topk(queries, emb, k=5, n_planes=4, dim=64, seed=42)
    return out.select(
        "query_id", "rnk", "neighbor_id", F.round("cos_sim", 4).alias("cos_sim")
    )


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"


# bit i = sign(v · plane_i), first plane most significant — mirrors
# lsh_bucket's bucket = bucket*2 + bit loop exactly.
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_inner_product(e, {_plane_sql(p)}) >= 0"
    f" THEN {1 << (len(_LSH_PLANES) - 1 - i)} ELSE 0 END)"
    for i, p in enumerate(_LSH_PLANES)
)

KNN_LSH_SQL = f"""
WITH b AS (
  SELECT vec_id, e,
         {_BUCKET_SQL} AS bucket,
         sqrt(list_inner_product(e, e)) AS nrm
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
)
SELECT query_id, rnk, neighbor_id, cos_sim FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_inner_product(q.e, c.e) / (q.nrm * c.nrm), 4) AS cos_sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_inner_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
                    c.vec_id ASC) AS rnk
  FROM b q JOIN b c ON q.bucket = c.bucket
  WHERE q.vec_id % 25 = 0
) WHERE rnk <= 5
"""


# --- int8 scalar quantization (ANN memory compression) ----------------------
# The standard 4x memory cut before an ANN index ships: per vector,
# q_i = floor((v_i * 127.0) / max_abs) clamped to [-127, 127]. Every step
# is an IEEE-double op computed with the same association on both engines
# (cast to double, multiply, divide, floor), so the int arrays match
# bit-for-bit with NO rounding in the projection — same determinism class
# as the knn dot products. Row-local (one HOF pass), zero shuffle.
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 == 0
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(
        v,
        lambda x: F.greatest(
            F.lit(-127).cast("long"),
            F.least(
                F.lit(127).cast("long"),
                F.floor(x * F.lit(127.0) / max_abs),
            ),
        ),
    )
    # Quantized vector emitted as one deterministic CSV string per row: the
    # driver's pandas canonicalizer cannot sort list cells, so a top-level
    # ARRAY column reds the gate even with exact values (CORRECTNESS_r06).
    # Guarded by the SHAPE-HAZARD check.
    return emb.select(
        "vec_id",
        F.array_join(q, ",").alias("q_csv"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
        ).alias("l1_q"),
    )


EMBEDDING_QUANTIZE_SQL = """
WITH prep AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id % 10 = 0
), scaled AS (
  SELECT vec_id,
         list_transform(v, x -> greatest(-127,
           least(127, CAST(floor((x * 127.0) /
             list_max(list_transform(v, y -> abs(y)))) AS BIGINT)))) AS q
  FROM prep
)
SELECT vec_id, array_to_string(q, ',') AS q_csv,
       CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1_q
FROM scaled
"""
# ^ CAST is load-bearing: DuckDB list_sum over a BIGINT list returns
# HUGEINT, which fetchdf() degrades to float64 and would hash-mismatch
# Spark's long l1_q. Guarded by tests/test_oracle_types.py.


# --- semantic dedup (SemDeDup, centroid-linkage linear form) ----------------
# Embedding-space near-dup detection over the frozen IVF centroid artifact
# (dedup/semantic.py): nearest-centroid assignment, per-cluster
# representative election, member-vs-rep cosine — O(N) by construction,
# never a within-cluster pair join. Threshold 0.30 splits the sf corpora
# into a nontrivial kept/dropped mix.
_SEMANTIC_DEDUP_THRESHOLD = 0.30


def semantic_dedup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.dedup.semantic import semantic_dedup_reps
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup_reps(
        emb, IVF_CENTROIDS, threshold=_SEMANTIC_DEDUP_THRESHOLD
    )


def _semantic_dedup_sql() -> str:
    """Replay: same -2·v·c + |c|² assignment as the knn_ivf_trained
    oracle, rep = row_number 1 per cell (dist ASC, id ASC), same rounded
    cosine and raw-threshold flag."""
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
  -- assignment ranks by -2*v*c + cc (|v|^2 constant per vector); dist for
  -- the rep election is the TRUE squared L2 (+ v*v), which does not cancel
  -- across different vectors of one cell (mirrors dedup/semantic.py)
  SELECT vec_id, v, cell, dist FROM (
    SELECT c.vec_id, c.v, ct.cell,
           -2 * list_dot_product(c.v, ct.cvec) + ct.cc
             + list_dot_product(c.v, c.v) AS dist,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY -2 * list_dot_product(c.v, ct.cvec) + ct.cc ASC,
                      ct.cell ASC) AS arnk
    FROM corpus c CROSS JOIN cent ct
  ) WHERE arnk = 1
), reps AS (
  SELECT cell, vec_id AS rep_id, v AS rep_v FROM (
    SELECT cell, vec_id, v,
           row_number() OVER (
             PARTITION BY cell ORDER BY dist ASC, vec_id ASC) AS rr
    FROM assigned
  ) WHERE rr = 1
)
SELECT a.vec_id, a.cell, r.rep_id,
       round(list_cosine_similarity(a.v, r.rep_v), 4) + 0.0 AS cos_sim,
       (a.vec_id <> r.rep_id
        AND list_cosine_similarity(a.v, r.rep_v) >= {_SEMANTIC_DEDUP_THRESHOLD!r})
         AS is_dup
FROM assigned a JOIN reps r USING (cell)
"""


SEMANTIC_DEDUP_SQL = _semantic_dedup_sql()


# --- dominant principal direction (power iteration) --------------------------
# similarity/eigen.py: top right-singular direction of the embedding
# matrix via 3 power-iteration rounds — one pass over X per round, d
# floats of driver traffic, no Gram materialization. Rows-only gate
# (per-position float sums differ in summation order across engines);
# the evidence is the numpy differential in tests/test_similarity.py.
def embedding_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.similarity.eigen import (
        power_iteration_top_component,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v, norm_xv = power_iteration_top_component(emb, iterations=3)
    rows = [(i, round(c, 6), round(norm_xv, 4)) for i, c in enumerate(v)]
    return spark.createDataFrame(rows, "pos long, loading double, xv_norm double")


# --- product quantization codes (similarity/pq.py) ---------------------------
# PQ encode against the frozen per-subspace codebook artifact: 8 x 4-bit
# codes per vector (64x vs float32) plus the reconstruction error that
# falls out free as the argmin's own minimum. Both engines evaluate the
# SAME literal arithmetic in the same order, so codes and errors match
# exactly (the knn/IVF distance-parity class). Codes emitted as one CSV
# string (SHAPE-HAZARD discipline).
def pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.similarity.pq import PQ_M, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    enc = pq_encode(emb)
    codes = F.concat_ws(
        ",", *[F.col(f"code_{s}").cast("string") for s in range(PQ_M)]
    )
    err2 = None
    for s in range(PQ_M):
        err2 = F.col(f"err2_{s}") if err2 is None else err2 + F.col(f"err2_{s}")
    return enc.select(
        "vec_id",
        codes.alias("codes_csv"),
        (F.round(F.sqrt(err2), 4) + 0.0).alias("recon_err"),
    )


def _pq_dist_list_cols(prefix: str) -> list[str]:
    """Per-subspace PQ distance-list SQL columns ``{prefix}_s``: entry j
    is the left-assoc chain of squared diffs between x's subvector s and
    codebook centroid j — the character-identical arithmetic both the
    pq_codes oracle and the IVF-PQ ADC oracle replay (and the same IEEE
    op order the Arrow kernels accumulate in)."""
    from linqonsteroids_spark.similarity.pq import PQ_CODEBOOK, PQ_D, PQ_K, PQ_M

    cols = []
    for s in range(PQ_M):
        dists = []
        for j in range(PQ_K):
            c = PQ_CODEBOOK[s][j]
            terms = " + ".join(
                f"(x[{s * PQ_D + i + 1}] - {c[i]!r}) * (x[{s * PQ_D + i + 1}] - {c[i]!r})"
                for i in range(PQ_D)
            )
            dists.append(f"({terms})")
        cols.append(f"[{', '.join(dists)}] AS {prefix}_{s}")
    return cols


def _pq_sql() -> str:
    from linqonsteroids_spark.similarity.pq import PQ_M

    dl_cols = _pq_dist_list_cols("dl")
    codes = " || ',' || ".join(
        f"CAST(list_position(dl_{s}, list_min(dl_{s})) - 1 AS VARCHAR)"
        for s in range(PQ_M)
    )
    err2 = " + ".join(f"list_min(dl_{s})" for s in range(PQ_M))
    return f"""
WITH prep AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), dists AS (
  SELECT vec_id, {", ".join(dl_cols)} FROM prep
)
SELECT vec_id,
       {codes} AS codes_csv,
       round(sqrt({err2}), 4) + 0.0 AS recon_err
FROM dists
"""


PQ_CODES_SQL = _pq_sql()


# --- IVF x PQ ANN top-k join (similarity/ann.py) -----------------------------
# The capstone of the similarity stack: IVF cell routing (frozen centroid
# artifact) composed with PQ asymmetric-distance scoring (frozen codebook
# artifact) — the IVFADC operator a billion-vector pipeline calls. The
# gate runs the REAL approximate configuration (n_probe 3 of 8 cells,
# ~3/8 of the corpus scored per query via table lookups, never all-pairs)
# and is fully oracle-replayable: every distance is literal arithmetic
# accumulated in the same IEEE op order on both engines (the pq_codes /
# knn determinism class), so ranks match bit-for-bit. Recall vs the
# exact brute-force top-k is gated separately (ann_recall_report).
_ANN_QUERY_MOD = 50
_ANN_K = 5
_ANN_NPROBE = 3       #: pure-ADC gate: 3 of 8 cells
_ANN_NPROBE_R = 7     #: refined gate: 7 of 8 cells...
#: ...with a FRACTIONAL exact-cosine re-rank (IVFADC-R): R = max(k,
#: ceil(0.05 * |corpus|)). A fixed R=50 measured 0.80 -> 0.43 recall
#: going sf0.01 -> sf0.1 (the shortlist covered a shrinking fraction
#: of each inverted list); 5% keeps shortlist coverage — and recall —
#: stable across scale. n_probe raised 5 -> 7 in r12: measured
#: cell-probe ceilings at sf0.1 were 0.81 / 0.845 / 0.92 for probes
#: 5 / 6 / 7, so 5 capped recall at 0.81 no matter the refine budget;
#: 7 clears the >= 0.85 production target (measured 0.90 at sf0.1)
#: at ~1.2x the candidate cost — inside the 1.5x budget. At these toy
#: cell counts (8 lists) 7/8 reads most of the corpus; production
#: n_lists in the thousands keeps the probed fraction tiny — the
#: ratio that matters is ceiling-vs-target, not cells-vs-cells.
_ANN_REFINE_FRAC = 0.05


def _ann_queries(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") % _ANN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def ann_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure asymmetric-distance ranking — gates the ADC arithmetic
    itself (LUT build, code lookup, left-assoc add chain) bit-for-bit."""
    from linqonsteroids_spark.similarity.ann import ivfpq_topk
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk(
        _ann_queries(emb),
        emb,
        IVF_CENTROIDS,
        k=_ANN_K,
        n_probe=_ANN_NPROBE,
    )
    return out.select(
        "query_id",
        "rnk",
        "neighbor_id",
        (F.round("adc_dist", 4) + 0.0).alias("adc_dist"),
    )


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production configuration: ADC shortlist + fractional exact
    re-rank (R = 5% of the corpus, never below k). Unit-norm random
    vectors are PQ's worst case (distances concentrate), which is
    exactly why the production default must not lean on a lucky
    corpus: with the 32x2 codebook + fractional refine, measured
    recall vs brute force is ~0.8 at every local scale and equals the
    n_probe=5 cell-probe ceiling at sf0.1 (0.81) —
    tests/test_similarity.py pins the floor; ann_recall_report gates
    the measurement itself."""
    from linqonsteroids_spark.similarity.ann import ivfpq_topk
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk(
        _ann_queries(emb),
        emb,
        IVF_CENTROIDS,
        k=_ANN_K,
        n_probe=_ANN_NPROBE_R,
        refine_frac=_ANN_REFINE_FRAC,
    )
    return out.select(
        "query_id",
        "rnk",
        "neighbor_id",
        (F.round("cos_sim", 4) + 0.0).alias("cos_sim"),
    )


def ann_matryoshka_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka x IVFPQ composition: the ADC pass reads only the
    FIRST 16 of 32 PQ subspaces — the code columns covering the 32-dim
    embedding prefix — so candidate scoring touches half the LUT and
    code bytes (literal column pruning against the persisted index).

    The r13 measurement recorded this as a NEGATIVE RESULT on THIS
    corpus (r12 verdict item 8's second done-clause): at sf0.1 with the
    production n_probe=7 + 5% full-dim refine, prefix-ADC recall is
    0.60 vs 0.91 full — and the cliff is STRUCTURAL, not a PQ artifact:
    an EXACT 32-dim-prefix scorer's shortlist ceiling is 0.81 at the
    same R (0.91 requires doubling R to 10%, quadrupling at 0.84/20%),
    because these testdata embeddings are i.i.d. random unit vectors —
    every dim carries equal energy, so a half prefix keeps half the
    signal. Matryoshka-TRAINED embeddings front-load energy (the
    technique's premise), which flips the trade; the m_sub mechanism
    ships for that case, and THIS gate pins its value-correctness
    (bit-exact ADC arithmetic over the truncated chain), not recall."""
    from linqonsteroids_spark.similarity.ann import ivfpq_topk
    from linqonsteroids_spark.similarity.pq import PQ_M
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivfpq_topk(
        _ann_queries(emb),
        emb,
        IVF_CENTROIDS,
        k=_ANN_K,
        n_probe=_ANN_NPROBE,
        m_sub=PQ_M // 2,
    )
    return out.select(
        "query_id",
        "rnk",
        "neighbor_id",
        (F.round("adc_dist", 4) + 0.0).alias("adc_dist"),
    )


def _centroid_values_sql() -> str:
    """VALUES rows (cell, cvec DOUBLE[], cc) for the frozen IVF centroid
    artifact; cc accumulated sequentially in python so the literal is
    character-identical to the one the Spark plan folds."""
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    rows = []
    for i, c in enumerate(IVF_CENTROIDS):
        cc = 0.0
        for x in c:
            cc += float(x) * float(x)
        vals = ", ".join(repr(float(x)) for x in c)
        rows.append(f"({i}, [{vals}]::DOUBLE[], {cc!r})")
    return ",\n       ".join(rows)


def _ann_pairs_sql(n_probe: int = _ANN_NPROBE, m_sub: int | None = None) -> str:
    """The IVF-PQ candidate/rank pipeline as DuckDB SQL, emitting
    (query_id, rnk, neighbor_id, adc) — shared by the value gate and the
    recall report. Mirrors similarity/ann.py stage for stage: nearest-
    cell assignment (the semantic_dedup oracle's ranking), PQ codes (the
    pq_codes oracle's argmin), probe cells (same ranking, rnk <=
    n_probe), ADC = ql_s[code_s + 1] chained left-assoc. ``m_sub``
    truncates the ADC chain to the first m_sub subspaces — the
    matryoshka prefix mode (similarity/ann.py ``m_sub``)."""
    from linqonsteroids_spark.similarity.pq import PQ_M

    if m_sub is None:
        m_sub = PQ_M
    cdl = ", ".join(_pq_dist_list_cols("dl"))
    qdl = ", ".join(_pq_dist_list_cols("ql"))
    code_cols = ", ".join(
        f"CAST(list_position(dl_{s}, list_min(dl_{s})) - 1 AS INT) AS code_{s}"
        for s in range(m_sub)
    )
    adc = " + ".join(f"ql.ql_{s}[cd.code_{s} + 1]" for s in range(m_sub))
    return f"""
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id ASC) AS rnk
  FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id, {adc} AS adc
    FROM (
      SELECT query_id, cell FROM (
        SELECT c.vec_id AS query_id, ct.cell,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY -2 * list_dot_product(c.x, ct.cvec) + ct.cc ASC,
                          ct.cell ASC) AS prnk
        FROM ann_corpus c CROSS JOIN ann_cent ct
        WHERE c.vec_id % {_ANN_QUERY_MOD} = 0
      ) WHERE prnk <= {n_probe}
    ) p
    JOIN (
      SELECT vec_id, cell FROM (
        SELECT c.vec_id, ct.cell,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY -2 * list_dot_product(c.x, ct.cvec) + ct.cc ASC,
                          ct.cell ASC) AS arnk
        FROM ann_corpus c CROSS JOIN ann_cent ct
      ) WHERE arnk = 1
    ) a ON a.cell = p.cell AND a.vec_id <> p.query_id
    JOIN (SELECT vec_id, {code_cols}
          FROM (SELECT vec_id, {cdl} FROM ann_corpus)) cd
      ON cd.vec_id = a.vec_id
    JOIN (SELECT vec_id AS query_id, {qdl} FROM ann_corpus
          WHERE vec_id % {_ANN_QUERY_MOD} = 0) ql
      ON ql.query_id = p.query_id
  )
"""


def _ann_prelude_sql(corpus_where: str = "") -> str:
    """``corpus_where`` narrows the corpus CTE (e.g. the takedown
    gate's deletion predicate) — queries are drawn FROM the corpus, so
    the filter must keep the query cohort intact."""
    return f"""
ann_cent AS (
  SELECT * FROM (VALUES {_centroid_values_sql()}) AS t(cell, cvec, cc)
), ann_corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
  {corpus_where}
)"""


ANN_ADC_SQL = f"""
WITH {_ann_prelude_sql()}
SELECT query_id, rnk, neighbor_id, round(adc, 4) + 0.0 AS adc_dist
FROM ({_ann_pairs_sql(_ANN_NPROBE)})
WHERE rnk <= {_ANN_K}
"""


# --- ANN takedown: tombstones + inverted-list compaction (r15) ---------------
# The right-to-be-forgotten story for the similarity tier, completing
# the set (corpus: MOR delete deltas; LSH band index: takedown-aware
# maintenance; ANN index: THIS). delete_from_ivfpq_index lands the
# deleted ids as (id, cell) tombstones beside the artifact — O(batch),
# cells derived from the same nearest-cell assignment that indexed
# them, zero artifact reads — read_ivfpq_index masks them with one
# broadcast anti-join, and compact_ivfpq_index rewrites ONLY the
# inverted-list directories that held deleted entries (dynamic
# partition overwrite; emptied cells removed outright). The gate runs
# the whole lifecycle in-build and RAISES unless the tombstone-masked
# search and the post-compaction plain search agree row-for-row;
# the oracle replays the IVF-PQ pipeline over the corpus minus the
# taken-down ids — a deleted vector must be unservable by VALUE, not
# just by filter. Takedown cohort %7 excludes the %50 query cohort so
# the query set is identical on both sides.
def ann_takedown_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.similarity.ann import (
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_topk,
        read_ivfpq_index,
    )
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    base = cached_scratch_dir("ivfpq_takedown_", sf_dir)
    path = os.path.join(base, "index")
    marker = os.path.join(base, "takedown_done.json")

    def search(index):
        return ivfpq_index_topk(
            index,
            _ann_queries(emb),
            None,
            IVF_CENTROIDS,
            k=_ANN_K,
            n_probe=_ANN_NPROBE,
        ).select(
            "query_id",
            "rnk",
            "neighbor_id",
            (F.round("adc_dist", 4) + 0.0).alias("adc_dist"),
        )

    if not os.path.exists(marker):
        build_ivfpq_index(emb, path, IVF_CENTROIDS)
        dead = emb.filter(
            (F.col("vec_id") % 7 == 0)
            & (F.col("vec_id") % _ANN_QUERY_MOD != 0)
        )
        dead_ids = [r["vec_id"] for r in dead.select("vec_id").collect()]
        n = delete_from_ivfpq_index(
            spark, path, dead_ids, vectors=emb, centroids=IVF_CENTROIDS
        )
        if n != len(dead_ids):
            raise RuntimeError(
                f"tombstoned {n} of {len(dead_ids)} takedown ids"
            )
        masked = sorted(
            map(tuple, search(read_ivfpq_index(spark, path)).collect())
        )
        cells = compact_ivfpq_index(spark, path)
        plain = sorted(map(tuple, search(read_saved(spark, path)).collect()))
        if masked != plain:
            raise RuntimeError(
                "tombstone-masked search and post-compaction search "
                "disagree: the compaction rewrote the wrong rows"
            )
        with open(marker, "w") as f:
            json.dump({"n_deleted": n, "cells_rewritten": cells}, f)
    return search(read_saved(spark, path))


ANN_TAKEDOWN_SQL = f"""
WITH {_ann_prelude_sql(
    f"WHERE NOT (vec_id % 7 = 0 AND vec_id % {_ANN_QUERY_MOD} <> 0)"
)}
SELECT query_id, rnk, neighbor_id, round(adc, 4) + 0.0 AS adc_dist
FROM ({_ann_pairs_sql(_ANN_NPROBE)})
WHERE rnk <= {_ANN_K}
"""


def _matryoshka_adc_sql() -> str:
    from linqonsteroids_spark.similarity.pq import PQ_M

    return f"""
WITH {_ann_prelude_sql()}
SELECT query_id, rnk, neighbor_id, round(adc, 4) + 0.0 AS adc_dist
FROM ({_ann_pairs_sql(_ANN_NPROBE, m_sub=PQ_M // 2)})
WHERE rnk <= {_ANN_K}
"""


ANN_MATRYOSHKA_ADC_SQL = _matryoshka_adc_sql()


def _ann_refined_pairs_sql() -> str:
    """IVFADC-R as SQL: ADC shortlist (rnk <= R at n_probe_r), exact
    cosine re-rank — mirrors similarity/ann.py's refine branch (the
    cosine is the knn gate's established list_cosine_similarity
    parity)."""
    return f"""
  SELECT s.query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.x, c.x) AS cs,
         row_number() OVER (PARTITION BY s.query_id
           ORDER BY list_cosine_similarity(q.x, c.x) DESC,
                    c.vec_id ASC) AS rnk
  FROM (SELECT query_id, neighbor_id
        FROM ({_ann_pairs_sql(_ANN_NPROBE_R)})
        WHERE rnk <= (SELECT greatest({_ANN_K},
                        CAST(ceil(count(*) * {_ANN_REFINE_FRAC}) AS BIGINT))
                      FROM ann_corpus)) s
  JOIN ann_corpus q ON q.vec_id = s.query_id
  JOIN ann_corpus c ON c.vec_id = s.neighbor_id
"""


ANN_IVFPQ_SQL = f"""
WITH {_ann_prelude_sql()}
SELECT query_id, rnk, neighbor_id, round(cs, 4) + 0.0 AS cos_sim
FROM ({_ann_refined_pairs_sql()})
WHERE rnk <= {_ANN_K}
"""


# --- persisted IVF-PQ index artifact (build once, query many) ----------------
# The production deployment shape: build_ivfpq_index writes the encoded
# corpus as parquet PARTITIONED BY cell — a literal on-disk inverted
# file — and the search reads ONLY the probed cell directories
# (bounded probe-cell collect -> isin -> PartitionFilters; pinned in
# tests/test_similarity.py). Encoding is deterministic, so artifact
# search equals in-memory search bit-for-bit: the oracle is the SAME
# ADC SQL as ann_ivfpq_adc. The artifact is cached per sf_dir (the
# cached_scratch_dir build-once discipline).
def ann_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.similarity.ann import (
        build_ivfpq_index,
        ivfpq_index_topk,
    )
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    path = os.path.join(cached_scratch_dir("ivfpq_idx_", sf_dir), "index")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build_ivfpq_index(emb, path, IVF_CENTROIDS)
    out = ivfpq_index_topk(
        read_saved(spark, path),
        _ann_queries(emb),
        None,
        IVF_CENTROIDS,
        k=_ANN_K,
        n_probe=_ANN_NPROBE,
    )
    return out.select(
        "query_id",
        "rnk",
        "neighbor_id",
        (F.round("adc_dist", 4) + 0.0).alias("adc_dist"),
    )


# --- PQ symmetric-distance near-dup pairs (SDC, within-cell) -----------------
# The corpus-to-corpus half of the PQ toolkit (Jegou's SDC): pair
# distances come from an Mx16x16 LITERAL table of centroid-to-centroid
# squared distances indexed by the two vectors' codes — the pair scan
# never touches a vector, only 4-bit codes. Candidates are WITHIN-CELL
# pairs only (the IVF partition bounds the quadratic term; n_lists is
# the parallelism/recall knob and scales with corpus size in
# production), so this is the embedding near-dup pair generator at
# 17 bytes/vector memory (32 nibble codes + the cell id). Bit-exact across engines: table values ship as
# literals, only lookups + left-assoc adds run live.
# ~1.2k of 15.5k within-cell pairs at sf0.01 — retuned for the r10
# 32x2 codebook: better reconstructions stretched SDC distances toward
# the true pair distances (the old 0.7 cut, tuned when 8x8 quantization
# shrank everything toward subspace means, now selects nothing)
_SDC_THRESHOLD = 1.37


def dedup_pq_sdc_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = _SDC_THRESHOLD
) -> DataFrame:
    from linqonsteroids_spark.similarity.ann import encode_corpus
    from linqonsteroids_spark.similarity.pq import PQ_K, PQ_M, sdc_tables
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    coded = encode_corpus(emb, IVF_CENTROIDS)
    a = coded.select(
        F.col("neighbor_id").alias("id_a"),
        "cell",
        *[F.col(f"code_{s}").alias(f"ca_{s}") for s in range(PQ_M)],
    )
    b = coded.select(
        F.col("neighbor_id").alias("id_b"),
        F.col("cell").alias("cell_b"),
        *[F.col(f"code_{s}").alias(f"cb_{s}") for s in range(PQ_M)],
    )
    tables = sdc_tables()
    sdc = None
    for s in range(PQ_M):
        # FLAT 256-entry literal + computed index, not a nested list:
        # F.lit of a flat python list folds to ONE array Literal, while
        # a nested list builds CreateArray-of-arrays re-evaluated per
        # row (the measured literal trap — see spark-perf notes)
        flat = [v for row in tables[s] for v in row]
        term = F.element_at(
            F.lit(flat),
            (F.col(f"ca_{s}") * PQ_K + F.col(f"cb_{s}") + 1).cast("int"),
        )
        sdc = term if sdc is None else sdc + term
    return (
        a.join(
            b,
            (F.col("cell") == F.col("cell_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("sdc", sdc)
        .filter(F.col("sdc") <= threshold)
        .select(
            "id_a",
            "id_b",
            "cell",
            (F.round("sdc", 4) + 0.0).alias("sdc_dist"),
        )
    )


def _sdc_sql(threshold: float = _SDC_THRESHOLD) -> str:
    from linqonsteroids_spark.similarity.pq import PQ_M, sdc_tables

    tables = sdc_tables()
    lits = []
    for s in range(PQ_M):
        rows = ", ".join(
            "[" + ", ".join(repr(v) for v in row) + "]" for row in tables[s]
        )
        lits.append(f"[{rows}]::DOUBLE[][] AS sd_{s}")
    sdc = " + ".join(
        f"t.sd_{s}[a.code_{s} + 1][b.code_{s} + 1]" for s in range(PQ_M)
    )
    code_cols = ", ".join(
        f"CAST(list_position(dl_{s}, list_min(dl_{s})) - 1 AS INT) AS code_{s}"
        for s in range(PQ_M)
    )
    cdl = ", ".join(_pq_dist_list_cols("dl"))
    return f"""
WITH {_ann_prelude_sql()},
sdt AS (SELECT {", ".join(lits)}),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, ct.cell,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY -2 * list_dot_product(c.x, ct.cvec) + ct.cc ASC,
                      ct.cell ASC) AS arnk
    FROM ann_corpus c CROSS JOIN ann_cent ct
  ) WHERE arnk = 1
),
coded AS MATERIALIZED (
  SELECT asn.vec_id, asn.cell, cd.* EXCLUDE (vec_id)
  FROM assigned asn
  JOIN (SELECT vec_id, {code_cols}
        FROM (SELECT vec_id, {cdl} FROM ann_corpus)) cd
    ON cd.vec_id = asn.vec_id
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cell,
       round({sdc}, 4) + 0.0 AS sdc_dist
FROM coded a
JOIN coded b ON a.cell = b.cell AND a.vec_id < b.vec_id
CROSS JOIN sdt t
WHERE {sdc} <= {threshold}
"""


DEDUP_PQ_SDC_SQL = _sdc_sql()

#: tighter threshold for the SURVIVORS composition: components stay
#: small (43 pairs at sf0.01 vs 1225 at 0.7), which keeps the dedup
#: decision honest (only the closest code-space near-dups drop) and the
#: oracle's recursive closure cheap — at 0.7 random-code collisions
#: swallowed 92% of the corpus into components.
_SDC_SURVIVOR_THRESHOLD = 0.5


# --- SDC pairs -> components -> survivors (embedding dedup closer) -----------
# The full embedding-space dedup pipeline as ONE composed query: SDC
# code-only pair generation (above) -> connected components
# (min-label + pointer jumping, operators/fixpoint.py) -> keep one
# representative per component + every unflagged vector — exactly the
# pairs→components→anti-join shape the text-side dedup_survivors gate
# runs, now over the PQ-compressed embedding space. The oracle replays
# the whole chain (SDC pairs as literal-table SQL, recursive closure,
# anti-join), so the COMPOSITION is value-verified end to end.
def sdc_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.fixpoint import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup_pq_sdc_pairs(
        spark, sf_dir, threshold=_SDC_SURVIVOR_THRESHOLD
    ).select("id_a", "id_b")
    comp = connected_components(pairs)
    drops = comp.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("vec_id")
    )
    kept = emb.select("vec_id", "label").withColumnRenamed(
        "label", "vec_label"
    ).join(drops, "vec_id", "left_anti")
    flagged = comp.select(
        F.col("node").alias("vec_id"), F.lit(True).alias("was_flagged")
    )
    return kept.join(flagged, "vec_id", "left").select(
        "vec_id",
        "vec_label",
        F.coalesce("was_flagged", F.lit(False)).alias("in_dup_cluster"),
    )


# The pair CTE chain re-expressed inline: wrap the SDC pair query as a
# CTE, symmetrize, recursively close, pick components, anti-join.
def _sdc_survivors_oracle() -> str:
    # DEDUP_PQ_SDC_SQL is "WITH <ctes> SELECT ... pairs"; split it so the
    # whole thing becomes one more CTE in a RECURSIVE chain
    body = _sdc_sql(_SDC_SURVIVOR_THRESHOLD).strip()
    assert body.upper().startswith("WITH")
    ctes, select = body[4:].rsplit("\nSELECT", 1)
    return f"""
WITH RECURSIVE {ctes},
sdc_pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM (SELECT{select}) p
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM sdc_pairs
  UNION
  SELECT id_b, id_a FROM sdc_pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS vec_id, least(src, min(dst)) AS component
  FROM reach GROUP BY src
)
SELECT v.vec_id, v.label AS vec_label,
       (c.vec_id IS NOT NULL) AS in_dup_cluster
FROM embeddings v LEFT JOIN comp c USING (vec_id)
WHERE v.vec_id NOT IN (SELECT vec_id FROM comp WHERE vec_id <> component)
"""


SDC_SURVIVORS_SQL = _sdc_survivors_oracle()


# --- streaming ANN ingest (§2.8 x similarity stack composition) --------------
# The continuous-ingest path a production vector index runs: embedding
# batches arrive as a stream (two staged files, maxFilesPerTrigger=1 →
# two real micro-batches) and foreachBatch encodes-and-appends each into
# the persisted IVF-PQ artifact — O(batch) per trigger, touching only
# the cells the batch maps to, no rebuild ever. After the stream drains,
# a search over the STREAMED index must equal the batch-built search
# bit-for-bit (append ≡ full build by encode determinism), so the gate
# reuses the ADC oracle. Source batches, checkpoint, and the output
# index live under SIBLING directories (base/src, base/_chk,
# base/index) so the file-stream source only ever lists input batches —
# never its own output or state (round-8 ADVICE; previously all three
# shared one dir, leaning on the '_' prefix filter and the trigger's
# listing snapshot). All per-invocation, removed in a finally block.
def streaming_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from linqonsteroids_spark.similarity.ann import (
        append_to_ivfpq_index,
        ivfpq_index_topk,
    )
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    base = tempfile.mkdtemp(prefix="ann_ingest_")
    src = os.path.join(base, "src")
    idx = os.path.join(base, "index")
    chk = os.path.join(base, "_chk")
    os.makedirs(src)
    try:
        for i, half in enumerate(
            (
                emb.filter(F.col("vec_id") % 2 == 0),
                emb.filter(F.col("vec_id") % 2 == 1),
            )
        ):
            tmp = os.path.join(base, f"z{i}")
            half.coalesce(1).write.mode("overwrite").parquet(tmp)
            for f in os.listdir(tmp):
                if f.endswith(".parquet"):
                    shutil.move(
                        os.path.join(tmp, f),
                        os.path.join(src, f"part-{i}-batch.parquet"),
                    )
            shutil.rmtree(tmp)

        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _bid: append_to_ivfpq_index(
                    df, idx, IVF_CENTROIDS
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        out = ivfpq_index_topk(
            read_saved(spark, idx),
            _ann_queries(emb),
            None,
            IVF_CENTROIDS,
            k=_ANN_K,
            n_probe=_ANN_NPROBE,
        ).select(
            "query_id",
            "rnk",
            "neighbor_id",
            (F.round("adc_dist", 4) + 0.0).alias("adc_dist"),
        )
        rows = out.collect()  # materialize before the index dir dies
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- ANN recall vs exact brute force (measured quality, integer ppm) ---------
# The lsh_recall_report pattern for the IVF-PQ path: candidate top-k
# pairs vs the exact cosine top-k pairs on the SAME query set; all
# outputs exact integers, so the gate carries zero float-hash risk.
# NOTE the metric is honest about both approximation sources: cell
# routing (a true neighbor may live outside the probed cells) AND code
# quantization (ADC order can differ from exact order inside a cell).
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.similarity.ann import ivfpq_topk
    from linqonsteroids_spark.similarity.pretrained import IVF_CENTROIDS

    emb = load_table(spark, sf_dir, "embeddings")
    q = _ann_queries(emb)
    truth = brute_force_topk(q, emb, k=_ANN_K, exclude_self=True).select(
        "query_id", "neighbor_id"
    )
    ann = ivfpq_topk(
        q,
        emb,
        IVF_CENTROIDS,
        k=_ANN_K,
        n_probe=_ANN_NPROBE_R,
        refine_frac=_ANN_REFINE_FRAC,
    ).select("query_id", "neighbor_id")
    # ONE full-outer join computes |truth|, |ann| and |hits| in a single
    # pass (the lsh_recall_report fix, r15): both pair sets are distinct
    # on (query_id, neighbor_id) by top-k construction, so the counts are
    # exactly the flag counts — without this, the brute-force window and
    # the IVFxPQ search (9 duplicate scans / 18 Windows / 4 Python stages
    # in the before-plan) each executed TWICE, once per count and once
    # under the hit join
    matched = truth.withColumn("_t", F.lit(1)).join(
        ann.withColumn("_a", F.lit(1)),
        ["query_id", "neighbor_id"],
        "full_outer",
    )
    return matched.agg(
        F.count("_t").alias("n_true"),
        F.count("_a").alias("n_ann"),
        F.count(F.when(F.col("_t").isNotNull() & F.col("_a").isNotNull(), 1)).alias(
            "n_hits"
        ),
    ).select(
        "n_true",
        "n_ann",
        "n_hits",
        F.expr("n_hits * 1000000L div greatest(n_true, 1L)").alias("recall_ppm"),
    )


def _ann_recall_sql() -> str:
    truth = f"""
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(c.embedding AS DOUBLE[])) DESC,
                      c.vec_id ASC) AS rnk
    FROM embeddings q, embeddings c
    WHERE q.vec_id % {_ANN_QUERY_MOD} = 0 AND q.vec_id <> c.vec_id
  ) WHERE rnk <= {_ANN_K}
"""
    return f"""
WITH {_ann_prelude_sql()},
truth AS ({truth}),
ann AS (
  SELECT query_id, neighbor_id FROM ({_ann_refined_pairs_sql()})
  WHERE rnk <= {_ANN_K}
),
m AS (
  SELECT (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM ann) AS n_ann,
         (SELECT count(*) FROM truth JOIN ann USING (query_id, neighbor_id))
           AS n_hits
)
SELECT n_true, n_ann, n_hits,
       n_hits * 1000000 // greatest(n_true, 1) AS recall_ppm
FROM m
"""


ANN_RECALL_SQL = _ann_recall_sql()


# --- matryoshka truncated-prefix recall (r12) --------------------------------
# Matryoshka representation learning (Kusupati et al., NeurIPS 2022 —
# public) trains embeddings whose PREFIX is itself a usable embedding;
# deployments then search the first d/2 dims for half the FLOPs, bytes
# and cache pressure, re-ranking with the full vector only if needed.
# Whether a given corpus's embeddings tolerate that is an empirical
# question — this gate MEASURES it: exact top-5 on the full 64 dims is
# the truth set; exact top-5 on the 32-dim prefix is the candidate set;
# the report is their overlap as integer ppm. Both sides run the same
# streaming batch-scored top-k (brute_force_topk), so the only variable
# is the truncation. Ties break (sim DESC, id ASC) on both engines.
def matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    truth = brute_force_topk(queries, emb, k=5, exclude_self=True).select(
        "query_id", "neighbor_id"
    )
    q_half = queries.withColumn("query_vec", F.slice("query_vec", 1, 32))
    c_half = emb.withColumn("embedding", F.slice("embedding", 1, 32))
    cand = brute_force_topk(q_half, c_half, k=5, exclude_self=True).select(
        "query_id", "neighbor_id"
    )
    # ONE left join from truth computes |truth| and |hits| in a single
    # pass (r15, the recall-report family fix): pair sets are distinct on
    # (query_id, neighbor_id) by top-k construction, so the full-dim
    # brute-force scoring plans exactly once instead of twice
    matched = truth.join(
        cand.withColumn("_c", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return matched.agg(
        F.count("*").cast("bigint").alias("n_true"),
        F.count("_c").cast("bigint").alias("n_hits"),
    ).select(
        "n_true",
        "n_hits",
        F.expr("n_hits * 1000000L div greatest(n_true, 1L)").alias(
            "recall_ppm"
        ),
    )


MATRYOSHKA_RECALL_SQL = """
WITH q AS (
  SELECT vec_id AS query_id,
         CAST(embedding AS DOUBLE[]) AS v,
         CAST(embedding[1:32] AS DOUBLE[]) AS vh
  FROM embeddings WHERE vec_id % 50 = 0
),
c AS (
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         CAST(embedding[1:32] AS DOUBLE[]) AS vh
  FROM embeddings
),
truth AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                      c.vec_id ASC) AS rnk
    FROM q, c WHERE c.vec_id <> q.query_id
  ) WHERE rnk <= 5
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, c.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.vh, c.vh) DESC,
                      c.vec_id ASC) AS rnk
    FROM q, c WHERE c.vec_id <> q.query_id
  ) WHERE rnk <= 5
),
m AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
         (SELECT CAST(count(*) AS BIGINT)
          FROM truth JOIN cand USING (query_id, vec_id)) AS n_hits
)
SELECT n_true, n_hits,
       n_hits * 1000000 // greatest(n_true, 1) AS recall_ppm
FROM m
"""


QUERIES = {
    "knn_bruteforce": (knn_bruteforce, KNN_BRUTEFORCE_SQL),
    "matryoshka_recall_report": (
        matryoshka_recall_report,
        MATRYOSHKA_RECALL_SQL,
    ),
    "ann_ivfpq_topk": (ann_ivfpq_topk, ANN_IVFPQ_SQL),
    "ann_ivfpq_adc": (ann_ivfpq_adc, ANN_ADC_SQL),
    "ann_matryoshka_adc": (ann_matryoshka_adc, ANN_MATRYOSHKA_ADC_SQL),
    # same oracle by design: the persisted artifact must not change values
    "ann_index_persisted": (ann_index_persisted, ANN_ADC_SQL),
    "ann_takedown_search": (ann_takedown_search, ANN_TAKEDOWN_SQL),
    # same oracle again: streamed ingest must equal the batch build
    "streaming_ann_ingest": (streaming_ann_ingest, ANN_ADC_SQL),
    "dedup_pq_sdc_pairs": (dedup_pq_sdc_pairs, DEDUP_PQ_SDC_SQL),
    "sdc_dedup_survivors": (sdc_dedup_survivors, SDC_SURVIVORS_SQL),
    "ann_recall_report": (ann_recall_report, ANN_RECALL_SQL),
    "pq_codes": (pq_codes, PQ_CODES_SQL),
    # rows-only: cross-engine float-summation order (numpy differential in pytest)
    "embedding_top_component": (embedding_top_component, None),
    "label_centroid_norms": (label_centroid_norms, LABEL_CENTROID_SQL),
    "knn_lsh_bucketed": (knn_lsh_bucketed, KNN_LSH_SQL),
    "embedding_quantize_int8": (embedding_quantize_int8, EMBEDDING_QUANTIZE_SQL),
    "semantic_dedup_candidates": (semantic_dedup_candidates, SEMANTIC_DEDUP_SQL),
}
