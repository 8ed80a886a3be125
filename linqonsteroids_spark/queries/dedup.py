"""Dedup-family queries with exact DuckDB oracles.

Every signature/pair set here is deterministic (md5 hash families), so the
oracles reproduce them bit-for-bit — the strongest possible check for
approximate-dedup code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table, read_saved, save_schema
from linqonsteroids_spark.dedup.embedding import embedding_near_pairs, embedding_oracle_sql
from linqonsteroids_spark.dedup.minhash import lsh_candidate_pairs, minhash_oracle_sql
from linqonsteroids_spark.dedup.ngram import jaccard_pairs, jaccard_oracle_sql
from linqonsteroids_spark.dedup.simhash import simhash_oracle_sql, simhash_signatures

JACCARD_THRESHOLD = 0.2
EMBED_THRESHOLD = 0.25


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(docs)


def dedup_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_signatures(docs)


# SimHash near-PAIRS: the multi-block-blocked Hamming-ball search
# (dedup/simhash.py:simhash_near_pairs — Manku WWW'07: C(6,3)=20
# combinations of 3-of-6 8-bit blocks as 24-bit compound keys; pigeonhole:
# 3 bit flips leave >=3 blocks untouched, so some combination matches and
# blocking finds EXACTLY the all-pairs Hamming<=3 set without an all-pairs
# join, with bucket count GROWING with data instead of the constant 16,384
# of the old single-chunk scheme). The oracle runs the quadratic all-pairs
# form — equality of the two IS the pigeonhole completeness proof, checked
# on real data.
_SIMHASH_MAX_HAMMING = 3


def dedup_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.dedup.simhash import simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, max_hamming=_SIMHASH_MAX_HAMMING)


def _simhash_pairs_sql() -> str:
    sig_sql = simhash_oracle_sql()
    return f"""
WITH sig AS ({sig_sql})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, threshold=JACCARD_THRESHOLD)


def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_pairs(emb, threshold=EMBED_THRESHOLD)


def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline's OUTPUT: every document that survives
    near-dup removal (cluster representatives + never-flagged docs) with a
    flag for which it was. Pairs → components → anti-join is the shape a
    100 TB corpus wash actually runs; the anti-join drops non-representative
    cluster members without ever materializing cluster contents."""
    from linqonsteroids_spark.operators.fixpoint import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs)
    comp = connected_components(pairs)
    drops = comp.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    kept = docs.join(drops, "doc_id", "left_anti")
    flagged = comp.select(F.col("node").alias("doc_id"), F.lit(True).alias("was_flagged"))
    return (
        kept.join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("was_flagged", F.lit(False)).alias("in_dup_cluster"),
        )
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs → duplicate CLUSTERS (keep one doc per component):
    min-label propagation over the pair graph (operators/fixpoint.py) —
    the step that turns pairwise near-dup signals into drop decisions.
    Oracle: recursive closure of the same pairs in SQL."""
    from linqonsteroids_spark.operators.fixpoint import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def dedup_clusters_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` through the bucketed-static-edge scale path:
    the symmetrized pair relation persists as a bucketed+sorted table on
    the join key, so every label-propagation round scans it Exchange-free
    (the plan delta is pinned in tests/test_operators.py). Same oracle as
    the checkpointed path — the physical layout must not move a label."""
    from linqonsteroids_spark.operators.fixpoint import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs)
    comp = connected_components(pairs, bucket_edges=True)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection with a POLICY, not just min-id: within each
    duplicate cluster keep the member from the highest-priority source
    (priority asc), ties by doc_id. This is how a real corpus wash picks
    between a curated copy and a crawl copy of the same document. Shape:
    components (log-round label propagation) → join member metadata →
    one ranking window per component — the cluster contents are never
    collected anywhere."""
    from linqonsteroids_spark.operators.fixpoint import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs)
    comp = connected_components(pairs)
    members = comp.join(
        docs.select(F.col("doc_id").alias("node"), "source"), "node"
    ).select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component"),
        "source",
        # derived priority: curated-tier sources (even index) outrank
        # crawl-tier (odd index); deterministic from the name so both
        # engines compute it identically
        (F.regexp_extract("source", r"(\d+)", 1).cast("int") % 2).alias("priority"),
    )
    w = Window.partitionBy("component").orderBy("priority", "doc_id")
    # cluster size as count(*) OVER the same component partition: shares
    # the rank window's single Exchange instead of re-planning the whole
    # members subtree (components + docs join) under a second aggregate
    # and joining the two back with an SMJ (r15; plan: 2 members
    # executions + 1 join -> 1 execution, 0 joins)
    return (
        members.withColumn("rnk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("component")))
        .filter(F.col("rnk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_id"),
            F.col("source").alias("keep_source"),
            "n_members",
        )
    )


def _source_priority_sql() -> str:
    clusters = minhash_oracle_sql()["clusters"]
    return f"""
WITH comp_t AS ({clusters}),
members AS (
  SELECT c.doc_id, c.component, d.source,
         CAST(regexp_extract(d.source, '(\\d+)', 1) AS INT) % 2 AS priority
  FROM comp_t c JOIN documents d USING (doc_id)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component
                               ORDER BY priority, doc_id) AS rnk
  FROM members
),
sizes AS (
  SELECT component, count(*) AS n_members FROM members GROUP BY component
)
SELECT r.component, r.doc_id AS keep_id, r.source AS keep_source, s.n_members
FROM ranked r JOIN sizes s USING (component)
WHERE r.rnk = 1
"""


# --- duplicated-span detection (substring-level dedup) ----------------------
# Lee et al. (ACL 2022) ExactSubstr semantics re-expressed relationally:
# fingerprint every 5-token window, a fingerprint occurring >= 2 times
# corpus-wide marks a duplicated span, per-doc coverage = union of the
# [start, start+5) intervals. See operators/spans.py for the 100 TB design
# (hash-only shuffle, row-local interval union). Output is all-integer
# (hashed-output discipline).
def span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.spans import SPAN_N, duplicated_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicated_span_stats(docs, n=SPAN_N)


def _span_dedup_sql() -> str:
    from linqonsteroids_spark.dedup.shingles import DUCK_TOKS
    from linqonsteroids_spark.operators.spans import SPAN_N

    n = SPAN_N
    return f"""
WITH toks_t AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
), w AS (
  SELECT doc_id, start,
         md5(array_to_string(toks[start + 1 : start + {n}], ' ')) AS whash
  FROM (
    SELECT doc_id, toks, unnest(range(0, len(toks) - {n} + 1)) AS start
    FROM toks_t WHERE len(toks) >= {n}
  )
), freq AS (
  SELECT whash, count(*) AS n_occ FROM w GROUP BY whash
), seeds AS (
  SELECT w.doc_id, w.start FROM w JOIN freq USING (whash) WHERE freq.n_occ >= 2
), cov AS (
  SELECT DISTINCT doc_id, pos
  FROM (SELECT doc_id, unnest(range(start, start + {n})) AS pos FROM seeds)
), per_doc AS (
  SELECT d.doc_id, d.n_dup_windows, c.n_dup_tokens
  FROM (SELECT doc_id, count(*) AS n_dup_windows FROM seeds GROUP BY doc_id) d
  JOIN (SELECT doc_id, count(*) AS n_dup_tokens FROM cov GROUP BY doc_id) c
    USING (doc_id)
)
SELECT t.doc_id,
       len(t.toks) AS n_tokens,
       coalesce(p.n_dup_windows, 0) AS n_dup_windows,
       coalesce(p.n_dup_tokens, 0) AS n_dup_tokens,
       (coalesce(p.n_dup_tokens, 0) * 1000000) // greatest(len(t.toks), 1)
         AS dup_ppm
FROM toks_t t LEFT JOIN per_doc p USING (doc_id)
"""


# The removal half: reconstruct every document with duplicated-span token
# positions dropped (Lee et al.'s actual output — a cleaned corpus, not
# just a report). Spark reconstructs row-locally (positional filter +
# exists probe into the doc's own start list); the oracle rebuilds the
# same survivors through an explicit covered-position anti-join.
def span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.spans import SPAN_N, remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    return remove_duplicated_spans(docs, n=SPAN_N)


def _span_clean_sql() -> str:
    from linqonsteroids_spark.dedup.shingles import DUCK_TOKS
    from linqonsteroids_spark.operators.spans import SPAN_N

    n = SPAN_N
    return f"""
WITH toks_t AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
), w AS (
  SELECT doc_id, start,
         md5(array_to_string(toks[start + 1 : start + {n}], ' ')) AS whash
  FROM (
    SELECT doc_id, toks, unnest(range(0, len(toks) - {n} + 1)) AS start
    FROM toks_t WHERE len(toks) >= {n}
  )
), freq AS (
  SELECT whash, count(*) AS n_occ FROM w GROUP BY whash
), seeds AS (
  SELECT w.doc_id, w.start FROM w JOIN freq USING (whash) WHERE freq.n_occ >= 2
), cov AS (
  SELECT DISTINCT doc_id, pos
  FROM (SELECT doc_id, unnest(range(start, start + {n})) AS pos FROM seeds)
), pos AS (
  SELECT doc_id, unnest(range(0, len(toks))) AS p FROM toks_t
), kept AS (
  SELECT pos.doc_id, pos.p
  FROM pos LEFT JOIN cov ON cov.doc_id = pos.doc_id AND cov.pos = pos.p
  WHERE cov.pos IS NULL
), rebuilt AS (
  SELECT k.doc_id,
         string_agg(t.toks[k.p + 1], ' ' ORDER BY k.p) AS clean_text,
         count(*) AS n_kept
  FROM kept k JOIN toks_t t USING (doc_id)
  GROUP BY k.doc_id
)
SELECT t.doc_id,
       coalesce(r.clean_text, '') AS clean_text,
       coalesce(r.n_kept, 0) AS n_kept
FROM toks_t t LEFT JOIN rebuilt r USING (doc_id)
"""


# --- LSH quality measurement (recall/precision vs exact ground truth) --------
# "Measure, don't guess" applied to the dedup ladder itself: the LSH
# candidate generator's RECALL and PRECISION against the exact
# (df-capped) Jaccard>=threshold pair set, as integer ppm — the number a
# 100 TB wash needs before trusting banding parameters (at scale the
# ground truth comes from a sample; here the corpus IS the sample).
# One row: |true|, |candidates|, |hits|, recall_ppm, precision_ppm.
#
# ``truth_fraction`` makes the 100 TB methodology executable as written:
# sample the DOC universe deterministically (xxhash64(doc_id) — stable
# across runs and engines), run the exact quadratic truth only within
# the sample, and score the candidate generator on sampled-pair recall.
# Pair-level sampling would be wrong (a pair needs BOTH endpoints); the
# doc-level sample keeps truth cost ~ fraction² of the full quadratic
# form while recall/precision stay unbiased estimates. The registered
# gate runs at truth_fraction=1.0 (the sf corpus IS the sample);
# tests/test_dedup.py pins that the sampled estimate approximates the
# full measurement.
def lsh_recall_report(
    spark: SparkSession, sf_dir: str, truth_fraction: float = 1.0
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    if truth_fraction < 1.0:
        docs = docs.filter(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(1_000_000))
            < F.lit(int(truth_fraction * 1_000_000))
        )
    # The three measures used to be three aggregates over the two pair
    # pipelines (own count per side + the hits join): each side was
    # consumed twice and Catalyst re-executes a subtree per consumer —
    # the before-plan held 144 Exchanges / 36 scans of the corpus for
    # ONE report row. Both pair sets are distinct on (id_a, id_b), so a
    # single full-outer join computes all three counts in one pass with
    # each pipeline planned exactly once — no barrier, no re-execution
    # (r15; interleaved A/B at sf0.1: 5.08 s lazy / 5.39 s checkpointed
    # / 4.64 s this shape, identical result row).
    truth = jaccard_pairs(docs, threshold=JACCARD_THRESHOLD).select(
        "id_a", "id_b", F.lit(1).alias("t")
    )
    cand = lsh_candidate_pairs(docs).select(
        "id_a", "id_b", F.lit(1).alias("c")
    )
    return (
        truth.join(cand, ["id_a", "id_b"], "full_outer")
        .agg(
            F.count("t").alias("n_true"),
            F.count("c").alias("n_candidates"),
            F.count(
                F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)
            ).alias("n_hits"),
        )
        .select(
            "n_true",
            "n_candidates",
            "n_hits",
            F.expr("n_hits * 1000000L div greatest(n_true, 1L)").alias(
                "recall_ppm"
            ),
            F.expr("n_hits * 1000000L div greatest(n_candidates, 1L)").alias(
                "precision_ppm"
            ),
        )
    )


def _lsh_recall_sql() -> str:
    truth = jaccard_oracle_sql(threshold=JACCARD_THRESHOLD)
    cand = minhash_oracle_sql()["pairs"]
    return f"""
WITH truth AS (SELECT id_a, id_b FROM ({truth})),
cand AS (SELECT id_a, id_b FROM ({cand})),
m AS (
  SELECT (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM truth JOIN cand USING (id_a, id_b)) AS n_hits
)
SELECT n_true, n_candidates, n_hits,
       n_hits * 1000000 // greatest(n_true, 1) AS recall_ppm,
       n_hits * 1000000 // greatest(n_candidates, 1) AS precision_ppm
FROM m
"""


# --- leakage-safe train/val/test split ---------------------------------------
# The evaluation-integrity refinement of a plain random split: a near-
# duplicate of a test document sitting in train IS evaluation leakage, so
# the split unit must be the DEDUP COMPONENT, not the document — every
# member of a near-dup cluster lands in the same split. Composition:
# LSH candidate pairs → connected components → group id = component (own
# id for unclustered docs) → deterministic md5-uniform split on the GROUP
# id (corpus_mix's hash family). Shuffles: the pair/CC machinery + one
# broadcast-ish join of the (small) component relation back onto docs.
_SPLIT_SEED = "split"


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.fixpoint import connected_components
    from linqonsteroids_spark.queries.pipeline import _hash_frac

    docs = load_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(docs)
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    labeled = docs.select("doc_id").join(comp, "doc_id", "left")
    group = F.coalesce(F.col("label"), F.col("doc_id"))
    frac = _hash_frac(_SPLIT_SEED, group)
    return labeled.select(
        "doc_id",
        group.alias("group_id"),
        F.when(frac < 0.8, "train")
        .when(frac < 0.9, "val")
        .otherwise("test")
        .alias("split"),
    )


def _leakage_safe_split_sql() -> str:
    from linqonsteroids_spark.queries.pipeline import _hash_frac_sql

    clusters = minhash_oracle_sql()["clusters"]
    frac = _hash_frac_sql(_SPLIT_SEED, "coalesce(c.component, d.doc_id)")
    return f"""
SELECT d.doc_id,
       coalesce(c.component, d.doc_id) AS group_id,
       CASE WHEN {frac} < 0.8 THEN 'train'
            WHEN {frac} < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM documents d LEFT JOIN ({clusters}) c USING (doc_id)
"""


def _lsh_band_index(spark: SparkSession, sf_dir: str, corpus: DataFrame) -> str:
    """Build-once-per-corpus banded-signature index (the repository
    build->reuse contract): range-partitioned + sorted by band_key so
    lookups skip row groups via parquet min/max on the key. Shared by
    the batch and streaming incremental-dedup gates."""
    import os

    from linqonsteroids_spark.dedup.minhash import _banded, minhash_signatures
    from linqonsteroids_spark.session import cached_scratch_dir

    idx = os.path.join(cached_scratch_dir("squopt_lshidx_", sf_dir), "bands")
    if not os.path.exists(os.path.join(idx, "_SUCCESS")):
        # overwrite, not error-if-exists: a build that died mid-write
        # leaves the dir present WITHOUT _SUCCESS, and the rebuild must
        # replace it rather than throw path-already-exists forever
        bands = _banded(minhash_signatures(corpus), "doc_id")
        (
            bands.repartitionByRange(4, "band_key")
            .sortWithinPartitions("band_key")
            .write.mode("overwrite")
            .parquet(idx)
        )
        save_schema(idx, bands.schema)
    return idx



# --- incremental LSH dedup against a persisted band index --------------------
# The arrival-time shape of the dedup problem: a NEW batch of documents
# (doc_id % INCREMENTAL_BATCH_MOD = 0) must be checked against a corpus
# that was indexed LAST week — without re-shingling or re-hashing one
# byte of it. The corpus's banded signatures persist once per sf_dir as
# a range-partitioned, band_key-sorted parquet index (the key-lookup
# layout: row-group min/max on the sorted key); each arriving batch is
# hashed in O(|batch|), its bands broadcast onto the index join (the
# corpus side never shuffles — at 100 TB the batch is the small side by
# construction), plus a within-batch self-join for batch-internal dups.
# Verdict per new doc: candidate counts from each source + an is_dup
# flag. The oracle replays the whole split declaratively.
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.dedup.minhash import (
        INCREMENTAL_BATCH_MOD,
        _banded,
        minhash_signatures,
    )
    from linqonsteroids_spark.session import cached_scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    corpus = docs.filter(~is_batch)
    batch = docs.filter(is_batch)

    index = read_saved(spark, _lsh_band_index(spark, sf_dir, corpus))

    nb = _banded(minhash_signatures(batch), "doc_id").select(
        F.col("doc_id").alias("new_id"), "band", "band_key"
    )
    # batch bands are recomputed per consumer below (three tiny Arrow
    # stages at gate scale); a production run persists them like the
    # index and appends them to it after the verdicts land
    idx_cand = (
        index.join(F.broadcast(nb), ["band", "band_key"])
        .select("new_id", F.col("doc_id").alias("other"))
        .distinct()
    )
    batch_cand = (
        nb.join(
            F.broadcast(
                nb.select(
                    F.col("new_id").alias("other"), "band", "band_key"
                )
            ),
            ["band", "band_key"],
        )
        .filter(F.col("new_id") != F.col("other"))
        .select("new_id", "other")
        .distinct()
    )
    cands = idx_cand.withColumn("in_batch", F.lit(False)).unionByName(
        batch_cand.withColumn("in_batch", F.lit(True))
    )
    per = cands.groupBy("new_id").agg(
        F.sum(F.when(~F.col("in_batch"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_index_cands"),
        F.sum(F.when(F.col("in_batch"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_batch_cands"),
    )
    return (
        batch.select("doc_id")
        .join(per, F.col("doc_id") == F.col("new_id"), "left")
        .select(
            "doc_id",
            F.coalesce("n_index_cands", F.lit(0))
            .cast("bigint")
            .alias("n_index_cands"),
            F.coalesce("n_batch_cands", F.lit(0))
            .cast("bigint")
            .alias("n_batch_cands"),
            (
                F.coalesce("n_index_cands", F.lit(0))
                + F.coalesce("n_batch_cands", F.lit(0))
                > 0
            ).alias("is_dup"),
        )
    )


# --- STREAMING incremental dedup against the persisted band index -----------
# The arrival pipeline end-to-end: new documents land as a STREAM (two
# micro-batches via maxFilesPerTrigger), and each micro-batch is
# checked against the SAME persisted corpus index the batch gate uses
# (one artifact, two consumers — the build->reuse contract), verdicts
# appended per batch through foreachBatch. Per-batch work is
# O(|micro-batch|) hashing + one broadcast join; the corpus index is
# scanned, never shuffled, never re-hashed. Verdicts here are
# vs-corpus only (batch-internal pairs are the batch gate's job — a
# stream cannot see docs that haven't arrived). The oracle replays the
# whole split declaratively.
def streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from linqonsteroids_spark.dedup.minhash import (
        INCREMENTAL_BATCH_MOD,
        _banded,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    idx = _lsh_band_index(spark, sf_dir, docs.filter(~is_batch))
    batch = docs.filter(is_batch)

    base = tempfile.mkdtemp(prefix="lsh_ingest_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "verdicts")
    chk = os.path.join(base, "_chk")
    os.makedirs(src)
    try:
        # batch ids are multiples of MOD; halves split on the next bit
        two_mod = 2 * INCREMENTAL_BATCH_MOD
        for i, half in enumerate(
            (
                batch.filter(F.col("doc_id") % two_mod == 0),
                batch.filter(
                    F.col("doc_id") % two_mod == INCREMENTAL_BATCH_MOD
                ),
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

        # resolved ONCE, not once per micro-batch: re-reading inside the
        # handler re-lists the index per batch (guide §1.2)
        idx_df = read_saved(spark, idx)

        def handle(df, _bid):
            nb = _banded(minhash_signatures(df), "doc_id").select(
                F.col("doc_id").alias("new_id"), "band", "band_key"
            )
            hits = (
                idx_df.join(F.broadcast(nb), ["band", "band_key"])
                .groupBy("new_id")
                .agg(
                    F.countDistinct("doc_id")
                    .cast("bigint")
                    .alias("n_index_cands")
                )
            )
            verdicts = (
                df.select(F.col("doc_id").alias("new_id"))
                .distinct()
                .join(hits, "new_id", "left")
                .select(
                    F.col("new_id").alias("doc_id"),
                    F.coalesce("n_index_cands", F.lit(0))
                    .cast("bigint")
                    .alias("n_index_cands"),
                    (F.coalesce("n_index_cands", F.lit(0)) > 0).alias(
                        "is_dup"
                    ),
                )
            )
            # one verdict file per batch, not one per shuffle task —
            # the verdict set is O(|micro-batch|) rows (guide §6)
            verdicts.coalesce(1).write.mode("append").parquet(out)
            save_schema(out, verdicts.schema)

        stream = (
            spark.readStream.schema(batch.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        (
            stream.writeStream.foreachBatch(handle)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        res = read_saved(spark, out)
        rows = res.collect()  # materialize before the staging dir dies
        return spark.createDataFrame(rows, res.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- takedown-aware band-index maintenance (r15) ----------------------------
# The compliance shape of incremental dedup: when documents are taken
# DOWN from a corpus, their signatures must leave the dedup index too,
# or future near-dup verdicts keep matching against contractually-gone
# data. The band index is stored AS a merge-on-read table
# (dedup/minhash.py::maintain_band_index over operators/mor.py — key
# <doc>#<band>): arrivals UPSERT their rows (band numbers are stable
# per doc, so re-crawls overwrite in place), takedowns resolve to
# delete keys via ONE column-pruned scan probed against the broadcast
# takedown set, and everything lands in ONE O(changes) delta append —
# the index base is never rewritten, and time travel ("which index
# state produced last week's verdicts") comes free from the format.
# The oracle rebuilds the band relation from scratch over the final
# corpus (arrivals ∪ corpus − takedowns) with the shared md5 hash
# family; equality of per-band row/key counts pins that maintenance
# converged to the rebuild.
_TAKEDOWN_MOD = 31


def takedown_lsh_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.dedup.minhash import (
        INCREMENTAL_BATCH_MOD,
        banded_index_rows,
        maintain_band_index,
    )
    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    base_dir = cached_scratch_dir("squopt_lshmor_", sf_dir)
    path = os.path.join(base_dir, "band_index")
    done = os.path.join(base_dir, "_maintained")
    table = MorTable(spark, path, "bk")
    is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    if not os.path.exists(done):
        corpus0 = docs.filter(~is_batch)
        table.write_base(banded_index_rows(corpus0))
        v = maintain_band_index(
            table,
            arrivals=docs.filter(is_batch),
            takedown_ids=corpus0.filter(
                F.col("doc_id") % _TAKEDOWN_MOD == 0
            ).select("doc_id"),
        )
        with open(done, "w") as f:
            f.write(str(v))
    return (
        table.read()
        .groupBy("band")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("band_key").cast("bigint").alias("n_keys"),
        )
        .withColumn(
            "n_versions",
            F.lit(len(table._existing_versions())).cast("int"),
        )
    )


def _takedown_lsh_sql() -> str:
    from linqonsteroids_spark.dedup.minhash import (
        INCREMENTAL_BATCH_MOD,
        minhash_oracle_sql,
    )

    final_corpus = (
        "(SELECT * FROM documents WHERE "
        f"doc_id % {INCREMENTAL_BATCH_MOD} = 0 "
        f"OR doc_id % {_TAKEDOWN_MOD} <> 0)"
    )
    return (
        minhash_oracle_sql(final_corpus)["bands"]
        .replace(
            "SELECT * FROM bands",
            """
SELECT band, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT band_key) AS BIGINT) AS n_keys,
       1 AS n_versions
FROM bands GROUP BY band
""",
        )
    )


QUERIES = {
    "dedup_minhash_pairs": (dedup_minhash_pairs, minhash_oracle_sql()["pairs"]),
    "takedown_lsh_maintenance": (
        takedown_lsh_maintenance,
        _takedown_lsh_sql(),
    ),
    "dedup_incremental_lsh": (
        dedup_incremental_lsh,
        minhash_oracle_sql()["incremental"],
    ),
    "streaming_dedup_ingest": (
        streaming_dedup_ingest,
        minhash_oracle_sql()["incremental_vs_corpus"],
    ),
    "leakage_safe_split": (leakage_safe_split, _leakage_safe_split_sql()),
    "lsh_recall_report": (lsh_recall_report, _lsh_recall_sql()),
    "dedup_simhash_signatures": (dedup_simhash_signatures, simhash_oracle_sql()),
    "dedup_simhash_near_pairs": (dedup_simhash_near_pairs, _simhash_pairs_sql()),
    "dedup_ngram_jaccard": (
        dedup_ngram_jaccard,
        jaccard_oracle_sql(threshold=JACCARD_THRESHOLD),
    ),
    "dedup_embedding_pairs": (
        dedup_embedding_pairs,
        embedding_oracle_sql(threshold=EMBED_THRESHOLD),
    ),
    "dedup_clusters": (dedup_clusters, minhash_oracle_sql()["clusters"]),
    "dedup_clusters_bucketed": (
        dedup_clusters_bucketed,
        minhash_oracle_sql()["clusters"],
    ),
    "dedup_survivors": (dedup_survivors, minhash_oracle_sql()["survivors"]),
    "dedup_source_priority": (dedup_source_priority, _source_priority_sql()),
    "span_dedup_stats": (span_dedup_stats, _span_dedup_sql()),
    "span_dedup_clean": (span_dedup_clean, _span_clean_sql()),
}
