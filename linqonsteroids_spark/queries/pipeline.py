"""Training-data pipeline operators: corpus mixing, sequence packing,
training-order sharding, repetition scoring, PII scrubbing, streaming dedup.

These extend the reference's query surface (SURVEY §2) with the ops a
100 TB pre-training corpus wash actually runs between "raw documents" and
"token shards". Everything is JVM-side (md5 / conv / window functions /
higher-order array functions) — no Python in any hot path — and every op
is deterministic, so each has a DuckDB oracle.

Scale notes per op:
- mixing/sampling: a per-row hash test — embarrassingly parallel, no
  shuffle; the weights dim is broadcast.
- packing/sharding: ONE window shuffle partitioned by shard; shard count
  scales with the cluster (here 8), so no global ordering bottleneck —
  the per-shard sequential scan is the point (token offsets must be
  contiguous within a shard).
- repetition/PII: per-row expressions, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table, read_saved, save_schema
from linqonsteroids_spark.functions.text import token_count
from linqonsteroids_spark.session import materialize


def _each_file(spark: SparkSession, schema, base: str, handler) -> None:
    """Stream the parquet files staged in ``base/src``, one micro-batch
    per file, through ``handler`` (checkpointed under ``base/_chk``)."""
    import os

    (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(base, "src"))
        .writeStream.foreachBatch(handler)
        .option("checkpointLocation", os.path.join(base, "_chk"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# --- deterministic per-row uniform hash ------------------------------------
# hash_frac(seed, id) in [0, 1): first 8 hex digits of md5(seed || id) as a
# 32-bit integer, divided by 2^32-1. Identical bit-for-bit in Spark
# (conv/md5) and DuckDB (::UBIGINT on a 0x literal), so sampling decisions
# reproduce across engines — the property a corpus re-wash depends on.


def _hash_frac(seed: str, id_col: F.Column) -> F.Column:
    hex8 = F.substring(F.md5(F.concat(F.lit(seed), id_col.cast("string"))), 1, 8)
    return F.conv(hex8, 16, 10).cast("bigint") / F.lit(4294967295.0)


def _hash_frac_sql(seed: str, id_expr: str) -> str:
    return (
        f"(('0x' || substr(md5('{seed}' || CAST({id_expr} AS VARCHAR)), 1, 8))::UBIGINT"
        " / 4294967295.0)"
    )


_N_TOKENS_SQL = (
    "len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> ''))"
)


# --- corpus mixing: weighted deterministic sampling per source -------------
# The "data mixture" step: each source s contributes a fraction w_s of its
# documents, chosen by hash so the sample is stable across re-runs and
# machines (no rand()). The weights table is a broadcast dim; the filter is
# a row-local predicate — zero shuffles, scales linearly.
_MIX_SEED = "mix7"
_MIX_WEIGHTS = [(f"src{i}", [0.25, 0.5, 0.75, 1.0][i % 4]) for i in range(20)]
_DEFAULT_WEIGHT = 0.5


def corpus_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    weights = spark.createDataFrame(_MIX_WEIGHTS, "source string, weight double")
    return (
        docs.join(F.broadcast(weights), "source", "left")
        .withColumn("weight", F.coalesce("weight", F.lit(_DEFAULT_WEIGHT)))
        .filter(_hash_frac(_MIX_SEED, F.col("doc_id")) < F.col("weight"))
        .select("doc_id", "source", "weight")
    )


CORPUS_MIX_SQL = f"""
WITH w(source, weight) AS (
  VALUES {", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS)}
)
SELECT d.doc_id, d.source,
       CAST(coalesce(w.weight, {_DEFAULT_WEIGHT}) AS DOUBLE) AS weight
FROM documents d LEFT JOIN w USING (source)
WHERE {_hash_frac_sql(_MIX_SEED, "d.doc_id")}
      < coalesce(w.weight, {_DEFAULT_WEIGHT})
"""


# --- sequence packing: contiguous token budgets per shard ------------------
# Pack documents into fixed token-budget windows (budget = 2048): documents
# are hash-assigned to shards, ordered by doc_id within a shard, and each
# doc starts at the running token offset; its pack is the budget-window its
# first token lands in. One window shuffle on shard; shard count is the
# parallelism knob (1000 shards on a real cluster), so no operator ever
# sees a global order.
_PACK_BUDGET = 2048
_N_SHARDS = 8
_SHARD_SEED = "shard"


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_SHARD_SEED), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % _N_SHARDS
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            "doc_id",
            shard.alias("shard"),
            token_count(F.col("text")).alias("n_tokens"),
        )
        .withColumn("start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.floor(F.col("start_offset") / _PACK_BUDGET).alias("pack_id"),
            (F.col("start_offset") % _PACK_BUDGET).alias("pack_offset"),
        )
    )


PACK_SEQUENCES_SQL = f"""
WITH sized AS (
  SELECT doc_id,
         ('0x' || substr(md5('{_SHARD_SEED}' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
           % {_N_SHARDS} AS shard,
         {_N_TOKENS_SQL} AS n_tokens
  FROM documents
), placed AS (
  SELECT doc_id, shard, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
  FROM sized
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
       CAST(floor(start_offset / {_PACK_BUDGET}.0) AS BIGINT) AS pack_id,
       CAST(start_offset % {_PACK_BUDGET} AS BIGINT) AS pack_offset
FROM placed
"""


# --- training-order shuffle + sharding -------------------------------------
# A reproducible global shuffle for training order: position = rank of
# hash(seed, doc_id) within the doc's shard. Downstream writers emit one
# file per shard in position order — the standard "shuffle once, stream
# forever" layout. Shard-partitioned window, no global sort.
_ORDER_SEED = "ord3"


def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(_ORDER_SEED), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    with_shard = docs.select(
        "doc_id", "source", (h % _N_SHARDS).alias("shard"), h.alias("h")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return with_shard.select(
        "doc_id",
        "source",
        "shard",
        (F.row_number().over(w) - 1).alias("position"),
    )


TRAINING_SHARDS_SQL = f"""
WITH hashed AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('{_ORDER_SEED}' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS h
  FROM documents
)
SELECT doc_id, source, CAST(h % {_N_SHARDS} AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % {_N_SHARDS} ORDER BY h, doc_id) - 1
            AS BIGINT) AS position
FROM hashed
"""


# --- per-source quota sampling ---------------------------------------------
# Domain balancing: keep at most QUOTA docs per source, chosen by hash rank
# (deterministic across re-runs). A single window over a 100 TB corpus
# serializes each source into one task — a hot domain (half the web is one
# CDN) stalls the stage — so selection is TWO-stage: per (source, subshard)
# prune to QUOTA with a window over ~1/N_SUB of the data, then a final
# window over the <= N_SUB*QUOTA survivors per source. Stage 1 provably
# contains the global top-QUOTA (any global pick is in some subshard's
# top-QUOTA), so the result is identical to the single-window oracle.
_QUOTA = 15
_QUOTA_SEED = "quo"
_N_SUB = 16


def quota_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = _hash_frac(_QUOTA_SEED, F.col("doc_id"))
    pruned = (
        docs.select("doc_id", "source", h.alias("h"), (F.col("doc_id") % _N_SUB).alias("sub"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source", "sub").orderBy("h", "doc_id")
            ),
        )
        .filter(F.col("rn") <= _QUOTA)
    )
    final = pruned.withColumn(
        "pick_rank",
        F.row_number().over(Window.partitionBy("source").orderBy("h", "doc_id")),
    ).filter(F.col("pick_rank") <= _QUOTA)
    return final.select(
        "doc_id", "source", F.col("pick_rank").cast("long").alias("pick_rank")
    )


QUOTA_PER_SOURCE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_hash_frac_sql(_QUOTA_SEED, "doc_id")}, doc_id
         ) AS pick_rank
  FROM documents
)
SELECT doc_id, source, CAST(pick_rank AS BIGINT) AS pick_rank
FROM ranked WHERE pick_rank <= {_QUOTA}
"""


# --- weighted deterministic sampling (priority sampling) --------------------
# Size-biased sampling per source: longer documents (weight = n_chars) are
# proportionally more likely to be kept — the quality-weighted subsample a
# mixture rebalance draws. Scheme: PRIORITY SAMPLING (Duffield, Lund,
# Thorup, JACM 2007 — public): priority q_i = w_i / u_i with u_i uniform
# (0,1], keep the top-k priorities. Here u_i is an md5-derived integer and
# the priority is computed ENTIRELY in 64-bit integer arithmetic
# (w * 2^40 div (u+1)) so the ordering — and therefore the sample — is
# bit-identical on any engine, and the hashed gate output carries only
# integers (hashed-output discipline).
# Scale: same two-stage top-k as quota_per_source — per-(source, subshard)
# prune to k then final rank over <= N_SUB*k survivors per source, so no
# single reducer ever sorts a hot source's full document list.
_WSAMPLE_SEED = "wsamp11"
_WSAMPLE_K = 20
_WSAMPLE_SUB = 16
_WSAMPLE_SCALE = 1 << 40


def weighted_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("w")
    )
    hex12 = F.substring(
        F.md5(F.concat(F.lit(_WSAMPLE_SEED), F.col("doc_id").cast("string"))), 1, 12
    )
    scored = docs.withColumn("u", F.conv(hex12, 16, 10).cast("bigint")).withColumn(
        "priority", F.expr(f"{_WSAMPLE_SCALE}L * w div (u + 1L)")
    )
    pruned = (
        scored.withColumn("sub", F.col("doc_id") % _WSAMPLE_SUB)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source", "sub").orderBy(
                    F.desc("priority"), F.asc("doc_id")
                )
            ),
        )
        .filter(F.col("rn") <= _WSAMPLE_K)
    )
    return (
        pruned.withColumn(
            "pick_rank",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.desc("priority"), F.asc("doc_id")
                )
            ),
        )
        .filter(F.col("pick_rank") <= _WSAMPLE_K)
        .select(
            "doc_id",
            "source",
            F.col("pick_rank").cast("long").alias("pick_rank"),
            "priority",
        )
    )


WEIGHTED_SAMPLE_SQL = f"""
WITH scored AS (
  SELECT doc_id, source,
         ({_WSAMPLE_SCALE} * CAST(n_chars AS BIGINT))
           // ((('0x' || substr(md5('{_WSAMPLE_SEED}' || CAST(doc_id AS VARCHAR)),
                 1, 12))::BIGINT) + 1) AS priority
  FROM documents
), ranked AS (
  SELECT doc_id, source, priority,
         row_number() OVER (
           PARTITION BY source ORDER BY priority DESC, doc_id ASC
         ) AS pick_rank
  FROM scored
)
SELECT doc_id, source, CAST(pick_rank AS BIGINT) AS pick_rank,
       CAST(priority AS BIGINT) AS priority
FROM ranked WHERE pick_rank <= {_WSAMPLE_K}
"""


# --- intra-document repetition scoring -------------------------------------
# Gopher-style repetition gates: type-token ratio and duplicate-bigram
# fraction, computed per row with array higher-order functions — no
# explode, no shuffle, linear scan.
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    ttr = F.round(F.size(F.array_distinct(toks)).cast("double") / n, 6)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dup_frac = F.when(
        F.size(bigrams) > 0,
        F.round(
            1 - F.size(F.array_distinct(bigrams)).cast("double") / F.size(bigrams), 6
        ),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        ttr.alias("ttr"),
        dup_frac.alias("dup_bigram_frac"),
    )


DOC_REPETITION_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') AS toks
  FROM documents
), grams AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS bigrams
  FROM toked
)
SELECT doc_id,
       len(toks) AS n_tokens,
       round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
       CASE WHEN len(bigrams) > 0
            THEN round(1 - CAST(len(list_distinct(bigrams)) AS DOUBLE) / len(bigrams), 6)
            ELSE 0.0 END AS dup_bigram_frac
FROM grams
"""


# --- PII scrubbing ----------------------------------------------------------
# Redaction pass: emails → <EMAIL>, digit runs (3+) → <NUM>, with match
# counts for audit. The synthetic corpus carries no PII, so the query
# plants a deterministic contact line per document first — the scrubber
# itself is the op under test. Pure regexp_replace, regex kept to the
# Java∩RE2 common dialect so the oracle reproduces it.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_NUM_RE = "[0-9]{3,}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    augmented = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@host"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit(".example.com id "),
        (F.col("doc_id") * 7919).cast("string"),
    )
    no_email = F.regexp_replace(augmented, _EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, _NUM_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(augmented, F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(no_email, F.lit(_NUM_RE), F.lit(0))).alias("n_nums"),
        F.length(clean).alias("clean_len"),
        F.substring(F.md5(clean), 1, 16).alias("clean_hash"),
    )


PII_SCRUB_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@host'
              || CAST(doc_id % 10 AS VARCHAR) || '.example.com id '
              || CAST(doc_id * 7919 AS VARCHAR) AS augmented
  FROM documents
), scrubbed AS (
  SELECT doc_id, augmented,
         regexp_replace(augmented, '{_EMAIL_RE}', '<EMAIL>', 'g') AS no_email
  FROM aug
)
SELECT doc_id,
       len(regexp_extract_all(augmented, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(no_email, '{_NUM_RE}')) AS n_nums,
       length(regexp_replace(no_email, '{_NUM_RE}', '<NUM>', 'g')) AS clean_len,
       substr(md5(regexp_replace(no_email, '{_NUM_RE}', '<NUM>', 'g')), 1, 16)
         AS clean_hash
FROM scrubbed
"""


# --- end-to-end corpus wash (operator COMPOSITION gate) ----------------------
# The pipeline a 100 TB pretraining wash actually runs, as ONE query
# composing this repo's stages: exact dedup (md5 winner-per-group) →
# integer quality gate (punct ppm + token floor, the doc_quality signals)
# → PII scrub (the pii_scrub redaction pass) → per-source dataset-card
# report with an order-independent XOR content digest of the surviving
# cleaned docs (the table_digest idiom). Every stage is hash-stable
# integers/strings; the oracle replays the whole chain as CTEs, so the
# COMPOSITION — not just each operator alone — is value-verified.
# Shuffles: the dedup window (hash-partitioned on content hash), then one
# per-source agg; the quality filter and scrub are row-local.
_WASH_MAX_PUNCT_PPM = 30000
_WASH_MIN_TOKENS = 40


def corpus_wash_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from linqonsteroids_spark.functions.text import punct_chars, token_count

    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source", "text", F.md5("text").alias("content_hash")
    )
    deduped = hashed.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("content_hash"))
    ).filter(F.col("doc_id") == F.col("keep_id"))
    # the dedup-count and the scrub report both consume `deduped` — fold
    # them into ONE aggregate over ONE window pass (the scan + the
    # content_hash shuffle previously executed once per consumer). The
    # survival test and the scrub metrics are row-local, so they ride the
    # same pass under when(): regexes still evaluate only for survivors.
    quality = (
        deduped.withColumn("n_punct", punct_chars(F.col("text")).cast("long"))
        .withColumn("text_len", F.length("text").cast("long"))
        .withColumn("punct_ppm", F.expr("n_punct * 1000000L div text_len"))
        .withColumn("n_tokens", token_count(F.col("text")).cast("long"))
    )
    survives = (F.col("punct_ppm") < _WASH_MAX_PUNCT_PPM) & (
        F.col("n_tokens") >= _WASH_MIN_TOKENS
    )
    no_email = F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, _NUM_RE, "<NUM>")
    per_row = quality.select(
        "source",
        survives.alias("survives"),
        F.when(survives, F.length(clean).cast("long")).alias("clean_len"),
        F.when(
            survives,
            F.conv(F.substring(F.md5(clean), 1, 12), 16, 10).cast("long"),
        ).alias("clean_h"),
    )
    report = (
        per_row.groupBy("source")
        .agg(
            F.count("*").alias("n_after_dedup"),
            F.sum(F.when(F.col("survives"), 1).otherwise(0))
            .alias("n_surviving"),
            F.sum("clean_len").alias("clean_chars"),
            F.expr("bit_xor(clean_h)").alias("content_digest"),
        )
        # the pre-fusion shape inner-joined a report grouped over
        # survivors only: a source whose every deduped doc fails the
        # wash had no report row and dropped out — replicated exactly
        .filter(F.col("n_surviving") > 0)
    )
    n_in = hashed.groupBy("source").agg(F.count("*").alias("n_docs_in"))
    return n_in.join(F.broadcast(report), "source").select(
        "source",
        "n_docs_in",
        "n_after_dedup",
        "n_surviving",
        "clean_chars",
        "content_digest",
    )


CORPUS_WASH_SQL = f"""
WITH hashed AS (
  SELECT doc_id, source, text, md5(text) AS content_hash FROM documents
), deduped AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
           min(doc_id) OVER (PARTITION BY content_hash) AS keep_id
    FROM hashed
  ) WHERE doc_id = keep_id
), kept AS (
  SELECT doc_id, source, text FROM deduped
  WHERE (length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g')))
          * 1000000 // length(text) < {_WASH_MAX_PUNCT_PPM}
    AND len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        t -> t <> '')) >= {_WASH_MIN_TOKENS}
), scrubbed AS (
  SELECT doc_id, source,
         length(clean) AS clean_len,
         ('0x' || substr(md5(clean), 1, 12))::BIGINT AS clean_h
  FROM (
    SELECT doc_id, source,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_NUM_RE}', '<NUM>', 'g') AS clean
    FROM kept
  )
)
SELECT i.source, i.n_docs_in, d.n_after_dedup, r.n_surviving,
       r.clean_chars, r.content_digest
FROM (SELECT source, count(*) AS n_docs_in FROM hashed GROUP BY source) i
JOIN (SELECT source, count(*) AS n_after_dedup FROM deduped GROUP BY source) d
  USING (source)
JOIN (SELECT source, count(*) AS n_surviving,
             CAST(sum(clean_len) AS BIGINT) AS clean_chars,
             bit_xor(clean_h) AS content_digest
      FROM scrubbed GROUP BY source) r
  USING (source)
"""


# --- observe()-collected wash-stage counters ---------------------------------
# The corpus-wash pipeline instrumented with monitoring.observed():
# per-stage data-quality counters (docs in, after dedup, surviving, total
# cleaned chars) are computed WHILE the single washing action runs —
# df.observe attaches the aggregates to the plan, so a 100 TB wash gets
# its reconciliation counters with ZERO extra scans (three separate
# count() calls would be three more full passes). The gate's projection
# IS the observation output: the returned row is built from obs.get, and
# the oracle recomputes the same exact-integer counters from the same
# CTE chain — so the observe() path itself is value-verified, not just
# pytest-exercised. One action drives all three observation points.
def wash_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from linqonsteroids_spark.functions.text import punct_chars, token_count
    from linqonsteroids_spark.monitoring import observed

    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source", "text", F.md5("text").alias("content_hash")
    )
    obs_in, hashed_o = observed(
        hashed, "wash_in", n_docs_in=F.count(F.lit(1))
    )
    deduped = hashed_o.withColumn(
        "keep_id", F.min("doc_id").over(Window.partitionBy("content_hash"))
    ).filter(F.col("doc_id") == F.col("keep_id"))
    obs_dedup, deduped_o = observed(
        deduped, "wash_dedup", n_after_dedup=F.count(F.lit(1))
    )
    kept = (
        deduped_o.withColumn("n_punct", punct_chars(F.col("text")).cast("long"))
        .withColumn("text_len", F.length("text").cast("long"))
        .withColumn("punct_ppm", F.expr("n_punct * 1000000L div text_len"))
        .withColumn("n_tokens", token_count(F.col("text")).cast("long"))
        .filter(
            (F.col("punct_ppm") < _WASH_MAX_PUNCT_PPM)
            & (F.col("n_tokens") >= _WASH_MIN_TOKENS)
        )
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _NUM_RE,
        "<NUM>",
    )
    obs_out, out = observed(
        kept.select(F.length(clean).cast("long").alias("clean_len")),
        "wash_out",
        n_surviving=F.count(F.lit(1)),
        clean_chars=F.sum("clean_len"),
    )
    out.agg(F.count(F.lit(1))).collect()  # ONE action; metrics ride along
    row = {**obs_in.get, **obs_dedup.get, **obs_out.get}
    return spark.createDataFrame(
        [
            (
                int(row["n_docs_in"]),
                int(row["n_after_dedup"]),
                int(row["n_surviving"]),
                int(row["clean_chars"]),
            )
        ],
        "n_docs_in long, n_after_dedup long, n_surviving long, clean_chars long",
    )


WASH_OBSERVED_SQL = f"""
WITH hashed AS (
  SELECT doc_id, source, text, md5(text) AS content_hash FROM documents
), deduped AS (
  SELECT doc_id, source, text FROM (
    SELECT doc_id, source, text,
           min(doc_id) OVER (PARTITION BY content_hash) AS keep_id
    FROM hashed
  ) WHERE doc_id = keep_id
), kept AS (
  SELECT doc_id, source, text FROM deduped
  WHERE (length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g')))
          * 1000000 // length(text) < {_WASH_MAX_PUNCT_PPM}
    AND len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                        t -> t <> '')) >= {_WASH_MIN_TOKENS}
)
SELECT (SELECT count(*) FROM hashed) AS n_docs_in,
       (SELECT count(*) FROM deduped) AS n_after_dedup,
       (SELECT count(*) FROM kept) AS n_surviving,
       (SELECT CAST(sum(length(regexp_replace(
                 regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_NUM_RE}', '<NUM>', 'g'))) AS BIGINT)
        FROM kept) AS clean_chars
"""


# --- document chunking: overlapping token windows --------------------------
# Long documents become fixed-size training chunks: window W tokens, stride
# S < W (adjacent chunks overlap by W-S so no span is split across a chunk
# boundary without context). Entirely row-local — tokenize, explode chunk
# indices, slice the token array — so it scales linearly with zero shuffle;
# chunk identity is content-hashed for downstream exact dedup of chunks.
_CHUNK_W = 64
_CHUNK_S = 48


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokens(F.col("text")), lambda t: t != "")
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)
    n_chunks = F.expr(f"(size(toks) - 1) div {_CHUNK_S} + 1")
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * _CHUNK_S + 1, _CHUNK_W
    )
    return (
        base.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * _CHUNK_S).cast("int").alias("start_tok"),
            F.size(chunk).alias("chunk_len"),
            F.substring(F.md5(F.concat_ws(" ", chunk)), 1, 16).alias("chunk_hash"),
        )
    )


DOC_CHUNKS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), idx AS (
  SELECT doc_id, toks,
         unnest(range(0, (len(toks) - 1) // {_CHUNK_S} + 1)) AS chunk_idx
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_idx * {_CHUNK_S} AS INT) AS start_tok,
       len(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                      chunk_idx * {_CHUNK_S} + {_CHUNK_W})) AS chunk_len,
       substr(md5(array_to_string(list_slice(toks, chunk_idx * {_CHUNK_S} + 1,
                                             chunk_idx * {_CHUNK_S} + {_CHUNK_W}), ' ')),
              1, 16) AS chunk_hash
FROM idx
"""


# --- stratified train/val/test split ---------------------------------------
# Exact per-stratum proportions (not expected-value hash thresholds): rank
# documents within each language stratum by a deterministic hash (ties by
# doc_id), then cut at exact fractions of the stratum size. ONE shuffle
# (the stratum window); both rank and stratum count come from the same
# window spec, so Spark computes them in a single Window operator.
_SPLIT_SEED = "split3"
_TRAIN_FRAC, _VAL_FRAC = 0.90, 0.97  # train <=90%, val <=97%, test rest


def stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = _hash_frac(_SPLIT_SEED, F.col("doc_id"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    wc = Window.partitionBy("lang")
    pos = F.row_number().over(w)
    n = F.count("*").over(wc)
    split = (
        F.when(pos <= n * _TRAIN_FRAC, "train")
        .when(pos <= n * _VAL_FRAC, "val")
        .otherwise("test")
    )
    return docs.select("doc_id", "lang", split.alias("split"))


STRATIFIED_SPLIT_SQL = f"""
SELECT doc_id, lang,
       CASE WHEN pos <= n * {_TRAIN_FRAC} THEN 'train'
            WHEN pos <= n * {_VAL_FRAC} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_hash_frac_sql(_SPLIT_SEED, "doc_id")}, doc_id)
           AS pos,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
"""


# --- n-gram novelty: boilerplate detection ----------------------------------
# Per document: what fraction of its distinct 3-gram shingles also occur in
# OTHER documents? High shared-ratio = boilerplate/template text. Shuffles:
# distinct (doc, shingle), the shingle-frequency agg (map-side combined),
# the frequency join back (both sides hash on shingle — AQE handles the
# hot-shingle skew that templated corpora produce), and the per-doc agg.
# Hash-stability: gated output is integers only — the shared rate is a ppm
# computed with integer floor division on both engines, never a rounded
# double (the r4 red-gate root cause).
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.dedup.shingles import shingles_df

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs).distinct()
    counts = sh.groupBy("shingle").agg(F.count("*").alias("n_docs"))
    return (
        sh.join(counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.expr("n_shared * 1000000L div n_shingles").alias("shared_ppm"),
        )
    )


def _ngram_novelty_sql() -> str:
    from linqonsteroids_spark.dedup.shingles import DUCK_SHINGLES, DUCK_TOKS

    return f"""
WITH toks_t AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks_t
), counts AS (
  SELECT shingle, count(*) AS n_docs FROM sh GROUP BY shingle
)
SELECT s.doc_id,
       count(*) AS n_shingles,
       CAST(sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST((sum(CASE WHEN c.n_docs > 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS shared_ppm
FROM sh s JOIN counts c USING (shingle)
GROUP BY s.doc_id
"""
# ^ BIGINT casts: DuckDB sum(<integer>) is HUGEINT, which fetchdf() degrades
# to float64 — the r4/r5 chronic hash-red root cause. See
# tests/test_oracle_types.py for the repo-wide guard.


NGRAM_NOVELTY_SQL = _ngram_novelty_sql()


# --- dataset card: per-source corpus report ---------------------------------
# The summary a dataset release ships with: per source, document/token
# volume, exact-duplicate exposure, and mean quality signals — one query
# composing the hash-dedup, token-count, and quality operators. Shuffles:
# the content-hash frequency agg, its join back (both map-side combined /
# AQE-planned), and the final per-source agg.
# Hash-stability: the quality signal is carried as exact integer sums
# (punct chars / total chars) plus a ppm rate via integer floor division —
# no avg(double) in the gated projection. Integer sums also remove the
# float-summation-order hazard a distributed avg() has by construction.
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.functions.text import punct_chars

    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("content_hash"),
        token_count(F.col("text")).alias("n_tokens"),
        punct_chars(F.col("text")).cast("long").alias("n_punct"),
        F.length("text").cast("long").alias("n_chars"),
    )
    dupes = (
        hashed.groupBy("content_hash")
        .agg(F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )
    return (
        hashed.join(F.broadcast(dupes), "content_hash", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum(
                F.when(F.col("n_copies").isNotNull(), 1).otherwise(0)
            ).alias("n_in_dup_groups"),
            F.sum("n_punct").alias("punct_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
        .withColumn(
            "punct_ppm", F.expr("punct_chars * 1000000L div total_chars")
        )
    )


CORPUS_REPORT_SQL = f"""
WITH hashed AS (
  SELECT doc_id, source, md5(text) AS content_hash,
         {_N_TOKENS_SQL} AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g'))
           AS n_punct,
         length(text) AS n_chars
  FROM documents
), dupes AS (
  SELECT content_hash, count(*) AS n_copies
  FROM hashed GROUP BY content_hash HAVING count(*) > 1
)
SELECT h.source,
       count(*) AS n_docs,
       CAST(sum(h.n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN d.content_hash IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_in_dup_groups,
       CAST(sum(h.n_punct) AS BIGINT) AS punct_chars,
       CAST(sum(h.n_chars) AS BIGINT) AS total_chars,
       CAST((sum(h.n_punct) * 1000000) // sum(h.n_chars) AS BIGINT)
         AS punct_ppm
FROM hashed h LEFT JOIN dupes d USING (content_hash)
GROUP BY h.source
"""
# ^ BIGINT casts on every sum-derived column: DuckDB sum(<integer>) is
# HUGEINT and fetchdf() turns HUGEINT into float64, which hash-mismatches
# Spark's exact longs. Guarded by tests/test_oracle_types.py.


# --- fuzzy record linkage: sorted-neighborhood edit-distance matching -------
# Entity resolution via the sorted-neighborhood method (SNM, Hernandez &
# Stolfo SIGMOD '95): totally order names, compare each record only with
# its next `_SNM_WINDOW` neighbors, then VERIFY candidates with exact
# Levenshtein. Candidate count is N * window — LINEAR in the relation by
# construction (asserted in tests/test_operators.py), replacing the r4
# last-token blocking whose 8-value key produced ~25M candidates at sf0.1
# and O(N^2) growth. A length-difference prefilter (Levenshtein lower
# bound) rejects candidates before the O(len^2) distance runs, and the
# Spark side passes the distance threshold to `levenshtein` for early
# termination. Both engines implement classic edit distance and the same
# deterministic (p_name, p_partkey) order, so the oracle is exact.
_FUZZY_MAX_DIST = 3
_SNM_WINDOW = 10


def fuzzy_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.linkage import (
        length_prefilter,
        sorted_neighborhood_pairs,
    )

    parts = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    cands = sorted_neighborhood_pairs(
        parts, key="p_name", id_col="p_partkey", window=_SNM_WINDOW
    )
    return (
        cands.filter(
            length_prefilter(F.col("p_name_a"), F.col("p_name_b"), _FUZZY_MAX_DIST)
        )
        .withColumn(
            "dist", F.levenshtein("p_name_a", "p_name_b", _FUZZY_MAX_DIST)
        )
        .filter((F.col("dist") >= 0) & (F.col("dist") <= _FUZZY_MAX_DIST))
        .select(
            F.col("p_partkey_a").alias("id_a"),
            F.col("p_partkey_b").alias("id_b"),
            "dist",
        )
    )


FUZZY_PART_SQL = f"""
WITH r AS (
  SELECT p_partkey, p_name,
         row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rn
  FROM part
)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       levenshtein(a.p_name, b.p_name) AS dist
FROM r a JOIN r b
  ON b.rn > a.rn AND b.rn <= a.rn + {_SNM_WINDOW}
WHERE abs(length(a.p_name) - length(b.p_name)) <= {_FUZZY_MAX_DIST}
  AND levenshtein(a.p_name, b.p_name) <= {_FUZZY_MAX_DIST}
"""


# --- small-file compaction (operators/compact.py) ---------------------------
# The maintenance op every incremental writer eventually owes: the gate
# reproduces the small-file leak deliberately (events rewritten as 64
# fragments — the measured partitionBy/streaming-sink failure mode),
# bin-packs it shuffle-free to ~4 MB files via coalesce, and aggregates
# from the COMPACTED copy. The oracle aggregates the original table:
# equality proves compaction moved bytes, not values. File-count and
# shuffle-free pins live in tests/test_modern.py; both artifacts build
# once per sf_dir (the repository build->reuse contract).
def compaction_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.operators.compact import compact_parquet
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_compact_", sf_dir)
    frag = os.path.join(base, "frag")
    packed = os.path.join(base, "packed")
    events = load_table(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(packed, "_SUCCESS")):
        events.repartition(64).write.mode("overwrite").parquet(frag)
        compact_parquet(spark, frag, packed, target_bytes=4 << 20)
    back = spark.read.schema(events.schema).parquet(packed)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        back.select("event_type", cents.alias("_c"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("_c").cast("bigint").alias("value_cents"),
        )
    )


COMPACTION_STATS_SQL = """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS value_cents
FROM events GROUP BY event_type
"""


# --- partition-scoped in-place compaction (operators/compact.py) ------------
# The selective-maintenance twin of compaction_event_stats: a
# hive-partitioned events table is staged with the partitionBy
# small-file leak in every leaf (8 writer tasks x every event_type
# partition), then ONLY every other partition is compacted in place —
# the `OPTIMIZE ... WHERE` shape whose cost at 100 TB is proportional
# to the partitions touched (the streaming sink's last hour), never the
# table. A sidecar records the untouched leaves' exact (file, bytes)
# listing at maintenance time; EVERY invocation re-verifies that
# compacted leaves stay at their bin-pack ceiling and untouched leaves
# are byte-identical, and RAISES otherwise. Oracle: the same aggregate
# over the original unpartitioned table — equality proves in-place
# maintenance moved bytes, not values.
def partition_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from linqonsteroids_spark.operators.compact import (
        compact_partitions_in_place,
    )
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_pcompact_", sf_dir)
    table = os.path.join(base, "events_by_type")
    sidecar = os.path.join(base, "_maintenance.json")

    def leaf_listing(leaf: str) -> list[tuple[str, int]]:
        d = os.path.join(table, leaf)
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith((".", "_"))
        )

    events = load_table(spark, sf_dir, "events")
    if not os.path.exists(sidecar):
        (
            events.repartition(8)
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(table)
        )
        leaves = sorted(d for d in os.listdir(table) if "=" in d)
        selected = leaves[::2]
        untouched = [l for l in leaves if l not in selected]
        report = compact_partitions_in_place(
            spark, table, selected, target_bytes=2 << 20
        )
        state = {
            "selected": {l: report[l]["files_after"] for l in selected},
            "untouched": {l: leaf_listing(l) for l in untouched},
            "report": report,
        }
        with open(sidecar, "w") as fh:
            json.dump(state, fh)
    with open(sidecar) as fh:
        state = json.load(fh)
    for leaf, stats in state["report"].items():
        # strict shrinkage only where there was anything to shrink: a
        # sparse leaf staged as a single file legitimately compacts 1→1
        if stats["files_after"] > stats["files_before"] or (
            stats["files_before"] > 1
            and stats["files_after"] >= stats["files_before"]
        ):
            raise RuntimeError(
                f"in-place compaction did not shrink {leaf}: {stats}"
            )
    for leaf, n_after in state["selected"].items():
        now = len(leaf_listing(leaf))
        if now != n_after:
            raise RuntimeError(
                f"compacted partition {leaf} drifted: {now} files vs "
                f"{n_after} at maintenance time"
            )
    for leaf, listing in state["untouched"].items():
        now = [list(t) for t in leaf_listing(leaf)]
        if now != listing:
            raise RuntimeError(
                f"UNTOUCHED partition {leaf} was modified by selective "
                f"maintenance: {now} vs {listing}"
            )
    back = spark.read.schema(events.drop("event_type").schema).parquet(table)
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("bigint")
    return (
        back.select("event_type", "user_id", cents.alias("_c"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("_c").cast("bigint").alias("value_cents"),
        )
    )


PARTITION_COMPACTION_SQL = """
SELECT event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS BIGINT) AS value_cents
FROM events GROUP BY event_type
"""


# --- deterministic content-hash sampling (r11) ------------------------------
# TABLESAMPLE is the wrong tool for a training pipeline: it is
# partition-dependent (a different cluster size samples a different
# subset), non-reproducible run to run, and impossible to oracle.
# Hash-threshold sampling fixes all three: a row is in the sample iff
# md5(key) falls below the cut, so the SAME rows are selected on any
# engine, any partitioning, any rerun — and downstream joins over two
# tables sampled by the same key stay consistent (co-sampling). The
# ~16% cut here is the first 8 hex chars < '28f5c28f' (0.16 of the
# 32-bit space); the predicate is scan-level, no shuffle added.
def deterministic_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    sampled = orders.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8)
        < "28f5c28f"
    )
    return sampled.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_sampled"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


DETERMINISTIC_SAMPLE_SQL = """
SELECT o_orderstatus, count(*) AS n_sampled,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       min(o_orderkey) AS min_key,
       max(o_orderkey) AS max_key
FROM orders
WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8) < '28f5c28f'
GROUP BY o_orderstatus
"""


# --- exact fuzzy matching: deletion-neighborhood edit-distance join (r12) ---
# The k<=1 rung of the fuzzy ladder that sorted-neighborhood
# (fuzzy_part_pairs) cannot promise: SNM's window trades recall for its
# linear candidate bound, while the SymSpell deletion-neighborhood block
# key is LOSSLESS — every pair within one edit shares a neighborhood
# element, so one O(N*L)-row equi-join finds them all, verified by a
# single exact levenshtein per candidate. The oracle replays the full
# quadratic definition declaratively; equality proves the blocking lost
# nothing. Output is the neighbor-count histogram (bounded, scalar-only).
def fuzzy_name_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.linkage import (
        deletion_neighborhood_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    pairs = deletion_neighborhood_pairs(cust, "c_name")
    per_name = (
        pairs.select(F.explode(F.array("a", "b")).alias("name"))
        .groupBy("name")
        .agg(F.count("*").cast("bigint").alias("n_neighbors"))
    )
    return per_name.groupBy("n_neighbors").agg(
        F.count("*").cast("bigint").alias("n_names")
    )


FUZZY_NEIGHBORS_SQL = """
WITH names AS (SELECT DISTINCT c_name FROM customer),
pairs AS (
  SELECT a.c_name AS x, b.c_name AS y
  FROM names a JOIN names b ON a.c_name < b.c_name
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
per_name AS (
  SELECT name, CAST(count(*) AS BIGINT) AS n_neighbors
  FROM (SELECT x AS name FROM pairs UNION ALL SELECT y AS name FROM pairs)
  GROUP BY name
)
SELECT n_neighbors, CAST(count(*) AS BIGINT) AS n_names
FROM per_name GROUP BY n_neighbors
"""


# --- lossless fuzzy join, exact-distance-2 tier (r13) -----------------------
# The k=2 rung of the fuzzy ladder: deletion neighborhoods of depth 2
# (SymSpell/FastSS — delete up to TWO characters per side), still
# provably lossless with one exact levenshtein verify, still one
# equi-join, variants ~C(L,2) per string — the right trade for short
# join keys; beyond k=2 the banded dedup operators take over. Oracle
# replays the quadratic definition (levenshtein <= 2 over all pairs).
# The gate samples every 20th customer: TPC-H names are SEQUENTIAL ids,
# the densest possible distance-2 neighborhoods (every id has hundreds
# of <=2-digit-edit neighbors), so the full table's TRUE pair set —
# which any lossless method must emit — grows superlinearly in this
# data; the sample keeps the gate a correctness check rather than a
# worst-case-data endurance run (measured 248 s at sf0.1 unsampled,
# all of it in the true-pair verify/emit, not the blocking).
def fuzzy_name_neighbors_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.linkage import (
        deletion_neighborhood_pairs,
    )

    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 20 == 0
    )
    pairs = deletion_neighborhood_pairs(cust, "c_name", k=2)
    per_name = (
        pairs.select(F.explode(F.array("a", "b")).alias("name"))
        .groupBy("name")
        .agg(F.count("*").cast("bigint").alias("n_neighbors"))
    )
    return per_name.groupBy("n_neighbors").agg(
        F.count("*").cast("bigint").alias("n_names")
    )


FUZZY_NEIGHBORS_K2_SQL = """
WITH names AS (SELECT DISTINCT c_name FROM customer WHERE c_custkey % 20 = 0),
pairs AS (
  SELECT a.c_name AS x, b.c_name AS y
  FROM names a JOIN names b ON a.c_name < b.c_name
  WHERE levenshtein(a.c_name, b.c_name) <= 2
),
per_name AS (
  SELECT name, CAST(count(*) AS BIGINT) AS n_neighbors
  FROM (SELECT x AS name FROM pairs UNION ALL SELECT y AS name FROM pairs)
  GROUP BY name
)
SELECT n_neighbors, CAST(count(*) AS BIGINT) AS n_names
FROM per_name GROUP BY n_neighbors
"""


# --- snapshot reconciliation: row-level diff of two table versions (r12) ----
# CDC consumes a KNOWN change feed; reconciliation answers the inverse
# maintenance question — two arbitrary snapshots (replica vs source,
# pre- vs post-migration), what changed. The operator shuffles only
# (key, xxhash64 digest) pairs — never row payloads — through one
# full-outer join (operators/tablediff.py). The gate derives v2 from a
# two-column v1 deterministically so both engines build the same pair of
# snapshots: delete keys %97, bump `op` with '*' on %89, insert
# key-shifted copies of %101, and — the r13 addition, exercising the
# r12 verdict's confirmed null-skip blind spot — for keys %103 the
# status value sits in `op` with `clk` NULL in v1, and MOVES to `clk`
# with `op` NULL in v2: Spark's raw xxhash64 (null-skipping) digests
# both sides identically, so only a null-position-aware digest
# classifies these 'changed'. The oracle classifies by direct NULL-SAFE
# column comparison (IS DISTINCT FROM), proving the digest path
# equivalent to value semantics including the null-swap class.
def _snapshot_diff_versions(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    v1 = orders.select(
        "o_orderkey",
        F.when(key % 103 == 0, F.col("o_orderstatus"))
        .otherwise(F.col("o_orderpriority"))
        .alias("op"),
        F.when(key % 103 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderstatus"))
        .alias("clk"),
    )
    survivors = v1.where(key % 97 != 0).select(
        "o_orderkey",
        F.when(key % 103 == 0, F.lit(None).cast("string"))
        .when(key % 89 == 0, F.concat(F.col("op"), F.lit("*")))
        .otherwise(F.col("op"))
        .alias("op"),
        F.when(key % 103 == 0, F.col("op"))
        .otherwise(F.col("clk"))
        .alias("clk"),
    )
    inserts = v1.where(key % 101 == 0).withColumn(
        "o_orderkey", key + F.lit(100000000)
    )
    return v1, survivors.unionByName(inserts)


def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.tablediff import snapshot_diff

    v1, v2 = _snapshot_diff_versions(spark, sf_dir)
    diff = snapshot_diff(v1, v2, ["o_orderkey"])
    return diff.groupBy("change_type").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


_SNAPSHOT_VERSIONS_CTE = """
v1 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 103 = 0 THEN o_orderstatus
              ELSE o_orderpriority END AS op,
         CASE WHEN o_orderkey % 103 = 0 THEN NULL
              ELSE o_orderstatus END AS clk
  FROM orders
),
v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 103 = 0 THEN NULL
              WHEN o_orderkey % 89 = 0 THEN v1.op || '*'
              ELSE v1.op END AS op,
         CASE WHEN o_orderkey % 103 = 0 THEN v1.op
              ELSE v1.clk END AS clk
  FROM v1 WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000 AS o_orderkey, v1.op, v1.clk
  FROM v1 WHERE o_orderkey % 101 = 0
)
"""

SNAPSHOT_DIFF_SQL = f"""
WITH {_SNAPSHOT_VERSIONS_CTE},
d AS (
  SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added'
              WHEN v2.o_orderkey IS NULL THEN 'removed'
              WHEN (v1.op IS DISTINCT FROM v2.op)
                OR (v1.clk IS DISTINCT FROM v2.clk) THEN 'changed'
         END AS change_type,
         COALESCE(v1.o_orderkey, v2.o_orderkey) AS k
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT change_type, CAST(count(*) AS BIGINT) AS n_keys,
       min(k) AS min_key, max(k) AS max_key
FROM d WHERE change_type IS NOT NULL GROUP BY change_type
"""


# --- snapshot diff: WHICH columns changed (r13) -----------------------------
# The reconciliation question users ask after WHAT changed: which
# columns. operators/tablediff.py's snapshot_diff_columns compares
# per-column digests inside the SAME full-outer join — the shuffle still
# carries only (key, digests), never payloads. The gate reuses the
# versioned-snapshot derivation above (null-swap cohort included: those
# rows must report BOTH columns changed, since the value left `op` and
# appeared in `clk`); the oracle derives the changed-column set by
# direct null-safe comparison per column.
def snapshot_diff_changed_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.tablediff import (
        snapshot_diff_columns,
    )

    v1, v2 = _snapshot_diff_versions(spark, sf_dir)
    diff = snapshot_diff_columns(v1, v2, ["o_orderkey"])
    return diff.groupBy(
        "change_type",
        F.array_join(F.col("changed_columns"), ",").alias("cols_changed"),
    ).agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.min("o_orderkey").alias("min_key"),
    )


# --- hierarchical snapshot diff: bucket digests first (r13) -----------------
# The flat diff shuffles every key's (key, digest) pair even when almost
# nothing changed — and reconciliation runs are mostly confirmations. The
# bucketed variant first reduces each side to n_buckets (bit_xor-of-
# digests, count) rows, joins those summaries, and runs the row-level
# full-outer join ONLY over the disagreeing buckets: cost O(changed
# partition of the table), the incremental-maintenance shape. The gate
# reuses the versioned-snapshot derivation (null-swap cohort included)
# and must produce EXACTLY the flat gate's classification — its oracle
# is the same null-safe direct-comparison SQL, so the driver proves the
# two-level pruning drops nothing.
def snapshot_diff_bucketed_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from linqonsteroids_spark.operators.tablediff import (
        snapshot_diff_bucketed,
    )

    v1, v2 = _snapshot_diff_versions(spark, sf_dir)
    diff, _changed, _n = snapshot_diff_bucketed(
        v1, v2, ["o_orderkey"], n_buckets=64
    )
    return diff.groupBy("change_type").agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --- persisted digest-manifest drift audit (r13) ----------------------------
# The temporal leg of reconciliation: write_digest_manifest persists the
# bucket-summary (KB-sized, one scan) so a LATER audit detects drift
# WITHOUT the old snapshot. The gate writes v1's manifest once per
# sf_dir (cached-scratch discipline), audits v2 against it, and reports
# (clean, n_changed_buckets, row_delta). Buckets here are o_orderkey %
# 64 (the bucket_expr hook) precisely so DuckDB can replay bucket
# membership: the oracle recomputes which buckets contain a differing
# key by direct null-safe comparison — equality proves the xor-digest
# localization exact on this data.
def digest_manifest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.operators.tablediff import (
        audit_against_manifest,
        write_digest_manifest,
    )
    from linqonsteroids_spark.session import cached_scratch_dir

    v1, v2 = _snapshot_diff_versions(spark, sf_dir)
    path = os.path.join(
        cached_scratch_dir("squopt_digestman_", sf_dir), "orders_v1"
    )
    bucket = F.pmod(F.col("o_orderkey"), F.lit(64))
    if not os.path.exists(
        os.path.join(path, "_DIGEST_MANIFEST.json")
    ):
        write_digest_manifest(
            v1, path, ["o_orderkey"], n_buckets=64, bucket_expr=bucket
        )
    report = audit_against_manifest(v2, path, bucket_expr=bucket)
    return spark.createDataFrame(
        [
            (
                int(report["clean"]),
                len(report["changed_buckets"]),
                report["row_delta"],
            )
        ],
        "clean bigint, n_changed_buckets bigint, row_delta bigint",
    )


DIGEST_MANIFEST_SQL = f"""
WITH {{versions}},
d AS (
  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
         CASE WHEN v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
               OR (v1.op IS DISTINCT FROM v2.op)
               OR (v1.clk IS DISTINCT FROM v2.clk)
              THEN 1 ELSE 0 END AS chg
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT CAST(0 AS BIGINT) AS clean,
       CAST(count(DISTINCT k % 64) FILTER (WHERE chg = 1) AS BIGINT)
         AS n_changed_buckets,
       CAST((SELECT count(*) FROM v2) - (SELECT count(*) FROM v1)
         AS BIGINT) AS row_delta
FROM d
""".format(versions=_SNAPSHOT_VERSIONS_CTE)


# --- incremental digest-manifest maintenance (r13) --------------------------
# The manifest IVM: given a KNOWN change set (here derived by
# snapshot_diff itself — dogfooding; in production a CDC feed's
# before/after images), per-bucket xor/count update in O(|changes|)
# must equal the full-rescan summary BY ALGEBRA (xor is its own
# inverse). The gate builds v1's manifest, applies the v1->v2 change
# set incrementally, and reports: the STALE manifest's changed-bucket
# count against v2 (oracle recomputes it declaratively), the updated
# manifest's audit verdict (1 iff incremental == rescan — a wrong
# update makes Spark emit 0 and the gate go red), and the row delta.
def digest_manifest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from linqonsteroids_spark.operators.tablediff import (
        audit_against_manifest,
        snapshot_diff,
        update_digest_manifest,
        write_digest_manifest,
    )
    from linqonsteroids_spark.session import cached_scratch_dir

    v1, v2 = _snapshot_diff_versions(spark, sf_dir)
    # materialized once each: v1 feeds the diff + the before-image semi
    # join, v2 feeds two audits + the diff + the after-image semi join —
    # each execution re-scans orders (twice for v2, a two-branch union)
    v1 = materialize(v1, "digest_manifest_incremental: v1")
    v2 = materialize(v2, "digest_manifest_incremental: v2")
    bucket = F.pmod(F.col("o_orderkey"), F.lit(64))
    stale = os.path.join(
        cached_scratch_dir("squopt_digestinc_", sf_dir), "v1_manifest"
    )
    live = stale + "_updated"
    if not os.path.exists(os.path.join(stale, "_DIGEST_MANIFEST.json")):
        write_digest_manifest(
            v1, stale, ["o_orderkey"], n_buckets=64, bucket_expr=bucket
        )
    stale_report = audit_against_manifest(v2, stale, bucket_expr=bucket)
    # the change set, derived by the diff operator itself — materialized
    # once: its full-outer join would otherwise re-execute per broadcast
    # (the removed- and added-key sets below)
    diff = materialize(
        snapshot_diff(v1, v2, ["o_orderkey"]), "digest_manifest_incremental: diff"
    )
    removed_or_changed = diff.where(
        F.col("change_type").isin("removed", "changed")
    ).select("o_orderkey")
    added_or_changed = diff.where(
        F.col("change_type").isin("added", "changed")
    ).select("o_orderkey")
    if os.path.isdir(live):
        shutil.rmtree(live)
    shutil.copytree(stale, live)
    update_digest_manifest(
        live,
        before=v1.join(F.broadcast(removed_or_changed), "o_orderkey", "left_semi"),
        after=v2.join(F.broadcast(added_or_changed), "o_orderkey", "left_semi"),
        bucket_expr=bucket,
    )
    updated_report = audit_against_manifest(v2, live, bucket_expr=bucket)
    return spark.createDataFrame(
        [
            (
                len(stale_report["changed_buckets"]),
                int(updated_report["clean"]),
                stale_report["row_delta"],
            )
        ],
        "stale_changed_buckets bigint, clean_after_update bigint, "
        "row_delta bigint",
    )


DIGEST_INC_SQL = f"""
WITH {{versions}},
d AS (
  SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS k,
         CASE WHEN v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
               OR (v1.op IS DISTINCT FROM v2.op)
               OR (v1.clk IS DISTINCT FROM v2.clk)
              THEN 1 ELSE 0 END AS chg
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT CAST(count(DISTINCT k % 64) FILTER (WHERE chg = 1) AS BIGINT)
         AS stale_changed_buckets,
       CAST(1 AS BIGINT) AS clean_after_update,
       CAST((SELECT count(*) FROM v2) - (SELECT count(*) FROM v1)
         AS BIGINT) AS row_delta
FROM d
""".format(versions=_SNAPSHOT_VERSIONS_CTE)


SNAPSHOT_DIFF_COLS_SQL = f"""
WITH {_SNAPSHOT_VERSIONS_CTE},
d AS (
  SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added'
              WHEN v2.o_orderkey IS NULL THEN 'removed'
              WHEN (v1.op IS DISTINCT FROM v2.op)
                OR (v1.clk IS DISTINCT FROM v2.clk) THEN 'changed'
         END AS change_type,
         CASE WHEN v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL THEN ''
              WHEN (v1.clk IS DISTINCT FROM v2.clk)
               AND (v1.op IS DISTINCT FROM v2.op) THEN 'clk,op'
              WHEN v1.clk IS DISTINCT FROM v2.clk THEN 'clk'
              WHEN v1.op IS DISTINCT FROM v2.op THEN 'op'
              ELSE '' END AS cols_changed,
         COALESCE(v1.o_orderkey, v2.o_orderkey) AS k
  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
)
SELECT change_type, cols_changed, CAST(count(*) AS BIGINT) AS n_keys,
       min(k) AS min_key
FROM d WHERE change_type IS NOT NULL GROUP BY change_type, cols_changed
"""


# --- merge-on-read table: versioned delta log reconstructed at read (r12) ---
# The write-optimized complement of merge_into_balances' copy-on-write
# MERGE: appends land as O(|delta|) log files, the base is never
# rewritten, and operators/mor.py's reader resolves latest-version-wins
# — routing the untouched majority of the base through a broadcast ANTI
# probe (no shuffle, no window) and only delta-touched keys through the
# version window. The gate stages orders as the base plus TWO delta
# versions exercising every transition: update (v1 '*'), delete (v1),
# update-over-update (v2 '**' wins over v1 '*'), and delete-then-upsert
# resurrection (v2 '+' revives a v1-deleted key). The oracle replays the
# same final state declaratively via modulus CASE logic — equality
# proves last-wins resolution across versions. (%178 = 2*89 keys get
# both v1 and v2 updates; %194 = 2*97 keys are deleted by v1 then
# upserted by v2.)
def _mor_orders_table(spark: SparkSession, sf_dir: str):
    """Build-once MOR orders table shared by the read and time-travel
    gates: base + delta v1 (update %89, delete %97) + delta v2
    (update-over-update %178, delete-then-upsert resurrection %194)."""
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_mor_", sf_dir)
    table = MorTable(spark, os.path.join(base, "orders_mor"), "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(os.path.join(base, "orders_mor", "base", "_SUCCESS")):
        table.write_base(orders)
        table.append_delta(
            1,
            upserts=orders.where((key % 89 == 0) & (key % 97 != 0)).withColumn(
                "o_orderpriority", F.concat(F.col("o_orderpriority"), F.lit("*"))
            ),
            delete_keys=orders.where(key % 97 == 0).select("o_orderkey"),
        )
        table.append_delta(
            2,
            upserts=orders.where(key % 178 == 0)
            .withColumn(
                "o_orderpriority", F.concat(F.col("o_orderpriority"), F.lit("**"))
            )
            .unionByName(
                orders.where((key % 194 == 0) & (key % 178 != 0)).withColumn(
                    "o_orderpriority",
                    F.concat(F.col("o_orderpriority"), F.lit("+")),
                )
            ),
        )
    return table


def _mor_priority_report(df: DataFrame) -> DataFrame:
    return df.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("price_cents"),
    )


def mor_read_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mor_priority_report(_mor_orders_table(spark, sf_dir).read())


# --- MOR time travel: read as-of a delta version (r13) ----------------------
# The delta log IS the history: read(as_of_version=1) applies only
# versions <= 1, reconstructing the table exactly as it stood after v1
# committed — no extra storage, Hive partition pruning on mor_v skips
# later versions' files, and compaction bounds the horizon (the fold
# discards the log) exactly as in Hudi/Iceberg MOR. The oracle replays
# the v1-only state declaratively: %97 deletes applied, '*' on the
# %89 survivors, v2's '**'/'+' mutations absent.
def mor_time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mor_priority_report(
        _mor_orders_table(spark, sf_dir).read(as_of_version=1)
    )


MOR_TIME_TRAVEL_SQL = """
WITH v1_state AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0 THEN o_orderpriority || '*'
              ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents
FROM v1_state GROUP BY o_orderpriority
"""


MOR_READ_SQL = """
WITH final AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 178 = 0 THEN o_orderpriority || '**'
              WHEN o_orderkey % 194 = 0 THEN o_orderpriority || '+'
              WHEN o_orderkey % 89 = 0 THEN o_orderpriority || '*'
              ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders
  WHERE o_orderkey % 97 <> 0 OR o_orderkey % 178 = 0 OR o_orderkey % 194 = 0
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents
FROM final GROUP BY o_orderpriority
"""


# --- MOR schema evolution: deltas add/omit nullable columns (r14) -----------
# Real ingest adds nullable columns; operators/mor.py accepts a delta
# carrying a SUBSET of the table's columns (whole-row replacement, the
# absent columns null-padded) or a SUPERSET (new nullable columns,
# visible from the version that introduced them), refusing only type
# changes via the schema_compat verdicts. The gate drives BOTH read
# paths over one evolved table: v1 is a subset upsert (key + starred
# priority only, so every other column of a %89 row goes NULL — row
# replacement, not patch), v2 a superset upsert (full %101 rows plus a
# new o_memo column). The latest view groups by the NEW column and
# must carry exactly ONE column beyond the base schema; the as-of-v1
# view must carry the OLD schema unchanged (later versions' column
# additions don't exist in the included files) — pinned as an
# n_added_cols output the oracle states literally. %89·%101 overlaps
# resolve last-wins to v2.
def _mor_evolution_table(spark: SparkSession, sf_dir: str):
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_morevo_", sf_dir)
    table = MorTable(spark, os.path.join(base, "orders_evo"), "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(os.path.join(base, "orders_evo", "base", "_SUCCESS")):
        table.write_base(orders)
        table.append_delta(
            1,
            upserts=orders.where(key % 89 == 0).select(
                "o_orderkey",
                F.concat(F.col("o_orderpriority"), F.lit("*")).alias(
                    "o_orderpriority"
                ),
            ),
        )
        table.append_delta(
            2,
            upserts=orders.where(key % 101 == 0).withColumn(
                "o_memo", F.lit("M2")
            ),
        )
    return table


def mor_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _mor_evolution_table(spark, sf_dir)
    base_cols = load_table(spark, sf_dir, "orders").columns
    latest = table.read()
    asof = table.read(as_of_version=1)
    price = (
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("price_cents")
    )
    rep_latest = (
        latest.groupBy("o_memo")
        .agg(F.count("*").cast("bigint").alias("n_orders"), price)
        .withColumn("view", F.lit("latest"))
        .withColumn(
            "n_added_cols",
            F.lit(len(latest.columns) - len(base_cols)).cast("int"),
        )
    )
    rep_asof = (
        asof.agg(F.count("*").cast("bigint").alias("n_orders"), price)
        .withColumn("o_memo", F.lit(None).cast("string"))
        .withColumn("view", F.lit("asof_v1"))
        .withColumn(
            "n_added_cols",
            F.lit(len(asof.columns) - len(base_cols)).cast("int"),
        )
    )
    return rep_latest.unionByName(rep_asof)


MOR_EVOLUTION_SQL = """
WITH latest AS (
  SELECT CASE WHEN o_orderkey % 101 = 0 THEN 'M2' END AS o_memo,
         CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice
              WHEN o_orderkey % 89 = 0 THEN NULL
              ELSE o_totalprice END AS price
  FROM orders
),
lrep AS (
  SELECT o_memo, CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(price AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS price_cents,
         'latest' AS view, 1 AS n_added_cols
  FROM latest GROUP BY o_memo
),
arep AS (
  SELECT CAST(NULL AS VARCHAR) AS o_memo,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CASE WHEN o_orderkey % 89 = 0 THEN NULL
                       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END) * 100
              AS BIGINT) AS price_cents,
         'asof_v1' AS view, 0 AS n_added_cols
  FROM orders
)
SELECT * FROM lrep UNION ALL SELECT * FROM arep
"""


# --- MOR x digest manifest: reconciliation rides the table format (r14) -----
# r13 shipped the digest-manifest reconciliation sidecar and the MOR
# table as separate worlds, leaving the operational gap "keep a
# manifest current" as a caller scan discipline. With
# digest_manifest=True the sidecar rides the table's own writes:
# write_base summarizes the snapshot once, every append_delta applies
# exactly its before/after images as an O(changes) incremental update
# (the before-image is the pre-append state of the touched keys — one
# broadcast-semi-filtered read, no full shuffle), and compact leaves
# the manifest untouched because the LOGICAL state didn't change. The
# gate exercises the full append→compact→append lifecycle — including
# a delete-then-upsert resurrection ACROSS the compaction boundary —
# then audits the live table against the manifest: clean=1,
# changed_buckets=0, row_delta=0, alongside the final-state aggregate
# the oracle replays declaratively.
def mor_manifest_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.operators.tablediff import (
        audit_against_manifest,
    )
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_mormani_", sf_dir)
    path = os.path.join(base, "orders_mani")
    table = MorTable(
        spark, path, "o_orderkey", digest_manifest=True, manifest_buckets=64
    )
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(os.path.join(path, "base", "_SUCCESS")):
        table.write_base(orders)
        table.append_delta(
            1,
            upserts=orders.where((key % 89 == 0) & (key % 97 != 0)).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("*")),
            ),
            delete_keys=orders.where(key % 97 == 0).select("o_orderkey"),
        )
        table.compact()
        table.append_delta(
            2,
            upserts=orders.where(key % 178 == 0).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("**")),
            ),
        )
    # ONE base+deltas merge feeds both the audit and the final
    # aggregate — table.read() re-executes the last-wins window per
    # consumer otherwise
    snap = materialize(table.read(), "mor_manifest_reconciliation: snapshot")
    audit = audit_against_manifest(snap, path)
    return (
        snap
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumn(
            "audit_clean", F.lit(int(audit["clean"])).cast("int")
        )
        .withColumn(
            "n_changed_buckets",
            F.lit(len(audit["changed_buckets"])).cast("int"),
        )
        .withColumn(
            "row_delta", F.lit(audit["row_delta"]).cast("bigint")
        )
    )


MOR_MANIFEST_SQL = """
WITH final AS (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_orderkey % 97 <> 0 OR o_orderkey % 178 = 0
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       1 AS audit_clean, 0 AS n_changed_buckets,
       CAST(0 AS BIGINT) AS row_delta
FROM final
"""


# --- MOR change feed: the delta log read back as CDC (r14) ------------------
# operators/mor.py::changes(from, to): one row per key whose state
# differs between the two as-of checkpoints — insert/update carry the
# post-image, delete carries the PRE-image, and a delete-then-upsert
# inside the window collapses to its net effect. The delta log IS the
# feed (Delta's CDF pays a _change_data copy per commit for the same
# answer); cost is O(touched keys) — the log window shuffles only
# touched keys, the pre-state leg is a broadcast-semi-filtered as-of
# read, never a full-table diff. The gate reads BOTH windows of the
# shared MOR fixture and aggregates per (window, change_type); the
# oracle replays the modulus classification declaratively, including
# the corner where v2 upserts keys v1 had DELETED (%178∩%97 and %194
# keys): absent at v1, so they are INSERTS with v2's payload.
def mor_change_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _mor_orders_table(spark, sf_dir)

    def rep(df: DataFrame, win: str) -> DataFrame:
        return (
            df.groupBy("_change_type")
            .agg(
                F.count("*").cast("bigint").alias("n_keys"),
                F.min("o_orderkey").alias("min_key"),
                F.max("o_orderkey").alias("max_key"),
                (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
                .cast("bigint")
                .alias("price_cents"),
            )
            .withColumnRenamed("_change_type", "change_type")
            .withColumn("win", F.lit(win))
        )

    return rep(table.changes(0, 1), "base_to_v1").unionByName(
        rep(table.changes(1, 2), "v1_to_v2")
    )


MOR_CHANGE_FEED_SQL = """
WITH w1 AS (
  SELECT 'base_to_v1' AS win,
         CASE WHEN o_orderkey % 97 = 0 THEN 'delete'
              ELSE 'update' END AS change_type,
         o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0 OR o_orderkey % 89 = 0
),
w2 AS (
  SELECT 'v1_to_v2' AS win,
         CASE WHEN o_orderkey % 178 = 0 AND o_orderkey % 97 <> 0
              THEN 'update' ELSE 'insert' END AS change_type,
         o_orderkey, o_totalprice
  FROM orders WHERE o_orderkey % 178 = 0 OR o_orderkey % 194 = 0
)
SELECT win, change_type, CAST(count(*) AS BIGINT) AS n_keys,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents
FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2)
GROUP BY win, change_type
"""


# --- MOR row provenance (r14) ------------------------------------------------
# read(with_provenance=True) appends _last_version — the delta version
# that last wrote each row, 0 for untouched base — the Hudi
# _hoodie_commit_time / Delta CDF _commit_version answer to "which
# ingest batch wrote this row", free because the resolution window
# already carries the winning version. The gate reports per
# (_last_version, priority-suffix class) counts over the shared MOR
# fixture; the oracle derives the winning version from the same
# modulus logic (v2 wins %178 and %194, v1 wins the remaining
# %89-not-%97, everything else untouched base).
def mor_provenance_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _mor_orders_table(spark, sf_dir)
    return (
        table.read(with_provenance=True)
        .groupBy("_last_version")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumnRenamed("_last_version", "last_version")
    )


MOR_PROVENANCE_SQL = """
WITH final AS (
  SELECT CASE WHEN o_orderkey % 178 = 0 OR o_orderkey % 194 = 0 THEN 2
              WHEN o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0 THEN 1
              ELSE 0 END AS last_version,
         o_orderkey, o_totalprice
  FROM orders
  WHERE o_orderkey % 97 <> 0 OR o_orderkey % 178 = 0 OR o_orderkey % 194 = 0
)
SELECT last_version, CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents
FROM final GROUP BY last_version
"""


# --- MOR point lookup via the file-stats manifest (r14) ---------------------
# operators/mor.py::lookup — the SERVING path: the base is written
# range-clustered with a per-file (min, max) key manifest
# (sources/fileindex.py), so a bounded key-list read prunes the file
# list DRIVER-SIDE in one manifest pass and touches O(matching files
# + delta), honoring deletes and recent upserts through the same
# latest-version-wins resolution as read(). At 100 TB a 50-key lookup
# plans a handful of file reads instead of listing the table. The key
# list is derived deterministically (first 50 keys of the %503
# cohort), spanning updated, deleted, and untouched keys; pruning
# effectiveness is pinned in pytest (file counts are data-layout
# facts, not oracle-portable).
def mor_point_lookup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_morlkp_", sf_dir)
    path = os.path.join(base, "orders_lkp")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(os.path.join(path, "base", "_SUCCESS")):
        table.write_base(orders, stats_files=16)
        table.append_delta(
            1,
            upserts=orders.where((key % 89 == 0) & (key % 97 != 0)).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("*")),
            ),
            delete_keys=orders.where(key % 97 == 0).select("o_orderkey"),
        )
    keys = [
        r["o_orderkey"]
        for r in orders.where(key % 503 == 0)
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .limit(50)
        .collect()
    ]
    return table.lookup(keys).select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )


MOR_POINT_LOOKUP_SQL = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0
            THEN o_orderpriority || '*' ELSE o_orderpriority END
         AS o_orderpriority,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         AS price_cents
FROM orders
WHERE o_orderkey % 97 <> 0
  AND o_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderkey % 503 = 0
                     ORDER BY o_orderkey LIMIT 50)
"""


# --- MOR minor (log) compaction (r14) ---------------------------------------
# operators/mor.py::compact_log — the Hudi log-compaction tier: all
# current delta versions fold into ONE net version (last-wins per key,
# delete markers kept) at the highest version number, the 100 TB base
# is never read or rewritten, and read cost returns to O(one delta).
# The gate builds its own orders MOR table (base + the two fixture
# deltas), folds the log, appends a post-fold delete version, and
# reports the final state aggregate plus the surviving log-dir count —
# which the oracle states literally (2: the net + the post-fold
# append), proving the fold actually collapsed the log rather than
# merely reading through it.
def mor_log_compaction_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_morfold_", sf_dir)
    path = os.path.join(base, "orders_fold")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(os.path.join(path, "base", "_SUCCESS")):
        table.write_base(orders)
        table.append_delta(
            1,
            upserts=orders.where((key % 89 == 0) & (key % 97 != 0)).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("*")),
            ),
            delete_keys=orders.where(key % 97 == 0).select("o_orderkey"),
        )
        table.append_delta(
            2,
            upserts=orders.where(key % 178 == 0)
            .withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("**")),
            )
            .unionByName(
                orders.where((key % 194 == 0) & (key % 178 != 0)).withColumn(
                    "o_orderpriority",
                    F.concat(F.col("o_orderpriority"), F.lit("+")),
                )
            ),
        )
        table.compact_log()
        table.append_delta(
            3, delete_keys=orders.where(key % 101 == 0).select("o_orderkey")
        )
    n_log_dirs = len(table._existing_versions())
    return (
        table.read()
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumn("n_log_dirs", F.lit(n_log_dirs).cast("int"))
    )


MOR_LOG_COMPACTION_SQL = """
WITH final AS (
  SELECT CASE WHEN o_orderkey % 178 = 0 THEN o_orderpriority || '**'
              WHEN o_orderkey % 194 = 0 THEN o_orderpriority || '+'
              WHEN o_orderkey % 89 = 0 THEN o_orderpriority || '*'
              ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders
  WHERE (o_orderkey % 97 <> 0 OR o_orderkey % 178 = 0
         OR o_orderkey % 194 = 0)
    AND o_orderkey % 101 <> 0
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       2 AS n_log_dirs
FROM final GROUP BY o_orderpriority
"""


# --- MOR MERGE INTO: SQL merge compiled to one delta append (r14) -----------
# operators/mor.py::merge_into — matched source rows update (or
# delete), unmatched insert (or drop), ONE O(|source|) delta append
# per merge, base never rewritten. Membership costs one column-pruned
# table scan probed against the broadcast source key set; the matched
# key set (bounded by |source|) is materialized so classification
# never re-scans. The gate stages orders-without-%3 as the base, then
# (1) a default update+insert merge of the even keys with '~'-tagged
# priorities — %6 keys are absent from the base, so they exercise the
# NOT MATCHED insert leg — and (2) a matched-delete merge of the %5
# keys, whose absent members (%15 ∩ not-%6) exercise the no-op miss
# leg. Output: final-state aggregate + the three merge stat counters
# (persisted at build time; the oracle derives all of them from the
# same modulus logic).
def mor_merge_into_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_mormerge_", sf_dir)
    path = os.path.join(base, "orders_merge")
    stats_path = os.path.join(base, "merge_stats.json")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(stats_path):
        table.write_base(orders.where(key % 3 != 0))
        s1 = table.merge_into(
            1,
            orders.where(key % 2 == 0).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("~")),
            ),
        )
        s2 = table.merge_into(
            2,
            orders.where(key % 5 == 0),
            when_matched="delete",
            when_not_matched=None,
        )
        with open(stats_path, "w") as f:
            json.dump({"m1": s1, "m2": s2}, f)
    with open(stats_path) as f:
        st = json.load(f)
    return (
        table.read()
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumn(
            "n_updated", F.lit(st["m1"]["updated"]).cast("bigint")
        )
        .withColumn(
            "n_inserted", F.lit(st["m1"]["inserted"]).cast("bigint")
        )
        .withColumn(
            "n_deleted", F.lit(st["m2"]["deleted"]).cast("bigint")
        )
    )


MOR_MERGE_SQL = """
WITH final AS (
  SELECT o_totalprice
  FROM orders
  WHERE (o_orderkey % 3 <> 0 OR o_orderkey % 6 = 0)
    AND o_orderkey % 5 <> 0
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0) AS n_updated,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 6 = 0) AS n_inserted,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 5 = 0
          AND (o_orderkey % 3 <> 0 OR o_orderkey % 6 = 0)) AS n_deleted
FROM final
"""


# --- CDF-driven aggregate MV maintenance (r14) ------------------------------
# The IVM composition the change feed exists for: a (sum, count)
# aggregate MV maintained purely from
# changes(include_preimages=True) — insert/update_postimage add,
# delete/update_preimage retract
# (streaming/incremental.py::apply_cdf_to_agg_mv) — with NO rescan of
# the table. This is the leg IncrementalAggMV (append-only Δ) cannot
# cover: the fixture's v1/v2 updates MOVE orders between priority
# groups (the group key itself mutates), v1 deletes retract, and v2
# resurrects deleted keys; the maintained MV after both windows must
# hash-equal the oracle's from-scratch aggregate of the final state.
# At 100 TB: per-ingest-batch MV maintenance costs O(|changes|) + a
# merge keyed on touched groups, versus a full groupBy of the table.
def mor_cdf_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.streaming.incremental import (
        apply_cdf_to_agg_mv,
    )

    table = _mor_orders_table(spark, sf_dir)
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    mv = (
        table._read_base()
        .withColumn("cents", cents)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cents").alias("price_cents"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )
    for win in ((0, 1), (1, 2)):
        feed = table.changes(*win, include_preimages=True).withColumn(
            "cents", cents
        )
        # window 2 reads window 1's MV once (one merge join side), so
        # the MV stays a lazy plan: each window's delta is materialized
        # inside apply_cdf_to_agg_mv, and a copy of the MV adds a job
        mv = apply_cdf_to_agg_mv(
            mv,
            feed,
            ["o_orderpriority"],
            {"price_cents": "cents"},
            count_col="n_orders",
        )
    return mv


MOR_CDF_MV_SQL = """
WITH final AS (
  SELECT CASE WHEN o_orderkey % 178 = 0 THEN o_orderpriority || '**'
              WHEN o_orderkey % 194 = 0 THEN o_orderpriority || '+'
              WHEN o_orderkey % 89 = 0 THEN o_orderpriority || '*'
              ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders
  WHERE o_orderkey % 97 <> 0 OR o_orderkey % 178 = 0 OR o_orderkey % 194 = 0
)
SELECT o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM final GROUP BY o_orderpriority
"""


# --- quarantine replay: the expectations loop closed (r14) ------------------
# streaming/expectations.py quarantines rows per-batch with the names
# of the checks they failed; replay_quarantine re-audits them under
# RELAXED checks and releases exactly the now-passing rows into a
# replay-tagged batch dir (original quarantine dirs stay immutable as
# the audit trail; released rows carry the TABLE schema — the r13
# verdict's partition-column leak is pinned fixed in pytest). The gate
# ingests orders under a strict price cap + a key check, relaxes the
# cap, replays, and reports the post-replay table aggregate plus the
# released/still-retained counts — all four numbers declaratively
# replayable: table = key_ok & price under the RELAXED cap; released =
# key_ok rows between the caps; retained = quarantined minus released.
def quarantine_replay_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.streaming.expectations import (
        StreamingExpectations,
        replay_quarantine,
    )

    base = cached_scratch_dir("squopt_qreplay_", sf_dir)
    out, quar = os.path.join(base, "t"), os.path.join(base, "q")
    orders = load_table(spark, sf_dir, "orders")
    key_ok = F.col("o_orderkey") % 11 != 0
    strict = {"price_cap": F.col("o_totalprice") < 300000, "key_ok": key_ok}
    relaxed = {"price_cap": F.col("o_totalprice") < 400000, "key_ok": key_ok}
    if not os.path.isdir(os.path.join(out, "batch=0")):
        StreamingExpectations(strict, out, quar)(orders, 0)
    rep = replay_quarantine(spark, quar, relaxed, out, replay_id="cap400k")
    return (
        read_saved(spark, out)
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumn("released", F.lit(rep["released"]).cast("bigint"))
        .withColumn("retained", F.lit(rep["retained"]).cast("bigint"))
    )


QUARANTINE_REPLAY_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 11 <> 0
          AND o_totalprice >= 300000 AND o_totalprice < 400000)
         AS released,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE (o_totalprice >= 300000 OR o_orderkey % 11 = 0)
          AND NOT (o_orderkey % 11 <> 0
                   AND o_totalprice >= 300000 AND o_totalprice < 400000))
         AS retained
FROM orders
WHERE o_orderkey % 11 <> 0 AND o_totalprice < 400000
"""


# --- write-audit-publish: no row readable before its audit (r12) ------------
# operators/wap.py: a producer STAGES a candidate snapshot, AUDITS it
# (every expectation folded into ONE aggregate pass — auditing 100 TB
# costs one scan however many checks are attached), and only a passing
# audit PUBLISHES via an atomic manifest swap; readers resolve the
# manifest, so staged-but-unpublished data is structurally invisible
# and a failed audit leaves the previous snapshot serving. The gate
# publishes a clean orders snapshot, then stages a corrupted one
# (prices negated on keys %7) whose publish must RAISE AuditFailure
# with the exact violation count, leave the clean snapshot published,
# and be reclaimed by vacuum — each step raising on the wrong outcome.
# Oracle: the clean aggregate plus the %7 violation count as a scalar.
def wap_publish_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.wap import AuditFailure, WapTable
    from linqonsteroids_spark.session import scratch_dir

    t = WapTable(spark, scratch_dir("squopt_wap_"))
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    checks = {
        # >= 0: the testdata mints one legitimate o_orderkey = 0 row
        "key_nonneg": key >= 0,
        "price_positive": F.col("o_totalprice") > 0,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
    }
    # audit rides the staging write (one pass, no re-scan of the staged
    # snapshot) — same report, same publish/reject semantics
    s1, rep1 = t.stage_audited(orders, checks)
    t.publish(s1, checks, expect=None, report=rep1)  # CAS: nothing published
    corrupted = orders.withColumn(
        "o_totalprice",
        F.when(key % 7 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ),
    )
    s2, rep2 = t.stage_audited(corrupted, checks)
    n_bad = None
    try:
        t.publish(s2, checks, report=rep2)
    except AuditFailure as e:
        n_bad = next(
            r["n_violations"] for r in e.report if r["audit"] == "price_positive"
        )
    if n_bad is None:
        raise RuntimeError("corrupted snapshot must fail its audit")
    if t.published_id() != s1:
        raise RuntimeError("failed audit must leave the prior snapshot live")
    if t.vacuum() != 1:
        raise RuntimeError("the rejected staging must be reclaimed")
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumn("n_rejected", F.lit(n_bad).cast("bigint"))
    )


WAP_PUBLISH_SQL = """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM orders WHERE o_orderkey % 7 = 0)
         AS n_rejected
FROM orders GROUP BY o_orderstatus
"""


# --- streaming MOR ingest with re-delivered batches (r12) -------------------
# The streaming twin of mor_read_orders, targeting the property a real
# ingest pipeline lives or dies by: DELIVERY-COUNT INVARIANCE. Each
# micro-batch reduces to latest-per-key rows and appends as one MOR
# delta version (O(|batch|) — the base is never read on the write
# path); the source deliberately lands the SAME upsert file TWICE, so
# the re-delivered batch arrives as a higher version with identical
# content and latest-version-wins resolution makes read() equal to the
# exactly-once outcome. The base is staged as the STALE
# (earliest-per-user) snapshot so the upserts genuinely overwrite.
# Oracle: latest event per user straight off the events table.
def mor_stream_upserts(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from linqonsteroids_spark.operators.mor import MorTable

    events = load_table(spark, sf_dir, "events")
    rows = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("value_cents"),
    )

    def _one_per_user(df, descending):
        order = (
            [F.desc("ts"), F.desc("event_id")]
            if descending
            else [F.asc("ts"), F.asc("event_id")]
        )
        w = Window.partitionBy("user_id").orderBy(*order)
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    stale = _one_per_user(rows, descending=False)
    latest = _one_per_user(rows, descending=True)

    base = tempfile.mkdtemp(prefix="mor_stream_")
    table = MorTable(spark, os.path.join(base, "t"), "user_id")
    table.write_base(stale)
    src = os.path.join(base, "src")
    os.makedirs(src)
    tmp = os.path.join(base, "z")
    latest.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    for i in (0, 1):  # the same upsert set, delivered twice
        shutil.copy(
            os.path.join(tmp, part),
            os.path.join(src, f"part-{i}-redelivery.parquet"),
        )

    versions: list[int] = []

    def handle(df, _bid):
        v = len(versions) + 1
        versions.append(v)
        table.append_delta(
            v,
            upserts=_one_per_user(df, descending=True),
            check_unique=False,  # _one_per_user dedupes by construction
        )

    _each_file(spark, latest.schema, base, handle)
    state = table.read()
    n_state, n_truth = state.count(), latest.count()
    if n_state != n_truth:
        raise RuntimeError(
            f"re-delivery broke idempotency: {n_state} keys in the MOR "
            f"state vs {n_truth} distinct users"
        )
    return state.select("user_id", "event_type", "value_cents")


# --- streaming MOR ingest + live CDF-driven MV maintenance (r14) -----------
# The IVM loop RUNNING LIVE: each micro-batch appends one MOR delta
# version, then maintains a (sum, count)-by-event_type MV purely from
# that version's change feed (changes(v-1, v, include_preimages=True)
# → apply_cdf_to_agg_mv) — per arrival the MV pays O(|batch|) + a
# merge on touched groups, never a rescan of the table. The source
# re-delivers the SAME upsert file twice (the foreachBatch
# at-least-once contract), which proves a second invariance the batch
# gate can't: a redelivered upsert's pre-image EQUALS its post-image,
# so the retraction algebra nets to zero and the MV is
# delivery-count-invariant by construction, not by dedup bookkeeping.
# The final MV must hash-equal the oracle's from-scratch aggregate of
# the latest-per-user truth.
def mor_stream_cdf_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.streaming.incremental import (
        apply_cdf_to_agg_mv,
    )

    events = load_table(spark, sf_dir, "events")
    rows = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("value_cents"),
    )

    def _one_per_user(df, descending):
        order = (
            [F.desc("ts"), F.desc("event_id")]
            if descending
            else [F.asc("ts"), F.asc("event_id")]
        )
        w = Window.partitionBy("user_id").orderBy(*order)
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    stale = _one_per_user(rows, descending=False)
    latest = _one_per_user(rows, descending=True)

    base = tempfile.mkdtemp(prefix="mor_cdf_stream_")
    table = MorTable(spark, os.path.join(base, "t"), "user_id")
    table.write_base(stale)

    def _mv_of(df):
        return df.groupBy("event_type").agg(
            F.sum("value_cents").alias("sum_cents"),
            F.count("*").cast("bigint").alias("n_users"),
        )

    mv_holder = [_mv_of(table._read_base())]

    src = os.path.join(base, "src")
    os.makedirs(src)
    tmp = os.path.join(base, "z")
    latest.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    for i in (0, 1):  # the same upsert set, delivered twice
        shutil.copy(
            os.path.join(tmp, part),
            os.path.join(src, f"part-{i}-redelivery.parquet"),
        )

    versions: list[int] = []

    def handle(df, _bid):
        v = len(versions) + 1
        versions.append(v)
        table.append_delta(
            v,
            upserts=_one_per_user(df, descending=True),
            check_unique=False,  # _one_per_user dedupes by construction
        )
        feed = table.changes(v - 1, v, include_preimages=True)
        mv_holder[0] = materialize(  # cut lineage per micro-batch
            apply_cdf_to_agg_mv(
                mv_holder[0],
                feed,
                ["event_type"],
                {"sum_cents": "value_cents"},
                count_col="n_users",
            ),
            "mor_stream_cdf_mv: MV",
        )

    _each_file(spark, latest.schema, base, handle)
    return mv_holder[0]


MOR_STREAM_CDF_MV_SQL = """
WITH latest AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
  FROM (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT event_type, CAST(sum(value_cents) AS BIGINT) AS sum_cents,
       CAST(count(*) AS BIGINT) AS n_users
FROM latest GROUP BY event_type
"""


# --- streaming expectations: audit-before-append with quarantine (r13) -----
# The streaming counterpart of wap_publish_orders' snapshot audits
# (streaming/expectations.py): every micro-batch is checked row-wise in
# ONE projection, passing rows append to the table, violating rows land
# in quarantine tagged with the expectations they failed — no silent
# drops, no violating row in the table, idempotent batch=<id> subdirs
# on redelivery. The gate streams events in two micro-batches (file
# source, maxFilesPerTrigger=1), audits two deterministic expectations
# (event_id % 7, user_id % 11 — mod-based so DuckDB replays the exact
# classification), and reports per-violation-set row counts + exact
# value cents; the oracle rebuilds the same split declaratively.
def streaming_audited_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from linqonsteroids_spark.streaming.expectations import (
        StreamingExpectations,
    )

    events = load_table(spark, sf_dir, "events")
    rows = events.select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("value_cents"),
    )
    base = tempfile.mkdtemp(prefix="stream_expect_")
    src = os.path.join(base, "src")
    os.makedirs(src)
    # ONE pass stages both halves (partitioned write moved flat into
    # src), not one filtered scan per micro-batch file
    tmp = os.path.join(base, "z")
    (
        rows.withColumn("half", (F.col("event_id") % 2).cast("int"))
        .repartition(F.col("half"))
        .write.partitionBy("half")
        .parquet(tmp)
    )
    for i in (0, 1):  # two files -> two micro-batches
        hdir = os.path.join(tmp, f"half={i}")
        part = next(f for f in os.listdir(hdir) if f.endswith(".parquet"))
        shutil.copy(
            os.path.join(hdir, part), os.path.join(src, f"part-{i}.parquet")
        )
    shutil.rmtree(tmp)
    out = os.path.join(base, "table")
    quarantine = os.path.join(base, "quarantine")
    sink = StreamingExpectations(
        {
            "id_spread": F.col("event_id") % 7 != 0,
            "user_spread": F.col("user_id") % 11 != 0,
        },
        out,
        quarantine,
    )
    _each_file(spark, rows.schema, base, sink)
    clean = read_saved(spark, out).select(
        F.lit("").alias("violated"), "value_cents"
    )
    bad = read_saved(spark, quarantine).select(
        F.col("_violated").alias("violated"), "value_cents"
    )
    return (
        clean.unionByName(bad)
        .groupBy("violated")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("value_cents").cast("bigint").alias("sum_cents"),
        )
    )


STREAM_EXPECT_SQL = """
WITH e AS (
  SELECT event_id, user_id,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents
  FROM events
),
cls AS (
  SELECT value_cents,
         CASE WHEN event_id % 7 = 0 AND user_id % 11 = 0
                THEN 'id_spread,user_spread'
              WHEN event_id % 7 = 0 THEN 'id_spread'
              WHEN user_id % 11 = 0 THEN 'user_spread'
              ELSE '' END AS violated
  FROM e
)
SELECT violated, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(value_cents) AS BIGINT) AS sum_cents
FROM cls GROUP BY violated
"""


MOR_STREAM_SQL = """
SELECT user_id, event_type, value_cents FROM (
  SELECT user_id, event_type,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


# --- idempotent backfill via dynamic partition overwrite (r12) --------------
# The production rewrite-one-slice operation: re-running a day's (here:
# one event_type's) pipeline must replace exactly that partition and
# leave every other byte untouched — the property that makes backfills
# idempotent and safely retryable at 100 TB, where the alternative
# (mode=overwrite, static) would truncate the whole table. The gate
# stages a partitioned copy, rewrites ONE partition under
# partitionOverwriteMode=dynamic with a deterministic transform
# (value_cents doubled), and RAISES unless (a) untouched partitions are
# byte-identical (file names + sizes) and (b) the target partition's
# file set actually rotated. Oracle: the transform replayed via CASE.
def dynamic_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.session import conf_guard, scratch_dir

    def _listing(root, leaf):
        d = os.path.join(root, f"event_type={leaf}")
        return sorted(
            (f, os.path.getsize(os.path.join(d, f)))
            for f in os.listdir(d)
            if not f.startswith((".", "_"))
        )

    events = load_table(spark, sf_dir, "events")
    table = events.select(
        "event_type",
        "user_id",
        "event_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("value_cents"),
    )
    root = os.path.join(scratch_dir("squopt_backfill_"), "events_part")
    # REBALANCE on the partition key: an unclustered partitionBy writes
    # one file per (scan task × key) — scan tasks scale with cores, so
    # the r15 driver measured this gate 2.1× slower at 32 cores than 8
    # purely from the extra per-file overhead downstream. AQE rebalance
    # keeps file count per directory O(1) at any width and splits
    # oversized keys at scale (guide §6).
    table.hint("rebalance", "event_type").write.partitionBy(
        "event_type"
    ).parquet(root)
    before_view = _listing(root, "view")
    before_click = _listing(root, "click")

    backfill = table.where(F.col("event_type") == "click").withColumn(
        "value_cents", F.col("value_cents") * 2
    )
    with conf_guard(
        spark, "spark.sql.sources.partitionOverwriteMode", "dynamic"
    ):
        backfill.hint("rebalance", "event_type").write.mode(
            "overwrite"
        ).partitionBy("event_type").parquet(root)

    if _listing(root, "view") != before_view:
        raise RuntimeError(
            "dynamic overwrite touched a partition outside the backfill"
        )
    if _listing(root, "click") == before_click:
        raise RuntimeError("backfill did not rotate the target partition")
    return (
        spark.read.schema(table.drop("event_type").schema)
        .parquet(root)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("value_cents").cast("bigint").alias("value_cents"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


DYNAMIC_BACKFILL_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN event_type = 'click'
                     THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 2
                     ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
                END) AS BIGINT) AS value_cents,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY event_type
"""


# --- k-anonymity audit over quasi-identifier combinations (r12) -------------
# The release-side governance check PII scrubbing doesn't cover:
# scrubbed rows can still re-identify people when a COMBINATION of
# innocuous columns (the quasi-identifiers) is rare. A table is
# k-anonymous iff every quasi-identifier combination covers >= k rows;
# this audit reports, per market segment, how many (segment, nation)
# cells exist, how many fall below k=3, and how many ROWS sit in those
# risky cells — the number a release gate thresholds on. One
# aggregation at any scale (QI cardinality bounds the output, rows
# never leave the cluster); re-aggregation of the cell table, not a
# second base scan.
_K_ANON = 3


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cells = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count("*").cast("bigint").alias("n")
    )
    risky = F.col("n") < _K_ANON
    return cells.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(F.when(risky, 1).otherwise(0)).cast("bigint").alias(
            "n_risky_cells"
        ),
        F.sum(F.when(risky, F.col("n")).otherwise(0)).cast("bigint").alias(
            "n_risky_rows"
        ),
        F.min("n").alias("min_cell"),
    )


K_ANONYMITY_SQL = f"""
WITH cells AS (
  SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY c_mktsegment, c_nationkey
)
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(CASE WHEN n < {_K_ANON} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_risky_cells,
       CAST(sum(CASE WHEN n < {_K_ANON} THEN n ELSE 0 END) AS BIGINT)
         AS n_risky_rows,
       min(n) AS min_cell
FROM cells GROUP BY c_mktsegment
"""


# --- MOR multi-writer: seam-allocated concurrent appends (r15) --------------
# operators/mor.py r15: append_delta(version=None) ALLOCATES its
# version through the commit seam — the delta stages privately and
# claims mor_v=N via publish_dir_if_absent (atomic compare-and-create),
# re-staging at the next number on a lost race. The gate runs TWO
# writer threads, each with its own table handle, synchronized on a
# barrier so both race the same allocation; disjoint key sets make the
# final state order-independent, which is exactly what lets the oracle
# state it declaratively. Pinned outputs: both writers' rows landed,
# the versions allocated are DENSE (1 and 2 — nothing skipped, nothing
# torn), and the base remains untouched.
def mor_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import threading

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_morconc_", sf_dir)
    path = os.path.join(base, "orders_conc")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    done = os.path.join(base, "_writers_done")
    if not os.path.exists(done):
        table.write_base(orders)
        barrier = threading.Barrier(2)
        errors: list[BaseException] = []

        def writer(tag: str, mod: int):
            try:
                h = MorTable(spark, path, "o_orderkey")
                ups = orders.where(key % 10 == mod).withColumn(
                    "o_orderpriority",
                    F.concat(F.col("o_orderpriority"), F.lit(f"#{tag}")),
                )
                barrier.wait(timeout=120)
                h.append_delta(upserts=ups)  # allocate mode
            except BaseException as e:  # surfaced after join
                errors.append(e)

        ths = [
            threading.Thread(target=writer, args=("A", 1)),
            threading.Thread(target=writer, args=("B", 2)),
        ]
        [t.start() for t in ths]
        [t.join(600) for t in ths]
        if errors:
            raise errors[0]
        with open(done, "w") as f:
            f.write("ok")
    versions = table._existing_versions()
    return table.read().agg(
        F.sum(
            F.col("o_orderpriority").endswith("#A").cast("bigint")
        ).alias("n_a"),
        F.sum(
            F.col("o_orderpriority").endswith("#B").cast("bigint")
        ).alias("n_b"),
        F.count("*").cast("bigint").alias("n_rows"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("price_cents"),
        F.lit(len(versions)).cast("int").alias("n_versions"),
        F.lit(max(versions)).cast("int").alias("max_version"),
    )


MOR_CONCURRENT_SQL = """
SELECT CAST(sum(CASE WHEN o_orderkey % 10 = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_a,
       CAST(sum(CASE WHEN o_orderkey % 10 = 2 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_b,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       2 AS n_versions, 2 AS max_version
FROM orders
"""


# --- MOR timestamp time travel (r15) -----------------------------------------
# Every real MOR format resolves as-of TIMESTAMPS, not just version
# numbers: operators/mor.py now records each version's commit
# wall-clock in _mor_meta.json (monotonic, caller-pinnable for
# determinism) and read(as_of_timestamp=)/changes(from/to_timestamp=)
# resolve to the version watermark — the highest version committed at
# or before the probe — then apply the same folded/horizon refusal
# rules as version travel. The fixture pins v1 at 2026-01-01 and v2 at
# 2026-02-01; a probe between them MUST reconstruct exactly the v1
# state (same oracle as the version-based time-travel gate, by
# design), and the timestamp-windowed change feed over (v1, v2] must
# count exactly v2's touched keys.
def _mor_ts_orders_table(spark: SparkSession, sf_dir: str):
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_morts_", sf_dir)
    table = MorTable(spark, os.path.join(base, "orders_ts"), "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(
        os.path.join(base, "orders_ts", "base", "_SUCCESS")
    ):
        table.write_base(orders)
        table.append_delta(
            1,
            upserts=orders.where((key % 89 == 0) & (key % 97 != 0)).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("*")),
            ),
            delete_keys=orders.where(key % 97 == 0).select("o_orderkey"),
            commit_timestamp="2026-01-01T00:00:00",
        )
        table.append_delta(
            2,
            upserts=orders.where(key % 178 == 0)
            .withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("**")),
            )
            .unionByName(
                orders.where((key % 194 == 0) & (key % 178 != 0)).withColumn(
                    "o_orderpriority",
                    F.concat(F.col("o_orderpriority"), F.lit("+")),
                )
            ),
            commit_timestamp="2026-02-01T00:00:00",
        )
    return table


def mor_timestamp_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    table = _mor_ts_orders_table(spark, sf_dir)
    n_changes = table.changes(
        from_timestamp="2026-01-15T00:00:00",
        to_timestamp="2026-03-01T00:00:00",
    ).count()
    return _mor_priority_report(
        table.read(as_of_timestamp="2026-01-15T00:00:00")
    ).withColumn("n_changes", F.lit(n_changes).cast("bigint"))


MOR_TS_TRAVEL_SQL = """
WITH v1_state AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0 THEN o_orderpriority || '*'
              ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 178 = 0 OR o_orderkey % 194 = 0) AS n_changes
FROM v1_state GROUP BY o_orderpriority
"""


# --- MOR conditional multi-clause MERGE (r15) --------------------------------
# SQL MERGE's full clause surface: WHEN MATCHED AND cond THEN UPDATE /
# WHEN MATCHED AND cond THEN DELETE / WHEN NOT MATCHED THEN INSERT —
# an ORDERED list, first-match-wins per source row, still compiled to
# exactly ONE O(|source|) delta append (n_versions pins it), stats
# from ONE groupBy job over the classified source (the r14 verdict's
# triple-.count() folded away). The source carries matched rows (%7
# keys, all present in the base) and guaranteed-new rows (%11 keys
# mapped to -(k+1), injective into the negatives — plain negation
# would map the testdata's key 0 onto itself and collide); clause
# order makes %42 keys (divisible by both 3 and 2)
# take the UPDATE, proving positional precedence. The oracle replays
# the final state as CASE/filter logic and each stat as a modulus
# count.
def mor_multi_clause_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_mormc_", sf_dir)
    path = os.path.join(base, "orders_mc")
    stats_path = os.path.join(base, "mc_stats.json")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(stats_path):
        table.write_base(orders)
        tagged = F.concat(F.lit("M~"), F.col("o_orderpriority"))
        source = (
            orders.where(key % 7 == 0)
            .withColumn("o_orderpriority", tagged)
            .unionByName(
                orders.where(key % 11 == 0)
                .withColumn("o_orderkey", -(key + F.lit(1)))
                .withColumn("o_orderpriority", tagged)
            )
        )
        st = table.merge_into(
            source=source,
            clauses=[
                ("matched", "o_orderkey % 3 = 0", "update"),
                ("matched", "o_orderkey % 2 = 0", "delete"),
                ("not_matched", None, "insert"),
            ],
        )
        with open(stats_path, "w") as f:
            json.dump(st, f)
    with open(stats_path) as f:
        st = json.load(f)
    return (
        table.read()
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumn("n_updated", F.lit(st["updated"]).cast("bigint"))
        .withColumn("n_deleted", F.lit(st["deleted"]).cast("bigint"))
        .withColumn("n_inserted", F.lit(st["inserted"]).cast("bigint"))
        .withColumn(
            "n_versions",
            F.lit(len(table._existing_versions())).cast("int"),
        )
    )


MOR_MULTI_CLAUSE_SQL = """
WITH final AS (
  SELECT o_totalprice FROM orders
  WHERE NOT (o_orderkey % 14 = 0 AND o_orderkey % 3 <> 0)
  UNION ALL
  SELECT o_totalprice FROM orders WHERE o_orderkey % 11 = 0
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 21 = 0) AS n_updated,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 14 = 0 AND o_orderkey % 3 <> 0) AS n_deleted,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 11 = 0) AS n_inserted,
       1 AS n_versions
FROM final
"""


# --- MIN/MAX MV maintenance under extremum deletes (r15) ---------------------
# The leg apply_cdf_to_agg_mv documents as out of scope, closed:
# extrema are not a group under retraction, so
# streaming/incremental.py::apply_cdf_to_minmax_mv merges additions as
# least/greatest (additions can only improve an extremum) and rescans
# ONLY the groups whose current extremum was actually retracted — the
# fixture's v2 deletes every per-group price MAXIMUM of the v1 state,
# forcing the rescan leg for every group, while v1's group-moving
# starred upserts exercise retract-from-old-group/add-to-new. The
# maintained MV across both windows must hash-equal the oracle's
# from-scratch aggregate of the final state. At 100 TB the rescan leg
# is a broadcast-semi-filtered aggregate over exactly the hit groups;
# the no-retraction fast path never evaluates the table at all
# (pinned in pytest with table=None).
def mor_minmax_mv_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.streaming.incremental import (
        apply_cdf_to_minmax_mv,
    )

    base = cached_scratch_dir("squopt_mormm_", sf_dir)
    path = os.path.join(base, "orders_mm")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    if not os.path.exists(os.path.join(path, "base", "_SUCCESS")):
        table.write_base(orders)
        table.append_delta(
            1,
            upserts=orders.where(key % 89 == 0).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("*")),
            ),
        )
        s1 = table.read(as_of_version=1).withColumn("cents", cents)
        mx = s1.groupBy("o_orderpriority").agg(F.max("cents").alias("_m"))
        dels = (
            s1.join(F.broadcast(mx), "o_orderpriority")
            .where(F.col("cents") == F.col("_m"))
            .select("o_orderkey")
        )
        table.append_delta(2, delete_keys=dels)
    mv = (
        table._read_base()
        .withColumn("cents", cents)
        .groupBy("o_orderpriority")
        .agg(
            F.min("cents").alias("mn_cents"),
            F.max("cents").alias("mx_cents"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )
    for win in ((0, 1), (1, 2)):
        feed = table.changes(*win, include_preimages=True).withColumn(
            "cents", cents
        )
        # window 2 reads window 1's MV once (one merge join side; the
        # rescan probe reads the merge apply_cdf_to_minmax_mv itself
        # materializes), so the MV stays a lazy plan between windows
        mv = apply_cdf_to_minmax_mv(
            mv,
            feed,
            ["o_orderpriority"],
            {"mn_cents": ("min", "cents"), "mx_cents": ("max", "cents")},
            # the rescan leg aggregates the MV's VALUE column, so the
            # post-window state must carry the same derived cents
            table=table.read(as_of_version=win[1]).withColumn(
                "cents", cents
            ),
            count_col="n_orders",
        )
    return mv


MOR_MINMAX_MV_SQL = """
WITH s1 AS (
  SELECT CASE WHEN o_orderkey % 89 = 0 THEN o_orderpriority || '*'
              ELSE o_orderpriority END AS o_orderpriority,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS cents
  FROM orders
),
mx AS (SELECT o_orderpriority, max(cents) AS m FROM s1
       GROUP BY o_orderpriority),
s2 AS (SELECT s1.o_orderpriority, s1.cents
       FROM s1 JOIN mx ON s1.o_orderpriority = mx.o_orderpriority
       WHERE s1.cents < mx.m)
SELECT o_orderpriority, min(cents) AS mn_cents, max(cents) AS mx_cents,
       CAST(count(*) AS BIGINT) AS n_orders
FROM s2 GROUP BY o_orderpriority
"""


# --- MOR retention compaction + snapshot-sync MERGE (r15) --------------------
# The remaining lifecycle steps a production table runs on a schedule:
# (1) RETENTION — compact(older_than_timestamp=t) resolves the boundary
# against recorded commit wall-clocks and folds ONLY versions at or
# below it (the new base is the as-of state; newer deltas stay live
# with their time travel — "keep N days of history" as one call); and
# (2) SNAPSHOT SYNC — SQL MERGE's WHEN NOT MATCHED BY SOURCE branch:
# target rows absent from a full-snapshot source are deleted (under a
# target-row condition), in the SAME single delta append as the
# update/insert legs. The fixture folds v1 (starred %89 upserts) behind
# a timestamp boundary, keeps v2 (%97 deletes) live, then syncs against
# the even-key snapshot with odd-%5 garbage collection; the oracle
# replays the final state and every stat declaratively.
def mor_retention_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_morret_", sf_dir)
    path = os.path.join(base, "orders_ret")
    stats_path = os.path.join(base, "ret_stats.json")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(stats_path):
        table.write_base(orders)
        table.append_delta(
            1,
            upserts=orders.where(key % 89 == 0).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("*")),
            ),
            commit_timestamp="2026-01-01T00:00:00",
        )
        table.append_delta(
            2,
            delete_keys=orders.where(key % 97 == 0).select("o_orderkey"),
            commit_timestamp="2026-02-01T00:00:00",
        )
        folded = table.compact(
            older_than_timestamp="2026-01-15T00:00:00"
        )
        st = table.merge_into(
            source=orders.where(key % 2 == 0).withColumn(
                "o_orderpriority",
                F.concat(F.lit("S~"), F.col("o_orderpriority")),
            ),
            clauses=[
                ("matched", None, "update"),
                ("not_matched", None, "insert"),
                ("not_matched_by_source", "o_orderkey % 5 = 0", "delete"),
            ],
            commit_timestamp="2026-03-01T00:00:00",
        )
        with open(stats_path, "w") as f:
            json.dump({"folded": folded, **st}, f)
    with open(stats_path) as f:
        st = json.load(f)
    return (
        table.read()
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumn("n_updated", F.lit(st["updated"]).cast("bigint"))
        .withColumn("n_inserted", F.lit(st["inserted"]).cast("bigint"))
        .withColumn(
            "n_del_by_source",
            F.lit(st["deleted_by_source"]).cast("bigint"),
        )
        .withColumn("horizon", F.lit(st["folded"]).cast("int"))
        .withColumn(
            "n_live_versions",
            F.lit(len(table._existing_versions())).cast("int"),
        )
    )


MOR_RETENTION_SYNC_SQL = """
WITH final AS (
  SELECT o_totalprice FROM orders WHERE o_orderkey % 2 = 0
  UNION ALL
  SELECT o_totalprice FROM orders
  WHERE o_orderkey % 2 <> 0 AND o_orderkey % 97 <> 0
    AND o_orderkey % 5 <> 0
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 2 = 0 AND o_orderkey % 97 <> 0) AS n_updated,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 2 = 0 AND o_orderkey % 97 = 0) AS n_inserted,
       (SELECT CAST(count(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 2 <> 0 AND o_orderkey % 5 = 0
          AND o_orderkey % 97 <> 0) AS n_del_by_source,
       1 AS horizon, 2 AS n_live_versions
FROM final
"""


# --- MOR named refs (tags) + retention-respects-tags (r15) --------------------
# Iceberg's tag refs on the MOR table: tag() pins a reconstructible
# state under a name as ONE meta entry (no data copy), read(tag=)
# serves it forever after, and retention RESPECTS tags — compact()
# refuses to fold a tagged state away (delete_tag is the explicit,
# auditable release), while a retention boundary landing exactly ON
# the tag is allowed because the new base IS the tagged state. The
# gate drives the whole lifecycle: tag v1, append v2, verify the full
# compact refuses, retention-compact TO the tag (it survives and now
# reads from the base), and report the pinned state — the oracle
# replays v1 declaratively (the same %89-update/%97-delete algebra as
# the time-travel gates) plus each lifecycle stat as a literal.
def mor_tagged_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_mortag_", sf_dir)
    path = os.path.join(base, "orders_tagged")
    stats_path = os.path.join(base, "tag_stats.json")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    if not os.path.exists(stats_path):
        table.write_base(orders)
        table.append_delta(
            1,
            upserts=orders.where((key % 89 == 0) & (key % 97 != 0)).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("*")),
            ),
            delete_keys=orders.where(key % 97 == 0).select("o_orderkey"),
        )
        pinned = table.tag("post-cleanup")  # pins latest = v1
        table.append_delta(
            2,
            upserts=orders.where(key % 178 == 0).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("**")),
            ),
        )
        try:  # the full fold would destroy the tagged v1 state
            table.compact()
            refused = False
        except ValueError:
            refused = True
        # retention TO the tag: allowed, the new base IS v1's state
        folded_through = table.compact(through_version=1)
        with open(stats_path, "w") as f:
            json.dump(
                {
                    "pinned": pinned,
                    "refused": refused,
                    "folded_through": folded_through,
                },
                f,
            )
    with open(stats_path) as f:
        st = json.load(f)
    return (
        _mor_priority_report(table.read(tag="post-cleanup"))
        .withColumn("pinned_version", F.lit(st["pinned"]).cast("int"))
        .withColumn("full_compact_refused", F.lit(st["refused"]))
        .withColumn(
            "folded_through", F.lit(st["folded_through"]).cast("int")
        )
        .withColumn("n_tags", F.lit(len(table.tags())).cast("int"))
    )


def _txn_consistency(corpus, index, keys_alias: str, gate: str) -> DataFrame:
    """One row: the corpus aggregate, the index and joined counts, and
    whether all three agree. Each ``read()`` is a base+deltas last-wins
    merge feeding two of the three jobs (count / join / agg), so each
    table is materialized once. The counts are bounded driver-side
    scalars, embedded as literal columns so the result needs no cross
    join; the differential still validates them against the oracle."""
    c = materialize(corpus.read(), f"{gate}: corpus")
    i = materialize(index.read(), f"{gate}: index")
    n_index = i.count()
    n_joined = c.join(i, "doc_id", "inner").count()
    return (
        c.agg(
            F.count("*").cast("bigint").alias("n_corpus"),
            F.sum("doc_id").cast("bigint").alias(keys_alias),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .withColumn("n_index", F.lit(n_index).cast("bigint"))
        .withColumn("n_joined", F.lit(n_joined).cast("bigint"))
        .withColumn(
            "consistent",
            (F.col("n_corpus") == F.col("n_index"))
            & (F.col("n_index") == F.col("n_joined")),
        )
    )


# --- streaming ingest under multi-table transactions (r15) --------------------
# The ingest pipeline's end-to-end atomicity story: each micro-batch
# upserts the corpus table AND its fingerprint index inside ONE
# transaction (operators/mortxn.py) from a foreachBatch handler — a
# batch that fails its quality gate (here: a too-short-docs ceiling,
# the expectations shape from streaming/expectations.py) is ABORTED
# after both appends, and the decision CAS guarantees neither table
# ever shows it; a batch that passes commits both sides together. The
# gate streams two batches (one passes, one fails), then proves the
# invariant relationally: corpus keys == index keys (inner-join
# count), only the committed batch's docs present, the aborted
# batch's staged deltas swept (claimed == visible == 1 version).
# Oracle: the final state is one modulus WHERE clause. Timing note:
# micro-batch startup dominates at toy SF (the documented streaming
# floor); the per-batch table work is one O(batch) append per table
# plus an O(1) decision write.
def mor_stream_txn_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.operators.mortxn import MorTxnLog

    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id")
    corpus_cols = ["doc_id", "lang", "n_chars"]

    base = tempfile.mkdtemp(prefix="mor_txn_stream_")
    corpus = MorTable(spark, os.path.join(base, "corpus"), "doc_id")
    index = MorTable(spark, os.path.join(base, "fp_index"), "doc_id")
    log = MorTxnLog(os.path.join(base, "txnlog"))
    with_fp = docs.select(
        *corpus_cols, F.md5(F.col("text")).alias("fingerprint")
    )
    # materialized once: the seed feeds BOTH base writes (each would
    # re-scan documents + re-hash), and both staged batches
    seed = materialize(with_fp.where(key % 3 == 0), "mor_stream_txn_ingest: seed")
    corpus.write_base(seed.select(*corpus_cols))
    index.write_base(seed.select("doc_id", "fingerprint"))

    src = os.path.join(base, "src")
    os.makedirs(src)
    # ONE pass stages both batches (partitioned write), not one
    # filtered scan per batch file
    (
        with_fp.where(key % 3 != 0)
        .withColumn(
            "batch", F.when(key % 3 == 1, "good").otherwise("bad")
        )
        .repartition(F.col("batch"))
        .write.mode("append")
        .partitionBy("batch")
        .parquet(src)
    )

    def handle(df, _bid):
        from pyspark.sql import Observation

        txn = log.begin()
        # the quality gate rides the first append's write job as an
        # observe metric — no third pass over the batch; doc_id is
        # unique per batch by construction (disjoint slices of a
        # unique-keyed table), so the per-version uniqueness job is
        # skipped (check_unique=False)
        obs = Observation()
        observed = df.observe(
            obs, F.sum((key % 3 == 2).cast("int")).alias("n")
        )
        corpus.append_delta(
            upserts=observed.select(*corpus_cols),
            txn=txn,
            check_unique=False,
        )
        index.append_delta(
            upserts=df.select("doc_id", "fingerprint"),
            txn=txn,
            check_unique=False,
        )
        # quality gate AFTER both appends: the decision record is the
        # only thing deciding — the %3==2 cohort fails by construction
        if obs.get["n"]:
            txn.abort()
        else:
            txn.commit()

    _each_file(spark, with_fp.schema, base, handle)
    return (
        _txn_consistency(corpus, index, "sum_doc_ids", "mor_stream_txn_ingest")
        .withColumn(
            "visible_versions",
            F.lit(len(corpus._existing_versions())).cast("int"),
        )
        .withColumn(
            "claimed_versions",
            F.lit(len(corpus._all_claimed_versions())).cast("int"),
        )
    )


MOR_STREAM_TXN_SQL = """
WITH final AS (
  SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 <> 2
)
SELECT CAST(count(*) AS BIGINT) AS n_corpus,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(*) AS BIGINT) AS n_index,
       CAST(count(*) AS BIGINT) AS n_joined,
       TRUE AS consistent,
       1 AS visible_versions, 1 AS claimed_versions
FROM final
"""


# --- MOR secondary-column bloom lookup: content-hash serving (r15) ------------
# "Does this exact content already exist?" — the content-addressed
# lookup every ingest dedup path serves — on a LIVE MOR corpus: the
# fingerprint is a secondary column, so the key-range manifest cannot
# prune it (an unclustered md5's per-file [min, max] spans everything);
# the table's bloom_ndv config stamps parquet split-block bloom
# filters on fingerprint at every write (base, deltas, compaction
# restages via the meta-persisted setting), and lookup_by pushes the
# IN probe through the merge-on-read plan to the base scan, where
# parquet-mr's bloom probe skips every row group that cannot hold a
# probed hash. The gate re-crawls one doc (its fingerprint LEAVES the
# probe set) and plagiarizes another (a second doc ENTERS it), so the
# result is classified by CURRENT values through the MOR merge — and
# it RAISES in-build unless the filters are stamped on every base
# file, the probe is pushed, and row groups were physically skipped.
# Oracle: DuckDB's md5 over the same texts replays the final
# fingerprint state declaratively.
def mor_bloom_fingerprint_lookup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.sources.bloomfilters import (
        bloom_columns_per_file,
        scan_output_rows,
    )

    base = cached_scratch_dir("squopt_morbloom_", sf_dir)
    path = os.path.join(base, "corpus_fp")
    table = MorTable(
        spark, path, "doc_id", bloom_ndv={"fingerprint": 100_000}
    )
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id", F.md5(F.col("text")).alias("fingerprint"), "n_chars"
    )
    if not os.path.exists(os.path.join(path, "base", "_SUCCESS")):
        table.write_base(corpus.repartition(8))
        d1, d2, d3 = [
            r["doc_id"]
            for r in docs.select("doc_id")
            .orderBy("doc_id")
            .limit(3)
            .collect()
        ]
        recrawl = (
            docs.where(F.col("doc_id") == d1)
            .select(
                "doc_id",
                F.md5(F.concat(F.col("text"), F.lit("!"))).alias(
                    "fingerprint"
                ),
                "n_chars",
            )
        )
        d2_text = docs.where(F.col("doc_id") == d2).select("text")
        plagiarize = (
            docs.where(F.col("doc_id") == d3)
            .crossJoin(d2_text.withColumnRenamed("text", "src_text"))
            .select(
                "doc_id",
                F.md5(F.col("src_text")).alias("fingerprint"),
                "n_chars",
            )
        )
        table.append_delta(1, upserts=recrawl.unionByName(plagiarize))
    stamped = bloom_columns_per_file(spark, os.path.join(path, "base"))
    missing = [
        f for f, cols in stamped.items() if "fingerprint" not in cols
    ]
    if not stamped or missing:
        raise RuntimeError(
            f"bloom filter missing on fingerprint in base files: {missing}"
        )
    probe_fps = [
        r["fingerprint"]
        for r in corpus.orderBy("doc_id").limit(2).collect()
    ]
    q = table.lookup_by("fingerprint", probe_fps)
    plan = q._jdf.queryExecution().executedPlan().toString()
    pushed = [
        s.split("]", 1)[0] for s in plan.split("PushedFilters: [")[1:]
    ]
    if not any("In(fingerprint" in s for s in pushed):
        raise RuntimeError(
            f"fingerprint probe not pushed to the base scan: {pushed}"
        )
    direct = table._read_base().where(
        F.col("fingerprint") == probe_fps[1]
    )
    rows_read = scan_output_rows(direct)
    total = docs.count()
    if rows_read * 2 > total:
        raise RuntimeError(
            f"bloom row-group skipping did not engage: scan read "
            f"{rows_read} of {total} rows on a fingerprint probe"
        )
    return q.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_ids"),
        F.countDistinct("fingerprint").cast("bigint").alias("n_fps"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


MOR_BLOOM_FP_SQL = """
WITH ranked AS (
  SELECT doc_id, text, n_chars,
         row_number() OVER (ORDER BY doc_id) AS rn
  FROM documents
), probe AS (
  SELECT md5(text) AS fp FROM ranked WHERE rn <= 2
), final AS (
  SELECT r.doc_id, r.n_chars,
         CASE WHEN r.rn = 1 THEN md5(r.text || '!')
              WHEN r.rn = 3 THEN (SELECT md5(text) FROM ranked WHERE rn = 2)
              ELSE md5(r.text) END AS fingerprint
  FROM ranked r
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_ids,
       CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_fps,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM final WHERE fingerprint IN (SELECT fp FROM probe)
"""


# --- multi-table atomic transactions across MOR tables (r15) ------------------
# The serving tier's cross-table guarantee: a takedown deletes a
# document from the corpus table AND its row from the fingerprint
# index inside ONE transaction (operators/mortxn.py — presumed-abort,
# commit point = a single put_if_absent CAS on the decision record;
# readers resolve any _TXN-marked version against it, so both tables
# flip visible together or not at all). The gate runs the full
# lifecycle: a committed takedown (%13 docs leave BOTH tables), an
# ABORTED takedown (%17 docs — its staged deltas are swept, nothing
# leaks into either table), and an in-flight transaction left
# undecided at read time (claimed on disk, invisible, pinned by the
# claimed-vs-visible version counts). Consistency is proven
# relationally — corpus keys == index keys via an inner join count —
# and the oracle replays the final state as one WHERE clause.
def mor_txn_takedown(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.operators.mortxn import MorTxnLog
    from linqonsteroids_spark.session import cached_scratch_dir

    base = cached_scratch_dir("squopt_mortxn_", sf_dir)
    stats_path = os.path.join(base, "txn_stats.json")
    corpus = MorTable(spark, os.path.join(base, "corpus"), "doc_id")
    index = MorTable(spark, os.path.join(base, "fp_index"), "doc_id")
    docs = load_table(spark, sf_dir, "documents")
    key = F.col("doc_id")
    if not os.path.exists(stats_path):
        log = MorTxnLog(os.path.join(base, "txnlog"))
        corpus.write_base(docs.select("doc_id", "lang", "source", "n_chars"))
        index.write_base(
            docs.select(
                "doc_id", F.md5(F.col("text")).alias("fingerprint")
            )
        )

        def takedown(txn, cond):
            dk = docs.where(cond).select("doc_id")
            corpus.append_delta(delete_keys=dk, txn=txn)
            index.append_delta(delete_keys=dk, txn=txn)

        committed = log.begin()
        takedown(committed, key % 13 == 0)
        committed.commit()
        aborted = log.begin()
        takedown(aborted, key % 17 == 0)
        aborted.abort()
        inflight = log.begin()
        takedown(inflight, key % 19 == 0)  # left undecided on purpose
        with open(stats_path, "w") as f:
            json.dump(
                {
                    "claimed": len(corpus._all_claimed_versions()),
                    "visible": len(corpus._existing_versions()),
                },
                f,
            )
    with open(stats_path) as f:
        st = json.load(f)
    return (
        _txn_consistency(corpus, index, "sum_corpus_keys", "mor_txn_takedown")
        .withColumn("claimed_versions", F.lit(st["claimed"]).cast("int"))
        .withColumn("visible_versions", F.lit(st["visible"]).cast("int"))
    )


MOR_TXN_TAKEDOWN_SQL = """
WITH final AS (
  SELECT doc_id, n_chars FROM documents WHERE doc_id % 13 <> 0
)
SELECT CAST(count(*) AS BIGINT) AS n_corpus,
       CAST(sum(doc_id) AS BIGINT) AS sum_corpus_keys,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(count(*) AS BIGINT) AS n_index,
       CAST(count(*) AS BIGINT) AS n_joined,
       TRUE AS consistent,
       2 AS claimed_versions, 1 AS visible_versions
FROM final
"""


# --- MOR change-feed consumers: durable checkpoints + exactly-once MV (r15) ---
# The Kafka-consumer shape on the MOR change feed: consume_changes()
# reads from a durable named checkpoint in the table meta,
# ack_changes() advances it only after the window is applied —
# process-then-ack, so a crash between apply and ack REDELIVERS the
# same window, and the downstream MV's own applied_through guard makes
# the redelivery a no-op (exactly-once EFFECT from at-least-once
# delivery, the standard consumer-offset contract). The gate drives
# two consume→apply→ack cycles across two appends with a simulated
# crash-redelivery between them, maintains a (sum, count) agg MV via
# the retraction algebra (streaming/incremental.apply_cdf_to_agg_mv),
# and the oracle recomputes the SAME aggregate from the final state
# declaratively — hash-equality proves the incrementally-maintained MV
# converged to the from-scratch answer and the redelivery was applied
# exactly once. Retention respects checkpoints (compact refuses to
# fold an unacked window; pinned in pytest).
def mor_consumer_feed_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json
    import os

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.session import cached_scratch_dir
    from linqonsteroids_spark.streaming.incremental import (
        apply_cdf_to_agg_mv,
    )

    base = cached_scratch_dir("squopt_morconsumer_", sf_dir)
    path = os.path.join(base, "orders_feed")
    mv_path = os.path.join(base, "mv_final")
    stats_path = os.path.join(base, "consumer_stats.json")
    table = MorTable(spark, path, "o_orderkey")
    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    if not os.path.exists(stats_path):
        table.write_base(orders)

        def build_mv(df):
            return df.groupBy("o_orderpriority").agg(
                F.sum(cents).alias("sum_cents"),
                F.count("*").cast("bigint").alias("n_orders"),
            )

        mv = build_mv(orders)
        applied_through, skipped = 0, 0
        table.append_delta(
            1,
            upserts=orders.where((key % 89 == 0) & (key % 97 != 0)).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("*")),
            ),
            delete_keys=orders.where(key % 97 == 0).select("o_orderkey"),
        )
        for attempt in range(2):  # attempt 0 applies; a simulated
            # crash loses the ack; attempt 1 redelivers the SAME
            # window and the applied_through guard skips it
            feed, thr = table.consume_changes(
                "downstream-mv", include_preimages=True
            )
            if feed is None or thr <= applied_through:
                skipped += 1
                continue
            mv = apply_cdf_to_agg_mv(
                mv,
                feed.withColumn("price_cents_src", cents),
                ["o_orderpriority"],
                {"sum_cents": "price_cents_src"},
                count_col="n_orders",
            )
            applied_through = thr
        table.ack_changes("downstream-mv", applied_through)
        table.append_delta(
            2,
            upserts=orders.where((key % 178 == 0) & (key % 97 != 0)).withColumn(
                "o_orderpriority",
                F.concat(F.col("o_orderpriority"), F.lit("**")),
            ),
        )
        feed, thr = table.consume_changes(
            "downstream-mv", include_preimages=True
        )
        mv = apply_cdf_to_agg_mv(
            mv,
            feed.withColumn("price_cents_src", cents),
            ["o_orderpriority"],
            {"sum_cents": "price_cents_src"},
            count_col="n_orders",
        )
        table.ack_changes("downstream-mv", thr)
        mv.write.mode("overwrite").parquet(mv_path)
        save_schema(mv_path, mv.schema)
        with open(stats_path, "w") as f:
            json.dump(
                {
                    "position": table.consumer_position("downstream-mv"),
                    "redeliveries_skipped": skipped,
                },
                f,
            )
    with open(stats_path) as f:
        st = json.load(f)
    return (
        read_saved(spark, mv_path)
        .withColumn("position", F.lit(st["position"]).cast("int"))
        .withColumn(
            "redeliveries_skipped",
            F.lit(st["redeliveries_skipped"]).cast("int"),
        )
    )


MOR_CONSUMER_FEED_SQL = """
WITH final AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 178 = 0 THEN o_orderpriority || '**'
              WHEN o_orderkey % 89 = 0 THEN o_orderpriority || '*'
              ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT o_orderpriority,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS sum_cents,
       CAST(count(*) AS BIGINT) AS n_orders,
       2 AS position, 1 AS redeliveries_skipped
FROM final GROUP BY o_orderpriority
"""


MOR_TAGGED_READS_SQL = """
WITH v1_state AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 89 = 0 THEN o_orderpriority || '*'
              ELSE o_orderpriority END AS o_orderpriority,
         o_totalprice
  FROM orders WHERE o_orderkey % 97 <> 0
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
         AS price_cents,
       1 AS pinned_version, TRUE AS full_compact_refused,
       1 AS folded_through, 1 AS n_tags
FROM v1_state GROUP BY o_orderpriority
"""


QUERIES = {
    "fuzzy_name_neighbors": (fuzzy_name_neighbors, FUZZY_NEIGHBORS_SQL),
    "mor_read_orders": (mor_read_orders, MOR_READ_SQL),
    "mor_stream_upserts": (mor_stream_upserts, MOR_STREAM_SQL),
    "wap_publish_orders": (wap_publish_orders, WAP_PUBLISH_SQL),
    "k_anonymity_audit": (k_anonymity_audit, K_ANONYMITY_SQL),
    "dynamic_partition_backfill": (
        dynamic_partition_backfill,
        DYNAMIC_BACKFILL_SQL,
    ),
    "snapshot_diff_orders": (snapshot_diff_orders, SNAPSHOT_DIFF_SQL),
    "snapshot_diff_changed_cols": (
        snapshot_diff_changed_cols,
        SNAPSHOT_DIFF_COLS_SQL,
    ),
    # same oracle by design: bucket-level pruning must drop nothing
    "snapshot_diff_bucketed_orders": (
        snapshot_diff_bucketed_orders,
        SNAPSHOT_DIFF_SQL,
    ),
    "digest_manifest_audit": (digest_manifest_audit, DIGEST_MANIFEST_SQL),
    "digest_manifest_incremental": (
        digest_manifest_incremental,
        DIGEST_INC_SQL,
    ),
    "streaming_audited_ingest": (streaming_audited_ingest, STREAM_EXPECT_SQL),
    "fuzzy_name_neighbors_k2": (fuzzy_name_neighbors_k2, FUZZY_NEIGHBORS_K2_SQL),
    "mor_time_travel_orders": (mor_time_travel_orders, MOR_TIME_TRAVEL_SQL),
    "mor_schema_evolution": (mor_schema_evolution, MOR_EVOLUTION_SQL),
    "mor_manifest_reconciliation": (
        mor_manifest_reconciliation,
        MOR_MANIFEST_SQL,
    ),
    "mor_change_feed_orders": (mor_change_feed_orders, MOR_CHANGE_FEED_SQL),
    "mor_cdf_agg_maintenance": (mor_cdf_agg_maintenance, MOR_CDF_MV_SQL),
    "mor_merge_into_orders": (mor_merge_into_orders, MOR_MERGE_SQL),
    "mor_provenance_orders": (mor_provenance_orders, MOR_PROVENANCE_SQL),
    "mor_point_lookup_orders": (
        mor_point_lookup_orders,
        MOR_POINT_LOOKUP_SQL,
    ),
    "mor_log_compaction_orders": (
        mor_log_compaction_orders,
        MOR_LOG_COMPACTION_SQL,
    ),
    "mor_stream_cdf_mv": (mor_stream_cdf_mv, MOR_STREAM_CDF_MV_SQL),
    "quarantine_replay_release": (
        quarantine_replay_release,
        QUARANTINE_REPLAY_SQL,
    ),
    "mor_concurrent_writers": (mor_concurrent_writers, MOR_CONCURRENT_SQL),
    "mor_timestamp_travel_orders": (
        mor_timestamp_travel_orders,
        MOR_TS_TRAVEL_SQL,
    ),
    "mor_multi_clause_merge": (mor_multi_clause_merge, MOR_MULTI_CLAUSE_SQL),
    "mor_minmax_mv_maintenance": (
        mor_minmax_mv_maintenance,
        MOR_MINMAX_MV_SQL,
    ),
    "mor_retention_sync": (mor_retention_sync, MOR_RETENTION_SYNC_SQL),
    "mor_tagged_reads": (mor_tagged_reads, MOR_TAGGED_READS_SQL),
    "mor_consumer_feed_mv": (mor_consumer_feed_mv, MOR_CONSUMER_FEED_SQL),
    "mor_txn_takedown": (mor_txn_takedown, MOR_TXN_TAKEDOWN_SQL),
    "mor_bloom_fingerprint_lookup": (
        mor_bloom_fingerprint_lookup,
        MOR_BLOOM_FP_SQL,
    ),
    "mor_stream_txn_ingest": (mor_stream_txn_ingest, MOR_STREAM_TXN_SQL),
    "compaction_event_stats": (compaction_event_stats, COMPACTION_STATS_SQL),
    "partition_compaction_stats": (
        partition_compaction_stats,
        PARTITION_COMPACTION_SQL,
    ),
    "deterministic_sample_orders": (
        deterministic_sample_orders,
        DETERMINISTIC_SAMPLE_SQL,
    ),
    "corpus_mix_sample": (corpus_mix_sample, CORPUS_MIX_SQL),
    "pack_sequences": (pack_sequences, PACK_SEQUENCES_SQL),
    "training_shards": (training_shards, TRAINING_SHARDS_SQL),
    "quota_per_source": (quota_per_source, QUOTA_PER_SOURCE_SQL),
    "doc_repetition_scores": (doc_repetition_scores, DOC_REPETITION_SQL),
    "pii_scrub": (pii_scrub, PII_SCRUB_SQL),
    "corpus_wash_report": (corpus_wash_report, CORPUS_WASH_SQL),
    "wash_observed_metrics": (wash_observed_metrics, WASH_OBSERVED_SQL),
    "doc_chunks": (doc_chunks, DOC_CHUNKS_SQL),
    "stratified_split": (stratified_split, STRATIFIED_SPLIT_SQL),
    "ngram_novelty": (ngram_novelty, NGRAM_NOVELTY_SQL),
    "fuzzy_part_pairs": (fuzzy_part_pairs, FUZZY_PART_SQL),
    "corpus_report": (corpus_report, CORPUS_REPORT_SQL),
    "weighted_sample_per_source": (weighted_sample_per_source, WEIGHTED_SAMPLE_SQL),
}
