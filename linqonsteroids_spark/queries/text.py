"""Text-analysis & dedup queries over the documents table.

Part of the training-data-pipeline surface (north star): tokenization,
quality scoring, fingerprinting, exact dedup. All JVM-side (split /
higher-order functions / md5) — no Python UDFs in these paths, so they
stay inside whole-stage codegen and scale linearly with document count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import load_table
from linqonsteroids_spark.functions.text import token_count, tokens
from linqonsteroids_spark.session import materialize


# --- flatMap/explode: token frequencies -----------------------------------
# Reference flatMap (traversableOperators.scala:14-20) over nested text →
# explode. Scale: explode multiplies rows ~100x; the groupBy is map-side
# combined on a small vocabulary, so the shuffle stays tiny.
def token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


TOKEN_FREQUENCIES_SQL = """
SELECT token, count(*) AS freq
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents)
WHERE token <> ''
GROUP BY token
"""


# --- exact dedup: hash-groupBy --------------------------------------------
# Canonical-representative dedup: one row per distinct text, keeping the
# min doc_id, with the duplicate count. At 100 TB: group on a 128-bit hash
# of the content, never on the content itself (shuffle moves 16 bytes/row).
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(F.col("text")).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# --- document fingerprint --------------------------------------------------
# Normalized-content fingerprint (whitespace-collapsed, lowercased) — the
# cheap "rolling hash" tier of the dedup ladder.
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return docs.select(
        "doc_id",
        F.substring(F.md5(normalized), 1, 16).alias("fingerprint"),
        F.length(normalized).alias("norm_len"),
    )


DOC_FINGERPRINTS_SQL = """
SELECT doc_id,
       substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16)
         AS fingerprint,
       length(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_len
FROM documents
"""


# --- quality scoring -------------------------------------------------------
# Length / punctuation / stopword ratios — the standard pre-training
# quality gates, all as JVM higher-order functions over the token array.
# Hash-stability: rates are ppm integers via floor division (identical on
# both engines), not rounded doubles — same policy as vocab_coverage.
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.functions.text import STOPWORDS, punct_chars, tokens

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    toks = F.filter(tokens(F.lower(text)), lambda t: t != "")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return docs.select(
        "doc_id",
        F.length(text).cast("long").alias("text_len"),
        token_count(text).cast("long").alias("n_tokens"),
        punct_chars(text).cast("long").alias("n_punct"),
        n_stop.cast("long").alias("n_stopwords"),
    ).select(
        "doc_id",
        "text_len",
        "n_tokens",
        "n_punct",
        "n_stopwords",
        F.expr("n_punct * 1000000L div text_len").alias("punct_ppm"),
        F.expr("n_stopwords * 1000000L div greatest(n_tokens, 1L)").alias(
            "stopword_ppm"
        ),
    )


DOC_QUALITY_SQL = """
SELECT doc_id, text_len, n_tokens, n_punct, n_stopwords,
       (n_punct * 1000000) // text_len AS punct_ppm,
       (n_stopwords * 1000000) // greatest(n_tokens, 1) AS stopword_ppm
FROM (
  SELECT doc_id,
         length(text) AS text_len,
         len(list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> ''))
           AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g'))
           AS n_punct,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
             t -> list_contains(['the','a','an','of','to','in','and','is','it','for'], t)))
           AS n_stopwords
  FROM documents
)
"""


# --- language ID (marker-word heuristic) ----------------------------------
# Deterministic, model-free n-gram/marker heuristic (north-star text op):
# count marker-token hits per language; predict the argmax (ties broken by
# fixed language order, no hits → 'und'). The documents table carries a
# ground-truth lang column for accuracy eval.
_LANGS = ["de", "en", "es", "fr", "zh"]


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.functions.text import LANG_MARKERS, marker_hits

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual"),
        *[marker_hits(F.col("text"), LANG_MARKERS[lg]).alias(f"c_{lg}") for lg in _LANGS],
    )
    mx = F.greatest(*[F.col(f"c_{lg}") for lg in _LANGS])
    pred = F.when(mx <= 0, F.lit("und"))
    for lg in _LANGS:
        pred = pred.when(F.col(f"c_{lg}") == mx, F.lit(lg))
    return scored.select(
        "doc_id",
        "actual",
        pred.alias("predicted"),
        (pred == F.col("actual")).alias("correct"),
    )


def _lang_id_sql() -> str:
    from linqonsteroids_spark.functions.text import LANG_MARKERS

    counts = ",\n       ".join(
        "len(list_filter(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),"
        " t -> t <> ''), t -> list_contains({}, t))) AS c_{}".format(
            "[" + ",".join(f"'{m}'" for m in LANG_MARKERS[lg]) + "]", lg
        )
        for lg in _LANGS
    )
    mx = f"greatest({', '.join('c_' + lg for lg in _LANGS)})"
    pred = "CASE WHEN {mx} <= 0 THEN 'und' {whens} END".format(
        mx=mx,
        whens=" ".join(f"WHEN c_{lg} = {mx} THEN '{lg}'" for lg in _LANGS),
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang AS actual,
       {counts}
  FROM documents
)
SELECT doc_id, actual, {pred} AS predicted,
       ({pred}) = actual AS correct
FROM scored
"""


LANG_ID_SQL = _lang_id_sql()


# --- BPE-style pre-tokenization stats (north-star: token counting beyond
# whitespace). The regex classes — alpha runs, digit runs, single symbols —
# are the deterministic pre-tokenizer real BPE vocabularies run on; counts
# per class approximate tokenizer cost per document. JVM regexp, no UDF.
def token_stats_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.functions.text import bpe_pretokens

    docs = load_table(spark, sf_dir, "documents")
    chunks = bpe_pretokens(F.col("text"))
    n_alpha = F.size(F.filter(chunks, lambda t: t.rlike("^[A-Za-z]+$")))
    n_digit = F.size(F.filter(chunks, lambda t: t.rlike("^[0-9]+$")))
    return docs.select(
        "doc_id",
        F.size(chunks).alias("n_pretokens"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        (F.size(chunks) - n_alpha - n_digit).alias("n_symbol"),
    )


TOKEN_BPE_SQL = r"""
SELECT doc_id,
       len(chunks) AS n_pretokens,
       len(list_filter(chunks, t -> regexp_matches(t, '^[A-Za-z]+$'))) AS n_alpha,
       len(list_filter(chunks, t -> regexp_matches(t, '^[0-9]+$'))) AS n_digit,
       len(chunks)
         - len(list_filter(chunks, t -> regexp_matches(t, '^[A-Za-z]+$')))
         - len(list_filter(chunks, t -> regexp_matches(t, '^[0-9]+$'))) AS n_symbol
FROM (
  SELECT doc_id,
         regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS chunks
  FROM documents
)
"""


# --- vocabulary coverage / OOV rate ----------------------------------------
# Build the top-K corpus vocabulary (count desc, token asc — deterministic),
# then score every document's out-of-vocabulary rate against it. The OOV
# rate is the standard "will the tokenizer shred this document" gate.
# Scale: one map-side-combined agg builds the vocab (|vocab| rows), the
# top-K is a TakeOrdered (no full sort), and the membership join broadcasts
# the K-row vocab — the exploded token table is never shuffled.
# Hash-stability: the gated projection carries ONLY exact integers — counts
# plus a parts-per-million rate computed with integer floor division
# (`div` / `//`), identical on both engines. Rounded doubles are banned
# from hashed output: round(x, 6) can land on a representation boundary
# where Spark and DuckDB disagree in the last bit (the r4 red-gate root
# cause), while integer arithmetic cannot.
_VOCAB_K = 1000


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    vocab = (
        exploded.groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("token"))
        .limit(_VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        exploded.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("n_oov * 1000000L div n_tokens").alias("oov_ppm"),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH exploded AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), tok AS (
  SELECT doc_id, token FROM exploded WHERE token <> ''
), vocab AS (
  SELECT token FROM (
    SELECT token, count(*) AS freq FROM tok GROUP BY token
    ORDER BY freq DESC, token ASC LIMIT {_VOCAB_K}
  )
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov,
       CAST((sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS oov_ppm
FROM tok t LEFT JOIN vocab v ON t.token = v.token
GROUP BY t.doc_id
"""
# ^ CAST(... AS BIGINT) on the sum-derived columns is load-bearing: DuckDB
# types sum(<integer>) as HUGEINT (int128), and its pandas conversion
# degrades HUGEINT to float64 (6 -> 6.0), so any hash over the pandas path
# mismatches Spark's exact long. count(*) stays BIGINT and needs no cast.
# Guarded repo-wide by tests/test_oracle_types.py.


# --- vocabulary growth (Heaps-law curve) ------------------------------------
# How fast does the vocabulary grow as the corpus grows? The standard
# corpus-health curve (sublinear growth per Heaps' law; a linear curve
# flags ID-like garbage tokens). Exactly computable without any prefix
# window: a token enters the vocabulary at its FIRST document, so the
# vocabulary size after the first X docs = count of tokens whose
# min(doc_id) <= X. One agg over the exploded tokens (map-side combined),
# then a row-local threshold classification — all integers, hash-stable.
_HEAPS_CHECKPOINTS = [50, 100, 200, 500]


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    first_seen = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    # join-free: every checkpoint is a conditional sum over ONE pass of the
    # first-seen relation (a theta-join against the checkpoint list would
    # plan as a nested-loop join — needless even if the broadcast side is
    # 4 rows); stack unpivots the single row to (n_docs, vocab_size).
    agg = first_seen.agg(
        *[
            F.sum((F.col("first_doc") <= c).cast("long")).alias(f"v_{c}")
            for c in _HEAPS_CHECKPOINTS
        ]
    )
    pairs = ", ".join(f"{c}L, v_{c}" for c in _HEAPS_CHECKPOINTS)
    return agg.selectExpr(
        f"stack({len(_HEAPS_CHECKPOINTS)}, {pairs}) AS (n_docs, vocab_size)"
    )


VOCAB_GROWTH_SQL = f"""
WITH first_seen AS (
  SELECT token, min(doc_id) AS first_doc
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  )
  WHERE token <> ''
  GROUP BY token
)
{" UNION ALL ".join(
    f"SELECT {c} AS n_docs,"
    f" (SELECT count(*) FROM first_seen WHERE first_doc <= {c}) AS vocab_size"
    for c in _HEAPS_CHECKPOINTS
)}
"""


# --- Okapi BM25 relevance scoring --------------------------------------------
# The standard retrieval/quality-scoring function (Robertson & Walker,
# SIGIR '94; the Lucene-default idf variant ln((N-df+0.5)/(df+0.5)+1)) for
# a frozen query-term set — what a training-data pipeline runs to surface
# documents relevant to a probe query (contamination triage, targeted
# sampling). Scale: the term list is a broadcast literal; doc lengths and
# term tfs come from one explode+agg pass each (map-side combined); df/N/
# avgdl are a handful of scalar rows broadcast back; one final per-doc
# agg. No window, no pair joins. Hash-stability: round(4) on the summed
# double (the unigram_surprisal green precedent); avgdl is computed as
# CAST(sum AS DOUBLE)/count explicitly so both engines divide the same
# two exact integers.
_BM25_TERMS = ["spark", "merge", "window", "hash", "scan"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # left in the lazy 4-consumer shape DELIBERATELY (r15): both the
    # full-token checkpoint and the small dl/tf checkpoints were
    # interleaved-A/B'd and measured consistently SLOWER (0.63-0.77 ->
    # 0.75-0.90 s across five runs) — the duplicate tokenize passes run
    # concurrently inside one job, while eager checkpoints serialize it
    # into three
    exploded = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    dl = exploded.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        exploded.filter(F.col("token").isin(_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * (
        F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum(contrib), 4).alias("bm25"),
            F.count("*").alias("n_hit_terms"),
        )
    )


def _bm25_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH exploded AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), tok AS (
  SELECT doc_id, token FROM exploded WHERE token <> ''
), dl AS (
  SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token IN ({terms}) GROUP BY doc_id, token
), df_t AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
)
SELECT t.doc_id,
       round(sum(
         ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
         * (t.tf * ({_BM25_K1} + 1.0)
            / (t.tf + {_BM25_K1}
               * (1.0 - {_BM25_B} + {_BM25_B} * l.dl / s.avgdl)))
       ), 4) AS bm25,
       count(*) AS n_hit_terms
FROM tf t JOIN df_t d USING (token) JOIN dl l USING (doc_id) CROSS JOIN stats s
GROUP BY t.doc_id
"""


BM25_SQL = _bm25_sql()


# --- frozen linear quality model (model scoring as a relational op) ----------
# A fastText-style document-quality classifier run AS A QUERY: engineered
# features (type-token ratio, punctuation ratio, stopword ratio, mean
# token length) combined by a FROZEN linear model + sigmoid — how a
# trained quality filter actually deploys inside a 100 TB corpus wash
# (score every doc, threshold, no model server, no UDF). Weights are
# literals, features are row-local JVM expressions, so the whole model is
# one codegen'd projection; the oracle replays the identical arithmetic.
# Hash-stability: score rounded 4 (ln/exp last-ulp class, the
# unigram_surprisal precedent); the keep flag thresholds the RAW score,
# which both engines compute with the same association.
_QM_W = {"ttr": 1.6, "punct": -9.0, "stop": 2.5, "avg_len": 0.35, "bias": -2.2}


def quality_model_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.functions.text import punct_ratio, stopword_ratio

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokens(F.col("text")), lambda t: t != "")
    ttr = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    avg_len = F.length(F.regexp_replace(F.col("text"), r"\s+", "")).cast(
        "double"
    ) / F.size(toks)
    x = (
        F.lit(_QM_W["bias"])
        + F.lit(_QM_W["ttr"]) * ttr
        + F.lit(_QM_W["punct"]) * punct_ratio(F.col("text"))
        + F.lit(_QM_W["stop"]) * stopword_ratio(F.col("text"))
        + F.lit(_QM_W["avg_len"]) * avg_len
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-x))
    return docs.select(
        "doc_id",
        F.round(score, 4).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


def _quality_model_sql() -> str:
    from linqonsteroids_spark.functions.text import STOPWORDS

    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH feat AS (
  SELECT doc_id,
         CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g'))
              AS DOUBLE) / length(text) AS punct,
         CAST(len(list_filter(lower_toks, t -> t IN ({stop_list})))
              AS DOUBLE) / greatest(len(lower_toks), 1) AS stop,
         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
           / len(toks) AS avg_len
  FROM (
    SELECT doc_id, text,
           list_filter(regexp_split_to_array(trim(text), '\\s+'),
                       t -> t <> '') AS toks,
           list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                       t -> t <> '') AS lower_toks
    FROM documents
  )
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-({_QM_W["bias"]} + {_QM_W["ttr"]} * ttr
         + {_QM_W["punct"]} * punct + {_QM_W["stop"]} * stop
         + {_QM_W["avg_len"]} * avg_len))), 4) AS quality_score,
       (1.0 / (1.0 + exp(-({_QM_W["bias"]} + {_QM_W["ttr"]} * ttr
         + {_QM_W["punct"]} * punct + {_QM_W["stop"]} * stop
         + {_QM_W["avg_len"]} * avg_len))) >= 0.5) AS keep
FROM feat
"""


QUALITY_MODEL_SQL = _quality_model_sql()


# --- feature-hashing vectorizer (the hashing trick) --------------------------
# Fixed-dimension token-count vectors without a vocabulary pass
# (Weinberger et al., "Feature Hashing for Large Scale Multitask
# Learning", ICML 2009): bucket = md5(token) mod k, vector = per-bucket
# counts — the O(1)-memory featurizer that needs no dictionary broadcast
# and never drifts when new tokens appear, which is why large-scale
# text classifiers ship it. ALL-INTEGER output (exact across engines).
# Scale: one explode + one map-side-combined (doc, bucket) agg + one
# per-doc map assembly; k is a constant, the vector build is row-local.
_HASH_DIM = 16


def hashed_count_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    bucket = (
        F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
        % _HASH_DIM
    )
    tf = exploded.groupBy("doc_id", bucket.alias("b")).agg(
        F.count("*").alias("c")
    )
    m = tf.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("mp")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(_HASH_DIM - 1)),
        lambda i: F.coalesce(F.element_at("mp", i.cast("long")), F.lit(0).cast("long")),
    )
    # Gated projection emits the vector as one deterministic CSV string
    # (the inverted_postings pattern): the driver's pandas canonicalizer
    # sorts every column and list cells are unhashable in its lexsort, so
    # top-level ARRAY columns red the gate even when values are exact
    # (CORRECTNESS_r06). Guarded by the SHAPE-HAZARD check.
    return m.select(
        "doc_id",
        F.array_join(vec, ",").alias("vec_csv"),
        F.aggregate(
            vec, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_tf"),
    )


HASHED_VECTORS_SQL = f"""
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 8))::BIGINT % {_HASH_DIM} AS b,
         count(*) AS c
  FROM toks GROUP BY 1, 2
), m AS (
  SELECT doc_id,
         map_from_entries(list(struct_pack(k := b, v := c))) AS mp
  FROM tf GROUP BY doc_id
)
SELECT doc_id,
       array_to_string(list_transform(range({_HASH_DIM}),
         i -> coalesce(map_extract(mp, i)[1], 0)), ',') AS vec_csv,
       CAST(list_sum(list_transform(range({_HASH_DIM}),
         i -> coalesce(map_extract(mp, i)[1], 0))) AS BIGINT) AS total_tf
FROM m
"""


# --- inverted index build -----------------------------------------------------
# The retrieval-side artifact BM25 serves from: per term, document
# frequency, collection frequency, and the ordered postings list
# (doc_id:tf pairs). Postings are emitted as one deterministic string per
# term (sorted by doc_id on both engines) — the portable representation a
# hash gate can compare exactly. Scale: one explode + two map-side-
# combined aggs, shuffled by term; at 100 TB stop-term postings are the
# skew hazard — production shards a term's postings by doc-range
# (term, shard) before the agg, exactly how Lucene segments them; the
# per-term relational shape here is that design's single-shard case.
def inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    postings = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct("doc_id", "tf"))),
            lambda s: F.concat_ws(":", s.doc_id, s.tf),
        ),
        ",",
    )
    return tf.groupBy("token").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("cf"),
        postings.alias("postings"),
    )


INVERTED_POSTINGS_SQL = """
WITH tok AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT token, doc_id, count(*) AS tf FROM tok GROUP BY token, doc_id
)
SELECT token, count(*) AS df,
       CAST(sum(tf) AS BIGINT) AS cf,
       string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
FROM tf GROUP BY token
"""


# --- BPE merge learning (tokenizer training) --------------------------------
# The training half of the tokenizer pipeline: learn the top-K BPE merges
# from the corpus's word-frequency table (Sennrich et al., ACL 2016).
# Iterative argmax-per-round control flow → genuinely non-SQL-expressible,
# registered rows-only; bit-exact differential evidence vs a pure-Python
# reference lives in tests/test_operators.py. Scale: one corpus pass for
# word frequencies, then O(|vocab|) state per round (operators/bpe.py).
_BPE_MERGES = 8


def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.bpe import train_bpe, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(word_frequencies(docs), n_merges=_BPE_MERGES)
    rows = [(i + 1, a, b, pf) for i, (a, b, pf) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank long, left string, right string, pair_freq long"
    )


# --- BPE encode (tokenizer application) --------------------------------------
# The ENCODE half of the tokenizer pipeline with a FROZEN merge table
# (learned once from the sf0.01 corpus via train_bpe, seedless and
# deterministic, then frozen as literals so the gate is SQL-replayable):
# segment every vocabulary word by applying the merges in learned order,
# each left-to-right non-overlapping (operators/bpe.py:apply_merges).
# Oracle replay: frame every codepoint as ' c ' (regexp_replace), then one
# chained replace() per merge — ' a  b ' -> ' ab '. The double-space
# delimiter makes a match align only on whole adjacent symbols, and SQL
# replace() scans left-to-right non-overlapping, exactly the BPE encode
# loop's semantics, so the replay is bit-exact (verified against the
# pure-Python reference). Scale: one corpus pass for word frequencies,
# then a row-local Arrow stage over O(|vocab|) rows — zero extra shuffle;
# the merge table ships in the closure (10k-100k entries in production).
_BPE_FROZEN_MERGES = [
    ("e", "r", 4568), ("i", "n", 2760), ("o", "w", 2747), ("o", "r", 2696),
    ("s", "t", 2676), ("m", "er", 1852), ("a", "t", 1845), ("l", "u", 1831),
]


def bpe_encode_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.operators.bpe import apply_merges, word_frequencies

    docs = load_table(spark, sf_dir, "documents")
    enc = apply_merges(word_frequencies(docs), _BPE_FROZEN_MERGES)
    # Segmentation emitted as one space-joined string per word: the driver's
    # pandas canonicalizer cannot sort list cells, so a top-level ARRAY
    # column reds the gate even with exact values (CORRECTNESS_r06).
    # Tokens never contain whitespace (they come from a \\s+ split), so the
    # join is lossless. Guarded by the SHAPE-HAZARD check.
    return enc.select(
        "word",
        "freq",
        F.array_join("syms", " ").alias("segmented"),
        F.size("syms").cast("long").alias("n_syms"),
    )


def _bpe_encode_sql() -> str:
    framed = "regexp_replace(word, '(.)', ' \\1 ', 'g')"
    for a, b, _ in _BPE_FROZEN_MERGES:
        framed = f"replace({framed}, ' {a}  {b} ', ' {a}{b} ')"
    return f"""
WITH words AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
)
SELECT word, freq,
       array_to_string(string_split(trim({framed}), '  '), ' ') AS segmented,
       len(string_split(trim({framed}), '  ')) AS n_syms
FROM words
"""


BPE_ENCODE_SQL = _bpe_encode_sql()


# --- unigram surprisal (perplexity proxy) -----------------------------------
# Per-document mean negative log-probability under the corpus's own unigram
# distribution — the cheapest model-free "perplexity" quality signal (docs
# of rare garbage tokens score high, boilerplate scores low). Deterministic:
# counts are exact integers, per-token surprisal is a pure function of
# (freq, total), and both engines round the per-doc mean.
# Scale: one agg shuffle for the frequency table, then a broadcast join
# onto the exploded tokens (unigram vocab is broadcast-sized even at 100 TB
# — it grows sublinearly with the corpus) and one map-side-combined mean.
def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE (r15; same fix as bigram_surprisal): the token
    # relation feeds the freq table AND the scoring join — and the
    # vocab-sized freq table feeds the total AND the broadcast side —
    # so without materialization the scan + tokenize executes 3x
    exploded = materialize(
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != ""),
        "unigram_surprisal: tokens",
    )
    freqs = materialize(
        exploded.groupBy("token").agg(F.count("*").alias("freq")),
        "unigram_surprisal: token counts",
    )
    # scalar attach: the 1-row total rides a broadcast nested-loop join
    # onto the (broadcast-sized) freq table — bounded by construction and
    # allowlisted in tools/plan_audit.py; a constant-key equi-join gets
    # constant-folded back to the same BNLJ anyway
    total = freqs.agg(F.sum("freq").alias("total"))
    freqs_t = freqs.crossJoin(F.broadcast(total))
    scored = exploded.join(F.broadcast(freqs_t), "token")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("freq") / F.col("total"))), 4).alias(
                "mean_surprisal"
            ),
        )
    )


UNIGRAM_SURPRISAL_SQL = """
WITH exploded AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
  FROM documents
), tok AS (
  SELECT doc_id, token FROM exploded WHERE token <> ''
), freqs AS (
  SELECT token, count(*) AS freq FROM tok GROUP BY token
), total AS (
  SELECT sum(freq) AS total FROM freqs
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       round(avg(-ln(f.freq * 1.0 / total.total)), 4) AS mean_surprisal
FROM tok t JOIN freqs f ON t.token = f.token CROSS JOIN total
GROUP BY t.doc_id
"""


# --- interpolated bigram surprisal (stronger LM quality signal) --------------
# The next rung above unigram_surprisal on the model-free quality ladder:
# per document, mean -ln(λ·P(w2|w1) + (1-λ)·P(w2)) under the corpus's own
# bigram/unigram MLE — Jelinek–Mercer interpolation (the classical
# smoothing; λ frozen), so unseen bigrams back off to the unigram
# instead of -ln(0). Boilerplate scores low, shuffled-word garbage
# scores high — exactly what the unigram model cannot see.
# Scale: bigram/context/unigram count tables are vocab-sized (broadcast);
# the exploded bigram relation joins them map-side; one per-doc mean.
# Hash-stability: round(4) on the mean (the unigram green precedent).
_BIGRAM_LAMBDA = 0.7


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(tokens(F.col("text")), lambda t: t != "")
    bigrams = F.expr(
        "transform(sequence(0, size(_toks) - 2),"
        " i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2))"
    )
    # tokenize ONCE: the token relation feeds the bigram fact side, the
    # bigram count table AND the unigram table — without materialization
    # the scan + regexp tokenize executes three times per run (r15)
    toked = materialize(
        docs.select("doc_id", toks.alias("_toks")), "bigram_surprisal: tokens"
    )
    bg = (
        toked.filter(F.size("_toks") >= 2)
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    # vocab-sized; materialized so the bigram aggregate runs once, not
    # once per consumer (probe-join broadcast + context-count rollup)
    bg_counts = materialize(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c12")),
        "bigram_surprisal: bigram counts",
    )
    ctx_counts = bg_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    uni = (
        toked.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    total = uni.agg(F.sum("cu").alias("tot"))
    uni_t = uni.crossJoin(F.broadcast(total)).select(
        F.col("w").alias("w2"), (F.col("cu") / F.col("tot")).alias("pu")
    )
    scored = (
        bg.join(F.broadcast(bg_counts), ["w1", "w2"])
        .join(F.broadcast(ctx_counts), "w1")
        .join(F.broadcast(uni_t), "w2")
    )
    p = F.lit(_BIGRAM_LAMBDA) * (F.col("c12") / F.col("c1")) + F.lit(
        1 - _BIGRAM_LAMBDA
    ) * F.col("pu")
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg(-F.log(p)), 4).alias("mean_bigram_surprisal"),
    )


BIGRAM_SURPRISAL_SQL = f"""
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), bg AS (
  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                  i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS b
    FROM toked WHERE len(toks) >= 2
  )
), bgc AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
), ctx AS (
  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM bgc GROUP BY w1
), uni AS (
  SELECT token AS w2, count(*) AS cu FROM (
    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> '' GROUP BY token
), tot AS (
  SELECT CAST(sum(cu) AS BIGINT) AS tot FROM uni
)
SELECT g.doc_id,
       count(*) AS n_bigrams,
       round(avg(-ln({_BIGRAM_LAMBDA} * (c.c12 * 1.0 / x.c1)
                     + {1 - _BIGRAM_LAMBDA} * (u.cu * 1.0 / t.tot))), 4)
         AS mean_bigram_surprisal
FROM bg g
JOIN bgc c USING (w1, w2)
JOIN ctx x USING (w1)
JOIN uni u USING (w2)
CROSS JOIN tot t
GROUP BY g.doc_id
"""


# --- character-entropy quality score -----------------------------------------
# Shannon entropy of the per-document character distribution — the
# model-free gibberish/boilerplate detector every corpus-quality ladder
# carries (low entropy = repeated padding/template spam; implausibly
# high = random bytes): H = log2(n) - (1/n) * sum_c k_c*log2(k_c) over
# character counts k_c. Character splitting verified identical between
# engines (split(text, '') / string_split(text, '')) — EXCEPT on empty
# text, where Spark yields [''] and DuckDB [] (row-presence divergence),
# so both sides filter length(text) > 0: an empty document has no
# character distribution and is dropped identically. Doubles rounded on
# both sides per the engine's established convention. Scale: one explode
# + two map-side-combined aggs, shuffled by doc_id.
def char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") > 0
    )
    per = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").alias("k"))
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n"),
            F.count("*").alias("distinct_chars"),
            F.sum(F.col("k") * F.log2("k")).alias("klogk"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars"),
            "distinct_chars",
            (F.round(F.log2("n") - F.col("klogk") / F.col("n"), 4) + 0.0).alias(
                "entropy_bits"
            ),
        )
    )


CHAR_ENTROPY_SQL = """
WITH ch AS (
  SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
  WHERE length(text) > 0
), per AS (
  SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c
)
SELECT doc_id,
       CAST(sum(k) AS BIGINT) AS n_chars,
       count(*) AS distinct_chars,
       round(log2(sum(k)) - sum(k * log2(k)) / sum(k), 4) + 0.0
         AS entropy_bits
FROM per GROUP BY doc_id
"""


# --- keyword top terms per document (tf-then-rarity ranking) -----------------
# The per-document keyword extraction every retrieval/labeling pipeline
# runs beside BM25's query-side scoring. RANKING SEMANTICS, stated
# honestly: terms rank by the DETERMINISTIC INTEGER TRIPLE
# (tf desc, df asc, term asc) — "most frequent in the doc, rarest in
# the corpus" — NOT by the float tf*idf product. The two orders agree
# within a fixed tf (idf strictly decreases in df) but CAN disagree
# across tf values (tf=2/df=1 may out-score tf=3/df=large on true
# tf*idf); the integer ranking is chosen because it is bit-exact on
# both engines, whereas ranking on the float score would expose the
# gate to cross-engine ln() last-ulp flips at round boundaries (the
# Q10 .005-boundary class). The smooth-idf score column
# (tf * (ln((N+1)/(df+1)) + 1), sklearn's smoothing) is emitted as
# display metadata, rounded per the engine convention. N is one bounded
# driver-side count (the linkage.py bounded-metadata class). Scale:
# explode + two map-side-combined aggs + one term-keyed join; the rank
# window partitions by doc.
_TFIDF_TOPK = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one scalar, bounded driver traffic
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    # document frequency as count(*) OVER (PARTITION BY term): tf has
    # exactly one row per (doc, term), so the windowed count IS df — and
    # it rides the tf relation directly instead of re-planning the whole
    # scan+tokenize+aggregate subtree under a second aggregate and
    # joining back (r15; same fix as dedup_source_priority)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0
    return (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TFIDF_TOPK)
        .select(
            "doc_id",
            "rnk",
            "term",
            "tf",
            "df",
            (F.round(F.col("tf") * idf, 4) + 0.0).alias("score"),
        )
    )


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, token AS term FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
    FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC)
           AS rnk
  FROM tf JOIN df USING (term)
)
SELECT doc_id, rnk, term, tf, df,
       round(tf * (ln(((SELECT count(*) FROM documents) + 1.0) / (df + 1.0))
                   + 1.0), 4) + 0.0 AS score
FROM ranked WHERE rnk <= {_TFIDF_TOPK}
"""


# --- compression-ratio quality signal ----------------------------------------
# len(zlib(text))/len(text) — the classic cheap redundancy detector the
# published corpus-washing recipes use beside entropy (highly repetitive
# boilerplate compresses far below prose; random bytes barely compress).
# DuckDB has no zlib, so the gate registers ROWS-ONLY; bit-exact evidence
# is the pytest differential against direct python zlib on the same
# bytes (tests/test_pipeline.py), the bpe_learned_merges precedent.
# Scale: one Arrow-batched mapInPandas stage, row-local, zero shuffle;
# ratio emitted as integer ppm (floor), n/z byte counts exact.
_ZLIB_LEVEL = 6


def compression_ratio_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = [s.encode("utf-8") for s in pdf["text"].fillna("")]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(b) for b in raw],
                    "z_bytes": [len(zlib.compress(b, _ZLIB_LEVEL)) for b in raw],
                }
            )

    res = docs.mapInPandas(batches, "doc_id long, n_bytes long, z_bytes long")
    return res.select(
        "doc_id",
        "n_bytes",
        "z_bytes",
        F.expr("z_bytes * 1000000L div greatest(n_bytes, 1L)").alias(
            "ratio_ppm"
        ),
    )


# --- Python UDTF surface (Spark 4 @udtf via LATERAL) -----------------------
# The registered table function (functions/udtf.py) consumed the way a
# user would — FROM documents, LATERAL linq_bigrams(text) — then rolled
# up per document. The oracle rebuilds the identical bigram relation
# declaratively (split + list_transform + unnest), so the gate checks
# the UDTF's one-to-many emission, the lateral correlation, AND the
# tokenization contract in one go. All outputs integer-exact.
def udtf_bigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.functions.udtf import register_udtfs
    from linqonsteroids_spark.sources.parquet import register_views

    register_udtfs(spark)
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        """
        SELECT d.doc_id, count(*) AS n_bigrams,
               count(DISTINCT t.w1 || '_' || t.w2) AS n_distinct,
               CAST(min(t.pos) AS BIGINT) AS first_pos,
               CAST(max(t.pos) AS BIGINT) AS last_pos
        FROM documents d, LATERAL linq_bigrams(d.text) t
        GROUP BY d.doc_id
        """
    )


# Polymorphic twin: the SAME lateral consumption but through
# linq_ngrams(text, 3), whose (pos, w1, w2, w3) schema exists only
# because analyze() computed it from the constant 3 at plan time — the
# dynamic-schema UDTF surface gated end-to-end (schema width + values).
# Docs with fewer than 3 tokens emit nothing and drop out of the group.
def udtf_trigram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from linqonsteroids_spark.functions.udtf import register_udtfs
    from linqonsteroids_spark.sources.parquet import register_views

    register_udtfs(spark)
    register_views(spark, sf_dir, ["documents"])
    return spark.sql(
        """
        SELECT d.doc_id, count(*) AS n_trigrams,
               count(DISTINCT t.w1 || '_' || t.w2 || '_' || t.w3)
                 AS n_distinct,
               CAST(max(t.pos) AS BIGINT) AS last_pos
        FROM documents d, LATERAL linq_ngrams(d.text, 3) t
        GROUP BY d.doc_id
        """
    )


UDTF_TRIGRAMS_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), tg AS (
  SELECT doc_id, b.pos AS pos, b.w1 AS w1, b.w2 AS w2, b.w3 AS w3 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks) - 1),
                  i -> struct_pack(pos := i - 1,
                                   w1 := toks[i], w2 := toks[i + 1],
                                   w3 := toks[i + 2]))) AS b
    FROM toked WHERE len(toks) >= 3
  )
)
SELECT doc_id, count(*) AS n_trigrams,
       count(DISTINCT w1 || '_' || w2 || '_' || w3) AS n_distinct,
       CAST(max(pos) AS BIGINT) AS last_pos
FROM tg GROUP BY doc_id
"""


UDTF_BIGRAMS_SQL = """
WITH toked AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '') AS toks
  FROM documents
), bg AS (
  SELECT doc_id, b.pos AS pos, b.w1 AS w1, b.w2 AS w2 FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
                  i -> struct_pack(pos := i - 1,
                                   w1 := toks[i], w2 := toks[i + 1]))) AS b
    FROM toked WHERE len(toks) >= 2
  )
)
SELECT doc_id, count(*) AS n_bigrams,
       count(DISTINCT w1 || '_' || w2) AS n_distinct,
       CAST(min(pos) AS BIGINT) AS first_pos,
       CAST(max(pos) AS BIGINT) AS last_pos
FROM bg GROUP BY doc_id
"""


# --- mapInArrow: the zero-pandas Python tier --------------------------------
# One API tier below mapInPandas: the kernel receives pyarrow
# RecordBatches and never materializes a DataFrame — no pandas object
# boxing, no index, the columns stay Arrow buffers end to end. The right
# tier for columnar kernels (pyarrow.compute is C++) over wide batches;
# this engine's media/codec paths use mapInPandas because they need
# per-row Python objects — this gate pins the leaner tier with exact
# cross-engine semantics (single-space split counts and an ASCII
# uppercase regex count, both deterministic).
def arrow_native_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(
                        pc.list_value_length(pc.split_pattern(text, " ")),
                        pa.int64(),
                    ),
                    pc.cast(
                        pc.count_substring_regex(text, "[A-Z]"), pa.int64()
                    ),
                ],
                ["doc_id", "n_parts", "n_upper"],
            )

    return docs.mapInArrow(
        kernel, "doc_id long, n_parts long, n_upper long"
    )


ARROW_TOKEN_STATS_SQL = """
SELECT doc_id,
       CAST(len(str_split(text, ' ')) AS BIGINT) AS n_parts,
       CAST(len(regexp_extract_all(text, '[A-Z]')) AS BIGINT) AS n_upper
FROM documents
"""


# --- positional-postings phrase search (r12) --------------------------------
# Exact phrase retrieval the index-native way: inverted_postings serves
# bag-of-words queries, but a PHRASE needs positions — the classic
# positional-postings design (Lucene's exact-phrase path). Each side of
# the phrase filters the (doc, pos, token) relation to ONE term, then a
# pure hash equi-join on (doc_id, pos+1 = pos) finds adjacent pairs; at
# 100 TB this touches only the two terms' postings, never re-scanning
# text — the scalable alternative to LIKE over the corpus. Adjacency is
# folded into the join KEY (pa + 1 precomputed), so the plan is a plain
# two-column hash join, no theta condition. Oracle: DuckDB recomputes
# occurrences per doc with an index-aware list_filter over the same
# whitespace tokenization.
_PHRASE = ("merge", "join")


def phrase_search_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
            "pos", "token"
        ),
    )
    a = pos.filter(F.col("token") == _PHRASE[0]).select(
        "doc_id", (F.col("pos") + 1).alias("next_pos")
    )
    b = pos.filter(F.col("token") == _PHRASE[1]).select(
        F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    hits = a.join(
        b,
        (a.doc_id == F.col("doc_b")) & (a.next_pos == F.col("pos_b")),
    )
    return hits.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )


PHRASE_SEARCH_SQL = f"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS arr
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(len(list_filter(range(1, len(arr)),
              i -> arr[i] = '{_PHRASE[0]}' AND arr[i+1] = '{_PHRASE[1]}'))
           AS BIGINT) AS n_occurrences
  FROM d
)
SELECT doc_id, n_occurrences FROM c WHERE n_occurrences > 0
"""


QUERIES = {
    "token_frequencies": (token_frequencies, TOKEN_FREQUENCIES_SQL),
    "phrase_search_postings": (phrase_search_postings, PHRASE_SEARCH_SQL),
    "arrow_native_token_stats": (
        arrow_native_token_stats,
        ARROW_TOKEN_STATS_SQL,
    ),
    "udtf_bigram_stats": (udtf_bigram_stats, UDTF_BIGRAMS_SQL),
    "udtf_trigram_stats": (udtf_trigram_stats, UDTF_TRIGRAMS_SQL),
    "char_entropy_scores": (char_entropy_scores, CHAR_ENTROPY_SQL),
    "tfidf_top_terms": (tfidf_top_terms, TFIDF_SQL),
    # rows-only: DuckDB has no zlib; pytest differential is the evidence
    "compression_ratio_scores": (compression_ratio_scores, None),
    "bigram_surprisal": (bigram_surprisal, BIGRAM_SURPRISAL_SQL),
    "token_stats_bpe": (token_stats_bpe, TOKEN_BPE_SQL),
    "lang_id": (lang_id, LANG_ID_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "doc_fingerprints": (doc_fingerprints, DOC_FINGERPRINTS_SQL),
    "doc_quality": (doc_quality, DOC_QUALITY_SQL),
    "vocab_coverage": (vocab_coverage, VOCAB_COVERAGE_SQL),
    "unigram_surprisal": (unigram_surprisal, UNIGRAM_SURPRISAL_SQL),
    "vocab_growth_curve": (vocab_growth_curve, VOCAB_GROWTH_SQL),
    # rows-only: iterative argmax control flow (see bpe_learned_merges doc)
    "bpe_learned_merges": (bpe_learned_merges, None),
    # hash-checkable companion: ENCODE with the frozen merge table
    "bpe_encode_segments": (bpe_encode_segments, BPE_ENCODE_SQL),
    "bm25_doc_scores": (bm25_doc_scores, BM25_SQL),
    "inverted_postings": (inverted_postings, INVERTED_POSTINGS_SQL),
    "quality_model_scores": (quality_model_scores, QUALITY_MODEL_SQL),
    "hashed_count_vectors": (hashed_count_vectors, HASHED_VECTORS_SQL),
}
