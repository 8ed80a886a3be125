"""Exact n-gram Jaccard similarity — the verification tier above MinHash.

Jaccard over *distinct* 3-gram shingle sets, computed only for pairs that
share at least one shingle (the natural join pruning). A document-frequency
cap drops ultra-common shingles before the self-join: at 100 TB a shingle
appearing in 10⁶ docs would alone generate 10¹² pairs — the DF cap bounds
per-shingle fan-out to C(cap, 2) and loses only pairs whose entire overlap
is stop-shingles (standard practice; cap is a declared parameter, and the
oracle applies the identical cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linqonsteroids_spark.dedup.shingles import shingles_df
from linqonsteroids_spark.session import materialize

DEFAULT_DF_CAP = 100


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    df_cap: int = DEFAULT_DF_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_a < id_b, jaccard) for pairs with Jaccard ≥ threshold."""
    # The (doc, shingle) relation feeds several consumers (DF counts +
    # the cap join; sizes + the pair side): the before-plan ran the scan +
    # explode + distinct EIGHT times for one pair set (r15). Materializing
    # the capped relation too is a net loss at sf0.1 (nearly as large,
    # cheap to recompute). The DF cap still runs count-only BEFORE any
    # per-shingle collection, so a stop-shingle never accumulates an
    # unbounded bucket.
    sh = materialize(
        shingles_df(docs, id_col, text_col).distinct(), "jaccard_pairs: shingles"
    )
    # doc-frequency cap (see module docstring)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    kept = sh.join(
        df_counts.filter(F.col("df") <= df_cap).select("shingle"), "shingle"
    )
    sizes = kept.groupBy(id_col).agg(F.count("*").alias("sz"))
    # co-occurrence via per-shingle grouping + row-local i<j expansion
    # (the fuzzy-blocking pattern): bucket size is bounded by df_cap, so
    # the expansion is bounded by C(df_cap, 2) per shingle — one shuffle
    # on the shingle key instead of a sort-merge self-join over two more
    # re-executions of the capped relation
    pair_expr = F.flatten(
        F.expr(
            "transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids) - i - 1), "
            "y -> struct(x AS id_a, y AS id_b)))"
        )
    )
    inter = (
        kept.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") > 1)
        .select(F.explode(pair_expr).alias("e"))
        .groupBy(F.col("e.id_a").alias("id_a"), F.col("e.id_b").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_oracle_sql(
    threshold: float = 0.5, df_cap: int = DEFAULT_DF_CAP, table: str = "documents"
) -> str:
    from linqonsteroids_spark.dedup.shingles import DUCK_SHINGLES, DUCK_TOKS

    return f"""
WITH toks_t AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM {table}
),
sh AS (
  SELECT DISTINCT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks_t
),
kept AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {df_cap})
),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {threshold}
"""
