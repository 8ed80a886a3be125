"""Fuzzy record linkage operators: sorted-neighborhood candidate generation.

The reference has no record-linkage surface (north-star addition per
SURVEY §2 scope); the design here is the classic sorted-neighborhood
method (SNM, Hernandez & Stolfo, SIGMOD '95): totally order the records
by a sort key that places likely matches near each other, then compare
each record only with its next ``window`` neighbors. Candidate count is
EXACTLY bounded by N * window — linear in the relation, unlike key
blocking whose worst case is quadratic when the key's cardinality does
not grow with N (the r4 `fuzzy_part_pairs` bug: an 8-value block key
produced ~25M candidates at sf0.1 and O(N^2) growth).

Scale design (100 TB):
- The global rank is computed WITHOUT a single-partition window: records
  hash-shuffle on a value-derived bucket (a sort-key prefix), get a
  per-bucket ``row_number``, and a driver-side cumulative-offset table
  (one row per bucket — bounded metadata, broadcast back) lifts local
  ranks to global ones. Because the bucket is a prefix of the sort key,
  (bucket, key) order == key order. Everything is deterministic given
  the data — no RangePartitioner sampling whose seed varies per job —
  so recomputation across Spark jobs cannot disagree (rank is safe to
  use twice without caching).
- Parallelism of the rank stage is bounded by bucket cardinality: pick
  ``bucket_len`` so prefixes split the corpus finely (4 chars ≈ 1e5+
  buckets on natural text; raise it at larger N).
- Neighbor pairing is an equi-join on ``floor(rank / window)`` with side
  A exploded to its own and the successor block — ≤2 rows per record in,
  ≤ N * window candidate rows out, AQE-balanced like any hash join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from linqonsteroids_spark.session import materialize


def global_rank(
    df: DataFrame,
    key: str,
    tiebreak: str,
    bucket_len: int = 4,
    rank_col: str = "rn",
) -> DataFrame:
    """Add a 0-based dense global rank by ``(key, tiebreak)``.

    ``key`` must be a string column; ``tiebreak`` must make the order
    total (a unique id). The rank is exact and deterministic: bucket =
    ``substring(key, 1, bucket_len)`` is a prefix of ``key``, so
    per-bucket ``row_number`` plus the cumulative count of all earlier
    buckets equals the global ``row_number`` over ``(key, tiebreak)``.

    The bucket-count collect is bounded by bucket cardinality (one long
    per distinct prefix — metadata-sized, same class as the touched-
    bucket collect in the incremental-MV merge).
    """
    bkt = F.substring(F.col(key), 1, bucket_len)
    counts = sorted(
        df.groupBy(bkt.alias("__bkt")).count().collect(),
        key=lambda r: "" if r["__bkt"] is None else r["__bkt"],
    )
    offsets, acc = [], 0
    for r in counts:
        offsets.append(("" if r["__bkt"] is None else r["__bkt"], acc))
        acc += r["count"]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, schema="__bkt string, __off long")
    local = (
        F.row_number().over(
            Window.partitionBy("__bkt").orderBy(F.col(key).asc(), F.col(tiebreak).asc())
        )
        - 1
    )
    return (
        df.withColumn("__bkt", F.coalesce(bkt, F.lit("")))
        .join(F.broadcast(off_df), "__bkt")
        .withColumn(rank_col, local + F.col("__off"))
        .drop("__bkt", "__off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key: str,
    id_col: str,
    window: int = 10,
    bucket_len: int = 4,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All (a, b) record pairs within ``window`` positions of each other
    in the ``(key, id_col)`` sort order; a precedes b. Output columns:
    ``{c}_a`` / ``{c}_b`` for ``id_col``, ``key`` and ``extra_cols``.

    Candidate count ≤ N * window by construction (linear in N)."""
    # both block sides below re-derive the ranked relation; materialize
    # it once so the scan + rank window executes once, not twice (r15)
    ranked = materialize(
        global_rank(df, key, id_col, bucket_len=bucket_len),
        "sorted_neighborhood_pairs: ranked records",
    )
    cols = (id_col, key, *extra_cols)
    blk = (F.col("rn") / window).cast("long")
    a = ranked.select(
        *[F.col(c).alias(f"{c}_a") for c in cols],
        F.col("rn").alias("rn_a"),
        F.explode(F.array(blk, blk + 1)).alias("__blk"),
    )
    b = ranked.select(
        *[F.col(c).alias(f"{c}_b") for c in cols],
        F.col("rn").alias("rn_b"),
        blk.alias("__blk"),
    )
    return (
        a.join(b, "__blk")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") <= F.col("rn_a") + window)
        )
        .drop("__blk")
    )


def length_prefilter(name_a: Column, name_b: Column, max_dist: int) -> Column:
    """Levenshtein lower bound: ``|len(a) - len(b)| <= max_dist``.

    Cheap codegen comparison that rejects candidates before the O(len^2)
    edit-distance computation runs."""
    return F.abs(F.length(name_a) - F.length(name_b)) <= max_dist


def deletion_neighborhood_pairs(
    df: DataFrame, col: str, k: int = 1
) -> DataFrame:
    """All distinct value pairs of ``col`` within edit distance ``k``
    (columns ``a`` < ``b``; k ∈ {1, 2}) — LOSSLESS blocking, unlike the
    windowed sorted-neighborhood above, which trades recall for its
    linear candidate bound.

    The block key is the deletion neighborhood (the SymSpell scheme):
    D(s) = {s} ∪ {s minus one character}. Two strings are within one
    edit (insert/delete/substitute) iff their neighborhoods intersect —
    a substitution at position i shares the position-i deletion, an
    insertion shares the inserted character's deletion with the shorter
    string itself, equality is the identity element — so an equi-join on
    the exploded neighborhood finds EVERY qualifying pair. Neighborhoods
    can also intersect for distance-2 pairs (delete different positions,
    e.g. "ab"/"ba" share both "a" and "b"), so candidates are verified
    with one exact ``levenshtein`` call; verification cost is bounded by
    the candidate count, never N².

    100 TB shape: O(N·L) short variant rows into one equi-join shuffle
    at k=1, O(N·L²/2) at k=2 — never an all-pairs comparison, no
    driver-side state. The completeness argument generalizes to any k
    (an optimal alignment's ≤k substituted/deleted positions removed
    from each side leaves a common string reachable by ≤k deletions per
    side), so ``k=2`` is the exact-distance-2 tier: variants multiply
    by ~C(L,2), the right trade for SHORT join keys (names, codes,
    SKUs). Beyond that the variant blowup loses to MinHash/SimHash
    banding (dedup/) — this operator is the exact-k tier of the
    fuzzy-matching ladder."""
    if k not in (1, 2):
        raise ValueError(
            f"k={k}: supported exact tiers are 1 and 2; use the banded "
            "dedup operators for coarser similarity"
        )
    # D(s) including the identity: i == length yields s unchanged
    d1 = (
        "transform(sequence(0, length({x})), {i} -> "
        "concat(substring({x}, 1, {i}), substring({x}, {i} + 2)))"
    )
    if k == 1:
        variants = f"array_distinct({d1.format(x='_s', i='i')})"
    else:
        inner = d1.format(x="t", i="j")
        variants = (
            "array_distinct(flatten(transform("
            f"{d1.format(x='_s', i='i')}, t -> {inner})))"
        )
    v = (
        df.select(F.col(col).cast("string").alias("_s"))
        .where(F.col("_s").isNotNull())
        .distinct()
        .select("_s", F.explode(F.expr(variants)).alias("_v"))
    )
    # Candidate generation is a groupBy on the variant key with row-local
    # i<j pair expansion, not a self-join: the old self-join planned the
    # distinct-names + variant-explosion subtree TWICE (once per side)
    # and Catalyst pushed the levenshtein verify INTO the join condition
    # — below the pair distinct() — so the O(L²) edit distance ran once
    # per (pair, shared variant): ~L-fold redundancy at k=1, ~L²/2-fold
    # at k=2, the dominant cost of the operator. Bucket sizes are
    # bounded by how many strings share one deletion variant (alphabet-
    # sized), so the expansion is row-local and skew-free (r15).
    buckets = v.groupBy("_v").agg(F.array_sort(F.collect_set("_s")).alias("ss"))
    pair_expr = F.flatten(
        F.expr(
            "transform(ss, (x, i) -> "
            "transform(slice(ss, i + 2, size(ss) - i - 1), "
            "y -> struct(x AS a, y AS b)))"
        )
    )
    # barrier: materialize the DISTINCT pair set so the verify below
    # cannot be pushed beneath the dedup — each surviving pair pays
    # for exactly ONE levenshtein evaluation
    cand = materialize(
        buckets.where(F.size("ss") > 1)
        .select(F.explode(pair_expr).alias("e"))
        .select("e.a", "e.b")
        .distinct(),
        "deletion_neighborhood_pairs: candidate pairs",
    )
    # thresholded levenshtein (Spark >= 3.5): the banded kernel computes
    # O((2k+1)·L) cells instead of the full O(L²) matrix and returns -1
    # past the threshold, so `>= 0` is exactly `distance <= k` — same
    # early-exit form fuzzy_part_pairs already uses (r15)
    return cand.where(F.levenshtein("a", "b", k) >= 0)
