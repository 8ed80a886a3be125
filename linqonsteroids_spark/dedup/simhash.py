"""SimHash near-duplicate detection (hamming-distance similarity).

Default configuration: 48-bit SimHash (48 rather than 64 keeps the hash
inside a signed int64 in both engines AND md5-hex-sliceable for the
DuckDB oracle replay): per distinct token, ``h = int(md5(token)[0:12],
16)``; bit j of the signature is 1 iff at least half the tokens have bit
j set.

Deterministic & oracle-reproducible (md5 + integer bit ops agree between
Spark and DuckDB — verified: conv/substr vs ('0x'||…)::BIGINT, xor,
bit_count, shifts).

Scale: signature computation is one groupBy(doc) with ``n_bits``
conditional sums (map-side combined). Near-pair search uses multi-block
compound-key blocking (Manku, Jain & Sarma, WWW '07 §3): split the
``n_bits`` bits into ``n_blocks`` blocks and equi-join on every
C(n_blocks, k) combination of k blocks concatenated into one compound
key, k = n_blocks - d. d differing bits touch at most d blocks, leaving
>= n_blocks - d blocks untouched, so some combination's compound key
matches exactly (pigeonhole) — the blocked search finds EXACTLY the
all-pairs Hamming<=d set.

Choosing the configuration for corpus size: expected candidate pairs are
~C(n_blocks, k) * N^2 / 2^(block_bits * k) — the key space must outgrow
N^2. The default d=3 scheme here (48 bits, 6 blocks, k=3 → 24-bit keys,
C(6,3)=20 combos) gives ~16.7M buckets, right for ~10^5-10^7 docs. At
~10^9 docs use the production configuration from the same paper: 64
bits, 8 blocks, k=5 → 40-bit compound keys, C(8,5)=56 combos — ~10^12
buckets, keeping expected candidates ~56·N²/2⁴⁰ manageable. That scheme
is a CONFIG CHANGE here (``n_bits=64, n_blocks=8``; the 64-bit tier
hashes via xxhash64 since 16 md5 hex digits overflow signed int64), not
a rewrite — completeness of the 8-block instantiation is pinned in
tests/test_dedup.py::test_simhash_blocking_8block_complete.

Sub-quadratic candidate growth is asserted in
tests/test_dedup.py::test_simhash_candidate_growth_subquadratic.
"""

from __future__ import annotations

from functools import reduce
from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linqonsteroids_spark.dedup.shingles import tokens_df
from linqonsteroids_spark.session import materialize

N_BITS = 48
N_BLOCKS = 6
BLOCK_BITS = N_BITS // N_BLOCKS


def _hash_col(n_bits: int):
    """Per-token hash of exactly ``n_bits`` bits. md5 hex slicing up to 60
    bits (oracle-replayable); the full-width 64-bit tier uses xxhash64
    (16 md5 hex digits would overflow signed int64 in the conv cast)."""
    if n_bits == 64:
        return F.xxhash64(F.col("token"))
    if n_bits % 4 or n_bits > 60:
        raise ValueError("n_bits must be a multiple of 4 <= 60, or exactly 64")
    return F.conv(F.substring(F.md5(F.col("token")), 1, n_bits // 4), 16, 10).cast(
        "long"
    )


def _bit_term(j: int):
    """Signature contribution of bit j as a signed long (two's complement:
    bit 63 is the sign bit, so its weight is -(2^63))."""
    return F.lit(-(2**63) if j == 63 else 2**j).cast("long")


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = N_BITS,
) -> DataFrame:
    """(id, simhash) — ``n_bits``-bit signature as bigint (two's
    complement for the 64-bit tier); tokenless docs drop out. ``id_col``
    may be any name but ``simhash``, the output column."""
    if id_col == "simhash":
        raise ValueError("id_col 'simhash' collides with the output column")
    # the id rides under an internal name: an id_col named ``token``
    # would collide with the column tokens_df explodes
    ided = docs.select(F.col(id_col).alias("__sh_id"), text_col)
    toks = tokens_df(ided, "__sh_id", text_col).distinct()
    toks = toks.select("__sh_id", _hash_col(n_bits).alias("__sh_h"))
    # bit j: majority vote — popcount(tokens with bit set) * 2 >= n_tokens
    # (zero-fill shift: the hash is negative in the 64-bit xxhash64 tier).
    # Built as TWO parsed SQL expressions instead of ~200 Column calls
    # (r16; the bloom-literal lesson applied to plan construction): the
    # per-bit popcounts ride one array() aggregate and the vote-sum is a
    # flat HOF, so the py4j/analyzer cost no longer scales with n_bits —
    # the old per-bit Column chain spent ~1 s of DRIVER time per
    # invocation building and analyzing the 48-column plan. The vote sum
    # adds long terms in the same ascending-j order as before
    # (shiftleft(1L, 63) wraps to the two's-complement sign weight
    # exactly as _bit_term did); integer arithmetic, bit-identical. The
    # internal columns carry a ``__sh_`` prefix so no caller's ``id_col``
    # can collide with them.
    bs = ",".join(
        f"sum((shiftrightunsigned(__sh_h, {j}) & 1))" for j in range(n_bits)
    )
    agg = toks.groupBy("__sh_id").agg(
        F.expr("count(*)").alias("__sh_n"),
        F.expr(f"array({bs})").alias("__sh_bs"),
    )
    return agg.select(
        F.col("__sh_id").alias(id_col),
        F.expr(
            f"aggregate(sequence(0, {n_bits - 1}), 0L, (acc, j) -> "
            "acc + IF(element_at(__sh_bs, j + 1) * 2 >= __sh_n, "
            "shiftleft(1L, j), 0L))"
        ).alias("simhash"),
    )


def _combo_size(max_hamming: int, n_blocks: int = N_BLOCKS) -> int:
    """Blocks per compound key: complete for d <= n_blocks - k, so pick
    k = n_blocks - d (clamped to [1, n_blocks-1]; d > n_blocks-1 degrades
    to recall-only, which no production path uses)."""
    return min(n_blocks - 1, max(1, n_blocks - max_hamming))


def simhash_blocked(
    sig: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    n_bits: int = N_BITS,
    n_blocks: int = N_BLOCKS,
) -> DataFrame:
    """(id, simhash, bkey): one row per (doc, block combination), where
    bkey packs the combination id and its blocks' values into one bigint
    equi-join key (Manku WWW'07 multi-block blocking)."""
    block_bits = n_bits // n_blocks
    k = _combo_size(max_hamming, n_blocks)
    keys = []
    for ci, combo in enumerate(combinations(range(n_blocks), k)):
        key = F.lit(ci * 2 ** (block_bits * k)).cast("long")
        for pos, blk in enumerate(combo):
            # zero-fill shift + AND mask: correct for negative signatures
            block_val = F.shiftrightunsigned(
                F.col("simhash"), blk * block_bits
            ).bitwiseAND(F.lit(2**block_bits - 1))
            key = key + block_val * F.lit(2 ** (block_bits * pos)).cast("long")
        keys.append(key)
    # max key = (C(n_blocks,k)-1) * 2^(block_bits*k) + 2^(block_bits*k)
    # <= 2^45 for 48/6/k=3, <= 2^46 for 64/8/k=5 — comfortably in int64
    return sig.select(
        F.col(id_col), "simhash", F.explode(F.array(*keys)).alias("bkey")
    )


def simhash_pairs_from_signatures(
    sig: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    n_bits: int = N_BITS,
    n_blocks: int = N_BLOCKS,
) -> DataFrame:
    """(id_a < id_b, hamming) pairs within ``max_hamming`` over a
    precomputed (id, simhash) relation — the blocking engine shared by
    every configuration tier (48/6 default, 64/8 production).

    Dedup-by-construction, not by distinct(): a close pair matches MANY
    combinations (a hamming-0 pair matches all of them), so each
    candidate row carries its combination id and survives only at the
    pair's CANONICAL combination — the first one whose blocks are all
    untouched by the pair's differing bits, computed row-locally from
    xor via a 2^n_blocks-entry lookup. Every qualifying pair then
    appears exactly once and the multi-million-row distinct() shuffle
    disappears entirely.
    """
    block_bits = n_bits // n_blocks
    k = _combo_size(max_hamming, n_blocks)
    combos = list(combinations(range(n_blocks), k))
    # the signatures feed BOTH join sides; each side then re-derives only
    # the cheap block-key explode from the materialized rows (r15)
    sig = materialize(sig, "simhash_pairs_from_signatures: signatures")
    # canonical combination per touched-block mask: the first combo fully
    # disjoint from the mask (-1 = none; only possible past the
    # completeness bound, where the hamming filter rejects the pair anyway)
    canon = [
        next(
            (ci for ci, c in enumerate(combos) if not any(m >> b & 1 for b in c)),
            -1,
        )
        for m in range(1 << n_blocks)
    ]
    blocked = simhash_blocked(sig, max_hamming, id_col, n_bits, n_blocks)
    a = blocked.select(
        "bkey", F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a")
    )
    b = blocked.select(
        F.col("bkey").alias("bkey_b"),
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sig_b"),
    )
    diff = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    mask = reduce(
        lambda acc, i: acc
        + F.when(
            F.shiftrightunsigned(diff, i * block_bits).bitwiseAND(
                F.lit(2**block_bits - 1)
            )
            != 0,
            F.lit(1 << i),
        ).otherwise(F.lit(0)),
        range(n_blocks),
        F.lit(0),
    )
    combo_id = F.shiftrightunsigned(F.col("bkey"), block_bits * k)
    return (
        a.join(b, (a.bkey == b.bkey_b) & (a.id_a < b.id_b))
        .filter(
            (F.bit_count(diff) <= max_hamming)
            & (combo_id == F.element_at(F.array(*[F.lit(c) for c in canon]), mask + 1))
        )
        .select("id_a", "id_b", F.bit_count(diff).alias("hamming"))
    )


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = N_BITS,
    n_blocks: int = N_BLOCKS,
) -> DataFrame:
    """(id_a < id_b, hamming) pairs within ``max_hamming``, found via
    multi-block compound-key blocking (no all-pairs cross join; exact —
    same pairs as the quadratic form — for max_hamming <= n_blocks-1)."""
    sig = simhash_signatures(docs, id_col, text_col, n_bits)
    return simhash_pairs_from_signatures(sig, max_hamming, id_col, n_bits, n_blocks)


def simhash_oracle_sql(table: str = "documents") -> str:
    """DuckDB SQL reproducing the DEFAULT 48-bit signatures exactly (the
    md5-slice tier; the 64-bit xxhash64 tier has no cross-engine replay)."""
    from linqonsteroids_spark.dedup.shingles import DUCK_TOKS

    bit_sums = ",\n         ".join(
        f"sum((h >> {j}) & 1) AS b{j}" for j in range(N_BITS)
    )
    sig_sum = " + ".join(
        f"CASE WHEN b{j} * 2 >= n THEN {2**j}::BIGINT ELSE 0 END" for j in range(N_BITS)
    )
    return f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest({DUCK_TOKS}) AS token FROM {table}
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(token), 1, 12))::BIGINT AS h FROM tok
),
agg AS (
  SELECT doc_id, count(*) AS n,
         {bit_sums}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, {sig_sum} AS simhash FROM agg
"""
