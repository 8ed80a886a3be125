"""Dedup-operator behavior tests on synthetic near-duplicates.

The oracle differential covers signature/pair exactness on real tables;
these tests check the *semantics*: near-dups are caught, unrelated docs
are not, and blocking never has to fall back to all-pairs.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linqonsteroids_spark.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash_near_pairs,
    simhash_signatures,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and birds sing in the garden outside"
    )
    near = base.replace("warm", "cold")  # one-token edit → near-dup
    other = (
        "completely different subject matter about distributed query engines "
        "processing petabytes of columnar data with vectorized execution"
    )
    return spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)],  # 4 = exact dup of 1
        "doc_id long, text string",
    )


def test_minhash_finds_near_and_exact_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs).collect()}
    assert (1, 4) in pairs  # exact dup: all bands collide
    assert (1, 2) in pairs or (2, 4) in pairs  # near-dup: ≥1 band collides
    assert (1, 3) not in pairs and (2, 3) not in pairs  # unrelated


def test_minhash_signature_is_deterministic(docs):
    s1 = sorted(map(tuple, minhash_signatures(docs).collect()))
    s2 = sorted(map(tuple, minhash_signatures(docs).collect()))
    assert s1 == s2


def test_simhash_hamming_ladder(docs):
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs).collect()}
    assert sigs[1] == sigs[4]  # identical text → identical signature
    ham_near = bin(sigs[1] ^ sigs[2]).count("1")
    ham_far = bin(sigs[1] ^ sigs[3]).count("1")
    assert ham_near < ham_far

    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_pairs(docs, max_hamming=6).collect()}
    assert pairs.get((1, 4)) == 0
    assert (1, 3) not in pairs


@pytest.mark.parametrize("id_col", ["n", "h", "bs", "token"])
def test_simhash_signatures_id_col_may_shadow_internal_names(docs, id_col):
    # the signature SQL names its own columns; an id column spelled like
    # one of them must neither collide nor change a single bit
    for n_bits in (48, 64):
        want = {
            r.doc_id: r.simhash
            for r in simhash_signatures(docs, n_bits=n_bits).collect()
        }
        got = {
            r[id_col]: r.simhash
            for r in simhash_signatures(
                docs.withColumnRenamed("doc_id", id_col),
                id_col=id_col,
                n_bits=n_bits,
            ).collect()
        }
        assert got == want


def test_simhash_signatures_refuses_output_name_as_id_col(docs):
    with pytest.raises(ValueError, match="simhash"):
        simhash_signatures(
            docs.withColumnRenamed("doc_id", "simhash"), id_col="simhash"
        )


def test_simhash_blocked_equals_quadratic(spark):
    """Pigeonhole completeness on random-ish signatures: the multi-block
    blocked search returns EXACTLY the all-pairs Hamming<=3 set."""
    from linqonsteroids_spark.dedup.simhash import N_BITS

    import random

    rng = random.Random(7)
    sigs = [rng.getrandbits(N_BITS) for _ in range(60)]
    # plant near-dups at hamming 1..3 of sigs[0]
    for d in (1, 2, 3):
        s = sigs[0]
        for b in rng.sample(range(N_BITS), d):
            s ^= 1 << b
        sigs.append(s)
    sig_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "doc_id long, simhash long"
    )
    from linqonsteroids_spark.dedup.simhash import simhash_blocked

    blocked = simhash_blocked(sig_df, max_hamming=3)
    a = blocked.selectExpr("bkey", "doc_id as id_a", "simhash as sig_a")
    b = blocked.selectExpr("bkey as bkey_b", "doc_id as id_b", "simhash as sig_b")
    got = {
        (r.id_a, r.id_b)
        for r in a.join(b, (a.bkey == b.bkey_b) & (a.id_a < b.id_b))
        .selectExpr("id_a", "id_b", "bit_count(sig_a ^ sig_b) as h")
        .filter("h <= 3")
        .distinct()
        .collect()
    }
    want = {
        (i, j)
        for i in range(len(sigs))
        for j in range(i + 1, len(sigs))
        if bin(sigs[i] ^ sigs[j]).count("1") <= 3
    }
    assert got == want and len(want) >= 3  # the planted pairs are present


def test_simhash_candidate_growth_subquadratic(spark):
    """Candidate-pair growth must be FAR below the old constant-bucket
    scheme's N^2/4096: with 24-bit compound keys, random signatures
    produce ~20*C(N,2)/2^24 expected candidates — effectively linear at
    any N this engine meets per partition. Pin the measured counts."""
    import random

    from linqonsteroids_spark.dedup.simhash import simhash_blocked

    rng = random.Random(11)
    counts = {}
    for n in (2000, 4000):
        sig_df = spark.createDataFrame(
            [(i, rng.getrandbits(48)) for i in range(n)],
            "doc_id long, simhash long",
        )
        blocked = simhash_blocked(sig_df, max_hamming=3)
        a = blocked.selectExpr("bkey", "doc_id as id_a")
        b = blocked.selectExpr("bkey as bkey_b", "doc_id as id_b")
        counts[n] = a.join(b, (a.bkey == b.bkey_b) & (a.id_a < b.id_b)).count()
    # old scheme at N=4000: 4000^2/4096 ≈ 3,906 candidates MINIMUM (uniform);
    # new scheme expectation: 20 * C(4000,2) / 2^24 ≈ 9.5
    assert counts[4000] < 4000 * 4000 / 4096 / 10
    # growth ratio ~4x (quadratic in the tiny expectation) but absolute
    # counts stay negligible — the bucket space scales with key width,
    # not a constant 16,384
    assert counts[4000] < 200


def test_simhash_blocking_8block_complete(spark):
    """The production ~10^9-doc configuration (Manku WWW'07: 64 bits, 8
    blocks, k=5 -> 40-bit compound keys, C(8,5)=56 combos) is a config
    change, not a rewrite: the blocked search over crafted 64-bit
    signatures — including negative (sign-bit-set) ones, which exercise
    the zero-fill shifts — returns EXACTLY the all-pairs Hamming<=3 set,
    each pair exactly once (canonical-combination dedup, no distinct)."""
    import random

    from linqonsteroids_spark.dedup.simhash import simhash_pairs_from_signatures

    rng = random.Random(17)

    def to_signed(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    sigs = [rng.getrandbits(64) for _ in range(80)]
    # plant near-dups at hamming 1..3, including flips of bit 63
    for d in (1, 2, 3):
        s = sigs[0]
        for b in [63] + rng.sample(range(63), d - 1):
            s ^= 1 << b
        sigs.append(s)
    sigs.append(sigs[1] ^ (1 << 63))  # pure sign-bit flip: hamming 1
    assert any(s >= 1 << 63 for s in sigs)  # negatives present
    sig_df = spark.createDataFrame(
        [(i, to_signed(s)) for i, s in enumerate(sigs)],
        "doc_id long, simhash long",
    )
    rows = simhash_pairs_from_signatures(
        sig_df, max_hamming=3, n_bits=64, n_blocks=8
    ).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert len(rows) == len(got)  # exactly-once, no distinct needed
    want = {
        (i, j): bin(sigs[i] ^ sigs[j]).count("1")
        for i in range(len(sigs))
        for j in range(i + 1, len(sigs))
        if bin(sigs[i] ^ sigs[j]).count("1") <= 3
    }
    assert got == want and len(want) >= 4  # planted pairs all found


def test_semantic_dedup_reps_semantics(spark):
    """Centroid-linkage SemDeDup: one output row per input vector, the
    representative is a member of its own cluster and is never flagged as
    a duplicate, and planted near-identical vectors ARE flagged."""
    import random

    from linqonsteroids_spark.dedup.semantic import semantic_dedup_reps

    rng = random.Random(3)
    dim = 8
    cents = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(3)]
    rows = []
    for c_idx, c in enumerate(cents):
        rows.append((c_idx * 10, list(c)))  # exactly at centroid -> the rep
        # a tiny perturbation of the rep: must be flagged as a dup
        rows.append((c_idx * 10 + 1, [x * 1.0001 for x in c]))
        for j in range(2, 8):  # noisy members of the same cluster
            rows.append(
                (c_idx * 10 + j, [x + rng.uniform(-0.4, 0.4) for x in c])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_reps(emb, cents, threshold=0.999)
    got = {r.vec_id: r for r in out.collect()}
    assert len(got) == len(rows)  # linear: one row per vector, no pairs
    for c_idx in range(3):
        rep = got[c_idx * 10]
        assert rep.rep_id == rep.vec_id and not rep.is_dup
        assert rep.cos_sim == 1.0
        planted = got[c_idx * 10 + 1]
        assert planted.cell == rep.cell
        assert planted.is_dup and planted.cos_sim > 0.999


def test_jaccard_exact_values(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in jaccard_pairs(docs, threshold=0.1).collect()}
    assert pairs[(1, 4)] == 1.0  # identical shingle sets
    assert 0.5 < pairs[(1, 2)] < 1.0  # one-token edit kills ~3 shingles
    assert (1, 3) not in pairs


def test_jaccard_df_cap_drops_stop_shingles(spark):
    # every doc shares 'a b c'; cap=2 must drop it, leaving no pairs
    df = spark.createDataFrame(
        [(i, "a b c unique%d token%d word%d" % (i, i, i)) for i in range(5)],
        "doc_id long, text string",
    )
    with_cap = jaccard_pairs(df, threshold=0.01, df_cap=2).count()
    without_cap = jaccard_pairs(df, threshold=0.01, df_cap=100).count()
    assert with_cap == 0 and without_cap == 10  # all C(5,2) share 'a b c'


def test_minhash_and_shingles_skip_null_text(spark):
    # NULL text must behave like the JVM path (lower(trim(NULL)) -> no
    # shingles, doc silently dropped), not raise AttributeError in the
    # Arrow stage; non-ASCII NBSP whitespace must NOT split tokens (the
    # re.ASCII pin — JVM/RE2 \s parity).
    from linqonsteroids_spark.dedup.minhash import minhash_signatures
    from linqonsteroids_spark.dedup.shingles import shingles_df

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, None),
            (3, "one two three four five"),  # NBSP inside a "token"
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs)
    assert {r.doc_id for r in sigs.select("doc_id").collect()} == {1, 3}
    sh = shingles_df(docs)
    got = {r.shingle for r in sh.filter("doc_id = 3").collect()}
    # NBSP kept inside the first token: 3 tokens -> shingle count matches
    assert got == {"one two three four", "three four five"}


def test_leakage_safe_split_clusters_never_straddle(spark):
    """The split's whole point: every member of a near-dup component gets
    the same split label, and the three splits are all non-empty at
    sf0.001... (sf smoke) scale with singletons split by own id."""
    from linqonsteroids_spark.queries.dedup import leakage_safe_split
    from tests.conftest import SF_SMOKE

    rows = leakage_safe_split(spark, SF_SMOKE).collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r.group_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_group.values())  # no straddling
    assert len({r.split for r in rows}) >= 2  # nontrivial partition
    # at least one multi-doc group exists (the near-dup corpus guarantees it)
    from collections import Counter
    sizes = Counter(r.group_id for r in rows)
    assert max(sizes.values()) > 1


def test_lsh_recall_report_truth_sampling(spark):
    """The 100 TB methodology knob: a deterministic doc-universe sample
    shrinks the exact-truth quadratic side while the recall/precision
    estimates stay close to the full measurement (both are 10^6-scale
    ppm; at this corpus the generator is at full recall, so sampled and
    full agree exactly — the pin allows estimator noise)."""
    from linqonsteroids_spark.queries.dedup import lsh_recall_report
    full = lsh_recall_report(
        spark, "/root/testdata/sf0.01", truth_fraction=1.0
    ).collect()[0]
    samp = lsh_recall_report(
        spark, "/root/testdata/sf0.01", truth_fraction=0.5
    ).collect()[0]
    assert samp.n_true < full.n_true  # the sample actually shrank the truth side
    assert samp.n_true > 0  # and still measures something
    assert abs(samp.recall_ppm - full.recall_ppm) <= 100_000
    assert abs(samp.precision_ppm - full.precision_ppm) <= 100_000


def test_simhash_64bit_tier_frozen_values(spark):
    """Value evidence for the PRODUCTION 64-bit xxhash64 tier, which has
    no DuckDB differential (xxhash64 is not in DuckDB): signatures on a
    fixed crafted corpus are pinned to frozen literals, AND recomputed
    independently in python from the per-token xxhash64 values (majority
    vote over two's-complement bits) — so both the hash tier and the
    bit-vote aggregation have cross-checked value evidence, not just
    structural pytest pins."""
    from linqonsteroids_spark.dedup.simhash import simhash_signatures

    corpus = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumped over a lazy dog"),
        (3, "pack my box with five dozen liquor jugs"),
        (4, "single"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash_signatures(df, n_bits=64).collect()}
    frozen = {
        1: -7568822615590329869,
        2: -6997415244563500808,
        3: 3957502917676552918,
        4: 6107264898130582690,
    }
    assert got == frozen

    # independent recompute: per-token xxhash64 from the engine, majority
    # vote in python (bit j set iff popcount*2 >= n_tokens, signed 64-bit)
    toks = {
        did: sorted(set(text.split()))
        for did, text in corpus
    }
    all_tokens = sorted({t for ts in toks.values() for t in ts})
    hdf = spark.createDataFrame([(t,) for t in all_tokens], "token string")
    hmap = {
        r.token: r.h
        for r in hdf.select("token", F.xxhash64("token").alias("h")).collect()
    }
    for did, ts in toks.items():
        n = len(ts)
        sig = 0
        for j in range(64):
            votes = sum((hmap[t] >> j) & 1 for t in ts)
            if votes * 2 >= n:
                sig += -(2**63) if j == 63 else 2**j
        assert sig == frozen[did], (did, sig)

    # a single-token doc's signature IS its token hash (every bit wins
    # its own vote) — pins the two's-complement assembly end to end
    assert frozen[4] == hmap["single"]


def test_maintain_band_index_recrawl_and_takedown(spark, tmp_path):
    """dedup/minhash.py::maintain_band_index on a MOR-backed band
    index: a re-crawled doc's fresh rows UPSERT over its old ones (band
    numbers are stable per doc — no tombstone bookkeeping), a takedown
    removes every band row of the doc, and the maintained index equals
    a from-scratch rebuild over the final corpus."""
    from linqonsteroids_spark.dedup.minhash import (
        banded_index_rows,
        maintain_band_index,
    )
    from linqonsteroids_spark.operators.mor import MorTable

    def docs(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    corpus0 = docs(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs today"),
        ]
    )
    t = MorTable(spark, str(tmp_path / "bandidx"), "bk")
    t.write_base(banded_index_rows(corpus0))
    recrawl = docs([(1, "an entirely different crawl of document one")])
    v = maintain_band_index(
        t,
        arrivals=recrawl,
        takedown_ids=docs([(2, "")]).select("doc_id"),
    )
    assert v == 1
    maintained = sorted(
        map(tuple, t.read().select("bk", "doc_id", "band", "band_key")
            .collect())
    )
    rebuilt = sorted(
        map(tuple, banded_index_rows(recrawl).collect())
    )
    assert maintained == rebuilt  # doc 2 gone, doc 1 fully re-keyed
    # nothing-to-do call burns no version
    assert maintain_band_index(t) is None
    assert t._existing_versions() == [1]
