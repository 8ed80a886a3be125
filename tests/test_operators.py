"""Unit tests for custom operators: type dispatch, as-of join, range join."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from linqonsteroids_spark.operators.asof import asof_join, range_join
from linqonsteroids_spark.operators.typefilter import if_instance_of, type_mapping
from tests.conftest import jobs_started


@pytest.fixture(scope="module")
def tagged(spark):
    return spark.createDataFrame(
        [(1, "Int", 5), (2, "Double", 7), (3, "String", 9), (4, "Int", 11)],
        "id long, tag string, v long",
    )


def test_type_mapping_subtype_closure(tagged):
    # Number <- {Int, Double}; scalars: Int, Double, String
    mapping = type_mapping(tagged, {"Number": ["Int", "Double"]})
    assert {r.id for r in mapping["Number"].collect()} == {1, 2, 4}
    assert {r.id for r in mapping["Int"].collect()} == {1, 4}
    assert {r.id for r in mapping["Double"].collect()} == {2}


def test_if_instance_of_option_semantics(tagged):
    out = {r.id: r.value for r in if_instance_of(
        tagged, "Int", lambda df: df["v"] * 10
    ).collect()}
    assert out == {1: 50, 2: None, 3: None, 4: 110}


def _t(m):
    return dt.datetime(2024, 1, 1, 12, m)


def test_asof_join_strict_vs_inclusive(spark):
    left = spark.createDataFrame(
        [(1, "u", _t(10)), (2, "u", _t(20)), (3, "v", _t(5))],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [("u", _t(10), 100), ("u", _t(15), 150), ("w", _t(1), 999)],
        "k string, t timestamp, px long",
    )
    strict = {r.id: r.asof_px for r in asof_join(
        left, right, on="k", left_time="t", right_time="t", value_cols=["px"]
    ).collect()}
    # id=1: right@10 NOT visible (strict); id=2 sees 15→150; id=3: no rights
    assert strict == {1: None, 2: 150, 3: None}

    inclusive = {r.id: r.asof_px for r in asof_join(
        left, right, on="k", left_time="t", right_time="t",
        value_cols=["px"], strict=False,
    ).collect()}
    assert inclusive == {1: 100, 2: 150, 3: None}


def test_asof_join_tiebreak_deterministic(spark):
    left = spark.createDataFrame([(1, "u", _t(10))], "id long, k string, t timestamp")
    right = spark.createDataFrame(
        [("u", _t(5), 7, 70), ("u", _t(5), 9, 90)],
        "k string, t timestamp, rid long, px long",
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        value_cols=["px"], right_tiebreak="rid",
    ).collect()
    assert out[0].asof_px == 90  # max rid wins the equal-timestamp tie


def test_range_join_binned_equals_naive(spark):
    points = spark.createDataFrame([(i,) for i in range(0, 100, 7)], "p long")
    ranges = spark.createDataFrame(
        [(0, 10, "a"), (5, 40, "b"), (90, 200, "c")], "lo long, hi long, name string"
    )
    naive = {(r.p, r.name) for r in range_join(points, ranges, "p", "lo", "hi").collect()}
    binned = {
        (r.p, r.name)
        for r in range_join(points, ranges, "p", "lo", "hi", bin_width=16).collect()
    }
    assert naive == binned
    assert (7, "a") in naive and (7, "b") in naive and (91, "c") in naive
    assert (10, "a") not in naive  # hi is exclusive


def test_asof_join_matched_right_row_is_atomic(spark):
    # the latest prior right row holds NULL in one value column: the output
    # must take BOTH columns from that row (px=None, qty=9) — not resurrect
    # the stale px=70 from the earlier row (per-column fill bug).
    left = spark.createDataFrame([(1, "u", _t(10))], "id long, k string, t timestamp")
    right = spark.createDataFrame(
        [("u", _t(5), 70, 7), ("u", _t(8), None, 9)],
        "k string, t timestamp, px long, qty long",
    )
    out = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        value_cols=["px", "qty"],
    ).collect()
    assert out[0].asof_px is None and out[0].asof_qty == 9


def test_range_join_fractional_upper_bound(spark):
    # hi=100.5 with bin_width=50: the final partial bin (bin 2) must be
    # covered or p=100 in [100, 100.5) silently vanishes.
    points = spark.createDataFrame([(100.0,), (100.4,), (100.5,)], "p double")
    ranges = spark.createDataFrame([(0.0, 100.5, "a")], "lo double, hi double, name string")
    got = {
        r.p for r in range_join(points, ranges, "p", "lo", "hi", bin_width=50).collect()
    }
    assert got == {100.0, 100.4}  # hi exclusive


def test_range_join_negative_values_binned(spark):
    # floor (not cast-truncate) keeps negative points in the right bin
    points = spark.createDataFrame([(-3.0,), (-75.0,), (2.0,)], "p double")
    ranges = spark.createDataFrame([(-80.0, 0.0, "neg")], "lo double, hi double, name string")
    naive = {(r.p, r.name) for r in range_join(points, ranges, "p", "lo", "hi").collect()}
    binned = {
        (r.p, r.name)
        for r in range_join(points, ranges, "p", "lo", "hi", bin_width=50).collect()
    }
    assert naive == binned == {(-3.0, "neg"), (-75.0, "neg")}


def test_salted_join_rejects_unsupported_how(spark):
    from linqonsteroids_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    small = spark.createDataFrame([(1, "y")], "k2 long, w string")
    with pytest.raises(ValueError):
        salted_join(big, small, "k", "k2", how="full")


def test_asof_join_time_bucketed_equals_plain(spark):
    # hot-key bounding: same results through the (key, bucket) window +
    # carry-over path, including carry across EMPTY buckets and the strict
    # boundary (right row exactly at a bucket edge belongs to the next
    # bucket and must not leak backwards).
    import random

    rng = random.Random(7)
    left = spark.createDataFrame(
        [(i, rng.choice(["u", "v"]), _t(rng.randrange(0, 59))) for i in range(200)],
        "id long, k string, t timestamp",
    )
    right = spark.createDataFrame(
        [(rng.choice(["u", "v", "w"]), _t(rng.randrange(0, 59)), i, i * 10)
         for i in range(50)]
        + [("u", _t(10), 999, None)],  # NULL px at a boundary-ish instant
        "k string, t timestamp, rid long, px long",
    )
    kw = dict(on="k", left_time="t", right_time="t",
              value_cols=["px"], right_tiebreak="rid")
    plain = {(r.id, r.asof_px) for r in asof_join(left, right, **kw).collect()}
    bucketed = {
        (r.id, r.asof_px)
        for r in asof_join(left, right, time_bucket_width=600, **kw).collect()
    }
    assert plain == bucketed

    # strict-boundary carry: right row exactly at bucket edge (600s) is in
    # bucket 1; a left row at the same instant must NOT see it (strict)
    l2 = spark.createDataFrame([(1, "u", _t(10))], "id long, k string, t timestamp")
    r2 = spark.createDataFrame(
        [("u", _t(10), 1, 5), ("u", _t(3), 2, 7)],
        "k string, t timestamp, rid long, px long",
    )
    out = asof_join(l2, r2, time_bucket_width=600, **kw).collect()
    assert out[0].asof_px == 7


def test_asof_join_bucketed_window_is_not_keyed_alone(spark):
    # the in-bucket window must partition by (key, bucket) — a hot key
    # spreads over buckets instead of serializing into one task
    left = spark.createDataFrame([(1, "u", _t(10))], "id long, k string, t timestamp")
    right = spark.createDataFrame(
        [("u", _t(5), 1, 5)], "k string, t timestamp, rid long, px long"
    )
    df = asof_join(
        left, right, on="k", left_time="t", right_time="t",
        value_cols=["px"], right_tiebreak="rid", time_bucket_width=600,
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    in_bucket = [s for s in specs if "_t" in s]  # ordered by time = the fill window
    assert in_bucket and all("_b" in s for s in in_bucket)


def test_connected_components_chain_and_islands(spark):
    from linqonsteroids_spark.operators.fixpoint import connected_components

    # chain 1-2-3-4 (one component, diameter 3 — multiple propagation
    # rounds), island pair 10-11, and a separate pair 7-8
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (7, 8)], "id_a long, id_b long"
    )
    got = {r.node: r.label for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7}


def test_connected_components_chain_logarithmic(spark):
    """Pointer jumping: a 1,000-node chain — the adversarial template-spam
    shape — converges in O(log N) rounds (covered distance 2^(k+1)-2 → 9
    rounds for 999 hops), not O(N). Bound at 12 with slack for the final
    no-change detection round."""
    from linqonsteroids_spark.operators.fixpoint import connected_components

    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    stats: dict = {}
    got = connected_components(pairs, stats=stats)
    assert stats["iterations"] <= 12
    rows = got.collect()
    assert len(rows) == n
    assert all(r.label == 0 for r in rows)


def test_transitive_closure_seminaive_equals_doubling(spark):
    from linqonsteroids_spark.operators.fixpoint import transitive_closure

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (7, 8)], "src long, dst long"
    )
    want = sorted(map(tuple, transitive_closure(edges).collect()))
    for bucket in (False, True):
        got = sorted(
            map(
                tuple,
                transitive_closure(
                    edges, strategy="seminaive", bucket_edges=bucket
                ).collect(),
            )
        )
        assert got == want


def test_transitive_closure_rcte_equals_loop_on_dag(spark):
    """The native WITH RECURSIVE lowering (Spark 4) must equal the
    driver-loop strategies on its supported domain (acyclic edges), and
    the capability probe must be positive on this engine. The cyclic
    case deliberately stays with the loop strategies (UNION ALL
    recursion enumerates paths forever on a cycle) — contract in the
    transitive_closure docstring."""
    from linqonsteroids_spark.operators.fixpoint import (
        supports_recursive_cte,
        transitive_closure,
    )

    assert supports_recursive_cte(spark)  # Spark 4.1.2 has SPARK-24497
    # DAG: two chains with a cross link and an island edge
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 5), (2, 4), (4, 5), (8, 9)],
        "src long, dst long",
    )
    want = sorted(map(tuple, transitive_closure(edges).collect()))
    got = sorted(
        map(tuple, transitive_closure(edges, strategy="rcte").collect())
    )
    assert got == want


def test_transitive_closure_bucketed_frontier_join_drops_exchange(spark):
    """Semi-naive TC with bucketed base edges: the per-round frontier⋈edges
    join scans the static side Exchange-free — one fewer Exchange than the
    checkpointed base (the round-2 verdict's 'one fewer Exchange per
    iteration' criterion, pinned on the round body's plan)."""
    from linqonsteroids_spark.operators.fixpoint import _persist_edges

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "src long, dst long"
    ).select("src", "dst")
    frontier = edges.selectExpr("src as f_src", "dst as f_dst")

    def round_body(base):
        from pyspark.sql import functions as F

        return (
            frontier.join(base, F.col("f_dst") == base.src)
            .select(F.col("f_src").alias("src"), F.col("dst"))
            .distinct()
        )

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        plain = exchanges(round_body(_persist_edges(edges, bucket=False, key="src")))
        bucketed = exchanges(round_body(_persist_edges(edges, bucket=True, key="src")))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert bucketed == plain - 1


def test_connected_components_bucketed_edges_drop_exchange(spark):
    """bucket_edges persists the static edge side bucketed on dst: the
    per-round neighbor-min join scans it Exchange-free, so the round body
    has one fewer Exchange than the localCheckpoint path (label side +
    agg still shuffle — those are inherent)."""
    from linqonsteroids_spark.operators.fixpoint import _neighbor_min, _persist_edges

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    edges = pairs.selectExpr("id_a as src", "id_b as dst").unionByName(
        pairs.selectExpr("id_b as src", "id_a as dst")
    )
    labels = edges.selectExpr("src as node").distinct().selectExpr(
        "node", "node as label"
    )

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Exchange")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        plain = exchanges(_neighbor_min(_persist_edges(edges, bucket=False), labels))
        bucketed = exchanges(_neighbor_min(_persist_edges(edges, bucket=True), labels))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert bucketed == plain - 1


# --- sorted-neighborhood linkage (operators/linkage.py) ---------------------
def test_global_rank_matches_window_row_number(spark):
    """global_rank's bucketed two-phase rank must equal the single-window
    row_number over (key, tiebreak) — including keys shorter than the
    bucket prefix and duplicate keys split across buckets."""
    from linqonsteroids_spark.operators.linkage import global_rank

    rows = [
        (1, "apple pie"), (2, "apple pie"), (3, "app"), (4, "banana"),
        (5, "b"), (6, "appliance"), (7, "cherry"), (8, "applesauce"),
        (9, "banana split"), (10, "ap"),
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        r["id"]: r["rn"]
        for r in global_rank(df, "name", "id", bucket_len=4).collect()
    }
    expected = {
        row[0]: i for i, row in enumerate(sorted(rows, key=lambda r: (r[1], r[0])))
    }
    assert got == expected


def test_sorted_neighborhood_candidates_linear(spark):
    """SNM candidate count is exactly sum over ranks of min(window, N-1-rn)
    — i.e. <= N * window, LINEAR in N (the property the r4 last-token
    blocking violated with its O(N^2/8) growth)."""
    from linqonsteroids_spark.operators.linkage import sorted_neighborhood_pairs

    w = 10
    for n in (200, 400):
        df = spark.range(n).selectExpr(
            "id", "concat('name_', lpad(cast(id as string), 6, '0')) as name"
        )
        cands = sorted_neighborhood_pairs(df, key="name", id_col="id", window=w)
        got = cands.count()
        exact = sum(min(w, n - 1 - rn) for rn in range(n))
        assert got == exact
        assert got <= n * w


def test_sorted_neighborhood_pairs_adjacent_in_order(spark):
    """Every emitted pair is within `window` positions in sort order, a
    precedes b, and near-identical names (sort-adjacent) are found."""
    from linqonsteroids_spark.operators.linkage import sorted_neighborhood_pairs

    rows = [(i, f"widget type {chr(97 + i % 7)} v{i}") for i in range(60)]
    rows += [(100, "widget type a v0"), (101, "widget type a v0x")]
    df = spark.createDataFrame(rows, "id long, name string")
    pairs = sorted_neighborhood_pairs(df, key="name", id_col="id", window=5)
    out = pairs.select("id_a", "id_b", "name_a", "name_b").collect()
    order = sorted(rows, key=lambda r: (r[1], r[0]))
    pos = {r[0]: i for i, r in enumerate(order)}
    for r in out:
        assert 1 <= pos[r["id_b"]] - pos[r["id_a"]] <= 5
    # the deliberately-near-duplicate pair is sort-adjacent -> must appear
    assert any(
        {r["id_a"], r["id_b"]} == {100, 101} or {r["id_a"], r["id_b"]} == {0, 100}
        for r in out
    )


# --- duplicated-span detection (operators/spans.py) -------------------------


def test_covered_token_count_merges_overlapping_intervals(spark):
    from linqonsteroids_spark.operators.spans import covered_token_count

    df = spark.createDataFrame([([0, 2, 10],)], "starts array<long>")
    out = df.select(covered_token_count(F.col("starts"), 5).alias("c")).collect()
    # [0,5) ∪ [2,7) ∪ [10,15) → 7 + 5 = 12
    assert out[0]["c"] == 12


def test_duplicated_span_stats_crafted_corpus(spark):
    from linqonsteroids_spark.operators.spans import duplicated_span_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),          # shares "a b c d e" with docs 2, 5
            (2, "x a b c d e y"),
            (3, "p q r s t u v"),          # unique — untouched
            (4, "m m m m m m"),            # WITHIN-doc repeat still counts
            (5, "A  B c D e"),             # case/whitespace-normalized match
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in duplicated_span_stats(docs, n=5).collect()}
    assert rows[1]["n_tokens"] == 7
    assert rows[1]["n_dup_windows"] == 1 and rows[1]["n_dup_tokens"] == 5
    assert rows[1]["dup_ppm"] == 5 * 1_000_000 // 7
    assert rows[2]["n_dup_tokens"] == 5
    assert rows[3]["n_dup_windows"] == 0 and rows[3]["dup_ppm"] == 0
    # doc 4: windows at 0 and 1 hash identically → both dup; union [0,6) = 6
    assert rows[4]["n_dup_windows"] == 2
    assert rows[4]["n_dup_tokens"] == 6 and rows[4]["dup_ppm"] == 1_000_000
    assert rows[5]["n_dup_windows"] == 1 and rows[5]["n_dup_tokens"] == 5


def test_span_stats_shuffles_hashes_not_text(spark):
    """The shuffled relation must carry the 16-byte md5, never the window
    text: no 'span' column may survive past the mapInPandas stage."""
    from linqonsteroids_spark.operators.spans import duplicated_span_stats

    docs = spark.createDataFrame(
        [(i, "w x y z " + " ".join(str(i + j) for j in range(6))) for i in range(20)],
        "doc_id long, text string",
    )
    plan = duplicated_span_stats(docs, n=5)._jdf.queryExecution().executedPlan().toString()
    # the exchange inputs project (doc_id, start, whash); span is pruned
    assert "span" not in plan.split("Exchange")[1] if "Exchange" in plan else True


# --- integer fixed-point PageRank (operators/pagerank.py) -------------------


def test_pagerank_two_node_cycle_is_stationary(spark):
    from linqonsteroids_spark.operators.pagerank import SCALE, pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in pagerank(edges, n_iterations=3).collect()}
    # uniform start scale/2 is exactly stationary under integer arithmetic:
    # base + 85%·(scale/2) = 75e9 + 425e9 = 500e9 = scale/2
    assert ranks == {1: SCALE // 2, 2: SCALE // 2}


def test_pagerank_hub_outranks_leaves_and_is_deterministic(spark):
    from linqonsteroids_spark.operators.pagerank import SCALE, pagerank

    pairs = [(1, k) for k in (2, 3, 4)] + [(k, 1) for k in (2, 3, 4)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    a = {r["node"]: r["rank"] for r in pagerank(edges, n_iterations=3).collect()}
    b = {
        r["node"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame(list(reversed(pairs)), "src long, dst long"),
            n_iterations=3,
        ).collect()
    }
    assert a == b  # integer arithmetic: input order cannot flip any bit
    assert a[1] > a[2] and a[2] == a[3] == a[4]  # symmetry is exact
    assert sum(a.values()) <= SCALE  # floor losses only ever shrink mass


def test_covered_token_count_randomized_vs_set_union(spark):
    """200 random start-sets in ONE DataFrame vs the brute-force position
    set union — the row-local interval merge must agree exactly."""
    import random

    rng = random.Random(42)
    n = 5
    cases = []
    for i in range(200):
        starts = sorted(rng.sample(range(0, 60), rng.randint(0, 12)))
        expect = len({p for s in starts for p in range(s, s + n)})
        cases.append((i, starts, expect))
    from linqonsteroids_spark.operators.spans import covered_token_count

    df = spark.createDataFrame(cases, "i long, starts array<long>, expect long")
    got = df.select(
        "i", "expect", covered_token_count(F.col("starts"), n).alias("c")
    ).collect()
    bad = [(r["i"], r["expect"], r["c"]) for r in got if r["c"] != r["expect"]]
    assert not bad, f"interval merge disagrees with set union: {bad[:5]}"


# --- distributed BPE merge learning (operators/bpe.py) ----------------------


def _ref_bpe(word_freqs: dict, k: int, min_pair_freq: int = 2):
    """Pure-Python reference (Sennrich et al. get_stats/merge loop) with the
    operator's deterministic tiebreak: max count, then lexicographically
    smallest pair."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for _ in range(k):
        stats: dict = {}
        for w, f in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                stats[(s[i], s[i + 1])] = stats.get((s[i], s[i + 1]), 0) + f
        if not stats:
            break
        best_count = max(stats.values())
        if best_count < min_pair_freq:
            break
        a, b = min(p for p, c in stats.items() if c == best_count)
        merges.append((a, b, best_count))
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    return merges


def test_bpe_crafted_vocabulary(spark):
    from linqonsteroids_spark.operators.bpe import train_bpe

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(list(freqs.items()), "word string, freq long")
    got = train_bpe(words, n_merges=6)
    assert got == _ref_bpe(freqs, 6)
    # classic example: 'est' forms early from newest+widest (freq 9)
    assert got[0] == ("e", "s", 9) and got[1] == ("es", "t", 9)


def test_bpe_matches_reference_on_corpus(spark):
    """Bit-exact differential vs the pure-Python reference on the real
    sf0.001 documents table — the rows-only gate's correctness evidence."""
    from linqonsteroids_spark.catalog import load_table
    from linqonsteroids_spark.operators.bpe import train_bpe, word_frequencies
    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    wf = word_frequencies(docs)
    freqs = {r["word"]: r["freq"] for r in wf.collect()}
    got = train_bpe(wf, n_merges=8)
    assert got == _ref_bpe(freqs, 8)
    assert len(got) == 8  # real text: 8 merges always reachable


def test_bpe_merge_is_left_to_right_nonoverlapping(spark):
    from linqonsteroids_spark.operators.bpe import train_bpe

    # "aaaa"×3: pair (a,a) counts 9 (overlapping stats), but the merge is
    # non-overlapping: aaaa → (aa)(aa), so round 2 sees (aa,aa) count 3
    words = spark.createDataFrame([("aaaa", 3)], "word string, freq long")
    got = train_bpe(words, n_merges=2)
    assert got == [("a", "a", 9), ("aa", "aa", 3)]


# --- degree-oriented triangle counting (operators/triangles.py) -------------


def test_triangle_count_crafted_graphs(spark):
    from linqonsteroids_spark.operators.triangles import triangle_count

    def count(pairs):
        e = spark.createDataFrame(pairs, "lo long, hi long")
        return triangle_count(e).collect()[0]["n_triangles"]

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert count(k4) == 4
    star = [(0, k) for k in range(1, 8)]  # hub with no closing edges
    assert count(star) == 0
    assert count(star + [(1, 2)]) == 1  # one closed wedge through the hub


def test_triangle_orientation_equals_naive_on_random_graph(spark):
    """The degree-oriented count must equal the naive ordered 3-way join
    on a random graph (including skewed degrees)."""
    import random

    rng = random.Random(7)
    pairs = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.randint(0, 30), rng.randint(0, 30)) for _ in range(250)
            )
            if a != b
        }
    )
    from linqonsteroids_spark.operators.triangles import triangle_count

    e = spark.createDataFrame(pairs, "lo long, hi long")
    got = triangle_count(e).collect()[0]["n_triangles"]
    es = set(pairs)
    naive = sum(
        1
        for (a, b) in pairs
        for c in range(31)
        if b < c and (a, c) in es and (b, c) in es
    )
    assert got == naive > 0


def test_triangle_wedges_bounded_by_orientation(spark):
    """A degree-d hub must generate ZERO wedges from its own
    neighborhood: orientation points every hub edge INTO the hub, so the
    star's wedge relation is empty (the curse-of-the-last-reducer fix)."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.triangles import orient_edges

    star = spark.createDataFrame(
        [(0, k) for k in range(1, 101)], "lo long, hi long"
    )
    oriented = orient_edges(star)
    # leaves (deg 1) orient toward the hub (deg 100): out_deg(hub) == 0
    assert oriented.filter(F.col("src") == 0).count() == 0
    out_degs = oriented.groupBy("src").count()
    assert out_degs.agg(F.max("count")).collect()[0][0] == 1


def test_bpe_apply_merges_segments_like_training_state(spark):
    """Encoding a training word with the learned merges reproduces the
    training loop's final symbol state (train/encode consistency)."""
    from linqonsteroids_spark.operators.bpe import apply_merges, train_bpe

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(list(freqs.items()), "word string, freq long")
    merges = train_bpe(words, n_merges=6)
    seg = {
        r["word"]: r["syms"] for r in apply_merges(words, merges).collect()
    }
    # reference final state from the pure-Python loop
    syms = {w: list(w) for w in freqs}
    for a, b, _ in merges:
        for w, s in syms.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    assert seg == syms
    # unseen word segments with learned subwords, zero shuffle
    unseen = spark.createDataFrame([("lowest", 1)], "word string, freq long")
    enc = apply_merges(unseen, merges)
    assert "Exchange" not in enc._jdf.queryExecution().executedPlan().toString()
    assert "".join(enc.collect()[0]["syms"]) == "lowest"


def test_remove_duplicated_spans_crafted(spark):
    from linqonsteroids_spark.operators.spans import remove_duplicated_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "x a b c d e y"),
            (3, "p q r s t u v"),
            (4, "m m m m m m"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in remove_duplicated_spans(docs, n=5).collect()}
    assert rows[1].clean_text == "f g" and rows[1].n_kept == 2
    assert rows[2].clean_text == "x y" and rows[2].n_kept == 2
    assert rows[3].clean_text == "p q r s t u v" and rows[3].n_kept == 7
    assert rows[4].clean_text == "" and rows[4].n_kept == 0


def test_bloom_semi_reduce_superset_and_pruning(spark):
    """Bloom semi-join reduction: the reduced probe is a SUPERSET of the
    true semi-join (no false negatives — the correctness contract) and a
    small fraction of the full probe (the pruning contract); composing
    with the real join equals the plain join exactly."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.bloomjoin import bloom_semi_reduce

    probe = spark.range(20000).selectExpr("id AS k", "id * 2 AS payload")
    build = spark.range(100).selectExpr("id * 97 AS k")  # 100 of 20000 match
    reduced = bloom_semi_reduce(probe, build, "k", "k")
    n_reduced = reduced.count()
    true_keys = {r.k for r in build.filter("k < 20000").collect()}
    reduced_keys = {r.k for r in reduced.collect()}
    assert true_keys <= reduced_keys  # no false negatives
    # pruning: with m=2^17 bits / 100 keys, FP rate is tiny — the reduced
    # probe must be a sliver of the 20k rows
    assert n_reduced < 1000
    joined = sorted(
        (r.k, r.payload) for r in reduced.join(build, "k").collect()
    )
    plain = sorted((r.k, r.payload) for r in probe.join(build, "k").collect())
    assert joined == plain
    # the probe test is one row-local filter pass: no joins, no exchanges
    # of any kind in the reduced-probe plan
    plan = reduced._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


def test_bloom_semi_reduce_mixed_key_widths(spark):
    """xxhash64 is input-TYPE sensitive (INT 5 and BIGINT 5 hash
    differently), so an INT probe key against a BIGINT build key — which
    an equi-join silently tolerates via implicit cast — must still honor
    the no-false-negative contract (round-6 advisor find; keys are
    normalized to BIGINT before hashing)."""
    from linqonsteroids_spark.operators.bloomjoin import bloom_semi_reduce

    probe = spark.range(5000).selectExpr(
        "cast(id AS int) AS k", "id * 2 AS payload"
    )
    build = spark.range(50).selectExpr("cast(id * 83 AS bigint) AS k")
    assert dict(probe.dtypes)["k"] == "int"
    assert dict(build.dtypes)["k"] == "bigint"
    reduced_keys = {r.k for r in bloom_semi_reduce(probe, build, "k", "k").collect()}
    true_keys = {r.k for r in build.filter("k < 5000").collect()}
    assert true_keys <= reduced_keys  # no false negatives across widths


def test_bloom_semi_reduce_refuses_bool_words(spark, monkeypatch):
    """A bitmap word must be exactly an int: bool is an int subclass and
    would be inlined into the SQL array literal as True/False."""
    import pytest

    from linqonsteroids_spark.operators import bloomjoin

    words = spark.createDataFrame([(0, True)], "word int, bits boolean")
    monkeypatch.setattr(bloomjoin, "bloom_bitmap", lambda build, key: words)
    probe = spark.range(10).selectExpr("id AS k")
    with pytest.raises(TypeError, match="non-int bitmap words"):
        bloomjoin.bloom_semi_reduce(probe, probe, "k", "k")


def test_asof_join_nearest_semantics(spark):
    """direction='nearest' contract: closer side wins, backward wins |d|
    ties and equal times, tolerance nulls far matches, max tiebreak
    breaks equal-time duplicates."""
    from linqonsteroids_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 200), (3, "b", 100), (4, "c", 100),
         (5, "d", 100), (6, "e", 100)],
        "lid long, k string, t long",
    )
    right = spark.createDataFrame(
        [("a", 90, 10), ("a", 105, 11),      # lid 1: fwd 105 closer (5 vs 10)
         ("a", 195, 12), ("a", 205, 13),     # lid 2: tie |5| -> backward 195
         ("b", 100, 14),                     # lid 3: equal time -> delta 0
         ("c", 300, 15),                     # lid 4: outside tolerance
         ("d", 95, 16), ("d", 95, 17),       # lid 5: dup time -> max id 17
         ],                                  # lid 6 ("e"): no right at all
        "k string, rt long, rid long",
    )
    out = {
        r.lid: (r.nearest_rid, r.nearest_delta)
        for r in asof_join_nearest(
            left, right, on="k", left_time="t", right_time="rt",
            value_cols=["rid"], right_tiebreak="rid", tolerance=50,
        ).collect()
    }
    assert out[1] == (11, 5)
    assert out[2] == (12, -5)
    assert out[3] == (14, 0)
    assert out[4] == (None, None)
    assert out[5] == (17, -5)
    assert out[6] == (None, None)


def test_interval_overlap_join_equals_bruteforce(spark):
    """Grid-bucketed interval join: same pairs as the quadratic
    cross+filter form, each exactly once (first-shared-cell claim, no
    distinct), across cell-straddling intervals, touching endpoints,
    and same-key restriction."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.intervals import interval_overlap_join

    rows_l = [
        # (key, id, start, end) — spans chosen to straddle cell_size=10
        (1, 1, 0, 25), (1, 2, 24, 30), (1, 3, 40, 41), (2, 4, 0, 100),
        (1, 5, 31, 39),
    ]
    rows_r = [
        (1, 10, 25, 27), (1, 11, 5, 8), (1, 12, 39, 45), (2, 13, 99, 99),
        (3, 14, 0, 100),
    ]
    left = spark.createDataFrame(rows_l, "k long, lid long, ls long, le long")
    right = spark.createDataFrame(rows_r, "k long, rid long, rs long, re long")
    got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", cell_size=10, keys=["k"]
        ).collect()
    }
    want = {
        (ld, rd)
        for (lk, ld, ls, le) in rows_l
        for (rk, rd, rs, re) in rows_r
        if lk == rk and max(ls, rs) <= min(le, re)
    }
    assert got == want and len(want) >= 5
    # exactly-once: collect with duplicates preserved
    all_rows = interval_overlap_join(
        left, right, "ls", "le", "rs", "re", cell_size=10, keys=["k"]
    ).collect()
    assert len(all_rows) == len(got)
    # open-interval mode drops touching endpoints
    open_got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            left, right, "ls", "le", "rs", "re", cell_size=10, keys=["k"],
            closed=False,
        ).collect()
    }
    assert (2, 10) in got and (2, 10) in open_got  # real overlap 25..27
    assert (1, 10) in got and (1, 10) not in open_got  # touch at 25 only
    assert open_got == {
        (ld, rd)
        for (lk, ld, ls, le) in rows_l
        for (rk, rd, rs, re) in rows_r
        if lk == rk and max(ls, rs) < min(le, re)
    }


def test_deletion_neighborhood_join_is_hash_not_cartesian(spark):
    """The lossless fuzzy join's 100 TB contract: candidates come from
    variant-key blocking — since r15 a groupBy on the neighborhood key
    with row-local i<j expansion (one hash Exchange, bucket-bounded
    work) — never a CartesianProduct/BroadcastNestedLoop scan of all
    pairs, and never a join that re-plans the variant pipeline per
    side."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.linkage import (
        deletion_neighborhood_pairs,
    )

    df = spark.range(500).select(
        F.concat(F.lit("item-"), F.lpad(F.col("id").cast("string"), 6, "0"))
        .alias("s")
    )
    pairs = deletion_neighborhood_pairs(df, "s")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, (
        plan[:2000]
    )
    # the verify runs ABOVE the materialized distinct candidate set —
    # exactly one levenshtein per surviving pair (Catalyst would push it
    # below the dedup otherwise; the checkpoint barrier is load-bearing)
    assert "levenshtein" in plan and "ExistingRDD" in plan, plan[:2000]
    # sanity: item-000009 / item-000010 differ by 2 edits (no pair);
    # crafted distance-1 values must appear
    df2 = spark.createDataFrame(
        [("item-1",), ("item-2",), ("itexm-1",)], ["s"]
    )
    got = sorted(map(tuple, deletion_neighborhood_pairs(df2, "s").collect()))
    assert got == [("item-1", "item-2"), ("item-1", "itexm-1")]


def test_snapshot_diff_digest_only_shuffle_and_classes(spark):
    """snapshot_diff's scale contract: each side reduces to
    (key, xxhash64) BEFORE the full-outer join — the join's input
    projections must not carry payload columns — and the three change
    classes are exact on a crafted pair of snapshots."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.tablediff import snapshot_diff

    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "x"]
    )
    v2 = spark.createDataFrame(
        [(2, "b", 20.0), (3, "CHANGED", 30.0), (4, "d", 40.0)],
        ["k", "s", "x"],
    )
    got = sorted(map(tuple, snapshot_diff(v1, v2, ["k"]).collect()))
    assert got == [(1, "removed"), (3, "changed"), (4, "added")]
    plan = (
        snapshot_diff(v1, v2, ["k"])
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    # payload columns are digested away below the join: the logical plan
    # references them only inside xxhash64 projections, and the join
    # itself sees two (k, digest) relations
    assert "xxhash64" in plan and "FullOuter" in plan.replace(" ", ""), plan
    # type-mismatch safety: xxhash64 is type-sensitive, so the operator
    # must refuse incomparable sides instead of silently mis-hashing
    v2_wide = v2.withColumn("x", F.col("x").cast("float"))
    import pytest

    with pytest.raises(ValueError, match="type"):
        snapshot_diff(v1, v2_wide, ["k"])


def test_snapshot_diff_null_swap_is_changed(spark):
    """The r12 verdict's confirmed blind spot, pinned: Spark's hash
    functions SKIP null inputs, so xxhash64(NULL,'x') == xxhash64('x',
    NULL) — a value MOVING between two same-typed compared columns
    (nulling the vacated one) used to digest as unchanged. The digest
    now folds in each column's null-ness, so the swap classifies
    'changed'."""
    from pyspark.sql.types import StringType, StructField, StructType

    from linqonsteroids_spark.operators.tablediff import snapshot_diff

    schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("a", StringType(), True),
            StructField("b", StringType(), True),
        ]
    )
    v1 = spark.createDataFrame([("k1", "x", None), ("k2", "y", None)], schema)
    v2 = spark.createDataFrame([("k1", None, "x"), ("k2", "y", None)], schema)
    got = sorted(map(tuple, snapshot_diff(v1, v2, ["k"]).collect()))
    assert got == [("k1", "changed")]


def test_snapshot_diff_columns_projection(spark):
    """snapshot_diff_columns: WHICH columns changed, per key, from
    per-column digests riding the same full-outer join. NULL→value and
    value→NULL both register; added/removed rows carry an empty array."""
    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
    )

    from linqonsteroids_spark.operators.tablediff import (
        snapshot_diff_columns,
    )

    schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("a", StringType(), True),
            StructField("b", StringType(), True),
        ]
    )
    v1 = spark.createDataFrame(
        [("k1", "x", "p"), ("k2", "y", None), ("k3", "z", "q"), ("k4", "w", "r")],
        schema,
    )
    v2 = spark.createDataFrame(
        [("k1", "X", "P"), ("k2", None, "y"), ("k3", "z", "q"), ("k5", "v", "s")],
        schema,
    )
    got = {
        r["k"]: (r["change_type"], r["changed_columns"])
        for r in snapshot_diff_columns(v1, v2, ["k"]).collect()
    }
    assert got == {
        "k1": ("changed", ["a", "b"]),
        "k2": ("changed", ["a", "b"]),  # null-swap: BOTH columns moved
        "k4": ("removed", []),
        "k5": ("added", []),
    }


def test_snapshot_diff_bucketed_prunes_and_matches_flat(spark):
    """Hierarchical diff (r13): bucket digests localize the change, the
    row-level join runs only over touched buckets, and the result is
    EXACTLY the flat diff's. A single changed key must touch exactly one
    bucket; identical snapshots must short-circuit to zero buckets
    without any row-level join."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.tablediff import (
        snapshot_diff,
        snapshot_diff_bucketed,
    )

    v1 = spark.range(2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    v2 = v1.withColumn(
        "s", F.when(F.col("k") == 777, F.lit("CHANGED")).otherwise(F.col("s"))
    )
    flat = sorted(map(tuple, snapshot_diff(v1, v2, ["k"]).collect()))
    diff, changed, n = snapshot_diff_bucketed(v1, v2, ["k"], n_buckets=64)
    assert sorted(map(tuple, diff.collect())) == flat == [(777, "changed")]
    assert len(changed) == 1 and n == 64  # one key -> one touched bucket
    # identical snapshots: no bucket disagrees, no row-level work at all
    d0, ch0, _ = snapshot_diff_bucketed(v1, v1, ["k"], n_buckets=64)
    assert ch0 == [] and d0.count() == 0
    assert d0.columns == ["k", "change_type"]
    # custom bucket_expr (layout-aligned / oracle-replayable bucketing):
    # same result, and the changed bucket is the expr's value for the key
    d2, ch2, _ = snapshot_diff_bucketed(
        v1, v2, ["k"], n_buckets=64, bucket_expr=F.col("k") % 64
    )
    assert sorted(map(tuple, d2.collect())) == flat
    assert ch2 == [777 % 64]


def test_snapshot_diff_bucketed_xor_cancellation_pinned(spark):
    """The bug the gate differential caught on first contact with real
    data: xor cancels PAIRS, so two different keys carrying IDENTICAL
    payloads that change identically cancelled out of their shared
    bucket's xor (orders keys 515 and 1030, both %103 null-swapped with
    the same status value, same hash bucket) and the change vanished.
    The summary digest now folds in the key; with n_buckets=1 forcing
    every key into one bucket, the pair must still be detected."""
    from pyspark.sql.types import StringType, StructField, StructType

    from linqonsteroids_spark.operators.tablediff import (
        snapshot_diff_bucketed,
    )

    schema = StructType(
        [
            StructField("k", StringType(), False),
            StructField("a", StringType(), True),
            StructField("b", StringType(), True),
        ]
    )
    v1 = spark.createDataFrame(
        [("k1", "F", None), ("k2", "F", None), ("k3", "z", "q")], schema
    )
    v2 = spark.createDataFrame(
        [("k1", None, "F"), ("k2", None, "F"), ("k3", "z", "q")], schema
    )
    diff, changed, _ = snapshot_diff_bucketed(v1, v2, ["k"], n_buckets=1)
    assert sorted(map(tuple, diff.collect())) == [
        ("k1", "changed"),
        ("k2", "changed"),
    ]
    assert changed == [0]


def test_digest_manifest_detects_drift_without_old_snapshot(
    spark, tmp_path
):
    """write_digest_manifest + audit_against_manifest: drift since the
    last audit is detectable from a KB-sized sidecar alone — clean on
    the identical table, localized buckets + row delta after mutation."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.tablediff import (
        audit_against_manifest,
        write_digest_manifest,
    )

    v1 = spark.range(500).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    path = str(tmp_path / "t")
    write_digest_manifest(v1, path, ["k"], n_buckets=32)
    clean = audit_against_manifest(v1, path)
    assert clean["clean"] and clean["changed_buckets"] == []
    v2 = v1.where(F.col("k") != 123).withColumn(
        "s",
        F.when(F.col("k") == 7, F.lit("CORRUPT")).otherwise(F.col("s")),
    )
    drift = audit_against_manifest(v2, path)
    assert not drift["clean"]
    assert 1 <= len(drift["changed_buckets"]) <= 2  # localized
    assert drift["row_delta"] == -1


def _mor_fixture(spark, tmp_path):
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.mor import MorTable

    t = MorTable(spark, str(tmp_path / "mor"), "k")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
        ["k", "s", "x"],
    )
    t.write_base(base)
    # v1: update k=1, delete k=2 and k=3
    t.append_delta(
        1,
        upserts=spark.createDataFrame([(1, "a1", 11.0)], ["k", "s", "x"]),
        delete_keys=spark.createDataFrame([(2,), (3,)], ["k"]),
    )
    # v2: update-over-update k=1, resurrect deleted k=3, insert new k=9
    t.append_delta(
        2,
        upserts=spark.createDataFrame(
            [(1, "a2", 12.0), (3, "c2", 33.0), (9, "new", 90.0)],
            ["k", "s", "x"],
        ),
    )
    return t, F


def test_mor_read_latest_wins_all_transitions(spark, tmp_path):
    """Every MOR transition on one fixture: plain update, delete,
    update-over-update across versions, delete-then-upsert resurrection,
    insert of a never-seen key, and the untouched row."""
    t, _ = _mor_fixture(spark, tmp_path)
    got = sorted(map(tuple, t.read().collect()))
    assert got == [
        (1, "a2", 12.0),   # v2 wins over v1 wins over base
        (3, "c2", 33.0),   # deleted in v1, resurrected by v2
        (4, "d", 40.0),    # untouched
        (9, "new", 90.0),  # pure insert, no base row
    ]


def test_mor_untouched_base_avoids_the_window(spark, tmp_path):
    """The 100 TB contract: the untouched majority of the base flows
    through a BROADCAST anti probe — the executed plan carries exactly
    one Window (the touched/delta leg) and broadcast semi/anti joins,
    never a shuffled join keyed on the full base."""
    t, _ = _mor_fixture(spark, tmp_path)
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    # exactly one Window operator; WindowGroupLimit nodes are the
    # rank-limit pushdown of that same window, not extra shuffles
    assert plan.count("Window [") == 1, plan[:3000]
    flat = plan.replace(" ", "")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in flat, plan[:3000]
    assert "LeftSemi" in flat, plan[:3000]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_mor_append_contract_refusals(spark, tmp_path):
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="increase"):
        t.append_delta(
            2, upserts=spark.createDataFrame([(5, "e", 1.0)], ["k", "s", "x"])
        )
    # a TYPE change on an existing column is refused with the
    # schema_compat class that names the hazard (subset/superset
    # schemas are accepted as evolution — see the evolution test)
    with pytest.raises(ValueError, match="type of existing column"):
        t.append_delta(
            3, upserts=spark.createDataFrame([(5, 7, 1.0)], ["k", "s", "x"])
        )
    with pytest.raises(ValueError, match="key column"):
        t.append_delta(
            3, upserts=spark.createDataFrame([("e", 1.0)], ["s", "x"])
        )
    with pytest.raises(ValueError, match="needs"):
        t.append_delta(3)


def test_mor_no_deltas_is_base_passthrough(spark, tmp_path):
    from linqonsteroids_spark.operators.mor import MorTable

    t = MorTable(spark, str(tmp_path / "mor0"), "k")
    base = spark.createDataFrame([(1, "a")], ["k", "s"])
    t.write_base(base)
    assert [tuple(r) for r in t.read().collect()] == [(1, "a")]


def test_wap_staged_data_is_structurally_invisible(spark, tmp_path):
    """WAP's contract: no reader observes a staged-but-unpublished row.
    Before any publish, read() has no manifest to resolve; after a
    publish, a newer staged snapshot stays invisible until ITS publish."""
    import pytest
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.wap import WapTable

    t = WapTable(spark, str(tmp_path / "wap"))
    v1 = spark.range(10).select(F.col("id").alias("k"))
    s1 = t.stage(v1)
    with pytest.raises(FileNotFoundError):
        t.read()
    t.publish(s1)
    t.stage(spark.range(99).select(F.col("id").alias("k")))  # never published
    assert t.read().count() == 10
    assert t.published_id() == s1


def test_wap_failed_audit_keeps_prior_snapshot_and_reports_counts(
    spark, tmp_path
):
    """A failing audit must raise with exact per-check violation counts,
    leave the manifest untouched, and the rejected staging reclaimable."""
    import pytest
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.wap import AuditFailure, WapTable

    t = WapTable(spark, str(tmp_path / "wap"))
    checks = {"nonneg": F.col("x") >= 0, "small": F.col("x") < 100}
    good = spark.createDataFrame([(1,), (2,)], ["x"])
    s1 = t.stage(good)
    assert t.publish(s1, checks) == [
        {"audit": "nonneg", "n_violations": 0},
        {"audit": "small", "n_violations": 0},
    ]
    bad = spark.createDataFrame([(-1,), (5,), (-7,), (200,)], ["x"])
    s2 = t.stage(bad)
    with pytest.raises(AuditFailure) as exc:
        t.publish(s2, checks)
    assert exc.value.report == [
        {"audit": "nonneg", "n_violations": 2},
        {"audit": "small", "n_violations": 1},
    ]
    assert t.published_id() == s1
    assert sorted(r[0] for r in t.read().collect()) == [1, 2]
    assert t.vacuum() == 1  # only the rejected staging is debris
    assert t.read().count() == 2  # published snapshot survives vacuum


def test_wap_stage_audited_single_pass_matches_post_hoc_audit(
    spark, tmp_path
):
    """stage_audited() computes the audit DURING the staging write (one
    pass); its report must equal a post-hoc audit() of the staged files,
    publish(report=...) must honor it — including the reject path — and
    a report that does not match the persisted one must be ignored in
    favor of a fresh audit (no way to sneak bad data past the gate)."""
    import pytest
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.wap import AuditFailure, WapTable

    t = WapTable(spark, str(tmp_path / "wap"))
    checks = {"nonneg": F.col("x") >= 0, "small": F.col("x") < 100}
    good = spark.createDataFrame([(1,), (2,)], ["x"])
    s1, rep1 = t.stage_audited(good, checks)
    assert rep1 == t.audit(s1, checks)
    assert t.publish(s1, checks, report=rep1) == rep1
    assert t.published_id() == s1
    bad = spark.createDataFrame([(-1,), (5,), (-7,), (200,)], ["x"])
    s2, rep2 = t.stage_audited(bad, checks)
    assert rep2 == [
        {"audit": "nonneg", "n_violations": 2},
        {"audit": "small", "n_violations": 1},
    ]
    with pytest.raises(AuditFailure) as exc:
        t.publish(s2, checks, report=rep2)
    assert exc.value.report == rep2
    assert t.published_id() == s1
    # a forged all-clear report disagrees with the persisted one → fresh
    # audit runs and still rejects
    forged = [
        {"audit": "nonneg", "n_violations": 0},
        {"audit": "small", "n_violations": 0},
    ]
    with pytest.raises(AuditFailure):
        t.publish(s2, checks, report=forged)
    assert t.published_id() == s1


def test_wap_publish_is_compare_and_swap(spark, tmp_path):
    """Optimistic concurrency: a writer whose expectation went stale
    loses with PublishConflict (manifest untouched); re-reading the
    published id and retrying wins. Omitting expect = last-writer-wins."""
    import pytest
    from linqonsteroids_spark.operators.wap import PublishConflict, WapTable

    t = WapTable(spark, str(tmp_path / "wap"))
    s1 = t.stage(spark.createDataFrame([(1,)], ["x"]))
    s2 = t.stage(spark.createDataFrame([(2,)], ["x"]))
    s3 = t.stage(spark.createDataFrame([(3,)], ["x"]))
    # both writers read "nothing published"; the first wins
    t.publish(s1, expect=None)
    with pytest.raises(PublishConflict, match="concurrent writer"):
        t.publish(s2, expect=None)
    assert t.published_id() == s1  # loser left no trace
    t.publish(s2, expect=s1)  # refreshed expectation: rebased retry wins
    assert t.published_id() == s2
    t.publish(s3)  # no expectation: last-writer-wins still available
    assert t.published_id() == s3


def test_mor_compact_folds_log_and_read_needs_no_window(spark, tmp_path):
    t, _ = _mor_fixture(spark, tmp_path)
    import os

    before = sorted(map(tuple, t.read().collect()))
    t.compact()
    assert sorted(map(tuple, t.read().collect())) == before
    assert not os.path.isdir(t._delta_root)  # log folded away
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Join" not in plan  # base passthrough
    # the table stays writable, and versions are GLOBALLY increasing:
    # re-using a folded version number is refused (it would alias a
    # compacted-away history state), the next version works
    import pytest

    with pytest.raises(ValueError, match="compaction horizon"):
        t.append_delta(
            1,
            upserts=spark.createDataFrame([(4, "d2", 44.0)], ["k", "s", "x"]),
        )
    t.append_delta(
        3, upserts=spark.createDataFrame([(4, "d2", 44.0)], ["k", "s", "x"])
    )
    got = {r[0]: (r[1], r[2]) for r in t.read().collect()}
    assert got[4] == ("d2", 44.0) and got[1] == ("a2", 12.0)


def test_mor_compact_crash_windows_recover(spark, tmp_path):
    """(a) between the two renames: base gone, staged complete -> next
    construction promotes the staged snapshot; (b) after the base swap
    but before delta removal: re-applying the log onto the merged base
    is idempotent, so reads are already correct with no recovery."""
    import os
    import shutil

    from linqonsteroids_spark.operators.mor import MorTable

    t, _ = _mor_fixture(spark, tmp_path)
    expected = sorted(map(tuple, t.read().collect()))

    # (a) simulate: staged snapshot written, base renamed away, crash
    t.read().write.parquet(t._staged)
    os.replace(t._base, str(tmp_path / "crashed_base"))
    t2 = MorTable(spark, t.path, "k")  # recovery runs in __init__
    assert os.path.isdir(t2._base) and not os.path.isdir(t2._staged)
    # deltas still present: idempotent re-apply, state unchanged (b)
    assert sorted(map(tuple, t2.read().collect())) == expected

    # incomplete staged debris with a live base is dropped, not promoted
    os.makedirs(t2._staged)
    t3 = MorTable(spark, t.path, "k")
    assert not os.path.isdir(t3._staged)
    assert sorted(map(tuple, t3.read().collect())) == expected
    shutil.rmtree(str(tmp_path / "crashed_base"))


def test_mor_compact_crash_after_promote_reaps_retired_base(
    spark, tmp_path
):
    """r12 verdict item 3: a crash AFTER the staged→base promote but
    before cleanup used to strand `_retired_base.<pid>` (a full table
    copy) and the delta log forever. The recovery sweep now reaps both
    whenever a live base exists — safe because base IS the merged
    snapshot at that point — leaving only `base` on disk."""
    import os

    from linqonsteroids_spark.operators.mor import MorTable

    t, _ = _mor_fixture(spark, tmp_path)
    expected = sorted(map(tuple, t.read().collect()))
    # simulate compact() crashing between its base swap and cleanup:
    # merged snapshot staged, horizon recorded, old base retired,
    # staged promoted — then death before the subsumed delta versions
    # and retired copy are removed. A CONCURRENT writer's v3 lands in
    # the same window: it is above the horizon and must survive.
    t.read().write.parquet(t._staged)
    t._write_meta(2)
    os.replace(t._base, os.path.join(t.path, "_retired_base.12345"))
    os.replace(t._staged, t._base)
    assert os.path.isdir(t._delta_root)  # crash left the log behind
    t.append_delta(
        3, upserts=spark.createDataFrame([(7, "w3", 70.0)], ["k", "s", "x"])
    )

    t2 = MorTable(spark, t.path, "k")  # recovery runs in __init__
    # subsumed versions (<= horizon) and the retired copy are reaped;
    # the concurrent v3 append is NOT (r13 advice: it is committed
    # data the merged base does not subsume)
    assert sorted(os.listdir(t2.path)) == [
        "_commit.lock", "_mor_meta.json", "base", "delta"
    ]  # the lock file is the r15 commit seam's, not compact debris
    assert sorted(os.listdir(t2._delta_root)) == ["mor_v=3"]
    expected_v3 = sorted(expected + [(7, "w3", 70.0)])
    assert sorted(map(tuple, t2.read().collect())) == expected_v3
    # recovery is itself crash-safe to repeat
    t3 = MorTable(spark, t.path, "k")
    assert sorted(map(tuple, t3.read().collect())) == expected_v3


def test_wap_vacuum_zero_retention_keeps_only_live_snapshot(
    spark, tmp_path
):
    """retain_last=0 means 'no time travel, keep only the live
    snapshot' — the advisor's slicing bug (hist[-0:] == whole list)
    used to retain EVERYTHING instead."""
    import pytest

    from linqonsteroids_spark.operators.wap import WapTable

    t = WapTable(spark, str(tmp_path / "wap"))
    for n in (1, 2, 3):
        t.publish(t.stage(spark.range(n).selectExpr("id AS x")))
    assert t.vacuum(retain_last=0) == 2  # versions 1 and 2 reclaimed
    assert t.read().count() == 3  # live snapshot untouched
    with pytest.raises(FileNotFoundError, match="reclaimed"):
        t.read(1)


def test_wap_time_travel_and_vacuum_retention(spark, tmp_path):
    """The manifest log gives 1-based time travel; vacuum's retention
    window bounds it — a reclaimed version refuses loudly instead of
    serving anything else."""
    import pytest
    from linqonsteroids_spark.operators.wap import WapTable

    t = WapTable(spark, str(tmp_path / "wap"))
    for n in (1, 2, 3):
        t.publish(t.stage(spark.range(n).selectExpr("id AS x")))
    assert [t.read(v).count() for v in (1, 2, 3)] == [1, 2, 3]
    assert t.read().count() == 3
    with pytest.raises(FileNotFoundError, match="no publish"):
        t.read(9)
    # retain the last 2 publishes: version 1's snapshot is reclaimed
    assert t.vacuum(retain_last=2) == 1
    with pytest.raises(FileNotFoundError, match="reclaimed"):
        t.read(1)
    assert t.read(2).count() == 2 and t.read().count() == 3


def test_wap_null_valued_check_counts_as_violation(spark, tmp_path):
    """Three-valued logic trap: x >= 0 is NULL for a NULL x, and the
    audit must count that row as a violation — a NULL price is not a
    positive price."""
    import pytest
    from linqonsteroids_spark.operators.wap import AuditFailure, WapTable

    t = WapTable(spark, str(tmp_path / "wap"))
    s = t.stage(
        spark.createDataFrame([(1,), (None,), (2,)], "x int")
    )
    with pytest.raises(AuditFailure) as exc:
        t.publish(s, {"nonneg": __import__("pyspark").sql.functions.col("x") >= 0})
    assert exc.value.report == [{"audit": "nonneg", "n_violations": 1}]


def test_mor_reserved_column_names_are_refused(spark, tmp_path):
    import pytest
    from linqonsteroids_spark.operators.mor import MorTable

    t = MorTable(spark, str(tmp_path / "mor"), "k")
    with pytest.raises(ValueError, match="reserved"):
        t.write_base(spark.createDataFrame([(1, "U")], ["k", "_op"]))
    with pytest.raises(ValueError, match="reserved"):
        t.write_base(spark.createDataFrame([(1, 2)], ["k", "mor_v"]))


def test_deletion_neighborhood_k2_exact(spark):
    """k=2 lossless tier (r13): every pair within edit distance 2 is
    found (two substitutions, one sub + one delete, two inserts), no
    distance-3 pair leaks through, and k=1 semantics are unchanged."""
    import pytest

    from linqonsteroids_spark.operators.linkage import (
        deletion_neighborhood_pairs,
    )

    vals = [
        ("item-1",),      # d1 from item-2; d2 from itXm-3
        ("item-2",),
        ("itXm-3",),      # two substitutions from item-1? itXm-3 vs item-1: X@2,3@5 -> d2
        ("im-1",),        # two deletes from item-1 -> d2
        ("totally-else",),
    ]
    df = spark.createDataFrame(vals, ["s"])
    got2 = sorted(map(tuple, deletion_neighborhood_pairs(df, "s", k=2).collect()))
    assert ("im-1", "item-1") in got2          # two inserts/deletes
    assert ("itXm-3", "item-2") in got2        # substitution x2
    assert ("item-1", "item-2") in got2        # distance-1 still present
    assert not any("totally-else" in p for p in got2)
    got1 = sorted(map(tuple, deletion_neighborhood_pairs(df, "s", k=1).collect()))
    assert got1 == [("item-1", "item-2")]
    with pytest.raises(ValueError, match="exact tiers"):
        deletion_neighborhood_pairs(df, "s", k=3)


def test_mor_time_travel_reads_each_version_state(spark, tmp_path):
    """read(as_of_version=v) reconstructs the table as it stood after
    version v: v1 shows the update+deletes, latest shows v2's
    last-wins overrides and the delete-then-upsert resurrection; a
    never-committed version raises instead of guessing."""
    import pytest

    t, base = _mor_fixture(spark, tmp_path)
    # fixture: v1 updates k=1, deletes k=2,3; v2 re-updates k=1,
    # resurrects k=2
    v1_state = {r[0]: r[1] for r in t.read(as_of_version=1).collect()}
    assert v1_state == {1: "a1", 4: "d"}
    # the as-of filter reaches the version directory as a PARTITION
    # filter: later versions' files are never scanned
    plan = (
        t.read(as_of_version=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "mor_v" in plan and "mor_v=2" not in plan
    latest = {r[0]: r[1] for r in t.read().collect()}
    assert latest == {r[0]: r[1] for r in t.read(as_of_version=2).collect()}
    with pytest.raises(ValueError, match="never committed"):
        t.read(as_of_version=3)
    # compaction bounds the horizon: folded versions raise "compacted
    # away" (distinct from a typo'd never-committed version), and a
    # post-compact append re-opens time travel ABOVE the horizon only
    t.compact()
    with pytest.raises(ValueError, match="compaction horizon"):
        t.read(as_of_version=1)
    t.append_delta(
        3, upserts=spark.createDataFrame([(4, "d3", 44.0)], ["k", "s", "x"])
    )
    assert {r[0]: r[1] for r in t.read(as_of_version=3).collect()} == {
        r[0]: r[1] for r in t.read().collect()
    }
    with pytest.raises(ValueError, match="compaction horizon"):
        t.read(as_of_version=2)


def test_mor_change_feed_between_versions(spark, tmp_path):
    """changes(from, to): the delta log read back as CDC — insert /
    update (post-image) / delete (PRE-image) per key, net-effect
    last-wins inside the window (delete-then-upsert across the window
    collapses to update), endpoints validated with the same refusal
    rules as read()."""
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)

    def rows(df):
        return sorted(
            (r["k"], r["_change_type"], r["s"], r["x"])
            for r in df.collect()
        )

    # base -> v1: update k=1 (post), delete k=2,3 (pre-images)
    assert rows(t.changes(0, 1)) == [
        (1, "update", "a1", 11.0),
        (2, "delete", "b", 20.0),
        (3, "delete", "c", 30.0),
    ]
    # v1 -> v2: k=3 was absent at v1 so its upsert is an INSERT;
    # k=9 never existed; k=1 is a plain update
    assert rows(t.changes(1, 2)) == [
        (1, "update", "a2", 12.0),
        (3, "insert", "c2", 33.0),
        (9, "insert", "new", 90.0),
    ]
    # base -> latest (to_version defaulted): k=3's delete-then-upsert
    # collapses to its net effect, an update
    assert rows(t.changes(0)) == [
        (1, "update", "a2", 12.0),
        (2, "delete", "b", 20.0),
        (3, "update", "c2", 33.0),
        (9, "insert", "new", 90.0),
    ]
    with pytest.raises(ValueError, match="must precede"):
        t.changes(2, 1)
    with pytest.raises(ValueError, match="never committed"):
        t.changes(0, 7)
    # compaction folds the log: the horizon refuses folded endpoints
    t.compact()
    with pytest.raises(ValueError, match="below the compaction horizon"):
        t.changes(1, 2)
    with pytest.raises(ValueError, match="empty delta log"):
        t.changes(2)
    # post-compact appends re-open the feed from the horizon
    t.append_delta(
        3, upserts=spark.createDataFrame([(4, "d3", 44.0)], ["k", "s", "x"])
    )
    assert rows(t.changes(2, 3)) == [(4, "update", "d3", 44.0)]


def test_mor_read_with_provenance(spark, tmp_path):
    """read(with_provenance=True): _last_version names the delta
    version that last wrote each row (0 = untouched base) — last-wins
    across versions, resurrections credited to the resurrecting
    version, bounded by retained history (compact() resets to 0, a
    log fold credits the fold target)."""
    t, _ = _mor_fixture(spark, tmp_path)  # v1: upd k1, del k2,k3;
    # v2: upd k1, resurrect k3, insert k9
    got = {
        r["k"]: (r["s"], r["_last_version"])
        for r in t.read(with_provenance=True).collect()
    }
    assert got == {
        1: ("a2", 2),   # v2 won over v1
        3: ("c2", 2),   # resurrection credited to v2
        4: ("d", 0),    # untouched base
        9: ("new", 2),  # insert
    }
    # as-of composes: at v1 only v1's writes are credited
    got1 = {
        r["k"]: r["_last_version"]
        for r in t.read(as_of_version=1, with_provenance=True).collect()
    }
    assert got1 == {1: 1, 4: 0}
    # compaction bounds provenance like every MOR format
    t.compact()
    assert {
        r["_last_version"]
        for r in t.read(with_provenance=True).collect()
    } == {0}


def test_mor_point_lookup_prunes_files_and_honors_deltas(
    spark, tmp_path
):
    """lookup(keys): the serving path — with a stats-indexed base the
    file list prunes driver-side to the files whose key span contains
    a sought key (pinned by counting), the delta log is filtered to
    the same keys, and resolution honors updates, deletes, inserts,
    and schema evolution exactly like read(); a compact() rebuilds the
    stats manifest so the pruning survives; without a manifest the
    lookup degrades to an unpruned read."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.sources.fileindex import (
        prune_files_for_points,
    )

    t = MorTable(spark, str(tmp_path / "mor"), "k")
    base = spark.range(1000).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    t.write_base(base, stats_files=10)
    t.append_delta(
        1,
        upserts=spark.createDataFrame([(5, "V5"), (2000, "NEW")], ["k", "s"]),
        delete_keys=spark.createDataFrame([(763,)], ["k"]),
    )
    keys = [5, 42, 763, 2000, 31337]
    got = {r["k"]: r["s"] for r in t.lookup(keys).collect()}
    assert got == {5: "V5", 42: "v42", 2000: "NEW"}  # 763 deleted,
    # 31337 never existed
    # pruning really happens: 3 of the sought keys live in the base's
    # 1000-key span, range-clustered into 10 files -> at most 3 files
    kept, total = prune_files_for_points(t._base, "k", keys)
    assert total == 10 and 1 <= len(kept) <= 3
    # compact() rebuilds the manifest; pruning and values survive
    t.compact()
    kept2, total2 = prune_files_for_points(t._base, "k", keys)
    assert total2 == 10 and 1 <= len(kept2) <= 3
    assert {r["k"]: r["s"] for r in t.lookup(keys).collect()} == got
    # evolution: a later delta adds a column; lookup carries it
    t.append_delta(
        3,
        upserts=spark.createDataFrame([(42, "v42x", "hot")], ["k", "s", "tag"]),
    )
    got3 = {
        r["k"]: (r["s"], r["tag"]) for r in t.lookup([5, 42]).collect()
    }
    assert got3 == {5: ("V5", None), 42: ("v42x", "hot")}
    # empty key list and manifest-less table both stay correct
    assert t.lookup([]).count() == 0
    t_plain = MorTable(spark, str(tmp_path / "plain"), "k")
    t_plain.write_base(base)
    assert {r["k"]: r["s"] for r in t_plain.lookup([7]).collect()} == {
        7: "v7"
    }


def test_mor_compact_log_folds_versions_without_touching_base(
    spark, tmp_path
):
    """compact_log: the Hudi log-compaction tier — all current delta
    versions fold into ONE net version at the highest number, the base
    is untouched, latest state is bit-identical, read cost returns to
    one delta. Folded intermediates refuse as-of/changes by name; the
    fold target stays readable and changes(horizon, target) still
    yields the correct cumulative feed."""
    import os

    import pytest

    t, _ = _mor_fixture(spark, tmp_path)  # base + v1 + v2
    before = sorted(map(tuple, t.read().collect()))
    base_mtime = os.path.getmtime(t._base)
    t.compact_log()
    assert sorted(map(tuple, t.read().collect())) == before
    assert os.path.getmtime(t._base) == base_mtime  # base untouched
    assert sorted(os.listdir(t._delta_root)) == ["mor_v=2"]
    # target readable, intermediates refused BY NAME
    assert sorted(map(tuple, t.read(as_of_version=2).collect())) == before
    with pytest.raises(ValueError, match="folded by log compaction"):
        t.read(as_of_version=1)
    with pytest.raises(ValueError, match="folded by log compaction"):
        t.changes(1, 2)
    # the cumulative feed from the horizon is exactly the net version
    feed = sorted(
        (r["k"], r["_change_type"]) for r in t.changes(0, 2).collect()
    )
    assert feed == [
        (1, "update"), (2, "delete"), (3, "update"), (9, "insert")
    ]
    # appends continue above the fold target; a second fold works
    t.append_delta(
        3, upserts=spark.createDataFrame([(4, "d3", 44.0)], ["k", "s", "x"])
    )
    t.append_delta(
        4, delete_keys=spark.createDataFrame([(9,)], ["k"])
    )
    t.compact_log()
    assert sorted(os.listdir(t._delta_root)) == ["mor_v=4"]
    got = {r["k"]: r["s"] for r in t.read().collect()}
    assert got == {1: "a2", 3: "c2", 4: "d3"}  # 9 deleted post-fold
    # major compaction over a folded log still works and clears it
    t.compact()
    assert not os.path.isdir(t._delta_root)
    assert {r["k"]: r["s"] for r in t.read().collect()} == got


def test_mor_compact_log_crash_windows_recover(spark, tmp_path):
    """compact_log's three crash windows: (a) net staged completely →
    recovery finishes the fold; (b) net never completed → recovery
    aborts, every version intact; (c) crash mid-sweep (fold done,
    dominated intermediates still on disk) → recovery sweeps them."""
    import os
    import shutil

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.mor import MorTable

    # (a) post-staging crash: pending recorded, net staged with
    # _SUCCESS, nothing swapped yet
    t, _ = _mor_fixture(spark, tmp_path)
    expected = sorted(map(tuple, t.read().collect()))
    m = t._read_meta()
    m["log_fold_pending"] = {"target": 2, "folded": [1]}
    t._write_meta_dict(m)
    deltas = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", t._delta_root)
        .parquet(*[os.path.join(t._delta_root, d) for d in ("mor_v=1", "mor_v=2")])
        .withColumn("_v", F.col("mor_v").cast("int"))
        .drop("mor_v")
    )
    w = W.partitionBy("k").orderBy(F.desc("_v"))
    net = (
        deltas.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_v")
    )
    staged = os.path.join(t.path, "_log_compact_staged.v2")
    net.write.parquet(staged)
    t2 = MorTable(spark, t.path, "k")  # recovery finishes the fold
    assert sorted(os.listdir(t2._delta_root)) == ["mor_v=2"]
    assert sorted(map(tuple, t2.read().collect())) == expected
    assert "log_fold_pending" not in t2._read_meta()

    # (b) staging never completed: pending + incomplete staged dir
    p2 = str(tmp_path / "mor_b")
    tb = MorTable(spark, p2, "k")
    tb.write_base(spark.createDataFrame([(1, "a")], ["k", "s"]))
    tb.append_delta(
        1, upserts=spark.createDataFrame([(1, "a1")], ["k", "s"])
    )
    tb.append_delta(
        2, upserts=spark.createDataFrame([(2, "b")], ["k", "s"])
    )
    mb = tb._read_meta()
    mb["log_fold_pending"] = {"target": 2, "folded": [1]}
    tb._write_meta_dict(mb)
    os.makedirs(os.path.join(p2, "_log_compact_staged.v2"))
    tb2 = MorTable(spark, p2, "k")  # recovery aborts the fold
    assert sorted(os.listdir(tb2._delta_root)) == ["mor_v=1", "mor_v=2"]
    assert not os.path.isdir(os.path.join(p2, "_log_compact_staged.v2"))
    assert "log_fold_pending" not in tb2._read_meta()
    # nothing was folded, so v1 is still readable
    assert {r["k"]: r["s"] for r in tb2.read(as_of_version=1).collect()} == {
        1: "a1"
    }

    # (c) mid-sweep crash: fold done (meta records folded=[1]) but the
    # dominated mor_v=1 dir survived — recovery sweeps it
    t2.append_delta(
        3, upserts=spark.createDataFrame([(7, "w", 0.0)], ["k", "s", "x"])
    )
    shutil.copytree(
        os.path.join(t2._delta_root, "mor_v=2"),
        os.path.join(t2._delta_root, "mor_v=1"),
    )
    t3 = MorTable(spark, t2.path, "k")
    assert "mor_v=1" not in os.listdir(t3._delta_root)
    assert sorted(map(tuple, t3.read().collect())) == sorted(
        expected + [(7, "w", 0.0)]
    )


def test_mor_merge_into_actions_and_stats(spark, tmp_path):
    """merge_into: SQL MERGE compiled to one delta append — matched
    rows update (or delete), unmatched insert (or drop), stats
    returned; an all-miss merge commits nothing and burns no version;
    invalid action names refuse."""
    import os

    import pytest

    from linqonsteroids_spark.operators.mor import MorTable

    t = MorTable(spark, str(tmp_path / "mor"), "k")
    t.write_base(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            ["k", "s", "x"],
        )
    )
    # update + insert (the default MERGE)
    stats = t.merge_into(
        1,
        spark.createDataFrame(
            [(2, "B2", 22.0), (9, "new", 90.0)], ["k", "s", "x"]
        ),
    )
    assert stats == {"updated": 1, "deleted": 0, "inserted": 1, "version": 1}
    assert {r["k"]: r["s"] for r in t.read().collect()} == {
        1: "a", 2: "B2", 3: "c", 9: "new"
    }
    # matched-delete, unmatched dropped
    stats = t.merge_into(
        2,
        spark.createDataFrame([(2, "_", 0.0), (7, "_", 0.0)], ["k", "s", "x"]),
        when_matched="delete",
        when_not_matched=None,
    )
    assert stats == {"updated": 0, "deleted": 1, "inserted": 0, "version": 2}
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 9]
    # an all-miss merge is a clean no-op: no delta dir appears, and the
    # version number stays available for a real commit
    stats = t.merge_into(
        3,
        spark.createDataFrame([(100, "_", 0.0)], ["k", "s", "x"]),
        when_matched="delete",
        when_not_matched=None,
    )
    assert stats == {
        "updated": 0, "deleted": 0, "inserted": 0, "version": None
    }
    assert not os.path.isdir(os.path.join(t._delta_root, "mor_v=3"))
    t.append_delta(
        3, upserts=spark.createDataFrame([(1, "a3", 11.0)], ["k", "s", "x"])
    )
    assert {r["k"]: r["s"] for r in t.read().collect()}[1] == "a3"
    with pytest.raises(ValueError, match="when_matched"):
        t.merge_into(4, t.read(), when_matched="upsert")
    with pytest.raises(ValueError, match="no-op"):
        t.merge_into(4, t.read(), when_matched=None, when_not_matched=None)


def test_mor_change_feed_plan_never_full_diffs(spark, tmp_path):
    """The change feed's 100 TB contract: its plan is built from the
    delta-log window plus a BROADCAST-filtered pre-state read — the
    base table flows through broadcast hash joins only (the as-of
    reader's anti/semi probes and the feed's own semi filter), never a
    shuffled join keyed on the full base."""
    t, _ = _mor_fixture(spark, tmp_path)
    plan = (
        t.changes(0, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_mor_cdf_preimages_and_agg_mv_maintenance(spark, tmp_path):
    """changes(include_preimages=True) speaks the Delta-CDF row
    protocol (update_preimage + update_postimage pairs), and
    apply_cdf_to_agg_mv maintains a (sum, count) MV from it —
    O(changes), correct under group-moving updates, deletes, and
    groups draining to zero, proven equal to a fresh recompute."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.streaming.incremental import (
        apply_cdf_to_agg_mv,
    )

    t = MorTable(spark, str(tmp_path / "mor"), "k")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40)],
        ["k", "grp", "x"],
    )
    t.write_base(base)
    # v1: k=1 MOVES a->b with a new value, k=3 deleted, k=5 inserted
    # into a BRAND-NEW group, k=2 updated in place
    t.append_delta(
        1,
        upserts=spark.createDataFrame(
            [(1, "b", 11), (2, "a", 25), (5, "c", 50)], ["k", "grp", "x"]
        ),
        delete_keys=spark.createDataFrame([(3,)], ["k"]),
    )
    feed = t.changes(0, 1, include_preimages=True)
    got = sorted(
        (r["k"], r["_change_type"], r["grp"], r["x"])
        for r in feed.collect()
    )
    assert got == [
        (1, "update_postimage", "b", 11),
        (1, "update_preimage", "a", 10),
        (2, "update_postimage", "a", 25),
        (2, "update_preimage", "a", 20),
        (3, "delete", "b", 30),
        (5, "insert", "c", 50),
    ]
    mv0 = base.groupBy("grp").agg(
        F.sum("x").alias("sx"), F.count("*").cast("bigint").alias("n")
    )
    mv1 = apply_cdf_to_agg_mv(mv0, feed, ["grp"], {"sx": "x"})
    expect = {
        r["grp"]: (r["sx"], r["n"])
        for r in t.read()
        .groupBy("grp")
        .agg(F.sum("x").alias("sx"), F.count("*").cast("bigint").alias("n"))
        .collect()
    }
    assert {
        r["grp"]: (r["sx"], r["n"]) for r in mv1.collect()
    } == expect
    # feeding the NON-preimage protocol refuses loudly instead of
    # silently dropping updates' retractions
    import pytest

    with pytest.raises(ValueError, match="include_preimages"):
        apply_cdf_to_agg_mv(mv1, t.changes(0, 1), ["grp"], {"sx": "x"})
    # drain group b to zero: it must VANISH from the MV (count
    # discipline — sum-only state can't tell empty from sums to 0)
    t.append_delta(
        2, delete_keys=spark.createDataFrame([(1,), (4,)], ["k"])
    )
    mv2 = apply_cdf_to_agg_mv(
        mv1, t.changes(1, 2, include_preimages=True), ["grp"], {"sx": "x"}
    )
    assert sorted(r["grp"] for r in mv2.collect()) == ["a", "c"]


def test_mor_schema_evolution_adds_nullable_columns(spark, tmp_path):
    """r13 verdict item 6: real ingest adds nullable columns. A delta
    may carry a SUPERSET of the table's columns (new columns become
    nullable additions) or a SUBSET (absent columns null-padded, row
    replacement semantics); both read paths work — latest shows the
    evolved schema with nulls where no version supplied a value, and
    an as-of read BEFORE the column existed carries the OLD schema."""
    import pytest
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.mor import MorTable

    t = MorTable(spark, str(tmp_path / "mor"), "k")
    t.write_base(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "s"])
    )
    t.append_delta(
        1, upserts=spark.createDataFrame([(1, "a1")], ["k", "s"])
    )
    # v2 ADDS `tag` (superset): visible from v2 on
    t.append_delta(
        2,
        upserts=spark.createDataFrame(
            [(2, "b2", "hot"), (5, "e", "new")], ["k", "s", "tag"]
        ),
    )
    # v3 is a SUBSET upsert (only k): row replacement null-pads s AND tag
    t.append_delta(
        3, upserts=spark.createDataFrame([(3,)], ["k"])
    )
    latest = {
        r["k"]: (r["s"], r["tag"]) for r in t.read().collect()
    }
    assert latest == {
        1: ("a1", None),   # pre-evolution upsert: tag null
        2: ("b2", "hot"),  # the version that introduced tag
        3: (None, None),   # subset upsert replaced the whole row
        5: ("e", "new"),   # insert with the new column
    }
    assert t.read().columns == ["k", "s", "tag"]  # base order, then added
    # as-of BEFORE the evolution: old schema, no tag column at all
    asof1 = t.read(as_of_version=1)
    assert asof1.columns == ["k", "s"]
    assert {r["k"]: r["s"] for r in asof1.collect()} == {
        1: "a1", 2: "b", 3: "c"
    }
    # deletes keep working against the evolved schema
    t.append_delta(
        4, delete_keys=spark.createDataFrame([(5,)], ["k"])
    )
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3]
    # every read path over the evolved log declares the schema the table
    # meta recorded: building the frames starts no Spark job
    with jobs_started(spark) as started:
        t.read()
        t.read(as_of_version=1)
        t.lookup([1, 5])
        t.changes(0, 4, include_preimages=True)
    assert started() == 0
    # a type change on an existing column is still refused
    with pytest.raises(ValueError, match="type of existing column"):
        t.append_delta(
            5,
            upserts=spark.createDataFrame(
                [(1, 99)], ["k", "s"]
            ).select("k", F.col("s").cast("int")),
        )
    # compaction folds the evolved state losslessly
    before = sorted(map(tuple, t.read().collect()))
    t.compact()
    assert sorted(map(tuple, t.read().collect())) == before
    assert t.read().columns == ["k", "s", "tag"]


def test_mor_digest_manifest_rides_the_table(spark, tmp_path):
    """r13 verdict item 7: with digest_manifest=True the reconciliation
    sidecar rides the table format — write_base summarizes the
    snapshot, each append_delta applies its own before/after images as
    an O(changes) incremental update, compact leaves it untouched —
    and the audit stays CLEAN across append→compact→append with no
    separate scan discipline. Tampering (a state the writes never
    produced) is still detected."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.operators.tablediff import (
        audit_against_manifest,
    )

    t = MorTable(
        spark, str(tmp_path / "mor"), "k", digest_manifest=True,
        manifest_buckets=16,
    )
    t.write_base(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)],
            ["k", "s", "x"],
        )
    )
    assert audit_against_manifest(t.read(), t.path)["clean"]
    # v1: update + delete + insert in one batch
    t.append_delta(
        1,
        upserts=spark.createDataFrame(
            [(1, "a1", 11.0), (9, "new", 90.0)], ["k", "s", "x"]
        ),
        delete_keys=spark.createDataFrame([(2,)], ["k"]),
    )
    assert audit_against_manifest(t.read(), t.path)["clean"]
    # compaction changes layout, not state: manifest untouched, audit clean
    t.compact()
    assert audit_against_manifest(t.read(), t.path)["clean"]
    # post-compact append keeps maintaining it
    t.append_delta(
        3,
        upserts=spark.createDataFrame([(3, "c3", 33.0)], ["k", "s", "x"]),
    )
    assert audit_against_manifest(t.read(), t.path)["clean"]
    # drift the writes never produced is detected and localized
    tampered = t.read().withColumn(
        "x", F.when(F.col("k") == 4, 41.0).otherwise(F.col("x"))
    )
    audit = audit_against_manifest(tampered, t.path)
    assert not audit["clean"] and len(audit["changed_buckets"]) == 1


def test_digest_manifest_incremental_update_equals_rescan(
    spark, tmp_path
):
    """update_digest_manifest: applying a change set's before/after
    images must reproduce the full-rescan manifest exactly (audit of
    the new table against the updated manifest is CLEAN); a WRONG
    change set (a before-row missing) drives some bucket to count 0
    with xor != 0 or count < 0 and the update refuses, leaving the
    manifest untouched."""

    import pytest
    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.tablediff import (
        audit_against_manifest,
        update_digest_manifest,
        write_digest_manifest,
    )

    v1 = spark.range(300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    v2 = (
        v1.where(F.col("k") != 50)  # removed
        .withColumn(
            "s",
            F.when(F.col("k") == 7, F.lit("NEW")).otherwise(F.col("s")),
        )  # changed
        .unionByName(
            spark.createDataFrame([(999, "added")], ["k", "s"])
        )
    )
    path = str(tmp_path / "m")
    write_digest_manifest(v1, path, ["k"], n_buckets=16)
    before = v1.where(F.col("k").isin(50, 7))
    after = v2.where(F.col("k").isin(7, 999))
    update_digest_manifest(path, before=before, after=after)
    assert audit_against_manifest(v2, path)["clean"]

    # refusal: a before-image that does not match what the manifest
    # actually summarized (value "WRONG" instead of the stored "v50")
    # drives the bucket to count 0 with xor != 0 — the algebra itself
    # detects the lie and the manifest file is left byte-identical
    path2 = str(tmp_path / "m2")
    write_digest_manifest(
        v1.where(F.col("k") == 50), path2, ["k"], n_buckets=16
    )
    snap = open(f"{path2}/_DIGEST_MANIFEST.json").read()
    with pytest.raises(ValueError, match="inconsistent change set"):
        update_digest_manifest(
            path2,
            before=spark.createDataFrame([(50, "WRONG")], ["k", "s"]),
            after=None,
        )
    assert open(f"{path2}/_DIGEST_MANIFEST.json").read() == snap


def test_digest_manifest_concurrent_updates_both_land(spark, tmp_path):
    """update_digest_manifest under two CONCURRENT updaters (the
    per-ingest-batch normal case): both change sets must land — the
    unserialized read-merge-publish would lose whichever update read
    the stored state first (the r13 verdict's lost-update finding).
    The commit seam's lock serializes the metadata merge; a barrier
    releases both threads into the update at the same instant, and the
    final manifest must equal a fresh rescan of a table carrying BOTH
    changes."""
    import threading

    from pyspark.sql import functions as F

    from linqonsteroids_spark.operators.tablediff import (
        audit_against_manifest,
        update_digest_manifest,
        write_digest_manifest,
    )

    v1 = spark.range(300).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    path = str(tmp_path / "m")
    write_digest_manifest(v1, path, ["k"], n_buckets=16)

    def change(k: int):
        return (
            v1.where(F.col("k") == k),
            v1.where(F.col("k") == k).withColumn("s", F.lit(f"NEW{k}")),
        )

    barrier = threading.Barrier(2)
    errors: list[Exception] = []

    def updater(k: int):
        try:
            before, after = change(k)
            barrier.wait(timeout=60)
            update_digest_manifest(path, before=before, after=after)
        except Exception as e:  # surfaced below — threads swallow
            errors.append(e)

    threads = [
        threading.Thread(target=updater, args=(k,)) for k in (7, 8)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors
    v2 = v1.withColumn(
        "s",
        F.when(F.col("k") == 7, F.lit("NEW7"))
        .when(F.col("k") == 8, F.lit("NEW8"))
        .otherwise(F.col("s")),
    )
    # clean audit against BOTH-changes state proves neither update was
    # discarded; against either single-change state it must be dirty
    assert audit_against_manifest(v2, path)["clean"]
    one_only = v1.withColumn(
        "s", F.when(F.col("k") == 7, F.lit("NEW7")).otherwise(F.col("s"))
    )
    assert not audit_against_manifest(one_only, path)["clean"]



# --- MOR named refs (tags) -- r15 --------------------------------------------
def test_mor_tag_reads_pinned_state(spark, tmp_path):
    """A tag is one meta entry pinning a reconstructible state:
    read(tag=) equals the as-of read it pins, forever, regardless of
    later appends; tag() with no version pins the latest state."""
    t, _ = _mor_fixture(spark, tmp_path)  # base + v1 + v2
    assert t.tag("pre-enrichment", version=1) == 1
    assert t.tag("run-x") == 2  # default: latest
    assert t.tags() == {"pre-enrichment": 1, "run-x": 2}
    via_tag = sorted(map(tuple, t.read(tag="pre-enrichment").collect()))
    via_ver = sorted(map(tuple, t.read(as_of_version=1).collect()))
    assert via_tag == via_ver
    # later history does not move the pin
    t.append_delta(
        3, upserts=spark.createDataFrame([(1, "a3", 13.0)], ["k", "s", "x"])
    )
    assert (
        sorted(map(tuple, t.read(tag="pre-enrichment").collect())) == via_ver
    )


def test_mor_tag_contract_refusals(spark, tmp_path):
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)
    with pytest.raises(ValueError, match="never committed"):
        t.tag("ghost", version=7)
    t.tag("a", version=1)
    assert t.tag("a", version=1) == 1  # idempotent re-pin
    with pytest.raises(ValueError, match="immutable"):
        t.tag("a", version=2)
    with pytest.raises(ValueError, match="does not exist"):
        t.read(tag="nope")
    with pytest.raises(ValueError, match="exclusive"):
        t.read(tag="a", as_of_version=1)
    with pytest.raises(ValueError, match="does not exist"):
        t.delete_tag("nope")
    with pytest.raises(ValueError, match="not both"):
        t.tag("b", version=1, timestamp="2026-01-01")


def test_mor_tag_by_timestamp_and_base_state(spark, tmp_path):
    """timestamp resolution mirrors read(as_of_timestamp=); a probe
    before every commit tags the original base snapshot (version 0 ==
    horizon 0), which read(tag=) serves as the bare base."""
    t, _ = _mor_fixture(spark, tmp_path)
    assert t.tag("genesis", timestamp="2000-01-01T00:00:00") == 0
    got = sorted(map(tuple, t.read(tag="genesis").collect()))
    assert got == [
        (1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)
    ]
    assert t.tag("now", timestamp="2100-01-01T00:00:00") == 2


def test_mor_retention_respects_tags(spark, tmp_path):
    """Iceberg's expire-snapshots-respects-refs rule: compaction
    refuses to fold a tagged state away; a tag exactly ON the fold
    boundary survives (the new base IS its state) and keeps reading
    it; delete_tag releases the state back to retention."""
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)
    t.tag("keep-v1", version=1)
    want_v1 = sorted(map(tuple, t.read(as_of_version=1).collect()))
    with pytest.raises(ValueError, match="retention respects tags"):
        t.compact()  # would fold v1's state strictly below v2
    # boundary ON the tag is allowed: the new base IS the tagged state
    assert t.compact(through_version=1) == 1
    assert sorted(map(tuple, t.read(tag="keep-v1").collect())) == want_v1
    with pytest.raises(ValueError, match="retention respects tags"):
        t.compact()  # tag now sits strictly below the full-fold boundary
    t.delete_tag("keep-v1")
    assert t.compact() == 2
    with pytest.raises(ValueError, match="does not exist"):
        t.read(tag="keep-v1")


def test_mor_compact_log_respects_tags(spark, tmp_path):
    """Log folding destroys the intermediates' individual states, so a
    tag on one refuses the fold; after delete_tag the fold proceeds and
    the latest state is unchanged."""
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)
    t.tag("mid", version=1)
    want = sorted(map(tuple, t.read().collect()))
    with pytest.raises(ValueError, match="retention respects tags"):
        t.compact_log()
    t.delete_tag("mid")
    t.compact_log()
    assert sorted(map(tuple, t.read().collect())) == want
    assert t._existing_versions() == [2]


# --- MOR change-feed consumers (durable checkpoints) -- r15 -------------------
def test_mor_consumer_consume_ack_resume(spark, tmp_path):
    """The Kafka-consumer shape on the change feed: first consume
    baselines at earliest, ack advances the durable checkpoint, the
    next consume sees ONLY newer changes, and a caught-up consumer
    gets (None, position)."""
    t, _ = _mor_fixture(spark, tmp_path)  # base + v1 + v2
    feed, through = t.consume_changes("mv-builder")
    assert through == 2 and t.consumer_position("mv-builder") == 0
    keys = {r["k"] for r in feed.collect()}
    # net effect of v1+v2 over the base: k1 updated, k2 deleted, k3
    # delete-then-resurrect collapses to an update, k9 inserted
    assert keys == {1, 2, 3, 9}
    t.ack_changes("mv-builder", through)
    assert t.consumer_position("mv-builder") == 2
    none_feed, pos = t.consume_changes("mv-builder")
    assert none_feed is None and pos == 2
    t.append_delta(
        3, upserts=spark.createDataFrame([(4, "d3", 44.0)], ["k", "s", "x"])
    )
    feed, through = t.consume_changes("mv-builder")
    assert through == 3
    assert {r["k"] for r in feed.collect()} == {4}


def test_mor_consumer_redelivery_without_ack(spark, tmp_path):
    """Crash-between-apply-and-ack: an unacked consume re-delivers the
    identical window — at-least-once, never silently skipped."""
    t, _ = _mor_fixture(spark, tmp_path)
    first, thr1 = t.consume_changes("crashy")
    again, thr2 = t.consume_changes("crashy")
    assert thr1 == thr2 == 2
    assert sorted(map(tuple, first.collect())) == sorted(
        map(tuple, again.collect())
    )


def test_mor_consumer_latest_start_and_refusals(spark, tmp_path):
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)
    none_feed, pos = t.consume_changes("tail-reader", start="latest")
    assert none_feed is None and pos == 2  # only future changes
    with pytest.raises(ValueError, match="earliest.*latest"):
        t.consume_changes("x", start="middle")
    with pytest.raises(ValueError, match="never registered"):
        t.ack_changes("ghost", 2)
    t.consume_changes("mv")
    t.ack_changes("mv", 2)
    with pytest.raises(ValueError, match="monotonic"):
        t.ack_changes("mv", 1)
    with pytest.raises(ValueError, match="not a live version"):
        t.ack_changes("mv", 7)
    t.ack_changes("mv", 2)  # idempotent re-ack at the position
    with pytest.raises(ValueError, match="does not exist"):
        t.drop_consumer("ghost")


def test_mor_retention_respects_consumers(spark, tmp_path):
    """compact refuses to fold a consumer's unread window; acking to
    the boundary (or dropping the consumer) releases it; a consumer
    checkpointed AT the fold boundary resumes cleanly from the new
    horizon."""
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)
    t.consume_changes("lagging")  # checkpoint 0, nothing acked
    with pytest.raises(ValueError, match="retention respects consumers"):
        t.compact(through_version=1)
    feed, thr = t.consume_changes("lagging")
    t.ack_changes("lagging", 1)  # applied through v1 only
    assert t.compact(through_version=1) == 1  # boundary AT checkpoint ok
    feed, thr = t.consume_changes("lagging")  # resumes from new horizon
    assert thr == 2 and {r["k"] for r in feed.collect()} == {1, 3, 9}
    with pytest.raises(ValueError, match="retention respects consumers"):
        t.compact()  # v2 still unacked
    t.drop_consumer("lagging")
    assert t.compact() == 2


def test_mor_compact_log_respects_consumer_checkpoints(spark, tmp_path):
    """A checkpoint on a would-be-folded intermediate refuses the log
    fold (its feed baseline would become unreconstructible); a
    checkpoint at the horizon survives — the net version IS its
    cumulative feed."""
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)
    t.consume_changes("at-horizon")  # checkpoint 0 == horizon: safe
    t.consume_changes("mid")
    t.ack_changes("mid", 1)  # checkpoint on the intermediate v1
    with pytest.raises(ValueError, match="unreconstructible"):
        t.compact_log()
    t.drop_consumer("mid")
    t.compact_log()
    feed, thr = t.consume_changes("at-horizon")
    assert thr == 2
    assert {r["k"] for r in feed.collect()} == {1, 2, 3, 9}


def test_mor_consumer_exactly_once_mv_effect(spark, tmp_path):
    """The exactly-once pattern the checkpoint exists for: the MV
    records applied_through; a redelivered window (crash before ack)
    is skipped by that guard, so the MV equals the from-scratch
    aggregate after crash-retry — retractions never applied twice."""
    from pyspark.sql import functions as F

    from linqonsteroids_spark.streaming.incremental import (
        apply_cdf_to_agg_mv,
    )

    t, _ = _mor_fixture(spark, tmp_path)
    mv = (
        spark.read.parquet(str(tmp_path / "mor" / "base"))
        .groupBy()
        .agg(F.sum("x").alias("sum_x"), F.count("*").alias("n"))
        .withColumn("g", F.lit("all"))
        .select("g", "sum_x", "n")
    )
    applied_through = 0
    for _attempt in range(2):  # second pass = crash-retry redelivery
        feed, thr = t.consume_changes("agg-mv", include_preimages=True)
        if feed is None or thr <= applied_through:
            continue  # the exactly-once guard: window already applied
        mv = apply_cdf_to_agg_mv(
            mv,
            feed.withColumn("g", F.lit("all")),
            ["g"],
            {"sum_x": "x"},
            count_col="n",
        )
        applied_through = thr
        # crash HERE on attempt 0: no ack — attempt 1 redelivers and
        # the applied_through guard must skip it
    t.ack_changes("agg-mv", applied_through)
    got = mv.collect()[0]
    want = t.read().agg(
        F.sum("x").alias("sum_x"), F.count("*").alias("n")
    ).collect()[0]
    assert (got["sum_x"], got["n"]) == (want["sum_x"], want["n"])


# --- MOR secondary-column bloom lookups -- r15 --------------------------------
def test_mor_bloom_secondary_lookup_stamps_and_prunes(spark, tmp_path):
    """bloom_ndv stamps parquet split-block bloom filters on every MOR
    write path (base, delta, compacted base via the meta-persisted
    setting), the lookup_by predicate reaches the base scan as a
    pushed IN filter through the merge-on-read plan, and the filters
    physically skip row groups on a point probe."""
    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.sources.bloomfilters import (
        bloom_columns_per_file,
        scan_output_rows,
    )

    t = MorTable(
        spark, str(tmp_path / "mor"), "k", bloom_ndv={"g": 1000}
    )
    rows = [(i, 1000 + i, float(i)) for i in range(64)]
    base = spark.createDataFrame(rows, ["k", "g", "x"]).repartition(4)
    t.write_base(base)
    # every base file carries the filter on g
    stamped = bloom_columns_per_file(spark, str(tmp_path / "mor" / "base"))
    assert stamped and all("g" in cols for cols in stamped.values())
    # delta: move k=1 OUT of the probed g, k=2 INTO it, delete k=1063's row
    t.append_delta(
        1,
        upserts=spark.createDataFrame(
            [(1, 9999, 1.0), (2, 1003, 2.0)], ["k", "g", "x"]
        ),
        delete_keys=spark.createDataFrame([(63,)], ["k"]),
    )
    stamped_d = bloom_columns_per_file(
        spark, str(tmp_path / "mor" / "delta")
    )
    # delete-marker files carry an all-null g column chunk, for which
    # parquet writes no bloom (nothing to probe); the upsert data files
    # must carry it
    assert stamped_d and any("g" in c for c in stamped_d.values())
    got = sorted(
        (r["k"], r["g"]) for r in t.lookup_by("g", [1001, 1003]).collect()
    )
    # k=1's current g is 9999 (updated out), k=2's is 1003 (updated in)
    assert got == [(2, 1003), (3, 1003)]
    plan = (
        t.lookup_by("g", [1001, 1003])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pushed = [
        s.split("]", 1)[0] for s in plan.split("PushedFilters: [")[1:]
    ]
    assert any("In(g" in s for s in pushed), pushed
    # physical row-group skipping on a point probe of the stamped base
    probe = spark.read.parquet(str(tmp_path / "mor" / "base")).where(
        F.col("g") == 1007
    )
    assert scan_output_rows(probe) < 64
    # compact from a FRESH handle (no constructor param): the
    # meta-persisted setting keeps the restaged base stamped
    t2 = MorTable(spark, str(tmp_path / "mor"), "k")
    assert t2._bloom_ndv() == {"g": 1000}
    t2.compact()
    stamped2 = bloom_columns_per_file(
        spark, str(tmp_path / "mor" / "base")
    )
    assert stamped2 and all("g" in c for c in stamped2.values())


def test_mor_bloom_zorder_conflict_refused(spark, tmp_path):
    import pytest

    from linqonsteroids_spark.operators.mor import MorTable

    t = MorTable(
        spark, str(tmp_path / "mor"), "k", bloom_ndv={"g": 100}
    )
    t.write_base(
        spark.createDataFrame([(1, 10, 1.0), (2, 20, 2.0)], ["k", "g", "x"])
    )
    t.append_delta(
        1, upserts=spark.createDataFrame([(1, 11, 1.5)], ["k", "g", "x"])
    )
    with pytest.raises(ValueError, match="bloom"):
        t.compact(zorder_by=["g", "x"])


def test_mor_bloom_composes_with_stats_manifest(spark, tmp_path):
    """Key-range manifest (lookup on the key) and bloom filters
    (lookup_by on a secondary column) on the same base files."""
    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.sources.bloomfilters import (
        bloom_columns_per_file,
    )

    t = MorTable(
        spark, str(tmp_path / "mor"), "k", bloom_ndv={"g": 100}
    )
    rows = [(i, 500 + (i * 7) % 50, float(i)) for i in range(40)]
    t.write_base(
        spark.createDataFrame(rows, ["k", "g", "x"]), stats_files=4
    )
    stamped = bloom_columns_per_file(spark, str(tmp_path / "mor" / "base"))
    assert stamped and all("g" in c for c in stamped.values())
    hit = t.lookup([5]).collect()  # key-manifest path still works
    assert [r["k"] for r in hit] == [5]


def test_mor_table_status_snapshot(spark, tmp_path):
    """table_status answers 'what is holding retention back' without
    reading code: versions, horizon, pins (tags/consumers), in-flight
    transactional claims, and debris classes, in one listing-cost
    dict."""
    from linqonsteroids_spark.operators.mor import MorTable
    from linqonsteroids_spark.operators.mortxn import MorTxnLog

    t, _ = _mor_fixture(spark, tmp_path)  # base + v1 + v2
    t.tag("pin", version=1)
    t.consume_changes("mv")
    log = MorTxnLog(str(tmp_path / "log"))
    txn = log.begin()
    t.append_delta(
        upserts=spark.createDataFrame([(7, "t", 7.0)], ["k", "s", "x"]),
        txn=txn,
    )
    st = t.table_status()
    assert st["versions"] == [1, 2]
    assert st["inflight_versions"] == [3]
    assert st["compacted_through"] == 0
    assert st["tags"] == {"pin": 1}
    assert st["consumers"] == {"mv": 0}
    assert set(st["version_timestamps"]) == {1, 2}
    assert st["debris"] == {
        "staged_deltas": [],
        "retired_bases": [],
        "compact_staged": False,
    }
    txn.commit()
    st2 = MorTable(spark, str(tmp_path / "mor"), "k").table_status()
    assert st2["versions"] == [1, 2, 3]
    assert st2["inflight_versions"] == []


def test_mor_append_refuses_intra_version_duplicate_keys(spark, tmp_path):
    """One key, one outcome per version: a batch upserting the same
    key twice — or upserting AND deleting it — would make last-wins
    order-dependent, so the append refuses loudly (the SQL MERGE
    multi-matched-source rule); check_unique=False opts out for
    batches unique by construction, and a duplicate-keyed MERGE
    source hits the same wall through its compiled append."""
    import pytest

    from linqonsteroids_spark.operators.mor import MorTable

    t = MorTable(spark, str(tmp_path / "mor"), "k")
    t.write_base(
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], ["k", "s", "x"])
    )
    with pytest.raises(ValueError, match="multiple rows for key"):
        t.append_delta(
            1,
            upserts=spark.createDataFrame(
                [(1, "first", 1.1), (1, "second", 1.2)], ["k", "s", "x"]
            ),
        )
    with pytest.raises(ValueError, match="multiple rows for key"):
        t.append_delta(
            1,
            upserts=spark.createDataFrame([(1, "u", 1.1)], ["k", "s", "x"]),
            delete_keys=spark.createDataFrame([(1,)], ["k"]),
        )
    assert t._existing_versions() == []  # refused before any publish
    # opt-out for construction-guaranteed unique batches still lands
    v = t.append_delta(
        upserts=spark.createDataFrame([(1, "u", 1.1)], ["k", "s", "x"]),
        check_unique=False,
    )
    assert v == 1
    # MERGE with a duplicate-keyed source refuses through its append
    with pytest.raises(ValueError, match="multiple rows for key"):
        t.merge_into(
            source=spark.createDataFrame(
                [(2, "m1", 2.1), (2, "m2", 2.2)], ["k", "s", "x"]
            ),
            clauses=[("matched", None, "update"), ("not_matched", None, "insert")],
        )


def test_mor_changes_between_tags(spark, tmp_path):
    """Tag-addressed feed endpoints: changes(from_tag, to_tag) equals
    the version-addressed feed the tags pin — 'what changed since the
    snapshot run X trained on' without bookkeeping version numbers."""
    import pytest

    t, _ = _mor_fixture(spark, tmp_path)  # base + v1 + v2
    t.tag("run-a", version=1)
    t.tag("run-b", version=2)
    via_tags = sorted(
        map(tuple, t.changes(from_tag="run-a", to_tag="run-b").collect())
    )
    via_vers = sorted(
        map(tuple, t.changes(from_version=1, to_version=2).collect())
    )
    assert via_tags == via_vers and via_tags
    with pytest.raises(ValueError, match="does not exist"):
        t.changes(from_tag="nope")
    with pytest.raises(ValueError, match="not both"):
        t.changes(from_tag="run-a", from_version=1)
