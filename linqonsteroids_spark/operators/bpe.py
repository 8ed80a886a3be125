"""Distributed BPE (byte-pair encoding) merge learning.

`functions/text.bpe_pretokens` applies a FIXED GPT-2-style pre-tokenizer;
this operator learns the merge table itself — the training half of a
tokenizer pipeline (Sennrich et al., "Neural Machine Translation of Rare
Words with Subword Units", ACL 2016 — the public reference algorithm:
count adjacent symbol pairs weighted by word frequency, merge the most
frequent pair everywhere, repeat).

The genuinely iterative, argmax-per-round control flow is not expressible
as one SQL query (each round's state depends on the previous round's
winner), so the gate is registered rows-only; correctness evidence is a
bit-exact differential test against a pure-Python reference implementation
(`tests/test_operators.py`).

Scale design (100 TB corpus):
- Training state is the WORD-FREQUENCY table (word, freq, syms), i.e.
  O(|vocabulary|) rows — sublinear in the corpus; the corpus itself is
  touched exactly once (one groupBy to build word frequencies). This is
  the property that makes BPE training tractable at any corpus size:
  rounds iterate over the vocabulary, never the corpus.
- Per round: pair counts come from a row-local HOF expansion of each
  word's symbol array (zero-shuffle), one map-side-combined agg on
  (a, b), one TakeOrdered(1) for the argmax (deterministic tiebreak:
  highest count, then lexicographically smallest pair — bounded driver
  traffic: one row), and one Arrow `mapInPandas` stage applying the
  left-to-right non-overlapping merge to each word's symbols.
- the initial state is materialized once; each round's merge is one
  codegen'd string replace chained lazily, so the plan is as deep as
  the merge count and each argmax job runs the chain over the vocab.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linqonsteroids_spark.session import materialize


def word_frequencies(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(word, freq) over lowercased whitespace tokens — the one
    corpus-sized pass; everything after operates on the vocabulary."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != ""
    )
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


#: row-local adjacent-pair expansion (0-based [] indexing); words with a
#: single symbol contribute nothing (sequence would run DESCENDING on
#: start > stop — the when-guard is load-bearing, not cosmetic).
_PAIRS = F.when(
    F.size(F.col("syms")) >= 2,
    F.expr(
        "transform(sequence(0, size(syms) - 2),"
        " i -> struct(syms[i] AS a, syms[i + 1] AS b))"
    ),
).otherwise(F.expr("CAST(array() AS array<struct<a string, b string>>)"))


def _merge_syms(syms, a: str, b: str):
    """Column expression: apply one merge (a, b) to a symbol array,
    left-to-right non-overlapping — IN THE JVM, no Python boundary (r15;
    the old mapInPandas round shipped the whole vocabulary to Python and
    back once per learned merge — 16 boundary crossings per training
    run, the dominant cost of train_bpe).

    Encoding: frame every symbol with single spaces (double space
    between symbols — symbols never contain whitespace, they come from a
    \\s+ split), then one ``replace``: SQL replace scans left-to-right
    non-overlapping and resumes AFTER the replacement, exactly the BPE
    merge loop's semantics — the same equivalence the bpe_encode oracle
    replay is built on, and pinned bit-exact against the pure-Python
    reference in tests/test_operators.py."""
    framed = F.concat(F.lit(" "), F.array_join(syms, "  "), F.lit(" "))
    merged = F.replace(framed, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return F.split(F.trim(merged), "  ")


def _merge_round(words: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one learned merge (a, b) → left-to-right non-overlapping."""
    return words.withColumn("syms", _merge_syms(F.col("syms"), a, b))


def apply_merges(
    df: DataFrame, merges: list[tuple[str, str, int]], word_col: str = "word"
) -> DataFrame:
    """Encode: segment ``word_col`` with a learned merge table (applied in
    learned order, each left-to-right non-overlapping — the standard BPE
    encode loop). Adds a ``syms array<string>`` column.

    One Arrow stage, zero shuffle — the merge table ships in the closure
    (broadcast-sized: a tokenizer has 10k–100k merges)."""
    order = [(a, b) for a, b, *_ in merges]
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    schema = f"{fields}, syms array<string>"

    def encode(batches):
        for pdf in batches:
            pdf = pdf.copy()
            out = []
            for w in pdf[word_col]:
                syms = list(w) if isinstance(w, str) else []
                for a, b in order:
                    i, merged = 0, []
                    while i < len(syms):
                        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                            merged.append(a + b)
                            i += 2
                        else:
                            merged.append(syms[i])
                            i += 1
                    syms = merged
                out.append(syms)
            pdf["syms"] = out
            yield pdf

    return df.mapInPandas(encode, schema)


def train_bpe(
    words: DataFrame, n_merges: int, min_pair_freq: int = 2
) -> list[tuple[str, str, int]]:
    """Learn up to ``n_merges`` BPE merges from a (word, freq) table.

    Returns [(left, right, pair_freq), ...] in learned order. Stops early
    when no pair reaches ``min_pair_freq``. Deterministic: the argmax tie
    breaks on the lexicographically smallest (left, right)."""
    # split keeps a trailing "" (limit -1 semantics) — drop empties
    chars = F.filter(F.split(F.col("word"), "(?!^)"), lambda t: t != "")
    state = materialize(
        words.select("word", "freq", chars.alias("syms")), "train_bpe: initial state"
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = (
            state.select(F.col("freq"), F.explode(_PAIRS).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("pair_freq"))
            .orderBy(F.desc("pair_freq"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not best or best[0]["pair_freq"] < min_pair_freq:
            break
        a, b, pf = best[0]["a"], best[0]["b"], best[0]["pair_freq"]
        merges.append((a, b, int(pf)))
        # the merge is now one codegen'd string replace (r15): chaining k
        # of them lazily costs k cheap vocab-local passes inside the next
        # argmax job, far less than an eager materialization per round —
        # so no per-round materialize; the initial state stays the
        # only materialization and the plan depth is bounded by n_merges.
        state = _merge_round(state, a, b)
    return merges
