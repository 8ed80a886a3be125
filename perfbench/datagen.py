"""Deterministic synthetic tables for the benchmark.

Writes the ten catalog tables the gates read (TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the column names and types of the repository's test data. Row
counts scale linearly with ``sf`` (``lineitem`` has 6M x sf rows); the
text and vector tables have a floor so that the corpus pipelines always
see a few hundred rows. The data seed is fixed: a workload seed changes
what the benchmark asks, never the tables it asks about.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "steel"]
PART_NOUN = ["bolt", "gear", "nut", "plate", "ring", "spring", "valve", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(start.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(micros + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _days(start: dt.date, n_days: int, rng, n: int) -> pa.Array:
    base = dt.datetime(start.year, start.month, start.day)
    return _ts(base, rng.integers(0, n_days, n).astype(np.int64) * 86400)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [
        f"{PART_ADJ[a]} {PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
    ]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": part_names,
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 20_000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": _days(dt.date(1995, 1, 1), 2404, rng, n_ord),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _days(dt.date(1995, 1, 2), 2498, rng, n_line),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
            "ts": _ts(
                dt.datetime(2024, 1, 1),
                np.sort(rng.uniform(0, 30 * 86400, n_evt)),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_evt, dtype=np.int64)),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(np.minimum(rng.exponential(50.0, n_evt), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random word sequences; one document in 25 is a near-duplicate of
    an earlier one (a ``dup`` token swapped in) and a few are exact
    copies, so the dedup pipelines have pairs to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        elif i > 10 and r < 0.042:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors scattered around ten cluster centres; ``label`` is
    the centre."""
    centres = rng.normal(0.0, 1.0, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, n)
    vecs = centres[labels] + rng.normal(0.0, 1.5, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _stamp(sf: float) -> str:
    """What the tables were made from: the scale, the seed and this
    file's source, so an edit here regenerates them."""
    with open(__file__, "rb") as f:
        src = hashlib.sha256(f.read()).hexdigest()
    return f"sf={sf} seed={DATA_SEED} datagen={src}\n"


def generate(out_dir: str, sf: float) -> None:
    """Write every table under ``out_dir``; the ``_DONE`` marker is
    written last, so an interrupted generation is redone rather than
    reused."""
    os.makedirs(out_dir, exist_ok=True)
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        os.remove(done)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(_stamp(sf))


def ensure(out_dir: str, sf: float) -> str:
    """Generate the tables unless ``out_dir`` holds tables made by this
    very file at this scale."""
    try:
        with open(os.path.join(out_dir, "_DONE")) as f:
            current = f.read() == _stamp(sf)
    except FileNotFoundError:
        current = False
    if not current:
        generate(out_dir, sf)
    return out_dir
