"""ANN top-k join: IVF cell routing x PQ asymmetric-distance scoring.

The operator a billion-vector retrieval/dedup pipeline actually calls
(Jegou, Douze & Schmid, TPAMI 2011, the "IVFADC" system): the corpus is
stored as (cell id, M PQ codes) — 32 x 4-bit codes here, a 16x cut vs
float32 — and a query touches only its ``n_probe`` nearest IVF cells.
Per query, one M x K lookup table of exact subspace distances to every
codebook centroid (the "asymmetric" half: the query stays full
precision) turns candidate scoring into M table lookups + (M-1) adds —
no per-candidate dot product, no decode.

Spark shape, stage by stage (and the 100 TB reading):

1. corpus -> (cell, codes): nearest-cell assignment is the frozen-
   centroid ``array_min`` literal trick (similarity/ivf.py), PQ encode
   is the Arrow kernel (similarity/pq.py) with the cell id passed
   through — one row-local projection + one mapInPandas stage, ZERO
   shuffle, and at scale this is the materialized index artifact
   (17 bytes/vector + id), written once and reused per query batch.
2. queries -> (probe cells, ADC LUT): one Arrow kernel emits the
   n_probe nearest cells and the M x K distance table per query. All
   reductions are explicit SEQUENTIAL accumulations (left-to-right
   adds, matching ``dot_arrow`` / DuckDB's `+` chains IEEE op for IEEE
   op) so the LUT — and therefore every ADC score and every rank — is
   bit-exact across engines.
3. the join: corpus-with-codes BROADCAST-joins the exploded probe list
   on cell. The corpus (the 100 TB side) never moves; the probe side is
   |Q| x n_probe rows x ~1 KB LUT. Candidates per query are
   |corpus| x n_probe / n_lists by construction — never all-pairs.
4. score + rank: adc = lut_0[code_0] + ... + lut_{M-1}[code_{M-1}] as a
   left-assoc JVM `element_at` chain (codegen'd, no UDF), then a
   per-query row_number top-k.

Recall is a measured property, not an assumption: queries/vector.py
gates `ann_recall_report` against the exact brute-force top-k in
integer ppm (the lsh_recall_report pattern).

Residual encoding (the full IVFADC encodes x - centroid[cell] and
builds one LUT per probed cell) was MEASURED and deliberately not
taken: on this corpus the IVF centroids carry little energy (mean |c|
0.27 vs unit vectors; residuals retain 92.7% of raw energy) and
recall at the then-production config was identical — 0.80 residual vs
0.80 raw at (n_probe 5, R 50), sf0.01, under the original 8x8
codebook. The round-10 retrain (32 subspaces x 2 dims, same literal
budget — similarity/pq.py) makes the question moot: ADC+fractional-
refine recall EQUALS the cell-probe ceiling (0.81 at n_probe 5,
sf0.1), so residual codes have no headroom to add; r12 raised the
production config to n_probe 7 (ceilings 0.845/0.92 at 6/7), where
measured recall is 0.91 at sf0.1 — past the 0.85 target at ~1.2x the
candidate cost. On a corpus with strong cluster structure the trade
reverses; revisit then.

Matryoshka prefix composition (``m_sub``, r13): the ADC pass can read
only the first m_sub subspaces — at m_sub = M/2 that is the 32-dim
embedding prefix, half the LUT/code bytes per candidate, and against
the persisted index literal parquet column pruning. MEASURED as a
negative result on this corpus (sf0.1, n_probe 7, 5% full-dim refine):
prefix recall 0.60 vs 0.91 full, and the cliff is structural — an
EXACT 32-dim-prefix scorer's shortlist ceiling is 0.81 at the same R
(0.91 needs R doubled to 10%), because i.i.d. random unit vectors
spread energy evenly across dims, so a half prefix keeps half the
signal. Matryoshka-TRAINED embeddings front-load energy and flip the
trade; the mechanism ships for that case with its value-correctness
gated (ann_matryoshka_adc), recall deliberately not claimed.

Reference parity note: /root/reference has no ANN surface at all (its
§2 operators are relational); this module is north-star scope from the
build brief (similarity search over embedding columns at 100 TB).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from linqonsteroids_spark.catalog import read_saved, save_schema, saved_schema
from linqonsteroids_spark.similarity.ivf import assign_nearest_cell
from linqonsteroids_spark.similarity.pq import (
    PQ_CODEBOOK,
    PQ_D,
    PQ_K,
    PQ_M,
    pq_encode,
)
from linqonsteroids_spark.session import materialize


def _query_probe_luts(
    queries: DataFrame,
    centroids: list[list[float]],
    n_probe: int,
    query_id: str,
    query_vec: str,
    m_sub: int = PQ_M,
) -> DataFrame:
    """(query_id, probe_cells array<int>, lut_0..lut_{m_sub-1} array<double>).

    One Arrow kernel over the (tiny, broadcast-destined) query side.
    Probe ranking mirrors the IVF literal path: -2·q·c + |c|² with the
    |c|² terms accumulated sequentially in python (so the value equals
    the literal the oracle embeds), ties broken by cell ASC. LUT entry
    [s][j] is the sequential sum of squared diffs between query
    subvector s and codebook centroid j — the pq_encode arithmetic with
    the query in place of the corpus vector.

    ``m_sub < PQ_M`` is the matryoshka prefix mode: only the first
    ``m_sub`` subspaces (covering the first ``m_sub * PQ_D`` dims) get
    LUTs — half the LUT payload per probe row at m_sub = M/2. Probe
    ROUTING stays full-dim (cells were assigned on full vectors; the
    query side is tiny, so full-dim routing costs nothing and keeps
    cell semantics identical to the non-prefix paths).
    """
    cents = [[float(x) for x in c] for c in centroids]
    ccs = []
    for c in cents:
        cc = 0.0
        for x in c:
            cc += x * x
        ccs.append(cc)
    schema = f"{query_id} long, probe_cells array<int>, " + ", ".join(
        f"lut_{s} array<double>" for s in range(m_sub)
    )

    def kern(batches):
        import numpy as np
        import pandas as pd

        C = np.array(cents, dtype=np.float64)          # (L, dim)
        cc = np.array(ccs, dtype=np.float64)           # (L,)
        books = [
            np.array(PQ_CODEBOOK[s], dtype=np.float64) for s in range(m_sub)
        ]
        n_lists = C.shape[0]
        for pdf in batches:
            if not len(pdf):  # empty Arrow batch: no rows to score
                continue
            x = np.array([list(v) for v in pdf[query_vec]], dtype=np.float64)
            out = {query_id: pdf[query_id].values}
            # probe scores: dot accumulated left-to-right (dot_arrow
            # convention == DuckDB list_dot_product), then -2*dot + cc
            d = x[:, 0, None] * C[None, :, 0]
            for i in range(1, x.shape[1]):
                d = d + x[:, i, None] * C[None, :, i]
            score = -2.0 * d + cc[None, :]
            probes = []
            for r in range(x.shape[0]):
                order = sorted(range(n_lists), key=lambda j: (score[r, j], j))
                probes.append(np.array(order[:n_probe], dtype=np.int32))
            out["probe_cells"] = probes
            for s in range(m_sub):
                sub = x[:, s * PQ_D : (s + 1) * PQ_D]
                diff = sub[:, None, :] - books[s][None, :, :]
                sq = diff * diff
                t = sq[:, :, 0]
                for i in range(1, PQ_D):   # sequential, NOT pairwise sum
                    t = t + sq[:, :, i]
                out[f"lut_{s}"] = list(t)  # (K,) float64 rows
            yield pd.DataFrame(out)

    return queries.select(query_id, query_vec).mapInPandas(kern, schema)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    refine: int | None = None,
    refine_frac: float | None = None,
    m_sub: int = PQ_M,
) -> DataFrame:
    """IVF-routed PQ asymmetric-distance top-k.

    ``m_sub``: number of leading PQ subspaces the ADC pass reads — the
    matryoshka composition (Kusupati et al., NeurIPS 2022: a trained
    prefix is itself an embedding). ``m_sub = PQ_M // 2`` scores
    candidates on the 32-dim prefix only (half the LUT + code bytes per
    candidate); combine with ``refine_frac`` so the exact re-rank runs
    full-dim — measured recall and cost are gated by
    ``ann_matryoshka_topk`` (queries/vector.py).

    ``refine_frac``: the scale-honest alternative to a fixed ``refine``
    — R = max(k, ceil(frac * |corpus|)), resolved from one bounded
    corpus count. A fixed R degrades recall as the corpus grows (the
    shortlist covers a shrinking fraction of each inverted list:
    measured 0.80 -> 0.43 going sf0.01 -> sf0.1 at R=50); a fractional
    R keeps shortlist coverage — and therefore recall — roughly
    constant, at re-rank cost linear in corpus size per query. Mutually
    exclusive with ``refine``.

    ``refine=None``: pure ADC — returns (query_id, rnk, neighbor_id,
    adc_dist) ranked by (adc ASC, neighbor_id ASC); raw adc, caller
    rounds for display. Deterministic because the ADC arithmetic is
    bit-exact (module docstring).

    ``refine=R``: the ADC+R stage of IVFADC-R (Jegou et al.) — the ADC
    pass shortlists the R best codes per query, then the R true vectors
    are fetched by id and re-ranked by EXACT cosine; returns (query_id,
    rnk, neighbor_id, cos_sim). This is how production IVF-PQ recovers
    recall lost to code quantization: the cheap lookup pass touches
    |corpus| x n_probe / n_lists codes, the exact pass only R vectors
    per query. The fetch is one broadcast-hash semi-join of the (tiny)
    shortlist against the corpus by id — at scale, a point-lookup of
    R x |Q| vectors, the corpus never shuffles."""
    if refine_frac is not None:
        if refine is not None:
            raise ValueError("pass refine or refine_frac, not both")
        import math

        n = corpus.count()  # one bounded scalar, the n_docs class
        refine = max(k, math.ceil(n * refine_frac))
    coded = encode_corpus(
        corpus, centroids, corpus_id=corpus_id, corpus_vec=corpus_vec,
        m_sub=m_sub,
    )
    return _topk_from_coded(
        coded,
        queries,
        corpus,
        centroids,
        k=k,
        n_probe=n_probe,
        query_id=query_id,
        query_vec=query_vec,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        exclude_self=exclude_self,
        refine=refine,
        m_sub=m_sub,
    )


def encode_corpus(
    corpus: DataFrame,
    centroids: list[list[float]],
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    m_sub: int = PQ_M,
) -> DataFrame:
    """(neighbor_id, cell, code_0..code_{m_sub-1}): the IVF-PQ index
    payload — nearest-cell assignment (JVM literals) + PQ codes (Arrow
    kernel, cell passed through). One projection + one mapInPandas
    stage, zero shuffle. err2 columns are never emitted: no search or
    index consumer reads them (the index writers used to drop them
    post-hoc, paying the kernel + Arrow cost anyway), and ``m_sub``
    bounds the encode to the subspaces the caller's ADC will read —
    the matryoshka prefix search encodes half the codebook, not all of
    it."""
    return pq_encode(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"),
            F.col(corpus_vec).alias("_cv"),
        ).withColumn("cell", assign_nearest_cell("_cv", centroids)),
        vec_col="_cv",
        id_col="neighbor_id",
        passthrough=[("cell", "int")],
        m_sub=m_sub,
        with_err2=False,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    centroids: list[list[float]],
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Materialize the index ARTIFACT: the encoded corpus written as
    parquet PARTITIONED BY cell — a literal on-disk inverted file
    (Jegou's "inverted lists" as directories). Payload is ~9 bytes of
    codes per vector vs 256+ for float32, built in one pass, and a
    search that probes n_probe cells scans ONLY those directories
    (PartitionFilters — see ivfpq_index_topk). repartition("cell")
    before partitionBy keeps it to one file per cell instead of one per
    (task x cell) — the measured small-files trap."""
    coded = encode_corpus(corpus, centroids, corpus_id, corpus_vec)
    coded.repartition("cell").write.mode("overwrite").partitionBy("cell").parquet(
        path
    )
    save_schema(path, coded.drop("cell").schema)


def append_to_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    centroids: list[list[float]],
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> None:
    """Incremental index maintenance: encode ONLY the new batch and
    append it into the cell directories it lands in — no rebuild, no
    read of the existing artifact. Because the centroids and codebook
    are frozen artifacts, old and new entries are encoded identically,
    so a search over (build(A) + append(B)) equals a search over
    build(A ∪ B) exactly (pinned in tests). At 100 TB this is the daily
    ingest path: cost is O(new batch), touching at most the cells the
    batch maps to. Deletes are the tombstone/compaction pair below."""
    coded = encode_corpus(new_vectors, centroids, corpus_id, corpus_vec)
    coded.repartition("cell").write.mode("append").partitionBy("cell").parquet(
        path
    )
    save_schema(path, coded.drop("cell").schema)


def delete_from_ivfpq_index(
    spark,
    path: str,
    ids: list,
    vectors: DataFrame | None = None,
    centroids: list[list[float]] | None = None,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> int:
    """Takedown from a persisted index — the inverted-file tombstone
    story: the deleted ids land as (neighbor_id, cell) rows under
    ``path/_tombstones`` (an underscore dir, so every plain parquet
    read of the index ignores it automatically), and
    :func:`read_ivfpq_index` masks them with one broadcast anti-join.
    Nothing in the index artifact is rewritten: a takedown batch costs
    O(batch), like the MOR tier's delete deltas.

    With ``vectors`` (the deleted ids' embeddings) and ``centroids``
    the tombstone cells come from the same nearest-cell assignment
    that indexed them — zero reads of the artifact. Without them, one
    pushed-IN scan of the index recovers (id, cell); returns the
    number of index entries tombstoned (0 = ids not present)."""
    if (vectors is None) != (centroids is None):
        raise ValueError("pass vectors AND centroids, or neither")
    if vectors is not None:
        rows = (
            vectors.where(F.col(corpus_id).isin(ids))
            .select(
                F.col(corpus_id).alias("neighbor_id"),
                assign_nearest_cell(corpus_vec, centroids).alias("cell"),
            )
        )
    else:
        rows = (
            read_saved(spark, path)
            .where(F.col("neighbor_id").isin(ids))
            .select("neighbor_id", F.col("cell").cast("int"))
        )
    rows = materialize(rows, "delete_from_ivfpq_index: rows")  # pin before the append
    n = rows.count()
    if n:
        tomb = os.path.join(path, "_tombstones")
        rows.write.mode("append").parquet(tomb)
        save_schema(tomb, rows.schema)
    return n


def read_ivfpq_index(spark, path: str) -> DataFrame:
    """The tombstone-aware read of a persisted index: identical to
    a plain read of ``path`` plus one broadcast anti-join against
    the (small) tombstone set — a taken-down vector can never be
    served, whether or not compaction has run yet."""
    idx = read_saved(spark, path)
    tomb = os.path.join(path, "_tombstones")
    if os.path.isdir(tomb) and any(
        f.endswith(".parquet") for f in os.listdir(tomb)
    ):
        dead = read_saved(spark, tomb).select("neighbor_id").distinct()
        idx = idx.join(F.broadcast(dead), "neighbor_id", "left_anti")
    return idx


def compact_ivfpq_index(spark, path: str) -> list[int]:
    """Fold the tombstones into the artifact: rewrite ONLY the cell
    directories holding tombstoned entries (dynamic partition
    overwrite — untouched inverted lists are never read or written;
    a cell left empty is removed outright since dynamic overwrite
    cannot replace a partition with zero rows), then clear the
    tombstone set. O(touched cells); a crash between the rewrite and
    the clear is harmless — re-applying tombstones to already-clean
    cells anti-joins to nothing, and the next compact finishes the
    clear. Returns the rewritten cell ids."""
    import shutil

    tomb = os.path.join(path, "_tombstones")
    # pin the tombstone FILES now and clear exactly these at the end —
    # a takedown batch appended mid-compaction must survive into the
    # next compact, not be swept unfolded (removing the whole dir
    # would serve its vectors again)
    tomb_files = (
        sorted(
            os.path.join(tomb, f)
            for f in os.listdir(tomb)
            if f.endswith(".parquet")
        )
        if os.path.isdir(tomb)
        else []
    )
    if not tomb_files:
        return []
    dead = spark.read.schema(saved_schema(tomb)).parquet(*tomb_files)
    cells = sorted(
        r["cell"] for r in dead.select("cell").distinct().collect()
    )  # bounded: <= n_lists values
    touched = read_saved(spark, path).where(F.col("cell").isin(cells))
    survivors = materialize(  # BEFORE overwriting its inputs
        touched.join(
            F.broadcast(dead.select("neighbor_id").distinct()),
            "neighbor_id",
            "left_anti",
        ),
        "compact_ivfpq_index: survivors",
    )
    alive_cells = {
        r["cell"]
        for r in survivors.select("cell").distinct().collect()
    }
    if alive_cells:
        (
            survivors.where(F.col("cell").isin(sorted(alive_cells)))
            .repartition("cell")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(path)
        )
    for c in cells:
        if c not in alive_cells:
            shutil.rmtree(
                os.path.join(path, f"cell={c}"), ignore_errors=True
            )
    for f in tomb_files:  # only the files this fold consumed
        try:
            os.remove(f)
        except FileNotFoundError:
            pass
    if os.path.isdir(tomb) and not any(
        f.endswith(".parquet") for f in os.listdir(tomb)
    ):
        shutil.rmtree(tomb, ignore_errors=True)
    return cells


def ivfpq_index_topk(
    index: DataFrame,
    queries: DataFrame,
    corpus: DataFrame | None,
    centroids: list[list[float]],
    k: int = 5,
    n_probe: int = 3,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    refine: int | None = None,
    m_sub: int = PQ_M,
) -> DataFrame:
    """Search a PERSISTED index (``spark.read.parquet`` of a
    build_ivfpq_index artifact): identical semantics and results to
    ``ivfpq_topk`` — encoding is deterministic, so artifact and
    in-memory paths agree bit-for-bit (pinned in tests) — but the scan
    is restricted to the probed cells with an ``isin`` filter whose
    values are the union of every query's probe list (a bounded
    driver-side collect: at most n_lists ints, the bucket-id-list
    class), which parquet partition pruning turns into reading ONLY the
    probed inverted-list directories. ``corpus`` is required only when
    ``refine`` is set (the exact re-rank fetches true vectors)."""
    if refine is not None and corpus is None:
        raise ValueError("refine requires the corpus for the exact re-rank")
    # one probe-kernel run total: the cells collect and the ADC join below
    # both read the materialized probes. Driver traffic stays the bounded
    # cell-id set; the LUT payload never leaves the executors.
    probes = materialize(
        _query_probe_luts(queries, centroids, n_probe, query_id, query_vec, m_sub=m_sub),
        "ivfpq_index_topk: query probes",
    )
    cells = sorted(
        {c for r in probes.select("probe_cells").collect() for c in r[0]}
    )  # bounded: <= n_lists values
    pruned = index.filter(F.col("cell").isin(cells))
    return _topk_from_coded(
        pruned,
        queries,
        corpus,
        centroids,
        k=k,
        n_probe=n_probe,
        query_id=query_id,
        query_vec=query_vec,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        exclude_self=exclude_self,
        refine=refine,
        probes=probes,
        m_sub=m_sub,
    )


def _topk_from_coded(
    coded: DataFrame,
    queries: DataFrame,
    corpus: DataFrame | None,
    centroids: list[list[float]],
    k: int,
    n_probe: int,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
    exclude_self: bool,
    refine: int | None,
    probes: DataFrame | None = None,
    m_sub: int = PQ_M,
) -> DataFrame:
    if probes is None:
        probes = _query_probe_luts(
            queries, centroids, n_probe, query_id, query_vec, m_sub=m_sub
        )
    probes = probes.select(
        query_id,
        F.explode("probe_cells").alias("cell"),
        *[f"lut_{s}" for s in range(m_sub)],
    )
    # ADC: element_at is 1-based; codes are 0-based argmins. Left-assoc
    # `+` chain matches the oracle's `lut[code+1] + ...` chain exactly
    # (the SQL parser folds the chain left-associatively too, so float
    # addition order is bit-identical). One parsed expression instead of
    # ~3 py4j calls per subspace per invocation (r16; the simhash
    # plan-construction lesson). m_sub < PQ_M reads only the first m_sub
    # code columns — against the persisted columnar index that is
    # literal column pruning, so the matryoshka prefix pass scans half
    # the code bytes at m_sub = M/2.
    adc = F.expr(
        " + ".join(
            f"element_at(lut_{s}, code_{s} + 1)" for s in range(m_sub)
        )
    )
    cand = coded.join(F.broadcast(probes), "cell")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col(query_id))
    w = Window.partitionBy(query_id).orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    ranked = cand.withColumn("adc", adc).withColumn(
        "rnk", F.row_number().over(w)
    )
    if refine is None:
        return ranked.filter(F.col("rnk") <= k).select(
            query_id, "rnk", "neighbor_id", F.col("adc").alias("adc_dist")
        )

    from linqonsteroids_spark.similarity.knn import cosine_from_norms, l2_norm

    shortlist = ranked.filter(F.col("rnk") <= refine).select(
        query_id, "neighbor_id"
    )
    # fetch the true vectors with an ID-ONLY broadcast of the (|Q| x R)
    # shortlist, then attach the query vector from a second |Q|-row
    # broadcast: the old shape joined the query vector onto the
    # shortlist FIRST, so the broadcast payload duplicated every query
    # vector R times (R x |Q| x vector bytes instead of R x |Q| ids —
    # two orders of magnitude more broadcast bytes at the production
    # refine fraction). The corpus still never shuffles (r15).
    qv = queries.select(
        query_id, F.col(query_vec).alias("_qv")
    ).withColumn("_qn", l2_norm(F.col("_qv")))
    corp = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("_nv"),
    ).withColumn("_nn", l2_norm(F.col("_nv")))
    cos = cosine_from_norms(
        F.col("_qv"), F.col("_nv"), F.col("_qn"), F.col("_nn")
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        corp.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), query_id)
        .withColumn("cos_sim", cos)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select(query_id, "rnk", "neighbor_id", "cos_sim")
    )
