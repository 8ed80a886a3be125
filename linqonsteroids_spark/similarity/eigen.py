"""Power iteration over a distributed embedding matrix: the dominant
right singular direction of X (top eigenvector of the Gram matrix X'X).

The one-pass-per-iteration linear-algebra pattern a 100 TB embedding
pipeline actually runs (PCA whitening, spectral drift monitors, top-k
via deflation): never materialize the d x d Gram matrix row set as a
cross join, never collect X. Each iteration computes

    w = X' (X v)

as (a) one row-local dot product s_i = x_i . v against the BROADCAST
iterate (a d-length folded literal — bounded by configuration, the
linkage.py/bloomjoin bounded-metadata class), (b) the row-local scaled
vector s_i * x_i, (c) an elementwise sum via posexplode + groupBy(pos)
— a d-group shuffle whose output is d doubles, collected and normalized
driver-side to become the next iterate. Driver traffic per iteration is
exactly d floats; executor work is one pass over X.

Convergence: ||X v|| (the Rayleigh quotient's square root) is returned
per iteration; the deterministic all-ones start vector has nonzero
overlap with the dominant direction for these corpora. Sign is
canonicalized (largest-|component| positive) so results are comparable
across engines and runs. No DuckDB oracle — per-position float sums
differ in summation order across engines — so the gate registers
rows-only with a numpy differential in pytest (the bpe/zlib evidence
pattern).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linqonsteroids_spark.session import materialize


def power_iteration_top_component(
    emb: DataFrame,
    vec_col: str = "embedding",
    iterations: int = 3,
) -> tuple[list[float], float]:
    """Returns (unit eigenvector as list[d], ||X v|| of the last step)."""
    # materialized ONCE: every iteration re-scanned the parquet + cast
    # otherwise (r15); the matrix is the loop's static side, exactly the
    # pagerank/triangles pattern
    x = materialize(
        emb.select(F.transform(F.col(vec_col), lambda c: c.cast("double")).alias("x")),
        "power_iteration: matrix",
    )
    dim = len(x.first()["x"])
    v = [1.0 / math.sqrt(dim)] * dim
    norm_xv = 0.0
    for _ in range(iterations):
        vlit = F.lit(v)  # folded literal, evaluated once (not CreateArray)
        s = F.aggregate(
            F.zip_with("x", vlit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        # w = X'(Xv) as ONE map-side-combined aggregate with d sum
        # columns: the old posexplode + groupBy(pos) shuffled d*N rows
        # per round to produce d doubles; partial aggregation reduces
        # that to (n_partitions x d) — the shuffle disappears from the
        # cost model entirely (r15). The d sums ride one parsed array()
        # expression (r16): built per-column they cost ~4 py4j calls per
        # dimension PER ROUND of pure driver time (the simhash
        # plan-construction lesson); values are unchanged — each array
        # element is the same independent sum.
        row = x.select(s.alias("s"), "x")
        w_expr = "array(" + ",".join(
            f"sum(x[{i}] * s)" for i in range(dim)
        ) + ")"
        w = list(row.agg(F.expr(w_expr).alias("w")).first()["w"])
        nw = math.sqrt(sum(c * c for c in w))
        # ||Xv||^2 = v . (X'X v) = v . w  (w computed BEFORE normalization)
        norm_xv = math.sqrt(max(sum(a * b for a, b in zip(v, w)), 0.0))
        v = [c / nw for c in w] if nw > 0 else v
    # canonical sign: largest-|component| positive
    k = max(range(dim), key=lambda i: abs(v[i]))
    if v[k] < 0:
        v = [-c for c in v]
    return v, norm_xv
