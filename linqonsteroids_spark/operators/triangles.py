"""Triangle counting with degree orientation.

Triangle count is the standard graph-shape statistic (clustering
coefficient numerator, spam/botnet signal on link graphs). The naive
relational form — a three-way self-join of the edge list — explodes on
skewed graphs: a hub of degree d contributes O(d²) wedge rows. The fix is
DEGREE ORIENTATION (Suri & Vassilvitskii, WWW 2011 "Counting Triangles
and the Curse of the Last Reducer" — public): orient every undirected
edge from its lower-degree endpoint to its higher-degree endpoint (ties
by node id), generate wedges only from ORIENTED out-neighborhoods, and
close them against oriented edges. Every triangle is counted exactly
once, and per-node wedge work drops from O(deg²) to O(out_deg²) with
out_deg ≤ O(sqrt(|E|)) — the bound that tames hubs at 100 TB.

Shuffle budget: degree agg (1) + two joins attaching degrees (AQE/
broadcast-planned) + wedge self-join on the pivot (1) + closing semi-join
on the wedge endpoints (1). All equi-joins — no cartesian anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linqonsteroids_spark.session import materialize


def orient_edges(edges: DataFrame) -> DataFrame:
    """(lo, hi) undirected distinct edges → (src, dst) oriented by
    (degree, id): src is the endpoint with smaller (degree, id).

    ``edges`` must be canonical: lo < hi, one row per undirected edge."""
    deg = (
        edges.select(F.col("lo").alias("node"))
        .unionAll(edges.select(F.col("hi").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    with_deg = (
        edges.join(deg.withColumnRenamed("node", "lo"), "lo")
        .withColumnRenamed("deg", "deg_lo")
        .join(
            deg.withColumnRenamed("node", "hi").withColumnRenamed("deg", "deg_hi"),
            "hi",
        )
    )
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    return with_deg.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("src"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("dst"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Count triangles in an undirected graph given as canonical (lo, hi)
    distinct edges. Returns a 1-row (n_triangles) DataFrame.

    Counting is the FORWARD edge-iterator (Schank & Wagner 2005,
    public): orientation by (degree, id) makes every triangle an acyclic
    tour u→v, u→w, v→w with exactly one "low" edge (u, v) whose
    endpoints both out-reach w, so
    ``n_triangles = Σ_{(u,v) oriented} |N_out(u) ∩ N_out(v)|``.
    Per-edge intersection work is O(out_deg) ≤ O(sqrt(|E|)) — the same
    bound as wedge enumeration — but nothing materializes the wedge set:
    the r15 rewrite replaced the wedge self-join + closing semi-join
    (41 M wedge rows shuffled by endpoint pair on the co-order gate at
    sf0.1) with two equi-joins of the edge list against the
    out-neighbor-array relation (|V| rows), which AQE broadcasts when it
    fits and sort-merges when it doesn't. Measured interleaved on the
    co-order gate: closing phase 8.0 → 3.2 s median, identical count.

    ``edges`` and the intermediates are consumed by several join sides
    and Catalyst does not reuse a subtree across consumers (the upstream
    pipeline appeared 22x in the plan before materialization — 112
    Exchanges / 44 scans for one count), so edges, the oriented relation
    and the neighbor arrays are each materialized once."""
    edges = materialize(edges, "triangle_count: edges")
    oriented = materialize(orient_edges(edges), "triangle_count: oriented edges")
    nbrs = materialize(
        oriented.groupBy("src").agg(F.array_sort(F.collect_list("dst")).alias("ns")),
        "triangle_count: out-neighbor arrays",
    )
    per_edge = oriented.join(
        nbrs.select(F.col("src").alias("u_"), F.col("ns").alias("ns_u")),
        F.col("src") == F.col("u_"),
    ).join(
        nbrs.select(F.col("src").alias("v_"), F.col("ns").alias("ns_v")),
        F.col("dst") == F.col("v_"),
        "left",  # dst may have no out-edges at all
    )
    contrib = F.when(F.col("ns_v").isNull(), F.lit(0)).otherwise(
        F.size(F.array_intersect(F.col("ns_u"), F.col("ns_v")))
    )
    return per_edge.agg(
        F.coalesce(F.sum(contrib), F.lit(0))
        .cast("long")
        .alias("n_triangles")
    )
