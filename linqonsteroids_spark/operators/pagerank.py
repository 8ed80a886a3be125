"""Iterative PageRank in exact integer fixed-point arithmetic.

Complements the fixpoint family (``operators/fixpoint.py`` — reference
``Fix.scala:4-41``'s recursion surface): transitive closure and connected
components answer reachability; PageRank ranks nodes by stationary link
mass, the standard importance prior for graph-shaped corpora (site-level
quality weighting in a crawl, citation weighting).

All arithmetic is 64-bit integer fixed-point (ranks scaled by
``SCALE = 10^12``), so every iteration is bit-exactly reproducible on any
engine and independent of aggregation order — the hashed-output discipline
(floats summed across partitions in a different order flip last bits;
integer sums cannot). Division uses integer floor semantics (`div` /
DuckDB `//`), identical everywhere for the non-negative operands here.
Dangling mass (nodes without out-edges) is dropped, not redistributed — a
documented, engine-identical variant choice.

Scale design (100 TB graph):
- The edge relation is the iteration invariant: it is joined on ``src``
  every round. With ``bucket_edges=True`` it is persisted ONCE as a
  bucketed+sorted table on ``src`` (``fixpoint._persist_edges`` — scan
  partitioning satisfies the join requirement), so each round's rank join
  scans the O(E) side Exchange-free and only the (node, rank) relation
  (O(V), far smaller) moves per round — pinned in ``test_plans``. The
  default ``materialize`` path stores the edges but loses
  outputPartitioning at the SQL layer (Catalyst re-Exchanges per round) —
  fine single-process, wrong at cluster scale; same trade as the
  connected-components edge side.
- Per-round cost: one co-partitioned join + one map-side-combined sum on
  ``dst`` + one left join back to the node set. Rounds are fixed
  (``n_iterations``), not convergence-polled — no driver-side collect of
  anything but the node count (one scalar, computed once).
- ``materialize`` every ``checkpoint_every`` rounds truncates lineage so
  the DAG stays bounded (the fixpoint.py pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linqonsteroids_spark.operators.fixpoint import _persist_edges
from linqonsteroids_spark.session import materialize

SCALE = 10**12
DAMPING_NUM = 85
DAMPING_DEN = 100


def pagerank(
    edges: DataFrame,
    n_iterations: int = 3,
    scale: int = SCALE,
    damping_num: int = DAMPING_NUM,
    damping_den: int = DAMPING_DEN,
    bucket_edges: bool = False,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a (src, dst) edge relation.

    ``edges`` must be duplicate-free (a repeated edge would double its
    contribution). Returns (node, rank) with
    ``rank = base + damping * sum(contributions)`` after ``n_iterations``
    synchronous rounds from the uniform start ``scale div |V|``, where
    ``base = (scale * (den - num) div den) div |V|`` and every division is
    integer floor division.

    ``checkpoint_every`` bounds lineage depth: rank lineage is truncated
    after every that-many rounds (and never for a shorter run). Each
    round's plan references the previous round exactly once, so a few
    un-truncated rounds plan as ONE query — fewer sequential
    materialization jobs and the engine reuses the static side's scan
    across rounds — while deep runs still cap their DAG (r15; results
    are integer-exact either way)."""
    # the upstream edge pipeline feeds degree counting, the static join
    # side AND the node set — materialize it once instead of re-running
    # it per consumer (r15; same fix as triangles.py)
    edges = materialize(edges, "pagerank: edges")
    # one endpoint aggregate yields the node set AND the out-degrees:
    # each edge contributes (src, 1) and (dst, 0) row-locally, so one
    # grouped pass replaces the union-distinct node pass plus the
    # separate groupBy(src) degree pass — one Exchange over partially
    # aggregated endpoints instead of two over raw ones (r16). A node
    # has out_deg > 0 iff it occurs as src, so the filtered projection
    # is exactly the old inner-join degree relation.
    endpoints = materialize(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.lit(1).alias("is_src")),
                    F.struct(F.col("dst").alias("node"), F.lit(0).alias("is_src")),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.node").alias("node"))
        .agg(F.sum("e.is_src").alias("out_deg")),
        "pagerank: node degrees",
    )
    nodes = endpoints.select("node")
    n = endpoints.count()  # one driver scalar — the only collect in the operator

    deg = endpoints.filter(F.col("out_deg") > 0).select(
        F.col("node").alias("src"), "out_deg"
    )
    # static iteration side: persisted once; bucketed → Exchange-free rounds
    edged = _persist_edges(edges.join(deg, "src"), bucket=bucket_edges, key="src")
    base = (scale * (damping_den - damping_num) // damping_den) // n
    ranks = nodes.select("node", F.lit(scale // n).cast("long").alias("rank"))
    for i in range(n_iterations):
        contribs = edged.join(
            ranks.withColumnRenamed("node", "src"), "src"
        ).select("dst", F.expr("rank div out_deg").alias("contrib"))
        in_mass = contribs.groupBy("dst").agg(F.sum("contrib").alias("in_mass"))
        ranks = nodes.join(
            in_mass.withColumnRenamed("dst", "node"), "node", "left"
        ).select(
            "node",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"{damping_num} * coalesce(in_mass, 0L) div {damping_den}"
                )
            ).alias("rank"),
        )
        last = i + 1 == n_iterations  # materialized once, below
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and not last:
            ranks = materialize(ranks, "pagerank: ranks")
    # final materialization: the un-truncated tail rounds execute as ONE
    # query here; it also keeps the result a computed relation (a bare
    # lazy plan would let a downstream count() prune the rank arithmetic
    # via left-join elimination — the rounds must actually run)
    return materialize(ranks, "pagerank: ranks")
