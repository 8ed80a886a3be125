"""Iterate-to-fixpoint operators: Fix and TransitiveClosure.

Reference: ``src/main/scala/ivm/expressiontree/Fix.scala:4-41`` — ``Fix``
re-applies ``f`` until the collection stops growing; ``TransitiveClosure``
is its flagship instantiation (``FixpointTest.scala:20-22``).

Spark-first design: semi-naive evaluation — each iteration joins only the
*frontier* (new pairs) against the base edges, unions, dedups, and
materializes to truncate lineage (otherwise the plan doubles per
iteration and the driver OOMs long before the data does). At 100 TB the
join shuffles edges on dst each round: ``session.materialize`` stores the
rows but drops its outputPartitioning (measured — a repartition("dst")
before the checkpoint does not reduce the next round's exchange count),
so the per-round cost floor is one edge shuffle + one label shuffle.
Two scale levers applied here:

- **iteration count**: ``transitive_closure`` path-doubles (⌈log₂ D⌉
  rounds) and ``connected_components`` pointer-jumps (label ← label of
  label each round), so a length-N chain converges in O(log N) rounds
  instead of N — template-spam chains are exactly the adversarial shape a
  100 TB dedup wash meets.
- **static-side bucketing** (``bucket_edges=True``): the edge relation
  never changes across rounds, so persisting it as a bucketed+sorted
  table on the join key removes the edge-side Exchange from EVERY round's
  plan (the label side still shuffles to the bucket layout — that side is
  new each round, so its shuffle is inherent).
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linqonsteroids_spark.session import materialize

_EDGE_TABLE_IDS = itertools.count()


def fix(
    initial: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_iterations: int = 50,
) -> DataFrame:
    """Least-fixpoint of ``acc ∪ step(frontier)`` under set semantics.

    ``initial`` must already be distinct and materialized (``materialize``
    or a persisted table): it seeds both the accumulator and the first
    frontier. ``step`` receives the frontier (rows added last round) and
    returns candidate new rows; iteration stops when no new rows appear.
    """
    # acc is a LAZY union of materialized frontiers: materializing the
    # union every round re-copied the whole accumulated set (O(D·|acc|)
    # bytes over D rounds); the union costs the same one shuffle (r15).
    frontier = acc = initial
    for _ in range(max_iterations):
        candidates = step(frontier).distinct()
        frontier = materialize(
            candidates.join(acc, on=list(acc.columns), how="left_anti"),
            "fix: frontier",
        )
        if frontier.isEmpty():
            return acc
        acc = acc.unionByName(frontier)
    return acc


def _persist_edges(edges: DataFrame, bucket: bool, key: str = "dst") -> DataFrame:
    """Persist the static edge side for iterative reuse.

    ``bucket=True`` writes a bucketed+sorted table on ``key`` (bucket count
    = shuffle partitions, so the scan's HashPartitioning satisfies the
    join's required distribution) and reads it back — every subsequent
    join on ``key`` scans it Exchange-free. ``bucket=False`` keeps the
    single-process-friendly ``materialize``, which drops
    outputPartitioning (measured; see module docstring)."""
    if not bucket:
        return materialize(edges, "fixpoint: static edges")
    from linqonsteroids_spark.sources.parquet import write_bucketed_table

    spark = edges.sparkSession
    name = f"cc_edges_{next(_EDGE_TABLE_IDS)}"
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    write_bucketed_table(edges, name, [key], n_buckets=n)
    return spark.table(name)


def _neighbor_min(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One propagation step: per src, the min label over its neighbors.
    Factored out so plan tests can pin the Exchange count of the round
    body against bucketed vs checkpointed edges."""
    return (
        edges.join(labels, edges.dst == labels.node)
        .groupBy("src")
        .agg(F.min("label").alias("nmin"))
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
    bucket_edges: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) where component = smallest node id reachable
    through the undirected ``pairs`` relation — min-label propagation with
    pointer jumping, to fixpoint (a ``Fix`` instantiation).

    This is the dedup-pipeline closer: near-dup candidate PAIRS become
    keep/drop decisions only after clustering (keep one representative per
    component). Each round does (1) neighbor-min propagation and (2) a
    pointer jump — ``label ← label(label)`` — so the distance each label
    has travelled toward the component minimum roughly doubles per round:
    a length-N chain converges in O(log N) rounds where plain propagation
    needs N (covered distance follows d ← 2d+2: 2, 6, 14, … = 2^(k+1)-2).
    Labels only decrease and only to ids inside the same component, so the
    fixpoint is exactly the per-component minimum.

    ``bucket_edges=True`` persists the (static) symmetrized edge relation
    as a bucketed table on ``dst``, removing the edge-side Exchange from
    every round — the scale path for deep clusters over big pair sets.
    ``stats``, if given, records ``{"iterations": n}`` for convergence
    tests and operational visibility."""
    edges = _persist_edges(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct(),
        bucket=bucket_edges,
    )
    labels = materialize(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        "connected_components: initial labels",
    )
    iterations = 0
    for _ in range(max_iterations):
        iterations += 1
        neigh = _neighbor_min(edges, labels)
        # cand feeds BOTH sides of the pointer-jump join below on
        # DIFFERENT keys (label vs node), so Catalyst cannot share the
        # exchange and would execute the neighbor-min join+agg twice per
        # round — materialize it once instead (r15)
        cand = materialize(
            labels.join(neigh, labels.node == neigh.src, "left").select(
                "node",
                F.col("label").alias("__prev"),
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                    "label"
                ),
            ),
            "connected_components: propagated labels",
        )
        # pointer jump: follow the label one hop (label is always a node id
        # in the same component, so the lookup join is total; left+coalesce
        # guards the invariant rather than relying on it)
        ptr = cand.select(F.col("node").alias("p_node"), F.col("label").alias("p_label"))
        new_labels = materialize(
            cand.join(ptr, cand.label == ptr.p_node, "left").select(
                "node", "__prev", F.coalesce("p_label", "label").alias("label")
            ),
            "connected_components: jumped labels",
        )
        # labels are monotone non-increasing, so carrying last round's
        # label through the round turns the convergence check into one
        # shuffle-free filter scan of the checkpointed result — the old
        # left_anti join shuffled both label relations every round (r15)
        changed = not new_labels.where(
            F.col("label") != F.col("__prev")
        ).isEmpty()
        labels = new_labels.select("node", "label")
        if not changed:
            break
    if stats is not None:
        stats["iterations"] = iterations
    return labels


_RCTE_PROBED: dict[str, bool] = {}


def supports_recursive_cte(spark) -> bool:
    """Capability probe for native ``WITH RECURSIVE`` (Spark 4.0+,
    SPARK-24497), cached per application: one 3-row recursion, any
    parse/analysis error means "not supported". Spark's recursion
    currently allows UNION ALL only (probed 4.1.2: UNION errors with
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), which constrains which
    fixpoints can lower to it — see ``strategy="rcte"`` below."""
    key = spark.sparkContext.applicationId
    if key not in _RCTE_PROBED:
        try:
            rows = spark.sql(
                "WITH RECURSIVE _probe(n) AS ("
                " SELECT 1 UNION ALL SELECT n + 1 FROM _probe WHERE n < 3"
                ") SELECT count(*) AS c FROM _probe"
            ).collect()
            _RCTE_PROBED[key] = rows[0].c == 3
        except Exception:
            _RCTE_PROBED[key] = False
    return _RCTE_PROBED[key]


def transitive_closure(
    edges: DataFrame,
    max_iterations: int = 50,
    strategy: str = "doubling",
    bucket_edges: bool = False,
) -> DataFrame:
    """All (src, dst) pairs reachable through the binary relation ``edges``.

    ``strategy="rcte"`` lowers to the engine's native ``WITH RECURSIVE``
    (behind ``supports_recursive_cte``; falls back to ``"seminaive"``
    when the engine lacks it). CONTRACT: the edge relation must be
    ACYCLIC — Spark's recursion is UNION ALL only, i.e. it enumerates
    PATHS and dedups at the end, so a cycle would recurse to the
    engine's cteRecursionLevelLimit instead of converging; the
    driver-loop strategies handle cyclic graphs (their per-round
    left-anti dedup IS the distinct-union a cycle needs). Where it
    applies, the engine schedules the whole fixpoint as one query — no
    per-round driver sync, no per-round materializations.

    Driver-loop strategies, the classic iteration-count vs
    per-round-cost trade:

    - ``"doubling"`` (default): after round i ``acc`` holds all paths of
      length ≤ 2^i — a diameter-D graph converges in ⌈log₂ D⌉ joins.
      Both join sides change every round, so nothing can be pre-bucketed.
    - ``"seminaive"``: each round joins only the FRONTIER (pairs added
      last round) against the base edges — O(D) rounds, but the edge side
      is static, so ``bucket_edges=True`` persists it bucketed on ``src``
      and every round's join scans it Exchange-free (plan delta pinned in
      tests). Right when the graph is shallow or the doubled ``acc⋈acc``
      intermediate would dwarf |frontier|·|edges|.
    """
    if strategy == "rcte":
        spark = edges.sparkSession
        if not supports_recursive_cte(spark):
            return transitive_closure(
                edges, max_iterations, "seminaive", bucket_edges
            )
        name = f"tc_edges_rcte_{next(_EDGE_TABLE_IDS)}"
        # the recursion references the view once per level, and a temp
        # view is a logical plan — each level would re-run the upstream
        # scan + distinct shuffle. Materialize the edge relation once so
        # every recursion level scans in-memory rows (r15).
        materialize(
            edges.select("src", "dst").distinct(), "transitive_closure: rcte edges"
        ).createOrReplaceTempView(name)
        return spark.sql(
            f"""
            WITH RECURSIVE tc(src, dst) AS (
              SELECT src, dst FROM {name}
              UNION ALL
              SELECT tc.src, e.dst FROM tc JOIN {name} e ON tc.dst = e.src
            )
            SELECT DISTINCT src, dst FROM tc
            """
        )

    if strategy == "seminaive":
        # fix() over a static edge side: base is materialized (or a
        # bucketed table) and distinct, so it seeds fix() as-is
        base = _persist_edges(
            edges.select("src", "dst").distinct(), bucket=bucket_edges, key="src"
        )

        def step(frontier: DataFrame) -> DataFrame:
            f = frontier.select(F.col("src").alias("f_src"), F.col("dst").alias("f_dst"))
            return f.join(base, F.col("f_dst") == base.src).select(
                F.col("f_src").alias("src"), F.col("dst")
            )

        return fix(base, step, max_iterations)

    acc = materialize(
        edges.select("src", "dst").distinct(), "transitive_closure: edges"
    )
    for _ in range(max_iterations):
        a = acc.select(F.col("src").alias("a_src"), F.col("dst").alias("a_dst"))
        b = acc.select(F.col("src").alias("b_src"), F.col("dst").alias("b_dst"))
        new_pairs = (
            a.join(b, a.a_dst == b.b_src)
            .select(F.col("a_src").alias("src"), F.col("b_dst").alias("dst"))
            .distinct()
        )
        delta = materialize(
            new_pairs.join(acc, on=["src", "dst"], how="left_anti"),
            "transitive_closure: new pairs",
        )
        if delta.isEmpty():
            return acc
        # lazy union-of-checkpointed-deltas accumulator (see fix())
        acc = acc.unionByName(delta)
    return acc
