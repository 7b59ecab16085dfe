"""Distributed graph operators in plain DataFrame ops — PageRank and
degree-oriented triangle counting (companions to the connected-components
propagation in operators/dedup.py — together they cover the workhorse
iterative and join-based graph shapes without GraphX/GraphFrames).

Scale design (100 TB):
- One iteration = one keyed join (ranks on src) + one keyed agg (sum by
  dst) — the exact shuffle profile of Pregel PageRank; nothing else moves.
  Out-degrees are broadcast into the edge relation (O(nodes) ≪ O(edges)).
- The edge list and out-degrees are materialized ONCE (``localCheckpoint``)
  so iterations touch the materialized relations, not the upstream plan
  that built the graph.
- The rank vector is O(nodes) and stays distributed end to end; the node
  count enters the plan as a broadcast single-row DataFrame, not a driver
  constant.
- Ranks are rounded to 6 decimals AFTER each iteration: the per-node
  contribution sum is order-dependent in the last ulps on any distributed
  engine, so pinning each iteration's output makes the fixpoint
  bit-reproducible across engines/partitionings (same convention as the
  seeded-md5 sampling operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list. Assumes no
    dangling nodes (every node has at least one out-edge) — true by
    construction for symmetrized graphs; callers with genuinely directed
    graphs add the dangling mass term themselves.

    Returns (node, pr) after ``iters`` iterations of
    ``pr(v) = (1-d)/N + d * Σ_{u→v} pr(u)/outdeg(u)``, each iteration
    rounded to 6 decimals (see module docstring).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # ONE materialization: (src, dst, outdeg). The no-dangling contract
    # makes the node set exactly distinct(src), so nodes/N/initial ranks
    # all derive from this relation instead of separate passes over the
    # upstream edge plan.
    staged = e.join(F.broadcast(deg), "src").localCheckpoint(eager=True)
    spark = edges.sparkSession
    # Loop partition count sized to the materialized edge volume (same
    # size-to-state rule as connected_components): iteration shuffles move
    # exactly O(edges) rows, so the session default (sized for the whole
    # workload) wastes scheduling overhead on small graphs. Applied ONLY
    # through explicit repartition(numPartitions, key) — the session conf
    # is never touched, so concurrent queries sharing the SparkSession
    # plan with their own shuffle settings throughout the loop. At 100 TB
    # the formula yields hundreds of partitions.
    try:
        session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):  # e.g. "auto" on some platforms
        session_parts = spark.sparkContext.defaultParallelism
    n_edges = staged.count()
    loop_parts = max(8, min(session_parts, n_edges // 500_000 + 1))
    # Re-stage partitioned BY THE JOIN KEY: localCheckpoint preserves
    # output partitioning, so every iteration's rank join sees its big side
    # already distributed on `src` and only exchanges the O(nodes) rank
    # vector — per iteration the single wide op on edge-scale data is the
    # unavoidable contribution aggregate (the Pregel shuffle).
    contrib_base = staged.repartition(loop_parts, "src").localCheckpoint(eager=True)
    # nodes and the 1-row node count are ALSO checkpointed: both appear in
    # every iteration's plan (initial ranks / the teleport term), and
    # without materialization each iteration would re-run the distinct +
    # count aggregation over the edge relation.
    nodes = (
        contrib_base.select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("nn")).localCheckpoint(
        eager=True
    )
    # The rank vector is kept explicitly co-partitioned with the staged
    # edges (loop_parts on the join key) by ending every iteration with a
    # repartition BEFORE the checkpoint: each iteration's join then needs
    # zero exchanges — the O(edges) side never re-shuffles and the
    # trailing exchange moves only O(nodes) rows.
    ranks = (
        nodes.join(F.broadcast(n_row))
        .select("node", (F.lit(1.0) / F.col("nn")).alias("pr"))
        .repartition(loop_parts, "node")
        .localCheckpoint(eager=True)
    )
    for _ in range(iters):
        # SHUFFLE_HASH on the rank vector: co-partitioned with the staged
        # edges (zero exchange), but sort-merge would re-sort the O(edges)
        # side every iteration — hash-building the O(nodes) rank side
        # streams the edges unsorted (guide §3.1; same rule as the CC loop).
        ranks = (
            contrib_base.join(ranks.hint("shuffle_hash"), contrib_base.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("pr") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
            .join(F.broadcast(n_row))
            .select(
                "node",
                F.round(
                    F.lit(1.0 - damping) / F.col("nn") + F.lit(damping) * F.col("s"), 6
                ).alias("pr"),
            )
            .repartition(loop_parts, "node")
            # Eager per-iteration materialization: the rank vector is
            # O(nodes); this stops iteration i's plan from re-running
            # iterations 1..i-1 at final collect.
            .localCheckpoint(eager=True)
        )
    return ranks


def _oriented_arcs(e: DataFrame) -> DataFrame:
    """Degree-oriented arcs (a, b, rkb) of the canonical undirected edge
    relation ``e`` (u < v, distinct): every edge points from its
    lower-(degree, id) endpoint to the higher one, and ``rkb`` is the
    rank of ``b``. The degree table is broadcast into the edge
    relation."""
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient by (deg, id): arc a→b iff (deg_a, a) < (deg_b, b). Rank is
    # encoded as a single BIGINT (deg in the high bits, id below) so the
    # wedge join's ordering predicate is one integer compare, not a
    # struct compare. Ids here are table keys (< 2^40); degrees < 2^23.
    rank = (F.col("deg").cast("long") * F.lit(1 << 40) + F.col("node")).alias("rk")
    degr = deg.select("node", rank)
    return (
        e.join(F.broadcast(degr).withColumnRenamed("node", "u").withColumnRenamed("rk", "rku"), "u")
        .join(F.broadcast(degr).withColumnRenamed("node", "v").withColumnRenamed("rk", "rkv"), "v")
        .select(
            F.when(F.col("rku") < F.col("rkv"), F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(F.col("rku") < F.col("rkv"), F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(F.col("rku") < F.col("rkv"), F.col("rkv")).otherwise(F.col("rku")).alias("rkb"),
        )
    )


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected graph given as an edge
    list (either or both directions, self-loops and duplicates tolerated —
    canonicalized here). Returns (node, n_triangles) for every node that
    participates in at least one triangle.

    Scale design (100 TB of edges):
    - **Degree orientation** (the "compact-forward" / Latapy ordering):
      every undirected edge is oriented from its lower-(degree, id)
      endpoint to the higher one. Wedge generation then joins arcs on
      their SOURCE vertex, so a vertex of out-degree d contributes
      O(d²) wedges with d bounded by ~sqrt(2m) — the degree ordering is
      exactly what keeps a power-law hub from generating deg² wedge rows.
    - The degree table is O(nodes) and is broadcast into the arc relation;
      the only shuffles are the two arc joins (wedge build on source id,
      closing-arc probe on the (lo, hi) pair) and the final per-node agg.
    - Each triangle is enumerated exactly once (strict rank ordering
      a < b < c), then exploded to its three corners for the per-node
      counts — a 3× fan-out of triangle rows, not of edges.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"),
            F.greatest("u", "v").alias("v"),
        )
        .distinct()
    )
    # r19: e feeds deg (twice, via the union) AND the arc build — without
    # materialization the upstream edge derivation (here: a lineitem
    # self-join + distinct) re-executes per consumer. O(edges) rows, same
    # checkpoint discipline as the CC/PageRank loops; rotated A/B at
    # sf0.1: 1.51 s -> 1.06 s with both checkpoints.
    e = e.localCheckpoint(eager=True)
    # r19: arcs feeds three consumers (both wedge sides + the closing
    # probe); materialized once for the same reason as e above.
    arcs = _oriented_arcs(e).localCheckpoint(eager=True)
    w1 = arcs.select(F.col("a"), F.col("b").alias("x"), F.col("rkb").alias("rkx"))
    w2 = arcs.select(F.col("a"), F.col("b").alias("y"), F.col("rkb").alias("rky"))
    wedges = w1.join(w2, "a").filter(F.col("rkx") < F.col("rky")).select("a", "x", "y")
    closing = arcs.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tris = wedges.join(closing, ["x", "y"])
    return (
        tris.select(F.explode(F.array("a", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
