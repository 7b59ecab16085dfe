"""Unit tests for operators/graph.py:pagerank on hand-built graphs (the
query-level parity vs the chained-CTE oracle lives in test_oracle_parity;
these pin the operator's math on cases small enough to reason about)."""

from __future__ import annotations

import pytest

from flink_stream_processing_spark.operators.graph import pagerank


def _ranks(spark, edge_list, iters=3):
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    return {
        r["node"]: r["pr"] for r in pagerank(edges, iters=iters).collect()
    }


def test_symmetric_pair_is_uniform(spark):
    # a <-> b: perfectly symmetric, ranks stay at 1/2 every iteration
    r = _ranks(spark, [(1, 2), (2, 1)])
    assert r == {1: 0.5, 2: 0.5}


def test_mass_conservation_and_hub_dominance(spark):
    # star: hub 0 <-> spokes 1..4 (symmetrized) — hub collects the mass
    edges = []
    for s in (1, 2, 3, 4):
        edges += [(0, s), (s, 0)]
    r = _ranks(spark, edges)
    assert abs(sum(r.values()) - 1.0) < 1e-4  # rounding-bounded
    assert r[0] > max(r[s] for s in (1, 2, 3, 4))
    assert len({r[s] for s in (1, 2, 3, 4)}) == 1  # spokes symmetric


def test_more_iterations_converge(spark):
    # triangle 1-2-3 (non-bipartite, so no oscillation) + pendant 4 on 3,
    # symmetrized; numerically: drift(6→12 iters) ≈ 0.007
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3), (3, 4), (4, 3)]
    r6 = _ranks(spark, edges, iters=6)
    r12 = _ranks(spark, edges, iters=12)
    assert set(r6) == set(r12)
    drift = max(abs(r6[n] - r12[n]) for n in r6)
    assert drift < 0.02
    # the triangle corner holding the pendant ends highest-ranked,
    # the pendant lowest
    assert r12[3] == max(r12.values())
    assert r12[4] == min(r12.values())
    assert r12[1] == r12[2]  # symmetric corners


# --- triangle_counts -----------------------------------------------------

from flink_stream_processing_spark.operators.graph import triangle_counts  # noqa: E402


def _tris(spark, edge_list):
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    return {r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()}


def test_k4_every_node_in_three_triangles(spark):
    # complete graph on 4 nodes: C(3,2)=3 triangles per node, 4 total
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    t = _tris(spark, edges)
    assert t == {0: 3, 1: 3, 2: 3, 3: 3}


def test_star_has_no_triangles(spark):
    t = _tris(spark, [(0, s) for s in range(1, 6)])
    assert t == {}


def test_canonicalization_dups_reversals_self_loops(spark):
    # one triangle {1,2,3}, every edge given twice (both directions),
    # plus self-loops — canonicalization must collapse all of it
    edges = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (1, 1), (2, 2)]
    t = _tris(spark, edges)
    assert t == {1: 1, 2: 1, 3: 1}


def test_two_triangles_sharing_an_edge(spark):
    # {1,2,3} and {2,3,4} share edge (2,3): nodes 2,3 in 2 each
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    t = _tris(spark, edges)
    assert t == {1: 1, 2: 2, 3: 2, 4: 1}


def test_degree_orientation_matches_id_orientation(spark):
    # pseudo-random sparse graph: degree-ordered enumeration must produce
    # the same per-node counts as a brute-force id-ordered reference
    import itertools

    nodes = list(range(30))
    edges = [
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if (a * 7919 + b * 104729) % 5 == 0
    ]
    eset = set(edges)
    expect: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            for n in (a, b, c):
                expect[n] = expect.get(n, 0) + 1
    assert _tris(spark, edges) == expect


def test_iterative_loops_leave_session_conf_untouched(spark):
    """Round-5 verdict ask #3: the CC/PageRank loops used to swap
    session-global ``spark.sql.shuffle.partitions`` for their iterations,
    silently re-planning any concurrent query on the shared session. Run
    the distributed CC loop (``_cc_loop``; ``connected_components`` sends
    a graph this small to the single-task path) on a long chain (many
    propagation rounds) in a background thread while the foreground polls
    the conf and runs its own aggregate — the conf must never move."""
    import threading
    import time

    from pyspark.sql import functions as F

    from flink_stream_processing_spark.operators.dedup import _cc_loop, _cc_stage

    sp_key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(sp_key)

    # chain 0-1-2-...-N: diameter N forces several path-halving rounds
    n = 600
    pairs = spark.range(n).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    result: dict = {}

    def run_cc():
        result["labels"] = {
            r["node"]: r["lbl"]
            for r in _cc_loop(_cc_stage(pairs, "doc_a", "doc_b"), 20).collect()
        }

    t = threading.Thread(target=run_cc)
    t.start()
    # Whether the CC thread was still mid-flight when polling began
    # decides which claims this run can honestly certify (advisor r7: on
    # a fast/warm session the thread can finish before the first
    # is_alive() check — that run must not fail spuriously, but it also
    # must not claim concurrency it never observed).
    saw_thread_alive = t.is_alive()
    observed = {spark.conf.get(sp_key)}
    in_loop_polls = 0
    in_loop_fg_runs = 0
    while t.is_alive():
        observed.add(spark.conf.get(sp_key))
        in_loop_polls += 1
        # a genuinely CONCURRENT foreground query: it must plan with the
        # session's own shuffle settings and return the right answer while
        # the loop is mid-flight
        if in_loop_polls % 20 == 1:
            total = (
                spark.range(0, 1000)
                .groupBy((F.col("id") % 10).alias("g"))
                .count()
                .agg(F.sum("count").alias("s"))
                .collect()[0]["s"]
            )
            assert total == 1000
            in_loop_fg_runs += 1
        time.sleep(0.005)
    t.join()
    # Unconditional foreground aggregate (runs even when the thread beat
    # the loop): concurrent-or-immediately-after, it must plan with the
    # session's own settings and be correct.
    total = (
        spark.range(0, 1000)
        .groupBy((F.col("id") % 10).alias("g"))
        .count()
        .agg(F.sum("count").alias("s"))
        .collect()[0]["s"]
    )
    assert total == 1000
    assert observed == {before}, f"conf moved during loop: {observed}"
    # The concurrency claim is only asserted when concurrency was actually
    # observable — an unconditional counter would make this vacuous.
    if saw_thread_alive:
        assert in_loop_polls > 0 and in_loop_fg_runs > 0
    # the whole chain is one component labeled by its minimum
    labels = result["labels"]
    assert len(labels) == n + 1
    assert set(labels.values()) == {0}
    # foreground planning still uses the session setting afterwards
    assert spark.conf.get(sp_key) == before
