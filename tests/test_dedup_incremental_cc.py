"""Laws for incremental connected components (operators/dedup.py
``cc_incremental``, r17 library capability — no registry entry per the
post-saturation policy; these laws plus the hypothesis sweep against an
exact union-find model and the opt-in scale rung ARE the gate)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_stream_processing_spark.operators.dedup import (
    _cc_local,
    _cc_loop,
    _cc_stage,
    cc_incremental,
    connected_components,
)


def _pairs(spark, rows):
    if not rows:
        return spark.createDataFrame([], "doc_a long, doc_b long")
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def _rowset(df):
    return sorted((r["node"], r["lbl"]) for r in df.collect())


def _uf_partition(edges, extra_nodes=()):
    """Exact reference: union-find -> {node: min member of its component}."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    for n in extra_nodes:
        find(n)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        lo = min(members)
        for n in members:
            out[n] = lo
    return sorted(out.items())


def test_cc_incremental_equals_rebuild_on_merges_and_new_nodes(spark):
    """Rebuild equivalence, exact: a batch that bridges two existing
    components, adds an internal edge, and introduces brand-new nodes
    yields EXACTLY cc(E1 ∪ E2) — same partition, same canonical
    min-member labels."""
    e1 = _pairs(spark, [(1, 2), (2, 3), (10, 11), (20, 21)])
    e2 = _pairs(spark, [(3, 10), (30, 31), (1, 3)])
    labels = connected_components(e1)
    inc = cc_incremental(labels, e2)
    full = connected_components(e1.unionByName(e2))
    assert _rowset(inc) == _rowset(full)
    assert (31, 30) in _rowset(inc)  # new nodes entered


def test_cc_incremental_idempotent_on_empty_and_internal_batches(spark):
    """An empty batch and a batch of already-internal edges both return
    the labeling unchanged — including components the batch never
    touches (the star-edge universe excludes them; the anti-join
    re-attach must bring them back, not drop them)."""
    e1 = _pairs(spark, [(1, 2), (2, 3), (10, 11), (20, 21)])
    labels = connected_components(e1)
    base = _rowset(labels)
    assert _rowset(cc_incremental(labels, _pairs(spark, []))) == base
    assert _rowset(cc_incremental(labels, _pairs(spark, [(2, 3), (10, 11)]))) == base


def test_cc_incremental_preserves_singletons(spark):
    """A hand-built labeling containing true singletons (node == lbl, no
    star edge) survives a batch that touches other components — the
    singleton is invisible to the edge-derived node universe and must be
    re-attached unchanged."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (7, 7), (10, 10), (11, 10)], "node long, lbl long"
    )
    out = _rowset(cc_incremental(labels, _pairs(spark, [(1, 10)])))
    assert (7, 7) in out
    assert out == [(1, 1), (2, 1), (7, 7), (10, 1), (11, 1)]


def test_cc_incremental_labels_only_decrease(spark):
    """Monotonicity: a merge adopts the smaller component minimum, so no
    node's label ever increases across an incremental step, and every
    input node survives."""
    e1 = _pairs(spark, [(5, 6), (100, 101)])
    labels = connected_components(e1)
    before = dict(_rowset(labels))
    after = dict(_rowset(cc_incremental(labels, _pairs(spark, [(6, 100)]))))
    assert set(after) >= set(before)
    assert all(after[n] <= before[n] for n in before)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    e1=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=12
    ),
    e2=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=0, max_size=8
    ),
)
def test_cc_incremental_equals_union_find_model(spark_global, e1, e2):
    """Random-graph sweep against an exact Python union-find: the
    incremental result over (cc(E1), E2) must match the model partition
    of E1 ∪ E2 — an independent reference, not a Spark rebuild."""
    spark = spark_global
    labels = connected_components(_pairs(spark, e1))
    inc = cc_incremental(labels, _pairs(spark, e2))
    assert _rowset(inc) == _uf_partition(e1 + e2)


def _both_paths(pairs):
    """(node, lbl) rowsets of the single-task numpy path and of the
    distributed loop, each run directly on the same staged edges."""
    staged = _cc_stage(pairs, "doc_a", "doc_b")
    return _rowset(_cc_local(staged)), _rowset(_cc_loop(staged, 20))


def test_cc_local_fast_path_matches_distributed_loop(spark):
    """r20: small graphs take the single-task numpy path; its (node, lbl)
    output must be bit-identical to the distributed propagation loop on
    the same edges — longs AND strings."""
    rows = [
        (1, 2), (2, 3), (3, 1),          # triangle
        (10, 11), (11, 12),              # chain
        (5, 5),                          # self loop
        (100, 7), (7, 100),              # both directions + dup
    ]
    local, dist = _both_paths(_pairs(spark, rows))
    assert local == dist
    assert local == _uf_partition(rows)

    # string node ids (entity-resolution shape): same equivalence
    srows = [("b", "c"), ("c", "d"), ("x", "y")]
    spairs = spark.createDataFrame(srows, "doc_a string, doc_b string")
    sl, sd = _both_paths(spairs)
    assert sl == sd
    assert sl == [("b", "b"), ("c", "b"), ("d", "b"), ("x", "x"), ("y", "x")]


def test_cc_drops_pairs_with_a_null_endpoint(spark):
    """A pair with a null id names no edge: both paths drop it at staging,
    emit no null node, and agree — on long and string ids."""
    lrows = [(1, 2), (2, None), (None, 3), (None, None), (4, 5)]
    lpairs = spark.createDataFrame(lrows, "doc_a long, doc_b long")
    want = [(1, 1), (2, 1), (4, 4), (5, 4)]
    assert _both_paths(lpairs) == (want, want)

    srows = [("a", "b"), ("b", None), (None, "c"), ("d", "e")]
    spairs = spark.createDataFrame(srows, "doc_a string, doc_b string")
    want = [("a", "a"), ("b", "a"), ("d", "d"), ("e", "d")]
    assert _both_paths(spairs) == (want, want)
    assert _rowset(connected_components(spairs)) == want


def test_cc_loop_raises_when_max_iter_is_too_small(spark):
    """A partial labeling looks like a final one, so the distributed loop
    must fail loudly when it runs out of rounds: a 64-node chain needs
    several path-halving rounds, and max_iter=1 is not enough."""
    import pytest

    chain = _pairs(spark, [(i, i + 1) for i in range(63)])
    staged = _cc_stage(chain, "doc_a", "doc_b")
    with pytest.raises(RuntimeError, match="did not converge within max_iter=1"):
        _cc_loop(staged, 1)
