"""Connected components / dedup clustering (functions/graph.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from palimpzest_spark.functions.graph import (
    connected_components,
    dedup_clusters,
    drop_near_duplicates,
)


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side union-find reference: node -> min id in its component."""
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
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


EDGES = [
    (1, 2), (2, 3), (3, 4),          # chain component, min 1
    (10, 11), (11, 10),              # duplicate/reversed edges
    (20, 21), (22, 21), (20, 23),    # star-ish, min 20
    (30, 30),                        # self-loop singleton
]


def test_components_match_union_find(spark):
    df = spark.createDataFrame(EDGES, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == _uf_components(EDGES)


def test_components_partitioning_invariant(spark):
    df = spark.createDataFrame(EDGES, ["id_a", "id_b"])
    one = {(r["node"], r["component"])
           for r in connected_components(df.coalesce(1)).collect()}
    many = {(r["node"], r["component"])
            for r in connected_components(df.repartition(16)).collect()}
    assert one == many


def test_components_string_ids(spark):
    df = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y")], ["id_a", "id_b"]
    )
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_components_long_chain_converges(spark):
    # diameter 12 chain: needs >1 propagation round, still converges
    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert set(got.values()) == {0}


def test_components_max_iter_raises(spark, monkeypatch):
    # the round budget is a property of the DISTRIBUTED propagation tier;
    # force it (r6b's small-graph union-find tier has no iteration count)
    from palimpzest_spark.functions import graph

    monkeypatch.setattr(graph, "_SMALL_GRAPH_EDGES", 0)
    chain = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_dedup_clusters_canonical_and_sizes(spark):
    df = spark.createDataFrame(EDGES, ["id_a", "id_b"])
    rows = {r["doc_id"]: r for r in dedup_clusters(df).collect()}
    assert rows[1]["cluster_id"] == 1 and rows[4]["cluster_id"] == 1
    assert rows[1]["cluster_size"] == 4
    assert rows[1]["is_canonical"] == 1 and rows[2]["is_canonical"] == 0
    assert rows[20]["cluster_size"] == 4  # {20,21,22,23}
    assert rows[30]["cluster_size"] == 1 and rows[30]["is_canonical"] == 1


def test_drop_near_duplicates_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 10, 11, 99]],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (10, 11)],
                                  ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"] for r in drop_near_duplicates(docs, pairs).collect()
    )
    # min-id survivor per cluster + untouched singleton 99
    assert kept == [1, 10, 99]


def test_star_components_match_union_find(spark):
    df = spark.createDataFrame(EDGES, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, algorithm="star").collect()
    }
    assert got == _uf_components(EDGES)


def test_star_handles_long_chain_in_log_rounds(spark):
    """A 2048-node path has diameter 2047 — min-label propagation would need
    ~2047 rounds, far past max_iter; the star algorithm must converge within
    the same default round budget (O(log n))."""
    chain = [(i, i + 1) for i in range(2047)]
    df = spark.createDataFrame(chain, ["id_a", "id_b"])
    out = connected_components(df, algorithm="star", max_iter=25)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}
    assert out.count() == 2048


def test_star_random_graph_matches_minlabel(spark):
    import random

    rnd = random.Random(7)
    edges = [(rnd.randrange(300), rnd.randrange(300)) for _ in range(400)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    a = {(r["node"], r["component"])
         for r in connected_components(df, algorithm="star").collect()}
    b = {(r["node"], r["component"])
         for r in connected_components(df, algorithm="minlabel").collect()}
    assert a == b


def test_small_tier_matches_distributed(spark, monkeypatch):
    """The r6b in-process union-find tier (edge count <= threshold) emits
    exactly the labels of the distributed min-label rounds — random graphs,
    long ids and string ids, including self-loops and duplicate edges."""
    import random

    from palimpzest_spark.functions import graph

    rnd = random.Random(11)
    for trial in range(3):
        edges = [(rnd.randrange(200), rnd.randrange(200)) for _ in range(250)]
        edges += [(5, 5), (7, 7)] + edges[:10]  # self-loops + dups
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        small = {(r["node"], r["component"])
                 for r in connected_components(df).collect()}
        monkeypatch.setattr(graph, "_SMALL_GRAPH_EDGES", 0)
        big = {(r["node"], r["component"])
               for r in connected_components(df).collect()}
        monkeypatch.setattr(graph, "_SMALL_GRAPH_EDGES", 1_000_000)
        assert small == big

    sdf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("q", "q")], ["id_a", "id_b"]
    )
    small = {(r["node"], r["component"]) for r in connected_components(sdf).collect()}
    assert small == {("a", "a"), ("b", "a"), ("c", "a"),
                     ("x", "x"), ("y", "x"), ("q", "q")}


def test_null_endpoints_agree_across_tiers(spark, monkeypatch):
    """An edge with a null endpoint keeps only its other endpoint (a
    self-loop) and an all-null edge is dropped — the same rows from the
    in-process union-find tier, the distributed min-label rounds and the
    star tier."""
    from palimpzest_spark.functions import graph

    df = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (None, None), (4, 5), (5, None)],
        "id_a long, id_b long",
    )
    want = {(1, 1), (2, 1), (3, 3), (4, 4), (5, 4)}

    def rows(**kw):
        return {(r["node"], r["component"]) for r in connected_components(df, **kw).collect()}

    assert rows() == want
    assert rows(algorithm="star") == want
    monkeypatch.setattr(graph, "_SMALL_GRAPH_EDGES", 0)
    assert rows() == want
