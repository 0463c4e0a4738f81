"""Distributed connected components — dedup-cluster construction.

Near-dup detection (``functions/dedup.py``: MinHash-LSH, SimHash, exact
n-gram Jaccard, winnowing; ``functions/similarity.py``: embedding LSH)
emits *pairs*. A training-data pipeline needs *clusters*: transitively
connect the pairs and keep one canonical document per component (the
reference's dedup story stops at pairwise semantics; cluster formation is
the standard next stage in every web-scale corpus pipeline).

Algorithm: iterative **min-label propagation** over the symmetrized edge
list, entirely in DataFrame ops:

    label(v) <- min(label(v), min_{(u,v) in E} label(u))

repeated until a fixpoint. Each round is one shuffle on ``node`` (the
edges-with-labels join + the min aggregate are both map-side combinable),
so the cost is O(iterations x shuffle(|E|)) and the iteration count is
bounded by the cluster *diameter* — for near-dup clusters (dense blobs of
mutually-similar docs, typically diameter <= 3) this converges in a
handful of rounds. For adversarial topologies (long chains, giant sparse
components) ``algorithm="star"`` switches to alternating
large-star/small-star (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14): O(log n) rounds on any shape.

Scale notes (100 TB / 1000-executor):
- only (node, label) pairs ever shuffle — never document payloads;
- per-round ``localCheckpoint`` truncates the logical plan, preventing the
  Catalyst lineage blow-up every naive iterative-DataFrame loop hits;
- convergence is one narrow hash-sum aggregate per round (O(1) driver
  result, not a collect of data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# Edge count below which connected components runs as in-process union-find
# on the edge list collected as Arrow columns. Above it, the distributed
# rounds run. Driver cost at the bound, measured for 1M long-id edges over
# 1M nodes on local[4]: the whole small-tier call grew the Python driver's
# peak RSS by ~260 MB (collecting Row objects instead: ~510 MB), mostly
# Python ints and the union-find dicts; string ids cost more per node.
_SMALL_GRAPH_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    algorithm: str = "minlabel",
) -> DataFrame:
    """Return (node, component) for every node appearing in ``edges``.

    ``component`` is the MINIMUM node id in the node's connected component
    (a deterministic, partitioning-independent cluster id). Node ids may be
    any orderable type (long doc ids, string keys); the id column's type is
    preserved.

    ``algorithm``:
    - ``"minlabel"`` (default): min-label propagation, one shuffle/round,
      O(component diameter) rounds — the right choice for near-dup
      clusters (dense blobs, diameter <= ~3).
    - ``"star"``: alternating large-star/small-star (Kiveris et al.,
      SoCC'14), O(log n) rounds on ANY topology — the 100 TB tier for
      adversarial components (long chains, giant sparse components) where
      diameter-bound propagation would need thousands of rounds.

    A null id is not a node: an edge with one null endpoint contributes
    only its other endpoint (as a self-loop), and an all-null edge nothing —
    every tier sees the same non-null edge list.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` rounds (not a silent wrong answer).
    """
    edges = edges.select(
        F.coalesce(src, dst).alias(src), F.coalesce(dst, src).alias(dst)
    ).filter(F.col(src).isNotNull())
    if algorithm == "star":
        return _cc_star(edges, src, dst, max_iter)
    if algorithm != "minlabel":
        raise ValueError(f"unknown algorithm: {algorithm}")
    # Materialize the edge list ONCE before symmetrizing: the union reads
    # ``e`` twice, so a lazy plan would execute the (often expensive)
    # upstream pair-generation twice in the same job — at sf1.0 the curation
    # pipeline's prefix-join ran double until this materialization (r6).
    # r6b: persist + count instead of an eager localCheckpoint — the
    # checkpoint's RDD materialization bypasses the AQE-planned SQL path and
    # measured 3-6x slower than the same plan through a normal action (7-14s
    # vs ~2s for the sf1.0 curation pair pipeline); the count() action runs
    # the plan once through the SQL engine into the cache, and doubles as
    # the small-graph-tier gate.
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).persist()
    n_edges = e.count()
    # Small-graph tier (r6b, guide §1.2 — fit the algorithm to the data):
    # near-dup edge sets are routinely TINY relative to the corpus (sf1.0
    # curation: 642 pairs from 25k docs), yet every label-propagation round
    # pays full fixed job cost — two actions (checkpoint + checksum) and a
    # shuffle each, measured 8-16s of pure per-round overhead for a
    # sub-thousand-edge graph. When the persisted edge list is small (the
    # gate count above already materialized it into the cache), collect the
    # (s, d) columns as Arrow — bounded like a broadcast-join build side,
    # see _SMALL_GRAPH_EDGES — run union-find in-process, and return
    # the labels as a local DataFrame. Identical output by construction:
    # component = min node id in the connected component, the same fixpoint
    # the distributed rounds converge to (pinned by
    # tests/test_graph.py::test_small_tier_matches_distributed).
    if n_edges <= _SMALL_GRAPH_EDGES:
        node_t = e.schema["s"].dataType
        cols = e.toArrow()
        e.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while x != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for s_, d_ in zip(cols.column("s").to_pylist(), cols.column("d").to_pylist()):
            for v in (s_, d_):
                if v not in parent:
                    parent[v] = v
            rs, rd = find(s_), find(d_)
            if rs != rd:
                parent[rs] = rd
        comp_min: dict = {}
        roots = {v: find(v) for v in parent}
        for v, rt in roots.items():
            m = comp_min.get(rt)
            if m is None or v < m:
                comp_min[rt] = v
        out_schema = StructType(
            [StructField("node", node_t, True), StructField("component", node_t, True)]
        )
        data = [(v, comp_min[rt]) for v, rt in roots.items()]
        return edges.sparkSession.createDataFrame(data, out_schema)
    # Symmetrize once; propagation along both directions makes min-labels
    # flow through the whole component (both union branches read the
    # persisted ``e`` from cache).
    sym = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    sym = sym.distinct().persist()

    labels = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def checksum(lbl: DataFrame):
        # order-insensitive fixpoint detector: one narrow aggregate instead
        # of a per-round labels-join (labels only ever DECREASE, so an
        # unchanged checksum means an unchanged assignment); decimal
        # accumulator because a long sum of hashes overflows under ANSI
        return lbl.agg(
            F.sum(
                F.xxhash64(F.col("node").cast("string"), F.col("component").cast("string"))
                .cast("decimal(38,0)")
            )
        ).first()[0]

    prev = checksum(labels)
    for _ in range(max_iter):
        # Neighbor messages: each node hears its neighbors' current labels.
        msgs = sym.join(
            labels.withColumnRenamed("node", "s"), "s"
        ).select(F.col("d").alias("node"), "component")
        labels = (
            msgs.unionByName(labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)  # truncate lineage each round
        )
        cur = checksum(labels)
        if cur == prev:
            sym.unpersist()
            e.unpersist()
            return labels
        prev = cur
    sym.unpersist()
    e.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter exceeds max_iter)"
    )


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup pairs → cluster assignment with canonical-doc selection.

    Returns (doc_id, cluster_id, cluster_size, is_canonical) for every doc
    that appears in at least one pair. ``cluster_id`` is the min doc id in
    the component; ``is_canonical`` marks the single kept representative
    (the standard min-id survivor rule — deterministic, no tiebreak state).
    Docs in no pair are implicitly singleton/canonical and are not emitted
    (callers left-anti-join to drop non-canonical members from the corpus).
    """
    comp = connected_components(pairs, src=src, dst=dst)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).cast("int").alias("is_canonical"),
        )
    )


def drop_near_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one representative per near-dup cluster: drop every doc that is
    in some cluster but is not its canonical (min-id) member. Docs in no
    pair survive untouched. One broadcast-or-shuffle anti-join — the doomed
    set is tiny relative to the corpus, so Spark will broadcast it."""
    doomed = dedup_clusters(pairs, src=src, dst=dst).filter(
        F.col("is_canonical") == 0
    ).select(F.col("doc_id").alias(id_col))
    return df.join(doomed, id_col, "left_anti")


def _cc_star(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Each round is two grouped-min shuffles over the CURRENT edge set (which
    only shrinks toward one star per component), independent of component
    diameter: large-star hangs every larger neighbor off the neighborhood
    minimum (halving tall structures), small-star re-hangs smaller
    neighbors, and the fixpoint is a single star rooted at each component's
    minimum node. Convergence is detected by an order-insensitive checksum
    of the canonical edge set (count + summed hash) — one tiny action per
    round."""
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).filter(
        F.col("s") != F.col("d")
    )
    E = (
        e.select(
            F.least("s", "d").alias("a"), F.greatest("s", "d").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal(38,0) accumulator: a long sum of 2^63-range hashes
            # overflows under ANSI mode
            F.sum(
                F.xxhash64(F.col("a").cast("string"), F.col("b").cast("string"))
                .cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = checksum(E)
    for _ in range(max_iter):
        # large-star: every edge processed at its smaller endpoint's
        # neighborhood; larger neighbors re-hang off min(neighbors, u)
        sym = E.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            E.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("x"), F.least("mn", "u").alias("y"))
        )
        E1 = (
            ls.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
        )
        # small-star: orient (bigger -> smaller); all smaller neighbors and
        # the center re-hang off the neighborhood minimum
        mins2 = E1.groupBy("b").agg(F.min("a").alias("mn"))
        pairs = E1.join(mins2, "b").select(
            F.col("a").alias("x"), F.col("mn").alias("y")
        ).unionByName(
            mins2.select(F.col("b").alias("x"), F.col("mn").alias("y"))
        )
        E2 = (
            pairs.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
            .localCheckpoint(eager=True)  # truncate lineage each round
        )
        cur = checksum(E2)
        E = E2
        if cur == prev:
            childs = E.select(F.col("b").alias("node"), F.col("a").alias("component"))
            out = nodes.join(childs, "node", "left").select(
                "node", F.coalesce("component", "node").alias("component")
            )
            nodes.unpersist()
            return out
        prev = cur
    nodes.unpersist()
    raise RuntimeError(
        f"star connected_components did not converge in {max_iter} rounds"
    )
