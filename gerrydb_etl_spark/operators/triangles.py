"""Distributed triangle counting via degree-ordered edge orientation.

The naive triangle join (edges ⋈ edges ⋈ edges on natural keys)
enumerates every wedge at every node — Σ deg(v)² work, quadratic in
the hot nodes' degrees and exactly the term that explodes on the
power-law graphs a 100 TB corpus produces. The standard fix (Cohen's
MapReduce triangle algorithm / "forward" algorithm) orients every
undirected edge from its lower-(degree, key) endpoint to its
higher one: the orientation is acyclic, every node's OUT-degree is
bounded by O(sqrt(m)) on any graph, and each triangle survives in
exactly one orientation pattern — so the wedge join does
Σ outdeg(v)² ≤ m^1.5 work total instead of Σ deg(v)².

Everything is a keyed equi-join / aggregation (no cartesian, no
Python); the per-node result is orientation-invariant, which is what
lets a naive 3-way-join SQL oracle replay it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def copurchase_pair_supports(li: DataFrame, min_support: int) -> DataFrame:
    """Support-counted co-purchase pairs (u < v, support >=
    min_support) from (ok, pk) order-line rows — the edge derivation
    shared by the whole market-basket graph family (triangles,
    clustering coefficient, association rules). ONE wide shuffle
    builds the per-order item sets (collect_list + array_distinct
    dedups repeat lines in-bucket — no separate distinct shuffle),
    then the C(n,2) pair explosion is narrow (bounded by
    items-per-order, never a cross-corpus product) and one
    map-side-combined count aggregates supports. Staged once per
    session by store/staging.py COPURCHASE — write-once
    corpus index state like the shingle inverted index."""
    baskets = li.groupBy("ok").agg(
        F.sort_array(F.array_distinct(F.collect_list("pk"))).alias("ps")
    )
    pairs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size(F.col("ps"))),
                lambda y: F.struct(x.alias("u"), y.alias("v")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= min_support)
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts for an undirected simple graph.

    ``edges``: one row per undirected edge with columns ``u`` / ``v``
    (long), each edge appearing exactly once with ``u < v``.
    Returns (node, n_triangles) for every node in ≥ 1 triangle.

    Lifecycle: ``edges`` feeds the degree count (twice, via the
    union) and the orientation join, and the oriented frame feeds
    both wedge sides plus the closing join — without a persist the
    caller's edge derivation (typically a basket explosion +
    support-filtered aggregation) re-runs up to five times. Same
    persist / localCheckpoint / finally-unpersist contract as
    operators/pagerank.py.
    """
    edges = edges.persist()
    pinned: list[DataFrame] = [edges]
    try:
        return _triangle_counts(edges, pinned).localCheckpoint(eager=True)
    finally:
        for df in pinned:
            df.unpersist()


def _triangle_counts(edges: DataFrame, pinned: list[DataFrame]) -> DataFrame:
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # Orient each edge toward the higher-(deg, key) endpoint. The
    # two degree lookups are keyed joins against the (node, deg)
    # table — broadcast-eligible under AQE when the degree table is
    # small, plain shuffle joins at scale.
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    keyed = edges.join(du, "u").join(dv, "v")
    fwd = F.col("du") < F.col("dv")
    tie = (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    oriented = keyed.select(
        F.when(fwd | tie, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd | tie, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(fwd | tie, F.col("dv")).otherwise(F.col("du")).alias("ddst"),
    ).persist()
    pinned.append(oriented)
    # Wedges at each source: unordered out-neighbor pairs, ordered by
    # the same (deg, key) total order so the closing edge (lo → hi)
    # is itself in oriented form and one equi-join closes the wedge.
    w1 = oriented.select(
        "src", F.col("dst").alias("n1"), F.col("ddst").alias("d1")
    )
    w2 = oriented.select(
        "src", F.col("dst").alias("n2"), F.col("ddst").alias("d2")
    )
    lt = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("n1") < F.col("n2"))
    )
    wedges = w1.join(w2, "src").where(lt).select("src", "n1", "n2")
    closing = oriented.select(
        F.col("src").alias("n1"), F.col("dst").alias("n2")
    )
    triangles = wedges.join(closing, ["n1", "n2"])
    return (
        triangles.select(
            F.explode(F.array("src", "n1", "n2")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
