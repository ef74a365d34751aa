"""Distributed connected components — the scale path from pairwise
duplicate candidates (LSH/SimHash output) to duplicate *clusters*.

No reference analogue (the reference is pure SQL OLAP); this is a
north-star training-data operator: near-dup pairs are edges, a cluster is
a connected component, and the kept document is the component minimum.

Algorithm: iterative min-label propagation with pointer jumping
(label(v) ← label(label(v)) each round), the classic PRAM/MapReduce
formulation (cf. Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — our variant is their hash-to-min specialisation).
Each iteration is two hash joins + one groupBy on (node) keys; pointer
jumping halves remaining path lengths, so rounds = O(log diameter) —
dup-cluster graphs have tiny diameters, so 3-5 rounds in practice.

Scale notes: every step is a key-partitioned shuffle of (id, comp) pairs
— 16 bytes a row regardless of document size. An eager seam truncates
the plan each round; without it the iterated lineage makes Catalyst
re-analyze an exponentially growing tree (the classic iterative-DataFrame
trap). Edge lists at 100 TB corpus scale are ~|near-dup pairs|, orders of
magnitude smaller than the corpus itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from minimised_impala_spark.seams import seam


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Return (id, comp) with comp = min node id of the component.

    ``edges`` is an undirected edge list; isolated nodes (absent from
    ``edges``) are absent from the result — union them in afterwards if
    singleton clusters are wanted.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    sym = seam(sym.filter(F.col("a") != F.col("b")).distinct())
    labels = sym.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))

    for _ in range(max_iter):
        # 1. neighbour-min: comp'(v) = min(comp(v), min_{u~v} comp(u))
        nbr_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy("a")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = labels.join(nbr_min, labels.id == nbr_min.a, "left").select(
            labels.id,
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
        )
        # 2. pointer jumping: comp''(v) = comp'(comp'(v)); min labels are
        # always node ids, so the self-join is total.
        ptr = stepped.select(F.col("id").alias("cid"), F.col("comp").alias("ccomp"))
        hop = stepped.join(ptr, stepped.comp == ptr.cid)
        jumped = seam(hop.select("id", F.col("ccomp").alias("comp")), now=True)
        changed = (
            jumped.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            break
    return labels


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    damping: float = 0.85,
    n_iter: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count — (node, rank).

    The fixed-K formulation (rather than convergence-tested) keeps the
    operator a deterministic, oracle-able dataflow: K unrolled rounds of

        r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)·w(u,v)/out(u) + dangle/N )

    where ``dangle`` is the rank mass sitting on nodes with no out-edges,
    redistributed uniformly (the standard dangling-node fix, cf. Page et
    al. 1999 §2.6 / the MapReduce formulation in Lin & Dyer ch. 5).

    Scale notes: each round is one hash join of ranks onto edges (keyed on
    src — co-partitioned across rounds since neither side's partitioning
    changes) plus one groupBy(dst) partial/final aggregation; rank state is
    8 bytes a node. The dangling term is a scalar aggregate crossJoined
    back (broadcast of one row), never a driver collect. Each round ends
    in an eager seam (same reasoning as ``connected_components``):
    without it Catalyst re-analyzes a plan tree that grows with every
    round — measured 7-15 s of pure driver-side analysis for 5 rounds on
    a 5-node graph — while the checkpoint caps each round's plan at one
    join + one agg over a materialized rank vector (|nodes| rows).
    """
    n_nodes = nodes.select(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    outd = edges.groupBy(src).agg(F.sum(weight).alias("outw"))
    # Pre-divide each edge once: w/out(u) is loop-invariant.
    # Loop-invariant and re-read by every round's job: materialize once
    # (lazily — the first round's action computes it) instead of
    # recomputing the upstream edge derivation K times.
    norm_edges = seam(
        edges.join(outd, src)
        .select(
            F.col(src).alias("e_src"),
            F.col(dst).alias("e_dst"),
            (F.col(weight) / F.col("outw")).alias("share"),
        )
    )
    ranks = nodes.join(n_nodes).select(
        F.col(node), (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    dangling_nodes = nodes.join(
        outd.select(F.col(src).alias(node)), node, "left_anti"
    )
    for _ in range(n_iter):
        contrib = (
            norm_edges.join(ranks, norm_edges.e_src == ranks[node])
            .groupBy("e_dst")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("contrib"))
        )
        dangle = dangling_nodes.join(ranks, node).select("rank").agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangle")
        )
        ranks = seam(
            nodes.join(contrib, nodes[node] == contrib.e_dst, "left")
            .join(dangle)
            .join(n_nodes)
            .select(
                F.col(node),
                (
                    (1.0 - damping) / F.col("n_nodes")
                    + damping
                    * (
                        F.coalesce("contrib", F.lit(0.0))
                        + F.col("dangle") / F.col("n_nodes")
                    )
                ).alias("rank"),
            ),
            now=True,
        )
    return ranks
