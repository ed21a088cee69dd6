"""Iterative graph analytics over edge DataFrames.

The second entry in the engine's iterative-algorithm family (the first
is connected components, ``operators/dedup.py
connected_component_labels``; the third is BPE merge training,
``operators/bpe.py`` — all three share the shape: vertex/vocab-bounded
state, a fixed-point or fixed-count driver loop, per-round lineage
cuts, and NO corpus re-reads inside the loop).

PageRank here is the training-data use case: propagate a quality /
authority signal through a relationship graph (domain → document,
customer → product, doc → near-dup cluster) so downstream sampling can
weight by it — the classic "web-graph quality prior" of curation
pipelines, expressed on whatever edges the relational layer joins up.

Engine-exactness: per-round contributions ``rank/deg`` are identical
doubles everywhere; their per-node sum runs through order-independent
DECIMAL(38,12) partials (a double sum over an unordered edge set is
partial-order-dependent), so every round — and therefore the fixed
iteration count — is reproducible digit-for-digit by the unrolled
MATERIALIZED-CTE oracle in ``plans/analytics.py``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from auraverse_etl_pipeline_spark.operators.caching import cut


def pagerank(
    edges: DataFrame,
    iterations: int = 6,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    undirected: bool = True,
) -> DataFrame:
    """Fixed-iteration PageRank: ``(node, rank)`` after ``iterations``
    rounds of ``r' = (1-d)/N + d·Σ_{u→v} r(u)/deg(u)`` from the
    uniform start ``1/N``.

    ``undirected=True`` (the bipartite-affinity default) symmetrizes
    the edge set first, which also guarantees every node has an
    in-edge — no dangling-mass correction needed; with directed edges
    the caller owns that property.

    Scale shape: the (deduplicated, degree-annotated) edge table is
    built once and cached; each round is ONE join of edges against the
    node-sized rank table plus one partial-aggregated sum keyed by
    destination — state never exceeds the vertex set, and lineage is
    cut per round (``cut``, the connected-components discipline).
    ``iterations`` is the cost knob; the graph is read once."""
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    if undirected:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    e2 = e.join(deg, "src").cache()
    ncount = F.broadcast(
        e2.select("src").distinct().agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    ranks = cut(
        e2.select("src")
        .distinct()
        .crossJoin(ncount)
        .select(F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("rank"))
    )
    teleport = 1.0 - damping
    try:
        for _ in range(iterations):
            nxt = cut(
                e2.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
                .groupBy("dst")
                .agg(
                    F.sum((F.col("rank") / F.col("deg")).cast("decimal(38,12)"))
                    .cast("double")
                    .alias("s")
                )
                .crossJoin(ncount)
                .select(
                    F.col("dst").alias("node"),
                    (F.lit(teleport) / F.col("n") + F.lit(damping) * F.col("s")).alias(
                        "rank"
                    ),
                )
            )
            ranks.unpersist()
            ranks = nxt
    finally:
        e2.unpersist()
    return ranks


__all__ = ["pagerank"]
