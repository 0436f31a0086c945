"""Iterative graph operators: connected components for duplicate clustering.

Near-dup detection (MinHash/SimHash/Jaccard — ``operators/dedup.py``) emits
PAIRS; a training-data pipeline needs CLUSTERS ("keep one doc per duplicate
group"), i.e. connected components over the pair graph. The reference has no
graph surface at all — this is part of the engine's LLM-pipeline extension
(SURVEY.md §2.4).

Algorithm: hash-min label propagation. Every vertex starts labeled with its
own id; each round every vertex takes the min label over itself and its
neighbors; converged when a round changes nothing. Rounds needed = graph
diameter. That is the right trade for DUP-CLUSTER graphs specifically:
LSH/Jaccard components are dense (near-cliques — every doc in a group
collides with most others), so diameter is tiny (2-3) and a handful of
shuffle rounds beats the constant-factor overhead of the O(log n)
large-star/small-star scheme, which pays off on long-chain graphs that
simply don't arise from similarity thresholds.

Scale shape per round: one shuffle to join labels onto edges (keyed by
vertex id, AQE-skew-splittable), one map-side-combinable min-agg that also
carries each node's previous label. Lineage is truncated every round with a
LAZY localCheckpoint — without it the plan doubles per iteration and the job
dies on planning time long before data size matters. One count per round,
of the nodes whose label changed, both materializes the checkpoint and
decides convergence: no separate probe job, no eager pre-rounds (the
symmetric edge list and the initial labels are computed inside round 1's
job, and later rounds read the edge list from its checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of the undirected graph given by ``edges``.

    Returns ``(node, component)`` where ``component`` is the MIN node id in
    the node's component — a deterministic cluster representative. Only
    nodes that appear in ``edges`` are returned (union isolated vertices in
    afterwards; they are their own component by definition).

    ``edges`` may list each pair once in either orientation; both
    directions are derived internally.
    """
    # symmetric edge list, self-loops dropped, deduped (dedup keeps the
    # per-round join fan-out at true degree, not raw pair multiplicity)
    fwd = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    )
    sym = (
        fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    # label(v) = min(v, min over neighbors u of label(u)), iterated
    labels = (
        sym.groupBy("v")
        .agg(F.min("u").alias("comp"))
        .select(
            F.col("v").alias("node"),
            F.least(F.col("v"), F.col("comp")).alias("comp"),
        )
    )
    # edge rows carry no previous label; typed so string ids work too
    no_old = F.lit(None).cast(labels.schema["comp"].dataType).alias("old")

    for _ in range(max_iter):
        # propagate: neighbor labels flow along edges, then min with own;
        # max(old) is the node's previous label (its only non-null old)
        prop = (
            sym.join(labels, sym["u"] == labels["node"], "inner")
            .select(F.col("v").alias("node"), F.col("comp"), no_old)
            .unionByName(labels.select("node", "comp", F.col("comp").alias("old")))
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.max("old").alias("old"))
            .localCheckpoint(eager=False)
        )
        changed = prop.where(F.col("comp") != F.col("old")).count()
        labels = prop.select("node", "comp")
        if changed == 0:
            break

    return labels.select("node", F.col("comp").alias("component"))
