"""Incremental connected components — the streaming-registry twin of
``operators/graph.connected_components`` / ``dedup_clusters`` (q89):
dup-pair edges arrive in batches (e.g. from the incremental similarity
registries ST20/ST21/ST24) and the cluster labels must stay current
without re-running CC over all history.

Law: after any prefix of batches, the registry equals
``connected_components`` over the union of all edges seen so far —
label = min node id of the component (value-exact; pinned by test).

Per-batch cost is bounded by the batch's NEIGHBORHOOD, not history:
only components touched by the batch's nodes are re-solved.  The
registry rows of touched components re-enter as star edges
(member -> label), so transitive merges across previously separate
components collapse in the same alternating-star run as the new edges;
untouched components pass through byte-identical.  When a
microbatch's re-solve (batch edges plus touched members' star edges)
is under ``connected_components``' one-task gate, it is solved in the
one task that probes its size instead of star rounds: the trigger pays
the re-solve input's own shuffle stages, one or two jobs that gather
and solve it and the collect of the labels, not one to two jobs per round
(29 on a 30k-edge graph), so the per-microbatch scheduling latency no
longer grows with the rounds.
At 100 TB, bucket the registry by label (``sources.bucketed``) so the
touched-component semi-joins prune to matching buckets, and partition
the overwrite by label range so untouched partitions rewrite nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from patternly_spark.operators.graph import connected_components
from patternly_spark.plans import empty_rows

__all__ = [
    "empty_cc_registry",
    "incremental_connected_components",
    "streaming_cc_registry",
]


def empty_cc_registry(spark) -> DataFrame:
    """Zero-row (node, label) seed registry."""
    return empty_rows(spark, "node long, label long")


def incremental_connected_components(
    new_edges: DataFrame,
    registry: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fold one batch of edges into a (node, label) registry; returns
    the FULL updated registry (overwrite semantics — labels of touched
    components can change, so append-only doesn't fit this operator).

    Three joins bound the work: batch nodes -> their labels (semi),
    labels -> member rows (semi for touched, anti for untouched),
    then one ``connected_components`` run over batch edges + touched
    members' star edges.
    """
    e = (
        new_edges.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes_b = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
    )
    touched_labels = registry.join(nodes_b, "node", "left_semi").select(
        "label"
    ).distinct()
    touched = registry.join(touched_labels, "label", "left_semi")
    untouched = registry.join(touched_labels, "label", "left_anti")
    star = touched.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("u"), F.col("label").alias("v")
    )
    # singleton roots of touched components carry no star edge; a lone
    # (node==label) row only re-enters via the batch edges themselves —
    # and a component is only touched when one of its members IS a
    # batch node, so every touched node reaches the CC input
    cc = connected_components(
        e.unionByName(star), src="u", dst="v"
    )
    new_rows = cc.select("node", F.col("component").alias("label"))
    return untouched.unionByName(new_rows)


def streaming_cc_registry(
    stream_edges: DataFrame,
    registry_path: str,
    *,
    checkpoint_path: str,
    src: str = "src",
    dst: str = "dst",
    trigger_once: bool = False,
):
    """foreachBatch wrapper: each microbatch folds its edges into the
    parquet registry at ``registry_path`` (localCheckpoint before the
    overwrite — the read and the write touch the same path, the
    covariance-registry precedent).  Exactly-once under foreachBatch retries via streaming/exactly_once (per-_batch_id partition writes / versioned snapshots)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        from patternly_spark.streaming.exactly_once import (
            read_latest_snapshot,
            write_snapshot,
        )

        registry, _ = read_latest_snapshot(spark, registry_path, before_batch=batch_id)
        if registry is None:
            registry = empty_cc_registry(spark)
        updated = incremental_connected_components(
            batch_df, registry, src=src, dst=dst
        )
        write_snapshot(updated.localCheckpoint(eager=True), registry_path, batch_id)

    writer = stream_edges.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
