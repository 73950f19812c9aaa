"""Duplicate-cluster assignment and survivor selection.

LSH/MinHash/SimHash emit duplicate PAIRS (dedup.py, similarity.py);
an actual dedup pipeline needs CLUSTERS and a keep/drop decision per
document: connected components over the pair graph, then one survivor
per component. This module finishes that pipeline.

One algorithm: minimum-label propagation (the standard Spark-shaped
CC — GraphFrames/GraphX is the same fixpoint), run until no label
changes. Each vertex starts labeled with itself; every round each
vertex takes the min of its own and its neighbors' labels. Labels only
decrease, and the component min travels one hop per round, so the loop
ends after diameter + 1 rounds (the last one only confirms) and needs
no round cap: a capped loop would return labels that are not yet the
component min. LSH near-dup clusters are dense (diameters ~1-3), so
this is a handful of rounds; a long chain of pairs costs one round per
hop.

There is no logarithmic-round path (Large-Star/Small-Star
contraction) and no shortcut step (``label ← min(label, label[label])``).
The shortcut joins two frames built from the same round's checkpoint
(Large-Star's join of the edges with their per-vertex minima has the
same shape), and a checkpoint keeps its origin's size estimate, so
Catalyst's estimate for that self-join squares every round: a
shortcut prototype reached a 2 850-digit estimate by round 9 of a
60-node path, and on a random 400-node graph the driver ran out of heap
in that BigInt arithmetic. The shortcut also saved few rounds there.
The price of one algorithm is long chains: a path of pairs with
diameter 99 takes 100 rounds. LSH pair graphs are not shaped like that.

100 TB shape:
- state rows are (long, long) — map-side-combinable min-aggregations,
  nothing wider;
- the edge frame is a narrow projection of the pairs, never persisted
  (a repeated edge only repeats a message to the min);
- per-round ``localCheckpoint`` truncates lineage exactly like the
  deep-iteration path in linkgraph.py (r2 lesson: unpersisted
  iterative lineage re-plans under AQE and crawls); each superseded
  checkpoint is released (``frames.release``) once its successor is
  filled, so only the returned state's blocks stay;
- convergence is detected from the SAME aggregation that builds the
  next state (label delta) — one checkpoint plus one bounded
  ``take(1)`` per round, never a full collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hiispider_spark import frames


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """(doc_id, cluster) — cluster = min doc_id of the connected
    component; singletons keep their own id.

    ``ids``: one row per document (the universe). ``pairs``: duplicate
    edges, any orientation, duplicates and self-loops tolerated. Runs
    diameter + 1 rounds of label propagation.
    """
    a, b = pair_cols
    # a narrow projection: a repeated edge only repeats a message
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
    )
    labels = ids.select(F.col(id_col).alias("id"), F.col(id_col).alias("label"))
    prev, converged = None, False
    while not converged:
        msgs = edges.join(
            labels.select(F.col("id").alias("src"), "label"), "src"
        ).select(F.col("dst").alias("id"), "label")
        # one aggregation yields the new label AND whether anything
        # changed: carry the old label alongside, compare after. The
        # checkpoint stays eager: a lazy one is filled only where take(1)
        # scans, and the next round would read the rest through the
        # lineage of the checkpoint released below.
        merged = (
            labels.select("id", "label", F.col("label").alias("_old"))
            .unionByName(msgs.withColumn("_old", F.lit(None).cast("long")))
            .groupBy("id")
            .agg(F.min("label").alias("label"), F.max("_old").alias("_old"))
            .localCheckpoint()
        )
        converged = not merged.filter(F.col("label") != F.col("_old")).take(1)
        frames.release(prev)  # superseded; merged is filled
        labels = prev = merged
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster"))


def dedup_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """One keep-row per cluster: highest ``quality_col`` (ties → lowest
    id), or simply the cluster representative (min id) when no quality
    column is given. Output: docs columns + cluster + keep flag.

    All rows come back flagged (drop-rate stats need the losers).
    When the caller filters on ``keep`` — the usual next step —
    Catalyst collapses the projection and infers WindowGroupLimit
    (plan-asserted in test_plan_shapes): a partial top-1 runs before
    the cluster shuffle, so a giant near-dup cluster (boilerplate
    pages) never concentrates its full row set on one task.
    """
    joined = docs.join(clusters, id_col)
    if quality_col is None:
        keep = F.col(id_col) == F.col("cluster")
        return joined.withColumn("keep", keep)
    w = Window.partitionBy("cluster").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return joined.withColumn("keep", F.row_number().over(w) == 1)
