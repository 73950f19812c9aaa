"""Duplicate-cluster assignment and survivor selection.

LSH/MinHash/SimHash emit duplicate PAIRS (dedup.py, similarity.py);
an actual dedup pipeline needs CLUSTERS and a keep/drop decision per
document: connected components over the pair graph, then one survivor
per component. This module finishes that pipeline.

Two algorithms, selected by the ``algorithm`` parameter:

- ``"label"`` (default): minimum-label propagation (the standard
  Spark-shaped CC — GraphFrames/GraphX is the same fixpoint). Each
  vertex starts labeled with itself; every iteration each vertex takes
  the min of its own and its neighbors' labels. Round count = component
  DIAMETER — the right default for LSH near-dup graphs, whose clusters
  are dense (LSH emits most intra-cluster pairs, diameters ~1-3).
- ``"star"``: alternating Large-Star/Small-Star contraction (Kiveris,
  Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  MapReduce and Beyond", SoCC 2014 — public algorithm, implemented
  fresh). Round count is O(log² n) REGARDLESS of diameter — the scale
  path when the pair graph's shape is unknown (e.g. chained
  boilerplate families), where propagation's diameter bound explodes.

100 TB shape (both):
- state rows are (long, long) — map-side-combinable min-aggregations,
  nothing wider;
- per-iteration ``localCheckpoint`` truncates lineage exactly like the
  deep-iteration path in linkgraph.py (r2 lesson: unpersisted
  iterative lineage re-plans under AQE and crawls); each superseded
  checkpoint is released (``frames.release``) once its successor is
  filled, so only the returned state's blocks stay;
- convergence is detected from the SAME aggregation that builds the
  next state (label delta / edge-set delta) — one bounded ``take(1)``
  per round, never a full collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hiispider_spark import frames


def _star_contract(edges: DataFrame, max_rounds: int) -> tuple[DataFrame, int]:
    """Alternating Large-Star / Small-Star until the oriented edge set
    is stable. ``edges``: symmetric (src, dst), no self-loops. Returns
    (converged oriented edges (child > root rows as (src=child,
    dst=root)), rounds used). At convergence every component is a star
    centered on its minimum id.
    """
    # orient (larger, smaller); the round body re-symmetrizes for the
    # large-star step
    cur = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        sym = cur.unionByName(
            cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # Large-Star: every neighbor v > u connects to m = min(Γ(u)∪{u})
        lmins = sym.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        large = (
            sym.join(lmins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # Small-Star on (larger u → smaller v) orientation: u and all
        # its smaller neighbors connect to m = min(Γ<(u) ∪ {u})
        smins = large.groupBy("src").agg(F.min("dst").alias("m"))
        nxt = (
            large.join(smins, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(smins.select(F.col("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()
        )
        changed = bool(
            nxt.exceptAll(cur).take(1) or cur.exceptAll(nxt).take(1)
        )
        frames.release(cur)  # superseded; nxt is already filled
        cur = nxt
        if not changed:
            break
    return cur, rounds


def dedup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
    max_iter: int = 20,
    algorithm: str = "label",
) -> DataFrame:
    """(doc_id, cluster) — cluster = min doc_id of the connected
    component; singletons keep their own id.

    ``ids``: one row per document (the universe). ``pairs``: duplicate
    edges, any orientation, duplicates tolerated. ``algorithm``:
    ``"label"`` (diameter-bound rounds, cheapest per round — the dense
    LSH-cluster default) or ``"star"`` (O(log² n) rounds regardless of
    diameter — the unknown-shape / chained-graph scale path).
    """
    a, b = pair_cols
    edges = (
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"), F.col(a).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    edges.count()
    if algorithm == "star":
        try:
            stars, _ = _star_contract(edges, max_rounds=max_iter)
        finally:
            edges.unpersist()
        roots = stars.groupBy("src").agg(F.min("dst").alias("label"))
        return ids.select(F.col(id_col)).join(
            roots.withColumnRenamed("src", id_col), id_col, "left"
        ).select(
            id_col, F.coalesce("label", F.col(id_col)).alias("cluster")
        )
    if algorithm != "label":
        raise ValueError(f"unknown algorithm: {algorithm!r}")
    labels = ids.select(
        F.col(id_col).alias("id"), F.col(id_col).alias("label")
    ).localCheckpoint()
    try:
        for _ in range(max_iter):
            msgs = edges.join(
                labels.withColumnRenamed("id", "src"), "src"
            ).select(F.col("dst").alias("id"), "label")
            # one aggregation yields the new label AND whether anything
            # changed: carry the old label alongside, compare after
            merged = (
                labels.withColumn("_old", F.col("label"))
                .unionByName(msgs.withColumn("_old", F.lit(None).cast("long")))
                .groupBy("id")
                .agg(
                    F.min("label").alias("label"),
                    F.max("_old").alias("_old"),
                )
                .persist()
            )
            new_labels = merged.select("id", "label").localCheckpoint()
            converged = not (
                merged.filter(F.col("label") != F.col("_old")).take(1)
            )
            merged.unpersist()
            frames.release(labels)  # superseded; new_labels is filled
            labels = new_labels
            if converged:
                break
        return labels.select(
            F.col("id").alias(id_col), F.col("label").alias("cluster")
        )
    finally:
        edges.unpersist()


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
