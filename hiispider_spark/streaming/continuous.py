"""Continuous crawl: the epoch pipeline as a Structured Streaming query.

The reference runs forever off a scheduler loop + AMQP queue
[hs: hiispider/schedulerserver.py †]; ``run_epochs`` (plans/epoch.py)
is the batch-driver equivalent. This module is the Spark-native
always-on form: a streaming query whose every micro-batch trigger
executes one crawl epoch through ``foreachBatch``.

The trigger source is a **rate stream used as a clock** — the stream
carries no work (the frontier table is the queue; that is the whole
design); each tick just fires the next epoch against the shared
catalog. This is the standard shape for "continuous driver over a
transactional table" pipelines.

Effectively-once semantics: ``run_epoch`` commits all state through
IcebergLike's atomic manifest swap, and the epoch counter itself lives
in the manifest. A crash between trigger and commit replays the SAME
epoch computation off the last committed state (deterministic given
the page store), and a duplicate trigger after commit simply computes
the NEXT epoch — the classic foreachBatch + transactional-sink recipe,
no reliance on the rate source's offsets. test_continuous proves the
stream-driven catalog is byte-identical to the batch-loop catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from hiispider_spark import frames
from hiispider_spark.plans.epoch import EpochConfig, run_epoch
from hiispider_spark.sources.catalog import IcebergLike


def crawl_stream(
    spark: SparkSession,
    cat: IcebergLike,
    pages: DataFrame,
    robots: DataFrame,
    cfg: EpochConfig = EpochConfig(),
    max_epochs: int | None = None,
    trigger_s: float = 1.0,
):
    """Start the continuous crawl; returns (StreamingQuery, stats).

    ``stats`` is a live list that grows by one epoch-summary dict per
    completed epoch (the driver owns it — foreachBatch runs in the
    driver). ``max_epochs`` turns further triggers into no-ops so
    tests and bounded backfills can drain and stop deterministically;
    production passes None and stops the query to stop the crawl.
    """
    stats: list[dict] = []

    def one_epoch(_batch: DataFrame, _batch_id: int) -> None:
        if max_epochs is not None and len(stats) >= max_epochs:
            return
        # serialize against any other stream writing this catalog
        # (e.g. stream_cdx_frontier): IcebergLike staging is
        # transaction-global, so an unserialized concurrent commit
        # would publish this epoch's half-staged tables early — and
        # either stream's rollback would wipe the other's staged work
        with cat.write_lock:
            try:
                stats.append(run_epoch(spark, cat, pages, robots, cfg))
            except BaseException:
                # a failed epoch must not leave its staged appends
                # behind: IcebergLike._staged survives in-process, so a
                # retry (or the next trigger) would commit the dead
                # attempt's files alongside its own, duplicating
                # extracted/lineage rows. Crash-replay across PROCESS
                # restarts already discards staged state; this extends
                # the guarantee within-process.
                cat.rollback_staged()
                raise

    query = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.foreachBatch(one_epoch)
        .trigger(processingTime=f"{trigger_s} seconds")
        .option(
            "checkpointLocation", os.path.join(cat.root, "_stream_ckpt")
        )
        .queryName("crawl_stream")
        .start()
    )
    return query, stats


def stream_cdx_frontier(
    spark: SparkSession,
    cat: IcebergLike,
    cdx_dir: str,
    cfg: EpochConfig = EpochConfig(),
    glob: str = "*.cdxj",
    trigger_s: float = 1.0,
    max_batches: int | None = None,
):
    """Continuous index-driven seed ingestion: CDXJ files landing in
    ``cdx_dir`` stream into the frontier — the always-on form of the
    bootstrap path (a production recrawl keeps discovering new capture
    indexes while the epoch loop runs).

    Per micro-batch (only NEW files — the file source's checkpoint at
    ``<catalog>/_cdx_ckpt`` tracks what's been read):

    1. parse lines → captures → :func:`~hiispider_spark.sources.cdx.cdx_seeds`
       (status/mime filter, latest capture per url, recency priority);
    2. ``build_frontier`` canonicalizes/dedups/buckets them;
    3. anti-join against the committed frontier (idempotent: re-shipped
       index files insert nothing);
    4. commit inserts as a frontier delta (O(new rows)) AND keep the
       seen set whole: ``seen_exact`` gets the delta by reference, and
       the touched partitions' bloom filters OR in the new hashes —
       REQUIRED for correctness, not an optimization: the epoch's link
       probe trusts a bloom miss as "definitely new" without an exact
       check, so an insert that skipped the bloom would let the same
       URL insert again on next discovery.

    Returns (StreamingQuery, stats) like :func:`crawl_stream`; a
    failed batch rolls back its staged writes before re-raising (same
    within-process guarantee as the crawl stream).

    Concurrency: each batch holds ``cat.write_lock`` for its whole
    stage→commit transaction, so running this stream BESIDE
    ``crawl_stream`` on one catalog is safe — ingest batches and crawl
    epochs serialize, each reading the other's last committed frontier/
    seen state instead of racing half-staged writes (IcebergLike
    staging is transaction-global; see the lock's docstring).
    """
    from hiispider_spark.operators import seen as seen_ops
    from hiispider_spark.operators.frontier import build_frontier
    from hiispider_spark.plans.epoch import _delta_files
    from hiispider_spark.sources.cdx import cdx_seeds, read_cdxj

    stats: list[dict] = []

    def one_batch(batch: DataFrame, batch_id: int) -> None:
        if max_batches is not None and len(stats) >= max_batches:
            return
        # same single-writer discipline as crawl_stream's one_epoch:
        # the whole stage→commit transaction holds the catalog lock, so
        # an ingest batch and a crawl epoch over one catalog serialize
        # instead of co-committing each other's half-staged tables
        with cat.write_lock:
            _locked_batch(batch, batch_id)

    def _locked_batch(batch: DataFrame, batch_id: int) -> None:
        inserted = None
        try:
            seeds = cdx_seeds(read_cdxj(batch))
            rows = build_frontier(
                seeds, cfg.n_partitions, cfg.n_salts, cfg.interval_s,
                stagger_s=cfg.boot_stagger_s,
            )
            existing = cat.read("frontier")
            # checkpoint, not persist (frames module notes): the count
            # below fills it, the frontier and seen_set writes read it
            inserted = frames.cut(
                rows.join(
                    existing.select("url_hash"), "url_hash", "left_anti"
                ).select(*existing.columns)
            )
            per_part = inserted.groupBy("part_id").count().collect()
            n = int(sum(r["count"] for r in per_part))
            if n:
                parts = sorted(r.part_id for r in per_part)
                cat.stage_append_delta(
                    "frontier",
                    inserted.coalesce(_delta_files(n, cfg.n_partitions)),
                    n_new_keys=n,
                )
                cat.stage_append_ref(
                    "seen_exact", cat.staged_delta_rels("frontier")[-1:]
                )
                cat.stage_overwrite_parts(
                    "seen_set",
                    seen_ops.merge_partition_blooms(
                        cat.read_parts("seen_set", parts, "partition_id"),
                        inserted.select("part_id", "url_hash"),
                        cfg.bloom_m_bits,
                    ),
                    "partition_id",
                    parts,
                )
                # ingest is not a crawl tick: the epoch counter stays
                cat.commit(epoch=cat.epoch)
            stats.append({"batch": int(batch_id), "n_inserted": n})
        except BaseException:
            cat.rollback_staged()
            raise
        finally:
            frames.release(inserted)

    query = (
        spark.readStream.option("pathGlobFilter", glob)
        .text(cdx_dir)
        .writeStream.foreachBatch(one_batch)
        .trigger(processingTime=f"{trigger_s} seconds")
        .option(
            "checkpointLocation", os.path.join(cat.root, "_cdx_ckpt")
        )
        .queryName("cdx_ingest")
        .start()
    )
    return query, stats
