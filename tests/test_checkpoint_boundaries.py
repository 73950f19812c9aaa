"""Checkpoint boundaries (hiispider_spark.frames).

run_epoch and the catalog's fold/compaction cut lineage at every frame
they reuse across jobs, so these tests pin the two properties that cut
buys and that a regression back to ``persist()`` (or to ``unpersist()``
on a checkpoint, which does nothing) would lose:

- no block leak: every RDD an epoch checkpoints is released by the
  epoch's end, fold epochs included (where a folding table writes its
  change set once, never also as a delta); the same holds for
  a CDX ingest batch, successful or failing, and for the iterative
  operators (cluster assignment, redirect resolution, deep PageRank),
  which keep only the checkpoints their returned frame reads;
- bounded plans: the frames handed to the frontier's delta append and
  fold start from checkpointed leaves, so their optimized plans stay
  small instead of embedding every upstream cached plan.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from hiispider_spark.operators import clusters as cl
from hiispider_spark.operators import linkgraph as lg
from hiispider_spark.operators import redirects as rd
from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
from hiispider_spark.sources.catalog import IcebergLike
from hiispider_spark.streaming.continuous import stream_cdx_frontier

CFG = EpochConfig(
    k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17,
    epoch_seconds=60.0, compact_every=2,
)

#: optimized-plan treeString length bound for every frame the frontier
#: delta append and fold receive (page_cache and politeness appends and
#: folds included). Measured on this config: at most 4 918 characters with
#: checkpoint boundaries (the frontier fold), against 1.39 M (frontier
#: delta) and 2.94 M (frontier fold) with the persist() boundaries they
#: replaced. About 2x headroom over the checkpointed maximum.
MAX_PLAN_CHARS = 10_000


@pytest.fixture()
def cat(spark, tiny_seeds, tiny_pages):
    tiny_pages.count()  # fill the shared page cache outside the epochs
    root = tempfile.mkdtemp(prefix="ckpt_")
    c = IcebergLike(spark, root)
    bootstrap(spark, c, tiny_seeds, CFG)
    yield c
    shutil.rmtree(root, ignore_errors=True)


def _persistent_rdd_ids(spark) -> set[int]:
    # the Java view of SparkContext.getPersistentRDDs (id → RDD)
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _checkpoints_read_by(df) -> set[int]:
    """RDD ids of the checkpointed leaves (LogicalRDD) ``df`` reads."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    }


def test_epochs_release_every_checkpoint(
    spark, cat, tiny_pages, tiny_robots, monkeypatch
):
    # (epoch, table) of every delta append: a keyed table that folds
    # writes its change set once, into the folded buckets, never also
    # as a delta
    appended: list[tuple[int, str]] = []

    def spy(self, name, *a, _orig=IcebergLike.stage_append_delta, **kw):
        appended.append((self.epoch + 1, name))
        return _orig(self, name, *a, **kw)

    monkeypatch.setattr(IcebergLike, "stage_append_delta", spy)
    # compared as id sets, not bare sizes: the context cleaner may drop
    # an earlier test's RDD mid-epoch, and a leak always adds an id
    for _ in range(4):
        before = _persistent_rdd_ids(spark)
        st = run_epoch(spark, cat, tiny_pages, tiny_robots, CFG)
        after = _persistent_rdd_ids(spark)
        assert after - before == set(), (st["epoch"], after - before)
        assert len(after) <= len(before)
        both = {t for e, t in appended if e == st["epoch"]} & set(
            st["compacted"]
        )
        assert both == set(), (st["epoch"], both)
    # the cadence folded all three keyed tables (epochs 2 and 4)
    assert cat.epoch == 4
    assert set(st["compacted"]) == {"frontier", "page_cache", "politeness"}


def test_write_plans_stay_bounded(
    spark, cat, tiny_pages, tiny_robots, monkeypatch
):
    # (epoch, method, table, optimized-plan chars) of every frame the
    # frontier / page_cache / politeness delta append and fold receive
    seen: list[tuple] = []
    for meth in ("stage_upsert_fold", "stage_append_delta"):
        def record(self, name, df, *a, _orig=getattr(IcebergLike, meth),
                   _meth=meth, **kw):
            n = len(df._jdf.queryExecution().optimizedPlan().treeString())
            seen.append((self.epoch + 1, _meth, name, n))
            return _orig(self, name, df, *a, **kw)

        monkeypatch.setattr(IcebergLike, meth, record)
    for _ in range(2):
        run_epoch(spark, cat, tiny_pages, tiny_robots, CFG)
    # epoch 1 appends three deltas; epoch 2 folds all three tables
    assert ("stage_upsert_fold", "frontier") in {(m, t) for _, m, t, _ in seen}
    assert len(seen) == 6, seen
    assert max(n for *_, n in seen) < MAX_PLAN_CHARS, seen


def _ingest_one_batch(spark, cat, cdx_dir, cfg):
    """Run stream_cdx_frontier until its first batch ends (committed or
    failed); returns (stats, the query's exception or None)."""
    query, stats = stream_cdx_frontier(
        spark, cat, cdx_dir, cfg, trigger_s=0.3, max_batches=1
    )
    try:
        deadline = time.time() + 60
        while not stats and query.isActive and time.time() < deadline:
            time.sleep(0.3)
        error = query.exception()
    finally:
        query.stop()
    return stats, error


@pytest.mark.parametrize("fail", [False, True], ids=["commit", "failure"])
def test_cdx_ingest_batch_releases_its_checkpoint(
    spark, tmp_path, monkeypatch, fail
):
    cfg = EpochConfig(k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17)
    cat = IcebergLike(spark, str(tmp_path / "cat"))
    boot = spark.createDataFrame(
        [("http://h.example.org/p/0", 1.0)], "url string, priority double"
    )
    bootstrap(spark, cat, boot, cfg)
    cdx_dir = str(tmp_path / "idx")
    os.makedirs(cdx_dir)
    with open(os.path.join(cdx_dir, "a.cdxj"), "w") as f:
        f.write("\n".join(
            f'org,h)/p/{i} 2024010100000{i} {{"url": "http://h.example.org/'
            f'p/{i}", "status": "200", "mime": "text/html"}}'
            for i in range(5)
        ))
    if fail:
        # fails after the inserted checkpoint was filled by its count
        def boom(self, *a, **k):
            raise RuntimeError("injected ingest failure")

        monkeypatch.setattr(IcebergLike, "stage_append_delta", boom)
    before = _persistent_rdd_ids(spark)
    stats, error = _ingest_one_batch(spark, cat, cdx_dir, cfg)
    after = _persistent_rdd_ids(spark)
    if fail:
        assert error is not None and "injected" in str(error)
        assert not stats and cat.read("frontier").count() == 1
    else:
        assert error is None and stats == [{"batch": 0, "n_inserted": 4}]
    assert after - before == set()


def _assert_keeps_only_what_result_reads(spark, build):
    before = _persistent_rdd_ids(spark)
    out = build()
    out.collect()
    kept = _persistent_rdd_ids(spark) - before
    assert kept <= _checkpoints_read_by(out), (kept, _checkpoints_read_by(out))
    return out


def test_dedup_clusters_releases_superseded_checkpoints(spark):
    # a 12-node path: label propagation runs 12 rounds, each of which
    # supersedes the previous checkpoint
    n = 12
    ids = spark.range(n).toDF("doc_id")
    pairs = spark.range(n - 1).toDF("doc_a").select(
        "doc_a", (F.col("doc_a") + 1).alias("doc_b")
    )
    out = _assert_keeps_only_what_result_reads(
        spark,
        lambda: cl.dedup_clusters(ids, pairs),
    )
    assert {r.cluster for r in out.collect()} == {0}


def test_redirect_resolver_releases_superseded_checkpoints(spark):
    # a 20-hop chain moves in every one of its 5 doubling rounds
    ed = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(20)],
        "src_url string, dst_url string",
    )
    out = _assert_keeps_only_what_result_reads(
        spark, lambda: rd.resolve_redirects(ed)
    )
    got = {r.src_url: (r.final_url, r.n_hops) for r in out.collect()}
    assert got["n0"] == ("n20", 20)


def test_deep_pagerank_releases_superseded_checkpoints(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    out = _assert_keeps_only_what_result_reads(
        spark, lambda: lg.host_pagerank(edges, n_iter=8)
    )
    assert out.count() == 3
