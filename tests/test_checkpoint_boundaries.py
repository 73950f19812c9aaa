"""Checkpoint boundaries in the crawl epoch (hiispider_spark.frames).

run_epoch and the catalog's fold/compaction cut lineage at every frame
they reuse across jobs, so these tests pin the two properties that cut
buys and that a regression back to ``persist()`` (or to ``unpersist()``
on a checkpoint, which does nothing) would lose:

- no block leak: every RDD an epoch checkpoints is released by the
  epoch's end, fold and compaction epochs included;
- bounded plans: the frames handed to the frontier's delta append and
  fold start from checkpointed leaves, so their optimized plans stay
  small instead of embedding every upstream cached plan.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
from hiispider_spark.sources.catalog import IcebergLike

CFG = EpochConfig(
    k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17,
    epoch_seconds=60.0, compact_every=2,
)

#: optimized-plan treeString length bound for every frame the frontier
#: delta append and fold receive (page_cache and politeness deltas
#: included). Measured on this config: at most 4 918 characters with
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


def test_epochs_release_every_checkpoint(spark, cat, tiny_pages, tiny_robots):
    # compared as id sets, not bare sizes: the context cleaner may drop
    # an earlier test's RDD mid-epoch, and a leak always adds an id
    for _ in range(4):
        before = _persistent_rdd_ids(spark)
        st = run_epoch(spark, cat, tiny_pages, tiny_robots, CFG)
        after = _persistent_rdd_ids(spark)
        assert after - before == set(), (st["epoch"], after - before)
        assert len(after) <= len(before)
    # the cadence exercised both the fold and the post-hoc compaction
    assert cat.epoch == 4
    assert "frontier" in st["compacted"] and "page_cache" in st["compacted"]


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
    # epoch 1 appends three deltas; epoch 2 folds the frontier
    assert ("stage_upsert_fold", "frontier") in {(m, t) for _, m, t, _ in seen}
    assert len(seen) == 6, seen
    assert max(n for *_, n in seen) < MAX_PLAN_CHARS, seen
