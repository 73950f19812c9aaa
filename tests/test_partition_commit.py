"""Round-2 scale-shape guards:

- partition-level commit: a fold epoch whose frontier delta touches 2
  of 8 buckets rewrites only those bucket directories; the rest carry
  by manifest reference,
- the conditional-GET cache is a compact state table (the extracted
  history is never re-read, let alone re-aggregated, inside an epoch),
- filter_unseen_partitioned is exactly the anti-join semantics.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from hiispider_spark import schemas
from hiispider_spark.operators import seen as seen_ops
from hiispider_spark.operators.frontier import build_frontier
from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
from hiispider_spark.sources.catalog import IcebergLike

CFG = EpochConfig(
    k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17,
    epoch_seconds=60.0,
)
FAR = "2030-01-01 00:00:00"


@pytest.fixture()
def cat(spark, tiny_seeds):
    root = tempfile.mkdtemp(prefix="partcommit_")
    c = IcebergLike(spark, root)
    bootstrap(spark, c, tiny_seeds, CFG)
    yield c
    shutil.rmtree(root, ignore_errors=True)


def _frontier_entry(cat) -> dict:
    with open(os.path.join(cat.root, "manifest.json")) as f:
        return json.load(f)["tables"]["frontier"]


def _frontier_parts(cat) -> dict[str, str]:
    return _frontier_entry(cat)["parts"]


def test_epoch_rewrites_only_touched_buckets(spark, cat, tiny_pages, tiny_robots):
    # make only buckets {1, 3} due this epoch; defer everything else
    fr = cat.read("frontier").withColumn(
        "next_fetch_ts",
        F.when(
            F.col("part_id").isin(1, 3), F.col("next_fetch_ts")
        ).otherwise(F.lit(FAR).cast("timestamp")),
    )
    cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
    cat.commit(epoch=0)
    before = _frontier_parts(cat)
    n_rows = cat.read("frontier").count()

    # compact_every=1: the frontier delta folds in the epoch's own write
    cfg = replace(CFG, compact_every=1, follow_links=False)
    st = run_epoch(spark, cat, tiny_pages, tiny_robots, cfg)
    assert st["n_dequeued"] > 0
    assert "frontier" in st["compacted"]
    assert not _frontier_entry(cat).get("deltas")
    after = _frontier_parts(cat)
    changed = {p for p in after if after[p] != before.get(p)}
    assert changed == {"1", "3"}
    for p in after:
        if p not in changed:
            assert after[p] == before[p]  # carried by reference, same files
    # total membership preserved: untouched rows still readable
    assert cat.read("frontier").count() == n_rows


def test_extracted_history_not_read_inside_epoch(
    spark, cat, tiny_pages, tiny_robots, monkeypatch
):
    reads: list[str] = []
    orig = IcebergLike.read

    def spying_read(self, name):
        reads.append(name)
        return orig(self, name)

    monkeypatch.setattr(IcebergLike, "read", spying_read)
    run_epoch(spark, cat, tiny_pages, tiny_robots, CFG)
    assert "extracted" not in reads


def test_page_cache_matches_extracted_history(spark, cat, tiny_pages, tiny_robots):
    for _ in range(3):
        run_epoch(spark, cat, tiny_pages, tiny_robots, CFG)
    hist = (
        cat.read("extracted")
        .groupBy("url_hash")
        .agg(F.max_by("content_sha1", "epoch").alias("content_sha1"))
    )
    pc = cat.read("page_cache").select("url_hash", "content_sha1")
    assert pc.count() == pc.select("url_hash").distinct().count()
    # the compact state table carries exactly the latest digest per url
    assert pc.exceptAll(hist).count() == 0
    assert hist.exceptAll(pc).count() == 0


def test_filter_unseen_partitioned_is_exact(spark, tiny_seeds):
    fr = build_frontier(tiny_seeds, n_partitions=8).persist()
    blooms = seen_ops.merge_partition_blooms(
        schemas.empty_frame(spark, schemas.SEEN_SET), fr, 1 << 17
    )
    seen_exact = fr.select("url_hash")
    # candidates: half seen (frontier rows), half fresh
    fresh = fr.select(
        F.concat(F.col("url"), F.lit("?new=1")).alias("url"),
        (F.col("url_hash") + 10**12).alias("url_hash"),
        "host", "salt", "part_id",
    )
    cands = fr.select("url", "url_hash", "host", "salt", "part_id").unionByName(
        fresh
    )
    got = seen_ops.filter_unseen_partitioned(
        cands, blooms, seen_exact, 1 << 17
    )
    want = cands.join(seen_exact, "url_hash", "left_anti")
    assert got.count() == want.count() == fresh.count()
    assert got.select("url_hash").exceptAll(want.select("url_hash")).count() == 0
