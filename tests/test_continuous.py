"""Continuous crawl (streaming/continuous.py): the stream-driven
catalog must be byte-identical to the batch-loop catalog."""

from __future__ import annotations

import shutil
import tempfile
import time

from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epochs
from hiispider_spark.sources.catalog import IcebergLike
from hiispider_spark.streaming.continuous import crawl_stream

CFG = EpochConfig(
    k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17,
)


def _sorted_rows(cat, table, cols):
    return sorted(
        tuple(str(r[c]) for c in cols)
        for r in cat.read(table).select(*cols).collect()
    )


def test_stream_matches_batch_loop(spark, tiny_pages, tiny_seeds, tiny_robots):
    roots = [tempfile.mkdtemp(prefix="cont_") for _ in range(2)]
    try:
        # batch-driver loop (the reference's scheduler loop shape)
        cat_b = IcebergLike(spark, roots[0])
        bootstrap(spark, cat_b, tiny_seeds, CFG)
        run_epochs(spark, cat_b, tiny_pages, tiny_robots, 2, CFG)

        # streaming driver: rate-stream clock + foreachBatch
        cat_s = IcebergLike(spark, roots[1])
        bootstrap(spark, cat_s, tiny_seeds, CFG)
        query, stats = crawl_stream(
            spark, cat_s, tiny_pages, tiny_robots, CFG,
            max_epochs=2, trigger_s=0.5,
        )
        try:
            deadline = time.time() + 120
            while len(stats) < 2 and time.time() < deadline:
                time.sleep(0.5)
        finally:
            query.stop()
        assert len(stats) == 2
        assert [s["epoch"] for s in stats] == [1, 2]
        assert stats[-1]["n_extracted"] > 0

        # identical committed state: the epoch pipeline is a pure
        # function of (seed list, page store), however it is driven
        for table, cols in (
            ("frontier", ["url_hash", "next_fetch_ts", "state", "priority"]),
            ("extracted", ["url", "text"]),
            ("page_cache", ["url_hash", "content_sha1", "n_polls"]),
        ):
            assert _sorted_rows(cat_b, table, cols) == _sorted_rows(
                cat_s, table, cols
            ), table
    finally:
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)


def test_failed_epoch_rolls_back_staged(
    spark, tiny_pages, tiny_seeds, tiny_robots, monkeypatch
):
    """A run_epoch failure mid-trigger must not leave staged appends
    behind — IcebergLike._staged survives in-process, so a leftover
    would be committed by the NEXT trigger alongside its own (duplicate
    extracted/lineage rows). The epoch rolls itself back, after its
    other writes finished staging; the stream adds no rollback."""
    root = tempfile.mkdtemp(prefix="cont_fail_")
    try:
        cat = IcebergLike(spark, root)
        bootstrap(spark, cat, tiny_seeds, CFG)

        calls = []
        stage_append = IcebergLike.stage_append

        def boom(self, name, df):
            if name == "extracted":
                calls.append(1)
                raise RuntimeError("simulated mid-epoch failure")
            return stage_append(self, name, df)

        monkeypatch.setattr(IcebergLike, "stage_append", boom)
        query, stats = crawl_stream(
            spark, cat, tiny_pages, tiny_robots, CFG,
            max_epochs=1, trigger_s=0.3,
        )
        try:
            # the failed batch stops the query
            deadline = time.time() + 120
            while query.isActive and time.time() < deadline:
                time.sleep(0.3)
            error = query.exception()
        finally:
            query.stop()
        assert calls, "the epoch never reached its extracted write"
        assert error is not None and "simulated" in str(error)
        assert cat._staged == {}  # dead attempt's appends dropped
        assert stats == [] and cat.epoch == 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_max_epochs_caps_triggers(spark, tiny_pages, tiny_seeds, tiny_robots):
    root = tempfile.mkdtemp(prefix="cont_cap_")
    try:
        cat = IcebergLike(spark, root)
        bootstrap(spark, cat, tiny_seeds, CFG)
        query, stats = crawl_stream(
            spark, cat, tiny_pages, tiny_robots, CFG,
            max_epochs=1, trigger_s=0.3,
        )
        try:
            deadline = time.time() + 60
            while len(stats) < 1 and time.time() < deadline:
                time.sleep(0.3)
            time.sleep(1.5)  # extra triggers must be no-ops
        finally:
            query.stop()
        assert len(stats) == 1
        assert cat.epoch == 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_catalog_write_lock_serializes_streams(spark, tmp_path):
    """The single-writer lock is honored by the stream bodies: while
    another writer holds cat.write_lock, a CDX ingest batch must NOT
    stage or commit (IcebergLike staging is transaction-global — an
    unserialized concurrent commit would publish a co-writer's
    half-staged tables); once released, the batch lands."""
    import os

    from hiispider_spark.streaming.continuous import stream_cdx_frontier

    cat = IcebergLike(spark, str(tmp_path / "cat"))
    boot = spark.createDataFrame(
        [("http://h.example.org/p/0", 1.0)], "url string, priority double"
    )
    bootstrap(spark, cat, boot, CFG)
    snap0 = cat.manifest["snapshot_id"]

    cdx_dir = str(tmp_path / "idx")
    os.makedirs(cdx_dir)
    with open(os.path.join(cdx_dir, "a.cdxj"), "w") as f:
        f.write(
            'org,h)/p/1 20240101000001 {"url": "http://h.example.org/p/1",'
            ' "status": "200", "mime": "text/html", "filename": "x.warc.gz"}'
        )

    cat.write_lock.acquire()  # simulate a concurrent epoch mid-commit
    try:
        query, stats = stream_cdx_frontier(
            spark, cat, cdx_dir, CFG, trigger_s=0.3, max_batches=1
        )
        try:
            time.sleep(4.0)  # several triggers fire while the lock is held
            assert stats == []  # batch blocked, nothing staged/committed
            assert cat._staged == {}
            assert cat.manifest["snapshot_id"] == snap0
        finally:
            cat.write_lock.release()
        deadline = time.time() + 60
        while len(stats) < 1 and time.time() < deadline:
            time.sleep(0.3)
        query.stop()
        assert [s["n_inserted"] for s in stats] == [1]
        assert cat.read("frontier").count() == 2
    finally:
        if query.isActive:
            query.stop()
