"""CDX(J) capture-index source (sources/cdx.py): CDXJ + classic-CDX
parse, latest-capture selection, index-driven seed bootstrap."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from hiispider_spark.sources import cdx

CDXJ_LINES = [
    # normal capture
    'org,example)/path 20240101000000 {"url": "http://example.org/path",'
    ' "status": "200", "mime": "text/html", "digest": "sha1:AAA",'
    ' "length": "2537", "offset": "6683", "filename": "a.warc.gz"}',
    # later capture of the same url, different file
    'org,example)/path 20240301120000 {"url": "http://example.org/path",'
    ' "status": "200", "mime": "text/html", "digest": "sha1:BBB",'
    ' "length": "2600", "offset": "0", "filename": "b.warc.gz"}',
    # redirect capture with extra unknown JSON fields (must be skipped,
    # not fatal)
    'org,example)/old 20240102000000 {"url": "http://example.org/old",'
    ' "status": "301", "mime": "text/html", "redirect": "/path",'
    ' "filename": "a.warc.gz", "offset": "99", "languages": "eng",'
    ' "unknown-field": "x"}',
    # 404 + non-html capture (seed filters must drop these)
    'org,example)/gone 20240101000000 {"url": "http://example.org/gone",'
    ' "status": "404", "mime": "text/html", "filename": "a.warc.gz"}',
    'org,example)/img 20240101000000 {"url": "http://example.org/i.png",'
    ' "status": "200", "mime": "image/png", "filename": "a.warc.gz"}',
    # garbage lines: blank, no JSON, bad timestamp
    "",
    "org,example)/nojson 20240101000000",
    'org,example)/badts 2024 {"url": "http://example.org/badts",'
    ' "status": "200", "mime": "text/html"}',
]


def _df(spark, lines):
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


def test_read_cdxj_parses_and_types(spark):
    rows = {
        (r.url, r.warc_ts): r
    for r in cdx.read_cdxj(_df(spark, CDXJ_LINES)).collect()}
    # 6 parse-able url-bearing lines survive (badts keeps url, NULL ts)
    assert len(rows) == 6
    r = rows[("http://example.org/path", datetime(2024, 1, 1))]
    assert r.http_status == 200 and r.mime == "text/html"
    assert r.warc_length == 2537 and r.warc_offset == 6683
    assert r.warc_file == "a.warc.gz" and r.digest == "sha1:AAA"
    red = rows[("http://example.org/old", datetime(2024, 1, 2))]
    assert red.http_status == 301 and red.redirect == "/path"
    bad = rows[("http://example.org/badts", None)]
    assert bad.http_status == 200  # malformed stamp → NULL ts, row kept


def test_read_cdx_classic(spark):
    lines = [
        "CDX N b a m s k r M S V g",  # header drops
        "org,example)/p 20240101000000 http://example.org/p text/html "
        "200 sha1:AAA - - 2537 6683 a.warc.gz",
        "org,example)/r 20240102000000 http://example.org/r text/html "
        "301 sha1:BBB http://example.org/p - 100 0 a.warc.gz",
        "short line",
    ]
    rows = {r.url: r for r in cdx.read_cdx_classic(_df(spark, lines)).collect()}
    assert set(rows) == {"http://example.org/p", "http://example.org/r"}
    p = rows["http://example.org/p"]
    assert p.http_status == 200 and p.warc_length == 2537
    assert p.redirect is None  # '-' sentinel → NULL
    assert rows["http://example.org/r"].redirect == "http://example.org/p"


def test_latest_captures_and_seeds(spark):
    caps = cdx.read_cdxj(_df(spark, CDXJ_LINES))
    latest = {r.url: r for r in cdx.latest_captures(caps).collect()}
    # /path has two captures → the 2024-03-01 one wins
    assert latest["http://example.org/path"].digest == "sha1:BBB"
    seeds = {r.url: r.priority for r in cdx.cdx_seeds(caps).collect()}
    # 404, image/png, 301, and NULL-ts-after-filter rows drop;
    # badts (200, text/html, NULL ts) keeps its row
    assert set(seeds) == {"http://example.org/path", "http://example.org/badts"}
    # priority = clamped days-since-2020/3650 of the latest capture
    days = (datetime(2024, 3, 1, 12) - datetime(2020, 1, 1)).total_seconds() / 86400
    assert abs(seeds["http://example.org/path"] - round(days / 3650.0, 6)) < 1e-9
    assert seeds["http://example.org/badts"] == 0.0  # NULL ts → clamp 0


def test_cdx_seeds_bootstrap_epoch(spark, tmp_path):
    """Index-driven bootstrap end to end: CDXJ seeds feed bootstrap()
    and the epoch dequeues them like any other seed list."""
    from hiispider_spark.plans.epoch import EpochConfig, bootstrap
    from hiispider_spark.sources.catalog import IcebergLike

    lines = [
        f'org,h)/p/{i} 2024010100000{i} {{"url": "http://h.example.org/p/{i}",'
        f' "status": "200", "mime": "text/html", "filename": "x.warc.gz"}}'
        for i in range(5)
    ]
    seeds = cdx.cdx_seeds(cdx.read_cdxj(_df(spark, lines)))
    cfg = EpochConfig(k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17)
    cat = IcebergLike(spark, str(tmp_path / "cat"))
    bootstrap(spark, cat, seeds, cfg)
    fr = cat.read("frontier")
    assert fr.count() == 5
    assert fr.filter(F.col("state") == "pending").count() == 5


def test_stream_cdx_frontier_ingest(spark, tmp_path):
    """Continuous index ingestion end to end: CDXJ files stream into
    the frontier (idempotent on re-shipped content), and the seen set
    stays WHOLE — bloom + exact both know the ingested hashes, so the
    epoch's link probe cannot re-insert them."""
    import os
    import time

    from pyspark.sql import functions as F

    from hiispider_spark.operators import seen as seen_ops
    from hiispider_spark.plans.epoch import EpochConfig, bootstrap
    from hiispider_spark.sources.catalog import IcebergLike
    from hiispider_spark.streaming.continuous import stream_cdx_frontier

    cfg = EpochConfig(k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17)
    cat = IcebergLike(spark, str(tmp_path / "cat"))
    boot = spark.createDataFrame(
        [("http://h.example.org/p/0", 1.0)], "url string, priority double"
    )
    bootstrap(spark, cat, boot, cfg)

    cdx_dir = str(tmp_path / "idx")
    os.makedirs(cdx_dir)

    def line(i):
        return (
            f'org,h)/p/{i} 2024010100000{i % 10} '
            f'{{"url": "http://h.example.org/p/{i}", "status": "200",'
            f' "mime": "text/html", "filename": "x.warc.gz"}}'
        )

    # file 1: urls 0..4 (0 already in the frontier from bootstrap)
    with open(os.path.join(cdx_dir, "a.cdxj"), "w") as f:
        f.write("\n".join(line(i) for i in range(5)))

    query, stats = stream_cdx_frontier(
        spark, cat, cdx_dir, cfg, trigger_s=0.3, max_batches=2
    )
    try:
        deadline = time.time() + 60
        while len(stats) < 1 and time.time() < deadline:
            time.sleep(0.3)
        # file 2: urls 3..7 (3, 4 duplicate file 1) — lands mid-stream
        with open(os.path.join(cdx_dir, "b.cdxj"), "w") as f:
            f.write("\n".join(line(i) for i in range(3, 8)))
        while len(stats) < 2 and time.time() < deadline:
            time.sleep(0.3)
    finally:
        query.stop()

    assert [s["n_inserted"] for s in stats] == [4, 3]  # idempotent
    fr = cat.read("frontier")
    assert fr.count() == 8
    assert fr.select("url_hash").distinct().count() == 8  # no dup keys
    # seen set is whole: bloom ∧ exact agree the ingested urls are seen
    ingested = fr.select("part_id", "url_hash", "url", "host")
    unseen = seen_ops.filter_unseen_partitioned(
        ingested.withColumn("salt", F.lit(0)),
        cat.read("seen_set"),
        cat.read("seen_exact"),
        cfg.bloom_m_bits,
    )
    assert unseen.count() == 0


def test_seen_exact_references_the_frontier(
    spark, tmp_path, tiny_seeds, tiny_pages, tiny_robots
):
    """Every frontier writer ends by referencing the frontier's files as
    seen_exact: after the bootstrap, an ordinary epoch, an epoch that
    follows no links, a folding epoch and a CDX batch, seen_exact's
    paths are exactly the frontier entry's, bucket files and deltas."""
    import os
    import time
    from dataclasses import replace

    from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
    from hiispider_spark.sources.catalog import IcebergLike
    from hiispider_spark.streaming.continuous import stream_cdx_frontier

    cfg = EpochConfig(
        k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17,
        epoch_seconds=60.0, compact_every=100,
    )
    cat = IcebergLike(spark, str(tmp_path / "cat"))

    def check(step):
        tables = cat.manifest["tables"]
        want = IcebergLike._entry_paths(tables["frontier"])
        assert tables["seen_exact"]["paths"] == want, step

    bootstrap(spark, cat, tiny_seeds, cfg)
    check("bootstrap")
    for step, ecfg, folds in [
        ("ordinary", cfg, False),
        ("no links", replace(cfg, follow_links=False), False),
        ("fold", replace(cfg, compact_every=2), True),
    ]:
        st = run_epoch(spark, cat, tiny_pages, tiny_robots, ecfg)
        assert ("frontier" in st["compacted"]) == folds, step
        check(step)

    cdx_dir = str(tmp_path / "idx")
    os.makedirs(cdx_dir)
    with open(os.path.join(cdx_dir, "a.cdxj"), "w") as f:
        f.write("\n".join(
            f'org,h)/p/{i} 20240101000000 {{"url": "http://h.example.org/p/{i}",'
            f' "status": "200", "mime": "text/html", "filename": "x.warc.gz"}}'
            for i in range(3)
        ))
    query, stats = stream_cdx_frontier(
        spark, cat, cdx_dir, cfg, trigger_s=0.3, max_batches=1
    )
    try:
        deadline = time.time() + 60
        while not stats and time.time() < deadline:
            time.sleep(0.3)
    finally:
        query.stop()
    assert [s["n_inserted"] for s in stats] == [3]
    check("cdx")
