"""Robots rules + token-bucket budgets, determinism, cross-epoch carry."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from hiispider_spark.operators.frontier import build_frontier, dequeue_topk
from hiispider_spark.operators.politeness import (
    apply_token_buckets,
    next_politeness_state,
    split_robots,
)
from hiispider_spark.schemas import POLITENESS


def _slice(spark, tiny_seeds):
    fr = build_frontier(tiny_seeds, n_partitions=8)
    return dequeue_topk(fr, "2024-01-01 00:01:00", 64)


def test_robots_denial(spark, tiny_seeds, tiny_robots):
    sl = _slice(spark, tiny_seeds)
    allowed, denied = split_robots(sl, tiny_robots)
    assert allowed.count() + denied.count() == sl.count()
    # hosts h0000/h0007 disallow path prefix /p/1
    for r in denied.collect():
        assert r.state == "robots_denied"
        host_id = int(r.host[1:5])
        assert host_id % 7 == 0
        assert r.url.split(".org")[1].startswith("/p/1")
    # no allowed row violates a disallow rule
    for r in allowed.select("host", "url").collect():
        host_id = int(r.host[1:5])
        if host_id % 7 == 0:
            assert not r.url.split(".org")[1].startswith("/p/1")


def test_token_budget_per_host(spark, tiny_seeds, tiny_robots):
    sl = _slice(spark, tiny_seeds)
    allowed, _ = split_robots(sl, tiny_robots)
    empty_state = spark.createDataFrame([], POLITENESS)
    out = apply_token_buckets(allowed, empty_state, "2024-01-01 00:01:00", 60.0)
    per_host = (
        out.groupBy("host", "crawl_delay")
        .agg(
            F.sum(F.col("granted").cast("int")).alias("n_granted"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert len(per_host) > 0
    for r in per_host:
        budget = max(1, math.floor(60.0 / r.crawl_delay))
        assert r.n_granted == min(budget, r.n)


def test_grant_order_prefers_priority(spark, tiny_seeds, tiny_robots):
    sl = _slice(spark, tiny_seeds)
    allowed, _ = split_robots(sl, tiny_robots)
    empty_state = spark.createDataFrame([], POLITENESS)
    out = apply_token_buckets(allowed, empty_state, "2024-01-01 00:01:00", 60.0)
    rows = out.collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r.host, []).append(r)
    for host, rs in by_host.items():
        granted = {(r.priority, r.url_hash) for r in rs if r.granted}
        denied = {(r.priority, r.url_hash) for r in rs if not r.granted}
        # every granted row outranks every non-granted row
        for g in granted:
            for d in denied:
                assert (-g[0], g[1]) < (-d[0], d[1])


def test_cross_epoch_token_carry(spark, tiny_seeds, tiny_robots):
    """A host with crawl_delay > epoch length fetches every other epoch."""
    sl = _slice(spark, tiny_seeds).limit(3).withColumn("host", F.lit("slow.example"))
    allowed = sl.withColumn("crawl_delay", F.lit(90.0))
    empty = spark.createDataFrame([], POLITENESS)
    e1 = apply_token_buckets(allowed, empty, "2024-01-01 00:01:00", 60.0)
    assert e1.filter("granted").count() == 1  # cap clamps to 1 token
    state1 = next_politeness_state(e1, "2024-01-01 00:01:00")
    e2 = apply_token_buckets(allowed, state1, "2024-01-01 00:02:00", 60.0)
    assert e2.filter("granted").count() == 0  # only 60/90 tokens refilled
    state2 = next_politeness_state(e2, "2024-01-01 00:02:00")
    e3 = apply_token_buckets(allowed, state2, "2024-01-01 00:03:00", 60.0)
    assert e3.filter("granted").count() == 1  # bucket refilled past 1.0


def test_waterfill_exact_and_deterministic():
    from hiispider_spark.operators.politeness import waterfill

    # skewed demands: one hot bucket, several small
    demands = {0: 100, 1: 3, 2: 7, 3: 50, 4: 0}
    alloc = waterfill(demands, 40)
    assert sum(alloc.values()) == 40
    assert all(alloc[p] <= demands[p] for p in demands)
    assert alloc[1] == 3 and alloc[2] == 7  # small demands fully served
    assert alloc == waterfill(demands, 40)  # deterministic
    # cap >= total demand → everyone fully served
    full = waterfill(demands, 1000)
    assert full == {p: d for p, d in demands.items()}
    # tiny cap: leftover goes to lowest part_id first
    tiny = waterfill({0: 5, 1: 5, 2: 5}, 2)
    assert tiny == {0: 1, 1: 1, 2: 0}


def test_global_inflight_cap(spark, tiny_seeds, tiny_robots):
    from hiispider_spark.operators.frontier import build_frontier, dequeue_topk
    from hiispider_spark.operators.politeness import apply_global_cap
    from hiispider_spark.schemas import POLITENESS

    fr = build_frontier(tiny_seeds, n_partitions=8)
    sl = dequeue_topk(fr, "2024-01-01 00:01:00", 1 << 20)
    allowed, _ = split_robots(sl, tiny_robots)
    empty = spark.createDataFrame([], POLITENESS)
    bucketed = apply_token_buckets(allowed, empty, "2024-01-01 00:01:00", 60.0).persist()
    n_granted = bucketed.filter("granted").count()
    assert n_granted > 10
    cap = n_granted // 2
    capped = apply_global_cap(bucketed, cap)
    assert capped.filter("granted").count() == cap
    # cap keeps the per-host/per-bucket highest-priority rows
    kept = capped.filter("granted")
    dropped = capped.filter(~F.col("granted")).join(
        bucketed.filter("granted").select("url_hash"), "url_hash", "left_semi"
    )
    per_part = {
        (r.part_id): r.mn
        for r in kept.groupBy("part_id").agg(F.min("priority").alias("mn")).collect()
    }
    for r in dropped.select("part_id", "priority").collect():
        assert r.priority <= per_part.get(r.part_id, float("inf")) + 1e-9
    # idempotent when cap >= demand
    assert apply_global_cap(bucketed, n_granted * 2).filter("granted").count() == n_granted
    bucketed.unpersist()


def test_global_cap_refunds_tokens(spark, tiny_seeds, tiny_robots):
    """Grants revoked by the global cap must NOT consume per-host rate
    budget (the reference's max_simultaneous_requests queues without
    charging). Next-state tokens = tokens_avail - n_actually_granted."""
    from hiispider_spark.operators.politeness import apply_global_cap

    fr = build_frontier(tiny_seeds, n_partitions=8)
    sl = dequeue_topk(fr, "2024-01-01 00:01:00", 1 << 20)
    allowed, _ = split_robots(sl, tiny_robots)
    empty = spark.createDataFrame([], POLITENESS)
    bucketed = apply_token_buckets(
        allowed, empty, "2024-01-01 00:01:00", 60.0
    ).persist()
    n_granted = bucketed.filter("granted").count()
    capped = apply_global_cap(bucketed, n_granted // 2).persist()

    pre = {
        r.host: r.tokens
        for r in next_politeness_state(bucketed, "2024-01-01 00:01:00").collect()
    }
    post = {
        r.host: r.tokens
        for r in next_politeness_state(capped, "2024-01-01 00:01:00").collect()
    }
    revoked = {
        r.host: r.n
        for r in bucketed.filter("granted")
        .join(capped.filter("granted").select("url_hash"), "url_hash", "left_anti")
        .groupBy("host")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert revoked  # the cap actually revoked something
    for host, n_rev in revoked.items():
        # every revoked grant is refunded into the persisted state
        assert abs(post[host] - (pre[host] + n_rev)) < 1e-9
    for host in pre:  # untouched hosts unchanged
        if host not in revoked:
            assert abs(post[host] - pre[host]) < 1e-9
    bucketed.unpersist()
    capped.unpersist()


def test_epoch_respects_max_inflight(spark, tiny_pages, tiny_seeds, tiny_robots):
    import shutil
    import tempfile
    from dataclasses import replace

    from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
    from hiispider_spark.sources.catalog import IcebergLike

    cfg = EpochConfig(
        k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17,
        epoch_seconds=60.0, max_inflight=10,
    )
    root = tempfile.mkdtemp(prefix="cap_")
    cat = IcebergLike(spark, root)
    bootstrap(spark, cat, tiny_seeds, cfg)
    st = run_epoch(spark, cat, tiny_pages, tiny_robots, cfg)
    assert st["n_granted"] <= 10
    assert st["n_fetched"] <= 10
    # uncapped twin grants more — the cap actually bound something
    root2 = tempfile.mkdtemp(prefix="cap0_")
    cat2 = IcebergLike(spark, root2)
    uncapped = replace(cfg, max_inflight=None)
    bootstrap(spark, cat2, tiny_seeds, uncapped)
    st2 = run_epoch(spark, cat2, tiny_pages, tiny_robots, uncapped)
    assert st2["n_granted"] > 10
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(root2, ignore_errors=True)


def test_column_twin_matches_pandas_impl(spark):
    """apply_token_buckets_col must be row-identical to the pandas
    form across fresh hosts, partial refills, and capped buckets."""
    from hiispider_spark.operators import politeness as pol

    sl = spark.createDataFrame(
        [
            # host a: delay 2.0 → cap 30; 3 urls, partial-refill state
            # (crawl_delay is per-host — robots join — so constant here)
            ("http://a.org/1", "a.org", 11, 2.0, 0.5),
            ("http://a.org/2", "a.org", 12, 2.0, 2.0),
            ("http://a.org/3", "a.org", 13, 2.0, 1.5),
            # host b: no state row (fresh) → full bucket
            ("http://b.org/1", "b.org", 21, 0.5, 1.0),
            # host c: slow host, delay > epoch → cap clamps to 1
            ("http://c.org/1", "c.org", 31, 120.0, 1.0),
            ("http://c.org/2", "c.org", 32, 120.0, 1.0),
        ],
        "url string, host string, url_hash long, crawl_delay double,"
        " priority double",
    )
    state = spark.createDataFrame(
        [
            ("a.org", 1.2, "2024-01-01 00:00:00"),
            ("c.org", 0.1, "2024-01-01 00:00:30"),
        ],
        "host string, tokens double, last_refill string",
    ).select(
        "host", "tokens", F.col("last_refill").cast("timestamp").alias(
            "last_refill"
        )
    )
    ts = "2024-01-01 00:01:00"
    a = pol.apply_token_buckets(sl, state, ts, 60.0)
    b = pol.apply_token_buckets_col(sl, state, ts, 60.0)
    assert a.columns == b.columns
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    # sanity on the semantics themselves: host a refilled
    # 1.2 + 60/2 = 31.2 → capped at 30 → 3 grants; c: 0.1 + 30/120
    # = 0.35 → floor 0 → none granted
    got = {r.url: r.granted for r in b.collect()}
    assert got["http://a.org/1"] and got["http://a.org/2"]
    assert not got["http://c.org/1"] and not got["http://c.org/2"]


def test_column_twin_no_python_in_plan(spark):
    from hiispider_spark.operators import politeness as pol

    sl = spark.createDataFrame(
        [("http://a.org/1", "a.org", 1, 1.0, 1.0)],
        "url string, host string, url_hash long, crawl_delay double,"
        " priority double",
    )
    empty = spark.createDataFrame([], POLITENESS)
    p = (
        pol.apply_token_buckets_col(sl, empty, "2024-01-01 00:01:00", 60.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "FlatMapGroupsInPandas" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_epoch_byte_identical_under_both_bucket_forms(
    spark, tmp_path, monkeypatch
):
    """Two full epochs driven with the applyInPandas token buckets
    patched in place of the Column form the epoch calls commit
    byte-identical catalogs (frontier/extracted/politeness/page_cache)."""
    from hiispider_spark.operators import politeness as pol
    from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epochs
    from hiispider_spark.sources.catalog import IcebergLike
    from hiispider_spark.sources.synth import (
        SynthConfig,
        synth_pages,
        synth_robots,
        synth_seeds,
    )

    sf = "/root/testdata/sf0.001"
    tiny = SynthConfig(n_pages=300, n_docs=500)
    pages = synth_pages(spark, sf, tiny).persist()
    robots = synth_robots(spark, sf, tiny)
    seeds = synth_seeds(spark, sf, tiny)
    cfg = EpochConfig(k_per_partition=6, n_partitions=8, bloom_m_bits=1 << 17)
    outs = {}
    for impl in ("pandas", "column"):
        with monkeypatch.context() as m:
            if impl == "pandas":
                m.setattr(
                    pol, "apply_token_buckets_col", pol.apply_token_buckets
                )
            cat = IcebergLike(spark, str(tmp_path / impl))
            bootstrap(spark, cat, seeds, cfg)
            run_epochs(spark, cat, pages, robots, 2, cfg)
        outs[impl] = cat
    for tbl in ("frontier", "extracted", "politeness", "page_cache"):
        a = sorted(map(tuple, outs["pandas"].read(tbl).collect()))
        b = sorted(map(tuple, outs["column"].read(tbl).collect()))
        assert a == b, tbl
    pages.unpersist()


def test_host_max_parallel_caps_both_impls(spark, tiny_seeds, tiny_robots):
    """host_max_parallel bounds per-host grants under both impls, and
    the twins remain row-identical with the cap engaged."""
    from hiispider_spark.operators import politeness as pol

    sl = _slice(spark, tiny_seeds)
    allowed, _ = pol.split_robots(sl, tiny_robots)
    empty = spark.createDataFrame([], POLITENESS)
    a = pol.apply_token_buckets(
        allowed, empty, "2024-01-01 00:01:00", 60.0, host_max_parallel=2
    )
    b = pol.apply_token_buckets_col(
        allowed, empty, "2024-01-01 00:01:00", 60.0, host_max_parallel=2
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    per_host = a.filter("granted").groupBy("host").count().collect()
    assert per_host and all(r["count"] <= 2 for r in per_host)
    # cap defers, never drops: row counts unchanged
    assert a.count() == allowed.count()
    # uncapped grants exceed 2 somewhere (the cap actually binds)
    un = pol.apply_token_buckets(allowed, empty, "2024-01-01 00:01:00", 60.0)
    assert un.filter("granted").groupBy("host").count().filter(
        "count > 2"
    ).count() > 0
