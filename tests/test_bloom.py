"""Bloom seen-set: no false negatives, per-bucket filters, exactness of
the co-partitioned probe, and the filter-width checks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hiispider_spark import schemas
from hiispider_spark.operators import seen
from hiispider_spark.plans.epoch import EpochConfig

M = 1 << 17  # 128 Kbit for tests
K = 7


def _build(df, m_bits=M):
    """Filters built the one way: merged into an empty seen set."""
    empty = schemas.empty_frame(df.sparkSession, schemas.SEEN_SET)
    return seen.merge_partition_blooms(empty, df, m_bits, K)


def _probe(cands, blooms, seen_exact, broadcast, m_bits=M):
    """The probe given a filter-row count on the ``broadcast`` side of
    its size bound (the other side: one row past it), after checking
    that the count selects that arm."""
    n_filters = (
        0 if broadcast
        else seen.BROADCAST_FILTERS_MAX_BYTES // (m_bits // 8) + 1
    )
    got = seen.filter_unseen_partitioned(
        cands, blooms, seen_exact, m_bits, K, n_filters=n_filters
    )
    plan = got._jdf.queryExecution().analyzed().toString()
    assert ("strategy=broadcast" in plan) == broadcast
    return got


def _hashes(n, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)


def test_insert_contains_no_false_negatives():
    bloom = np.zeros(M // 8, dtype=np.uint8)
    h = _hashes(5000)
    seen._insert(bloom, h, M, K)
    assert seen._contains(bloom, h, M, K).all()


def test_fpp_within_2x_estimate():
    bloom = np.zeros(M // 8, dtype=np.uint8)
    h = _hashes(5000, seed=1)
    seen._insert(bloom, h, M, K)
    probe = _hashes(20000, seed=2)
    fp = seen._contains(bloom, probe, M, K).mean()
    est = seen.estimated_fpp(5000, M, K)
    assert fp <= max(2 * est, 0.01)


def test_partition_blooms_match_direct_insert(spark):
    n = 4000
    df = spark.range(n).select(
        (F.col("id") % 8).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    blooms = _build(df).collect()
    assert sorted(r.partition_id for r in blooms) == list(range(8))
    by_part: dict[int, list[int]] = {}
    for r in df.collect():
        by_part.setdefault(r.part_id, []).append(r.url_hash)
    for r in blooms:
        h = np.array(by_part[r.partition_id], dtype=np.int64)
        got = np.asarray(r.bloom, dtype=np.int64).view(np.uint8)
        # each bucket's filter holds its own keys (no false negatives)
        assert seen._contains(got, h, M, K).all()
        # and equals the filter built by inserting them directly
        direct = np.zeros(M // 8, dtype=np.uint8)
        seen._insert(direct, h, M, K)
        assert bytes(direct) == bytes(got)
        assert r.n_items == len(h)


def test_filter_unseen_exactness(spark):
    all_urls = spark.range(1000).select(
        (F.col("id") % 4).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    seen_part = all_urls.filter(F.col("url_hash") % 2 == 0)
    seen_exact = seen_part.select("url_hash")
    blooms = _build(seen_part)
    expected = sorted(
        r.url_hash
        for r in all_urls.join(seen_exact, "url_hash", "left_anti").collect()
    )
    for broadcast in (True, False):
        got = _probe(all_urls, blooms, seen_exact, broadcast)
        assert sorted(r.url_hash for r in got.collect()) == expected


def test_jvm_probe_matches_numpy(spark):
    """bloom_might_contain_col (pure Column expr) is bit-identical to
    the numpy _contains over the same stored word-array filter."""
    df = spark.range(3000).select(
        F.lit(0).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    blooms = _build(df).collect()
    words = np.asarray(blooms[0].bloom, dtype=np.int64)
    bl = words.view(np.uint8)
    probe = spark.range(2000, 8000).select(F.xxhash64("id").alias("url_hash"))
    from pyspark.sql import functions as F2

    got = (
        probe.crossJoin(
            spark.createDataFrame([(blooms[0].bloom,)], "bloom array<long>")
        )
        .select(
            "url_hash",
            seen.bloom_might_contain_col(
                F2.col("url_hash"), F2.col("bloom"), M, K
            ).alias("m"),
        )
        .collect()
    )
    h = np.array([r.url_hash for r in got], dtype=np.int64)
    want = seen._contains(bl, h.view(np.uint64), M, K)
    assert all(bool(r.m) == bool(w) for r, w in zip(got, want))


def test_filter_unseen_partitioned_modes_agree(spark):
    """Broadcast JVM probe and cogroup python probe return the same
    unseen set (both end at the exact anti-join authority); the filter
    set's size picks the arm."""
    base = spark.range(4000).select(
        (F.col("id") % 8).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    blooms = _build(base)
    seen_exact = base.select("url_hash")
    cands = spark.range(2000, 10000).select(
        (F.col("id") % 8).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    a = _probe(cands, blooms, seen_exact, True)
    b = _probe(cands, blooms, seen_exact, False)
    want = cands.join(seen_exact, "url_hash", "left_anti")
    sa = sorted(r.url_hash for r in a.collect())
    sb = sorted(r.url_hash for r in b.collect())
    sw = sorted(r.url_hash for r in want.collect())
    assert sa == sb == sw
    # the bound sits between the sandbox and the 10^10 sizing of the
    # seen.py notes: 32 filters of 2 MiB broadcast, 10 000 filters of
    # 1.25 MB (10^7 bits) take the cogroup
    assert seen._broadcast_fits(32, 1 << 24)
    assert not seen._broadcast_fits(10_000, 10_000_000)


@pytest.mark.parametrize("m_bits", [3 << 20, 1000, 32, 0])
def test_m_bits_must_be_power_of_two(spark, m_bits):
    """Positions are masked with m_bits - 1: another width would raise
    the fpp above the stored estimate or fail inside the UDF."""
    df = spark.range(10).select(
        F.lit(0).alias("part_id"), F.xxhash64("id").alias("url_hash")
    )
    with pytest.raises(ValueError, match="power of two"):
        EpochConfig(bloom_m_bits=m_bits)
    with pytest.raises(ValueError, match="power of two"):
        seen.merge_partition_blooms(_build(df), df, m_bits, K)


def test_filters_of_another_width_are_rejected(spark):
    """Filters stored at M and read at M/2 would be probed in their lower
    half: false negatives that skip the exact anti-join. Both probe arms
    and the merge fail instead."""
    base = spark.range(400).select(
        (F.col("id") % 4).cast("int").alias("part_id"),
        F.xxhash64("id").alias("url_hash"),
    )
    blooms = _build(base)
    seen_exact = base.select("url_hash")
    for broadcast in (True, False):
        probe = _probe(base, blooms, seen_exact, broadcast, M // 2)
        with pytest.raises(Exception, match="built with another bloom_m_bits"):
            probe.collect()
    merged = seen.merge_partition_blooms(blooms, base, M // 2, K)
    with pytest.raises(Exception, match="built with another bloom_m_bits"):
        merged.collect()
    # the width they were built at still probes exactly
    assert seen.filter_unseen_partitioned(
        base, blooms, seen_exact, M, K
    ).count() == 0
