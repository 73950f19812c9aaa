"""Distributed URL-seen set: one Bloom filter per frontier bucket,
probed co-partitioned, with an exact anti-join as the authority
(SURVEY.md §2 O-20).

The reference approximates "seen" with page-cache existence plus a Redis
negative cache [hs: hiispider/pagegetter.py †] — fine at feed-poller
scale, impossible at a 10^10-URL frontier. BASELINE.json:6 asks for
"a distributed URL-seen set built from per-partition bloom/cuckoo
filters unioned via treeAggregate". The per-partition filters are
here; the union is never formed, on the driver or anywhere else. A
URL's bits live only in its own bucket's filter, so each candidate is
probed against that one filter (a better fpp than the union's).

Design:
- each bucket's filter is one ``seen_set`` row of ``array<long>``
  words; :func:`merge_partition_blooms`, the one builder, ORs new URLs
  in **vectorized** (numpy bitwise ops, no per-row Python), a first
  build being a merge into no filter. ``plans.epoch.stage_seen_filters``
  is its one caller (bootstrap, epoch and CDX ingest),
- :func:`filter_unseen_partitioned` is the one probe,
- Bloom is a *prefilter only*: false positives would drop URLs, and the
  north rule requires URL-seen membership to match the reference
  exactly, so the authority is an exact anti-join on ``url_hash``
  against ``seen_exact`` — at scale the bloom cuts that join's probe
  side by ~(1 - fpp), e.g. 99% at fpp=0.01,
- Bloom, not cuckoo: OR is a lossless merge, and nothing removes a URL
  from the seen set, the one thing a cuckoo filter would add.

Sizing at 10^10 URLs (SURVEY.md §7): k=7, m/n ≈ 10 bits/key → fpp≈0.008;
10^10 keys ≈ 12.5 GB of filter total, split across P buckets'
``seen_set`` rows (e.g. P=10k → 1.25 MB per row).
"""

from __future__ import annotations

import math
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hiispider_spark import schemas

DEFAULT_M_BITS = 1 << 24  # 16 Mbit = 2 MiB per filter (sandbox scale)
DEFAULT_K = 7


def _positions(h: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Kirsch-Mitzenmacher double hashing: pos_i = h1 + i*h2 (mod m).

    ``h`` is uint64; m_bits must be a power of two. Returns (k, n) array.
    """
    mask = np.uint64(m_bits - 1)
    h1 = h & mask
    h2 = (h >> np.uint64(33)) | np.uint64(1)  # odd → full-period stride
    return np.stack(
        [(h1 + np.uint64(i) * h2) & mask for i in range(k)]
    )


def _insert(bloom: np.ndarray, hashes: np.ndarray, m_bits: int, k: int) -> None:
    pos = _positions(hashes.astype(np.uint64), m_bits, k).ravel()
    np.bitwise_or.at(bloom, (pos >> np.uint64(3)).astype(np.int64),
                     (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))


def _contains(bloom: np.ndarray, hashes: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    pos = _positions(hashes.astype(np.uint64), m_bits, k)
    byte_idx = (pos >> np.uint64(3)).astype(np.int64)
    bit = (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
    return ((bloom[byte_idx] & bit) != 0).all(axis=0)


def estimated_fpp(n_items: int, m_bits: int, k: int = DEFAULT_K) -> float:
    if n_items == 0:
        return 0.0
    return (1.0 - math.exp(-k * n_items / m_bits)) ** k


def check_m_bits(m_bits: int) -> None:
    # positions are masked with m_bits - 1 and stored as 64-bit words
    if m_bits < 64 or m_bits & (m_bits - 1):
        raise ValueError(
            f"bloom m_bits must be a power of two >= 64, got {m_bits}"
        )


_SIZE_MISMATCH = (
    "seen_set filter of partition %d has %d words, but bloom_m_bits=%d "
    "needs %d: the stored filters were built with another bloom_m_bits"
)


def _stored_filter(partition_id, stored: pd.Series, m_bits: int) -> np.ndarray:
    """OR of a bucket's stored filter rows (at most one; all-zero for
    none) as bytes, each checked to be ``m_bits`` wide: a filter probed
    at a smaller width gives false negatives."""
    bloom = np.zeros(m_bits // 8, dtype=np.uint8)
    for b in stored:
        words = np.asarray(b, dtype=np.int64)
        if len(words) != m_bits // 64:
            raise ValueError(
                _SIZE_MISMATCH % (partition_id, len(words), m_bits, m_bits // 64)
            )
        bloom |= words.view(np.uint8)
    return bloom


def merge_partition_blooms(
    old_seen_set: DataFrame,
    new_items: DataFrame,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
) -> DataFrame:
    """Seen-set update: OR the bloom of the new URLs into the existing
    per-partition filters — O(new) work instead of rebuilding over the
    whole frontier (the only shape that survives a 10^10-row frontier;
    rebuild would re-scan everything per epoch).

    ``new_items`` carries (part_id, url_hash). Partitions unseen so far
    get fresh rows, so an empty ``old_seen_set`` builds the first
    filters; untouched partitions pass through unchanged.

    One cogroup pandas stage does the whole merge — old filter + new
    hashes meet per partition, the OR and the inserts run vectorized in
    numpy (a JVM ``zip_with`` OR would shuffle every filter once more
    and run an interpreted lambda per word).
    """
    check_m_bits(m_bits)

    def merge(key, old: pd.DataFrame, new: pd.DataFrame) -> pd.DataFrame:
        bloom = _stored_filter(key[0], old["bloom"], m_bits)
        h = new["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        _insert(bloom, h, m_bits, k)
        n = int(old["n_items"].sum()) + len(h)
        return pd.DataFrame(
            {
                "partition_id": [int(key[0])],
                "bloom": [bloom.view(np.int64)],
                "n_items": [n],
                "fpp": [estimated_fpp(n, m_bits, k)],
            }
        )

    return (
        old_seen_set.groupby("partition_id")
        .cogroup(new_items.select("part_id", "url_hash").groupby("part_id"))
        .applyInPandas(merge, schemas.SEEN_SET)
    )


def bloom_might_contain_col(
    h, bloom, m_bits: int, k: int = DEFAULT_K
):
    """Bloom membership as a pure Column expression over an
    ``array<long>`` filter — Kirsch-Mitzenmacher double hashing,
    bit-identical to the numpy ``_contains`` (KAT-tested).

    Whole-stage codegen, zero Python: the byte-blob probe ran through
    applyInPandas and measured ANTI-scaling under thread concurrency
    (8.4 s @4 threads → 10.3 s @16 for 5M candidates — Arrow/pandas
    memory traffic, not compute); this expression does the same probes
    in 2-3 s flat and scales with the scan that contains it.
    """
    if isinstance(h, str) and isinstance(bloom, str):
        # memoized plan-build: ~0.7 s of py4j round-trips per build,
        # once per epoch on the hot path (cached Column trees are
        # reusable across plans — functions/canon.py module notes)
        return _bloom_probe_named(h, bloom, m_bits, k)
    return _bloom_probe_build(h, bloom, m_bits, k)


@lru_cache(maxsize=32)
def _bloom_probe_named(h: str, bloom: str, m_bits: int, k: int):
    return _bloom_probe_build(F.col(h), F.col(bloom), m_bits, k)


def _bloom_probe_build(h, bloom, m_bits: int, k: int):
    mask = m_bits - 1
    # two's-complement & gives the correct low bits for negative hashes
    h1 = h.bitwiseAND(F.lit(mask))
    h2 = F.call_function("shiftrightunsigned", h, F.lit(33)).bitwiseOR(F.lit(1))
    cond = None
    for i in range(k):
        pos = (h1 + F.lit(i) * h2).bitwiseAND(F.lit(mask))
        word = F.element_at(bloom, (F.shiftright(pos, 6) + F.lit(1)).cast("int"))
        hit = (
            F.call_function(
                "shiftrightunsigned", word, pos.bitwiseAND(F.lit(63))
            ).bitwiseAND(F.lit(1))
            == 1
        )
        cond = hit if cond is None else (cond & hit)
    return cond


@lru_cache(maxsize=32)
def _checked_bloom_col(m_bits: int):
    # the stored filter, or a failed query if it is not m_bits wide;
    # memoized like _bloom_probe_named (built once per epoch)
    n_words = m_bits // 64
    return (
        F.when(F.size("bloom") == n_words, F.col("bloom"))
        .otherwise(
            F.raise_error(
                F.format_string(
                    _SIZE_MISMATCH, "partition_id", F.size("bloom"),
                    F.lit(m_bits), F.lit(n_words),
                )
            )
        )
        .alias("bloom")
    )


#: Largest filter set (rows × m_bits/8 bytes) the probe broadcasts. A
#: broadcast is collected whole on the driver and copied whole into
#: every executor, so past a share of one JVM heap it fails where the
#: cogroup, which moves each filter row once, does not (Spark refuses
#: any broadcast over 8 GB). Every sandbox sizing, at most 32 × 2 MiB,
#: is far below; the 10^10 sizing, 10k × 1.25 MB, is far above.
BROADCAST_FILTERS_MAX_BYTES = 1 << 30


def _broadcast_fits(n_filters: int, m_bits: int) -> bool:
    return n_filters * (m_bits // 8) <= BROADCAST_FILTERS_MAX_BYTES


def filter_unseen_partitioned(
    candidates: DataFrame,
    seen_set: DataFrame,
    seen_exact: DataFrame,
    m_bits: int = DEFAULT_M_BITS,
    k: int = DEFAULT_K,
    n_filters: int = 0,
) -> DataFrame:
    """Per-bucket bloom prefilter + exact anti-join (the 10^10 shape).

    ``candidates`` must carry (url_hash, part_id) where part_id is the
    same salted bucket function the frontier uses — a seen URL's bloom
    bits live exactly in its own bucket's filter, so probing only that
    bucket is equivalent to probing the global union (with *better*
    fpp). The union of the filters is never formed: at 10^10 sizing it
    would be a ~12 GB collect per epoch.

    ``n_filters`` is the row count of ``seen_set`` (from the manifest:
    ``cat.row_count("seen_set")``, no job). While the filter set fits
    ``BROADCAST_FILTERS_MAX_BYTES``, each candidate joins its bucket's
    filter row by a broadcast hash join and
    :func:`bloom_might_contain_col` runs in the same codegen stage —
    the build-side array is referenced in place (a sort-merge join
    WOULD copy the 2 MB array into every joined row — hence the hint).
    Past it (10^10 sizing: 10k × 1.25 MB) the cogroup probe moves each
    filter row to its candidates' executor exactly once.

    Bloom semantics unchanged: no false negatives, so bloom-negative
    rows are definitely unseen; bloom-positive rows go to the exact
    anti-join authority — for filters built at ``m_bits`` only, so
    both arms fail on a filter row of another size.
    """
    if _broadcast_fits(n_filters, m_bits):
        blooms = seen_set.select(
            F.col("partition_id").alias("part_id"), _checked_bloom_col(m_bits)
        )
        flagged = candidates.join(F.broadcast(blooms), "part_id", "left")
        flagged = flagged.withColumn(
            "_maybe_seen",
            F.when(F.col("bloom").isNull(), F.lit(False)).otherwise(
                bloom_might_contain_col("url_hash", "bloom", m_bits, k)
            ),
        ).drop("bloom")
    else:
        out_schema = T.StructType(
            list(candidates.schema.fields)
            + [T.StructField("_maybe_seen", T.BooleanType(), False)]
        )

        def probe(key, cand: pd.DataFrame, blooms: pd.DataFrame) -> pd.DataFrame:
            bloom = _stored_filter(key[0], blooms["bloom"], m_bits)
            h = cand["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            return cand.assign(_maybe_seen=_contains(bloom, h, m_bits, k))

        flagged = (
            candidates.groupby("part_id")
            .cogroup(seen_set.groupby("partition_id"))
            .applyInPandas(probe, out_schema)
        )
    definitely_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    checked = (
        flagged.filter(F.col("_maybe_seen"))
        .drop("_maybe_seen")
        .join(seen_exact, "url_hash", "left_anti")
    )
    return definitely_new.unionByName(checked)

