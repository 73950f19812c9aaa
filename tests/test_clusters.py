"""Duplicate-cluster assignment + survivor selection (clusters.py)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from hiispider_spark.operators import clusters as cl


def _union_find(n, pairs):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then map every component to its min member
    comp = {}
    for x in range(n):
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for r, members in comp.items() for x in members}


def test_chains_converge_to_component_min(spark):
    # 100 ids in 10 chains of length 10 (edges step by 10): diameter 9
    ids = spark.range(100).toDF("doc_id")
    pairs = (
        spark.range(90)
        .toDF("doc_a")
        .select("doc_a", (F.col("doc_a") + 10).alias("doc_b"))
    )
    got = {
        r["doc_id"]: r["cluster"]
        for r in cl.dedup_clusters(ids, pairs).collect()
    }
    assert got == {i: i % 10 for i in range(100)}


N_ARBITRARY = 200
# deterministic pseudo-random edge set incl. merges of chains
ARBITRARY = [
    ((i * 17) % N_ARBITRARY, (i * 31 + 7) % N_ARBITRARY)
    for i in range(0, N_ARBITRARY, 3)
]
ARBITRARY = [(a, b) for a, b in ARBITRARY if a != b]


def _assert_matches_union_find(spark, pairs, n=N_ARBITRARY):
    ids = spark.range(n).toDF("doc_id")
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster"]
        for r in cl.dedup_clusters(ids, df).collect()
    }
    assert got == _union_find(n, pairs)


def test_matches_union_find_on_arbitrary_graph(spark):
    _assert_matches_union_find(spark, ARBITRARY)


def test_messy_pairs_match_union_find(spark):
    """Propagation runs over the raw pairs, with no dedup of edges:
    repeated edges, both orientations of one edge and self-loops must
    give the components of the clean edge set."""
    messy = (
        ARBITRARY
        + [(b, a) for a, b in ARBITRARY[::2]]
        + ARBITRARY[::5]
        + [(i, i) for i in range(0, N_ARBITRARY, 11)]
    )
    _assert_matches_union_find(spark, messy)


def test_random_graph_matches_union_find(spark):
    # 400 nodes, 300 random edges: a sparse graph whose largest
    # component needs 28 rounds, more than any fixed cap of 20
    rng = random.Random(3)
    pairs = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    _assert_matches_union_find(spark, pairs, n=400)


def test_long_path_matches_union_find(spark):
    # a 30-node path: diameter 29, so label 0 needs 29 rounds to reach
    # node 29 — the loop must run to convergence, not to a round count
    _assert_matches_union_find(spark, [(i, i + 1) for i in range(29)], n=30)


def test_singletons_and_empty_pairs(spark):
    ids = spark.range(5).toDF("doc_id")
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    got = {r["doc_id"]: r["cluster"] for r in cl.dedup_clusters(ids, empty).collect()}
    assert got == {i: i for i in range(5)}


def test_survivors_by_quality_and_representative(spark):
    docs = spark.createDataFrame(
        [(0, 0.2), (1, 0.9), (2, 0.5), (3, 0.7)], ["doc_id", "q"]
    )
    clusters = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (3, 2)], ["doc_id", "cluster"]
    )
    by_q = {
        r["doc_id"]: r["keep"]
        for r in cl.dedup_survivors(docs, clusters, quality_col="q").collect()
    }
    assert by_q == {0: False, 1: True, 2: False, 3: True}
    rep = {
        r["doc_id"]: r["keep"]
        for r in cl.dedup_survivors(docs, clusters).collect()
    }
    assert rep == {0: True, 1: False, 2: True, 3: False}
