"""Redirect-chain resolution (operators/redirects.py)."""

from pyspark.sql import functions as F

from hiispider_spark.operators import redirects as rd


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src_url string, dst_url string")


def test_chain_resolves_with_exact_hops(spark):
    ed = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    got = {r.src_url: r for r in rd.resolve_redirects(ed).collect()}
    assert {k: (v.final_url, v.n_hops, v.is_cycle) for k, v in got.items()} == {
        "a": ("d", 3, False),
        "b": ("d", 2, False),
        "c": ("d", 1, False),
    }


def test_cycle_flagged_null_terminal(spark):
    ed = _edges(spark, [("x", "y"), ("y", "z"), ("z", "x"), ("a", "x")])
    got = {r.src_url: r for r in rd.resolve_redirects(ed).collect()}
    assert all(got[s].is_cycle for s in "xyza")
    assert all(got[s].final_url is None and got[s].n_hops is None for s in "xyza")


def test_long_chain_within_doubling_budget(spark):
    # 100-hop chain: pointer doubling covers it in ceil(log2(128)) = 7
    # self-joins, not 100 one-hop rounds
    ed = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(100)])
    got = {r.src_url: r for r in rd.resolve_redirects(ed, max_hops=128).collect()}
    assert got["n0"].final_url == "n100" and got["n0"].n_hops == 100
    assert got["n99"].n_hops == 1 and not got["n0"].is_cycle


def test_overlong_chain_flagged(spark):
    ed = _edges(spark, [(f"n{i}", f"n{i+1}") for i in range(40)])
    got = {r.src_url: r for r in rd.resolve_redirects(ed, max_hops=4).collect()}
    # effective cap is the doubling budget 2^ceil(log2(4)) = 4 hops
    assert got["n0"].is_cycle and got["n0"].final_url is None
    assert got["n38"].final_url == "n40" and got["n38"].n_hops == 2


def test_conflicting_targets_deterministic(spark):
    ed = _edges(spark, [("a", "c"), ("a", "b")])
    (row,) = rd.resolve_redirects(ed).collect()
    assert row.final_url == "b"  # lexicographic min target kept


def test_apply_aliases_rewrites_and_drops_cycles(spark):
    ed = _edges(spark, [("a", "b"), ("x", "y"), ("y", "x")])
    resolved = rd.resolve_redirects(ed)
    urls = spark.createDataFrame(
        [("a",), ("b",), ("x",), ("q",)], "url string"
    )
    got = sorted(r.url for r in rd.apply_aliases(urls, resolved).collect())
    # a→b (alias rewritten), b passes through, x dropped (cycle), q untouched
    assert got == ["b", "b", "q"]


def test_empty_edges(spark):
    ed = _edges(spark, []).filter(F.lit(False))
    assert rd.resolve_redirects(ed).count() == 0
