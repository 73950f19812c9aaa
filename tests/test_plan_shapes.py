"""Physical-plan regression guards — the properties that matter at
100 TB must hold in the optimized plan, not just in intent:

- parquet scans prune columns and push filters,
- dequeue is a per-bucket window with group-limit pushdown, never a
  global top-k sort,
- the fetch join broadcasts the k-bounded slice (page store streams),
- the extraction Column twin contains no Python eval node.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from hiispider_spark.operators.extract import text_extract_col
from hiispider_spark.operators.fetch import fetch_join
from hiispider_spark.operators.frontier import build_frontier, dequeue_topk

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_scan_prunes_and_pushes(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") < "1996-01-01").select(
        "l_orderkey", "l_extendedprice"
    )
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    assert "l_quantity" not in p  # unused column pruned from ReadSchema


def test_dequeue_uses_window_group_limit_not_global_sort(spark, tiny_seeds):
    fr = build_frontier(tiny_seeds, n_partitions=8)
    p = plan_of(dequeue_topk(fr, "2024-01-01 00:01:00", 5))
    assert "WindowGroupLimit" in p  # rank<=k pushed into the window sort
    assert "TakeOrderedAndProject" not in p
    assert "Window" in p


def test_fetch_join_broadcasts_slice(spark, tiny_seeds, tiny_pages):
    fr = build_frontier(tiny_seeds, n_partitions=8)
    fetched, _ = fetch_join(fr, tiny_pages)
    p = plan_of(fetched)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p  # would shuffle the page store


def test_extraction_column_twin_is_jvm_only(spark, tiny_pages):
    p = plan_of(tiny_pages.select(text_extract_col(F.col("html")).alias("t")))
    assert "ArrowEvalPython" not in p
    assert "BatchEvalPython" not in p


def test_delta_resolution_is_broadcast_anti_with_pushdown(spark, tiny_seeds):
    """Merge-on-read frontier resolution must keep the 100 TB shape:
    base invalidation is a BROADCAST anti-join on the small delta key
    set (never a sort-merge shuffle of the base), and dequeue filters
    still push into the base parquet scan through the join + union."""
    import shutil
    import tempfile

    from hiispider_spark.sources.catalog import IcebergLike

    root = tempfile.mkdtemp(prefix="plan_mor_")
    try:
        cat = IcebergLike(spark, root)
        fr = build_frontier(tiny_seeds, n_partitions=8)
        cat.stage_overwrite_parts("frontier", fr, "part_id", list(range(8)))
        cat.commit(epoch=0)
        cat.stage_append_delta("frontier", cat.read("frontier").limit(3))
        cat.commit(epoch=1)
        q = cat.read("frontier").filter(F.col("state") == "pending")
        p = plan_of(q)
        assert "BroadcastHashJoin" in p and "LeftAnti" in p
        assert "SortMergeJoin" not in p
        # the state filter reaches the base parquet scan
        assert "PushedFilters: [IsNotNull(state), EqualTo(state,pending)" in p
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_centroid_assignment_is_join_free(spark):
    """IVF assignment embeds the (tiny) centroid table as literals —
    one corpus scan, no join, no exchange, no Python."""
    from hiispider_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = emb.select(F.size("embedding")).first()[0]
    cents = [(0, [0.1] * dim), (1, [-0.1] * dim)]
    df = emb.limit(10).select(
        "vec_id",
        sim.nearest_centroid_col(
            F.transform("embedding", lambda x: x.cast("double")), cents
        ).alias("cid"),
    )
    p = plan_of(df)
    for node in ("Join", "Exchange", "ArrowEvalPython", "BatchEvalPython"):
        assert node not in p


def test_recrawl_agg_is_map_side_combinable(spark):
    """The fetch-log aggregation must plan as partial→final hash
    aggregates (map-side combine before the single key exchange) with
    no window function — the O(log) shape the 100 TB path needs."""
    from datetime import datetime

    from hiispider_spark.operators import recrawl as rc

    hist = spark.createDataFrame(
        [("u", datetime(2024, 1, 1), False)],
        "url string, fetch_ts timestamp, changed boolean",
    )
    p = plan_of(rc.recrawl_schedule(hist))
    assert "partial_count" in p or "partial_min" in p  # map-side combine
    assert "Window" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_survivor_selection_uses_window_group_limit(spark):
    """Filtering dedup_survivors on keep must push a partial top-1
    below the cluster shuffle (WindowGroupLimit — Catalyst collapses
    the keep-flag projection into a rank=1 filter) so a giant
    boilerplate cluster never concentrates its full row set on one
    task. The unfiltered flag form necessarily keeps every row."""
    from hiispider_spark.operators import clusters as cl

    docs = spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id % 7 AS DOUBLE) AS q"
    )
    clusters = spark.range(100).selectExpr("id AS doc_id", "id % 10 AS cluster")
    kept = cl.dedup_survivors(docs, clusters, quality_col="q").filter("keep")
    p = plan_of(kept)
    assert "WindowGroupLimit" in p


def test_anchor_summary_uses_window_group_limit(spark):
    """Top-k anchors per target must plan as WindowGroupLimit so a
    universally-linked target ('home') never materializes more than k
    anchor rows per map task."""
    from hiispider_spark.operators import links as lk

    anchors = spark.range(100).selectExpr(
        "concat('http://t.org/', id % 5) AS dst_url",
        "concat('label ', id % 3) AS anchor",
        "concat('http://s.org/', id) AS src_url",
    )
    p = plan_of(lk.anchor_summary(anchors, top_k=2))
    assert "WindowGroupLimit" in p


def test_autogen_delta_membership_is_hashed_anti_join(spark):
    """The Autogenerator delta's membership test must shuffle 8-byte
    xxhash64 keys, never payload strings, and the item-locating UDF
    must be Arrow-batched (ArrowEvalPython), not row-at-a-time
    (BatchEvalPython)."""
    from hiispider_spark.operators.delta import autogen_delta

    cur = spark.createDataFrame(
        [(1, '{"a": [1, 2, 3]}')], "url_hash long, payload string"
    )
    prev = spark.createDataFrame(
        [(1, '{"a": [1, 2]}')], "url_hash long, payload string"
    )
    p = plan_of(autogen_delta(cur, prev))
    assert "xxhash64" in p
    assert "LeftAnti" in p
    assert "ArrowEvalPython" in p
    assert "BatchEvalPython" not in p


def test_cdxj_scan_is_python_free_with_pruning(spark, tmp_path):
    """The CDXJ parse is pure JVM (no Python eval nodes) and a
    downstream projection prunes unparsed JSON fields at from_json
    (Catalyst's OptimizeJsonExprs/column pruning)."""
    from hiispider_spark.sources import cdx

    path = str(tmp_path / "idx.cdxj")
    with open(path, "w") as f:
        f.write(
            'org,h)/p 20240101000000 {"url": "http://h.example.org/p",'
            ' "status": "200", "mime": "text/html", "filename": "a.warc.gz"}\n'
        )
    caps = cdx.read_cdxj(spark.read.text(path)).select("url", "http_status")
    p = plan_of(caps)
    assert "EvalPython" not in p  # no Python anywhere in the parse
    rows = caps.collect()
    assert rows == [("http://h.example.org/p", 200)]


def test_dequeue_scan_pushes_timestamp_predicate(spark, tiny_seeds, tmp_path):
    """The dequeue predicate must reach the frontier's parquet scan
    THROUGH the catalog read (incl. the delta-resolve union/anti-join):
    with the time-sorted layout + TIMESTAMP_MICROS stats (catalog.
    SORT_COLS), a pushed next_fetch_ts filter is what turns a
    10^10-row frontier scan into a due-slice scan."""
    from hiispider_spark.plans.epoch import EpochConfig, bootstrap
    from hiispider_spark.sources.catalog import IcebergLike

    cfg = EpochConfig(k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17)
    cat = IcebergLike(spark, str(tmp_path / "cat"))
    bootstrap(spark, cat, tiny_seeds, cfg)
    p = plan_of(
        dequeue_topk(cat.read("frontier"), "2024-01-01 00:01:00", 5)
    )
    assert "PushedFilters" in p
    assert "LessThanOrEqual(next_fetch_ts" in p


def test_memoized_builders_match_fresh_trees(spark):
    """The column-NAME-keyed plan caches (canon/frontier/seen/
    politeness) must return trees semantically identical to a fresh
    build — pinned by comparing analyzed plans on the same frame."""
    from hiispider_spark.functions.canon import (
        canonical_url_col, host_col, path_col,
    )
    from hiispider_spark.operators.frontier import part_id_col, salt_col
    from hiispider_spark.operators.seen import bloom_might_contain_col

    df = spark.createDataFrame(
        [("https://EX.com:443/a?b=1&a=2#f", "h", 1, 7, [0] * 4)],
        "url string, host string, salt int, url_hash long, bloom array<bigint>",
    )

    import re

    def analyzed(c):
        s = df.select(c.alias("x"))._jdf.queryExecution().analyzed().toString()
        # expression/lambda-variable ids are allocation-order artifacts
        # (x_40#744 vs x_12#103) — strip them; the tree shape and every
        # literal/function stay compared
        return re.sub(r"#\d+", "", re.sub(r"lambda ([xy])_\d+", r"lambda \1", s))

    for cached, fresh in [
        (canonical_url_col("url"), canonical_url_col(F.col("url"))),
        (host_col("url"), host_col(F.col("url"))),
        (path_col("url"), path_col(F.col("url"))),
        (salt_col("url", 8), salt_col(F.col("url"), 8)),
        (
            part_id_col("host", "salt", 32),
            part_id_col(F.col("host"), F.col("salt"), 32),
        ),
        (
            bloom_might_contain_col("url_hash", "bloom", 1 << 17, 7),
            bloom_might_contain_col(
                F.col("url_hash"), F.col("bloom"), 1 << 17, 7
            ),
        ),
    ]:
        assert analyzed(cached) == analyzed(fresh)
    # cache actually hits: same object back on a second call
    assert canonical_url_col("url") is canonical_url_col("url")


def test_memoized_builders_survive_session_restart():
    """Cached Column trees hold py4j refs into the JVM gateway, which
    lives for the PYTHON PROCESS, not the SparkSession — a cached tree
    built under one session must stay usable after stop()+new session
    (bench.py and the scaling runs cycle sessions in-process).

    Runs in a SUBPROCESS: the check must stop and restart a session,
    and stopping the suite's shared conftest session would break every
    test after this one."""
    import subprocess
    import sys

    script = """
import sys
sys.path.insert(0, ".")
from hiispider_spark.functions.canon import canonical_url_col
from hiispider_spark.session import get_spark

s1 = get_spark(cpus=2, shuffle_partitions=2)
col = canonical_url_col("url")  # built and cached under s1's session
s1.stop()
s2 = get_spark(cpus=2, shuffle_partitions=2)
got = (
    s2.createDataFrame([("HTTP://A.com:80/x?b=1&a=2",)], "url string")
    .select(col.alias("u"))
    .collect()[0]["u"]
)
assert got == "http://a.com/x?a=2&b=1", got
s2.stop()
print("RESTART-OK")
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "RESTART-OK" in out.stdout


def _nodes(plan) -> list:
    """Every node of a JVM plan tree, depth first."""
    out = [plan]
    ch = plan.children()
    for i in range(ch.size()):
        out += _nodes(ch.apply(i))
    return out


def test_shingle_generators_split_no_text(spark):
    """Every shingle explode reads a projected token column: a
    ``split(`` inside the Generate's lambda re-tokenizes the whole text
    once per shingle, O(T²) per document. No filter rebuilds the
    shingles from the text either (Catalyst infers one from an explode
    of a column and pushes it below the projections)."""
    from hiispider_spark.operators import contamination, dedup, quality

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "a b c d x y z")],
        "doc_id long, text string",
    )
    ev = docs.withColumnRenamed("doc_id", "eval_id")
    for df in [
        quality.gopher_signals(docs, "doc_id", "text"),
        quality.span_dup_frac(docs, "doc_id", "text"),
        contamination.ngram_contamination(docs, ev, n=4),
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text"),
    ]:
        gens = [
            n for n in _nodes(df._jdf.queryExecution().optimizedPlan())
            if n.nodeName() == "Generate"
        ]
        assert gens
        for g in gens:
            assert "split(" not in g.generator().toString()
        for f in _nodes(df._jdf.queryExecution().optimizedPlan()):
            if f.nodeName() == "Filter":
                assert "split(" not in f.condition().toString()


def test_document_profile_splits_each_text_at_most_twice(spark):
    """The token arrays (as is and lowered) are projected once and every
    statistic reads them; building each from the text would split it
    once per statistic."""
    from hiispider_spark.operators import textstats

    docs = spark.createDataFrame(
        [(0, "The quick brown fox.")], "doc_id long, text string"
    )
    df = textstats.document_profile(docs, "doc_id", "text")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") <= 2, plan.count("split(")


def test_contamination_shingles_each_input_once(spark):
    """One shingle Generate per input: the eval side's shingle count
    rides on its exploded rows, not on a second explode."""
    from hiispider_spark.operators import contamination

    docs = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "doc_id long, text string"
    )
    ev = spark.createDataFrame([(9, "c d e f g")], "eval_id long, text string")
    df = contamination.ngram_contamination(docs, ev, n=4)
    gens = [
        n for n in _nodes(df._jdf.queryExecution().optimizedPlan())
        if n.nodeName() == "Generate"
    ]
    assert len(gens) == 2, len(gens)


def test_decontaminate_corpus_side_never_shuffles(spark):
    """Between each corpus scan and the first broadcast join above it
    there is no Exchange: a document's distinct shingles are taken
    inside its row, and the eval side is broadcast."""
    from hiispider_spark.operators import contamination

    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(9, "quick brown fox jumps over")], "eval_id long, text string"
    )
    plan = contamination.decontaminate(docs, ev, n=4)._jdf.queryExecution()
    plan = plan.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the current plan, with its Exchanges

    def corpus_paths(node, above):
        ch = node.children()
        if ch.size() == 0:
            if "doc_id" in node.output().toString():
                yield [node, *above]
            return
        for i in range(ch.size()):
            yield from corpus_paths(ch.apply(i), [node, *above])

    paths = list(corpus_paths(plan, []))
    assert paths
    for path in paths:
        names = [n.nodeName() for n in path]
        assert "BroadcastHashJoin" in names, names
        below = names[: names.index("BroadcastHashJoin")]
        assert "Exchange" not in below, names
