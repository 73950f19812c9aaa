"""Link-graph analytics: host-level PageRank for crawl prioritization.

hiispider's job priorities are static per job row [hs: MySQL job table
†]; a web-scale crawler re-ranks its frontier from the evolving link
graph so well-linked hosts are fetched first. Spark-first shape:

- edges: one pass over the page store — extract hrefs (JVM regex, no
  Python), project to (src_host, dst_host), distinct. At 100 TB this
  is the only corpus-sized scan; everything after is O(hosts).
- PageRank: the canonical distributed iteration — join edges with the
  current rank vector on src (shuffle keyed by host, O(edges)), sum
  contributions per dst (map-side combinable), rebuild the vector.
  ``n_iter`` fixed and small: frontier re-ranking needs a stable
  ordering signal, not convergence to machine epsilon.

Determinism / oracle parity: every iteration rounds to 10 dp (kills
float-summation-order noise), the result to 6 dp; all constants are
written so Spark and the DuckDB twin compute bit-identical doubles
(e.g. ``1.0 - damping``, never a 0.15 literal on one side only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hiispider_spark import frames

HREF_RE = r'href="([^"]*)"'
HOST_RE = r"://([^/]*)"


def _host_of(url: Column) -> Column:
    # same regexp on both engines (parse_url has no DuckDB twin)
    return F.regexp_extract(url, HOST_RE, 1)


def host_edges(pages: DataFrame) -> DataFrame:
    """Distinct (src, dst) host pairs from the page store's hrefs.

    Relative / schemeless hrefs miss the host regexp (empty string);
    keeping them would funnel rank mass into a ``''`` pseudo-host that
    ``rerank_frontier`` can never match — filter both endpoints (the
    DuckDB oracle twin mirrors the same predicate)."""
    html_s = F.col("html").cast("string")
    return (
        pages.select(
            _host_of(F.col("url")).alias("src"),
            F.explode(
                F.regexp_extract_all(html_s, F.lit(HREF_RE), F.lit(1))
            ).alias("href"),
        )
        .select("src", _host_of(F.col("href")).alias("dst"))
        .filter((F.col("src") != "") & (F.col("dst") != ""))
        .distinct()
    )


def host_pagerank(
    edges: DataFrame, n_iter: int = 3, damping: float = 0.85
) -> DataFrame:
    """(host, rank) after ``n_iter`` PageRank steps over the distinct
    edge set. Dangling hosts keep the teleport term only (their mass is
    not redistributed — both engines drop it identically)."""
    spark = edges.sparkSession
    # Materialize the distinct edge set ONCE, with the plan TRUNCATED
    # (eager localCheckpoint → LogicalRDD), before any loop structure
    # references it. This is the load-bearing line: the recurrence
    # below references `edges` in every iteration's broadcast subtree
    # plus deg plus nodes, and each of those subtrees re-plans (and,
    # where exchange reuse misses across re-aliased attribute ids,
    # RE-RUNS) the whole upstream corpus scan + href-regexp pipeline.
    # Measured on the host_stats suite: lineage-keeping forms (pure
    # lazy, .persist()+lazy tower, .persist()+per-step checkpoints)
    # realized 11–42 s cold in driver-ordered sessions (probe: the
    # 3-iteration tower alone 31.7 s cold vs 1.9 s warm — five cold
    # corpus re-derivations), while the checkpointed edge set bounds
    # the corpus work at exactly ONE scan by construction. O(host-
    # pairs) narrow rows — orders below corpus size, safe to pin at
    # any scale.
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        from hiispider_spark.schemas import empty_frame
        return empty_frame(spark, "host string, rank double")
    # Deep loops (n_iter > 5) additionally checkpoint each step so the
    # nested-broadcast tower contrib_i ← contrib_{i-1} ← … never grows
    # an ever-deeper replan; shallow loops (the frontier re-ranking
    # shape, n_iter ≤ 5) stay lazy over the checkpointed edges and
    # materialize in one job at the end. Values are identical either
    # way: each step rounds to 10 dp, so checkpointing never changes a
    # value. A superseded step's checkpoint is released once the next
    # one is filled, and deg's once the last step is: the result reads
    # only the edge set and the final contributions.
    truncate = n_iter > 5
    deg = edges.groupBy("src").agg(
        F.count("*").cast("double").alias("d")
    )
    if truncate:
        deg = deg.localCheckpoint(eager=True)
    base = (1.0 - damping) / n
    # The loop state is the CONTRIBUTION vector (host, c), not the rank
    # vector: rank_i(h) = round(base + damping·c_i(h), 10) with c = 0
    # for hosts nothing links to, so the rank can be re-derived inline
    # wherever needed (on edge sources below, on all nodes at the end).
    # This drops the per-iteration nodes-join — each iteration is ONE
    # aggregate over the edge set plus two tiny broadcast builds.
    # Values are identical to the rank-vector form: same joins on the
    # same keys, same doubles in the same order.
    contrib = None
    rank_of_c = F.round(
        F.lit(base) + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0)), 10
    )
    for _ in range(n_iter):
        if contrib is None:
            ranked = edges.withColumn("rank", F.lit(1.0 / n))
        else:
            ranked = edges.join(
                F.broadcast(contrib), edges["src"] == contrib["host"], "left"
            ).withColumn("rank", rank_of_c)
        nxt = (
            ranked.join(F.broadcast(deg), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("d")).alias("c"))
            .select(F.col("dst").alias("host"), "c")
        )
        if truncate:
            nxt = nxt.localCheckpoint(eager=True)
            frames.release(contrib)  # None on the first step
        contrib = nxt
    if truncate:
        frames.release(deg)
    out = nodes.join(F.broadcast(contrib), "host", "left").select(
        "host", F.round(rank_of_c, 6).alias("rank")
    )
    return out


def rerank_frontier(
    frontier: DataFrame, ranks: DataFrame, weight: float = 10.0
) -> DataFrame:
    """Blend link-graph authority into frontier priorities:
    ``priority += weight · rank(host)``. Hosts without a rank keep
    their static priority. Ranks are O(hosts) — AQE broadcasts when
    small; at web scale the join shuffles O(frontier) once, keyed by
    the column the politeness stage shuffles on anyway."""
    r = ranks.select("host", F.col("rank").alias("_pr"))
    return (
        frontier.join(r, "host", "left")
        .withColumn(
            "priority",
            F.round(
                F.col("priority")
                + F.lit(weight) * F.coalesce(F.col("_pr"), F.lit(0.0)),
                6,
            ),
        )
        .select(*frontier.columns)  # join moved the key column first
    )
