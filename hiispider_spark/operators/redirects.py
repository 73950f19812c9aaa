"""Redirect-chain resolution and URL aliasing.

A crawler that ignores HTTP 3xx loses pages (the redirect target is
the real document) and re-fetches aliases forever (every alias of an
already-seen page looks new to the seen-set). The reference's fetch
path follows redirects inside its HTTP client [hs:
hiispider/pagegetter.py †]; in a Spark-batch crawl the fetch is a join
against the page store, so redirects surface as DATA — 3xx rows with a
``Location`` header — and chain
resolution becomes a graph problem over an alias edge table.

Semantics
---------
The redirect graph is FUNCTIONAL: each URL has at most one outgoing
edge (one Location per response), so every URL's walk is deterministic
and ends either at a terminal URL (no outgoing edge — the real page)
or in a cycle. :func:`resolve_redirects` maps every source to its
terminal with the exact hop count, or flags the cycle.

Scale shape
-----------
Chains in the wild are short (2-5) but adversarial chains / loops are
common crawl hazards, so the resolver must not be O(chain-length)
rounds. This uses POINTER DOUBLING: state row (src, cur, hops) where
``cur`` is the node reached after following up to 2^r hops; each round
self-joins the state with itself as a jump map (``f_{r+1}(x) =
f_r(f_r(x))``), so ``max_hops`` is covered in ceil(log2(max_hops))
rounds. Per round: one shuffle hash join on the current node,
state rows stay (string, string, int); ``localCheckpoint`` truncates
iterative lineage (r2 lesson), and each superseded round's checkpoint
is released once the next one is filled. At 10^10 the join key becomes
url_hash with strings resolved once at the end; the sandbox keeps raw
URLs because alias tables are tiny relative to the frontier
(10^6-10^8 redirect rows per crawl snapshot).

Cycles need no detection machinery: a row still matching the jump map
after the doubling budget (hops would exceed ``max_hops``) is in a
cycle or an over-long chain — flagged ``is_cycle`` with NULL terminal,
which downstream treats as a dead URL (negcache territory).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hiispider_spark import frames


def resolve_redirects(
    edges: DataFrame,
    max_hops: int = 32,
    src_col: str = "src_url",
    dst_col: str = "dst_url",
) -> DataFrame:
    """(src_url, final_url, n_hops, is_cycle) for every redirect source.

    ``edges``: one row per redirect (source URL, Location target);
    duplicate rows are tolerated, but a source with CONFLICTING targets
    is invalid input (functional-graph precondition) — the resolver
    keeps the lexicographically smallest target for determinism.

    ``final_url``/``n_hops`` are NULL and ``is_cycle`` true when the
    walk does not reach a terminal within ``max_hops`` (loop or
    excessive chain).
    """
    # enforce the functional-graph precondition deterministically
    jump = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src")
        .agg(F.min("dst").alias("cur"), F.lit(1).alias("hops"))
        .localCheckpoint()
    )
    state = jump.select(F.col("src").alias("s"), "cur", "hops")
    # the checkpoint behind ``jump``: released when the next round's
    # state becomes the jump map (the result reads only the last state
    # and the last jump map)
    jump_ckpt = jump
    rounds = max(1, math.ceil(math.log2(max(2, max_hops))))
    for _ in range(rounds):
        m = jump.select(
            F.col("src").alias("m_src"),
            F.col("cur").alias("m_cur"),
            F.col("hops").alias("m_hops"),
        )
        stepped = state.join(m, state["cur"] == m["m_src"], "left").select(
            F.col("s"),
            F.coalesce("m_cur", "cur").alias("cur"),
            (F.col("hops") + F.coalesce("m_hops", F.lit(0))).alias("hops"),
            F.col("m_src").isNotNull().alias("moved"),
        )
        state = stepped.localCheckpoint()
        if not state.filter("moved").take(1):
            break
        # the doubled state is also the next round's jump map
        frames.release(jump_ckpt)
        jump_ckpt = state
        jump = state.select(F.col("s").alias("src"), "cur", "hops")
    # rows whose cur still has an outgoing edge never terminated
    open_src = jump.select(F.col("src").alias("open_s")).distinct()
    return (
        state.join(open_src, state["cur"] == open_src["open_s"], "left")
        .select(
            F.col("s").alias("src_url"),
            F.when(F.col("open_s").isNull(), F.col("cur")).alias("final_url"),
            F.when(F.col("open_s").isNull(), F.col("hops"))
            .cast("int")
            .alias("n_hops"),
            F.col("open_s").isNotNull().alias("is_cycle"),
        )
    )


def apply_aliases(
    df: DataFrame, resolved: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Rewrite ``url_col`` through the alias map: redirect sources map
    to their terminal, cycle members are DROPPED (a URL that never
    resolves to content is uncrawlable), everything else passes
    through. Run BEFORE canonicalization/seen-probe so aliases of an
    already-crawled page are recognized as seen.

    Join shape: the alias map is the small side (bounded by redirect
    count, not corpus size) — broadcast it; the frontier/discovered
    side streams through map-side.
    """
    amap = F.broadcast(
        resolved.select(
            F.col("src_url").alias("__alias_src"),
            "final_url",
            "is_cycle",
        )
    )
    return (
        df.join(amap, df[url_col] == amap["__alias_src"], "left")
        .filter(~F.coalesce("is_cycle", F.lit(False)))
        .withColumn(url_col, F.coalesce("final_url", F.col(url_col)))
        .drop("__alias_src", "final_url", "is_cycle")
    )
