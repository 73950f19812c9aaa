"""Per-host politeness: robots.txt rules + crawl-delay token buckets
(SURVEY.md §2 O-7, O-9, O-9n).

The reference throttles with in-memory per-host deques and counters
inside a single Twisted process — ``max_requests_per_host_per_second``,
``max_simultaneous_requests_per_host``
[hs: hiispider/requestqueuer.py::RequestQueuer †] — and has no robots
support. BASELINE.json:6 mandates both for us: "per-host politeness
(robots.txt rules + crawl-delay token buckets) enforced inside
groupBy(host) applyInPandas batches replacing hiispider's Twisted
deferred queue". The bucket grant exists in two forms:
:func:`apply_token_buckets_col`, the Column window form the epoch runs,
and :func:`apply_token_buckets`, the ``groupBy(host).applyInPandas``
form the tests compare it against row by row.

Semantics (deterministic, cross-epoch):
- robots: a URL is denied iff any rule with allow=false has a prefix
  matching the URL path (pure Column expression — JVM-side, no UDF).
- token bucket per host: ``tokens = min(cap, tokens_prev + elapsed /
  crawl_delay)``; the top ``floor(tokens)`` rows by (priority DESC,
  url_hash ASC) are granted this epoch, the rest are deferred;
  ``cap = EPOCH_SECONDS / crawl_delay`` (one epoch's worth).
  State persists in the ``politeness`` table (read-modify-write per
  epoch) — deliberately NOT ``applyInPandasWithState``, so politeness
  survives job restarts via storage (BASELINE.json:14 "resumable from
  checkpoint").

Skew note: ``groupBy(host)`` must shuffle by host (the semantics are
per-host), but group *sizes* are already bounded — the input is the
post-dequeue slice (≤ k per frontier bucket), so a hot host contributes
at most k × n_salts rows, not 30% of the corpus. The salted frontier
bucketing upstream is what makes this group-by safe at 10^10 scale.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hiispider_spark.functions.canon import path_col
from hiispider_spark.sources.synth import EPOCH_SECONDS

DEFAULT_CRAWL_DELAY = 1.0


def _rule_match(path_col_, prefix):
    """One REP rule against one path. RFC 9309 §2.2.3 wildcards:
    ``*`` matches any char sequence, a TRAILING ``$`` anchors the end
    (``$`` elsewhere is literal). Plain prefixes — the overwhelming
    majority in real robots files — keep the literal ``startswith``
    fast path; wildcard rules compile to an anchored regex (regex
    metachars in the rule escaped first), matched via ``regexp_like``
    with a non-foldable pattern. All pure Column."""
    has_wild = prefix.contains("*") | prefix.endswith("$")
    ends = prefix.endswith("$")
    core = F.when(
        ends, F.substr(prefix, F.lit(1), F.length(prefix) - 1)
    ).otherwise(prefix)
    escaped = F.regexp_replace(core, r"[.^$+?()\[\]{}|\\]", r"\\$0")
    pattern = F.concat(
        F.lit("^"),
        F.regexp_replace(escaped, r"\*", ".*"),
        F.when(ends, F.lit("$")).otherwise(F.lit("")),
    )
    return F.when(
        has_wild, F.regexp_like(path_col_, pattern)
    ).otherwise(path_col_.startswith(prefix))


def robots_deny_col(rules_col, path_col_):
    """True iff the path is denied under REP precedence (O-9n): among
    rules matching the path, the LONGEST pattern wins and Allow wins
    length ties (RFC 9309 / Google semantics); no matching rule →
    allowed. Rules may carry RFC 9309 wildcards (``*`` / trailing
    ``$``) — see :func:`_rule_match`. On disallow-only literal rule
    sets (the synth corpus, and any pre-Allow robots) this reduces to
    "any disallow matches" — the oracle twins stay valid.

    Pure Column expression → WholeStageCodegen, no Python.
    """
    matching = F.filter(
        rules_col, lambda r: _rule_match(path_col_, r["prefix"])
    )
    best = F.array_max(
        F.transform(
            matching,
            lambda r: F.struct(
                F.length(r["prefix"]).alias("l"),
                r["allow"].cast("int").alias("a"),
            ),
        )
    )
    return F.when(F.size(matching) > 0, best["a"] == 0).otherwise(F.lit(False))


@lru_cache(maxsize=1)
def _deny_expr() -> Column:
    """Memoized robots-deny tree (fixed column names ``rules``/``url``):
    the wildcard-REP expression costs ~0.3 s of py4j plan-build and is
    identical every epoch — see functions/canon.py module notes on
    cached Column reuse."""
    return F.when(
        F.col("rules").isNotNull(),
        robots_deny_col(F.col("rules"), path_col("url")),
    ).otherwise(F.lit(False))


def split_robots(slice_df: DataFrame, robots: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(allowed_with_crawl_delay, robots_denied).

    robots is one row per host. No broadcast hint: at web scale that
    table is O(all hosts) — the join shuffles by host, which the
    token-bucket groupBy(host) downstream re-uses, and AQE broadcasts
    automatically whenever robots is actually small (the sandbox case).
    Hosts without robots rows are allowed with the default crawl delay.
    """
    joined = slice_df.join(robots, "host", "left")
    joined = joined.withColumns(
        {
            "_deny": _deny_expr(),
            "crawl_delay": F.coalesce(
                F.col("crawl_delay"), F.lit(DEFAULT_CRAWL_DELAY)
            ),
        }
    )
    allowed = joined.filter(~F.col("_deny")).drop("_deny", "rules")
    denied = (
        joined.filter(F.col("_deny"))
        .drop("_deny", "rules", "crawl_delay")
        .withColumn("state", F.lit("robots_denied"))
    )
    return allowed, denied


def apply_token_buckets(
    allowed: DataFrame,
    politeness_state: DataFrame,
    epoch_ts: str,
    epoch_seconds: float = EPOCH_SECONDS,
    tie_break: str = "url_hash",
    host_max_parallel: int | None = None,
) -> DataFrame:
    """Token-bucket grant inside groupBy(host).applyInPandas.

    ``host_max_parallel``: additional per-host concurrency ceiling per
    epoch (the reference's ``max_simultaneous_requests_per_host``
    [hs: hiispider/requestqueuer.py †]) — grants are capped at
    ``min(floor(tokens), host_max_parallel)``; revoked demand defers,
    and since the next-state charge derives from final granted flags,
    capped fetches never consume rate budget.

    Input: slice columns + ``crawl_delay`` (from split_robots).
    Output: input frontier columns + ``granted`` boolean +
    ``tokens_avail`` / ``bucket_cap`` (per-host state echoed on every
    row so the caller can derive the next ``politeness`` snapshot
    without a second shuffle). ``tokens_avail`` is the PRE-grant token
    count: the next-state charge is computed from the final ``granted``
    flags, so downstream revocations (``apply_global_cap``) refund
    automatically instead of permanently charging hosts for fetches
    that never issued.
    """
    state = politeness_state.select(
        "host",
        F.col("tokens").alias("_tokens_prev"),
        F.col("last_refill").alias("_last_refill"),
    )
    # no broadcast hint: the state table is O(all hosts ever crawled) —
    # table-sized at 10^7 hosts, so forcing it to every executor is the
    # wrong 100 TB shape. A plain join hash-partitions both sides by
    # host, which the groupBy(host) below needs anyway (exchange
    # reuse); AQE still turns it into a broadcast when state is tiny.
    with_state = allowed.join(state, "host", "left")

    frontier_cols = [c for c in allowed.columns if c != "crawl_delay"]
    out_fields = [with_state.schema[c] for c in frontier_cols] + [
        T.StructField("crawl_delay", T.DoubleType(), False),
        T.StructField("granted", T.BooleanType(), False),
        T.StructField("tokens_avail", T.DoubleType(), False),
        T.StructField("bucket_cap", T.DoubleType(), False),
    ]
    out_schema = T.StructType(out_fields)
    epoch_pd = pd.Timestamp(epoch_ts)

    def per_host(pdf: pd.DataFrame) -> pd.DataFrame:
        delay = float(pdf["crawl_delay"].iloc[0])
        # burst capacity: one epoch's worth, but never below 1 token or
        # a slow host (crawl_delay > epoch) could starve forever
        cap = max(1.0, epoch_seconds / max(delay, 1e-9))
        tokens_prev = pdf["_tokens_prev"].iloc[0]
        last_refill = pdf["_last_refill"].iloc[0]
        if pd.isna(tokens_prev) or pd.isna(last_refill):
            tokens = cap  # first sighting: full bucket
        else:
            elapsed = (epoch_pd - last_refill).total_seconds()
            tokens = min(cap, float(tokens_prev) + elapsed / max(delay, 1e-9))
        budget = int(np.floor(tokens))
        if host_max_parallel is not None:
            budget = min(budget, int(host_max_parallel))
        # deterministic per-group order (SURVEY.md §4): priority DESC,
        # tie_break ASC — default url_hash, same as the dequeue window
        # (oracle-checked queries use tie_break="url": SQL-computable)
        pdf = pdf.sort_values(
            ["priority", tie_break], ascending=[False, True], kind="mergesort"
        )
        n = len(pdf)
        granted = np.zeros(n, dtype=bool)
        granted[: min(budget, n)] = True
        out = pdf[frontier_cols].copy()
        out["crawl_delay"] = delay
        out["granted"] = granted
        out["tokens_avail"] = tokens
        out["bucket_cap"] = cap
        return out

    return with_state.groupBy("host").applyInPandas(per_host, out_schema)


def apply_token_buckets_col(
    allowed: DataFrame,
    politeness_state: DataFrame,
    epoch_ts: str,
    epoch_seconds: float = EPOCH_SECONDS,
    tie_break: str = "url_hash",
    host_max_parallel: int | None = None,
) -> DataFrame:
    """Column-expression twin of :func:`apply_token_buckets` — same
    output schema, rows, and state echo, proved row-identical by
    test_politeness.

    The grant is a rank comparison: ``row_number() over (partition by
    host order by priority desc, tie asc) <= floor(tokens)`` — one
    shuffle on host, whole-stage codegen, no Python workers. This is
    the form the epoch and the politeness_budget driver query run; the
    ``applyInPandas`` form is the reference test_politeness compares
    it against.
    """
    from pyspark.sql import Window

    state = politeness_state.select(
        "host",
        F.col("tokens").alias("_tokens_prev"),
        F.col("last_refill").alias("_last_refill"),
    )
    ws = allowed.join(state, "host", "left")
    delay = F.greatest(F.col("crawl_delay"), F.lit(1e-9))
    cap = F.greatest(F.lit(1.0), F.lit(epoch_seconds) / delay)
    elapsed = (
        F.lit(epoch_ts).cast("timestamp").cast("double")
        - F.col("_last_refill").cast("double")
    )
    tokens = F.when(
        F.col("_tokens_prev").isNull() | F.col("_last_refill").isNull(), cap
    ).otherwise(F.least(cap, F.col("_tokens_prev") + elapsed / delay))
    w = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col(tie_break).asc()
    )
    frontier_cols = [c for c in allowed.columns if c != "crawl_delay"]
    budget = F.floor(F.col("tokens_avail"))
    if host_max_parallel is not None:
        budget = F.least(budget, F.lit(int(host_max_parallel)))
    return (
        ws.withColumn("tokens_avail", tokens)
        .withColumn("granted", F.row_number().over(w) <= budget)
        .select(
            *frontier_cols,
            F.col("crawl_delay"),
            F.col("granted"),
            F.col("tokens_avail"),
            cap.alias("bucket_cap"),
        )
    )


def waterfill(demands: dict[int, int], cap: int) -> dict[int, int]:
    """Exact waterfilling allocation of ``cap`` grants across buckets.

    Classic algorithm: repeatedly give every unsatisfied bucket an equal
    share of what remains; buckets that need less than their share keep
    only their demand and release the rest. Leftover after convergence
    (cap not divisible) goes one-at-a-time to the lowest part_id —
    fully deterministic. Runs on the driver over P integers.
    """
    alloc = {p: 0 for p in demands}
    remaining = cap
    active = {p for p, d in demands.items() if d > 0}
    while remaining > 0 and active:
        share = remaining // len(active)
        if share == 0:
            for p in sorted(active)[:remaining]:
                alloc[p] += 1
            break
        done = set()
        for p in active:
            take = min(share, demands[p] - alloc[p])
            alloc[p] += take
            remaining -= take
            if alloc[p] >= demands[p]:
                done.add(p)
        active -= done
    return alloc


def apply_global_cap(
    bucketed: DataFrame, max_inflight: int, tie_break: str = "url_hash"
) -> DataFrame:
    """Global in-flight cap — the reference's ``max_simultaneous_
    requests`` [hs: hiispider/requestqueuer.py::RequestQueuer †], which
    caps total concurrent fetches across ALL hosts on top of the
    per-host limits.

    A naive global top-k would global-sort the slice; instead the cap
    is waterfilled across buckets on the driver (P counts, one tiny
    collect) and enforced per bucket with a window — no global shuffle,
    deterministic at any parallelism. Rows over quota flip granted →
    False (deferred to the next epoch like politeness overflow).
    """
    demands = {
        r.part_id: r.n
        for r in bucketed.filter(F.col("granted"))
        .groupBy("part_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if sum(demands.values()) <= max_inflight:
        return bucketed
    alloc = waterfill(demands, max_inflight)
    quota = F.create_map(
        *[F.lit(x) for kv in alloc.items() for x in kv]
    )[F.col("part_id")]
    from pyspark.sql import Window

    # granted rows sort first, so a granted row's row_number is its rank
    # among the bucket's GRANTED rows — quota applies to exactly those
    w = Window.partitionBy("part_id").orderBy(
        F.col("granted").desc(), F.col("priority").desc(), F.col(tie_break).asc()
    )
    rn = F.row_number().over(w)
    return bucketed.withColumn(
        "granted",
        F.col("granted") & (rn <= F.coalesce(quota, F.lit(0))),
    )


def pol_part_col(host, n_partitions: int):
    """Host-hash bucket for partition-level politeness commits (no
    salt: state is strictly per-host, one row per host)."""
    return F.pmod(F.xxhash64(host), F.lit(n_partitions)).cast("int")


def next_politeness_state(
    bucketed: DataFrame, epoch_ts: str, n_partitions: int = 32
) -> DataFrame:
    """Next ``politeness`` snapshot from the echoed per-row state —
    only the hosts this epoch touched (the caller carries the rest of
    their buckets over and commits partition-level).

    ``tokens = tokens_avail - n_actually_granted``: charging from the
    FINAL granted flags (not the token-bucket's own grant count) means
    grants revoked by ``apply_global_cap`` cost nothing — the
    reference's global ``max_simultaneous_requests`` queues requests
    without consuming per-host rate budget."""
    return (
        bucketed.groupBy("host")
        .agg(
            F.first("crawl_delay").alias("crawl_delay"),
            (
                F.first("tokens_avail")
                - F.sum(F.col("granted").cast("double"))
            ).alias("tokens"),
        )
        .withColumn("last_refill", F.lit(epoch_ts).cast("timestamp"))
        .withColumn("part_id", pol_part_col(F.col("host"), n_partitions))
        .select("host", "crawl_delay", "tokens", "last_refill", "part_id")
    )
