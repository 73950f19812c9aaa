"""The crawl epoch — a Structured-Streaming-style micro-batch
(SURVEY.md §2 O-2, O-25; §3.1).

One epoch replaces one scheduler tick + AMQP round-trip + worker fan-out
of the reference [hs: hiispider/servers/scheduler.py †, hs:
hiispider/amqp.py †]:

    frontier ── dequeue top-k per bucket ── robots ── token buckets ──
    fetch(join pages) ── sha1 change filter ── extract plugins ──
    delta/out-links ── frontier merge ── atomic snapshot commit

All state (frontier, politeness, seen, lineage, extracted) lives in
IcebergLike tables; the manifest swap at the end is the only commit
point, so a run killed mid-epoch resumes from the previous epoch with
byte-identical results (BASELINE.json:6 "runs resume exactly" —
verified by tests/test_resume.py).

Determinism: ``epoch_ts`` is a pure function of the epoch counter (no
wall clock); every ordering has an explicit total tie-break; nothing
depends on partition count or executor count.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from datetime import datetime, timedelta

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hiispider_spark import frames
from hiispider_spark.functions.canon import canonical_url_col, host_col
from hiispider_spark.operators import politeness as pol
from hiispider_spark.operators import seen as seen_ops
from hiispider_spark.operators.delta import explode_items
from hiispider_spark.operators.fetch import (
    fetch_join,
    split_modified,
    with_content_sha1,
)
from hiispider_spark.operators.extract import run_extraction
from hiispider_spark.operators.frontier import (
    build_frontier,
    dequeue_topk,
    new_frontier_entries,
    part_id_col,
    requeue_failed,
    requeue_fetched,
    salt_col,
)
from hiispider_spark.operators.lineage import build_lineage
from hiispider_spark.operators.negcache import filter_embargoed, next_neg_cache
from hiispider_spark.sources.catalog import IcebergLike
from hiispider_spark.sources.synth import EPOCH0, EPOCH_SECONDS

FRONTIER_COLS = [
    "url", "url_hash", "host", "salt", "part_id", "priority",
    "next_fetch_ts", "interval_s", "retry_count", "state", "plugin",
]


@dataclass(frozen=True)
class EpochConfig:
    k_per_partition: int = 64
    n_partitions: int = 32
    n_salts: int = 8
    interval_s: int = 3600
    epoch_seconds: float = EPOCH_SECONDS
    bloom_m_bits: int = seen_ops.DEFAULT_M_BITS
    follow_links: bool = True
    # per-epoch summary counters. frontier_size comes from manifest
    # footer counts (O(1), no job — catalog.row_count); n_granted is one
    # count over the checkpointed slice. Cheap enough to default on.
    collect_stats: bool = True
    # host-level negative cache (O-7): hosts with ≥ threshold failures
    # in one epoch are embargoed for neg_cache_ttl_s
    neg_cache_fail_threshold: int = 3
    neg_cache_ttl_s: float = 90.0
    # O-15 boot stagger: spread first fetches over [0, boot_stagger_s)
    # seconds (deterministic hash of url_hash) — 0 keeps golden fixtures
    boot_stagger_s: int = 0
    # O-9 global in-flight cap (reference max_simultaneous_requests):
    # total grants per epoch across ALL hosts, waterfilled across
    # buckets — None keeps per-host budgets only (golden fixtures)
    max_inflight: int | None = None
    # State commits are merge-on-read: each epoch appends a delta file
    # of only the CHANGED rows of every keyed state table — frontier
    # (requeued + backoff + denied + inserted; deferred/embargoed rows
    # are byte-unchanged, so the base stays authoritative), page_cache
    # (fetched digests), politeness (touched hosts) — so an epoch writes
    # O(epoch work), never O(table). Reads resolve newest-wins
    # (catalog.MERGE_KEYS, size-gated broadcast anti-join); compaction
    # folds deltas into bucket files when EITHER the file-set count
    # (read fan-in) or the accumulated delta rows (resolve key-set /
    # broadcast size) passes its bound.
    # Only True is accepted; the field stays for perfbench/crawl.py.
    state_deltas: bool = True
    compact_every: int = 8
    compact_delta_rows: int = 4_000_000
    # Reclaim superseded version dirs right after a compaction commits
    # (catalog.vacuum — Iceberg expire_snapshots analogue). Off only
    # for debugging/forensics on dead snapshots.
    vacuum_after_compact: bool = True
    # Crawl-trap guard (operators/traps.py): hosts whose newly
    # discovered links this epoch exceed trap_min_urls AND show a
    # pathological URL shape (segment repetition / depth / query-param
    # explosion) are dropped before the seen probe and frontier merge —
    # one calendar widget must not mint frontier rows unboundedly.
    # Default off: the synthetic corpus has flat URLs, and golden
    # fixtures pin the unguarded ordering.
    trap_guard: bool = False
    trap_min_urls: int = 10_000
    # Scope guard (operators/scope.py): drop out-of-scope discovered
    # links (non-http schemes, media extensions, over-long/deep URLs)
    # BEFORE canonicalization/hashing — a narrow filter that spares the
    # SipHash, the bloom probe, and the frontier row. Default off: the
    # synthetic corpus emits only in-scope links (no behavior change),
    # and golden fixtures pin the unguarded path.
    scope_guard: bool = False
    # Token-bucket implementation: "column" (the JVM window twin — the
    # fast path whenever the fetch is a join and the politeness stage
    # hosts no I/O, as in this sandbox; guide §4: no Python boundary on
    # the hot path) or "pandas" (groupBy(host).applyInPandas — the
    # BASELINE-mandated expression and the stage where batched live
    # HTTP executes in a production deployment; flip to it when the
    # fetch does real I/O). The two are proved row-identical by
    # test_politeness, including two full epochs byte-identical under
    # both impls, so the default only changes the physical plan.
    politeness_impl: str = "column"
    # Per-host concurrency ceiling per epoch (the reference's
    # max_simultaneous_requests_per_host) on top of the rate budget;
    # None = rate-limited only (golden fixtures).
    host_max_parallel: int | None = None
    # Dequeue starvation guard: effective priority += aging_weight ×
    # days-past-due (frontier.dequeue_topk). 0 = static priorities
    # (golden fixtures; reference parity — its global heap never
    # starves, a k-bounded dequeue needs the guard at scale).
    aging_weight: float = 0.0
    # Adaptive recrawl (operators/recrawl.py): reschedule successful
    # fetches at clamp(1/λ̂) from the page_cache change counters instead
    # of the row's fixed interval_s — static pages drift toward
    # recrawl_max_s, fast movers toward recrawl_min_s. Runs O(slice)
    # Column math off counters the cache update computes anyway.
    # Default off: golden ordering fixtures pin fixed intervals.
    adaptive_recrawl: bool = False
    recrawl_min_s: float = 60.0
    recrawl_max_s: float = 604800.0

    def __post_init__(self) -> None:
        if not self.state_deltas:
            raise ValueError(
                "state_deltas=False (partition-overwrite state commits) "
                "was removed; epochs always commit merge-on-read deltas"
            )

    @classmethod
    def production(cls, **overrides) -> "EpochConfig":
        """Every scale guard ON — the configuration a 10^10-URL
        deployment runs. The field defaults above keep each guard OFF
        individually so golden fixtures pin the unguarded orderings;
        this preset is the other end of that dial, and
        test_epoch::test_production_profile drives them TOGETHER
        (interaction bugs — e.g. trap_guard × scope_guard × the
        assume_new insertion path — hide between individually-green
        features). ``overrides`` adjust for corpus size (a sandbox test
        lowers trap_min_urls and max_inflight; a real deployment sizes
        them to its hardware)."""
        base: dict = dict(
            aging_weight=0.05,          # dequeue starvation guard
            adaptive_recrawl=True,       # Cho & G-M revisit intervals
            trap_guard=True,             # calendar-widget URL mints
            scope_guard=True,            # drop out-of-scope links early
            host_max_parallel=4,         # per-host concurrency ceiling
            max_inflight=1 << 20,        # global in-flight cap
            politeness_impl="column",    # JVM twin (fetch is a join)
            boot_stagger_s=300,          # spread the first-fetch wave
            collect_stats=True,
        )
        base.update(overrides)
        return cls(**base)


#: target rows per delta data file. Delta dirs are read back UNIONED
#: every epoch until compaction, so their file count is pure read
#: fan-in: a fixed coalesce(P) writes P near-empty files at sandbox
#: scale (measured ~1k rows/file — scan setup dominates), while one
#: giant file at 10^10 scale would serialize the write. The epoch
#: KNOWS its delta row counts before writing (the fetched, failed,
#: denied and inserted counts are already materialized), so the file
#: count derives from them: ceil(rows / ROWS_PER_DELTA_FILE), capped at
#: the table's partition count.
ROWS_PER_DELTA_FILE = 500_000


def _delta_files(rows: int, cap: int) -> int:
    """File count for a delta of ``rows`` rows: bounded file sizes,
    minimal read fan-in."""
    return max(1, min(cap, rows // ROWS_PER_DELTA_FILE + 1))


def epoch_timestamp(epoch: int, epoch_seconds: float = EPOCH_SECONDS) -> str:
    t0 = datetime.fromisoformat(EPOCH0)
    return (t0 + timedelta(seconds=epoch * epoch_seconds)).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def bootstrap(
    spark: SparkSession,
    cat: IcebergLike,
    seeds: DataFrame,
    cfg: EpochConfig = EpochConfig(),
) -> None:
    """Epoch 0: seed list → frontier + seen set; atomic initial commit.

    frontier and seen_set are written partition-level from the start so
    later epochs can carry untouched buckets over by manifest reference.
    """
    frontier = build_frontier(
        seeds, cfg.n_partitions, cfg.n_salts, cfg.interval_s,
        stagger_s=cfg.boot_stagger_s,
    )
    all_parts = list(range(cfg.n_partitions))
    cat.stage_overwrite_parts("frontier", frontier, "part_id", all_parts)
    frontier_c = cat.read_staged("frontier")  # materialized once on disk
    # seen_exact ≡ frontier membership: reference the frontier's bucket
    # files instead of writing a url_hash copy of the table
    cat.stage_append_ref(
        "seen_exact", cat.staged_part_rels("frontier"), replace=True
    )
    cat.stage_overwrite_parts(
        "seen_set",
        seen_ops.build_partition_blooms(frontier_c, cfg.bloom_m_bits),
        "partition_id",
        all_parts,
    )
    cat.commit(epoch=0)


def run_epoch(
    spark: SparkSession,
    cat: IcebergLike,
    pages: DataFrame,
    robots: DataFrame,
    cfg: EpochConfig = EpochConfig(),
) -> dict:
    """Process the next epoch; returns summary counters (plus
    ``phase_walls``: seconds per materialization boundary, the knob for
    finding which stage grows with history — it must be none)."""
    e = cat.epoch + 1
    ts = epoch_timestamp(e, cfg.epoch_seconds)
    walls: dict[str, float] = {}
    _t0 = time.time()

    def _mark(phase: str) -> None:
        nonlocal _t0
        t = time.time()
        walls[phase] = round(t - _t0, 2)
        _t0 = t

    frontier = cat.read("frontier")
    # Checkpoint boundaries: every frame reused across jobs is a lazy
    # local checkpoint (frames.cut), not a persist(). A persisted frame
    # is an InMemoryRelation embedding its whole upstream plan, nested
    # caches included, and Spark re-prints that plan on the driver at
    # every query start and AQE re-plan. On the crawl_discover
    # benchmark (seed 7) that was 16 MB of SQL plan events in an
    # ordinary epoch and 167 MB in a fold epoch, whose frontier write
    # alone posted five 18 MB AQE updates; with checkpoints, 1.0 and
    # 2.2 MB. A checkpointed frame is a leaf LogicalRDD, so each
    # downstream plan holds only its own operators.
    #
    # Every frame is filled BEFORE the concurrent write pool reads it,
    # by a serial driver-thread job: the dequeue collect (sl), the fused
    # politeness+fetch+failed job and the checkpoint calls before it
    # (bucketed, fetched, fetched_meta, failed), the extract count
    # (extracted_new), and the inserted checkpoint + collect (hashed,
    # inserted). Under AQE a lazy checkpoint call itself runs the
    # frame's shuffle stages; only its final stage waits for the first
    # scan. There are NO redundant eager counts between those jobs: an
    # intermediate count only moves the same work one job earlier, at
    # the price of one more scheduling round. The write jobs (submitted
    # eagerly, overlapping the later serial phases) only consume frames
    # a serial job already filled — each _submit sits after the
    # count/collect that filled its inputs — so no frame is first
    # computed by two concurrent jobs. All blocks are released at epoch
    # end (frames.release; unpersist() is a no-op on a checkpoint).
    sl = frames.cut(dequeue_topk(
        frontier, ts, cfg.k_per_partition, aging_weight=cfg.aging_weight
    ))
    # one job fills the checkpoint AND yields the dequeue count plus
    # the touched buckets (bounded by P rows — the only driver collect
    # in the pipeline besides counters); everything the epoch rewrites
    # lives in these buckets + the buckets of inserted links
    per_part = sl.groupBy("part_id").count().collect()
    n_dequeued = int(sum(r["count"] for r in per_part))
    touched = sorted(r.part_id for r in per_part)
    _mark("dequeue")

    # host-level negative cache: embargoed hosts drop out before any
    # downstream shuffle (O-7 — "avoid known-dead work early")
    neg_cache = cat.read("neg_cache")
    eligible, _ = filter_embargoed(sl, neg_cache, ts)

    # politeness: robots prefix rules then per-host token buckets
    allowed, denied = pol.split_robots(eligible, robots)
    bucket_fn = (
        pol.apply_token_buckets_col
        if cfg.politeness_impl == "column"
        else pol.apply_token_buckets
    )
    bucketed = bucket_fn(
        allowed, cat.read("politeness"), ts, cfg.epoch_seconds,
        host_max_parallel=cfg.host_max_parallel,
    )
    bucketed_raw = None
    if cfg.max_inflight is not None:
        # the cap collects per-bucket grant counts → checkpoint its input
        bucketed_raw = frames.cut(bucketed)
        bucketed_raw.count()
        bucketed = pol.apply_global_cap(bucketed_raw, cfg.max_inflight)
    # checkpointed but NOT eagerly counted: the first downstream scan
    # (the fetch and failed checkpoints below) fills it once, and every
    # later consumer — including the concurrent write jobs — reads the
    # checkpointed blocks. An eager count here was one extra scheduling
    # round per epoch whose only effect was moving the same work one
    # job earlier.
    bucketed = frames.cut(bucketed)
    granted = bucketed.filter(F.col("granted")).select(*FRONTIER_COLS)

    # fetch = join against the page store; sha1 change detection.
    # DISK_ONLY: these rows carry html bytes — unrolling them into the
    # memory store across many concurrent tasks GC-thrashes; streaming
    # to local disk scales linearly with cores.
    fetched, _ = fetch_join(granted, pages)
    fetched = frames.cut(
        with_content_sha1(fetched), StorageLevel.DISK_ONLY
    )
    # narrow twin of the fetch result: requeue/failed/lineage/page-cache
    # only need frontier columns + digest + length — reading those
    # through the html-bearing DISK_ONLY checkpoint re-scans ~KB-wide
    # rows once PER CONSUMER (measured as the write phase's hidden
    # cost); a slim in-memory projection is scanned instead
    fetched_meta = frames.cut(fetched.select(
        *FRONTIER_COLS, "content_sha1", F.length("html").alias("html_len")
    ))
    # failed re-derived from CHECKPOINTED frames — the tuple's own
    # anti-join references the pre-checkpoint plan and would run the
    # join against the page store a second time. Checkpointed itself:
    # three downstream jobs (frontier backoff, lineage, neg_cache)
    # would otherwise each recompute the anti-join.
    failed = frames.cut(
        granted.join(fetched_meta.select("url"), "url", "left_anti")
    )
    # The checkpoint calls above already ran the shuffle and broadcast
    # stages (politeness, the fetch join, and the failed anti-join's
    # exchange, whose scan of fetched_meta fills it and the DISK_ONLY
    # fetched blocks behind it); ONE job then fills what is left AND
    # yields all three counts. Folding the counts into one union-agg
    # job drops a full scheduling round per count (the count was cheap
    # but its job round-trip was not — the per-epoch fixed constant is
    # what caps scaling efficiency). Stats arithmetic still closes as
    # granted = fetched ⊎ failed; the denied count sizes the frontier
    # delta exactly (see the fold trigger).
    _counts = dict(
        failed.select(F.lit("f").alias("k"))
        .unionByName(fetched_meta.select(F.lit("m").alias("k")))
        .unionByName(denied.select(F.lit("d").alias("k")))
        .groupBy("k")
        .count()
        .collect()
    )
    n_failed = int(_counts.get("f", 0))
    n_fetched = int(_counts.get("m", 0))
    n_denied = int(_counts.get("d", 0))
    _mark("politeness_fetch")

    # Eager write scheduling (guide §2.6 "overlap independent jobs"):
    # every state-table write whose inputs are already materialized is
    # submitted NOW, from a driver thread, so it back-fills executor
    # slots while the epoch's remaining serial phases (extract, link
    # discovery) run — instead of serializing the whole write pool
    # after them. Inputs are all checkpointed-and-filled frames (the
    # checkpoint boundaries above), so no concurrent-first-use race
    # exists; per-table writes stage into distinct _staged keys
    # (GIL-safe, one committing thread at the end — catalog notes).
    from concurrent.futures import ThreadPoolExecutor

    write_walls: dict[str, float] = {}
    compacted: list[str] = []
    pool = ThreadPoolExecutor(max_workers=8)
    futures = []

    def _timed(name: str, job) -> None:
        # one scheduler pool per table write: under FAIR mode (session
        # default) pools share task slots equally, so the small 1-task
        # writes (neg_cache, lineage, politeness delta) land promptly
        # instead of queueing behind frontier/seen_set — FIFO showed a
        # ~6 s epoch-1 straggler tail from exactly that starvation.
        # try/finally: pool-executor threads are reused — a sticky
        # local property would put later jobs in the last write's pool.
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"write-{name}"
        )
        t0 = time.time()
        try:
            job()
        finally:
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)
        write_walls[name] = round(time.time() - t0, 2)

    def _submit(name: str, job) -> None:
        futures.append(pool.submit(_timed, name, job))
    # conditional GET against the compact page_cache state table —
    # O(slice) per epoch (only touched buckets' cache files open),
    # never a scan+aggregate of the ever-growing extracted history
    cache = cat.read_parts("page_cache", touched).select(
        "url_hash", "content_sha1", "n_polls", "n_changes", "first_fetch_ts"
    )
    modified, unchanged = split_modified(fetched, cache)
    # next page_cache rows for this epoch's fetches: digest + rolled
    # change counters (adaptive-recrawl input). One slice×cache join —
    # same O(slice)/O(touched-buckets) shape as the conditional GET.
    prev = cache.select(
        "url_hash",
        F.col("content_sha1").alias("_sha"),
        F.col("n_polls").alias("_np"),
        F.col("n_changes").alias("_nc"),
        F.col("first_fetch_ts").alias("_ft"),
    )
    cache_rows = (
        fetched_meta.select("part_id", "url_hash", "content_sha1")
        .join(prev, "url_hash", "left")
        .select(
            "part_id",
            "url_hash",
            "content_sha1",
            (F.coalesce(F.col("_np"), F.lit(0)) + 1).alias("n_polls"),
            (
                F.coalesce(F.col("_nc"), F.lit(0))
                + F.when(
                    F.col("_sha").isNotNull()
                    & (F.col("_sha") != F.col("content_sha1")),
                    1,
                ).otherwise(0)
            ).alias("n_changes"),
            F.coalesce(
                F.col("_ft"), F.lit(ts).cast("timestamp")
            ).alias("first_fetch_ts"),
        )
    )

    # page-cache + politeness + neg-cache state depend only on frames
    # the fused politeness/fetch job just materialized (bucketed,
    # fetched_meta, failed) — their writes start here and overlap the
    # extract + link-discovery phases below. Same frames, same staged
    # bytes as the post-phase pool they replace.
    new_state = pol.next_politeness_state(bucketed, ts, cfg.n_partitions)
    neg_next = next_neg_cache(
        neg_cache, failed, ts, cfg.neg_cache_fail_threshold, cfg.neg_cache_ttl_s
    )
    # deltas = exactly this epoch's changed keys: fetched digests /
    # touched hosts. O(slice) rows, a handful of files; no carried read,
    # no per-table parts collect.
    _submit("politeness", lambda: cat.stage_append_delta(
        "politeness", new_state.coalesce(1)
    ))
    _submit(
        "neg_cache",
        lambda: cat.stage_overwrite("neg_cache", neg_next.coalesce(1)),
    )
    _submit("page_cache", lambda: cat.stage_append_delta(
        "page_cache",
        cache_rows.coalesce(_delta_files(n_fetched, cfg.n_partitions)),
    ))

    extracted_new = frames.cut(
        run_extraction(modified, e), StorageLevel.DISK_ONLY
    )
    n_extracted = extracted_new.count()
    _mark("extract")

    # lineage (per-bucket metrics) and the extracted append consume the
    # just-filled extract checkpoint (+ already-filled sl/meta/failed)
    # — overlap them with link discovery below
    lin = build_lineage(sl, fetched_meta, extracted_new, failed, e, ts)
    _submit(
        "extracted", lambda: cat.stage_append("extracted", extracted_new)
    )
    # lineage/neg_cache are ≤ P rows by construction — one file,
    # one task, instead of shuffle-partition-many empty files
    _submit("lineage", lambda: cat.stage_append("lineage", lin.coalesce(1)))

    # discovered out-links → canonicalize → unseen → new entries
    # (O-20/O-21). Candidates get their salted bucket up front so the
    # bloom probe is CO-PARTITIONED: each bucket's candidates meet that
    # bucket's filter row in a cogroup — no treeAggregate of the full
    # filter onto the driver (a ~12 GB collect per epoch at 10^10
    # sizing; union_blooms_tree remains for ad-hoc membership queries).
    hashed = inserted = None
    ins_parts: list[int] = []
    if cfg.follow_links:
        from hiispider_spark.functions.siphash import url_hash_udf

        # canonicalize + hash + bucket once, checkpoint — the probe's
        # two branches (bloom-definite-new ∪ exact-checked) read this.
        # Builders take column NAMES: memoized plan-build (canon.py
        # module notes), and withColumns batches the py4j round-trips.
        links = explode_items(extracted_new).select(
            F.col("payload").alias("link")
        )
        if cfg.scope_guard:
            from hiispider_spark.operators import scope as sco

            links = sco.filter_in_scope(links, url_col="link")
        hashed = frames.cut(
            links
            .select(canonical_url_col("link").alias("url"))
            .dropDuplicates(["url"])
            .withColumns(
                {
                    "url_hash": url_hash_udf(F.col("url")),
                    "host": host_col("url"),
                    "salt": salt_col("url", cfg.n_salts),
                }
            )
            .withColumn(
                "part_id", part_id_col("host", "salt", cfg.n_partitions)
            )
        )
        # checkpointed, lazily filled: the inserted checkpoint call
        # below (which runs the probe's shuffle stages) is the first
        # consumer, with the trap agg's broadcast subtree the second —
        # both inside ONE query on the driver thread, and no write job
        # reads hashed (the frontier/seen writes start only after the
        # inserted collect)
        candidates = hashed
        if cfg.trap_guard:
            from hiispider_spark.operators import traps as tr

            # one agg pass over the (checkpointed) candidate set; the
            # flagged host list is tiny → broadcast anti-join, so trap
            # URLs never reach the bloom probe or the frontier
            tstats = tr.host_trap_stats(hashed, min_urls=cfg.trap_min_urls)
            candidates = tr.filter_traps(hashed, tstats)
        unseen = seen_ops.filter_unseen_partitioned(
            candidates, cat.read("seen_set"), cat.read("seen_exact"),
            cfg.bloom_m_bits,
        )
        inserted = frames.cut(new_frontier_entries(
            frontier, unseen, ts,
            cfg.n_partitions, cfg.n_salts, cfg.interval_s,
            # candidates already passed the seen-set exact check, and
            # seen_exact ⊇ frontier membership (same atomic commits, no
            # deletes) — the in-function frontier anti-join would shuffle
            # O(frontier) per epoch to learn nothing. They were also
            # deduped by canonical url before hashing (assume_unique):
            # re-deduping would shuffle the candidate set again.
            assume_new=True,
            assume_unique=True,
        ))
        ins_per_part = inserted.groupBy("part_id").count().collect()
        ins_parts = sorted(r.part_id for r in ins_per_part)
        n_inserted = int(sum(r["count"] for r in ins_per_part))
        _mark("links_seen")
    else:
        n_inserted = 0

    requeued = requeue_fetched(fetched_meta.select(*FRONTIER_COLS), ts)
    if cfg.adaptive_recrawl:
        from hiispider_spark.operators import recrawl as rc

        # override the fixed interval with clamp(1/λ̂) from the rolled
        # counters; n_polls < 2 (no gap yet) keeps the row's interval_s
        span = (
            F.unix_timestamp(F.lit(ts).cast("timestamp"))
            - F.unix_timestamp("first_fetch_ts")
        ).cast("double")
        est = (F.col("n_polls") >= 2) & (span > 0)
        lam = rc.change_rate_col(
            F.col("n_polls"),
            F.col("n_changes"),
            span / (F.col("n_polls") - 1).cast("double"),
        )
        iv = F.when(
            est,
            rc.revisit_interval_col(
                lam, min_s=cfg.recrawl_min_s, max_s=cfg.recrawl_max_s
            ),
        ).otherwise(F.col("interval_s").cast("double"))
        requeued = (
            requeued.join(
                cache_rows.select(
                    "url_hash", "n_polls", "n_changes", "first_fetch_ts"
                ),
                "url_hash",
                "left",
            )
            .withColumn(
                "next_fetch_ts",
                F.lit(ts).cast("timestamp")
                + F.make_interval(secs=F.floor(iv).cast("double")),
            )
            .select(*FRONTIER_COLS)
        )
    backoff = requeue_failed(failed.select(*FRONTIER_COLS), ts)
    # merge-on-read commit: ONLY the rows this epoch changed —
    # requeued/backoff (schedule advanced), denied (state flips to
    # robots_denied, leaving the pending pool), inserted (new).
    # deferred/embargoed rows went back byte-unmodified — their
    # base-file copies stay authoritative, so they don't appear here.
    frontier_delta = (
        requeued.select(*FRONTIER_COLS)
        .unionByName(backoff.select(*FRONTIER_COLS))
        .unionByName(denied.select(*FRONTIER_COLS))
    )
    if inserted is not None:
        frontier_delta = frontier_delta.unionByName(
            inserted.select(*FRONTIER_COLS)
        )
    # exact delta row count: requeued + backoff = granted = fetched ⊎
    # failed, plus denied and inserted
    n_delta = n_fetched + n_failed + n_denied + n_inserted
    # fold-on-write: when this epoch's delta would trip a compaction
    # bound, write the resolved buckets ONCE (stage_upsert_fold) instead
    # of a delta that compaction immediately rewrites — same end state,
    # half the write bytes, and the rewrite runs in the write pool.
    # Since n_delta is exact, a delta that is appended can never trip
    # the frontier's bounds afterwards.
    fold_frontier = (
        cat.delta_count("frontier") + 1 >= cfg.compact_every
        or cat.delta_row_count("frontier") + n_delta >= cfg.compact_delta_rows
    )
    # frontier + seen writes are the last to become schedulable (they
    # need the inserted set); everything else is already in flight
    if fold_frontier:
        _submit("frontier", lambda: cat.stage_upsert_fold(
            "frontier", frontier_delta, "part_id", n_rows=n_delta
        ))
    else:
        # the 3-way union stacks ~3×P partitions → 3×P files; merge
        # narrow (no shuffle) down to a row-count-derived file count
        _submit("frontier", lambda: cat.stage_append_delta(
            "frontier",
            frontier_delta.coalesce(_delta_files(n_delta, cfg.n_partitions)),
            n_new_keys=n_inserted,
        ))
    if cfg.follow_links and ins_parts:  # nothing new discovered → no-op
        _submit("seen_set", lambda: cat.stage_overwrite_parts(
            "seen_set",
            seen_ops.merge_partition_blooms(
                cat.read_parts("seen_set", ins_parts, "partition_id"),
                inserted.select("part_id", "url_hash"),
                cfg.bloom_m_bits,
            ),
            "partition_id",
            ins_parts,
        ))
    _mark("plan_writes")
    try:
        for f in futures:
            f.result()
    finally:
        pool.shutdown(wait=False)
    if fold_frontier:
        # the fold wrote resolved bucket files and cleared every
        # frontier delta inside the pool — membership ≡ the folded
        # frontier, so seen_exact swaps to reference exactly those
        # bucket files (stays O(table) refs, never grows stale); the
        # fold is this epoch's frontier compaction.
        cat.stage_append_ref(
            "seen_exact", cat.staged_part_rels("frontier"), replace=True
        )
        compacted.append("frontier")
    elif ins_parts:
        # seen_exact ⊇ frontier membership and frontier rows are never
        # deleted → the just-written frontier delta (which contains
        # every inserted row's url_hash, plus harmless already-seen
        # duplicates) IS this epoch's seen_exact append. Zero extra
        # bytes written, no write job.
        cat.stage_append_ref(
            "seen_exact", cat.staged_delta_rels("frontier")[-1:]
        )
    # fold the other state tables' deltas into base bucket files inside
    # this transaction when either bound trips: file-set count (read
    # fan-in) or accumulated delta rows (resolve key-set / broadcast size)
    for tbl in ("page_cache", "politeness"):
        if (
            cat.delta_count(tbl) >= cfg.compact_every
            or cat.delta_row_count(tbl) >= cfg.compact_delta_rows
        ):
            cat.compact(tbl)
            compacted.append(tbl)
    _mark("writes")

    stats = {
        "epoch": e,
        "epoch_ts": ts,
        "n_dequeued": n_dequeued,
        "n_fetched": n_fetched,
        "n_extracted": n_extracted,
        "phase_walls": walls,
        "write_walls": write_walls,
        # observability for the read-amplification bound: which state
        # tables folded their deltas this epoch (bench artifacts show
        # the dequeue wall reset the epoch after)
        "compacted": compacted,
    }
    if cfg.collect_stats:
        # no jobs here: granted partitions into fetched ⊎ failed (the
        # fetch join keeps granted rows that exist in the page store,
        # failed is the anti-join remainder), and frontier_size comes
        # from manifest footer counters
        stats["n_granted"] = n_fetched + n_failed
        fs = cat.row_count("frontier")
        if fs is not None:
            stats["frontier_size"] = fs
    cat.commit(epoch=e)
    if compacted and cfg.vacuum_after_compact:
        # compaction just superseded this table's delta files and the
        # rewritten bucket dirs' old versions; reclaim them now (O(files)
        # driver-side, no job). Safe here: the commit landed and every
        # frame this epoch materialized is checkpointed or consumed.
        cat.vacuum()
    frames.release(
        sl, bucketed, bucketed_raw, fetched, fetched_meta, failed,
        extracted_new, hashed, inserted,
    )
    return stats


def run_epochs(
    spark: SparkSession,
    cat: IcebergLike,
    pages: DataFrame,
    robots: DataFrame,
    n_epochs: int,
    cfg: EpochConfig = EpochConfig(),
) -> list[dict]:
    """Drive n micro-batches (the foreachBatch-style loop, O-2/O-28)."""
    return [run_epoch(spark, cat, pages, robots, cfg) for _ in range(n_epochs)]
