"""Benchmark harness (driver contract + scaling evidence).

Default run: headline suite at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] — a multi-epoch crawl (north metric: URLs
fetched+extracted per second) plus representative operator timings.

Stdout contract: the FINAL line is the compact headline JSON (metric,
value, unit, per-query seconds, median urls/s, scaling summary —
≤1.5 kB, because the round driver keeps only the last ~2000 chars of
stdout and parses the last line). Verbose per-epoch/per-phase detail
goes to an EARLIER stdout line and BENCH/last_run_detail.json.

``python bench.py --scaling``: runs one production-shaped heavy epoch
(corpus ×$BENCH_SCALING_MULT, politeness budget = 1h) at two
parallelism levels as $BENCH_SCALING_RUNS INTERLEAVED (lo, hi) pairs —
each pair back-to-back so a noise window on this SHARED host hits both
legs of a pair roughly equally — and reports the median of per-pair
efficiencies. (Leg-level medians taken minutes apart are not
comparable here: identical code measured 6.1k and 22.0k urls/s in the
same leg during an external load spike.) Appends the N→4N efficiency
evidence to BENCH/BASELINE.md.

Why the scaling pair is local[4]→local[16] by default: this sandbox
advertises 32 vCPUs but raw CPU throughput (measured: parallel busy
loops) scales 1→8 cores at 1.00× per core, 8→16 at 0.95×, and 16→32 at
only 1.13× total — i.e. ~16 effective cores. (T_32/T_8)/4 is therefore
capped at ~0.54 by the platform regardless of software. 4→16 is the
largest 4× pair inside the hardware's linear region, so it measures
the ENGINE's scaling rather than SMT saturation. Override with
$BENCH_SCALING_CPUS="8,32" to reproduce the platform-capped pair.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_EPOCHS = int(os.environ.get("BENCH_EPOCHS", "3"))
SCALING_MULT = int(os.environ.get("BENCH_SCALING_MULT", "20"))
SCALING_RUNS = int(os.environ.get("BENCH_SCALING_RUNS", "3"))
SCALING_CPUS = [
    int(x) for x in os.environ.get("BENCH_SCALING_CPUS", "4,16").split(",")
]


def _cpu_busy_frac(interval: float = 0.6) -> float:
    """Instantaneous whole-box CPU busy fraction from /proc/stat.

    The scaling harness samples this while ITS OWN Spark sessions are
    stopped, so any busy CPU is external load on this shared host —
    the thing that turned identical code into 2× wall-clock spreads.
    """
    def snap():
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        idle = vals[3] + vals[4]  # idle + iowait
        return sum(vals), idle

    t0, i0 = snap()
    time.sleep(interval)
    t1, i1 = snap()
    dt = max(t1 - t0, 1)
    return 1.0 - (i1 - i0) / dt


def _wait_quiet(
    threshold: float = 0.15, max_wait_s: float = 180.0
) -> float:
    """Block until external CPU load drops below ``threshold`` (or the
    wait budget runs out). Returns the last sample."""
    t0 = time.time()
    busy = _cpu_busy_frac()
    while busy > threshold and time.time() - t0 < max_wait_s:
        time.sleep(5.0)
        busy = _cpu_busy_frac()
    return busy


def _quiet_stop(spark) -> None:
    """Stop a session without teardown spam: late task-completion
    events race the closing Python-accumulator socket in local mode
    (all actions already returned; rc stays 0) and each race prints a
    full ERROR stack into the artifact. Drain briefly, mute exactly
    the loggers that carry the benign race, then stop."""
    time.sleep(1.0)
    try:
        jvm = spark.sparkContext._jvm
        level = jvm.org.apache.logging.log4j.Level.OFF
        for logger in (
            "org.apache.spark.scheduler.DAGScheduler",
            "org.apache.spark.scheduler.TaskSetManager",
            "org.apache.spark.executor.Executor",
            "org.apache.spark.api.python.PythonAccumulatorV2",
            "org.apache.spark.util.Utils",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, level
            )
    except Exception:
        pass  # logging backend differs → keep the (benign) spam
    spark.stop()


def _corpus(spark, sf_dir: str, mult: int, pages_dir: str):
    """Synthesize the corpus once and land pages as a parquet table —
    the production shape (a page store is scanned, never cached)."""
    from hiispider_spark.sources.synth import (
        SynthConfig,
        synth_pages,
        synth_robots,
        synth_seeds,
    )

    base = SynthConfig.from_sf_dir(spark, sf_dir)
    cfg_s = SynthConfig(n_pages=base.n_pages * mult, n_docs=base.n_docs)
    synth_pages(spark, sf_dir, cfg_s).write.mode("overwrite").parquet(
        f"{pages_dir}/pages"
    )
    pages = spark.read.parquet(f"{pages_dir}/pages")
    robots = synth_robots(spark, sf_dir, cfg_s).persist()
    robots.count()
    return pages, synth_seeds(spark, sf_dir, cfg_s), robots


def _warm_python_workers(spark, cpus: int):
    from pyspark.sql import functions as F

    from hiispider_spark.functions.siphash import url_hash_udf

    spark.range(10**6, numPartitions=cpus * 2).select(
        F.max(url_hash_udf(F.format_string("u%d", F.col("id"))))
    ).collect()


def run_crawl(
    cpus: int,
    sf_dir: str,
    n_epochs: int = N_EPOCHS,
    mult: int = 1,
    epoch_seconds: float = 600.0,
    n_runs: int = 1,
    pages_dir: str | None = None,
    warmup: bool | None = None,
) -> dict:
    """Bootstrap + crawl epochs; corpus synth and worker warmup are
    outside the timed region. n_runs>1 → median throughput.
    ``pages_dir``: reuse a corpus already landed by a previous call
    (pair-interleaved scaling shares one corpus across sessions)."""
    from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
    from hiispider_spark.session import get_spark
    from hiispider_spark.sources.catalog import IcebergLike

    spark = get_spark(app=f"bench-local{cpus}", cpus=cpus, shuffle_partitions=32)
    own_pages_dir = pages_dir is None
    if own_pages_dir:
        pages_dir = tempfile.mkdtemp(prefix=f"bench_pages_{cpus}_")
    try:
        if own_pages_dir or not os.path.isdir(f"{pages_dir}/pages"):
            pages, seeds, robots = _corpus(spark, sf_dir, mult, pages_dir)
        else:
            from hiispider_spark.sources.synth import (
                SynthConfig,
                synth_robots,
                synth_seeds,
            )

            base = SynthConfig.from_sf_dir(spark, sf_dir)
            cfg_s = SynthConfig(n_pages=base.n_pages * mult, n_docs=base.n_docs)
            pages = spark.read.parquet(f"{pages_dir}/pages")
            seeds = synth_seeds(spark, sf_dir, cfg_s)
            robots = synth_robots(spark, sf_dir, cfg_s).persist()
            robots.count()
        cfg = EpochConfig(
            k_per_partition=1 << 17,
            n_partitions=32,
            bloom_m_bits=1 << 24,
            # stats are O(1) now (manifest counters + one cached-slice
            # count) — benchmark the default-on config
            collect_stats=True,
            epoch_seconds=epoch_seconds,
        )
        _warm_python_workers(spark, cpus)
        if warmup is None:
            warmup = n_runs > 1
        if warmup:
            # full-pipeline warmup epoch: JIT + codegen + python workers
            # (first-run walls measured ~2× the warm steady state)
            wroot = tempfile.mkdtemp(prefix=f"bench_warm_{cpus}_")
            wcat = IcebergLike(spark, wroot)
            bootstrap(spark, wcat, seeds, cfg)
            run_epoch(spark, wcat, pages, robots, cfg)
            shutil.rmtree(wroot, ignore_errors=True)
        runs = []
        for _ in range(n_runs):
            root = tempfile.mkdtemp(prefix=f"bench_cat_{cpus}_")
            cat = IcebergLike(spark, root)
            bootstrap(spark, cat, seeds, cfg)
            t0 = time.time()
            total_urls = 0
            epoch_walls = []
            phase_walls = []
            for _e in range(n_epochs):
                te = time.time()
                st = run_epoch(spark, cat, pages, robots, cfg)
                epoch_walls.append(round(time.time() - te, 2))
                phase_walls.append(
                    {
                        **st.get("phase_walls", {}),
                        "writes_detail": st.get("write_walls", {}),
                    }
                )
                total_urls += st["n_extracted"]
            wall = time.time() - t0
            runs.append(
                {
                    "wall_s": round(wall, 2),
                    "epoch_walls": epoch_walls,
                    "phase_walls": phase_walls,
                    "urls_extracted": int(total_urls),
                    "urls_per_sec": round(total_urls / wall, 1),
                }
            )
            shutil.rmtree(root, ignore_errors=True)
        med = statistics.median(r["urls_per_sec"] for r in runs)
        return {
            "cpus": cpus,
            "n_epochs": n_epochs,
            "mult": mult,
            "median_urls_per_sec": med,
            "runs": runs,
        }
    finally:
        if own_pages_dir:
            shutil.rmtree(pages_dir, ignore_errors=True)
        _quiet_stop(spark)


def run_calibration(cpus: int, n_rows: int = 2 * 10**8) -> float:
    """Pure-JVM CPU-bound throughput (rows/s): a whole-stage-codegen
    xxhash64 chain over range() — zero Python stages, no shuffle
    beyond the final 1-row agg. Run at both legs of a scaling pair it
    measures how much of the crawl's efficiency gap is Spark-constant
    platform overhead (scheduler, SMT saturation) vs engine design:
    crawl-eff ≈ calibration-eff means the engine adds no scaling
    penalty of its own."""
    from pyspark.sql import functions as F

    from hiispider_spark.session import get_spark

    spark = get_spark(
        app=f"calib-local{cpus}", cpus=cpus, shuffle_partitions=cpus
    )
    try:
        c = F.col("id")
        h = F.xxhash64(c)
        for _ in range(8):
            h = F.xxhash64(h, c)
        # bit_xor agg: sum() of hashes overflows LONG under ANSI mode
        # one warm pass for JIT, then the timed pass
        spark.range(n_rows // 10, numPartitions=cpus * 4).select(
            F.bit_xor(h)
        ).collect()
        t0 = time.time()
        spark.range(n_rows, numPartitions=cpus * 4).select(
            F.bit_xor(h)
        ).collect()
        return round(n_rows / (time.time() - t0), 1)
    finally:
        _quiet_stop(spark)


#: headline operator suite — every name MUST exist in the driver
#: contract's queries() registry (asserted at bench start, so a suite
#: rename can never silently bench a stale name again)
HEADLINE_QUERIES = [
    "crawl_epoch_flagship",
    "dedup_exact",
    "dedup_lsh_fast",
    "dedup_fingerprint_portable",
    "text_profile",
    "bpe_token_count",
    "ann_topk",
    "quality_gopher",
    "span_dedup",
    "host_stats",
    "seen_antijoin",
    "politeness_budget",
    "redirect_resolve",
    "decontamination",
    "scope_filter",
]


def run_queries(sf_dir: str, cpus: int) -> dict[str, float]:
    """Representative operator timings (seconds, action = count)."""
    import __spark_entry__ as entrymod

    from hiispider_spark.session import get_spark

    qs = entrymod.queries()
    missing = [n for n in HEADLINE_QUERIES if n not in qs]
    assert not missing, (
        f"bench headline names missing from queries(): {missing} — "
        "a suite rename must update HEADLINE_QUERIES"
    )
    spark = get_spark(app="bench-queries", cpus=cpus, shuffle_partitions=32)
    out: dict[str, float] = {}
    try:
        _warm_python_workers(spark, cpus)
        for name in HEADLINE_QUERIES:
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            out[name] = round(time.time() - t0, 2)
    finally:
        _quiet_stop(spark)
    return out


def main() -> None:
    scaling = "--scaling" in sys.argv
    result: dict = {}
    if scaling:
        lo_c, hi_c = SCALING_CPUS
        # one shared corpus for every leg (synthesized by the first call)
        corpus_dir = tempfile.mkdtemp(prefix="bench_scaling_corpus_")
        pairs: list[dict] = []
        tainted: list[dict] = []
        attempts = 0
        try:
            # quiet-gated pairs: this host is SHARED — external load has
            # produced hi legs SLOWER than lo legs (a physical
            # impossibility for real scaling). A pair only counts when
            # the box was externally idle right before AND right after
            # it; loaded pairs are recorded as tainted and retried.
            while len(pairs) < SCALING_RUNS and attempts < SCALING_RUNS * 3:
                attempts += 1
                pre = _wait_quiet()
                lo = run_crawl(
                    lo_c, SF_DIR, n_epochs=1, mult=SCALING_MULT,
                    epoch_seconds=3600.0, n_runs=1,
                    pages_dir=corpus_dir, warmup=True,
                )
                hi = run_crawl(
                    hi_c, SF_DIR, n_epochs=1, mult=SCALING_MULT,
                    epoch_seconds=3600.0, n_runs=1,
                    pages_dir=corpus_dir, warmup=True,
                )
                # pure-JVM calibration inside the same quiet window:
                # how much eff the PLATFORM gives a zero-Python,
                # zero-shuffle codegen loop on this exact cpu pair
                cal_lo = run_calibration(lo_c)
                cal_hi = run_calibration(hi_c)
                post = _cpu_busy_frac()
                t_lo = lo["median_urls_per_sec"]
                t_hi = hi["median_urls_per_sec"]
                rec = {
                    "t_lo": t_lo,
                    "t_hi": t_hi,
                    "eff": round((t_hi / t_lo) / (hi_c / lo_c), 3),
                    "calib_lo_rows_s": cal_lo,
                    "calib_hi_rows_s": cal_hi,
                    "calib_eff": round((cal_hi / cal_lo) / (hi_c / lo_c), 3),
                    "ext_busy_pre": round(pre, 3),
                    "ext_busy_post": round(post, 3),
                }
                if pre > 0.15 or post > 0.15:
                    rec["tainted"] = True
                    tainted.append(rec)
                else:
                    pairs.append(rec)
        finally:
            shutil.rmtree(corpus_dir, ignore_errors=True)
        clean = bool(pairs)
        if not pairs:  # never report nothing — flag it instead
            pairs = tainted
        eff = statistics.median(p["eff"] for p in pairs)
        t_lo_med = statistics.median(p["t_lo"] for p in pairs)
        t_hi_med = statistics.median(p["t_hi"] for p in pairs)
        calib_eff = statistics.median(
            p["calib_eff"] for p in pairs if "calib_eff" in p
        )
        eff_vs_platform = round(eff / calib_eff, 3) if calib_eff else None
        result["scaling"] = {
            "pair": [lo_c, hi_c],
            "pairs": pairs,
            "tainted_pairs": tainted,
            "t_lo_median": t_lo_med,
            "t_hi_median": t_hi_med,
            "efficiency": round(eff, 3),
            "calibration_efficiency": round(calib_eff, 3),
            "eff_vs_platform": eff_vs_platform,
        }
        os.makedirs("BENCH", exist_ok=True)
        # persist the scaling summary so the default (driver) run can
        # surface the scaling story in its compact headline line
        with open("BENCH/scaling_latest.json", "w") as f:
            json.dump(
                {
                    "pair": [lo_c, hi_c],
                    "crawl_eff": round(eff, 3),
                    "calib_eff": round(calib_eff, 3),
                    "eff_vs_platform": eff_vs_platform,
                    "clean": clean,
                    "measured_at": time.strftime("%Y-%m-%d %H:%M"),
                },
                f,
            )
        with open("BENCH/BASELINE.md", "a") as f:
            f.write(
                f"\n| {time.strftime('%Y-%m-%d %H:%M')} | sf0.1×{SCALING_MULT} | "
                f"T_{lo_c}={t_lo_med} urls/s | "
                f"T_{hi_c}={t_hi_med} urls/s | "
                f"eff={eff:.3f}, calib-eff={calib_eff:.3f} "
                f"(crawl/platform={eff_vs_platform}) "
                f"(median of {len(pairs)} quiet-gated "
                f"interleaved pairs; per-pair effs "
                f"{[p['eff'] for p in pairs]}; calib effs "
                f"{[p.get('calib_eff') for p in pairs]}; "
                f"{len(tainted)} pair(s) discarded for external load"
                f"{'' if clean else '; ALL pairs tainted — untrusted'}) |"
            )
    qtimes = run_queries(SF_DIR, CPUS)
    # median of 3 crawl runs (warmup epoch first): one noisy window on
    # this shared host must not set the round artifact (r3's driver
    # crawl read 2.1× the same code's idle-box wall)
    crawl = run_crawl(CPUS, SF_DIR, n_epochs=N_EPOCHS, n_runs=3)
    wall = statistics.median(r["wall_s"] for r in crawl["runs"])
    med_urls = crawl["median_urls_per_sec"]
    # verbose per-epoch/per-phase detail: its own EARLIER stdout line +
    # a file — the driver's artifact keeps only the last ~2000 chars of
    # stdout, so the FINAL line must stay compact or the whole round
    # loses its machine-parsed metric (r4 shipped parsed:null this way)
    detail = dict(result)
    detail["crawl"] = crawl
    detail["queries_detail"] = qtimes
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/last_run_detail.json", "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"detail": detail}))
    headline = {
        "metric": "crawl_epochs_plus_headline_queries_wall",
        "value": round(wall + sum(qtimes.values()), 2),
        "unit": "sec",
        "queries": {**qtimes, "crawl_epochs": wall},
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
        "cpus": CPUS,
        "median_urls_per_sec": med_urls,
    }
    if "scaling" in result:
        s = result["scaling"]
        headline["scaling"] = {
            "pair": s["pair"],
            "crawl_eff": s["efficiency"],
            "calib_eff": s["calibration_efficiency"],
            "eff_vs_platform": s["eff_vs_platform"],
        }
    elif os.path.isfile("BENCH/scaling_latest.json"):
        # most recent --scaling measurement (labeled with its date):
        # the driver's default run carries the scaling story forward
        with open("BENCH/scaling_latest.json") as f:
            headline["scaling"] = json.load(f)
    line = json.dumps(headline)
    # hard guard: the artifact-of-record line must survive the driver's
    # 2000-char stdout tail; drop optional detail before ever exceeding it
    if len(line) > 1500:
        headline.pop("scaling", None)
        line = json.dumps(headline)
    print(line)


if __name__ == "__main__":
    main()
