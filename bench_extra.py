"""Extra benchmarks for the optimization round (guide §1.4): per-query
noop-sink isolation, count-methodology timings, and flagship sub-stage
decomposition. Does NOT replace bench.py (frozen driver contract) —
numbers here are cited in OPTIMIZATION_r06.md.

Usage:
  python bench_extra.py queries [name ...]   # count() timing, 2 reps
  python bench_extra.py noop [name ...]      # noop-sink timing, 2 reps
  python bench_extra.py flagship             # sub-stage decomposition
  python bench_extra.py epoch [n_epochs]     # run_epoch phase walls
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

HEADLINE = [
    "crawl_epoch_flagship", "dedup_exact", "dedup_lsh_fast",
    "dedup_fingerprint_portable", "text_profile", "bpe_token_count",
    "ann_topk", "quality_gopher", "span_dedup", "host_stats",
    "seen_antijoin", "politeness_budget", "redirect_resolve",
    "decontamination", "scope_filter",
]


def _spark(app: str):
    from hiispider_spark.session import get_spark

    return get_spark(app=app, cpus=CPUS, shuffle_partitions=32)


def _warm(spark):
    from pyspark.sql import functions as F

    from hiispider_spark.functions.siphash import url_hash_udf

    spark.range(10**6, numPartitions=CPUS * 2).select(
        F.max(url_hash_udf(F.format_string("u%d", F.col("id"))))
    ).collect()


def run_queries(names: list[str], sink: str, reps: int = 2) -> None:
    import __spark_entry__ as em

    qs = em.queries()
    spark = _spark(f"bench-extra-{sink}")
    _warm(spark)
    out: dict[str, list[float]] = {}
    for name in names:
        walls = []
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"{sink}:{name}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            if sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            walls.append(round(time.time() - t0, 2))
        out[name] = walls
        print(name, walls, flush=True)
    print(json.dumps(out))
    spark.stop()


def run_flagship() -> None:
    """Decompose _flagship_epoch1 into timed sub-stages (each stage's
    frame is materialized with a count; stages build on persisted
    predecessors so each wall isolates one operator)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from hiispider_spark.operators import politeness as pol
    from hiispider_spark.operators.extract import run_extraction
    from hiispider_spark.operators.fetch import fetch_join, with_content_sha1
    from hiispider_spark.operators.frontier import dequeue_topk
    from hiispider_spark.schemas import POLITENESS
    from hiispider_spark.sources.synth import (
        SynthConfig,
        synth_pages,
        synth_robots,
    )

    spark = _spark("bench-extra-flagship")
    _warm(spark)
    t_all = time.time()
    walls: dict[str, float] = {}

    def mark(name, t0):
        walls[name] = round(time.time() - t0, 2)
        print(name, walls[name], flush=True)
        return time.time()

    t0 = time.time()
    cfg = SynthConfig.from_sf_dir(spark, SF_DIR)
    pages = synth_pages(spark, SF_DIR, cfg)
    robots = synth_robots(spark, SF_DIR, cfg)
    fr = em._frontier(spark, SF_DIR).persist()
    fr.count()
    t0 = mark("frontier_build+hash", t0)
    sl = dequeue_topk(fr, em.EPOCH1_TS, em.BIG_K).persist()
    sl.count()
    t0 = mark("dequeue", t0)
    allowed, _denied = pol.split_robots(sl, robots)
    allowed = allowed.persist()
    allowed.count()
    t0 = mark("robots", t0)
    empty_state = spark.createDataFrame([], POLITENESS)
    bucketed = pol.apply_token_buckets(
        allowed, empty_state, em.EPOCH1_TS, 60.0, tie_break="url"
    ).persist()
    bucketed.count()
    t0 = mark("token_buckets_pandas", t0)
    granted = bucketed.filter(F.col("granted")).select(*fr.columns).persist()
    granted.count()
    t0 = mark("granted_filter", t0)
    fetched, _failed = fetch_join(granted, pages)
    fetched = with_content_sha1(fetched).persist()
    fetched.count()
    t0 = mark("fetch_join+sha1", t0)
    ext = run_extraction(fetched, epoch=1).persist()
    ext.count()
    t0 = mark("extract", t0)
    final = ext.join(pages.select("url", "html"), "url").select(
        "url", "text", F.sha2(F.col("html"), 256).alias("content_sha256")
    )
    final.count()
    t0 = mark("final_join+sha256+count", t0)
    walls["TOTAL"] = round(time.time() - t_all, 2)
    print(json.dumps(walls))
    spark.stop()


def run_epoch_probe(n_epochs: int = 3) -> None:
    import shutil
    import tempfile

    from hiispider_spark.plans.epoch import EpochConfig, bootstrap, run_epoch
    from hiispider_spark.sources.catalog import IcebergLike
    from hiispider_spark.sources.synth import (
        SynthConfig,
        synth_pages,
        synth_robots,
        synth_seeds,
    )

    spark = _spark("bench-extra-epoch")
    _warm(spark)
    pages_dir = tempfile.mkdtemp(prefix="bx_pages_")
    root = tempfile.mkdtemp(prefix="bx_cat_")
    try:
        base = SynthConfig.from_sf_dir(spark, SF_DIR)
        synth_pages(spark, SF_DIR, base).write.mode("overwrite").parquet(
            f"{pages_dir}/pages"
        )
        pages = spark.read.parquet(f"{pages_dir}/pages")
        seeds = synth_seeds(spark, SF_DIR, base)
        robots = synth_robots(spark, SF_DIR, base).persist()
        robots.count()
        cfg = EpochConfig(
            k_per_partition=1 << 17,
            n_partitions=32,
            bloom_m_bits=1 << 24,
            collect_stats=True,
            epoch_seconds=600.0,
        )
        cat = IcebergLike(spark, root)
        bootstrap(spark, cat, seeds, cfg)
        for e in range(n_epochs):
            te = time.time()
            st = run_epoch(spark, cat, pages, robots, cfg)
            print(
                f"epoch {e}: wall={round(time.time() - te, 2)}",
                json.dumps(st.get("phase_walls", {})),
                json.dumps(st.get("write_walls", {})),
                flush=True,
            )
    finally:
        shutil.rmtree(pages_dir, ignore_errors=True)
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "flagship":
        run_flagship()
    elif mode == "epoch":
        run_epoch_probe(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    else:
        names = sys.argv[2:] or HEADLINE
        run_queries(names, sink=("noop" if mode == "noop" else "count"))


if __name__ == "__main__":
    main()
