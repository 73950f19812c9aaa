"""Fixed-overhead probe for run_epoch: drive epochs over a MICRO corpus
(400 pages) where executor compute is negligible, so the epoch wall ≈
the per-epoch fixed constant (driver plan-build + job scheduling +
commit I/O). This constant is what caps the two-parallelism scaling
efficiency (BENCH/BASELINE.md): it does not shrink with cores, so
every millisecond cut here raises crawl_eff at the high-core end.

Usage: python tools/epoch_overhead_probe.py [n_epochs=4] [cpus=8]
Prints per-epoch wall, the context's persistent-RDD count after the
epoch (it must stay at its pre-epoch value: a frame whose checkpoint
blocks were not released shows as growth) and phase walls; compare
medians across code changes (same box, same session shape).
"""

import sys
import tempfile
import shutil
import time

sys.path.insert(0, ".")

from hiispider_spark.session import get_spark  # noqa: E402
from hiispider_spark.sources.synth import (  # noqa: E402
    SynthConfig, synth_pages, synth_seeds, synth_robots,
)
from hiispider_spark.sources.catalog import IcebergLike  # noqa: E402
from hiispider_spark.plans.epoch import (  # noqa: E402
    EpochConfig, bootstrap, run_epoch,
)


def main() -> None:
    n_epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark = get_spark(cpus=cpus, shuffle_partitions=cpus)
    sf = "/root/testdata/sf0.001"
    tiny = SynthConfig(n_pages=400, n_docs=500)
    pages = synth_pages(spark, sf, tiny).persist()
    pages.count()
    robots = synth_robots(spark, sf, tiny)
    cfg = EpochConfig(
        k_per_partition=8, n_partitions=8, bloom_m_bits=1 << 17
    )
    root = tempfile.mkdtemp(prefix="overhead_probe_")
    cat = IcebergLike(spark, root)
    bootstrap(spark, cat, synth_seeds(spark, sf, tiny), cfg)
    persistent = spark.sparkContext._jsc.sc().getPersistentRDDs
    print(f"persistent RDDs before epoch 1: {persistent().size()}")
    walls = []
    for _ in range(n_epochs):
        t0 = time.time()
        st = run_epoch(spark, cat, pages, robots, cfg)
        w = time.time() - t0
        walls.append(w)
        print(
            f"epoch {st['epoch']}: wall={w:.2f}s "
            f"persistent_rdds={persistent().size()} "
            f"phases={st['phase_walls']}"
        )
    warm = sorted(walls[1:]) if len(walls) > 1 else walls
    print(f"median warm epoch wall: {warm[len(warm) // 2]:.2f}s")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
