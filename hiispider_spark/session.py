"""SparkSession factory with the engine's canonical configuration.

Deterministic, oracle-friendly (UTC timestamps), Arrow-enabled, AQE on.
Local-mode parallelism comes from ``cpus``; on a real cluster the same
configs apply and ``master`` is supplied by spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Number of shuffle partitions doubles as the frontier bucket count P in
# sandbox runs; at 10^10-URL scale P would be O(10k) and set at table
# creation, independent of executor count (ordering must be a pure
# function of table state, never of parallelism — SURVEY.md §7).
DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app: str = "hiispider_spark",
    cpus: int | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html:binary flows through Arrow batches — cap batch size so a
        # batch of page bodies stays well under executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        # trade CPU for disk bytes: table writes + shuffle are the only
        # resources that DON'T scale with threads on this single-virtio-
        # disk sandbox (phase decomposition: writes 51 s @4 threads →
        # 80 s @16 while compute halved). zstd roughly halves both
        # volumes; on a real cluster it still wins — shuffle/scan bytes
        # are the cluster currency too.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # write timestamps as TIMESTAMP_MICROS, not the legacy INT96
        # default: INT96 columns carry NO row-group min/max statistics,
        # so the dequeue's next_fetch_ts predicate could never prune a
        # row group no matter how the frontier is laid out (the whole
        # point of catalog.SORT_COLS). MICROS also reads faster and is
        # what every other engine (DuckDB, Arrow, Trino) writes.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.shuffle.compress", "true")
        # FAIR scheduling across concurrently-submitted jobs: the only
        # concurrency is the epoch's per-table write pool (and the two
        # streaming ingest loops), where FIFO lets a 1-task write
        # (neg_cache/lineage/politeness) starve behind the big
        # frontier/seen_set jobs — measured as a ~6 s straggler tail on
        # the first epoch's write phase. Threads opt in by setting the
        # spark.scheduler.pool local property (run_epoch does);
        # single-job phases are unaffected by scheduler mode.
        .config("spark.scheduler.mode", "FAIR")
        # local mode: driver heap is ALL memory. Wide rows (html bytes)
        # need ~task_concurrency × partition_bytes of headroom — 8g with
        # 32 tasks of 200MB+ partitions OOMs; default generously, but to
        # a quarter of physical RAM at most: the JVM grows its heap
        # toward the cap rather than collecting, and a cap above RAM
        # gets the process OOM-killed.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", f"{min(48 << 10, ram_mb // 4)}m"),
        )
    )
    # Shuffle/spill scratch on the fastest local device (guide §6:
    # shuffle bytes are disk bytes). This sandbox's only disk is one
    # shared virtio device whose multi-second stalls were measured as
    # the dominant variance in every shuffle-heavy query (identical
    # code: 2 s quiet vs 16 s under a disk stall), while RAM sits at
    # <15 % used — so scratch defaults to tmpfs when present. The same
    # knob on a real cluster points at local NVMe (standard Spark ops
    # practice); env-overridable either way, and Spark's own
    # SPARK_LOCAL_DIRS takes precedence if set. State-table WRITES are
    # unaffected (they go to the catalog root the caller chose).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "")
    if not local_dir and os.path.isdir("/dev/shm") and os.access(
        "/dev/shm", os.W_OK
    ):
        local_dir = "/dev/shm/spark-scratch"
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # JVM JIT headroom for the generated-code working set (env-tunable;
    # applies on first JVM launch of the process — later sessions in the
    # same process inherit it). An analytics session compiles hundreds
    # of whole-stage-codegen classes; the JVM's 240 MB default code
    # cache triggers silent flushing (UseCodeCacheFlushing) under that
    # load, evicting still-hot compiled methods which then run
    # interpreted again — observed as multi-second stalls that move
    # from query to query between identical runs. Not parallelism- or
    # scale-specific: any executor JVM running this engine's plans has
    # the same generated-code volume.
    jvm_flags = os.environ.get("SPARK_GRAFT_JVM_FLAGS", "")
    if jvm_flags:
        builder = builder.config(
            "spark.driver.extraJavaOptions", jvm_flags
        ).config("spark.executor.extraJavaOptions", jvm_flags)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
