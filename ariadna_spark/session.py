"""SparkSession factory tuned for the sandbox (local[N]) but written so the
same settings hold on a real multi-executor cluster: AQE on, Arrow on,
shuffle partitions sized to parallelism rather than the 200 default.
"""

from __future__ import annotations

import os
import threading
import warnings

from pyspark.sql import SparkSession

# guards the once-per-session warm-up marker (check-then-set)
_warm_lock = threading.Lock()


def _local_dir() -> str:
    for cand in (os.environ.get("SPARK_GRAFT_LOCAL_DIR"), "/dev/shm"):
        if cand and os.path.isdir(cand):
            d = os.path.join(cand, "spark-local")
            try:
                os.makedirs(d, exist_ok=True)
                return d
            except OSError:
                continue
    return "/tmp"


def _warm_python_workers(spark: SparkSession) -> None:
    """Fire a trivial mapInArrow job so the session's python workers spawn
    and import numpy/pandas/pyarrow NOW, overlapped (FAIR scheduler) with
    whatever the driver does next — measured ~2.5s of first-Python-job
    wall time at local[32] that otherwise lands inside the first real
    kernel stage. A failure only costs that overlap (the real job warms
    lazily), so it is reported as a warning, not raised."""

    def _k(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401 — the query kernels are applyInPandas;
        # without this the FIRST query pays the pandas import per worker
        import pyarrow  # noqa: F401
        import pyarrow.compute  # noqa: F401

        yield from batches

    try:
        par = spark.sparkContext.defaultParallelism
        # one row per partition, numPartitions set at the source: par
        # tasks cover every worker slot in a SINGLE stage (the former
        # range->repartition shape paid a shuffle for the same coverage)
        (
            spark.range(0, par, 1, par)
            .mapInArrow(_k, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
    except Exception as e:  # noqa: BLE001 — warm-up is best-effort by design
        warnings.warn(f"python worker warm-up failed: {e!r}", RuntimeWarning)


def ensure_workers_warm(spark: SparkSession) -> threading.Thread | None:
    """Start the worker warm-up ONCE per session, from a daemon thread.

    Called at session creation (so the fork+import cost overlaps the
    driver-side setup that follows — data loading, plan building) and
    again defensively at index-build entry for sessions constructed
    elsewhere; the marker makes the second call free. Returns the
    started thread, or None when the session was already warmed."""
    with _warm_lock:
        if getattr(spark, "_ariadna_workers_warmed", False):
            return None
        spark._ariadna_workers_warmed = True
    t = threading.Thread(target=_warm_python_workers, args=(spark,), daemon=True)
    t.start()
    return t


def default_codecs(cores: int) -> tuple[str, str]:
    """(parquet codec, shuffle/io codec) for a `cores`-slot session.

    A bandwidth-for-CPU trade, bought only when per-core bandwidth is the
    scarce resource. Measured in interleaved A/B builds at 1M docs:
    parquet snappy 341/317s vs zstd 219/221s (artifacts 1082 MB -> 761 MB)
    and shuffle lz4 286/300s vs zstd 255/230s at local[32], where 32
    tasks contend for the memory bus — but at local[2] (CPU-bound,
    bandwidth idle) zstd builds are ~15% SLOWER (217/248 vs 257/278 at
    300k docs). So the default scales with parallelism: heavy codecs from
    8 cores up (the cluster-executor regime, where NIC/disk/memory-bus
    contention is the norm), light ones below. ARIADNA_PARQUET_CODEC /
    ARIADNA_IO_CODEC override each for A/B; an empty value counts as
    unset."""
    heavy = cores >= 8
    return (
        os.environ.get("ARIADNA_PARQUET_CODEC") or ("zstd" if heavy else "snappy"),
        os.environ.get("ARIADNA_IO_CODEC") or ("zstd" if heavy else "lz4"),
    )


def default_driver_memory(meminfo: str) -> str:
    """spark.driver.memory for a machine whose /proc/meminfo reads
    `meminfo`: half its MemTotal in whole GiB, at least 1g and at most
    24g. The JVM grows its heap lazily toward the cap, so a cap above the
    machine's memory lets one session push the host out of memory before
    a full GC runs; half leaves room for the Python workers. Without a
    MemTotal line (not Linux) the cap is 24g."""
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            kib = int(line.split()[1])
            return f"{min(24, max(1, kib // (2 << 20)))}g"
    return "24g"


def _meminfo() -> str:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:  # no procfs: default_driver_memory falls back to 24g
        return ""


def get_spark(
    app_name: str = "ariadna_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 2x cores: enough granularity for AQE to coalesce, not so many that
        # task overhead dominates at local scale. On a 1000-executor cluster
        # this would be set to ~2-3x total cores instead.
        shuffle_partitions = max(cores * 2, 8)
    # Preload numpy/pandas/pyarrow in the python-worker DAEMON so forked
    # workers inherit them copy-on-write (worker_daemon.py): the first
    # Python-boundary job otherwise pays ~2.5s of parallel imports at
    # local[32]. Local mode: the JVM (and thus the daemon) inherits this
    # process's env, so extending PYTHONPATH makes the module importable
    # by the daemon's fresh interpreter; on a cluster ship the module via
    # --py-files instead.
    _repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _repo_root not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _repo_root + (os.pathsep + _pp if _pp else "")
        )
    parquet_codec, io_codec = default_codecs(cores)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # FAIR task scheduling: the engine overlaps independent jobs from
        # driver threads (index build phases, python-worker warm-up — guide
        # §2.6); FIFO would let a 32-task job camp on every slot while a
        # 2-task map stage waits, serializing exactly the jobs we overlap.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.python.daemon.module", "ariadna_spark.worker_daemon")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(_meminfo()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Text pipelines are allocation-heavy in the JVM (parquet string
        # decode, Arrow ferrying); measured: G1 with a small heap anti-scales
        # past ~8 local cores, throughput-oriented ParallelGC + headroom
        # restores linearity. On a real cluster this is per-executor sizing.
        .config("spark.driver.extraJavaOptions", os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"))
        # Shuffle spill dir: the sandbox's ext4 virtual disk serializes
        # under concurrent writers (measured: a 1.5s shuffle takes 19s at 32
        # threads); tmpfs restores flat behavior. On a real cluster this is
        # the executors' local NVMe, which is per-node and scales with N.
        .config("spark.local.dir", _local_dir())
        # compression codecs scale with parallelism (default_codecs)
        .config("spark.sql.parquet.compression.codec", parquet_codec)
        .config("spark.io.compression.codec", io_codec)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_workers_warm(spark)
    return spark
