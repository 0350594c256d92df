"""SparkSession builder for the engine.

Centralizes the configuration the whole engine assumes:

- UTC session timezone (required for DuckDB-oracle parity; DuckDB
  timestamps are UTC-naive).
- AQE on (runtime re-planning, skew-join handling, partition
  coalescing) — this is the knob that lets the same declared plans
  survive a 1000-executor / 100 TB deployment without hand-tuning.
- Arrow on for every Python<->JVM boundary (Pandas UDFs,
  toPandas/createDataFrame).
- Shuffle partitions default to the local core count (one task wave;
  each stateful streaming query commits one state store per
  partition per batch); on a real cluster this is overridden by
  AQE's coalescing + the operator wrappers' explicit `repartition`
  calls on big keys.
- Local mode checkpoints streams through Spark's FileSystem checkpoint
  manager: without the native Hadoop library, the FileContext default
  forks a ``readlink`` on every checkpoint rename and existence test,
  which was most of each state-store commit (see ``get_spark``).
  Cluster masters keep Spark's default manager.

Scale note (100 TB): nothing here is local-mode-specific except the
master URL; every other conf is what we would ship on a 1000-executor
cluster (AQE, skew join, broadcast threshold, maxPartitionBytes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_workers_have_package(spark: SparkSession) -> None:
    """Ship this package to the Python workers via addPyFile.

    Cloudpickled kernels (applyInPandas/mapInPandas) reference module
    symbols by name; a host session whose workers don't have the repo
    on sys.path (e.g. the external driver's) would fail to unpickle.
    Idempotent per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_pwp_pyfiles_added", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    zip_base = os.path.join(tempfile.mkdtemp(prefix="pwp_pyfiles_"), "play_with_pulsar_spark")
    zip_path = shutil.make_archive(zip_base, "zip", root_dir=repo_root,
                                   base_dir="play_with_pulsar_spark")
    sc.addPyFile(zip_path)
    sc._pwp_pyfiles_added = True


def _cpus() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 4)
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "play-with-pulsar-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` only affects the master URL in local mode; on a cluster
    the master comes from spark-submit and this arg is ignored.
    """
    cpus = cpus or _cpus()
    shuffle_partitions = shuffle_partitions or cpus
    # SPARK_GRAFT_MASTER lets a deployment point at a real cluster; the
    # local-single-JVM tunings below are gated on the master being local.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    # exact match: "local-cluster[...]" is multi-JVM and must NOT get
    # the single-JVM tunings below
    is_local = master == "local" or master.startswith("local[")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python boundary: always Arrow ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- joins: broadcast anything < 64 MB (dimension tables) ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # catalog tables (bucketed join demos) land outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pwp_warehouse"),
        )
        # quiet the console
        .config("spark.ui.showConsoleProgress", "false")
        # the generated-class cache defaults to 100 entries; a session
        # running the full 70+-query surface evicts and re-Janino-
        # compiles the big dedup/minhash classes (measured 8-15s per
        # recompile). Cache size is cheap; compilation is not.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    if is_local:
        # LOCAL-MODE-ONLY tunings — never shipped to a cluster:
        # - small maxPartitionBytes splits the single small parquet
        #   files so a 32-core local run parallelizes the scan (on a
        #   cluster the 128m default is right);
        # - single-JVM local mode: driver heap IS executor memory. A
        #   large heap + periodic reference GC keeps long sessions from
        #   accumulating pause-inducing garbage between queries
        #   (measured: dedup self-join 18s → 3s steady-state);
        # - file listing stays on the driver. Above 32 paths Spark
        #   lists them with a distributed job; in local mode that job's
        #   tasks run in this same JVM, so it only adds scheduling. The
        #   streaming file source indexes every file of a micro-batch,
        #   so each >32-file batch paid a listing job per query
        #   (measured on a 4-core VM: getBatch 0.5-1.4 s of a 64-file
        #   batch, 0.04-0.07 s without the job); opening a
        #   room-partitioned log with more than 32 rooms paid one too;
        # - stream checkpoints go through the FileSystem API. With no
        #   native Hadoop library, RawLocalFileSystem forks `readlink`
        #   for each link check, which FileContext's rename and exists
        #   make on every offset-log write and state-store commit
        #   (measured on a 4-core VM: 176 forks per 64-file catch-up
        #   round, commitTimeMs 360-456 ms per batch per query; 17-48
        #   ms without). On `file:` paths the semantics match: both
        #   managers check-then-rename over the same LocalFileSystem,
        #   which still writes the .crc files.
        builder = (
            builder.config("spark.sql.files.maxPartitionBytes", "32m")
            .config(
                "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "56g")
            )
            .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager",
            )
            # periodic reference-GC keeps shuffle dirs from piling up
            # over a long session, but a forced FULL GC on a 56g heap
            # pauses seconds — at 1min it lands mid-query and makes
            # bench timings bimodal. 10min amortizes it between
            # bench/test phases instead of inside them.
            .config("spark.cleaner.periodicGC.interval", "10min")
        )
        # Preload pandas/numpy/pyarrow in the worker daemon so forked
        # Python workers inherit them (~300 ms import per fresh worker
        # otherwise — paid on every Python stage's task wave). The
        # daemon module must be importable when the JVM launches it,
        # hence the PYTHONPATH prepend BEFORE the JVM starts. On a
        # cluster the same conf ships via --py-files + executor env.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prev = os.environ.get("PYTHONPATH", "")
        if repo_root not in prev.split(os.pathsep):
            os.environ["PYTHONPATH"] = (
                repo_root + (os.pathsep + prev if prev else "")
            )
        builder = builder.config(
            "spark.python.daemon.module", "play_with_pulsar_spark.spark_daemon"
        ).config("spark.python.worker.reuse", "true")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
