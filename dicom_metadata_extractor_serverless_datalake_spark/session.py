"""SparkSession factory tuned for the engine.

Local testing runs ``local[N]`` in one JVM; the configuration is chosen so
the same logical plans scale to a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), Arrow for the Pandas-UDF
ingest path, UTC session time zone for deterministic date/timestamp
semantics against the DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

# file:// writes set permissions with one chmod(2) instead of a forked
# `chmod` per file, .crc and directory (jvm/NioLocalFileSystem.java):
# _NIO_FS_CLASS for FileSystem users (lake writes), _NIO_AFS_CLASS for
# FileContext users (streaming checkpoints and state)
_NIO_FS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "nio_local_fs.jar")
_NIO_FS_CLASS = "dicom_metadata_extractor_serverless_datalake_spark.jvm.NioLocalFileSystem"
_NIO_AFS_CLASS = _NIO_FS_CLASS + "$Fs"


def _ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers via addPyFile.

    On a local[] master workers often inherit the driver cwd, which
    masks missing distribution; on a real cluster (and whenever the
    driver runs from another directory) the extraction UDFs need the
    package shipped explicitly. The zip is rebuilt whenever any source
    file is newer than it (stale zips silently run old UDF code)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent, name = os.path.split(pkg_dir)
    zip_base = os.path.join(tempfile.gettempdir(), f"{name}_pyfiles")
    zip_path = f"{zip_base}.zip"
    newest_src = max(
        (
            os.path.getmtime(os.path.join(dirpath, f))
            for dirpath, _dirs, files in os.walk(pkg_dir)
            for f in files
            if f.endswith(".py")
        ),
        default=0.0,
    )
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest_src:
        shutil.make_archive(zip_base, "zip", root_dir=parent, base_dir=name)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already registered in this context
    # Spark's Python stream-source planner (PythonStreamingSourceRunner,
    # the format("dicom") readStream behind DicomLake.watch) hands its
    # worker the pyfiles under SparkFiles/streaming_job, a fixed job-
    # artifact dir that addPyFile never fills: put the zip there too.
    # The planner runs on the driver, so a driver-side link is enough.
    root = spark.sparkContext._jvm.org.apache.spark.SparkFiles.getRootDirectory()
    shipped = os.path.join(root, os.path.basename(zip_path))
    link = os.path.join(root, "streaming_job", os.path.basename(zip_path))
    if os.path.exists(shipped) and not os.path.lexists(link):
        os.makedirs(os.path.dirname(link), exist_ok=True)
        os.symlink(shipped, link)


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 48 GB: a local[] driver
    JVM holds every executor, but asking for more heap than the host can
    back gets the process OOM-killed under load."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, max(1 << 10, total // 2 >> 20))}m"


def get_spark(
    app_name: str = "dicom_metadata_extractor_serverless_datalake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target the driver harness environment: ``local[$SPARK_GRAFT_CPUS]``
    with shuffle parallelism matched to cores (not the 200 default, which
    produces tiny shuffle files locally; on a real cluster callers pass an
    explicit value sized to data volume).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer ShuffledHashJoin over SortMergeJoin when a side can build
        # a per-task hash map (Catalyst still falls back to SMJ otherwise):
        # skips sorting both shuffled sides — q04's 60M⋈4.5M fact join
        # drops 4.5s -> 2.2s at 100x sf0.1 and runs far more steadily
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Runtime bloom-filter join reduction stays at Spark defaults
        # (off for plans this size). Measured on q04 at 60M rows with a
        # 5-round interleaved A/B: ON min 3.61s vs OFF min 2.55s — the
        # blocking bloom-build subquery (scan+agg of 4.6M filtered
        # orders) plus xxhash64 probes on 60M lineitem rows cost more
        # than the ~70% agg-input reduction saves, because the eager
        # per-order aggregation is already cheap per row. On a real
        # cluster where the pruned side pays network shuffle, the
        # default thresholds re-enable it exactly when the sides are
        # big enough to win.
        .config("spark.sql.session.timeZone", "UTC")
        # Report bucket sort order from bucketed scans (Spark lists the
        # bucket files at planning and claims sortedness ONLY when each
        # bucket is a single file, so this is a planning-cost tradeoff,
        # not a correctness one). It lets a window/merge-join over a
        # bucket-sorted single-file-per-bucket layout skip BOTH the
        # exchange and the sort — q31's orders_by_custkey layout reads
        # straight into WindowGroupLimit.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # metadata rows are wide but shallow; 10k rows/Arrow batch keeps
        # the Python worker memory bounded during mapInPandas extraction
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        # Generated-class cache (static: read once per JVM, driver and
        # local executors share it). One pass of the 7 headline queries
        # makes ~104 distinct classes; at the default 100 entries every
        # warm pass re-ran Janino on 38-45 of them (CodegenMetrics
        # compilation count, perfbench conf, 4 vCPU); at 1000 it
        # compiles none.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    conf = dict(extra_conf or {})
    # The driver classpath is read only when the JVM starts, and on a
    # cluster the executors would lack the jar: a session in a running
    # JVM, or on a non-local master, keeps Hadoop's own file:// class.
    if master.startswith("local") and SparkContext._gateway is None:
        cp = conf.get("spark.driver.extraClassPath")
        conf["spark.driver.extraClassPath"] = f"{cp}{os.pathsep}{_NIO_FS_JAR}" if cp else _NIO_FS_JAR
        conf.setdefault("spark.hadoop.fs.file.impl", _NIO_FS_CLASS)
        conf.setdefault("spark.hadoop.fs.AbstractFileSystem.file.impl", _NIO_AFS_CLASS)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def scoped_session(spark: SparkSession, overrides: dict[str, str] | None = None,
                   scoped: SparkSession | None = None) -> SparkSession:
    """A session that shares ``spark``'s context, catalog and cache, whose
    runtime conf is a copy of ``spark``'s with ``overrides`` on top, so a
    query can change its own conf without touching the caller's. A bare
    ``newSession()`` starts from the builder's conf instead and drops what
    the caller set at runtime. ``scoped`` re-syncs an earlier scoped
    session (one that memoizes frames) rather than making a new one."""
    scoped = scoped or spark.newSession()
    mine, want = scoped.conf.getAll, {**spark.conf.getAll, **(overrides or {})}
    for key in mine.keys() - want.keys():
        scoped.conf.unset(key)
    for key, value in want.items():
        if mine.get(key) != value:
            scoped.conf.set(key, value)
    return scoped
