"""SparkSession construction with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB design point and merely *tested*
on local[N]: AQE for runtime re-planning and skew-join splitting, Arrow for
the Python exchange, bounded Arrow batches so multi-MB transcript turns
don't blow executor-python memory, and a shuffle-partition count that the
caller scales with cluster size. Python workers start from
``ocr_spark._daemon``, which imports pyspark from site-packages when it is
the JVM's version.

A local session is sized to the machine it starts on: one task slot per CPU
this process may run on, and a driver heap of a third of the memory it can
see, at most 8 GB, so that two sessions fit beside each other.
``SPARK_GRAFT_CPUS`` and ``SPARK_DRIVER_MEMORY`` override the two.

Plain parquet reads in the package go through :func:`read_parquet`, which
infers a file's schema once and hands it to later reads of the same file.
"""
from __future__ import annotations

import os
import stat

from pyspark import SparkConf, SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ocr_spark._daemon import VERSION_ENV

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def visible_memory_bytes() -> int | None:
    """The memory this process can use: the cgroup (v2) ``memory.max``
    limit or the machine's ``MemTotal``, whichever is smaller; None when
    neither can be read."""
    sizes = []
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit != "max":
            sizes.append(int(limit))
    except (OSError, ValueError):
        pass
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    sizes.append(int(line.split()[1]) * 1024)
                    break
    except (OSError, ValueError):
        pass
    return min(sizes) if sizes else None


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else a third of the visible memory,
    between 1 GB and 8 GB (8 GB when the memory cannot be read)."""
    explicit = os.environ.get("SPARK_DRIVER_MEMORY")
    if explicit:
        return explicit
    total = visible_memory_bytes()
    if total is None:
        return "8g"
    return f"{min(max(total // 3 >> 20, 1024), 8192)}m"


def get_spark(
    app_name: str = "ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = DEFAULT_CPUS
    heap = default_driver_memory()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: match core count; on a real cluster pass ~2-3x total cores
        shuffle_partitions = max(cpus, 8)
    # Python workers import ocr_spark through the PYTHONPATH the JVM is
    # launched with; outside the repo root they could not find it
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.environ.get("PYTHONPATH")
    if root not in (path or "").split(os.pathsep):
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, path) if p)
    conf = (
        SparkConf().setAppName(app_name)
        .setMaster(master)
        .set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce tiny shuffle partitions, split skewed ones at runtime
        .set("spark.sql.adaptive.enabled", "true")
        .set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .set("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow exchange for pandas UDFs; bound batch size for long turns
        .set("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 2048 measured best on the 1.9M-turn job (108.7 s vs 123.6 s at
        # 1024 and 131.4 s at 8192, same box/day): big batches serialize
        # the JVM->Python pipeline into lumpy tails, tiny ones pay
        # per-batch overhead
        .set("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # target split size for the initial scan: extraction does ~1000x
        # more compute per byte than a plain scan, so splits must be sized
        # for CPU balance, not IO efficiency — 16 MB keeps every core busy
        # from the first stage (128 MB coalesced a 300 MB input to 3 tasks,
        # serializing the scan+shuffle stage; measured 2026-08-17)
        .set("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # lz4 parquet sink: encode CPU is the asymmetric cost when cores
        # are scarce — at 12 Python-UDF slots on the 32-core box the sink
        # eats ~14% of full-job throughput (vs ~5% at 3 slots), and
        # lz4-vs-snappy buys +3.5% full-job at local[12] (8,608 vs 8,320
        # turns/s median, same input/day) while local[3] is unchanged
        # within noise. At 100 TB the same arithmetic holds wherever
        # executor cores are the binding resource; text compresses
        # comparably under either codec.
        .set("spark.sql.parquet.compression.codec", "lz4")
        .set("spark.driver.memory", heap)
        # pre-commit and pre-touch the heap: the first big-shuffle stage
        # otherwise pays the heap-growth tax — threads stall off-CPU in
        # allocation/page faults while the JVM grows from its initial
        # size (stage forensics: 4355 s task runtime / 1550 s CPU cold
        # vs 224/218 warm on the IDENTICAL stage; a cold sf1 winnow run
        # drops 112-292 s -> 48 s with a pre-touched heap). Pre-touch
        # costs seconds once at startup, linear in heap size. In
        # spark-submit deployments the driver JVM is already up when
        # this function runs — set the same flags on the submit command.
        .set(
            "spark.driver.extraJavaOptions",
            "-Xms" + heap + " -XX:+AlwaysPreTouch",
        )
        .set("spark.ui.enabled", "false")
        # no Python call-site capture: with it on, every Column function
        # records its caller's file:line in the JVM (about five py4j round
        # trips each), which slows every plan the driver builds. A DataFrame
        # error then lacks that file:line in its context; the error itself
        # is unchanged. PySpark reads this once, at the first Column call,
        # so it must be in the conf the session starts with
        .set("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        conf.set(k, v)
    # Python workers start from ocr_spark/_daemon.py, which imports pyspark
    # from site-packages when it is the JVM's version: start the JVM first
    # to read it. A worker imports that module before any task ships code,
    # so only a local JVM with this package's directory on its PYTHONPATH
    # qualifies (set above when this call starts the JVM; not so under
    # spark-submit --py-files)
    SparkContext._ensure_initialized(conf=conf)
    jvm = SparkContext._jvm
    worker_path = (jvm.java.lang.System.getenv("PYTHONPATH") or "").split(os.pathsep)
    local = conf.get("spark.master").startswith("local")
    if local and os.path.isdir(root) and root in worker_path:
        conf.set("spark.python.daemon.module", "ocr_spark._daemon")
        conf.set(f"spark.executorEnv.{VERSION_ENV}", jvm.org.apache.spark.package.SPARK_VERSION())
    return SparkSession.builder.config(conf=conf).getOrCreate()


#: the session settings Spark 4.1's parquet schema inference reads
#: (``ParquetFileFormat.inferSchema`` and ``ParquetToSparkSchemaConverter``)
SCHEMA_SETTINGS = (
    "spark.sql.caseSensitive",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.variant.allowReadingShredded",
)

_schemas: dict[tuple, StructType] = {}


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)``, without a Spark job on a re-read.

    Spark infers a parquet schema with a job that reads the footers. When
    every path is a regular file, the inferred schema is kept under the
    files' resolved paths, device, inode, size and mtime, and the
    session's values of :data:`SCHEMA_SETTINGS`; a later read with the
    same key passes it to ``spark.read.schema``. A rewritten file or a
    changed setting misses and is inferred again. Directories and
    anything else pass straight through."""
    files = []
    for p in paths:
        real = os.path.realpath(p)
        try:
            st = os.stat(real)
        except OSError:
            return spark.read.parquet(*paths)
        if not stat.S_ISREG(st.st_mode):
            return spark.read.parquet(*paths)
        files.append((real, st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns))
    key = (tuple(files), tuple(spark.conf.get(k) for k in SCHEMA_SETTINGS))
    schema = _schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    df = spark.read.parquet(*paths)
    _schemas[key] = df.schema
    return df
