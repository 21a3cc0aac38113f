"""SparkSession factory with scale-aware defaults.

Local mode is for tests only; every config here is chosen to also be the
right default on a real multi-executor cluster:

- AQE on (runtime partition coalescing + skew-join splitting),
- shuffle partitions sized to cores locally (on a cluster AQE re-coalesces),
- UTC session timezone (parquet timestamps are naive; the DuckDB oracle
  compares values in UTC),
- Arrow enabled for the Pandas-UDF slow path,
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``). PySpark wraps every
  DataFrame method and every ``functions`` call to record its Python call
  site in the JVM: an active-session lookup, a JVM class lookup, a conf
  read, an origin set and clear, and a failed IPython import probe. One
  ``F.col`` cost 13 py4j round trips and ~2.2 ms with it on, 3 and ~0.7 ms
  with it off, and the screens build thousands of Column expressions per
  epoch. Trade-off: an analysis error's DataFrame query context no longer
  names the Python line that built the failing expression (the error
  message and the plan are unchanged). The conf is static, so it can only
  be set when the session is built.

Two file-I/O defaults hold for ``local[N]`` only, which is every session
this factory builds; a cluster's HDFS or object store needs neither:

- ``file://`` is Hadoop's ``RawLocalFileSystem`` (``spark.hadoop.fs.file.impl``),
- the streaming checkpoint manager is ``FileSystemBasedCheckpointFileManager``
  (``spark.sql.streaming.checkpointFileManagerClass``).

Structured Streaming makes durable writes on every micro-batch: an
offset-log entry, state-store deltas, a commit-log entry and the sink's
files. Without the native ``libhadoop``, the default checksummed local
filesystem forks a ``chmod`` for each ``setPermission`` (and writes a
hidden ``.<name>.crc`` sidecar per file, chmod-ed as well), and the default
FileContext-based checkpoint manager forks a ``readlink`` to resolve links
on almost every call, at ~4-5 ms per fork. One 100-byte checkpoint file
(create, write, atomic rename, driven from Python) took 44-88 ms that way
and 11-19 ms with plain create + rename on a 4-core VM. A rename within
one local POSIX filesystem is atomic, which is all the checkpoint logs
need (DELIVERY.md); no hidden ``.crc`` sidecars are written (Spark's own
state-file checksums, ``<name>.crc``, stay).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession, functions as F

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "solace_apache_beam_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions default to cores; SPARK_GRAFT_SHUFFLE_PARTITIONS
        # raises them for stress-scale runs (smaller sorts per task, fewer
        # spill files to merge — AQE re-coalesces small stages either way)
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus)),
        )
        # every spill-file reader allocates a 1 MB buffer (the config
        # floor) and read-ahead DOUBLES it plus spawns a thread per
        # file; with 32 concurrent tasks merging many spill files the
        # buffer pile-up alone OOMs a shared local heap. Read-ahead off
        # halves the fixed cost; sequential spill merges lose nothing
        # measurable on page-cached local disk.
        .config("spark.unsafe.sorter.spill.read.ahead.enabled", "false")
        # the generated-class cache defaults to 100 entries — far below
        # what a multi-query session (83 bench queries) or a streaming
        # loop (every epoch bakes a fresh epoch-id literal into its
        # write projections) generates. At the default, the ingestion
        # loop hit periodic cache-thrash storms: one random epoch per
        # run stalled 10-20 s with every executor thread recompiling
        # codegen + class-probing through task deserialization (round
        # 14, jstack-diagnosed). A compiled class is a few KB; 2000
        # entries is noise next to the 8g driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # historical driver testdata stored timestamps as TIMESTAMP(NANOS),
        # which vanilla Spark rejects; keep the shim so either vintage of
        # the parquet reads (current data is plain micros — see load_table)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # the console progress bar writes \r-interleaved lines that can
        # corrupt machine-parsed stdout (the driver reads bench.py's one
        # JSON line); no progress bar in any programmatic session
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # local file I/O without the per-file readlink/chmod forks, and no
        # per-call call-site capture (module docstring); static confs
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# columns some vintages of the driver's parquet stored as TIMESTAMP(NANOS);
# surfaced as long (nanos) under nanosAsLong and converted back here
_NANOS_TS_COLUMNS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table (TESTDATA.md), normalizing
    timestamp storage so downstream operators see one type regardless of
    the parquet vintage:

    - TIMESTAMP(NANOS) -> read as long (nanosAsLong) -> TimestampType
    - plain ``timestamp[us]`` (no timezone, the current testdata) -> Spark
      reads it as TIMESTAMP_NTZ -> cast to TimestampType. The session TZ
      is pinned UTC, so wall-clock values are unchanged and the DuckDB
      oracle comparison is unaffected; without the cast, NTZ columns
      reject epoch arithmetic (``cannot cast TIMESTAMP_NTZ to BIGINT``).
    """
    # the driver runs queries under its own SparkSession; the nanos
    # timestamp conf is runtime-settable, so pin it here too
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    for col in _NANOS_TS_COLUMNS.get(name, []):
        if dict(df.dtypes).get(col) == "bigint":
            # integer div — a double division would lose precision at
            # epoch-nanos magnitude (~1.7e18 > 2^53)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df
