"""SparkSession construction/tuning for the ODF engine.

Mirrors the reference's session configuration (reference
``src/engine.rs:34-54``) in Spark terms:

- case-sensitive identifiers (``enable_ident_normalization=false``,
  ``src/engine.rs:40-47``) → ``spark.sql.caseSensitive=true``
- Timestamp(ms, UTC) output policy (``src/engine.rs:326-350``) →
  session TZ UTC + ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MILLIS``
- snappy Parquet writer (``src/engine.rs:569-572``) → parquet codec snappy
- ``target_partitions=1`` (``src/engine.rs:38``) is deliberately NOT
  mirrored globally: the reference serializes the whole plan to get
  deterministic offsets/single-file output; here only the offset/write
  stage is single-partition (``coalesce(1)``). Because coalesce is a
  narrow dependency, that stage still reaches back to the plan's last
  exchange: stages before a shuffle run parallel, but an exchange-free
  query runs as one task end to end.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs every ODF operation needs regardless of who
#: built the session (the driver may pass us its own SparkSession).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.caseSensitive": "true",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MILLIS",
    "spark.sql.parquet.compression.codec": "snappy",
    # Pinned, not assumed: ANSI is the default on Spark 4.x but OFF on
    # 3.x, and overflow-loudness contracts (e.g. semdedup's BIGINT
    # dot²·tau products) depend on it — without the pin a 3.x session
    # would silently wrap instead of failing loudly.
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read TIMESTAMP(NANOS) parquet columns as raw nanosecond longs instead
    # of erroring (Spark has no nanosecond timestamp type); sources that hit
    # this convert to TimestampType via timestamp_micros(ns div 1000).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_driver_memory(physical_bytes: int) -> str:
    """The driver heap when ``SPARK_DRIVER_MEM`` is unset: 60% of the
    host's physical memory, capped at 48g. The rest is left to the JVM's
    off-heap use, the Python workers and anything else on the host; a
    fixed 48g let a busy local JVM grow past a small host's memory and
    get OOM-killed."""
    return f"{min(physical_bytes * 6 // 10 >> 20, 48 << 10)}m"


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply ODF runtime confs to an externally-built session
    (idempotent). A conf the session refuses raises: the ODF contract
    (e.g. the ANSI overflow pin) depends on every one of them."""
    for k, v in _RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    return spark


def odf_session(
    app_name: str = "kamu-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for ODF semantics.

    On a real cluster, ``master``/memory come from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]`` with shuffle partitions sized to
    cores (not the 200 default, which over-parallelizes small local data and
    under-parallelizes 100 TB — at scale, set it per-job or rely on AQE
    coalescing from a high initial value).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    )
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or (int(cpus) if cpus.isdigit() else 32)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    for k, v in _RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)
