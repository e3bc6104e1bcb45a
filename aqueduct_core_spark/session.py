"""SparkSession factory with scale-appropriate defaults.

AQE on (runtime re-plan + skew-join splitting), Arrow on (vectorized
pandas UDF transfer), small-dim broadcast on.  These are the settings
you would ship in ``spark-defaults.conf`` on the 1000-executor cluster.
In the sandbox, ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``
(the harness's core budget, default 32) — pass ``master`` explicitly,
or set ``AQUEDUCT_MASTER``/``SPARK_GRAFT_CPUS``, on hosts with fewer
cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "aqueduct-core-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the CDC pipeline."""
    # Make the package importable by Python workers even when the
    # driver added it to sys.path at runtime (cluster deployments ship
    # it with ``spark-submit --py-files`` instead; north rule).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_parent}{os.pathsep}{pp}" if pp else pkg_parent

    # effective driver heap: extra_conf override > env > 8g default —
    # Xms below must follow the SAME resolution or a smaller configured
    # heap would produce Xms > Xmx and the JVM refuses to launch
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("AQUEDUCT_DRIVER_MEM", "8g")
    )

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("AQUEDUCT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("AQUEDUCT_SHUFFLE_PARTITIONS", cpus)
    )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime coalescing of small shuffle
        # partitions and automatic skew-join splitting.  The reference
        # hand-tunes Postgres work_mem instead
        # (PostgresqlStorage.java:194-201); Catalyst+AQE owns this here.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every pandas UDF (north rule: no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Parquet writes: snappy is the wire-compression analog of the
        # reference's Brotli/gzip codec (pipe-codec/.../BrotliCodec.java).
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # MIN/MAX/COUNT over parquet answered from footer statistics —
        # makes the per-batch max-lsn bookkeeping metadata-only
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # INT64 micros instead of legacy INT96 timestamps: INT96 chunks
        # carry NO min/max statistics, so every time-predicate scan
        # (TTL marks, hourly watermarks, Z-order time slices) would
        # decode all row groups; micros also read/aggregate-push cleanly
        # in DuckDB/pyarrow and are Iceberg's own representation.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Stat explicit file lists on the driver instead of in a Spark
        # job.  Every table read names its files from a manifest (and
        # the catalog is POSIX-only: it claims versions with os.link),
        # so "listing" is one local stat per file; past Spark's default
        # of 32 paths it launched a parallel listing job instead, and
        # building a fold's read over 96-128 delta files took 0.8-1.1 s
        # with that job against 0.27-0.37 s without (perfbench
        # bulk_replay, 4-core VM, local[4]).  Sessions the engine does
        # not build (spark-submit of tools/submit_replay.py, a host
        # harness's own session) keep Spark's default: correct, but
        # each read over more than 32 files pays the listing job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(1 << 20))
        # Local mode: keep the UI off and the driver lean.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # Throughput GC: the pipeline is batch-shaped (large short-lived
        # allocations, no latency SLO); ParallelGC measured ~10-25%
        # faster than G1 on the replay at every core count, and its
        # stop-the-world collections don't steal cores from pinned
        # executors the way G1's concurrent threads do.  Xms = Xmx:
        # heap-growth collections during the first minutes of a replay
        # measured +25-85% GC wall (814-1357 ms vs 548-690 ms on the
        # 28.5M-event replay) and a ±1-3 s throughput spread; committing
        # the heap up front is standard batch-JVM practice.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "AQUEDUCT_DRIVER_JAVA_OPTS",
                f"-XX:+UseParallelGC -Xms{driver_mem}",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
