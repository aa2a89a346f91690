"""SparkSession factory tuned for the engine.

Local test profile: ``local[N]`` single-JVM. Cluster profile: the same
builder options minus master; partition sizing scales with
``spark.sql.shuffle.partitions`` which callers override per deployment.

Scale notes (100 TB design):
- AQE on: runtime coalescing, skew-join splitting, broadcast demotion.
- ``spark.sql.shuffle.partitions`` is a *default*; large production jobs
  should let AQE coalesce from a high initial number (e.g. 2000-8000)
  rather than hand-tuning per query.
- UTC session timezone is mandatory — the engine standardizes all event
  time on UTC timestamps (SURVEY.md §7 "hard parts": the reference mixes
  now()/utcnow()/epoch-ms; we do not).
- Arrow enabled for the pandas-UDF slow path (D3-D7 operators only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "aml_feature_store_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config.

    ``master`` defaults to ``local[N,2]`` and ``shuffle_partitions`` to N,
    where N is the number of CPUs this process may run on."""
    # glibc malloc tuning for the Python workers (they inherit the JVM's
    # env, which inherits ours when the gateway spawns it — so set BEFORE
    # getOrCreate): without this, every >128 KB numpy buffer is a fresh
    # mmap/munmap, and /proc/stat profiling of the allocation-heavy
    # kernels showed 70-85% of CPU burned in the kernel on page-fault /
    # THP-compaction churn with multi-x run-to-run variance. Raising the
    # thresholds serves big buffers from the reusable heap. Workers may
    # retain up to ~256 MB each — sized for the local[32]/128 GB test
    # profile; cluster deployments tune per executor memory.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(256 * 1024 * 1024))
    cpus = len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # legacy testdata stored ts as TIMESTAMP(NANOS) which Spark's µs
        # TimestampType cannot read; with this flag such columns load as
        # epoch-ns long and sources.tables.load_events converts them (the
        # flag is inert for native µs files — load_events sniffs the footer)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # a crashed Python worker dumps its native-frame traceback instead
        # of dying silently as a bare daemon BrokenPipeError (the r7 100x
        # bench lost one 10M-event sample to an untraceable worker death)
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        # local[N,2] = one task retry, mirroring a real cluster's
        # spark.task.maxFailures=4 (local mode otherwise aborts the whole
        # job on the FIRST task failure — a single transient worker crash
        # zeroed a 55-minute bench section in r7). The conf key is ignored
        # in local mode; only the master string sets it. A deterministic
        # failure still fails: it just fails twice first.
        builder = builder.master(f"local[{cpus},2]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
