"""SparkSession factory.

Mirrors the reference's session configuration
(``spark-streaming/multi_source_streaming_processor.py:28-47``): AQE
enabled with partition coalescing and a 128 MB advisory partition
size, Kryo serialization — minus the Hudi/HDFS/Kafka package wiring,
which this engine replaces with stock parquet + an upsert lake sink
(see streaming/lake.py).

Scale notes (the configs that matter at 100 TB / 1000 executors):

* ``spark.sql.adaptive.enabled`` + coalescing — runtime re-plan fixes
  over-partitioned shuffles and skewed joins without hand-tuning.
* ``spark.sql.adaptive.skewJoin.enabled`` — splits skewed shuffle
  partitions on big fact-fact joins.
* session timezone pinned to UTC so event-time semantics are
  deterministic across clusters (and match the DuckDB oracle).
* Arrow enabled so any pandas-UDF path is columnar-batched, never
  row-at-a-time pickling.

Sizing comes from the machine, not from tuned constants:

* ``spark.sql.shuffle.partitions`` defaults to the session's core
  count (``defaultParallelism``, the N of ``local[N]``). Structured
  Streaming freezes it into every stateful query's checkpoint, and
  each state-store partition pays an open, commit and delta-file cost
  on every trigger, so more partitions than cores only adds per-batch
  overhead; AQE coalescing already sizes batch shuffles by bytes.
* ``spark.driver.memory`` is half of physical RAM (``MemTotal``):
  ``local[N]`` runs driver and executors in one JVM whose stock 1 GiB
  heap dies under checkpoint and broadcast pressure, and the other
  half stays for Python workers and the page cache.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def _driver_memory() -> str | None:
    """Half of ``MemTotal`` as a JVM size; None where /proc/meminfo is
    not available (Spark's default applies)."""
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return None
    return f"{kib // 2 // 1024}m"


def get_session(
    app_name: str = "spark-graft-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``, else one slot per CPU this
    process may run on. ``shuffle_partitions`` (or the key in
    ``extra_conf``) overrides the core-count default.
    """
    # Pin per-process BLAS/OpenMP pools to ONE thread for every Python
    # worker: a Spark task is already the unit of parallelism, so an
    # unpinned OpenBLAS spawns ncpu threads PER worker — 32 workers ×
    # 32 BLAS threads = ~1000 runnable threads thrashing one box.
    # Measured on the sf1 sweep: every numpy/Arrow-UDF-backed query
    # ran 4-11× slower unpinned (embedding_near_dup_pairs 26 s →
    # 301 s; pure-JVM queries unaffected). Set BEFORE the JVM
    # launches so pyspark.daemon and its forked workers inherit it;
    # executorEnv carries the same pin to real cluster executors.
    # (Driver-side numpy — 64×64 eigensolves, trainer replays — is
    # unaffected: those run before/outside workers and their
    # matrices are too small for BLAS threading to matter.)
    _blas_vars = (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    )
    for var in _blas_vars:
        os.environ.setdefault(var, "1")

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif SparkSession.getActiveSession() is None:
        builder = builder.master(f"local[{DEFAULT_CPUS}]")

    conf = {
        # reference parity: MSP:36-40
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128MB",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        # scale: AQE skew-join split for fact-fact joins
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scale: runtime bloom-filter semi-join pruning — a selective
        # dim filter reaches the fact scan as a row-level bloom probe
        # even when static partition pruning can't apply
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # deterministic event-time + oracle parity
        "spark.sql.session.timeZone": "UTC",
        # Arrow for every pandas-UDF / toPandas path
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # let custom Python data sources receive pushed filters
        # (sources/cdc_source.py clamps its generated range with them)
        "spark.sql.python.filterPushdown.enabled": "true",
        # keep local runs quiet and snappy
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": "64MB",
    }
    for var in _blas_vars:
        conf[f"spark.executorEnv.{var}"] = os.environ[var]
    # only effective when set before the JVM launches
    driver_memory = _driver_memory()
    if driver_memory:
        conf["spark.driver.memory"] = driver_memory
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
