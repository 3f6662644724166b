"""SparkSession factory with engine defaults (local-mode testing;
multi-executor design — every setting here is cluster-safe)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Python worker daemon with the zip-import fix (``mvtspark/daemon.py``);
#: ``get_spark`` and ``jobs/run_pipeline.py`` both set it
PYTHON_DAEMON_CONF = ("spark.python.daemon.module", "mvtspark.daemon")


def _default_driver_mem() -> str:
    """24g, or half the host's memory where that is less: the driver JVM
    grows its heap lazily toward the limit, and a limit above the host's
    memory lets a long session grow until the kernel kills the JVM."""
    host_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{max(1, min(24, host_gib // 2))}g"


def get_spark(
    app: str = "mvtspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build/get a session.

    - AQE on (runtime re-plan, skew-join splitting, partition coalescing)
    - Arrow on (every kernel crosses JVM↔Python as Arrow batches)
    - shuffle partitions ~ cores (local) — on a real cluster, pass
      ``shuffle_partitions ≈ 2-3 × total executor cores``
    - UTC session TZ for DuckDB-oracle comparability
    - the ``mvtspark.daemon`` Python worker daemon, which stops every
      task from re-reading ``pyspark.zip`` (the workers must be able to
      import ``mvtspark``, as every UDF here already requires)
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level filtering: a selective dim predicate builds a
        # bloom filter that prunes the FACT scan before the shuffle join
        # — at 100 TB the application side always clears the (default
        # 10 GB) scan-size threshold, so the filter injects exactly when
        # it pays; tests/test_runtime_filter.py pins the injection by
        # lowering the threshold to simulate at-scale conditions
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # fall back from whole-stage codegen when the generated method
        # would exceed HotSpot's DontCompileHugeMethods limit (8000
        # bytecodes): beyond it the method never JITs and runs in the
        # bytecode interpreter — observed as 10-60x slowdowns on
        # expression-heavy stages (many regex/string features per row)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory",
                os.environ.get("MVTSPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config(*PYTHON_DAEMON_CONF)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
