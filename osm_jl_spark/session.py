"""SparkSession factory with scale-aware defaults.

Tuned for the target design point (1000-executor cluster, ~100 TB
input) but parameterized so local[N] testing uses the same code path:
AQE on (runtime re-plan + skew-join splitting), Arrow on (every UDF in
this engine is a pandas UDF), shuffle partitions sized to cores locally
(on a real cluster, leave at 2-3x total cores or let AQE coalesce).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "osm_jl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores=None`` -> ``local[*]``. In cluster deployments the caller
    passes no master at all (spark-submit provides it); here we only
    ever run local-mode, so master is always set.
    """
    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, n)

    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # deterministic float formatting / parsing and overflow safety
        .config("spark.sql.ansi.enabled", "true")
        # broadcast up to 64 MB dimension tables (polygon sets, covers)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no Python call-site capture per Column operator: it costs
        # several py4j round trips each while a plan is built (858 ->
        # 384 for the flagship). Errors raised from SQL text still name
        # their fragment (pinned in tests/test_plan_build.py).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def sf_from_dir(sf_dir: str) -> float:
    """Extract the scale factor from a path like '/root/testdata/sf0.01'."""
    base = os.path.basename(os.path.normpath(sf_dir))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.01
