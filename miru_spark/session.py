"""SparkSession factory tuned for the engine.

Local mode is used for tests/bench; the same conf block is what a
``spark-submit --py-files`` deployment would carry to a real cluster
(AQE on, Arrow on, UTC, shuffle partitions sized to cores).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "miru_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    On a real cluster, pass ``master=None`` and let spark-submit decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    ncores = _master_cores(master, cpus)
    if shuffle_partitions is None:
        shuffle_partitions = max(ncores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(ncores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd over snappy: −44% segment bytes (0.267→0.149 GB per 600k
        # turns), which relieves the shared write funnel that binds the
        # high-core build levels (+15% build throughput at 8 cores in
        # the r5 A/B) at a ~2% CPU cost at 2 cores — and at 100 TB the
        # storage/IO saving compounds across every shuffle-read of the
        # postings. Shuffle compression stays lz4 (zstd shuffle
        # measured SLOWER at both levels — BENCH/BASELINE.md r5).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # NB: large heaps (48g) trigger sporadic multi-10s task stalls in
        # this gVisor sandbox; 8g is ample for local bench scales.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master.startswith("local"):
        # Python workers are fresh interpreters started from the JVM's
        # cwd: put the engine's parent directory on their path so a
        # pandas UDF unpickles miru_spark from any working directory
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        path = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
        builder = builder.config("spark.executorEnv.PYTHONPATH", path)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _master_cores(master: str, default: int) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or default
        try:
            return int(inner)
        except ValueError:
            return default
    return default


def local_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """A small driver-side relation, converted through Arrow in the JVM.
    ``spark.createDataFrame`` of a plain list re-pickles the rows in
    Python workers each time the plan runs, so a plan over it on a
    session with no warm workers pays their start-up."""
    import pandas as pd
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    return spark.createDataFrame(pd.DataFrame(rows, columns=st.names), st)
