"""SparkSession factory with the engine's scale-oriented defaults.

AQE on (runtime re-plan, skew-join splitting, partition coalescing), Arrow
transfer on (every UDF in this engine is Arrow-batched), shuffle partitions
sized to cores (local mode; a cluster deploy would size to 2–3× total cores),
UTC session timezone (oracle parity with DuckDB's naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "spark_shp", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.geospatial.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_SHP_DRIVER_MEM", "16g"))
        # The fused whole-stage-codegen method for tile-assign(level 12) +
        # cell-cover join + inline ray-cast parity exceeds HotSpot's 8000-byte
        # HugeMethodLimit; by default HotSpot then refuses to JIT it and the
        # hot loop runs in the bytecode interpreter (measured 5x-10x slower on
        # the flagship join). Standard cluster-side fix, shipped with the job.
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.ui.enabled", "false")
        # static conf (read at session build): console progress bars land in
        # any JSON result captured together with stderr
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
