"""SparkSession factory + fixture loading.

Scale notes (100 TB design, tested on local[32]; without
``SPARK_GRAFT_CPUS`` the master is local[<host cores>]):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting.
- ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a real
  cluster this is overridden to ~2-3x total executor cores (AQE coalesces
  down, it cannot split a too-small number cheaply pre-3.2).
- Arrow enabled for any pandas-UDF paths (the slow-path operators).
- Session timezone pinned to UTC: fixtures are tz-naive (FIXTURES.md), and
  naive-parquet <-> wall-clock round-trips are only stable under one tz.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def get_spark(
    app_name: str = "elasticsearch_hadoop_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scan/AQE-friendly defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # fixtures' events.ts is TIMESTAMP(NANOS) — Spark 4 needs this to read it
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load fixture parquet tables as DataFrames (native columnar scan —
    the Spark-side equivalent of the reference's shard-partitioned scroll
    scan, SURVEY.md §2.A A1)."""
    return {name: spark.read.parquet(table_path(sf_dir, name)) for name in names}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register fixtures as temp views so spark.sql() sees the same table
    names the DuckDB oracle does."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
