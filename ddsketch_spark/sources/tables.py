"""Generic table IO for stored sketch tables.

Iceberg note (SURVEY §7.2): the sandbox has no Iceberg runtime jar, so the
table layer is parquet with the same layout Iceberg would use (partition
columns, binary sketch columns). `write_table`/`read_table` isolate that
choice so an Iceberg catalog can be dropped in by changing the format
string only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def table_format() -> str:
    """Resolved at CALL time so tests/deployments can flip the format
    without re-importing. With an Iceberg runtime on the classpath, set
    DDSKETCH_SPARK_TABLE_FORMAT=iceberg (plus the usual catalog confs);
    without one, Spark raises a clear DATA_SOURCE_NOT_FOUND — never a
    silent parquet fallback (pinned in tests/test_spark_agg.py)."""
    return os.environ.get("DDSKETCH_SPARK_TABLE_FORMAT", "parquet")


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    w = df.write.format(table_format()).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.format(table_format()).load(path)
