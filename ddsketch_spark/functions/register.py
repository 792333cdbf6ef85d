"""Spark SQL names for the sketch scalars, e.g.
``SELECT lang, ddsketch_percentile(sketch, 0.95) FROM lang_sketches``.
Building sketches stays a DataFrame-API operation (`api.ddsketch` /
`sketch_agg`): PySpark cannot register partial-aggregating UDAFs from
Python, and the 2-stage pipeline IS that UDAF (SURVEY §3.2).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ddsketch_spark.functions.rows import SQL_FUNCTIONS, vectorize


def register_sql_functions(spark: SparkSession) -> None:
    """Register every name in :data:`rows.SQL_FUNCTIONS`: the DDSketch
    scalar surface and the sibling-sketch estimators."""
    for name, entry in SQL_FUNCTIONS.items():
        spark.udf.register(name, vectorize(*entry))


register_sibling_sql_functions = register_sql_functions
