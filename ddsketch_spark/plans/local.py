"""Driver-built DataFrames as Arrow local relations.

``spark.createDataFrame`` over a list of rows plans as a ``Scan
ExistingRDD`` of a Python RDD, so every action on it starts a Python
worker to unpickle the rows. :func:`local_frame` sends the rows to the
JVM once, as a ``pyarrow.Table`` with the exact Spark types; under
``spark.sql.execution.arrow.localRelationThreshold`` it plans as a
``LocalTableScan``, and actions on it run no Python. The frame keeps
the table it sent (``_local_rows``): ``plans.fastcollect`` collects it
with no Spark job, a frame derived from it as any other.
"""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import DataType, StructType, TimestampType


def local_frame(spark: SparkSession, rows: Sequence[Sequence],
                schema: StructType | str) -> DataFrame:
    """``rows`` (tuples in the field order of ``schema``, a ``StructType``
    or a DDL string) as a DataFrame of exactly ``schema``. Values are what
    ``createDataFrame(rows, schema)`` takes; a naive ``datetime`` in a
    ``timestamp`` column is local time, as it is there."""
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = []
    for f, col in zip(schema.fields, cols):
        if isinstance(f.dataType, TimestampType):
            col = [v.astimezone() if v is not None and v.tzinfo is None
                   else v for v in col]
        arrays.append(pa.array(col, type=to_arrow_type(f.dataType)))
    tbl = pa.Table.from_arrays(arrays, names=schema.names)
    df = spark.createDataFrame(tbl, schema)
    df._local_rows = tbl
    return df


def bounded_arrow(df: DataFrame, max_rows: int) -> pa.Table | None:
    """``df.toArrow()`` if ``df`` has at most ``max_rows`` rows, else
    None: one task with no Exchange (``coalesce(1)``) that stops reading
    at row ``max_rows + 1`` (and its columnar batch)."""
    tbl = df.coalesce(1).limit(max_rows + 1).toArrow()
    return tbl if tbl.num_rows <= max_rows else None


# plan nodes that read stored or in-memory rows, or only filter, project
# or union them: such a plan runs again at the price of a scan
_SCAN_ONLY = {"LogicalRelation", "LocalRelation", "Project", "Filter",
              "Union"}


def scan_only(df: DataFrame) -> bool:
    """True when ``df``'s optimized plan holds ``_SCAN_ONLY`` nodes only:
    no aggregate, join or Python stage to build again. Never streaming."""
    nodes = [] if df.isStreaming else [
        df._jdf.queryExecution().optimizedPlan()]
    for node in nodes:      # grows as it is walked: every descendant
        kids = node.children()
        nodes += [kids.apply(i) for i in range(kids.size())]
    return bool(nodes) and {n.nodeName() for n in nodes} <= _SCAN_ONLY
