"""Arrow-backed ``collect()`` for query results.

``DataFrame.collect()`` in classic PySpark always moves rows through the
JVM pickler and a single-threaded Python unpickler — for a result of
millions of rows the boundary costs several times the query itself
(measured at sf1.0: ``dedup_minhash_pairs`` computes in ~7 s under a noop
sink but spends ~27 s more in ``collect()``'s row pickling). The guide's
§4 rule — cross the JVM↔Python boundary in Arrow batches, never row at a
time — applies to result collection exactly as it does to UDFs.

:class:`FastCollectDataFrame` overrides only ``collect()``: when every
output column is a simple type whose pickle-path and Arrow-path Python
values are bit-identical (integers, floats, strings, booleans, and
arrays thereof) or binary (``bytes``, or ``bytearray`` where
``spark.sql.execution.pyspark.binaryAsBytes`` is false, as the pickle
path yields them), rows are fetched with ``toArrow()`` (parallel,
columnar, zero-copy into pyarrow) and materialized into ``Row`` objects
with a bulk constructor. A ``plans.local.local_frame`` is materialized
from the Arrow table it sent, with no Spark job (``toArrow()`` would run
one over its ``LocalTableScan``). Any other schema — timestamps, dates,
decimals, structs, maps — falls back to the stock pickle path, so the
returned rows are always indistinguishable from
``DataFrame.collect()``'s: same class behaviour
(``Row`` subclass: tuple equality, ``row.field``, ``asDict``, ``repr``),
same values, same order (Arrow batches are assembled in partition order,
the same order the pickle path streams).

The bulk constructor sidesteps the two per-row costs of
``pyspark.sql.types._create_row`` — ``Row(*values)``'s argument
re-packing and the per-instance ``__fields__`` dict — by giving the Row
subclass a class-level ``__fields__`` and letting ``tuple.__new__``
consume the zipped column tuples directly (measured 8.3 s vs 20.5 s for
7.7M three-column rows; the Arrow transfer itself is ~0.6 s vs ~13 s of
JVM-side pickling).
"""

from __future__ import annotations

import contextlib
import gc
from itertools import repeat

from pyspark.errors.exceptions.captured import CapturedException
from pyspark.sql.classic.dataframe import DataFrame as _ClassicDataFrame
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, ByteType, DataType, DoubleType,
    FloatType, IntegerType, LongType, Row, ShortType, StringType,
    StructType,
)

# Types whose Arrow ``to_pylist()`` value equals the pickle-path value
# for every possible cell (including NULL -> None and NaN -> nan).
# Binary cells are ``bytes`` on both paths unless _BINARY_AS_BYTES is
# false; the pickle path then yields ``bytearray``, and so does collect.
_FAST_ATOMS = (
    LongType, IntegerType, ShortType, ByteType,
    DoubleType, FloatType, StringType, BooleanType, BinaryType,
)
_BINARY_AS_BYTES = "spark.sql.execution.pyspark.binaryAsBytes"


def _fast_type_ok(dt: DataType) -> bool:
    if isinstance(dt, _FAST_ATOMS):
        return True
    if isinstance(dt, ArrayType):
        return _fast_type_ok(dt.elementType)
    return False


def _fast_schema_ok(schema: StructType) -> bool:
    names = [f.name for f in schema.fields]
    if len(set(names)) != len(names):     # Row fields must be unambiguous
        return False
    return bool(names) and all(_fast_type_ok(f.dataType) for f in schema.fields)


def _has_binary(dt: DataType) -> bool:
    while isinstance(dt, ArrayType):
        dt = dt.elementType
    return isinstance(dt, BinaryType)


def _as_bytearray(values: list, dt: DataType) -> list:
    """``values`` of Spark type ``dt`` with every ``bytes`` at a binary
    position (the column itself, or array elements at any depth) made a
    ``bytearray``; None stays None, other types pass through."""
    if isinstance(dt, BinaryType):
        return [None if v is None else bytearray(v) for v in values]
    if not _has_binary(dt):
        return values
    return [None if v is None else _as_bytearray(v, dt.elementType)
            for v in values]


def _column_values(c) -> list:
    """Python values for one Arrow column. For null-free numeric/boolean
    columns ``to_numpy().tolist()`` produces the identical Python ints/
    floats/bools ~11x faster than ``to_pylist()`` (numpy's C tolist vs
    per-element pyarrow boxing); anything with nulls, strings, or nested
    types takes the general path."""
    import pyarrow as pa

    t = c.type
    if c.null_count == 0 and (pa.types.is_integer(t) or pa.types.is_floating(t)
                              or pa.types.is_boolean(t)):
        return c.combine_chunks().to_numpy(zero_copy_only=False).tolist()
    return c.to_pylist()


@contextlib.contextmanager
def _gc_paused():
    """Pause the cyclic collector while materializing millions of small
    container objects. Bulk row construction allocates one tuple per row
    and nothing cyclic; with the collector enabled, every generation-0
    threshold crossing walks the ever-growing result list (measured: 7.7M
    three-column rows construct in 1.2 s paused vs 6.3 s with the
    collector on — the work is identical, the difference is pure GC
    traversal of acyclic garbage-free state). Pausing is process-global:
    concurrent collects may overlap, so re-enable only if it was enabled
    on entry (a benign race — the collector being ON during another
    thread's construction costs speed, never correctness)."""
    was_enabled = gc.isenabled()
    if was_enabled:
        gc.disable()
    try:
        yield
    finally:
        if was_enabled:
            gc.enable()


class FastCollectDataFrame(_ClassicDataFrame):
    """Classic DataFrame whose ``collect()`` uses Arrow for simple schemas."""

    _local_rows = None     # the Arrow table of a plans.local.local_frame

    def collect(self):  # type: ignore[override]
        # the stock-path calls live OUTSIDE the try: a failure inside
        # super().collect() (maxResultSize, task failure) must propagate,
        # not trigger a second full execution of the failing query
        try:
            schema = self.schema
            fast = _fast_schema_ok(schema)
        except Exception:
            fast = False   # let the stock path surface the analysis error
        # the stock path keeps the collector on (a pause is process-wide)
        if not fast:
            return super().collect()
        tbl = self._local_rows
        try:
            tbl = self.toArrow() if tbl is None else tbl
        except CapturedException:
            raise   # the query itself failed: running it again fails again
        except Exception:
            # Arrow transfer hiccup: the stock path is the contract
            return super().collect()
        names = list(tbl.column_names)
        row_cls = type("Row", (Row,), {
            "__fields__": names, "__slots__": (), "__new__": tuple.__new__,
        })
        with _gc_paused():
            cols = [_column_values(c) for c in tbl.columns]
            if any(_has_binary(f.dataType) for f in schema.fields) and (
                    self.sparkSession.conf.get(_BINARY_AS_BYTES, "true")
                    .lower() == "false"):
                cols = [_as_bytearray(v, f.dataType)
                        for v, f in zip(cols, schema.fields)]
            # map(tuple.__new__, repeat(cls), ...) skips type.__call__'s
            # __new__/__init__ dispatch per row (measured ~25% faster than
            # map(row_cls, ...) at 7.7M rows)
            return list(map(tuple.__new__, repeat(row_cls), zip(*cols)))


def fast_collect(df) -> FastCollectDataFrame:
    """Rebind ``df`` (same JVM plan, zero extra work) to the fast-collect
    subclass. Transformations on the result return plain DataFrames, so
    this is applied at the query boundary, to the frame actually handed
    to the caller."""
    if isinstance(df, FastCollectDataFrame):
        return df
    out = FastCollectDataFrame(df._jdf, df.sparkSession)
    # vars: DataFrame.__getattr__ would read a missing name as a column
    out._local_rows = vars(df).get("_local_rows")
    return out
