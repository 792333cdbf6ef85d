"""Fast Arrow-backed collect (plans/fastcollect.py): the rows returned
must be indistinguishable from classic ``DataFrame.collect()``'s — same
values, Python types, order, Row behaviour — with the pickle path used
verbatim whenever the schema contains a type whose Arrow conversion
could differ."""

import datetime

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

from ddsketch_spark.plans.fastcollect import (
    FastCollectDataFrame, _fast_schema_ok, fast_collect,
)


def _both(df):
    fast = fast_collect(df)
    return fast.collect(), ClassicDF(df._jdf, df.sparkSession).collect()


def _same(x, y):
    if isinstance(x, float) and isinstance(y, float):
        return (x != x and y != y) or x == y      # NaN == NaN here
    if isinstance(x, (list, tuple)) and isinstance(y, (list, tuple)):
        return len(x) == len(y) and all(_same(a, b) for a, b in zip(x, y))
    return x == y


def _assert_identical(rows_fast, rows_ref):
    assert len(rows_fast) == len(rows_ref)
    for rf, rr in zip(rows_fast, rows_ref):
        assert isinstance(rf, Row)
        assert _same(tuple(rf), tuple(rr))
        assert [type(x) for x in rf] == [type(x) for x in rr]
        assert repr(rf) == repr(rr)
        assert list(rf.asDict()) == list(rr.asDict())


def test_simple_types_identical(spark):
    df = spark.createDataFrame(
        [(1, 2.5, "x", True, [1, 2], 1.5),
         (2, float("nan"), None, False, [], None),
         (None, None, "y", None, None, 3.25)],
        "a bigint, b double, s string, f boolean, arr array<bigint>, fl double")
    assert _fast_schema_ok(df.schema)
    rows_fast, rows_ref = _both(df)
    _assert_identical(rows_fast, rows_ref)
    # NaN survives as nan (not None), nulls as None
    assert rows_fast[1].b != rows_fast[1].b
    assert rows_fast[1].s is None


def test_int_and_float_widths(spark):
    df = spark.range(3).select(
        F.col("id").cast("int").alias("i"),
        F.col("id").cast("smallint").alias("si"),
        F.col("id").cast("tinyint").alias("ti"),
        (F.col("id") + 0.5).cast("float").alias("f32"))
    assert _fast_schema_ok(df.schema)
    rows_fast, rows_ref = _both(df)
    _assert_identical(rows_fast, rows_ref)


@pytest.mark.parametrize("schema_sql,value", [
    ("ts timestamp", datetime.datetime(2031, 1, 2, 3, 4, 5)),
    ("d date", datetime.date(2031, 1, 2)),
    ("dec decimal(10,2)", None),
])
def test_unsafe_schemas_fall_back(spark, schema_sql, value):
    df = spark.createDataFrame([(value,)], schema_sql)
    assert not _fast_schema_ok(df.schema)
    rows_fast, rows_ref = _both(df)
    _assert_identical(rows_fast, rows_ref)


@pytest.mark.parametrize("as_bytes", ["true", "false"])
def test_binary_columns_identical(spark, as_bytes):
    """Binary columns and arrays of them collect fast, and every value is
    the pickle path's: ``bytes``, or ``bytearray`` when
    ``spark.sql.execution.pyspark.binaryAsBytes`` is false; None for
    NULL, and empty bytes stay empty."""
    df = spark.createDataFrame(
        [(1, bytearray(b"ab"), bytearray(b""), [bytearray(b"x"), None]),
         (2, bytearray(b"\x00\xff"), None, []),
         (3, bytearray(b""), bytearray(b"z"), None)],
        "k bigint, b binary not null, nb binary, ab array<binary>")
    assert _fast_schema_ok(df.schema)
    key = "spark.sql.execution.pyspark.binaryAsBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, as_bytes)
    try:
        rows_fast, rows_ref = _both(df)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    _assert_identical(rows_fast, rows_ref)
    want = bytes if as_bytes == "true" else bytearray
    assert [type(x) for x in rows_fast[0].ab] == [want, type(None)]
    assert type(rows_fast[2].b) is want and rows_fast[2].b == b""


def test_struct_falls_back(spark):
    df = spark.range(2).select(F.struct("id").alias("st"))
    assert not _fast_schema_ok(df.schema)
    rows_fast, rows_ref = _both(df)
    _assert_identical(rows_fast, rows_ref)


def test_empty_result(spark):
    df = spark.range(5).where("id < 0")
    assert fast_collect(df).collect() == []


def test_row_order_preserved(spark):
    df = spark.range(0, 10000, 1, 8).select(F.col("id"))
    rows_fast, rows_ref = _both(df)
    assert [r.id for r in rows_fast] == [r.id for r in rows_ref]


def test_queries_are_wrapped(spark):
    from ddsketch_spark.queries import QUERIES
    df = QUERIES["dd_info_price"](spark, "/root/testdata/sf0.001")
    assert isinstance(df, FastCollectDataFrame)


def test_failing_stock_collect_runs_once(spark, monkeypatch):
    """A non-fast-schema query whose stock collect FAILS must fail once:
    the fallback branch lives outside the try so the exception propagates
    instead of triggering a second full execution of the failing plan."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    calls = {"n": 0}
    orig = ClassicDF.collect

    def counting_collect(self):
        calls["n"] += 1
        raise RuntimeError("boom")

    # decimal column -> non-fast schema -> stock path
    df = fast_collect(spark.range(1).select(
        F.col("id").cast("decimal(10,2)").alias("d")))
    assert not _fast_schema_ok(df.schema)
    monkeypatch.setattr(ClassicDF, "collect", counting_collect)
    try:
        import pytest as _pytest
        with _pytest.raises(RuntimeError, match="boom"):
            df.collect()
    finally:
        monkeypatch.setattr(ClassicDF, "collect", orig)
    assert calls["n"] == 1


def test_failing_fast_query_runs_once(spark, jobs_in_group):
    """A fast-schema query that fails in Spark surfaces its error after
    one execution; it is not re-run through the stock path."""
    from pyspark.errors.exceptions.captured import CapturedException

    df = fast_collect(spark.range(10).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id")).alias("id")))
    assert _fast_schema_ok(df.schema)
    group = "fastcollect-failing-query"
    spark.sparkContext.setJobGroup(group, group)
    try:
        with pytest.raises(CapturedException, match="boom"):
            df.collect()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert jobs_in_group(group) == 1


def test_arrow_transfer_error_falls_back(spark, monkeypatch):
    """An Arrow-side failure that is not a Spark execution error still
    falls back to the stock rows."""
    df = fast_collect(spark.range(5).select((F.col("id") * 2).alias("x")))
    ref = ClassicDF(df._jdf, df.sparkSession).collect()

    def broken_to_arrow(self):
        raise RuntimeError("arrow hiccup")

    monkeypatch.setattr(FastCollectDataFrame, "toArrow", broken_to_arrow)
    _assert_identical(df.collect(), ref)


@pytest.mark.parametrize("cause", ["schema", "arrow"])
def test_fallback_collect_keeps_the_collector_on(spark, monkeypatch, cause):
    """The stock collect of a fallback runs with the cyclic collector
    enabled; only the fast path's Row construction pauses it."""
    import gc

    seen = []
    stock = ClassicDF.collect

    def recording(self):
        seen.append(gc.isenabled())
        return stock(self)

    col = F.col("id")
    df = fast_collect(spark.range(3).select(
        col.cast("decimal(10,2)") if cause == "schema" else col))
    if cause == "arrow":
        def broken_to_arrow(self):
            raise RuntimeError("arrow hiccup")

        monkeypatch.setattr(FastCollectDataFrame, "toArrow", broken_to_arrow)
    monkeypatch.setattr(ClassicDF, "collect", recording)
    assert gc.isenabled()
    assert len(df.collect()) == 3 and seen == [True]


@pytest.mark.parametrize("as_bytes", ["true", "false"])
def test_driver_held_collect_runs_no_job(spark, jobs_in_group, as_bytes):
    """A ``local_frame`` collects from the Arrow table it sent: no Spark
    job, and the stock ``collect()``'s rows — NULLs, NaN, arrays, binary
    as ``bytes`` or ``bytearray``. A frame derived from it collects the
    same rows through Spark."""
    from ddsketch_spark.plans.local import local_frame

    schema = ("n long, s string, b binary, d double, a array<long>,"
              " ok boolean")
    rows = [(1, "a", b"\x00", 1.5, [1, None], True),
            (2, "", b"", float("nan"), [], False), (None,) * 6]
    key = "spark.sql.execution.pyspark.binaryAsBytes"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, as_bytes)
    group = f"fastcollect-held-{as_bytes}"
    try:
        df = local_frame(spark, rows, schema)
        spark.sparkContext.setJobGroup(group, group)
        try:
            got = fast_collect(df).collect()
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        want = spark.createDataFrame(rows, schema).collect()
        derived = fast_collect(df.select("*")).collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert jobs_in_group(group) == 0
    _assert_identical(got, want)
    _assert_identical(derived, want)
    binary = bytes if as_bytes == "true" else bytearray
    assert type(got[0].b) is binary
