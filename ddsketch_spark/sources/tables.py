"""Generic table IO for stored sketch tables, and the commit log every
persisted sketch state commits through.

Iceberg note (SURVEY §7.2): the sandbox has no Iceberg runtime jar, so the
table layer is parquet with the same layout Iceberg would use (partition
columns, binary sketch columns). `write_table`/`read_table` isolate that
choice so an Iceberg catalog can be dropped in by changing the format
string only.

Commit log (Delta Lake's idea, VLDB 2020, at its smallest), the one
commit of every persisted sketch state: a stored table, a ``run_job``
checkpoint and a streaming state. A writer writes its data, then
:func:`commit` records ``<root>/_sketch_log/<version>.json``: the
format, the Spark schema, the paths the writer names relative to the
root (files, or directories of files) and fields of its own (a
micro-batch id). :func:`read_entry` returns the newest entry, and
:func:`read_snapshot` loads exactly its paths with its schema
(:func:`load_paths`): Spark neither lists the table's directories (a
parallel-listing job past 32 paths) nor infers its schema (a second
job), so reading a snapshot submits no Spark job. Data written but not
committed is invisible. All log IO runs on the driver through the
Hadoop ``FileSystem`` API of the JVM, so it works on any Hadoop store;
on the local file system the log is listed, read and its temp entries
written with POSIX calls, and renamed and deleted through that API.
"""

from __future__ import annotations

import json
import os
import re
import threading
import uuid

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ddsketch_spark.plans.local import local_frame

_LOG_DIR = "_sketch_log"
_ENTRY = re.compile(r"(\d{20})\.json")
_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# the threshold is a session conf: raise it for one load at a time
_THRESHOLD_LOCK = threading.Lock()
_PATH_SEP = "\n"   # joins the paths of one load_paths call


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


def filesystem(spark: SparkSession, path: str):
    """``(FileSystem, Path class, qualified Path)`` of ``path``. The class
    is named, not looked up: each step of a ``jvm.a.b.C`` lookup is a
    py4j round trip."""
    sc = spark.sparkContext
    path_cls = JavaClass("org.apache.hadoop.fs.Path",
                         sc._gateway._gateway_client)
    p = path_cls(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, path_cls, fs.makeQualified(p)


def _hidden(name: str) -> bool:
    """Spark's rule for names a file source skips
    (``HadoopFSUtils.shouldFilterOutPathName``): ``_`` metadata such as
    job markers and this log, ``.`` staging and checksum files, and
    half-copied ``._COPYING_`` files. A ``_col=v`` directory is data."""
    return ((name.startswith("_") and "=" not in name)
            or name.startswith(".") or name.endswith("._COPYING_"))


def data_files(spark: SparkSession, path: str) -> list[str]:
    """The data files under ``path``, relative to it and sorted, listed
    serially on the driver. ``listStatus``, not ``listFiles``: on the
    local file system a ``LocatedFileStatus`` forks a process per file to
    read its permissions."""
    fs, _, root = filesystem(spark, path)
    out, todo = [], [(root, "")]
    while todo:
        d, rel = todo.pop()
        for st in fs.listStatus(d):
            p = st.getPath()
            name = p.getName()
            if _hidden(name):
                continue
            if st.isDirectory():
                todo.append((p, f"{rel}{name}/"))
            else:
                out.append(rel + name)
    return sorted(out)


def _local(fs, log) -> str | None:
    """The POSIX directory of ``log`` on the local file system, where the
    ``FileSystem`` forks a chmod per created file and .crc, else None."""
    return log.toUri().getPath() if fs.getScheme() == "file" else None


def _versions(fs, log, local: str | None) -> list[int]:
    """Committed log versions, newest first."""
    if local is not None:
        names = os.listdir(local) if os.path.isdir(local) else []
    else:
        names = ([st.getPath().getName() for st in fs.listStatus(log)]
                 if fs.exists(log) else [])
    return sorted((int(m.group(1)) for m in map(_ENTRY.fullmatch, names)
                  if m), reverse=True)


def commit(spark: SparkSession, path: str, files: list[str],
           schema: StructType, fmt: str = "parquet", **fields) -> int:
    """Commit ``files`` (relative to ``path``) of format ``fmt``,
    ``schema`` and ``fields`` as log version ``latest + 1`` of the table
    at ``path``, which is returned. The entry is written to a
    hidden temp file and renamed into place, so no reader sees a partial
    entry; a rename that finds the version taken (a concurrent commit)
    raises. Entries older than the previous one are deleted, so the log
    a reader lists stays two entries long however often it is written."""
    fs, path_cls, root = filesystem(spark, path)
    log = path_cls(root, _LOG_DIR)
    local = _local(fs, log)
    versions = _versions(fs, log, local)
    version = versions[0] + 1 if versions else 0
    body = json.dumps({"format": fmt,
                       "schema": schema.jsonValue(),
                       "files": list(files), **fields},
                      separators=(",", ":")).encode()
    name = f".{version:020d}.{uuid.uuid4().hex}.tmp"
    if local is not None:
        os.makedirs(local, exist_ok=True)
        with open(os.path.join(local, name), "xb") as f:
            f.write(body)
    else:
        out = fs.create(path_cls(log, name), False)
        try:
            out.write(body)
        finally:
            out.close()
    tmp, dst = path_cls(log, name), path_cls(log, f"{version:020d}.json")
    if fs.exists(dst) or not fs.rename(tmp, dst):
        fs.delete(tmp, False)
        raise RuntimeError(
            f"{path}: log version {version} was committed by another "
            f"writer; this write is on storage but not in the log")
    for old in versions[1:]:
        fs.delete(path_cls(log, f"{old:020d}.json"), False)
    return version


def read_entry(spark: SparkSession, path: str) -> dict | None:
    """The newest committed log entry of the table at ``path`` —
    ``format``, ``schema`` (Spark JSON), ``files`` and the committer's
    fields — or None when ``path`` has no log."""
    fs, path_cls, root = filesystem(spark, path)
    log = path_cls(root, _LOG_DIR)
    local = _local(fs, log)
    versions = _versions(fs, log, local)
    if not versions:
        return None
    name = f"{versions[0]:020d}.json"
    if local is not None:
        with open(os.path.join(local, name), "rb") as f:
            return json.loads(f.read())
    stream = fs.open(path_cls(log, name))
    try:
        # a py4j reply longer than 8 kB leaves the JVM in two writes and
        # waits ~40 ms for a delayed ACK (measured on Linux loopback):
        # read the entry in 4 KiB chunks
        return json.loads(b"".join(
            iter(lambda: stream.readNBytes(4096), b"")))
    finally:
        stream.close()


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """The newest committed snapshot of the table at ``path``: the paths
    its log entry names, loaded with its logged schema, partition
    columns (found from the ``col=v`` directories under ``basePath``)
    typed as written. An empty snapshot is zero rows with that schema.
    Raises ``FileNotFoundError`` when ``path`` has no log."""
    entry = read_entry(spark, path)
    if entry is None:
        raise FileNotFoundError(
            f"{path} has no {_LOG_DIR}/ commit log: not a table written "
            f"by store_sketch_table, or written before the log existed")
    schema = StructType.fromJson(entry["schema"])
    if not entry["files"]:
        return local_frame(spark, [], schema)
    base = filesystem(spark, path)[2].toString()
    return load_paths(spark, [f"{base}/{f}" for f in entry["files"]],
                      base, schema, entry["format"])


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file at ``path``, read on
    the driver from its footer: no Spark job. These are the calls
    Spark's inference makes inside its job
    (``ParquetFileFormat.readParquetFootersInParallel`` and
    ``readSchema``), so the type rules — timestamp vs timestamp_ntz,
    INT96, ``binaryAsString``, a Spark-written schema in the footer — are
    Spark's own. The API is Spark-private; a test pins the result to
    ``spark.read.parquet(path).schema``."""
    fs, _, p = filesystem(spark, path)
    jvm = spark.sparkContext._jvm
    pq_fmt = getattr(jvm.org.apache.spark.sql.execution.datasources.parquet,
                     "ParquetFileFormat$").__getattr__("MODULE$")
    footers = pq_fmt.readParquetFootersInParallel(
        spark._jsparkSession.sessionState().newHadoopConf(),
        jvm.PythonUtils.toSeq([fs.getFileStatus(p)]), False)
    return StructType.fromJson(json.loads(
        pq_fmt.readSchema(footers, spark._jsparkSession).get().json()))


def load_paths(spark: SparkSession, paths: list[str], base: str,
               schema: StructType | None = None,
               fmt: str = "parquet") -> DataFrame:
    """``paths`` (files or directories under ``base``, partition columns
    found from the ``col=v`` directories between them) loaded as one
    DataFrame of format ``fmt``. With ``schema`` Spark runs no
    schema-inference job; without it, one. Either way it lists the paths
    serially on the driver, not with the parallel-listing job it runs for
    more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) paths: the threshold is raised to ``len(paths)`` for this one
    load and restored after.

    The paths cross py4j as one newline-joined string split in the JVM:
    a Python list crosses as one ``ArrayList.add`` round trip per path. A
    path holding a newline raises ``ValueError``."""
    bad = [p for p in paths if _PATH_SEP in p]
    if bad:
        raise ValueError(f"paths hold a newline: {bad!r}")
    reader = spark.read.format(fmt).option("basePath", base)
    if schema is not None:
        reader = reader.schema(schema)
    if not paths:
        return reader.load(paths)
    pattern = JavaClass("java.util.regex.Pattern",
                        spark.sparkContext._gateway._gateway_client)
    jpaths = pattern.compile(_PATH_SEP).split(_PATH_SEP.join(paths))
    with _THRESHOLD_LOCK:
        prev = spark.conf.get(_THRESHOLD, None)
        spark.conf.set(_THRESHOLD, str(len(paths)))
        try:
            return reader._df(reader._jreader.load(jpaths))
        finally:
            if prev is None:
                spark.conf.unset(_THRESHOLD)
            else:
                spark.conf.set(_THRESHOLD, prev)
