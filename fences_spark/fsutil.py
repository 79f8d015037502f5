"""Scheme-agnostic filesystem helpers through the Hadoop FileSystem
API (local, hdfs://, s3a://, ... — whatever scheme the sinks use).

The runner/pipeline write their sinks with Spark writers, which
resolve paths through Hadoop; any driver-side existence/listing/
deletion on those SAME paths must go through the same API, or a
remote output_dir silently breaks the logic (os.path.isdir on an
``s3a://`` URI is always False).  Round-4 review finding.
"""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def list_dirs(spark: SparkSession, path: str, glob: str) -> list[str]:
    """Names of entries under ``path`` matching ``glob`` (e.g.
    ``epoch_id=*``); empty if ``path`` does not exist."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    pattern = jvm.org.apache.hadoop.fs.Path(path, glob)
    return [st.getPath().toString() for st in fs.globStatus(pattern) or []]


def delete(spark: SparkSession, path: str) -> bool:
    """Recursive delete; False if the path did not exist."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, True))


def mkdirs(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.mkdirs(jpath))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic-ish move within one filesystem (Hadoop ``rename``); the
    destination's PARENT must already exist.  False on failure (e.g.
    destination exists)."""
    fs, jsrc = _fs_and_path(spark, src)
    _, jdst = _fs_and_path(spark, dst)
    return bool(fs.rename(jsrc, jdst))


def write_file(spark: SparkSession, dir_path: str, name: str, data: bytes) -> str:
    """Write ``data`` as the single file ``dir_path/name`` from the
    driver, without a Spark job.  The bytes go to an exclusively created
    hidden ``_tmp-`` file, which is then renamed to ``name``, so readers
    (Spark, pyarrow: both skip ``_``/``.`` names) never see a partial
    file.  An existing ``name`` is replaced: on filesystems whose
    ``rename`` refuses an existing destination (HDFS) it is deleted
    first.  Returns the written path."""
    fs, jdir = _fs_and_path(spark, dir_path)
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jtmp = jvm.org.apache.hadoop.fs.Path(jdir, f"_tmp-{uuid.uuid4().hex}-{name}")
    jdst = jvm.org.apache.hadoop.fs.Path(jdir, name)
    fs.mkdirs(jdir)
    out = fs.create(jtmp, False)
    try:
        out.write(data)
    finally:
        out.close()
    if not fs.rename(jtmp, jdst):
        fs.delete(jdst, False)
        if not fs.rename(jtmp, jdst):
            fs.delete(jtmp, False)
            raise OSError(f"could not rename a temporary file to {jdst.toString()}")
    return jdst.toString()


def write_parquet_file(spark: SparkSession, dir_path: str, name: str, table: pa.Table) -> str:
    """``table`` as the parquet file ``dir_path/name`` (``write_file``)."""
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf)
    return write_file(spark, dir_path, name, buf.getvalue().to_pybytes())


def read_parquet(spark: SparkSession, dir_path: str) -> pa.Table | None:
    """The inverse of ``write_parquet_file``: every visible file directly
    under ``dir_path`` (names not starting with ``_`` or ``.``), read on
    the driver without a Spark job and decoded with pyarrow as one
    table.  None when no file is visible (the directory is missing, or
    holds only a writer's hidden ``_tmp-`` file); a visible file that is
    not parquet raises."""
    fs, jdir = _fs_and_path(spark, dir_path)
    if not fs.exists(jdir):
        return None
    io = spark.sparkContext._jvm.org.apache.commons.io.IOUtils  # noqa: SLF001
    tables = []
    for st in sorted(fs.listStatus(jdir), key=lambda st: st.getPath().getName()):
        if st.getPath().getName().startswith(("_", ".")):
            continue
        inp = fs.open(st.getPath())
        try:
            data = io.toByteArray(inp)
        finally:
            inp.close()
        tables.append(pq.read_table(pa.BufferReader(data)))
    return pa.concat_tables(tables) if tables else None
