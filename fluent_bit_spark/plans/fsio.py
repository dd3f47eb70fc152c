"""Cluster-filesystem IO for manifests and scan tuning, via the Hadoop
FileSystem API (``spark._jvm.org.apache.hadoop.fs``).

The north rule's deployment target writes checkpoints next to the sink
output, which on a real cluster is ``s3a://``/``hdfs://`` — driver-local
``os.*`` calls silently break there. Every helper here resolves the
filesystem FROM the path URI, so ``file:`` (tests, sandbox), ``hdfs:``
and ``s3a:`` all behave identically from the caller's point of view.

Atomicity: manifests are written to a dot-prefixed temp name, then
renamed. HDFS rename is atomic; S3A rename is copy+delete, but readers
only ever list the final ``slice_*.json`` names (dot-temps are
excluded), so a manifest is either absent or complete either way.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for a possibly-schemeful path string."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def list_names(spark: SparkSession, dir_path: str) -> list[str]:
    """Basenames of a directory's children; [] if it doesn't exist."""
    fs, p = _fs_path(spark, dir_path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def total_bytes(spark: SparkSession, path: str) -> int:
    """Recursive byte size of a file or directory tree; 0 if absent."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return 0
    return int(fs.getContentSummary(p).getLength())


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` to ``path`` via dot-temp + rename (see module
    docstring for per-FS atomicity)."""
    fs, p = _fs_path(spark, path)
    parent, name = p.getParent(), p.getName()
    fs.mkdirs(parent)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(parent, f".{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)          # rename-over-existing fails on HDFS
    if not fs.rename(tmp, p):
        raise IOError(f"rename {tmp} -> {p} failed")


def read_text(spark: SparkSession, path: str) -> str:
    fs, p = _fs_path(spark, path)
    stream = fs.open(p)
    try:
        util = spark._jvm.org.apache.commons.io.IOUtils
        return util.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_json_atomic(spark: SparkSession, path: str, payload: dict) -> None:
    write_text_atomic(spark, path, json.dumps(payload))


def read_json(spark: SparkSession, path: str) -> dict:
    return json.loads(read_text(spark, path))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs_path(spark, path)
    fs.mkdirs(p)


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` onto ``dst``, creating ``dst``'s parent (HDFS
    rename fails without it). ``dst`` must not exist: onto an existing
    directory, Hadoop moves ``src`` inside it."""
    fs, s = _fs_path(spark, src)
    _, d = _fs_path(spark, dst)
    fs.mkdirs(d.getParent())
    if not fs.rename(s, d):
        raise IOError(f"rename {src} -> {dst} failed")


def count_files(spark: SparkSession, dir_path: str,
                suffix: str = ".parquet") -> int:
    """Recursive count of data files under a directory tree."""
    fs, p = _fs_path(spark, dir_path)
    if not fs.exists(p):
        return 0
    it, n = fs.listFiles(p, True), 0
    while it.hasNext():
        if it.next().getPath().getName().endswith(suffix):
            n += 1
    return n
