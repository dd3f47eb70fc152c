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


def has_glob(path: str) -> bool:
    """True if Hadoop would expand ``path`` as a glob (the characters
    Spark's ``SparkHadoopUtil.isGlobPath`` checks)."""
    return any(c in "{}[]*?\\" for c in path)


def _hidden(name: str) -> bool:
    """Spark's hidden-file rule (``HadoopFSUtils.shouldFilterOutPathName``):
    a ``_`` name that is no ``k=v`` partition, a dot name, or a copy in
    flight; parquet's ``_metadata`` summaries are listed."""
    exclude = ((name.startswith("_") and "=" not in name)
               or name.startswith(".") or name.endswith("._COPYING_"))
    return exclude and not name.startswith(("_common_metadata",
                                             "_metadata"))


_SEP = "\0"     # joins path strings across py4j: no path holds a NUL


def list_files(spark: SparkSession, pattern: str) -> list[str]:
    """The files a file source reads for ``pattern`` (a file, a
    directory or a glob), sorted, as ``DataFrame.inputFiles()`` gives
    them (``file:///…`` URIs on a local path), but listed on the driver:
    Spark lists in a job once a glob matches more than 32 paths.

    Spark's rules: each match of the glob is listed recursively, and a
    hidden name (:func:`_hidden`) is skipped, directory or file. Files
    below a matched directory's own files count only when some
    directory under it is a ``k=v`` partition. There is one
    ``listStatus`` call per directory level, each passing whole arrays
    across py4j, so the number of py4j calls does not grow with the
    number of files. Raises ``FileNotFoundError`` when nothing
    matches."""
    jvm = spark._jvm
    fs, p = _fs_path(spark, pattern)
    matches = fs.globStatus(fs.makeQualified(p))
    if not matches:
        raise FileNotFoundError(f"Path does not exist: {pattern}")

    def names(statuses) -> list[str]:
        # py4j matches no Path[] to an Object[] parameter: copy first
        paths = jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(statuses)
        objs = spark.sparkContext._gateway.new_array(jvm.java.lang.Object,
                                                     len(paths))
        jvm.System.arraycopy(paths, 0, objs, 0, len(objs))
        return [s for s in jvm.org.apache.commons.lang3.StringUtils
                .join(objs, _SEP).split(_SEP) if s]

    def to_paths(strings: list[str]):
        return jvm.org.apache.hadoop.util.StringUtils.stringToPath(
            jvm.org.apache.commons.lang3.StringUtils.split(
                _SEP.join(strings), _SEP))

    # listStatus of a file returns the file itself, of a directory its
    # children: an entry equal to one listed path is a file
    roots = names(matches)
    frontier, files = roots, []
    while frontier:
        listed = [s for s in names(fs.listStatus(to_paths(frontier)))
                  if not _hidden(s.rsplit("/", 1)[1])]
        was = set(frontier)
        files += [s for s in listed if s in was]
        frontier = [s for s in listed if s not in was]
    dir_roots = set(roots) - set(files)

    def dirs_below_root(f: str) -> list[str]:
        """Names of the directories between f and its matched directory
        ([] for a matched file)."""
        dirs, d = [], f.rpartition("/")[0]
        while d not in dir_roots:
            if "/" not in d:
                return []
            d, _, name = d.rpartition("/")
            dirs.append(name)
        return dirs

    if not any("=" in d for f in files for d in dirs_below_root(f)):
        roots_set = set(roots)
        files = [f for f in files
                 if f in roots_set or f.rpartition("/")[0] in dir_roots]
    if not files:
        return []
    # A Path string is scheme:[//authority]/decoded-path; Spark returns
    # scheme://authority/quoted-path. One URI over the NUL-joined paths
    # quotes them all (a '%' in a name becomes %25, so '%00' only ever
    # stands for a NUL).
    fs_uri = fs.getUri()
    quoted = jvm.java.net.URI(
        None, None, _SEP.join(_bare_path(f) for f in files),
        None, None).getRawPath().split("%00")
    prefix = f"{fs_uri.getScheme()}://{fs_uri.getRawAuthority() or ''}"
    return sorted(prefix + q for q in quoted)


def _bare_path(path_str: str) -> str:
    """The path of a Hadoop ``Path.toString()``, without scheme and
    authority."""
    rest = path_str.split(":", 1)[1]
    return "/" + rest[2:].split("/", 1)[1] if rest.startswith("//") \
        else rest


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
