"""Hadoop ``FileSystem`` access for the whole package.

Every existence check, listing, small sidecar read or write, rename and
delete the engine does outside Spark's own readers and writers goes
through these helpers, so the JVM file plumbing exists once. Going
through Hadoop rather than Python's ``os`` keeps every path on whatever
filesystem the data lives on (``file:``, ``hdfs:``, ``s3a:``).

A path is a string, or the Hadoop ``Path`` of a ``FileStatus`` that
:func:`list_status` returned.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _hpath(spark: SparkSession, path):
    return spark._jvm.org.apache.hadoop.fs.Path(path) if isinstance(path, str) else path


def _resolve(spark: SparkSession, path):
    """(Hadoop FileSystem, Hadoop Path) for ``path``."""
    p = _hpath(spark, path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def scheme(spark: SparkSession, path) -> str:
    """The scheme of the filesystem ``path`` resolves to: a scheme-less
    path is on ``fs.defaultFS``, which need not be the local disk."""
    return _resolve(spark, path)[0].getScheme()


def exists(spark: SparkSession, path) -> bool:
    """Quiet existence check (a speculative ``spark.read`` would log a full
    FileNotFoundException stack)."""
    fs, p = _resolve(spark, path)
    return bool(fs.exists(p))


def delete(spark: SparkSession, path, recursive: bool = True) -> bool:
    """Delete ``path``; False when there was nothing to delete."""
    fs, p = _resolve(spark, path)
    return bool(fs.delete(p, recursive))


def mkdirs(spark: SparkSession, path) -> None:
    fs, p = _resolve(spark, path)
    fs.mkdirs(p)


def rename(spark: SparkSession, src, dst) -> bool:
    """Hadoop rename. It refuses to replace an existing file, returning
    False, which makes it a compare-and-swap on the destination name.
    Renaming a directory onto an EXISTING directory nests the source
    inside it instead of replacing it."""
    fs, s = _resolve(spark, src)
    return bool(fs.rename(s, _hpath(spark, dst)))


def list_status(spark: SparkSession, path):
    """The ``FileStatus`` of each entry directly under ``path``."""
    fs, p = _resolve(spark, path)
    return fs.listStatus(p)


def size(spark: SparkSession, path) -> int:
    """Total bytes of the files under ``path``, recursively."""
    fs, p = _resolve(spark, path)
    return int(fs.getContentSummary(p).getLength())


def status(spark: SparkSession, path):
    """The ``FileStatus`` of ``path`` itself."""
    fs, p = _resolve(spark, path)
    return fs.getFileStatus(p)


def newest_file_mtime(spark: SparkSession, path) -> int:
    """Newest modification time (epoch ms) over the FILES under ``path``,
    recursively; -1 when it holds none. File mtimes are real on every
    Hadoop filesystem; directory mtimes are synthetic on object stores,
    so recency is never read from a directory status."""
    fs, p = _resolve(spark, path)
    it = fs.listFiles(p, True)
    newest = -1
    while it.hasNext():
        newest = max(newest, it.next().getModificationTime())
    return newest


def read_bytes(spark: SparkSession, path) -> bytes:
    fs, p = _resolve(spark, path)
    stream = fs.open(p)
    try:
        # commons-io ships with Hadoop; py4j passes primitive arrays by
        # value, so a read(buf) loop can't work from Python
        return bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def write_bytes(spark: SparkSession, path, payload: bytes) -> None:
    """Create or truncate ``path`` and write ``payload``. Not atomic: a
    reader racing the write can see a short file. Write to a temporary
    name and :func:`rename` where readers need the whole payload."""
    fs, p = _resolve(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(payload))
    finally:
        out.close()


def create_new(spark: SparkSession, path, payload: bytes) -> bool:
    """Create ``path`` holding ``payload`` only if it does not exist: True
    if this call created it, False if the file already existed. Atomic
    where ``create(overwrite=False)`` is (the local filesystem, HDFS).
    Any other failure raises."""
    fs, p = _resolve(spark, path)
    try:
        out = fs.create(p, False)
    except Exception as e:
        # The create's own already-exists error decides, because whoever
        # holds the file may delete it before an exists() check could see
        # it; permission or connectivity failures raise as themselves.
        java = getattr(e, "java_exception", None)
        already = java is not None and java.getClass().getName() == (
            "org.apache.hadoop.fs.FileAlreadyExistsException"
        )
        if not already and not fs.exists(p):
            raise
        return False
    try:
        out.write(bytearray(payload))
        out.close()
    except Exception:
        fs.delete(p, False)  # never leave a payload-less file behind
        raise
    return True
