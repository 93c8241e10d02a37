"""Hadoop FileSystem helpers.

Size and existence checks resolved through the JVM FileSystem API so
maintenance and ingest behave identically on every supported URI scheme
(``file://``, ``hdfs://``, ``s3a://``, ...) — ``os.path`` / ``os.walk``
silently see nothing on non-local URIs, which would make compaction
compute total=0 and ingest treat an existing corpus as absent.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) pair for ``path`` under the session's Hadoop conf."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = hadoop_fs(spark, path)
    return bool(fs.exists(p))


def list_subdirs(spark: SparkSession, path: str) -> list[str]:
    """Names of the immediate subdirectories of ``path`` ([] if absent)."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
    ]


def delete_dir(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` (no-op if absent)."""
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def dir_bytes(spark: SparkSession, path: str, suffix: str = ".parquet") -> int:
    """Total bytes of ``suffix`` files under ``path``, recursive; 0 if the
    path does not exist."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return 0
    it = fs.listFiles(p, True)
    total = 0
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(suffix):
            total += st.getLen()
    return total


def rename_dir(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to ``dst`` through the FileSystem API — works for
    single files as well as directories (the per-file move primitive of
    the manifest swap). Fails loudly when the filesystem refuses (dst
    exists, src missing, cross-FS move) — a silent False from
    ``FileSystem.rename`` would leave a half-swapped state the caller
    believes committed."""
    fs, sp = hadoop_fs(spark, src)
    _, dp = hadoop_fs(spark, dst)
    if not fs.rename(sp, dp):
        raise OSError(f"rename {src!r} -> {dst!r} refused by the filesystem")


def list_data_files(spark: SparkSession, path: str) -> list[str]:
    """Names of the VISIBLE files directly under ``path`` ([] if absent):
    hidden entries (``_*``/``.*`` — committer markers, checksum litter,
    ``_temporary`` leftovers) and subdirectories are excluded, matching
    what a parquet reader actually scans. Sorted for determinism."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isFile() and not st.getPath().getName()[0] in ("_", ".")
    )


def write_text_file(spark: SparkSession, path: str, text: str) -> None:
    """Create (or replace) ``path`` with ``text`` in ONE create+close —
    a single-object PUT on object stores, an atomic publish everywhere:
    readers see the old content or the whole new file, never a torn
    write. The commit-marker primitive for multi-file swap protocols."""
    fs, p = hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark: SparkSession, path: str) -> str:
    """Read ``path`` fully as UTF-8 text (small control files only)."""
    fs, p = hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        # commons-io ships with Hadoop; py4j returns byte[] as bytes
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()


def mkdirs(spark: SparkSession, path: str) -> None:
    """Create ``path`` (and parents) if absent."""
    fs, p = hadoop_fs(spark, path)
    fs.mkdirs(p)
