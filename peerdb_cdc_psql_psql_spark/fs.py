"""Hadoop FileSystem helpers — the cluster-safe replacement for
driver-local ``os``/``shutil`` calls in maintenance paths.

Every mutation of mirror target layout (compaction, watermark state,
mirror drop) must go through the same filesystem abstraction Spark's
readers/writers use, or it silently breaks the moment ``target_root``
is an object store / HDFS URI instead of a driver-local directory
(the reference's durability invariant: slot/state survives process
death, monitoring.ps1:976-988). These wrappers call the JVM-side
``org.apache.hadoop.fs.FileSystem`` resolved per-path, so ``file:``,
``hdfs:`` and ``s3a:`` URIs all behave identically.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, _, jpath = _fs(spark, path)
    return bool(fs.exists(jpath))


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, _, jpath = _fs(spark, path)
    fs.mkdirs(jpath)


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, _, jpath = _fs(spark, path)
    return bool(fs.delete(jpath, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    fs, jvm, jsrc = _fs(spark, src)
    return bool(fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)))


def list_file_stats(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """``(path, length, mtime_ms)`` of the data files directly under
    ``path`` (commit markers like _SUCCESS and hidden files excluded —
    the files Spark's own readers see); the identity of an immutable
    file, for memos keyed on it. Empty list if the dir doesn't exist.

    On the local filesystem the listing is one ``os.scandir`` with no
    JVM round trip per file (a WAL of thousands of files lists in
    milliseconds instead of seconds); paths come back qualified the
    way Hadoop prints them. Other schemes list through Hadoop."""
    fs, _, jpath = _fs(spark, path)
    qualified = fs.makeQualified(jpath)
    if fs.getUri().getScheme() == "file":
        base = qualified.toString().rstrip("/")
        try:
            entries = list(os.scandir(qualified.toUri().getPath()))
        except FileNotFoundError:
            return []
        return [
            (f"{base}/{e.name}", st.st_size, st.st_mtime_ns // 1_000_000)
            for e in entries
            if not e.name.startswith(("_", ".")) and e.is_file()
            for st in [e.stat()]
        ]
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        p = st.getPath()
        if st.isFile() and not p.getName().startswith(("_", ".")):
            out.append((p.toString(), int(st.getLen()), int(st.getModificationTime())))
    return out


def list_files(spark: SparkSession, path: str, suffix: str = "") -> list[str]:
    """Data files directly under ``path`` (see ``list_file_stats``).
    Empty list if the dir doesn't exist."""
    return [p for p, _, _ in list_file_stats(spark, path) if p.endswith(suffix)]


def mtime_ms(spark: SparkSession, path: str) -> int | None:
    """Modification time of ``path`` in epoch milliseconds, or None if
    it does not exist — used by age-lease sweeps where liveness of the
    owning process cannot be checked (a pid from ANOTHER host)."""
    fs, _, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    return int(fs.getFileStatus(jpath).getModificationTime())


def total_size(spark: SparkSession, paths: list[str]) -> int:
    """Sum of file lengths in bytes (for size-targeted compaction —
    the output file count must track the DATA size, not be pinned to
    one file that stops scaling past a single task)."""
    n = 0
    for p in paths:
        fs, _, jp = _fs(spark, p)
        if fs.exists(jp):
            n += int(fs.getFileStatus(jp).getLen())
    return n


def list_dirs(spark: SparkSession, path: str, prefix: str = "") -> list[str]:
    """Subdirectory names (not full paths) under ``path``."""
    fs, _, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(jpath)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    )


def read_text(spark: SparkSession, path: str) -> str | None:
    fs, jvm, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return str(
            jvm.org.apache.commons.io.IOUtils.toString(
                stream, jvm.java.nio.charset.StandardCharsets.UTF_8
            )
        )
    finally:
        stream.close()


def write_bytes_atomic(spark: SparkSession, path: str, data: bytes) -> None:
    """Write-tmp-then-rename: readers see either the old or the new
    content, never a torn write. The temp file is dot-prefixed, so
    directory readers (batch and streaming file sources list every
    non-hidden file) never pick it up mid-write. HDFS rename won't
    clobber, so an existing file is deleted first — the instant where
    the path is absent is covered by callers' fallback resolution
    (e.g. highest base_v*)."""
    fs, jvm, jpath = _fs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(jpath.getParent(), f".{jpath.getName()}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        fs.delete(tmp, False)
        raise OSError(f"rename to {path} failed")


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """UTF-8 text through ``write_bytes_atomic``."""
    write_bytes_atomic(spark, path, text.encode("utf-8"))


def sweep_gc_manifest(spark: SparkSession, manifest_path: str) -> list[str]:
    """Deferred-GC sweep, shared by target compaction (cdc.py) and the
    fingerprint store (dedup_stream.py): delete every path listed in
    the JSON manifest (their reader-grace interval has elapsed), then
    the manifest itself. Tolerates a corrupt/absent manifest (treated
    as empty — GC is best-effort; a skipped sweep retries next round).
    Returns the deleted paths."""
    import json as _json

    txt = read_text(spark, manifest_path)
    if not txt:
        return []
    try:
        stale = list(_json.loads(txt))
    except (ValueError, TypeError):
        stale = []
    for p in stale:
        delete(spark, p, recursive=True)
    delete(spark, manifest_path, recursive=False)
    return stale
