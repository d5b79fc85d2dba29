"""Driver-side storage abstraction (SURVEY §2 S3).

Reference parity: ``manifest/mod.rs:131-167, 210-314`` reads the
manifest and model files from local disk OR object storage. Executor
reads (``spark.read.*``) already resolve any Hadoop-FS URI; this module
gives the DRIVER-side reads — manifest JSONC, model CSVs, xlsx bytes,
vocab-meta JSON — the same reach by routing scheme-qualified paths
(``s3a://``, ``s3://``, ``hdfs://``, ``gs://``, ``file://`` …) through
the JVM Hadoop ``FileSystem`` already on Spark's classpath. No new
Python dependencies; plain local paths never touch the JVM, so
driver-only code (manifest parse, vocab-meta reload) still works with
no SparkSession at all. ``file://`` URIs exercise the full JVM code
path, which is how the pytest coverage drives it hermetically.
"""

from __future__ import annotations

import posixpath
import re
from pathlib import Path

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*://")


def is_uri(path: str | Path) -> bool:
    """True for scheme-qualified paths that must go through Hadoop FS."""
    return bool(_SCHEME_RE.match(str(path)))


def join_path(base: str | Path, *parts: str | Path) -> str | Path:
    """Join path segments without mangling URIs.

    ``Path("s3a://b/x") / "y"`` collapses the ``//`` to ``s3a:/b/x/y``,
    which Hadoop then rejects — so URI bases join textually (posix
    semantics, empty segments skipped) and local bases stay ``Path``.
    """
    segs = [str(p).strip("/") for p in parts if str(p)]
    if is_uri(base):
        scheme, rest = str(base).split("://", 1)
        return scheme + "://" + posixpath.join(rest.rstrip("/"), *segs)
    out = Path(base)
    for s in segs:
        out = out / s
    return out


def parent(path: str | Path) -> str | Path:
    """Directory containing ``path`` (URI-aware dirname)."""
    if is_uri(path):
        scheme, rest = str(path).split("://", 1)
        return scheme + "://" + posixpath.dirname(rest.rstrip("/"))
    return Path(path).parent


def read_bytes(path: str | Path) -> bytes:
    """Whole-file bytes from a local path or any Hadoop-FS URI.

    URIs need an active SparkSession (the JVM carries the FileSystem
    implementations and their credentials config); local paths don't.
    Driver-side model/manifest files are dimension-sized by contract —
    the bulk data always flows executor-side through ``spark.read``.
    """
    p = str(path)
    if not is_uri(p):
        with open(p, "rb") as f:
            return f.read()
    _jvm, fs, jpath = _jvm_fs(p)
    stream = fs.open(jpath)
    try:
        data = stream.readAllBytes()  # java.io.InputStream (Java 9+), py4j -> bytes
    finally:
        stream.close()
    return bytes(data)


def read_text(path: str | Path, encoding: str = "utf-8-sig") -> str:
    """Whole-file text; default utf-8-sig mirrors the CSV readers'
    BOM-stripping behavior (harmless for BOM-less files)."""
    return read_bytes(path).decode(encoding)


def _jvm_fs(path: str):
    """(jvm, FileSystem, Path) triple for a URI — shared by reads,
    writes and mkdirs."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"Reading or writing {path!r} requires an active SparkSession "
            "(scheme-qualified driver-side reads and writes go through the "
            "JVM Hadoop FileSystem)"
        )
    sc = spark.sparkContext
    jvm = sc._jvm
    conf = sc._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI(path), conf)
    return jvm, fs, jvm.org.apache.hadoop.fs.Path(path)


def write_bytes(path: str | Path, data: bytes) -> None:
    """Whole-file write (overwrite) to a local path or any Hadoop-FS URI
    — the write-side twin of ``read_bytes``, giving ``Pipeline.run`` the
    reference's object-store output reach (``StorageLocation::
    write_contents``, csv-to-jsonld-lib/src/manifest/mod.rs:240-314).
    Driver-side outputs are dimension-sized (context, vocab, vocab-meta,
    single-doc instances); bulk sinks always go executor-side through
    ``df.write`` against the same URI."""
    p = str(path)
    if not is_uri(p):
        with open(p, "wb") as f:
            f.write(data)
        return
    jvm, fs, jpath = _jvm_fs(p)
    stream = fs.create(jpath, True)  # overwrite=True
    try:
        stream.write(data)
    finally:
        stream.close()


def write_text(path: str | Path, text: str, encoding: str = "utf-8") -> None:
    write_bytes(path, text.encode(encoding))


def mkdirs(path: str | Path) -> None:
    """mkdir -p for a local path or Hadoop-FS URI (no-op where the store
    has no directories, e.g. S3 — Hadoop returns success)."""
    p = str(path)
    if not is_uri(p):
        Path(p).mkdir(parents=True, exist_ok=True)
        return
    _jvm, fs, jpath = _jvm_fs(p)
    fs.mkdirs(jpath)
