"""Object-store-safe filesystem primitives via the Hadoop FileSystem API.

Every path the engine touches for metadata (manifests, checkpoints,
markers) goes through ``org.apache.hadoop.fs.FileSystem`` — the same
abstraction Spark's own committers use — so the sink layer runs unchanged
wherever a 100 TB table actually lives (HDFS, S3A, GCS, ABFS, local).
No ``os`` / ``shutil`` / ``open()`` calls anywhere in the sink path.

Small-file reads go through ``FileSystem.open`` (no Spark job), writes
through ``FileSystem.create``; the single rename used for manifest commits is
atomic on HDFS and local filesystems.  On S3 proper, swap
:func:`rename_atomic` for a conditional PUT (If-None-Match) — one
function, documented at the call site in :mod:`srag_spark.sources.tables`.
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession


def _jpath(spark: SparkSession, path: str):
    return spark._jvm.org.apache.hadoop.fs.Path(path)


def _fs(spark: SparkSession, path: str):
    """FileSystem instance for the scheme of ``path`` (local, s3a, ...)."""
    return _jpath(spark, path).getFileSystem(spark._jsc.hadoopConfiguration())


def exists(spark: SparkSession, path: str) -> bool:
    return _fs(spark, path).exists(_jpath(spark, path))


def mkdirs(spark: SparkSession, path: str) -> None:
    _fs(spark, path).mkdirs(_jpath(spark, path))


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    if not fs.exists(p):
        return False
    return fs.delete(p, recursive)


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child file/dir names (not full paths) of a directory; [] if absent."""
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def list_status(spark: SparkSession, path: str) -> list[dict]:
    """Child entries of a directory with metadata: ``[{"name", "size",
    "is_dir", "mtime_ms"}, ...]``; [] if absent.  One namenode RPC like
    :func:`list_names` — object-store-safe."""
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    if not fs.exists(p):
        return []
    return [
        {
            "name": st.getPath().getName(),
            "size": st.getLen(),
            "is_dir": st.isDirectory(),
            "mtime_ms": st.getModificationTime(),
        }
        for st in fs.listStatus(p)
    ]


def write_text(spark: SparkSession, path: str, data: str) -> None:
    """Create/overwrite a small text file through the FS API."""
    fs = _fs(spark, path)
    out = fs.create(_jpath(spark, path), True)
    try:
        out.write(bytearray(data.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    """Read a small text file (one object — e.g. a manifest) through the
    raw FileSystem API: a driver-side stream, no Spark job.  Unlike a
    DataFrame read it also sees files whose names start with ``_`` or
    ``.`` — Spark's file index treats those as hidden/metadata and
    returns NOTHING for them, which is exactly why sidecar manifests use
    such names (parquet readers of the same directory must skip them)."""
    fs = _fs(spark, path)
    inp = fs.open(_jpath(spark, path))
    try:
        baos = spark._jvm.java.io.ByteArrayOutputStream()
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(inp, baos, 4096, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        inp.close()


def read_text_or_none(spark: SparkSession, path: str) -> str | None:
    """Like :func:`read_text`, but None when the object is absent —
    the existence-probe read tag resolution uses."""
    fs = _fs(spark, path)
    if not fs.exists(_jpath(spark, path)):
        return None
    return read_text(spark, path)


def modification_time_ms(spark: SparkSession, path: str) -> int | None:
    """FileStatus modification time in ms since epoch; None if absent."""
    fs = _fs(spark, path)
    p = _jpath(spark, path)
    if not fs.exists(p):
        return None
    return int(fs.getFileStatus(p).getModificationTime())


def current_time_ms(spark: SparkSession) -> int:
    """JVM clock (System.currentTimeMillis) — the same clock that stamps
    local/HDFS FileStatus modification times, so age comparisons against
    :func:`modification_time_ms` are skew-free on those filesystems.  On
    object stores the store's clock stamps objects; keep retention
    windows ≫ plausible clock skew."""
    return int(spark._jvm.System.currentTimeMillis())


_CLAIM_STALE_MS = 60_000


def rename_atomic(spark: SparkSession, src: str, dst: str) -> bool:
    """Atomic, EXCLUSIVE single-object publish via rename (S3 proper:
    replace with a conditional PUT).  Returns False if ``dst`` already
    exists or another writer is publishing it.

    Plain exists-check-then-rename is TOCTOU-racy on a LOCAL filesystem:
    Hadoop's RawLocalFileSystem rename is POSIX rename, which OVERWRITES
    an existing destination, so two racing commits could both 'succeed'
    and silently drop one update (HDFS rename refuses instead).
    Exclusivity is therefore taken with an atomic create-exclusive claim
    object (``FileSystem.create(path, overwrite=false)`` — atomic on
    local AND HDFS): exactly one racer creates ``<dst>.claim`` and gets
    to rename; losers return False.  Content atomicity still comes from
    the rename (readers never see a torn ``dst``).

    Crash recovery: a writer that dies between claim and rename leaves a
    claim with no ``dst``; a later writer treats a claim older than 60 s
    whose ``dst`` is still absent as stale, removes it, and re-claims.
    The claim is OWNER-VERIFIABLE: each claim carries its writer's uuid,
    and a writer proceeds to rename only if a fresh re-read of the claim
    still shows its own id.  This closes the delete/re-create interleave
    in which two writers both judge a claim stale, writer B deletes
    writer A's freshly re-created claim, and both believe they hold it —
    with owner verification exactly one of them (the one whose id the
    claim actually contains) passes the final check.  A residual window
    remains between the verify read and the rename (inherent to
    delete+create takeover without a CAS primitive); the 60 s staleness
    threshold keeps that window reachable only when two recoveries race
    within milliseconds of each other, and the takeover path is itself
    only reachable after a writer crash mid-commit."""
    fs = _fs(spark, src)
    dstp = _jpath(spark, dst)
    if fs.exists(dstp):
        return False
    claim = _jpath(spark, dst + ".claim")
    writer_id = uuid.uuid4().hex

    def try_claim() -> bool:
        try:
            out = fs.create(claim, False)
            try:
                out.write(bytearray(writer_id.encode("utf-8")))
            finally:
                out.close()
            return True
        except Exception:  # noqa: BLE001 — FileAlreadyExists via py4j
            return False

    if not try_claim():
        age = None
        if fs.exists(claim) and not fs.exists(dstp):
            age = current_time_ms(spark) - int(
                fs.getFileStatus(claim).getModificationTime()
            )
        if age is None or age < _CLAIM_STALE_MS:
            return False
        fs.delete(claim, False)  # stale claim from a crashed writer
        if not try_claim():
            return False
    # owner verification: another recovering writer may have deleted and
    # re-created the claim between our create and here — only the writer
    # whose id the claim NOW contains holds it
    if _claim_owner(spark, fs, claim) != writer_id:
        return False
    if fs.exists(dstp):  # claimed a version that was published meanwhile
        return False
    return bool(fs.rename(_jpath(spark, src), dstp))


def _claim_owner(spark: SparkSession, fs, claim_jpath) -> str | None:
    """Writer id stored in a claim object; None if unreadable/absent.
    Reads through the FS API (commons-io is on Spark's classpath), not
    ``spark.read`` — the claim is a handful of bytes on the commit path."""
    try:
        stream = fs.open(claim_jpath)
    except Exception:  # noqa: BLE001 — deleted under us / not yet visible
        return None
    try:
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8", "replace")
    finally:
        stream.close()
