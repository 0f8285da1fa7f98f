"""Hadoop FileSystem helpers for warehouse and ingest paths.

All warehouse/landing-zone filesystem access goes through the Hadoop
FileSystem API (via the Spark JVM gateway), never ``os.*``, so the same
code runs against ``file://`` in tests and ``hdfs://`` / ``s3a://`` /
``gs://`` on a real cluster — the reference's blob-store landing zone
(datasink/filesystem/filesystem.go:95-171, storage/blobstore/{s3,gcs})
is a URI scheme choice here, not a code path.

Paths with no scheme resolve against the configured default FS
(``file://`` on local[*]), preserving the plain-local-path behavior the
tests rely on.

Directory LISTING is the one metadata call that is O(entries) in py4j
round trips (~0.3 ms each: 100k files = ~30 s per listing, measured —
round-8 metadata rehearsal), and commit_snapshot lists the table dir
on every commit. Local paths therefore take an ``os.scandir`` fast
path (~1 us/entry, same results); URI schemes keep the JVM walk,
where the store's LIST API paging dominates py4j overhead anyway.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import SparkSession


def _local_path(path) -> str | None:
    """The local-filesystem path when ``path`` is local (bare path,
    ``file:`` or ``file://``), else None. file://host/... with a
    non-empty host is NOT local."""
    p = str(path)
    if p.startswith("file://"):
        rest = p[len("file://"):]
        return rest if rest.startswith("/") else None
    if p.startswith("file:"):
        return p[len("file:"):]
    return None if "://" in p else p


def _jfs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def exists(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _jfs(spark, path)
    return bool(fs.exists(hpath))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, hpath, _ = _jfs(spark, path)
    return bool(fs.exists(hpath) and fs.getFileStatus(hpath).isDirectory())


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, hpath, _ = _jfs(spark, path)
    fs.mkdirs(hpath)


def list_names(
    spark: SparkSession, path: str, dirs_only: bool = False
) -> list[str]:
    """Child names of ``path`` ([] if it doesn't exist). Local paths
    use os.scandir (see module docstring: the JVM walk costs ~0.3 ms
    of py4j per entry, which commit latency cannot afford at 100k
    files); the two paths return identical results, pinned by
    test_fs_list_names_local_fast_path_matches_jvm."""
    lp = _local_path(path)
    if lp is not None:
        try:
            with _os.scandir(lp) as it:
                if dirs_only:
                    return [e.name for e in it if e.is_dir()]
                # Hadoop's local FS is ChecksumFileSystem: its
                # listStatus HIDES the ``.<name>.crc`` sidecars that
                # Hadoop-path writes create — mirror that, or callers
                # (orphan audits, shard GC) see phantom entries
                return [
                    e.name
                    for e in it
                    if not (
                        e.name.startswith(".") and e.name.endswith(".crc")
                    )
                ]
        except FileNotFoundError:
            return []
        except NotADirectoryError:
            # Hadoop listStatus(file) yields that file's own status
            return [] if dirs_only else [_os.path.basename(lp.rstrip("/"))]
    fs, hpath, _ = _jfs(spark, path)
    if not fs.exists(hpath):
        return []
    out = []
    for st in fs.listStatus(hpath):
        if dirs_only and not st.isDirectory():
            continue
        out.append(st.getPath().getName())
    return out


def mtime(spark: SparkSession, path: str) -> int:
    """Modification time of ``path`` in epoch milliseconds (0 when the
    path doesn't exist). Used by maintenance reclamation to give
    not-yet-referenced metadata written by in-flight commits a grace
    window before being treated as debris."""
    fs, hpath, _ = _jfs(spark, path)
    if not fs.exists(hpath):
        return 0
    return int(fs.getFileStatus(hpath).getModificationTime())


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    fs, hpath, _ = _jfs(spark, path)
    return bool(fs.delete(hpath, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """FileSystem.rename — atomic within one HDFS/file namespace (on
    object stores it's a copy+delete; callers that need atomic
    visibility gate on a manifest PUT instead, see snapshots.py)."""
    fs, spath, jvm = _jfs(spark, src)
    return bool(fs.rename(spath, jvm.org.apache.hadoop.fs.Path(dst)))


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create-or-overwrite a small text file (sidecar metadata)."""
    fs, hpath, _ = _jfs(spark, path)
    out = fs.create(hpath, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()


def put_text_atomic(
    spark: SparkSession, path: str, text: str, overwrite: bool = True
) -> bool:
    """Write-to-temp + rename, so the FINAL name only ever exists with
    its complete content — a plain create() makes the filename visible
    with zero bytes until the stream closes, and a concurrent reader
    (snapshot readers, the CDC stream source) can catch the empty
    window. Rename is atomic within one HDFS/local namespace.

    ``overwrite=False`` is the compare-and-swap snapshots.py uses for
    optimistic-concurrency commits: returns False when the target
    already exists. On HDFS rename-onto-existing fails, making this a
    true CAS; on the local FS (POSIX rename replaces) the existence
    check narrows the race to the rename itself. Object stores
    without atomic rename/conditional PUT need a coordination layer
    above this — the same boundary Delta/Iceberg document."""
    import uuid as _uuid

    fs, hpath, jvm = _jfs(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{path}.tmp-{_uuid.uuid4().hex}"
    )
    out = fs.create(tmp, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()
    if not overwrite and fs.exists(hpath):
        fs.delete(tmp, False)
        return False
    if overwrite and fs.exists(hpath):
        # FileSystem.rename refuses an existing destination, so the
        # replace path goes through FileContext's Rename.OVERWRITE —
        # atomic on HDFS and on the local FS (Files.move
        # REPLACE_EXISTING); the destination never observably vanishes
        try:
            ctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                hpath.toUri(), spark._jsc.hadoopConfiguration()
            )
            gw = spark.sparkContext._gateway
            opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
            opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            ctx.rename(tmp, hpath, opts)
            return True
        except Exception:
            # FS without FileContext support: fall back to
            # delete-then-rename (narrow non-atomic window). Verify
            # the temp file still exists BEFORE deleting the
            # destination — a transient FileContext failure followed
            # by a missing temp would otherwise delete the only copy.
            if not fs.exists(tmp):
                raise IOError(
                    f"atomic put failed: temp file {tmp} vanished "
                    f"before replacing {path}"
                )
            fs.delete(hpath, False)
            if not fs.rename(tmp, hpath):
                # destination already deleted and the rename failed.
                # Recover through a SECOND temp + rename, never a plain
                # create(hpath) — that would make the final name
                # visible with zero bytes mid-write, breaking this
                # function's contract (a concurrent manifest reader
                # could observe truncated JSON on a committed version).
                tmp2 = jvm.org.apache.hadoop.fs.Path(
                    f"{path}.tmp-{_uuid.uuid4().hex}"
                )
                out = fs.create(tmp2, True)
                try:
                    out.write(text.encode("utf-8"))
                finally:
                    out.close()
                fs.delete(tmp, False)
                if not fs.rename(tmp2, hpath):
                    # destination is gone and two renames failed:
                    # raise rather than leave a non-atomic create —
                    # the caller's commit fails loudly instead of a
                    # reader seeing partial content
                    fs.delete(tmp2, False)
                    raise IOError(
                        f"atomic put failed: retry rename {tmp2} -> "
                        f"{path} after destination delete"
                    )
            return True
    if not fs.rename(tmp, hpath):
        fs.delete(tmp, False)
        if not overwrite and fs.exists(hpath):
            return False  # HDFS true-CAS path: a racer won the rename
        raise IOError(f"atomic put failed: {tmp} -> {path}")
    return True


def create_text(spark: SparkSession, path: str, text: str) -> bool:
    """Create-IF-ABSENT with full-content visibility (see
    put_text_atomic): returns False when the file already exists."""
    return put_text_atomic(spark, path, text, overwrite=False)


def read_text(spark: SparkSession, path: str) -> str:
    fs, hpath, jvm = _jfs(spark, path)
    stream = fs.open(hpath)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def move_from_local(spark: SparkSession, local: str, remote: str) -> None:
    """Upload a node-local file to ``remote`` and remove the local copy —
    the rotate-then-upload step of the reference's filesystem datasink
    (filesystem.go:95-171: local NDJSON -> blob store)."""
    fs, rpath, jvm = _jfs(spark, remote)
    parent = rpath.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    fs.moveFromLocalFile(jvm.org.apache.hadoop.fs.Path(local), rpath)


class HadoopLanding:
    """Landing zone for rotated ingest files on any Hadoop-supported
    store. ``upload`` returns the remote path; the streaming ingest
    source (streaming/ingest_stream.py) then reads
    ``<root>/closed/<db>/<table>/`` as its file source."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    def closed_dir(self, database: str, table: str) -> str:
        return f"{self.root}/closed/{database}/{table}"

    def upload(self, database: str, table: str, local_path: str) -> str:
        import os as _os

        remote = (
            f"{self.closed_dir(database, table)}/"
            f"{_os.path.basename(local_path)}"
        )
        move_from_local(self.spark, local_path, remote)
        return remote


def rename_many(
    spark: SparkSession, pairs: list[tuple[str, str]]
) -> None:
    """Rename many files, overlapping the renames on a bounded thread
    pool (py4j serves each thread on its own gateway connection —
    same pattern as snapshots._read_shards). On an object store each
    rename is a ~50-200 ms copy+delete round trip, and commit paths
    issue ONE per landed data file: serial that is O(files) x latency
    (measured 13.6 s of a 17.9 s bulk commit at 256 files x 50 ms —
    commit_latency_rehearsal_r10.json at e9bc22d), pooled it is
    ~ceil(files/16) x latency. Raises IOError naming every failed
    pair; callers treat any failure as a pre-commit abort (the files
    are invisible until a manifest PUT references them)."""
    if not pairs:
        return
    if len(pairs) == 1:
        src, dst = pairs[0]
        if not rename(spark, src, dst):
            raise IOError(f"rename failed: {src} -> {dst}")
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(min(16, len(pairs))) as pool:
        oks = list(
            pool.map(lambda p: rename(spark, p[0], p[1]), pairs)
        )
    failed = [p for p, ok in zip(pairs, oks) if not ok]
    if failed:
        raise IOError(
            "rename failed for "
            + ", ".join(f"{s} -> {d}" for s, d in failed)
        )
