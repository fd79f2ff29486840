"""Sink-state filesystem IO through the Hadoop FileSystem API.

Every fenced sink in this engine keeps metadata-sized state beside its
data: a manifest (`_manifest.json`), a fence (`_fence.json`), versioned
state directories.  Driver-local
``open``/``os.replace`` binds that state to the driver's POSIX
filesystem — fine under local[n] tests, wrong on a cluster where the
state dir is an object-store URI (``s3a://…``, ``hdfs://…``) right next
to the parquet it fences.  The ANN manifest
(operators/ann_maintenance.py) has always gone through Hadoop's
FileSystem API for exactly that reason; this module is that plumbing
promoted to a shared home so the rollup, dedup, CDC-state and
shard-writer sinks resolve their state through the SAME filesystem
abstraction their data writes use (scheme-qualified URIs and
scheme-less local paths alike — local paths resolve against
``fs.defaultFS`` exactly as DataFrame reads do).  Every sink, the ANN
index included, commits by swapping one such file with
:func:`write_json_atomic`.

All calls are driver-side (foreachBatch bodies, maintenance ops) and
metadata-sized: one JVM round-trip each, O(1) per trigger — nothing
here touches row data.

Atomicity note: tmp-write + rename is atomic on HDFS and local
filesystems.  Object stores rename by copy; :func:`read_json_or_none`
covers the window in which the destination is missing by reading the
tmp file, whose parse check rejects a partial write.
"""

from __future__ import annotations

import json

__all__ = [
    "join",
    "exists",
    "is_dir",
    "list_names",
    "list_files",
    "rename",
    "mkdirs",
    "delete",
    "read_json_or_none",
    "write_file_atomic",
    "write_json_atomic",
]


def join(*parts: str) -> str:
    """Scheme-safe path join: ``os.path.normpath`` corrupts URI
    authorities (``s3a://b`` → ``s3a:/b``), so join with "/" and drop
    "." segments instead.  All-empty/"." input degrades to "." like
    ``normpath`` (a relative state_dir of "." joined with a legacy
    version of ".")."""
    segs = [p for p in parts if p not in ("", ".")]
    if not segs:
        return "."
    head, tail = segs[0], [p.strip("/") for p in segs[1:] if p.strip("/")]
    return "/".join([head.rstrip("/")] + tail) if tail else head


def _fs(spark, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(spark, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath))


def is_dir(spark, path: str) -> bool:
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.exists(jpath) and fs.getFileStatus(jpath).isDirectory())


def list_names(spark, path: str) -> list[str]:
    """Child names of ``path`` ([] when it does not exist)."""
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def list_files(spark, path: str) -> list[tuple[str, int]]:
    """(name, size) of the plain files under ``path`` ([] when it does
    not exist); directories are skipped."""
    fs, jpath, _ = _fs(spark, path)
    if not fs.exists(jpath):
        return []
    return [
        (st.getPath().getName(), int(st.getLen()))
        for st in fs.listStatus(jpath)
        if st.isFile()
    ]


def rename(spark, src: str, dst: str) -> bool:
    """Plain filesystem rename (no overwrite semantics) — directory
    swaps and similar maintenance moves."""
    fs, jsrc, jvm = _fs(spark, src)
    return bool(fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dst)))


def mkdirs(spark, path: str) -> None:
    fs, jpath, _ = _fs(spark, path)
    fs.mkdirs(jpath)


def delete(spark, path: str, *, recursive: bool = True) -> bool:
    """Delete ``path`` (missing is a no-op, mirroring
    ``shutil.rmtree(..., ignore_errors=True)``); True when something
    was removed."""
    fs, jpath, _ = _fs(spark, path)
    return bool(fs.delete(jpath, recursive))


def _tmp_path(jvm, jpath):
    return jvm.org.apache.hadoop.fs.Path(
        jpath.getParent(), "." + jpath.getName() + ".tmp"
    )


def _is_missing(exc) -> bool:
    """True when a py4j error wraps a missing-file condition."""
    try:
        from py4j.protocol import Py4JJavaError
    except ImportError:  # pragma: no cover
        return False
    return isinstance(exc, Py4JJavaError) and (
        "FileNotFoundException" in str(exc.java_exception)
    )


def _read_bytes(fs, jvm, jpath) -> bytes | None:
    """Missing-tolerant read: an exists() pre-check keeps the common
    no-state probe cheap (no Java exception construction), and the
    open() and read catches close the TOCTOU hole for a file deleted
    after the check (another writer's swap) — on an
    object store open() can succeed and only the later GET fail."""
    if not fs.exists(jpath):
        return None
    try:
        inp = fs.open(jpath)
    except Exception as exc:
        if _is_missing(exc):
            return None
        raise
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(inp))
    except Exception as exc:
        if _is_missing(exc):
            return None
        raise
    finally:
        inp.close()


def read_json_or_none(spark, path: str):
    """Parsed JSON, or None when the file is missing or unparseable —
    the exact semantics of the sinks' old ``except (OSError,
    ValueError)`` manifest reads (an unparseable manifest means a
    pre-manifest layout or torn legacy state, and every caller treats
    both as "no committed state").

    The tmp fallback (closing :func:`write_file_atomic`'s
    delete→rename window) is parse-aware: a reader that missed dst in
    one swap's delete window can catch the NEXT swap's tmp mid-write
    (tmp is only guaranteed complete inside its own swap's window), so
    a tmp read that doesn't parse to a CONTAINER (dict/list) triggers
    a resample rather than a false "no committed state" — dst is back
    by then.  Containers are the completeness check: a torn prefix of
    a serialized object/array is never itself valid JSON, while a
    torn scalar's prefix can be (b"123" from b"123456") — so only
    container payloads are accepted from tmp, which every sink
    satisfies (manifests and fences are objects).  An unparseable DST
    is different: dst is only ever written by rename, never in place,
    so it cannot be torn — it is legacy/foreign content and keeps the
    documented None semantics.  The double-miss resample loop also
    closes the ABA interleaving (dst missed in the delete window, tmp
    missed because the rename just moved it onto dst) — both races
    are pinned by the concurrent-reader test."""
    fs, jpath, jvm = _fs(spark, path)
    tmp = _tmp_path(jvm, jpath)
    for _ in range(4):
        data = _read_bytes(fs, jvm, jpath)
        if data is not None:
            try:
                return json.loads(data)
            except ValueError:
                return None
        data = _read_bytes(fs, jvm, tmp)
        if data is not None:
            try:
                parsed = json.loads(data)
            except ValueError:
                continue  # torn mid-next-swap tmp: resample
            if isinstance(parsed, (dict, list)):
                return parsed
            continue  # scalar from tmp: cannot prove completeness
    return None


def write_file_atomic(spark, path: str, data: bytes) -> None:
    """Write tmp, then swap into place.  Rename is tried FIRST (HDFS
    and local rename refuse an existing destination, returning False —
    they do not clobber); only then is the old file deleted and the
    rename retried.  A crash between that delete and the retry loses
    nothing: the completed tmp file holds the new state,
    :func:`read_json_or_none` falls back to it, and the NEXT write
    promotes it to dst before truncating tmp — so neither readers nor
    a second crash ever observe "no committed state" for a store that
    has one: the property the old in-place ``os.replace`` gave these
    sinks."""
    fs, jpath, jvm = _fs(spark, path)
    parent = jpath.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    tmp = _tmp_path(jvm, jpath)
    if not fs.exists(jpath) and fs.exists(tmp):
        # a previous swap died between its delete and its rename: the
        # tmp holds the ONLY copy of committed state, and truncating
        # it for this write would make a second crash lose it for
        # good — promote it to dst first (review finding)
        fs.rename(tmp, jpath)
    out = fs.create(tmp, True)
    out.write(bytearray(data))
    out.close()
    if fs.rename(tmp, jpath):
        return
    fs.delete(jpath, False)
    if not fs.rename(tmp, jpath):
        raise IOError(f"atomic write rename failed: {path}")


def write_json_atomic(spark, path: str, obj) -> None:
    write_file_atomic(spark, path, json.dumps(obj).encode())
