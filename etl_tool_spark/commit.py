"""One commit protocol for every persistent store, on the Hadoop FileSystem.

Every persistent store reaches storage through this module: the five
ingest gates' stores and markers, the minhash and embedding update
stores, the exact and paragraph fingerprint stores, the IVF and PQ
index appends, the CDC snapshot, the incremental MV and store
compaction, so they run on any filesystem Hadoop serves (plain
paths, ``file://``, ``hdfs://``, ``s3a://`` where the connector is on
the classpath). A scheme Hadoop cannot serve fails on the first call,
before anything is written.

* ``ls(pattern)`` lists a directory or glob in ONE JVM call, never a
  per-file py4j loop; ``exists`` and ``read_text`` serve small metadata
  files.
* ``publish(path, text)`` creates ``path`` only if it is absent: a temp
  write, a rename, then a read-back. HDFS rename fails onto an existing
  target, but the local filesystem's silently REPLACES it, so the
  read-back is what turns a lost race into a detected one.
* ``promote(manifest)`` deletes the files the manifest replaces, moves
  the staged files into place and drops the stage. Every step tolerates
  an earlier, interrupted promote, so it is safe to re-run from any point.

A commit unit is a directory ``root``. A writer stages its files under
``root/_stage/<key>/`` in ``root``'s own relative layout, publishes the
manifest ``root/_applied/<key>``, then promotes. The stage is garbage
until the manifest exists and authoritative after it, so a crash leaves
either nothing visible or a published stage that the next
``recover(root)`` promotes. An ingest gate keys its stage by batch id
and keeps the manifest as the batch marker; every other manifest is
dropped by its promote. Names starting with ``_`` are hidden from
Spark's directory reads, so neither directory leaks into a table read
at ``root``.
"""

from __future__ import annotations

import json
import uuid

__all__ = ["ls", "exists", "read_text", "publish", "delete", "mtime",
           "stage", "marker", "begin", "commit", "promote", "recover"]

STAGE = "_stage"
APPLIED = "_applied"
PATH = "org.apache.hadoop.fs.Path"


def _fs(path: str):
    """(FileSystem, Path, cls) of ``path``. ``cls(name)`` is a JVM class
    by its full name, built in one step as PySpark does: the
    ``jvm.org.apache...`` attribute chain costs a py4j round trip per
    package segment (≈ 1.3 ms for ``hadoop.fs.Path`` on a 4-core VM)."""
    from py4j.java_gateway import JavaClass
    from pyspark.sql import SparkSession

    sc = SparkSession.active().sparkContext
    client = sc._gateway._gateway_client

    def cls(name: str):
        return JavaClass(name, client)

    p = cls(PATH)(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()), p, cls


def ls(pattern: str) -> list[str]:
    """Sorted qualified paths matching the Hadoop glob ``pattern``; []
    when nothing matches or the parent is missing."""
    fs, p, cls = _fs(pattern)
    found = (cls("org.apache.spark.deploy.SparkHadoopUtil").get()
             .globPath(fs, p).mkString("\n"))
    return sorted(found.split("\n")) if found else []


def exists(path: str) -> bool:
    fs, p, _ = _fs(path)
    return fs.exists(p)


def read_text(path: str) -> str | None:
    """The UTF-8 content of a small file, or None when it is absent."""
    from py4j.protocol import Py4JJavaError

    fs, p, cls = _fs(path)
    try:
        stream = fs.open(p)
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() \
                == "java.io.FileNotFoundException":
            return None
        raise
    try:
        return cls("org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()


def publish(path: str, text: str) -> bool:
    """Create ``path`` holding ``text`` only if it is absent. Returns
    False when another write occupies ``path``."""
    fs, dst, cls = _fs(path)
    if fs.exists(dst):
        return False
    tmp = cls(PATH)(dst.getParent(), f".tmp-{uuid.uuid4().hex}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dst) or not fs.rename(tmp, dst):
        fs.delete(tmp, False)
        return False
    return read_text(path) == text


def delete(path: str) -> None:
    """Delete a file or a directory tree; a missing path is a no-op."""
    fs, p, _ = _fs(path)
    fs.delete(p, True)


def mtime(path: str) -> int:
    """Modification time of ``path`` in epoch milliseconds."""
    fs, p, _ = _fs(path)
    return fs.getFileStatus(p).getModificationTime()


def stage(root: str, key) -> str:
    return f"{root}/{STAGE}/{key}"


def marker(root: str, key) -> str:
    return f"{root}/{APPLIED}/{key}"


def begin(root: str, key) -> str:
    """A fresh stage for ``key``: whatever an earlier attempt staged
    there and never published is deleted."""
    s = stage(root, key)
    delete(s)
    return s


def commit(root: str, key, replaces=(), keep: bool = True) -> list[str]:
    """Publish the manifest of stage ``key``, then promote it. Returns
    the promoted files. ``keep=True`` keeps the manifest as the batch
    marker."""
    m = marker(root, key)
    if not publish(m, json.dumps({"replaces": list(replaces),
                                  "keep": keep})):
        raise RuntimeError(f"{m} was committed by another writer; the "
                           "store assumes a single writer")
    return promote(m)


def _move(fs, Path, src: str, dst: str) -> None:
    if not fs.rename(Path(src), Path(dst)):
        raise OSError(f"could not move {src} to {dst}")


def promote(manifest: str) -> list[str]:
    """Finish the published stage of ``manifest`` (module docstring) and
    return the files moved into place. The manifest of an empty bare
    marker (written by earlier code) replaces nothing."""
    root, key = manifest.rsplit(f"/{APPLIED}/", 1)
    spec = json.loads(read_text(manifest) or "{}")
    src = stage(root, key)
    fs, src_p, cls = _fs(src)
    Path = cls(PATH)
    for f in spec.get("replaces", []):
        fs.delete(Path(f), False)
    base = fs.makeQualified(src_p).toString()
    moved, parents = [], set()
    for f in ls(f"{src}/{{*,*/*,*/*/*}}.parquet"):
        dst = f"{root}/{f[len(base) + 1:]}"
        parent = dst.rsplit("/", 1)[0]
        if parent not in parents:
            fs.mkdirs(Path(parent))
            parents.add(parent)
        _move(fs, Path, f, dst)
        moved.append(dst)
    if not spec.get("keep", True):
        fs.delete(Path(manifest), False)
    fs.delete(src_p, True)
    return moved


def recover(root: str) -> None:
    """Promote every published stage under ``root``. One listing when
    nothing is pending; unpublished stages are left to their writer's
    ``begin``, so a reader never deletes a stage still being written."""
    for s in ls(f"{root}/{STAGE}/*"):
        m = marker(root, s.rsplit("/", 1)[1])
        if exists(m):
            promote(m)
