"""Per-corpus-snapshot materialized tables (the ingest-time index shape).

The reference builds its expensive derived artifacts ONCE at ingest —
the GraphRAG entity graph and community structure
(`graphrag/general/index.py`), the RAPTOR tree (`rag/raptor.py` via the
task executor), the curation verdicts — and every query reads the stored
result.  This module is that contract for the Spark engine: an explicit
``materialize(kind, ...)`` write per corpus snapshot, keyed by a
fingerprint of the backing documents files, with query operators scanning
the table when it exists and recomputing when it doesn't (so a fresh
session with no warehouse — the driver's oracle run — still exercises
the full compute path).

Staleness is structural, not temporal: the path embeds
(relative path, size, mtime) of EVERY file backing ``documents.parquet``
(recursively — a partitioned dataset's part files live in subdirectories
whose own mtime does not change on in-place rewrite), so a regenerated
fixture under an unchanged sf_dir misses the cache and a crashed write
(no ``_SUCCESS``) never serves.

Every table is published by ``publish_dir``: written into a unique
hidden temp sibling, then renamed into place.  A rename never merges
into a non-empty directory, so concurrent writers (a spark-submit job
racing the bench session) never interleave part files; debris at the
target is renamed aside before it is removed, and a complete table
another writer published first is kept.  ``materialize`` publishes only
when no complete table exists, so a snapshot table never changes once
complete.  Paths published with ``replace`` (curate-job outputs, the
chunk store, compacted CDX) do change: a scan already running on one
when the swap lands fails, and the caller has to re-run it.
"""

from __future__ import annotations

import errno
import hashlib
import os
import shutil
import uuid
from contextlib import contextmanager
from types import SimpleNamespace


def _default_root() -> str:
    """Stable warehouse anchor: the directory containing the package
    (the repo / deploy root), NOT os.getcwd() — a cwd-relative default
    leaks persistent tables into whatever directory a job was launched
    from and silently misses the cache from any other cwd (ADVICE r4).
    A zip deploy (--py-files) strips the ``.zip`` member path so the
    warehouse lands next to the archive."""
    here = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    while here.endswith(".zip") or ".zip" + os.sep in here + os.sep:
        here = os.path.dirname(here)
        if here in ("", os.sep):
            here = os.getcwd()
            break
    return os.path.join(here, "spark-warehouse", "curation")


def cache_root() -> str:
    return os.environ.get("RAG_CURATION_DIR", _default_root())


def corpus_fingerprint(sf_dir: str) -> str:
    tgt = os.path.join(sf_dir, "documents.parquet")
    parts = []
    if os.path.isdir(tgt):
        for dirpath, dirnames, filenames in sorted(os.walk(tgt)):
            dirnames.sort()
            for name in sorted(filenames):
                if name.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, name)
                rel = os.path.relpath(full, tgt)
                st = os.stat(full)
                parts.append(f"{rel}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(tgt):
        st = os.stat(tgt)
        parts.append(f"documents.parquet:{st.st_size}:{st.st_mtime_ns}")
    raw = os.path.abspath(sf_dir) + "|" + "|".join(parts)
    return hashlib.md5(raw.encode()).hexdigest()[:16]


def table_path(kind: str, sf_dir: str) -> str:
    return os.path.join(cache_root(), kind, corpus_fingerprint(sf_dir))


#: directory operations on a plain (local) path, looked up per call
_LOCAL = SimpleNamespace(
    exists=lambda p: os.path.exists(p),
    rename=lambda src, dst: os.rename(src, dst),
    rmtree=lambda p: shutil.rmtree(p, ignore_errors=True))


def _complete(path: str, fs=_LOCAL) -> bool:
    return fs.exists(f"{path}/_SUCCESS")


def read_table(spark, kind: str, sf_dir: str):
    """The written table for this (kind, corpus snapshot), or None if no
    COMPLETE table exists (the _SUCCESS marker is the certificate)."""
    path = table_path(kind, sf_dir)
    if _complete(path):
        return spark.read.parquet(path)
    return None


def _hadoop_fs(uri: str) -> SimpleNamespace:
    """The same operations on a scheme-qualified path (``file:``,
    ``hdfs:``, ``s3a:`` ...) through the Hadoop FileContext Spark writes
    it with.  A rename never replaces an existing destination, like a
    POSIX rename onto a non-empty directory; it is atomic where the
    store's rename is (local disk, HDFS) and a copy on object stores."""
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext
    sc = SparkContext.getOrCreate()
    hfs = sc._jvm.org.apache.hadoop.fs
    fc = hfs.FileContext.getFileContext(sc._jvm.java.net.URI(uri),
                                        sc._jsc.hadoopConfiguration())
    no_overwrite = sc._gateway.new_array(hfs.Options.Rename, 0)

    def rename(src: str, dst: str) -> None:
        try:
            fc.rename(hfs.Path(src), hfs.Path(dst), no_overwrite)
        except Py4JJavaError as e:
            cls = e.java_exception.getClass().getName()
            if cls.endswith(".FileAlreadyExistsException"):
                raise FileExistsError(errno.EEXIST, cls, dst) from None
            if cls == "java.io.FileNotFoundException":
                raise FileNotFoundError(errno.ENOENT, cls, src) from None
            raise

    return SimpleNamespace(
        exists=lambda p: fc.util().exists(hfs.Path(p)), rename=rename,
        rmtree=lambda p: fc.delete(hfs.Path(p), True))


def _sibling(path: str, tag: str) -> str:
    """A unique hidden sibling of ``path`` (dot-prefixed, so no parquet
    reader of the parent directory lists it)."""
    head, sep, name = path.rpartition("/")
    return f"{head}{sep}.{name}.{tag}-{uuid.uuid4().hex[:12]}"


def _swap(fs, build: str, path: str, replace: bool) -> None:
    """Move the finished directory ``build`` to ``path`` by renames only.

    A rename onto a non-empty directory fails rather than merging, so
    whatever occupies ``path`` is first renamed to an ``.aside-`` sibling
    and removed only once it is no longer ``path``.  Without ``replace``,
    a complete table at ``path`` wins and ``build`` is left for the caller
    to drop; if the occupant we moved aside turns out to be complete (a
    writer published it after our check), it is put back instead of
    ``build``.  If the final rename fails, the occupant is moved back."""
    mine, aside = build, []
    try:
        while True:
            try:
                fs.rename(build, path)
                return
            except OSError as e:
                if e.errno not in (errno.EEXIST, errno.ENOTEMPTY):
                    raise
            if build != mine:  # the table we were putting back lost again
                aside.append(build)
                build = mine
            if not replace and _complete(path, fs):
                return
            aside.append(_sibling(path, "aside"))
            try:
                fs.rename(path, aside[-1])
            except FileNotFoundError:
                aside.pop()
                continue
            if not replace and _complete(aside[-1], fs):
                build = aside.pop()
    except BaseException:
        if aside and not fs.exists(path):
            fs.rename(aside.pop(), path)
        raise
    finally:
        for d in aside:
            fs.rmtree(d)


@contextmanager
def publish_dir(path: str, replace: bool = False):
    """Yield a fresh temp sibling of ``path`` to write a table into; on a
    clean exit swap it in (see ``_swap``), on an error drop it.  A
    scheme-qualified path (``s3a://bucket/t``, ``file:/t``) is swapped
    on its own filesystem, a plain path on the local one.  Where that
    filesystem renames atomically (local disk, HDFS), readers of ``path``
    see the previous directory, none, or the new one — never a mix of
    two writers' part files, and never a partial write."""
    path = path.rstrip("/") or "/"  # a trailing "/" would nest the sibling
    fs = _hadoop_fs(path) if ":" in path.split("/", 1)[0] else _LOCAL
    tmp = _sibling(path, "tmp")
    try:
        yield tmp
        _swap(fs, tmp, path, replace)
    finally:
        fs.rmtree(tmp)


def materialize(spark, kind: str, sf_dir: str, build) -> str:
    """Write ``build()`` for this (kind, snapshot) unless a complete table
    is already there (idempotent; published by ``publish_dir``).  Returns
    the table path."""
    path = table_path(kind, sf_dir)
    if not _complete(path):
        with publish_dir(path) as tmp:
            build().write.parquet(tmp)
    return path
