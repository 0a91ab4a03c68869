"""Filesystem operations through the Hadoop FileSystem API.

The reference uses fsspec for storage-agnostic paths (src/qafs/backend/
pandas.py:27-36, src/qafs/storage.py:3-9). The Spark-native equivalent is the
Hadoop FileSystem API reached through the JVM gateway: the same code path
works for ``file:/``, ``s3a://``, ``gs://``, ``abfs://`` — whatever
connectors the cluster has — and it's the exact FS layer the executors use
for reads/writes, so there is no second credential/config surface.

All calls here are driver-side metadata ops (exists/list/delete); bulk data
movement stays in Spark jobs (see ``FeatureStore.clone_feature``).

Cost rule: a helper costs about one py4j round trip per Hadoop operation,
plus building its ``Path`` and Hadoop's cached ``getFileSystem`` lookup.
It matters because a feature commit makes ~30 ``mkdirs`` + ``rename_path``
pairs and every index batch a dozen small-file reads. Three things break
the rule and are kept out of this module:

* Resolving a JVM class by name. ``spark._jvm.org.apache.hadoop.fs.Path``
  is one reflection round trip per package segment: it made
  ``path_exists`` about 10x dearer than with the class cached (3.1 ms
  against 0.27 ms; 0.90 against 0.09 ms on a quieter host). Class handles
  are built locally on the session's gateway (:func:`_jclass`).
* Building ``LocatedFileStatus`` on the driver. ``listFiles(recursive)``
  makes one per file, and on the local filesystem each loads its owner and
  permissions: 553 ms for 40 files, where one ``listStatus`` of a
  40-entry directory takes 4 ms. :func:`list_files` walks ``listStatus``.
* Forking a process. Without its native library, Hadoop's local
  filesystem sets a new directory's permission with a forked ``chmod``;
  :func:`mkdirs` creates ``file``-scheme directories from Python.

Expected failures are probed, not raised: letting py4j marshal a Java
``FileNotFoundException`` costs ~27 ms against ~1.4 ms for an ``exists``
probe, and a missing lease or fence file is the common case
(:func:`read_small_file`).
"""

from __future__ import annotations

import os
import posixpath
from typing import List

from py4j.java_gateway import JavaClass
from pyspark.sql import SparkSession


class LocalStorage(str):
    """Parity shim for the reference's LocalStorage(path) wrapper
    (src/qafs/storage.py:3-9); any plain string path/URL works too."""

    def __new__(cls, path: str):
        return super().__new__(cls, path)


def _jclass(spark: SparkSession, fqn: str) -> JavaClass:
    """The JVM class ``fqn`` on ``spark``'s own gateway, built without a
    round trip: ``spark._jvm.<package>.<Class>`` sends one reflection
    request per name segment, and a handle kept across calls could
    outlive the gateway it was resolved on."""
    return JavaClass(fqn, spark._jvm._gateway_client)


def _jpath(spark: SparkSession, path: str):
    return _jclass(spark, "org.apache.hadoop.fs.Path")(path)


def _fs_and_path(spark: SparkSession, path: str):
    jpath = _jpath(spark, path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def delete_path(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return False
    return bool(fs.delete(jpath, True))


def rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    """Single Hadoop-FS rename (a metadata operation on real filesystems
    and HDFS; object stores emulate it per-object — see compact_feature's
    docstring for the implications)."""
    fs, jsrc = _fs_and_path(spark, src)
    return bool(fs.rename(jsrc, _jpath(spark, dst)))


def list_dirs(spark: SparkSession, path: str) -> List[str]:
    """Names of immediate child directories (not full paths)."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for status in fs.listStatus(jpath):
        if status.isDirectory():
            out.append(status.getPath().getName())
    return sorted(out)


def dir_signature(spark: SparkSession, path: str):
    """Cheap change signature of a SMALL directory: (file count, total
    bytes, max mtime, md5-of-name-set), or None when missing. One
    listStatus — O(entries), so only suitable for bounded datasets (e.g.
    the indexes' deletes/tombstones, folded away at every compaction).
    Works on object stores too (it does not rely on directory-mtime
    semantics). The name-set hash (round 10) closes the theoretical
    collision where a dataset is deleted and re-created with identical
    count/size inside one mtime granule (1s on some filesystems) — new
    part-file names (task UUIDs) change the signature even then."""
    import hashlib

    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return None
    count, size, mtime = 0, 0, 0
    names = []
    for status in fs.listStatus(jpath):
        count += 1
        size += int(status.getLen())
        mtime = max(mtime, int(status.getModificationTime()))
        names.append(status.getPath().getName())
    name_md5 = hashlib.md5("\n".join(sorted(names)).encode()).hexdigest()
    return (count, size, mtime, name_md5)


def _local_file(fs, jpath) -> str:
    """The OS path of ``jpath`` on a ``file``-scheme filesystem."""
    return fs.makeQualified(jpath).toUri().getPath()


def mkdirs(spark: SparkSession, path: str) -> None:
    """Create ``path`` and its missing parents (no-op when present).

    ``file`` scheme: Python ``os.makedirs``. Without Hadoop's native
    library, its local ``mkdirs`` sets each NEW directory's permission by
    forking a ``chmod`` process — ~3 ms per new directory against ~0.4 ms
    here, and a feature's first save creates one per partition. The mode
    is the same ``0777`` less the umask (Hadoop's ``fs.permissions.umask-
    mode`` and the process umask both default to ``022``)."""
    fs, jpath = _fs_and_path(spark, path)
    if fs.getScheme() == "file":
        os.makedirs(_local_file(fs, jpath), exist_ok=True)
    else:
        fs.mkdirs(jpath)


def list_files(spark: SparkSession, path: str) -> List[str]:
    """Sorted, fully-qualified paths of all FILES under ``path``,
    recursively; empty when missing. The same output as Hadoop's
    ``listFiles(recursive=true)`` (checksum ``.crc`` files excluded), from
    a ``listStatus`` walk that builds no ``LocatedFileStatus`` (module
    docstring): one listing per directory, which is one RPC per directory
    on HDFS and one LIST per directory on object stores."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out, todo = [], [jpath]
    while todo:
        for status in fs.listStatus(todo.pop()):
            if status.isDirectory():
                todo.append(status.getPath())
            else:
                out.append(status.getPath().toString())
    return sorted(out)


def create_file_atomic(spark: SparkSession, path: str, content: str) -> bool:
    """Create ``path`` with ``content`` iff it does not already exist —
    the FS layer's compare-and-swap. Atomicity is store-dependent:

    * ``file`` scheme (round 13): Python ``os.open(O_CREAT|O_EXCL)`` —
      a TRULY atomic kernel-level create-if-absent. Hadoop's
      RawLocalFileSystem implements ``create(overwrite=false)`` as
      exists-then-open, a TOCTOU window in which two same-host racers
      can both pass; the O_EXCL fast path closes it (exactly one of N
      concurrent callers wins, kernel-guaranteed).
    * HDFS: ``FileSystem.create(path, overwrite=false)`` — the
      namespace insert is atomic (exactly one of N callers returns
      True).
    * Object stores (S3A): the condition is checked at close, so
      last-writer-wins collisions are possible — which is why the lease
      protocol that uses this also verifies by read-back after close
      (and why that verify is itself best-effort inside the microsecond
      overwrite window) — see :mod:`pipeline.lease`."""
    fs, jpath = _fs_and_path(spark, path)
    if fs.getScheme() == "file":
        local = _local_file(fs, jpath)
        try:
            fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            # lost the race / already present — the one condition this
            # function exists to report as False
            return False
        except FileNotFoundError:
            # missing parent: Hadoop's create() makes parents
            # implicitly, so mirror that instead of reading as "did not
            # create" (round-13 ADVICE: a broad OSError catch conflated
            # EACCES/EROFS with 'exists' and surfaced them as a
            # misleading lost-race). Retry once; a second FileNotFound
            # (unmountable path) or any other OSError propagates with
            # its real cause.
            os.makedirs(os.path.dirname(local) or ".", exist_ok=True)
            try:
                fd = os.open(
                    local, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644
                )
            except FileExistsError:
                return False
        try:
            os.write(fd, content.encode("utf-8"))
        finally:
            os.close(fd)
        return True
    try:
        out = fs.create(jpath, False)
    except Exception:
        return False
    try:
        data = content.encode("utf-8")
        out.write(bytearray(data))
    finally:
        out.close()
    return True


def start_concurrent(fns):
    """Submit independent Spark actions (zero-arg callables) to a thread
    pool and return a zero-arg ``wait()`` with :func:`run_concurrent`'s
    contract: wait for ALL to finish, then raise the first failure (no
    write is ever abandoned mid-flight). The deferred barrier lets a
    caller overlap the submitted jobs with further driver work — e.g.
    the banded sink launches its index-dataset writes at the dedup
    chain's first collect and joins them only after the pairs write.
    ``wait()`` is idempotent (round 17: the one shared implementation of
    the commit-concurrency semantics — ADVICE asked for the hand-rolled
    twin in banded_index.apply_batch to be folded into this one)."""
    from concurrent.futures import ThreadPoolExecutor

    fns = list(fns)
    pool = ThreadPoolExecutor(max_workers=max(1, len(fns)))
    futs = [pool.submit(f) for f in fns]
    pool.shutdown(wait=False)
    state: list = []

    def wait() -> None:
        if not state:
            errs = []
            for f in futs:
                try:
                    f.result()
                except Exception as e:  # collect, don't abandon the rest
                    errs.append(e)
            state.append(errs)
        if state[0]:
            raise state[0][0]

    return wait


def run_concurrent(fns) -> None:
    """Run independent Spark actions (zero-arg callables) from a thread
    pool so their jobs overlap — the scheduler back-fills one job's task
    tail with the next job's tasks (optimization guide §2.6). Used for
    the index sinks' per-batch dataset writes, whose serial chain was the
    dominant micro-batch cost. Waits for ALL to finish; raises the first
    failure (after every job has completed, so no write is abandoned
    mid-flight)."""
    fns = list(fns)
    if len(fns) == 1:
        fns[0]()
        return
    start_concurrent(fns)()


def write_small_parquet(
    spark: SparkSession,
    dir_path: str,
    rows: list,
    schema,
    overwrite: bool = False,
) -> None:
    """Commit a TINY control-plane parquet dataset (applied-log entries,
    meta rows, watermarks, intent markers) from the DRIVER — no Spark job.

    The previous recipe (``createDataFrame(...).repartition(1).write``)
    paid a full job submit + task + committer round per write; at
    micro-batch cadence that fixed ~0.4 s/commit dominated the streaming
    sinks' serial commit chain (round 16 profile). This is the commit-log
    idiom table formats use — Delta/Iceberg write their log/manifest
    entries driver-side through the FS client, not as jobs.

    Mechanics: serialize ``rows`` with pyarrow (pinned to the same
    physical types Spark writes for these schemas: int64/string), stream
    the bytes through the Hadoop FS client (same connector/credential
    surface as everything else in this module — works on file:/, HDFS,
    s3a://), then rename a dot-prefixed temp file into place. Readers
    (``spark.read.parquet``) ignore dot-/underscore-prefixed files, so a
    torn write is invisible — the same crash contract the job-based
    append had via ``_temporary`` staging.

    ``schema`` is a list of (name, pyarrow-type-name) with type-name in
    {"int64", "string", "double"}. ``overwrite=True`` deletes the dataset
    dir first (the job-based ``mode("overwrite")`` also deletes before
    writing, so the crash window — reader sees a missing dataset — is
    unchanged; every call site already tolerates/recovers a missing
    marker)."""
    import io
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"int64": pa.int64(), "string": pa.string(), "double": pa.float64()}
    fields = [(n, types[t]) for n, t in schema]
    arrays = [
        pa.array([r[i] for r in rows], type=t)
        for i, (_, t) in enumerate(fields)
    ]
    table = pa.Table.from_arrays(arrays, names=[n for n, _ in fields])
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    data = buf.getvalue()

    if overwrite:
        delete_path(spark, dir_path)
    uid = uuid.uuid4().hex
    tmp = join(dir_path, f".part-{uid}.parquet.inprogress")
    final = join(dir_path, f"part-{uid}.parquet")
    fs, jtmp = _fs_and_path(spark, tmp)
    out = fs.create(jtmp, False)  # creates parent dirs implicitly
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if not fs.rename(jtmp, _jpath(spark, final)):
        raise IOError(f"write_small_parquet: rename into {final} failed")


def read_small_file(spark: SparkSession, path: str):
    """Full contents of a SMALL file as str, or None when missing or
    unreadable. A missing file costs one ``exists`` RPC: it is probed
    first rather than opened, because that is the common case (no lease,
    no fence) and a raised ``FileNotFoundException`` is ~20x dearer to
    marshal. A concurrent delete between the probe and the open also reads
    as missing — callers treat None as 'no lease'."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return None
    try:
        stream = fs.open(jpath)
    except Exception:
        return None
    try:
        # py4j passes arrays by VALUE, so stream.read(buf) can't fill a
        # Python bytearray — read JVM-side via commons-io (bundled with
        # Hadoop) and ship the finished string across the gateway once.
        return _jclass(spark, "org.apache.commons.io.IOUtils").toString(
            stream, "UTF-8"
        )
    except Exception:
        return None
    finally:
        stream.close()


def join(*parts: str) -> str:
    return posixpath.join(*parts)
