"""Crash-safe tables maintained batch by batch, on any filesystem scheme.

One commit protocol serves every table a batch job keeps on the data
plane: the corpus state of `incremental` (each batch appends a
segment) and the streaming maintainers `foreach_batch_rollup` /
`foreach_batch_scd2` (each batch replaces the table's one segment).

Layout. A table directory holds ``seg-*`` parquet directories and one
``_SEGMENTS`` manifest, a JSON object: ``applied`` (the last batch id
folded in, -1 before the first), ``segments`` ([name, rows] per live
segment) and, when the writer names its run, ``run``. The manifest is
the only truth. Readers read its explicit segment paths (`live_paths`,
`read`), never the table root, which may hold segments that are not
live.

Commit:

1. `write_segment` writes a frame to ``_staging-<tag>`` (hidden from
   listings) and renames it to ``seg-<tag>`` (atomic on POSIX/HDFS;
   copy+delete on an object store, which is fine because nothing
   reads it yet);
2. `publish` replaces the manifest in one atomic step — the commit
   point, so a crash leaves the previous state live or the new one
   whole;
3. `recover`, which every writer calls before it reads, deletes what
   a crashed call left behind: ``_staging-*``, ``seg-*`` not in the
   manifest, manifest temp files.

A segment dropped from the manifest therefore survives until the next
writer's `recover` — one batch of grace for reader plans opened
before the flip — unless its writer deletes it at once, as
`incremental`'s compaction does.

Replays: foreachBatch is at-least-once, so a writer skips a batch id
that `applied_id` already covers. The id is scoped by run: a caller
whose run differs from the manifest's (a fresh streaming checkpoint
restarts ids at 0) merges instead of skipping; a manifest without a
``run`` keeps its id for every caller.

Filesystem: bare paths use local IO; scheme-qualified paths
(``file://``, ``hdfs://``, ``s3a://``) go through Hadoop's FileSystem
API, resolved from the process-wide SparkContext, so any thread may
call these helpers.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "_SEGMENTS"
_STAGING = "_staging-"


# ---------------------------------------------------------- filesystem
def _is_uri(path: str) -> bool:
    """True for scheme-qualified paths (s3a://bucket/x, hdfs://nn/x,
    file:///x) — those route through Hadoop's FileSystem API; bare
    paths keep plain local IO."""
    return "://" in path


def _context(path: str):
    """The process-wide SparkContext. Not the active session: that one
    is per JVM thread, unset in any thread that did not set it."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        raise RuntimeError(f"no SparkContext to resolve Hadoop filesystem for {path!r}")
    return sc


def _hadoop_fs(path: str):
    """(FileSystem, Path) for a scheme-qualified path."""
    sc = _context(path)
    jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(sc._jsc.hadoopConfiguration()), jpath


def fs_exists(path: str) -> bool:
    """Existence probe on any scheme (on an object store a driver-local
    os.path.exists is always False)."""
    if not _is_uri(path):
        return os.path.exists(path)
    fs, jpath = _hadoop_fs(path)
    return bool(fs.exists(jpath))


def _fs_read_text(path: str) -> str | None:
    """Read a small text file on any scheme; None when absent."""
    if not _is_uri(path):
        try:
            with open(path) as fh:
                return fh.read()
        except OSError:
            return None
    fs, jpath = _hadoop_fs(path)
    if not fs.exists(jpath):
        return None
    try:
        stream = fs.open(jpath)
    except Exception as exc:  # noqa: BLE001 — narrowed to FNF below
        # exists->open race (ADVICE r10): a file deleted between the
        # two calls raises java.io.FileNotFoundException through py4j;
        # genuine absence must behave like the local branch (None).
        # Any OTHER Java IO fault stays loud.
        jexc = getattr(exc, "java_exception", None)
        if jexc is not None and "FileNotFoundException" in jexc.getClass().getName():
            return None
        raise
    try:
        return _context(path)._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def _rename_overwrite(src: str, dst: str) -> bool:
    """Atomic rename-with-overwrite through Hadoop's FileContext API
    (``Options.Rename.OVERWRITE``) — the primitive HDFS guarantees
    atomic and Structured Streaming's own HDFSMetadataLog commits
    through. Returns False when the scheme has no AbstractFileSystem
    binding (e.g. s3a without an fs.AbstractFileSystem.s3a.impl —
    UnsupportedFileSystemException), so the caller can fall back to
    the single-PUT path that IS atomic on object stores."""
    sc = _context(dst)
    jvm = sc._jvm
    src_jpath = jvm.org.apache.hadoop.fs.Path(src)
    dst_jpath = jvm.org.apache.hadoop.fs.Path(dst)
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            dst_jpath.toUri(), sc._jsc.hadoopConfiguration()
        )
        rename_cls = jvm.org.apache.hadoop.fs.Options.Rename
        opts = sc._gateway.new_array(rename_cls, 1)
        opts[0] = rename_cls.OVERWRITE
        fc.rename(src_jpath, dst_jpath, opts)
        return True
    except Exception as exc:  # noqa: BLE001 — narrowed below
        jexc = getattr(exc, "java_exception", None)
        if jexc is not None and "UnsupportedFileSystem" in jexc.getClass().getName():
            return False
        raise


def _fs_write_text(path: str, text: str) -> None:
    """Replace a small text file on any scheme with NO observable torn
    state: the destination goes from old content to new content in
    one step.

    - Local paths: os.replace of a temp file (POSIX-atomic).
    - URI paths: WRITE-THEN-RENAME — the text lands in a ``.tmp-<pid>``
      sibling first, then flips in via FileContext rename(OVERWRITE),
      which HDFS guarantees atomic. The destination is never opened
      for write (HDFS create(overwrite=True) truncates, then writes,
      so a crash in between would leave it empty): a crash before the
      rename leaves the OLD text intact, a crash after it the NEW.
    - Schemes with no FileContext binding (s3a-style object stores)
      fall back to the single PUT create(overwrite=True), which IS
      atomic there: the new object appears fully or not at all, and
      the orphaned temp object is removed."""
    tmp = f"{path}.tmp-{os.getpid()}"
    if not _is_uri(path):
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
        return
    fs, jpath = _hadoop_fs(path)
    _, tmp_jpath = _hadoop_fs(tmp)
    out = fs.create(tmp_jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    if _rename_overwrite(tmp, path):
        return
    try:
        out = fs.create(jpath, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
    finally:
        fs.delete(tmp_jpath, False)


def _fs_list(pattern: str) -> list[str]:
    """Glob on any scheme (local glob.glob or Hadoop globStatus)."""
    if not _is_uri(pattern):
        import glob

        return glob.glob(pattern)
    fs, jpath = _hadoop_fs(pattern)
    statuses = fs.globStatus(jpath)
    return [] if statuses is None else [s.getPath().toString() for s in statuses]


def fs_rmtree(path: str) -> None:
    """Recursive delete on any scheme, ignore-errors semantics."""
    if not _is_uri(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    try:
        fs, jpath = _hadoop_fs(path)
        fs.delete(jpath, True)
    except Exception:
        pass


def _fs_rename(src: str, dst: str) -> None:
    """Rename a file or directory on any scheme; raises when the
    filesystem reports failure. Atomic on POSIX and HDFS; on an object
    store it is a copy then a delete, so callers that need atomicity
    commit through the manifest flip instead."""
    if not _is_uri(src):
        os.rename(src, dst)
        return
    fs, src_jpath = _hadoop_fs(src)
    _, dst_jpath = _hadoop_fs(dst)
    if not fs.rename(src_jpath, dst_jpath):
        raise OSError(f"rename {src!r} -> {dst!r} failed")


# ------------------------------------------------------------ manifest
def manifest(table_path: str) -> dict:
    """The table's manifest (module docstring); an absent or empty one
    reads as ``{"applied": -1, "segments": []}``."""
    text = _fs_read_text(os.path.join(table_path, _MANIFEST))
    if not text or not text.strip():
        return {"applied": -1, "segments": []}
    return json.loads(text)


def applied_id(m: dict, run: str | None = None) -> int:
    """The last batch id manifest ``m`` records for ``run``: -1 when
    both name a run and the runs differ, so a fresh run's batches
    merge instead of being skipped as replays."""
    stored = m.get("run")
    if run is not None and stored is not None and stored != run:
        return -1
    return m["applied"]


def publish(table_path: str, applied: int, segments: list, run: str | None = None) -> None:
    """The one commit point of a table: replace its manifest
    atomically. Everything written before it is invisible to readers;
    everything after it is cleanup."""
    if not _is_uri(table_path):
        os.makedirs(table_path, exist_ok=True)
    m = {"applied": applied, "segments": segments}
    if run is not None:
        m["run"] = run
    _fs_write_text(os.path.join(table_path, _MANIFEST), json.dumps(m))


def recover(table_path: str) -> dict:
    """Delete what a crashed call left behind — staging dirs, segments
    renamed but never published or already replaced, manifest temp
    files — and return the manifest. Only names this module writes are
    touched."""
    m = manifest(table_path)
    live = {name for name, _ in m["segments"]}
    for p in _fs_list(os.path.join(table_path, "*")):
        # delete by the caller's spelling of the table path: Hadoop
        # lists file:///x as file:/x, which reads as a bare path
        name = p.rstrip("/").rsplit("/", 1)[-1]
        if (
            (name.startswith("seg-") and name not in live)
            or name.startswith(_STAGING)
            or name.startswith(_MANIFEST + ".tmp-")
        ):
            fs_rmtree(os.path.join(table_path, name))
    return m


def write_segment(frame: DataFrame, table_path: str, tag: str) -> tuple[str | None, int]:
    """Write ``frame`` to a staging dir and rename it to ``seg-<tag>``;
    returns (name, rows), with rows read from an Observation on the
    write itself (no extra job). A zero-row frame leaves no segment
    (name None)."""
    staging = os.path.join(table_path, _STAGING + tag)
    obs = Observation()
    frame.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(staging)
    rows = int(obs.get["rows"])
    if rows == 0:
        fs_rmtree(staging)
        return None, 0
    name = f"seg-{tag}"
    _fs_rename(staging, os.path.join(table_path, name))
    return name, rows


def replace(
    table_path: str, m: dict, frame: DataFrame, batch_id: int, run: str | None = None
) -> None:
    """Commit ``frame`` as the whole table at ``batch_id``: its one
    segment replaces manifest ``m``'s list. The tag never names a live
    segment (a fresh run restarts batch ids at 0), so the write never
    touches what readers see."""
    live = {name for name, _ in m["segments"]}
    tag = f"{batch_id:06d}"
    while f"seg-{tag}" in live:
        tag += "-r"
    name, rows = write_segment(frame, table_path, tag)
    publish(table_path, batch_id, [[name, rows]] if name else [], run)


def live_paths(table_path: str, m: dict | None = None) -> list[str]:
    """Explicit paths of the table's live segments (of manifest ``m``
    when given)."""
    m = manifest(table_path) if m is None else m
    return [os.path.join(table_path, name) for name, _ in m["segments"]]


def read(spark: SparkSession, table_path: str) -> DataFrame:
    """The table's live rows — the only way to read it: the root holds
    nothing but segment dirs, and may hold segments that are not live."""
    paths = live_paths(table_path)
    if not paths:
        raise FileNotFoundError(f"table {table_path!r} has no live segment")
    return spark.read.parquet(*paths)
