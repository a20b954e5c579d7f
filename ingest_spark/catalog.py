"""Table catalog over the driver-provided parquet test tables.

Mirrors the reference's "files at rest on HDFS" layer (Kafka-Connect
HDFS sink, cluster/configuration.json:4-16): datasets are directories
of columnar files, each loaded by `load_table`.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# sessions whose workers have been shipped the package (keyed by
# applicationId — unique per SparkContext lifetime, unlike id(), which
# CPython can recycle after a context restart; ADVICE r12)
_SHIPPED: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship the ingest_spark package to Python workers via addPyFile.

    The driver contract imports this engine from an arbitrary cwd with
    its own vanilla session; pure-DataFrame queries never import
    Python code on workers, but the media/UDF queries do (`from
    ingest_spark.operators.media_codecs import ...` inside
    mapInPandas), and cloudpickle serializes module-level functions BY
    REFERENCE — the worker must be able to import the package. When
    the driver's cwd/PYTHONPATH doesn't include the repo root, that
    import fails only on workers, only for UDF-bearing queries (r12:
    four multimodal oracle FAIL-runs when the harness ran from /tmp).
    ``addPyFile`` on a zip of the package is Spark's own mechanism for
    exactly this and works mid-session from any cwd; shipped once per
    SparkContext (~0.2 MB)."""
    try:
        sc = spark.sparkContext
        key = sc.applicationId
        if key in _SHIPPED:
            return
        import tempfile
        import zipfile

        pkg_root = os.path.dirname(os.path.abspath(__file__))
        zpath = os.path.join(
            tempfile.gettempdir(), f"ingest_spark_pyfiles_{os.getuid()}.zip"
        )
        # mkstemp-unique temp file, atomically renamed into place: two
        # concurrent driver processes can't ship each other a
        # half-written zip (ADVICE r12 — the fixed .tmp path raced)
        fd, tmp = tempfile.mkstemp(
            dir=tempfile.gettempdir(), suffix=".zip.tmp"
        )
        try:
            with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as zf:
                for dirpath, _dirs, files in os.walk(pkg_root):
                    for fn in files:
                        if fn.endswith(".py"):
                            full = os.path.join(dirpath, fn)
                            rel = os.path.join(
                                "ingest_spark",
                                os.path.relpath(full, pkg_root),
                            )
                            zf.write(full, rel)
            os.replace(tmp, zpath)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise
        sc.addPyFile(zpath)
        _SHIPPED.add(key)
    except Exception:
        # best-effort: in-repo runs work without it, and a failure
        # here must never take down a pure-DataFrame query
        pass


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Source-frame memo (r16, VERDICT r15 §Next #8 "per-pass source-schema
# cost"). Measured where the per-call cost actually lives: footer
# inference is NOT it (explicit-schema reads measured 0±5 ms different)
# — ``spark.read.parquet`` itself costs ~75-85 ms per call in
# DataFrameReader resolution/analysis py4j work, i.e. pure driver time
# per plan build, ~100+ load_table calls per bench pass. The memo
# stores the UNEXECUTED DataFrame (a lazy plan object — metadata, never
# rows; every action over it still scans parquet), keyed per
# SparkSession via weak identity (a dead/stopped session's entries
# vanish with it) and per (path, ts_after), stamped with (name, size,
# mtime_ns) of the directory's files so ANY rewrite re-resolves — the
# same self-invalidation pattern as incremental._VALIDATED_SIGNATURES.
# Non-local paths (hdfs://, s3://) skip the memo and keep the
# status-quo per-read resolution.
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

# Inferred parquet schema per table path, same stamp key: survives
# session turnover (schemas are engine-state-independent), and a hit
# lets a fresh session skip footer inference on its first resolution.
_SCHEMA_CACHE: dict[str, tuple[tuple, object]] = {}


def _local_stamp(path: str):
    """(name, size, mtime_ns) for a LOCAL parquet table — one entry
    for a single-file table (the driver's testdata layout), one per
    file for a directory table, at any depth (a hive-partitioned
    table's leaves sit in subdirectories; names are relative to the
    table) — or None when the path is remote (hdfs://, s3://) or
    missing; callers then skip the cache."""
    if "://" in path:
        return None
    try:
        st = os.stat(path)
        import stat as stat_mod

        if not stat_mod.S_ISDIR(st.st_mode):
            return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
        stamp = []
        for dirpath, _dirs, files in os.walk(path):
            for fn in files:
                full = os.path.join(dirpath, fn)
                fst = os.stat(full)
                stamp.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
        return tuple(sorted(stamp))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str):
    """spark.read.parquet with the inferred schema memoized per path
    stamp — a hit supplies the schema explicitly, skipping footer
    inference on plan build."""
    stamp = _local_stamp(path)
    if stamp is not None:
        hit = _SCHEMA_CACHE.get(path)
        if hit is not None and hit[0] == stamp:
            return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if stamp is not None:
        _SCHEMA_CACHE[path] = (stamp, df.schema)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, ts_after: str | None = None
) -> DataFrame:
    """Scan one parquet table. Filters/projections applied downstream
    reach the scan via Catalyst pushdown (verify with .explain:
    PushedFilters / ReadSchema).

    TIMESTAMP(NANOS) parquet columns (events.ts) are illegal for
    Spark's vectorized reader; they are read as int64 nanos via the
    legacy conf and immediately converted to microsecond timestamps —
    floor-division truncation, exactly how DuckDB reads the same file.

    Every timestamp column is normalized to session-zone TIMESTAMP
    (LTZ) regardless of parquet physical type — NANOS-as-long, naive
    timestamp[us] (Spark 4 infers TIMESTAMP_NTZ), or LTZ. The session
    zone is UTC (session.py), so the NTZ→LTZ cast is lossless and the
    engine presents ONE timestamp type to every downstream operator
    (LTZ-only functions like unix_micros included). The ts_after
    watermark filter is applied on the RAW column, before any cast, so
    it still reaches the scan as a pushed filter.
    """
    path = table_path(sf_dir, name)
    if name == "events":
        # set preemptively: probing first and falling back on the
        # PARQUET_TYPE_ILLEGAL error would spawn a (noisy, failing)
        # schema-merge job on every first read. Set on memo hits too —
        # the conf is consulted by the parquet read support at
        # execution, not only at resolution (costs ~0.2 ms).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stamp = _local_stamp(path)
    session_cache = _DF_CACHE.setdefault(spark, {})
    if stamp is not None:
        hit = session_cache.get((path, ts_after))
        if hit is not None and hit[0] == stamp:
            return hit[1]
    ensure_worker_imports(spark)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    df = _read_parquet(spark, path)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        if ts_after is not None:
            # high-watermark pushdown (T8): the converted-timestamp
            # filter can't cross `timestamp_micros(ts div 1000)`, so
            # translate it onto the RAW nanos column, which IS a scan
            # attribute. `trunc_us(raw) > wm_us  <=>  raw > wm_us*1000
            # + 999` (floor-division boundary, exact for any raw).
            from datetime import datetime, timezone

            # fromisoformat accepts "2024-01-15" and
            # "2024-01-15 00:00:00" alike — the same inputs the
            # cast("timestamp") path below takes
            wm_us = int(
                datetime.fromisoformat(ts_after)
                .replace(tzinfo=timezone.utc)
                .timestamp()
                * 1_000_000
            )
            df = df.filter(F.col("ts") > F.lit(wm_us * 1000 + 999))
        # integer division — `/` would go through double and round,
        # disagreeing with DuckDB's truncation by 1us on ~half the rows
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_after is not None:
        if "ts" not in df.columns:
            raise ValueError(
                f"load_table: ts_after given but table {name!r} has no 'ts' column"
            )
        # compare in the column's own type (NTZ or LTZ) so the
        # predicate stays on the scan attribute and pushes down
        df = df.filter(
            F.col("ts") > F.lit(ts_after).cast(df.schema["ts"].dataType)
        )
    ntz_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.TimestampNTZType)
    ]
    if ntz_cols:
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    if stamp is not None:
        session_cache[(path, ts_after)] = (stamp, df)
    return df
