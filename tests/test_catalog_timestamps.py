"""Catalog timestamp normalization: the engine must produce identical
results whether a parquet timestamp column is physically NTZ (naive
timestamp[us] — what Spark 4 infers from pandas-written files) or LTZ
(timestamp[us, UTC]). Guards against the round-3 regression where
``unix_micros`` crashed at analysis time on an NTZ events.ts
(VERDICT r3 §What's wrong #1-2).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from ingest_spark.catalog import load_table
from ingest_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def ntz_ltz_dirs(tmp_path_factory):
    """Two sf-dir clones of events: one NTZ-typed, one LTZ-typed."""
    src = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    ts_idx = src.schema.get_field_index("ts")
    ts_us = src.column("ts").cast(pa.timestamp("us"))

    ntz_dir = tmp_path_factory.mktemp("sf_ntz")
    ltz_dir = tmp_path_factory.mktemp("sf_ltz")
    ntz = src.set_column(ts_idx, pa.field("ts", pa.timestamp("us")), ts_us)
    ltz = src.set_column(
        ts_idx,
        pa.field("ts", pa.timestamp("us", tz="UTC")),
        ts_us.cast(pa.timestamp("us", tz="UTC")),
    )
    pq.write_table(ntz, os.path.join(ntz_dir, "events.parquet"))
    pq.write_table(ltz, os.path.join(ltz_dir, "events.parquet"))
    yield str(ntz_dir), str(ltz_dir)
    shutil.rmtree(ntz_dir, ignore_errors=True)
    shutil.rmtree(ltz_dir, ignore_errors=True)


def test_load_table_always_yields_ltz(spark, ntz_ltz_dirs):
    for d in ntz_ltz_dirs:
        df = load_table(spark, d, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType), d


def test_ts_after_pushdown_survives_ntz(spark, ntz_ltz_dirs):
    ntz_dir, _ = ntz_ltz_dirs
    df = load_table(spark, ntz_dir, "events", ts_after="2024-01-15")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), GreaterThan(ts," in plan


@pytest.mark.parametrize(
    "qname", ["sessionize_events", "flagship_event_rollup"]
)
def test_query_identical_on_ntz_and_ltz(spark, ntz_ltz_dirs, qname):
    ntz_dir, ltz_dir = ntz_ltz_dirs
    fn = QUERIES[qname]
    a = sorted(map(str, fn(spark, ntz_dir).collect()))
    b = sorted(map(str, fn(spark, ltz_dir).collect()))
    assert a == b
    assert len(a) > 0


def test_schema_cache_invalidates_on_rewrite(spark, tmp_path):
    """r16 (VERDICT r15 §Next #8): load_table memoizes the inferred
    parquet schema per path keyed on a file stamp — a REWRITE of the
    table (new part files / sizes / mtimes) must re-infer, never serve
    the stale schema."""
    from ingest_spark import catalog

    d = str(tmp_path)
    path = os.path.join(d, "documents.parquet")
    spark.createDataFrame(
        [(1, "hello world")], "doc_id long, text string"
    ).write.parquet(path)
    first = catalog.load_table(spark, d, "documents")
    assert set(first.columns) == {"doc_id", "text"}
    assert path in catalog._SCHEMA_CACHE
    # second read is a memo hit: the SAME lazy plan object (metadata
    # only — every action over it still scans parquet)
    assert catalog.load_table(spark, d, "documents") is first
    # rewrite with a DIFFERENT schema: the stamp changes, re-infer
    shutil.rmtree(path)
    spark.createDataFrame(
        [(1, "hello", 5)], "doc_id long, text string, extra long"
    ).write.parquet(path)
    again = catalog.load_table(spark, d, "documents")
    assert set(again.columns) == {"doc_id", "text", "extra"}
    assert again.count() == 1


def test_memo_misses_on_rewritten_nested_leaf(spark, tmp_path):
    """A hive-partitioned local table: a leaf rewritten in place changes
    no entry of the table's top directory, only the leaf's own size and
    mtime, so the load_table memo must stamp files at every depth."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ingest_spark import catalog

    d = str(tmp_path)
    path = os.path.join(d, "documents.parquet")
    for part, ids in (("x", [1, 2]), ("y", [5])):
        os.makedirs(os.path.join(path, f"part={part}"))
        pq.write_table(
            pa.table({"doc_id": ids, "text": [f"t{i}" for i in ids]}),
            os.path.join(path, f"part={part}", "leaf.parquet"),
        )
    first = catalog.load_table(spark, d, "documents")
    assert first.count() == 3
    assert catalog.load_table(spark, d, "documents") is first
    top = sorted((e.name, e.stat().st_mtime_ns) for e in os.scandir(path))
    pq.write_table(
        pa.table({"doc_id": [1, 2, 3, 4], "text": ["a", "b", "c", "d"]}),
        os.path.join(path, "part=x", "leaf.parquet"),
    )
    assert sorted((e.name, e.stat().st_mtime_ns) for e in os.scandir(path)) == top
    again = catalog.load_table(spark, d, "documents")
    assert again is not first
    assert again.count() == 5
