from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ingest_spark import state_tables
from ingest_spark.streaming.pipeline import (
    foreach_batch_upsert,
    ingest_transform,
    read_file_stream,
    write_stream_parquet,
)

SCHEMA = T.StructType(
    [
        T.StructField("HourUTC", T.StringType()),
        T.StructField("MunicipalityNo", T.StringType()),
        T.StructField("ConsumptionkWh", T.DoubleType()),
    ]
)


def _write_feed(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    f = path / f"batch_{len(list(path.iterdir()))}.json"
    f.write_text("\n".join(json.dumps(r) for r in rows))


def _rows(day, hours):
    return [
        {"HourUTC": f"{day}T{h:02d}:00:00", "MunicipalityNo": "101", "ConsumptionkWh": float(h)}
        for h in hours
    ]


def test_streaming_pipeline_dedups_and_checkpoints(spark, tmp_path):
    src, sink, ckpt = tmp_path / "src", tmp_path / "sink", tmp_path / "ckpt"
    # duplicates inside the feed (at-least-once upstream)
    _write_feed(src, _rows("2024-01-01", range(4)) + _rows("2024-01-01", range(2)))

    # the contract carries timestamps as strings (SURVEY §1.2); the
    # stream parses the event-time column before the watermarked dedup
    stream = read_file_stream(spark, str(src), SCHEMA, fmt="json")
    stream = stream.withColumn("hour_ts", F.col("HourUTC").cast("timestamp"))
    cleaned = ingest_transform(stream, ["HourUTC", "MunicipalityNo", "ConsumptionkWh"], "hour_ts")
    q = write_stream_parquet(cleaned, str(sink), str(ckpt), partition_date_col="hour_ts")
    q.awaitTermination()

    out = spark.read.parquet(str(sink))
    assert out.count() == 4  # dupes dropped inside the watermark
    assert "ingested_at" in out.columns and "ingest_date" in out.columns

    # new file arrives; restart from the same checkpoint: only the new
    # data is processed (T8 — offsets live in the checkpoint dir)
    _write_feed(src, _rows("2024-01-02", range(3)))
    stream2 = read_file_stream(spark, str(src), SCHEMA, fmt="json").withColumn(
        "hour_ts", F.col("HourUTC").cast("timestamp")
    )
    cleaned2 = ingest_transform(stream2, ["HourUTC", "MunicipalityNo", "ConsumptionkWh"], "hour_ts")
    q2 = write_stream_parquet(cleaned2, str(sink), str(ckpt), partition_date_col="hour_ts")
    q2.awaitTermination()
    assert spark.read.parquet(str(sink)).count() == 7


INGEST_SCHEMA = T.StructType(
    [
        T.StructField("HourUTC", T.TimestampType()),
        T.StructField("MunicipalityNo", T.StringType()),
        T.StructField("ConsumptionkWh", T.DoubleType()),
    ]
)


def _sink_files_per_batch(sink):
    """{batch id: partition directory of every file the batch added},
    read from the file sink's ``_spark_metadata`` log (one JSON line
    per file after the log's version line)."""
    meta = os.path.join(sink, "_spark_metadata")
    out = {}
    for name in os.listdir(meta):
        if not name.isdigit():
            continue
        with open(os.path.join(meta, name)) as fh:
            lines = fh.read().splitlines()[1:]
        out[int(name)] = sorted(
            os.path.basename(os.path.dirname(json.loads(line)["path"]))
            for line in lines
        )
    return out


def test_run_ingest_pipeline_one_file_per_date_no_empty_batch(spark, tmp_path):
    """Two drops into one checkpoint: each data batch writes exactly one
    file per ingest_date it holds, no zero-input batch runs, the
    session's no-data-batch setting is left as it was, and
    re-deliveries in the second drop that lag less than the watermark
    are still dropped (state eviction moved to the next data batch)."""
    from ingest_spark.streaming.pipeline import run_ingest_pipeline

    src, sink, ckpt = (str(tmp_path / n) for n in ("src", "sink", "ckpt"))
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(key, None)
    drops = [
        # drop 0: two days, with in-drop duplicates, over two files
        [_rows("2024-01-01", range(24)), _rows("2024-01-02", range(6)) * 2],
        # drop 1: re-deliveries of 2024-01-02 00-05 (the watermark is
        # 2024-01-01T05:00 after drop 0), plus new hours on two dates
        [_rows("2024-01-02", range(12)), _rows("2024-01-03", range(3))],
    ]
    progress = []
    for files in drops:
        for rows in files:
            _write_feed(tmp_path / "src", rows)
        q = run_ingest_pipeline(
            spark, src, INGEST_SCHEMA, sink, ckpt,
            hash_cols=["HourUTC", "MunicipalityNo", "ConsumptionkWh"],
            event_time_col="HourUTC",
        )
        q.awaitTermination(120)
        progress.extend(q.recentProgress)
        assert spark.conf.get(key, None) == before

    assert [p.numInputRows for p in progress] == [36, 15]
    assert _sink_files_per_batch(sink) == {
        0: ["ingest_date=2024-01-01", "ingest_date=2024-01-02"],
        1: ["ingest_date=2024-01-02", "ingest_date=2024-01-03"],
    }
    out = spark.read.parquet(sink)
    assert out.count() == 24 + 12 + 3
    assert out.select("record_hash").distinct().count() == 24 + 12 + 3

    # an append-mode aggregation in the same session still gets the
    # empty batch that finalizes its windows
    _assert_watermark_late_row_semantics(spark, tmp_path / "wm", "wm_after_ingest")


def test_foreach_batch_upsert_idempotent_replay(spark, tmp_path):
    sink = str(tmp_path / "upsert_sink")
    batch = spark.createDataFrame(
        [("h1", 1.0), ("h2", 2.0), ("h1", 1.0)], "record_hash string, v double"
    )
    apply = foreach_batch_upsert(sink)
    apply(batch, 0)
    assert spark.read.parquet(sink).count() == 2
    # full replay of the same batch (at-least-once) -> no growth
    apply(batch, 1)
    assert spark.read.parquet(sink).count() == 2
    # partially-new batch -> only the new key lands
    batch2 = spark.createDataFrame(
        [("h2", 2.0), ("h3", 3.0)], "record_hash string, v double"
    )
    apply(batch2, 2)
    assert spark.read.parquet(sink).count() == 3


EVENT_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)


def _event_rows(specs):
    return [{"ts": ts, "user_id": u, "event_type": et} for ts, u, et in specs]


def test_windowed_event_counts_stream(spark, tmp_path):
    from ingest_spark.streaming.pipeline import read_file_stream, windowed_event_counts

    src = tmp_path / "events_src"
    _write_feed(
        src,
        _event_rows(
            [
                ("2024-01-01T00:10:00", 1, "click"),
                ("2024-01-01T00:40:00", 2, "click"),
                ("2024-01-01T01:05:00", 1, "view"),
            ]
        ),
    )
    stream = read_file_stream(spark, str(src), EVENT_SCHEMA, fmt="json")
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", "click"): 2,
        ("2024-01-01 01:00:00", "view"): 1,
    }


def test_sessionize_stream_closes_on_gap(spark, tmp_path):
    from ingest_spark.streaming.pipeline import read_file_stream, sessionize_stream

    src = tmp_path / "sess_src"
    _write_feed(
        src,
        _event_rows(
            [
                ("2024-01-01T00:00:00", 10, "click"),
                ("2024-01-01T00:29:00", 10, "click"),   # same session
                ("2024-01-01T01:00:01", 10, "click"),   # 31m gap -> closes s1
                ("2024-01-01T00:10:00", 20, "view"),    # never closes
            ]
        ),
    )
    stream = read_file_stream(spark, str(src), EVENT_SCHEMA, fmt="json")
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # timeout mode never self-terminates under AvailableNow (pending
    # processing-time timers — see sessionize_stream docstring): poll
    # the sink for the closed session, then stop explicitly
    import time as _time

    rows = []
    for _ in range(240):
        rows = spark.sql("SELECT * FROM sessions").collect()
        if rows:
            break
        _time.sleep(0.5)
    q.stop()
    # only user 10's FIRST session closed (the gap); open tails stay in state
    assert [(r.user_id, r.session_id, r.n_events) for r in rows] == [(10, 1, 2)]
    assert str(rows[0].session_start) == "2024-01-01 00:00:00"
    assert str(rows[0].session_end) == "2024-01-01 00:29:00"


def test_stream_stream_join_attribution(spark, tmp_path):
    from ingest_spark.streaming.pipeline import attribute_purchases_stream, read_file_stream

    src = tmp_path / "attr_src"
    _write_feed(
        src,
        _event_rows(
            [
                ("2024-01-01T00:00:00", 10, "click"),
                ("2024-01-01T00:10:00", 10, "purchase"),   # within 30m -> attributed
                ("2024-01-01T02:00:00", 10, "purchase"),   # too late -> no pair
                ("2024-01-01T00:05:00", 20, "purchase"),   # no click -> no pair
            ]
        ),
    )
    stream = read_file_stream(spark, str(src), EVENT_SCHEMA, fmt="json")
    q = (
        attribute_purchases_stream(stream, attribution_minutes=30)
        .writeStream.format("memory")
        .queryName("attributions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM attributions").collect()
    assert [(r.user_id, str(r.click_ts), str(r.purchase_ts)) for r in rows] == [
        (10, "2024-01-01 00:00:00", "2024-01-01 00:10:00")
    ]


def test_kafka_frame_contract(spark):
    from ingest_spark.streaming.pipeline import to_kafka_frame

    df = spark.createDataFrame(
        [("2024-01-01T00:00:00", "101", 1.5)],
        "HourUTC string, MunicipalityNo string, ConsumptionkWh double",
    )
    out = to_kafka_frame(df, "HourUTC")
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == [
        ("key", "binary"),
        ("value", "binary"),
    ]
    r = out.first()
    assert bytes(r.key) == b"2024-01-01T00:00:00"
    import json

    body = json.loads(bytes(r.value))
    assert body == {
        "HourUTC": "2024-01-01T00:00:00",
        "MunicipalityNo": "101",
        "ConsumptionkWh": 1.5,
    }


def test_session_window_native_stream_matches_batch(spark, tmp_path):
    """The built-in session_window aggregate on a stream produces the
    same sessions as the identical expression in batch mode."""
    from ingest_spark.streaming.pipeline import read_file_stream, session_window_counts

    specs = [
        ("2024-01-01T00:00:00", 10, "click"),
        ("2024-01-01T00:29:00", 10, "click"),   # merges into session 1
        ("2024-01-01T01:00:01", 10, "click"),   # 31m gap -> new session
        ("2024-01-01T00:10:00", 20, "view"),
    ]
    src = tmp_path / "swn_src"
    _write_feed(src, _event_rows(specs))
    stream = read_file_stream(spark, str(src), EVENT_SCHEMA, fmt="json")
    q = (
        session_window_counts(stream)
        .writeStream.format("memory")
        .queryName("swn")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n_events
        for r in spark.sql("SELECT * FROM swn").collect()
    }
    batch = spark.createDataFrame(
        [(s[1], s[0].replace("T", " ")) for s in specs], ["user_id", "ts_s"]
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    expect = {
        (r.user_id, str(r.session_start), str(r.session_end)): r.n_events
        for r in session_window_counts(batch).collect()
    }
    assert got == expect
    assert got[(10, "2024-01-01 00:00:00", "2024-01-01 00:59:00")] == 2


def test_transform_with_state_dedup_across_batches(spark, tmp_path):
    """dedup_stream_tws: first-seen wins within AND across micro-batches
    (state persists in RocksDB between triggers of the same query)."""
    import importlib.util

    import pytest

    if importlib.util.find_spec("google") is None:
        pytest.skip("transformWithState needs the protobuf package (absent here)")
    from ingest_spark.streaming.pipeline import dedup_stream_tws

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src, sink, ckpt = tmp_path / "src", str(tmp_path / "sink"), str(tmp_path / "ckpt")
        _write_feed(src, _rows("2024-01-01", range(3)) + _rows("2024-01-01", range(2)))

        def run_once():
            stream = read_file_stream(spark, str(src), SCHEMA, fmt="json")
            hashed = stream.withColumn(
                "record_hash",
                F.sha2(F.to_json(F.struct("HourUTC", "MunicipalityNo", "ConsumptionkWh")), 256),
            )
            q = (
                dedup_stream_tws(hashed, "record_hash")
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        out = spark.read.parquet(sink)
        assert out.count() == 3  # in-batch duplicates collapsed
        # replayed + new data in a later run against the same checkpoint:
        # state store remembers the first 3 hashes
        _write_feed(src, _rows("2024-01-01", range(2)) + _rows("2024-01-02", range(2)))
        run_once()
        got = {r["HourUTC"] for r in spark.read.parquet(sink).collect()}
        assert len(got) == 5  # 3 original + 2 genuinely new, replays dropped
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_sliding_active_users_matches_batch(spark, tmp_path):
    from ingest_spark.streaming.pipeline import read_file_stream, sliding_active_users

    src = tmp_path / "events_src"
    # u1 active in two slides, u2 in one; 1h window sliding by 30min
    _write_feed(
        src,
        _event_rows(
            [
                ("2024-01-01T00:10:00", 1, "click"),
                ("2024-01-01T00:20:00", 1, "click"),   # dup user in window
                ("2024-01-01T00:40:00", 2, "click"),
                ("2024-01-01T01:10:00", 1, "view"),
            ]
        ),
    )
    stream = read_file_stream(spark, str(src), EVENT_SCHEMA, fmt="json")
    q = (
        sliding_active_users(stream, window="1 hour", slide="30 minutes")
        .writeStream.format("memory")
        .queryName("sliding_actives")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        str(r.window_start): r.active_approx
        for r in spark.sql("SELECT * FROM sliding_actives").collect()
    }
    # identical aggregation over the same files in batch mode
    batch = (
        spark.read.schema(EVENT_SCHEMA).json(str(src))
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.approx_count_distinct("user_id").alias("active_approx"))
    )
    want = {str(r["win"].start): r.active_approx for r in batch.collect()}
    assert got == want
    # at these cardinalities HLL is exact: [00:00,01:00) holds u1+u2
    assert got["2024-01-01 00:00:00"] == 2
    assert got["2024-01-01 01:00:00"] == 1


def test_neardup_stream_gates_on_signature(spark, tmp_path):
    """Streaming MinHash gate: signature-identical docs collapse to
    the first seen; distinct docs pass. Batch parity: same survivors
    as a batch dropDuplicates on the same signature key."""
    from ingest_spark.operators.dedup import minhash_signature
    from ingest_spark.streaming.pipeline import neardup_stream, read_file_stream

    doc_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "the quick brown fox jumps over the lazy dog again and again",  # dup of 1
        3: "completely different content about spark structured streaming state",
        4: "completely different content about spark structured streaming state",  # dup of 3
        5: "a third unique document with its own vocabulary and phrasing",
    }
    src = tmp_path / "docs"
    src.mkdir()
    (src / "batch.json").write_text(
        "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in texts.items())
    )

    stream = read_file_stream(spark, str(src), doc_schema, fmt="json")
    gated = neardup_stream(stream, "text")
    sink = tmp_path / "out"
    q = (
        gated.writeStream.format("parquet")
        .option("path", str(sink))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(str(sink))
    survivors = {r["text"] for r in out.collect()}
    assert len(survivors) == 3 and out.count() == 3  # one per distinct signature

    batch = spark.createDataFrame(list(texts.items()), doc_schema)
    expected = (
        batch.withColumn("k", minhash_signature("text").cast("string"))
        .dropDuplicates(["k"])
        .count()
    )
    assert expected == 3


def test_observed_metrics_surface_per_microbatch(spark, tmp_path):
    """with_ingest_metrics: the running StreamingQuery itself reports
    row/null counts via observedMetrics — no second scan. Nulls are
    injected and must be counted exactly."""
    from ingest_spark.streaming.pipeline import (
        read_file_stream,
        with_ingest_metrics,
    )

    src = str(tmp_path / "src")
    rows = [(i, None if i % 5 == 0 else float(i)) for i in range(50)]
    spark.createDataFrame(rows, "id long, value double").coalesce(1).write.json(src)
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("value", T.DoubleType())]
    )
    stream = with_ingest_metrics(
        read_file_stream(spark, src, schema, fmt="json"), ["value"]
    )
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    observed = [
        p.observedMetrics["ingest_metrics"]
        for p in q.recentProgress
        if "ingest_metrics" in (p.observedMetrics or {})
    ]
    assert observed, "no micro-batch reported observed metrics"
    assert sum(m["n_rows"] for m in observed) == 50
    assert sum(m["null_value"] for m in observed) == 10


def test_observed_metrics_work_on_batch_frames(spark):
    from ingest_spark.streaming.pipeline import with_ingest_metrics

    df = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, None)], "id long, value double"
    )
    obs = with_ingest_metrics(df, ["value"])
    assert obs.count() == 3  # observe() is transparent to the data


def test_incremental_rollup_equals_full_recompute(spark, tmp_path):
    """foreach_batch_rollup: after streaming two file batches, the
    maintained rollup must EQUAL a batch recompute over all data ever
    streamed (associative-partial merge), and each batch must have
    merged rather than rebuilt (the second batch sees the first's
    snapshot)."""
    from ingest_spark.streaming.pipeline import (
        foreach_batch_rollup,
        read_file_stream,
    )

    src = str(tmp_path / "src")
    rollup = str(tmp_path / "rollup")
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).json(src)

    def run_stream():
        q = (
            read_file_stream(spark, src, schema, fmt="json")
            .writeStream.foreachBatch(
                foreach_batch_rollup(rollup, ["k"], ["v"])
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    batch1 = [("a", 1.0), ("a", 2.0), ("b", 10.0)]
    batch2 = [("a", 4.0), ("c", 7.0), ("b", -1.0), ("b", 0.5)]
    write_batch(batch1)
    run_stream()
    assert _read_rollup(spark, rollup) == {"a": (2, 3.0), "b": (1, 10.0)}

    write_batch(batch2)
    run_stream()  # resumes from checkpoint: only batch2 is new
    assert _read_rollup(spark, rollup) == {"a": (3, 7.0), "b": (3, 9.5), "c": (1, 7.0)}


def _read_rollup(spark, rollup):
    return {
        r.k: (r.n_rows, r.sum_v) for r in state_tables.read(spark, rollup).collect()
    }


def test_rollup_replay_of_applied_batch_is_skipped(spark, tmp_path):
    """ADVICE r6 (medium): foreachBatch is at-least-once — a crash
    after the swap but before the streaming checkpoint commits
    re-runs the batch against the already-merged rollup. The applied
    id in the table's manifest (published in the same flip as the
    data) must make that replay a no-op, not a double count."""
    from ingest_spark.streaming.pipeline import foreach_batch_rollup

    rollup = str(tmp_path / "rollup")
    apply = foreach_batch_rollup(rollup, ["k"], ["v"])
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "k string, v double")
    b1 = spark.createDataFrame([("a", 4.0)], "k string, v double")
    apply(b0, 0)
    apply(b1, 1)
    want = {"a": (2, 5.0), "b": (1, 2.0)}
    assert _read_rollup(spark, rollup) == want
    apply(b1, 1)  # at-least-once replay of the committed batch
    assert _read_rollup(spark, rollup) == want


def test_watermark_bounds_state_late_rows_best_effort(spark, tmp_path):
    """Pins the ACTUAL watermark semantics this engine runs on (and
    that windowed_event_counts documents): the watermark EVICTS
    finalized window state (numRowsRemoved > 0 once it advances), but
    a late row arriving in the same micro-batch its window finalizes
    is still aggregated and emitted — dropping is best-effort, never
    a guarantee. Writing this test initially with the opposite
    expectation caught an overclaiming docstring; exactly-once-per-
    window against stragglers belongs to the sink-side idempotent
    upsert, not the watermark."""
    _assert_watermark_late_row_semantics(spark, tmp_path, "wm_semantics_out")


def _assert_watermark_late_row_semantics(spark, tmp_path, query_name):
    import json as _json

    from ingest_spark.streaming.pipeline import (
        read_file_stream,
        windowed_event_counts,
    )

    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def write_file(name, rows):
        with open(f"{src}/{name}", "w") as f:
            for et, ts in rows:
                f.write(_json.dumps({"event_type": et, "ts": ts}) + "\n")

    # batch 1 advances the max event time to 12:00 -> watermark 11:30
    write_file("a.json", [("view", "2024-03-01T10:00:00"),
                          ("view", "2024-03-01T12:00:00")])
    # batch 2 delivers a 09:00 straggler: older than the watermark
    write_file("b.json", [("click", "2024-03-01T09:00:00"),
                          ("view", "2024-03-01T12:30:00")])

    stream = read_file_stream(spark, src, schema, fmt="json",
                              max_files_per_trigger=1)
    agg = windowed_event_counts(stream, "ts", window="15 minutes",
                                watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    progress = [_json.loads(pr.json) for pr in q.recentProgress]
    # the watermark ADVANCED off batch 1's max event time...
    assert any(
        p.get("eventTime", {}).get("watermark", "").startswith("2024-03-01T11:30")
        for p in progress
    )
    # ...and EVICTED finalized state (the bound that matters at scale)
    removed = sum(
        op["numRowsRemoved"]
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert removed > 0
    # best-effort late handling: the 09:00 straggler still surfaced
    # (same-batch-as-finalization case) — it must NOT be silently lost
    # AND not duplicated
    out = spark.sql(
        f"SELECT event_type, count(*) c FROM {query_name} "
        "WHERE window_start = TIMESTAMP '2024-03-01 09:00:00' GROUP BY 1"
    ).collect()
    assert [(r.event_type, r.c) for r in out] == [("click", 1)]


def test_incremental_scd2_equals_batch_recompute(spark, tmp_path):
    """foreach_batch_scd2: after two file batches (the second touching
    an existing user OUT OF ORDER and introducing a new one), the
    maintained interval table must EQUAL the batch SCD2 recompute
    over all events ever streamed; untouched users' rows carry over."""
    from ingest_spark.streaming.pipeline import (
        foreach_batch_scd2,
        read_file_stream,
    )

    src = str(tmp_path / "src")
    table = str(tmp_path / "scd2")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
        ]
    )

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).json(src)

    def run_stream():
        q = (
            read_file_stream(spark, src, schema, fmt="json")
            .writeStream.foreachBatch(
                foreach_batch_scd2(table, "user_id", "event_type", "ts", "event_id")
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    from datetime import datetime as DT

    b1 = [
        (1, "signup", DT(2024, 1, 1, 10), 1),
        (1, "purchase", DT(2024, 1, 2, 10), 2),
        (2, "signup", DT(2024, 1, 1, 12), 3),
    ]
    b2 = [
        (1, "error", DT(2024, 1, 1, 18), 4),   # OUT OF ORDER for user 1
        (3, "signup", DT(2024, 1, 3, 9), 5),   # brand-new user
    ]
    write_batch(b1)
    run_stream()
    write_batch(b2)
    run_stream()

    got = {
        (r.user_id, r.valid_from, r.state, r.valid_to, r.is_current)
        for r in state_tables.read(spark, table).collect()
    }
    # batch recompute over everything streamed
    all_events = spark.createDataFrame(b1 + b2, schema)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.valid_from, r.state, r.valid_to, r.is_current)
        for r in all_events.select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.col("event_type").alias("state"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        ).collect()
    }
    assert got == want
    # user 1's history re-sorted around the out-of-order error event
    u1 = sorted((vf, st) for (u, vf, st, _, _) in got if u == 1)
    assert [s for _, s in u1] == ["signup", "error", "purchase"]


def test_incremental_novelty_state_via_min_rollup(spark, tmp_path):
    """SCALING §8's claim made concrete: maintain (gram -> first doc)
    incrementally with foreach_batch_rollup's min-merge; after two
    batches the state equals the batch ngram_novelty first-doc
    aggregate over everything streamed — a later batch can NEVER
    steal first-seen credit from an earlier one."""
    from ingest_spark.operators import dedup
    from ingest_spark.streaming.pipeline import (
        foreach_batch_rollup,
        read_file_stream,
    )

    src = str(tmp_path / "src")
    state = str(tmp_path / "gram_state")
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").json(src)

    def run_stream():
        stream = read_file_stream(spark, src, schema, fmt="json")
        grams = stream.select(
            "doc_id", F.explode(dedup.shingles("text", 3)).alias("gram")
        )
        q = (
            grams.writeStream.foreachBatch(
                foreach_batch_rollup(state, ["gram"], [], min_cols=["doc_id"])
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [(1, "the quick brown fox jumps"), (2, "a wholly different doc here")]
    b2 = [(3, "the quick brown fox returns"),  # shares 'the quick brown' etc.
          (4, "a wholly different doc here")]  # exact dup of doc 2's grams
    write_batch(b1)
    run_stream()
    write_batch(b2)
    run_stream()

    got = {r.gram: r.min_doc_id for r in state_tables.read(spark, state).collect()}
    all_docs = spark.createDataFrame(b1 + b2, schema)
    want = {
        r.gram: r.first
        for r in all_docs.select(
            "doc_id", F.explode(dedup.shingles("text", 3)).alias("gram")
        )
        .groupBy("gram")
        .agg(F.min("doc_id").alias("first"))
        .collect()
    }
    assert got == want
    # first-seen credit held by the EARLIER batch
    assert got["the quick brown"] == 1
    assert got["a wholly different"] == 2


def test_sessionize_drain_mode_terminates(spark, tmp_path):
    """idle_timeout=False: the sessionizer under Trigger.AvailableNow
    must DRAIN AND STOP (with processing-time timers the engine spins
    no-data batches forever waiting for wall-clock timeouts — the bug
    the streaming bench caught). Asserts actual termination plus the
    same closed-session output as the timeout mode."""
    from ingest_spark.streaming.pipeline import read_file_stream, sessionize_stream

    src = tmp_path / "sess_drain_src"
    _write_feed(
        src,
        _event_rows(
            [
                ("2024-01-01T00:00:00", 10, "click"),
                ("2024-01-01T00:29:00", 10, "click"),
                ("2024-01-01T01:00:01", 10, "click"),  # 31m gap closes s1
            ]
        ),
    )
    stream = read_file_stream(spark, str(src), EVENT_SCHEMA, fmt="json")
    q = (
        sessionize_stream(stream, gap_minutes=30, idle_timeout=False)
        .writeStream.format("memory")
        .queryName("sessions_drain")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive  # drained and STOPPED
    rows = spark.sql("SELECT * FROM sessions_drain").collect()
    assert [(r.user_id, r.session_id, r.n_events) for r in rows] == [(10, 1, 2)]


def test_rollup_fresh_checkpoint_new_run_merges(spark, tmp_path):
    """r7 ADVICE: restarting with a FRESH checkpoint resets streaming
    batch ids to 0; with run-scoped manifests those batches must MERGE
    into the existing rollup (pre-r7 behavior), while replays within
    one run are still skipped."""
    from ingest_spark.streaming.pipeline import foreach_batch_rollup

    rollup = str(tmp_path / "rollup")
    run_a = foreach_batch_rollup(rollup, ["k"], ["v"], run_id="ckpt-A")
    run_a(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
    run_a(spark.createDataFrame([("a", 4.0)], "k string, v double"), 1)
    want = {"a": (2, 5.0)}
    assert _read_rollup(spark, rollup) == want
    # at-least-once replay within the SAME run: skipped
    run_a(spark.createDataFrame([("a", 4.0)], "k string, v double"), 1)
    assert _read_rollup(spark, rollup) == want
    # fresh checkpoint -> new run id, ids restart at 0: must merge
    run_b = foreach_batch_rollup(rollup, ["k"], ["v"], run_id="ckpt-B")
    run_b(spark.createDataFrame([("b", 7.0)], "k string, v double"), 0)
    assert _read_rollup(spark, rollup) == {"a": (2, 5.0), "b": (1, 7.0)}
    # and replay within run B is again a no-op
    run_b(spark.createDataFrame([("b", 7.0)], "k string, v double"), 0)
    assert _read_rollup(spark, rollup) == {"a": (2, 5.0), "b": (1, 7.0)}


def test_pointer_flip_crashed_writer_leaves_old_pointer_intact(
    spark, tmp_path, monkeypatch
):
    """VERDICT r11 §Next #7: the URI-path flip of a small text file
    (a table's manifest) is WRITE-THEN-RENAME (temp sibling +
    FileContext rename(OVERWRITE) — the primitive HDFS guarantees
    atomic). Simulate the crashed writer: the process dies AFTER the
    temp write but BEFORE the rename. The live file must be FULLY
    INTACT — not zero-length, not partially written — because the
    destination is never opened for write (HDFS create(overwrite=True)
    truncates, then writes). file:// paths route through the same
    Hadoop FileContext code path as hdfs://."""
    import pytest

    ptr = "file://" + str(tmp_path / "_SEGMENTS")  # URI -> Hadoop IO
    state_tables._fs_write_text(ptr, "v-7")
    assert state_tables._fs_read_text(ptr) == "v-7"

    def killed_before_rename(src, dst):
        raise RuntimeError("writer killed between temp write and rename")

    monkeypatch.setattr(state_tables, "_rename_overwrite", killed_before_rename)
    with pytest.raises(RuntimeError):
        state_tables._fs_write_text(ptr, "v-8")
    # old text untouched: the crash left a .tmp orphan, never a torn dst
    assert state_tables._fs_read_text(ptr) == "v-7"
    monkeypatch.undo()
    # the replayed batch (fresh writer) completes the flip
    state_tables._fs_write_text(ptr, "v-8")
    assert state_tables._fs_read_text(ptr) == "v-8"


def test_pointer_flip_object_store_fallback_single_put(
    spark, tmp_path, monkeypatch
):
    """Schemes with no FileContext binding (s3a-style object stores
    raise UnsupportedFileSystemException) fall back to the single
    create(overwrite=True) PUT — atomic on object stores by object
    semantics — and must clean up the orphaned temp object."""
    ptr = "file://" + str(tmp_path / "_SEGMENTS")
    monkeypatch.setattr(state_tables, "_rename_overwrite", lambda src, dst: False)
    state_tables._fs_write_text(ptr, "v-3")
    assert state_tables._fs_read_text(ptr) == "v-3"
    leftovers = [p for p in os.listdir(tmp_path) if ".tmp-" in p]
    assert leftovers == [], leftovers


def test_fs_read_text_exists_open_race_returns_none(monkeypatch):
    """ADVICE r10: _fs_read_text's URI branch had an exists-then-open
    race — a file deleted between the two calls surfaced as a
    Py4JJavaError(FileNotFoundException) that crashed the micro-batch,
    while the local branch maps absence to None. Genuine absence must
    behave identically on both branches; other Java faults stay loud."""
    P = state_tables

    class _JClass:
        def __init__(self, name):
            self._n = name

        def getName(self):
            return self._n

    class _JExc:
        def __init__(self, name):
            self._c = _JClass(name)

        def getClass(self):
            return self._c

    class _RaisingFS:
        def __init__(self, jclass):
            self._jclass = jclass

        def exists(self, _):
            return True  # existed at check time...

        def open(self, _):
            exc = Exception("gone")
            exc.java_exception = _JExc(self._jclass)
            raise exc  # ...deleted before open

    monkeypatch.setattr(
        P, "_hadoop_fs",
        lambda path: (_RaisingFS("java.io.FileNotFoundException"), object()),
    )
    assert P._fs_read_text("file:///nope/raced.txt") is None
    # a non-FNF Java fault must NOT be swallowed as absence
    monkeypatch.setattr(
        P, "_hadoop_fs",
        lambda path: (_RaisingFS("java.io.IOException"), object()),
    )
    import pytest

    with pytest.raises(Exception, match="gone"):
        P._fs_read_text("file:///nope/raced.txt")


def test_fs_helpers_work_from_a_plain_thread(spark, tmp_path):
    """(< 1 s) The Hadoop-path helpers resolve the JVM through the
    process-wide SparkContext, not the per-thread active session: a
    plain thread, which never set a session, reads, replaces and lists
    files on a file:// path."""
    import threading

    path = "file://" + str(tmp_path / "_SEGMENTS")
    out, errors = {}, []

    def work():
        try:
            state_tables._fs_write_text(path, "v-1")
            out["exists"] = state_tables.fs_exists(path)
            out["text"] = state_tables._fs_read_text(path)
            out["listed"] = state_tables._fs_list("file://" + str(tmp_path) + "/*")
        except Exception as exc:  # noqa: BLE001 — asserted below
            errors.append(exc)

    th = threading.Thread(target=work)
    th.start()
    th.join(60)
    assert not th.is_alive()
    assert errors == []
    assert out["exists"] and out["text"] == "v-1"
    assert [p.rsplit("/", 1)[-1] for p in out["listed"]] == ["_SEGMENTS"]


# three batches per maintainer; the scd2 one reaches user 1 out of order
_PROTOCOL_BATCHES = {
    "rollup": [[("a", 1.0), ("b", 2.0)], [("a", 4.0), ("c", 0.5)], [("b", 8.0)]],
    "scd2": [
        [(1, "signup", 10, 1), (2, "signup", 15, 2)],
        [(1, "active", 5, 3), (3, "signup", 12, 4)],
        [(2, "churned", 30, 5)],
    ],
}


def _protocol_want(kind, batches):
    """The table after ``batches``, recomputed in Python."""
    rows = [r for b in batches for r in b]
    if kind == "rollup":
        out = {}
        for k, v in rows:
            n, total = out.get(k, (0, 0.0))
            out[k] = (n + 1, total + v)
        return out
    out = set()
    for user in {r[0] for r in rows}:
        hist = sorted((ts, eid, st) for u, st, ts, eid in rows if u == user)
        for i, (ts, _, st) in enumerate(hist):
            nxt = hist[i + 1][0] if i + 1 < len(hist) else None
            out.add((user, ts, st, nxt, nxt is None))
    return out


def _protocol_rows(kind, frame):
    if kind == "rollup":
        return {r.k: (r.n_rows, r.sum_v) for r in frame.collect()}
    return {
        (r.user_id, r.valid_from, r.state, r.valid_to, r.is_current)
        for r in frame.collect()
    }


@pytest.mark.parametrize("scheme", ["bare", "file"])
@pytest.mark.parametrize("kind", ["rollup", "scd2"])
def test_state_table_commit_protocol(spark, tmp_path, monkeypatch, kind, scheme):
    """(~7 s each) The crash/replay properties of a table maintained by
    foreach_batch_rollup / foreach_batch_scd2, on a bare path (local
    IO) and on a file:// path (Hadoop IO): a torn (empty) manifest
    reads as no table; a fresh run whose ids restart at 0 merges and
    never stages into or overwrites the live segment; a replay within
    a run is skipped; a crash after the segment write and before the
    publish leaves the previous state live; the replaced segment
    survives until the next call, so a reader plan opened before a
    flip still reads; no ``_staging-*`` is left once a call returns."""
    from ingest_spark.streaming.pipeline import foreach_batch_rollup, foreach_batch_scd2

    local = str(tmp_path / kind)
    path = local if scheme == "bare" else "file://" + local
    schema = (
        "k string, v double"
        if kind == "rollup"
        else "user_id long, event_type string, ts long, event_id long"
    )
    batches = [spark.createDataFrame(rows, schema) for rows in _PROTOCOL_BATCHES[kind]]

    def maintainer(run):
        if kind == "rollup":
            return foreach_batch_rollup(path, ["k"], ["v"], run_id=run)
        return foreach_batch_scd2(path, "user_id", "event_type", "ts", "event_id", run_id=run)

    def state():
        return _protocol_rows(kind, state_tables.read(spark, path))

    def want(n):
        return _protocol_want(kind, _PROTOCOL_BATCHES[kind][:n])

    def live():
        (seg,) = state_tables.manifest(path)["segments"]
        return seg[0]

    def on_disk():
        names = os.listdir(local)
        assert not [n for n in names if n.startswith("_staging-")]
        return {n for n in names if n.startswith("seg-")}

    def snapshot(name):
        seg = os.path.join(local, name)
        return {f: open(os.path.join(seg, f), "rb").read() for f in os.listdir(seg)}

    os.makedirs(local)
    open(os.path.join(local, "_SEGMENTS"), "w").close()  # torn manifest
    run_a, run_b = maintainer("ckpt-A"), maintainer("ckpt-B")
    run_a(batches[0], 0)
    first = live()
    first_bytes = snapshot(first)

    # fresh checkpoint: run B restarts at id 0 and merges beside the
    # live segment of run A's batch 0, which stays byte-identical
    run_b(batches[1], 0)
    assert live() != first
    assert on_disk() == {first, live()}
    assert snapshot(first) == first_bytes

    published = state_tables.manifest(path)
    run_b(batches[1], 0)  # at-least-once replay within run B
    assert state_tables.manifest(path) == published

    inflight = state_tables.read(spark, path)  # checked below: want(2)
    before = live()
    real = state_tables.publish

    def killed(*args, **kwargs):
        raise RuntimeError("killed before publish")

    monkeypatch.setattr(state_tables, "publish", killed)
    with pytest.raises(RuntimeError, match="killed"):
        run_b(batches[2], 1)
    monkeypatch.setattr(state_tables, "publish", real)
    assert state_tables.manifest(path) == published
    assert len(on_disk() - {before}) == 1  # written, never published

    run_b(batches[2], 1)  # the restarted query replays the batch
    assert state() == want(3)
    assert on_disk() == {before, live()}
    assert _protocol_rows(kind, inflight) == want(2)
