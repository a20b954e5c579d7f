"""Structured Streaming ingest pipeline (reference S5/S6, T5-T10, K1-K3).

The reference's runtime loop — poll source, clean, content-hash,
dedup-against-Redis, serialize, publish to Kafka, Connect sinks to
HDFS, supervised by an infinite retry loop
(fetch_data_energinet.py:139-186,283-295; cluster/configuration.json)
— collapses into one streaming plan:

    readStream (file or kafka source)
      -> clean/contract transforms     (same functions as batch)
      -> content hash (T5)
      -> withWatermark + dropDuplicatesWithinWatermark (T6, bounded state)
      -> ingested_at enrichment (T9)
      -> writeStream parquet/avro, partitionBy(date), checkpointed (T8/K2)

Spark's checkpoint directory replaces BOTH Redis hash-sets (dedup
state + processed offsets); the watermark bounds dedup state growth —
the 100 TB answer to the reference's per-day state reset (T7).
Restart-on-failure (O1) is the StreamingQuery restart semantics:
rerunning the same query against the same checkpoint resumes
exactly where it stopped.

No Kafka connector jar ships in this container, so sources here are
file-based (the semantics under test are identical: schema-applied
micro-batches); ``readStream.format("kafka")`` drops in unchanged on a
cluster with the package loaded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ingest_spark import state_tables
from ingest_spark.functions.hashing import content_hash


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Schema-applied file stream (S5-shaped source). The explicit
    schema is mandatory — streaming never infers.
    ``maxFilesPerTrigger`` is the backpressure knob (the reference's
    Flume channel capacity / rate-limit sleeps, T10)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def ingest_transform(
    df: DataFrame,
    hash_cols: list[str],
    event_time_col: str,
    watermark: str = "1 day",
) -> DataFrame:
    """The shared clean->hash->dedup->enrich core (T5/T6/T9), usable on
    batch and streaming frames alike. State for the dedup is bounded by
    the watermark: duplicates arriving later than ``watermark`` after
    the original are not caught here — they are caught by the
    idempotent sink dedup in ``foreach_batch_upsert``."""
    hashed = df.withColumn("record_hash", content_hash(*sorted(hash_cols)))
    if df.isStreaming:
        deduped = hashed.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
            ["record_hash"]
        )
    else:
        deduped = hashed.dropDuplicates(["record_hash"])
    return deduped.withColumn("ingested_at", F.current_timestamp())


def write_stream_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_date_col: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """K2: checkpointed columnar sink. ``partitionBy(ingest_date)``
    replaces the Connect DefaultPartitioner with date partitioning
    (partition-pruned reads). With ``partition_date_col`` the stream is
    also repartitioned by ``ingest_date`` before the sink, so a
    micro-batch writes exactly one file per date it holds, and the
    batch's write parallelism equals the number of distinct dates in
    it. Without the repartition every task of the stateful operator
    upstream would write its own file per date (one per state
    partition x date, ~11 rows each on hourly settlement drops) — the
    reference's flush.size=3 small-file anti-pattern in another guise.
    A batch, and with it a file, is bounded by the source's
    ``maxFilesPerTrigger`` (``read_file_stream``). ``available_now``
    processes the backlog then stops — the batch-like trigger used by
    tests and backfills."""
    out = df
    if partition_date_col is not None:
        out = out.withColumn("ingest_date", F.to_date(F.col(partition_date_col)))
        out = out.repartition("ingest_date")
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if partition_date_col is not None:
        writer = writer.partitionBy("ingest_date")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def neardup_stream(
    stream: DataFrame,
    text_col: str = "text",
    event_time_col: str | None = None,
    watermark: str = "1 hour",
    num_hashes: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Streaming near-dup gate (E2 x streaming): first document per
    MinHash signature passes; later signature-identical documents are
    dropped. The signature is the pure-Column HOF form (no aggregate —
    legal inside a streaming projection); state is the signature key
    only, watermark-bounded when ``event_time_col`` is given
    (dropDuplicatesWithinWatermark — same eviction contract as the
    exact-dedup stream).

    This is deliberately the CONSERVATIVE gate: it fires only when all
    ``num_hashes`` mins collide (signature-identical ~ Jaccard near 1),
    i.e. high precision / reduced recall vs the batch LSH banding,
    which ORs over bands. Per-band OR semantics in a stream needs
    multi-key state (transformWithState ValueState per band) — the
    batch `minhash_lsh_candidates` + `connected_components` pipeline
    remains the recall path, run as a periodic compaction over the
    stream's sink."""
    from ingest_spark.operators import dedup

    sig = dedup.minhash_signature(text_col, num_hashes, shingle_n)
    key = F.sha2(F.concat_ws("-", F.transform(sig, lambda m: m.cast("string"))), 256)
    out = stream.withColumn("__sig_key", key)
    if event_time_col is not None:
        out = out.withWatermark(event_time_col, watermark)
        out = out.dropDuplicatesWithinWatermark(["__sig_key"])
    else:
        out = out.dropDuplicates(["__sig_key"])
    return out.drop("__sig_key")


def write_stream_avro_containers(
    df: DataFrame,
    schema: dict | str,
    path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """K2, Avro flavor: checkpointed streaming sink writing standard
    Avro Object Container Files (one ``batch-N/part-*.avro`` rollup
    per micro-batch) via the engine's pure-Python codec — the
    reference's Connect HDFS AvroFormat sink
    (cluster/configuration.json:10) without the spark-avro jar. File
    roll = one file per partition per trigger (cadence-governed, not
    the reference's flush.size=3 small-file anti-pattern); the files
    are readable by any Avro tooling (DataFileReader interop is
    asserted in tests) and by ``schemas.avro_binary.scan_container_dir``."""
    import os

    from ingest_spark.schemas.avro_binary import write_container_dir

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_container_dir(
            batch_df, schema, os.path.join(path, f"batch-{batch_id}")
        )

    writer = (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_upsert(
    sink_path: str, key_col: str = "record_hash", prune_col: str | None = None
):
    """Idempotent sink for at-least-once upstreams: per micro-batch,
    anti-join the batch against keys already in the sink, append the
    remainder. The exactly-once-by-content-hash guarantee the
    reference gets from Redis hexists (T6), without the per-record
    round trip.

    The read-back cost grows with sink size, so on long-running
    streams pass ``prune_col`` (a partition column of the sink, e.g.
    ``ingest_date``): the anti-join side is then restricted to the
    batch's own [min, max] range of that column — partition-pruned at
    the parquet scan, so the read-back cost tracks the BATCH's time
    span, not the sink's lifetime. Duplicates can only collide on
    equal content, and equal content has an equal prune_col value, so
    pruning never weakens the guarantee. (On a cluster with a table
    format, swap the read-back for Delta/Iceberg
    ``MERGE WHEN NOT MATCHED``.)"""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        fresh = batch_df.dropDuplicates([key_col])
        try:
            existing = spark.read.parquet(sink_path)
            if prune_col is not None:
                bounds = fresh.agg(
                    F.min(prune_col).alias("lo"), F.max(prune_col).alias("hi")
                ).first()
                if bounds["lo"] is not None:
                    existing = existing.filter(
                        F.col(prune_col).between(bounds["lo"], bounds["hi"])
                    )
            fresh = fresh.join(
                existing.select(key_col), on=key_col, how="left_anti"
            )
        except AnalysisException:
            # ONLY path-not-found (first batch, sink not created yet).
            # Transient IO/permission errors must propagate — swallowing
            # them would skip the anti-join and append duplicates,
            # silently breaking the idempotence this sink exists for.
            pass
        fresh.write.mode("append").parquet(sink_path)

    return apply


_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


def run_ingest_pipeline(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    sink_path: str,
    checkpoint: str,
    hash_cols: list[str],
    event_time_col: str,
    watermark: str = "1 day",
    fmt: str = "json",
) -> StreamingQuery:
    """End-to-end S5->T5->T6->T9->K2 pipeline with availableNow
    semantics (drain the backlog, then stop). Each micro-batch writes
    one file per ``ingest_date`` it holds (``write_stream_parquet``).

    The query runs without no-data micro-batches: the plan is
    dedup-only in append mode, where a row is emitted the batch it is
    first seen, so an empty batch after a drain would only evict state
    past the advanced watermark. That eviction happens at the start of
    the next data batch instead, with the same watermark, and the rows
    written do not change. The setting is captured when the query
    starts and the session's own value is restored right after, so
    append-mode aggregations (``windowed_event_counts``), which need
    the empty batch to emit finalized windows, are unaffected."""
    stream = read_file_stream(spark, source_dir, schema, fmt=fmt)
    cleaned = ingest_transform(stream, hash_cols, event_time_col, watermark)
    prev = spark.conf.get(_NO_DATA_BATCHES, None)
    spark.conf.set(_NO_DATA_BATCHES, "false")
    try:
        return write_stream_parquet(
            cleaned, sink_path, checkpoint, partition_date_col=event_time_col
        )
    finally:
        if prev is None:
            spark.conf.unset(_NO_DATA_BATCHES)
        else:
            spark.conf.set(_NO_DATA_BATCHES, prev)


def windowed_event_counts(
    stream: DataFrame,
    event_time_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the late-data-aware
    rollup the reference's ksqlDB view (Q1) could not express. The
    watermark bounds STATE: windows older than it are finalized and
    evicted (visible as numRowsRemoved in the progress metrics).
    Late-row handling is Spark's documented best-effort: a row older
    than the watermark is not guaranteed to be processed — but it is
    also NOT guaranteed to be dropped (measured on this engine: a
    late row arriving in the same micro-batch its window finalizes
    still reaches the append output; see
    test_watermark_bounds_state_late_rows_best_effort). Pipelines
    needing a hard exactly-once-per-window guarantee against
    stragglers get it at the SINK, from the idempotent
    foreach_batch_upsert anti-join — not from the watermark."""
    return (
        stream.withWatermark(event_time_col, watermark)
        .groupBy(F.window(event_time_col, window).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_id int, n_events long, "
    "session_start timestamp, session_end timestamp"
)
_SESSION_STATE_SCHEMA = "session_id int, n_events long, start long, last long"


def sessionize_stream(
    stream: DataFrame,
    gap_minutes: int = 30,
    idle_timeout: bool = True,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    gap-based sessionization with per-user session state carried
    across micro-batches. Emits a session row when a gap closes it;
    the open tail session stays in the state store (bounded: one small
    tuple per active user, evicted via processing-time timeout).

    ``idle_timeout`` chooses the state-eviction mode BY RUN STYLE:
    True (processing-time timeout) is for CONTINUOUS queries — idle
    users' open sessions eventually flush and their state evicts.
    Pass False for DRAIN runs (Trigger.AvailableNow backfills/tests/
    benches): with pending processing-time timeouts the engine keeps
    scheduling no-data micro-batches waiting for wall-clock timers
    and an AvailableNow query NEVER TERMINATES (measured: 99+ empty
    batches; caught when the streaming bench hung) — NoTimeout drains
    and stops, leaving open tails in state exactly like the dedup
    operators.

    This is the streaming twin of the batch ``sessionize_events``
    query — same 30-min-gap semantics, incremental instead of
    re-scan. Arrow-batched both ways; grouping shuffles once on
    user_id, exactly like the batch window plan.

    Key stability: ``session_id`` is the within-state ordinal and
    RESTARTS at 1 if a user's state is evicted by the idle timeout and
    the user later returns — downstream consumers must key sessions on
    ``(user_id, session_start)``, which is globally unique and stable;
    the ordinal is for human-readable ordering within an active period.
    """
    import pandas as pd  # noqa: F401 (Arrow path)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if idle_timeout and state.hasTimedOut:
            sid, n, start, last = state.get
            state.remove()
            yield _session_pdf(user_id, sid, n, start, last)
            return
        if state.exists:
            sid, n, start, last = state.get
        else:
            sid, n, start, last = 0, 0, None, None
        # gather the WHOLE group's batch before sorting: Arrow hands
        # the group over as multiple chunks (maxRecordsPerBatch) in no
        # particular order, and chunk-local sorting would let a later
        # chunk move `last` backwards and merge across a real gap
        all_ts: list[int] = []
        for pdf in pdf_iter:
            # datetime64[ns] -> int64 ns -> us (floor), matching Spark micros
            all_ts.extend((pdf["ts"].astype("int64") // 1000).tolist())
        closed = []
        for ts_us in sorted(all_ts):
            if last is None:
                sid, n, start, last = 1, 1, ts_us, ts_us
            elif ts_us - last > gap_us:
                closed.append((sid, n, start, last))
                sid, n, start, last = sid + 1, 1, ts_us, ts_us
            else:
                n, last = n + 1, ts_us
        state.update((sid, n, start, last))
        if idle_timeout:
            state.setTimeoutDuration(gap_minutes * 60 * 1000)
        for c in closed:
            yield _session_pdf(user_id, *c)

    def _session_pdf(user_id, sid, n, start_us, last_us):
        import pandas as pd

        return pd.DataFrame(
            {
                "user_id": [user_id],
                "session_id": [sid],
                "n_events": [n],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
            }
        )

    return stream.select("user_id", "ts").groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )


def attribute_purchases_stream(
    stream: DataFrame,
    click_type: str = "click",
    purchase_type: str = "purchase",
    attribution_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream join: attribute each purchase to the
    same user's clicks in the preceding ``attribution_minutes``. Both
    sides carry watermarks and the join condition bounds event-time
    distance, so Spark can size the state store and evict rows the
    other side can no longer match — the unbounded-state trap of naive
    stream joins, solved declaratively. Output: one row per
    (click, purchase) attribution pair."""
    clicks = (
        stream.filter(F.col("event_type") == click_type)
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == purchase_type)
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + interval {attribution_minutes} minutes
            """
        ),
        "inner",
    ).select(
        F.col("c_user").alias("user_id"), "click_ts", "purchase_ts"
    )


def to_kafka_frame(
    df: DataFrame, key_col: str, value_cols: list[str] | None = None
) -> DataFrame:
    """K1/T12: project any frame into the Kafka sink contract —
    ``key: binary`` (the event-time string key, T12) and ``value:
    binary`` (JSON body; swap ``to_json`` for ``to_avro`` + an optional
    Confluent header where registry framing is required). The result
    writes with ``.format("kafka").option("topic", ...)`` unchanged;
    Spark batches and acks natively — the reference's per-record
    produce+flush (fetch_data_energinet.py:249-254) has no analogue
    here by design."""
    cols = value_cols or [c for c in df.columns]
    return df.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in cols])).cast("binary").alias("value"),
    )


def session_window_counts(
    stream: DataFrame,
    key_col: str = "user_id",
    event_time_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window aggregate:
    built-in merging session state, watermark-bounded, emitted when the
    watermark passes a session's end. The engine-managed sibling of
    ``sessionize_stream`` (applyInPandasWithState) — use this one
    unless per-session custom logic is needed; identical code runs in
    batch (queries.session_window_native proves parity vs the
    lag+cumsum construction)."""
    return (
        stream.withWatermark(event_time_col, watermark)
        .groupBy(key_col, F.session_window(event_time_col, gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def sliding_active_users(
    stream: DataFrame,
    key_col: str = "user_id",
    event_time_col: str = "ts",
    window: str = "7 days",
    slide: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming sibling of ``queries.rolling_active_users`` (rolling
    DAU/WAU): trailing-window active-entity counts as a watermarked
    SLIDING window aggregate. Exact count_distinct is illegal in a
    streaming aggregation (state would be unbounded per window), so
    this uses ``approx_count_distinct`` — the HLL±2% answer is the
    same trade `sketch_rollup_union` makes for batch rollups at 100 TB
    (SCALING.md §2), and its state per window is a fixed few KB
    regardless of cardinality. Window count per row is
    window/slide (7 here) — the streaming analogue of the batch
    query's 7x coverage explode. The watermark finalizes and evicts
    windows; batch parity for the same frame is asserted in
    tests/test_streaming.py."""
    return (
        stream.withWatermark(event_time_col, watermark)
        .groupBy(F.window(event_time_col, window, slide).alias("win"))
        .agg(F.approx_count_distinct(key_col).alias("active_approx"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "active_approx",
        )
    )


def dedup_stream_tws(
    stream: DataFrame, hash_col: str = "record_hash", ttl_minutes: int | None = None
) -> DataFrame:
    """First-seen exact dedup on the transformWithStateInPandas API
    (Spark 4's arbitrary-state surface, RocksDB-backed): the
    reference's Redis hexists/hset gate (T6,
    producers/energinet/fetch_data_energinet.py:60-65,170-176)
    as a keyed stateful operator — one boolean ValueState per content
    hash, emit only the hash's first row.

    ``ttl_minutes`` maps the reference's per-day dedup-scope reset
    (T7, clear_redis_key, fetch_data_energinet.py:33-38,179) onto
    declarative state TTL: a hash seen again after the TTL passes is
    treated as new. TTL also BOUNDS the state store — unbounded
    distinct hashes at 100 TB would otherwise grow RocksDB forever;
    with TTL the store holds only the active window's hashes
    (compare dropDuplicatesWithinWatermark, which bounds state by
    event-time watermark instead of processing-time age).

    Requires the RocksDB state store provider
    (spark.sql.streaming.stateStore.providerClass) AND the
    ``protobuf`` Python package (the TWS state server's wire
    format — ships with any pyspark[connect] install; absent from
    this test container, so the e2e test self-skips and
    ``dedup_stream`` / ``foreach_batch_upsert`` remain the
    exercised dedup paths here).
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = stream.schema

    class FirstSeen(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._seen = handle.getValueState(
                "seen",
                "seen boolean",
                ttlDurationMs=ttl_minutes * 60_000 if ttl_minutes else None,
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._seen.exists():
                return
            self._seen.update((True,))
            for pdf in rows:
                yield pdf.head(1)
                return

        def close(self) -> None:
            pass

    return (
        stream.groupBy(hash_col)
        .transformWithStateInPandas(
            statefulProcessor=FirstSeen(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="processingTime" if ttl_minutes else "none",
        )
    )


# ------------------------------------------------- observed metrics (r6)
def with_ingest_metrics(
    df: DataFrame,
    value_cols: list[str],
    name: str = "ingest_metrics",
) -> DataFrame:
    """Attach `df.observe()` data-quality metrics to a batch OR
    streaming frame: row count plus per-column null counts, computed
    BY THE RUNNING QUERY itself (no second scan, no extra action).
    On streaming queries the metrics surface per micro-batch in
    `StreamingQueryProgress.observedMetrics[name]` — the
    zero-overhead replacement for the reference's hand-rolled
    per-fetch print statistics (fetch_data_energinet.py:173-178's
    record counters), and the hook a production pipeline alerts on
    (null spikes, empty batches) without a separate monitoring job.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}")
        for c in value_cols
    ]
    return df.observe(name, *aggs)


# -------------------------------------------- incremental rollup (r6)
def foreach_batch_rollup(
    rollup_path: str,
    key_cols: list[str],
    sum_cols: list[str],
    min_cols: list[str] | None = None,
    run_id: str | None = None,
):
    """Incremental MATERIALIZED ROLLUP maintenance: per micro-batch,
    aggregate the batch to (keys, partial sums + partial count), merge
    with the stored rollup by key-wise ADDITION, and commit the merged
    table as one `state_tables` segment that replaces the previous
    one. Because sum/count/min are associative partials, the
    maintained table equals a full recompute over everything ever
    streamed — asserted in tests/test_streaming.py — while each
    batch's cost is O(batch + |rollup|), never O(history).
    ``min_cols`` carries min-merged columns: with key=gram and
    min_col=doc_id this IS the incremental first-seen novelty state
    (SCALING.md §8). Read the table with `state_tables.read`.

    This is the streaming half of the lambda-less architecture: the
    same rollup the batch engine would build, kept current by the
    stream (averages derive as sum/count downstream; min/max and any
    other semigroup merge the same way). On a cluster with a table
    format the segment replace becomes a MERGE; the shape is
    identical.

    Replay + crash safety (ADVICE r6): foreachBatch is at-least-once,
    so the table's manifest records the applied batch id in the same
    atomic flip that publishes the data, and a replayed batch it
    already covers is skipped instead of double-counted. A crash
    before the flip leaves the previous table live.

    ``run_id`` names the owning streaming run (pass the checkpoint
    location, or anything stable per checkpoint): a restart with a
    FRESH checkpoint resets streaming batch ids to 0, and without a
    run id the manifest would silently skip every batch until the new
    ids exceed the stored one (r7 ADVICE). With a run id recorded in
    the manifest, replays skip only within the same run; a new run's
    batches always merge."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        m = state_tables.recover(rollup_path)
        if state_tables.applied_id(m, run_id) >= batch_id:
            return  # at-least-once replay of an already-merged batch
        mins = min_cols or []
        merged = batch_df.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
            *[F.min(c).alias(f"min_{c}") for c in mins],
        )
        paths = state_tables.live_paths(rollup_path, m)
        if paths:
            merged = (
                batch_df.sparkSession.read.parquet(*paths)
                .unionByName(merged)
                .groupBy(*key_cols)
                .agg(
                    F.sum("n_rows").alias("n_rows"),
                    *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
                    *[F.min(f"min_{c}").alias(f"min_{c}") for c in mins],
                )
            )
        state_tables.replace(rollup_path, m, merged, batch_id, run_id)

    return apply


# ---------------------------------------------- incremental SCD2 (r6)
def foreach_batch_scd2(
    table_path: str,
    key_col: str,
    state_col: str,
    time_col: str,
    tiebreak_col: str,
    run_id: str | None = None,
):
    """Incremental SCD2 (type-2 slowly-changing-dimension) table
    maintenance: per micro-batch, rebuild the validity intervals of
    ONLY the entities present in the batch — read back their current
    rows, union the new state events, re-derive
    [valid_from, valid_to) / is_current with one per-entity window,
    and commit the result as one `state_tables` segment replacing the
    previous one (the foreach_batch_rollup discipline). Entities
    untouched by the batch are carried over unchanged, so per-batch
    COMPUTE is O(touched entities' history), never an all-history
    recompute; the segment write itself rewrites the table (parquet
    has no in-place update — on a table format the commit becomes a
    MERGE on key_col touching only affected rows). Read the table
    with `state_tables.read`.

    Equivalence contract (asserted in tests): after any sequence of
    batches, the maintained table EQUALS the batch
    `scd2_user_state_history` recompute over everything streamed —
    including out-of-order arrivals WITHIN an entity, because the
    affected entity's full history re-sorts on every touch.

    Crash + replay safety and ``run_id``: same contract as
    foreach_batch_rollup (the merge itself is also replay-safe via
    dropDuplicates, so the replay skip is an optimization here, not a
    correctness requirement)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        m = state_tables.recover(table_path)
        if state_tables.applied_id(m, run_id) >= batch_id:
            return  # at-least-once replay of an already-applied batch
        merged = batch_df.select(
            key_col,
            F.col(state_col).alias("state"),
            F.col(time_col).alias("valid_from"),
            F.col(tiebreak_col).alias("__tb"),
        )
        untouched = None
        paths = state_tables.live_paths(table_path, m)
        if paths:
            current = batch_df.sparkSession.read.parquet(*paths)
            keys = merged.select(key_col).distinct()
            untouched = current.join(keys, key_col, "left_anti")
            merged = (
                current.join(keys, key_col, "semi")
                .select(key_col, "state", "valid_from", "__tb")
                .unionByName(merged)
            )
        w = Window.partitionBy(key_col).orderBy("valid_from", "__tb")
        out = merged.dropDuplicates([key_col, "valid_from", "__tb"]).select(
            key_col,
            "state",
            "valid_from",
            "__tb",
            F.lead("valid_from").over(w).alias("valid_to"),
            F.lead("valid_from").over(w).isNull().alias("is_current"),
        )
        if untouched is not None:
            out = untouched.unionByName(out)
        state_tables.replace(table_path, m, out, batch_id, run_id)

    return apply
