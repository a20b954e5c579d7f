"""record_ingest: the reference's own ingestion path.

Settlement records arrive as JSON files in two drops. Each drop is
drained by ``streaming.pipeline.run_ingest_pipeline`` against one
checkpoint (file source -> content hash -> watermarked dedup ->
date-partitioned parquet sink). The deduplicated sink is then encoded
with ``schemas.avro_binary.encode_df(schema_id=...)`` and decoded again
with ``decode_df(confluent=True)``. No corpus state, no registry query.
"""

from __future__ import annotations

import os
import shutil
import time

import checks
import gen
from common import log, median_dict, rounds, start_session

N_DROPS = 2
HOURS_PER_DROP = 400  # x 4 price areas = 1,600 distinct records a drop
DUP_RATE = 0.12
FILES_PER_DROP = 4
SCHEMA_ID = 7
ROUND_S = 8.0  # nominal length of one round on a 4-core box
# The first timed round still runs about 10% slower than the next ones;
# the median of three rounds is one of the warm ones.
MIN_ROUNDS = 3
# the per-layer metrics' layers this workload calls; the others read 0
LAYERS = ("session", "stream", "avro")


def _contract():
    from ingest_spark.schemas.contracts import CONTRACTS

    return CONTRACTS["ProductionConsumptionSettlement"]


def _stream_schema():
    """The contract's StructType with HourUTC read as the event-time
    timestamp the watermark needs."""
    from pyspark.sql import types as T

    from ingest_spark.schemas.contracts import contract_schema

    return T.StructType(
        [
            T.StructField(f.name, T.TimestampType(), True) if f.name == "HourUTC" else f
            for f in contract_schema("ProductionConsumptionSettlement").fields
        ]
    )


def _one_round(spark, tracer, store, root, schema, contract) -> dict:
    """Ingest every drop into a fresh checkpoint and sink, then encode
    and decode the sink. Returns the round's timings and counters."""
    from pyspark.sql import functions as F

    from ingest_spark.schemas.avro_binary import decode_df, encode_df
    from ingest_spark.streaming.pipeline import run_ingest_pipeline

    src, sink, ckpt = (os.path.join(root, n) for n in ("src", "sink", "ckpt"))
    os.makedirs(src)
    ingest_s, progress = [], []
    for d in range(N_DROPS):
        for name in sorted(os.listdir(os.path.join(store, f"d{d}"))):
            os.link(os.path.join(store, f"d{d}", name), os.path.join(src, name))
        with tracer.span("stream.drop") as s:
            q = run_ingest_pipeline(
                spark, src, schema, sink, ckpt,
                hash_cols=list(gen.SETTLEMENT_FIELDS), event_time_col="HourUTC",
                watermark="1 day",
            )
            q.awaitTermination()
        ingest_s.append(s.seconds)
        progress.extend(q.recentProgress)
    names = [f["name"] for f in contract["fields"]]
    enc_in = spark.read.parquet(sink).select(
        *[
            F.date_format("HourUTC", "yyyy-MM-dd'T'HH:mm:ss").alias(n) if n == "HourUTC"
            else F.col(n)
            for n in names
        ]
    )
    with tracer.span("avro.encode") as enc:
        encode_df(enc_in, contract, schema_id=SCHEMA_ID).write.mode("overwrite").parquet(
            os.path.join(root, "encoded")
        )
    encoded = spark.read.parquet(os.path.join(root, "encoded"))
    with tracer.span("avro.decode") as dec:
        decode_df(encoded, contract, confluent=True).write.parquet(os.path.join(root, "decoded"))
    return {
        "round_s": sum(ingest_s) + enc.seconds + dec.seconds,
        "sink_bytes": float(checks.data_bytes(sink)),
        "stream.drain_s": sum(ingest_s),
        **_stream_counters(progress), **_avro_counters(tracer, enc, dec),
    }


def _stream_counters(progress) -> dict:
    def dur(p, *keys):
        return sum(float(p.durationMs.get(k, 0)) for k in keys)

    ops = [p.stateOperators[0] for p in progress if p.stateOperators]
    return {
        "stream.micro_batches": float(sum(1 for p in progress if p.numInputRows > 0)),
        "stream.trigger_ms": sum(dur(p, "triggerExecution") for p in progress),
        "stream.add_batch_ms": sum(dur(p, "addBatch") for p in progress),
        "stream.plan_ms": sum(
            dur(p, "latestOffset", "getBatch", "queryPlanning") for p in progress
        ),
        "stream.commit_ms": sum(dur(p, "walCommit", "commitOffsets") for p in progress),
        "stream.state_rows": float(ops[-1].numRowsTotal) if ops else 0.0,
        "stream.state_bytes": float(ops[-1].memoryUsedBytes) if ops else 0.0,
        "stream.rows_dropped": float(sum(o.numRowsDroppedByWatermark for o in ops)),
    }


def _avro_counters(tracer, enc, dec) -> dict:
    if not tracer.enabled:
        return {}
    return {
        "avro.encode_s": enc.seconds,
        "avro.decode_s": dec.seconds,
        "avro.python_worker_cpu_s": enc.counters["python_worker_cpu_s"]
        + dec.counters["python_worker_cpu_s"],
        "avro.jvm_cpu_s": enc.counters["jvm_cpu_s"] + dec.counters["jvm_cpu_s"],
    }


def run(seed, seconds, cores, work, tracer, out, t_start) -> None:
    t_gen = time.monotonic()
    drops = gen.settlement_drops(seed, N_DROPS, HOURS_PER_DROP, DUP_RATE)
    store = os.path.join(work, "drops")
    for d, rows in enumerate(drops):
        gen.write_json_drop(rows, os.path.join(store, f"d{d}"), d, FILES_PER_DROP)
    distinct = {checks.record_key(r): r for rows in drops for r in rows}
    n_distinct = len(distinct)
    gen_s = time.monotonic() - t_gen

    spark, session_s = start_session("perfbench-record-ingest", cores, work, tracer)
    schema, contract = _stream_schema(), _contract()
    # warm-up: one whole round; its outputs are the ones checked below
    _one_round(spark, tracer, store, os.path.join(work, "warm"), schema, contract)
    # setup_s: from the process's start through the warm-up, less the
    # generation of the benchmark's own inputs
    setup_s = time.monotonic() - t_start - gen_s
    log(f"gen {gen_s:.2f} session {session_s:.2f} setup {setup_s:.2f}")

    per_round = []
    for r in rounds(seconds, ROUND_S, MIN_ROUNDS):
        root = os.path.join(work, f"r{r}")
        per_round.append(_one_round(spark, tracer, store, root, schema, contract))
        log(f"round {r} {per_round[-1]}")
        out.op(N_DROPS + 2)
        shutil.rmtree(root, ignore_errors=True)

    # checks on the warm-up round's outputs, outside every timed region
    first = os.path.join(work, "warm")
    sink_rows = checks.read_sink(os.path.join(first, "sink"))
    out.check("sink_distinct", checks.sink_matches(sink_rows, list(distinct.values())))
    values = [r["value"] for r in checks.read_rows(os.path.join(first, "encoded"), ["value"])]
    out.check(
        "avro_framing",
        checks.confluent_values_match(values, SCHEMA_ID, contract, list(distinct.values())),
    )
    decoded = checks.read_rows(os.path.join(first, "decoded"), list(gen.SETTLEMENT_FIELDS))
    out.check("avro_roundtrip", checks.roundtrip_matches(decoded, sink_rows))

    med = median_dict(per_round)
    if not tracer.enabled:
        out.metric("setup_s", setup_s, "s")
        out.metric("round_s", med["round_s"], "s")
        out.metric("stored_bytes_per_row", med["sink_bytes"] / n_distinct, "bytes/row")
        return
    out.metric("session.start_s", session_s, "s")
    for k, unit in (
        ("stream.drain_s", "s"), ("stream.micro_batches", "count"), ("stream.trigger_ms", "ms"),
        ("stream.add_batch_ms", "ms"), ("stream.plan_ms", "ms"),
        ("stream.commit_ms", "ms"), ("stream.state_rows", "rows"),
        ("stream.state_bytes", "bytes"), ("stream.rows_dropped", "rows"),
        ("avro.encode_s", "s"), ("avro.decode_s", "s"),
        ("avro.python_worker_cpu_s", "s"), ("avro.jvm_cpu_s", "s"),
    ):
        out.metric(k, med[k], unit)
    out.metric("avro.encoded_bytes", float(sum(len(v) for v in values)), "bytes")
