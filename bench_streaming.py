"""Streaming micro-bench (VERDICT r5 §Next #6): machine-record the
Structured Streaming surface's throughput so streaming regressions
become visible round-over-round like batch ones.

Pipeline under measurement — the ingest shape the engine exists for:
file-source JSON stream -> content hash -> WATERMARKED exact dedup
(`dropDuplicatesWithinWatermark`, ~11% injected duplicates) ->
watermarked tumbling-window aggregation -> checkpointed parquet sink,
driven by `Trigger.AvailableNow` (processes the whole backlog through
the real micro-batch engine, then stops).

Two chained stateful operators (dedup state + window state) in ONE
query — the hard case for the state store — plus a second
dedup-only query for the pure-dedup number.

Prints ONE JSON line:
  {"metric": "streaming_rows_per_sec", "value": N, "unit": "rows/sec",
   "rows_in": N, "batches": N, "wall_sec": s,
   "dedup_only": {"rows_per_sec": N, "wall_sec": s, "batches": N},
   "sessionize": {"rows_per_sec": N, "wall_sec": s, "batches": N},
   "files": N}

Env knobs: SPARK_GRAFT_STREAM_ROWS (default 200_000),
SPARK_GRAFT_STREAM_FILES (default 32), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def generate_input(spark, path: str, n_rows: int, n_files: int) -> int:
    """Synthesize the event backlog AS FILES (the stream source reads
    real JSON off disk, so the measurement includes source listing +
    parse). ~11% duplicate event_ids via pmod(id*7, ...) collisions,
    event times spread over 6 hours so multiple windows stay open."""
    df = (
        spark.range(n_rows)
        .select(
            F.pmod(F.col("id") * 7, F.lit(int(n_rows * 0.9))).alias("event_id"),
            F.pmod(F.col("id"), F.lit(50_000)).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
            ).alias("event_type"),
            (
                F.lit("2024-03-01 00:00:00").cast("timestamp")
                + F.make_interval(secs=F.pmod(F.col("id") * 13, F.lit(21600)))
            ).alias("ts"),
            (F.pmod(F.col("id"), F.lit(1000)) / 10.0).alias("value"),
        )
        .repartition(n_files)
    )
    df.write.mode("overwrite").json(path)
    return n_rows


def run_pipeline(spark, src: str, workdir: str) -> dict:
    """The measured query: hash -> watermarked dedup -> windowed agg
    -> parquet, one checkpointed AvailableNow run over the backlog."""
    from ingest_spark.streaming.pipeline import ingest_transform, read_file_stream

    stream = read_file_stream(spark, src, EVENT_SCHEMA, fmt="json")
    deduped = ingest_transform(
        stream, ["event_id", "event_type"], "ts", watermark="3 hours"
    )
    # chained stateful op #2: the window agg REUSES the dedup's
    # watermark (redefining it downstream of a stateful operator is
    # disallowed), same rollup shape as windowed_event_counts
    agg = (
        deduped.groupBy(F.window("ts", "15 minutes").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
    t0 = time.perf_counter()
    q = (
        agg.writeStream.format("parquet")
        .option("path", f"{workdir}/out")
        .option("checkpointLocation", f"{workdir}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    batches = len(q.recentProgress)
    return {"wall_sec": round(wall, 3), "batches": batches}


def run_dedup_only(spark, src: str, workdir: str) -> dict:
    """Single-stateful-op variant: hash + watermarked dedup straight
    to parquet (every surviving row written — the ingest path), run
    through ``run_ingest_pipeline`` itself, so the drain has no
    zero-row trailing micro-batch."""
    from ingest_spark.streaming.pipeline import run_ingest_pipeline

    t0 = time.perf_counter()
    q = run_ingest_pipeline(
        spark, src, EVENT_SCHEMA, f"{workdir}/out2", f"{workdir}/ckpt2",
        ["event_id", "event_type"], "ts", watermark="3 hours",
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    return {"wall_sec": round(wall, 3), "batches": len(q.recentProgress)}


def run_sessionize(spark, src: str, workdir: str) -> dict:
    """Python-state regime: applyInPandasWithState gap sessionization
    — per-user state tuples carried across micro-batches through the
    Arrow boundary. Two deliberate choices (both measured the hard
    way): idle_timeout=False because processing-time timers make an
    AvailableNow drain spin no-data batches forever (see
    sessionize_stream docstring), and keys bounded to 2k because the
    operator pays a Python invocation PER KEY PER BATCH — 50k keys is
    a per-key-overhead measurement, not a throughput one."""
    from pyspark.sql import functions as F

    from ingest_spark.streaming.pipeline import (
        read_file_stream,
        sessionize_stream,
    )

    stream = read_file_stream(spark, src, EVENT_SCHEMA, fmt="json").withColumn(
        "user_id", F.pmod("user_id", F.lit(2000))
    )
    sessions = sessionize_stream(stream, gap_minutes=30, idle_timeout=False)
    t0 = time.perf_counter()
    q = (
        sessions.writeStream.format("parquet")
        .option("path", f"{workdir}/out3")
        .option("checkpointLocation", f"{workdir}/ckpt3")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0
    return {"wall_sec": round(wall, 3), "batches": len(q.recentProgress)}


def main() -> None:
    n_rows = int(os.environ.get("SPARK_GRAFT_STREAM_ROWS", "200000"))
    n_files = int(os.environ.get("SPARK_GRAFT_STREAM_FILES", "32"))
    from ingest_spark.session import get_spark

    spark = get_spark("ingest-spark-stream-bench")
    workdir = tempfile.mkdtemp(prefix="stream_bench_")
    try:
        src = f"{workdir}/events_json"
        generate_input(spark, src, n_rows, n_files)
        main_run = run_pipeline(spark, src, workdir)
        dedup_run = run_dedup_only(spark, src, workdir)
        sess_run = run_sessionize(spark, src, workdir)
        print(
            json.dumps(
                {
                    "metric": "streaming_rows_per_sec",
                    "value": round(n_rows / main_run["wall_sec"], 1),
                    "unit": "rows/sec",
                    "rows_in": n_rows,
                    "batches": main_run["batches"],
                    "wall_sec": main_run["wall_sec"],
                    "dedup_only": {
                        "rows_per_sec": round(n_rows / dedup_run["wall_sec"], 1),
                        "wall_sec": dedup_run["wall_sec"],
                        "batches": dedup_run["batches"],
                    },
                    "sessionize": {
                        "rows_per_sec": round(n_rows / sess_run["wall_sec"], 1),
                        "wall_sec": sess_run["wall_sec"],
                        "batches": sess_run["batches"],
                    },
                    "files": n_files,
                }
            )
        )
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
