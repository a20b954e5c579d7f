"""pin() policy + mode-independence gates (r12, VERDICT r11 §Next #2).

The policy itself (reliable checkpoint on a cluster dir / local
checkpoint under a local master / persist-with-lineage otherwise) is
documented and A/B-justified in ingest_spark/pinning.py; these tests
pin the RESOLUTION LOGIC and that every primitive yields identical
results, so a policy regression can't silently change either the
fault posture or an answer.
"""

import os

from pyspark.sql import functions as F

from ingest_spark import pinning


def _frame(spark):
    return (
        spark.range(1000)
        .select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
    )


def test_auto_resolves_local_checkpoint_under_local_master(spark):
    df = _frame(spark)
    assert spark.sparkContext.master.startswith("local")
    assert pinning.resolve_mode(df) == "local_checkpoint"


def test_auto_resolves_reliable_checkpoint_when_dir_set(spark, tmp_path):
    df = _frame(spark)
    sc = spark.sparkContext
    assert pinning.resolve_mode(df) == "local_checkpoint"
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        # the cluster posture: fault-tolerant storage wins over every
        # other primitive, local master or not
        assert pinning.resolve_mode(df) == "reliable_checkpoint"
        pinned = pinning.pin(df)
        assert pinned.count() == 7
    finally:
        # restore the shared session (no public unset API — the
        # SparkContext field setter through py4j)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.empty()
        )
    assert pinning.resolve_mode(df) == "local_checkpoint"


def test_forced_mode_overrides_auto(spark, monkeypatch):
    df = _frame(spark)
    for mode in ("persist", "local_checkpoint", "none"):
        monkeypatch.setattr(pinning, "PIN_MODE", mode)
        assert pinning.resolve_mode(df) == mode
    monkeypatch.setattr(pinning, "PIN_MODE", "none")
    assert pinning.pin(df) is df  # unpinned passthrough


def test_every_primitive_yields_identical_results(spark, monkeypatch):
    want = {(r.k, r.s) for r in _frame(spark).collect()}
    for mode in ("persist", "local_checkpoint", "none"):
        monkeypatch.setattr(pinning, "PIN_MODE", mode)
        pinned = pinning.pin(_frame(spark))
        got = {(r.k, r.s) for r in pinned.collect()}
        assert got == want, mode
        # a pinned frame is re-usable across references
        assert pinned.count() == 7
    spark.catalog.clearCache()


def test_pin_if_big_gates_on_input_bytes(spark):
    """r16 (VERDICT r15 §Next #1): below the input-size threshold the
    frame comes back UNPINNED (the duplicate subtree is cheaper than a
    materialization round trip at bench scales); at/above it the
    normal pin policy applies; unknown size pins (fail-safe at scale).
    Results are identical either way (mode-independence is asserted
    above; the gate only picks between existing modes)."""
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "t.parquet")
        spark.range(1000).write.parquet(path)
        df = spark.read.parquet(path).groupBy((F.col("id") % 5).alias("k")).count()
        size = pinning.plan_input_bytes(df)
        assert size is not None and size > 0
        # tiny input, huge threshold: passthrough, same object
        assert pinning.pin_if_big(df, min_input_bytes=size + 1) is df
        # at/above the threshold: pinned (local master -> localCheckpoint)
        pinned = pinning.pin_if_big(df, min_input_bytes=size)
        assert pinned is not df
        assert {(r.k, r["count"]) for r in pinned.collect()} == {
            (r.k, r["count"]) for r in df.collect()
        }


def test_plan_input_bytes_counts_only_file_scans(spark, tmp_path, monkeypatch):
    """(~5 s) The size gate sums file-scan leaves only. A
    ``localCheckpoint`` leaf reports the optimizer's estimate of the
    plan it replaced, not bytes (1.3e12 for a 595 KB input was seen),
    so any non-file leaf makes the size unknown, which pins; the
    threshold is read from the environment at call time."""
    path = str(tmp_path / "t.parquet")
    spark.range(1000).write.parquet(path)
    on_disk = sum(
        os.path.getsize(os.path.join(path, n))
        for n in os.listdir(path) if not n.startswith(("_", "."))
    )
    df = spark.read.parquet(path)
    assert pinning.plan_input_bytes(df) == on_disk
    agg = df.groupBy((F.col("id") % 5).alias("k")).count()
    assert pinning.plan_input_bytes(agg) == on_disk
    pinned = df.localCheckpoint()
    assert pinning.plan_input_bytes(pinned) is None
    assert pinning.plan_input_bytes(df.join(pinned, "id")) is None
    side = spark.createDataFrame([(1, "a")], "id long, tag string")
    assert pinning.plan_input_bytes(df.join(side, "id")) is None
    # unknown size pins, whatever the threshold
    assert pinning.pin_if_big(pinned, min_input_bytes=1 << 62) is not pinned
    # the corpus side can size a plan that joins a driver-built table
    joined = df.join(side, "id")
    assert pinning.pin_if_big(joined, sized_by=df) is joined
    monkeypatch.setenv("SPARK_GRAFT_PIN_MIN_INPUT_BYTES", "0")
    assert pinning.pin_if_big(agg) is not agg
    monkeypatch.setenv("SPARK_GRAFT_PIN_MIN_INPUT_BYTES", str(on_disk + 1))
    assert pinning.pin_if_big(agg) is agg
