"""Persist-and-resume incremental ingestion walkthrough
(VERDICT r6 §Next #1): batch 1 persists signature/bloom/novelty state,
later batches load it and dedup/score WITHOUT re-signing the corpus.
The gate: incremental decisions == the from-scratch computation over
everything kept so far, state sizes stay bounded, replays are no-ops.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from ingest_spark import incremental
from ingest_spark.operators import dedup


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


SEED = [
    (0, "the quick brown fox jumps over the lazy dog today"),
    (1, "completely different words about distributed query engines"),
    (2, "spark catalyst optimizer rewrites declarative plans well"),
]
BATCH1 = [
    (10, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 0
    (11, "the quick brown fox jumps over the lazy dog tonight"),  # near dup of 0
    (12, "entirely novel content about bloom filters and banding"),
]
BATCH2 = [
    (20, "entirely novel content about bloom filters and banding"),  # exact dup of KEPT 12
    (21, "the quick brown fox jumps over the lazy dog today"),  # exact dup of seed 0
    (22, "fresh sentences mentioning catalyst optimizer rewrites plans"),  # partial gram overlap
]


def _from_scratch(spark, existing_rows, new_rows):
    """Oracle: the same decisions computed with full data in hand —
    exact via content hash, near via the SAME LSH banding over the
    union (cross-side pairs only), novelty via string-gram anti-join."""
    ex = _corpus(spark, existing_rows)
    new = _corpus(spark, new_rows)
    exact_ids = {
        r.doc_id
        for r in new.select("doc_id", F.sha2("text", 256).alias("h"))
        .join(ex.select(F.sha2("text", 256).alias("h")).distinct(), "h")
        .collect()
    }
    both = ex.withColumn("__new", F.lit(False)).unionByName(
        new.withColumn("__new", F.lit(True))
    )
    pairs = dedup.minhash_lsh_candidates(
        both, "doc_id", "text",
        incremental.NUM_HASHES, incremental.BANDS, incremental.SHINGLE_N,
    )
    sides = both.select("doc_id", "__new")
    tagged = (
        pairs.join(
            sides.withColumnRenamed("doc_id", "id_a").withColumnRenamed("__new", "__na"),
            "id_a",
        ).join(
            sides.withColumnRenamed("doc_id", "id_b").withColumnRenamed("__new", "__nb"),
            "id_b",
        ).filter(F.col("__na") != F.col("__nb"))
    )
    near_ids = {
        r.doc_id
        for r in tagged.select(
            F.when(F.col("__na"), F.col("id_a")).otherwise(F.col("id_b")).alias("doc_id")
        ).collect()
    }
    old_grams = (
        ex.select(F.explode(dedup.shingles("text", incremental.SHINGLE_N)).alias("g"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    nov = {
        r.doc_id: (r.n, r.novel)
        for r in new.select(
            "doc_id", F.explode(dedup.shingles("text", incremental.SHINGLE_N)).alias("g")
        )
        .join(old_grams, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("__seen").isNull().cast("long")).alias("novel"),
        )
        .collect()
    }
    return {
        r.doc_id: (
            r.doc_id in exact_ids,
            r.doc_id in near_ids,
            nov[r.doc_id][0],
            nov[r.doc_id][1],
        )
        for r in new.select("doc_id").collect()
    }


def _decisions_dict(df):
    return {
        r.doc_id: (r.is_exact_dup, r.is_near_dup, r.n_grams, r.n_novel)
        for r in df.collect()
    }


def _sizes(spark, state):
    return {t: incremental.read_state(spark, state, t).count() for t in incremental._TABLES}


def _sizes_recount(spark, kept_rows):
    """Each table's row count recomputed from the kept corpus itself:
    distinct hashes, (bucket, doc) pairs, bloom bits and gram keys."""
    proj = incremental._project(_corpus(spark, kept_rows), "doc_id", "text")
    return {
        "hashes": proj.select("h").distinct().count(),
        "bands": incremental._band_rows(proj).distinct().count(),
        "bloom": proj.select(
            F.explode(dedup._bloom_positions("h", incremental.BLOOM_M, incremental.BLOOM_K))
        ).distinct().count(),
        "novelty": incremental._gram_rows(proj).select("gk").distinct().count(),
    }


def _assert_only_live_visible(state):
    """Every non-hidden entry of a table dir is a live segment: what a
    directory listing (pyarrow, perfbench's row counts) sees is the
    state."""
    for t in incremental._TABLES:
        table = os.path.join(state, t)
        live = {name for name, _ in incremental._manifest(table)["segments"]}
        visible = {n for n in os.listdir(table) if not n.startswith(("_", "."))}
        assert visible == live, (t, visible, live)


def test_walkthrough_matches_from_scratch_across_batches(spark, tmp_path):
    """Two committed batches after a seed corpus: every batch's
    incremental decisions must equal the from-scratch recompute where
    'existing' = seed + previously KEPT docs (dropped docs never
    enter state)."""
    state = str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)

    d1 = incremental.ingest_batch(spark, _corpus(spark, BATCH1), state)
    assert _decisions_dict(d1) == _from_scratch(spark, SEED, BATCH1)
    kept1 = [r for r in BATCH1 if _decisions_dict(d1)[r[0]][:2] == (False, False)]
    assert [r[0] for r in kept1] == [12]  # 10 exact, 11 near, 12 kept
    incremental.commit_batch(_corpus(spark, BATCH1), d1, state, batch_id=1)

    d2 = incremental.ingest_batch(spark, _corpus(spark, BATCH2), state)
    # existing side for the oracle = seed + kept batch-1 docs
    assert _decisions_dict(d2) == _from_scratch(spark, SEED + kept1, BATCH2)
    got2 = _decisions_dict(d2)
    assert got2[20][:2] == (True, True)  # dup of a doc KEPT from batch 1
    assert got2[21][0] is True  # still a dup of the seed corpus
    assert got2[22][:2] == (False, False)
    # novelty fraction: doc 22 shares some grams with the seed corpus
    row22 = {r.doc_id: r for r in d2.collect()}[22]
    assert 0 < row22.novel_frac_c < 10000


def test_commit_replay_is_noop_and_state_bounded(spark, tmp_path):
    """Replaying a committed batch_id must not grow any state table
    (the maintainer's marker skips it); state sizes match their
    documented bounds."""
    state = str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)
    b1 = _corpus(spark, BATCH1)
    d1 = incremental.ingest_batch(spark, b1, state)
    incremental.commit_batch(b1, d1, state, batch_id=1)

    before = _sizes(spark, state)
    incremental.commit_batch(b1, d1, state, batch_id=1)  # at-least-once replay
    assert _sizes(spark, state) == before

    kept_docs = 3 + 1  # seed + doc 12
    assert before["hashes"] == kept_docs  # distinct content hashes
    assert before["bands"] == kept_docs * incremental.BANDS
    assert before["bloom"] <= kept_docs * incremental.BLOOM_K  # <= m always
    # novelty = distinct grams of kept corpus (positive, not per-batch)
    assert before["novelty"] > 0


def test_ingest_and_commit_resumes_mid_commit_crash(spark, tmp_path, monkeypatch):
    """Crash between tables (~20 s): the commit dies after some tables
    published their batch-1 segment and before the others did.
    ingest_and_commit must REUSE the persisted decision frame (not
    rescore against half-mutated state, which would see the batch's
    own docs as duplicates) and bring every table to exactly-once."""
    state = str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)
    b1 = _corpus(spark, BATCH1)
    d1 = _decisions_dict(incremental.ingest_batch(spark, b1, state))

    # the kill: novelty's writer dies after writing and renaming its
    # segment but before publishing it, while the other three tables
    # publish theirs
    real = incremental._publish

    def dying_publish(table_path, applied, segments):
        if applied == 1 and table_path.endswith("novelty"):
            raise RuntimeError("killed before publish")
        real(table_path, applied, segments)

    monkeypatch.setattr(incremental, "_publish", dying_publish)
    with pytest.raises(RuntimeError, match="killed"):
        incremental.ingest_and_commit(spark, b1, state, batch_id=1)
    monkeypatch.setattr(incremental, "_publish", real)
    applied = {
        t: incremental._manifest(os.path.join(state, t))["applied"]
        for t in incremental._TABLES
    }
    assert applied == {"hashes": 1, "bands": 1, "bloom": 1, "novelty": 0}
    # the dead writer's renamed-but-unpublished segment is not live
    assert _sizes(spark, state)["novelty"] == _sizes_recount(spark, SEED)["novelty"]

    # ...resume:
    out = incremental.ingest_and_commit(spark, b1, state, batch_id=1)
    assert _decisions_dict(out) == d1
    sizes = _sizes(spark, state)
    kept_docs = 3 + 1
    assert sizes["hashes"] == kept_docs
    assert sizes["bands"] == kept_docs * incremental.BANDS
    assert sizes == _sizes_recount(spark, SEED + [BATCH1[2]])
    _assert_only_live_visible(state)
    # a second full replay changes nothing anywhere
    incremental.ingest_and_commit(spark, b1, state, batch_id=1)
    assert sizes == _sizes(spark, state)


def test_quality_artifact_trains_once_scores_later(spark, tmp_path):
    """init_state persists classifier weights; a later batch gets
    quality columns WITHOUT retraining (weights load from the
    artifact; deleting the label column from the batch proves no
    training happens at ingest time)."""
    state = str(tmp_path / "state")
    # big enough that the trainer's hash-slice sample is non-empty
    seed_rows = [
        (i, ("good clean useful prose " if i % 2 else "spam junk noise ") * 4)
        for i in range(40)
    ]
    seed = _corpus(spark, seed_rows).withColumn(
        "label", F.col("doc_id") % 2 == 1
    )
    incremental.init_state(spark, seed, state, train_quality_on="label")
    out = incremental.ingest_batch(spark, _corpus(spark, BATCH1), state)
    cols = set(out.columns)
    assert {"quality_prob", "keep_quality"} <= cols
    rows = out.collect()
    assert all(r.quality_prob is not None for r in rows)


def test_streaming_ingest_sink_kill_resume(spark, tmp_path):
    """VERDICT r7 §Next #4: the score-then-commit unit under a REAL
    StreamingQuery. A file-source stream feeds foreachBatch ->
    streaming_ingest_sink; the query is stopped after the first batch
    (the kill), more data lands, and a restart on the SAME checkpoint
    resumes. Gate: decisions + final state equal the batch-driven
    ingest_and_commit run over the same batches; a rerun with no new
    files and a direct at-least-once replay of the sink are no-ops."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state_s = str(tmp_path / "state_stream")
    state_b = str(tmp_path / "state_batch")
    schema = "doc_id long, text string"

    incremental.init_state(spark, _corpus(spark, SEED), state_s)
    incremental.init_state(spark, _corpus(spark, SEED), state_b)

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .writeStream.foreachBatch(incremental.streaming_ingest_sink(state_s))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    # phase 1: one source file -> streaming batch 0 -> ingest id 1
    _corpus(spark, BATCH1).coalesce(1).write.mode("append").json(str(src))
    run_stream()  # availableNow drains and stops: the "kill" point
    assert os.path.exists(os.path.join(state_s, "decisions-1", "_SUCCESS"))

    # phase 2: second file lands; resume on the SAME checkpoint ->
    # streaming batch 1 -> ingest id 2
    _corpus(spark, BATCH2).coalesce(1).write.mode("append").json(str(src))
    run_stream()
    assert os.path.exists(os.path.join(state_s, "decisions-2", "_SUCCESS"))

    # batch-driven reference over the same batches
    d1 = incremental.ingest_and_commit(spark, _corpus(spark, BATCH1), state_b, 1)
    d2 = incremental.ingest_and_commit(spark, _corpus(spark, BATCH2), state_b, 2)
    for bid, ref in ((1, d1), (2, d2)):
        got = _decisions_dict(
            spark.read.parquet(os.path.join(state_s, f"decisions-{bid}"))
        )
        assert got == _decisions_dict(ref), f"batch {bid} decisions diverge"

    def _state_sets(state):
        return {
            t: {tuple(r) for r in incremental.read_state(spark, state, t).collect()}
            for t in incremental._TABLES
        }

    assert _state_sets(state_s) == _state_sets(state_b)

    # rerun with no new files: no batch fires, nothing changes
    before = _state_sets(state_s)
    run_stream()
    assert _state_sets(state_s) == before

    # at-least-once replay straight into the sink (streaming id 1 ->
    # ingest id 2, already committed): marker-guarded no-op
    incremental.streaming_ingest_sink(state_s)(_corpus(spark, BATCH2), 1)
    assert _state_sets(state_s) == before


def test_batch_id_zero_rejected(spark, tmp_path):
    """r7 ADVICE: init_state owns batch 0 — a commit under id 0 would
    be silently skipped by the seed's marker, so it must raise."""
    import pytest

    state = str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)
    b1 = _corpus(spark, BATCH1)
    d1 = incremental.ingest_batch(spark, b1, state)
    with pytest.raises(ValueError, match="batch_id"):
        incremental.commit_batch(b1, d1, state, batch_id=0)
    with pytest.raises(ValueError, match="batch_id"):
        incremental.ingest_and_commit(spark, b1, state, batch_id=0)


def test_walkthrough_on_uri_path(spark, tmp_path):
    """SCALING.md §9 end-to-end (~18 s): the init/ingest/commit
    walkthrough on a scheme-qualified ``file://`` state dir, where
    every manifest read, flip, rename, listing and delete goes through
    the Hadoop FileSystem API (the object-store path). Decisions match
    the plain-path walkthrough's, the state counts match a recount of
    the kept corpus, and a replay is a no-op."""
    state = "file://" + str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)
    d1 = _decisions_dict(
        incremental.ingest_and_commit(spark, _corpus(spark, BATCH1), state, 1)
    )
    d2 = _decisions_dict(
        incremental.ingest_and_commit(spark, _corpus(spark, BATCH2), state, 2)
    )
    assert {i: v[:2] for i, v in d1.items()} == {
        10: (True, True), 11: (False, True), 12: (False, False),
    }
    assert {i: v[:2] for i, v in d2.items()} == {
        20: (True, True), 21: (True, True), 22: (False, False),
    }
    want = _sizes_recount(spark, SEED + [BATCH1[2], BATCH2[2]])
    assert _sizes(spark, state) == want
    incremental.ingest_and_commit(spark, _corpus(spark, BATCH2), state, 2)
    assert _sizes(spark, state) == want
    _assert_only_live_visible(str(tmp_path / "state"))


def test_leftovers_of_crashed_writes_are_ignored_and_recovered(spark, tmp_path):
    """(~20 s) A leftover ``_staging`` dir, a compaction output renamed
    but never published, and the inputs of a compaction that published
    but died before deleting them: readers see none of them, and the
    next commit deletes them and leaves the listing equal to the live
    set, with exact counts."""
    import shutil

    state = str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)
    want = _sizes(spark, state)
    for t in incremental._TABLES:
        table = os.path.join(state, t)
        (live,) = incremental._manifest(table)["segments"]
        seg = os.path.join(table, live[0])
        # a crashed segment write and a crashed compaction's output
        shutil.copytree(seg, os.path.join(table, "_staging-000001"))
        shutil.copytree(seg, os.path.join(table, "seg-000001-m0"))
        # a published compaction whose input was never deleted: the
        # manifest names only the merged copy
        shutil.copytree(seg, os.path.join(table, "seg-000000-m0"))
        incremental._publish(table, 0, [["seg-000000-m0", live[1]]])
    assert _sizes(spark, state) == want
    d1 = incremental.ingest_batch(spark, _corpus(spark, BATCH1), state)
    assert _decisions_dict(d1) == _from_scratch(spark, SEED, BATCH1)
    incremental.commit_batch(_corpus(spark, BATCH1), d1, state, batch_id=1)
    _assert_only_live_visible(state)
    assert _sizes(spark, state) == _sizes_recount(spark, SEED + [BATCH1[2]])


def test_compacted_state_scores_identically(spark, tmp_path, monkeypatch):
    """(~25 s) Compaction merges segments of one size tier; the
    compacted state must score every probe doc byte-identically to the
    uncompacted one, and a commit that compacts keeps the counts
    exact. Fanout 2 makes the tiny fixture's segments merge."""
    import shutil

    state = str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)
    incremental.ingest_and_commit(spark, _corpus(spark, BATCH1), state, 1)
    probe = _corpus(spark, BATCH2 + [(23, SEED[1][1])])

    def scored(st):
        return sorted(tuple(r) for r in incremental.ingest_batch(spark, probe, st).collect())

    before = scored(state)
    assert {t: len(incremental.segment_paths(state, t)) for t in ("hashes", "bands")} == {
        "hashes": 2, "bands": 2,
    }
    compacted = str(tmp_path / "compacted")
    shutil.copytree(state, compacted)
    monkeypatch.setattr(incremental, "_FANOUT", 2)
    for t in incremental._TABLES:
        table = os.path.join(compacted, t)
        incremental._compact(spark, table, incremental._manifest(table))
    n_segs = {t: len(incremental.segment_paths(compacted, t)) for t in incremental._TABLES}
    assert n_segs["hashes"] == n_segs["bands"] == 1, n_segs
    assert scored(compacted) == before
    _assert_only_live_visible(compacted)
    # compaction inside a commit: counts stay exact
    incremental.ingest_and_commit(spark, _corpus(spark, BATCH2), compacted, 2)
    kept = SEED + [BATCH1[2], BATCH2[2]]
    assert _sizes(spark, compacted) == _sizes_recount(spark, kept)
    _assert_only_live_visible(compacted)


def test_exact_dup_flagged_when_bloom_bits_repeat(spark, tmp_path):
    """(~12 s) The bloom prefilter counts joined rows against hits, so
    a bit stored twice (two segments sharing it) must not turn a
    stored exact duplicate into a miss."""
    import shutil

    state = str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)
    table = os.path.join(state, "bloom")
    (seg,) = incremental._manifest(table)["segments"]
    shutil.copytree(os.path.join(table, seg[0]), os.path.join(table, "seg-000000-copy"))
    incremental._publish(table, 0, [seg, ["seg-000000-copy", seg[1]]])
    bits = incremental.read_state(spark, state, "bloom")
    assert bits.count() == 2 * bits.distinct().count()
    got = _decisions_dict(incremental.ingest_batch(spark, _corpus(spark, BATCH1), state))
    assert got == _from_scratch(spark, SEED, BATCH1)
    assert got[10][0] is True


def test_signature_mismatch_fails_loudly(spark, tmp_path):
    """r9: the signature constants travel with the state. A state dir
    built under different NUM_HASHES/BANDS (or one missing the
    artifact entirely — a pre-widening dir) must make ingest_batch
    raise, not silently miss every near-dup because the band bucket
    strings never match."""
    import shutil

    import pytest as _pytest

    from ingest_spark import artifacts

    state = str(tmp_path / "state")
    incremental.init_state(spark, _corpus(spark, SEED), state)

    # sanity: matching constants score fine
    incremental.ingest_batch(spark, _corpus(spark, BATCH1), state).collect()

    # wrong constants recorded in the state -> loud mismatch
    artifacts.save_artifact(
        spark, f"{state}/signature", "signature_params",
        {"num_hashes": 4, "bands": 2, "shingle_n": 3,
         "bloom_m": incremental.BLOOM_M, "bloom_k": incremental.BLOOM_K},
    )
    with _pytest.raises(RuntimeError, match="signature mismatch"):
        incremental.ingest_batch(spark, _corpus(spark, BATCH1), state)

    # no artifact at all (pre-r9 state dir) -> loud refusal
    shutil.rmtree(f"{state}/signature")
    with _pytest.raises(RuntimeError, match="no readable signature artifact"):
        incremental.ingest_batch(spark, _corpus(spark, BATCH1), state)


def test_query_literals_match_module_constants():
    """r9 review: incremental_dedup_new / incremental_ingest_e2e
    promise 'the same LSH as ingest_spark.incremental' but carry the
    constants as literals (importing the streaming stack into
    queries.py would be a cycle). Pin them: a retuning of
    NUM_HASHES/BANDS that skips the queries fails here instead of
    leaving the e2e benchmark silently on stale constants (the
    oracle would keep matching — both sides stale)."""
    import re

    from ingest_spark.queries import ORACLES
    from ingest_spark.queries import incremental_dedup_new as dn

    import inspect

    nh, nb = incremental.NUM_HASHES, incremental.BANDS
    # Spark bodies: the literal call inside each function's source
    src = inspect.getsource(dn)
    assert f"num_hashes={nh}, bands={nb}" in src, (nh, nb)
    # Oracles: the signature CTE has columns m0..m{nh-1} and the band
    # union has exactly nb SELECTs
    for name in ("incremental_dedup_new", "incremental_ingest_e2e"):
        sql = ORACLES[name]
        assert f"m{nh - 1}" in sql and f"m{nh}" not in sql, name
        bands = re.findall(r"'\d+:' \|\|", sql)
        assert len(bands) == nb, (name, bands)
