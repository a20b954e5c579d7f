"""Persist-and-resume incremental ingestion (VERDICT r6 §Next #1).

The executable continuous-ingestion story the per-operator incremental
forms add up to — the reference's whole reason to exist
(fetch_data_energinet.py:139-186: incremental fetch + Redis membership
state), re-expressed as corpus state ON THE DATA PLANE: batch 1
persists signatures/bits/novelty state under one state dir, batch 2
loads them and dedups/scores against them WITHOUT re-signing the
corpus. Everything ever claimed incrementally by SCALING §8 runs
through here as one tested walkthrough.

State layout (``state_dir/``). Each of the four probe tables is a
set of immutable SEGMENTS: one parquet directory per committed batch
holding only that batch's NEW keys, and only the key columns.

    hashes/   h = content sha256                -> exact-dup probe set
    bands/    (bucket = LSH band bucket, doc_id) -> near-dup probe table
    bloom/    pos = bloom bit position          -> <= m rows FOREVER,
              broadcastable prefilter that spares the hashes join for
              the (typical) mostly-novel batch
    novelty/  gk = hash128(gram) struct         -> per-doc novelty
              fraction for new batches (a gram is novel iff absent)
    quality/  classifier weights via artifacts.save_artifact — train
              once on the seed corpus, score every future batch
    signature/ the NUM_HASHES/BANDS/SHINGLE_N/bloom constants the
              state was built with — validated by ingest_batch so a
              build with different constants fails LOUDLY instead of
              silently missing every duplicate (r9)

Each table is a `state_tables` table: ``seg-*`` directories listed by
a ``_SEGMENTS`` manifest, published by one atomic manifest flip and
recovered by the next call that touches the table; that module's
docstring has the layout, the commit steps and the recovery rules.
Here every batch APPENDS one segment per table (``seg-<batch_id>``),
and readers read the manifest's segment paths (`read_state`), never a
table root.

Keys never repeat across a table's segments, so every probe is a pure
existence test and no count inflates: a kept doc's hash is not in
``hashes`` (else it was an exact dup) and none of its buckets is in
``bands`` (else it was a near dup); ``bloom`` and ``novelty`` segments
are anti-joined against the stored keys at commit. Within a batch the
keys are made distinct.

Compaction: after publishing, segments of one size tier (floor of
log4 of the row count) are merged once ``_FANOUT`` of them exist —
a plain read-and-rewrite, no shuffle — and swapped in by the same
manifest flip. Each row is rewritten O(log batches) times in all, and
a table keeps at most ``_FANOUT - 1`` segments per tier.

Per-batch cost. Scoring: one signature/shingle pass over the NEW
batch plus joins against the stored tables (bands/novelty are
key-partitioned joins; bloom broadcasts; hashes is an equi-join on
the bloom survivors). Committing: one projection of the kept docs
(doc_id, sha256, shingles), checkpointed once, then four independent
segment writes run concurrently — O(batch), apart from the bloom
anti-join (<= m broadcast rows), the novelty anti-join (one read of
the stored gram keys, cheaper than letting repeats in and
deduplicating the stored keys at every score) and amortized
compaction. No commit reads or rewrites the stored ``hashes`` or
``bands`` rows, and nothing re-signs history — the 100 TB property.
State growth: hashes/bands/novelty grow with the KEPT corpus (its
distinct hashes/docs/grams), bloom is capped at m rows, quality is one
row.

Scoring vs committing are separate calls: `ingest_batch` is pure
(returns the per-doc decision frame), `commit_batch` folds ONLY the
kept docs into state under the batch's id — at-least-once replays of
a committed batch are skipped by each table's manifest, so the
score-then-commit pair can sit directly inside a foreachBatch sink.

Scope note: dedup here is CROSS-corpus only (new vs existing), the
`incremental_dedup_new` contract. Within-batch duplicates both
survive scoring; run `dedup.exact_dedup` on the batch first if
within-batch collapse is wanted — documented, not hidden.
"""

from __future__ import annotations

import os

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingest_spark import artifacts, state_tables
from ingest_spark.operators import classifier, dedup

# LSH/banding/bloom knobs — module-level so every batch of a corpus
# uses one consistent signature definition (a mismatch would silently
# miss duplicates; persisting them with the state is the production
# move, see init_state's artifact). 16 hashes / 4 bands = 4 rows per
# band (r9): the 4h/2b default saturated past ~100k docs — random
# band collisions add a quadratic candidate term (BASELINE.md
# signature-widening study: 3.49M vs 1,933 pairs at 500k docs, same
# wall) — and rows-per-band is the knob that holds the collision
# floor flat as the corpus grows.
NUM_HASHES = 16
BANDS = 4
SHINGLE_N = 3
BLOOM_M = 1 << 20
BLOOM_K = 3

_TABLES = ("hashes", "bands", "bloom", "novelty")
# the key column every probe reads, per table: read with this schema,
# a segment scan plans without the footer-reading job that schema
# inference costs per read
_KEYS = {
    "hashes": "h string",
    "bands": "bucket string",
    "bloom": "pos bigint",
    "novelty": "gk struct<h1: bigint, h2: bigint>",
}
# segments of one size tier merged at once (module docstring)
_FANOUT = 4


def _path(state_dir: str, table: str) -> str:
    return os.path.join(state_dir, table)


def _tier(rows: int) -> int:
    return (max(rows, 1).bit_length() - 1) // 2  # floor(log4(rows))


def _compact(spark: SparkSession, table_path: str, m: dict) -> None:
    """Merge ``_FANOUT`` segments of the lowest full size tier into one,
    repeatedly, each merge published by its own manifest flip (the
    applied id is unchanged). Keys are unique across segments, so a
    merge is a plain union: no shuffle, no dedup."""
    segments = list(m["segments"])
    for i in range(len(segments)):
        by_tier: dict[int, list] = {}
        for seg in segments:
            by_tier.setdefault(_tier(seg[1]), []).append(seg)
        full = sorted(t for t, segs in by_tier.items() if len(segs) >= _FANOUT)
        if not full:
            return
        merged = by_tier[full[0]][:_FANOUT]
        frame = spark.read.parquet(
            *[os.path.join(table_path, name) for name, _ in merged]
        )
        name, rows = state_tables.write_segment(
            frame, table_path, f"{m['applied']:06d}-m{i}"
        )
        segments = [s for s in segments if s not in merged] + [[name, rows]]
        state_tables.publish(table_path, m["applied"], segments)
        for old, _ in merged:
            state_tables.fs_rmtree(os.path.join(table_path, old))


def segment_paths(state_dir: str, table: str) -> list[str]:
    """Explicit paths of a state table's live segments."""
    return state_tables.live_paths(_path(state_dir, table))


def read_state(spark: SparkSession, state_dir: str, table: str) -> DataFrame:
    """The live rows of one state table (``hashes``, ``bands``,
    ``bloom`` or ``novelty``)."""
    return state_tables.read(spark, _path(state_dir, table))


def _read_keys(spark: SparkSession, paths: list[str], table: str) -> DataFrame:
    """The key column of the segments at ``paths`` (empty frame when
    there is none)."""
    if not paths:
        return spark.createDataFrame([], _KEYS[table])
    return spark.read.schema(_KEYS[table]).parquet(*paths)


def _project(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, h, grams): the content sha256 and the shingles of every
    doc, the one pass over the text every state table derives from."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.sha2(text_col, 256).alias("h"),
        dedup.shingles(text_col, SHINGLE_N).alias("grams"),
    )


def _band_rows(proj: DataFrame) -> DataFrame:
    return dedup.minhash_band_table(
        proj, "doc_id", None, NUM_HASHES, BANDS, SHINGLE_N, shingles_col="grams"
    ).select(F.col("__bucket").alias("bucket"), F.col("__id").alias("doc_id"))


def _gram_rows(proj: DataFrame) -> DataFrame:
    return proj.select("doc_id", F.explode("grams").alias("__gram")).select(
        "doc_id", dedup.hash128("__gram").alias("gk")
    )


def _segment_frames(spark: SparkSession, proj: DataFrame, stored: dict) -> dict:
    """The four segments of one batch projection, each its batch's NEW
    keys only. ``stored`` maps a table to its live segment paths.
    Hashes and bands need no probe of the stored rows (scoring already
    excluded every kept doc whose hash or bucket is stored); bloom
    anti-joins the stored bits (<= m rows, broadcast) and novelty the
    stored gram keys (Spark broadcasts them while they are small and
    shuffle-joins them beyond that)."""
    bits = proj.select(
        F.explode(dedup._bloom_positions("h", BLOOM_M, BLOOM_K)).alias("pos")
    ).distinct()
    old_bits = _read_keys(spark, stored["bloom"], "bloom")
    grams = _gram_rows(proj).select("gk").distinct()
    old_grams = _read_keys(spark, stored["novelty"], "novelty")
    return {
        "hashes": proj.select("h").distinct(),
        "bands": _band_rows(proj),
        "bloom": bits.join(F.broadcast(old_bits), "pos", "left_anti"),
        "novelty": grams.join(old_grams, "gk", "left_anti"),
    }


def _append_segments(
    spark: SparkSession, proj: DataFrame, state_dir: str, batch_id: int
) -> None:
    """Fold one checkpointed batch projection into every table not yet
    at ``batch_id``: per table, recover, write the batch's segment,
    publish it, compact. The four tables are independent, so they run
    on concurrent threads; InheritableThread carries the caller's job
    group and local properties into each, so their jobs are
    attributed (and cancellable) like the caller's own."""
    manifests = {t: state_tables.recover(_path(state_dir, t)) for t in _TABLES}
    todo = [t for t in _TABLES if manifests[t]["applied"] < batch_id]
    if not todo:
        return
    stored = {t: state_tables.live_paths(_path(state_dir, t), manifests[t]) for t in _TABLES}
    frames = _segment_frames(spark, proj, stored)
    errors: list[BaseException] = []

    def run(table: str) -> None:
        try:
            table_path = _path(state_dir, table)
            name, rows = state_tables.write_segment(
                frames[table], table_path, f"{batch_id:06d}"
            )
            segments = manifests[table]["segments"] + ([[name, rows]] if name else [])
            state_tables.publish(table_path, batch_id, segments)
            _compact(spark, table_path, {"applied": batch_id, "segments": segments})
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [InheritableThread(target=run, args=(t,)) for t in todo]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]


def init_state(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_quality_on: str | None = None,
) -> None:
    """Seed the corpus state from an initial (trusted, already-kept)
    corpus as batch 0. BATCH-ID CONTRACT (r7 ADVICE): batch 0 belongs
    to init; ingestion batches MUST use ids >= 1 (commit_batch and
    ingest_and_commit enforce this), otherwise the manifests' applied
    id would silently skip a batch_id=0 commit as a replay of the seed.
    ``train_quality_on`` names a boolean label column; when given,
    classifier weights are trained on the seed corpus (bounded-sample
    deterministic GD) and persisted via artifacts.save_artifact so
    later batches score WITHOUT retraining."""
    # re-seeding rewrites the signature artifact — drop any in-process
    # validation memo for this dir so the next probe re-reads it (the
    # stamp would catch it anyway; this keeps the memo tight)
    _VALIDATED_SIGNATURES.pop(state_dir, None)
    proj = _project(docs, id_col, text_col).localCheckpoint()
    _append_segments(spark, proj, state_dir, 0)
    # the signature definition travels WITH the state (r9): band
    # buckets are opaque strings shaped by these constants, so a
    # probe under different constants never matches and silently
    # misses every duplicate — ingest_batch validates this artifact
    # before scoring.
    artifacts.save_artifact(
        spark, _path(state_dir, "signature"), "signature_params",
        _signature_params(),
    )
    if train_quality_on is not None:
        weights = classifier.train_logreg(docs, train_quality_on)
        artifacts.save_artifact(
            spark, _path(state_dir, "quality"), "quality_logreg", weights
        )


def _signature_params() -> dict:
    return {
        "num_hashes": NUM_HASHES,
        "bands": BANDS,
        "shingle_n": SHINGLE_N,
        "bloom_m": BLOOM_M,
        "bloom_k": BLOOM_K,
    }


# signature artifacts this process has already validated against the
# CURRENT module constants, keyed by state dir and stamped with the
# artifact files' (name, length, mtime) metadata (r15). The validation
# is pure metadata (an equality check of five persisted constants —
# never query data); the stamp makes the memo self-invalidating: ANY
# rewrite of the artifact (in-process init_state, an external
# re-seed, the mismatch-injection test) changes the part-file names/
# mtimes, so the next probe re-reads and the loud-failure contract is
# untouched. Without the memo every ingest_batch call re-ran a parquet
# read + collect purely to compare five ints — ~2 Spark jobs per pass
# on the bench's hot path; the stamp probe is one FileSystem.listStatus
# (driver-side metadata, no job).
_VALIDATED_SIGNATURES: dict[str, tuple] = {}


def _artifact_stamp(spark: SparkSession, path: str):
    """(name, len, mtime) of every file under ``path`` via Hadoop FS,
    or None when unreadable/absent (callers then take the full
    validation path, which produces the right loud error)."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(jpath):
            return None
        return tuple(
            sorted(
                (st.getPath().getName(), st.getLen(), st.getModificationTime())
                for st in fs.listStatus(jpath)
            )
        )
    except Exception:
        return None


def _check_signature(spark: SparkSession, state_dir: str) -> None:
    """Refuse to score against state seeded under different signature
    constants (e.g. a 4h/2b-era dir probed by the 16h/4b build after
    the r9 widening): bucket strings would never match and every
    near-dup would be silently kept. Loud failure is the contract."""
    stamp = _artifact_stamp(spark, _path(state_dir, "signature"))
    if stamp is not None and _VALIDATED_SIGNATURES.get(state_dir) == stamp:
        return
    path = _path(state_dir, "signature")
    current = _signature_params()
    # Probe through Hadoop FS, not os.path.exists (ADVICE r9 #2): the
    # state dir may live on HDFS/S3 where a driver-local filesystem
    # check is always false and would hard-fail correctly seeded state.
    # ONLY genuine absence maps to the re-seed instruction — a present
    # artifact that fails to read (corrupt bytes, transient store
    # error, permissions) propagates as itself, because advising
    # "re-seed" on a recoverable fault invites destroying good state
    # (r10 review).
    if not state_tables.fs_exists(path):
        raise RuntimeError(
            f"state dir {state_dir!r} carries no readable signature "
            f"artifact — it was seeded by a pre-widening build or not "
            f"via init_state. Probing it with the current constants "
            f"{current} would silently miss duplicates; re-seed with "
            f"init_state (or write the artifact after verifying the "
            f"state's parameters)."
        )
    _, stored = artifacts.load_artifact(spark, path, "signature_params")
    if stored != current:
        raise RuntimeError(
            f"signature mismatch: state at {state_dir!r} was built with "
            f"{stored}, module constants are {current} — near-dup probes "
            f"would silently miss. Re-seed with init_state or run a build "
            f"with matching constants."
        )
    # Re-take the stamp AFTER the successful read+compare (ADVICE r15):
    # stamping before the read left a TOCTOU window where an artifact
    # rewritten between probe and load would memoize the pre-rewrite
    # stamp for post-rewrite content. Post-validation, the stamp
    # describes files that can only be the validated bytes or a
    # rewrite that changed the listing — either way the next probe
    # does the right thing.
    stamp = _artifact_stamp(spark, path)
    if stamp is not None:
        _VALIDATED_SIGNATURES[state_dir] = stamp


def ingest_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score one new batch against the persisted corpus state — pure
    read, no state mutation (that's `commit_batch`). Returns one row
    per new doc:

        (doc_id, is_exact_dup, is_near_dup, n_grams, n_novel,
         novel_frac_c, kept[, quality_prob, keep_quality])

    kept = neither exact nor near duplicate of the EXISTING corpus;
    novel_frac_c = scaled-integer share of the doc's distinct shingles
    never seen before (10000 = all novel). Quality columns appear iff
    init_state trained weights.

    Plan: the new batch is hashed/banded/shingled ONCE; the corpus
    side arrives as stored tables. Bloom (broadcast, <= m rows)
    prefilters the hash probe so a mostly-novel batch skips the
    hashes join for almost every doc; bands and novelty are
    key-partitioned equi-joins sized by the batch. Stored keys are
    unique per table (module docstring), so every probe counts each
    key once. The returned frame reads the live segments lazily:
    evaluate or persist it before committing a later batch, whose
    compaction may delete them."""
    _check_signature(spark, state_dir)
    proj = _project(new_docs, id_col, text_col)
    ids = new_docs.select(F.col(id_col).alias("doc_id"))

    # exact: bloom prefilter -> confirm against stored hashes
    stored_bits = _read_keys(spark, segment_paths(state_dir, "bloom"), "bloom")
    doc_hash = proj.select("doc_id", "h")
    candidates = dedup.bloom_candidates(
        doc_hash.select("h"), "h", stored_bits.withColumnRenamed("pos", "__pos"),
        m=BLOOM_M, k=BLOOM_K,
    )
    stored_hashes = _read_keys(spark, segment_paths(state_dir, "hashes"), "hashes")
    confirmed = candidates.join(stored_hashes, candidates["h"] == stored_hashes["h"]) \
        .select(candidates["h"])
    exact = (
        doc_hash.join(confirmed, "h").select("doc_id").distinct()
        .withColumn("__exact", F.lit(True))
    )

    # near: new band table probes the stored one (no corpus re-sign)
    stored_bands = _read_keys(spark, segment_paths(state_dir, "bands"), "bands")
    near = (
        _band_rows(proj).join(stored_bands, "bucket")
        .select("doc_id").distinct()
        .withColumn("__near", F.lit(True))
    )

    # novelty: stored gram keys are every gram seen; misses are novel
    stored_grams = (
        _read_keys(spark, segment_paths(state_dir, "novelty"), "novelty")
        .withColumn("__seen", F.lit(True))
    )
    nov = (
        _gram_rows(proj).join(stored_grams, "gk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("__seen").isNull().cast("long")).alias("n_novel"),
        )
    )

    # r16 (VERDICT r15 §Next #4): the three verdict frames used to
    # re-attach through three separate doc_id left-joins; unioning
    # them at a common schema and folding with one max-aggregate
    # re-attaches through ONE join — each verdict frame has at most
    # one row per doc, so max() over the padded union is exactly the
    # old per-join column (null where absent). 14 -> 12 exec jobs,
    # 3 join stages -> 1 aggregate + 1 join.
    _pad = F.lit(None)
    verdicts = (
        exact.select(
            "doc_id",
            F.col("__exact"),
            _pad.cast("boolean").alias("__near"),
            _pad.cast("long").alias("n_grams"),
            _pad.cast("long").alias("n_novel"),
        )
        .unionByName(
            near.select(
                "doc_id",
                _pad.cast("boolean").alias("__exact"),
                F.col("__near"),
                _pad.cast("long").alias("n_grams"),
                _pad.cast("long").alias("n_novel"),
            )
        )
        .unionByName(
            nov.select(
                "doc_id",
                _pad.cast("boolean").alias("__exact"),
                _pad.cast("boolean").alias("__near"),
                F.col("n_grams").cast("long"),
                F.col("n_novel").cast("long"),
            )
        )
        .groupBy("doc_id")
        .agg(
            F.max("__exact").alias("__exact"),
            F.max("__near").alias("__near"),
            F.max("n_grams").alias("n_grams"),
            F.max("n_novel").alias("n_novel"),
        )
    )
    out = (
        ids.join(verdicts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__exact", F.lit(False)).alias("is_exact_dup"),
            F.coalesce("__near", F.lit(False)).alias("is_near_dup"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_novel").cast("long").alias("n_novel"),
            (F.col("n_novel") * 10000 / F.col("n_grams"))
            .cast("long")
            .alias("novel_frac_c"),
            (
                ~F.coalesce("__exact", F.lit(False))
                & ~F.coalesce("__near", F.lit(False))
            ).alias("kept"),
        )
    )
    # existence probe through Hadoop FS, not os.path.exists (r10, same
    # class as the signature fix above): on an HDFS/S3 state dir a
    # driver-local check is always false, which would SILENTLY disable
    # quality scoring on correctly trained state. Existence and load
    # are split on purpose — a PRESENT artifact that fails to load
    # (corrupt, wrong name/version) must stay a loud error, not a
    # silent skip (r10 review).
    if state_tables.fs_exists(_path(state_dir, "quality")):
        _, weights = artifacts.load_artifact(
            spark, _path(state_dir, "quality"), "quality_logreg"
        )
        scored = classifier.score_docs(new_docs, weights, id_col, text_col).select(
            F.col(id_col).alias("doc_id"),
            "quality_prob",
            F.col("keep").alias("keep_quality"),
        )
        out = out.join(scored, "doc_id", "left")
    return out


def commit_batch(
    new_docs: DataFrame,
    decisions: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold the batch's KEPT docs into every state table as segment
    ``batch_id``. Dropped docs never enter state (they are not part
    of the corpus). ``decisions`` must be `ingest_batch`'s verdicts
    against the state as it stands (at most the tables this batch
    already reached): the segments rely on it to hold no key already
    stored. A FULLY committed batch_id replays as a no-op without
    evaluating anything; each table's manifest also guards it alone,
    so a crash between tables resumes mid-commit. For crash-safe
    resume of the whole score-then-commit unit use
    `ingest_and_commit`, which persists the decision frame first.

    ``batch_id`` must be >= 1: batch 0 is reserved for init_state's
    seed, and a 0 here would be skipped by the seed's manifest entry
    as if it were a replay — silently dropping the batch from state
    (r7 ADVICE)."""
    if batch_id < 1:
        raise ValueError(
            f"batch_id must be >= 1 (0 is init_state's seed), got {batch_id}"
        )
    if all(
        state_tables.manifest(_path(state_dir, t))["applied"] >= batch_id for t in _TABLES
    ):
        return  # full replay of a committed batch: nothing to evaluate
    kept = new_docs.join(
        decisions.filter("kept").select(F.col("doc_id").alias(id_col)),
        id_col,
        "semi",
    )
    # checkpointed BEFORE any table changes: `decisions` may lazily
    # read state, and a compaction deletes the segments it replaces
    proj = _project(kept, id_col, text_col).localCheckpoint()
    _append_segments(new_docs.sparkSession, proj, state_dir, batch_id)


def ingest_and_commit(
    spark: SparkSession,
    new_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The crash-safe score-then-commit unit — what a foreachBatch
    sink calls per micro-batch. Persists the decision frame to
    ``state_dir/decisions-<batch_id>`` BEFORE mutating any state, so
    every crash point resumes correctly:

    - crash while scoring/writing decisions (no _SUCCESS yet): state
      untouched; resume recomputes decisions from pristine state;
    - crash mid-commit (some tables' segments published): the
      _SUCCESS'd decisions table is REUSED — never rescored against
      half-mutated state, which would see the batch's own
      already-committed docs as duplicates — and each remaining
      table applies exactly once via its manifest.

    Returns the (persisted) decision frame. The decisions tables
    double as the pipeline's audit log: one frame per batch recording
    why each doc was kept or dropped.

    ``batch_id`` must be >= 1 (0 is init_state's seed — see
    commit_batch)."""
    if batch_id < 1:
        raise ValueError(
            f"batch_id must be >= 1 (0 is init_state's seed), got {batch_id}"
        )
    dec_path = _path(state_dir, f"decisions-{batch_id}")
    if not state_tables.fs_exists(os.path.join(dec_path, "_SUCCESS")):
        ingest_batch(
            spark, new_docs, state_dir, id_col, text_col
        ).write.mode("overwrite").parquet(dec_path)
    decisions = spark.read.parquet(dec_path)
    commit_batch(new_docs, decisions, state_dir, batch_id, id_col, text_col)
    return decisions


def streaming_ingest_sink(
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The foreachBatch adapter (VERDICT r7 §Next #4): wires
    `ingest_and_commit` under a real StreamingQuery.

        (stream.writeStream
             .foreachBatch(streaming_ingest_sink(state_dir))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())

    Streaming batch ids are 0-based; the adapter maps them to the
    ingestion contract's 1-based ids (0 is init_state's seed), so
    users don't hand-roll the off-by-one. Crash/replay safety is the
    composed property already tested batch-driven: foreachBatch is
    at-least-once, and every replay point (rescore, mid-commit,
    full-commit) resumes exactly-once via the persisted decision
    frame + per-table manifests. The STREAMING checkpoint must be as
    durable as the state dir — a fresh checkpoint restarts ids at 0
    and would re-ingest the source from scratch (ids then collide
    with committed ones and are skipped; the state stays correct, but
    re-delivered docs are not re-scored under new ids)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ingest_and_commit(
            batch_df.sparkSession,
            batch_df,
            state_dir,
            int(batch_id) + 1,
            id_col,
            text_col,
        )

    return sink
