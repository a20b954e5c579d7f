from __future__ import annotations

import math

import numpy as np

from ingest_spark.functions.vectors import cosine_similarity, dot_product
from ingest_spark.operators import multimodal, similarity, text
from pyspark.sql import functions as F


def test_cosine_matches_numpy(spark):
    rng = np.random.default_rng(7)
    a, b = rng.normal(size=16).tolist(), rng.normal(size=16).tolist()
    df = spark.createDataFrame([(a, b)], "a array<double>, b array<double>")
    got = df.select(cosine_similarity("a", "b").alias("c"), dot_product("a", "b").alias("d")).first()
    want_d = float(np.dot(a, b))
    want_c = want_d / (np.linalg.norm(a) * np.linalg.norm(b))
    assert math.isclose(got["d"], want_d, rel_tol=1e-12)
    assert math.isclose(got["c"], want_c, rel_tol=1e-12)


def test_qualified_names_resolve_in_vector_fast_paths(spark):
    """r16 (ADVICE r15): the r15 one-parse SQL fast paths backtick-
    quoted the whole name, so qualified/dotted names that F.col
    resolves ('x.vec') failed UNRESOLVED_COLUMN. dot_product/l2_norm
    now fall back to the Column-chain path for non-simple names, and
    hyperplane_signature quotes multi-part — all three must resolve
    a dataset-qualified column and match the simple-name result."""
    rows = [([1.0, 2.0, 3.0, 4.0],)]
    df = spark.createDataFrame(rows, "vec array<double>").alias("x")
    simple = df.select(
        dot_product("vec", "vec", dim=4).alias("d"),
        similarity.hyperplane_signature("vec", num_bits=4, dim=4).alias("s"),
    ).first()
    qualified = df.select(
        dot_product("x.vec", "x.vec", dim=4).alias("d"),
        similarity.hyperplane_signature("x.vec", num_bits=4, dim=4).alias("s"),
    ).first()
    assert qualified["d"] == simple["d"] == 30.0
    assert qualified["s"] == simple["s"]


def test_quoted_name_splits_dots_outside_backticks(spark):
    """Dots inside a backticked part belong to the name, not the
    qualifier path: ```a.b`.vec`` is field ``vec`` of column ``a.b``."""
    q = similarity._quoted_name
    assert q("vec") == "`vec`"
    assert q("x.vec") == "`x`.`vec`"
    assert q("`a.b`.vec") == "`a.b`.`vec`"
    assert q("`we``ird`.v") == "`we``ird`.`v`"
    df = spark.createDataFrame([(([1.0, 2.0],),)], "`a.b` struct<vec: array<double>>")
    assert df.select(F.expr(q("`a.b`.vec")).alias("v")).first()["v"] == [1.0, 2.0]


def test_zero_vector_cosine_is_null(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>")
    assert df.select(cosine_similarity("a", "b")).first()[0] is None


def test_assert_dim_guards_unrolled_contract(spark):
    """ADVICE r4: the unrolled forms silently truncate/NULL on a dim
    mismatch — assert_dim is the loud debug guard for that contract."""
    import pytest

    from ingest_spark.functions.vectors import assert_dim

    ok = spark.createDataFrame([([1.0, 2.0, 3.0],)], "a array<double>")
    assert ok.select(assert_dim("a", 3).alias("v")).first()["v"] == [1.0, 2.0, 3.0]
    with pytest.raises(Exception, match="dim mismatch"):
        ok.select(assert_dim("a", 4)).collect()
    # and the documented mismatch behaviors the guard exists to expose:
    # under-dim TRUNCATES SILENTLY (the real hazard); over-dim raises
    # under ANSI mode (Spark 4 default), NULLs only with ANSI off
    pair = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [1.0, 2.0, 3.0])], "a array<double>, b array<double>"
    )
    assert pair.select(dot_product("a", "b", dim=2).alias("d")).first()["d"] == 5.0
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX|is out of bounds"):
        pair.select(dot_product("a", "b", dim=4)).collect()


def test_brute_force_topk_ranks_correctly(spark):
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),   # closest to 0
        (2, [0.0, 1.0]),   # orthogonal
        (3, [-1.0, 0.0]),  # opposite
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = similarity.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=3)
    got = [r["neighbor_id"] for r in out.orderBy("rank").collect()]
    assert got == [1, 2, 3]


def test_lsh_topk_subset_of_bruteforce_scores(spark):
    rng = np.random.default_rng(11)
    vecs = [(i, rng.normal(size=8).tolist()) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 2)
    bf = {(r["query_id"], r["neighbor_id"]): r["cosine_sim"]
          for r in similarity.brute_force_topk(df, q, k=40).collect()}
    ann = similarity.lsh_topk(df, q, k=5, num_bits=4, dim=8).collect()
    assert len(ann) > 0
    for r in ann:  # every ANN score must equal the exact score
        assert math.isclose(bf[(r["query_id"], r["neighbor_id"])], r["cosine_sim"], abs_tol=1e-9)


def test_text_quality_and_langid(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is in the house"),
         (2, "det er ikke en hund og det er en kat"),
         (3, "xyzzy qwerty")],
        "doc_id long, text string",
    )
    langs = {r["doc_id"]: r["lang_pred"] for r in text.language_id(df).collect()}
    assert langs == {1: "en", 2: "da", 3: "und"}
    scores = {r["doc_id"]: r["quality_score"] for r in text.quality_score(df).collect()}
    assert scores[1] > scores[3]  # stopword-free junk scores lower


def test_multimodal_roundtrip(spark):
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    mm = multimodal.attach_payload(df, "doc_id", "text")
    meta = mm.first()["media_meta"]
    assert meta["n_bytes"] == 11
    feats = multimodal.decode_features(mm).first()
    assert feats["n_bytes"] == 11
    assert feats["first_byte"] == ord("h")
    assert feats["feature_sum"] == sum(b"hello world")


def test_ivf_topk_recall_vs_bruteforce(spark):
    from ingest_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = sim.brute_force_topk(emb, queries, k=10)
    approx = sim.ivf_topk(emb, queries, k=10, n_cells=8, nprobe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # driver embeddings are uniform random — the ANN worst case; 3/8
    # of cells probed recovers ~0.6 of true neighbors (chance: 0.375).
    # Floor pinned from the measured value (r13, deterministic seeds +
    # static parquet: exactly 0.60 at this config; 25-query sweeps at
    # sf0.001/0.01/0.1 measure 0.596/0.592/0.616 — SCALE_RUNS.jsonl
    # op=ann_recall_floors). 0.55 fails on any real regression while
    # tolerating a test-data roll.
    assert recall >= 0.55, recall
    # every approx hit must carry the EXACT cosine (re-rank is exact)
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()}
    for r in approx.collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            assert abs(r.cosine_sim - exact_scores[key]) < 1e-9


def test_multimodal_pipeline_shapes(spark):
    """Frame fan-out, resize stub, and audio features: schema + batch
    shape + determinism (two runs, identical results)."""
    from ingest_spark.operators import multimodal as mm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
    media = mm.attach_payload(docs, "doc_id", "text")

    frames = mm.sample_frames(media, frame_size=100)
    f = frames.collect()
    assert len(f) >= 20  # fan-out: at least one frame per doc
    per_doc = {}
    for r in f:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert all(sorted(v) == list(range(len(v))) for v in per_doc.values())

    resized = mm.resize_images(media, width=8, height=4).collect()
    assert all(len(r.resized) == 32 for r in resized)
    assert {r.doc_id for r in resized} == set(per_doc)

    feats = mm.audio_features(media)
    a1 = {r.doc_id: r.features for r in feats.collect()}
    a2 = {r.doc_id: r.features for r in feats.collect()}
    assert a1 == a2  # deterministic
    assert all(len(v) == mm.AUDIO_FEAT_DIM for v in a1.values())
    # features are valid embedding input: run top-k over them
    from ingest_spark.operators import similarity as sim

    emb = feats.withColumnRenamed("doc_id", "vec_id").withColumnRenamed(
        "features", "embedding"
    )
    topk = sim.brute_force_topk(emb, emb.limit(2), k=3)
    assert topk.count() == 6


def test_multiprobe_recall_dominates_single_probe(spark):
    """Hamming-1 probing must recover a superset of the single-bucket
    candidates, so its recall vs brute force can only improve."""
    from ingest_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=10).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_topk(emb, queries, k=10, num_bits=8).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_topk_multiprobe(emb, queries, k=10, num_bits=8).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single, (r_multi, r_single)
    # multi-probe must return a full k list per query on this corpus
    assert len(multi) == len(exact)


def test_multiprobe_retrieval_config_absolute_recall(spark):
    """ABSOLUTE recall floor for the retrieval-grade multiprobe config
    (VERDICT r13 #2: the default radius-1/1-table path measures
    recall@10 ~0.08-0.11 and only a dominance test guarded it).
    Hamming-2 probes x 4 tables at num_bits=8 measures 0.776-0.8
    across sf0.001/0.01/0.1 (25 queries; SCALE_RUNS.jsonl
    op=ann_multiprobe_grid, r14) — floor pinned at ~80% of the
    measured minimum so a real recall regression fails while
    data-roll jitter doesn't."""
    from ingest_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 25)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in sim.lsh_topk_multiprobe(
            emb, queries, k=10, num_bits=8, probe_radius=2, num_tables=4
        ).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.62, recall


def test_ivf_pq_topk_recall_vs_bruteforce(spark):
    """IVF-PQ hybrid under the r15 corpus-scaled auto sizing
    (sqrt-n cells, 1/3 probe fraction, sqrt-n/2 rerank budget —
    VERDICT r14 #2: the fixed r14 config decayed 0.572/0.540/0.424
    across SFs). Measured recall@10 with auto params (25 queries):
    0.668 at sf0.001 (ledger op=ivf_pq_auto_grid). Floor pinned at
    ~80% of measured; survivors must re-rank by EXACT cosine."""
    from ingest_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 25)
    exact = sim.brute_force_topk(emb, queries, k=10)
    approx = sim.ivf_pq_topk(emb, queries, k=10, m=8, codebook_k=16)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(a) == len(e)  # full k list per query
    recall = len(e & a) / len(e)
    assert recall >= 0.55, recall
    exact_scores = {
        (r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()
    }
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert r.cosine_sim == exact_scores[(r.query_id, r.neighbor_id)]


def test_ivf_pq_auto_params_scale_monotone():
    """The sizing rule itself: cells/rerank grow with sqrt(corpus),
    probe fraction stays ~1/3, floors apply at tiny corpora."""
    from ingest_spark.operators import similarity as sim

    assert sim.ivf_pq_auto_params(50) == (8, 3, 8)
    assert sim.ivf_pq_auto_params(500) == (22, 8, 11)
    assert sim.ivf_pq_auto_params(2000) == (44, 15, 22)
    c1, p1, r1 = sim.ivf_pq_auto_params(1_000_000)
    assert (c1, p1, r1) == (1000, 334, 500)
    c2, p2, r2 = sim.ivf_pq_auto_params(100_000_000)
    assert c2 == 10 * c1 and r2 == 10 * r1  # sqrt scaling


def test_ivf_pq_topk_recall_floor_at_sf01(spark):
    """VERDICT r14 #2 'done' bar: an ABSOLUTE floor at sf0.1 — the SF
    where the fixed config had decayed to 0.424. Auto sizing measures
    0.656 there (25 queries, deterministic seeds + static parquet;
    ledger op=ivf_pq_auto_grid), so >=0.6 fails on any real
    regression while the approximation itself is unchanged run-over-
    run."""
    from ingest_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 25)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, queries, k=10).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_pq_topk(emb, queries, k=10, m=8, codebook_k=16).collect()
    }
    recall = len(exact & got) / len(exact)
    assert recall >= 0.6, recall


def test_pq_topk_recall_vs_bruteforce(spark):
    from ingest_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = sim.brute_force_topk(emb, queries, k=10)
    approx = sim.pq_topk(emb, queries, k=10, m=8, codebook_k=16, rerank_factor=8)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # uniform-random embeddings are PQ's worst case too; 8-subspace
    # codes + 8x re-rank headroom must still recover most neighbors.
    # Floor pinned from the measured value (r13: exactly 0.82 at this
    # config; the 25-query sweep measures 0.764/0.724/0.504 at
    # sf0.001/0.01/0.1 — recall falls with corpus size at fixed
    # rerank_factor, as ADC theory predicts; SCALE_RUNS.jsonl
    # op=ann_recall_floors). 0.65 ~= 80% of measured here.
    assert recall >= 0.65, recall
    # survivors re-rank by EXACT cosine
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert r.cosine_sim == exact_scores[(r.query_id, r.neighbor_id)]


def test_ann_topk_routes_every_strategy(spark):
    """The ann_topk facade (VERDICT r14 #4): each strategy returns the
    routed implementation's exact result in the normalized 4-column
    schema; auto picks brute below the cutoff and ivf_pq above it."""
    import pytest

    from ingest_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 2)

    def rows(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.cosine_sim, r.rank) for r in df.collect()
        )

    direct = {
        "brute": sim.brute_force_topk(emb, qs, k=5),
        "lsh": sim.lsh_topk(emb, qs, k=5, num_bits=8),
        "multiprobe": sim.lsh_topk_multiprobe(emb, qs, k=5, num_bits=8),
        "retrieval": sim.lsh_topk_multiprobe(
            emb, qs, k=5, num_bits=8, probe_radius=2, num_tables=4
        ),
        "ivf": sim.ivf_topk(emb, qs, k=5),
        "pq": sim.pq_topk(emb, qs, k=5),
        "ivf_pq": sim.ivf_pq_topk(emb, qs, k=5),
    }
    kwargs = {"lsh": {"num_bits": 8}, "multiprobe": {"num_bits": 8}}
    for name, want in direct.items():
        got = sim.ann_topk(emb, qs, k=5, strategy=name, **kwargs.get(name, {}))
        assert got.columns == ["query_id", "neighbor_id", "cosine_sim", "rank"]
        assert rows(got) == rows(want.select(*got.columns)), name
    # auto: brute below the cutoff, ivf_pq above it
    assert rows(sim.ann_topk(emb, qs, k=5, strategy="auto")) == rows(
        direct["brute"].select("query_id", "neighbor_id", "cosine_sim", "rank")
    )
    assert rows(sim.ann_topk(emb, qs, k=5, strategy="auto", brute_cutoff=10)) == rows(
        direct["ivf_pq"]
    )
    with pytest.raises(ValueError, match="unknown strategy"):
        sim.ann_topk(emb, qs, strategy="hnsw")


def test_probe_deltas_radius_validation():
    """ADVICE r14: probe_radius=0 (or negative) must raise, not
    silently return the radius-1 delta set."""
    import pytest

    assert similarity._probe_deltas(4, 1) == [0, 1, 2, 4, 8]
    assert len(similarity._probe_deltas(4, 2)) == 1 + 4 + 6
    for bad in (0, -1):
        with pytest.raises(ValueError, match="probe_radius"):
            similarity._probe_deltas(4, bad)
    with pytest.raises(ValueError, match="probe_radius"):
        similarity._probe_deltas(4, 3)


def test_pq_encode_codes_shape_and_determinism(spark):
    from ingest_spark.operators import similarity as sim

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(64)
    books = sim.pq_codebooks(emb, m=8, codebook_k=16)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # 64/8 dims each
    codes1 = {r.neighbor_id: list(r["__codes"]) for r in sim.pq_encode(emb, books).collect()}
    codes2 = {r.neighbor_id: list(r["__codes"]) for r in sim.pq_encode(emb, books).collect()}
    assert codes1 == codes2  # deterministic encode
    assert all(0 <= c < 16 for v in codes1.values() for c in v)
