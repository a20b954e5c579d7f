from __future__ import annotations

from pyspark.sql import functions as F

from ingest_spark.operators import dedup


def _feed(spark):
    """ConsumptionIndustry-shaped feed with ~injected duplicates and a
    fully replayed day (FIXTURES.md §1 hints / SURVEY §5.3 e2e)."""
    day1 = [(f"2024-01-01T{h:02d}:00:00", "101", "Erhverv", float(h)) for h in range(24)]
    day2 = [(f"2024-01-02T{h:02d}:00:00", "101", "Erhverv", float(h)) for h in range(24)]
    dupes = day1[:5]          # partial in-window duplicates
    replayed = list(day1)     # a whole replayed day (at-least-once)
    rows = day1 + dupes + day2 + replayed
    return spark.createDataFrame(
        rows, "HourUTC string, MunicipalityNo string, Branche string, ConsumptionkWh double"
    )


def test_exact_dedup_exactly_once(spark):
    df = _feed(spark)
    assert df.count() == 77
    out = dedup.exact_dedup(df)
    assert out.count() == 48  # 24 + 24 unique records survive
    assert out.columns == df.columns


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [("k", 3), ("k", 1), ("k", 2)], "key string, seq int"
    )
    out = dedup.exact_dedup(df, cols=["key"], keep_tiebreak=["seq"])
    assert out.collect() == [("k", 1)]


def test_dedup_within_window_scopes_by_day(spark):
    df = spark.createDataFrame(
        [
            ("u1", "2024-01-01 08:00:00", 1),
            ("u1", "2024-01-01 09:00:00", 2),   # same user+day -> dropped
            ("u1", "2024-01-02 08:00:00", 3),   # next day -> survives
            ("u2", "2024-01-01 08:00:00", 4),
        ],
        "user string, ts_s string, seq int",
    ).withColumn("ts", F.col("ts_s").cast("timestamp"))
    out = dedup.dedup_within_window(
        df, ["user"], F.date_trunc("day", "ts"), ["ts", "seq"]
    )
    assert sorted(r["seq"] for r in out.collect()) == [1, 3, 4]


def test_minhash_column_and_df_forms_agree(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "h i j k l m n"), (3, "a b c d e f g")],
        "id long, text string",
    )
    sig = dedup.minhash_signature("text", num_hashes=4, shingle_n=3)
    col_form = {
        r["id"]: [r[f"m{i}"] for i in range(4)]
        for r in df.select(
            "id", *[F.element_at(sig, i + 1).alias(f"m{i}") for i in range(4)]
        ).collect()
    }
    df_form = {
        r["id"]: [r[f"m{i}"] for i in range(4)]
        for r in dedup.minhash_signatures_df(df, "id", "text", 4, 3).collect()
    }
    assert col_form == df_form
    assert col_form[1] == col_form[3]  # identical docs -> identical signatures


def test_lsh_finds_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now folks")],
        "id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             dedup.minhash_lsh_candidates(df, "id", "text", 4, 2, 3).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identity_and_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally unrelated content goes right here")],
        "id long, text string",
    )
    sigs = {r["id"]: r["simhash16"] for r in
            dedup.simhash_df(df, "id", "text", 16, 2).collect()}
    assert sigs[1] == sigs[2]
    ham = spark.createDataFrame([(sigs[1], sigs[3])], "a long, b long").select(
        dedup.hamming64(F.col("a"), F.col("b")).alias("h")
    ).first()["h"]
    assert ham > 0


def test_simhash_banding_loses_no_pair_under_pigeonhole(spark):
    """4 bands over 16 bits with max_hamming=3: banding must return
    EXACTLY the pairs a brute-force hamming cross product returns."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    banded = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_neardup_pairs(
            docs, "doc_id", "text", num_bits=16, bands=4, max_hamming=3
        ).collect()
    }
    sig = dedup.simhash_df(docs, "doc_id", "text", num_bits=16)
    a, b = sig.alias("a"), sig.alias("b")
    brute = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dedup.hamming64(F.col("a.simhash16"), F.col("b.simhash16")).alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert banded == brute
    assert len(brute) > 0  # non-vacuous


def _uf_components(pairs):
    """Tiny union-find ground truth for the iterative-join CC."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_connected_components_matches_union_find(spark):
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4), (40, 41)]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {r.id: r.component for r in dedup.connected_components(df).collect()}
    assert got == _uf_components(pairs)


def test_connected_components_star_matches_union_find(spark):
    """Skew-hardened variant (r5): same ground truth, including a deep
    chain (diameter > log-round count) and a hub star (the skew shape
    the variant exists for)."""
    pairs = (
        [(i, i + 1) for i in range(1, 9)]        # chain 1..9, diameter 8
        + [(100, v) for v in range(101, 112)]    # 11-spoke hub
        + [(200, 201), (202, 201), (203, 202)]   # zigzag ordering
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    expect = _uf_components(pairs)
    got = {
        r.id: r.component
        for r in dedup.connected_components_star(df).collect()
    }
    assert got == expect
    # and through the flag on the public entry point
    got2 = {
        r.id: r.component
        for r in dedup.connected_components(df, algorithm="star").collect()
    }
    assert got2 == expect


def test_connected_components_variants_agree_on_lsh_graph(spark):
    """Label vs star on the REAL near-dup candidate graph (the driver's
    minhash pairs at sf0.001): identical components, node for node."""
    from ingest_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=4, bands=2, shingle_n=3
    ).localCheckpoint()
    label = {
        (r.id, r.component) for r in dedup.connected_components(pairs).collect()
    }
    star = {
        (r.id, r.component)
        for r in dedup.connected_components_star(pairs).collect()
    }
    assert label == star and len(label) > 0


def test_connected_components_deep_chain_and_budget(spark):
    """r15 round restructure (self-loop edges + label-sum convergence):
    a deep chain still converges exactly when the budget allows, the
    budget exhaustion still fails LOUDLY (silent under-merging is the
    failure mode the raise guards), and empty input stays trivially
    converged under any budget."""
    import pytest

    chain = [(i, i + 1) for i in range(1, 12)]  # diameter 11
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r.id: r.component for r in dedup.connected_components(df).collect()}
    assert got == _uf_components(chain)

    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df, max_iterations=3)

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(empty, max_iterations=1).count() == 0


def test_connected_components_observed_convergence(spark):
    """(~20 s) Each round's convergence fingerprint is read through an
    Observation on the round's own checkpoint, not a second aggregate
    job. The observed (count, hash-sum) equals the separate aggregate
    over the pinned rows, and both variants still label the sf0.1 LSH
    candidate graph and a deep chain (diameter 19) exactly like
    union-find; an empty graph returns no rows without waiting on an
    Observation that never fills."""
    import os

    from ingest_spark.catalog import load_table

    # the repository's sf0.1 documents table, as copied for perfbench
    sf01 = os.path.join(os.path.dirname(__file__), "..", "perfbench", "data", "sf0.1")
    docs = load_table(spark, sf01, "documents")
    lsh = [
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_candidates(
            docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
        ).collect()
    ]
    chain = [(i, i + 1) for i in range(1, 20)]
    for pairs in (lsh, chain):
        assert pairs
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        pinned, fp = dedup._pin_with_fingerprint(df, "id_a", "id_b")
        row = pinned.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("id_a", "id_b").cast("decimal(38,0)")).alias("h"),
        ).first()
        assert fp == (row["n"], row["h"]) == (len(pairs), row["h"])
        expect = _uf_components(pairs)
        for algorithm in ("label", "star"):
            got = {
                r.id: r.component
                for r in dedup.connected_components(
                    df, algorithm=algorithm, max_iterations=25
                ).collect()
            }
            assert got == expect, algorithm
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup._pin_with_fingerprint(empty, "id_a", "id_b")[1] == (0, 0)
    for algorithm in ("label", "star"):
        assert dedup.connected_components(empty, algorithm=algorithm).count() == 0


def test_connected_components_string_ids(spark):
    """r16 (ADVICE r15): the convergence probe must be type-agnostic —
    the r15 decimal(38,0) cast of the component label crashed under
    ANSI for string ids (and silently under-merged with ANSI off).
    Both variants must label a string-id graph exactly."""
    pairs = [("b", "c"), ("c", "d"), ("x", "y"), ("p", "q"), ("q", "b")]
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    expect = _uf_components(pairs)
    got = {r.id: r.component for r in dedup.connected_components(df).collect()}
    assert got == expect
    got_star = {
        r.id: r.component
        for r in dedup.connected_components(df, algorithm="star").collect()
    }
    assert got_star == expect


def test_connected_components_rejects_unknown_algorithm(spark):
    df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    import pytest

    with pytest.raises(ValueError, match="unknown algorithm"):
        dedup.connected_components(df, algorithm="turbo")


def test_dedup_by_components_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 5), (6, 7)], "id_a long, id_b long")
    out = dedup.dedup_by_components(docs, "doc_id", pairs)
    ids = sorted(r.doc_id for r in out.collect())
    # clusters {1,2,5}->1 and {6,7}->6; singletons 0,3,4 survive
    assert ids == [0, 1, 3, 4, 6]
    assert out.columns == ["doc_id", "text"]


# ---------------------------------------------------------------- bloom (r5)


def test_bloom_candidates_no_false_negatives(spark):
    """The Bloom contract: every probe key that IS in the corpus must
    appear in the candidate set (false positives allowed, false
    negatives never) — at every m, including an absurdly small filter
    where nearly every position collides."""
    corpus = spark.createDataFrame(
        [(f"passage {i}",) for i in range(200)], "gram string"
    )
    probe = spark.createDataFrame(
        [(f"passage {i}",) for i in range(150, 350)], "gram string"
    )
    true_members = {f"passage {i}" for i in range(150, 200)}
    for m in (64, 1 << 12, 1 << 20):
        bits = dedup.bloom_bits(corpus, "gram", m=m, k=3)
        cand = {
            r.gram
            for r in dedup.bloom_candidates(probe, "gram", bits, m=m, k=3).collect()
        }
        assert true_members <= cand, f"false negatives at m={m}"
        # candidates never invent keys absent from the probe side
        assert cand <= {f"passage {i}" for i in range(150, 350)}


def test_bloom_prunes_nonmembers_at_adequate_m(spark):
    """At a sanely-sized filter the non-member fraction is actually
    pruned (the operator's whole purpose) — with m=2^20 over 200 keys
    the FP rate is ~0, so candidates == true members exactly."""
    corpus = spark.createDataFrame(
        [(f"passage {i}",) for i in range(200)], "gram string"
    )
    probe = spark.createDataFrame(
        [(f"passage {i}",) for i in range(150, 350)], "gram string"
    )
    bits = dedup.bloom_bits(corpus, "gram", m=1 << 20, k=3)
    cand = {
        r.gram
        for r in dedup.bloom_candidates(probe, "gram", bits, m=1 << 20, k=3).collect()
    }
    assert cand == {f"passage {i}" for i in range(150, 200)}


def test_bloom_bits_row_count_capped_by_m(spark):
    """Membership state never exceeds m rows no matter the corpus."""
    m = 128
    corpus = spark.createDataFrame(
        [(f"k{i}",) for i in range(5000)], "gram string"
    )
    assert dedup.bloom_bits(corpus, "gram", m=m, k=3).count() <= m


# ------------------------------------------------- salted dup flags (r6)


def _brute_dup_flags(rows):
    from collections import Counter

    c = Counter(k for _, k in rows)
    return {(i, k) for i, k in rows if c[k] >= 2}


def test_salted_dup_flags_matches_brute_force_across_caps(spark):
    """Exactness at every cap/salt, INCLUDING caps small enough that
    the heavy short-circuit path actually fires (the sf-scale oracle
    corpora never trip cap=1024, so this is the heavy path's direct
    correctness gate): keys with counts straddling the cap, spread
    across salt buckets, and a mega-key in every row."""
    rows = (
        [(i, "mega") for i in range(200)]
        + [(1000 + i, f"mid{i % 7}") for i in range(35)]   # counts five
        + [(2000 + i, f"rare{i}") for i in range(20)]      # singletons
        + [(3000, "pair"), (3001, "pair")]
    )
    df = spark.createDataFrame(rows, "doc_id long, key string")
    expect_dup_ids = {i for i, k in rows if (i, k) in _brute_dup_flags(rows)}
    for salt, cap in [(1, 2), (2, 2), (2, 3), (4, 8), (32, 1024)]:
        out = dedup.salted_dup_flags(df, "key", "doc_id", salt=salt, cap=cap)
        got = out.collect()
        assert len(got) == len(rows), (salt, cap)  # one row out per row in
        got_dup = {r.doc_id for r in got if r.is_dup}
        assert got_dup == expect_dup_ids, (salt, cap)


def test_hash128_grouping_key(spark):
    """hash128 (ADVICE r6 collision hardening): grouping on the
    128-bit struct key must equal grouping on the raw string, the two
    component hashes must not be equal to each other (different
    effective seeds), and — the property the docstring warns about —
    the APPENDED-literal form xxhash64(c, lit) must be detectably a
    different construction from the prepended form we use (prepending
    changes the seed of the gram hash; appending post-processes it)."""
    rows = [(i, w) for i, w in enumerate(["a", "b", "a", "c", "b", "a"])]
    df = spark.createDataFrame(rows, "id long, gram string")
    by_struct = {
        tuple(sorted(r.ids))
        for r in df.groupBy(dedup.hash128("gram").alias("k"))
        .agg(F.collect_list("id").alias("ids"))
        .collect()
    }
    by_string = {
        tuple(sorted(r.ids))
        for r in df.groupBy("gram")
        .agg(F.collect_list("id").alias("ids"))
        .collect()
    }
    assert by_struct == by_string
    comp = df.select(
        dedup.hash128("gram").alias("k"),
        F.xxhash64(F.lit(1), "gram").alias("pre"),
        F.xxhash64("gram", F.lit(1)).alias("post"),
    ).collect()
    assert all(r.k.h1 != r.k.h2 for r in comp)
    assert all(r.k.h2 == r.pre and r.pre != r.post for r in comp)
    # salted_dup_flags accepts the struct key (the skewsafe caller)
    flags = dedup.salted_dup_flags(
        df.select("id", dedup.hash128("gram").alias("k")), "k", "id", salt=2, cap=2
    )
    assert {r.id for r in flags.collect() if r.is_dup} == {0, 1, 2, 4, 5}


def test_salted_dup_flags_rejects_bad_params(spark):
    import pytest

    df = spark.createDataFrame([(1, "a")], "doc_id long, key string")
    with pytest.raises(ValueError, match="cap"):
        dedup.salted_dup_flags(df, "key", "doc_id", cap=1)
    with pytest.raises(ValueError, match="salt"):
        dedup.salted_dup_flags(df, "key", "doc_id", salt=0)


def test_dup_gram_doubling_profile_planted(spark):
    """Prefix-doubling profile on a planted corpus: the reported
    ladder length is the largest power-of-two rung <= the longest
    shared passage, intra-doc repeats count, and clean docs report 0."""
    from ingest_spark.operators.dedup import dup_gram_doubling_profile

    def words(prefix, n):
        return [f"{prefix}{i}" for i in range(n)]

    shared40 = words("s", 40)
    shared25 = words("t", 25)
    shared12 = words("u", 12)
    shared9 = words("v", 9)
    rep10 = words("r", 10)
    docs = [
        (1, " ".join(words("a", 30) + shared40 + words("b", 30))),
        (2, " ".join(words("c", 5) + shared40 + words("d", 55))),
        (3, " ".join(words("e", 20) + shared25 + words("f", 20))),
        (4, " ".join(shared25 + words("g", 40))),
        (5, " ".join(words("h", 3) + shared12 + words("i", 50))),
        (6, " ".join(words("j", 50) + shared12)),
        (7, " ".join(words("k", 30) + shared9 + words("l", 30))),
        (8, " ".join(shared9 + words("m", 60))),
        (9, " ".join(rep10 + words("n", 7) + rep10 + words("o", 40))),
        (10, " ".join(words("p", 80))),
        # multi-space docs take the slow positional path: grams never
        # span the double-space gap, but the single-spaced shared
        # passage after it still dups (and word positions stay true)
        (11, " ".join(words("q", 15)) + "  " + " ".join(shared12 + words("w", 20))),
        (12, " ".join(words("x", 9) + shared12)),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.max_dup_len
        for r in dup_gram_doubling_profile(df, "doc_id", "text").collect()
    }
    assert got == {1: 40, 2: 40, 3: 20, 4: 20, 5: 10, 6: 10,
                   7: 0, 8: 0, 9: 10, 10: 0, 11: 10, 12: 10}


def test_dup_gram_doubling_profile_shapes_agree(spark, monkeypatch, tmp_path):
    """r16 (VERDICT r15 §Next #2): the duplicate-key filter has two
    shapes — the count window below the input-size threshold and the
    skew-safe aggregate+semi-join above it. Both must produce the
    identical profile on the same parquet-backed corpus (a file-backed
    frame has a KNOWN size, so the threshold actually selects)."""
    from ingest_spark.operators import dedup as dd

    docs = [
        (1, " ".join(f"s{i}" for i in range(40)) + " tail one"),
        (2, "head bit " + " ".join(f"s{i}" for i in range(40))),
        (3, " ".join(f"z{i}" for i in range(30))),
    ]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(docs, "doc_id long, text string").write.parquet(path)
    df = spark.read.parquet(path)
    results = {}
    for label, threshold in (("window", 1 << 60), ("semi", 0)):
        monkeypatch.setenv("SPARK_GRAFT_SKEWSAFE_MIN_INPUT_BYTES", str(threshold))
        results[label] = {
            r.doc_id: r.max_dup_len
            for r in dd.dup_gram_doubling_profile(df, "doc_id", "text").collect()
        }
    assert results["window"] == results["semi"] == {1: 40, 2: 40, 3: 0}
