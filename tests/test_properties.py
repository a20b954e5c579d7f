"""Property-based tests (hypothesis): random inputs, checked against an
independent Python reference or a second independent implementation."""

from __future__ import annotations

import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from ingest_spark.operators import dedup

WORD = st.text(alphabet="abcdefg", min_size=1, max_size=4)
DOC = st.lists(WORD, min_size=1, max_size=12).map(" ".join)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(DOC, min_size=1, max_size=6))
def test_minhash_scale_path_equals_column_path(spark, docs):
    """The explode+aggregate scale path and the higher-order-function
    column path must produce IDENTICAL signatures for any input."""
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    a = {
        r.doc_id: (r.m0, r.m1, r.m2, r.m3)
        for r in dedup.minhash_signatures_df(df, "doc_id", "text", 4, 2).collect()
    }
    b = {
        r.doc_id: tuple(r.sig)
        for r in df.select(
            "doc_id", dedup.minhash_signature("text", 4, 2).alias("sig")
        ).collect()
    }
    assert a == b


def _py_sessions(times_us, gap_us):
    """Independent Python reference for gap sessionization."""
    sessions, cur = [], []
    for t in sorted(times_us):
        if cur and t - cur[-1] > gap_us:
            sessions.append(cur)
            cur = []
        cur.append(t)
    if cur:
        sessions.append(cur)
    return [(i + 1, len(s), s[0], s[-1]) for i, s in enumerate(sessions)]


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=0, max_value=3 * 86400 * 1_000_000),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
def test_sessionize_matches_python_reference(spark, times):
    from __spark_entry__ import queries
    import os
    import tempfile

    base = 1704067200 * 1_000_000  # 2024-01-01 UTC
    df = spark.createDataFrame(
        [(i, base + t, 7, "click", 0.0, "{}") for i, t in enumerate(times)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.timestamp_micros("ts"))
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        got = sorted(
            (r.session_id, r.n_events) for r in queries()["sessionize_events"](spark, d).collect()
        )
    want = sorted((sid, n) for sid, n, _, _ in _py_sessions([base + t for t in times], 1_800_000_000))
    assert got == want


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(DOC, min_size=1, max_size=5), st.integers(2, 8))
def test_chunk_tokens_reconstructs_corpus(spark, docs, size):
    """With stride == size (no overlap), concatenating a doc's chunks in
    chunk_id order must reproduce the doc's token sequence exactly —
    chunking loses nothing and fabricates nothing."""
    from ingest_spark.operators.text import chunk_tokens

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = chunk_tokens(df, size=size, stride=size).collect()
    rebuilt: dict[int, list[tuple[int, str]]] = {}
    for r in out:
        rebuilt.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_text"]))
    for doc_id, text in enumerate(docs):
        parts = [t for _, t in sorted(rebuilt[doc_id])]
        assert " ".join(parts) == text


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(DOC, min_size=1, max_size=5))
def test_pii_redact_idempotent_and_count_consistent(spark, docs):
    """redact(redact(x)) == redact(x) (placeholders never re-match), and
    a clean corpus is returned verbatim with zero counts."""
    from ingest_spark.operators.text import pii_redact

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    once = pii_redact(df)
    for r in once.collect():
        assert r["n_emails"] == 0 and r["n_phones"] == 0
        assert r["redacted"] == r["text"]
    again = pii_redact(
        once.select("doc_id", F.col("redacted").alias("text"))
    ).collect()
    for r in again:
        assert r["redacted"] == r["text"]


# --- newest behavioral queries vs independent Python references ---------

_EV = st.lists(
    st.tuples(st.integers(min_value=1, max_value=28),   # January day
              st.integers(min_value=1, max_value=5),    # user_id
              st.integers(min_value=0, max_value=3)),   # event_type idx
    min_size=1, max_size=30,
)


def _events_df(spark, evs):
    types = ["view", "click", "purchase", "refund"]
    rows = [
        (i, f"2024-01-{d:02d} 12:00:{i % 60:02d}", u, types[t], float(i % 7) + 0.25)
        for i, (d, u, t) in enumerate(evs)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s")


def _query_sf(spark, tmp, df, table):
    df.write.mode("overwrite").parquet(f"{tmp}/{table}.parquet")
    return tmp


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_EV)
def test_rolling_actives_matches_python_reference(spark, tmp_path_factory, evs):
    from ingest_spark.queries import rolling_active_users

    sf = _query_sf(spark, str(tmp_path_factory.mktemp("rau")),
                   _events_df(spark, evs), "events")
    got = {r["day"].day: (r["dau"], r["wau"])
           for r in rolling_active_users(spark, sf).collect()}

    active = {}  # day -> set(users)
    for d, u, _ in evs:
        active.setdefault(d, set()).add(u)
    want = {
        d: (len(us), len(set().union(*(active.get(p, set())
                                       for p in range(d - 6, d + 1)))))
        for d, us in active.items()
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_EV)
def test_ewma_matches_python_reference(spark, tmp_path_factory, evs):
    from ingest_spark.queries import ewma_daily_value

    types = ["view", "click", "purchase", "refund"]
    sf = _query_sf(spark, str(tmp_path_factory.mktemp("ewma")),
                   _events_df(spark, evs), "events")
    got = {(r["event_type"], r["day"].day): (r["day_cents"], r["ewma_cents"])
           for r in ewma_daily_value(spark, sf).collect()}

    cents = {}  # (type, day) -> cents
    for i, (d, u, t) in enumerate(evs):
        v = round(((i % 7) + 0.25) * 100)
        k = (types[t], d)
        cents[k] = cents.get(k, 0) + v
    want = {
        (ty, d): (c, sum(cents[(ty, p)] / 2 ** (d - p + 1)
                         for p in range(d - 6, d + 1) if (ty, p) in cents))
        for (ty, d), c in cents.items()
    }
    assert got == want  # dyadic weights: float equality is EXACT here


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(DOC, min_size=1, max_size=5))
def test_word_entropy_matches_python_reference(spark, tmp_path_factory, docs):
    import math
    from collections import Counter

    from ingest_spark.queries import word_entropy

    df = spark.createDataFrame(
        [(i, t, "en", "prop", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = _query_sf(spark, str(tmp_path_factory.mktemp("ent")), df, "documents")
    got = {r["doc_id"]: (r["n_words"], r["distinct_words"], r["entropy_bits"])
           for r in word_entropy(spark, sf).collect()}

    for i, t in enumerate(docs):
        c = Counter(w for w in t.split(" ") if w)
        n = sum(c.values())
        h = (math.log(n) - sum(v * math.log(v) for v in c.values()) / n) \
            / 0.6931471805599453
        assert got[i][:2] == (n, len(c))
        assert abs(got[i][2] - round(h, 3)) < 1e-9
        # bounds: 0 <= H <= log2(distinct)
        assert -1e-9 <= got[i][2] <= math.log2(len(c)) + 1e-3


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=2, max_value=8),
    st.binary(min_size=0, max_size=3000),
)
def test_gif_lzw_round_trips_arbitrary_streams(min_code_size, raw):
    """GIF LZW must round-trip ANY index stream at any min code size
    (indices clamped into the palette range) — including streams long
    and repetitive enough to grow the code width and adversarial
    random ones."""
    from ingest_spark.operators.media_codecs import _lzw_decode, _lzw_encode

    data = bytes(b % (1 << min_code_size) for b in raw)
    assert bytes(_lzw_decode(_lzw_encode(data, min_code_size), min_code_size)) == data


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=2, max_value=16),
    st.randoms(use_true_random=False),
)
def test_gif_file_round_trips_random_images(w, h, n_colors, rng):
    from ingest_spark.operators.media_codecs import decode_gif, encode_gif

    pal = bytes(v for i in range(n_colors)
                for v in (i * 15 % 256, (i * 37) % 256, (i * 91) % 256))
    idx = bytes(rng.randrange(n_colors) for _ in range(w * h))
    d = decode_gif(encode_gif(w, h, idx, pal))
    assert (d["width"], d["height"]) == (w, h)
    assert d["pixels"] == bytes(b for i in idx for b in pal[3 * i : 3 * i + 3])


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=1, max_value=10),
    st.integers(min_value=1, max_value=8),
    st.sampled_from([0, 2, 4, 6]),
    st.sampled_from([0, 1, 2, 3, 4]),
    st.randoms(use_true_random=False),
)
def test_png_round_trips_arbitrary_pixels(w, h, color_type, filter_type, rng):
    """PNG encode->decode is the identity on ANY 8-bit pixel content,
    for every color type and scanline filter."""
    from ingest_spark.operators.media_codecs import decode_png, encode_png

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color_type]
    pixels = bytes(rng.randrange(256) for _ in range(w * h * channels))
    d = decode_png(encode_png(w, h, pixels, color_type=color_type,
                              filter_type=filter_type))
    assert d["pixels"] == pixels
    assert (d["width"], d["height"], d["channels"]) == (w, h, channels)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1,
             max_size=200),
    st.sampled_from([1, 2]),
)
def test_wav_round_trips_arbitrary_samples(samples, n_channels):
    from ingest_spark.operators.media_codecs import decode_wav, encode_wav

    samples = samples[: len(samples) - (len(samples) % n_channels)] or [0]
    n_channels = 1 if len(samples) < 2 else n_channels
    d = decode_wav(encode_wav(samples, sample_rate=8000, n_channels=n_channels))
    assert d["n_samples"] == len(samples) // n_channels
    assert d["min_value"] == min(samples) and d["max_value"] == max(samples)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.integers(min_value=1, max_value=9),
    st.integers(min_value=1, max_value=7),
    st.randoms(use_true_random=False),
)
def test_bmp_round_trips_arbitrary_pixels(w, h, rng):
    """BMP bottom-up/BGR/4-byte-padding round trip on any content at
    any width (odd widths exercise the padding)."""
    from ingest_spark.operators.media_codecs import decode_bmp, encode_bmp

    pixels = bytes(rng.randrange(256) for _ in range(w * h * 3))
    d = decode_bmp(encode_bmp(w, h, pixels))
    assert d["pixels"] == pixels and (d["width"], d["height"]) == (w, h)


# ------------------------------------------ oracle fuzzing (r6)

MSWORD = st.text(alphabet="ab c", min_size=0, max_size=6)  # spaces inside!
FUZZ_DOC = st.lists(MSWORD, min_size=1, max_size=40).map(" ".join)
FUZZ_QUERIES = (
    "quality_score",
    "text_stats",
    "duplicate_passage_fraction",
    "duplicate_passage_fraction_skewsafe",
    "ngram_novelty",
    "bigram_frequencies",
    "feature_hash_vectors",
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(FUZZ_DOC, min_size=1, max_size=8), st.integers(0, 3))
def test_spark_matches_duckdb_oracle_on_random_corpora(
    spark, tmp_path_factory, docs, dup_seed
):
    """The oracle gate beyond the shipped corpus: RANDOM documents —
    multi-space runs, empty/whitespace texts, duplicated docs — run
    through Spark AND the DuckDB oracle with the driver's own
    comparison (row count + columns + order-insensitive value
    multiset). Any engine/oracle semantic gap on degenerate text
    surfaces here instead of in a future driver run."""
    import duckdb

    from ingest_spark.queries import ORACLES, QUERIES
    from tests.oracle_harness import compare_query

    # duplicate a slice of docs so dedup paths see real duplicates
    docs = docs + docs[: dup_seed % (len(docs) + 1)]
    langs = ["en", "de", "fr", "es", "zh"]
    rows = [
        (i, t, langs[i % 5], f"src{i % 3}", len(t))
        for i, t in enumerate(docs)
    ]
    sf = str(tmp_path_factory.mktemp("fuzz"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; glob its part files for DuckDB
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    for name in FUZZ_QUERIES:
        problems = compare_query(
            spark, con, name, QUERIES[name], ORACLES[name], sf
        )
        assert not problems, (name, problems, docs)


_EV_TYPES = ("view", "click", "purchase", "signup", "error")
FUZZ_EVENT = st.tuples(
    st.integers(1, 4),       # user_id
    st.integers(0, 2880),    # minutes offset: hits EXACT 30-min gaps
    st.integers(0, 4),       # event_type index
    st.integers(-5000, 5000),  # value in cents
)
EVENT_FUZZ_QUERIES = (
    "session_window_counts",
    "scd2_user_state_history",
    "scd2_snapshot_at",
    "seasonal_anomaly_hours",
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(FUZZ_EVENT, min_size=1, max_size=30, unique_by=lambda e: (e[0], e[1])))
def test_event_queries_match_duckdb_on_random_timelines(
    spark, tmp_path_factory, evs
):
    """Event-time fuzzing: minute-quantized random timelines land
    events EXACTLY on session-gap and window boundaries, where the
    native session_window operator, the islands oracle, the SCD2
    lead() walk, and the hour-of-day cents arithmetic could disagree
    by one closed/open interval — the class the shipped corpus rarely
    hits. Driver-grade comparison on both engines."""
    import datetime as dt

    import duckdb

    from ingest_spark.queries import ORACLES, QUERIES
    from tests.oracle_harness import compare_query

    base = dt.datetime(2024, 1, 9, 0, 0, 0)
    rows = [
        (
            i,
            base + dt.timedelta(minutes=m),
            u,
            _EV_TYPES[t],
            c / 100.0,
            "{}",
        )
        for i, (u, m, t, c) in enumerate(evs)
    ]
    sf = str(tmp_path_factory.mktemp("evfuzz"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(f"{sf}/events.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    for name in EVENT_FUZZ_QUERIES:
        problems = compare_query(
            spark, con, name, QUERIES[name], ORACLES[name], sf
        )
        assert not problems, (name, problems, evs)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**31 - 1), st.integers(8, 20))
def test_vector_queries_match_duckdb_on_random_embeddings(
    spark, tmp_path_factory, seed, n_vecs
):
    """Float-path fuzzing: random float32 embeddings through the
    cosine family on both engines. The engine's claim is that the
    unrolled left-to-right dot/norm chain is BIT-IDENTICAL to
    DuckDB's list_inner_product on the same floats (that is what
    makes unrounded threshold filters boundary-stable); random
    vectors exercise it far beyond the shipped corpus."""
    import random as _random

    import duckdb

    from ingest_spark.queries import ORACLES, QUERIES
    from tests.oracle_harness import compare_query

    rng = _random.Random(seed)
    import struct as _struct

    def f32(x):  # quantize to float32 exactly
        return _struct.unpack("f", _struct.pack("f", x))[0]

    rows = [
        (i, [f32(rng.uniform(-1, 1)) for _ in range(64)], i % 3)
        for i in range(n_vecs)
    ]
    sf = str(tmp_path_factory.mktemp("vecfuzz"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet/*.parquet'"
    )
    for name in ("knn_bruteforce", "embedding_neardup", "ann_lsh_topk"):
        problems = compare_query(
            spark, con, name, QUERIES[name], ORACLES[name], sf
        )
        assert not problems, (name, problems, seed)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**31 - 1), st.integers(1, 60))
def test_pricing_aggregates_match_duckdb_on_random_lineitems(
    spark, tmp_path_factory, seed, n_rows
):
    """Money-rounding fuzz: random 2-decimal prices/discounts/taxes
    through the TPC-H q1/q6 pricing aggregates on both engines. This
    is the family whose round-at-decimally-exact-precision rules
    (README §Correctness) were hand-derived — random cent values
    probe the .5-tie boundaries far beyond the shipped rows."""
    import datetime as dt
    import random as _random

    import duckdb

    from ingest_spark.queries import ORACLES, QUERIES
    from tests.oracle_harness import compare_query

    rng = _random.Random(seed)
    rows = [
        (
            i // 3 + 1, rng.randint(1, 50), rng.randint(1, 10), i % 7 + 1,
            float(rng.randint(1, 50)),
            rng.randint(100, 10_000_000) / 100.0,   # 2-dec price
            rng.randint(0, 10) / 100.0,             # discount .00-.10
            rng.randint(0, 8) / 100.0,              # tax
            rng.choice("ARN"), rng.choice("OF"),
            dt.date(1994, 1, 1) + dt.timedelta(days=rng.randint(0, 900)),
        )
        for i in range(n_rows)
    ]
    sf = str(tmp_path_factory.mktemp("lifuzz"))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate date",
    ).write.parquet(f"{sf}/lineitem.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW lineitem AS SELECT * FROM '{sf}/lineitem.parquet/*.parquet'"
    )
    for name in ("tpch_q1_pricing", "tpch_q6_forecast_revenue"):
        problems = compare_query(
            spark, con, name, QUERIES[name], ORACLES[name], sf
        )
        assert not problems, (name, problems, seed, n_rows)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(FUZZ_DOC, min_size=2, max_size=8), st.integers(0, 4))
def test_log_micro_queries_match_duckdb_on_random_corpora(
    spark, tmp_path_factory, docs, lang_shift
):
    """The log-based integer-micro scores (unigram LM, DSIR, PMI) fix
    round(ln(...)*1e6) BEFORE aggregation; cross-engine exactness
    additionally relies on Spark's and DuckDB's ln agreeing at the
    rounding boundary. This fuzz hunts that boundary on random
    corpora — a last-ulp divergence would surface as a value-multiset
    mismatch here before any driver run sees it."""
    import duckdb

    from ingest_spark.queries import ORACLES, QUERIES
    from tests.oracle_harness import compare_query

    langs = ["en", "de", "fr", "es", "zh"]
    rows = [
        (i, t, langs[(i + lang_shift) % 5], f"src{i % 3}", len(t))
        for i, t in enumerate(docs)
    ]
    sf = str(tmp_path_factory.mktemp("logfuzz"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet/*.parquet'"
    )
    for name in ("unigram_logprob_score", "dsir_importance_weights",
                 "pmi_collocations"):
        problems = compare_query(
            spark, con, name, QUERIES[name], ORACLES[name], sf
        )
        assert not problems, (name, problems, docs)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.integers(0, 2**31 - 1), st.integers(1, 12), st.integers(0, 40))
def test_join_distribution_matches_duckdb_on_random_orders(
    spark, tmp_path_factory, seed, n_cust, n_orders
):
    """Outer-join/grouping fuzz: random customer/orders tables —
    including customers with ZERO orders and orders referencing
    every customer unevenly — through the q13 two-level aggregate
    (count(col) over outer-join nulls) on both engines."""
    import datetime as dt
    import random as _random

    import duckdb

    from ingest_spark.queries import ORACLES, QUERIES
    from tests.oracle_harness import compare_query

    rng = _random.Random(seed)
    custs = [
        (k, f"c{k}", rng.randint(0, 24), rng.randint(-99999, 99999) / 100.0,
         rng.choice(["BUILDING", "MACHINERY", "AUTOMOBILE"]))
        for k in range(1, n_cust + 1)
    ]
    orders = [
        (i, rng.randint(1, n_cust), rng.choice("OFP"),
         rng.randint(100, 9999999) / 100.0,
         dt.date(1995, 1, 1) + dt.timedelta(days=rng.randint(0, 700)),
         rng.choice(["1-URGENT", "3-MEDIUM", "5-LOW"]))
        for i in range(1, n_orders + 1)
    ]
    sf = str(tmp_path_factory.mktemp("q13fuzz"))
    spark.createDataFrame(
        custs,
        "c_custkey long, c_name string, c_nationkey long, c_acctbal double, "
        "c_mktsegment string",
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.parquet(f"{sf}/orders.parquet")
    con = duckdb.connect()
    for t in ("customer", "orders"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet/*.parquet'")
    problems = compare_query(
        spark, con, "tpch_q13_order_distribution",
        QUERIES["tpch_q13_order_distribution"],
        ORACLES["tpch_q13_order_distribution"], sf,
    )
    assert not problems, (problems, seed, n_cust, n_orders)


# ------------------------------------------------------------------
# Streaming batch-split invariance (VERDICT r6 §Next #7): same rows,
# RANDOM partition into micro-batches, result must equal the batch
# oracle — the property that makes "incremental == recompute" true
# for ANY arrival slicing, not just the splits the unit tests chose.


def _split(rows, cuts):
    """Partition rows into contiguous non-empty chunks at cut points."""
    points = sorted({c % (len(rows) + 1) for c in cuts} - {0, len(rows)})
    chunks, prev = [], 0
    for p in points + [len(rows)]:
        if rows[prev:p]:
            chunks.append(rows[prev:p])
        prev = p
    return chunks


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from("abcd"), st.integers(-100, 100)),
        min_size=1,
        max_size=30,
    ),
    st.lists(st.integers(0, 29), max_size=3),
)
def test_rollup_batch_split_invariance(spark, tmp_path_factory, rows, cuts):
    """foreach_batch_rollup (count/sum/min): any micro-batch slicing
    of the same rows yields the identical maintained rollup as one
    batch groupBy over everything."""
    from ingest_spark import state_tables
    from ingest_spark.streaming.pipeline import foreach_batch_rollup

    tmp = str(tmp_path_factory.mktemp("rollup_fuzz"))
    path = f"{tmp}/rollup"
    apply = foreach_batch_rollup(path, ["k"], ["v"], min_cols=["v"])
    for bid, chunk in enumerate(_split(rows, cuts)):
        apply(spark.createDataFrame(chunk, "k string, v long"), bid)
    got = {
        r.k: (r.n_rows, r.sum_v, r.min_v)
        for r in state_tables.read(spark, path).collect()
    }
    want = {}
    for k, v in rows:
        n, s, m = want.get(k, (0, 0, None))
        want[k] = (n + 1, s + v, v if m is None else min(m, v))
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(1, 3),           # user
            st.sampled_from("xyz"),      # state
            st.integers(0, 5000),        # ts minute (collisions allowed)
        ),
        min_size=1,
        max_size=20,
    ),
    st.lists(st.integers(0, 19), max_size=3),
)
def test_scd2_batch_split_invariance(spark, tmp_path_factory, events, cuts):
    """foreach_batch_scd2: any slicing (INCLUDING out-of-order
    arrivals across batches — chunks are arbitrary, not time-ordered)
    equals the batch interval recompute over everything."""
    from datetime import datetime, timedelta

    from pyspark.sql import Window as W

    from ingest_spark import state_tables
    from ingest_spark.streaming.pipeline import foreach_batch_scd2

    base = datetime(2024, 1, 1)
    rows = [
        (u, s, base + timedelta(minutes=m), i)
        for i, (u, s, m) in enumerate(events)
    ]
    schema = "user_id long, event_type string, ts timestamp, event_id long"
    tmp = str(tmp_path_factory.mktemp("scd2_fuzz"))
    path = f"{tmp}/scd2"
    apply = foreach_batch_scd2(path, "user_id", "event_type", "ts", "event_id")
    for bid, chunk in enumerate(_split(rows, cuts)):
        apply(spark.createDataFrame(chunk, schema), bid)
    got = {
        (r.user_id, r.valid_from, r.state, r.valid_to, r.is_current)
        for r in state_tables.read(spark, path).collect()
    }
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r.user_id, r.valid_from, r.state, r.valid_to, r.is_current)
        for r in spark.createDataFrame(rows, schema)
        .select(
            "user_id",
            F.col("ts").alias("valid_from"),
            F.col("event_type").alias("state"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
        .collect()
    }
    assert got == want


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.sampled_from("abcdef"), st.integers(0, 29)),
        min_size=1,
        max_size=15,
    ),
    st.lists(st.integers(0, 14), max_size=2),
)
def test_watermarked_dedup_batch_split_invariance(
    spark, tmp_path_factory, rows, cuts
):
    """dropDuplicatesWithinWatermark under a REAL checkpointed
    streaming query: duplicates split across micro-batches still
    collapse to one row per key (all event times inside the watermark
    window, so dedup state covers every arrival — the engine's exact
    regime). Oracle: batch distinct keys."""
    import json as _json
    import os as _os

    from ingest_spark.streaming.pipeline import read_file_stream
    from pyspark.sql import types as T

    tmp = str(tmp_path_factory.mktemp("wm_dedup_fuzz"))
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    _os.makedirs(src)
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )

    def run_once():
        stream = read_file_stream(spark, src, schema, fmt="json")
        q = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["k"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for bid, chunk in enumerate(_split(rows, cuts)):
        with open(f"{src}/batch-{bid}.json", "w") as fh:
            for k, minute in chunk:
                fh.write(
                    _json.dumps(
                        {"k": k, "ts": f"2024-01-01T00:{minute:02d}:00.000Z"}
                    )
                    + "\n"
                )
        run_once()
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == sorted({k for k, _ in rows})


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(0, 48), min_size=2, max_size=12, unique=True),
    st.lists(st.integers(0, 11), max_size=2),
)
def test_sessionize_stream_batch_split_invariance(
    spark, tmp_path_factory, offsets, cuts
):
    """sessionize_stream (applyInPandasWithState, drain mode): closed
    sessions after draining randomly sliced TIME-ORDERED micro-batches
    equal the Python gap-split reference minus the open tail —
    state carries sessions across batch boundaries, so a batch cut
    inside a session must never split it."""
    import json as _json
    import os as _os

    from ingest_spark.streaming.pipeline import read_file_stream, sessionize_stream
    from pyspark.sql import types as T

    gap_min = 30
    # offsets are 10-minute steps so ~1/3 of consecutive gaps exceed
    # the 30-min session gap — most examples have >= 1 closed session
    times = sorted(o * 10 for o in offsets)
    rows = [(i, t) for i, t in enumerate(times)]
    tmp = str(tmp_path_factory.mktemp("sess_fuzz"))
    src, out, ckpt = f"{tmp}/src", f"{tmp}/out", f"{tmp}/ckpt"
    _os.makedirs(src)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )

    def run_once():
        stream = read_file_stream(spark, src, schema, fmt="json")
        q = (
            sessionize_stream(stream, gap_minutes=gap_min, idle_timeout=False)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    for bid, chunk in enumerate(_split(rows, cuts)):
        with open(f"{src}/batch-{bid}.json", "w") as fh:
            for i, minute in chunk:
                fh.write(
                    _json.dumps(
                        {
                            "event_id": i,
                            "ts": f"2024-01-01T{minute // 60:02d}:{minute % 60:02d}:00.000Z",
                            "user_id": 7,
                            "event_type": "click",
                            "value": 0.0,
                            "props": "{}",
                        }
                    )
                    + "\n"
                )
        run_once()
    got = sorted(
        (r.n_events, str(r.session_start), str(r.session_end))
        for r in spark.read.parquet(out).collect()
    )
    # python reference: gap-split, DROP the open tail (never emitted)
    sessions, cur = [], []
    for t in times:
        if cur and t - cur[-1] > gap_min:
            sessions.append(cur)
            cur = []
        cur.append(t)
    want = sorted(
        (
            len(s),
            f"2024-01-01 {s[0] // 60:02d}:{s[0] % 60:02d}:00",
            f"2024-01-01 {s[-1] // 60:02d}:{s[-1] % 60:02d}:00",
        )
        for s in sessions  # open tail (cur) deliberately excluded
    )
    assert got == want


# ----------------------------------------------- JPEG codec fuzz (r8)
# VERDICT r7 §Next #7: random dims (incl. non-multiple-of-8), quality
# None/1-100, DRI on/off, grey/RGB, every sampling layout.


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    width=st.integers(min_value=1, max_value=40),
    height=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=255),
    restart=st.sampled_from([0, 1, 3]),
)
def test_jpeg_grey_tile_roundtrip_exact(width, height, seed, restart):
    """Greyscale, all-ones quant, constant 8x8 tiles: encode->decode
    must invert EXACTLY for any dims/DRI (constant blocks are DC-only,
    and the DC path is integer-exact under q=1)."""
    from ingest_spark.operators.media_codecs import decode_jpeg, encode_jpeg

    tpr = (width + 7) // 8
    px = bytes(
        (seed * 37 + ((y // 8) * tpr + (x // 8)) * 101) % 256
        for y in range(height)
        for x in range(width)
    )
    blob = encode_jpeg(width, height, px, restart_interval=restart)
    d = decode_jpeg(blob)
    assert (d["width"], d["height"], d["channels"]) == (width, height, 1)
    assert bytes(d["pixels"]) == px


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    width=st.integers(min_value=1, max_value=33),
    height=st.integers(min_value=1, max_value=33),
    seed=st.integers(min_value=0, max_value=255),
    quality=st.sampled_from([None, 1, 25, 50, 75, 90, 100]),
    sampling=st.sampled_from(["444", "422", "440", "420"]),
    restart=st.sampled_from([0, 2]),
)
def test_jpeg_rgb_lossy_roundtrip_close(width, height, seed, quality, sampling, restart):
    """RGB across the full option grid: smooth-gradient images must
    survive encode->decode with bounded mean error (tight when
    quality is None/high, loose at quality=1), and dims/channels are
    always exact."""
    from ingest_spark.operators.media_codecs import decode_jpeg, encode_jpeg

    px = bytes(
        min(255, (seed + a * x + b * y) % 256)
        for y in range(height)
        for x in range(width)
        for a, b in ((2, 3), (1, 2), (3, 1))
    )
    blob = encode_jpeg(
        width, height, px, channels=3,
        quality=quality, sampling=sampling, restart_interval=restart,
    )
    d = decode_jpeg(blob)
    assert (d["width"], d["height"], d["channels"]) == (width, height, 3)
    n = width * height * 3
    # gradients with %256 seams are hard content; the bound only needs
    # to catch structural bugs (wrong block placement explodes the
    # error to 60+). Tiny/degenerate frames at mid quality can
    # legitimately reach ~17 (hypothesis found 8x1/q50/422 at 17.3),
    # so mid/high quality gets 32. All-ones quant is held to a TIGHT
    # bound, but against the pipeline's unavoidable-loss reference
    # (color rounding + chroma box-average + replicate upsample), not
    # the original: a chroma cliff at a %256 seam costs ~15 mean on a
    # 1x6 frame even with lossless DCT (hypothesis, r9), and that loss
    # is the declared subsampling semantics, not a codec bug.
    if quality is None:
        ref = _jpeg_subsample_reference(px, width, height, sampling)
        mean_err = sum(abs(a - b) for a, b in zip(d["pixels"], ref)) / n
        limit = 8.0
    elif quality < 10:
        # At quality=1 the libjpeg-style scaling saturates every quant
        # step at 255, so DC alone carries +-128 of legitimate error per
        # block; a 2x2 frame with a %256 wrap cliff measures 114 mean
        # error with a provably-sound pipeline (r12 verdict: lossless
        # roundtrip of the same frame is 0.4, q=50 is 28.1). No error
        # bound separates "correct" from "broken" here, so assert only
        # structural sanity (dims/channels above, payload length here).
        assert len(d["pixels"]) == n
        return
    else:
        mean_err = sum(abs(a - b) for a, b in zip(d["pixels"], px)) / n
        limit = 32.0 if quality >= 50 else 64.0
    assert mean_err < limit, f"mean abs error {mean_err} (q={quality})"


def _jpeg_subsample_reference(px, width, height, sampling):
    """Best-possible RGB reconstruction under the codec's declared
    sampling pipeline with a lossless transform stage: RGB -> YCbCr
    (truncating, clipped) -> chroma box-average (edge-padded) ->
    nearest-index replication upsample -> RGB (floor+0.5, clipped).
    Mirrors encode_jpeg/_decode-side semantics exactly so the fuzz
    bound isolates the DCT/entropy stages."""
    import numpy as np

    from ingest_spark.operators.media_codecs import _JPEG_SAMPLING

    arr = np.frombuffer(px, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
    y = np.clip(np.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5), 0, 255)
    cb = np.clip(np.floor(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.5), 0, 255)
    cr = np.clip(np.floor(0.5 * r - 0.418688 * g - 0.081312 * b + 128.5), 0, 255)
    (hmax, vmax), (hc, vc), _ = _JPEG_SAMPLING[sampling]
    planes = [y]
    for p in (cb, cr):
        fx, fy = hmax // hc, vmax // vc
        cw, ch = -(-width * hc // hmax), -(-height * vc // vmax)
        if fx != 1 or fy != 1:
            padded = np.pad(p, ((0, ch * fy - height), (0, cw * fx - width)), mode="edge")
            p = np.floor(padded.reshape(ch, fy, cw, fx).mean(axis=(1, 3)) + 0.5)
            ys = (np.arange(height) * vc) // vmax
            xs = (np.arange(width) * hc) // hmax
            p = p[np.ix_(ys, xs)]
        planes.append(p)
    Y, CB, CR = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        (Y + 1.402 * CR, Y - 0.344136 * CB - 0.714136 * CR, Y + 1.772 * CB),
        axis=-1,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8).tobytes()


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    data=st.data(),
)
def test_jpeg_random_byte_flip_never_hangs_or_escapes(seed, data):
    """Random single-byte corruption anywhere in a valid file: decode
    either raises ValueError (headers/tables/structure) or returns a
    well-formed frame with the original dims (an entropy-bit flip is
    undetectable by design — JPEG has no checksum); it must never
    hang, loop, or raise any other exception type. The dispatcher
    (_decode_media) must never raise at all."""
    from ingest_spark.operators.media_codecs import decode_jpeg, encode_jpeg
    from ingest_spark.operators.multimodal import _CODEC_ERRORS, _decode_media

    w, h = 16 + seed % 17, 8 + seed % 13
    px = bytes((seed + 5 * x + 11 * y) % 256 for y in range(h) for x in range(w))
    blob = bytearray(encode_jpeg(w, h, px, quality=75, restart_interval=2))
    pos = data.draw(st.integers(min_value=2, max_value=len(blob) - 3))
    flip = data.draw(st.integers(min_value=1, max_value=255))
    blob[pos] ^= flip
    blob = bytes(blob)
    try:
        d = decode_jpeg(blob)
        # silent-corruption case: frame must still be structurally sane
        assert d["channels"] in (1, 3)
        assert len(d["pixels"]) == d["width"] * d["height"] * d["channels"]
    except _CODEC_ERRORS:
        pass  # detected corruption: the legal loud outcome
    out = _decode_media(blob)
    assert out["kind"] in ("jpeg", "decode_error", "opaque")


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    fmt=st.sampled_from(["png", "wav", "bmp", "gif", "tiff", "jpeg"]),
    seed=st.integers(min_value=0, max_value=10**6),
    data=st.data(),
)
def test_any_format_byte_flip_never_escapes_dispatcher(fmt, seed, data):
    """Exception totality across ALL six formats (r8): a valid payload
    with one random byte flipped (or the payload truncated at a random
    point) must always come back from _decode_media as a well-formed
    row — kind in {fmt, decode_error, opaque, others-on-magic-damage}
    — and NEVER raise. This is the one-bad-payload-cannot-kill-the-job
    property the mapInPandas path relies on."""
    from ingest_spark.operators.media_codecs import (
        encode_bmp,
        encode_gif,
        encode_jpeg,
        encode_png,
        encode_tiff,
        encode_wav,
    )
    from ingest_spark.operators.multimodal import GIF_PALETTE, _decode_media

    w, h = 5 + seed % 9, 3 + seed % 6
    grey = bytes((seed + 3 * i) % 256 for i in range(w * h))
    rgb = bytes((seed + 5 * i) % 256 for i in range(w * h * 3))
    variant = seed % 2  # alternate plain vs the r8 variant per format
    payload = {
        "png": lambda: encode_png(w, h, grey, interlace=variant,
                                  filter_type=seed % 5),
        "wav": lambda: encode_wav([(seed + i) % 2000 - 1000 for i in range(w * h)]),
        "bmp": lambda: encode_bmp(w, h, rgb),
        "gif": lambda: encode_gif(w, h, bytes(b % 16 for b in grey),
                                  GIF_PALETTE, interlace=bool(variant)),
        "tiff": lambda: encode_tiff(w, h, grey,
                                    compression=32773 if variant else 1),
        "jpeg": lambda: encode_jpeg(w, h, grey, quality=80,
                                    progressive=bool(variant)),
    }[fmt]()
    mutated = bytearray(payload)
    if data.draw(st.booleans()):
        pos = data.draw(st.integers(min_value=0, max_value=len(mutated) - 1))
        mutated[pos] ^= data.draw(st.integers(min_value=1, max_value=255))
    else:
        cut = data.draw(st.integers(min_value=0, max_value=len(mutated) - 1))
        mutated = mutated[:cut]
    out = _decode_media(bytes(mutated))  # must not raise, whatever happened
    assert isinstance(out["kind"], str)
    assert out["n_bytes"] == len(mutated)


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    width=st.integers(min_value=1, max_value=40),
    height=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    channels=st.sampled_from([1, 3]),
    quality=st.sampled_from([None, 1, 40, 90]),
    sampling=st.sampled_from(["444", "422", "440", "420"]),
)
def test_progressive_always_equals_baseline(width, height, seed, channels,
                                            quality, sampling):
    """r8 progressive JPEG: for ANY dims/content/quality/sampling, the
    SOF2 multi-scan encoding must decode to exactly the pixels of the
    baseline encoding of the same image (same quantized coefficients,
    two entropy representations)."""
    from ingest_spark.operators.media_codecs import decode_jpeg, encode_jpeg

    n = width * height * channels
    px = bytes((seed + 7 * i + (i * i) % 31) % 256 for i in range(n))
    kw = {"channels": channels, "quality": quality}
    if channels == 3:
        kw["sampling"] = sampling
    base = encode_jpeg(width, height, px, **kw)
    prog = encode_jpeg(width, height, px, progressive=True, **kw)
    assert decode_jpeg(prog)["pixels"] == decode_jpeg(base)["pixels"]


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    data=st.data(),
)
def test_progressive_byte_flip_never_hangs_or_escapes(seed, data):
    """Corruption totality for the multi-scan decoder: a flipped byte
    anywhere in a progressive file either raises ValueError, or
    decodes to a structurally sane frame; the dispatcher never
    raises."""
    from ingest_spark.operators.media_codecs import decode_jpeg, encode_jpeg
    from ingest_spark.operators.multimodal import _CODEC_ERRORS, _decode_media

    w, h = 16 + seed % 17, 8 + seed % 13
    px = bytes((seed + 5 * x + 11 * y) % 256 for y in range(h) for x in range(w))
    blob = bytearray(encode_jpeg(w, h, px, quality=75, progressive=True))
    pos = data.draw(st.integers(min_value=2, max_value=len(blob) - 3))
    blob[pos] ^= data.draw(st.integers(min_value=1, max_value=255))
    blob = bytes(blob)
    try:
        d = decode_jpeg(blob)
        assert d["channels"] in (1, 3)
        assert len(d["pixels"]) == d["width"] * d["height"] * d["channels"]
    except _CODEC_ERRORS:
        pass
    out = _decode_media(blob)
    assert out["kind"] in ("jpeg", "decode_error", "opaque")
