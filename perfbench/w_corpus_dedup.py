"""corpus_dedup: LLM-corpus curation, incremental and batch.

A seeded corpus goes through ``incremental.init_state`` once, as the
last step of set-up (timed as *seed*); then each timed round takes the
next batch of the run through ``ingest_batch`` (its decisions written
out; timed as *score*) and ``commit_batch`` (timed as *commit*), so
every batch is scored against the seed and the batches committed
before it. Batches carry planted exact copies, planted near-duplicates
(one word substituted) and fresh documents. Each round then runs the
registry's batch near-dup queries over the sf0.1 ``documents`` table
(a copy of the repository's test table, in ``data/sf0.1``) through
``catalog`` and ``queries`` (timed as the query suite). Loads
``incremental``, ``operators.dedup``, ``catalog``, ``queries`` and
``pinning``; never calls the Avro codec or the streaming engine.
"""

from __future__ import annotations

import os
import time

import checks
import gen
from common import log, median, median_dict, rounds, start_session

# A batch is about the size of the one the registry's
# incremental_ingest_batch scores at sf0.1 (one source's 250 of 5,000
# documents). The planted shares are not taken from real traffic: they
# give each decision path (exact, near, fresh) at least 30 documents a
# batch, so every check below has cases to fail on.
N_SEED = 1500
BATCH_SIZE = 300
EXACT_FRAC = 0.1
NEAR_FRAC = 0.2
# the registry's sf0.1 documents table, read by the queries and their
# DuckDB oracles (a verbatim copy; see README.md for its checksum)
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
# DuckDB oracle results, kept between runs of one checkout
ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
# neardup_components_star runs the operator's LSH candidate search
# (dedup.minhash_lsh_candidates, as minhash_lsh_neardup_prod does) and
# then the components merge; it alone is run, to keep a run within the
# time budget (README.md)
QUERY_LIST = ("neardup_components_star",)
ROUND_S = 10.0  # nominal length of one round on a 4-core box
# The first timed round still runs about 10% slower than the next ones;
# the median of three rounds is one of the warm ones.
MIN_ROUNDS = 3
# the per-layer metrics' layers this workload calls; the others read 0
LAYERS = ("session", "incremental", "dedup", "catalog", "query")
_PER_QUERY = (
    ("build_s", "s"), ("build_jobs", "count"), ("execute_s", "s"), ("jobs", "count"),
    ("executor_cpu_s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("gc_s", "s"), ("plan_input_bytes", "bytes"),
)


def _write_docs(rows, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                  "text": pa.array([r[1] for r in rows], pa.string())}),
        os.path.join(path, "part-0.parquet"),
    )


def _dedup_counters(tracer, score, near_flags: int) -> dict:
    """Traced run only: row counts of ``ingest_batch``'s own exact and
    near plans, read from Spark's SQL status store for the jobs of its
    timed span ``score``. Bloom candidates are the rows leaving
    ``bloom_candidates``' all-positions-hit filter; confirmed ones are
    the rows of the first join above it (the probe of the stored
    hashes); near candidates are the rows of the band-bucket join."""
    nodes = tracer.sql_nodes(score)
    by_id = {(n["exec"], n["id"]): n for n in nodes}
    cand = conf = pairs = 0
    found = set()
    for n in nodes:
        if n["name"] == "Filter" and "__n_hit" in n["desc"]:
            found.add("bloom")
            cand += n["rows"] or 0
            p = by_id.get((n["exec"], n["parent"]))
            while p is not None and not p["name"].endswith("Join"):
                p = by_id.get((p["exec"], p["parent"]))
            conf += (p["rows"] or 0) if p is not None else 0
        elif n["name"].endswith("Join") and "[bucket#" in n["desc"]:
            found.add("bands")
            pairs += n["rows"] or 0
    if found != {"bloom", "bands"}:
        log(f"ingest_batch plan: no node found for {sorted({'bloom', 'bands'} - found)}")
    return {
        "dedup.bloom_candidates": float(cand),
        "dedup.bloom_confirm_ratio": conf / cand if cand else 0.0,
        "dedup.near_candidates_per_flag": pairs / near_flags if near_flags else 0.0,
    }


def _band_table(tracer, docs) -> dict:
    """Traced run only, after the batch's timed spans: the band table
    operator ``ingest_batch`` builds for a batch, called on its own."""
    from ingest_spark import incremental as inc
    from ingest_spark.operators import dedup

    with tracer.span("dedup.band_table") as s:
        n_rows = dedup.minhash_band_table(docs, "doc_id", "text", inc.NUM_HASHES, inc.BANDS,
                                          inc.SHINGLE_N).count()
    return {"dedup.band_table_s": s.seconds, "dedup.band_rows_per_doc": n_rows / docs.count()}


def _read(spark, docs_dir: str, name: str):
    return spark.read.parquet(os.path.join(docs_dir, name))


def _seed_state(spark, tracer, docs_dir: str, state: str) -> float:
    from ingest_spark import incremental as inc

    with tracer.span("incremental.init_state") as s:
        inc.init_state(spark, _read(spark, docs_dir, "seed"), state)
    return s.seconds


def _batch(spark, tracer, docs_dir: str, state: str, root: str, b: int,
           operators: bool = False) -> dict:
    """Score batch ``b`` against the state, write its decisions under
    ``root`` and commit it. Returns the two timings and, traced, the
    batch's job counters, and with ``operators`` its dedup counters."""
    from ingest_spark import incremental as inc

    docs, dec_path = _read(spark, docs_dir, f"b{b}"), os.path.join(root, f"decisions-{b}")
    with tracer.span("incremental.ingest_batch") as s:
        inc.ingest_batch(spark, docs, state).write.parquet(dec_path)
    with tracer.span("incremental.commit_batch") as c:
        inc.commit_batch(docs, spark.read.parquet(dec_path), state, b + 1)
    res = {"score_s": s.seconds, "commit_s": c.seconds}
    if tracer.enabled:
        res["incremental.score_jobs"] = s.counters["jobs"]
        res["incremental.commit_jobs"] = c.counters["jobs"]
        res["incremental.shuffle_write_bytes"] = (
            s.counters["shuffle_write_bytes"] + c.counters["shuffle_write_bytes"])
        if operators:
            flags = sum(d["is_near_dup"] for d in checks.read_rows(dec_path, ["is_near_dup"]))
            res.update(_dedup_counters(tracer, s, flags))
            res.update(_band_table(tracer, docs))
    return res


def _run_query(spark, tracer, name: str, sf_dir: str):
    from ingest_spark.queries import QUERIES

    with tracer.span(f"query.{name}.build") as b:
        df = QUERIES[name](spark, sf_dir)
    with tracer.span(f"query.{name}.execute") as e:
        rows = df.collect()
    return df, rows, b, e


def _catalog_counters(spark, tracer, sf_dir: str) -> dict:
    """Traced run only, before anything else reads the table: one cold
    load, then one from the session memo."""
    from ingest_spark.catalog import load_table

    out = {}
    for kind in ("cold", "memo"):
        with tracer.span(f"catalog.load_table_{kind}") as s:
            load_table(spark, sf_dir, "documents")
        out[f"catalog.load_table_{kind}_s"] = s.seconds
    return out


def _query_layers(reps) -> dict:
    from ingest_spark.pinning import plan_input_bytes

    def both(key):
        return median([b.counters[key] + e.counters[key] for b, e, _ in reps])

    return {
        "build_s": median([b.seconds for b, _, _ in reps]),
        "build_jobs": median([b.counters["jobs"] for b, _, _ in reps]),
        "execute_s": median([e.seconds for _, e, _ in reps]),
        "jobs": median([e.counters["jobs"] for _, e, _ in reps]),
        "executor_cpu_s": both("executor_cpu_s"),
        "shuffle_bytes": both("shuffle_write_bytes"),
        "spill_bytes": both("spill_bytes"),
        "gc_s": both("gc_s"),
        "plan_input_bytes": float(plan_input_bytes(reps[0][2]) or 0),
    }


def _inputs(seed: int, work: str, n_batches: int) -> dict:
    corpus = gen.corpus_inputs(seed, N_SEED, n_batches, BATCH_SIZE, EXACT_FRAC, NEAR_FRAC)
    warm = gen.corpus_inputs(seed + 1_000_003, N_SEED // 5, 1, BATCH_SIZE // 5,
                             EXACT_FRAC, NEAR_FRAC)
    dirs = {"docs": os.path.join(work, "docs"), "warm_docs": os.path.join(work, "warm_docs")}
    for d, c in ((dirs["docs"], corpus), (dirs["warm_docs"], warm)):
        _write_docs(c["seed"], os.path.join(d, "seed"))
        for b, rows in enumerate(c["batches"]):
            _write_docs(rows, os.path.join(d, f"b{b}"))
    return {"corpus": corpus, **dirs}


def run(seed, seconds, cores, work, tracer, out, t_start) -> None:
    n_rounds = len(rounds(seconds, ROUND_S, MIN_ROUNDS))
    t_gen = time.monotonic()
    inp = _inputs(seed, work, n_rounds)
    corpus, sf_dir = inp["corpus"], SF_DIR
    gen_s = time.monotonic() - t_gen

    spark, session_s = start_session("perfbench-corpus-dedup", cores, work, tracer)
    layers = _catalog_counters(spark, tracer, sf_dir) if tracer.enabled else {}
    # warm-up: a small corpus through one batch, and every query once;
    # the query results are the ones checked against the oracles
    warm = os.path.join(work, "warm")
    _seed_state(spark, tracer, inp["warm_docs"], os.path.join(warm, "state"))
    _batch(spark, tracer, inp["warm_docs"], os.path.join(warm, "state"), warm, 0)
    warm_results = {}
    for name in QUERY_LIST:
        df, rows, _, _ = _run_query(spark, tracer, name, sf_dir)
        warm_results[name] = (rows, df.columns)
    # then the run's own state, seeded once
    state = os.path.join(work, "state")
    init_s = _seed_state(spark, tracer, inp["docs"], state)
    out.op()
    hashes_rows = [checks.parquet_rows(os.path.join(state, "hashes"))]
    # setup_s: from the process's start through the seeding, less the
    # generation of the benchmark's own inputs
    setup_s = time.monotonic() - t_start - gen_s
    log(f"gen {gen_s:.2f} session {session_s:.2f} seed {init_s:.2f} setup {setup_s:.2f}")

    per_round = []
    per_query: dict[str, list] = {n: [] for n in QUERY_LIST}
    for r in range(n_rounds):
        res = _batch(spark, tracer, inp["docs"], state, work, r, operators=r == 0)
        hashes_rows.append(checks.parquet_rows(os.path.join(state, "hashes")))
        for name in QUERY_LIST:
            df, _, b, e = _run_query(spark, tracer, name, sf_dir)
            per_query[name].append((b, e, df))
        res["round_s"] = res["score_s"] + res["commit_s"] + sum(
            v[-1][0].seconds + v[-1][1].seconds for v in per_query.values())
        per_round.append(res)
        out.op(2 + len(QUERY_LIST))
        log(f"round {r} {res}")

    # checks on every batch's decisions and the state after each
    # commit, and on the warm-up's query results, outside every timed
    # region
    decisions = [
        checks.read_rows(os.path.join(work, f"decisions-{b}"), None) for b in range(n_rounds)
    ]
    seed_docs, batches = corpus["seed"], corpus["batches"]
    out.check("decisions_cover", checks.decisions_cover_batches(batches, decisions))
    out.check("exact_flags", checks.exact_flags_match(seed_docs, batches, decisions))
    out.check("doc_properties", checks.doc_properties_hold(batches, decisions))
    out.check("near_recall", checks.near_recall_holds(batches, decisions, corpus["near_jaccard"]))
    out.check("state_counts",
              checks.state_counts_match(seed_docs, batches, decisions, hashes_rows))
    from ingest_spark.queries import ORACLES

    for name, (rows, cols) in warm_results.items():
        o_rows, o_cols = checks.cached_duckdb_oracle(sf_dir, ("documents",), ORACLES[name],
                                                     ORACLE_CACHE)
        out.check(f"oracle:{name}", checks.result_matches(rows, cols, o_rows, o_cols))

    med = median_dict([{k: v for k, v in x.items() if not k.startswith("dedup.")}
                       for x in per_round])
    if not tracer.enabled:
        committed = len(seed_docs) + sum(d["kept"] for dec in decisions for d in dec)
        out.metric("setup_s", setup_s, "s")
        out.metric("round_s", med["round_s"], "s")
        out.metric("stored_bytes_per_row", checks.data_bytes(state) / committed, "bytes/row")
        return
    out.metric("session.start_s", session_s, "s")
    out.metric("incremental.init_state_s", init_s, "s")
    out.metric("incremental.ingest_batch_s", med["score_s"], "s")
    out.metric("incremental.commit_batch_s", med["commit_s"], "s")
    for k in ("score_jobs", "commit_jobs"):
        out.metric(f"incremental.{k}", med[f"incremental.{k}"], "count")
    out.metric("incremental.state_files", float(checks.dir_stats(state)[1]), "count")
    for t in ("hashes", "bands", "bloom", "novelty"):
        out.metric(f"incremental.state_rows.{t}",
                   float(checks.parquet_rows(os.path.join(state, t))), "rows")
    out.metric("incremental.shuffle_write_bytes", med["incremental.shuffle_write_bytes"],
               "bytes")
    first = per_round[0]
    for k, unit in (("band_table_s", "s"), ("band_rows_per_doc", "rows/doc"),
                    ("bloom_candidates", "count"), ("bloom_confirm_ratio", "ratio"),
                    ("near_candidates_per_flag", "ratio")):
        out.metric(f"dedup.{k}", first[f"dedup.{k}"], unit)
    for k, v in layers.items():
        out.metric(k, v, "s")
    for name, reps in per_query.items():
        vals = _query_layers(reps)
        for k, unit in _PER_QUERY:
            out.metric(f"query.{name}.{k}", vals[k], unit)
