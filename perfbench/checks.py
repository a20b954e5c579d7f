"""Correctness checks, computed apart from the program.

Each check takes the program's output (read back with pyarrow or
DuckDB, never through Spark) and the generator's input, and returns a
list of problems; an empty list is a pass. The benchmark's own tests
feed every check a deliberately corrupted output and show it fails.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from datetime import date, datetime

import avro_ref
import gen

# ------------------------------------------------------- record_ingest


def record_key(rec: dict) -> tuple:
    """A settlement record as a hashable tuple in contract field order."""
    return tuple(rec[f] for f in gen.SETTLEMENT_FIELDS)


def _dataset_rows(path: str, columns: list[str] | None = None) -> list[dict]:
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    return table.to_pylist()


def _iso(v):
    return v.strftime("%Y-%m-%dT%H:%M:%S") if isinstance(v, datetime) else v


def read_sink(path: str) -> list[dict]:
    """Rows of the date-partitioned parquet sink, HourUTC as ISO text
    and ingest_date as text."""
    rows = _dataset_rows(path, list(gen.SETTLEMENT_FIELDS) + ["ingest_date"])
    for r in rows:
        r["HourUTC"] = _iso(r["HourUTC"])
        d = r["ingest_date"]
        r["ingest_date"] = d.isoformat() if isinstance(d, date) else str(d)
    return rows


def read_rows(path: str, columns: list[str]) -> list[dict]:
    return _dataset_rows(path, columns)


def sink_matches(sink_rows: list[dict], distinct: list[dict]) -> list[str]:
    """The sink holds each distinct input record exactly once, in total
    and within each ingest_date partition (the date of HourUTC)."""
    problems = []
    got = Counter((r["ingest_date"], record_key(r)) for r in sink_rows)
    want = Counter((r["HourUTC"][:10], record_key(r)) for r in distinct)
    if len(sink_rows) != len(distinct):
        problems.append(f"sink has {len(sink_rows)} rows, want {len(distinct)} distinct")
    missing, extra = want - got, got - want
    if missing:
        problems.append(f"{sum(missing.values())} records missing, e.g. {next(iter(missing))}")
    if extra:
        problems.append(f"{sum(extra.values())} rows unexpected, e.g. {next(iter(extra))}")
    per_date_got = Counter(d for d, _ in got.elements())
    per_date_want = Counter(d for d, _ in want.elements())
    for d in sorted(set(per_date_got) | set(per_date_want)):
        if per_date_got[d] != per_date_want[d]:
            problems.append(f"ingest_date {d}: {per_date_got[d]} rows, want {per_date_want[d]}")
            break
    return problems


def confluent_values_match(
    values: list[bytes], schema_id: int, contract: dict, distinct: list[dict]
) -> list[str]:
    """Every value is Confluent-framed with ``schema_id``, and the
    bodies are, as a multiset, the reference encoder's bytes of the
    distinct input records."""
    problems = []
    header = avro_ref.confluent(schema_id, b"")
    bad = [v for v in values if bytes(v[:5]) != header]
    if bad:
        problems.append(f"{len(bad)} values lack the 0x00 + schema id {schema_id} header")
    got = Counter(bytes(v[5:]) for v in values)
    want = Counter(avro_ref.encode_flat(contract, r) for r in distinct)
    if got != want:
        problems.append(
            f"{sum((want - got).values())} reference bodies missing, "
            f"{sum((got - want).values())} bodies unexpected"
        )
    return problems


def roundtrip_matches(decoded: list[dict], encoded_input: list[dict]) -> list[str]:
    """decode(encode(x)) equals x row for row, nulls included."""
    got = Counter(record_key(r) for r in decoded)
    want = Counter(record_key(r) for r in encoded_input)
    if got == want:
        return []
    return [
        f"{sum((want - got).values())} input rows not decoded back, "
        f"{sum((got - want).values())} decoded rows unexpected"
    ]


# --------------------------------------------------------- corpus_dedup
NUM_HASHES, BANDS = 16, 4  # the signature the incremental state is built with


def word_trigrams(text: str) -> int:
    w = text.split(" ")
    return len(set(zip(w, w[1:], w[2:]))) if len(w) >= 3 else 1


def _by_id(decisions: list[dict]) -> dict:
    return {d["doc_id"]: d for d in decisions}


def decisions_cover_batches(batches: list, decisions: list[list[dict]]) -> list[str]:
    """One decision row per offered document, no more, no fewer."""
    problems = []
    for b, (docs, dec) in enumerate(zip(batches, decisions)):
        ids = Counter(d["doc_id"] for d in dec)
        want = Counter(i for i, _, _ in docs)
        if ids != want:
            problems.append(
                f"batch {b}: {sum((want - ids).values())} docs without a decision, "
                f"{sum((ids - want).values())} extra decision rows"
            )
    return problems


def exact_flags_match(seed_docs, batches, decisions) -> list[str]:
    """is_exact_dup == the SHA-256 of the text was committed before.
    Committed = the seed plus every earlier batch's kept documents."""
    problems = []
    committed = {gen.sha256_hex(t) for _, t in seed_docs}
    for b, (docs, dec) in enumerate(zip(batches, decisions)):
        by_id = _by_id(dec)
        for doc_id, text, _ in docs:
            want = gen.sha256_hex(text) in committed
            got = by_id.get(doc_id, {}).get("is_exact_dup")
            if got != want:
                problems.append(f"batch {b} doc {doc_id}: is_exact_dup={got}, want {want}")
        committed |= {
            gen.sha256_hex(t) for i, t, _ in docs if by_id.get(i, {}).get("kept")
        }
    return problems


def doc_properties_hold(batches, decisions) -> list[str]:
    """Per-document invariants of the scoring output."""
    problems = []
    for b, (docs, dec) in enumerate(zip(batches, decisions)):
        by_id = _by_id(dec)
        for doc_id, text, kind in docs:
            d = by_id.get(doc_id)
            if d is None:
                continue  # reported by decisions_cover_batches
            ex, near = d["is_exact_dup"], d["is_near_dup"]
            where = f"batch {b} doc {doc_id} ({kind})"
            if ex and not near:
                problems.append(f"{where}: exact but not near")
            if kind == "exact" and d["n_novel"] != 0:
                problems.append(f"{where}: exact copy with n_novel={d['n_novel']}")
            if d["n_grams"] != word_trigrams(text):
                problems.append(f"{where}: n_grams={d['n_grams']}, want {word_trigrams(text)}")
            if kind == "fresh" and (d["n_novel"] != d["n_grams"] or ex or near):
                problems.append(
                    f"{where}: fresh doc n_novel={d['n_novel']}/{d['n_grams']} exact={ex} near={near}"
                )
            if d["kept"] != (not ex and not near):
                problems.append(f"{where}: kept={d['kept']} with exact={ex} near={near}")
    return problems


def near_recall_bound(jaccards: list[float], z: float = 5.0) -> tuple[float, float]:
    """(expected recall, lower bound) for planted pairs under the
    banded MinHash S-curve P(J) = 1 - (1 - J^r)^b with r rows in each
    of b bands: the mean of P over the pairs, less ``z`` standard
    deviations of the Binomial-sum count it estimates."""
    r = NUM_HASHES // BANDS
    ps = [1 - (1 - j**r) ** BANDS for j in jaccards]
    n = len(ps)
    mean = sum(ps) / n
    sd = math.sqrt(sum(p * (1 - p) for p in ps)) / n
    return mean, max(0.0, mean - z * sd)


def near_recall_holds(batches, decisions, near_jaccard: dict) -> list[str]:
    flagged, js = 0, []
    for docs, dec in zip(batches, decisions):
        by_id = _by_id(dec)
        for doc_id, _, kind in docs:
            if kind == "near":
                js.append(near_jaccard[doc_id])
                flagged += bool(by_id.get(doc_id, {}).get("is_near_dup"))
    if not js:
        return ["no planted near-duplicates"]
    expected, bound = near_recall_bound(js)
    recall = flagged / len(js)
    if recall < bound:
        return [f"near-dup recall {recall:.3f} < bound {bound:.3f} (S-curve mean {expected:.3f})"]
    return []


def state_counts_match(seed_docs, batches, decisions, hashes_rows: list[int]) -> list[str]:
    """After init and after each commit, the hashes state holds one row
    per distinct committed text."""
    problems = []
    committed = {t for _, t in seed_docs}
    want = [len(committed)]
    for docs, dec in zip(batches, decisions):
        by_id = _by_id(dec)
        committed |= {t for i, t, _ in docs if by_id.get(i, {}).get("kept")}
        want.append(len(committed))
    for step, (g, w) in enumerate(zip(hashes_rows, want)):
        if g != w:
            problems.append(f"after commit {step}: {g} hashes rows, want {w}")
    if len(hashes_rows) != len(want):
        problems.append(f"{len(hashes_rows)} state counts for {len(want)} commits")
    return problems


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from file footers."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def dir_stats(path: str) -> tuple[int, int]:
    """(total bytes, number of files) under a directory."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def data_bytes(path: str) -> int:
    """Bytes of the data files under a directory: every file except the
    hidden and ``_``-prefixed ones (checksums, ``_SUCCESS``, a streaming
    sink's ``_spark_metadata`` log, which holds absolute paths)."""
    total = 0
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        total += sum(
            os.path.getsize(os.path.join(dirpath, n))
            for n in names if not n.startswith(("_", "."))
        )
    return total


# ---------------------------------------------------- registry queries


def _norm(v):
    """One value in a form both engines agree on: floats to 9
    significant digits, timestamps and dates as ISO text, nested
    values recursively."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    try:
        return float(f"{float(v):.9g}")  # Decimal and numpy scalars
    except (TypeError, ValueError):
        return str(v)


def multiset(rows, columns: list[str]) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def result_matches(rows, columns, oracle_rows, oracle_columns) -> list[str]:
    """A query result equals its oracle's as a multiset of rows, with
    columns matched by name."""
    if sorted(columns) != sorted(oracle_columns):
        return [f"columns {sorted(columns)} != oracle {sorted(oracle_columns)}"]
    got, want = multiset(rows, columns), multiset(oracle_rows, oracle_columns)
    if got == want:
        return []
    return [
        f"{sum((want - got).values())} oracle rows missing, "
        f"{sum((got - want).values())} rows unexpected"
    ]


def duckdb_oracle(sf_dir: str, tables, sql: str):
    """(rows, columns) of ``sql`` run by DuckDB over the parquet tables."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
        rel = con.sql(sql)
        return rel.fetchall(), [d[0] for d in rel.description]
    finally:
        con.close()


def cached_duckdb_oracle(sf_dir: str, tables, sql: str, cache_dir: str):
    """``duckdb_oracle``, kept in ``cache_dir`` under a key of the SQL,
    the DuckDB version and the bytes of every table file read, so a
    result is computed once per distinct input and reused by later
    runs in the same checkout."""
    import hashlib
    import pickle

    import duckdb

    key = hashlib.sha256(f"{duckdb.__version__}\0{sql}".encode())
    for t in tables:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            key.update(hashlib.sha256(fh.read()).digest())
    path = os.path.join(cache_dir, f"oracle-{key.hexdigest()}.pickle")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    result = duckdb_oracle(sf_dir, tables, sql)
    os.makedirs(cache_dir, exist_ok=True)
    with open(f"{path}.{os.getpid()}", "wb") as fh:
        pickle.dump(result, fh)
    os.replace(f"{path}.{os.getpid()}", path)
    return result
