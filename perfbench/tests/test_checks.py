"""The benchmark's own tests: every correctness check passes on a
correct output and fails on a deliberately corrupted one.

    python3 -m pytest perfbench/tests -q

Pure Python; no Spark session is started.
"""

from __future__ import annotations

import copy
import os
import struct
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import avro_ref  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

SCHEMA_ID = 7


def _contract() -> dict:
    return {
        "type": "record",
        "name": "ProductionConsumptionSettlement",
        "fields": [{"name": n, "type": ["null", "string"]} for n in gen.SETTLEMENT_STRINGS]
        + [{"name": n, "type": ["null", "float"]} for n in gen.SETTLEMENT_FLOATS],
    }


# ------------------------------------------------------------ avro_ref


def test_reference_encoder_matches_spec_vectors():
    assert [avro_ref.zigzag_varint(n) for n in (0, -1, 1, -64, 64, -65)] == [
        b"\x00", b"\x01", b"\x02", b"\x7f", b"\x80\x01", b"\x81\x01"]
    schema = {"fields": [{"name": "s", "type": "string"},
                         {"name": "f", "type": ["null", "float"]},
                         {"name": "l", "type": ["null", "long"]}]}
    assert avro_ref.encode_flat(schema, {"s": "foo", "f": 1.0, "l": None}) == (
        b"\x06foo" + b"\x02" + b"\x00\x00\x80\x3f" + b"\x00")
    assert avro_ref.confluent(SCHEMA_ID, b"x") == b"\x00\x00\x00\x00\x07x"


# ------------------------------------------------------- record_ingest


@pytest.fixture(scope="module")
def settlement():
    drops = gen.settlement_drops(5, 3, 24, 0.2)
    distinct = list({checks.record_key(r): r for rows in drops for r in rows}.values())
    sink = [dict(r, ingest_date=r["HourUTC"][:10]) for r in distinct]
    return drops, distinct, sink


def test_generator_plants_redeliveries_and_nulls(settlement):
    drops, distinct, _ = settlement
    assert sum(len(d) for d in drops) > len(distinct)
    assert any(v is None for r in distinct for v in r.values())
    again = gen.settlement_drops(5, 3, 24, 0.2)
    assert again == drops


def test_sink_check_passes_on_distinct_records(settlement):
    _, distinct, sink = settlement
    assert checks.sink_matches(sink, distinct) == []


def test_sink_check_fails_on_dropped_row(settlement):
    _, distinct, sink = settlement
    assert checks.sink_matches(sink[1:], distinct)


def test_sink_check_fails_on_kept_duplicate(settlement):
    _, distinct, sink = settlement
    assert checks.sink_matches(sink + [sink[0]], distinct)


def test_sink_check_fails_on_wrong_partition(settlement):
    _, distinct, sink = settlement
    bad = copy.deepcopy(sink)
    bad[0]["ingest_date"] = "1999-01-01"
    assert checks.sink_matches(bad, distinct)


def _framed(distinct):
    return [avro_ref.confluent(SCHEMA_ID, avro_ref.encode_flat(_contract(), r)) for r in distinct]


def test_framing_check_passes_on_reference_bytes(settlement):
    _, distinct, _ = settlement
    assert checks.confluent_values_match(_framed(distinct), SCHEMA_ID, _contract(), distinct) == []


def test_framing_check_fails_on_one_altered_body_byte(settlement):
    _, distinct, _ = settlement
    values = _framed(distinct)
    v = bytearray(values[3])
    v[-1] ^= 0x01
    values[3] = bytes(v)
    assert checks.confluent_values_match(values, SCHEMA_ID, _contract(), distinct)


def test_framing_check_fails_on_wrong_schema_id(settlement):
    _, distinct, _ = settlement
    values = _framed(distinct)
    values[0] = b"\x00" + struct.pack(">I", SCHEMA_ID + 1) + values[0][5:]
    assert checks.confluent_values_match(values, SCHEMA_ID, _contract(), distinct)


def test_framing_check_fails_on_dropped_value(settlement):
    _, distinct, _ = settlement
    assert checks.confluent_values_match(_framed(distinct)[1:], SCHEMA_ID, _contract(), distinct)


def test_roundtrip_check(settlement):
    _, distinct, sink = settlement
    assert checks.roundtrip_matches(distinct, sink) == []
    assert checks.roundtrip_matches(distinct[1:], sink)
    bad = copy.deepcopy(distinct)
    row = next(r for r in bad if any(r[f] is None for f in gen.SETTLEMENT_FLOATS))
    field = next(f for f in gen.SETTLEMENT_FLOATS if row[f] is None)
    row[field] = 0.0  # a null that did not survive
    assert checks.roundtrip_matches(bad, sink)


# --------------------------------------------------------- corpus_dedup


@pytest.fixture(scope="module")
def corpus():
    c = gen.corpus_inputs(9, 200, 2, 60, 0.1, 0.2)
    decisions = []
    for docs in c["batches"]:
        dec = []
        for doc_id, text, kind in docs:
            n = checks.word_trigrams(text)
            exact, near = kind == "exact", kind in ("exact", "near")
            dec.append({
                "doc_id": doc_id, "is_exact_dup": exact, "is_near_dup": near, "n_grams": n,
                "n_novel": 0 if exact else (3 if near else n), "kept": not (exact or near),
            })
        decisions.append(dec)
    seed_texts = {t for _, t in c["seed"]}
    counts = [len(seed_texts)]
    for docs in c["batches"]:
        seed_texts |= {t for _, t, k in docs if k == "fresh"}
        counts.append(len(seed_texts))
    return c, decisions, counts


def _flip(decisions, kind_of, kind, key):
    bad = copy.deepcopy(decisions)
    doc_id = next(i for i, k in kind_of.items() if k == kind)
    for dec in bad:
        for d in dec:
            if d["doc_id"] == doc_id:
                d[key] = not d[key] if isinstance(d[key], bool) else d[key] + 1
    return bad


def _kinds(c):
    return {i: k for docs in c["batches"] for i, _, k in docs}


def test_corpus_generator_is_deterministic_and_fresh_docs_share_no_gram():
    a = gen.corpus_inputs(4, 50, 2, 30, 0.1, 0.2)
    assert a == gen.corpus_inputs(4, 50, 2, 30, 0.1, 0.2)
    seen = set()
    for _, t in a["seed"]:
        w = t.split(" ")
        seen |= set(zip(w, w[1:], w[2:]))
    for docs in a["batches"]:
        for _, t, kind in docs:
            if kind == "fresh":
                w = t.split(" ")
                grams = set(zip(w, w[1:], w[2:]))
                assert not grams & seen
                seen |= grams


def test_corpus_checks_pass_on_correct_decisions(corpus):
    c, dec, counts = corpus
    assert checks.decisions_cover_batches(c["batches"], dec) == []
    assert checks.exact_flags_match(c["seed"], c["batches"], dec) == []
    assert checks.doc_properties_hold(c["batches"], dec) == []
    assert checks.near_recall_holds(c["batches"], dec, c["near_jaccard"]) == []
    assert checks.state_counts_match(c["seed"], c["batches"], dec, counts) == []


def test_cover_check_fails_on_dropped_decision(corpus):
    c, dec, _ = corpus
    bad = copy.deepcopy(dec)
    bad[1].pop()
    assert checks.decisions_cover_batches(c["batches"], bad)


def test_exact_check_fails_on_flipped_flag(corpus):
    c, dec, _ = corpus
    assert checks.exact_flags_match(c["seed"], c["batches"], _flip(dec, _kinds(c), "fresh",
                                                                    "is_exact_dup"))
    assert checks.exact_flags_match(c["seed"], c["batches"], _flip(dec, _kinds(c), "exact",
                                                                    "is_exact_dup"))


@pytest.mark.parametrize("kind,key", [
    ("exact", "is_near_dup"),   # exact but not near
    ("exact", "n_novel"),       # exact copy with novel grams
    ("near", "n_grams"),        # wrong gram count
    ("fresh", "is_near_dup"),   # fresh doc flagged
    ("fresh", "kept"),          # kept disagrees with the flags
])
def test_property_check_fails_on_corruption(corpus, kind, key):
    c, dec, _ = corpus
    assert checks.doc_properties_hold(c["batches"], _flip(dec, _kinds(c), kind, key))


def test_recall_check_fails_when_near_flags_are_lost(corpus):
    c, dec, _ = corpus
    bad = copy.deepcopy(dec)
    kinds = _kinds(c)
    for d in (d for batch in bad for d in batch):
        if kinds[d["doc_id"]] == "near":
            d["is_near_dup"] = False
    assert checks.near_recall_holds(c["batches"], bad, c["near_jaccard"])


def test_recall_bound_comes_from_the_s_curve():
    expected, bound = checks.near_recall_bound([0.8] * 200)
    assert expected == pytest.approx(1 - (1 - 0.8**4) ** 4)
    assert 0 < bound < expected


def test_state_count_check_fails_on_off_by_one(corpus):
    c, dec, counts = corpus
    assert checks.state_counts_match(c["seed"], c["batches"], dec, counts[:-1] + [counts[-1] + 1])


# ---------------------------------------------------- query oracles


def test_result_check():
    cols = ["a", "b", "t"]
    rows = [(1, 0.1 + 0.2, "x"), (2, None, "y"), (2, None, "y")]
    oracle = [("y", 2, None), ("x", 1, 0.3), ("y", 2, None)]
    assert checks.result_matches(rows, cols, oracle, ["t", "a", "b"]) == []
    assert checks.result_matches(rows[:-1], cols, oracle, ["t", "a", "b"])
    assert checks.result_matches([(1, 0.31, "x")] + rows[1:], cols, oracle, ["t", "a", "b"])
    assert checks.result_matches(rows, ["a", "b", "u"], oracle, ["t", "a", "b"])
