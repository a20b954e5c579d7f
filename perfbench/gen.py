"""Seeded input generators for the two workloads.

Every generator is a pure function of its seed and size arguments, so
the same ``--seed`` always yields byte-identical inputs. The program
under test only ever sees the files these functions write.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from datetime import datetime, timedelta

# ----------------------------------------------------------- settlement
# Field order of the reference's ProductionConsumptionSettlement contract:
# three nullable strings followed by 25 nullable floats.
SETTLEMENT_STRINGS = ("HourUTC", "HourDK", "PriceArea")
SETTLEMENT_FLOATS = (
    "CentralPowerMWh", "LocalPowerMWh", "CommercialPowerMWh",
    "LocalPowerSelfConMWh", "OffshoreWindLt100MW_MWh", "OffshoreWindGe100MW_MWh",
    "OnshoreWindLt50kW_MWh", "OnshoreWindGe50kW_MWh", "HydroPowerMWh",
    "SolarPowerLt10kW_MWh", "SolarPowerGe10Lt40kW_MWh", "SolarPowerGe40kW_MWh",
    "SolarPowerSelfConMWh", "UnknownProdMWh", "ExchangeNO_MWh", "ExchangeSE_MWh",
    "ExchangeGE_MWh", "ExchangeNL_MWh", "ExchangeGB_MWh", "ExchangeGreatBelt_MWh",
    "GrossConsumptionMWh", "GridLossTransmissionMWh", "GridLossInterconnectorsMWh",
    "GridLossDistributionMWh", "PowerToHeatMWh",
)
SETTLEMENT_FIELDS = SETTLEMENT_STRINGS + SETTLEMENT_FLOATS
PRICE_AREAS = ("DK1", "DK2", "SE4", "NO2")
NULL_RATE = 0.03


def _settlement_record(rng: random.Random, hour: datetime, area: str) -> dict:
    rec = {
        "HourUTC": hour.strftime("%Y-%m-%dT%H:%M:%S"),
        "HourDK": None if rng.random() < NULL_RATE
        else (hour + timedelta(hours=1)).strftime("%Y-%m-%dT%H:%M:%S"),
        "PriceArea": area,
    }
    for f in SETTLEMENT_FLOATS:
        # quarter steps below 2**20 are exact in float32, so the JSON
        # text, the Spark FloatType value and the Avro float agree bit
        # for bit and the checks can compare with ==
        rec[f] = None if rng.random() < NULL_RATE else rng.randint(-40000, 400000) / 4
    return rec


def settlement_drops(
    seed: int, n_drops: int, hours_per_drop: int, dup_rate: float
) -> list[list[dict]]:
    """Records of the settlement contract, split into ``n_drops`` drops.

    Drop ``d`` carries the distinct records of its own hour range,
    shuffled (disorder inside one drop is unbounded but a drop is one
    micro-batch), plus byte-identical re-deliveries: some of its own
    records, and some from the last 12 hours of the previous drop. A
    re-delivery therefore lags its original by less than the 1-day
    watermark, so every one of them must be dropped and none is late.
    """
    rng = random.Random(seed * 7919 + 11)
    start = datetime(2023, 1, 1) + timedelta(days=seed % 365)
    areas = PRICE_AREAS
    drops: list[list[dict]] = []
    prev_tail: list[dict] = []
    for d in range(n_drops):
        first = start + timedelta(hours=d * hours_per_drop)
        distinct = [
            _settlement_record(rng, first + timedelta(hours=h), a)
            for h in range(hours_per_drop)
            for a in areas
        ]
        n_dup = int(len(distinct) * dup_rate)
        redeliver = [rng.choice(distinct) for _ in range(n_dup - n_dup // 3)]
        redeliver += [rng.choice(prev_tail) for _ in range(n_dup // 3)] if prev_tail else []
        rows = distinct + [dict(r) for r in redeliver]
        rng.shuffle(rows)
        drops.append(rows)
        tail_from = first + timedelta(hours=hours_per_drop - 12)
        prev_tail = [
            r for r in distinct
            if datetime.fromisoformat(r["HourUTC"]) >= tail_from
        ]
    return drops


def write_json_drop(rows: list[dict], out_dir: str, drop: int, n_files: int) -> None:
    """Write one drop as ``n_files`` JSON-lines files."""
    os.makedirs(out_dir, exist_ok=True)
    for i in range(n_files):
        with open(os.path.join(out_dir, f"drop{drop:03d}-part{i:02d}.json"), "w") as fh:
            for r in rows[i::n_files]:
                fh.write(json.dumps(r, separators=(",", ":")))
                fh.write("\n")


# --------------------------------------------------------------- corpus
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


class WordSource:
    """Draws words from a seeded vocabulary and hands out brand-new
    words on demand; ``fresh_text`` guarantees that no word 3-gram of
    a fresh document was ever produced before, so "fresh" is a fact of
    the input, not a likelihood."""

    def __init__(self, rng: random.Random, vocab_size: int = 60000):
        self.rng = rng
        seen: set[str] = set()
        vocab = []
        while len(vocab) < vocab_size:
            w = "".join(rng.choice(_LETTERS) for _ in range(rng.randint(3, 8)))
            if w not in seen:
                seen.add(w)
                vocab.append(w)
        self.vocab = vocab
        self.used = seen
        self.grams: set[tuple[str, str, str]] = set()
        self._new = 0

    def new_word(self) -> str:
        self._new += 1
        return f"zq{self._new:x}"  # outside the vocabulary by construction

    def fresh_text(self, n_words: int) -> str:
        while True:
            words = [self.rng.choice(self.vocab) for _ in range(n_words)]
            grams = set(zip(words, words[1:], words[2:]))
            if len(grams) == n_words - 2 and not grams & self.grams:
                self.grams |= grams
                return " ".join(words)

    def near_copy(self, text: str) -> str:
        """Substitute one interior word (never among the first or last
        two) with a brand-new word: exactly three 3-grams change."""
        words = text.split(" ")
        i = self.rng.randint(2, len(words) - 3)
        words[i] = self.new_word()
        out = " ".join(words)
        self.grams |= set(zip(words, words[1:], words[2:]))
        return out


def corpus_inputs(
    seed: int,
    n_seed: int,
    n_batches: int,
    batch_size: int,
    exact_frac: float,
    near_frac: float,
    min_words: int = 24,
    max_words: int = 48,
) -> dict:
    """Seed corpus plus ``n_batches`` incoming batches.

    Each batch holds planted exact copies and planted near-duplicates
    (one word substituted) of documents committed before it — the seed
    or an earlier batch's fresh documents — and fresh documents that
    share no word 3-gram with anything generated before them. Returns
    ``{"seed": [(doc_id, text)], "batches": [[(doc_id, text, kind)]],
    "near_jaccard": {doc_id: planted Jaccard}}``.
    """
    rng = random.Random(seed * 104729 + 3)
    words = WordSource(rng)
    seed_docs = [
        (i, words.fresh_text(rng.randint(min_words, max_words))) for i in range(n_seed)
    ]
    committed = [t for _, t in seed_docs]
    batches, near_j = [], {}
    next_id = 1_000_000
    for _ in range(n_batches):
        n_exact = int(batch_size * exact_frac)
        n_near = int(batch_size * near_frac)
        rows = []
        for _ in range(n_exact):
            rows.append((next_id, rng.choice(committed), "exact"))
            next_id += 1
        for _ in range(n_near):
            orig = rng.choice(committed)
            n = len(orig.split(" ")) - 2  # distinct 3-grams of the original
            rows.append((next_id, words.near_copy(orig), "near"))
            near_j[next_id] = (n - 3) / (n + 3)
            next_id += 1
        fresh = []
        for _ in range(batch_size - n_exact - n_near):
            t = words.fresh_text(rng.randint(min_words, max_words))
            rows.append((next_id, t, "fresh"))
            fresh.append(t)
            next_id += 1
        rng.shuffle(rows)
        batches.append(rows)
        committed.extend(fresh)
    return {"seed": seed_docs, "batches": batches, "near_jaccard": near_j}


def sha256_hex(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
