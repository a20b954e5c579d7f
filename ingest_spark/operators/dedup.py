"""Deduplication operators: exact, fingerprint, MinHash-LSH, SimHash.

The reference deduplicates by SHA-256 content hash against a Redis
hash-set, one network round trip per record
(producers/energinet/fetch_data_energinet.py:60-65,170-176 — T6), with
the dedup scope reset per fetch window (T7, :33-38,179). Here the
state store is Spark itself:

- exact dedup      -> hash column + ``dropDuplicates`` (a shuffle on the
                      hash key; AQE handles skew, scales linearly)
- windowed dedup   -> ``row_number() over (partition by key-window)``
- near-dup (text)  -> deterministic MinHash + LSH banding: shingle ->
                      k permuted min-hashes -> band -> shuffle on
                      (band, band-signature) so only colliding docs
                      ever meet. At 100 TB the candidate join touches
                      a vanishing fraction of the n^2 pair space.
- SimHash          -> weighted-bit signature (up to 28 bits — the
                      portable base hash's width), near-dup = small
                      Hamming distance within LSH-style bands.

Every hash is derived from SHA-256 (functions.hashing.stable_hash64)
so results are engine-reproducible — the DuckDB oracle recomputes
identical signatures in SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ingest_spark.functions.hashing import content_hash, stable_hash64
from ingest_spark.pinning import plan_input_bytes

# Input-size threshold above which dup_gram_doubling_profile's
# duplicate-key filter switches from the count window (fastest at
# bench scale, but concentrates one key's positions in one task) to
# the skew-safe aggregate + semi-join shape (r16, VERDICT r15 §Next
# #2; A/B numbers in tools/dup_only_skew_ab.py and
# OPTIMIZATION_r16.md). Same local-vs-cluster posture as
# pinning.pin_min_input_bytes, and like it read at call time.
def _skewsafe_min_input_bytes() -> int:
    return int(os.environ.get("SPARK_GRAFT_SKEWSAFE_MIN_INPUT_BYTES", str(1 << 30)))

# Mersenne prime 2^31-1: modulus for the MinHash permutation family
# h_i(x) = (a_i * x + b_i) mod P. The base hash is 28-bit
# (stable_hash64 with hex_digits=7) and a_i/b_i < 2^31, so a*h+b
# < 2^59 — no int64 overflow in Spark, no HUGEINT needed in the
# DuckDB oracle.
MERSENNE_P = (1 << 31) - 1
MINHASH_HEX_DIGITS = 7


def with_content_hash(
    df: DataFrame, cols: list[str] | None = None, out: str = "record_hash"
) -> DataFrame:
    """T5: stable whole-record identity column (sorted-column canon)."""
    return df.withColumn(out, content_hash(*sorted(cols or df.columns)))


def exact_dedup(
    df: DataFrame, cols: list[str] | None = None, keep_tiebreak: list[str] | None = None
) -> DataFrame:
    """T6/E1: exactly-once view of an at-least-once feed.

    With ``keep_tiebreak`` the survivor per duplicate group is
    deterministic (min over the tie-break columns) — required for
    oracle comparison; plain ``dropDuplicates`` keeps an arbitrary row.
    One shuffle; map-side partial aggregation applies.

    The no-tiebreak batch path dedups directly on the identity columns:
    materializing the sha256 first and deduping on it computes the same
    groups twice as expensively (the hash only pays for itself when it
    is REUSED — persisted identity, compact streaming state; that is
    ``with_content_hash`` + ``dropDuplicates(["record_hash"])``).
    """
    if not keep_tiebreak:
        return df.dropDuplicates(sorted(cols or df.columns))
    hashed = with_content_hash(df, cols)
    w = Window.partitionBy("record_hash").orderBy(*[F.col(c) for c in keep_tiebreak])
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "record_hash")
    )


def keep_best(
    df: DataFrame, group_col: str | Column, order_cols: list[Column]
) -> DataFrame:
    """Canonical-survivor selection with an explicit QUALITY order:
    one row per duplicate group, the best by ``order_cols`` (e.g.
    longest text, highest quality score, earliest crawl). The
    training-data complement of ``exact_dedup``'s min-key survivor —
    which duplicate you keep matters when the copies differ in
    truncation or boilerplate."""
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_within_window(
    df: DataFrame,
    key_cols: list[str],
    window_col: Column,
    order_cols: list[str],
    out_window: str = "dedup_window",
) -> DataFrame:
    """T7: dedup scoped to a (key, time-window) partition — the Spark
    form of the reference's per-day Redis-set reset. First row per
    (key, window) in ``order_cols`` order survives."""
    w = Window.partitionBy(*key_cols, out_window).orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn(out_window, window_col)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------- MinHash


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column.

    Implemented as a consuming regex with a lookahead capture
    (``(?=((?:[^ ]+ ){n-1}[^ ]+))[^ ]+ ?`` — each match captures the
    n-gram ahead, then consumes exactly one word so the next probe
    lands on the next word start) because plain JVM regex runs inside
    whole-stage codegen, ~8x faster than the equivalent higher-order
    ``transform`` which evaluates interpreted. r13: this form replaced
    the original variable-width-lookbehind anchor ``(?<=^| )(?=...)``
    — identical output (verified per-doc over sf0.1 for n=2/3/5 plus
    multi-space/edge fuzz; a mid-word probe can only occur after a
    word-start failure and then sees the same token structure, so it
    fails too) but 1.4x faster: the engine skips word-by-word instead
    of re-testing a lookbehind at every character. Docs with fewer
    than ``n`` words fall back to one whole-text shingle (matches the
    SQL oracle's CASE)."""
    c = F.col(text) if isinstance(text, str) else text
    pat = r"(?=((?:[^ ]+ ){" + str(n - 1) + r"}[^ ]+))[^ ]+ ?"
    grams = F.array_distinct(F.regexp_extract_all(c, F.lit(pat), 1))
    # gate the fallback on the REGEX result, not the word count:
    # consecutive spaces make split() count empty tokens while the
    # regex only matches runs of real words — gating on word count
    # would hand such docs an EMPTY shingle array, silently dropping
    # them from every downstream dedup join
    # fallback = the RAW text (not concat_ws of the split, which would
    # rebuild multi-space runs differently from the original)
    return F.when(F.size(grams) > 0, grams).otherwise(F.array(c))


def hash128(col: Column | str) -> Column:
    """128-bit compact identity key for engine-internal gram grouping:
    a struct of two independent xxhash64 passes. The second prepends a
    literal to shift the effective seed — ``xxhash64(lit(1), c)``, NOT
    ``xxhash64(c, lit(1))``: Spark folds children sequentially
    (``h = XXH64(child, h)``), so appending the literal would make the
    second hash a pure function of the first and preserve every
    collision. With two seeds a merge requires a simultaneous 64-bit
    collision under both (~2^-128 per pair) — negligible at any corpus
    size, unlike a single 64-bit key whose ~1e-4 odds at 72M grams
    grow quadratically with the corpus (ADVICE r6). Still 16 bytes to
    shuffle/sort vs ~30-byte gram strings."""
    c = F.col(col) if isinstance(col, str) else col
    return F.struct(
        F.xxhash64(c).alias("h1"), F.xxhash64(F.lit(1), c).alias("h2")
    )


def _perm_params(num_hashes: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the permutation family, derived
    from a tiny LCG so both engines can hard-code the same constants."""
    params, state = [], seed
    for _ in range(num_hashes):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state | 1  # odd
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state
        params.append((a, b))
    return params


def minhash_signature(
    text: Column | str, num_hashes: int = 16, shingle_n: int = 3
) -> Column:
    """array<bigint> MinHash signature as a single Column expression.

    NOTE: higher-order functions evaluate interpreted (outside
    whole-stage codegen) and each permutation re-evaluates the sha256
    transform — fine for small data / column-level composition, but the
    SCALE path is :func:`minhash_signatures_df` (explode + codegen'd
    hash aggregate). Both produce identical signatures.
    """
    sh = shingles(text, shingle_n)
    base = F.transform(sh, lambda s: stable_hash64(s, hex_digits=MINHASH_HEX_DIGITS))

    def perm(a: int, b: int):
        # closure factory: default-arg lambdas confuse PySpark's
        # higher-order-function arity inspection
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P)

    sig = [F.array_min(F.transform(base, perm(a, b))) for a, b in _perm_params(num_hashes)]
    return F.array(*sig)


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 4,
    shingle_n: int = 3,
    shingles_col: str | None = None,
) -> DataFrame:
    """Scale-path MinHash: one row per doc with columns m0..m{k-1}.

    Plan shape: explode shingles -> project the sha256 base hash ONCE
    per (doc, shingle) row (plain expression => whole-stage codegen)
    -> hash-aggregate k mins on doc_id with map-side partial
    aggregation. 10-20x faster than the interpreted higher-order-
    function form and linear in total shingle count.
    ``shingles_col`` names an array column already holding
    ``shingles(text_col, shingle_n)``; the text is then not re-split.
    """
    grams = F.col(shingles_col) if shingles_col else shingles(text_col, shingle_n)
    ex = df.select(
        F.col(id_col), F.explode(grams).alias("__shingle")
    ).select(
        id_col, stable_hash64("__shingle", hex_digits=MINHASH_HEX_DIGITS).alias("__h")
    )
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(_perm_params(num_hashes))
    ]
    return ex.groupBy(id_col).agg(*aggs)


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingles_col: str | None = None,
) -> DataFrame:
    """The LSH band table ``(__id, __bucket)`` — one row per (doc,
    band), bucket = band index + the band's signature rows. This is
    the PERSISTABLE near-dup state: store the corpus's band table
    once and every future batch probes it with an equi-join instead
    of re-signing the corpus (`ingest_spark.incremental` does exactly
    that). Factored out of :func:`minhash_lsh_candidates` so the
    within-corpus self-join and the cross-corpus probe share one
    banding definition. ``shingles_col``: as in
    :func:`minhash_signatures_df`."""
    assert num_hashes % bands == 0, (num_hashes, bands)
    # a remainder would silently drop trailing hash functions from the
    # banding, changing the candidate-probability curve unannounced
    rows = num_hashes // bands
    sig = minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_n, shingles_col)
    buckets = [
        F.concat_ws(
            ",",
            F.lit(str(b)),
            *[F.col(f"m{b * rows + r}").cast("string") for r in range(rows)],
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col(id_col).alias("__id"), F.explode(F.array(*buckets)).alias("__bucket")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """E2 scale path: LSH banding. Signature split into ``bands`` bands
    of ``num_hashes/bands`` rows; docs sharing any band signature become
    candidate pairs. Plan shape: narrow map (signatures) -> explode
    bands (xB) -> shuffle on (band, sig-hash) -> in-bucket self-join.
    Only bucket-mates join, so the pair space never materializes.
    Returns (id_a, id_b) candidate pairs, id_a < id_b.
    """
    # pin the banded table before the self-join: exchange reuse is NOT
    # guaranteed across the two sides (observed recompute — the whole
    # shingle-explode + signature aggregate ran twice), and the table
    # is tiny relative to its input (docs x bands rows)
    banded = minhash_band_table(
        df, id_col, text_col, num_hashes, bands, shingle_n
    ).localCheckpoint()
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(right, on="__bucket")
        .filter(F.col("l.__id") < F.col("r.__id"))
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )


# ---------------------------------------------------------------- SimHash


def simhash_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 16,
    shingle_n: int = 2,
    out: str = "simhash16",
) -> DataFrame:
    """SimHash over word shingles: per bit, sum +/-1 votes over shingle
    hashes; positive vote -> bit set. Built on the portable 28-bit
    hash, so the DuckDB oracle reproduces identical signatures — which
    also caps ``num_bits`` at 28: bits above the base hash's width
    would vote -1 on every shingle and come out constantly zero
    (dead bands that bucket ALL docs together).
    Near-dup = small Hamming distance (``hamming64``).

    Same scale plan as :func:`minhash_signatures_df`: explode ->
    hash-once projection -> codegen'd sum aggregates -> bit assembly.
    """
    assert 1 <= num_bits <= 28, f"num_bits must be in [1, 28], got {num_bits}"
    ex = df.select(
        F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("__shingle")
    ).select(
        id_col, stable_hash64("__shingle", hex_digits=MINHASH_HEX_DIGITS).alias("__h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright("__h", bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{bit}")
        for bit in range(num_bits)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("long")
    for bit in range(num_bits):
        sig = sig + F.when(F.col(f"__v{bit}") > 0, F.lit(1 << bit).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return agg.select(id_col, sig.alias(out))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: band the signature (``bands`` slices of
    ``num_bits/bands`` bits), equi-join bucket-mates, keep pairs within
    ``max_hamming``. By pigeonhole, any pair with < ``bands`` differing
    bits shares at least one identical band, so for
    ``max_hamming < bands`` the banding loses NO qualifying pair —
    exact result at ~1/2^(num_bits/bands) of the cross-product cost.
    """
    assert num_bits % bands == 0
    width = num_bits // bands
    mask = (1 << width) - 1
    sig = simhash_df(df, id_col, text_col, num_bits=num_bits)
    # pinned before the self-join: the vote aggregate otherwise runs
    # once per side (see minhash_lsh_candidates)
    banded = sig.select(
        F.col(id_col),
        F.col("simhash16").alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.shiftright(F.col("simhash16"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bucket"),
    ).localCheckpoint()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.__sig"), F.col("b.__sig")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    num_bits: int = 64,
    bands: int = 8,
    max_hamming: int = 4,
) -> DataFrame:
    """Banded Hamming self-join over a PRECOMPUTED signature column —
    the join stage of :func:`simhash_neardup_pairs`, factored out so
    non-text signatures (64-bit image perceptual hashes, audio
    fingerprints) reuse the same exact-by-pigeonhole plan: any pair
    with < ``bands`` differing bits shares at least one identical
    band, so for ``max_hamming < bands`` banding loses NO qualifying
    pair at ~1/2^(num_bits/bands) of the cross-product cost. Signed
    64-bit signatures are fine: ``shiftright`` is arithmetic but the
    band mask strips the replicated sign bits, and ``bit_count(xor)``
    is sign-agnostic."""
    assert num_bits % bands == 0
    assert max_hamming < bands, "banding is only exact for max_hamming < bands"
    width = num_bits // bands
    mask = (1 << width) - 1
    # pinned before the self-join so the signature computation runs
    # once, not once per side (see minhash_lsh_candidates)
    banded = sig.select(
        F.col(id_col),
        F.col(sig_col).alias("__sig"),
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        F.shiftright(F.col(sig_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__bucket"),
    ).localCheckpoint()
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming64(F.col("a.__sig"), F.col("b.__sig")).cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _pin_with_fingerprint(frame: DataFrame, *cols: str) -> tuple[DataFrame, tuple]:
    """``frame.localCheckpoint()`` plus an order-insensitive fingerprint
    of its rows, (count, exact decimal sum of xxhash64(cols)), read
    through an Observation on the checkpoint's own job — no second
    aggregate job over the pinned rows. Hashing first keeps it
    type-agnostic (ADVICE r15: a decimal sum of the ids themselves
    crashed on string ids under ANSI); the decimal(38,0) sum cannot
    overflow. Two labelings or edge sets over one node set compare
    equal up to the 2^-64-per-round xxhash64 collision bound. A fresh
    Observation per call: each one is filled by exactly one action."""
    obs = Observation()
    pinned = frame.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("h"),
    ).localCheckpoint()
    row = obs.get
    return pinned, (row["n"], row["h"])


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    algorithm: str = "label",
) -> DataFrame:
    """Connected components over a near-dup pair graph. Two scale
    paths, identical results (``tests/test_dedup.py`` pins equality):

    - ``algorithm="label"`` (default): iterative min-label propagation
      — each node repeatedly takes the minimum label among itself and
      its neighbors, converging in O(component diameter) rounds.
      Near-dup clusters are shallow, so this is a handful of shuffles,
      each a plain equi-join + hash aggregate. Weakness at web scale:
      a giant component (the 10^8-member boilerplate cluster) funnels
      every member's join row through its hub nodes' keys — degree
      skew in the per-round join.
    - ``algorithm="star"``: alternating large-star/small-star
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC 2014) — each round rewires edges toward neighborhood
      minima with ONLY per-node grouping (min is partial-aggregated
      map-side, so a 10^6-degree hub never concentrates rows on one
      reducer) and converges in O(log n) rounds regardless of
      diameter. The skew-safe choice for giant/deep components; see
      ``connected_components_star``.

    ``localCheckpoint`` truncates lineage per round so the plan does
    not snowball in either variant.

    Returns (id, component) for every node that appears in ``pairs``.
    """
    if algorithm == "star":
        return connected_components_star(pairs, id_a, id_b, max_iterations)
    if algorithm != "label":
        raise ValueError(f"unknown algorithm {algorithm!r} (label|star)")
    # r15 round restructure (guide §2.4 — remove operators, not tune
    # them). The edge set carries SELF-LOOPS, so "min over my own label
    # and my neighbors' labels" is ONE equi-join + ONE per-node min
    # aggregate per round — the old shape needed a third operator (a
    # left-join of old labels back onto the neighbor-min) purely to
    # re-attach each node's own label and a _changed flag. And because
    # labels start as the identity, round 1 needs no join at all:
    # min(dst) grouped by src IS the first propagation. Convergence is
    # read from a type-agnostic labeling fingerprint (r16, ADVICE r15:
    # the r15 decimal label-sum broke on string ids) observed on the
    # round's own checkpoint (`_pin_with_fingerprint`). Measured at
    # sf0.1: 8 -> ~5 jobs and 3 -> 2 operators per round, same rounds,
    # identical labels.
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(fwd.select(F.col("src").alias("src"), F.col("src").alias("dst")))
        .union(fwd.select(F.col("dst").alias("src"), F.col("dst").alias("dst")))
        .distinct()
        .localCheckpoint()
    )

    labels, prev_fp = _pin_with_fingerprint(
        edges.groupBy("src")
        .agg(F.min("dst").alias("component"))
        .withColumnRenamed("src", "id"),
        "id",
        "component",
    )
    # an empty graph is trivially converged; any non-empty graph needs
    # at least one confirming round (exactly like the old _changed
    # formulation, where round 1 of a non-empty graph always changed
    # at least one label)
    converged = prev_fp[0] == 0
    for _ in range(max_iterations - 1):
        if converged:
            break
        labels, cur_fp = _pin_with_fingerprint(
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("component"))
            .withColumnRenamed("src", "id"),
            "id",
            "component",
        )
        if cur_fp == prev_fp:
            converged = True
            break
        prev_fp = cur_fp
    if not converged:
        # Silent under-merging would make dedup_by_components keep extra
        # "canonical" rows on deep chain-shaped graphs — fail loudly.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            f"iterations (labels still changing); raise "
            "max_iterations (diameter exceeds the round budget)"
        )
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: for every node u, connect each STRICTLY
    LARGER neighbor to m = min(N(u) ∪ {u}). Emits (v, m) per such
    neighbor. Grouping is per-node with a min aggregate — map-side
    partial aggregation absorbs hub-degree skew."""
    bidir = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = bidir.groupBy("src").agg(
        F.least(F.min("dst"), F.col("src")).alias("m")
    )
    # no distinct here (r15): every duplicate this rewiring creates is
    # absorbed downstream — _small_star's min aggregate is duplicate-
    # insensitive and its terminal distinct (the round's one dedup
    # exchange, map-side partial-agg combined) collapses the rest, so
    # the intermediate dedup exchange bought nothing but a barrier.
    # Round outputs stay deduped (each round materializes after
    # _small_star's distinct), so duplicate volume never compounds
    # across rounds.
    return (
        bidir.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: attach each edge to its LARGER endpoint u
    with smaller neighbors N(u); connect every v ∈ N(u) ∪ {u} to
    m = min(N(u)). Same per-node min-aggregate shape as large-star."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = directed.groupBy("src").agg(F.min("dst").alias("m"))
    rewired = directed.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    center = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        rewired.union(center)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Skew-hardened connected components: alternating large-star /
    small-star rounds (Kiveris et al. 2014) until the edge set is a
    fixed point (every surviving edge then points node -> component
    minimum). Unlike min-label propagation there is NO join keyed by a
    component label — each round is two per-node groupBy-min passes
    plus an equi-join on the node id, and the round count is
    O(log n) in the worst case rather than O(diameter).

    Convergence is detected by an order-insensitive edge-set
    fingerprint (count + sum of xxhash64(src,dst) — engine-internal,
    never compared cross-engine), observed on each round's own
    checkpoint (`_pin_with_fingerprint`). Non-convergence raises,
    exactly like the label variant.

    Returns (id, component) for every node that appears in ``pairs``.
    """
    edges, fp = _pin_with_fingerprint(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        "src",
        "dst",
    )
    # all_nodes is referenced exactly once (the final left join) and
    # derives from the ALREADY-pinned initial edge set — keeping it
    # lazy costs one scan of materialized blocks at the end instead of
    # an extra eager checkpoint round trip up front (r15)
    initial_edges = edges
    all_nodes = (
        initial_edges.select(F.col("src").alias("id"))
        .union(initial_edges.select(F.col("dst").alias("id")))
        .distinct()
    )

    converged = False
    for _ in range(max_iterations):
        # r16 (VERDICT r15 §Next #3): materialize the large-star output
        # once per round. The executed round plan had ZERO
        # ReusedExchange — small-star references its ``directed``
        # orientation twice (min-build + join-probe), so the whole
        # large-star subtree (groupBy-min + equi-join over the full
        # edge set) re-executed ~4x per round (8 SortMergeJoins, 24
        # checkpoint re-reads observed at sf0.1). One localCheckpoint
        # costs a block write; re-execution costs three extra
        # full-edge-set aggregate+join passes per round. A/B
        # (tools/starcc_round_ab.py): synthetic 300k-spoke hub graph
        # 7.21 -> 6.37 s (labels identical), sf0.1 LSH graph flat;
        # pinning small-star's ``directed`` as well was measured WORSE
        # (8.0 s — the second round trip exceeds the trivial
        # orientation re-projection it saves).
        edges, new_fp = _pin_with_fingerprint(
            _small_star(_large_star(edges).localCheckpoint()), "src", "dst"
        )
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "alternating rounds; raise max_iterations"
        )
    # Fixed point: every edge is (member, component-min). Roots (the
    # minima themselves) have no outgoing edge — they label themselves.
    member_labels = edges.groupBy("src").agg(F.min("dst").alias("component"))
    return all_nodes.join(
        member_labels, all_nodes.id == member_labels.src, "left_outer"
    ).select("id", F.coalesce("component", F.col("id")).alias("component"))


def dedup_by_components(
    df: DataFrame, id_col: str, pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Collapse near-duplicate clusters to one canonical row each: the
    min-id member survives; rows in no pair survive trivially. This is
    the keep-one step real training-data dedup ends with (pairs alone
    are not a dedup)."""
    comps = connected_components(pairs, id_a, id_b).select(
        F.col("id").alias("__cc_id"), F.col("component").alias("__cc_component")
    )
    joined = df.join(comps, df[id_col] == F.col("__cc_id"), "left_outer")
    return (
        joined.filter(
            F.col("__cc_component").isNull() | (F.col(id_col) == F.col("__cc_component"))
        )
        .drop("__cc_id", "__cc_component")
    )


# ---------------------------------------------------------------- bloom (r5)
def _bloom_positions(key: Column | str, m: int, k: int) -> Column:
    """k SHA-256-derived bit positions in [0, m) for one key, as a
    deduplicated array. Each position is an independent 8-hex-digit
    (32-bit) slice of the key's SHA-256, mod m — engine-portable (the
    DuckDB oracle recomputes identical slices), unlike murmur-based
    library blooms. k <= 8 (sha256 yields eight 32-bit slices)."""
    if not 1 <= k <= 8:
        raise ValueError(f"k must be in [1, 8], got {k}")
    hx = F.sha2(F.col(key) if isinstance(key, str) else key, 256)
    return F.array_distinct(
        F.array(
            *[
                (F.conv(F.substring(hx, 1 + 8 * i, 8), 16, 10).cast("long") % m)
                for i in range(k)
            ]
        )
    )


def bloom_bits(df: DataFrame, key_col: str, m: int = 1 << 20, k: int = 3) -> DataFrame:
    """Build side of a declarative Bloom filter: the DISTINCT set bit
    positions (column ``__pos``) for every key in ``df``. At most
    ``m`` rows regardless of corpus size — the whole point: corpus
    membership state compresses to a broadcastable table (m = 2^20 ->
    <= 8 MB of longs) even when the corpus itself is 100 TB.

    This is Spark's runtime bloom-join idea (InjectRuntimeFilter)
    expressed declaratively, so it works across engines, survives
    checkpointing (the bits table is just a DataFrame you can persist
    and reuse for every future incremental batch), and supports the
    no-false-negative contract tested in test_dedup.py."""
    return df.select(
        F.explode(_bloom_positions(key_col, m, k)).alias("__pos")
    ).distinct()


def bloom_candidates(
    probe: DataFrame,
    key_col: str,
    bits: DataFrame,
    m: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Probe side: the DISTINCT keys of ``probe`` whose k positions are
    ALL present in ``bits`` (possible members; false positives at the
    classic (1-e^{-kn/m})^k rate, never false negatives). Callers
    exact-confirm candidates with an equi-join — the bloom's job is to
    shrink that join's probe input by the non-member fraction before
    any corpus-sized shuffle happens.

    Plan: explode probe positions -> broadcast-join the bits table ->
    per-key hit count == position count. No corpus-side work at probe
    time at all."""
    pos = probe.select(
        F.col(key_col).alias("__key"),
        F.explode(_bloom_positions(key_col, m, k)).alias("__pos"),
    ).distinct()
    b = bits.withColumnRenamed("__pos", "__bpos")
    hit = (
        pos.join(F.broadcast(b), pos["__pos"] == b["__bpos"], "left_outer")
        .groupBy("__key")
        .agg(
            F.count(F.lit(1)).alias("__n_pos"),
            F.count("__bpos").alias("__n_hit"),
        )
    )
    return (
        hit.filter(F.col("__n_hit") == F.col("__n_pos"))
        .select(F.col("__key").alias(key_col))
    )


# ------------------------------------------------- salted dup flags (r6)
def salted_dup_flags(
    rows: DataFrame,
    key_col: str,
    id_col: str,
    salt: int = 32,
    cap: int = 1024,
) -> DataFrame:
    """Per-row "does my key occur >= 2 times" flag with BOUNDED task
    sizes — the skew-safe core of `duplicate_passage_fraction_skewsafe`
    (VERDICT r5 §Next #3), parameterized so tests can force the heavy
    path at tiny cap.

    Two-level salted window count:
    1. window over (key, salt=hash(id)%salt): per-bucket partial count
       c_p — no task holds more than ~1/salt of even the heaviest key —
       plus a row_number electing one representative per bucket.
    2. Buckets with c_p >= cap (>= 2) are proven duplicated; their
       rows short-circuit, contributing ONE representative weighted
       c_p to level 2. Window over key on (light rows + heavy reps):
       sum(weight) is the key's exact total count; partition size
       <= salt*(cap-1) + salt BY CONSTRUCTION. Light rows flag
       dup = (total >= 2).

    Returns the input row set as ``(id_col, is_dup)`` — one output row
    per input row. Requires cap >= 2 (cap < 2 would mark singleton
    buckets heavy and break the exact-total accounting)."""
    if cap < 2:
        raise ValueError(f"cap must be >= 2, got {cap}")
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    base = rows.select(
        F.col(id_col).alias("__id"), F.col(key_col).alias("__key")
    ).withColumn("__salt", F.pmod(F.xxhash64(F.col("__id"), F.lit(7)), F.lit(salt)))
    w1 = Window.partitionBy("__key", "__salt")
    step1 = base.withColumn("__cp", F.count(F.lit(1)).over(w1)).withColumn(
        "__rn", F.row_number().over(w1.orderBy("__id"))
    )
    heavy = F.col("__cp") >= cap
    lvl2 = (
        step1.filter(~heavy | (F.col("__rn") == 1))
        .withColumn("__w", F.when(heavy, F.col("__cp")).otherwise(F.lit(1)))
        .withColumn("__tot", F.sum("__w").over(Window.partitionBy("__key")))
    )
    return (
        lvl2.filter(~heavy)
        .select("__id", (F.col("__tot") >= 2).alias("is_dup"))
        .unionByName(step1.filter(heavy).select("__id", F.lit(True).alias("is_dup")))
        .withColumnRenamed("__id", id_col)
    )


def dup_gram_doubling_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    base_l: int = 10,
    levels: int = 4,
) -> DataFrame:
    """Longest-duplicated-passage profile via PREFIX DOUBLING — the
    suffix-array construction technique (Manber–Myers), distributed.

    ``exact_substring_spans`` answers the fixed-L question (which
    10-word windows are duplicated) and is measured at its
    architectural floor for that contract (PLANS.md r14: every exact
    fixed-L algorithm must globally count all positional grams once —
    a suffix array cannot reduce that single exchange, only add log n
    sort rounds on top). What the suffix array EXISTS for is the
    variable-length question — how LONG is each doc's longest
    duplicated passage — and its core trick ports to Spark directly:
    a 2L-gram at position p equals one at q iff their L-halves match
    pairwise, so dup flags at length 2L derive from dup flags at
    length L by one doc-local adjacency join (pos, pos+L) plus one
    global count on the PAIR of L-level keys. No 2L strings are ever
    built or shuffled — level keys are nested structs of the base
    128-bit gram hashes (the rank-pair of Manber–Myers).

    Exactness: equality at every level reduces to base-gram string
    equality (mod the ~2^-128 hash128 collision bound shared with
    exact_substring_spans). Candidate sets shrink monotonically —
    dup positions at 2L are a subset of dup positions at L — so after
    the first exchange (the same volume the fixed-L op must pay),
    every doubling round exchanges only surviving candidates:
    geometrically less work per level on real corpora.

    Per doc, returns ``max_dup_len``: the largest ladder length
    (base_l * 2^k, k < levels) at which the doc still holds a
    globally-duplicated gram; 0 if even no base_l-gram repeats.
    The ladder is a lower bound truncated to powers of two — the
    binary-search refinement between rungs is the same join shape
    and is omitted deliberately (the profile's consumers gate on
    thresholds, not exact lengths)."""
    from ingest_spark.operators.text import word_ngrams_fast
    from ingest_spark.pinning import pin

    words = F.split(text_col, " ")
    # two-path gram scan (both yield TRUE word positions, which the
    # doubling adjacency needs — the plain regex array index is only a
    # word position when no multi-space gap shifts it):
    # - fast path (docs with no empty split-token, i.e. single-spaced):
    #   the codegen'd regex extractor; with every word start valid,
    #   array index == word position. ~8x the interpreted builder
    #   (word_ngrams_fast docstring; re-measured here 28.2s -> 3.7s
    #   per sf1 scan).
    # - slow path (multi-space docs only): positional transform+slice
    #   builder that skips grams spanning a gap, keeping real indices.
    has_gap = F.array_contains(words, "")
    fast = (
        df.filter(~has_gap)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(word_ngrams_fast(text_col, base_l)).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            hash128(F.col("gram")).alias("h"),
        )
    )
    slow_grams = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(words) - (base_l - 1), F.lit(0))),
            lambda i: F.struct(
                i.alias("pos"),
                F.when(
                    ~F.exists(F.slice(words, i, base_l), lambda w: w == ""),
                    F.array_join(F.slice(words, i, base_l), " "),
                ).alias("gram"),
            ),
        ),
        lambda s: s["gram"].isNotNull(),
    )
    slow = (
        df.filter(has_gap)
        .select(F.col(id_col).alias("doc_id"), F.explode(slow_grams).alias("g"))
        .select(
            "doc_id",
            F.col("g.pos").cast("long").alias("pos"),
            hash128(F.col("g.gram")).alias("h"),
        )
    )
    pg = fast.unionByName(slow)

    # Shape switch for the duplicate-key filter (r16, VERDICT r15
    # §Next #2). The r15 window puts EVERY position of one key into a
    # single task — fastest at bench scale (dup_only_skew_ab: window
    # 0.77/0.81 s uniform/10%-hot vs semi 1.21/1.11 vs salted 1.74/1.59
    # at 4M rows; still fastest-or-tied at a 25%-single-key 16M-row
    # fixture) because a local task swallows a few hundred thousand
    # rows, but at 100 TB a boilerplate n-gram holds ~1e9+ positions
    # and the window shape has no skew escape. Above the input-size
    # threshold the semi shape applies: groupBy(h) partial-aggregates
    # map-side (the hot key collapses per map task), only keys with
    # count >= 2 survive into the join's SMALL side, and AQE
    # broadcasts it when it fits or skew-splits the candidate side
    # when it does not — no stage ever holds one key's rows in one
    # task. Identical rows either way (same >= 2 predicate;
    # fingerprint-asserted in the A/B and oracle-hash-checked).
    corpus_bytes = plan_input_bytes(df)
    skew_safe = (
        corpus_bytes is None or corpus_bytes >= _skewsafe_min_input_bytes()
    )

    def _dup_only(cand: DataFrame) -> DataFrame:
        """Keep candidates whose key occurs >= 2 times corpus-wide.

        r15 (guide §2.4): ONE window count over the key instead of
        groupBy + join-back — the aggregate-then-rejoin shape paid two
        full-volume exchanges per level (grams are mostly unique, so
        map-side combine barely shrank the agg side, and the join side
        re-shuffled every candidate); the count-over-partition window
        pays exactly one exchange and keeps the same rows (same
        >= 2 predicate over the same per-key row count). It also
        drops the per-level pin of ``cand``: the window references its
        input once, so there is nothing left to double-evaluate.
        r16: above the corpus-size threshold the skew-safe semi shape
        replaces the window (see the switch comment above)."""
        if skew_safe:
            dup_keys = (
                cand.groupBy("h")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") >= 2)
                .select("h")
            )
            return cand.join(dup_keys, "h", "semi").select(
                "doc_id", "pos", "h"
            )
        w = Window.partitionBy("h")
        return (
            cand.withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(F.col("__n") >= 2)
            .select("doc_id", "pos", "h")
        )

    # level 0 pays the one unavoidable full-corpus exchange (same
    # volume as exact_substring_spans' seed count); the pin bounds
    # every later level to the surviving-candidate frame
    dup = pin(_dup_only(pg))
    # per-level hit frames carry RAW (doc_id, dup_len) rows — the
    # final groupBy(doc_id).max() collapses duplicates map-side in one
    # pass, so the old per-level .distinct() exchanges were pure
    # overhead (r15, guide §2.4: 4 distinct exchanges -> 0)
    hits = [
        dup.select("doc_id").withColumn(
            "dup_len", F.lit(base_l).cast("long")
        )
    ]
    span = base_l
    for lvl in range(levels - 1):
        a, b = dup.alias("a"), dup.alias("b")
        cand = a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + span),
        ).select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.pos").alias("pos"),
            F.struct(
                F.col("a.h").alias("lo"), F.col("b.h").alias("hi")
            ).alias("h"),
        )
        dup = _dup_only(cand)
        if lvl < levels - 2:
            # intermediate levels feed BOTH self-join sides of the
            # next level plus their hit frame (3 references) — pin.
            # The LAST level is referenced once (its hit frame only),
            # so pinning it would be a pure extra materialization
            # round trip (r15)
            dup = pin(dup)
        span *= 2
        hits.append(
            dup.select("doc_id").withColumn(
                "dup_len", F.lit(span).cast("long")
            )
        )
    lengths = hits[0]
    for extra in hits[1:]:
        lengths = lengths.unionByName(extra)
    prof = lengths.groupBy("doc_id").agg(F.max("dup_len").alias("max_dup_len"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(prof, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("max_dup_len", F.lit(0).cast("long")).alias("max_dup_len"),
        )
    )
