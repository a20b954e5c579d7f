"""Text-analysis operators (extension E4): stats, quality scoring,
language ID, token counting, fingerprinting.

All hot-path expressions are built-in pyspark.sql.functions (JVM,
whole-stage codegen) — at 100 TB these are scan-bound narrow maps with
zero shuffle. The only Python is the optional Pandas-UDF hook for
heavier NLP, which moves Arrow batches, never rows.

The reference's only text handling is JSONSTAT label extraction
(producers/statbank/fetch_data_statbank.py:49-65); this module is the
BASELINE.json-mandated extension for LLM-training-data pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ingest_spark.functions.hashing import normalized_fingerprint

# Tiny embedded stopword lists for the language-ID heuristic. Counting
# occurrences of " w " bounded patterns is pure string arithmetic and
# reproducible in any SQL engine (the oracle recomputes it).
EN_STOPWORDS = ("the", "and", "of", "to", "is", "in", "that", "it")
DA_STOPWORDS = ("og", "er", "det", "en", "til", "af", "ikke", "som")


def _occurrences(text: Column, word: str) -> Column:
    """# of word-token occurrences of ``word``, counted by filtering
    the split array — exact for ADJACENT repeats ("the the the" = 3),
    where the replace-" w "-and-measure trick undercounts because
    non-overlapping matches consume the shared boundary space.
    Portable: the oracle uses len(list_filter(string_split(...)))."""
    return F.size(F.filter(F.split(text, " "), lambda x: x == word)).cast("int")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats: chars, words, distinct words, avg word
    length, type-token ratio. Narrow map, no shuffle."""
    t = F.col(text_col)
    words = F.split(t, " ")
    return df.withColumns(
        {
            "n_chars_calc": F.length(t),
            "n_words": F.size(words),
            "n_distinct_words": F.size(F.array_distinct(words)),
            # scaled-integer division (x*10^4 div n / 10^4) instead of
            # round(x/n, 4): int/int ratios land on EXACT 5-decimal
            # midpoints whenever n is a power of two (1/32 = .03125),
            # where Spark (shortest-decimal) and other engines (binary)
            # round in opposite directions
            "avg_word_len": (
                ((F.length(t) - F.size(words) + 1) * 10000 / F.size(words))
                .cast("long")
                .cast("double")
                / 10000
            ),
            "type_token_ratio": (
                (F.size(F.array_distinct(words)) * 10000 / F.size(words))
                .cast("long")
                .cast("double")
                / 10000
            ),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality score in [0,1]: penalize very short docs, low
    lexical diversity and stopword-free (likely non-linguistic) text.
    The standard cheap pre-filter before expensive dedup/training."""
    t = F.col(text_col)
    words = F.split(t, " ")
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    stop_hits = sum((_occurrences(t, w) for w in EN_STOPWORDS), F.lit(0))
    # integer micro-units end-to-end (score = micros / 1e6): the three
    # ratio terms are small-int fractions that hit exact decimal
    # midpoints for power-of-two word counts, where double rounding
    # diverges across engines. 0.4*min(w/20,1) -> min(20000w, 400000),
    # 0.4*min(2d/w,1) -> min(800000d div w, 400000),
    # 0.2*min(10s/w,1) -> min(2000000s div w, 200000).
    t1 = F.least(n_words.cast("long") * 20000, F.lit(400000).cast("long"))
    t2 = F.least(
        (n_distinct.cast("long") * 800000 / n_words).cast("long"),
        F.lit(400000).cast("long"),
    )
    t3 = F.least(
        (stop_hits.cast("long") * 2000000 / n_words).cast("long"),
        F.lit(200000).cast("long"),
    )
    return df.withColumn(
        "quality_score", (t1 + t2 + t3).cast("double") / 1_000_000
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword-heuristic language ID: argmax of per-language
    stopword occurrence counts, 'und' (undetermined) on a zero/tie."""
    t = F.lower(F.col(text_col))
    en = sum((_occurrences(t, w) for w in EN_STOPWORDS), F.lit(0))
    da = sum((_occurrences(t, w) for w in DA_STOPWORDS), F.lit(0))
    return (
        df.withColumn("en_hits", en)
        .withColumn("da_hits", da)
        .withColumn(
            "lang_pred",
            F.when(F.col("en_hits") > F.col("da_hits"), F.lit("en"))
            .when(F.col("da_hits") > F.col("en_hits"), F.lit("da"))
            .otherwise(F.lit("und")),
        )
    )


# GPT-2-style pre-tokenizer, restricted to the RE2-and-Java common
# subset (no lookahead): a token is an optionally-space-prefixed run of
# letters, digits, or other non-space symbols. On ASCII corpora this
# reproduces the BPE pre-tokenization split exactly; the merges step
# below it only subdivides, so the count is the standard budget proxy.
PRETOK_PATTERN = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counts: whitespace tokens, a BPE-style pre-tokenizer regex
    count, and the ceil(chars/4) estimate (the cheap proxy when even a
    regex pass is too much). Exact BPE with a merges table would be a
    Pandas UDF over the same pre-token split."""
    t = F.col(text_col)
    ws = F.size(F.split(t, " "))
    return df.withColumns(
        {
            "ws_tokens": ws,
            "pretok_tokens": F.size(F.regexp_extract_all(t, F.lit(PRETOK_PATTERN), 0)),
            "bpe_est_tokens": F.ceil(F.length(t) / F.lit(4.0)).cast("bigint"),
        }
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalization fingerprint (case/space/punct-insensitive identity)."""
    return df.withColumn("fingerprint", normalized_fingerprint(text_col))


def word_ngrams(text: Column | str, n: int) -> Column:
    """Ordered word n-grams (non-distinct) — shared with dedup.shingles
    semantics but kept positional for TF-style uses.

    HOT-PATH CALLERS: use ``word_ngrams_fast`` — this HOF form
    evaluates interpreted (measured 8x slower at sf0.1); it remains
    for multi-space-exact semantics (it includes empty split tokens
    in grams, matching oracles written over raw string_split)."""
    words = F.split(F.col(text) if isinstance(text, str) else text, " ")
    k = F.size(words) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    gram = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(words, i + j + 1) for j in range(n)])
    )
    return F.when(k > 0, gram).otherwise(F.array())


def repetition_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Boilerplate/spam signal: share of the document taken by its
    single most-repeated word n-gram. Template pages and keyword-stuffed
    spam score high; natural prose scores near 1/total.

    Plan: explode n-grams -> (doc, gram) hash aggregate -> (doc) max +
    sum — two shuffles on doc_id, both with map-side combine. The
    ratio is scaled-integer division (portable midpoint behavior)."""
    grams = df.select(
        F.col(id_col), F.explode(word_ngrams_fast(text_col, n)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
    return per_gram.groupBy(id_col).agg(
        F.max("cnt").cast("long").alias("max_gram_count"),
        F.sum("cnt").cast("long").alias("total_grams"),
        (
            (F.max("cnt") * 1000000 / F.sum("cnt")).cast("long").cast("double")
            / 1000000
        ).alias("repetition_ratio"),
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 16,
    stride: int = 8,
    carry: list[str] | None = None,
) -> DataFrame:
    """Training-sample chunker: split each document into token windows
    of ``size`` whitespace tokens advancing by ``stride`` (overlapping
    when stride < size), the standard pretokenization step that turns a
    variable-length corpus into fixed-shape training samples.

    Plan: one narrow projection (split + sequence) then a generate
    (explode) — no shuffle at all; chunking is embarrassingly parallel
    and stays inside whole-stage codegen. At 100 TB the only knob is
    input split size (``files.maxPartitionBytes``); output is ~
    size/stride x the input rows but each row is narrow.
    Generalizes the reference's day-window chunking (S3,
    producers/energinet/fetch_data_energinet.py:139-186) from time
    ranges to token ranges.

    ``carry`` names extra input columns to pass through unchanged
    (e.g. a ``source`` label). Carrying them through the projection is
    free — it widens the explode output by a few bytes — whereas
    re-joining them onto the chunks afterwards re-evaluates the whole
    upstream subtree (Spark does not dedupe common subplans), which is
    exactly the duplicated-gate regression VERDICT r9 §Wrong #1 flagged
    in curation_e2e."""
    extra = list(carry or [])
    # carried names must not collide with generated output columns or
    # the id column (ADVICE r10): a carry of e.g. "chunk_id" would
    # silently produce duplicate/ambiguous columns downstream.
    reserved = {id_col, "chunk_id", "chunk_text", "n_tokens", "_toks", "_start"}
    clash = [c for c in extra if c in reserved]
    if clash:
        raise ValueError(
            f"chunk_tokens carry column(s) {clash} collide with generated "
            f"columns/id_col {sorted(reserved)}; rename before chunking"
        )
    toks = F.split(F.col(text_col), " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride))
    chunked = df.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_id", "_start"),
    )
    return chunked.select(
        F.col(id_col),
        *[F.col(c) for c in extra],
        F.col("chunk_id"),
        F.concat_ws(" ", F.slice("_toks", F.col("_start"), size)).alias("chunk_text"),
        F.size(F.slice("_toks", F.col("_start"), size)).alias("n_tokens"),
    )


EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing: replace email addresses and phone numbers with
    typed placeholders and count the redactions. Both patterns are
    RE2-safe (no backtracking constructs), so the same regex runs on
    Spark (Java regex), DuckDB (RE2), and any engine in between —
    and linear-time matching is what you want on adversarial 100 TB
    web text anyway.

    Plan: two chained regexp_replace + two regexp_count, all inside
    one codegen'd projection; no shuffle."""
    c = F.col(text_col)
    return df.withColumn(
        "n_emails", F.regexp_count(c, F.lit(EMAIL_RE)).cast("int")
    ).withColumn(
        "n_phones", F.regexp_count(c, F.lit(PHONE_RE)).cast("int")
    ).withColumn(
        "redacted",
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
    )


def corpus_common_words(df: DataFrame, text_col: str = "text", k: int = 20) -> DataFrame:
    """Top-``k`` words by document frequency, as ONE row holding a
    sorted array column ``__common`` — the corpus-adaptive stand-in
    for a fixed stopword list in ``gopher_filters``. Gopher's
    "contains >= 2 stopwords" rule is really "contains the corpus's
    glue words"; on an English corpus the top of the document-
    frequency table IS the stopword list, and deriving it from the
    data makes the gate meaningful on any language or synthetic
    vocabulary. Ties break by word so engines agree exactly.

    Plan shape: explode distinct words -> partial-agg'd count ->
    TakeOrderedAndProject(k) -> single-row collect_list. The result
    is broadcast into the gate with a one-row cross join, so at
    100 TB this costs one word-frequency aggregate (the same shuffle
    tf-idf already pays) and no per-doc join."""
    return (
        df.select(F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("w"))
        .limit(k)
        .agg(F.sort_array(F.collect_list("w")).alias("__common"))
    )


def gopher_filters(
    df: DataFrame, text_col: str = "text", common_words_col: str | None = None
) -> DataFrame:
    """Gopher-style document quality gate (Rae et al. 2021, table A1,
    adapted to thresholds that discriminate on word-token corpora):
    word-count bounds, mean-word-length bounds, minimum distinct
    stopwords, and a repetition (type-token) floor, each surfaced as
    its own flag plus a combined ``keep``. Unlike ``quality_score``
    (one blended scalar) this is the hard PASS/FAIL cascade a curation
    pipeline applies before spending money on dedup or training.

    All four rules are narrow codegen'd projections over one split()
    — no shuffle, scan-bound at 100 TB. Ratios use scaled-integer
    division (exact midpoints, portable across engines).

    ``common_words_col`` names an array<string> column (normally the
    broadcast ``corpus_common_words`` row) to use as the stopword
    list instead of the static English ``EN_STOPWORDS`` — the
    corpus-adaptive form of the same rule."""
    t = F.col(text_col)
    words = F.split(t, " ")
    n_words = F.size(words)
    # single-space corpora: total word chars = chars - (words - 1)
    mean_wlen_c = ((F.length(t) - n_words + 1) * 10000 / n_words).cast("long")
    ttr_c = (F.size(F.array_distinct(words)) * 10000 / n_words).cast("long")
    if common_words_col is not None:
        n_stop_distinct = F.size(
            F.array_intersect(F.array_distinct(words), F.col(common_words_col))
        )
    else:
        n_stop_distinct = sum(
            ((_occurrences(t, w) > 0).cast("int") for w in EN_STOPWORDS),
            F.lit(0),
        )
    out = df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": mean_wlen_c.cast("double") / 10000,
            "type_token_ratio": ttr_c.cast("double") / 10000,
            "n_stop_distinct": n_stop_distinct,
            "pass_word_count": (n_words >= 20) & (n_words <= 1000),
            "pass_mean_word_len": (mean_wlen_c >= 20000) & (mean_wlen_c <= 120000),
            "pass_stopwords": n_stop_distinct >= 2,
            "pass_repetition": ttr_c >= 2500,
        }
    )
    return out.withColumn(
        "keep",
        F.col("pass_word_count")
        & F.col("pass_mean_word_len")
        & F.col("pass_stopwords")
        & F.col("pass_repetition"),
    )


def pack_sequences(
    df: DataFrame,
    tokens_col: str = "n_tokens",
    part_col: str = "source",
    order_col: str = "doc_id",
    budget: int = 2048,
) -> DataFrame:
    """LLM sequence packing (concat-and-chunk): documents are laid end
    to end in ``order_col`` order within each ``part_col`` shard and
    cut into ``budget``-token training sequences; a document belongs to
    the bin where its first token lands. Returns per-bin occupancy —
    the planning table for how many fixed-shape samples a corpus yields
    and how full each is.

    Plan: ONE shuffle (hash by shard), then a running sum inside each
    shard partition and a map-side-combinable group-by — the window is
    partitioned by shard, so no single-partition collapse; at 100 TB
    shards (source/domain/date) are the natural packing unit and the
    cumsum never crosses executors. Generalizes the reference's
    flush.size record-batching (cluster/configuration.json:8-9) from
    record counts to token budgets."""
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    toks = F.col(tokens_col).cast("long")
    packed = df.withColumn("_cum", F.sum(toks).over(w)).withColumn(
        "bin", F.floor((F.col("_cum") - toks) / F.lit(budget))
    )
    return packed.groupBy(part_col, "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
        F.min(order_col).alias("first_doc"),
        F.max(order_col).alias("last_doc"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document to a fixed term query — the
    retrieval scorer behind corpus search / RAG pre-selection. Term
    frequencies are exact token-filter counts (adjacent-repeat safe);
    document frequency and average doc length come from ONE corpus-wide
    scalar aggregate that is broadcast back onto the scan, so the whole
    scorer costs one pass over the corpus plus a 1-row broadcast — no
    per-term join, no inverted-index shuffle. At 100 TB the scalar agg
    is a partial-merge reduce of ~(len(terms)+2) longs per partition.

    The score formula runs in doubles (idf = ln(1 + (N-df+.5)/(df+.5)),
    Robertson-Sparck-Jones '+1' variant, always positive) with a fixed
    term-summation order, so any IEEE-754 engine reproduces it bit-for-
    bit up to the final rounding."""
    t = F.col(text_col)
    n_words = F.size(F.split(t, " "))
    tf_cols = {f"_tf_{i}": _occurrences(t, w) for i, w in enumerate(query_terms)}
    scored = df.withColumns(tf_cols).withColumn("_dl", n_words)
    stats = scored.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg("_dl").alias("_avgdl"),
        *[
            F.sum((F.col(c) > 0).cast("long")).alias(f"_df_{i}")
            for i, c in enumerate(tf_cols)
        ],
    )
    joined = scored.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        tf = F.col(f"_tf_{i}").cast("double")
        dfreq = F.col(f"_df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n_docs") - dfreq + 0.5) / (dfreq + 0.5)
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
        )
        score = score + idf * (tf * F.lit(k1 + 1.0)) / denom
    return joined.withColumn("bm25", F.round(score, 6))


def bm25_multiquery(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> DataFrame:
    """BM25 top-k per query for a TABLE of multi-term queries
    (VERDICT r4 §Next #6) — the production retrieval shape, vs
    ``bm25_scores``'s single fixed query.

    ``queries`` is (query_id, term), one row per term. Plan, designed
    for a 100 TB corpus against a small query table:

    1. **Doc-frequency pruning at the scan**: corpus tokens join the
       BROADCAST query-term table immediately after the explode, so
       every token not used by any query dies before the first
       shuffle — the inverted index is built only for query terms.
    2. One hash aggregate builds per-(query,doc,term) tf with the doc
       length riding along (it is constant per doc, so it groups for
       free — no separate doc-length join).
    3. Per-term document frequencies (count of distinct docs per
       term) and the corpus-wide (n_docs, avgdl) scalar are tiny
       aggregates, broadcast back onto the matched set.
    4. Per-term scores are fixed to integer micros
       (``round(score*1e6) -> long``) BEFORE the per-(query,doc) sum:
       integer addition is order-independent, so the cross-row sum is
       deterministic in any engine — the repo's integer-arithmetic
       rule applied to additive scoring.
    5. Top-k per query is a window partitioned BY QUERY (row_number
       <= k) — many queries spread across partitions, never a global
       single-partition sort.

    Returns (query_id, doc_id, bm25_micros, bm25, rank).
    """
    t = F.col(text_col)
    words = docs.select(
        F.col(id_col),
        F.size(F.split(t, " ")).cast("double").alias("_dl"),
        F.explode(F.split(t, " ")).alias("term"),
    )
    matched = words.join(F.broadcast(queries), "term")
    # r15: tf is referenced twice (the per-term score probe AND the
    # dfreq build), and ReuseExchange does not dedupe the two subplans
    # (column pruning diverges them) — unpinned, the corpus scan +
    # explode + broadcast-prune + tf aggregate executed TWICE per run
    # (observed in the executed plan: the full subtree appears twice).
    # Pin at the (query, doc, term) grain — strictly smaller than the
    # token grain — exactly the adjudicated tfidf r12 fix (ledger
    # text_shape_ab: 1.85x at sf1 / 1.66x at sf10 for the same shape).
    # r16: gated on input size (VERDICT r15 §Next #1 — the driver's
    # bench regressed 0.75x with the unconditional pin and this
    # round's alternating collect A/Bs at sf0.1/sf1 were a tie at
    # best; below pinning.pin_min_input_bytes() the duplicate tf subtree
    # is cheaper than its materialization round trip).
    from ingest_spark.pinning import pin_if_big

    # sized by the corpus alone: the query table is a small
    # driver-built frame whose plan leaf carries no file size
    tf = pin_if_big(
        matched.groupBy("query_id", id_col, "term", "_dl").agg(
            F.count(F.lit(1)).cast("double").alias("_tf")
        ),
        sized_by=docs,
    )
    dfreq = (
        tf.groupBy("term")
        .agg(F.countDistinct(id_col).cast("double").alias("_df"))
    )
    stats = docs.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        F.avg(F.size(F.split(t, " "))).alias("_avgdl"),
    )
    idf = F.log(
        F.lit(1.0) + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    denom = F.col("_tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl") / F.col("_avgdl")
    )
    term_score = idf * (F.col("_tf") * F.lit(k1 + 1.0)) / denom
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            id_col,
            F.round(term_score * 1_000_000).cast("long").alias("_micros"),
        )
    )
    summed = per_term.groupBy("query_id", id_col).agg(
        F.sum("_micros").alias("bm25_micros")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25_micros").desc(), F.col(id_col)
    )
    return (
        summed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            "query_id",
            id_col,
            "bm25_micros",
            (F.col("bm25_micros").cast("double") / 1_000_000).alias("bm25"),
            "rank",
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark-contamination scan: corpus documents sharing at least
    one word n-gram with any benchmark document, with the count of
    distinct shared grams. The decontamination primitive every
    training-data pipeline runs before shipping a corpus.

    Plan: distinct n-grams per side -> equi-join on the gram -> count
    per corpus doc. The benchmark side (eval sets are small) is
    broadcast, so the corpus never shuffles. At 100 TB, join on
    ``stable_hash64(gram)`` instead of the string to cut shuffle/
    broadcast width ~8x; string join kept here for oracle exactness.
    """
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(word_ngrams_fast(text_col, n)).alias("gram")
    ).distinct()
    bench_grams = (
        benchmark.select(F.explode(word_ngrams_fast(text_col, n)).alias("gram"))
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.countDistinct("gram").alias("shared_ngrams"))
    )


# ----------------------------------------------------------- BPE (r6)
def _merge_pair_expr(syms_col: str, left: str, right: str):
    """Replace every adjacent (left, right) in a symbol array with the
    merged symbol — a JVM-side aggregate fold (left-to-right, eager
    re-merge like the reference BPE), no Python in the loop."""
    import json as _json

    a, b = _json.dumps(left), _json.dumps(right)
    return F.expr(
        f"aggregate({syms_col}, cast(array() as array<string>), "
        f"(acc, x) -> CASE WHEN size(acc) > 0 "
        f"AND element_at(acc, -1) = {a} AND x = {b} "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array({a} || {b})) "
        f"ELSE concat(acc, array(x)) END)"
    )


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_count: int = 2,
) -> list[tuple[int, str, str, int]]:
    """Byte-pair-encoding tokenizer training (Sennrich et al. 2016)
    with the CORPUS-SCALE architecture: one corpus pass builds the
    weighted word-type vocabulary, and every merge iteration then
    runs on the VOCAB table (|V| rows), not the corpus — the
    classical trick that makes BPE trainable on 100 TB (the corpus
    is touched exactly once, like PageRank's degree table).

    Per round: adjacent-pair counts weighted by word frequency
    (map-side-combined aggregate over |V| rows), deterministic argmax
    (count desc, pair asc — one driver .first(), the PageRank-style
    bounded driver step), then the merge applies as a JVM-side
    aggregate fold over the symbol arrays (no Python).
    ``localCheckpoint`` every 4 rounds truncates the growing lineage
    exactly as ``dedup.connected_components`` does.

    Returns [(rank, left, right, pair_count)] — the merge table a
    tokenizer ships. Greedy eager re-merge semantics (aaaa with merge
    (a,a) -> [aa, aa]), matching the reference implementation the
    unit test mirrors."""
    vocab = (
        docs.select(F.explode(F.split(text_col, " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    work = vocab.select("n", F.split("word", "").alias("syms"))
    merges: list[tuple[int, str, str, int]] = []
    pair = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("syms") - 2),
            lambda i: F.struct(
                F.element_at("syms", i + 1).alias("l"),
                F.element_at("syms", i + 2).alias("r"),
            ),
        ),
    ).otherwise(F.array())
    for rank in range(n_merges):
        counts = (
            work.select("n", F.explode(pair).alias("p"))
            .groupBy("p")
            .agg(F.sum("n").alias("c"))
        )
        best = counts.orderBy(F.desc("c"), F.col("p.l"), F.col("p.r")).first()
        if best is None or best["c"] < min_pair_count:
            break
        left, right = best["p"]["l"], best["p"]["r"]
        merges.append((rank, left, right, int(best["c"])))
        work = work.select("n", _merge_pair_expr("syms", left, right).alias("syms"))
        if (rank + 1) % 4 == 0:
            work = work.localCheckpoint()
    return merges


def bpe_tokenize_count(
    docs: DataFrame,
    merges: list[tuple[int, str, str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge table and count resulting TOKENS per doc
    — again vocab-sized work: the merge chain folds over the DISTINCT
    word table, and docs join their words against it (AQE-picked
    strategy), so the corpus is scanned once and never re-folded."""
    words = docs.select(id_col, F.explode(F.split(text_col, " ")).alias("word")).filter(
        F.col("word") != ""
    )
    vocab = words.select("word").distinct().withColumn(
        "syms", F.split("word", "")
    )
    for _, left, right, _c in merges:
        vocab = vocab.select("word", _merge_pair_expr("syms", left, right).alias("syms"))
    tok = vocab.select("word", F.size("syms").alias("word_tokens"))
    return (
        words.join(tok, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("word_tokens").alias("n_bpe_tokens"),
        )
    )


def word_ngrams_fast(text: Column | str, n: int) -> Column:
    """Ordered word n-grams (non-distinct) via the same consuming
    lookahead-capture regex as ``dedup.shingles`` (r13 form: capture
    the gram ahead, consume one word — no variable-width lookbehind,
    1.4x faster, output-identical) — JVM regex runs inside
    whole-stage codegen, where the equivalent higher-order
    ``transform`` evaluates interpreted (measured 16.2s -> sub-second
    for 225k grams in `exact_substring_spans`, the same 8x-class gap
    shingles documented). Single-space word-run semantics (a gram
    never spans a multi-space gap); docs with < n words yield an
    empty array (no whole-text fallback — positional callers want
    real positions only)."""
    c = F.col(text) if isinstance(text, str) else text
    pat = r"(?=((?:[^ ]+ ){" + str(n - 1) + r"}[^ ]+))[^ ]+ ?"
    return F.regexp_extract_all(c, F.lit(pat), 1)
