"""Query registry: every implemented operator as a (spark_fn, oracle_sql) pair.

This is the engine's declared capability surface (SURVEY.md §2) wired
to the driver's correctness harness: each entry has a PySpark
implementation (DataFrame-first, Catalyst-optimized) and, where
SQL-expressible, an equivalent ANSI/DuckDB SQL oracle. Column names
and types are aligned on both sides (the driver hash-compares values
after sorting columns by name).

Engine-portability rules used throughout (why oracles can be exact):
- computed doubles are ROUNDed (sums/avgs accumulate in different
  orders across engines; raw parquet doubles pass through untouched);
- every hash is SHA-256-derived (no murmur/xxhash constants);
- DuckDB's wider default types (len->BIGINT, sum(int)->HUGEINT,
  row_number->BIGINT) are CAST to Spark's output types in the SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ingest_spark.catalog import load_table
from ingest_spark.functions.hashing import content_hash, normalized_fingerprint
from ingest_spark.pinning import pin, pin_if_big
from ingest_spark.operators import bloom, classifier, dedup, flatten, graph, multimodal, relational, similarity, text, windows

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# --------------------------------------------------------------- shared SQL
SEP = "chr(31)"
NULLSENT = "chr(0) || 'null'"
WORDS = "string_split(text, ' ')"


def sql_shingles(n: int = 3) -> str:
    """Distinct word n-grams with whole-text fallback — mirrors
    operators.dedup.shingles exactly, INCLUDING its single-space
    semantics: the Spark regex only matches n words separated by
    single spaces, so a gram containing any empty split-token (i.e.
    spanning a multi-space run) is excluded here too; when no gram
    survives, both sides fall back to the raw text."""
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    nonempty = " AND ".join(f"w[i+{j}] <> ''" for j in range(n))
    return (
        f"(SELECT CASE WHEN len(g) > 0 THEN g ELSE [t] END FROM "
        f"(SELECT list_distinct(list_filter(list_transform("
        f"generate_series(1, greatest(len(w) - {n - 1}, 0)), "
        f"i -> CASE WHEN {nonempty} THEN {gram} END), x -> x IS NOT NULL)) AS g, t "
        f"FROM (SELECT {WORDS} AS w, text AS t)))"
    )


H28 = "('0x' || substring(sha256({}), 1, 7))::BIGINT"


def sql_occurrences(expr: str, word: str) -> str:
    # array-filter count, mirroring operators.text._occurrences (exact
    # for adjacent repeats, unlike replace-and-measure)
    return (
        f"CAST(len(list_filter(string_split({expr}, ' '), x -> x = '{word}')) AS INT)"
    )


def sql_stop_hits(expr: str, stopwords: tuple[str, ...]) -> str:
    return "(" + " + ".join(sql_occurrences(expr, w) for w in stopwords) + ")"


# ============================================================ flagship / Q1


@q(
    "flagship_event_rollup",
    """
    WITH deduped AS (SELECT DISTINCT * FROM events)
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           CAST(CAST(round(sum(value * 100)) AS BIGINT) * 10000
                // count(*) AS DOUBLE) / 1000000 AS avg_value
    FROM deduped GROUP BY 1, 2
    """,
)
def flagship_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan -> content-hash (T5) -> exact dedup (T6) -> hourly rollup
    (Q1-over-sink semantics). The reference's whole happy path in one
    declarative plan; dedup+agg are the only shuffles.

    avg_value is micro-unit INTEGER arithmetic (cents*10^4 div n, then
    one identical double division): round(avg(double), 6) diverges
    across engines whenever the true mean lands on an exact 7-decimal
    midpoint — with 2-decimal data that happens for EVERY power-of-two
    group size (n=32 groups at sf0.1 exposed it: Spark rounds the
    shortest decimal repr, DuckDB the binary value)."""
    ev = load_table(spark, sf_dir, "events")
    deduped = dedup.exact_dedup(ev)
    return deduped.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        (
            F.expr(
                "CAST(round(sum(value * 100)) AS BIGINT) * 10000 div count(*)"
            ).cast("double")
            / 1000000
        ).alias("avg_value"),
    )


@q(
    "q1_typed_view",
    """
    SELECT event_type AS branche, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           round(sum(value), 2) AS consumption
    FROM events GROUP BY 1, 2
    """,
)
def q1_typed_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ksqlDB CREATE STREAM analogue (reference Q1,
    cluster/README.md:107-118): typed temp view + spark.sql."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events_typed_view")
    return spark.sql(
        """
        SELECT event_type AS branche, date_trunc('day', ts) AS day,
               round(sum(value), 2) AS consumption
        FROM events_typed_view GROUP BY 1, 2
        """
    )


# ============================================================ source ops


@q(
    "s2_bounds_discovery",
    """
    SELECT min(ts) AS min_ts, max(ts) AS max_ts, count(*) AS n,
           min(ts) <= max(ts) AS valid_range
    FROM events
    """,
)
def s2_bounds_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.discover_bounds(load_table(spark, sf_dir, "events"), "ts")


@q(
    "s3_window_enumeration",
    """
    WITH b AS (SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
               FROM events),
         s AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS window_start FROM b)
    SELECT CAST(row_number() OVER (ORDER BY window_start) - 1 AS INT) AS window_idx,
           window_start, window_start + INTERVAL 1 DAY AS window_end
    FROM s
    """,
)
def s3_window_enumeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windows.enumerate_windows(load_table(spark, sf_dir, "events"), "ts")


# ============================================================ transforms


@q(
    "t2_flatten_props",
    "SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k FROM events",
)
def t2_flatten_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat-JSON payload expansion with an explicit schema (no
    inference scan) — the events.props analogue of T2."""
    ev = load_table(spark, sf_dir, "events")
    return flatten.flatten_json_props(ev, "props", {"k": T.IntegerType()}).select(
        "event_id", "k"
    )


@q(
    "t2_posexplode_zip",
    f"""
    SELECT doc_id, CAST(u.idx AS INTEGER) AS pos, d.words[u.idx] AS word
    FROM (SELECT doc_id, {WORDS} AS words FROM documents) d,
         LATERAL (SELECT unnest(generate_series(1, len(d.words))) AS idx) u
    """,
)
def t2_posexplode_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode — the JSONSTAT zip-with-position semantics
    (T2, SURVEY §7 hard-part d) on the documents table."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")


@q(
    "t3_conditional_extract",
    """
    SELECT o_orderkey,
           CASE WHEN substring(o_orderpriority, 1, 1) IN ('1', '2') THEN 'expedite'
                WHEN substring(o_orderpriority, 1, 1) = '3' THEN 'normal'
                ELSE 'relaxed' END AS priority_class,
           coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_resolved
    FROM orders
    """,
)
def t3_conditional_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: conditional extraction with fallback chains
    (when/otherwise + coalesce — fetch_data_statbank.py:59-65 shape)."""
    o = load_table(spark, sf_dir, "orders")
    first = F.substring("o_orderpriority", 1, 1)
    return o.select(
        "o_orderkey",
        F.when(first.isin("1", "2"), "expedite")
        .when(first == "3", "normal")
        .otherwise("relaxed")
        .alias("priority_class"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_resolved"
        ),
    )


@q(
    "t4_default_fill",
    """
    SELECT l_orderkey, l_linenumber,
           coalesce(nullif(l_returnflag, 'N'), 'UNK') AS returnflag_filled
    FROM lineitem
    """,
)
def t4_default_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "returnflag_filled", F.nullif("l_returnflag", F.lit("N"))
    )
    return flatten.fill_defaults(li, {"returnflag_filled": "UNK"}).select(
        "l_orderkey", "l_linenumber", "returnflag_filled"
    )


@q(
    "t5_content_hash",
    f"""
    SELECT doc_id,
           sha256(concat_ws({SEP},
             coalesce(CAST(doc_id AS VARCHAR), {NULLSENT}),
             coalesce(lang, {NULLSENT}),
             coalesce(CAST(n_chars AS VARCHAR), {NULLSENT}),
             coalesce(source, {NULLSENT}),
             coalesce(text, {NULLSENT}))) AS record_hash
    FROM documents
    """,
)
def t5_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: canonical whole-record SHA-256 identity (sorted columns)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", content_hash(*sorted(docs.columns)).alias("record_hash"))


@q(
    "t6_exact_dedup",
    """
    SELECT sha256(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
)
def t6_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6/E1: exact dedup by content hash; survivor = min id, so the
    result is deterministic and oracle-comparable."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("text_hash", F.sha2("text", 256))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


@q(
    "t7_window_dedup",
    """
    SELECT event_id, user_id, dedup_window, event_type, value FROM (
      SELECT event_id, user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS dedup_window,
             event_type, value,
             row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
                                ORDER BY ts, event_id) AS rn
      FROM events) WHERE rn = 1
    """,
)
def t7_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: dedup scoped to (user, day) — the per-day Redis-reset
    semantics as a windowed rank."""
    ev = load_table(spark, sf_dir, "events")
    out = dedup.dedup_within_window(
        ev, ["user_id"], F.date_trunc("day", "ts"), ["ts", "event_id"]
    )
    return out.select("event_id", "user_id", "dedup_window", "event_type", "value")


@q(
    "t8_incremental_filter",
    """
    SELECT count(*) AS n_new, round(sum(value), 2) AS sum_new, max(ts) AS new_watermark
    FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
    """,
)
def t8_incremental_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: high-watermark incremental ingest — only rows past the
    checkpoint. The watermark is applied at load time so it reaches
    the parquet scan as a PushedFilter even on the nanos-long events
    column (translated onto the raw attribute; see catalog.load_table).
    Plan-asserted in tests/test_plans.py."""
    ev = load_table(spark, sf_dir, "events", ts_after="2024-01-15 00:00:00")
    return ev.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.round(F.sum("value"), 2).alias("sum_new"),
        F.max("ts").alias("new_watermark"),
    )


@q(
    "t9_enrich_derived",
    """
    SELECT event_id, CAST(date_trunc('day', ts) AS DATE) AS ingest_date,
           ts >= TIMESTAMP '2024-01-20 00:00:00' AS is_recent
    FROM events
    """,
)
def t9_enrich_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: ingest-time enrichment (deterministic variant of the
    reference's utcnow() stamp)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.to_date("ts").alias("ingest_date"),
        (F.col("ts") >= F.lit("2024-01-20 00:00:00").cast("timestamp")).alias("is_recent"),
    )


# ============================================================ E6 relational


@q(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
           CAST(CAST(round(sum(l_quantity * 100)) AS BIGINT) * 10000
                // count(*) AS DOUBLE) / 1000000 AS avg_qty,
           CAST(CAST(round(sum(l_extendedprice * 100)) AS BIGINT) * 10000
                // count(*) AS DOUBLE) / 1000000 AS avg_price,
           CAST(CAST(round(sum(l_discount * 100)) AS BIGINT) * 10000
                // count(*) AS DOUBLE) / 1000000 AS avg_disc,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
        F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
        *[
            (
                F.expr(
                    f"CAST(round(sum({c} * 100)) AS BIGINT) * 10000 div count(*)"
                ).cast("double")
                / 1000000
            ).alias(a)
            for c, a in [
                ("l_quantity", "avg_qty"),
                ("l_extendedprice", "avg_price"),
                ("l_discount", "avg_disc"),
            ]
        ],
        F.count(F.lit(1)).alias("count_order"),
    )


@q(
    "tpch_q3_shipping",
    """
    SELECT l_orderkey, o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join strategy: NO forced broadcast — both orders (date-filtered,
    ~46% survives) and customer GROW WITH SF, so an F.broadcast() hint
    is a guaranteed driver/executor OOM at 100 TB, not a plan choice
    (VERDICT r9 §Wrong #2). AQE picks broadcast-vs-SMJ from measured
    post-filter sizes: at bench SF both sides broadcast; at cluster SF
    the orders⋈customer join degrades to a shuffled join and lineitem
    joins it on l_orderkey."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    joined = li.join(
        o.join(c, o.o_custkey == c.c_custkey),
        li.l_orderkey == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@q(
    "tpch_q5_local_supplier",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join. Hints only on the FIXED-CARDINALITY dims (nation=25,
    region=5 rows forever); orders/customer/supplier scale with SF so
    their join strategy is left to AQE's measured sizes (VERDICT r9
    §Wrong #2 — a forced broadcast of 2 years of orders is a job-killer
    at 100 TB, while AQE degrades it to SMJ for free)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        )
    )


@q(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs_view")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders_gs_view
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@q(
    "agg_stats",
    """
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
           min(value) AS min_value, max(value) AS max_value,
           CAST(CAST(round(sum(value * 100)) AS BIGINT) * 10000
                // count(*) AS DOUBLE) / 1000000 AS avg_value,
           round(stddev_samp(value), 4) AS std_value
    FROM events GROUP BY event_type
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (
            F.expr("CAST(round(sum(value * 100)) AS BIGINT) * 10000 div count(*)")
            .cast("double")
            / 1000000
        ).alias("avg_value"),
        F.round(F.stddev_samp("value"), 4).alias("std_value"),
    )


@q(
    "window_running_sum",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@q(
    "window_topn_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders) WHERE rank <= 3
    """,
)
def window_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return relational.top_n_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


@q(
    "set_ops_custkeys",
    """
    (SELECT c_custkey AS custkey FROM customer
     INTERSECT
     SELECT o_custkey AS custkey FROM orders)
    EXCEPT
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def set_ops_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    with_orders = c.select(F.col("c_custkey").alias("custkey")).intersect(
        o.select(F.col("o_custkey").alias("custkey"))
    )
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    return with_orders.exceptAll(building).distinct()


@q(
    "asof_join_events",
    """
    WITH l AS (SELECT * FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
    SELECT l.event_id, l.user_id, l.ts, r.value AS value_asof, r.ts AS ts_asof
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest
    prior-or-simultaneous view. One shuffle on user_id (union-window
    plan) vs the naive quadratic range join."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "view")
    out = relational.as_of_join(left, right, ["user_id"], "ts", "ts", ["value"])
    return out.select("event_id", "user_id", "ts", "value_asof", "ts_asof")


# ============================================================ E4 text


@q(
    "text_stats",
    f"""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_calc,
           CAST(len({WORDS}) AS INT) AS n_words,
           CAST(len(list_distinct({WORDS})) AS INT) AS n_distinct_words,
           CAST((length(text) - len({WORDS}) + 1) * 10000 // len({WORDS}) AS DOUBLE)
             / 10000 AS avg_word_len,
           CAST(len(list_distinct({WORDS})) * 10000 // len({WORDS}) AS DOUBLE)
             / 10000 AS type_token_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.text_stats(docs).select(
        "doc_id",
        "n_chars_calc",
        "n_words",
        "n_distinct_words",
        "avg_word_len",
        "type_token_ratio",
    )


@q(
    "lang_id",
    f"""
    SELECT doc_id,
           {sql_stop_hits('lower(text)', text.EN_STOPWORDS)} AS en_hits,
           {sql_stop_hits('lower(text)', text.DA_STOPWORDS)} AS da_hits,
           CASE WHEN {sql_stop_hits('lower(text)', text.EN_STOPWORDS)}
                   > {sql_stop_hits('lower(text)', text.DA_STOPWORDS)} THEN 'en'
                WHEN {sql_stop_hits('lower(text)', text.DA_STOPWORDS)}
                   > {sql_stop_hits('lower(text)', text.EN_STOPWORDS)} THEN 'da'
                ELSE 'und' END AS lang_pred
    FROM documents
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs).select("doc_id", "en_hits", "da_hits", "lang_pred")


@q(
    "token_count",
    f"""
    SELECT doc_id, CAST(len({WORDS}) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'))
                AS INT) AS pretok_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_count(docs).select(
        "doc_id", "ws_tokens", "pretok_tokens", "bpe_est_tokens"
    )


@q(
    "doc_fingerprint",
    """
    SELECT doc_id,
           sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                      ' +', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", normalized_fingerprint("text").alias("fingerprint"))


# ============================================================ E2 near-dup


@q(
    "ngram_jaccard_neardup",
    f"""
    WITH s AS (SELECT doc_id, {sql_shingles(3)} AS sh FROM documents),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    post AS (SELECT doc_id, unnest(sh) AS g FROM s),
    co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
    SELECT id_a, id_b, round(c / (na.n + nb.n - c), 4) AS jaccard
    FROM co JOIN sz na ON id_a = na.doc_id JOIN sz nb ON id_b = nb.doc_id
    WHERE c / (na.n + nb.n - c) >= 0.2
    """,
)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT word-3-gram Jaccard pairs via an inverted-index join:
    explode distinct shingles to postings, equi-join postings on the
    shingle, and the per-pair match count IS |A∩B| (shingles are
    distinct within a doc); |A∪B| = |A|+|B|-|A∩B|. Identical results
    to the naive all-pairs cross-join — pairs sharing no shingle have
    J = 0 and can never pass the threshold — but only co-occurring
    pairs are ever materialized: the O(n²) array-intersect scan
    becomes one shuffle on the shingle (a frequency-skewed key — at
    100 TB drop stop-shingles, i.e. postings above a df cap, exactly
    like an IR index; they cannot push a pair from below 0.2 to
    above it only when the cap still bounds J — so cap-dropping is a
    recall heuristic there, while the LSH path below is the honest
    scale answer). sf0.1: all-pairs didn't finish in 7 min; this
    runs in seconds on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select("doc_id", dedup.shingles("text", 3).alias("sh"))
    sz = s.select("doc_id", F.size("sh").alias("n"))
    post = s.select("doc_id", F.explode("sh").alias("g"))
    co = (
        post.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    na = sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))
    return (
        co.join(na, "id_a")
        .join(nb, "id_b")
        .filter(jac >= 0.2)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def _sql_minhash_sig(
    source: str = "documents", num_hashes: int = 4
) -> tuple[str, list[tuple[int, int]]]:
    params = dedup._perm_params(num_hashes)
    h = H28.format("s")
    cols = ", ".join(
        f"list_min(list_transform(sh, s -> ({a} * {h} + {b}) % {dedup.MERSENNE_P})) AS m{i}"
        for i, (a, b) in enumerate(params)
    )
    return (
        f"SELECT doc_id, {cols} FROM (SELECT doc_id, {sql_shingles(3)} AS sh FROM {source})",
        params,
    )


def _sql_bands(num_hashes: int, bands: int, sig: str = "sig") -> str:
    """The banding CTE body over a ``_sql_minhash_sig`` result: one
    SELECT per band, bucket = band index ':' the band's signature rows
    joined by ','. Mirrors dedup.minhash_band_table's grouping (the
    separator differs per engine; only within-engine equality
    matters)."""
    rows = num_hashes // bands
    return " UNION ALL ".join(
        f"SELECT doc_id, '{bi}:' || "
        + " || ',' || ".join(f"m{bi * rows + j}" for j in range(rows))
        + f" AS bucket FROM {sig}"
        for bi in range(bands)
    )


# The corpus-adaptive stopword list as a shared oracle fragment:
# top-20 words by DOCUMENT frequency (distinct per doc), ties by
# word, collected into one sorted array. Mirrors
# text.corpus_common_words exactly; used by gopher_gate_adaptive and
# curation_e2e so the two oracles can never desynchronize.
_SQL_COMMON_CTE = f"""common AS (
      SELECT w FROM (
        SELECT unnest(list_distinct({WORDS})) AS w FROM documents)
      GROUP BY w ORDER BY count(*) DESC, w LIMIT 20),
    clist AS (SELECT list(w ORDER BY w) AS cw FROM common)"""


@q("minhash_signatures", _sql_minhash_sig()[0])
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-permutation MinHash signature, engine-portable
    (sha256-based base hash) — the oracle PROVES signature parity.
    Uses the scale path (explode + codegen'd hash aggregate)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures_df(docs, "doc_id", "text", num_hashes=4, shingle_n=3)


_SQL_LSH_PAIRS = f"""
    WITH sig AS ({_sql_minhash_sig()[0]}),
    b AS (
      SELECT doc_id, '0:' || m0 || ',' || m1 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, '1:' || m2 || ',' || m3 AS bucket FROM sig
    )
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
"""


@q("minhash_lsh_neardup", _SQL_LSH_PAIRS)
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 scale path: LSH banding (2 bands x 2 rows over the 4-hash
    signature). Only bucket-mates join — the pair space never
    materializes. Oracle replicates the banding exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=4, bands=2, shingle_n=3
    )


_SQL_LSH_PAIRS_PROD = f"""
    WITH sig AS ({_sql_minhash_sig("documents", 16)[0]}),
    b AS ({_sql_bands(16, 4)})
    SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
"""


@q("minhash_lsh_neardup_prod", _SQL_LSH_PAIRS_PROD)
def minhash_lsh_neardup_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 PRODUCTION signature (VERDICT r10 §Next #4): 16 hashes in 4
    bands of 4 rows — the parameters curation_e2e and the incremental
    pipeline already run, now benched standalone so the dedup family
    has a pair-generation entry that survives every SF. The 4h/2b
    sibling above stays as a small-SF oracle-parity fixture; its 2-row
    bands collide-saturate past ~100k docs by construction (the
    documented 3.49M-pair blowup), while 4-row bands keep collisions
    precision-bounded (1,933 pairs at the same corpus — BASELINE.md
    r9). Plan shape is identical: banded bucket equi-join, never
    all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
    )


@q(
    "neardup_collapse_survivors",
    f"""
    WITH RECURSIVE pairs AS ({_SQL_LSH_PAIRS}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    walk AS (
      SELECT src AS id, src AS peer FROM edges
      UNION
      SELECT e.src AS id, w.peer
      FROM edges e JOIN walk w ON e.dst = w.id
    ),
    comps AS (SELECT id, min(peer) AS component FROM walk GROUP BY id)
    SELECT d.doc_id, d.lang, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM documents d LEFT JOIN comps c ON d.doc_id = c.id
    WHERE c.id IS NULL OR d.doc_id = c.component
    """,
)
def neardup_collapse_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one-per-cluster dedup over the near-dup graph
    (operators/dedup.py:dedup_by_components): min-id member of each
    component survives, un-paired docs survive trivially. Pairs + the
    component map are tiny relative to the corpus, so the final join
    broadcasts at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=4, bands=2, shingle_n=3
    )
    kept = dedup.dedup_by_components(docs, "doc_id", pairs)
    return kept.select(
        "doc_id", "lang", F.length("text").cast("bigint").alias("n_chars")
    )


def _sql_simhash(num_bits: int = 16) -> str:
    h = H28.format("s")
    bit_terms = " + ".join(
        f"(CASE WHEN list_aggregate(list_transform(sh, s -> "
        f"CASE WHEN ({h} >> {bit}) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0 "
        f"THEN CAST({1 << bit} AS BIGINT) ELSE 0 END)"
        for bit in range(num_bits)
    )
    return (
        f"SELECT doc_id, ({bit_terms}) AS simhash16 "
        f"FROM (SELECT doc_id, {sql_shingles(2)} AS sh FROM documents)"
    )


@q("simhash_signatures", _sql_simhash(16))
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_df(docs, "doc_id", "text", num_bits=16, shingle_n=2)


# ============================================================ E3 similarity


_COS_SQL = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 5),
     c AS (SELECT vec_id AS neighbor_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_inner_product(qv, cv) /
               (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
               4) AS cosine_sim
  FROM c JOIN q ON neighbor_id <> query_id)
SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, neighbor_id) AS rank
  FROM scored) WHERE rank <= 10
"""


@q("knn_bruteforce", _COS_SQL)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for 5 query vectors: broadcast queries,
    corpus never shuffles; cosine runs in whole-stage codegen
    (zip_with + aggregate), rank via WindowGroupLimit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


@q(
    "embedding_neardup",
    """
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.v, b.v) /
                 (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))),
                 4) AS cosine_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v) /
          (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))) >= 0.35
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold tuned to the synthetic
    data's similarity range; max pairwise cosine is ~0.40)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_pairs(emb, threshold=0.35)


def _sql_neardup_lsh(threshold: float, num_bits: int = 8, dim: int = 64) -> str:
    """Same-plane sign-LSH bucketing + exact cosine pair filter — the
    SQL twin of operators.similarity.embedding_neardup_lsh."""
    planes = similarity.hyperplane_planes(num_bits, dim, seed=11)
    bit_terms = " + ".join(
        f"(CASE WHEN list_inner_product(v, {plane!r}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    sig AS (SELECT vec_id, v, ({bit_terms}) AS bucket FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_inner_product(a.v, b.v) /
                 (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))),
                 4) AS cosine_sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v) /
          (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
          >= {threshold}
    """


@q("embedding_neardup_lsh", _sql_neardup_lsh(0.35))
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3 scale path: embedding near-dup restricted to sign-LSH
    bucket mates — the semantic-dedup shape that survives 100 TB
    (bucket equi-join, ~n²/2^bits candidates, corpus never cross-
    joins). The all-pairs `embedding_neardup` stays as the sf-scale
    recall oracle; this entry's DuckDB oracle replicates the planes
    bit-for-bit, so the approximation itself is verified exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_lsh(emb, threshold=0.35, num_bits=8)


def _sql_ann_lsh(num_bits: int = 8, dim: int = 64, k: int = 10) -> str:
    """Replicates the sign-LSH bucketing in SQL by embedding the SAME
    LCG-derived hyperplane literals the Spark side uses — dot products
    are sequential double sums in both engines, so bucket signatures
    are bit-identical."""
    planes = similarity.hyperplane_planes(num_bits, dim, seed=11)
    bit_terms = " + ".join(
        f"(CASE WHEN list_inner_product(v, {plane!r}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    sig AS (SELECT vec_id, v, ({bit_terms}) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sig WHERE vec_id < 5),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM sig),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_inner_product(qv, cv) /
                   (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
                   4) AS cosine_sim
      FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= {k}
    """


@q("ann_lsh_topk", _sql_ann_lsh())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via deterministic sign-LSH bucketing + exact
    cosine re-rank: the bucket equi-join replaces the cross product
    (the IVF/LSH trade — recall for ~1/2^bits of the work)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, num_bits=8
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


def _sql_ann_multiprobe(num_bits: int = 8, dim: int = 64, k: int = 10) -> str:
    planes = similarity.hyperplane_planes(num_bits, dim, seed=11)
    bit_terms = " + ".join(
        f"(CASE WHEN list_inner_product(v, {plane!r}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(num_bits)]
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    sig AS (SELECT vec_id, v, CAST(({bit_terms}) AS BIGINT) AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM sig WHERE vec_id < 5),
    probes AS (SELECT query_id, qv, unnest([{probe_list}]) AS bucket FROM q),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM sig),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_inner_product(qv, cv) /
                   (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
                   4) AS cosine_sim
      FROM c JOIN probes USING (bucket) WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= {k}
    """


def _sql_ann_multiprobe_retrieval(
    num_bits: int = 8, dim: int = 64, k: int = 10,
    probe_radius: int = 2, num_tables: int = 4, seed: int = 11,
) -> str:
    """Oracle for the multi-table radius-2 config: per-table signature
    columns, UNION ALL of per-table corpus/probe rows joined on
    (table, bucket), DISTINCT pair collapse — replicating
    lsh_topk_multiprobe's approximation bit-for-bit."""
    deltas = similarity._probe_deltas(num_bits, probe_radius)
    sig_cols = []
    for t in range(num_tables):
        planes = similarity.hyperplane_planes(num_bits, dim, seed=seed + t)
        bits = " + ".join(
            f"(CASE WHEN list_inner_product(v, {plane!r}) >= 0 THEN {1 << j} ELSE 0 END)"
            for j, plane in enumerate(planes)
        )
        sig_cols.append(f"CAST(({bits}) AS BIGINT) AS b{t}")
    c_union = "\n      UNION ALL ".join(
        f"SELECT vec_id AS neighbor_id, v AS cv, {t} AS t, b{t} AS bucket FROM sig"
        for t in range(num_tables)
    )
    probe_union = "\n      UNION ALL ".join(
        "SELECT query_id, qv, {t} AS t, unnest([{plist}]) AS bucket FROM q".format(
            t=t,
            plist=", ".join(
                f"xor(b{t}, {d})" if d else f"b{t}" for d in deltas
            ),
        )
        for t in range(num_tables)
    )
    return f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    sig AS (SELECT vec_id, v, {", ".join(sig_cols)} FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv,
                 {", ".join(f"b{t}" for t in range(num_tables))}
          FROM sig WHERE vec_id < 5),
    c AS ({c_union}),
    probes AS ({probe_union}),
    scored AS (
      SELECT DISTINCT query_id, neighbor_id,
             round(list_inner_product(qv, cv) /
                   (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
                   4) AS cosine_sim
      FROM c JOIN probes USING (t, bucket) WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored) WHERE rank <= {k}
    """


@q("ann_lsh_multiprobe_retrieval", _sql_ann_multiprobe_retrieval())
def ann_lsh_multiprobe_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-grade multi-probe LSH (VERDICT r13 #2): Hamming-2
    probes x 4 independent tables at num_bits=8 — the measured
    competitive config (recall@10 ~0.8 vs brute force at 3 SFs,
    ledger op=ann_multiprobe_grid; IVF measures ~0.6, single-table
    radius-1 LSH ~0.1). Corpus computes 4 signatures and joins on
    (table, bucket) — still bucketed equi-joins; a pair found in
    several tables scores once (dropDuplicates == DISTINCT in the
    oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk_multiprobe(
        emb, emb.filter(F.col("vec_id") < 5), k=10, num_bits=8,
        probe_radius=2, num_tables=4,
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


@q("ann_lsh_multiprobe", _sql_ann_multiprobe())
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH (Lv et al. VLDB'07): each query also
    searches every Hamming-1 bucket (one flipped signature bit),
    recovering neighbors split off by a single hyperplane — the
    recall lever that makes LSH production-usable without adding
    tables. Corpus side unchanged (one bucket per vector, still one
    equi-join); oracle enumerates the identical flipped buckets, so
    the approximation is verified exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk_multiprobe(
        emb, emb.filter(F.col("vec_id") < 5), k=10, num_bits=8
    ).select("query_id", "neighbor_id", "cosine_sim", "rank")


# ---------------------------------------------- ANN recall checks (r15)
#
# VERDICT r14 #1: the ivf/pq/ivf_pq entries are rows-only (k-means is
# iterative, not SQL-expressible), so a recall regression was visible
# only to pytest floors — never to the driver. The r14 sketch pattern
# (sketch_rollup_check / approx_percentile_check) closes that: each
# family gets a HASH-COMPARED sibling returning the exact brute-force
# statistic plus a deterministic violation count. DuckDB computes the
# same brute-force top-k set exactly (it IS SQL-expressible — only the
# index build isn't) and emits the constant 0; Spark computes recall of
# the approximate index against its own exact top-k in-engine and
# emits 1 when it falls below the pinned floor. A recall regression
# therefore becomes a RED CORRECTNESS ROW (value-hash mismatch on
# n_violations), not a pytest-only failure. sim_sum_e4 is integerized
# (sum of round(cosine*1e4) as BIGINT) so the statistic is exact
# integer arithmetic in both engines — per-pair rounded cosines are
# already proven bit-identical by knn_bruteforce.

_ANN_CHECK_SQL = """
WITH q AS (SELECT vec_id AS query_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
           FROM embeddings WHERE vec_id < 25),
     c AS (SELECT vec_id AS neighbor_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
           FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round(list_inner_product(qv, cv) /
               (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
               4) AS cosine_sim
  FROM c JOIN q ON neighbor_id <> query_id),
topk AS (
  SELECT query_id, cosine_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_sim DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= 10)
SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS exact_pairs,
       CAST(sum(CAST(round(cosine_sim * 10000) AS BIGINT)) AS BIGINT) AS sim_sum_e4,
       CAST(0 AS BIGINT) AS n_violations
FROM topk
"""


def _ann_recall_check(spark, sf_dir, approx_fn, floor: float) -> DataFrame:
    """One row: exact-top-k statistics + recall-below-floor flag.
    ``approx_fn(corpus, queries)`` builds the index under test; the
    exact side is brute_force_topk (k=10, 25 queries). Overall
    (micro) recall = |approx ∩ exact| / |exact|."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 25)
    exact = similarity.brute_force_topk(emb, queries_df, k=10).select(
        "query_id", "neighbor_id", "cosine_sim"
    )
    approx = (
        approx_fn(emb, queries_df)
        .select("query_id", "neighbor_id")
        .withColumn("__hit", F.lit(1))
    )
    joined = exact.join(approx, ["query_id", "neighbor_id"], "left")
    return joined.agg(
        F.countDistinct("query_id").alias("n_queries"),
        F.count(F.lit(1)).alias("exact_pairs"),
        F.sum(F.round(F.col("cosine_sim") * 10000).cast("long")).alias(
            "sim_sum_e4"
        ),
        F.when(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            < F.lit(floor) * F.count(F.lit(1)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_violations"),
    )


@q("ann_auto_topk", _COS_SQL)
def ann_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ann_topk facade (VERDICT r14 #4) under strategy="auto": at
    test-SF corpus sizes auto routes to the exact brute-force path
    (below the full-scan cutoff), so the oracle is the exact top-k —
    hash-compared. Above the cutoff auto routes to ivf_pq under its
    corpus-scaled sizing, whose recall guarantee is driver-visible via
    ann_ivf_pq_recall_check."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, strategy="auto"
    )


@q("ann_ivf_recall_check", _ANN_CHECK_SQL)
def ann_ivf_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall guarantee for ivf_topk at its registry
    config (n_cells=8, nprobe=3). Measured recall@10 over 25 queries:
    0.596/0.592/0.616 at sf0.001/0.01/0.1 (ledger
    op=ann_recall_floors) — floor 0.52 fails on any real regression
    while tolerating one-neighbor jitter from a test-data roll."""
    return _ann_recall_check(
        spark,
        sf_dir,
        lambda c, qs: similarity.ivf_topk(c, qs, k=10, n_cells=8, nprobe=3),
        floor=0.52,
    )


@q("ann_pq_recall_check", _ANN_CHECK_SQL)
def ann_pq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall guarantee for pq_topk at its registry
    config (m=8, codebook_k=16, rerank_factor=8). Measured recall@10:
    0.764/0.724/0.504 at sf0.001/0.01/0.1 (falls with corpus at fixed
    rerank, as ADC theory predicts) — floor 0.44 holds at every SF
    the check can run at."""
    return _ann_recall_check(
        spark,
        sf_dir,
        lambda c, qs: similarity.pq_topk(
            c, qs, k=10, m=8, codebook_k=16, rerank_factor=8
        ),
        floor=0.44,
    )


@q("ann_ivf_pq_recall_check", _ANN_CHECK_SQL)
def ann_ivf_pq_recall_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible recall guarantee for ivf_pq_topk under the r15
    corpus-scaled auto sizing. Measured recall@10: 0.668/0.640/0.656
    at sf0.001/0.01/0.1 (ledger op=ivf_pq_auto_grid) — flat across
    SFs by construction, floor 0.58."""
    return _ann_recall_check(
        spark,
        sf_dir,
        lambda c, qs: similarity.ivf_pq_topk(c, qs, k=10, m=8, codebook_k=16),
        floor=0.58,
    )


# ============================================================ E5 multimodal


@q(
    "multimodal_meta",
    """
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha256, 'text/plain' AS mime
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: binary payload column + typed metadata struct, computed
    JVM-side (sha2 over the payload bytes == sha256 of the utf-8 text)."""
    docs = load_table(spark, sf_dir, "documents")
    mm = multimodal.attach_payload(docs, "doc_id", "text")
    return mm.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.payload_sha256").alias("payload_sha256"),
        F.col("media_meta.mime").alias("mime"),
    )


@q(
    "multimodal_decode",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(unicode(substring(text, 1, 1)) AS INTEGER) AS first_byte,
           CAST(coalesce(
                 list_aggregate(list_transform(generate_series(1, least(64, length(text))),
                                               i -> unicode(substring(text, i, 1))),
                                'sum'), 0) AS BIGINT) AS feature_sum
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 decode plumbing: mapInPandas over Arrow batches with the
    byte-stat fallback decoder (deterministic features over ASCII
    payloads, so the oracle can recompute them from code points)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_features(multimodal.attach_payload(docs, "doc_id", "text"))


@q(
    "multimodal_media_decode",
    """
    SELECT doc_id,
           CASE CAST(doc_id % 7 AS INTEGER)
                WHEN 0 THEN 'png' WHEN 1 THEN 'wav' WHEN 2 THEN 'bmp'
                WHEN 3 THEN 'gif' WHEN 4 THEN 'tiff' WHEN 5 THEN 'jpeg'
                ELSE 'opaque' END AS kind,
           CASE WHEN doc_id % 7 = 0 THEN CAST(1 + doc_id % 16 AS INTEGER)
                WHEN doc_id % 7 = 2 THEN CAST(1 + doc_id % 8 AS INTEGER)
                WHEN doc_id % 7 = 3 THEN CAST(1 + doc_id % 12 AS INTEGER)
                WHEN doc_id % 7 = 4 THEN CAST(1 + doc_id % 10 AS INTEGER)
                WHEN doc_id % 7 = 5 THEN CAST(8 * (1 + doc_id % 2) AS INTEGER) END AS width,
           CASE WHEN doc_id % 7 = 0 THEN CAST(1 + doc_id % 8 AS INTEGER)
                WHEN doc_id % 7 = 2 THEN CAST(1 + doc_id % 4 AS INTEGER)
                WHEN doc_id % 7 = 3 THEN CAST(1 + doc_id % 6 AS INTEGER)
                WHEN doc_id % 7 = 4 THEN CAST(1 + doc_id % 5 AS INTEGER)
                WHEN doc_id % 7 = 5 THEN CAST(8 * (1 + doc_id % 3) AS INTEGER) END AS height,
           CASE WHEN doc_id % 7 IN (0, 1, 4, 5) THEN CAST(1 AS INTEGER)
                WHEN doc_id % 7 IN (2, 3) THEN CAST(3 AS INTEGER) END AS channels,
           CASE WHEN doc_id % 7 = 1 THEN CAST(8000 AS INTEGER) END AS sample_rate,
           CASE WHEN doc_id % 7 = 1 THEN CAST(1 + doc_id % 64 AS BIGINT) END AS n_samples,
           CASE WHEN doc_id % 7 IN (0, 2, 4) THEN CAST(doc_id % 256 AS DOUBLE)
                WHEN doc_id % 7 = 1 THEN CAST((doc_id % 100) * 10 AS DOUBLE)
                WHEN doc_id % 7 = 3 THEN CAST((doc_id % 16) * 17 AS DOUBLE)
                WHEN doc_id % 7 = 5 THEN list_avg(list_transform(
                       range((1 + doc_id % 2) * (1 + doc_id % 3)),
                       t -> CAST((doc_id * 37 + t * 101) % 256 AS DOUBLE)))
           END AS mean_value
    FROM documents
    """,
)
def multimodal_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 REAL media decode (VERDICT r4 §Next #1; GIF + TIFF added r6,
    JPEG added r7 per r6 §Next #4): synthesize genuine PNG / WAV /
    BMP / GIF / TIFF / JPEG / text payloads per doc (parameters
    closed-form in doc_id), then run the pure-stdlib decoders — zlib
    inflate + scanline unfilter for PNG, RIFF/PCM parse for WAV,
    LZW + palette mapping for GIF, IFD walk + strip assembly for TIFF
    (both byte orders), Huffman + dequant + IDCT for baseline JPEG —
    distributed over Arrow batches. The oracle predicts every decoded
    feature (dimensions, channels, sample counts, exact means) without
    needing to inflate a PNG, LZW-decode a GIF, or entropy-decode a
    JPEG: the JPEG fixtures are 8x8-tile-constant images under
    all-ones quant tables, which round-trip the lossy pipeline
    bit-exactly, so the tile average IS the decoded mean. A hash match
    proves the decode is real."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_media_payload(docs, "doc_id", "text")
    # n_bytes (encoded payload size) is not closed-form for compressed
    # formats, so the oracle-checked projection excludes it.
    return multimodal.decode_media_features(media).drop("n_bytes")


@q(
    "multimodal_jpeg420_decode",
    """
    WITH src AS (
        SELECT doc_id,
               CAST(doc_id % 256 AS DOUBLE) AS r,
               CAST((doc_id * 7) % 256 AS DOUBLE) AS g,
               CAST((doc_id * 13) % 256 AS DOUBLE) AS b
        FROM documents WHERE doc_id % 3 = 0
    ), ycc AS (
        SELECT doc_id,
               floor(CAST(0.299 AS DOUBLE) * r + CAST(0.587 AS DOUBLE) * g
                     + CAST(0.114 AS DOUBLE) * b + 0.5) AS y,
               floor(CAST(-0.168736 AS DOUBLE) * r
                     + CAST(-0.331264 AS DOUBLE) * g
                     + CAST(0.5 AS DOUBLE) * b + 128.5) AS cb,
               floor(CAST(0.5 AS DOUBLE) * r
                     + CAST(-0.418688 AS DOUBLE) * g
                     + CAST(-0.081312 AS DOUBLE) * b + 128.5) AS cr
        FROM src
    ), rgb AS (
        SELECT doc_id,
               least(255, greatest(0, floor(
                   y + CAST(1.402 AS DOUBLE) * (cr - 128) + 0.5))) AS r2,
               least(255, greatest(0, floor(
                   y + CAST(-0.344136 AS DOUBLE) * (cb - 128)
                     + CAST(-0.714136 AS DOUBLE) * (cr - 128) + 0.5))) AS g2,
               least(255, greatest(0, floor(
                   y + CAST(1.772 AS DOUBLE) * (cb - 128) + 0.5))) AS b2
        FROM ycc
    )
    SELECT doc_id, 'jpeg' AS kind,
           CAST(16 * (1 + doc_id % 2) AS INTEGER) AS width,
           CAST(16 * (1 + doc_id % 3) AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(r2 + g2 + b2 AS DOUBLE) / 3 AS mean_value
    FROM rgb
    """,
)
def multimodal_jpeg420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: the REAL 4:2:0 color decode path, oracle-checked (VERDICT
    r7 §Next #2's optional fixture widening). Every doc with
    doc_id%3==0 gets a constant-color YCbCr-4:2:0 baseline JPEG whose
    RGB is arithmetic in the id; under all-ones quant tables a
    constant image is DC-only, so the decoder reconstructs the exact
    (Y, Cb, Cr) triple the encoder quantized, the 2x2 chroma box
    average is the identity on constants, and the only transformation
    the oracle must mirror is the integer-rounded BT.601 round trip —
    which it computes in closed form with the SAME float64 expression
    order. A hash match proves the subsampled MCU geometry, the
    chroma upsample, and the color conversion are all exact — not
    just 'close'."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    )

    def run(batches):
        import pandas as pd

        from ingest_spark.operators.media_codecs import encode_jpeg

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                r, g, b = doc_id % 256, (doc_id * 7) % 256, (doc_id * 13) % 256
                w, h = 16 * (1 + doc_id % 2), 16 * (1 + doc_id % 3)
                payloads.append(
                    encode_jpeg(
                        w, h, bytes([r, g, b]) * (w * h),
                        channels=3, sampling="420",
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.select("doc_id").mapInPandas(
        run, "doc_id long, payload binary"
    )
    return multimodal.decode_media_features(media).select(
        "doc_id", "kind", "width", "height", "channels", "mean_value"
    )


@q(
    "multimodal_video_meta",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 8 = 1 THEN 'avi' ELSE 'mp4' END AS kind,
           CAST(16 * (1 + doc_id % 4) AS INTEGER) AS width,
           CAST(16 * (1 + doc_id % 3) AS INTEGER) AS height,
           CASE WHEN doc_id % 8 = 1 THEN CAST(10 + doc_id % 20 AS INTEGER)
                ELSE CAST(600 + doc_id % 400 AS INTEGER) END AS sample_rate,
           CASE WHEN doc_id % 8 = 1 THEN CAST(5 + doc_id % 50 AS BIGINT)
                ELSE CAST(1000 + doc_id % 9000 AS BIGINT) END AS n_samples
    FROM documents WHERE doc_id % 4 = 1
    """,
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 video containers (r8): frame decode stays honestly stubbed
    (no ffmpeg in this container — `multimodal_frames` carries the
    fan-out plumbing), but container METADATA is real. Every doc with
    doc_id%4==1 gets a structurally valid AVI (doc_id%8==1) or
    ISO-BMFF MP4 (doc_id%8==5) shell whose avih / mvhd+tkhd parameters are
    closed-form in the id; the dispatcher parses dims, frame counts /
    duration units, and fps / timescale out of the real headers —
    surfaced through the SAME decode_media_features schema
    (sample_rate = fps or timescale, n_samples = frames or duration
    units). A hash match proves the RIFF and box-tree walks are real,
    not byte stats."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 1
    )

    def run(batches):
        import pandas as pd

        from ingest_spark.operators.media_codecs import (
            encode_avi_meta,
            encode_mp4_meta,
        )

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 16 * (1 + doc_id % 4), 16 * (1 + doc_id % 3)
                if doc_id % 8 == 1:
                    payloads.append(
                        encode_avi_meta(
                            w, h, 5 + doc_id % 50, 10 + doc_id % 20
                        )
                    )
                else:
                    payloads.append(
                        encode_mp4_meta(
                            w, h, 600 + doc_id % 400, 1000 + doc_id % 9000
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.select("doc_id").mapInPandas(
        run, "doc_id long, payload binary"
    )
    return multimodal.decode_media_features(media).select(
        "doc_id", "kind", "width", "height", "sample_rate", "n_samples"
    )


@q(
    "multimodal_audio_features",
    """
    WITH p AS (
      SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS t,
             1000 + (doc_id % 50) * 137 AS c
      FROM documents)
    SELECT doc_id,
           CAST(CASE WHEN t = 2 THEN 7 ELSE 0 END AS INTEGER)
             AS dominant_band,
           CAST(CASE WHEN t = 1 THEN (64 * c) * (64 * c) ELSE 0 END
                AS BIGINT) AS band0_power,
           CAST(0 AS BIGINT) AS band1_power,
           CAST(0 AS BIGINT) AS band2_power,
           CAST(0 AS BIGINT) AS band3_power,
           CAST(0 AS BIGINT) AS band4_power,
           CAST(0 AS BIGINT) AS band5_power,
           CAST(0 AS BIGINT) AS band6_power,
           CAST(CASE WHEN t = 2 THEN (64 * c) * (64 * c) ELSE 0 END
                AS BIGINT) AS band7_power
    FROM p
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 audio spectral path, oracle-checked (VERDICT r8 §Next #2):
    every doc gets a REAL 16-bit-PCM WAV (64 samples @ 8 kHz) whose
    signal is closed-form in doc_id — silence (t=0), a DC level c
    (t=1), or a Nyquist-rate alternation +/-c (t=2) — and the real
    decode_wav -> numpy rFFT -> 8-band log-power pipeline
    (multimodal.audio_spectral_features) runs distributed over Arrow
    batches.

    Why the oracle can be EXACT: for a power-of-two-length FFT, DC
    and Nyquist inputs hit only add/subtract butterflies of equal
    values, so every off-peak bin is EXACTLY 0.0 and the peak bin is
    exactly (N*c)^2 — integer-representable in float64 (verified:
    np.abs(rfft)**2 == (64c)^2 bit-for-bit). The query then INVERTS
    the feature's log10(power+1) back to the integer power
    (round(10^f - 1), exact because the pow/log round trip errs by
    ~1 ulp against an integer target), so the driver compares
    integers and no cross-engine libm difference can flake the hash.
    dominant_band is argmax over the 8 bands: band 0 for DC (and for
    all-zero silence, where the first max wins), band 7 (bins 28-32
    of 33) for Nyquist. A hash match proves the WAV parse, the FFT
    band split, and the log-power scaling are all real."""
    docs = load_table(spark, sf_dir, "documents")

    def run(batches):
        import pandas as pd

        from ingest_spark.operators.media_codecs import encode_wav

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                c = 1000 + (doc_id % 50) * 137
                t = doc_id % 3
                if t == 0:
                    samples = [0] * 64
                elif t == 1:
                    samples = [c] * 64
                else:
                    samples = [c if i % 2 == 0 else -c for i in range(64)]
                payloads.append(encode_wav(samples, sample_rate=8000))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.select("doc_id").mapInPandas(
        run, "doc_id long, payload binary"
    )
    feats = multimodal.audio_spectral_features(media)
    f = F.col("features")
    inv = lambda i: F.round(  # noqa: E731
        F.pow(F.lit(10.0), F.element_at(f, i + 1)) - 1
    ).cast("long")
    return feats.select(
        "doc_id",
        (F.array_position(f, F.array_max(f)) - 1).cast("int").alias(
            "dominant_band"
        ),
        *[inv(i).alias(f"band{i}_power") for i in range(8)],
    )


@q(
    "media_decode_errors",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 AND doc_id % 7 IN (0, 1, 4, 5)
                THEN 'decode_error'
                ELSE CASE CAST(doc_id % 7 AS INTEGER)
                     WHEN 0 THEN 'png' WHEN 1 THEN 'wav' WHEN 2 THEN 'bmp'
                     WHEN 3 THEN 'gif' WHEN 4 THEN 'tiff' WHEN 5 THEN 'jpeg'
                     ELSE 'opaque' END END AS kind,
           CASE WHEN doc_id % 5 = 0 AND doc_id % 7 IN (0, 1, 4, 5) THEN NULL
                WHEN doc_id % 7 = 0 THEN CAST(1 + doc_id % 16 AS INTEGER)
                WHEN doc_id % 7 = 2 THEN CAST(1 + doc_id % 8 AS INTEGER)
                WHEN doc_id % 7 = 3 THEN CAST(1 + doc_id % 12 AS INTEGER)
                WHEN doc_id % 7 = 4 THEN CAST(1 + doc_id % 10 AS INTEGER)
                WHEN doc_id % 7 = 5 THEN CAST(8 * (1 + doc_id % 2) AS INTEGER)
                END AS width,
           CASE WHEN doc_id % 5 = 0 AND doc_id % 7 IN (0, 1, 4, 5) THEN NULL
                WHEN doc_id % 7 IN (0, 2, 4) THEN CAST(doc_id % 256 AS DOUBLE)
                WHEN doc_id % 7 = 1 THEN CAST((doc_id % 100) * 10 AS DOUBLE)
                WHEN doc_id % 7 = 3 THEN CAST((doc_id % 16) * 17 AS DOUBLE)
                WHEN doc_id % 7 = 5 THEN list_avg(list_transform(
                       range((1 + doc_id % 2) * (1 + doc_id % 3)),
                       t -> CAST((doc_id * 37 + t * 101) % 256 AS DOUBLE)))
                END AS mean_value,
           CASE WHEN doc_id % 5 = 0 AND doc_id % 7 IN (0, 1, 4, 5)
                THEN CAST(12 AS BIGINT) END AS err_n_bytes
    FROM documents
    """,
)
def media_decode_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 decode robustness (VERDICT r7 §Next #1): corrupt a
    deterministic subset of the media payloads — truncate PNG / WAV /
    TIFF / JPEG rows with doc_id%5==0 to their first 12 bytes, which
    keeps the magic sniffable but makes the decode fail — then run the
    REAL decoder over the mixed batch. The job completes (the
    dispatcher is exception-total), corrupt rows come back
    kind='decode_error' with NULL media fields and n_bytes preserved
    (surfaced as err_n_bytes == 12, closed-form for the oracle), and
    every untouched row still decodes to its exact closed-form
    features. A hash match proves one bad payload can neither kill the
    job nor perturb its neighbors."""
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.attach_media_payload(docs, "doc_id", "text")
    corrupt = (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7).isin(0, 1, 4, 5)
    media = media.withColumn(
        "payload",
        F.when(corrupt, F.expr("substring(payload, 1, 12)")).otherwise(
            F.col("payload")
        ),
    )
    decoded = multimodal.decode_media_features(media)
    return decoded.select(
        "doc_id",
        "kind",
        "width",
        "mean_value",
        F.when(F.col("kind") == "decode_error", F.col("n_bytes")).alias(
            "err_n_bytes"
        ),
    )


def _sql_image_dhash() -> str:
    """DuckDB transcription of the closed-form image-fixture dHash
    (multimodal._image_pixel_value -> 64 adjacent-column comparisons).
    Bit 63 cannot be written as a positive BIGINT literal, so its term
    adds min-long directly — summing distinct powers of two is the
    two's-complement assembly numpy does with a uint64 view."""
    from ingest_spark.operators.multimodal import (
        _DHASH_BASES as NB,
        _DHASH_LEVELS as NL,
        DHASH_H,
        DHASH_W,
    )

    n_px = DHASH_W * DHASH_H
    base_px = (
        f"(((doc_id % {NB}) + 1) * 23 * (i % {DHASH_W}) "
        f"+ (doc_id % {NB}) * 41 + (i // {DHASH_W}) * 7) % {NL}"
    )
    px = (
        f"list_transform(range({n_px}), i -> "
        f"CASE WHEN i = doc_id % {n_px} "
        f"THEN (({base_px}) + 128) % {NL} "
        f"ELSE ({base_px}) END)"
    )
    terms = []
    for y in range(DHASH_H):
        for x in range(DHASH_W - 1):
            bit = y * 8 + x
            a = y * DHASH_W + x + 1  # 1-based list index of p(x, y)
            val = (
                "(-9223372036854775807 - 1)"
                if bit == 63
                else f"CAST({1 << bit} AS BIGINT)"
            )
            terms.append(
                f"(CASE WHEN p[{a + 1}] > p[{a}] THEN {val} ELSE CAST(0 AS BIGINT) END)"
            )
    return (
        f"SELECT doc_id, ({' + '.join(terms)}) AS dhash64 "
        f"FROM (SELECT doc_id, {px} AS p FROM documents)"
    )


@q("image_dhash_signatures", _sql_image_dhash())
def image_dhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5xE2: image perceptual hash (dHash) — synthesize a real 24-bit
    BMP per doc (9x8 greyscale, pixels closed-form in doc_id), decode
    it with the pure-numpy BMP parser, area-resample to the dHash
    grid, and emit the 64-bit difference hash. The oracle recomputes
    the hash from the pixel formula alone, so a hash match proves the
    encode -> decode -> resample -> hash chain end-to-end (the
    multimodal_media_decode proof pattern, extended from scalar pixel
    stats to a full perceptual fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    imgs = multimodal.attach_image_payload(docs, "doc_id")
    return multimodal.image_dhash(imgs)


@q(
    "image_dhash_neardup",
    f"""
    WITH sig AS ({_sql_image_dhash()}),
    banded AS (
      SELECT doc_id, dhash64,
             unnest([
               '0:' || ((dhash64 >> 0) & 255),  '1:' || ((dhash64 >> 8) & 255),
               '2:' || ((dhash64 >> 16) & 255), '3:' || ((dhash64 >> 24) & 255),
               '4:' || ((dhash64 >> 32) & 255), '5:' || ((dhash64 >> 40) & 255),
               '6:' || ((dhash64 >> 48) & 255), '7:' || ((dhash64 >> 56) & 255)]) AS bucket
      FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.dhash64, b.dhash64)) AS INT) AS hamming
    FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash64, b.dhash64)) <= 4
    """,
)
def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5xE2: image near-dup pairs — the pretraining image-dedup step
    (LAION-style): dHash each decoded image, then the banded Hamming
    self-join (8 bands x 8 bits over the 64-bit signature). With
    max_hamming=4 < 8 bands, pigeonhole guarantees ZERO recall loss vs
    the n^2 cross product; the fixtures plant same-base docs within 4
    bits of each other (one perturbed pixel per doc touches at most 2
    comparisons), so every same-base pair is recovered exactly. At
    100 TB the plan is the text-SimHash plan: candidates meet only
    inside 256-way band buckets — no all-pairs stage anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    imgs = multimodal.attach_image_payload(docs, "doc_id")
    sig = multimodal.image_dhash(imgs)
    return dedup.banded_hamming_pairs(
        sig, "doc_id", "dhash64", num_bits=64, bands=8, max_hamming=4
    )


@q(
    "image_neardup_collapse",
    f"""
    WITH RECURSIVE sig AS ({_sql_image_dhash()}),
    banded AS (
      SELECT doc_id, dhash64,
             unnest([
               '0:' || ((dhash64 >> 0) & 255),  '1:' || ((dhash64 >> 8) & 255),
               '2:' || ((dhash64 >> 16) & 255), '3:' || ((dhash64 >> 24) & 255),
               '4:' || ((dhash64 >> 32) & 255), '5:' || ((dhash64 >> 40) & 255),
               '6:' || ((dhash64 >> 48) & 255), '7:' || ((dhash64 >> 56) & 255)]) AS bucket
      FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.dhash64, b.dhash64)) <= 4),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs),
    walk AS (
      SELECT src AS id, src AS peer FROM edges
      UNION
      SELECT e.src AS id, w.peer FROM edges e JOIN walk w ON e.dst = w.id),
    comps AS (SELECT id, min(peer) AS component FROM walk GROUP BY id)
    SELECT d.doc_id FROM documents d LEFT JOIN comps c ON d.doc_id = c.id
    WHERE c.id IS NULL OR d.doc_id = c.component
    """,
)
def image_neardup_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5xE2 end-to-end image dedup: dHash pairs -> connected
    components -> keep the min-id survivor per near-dup cluster
    (the LAION-style collapse, composed from image_dhash_neardup +
    dedup.dedup_by_components). The pairs and component map are tiny
    relative to the corpus, so the final anti-join broadcasts at any
    scale; the payload bytes never join anything."""
    docs = load_table(spark, sf_dir, "documents")
    imgs = multimodal.attach_image_payload(docs, "doc_id")
    sig = multimodal.image_dhash(imgs)
    pairs = dedup.banded_hamming_pairs(
        sig, "doc_id", "dhash64", num_bits=64, bands=8, max_hamming=4
    )
    kept = dedup.dedup_by_components(docs, "doc_id", pairs)
    return kept.select("doc_id")


def _sql_audio_fp() -> str:
    """DuckDB transcription of the closed-form audio-fixture
    fingerprint (multimodal._audio_sample_value -> 64 sign-of-delta
    bits); bit 63's term adds min-long, as in _sql_image_dhash."""
    from ingest_spark.operators.multimodal import (
        _AUDIO_BASES as NB,
        _AUDIO_LEVELS as NL,
        AUDIO_FP_SAMPLES as NS,
    )

    base_s = f"(((doc_id % {NB}) + 1) * 17 * t + (doc_id % {NB}) * 53) % {NL}"
    sx = (
        f"list_transform(range({NS}), t -> "
        f"CASE WHEN t = doc_id % {NS} "
        f"THEN (({base_s}) + 499) % {NL} "
        f"ELSE ({base_s}) END)"
    )
    terms = []
    for bit in range(NS - 1):
        val = (
            "(-9223372036854775807 - 1)"
            if bit == 63
            else f"CAST({1 << bit} AS BIGINT)"
        )
        terms.append(
            f"(CASE WHEN s[{bit + 2}] > s[{bit + 1}] THEN {val} ELSE CAST(0 AS BIGINT) END)"
        )
    return (
        f"SELECT doc_id, ({' + '.join(terms)}) AS audiofp64 "
        f"FROM (SELECT doc_id, {sx} AS s FROM documents)"
    )


@q("audio_fingerprint_signatures", _sql_audio_fp())
def audio_fingerprint_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5xE2: audio fingerprint — synthesize a real mono 16-bit WAV
    per doc (65 closed-form samples), decode it with the stdlib RIFF
    parser, emit the 64-bit sign-of-delta hash (the Chromaprint bit
    primitive over the decoded envelope). The oracle recomputes the
    fingerprint from the sample formula alone, so a hash match proves
    encode -> decode -> fingerprint end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    clips = multimodal.attach_audio_payload(docs, "doc_id")
    return multimodal.audio_fingerprint(clips)


@q(
    "audio_fingerprint_neardup",
    f"""
    WITH sig AS ({_sql_audio_fp()}),
    banded AS (
      SELECT doc_id, audiofp64,
             unnest([
               '0:' || ((audiofp64 >> 0) & 255),  '1:' || ((audiofp64 >> 8) & 255),
               '2:' || ((audiofp64 >> 16) & 255), '3:' || ((audiofp64 >> 24) & 255),
               '4:' || ((audiofp64 >> 32) & 255), '5:' || ((audiofp64 >> 40) & 255),
               '6:' || ((audiofp64 >> 48) & 255), '7:' || ((audiofp64 >> 56) & 255)]) AS bucket
      FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.audiofp64, b.audiofp64)) AS INT) AS hamming
    FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.audiofp64, b.audiofp64)) <= 4
    """,
)
def audio_fingerprint_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5xE2: audio near-dup pairs — decoded-WAV fingerprints through
    the same banded Hamming join as image dHash (8 bands x 8 bits,
    max_hamming=4 < 8 -> pigeonhole-exact). Same-base docs (one
    perturbed sample each) sit within 4 bits and are all recovered;
    at scale candidates meet only inside band buckets."""
    docs = load_table(spark, sf_dir, "documents")
    clips = multimodal.attach_audio_payload(docs, "doc_id")
    sig = multimodal.audio_fingerprint(clips)
    return dedup.banded_hamming_pairs(
        sig, "doc_id", "audiofp64", num_bits=64, bands=8, max_hamming=4
    )


def _sql_video_dhash() -> str:
    """DuckDB transcription of the closed-form per-frame clip dHash
    (multimodal._video_tile_value over VIDEO_FRAMES frames): one
    64-term bit block written once, with the frame index ``f`` a
    plain column — the per-frame +11 offset and the one perturbed
    (frame, tile) enter the tile formula, not the bit algebra."""
    from ingest_spark.operators.multimodal import (
        _DHASH_LEVELS as NL,
        _VIDEO_BASES as NB,
        DHASH_H,
        DHASH_W,
        VIDEO_FRAMES,
    )

    n_px = DHASH_W * DHASH_H
    base_px = (
        f"(((doc_id % {NB}) + 1) * 23 * (i % {DHASH_W}) "
        f"+ (doc_id % {NB}) * 41 + (i // {DHASH_W}) * 7 + f * 11) % {NL}"
    )
    px = (
        f"list_transform(range({n_px}), i -> "
        f"CASE WHEN f * {n_px} + i = doc_id % {VIDEO_FRAMES * n_px} "
        f"THEN (({base_px}) + 128) % {NL} "
        f"ELSE ({base_px}) END)"
    )
    terms = []
    for y in range(DHASH_H):
        for x in range(DHASH_W - 1):
            bit = y * 8 + x
            a = y * DHASH_W + x + 1
            val = (
                "(-9223372036854775807 - 1)"
                if bit == 63
                else f"CAST({1 << bit} AS BIGINT)"
            )
            terms.append(
                f"(CASE WHEN p[{a + 1}] > p[{a}] THEN {val} ELSE CAST(0 AS BIGINT) END)"
            )
    return (
        f"SELECT doc_id, CAST(f AS INTEGER) AS frame_idx, ({' + '.join(terms)}) AS dhash64 "
        f"FROM (SELECT doc_id, f, {px} AS p FROM documents, "
        f"unnest(generate_series(0, {VIDEO_FRAMES - 1})) AS t(f) "
        f"WHERE doc_id % 5 = 1)"
    )


@q("video_dhash_signatures", _sql_video_dhash())
def video_dhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5xE2: video perceptual hashes — every doc_id%5==1 doc gets a
    self-made 4-frame MJPEG-in-AVI (72x64 frames of 8x8-constant
    tiles, values closed-form in (doc_id, frame, tile)); the engine
    walks the real RIFF container, entropy-decodes every JPEG frame,
    area-resamples to the 9x8 dHash grid, and emits one 64-bit hash
    per frame. Constant MCU blocks round-trip the lossy pipeline
    bit-exactly (the multimodal_mjpeg_frames proof), so the oracle
    predicts every frame hash from the tile formula alone — a hash
    match proves container walk + frame decode + resample + hash."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 1)
    clips = multimodal.attach_video_payload(docs, "doc_id")
    return multimodal.video_dhash(clips)


@q(
    "video_dhash_neardup",
    f"""
    WITH sig AS ({_sql_video_dhash()}),
    banded AS (
      SELECT doc_id, frame_idx, dhash64,
             unnest([
               frame_idx || ':0:' || ((dhash64 >> 0) & 255),
               frame_idx || ':1:' || ((dhash64 >> 8) & 255),
               frame_idx || ':2:' || ((dhash64 >> 16) & 255),
               frame_idx || ':3:' || ((dhash64 >> 24) & 255),
               frame_idx || ':4:' || ((dhash64 >> 32) & 255),
               frame_idx || ':5:' || ((dhash64 >> 40) & 255),
               frame_idx || ':6:' || ((dhash64 >> 48) & 255),
               frame_idx || ':7:' || ((dhash64 >> 56) & 255)]) AS bucket
      FROM sig),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
    tot AS (
      SELECT c.id_a, c.id_b,
             sum(bit_count(xor(sa.dhash64, sb.dhash64))) AS h
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b AND sb.frame_idx = sa.frame_idx
      GROUP BY c.id_a, c.id_b)
    SELECT id_a, id_b, CAST(h AS INT) AS hamming FROM tot WHERE h <= 4
    """,
)
def video_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5xE2: video clip near-dup — per-frame dHashes through a
    (frame, band)-bucketed self-join, then EXACT clip distance as the
    total Hamming over frame-aligned signature vectors (zip_with +
    aggregate, JVM-side). Total <= 4 < 8 bands forces every frame
    within 7 bits, so every frame's banding finds the pair — zero
    recall loss vs the clip cross product (pigeonhole per frame).
    Same-base clips (one perturbed tile each) sit within total 4 and
    are all recovered. At scale: candidates meet only inside
    per-frame band buckets, signatures are 4 longs per clip — the
    payload bytes never join anything."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 1)
    clips = multimodal.attach_video_payload(docs, "doc_id")
    sig = multimodal.video_dhash(clips)
    return multimodal.video_neardup_pairs(sig, max_total_hamming=4, bands=8)


# ============================================================ E4/E6 round 2


@q(
    "quality_score",
    f"""
    SELECT doc_id,
           CAST(least(len({WORDS}) * 20000, 400000)
                + least(len(list_distinct({WORDS})) * 800000 // len({WORDS}), 400000)
                + least({sql_stop_hits('text', text.EN_STOPWORDS)} * 2000000
                        // len({WORDS}), 200000) AS DOUBLE) / 1000000 AS quality_score
    FROM documents
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: heuristic quality pre-filter (length, lexical diversity,
    stopword density) — the cheap gate before expensive dedup/training."""
    docs = load_table(spark, sf_dir, "documents")
    return text.quality_score(docs).select("doc_id", "quality_score")


@q(
    "tfidf_top_terms",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
    dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, word, tf,
             round(tf * ln((SELECT n_docs FROM n) / df), 6) AS tfidf
      FROM tf JOIN dfreq USING (word))
    SELECT doc_id, word, tf, tfidf, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, word) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: TF-IDF top-3 terms per document. Plan: explode -> two hash
    aggregates (tf, then document frequency over the tf table) -> the
    vocab side joins back with the strategy left to AQE (broadcast at
    bench scale by measured size) -> WindowGroupLimit rank.
    The corpus size N is a collected literal (like the watermark).

    r12: tf is pin()ned — the r11 plan executed the tf subtree (scan
    -> explode -> vocab shuffle) TWICE, once as the join probe and
    once under dfreq; ReuseExchange never fired because column pruning
    diverges the two subplans. The pin is at doc-word grain (strictly
    smaller than the token grain) and measured 1.85x at sf1 / 1.66x at
    sf10 with identical checksums (ledger study text_shape_ab;
    tools/text_shape_ab.py). The sibling dsir rewrite was measured and
    REJECTED (0.74-0.82x at sf10) — see PLANS.md."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = pin(
        words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # vocab grows with the corpus (Heaps' law) — like the unigram vocab
    # (r5), its join strategy is AQE's measured call, not a forced hint
    scored = tf.join(dfreq, "word").withColumn(
        "tfidf", F.round(F.col("tf") * F.log(F.lit(n_docs) / F.col("df")), 6)
    )
    return relational.top_n_per_group(
        scored.select("doc_id", "word", "tf", "tfidf"),
        ["doc_id"],
        [F.col("tfidf").desc(), F.col("word")],
        3,
    )


@q(
    "window_moving_avg",
    """
    SELECT o_custkey, o_orderkey,
           round(avg(o_totalprice) OVER w3, 6) AS moving_avg3,
           lag(o_orderdate) OVER wo AS prev_orderdate,
           lead(o_orderdate) OVER wo AS next_orderdate
    FROM orders
    WINDOW w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           wo AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 window variety: frame-bounded moving average + lag/lead in
    one pass (single shuffle on the partition key, shared sort)."""
    o = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = wo.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w3), 6).alias("moving_avg3"),
        F.lag("o_orderdate").over(wo).alias("prev_orderdate"),
        F.lead("o_orderdate").over(wo).alias("next_orderdate"),
    )


@q(
    "anti_join_inactive_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2001-01-01')
    """,
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: left-anti join — customers with no order since a cutoff
    (churn query). r9: the original "never ordered" form was vacuous
    on this data (every custkey appears in orders at every SF), so the
    anti join's probe/miss path was never exercised; the recency
    predicate keeps the same plan (filter pushed to the build side
    before the anti join) and selects 615/1500 at sf0.01."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@q(
    "semi_join_active_parts",
    """
    SELECT p_partkey, p_name, p_retailprice FROM part p
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45)
    """,
)
def semi_join_active_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: left-semi join with a pushed predicate on the probe side."""
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return p.join(li, p.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name", "p_retailprice"
    )


@q(
    "union_sources_dedup",
    """
    WITH merged AS (
      SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      UNION ALL
      SELECT * FROM events WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'),
    deduped AS (SELECT DISTINCT * FROM merged)
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS n
    FROM deduped GROUP BY 1
    """,
)
def union_sources_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source union ingest: two overlapping at-least-once feeds
    (the reference's replayed-window case, T7/T8) unioned then deduped
    to an exactly-once daily view."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"))
    b = ev.filter(F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
    merged = dedup.exact_dedup(a.unionByName(b))
    return merged.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )


@q(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(day(o_orderdate) AS INT) AS order_day,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS INT)
             AS days_to_ref,
           CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date
    FROM orders
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 scalar surface: date part extraction / arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.to_date("o_orderdate")).alias(
            "days_to_ref"
        ),
        (F.col("o_orderdate") + F.expr("interval 90 days")).alias("due_date"),
    )


@q(
    "string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS INT) AS name_len,
           replace(c_name, '#', '-') AS name_clean,
           CAST(strpos(c_name, '#') AS INT) AS hash_pos,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_padded
    FROM customer
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 scalar surface: string manipulation."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.replace("c_name", F.lit("#"), F.lit("-")).alias("name_clean"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("key_padded"),
    )


def approx_distinct_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group HLL++ estimate next to the exact distinct count —
    the raw sketch output. Not a `queries()` entry: estimates are
    engine-specific, so raw values can never hash-match an oracle.
    The error-bound pytest asserts <5% relative error per group."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    )


@q(
    "approx_distinct_sketch",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(coalesce(sum(CASE WHEN abs(approx_users - exact_users)
                                       > 0.05 * exact_users
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_groups_outside_5pct
    FROM (SELECT event_type,
                 approx_count_distinct(user_id) AS approx_users,
                 count(DISTINCT user_id) AS exact_users
          FROM events GROUP BY event_type)
    """,
)
def approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ sketch accuracy as a DETERMINISTIC check (VERDICT
    r4 §Next #2): each engine compares its own sketch against its own
    exact count and reports the number of groups whose estimate falls
    outside ±5% — expected 0 on both sides, so the row is engine-stable
    and hash-matchable even though the underlying sketches differ.
    The sketch is still fully exercised (one HLL per group)."""
    detail = approx_distinct_detail(spark, sf_dir)
    return detail.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.coalesce(
            F.sum(
                F.when(
                    F.abs(F.col("approx_users") - F.col("exact_users"))
                    > 0.05 * F.col("exact_users"),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_groups_outside_5pct"),
    )


# ============================================================ round 3: TPC-H depth


@q(
    "tpch_q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (exact on this schema): pure scan-filter-aggregate —
    all three predicates reach the parquet reader as PushedFilters;
    no shuffle beyond the final 1-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"))
    )


@q(
    "tpch_q4_late_orders",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def tpch_q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 adapted to this schema (no l_commitdate/l_receiptdate:
    "late" = shipped >60 days after order date). Left-semi join keeps
    only the existence probe — lineitem never widens the orders side."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("interval 60 days")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@q(
    "tpch_q10_returned_revenue",
    """
    WITH scored AS (
      SELECT c_custkey, c_name, n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        AND l_returnflag = 'R'
      GROUP BY c_custkey, c_name, n_name)
    SELECT c_custkey, c_name, n_name, revenue, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank
      FROM scored) WHERE rank <= 20
    """,
)
def tpch_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue. Fact-side
    filters (date window, returnflag) cut lineitem before the joins;
    nation (25 rows forever) keeps its hint, but customer SCALES with
    SF so its strategy is AQE's call (VERDICT r9 §Wrong #2) —
    broadcast at bench SF by measured size, shuffled join at 100 TB."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    )
    scored = joined.groupBy("c_custkey", "c_name", "n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )
    return relational.top_n_per_group(
        scored, [], [F.col("revenue").desc(), F.col("c_custkey")], 20
    )


@q(
    "tpch_q13_order_distribution",
    """
    WITH per_cust AS (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: two-level aggregate over a left outer join (zero-order
    customers kept — count(col) skips the nulls the outer join makes)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@q(
    "tpch_q14_promo_share",
    """
    SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one month against the
    date-pruned lineitem scan. part SCALES with SF — no forced
    broadcast (VERDICT r9 §Wrong #2); AQE broadcasts it at bench SF by
    measured size and falls back to a shuffled join at cluster SF."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.join(p, li.l_partkey == p.p_partkey).agg(
        F.round(
            100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev),
            6,
        ).alias("promo_revenue_pct")
    )


@q(
    "tpch_q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
           o_totalprice, total_qty
    FROM big JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders. The HAVING aggregate shrinks the
    key set to a sliver — but "a sliver of lineitem" still GROWS with
    SF, as does customer, so neither gets a forced broadcast (VERDICT
    r9 §Wrong #2). AQE measures the post-aggregate size at runtime and
    broadcasts exactly when it actually fits."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # filter on the UNROUNDED sum (the oracle's HAVING compares raw);
    # round only the reported column — boundary values like 300.004
    # would otherwise flip across engines
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__raw_qty"))
        .filter(F.col("__raw_qty") > 300)
        .select("l_orderkey", F.round("__raw_qty", 2).alias("total_qty"))
    )
    return (
        big
        .join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@q(
    "tpch_q19_bracket_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def tpch_q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 adapted (no shipmode/shipinstruct columns): disjunctive
    bracket predicate across both join sides — Catalyst still extracts
    the common join key. part scales with SF, so broadcast-vs-shuffle
    is AQE's size-measured call, not a forced hint (VERDICT r9
    §Wrong #2)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    bracket = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(bracket).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


@q(
    "tpch_q22_idle_wealthy",
    """
    WITH avg_bal AS (SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0)
    SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (SELECT a FROM avg_bal)
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2001-01-01')
    GROUP BY n_name
    """,
)
def tpch_q22_idle_wealthy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 adapted (nation stands in for phone country codes):
    above-average-balance customers with no RECENT orders (r9: the
    no-orders-ever form was vacuous — every custkey has orders in
    this data at every SF). The scalar avg is a 1-row broadcast; the
    anti join prunes before the aggregate."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2001-01-01"
    )
    n = load_table(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("a"))
    wealthy = c.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("a"), "inner")
    idle = wealthy.join(o, wealthy.c_custkey == o.o_custkey, "left_anti")
    return (
        idle.join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ============================================================ round 3: events analytics


@q(
    "sessionize_events",
    """
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
      FROM marked)
    SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle timeout): the classic
    clickstream operator — lag to mark session starts, running sum to
    number them, then per-session rollup. ONE shuffle on user_id is
    shared by both window functions and the final aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sessions = marked.withColumn(
        "session_id",
        F.sum("new_session")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("int"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@q(
    "retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS TIMESTAMP) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS active_day
      FROM events)
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, active_day) AS INT) AS day_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM activity JOIN firsts USING (user_id)
    GROUP BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen day,
    counted on each later active day. Both aggregates share the
    user_id shuffle; the cohort dimension joins back broadcast."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("active_day")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.to_date("active_day"), F.to_date("cohort_day")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


@q(
    "percentiles_exact",
    """
    SELECT event_type,
           round(CAST(quantile_cont(value, 0.25) AS DOUBLE), 6) AS p25,
           round(CAST(quantile_cont(value, 0.50) AS DOUBLE), 6) AS p50,
           round(CAST(quantile_cont(value, 0.75) AS DOUBLE), 6) AS p75,
           round(CAST(quantile_cont(value, 0.95) AS DOUBLE), 6) AS p95
    FROM events GROUP BY event_type
    """,
)
def percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (the sort-based
    aggregate; approx_percentile is the sketch sibling for 100 TB)."""
    ev = load_table(spark, sf_dir, "events")
    pcts = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.95)))
    return ev.groupBy("event_type").agg(
        *[F.round(pcts[i], 6).alias(n) for i, n in enumerate(["p25", "p50", "p75", "p95"])]
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@q(
    "pivot_daily_event_matrix",
    f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {', '.join(
             f"CAST(count(CASE WHEN event_type = '{t}' THEN 1 END) AS BIGINT) AS n_{t}"
             for t in EVENT_TYPES)}
    FROM events GROUP BY 1
    """,
)
def pivot_daily_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: day x event_type count matrix. Explicit pivot values keep
    it one pass (no distinct-values pre-scan) — at 100 TB the value
    list is a catalog fact, not something to discover per query."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    # a (day, type) combo with no rows pivots to NULL while the oracle's
    # count(CASE ...) yields 0 — coalesce so sparse days stay comparable
    return pivoted.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES]
    )


@q(
    "cube_order_status",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) with grouping flags to disambiguate
    subtotal rows from genuine NULL groups."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@q(
    "simhash_neardup",
    f"""
    WITH sig AS ({_sql_simhash(24)}),
    banded AS (
      SELECT doc_id, simhash16,
             unnest([
               '0:' || ((simhash16 >> 0) & 63),
               '1:' || ((simhash16 >> 6) & 63),
               '2:' || ((simhash16 >> 12) & 63),
               '3:' || ((simhash16 >> 18) & 63)]) AS bucket
      FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash16, b.simhash16)) AS INT) AS hamming
    FROM banded a JOIN banded b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash16, b.simhash16)) <= 3
    """,
)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2: SimHash near-dup pairs via banding. With 4 bands and
    max_hamming=3 < 4, pigeonhole guarantees zero recall loss vs the
    cross product. 24-bit signatures in 6-bit bands (64 buckets/band):
    bucket fan-out is what bounds candidate-pair count at scale, so
    wider bands beat the 16-bit variant ~16x on join volume."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_neardup_pairs(
        docs, "doc_id", "text", num_bits=24, bands=4, max_hamming=3
    )


@q("ivf_pq_topk")
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path #4 (r14): IVF-PQ hybrid — coarse cells prune
    WHICH rows are scanned (nprobe/n_cells of the corpus), PQ-ADC
    compresses HOW each is scored (m integer gathers on a
    32x-compressed code table), exact cosine re-rank on the top
    rerank_factor*k ADC survivors. The production big-corpus ANN
    config (FAISS IVFPQ family). r15 (VERDICT r14 #2): parameters are
    the CORPUS-SCALED auto sizing (sqrt-n cells, 1/3 probe fraction,
    sqrt-n/2 rerank budget — similarity.ivf_pq_auto_params), which
    measures recall@10 0.668/0.640/0.656 across sf0.001/0.01/0.1
    where the old fixed config decayed 0.572/0.540/0.424 (ledger
    op=ivf_pq_auto_grid). Rows-only check like ivf/pq (the k-means
    trainings are iterative); floors pinned at sf0.001 AND sf0.1 in
    tests/test_similarity.py, and ann_ivf_pq_recall_check is the
    hash-compared driver face of the same guarantee."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, m=8, codebook_k=16,
    )


@q("ivf_topk")
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path #2: IVF ANN — deterministic mini-k-means coarse
    quantizer (8 cells, 2 Lloyd iterations), nprobe=3, exact cosine
    re-rank in probed cells. Rows-only check: k-means is iterative
    (genuinely non-SQL-expressible); tests assert recall@10 vs the
    brute-force oracle. NB the driver's embeddings are uniform random
    (measured same-label vs cross-label cosine both ~0), the
    theoretical worst case for any partitioned ANN — recall here is
    ~0.6 at 3/8 of the brute-force work; on real (clustered)
    embeddings the same index does far better."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_cells=8, nprobe=3
    )


@q(
    "embedding_quantize",
    """
    SELECT vec_id,
           round(CAST(list_aggregate(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE))), 'max') AS DOUBLE), 6) AS max_abs,
           list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) /
                 list_aggregate(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))), 'max')
                 * 127) AS TINYINT)) AS q8
    FROM embeddings
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: per-vector symmetric int8 quantization
    (x -> round(x/max_abs*127)) — 4x storage cut before shipping
    embeddings to a trainer. Pure codegen (transform/aggregate HOFs),
    no shuffle, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    return emb.select(
        "vec_id",
        F.round(max_abs, 6).alias("max_abs"),
        F.transform(v, lambda x: F.round(x / max_abs * 127).cast("tinyint")).alias("q8"),
    )


@q(
    "doc_length_histogram",
    """
    SELECT CAST(len(string_split(text, ' ')) // 10 AS BIGINT) AS bucket_10w,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pipeline op: corpus length profile (10-word buckets) —
    the distribution check run before setting filter thresholds."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.size(F.split("text", " ")) / 10).cast("bigint")
    return docs.groupBy(bucket.alias("bucket_10w")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ============================================================ round 4: scalar surface


@q(
    "regex_functions",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'sc[a-z]+')) AS INT) AS n_sc_words,
           regexp_extract(text, '([a-z]+am)', 1) AS first_am_word,
           CAST(regexp_matches(text, 'stream|batch') AS BOOLEAN) AS mentions_mode,
           regexp_replace(text, '[0-9]+', '#', 'g') AS digits_masked
    FROM documents
    """,
)
def regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 scalar surface: regex extract/count/match/replace (patterns
    chosen inside the RE2-and-Java-regex common subset so both engines
    agree)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("sc[a-z]+"), 0)).alias("n_sc_words"),
        F.regexp_extract("text", "([a-z]+am)", 1).alias("first_am_word"),
        F.col("text").rlike("stream|batch").alias("mentions_mode"),
        F.regexp_replace("text", "[0-9]+", "#").alias("digits_masked"),
    )


@q(
    "embedding_stats",
    """
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(sqrt(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                         list_transform(embedding, x -> CAST(x AS DOUBLE)))),
                 6) AS l2_norm,
           round(CAST(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                     'min') AS DOUBLE), 6) AS vmin,
           round(CAST(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                     'max') AS DOUBLE), 6) AS vmax
    FROM embeddings
    """,
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6/E3 array surface: per-vector shape/norm/range profile via
    higher-order functions — the sanity scan before indexing a new
    embedding batch. No shuffle; pure codegen projection."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(dot), 6).alias("l2_norm"),
        F.round(F.array_min(v), 6).alias("vmin"),
        F.round(F.array_max(v), 6).alias("vmax"),
    )


@q(
    "conditional_bucketing",
    """
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 1000 THEN 'low'
                WHEN c_acctbal < 3000 THEN 'mid'
                ELSE 'high' END AS tier,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(CAST(round(sum(c_acctbal * 100)) AS BIGINT) * 10000
                // count(*) AS DOUBLE) / 1000000 AS avg_bal,
           CAST(count(nullif(c_mktsegment, 'BUILDING')) AS BIGINT) AS n_non_building
    FROM customer GROUP BY 1
    """,
)
def conditional_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 scalar surface: CASE WHEN tiering + nullif inside an
    aggregate (count skips the nulls nullif manufactures)."""
    c = load_table(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 3000, "mid")
        .otherwise("high")
    )
    return c.groupBy(tier.alias("tier")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        (
            F.expr("CAST(round(sum(c_acctbal * 100)) AS BIGINT) * 10000 div count(*)")
            .cast("double")
            / 1000000
        ).alias("avg_bal"),
        F.count(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))).alias("n_non_building"),
    )


@q(
    "unpivot_part_metrics",
    """
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val FROM part
    """,
)
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: UNPIVOT/melt — wide metrics to long (id, metric, value)
    triples. Spark's unpivot is a zero-shuffle generator expression."""
    p = load_table(spark, sf_dir, "part")
    return p.withColumn("p_size", F.col("p_size").cast("double")).unpivot(
        ["p_partkey"], ["p_size", "p_retailprice"], "metric", "val"
    )


@q(
    "hof_array_filtering",
    """
    SELECT vec_id,
           CAST(len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                x -> x > 0)) AS INT) AS n_positive,
           CAST(len(list_filter(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                x -> abs(x) > 0.35)) > 0 AS BOOLEAN) AS any_extreme,
           round(CAST(list_aggregate(list_filter(list_transform(embedding,
                 x -> CAST(x AS DOUBLE)), x -> x > 0), 'sum') AS DOUBLE), 6)
             AS positive_mass
    FROM embeddings
    """,
)
def hof_array_filtering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 higher-order-function surface: filter/exists/aggregate over
    array columns without exploding (row count preserved, no shuffle).
    r9: the exists threshold moved from |x| > 2 — impossible on
    unit-norm vectors, so the flag was constant false — to
    |x| > 0.35, a strongly-loaded component (134/500 vectors at
    sf0.01), so the predicate actually branches."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    pos = F.filter(v, lambda x: x > 0)
    return emb.select(
        "vec_id",
        F.size(pos).alias("n_positive"),
        F.exists(v, lambda x: F.abs(x) > 0.35).alias("any_extreme"),
        F.round(F.aggregate(pos, F.lit(0.0), lambda s, x: s + x), 6).alias("positive_mass"),
    )


@q(
    "range_join_weekly_windows",
    """
    WITH windows AS (
      SELECT CAST(w AS TIMESTAMP) AS win_start,
             CAST(w + INTERVAL 7 DAY AS TIMESTAMP) AS win_end
      FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                          TIMESTAMP '2024-01-29',
                                          INTERVAL 7 DAY)) AS w))
    SELECT win_start, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events JOIN windows ON ts >= win_start AND ts < win_end
    GROUP BY win_start
    """,
)
def range_join_weekly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: interval range join — events against a GENERATED window
    dimension (S3's sequence+explode enumeration reused as a join
    side). Non-equi joins have no hash path, but the window side is
    tiny and broadcast, so the fact side still never shuffles."""
    ev = load_table(spark, sf_dir, "events")
    windows_df = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("timestamp"),
                F.lit("2024-01-29").cast("timestamp"),
                F.expr("interval 7 days"),
            )
        ).alias("win_start")
    ).withColumn("win_end", F.col("win_start") + F.expr("interval 7 days"))
    return (
        ev.join(
            F.broadcast(windows_df),
            (ev.ts >= windows_df.win_start) & (ev.ts < windows_df.win_end),
        )
        .groupBy("win_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@q(
    "word_frequencies",
    """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    c AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY word)
    SELECT word, freq, CAST(rank AS INT) AS rank FROM (
      SELECT word, freq, row_number() OVER (ORDER BY freq DESC, word) AS rank
      FROM c) WHERE rank <= 20
    """,
)
def word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: corpus vocabulary head (top-20 words) — explode -> two-phase
    hash aggregate (map-side combine does the heavy lifting; only
    distinct words shuffle) -> global top-k."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    return relational.top_n_per_group(
        counts, [], [F.col("freq").desc(), F.col("word")], 20
    )


@q("approx_percentile_sketch")
def approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-style quantile sketch vs the exact percentile, per event
    type. Rows-only check (sketch internals are engine-specific);
    tests assert the approximation lands within 2% relative error.
    The oracle-checked sibling is approx_percentile_check below (the
    r5 approx_distinct pattern: deterministic violation count)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.percentile("value", 0.5).alias("exact_p50"),
    )


@q(
    "approx_percentile_check",
    """
    SELECT event_type,
           round(CAST(quantile_cont(value, 0.50) AS DOUBLE), 6) AS exact_p50,
           CAST(0 AS BIGINT) AS n_violations
    FROM events GROUP BY event_type
    """,
)
def approx_percentile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked face of the quantile sketch (r14, the r5
    approx_distinct_sketch pattern): per event type, the EXACT
    interpolated median (cross-engine comparable at round6, proven by
    percentiles_exact) plus the count of groups where Spark's
    percentile_approx(accuracy=10000) misses the exact median by more
    than 2% relative — deterministically 0 on this data, so the value
    hash verifies both the exact percentile AND that the sketch stays
    in its error band. Multiplicative form (|a-e| > 0.02|e|) avoids a
    zero-median division. The raw engine-specific estimates stay
    observable in the rows-only approx_percentile_sketch above."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("__approx"),
        F.percentile("value", 0.5).alias("__exact"),
    )
    return agg.select(
        "event_type",
        F.round("__exact", 6).alias("exact_p50"),
        F.when(
            F.abs(F.col("__approx") - F.col("__exact"))
            > 0.02 * F.abs(F.col("__exact")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_violations"),
    )


@q(
    "tpch_q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 4) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral trade volume between a nation pair by year
    (r9: pair literals switched from FRANCE/GERMANY to NATION_13/19 —
    this data's nations are NATION_0..24, so the original literals
    matched nothing and the 5-way join was vacuous at every SF). The
    disjunctive nation-pair predicate lands after broadcast joins of
    both nation copies (25 rows forever — hints kept); lineitem's date
    filter is pushed. supplier/customer scale with SF → no forced
    broadcast, AQE decides by size (VERDICT r9 §Wrong #2)."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    # r10: prefilter both nation copies to the queried pair — the DNF
    # references BOTH sides so Catalyst can't derive these single-side
    # IN-filters itself, yet each is implied by the pair predicate
    # ((13,19)|(19,13) ⊆ {13,19}x{13,19}); the broadcast joins then
    # prune ~92% of supplier/customer rows BEFORE the fact join
    # instead of after the 5-way join materializes them.
    pair = ("NATION_13", "NATION_19")
    n1 = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    ).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(*pair)
    ).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            # built from the SAME `pair` tuple as the prefilter above,
            # so "prefilter ⊇ filter" holds by construction — two
            # literal sets drifting apart would silently prune valid
            # rows (r10 review)
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


@q(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           round(sum(CASE WHEN nation = 'BRAZIL' THEN volume ELSE 0 END)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31')
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: supplier-nation market share inside a consumer region
    — the deepest star join in the suite (7 tables). Hints only on the
    fixed-cardinality dims (nation x2, region); part/supplier/customer
    scale with SF so their strategy is AQE's measured call (VERDICT r9
    §Wrong #2) — still all-broadcast at bench SF, shuffled joins only
    where a side genuinely outgrows the threshold at cluster SF."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31")
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.round(
            F.sum(F.when(F.col("nation") == "BRAZIL", vol).otherwise(0.0)) / F.sum(vol), 6
        ).alias("mkt_share")
    )


@q(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top supplier by quarterly revenue — a reused
    aggregated view joined against its own max (scalar-subquery
    broadcast), not a window sort."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = pin(li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "total_revenue"
        )
    ))  # referenced 2x (probe + max): pin the fact agg, don't
    # recompute it — r11 registry audit (VERDICT r10 §Next #2, q11 class):
    # without this the lineitem scan + supplier-grain shuffle executed twice
    # (no runtime ReusedExchange), exactly the doubled-fact-subtree defect.
    # supplier grain: two slim columns, MEMORY_AND_DISK, spills not OOMs.
    # r12: pin() = persist-with-lineage locally / reliable checkpoint on
    # cluster (VERDICT r11 §Next #2 fault posture; ledger op pin_mode_ab).
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        # max_rev is 1 row forever -> hint kept; supplier scales with
        # SF -> AQE decides (VERDICT r9 §Wrong #2)
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@q(
    "tpch_q17_small_qty_revenue",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 6) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: below-20%-of-average-quantity orders for one brand.

    r10 rework (VERDICT r9 §Wrong #2 + §Next #2): the old plan force-
    broadcast a per-partkey aggregate over ALL of lineitem — 25x more
    partkeys than the brand filter keeps, and a guaranteed >8 GB
    broadcast at cluster SF. Now the brand's partkeys prune lineitem
    FIRST (join strategy left to AQE), and the correlated scalar
    subquery becomes a window-average over the already-pruned rows:
    avg(l_quantity) per partkey is the same whether computed before or
    after the partkey-membership join, so one shuffle of the 1/25-
    pruned fact replaces [full-lineitem aggregate + forced broadcast +
    second lineitem scan]."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pruned = li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    return (
        pruned.withColumn("__thr", 0.2 * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 6).alias("avg_yearly"))
    )


@q(
    "latest_state_per_user",
    """
    SELECT user_id,
           arg_max(event_type, ts) AS last_event_type,
           max(ts) AS last_seen,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def latest_state_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert-compaction read side: collapse an append-only event log
    to latest-state-per-key in ONE hash aggregate (max_by) — no window
    sort, no self-join; deterministic because (user_id, ts) is verified
    unique at every SF. This is how a MERGE target is reconstructed
    from the reference's at-least-once append model."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "ts").alias("last_event_type"),
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )


@q(
    "densify_daily_counts",
    """
    WITH cal AS (
      SELECT CAST(d AS TIMESTAMP) AS day
      FROM (SELECT unnest(generate_series(TIMESTAMP '2023-12-25',
                                          TIMESTAMP '2024-02-04',
                                          INTERVAL 1 DAY)) AS d)),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1)
    SELECT cal.day, coalesce(daily.n, 0) AS n_events
    FROM cal LEFT JOIN daily ON cal.day = daily.day
    """,
)
def densify_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap densification: a generated calendar (S3's sequence+explode)
    left-joined to the fact rollup, zero-filling silent days — the
    difference between 'no data' and 'no row' that monitoring and
    training-data accounting both need. Aggregate first, THEN join:
    the calendar join touches day-level rows, never raw events."""
    ev = load_table(spark, sf_dir, "events")
    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2023-12-25").cast("timestamp"),
                F.lit("2024-02-04").cast("timestamp"),
                F.expr("interval 1 day"),
            )
        ).alias("day")
    )
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return cal.join(daily, "day", "left_outer").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_events")
    )


@q(
    "rolling_7day_user_spend",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW), 2) AS spend_7d
    FROM orders
    """,
)
def rolling_7day_user_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (vs the ROWS frames elsewhere): sums
    everything within 6 trailing days by VALUE, handling same-day rows
    and gaps correctly where a row-count frame cannot. Ordered by epoch
    seconds so both engines frame on identical integers."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-6 * 86400, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("spend_7d"),
    )


@q(
    "multimodal_frames",
    """
    WITH base AS (SELECT doc_id, text, strlen(text) AS nb FROM documents),
    frames AS (
      SELECT doc_id, CAST(i AS INT) AS frame_idx,
             substring(text, CAST(i * 256 + 1 AS INT), 256) AS chunk
      FROM base, LATERAL (
        SELECT unnest(generate_series(0,
                 greatest(CAST(ceil(nb / 256.0) AS BIGINT) - 1, 0))) AS i) s)
    SELECT doc_id, frame_idx,
           CAST(strlen(chunk) AS BIGINT) AS frame_bytes,
           sha256(chunk) AS frame_sha256
    FROM frames
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: video-style frame sampling as one-to-many mapInPandas fan
    out. The stub "frames" are 256-byte payload slices, so the oracle
    re-derives every frame hash from the source text (verified pure
    ASCII at every SF, so char slicing == byte slicing) — the Python
    batch plumbing is proven, not just smoke-tested."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.sample_frames(multimodal.attach_payload(docs, "doc_id", "text"))


@q(
    "multimodal_mjpeg_frames",
    """
    WITH d AS (
      SELECT doc_id,
             CAST(1 + doc_id % 4 AS INTEGER) AS nf,
             CAST(8 * (1 + doc_id % 2) AS INTEGER) AS w,
             CAST(8 * (1 + doc_id % 3) AS INTEGER) AS h
      FROM documents WHERE doc_id % 5 = 1)
    SELECT doc_id,
           CAST(f AS INTEGER) AS frame_idx,
           'mjpeg_frame' AS kind,
           w AS width, h AS height,
           CAST((doc_id * 31 + f * 57) % 256 AS DOUBLE) AS mean_value
    FROM d, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS f) s
    """,
)
def multimodal_mjpeg_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 REAL video-frame decode (VERDICT r8 §Next #5): every doc
    with doc_id%5==1 gets a self-made MJPEG-in-AVI — 1 + doc_id%4
    constant-grey baseline JPEG frames (value closed-form in
    (doc_id, frame_idx)) wrapped in a real RIFF container
    (encode_jpeg + encode_avi_mjpeg) — then the distributed decoder
    walks RIFF -> LIST movi and ENTROPY-DECODES each '00dc' frame
    (Huffman + dequant + IDCT) inside an Arrow batch, one output row
    per frame. Constant 8x8-tile images under all-ones quant tables
    round-trip the lossy pipeline bit-exactly, so the oracle predicts
    each frame's dims and exact pixel mean without decoding anything
    — a hash match proves real frames flow out of a real container,
    replacing r8's metadata-only video story."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 1
    )

    def run(batches):
        import pandas as pd

        from ingest_spark.operators.media_codecs import (
            encode_avi_mjpeg,
            encode_jpeg,
        )

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                w, h = 8 * (1 + doc_id % 2), 8 * (1 + doc_id % 3)
                frames = [
                    encode_jpeg(
                        w, h,
                        bytes([(doc_id * 31 + f * 57) % 256]) * (w * h),
                        channels=1,
                    )
                    for f in range(1 + doc_id % 4)
                ]
                payloads.append(encode_avi_mjpeg(w, h, frames, fps=25))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    media = docs.select("doc_id").mapInPandas(
        run, "doc_id long, payload binary"
    )
    return multimodal.mjpeg_frame_features(media)


@q(
    "zscore_by_event_type",
    """
    SELECT event_id,
           round((value - avg(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 6) AS zscore
    FROM events
    """,
)
def zscore_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group normalization (feature scaling before training).

    NOT a window: event_type has cardinality 3, so an unbounded-frame
    window over it would drag the entire fact table through three
    window tasks at scale (the single-partition-window skew class the
    r6 audit hunts — SCALING.md §7). Instead: map-side-combined
    3-row stats aggregate, broadcast back onto the scan — the fact
    table is never sorted and never concentrated on low-cardinality
    keys. tests/test_udf_surface.py proves the grouped-applyInPandas
    (Arrow) version computes the identical result."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("event_type").alias("__et")).agg(
        F.avg("value").alias("__mu"),
        F.stddev_samp("value").alias("__sd"),
    )
    # eqNullSafe, not a plain equi-join: the oracle's PARTITION BY
    # keeps NULL event_type rows as their own group, so the rewrite
    # must too — an inner equi-join would silently drop them
    # (ADVICE r6; current fixtures have no NULL event_type, so this
    # is pinned by the null-group unit test rather than the sweep).
    return ev.join(
        F.broadcast(stats), F.col("event_type").eqNullSafe(F.col("__et"))
    ).select(
        "event_id",
        F.round((F.col("value") - F.col("__mu")) / F.col("__sd"), 6).alias("zscore"),
    )


@q(
    "cheapest_supplier_per_part",
    """
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(round(l_extendedprice * 100) AS BIGINT) * 10000
                 // CAST(l_quantity AS BIGINT)) AS unit_micros
      FROM lineitem WHERE l_quantity > 0 GROUP BY l_partkey, l_suppkey),
    best AS (SELECT l_partkey, min(unit_micros) AS best_micros FROM offers GROUP BY l_partkey)
    SELECT o.l_partkey AS p_partkey, s_suppkey, s_name,
           CAST(o.unit_micros AS DOUBLE) / 1000000 AS unit_price
    FROM offers o
      JOIN best b ON o.l_partkey = b.l_partkey AND o.unit_micros = b.best_micros
      JOIN supplier ON s_suppkey = o.l_suppkey
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's shape on this schema (lineitem stands in for
    partsupp): argmin-per-group resolved by joining the aggregate back
    to the per-pair offers — ties keep ALL minimal suppliers, exactly
    like Q2's correlated min subquery. Both aggregates share the
    l_partkey shuffle; supplier scales with SF so its join strategy is
    AQE's measured call, not a forced hint (VERDICT r9 §Wrong #2).

    Unit price is integer micro-units (cents*10^4 div qty): a double
    division rounded to 6 decimals lands on exact 7-decimal midpoints
    for power-of-two quantities (qty=32 at sf0.1 exposed it), where
    Spark and DuckDB round in opposite directions. Integer min and an
    integer equality join are deterministic everywhere."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    s = load_table(spark, sf_dir, "supplier")
    unit_micros = F.expr(
        "CAST(round(l_extendedprice * 100) AS BIGINT) * 10000 div CAST(l_quantity AS BIGINT)"
    )
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit_micros).alias("unit_micros")
    )
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_micros").alias("best_micros")
    )
    return (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_micros") == F.col("best_micros")),
        )
        .join(s, offers.l_suppkey == s.s_suppkey)
        .select(
            offers.l_partkey.alias("p_partkey"),
            "s_suppkey",
            "s_name",
            (F.col("unit_micros").cast("double") / 1000000).alias("unit_price"),
        )
    )


@q(
    "neardup_components",
    f"""
    WITH RECURSIVE sig AS ({_sql_minhash_sig()[0]}),
    b AS (
      SELECT doc_id, '0:' || m0 || ',' || m1 AS bucket FROM sig
      UNION ALL
      SELECT doc_id, '1:' || m2 || ',' || m3 AS bucket FROM sig),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(id, label) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, r.label FROM edges e JOIN reach r ON r.id = e.d)
    SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS component
    FROM reach GROUP BY id
    """,
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 completion: near-dup PAIRS are not yet a dedup — cluster them
    into connected components (iterative min-label propagation; the
    oracle replays it as a recursive transitive-closure CTE) so each
    cluster can collapse to one canonical survivor
    (dedup.dedup_by_components)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=4, bands=2, shingle_n=3
    )
    return dedup.connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


@q(
    "neardup_components_star",
    ORACLES["neardup_components"],
)
def neardup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened connected components (VERDICT r4 §Next #3): the
    SAME near-dup graph through the alternating large-star/small-star
    algorithm (Kiveris et al. 2014) — per-node groupBy-min rounds whose
    map-side partial aggregation absorbs giant-component hub skew, with
    O(log n) round complexity instead of O(diameter). Shares the label
    variant's recursive-CTE oracle: both variants must produce
    identical components."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=4, bands=2, shingle_n=3
    )
    return dedup.connected_components(pairs, algorithm="star").select(
        F.col("id").alias("doc_id"), "component"
    )


@q(
    "neardup_components_prod",
    f"""
    WITH RECURSIVE sig AS ({_sql_minhash_sig("documents", 16)[0]}),
    b AS ({_sql_bands(16, 4)}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
    edges AS (
      SELECT id_a AS s, id_b AS d FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    reach(id, label) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, r.label FROM edges e JOIN reach r ON r.id = e.d)
    SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS component
    FROM reach GROUP BY id
    """,
)
def neardup_components_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the PRODUCTION 16h/4b near-dup graph
    (VERDICT r10 §Next #4) — the components sibling of
    minhash_lsh_neardup_prod, using the skew-hardened star algorithm
    (the variant the sf10 convergence evidence runs under). The 4h/2b
    components entries stay as small-SF saturation fixtures."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
    )
    return dedup.connected_components(pairs, algorithm="star").select(
        F.col("id").alias("doc_id"), "component"
    )


@q(
    "window_rank_variety",
    """
    SELECT o_orderkey, o_custkey,
           CAST(ntile(4) OVER w AS INT) AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           first_value(o_orderkey) OVER w AS cheapest_key,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS priciest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def window_rank_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 ranking-family completeness: ntile / percent_rank / cume_dist
    / first_value / last_value (with the full-partition frame
    last_value needs) — all five share ONE shuffle+sort on
    (o_custkey, o_totalprice)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.last("o_orderkey").over(w_full).alias("priciest_key"),
    )


@q(
    "null_semantics",
    """
    WITH t AS (
      SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg, c_acctbal
      FROM customer)
    SELECT seg,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(seg) AS BIGINT) AS n_nonnull,
           CAST(sum(CASE WHEN seg IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nullsafe_null,
           CAST(CAST(round(sum(c_acctbal * 100)) AS BIGINT) * 10000
                // count(*) AS DOUBLE) / 1000000 AS avg_bal
    FROM t GROUP BY seg
    ORDER BY seg NULLS FIRST
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 null semantics: NULL group keys, count(*) vs count(col),
    null-safe equality (<=>), and explicit NULLS FIRST ordering — the
    engine-parity corners every SQL migration trips on."""
    c = load_table(spark, sf_dir, "customer")
    t = c.select(
        "c_custkey", F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg"), "c_acctbal"
    )
    return (
        t.groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("seg").alias("n_nonnull"),
            F.sum(F.col("seg").eqNullSafe(F.lit(None)).cast("int")).cast("bigint").alias(
                "n_nullsafe_null"
            ),
            (
                F.expr(
                    "CAST(round(sum(c_acctbal * 100)) AS BIGINT) * 10000 div count(*)"
                ).cast("double")
                / 1000000
            ).alias("avg_bal"),
        )
        .orderBy(F.col("seg").asc_nulls_first())
    )


@q(
    "set_ops_all_variants",
    """
    SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT 'except_all', CAST(count(*) AS BIGINT) FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def set_ops_all_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: bag-semantics set ops (INTERSECT ALL / EXCEPT ALL keep
    multiplicities — the distinct variants live in set_ops_custkeys)."""
    o = load_table(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    inter = f.intersectAll(op).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    exc = f.exceptAll(op).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    return inter.unionByName(exc)


@q(
    "lateral_top2_orders",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
)
def lateral_top2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6: correlated LATERAL subquery (top-2 orders per customer),
    via the engine's SQL surface. Catalyst decorrelates it into the
    same window-rank plan as top_n_per_group — proof the SQL front-end
    and the DataFrame API meet in one optimizer."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lv")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_lv")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_lv c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_lv o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


@q(
    "salted_join_skew",
    """
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew remedy, result-proven: the salted join (dim exploded
    per-salt, fact salted by row hash) must produce EXACTLY the plain
    join's answer — the oracle IS the plain join. At scale this runs
    when one nation holds half the customers and AQE's split isn't
    enough."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = relational.salted_join(c, n.withColumnRenamed("n_nationkey", "c_nationkey"),
                                    "c_nationkey", salt_buckets=8)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@q(
    "correlation_stats",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
           round(stddev_pop(l_extendedprice), 4) AS std_price,
           round(var_samp(l_quantity), 6) AS var_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def correlation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 statistical aggregates: corr / covar_samp / stddev_pop /
    var_samp per group — one hash aggregate, all moments accumulated
    map-side in a single pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
        F.round(F.stddev_pop("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
    )


# ============================================== TPC-H completions (adapted)
# The driver tables carry no partsupp and no l_shipmode / l_commitdate /
# l_receiptdate columns, so q9/q11/q12/q16/q20/q21 are adapted: each keeps
# its reference plan shape (the part Catalyst must get right) with the
# missing column swapped for an equivalent predicate on what exists.


@q(
    "tpch_q9_product_profit",
    """
    SELECT nation, o_year, round(sum(amount_cents) / 100.0, 2) AS sum_profit FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS amount_cents
      FROM part JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%')
    GROUP BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (adapted: profit = revenue; no ps_supplycost without
    partsupp): per-nation, per-year profit on a part-name subset. The
    LIKE filter prunes part FIRST so the 5-way join never materializes
    unfiltered lineitem rows; part/supplier scale with SF so their join
    strategy is AQE's measured call (VERDICT r9 §Wrong #2), nation (25
    rows forever) keeps its hint. Amounts accumulate as integer cents
    so the sum is order-independent across engines (float += is not
    associative)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    j = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
    )
    amount_cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return j.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(F.round(F.sum(amount_cents) / 100.0, 2).alias("sum_profit"))


@q(
    "tpch_q11_important_stock",
    """
    WITH val AS (
      SELECT l_partkey,
             CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS value_cents
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey),
    s AS (SELECT CAST(count(*) AS BIGINT) AS nc,
                 CAST(sum(value_cents) AS BIGINT) AS tc FROM val)
    SELECT l_partkey, round(value_cents / 100.0, 2) AS value
    FROM val, s WHERE value_cents * nc > 2 * tc
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (adapted: shipped value stands in for partsupp stock
    value): parts whose single-nation value exceeds 2x the MEAN part
    value in that nation. The official Q11 scales its share fraction
    by 1/SF for exactly the reason r9 hit: a fixed share cut selects
    fewer parts as the catalog grows — the old 0.1%-of-total literal
    kept 238 parts at sf0.01 and ZERO at sf0.1 (vacuous at bench SF);
    the mean-relative form is scale-free (14/127/1228 parts at
    sf0.001/0.01/0.1; NATION_7 -> NATION_3, which has supplier volume
    at every SF). The HAVING-vs-global-scalar compare is a broadcast
    of a 1-row aggregate, and the threshold compare runs in integer
    cents so both engines make the identical cut.

    `val` is referenced twice (probe rows + the 1-row total) and Spark
    does not dedupe common subplans, so without pinning the full
    lineitem join + aggregate would execute TWICE (VERDICT r10 §Wrong
    #1 — at 100x a doubled fact scan is real money). localCheckpoint()
    materializes it once; both downstream references read the
    checkpoint blocks (same fix as tpch_q21's 3x-reused lateness
    frame). The pinned frame is per-partkey grain — two slim columns,
    MEMORY_AND_DISK-backed, so it spills rather than OOMs at scale;
    the lineage truncation trades executor-loss recompute for halving
    the dominant scan, the right call for a 2-column aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = pin(
        # supplier scales with SF -> AQE decides; nation keeps its hint
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.round(F.sum("l_extendedprice") * 100)
            .cast("long")
            .alias("value_cents")
        )
    )  # referenced 2x (probe + total): pin, don't recompute (r12: pin())
    total = val.agg(
        F.count(F.lit(1)).cast("long").alias("__nc"),
        F.sum("value_cents").alias("__tc"),
    )
    return (
        val.join(F.broadcast(total), F.col("value_cents") * F.col("__nc") > 2 * F.col("__tc"))
        .select("l_partkey", F.round(F.col("value_cents") / 100.0, 2).alias("value"))
    )


@q(
    "tpch_q12_late_shipment",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY l_linestatus
    """,
)
def tpch_q12_late_shipment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (adapted: l_linestatus stands in for l_shipmode, the
    90-day ship lag for the commit/receipt lag): priority mix of late
    lines. The lag predicate is a non-equi condition ON the join — it
    runs inside the join stage, not as a post-filter."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > F.col("o_orderdate") + F.expr("interval 90 days")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@q(
    "tpch_q16_supplier_variety",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45' AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (adapted: suppliers observed in lineitem stand in for
    partsupp rows): distinct-supplier counts per part classification.
    count(DISTINCT) expands to a two-phase aggregate — partial distinct
    map-side, exact count after one shuffle on the group key. part
    scales with SF -> join strategy is AQE's call, no forced broadcast
    (VERDICT r9 §Wrong #2)."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@q(
    "tpch_q20_part_promotion",
    """
    SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey HAVING sum(l_quantity) > 300)
    """,
)
def tpch_q20_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (adapted: shipped quantity stands in for ps_availqty):
    suppliers who moved >300 units of red parts in 1996. The IN
    subquery is a left-semi join against a pre-aggregated,
    pre-filtered lineitem slice; quantities are integral doubles so
    the HAVING threshold is engine-exact. part scales with SF -> no
    forced broadcast (VERDICT r9 §Wrong #2)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").startswith("red"))
    s = load_table(spark, sf_dir, "supplier")
    movers = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    return s.join(
        movers, s.s_suppkey == movers.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@q(
    "tpch_q21_waiting_supplier",
    """
    WITH l AS (
      SELECT l_orderkey, l_suppkey, l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F')
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier JOIN l l1 ON s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey
                  AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
    GROUP BY s_name
    """,
)
def tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (adapted: "late" = shipped >60 days after order; the
    reference's receipt-vs-commit lag isn't in the driver tables):
    suppliers who were the SOLE late shipper in multi-supplier
    finished orders. EXISTS -> left-semi, NOT EXISTS -> left-anti;
    both reuse the same shuffle partitioning on l_orderkey."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    l = pin(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("interval 60 days")).alias(
                "late"
            ),
        )
    )  # reused 3x: pin once instead of 3 joins re-deriving it (r12: pin())
    l1 = l.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o1"), F.col("l_suppkey").alias("s1")
    )
    l2 = l.select(F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2"))
    l3 = l.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = (
        l1.join(l2, (F.col("o1") == F.col("o2")) & (F.col("s1") != F.col("s2")), "left_semi")
        .join(l3, (F.col("o1") == F.col("o3")) & (F.col("s1") != F.col("s3")), "left_anti")
    )
    return (
        # supplier scales with SF -> AQE decides (VERDICT r9 §Wrong #2)
        waiting.join(s, F.col("s1") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ==================================== training-data pipeline ops (round 2)
from ingest_spark.functions.hashing import normalized_text, stable_hash64
from ingest_spark.operators import sampling

NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)


@q(
    "text_normalize",
    f"""
    SELECT doc_id, {NORM_SQL} AS norm_text,
           CAST(length({NORM_SQL}) AS INT) AS n_norm_chars
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: canonical text form (lowercase, strip punctuation, collapse
    whitespace) — the cleanup stage ahead of tokenization and
    fingerprinting. Pure JVM regexp inside whole-stage codegen."""
    docs = load_table(spark, sf_dir, "documents")
    norm = normalized_text("text")
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("int").alias("n_norm_chars"),
    )


@q(
    "bigram_frequencies",
    f"""
    WITH g AS (
      SELECT unnest(list_filter(list_transform(
               generate_series(1, greatest(len(w) - 1, 0)),
               i -> CASE WHEN w[i] <> '' AND w[i+1] <> ''
                    THEN w[i] || ' ' || w[i+1] END),
             x -> x IS NOT NULL)) AS bigram
      FROM (SELECT {WORDS} AS w FROM documents))
    SELECT bigram, freq, CAST(rank AS INT) AS rank FROM (
      SELECT bigram, CAST(count(*) AS BIGINT) AS freq,
             row_number() OVER (ORDER BY count(*) DESC, bigram) AS rank
      FROM g GROUP BY bigram) WHERE rank <= 20
    """,
)
def bigram_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4: corpus bigram head — the n-gram LM / collocation-count
    shape. explode(word_ngrams) -> two-phase hash aggregate -> global
    top-k (TakeOrderedAndProject, not a single-partition window)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(F.explode(text.word_ngrams_fast("text", 2)).alias("bigram"))
    counts = grams.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))
    return relational.top_n_per_group(
        counts, [], [F.col("freq").desc(), F.col("bigram")], 20
    )


SPLIT_HASH_SQL = (
    "('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100"
)


@q(
    "hash_split_train_test",
    f"""
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT n_chars,
                 CASE WHEN {SPLIT_HASH_SQL} < 80 THEN 'train'
                      WHEN {SPLIT_HASH_SQL} < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
    GROUP BY split
    """,
)
def hash_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-hash
    bucket — reproducible across reruns, engines, and partitionings
    (rand() is none of those). No shuffle for the assignment itself;
    the one here belongs to the verification rollup."""
    docs = load_table(spark, sf_dir, "documents")
    split = sampling.hash_split(
        docs, "doc_id", {"train": 80, "val": 10, "test": 10}
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@q(
    "stratified_sample_by_lang",
    f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
               AS bucket,
             CASE lang WHEN 'en' THEN 10 WHEN 'de' THEN 50 ELSE 100 END AS rate
      FROM documents)
    WHERE bucket < rate
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balancing: keep 10% of English, 50% of German, 100% of
    everything else — per-stratum deterministic hash sampling as one
    codegen'd filter (no per-language scans, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_hash_sample(
        docs, "doc_id", "lang", {"en": 10, "de": 50}, default_rate=100
    ).select("doc_id", "lang")


@q(
    "dedup_keep_best",
    f"""
    SELECT doc_id, fp, n_chars FROM (
      SELECT doc_id, sha256({NORM_SQL}) AS fp, n_chars,
             row_number() OVER (PARTITION BY sha256({NORM_SQL})
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection: one survivor per normalized
    fingerprint, the LONGEST copy (truncated near-dupes lose). The
    which-copy-to-keep policy of a training-data dedup cascade."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "fp", normalized_fingerprint("text")
    )
    return dedup.keep_best(
        docs, "fp", [F.col("n_chars").desc(), F.col("doc_id")]
    ).select("doc_id", "fp", "n_chars")


@q(
    "sliding_event_rate",
    """
    SELECT window_start, CAST(count(*) AS BIGINT) AS n_events FROM (
      SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                     date_trunc('hour', ts)]) AS window_start
      FROM events)
    GROUP BY window_start
    """,
)
def sliding_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window event rate (2h windows, 1h slide) via Spark's
    native window() generator — each row expands to its two containing
    windows before ONE hash aggregate; the same code runs unchanged on
    a watermarked stream."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


def _sql_ngrams(n: int, src_filter: str = "") -> str:
    """DuckDB word n-grams mirroring text.word_ngrams_fast (single-
    space word-RUN semantics: a gram never spans a multi-space gap —
    the regex form's behavior; no distinct)."""
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    nonempty = " AND ".join(f"w[i+{j}] <> ''" for j in range(n))
    return (
        f"SELECT doc_id, unnest(list_filter(list_transform("
        f"generate_series(1, greatest(len(w) - {n - 1}, 0)), "
        f"i -> CASE WHEN {nonempty} THEN {gram} END), "
        f"x -> x IS NOT NULL)) AS gram "
        f"FROM (SELECT doc_id, {WORDS} AS w FROM documents{src_filter})"
    )


@q(
    "repetition_ratio",
    f"""
    WITH g AS ({_sql_ngrams(2)}),
         pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY doc_id, gram)
    SELECT doc_id, CAST(max(cnt) AS BIGINT) AS max_gram_count,
           CAST(sum(cnt) AS BIGINT) AS total_grams,
           CAST(max(cnt) * 1000000 // sum(cnt) AS DOUBLE) / 1000000
             AS repetition_ratio
    FROM pg GROUP BY doc_id
    """,
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4/E7: most-repeated-bigram share per document — the
    boilerplate/keyword-stuffing filter signal of a curation
    pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_ratio(docs, "text", "doc_id", n=2)


@q(
    "contamination_ngram_overlap",
    f"""
    WITH cg AS (SELECT DISTINCT * FROM ({_sql_ngrams(5, " WHERE source <> 'src0'")})),
         bg AS (SELECT DISTINCT gram FROM ({_sql_ngrams(5, " WHERE source = 'src0'")}))
    SELECT cg.doc_id, CAST(count(DISTINCT cg.gram) AS BIGINT) AS shared_ngrams
    FROM cg JOIN bg ON cg.gram = bg.gram
    GROUP BY cg.doc_id
    """,
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7: decontamination scan — corpus docs (source <> 'src0')
    sharing any 5-gram with the 'benchmark' slice (source = 'src0'),
    with distinct shared-gram counts. Benchmark grams broadcast; the
    corpus side never shuffles for the join."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    benchmark = docs.filter(F.col("source") == "src0")
    return text.ngram_contamination(corpus, benchmark, "text", "doc_id", n=5)


# ======================================= Spark-4-native surfaces (round 2)


@q(
    "session_window_native",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
          FROM o)
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window aggregate
    (one hash aggregate with merging session state — no lag/cumsum
    window cascade, and the identical call works on a watermarked
    stream). The oracle re-derives sessions with the lag+cumsum
    construction, proving the two formulations equivalent; the
    hand-rolled Spark variant is ``sessionize_events``."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@q(
    "variant_extract",
    """
    SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k,
           CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) = 0 THEN NULL
                ELSE floor(value * 10000 / CAST(json_extract(props, '$.k') AS INTEGER))
                     / 10000.0
           END AS value_per_k,
           CAST(json_extract(props, '$.missing') AS INTEGER) AS absent
    FROM events
    """,
)
def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    parse_json once, then typed variant_get paths — the open-schema
    ingest path (contrast t2_flatten_props' fixed-schema from_json).
    try_variant_get + try_divide give the error-safe cleaning
    semantics (missing path -> NULL, /0 -> NULL, never a crash).
    The ratio is floor-scaled, not rounded: both engines compute the
    identical IEEE quotient, and floor of the same double is exact
    where round-at-4 sits on a representation boundary."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.withColumn("__v", F.parse_json("props"))
    k = F.try_variant_get("__v", "$.k", "int")
    return v.select(
        "event_id",
        k.alias("k"),
        (F.floor(F.try_divide(F.col("value") * 10000, k)) / 10000.0).alias(
            "value_per_k"
        ),
        F.try_variant_get("__v", "$.missing", "int").alias("absent"),
    )


@q(
    "domain_quota_rebalance",
    f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents)
    WHERE rn <= 20
    """,
)
def domain_quota_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 domain mixing: cap every source at a quota (20 docs), picked
    by hash order — a deterministic uniform subsample per domain, not
    head-of-table bias. One shuffle on source; WindowGroupLimit pushes
    the quota into the per-group sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.sha2(F.col("doc_id").cast("string"), 256), F.col("doc_id")
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source")
    )


@q(
    "curation_pipeline_e2e",
    f"""
    WITH fp AS (
      SELECT doc_id, n_chars, lang, sha256({NORM_SQL}) AS fp
      FROM documents
      WHERE n_chars >= 50 AND len(string_split(text, ' ')) >= 10),
    best AS (
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn
        FROM fp) WHERE rn = 1),
    split AS (
      SELECT lang,
             CASE WHEN ('0x' || substring(sha256(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       % 100 < 90 THEN 'train' ELSE 'val' END AS split
      FROM best)
    SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
    FROM split GROUP BY lang, split
    """,
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation pipeline as ONE composed plan:
    quality gate (length floors) -> normalization-fingerprint dedup
    keeping the longest copy -> deterministic 90/10 split ->
    verification rollup. Composes E4 + E7 operators; Catalyst fuses
    the whole chain into scan -> filter -> one fingerprint shuffle ->
    split arithmetic -> one rollup shuffle."""
    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("n_chars") >= 50) & (F.size(F.split("text", " ")) >= 10)
    )
    fp = docs.withColumn("fp", normalized_fingerprint("text"))
    best = dedup.keep_best(fp, "fp", [F.col("n_chars").desc(), F.col("doc_id")])
    split = sampling.hash_split(best, "doc_id", {"train": 90, "val": 10})
    return split.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n_docs"))

@q(
    "chunk_tokens_windows",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    s AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w), 1), 8)) AS start
          FROM t)
    SELECT doc_id, CAST((start - 1) // 8 AS INT) AS chunk_id,
           array_to_string(list_slice(w, start, start + 15), ' ') AS chunk_text,
           CAST(len(list_slice(w, start, start + 15)) AS INT) AS n_tokens
    FROM s
    """,
)
def chunk_tokens_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-shape training-sample chunking: 16-token windows, stride 8
    (50% overlap). Shuffle-free generate inside codegen — the whole
    corpus chunks in one map stage (operators/text.py chunk_tokens)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_tokens(docs, size=16, stride=8)


@q(
    "pii_redaction",
    r"""
    WITH synth AS (
      SELECT doc_id,
             'user' || CAST(doc_id AS VARCHAR) || '@example.com said ' || text ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  ELSE '' END AS raw
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '\d{3}-\d{3}-\d{4}')) AS INT) AS n_phones,
           regexp_replace(
             regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS redacted
    FROM synth
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails + phone numbers -> typed placeholders,
    with per-doc counts). The corpus is synthetic-clean, so PII is
    injected deterministically from doc_id first — the regex path is
    then exercised on every row on both engines. RE2-safe patterns
    only (operators/text.py pii_redact): linear-time on adversarial
    text, portable across Spark/DuckDB/RE2 engines."""
    docs = load_table(spark, sf_dir, "documents")
    synth = docs.select(
        "doc_id",
        F.concat(
            F.lit("user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com said "),
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" call 555-867-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = text.pii_redact(synth)
    return out.select("doc_id", "n_emails", "n_phones", "redacted")


@q(
    "vocab_coverage",
    """
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    c AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w GROUP BY word),
    r AS (SELECT word, freq,
                 row_number() OVER (ORDER BY freq DESC, word) AS rank,
                 sum(freq) OVER (ORDER BY freq DESC, word
                                 ROWS UNBOUNDED PRECEDING) AS cum_freq,
                 sum(freq) OVER () AS total
          FROM c)
    SELECT word, freq, CAST(rank AS INT) AS rank,
           CAST(cum_freq AS BIGINT) AS cum_freq,
           CAST(CAST(cum_freq * 1000000 // total AS BIGINT) AS DOUBLE)
             / 1000000 AS cum_share
    FROM r WHERE rank <= 50
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design primitive: vocabulary head with cumulative
    corpus coverage — "the top-k words cover X% of all tokens". One
    count shuffle, then TakeOrderedAndProject keeps only the head
    (per-partition top-50 heaps — the full vocabulary never moves to
    one partition); rank + running sum are windowed over the 50
    survivors only. Scaled-integer share (portable midpoints)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # corpus-wide token total: scalar agg, broadcast onto the head
    total = counts.agg(F.sum("freq").alias("total"))
    # rank + running sum over the 50 survivors only; the empty window
    # partition spec triggers WindowExec's single-partition warning,
    # which is a false positive at this post-limit size
    top = counts.orderBy(F.col("freq").desc(), F.col("word")).limit(50)
    w = Window.orderBy(F.col("freq").desc(), F.col("word"))
    ranked = (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .withColumn(
            "cum_freq",
            F.sum("freq").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return ranked.select(
        "word",
        "freq",
        "rank",
        F.col("cum_freq").cast("long").alias("cum_freq"),
        ((F.col("cum_freq") * 1000000 / F.col("total")).cast("long").cast("double") / 1000000).alias("cum_share"),
    )

@q("sketch_rollup_union")
def sketch_rollup_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Apache DataSketches HLL): per-group
    user-cardinality sketches, then an associative hll_union_agg of the
    partials for the corpus-wide row — the pattern that makes distinct
    counting tractable at 100 TB: partials are a few KB per group, and
    the SAME sketches answer per-group, regional, and global questions
    without rescanning (precompute once, merge many ways). Rows-only
    check (sketch estimates are DataSketches-specific);
    tests/test_text_ops.py pins estimate-vs-exact relative error."""
    ev = load_table(spark, sf_dir, "events")
    # r15: part is referenced twice (per-group projection + the merged
    # ALL row) and the executed plan showed zero ReusedExchange — the
    # full events scan + sketch aggregate ran twice, contradicting the
    # "precompute once, merge many ways" contract. Pinned: a few KB of
    # sketch partials per group, one corpus scan. r16: gated on input
    # size (driver r15: 0.54x with the unconditional pin; the r16
    # alternating A/Bs at sf0.1 and sf1 confirm the round trip costs
    # more than the duplicate aggregate below ~GiB inputs).
    part = pin_if_big(
        ev.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("exact_users"),
        )
    )
    per_group = part.select(
        "event_type",
        "exact_users",
        F.hll_sketch_estimate("sk").alias("hll_users"),
    )
    total = (
        part.agg(
            F.hll_union_agg("sk").alias("merged"),
            F.sum("exact_users").alias("_ignore"),
        )
        .crossJoin(
            F.broadcast(ev.agg(F.count_distinct("user_id").alias("exact_users")))
        )
        .select(
            F.lit("ALL").alias("event_type"),
            F.col("exact_users"),
            F.hll_sketch_estimate("merged").alias("hll_users"),
        )
    )
    return per_group.unionByName(total)


@q(
    "sketch_rollup_check",
    """
    SELECT event_type, exact_users, CAST(0 AS BIGINT) AS n_violations
    FROM (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 'ALL', CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
    """,
)
def sketch_rollup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked face of the HLL rollup (r14, the
    approx_distinct/approx_percentile violation-count pattern): per
    event type AND for the merged corpus-wide row, the EXACT distinct
    user count plus whether the DataSketches estimate (per-group
    sketch, hll_union_agg merge for ALL) misses it by more than 5%
    relative — deterministically 0, so the value hash verifies the
    exact cardinalities AND that the sketch/merge path stays in its
    error band. The raw estimates stay observable in the rows-only
    sketch_rollup_union above."""
    ev = load_table(spark, sf_dir, "events")
    # r15: part is referenced twice (per-group projection + the merged
    # ALL row) and the executed plan showed zero ReusedExchange — the
    # full events scan + sketch aggregate ran twice, contradicting the
    # "precompute once, merge many ways" contract. Pinned: a few KB of
    # sketch partials per group, one corpus scan. r16: same input-size
    # gate as sketch_rollup_union (the shape is identical).
    part = pin_if_big(
        ev.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("exact_users"),
        )
    )
    per_group = part.select(
        "event_type",
        "exact_users",
        F.hll_sketch_estimate("sk").alias("__hll"),
    )
    total = (
        part.agg(F.hll_union_agg("sk").alias("merged"))
        .crossJoin(
            F.broadcast(ev.agg(F.count_distinct("user_id").alias("exact_users")))
        )
        .select(
            F.lit("ALL").alias("event_type"),
            F.col("exact_users"),
            F.hll_sketch_estimate("merged").alias("__hll"),
        )
    )
    return (
        per_group.unionByName(total)
        .select(
            "event_type",
            "exact_users",
            F.when(
                F.abs(F.col("__hll") - F.col("exact_users"))
                > 0.05 * F.col("exact_users"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("n_violations"),
        )
    )


@q(
    "heavy_hitters_event_types",
    """
    SELECT event_type AS item, CAST(count(*) AS BIGINT) AS est_count
    FROM events GROUP BY event_type
    """,
)
def heavy_hitters_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Misra-Gries heavy hitters (operators/sketches.py) run
    in its EXACT regime: distinct event types (5) <= k (16), so no
    counter ever compresses and the sketch must equal the exact
    histogram — which is precisely what the SQL oracle asserts. The
    shuffle after the partial stage carries <= partitions x k rows
    regardless of input size; the compressed regime (vocabulary-scale
    cardinality) is exercised with its n/(k+1) error bound in
    tests/test_text_ops.py."""
    from ingest_spark.operators import sketches

    ev = load_table(spark, sf_dir, "events")
    return sketches.heavy_hitters(ev, "event_type", k=16)


@q(
    "scd2_user_state_history",
    """
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN TRUE ELSE FALSE END AS is_current
    FROM events
    WHERE event_type IN ('signup', 'purchase', 'error')
    """,
)
def scd2_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 construction: each state-bearing
    event opens a validity interval [valid_from, valid_to) closed by the
    user's next state change; the open interval is the current state —
    the "latest typed view over an append-only topic" (reference Q1/
    ksqlDB, cluster/README.md:107-118) upgraded to full history. One
    shuffle on user_id; lead() and the is-current flag share the same
    sort."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase", "error")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@q(
    "funnel_conversion",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, min(e.ts) AS t_click FROM events e
      JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
      JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_viewed,
           CAST(count(t_click) AS BIGINT) AS n_clicked,
           CAST(count(t_purchase) AS BIGINT) AS n_purchased
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON c.user_id = p.user_id
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase, each step strictly
    after the previous): the sequential-pattern query SQL lacks
    MATCH_RECOGNIZE for, built from per-step conditional mins. Each
    step is one groupBy on user_id over a pre-filtered slice; the step
    joins are user-key equi-joins AQE plans (step outputs shrink
    monotonically). A 100 TB funnel keeps the same shape — the
    event_type filters prune at the scan, and only (user, ts) pairs
    ever shuffle."""
    ev = load_table(spark, sf_dir, "events")
    # r15: v is referenced 4x (c's probe, p's nested c, and the final
    # join) and c 2x — the executed plan showed only ONE ReusedExchange
    # across 10 parquet scans, i.e. the view/click aggregates (full
    # event-table scans at 100 TB) genuinely re-executed per reference.
    # Pin both at the per-user grain (guide §1.2: don't compute things
    # twice); p is referenced once and stays lazy. r16: gated on input
    # size — the driver's r15 bench and this round's alternating A/Bs
    # at sf0.1 AND sf1 showed the unconditional pin losing every
    # adjacent pair (0.83x driver): below pinning.pin_min_input_bytes()
    # the re-executed aggregates run in parallel inside one job and
    # cost less than two materialization round trips.
    v = pin_if_big(
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = pin_if_big(
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_viewed"),
            F.count("t_click").alias("n_clicked"),
            F.count("t_purchase").alias("n_purchased"),
        )
    )

@q(
    "table_profile",
    """
    SELECT 'o_orderkey' AS col,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
           CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_v,
           CAST(max(o_orderkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(count(*) - count(o_custkey) AS BIGINT),
           CAST(count(DISTINCT o_custkey) AS BIGINT),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) - count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(count(*) - count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT o_totalprice) AS BIGINT),
           CAST(min(o_totalprice) AS VARCHAR), CAST(max(o_totalprice) AS VARCHAR)
    FROM orders
    """,
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling sweep (the pre-ingest quality report): per-column
    null count, distinct count, min/max — ONE scan computing every
    column's aggregates simultaneously, then an unpivot of the single
    aggregate row (contrast the oracle's readable-but-4-scan UNION
    form; Catalyst does not fuse those). At 100 TB swap
    count_distinct for approx_count_distinct or the HLL-sketch partial
    (sketch_rollup_union) — exact kept here for the oracle. min/max
    stringified so heterogeneous column types share one report schema.
    """
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    one = o.agg(*aggs)
    stack = ", ".join(
        f"'{c}', `{c}__null`, `{c}__distinct`, `{c}__min`, `{c}__max`" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack}) AS (col, n_null, n_distinct, min_v, max_v)"
        )
    )


@q(
    "contract_validation",
    """
    SELECT 'orders_pk_unique' AS rule, CAST((
        SELECT count(*) FROM (
          SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
      ) AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_custkey_not_null', CAST((
        SELECT count(*) FROM orders WHERE o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_price_positive', CAST((
        SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT)
    UNION ALL
    SELECT 'orders_custkey_in_customer', CAST((
        SELECT count(*) FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        WHERE c_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_status_accepted', CAST((
        SELECT count(*) FROM orders
        WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
    """,
)
def contract_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract/constraint validation (the reference's registry
    preflight O2 generalized from "schema exists" to "data obeys the
    contract"): primary-key uniqueness, not-null, accepted values,
    value bounds, and referential integrity — each rule one violation
    count, dbt-test style. The PK check is a groupBy on the key; the
    FK check anti-joins the dimension with the strategy left to AQE
    (customer scales with SF — a forced broadcast is the VERDICT r9
    §Wrong #2 failure mode); the scalar rules fold into one scan. A
    100 TB run keeps every rule shuffle-free except the PK groupBy
    (and that one is map-side-combined to near nothing when the key
    IS unique) and the FK anti join's key shuffle when the dimension
    outgrows the broadcast threshold."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dup_pk = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orders_pk_unique").alias("rule"), "n_violations")
    )
    scalars = o.agg(
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("null_ck"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("bad_price"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")).alias(
            "bad_status"
        ),
    )
    nn = scalars.select(
        F.lit("orders_custkey_not_null").alias("rule"),
        F.col("null_ck").alias("n_violations"),
    )
    price = scalars.select(
        F.lit("orders_price_positive").alias("rule"),
        F.col("bad_price").alias("n_violations"),
    )
    status = scalars.select(
        F.lit("orders_status_accepted").alias("rule"),
        F.col("bad_status").alias("n_violations"),
    )
    fk = (
        # customer scales with SF -> AQE decides (VERDICT r9 §Wrong #2)
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(F.lit("orders_custkey_in_customer").alias("rule"), "n_violations")
    )
    return dup_pk.unionByName(nn).unionByName(price).unionByName(fk).unionByName(status)

@q(
    "source_reconciliation",
    """
    WITH agg AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
             round(sum(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey)
    SELECT presence, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(coalesce(sum(n_orders), 0) AS BIGINT) AS n_orders,
           round(coalesce(sum(total_spend), 0), 2) AS total_spend
    FROM (
      SELECT CASE WHEN c_custkey IS NULL THEN 'orders_only'
                  WHEN o_custkey IS NULL THEN 'customer_only'
                  ELSE 'both' END AS presence,
             n_orders, total_spend
      FROM customer FULL OUTER JOIN agg ON c_custkey = o_custkey)
    GROUP BY presence
    """,
)
def source_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-sink reconciliation (the audit every ingest pipeline
    owes its operators): FULL OUTER join of the customer master against
    per-customer order rollups, classifying every key as both /
    customer_only / orders_only with volume totals — orphan detection
    and completeness accounting in one report. The rollup shuffles
    once on custkey; the full-outer join then co-partitions on the
    same key (no broadcast: outer sides must both be preserved), and
    the final classification rollup is trivial. Same plan at 100 TB —
    both inputs arrive hash-partitioned on the join key."""
    c = load_table(spark, sf_dir, "customer")
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        )
    )
    j = c.join(agg, c.c_custkey == agg.o_custkey, "full_outer")
    presence = (
        F.when(F.col("c_custkey").isNull(), F.lit("orders_only"))
        .when(F.col("o_custkey").isNull(), F.lit("customer_only"))
        .otherwise(F.lit("both"))
    )
    return (
        j.select(presence.alias("presence"), "n_orders", "total_spend")
        .groupBy("presence")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.coalesce(F.sum("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
            F.round(F.coalesce(F.sum("total_spend"), F.lit(0)), 2).alias(
                "total_spend"
            ),
        )
    )

@q(
    "interpolate_hourly_gaps",
    """
    WITH cal AS (
      SELECT et, CAST(h AS TIMESTAMP) AS hour
      FROM (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                          TIMESTAMP '2024-01-14 23:00:00',
                                          INTERVAL 1 HOUR)) AS h),
           (SELECT DISTINCT event_type AS et FROM events)),
    obs AS (
      SELECT event_type AS et, date_trunc('hour', ts) AS hour,
             CAST(round(sum(value * 100)) AS BIGINT)
               * 100 // count(*) AS v_scaled
      FROM events GROUP BY 1, 2),
    g AS (
      SELECT cal.et, cal.hour, obs.v_scaled,
             epoch(cal.hour)::BIGINT // 3600 AS t
      FROM cal LEFT JOIN obs ON cal.et = obs.et AND cal.hour = obs.hour),
    w AS (
      SELECT et, hour, v_scaled, t,
             last_value(v_scaled IGNORE NULLS) OVER
               (PARTITION BY et ORDER BY hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y0,
             last_value(CASE WHEN v_scaled IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY et ORDER BY hour
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
             first_value(v_scaled IGNORE NULLS) OVER
               (PARTITION BY et ORDER BY hour
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS y1,
             first_value(CASE WHEN v_scaled IS NOT NULL THEN t END IGNORE NULLS)
               OVER (PARTITION BY et ORDER BY hour
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
      FROM g)
    SELECT et AS event_type, hour,
           CAST(v_scaled IS NOT NULL AS BOOLEAN) AS observed,
           CAST(CAST(CASE
             WHEN v_scaled IS NOT NULL THEN v_scaled
             WHEN y0 IS NULL THEN y1
             WHEN y1 IS NULL THEN y0
             WHEN t1 = t0 THEN y0
             ELSE y0 + (y1 - y0) * (t - t0) // (t1 - t0)
           END AS BIGINT) AS DOUBLE) / 10000 AS value_interp
    FROM w
    """,
)
def interpolate_hourly_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap repair one step past densify_daily_counts'
    zero-fill: LINEAR interpolation of missing hourly averages per
    event type, from the nearest observed neighbors on each side
    (edges clamp to the available side). The carry is two
    IGNORE-NULLS window walks over the densified grid — one shuffle
    on event_type total; the grid is hours x types, never raw events.
    All interpolation arithmetic is scaled-integer (cents*100), so
    engines agree bit-for-bit; observed rows pass through their own
    scaled average unchanged."""
    # calendar grid restricted to a fixed two-week window; observations
    # outside the grid drop in the calendar join
    ev = load_table(spark, sf_dir, "events")
    cal_hours = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("timestamp"),
                F.lit("2024-01-14 23:00:00").cast("timestamp"),
                F.expr("interval 1 hour"),
            )
        ).alias("hour")
    )
    types = ev.select(F.col("event_type").alias("et")).distinct()
    cal = cal_hours.crossJoin(F.broadcast(types))
    obs = ev.groupBy(
        F.col("event_type").alias("et"), F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.expr("CAST(round(sum(value * 100)) AS BIGINT) * 100 div count(*)").alias(
            "v_scaled"
        )
    )
    g = cal.join(obs, ["et", "hour"], "left").withColumn(
        "t", (F.unix_timestamp("hour") / 3600).cast("long")
    )
    wb = (
        Window.partitionBy("et")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("et")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    t_obs = F.when(F.col("v_scaled").isNotNull(), F.col("t"))
    w = (
        g.withColumn("y0", F.last("v_scaled", ignorenulls=True).over(wb))
        .withColumn("t0", F.last(t_obs, ignorenulls=True).over(wb))
        .withColumn("y1", F.first("v_scaled", ignorenulls=True).over(wf))
        .withColumn("t1", F.first(t_obs, ignorenulls=True).over(wf))
    )
    interp = (
        F.when(F.col("v_scaled").isNotNull(), F.col("v_scaled"))
        .when(F.col("y0").isNull(), F.col("y1"))
        .when(F.col("y1").isNull(), F.col("y0"))
        .when(F.col("t1") == F.col("t0"), F.col("y0"))
        .otherwise(
            F.col("y0")
            + F.expr("(y1 - y0) * (t - t0) div (t1 - t0)")
        )
    )
    return w.select(
        F.col("et").alias("event_type"),
        "hour",
        F.col("v_scaled").isNotNull().alias("observed"),
        (interp.cast("long").cast("double") / 10000).alias("value_interp"),
    )


@q(
    "market_basket_lift",
    """
    WITH post AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM post),
    part_freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS f FROM post GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(count(*) AS BIGINT) AS n_co
      FROM post a JOIN post b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 3)
    SELECT part_a, part_b, n_co,
           CAST(CAST(n_co * n.n * 1000000 // (fa.f * fb.f) AS BIGINT) AS DOUBLE)
             / 1000000 AS lift
    FROM co, n_orders n
    JOIN part_freq fa ON part_a = fa.l_partkey
    JOIN part_freq fb ON part_b = fb.l_partkey
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift (the recommendation/
    affinity primitive): distinct (order, part) postings self-joined
    on the order key — the same inverted-index shape as
    ngram_jaccard_neardup, keyed by basket instead of shingle — then
    lift = P(a,b)/(P(a)P(b)) in scaled-integer arithmetic against the
    part-frequency table (r10: per-part frequencies SCALE with the
    catalog, so their join strategy is AQE's measured call — broadcast
    at bench SF, shuffled when the catalog outgrows the threshold; only
    the 1-row n_orders keeps a hint). Support floor (>=3 co-orders)
    prunes the pair tail BEFORE the frequency joins. Baskets are small
    (1-7 items), so pair fan-out is bounded ~21x postings; at 100 TB
    the posting self-join co-partitions on the basket key."""
    post = pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # referenced 4x (n_orders, freq, both self-join sides) and the
        # runtime ReusedExchange only deduped 2 of them — the distinct
        # SHUFFLE of the whole fact re-executed (r11 registry audit,
        # VERDICT r10 §Next #2 q11 class). Pin it once: one lineitem
        # scan + one distinct shuffle, four readers of the blocks.
    )
    n_orders = post.agg(F.count_distinct("l_orderkey").alias("n"))
    freq = post.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("f"))
    co = (
        post.alias("a")
        .join(
            post.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 3)
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"), F.col("f").alias("fa"))
    fb = freq.select(F.col("l_partkey").alias("part_b"), F.col("f").alias("fb"))
    return (
        co.crossJoin(F.broadcast(n_orders))
        .join(fa, "part_a")
        .join(fb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_co",
            (
                F.expr("n_co * n * 1000000 div (fa * fb)").cast("long").cast("double")
                / 1000000
            ).alias("lift"),
        )
    )

@q(
    "activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events),
    isl AS (
      SELECT user_id, day,
             CAST(day - CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY day) AS INT) AS DATE) AS island
      FROM days),
    streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS streak_days,
             min(day) AS streak_start
      FROM isl GROUP BY user_id, island)
    SELECT user_id, streak_days, streak_start FROM (
      SELECT user_id, streak_days, streak_start,
             row_number() OVER (PARTITION BY user_id
               ORDER BY streak_days DESC, streak_start) AS rn
      FROM streaks) WHERE rn = 1
    """,
)
def activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    days. The island key is day - row_number() — constant within a
    consecutive run, shifts at every gap — turning streak detection
    into a plain groupBy; no recursion, no self-join, no loop. Two
    windows and both aggregate steps share ONE user_id shuffle
    (day-level rows only: the distinct collapses raw events first).
    The retention/engagement primitive next to retention_cohorts."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = days.withColumn(
        "island", F.date_sub("day", F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_days"),
        F.min("day").alias("streak_start"),
    )
    w2 = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_days", "streak_start")
    )

@q(
    "markov_transitions",
    """
    WITH seq AS (
      SELECT event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events),
    c AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS n_trans
      FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
    tot AS (SELECT src, CAST(sum(n_trans) AS BIGINT) AS n_src FROM c GROUP BY 1)
    SELECT c.src, c.dst, c.n_trans,
           CAST(CAST(c.n_trans * 1000000 // t.n_src AS BIGINT) AS DOUBLE)
             / 1000000 AS p_trans
    FROM c JOIN tot t ON c.src = t.src
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event_type | current event_type). The sequence
    order is one lead() window on the user_id shuffle (ties broken by
    event_id so both engines see the same ordering); transition counts
    are a plain groupBy and the per-source totals join back via
    broadcast (the matrix is event_types^2 — tiny at any scale).
    Probabilities are scaled-integer division so engines agree
    bit-for-bit. The behavioral-model primitive behind next-event
    prediction features and funnel priors (reference's event shapes,
    SURVEY.md S1/T9)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    c = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    tot = c.groupBy("src").agg(F.sum("n_trans").alias("n_src"))
    return c.join(F.broadcast(tot), "src").select(
        "src",
        "dst",
        "n_trans",
        (
            F.expr("n_trans * 1000000 div n_src").cast("long").cast("double")
            / 1000000
        ).alias("p_trans"),
    )


@q(
    "spend_deciles",
    """
    WITH spend AS (
      SELECT o_custkey,
             CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS spend_c
      FROM orders GROUP BY 1),
    d AS (
      SELECT o_custkey, spend_c,
             CAST(ntile(10) OVER (ORDER BY spend_c DESC, o_custkey) AS INT)
               AS decile
      FROM spend)
    SELECT decile,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(spend_c) AS DOUBLE) / 100 AS min_spend,
           CAST(max(spend_c) AS DOUBLE) / 100 AS max_spend,
           CAST(sum(spend_c) AS BIGINT) AS total_spend_cents
    FROM d GROUP BY 1
    """,
)
def spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-value decile table (the classic RFM/LTV cut): rank
    customers by lifetime spend, split into ten equal-count buckets,
    report each bucket's population and spend range. Spend is rounded
    to integer cents BEFORE ranking so the decile boundaries are
    engine-stable (float sums differ in the last ulp across engines;
    cents don't), with o_custkey as the total-order tiebreak. The
    global ntile runs on the customer-grain aggregate — orders of
    magnitude smaller than the fact table; at 100 TB the same cut
    computes decile BOUNDARIES via percentile_approx on the aggregate
    and assigns buckets with a broadcast range join instead of a
    single-partition window (see SCALING.md)."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("spend_c")
    )
    w = Window.orderBy(F.col("spend_c").desc(), F.col("o_custkey"))
    d = spend.withColumn("decile", F.ntile(10).over(w))
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.min("spend_c").cast("double") / 100).alias("min_spend"),
        (F.max("spend_c").cast("double") / 100).alias("max_spend"),
        F.sum("spend_c").alias("total_spend_cents"),
    )


@q(
    "spend_deciles_scale",
    """
    WITH spend AS (
      SELECT o_custkey, CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS spend_c
      FROM orders GROUP BY o_custkey),
    b AS (
      SELECT quantile_cont(spend_c, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
      FROM spend),
    assigned AS (
      SELECT o_custkey, spend_c,
             CAST(1 + len(list_filter(qs, q -> spend_c > q)) AS INT) AS bucket
      FROM spend, b)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(spend_c) AS DOUBLE) / 100 AS min_spend,
           CAST(max(spend_c) AS DOUBLE) / 100 AS max_spend,
           CAST(sum(spend_c) AS BIGINT) AS total_spend_cents
    FROM assigned GROUP BY bucket
    """,
)
def spend_deciles_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB decile cut `spend_deciles`'s docstring promises:
    VALUE-boundary buckets from one exact-percentile aggregate,
    assignment by a broadcast array filter — NO global window, no
    single-partition sort, nothing in the plan whose cost grows
    superlinearly with customers. (Equal-count ntile and value-boundary
    buckets differ only in tie handling at the boundaries; cent-scaled
    longs make the boundaries engine-stable, and Spark's `percentile`
    interpolates identically to DuckDB's quantile_cont.) At true scale
    swap `percentile` for `percentile_approx` — same plan shape, and
    the only change is boundary precision."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("spend_c")
    )
    bounds = spend.agg(
        F.percentile("spend_c", F.array(*[F.lit(i / 10) for i in range(1, 10)])).alias("qs")
    )
    assigned = spend.crossJoin(F.broadcast(bounds)).withColumn(
        "bucket",
        (
            F.lit(1)
            + F.size(F.filter("qs", lambda q: F.col("spend_c") > q))
        ).cast("int"),
    )
    return assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.min("spend_c").cast("double") / 100).alias("min_spend"),
        (F.max("spend_c").cast("double") / 100).alias("max_spend"),
        F.sum("spend_c").alias("total_spend_cents"),
    )


@q(
    "fuzzy_name_match",
    """
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: part-name pairs within an edit distance
    of 4, blocked by brand so the quadratic levenshtein only runs
    inside small same-brand buckets instead of all-pairs (the same
    blocking idea as the LSH near-dup family, with an exact edit
    metric). Both engines implement identical Levenshtein semantics.
    At 100 TB the blocking key would widen to (brand, length bucket)
    to keep per-bucket pair counts bounded; the join itself is a
    co-partitioned self-join on the block key."""
    part = load_table(spark, sf_dir, "part")
    a = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("part_a"),
        F.col("p_name").alias("name_a"),
    )
    b = part.select(
        F.col("p_brand").alias("brand"),
        F.col("p_partkey").alias("part_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, "brand")
        .filter(F.col("part_a") < F.col("part_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 4)
        .select("part_a", "part_b", "edit_dist")
    )


@q(
    "regression_trend_daily",
    """
    WITH daily AS (
      SELECT event_type,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 -
               CAST(epoch(DATE '2024-01-01') AS BIGINT) // 86400 AS x,
             CAST(round(sum(value) * 100) AS BIGINT) AS y
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY 1)
    SELECT event_type, n AS n_days,
           CAST(CAST((n * sxy - sx * sy) * 10000 //
                     (n * sxx - sx * sx) AS BIGINT) AS DOUBLE) / 1000000
             AS slope_per_day,
           CAST(sy * 100 // n AS DOUBLE) / 10000 AS mean_daily
    FROM s WHERE n >= 2
    """,
)
def regression_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type linear trend of daily volume: OLS slope computed
    from the five classic sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    — one groupBy to daily grain, one groupBy to the per-type sums,
    zero windows, zero joins. All arithmetic is BIGINT on
    cent-scaled y and day-index x, so the slope is bit-identical
    across engines (the textbook float path diverges in the last ulp).
    The sufficient-statistics shape IS the 100 TB path: each partial
    aggregates locally and merges associatively — the same pattern as
    the mergeable sketches in E9 (SURVEY.md §2.2)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        (
            F.unix_timestamp(F.date_trunc("day", "ts")).cast("long") / 86400
            - F.unix_timestamp(F.lit("2024-01-01").cast("date")).cast("long")
            / 86400
        )
        .cast("long")
        .alias("x"),
    ).agg(F.round(F.sum("value") * 100).cast("long").alias("y"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.filter(F.col("n") >= 2).select(
        "event_type",
        F.col("n").alias("n_days"),
        (
            F.expr("(n * sxy - sx * sy) * 10000 div (n * sxx - sx * sx)")
            .cast("long")
            .cast("double")
            / 1000000
        ).alias("slope_per_day"),
        (F.expr("sy * 100 div n").cast("double") / 10000).alias("mean_daily"),
    )

@q(
    "mad_outliers",
    """
    WITH v AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events),
    med AS (
      SELECT event_type, CAST(2 * quantile_cont(v, 0.5) AS BIGINT) AS m2
      FROM v GROUP BY 1),
    ad AS (
      SELECT v.event_type, v.v, m.m2, abs(2 * v.v - m.m2) AS ad2
      FROM v JOIN med m ON v.event_type = m.event_type),
    mad AS (
      SELECT event_type, CAST(2 * quantile_cont(ad2, 0.5) AS BIGINT) AS mad4
      FROM ad GROUP BY 1)
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN 2 * a.ad2 * 10000 > 44478 * m.mad4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(max(a.m2) AS DOUBLE) / 200 AS median_value,
           CAST(max(m.mad4) AS DOUBLE) / 400 AS mad_value
    FROM ad a JOIN mad m ON a.event_type = m.event_type
    GROUP BY 1
    """,
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: |value - median| >
    3 * 1.4826 * MAD (the normal-consistency Hampel filter) — the
    curation-grade sibling of zscore_by_event_type, immune to the very
    outliers it hunts. ALL comparisons are integer: values are
    cent-scaled, the two exact medians are doubled before casting (a
    two-point interpolation is always .0 or .5, so 2x is exact), and
    the 1.4826 constant is the rational 14826/10000 — both engines
    evaluate the same BIGINT inequality, no float tie can flip a row.
    Two aggregate passes with broadcast joins back (the per-type
    median table is tiny); at 100 TB the exact medians swap for
    percentile_approx with the same scaling (see approx_*_sketch)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v")
    )
    med = v.groupBy("event_type").agg(
        (F.percentile("v", F.lit(0.5)) * 2).cast("long").alias("m2")
    )
    ad = v.join(F.broadcast(med), "event_type").withColumn(
        "ad2", F.abs(2 * F.col("v") - F.col("m2"))
    )
    mad = ad.groupBy("event_type").agg(
        (F.percentile("ad2", F.lit(0.5)) * 2).cast("long").alias("mad4")
    )
    return (
        ad.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    2 * F.col("ad2") * 10000 > 44478 * F.col("mad4"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            (F.max("m2").cast("double") / 200).alias("median_value"),
            (F.max("mad4").cast("double") / 400).alias("mad_value"),
        )
    )

@q(
    "ohlc_hourly",
    """
    WITH base AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, ts,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events)
    SELECT event_type, hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(arg_min(v, ts) AS DOUBLE) / 100 AS open,
           CAST(max(v) AS DOUBLE) / 100 AS high,
           CAST(min(v) AS DOUBLE) / 100 AS low,
           CAST(arg_max(v, ts) AS DOUBLE) / 100 AS close
    FROM base GROUP BY 1, 2
    """,
)
def ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick rollup (the metering/finance downsample): per
    event type and hour, the first/highest/lowest/last cent-scaled
    value. open/close are min_by/max_by on the event time — a single
    hash aggregate, no window, no self-join; high/low are plain
    min/max in the same pass. One shuffle on (event_type, hour) at any
    scale, partial-aggregated map-side. Ties on ts would be
    engine-arbitrary; (event_type, ts) is verified unique at every
    test SF, and the robust tiebreak at 100 TB is a composite sort key
    (ts, event_id) — Spark takes struct keys natively, which is why
    the engine-side op uses min_by over an orderable struct where the
    portability oracle cannot."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        "ts",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    return base.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.min_by("v", "ts").cast("double") / 100).alias("open"),
        (F.max("v").cast("double") / 100).alias("high"),
        (F.min("v").cast("double") / 100).alias("low"),
        (F.max_by("v", "ts").cast("double") / 100).alias("close"),
    )


@q(
    "rolling_active_users",
    """
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
    cov AS (
      SELECT user_id, d,
             CAST(unnest(generate_series(d, d + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM ud)
    SELECT day,
           CAST(count(CASE WHEN d = day THEN 1 END) AS BIGINT) AS dau,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM cov GROUP BY 1
    HAVING count(CASE WHEN d = day THEN 1 END) > 0
    """,
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU rolling-distinct (the engagement dashboard rollup).

    Rolling COUNT(DISTINCT) is not window-expressible in any engine,
    and the naive day-grid range join fans every active day out to
    every overlapping window via a join. Instead each distinct
    (user, day) pair *generates* the <=7 trailing windows it covers
    (`sequence` + `explode`) — a shuffle-free generate after the big
    distinct, and ONE aggregation yields both metrics. DAU needs no
    second distinct: the (user, day) pairs are already unique, so the
    offset-0 rows in a day's group are exactly one per active user and
    a plain conditional count() suffices — keeping the plan on Spark's
    single-distinct aggregate strategy (no Expand doubling of the
    exploded set; measured 8.5 s -> 5.8 s at 20M rows vs the
    two-count-distinct form). A first draft computed DAU and WAU as
    separate DataFrame branches and the physical plan showed the
    parquet fact scanned TWICE; this shape is one fact
    pass, one distinct shuffle, one agg shuffle. At 100 TB the
    distinct is partial-aggregated map-side and the fan-out never
    touches the fact table again; synthetic days past the observed
    range carry dau=0 and are filtered (a real observed day always
    has dau >= 1 by construction). Reference parity: the consumer
    dashboards' "active meters this week" rollup (SURVEY §2.2 E11).
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("d"), "user_id").distinct()
    cov = ud.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
    )
    return (
        cov.groupBy("day")
        .agg(
            F.count(F.when(F.col("d") == F.col("day"), F.lit(1))).alias("dau"),
            F.countDistinct("user_id").alias("wau"),
        )
        .where(F.col("dau") > 0)
        .select("day", "dau", "wau")
    )


@q(
    "ewma_daily_value",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2)
    SELECT c.event_type, c.day,
           CAST(c.cents AS BIGINT) AS day_cents,
           sum(p.cents / power(2, date_diff('day', p.day, c.day) + 1))
             AS ewma_cents
    FROM daily c
    JOIN daily p
      ON p.event_type = c.event_type
     AND p.day BETWEEN c.day - INTERVAL 6 DAY AND c.day
    GROUP BY 1, 2, 3
    """,
)
def ewma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily spend per event
    type — the smoothed trendline ops dashboards draw over metering
    data (SURVEY §2.2 E11), truncated to a 7-day horizon.

    Weights are dyadic (1/2^(age+1)): every term is an integer cents
    value divided by a power of two, so each term AND the sum are
    exactly representable doubles — no rounding epsilon, hash-exact
    across engines, which is why alpha=1/2 and not 0.3. The EWMA runs
    on the *daily aggregate*, not the fact table: the first groupBy
    crushes cardinality to (event_type x day) — thousands of rows at
    any SF — so the 7-day self-join that positions the age-dependent
    weights is a broadcast-scale join at 100 TB, and gap days simply
    contribute no term (calendar-age weights, not row-position
    weights). One fact-table shuffle total.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    c, p = daily.alias("c"), daily.alias("p")
    j = c.join(
        p,
        (F.col("p.event_type") == F.col("c.event_type"))
        & (F.col("p.day") >= F.date_sub(F.col("c.day"), 6))
        & (F.col("p.day") <= F.col("c.day")),
    )
    return j.groupBy(
        F.col("c.event_type").alias("event_type"),
        F.col("c.day").alias("day"),
        F.col("c.cents").alias("day_cents"),
    ).agg(
        F.sum(
            F.col("p.cents")
            / F.pow(F.lit(2.0), F.datediff(F.col("c.day"), F.col("p.day")) + 1)
        ).alias("ewma_cents")
    )


@q(
    "word_entropy",
    """
    WITH words AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''),
    wc AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS distinct_words,
           round((ln(CAST(sum(c) AS DOUBLE))
                  - sum(c * ln(CAST(c AS DOUBLE))) / sum(c))
                 / 0.6931471805599453, 3) AS entropy_bits
    FROM wc GROUP BY 1
    """,
)
def word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram Shannon entropy in bits — the classic
    perplexity-proxy quality filter (low entropy = repetitive/spammy,
    the signal `repetition_ratio` approximates without logs; SURVEY
    §2.2 E4). Uses H = ln(n) - sum(c*ln c)/n, i.e. one pass over the
    per-word counts with no per-row probability division, and divides
    by a shared ln(2) LITERAL so both engines scale by the identical
    constant. Entropies are transcendental, so a 3-decimal round
    leaves ulp-level libm differences ~10 orders of magnitude away
    from any rounding boundary — the only float tolerance accepted
    anywhere in this registry, and why: no integer-exact entropy
    exists. Two shuffles ((doc_id, word) count, then doc_id rollup),
    both partial-aggregated map-side; the explode is a narrow
    generate, never materialized."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    wc = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return wc.groupBy("doc_id").agg(
        n.alias("n_words"),
        F.count(F.lit(1)).alias("distinct_words"),
        F.round(
            (F.log(n.cast("double")) - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / n)
            / F.lit(0.6931471805599453),
            3,
        ).alias("entropy_bits"),
    )


# ==================================== round-3 curation/retrieval surfaces


@q(
    "gopher_quality_gate",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len({WORDS}) AS INT) AS n_words,
             CAST((length(text) - len({WORDS}) + 1) * 10000
                  // len({WORDS}) AS BIGINT) AS mwl_c,
             CAST(len(list_distinct({WORDS})) * 10000
                  // len({WORDS}) AS BIGINT) AS ttr_c,
             ({" + ".join(
                 f"CASE WHEN list_contains({WORDS}, '{w}') THEN 1 ELSE 0 END"
                 for w in text.EN_STOPWORDS
             )}) AS n_stop_distinct
      FROM documents)
    SELECT doc_id, n_words,
           CAST(mwl_c AS DOUBLE) / 10000 AS mean_word_len,
           CAST(ttr_c AS DOUBLE) / 10000 AS type_token_ratio,
           CAST(n_stop_distinct AS INT) AS n_stop_distinct,
           n_words BETWEEN 20 AND 1000 AS pass_word_count,
           mwl_c BETWEEN 20000 AND 120000 AS pass_mean_word_len,
           n_stop_distinct >= 2 AS pass_stopwords,
           ttr_c >= 2500 AS pass_repetition,
           (n_words BETWEEN 20 AND 1000) AND (mwl_c BETWEEN 20000 AND 120000)
             AND n_stop_distinct >= 2 AND ttr_c >= 2500 AS keep
    FROM d
    """,
)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style hard quality cascade (E4/E10): per-rule PASS/FAIL
    flags + combined keep — the gate run before any money is spent on
    dedup or training. Pure narrow projection, scan-bound at 100 TB.
    NOTE: this is the paper-faithful English-stopword form; on this
    synthetic-vocabulary corpus pass_stopwords is constant false (the
    flags still compute) — `gopher_gate_adaptive` is the form whose
    stopword rule discriminates on any corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return text.gopher_filters(docs).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "type_token_ratio",
        "n_stop_distinct",
        "pass_word_count",
        "pass_mean_word_len",
        "pass_stopwords",
        "pass_repetition",
        "keep",
    )


@q(
    "gopher_gate_adaptive",
    f"""
    WITH {_SQL_COMMON_CTE},
    d AS (
      SELECT doc_id,
             CAST(len({WORDS}) AS INT) AS n_words,
             CAST((length(text) - len({WORDS}) + 1) * 10000
                  // len({WORDS}) AS BIGINT) AS mwl_c,
             CAST(len(list_distinct({WORDS})) * 10000
                  // len({WORDS}) AS BIGINT) AS ttr_c,
             CAST(len(list_intersect(list_distinct({WORDS}), cw))
                  AS INT) AS n_stop_distinct
      FROM documents CROSS JOIN clist)
    SELECT doc_id, n_words,
           CAST(mwl_c AS DOUBLE) / 10000 AS mean_word_len,
           CAST(ttr_c AS DOUBLE) / 10000 AS type_token_ratio,
           n_stop_distinct,
           n_words BETWEEN 20 AND 1000 AS pass_word_count,
           mwl_c BETWEEN 20000 AND 120000 AS pass_mean_word_len,
           n_stop_distinct >= 2 AS pass_stopwords,
           ttr_c >= 2500 AS pass_repetition,
           (n_words BETWEEN 20 AND 1000) AND (mwl_c BETWEEN 20000 AND 120000)
             AND n_stop_distinct >= 2 AND ttr_c >= 2500 AS keep
    FROM d
    """,
)
def gopher_gate_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-adaptive Gopher gate (r9): the stopword rule checks
    membership in the corpus's own top-20 document-frequency words
    (text.corpus_common_words) instead of a fixed English list, so
    the flags discriminate on any language or synthetic vocabulary —
    on English the document-frequency head IS the stopword list.
    Plan: one word-count aggregate feeding a one-row broadcast; the
    gate itself stays a narrow scan-bound projection."""
    docs = load_table(spark, sf_dir, "documents")
    common = text.corpus_common_words(docs, "text", k=20)
    return text.gopher_filters(
        docs.crossJoin(F.broadcast(common)), common_words_col="__common"
    ).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "type_token_ratio",
        F.col("n_stop_distinct").cast("int").alias("n_stop_distinct"),
        "pass_word_count",
        "pass_mean_word_len",
        "pass_stopwords",
        "pass_repetition",
        "keep",
    )


@q(
    "pack_sequence_bins",
    f"""
    WITH d AS (SELECT source, doc_id,
                      CAST(len({WORDS}) AS BIGINT) AS toks FROM documents),
    c AS (SELECT *, sum(toks) OVER (PARTITION BY source ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS cum FROM d)
    SELECT source, CAST((cum - toks) // 2048 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
    """,
)
def pack_sequence_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM sequence packing (concat-and-chunk, E10): per-shard
    token-budget bins with occupancy. One shard-keyed shuffle; the
    running sum is partitioned (no WindowExec collapse)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(F.split("text", " ")).cast("long")
    )
    return text.pack_sequences(
        docs, "n_tokens", "source", "doc_id", budget=2048
    )


@q(
    "duplicate_passages",
    f"""
    WITH s AS (SELECT doc_id, {sql_shingles(5)} AS sh FROM documents),
    g AS (SELECT doc_id, unnest(sh) AS gram FROM s),
    freq AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs
             FROM g GROUP BY gram HAVING count(*) >= 2)
    SELECT gram, n_docs FROM freq
    ORDER BY n_docs DESC, gram LIMIT 100
    """,
)
def duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-passage detector (E2 family): 5-gram
    passages appearing in >= 2 distinct documents, heaviest first —
    the boilerplate/template report that tells you WHAT to strip
    before near-dup dedup. Shingles are distinct-per-doc, so a plain
    count is the document frequency (no countDistinct shuffle);
    orderBy+limit compiles to TakeOrderedAndProject (per-partition
    top-k heaps — the full gram table never moves to one node)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(dedup.shingles("text", 5)).alias("gram")
    )
    freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        freq.filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), "gram")
        .limit(100)
    )


@q(
    "curation_e2e",
    f"""
    WITH RECURSIVE {_SQL_COMMON_CTE},
    gated AS (
      SELECT doc_id, text, source FROM (
        SELECT doc_id, text, source,
               CAST(len({WORDS}) AS INT) AS n_words,
               CAST((length(text) - len({WORDS}) + 1) * 10000
                    // len({WORDS}) AS BIGINT) AS mwl_c,
               CAST(len(list_distinct({WORDS})) * 10000
                    // len({WORDS}) AS BIGINT) AS ttr_c,
               len(list_intersect(list_distinct({WORDS}), cw)) AS n_stop
        FROM documents CROSS JOIN clist)
      WHERE n_words BETWEEN 20 AND 1000 AND mwl_c BETWEEN 20000 AND 120000
        AND n_stop >= 2 AND ttr_c >= 2500),
    exact AS (
      SELECT doc_id, text, source FROM (
        SELECT *, row_number() OVER (PARTITION BY sha256(text)
                                     ORDER BY doc_id) AS rn
        FROM gated) WHERE rn = 1),
    sig AS ({_sql_minhash_sig("exact", 16)[0]}),
    b AS ({_sql_bands(16, 4)}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    walk AS (
      SELECT src AS id, src AS peer FROM edges
      UNION
      SELECT e.src AS id, w.peer FROM edges e JOIN walk w ON e.dst = w.id),
    comps AS (SELECT id, min(peer) AS component FROM walk GROUP BY id),
    kept AS (
      SELECT e.doc_id, e.text, e.source FROM exact e
      LEFT JOIN comps c ON e.doc_id = c.id
      WHERE c.id IS NULL OR e.doc_id = c.component),
    ch AS (
      SELECT doc_id, source, w,
             unnest(generate_series(1, greatest(len(w), 1), 8)) AS start
      FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM kept)),
    chunks AS (
      SELECT source, doc_id * 100000 + CAST((start - 1) // 8 AS BIGINT) AS okey,
             CAST(len(list_slice(w, start, start + 15)) AS BIGINT) AS toks
      FROM ch),
    c3 AS (
      SELECT *, sum(toks) OVER (PARTITION BY source ORDER BY okey
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM chunks)
    SELECT source, CAST((cum - toks) // 512 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           min(okey) AS first_key, max(okey) AS last_key
    FROM c3 GROUP BY 1, 2
    """,
)
def curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE training-data curation pipeline as one composed plan
    (VERDICT r4 §Next #8): Gopher quality gate (r9: with the
    corpus-adaptive stopword rule — ``corpus_common_words`` top-20
    document-frequency words, broadcast into the gate — because the
    static English list matched ZERO synthetic-vocabulary docs, so
    every post-gate stage ran on an empty frame and the bench/oracle
    rows were vacuous 0s) -> exact content-hash
    dedup (min-id survivor) -> MinHash-LSH candidate pairs (r9:
    16-hash/4-band — 4 rows per band. The narrow 4/2 signature
    saturates past ~100k docs (BASELINE.md widening study: 3.49M
    collision pairs at 500k docs vs 1,933 at 16/4, same wall), and
    the collision graph's diameter then blows the label-prop round
    budget — curation_e2e at sf10 failed to converge in 20 rounds
    with the narrow literals, and converges immediately with these)
    -> connected-components collapse (one survivor per near-dup
    cluster) -> 16/8 token chunking -> 512-token sequence packing,
    ending in the per-(source, bin) occupancy rollup. This is the
    pipeline a training-data user actually runs end-to-end; benching
    it as one entry makes round deltas track the composition, not
    just the pieces. Every stage is the already-oracle-checked
    operator; the oracle replays the full chain including the
    recursive-CTE transitive closure."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    common = text.corpus_common_words(docs, "text", k=20)
    gated = (
        text.gopher_filters(
            docs.crossJoin(F.broadcast(common)), common_words_col="__common"
        )
        .filter("keep")
        .select("doc_id", "text", "source")
    )
    # r15: exact is referenced TWICE — once into the (pinned) LSH band
    # table and once as the base of the final component-collapse join —
    # so without a pin the whole documents-scan + Gopher gate +
    # content-hash window subtree executed twice per run (the same
    # duplication class the r9 carry=source fix removed one instance
    # of; guide §1.2: don't compute things twice). Pinning it halves
    # the gate cost here and saves a full corpus re-scan + re-gate at
    # cluster scale.
    exact = pin(
        dedup.keep_best(
            gated.withColumn("__h", F.sha2(F.col("text"), 256)),
            "__h",
            [F.col("doc_id")],
        ).drop("__h")
    )
    pairs = dedup.minhash_lsh_candidates(
        exact, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
    )
    kept = dedup.dedup_by_components(exact, "doc_id", pairs)
    # carry=source: pass the label through the chunk projection instead
    # of re-joining kept afterwards — the re-join made Spark evaluate the
    # ENTIRE gate subtree (documents scan + Gopher filter +
    # corpus_common_words aggregate + exact-dedup window) twice, since
    # common subplans are not deduped (VERDICT r9 §Wrong #1).
    chunks = text.chunk_tokens(kept, size=16, stride=8, carry=["source"])
    seq = chunks.select(
        "source",
        (F.col("doc_id") * 100000 + F.col("chunk_id")).alias("okey"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )
    packed = text.pack_sequences(seq, "n_tokens", "source", "okey", budget=512)
    return packed.select(
        "source",
        "bin",
        F.col("n_docs").alias("n_chunks"),
        "total_tokens",
        F.col("first_doc").alias("first_key"),
        F.col("last_doc").alias("last_key"),
    )


BM25_QUERY = ("spark", "table", "hash")


@q(
    "bm25_retrieval",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len({WORDS}) AS DOUBLE) AS dl,
             {", ".join(
                 f"CAST({sql_occurrences('text', w)} AS DOUBLE) AS tf_{i}"
                 for i, w in enumerate(BM25_QUERY)
             )}
      FROM documents),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
             {", ".join(
                 f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
                 f" AS df_{i}"
                 for i in range(len(BM25_QUERY))
             )}
      FROM d)
    SELECT doc_id,
           round({" + ".join(
               f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
               f" * (tf_{i} * 2.2)"
               f" / (tf_{i} + 1.2 * (0.25 + 0.75 * dl / avgdl))"
               for i in range(len(BM25_QUERY))
           )}, 6) AS bm25
    FROM d, stats
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed 3-term query (the RAG/corpus-search
    scorer, E4): exact tf counts + ONE broadcast scalar agg for
    df/avgdl — a single corpus pass, no inverted-index shuffle.
    TakeOrderedAndProject keeps only the head."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.bm25_scores(docs, BM25_QUERY, "text", k1=1.2, b=0.75)
    return (
        scored.select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# (query_id, term) rows for the multi-query BM25 retrieval shape;
# terms drawn from the synthetic corpus vocabulary
BM25_MULTI = (
    ("q_engine", "spark"), ("q_engine", "table"), ("q_engine", "hash"),
    ("q_vec", "vector"), ("q_vec", "window"),
    ("q_stream", "stream"), ("q_stream", "batch"),
    ("q_stream", "merge"), ("q_stream", "slow"),
)


@q(
    "bm25_multiquery",
    f"""
    WITH q(query_id, term) AS (VALUES {", ".join(f"('{q_}', '{t_}')" for q_, t_ in BM25_MULTI)}),
    w AS (
      SELECT doc_id, CAST(len({WORDS}) AS DOUBLE) AS dl, unnest({WORDS}) AS term
      FROM documents),
    m AS (
      SELECT q.query_id, w.doc_id, w.term, w.dl,
             CAST(count(*) AS DOUBLE) AS tf
      FROM w JOIN q ON w.term = q.term
      GROUP BY 1, 2, 3, 4),
    dfreq AS (
      SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS dft
      FROM m GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             avg(CAST(len({WORDS}) AS DOUBLE)) AS avgdl
      FROM documents),
    per_term AS (
      SELECT m.query_id, m.doc_id,
             CAST(round(
               ln(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
               * 1000000) AS BIGINT) AS micros
      FROM m JOIN dfreq ON m.term = dfreq.term CROSS JOIN stats),
    summed AS (
      SELECT query_id, doc_id, CAST(sum(micros) AS BIGINT) AS bm25_micros
      FROM per_term GROUP BY 1, 2),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY bm25_micros DESC, doc_id)
             AS INTEGER) AS rank
      FROM summed)
    SELECT query_id, doc_id, bm25_micros,
           CAST(bm25_micros AS DOUBLE) / 1000000 AS bm25, rank
    FROM ranked WHERE rank <= 10
    """,
)
def bm25_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-term BM25 retrieval with doc-frequency pruning (VERDICT
    r4 §Next #6): a broadcast query-term table prunes the exploded
    corpus tokens BEFORE the first shuffle, one hash aggregate builds
    the (query, doc, term) inverted index, per-term scores fix to
    integer micros before the order-independent per-(query,doc) sum,
    and top-10 per query is a query-partitioned window. See
    operators/text.py:bm25_multiquery for the full plan rationale."""
    docs = load_table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(list(BM25_MULTI), "query_id string, term string")
    return text.bm25_multiquery(docs, queries, "text", "doc_id", k1=1.2, b=0.75, top_k=10)


@q(
    "corpus_composition",
    f"""
    WITH d AS (SELECT lang, source,
                      CAST(len({WORDS}) AS BIGINT) AS toks FROM documents),
    g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(toks) AS BIGINT) AS tokens
          FROM d GROUP BY 1, 2),
    t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM g)
    SELECT lang, source, n_docs, tokens,
           CAST(tokens * 1000000 // total AS DOUBLE) / 1000000 AS token_share
    FROM g, t
    """,
)
def corpus_composition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report (E10): docs + tokens per (lang, source)
    cell with each cell's share of the corpus token budget — the
    table a data-mixture design starts from. One map-side-combined
    aggregate; the 1-row total is broadcast back (same pattern as
    vocab_coverage). Scaled-integer share (portable midpoints)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "toks", F.size(F.split("text", " ")).cast("long")
    )
    g = pin(docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("tokens"),
    ))  # referenced 2x (cells + 1-row total) with no
    # runtime ReusedExchange — without pinning, the document scan +
    # tokenize + aggregate ran twice (r11 registry audit, q11 class).
    # lang x source grain: a handful of rows at any corpus size.
    total = g.agg(F.sum("tokens").alias("total"))
    return g.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "tokens",
        ((F.col("tokens") * 1000000 / F.col("total")).cast("long").cast("double") / 1000000).alias("token_share"),
    )


# ============================================================ round 5 additions

# Shared by `duplicate_passage_fraction` and its skew-safe sibling: the
# oracle is formulation-independent (per-gram doc counts joined back),
# so one SQL string pins both Spark plans to identical results.
_DUP_PASSAGE_ORACLE = f"""
    WITH g AS (SELECT doc_id, unnest(sh) AS gram
               FROM (SELECT doc_id, {sql_shingles(5)} AS sh FROM documents)),
    freq AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_grams,
           CAST(sum(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END) * 10000
                // count(*) AS BIGINT) AS dup_frac_c,
           (sum(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END) * 10000
            // count(*)) < 5000 AS keep
    FROM g JOIN freq ON g.gram = freq.gram
    GROUP BY g.doc_id
    """


@q("duplicate_passage_fraction", _DUP_PASSAGE_ORACLE)
def duplicate_passage_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction (Lee et al. 2022, 'Deduplicating
    Training Data Makes Language Models Better'): the share of a doc's
    distinct 5-gram passages that also appear in at least one other
    document, plus the keep decision (< 50% duplicated). This is the
    REMOVAL criterion the corpus-wide `duplicate_passages` report feeds.

    Plan: distinct-per-doc shingles -> per-gram WINDOW count (one
    gram-keyed shuffle, no join) -> per-doc rollup. Measured 22.6x
    over the aggregate-then-join-back formulation at 2M docs / 72M
    grams (9.0 s vs 203.9 s, BASELINE.md): the window sorts each
    gram partition in place, where the join had to build and probe a
    72M-row hash relation of gram strings. The window keys on
    dedup.hash128(gram), not the raw string (VERDICT r5 §Next #3,
    hardened per ADVICE r6): same partitioning, 16-byte keys instead
    of ~30-byte strings, and a merge of two distinct grams now needs
    a simultaneous collision under two xxhash64 seeds (~2^-128 per
    pair) rather than one (~1e-4 at 72M grams, growing quadratically).
    Scaled-integer fraction (exact midpoints, engine-portable).

    SKEW BOUND: one window partition = one task, so a single
    boilerplate gram shared by 10^8 docs would serialize through one
    reducer. This fast path is for corpora whose max gram frequency
    is task-sized; `duplicate_passage_fraction_skewsafe` is the
    salted two-level formulation whose per-task row count is bounded
    by SALT*CAP regardless of gram frequency (see SCALING.md)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(dedup.shingles("text", 5)).alias("gram")
    ).select("doc_id", dedup.hash128("gram").alias("gh"))
    w = Window.partitionBy("gh")
    per_doc = (
        grams.withColumn("n_docs", F.count(F.lit(1)).over(w))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_dup_grams"),
        )
    )
    frac_c = (F.col("n_dup_grams") * 10000 / F.col("n_grams")).cast("long")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        frac_c.alias("dup_frac_c"),
        (frac_c < 5000).alias("keep"),
    )


@q("duplicate_passage_fraction_skewsafe", _DUP_PASSAGE_ORACLE)
def duplicate_passage_fraction_skewsafe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Skew-safe `duplicate_passage_fraction` (VERDICT r5 §Next #3):
    identical semantics and oracle, but NO task ever holds more than
    SALT*CAP rows of one gram, so a boilerplate passage shared by
    10^8 documents cannot serialize through a single window reducer.

    Salted two-level count. A row only needs the BOOLEAN "does my
    gram appear in >= 2 docs", not the exact count, which admits a
    scheme where the heavy mass never re-converges on one task:

    1. Window over (gh, salt) with salt = xxhash64(doc_id) % SALT:
       per-salt-bucket partial count `c_p` (any single task holds one
       bucket, <= 1/SALT of even the heaviest gram) + a row_number to
       elect one representative row per bucket.
    2. A bucket with c_p >= CAP (>= 2) proves its rows duplicated —
       they short-circuit and SKIP level 2 entirely. Heavy grams
       therefore contribute exactly ONE weighted representative row
       per bucket (<= SALT rows) to level 2.
    3. Window over gh on (light rows + heavy representatives):
       sum(weight) == the gram's exact total doc count; partition
       size <= SALT*(CAP-1) + SALT rows BY CONSTRUCTION, independent
       of gram frequency. Light rows flag dup = (total >= 2).

    Cost on unskewed data: two full-data shuffles vs the fast path's
    one (measured at 2M docs in BASELINE.md) — use this variant when
    the corpus has mega-grams, the fast path otherwise; the crossover
    is recorded from a deliberately skewed run (one gram present in
    every doc)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(dedup.shingles("text", 5)).alias("gram")
    ).select("doc_id", dedup.hash128("gram").alias("gh"))
    flagged = dedup.salted_dup_flags(grams, "gh", "doc_id", salt=32, cap=1024)
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.col("is_dup").cast("long")).alias("n_dup_grams"),
    )
    frac_c = (F.col("n_dup_grams") * 10000 / F.col("n_grams")).cast("long")
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        frac_c.alias("dup_frac_c"),
        (frac_c < 5000).alias("keep"),
    )


@q(
    "semantic_dedup_survivors",
    f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    sig AS (SELECT vec_id, v, ({" + ".join(
        f"(CASE WHEN list_inner_product(v, {plane!r}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(similarity.hyperplane_planes(8, 64, seed=11))
    )}) AS bucket FROM e),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE list_inner_product(a.v, b.v) /
            (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v)))
            >= 0.35),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION SELECT id_b, id_a FROM pairs),
    walk AS (
      SELECT src AS id, src AS peer FROM edges
      UNION
      SELECT e2.src AS id, w.peer FROM edges e2 JOIN walk w ON e2.dst = w.id),
    comps AS (SELECT id, min(peer) AS component FROM walk GROUP BY id)
    SELECT e.vec_id
    FROM e LEFT JOIN comps c ON e.vec_id = c.id
    WHERE c.id IS NULL OR e.vec_id = c.component
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023) end-to-end:
    sign-LSH-bucketed cosine pairs (>= 0.35) -> connected components
    -> one canonical survivor (min vec_id) per semantic-duplicate
    cluster; unpaired vectors survive trivially. The 100 TB form of
    'remove embedding-level duplicates', composed entirely from the
    oracle-proven bucketed pair generator and the CC collapse.

    Plan: bucket equi-join (never a cross join), codegen'd unrolled
    cosine, equi-join-only CC rounds, broadcast-size component map."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_neardup_lsh(emb, threshold=0.35, num_bits=8)
    kept = dedup.dedup_by_components(
        emb.select("vec_id"), "vec_id", pairs.select("id_a", "id_b")
    )
    return kept.select("vec_id")


@q(
    "quality_weighted_sample",
    f"""
    WITH q AS (
      SELECT doc_id, lang,
             least(len({WORDS}) * 20000, 400000)
             + least(len(list_distinct({WORDS})) * 800000 // len({WORDS}), 400000)
             + least({sql_stop_hits('text', text.EN_STOPWORDS)} * 2000000
                     // len({WORDS}), 200000) AS micros,
             ('0x' || substring(sha256('7:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 1000000 AS bucket
      FROM documents)
    SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN bucket < micros THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM q GROUP BY lang
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling (E7): each document is kept
    with probability equal to its quality score — deterministically,
    via salted-hash bucket < score-in-micros, so the SAME docs are
    kept on every rerun, engine, and partitioning (the property
    rand() cannot give). High-quality docs oversample, junk decays,
    nothing is a hard cut. Output is the per-language verification
    rollup. Pure Column arithmetic: no shuffle for the decision."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs)
    micros = F.round(F.col("quality_score") * 1000000).cast("long")
    kept = sampling.hash_bucket("doc_id", 1000000, salt=7) < micros
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept.cast("long")).alias("n_kept"),
    )


@q(
    "contamination_fraction",
    f"""
    WITH cg AS (SELECT DISTINCT * FROM ({_sql_ngrams(5, " WHERE source <> 'src0'")})),
         bg AS (SELECT DISTINCT gram FROM ({_sql_ngrams(5, " WHERE source = 'src0'")})),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM cg GROUP BY doc_id),
    hit AS (SELECT cg.doc_id, CAST(count(*) AS BIGINT) AS shared
            FROM cg JOIN bg ON cg.gram = bg.gram GROUP BY cg.doc_id)
    SELECT tot.doc_id, tot.n_grams,
           coalesce(hit.shared, 0) AS shared_ngrams,
           CAST(coalesce(hit.shared, 0) * 10000 // tot.n_grams AS BIGINT)
             AS contam_frac_c,
           coalesce(hit.shared, 0) * 10000 // tot.n_grams >= 1000 AS contaminated
    FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
    """,
)
def contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination DECISION layer (E7): per corpus doc, the
    fraction of its distinct 5-grams shared with the benchmark slice
    (source = 'src0'), with the >= 10% removal flag — the thresholded
    form of `contamination_ngram_overlap`'s raw counts (you drop docs
    by overlap FRACTION, not absolute count, or long docs survive on
    dilution). Benchmark grams broadcast; corpus never shuffles for
    the probe join; scaled-integer fraction."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src0")
    benchmark = docs.filter(F.col("source") == "src0")
    grams = corpus.select(
        "doc_id", F.explode(text.word_ngrams_fast("text", 5)).alias("gram")
    ).distinct()
    bench = (
        benchmark.select(F.explode(text.word_ngrams_fast("text", 5)).alias("gram"))
        .distinct()
    )
    tot = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hit = (
        grams.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
    )
    shared = F.coalesce("shared_ngrams", F.lit(0))
    frac_c = (shared * 10000 / F.col("n_grams")).cast("long")
    return (
        tot.join(hit, "doc_id", "left_outer")
        .select(
            "doc_id",
            "n_grams",
            shared.alias("shared_ngrams"),
            frac_c.alias("contam_frac_c"),
            (frac_c >= 1000).alias("contaminated"),
        )
    )


@q(
    "incremental_dedup_new",
    f"""
    WITH sig AS ({_sql_minhash_sig("documents", 16)[0]}),
    b AS ({_sql_bands(16, 4)}),
    cross_hit AS (
      SELECT DISTINCT CASE WHEN da.source = 'src1' THEN a.doc_id
                           ELSE b2.doc_id END AS doc_id
      FROM b a
      JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
      JOIN documents da ON da.doc_id = a.doc_id
      JOIN documents db ON db.doc_id = b2.doc_id
      WHERE (da.source = 'src1') <> (db.source = 'src1')),
    ex AS (
      SELECT DISTINCT n.doc_id
      FROM documents n JOIN documents e ON sha256(n.text) = sha256(e.text)
      WHERE n.source = 'src1' AND e.source <> 'src1')
    SELECT n.doc_id,
           n.doc_id IN (SELECT doc_id FROM ex) AS is_exact_dup,
           n.doc_id IN (SELECT doc_id FROM cross_hit) AS is_near_dup,
           NOT (n.doc_id IN (SELECT doc_id FROM ex)
                OR n.doc_id IN (SELECT doc_id FROM cross_hit)) AS kept
    FROM documents n WHERE n.source = 'src1'
    """,
)
def incremental_dedup_new(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) dedup — the shape every CONTINUOUS
    ingestion pipeline runs: a new batch (source = 'src1') checked
    against the existing corpus, never against itself. Per new doc:
    exact-duplicate flag (content hash seen in the existing corpus),
    near-duplicate flag (MinHash-LSH bucket mate on the existing
    side), and the resulting keep decision.

    Plan: ONE signature pass over the union corpus (the banding is
    shared work, not per-side), bucket equi-join restricted to
    cross-side pairs, hash semi-probe for exacts. At 100 TB the
    existing side's band table is precomputed and stored — each new
    batch only computes its own signatures and probes; nothing here
    requires re-signing the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source") == "src1"
    new_docs = docs.filter(is_new)
    existing = docs.filter(~is_new)
    exact_hit = (
        new_docs.select("doc_id", F.sha2("text", 256).alias("__h"))
        .join(
            existing.select(F.sha2("text", 256).alias("__h")).distinct(),
            "__h",
        )
        .select("doc_id")
        .distinct()
        .withColumn("__exact", F.lit(True))
    )
    # 16h/4b = ingest_spark.incremental's NUM_HASHES/BANDS (kept as
    # literals here to avoid importing the streaming stack; r9
    # widening study: 4 rows per band holds the collision floor flat
    # as the corpus grows)
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=16, bands=4, shingle_n=3
    )
    sides = docs.select("doc_id", is_new.alias("__n"))
    tagged = (
        pairs.join(sides.withColumnRenamed("doc_id", "id_a").withColumnRenamed("__n", "__na"), "id_a")
        .join(sides.withColumnRenamed("doc_id", "id_b").withColumnRenamed("__n", "__nb"), "id_b")
        .filter(F.col("__na") != F.col("__nb"))  # exactly one side is new
    )
    near_hit = (
        tagged.select(
            F.when(F.col("__na"), F.col("id_a")).otherwise(F.col("id_b")).alias("doc_id")
        )
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    return (
        new_docs.select("doc_id")
        .join(exact_hit, "doc_id", "left_outer")
        .join(near_hit, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("__exact", F.lit(False)).alias("is_exact_dup"),
            F.coalesce("__near", F.lit(False)).alias("is_near_dup"),
            (
                ~F.coalesce("__exact", F.lit(False))
                & ~F.coalesce("__near", F.lit(False))
            ).alias("kept"),
        )
    )


@q(
    "unigram_logprob_score",
    f"""
    WITH w AS (SELECT doc_id, unnest({WORDS}) AS word FROM documents),
    freq AS (SELECT word, CAST(count(*) AS DOUBLE) AS c FROM w GROUP BY word),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM w),
    scored AS (
      SELECT doc_id, CAST(round(ln(c / t) * 1000000) AS BIGINT) AS lp
      FROM w JOIN freq USING (word) CROSS JOIN tot)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(lp) AS BIGINT) AS sum_logprob_micros,
           CAST((-sum(lp)) // count(*) AS BIGINT) AS avg_neg_logprob_micros
    FROM scored GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the stand-in for the
    KenLM-perplexity quality filter (CCNet/Gopher pipelines): train a
    unigram model ON the corpus itself (word -> ln p(word)), then
    score each doc by average negative log-probability; high scores =
    improbable token mixes = filter candidates.

    Determinism: each word's log-probability fixes to integer micros
    BEFORE the per-doc sum (integer addition is order-independent),
    and the final average is an integer division — engine-exact with
    no float-summation-order hazard. Plan: one explode -> vocab
    aggregate (map-side combined; vocab << corpus) -> join the vocab
    back onto the words -> per-doc aggregate. The vocab join strategy
    is deliberately LEFT TO AQE (VERDICT r5 §Next #4): at bench scale
    the runtime stats make it a broadcast join (pinned in
    test_plans.py); at 100 TB a ~1e8-word vocab exceeds any broadcast
    threshold and AQE falls back to a shuffled hash join — a forced
    F.broadcast() hint here would be a driver OOM, not a plan choice.
    The 1-row corpus total stays an explicit broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    freq = pin(words.groupBy("word").agg(
        F.count(F.lit(1)).cast("double").alias("__c")
    ))  # referenced 2x (total + score join); pinning the
    # vocab-grain aggregate means ONE explode feeds the vocab (r11
    # registry audit, q11 class — pre-r11 this query exploded the
    # corpus 3x: freq, total, and the score probe).
    # the corpus token total is the SUM of the vocab counts — derive it
    # from the pinned vocab (vocab-grain reduce) instead of a third
    # full corpus explode
    total = freq.agg(F.sum("__c").alias("__t"))
    lp = F.round(F.log(F.col("__c") / F.col("__t")) * 1_000_000).cast("long")
    scored = (
        words.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp.alias("__lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__lp").alias("sum_logprob_micros"),
        )
        .select(
            "doc_id",
            "n_words",
            "sum_logprob_micros",
            F.expr("CAST((-sum_logprob_micros) DIV n_words AS BIGINT)").alias(
                "avg_neg_logprob_micros"
            ),
        )
    )


# --------------------------------------------------------------- graph (r5)
def _sql_pagerank_iter(prev: str, cur: str) -> str:
    """One unrolled integer-micro PageRank iteration as a CTE (mirrors
    operators.graph.pagerank_micro's update rule exactly)."""
    return (
        f"{cur} AS (SELECT e.dst AS node, "
        f"CAST(150000 + (85 * sum({prev}.rank_micro // deg.outdeg)) // 100 "
        f"AS BIGINT) AS rank_micro "
        f"FROM e JOIN {prev} ON e.src = {prev}.node "
        f"JOIN deg ON deg.node = e.src GROUP BY e.dst)"
    )


@q(
    "pagerank_part_supplier",
    f"""
    WITH b AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s
               FROM lineitem),
    e AS (SELECT p AS src, s AS dst FROM b
          UNION ALL SELECT s AS src, p AS dst FROM b),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM deg),
    {_sql_pagerank_iter('r0', 'r1')},
    {_sql_pagerank_iter('r1', 'r2')},
    {_sql_pagerank_iter('r2', 'r3')}
    SELECT node, rank_micro, node % 2 = 1 AS is_supplier
    FROM r3 ORDER BY rank_micro DESC, node LIMIT 20
    """,
)
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 rounds, damping 0.85) over the
    part<->supplier co-purchase graph from lineitem — the link-based
    importance signal web-corpus curation uses for site-level quality
    weighting, here exercised on the bipartite supply graph (node id
    = 2*partkey for parts, 2*suppkey+1 for suppliers; parity keeps
    the two key spaces disjoint).

    Integer micro-rank arithmetic end-to-end (see operators/graph.py)
    so the DuckDB oracle hash-matches exactly despite both engines
    aggregating in different orders. Plan per iteration: edges join
    ranks + degrees on src (AQE picks broadcast while ranks are
    small), one shuffle aggregate on dst; degrees computed once; the
    global top-20 is TakeOrderedAndProject, never a full sort."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    ranks = graph.pagerank_micro(graph.symmetrize(base), iterations=3)
    return (
        ranks.select(
            "node",
            "rank_micro",
            (F.col("node") % 2 == 1).alias("is_supplier"),
        )
        .orderBy(F.desc("rank_micro"), "node")
        .limit(20)
    )


_BLOOM_M = 1 << 18  # 262144 bits: ~23% fill at sf0.01 corpus grams -> ~1% FP
_BLOOM_POS = (
    "list_distinct(["
    + ", ".join(
        f"('0x' || substr(sha256(gram), {1 + 8 * i}, 8))::BIGINT % {_BLOOM_M}"
        for i in range(3)
    )
    + "])"
)


@q(
    "bloom_passage_prefilter",
    f"""
    WITH g AS (
      SELECT DISTINCT doc_id, source, gram FROM (
        SELECT doc_id, source, unnest(list_filter(list_transform(
          generate_series(1, greatest(len(w) - 4, 0)),
          i -> CASE WHEN w[i] <> '' AND w[i+1] <> '' AND w[i+2] <> ''
                    AND w[i+3] <> '' AND w[i+4] <> ''
               THEN w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                    || ' ' || w[i+4] END), x -> x IS NOT NULL)) AS gram
        FROM (SELECT doc_id, source, {WORDS} AS w FROM documents)
      )),
    bits AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest({_BLOOM_POS}) AS pos
        FROM (SELECT DISTINCT gram FROM g WHERE source <> 'src1'))),
    pp AS (
      SELECT gram, unnest({_BLOOM_POS}) AS pos
      FROM (SELECT DISTINCT gram FROM g WHERE source = 'src1')),
    cand AS (
      SELECT pp.gram FROM pp LEFT JOIN bits ON pp.pos = bits.pos
      GROUP BY pp.gram HAVING count(*) = count(bits.pos)),
    conf AS (
      SELECT DISTINCT cand.gram FROM cand
      JOIN (SELECT DISTINCT gram FROM g WHERE source <> 'src1') cg
        ON cand.gram = cg.gram)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(cand.gram) AS BIGINT) AS n_candidate_grams,
           CAST(count(conf.gram) AS BIGINT) AS n_shared_grams,
           count(conf.gram) > 0 AS has_shared_passage
    FROM (SELECT DISTINCT doc_id, gram FROM g WHERE source = 'src1') p
    LEFT JOIN cand ON p.gram = cand.gram
    LEFT JOIN conf ON p.gram = conf.gram
    GROUP BY p.doc_id
    """,
)
def bloom_passage_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered cross-corpus passage dedup — the incremental
    form of `duplicate_passages`: for each NEW-batch doc (source =
    'src1'), how many of its distinct 5-gram passages already exist in
    the corpus. The corpus's membership state is a declarative Bloom
    filter (dedup.bloom_bits: <= m = 2^18 distinct SHA-derived bit
    positions), so at probe time the new batch touches ONLY a
    broadcastable <= 2 MB bits table; the exact-confirm equi-join then
    runs over the bloom's candidates alone (false positives at the
    classic rate are removed there; false negatives are impossible).

    Why this matters at 100 TB: corpus grams are O(corpus) and cannot
    broadcast, but the bits table is capped at m rows FOREVER — each
    daily batch probes it without re-reading the corpus (the bits
    DataFrame persists and unions in new days' positions). This is
    Spark's runtime bloom-join (InjectRuntimeFilter) expressed
    declaratively. Output counts are engine-exact: positions are
    SHA-256 slices, so the DuckDB oracle reproduces the same false
    positives bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("source") == "src1"
    pairs = (
        docs.filter(is_new)
        .select("doc_id", F.explode(text.word_ngrams_fast("text", 5)).alias("gram"))
        .distinct()
    )
    corpus_grams = (
        docs.filter(~is_new)
        .select(F.explode(text.word_ngrams_fast("text", 5)).alias("gram"))
        .distinct()
    )
    bits = dedup.bloom_bits(corpus_grams, "gram", m=_BLOOM_M, k=3)
    cand = dedup.bloom_candidates(
        pairs.select("gram").distinct(), "gram", bits, m=_BLOOM_M, k=3
    ).withColumn("__cand", F.lit(True))
    conf = (
        cand.join(corpus_grams, "gram")
        .select("gram")
        .withColumn("__conf", F.lit(True))
    )
    return (
        pairs.join(cand, "gram", "left_outer")
        .join(conf, "gram", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("__cand"), 1)).alias("n_candidate_grams"),
            F.count(F.when(F.col("__conf"), 1)).alias("n_shared_grams"),
            (F.count(F.when(F.col("__conf"), 1)) > 0).alias("has_shared_passage"),
        )
    )


# ============================================================ round 6 additions


@q(
    "dsir_importance_weights",
    """
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents),
    tgt AS (SELECT word, CAST(count(*) AS BIGINT) AS ct
            FROM documents, unnest(string_split(text, ' ')) AS u(word)
            WHERE lang = 'en' GROUP BY word),
    raw AS (SELECT word, CAST(count(*) AS BIGINT) AS cr FROM w GROUP BY word),
    tot AS (SELECT (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tgt) AS tt,
                   (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS tr,
                   (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v),
    lw AS (SELECT raw.word,
                  CAST(round((ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE)
                              / (tt + v))
                            - ln(CAST(cr + 1 AS DOUBLE) / (tr + v)))
                             * 1000000) AS BIGINT) AS lw_micros
           FROM raw LEFT JOIN tgt ON raw.word = tgt.word, tot)
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(lw.lw_micros) AS BIGINT) AS dsir_micros,
           CAST(sum(lw.lw_micros) // count(*) AS BIGINT) AS avg_dsir_micros
    FROM w JOIN lw ON w.word = lw.word
    GROUP BY w.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped importance weighting (Xie et al. 2023, 'Data
    Selection for Language Models via Importance Resampling'): score
    every document by how target-like its token distribution is,
    where the TARGET is the English slice of the corpus itself and
    RAW is the whole corpus. Per word: log-likelihood ratio
    ln(p_target(w)) - ln(p_raw(w)) under add-one smoothing over the
    raw vocabulary; per doc: the sum (the importance log-weight that
    drives resampling toward the target mix) and its per-word mean.

    Determinism: each word's ratio fixes to integer micros BEFORE the
    per-doc sum, so the result is engine-exact regardless of
    aggregation order (the unigram_logprob_score trick). Plan: one
    explode; two vocab-sized aggregates (map-side combined); the
    1-row totals broadcast; the vocab weight table joins back onto
    the words with the strategy left to AQE — same scale posture as
    unigram_logprob_score (broadcast at bench scale, shuffled hash
    join for a 1e8-word vocab). Two corpus shuffles total.

    Reference parity: no analogue (the reference has no scoring
    surface) — part of the mandated LLM-pipeline extension (E4/E7)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    # One vocab aggregate computes BOTH distributions: the target
    # (English-slice) count is a conditional sum inside the same
    # groupBy, so there is no separate tgt aggregate, no raw⋈tgt
    # left-join, and only ONE 1-row totals broadcast (r10: the old
    # two-aggregate shape compiled to 2 BroadcastNestedLoopJoins and
    # tripped the test_plans 1-BNLJ cap once the curation_e2e failure
    # stopped masking it). Corner fixed by the same change: an EMPTY
    # target slice now contributes tt=0 (add-one smoothing stays
    # defined) instead of a NULL that nulled every weight — the oracle
    # coalesces its tgt subquery to match.
    raw = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("__cr"),
        # when/otherwise, not a bare cast: `lang == 'en'` is NULL for
        # NULL-lang docs and F.sum skips NULLs — a word occurring ONLY
        # in untagged docs would get __ct = sum(all NULLs) = NULL and
        # null out every containing doc's score (r10 review)
        F.sum(
            F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(0))
        ).alias("__ct"),
    )
    tot = raw.agg(
        F.sum("__cr").alias("__tr"),
        F.count(F.lit(1)).alias("__v"),
        F.sum("__ct").alias("__tt"),
    )
    lw = (
        raw.crossJoin(F.broadcast(tot))
        .select(
            "word",
            F.round(
                (
                    F.log((F.col("__ct") + 1)
                          / (F.col("__tt") + F.col("__v")))
                    - F.log((F.col("__cr") + 1) / (F.col("__tr") + F.col("__v")))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("__lw"),
        )
    )
    return (
        words.join(lw, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__lw").alias("dsir_micros"),
        )
        .select(
            "doc_id",
            "n_words",
            "dsir_micros",
            F.expr("CAST(dsir_micros DIV n_words AS BIGINT)").alias(
                "avg_dsir_micros"
            ),
        )
    )


@q(
    "ngram_novelty",
    f"""
    WITH g AS (SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest(sh) AS gram
        FROM (SELECT doc_id, {sql_shingles(3)} AS sh FROM documents))),
    per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                FROM g GROUP BY doc_id),
    novel AS (SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
              FROM (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
              GROUP BY first_doc)
    SELECT p.doc_id, p.n_grams,
           CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
           CAST(coalesce(n.n_novel, 0) * 10000 // p.n_grams AS BIGINT)
             AS novelty_frac_c
    FROM per_doc p LEFT JOIN novel n ON p.doc_id = n.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental n-gram novelty (the 'how much NEW text does this
    doc add' curation signal): for each doc, the fraction of its
    distinct 3-grams whose FIRST corpus occurrence (min doc_id — the
    ingestion-order stand-in) is this doc. Streams/batches use it to
    drop late documents that contribute nothing unseen.

    Plan: NO gram-keyed join-back — per-doc totals come from one
    doc_id aggregate; novel counts come from groupBy(gram).min(doc_id)
    re-aggregated BY THE WINNING doc_id, so the expensive gram
    aggregate is map-side combined and its output is doc-sized, never
    re-joined to the 73M-row gram table (compare SCALING.md §7's
    duplicate-passage discussion). A mega-gram contributes one row to
    the min-aggregate like any other gram — no skew path at all.
    Scaled-integer fraction (exact midpoints)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(dedup.shingles("text", 3)).alias("gram")
    )
    per_doc = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        g.groupBy("gram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    out = per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.expr("CAST(n_novel * 10000 DIV n_grams AS BIGINT)").alias(
            "novelty_frac_c"
        ),
    )


@q(
    "bpe_merge_candidates",
    """
    WITH b AS (
      SELECT unnest(list_filter(list_transform(
               generate_series(1, greatest(len(w) - 1, 0)),
               i -> CASE WHEN w[i] <> '' AND w[i+1] <> ''
                    THEN w[i] || ' ' || w[i+1] END),
             x -> x IS NOT NULL)) AS pair
      FROM (SELECT string_split(text, ' ') AS w FROM documents))
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-induction statistics: the 50 most frequent ADJACENT
    word pairs across the corpus — exactly the count a word-level
    BPE/WordPiece merge step maximizes each round (the corpus-scale
    half of tokenizer training; the iterative re-merge loop is
    driver-side orchestration over this same aggregate). Deterministic
    tiebreak (count desc, pair asc) so top-50 is engine-exact.

    Plan: positional bigrams via one transform/explode (no
    self-join), map-side-combined count, global top-50 as
    TakeOrderedAndProject — never a full sort. The explode carries
    2x the corpus tokens; the shuffle carries distinct pairs only."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(text.word_ngrams_fast("text", 2)).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


@q(
    "pmi_collocations",
    """
    WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
    uni AS (SELECT word, CAST(count(*) AS BIGINT) AS cu
            FROM (SELECT unnest(w) AS word FROM w) GROUP BY word),
    tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n FROM uni),
    pairs AS (
      SELECT a || ' ' || b AS pair, a, b, CAST(count(*) AS BIGINT) AS cp
      FROM (SELECT unnest(list_filter(list_transform(
                     generate_series(1, greatest(len(w) - 1, 0)),
                     i -> CASE WHEN w[i] <> '' AND w[i+1] <> ''
                          THEN [w[i], w[i+1]] END),
                   x -> x IS NOT NULL)) AS p
            FROM w),
           LATERAL (SELECT p[1] AS a, p[2] AS b)
      GROUP BY a, b),
    ptot AS (SELECT CAST(sum(cp) AS BIGINT) AS np FROM pairs)
    SELECT pair, cp AS n_pair,
           CAST(round(ln((CAST(cp AS DOUBLE) * n) / (ua.cu * ub.cu)) * 1000000)
                AS BIGINT) AS pmi_micros
    FROM pairs
    JOIN uni ua ON pairs.a = ua.word
    JOIN uni ub ON pairs.b = ub.word, tot, ptot
    WHERE cp >= greatest(5, np // 2000)
    ORDER BY pmi_micros DESC, pair
    LIMIT 50
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information — the
    phrase-mining signal (Mikolov-style phrase joining, quality
    filters that detect templated text): PMI(a,b) =
    ln(N * c(a,b) / (c(a) * c(b))) over adjacent word pairs,
    corpus-relative min support max(5, total_pairs/2000),
    deterministic integer-micro top-50.

    Plan: ONE token explode feeds the unigram aggregate; positional
    bigrams from the same scan feed the pair aggregate; the unigram
    table joins onto the pair table twice (AQE broadcasts at bench
    scale; both joins are vocab-keyed hash joins at 100 TB — pair
    support >= 50 prunes the long tail before any join). Top-50 is
    TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    uni = pin(words.groupBy("word").agg(
        F.count(F.lit(1)).alias("__cu")
    ))  # referenced 3x (tot, __a join, __b join); the
    # runtime ReusedExchange only deduped part of it — pin the vocab
    # aggregate so the unigram explode + shuffle run once (r11 registry
    # audit, VERDICT r10 §Next #2 q11 class). Vocab grain: slim.
    tot = uni.agg(F.sum("__cu").alias("__n"))
    pair_counts = pin(
        docs.select(F.explode(text.word_ngrams_fast("text", 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        # referenced 2x (ptot + the support-filtered probe): pin so the
        # bigram explode + pair shuffle run once. Pair grain is the
        # biggest frame here but it IS the query's hub — one disk-backed
        # materialization beats re-exploding the corpus.
    )
    # corpus-relative min support (r9): the fixed `>= 50` straddled
    # the bench corpus — max pair count at sf0.01 is 48, so the query
    # was zero-row (vacuous oracle pass) there while sf0.1 kept 900
    # pairs. Support must scale with token volume at 100 TB anyway;
    # the floor of 5 keeps tiny corpora honest.
    ptot = pair_counts.agg(F.sum("n_pair").alias("__np"))
    pairs = (
        pair_counts.crossJoin(F.broadcast(ptot))
        .filter(F.col("n_pair") >= F.greatest(F.lit(5), F.floor(F.col("__np") / 2000)))
        .drop("__np")
        .withColumn("__a", F.split("pair", " ")[0])
        .withColumn("__b", F.split("pair", " ")[1])
    )
    ua = uni.select(F.col("word").alias("__a"), F.col("__cu").alias("__ca"))
    ub = uni.select(F.col("word").alias("__b"), F.col("__cu").alias("__cb"))
    pmi = (
        F.round(
            F.log(
                (F.col("n_pair").cast("double") * F.col("__n"))
                / (F.col("__ca") * F.col("__cb"))
            )
            * 1_000_000
        )
        .cast("long")
        .alias("pmi_micros")
    )
    return (
        pairs.join(ua, "__a")
        .join(ub, "__b")
        .crossJoin(F.broadcast(tot))
        .select("pair", "n_pair", pmi)
        .orderBy(F.desc("pmi_micros"), "pair")
        .limit(50)
    )


_CM_M = 1 << 12  # count-min width: 4096 columns per hash row
_CM_K = 3        # depth: three SHA-slice hash rows


def _sql_cm_pos(expr: str, i: int) -> str:
    """Row-i count-min column for a word expression — the same SHA-256
    32-bit-slice arithmetic as the Bloom operators, so Spark and DuckDB
    compute identical positions."""
    return f"('0x' || substr(sha256({expr}), {1 + 8 * i}, 8))::BIGINT % {_CM_M}"


@q(
    "countmin_frequency_estimates",
    f"""
    WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
    wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM w GROUP BY word),
    cm AS (
      SELECT row_i, pos, CAST(sum(c) AS BIGINT) AS cell
      FROM (
        {" UNION ALL ".join(
            f"SELECT {i} AS row_i, {_sql_cm_pos('word', i)} AS pos, c FROM wc"
            for i in range(_CM_K)
        )}
      ) GROUP BY row_i, pos),
    top AS (SELECT word, c FROM wc ORDER BY c DESC, word LIMIT 20),
    probe AS (
      SELECT word, c, row_i, pos FROM (
        {" UNION ALL ".join(
            f"SELECT word, c, {i} AS row_i, {_sql_cm_pos('word', i)} AS pos FROM top"
            for i in range(_CM_K)
        )})),
    est AS (
      SELECT probe.word, probe.c, min(cm.cell) AS est
      FROM probe JOIN cm ON probe.row_i = cm.row_i AND probe.pos = cm.pos
      GROUP BY probe.word, probe.c)
    SELECT word, c AS exact_count, CAST(est AS BIGINT) AS cm_estimate,
           CAST(est - c AS BIGINT) AS overestimate
    FROM est
    ORDER BY exact_count DESC, word
    """,
)
def countmin_frequency_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch, declaratively (completes the mergeable-sketch
    family E9 next to HLL / Misra-Gries / Bloom): k=3 SHA-slice
    hash rows x m=4096 columns; cell(i, p) = sum of counts of all
    words hashing to p in row i. Point-frequency estimate = min over
    rows — never an underestimate (the CM guarantee, asserted by the
    oracle's `overestimate >= 0` column being non-negative for every
    probe). Probes are the corpus's own top-20 words (deterministic
    tiebreak), so exact-vs-estimate is recorded side by side.

    Determinism: positions are SHA-256 32-bit slices mod m — the same
    engine-portable trick as dedup.bloom_bits, so even hash COLLISIONS
    (the source of overestimates) are identical across engines and the
    oracle hash-matches exactly.

    Scale: the sketch state is <= k*m rows (12k) FOREVER, regardless
    of corpus size — it broadcasts everywhere, merges by cell-wise sum
    across batches/partitions (associative), and the probe side never
    touches the corpus. One corpus shuffle (the word count), then
    sketch-sized work only."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def pos(i: int) -> Column:
        return (
            F.conv(F.substring(F.sha2("word", 256), 1 + 8 * i, 8), 16, 10)
            .cast("long") % _CM_M
        )

    cm = (
        wc.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(i).alias("row_i"), pos(i).alias("pos"))
                    for i in range(_CM_K)
                ])
            ).alias("rp"),
            "c",
        )
        .select("rp.row_i", "rp.pos", "c")
        .groupBy("row_i", "pos")
        .agg(F.sum("c").alias("cell"))
    )
    top = wc.orderBy(F.desc("c"), "word").limit(20)
    probe = top.select(
        "word",
        "c",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("row_i"), pos(i).alias("pos"))
                for i in range(_CM_K)
            ])
        ).alias("rp"),
    ).select("word", "c", "rp.row_i", "rp.pos")
    est = (
        probe.join(F.broadcast(cm), ["row_i", "pos"])
        .groupBy("word", "c")
        .agg(F.min("cell").alias("est"))
    )
    return est.select(
        "word",
        F.col("c").alias("exact_count"),
        F.col("est").cast("long").alias("cm_estimate"),
        (F.col("est") - F.col("c")).cast("long").alias("overestimate"),
    ).orderBy(F.desc("exact_count"), "word")


@q(
    "triangle_count_parts",
    """
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM pairs e1
      JOIN pairs e2 ON e1.v = e2.u
      JOIN pairs e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges
    FROM tri
    """,
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts
    appearing in the same order are adjacent) — the clustering /
    community-density signal web-graph curation pairs with PageRank.
    Edges are ORIENTED by (degree, id) — compact-forward, Latapy
    2008, r7 upgrade per VERDICT r6 §Next #2: a hub keeps only its
    forward edges toward higher-degree nodes, so one celebrity part
    can no longer fan the wedge join out over its whole neighborhood
    (`graph.triangle_count` docstring has the full argument; the A/B
    on a deliberately hub-skewed graph is in SCALE_RUNS.jsonl via
    tools/scale_run_triangles.py). The count is orientation-
    invariant, so the id-oriented SQL oracle still pins it exactly.

    Plan: the edge list is built by an equi-self-join on l_orderkey
    (per-order fan-out bounded by order size, <= 7 lineitems in
    TPC-H); triangles are two equi-joins over the oriented edge list
    (wedge extension + closure check), all hash joins, no cartesian.
    At 100 TB the edge list pre-partitions by u and AQE handles the
    join strategy."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return graph.triangle_count(pairs, degree_ordered=True)


@q("pq_ann_topk")
def pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 scale path #3 (r6): product-quantization ANN — m=8
    subspaces x 16 sub-centroids (deterministic per-subspace Lloyd on
    a bounded sample), asymmetric-distance scan over the compressed
    codes with per-batch bounded top-R emission, exact cosine re-rank
    of the survivors. Rows-only check (k-means is iterative,
    non-SQL-expressible); tests assert recall@10 vs brute force plus
    exact re-rank scores, same gate as ivf_topk. This is the path
    where the INDEX AT REST is m bytes/vector (32x smaller at d=64):
    the 100 TB vector corpus scans as code tables, never floats."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, m=8, codebook_k=16,
        rerank_factor=8,
    )


@q(
    "minhash_containment",
    f"""
    WITH pairs AS ({_SQL_LSH_PAIRS}),
    g AS (SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest(sh) AS gram
        FROM (SELECT doc_id, {sql_shingles(3)} AS sh FROM documents))),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT p.id_a, p.id_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM pairs p
      JOIN g ga ON ga.doc_id = p.id_a
      JOIN g gb ON gb.doc_id = p.id_b AND gb.gram = ga.gram
      GROUP BY p.id_a, p.id_b)
    SELECT i.id_a, i.id_b, i.n_shared,
           CAST(i.n_shared * 10000 // sa.n AS BIGINT) AS containment_a_c,
           CAST(i.n_shared * 10000 // sb.n AS BIGINT) AS containment_b_c
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.id_a
    JOIN sz sb ON sb.doc_id = i.id_b
    WHERE i.n_shared * 10000 // sa.n >= 5000
       OR i.n_shared * 10000 // sb.n >= 5000
    """,
)
def minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard CONTAINMENT over LSH candidates — the asymmetric
    cousin of resemblance near-dup: |A∩B|/|A| detects docs
    SUBSUMED by another (quotes, excerpt pages, boilerplate wrappers
    around shared bodies), which symmetric Jaccard misses when the
    containing doc is much larger. Pairs come from the SAME 2x2
    MinHash banding as `minhash_lsh_neardup`; containment is then
    computed EXACTLY on the candidates only (gram equi-joins on the
    LSH-pruned pair set, never all pairs), keeping either-side
    containment >= 50%. Scaled-integer fractions (exact midpoints).

    Scale: candidate count is the LSH-bounded set; the gram
    intersection joins are keyed on (doc_id, gram) against only the
    candidate docs (semi-join pushdown via the pair list), so the
    exact pass never touches non-candidate docs."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_candidates(
        docs, "doc_id", "text", num_hashes=4, bands=2, shingle_n=3
    )
    g = docs.select(
        "doc_id", F.explode(dedup.shingles("text", 3)).alias("gram")
    )
    sz = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ga = g.select(F.col("doc_id").alias("id_a"), "gram")
    gb = g.select(F.col("doc_id").alias("id_b"), "gram")
    inter = (
        pairs.join(ga, "id_a")
        .join(gb, ["id_b", "gram"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ca = F.expr("CAST(n_shared * 10000 DIV na AS BIGINT)")
    cb = F.expr("CAST(n_shared * 10000 DIV nb AS BIGINT)")
    return (
        inter.join(sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            ca.alias("containment_a_c"),
            cb.alias("containment_b_c"),
        )
        .filter((F.col("containment_a_c") >= 5000) | (F.col("containment_b_c") >= 5000))
    )


@q(
    "feature_hash_vectors",
    f"""
    WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
               FROM documents),
    h AS (SELECT doc_id,
                 {H28.format('word')} % 64 AS bucket,
                 CASE WHEN ({H28.format('word')} // 64) % 2 = 1
                      THEN 1 ELSE -1 END AS sgn
          FROM w)
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CAST(sum(sgn) AS BIGINT) AS weight
    FROM h GROUP BY doc_id, bucket
    HAVING sum(sgn) <> 0
    """,
)
def feature_hash_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): bag-of-words ->
    fixed-64-dim SIGNED sparse feature vector per doc, the
    vocabulary-free featurization linear classifiers and quality
    models use at corpus scale (no vocab table to build, ship, or
    grow). bucket = h(word) mod 64; sign = the next hash bit, which
    makes collisions cancel in expectation instead of biasing
    upward. Output is sparse (doc_id, bucket, weight != 0) rows —
    at 100 TB the dense-array form is a straight groupBy-pivot of
    this, and the sparse form feeds both.

    One explode, one map-side-combined aggregate keyed (doc, bucket)
    — bucket cardinality is fixed at 64, so the shuffle carries at
    most 64 rows per doc regardless of vocabulary. SHA-derived
    hashes keep Spark and DuckDB bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    h = stable_hash64("word", hex_digits=7)
    feats = words.select(
        "doc_id",
        (h % 64).alias("bucket"),
        F.when((h / 64).cast("long") % 2 == 1, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    return (
        feats.groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").alias("weight"))
        .filter(F.col("weight") != 0)
        .select("doc_id", "bucket", F.col("weight").cast("long").alias("weight"))
    )


@q(
    "seasonal_anomaly_hours",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(extract(hour FROM ts) AS BIGINT) AS hod,
             CAST(round(sum(value * 100)) AS BIGINT) AS v_c
      FROM events GROUP BY 1, 2),
    season AS (
      SELECT hod,
             CAST(sum(v_c) // count(*) AS BIGINT) AS mu_c,
             CAST(count(*) AS BIGINT) AS n
      FROM hourly GROUP BY hod),
    scored AS (
      SELECT h.hour, h.hod, h.v_c, s.mu_c,
             abs(h.v_c - s.mu_c) AS dev_c
      FROM hourly h JOIN season s ON h.hod = s.hod),
    spread AS (SELECT CAST(sum(dev_c) // count(*) AS BIGINT) AS mad_c
               FROM scored)
    SELECT CAST(hour AS TIMESTAMP) AS hour, v_c, mu_c,
           CAST(dev_c * 100 // NULLIF(mad_c, 0) AS BIGINT) AS dev_ratio_c
    FROM scored, spread
    WHERE dev_c * 100 // NULLIF(mad_c, 0) >= 300
    """,
)
def seasonal_anomaly_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly detection on the event stream: hourly
    totals vs the mean for that HOUR-OF-DAY (the diurnal baseline),
    flagging hours whose deviation exceeds 3x the corpus's mean
    absolute deviation — the ops alarm for 'this 3am looks like a
    2pm'. Integer-cent arithmetic end-to-end (sums, integer-division
    means, absolute deviations), so the flags are engine-exact with
    no float-tie hazard.

    Plan: one fact aggregate to hourly grain (map-side combined);
    the 24-row seasonal table and 1-row spread broadcast back —
    nothing corpus-sized is ever windowed or re-shuffled (the same
    de-skew shape as the r6 zscore_by_event_type rewrite)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(F.round(F.sum(F.col("value") * 100)).cast("long").alias("v_c"))
    season = hourly.groupBy("hod").agg(
        F.expr("CAST(sum(v_c) DIV count(*) AS BIGINT)").alias("mu_c"),
        F.count(F.lit(1)).alias("n"),
    )
    scored = hourly.join(F.broadcast(season.drop("n")), "hod").withColumn(
        "dev_c", F.abs(F.col("v_c") - F.col("mu_c"))
    )
    spread = scored.agg(
        F.expr("CAST(sum(dev_c) DIV count(*) AS BIGINT)").alias("mad_c")
    )
    ratio = F.expr("CAST(dev_c * 100 DIV NULLIF(mad_c, 0) AS BIGINT)")
    return (
        scored.crossJoin(F.broadcast(spread))
        .withColumn("dev_ratio_c", ratio)
        .filter(F.col("dev_ratio_c") >= 300)
        .select("hour", "v_c", "mu_c", "dev_ratio_c")
    )


def _sql_bpe_chain(n_merges: int = 8) -> str:
    """Shared CTE chain replicating text.bpe_train EXACTLY in DuckDB
    (VERDICT r8 §Next #3): the per-round argmax is integer arithmetic
    with a total-order tie-break (count desc, pair asc), so each round
    is one more CTE pair (m{r}: best pair; v{r+1}: vocab with the
    merge applied). The eager left-to-right re-merge fold is encoded
    as a string replace over a DOUBLE-separator token encoding
    (chr31 t1 chr31 chr31 t2 chr31 ...): the pattern
    chr31|l|chr31chr31|r|chr31 can only match whole tokens, adjacent
    matches share zero characters, and replace() scans left-to-right
    without rescanning its own output — exactly the aggregate fold's
    semantics (proved equivalent case-by-case in the oracle tests)."""
    s1, s2 = "chr(31)", "chr(31) || chr(31)"
    parts = [
        f"""
    WITH words AS (
      SELECT doc_id, w AS word
      FROM documents, unnest(string_split(text, ' ')) AS u(w)
      WHERE w <> ''),
    v0 AS (
      SELECT word, n,
             {s1} || array_to_string(string_split_regex(word, ''), {s2})
                  || {s1} AS s
      FROM (SELECT word, count(*) AS n FROM words GROUP BY word))"""
    ]
    for r in range(n_merges):
        parts.append(
            f"""
    m{r} AS (
      SELECT l, r, c FROM (
        SELECT toks[i] AS l, toks[i + 1] AS r, sum(n) AS c
        FROM (SELECT n, string_split(trim(s, {s1}), {s2}) AS toks
              FROM v{r}),
             unnest(generate_series(1, len(toks) - 1)) AS g(i)
        GROUP BY 1, 2)
      WHERE c >= 2 ORDER BY c DESC, l, r LIMIT 1),
    v{r + 1} AS (
      SELECT word, n,
             coalesce(
               (SELECT replace(v{r}.s,
                               {s1} || l || {s2} || r || {s1},
                               {s1} || l || r || {s1})
                FROM m{r}), s) AS s
      FROM v{r})"""
        )
    return ",".join(parts)


@q(
    "bpe_learned_merges",
    _sql_bpe_chain(8)
    + """
    SELECT CAST(rank AS INTEGER) AS rank, "left", "right",
           CAST(pair_count AS BIGINT) AS pair_count
    FROM ("""
    + " UNION ALL ".join(
        f'SELECT {r} AS rank, l AS "left", r AS "right", c AS pair_count FROM m{r}'
        for r in range(8)
    )
    + ")",
)
def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training on the corpus (Sennrich et al. 2016) —
    the iterative capstone over `bpe_merge_candidates`: 8 merge
    rounds, each an adjacent-pair aggregate over the WORD-TYPE
    vocabulary (|V| rows — the corpus is scanned exactly once to
    build it) + a deterministic driver argmax + a JVM-side fold
    applying the merge. Oracle-checked since r9 (VERDICT r8 §Next
    #3): all-integer pair counts + a total-order tie-break make each
    round's argmax exact in SQL, so the DuckDB chain reproduces the
    merge table verbatim; tests/test_text_ops.py additionally pins
    the sequence against an independent pure-Python BPE reference."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, n_merges=8)
    return spark.createDataFrame(
        merges or [(0, "", "", 0)][:0],
        "rank int, left string, right string, pair_count long",
    )


@q(
    "bpe_token_budget",
    _sql_bpe_chain(8)
    + """
    , tok AS (
      SELECT word,
             len(string_split(trim(s, chr(31)), chr(31) || chr(31)))
               AS word_tokens
      FROM v8)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(word_tokens) AS BIGINT) AS n_bpe_tokens
    FROM words JOIN tok USING (word)
    GROUP BY doc_id
    """,
)
def bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token budget under the corpus's own learned BPE (8
    merges): the real training-cost accounting `token_count`'s
    regex/char-estimate columns approximate. The merge chain folds
    over the DISTINCT word table; docs join their words against the
    |V|-row tokenization — corpus scanned once. Oracle-checked since
    r9 (VERDICT r8 §Next #3) through the same integer-exact CTE
    chain as `bpe_learned_merges` plus a per-word token-length join;
    the tokenize-apply fold is additionally pinned against the
    pure-Python reference in tests."""
    docs = load_table(spark, sf_dir, "documents")
    merges = text.bpe_train(docs, n_merges=8)
    return text.bpe_tokenize_count(docs, merges)


@q(
    "langid_classifier_scores",
    f"""
    WITH lab AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents),
    wrd AS (
      SELECT doc_id, w AS word
      FROM documents, unnest(string_split(text, ' ')) AS u(w)
      WHERE w <> ''),
    feats AS (
      SELECT doc_id, bucket, sum(sgn) AS weight FROM (
        SELECT doc_id,
               {H28.format('word')} % 256 AS bucket,
               CASE WHEN ({H28.format('word')} // 256) % 2 = 1
                    THEN 1 ELSE -1 END AS sgn
        FROM wrd)
      GROUP BY doc_id, bucket HAVING sum(sgn) <> 0),
    cnt AS (SELECT sum(y) AS n_pos, sum(1 - y) AS n_neg FROM lab),
    wt AS (
      SELECT bucket,
             n_neg * sum(CASE WHEN y = 1 THEN weight ELSE 0 END)
             - n_pos * sum(CASE WHEN y = 0 THEN weight ELSE 0 END) AS wj
      FROM feats JOIN lab USING (doc_id), cnt
      GROUP BY bucket, n_pos, n_neg),
    dots AS (
      SELECT doc_id,
             CAST(sum(weight * wj) AS DOUBLE)
               / sqrt(CAST(sum(weight * weight) AS DOUBLE)) AS z
      FROM feats JOIN wt USING (bucket)
      GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(z, 0.0) AS margin,
           coalesce(z >= 0, FALSE) AS keep
    FROM documents d LEFT JOIN dots ON d.doc_id = dots.doc_id
    """,
)
def langid_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear language-ID / curation classifier end-to-end, ORACLE-
    EXACT (VERDICT r8 §Next #3): hashed signed bag-of-words features
    (256 SHA-derived buckets, no vocabulary), closed-form Rocchio
    centroid-difference training as two distributed INTEGER
    aggregates (classifier.train_centroid — no driver sample, no
    iterations, the 100 TB trainer shape), and distributed scoring
    where the integer-valued weight vector rides as literals in ONE
    aggregate expression (scan + doc-keyed combine, no joins, no
    Python). Weak labels: lang == 'en'; output is the normalized
    margin z = x.w/||x|| — every op in it is IEEE-correctly-rounded
    over integer-exact inputs, so Spark and DuckDB agree
    bit-for-bit and the driver hash-compares doubles safely. The
    iterative GD trainer (train_logreg) remains covered by unit
    tests (determinism, separable-corpus accuracy, numpy parity)."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        # coalesce (ADVICE r9 #3): a NULL lang must land in the negative
        # class exactly like the oracle's CASE WHEN lang='en' THEN 1
        # ELSE 0 END — bare `lang == 'en'` yields NULL, which Spark's
        # sums would silently EXCLUDE from both classes, flipping the
        # trained weights on any corpus with missing lang tags.
        "label", F.coalesce(F.col("lang") == "en", F.lit(False))
    )
    weights = classifier.train_centroid(docs, "label")
    return classifier.score_docs(docs, weights, emit_margin=True)


@q(
    "hybrid_rrf_retrieval",
    f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len({WORDS}) AS DOUBLE) AS dl,
             {", ".join(
                 f"CAST({sql_occurrences('text', w)} AS DOUBLE) AS tf_{i}"
                 for i, w in enumerate(BM25_QUERY)
             )}
      FROM documents),
    stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
             {", ".join(
                 f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
                 f" AS df_{i}"
                 for i in range(len(BM25_QUERY))
             )}
      FROM d),
    bm AS (
      SELECT doc_id,
             round({" + ".join(
                 f"ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
                 f" * (tf_{i} * 2.2)"
                 f" / (tf_{i} + 1.2 * (0.25 + 0.75 * dl / avgdl))"
                 for i in range(len(BM25_QUERY))
             )}, 6) AS bm25
      FROM d, stats
      ORDER BY bm25 DESC, doc_id LIMIT 20),
    bmr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
            FROM bm),
    e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    qv AS (SELECT v AS q FROM e WHERE vec_id = 0),
    cos AS (
      SELECT e.vec_id AS doc_id,
             round(list_inner_product(v, q) /
                   (sqrt(list_inner_product(v, v)) * sqrt(list_inner_product(q, q))),
                   4) AS c
      FROM e, qv WHERE e.vec_id <> 0
      ORDER BY c DESC, doc_id LIMIT 20),
    cr AS (SELECT doc_id, row_number() OVER (ORDER BY c DESC, doc_id) AS r
           FROM cos),
    fused AS (
      SELECT coalesce(bmr.doc_id, cr.doc_id) AS doc_id,
             CAST(coalesce(1000000 // (60 + bmr.r), 0)
                  + coalesce(1000000 // (60 + cr.r), 0) AS BIGINT) AS rrf_micros,
             CAST(bmr.r AS BIGINT) AS bm25_rank,
             CAST(cr.r AS BIGINT) AS cosine_rank
      FROM bmr FULL OUTER JOIN cr ON bmr.doc_id = cr.doc_id)
    SELECT * FROM fused ORDER BY rrf_micros DESC, doc_id LIMIT 20
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused by Reciprocal Rank
    Fusion (Cormack et al. 2009) — the standard RAG first-stage:
    BM25 top-20 for the fixed query terms and cosine top-20 against
    the doc-0 embedding, fused as sum of 1e6 DIV (60 + rank) —
    integer division, so fusion scores are engine-exact; ranks
    themselves come from 4-decimal-rounded scores with id tiebreaks
    (the knn oracle's determinism discipline).

    Plan: each leg is its own TakeOrderedAndProject head (corpus
    scanned once per modality, no inverted index, broadcast query);
    the fusion is a FULL OUTER join of two 20-row frames — driver-
    trivial at any corpus size because only the heads are joined."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm = (
        text.bm25_scores(docs, BM25_QUERY, "text", k1=1.2, b=0.75)
        .select("doc_id", "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )
    # global (un-partitioned) window — EXEMPT from the SCALING §7
    # entity-scoped-key audit rule because it ranks a ≤20-row head
    # (the limit above), never the corpus; a single task over ≤k rows
    # is the cheapest possible plan here (VERDICT r6 §Wrong #3)
    wb = Window.orderBy(F.col("bm25").desc(), "doc_id")
    bmr = bm.select("doc_id", F.row_number().over(wb).alias("__rb"))
    sem = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    ).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("__rc")
    )
    fused = bmr.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.expr("1000000 DIV (60 + __rb)"), F.lit(0))
            + F.coalesce(F.expr("1000000 DIV (60 + __rc)"), F.lit(0))
        ).cast("long").alias("rrf_micros"),
        F.col("__rb").cast("long").alias("bm25_rank"),
        F.col("__rc").cast("long").alias("cosine_rank"),
    )
    return fused.orderBy(F.desc("rrf_micros"), "doc_id").limit(20)


@q(
    "exact_substring_spans",
    f"""
    WITH gl AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
             list_filter(list_transform(
               generate_series(1, greatest(len(w) - 9, 0)),
               i -> CASE WHEN {" AND ".join(f"w[i+{j}] <> ''" for j in range(10))}
                    THEN {" || ' ' || ".join(f"w[i+{j}]" for j in range(10))}
                    END), x -> x IS NOT NULL) AS g
      FROM (SELECT doc_id, {WORDS} AS w FROM documents)),
    pg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, g[i] AS gram, n_words
      FROM gl, unnest(generate_series(1, len(g))) AS t(i)),
    freq AS (SELECT gram FROM pg GROUP BY gram HAVING count(*) >= 2),
    dup AS (
      SELECT pg.doc_id, pg.pos, pg.n_words
      FROM pg JOIN freq ON pg.gram = freq.gram),
    flagged AS (
      SELECT doc_id, pos, n_words,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= 9 THEN 0 ELSE 1 END AS brk
      FROM dup),
    isl AS (
      SELECT doc_id, pos, n_words,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged),
    spans AS (
      SELECT doc_id, n_words,
             min(pos) AS span_start,
             max(pos) + 9 AS span_end
      FROM isl GROUP BY doc_id, n_words, island)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_words,
           CAST(sum(span_end - span_start + 1) * 10000 // any_value(n_words)
                AS BIGINT) AS dup_frac_c
    FROM spans
    GROUP BY doc_id
    """,
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span extraction (Lee et al. 2022,
    the suffix-array half of 'Deduplicating Training Data...'),
    re-expressed for Spark as seed-and-extend: every POSITIONAL
    10-word gram that occurs in >= 2 corpus positions is a duplicated
    seed; per doc, seeds whose L-word windows overlap or touch (gap
    <= L-1) chain into MAXIMAL duplicated spans via gaps-and-islands
    (break flag on gap > L-1, running-sum island ids) — spans are
    DISJOINT, so the duplicated fraction is an exact union, never a
    double count. Each doc reports its span count,
    duplicated word total, and duplicated fraction — the actual
    removal decision ExactSubstr makes, without materializing a
    suffix array.

    Scale: the seed aggregate is a map-side-combined gram count (the
    heavy-key discussion of SCALING.md §7 applies — swap in
    salted_dup_flags for mega-gram corpora); the islands window
    partitions by doc_id with per-doc position counts bounded by doc
    length. Spans never cross docs, so everything after the seed
    filter is doc-local.

    r12 (VERDICT r11 §Next #1): the seed set is pinned once via
    pin() — the SMALL aggregate (13k/41k rows at sf1/sf10, so the
    loss-exposure window is a trivially recomputable frame, unlike
    the token-grain pins rejected in r11; primitive per the
    pinning.py policy: localCheckpoint locally, reliable checkpoint
    on a cluster) — and a broadcast Bloom filter over the seeds' h1
    prunes
    the probe side's grams BEFORE the join (operators/bloom.py).
    Measured probe survival is 0.4-1.2% (sf10/sf1), so when the seed
    set outgrows the broadcast threshold on a real boilerplate-heavy
    corpus and the join degrades to sort-merge, the probe-side
    exchange carries ~1% of the positions instead of every gram in
    the corpus. False positives only — the exact equi-join on the
    full 128-bit gh follows, so results are identical at any fpp
    (asserted by the ledger A/B exact_substring_bloom_ab and the
    unchanged DuckDB oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    L = 10
    words = F.split("text", " ")
    pg = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.posexplode(text.word_ngrams_fast("text", L)).alias("pos0", "gram"),
    ).select(
        "doc_id",
        "n_words",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        # hash128, not a single xxhash64: a 64-bit collision here
        # would fabricate duplicated seeds (ADVICE r6)
        dedup.hash128("gram").alias("gh"),
    )
    freq = pin(
        pg.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("gh"),
        # pin the small seed set: referenced by the bloom build AND the
        # join build side — unpinned, the full gram generation +
        # aggregate would run for each (pin policy: pinning.py)
    )
    n_seeds = freq.count()  # cheap on the pinned frame; sizes the bloom
    probe = bloom.bloom_prune(
        pg,
        freq.select(F.col("gh.h1").alias("h1")),
        F.col("gh.h1"),
        "h1",
        n_seeds,
    )
    dup = probe.join(freq, "gh")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(wd) <= L - 1, F.lit(0)
    ).otherwise(F.lit(1))
    islands = dup.withColumn("brk", brk).withColumn(
        "island",
        F.sum("brk").over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy("doc_id", "n_words", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + L - 1).alias("span_end"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias("dup_words"),
            F.expr(
                "CAST(sum(span_end - span_start + 1) * 10000 "
                "DIV any_value(n_words) AS BIGINT)"
            ).alias("dup_frac_c"),
        )
        .select(
            "doc_id",
            "n_spans",
            F.col("dup_words").cast("long").alias("dup_words"),
            "dup_frac_c",
        )
    )


def _sql_dup_doubling(levels: tuple[int, ...] = (10, 20, 40, 80)) -> str:
    """DuckDB oracle for the prefix-doubling profile: per ladder
    length L, a doc 'hits' if ANY of its L-word grams (no empty
    tokens) occurs >= 2 times corpus-wide; max hit per doc, 0 if
    none. The oracle builds the actual L-gram STRINGS per level —
    the engine never does (nested hash structs), which is the point."""
    ctes, unions = [], []
    for L in levels:
        ctes.append(
            f"pg{L} AS (SELECT doc_id, array_to_string(list_slice(w, i, i+{L - 1}), ' ') AS gram "
            f"FROM docs_w, unnest(generate_series(1, greatest(len(w)-{L - 1}, 0))) AS t(i) "
            f"WHERE NOT list_contains(list_slice(w, i, i+{L - 1}), ''))"
        )
        ctes.append(
            f"freq{L} AS (SELECT gram FROM pg{L} GROUP BY gram HAVING count(*) >= 2)"
        )
        unions.append(
            f"SELECT DISTINCT pg{L}.doc_id, CAST({L} AS BIGINT) AS dup_len "
            f"FROM pg{L} JOIN freq{L} USING (gram)"
        )
    return (
        "WITH docs_w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), "
        + ", ".join(ctes)
        + ", hit AS (" + " UNION ALL ".join(unions) + ") "
        "SELECT d.doc_id, CAST(coalesce(max(h.dup_len), 0) AS BIGINT) AS max_dup_len "
        "FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id GROUP BY d.doc_id"
    )


@q("dup_gram_doubling_profile", _sql_dup_doubling())
def dup_gram_doubling_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 r15 (VERDICT r14 §Next #8, the suffix-array item): the
    variable-length duplicated-passage profile via PREFIX DOUBLING —
    the Manber–Myers suffix-array construction step, distributed.
    exact_substring_spans stays the fixed-L operator (measured at its
    architectural floor; a distributed SA build would only ADD log n
    sort rounds on top of the one unavoidable gram exchange), while
    this query delivers the capability the suffix array exists for:
    per doc, the longest ladder length (10/20/40/80 words) at which it
    still holds a corpus-duplicated gram. Level L=10 pays the same
    full-corpus exchange as the fixed-L op; every doubling level joins
    only surviving candidates on (doc, pos)/(doc, pos+L) and counts
    nested 16-byte hash-struct pairs — no 20/40/80-word gram string is
    ever built or shuffled, and candidate volume shrinks monotonically
    by construction. The oracle builds the literal gram strings at
    every level, so a hash match proves the rank-pair reduction exact
    end-to-end."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_gram_doubling_profile(
        docs, "doc_id", "text", base_l=10, levels=4
    )


@q(
    "key_skew_report",
    """
    WITH k AS (SELECT l_partkey AS key, CAST(count(*) AS BIGINT) AS n
               FROM lineitem GROUP BY l_partkey),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(max(n) AS BIGINT) AS max_n,
             CAST(sum(n) // count(*) AS BIGINT) AS avg_n
      FROM k),
    top AS (SELECT key, n FROM k ORDER BY n DESC, key LIMIT 10)
    SELECT top.key, top.n,
           CAST(top.n * 100 // stats.avg_n AS BIGINT) AS x_avg_pct,
           stats.n_keys, stats.n_rows
    FROM top, stats
    ORDER BY top.n DESC, top.key
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the report a pipeline runs BEFORE a
    big fact-fact join to decide between plain AQE, AQE skew-join,
    and explicit salting (`relational.salted_join`): per-key counts
    for the candidate key, the 10 heaviest keys, and each heavy key's
    multiple of the average (integer percent). One map-side-combined
    aggregate; the global stats are a 1-row broadcast; top-10 is
    TakeOrderedAndProject. This is the measurement behind every skew
    decision documented in SCALING.md §7."""
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.expr("CAST(sum(n) DIV count(*) AS BIGINT)").alias("avg_n"),
    )
    top = k.orderBy(F.desc("n"), "key").limit(10)
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "n",
            F.expr("CAST(n * 100 DIV avg_n AS BIGINT)").alias("x_avg_pct"),
            "n_keys",
            "n_rows",
        )
        .orderBy(F.desc("n"), "key")
    )


SCD2_SNAPSHOT_TS = "2024-01-10 00:00:00"


@q(
    "scd2_snapshot_at",
    f"""
    SELECT user_id, event_type AS state, ts AS valid_from
    FROM events
    WHERE event_type IN ('signup', 'purchase', 'error')
      AND ts <= TIMESTAMP '{SCD2_SNAPSHOT_TS}'
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def scd2_snapshot_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time reconstruction over the SCD2 history: each
    user's state AS OF the snapshot timestamp — the time-travel read
    every audit/backtest needs. NOT computed by materializing the
    full interval table and filtering: the as-of filter pushes to the
    scan (ts <= T lands in PushedFilters) and the per-user latest row
    comes from one rank window (per-user row counts are
    entity-bounded, SCALING.md §7); Spark turns the rank-1 filter
    into WindowGroupLimit, so each map task forwards one candidate
    row per user."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase", "error")
        & (F.col("ts") <= F.lit(SCD2_SNAPSHOT_TS).cast("timestamp"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
        )
    )


@q(
    "curation_scorecard",
    f"""
    WITH q AS (
      SELECT doc_id, lang,
             CAST(least(len({WORDS}) * 20000, 400000)
                  + least(len(list_distinct({WORDS})) * 800000 // len({WORDS}), 400000)
                  + least({sql_stop_hits('text', text.EN_STOPWORDS)} * 2000000
                          // len({WORDS}), 200000) AS BIGINT) AS quality_micros,
             CAST(len({WORDS}) AS BIGINT) AS ws_tokens
      FROM documents),
    g AS (SELECT doc_id, unnest(sh) AS gram
          FROM (SELECT doc_id, {sql_shingles(5)} AS sh FROM documents)),
    freq AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram),
    dup AS (
      SELECT g.doc_id,
             CAST(sum(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END) * 10000
                  // count(*) AS BIGINT) AS dup_frac_c
      FROM g JOIN freq ON g.gram = freq.gram
      GROUP BY g.doc_id),
    g3 AS (SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest(sh) AS gram
        FROM (SELECT doc_id, {sql_shingles(3)} AS sh FROM documents))),
    nv AS (
      SELECT p.doc_id,
             CAST(coalesce(n.n_novel, 0) * 10000 // p.n_grams AS BIGINT)
               AS novelty_frac_c
      FROM (SELECT doc_id, count(*) AS n_grams FROM g3 GROUP BY doc_id) p
      LEFT JOIN (SELECT first_doc AS doc_id, count(*) AS n_novel
                 FROM (SELECT gram, min(doc_id) AS first_doc FROM g3 GROUP BY gram)
                 GROUP BY first_doc) n ON p.doc_id = n.doc_id)
    SELECT q.doc_id, q.lang, q.quality_micros, q.ws_tokens,
           dup.dup_frac_c, nv.novelty_frac_c,
           (q.quality_micros >= 500000 AND dup.dup_frac_c < 5000
            AND q.ws_tokens >= 10) AS keep
    FROM q JOIN dup ON q.doc_id = dup.doc_id
    JOIN nv ON q.doc_id = nv.doc_id
    """,
)
def curation_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-signal decision table a data curator actually
    reviews: per doc — heuristic quality (integer micros), whitespace
    token count, duplicated-passage fraction, first-seen novelty
    fraction, language — and the composed keep/drop decision
    (quality >= 0.5, dup fraction < 50%, >= 10 tokens). Every signal
    reuses its standalone oracle-checked formulation; Catalyst fuses
    the quality/token projections into one scan, and the three
    doc-grain signal tables join on doc_id (co-partitioned by the
    aggregates that built them).

    This complements `curation_e2e` (which EXECUTES a pipeline):
    the scorecard is the audit view of WHY each doc survives."""
    docs = load_table(spark, sf_dir, "documents")
    q_ = text.quality_score(docs).select(
        "doc_id",
        "lang",
        F.round(F.col("quality_score") * 1000000).cast("long").alias(
            "quality_micros"
        ),
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
    )
    dup = duplicate_passage_fraction(spark, sf_dir).select("doc_id", "dup_frac_c")
    nv = ngram_novelty(spark, sf_dir).select("doc_id", "novelty_frac_c")
    return (
        q_.join(dup, "doc_id")
        .join(nv, "doc_id")
        .select(
            "doc_id",
            "lang",
            "quality_micros",
            "ws_tokens",
            "dup_frac_c",
            "novelty_frac_c",
            (
                (F.col("quality_micros") >= 500000)
                & (F.col("dup_frac_c") < 5000)
                & (F.col("ws_tokens") >= 10)
            ).alias("keep"),
        )
    )


@q(
    "session_window_counts",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
      FROM events),
    isl AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           CAST(max(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM isl
    GROUP BY user_id, sid
    """,
)
def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session-window aggregation (F.session_window —
    the declarative dynamic-gap operator added for exactly this), the
    third sessionization formulation the engine ships next to the
    batch gaps-and-islands walk (`sessionize_events`) and the
    stateful streaming sessionizer (applyInPandasWithState): one
    shuffle on user_id, sessions merged by the engine itself, ends at
    last_event + gap. The oracle reproduces the semantics with the
    classic lag/running-sum islands — a hash match proves the native
    operator and the manual walk agree exactly."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ============================================================ round 7 additions

@q(
    "incremental_ingest_e2e",
    f"""
    WITH ex_docs AS (SELECT * FROM documents WHERE source <> 'src1'),
    new_docs AS (SELECT * FROM documents WHERE source = 'src1'),
    sig AS ({_sql_minhash_sig("documents", 16)[0]}),
    b AS ({_sql_bands(16, 4)}),
    near AS (
      SELECT DISTINCT bn.doc_id
      FROM b bn JOIN new_docs n ON n.doc_id = bn.doc_id
      JOIN b be ON be.bucket = bn.bucket
      JOIN ex_docs e ON e.doc_id = be.doc_id),
    exact AS (
      SELECT DISTINCT n.doc_id
      FROM new_docs n JOIN ex_docs e ON sha256(n.text) = sha256(e.text)),
    g_new AS (
      SELECT doc_id, unnest(sh) AS gram
      FROM (SELECT doc_id, {sql_shingles(3)} AS sh FROM new_docs)),
    g_old AS (
      SELECT DISTINCT unnest(sh) AS gram
      FROM (SELECT {sql_shingles(3)} AS sh FROM ex_docs)),
    nov AS (
      SELECT g_new.doc_id,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN g_old.gram IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM g_new LEFT JOIN g_old ON g_new.gram = g_old.gram
      GROUP BY g_new.doc_id)
    SELECT n.doc_id,
           n.doc_id IN (SELECT doc_id FROM exact) AS is_exact_dup,
           n.doc_id IN (SELECT doc_id FROM near) AS is_near_dup,
           nov.n_grams, nov.n_novel,
           CAST(nov.n_novel * 10000 // nov.n_grams AS BIGINT) AS novel_frac_c,
           NOT (n.doc_id IN (SELECT doc_id FROM exact)
                OR n.doc_id IN (SELECT doc_id FROM near)) AS kept
    FROM new_docs n JOIN nov ON nov.doc_id = n.doc_id
    """,
)
def incremental_ingest_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persist-and-resume ingestion WALKTHROUGH as one
    driver-checked query (VERDICT r6 §Next #1): seed the corpus state
    from the existing side (source <> 'src1') — signatures, bloom
    bits, novelty grams persisted under a state dir by the SAME
    replay-idempotent foreach_batch_rollup maintainer the streaming
    engine uses — then ingest the 'src1' batch AGAINST THE STORED
    TABLES ONLY (the batch is hashed/banded/shingled once; the
    existing corpus is never re-signed). The oracle recomputes every
    decision from scratch with full data in hand, so a hash match
    proves the two-phase persisted path equals the one-shot batch
    computation: exact dups (content hash), near dups (same 16-hash /
    4-band LSH as `incremental_dedup_new` and
    `ingest_spark.incremental`; widened from 4/2 in r9 per the
    signature-saturation study), per-doc novelty fraction
    (share of distinct 3-gram shingles never seen in the corpus),
    and the keep decision. `ingest_spark.incremental` docstring has
    the state layout and per-batch cost bounds; tests/test_incremental
    adds the multi-batch, crash-resume, and bounded-state gates that
    SQL can't express.

    r13 (VERDICT r12 §Next #6): seeding now goes through the
    process-scoped prebuilt-state cache keyed by sf_dir — the FIRST
    call still executes the full seed-then-ingest walkthrough
    (identical decisions, same oracle), repeat calls reuse the seeded
    dir, so the bench's steady passes measure the stable per-batch
    cost instead of re-paying the I/O-bimodal state-dir seeding
    (10.4-18.6 s swings at sf0.1 on identical code). The seeding cost
    itself is now its own benched row, `incremental_ingest_seed`."""
    from ingest_spark import incremental

    docs = load_table(spark, sf_dir, "documents")
    state = _prebuilt_ingest_state(spark, sf_dir)
    # r15: the trailing localCheckpoint was load-bearing only while
    # this query seeded a TEMP state dir and rmtree'd it in `finally`
    # (the returned frame had to materialize before its input vanished)
    # — with the r13 process-scoped state cache the dir outlives every
    # consumer, so the eager materialization round trip was pure
    # overhead per pass
    return incremental.ingest_batch(
        spark, docs.filter(F.col("source") == "src1"), state
    )


# process-scoped prebuilt-state cache for incremental_ingest_batch:
# sf_dir -> seeded state dir. Seeding runs ONCE per process (the
# bench's cold pass); steady passes then measure pure per-batch cost.
_INGEST_STATE_CACHE: dict[str, str] = {}


def _prebuilt_ingest_state(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import shutil
    import tempfile

    from ingest_spark import incremental

    state = _INGEST_STATE_CACHE.get(sf_dir)
    if state is None:
        docs = load_table(spark, sf_dir, "documents")
        state = tempfile.mkdtemp(prefix="ingest_state_cache_")
        # register cleanup BEFORE init_state (ADVICE r10): if seeding
        # raises partway, the fresh temp dir must not leak for the
        # life of the machine's tmp — rmtree of a half-built dir is
        # fine, and a retry gets a clean slate.
        atexit.register(shutil.rmtree, state, ignore_errors=True)
        try:
            incremental.init_state(
                spark, docs.filter(F.col("source") != "src1"), state
            )
        except BaseException:
            shutil.rmtree(state, ignore_errors=True)
            raise
        _INGEST_STATE_CACHE[sf_dir] = state
    return state


@q("incremental_ingest_batch", ORACLES["incremental_ingest_e2e"])
def incremental_ingest_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-batch ingest cost against PREBUILT corpus state (VERDICT r9
    §Next #4): `incremental_ingest_e2e` deliberately seeds the full
    corpus state in-query, so its bench number measured seeding+ingest
    together — this entry is the pq_ann_topk-shaped split. State for
    (sf_dir's) existing corpus is seeded once per process and cached;
    the measured work is ONLY `incremental.ingest_batch` — hash/band/
    shingle the new batch, bloom-prefiltered probe of the stored
    hashes, band-bucket equi-join, novelty left-join — i.e. the
    steady-state per-batch cost that stays flat over batches
    (SCALE_RUNS.jsonl flatness study). Same oracle as the e2e entry:
    identical decisions, proven by the same full-recompute SQL."""
    state = _prebuilt_ingest_state(spark, sf_dir)
    from ingest_spark import incremental

    docs = load_table(spark, sf_dir, "documents")
    return incremental.ingest_batch(
        spark, docs.filter(F.col("source") == "src1"), state
    )


@q(
    "incremental_ingest_seed",
    f"""
    WITH ex_docs AS (SELECT * FROM documents WHERE source <> 'src1'),
    sig AS ({{SIG}}),
    b AS ({{BANDS}}),
    grams AS (
      SELECT DISTINCT unnest(sh) AS gram
      FROM (SELECT {{SHINGLES}} AS sh FROM ex_docs)),
    bloom_pos AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest(list_distinct([
          {{BLOOM_SLICES}}
        ])) AS pos
        FROM (SELECT DISTINCT sha256(text) AS h FROM ex_docs)))
    SELECT
      (SELECT CAST(count(DISTINCT sha256(text)) AS BIGINT) FROM ex_docs)
        AS n_hashes,
      (SELECT CAST(count(*) AS BIGINT) FROM
        (SELECT DISTINCT bucket, b.doc_id FROM b
         JOIN ex_docs e ON e.doc_id = b.doc_id)) AS n_bands,
      (SELECT CAST(count(*) AS BIGINT) FROM bloom_pos) AS n_bloom,
      (SELECT CAST(count(*) AS BIGINT) FROM grams) AS n_novelty
    """.replace("{SIG}", _sql_minhash_sig("ex_docs", 16)[0])
    .replace("{BANDS}", _sql_bands(16, 4))
    .replace("{SHINGLES}", sql_shingles(3))
    .replace(
        "{BLOOM_SLICES}",
        ", ".join(
            f"('0x' || substr(sha256(h), {1 + 8 * i}, 8))::BIGINT % {1 << 20}"
            for i in range(3)
        ),
    ),
)
def incremental_ingest_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-state SEEDING as its own benched row (VERDICT r12 §Next
    #6): `init_state` over the existing side (source <> 'src1') into a
    fresh state dir — the one-time cost the e2e entry used to re-pay
    every pass, isolated so its I/O bimodality (10.4-18.6 s at sf0.1
    across identical-code runs) stops polluting the per-batch signal.
    Returns the four state-table row counts, each of which the oracle
    recomputes exactly from the raw corpus: distinct content hashes,
    distinct (band-bucket, doc) pairs under the production 16h/4b
    signature (bucket separators differ per engine, so the oracle
    counts its own bucket strings — the 1:1 bucket identity makes the
    counts equal), distinct bloom bit positions (3 SHA-slice positions
    mod 2^20 over the content hash — note the DOUBLE sha256: the bloom
    key is the hex content hash, and _bloom_positions hashes its key),
    and distinct 3-gram novelty keys (hash128 collisions are ~2^-128,
    so the distinct-gk count equals the distinct-gram count the SQL
    side computes). Counting the tables' live segments proves the seed
    installed exactly the keyed state the contract declares — a
    dropped partition, a repeated key or a double-applied batch shifts
    a count."""
    import shutil
    import tempfile

    from ingest_spark import incremental

    docs = load_table(spark, sf_dir, "documents")
    state = tempfile.mkdtemp(prefix="ingest_state_seed_")
    try:
        incremental.init_state(
            spark, docs.filter(F.col("source") != "src1"), state
        )
        counts = []
        for tbl, col in (
            ("hashes", "n_hashes"),
            ("bands", "n_bands"),
            ("bloom", "n_bloom"),
            ("novelty", "n_novelty"),
        ):
            n = incremental.read_state(spark, state, tbl).count()
            counts.append(F.lit(n).cast("long").alias(col))
        return spark.range(1).select(*counts)
    finally:
        shutil.rmtree(state, ignore_errors=True)
