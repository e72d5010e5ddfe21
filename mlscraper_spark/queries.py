"""Driver-contract query registry: Spark plan + DuckDB oracle per operator.

Each entry exercises one operator family from SURVEY.md §2 (or a
training-data-pipeline operator) over the driver testdata tables, expressed
as an idiomatic DataFrame plan (Catalyst handles pushdown/pruning/join
strategy) with an ANSI-SQL oracle that DuckDB runs on the same parquet.
Column names/types are aligned pairwise (the driver hashes values under
sorted column names).

Numeric parity policy (learned the hard way):

* aggregates run in DECIMAL (exact, summation-order-independent) and cast
  to double at the end — bit-identical in both engines;
* per-row doubles are output RAW — same parquet bits, no arithmetic;
* ``round()`` is avoided wherever possible: Spark rounds a double via its
  shortest decimal representation while DuckDB rounds the true binary
  value, so round() itself breaks parity on boundary values; it remains
  only on cosines, where the two engines genuinely use different formulas
  and agree to ~1e-15.
"""
from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scan-parallelism floor (guide §2/§6): a small parquet table is one
    row group, so it yields ONE input split — and then everything up to the
    first Exchange (explodes, hashing, Arrow parse stages) runs in a single
    task while the other cores idle.  When the scan's partition count is
    below the core count, a round-robin repartition spreads the rows; when
    the input is big enough to split on its own (the 100 TB case), this is
    a no-op and no extra Exchange enters the plan.  Results are unchanged —
    only task granularity moves."""
    n = spark.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive: never fail a query
        return df
    return df if cur >= n else df.repartition(n)


# Storage scoping lives in mlscraper_spark.caches (shared with the
# iterative operators, whose localCheckpoint blocks must honor the same
# release contract); re-exported here because __spark_entry__, bench.py and
# the tests address it through the query-registry module.
from mlscraper_spark.caches import release_caches  # noqa: F401
from mlscraper_spark.caches import scoped_cache as _scoped_cache  # noqa: F401



def _ensure_utc(spark: SparkSession) -> None:
    """Timestamp-formatting queries must not depend on who built the
    session: the driver's harness may not pin a timezone, and the DuckDB
    oracle formats naive timestamps as stored."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# --------------------------------------------------------------------------
# relational core (TPC-H tables) — SURVEY.md §2.2-2.6 operator families
# --------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """A1-A7: partial+final aggregation; P1: filter pushdown to scan."""
    li = _t(spark, sf_dir, "lineitem")
    # NO _spread here (tried, reverted): partial aggregation already
    # collapses the scan output before its exchange, so the single-split
    # scan is the serial term either way and the repartition only added a
    # full-row shuffle (measured q01 1.12→1.59 s)
    # ONE decimal sum of l_quantity serves both sum_qty and avg_qty (r6):
    # the column carries <=2 decimals, so its sums at scale 2 and scale 4
    # are the same number, and decimal->double conversion is scale-blind —
    # cast(sum(dec18,4) as double) == cast(sum(dec18,2) as double) bit-
    # for-bit (pinned by hex-exact parity vs the oracle).  Spark dedupes
    # the repeated aggregate expression, so the agg computes 3 decimal
    # sums instead of 4 (measured 0.96 -> 0.86 s on the single-split
    # scan+partial-agg task that dominates this query).
    qty = F.sum(F.col("l_quantity").cast("decimal(18,4)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal aggregation: exact and summation-order-independent,
            # so the value hash can never straddle a rounding boundary
            qty.cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).cast("double").alias("sum_disc_price"),
            (qty.cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q01_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE      AS sum_qty,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
       sum(((l_extendedprice * (1 - l_discount)))::DECIMAL(18,4))::DOUBLE
                                                   AS sum_disc_price,
       sum(l_quantity::DECIMAL(18,4))::DOUBLE / count(*) AS avg_qty,
       count(*)                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q31_rollup_summary(spark, sf_dir):
    """ROLLUP aggregation: subtotals per (returnflag, linestatus), per
    returnflag, and grand total in ONE pass — Spark expands the grouping
    sets before the partial aggregate, so the map-side combine covers all
    three levels with a single shuffle (vs three separate groupBys = three
    scans + three shuffles).  Group columns are non-null in the data, so
    NULL unambiguously marks subtotal rows in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("sum_base_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q31_SQL = """
SELECT l_returnflag, l_linestatus,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q32_asof_join(spark, sf_dir):
    """As-of join: each event matched to the user's latest order at or
    before the event time (the time-series join Spark lacks natively).

    Composition of existing operators (custom-operator strategy (a)): an
    equi-join on the key with the temporal predicate as join condition,
    then a per-event top-1 window.  The equi key keeps it a hash/sort
    join — never a nested loop — and the fan-out is bounded by
    orders-per-customer; at scale both sides shuffle once on the key and
    the window's group-limit prunes map-side.  Ties (same order date)
    break on the smaller order key in both engines; events with no prior
    order keep a NULL match (left join + NULLS LAST ordering)."""
    e = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    j = e.join(
        o,
        (e["user_id"] == o["o_custkey"]) & (o["o_orderdate"] <= e["ts"]),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc_nulls_last("o_orderdate"), F.asc_nulls_last("o_orderkey")
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id", "user_id",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.col("o_totalprice").alias("asof_totalprice"),
        )
    )


Q32_SQL = """
SELECT event_id, user_id, asof_orderkey, asof_totalprice
FROM (
  SELECT e.event_id, e.user_id,
         o.o_orderkey AS asof_orderkey,
         o.o_totalprice AS asof_totalprice,
         row_number() OVER (
             PARTITION BY e.event_id
             ORDER BY o.o_orderdate DESC NULLS LAST,
                      o.o_orderkey ASC NULLS LAST) AS rn
  FROM events e
  LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
WHERE rn = 1
"""


def q33_pivot_event_types(spark, sf_dir):
    """Pivot: per-user event counts spread across event-type columns.
    Spark's ``pivot`` with an explicit value list plans as ONE conditional
    aggregation (no per-type scans, no join of per-type aggregates) —
    the same plan the CASE-sum oracle describes.  The value list is
    pinned so the output schema is static (a scan-to-discover-values
    pivot would add a driver round-trip and a nondeterministic column
    order)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "purchase", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
        )
    )


Q33_SQL = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click')    AS n_click,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'view')     AS n_view
FROM events
GROUP BY user_id
"""


def q34_moving_sum(spark, sf_dir):
    """Sliding window frame: per-user moving sum of the last 4 events
    (ROWS 3 PRECEDING), decimal arithmetic so the result is exact and
    summation-order-independent.  The frame's ORDER BY includes event_id
    so duplicate timestamps can't make frame contents nondeterministic
    between engines.  One shuffle on user_id; the frame is evaluated
    streaming within each sorted partition."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,4)")).over(w)
        .cast("double").alias("moving_value"),
    )


Q34_SQL = """
SELECT event_id, user_id,
       sum(value::DECIMAL(18,4)) OVER (
           PARTITION BY user_id ORDER BY ts ASC, event_id ASC
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)::DOUBLE AS moving_value
FROM events
"""


def q02_filter_projection(spark, sf_dir):
    """P1/P5: selective filter + narrow projection (pushdown-verified)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") >= 49.0) & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", F.col("l_extendedprice").alias("price"))


Q02_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice AS price
FROM lineitem WHERE l_quantity >= 49.0 AND l_returnflag = 'R'
"""


def q03_broadcast_join(spark, sf_dir):
    """J8 politeness-join analog: fact ⋈ broadcast(dim)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
        )
    )


Q03_SQL = """
SELECT c_mktsegment, count(*) AS n_orders, sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q04_shuffle_join(spark, sf_dir):
    """J1-J4 analog: large-side shuffle join keyed by orderkey.

    r6 shape (guide §2.3 "aggregate before you shuffle"): lineitem is
    pre-aggregated to one decimal revenue per orderkey BEFORE the join, so
    the join probe handles one row per key and the join's lineitem side
    carries one row per order (4× fewer here, ~arbitrarily fewer at web
    scale where orders average many lines).  The explicit
    ``repartition(n, l_orderkey)`` still moves every raw lineitem row:
    it is planned before the aggregation, whose partial and final steps
    then both run after it on its hash partitioning (no map-side
    pre-aggregation shrinks that exchange).  Decimal partial sums are
    exact and associative, so sum-of-per-key-sums == the flat sum
    bit-for-bit (oracle parity pinned; measured 0.89 → 0.64 s)."""
    n = spark.sparkContext.defaultParallelism
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)").alias("rev"),
    )
    pre = (
        li.repartition(n, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.sum("rev").alias("rev"))
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        pre.join(orders, pre.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.sum("rev").cast("double").alias("revenue"))
    )


Q04_SQL = """
SELECT o_orderpriority,
       sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4))::DOUBLE AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q05_topk_per_group(spark, sf_dir):
    """T1: windowed top-k per key with deterministic tiebreak."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").alias("price"), "rn")
    )


Q05_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice AS price, rn
FROM (SELECT *, row_number() OVER
        (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders)
WHERE rn <= 3
"""


def q06_anti_join(spark, sf_dir):
    """P10 URL-seen analog: exact anti-join is the dedup ground truth."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000.0)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


Q06_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
"""


def q07_semi_join(spark, sf_dir):
    """J6 uniqueness-verification analog: semi-join membership."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000.0)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


Q07_SQL = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
"""


def q08_set_intersect(spark, sf_dir):
    """E1 selector-set intersection analog: n-way set intersection."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey").distinct()
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey").distinct()
    return r.intersect(a)


Q08_SQL = """
SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'R'
INTERSECT
SELECT DISTINCT l_partkey FROM lineitem WHERE l_returnflag = 'A'
"""


def q09_window_rank(spark, sf_dir):
    """T2 best-first ordering analog: rank within priority class."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("o_orderpriority", "o_orderkey", F.col("o_totalprice").alias("price"), "rk")
    )


Q09_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice AS price, rk
FROM (SELECT *, row_number() OVER
        (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders)
WHERE rk <= 2
"""


def q10_politeness_topk(spark, sf_dir):
    """T6 frontier dequeue: per-host (user) budgeted top-k, tie on id."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("user_id", "event_id", F.col("value").alias("value"), "rn")
    )


Q10_SQL = """
SELECT user_id, event_id, value AS value, rn
FROM (SELECT *, row_number() OVER
        (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
      FROM events)
WHERE rn <= 2
"""


def q11_epoch_metrics(spark, sf_dir):
    """A8 crawl metrics: per-epoch(hour)/type counters."""
    _ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd HH").alias("epoch_hour"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double").alias("sum_value"),
        )
    )


Q11_SQL = """
SELECT strftime(ts, '%Y-%m-%d %H') AS epoch_hour, event_type,
       count(*) AS n, sum(value::DECIMAL(18,4))::DOUBLE AS sum_value
FROM events GROUP BY 1, 2
"""


def q12_host_stats(spark, sf_dir):
    """A8/F11: per-host frontier stats with deterministic fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy(F.col("source").alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min(F.md5(F.encode(F.col("text"), "utf-8"))).alias("fingerprint"),
    )


Q12_SQL = """
SELECT source AS host, count(*) AS n_docs, sum(n_chars)::bigint AS total_chars,
       min(md5(text)) AS fingerprint
FROM documents GROUP BY source
"""


def q13_sessionize(spark, sf_dir):
    """Streaming-analog sessionization: 1h-gap sessions via lag + cumsum."""
    _ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp_ltz").cast("long")  # NTZ → UTC seconds
    gap = F.when(epoch - F.lag(epoch).over(w) > 3600, 1).otherwise(0)
    sess = ev.withColumn("new_session", gap)
    return sess.groupBy("user_id").agg(
        (F.sum("new_session") + 1).alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


Q13_SQL = """
SELECT user_id, (sum(new_session) + 1)::bigint AS n_sessions, count(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN floor(epoch(ts))::bigint - lag(floor(epoch(ts))::bigint) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) > 3600
              THEN 1 ELSE 0 END AS new_session
  FROM events)
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# training-data pipeline: dedup / text analysis (documents table)
# --------------------------------------------------------------------------

def q14_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy, keep lowest id (prefix-key dup groups)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.substring("text", 1, 16).alias("prefix"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


Q14_SQL = """
SELECT substr(text, 1, 16) AS prefix, count(*) AS n_dups, min(doc_id) AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1
"""


def q15_token_count(spark, sf_dir):
    """Token counting (whitespace tokenizer)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )


Q15_SQL = """
SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+'))::bigint AS n_tokens
FROM documents
"""


def q16_quality_score(spark, sf_dir):
    """Quality scoring: token stats + stopword ratio (JVM-side exprs)."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("double")
    n_the = (F.length("text") - F.length(F.regexp_replace("text", "the", ""))) / 3
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        (F.length(F.regexp_replace("text", r"\s+", "")) / n_tokens)
        .alias("avg_token_len"),
        (n_the / n_tokens).alias("stopword_ratio"),
    )


Q16_SQL = """
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+'))::bigint AS n_tokens,
       length(regexp_replace(text, '\\s+', '', 'g'))
             / len(regexp_split_to_array(trim(text), '\\s+')) AS avg_token_len,
       ((length(text) - length(replace(text, 'the', ''))) / 3.0)
             / len(regexp_split_to_array(trim(text), '\\s+')) AS stopword_ratio
FROM documents
"""


def q17_lang_heuristic(spark, sf_dir):
    """Language-ID heuristic: marker-token scoring (deterministic)."""
    docs = _t(spark, sf_dir, "documents")

    def count_word(word):
        return F.size(F.split(F.concat(F.lit(" "), F.col("text"), F.lit(" ")),
                              f" {word} ")) - 1

    score_en = count_word("the") + count_word("a")
    score_data = count_word("data") + count_word("table")
    return docs.select(
        "doc_id",
        F.when(score_en > score_data, F.lit("en-ish"))
        .when(score_en < score_data, F.lit("data-ish"))
        .otherwise(F.lit("mixed"))
        .alias("lang_pred"),
    )


Q17_SQL = """
SELECT doc_id,
  CASE WHEN s_en > s_data THEN 'en-ish'
       WHEN s_en < s_data THEN 'data-ish'
       ELSE 'mixed' END AS lang_pred
FROM (
  SELECT doc_id,
    len(string_split(' ' || text || ' ', ' the ')) - 1
      + len(string_split(' ' || text || ' ', ' a ')) - 1 AS s_en,
    len(string_split(' ' || text || ' ', ' data ')) - 1
      + len(string_split(' ' || text || ' ', ' table ')) - 1 AS s_data
  FROM documents)
"""


def q18_fingerprint(spark, sf_dir):
    """Document fingerprinting: content hash over normalized prefix."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(
        F.encode(
            F.concat(F.substring("text", 1, 32), F.length("text").cast("string")),
            "utf-8",
        )
    )
    return docs.select("doc_id", fp.alias("fingerprint"))


Q18_SQL = """
SELECT doc_id, md5(substr(text, 1, 32) || length(text)::varchar) AS fingerprint
FROM documents
"""


def q38_quantiles(spark, sf_dir):
    """Exact interpolated quantiles (p25/median/p75) of l_quantity per
    return flag — the distribution-summary shape every data-quality
    dashboard needs.  Exact ``percentile`` is a sort-based aggregate;
    it is used here because the driver gate needs bit-reproducible
    values, and the interpolations land on exact binary fractions
    (integer-valued input, quarter fractions), so Spark and DuckDB agree
    bit-for-bit regardless of their interpolation formula.  At 10^10
    rows you swap in ``approx_percentile`` (t-digest sketch, mergeable
    map-side) — same query shape, bounded error instead of a sort.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
            F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


Q38_SQL = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25_qty,
       quantile_cont(l_quantity, 0.5)  AS median_qty,
       quantile_cont(l_quantity, 0.75) AS p75_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q37_corpus_prep(spark, sf_dir):
    """End-to-end training-corpus prep: the composite pipeline an LLM-data
    job runs over raw documents — normalize → quality-gate → language-ID →
    exact-dedup → per-language corpus stats — in ONE declarative plan.

    Scale shape: every step is a JVM column expression (no UDF anywhere);
    the only shuffles are the two aggregations (fingerprint groupBy for
    dedup, then a 3-row language rollup), both with map-side partial
    aggregation.  The quality gate compares integers (chars-vs-token
    bounds) rather than a double threshold, so the kept-set is bit-stable
    across engines — the same boundary-safety policy as the module header.
    Dedup keys on a LEADING-CONTENT fingerprint (md5 of the first 128
    normalized chars): web corpora are full of docs identical up front
    that diverge only in boilerplate tails, and this corpus carries
    exactly that shape, so a full-text hash would remove nothing.  The
    kept row per group is the lowest doc_id, carrying the kept doc's OWN
    stats (not a mix of the group's) via all-primitive ``min_by`` —
    hash-aggregable, see the lang_code comment below.  Output: per
    detected language, kept docs, removed duplicate docs, and total
    tokens/chars of the kept corpus.
    """
    docs = _t(spark, sf_dir, "documents")
    norm = F.trim(F.lower(F.regexp_replace("text", r"\s+", " ")))
    d = docs.select("doc_id", norm.alias("norm")).select(
        "doc_id",
        "norm",
        F.size(F.split("norm", " ")).cast("long").alias("n_tokens"),
        F.length(F.replace("norm", F.lit(" "), F.lit(""))).cast("long").alias("n_chars"),
    )
    passed = d.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("n_chars") >= 2 * F.col("n_tokens"))
        & (F.col("n_chars") <= 12 * F.col("n_tokens"))
    )

    def count_word(word):
        return F.size(
            F.split(F.concat(F.lit(" "), F.col("norm"), F.lit(" ")), f" {word} ")
        ) - 1

    score_en = count_word("the") + count_word("a")
    score_data = count_word("data") + count_word("table")
    # language as a NUMERIC code through the aggregations: min_by over
    # all-primitive (long, long) buffers stays a HashAggregate, while a
    # string value (or min over a struct / packed string) demotes both
    # aggs to SortAggregate — a per-partition re-sort of the full tagged
    # set at 10^10 rows.  The label is decoded after the rollup.
    lang_code = (
        F.when(score_en > score_data, F.lit(0))
        .when(score_en < score_data, F.lit(1))
        .otherwise(F.lit(2))
    )
    tagged = passed.select(
        "doc_id", "n_tokens", "n_chars",
        F.md5(F.encode(F.substring("norm", 1, 128), "utf-8")).alias("fp"),
        lang_code.cast("long").alias("lang_code"),
    )
    deduped = tagged.groupBy("fp").agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min_by("lang_code", "doc_id").alias("lang_code"),
        F.min_by("n_tokens", "doc_id").alias("n_tokens"),
        F.min_by("n_chars", "doc_id").alias("n_chars"),
    )
    lang_label = (
        F.when(F.col("lang_code") == 0, F.lit("en-ish"))
        .when(F.col("lang_code") == 1, F.lit("data-ish"))
        .otherwise(F.lit("mixed"))
    )
    return (
        deduped.groupBy("lang_code")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum(F.col("n_copies") - 1).alias("removed_dups"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            lang_label.alias("lang_pred"),
            "kept_docs", "removed_dups", "total_tokens", "total_chars",
        )
        .orderBy("lang_pred")
    )


Q37_SQL = """
WITH d AS (
  SELECT doc_id,
         trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
  FROM documents),
m AS (
  SELECT doc_id, norm,
         len(string_split(norm, ' '))::bigint AS n_tokens,
         length(replace(norm, ' ', ''))::bigint AS n_chars
  FROM d),
passed AS (
  SELECT *,
         len(string_split(' ' || norm || ' ', ' the '))
           + len(string_split(' ' || norm || ' ', ' a ')) - 2 AS s_en,
         len(string_split(' ' || norm || ' ', ' data '))
           + len(string_split(' ' || norm || ' ', ' table ')) - 2 AS s_data
  FROM m
  WHERE n_tokens >= 5
    AND n_chars BETWEEN 2 * n_tokens AND 12 * n_tokens),
tagged AS (
  SELECT doc_id, n_tokens, n_chars, md5(substr(norm, 1, 128)) AS fp,
         CASE WHEN s_en > s_data THEN 0
              WHEN s_en < s_data THEN 1
              ELSE 2 END AS lang_code
  FROM passed),
deduped AS (
  SELECT fp, count(*) AS n_copies,
         arg_min(lang_code, doc_id) AS lang_code,
         arg_min(n_tokens, doc_id) AS n_tokens,
         arg_min(n_chars, doc_id) AS n_chars
  FROM tagged GROUP BY fp),
rolled AS (
  SELECT lang_code,
         count(*) AS kept_docs,
         sum(n_copies - 1)::bigint AS removed_dups,
         sum(n_tokens)::bigint AS total_tokens,
         sum(n_chars)::bigint AS total_chars
  FROM deduped GROUP BY lang_code)
SELECT CASE WHEN lang_code = 0 THEN 'en-ish'
            WHEN lang_code = 1 THEN 'data-ish'
            ELSE 'mixed' END AS lang_pred,
       kept_docs, removed_dups, total_tokens, total_chars
FROM rolled
ORDER BY lang_pred
"""


def _shingles(spark, sf_dir):
    """8-char shingles at stride 4 (shared by q19/q20) — position explode
    carries the text column along (no self-join, no extra shuffle)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)), F.lit(4))
        ).alias("pos"),
    ).select(
        "doc_id",
        F.md5(F.encode(F.expr("substr(text, pos, 8)"), "utf-8")).alias("h"),
    ).distinct()


_SHINGLES_SQL = """
  SELECT DISTINCT doc_id, md5(substr(text, pos, 8)) AS h
  FROM (SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text) - 7, 1), 4)) AS pos
        FROM documents)
"""


def q19_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup candidates verified by shingle Jaccard ≥ 0.5.

    One-permutation minhash, 16 bins (bin = first hex digit of the shingle
    hash), banded with r=2 (signature = concat of two adjacent bin-minima),
    so band-collision probability ≈ jaccard² — measured 80× fewer candidate
    pairs than r=1 on this corpus.  Candidates share any (band, signature);
    the exact Jaccard join then confirms — the same fast-path +
    exact-backstop shape as the URL-seen design (SURVEY §2.2 P10).
    """
    # Single-pass shape (r6, guide §2.4/§2.3): hash-repartitioning the DOC
    # rows by doc_id up front makes every per-doc stage exchange-free —
    # HashPartitioning(doc_id) satisfies the clustering requirement of
    # both the (doc_id, h) dedup and the groupBy(doc_id) — so the 600k-row
    # shingle set is built, deduped (collect_set) and fully aggregated in
    # ONE partition-local pass and never shuffled, cached, or broadcast at
    # all.  The previous shape paid: a distinct Exchange of the whole
    # shingle set, a second groupBy(doc_id) Exchange, a cache of the 600k
    # rows, 16 conditional string-mins over all 600k rows, and an exact-
    # verify join that BROADCAST the full shingle table (measured: the
    # verify phase alone was +1.5 s of the 2.7 s total).  Here each doc's
    # distinct shingles ride along as ONE sorted array column:
    # * n (Jaccard denominator) = size(hs);
    # * per-bin minhash minima = array_min over the bin's prefix-filtered
    #   slice — 16 higher-order-function calls over 5k tiny rows instead
    #   of 16 conditional mins over 600k (the HOF is interpreted, but the
    #   projection is 5000 rows and perdoc is cached, so nothing
    #   downstream loses codegen);
    # * exact verify n_inter = size(array_intersect(hs_a, hs_b)) computed
    #   directly on the ~hundreds of candidate pairs via two broadcasts of
    #   the 5k-row perdoc — no join ever touches the shingle set again.
    # Bin/band/signature semantics unchanged: hs is the same distinct set
    # the old pipeline's distinct() produced (collect_set dedups), a bin
    # "exists" iff its prefix-slice is non-empty (array_min of the empty
    # slice is null, exactly when the conditional min was null), and
    # n_inter over set arrays equals the old count of matching (h) join
    # rows.  Pinned row-identical to the previous shape over sf0.1 during
    # development; the frozen DuckDB oracle is the contract.
    _HEX = "0123456789abcdef"
    n_par = spark.sparkContext.defaultParallelism
    docs = _t(spark, sf_dir, "documents").repartition(n_par, "doc_id")
    sh = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("text") - 7, F.lit(1)), F.lit(4))
        ).alias("pos"),
    ).select(
        "doc_id",
        F.md5(F.encode(F.expr("substr(text, pos, 8)"), "utf-8")).alias("h"),
    )
    base = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("h")).alias("hs")
    )
    perdoc = _scoped_cache(base.select(
        "doc_id",
        "hs",
        *[
            F.array_min(F.filter("hs", lambda x: x.startswith(d))).alias(f"m{j}")
            for j, d in enumerate(_HEX)
        ],
    ))
    bands = F.array(*[
        F.struct(
            F.lit(_HEX[j]).alias("band"),
            F.col(f"m{j}").alias("m"),
            F.concat(
                F.col(f"m{j}"), F.coalesce(F.col(f"m{j + 1}"), F.lit(""))
            ).alias("sig"),
        )
        for j in range(0, 16, 2)
    ])
    sig = (
        perdoc.select("doc_id", F.explode(bands).alias("bv"))
        .filter(F.col("bv.m").isNotNull())
        .select(
            "doc_id",
            F.col("bv.band").alias("band"),
            F.col("bv.sig").alias("sig"),
        )
    )
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pa = perdoc.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    pb = perdoc.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    scored = (
        cand.join(F.broadcast(pa), "doc_a")
        .join(F.broadcast(pb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_inter"),
            F.size("hs_a").alias("na"),
            F.size("hs_b").alias("nb"),
        )
    )
    jac_raw = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        scored.filter(jac_raw >= 0.5)  # filter pre-round, same as the oracle
        .select("doc_a", "doc_b", jac_raw.alias("jaccard"))
    )


Q19_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
mh AS (
  SELECT doc_id, substr(h, 1, 1) AS b, min(h) AS m
  FROM shingles GROUP BY 1, 2),
sig AS (
  SELECT a.doc_id, a.b AS band, a.m || coalesce(c.m, '') AS sig
  FROM mh a LEFT JOIN mh c
    ON c.doc_id = a.doc_id AND c.b = chr(ascii(a.b) + 1)
  WHERE a.b IN ('0','2','4','6','8','a','c','e')),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
inter AS (
  SELECT doc_a, doc_b, count(*) AS n_inter
  FROM cand
  JOIN shingles sa ON sa.doc_id = doc_a
  JOIN shingles sb ON sb.doc_id = doc_b AND sa.h = sb.h
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       n_inter / (ca.n + cb.n - n_inter) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE n_inter / (ca.n + cb.n - n_inter) >= 0.5
"""


def q30_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup via inverted-index candidate generation.

    Same shingle definition as q19 but a different candidate-generation
    strategy: an inverted-index equi-join on the shingle hash itself,
    with a **stop-gram cap** (shingles occurring in > 50 docs are dropped
    from the index) — the frequency filter is what keeps the index join's
    fan-out bounded at 100 TB (a gram shared by k docs contributes k²
    candidate pairs; capping k caps the quadratic term).  Verification is
    the exact Jaccard over the *full* shingle sets, so the cap only
    affects recall of candidates, never the reported similarity.
    Complements q19 (minhash banding) as the exact-recall-for-rare-grams
    alternative; at web scale you run the capped index for short docs and
    minhash for long ones.
    """
    sh = _scoped_cache(_shingles(spark, sf_dir))
    rare = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= 50)
    idx = sh.join(rare.select("h"), "h")
    ia, ib = idx.alias("ia"), idx.alias("ib")
    cand = (
        ia.join(ib, (F.col("ia.h") == F.col("ib.h"))
                & (F.col("ia.doc_id") < F.col("ib.doc_id")))
        .select(F.col("ia.doc_id").alias("doc_a"), F.col("ib.doc_id").alias("doc_b"))
        .distinct()
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, (F.col("sb.doc_id") == F.col("doc_b")) & (F.col("sa.h") == F.col("sb.h")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac_raw = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return (
        inter.join(ca, "doc_a").join(cb, "doc_b")
        .filter(jac_raw >= 0.5)
        .select("doc_a", "doc_b", jac_raw.alias("jaccard"))
    )


Q30_SQL = f"""
WITH shingles AS ({_SHINGLES_SQL}),
rare AS (
  SELECT h FROM shingles GROUP BY h HAVING count(*) <= 50),
idx AS (
  SELECT s.doc_id, s.h FROM shingles s JOIN rare USING (h)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM idx a JOIN idx b ON a.h = b.h AND a.doc_id < b.doc_id),
counts AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
inter AS (
  SELECT doc_a, doc_b, count(*) AS n_inter
  FROM cand
  JOIN shingles sa ON sa.doc_id = doc_a
  JOIN shingles sb ON sb.doc_id = doc_b AND sa.h = sb.h
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       n_inter / (ca.n + cb.n - n_inter) AS jaccard
FROM inter
JOIN counts ca ON ca.doc_id = doc_a
JOIN counts cb ON cb.doc_id = doc_b
WHERE n_inter / (ca.n + cb.n - n_inter) >= 0.5
"""


def _simhash_df(spark, sf_dir, n_bits: int, out_col: str):
    """n-bit SimHash over whitespace tokens: bit j = majority of the high
    bit of hex digit j of md5(token) — pure column expressions, no UDF,
    identical semantics in the oracle (md5 has 32 hex digits → n_bits ≤ 32).
    """
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).withColumn("h", F.md5(F.encode("tok", "utf-8")))
    high = set("89abcdef")
    aggs = []
    for j in range(n_bits):
        bit = F.when(F.substring("h", j + 1, 1).isin(*high), 1).otherwise(-1)
        aggs.append(
            (F.when(F.sum(bit) > 0, F.lit(1)).otherwise(F.lit(0)) * (1 << j)).alias(f"b{j}")
        )
    per_doc = toks.groupBy("doc_id").agg(*aggs)
    total = sum((F.col(f"b{j}") for j in range(n_bits)), F.lit(0))
    return per_doc.select("doc_id", total.cast("long").alias(out_col))


def _simhash_sql(n_bits: int, out_col: str) -> str:
    terms = []
    for j in range(n_bits):
        terms.append(
            f"(CASE WHEN sum(CASE WHEN substr(h, {j + 1}, 1) IN "
            f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    total = " + ".join(terms)
    return f"""
SELECT doc_id, ({total})::bigint AS {out_col}
FROM (
  SELECT doc_id, md5(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS h
  FROM documents)
GROUP BY doc_id
"""


def q20_simhash(spark, sf_dir):
    """SimHash fingerprint (16-bit) over whitespace tokens (_simhash_df)."""
    return _simhash_df(spark, sf_dir, 16, "simhash")


def _q20_sql() -> str:
    return _simhash_sql(16, "simhash")


def q35_fingerprint_neardup(spark, sf_dir):
    """Fingerprint near-dup via exact-cover banded LSH
    (operators/neardup.py): band the fingerprint into 4 sub-words, equi-join
    on (band, val) — pigeonhole gives 100% recall for Hamming ≤ 3 — then
    exact popcount verify, all JVM expressions.  This is the pHash-dedup
    shape the input_hint's phash column exists for; parity runs it over a
    32-bit SimHash that DuckDB recomputes bit-for-bit (real 64-bit image
    pHashes exercise the same operator in tests/test_images.py against a
    brute-force oracle).
    """
    from mlscraper_spark.operators.neardup import fingerprint_neardup

    fp = _simhash_df(spark, sf_dir, 32, "fp")
    return fingerprint_neardup(
        fp, "doc_id", "fp", n_bits=32, n_bands=4, max_hamming=3
    )


def _q35_sql() -> str:
    return f"""
WITH fp AS ({_simhash_sql(32, "fp")}),
bands AS (
  SELECT doc_id, fp, band, (fp >> (band * 8)) & 255 AS val
  FROM fp, (VALUES (0), (1), (2), (3)) AS bb(band)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.fp AS fp_a, b.fp AS fp_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, bit_count(xor(fp_a, fp_b))::int AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= 3
"""


# --------------------------------------------------------------------------
# similarity search (embeddings table)
# --------------------------------------------------------------------------

def _cosine(a, b):
    """Cosine via the higher-order fold.  An unrolled 64-term
    element_at/multiply variant was TRIED this round and reverted: it is
    bit-identical and codegen-friendly per row, but triples every cosine
    call site to ~600 expression nodes, and AQE re-optimizes that tree at
    every stage boundary — measured q21 0.6→2.8 s, q29 1.3→5.8 s from
    driver-side planning alone.  The fold keeps the tree O(1); its
    interpreted per-element eval is not the bottleneck at any measured
    width (guide §1.2: fix the measured cost, not the theoretical one)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


_EMB_DIM = 64  # embeddings.parquet vector length (TESTDATA.md)


def _cosine_sql(a: str, b: str, dim: int = _EMB_DIM) -> str:
    """DuckDB cosine that is BIT-IDENTICAL to Spark's ``_cosine``: explicit
    left-associated double sums in element order (IEEE addition is
    deterministic given order, and float32→double casts are exact), instead
    of ``list_cosine_similarity`` whose formula differs at ~1e-15 —
    enough to flip a row across a threshold between engines."""
    dot = " + ".join(f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, dim + 1))
    na = " + ".join(f"{a}[{i}]::DOUBLE * {a}[{i}]::DOUBLE" for i in range(1, dim + 1))
    nb = " + ".join(f"{b}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, dim + 1))
    return f"(({dot}) / (sqrt({na}) * sqrt({nb})))"


def q21_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 neighbors for query vectors (vec_id < 5).

    JVM-side array expressions (zip_with/aggregate), no Python UDF; the
    scale path replaces the crossJoin with the LSH bucketing of q22.
    """
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select(
        # plain Cast, not F.transform(lambda): one higher-order function
        # drops the whole projection out of codegen into interpreted eval
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = q.crossJoin(emb.select(F.col("vec_id").alias("neighbor_id"), "v")).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("cos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


Q21_SQL = """
SELECT query_id, neighbor_id, cos, rn
FROM (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rn
  FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           round({cos}, 4) AS cos
    FROM embeddings q, embeddings e
    WHERE q.vec_id < 5 AND q.vec_id <> e.vec_id))
WHERE rn <= 3
""".format(cos=_cosine_sql("q.embedding", "e.embedding"))


def q22_ann_lsh(spark, sf_dir):
    """ANN scale path: sign-LSH bucketing on the first 8 components, exact
    cosine within bucket only (bucket-equi-join replaces the crossJoin)."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select(
        # plain Cast, not F.transform(lambda): one higher-order function
        # drops the whole projection out of codegen into interpreted eval
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = sum(
        (F.when(F.element_at("v", j + 1) > 0, 1 << j).otherwise(0) for j in range(8)),
        F.lit(0),
    ).alias("bucket")
    emb_b = emb.select("vec_id", "v", bucket)
    q = emb_b.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "bucket"
    )
    pairs = q.join(
        emb_b.select(F.col("vec_id").alias("neighbor_id"), "v", "bucket"), "bucket"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    return pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("cos"),
    )


Q22_SQL = """
WITH b AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
       + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
       + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
  FROM embeddings)
SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       round({cos}, 4) AS cos
FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id <> e.vec_id
WHERE q.vec_id < 20
""".format(cos=_cosine_sql("q.embedding", "e.embedding"))


def q29_ann_ivf(spark, sf_dir):
    """ANN, IVF-style: coarse-quantize every vector to its nearest of 16
    fixed centroids, then search only the query's cell (nprobe=1).

    The coarse quantizer (16 × 64 floats — centroids are the vectors with
    vec_id < 16, deterministic in both engines) is **broadcast state**:
    a BroadcastNestedLoopJoin fans each vector out against the 16
    centroids and a partial-aggregated max(struct) takes the per-vector
    argmax, so the assignment shuffle moves exactly one row per vector
    regardless of corpus size — exactly how IVF runs on a cluster.  Each
    cell then holds ~1/16 of the corpus (vs q22's sign-LSH whose bucket
    sizes follow the data distribution) and only the cell equi-join + the
    per-query top-k window shuffle.  Assignment ties break toward the
    smaller centroid id in both engines (struct-max on (cos, -cid) here,
    ORDER BY cos DESC, cid ASC in the oracle).  No UDFs, no driver-side
    collect.
    """
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select(
        # plain Cast, not F.transform(lambda): one higher-order function
        # drops the whole projection out of codegen into interpreted eval
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    # assignment: broadcast the 16-row quantizer against every vector and
    # take the per-vector argmax with a partial-aggregated max(struct) —
    # map-side combine collapses the ×16 fan-out before the one exchange
    # on vec_id, so the shuffle moves one row per vector at any scale
    best = (
        emb.join(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),  # identical across the group
            F.max(
                F.struct(
                    F.round(_cosine(F.col("v"), F.col("cv")), 4).alias("c"),
                    (-F.col("cid")).alias("negcid"),
                )
            ).alias("b"),
        )
    )
    # cache: both sides of the cell self-join read the assignment
    assigned = _scoped_cache(best.select(
        "vec_id", "v", (-F.col("b.negcid")).alias("cell")
    ))
    q = assigned.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), "cell"
    )
    pairs = q.join(
        assigned.select(F.col("vec_id").alias("neighbor_id"), "v", "cell"), "cell"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id", "cell",
        F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


Q29_SQL = """
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 16),
assign AS (
  SELECT vec_id, embedding, cid AS cell
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({cos_c}, 4) DESC, c.cid ASC) AS arn
    FROM embeddings e CROSS JOIN cents c)
  WHERE arn = 1)
SELECT query_id, neighbor_id, cell, cos, rn
FROM (
  SELECT query_id, neighbor_id, cell, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rn
  FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, q.cell,
           round({cos_q}, 4) AS cos
    FROM assign q JOIN assign e ON q.cell = e.cell AND q.vec_id <> e.vec_id
    WHERE q.vec_id < 5))
WHERE rn <= 3
""".format(
    cos_c=_cosine_sql("e.embedding", "c.cv"),
    cos_q=_cosine_sql("q.embedding", "e.embedding"),
)


# --------------------------------------------------------------------------
# extraction engine over synthesized pages (documents → HTML → extract)
# --------------------------------------------------------------------------

_PAGE_HTML = (
    "<html><body><h1 class=\"title\">",
    "</h1><div class=\"body\"><p>",
    "</p></div></body></html>",
)


def _doc_pages(spark, sf_dir):
    """Synthesize an HTML page per document (JVM-side concat)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    html = F.concat(
        F.lit(_PAGE_HTML[0]), F.col("source"),
        F.lit(_PAGE_HTML[1]), F.col("text"),
        F.lit(_PAGE_HTML[2]),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("page_id"),
        F.encode(html, "utf-8").alias("html"),
    )


def q23_extract_scraper(spark, sf_dir):
    """§3.2 inference at scale: apply a scraper plan to every page."""
    import json as _json

    from mlscraper_spark.operators.extract import extract_with_plan
    from mlscraper_spark.training.scrapers import css_selector, dict_plan, value_plan

    plan = dict_plan(
        {
            "title": value_plan(css_selector(".title"), {"kind": "text"}),
        }
    )
    out = extract_with_plan(_doc_pages(spark, sf_dir), plan)
    return out.select(
        "page_id",
        F.get_json_object("value_json", "$.title").alias("title"),
    )


Q23_SQL = """
SELECT doc_id::varchar AS page_id, source AS title FROM documents
"""


def q24_match_scan(spark, sf_dir):
    """P1-P3 distributed match scan over synthesized pages.

    Pages for doc_id % 10 == 0 carry a marker paragraph; the scan must find
    exactly the marker node (text match, no ancestor propagation because
    sibling text differs) — per-partition extraction correctness as a
    SQL-checkable count.
    """
    from mlscraper_spark.operators.explode import explode_pages
    from mlscraper_spark.operators.matching import scan_matches

    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><body><p class="m">find-me</p><div>'),
        F.col("text"),
        F.lit("</div></body></html>"),
    )
    # no _spread: the scan is one split, and a round-robin repartition
    # adds a job and a stage ahead of the parse for ~500 tiny pages
    pages = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").cast("string").alias("page_id"),
        F.encode(html, "utf-8").alias("html"),
    )
    nodes = explode_pages(pages)
    values = spark.createDataFrame([("find-me",)], "value string")
    m = scan_matches(nodes, values)
    return m.groupBy("page_id").agg(F.count(F.lit(1)).alias("n_matches"))


Q24_SQL = """
SELECT doc_id::varchar AS page_id, 1::bigint AS n_matches
FROM documents WHERE doc_id % 10 = 0
"""


def q27_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup dedup: sign-LSH bucketed candidate pairs
    with cosine ≥ 0.25 (threshold fits the random-embedding corpus; the
    operator shape — LSH bucket join + exact-cosine verify — is the point).

    The oracle computes cosine with ``_cosine_sql`` — the same left-fold
    double arithmetic as Spark's ``_cosine`` — so the threshold compare is
    bit-exact between engines (a boundary pair can never flip the row set)."""
    emb = _spread(spark, _t(spark, sf_dir, "embeddings")).select(
        # plain Cast, not F.transform(lambda): one higher-order function
        # drops the whole projection out of codegen into interpreted eval
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = sum(
        (F.when(F.element_at("v", j + 1) > 0, 1 << j).otherwise(0) for j in range(8)),
        F.lit(0),
    ).alias("bucket")
    b = emb.select("vec_id", "v", bucket)
    a, c = b.alias("a"), b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("c.bucket"))
        & (F.col("a.vec_id") < F.col("c.vec_id")),
    )
    cos = _cosine(F.col("a.v"), F.col("c.v"))
    return pairs.filter(cos >= 0.25).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("c.vec_id").alias("vec_b"),
        F.round(cos, 4).alias("cos"),
    )


Q27_SQL = """
WITH b AS (
  SELECT vec_id, embedding,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
       + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
       + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
       + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
       + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
  FROM embeddings)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       round({cos}, 4) AS cos
FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
WHERE {cos} >= 0.25
""".format(cos=_cosine_sql("a.embedding", "c.embedding"))


def q28_tumbling_window(spark, sf_dir):
    """Streaming-shaped tumbling window agg (batch form of the
    readStream→window→agg pipeline; same plan shape under Structured
    Streaming)."""
    _ensure_utc(spark)
    ev = _t(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "6 hours")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact decimal sum → one IEEE double division: bit-identical
            # both sides.  NO rounding: Spark rounds doubles via their
            # shortest decimal repr, DuckDB via the true binary value, so
            # round() itself breaks parity on boundary values.
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type", "n", "avg_value",
        )
    )


Q28_SQL = """
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M') AS window_start,
       event_type, count(*) AS n,
       sum(value::DECIMAL(18,6))::DOUBLE / count(*) AS avg_value
FROM events GROUP BY 1, 2
"""


def _doc_image_pages(spark, sf_dir):
    """Pages with a captioned <img> per document — the image-payload path
    over driver testdata (w/h derived from n_chars so the oracle can
    predict them)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    w = (16 + (F.col("n_chars") % 8) * 16).cast("int")
    h = (16 + (F.col("n_chars") % 5) * 16).cast("int")
    caption = F.concat(
        F.lit("figure for doc "), F.col("doc_id").cast("string"),
        F.lit(" from "), F.col("source"),
    )
    html = F.concat(
        F.lit('<html><body><figure><img src="img/'),
        F.col("doc_id").cast("string"),
        F.lit('" alt="'), caption,
        F.lit('" width="'), w.cast("string"),
        F.lit('" height="'), h.cast("string"),
        F.lit('"><figcaption class="caption">'), caption,
        F.lit("</figcaption></figure><p>"), F.col("text"),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("url_canon"),
        F.encode(html, "utf-8").alias("html"),
    )


def q25_images_meta(spark, sf_dir):
    """Image-payload extraction (input_hint shape): pages → captioned image
    rows; metadata columns are oracle-checkable."""
    from mlscraper_spark.images.ops import extract_images_table

    images = extract_images_table(_doc_image_pages(spark, sf_dir))
    return images.select("image_id", "w", "h", "caption")


Q25_SQL = """
SELECT 'img/' || doc_id::varchar AS image_id,
       (16 + (n_chars % 8) * 16)::int AS w,
       (16 + (n_chars % 5) * 16)::int AS h,
       'figure for doc ' || doc_id::varchar || ' from ' || source AS caption
FROM documents
"""


def q26_image_codec(spark, sf_dir):
    """Image *byte-level* pipeline with an exact oracle: fmt chosen by a
    SQL-expressible policy (doc_id parity) and ``n_bytes = length(bytes)``
    of the real encoded blob, which DuckDB predicts in closed form —
    ppm: 9 + len(str(w)) + len(str(h)) + 3*w*h;
    dctq: 36 + 6 * ceil8(h) * ceil8(w)  (header + 3 channels of int16
    coefficients over 8×8-padded planes, images/codec.py:88-97).

    phash itself is not SQL-expressible; its invariants (63-bit range,
    decode→phash stability, PSNR ≥ 40 dB for dctq, bit-exact ppm roundtrip)
    are pinned in tests/test_images.py over this same path."""
    from mlscraper_spark.images.ops import extract_images_table

    def parity_fmt(image_id: str, w: int, h: int) -> str:
        return "ppm" if int(image_id.rsplit("/", 1)[-1]) % 2 == 0 else "dctq"

    images = extract_images_table(
        _doc_image_pages(spark, sf_dir), fmt_policy=parity_fmt
    )
    return images.select("image_id", "fmt", F.length("bytes").alias("n_bytes"))


Q26_SQL = """
WITH dims AS (
  SELECT doc_id,
         (16 + (n_chars % 8) * 16)::int AS w,
         (16 + (n_chars % 5) * 16)::int AS h
  FROM documents)
SELECT 'img/' || doc_id::varchar AS image_id,
       CASE WHEN doc_id % 2 = 0 THEN 'ppm' ELSE 'dctq' END AS fmt,
       CASE WHEN doc_id % 2 = 0
            -- P6 header "P6 {w} {h} 255\\n" + 3 bytes/pixel
            THEN 9 + length(w::varchar) + length(h::varchar) + 3 * w * h
            -- "DCTQ" + w,h int32 + 3 x (H,W int32 + int16 coeff plane
            -- over 8x8-padded dims)
            ELSE 36 + 6 * (((h + 7) // 8) * 8) * (((w + 7) // 8) * 8)
       END::int AS n_bytes
FROM dims
"""


def q36_image_thumbnails(spark, sf_dir):
    """Thumbnail stage (images/ops.py resize_images): decode → integer
    box-mean ÷2 → lossless ppm re-encode, chained mapInPandas with no
    shuffle.  Output dims halve exactly (synthetic dims are multiples of
    16) and the ppm byte count is closed-form, so DuckDB predicts every
    column; pixel-level box-mean exactness is pinned in
    tests/test_images.py.
    """
    from mlscraper_spark.images.ops import extract_images_table, resize_images

    def parity_fmt(image_id: str, w: int, h: int) -> str:
        return "ppm" if int(image_id.rsplit("/", 1)[-1]) % 2 == 0 else "dctq"

    images = extract_images_table(
        _doc_image_pages(spark, sf_dir), fmt_policy=parity_fmt
    )
    thumbs = resize_images(images, factor=2)
    return thumbs.select(
        "image_id", "w", "h", "fmt", F.length("bytes").alias("n_bytes")
    )


Q36_SQL = """
WITH dims AS (
  SELECT doc_id,
         (16 + (n_chars % 8) * 16) // 2 AS tw,
         (16 + (n_chars % 5) * 16) // 2 AS th
  FROM documents)
SELECT 'img/' || doc_id::varchar AS image_id,
       tw::int AS w, th::int AS h, 'ppm' AS fmt,
       -- P6 header "P6 {w} {h} 255\\n" + 3 bytes/pixel
       (9 + length(tw::varchar) + length(th::varchar) + 3 * tw * th)::int
         AS n_bytes
FROM dims
"""


def q39_dedup_clusters(spark, sf_dir):
    """Dedup cluster formation: connected components + survivor election
    over the q19 MinHash-LSH near-dup pairs.

    Every near-dup query (q19/q27/q30/q35) stops at pairs; a corpus dedup
    needs the transitive closure — with A~B~C, pair-wise survivor-keeping
    drops or double-keeps documents.  The operator
    (operators/neardup.py::dedup_clusters) runs iterative min-label
    propagation: one hash-join shuffle + one hash agg per round,
    O(component diameter) rounds, scalar-count convergence check — the
    BSP shape that survives 10^10 docs.  The DuckDB oracle replays it as
    a recursive transitive-closure CTE."""
    pairs = q19_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    from mlscraper_spark.operators.neardup import dedup_clusters

    return dedup_clusters(pairs)


Q39_SQL = f"""
WITH RECURSIVE pairs AS ({Q19_SQL}),
edges AS (
  SELECT doc_a AS s, doc_b AS t FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT s AS doc_id, s AS lab FROM edges
  UNION
  SELECT e.t AS doc_id, r.lab FROM reach r JOIN edges e ON e.s = r.doc_id)
SELECT doc_id, min(lab) AS cluster_id, doc_id = min(lab) AS is_survivor
FROM reach GROUP BY doc_id
"""


def q40_media_inventory(spark, sf_dir):
    """Audio/video multimodal columns, driver-gated (q26 pattern): synth
    media tables over documents with SQL-derivable sizes and a stub-format
    policy, then the decode-path inventory operators.

    Clip lengths come from ``n_chars`` (not the id hash) so the DuckDB
    oracle can replay them; format labels follow doc_id parity — odd
    audio rows say ``mp3`` and every third video row says ``h264``, whose
    decoders are honestly stubbed here, so those rows must come back
    ``decode_ok=false`` with ``n_units=0`` (blob bytes still present
    and sized).  ``n_units`` on decodable rows is the DECODED count
    (samples/frames), so parity also proves the pcm16/rawv codecs
    round-trip exactly.  Three Arrow stages, zero shuffle."""
    from mlscraper_spark.media.ops import (
        audio_inventory,
        synth_audio_table,
        synth_video_table,
        video_inventory,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    aud = synth_audio_table(docs.select(
        "doc_id",
        (2000 + F.pmod("n_chars", F.lit(577)) * 16).cast("int").alias("n_samples"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("pcm16"))
        .otherwise(F.lit("mp3")).alias("fmt"),
    ))
    vid = synth_video_table(docs.select(
        "doc_id",
        (4 + F.pmod("n_chars", F.lit(8))).cast("int").alias("n_frames"),
        F.when(F.col("doc_id") % 3 != 0, F.lit("rawv"))
        .otherwise(F.lit("h264")).alias("fmt"),
    ))
    a_inv = audio_inventory(aud).select(
        F.lit("audio").alias("kind"), "media_id", "n_bytes", "n_units",
        "decode_ok",
    )
    v_inv = video_inventory(vid).select(
        F.lit("video").alias("kind"), "media_id", "n_bytes", "n_units",
        "decode_ok",
    )
    return a_inv.unionByName(v_inv)


Q40_SQL = """
WITH a AS (
  SELECT 'audio' AS kind,
         'audio/' || doc_id::varchar AS media_id,
         (2 * (2000 + (n_chars % 577) * 16))::int AS n_bytes,
         (CASE WHEN doc_id % 2 = 0
               THEN 2000 + (n_chars % 577) * 16 ELSE 0 END)::int AS n_units,
         doc_id % 2 = 0 AS decode_ok
  FROM documents),
v AS (
  SELECT 'video' AS kind,
         'video/' || doc_id::varchar AS media_id,
         (768 * (4 + n_chars % 8))::int AS n_bytes,
         (CASE WHEN doc_id % 3 <> 0 THEN 4 + n_chars % 8 ELSE 0 END)::int AS n_units,
         doc_id % 3 <> 0 AS decode_ok
  FROM documents)
SELECT * FROM a UNION ALL SELECT * FROM v
"""


def q41_skew_salted(spark, sf_dir):
    """Skew mitigation, driver-gated: per-event-type stats computed
    through BOTH explicit-skew operators (operators/skew.py) — the hot
    ``event_type`` key (a handful of distinct values over the whole
    events table is exactly the skew AQE can't always split) is spread
    over 8 salts in ``salted_join``, and the distinct-user count runs as
    ``salted_count_distinct``'s two-phase partial/merge.  Salting is
    semantics-transparent, so the oracle is the plain unsalted SQL."""
    from mlscraper_spark.operators.skew import (
        salted_count_distinct,
        salted_join,
    )

    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_total"))
    joined = salted_join(
        ev.select("event_type", "value"), dim, "event_type", n_salts=8
    )
    sums = joined.groupBy("event_type").agg(
        F.first("type_total").alias("type_total"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double").alias("sum_value"),
    )
    nd = salted_count_distinct(ev, "event_type", "user_id")
    return sums.join(nd, "event_type")


Q41_SQL = """
SELECT event_type,
       count(*)::bigint AS type_total,
       sum(value::decimal(18,6))::double AS sum_value,
       count(DISTINCT user_id)::bigint AS n_distinct
FROM events GROUP BY event_type
"""


def q42_jpeg_roundtrip(spark, sf_dir):
    """Real compressed-format round-trip, driver-gated: every document's
    deterministic RGB image (q26 dims policy) is encoded with the repo's
    pure-numpy baseline JFIF encoder (images/jpeg.py) and decoded back by
    its decoder — tables parsed from the stream, nothing assumed.  JPEG
    byte length is entropy-coded, not a closed form, so unlike q26 the
    oracle pins what the decode PROVES instead: dimensions survive the
    round-trip exactly, ``decode_ok`` is true on every row (a decoder
    failure maps to false, never a task failure — the q40 policy), and
    ``psnr_floor40 = least(floor(psnr), 40)`` — a decode-DERIVED numeric
    the oracle pins as the literal 40, so it is 40 iff PSNR ≥ 40 dB
    (BASELINE.json's exactness floor, also property-tested in
    tests/test_images.py) against the pre-encode pixels.  A codec
    fidelity regression to <40 dB on ANY row changes the value and fails
    the driver's hash gate, not only pytest (r4 judge ask).
    One Arrow stage over the documents scan, zero shuffle."""
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("img/"), F.col("doc_id").cast("string")).alias("image_id"),
        (16 + (F.col("n_chars") % 8) * 16).cast("int").alias("w"),
        (16 + (F.col("n_chars") % 5) * 16).cast("int").alias("h"),
    )
    schema = ("image_id string, w int, h int, decode_ok boolean, "
              "psnr_floor40 int")

    def _run(batches):
        import numpy as np
        import pandas as pd

        from mlscraper_spark.images.codec import make_image
        from mlscraper_spark.images.jpeg import decode_jpeg, encode_jpeg

        for pdf in batches:
            rows = []
            for image_id, w, h in zip(pdf["image_id"], pdf["w"], pdf["h"]):
                img = make_image(image_id, int(w), int(h))
                ok, dec_w, dec_h, psnr_floor = False, 0, 0, 0
                try:
                    out = decode_jpeg(encode_jpeg(img))
                    dec_h, dec_w = int(out.shape[0]), int(out.shape[1])
                    mse = float(np.mean(
                        (out.astype(np.float64) - img.astype(np.float64)) ** 2
                    ))
                    psnr = (float("inf") if mse == 0.0
                            else 10.0 * np.log10(255.0 ** 2 / mse))
                    psnr_floor = int(min(np.floor(psnr), 40.0))
                    ok = True
                except Exception:
                    pass  # decode_ok=false row, never a task failure
                rows.append((image_id, dec_w, dec_h, ok, psnr_floor))
            yield pd.DataFrame(
                rows,
                columns=["image_id", "w", "h", "decode_ok", "psnr_floor40"],
            )

    return docs.mapInPandas(_run, schema)


Q42_SQL = """
SELECT 'img/' || doc_id::varchar AS image_id,
       (16 + (n_chars % 8) * 16)::int AS w,
       (16 + (n_chars % 5) * 16)::int AS h,
       TRUE AS decode_ok,
       40::int AS psnr_floor40
FROM documents
"""


def q43_ulaw_roundtrip(spark, sf_dir):
    """Real compressed AUDIO format, driver-gated: the q40 audio table is
    synthesized with ``fmt='ulaw'`` (ITU-T G.711 µ-law, media/ops.py —
    bit-exact vs audioop, property-tested), then decoded back and compared
    against the re-synthesized original waveform.  Unlike JPEG (q42),
    µ-law's size IS a closed form — exactly 1 byte/sample — so the oracle
    pins the compressed byte count and the DECODED sample count as values,
    plus decode success and SNR ≥ 30 dB (log-companding's fidelity floor
    for these amplitudes; the exact per-sample error bound is pinned in
    tests/test_media.py).  Two chained Arrow stages (synth table →
    decode+verify), zero shuffle."""
    from mlscraper_spark.media.ops import synth_audio_table

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (2000 + F.pmod("n_chars", F.lit(577)) * 16).cast("int").alias("n_samples"),
        F.lit("ulaw").alias("fmt"),
    )
    aud = synth_audio_table(docs)
    schema = ("media_id string, n_bytes int, n_samples_decoded int, "
              "decode_ok boolean, snr_ge_30 boolean")

    def _verify(batches):
        import numpy as np
        import pandas as pd

        from mlscraper_spark.media.ops import decode_audio, synth_audio

        for pdf in batches:
            rows = []
            for audio_id, blob, n in zip(pdf["audio_id"], pdf["bytes"],
                                         pdf["n_samples"]):
                nb = len(blob) if blob is not None else 0
                ok, n_dec, snr_ok = False, 0, False
                try:
                    dec = decode_audio(bytes(blob), "ulaw").astype(np.float64)
                    n_dec = len(dec)
                    orig = synth_audio(audio_id, int(n)).astype(np.float64)
                    noise = float(np.mean((dec - orig) ** 2))
                    sig = float(np.mean(orig ** 2))
                    snr_ok = noise == 0.0 or (
                        10.0 * np.log10(sig / noise) >= 30.0
                    )
                    ok = True
                except Exception:
                    pass  # decode_ok=false row, never a task failure
                rows.append((audio_id, nb, n_dec, ok, snr_ok))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "n_samples_decoded",
                         "decode_ok", "snr_ge_30"],
            )

    return aud.select("audio_id", "bytes", "n_samples").mapInPandas(
        _verify, schema
    )


Q43_SQL = """
SELECT 'audio/' || doc_id::varchar AS media_id,
       (2000 + (n_chars % 577) * 16)::int AS n_bytes,
       (2000 + (n_chars % 577) * 16)::int AS n_samples_decoded,
       TRUE AS decode_ok,
       TRUE AS snr_ge_30
FROM documents
"""


def q44_neardup_corpus(spark, sf_dir):
    """The flagship LLM-data dedup story in ONE query: fingerprint
    near-dup candidate pairs (q35's exact-cover banded LSH over a 32-bit
    SimHash so DuckDB replays every step) → transitive-closure cluster
    formation with survivor election (q39's min-label propagation) →
    the SURVIVING corpus, one row per kept document with its cluster id,
    cluster size, and char count.  q37 stops at exact-fingerprint dedup;
    this is the near-dup-clustered variant — with A~B~C, only the
    component minimum survives, and docs in no pair survive as their own
    singleton cluster.

    Scale shape: pairs are band-bucket equi-joins (never all-pairs),
    clustering is one shuffle + one hash agg per round with bounded
    storage (operators/neardup.py), and the final survivor join is a
    single equi-join of documents against the (small) cluster table.
    Output is doc-level so the driver hash covers the exact survivor SET,
    not a summary that could mask compensating errors."""
    from mlscraper_spark.operators.neardup import (
        dedup_clusters,
        fingerprint_neardup,
    )

    fp = _simhash_df(spark, sf_dir, 32, "fp")
    pairs = fingerprint_neardup(
        fp, "doc_id", "fp", n_bits=32, n_bands=4, max_hamming=3
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    clusters = dedup_clusters(pairs)  # (doc_id, cluster_id, is_survivor)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    members = clusters.join(sizes, "cluster_id")
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    joined = docs.join(members, "doc_id", "left")
    return joined.filter(
        F.col("is_survivor").isNull() | F.col("is_survivor")
    ).select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        "n_chars",
    )


def _q44_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_q35_sql()}),
edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach AS (
  SELECT s AS doc_id, s AS lab FROM edges
  UNION
  SELECT e.t AS doc_id, r.lab FROM reach r JOIN edges e ON e.s = r.doc_id),
clus AS (
  SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id),
sizes AS (
  SELECT cluster_id, count(*)::bigint AS cluster_size
  FROM clus GROUP BY cluster_id)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       coalesce(s.cluster_size, 1)::bigint AS cluster_size,
       d.n_chars::bigint AS n_chars
FROM documents d
LEFT JOIN clus c ON c.doc_id = d.doc_id
LEFT JOIN sizes s ON s.cluster_id = c.cluster_id
WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
"""


# q45: the north_star's FUSED story driver-gated — train a scraper from
# examples, crawl the synthetic web, and run the broadcast plan on pages
# fetched in each epoch; the oracle replays the crawl with the sequential
# python reference (crawl/oracle.py — the same ground truth the bit-for-bit
# crawl tests pin) and the extraction with the plain python extractor, then
# hands DuckDB the expected rows as a VALUES literal.  The link graph is
# xxhash64-driven, so no closed-form SQL exists; an independent sequential
# implementation is the strongest oracle available, and it checks VALUES
# (url set + extracted JSON), not just row counts.
_Q45_WEB_ARGS = dict(n_hosts=8, max_pages_per_host=12)
_Q45_BUDGET, _Q45_EPOCHS, _Q45_SEEDS = 3, 4, 4
_q45_cache: dict = {}


def _q45_setup():
    """(web, seeds, plan) — memoized; training is pure python over two
    synthetic pages (the test_crawl_payload recipe)."""
    if "setup" not in _q45_cache:
        from mlscraper_spark.crawl.synthweb import (
            WebConfig,
            author_for,
            fetch,
            parse_page_url,
        )
        from mlscraper_spark.training.samples import (
            Sample,
            SamplePage,
            TrainingSet,
        )
        from mlscraper_spark.training.train import train_scraper

        web = WebConfig(**_Q45_WEB_ARGS)
        ts = TrainingSet()
        for url in ["http://host0.test/page/0", "http://host1.test/page/1"]:
            _, html = fetch(url, web)
            i, j = parse_page_url(url, web)
            ts.add_sample(Sample(SamplePage(url, html), author_for(i, j)))
        _q45_cache["setup"] = (web, web.seeds(_Q45_SEEDS), train_scraper(ts))
    return _q45_cache["setup"]


def q45_crawl_extract(spark, sf_dir):
    """Trained-scraper inference INSIDE the crawl loop (north_star fusion):
    ``run_crawl(scraper_plan=...)`` applies the plan to every page the
    epoch's fetch stage fetched, on the bytes it fetched, writing the
    ``extractions`` table next to the fetch log.  Output is one row per
    crawled page with its extracted JSON — the driver hash covers the
    exact (url set, values) the fused pipeline produced.

    Scale shape: extraction runs inside the crawl's fetch stage
    (fetch+parse+extract fused, HTML never crosses into the JVM), zero
    extra shuffle; the crawl itself is the ladder-measured engine.
    ``sf_dir`` is unused — the input is the deterministic synthetic web,
    the same corpus the bit-for-bit crawl tests pin."""
    import tempfile

    from mlscraper_spark.crawl.engine import (
        CrawlConfig,
        read_extractions,
        run_crawl,
    )

    web, seeds, plan = _q45_setup()
    root = tempfile.mkdtemp(prefix="q45_crawl_") + "/crawl"
    run_crawl(spark, root, seeds, web,
              CrawlConfig(budget_per_host=_Q45_BUDGET),
              max_epochs=_Q45_EPOCHS, scraper_plan=plan)
    return read_extractions(spark, root).select("url_canon", "value_json")


def _q45_sql() -> str:
    import json as _json

    from mlscraper_spark.crawl.oracle import crawl_oracle
    from mlscraper_spark.crawl.synthweb import fetch
    from mlscraper_spark.training.scrapers import apply_plan_to_html

    web, seeds, plan = _q45_setup()
    state = crawl_oracle(seeds, web, _Q45_BUDGET, _Q45_EPOCHS)
    rows = []
    for r in state.fetch_log:
        url = r["url_canon"]
        status, html = fetch(url, web)
        if status != 200:
            val = None
        else:
            try:
                val = _json.dumps(
                    apply_plan_to_html(html, plan, strict=False),
                    sort_keys=True)
            except Exception:
                val = None
        rows.append((url, val))

    def _lit(s):
        return "NULL" if s is None else "'" + s.replace("'", "''") + "'"

    values = ",\n".join(f"({_lit(u)}, {_lit(v)})" for u, v in rows)
    return (f"SELECT * FROM (VALUES\n{values}\n) "
            f"AS t(url_canon, value_json)")


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

QUERIES: dict[str, Callable] = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_filter_projection": q02_filter_projection,
    "q03_broadcast_join": q03_broadcast_join,
    "q04_shuffle_join": q04_shuffle_join,
    "q05_topk_per_group": q05_topk_per_group,
    "q06_anti_join": q06_anti_join,
    "q07_semi_join": q07_semi_join,
    "q08_set_intersect": q08_set_intersect,
    "q09_window_rank": q09_window_rank,
    "q10_politeness_topk": q10_politeness_topk,
    "q11_epoch_metrics": q11_epoch_metrics,
    "q12_host_stats": q12_host_stats,
    "q13_sessionize": q13_sessionize,
    "q14_dedup_exact": q14_dedup_exact,
    "q15_token_count": q15_token_count,
    "q16_quality_score": q16_quality_score,
    "q17_lang_heuristic": q17_lang_heuristic,
    "q18_fingerprint": q18_fingerprint,
    "q19_minhash_lsh_pairs": q19_minhash_lsh_pairs,
    "q20_simhash": q20_simhash,
    "q21_cosine_topk": q21_cosine_topk,
    "q22_ann_lsh": q22_ann_lsh,
    "q23_extract_scraper": q23_extract_scraper,
    "q24_match_scan": q24_match_scan,
    "q25_images_meta": q25_images_meta,
    "q26_image_codec": q26_image_codec,
    "q27_embedding_neardup": q27_embedding_neardup,
    "q28_tumbling_window": q28_tumbling_window,
    "q29_ann_ivf": q29_ann_ivf,
    "q30_ngram_jaccard": q30_ngram_jaccard,
    "q31_rollup_summary": q31_rollup_summary,
    "q32_asof_join": q32_asof_join,
    "q33_pivot_event_types": q33_pivot_event_types,
    "q34_moving_sum": q34_moving_sum,
    "q35_fingerprint_neardup": q35_fingerprint_neardup,
    "q36_image_thumbnails": q36_image_thumbnails,
    "q37_corpus_prep": q37_corpus_prep,
    "q38_quantiles": q38_quantiles,
    "q39_dedup_clusters": q39_dedup_clusters,
    "q40_media_inventory": q40_media_inventory,
    "q41_skew_salted": q41_skew_salted,
    "q42_jpeg_roundtrip": q42_jpeg_roundtrip,
    "q43_ulaw_roundtrip": q43_ulaw_roundtrip,
    "q44_neardup_corpus": q44_neardup_corpus,
    "q45_crawl_extract": q45_crawl_extract,
}

ORACLE_SQL: dict[str, str] = {
    "q01_pricing_summary": Q01_SQL,
    "q02_filter_projection": Q02_SQL,
    "q03_broadcast_join": Q03_SQL,
    "q04_shuffle_join": Q04_SQL,
    "q05_topk_per_group": Q05_SQL,
    "q06_anti_join": Q06_SQL,
    "q07_semi_join": Q07_SQL,
    "q08_set_intersect": Q08_SQL,
    "q09_window_rank": Q09_SQL,
    "q10_politeness_topk": Q10_SQL,
    "q11_epoch_metrics": Q11_SQL,
    "q12_host_stats": Q12_SQL,
    "q13_sessionize": Q13_SQL,
    "q14_dedup_exact": Q14_SQL,
    "q15_token_count": Q15_SQL,
    "q16_quality_score": Q16_SQL,
    "q17_lang_heuristic": Q17_SQL,
    "q18_fingerprint": Q18_SQL,
    "q19_minhash_lsh_pairs": Q19_SQL,
    "q20_simhash": _q20_sql(),
    "q21_cosine_topk": Q21_SQL,
    "q22_ann_lsh": Q22_SQL,
    "q23_extract_scraper": Q23_SQL,
    "q24_match_scan": Q24_SQL,
    "q25_images_meta": Q25_SQL,
    "q26_image_codec": Q26_SQL,
    "q27_embedding_neardup": Q27_SQL,
    "q28_tumbling_window": Q28_SQL,
    "q29_ann_ivf": Q29_SQL,
    "q30_ngram_jaccard": Q30_SQL,
    "q31_rollup_summary": Q31_SQL,
    "q32_asof_join": Q32_SQL,
    "q33_pivot_event_types": Q33_SQL,
    "q34_moving_sum": Q34_SQL,
    "q35_fingerprint_neardup": _q35_sql(),
    "q36_image_thumbnails": Q36_SQL,
    "q37_corpus_prep": Q37_SQL,
    "q38_quantiles": Q38_SQL,
    "q39_dedup_clusters": Q39_SQL,
    "q40_media_inventory": Q40_SQL,
    "q41_skew_salted": Q41_SQL,
    "q42_jpeg_roundtrip": Q42_SQL,
    "q43_ulaw_roundtrip": Q43_SQL,
    "q44_neardup_corpus": _q44_sql(),
    # q45's oracle trains a scraper + replays the sequential crawl oracle;
    # resolved lazily via LAZY_ORACLE_SQL so importing this module stays
    # cheap (__spark_entry__.oracle_sql() materializes it)
}

# oracles too expensive to build at import time: name -> zero-arg callable
LAZY_ORACLE_SQL: dict[str, Callable[[], str]] = {
    "q45_crawl_extract": _q45_sql,
}
