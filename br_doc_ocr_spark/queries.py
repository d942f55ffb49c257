"""Operator-parity query catalog: every SURVEY.md §2 operator family expressed
as (a) an idiomatic Spark DataFrame query over the driver's testdata tables and
(b) an equivalent ANSI-SQL oracle string for DuckDB.

Conventions (the driver hash-compares sorted-by-name columns at sf=0.01):
- every computed column is aliased identically in Spark and SQL;
- every floating aggregate is ``round(x, N)`` on both sides;
- timestamps in outputs are formatted to strings;
- deterministic tie-breaks everywhere a limit/rank appears.

Every entry has an oracle, the hash- and Python-based ones included:
MinHash and SimHash through the bit-exact SQL rendering of Spark's xxhash64
(``duckdb_xxh64``), the rolling fingerprint through its SQL fold, and the
extraction family through committed per-SF golden-kernel fixtures.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as sf

from br_doc_ocr_spark.ops import dedup, similarity, textstats


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``t()`` plus a benchmark-context repartition. The testdata files are
    single parquet row groups — unsplittable, so a CPU-heavy per-row
    projection (regex chains, stopword scans, rolling hashes) would run on
    ONE core no matter the cluster width. At real scale the scan arrives
    multi-split and this exchange is unnecessary; results are unaffected
    (used only under aggregations / row-wise maps)."""
    return t(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism)


_SQL_TOKENS = ("string_split(regexp_replace(lower(text), "
               "'[^\\p{L}\\p{N}]+', ' ', 'g'), ' ')")


def _unix_micros_utc(c):
    """unix_micros over a possibly-NTZ column (parquet reads ts as
    TIMESTAMP_NTZ; unix_micros needs TIMESTAMP). Callers only ever use
    DIFFERENCES of this value, where the session-tz shift cancels exactly
    under the engine's fixed UTC session timezone — do NOT use it for
    absolute instants, and do NOT reuse it for gap semantics in operators
    (ops/temporal.sessionize compares intervals instead, review r05)."""
    return sf.unix_micros(c.cast("timestamp"))


def _sql_stopword_hits(words) -> str:
    """DuckDB rendering of textstats.stopword_hits: ONE multi-way-IN
    token-equality filter for the Latin words over the collapsed-separator
    tokenization, substring counts for CJK/kana/hangul entries — kept in
    lockstep with the Spark implementation (generated from the same
    LANG_STOPWORDS table)."""
    terms = []
    latin = tuple(w for w in words if not textstats._is_cjk(w))
    if latin:
        in_list = ", ".join(f"'{w}'" for w in latin)
        terms.append(f"len(list_filter({_SQL_TOKENS}, x -> x IN ({in_list})))")
    for w in words:
        if textstats._is_cjk(w):
            terms.append(f"((length(lower(text)) - "
                         f"length(replace(lower(text), '{w}', ''))) / {len(w)})")
    return f"greatest(({' + '.join(terms)})::INT, 0)"


@dataclass
class QueryDef:
    """One catalog entry: Spark implementation + DuckDB oracle SQL."""
    fn: Callable[[SparkSession, str], DataFrame]
    sql: str
    doc: str


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, sql: str, doc: str):
    def wrap(fn):
        REGISTRY[name] = QueryDef(fn=fn, sql=sql, doc=doc)
        return fn
    return wrap


# ===========================================================================
# Scans / projections / filters (SURVEY §2.1-2.2)
# ===========================================================================

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(avg(l_quantity), 6)                                   AS avg_qty,
           round(avg(l_discount), 6)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "A1/A2 hash aggregate with filter pushdown (TPC-H Q1 shape)")
def q_pricing_summary(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        sf.col("l_shipdate") <= sf.lit("1998-09-01 00:00:00").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sf.round(sf.sum("l_quantity"), 2).alias("sum_qty"),
        sf.round(sf.sum("l_extendedprice"), 2).alias("sum_base_price"),
        sf.round(sf.sum(sf.col("l_extendedprice") * (1 - sf.col("l_discount"))), 2
                 ).alias("sum_disc_price"),
        sf.round(sf.avg("l_quantity"), 6).alias("avg_qty"),
        sf.round(sf.avg("l_discount"), 6).alias("avg_disc"),
        sf.count("*").alias("count_order"),
    )


@register(
    "filter_isin",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AND c_acctbal > 0
    """,
    "P4 membership predicate + projection (dataset_adapter.py:126-140)")
def q_filter_isin(spark, sf_dir):
    return (t(spark, sf_dir, "customer")
            .filter(sf.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
                    & (sf.col("c_acctbal") > 0))
            .select("c_custkey", "c_name", "c_mktsegment"))


@register(
    "projection_pushdown",
    "SELECT l_orderkey, l_quantity FROM lineitem WHERE l_quantity >= 45",
    "P1/P2 column pruning + predicate pushdown to the parquet scan")
def q_projection_pushdown(spark, sf_dir):
    return (t(spark, sf_dir, "lineitem")
            .filter(sf.col("l_quantity") >= 45)
            .select("l_orderkey", "l_quantity"))


@register(
    "status_routing",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'failed'
                WHEN value < 5 THEN 'partial' ELSE 'success' END AS status,
           count(*) AS n
    FROM events GROUP BY 1
    """,
    "P8/F23/A6 status derivation + routing counts (cli/batch.py:169-213)")
def q_status_routing(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    status = (sf.when(sf.col("event_type") == "error", "failed")
                .when(sf.col("value") < 5, "partial")
                .otherwise("success"))
    return ev.groupBy(status.alias("status")).agg(sf.count("*").alias("n"))


# ===========================================================================
# Joins (SURVEY §2.3)
# ===========================================================================

@register(
    "join_broadcast_agg",
    """
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    "J1 equi join (small dim broadcast) + hash agg (evaluation.py:59-78)")
def q_join_broadcast_agg(spark, sf_dir):
    orders = t(spark, sf_dir, "orders")
    customer = t(spark, sf_dir, "customer")
    return (orders.join(sf.broadcast(customer),
                        orders.o_custkey == customer.c_custkey)
            .groupBy(sf.col("c_mktsegment").alias("segment"))
            .agg(sf.count("*").alias("n_orders"),
                 sf.round(sf.sum("o_totalprice"), 2).alias("revenue")))


@register(
    "join_multiway",
    """
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY 1
    """,
    "multiway join with Catalyst join reordering + broadcast dims (TPC-H Q5 shape)")
def q_join_multiway(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(sf.col("r_name").isin("ASIA", "EUROPE"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(sf.broadcast(c), o.o_custkey == c.c_custkey)
            .join(sf.broadcast(n), c.c_nationkey == n.n_nationkey)
            .join(sf.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy(sf.col("n_name").alias("nation"))
            .agg(sf.round(sf.sum(sf.col("l_extendedprice") * (1 - sf.col("l_discount"))),
                          2).alias("revenue")))


@register(
    "join_semi_anti",
    """
    SELECT 'semi' AS op, cast(c_nationkey AS VARCHAR) AS key, count(*) AS n
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY 2
    UNION ALL
    SELECT 'anti' AS op, c_mktsegment AS key, count(*) AS n
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 150000)
    GROUP BY 2
    """,
    "left-semi join (schema↔data alignment shape, J3) + left-anti join "
    "(resume semantics: pending = input ANTI JOIN manifest) — tagged union "
    "of the r02 join_semi + join_anti entries (driver 50-entry window)")
def q_join_semi_anti(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    semi = (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .groupBy(sf.col("c_nationkey").cast("string").alias("key"))
            .agg(sf.count("*").alias("n"))
            .select(sf.lit("semi").alias("op"), "key", "n"))
    o_big = o.filter(sf.col("o_totalprice") > 150000)
    anti = (c.join(o_big, c.c_custkey == o_big.o_custkey, "left_anti")
            .groupBy(sf.col("c_mktsegment").alias("key"))
            .agg(sf.count("*").alias("n"))
            .select(sf.lit("anti").alias("op"), "key", "n"))
    return semi.unionByName(anti)


@register(
    "join_full_outer_alignment",
    """
    WITH cc AS (SELECT c_nationkey AS k, count(*) AS n_customers FROM customer GROUP BY 1),
         ss AS (SELECT s_nationkey AS k, count(*) AS n_suppliers FROM supplier GROUP BY 1)
    SELECT coalesce(cc.k, ss.k) AS nationkey,
           coalesce(n_customers, 0) AS n_customers,
           coalesce(n_suppliers, 0) AS n_suppliers
    FROM cc FULL OUTER JOIN ss ON cc.k = ss.k
    """,
    "J2 full-outer field alignment (evaluation.py:174-191 key-union compare)")
def q_join_full_outer(spark, sf_dir):
    cc = (t(spark, sf_dir, "customer").groupBy(sf.col("c_nationkey").alias("k"))
          .agg(sf.count("*").alias("n_customers")))
    ss = (t(spark, sf_dir, "supplier").groupBy(sf.col("s_nationkey").alias("k"))
          .agg(sf.count("*").alias("n_suppliers")))
    return (cc.join(ss, "k", "full_outer")
            .select(sf.col("k").alias("nationkey"),
                    sf.coalesce("n_customers", sf.lit(0)).alias("n_customers"),
                    sf.coalesce("n_suppliers", sf.lit(0)).alias("n_suppliers")))


# ===========================================================================
# Windows / sorts / top-k (SURVEY §2.5-2.6)
# ===========================================================================

@register(
    "window_topk_running",
    """
    SELECT o_custkey, o_orderkey, rank, running_total FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW), 2)
               AS running_total
      FROM orders) WHERE rank <= 2
    """,
    "O4 per-group top-k via row_number (stable-ordering window, §2.5) + "
    "running aggregate over an ordered frame, two differently-ordered "
    "windows over the same partition key — merged r02 window_topk_per_group "
    "+ window_running_sum entries (driver 50-entry window)")
def q_window_topk_running(spark, sf_dir):
    w_rank = Window.partitionBy("o_custkey").orderBy(sf.desc("o_totalprice"),
                                                     sf.asc("o_orderkey"))
    w_run = (Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (t(spark, sf_dir, "orders")
            .select("o_custkey", "o_orderkey",
                    sf.row_number().over(w_rank).alias("rank"),
                    sf.round(sf.sum("o_totalprice").over(w_run), 2)
                    .alias("running_total"))
            .filter(sf.col("rank") <= 2))


@register(
    "window_lag_gap",
    """
    SELECT user_id, round(avg(gap_s), 4) AS avg_gap_s, count(*) AS n_gaps FROM (
      SELECT user_id,
             date_diff('second',
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                       ts)::DOUBLE AS gap_s
      FROM events)
    WHERE gap_s IS NOT NULL GROUP BY user_id
    """,
    "lag window: inter-event gap per user (sessionization primitive)")
def q_window_lag_gap(spark, sf_dir):
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = t(spark, sf_dir, "events").withColumn(
        "gap_s",
        (sf.unix_timestamp("ts") - sf.unix_timestamp(sf.lag("ts").over(w)))
        .cast("double"))
    return (ev.filter(sf.col("gap_s").isNotNull())
            .groupBy("user_id")
            .agg(sf.round(sf.avg("gap_s"), 4).alias("avg_gap_s"),
                 sf.count("*").alias("n_gaps")))


@register(
    "sort_report",
    """
    SELECT event_type, round(avg(value), 6) AS avg_value, count(*) AS n,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type ORDER BY avg_value DESC, event_type
    """,
    "O1 accuracy-report sort (evaluation.py:278-282) + exact linear-"
    "interpolated percentiles per group (Spark percentile ≡ DuckDB "
    "quantile_cont; the approx path for 100 TB is percentile_approx, "
    "sanity-gated like the HLL sketch) — merged r02 sort_report + "
    "agg_percentiles entries (driver 50-entry window), same grouping")
def q_sort_report(spark, sf_dir):
    return (t(spark, sf_dir, "events").groupBy("event_type")
            .agg(sf.round(sf.avg("value"), 6).alias("avg_value"),
                 sf.count("*").alias("n"),
                 *[sf.round(sf.percentile("value", sf.lit(p)), 6)
                   .alias(f"p{int(p * 100)}")
                   for p in (0.5, 0.9, 0.99)])
            .orderBy(sf.desc("avg_value"), sf.asc("event_type")))


@register(
    "agg_rollup_time",
    """
    SELECT 'lineitem_rollup' AS src,
           coalesce(l_returnflag, 'ALL') AS k1,
           coalesce(l_linestatus, 'ALL') AS k2,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS total
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'events_time_rollup' AS src,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS k1,
           CASE WHEN GROUPING(hr) = 0
                THEN strftime(hr, '%Y-%m-%d %H:%M:%S') END AS k2,
           count(*) AS n, round(sum(value), 2) AS total
    FROM (SELECT ts, date_trunc('hour', ts) AS hr, value FROM events)
    GROUP BY GROUPING SETS ((k1, hr), (k1))
    """,
    "hierarchical subtotal rollup — beyond-reference (SURVEY §2.4 notes the "
    "reference has no grouping sets), one pass Expand + partial agg — AND "
    "hypertable-style continuous-aggregate time rollup (hourly + daily "
    "totals in ONE pass via grouping sets): tagged union of the r02 "
    "agg_rollup + time_rollup_hypertable entries (driver 50-entry window)")
def q_agg_rollup_time(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    roll = (li.rollup("l_returnflag", "l_linestatus")
            .agg(sf.count("*").alias("n"),
                 sf.round(sf.sum("l_extendedprice"), 2).alias("total"))
            .select(sf.lit("lineitem_rollup").alias("src"),
                    sf.coalesce("l_returnflag", sf.lit("ALL")).alias("k1"),
                    sf.coalesce("l_linestatus", sf.lit("ALL")).alias("k2"),
                    "n", "total"))
    ev = t(spark, sf_dir, "events").select(
        sf.date_format(sf.date_trunc("day", "ts"), "yyyy-MM-dd").alias("k1"),
        sf.date_trunc("hour", "ts").alias("hr"),
        "value")
    rolled = (ev.groupingSets([["k1", "hr"], ["k1"]], "k1", "hr")
              .agg(sf.count("*").alias("n"),
                   sf.round(sf.sum("value"), 2).alias("total"),
                   sf.grouping("hr").alias("_g_hr")))
    time_roll = rolled.select(
        sf.lit("events_time_rollup").alias("src"),
        "k1",
        sf.when(sf.col("_g_hr") == 0,
                sf.date_format("hr", "yyyy-MM-dd HH:mm:ss")).alias("k2"),
        "n", "total")
    return roll.unionByName(time_roll)


@register(
    "agg_approx_distinct",
    """
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS exact_customers,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    "distinct-count per group; Spark side also computes the HLL sketch "
    "(approx_count_distinct) and raises if it misses its documented error "
    "bound — an explicit failure, not a silently dropped result row "
    "(ADVICE r01); the sketch column is excluded from the hashed output")
def q_agg_approx_distinct(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    agg = (o.groupBy("o_orderpriority")
           .agg(sf.countDistinct("o_custkey").alias("exact_customers"),
                sf.approx_count_distinct("o_custkey", 0.02).alias("_approx"),
                sf.count("*").alias("n_orders"))
           .withColumn(
               "_sketch_ok",
               sf.abs(sf.col("_approx") - sf.col("exact_customers"))
               <= sf.col("exact_customers") * 0.1 + 10))
    # raise_error surfaces a sketch-accuracy miss as a loud query failure
    # instead of an opaque oracle row-count mismatch
    checked = agg.withColumn(
        "exact_customers",
        sf.when(sf.col("_sketch_ok"), sf.col("exact_customers"))
        .otherwise(sf.raise_error(sf.concat(
            sf.lit("approx_count_distinct out of bound for group "),
            sf.col("o_orderpriority")))))
    return checked.select("o_orderpriority", "exact_customers", "n_orders")


# ===========================================================================
# Set operations (SURVEY §2.7)
# ===========================================================================

@register(
    "set_ops",
    """
    SELECT 'intersect' AS op, k FROM (
      SELECT c_nationkey AS k FROM customer
      INTERSECT
      SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, k FROM (
      SELECT p_size AS k FROM part
      EXCEPT
      SELECT l_linenumber FROM lineitem)
    """,
    "U1-U3 set operations, tagged union of the r02 set_intersect + "
    "set_except entries (merged so the whole catalog fits the driver's "
    "50-entry CORRECTNESS window): key-set intersection (evaluation.py:221) "
    "and set difference")
def q_set_ops(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(sf.col("c_nationkey").alias("k"))
    s = t(spark, sf_dir, "supplier").select(sf.col("s_nationkey").alias("k"))
    inter = c.intersect(s).select(sf.lit("intersect").alias("op"), "k")
    p = t(spark, sf_dir, "part").select(sf.col("p_size").alias("k"))
    li = t(spark, sf_dir, "lineitem").select(sf.col("l_linenumber").alias("k"))
    exc = p.subtract(li).select(sf.lit("except").alias("op"), "k")
    return inter.unionByName(exc)


@register(
    "explode_digit_counts",
    """
    SELECT 'token' AS op, token AS key, n FROM (
      SELECT token, count(*) AS n FROM (
        SELECT unnest(string_split(p_name, ' ')) AS token FROM part)
      GROUP BY token HAVING count(*) >= 5)
    UNION ALL
    SELECT 'digits' AS op, cast(n_digits AS VARCHAR) AS key, count(*) AS n
    FROM (
      SELECT length(regexp_replace(s, '[^0-9]', '', 'g')) AS n_digits
      FROM (SELECT p_name || ' ' || cast(p_partkey AS VARCHAR) || ' x' ||
                   cast(p_size AS VARCHAR) AS s FROM part))
    GROUP BY n_digits
    UNION ALL
    SELECT 'uf' AS op, uf || ':' || cast(is_valid_state AS VARCHAR) AS key,
           count(*) AS n
    FROM (
      SELECT regexp_extract(orgao, '[A-Z]{2}$', 0) AS uf,
             CASE WHEN regexp_extract(orgao, '[A-Z]{2}$', 0) IN
               ('AC','AL','AP','AM','BA','CE','DF','ES','GO','MA','MT','MS',
                'MG','PA','PB','PR','PE','PI','RJ','RN','RS','RO','RR','SC',
                'SP','SE','TO') THEN 1 ELSE 0 END AS is_valid_state
      FROM (SELECT 'SSP-' || substr(n_name, 8, 2) ||
                   CASE WHEN n_nationkey % 3 = 0 THEN 'SP'
                        WHEN n_nationkey % 3 = 1 THEN 'RJ' ELSE 'XX' END
                     AS orgao
            FROM nation))
    GROUP BY uf, is_valid_state
    """,
    "M7 flatMap/explode 1→N + agg (multi-document explode shape) AND "
    "F12/F13 digit-count validation core (validate_cnpj / validate_nfe_key) "
    "AND F10/U4 extract_state_from_orgao (trailing-UF regex + 27-state "
    "membership, extraction.py:404-434) — tagged union of the r02 "
    "explode_tokens + fn_digit_validation entries plus the r03 "
    "fn_state_extraction entry (merged to free a driver 50-row slot for "
    "the round-4 redaction/curation entries, VERDICT r03 #1)")
def q_explode_digit_counts(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    toks = (p.select(sf.explode(sf.split("p_name", " ")).alias("token"))
            .groupBy("token").agg(sf.count("*").alias("n"))
            .filter(sf.col("n") >= 5)
            .select(sf.lit("token").alias("op"),
                    sf.col("token").alias("key"), "n"))
    s = sf.concat_ws(" ", sf.col("p_name"), sf.col("p_partkey").cast("string"),
                     sf.concat(sf.lit("x"), sf.col("p_size").cast("string")))
    digits = (p.select(sf.length(sf.regexp_replace(s, "[^0-9]", ""))
                       .alias("n_digits"))
              .groupBy("n_digits").agg(sf.count("*").alias("n"))
              .select(sf.lit("digits").alias("op"),
                      sf.col("n_digits").cast("string").alias("key"), "n"))
    n = t(spark, sf_dir, "nation")
    orgao = sf.concat(
        sf.lit("SSP-"), sf.substring("n_name", 8, 2),
        sf.when(sf.col("n_nationkey") % 3 == 0, "SP")
          .when(sf.col("n_nationkey") % 3 == 1, "RJ").otherwise("XX"))
    uf = sf.regexp_extract(orgao, "[A-Z]{2}$", 0)
    from br_doc_ocr_spark.core.fields import BRAZIL_STATES
    valid = sf.when(uf.isin(*sorted(BRAZIL_STATES)), 1).otherwise(0)
    ufs = (n.select(uf.alias("uf"), valid.alias("is_valid_state"))
           .groupBy("uf", "is_valid_state").agg(sf.count("*").alias("n"))
           .select(sf.lit("uf").alias("op"),
                   sf.concat_ws(":", "uf",
                                sf.col("is_valid_state").cast("string"))
                   .alias("key"), "n"))
    return toks.unionByName(digits).unionByName(ufs)


# ===========================================================================
# Scalar function parity (SURVEY §2.8) — SQL-expressible subset
# ===========================================================================

@register(
    "fn_cnpj_date_normalize",
    """
    SELECT o_orderkey, cnpj,
           CASE WHEN regexp_matches(cnpj,
                  '^[0-9]{2}\\.[0-9]{3}\\.[0-9]{3}/[0-9]{4}-[0-9]{2}$')
                THEN 1 ELSE 0 END AS is_valid,
           br_date,
           substr(br_date,7,4) || '-' || substr(br_date,4,2) || '-' ||
           substr(br_date,1,2) AS iso_date
    FROM (
      SELECT o_orderkey,
             substr(d,1,2) || '.' || substr(d,3,3) || '.' || substr(d,6,3) ||
             '/' || substr(d,9,4) || '-' || substr(d,13,2) AS cnpj,
             br_date
      FROM (SELECT o_orderkey,
                   lpad(cast(o_orderkey * 104729 % 100000000000000 AS VARCHAR),
                        14, '0') AS d,
                   strftime(o_orderdate, '%d/%m/%Y') AS br_date
            FROM orders))
    """,
    "F4 normalize_cnpj (extraction.py:517-539) + F2 normalize_date "
    "DD/MM/YYYY → ISO (test_postprocessing.py:181-203), both as pure string "
    "ops over the same rows — merged r02 fn_cnpj_normalize + "
    "fn_date_normalize entries (driver 50-entry window)")
def q_fn_cnpj_date_normalize(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    d = sf.lpad((sf.col("o_orderkey") * 104729 % 100000000000000).cast("string"),
                14, "0")
    cnpj = sf.concat_ws("", sf.substring(d, 1, 2), sf.lit("."),
                        sf.substring(d, 3, 3), sf.lit("."),
                        sf.substring(d, 6, 3), sf.lit("/"),
                        sf.substring(d, 9, 4), sf.lit("-"),
                        sf.substring(d, 13, 2))
    br = sf.date_format("o_orderdate", "dd/MM/yyyy")
    return o.select(
        "o_orderkey", cnpj.alias("cnpj"),
        sf.when(cnpj.rlike(r"^[0-9]{2}\.[0-9]{3}\.[0-9]{3}/[0-9]{4}-[0-9]{2}$"), 1)
          .otherwise(0).alias("is_valid"),
        br.alias("br_date"),
        sf.concat_ws("-", sf.substring(br, 7, 4), sf.substring(br, 4, 2),
                     sf.substring(br, 1, 2)).alias("iso_date"))


@register(
    "fn_currency_parse",
    """
    SELECT l_returnflag, round(sum(parsed), 2) AS total_parsed, count(*) AS n
    FROM (
      SELECT l_returnflag,
             cast(replace(replace(regexp_replace(br, 'R\\$\\s*', ''),
                                  '.', ''), ',', '.') AS DOUBLE) AS parsed
      FROM (SELECT l_returnflag,
                   'R$ ' || replace(printf('%.2f', l_extendedprice), '.', ',')
                     AS br
            FROM lineitem))
    GROUP BY l_returnflag
    """,
    "F6 parse_currency Brazilian-format chain (extraction.py:542-585)")
def q_fn_currency_parse(spark, sf_dir):
    li = t_wide(spark, sf_dir, "lineitem")
    # literal '.'/','-swaps use the non-regex replace (JVM StringReplace,
    # ~3x regexp_replace); only the R$-prefix strip needs a real regex —
    # mirrors the oracle SQL's replace/regexp_replace split exactly
    br = sf.concat(sf.lit("R$ "),
                   sf.replace(sf.format_string("%.2f", "l_extendedprice"),
                              sf.lit("."), sf.lit(",")))
    parsed = sf.replace(
        sf.replace(sf.regexp_replace(br, r"R\$\s*", ""), sf.lit("."), sf.lit("")),
        sf.lit(","), sf.lit(".")).cast("double")
    return (li.select("l_returnflag", parsed.alias("parsed"))
            .groupBy("l_returnflag")
            .agg(sf.round(sf.sum("parsed"), 2).alias("total_parsed"),
                 sf.count("*").alias("n")))


@register(
    "fn_invoice_totals",
    """
    -- ::BIGINT: DuckDB sum() yields HUGEINT which pandas renders as float,
    -- breaking the driver's value hash against Spark's BIGINT (VERDICT r01 #1)
    SELECT l_returnflag,
           sum(CASE WHEN abs(total - (produtos + impostos)) <= 0.01
                    THEN 1 ELSE 0 END)::BIGINT AS n_valid,
           sum(CASE WHEN abs(total - (produtos + impostos)) > 0.01
                    THEN 1 ELSE 0 END)::BIGINT AS n_invalid
    FROM (
      SELECT l_returnflag,
             l_extendedprice AS produtos,
             round(l_extendedprice * l_tax, 2) AS impostos,
             -- diff is exactly 0.00 or 0.05 (mod 1e-13 FP noise): far from
             -- the 0.01 tolerance boundary, so both engines agree
             l_extendedprice + round(l_extendedprice * l_tax, 2)
               + (CASE WHEN l_discount > 0.05 THEN 0.05 ELSE 0.0 END) AS total
      FROM lineitem)
    GROUP BY l_returnflag
    """,
    "F14 validate_invoice_totals tolerance check (extraction.py:640-674)")
def q_fn_invoice_totals(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    produtos = sf.col("l_extendedprice")
    impostos = sf.round(sf.col("l_extendedprice") * sf.col("l_tax"), 2)
    total = (produtos + impostos
             + sf.when(sf.col("l_discount") > 0.05, 0.05).otherwise(0.0))
    valid = sf.abs(total - (produtos + impostos)) <= 0.01
    return (li.select("l_returnflag", valid.alias("valid"))
            .groupBy("l_returnflag")
            .agg(sf.sum(sf.when(sf.col("valid"), 1).otherwise(0)).alias("n_valid"),
                 sf.sum(sf.when(~sf.col("valid"), 1).otherwise(0)).alias("n_invalid")))


@register(
    "fn_json_extract",
    """
    SELECT event_type,
           round(avg(cast(json_extract_string(props, '$.k')
                          AS DOUBLE)), 6) AS avg_k,
           round(avg(coalesce(CASE WHEN value >= 100 THEN value END, 0.85)), 6)
             AS avg_conf
    FROM events GROUP BY event_type
    """,
    "F16 JSON payload parsing (parse_vlm_output analog) + F22 confidence "
    "placeholder: absent scores default 0.85 (extraction.py:185-192) — "
    "merged r02 fn_json_extract + fn_confidence_placeholder entries "
    "(driver 50-entry window); same grouping, one aggregate pass")
def q_fn_json_extract(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    score = sf.when(sf.col("value") >= 100, sf.col("value"))
    return (ev.select("event_type",
                      sf.get_json_object("props", "$.k").cast("double").alias("k"),
                      sf.coalesce(score, sf.lit(0.85)).alias("conf"))
            .groupBy("event_type")
            .agg(sf.round(sf.avg("k"), 6).alias("avg_k"),
                 sf.round(sf.avg("conf"), 6).alias("avg_conf")))


@register(
    "deterministic_split",
    """
    SELECT CASE WHEN o_orderkey % 10 < 8 THEN 'train'
                WHEN o_orderkey % 10 = 8 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
    "M12 deterministic 80/10/10 split (hash-residue variant — exact-membership "
    "parity unlike Bernoulli randomSplit, SURVEY §7.4 risk #4)")
def q_deterministic_split(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    split = (sf.when(sf.col("o_orderkey") % 10 < 8, "train")
               .when(sf.col("o_orderkey") % 10 == 8, "val").otherwise("test"))
    return (o.groupBy(split.alias("split"))
            .agg(sf.count("*").alias("n"),
                 sf.round(sf.sum("o_totalprice"), 2).alias("total")))


@register(
    "event_time_window",
    """
    SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
    """,
    "§2.10 event-time tumbling window aggregate (batch rendering of the "
    "Structured Streaming windowed agg)")
def q_event_time_window(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return (ev.groupBy(sf.window("ts", "1 hour").alias("w"), "event_type")
            .agg(sf.count("*").alias("n"),
                 sf.round(sf.sum("value"), 2).alias("total_value"))
            .select(sf.date_format("w.start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    "event_type", "n", "total_value"))


@register(
    "projection_null_init",
    """
    SELECT doc_id,
           CAST(NULL AS VARCHAR) AS nome_completo,
           CAST(NULL AS VARCHAR) AS cpf,
           CAST(NULL AS DOUBLE) AS valor_total
    FROM documents WHERE doc_id < 100
    """,
    "P3 null-init projection: all schema fields as typed nulls "
    "(create_empty_result, schemas/__init__.py:246-273)")
def q_projection_null_init(spark, sf_dir):
    d = t(spark, sf_dir, "documents").filter(sf.col("doc_id") < 100)
    return d.select(
        "doc_id",
        sf.lit(None).cast("string").alias("nome_completo"),
        sf.lit(None).cast("string").alias("cpf"),
        sf.lit(None).cast("double").alias("valor_total"))


# (fn_state_extraction merged into explode_digit_counts as op='uf' — r04)


@register(
    "eval_prf_flags",
    """
    WITH prf AS (
      SELECT user_id,
             round(len(list_intersect(pred, actual))::DOUBLE
                   / greatest(len(pred), 1), 6) AS precision,
             round(len(list_intersect(pred, actual))::DOUBLE
                   / greatest(len(actual), 1), 6) AS recall
      FROM (
        -- coalesce to []: a user with ZERO qualifying rows gets NULL from
        -- list(...) FILTER while Spark's collect_set gives [] (precision 0.0,
        -- not NULL) — latent divergence until such a user exists in the data
        SELECT user_id,
               coalesce(list_sort(list(DISTINCT CASE WHEN value >= 50
                                       THEN event_type END
                              ) FILTER (value >= 50)), []) AS pred,
               coalesce(list_sort(list(DISTINCT CASE WHEN event_id % 2 = 0
                                       THEN event_type
                              END) FILTER (event_id % 2 = 0)), []) AS actual
        FROM events GROUP BY user_id)),
    -- string-joined (not ARRAY) so the driver's pandas canonicalization can
    -- sort/hash the column (VERDICT r01 #2: list columns are unhashable there)
    flags AS (
      SELECT user_id,
             list_aggr(list_sort(list(DISTINCT event_type)), 'string_agg', ',')
               AS low_types FROM (
        SELECT user_id, event_type, avg(value) AS avg_v
        FROM events GROUP BY user_id, event_type HAVING avg(value) < 50)
      GROUP BY user_id)
    SELECT prf.user_id, precision, recall,
           coalesce(low_types, '') AS low_types
    FROM prf LEFT JOIN flags ON prf.user_id = flags.user_id
    """,
    "A4 precision/recall over field-name sets (evaluation.py:202-236, "
    "TP = |pred ∩ actual| with per-side denominators) + P7/F17 "
    "flag_low_confidence (keys whose score < threshold → sorted joined "
    "list) — merged r02 eval_set_prf + low_confidence_flags entries "
    "(driver 50-entry window), left-joined per user")
def q_eval_prf_flags(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        sf.array_sort(sf.collect_set(
            sf.when(sf.col("value") >= 50, sf.col("event_type")))).alias("pred"),
        sf.array_sort(sf.collect_set(
            sf.when(sf.col("event_id") % 2 == 0, sf.col("event_type")))).alias("actual"),
    )
    inter = sf.size(sf.array_intersect("pred", "actual"))
    prf = agg.select(
        "user_id",
        sf.round(inter / sf.greatest(sf.size("pred"), sf.lit(1)), 6).alias("precision"),
        sf.round(inter / sf.greatest(sf.size("actual"), sf.lit(1)), 6).alias("recall"))
    low = (ev.groupBy("user_id", "event_type").agg(sf.avg("value").alias("avg_v"))
           .filter(sf.col("avg_v") < 50))
    flags = (low.groupBy("user_id")
             .agg(sf.array_join(sf.array_sort(sf.collect_set("event_type")), ",")
                  .alias("low_types")))
    return (prf.join(flags, "user_id", "left")
            .select("user_id", "precision", "recall",
                    sf.coalesce("low_types", sf.lit("")).alias("low_types")))


# ===========================================================================
# Text analysis (training-data ops)
# ===========================================================================

# whitespace token count with the empty/whitespace-only guard Spark's
# textstats.token_count applies (a bare split counts 1 token for '').
# The whitespace class is Java's \s spelled out ([ \t\n\x0b\f\r]):
# RE2's \s lacks \x0B, so a vertical tab would tokenize differently
# across engines (review r04) — every oracle tokenization uses this class.
_SQL_NTOKENS = ("(CASE WHEN length(trim(text)) = 0 THEN 0 "
                "ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END)")


# (text_token_stats merged into text_quality as a tagged union — r04)


def _sql_quality_expr() -> str:
    """DuckDB rendering of textstats.quality_score as a per-document
    expression, sharing ``_sql_stopword_hits`` (token-equality counts) and
    the Unicode punctuation class with the Spark side."""
    en_hits = _sql_stopword_hits(textstats.LANG_STOPWORDS["en"])
    # round(ratio, 6) BEFORE the x5, matching Spark's punct_ratio() which
    # rounds its output — unrounded, a boundary document's quality could
    # flip in the 6th decimal across engines (review r04). \x0b joins the
    # class because RE2's \s lacks it (Java's includes it).
    return f"""round(least({_SQL_NTOKENS} / 64.0, 1.0) * 0.4
        + (1.0 - least(round(
              length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\s\\x0b\\p{{Z}}]', '', 'g'))::DOUBLE
              / greatest(length(text), 1), 6) * 5, 1.0)) * 0.3
        + least({en_hits}::DOUBLE
               / greatest({_SQL_NTOKENS}, 1) * 4.0,
               1.0) * 0.3, 6)"""


def _quality_tokens_oracle_sql() -> str:
    return f"""
    SELECT 'quality' AS op, source AS key,
           round(avg(q), 6) AS avg_v,
           CAST(NULL AS BIGINT) AS max_tokens, count(*) AS n
    FROM (SELECT source, {_sql_quality_expr()} AS q FROM documents)
    GROUP BY source
    UNION ALL
    SELECT 'tokens' AS op, lang AS key,
           round(avg({_SQL_NTOKENS}), 6) AS avg_v,
           max({_SQL_NTOKENS})::BIGINT AS max_tokens, count(*) AS n
    FROM documents GROUP BY lang
    """


@register(
    "text_quality",
    _quality_tokens_oracle_sql(),
    "quality scoring (length/punct/stopword ratio filter) AND token "
    "counting per language — tagged union of the r03 text_quality + "
    "text_token_stats entries (both are cheap per-row column stats; merged "
    "to free a driver 50-row slot for the round-4 redaction/curation "
    "entries, VERDICT r03 #1)")
def q_text_quality(spark, sf_dir):
    d = t_wide(spark, sf_dir, "documents")
    quality = (d.select("source",
                        textstats.quality_score(sf.col("text")).alias("q"))
               .groupBy("source")
               .agg(sf.round(sf.avg("q"), 6).alias("avg_v"),
                    sf.count("*").alias("n"))
               .select(sf.lit("quality").alias("op"),
                       sf.col("source").alias("key"), "avg_v",
                       sf.lit(None).cast("long").alias("max_tokens"), "n"))
    tokens = (d.select("lang", textstats.token_count(sf.col("text")).alias("nt"))
              .groupBy("lang")
              .agg(sf.round(sf.avg("nt"), 6).alias("avg_v"),
                   sf.max("nt").cast("long").alias("max_tokens"),
                   sf.count("*").alias("n"))
              .select(sf.lit("tokens").alias("op"),
                      sf.col("lang").alias("key"), "avg_v", "max_tokens", "n"))
    return quality.unionByName(tokens)


@register(
    "dedup_exact_groups",
    """
    SELECT lang, source, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents GROUP BY lang, source HAVING count(*) > 1
    """,
    "exact dedup via hash group-by (file_hash unique-key semantics, data-model.md:50)")
def q_dedup_exact_groups(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (d.groupBy("lang", "source")
            .agg(sf.min("doc_id").alias("keeper_id"),
                 sf.count("*").alias("n_copies"))
            .filter(sf.col("n_copies") > 1))


@register(
    "dedup_token_jaccard",
    """
    WITH corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz mutation token' FROM documents
      WHERE doc_id % 5 = 0
    ), toks AS (
      SELECT id, list_distinct(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS tok
      FROM corpus)
    SELECT * FROM (
      SELECT a.id AS id_a, b.id AS id_b,
             round(len(list_intersect(a.tok, b.tok))::DOUBLE
                   / len(list_distinct(a.tok || b.tok)), 6) AS jaccard
      FROM toks a JOIN toks b ON b.id = a.id + 1000000)
    WHERE jaccard >= 0.5
    """,
    "n-gram/token Jaccard near-dup verify on a synthetic mutated corpus")
def q_dedup_token_jaccard(spark, sf_dir):
    d = t_wide(spark, sf_dir, "documents")
    mutated = d.filter(sf.col("doc_id") % 5 == 0).select(
        (sf.col("doc_id") + 1000000).alias("id"),
        sf.concat(sf.col("text"), sf.lit(" zz mutation token")).alias("text"))
    corpus = d.select(sf.col("doc_id").alias("id"), "text").unionByName(mutated)
    toks = corpus.select(
        "id", sf.array_distinct(sf.split(sf.lower(sf.trim("text")), r"\s+")).alias("tok"))
    a = toks.alias("a")
    b = toks.alias("b")
    jac = sf.round(
        sf.size(sf.array_intersect(sf.col("a.tok"), sf.col("b.tok"))) /
        sf.size(sf.array_union(sf.col("a.tok"), sf.col("b.tok"))), 6)
    return (a.join(b, sf.col("b.id") == sf.col("a.id") + 1000000)
            .select(sf.col("a.id").alias("id_a"), sf.col("b.id").alias("id_b"),
                    jac.alias("jaccard"))
            .filter(sf.col("jaccard") >= 0.5))


# ===========================================================================
# Similarity search (embeddings)
# ===========================================================================

def _query_vector(spark, sf_dir) -> list[float]:
    row = (t(spark, sf_dir, "embeddings").filter(sf.col("vec_id") == 0)
           .select("embedding").first())
    return [float(x) for x in row[0]]


@register(
    "ann_topk",
    """
    SELECT 'brute' AS method, vec_id, cosine FROM (
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                 WHERE vec_id = 0)
      SELECT vec_id,
             round(CASE WHEN list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) = 0 OR list_sum(list_transform(q.qv, x -> x*x)) = 0 THEN 0.0 ELSE list_cosine_similarity(embedding::DOUBLE[], q.qv) END, 6)
               AS cosine
      FROM embeddings, q
      ORDER BY cosine DESC, vec_id ASC LIMIT 10)
    UNION ALL
    SELECT 'ivf' AS method, vec_id, cosine FROM (
      WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
                 WHERE vec_id = 0),
      bucketed AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
        FROM embeddings),
      qb AS (SELECT (CASE WHEN qv[1] > 0 THEN 1 ELSE 0 END
                   + CASE WHEN qv[2] > 0 THEN 2 ELSE 0 END
                   + CASE WHEN qv[3] > 0 THEN 4 ELSE 0 END
                   + CASE WHEN qv[4] > 0 THEN 8 ELSE 0 END) AS qbucket FROM q)
      SELECT vec_id,
             round(CASE WHEN list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) = 0 OR list_sum(list_transform(q.qv, x -> x*x)) = 0 THEN 0.0 ELSE list_cosine_similarity(embedding::DOUBLE[], q.qv) END, 6)
               AS cosine
      FROM bucketed, q, qb WHERE xor(bucket, qbucket) IN (0, 1, 2, 4, 8)
      ORDER BY cosine DESC, vec_id ASC LIMIT 10)
    """,
    "ANN top-k, tagged union of the r02 ann_cosine_topk + ann_ivf_topk "
    "entries (driver 50-entry window): brute-force cosine (exact baseline; "
    "TakeOrderedAndProject — partial top-k per partition, no global sort) "
    "and IVF-bucketed multi-probe (sign-bit coarse quantizer prunes the "
    "scan to the query cell + its 4 Hamming-1 neighbors; measured recall@10 "
    "0.1-0.3 single-probe → 0.7+ multi-probe on testdata)")
def q_ann_topk(spark, sf_dir):
    qv = _query_vector(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    brute = (similarity.cosine_topk(emb, qv, k=10)
             .select(sf.lit("brute").alias("method"), "vec_id", "cosine"))
    ivf = (similarity.ivf_topk(emb, qv, k=10, n_bits=4, probe_hamming=1)
           .select(sf.lit("ivf").alias("method"), "vec_id", "cosine"))
    return brute.unionByName(ivf)


@register(
    "ann_cosine_topk_int8",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
    qq AS (
      SELECT CASE WHEN qscale = 0 THEN list_transform(qv, x -> 0)
                  ELSE list_transform(qv, x ->
                    greatest(least(floor(x / qscale + 0.5), 127),
                             -127)::INTEGER)
             END AS qc
      FROM (SELECT qv, list_max(list_transform(qv, y -> abs(y))) / 127.0
                     AS qscale
            FROM q)),
    c AS (
      SELECT vec_id,
             CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
                  ELSE list_transform(v, x ->
                    greatest(least(floor(x / scale + 0.5), 127),
                             -127)::INTEGER)
             END AS codes
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_max(list_transform(embedding::DOUBLE[],
                                           x -> abs(x))) / 127.0 AS scale
            FROM embeddings)),
    scored AS (
      SELECT vec_id,
             list_inner_product(codes::DOUBLE[], qc::DOUBLE[])::BIGINT
               AS int_dot,
             list_inner_product(codes::DOUBLE[], codes::DOUBLE[]) AS ss_c,
             list_inner_product(qc::DOUBLE[], qc::DOUBLE[]) AS ss_q
      FROM c, qq)
    SELECT vec_id, int_dot,
           round(CASE WHEN ss_c = 0 THEN 0.0
                      ELSE int_dot / (sqrt(ss_c) * sqrt(ss_q)) END, 6)
             AS cosine_q
    FROM scored
    ORDER BY (CASE WHEN ss_c = 0 THEN 0.0
                   ELSE int_dot / (sqrt(ss_c) * sqrt(ss_q)) END) DESC,
             vec_id ASC
    LIMIT 10
    """,
    "quantized ANN scan path (VERDICT r02 #5): brute-force top-k over the "
    "int8 codes from quantize_embeddings — the 100-TB probe reads 4× fewer "
    "bytes; the per-vector scales cancel inside the code-space cosine, so "
    "the score is built from EXACT integer dot products (DuckDB-renderable, "
    "int values ≤ 64·127² fit a double exactly). Measured recall@10 vs the "
    "float path asserted in tests/test_ops.py")
def q_ann_cosine_topk_int8(spark, sf_dir):
    qv = _query_vector(spark, sf_dir)
    emb = t(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_int8(emb, qv, k=10)


@register(
    "ann_knn_join",
    """
    WITH queries AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
                     FROM embeddings WHERE vec_id < 3)
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q.q_id, e.vec_id,
             round(CASE WHEN list_sum(list_transform(e.embedding::DOUBLE[], x -> x*x)) = 0 OR list_sum(list_transform(q.qv, x -> x*x)) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) END, 6) AS cosine,
             row_number() OVER (PARTITION BY q.q_id
                                ORDER BY round(CASE WHEN list_sum(list_transform(e.embedding::DOUBLE[], x -> x*x)) = 0 OR list_sum(list_transform(q.qv, x -> x*x)) = 0 THEN 0.0 ELSE list_cosine_similarity(e.embedding::DOUBLE[], q.qv) END, 6) DESC,
                                e.vec_id ASC) AS rank
      FROM embeddings e, queries q)
    WHERE rank <= 5
    """,
    "k-NN join: broadcast small query side over the streaming corpus")
def q_ann_knn_join(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(sf.col("vec_id") < 3).select(
        sf.col("vec_id").alias("q_id"), "embedding")
    return similarity.knn_join(queries, emb, k=5)


@register(
    "dedup_embedding_cosine",
    """
    WITH b AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
            + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bucket
      FROM embeddings)
    SELECT * FROM (
      SELECT l.id AS id_a, r.id AS id_b,
             round(CASE WHEN list_sum(list_transform(l.v, x -> x*x)) = 0 OR list_sum(list_transform(r.v, x -> x*x)) = 0 THEN 0.0 ELSE list_cosine_similarity(l.v, r.v) END, 6) AS cosine
      FROM b l JOIN b r
        ON xor(l.bucket, r.bucket) IN (0, 1, 2, 4, 8) AND l.id < r.id)
    WHERE cosine >= 0.3
    """,
    "embedding-cosine near-dup: sign-bucket candidate join (Hamming-1 "
    "multi-probe) + exact verify")
def q_dedup_embedding_cosine(spark, sf_dir):
    return similarity.cosine_near_duplicates(
        t(spark, sf_dir, "embeddings"), threshold=0.3, n_bits=4,
        probe_hamming=1)


# ===========================================================================
# Extraction-family entries, oracled against the committed per-SF golden
# fixtures: tools/regen_sf_goldens.py freezes the single-threaded oracle
# kernel's output per testdata SF (corpus_key = Σ len(documents.text) picks
# the right SF inside the SQL), and each oracle below recomputes the query's
# aggregate from that parquet — a true cross-engine check of the distributed
# pipeline against the golden kernel (VERDICT r01 #6).
# ===========================================================================

_GOLDEN_SF_EXTRACT = os.path.abspath(os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "..", "tests", "fixtures", "golden_sf_extract.parquet"))
_GOLDEN_SF_MULTIDOC = os.path.abspath(os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "..", "tests", "fixtures", "golden_sf_multidoc.parquet"))


def _golden_cte(path: str) -> str:
    """Golden-fixture CTE keyed by corpus_key = Σ len(documents.text).

    Fixtures exist only for the generated SFs (tools/regen_sf_goldens.py);
    on any other SF the key match is empty — the guard turns what would be
    an opaque hash/row-count mismatch into a loud, actionable DuckDB error
    (ADVICE r02). Stays a single SELECT (the driver may not run
    multi-statement SQL): the scalar subquery errors iff the fixture holds
    zero rows for this corpus key."""
    return (f"SELECT * FROM read_parquet('{path}') WHERE corpus_key = "
            "(SELECT CASE WHEN n = 0 THEN error('no golden fixture for "
            "this SF (corpus_key not in fixture) - rerun "
            "tools/regen_sf_goldens.py for this scale factor') ELSE k END "
            "FROM (SELECT "
            f"(SELECT count(*) FROM read_parquet('{path}') gg "
            "WHERE gg.corpus_key = (SELECT sum(length(text)) FROM documents)"
            ") AS n, "
            "(SELECT sum(length(text)) FROM documents) AS k))")


@register(
    "extract_pipeline_summary",
    f"""
    WITH g AS ({_golden_cte(_GOLDEN_SF_EXTRACT)})
    SELECT status, payload_kind, count(*) AS n_turns,
           sum(n_fields)::BIGINT AS total_fields,
           round(avg(extracted_chars), 6) AS avg_extracted_chars
    FROM g GROUP BY status, payload_kind
    """,
    "flagship: full extraction pipeline over testdata-derived transcripts — "
    "oracled against the committed golden-kernel fixture")
def q_extract_pipeline_summary(spark, sf_dir):
    from br_doc_ocr_spark.pipeline import flagship_query
    return flagship_query(spark, sf_dir)


@register(
    "extract_field_counts",
    f"""
    WITH g AS ({_golden_cte(_GOLDEN_SF_EXTRACT)})
    SELECT field, count(*) AS n
    FROM (SELECT unnest(json_keys(fields)) AS field FROM g)
    GROUP BY field
    """,
    "extraction kernel: explode per-turn fields map, count per field name")
def q_extract_field_counts(spark, sf_dir):
    from br_doc_ocr_spark.pipeline import run_extraction, transcripts_from_documents
    results, _ = run_extraction(transcripts_from_documents(spark, sf_dir))
    return (results.select(sf.explode(sf.map_keys("fields")).alias("field"))
            .groupBy("field").agg(sf.count("*").alias("n"))
            .orderBy("field"))


@register(
    "redact_text_audit",
    f"""
    WITH g AS ({_golden_cte(_GOLDEN_SF_EXTRACT)})
    SELECT payload_kind, count(*) AS n_turns,
           sum(redact_masks)::BIGINT AS total_masks,
           sum(redaction_residuals)::BIGINT AS total_residuals,
           sum(redacted_chars)::BIGINT AS total_redacted_chars
    FROM g GROUP BY payload_kind
    """,
    "PII redaction hard gate (VERDICT r03 #1/#5, north rule NFR-005/006 "
    "spec.md:137-138): the distributed redacting pipeline's per-kind mask "
    "counts, residual-identifier escapes (count_redaction_residuals — a "
    "second scan of the REDACTED text), and redacted-text sizes, oracled "
    "against the golden kernel's single-threaded redaction run frozen in "
    "the per-SF fixture (tools/regen_sf_goldens.py)")
def q_redact_text_audit(spark, sf_dir):
    from br_doc_ocr_spark.core.extract import DEFAULT_REDACT_FIELDS
    from br_doc_ocr_spark.pipeline import (
        run_extraction,
        transcripts_from_documents,
    )

    results, _ = run_extraction(transcripts_from_documents(spark, sf_dir),
                                redact_fields=DEFAULT_REDACT_FIELDS)
    mask_set = sf.array(*[sf.lit(f) for f in sorted(DEFAULT_REDACT_FIELDS)])
    masks = sf.size(sf.filter(
        "spans", lambda s: sf.array_contains(mask_set, s["field"])))
    return (results
            .select("payload_kind", masks.alias("masks"),
                    "redaction_residuals",
                    sf.coalesce(sf.length("redacted_text"), sf.lit(0))
                    .alias("redacted_chars"))
            .groupBy("payload_kind")
            .agg(sf.count("*").alias("n_turns"),
                 sf.sum("masks").alias("total_masks"),
                 sf.sum("redaction_residuals").alias("total_residuals"),
                 sf.sum("redacted_chars").alias("total_redacted_chars")))


def _minhash_oracle_sql() -> str:
    """Full DuckDB rendering of the MinHash+LSH near-dup operator, value-
    exact against ops/dedup.py: Spark's xxhash64 is reproduced bit-for-bit
    in SQL (br_doc_ocr_spark/duckdb_xxh64.py — XXH64 over UTF-8 bytes for
    shingle and band strings, the hashLong→hashInt chain for the seed
    permutations), shingling/banding/verification mirror word_shingles /
    minhash_lsh_candidates / minhash_near_duplicates, and the output is the
    exact-integer (n_common, n_union) pair so no float ever enters the
    driver's value hash. The shingle width, permutation count and band
    count are ``dedup``'s own constants, so the two sides cannot drift."""
    from br_doc_ocr_spark import duckdb_xxh64 as X

    rpb = dedup.NUM_HASHES // dedup.BANDS
    gap = dedup.SHINGLE_N - 1  # a shingle is the inclusive tokens[i:i+gap]
    seed_ctes = X.seed_permutation_ctes("shx_out", ["doc_id"], "h0",
                                        list(range(dedup.NUM_HASHES)), "sp")
    sig_list = ", ".join(f"min(p{i})" for i in range(dedup.NUM_HASHES))
    band_structs = ", ".join(
        "{'band_idx': %d, 'band_str': %s}" % (
            b, " || ',' || ".join(f"sig[{b * rpb + r + 1}]::VARCHAR"
                                  for r in range(rpb)))
        for b in range(dedup.BANDS))
    shingle_hash = X.xxh64_string_ctes("shingle_rows", ["doc_id"],
                                       "shingle", "h0", "shx")
    band_hash = X.xxh64_string_ctes("band_rows",
                                    ["doc_id", "band_idx"],
                                    "band_str", "band_hash", "bhx")
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz mutation token' FROM documents
      WHERE doc_id % 5 = 0
    ),
    toks AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+') AS tokens
      FROM corpus
    ),
    shingled AS (
      SELECT doc_id,
        list_distinct(CASE WHEN len(tokens) - {gap} <= 0
          THEN [array_to_string(tokens, ' ')]
          ELSE list_transform(range(1, greatest(len(tokens) - {gap}, 1) + 1),
                              i -> array_to_string(tokens[i:i+{gap}], ' '))
        END) AS sh
      FROM toks
    ),
    shingle_rows AS (
      SELECT doc_id, unnest(sh) AS shingle FROM shingled
    ),
    {shingle_hash},
    {seed_ctes},
    sigs AS (
      SELECT doc_id, [{sig_list}] AS sig FROM sp_out GROUP BY doc_id
    ),
    bands0 AS (
      SELECT doc_id, unnest([{band_structs}]) AS band FROM sigs
    ),
    band_rows AS (
      SELECT doc_id, band.band_idx AS band_idx, band.band_str AS band_str
      FROM bands0
    ),
    {band_hash},
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bhx_out l JOIN bhx_out r
        ON l.band_idx = r.band_idx AND l.band_hash = r.band_hash
       AND l.doc_id < r.doc_id
    ),
    verified AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(a.sh, b.sh)) AS n_common,
             len(list_distinct(a.sh || b.sh)) AS n_union
      FROM cand c
      JOIN shingled a ON a.doc_id = c.id_a
      JOIN shingled b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b,
           CAST(n_common AS INTEGER) AS n_common,
           CAST(n_union AS INTEGER) AS n_union
    FROM verified WHERE n_common >= n_union * 0.5
    """


@register(
    "dedup_minhash_lsh", _minhash_oracle_sql(),
    "MinHash+LSH near-dup pairs (shingle→minhash→band→bucket join) on the "
    "mutated corpus — value-level DuckDB oracle via a bit-exact SQL "
    "rendering of Spark's xxhash64 (duckdb_xxh64.py); also verified vs "
    "exact Jaccard in tests/test_ops.py")
def q_dedup_minhash_lsh(spark, sf_dir):
    # t_wide: the unsplittable single-row-group scan would otherwise run the
    # shingle projection on one core (profiled 3.5s -> 1.0s at local[32])
    d = t_wide(spark, sf_dir, "documents")
    mutated = d.filter(sf.col("doc_id") % 5 == 0).select(
        (sf.col("doc_id") + 1000000).alias("doc_id"),
        sf.concat(sf.col("text"), sf.lit(" zz mutation token")).alias("text"))
    corpus = d.select("doc_id", "text").unionByName(mutated)
    return (dedup.minhash_near_duplicates(corpus, threshold=0.5)
            .select("id_a", "id_b", "n_common", "n_union")
            .orderBy("id_a", "id_b"))


@register(
    "dataset_conversation",
    """
    WITH b AS (
      SELECT doc_id, lang,
        CASE doc_id % 3 WHEN 0 THEN 'invoice' WHEN 1 THEN 'rg'
                        ELSE 'unknown' END AS document_type,
        CASE doc_id % 3
          WHEN 0 THEN '{' || chr(10) || '  "cnpj": "11.222.333/0001-81",'
                   || chr(10) || '  "lang": "' || lang || '"' || chr(10) || '}'
          WHEN 1 THEN '{' || chr(10) || '  "orgao_emissor": "SSP-SP"'
                   || chr(10) || '}'
          ELSE '{' || chr(10) || '  "lang": "' || lang || '"' || chr(10) || '}'
        END AS expected_output
      FROM documents WHERE doc_id < 300)
    SELECT doc_id, document_type,
           'Extract all relevant information from this ' || document_type
             || ' document. Return the extracted data as a JSON object.'
             AS user_msg,
           expected_output
    FROM b
    """,
    "M10 conversation-format training transform (transform_sample, "
    "dataset_adapter.py:57-96): 3-message struct array + indent-2 JSON "
    "expected_output, rendered as pure column expressions")
def q_dataset_conversation(spark, sf_dir):
    from br_doc_ocr_spark import dataset as ds

    d = t(spark, sf_dir, "documents").filter(sf.col("doc_id") < 300)
    fields = (
        sf.when(sf.col("doc_id") % 3 == 0,
                sf.create_map(sf.lit("cnpj"), sf.lit("11.222.333/0001-81"),
                              sf.lit("lang"), sf.col("lang")))
        .when(sf.col("doc_id") % 3 == 1,
              sf.create_map(sf.lit("orgao_emissor"), sf.lit("SSP-SP")))
        .otherwise(sf.create_map(sf.lit("lang"), sf.col("lang"))))
    samples = ds.to_training_samples(d.select("doc_id", fields.alias("fields")))
    return samples.select(
        "doc_id", "document_type",
        sf.element_at("messages", 2)["content"].alias("user_msg"),
        "expected_output")


@register(
    "embedding_quantize_int8",
    """
    WITH q AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
               / 127.0 AS scale
      FROM embeddings),
    c AS (
      SELECT vec_id, v, scale,
        CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
             ELSE list_transform(v, x ->
               greatest(least(floor(x / scale + 0.5), 127), -127)::INTEGER)
        END AS codes
      FROM q),
    r AS (
      SELECT vec_id,
             list_sum(codes) AS code_sum,
             CASE WHEN scale = 0 THEN 1.0
                  ELSE list_cosine_similarity(
                         v, list_transform(codes, c -> c * scale))
             END AS cos_rec
      FROM c)
    SELECT vec_id % 10 AS cohort, count(*) AS n,
           sum(code_sum)::BIGINT AS total_codes,
           round(avg(cos_rec), 6) AS avg_recon_cosine
    FROM r GROUP BY 1
    """,
    "symmetric int8 embedding quantization (4× storage cut): exact code "
    "sums cross-engine (floor(x+0.5) tie rule, NOT round — half-up vs "
    "half-even would diverge) + reconstruction cosine")
def q_embedding_quantize_int8(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = similarity.dequantize_embeddings(similarity.quantize_embeddings(emb))
    v = sf.col("embedding").cast("array<double>")
    cos_rec = sf.when(sf.col("q_scale") == 0.0, sf.lit(1.0)).otherwise(
        similarity.cosine(v, sf.col("embedding_dq")))
    code_sum = sf.aggregate(sf.col("q_codes"), sf.lit(0).cast("long"),
                            lambda a, x: a + x)
    return (q.select("vec_id", code_sum.alias("code_sum"),
                     cos_rec.alias("cos_rec"))
            .groupBy((sf.col("vec_id") % 10).alias("cohort"))
            .agg(sf.count("*").alias("n"),
                 sf.sum("code_sum").alias("total_codes"),
                 sf.round(sf.avg("cos_rec"), 6).alias("avg_recon_cosine")))


@register(
    "temporal_joins",
    """
    WITH l AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    r AS (SELECT user_id, ts, max(value) AS click_value FROM events
          WHERE event_type = 'click' GROUP BY user_id, ts),
    a AS (
      SELECT l.user_id % 10 AS cohort,
             count(*) AS n_purchases,
             count(r.click_value) AS n_matched,
             sum(CASE WHEN r.ts IS NOT NULL
                      THEN epoch_us(l.ts) - epoch_us(r.ts)
                      ELSE 0 END)::BIGINT AS total_gap_us,
             round(sum(coalesce(r.click_value, 0)), 2) AS total_click_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      GROUP BY 1),
    p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
    i AS (SELECT user_id, ts AS s, ts + INTERVAL 2 HOUR AS e FROM events
          WHERE event_type = 'signup'),
    g AS (
      SELECT p.user_id % 10 AS cohort, count(*) AS n_matches,
             round(sum(p.value), 2) AS total_value
      FROM p JOIN i ON p.user_id = i.user_id AND p.ts >= i.s AND p.ts <= i.e
      GROUP BY 1)
    SELECT cohort,
           coalesce(n_purchases, 0)::BIGINT AS n_purchases,
           coalesce(n_matched, 0)::BIGINT AS n_matched,
           coalesce(total_gap_us, 0)::BIGINT AS total_gap_us,
           coalesce(total_click_value, 0.0) AS total_click_value,
           coalesce(n_matches, 0)::BIGINT AS n_matches,
           coalesce(total_value, 0.0) AS total_value
    FROM a FULL OUTER JOIN g USING (cohort)
    """,
    "temporal joins, merged r02 asof_join_purchases + range_join_sessions "
    "entries (driver 50-entry window), full-outer aligned per cohort: "
    "(a) as-of join — operator Spark lacks, built union+window "
    "single-shuffle; each purchase attaches the latest prior click per "
    "user, verified against DuckDB's NATIVE ASOF LEFT JOIN; (b) range join "
    "via time-bucketing (clicks → containing 2h signup windows) — the "
    "scale rewrite of an inequality join, oracle uses the plain "
    "inequality join")
def q_temporal_joins(spark, sf_dir):
    from br_doc_ocr_spark.ops import temporal

    ev = t(spark, sf_dir, "events")
    left = ev.filter(sf.col("event_type") == "purchase").select("user_id", "ts")
    right = (ev.filter(sf.col("event_type") == "click")
             .groupBy("user_id", "ts")
             .agg(sf.max("value").alias("click_value")))
    joined = temporal.asof_join(left, right, value_cols=["click_value"])
    # gate on the JOIN KEY's nullity, not the value's: a click group whose
    # values are all NULL still matched (review r04 — the oracle gates on
    # r.ts IS NOT NULL)
    matched = sf.col("ts_asof").isNotNull()
    us = lambda c: _unix_micros_utc(sf.col(c))  # noqa: E731
    gap = sf.when(matched, us("ts") - us("ts_asof")).otherwise(sf.lit(0))
    asof = (joined.groupBy((sf.col("user_id") % 10).alias("cohort"))
            .agg(sf.count("*").alias("n_purchases"),
                 sf.count("click_value_asof").alias("n_matched"),
                 sf.sum(gap).alias("total_gap_us"),
                 sf.round(sf.sum(sf.coalesce("click_value_asof", sf.lit(0.0))),
                          2).alias("total_click_value")))
    points = (ev.filter(sf.col("event_type") == "click")
              .select("user_id", "ts", "value"))
    intervals = (ev.filter(sf.col("event_type") == "signup")
                 .select("user_id", sf.col("ts").alias("start"),
                         (sf.col("ts") + sf.expr("INTERVAL 2 HOURS"))
                         .alias("end")))
    ranged = (temporal.range_join(points, intervals)
              .groupBy((sf.col("user_id") % 10).alias("cohort"))
              .agg(sf.count("*").alias("n_matches"),
                   sf.round(sf.sum("value"), 2).alias("total_value")))
    z = lambda c: sf.coalesce(c, sf.lit(0)).cast("long")  # noqa: E731
    zd = lambda c: sf.coalesce(c, sf.lit(0.0))  # noqa: E731
    return (asof.join(ranged, "cohort", "full_outer")
            .select("cohort",
                    z("n_purchases").alias("n_purchases"),
                    z("n_matched").alias("n_matched"),
                    z("total_gap_us").alias("total_gap_us"),
                    zd("total_click_value").alias("total_click_value"),
                    z("n_matches").alias("n_matches"),
                    zd("total_value").alias("total_value")))


@register(
    "dedup_components",
    """
    WITH RECURSIVE edges AS (
      SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 5 <> 4
      UNION ALL
      SELECT doc_id, doc_id + 10 FROM documents WHERE doc_id % 50 = 0
    ),
    und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    cc AS (
      SELECT a AS id, a AS lab FROM und
      UNION
      SELECT u.b, cc.lab FROM cc JOIN und u ON u.a = cc.id
    ),
    comps AS (SELECT id, min(lab) AS comp FROM cc GROUP BY id)
    SELECT comp, count(*) AS n_members, max(id) AS max_id
    FROM comps GROUP BY comp
    """,
    "near-dup keeper resolution: connected components over a pair graph "
    "(min-label propagation + pointer jumping on the Spark side, transitive "
    "closure via recursive CTE on the oracle side) — chains of 5 docs with "
    "periodic cross-links, deterministic min-id representatives")
def q_dedup_components(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id")
    chain = d.filter(sf.col("doc_id") % 5 != 4).select(
        sf.col("doc_id").alias("id_a"), (sf.col("doc_id") + 1).alias("id_b"))
    cross = d.filter(sf.col("doc_id") % 50 == 0).select(
        sf.col("doc_id").alias("id_a"), (sf.col("doc_id") + 10).alias("id_b"))
    comps = dedup.connected_components(chain.unionByName(cross))
    return (comps.groupBy("comp")
            .agg(sf.count("*").alias("n_members"),
                 sf.max("id").alias("max_id"))
            .orderBy("comp"))


def _simhash_oracle_sql() -> str:
    """DuckDB rendering of the full SimHash near-dup operator, value-exact
    against ops/dedup.py: the 64-bit token hash is Spark's xxhash64,
    reproduced bit-for-bit in SQL (duckdb_xxh64.xxh64_string_ctes — the
    same rendering the MinHash oracle uses), per-bit majority via 64
    generated sums ((h // 2^i) % 2 keeps everything HUGEINT — no
    shift-operator dependence), two's-complement signing, then a
    brute-force Hamming ≤ 3 join (exactly the pair set the 4-chunk
    pigeonhole join admits, since d ≤ 3 ⇒ ≥ 1 chunk equal ⇒ no candidate
    is missed and the verify filter is identical)."""
    from br_doc_ocr_spark import duckdb_xxh64 as X

    tok_hash = X.xxh64_string_ctes("toks", ["doc_id"], "tok", "h_s", "thx")
    sums = ",\n        ".join(
        f"sum((h // {1 << i}) % 2) AS s{i}" for i in range(64))
    pack = "\n          + ".join(
        f"CASE WHEN s{i}*2 > n THEN {1 << i}::HUGEINT ELSE 0 END"
        for i in range(64))
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 5 = 0
    ),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                                x -> x <> '')) AS tok
      FROM corpus
    ),
    {tok_hash},
    hashed AS (
      SELECT doc_id,
             CASE WHEN h_s < 0 THEN h_s::HUGEINT + {1 << 64}::HUGEINT
                  ELSE h_s::HUGEINT END AS h
      FROM thx_out
    ),
    votes AS (
      SELECT doc_id, count(*) AS n,
        {sums}
      FROM hashed GROUP BY doc_id
    ),
    packed AS (
      SELECT doc_id,
        ({pack}) AS u
      FROM votes
    ),
    sigs AS (
      SELECT c.doc_id,
             coalesce((CASE WHEN u >= {1 << 63} THEN u - {1 << 64}
                            ELSE u END)::BIGINT, 0) AS simhash
      FROM corpus c LEFT JOIN packed p USING (doc_id)
    )
    SELECT l.doc_id AS id_a, r.doc_id AS id_b,
           CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
    FROM sigs l JOIN sigs r ON l.doc_id < r.doc_id
    WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
    """


@register(
    "dedup_simhash", _simhash_oracle_sql(),
    "SimHash near-dup pairs (64-bit xxhash64-vote signature, 16-bit-chunk "
    "pigeonhole join) — value-level DuckDB oracle via the bit-exact SQL "
    "XXH64 rendering (duckdb_xxh64.py)")
def q_dedup_simhash(spark, sf_dir):
    d = t_wide(spark, sf_dir, "documents")  # spread the hash/bit-vote projection
    mutated = d.filter(sf.col("doc_id") % 5 == 0).select(
        (sf.col("doc_id") + 1000000).alias("doc_id"),
        sf.concat(sf.col("text"), sf.lit(" zz")).alias("text"))
    corpus = d.select("doc_id", "text").unionByName(mutated)
    return (dedup.simhash_near_duplicates(corpus, max_hamming=3)
            .select("id_a", "id_b", sf.col("hamming").cast("int").alias("hamming"))
            .orderBy("id_a", "id_b"))


@register(
    "text_fingerprint",
    # DuckDB rendering of textstats._fingerprint_str: fold the 61-bit
    # polynomial rolling hash over codepoints with HUGEINT (h < 2^61 and
    # base ≈ 2^20, so h*base + o < 2^81 never overflows 128-bit), seeded by
    # list_prepend(0) so the first step is (0*B + ord(c0)) % M exactly like
    # the Python loop; '' hashes to 0 (unicode('') is -1 in DuckDB).
    """
    WITH fp AS (
      SELECT lang,
        CASE WHEN text IS NULL OR text = '' THEN 0
             ELSE list_reduce(
               list_prepend(0::HUGEINT,
                 list_transform(string_split(text, ''),
                                c -> unicode(c)::HUGEINT)),
               (h, o) -> (h * 1000003 + o) % 2305843009213693951)
        END AS fingerprint
      FROM documents
    )
    SELECT lang, count(DISTINCT fingerprint) AS n_distinct,
           count(*) AS n_docs
    FROM fp GROUP BY lang
    """,
    "rolling-hash document fingerprints (Arrow kernel) — distinct count per lang")
def q_text_fingerprint(spark, sf_dir):
    d = textstats.with_fingerprint(t_wide(spark, sf_dir, "documents"))
    return (d.groupBy("lang")
            .agg(sf.countDistinct("fingerprint").alias("n_distinct"),
                 sf.count("*").alias("n_docs")))


@register(
    "eval_extraction_report",
    f"""
    WITH g AS ({_golden_cte(_GOLDEN_SF_EXTRACT)})
    -- identity evaluation: every paired sample matches itself exactly, so
    -- per-kind correct == total and accuracy == 1.0; the oracle still gates
    -- that the Spark pairing covers exactly the golden kernel's row set
    SELECT payload_kind, count(*) AS total, count(*)::BIGINT AS correct,
           1.0::DOUBLE AS accuracy
    FROM g GROUP BY payload_kind
    """,
    "evaluation engine (J1 pairing + A1-A4 + per-field report) — extraction "
    "output scored against itself as the golden (identity gate)")
def q_eval_extraction_report(spark, sf_dir):
    from br_doc_ocr_spark import evaluation
    from br_doc_ocr_spark.pipeline import run_extraction, transcripts_from_documents

    results, _ = run_extraction(transcripts_from_documents(spark, sf_dir))
    pred = results.select("conv_id", "turn_idx", "payload_kind",
                          "extracted_text", "fields", "status")
    return evaluation.evaluate(pred, pred)["per_kind"]


@register(
    "extract_schema_guided",
    f"""
    WITH g AS ({_golden_cte(_GOLDEN_SF_EXTRACT)})
    -- filter_to_schema intersects the detected field set with the schema's
    -- names (cpf, data_nascimento, + scanner 'data' admitted by the date
    -- format), so the schema-guided key counts equal the unfiltered golden
    -- keys intersected with that allow-list
    SELECT field, count(*) AS n
    FROM (SELECT unnest(json_keys(fields)) AS field FROM g)
    WHERE field IN ('cpf', 'data_nascimento', 'data')
    GROUP BY field
    """,
    "US4 schema-guided extraction: custom 2-field schema bounds the field set "
    "(filter_to_schema inside the kernel; spec.md:67-77)")
def q_extract_schema_guided(spark, sf_dir):
    from br_doc_ocr_spark.pipeline import run_extraction, transcripts_from_documents

    schema = {"type": "object",
              "properties": {"cpf": {"type": "string"},
                             "data_nascimento": {"type": "string",
                                                 "format": "date"}},
              "required": ["cpf"]}
    results, _ = run_extraction(transcripts_from_documents(spark, sf_dir),
                                schema=schema)
    return (results.select(sf.explode(sf.map_keys("fields")).alias("field"))
            .groupBy("field").agg(sf.count("*").alias("n")).orderBy("field"))


@register(
    "explode_multidoc_segments",
    """
    SELECT n_segments, count(*) AS n_payloads FROM (
      SELECT len(string_split(payload, chr(10) || '---' || chr(10)))
               AS n_segments
      FROM (SELECT CASE WHEN doc_id % 3 = 0
                        THEN text || chr(10) || '---' || chr(10) || text
                        WHEN doc_id % 7 = 0
                        THEN text || repeat(chr(10) || '---' || chr(10) ||
                                            text, 2)
                        ELSE text END AS payload
            FROM documents))
    GROUP BY n_segments
    """,
    "M7/FR-015 multi-document segmentation cardinality (detect_documents "
    "explode shape, preprocessing.py:204-236)")
def q_explode_multidoc_segments(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    sep_text = sf.concat(sf.lit("\n---\n"), sf.col("text"))
    payload = (sf.when(sf.col("doc_id") % 3 == 0,
                       sf.concat(sf.col("text"), sep_text))
                 .when(sf.col("doc_id") % 7 == 0,
                       sf.concat(sf.col("text"), sep_text, sep_text))
                 .otherwise(sf.col("text")))
    return (d.select(sf.size(sf.split(payload, r"\n---\n")).alias("n_segments"))
            .groupBy("n_segments").agg(sf.count("*").alias("n_payloads")))


@register(
    "extract_multidoc",
    f"""
    WITH g AS ({_golden_cte(_GOLDEN_SF_MULTIDOC)})
    SELECT n_docs, status, count(*) AS n,
           sum(n_fields)::BIGINT AS total_fields
    FROM g GROUP BY n_docs, status
    """,
    "FR-015 multi-document extraction: one row per detected document segment "
    "(extract_document(multi_document=True), extraction.py:102-119)")
def q_extract_multidoc(spark, sf_dir):
    from br_doc_ocr_spark.pipeline import (
        run_multi_extraction,
        transcripts_from_documents,
    )

    docs, _ = run_multi_extraction(transcripts_from_documents(spark, sf_dir))
    return (docs.groupBy("n_docs", "status")
            .agg(sf.count("*").alias("n"),
                 sf.sum("n_fields").alias("total_fields"))
            .orderBy("n_docs", "status"))


@register(
    "classify_alternatives",
    f"""
    WITH g AS ({_golden_cte(_GOLDEN_SF_EXTRACT)})
    -- alternatives are deterministic per payload_kind: the residual
    -- (1 - 0.97) spreads uniformly over the other two known kinds
    SELECT payload_kind, alt_kind, count(*) AS n,
           round(((1.0 - 0.97) / 2)::DOUBLE, 6) AS alt_confidence
    FROM g
    CROSS JOIN unnest(['html', 'pdf', 'prose']) AS t(alt_kind)
    WHERE payload_kind IN ('html', 'pdf', 'prose')
      AND alt_kind <> payload_kind
    GROUP BY payload_kind, alt_kind
    """,
    "F24 classification alternatives: residual confidence spread over other "
    "kinds (classification.py:92-99)")
def q_classify_alternatives(spark, sf_dir):
    from br_doc_ocr_spark.pipeline import (
        run_extraction,
        transcripts_from_documents,
        with_classification,
    )

    results, _ = run_extraction(transcripts_from_documents(spark, sf_dir))
    classified = with_classification(results)
    return (classified.select(
        "payload_kind", "classify_confidence",
        sf.explode("classify_alternatives").alias("alt"))
        .groupBy("payload_kind", sf.col("alt.kind").alias("alt_kind"))
        .agg(sf.count("*").alias("n"),
             sf.round(sf.avg("alt.confidence"), 6).alias("alt_confidence"))
        .orderBy("payload_kind", "alt_kind"))


def _sql_lang_pred_expr() -> str:
    """DuckDB rendering of textstats.predict_lang as a per-document
    expression, generated from the same LANG_STOPWORDS table so the two
    sides cannot drift: per-language stopword hit counts via
    _sql_stopword_hits, argmax via list_max over (hits, lang) structs
    (struct comparison is lexicographic in DuckDB exactly as array_max over
    structs is in Spark), 'und' when every count is zero."""
    structs = ", ".join(
        f"{{'hits': {_sql_stopword_hits(ws)}, 'lang': '{lang}'}}"
        for lang, ws in sorted(textstats.LANG_STOPWORDS.items()))
    return (f"coalesce(list_max(list_filter([{structs}], "
            f"x -> x.hits > 0)).lang, 'und')")


def _langid_oracle_sql() -> str:
    return f"""
    WITH scored AS (
      SELECT lang, {_sql_lang_pred_expr()} AS lang_pred
      FROM documents
    )
    SELECT lang,
           round(avg(CASE WHEN lang_pred = lang THEN 1.0 ELSE 0.0 END), 6)
             AS accuracy,
           count(*) AS n
    FROM scored GROUP BY lang
    """


@register(
    "text_langid", _langid_oracle_sql(),
    "language-ID stopword heuristic vs the lang label — accuracy per lang")
def q_text_langid(spark, sf_dir):
    d = t_wide(spark, sf_dir, "documents")
    pred = textstats.predict_lang("text")
    return (d.select("lang", pred.alias("lang_pred"))
            .groupBy("lang")
            .agg(sf.round(sf.avg((sf.col("lang_pred") == sf.col("lang"))
                                 .cast("double")), 6).alias("accuracy"),
                 sf.count("*").alias("n")))


# DuckDB renderings of the repetition fractions (textstats.repetition_stats),
# shared by the curation oracle. Expressions are inlined per use — DuckDB's
# CSE handles the repeats; oracle-side cost is irrelevant.
_SQL_CUR_LINES = ("list_filter(list_transform("
                  "string_split_regex(text, '\\r?\\n'), "
                  "x -> trim(x)), x -> x <> '')")
# composed from _SQL_TOKENS, not re-spelled: the tokenization must stay in
# lockstep with Spark's textstats._word_tokens, and a regex-class fix
# applied to one hand-written copy but not the other would skew ONLY the
# dup_ngrams oracle — a confusing single-query mismatch (review r05)
_SQL_CUR_TOKS = f"list_filter({_SQL_TOKENS}, x -> x <> '')"


def _sql_dup_line_frac() -> str:
    L = _SQL_CUR_LINES
    return (f"round(CASE WHEN len({L}) = 0 THEN 0.0 ELSE "
            f"1.0 - len(list_distinct({L}))::DOUBLE / len({L}) END, 6)")


def _sql_dup_ngram_frac(n: int = 3) -> str:
    toks = _SQL_CUR_TOKS
    grams = (f"CASE WHEN len({toks}) < {n} THEN [] "
             f"ELSE list_transform(range(1, len({toks}) - {n - 1} + 1), "
             f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')) END")
    return (f"round(CASE WHEN len({grams}) = 0 THEN 0.0 ELSE "
            f"1.0 - len(list_distinct({grams}))::DOUBLE / len({grams}) END, 6)")


# curation thresholds for the catalog entry — tuned so several reasons fire
# on the testdata corpora (a histogram of zeros would gate nothing): the
# synthetic documents are clean prose, so the n-gram ceiling sits at 0.01
# (the p99 tail, a few docs per SF) purely to exercise that branch; the
# dup-line branch cannot fire here (all-zero fractions) and is gated by the
# formula unit tests plus divergence-absence (a cross-engine disagreement
# would materialize a 'dup_lines' row on one side and fail rows_match)
_CURATE_PARAMS = dict(min_tokens=40, max_tokens=100_000, min_quality=0.5,
                      max_dup_line_frac=0.30, max_dup_ngram_frac=0.01,
                      allowed_langs=("en", "pt", "und"))


def _curate_oracle_sql() -> str:
    p = _CURATE_PARAMS
    langs = ", ".join(f"'{l}'" for l in sorted(p["allowed_langs"]))
    return f"""
    WITH ann AS (
      SELECT list_filter([
        CASE WHEN text IS NULL THEN 'null_text' END,
        CASE WHEN {_SQL_NTOKENS} < {p['min_tokens']} THEN 'too_short' END,
        CASE WHEN {_SQL_NTOKENS} > {p['max_tokens']} THEN 'too_long' END,
        CASE WHEN {_sql_quality_expr()} < {p['min_quality']}
             THEN 'low_quality' END,
        CASE WHEN {_sql_dup_line_frac()} > {p['max_dup_line_frac']}
             THEN 'dup_lines' END,
        CASE WHEN {_sql_dup_ngram_frac()} > {p['max_dup_ngram_frac']}
             THEN 'dup_ngrams' END,
        CASE WHEN {_sql_lang_pred_expr()} NOT IN ({langs}) THEN 'lang' END
      ], x -> x IS NOT NULL) AS drop_reasons
      FROM documents)
    SELECT reason, count(*) AS n FROM (
      SELECT unnest(CASE WHEN len(drop_reasons) = 0 THEN ['_kept']
                         ELSE drop_reasons END) AS reason
      FROM ann) GROUP BY reason
    """


@register(
    "curate_drop_reasons", _curate_oracle_sql(),
    "corpus-curation hard gate (VERDICT r03 #1): the one-call composed "
    "pretraining filter (ops/textstats.curate_documents — token bounds + "
    "quality floor + repetition ceilings + language allowlist, "
    "annotate-don't-delete) aggregated to its drop-reason histogram plus a "
    "'_kept' row; the DuckDB oracle re-derives every per-document stat "
    "(whitespace tokens, quality, dup-line/dup-ngram fractions, 24-language "
    "stopword argmax) from the same generated SQL components the other "
    "text oracles use, so the two engines cannot drift")
def q_curate_drop_reasons(spark, sf_dir):
    cur = textstats.curate_documents(t_wide(spark, sf_dir, "documents"),
                                     **_CURATE_PARAMS)
    # kept rows tagged inline so the (expensive) stats stack runs ONCE —
    # a union of two aggregation branches would evaluate it twice
    tagged = sf.when(sf.col("keep"), sf.array(sf.lit("_kept"))) \
               .otherwise(sf.col("drop_reasons"))
    return (cur.select(sf.explode(tagged).alias("reason"))
            .groupBy("reason").agg(sf.count("*").alias("n")))


# Frozen deterministic goldens: synth_media + FakeDecoder are seed-fixed
# and sf-independent, so the expected aggregates are literal tables — a
# drift in the decode/resize/feature plumbing breaks the hash match.
# (modality, k1, k2, n, v):
#   image — k1=out_width, k2=out_height, v=round(avg mean_intensity, 2)
#   audio — k1=n_samples,  k2=0, two rows: avg rms (r6) and avg zc (r2)
#   video — k1=frame_idx,  k2=0, v=round(avg mean_intensity, 2)
_MM_FAKE_GOLDEN = [
    ("image", w, h, n, a) for w, h, n, a in [
        (320, 240, 1, 127.47), (320, 496, 1, 127.55), (320, 752, 1, 127.57),
        (320, 1008, 1, 127.55), (479, 1024, 1, 127.52), (774, 1024, 1, 127.63),
        (832, 240, 1, 127.47), (832, 496, 1, 127.4), (905, 1024, 1, 127.51),
        (1024, 182, 1, 127.49), (1024, 325, 1, 127.61), (1024, 435, 1, 127.53),
        (1024, 546, 1, 127.54), (1024, 556, 1, 127.46), (1024, 697, 1, 127.52),
        (1024, 838, 1, 127.49),
    ]
] + [
    ("audio_rms", 16000, 0, 16, 0.57826),
    ("audio_zc", 16000, 0, 16, 7983.94),
] + [
    ("video", i, 0, n, a) for i, n, a in [
        (0, 16, 127.5), (10, 16, 127.47), (20, 16, 127.52), (30, 12, 127.51),
        (40, 12, 127.51), (50, 12, 127.49), (60, 8, 127.52), (70, 8, 127.54),
        (80, 8, 127.5), (90, 4, 127.47), (100, 4, 127.4), (110, 4, 127.57),
    ]
]


@register(
    "multimodal_features",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{m}', {k1}::INTEGER, {k2}::INTEGER, {n}::BIGINT, "
                f"{v}::DOUBLE)" for m, k1, k2, n, v in _MM_FAKE_GOLDEN)
    + ") AS t(modality, k1, k2, n, v)",
    "multimodal plumbing over the FakeDecoder synth corpus (real bytes "
    "through MediaDecoder's codec table are multimodal_real_codec) — "
    "tagged union of the r02 multimodal_image_features + "
    "multimodal_audio_features + multimodal_video_frames entries (merged to free driver 50-row slots "
    "for the real-codec row, VERDICT r04 #4): image decode/resize/feature "
    "Arrow kernel (preprocessing.py:66-126 analog), audio RMS/zero-crossing "
    "kernel, video frame-sampling 1→N flatMap")
def q_multimodal_features(spark, sf_dir):
    from br_doc_ocr_spark.ops import multimodal as mm

    media = mm.synth_media(spark, n=48)
    fake = mm.FakeDecoder()
    img = (mm.image_features(media, decoder=fake)[0]
           .groupBy("out_width", "out_height")
           .agg(sf.count("*").alias("n"),
                sf.round(sf.avg("mean_intensity"), 2).alias("v"))
           .select(sf.lit("image").alias("modality"),
                   sf.col("out_width").alias("k1"),
                   sf.col("out_height").alias("k2"), "n", "v"))
    # ONE aggregate then a stack() unpivot into the rms/zc rows: feeding
    # the aggregate into two union branches planned and executed the audio
    # decode kernel + aggregation twice (two MapInPandas subtrees, zero
    # reuse — review r05); the generator row-multiplies the final tiny
    # aggregate instead, decoding each payload once
    aud = (mm.audio_features(media, decoder=fake)[0]
           .groupBy("n_samples")
           .agg(sf.count("*").alias("n"),
                sf.round(sf.avg("rms"), 6).alias("rms"),
                sf.round(sf.avg("zero_crossings"), 2).alias("zc"))
           .selectExpr(
               "stack(2, 'audio_rms', rms, 'audio_zc', zc) AS (modality, v)",
               "n_samples AS k1", "0 AS k2", "n")
           .select("modality", "k1", "k2", "n", "v"))
    vid = (mm.sample_video_frames(media, decoder=fake, every_nth=10)[0]
           .groupBy("frame_idx")
           .agg(sf.count("*").alias("n"),
                sf.round(sf.avg("mean_intensity"), 2).alias("v"))
           .select(sf.lit("video").alias("modality"),
                   sf.col("frame_idx").alias("k1"),
                   sf.lit(0).alias("k2"), "n", "v"))
    return img.unionByName(aud).unionByName(vid)


# Frozen per-media-id goldens for the REAL dependency-free codecs: the synth
# corpora encode seeded gradients/sine-mixes to actual PNG / baseline-JFIF /
# RIFF-PCM bytes, and the decode is bit-exact integer math (pngio/jpegio/
# wavio), so every row is a pure function of the codec implementations —
# any decode drift breaks the hash match. (modality, media_id, k1, k2, v):
#   png/jpeg — k1=out_width, k2=out_height, v=round(mean_intensity, 4)
#   wav      — k1=decoded n_samples, k2=zero_crossings, v=round(rms, 6)
#   avi      — k1=frame_idx, k2=((phash>>31)^phash)&0x7FFFFFFF (the 64-bit
#              frame phash folded into the row schema's INTEGER slot),
#              v=round(mean_intensity, 4); one row per SAMPLED frame
_MM_REAL_GOLDEN = [
    ("png", i, w, h, v) for i, w, h, v in [
        (0, 96, 64, 84.1667), (1, 384, 256, 121.1667), (2, 672, 448, 123.4649),
        (3, 960, 640, 125.4333), (4, 1024, 682, 127.5554), (5, 96, 1024, 112.5),
        (6, 323, 1024, 124.8226), (7, 672, 64, 119.9425), (8, 960, 256, 129.1),
        (9, 1024, 367, 126.7182), (10, 96, 640, 122.9), (11, 384, 832, 128.2738),
    ]
] + [
    ("jpeg", i, w, h, v) for i, w, h, v in [
        (100, 96, 64, 84.1617), (101, 144, 96, 111.0483),
        (102, 192, 128, 114.4943), (103, 240, 160, 128.3547),
        (104, 288, 192, 120.986), (105, 96, 224, 111.1545),
        (106, 144, 256, 122.8309), (107, 192, 64, 125.1795),
    ]
] + [
    ("wav", i, n, zc, v) for i, n, zc, v in [
        (200, 7500, 412, 0.395413), (201, 8500, 1031, 0.234064),
        (202, 9500, 1044, 0.395144), (203, 7500, 1030, 0.209789),
        (204, 8500, 467, 0.395269), (205, 9500, 784, 0.386553),
        (206, 7500, 825, 0.395317), (207, 8500, 1168, 0.166179),
    ]
] + [
    ("avi", i, fi, k2, v) for i, fi, k2, v in [
        (300, 0, 528481777, 84.1617), (300, 10, 2036551000, 123.6993),
        (301, 0, 1603343135, 131.2003), (301, 10, 2046150140, 131.0986),
        (301, 20, 49872626, 144.7093), (302, 0, 1927530108, 138.3018),
        (302, 10, 1335638385, 128.6238), (302, 20, 1048047583, 153.613),
        (303, 0, 2146009087, 124.3912), (303, 10, 860289, 118.5378),
        (304, 0, 167640055, 110.2002), (304, 10, 1022987934, 108.0912),
        (304, 20, 1229988366, 108.6648), (305, 0, 321005311, 116.676),
        (305, 10, 1545148205, 127.0845), (305, 20, 1906952463, 129.3882),
    ]
]


@register(
    "multimodal_real_codec",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{m}', {i}::BIGINT, {k1}::INTEGER, {k2}::INTEGER, "
                f"{v}::DOUBLE)" for m, i, k1, k2, v in _MM_REAL_GOLDEN)
    + ") AS t(modality, media_id, k1, k2, v)",
    "multimodal REAL decode end-to-end (VERDICT r04 #4): seeded gradients "
    "encoded to actual PNG (pngio) and baseline-JFIF 4:4:4/4:2:0 (jpegio) "
    "bytes through the resize/feature kernel, seeded sine mixes encoded to "
    "actual RIFF/PCM bytes (wavio) through the RMS/zero-crossing kernel, and "
    "seeded per-frame gradients packed into actual RIFF/AVI containers "
    "(aviio, alternating MJPG and stride-padded DIB) through the frame-"
    "sampling kernel — all three decoded by MediaDecoder, the one magic-byte "
    "codec table — per-media-id/per-frame rows so a single-pixel codec "
    "drift breaks the hash")
def q_multimodal_real_codec(spark, sf_dir):
    from br_doc_ocr_spark.ops import multimodal as mm

    png = mm.synth_png_media(spark, n=12)
    jpg = mm.synth_jpeg_media(spark, n=8, start_id=100)
    img = (mm.image_features(png.unionByName(jpg))[0]
           .select(sf.when(sf.col("media_id") < 100, "png")
                   .otherwise("jpeg").alias("modality"),
                   "media_id",
                   sf.col("out_width").alias("k1"),
                   sf.col("out_height").alias("k2"),
                   sf.round("mean_intensity", 4).alias("v")))
    wav = (mm.audio_features(mm.synth_wav_media(spark, n=8, start_id=200))[0]
           .select(sf.lit("wav").alias("modality"), "media_id",
                   sf.col("n_samples").alias("k1"),
                   sf.col("zero_crossings").alias("k2"),
                   sf.round("rms", 6).alias("v")))
    # k2 pins the full 64-bit frame phash folded to 31 bits (the row schema
    # is INTEGER); the fold is plain two's-complement bit math so Spark's
    # arithmetic shiftright reproduces the frozen Python value exactly
    avi = (mm.sample_video_frames(mm.synth_avi_media(spark, n=6,
                                                     start_id=300),
                                  every_nth=10)[0]
           .select(sf.lit("avi").alias("modality"), "media_id",
                   sf.col("frame_idx").alias("k1"),
                   sf.shiftright("phash", 31).bitwiseXOR(sf.col("phash"))
                   .bitwiseAND(sf.lit(0x7FFFFFFF)).cast("int").alias("k2"),
                   sf.round("mean_intensity", 4).alias("v")))
    return img.unionByName(wav).unionByName(avi)


@register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NOT NULL
                       AND epoch_us(ts) - epoch_us(lag(ts) OVER w)
                           <= 1800000000
                  THEN 0 ELSE 1 END AS new_s
      FROM events
      -- NULLS FIRST matches Spark's ASC default (DuckDB defaults NULLS
      -- LAST): a NULL-ts event must open session 0, not shift every other
      -- session index (latent-only — the fixtures have no NULL ts)
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             CAST(sum(new_s) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST, event_id
                                   ROWS UNBOUNDED PRECEDING) - 1
                  AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM sess GROUP BY user_id, session_idx
    """,
    "gap-based sessionization (ops/temporal.sessionize, r05 — an operator "
    "Spark lacks as a built-in and every event/training-data pipeline "
    "needs): 30-min-gap sessions per user via the lag→flag→cumsum window "
    "formulation (ONE exchange keyed by user), then per-session event "
    "count / value total / exact-microsecond duration — per-session rows "
    "so a mis-assigned event anywhere breaks the value hash")
def q_sessionize_events(spark, sf_dir):
    from br_doc_ocr_spark.ops import temporal

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "value",
                                           "event_id")
    sess = temporal.sessionize(ev, gap_seconds=1800, tiebreak_col="event_id")
    us = _unix_micros_utc
    return (sess.groupBy("user_id", "session_idx")
            .agg(sf.count("*").alias("n_events"),
                 sf.round(sf.sum("value"), 2).alias("total_value"),
                 (us(sf.max("ts")) - us(sf.min("ts"))).alias("duration_us")))


# ---------------------------------------------------------------------------
# Driver-coverage guard (VERDICT r02 #1/#7): the driver records CORRECTNESS
# rows for only the FIRST DRIVER_RECORD_CAP entries of queries(). Round 2
# shipped 60 entries and the last 10 — including every round-1 failure —
# silently fell out of the hard correctness signal. The catalog is therefore
# consolidated to ≤ 50 entries (merged entries name their r02 parents in
# their docstrings) and re-ordered so the 10 previously-unrecorded names
# come first. Adding an entry past the cap raises at import time — a new
# query can never again silently push an existing one out of coverage.
# ---------------------------------------------------------------------------

DRIVER_RECORD_CAP = 50

_DRIVER_ORDER = [
    # new this round (r05): the REAL-codec decode paths get a hard driver
    # row (VERDICT r04 #4) — slots freed by merging the three FakeDecoder
    # multimodal entries into one tagged union — and gap-based
    # sessionization lands in the remaining free slot
    "multimodal_real_codec", "sessionize_events",
    # new in r04: the round-3 flagship ops got hard driver rows
    # (VERDICT r03 #1) — slots freed by merging text_token_stats into
    # text_quality and fn_state_extraction into explode_digit_counts
    "redact_text_audit", "curate_drop_reasons",
    # the entries with no driver CORRECTNESS row in r02 (VERDICT r02 #1);
    # the three multimodal_* entries merged into multimodal_features in r05
    "text_fingerprint", "eval_extraction_report", "extract_schema_guided",
    "explode_multidoc_segments", "extract_multidoc", "classify_alternatives",
    "text_langid", "multimodal_features",
    # new in r03
    "ann_cosine_topk_int8",
    # extraction + LLM-data operators
    "extract_pipeline_summary", "extract_field_counts",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_components",
    "dedup_exact_groups", "dedup_token_jaccard", "dedup_embedding_cosine",
    "ann_topk", "ann_knn_join", "embedding_quantize_int8", "temporal_joins",
    # relational surface
    "pricing_summary", "filter_isin", "projection_pushdown",
    "projection_null_init", "status_routing", "join_broadcast_agg",
    "join_multiway", "join_semi_anti", "join_full_outer_alignment",
    "window_topk_running", "window_lag_gap", "sort_report",
    "agg_rollup_time", "agg_approx_distinct", "set_ops",
    "explode_digit_counts", "fn_cnpj_date_normalize", "fn_currency_parse",
    "fn_invoice_totals", "fn_json_extract",
    "deterministic_split", "event_time_window", "eval_prf_flags",
    "dataset_conversation", "text_quality",
]

if set(_DRIVER_ORDER) != set(REGISTRY):
    raise RuntimeError(
        "queries.py registry drift: _DRIVER_ORDER and @register entries "
        f"disagree — missing from order: {sorted(set(REGISTRY) - set(_DRIVER_ORDER))}, "
        f"stale in order: {sorted(set(_DRIVER_ORDER) - set(REGISTRY))}")
if len(_DRIVER_ORDER) > DRIVER_RECORD_CAP:
    raise RuntimeError(
        f"catalog has {len(_DRIVER_ORDER)} entries but the driver records "
        f"only the first {DRIVER_RECORD_CAP} — merge entries (see the "
        "tagged-union pattern in set_ops) instead of exceeding the cap")

REGISTRY = {name: REGISTRY[name] for name in _DRIVER_ORDER}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.sql for name, q in REGISTRY.items()}
