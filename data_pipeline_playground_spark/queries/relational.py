"""Relational core over the star schema (SURVEY §7 Milestone 1).

Covers the SQL-expressible operators of §2: projections/filters P1-P9,
joins J1/J4 (+ semi/anti per §2.4 note), aggregations A1/A2, sorts &
top-k T1-T5, set ops U1, scalar/date functions M1-M3. All pure
Catalyst — zero UDFs, zero shuffle beyond the declared groupBy/join
keys, small dims broadcast.

Determinism rules for oracle parity (see registry docstring): money
sums go DECIMAL→DOUBLE; every limit/rank has a total tie-break order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_playground_spark.registry import query
from data_pipeline_playground_spark.tables import local_frame, table


def _dec(col, prec: int = 18, scale: int = 2):
    """Exact-arithmetic money path: double → decimal (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({prec},{scale})")


# --- A-aggregation flagship: TPC-H-Q1-shaped pricing summary ----------------

_PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l_discount AS DECIMAL(4,2)))
           * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
  CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@query("pricing_summary", oracle=_PRICING_SUMMARY_SQL)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → filter (pushed to parquet) → partial+final hash agg.

    100 TB: map-side combine on 6 running sums; one shuffle of ~4 groups.
    """
    li = table(spark, sf_dir, "lineitem")
    disc = 1 - _dec("l_discount", 4, 2)
    charge = _dec("l_extendedprice") * disc * (1 + _dec("l_tax", 4, 2))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(_dec("l_extendedprice") * disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(_dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(_dec("l_discount", 4, 2)).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- J1 equi-join + T4 top-k ------------------------------------------------

_TOP_REVENUE_PARTS_SQL = """
SELECT p.p_partkey, p.p_name, p.p_brand,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_partkey, p.p_name, p.p_brand
ORDER BY revenue DESC, p.p_partkey
LIMIT 10
"""


@query("top_revenue_parts", oracle=_TOP_REVENUE_PARTS_SQL)
def top_revenue_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim revenue top-10. part is broadcast (dim ≪ fact): the
    aggregation pre-shuffles on p_partkey only; top-k is a TakeOrdered,
    not a full sort. Ties broken by p_partkey for determinism."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount", 4, 2))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name", "p_brand")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), F.asc("p_partkey"))
        .limit(10)
    )


# --- J1 + A2 HAVING ---------------------------------------------------------

_CUSTOMER_ORDER_STATS_SQL = """
SELECT c.c_mktsegment,
       count(*) AS n_orders,
       count(DISTINCT c.c_custkey) AS n_customers,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
HAVING count(*) >= 10
"""


@query("customer_order_stats", oracle=_CUSTOMER_ORDER_STATS_SQL)
def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 10)
    )


# --- J4 broadcast dim chain -------------------------------------------------

_REGION_NATION_ROLLUP_SQL = """
SELECT r.r_name AS region, n.n_name AS nation,
       count(c.c_custkey) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
"""


@query("region_nation_rollup", oracle=_REGION_NATION_ROLLUP_SQL)
def region_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two broadcast hash joins (nation 25 rows, region 5) — no shuffle
    until the final 125-group aggregation."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("c_custkey").alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_acctbal"),
        )
    )


# --- M1 date window (reference realtimeapi.py:30-37) ------------------------

_DATE_WINDOW_ORDERS_SQL = """
SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS order_day,
       count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
FROM orders
WHERE o_orderdate >= (SELECT max(o_orderdate) FROM orders) - INTERVAL 14 DAY
GROUP BY 1
"""


@query("date_window_orders", oracle=_DATE_WINDOW_ORDERS_SQL)
def date_window_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """[max-2w, max] date window (reference's today-minus-2-weeks,
    realtimeapi.py:30-37, anchored to data so results are stable).
    The 1-row max() side is broadcast into the filter."""
    orders = table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("_mx"))
    return (
        orders.join(F.broadcast(mx))
        .filter(F.col("o_orderdate") >= F.col("_mx") - F.expr("INTERVAL 14 DAYS"))
        .groupBy(F.to_date(F.date_trunc("day", "o_orderdate")).alias("order_day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("day_total"),
        )
    )


# --- M3 deterministic ids / T4 window top-k ---------------------------------

_ORDER_PRIORITY_RANK_SQL = """
SELECT o_custkey, o_orderkey, rn FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


@query("order_priority_rank", oracle=_ORDER_PRIORITY_RANK_SQL)
def order_priority_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-3-orders-per-customer via row_number (the deterministic id
    assignment of reference pipeline.py:24,37 — M3 — done with a window,
    not a driver-side counter)."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


# --- grouping sets / cube ---------------------------------------------------

_SALES_CUBE_SQL = """
WITH b AS (
  SELECT l_returnflag, l_linestatus,
         CASE WHEN l_discount = 0 THEN 'none'
              WHEN l_discount <= 0.05 THEN 'shallow'
              ELSE 'deep' END AS discount_band,
         CAST(l_quantity AS DECIMAL(10,2)) AS q,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS p
  FROM lineitem
)
SELECT l_returnflag, l_linestatus, discount_band,
       CAST(SUM(p) AS DOUBLE) AS total_price,
       count(*) AS n_lines,
       CAST(CAST(SUM(q) AS DECIMAL(18,2)) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS avg_quantity
FROM b
GROUP BY CUBE (l_returnflag, l_linestatus, discount_band)
"""


@query("sales_cube", oracle=_SALES_CUBE_SQL)
def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-dimensional sales cube: returnflag × linestatus ×
    discount band (none / ≤5% shallow / deeper). Round-11
    consolidation absorbed `discount_depth_lift` — its band-grain
    promo-effectiveness readout (n_lines, avg_quantity, gross revenue
    by discount depth) is exactly the (NULL, NULL, discount_band)
    cube slice, and every other slice now carries the same metrics.
    Decimal-exact sums downcast before double casts; the avg is one
    shared double division."""
    li = table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_discount") == 0, "none")
        .when(F.col("l_discount") <= 0.05, "shallow")
        .otherwise("deep")
    )
    return li.withColumn("discount_band", band).cube(
        "l_returnflag", "l_linestatus", "discount_band"
    ).agg(
        F.sum(_dec("l_extendedprice")).cast("double").alias("total_price"),
        F.count(F.lit(1)).alias("n_lines"),
        (
            F.sum(F.col("l_quantity").cast("decimal(10,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_quantity"),
    )


# --- semi / anti joins ------------------------------------------------------


@query(
    "customers_without_orders",
    oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "parts_with_lineitems",
    oracle="""
SELECT count(*) AS n_parts FROM part p
WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
""",
)
def parts_with_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# --- A1 collect-by-group (reference cluster.py:61-65) -----------------------


@query(
    "group_collect_docs",
    oracle="""
SELECT source,
       array_to_string(list_sort(list(doc_id)), ' ') AS doc_ids,
       count(*) AS n_docs
FROM documents GROUP BY source
""",
)
def group_collect_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy + sorted collect_list — the cluster-assembly shape
    (reference cluster.py:61-65). The collected array is sorted then
    space-joined to a string so the driver's pandas-based hasher (which
    cannot factorize list cells) can hash the output; both engines sort
    numerically before stringifying."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            " ",
        ).alias("doc_ids"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# --- A2 HAVING over events --------------------------------------------------


@query(
    "active_users",
    oracle="""
SELECT user_id, count(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY user_id HAVING count(*) >= 5
""",
)
def active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value", 18, 6)).cast("double").alias("total_value"),
        )
        .filter(F.col("n_events") >= 5)
    )


# --- U1 union literal + T2 heuristic rank (reference reddit_api.py:96-104) --

_SECTION_RANK_SQL = """
WITH sections AS (
  SELECT DISTINCT source AS section FROM documents
  UNION ALL SELECT 'Uncategorized' AS section
)
SELECT section,
       CASE WHEN section IN ('src0', 'src1', 'Uncategorized') THEN 0 ELSE 1 END AS score
FROM sections
ORDER BY score DESC, section
LIMIT 10
"""


@query("section_rank_topk", oracle=_SECTION_RANK_SQL)
def section_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reserved-heading demotion + top-10 (reference query_heuristic,
    realtimeapi.py:85-95, NUM_QUERIES=10 at :125) with the
    'Uncategorized' literal prepend (reddit_api.py:103)."""
    docs = table(spark, sf_dir, "documents")
    reserved = ("src0", "src1", "Uncategorized")
    sections = (
        docs.select(F.col("source").alias("section"))
        .distinct()
        .unionByName(local_frame(spark, [("Uncategorized",)], "section string"))
    )
    return (
        sections.withColumn(
            "score", F.when(F.col("section").isin(*reserved), 0).otherwise(1)
        )
        .orderBy(F.desc("score"), F.asc("section"))
        .limit(10)
    )


# --- P5 domain→source (reference reddit.py:50-53) ---------------------------

_DOMAIN_TO_SOURCE_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'mobile.' || source || '.com'
              ELSE 'www.' || source || '.org' END AS domain
  FROM documents
)
SELECT doc_id, domain,
       string_split(domain, '.')[len(string_split(domain, '.')) - 1] AS source_key
FROM d
"""


@query("domain_to_source", oracle=_DOMAIN_TO_SOURCE_SQL)
def domain_to_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlet key from a domain: split on '.', take second-to-last part
    (reference reddit.py:50-53: mobile.nytimes.com → nytimes).
    Domains are synthesized from documents.source to exercise the op."""
    docs = table(spark, sf_dir, "documents")
    domain = F.when(
        F.col("doc_id") % 2 == 0, F.concat(F.lit("mobile."), "source", F.lit(".com"))
    ).otherwise(F.concat(F.lit("www."), "source", F.lit(".org")))
    d = docs.select("doc_id", domain.alias("domain"))
    return d.withColumn("source_key", F.element_at(F.split("domain", "\\."), -2))


# --- P7/M2 query string construction (reference realtimeapi.py:98-101) ------

_QUERY_CONCAT_SQL = """
SELECT n.n_name,
       '"' || n.n_name || '" +"' || r.r_name || '"' AS search_query,
       concat_ws(' AND ', n.n_name, r.r_name) AS and_query
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
"""


@query("query_concat", oracle=_QUERY_CONCAT_SQL)
def query_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'"page" +"section"' query construction (realtimeapi.py:98-101)
    and ' AND '-joined reddit query shape (reddit.py:26,35)."""
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(
        "n_name",
        F.concat(
            F.lit('"'), "n_name", F.lit('" +"'), "r_name", F.lit('"')
        ).alias("search_query"),
        F.concat_ws(" AND ", "n_name", "r_name").alias("and_query"),
    )


# --- P2/P3/P4/P6 projection + null handling ---------------------------------

_PROJECT_CLEAN_SQL = """
SELECT doc_id,
       length(trim(text)) AS text_len,
       upper(lang) AS lang_uc,
       nullif(source, 'src0') AS source_or_null
FROM documents
WHERE text IS NOT NULL
"""


@query("project_clean", oracle=_PROJECT_CLEAN_SQL)
def project_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trim/lower-family scalar projection + null filter (reference
    pipeline.py:36-40 trim at :39; null_filter realtimeapi.py:160-167)."""
    docs = table(spark, sf_dir, "documents")
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.length(F.trim("text")).alias("text_len"),
        F.upper("lang").alias("lang_uc"),
        F.nullif(F.col("source"), F.lit("src0")).alias("source_or_null"),
    )


# --- statistical aggregates -------------------------------------------------

_EVENT_VALUE_STATS_SQL = """
SELECT event_type,
       count(*) AS n,
       round(avg(CAST(value AS DOUBLE)), 6) AS avg_value,
       round(stddev_samp(CAST(value AS DOUBLE)), 6) AS sd_value,
       round(quantile_cont(CAST(value AS DOUBLE), 0.25), 6) AS p25,
       round(quantile_cont(CAST(value AS DOUBLE), 0.5), 6) AS p50,
       round(quantile_cont(CAST(value AS DOUBLE), 0.75), 6) AS p75,
       round(quantile_cont(CAST(value AS DOUBLE), 0.9), 6) AS p90,
       round(quantile_cont(CAST(value AS DOUBLE), 0.95), 6) AS p95,
       round(quantile_cont(CAST(value AS DOUBLE), 0.99), 6) AS p99,
       round(corr(CAST(value AS DOUBLE), CAST(event_id AS DOUBLE)), 6) AS value_id_corr
FROM events GROUP BY event_type
"""


@query("events_value_stats", oracle=_EVENT_VALUE_STATS_SQL)
def events_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profile per event_type: exact interpolated
    percentiles p25-p99 (both engines use type-7 linear interpolation;
    F.percentile is the exact operator vs approx_percentile's sketch —
    exact is chosen because it is oracle-checkable and the per-group
    cardinality is bounded; events_sketch_certificates carries the
    100 TB sketch path), sample stddev, correlation. All rounded to
    6dp — the accumulation orders differ across engines at the
    last-ulp level. (Round-10 consolidation: absorbs the former
    event_value_percentiles — same grain, same aggregate shuffle.)"""
    ev = table(spark, sf_dir, "events")
    v = F.col("value").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(v), 6).alias("avg_value"),
        F.round(F.stddev_samp(v), 6).alias("sd_value"),
        F.round(F.percentile(v, F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile(v, F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(v, F.lit(0.75)), 6).alias("p75"),
        F.round(F.percentile(v, F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(v, F.lit(0.95)), 6).alias("p95"),
        F.round(F.percentile(v, F.lit(0.99)), 6).alias("p99"),
        F.round(F.corr(v, F.col("event_id").cast("double")), 6).alias("value_id_corr"),
    )


_USER_FIRST_LAST_SQL = """
SELECT user_id,
       count(*) AS n_events,
       min_by(event_type, event_id) AS first_event_type,
       max_by(event_type, event_id) AS last_event_type
FROM events GROUP BY user_id
"""


@query("user_first_last_event", oracle=_USER_FIRST_LAST_SQL)
def user_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-min/arg-max aggregates (min_by/max_by) keyed on the UNIQUE
    event_id — deterministic without a window, one shuffle."""
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min_by("event_type", "event_id").alias("first_event_type"),
        F.max_by("event_type", "event_id").alias("last_event_type"),
    )


# --- multi-join headline plans (Q3/Q5 shapes) -------------------------------

_SHIPPING_PRIORITY_SQL = """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@query("shipping_priority", oracle=_SHIPPING_PRIORITY_SQL)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped 3-way join: segment filter pushed into the
    customer scan, customer broadcast into orders, the orders side
    broadcast into the lineitem scan — the fact table never shuffles;
    the only wide op is the final orderkey aggregation + TakeOrdered."""
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz")
    )
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount", 4, 2))
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_NATION_VOLUME_SQL = """
SELECT n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE')
GROUP BY n.n_name
"""


@query("nation_volume", oracle=_NATION_VOLUME_SQL)
def nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-flavored dim-chain join: region filter prunes nation,
    nation prunes supplier, all three broadcast — one streaming pass
    over lineitem, then a 25-group aggregate."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    reg = table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    dims = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    rev = _dec("l_extendedprice") * (1 - _dec("l_discount", 4, 2))
    return (
        li.join(F.broadcast(dims), li.l_suppkey == dims.s_suppkey)
        .groupBy("nation")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_AGE_BAND_CASE = """CASE WHEN age_days <= 365 THEN '0-1y'
              WHEN age_days <= 1095 THEN '1-3y'
              WHEN age_days <= 1825 THEN '3-5y'
              ELSE '5y+' END"""

_ORDERS_GROUPING_SETS_SQL = f"""
WITH mx AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
a AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         CAST(datediff('day', CAST(o_orderdate AS DATE), mx.dmax) AS BIGINT)
           AS age_days
  FROM orders CROSS JOIN mx
),
b AS (
  SELECT o_orderstatus, o_orderpriority, p,
         {_AGE_BAND_CASE} AS age_band
  FROM a
)
SELECT o_orderstatus, o_orderpriority, age_band,
       count(*) AS n_orders,
       CAST(SUM(p) AS DOUBLE) AS total
FROM b
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus, age_band), (o_orderstatus), ())
"""


@query("orders_grouping_sets", oracle=_ORDERS_GROUPING_SETS_SQL)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS lattice over orders: status×priority,
    status×age_band, status, grand total — the rollup lattice without
    the cube's full cross-product. Round-11 consolidation absorbed
    `order_status_aging`: its backlog-aging report (orders per status
    per age band relative to the corpus's newest order date — old 'O'
    orders are stuck work, old 'P' ones reconciliation debt) is
    exactly the (o_orderstatus, age_band) grouping set, computed from
    the same broadcast one-row max and boundary-aligned date-truncated
    differences."""
    orders = table(spark, sf_dir, "orders")
    mx = orders.agg(F.to_date(F.max("o_orderdate")).alias("dmax"))
    age = F.expr(
        "CAST(datediff(DAY, CAST(o_orderdate AS DATE), dmax) AS BIGINT)"
    )
    banded = (
        orders.crossJoin(F.broadcast(mx))
        .withColumn("age_days", age)
        .selectExpr(
            "o_orderstatus",
            "o_orderpriority",
            "CAST(o_totalprice AS DECIMAL(18,2)) AS p",
            f"{_AGE_BAND_CASE} AS age_band",
        )
    )
    banded.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, age_band,
               count(*) AS n_orders,
               CAST(SUM(p) AS DOUBLE) AS total
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus, age_band),
                                (o_orderstatus), ())
        """
    )


# --- semi-structured (JSON props) + regex string parsing --------------------

_PROPS_EXTRACT_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
       count(*) AS n
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
"""


@query("events_props_extract", oracle=_PROPS_EXTRACT_SQL)
def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read over the JSON `props` column: JSON-path extract
    inside the aggregate — no UDF, stays in codegen. The 100 TB note:
    for hot JSON fields, materialize them as columns at ingest; this
    operator is the ad-hoc exploration path."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.filter(F.col("props").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(k).cast("bigint").alias("k_total"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_PART_TYPE_PARSE_SQL = """
SELECT p_partkey,
       regexp_extract(p_type, '^(\\w+)', 1) AS type_class,
       lower(replace(p_type, ' ', '_')) AS type_slug,
       length(p_name) AS name_len
FROM part
"""


@query("part_type_parse", oracle=_PART_TYPE_PARSE_SQL)
def part_type_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction + string normalization scalars (the P-family
    generalized: regexp_extract / replace / lower / length)."""
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_class"),
        F.lower(F.replace(F.col("p_type"), F.lit(" "), F.lit("_"))).alias("type_slug"),
        F.length("p_name").alias("name_len"),
    )


# --- skew-safe salted aggregation (SCALE.md: hot-key mitigation) ------------

_SALTED_TOTALS_SQL = """
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
FROM events GROUP BY user_id
"""


@query("salted_user_totals", oracle=_SALTED_TOTALS_SQL)
def salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation — identical results to the plain
    groupBy (the oracle IS the plain groupBy), but hot keys fan out
    over (key, salt) in phase 1, bounding any single task's input at
    100 TB. Decimal partials keep the merge order-insensitive."""
    from data_pipeline_playground_spark.operators.skew import salted_sum

    ev = table(spark, sf_dir, "events")
    return salted_sum(
        ev, "user_id", F.col("value").cast("decimal(18,6)"), out="_dec_total"
    ).select("user_id", F.col("_dec_total").cast("double").alias("total"))


_SALTED_JOIN_SQL = """
SELECT s.s_suppkey AS suppkey, s.s_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY s.s_suppkey, s.s_name
"""


@query("supplier_revenue_salted", oracle=_SALTED_JOIN_SQL)
def supplier_revenue_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe fact⋈dim join via key salting — identical results to
    the plain join (the oracle IS the plain join), but the dim side is
    replicated across 16 salts and each fact row picks one replica
    deterministically, so a hot supplier key spreads over 16 tasks
    instead of one. The technique AQE's skew split cannot replace
    under bucketed/storage-partitioned layouts; decimal partials keep
    the merge order-insensitive (same discipline as
    salted_user_totals)."""
    from data_pipeline_playground_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"),
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
        ).alias("_rev"),
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_name"
    )
    return (
        salted_join(li, supp, "suppkey")
        .groupBy("suppkey", "s_name")
        .agg(
            F.sum("_rev").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- set operators: EXCEPT / INTERSECT --------------------------------------

_USER_SET_OPS_SQL = """
SELECT 'click_not_error' AS set_op, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'click'
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error'
)
UNION ALL
SELECT 'purchase_and_signup' AS set_op, user_id FROM (
  SELECT user_id FROM events WHERE event_type = 'purchase'
  INTERSECT
  SELECT user_id FROM events WHERE event_type = 'signup'
)
"""


@query("user_set_ops", oracle=_USER_SET_OPS_SQL)
def user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT and INTERSECT set semantics in one labeled union —
    U-family (round-10 consolidation of users_click_not_error +
    users_purchase_and_signup: both operators stay first-class in one
    plan, distinguished by the set_op label).

    subtract == EXCEPT DISTINCT (set semantics; exceptAll would only
    remove one occurrence per match — multiset semantics); intersect
    == INTERSECT DISTINCT."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    signups = ev.filter(F.col("event_type") == "signup").select("user_id")
    return clicks.subtract(errors).select(
        F.lit("click_not_error").alias("set_op"), "user_id"
    ).unionAll(
        purchases.intersect(signups).select(
            F.lit("purchase_and_signup").alias("set_op"), "user_id"
        )
    )


# --- VARIANT semi-structured path (Spark 4) ---------------------------------

_PROPS_VARIANT_SQL = """
WITH x AS (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events WHERE props IS NOT NULL
)
SELECT event_type,
       min(k) AS k_min,
       max(k) AS k_max,
       CAST(sum(k) AS BIGINT) AS k_sum,
       CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_k_gt50
FROM x GROUP BY event_type
"""


@query("events_props_variant", oracle=_PROPS_VARIANT_SQL)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VARIANT twin of events_props_extract: props parsed ONCE into
    Spark 4's binary semi-structured VARIANT encoding, then typed
    extractions (`try_variant_get`) feed the aggregate. Vs per-path
    `get_json_object`, the parse cost is paid once per row regardless
    of how many fields are read — the scale answer for multi-field
    schema-on-read over big JSON columns (shredded storage at rest is
    the step beyond). Same single map-side-combinable shuffle."""
    ev = table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "bigint")
    return (
        ev.filter(F.col("props").isNotNull())
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum("k").cast("bigint").alias("k_sum"),
            F.count_if(F.col("k") > 50).alias("n_k_gt50"),
        )
    )


# --- LATERAL correlated subquery (top-n per outer row) ----------------------

_LATERAL_TOPN_SQL = """
SELECT r.r_name AS region, t.n_name AS nation, t.n_custs
FROM region r,
LATERAL (
  SELECT n.n_name, count(c.c_custkey) AS n_custs
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_custs DESC, n.n_name
  LIMIT 2
) t
"""


@query("region_top_nations_lateral", oracle=_LATERAL_TOPN_SQL)
def region_top_nations_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery surface: top-2 nations by customer
    count per region, written as SQL LATERAL on BOTH engines (the
    per-outer-row table subquery SQL:2016 defines; Spark supports it
    since 3.2). Catalyst decorrelates the lateral into a join +
    windowed rank under the hood — same physical family as the
    explicit window form used elsewhere (top_part_per_supplier), so
    the declarative phrasing costs nothing at scale while exercising
    the decorrelation machinery end-to-end."""
    for t in ("region", "nation", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPN_SQL)


# --- pandas-API-on-Spark surface -----------------------------------------------

_PS_PROFILE_SQL = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price
FROM orders GROUP BY o_orderstatus
"""


@query("ps_orders_profile", oracle=_PS_PROFILE_SQL)
def ps_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status order profile written against the PANDAS API ON
    SPARK (`pyspark.pandas`) — the migration path for pandas codebases
    the engine must also serve: the groupby/agg below is authored as
    pandas but compiles into the SAME Catalyst hash-aggregate plan as
    the DataFrame API (plan-pinned: no Python stage, one exchange
    family), so pandas-written pipelines inherit every optimizer
    benefit.

    Statistics are deliberately order-free (counts, nunique, min/max)
    so the pandas layer introduces no float-summation parity surface.
    """
    import pyspark.pandas as ps  # noqa: F401  (registers the API)

    pdf = table(spark, sf_dir, "orders").pandas_api()
    g = pdf.groupby("o_orderstatus").agg(
        n_orders=("o_orderkey", "count"),
        n_customers=("o_custkey", "nunique"),
        min_price=("o_totalprice", "min"),
        max_price=("o_totalprice", "max"),
    )
    out = g.reset_index().to_spark()
    return out.select(
        F.col("o_orderstatus").alias("status"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        "min_price",
        "max_price",
    )


