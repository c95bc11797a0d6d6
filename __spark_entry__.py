"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator family from
SURVEY.md §2 (plus the large-scale training-data operators); each
callable takes (spark, sf_dir) and returns a DataFrame built with
yaetos_spark operators / DataFrame plans. ``oracle_sql()`` returns the
equivalent DuckDB SQL. Column names and value rounding are aligned on
both sides so the driver's order-insensitive value-hash matches.

Float policy: aggregates of doubles are rounded (2-6 dp) on BOTH sides;
thresholds are applied to identically-computed expressions so IEEE
results agree bit-for-bit except at measure-zero boundaries.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from yaetos_spark.functions.vectors import cosine
from yaetos_spark.operators import curation as CU
from yaetos_spark.operators import dedup as D
from yaetos_spark.operators import similarity as S
from yaetos_spark.operators import text as TX
from yaetos_spark.operators import timeseries as TS
from yaetos_spark.operators import windows as WOP
from yaetos_spark.operators.quality import compare_fuzzy, identify_non_unique_pks
from yaetos_spark.sources.tables import load_table


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _tp(spark, sf_dir, name):
    """Load with the adaptive starved-scan repartition (guide §2.5):
    identical rows, but a single-row-group input is hash-spread over
    the session's cores so the scan-stage work (filters, explodes,
    partial aggregates) parallelizes. No-op on production layouts
    (row groups >= cores) and under SPARK_GRAFT_SCAN_PARALLELIZE=0.
    Used ONLY where an interleaved A/B showed a win — aggregation
    plans whose map side is CPU-dense and whose partial-agg output
    stays small; see OPTIMIZATION_r11.md for the per-query evidence."""
    return load_table(spark, sf_dir, name, parallelize=True)


def _tpk(spark, sf_dir, name, key):
    """Like _tp but repartitions on ``key`` — used where the table's
    natural key is NOT otherwise read by the query, so keying on it
    would drag an unused column into ReadSchema and break pruning
    (guide §6.2); pick a high-cardinality column the query reads."""
    return load_table(spark, sf_dir, name, parallelize=key)


def _dsum(col, scale: int = 4):
    """Engine-portable money sum: the per-row double expression is
    IEEE-identical in any engine; casting it to DECIMAL makes the SUM
    exact (associative), so Spark and the DuckDB oracle agree
    bit-for-bit. The result is NOT rounded: rounding exact-decimal
    values is where engines disagree (Spark rounds the shortest string
    repr, DuckDB the binary value), while identical doubles hash
    identically without it.

    Boundary: the decimal->double cast is identically rounded across
    engines only while the scaled integer (value x 10^scale) fits a
    double's 53-bit mantissa — above that DuckDB double-rounds via its
    int128 representation (observed as 1-ulp drift in value_drift /
    regression_stats at sf0.1 before their r5 fixes). At scale 4 that
    is ~9e11 in summed value, comfortable through sf10 on this schema;
    for bigger magnitudes shrink operands first (the common-integer-
    shift reduction in stats.py:ols_per_group) or lower the scale."""
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double")


def _davg(col, scale: int = 4):
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double") / F.count(F.lit(1))


# ---------------------------------------------------------------------
# entry: flagship query (smoke check at sf0.001)
# ---------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: segment-filtered customer⋈orders⋈lineitem revenue top-k
    (scan→filter→broadcast join→agg→sort→limit spine)."""
    return _topk_revenue(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------
# relational corpus (SURVEY §2.3-2.9)
# ---------------------------------------------------------------------


def _pricing_summary(spark, sf_dir):
    li = _tpk(spark, sf_dir, "lineitem", "l_extendedprice")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
            _dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), scale=6
            ).alias("sum_charge"),
            _davg(F.col("l_quantity")).alias("avg_qty"),
            _davg(F.col("l_extendedprice")).alias("avg_price"),
            _davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _filter_project(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return (
        part.filter(
            (F.col("p_size").between(10, 30))
            & F.col("p_type").like("%AND%")
            & ~F.col("p_brand").isin("Brand#1", "Brand#2")
        )
        .select(
            "p_partkey",
            F.lower("p_name").alias("name_lower"),
            "p_type",
            "p_size",
            F.round(F.col("p_retailprice") * 1.1, 2).alias("markup_price"),
        )
    )


_FILTER_PROJECT_SQL = """
SELECT p_partkey, lower(p_name) AS name_lower, p_type, p_size,
       round(p_retailprice * 1.1, 2) AS markup_price
FROM part
WHERE p_size BETWEEN 10 AND 30 AND p_type LIKE '%AND%'
  AND p_brand NOT IN ('Brand#1', 'Brand#2')
"""


def _topk_revenue(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _tp(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1999-01-01"))
    li = _tp(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1999-01-01"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")).alias("_rev_dec")
        )
        .orderBy(F.desc("_rev_dec"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("_rev_dec").cast("double").alias("revenue"),
        )
    )


_TOPK_REVENUE_SQL = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) DESC, l_orderkey
LIMIT 10
"""


def _region_revenue(spark, sf_dir):
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


_REGION_REVENUE_SQL = """
SELECT n_name, CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def _user_sessions(spark, sf_dir):
    ev = _tp(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.unix_timestamp(F.min("ts")).alias("first_sec"),
        F.unix_timestamp(F.max("ts")).alias("last_sec"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("delta_sec"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        _davg(F.col("value"), scale=6).alias("avg_value"),
        _dsum(F.col("value"), scale=6).alias("sum_value"),
    )


_USER_SESSIONS_SQL = """
SELECT user_id,
       CAST(floor(extract(epoch FROM min(ts))) AS BIGINT) AS first_sec,
       CAST(floor(extract(epoch FROM max(ts))) AS BIGINT) AS last_sec,
       CAST(floor(extract(epoch FROM max(ts))) AS BIGINT)
         - CAST(floor(extract(epoch FROM min(ts))) AS BIGINT) AS delta_sec,
       count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_value,
       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY user_id
"""


def _conditional_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    n_clicks = F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks")
    n_purchases = F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases")
    return ev.groupBy("user_id").agg(
        n_clicks,
        n_purchases,
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_views"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value"))
            .otherwise(F.lit(0.0))
            .cast("decimal(28,6)")
        ).cast("double").alias("purchase_value"),
    )


_CONDITIONAL_AGG_SQL = """
SELECT user_id,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
       CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE) AS purchase_value
FROM events
GROUP BY user_id
"""


def _full_outer_coalesce(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_cust"))
    supp = _t(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(F.count(F.lit(1)).alias("n_supp"))
    joined = cust.join(supp, cust.c_nationkey == supp.s_nationkey, "full_outer")
    return joined.select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


_FULL_OUTER_SQL = """
WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
       coalesce(n_cust, 0) AS n_cust,
       coalesce(n_supp, 0) AS n_supp
FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
"""


def _setop_intersect(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


_SETOP_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def _setop_except(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    supp = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return cust.exceptAll(supp)


_SETOP_EXCEPT_SQL = """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT DISTINCT s_nationkey AS nationkey FROM supplier
"""


def _topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    out = WOP.topk_per_group(
        orders, ["o_orderpriority"], "o_totalprice", k=3, descending=True, tie_break="o_orderkey"
    )
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice", F.col("rank").alias("rn"))


_TOPK_PER_GROUP_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


def _cte_casewhen(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return (
        orders.withColumn("bucket", bucket)
        .groupBy("o_orderstatus", "bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"), _davg(F.col("o_totalprice")).alias("avg_price"))
    )


_CTE_CASEWHEN_SQL = """
WITH t AS (
  SELECT o_orderstatus,
         CASE WHEN o_totalprice < 100000 THEN 'small'
              WHEN o_totalprice < 300000 THEN 'medium'
              ELSE 'large' END AS bucket,
         o_totalprice
  FROM orders
)
SELECT o_orderstatus, bucket, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_price
FROM t GROUP BY o_orderstatus, bucket
"""


def _union_all_sides(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("side"), F.col("c_acctbal").alias("acctbal")
    )
    supp = _t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("side"), F.col("s_acctbal").alias("acctbal")
    )
    return (
        cust.unionByName(supp)
        .groupBy("side")
        .agg(F.count(F.lit(1)).alias("n"), _davg(F.col("acctbal")).alias("avg_bal"))
    )


_UNION_SQL = """
WITH u AS (
  SELECT 'customer' AS side, c_acctbal AS acctbal FROM customer
  UNION ALL
  SELECT 'supplier' AS side, s_acctbal AS acctbal FROM supplier
)
SELECT side, count(*) AS n,
       CAST(sum(CAST(acctbal AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_bal
FROM u GROUP BY side
"""


def _semi_anti_counts(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    with_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    without = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    return with_orders.crossJoin(without)


_SEMI_ANTI_SQL = """
SELECT
  (SELECT count(*) FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_with_orders,
  (SELECT count(*) FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS n_without_orders
"""


def _running_window(spark, sf_dir):
    # starved-scan repartition keyed on l_suppkey: hash partitioning on
    # a subset of the groupBy keys satisfies the aggregation's
    # clustering AND the window's partitionBy, so the one repartition
    # exchange replaces both downstream exchanges (guide §2.4 "window
    # partitioned by the same key as a preceding aggregation").
    # Interleaved A/B at sf0.1: med 1.63 s (plain) / 1.47 s (orderkey
    # repart) / 0.75 s (this), identical output.
    li = load_table(spark, sf_dir, "lineitem", parallelize="l_suppkey")
    monthly = (
        li.groupBy("l_suppkey", F.date_format("l_shipdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")).alias("_rev_dec")
        )
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        monthly.withColumn("_run_dec", F.sum("_rev_dec").over(w))
        .select(
            "l_suppkey",
            "month",
            F.col("_rev_dec").cast("double").alias("rev_month"),
            F.col("_run_dec").cast("double").alias("running_rev"),
        )
    )


_RUNNING_WINDOW_SQL = """
WITH m AS (
  SELECT l_suppkey, strftime(l_shipdate, '%Y-%m') AS month,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS rev_dec
  FROM lineitem GROUP BY 1, 2
)
SELECT l_suppkey, month, CAST(rev_dec AS DOUBLE) AS rev_month,
       CAST(sum(rev_dec) OVER (PARTITION BY l_suppkey ORDER BY month
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
FROM m
"""


def _summary_stats(spark, sf_dir):
    # starved-scan repartition keyed on l_partkey: read by the query,
    # and the countDistinct's partial-distinct phase clusters on it
    li = _tpk(spark, sf_dir, "lineitem", "l_partkey")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        _davg(F.col("l_quantity")).alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("std_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        _davg(F.col("l_extendedprice")).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


_SUMMARY_STATS_SQL = """
SELECT count(*) AS n_rows,
       round(min(l_quantity), 2) AS min_qty,
       round(max(l_quantity), 2) AS max_qty,
       CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_qty,
       round(stddev_samp(l_quantity), 4) AS std_qty,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_price,
       round(stddev_samp(l_extendedprice), 4) AS std_price,
       count(DISTINCT l_partkey) AS n_parts
FROM lineitem
"""


def _json_extract_agg(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("k").alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


_JSON_EXTRACT_SQL = """
SELECT event_type, count(*) AS n,
       avg(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type
"""


def _month_trunc_agg(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_orders"), _dsum(F.col("o_totalprice")).alias("total"))
    )


_MONTH_TRUNC_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) AS total
FROM orders GROUP BY 1
"""


def _subquery_above_avg(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT count(*) AS n_above,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_above
        FROM orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        """
    )


_SUBQUERY_SQL = """
SELECT count(*) AS n_above,
       CAST(sum(CAST(o_totalprice AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_above
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
"""


def _rollup_counts(spark, sf_dir):
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    base = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return base.rollup("r_name", "n_name").agg(F.count(F.lit(1)).alias("n_cust"))


_ROLLUP_SQL = """
SELECT r_name, n_name, count(*) AS n_cust
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def _orderby_limit(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .limit(20)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("shipdate"),
        )
    )


_ORDERBY_LIMIT_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, strftime(l_shipdate, '%Y-%m-%d') AS shipdate
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 20
"""


def _nation_trade_volume(spark, sf_dir):
    """TPC-H Q7 analog: bilateral shipping volume between two nations
    by year. Plan shape for 100 TB: lineitem is the only big side —
    supplier/customer/nation broadcast, orders joins on the fact key;
    one exchange on the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    trio = ["NATION_1", "NATION_2", "NATION_3"]
    pair = (
        F.col("supp_nation").isin(trio)
        & F.col("cust_nation").isin(trio)
        & (F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        li.filter(F.col("l_shipdate").between("1996-01-01", "1998-12-31"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


_NATION_VOLUME_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year, l_extendedprice, l_discount
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate BETWEEN '1996-01-01' AND '1998-12-31'
    AND n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
    AND n1.n_name <> n2.n_name
)
GROUP BY supp_nation, cust_nation, l_year
"""


def _market_share(spark, sf_dir):
    """TPC-H Q8 analog: one nation's share of regional revenue by year
    — conditional-sum over a multi-join, ratio as cross-engine-exact
    decimal division."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    n_c = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cr_key"))
    n_s = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_c), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(n_s), supp.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(region), F.col("cr_key") == region.r_regionkey)
        .filter(F.col("r_name") == "ASIA")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                # each sum is EXACT decimal; divide as doubles — IEEE
                # division of identical doubles is engine-identical,
                # while decimal/decimal result scale is not
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", volume).otherwise(
                        F.lit(0).cast("decimal(28,4)")
                    )
                ).cast("double")
                / F.sum(volume).cast("double")
            ).alias("mkt_share")
        )
    )


_MARKET_SHARE_SQL = """
SELECT o_year,
       CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
       / CAST(sum(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
)
GROUP BY o_year
"""


def _parts_supplier_counts(spark, sf_dir):
    """TPC-H Q16 analog: distinct suppliers per (brand, type, size)
    excluding one brand and a NOT-IN size list — count-distinct after
    an anti-filtered join."""
    part = _t(spark, sf_dir, "part")
    li = _tpk(spark, sf_dir, "lineitem", "l_partkey")
    return (
        part.filter(
            (F.col("p_brand") != "Brand#1") & ~F.col("p_size").isin(1, 4, 7)
        )
        .join(li, part.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .filter(F.col("supplier_cnt") >= 5)
    )


_PARTS_SUPPLIER_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size NOT IN (1, 4, 7)
GROUP BY p_brand, p_type, p_size
HAVING count(DISTINCT l_suppkey) >= 5
"""


def _orderby_ordinal(spark, sf_dir):
    """SQL passthrough with ordinal sort positions (SURVEY §2.7 'ORDER
    BY ordinal' — reference jobs sort by column position in raw SQL).
    Deterministic total order so the LIMIT keeps the same rows in any
    engine."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation_ord_v")
    return spark.sql(
        "SELECT n_regionkey, n_name FROM nation_ord_v ORDER BY 1 DESC, 2 LIMIT 10"
    )


_ORDERBY_ORDINAL_SQL = """
SELECT n_regionkey, n_name FROM nation ORDER BY 1 DESC, 2 LIMIT 10
"""


def _quoted_identifiers(spark, sf_dir):
    """Backtick-quoted identifiers through the SQL surface (SURVEY
    §2.9 'backtick-quoted identifiers'; oracle uses ANSI double
    quotes — same result, per-dialect quoting)."""
    _t(spark, sf_dir, "region").createOrReplaceTempView("region_q_v")
    return spark.sql(
        "SELECT r_name AS `region name`, r_regionkey AS `key id` FROM region_q_v"
    )


_QUOTED_IDENTIFIERS_SQL = """
SELECT r_name AS "region name", r_regionkey AS "key id" FROM region
"""


def _event_gaps(spark, sf_dir):
    ev = _tp(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("gap", gap)
        .groupBy("user_id")
        .agg(F.count("gap").alias("n_gaps"), F.avg("gap").alias("avg_gap_sec"))
    )


_EVENT_GAPS_SQL = """
WITH g AS (
  SELECT user_id,
         CAST(floor(extract(epoch FROM ts)) AS BIGINT)
           - lag(CAST(floor(extract(epoch FROM ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts) AS gap
  FROM events
)
SELECT user_id, count(gap) AS n_gaps, avg(gap) AS avg_gap_sec
FROM g GROUP BY user_id
"""


def _asof_join_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_event_id")
    )
    joined = WOP.asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="click_ts",
        direction="backward", right_cols=["click_event_id"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("purchase_sec"),
        "click_event_id",
        F.unix_timestamp("asof_click_ts").alias("click_sec"),
    )


_ASOF_SQL = """
SELECT p.event_id, p.user_id,
       CAST(floor(extract(epoch FROM p.ts)) AS BIGINT) AS purchase_sec,
       c.event_id AS click_event_id,
       CAST(floor(extract(epoch FROM c.ts)) AS BIGINT) AS click_sec
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def _pk_violations(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    bad = identify_non_unique_pks(orders, ["o_custkey"])
    return bad.select("o_custkey", F.col("_pk_count").alias("n_rows")).distinct()


_PK_VIOLATIONS_SQL = """
SELECT o_custkey, count(*) AS n_rows FROM orders GROUP BY o_custkey HAVING count(*) >= 2
"""


def _dataset_compare(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    d1 = orders.select("o_orderkey", "o_totalprice")
    d2 = (
        orders.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 100 == 0, F.col("o_totalprice") * 1.001)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    )
    diff = compare_fuzzy(d1, d2, ["o_orderkey"], numeric_pct_threshold=0.01)
    return diff.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("_in_1") & ~F.col("_in_2"), 1).otherwise(0)).alias("only_in_1"),
        F.sum(F.when(F.col("_in_2") & ~F.col("_in_1"), 1).otherwise(0)).alias("only_in_2"),
        F.sum(
            F.when(F.col("_in_1") & F.col("_in_2") & ~F.col("o_totalprice_match"), 1).otherwise(0)
        ).alias("price_mismatches"),
    )


_DATASET_COMPARE_SQL = """
WITH d2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 1.001 ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 97 != 0
),
j AS (
  SELECT d1.o_orderkey AS k1, d2.o_orderkey AS k2, d1.o_totalprice AS p1, d2.o_totalprice AS p2
  FROM orders d1 FULL OUTER JOIN d2 ON d1.o_orderkey = d2.o_orderkey
)
SELECT count(*) AS n_keys,
       CAST(sum(CASE WHEN k1 IS NOT NULL AND k2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_in_1,
       CAST(sum(CASE WHEN k2 IS NOT NULL AND k1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_in_2,
       CAST(sum(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
                 AND NOT (abs((p1 - p2) / p1) * 100 <= 0.01) THEN 1 ELSE 0 END) AS BIGINT) AS price_mismatches
FROM j
"""


# ---------------------------------------------------------------------
# training-data operators (dedup / text / similarity)
# ---------------------------------------------------------------------


def _text_stats(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        TX.word_count("text").alias("n_words"),
        TX.bpe_ish_token_count("text").alias("n_tokens_est"),
        F.round(TX.avg_word_len("text"), 6).alias("avg_word_len"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
    )


_TEXT_STATS_SQL = r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
       CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
            w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_tokens_est,
       round(length(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', ''))
             / len(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_word_len,
       round(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text), 6) AS punct_ratio
FROM documents
"""


def _lang_quality(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    from yaetos_spark.functions.hashing import normalize_text, stable_fingerprint

    return docs.select(
        "doc_id",
        "lang",
        TX.lang_id("text").alias("lang_pred"),
        F.round(TX.stopword_ratio("text"), 6).alias("stopword_ratio"),
        TX.quality_score("text").alias("quality_score"),
        stable_fingerprint(normalize_text("text")).alias("fingerprint"),
    )


def _lang_quality_oracle() -> str:
    # replicate operators/text.py formulas exactly in DuckDB SQL
    def hits(w):
        needle = f" {w} "
        return (
            f"CAST((length(dd) - length(replace(dd, '{needle}', ''))) / {len(needle)} AS BIGINT)"
        )

    stop_hits = " + ".join(hits(w) for w in TX.STOPWORDS)
    lang_scores = {
        lang: " + ".join(hits(w) for w in ws) for lang, ws in sorted(TX.LANG_MARKERS.items())
    }
    score_cols = ", ".join(f"({expr}) AS s_{lang}" for lang, expr in lang_scores.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in lang_scores) + ")"
    lang_case = "CASE " + " ".join(
        f"WHEN s_{lang} = best AND best > 0 THEN '{lang}'" for lang in lang_scores
    ) + " ELSE 'und' END"
    return rf"""
WITH base AS (
  SELECT doc_id, lang, text,
         replace(' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ', ' ', '  ') AS dd,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
         length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) / length(text) AS p_ratio
  FROM documents
),
scored AS (
  SELECT doc_id, lang, text, n_words, p_ratio,
         ({stop_hits}) AS stop_hits_total, {score_cols}
  FROM base
),
final AS (
  SELECT doc_id, lang, text, n_words, p_ratio, stop_hits_total,
         s_de, s_en, s_es, s_fr, {best} AS best,
         CASE WHEN n_words = 0 THEN 0.0 ELSE stop_hits_total / n_words END AS s_ratio
  FROM scored
)
SELECT doc_id, lang,
       {lang_case} AS lang_pred,
       round(s_ratio, 6) AS stopword_ratio,
       round((least(length(text) / 500.0, 1.0)
              + (1.0 - least(p_ratio * 5, 1.0))
              + least(s_ratio * 4, 1.0)) / 3, 6) AS quality_score,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
FROM final
"""


def _dedup_exact_norm(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return D.normalized_dup_groups(docs.unionByName(dupes))


_DEDUP_EXACT_SQL = r"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
)
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp,
       count(*) AS n_dups, min(doc_id) AS keep_id
FROM aug GROUP BY 1 HAVING count(*) > 1
"""


_MINHASH_K = 16
_MINHASH_BANDS = 4
_MINHASH_THRESHOLD = 0.2
_NGRAM_N = 3


def _minhash_lsh(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(
        docs, n=_NGRAM_N, num_hashes=_MINHASH_K, bands=_MINHASH_BANDS, threshold=_MINHASH_THRESHOLD
    )


def _hex_long_sql(col: str, start: int) -> str:
    """DuckDB expression: 8 hex chars of ``col`` starting at ``start``
    (1-based) parsed as BIGINT — equals Spark's conv(substr(...),16,10)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {start + j}, 1)) - 1) * {16 ** (7 - j)}"
        for j in range(8)
    )
    return f"({terms})"


def _minhash_oracle() -> str:
    from yaetos_spark.operators.dedup import MINHASH_PRIME

    k, bands, n = _MINHASH_K, _MINHASH_BANDS, _NGRAM_N
    r = k // bands
    mh_cols = ", ".join(
        f"min((h1 + {i} * h2) % {MINHASH_PRIME}) AS mh{i}" for i in range(k)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT id, {b} AS band, {concat} AS bsig FROM sigs".format(
            b=b,
            concat="concat_ws('_', " + ", ".join(f"mh{b * r + j}" for j in range(r)) + ")",
        )
        for b in range(bands)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT id, unnest(CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
       ELSE list_distinct(list_transform(generate_series(1, len(t) - {n - 1}),
            i -> array_to_string(t[i:i+{n - 1}], ' '))) END) AS shingle
  FROM toks
),
hashed AS (
  SELECT id, {_hex_long_sql('md5(shingle)', 1)} AS h1, {_hex_long_sql('md5(shingle)', 9)} AS h2
  FROM sh
),
sigs AS (
  SELECT id, {mh_cols} FROM hashed GROUP BY id
),
buckets AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.id AS id1, b.id AS id2
  FROM buckets a JOIN buckets b ON a.band = b.band AND a.bsig = b.bsig AND a.id < b.id
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT c.id1, c.id2, count(*) AS n_common
  FROM cand c
  JOIN sh s1 ON s1.id = c.id1
  JOIN sh s2 ON s2.id = c.id2 AND s2.shingle = s1.shingle
  GROUP BY c.id1, c.id2
)
SELECT i.id1, i.id2, round(i.n_common / (z1.n_sh + z2.n_sh - i.n_common), 6) AS jaccard
FROM inter i JOIN sizes z1 ON z1.id = i.id1 JOIN sizes z2 ON z2.id = i.id2
WHERE round(i.n_common / (z1.n_sh + z2.n_sh - i.n_common), 6) >= {_MINHASH_THRESHOLD}
"""


_JACCARD_THRESHOLD = 0.2


def _ngram_jaccard(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return D.jaccard_pairs(docs, n=_NGRAM_N, threshold=_JACCARD_THRESHOLD)


def _ngram_jaccard_oracle() -> str:
    n = _NGRAM_N
    return rf"""
WITH toks AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT id, unnest(CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
       ELSE list_distinct(list_transform(generate_series(1, len(t) - {n - 1}),
            i -> array_to_string(t[i:i+{n - 1}], ' '))) END) AS shingle
  FROM toks
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT i.id1, i.id2, i.n_common,
       round(i.n_common / (z1.n_sh + z2.n_sh - i.n_common), 6) AS jaccard
FROM inter i JOIN sizes z1 ON z1.id = i.id1 JOIN sizes z2 ON z2.id = i.id2
WHERE round(i.n_common / (z1.n_sh + z2.n_sh - i.n_common), 6) >= {_JACCARD_THRESHOLD}
"""


def _simhash_docs(spark, sf_dir):
    docs = _tp(spark, sf_dir, "documents")
    return D.simhash(docs)


def _simhash_oracle(where_clause: str = "") -> str:
    """Per-doc simhash CTE chain; ``where_clause`` (e.g. ``"WHERE
    doc_id % 10 = 0"``) restricts the scanned corpus — parameterized
    so derived oracles (``_simhash_near_pairs_oracle``) state their
    subset explicitly instead of text-patching this SQL."""
    bits = 32
    vote_cols = []
    for i in range(bits):
        j = 8 - i // 4
        shift = 2 ** (i % 4)
        bit = (
            f"(CAST(floor((strpos('0123456789abcdef', substr(m, {j}, 1)) - 1) / {shift}) AS BIGINT) % 2)"
        )
        vote_cols.append(f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS v{i}")
    votes = ", ".join(vote_cols)
    sim = " + ".join(f"CASE WHEN v{i} > 0 THEN {2 ** i} ELSE 0 END" for i in range(bits))
    return rf"""
WITH toks AS (
  SELECT doc_id AS id, unnest(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS tok
  FROM documents {where_clause}
),
h AS (SELECT id, md5(tok) AS m FROM toks),
votes AS (SELECT id, {votes} FROM h GROUP BY id)
SELECT id, CAST({sim} AS BIGINT) AS simhash FROM votes
"""


_ANN_K = 10
_ANN_N_QUERIES = 5


def _ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_N_QUERIES)
    return S.cosine_topk(emb, queries, k=_ANN_K)


_ANN_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < {_ANN_N_QUERIES}
),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM c, q WHERE c.neighbor_id != q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, round(cos, 6) AS cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= {_ANN_K}
"""


_NEAR_DUP_COS = 0.4


def _embedding_near_dup(spark, sf_dir):
    # starved-scan repartition REVERTED (r12, VERDICT r11 item 1): the
    # driver-conditions A/B (fresh process per rep, vanilla bench
    # session, median-of-3, probe-gated) measured the flip LOSING at
    # both core counts — on/off 2.10 at 32 cores, 1.27 at 8
    # (OPTIMIZATION_r12.md Change 2) — reproducing the driver's r11 cold-run
    # regression that the r11 in-session A/B missed. The exchange
    # shuffles the heavy 64-float embedding payload (guide §2.3) and
    # splits the corpus into 32 tiny Arrow batches for the one matmul
    # pass, which costs more than the single-task scan it fixes.
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(emb, threshold=_NEAR_DUP_COS)


_NEAR_DUP_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= {_NEAR_DUP_COS}
"""


def _semantic_dedup_survivors(spark, sf_dir):
    """SemDeDup-style semantic dedup contract query: the EXACT variant
    (n_clusters=1) — survivors are the vec_ids with no smaller-id
    neighbor at cosine >= threshold, a pure NOT EXISTS in SQL. The
    clustered scale path (k-means cells + per-cell Arrow pair scan) is
    property-tested against this exact rule (superset invariant +
    separated-cluster parity) in tests/test_operators.py.
    See yaetos_spark/operators/similarity.py:semantic_dedup."""
    # starved-scan repartition REVERTED (r12): same payload-shuffle
    # class as _embedding_near_dup above — driver-conditions A/B
    # on/off 1.27 at 32 cores, on > off in 3/3 reps
    # (OPTIMIZATION_r12.md Change 2; the r11 in-session 0.43 was warm-cache
    # confounded like its sibling)
    emb = _t(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, threshold=_NEAR_DUP_COS).select("vec_id")


_SEMANTIC_DEDUP_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id FROM e a
WHERE NOT EXISTS (
  SELECT 1 FROM e b
  WHERE b.vec_id < a.vec_id
    AND list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        >= {_NEAR_DUP_COS}
)
"""


def _dsir_scores(spark, sf_dir):
    """DSIR hashed n-gram importance log-weights (Xie et al. 2023,
    arXiv:2302.03169) over the documents table, target domain =
    English docs: fit add-1-smoothed unigram+bigram bucket
    distributions (10k md5 buckets) for target vs the whole pool, then
    score every document by its summed per-gram log ratio.  Value-level
    oracle: every arithmetic step (md5 bucket, smoothed ratio, ln) is
    engine-portable; the score is rounded to 6 decimals on both sides.
    See yaetos_spark/operators/curation.py:dsir_logweights."""
    docs = _t(spark, sf_dir, "documents")
    return CU.dsir_logweights(docs, F.col("lang") == "en")


def _dsir_oracle() -> str:
    bucket = f"{_hex_long_sql('md5(gram)', 1)} % 10000"
    return rf"""
WITH toks AS (
  SELECT doc_id, lang,
         coalesce(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> ''), []) AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(t,
           CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t) - 1),
                i -> array_to_string(t[i:i+1], ' ')) ELSE [] END)) AS gram
  FROM toks
),
bucketed AS (
  SELECT doc_id, lang, {bucket} AS bucket FROM grams
),
bc AS (
  SELECT bucket, CAST(count(*) AS DOUBLE) AS c_raw,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS c_tgt
  FROM bucketed GROUP BY bucket
),
tot AS (SELECT sum(c_raw) AS r_tot, sum(c_tgt) AS t_tot FROM bc),
w AS (
  SELECT bucket,
         ln((c_tgt + 1.0) / (t_tot + 10000.0)) - ln((c_raw + 1.0) / (r_tot + 10000.0)) AS wt
  FROM bc, tot
),
ds AS (
  SELECT b.doc_id, count(*) AS n_grams, sum(w.wt) AS s
  FROM bucketed b JOIN w USING (bucket) GROUP BY b.doc_id
)
SELECT d.doc_id, CAST(coalesce(ds.n_grams, 0) AS BIGINT) AS n_grams,
       round(coalesce(ds.s, 0.0), 6) AS dsir_logweight
FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id
"""


def _ivf_ann_exactprobe(spark, sf_dir):
    """IVF ANN machinery end-to-end, oracle-checked: with n_probe equal
    to n_cells every inverted list is probed, so the result must EQUAL
    the brute-force top-k — which DuckDB can compute. That validates
    k-means training, cell assignment, the probe equi-join and ranking;
    ``n_probe < n_cells`` is then the recall/cost dial at scale, with
    the machinery already proven."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_N_QUERIES)
    # ONE k-means iteration AND random init on purpose: probe-all ==
    # exact holds for ANY centroid set, so training quality is not
    # under test here — random init skips k-means||'s ~2 extra full
    # passes (measured interleaved at sf0.1: train 1.2-1.7 s -> 0.9-1.2 s),
    # and every Lloyd iteration beyond the first only improves centroids
    # the contract provably ignores (OPTIMIZATION_r11.md Change 8: identity
    # holds, 0.90-0.95x across two 7-rep interleaved batches; one
    # iteration still exercises assign+update end-to-end)
    cents = S.train_ivf_centroids(emb, n_cells=4, max_iter=1, init_mode="random")
    return S.ivf_topk(emb, queries, cents, k=_ANN_K, n_probe=4)


def _lsh_ann_pairs(spark, sf_dir):
    """Hyperplane-LSH near-dup recall contract.

    The LSH pair set itself depends on the seeded hyperplanes, so it has
    no SQL twin — instead the query returns a checkable report row: the
    exact brute-force pair count (oracle-computable) and whether the LSH
    path recovered >= 80% of those true pairs. Table parameters follow
    the collision-probability math for the target threshold: at
    cos >= 0.4 (theta ~ 66 deg) a pair agrees on one hyperplane with
    p = 1 - theta/pi ~ 0.63, so 2 planes/table and 8 tables give
    expected worst-case recall 1 - (1 - 0.63^2)^8 ~ 0.98. Higher
    thresholds (real near-dup, cos >= 0.9) would use more planes per
    table and fewer tables.

    r12 shape (guide §1.2 / §2.3 / §3.2): the report needs only "how
    many TRUE pairs are LSH candidates" — the candidate pair SET
    beyond its intersection with the true pairs is provably dead work
    (at sf0.1 it was ~25M generated pair rows through a distinct plus
    an exact-cosine verify join: the repo's most expensive query at
    12.1 s). A pair is a candidate iff SOME table's bucket ids agree,
    so the query now joins the true pairs (output-proportional,
    broadcastable) to per-vector bucket-id ARRAYS computed in one scan
    restricted to the true-pair ids, and counts bucket agreement per
    pair — no candidate materialization, no verify. n_found equals
    |brute ∩ distinct(candidates)|; the old plan's extra exact-cosine
    verify could only drop a true pair at a 1-ulp JVM-vs-numpy
    threshold boundary, and recall_ok compares against the 0.8 bound
    with ~20 points of slack, so the RESULT row is unchanged
    (identity-asserted old vs new at sf0.001/0.01/0.1 before adoption;
    OPTIMIZATION_r12.md Change 1). ``lsh_near_dup_pairs`` itself — the actual
    near-dup scale operator — is unchanged and stays property-tested.
    The r11 starved-scan repartition was also dropped here: under the
    new shape it is a wash (driver-conditions on/off 0.998), and a
    wash flip pays a payload exchange for nothing."""
    emb = _t(spark, sf_dir, "embeddings")
    brute = S.embedding_near_dup_pairs(emb, threshold=_NEAR_DUP_COS).select("id1", "id2")
    # eager checkpoint: the matmul pass runs ONCE while feeding the
    # count, the id restriction, and the join left side
    brute = brute.localCheckpoint(eager=True)
    pair_ids = (
        brute.select(F.col("id1").alias("vec_id"))
        .unionByName(brute.select(F.col("id2").alias("vec_id")))
        .distinct()
    )
    asg = S.lsh_bucket_arrays(
        emb.join(F.broadcast(pair_ids), "vec_id", "left_semi"),
        dim=64,
        n_planes=2,
        n_tables=8,
    ).select("vec_id", "buckets")
    b1 = asg.select(F.col("vec_id").alias("id1"), F.col("buckets").alias("_bk1"))
    b2 = asg.select(F.col("vec_id").alias("id2"), F.col("buckets").alias("_bk2"))
    hit = F.exists(F.zip_with("_bk1", "_bk2", lambda x, y: x == y), lambda z: z)
    return (
        brute.join(F.broadcast(b1), "id1")
        .join(F.broadcast(b2), "id2")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.coalesce(F.sum(hit.cast("long")), F.lit(0)).alias("n_found"),
        )
        .select(
            "n_true_pairs",
            (F.col("n_found") >= 0.8 * F.col("n_true_pairs")).alias("recall_ok"),
        )
    )


_LSH_RECALL_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
brute AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= {_NEAR_DUP_COS}
)
SELECT count(*) AS n_true_pairs, TRUE AS recall_ok FROM brute
"""


_IVF_RECALL_CELLS = 8
_IVF_RECALL_PROBE = 4
_IVF_RECALL_BOUND = 0.5


def _ivf_ann_recall(spark, sf_dir):
    """IVF recall contract for the APPROXIMATE path users actually run
    at 100 TB (``n_probe < n_cells`` — unlike `ivf_ann_exactprobe`,
    which probes every cell to value-check the machinery). The IVF
    top-k depends on the trained centroids, so it has no SQL twin;
    instead the query returns a checkable report row, like
    `lsh_ann_pairs`: the exact brute-force top-k pair count (oracle-
    computable) and whether probing half the cells recovered at least
    half of the true neighbors. Measured recall at these parameters:
    0.84 (sf0.01) / 0.74 (sf0.1) — the 0.5 bound holds with margin
    while still catching an assignment/probe regression (a broken cell
    router scores ~n_probe/n_cells of random cells' worth of
    neighbors)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _ANN_N_QUERIES)
    cents = S.train_ivf_centroids(emb, n_cells=_IVF_RECALL_CELLS, max_iter=10)
    approx = (
        S.ivf_topk(emb, queries, cents, k=_ANN_K, n_probe=_IVF_RECALL_PROBE)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    brute = S.cosine_topk(emb, queries, k=_ANN_K).select("query_id", "neighbor_id")
    # one pass over the brute result: left join + conditional count
    # (same shape as lsh_ann_pairs — the matmul branch executes once)
    return (
        brute.join(approx, ["query_id", "neighbor_id"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            "n_true",
            (F.col("n_found") >= F.lit(_IVF_RECALL_BOUND) * F.col("n_true")).alias(
                "recall_ok"
            ),
        )
    )


_IVF_RECALL_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < {_ANN_N_QUERIES}
),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
  FROM c, q WHERE c.neighbor_id != q.query_id
),
ranked AS (
  SELECT query_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT count(*) AS n_true, TRUE AS recall_ok FROM ranked WHERE rank <= {_ANN_K}
"""


_TFCOS_THRESHOLD = 0.9
_TFCOS_MAX_DF = 2000


def _tfcosine_doc_pairs(spark, sf_dir):
    """Sparse document-pair cosine similarity over term-frequency
    vectors via an inverted term index (operators/text.py:
    tf_cosine_pairs). Bit-exact across engines by construction: all
    aggregations are integer (tf counts, dot products, norm sums) and
    the single float op per pair (divide by sqrt of a product of
    exactly-representable ints) is IEEE correctly-rounded — no ln(),
    so no idf, deliberately (the r5 1-ulp lesson). The max_df hot-term
    guard is ACTIVE at sf0.1 (terms in >2000 of 5000 docs drop —
    the stopword class), bounding the inverted-index join fan-out at
    sum(df^2) <= max_df * index_size."""
    docs = _t(spark, sf_dir, "documents")
    return TX.tf_cosine_pairs(
        docs, threshold=_TFCOS_THRESHOLD, max_df=_TFCOS_MAX_DF
    )


_TFCOSINE_SQL = rf"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t != '')) AS term
  FROM documents
),
tf0 AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY id, term),
hot AS (SELECT term FROM tf0 GROUP BY term HAVING count(*) > {_TFCOS_MAX_DF}),
tf AS (SELECT * FROM tf0 WHERE term NOT IN (SELECT term FROM hot)),
norms AS (SELECT id, CAST(sum(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY id),
dots AS (
  SELECT a.id AS id1, b.id AS id2, CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
  FROM tf a JOIN tf b ON a.term = b.term AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT d.id1, d.id2, d.dot,
       round(d.dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)), 6) AS cos_sim
FROM dots d JOIN norms x ON x.id = d.id1 JOIN norms y ON y.id = d.id2
WHERE round(d.dot / sqrt(CAST(x.n2 AS DOUBLE) * CAST(y.n2 AS DOUBLE)), 6) >= {_TFCOS_THRESHOLD}
"""


_REDUNDANCY_MIN_DF = 3


def _doc_redundancy_scores(spark, sf_dir):
    """Per-doc boilerplate fraction (operators/text.py:
    redundancy_scores): the share of each doc's distinct n-gram
    shingles occurring in more than min_df docs corpus-wide — the
    doc-level redundancy signal curation filters act on. Integer
    counts + one IEEE division, engine-reproducible."""
    docs = _tp(spark, sf_dir, "documents")
    return TX.redundancy_scores(docs, n=_NGRAM_N, min_df=_REDUNDANCY_MIN_DF)


def _doc_redundancy_oracle() -> str:
    n, k = _NGRAM_N, _REDUNDANCY_MIN_DF
    return rf"""
WITH toks AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT id, unnest(CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
       ELSE list_distinct(list_transform(generate_series(1, len(t) - {n - 1}),
            i -> array_to_string(t[i:i+{n - 1}], ' '))) END) AS shingle
  FROM toks
),
common AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {k})
SELECT s.id AS doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN c.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
       round(CAST(sum(CASE WHEN c.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS common_frac
FROM sh s LEFT JOIN common c ON c.shingle = s.shingle
GROUP BY s.id
"""


_SIMHASH_PAIR_HAMMING = 3  # = bands - 1, so byte-banding is LOSSLESS
_SIMHASH_SUBSET_MOD = 10


def _simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup PAIR generation end-to-end (dedup.py:
    simhash_pairs — byte-band candidate bucketing + exact hamming
    verification), value-checked: with max_hamming = bands - 1 the
    pigeonhole guarantee makes banding lossless, so the operator's
    output contract is exactly 'all pairs at hamming <= 3' — which
    DuckDB states directly (bit_count(xor(s1, s2))). Runs on the
    deterministic doc_id % {mod} == 0 subset: simhash concentrates on
    this corpus (short docs, shared vocab), and the subset keeps the
    oracle's pair table at hundreds of rows (sf0.01) / ~15k (sf0.1)
    instead of 10^6."""
    docs = _t(spark, sf_dir, "documents").where(
        F.col("doc_id") % _SIMHASH_SUBSET_MOD == 0
    )
    sim = D.simhash(docs)
    return D.simhash_pairs(sim, max_hamming=_SIMHASH_PAIR_HAMMING, bits=32, bands=4)


def _simhash_near_pairs_oracle() -> str:
    # the subset predicate is passed INTO the base oracle (never
    # text-patched onto its SQL, which could silently no-op if the
    # base were reworded); wrap the per-doc simhash CTE, then state
    # the pair contract
    sim_cte = _simhash_oracle(
        where_clause=f"WHERE doc_id % {_SIMHASH_SUBSET_MOD} = 0"
    )
    return rf"""
WITH sims AS (
{sim_cte}
)
SELECT a.id AS id1, b.id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_PAIR_HAMMING}
"""


# ---------------------------------------------------------------------
# corpus extension: pivot / cube / grouping sets / window frames /
# sessionization / arrays / strings / multimodal
# ---------------------------------------------------------------------


def _pivot_status(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    # empty combos come back null from pivot; oracle's CASE-count gives 0
    return piv.select(
        "o_orderpriority",
        F.coalesce("O", F.lit(0)).alias("n_open"),
        F.coalesce("F", F.lit(0)).alias("n_filled"),
        F.coalesce("P", F.lit(0)).alias("n_pending"),
    )


_PIVOT_SQL = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_filled,
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
FROM orders GROUP BY o_orderpriority
"""


def _cube_counts(spark, sf_dir):
    li = _tpk(spark, sf_dir, "lineitem", ["l_quantity", "l_returnflag"])
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty")
    )


_CUBE_SQL = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def _grouping_sets_rev(spark, sf_dir):
    _tpk(spark, sf_dir, "lineitem", "l_extendedprice").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS total_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS total_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def _window_frames_ex2(spark, sf_dir):
    """ex2-style sessionization via first/last window functions with an
    EXPLICIT full frame — the frame the reference got wrong by default
    (reference: jobs/examples/ex2_frameworked_job.py:31-32 comment)."""
    ev = _tp(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        ev.select(
            "user_id",
            F.unix_timestamp(F.first("ts").over(w)).alias("first_sec"),
            F.unix_timestamp(F.last("ts").over(w)).alias("last_sec"),
            F.count(F.lit(1)).over(w).alias("n_events"),
        )
        .distinct()
    )


_WINDOW_FRAMES_SQL = """
SELECT DISTINCT user_id,
       CAST(floor(extract(epoch FROM first_value(ts) OVER w)) AS BIGINT) AS first_sec,
       CAST(floor(extract(epoch FROM last_value(ts) OVER w)) AS BIGINT) AS last_sec,
       count(*) OVER w AS n_events
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


_SESSION_GAP_SEC = 1800


def _sessionize_events(spark, sf_dir):
    ev = _tp(spark, sf_dir, "events")
    sess = WOP.sessionize(ev, key="user_id", ts_col="ts", gap_seconds=_SESSION_GAP_SEC)
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_timestamp(F.min("ts")).alias("first_sec"),
        F.unix_timestamp(F.max("ts")).alias("last_sec"),
    )


_SESSIONIZE_SQL = f"""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR CAST(floor(extract(epoch FROM ts)) AS BIGINT)
                   - CAST(floor(extract(epoch FROM lag(ts) OVER (PARTITION BY user_id ORDER BY ts))) AS BIGINT)
                   > {_SESSION_GAP_SEC}
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (
  -- CAST: DuckDB SUM(int) yields HUGEINT, which lands in pandas as
  -- float64 and hash-mismatches Spark's BIGINT at the driver.
  SELECT user_id, ts,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq, count(*) AS n_events,
       CAST(floor(extract(epoch FROM min(ts))) AS BIGINT) AS first_sec,
       CAST(floor(extract(epoch FROM max(ts))) AS BIGINT) AS last_sec
FROM s GROUP BY user_id, session_seq
"""


def _collect_types(spark, sf_dir):
    # The driver canonicalizer can't hash list-typed pandas columns, so
    # the sorted set is emitted as a joined string; array semantics stay
    # covered by array_hof_stats / posexplode_words.
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias("types"),
        F.countDistinct("event_type").alias("n_types"),
    )


_COLLECT_SQL = """
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
"""


def _string_funcs(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit("A"), F.lit("#")).alias("type_masked"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.reverse("p_name").alias("name_rev"),
        F.instr("p_name", "a").alias("first_a"),
    )


_STRING_FUNCS_SQL = """
SELECT p_partkey,
       upper(p_name) AS name_upper,
       substr(p_name, 1, 5) AS name_prefix,
       replace(p_type, 'A', '#') AS type_masked,
       concat_ws('-', p_brand, p_type) AS brand_type,
       CAST(length(p_name) AS INT) AS name_len,
       reverse(p_name) AS name_rev,
       CAST(strpos(p_name, 'a') AS INT) AS first_a
FROM part
"""


def _lead_order_gaps(spark, sf_dir):
    # starved-scan repartition on the window key (A/B 0.86x)
    orders = load_table(spark, sf_dir, "orders", parallelize="o_custkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap_days = F.datediff(F.lead("o_orderdate").over(w), F.col("o_orderdate"))
    return (
        orders.withColumn("gap_days", gap_days)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("gap_days").alias("n_gaps"),
            F.avg("gap_days").alias("avg_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
    )


_LEAD_SQL = """
WITH g AS (
  SELECT o_custkey,
         CAST(date_diff('day', CAST(o_orderdate AS DATE),
              CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DATE)) AS INT) AS gap_days
  FROM orders
)
SELECT o_custkey, count(*) AS n_orders, count(gap_days) AS n_gaps,
       avg(gap_days) AS avg_gap_days, max(gap_days) AS max_gap_days
FROM g GROUP BY o_custkey
"""


def _ntile_price_bands(spark, sf_dir):
    """Quartile bands WITHOUT the single-partition global window the
    built-in ``ntile(4) OVER (ORDER BY ...)`` would plan: two-phase
    range-repartitioned ranking (operators/windows.py:distributed_ntile)
    keeps every sort partition-local. Oracle is the built-in ntile —
    aggregate results are identical."""
    orders = _t(spark, sf_dir, "orders")
    return (
        WOP.distributed_ntile(orders, "o_totalprice", 4, band_name="band", num_partitions=32)
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )


_NTILE_SQL = """
SELECT band, count(*) AS n, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
FROM (SELECT o_totalprice, CAST(ntile(4) OVER (ORDER BY o_totalprice) AS INT) AS band FROM orders)
GROUP BY band
"""


def _revenue_share(spark, sf_dir):
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cust = _t(spark, sf_dir, "customer")
    orders = _tp(spark, sf_dir, "orders")
    li = _tp(spark, sf_dir, "lineitem")
    per_nation = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")).alias("_rev_dec")
        )
    )
    w = Window.partitionBy("r_name")
    return per_nation.select(
        "r_name",
        "n_name",
        F.col("_rev_dec").cast("double").alias("revenue"),
        (F.col("_rev_dec").cast("double") / F.sum("_rev_dec").over(w).cast("double")).alias("region_share"),
    )


_REVENUE_SHARE_SQL = """
WITH per_nation AS (
  SELECT r_name, n_name,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS rev_dec
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name, n_name, CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE) AS region_share
FROM per_nation
"""


def _in_subquery_parts(spark, sf_dir):
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
        """
    )


_IN_SUBQUERY_SQL = """
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_partkey IN (SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)
"""


def _distinct_users_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            ).alias("n_buyers"),
        )
    )


_DISTINCT_DAILY_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS n_buyers
FROM events GROUP BY 1
"""


def _approx_distinct_parts(spark, sf_dir):
    """HLL error-bound contract. The HLL estimate itself is
    engine-specific, so the query returns the exact distinct count
    (oracle-computable) plus whether the sketch landed within 15%
    relative error — 3x approx_count_distinct's default rsd of 0.05
    (rsd is ONE standard deviation, so a 1-sigma bound would reject a
    correct sketch on ~1/3 of datasets; 3-sigma makes the contract
    robust while still catching a broken sketch). Measured error on
    this data is ~2.6% at every scale factor."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                <= 0.15 * F.col("exact_parts")
            ).alias("est_ok"),
        )
    )


_APPROX_DISTINCT_SQL = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts, TRUE AS est_ok
FROM lineitem GROUP BY l_returnflag
"""


def _multimodal_decode(spark, sf_dir):
    """Documents as fake media: utf-8 bytes → binary content column →
    Arrow-batched decode stub (deterministic dims from sha256)."""
    from yaetos_spark.operators.multimodal import decode_image

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
    )
    return decode_image(media, fake=True)


def _multimodal_oracle() -> str:
    # sha256(VARCHAR) hashes the utf-8 bytes — same as the stub's
    # hashlib.sha256 over encode(text, 'utf-8')
    h = _hex_long_sql("sha256(text)", 1)
    return f"""
SELECT doc_id AS media_id,
       CAST(64 + {h} % 512 AS INT) AS width,
       CAST(64 + CAST(floor({h} / 512) AS BIGINT) % 512 AS INT) AS height,
       3 AS n_channels,
       sha256(text) AS sha256
FROM documents
"""


def _ppm_pipeline_stats(spark, sf_dir):
    """REAL multimodal round trip, oracle-checked end-to-end: per doc,
    synthesize a solid-color PPM whose dims/color are arithmetic
    functions of doc_id, ENCODE it to real P6 bytes, then run the real
    numpy decoder (`multimodal.image_stats`) and aggregate the decoded
    metadata per bucket.  The oracle recomputes the same aggregates
    arithmetically — so any defect in the encoder, RIFF-free header
    parse, pixel reshape, or channel-mean math flips the value hash.
    Both mapInPandas stages are Arrow-batched; only (id, bytes) cross
    the JVM↔Python boundary, the production multimodal shape."""
    import numpy as np
    import pandas as pd

    from yaetos_spark.operators.multimodal import image_stats, write_ppm

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            out = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 24, 8 + (did * 7) % 24
                rgb = (did % 256, (did * 3) % 256, (did * 5) % 256)
                px = np.full((h, w, 3), rgb, dtype=np.uint8)
                out.append((did, write_ppm(px)))
            yield pd.DataFrame(out, columns=["media_id", "content"])

    media = docs.mapInPandas(gen, "media_id long, content binary")
    stats = image_stats(media)
    # solid-color images: decoded channel means are exactly the ints we
    # painted, so double sums stay integer-exact (far below 2^53)
    return (
        stats.groupBy((F.col("media_id") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_imgs"),
            F.sum("width").cast("long").alias("sum_width"),
            F.sum("height").cast("long").alias("sum_height"),
            F.sum("mean_r").cast("long").alias("sum_mean_r"),
            F.sum("mean_g").cast("long").alias("sum_mean_g"),
            F.sum("mean_b").cast("long").alias("sum_mean_b"),
        )
        .orderBy("bucket")
    )


_PPM_PIPELINE_SQL = """
SELECT doc_id % 10 AS bucket, count(*) AS n_imgs,
       CAST(sum(8 + doc_id % 24) AS BIGINT) AS sum_width,
       CAST(sum(8 + (doc_id * 7) % 24) AS BIGINT) AS sum_height,
       CAST(sum(doc_id % 256) AS BIGINT) AS sum_mean_r,
       CAST(sum((doc_id * 3) % 256) AS BIGINT) AS sum_mean_g,
       CAST(sum((doc_id * 5) % 256) AS BIGINT) AS sum_mean_b
FROM documents
GROUP BY bucket
ORDER BY bucket
"""


def _wordcount_top(spark, sf_dir):
    """The reference's canonical wordcount example (reference:
    jobs/examples/wordcount_frameworked_job.py — reduceByKey over an
    RDD), re-expressed as explode+groupBy so it codegens and shuffles
    with map-side combine."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


_WORDCOUNT_SQL = r"""
SELECT word, count(*) AS n
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents)
GROUP BY word
ORDER BY n DESC, word
LIMIT 20
"""


def _cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters, contract-checked like the other
    sketch queries (approx_distinct_parts / approx_median_contract):
    for the exact top-20 words, the CMS point estimate must be >= the
    exact count (the sketch's hard one-sided guarantee) and <= the
    total token count.  At 100 TB the sketch is the only per-key
    frequency structure that stays fixed-size and mergeable across
    days/partitions; yaetos_spark/operators/sketches.py builds it as a
    depth x width cell DataFrame, never driver-side state."""
    from yaetos_spark.operators.sketches import count_min_build, count_min_estimate

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    words = words.persist()
    sketch = count_min_build(words, "word", depth=4, width=8192)
    exact_top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("word"))
        .limit(20)
    )
    total = words.groupBy().agg(F.count(F.lit(1)).alias("_total"))
    est = count_min_estimate(sketch, exact_top.select("word"), "word", depth=4, width=8192)
    return (
        exact_top.join(est, "word")
        # 1-row aggregate broadcast (the sanctioned scalar-join pattern,
        # same as idle_rich_customers / lsh_ann_pairs): O(1) rows on the
        # broadcast side at any corpus size
        .crossJoin(F.broadcast(total))
        .select(
            "word",
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).alias("est_ge_exact"),
            (F.col("est") <= F.col("_total")).alias("est_le_total"),
        )
        .orderBy(F.desc("exact_cnt"), F.asc("word"))
    )


_CMS_HEAVY_SQL = r"""
SELECT word, count(*) AS exact_cnt,
       TRUE AS est_ge_exact, TRUE AS est_le_total
FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents)
GROUP BY word
ORDER BY exact_cnt DESC, word
LIMIT 20
"""


def _boilerplate_prefixes(spark, sf_dir):
    """Boilerplate-header detector: cluster documents sharing their
    first 5 tokens (crawl corpora are full of repeated nav headers /
    license preambles; dedup at doc level misses them because the
    bodies differ).  One narrow projection + one hash aggregation —
    the same single-shuffle shape at any scale."""
    docs = _t(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 5), " ")
    return (
        docs.select(prefix.alias("prefix"), "doc_id")
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("prefix"))
        .limit(50)
    )


_BOILERPLATE_SQL = r"""
SELECT array_to_string(regexp_split_to_array(trim(text), '\s+')[1:5], ' ') AS prefix,
       count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM documents
GROUP BY prefix
HAVING count(*) >= 2
ORDER BY n_docs DESC, prefix
LIMIT 50
"""


def _vocab_tail_stats(spark, sf_dir):
    """Zipf-tail report for vocabulary pruning: how many types (and
    what token mass) sit in each frequency class.  Hapax/rare mass is
    what a min-count cutoff would delete — the standard pre-tokenizer
    curation question.  Two chained aggregations, both map-side
    combinable."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    freq_class = (
        F.when(F.col("cnt") == 1, "hapax")
        .when(F.col("cnt") <= 5, "rare")
        .when(F.col("cnt") <= 50, "mid")
        .otherwise("head")
    )
    return (
        counts.select(freq_class.alias("freq_class"), "cnt")
        .groupBy("freq_class")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("cnt").alias("total_occurrences"),
        )
        .orderBy("freq_class")
    )


_VOCAB_TAIL_SQL = r"""
SELECT CASE WHEN cnt = 1 THEN 'hapax' WHEN cnt <= 5 THEN 'rare'
            WHEN cnt <= 50 THEN 'mid' ELSE 'head' END AS freq_class,
       count(*) AS n_words, CAST(sum(cnt) AS BIGINT) AS total_occurrences
FROM (
  SELECT word, count(*) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents)
  GROUP BY word
)
GROUP BY freq_class
ORDER BY freq_class
"""


def _source_vocab_overlap(spark, sf_dir):
    """Pairwise vocabulary Jaccard between crawl sources — the corpus-
    mixing diagnostic (near-identical vocabularies => redundant
    sources).  Distinct (source, word) first (one shuffle), then a
    word-keyed self-join whose fan-out is bounded by #sources per word;
    at 100 TB this is the standard vocabulary-intersection plan, never
    a doc-level cross join."""
    docs = _t(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.col("source"),
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("vsize"))
    # merge hint: the per-source vocab is unbounded at web scale and its
    # estimate is anchored to the exploded words' Generate child, so
    # Catalyst would broadcast it at ANY corpus size (the census'
    # broadcast_over_generate class); the source-level `sizes` joins
    # below stay explicit broadcasts — #sources rows, tiny by design
    a, b = vocab.alias("a"), vocab.hint("merge").alias("b")
    inter = (
        a.join(b, (F.col("a.word") == F.col("b.word")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("source").alias("s1"), F.col("vsize").alias("v1"))
    sb = sizes.select(F.col("source").alias("s2"), F.col("vsize").alias("v2"))
    return (
        inter.join(F.broadcast(sa), "s1")
        .join(F.broadcast(sb), "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            F.round(
                F.col("n_shared") / (F.col("v1") + F.col("v2") - F.col("n_shared")), 6
            ).alias("jaccard"),
        )
        .orderBy("s1", "s2")
    )


_SOURCE_OVERLAP_SQL = r"""
WITH vocab AS (
  SELECT DISTINCT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents
), sizes AS (
  SELECT source, count(*) AS vsize FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
  FROM vocab a JOIN vocab b ON a.word = b.word AND a.source < b.source
  GROUP BY s1, s2
)
SELECT s1, s2, n_shared,
       round(n_shared / (v1.vsize + v2.vsize - n_shared), 6) AS jaccard
FROM inter
JOIN sizes v1 ON v1.source = inter.s1
JOIN sizes v2 ON v2.source = inter.s2
ORDER BY s1, s2
"""


def _tfidf_top_terms(spark, sf_dir):
    """Distributed TF-IDF: top-3 most source-characteristic terms per
    crawl source.  tf = term count within the source's concatenated
    text; idf = ln(n_sources / df) over source-level document
    frequency.  The whole thing is two hash aggregations + one
    merge-hinted join — no vocabulary ever sits on the driver, so the
    same plan runs on a 100 TB corpus. The df frame is vocabulary-
    sized (unbounded at web scale) and its estimate is anchored to the
    exploded words' Generate child, so letting Catalyst "pick by
    stats" would broadcast it at any scale — the hint forces the
    word-keyed shuffle join.  Scores are rounded to 6 dp on both
    engines so libm ulp noise in ln() can't flip the hash."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    tf = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_sources = docs.select("source").distinct().count()  # scalar, driver-safe
    scored = (
        tf.join(df_.hint("merge"), "word")
        .select(
            "source",
            "word",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_sources)) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("tfidf"), F.asc("word")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "word", "tfidf", "rnk")
        .orderBy("source", "rnk")
    )


_TFIDF_SQL = r"""
WITH words AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
  FROM documents
), tf AS (
  SELECT source, word, count(*) AS tf FROM words GROUP BY source, word
), df AS (
  SELECT word, count(*) AS df FROM tf GROUP BY word
), n AS (
  SELECT CAST(count(DISTINCT source) AS DOUBLE) AS n_sources FROM documents
), scored AS (
  SELECT source, word,
         round(tf * ln(n_sources / df), 6) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
)
SELECT source, word, tfidf, rnk FROM (
  SELECT source, word, tfidf,
         row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, word) AS rnk
  FROM scored
)
WHERE rnk <= 3
ORDER BY source, rnk
"""


def _salted_hot_keys(spark, sf_dir):
    """Skew-safe two-phase count — identical result to a plain groupBy
    (which IS the oracle), exercised over the events table."""
    from yaetos_spark.operators.skew import salted_count

    ev = _t(spark, sf_dir, "events")
    return salted_count(ev, ["event_type"], salt_buckets=16, count_col="n")


_SALTED_SQL = """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
"""


def _range_band_join(spark, sf_dir):
    """Band join: customer/supplier account-balance matches within a
    tolerance — bucketized, no cross join."""
    from yaetos_spark.operators.rangejoin import band_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    out = band_join(cust, supp, "c_acctbal", "s_acctbal", tolerance=10.0)
    return out.select("c_custkey", "s_suppkey", "c_acctbal", "s_acctbal")


_RANGE_BAND_SQL = """
SELECT c_custkey, s_suppkey, c_acctbal, s_acctbal
FROM customer JOIN supplier ON abs(c_acctbal - s_acctbal) <= 10.0
"""


def _date_parts(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.month("o_orderdate")).alias("first_month"),
            F.max(F.dayofmonth("o_orderdate")).alias("max_day"),
        )
    )


_DATE_PARTS_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(quarter(o_orderdate) AS INT) AS qtr,
       count(*) AS n_orders,
       CAST(min(month(o_orderdate)) AS INT) AS first_month,
       CAST(max(day(o_orderdate)) AS INT) AS max_day
FROM orders GROUP BY 1, 2
"""


def _null_scalars(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_nonbuilding"),
        F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("bal_floor"),
        F.least(F.col("c_acctbal"), F.lit(1000.0)).alias("bal_cap"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias("seg_or_other"),
        F.isnull(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))).alias("is_building"),
    )


_NULL_SCALARS_SQL = """
SELECT c_custkey,
       nullif(c_mktsegment, 'BUILDING') AS seg_nonbuilding,
       greatest(c_acctbal, 0.0) AS bal_floor,
       least(c_acctbal, 1000.0) AS bal_cap,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
       nullif(c_mktsegment, 'BUILDING') IS NULL AS is_building
FROM customer
"""


def _regexp_extract_brand(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    brand_num = F.regexp_extract("p_brand", r"(\d+)", 1).cast("int")
    return (
        part.withColumn("brand_num", brand_num)
        .groupBy("brand_num")
        .agg(F.count(F.lit(1)).alias("n_parts"), _davg(F.col("p_retailprice")).alias("avg_price"))
    )


_REGEXP_SQL = r"""
SELECT CAST(regexp_extract(p_brand, '(\d+)', 1) AS INT) AS brand_num,
       count(*) AS n_parts,
       CAST(sum(CAST(p_retailprice AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_price
FROM part GROUP BY 1
"""


def _posexplode_words(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    words = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id", F.posexplode(words).alias("pos", "word")
    ).select("doc_id", (F.col("pos") + 1).alias("pos"), "word")


# DuckDB lacks WITH ORDINALITY; equal-length unnests zip row-wise
_POSEXPLODE_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents WHERE doc_id < 5
)
SELECT doc_id,
       CAST(unnest(generate_series(1, len(t))) AS INT) AS pos,
       unnest(t) AS word
FROM toks
"""


def _value_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 100).cast("long")
    return (
        ev.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"), _dsum(F.col("value"), scale=6).alias("total"))
    )


_HISTOGRAM_SQL = """
SELECT CAST(floor(value / 100) AS BIGINT) AS bucket, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total
FROM events GROUP BY 1
"""


def _dedup_clusters(spark, sf_dir):
    """Iterative connected components over n-gram-Jaccard near-dup
    pairs → one cluster id (min doc id) per document. The full dedup
    pipeline shape: pair generation → clustering → canonical pick."""
    from yaetos_spark.operators.graph import dedup_clusters

    # starved-scan repartition REVERTED (r11 opt validation): quiet-
    # window ratio 0.93 with overlapping rep spreads (0.93-1.0 across
    # four batches) — the iterative CC dominates, not the scan
    docs = _t(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, n=_NGRAM_N, threshold=_JACCARD_THRESHOLD).select("id1", "id2")
    return dedup_clusters(docs, pairs)


def _dedup_clusters_oracle() -> str:
    n, thr = _NGRAM_N, _JACCARD_THRESHOLD
    return rf"""
WITH RECURSIVE
toks AS (
  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
sh AS (
  SELECT id, unnest(CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
       ELSE list_distinct(list_transform(generate_series(1, len(t) - {n - 1}),
            i -> array_to_string(t[i:i+{n - 1}], ' '))) END) AS shingle
  FROM toks
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id
),
pairs AS (
  SELECT i.id1, i.id2
  FROM inter i JOIN sizes z1 ON z1.id = i.id1 JOIN sizes z2 ON z2.id = i.id2
  WHERE round(i.n_common / (z1.n_sh + z2.n_sh - i.n_common), 6) >= {thr}
),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON r.node = s.b
),
comps AS (SELECT node, min(r) AS comp FROM reach GROUP BY node)
SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
"""


def _chain_components(spark, sf_dir):
    """Connected components on a HIGH-DIAMETER graph: each user's
    events, ordered by (ts, event_id), form a path (~67-node chains at
    sf0.1 — diameter far beyond near-dup clusters' 2-4). This is the
    regime where the alternating large-star/small-star operator's
    O(log n) rounds beat min-label propagation's O(diameter), so the
    query exercises `connected_components_star` specifically.
    comp = smallest event_id reachable. The output is invariant to
    timestamp tie-breaks: any ordering of the same per-user event set
    yields a path over the same nodes, hence the same components."""
    from yaetos_spark.operators.graph import connected_components_star

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev", F.lag("event_id").over(w))
        .where(F.col("prev").isNotNull())
        .select(F.col("prev").alias("id1"), F.col("event_id").alias("id2"))
    )
    return connected_components_star(edges).select("node", "comp")


def _chain_components_sql(where_clause: str = "") -> str:
    # parameterized like _simhash_oracle: derived oracles state their
    # subset predicate explicitly instead of text-patching the SQL
    return f"""
WITH RECURSIVE
ordered AS (
  SELECT event_id,
         lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events {where_clause}
),
edges AS (SELECT prev AS a, event_id AS b FROM ordered WHERE prev IS NOT NULL),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(node, r) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.r FROM sym s JOIN reach r ON r.node = s.b
)
SELECT node, min(r) AS comp FROM reach GROUP BY node
"""


_CHAIN_COMPONENTS_SQL = _chain_components_sql()

_CHAIN_ROBUST_USER_MOD = 4


def _chain_components_robust(spark, sf_dir):
    """The skew_robust star-CC phases (r9: partial-aggregating
    groupBy+join instead of whole-group windows — the mode for
    power-law graphs whose hub components would straggle a window
    task) on real data, value-checked against the same recursive-CTE
    contract as `chain_components`. Runs on the deterministic
    user_id % {mod} == 0 subset: per-user chains are whole components,
    so subsetting by user keeps every component intact while keeping
    the oracle's transitive closure small. Identical (node, comp)
    semantics to the default mode is ALSO property-tested
    (test_connected_components_star_matches_union_find); this query gets
    the driver to grade the robust plan itself."""
    from yaetos_spark.operators.graph import connected_components_star

    ev = _t(spark, sf_dir, "events").where(
        F.col("user_id") % _CHAIN_ROBUST_USER_MOD == 0
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("prev", F.lag("event_id").over(w))
        .where(F.col("prev").isNotNull())
        .select(F.col("prev").alias("id1"), F.col("event_id").alias("id2"))
    )
    return connected_components_star(edges, skew_robust=True).select("node", "comp")


def _incremental_dedup_survivors(spark, sf_dir):
    """Incremental (two-batch) near-dup dedup without the filesystem:
    batch 1 = even doc_ids, batch 2 = odd. Each batch dedups WITHIN
    itself (exact n-gram Jaccard, min-id survivor); batch 2's survivors
    are then checked against batch 1 survivors' minhash SIGNATURES
    (banded-LSH candidates, estimated Jaccard >= threshold drops the
    new doc) — the exact core `streaming/dedup.py::dedup_against_index`
    runs against its persisted index
    (operators/dedup.py:filter_against_signatures). The DuckDB oracle
    replicates the md5-minhash estimation bit-for-bit, so the
    signature-estimated drops are value-checked, not just counted."""
    from yaetos_spark.operators.dedup import (
        drop_near_duplicates,
        filter_against_signatures,
        minhash_signatures,
    )

    docs = _t(spark, sf_dir, "documents")
    b1 = docs.where(F.col("doc_id") % 2 == 0)
    b2 = docs.where(F.col("doc_id") % 2 == 1)
    # each survivor frame is consumed twice (signature derivation +
    # the output union / cross-batch filter), and each is the output
    # of a full jaccard+CC+anti-join pipeline — checkpoint so that
    # pipeline runs ONCE per batch, not once per reference. Survivor
    # rows are one row per doc (batch-sized), never the tokenized
    # corpus. Measured (r9, interleaved medians): sf0.1 7.87→6.71s,
    # 10x replica 19.02→17.40s, identical output. The two batch
    # pipelines are INDEPENDENT jobs, so they are submitted
    # concurrently (SparkContext job submission is thread-safe; the
    # scheduler interleaves their stages over the idle cores each
    # leaves behind) — interleaved A/B at sf0.1: warm 7.2-7.3 s
    # sequential vs 5.4-5.5 s parallel, cold 22.3 vs 6.7 s, identical
    # output digests.
    from concurrent.futures import ThreadPoolExecutor

    def _dedup_ckpt(b):
        return drop_near_duplicates(
            b, n=_NGRAM_N, threshold=_JACCARD_THRESHOLD
        ).localCheckpoint(eager=True)

    with ThreadPoolExecutor(2) as ex:
        f1, f2 = ex.submit(_dedup_ckpt, b1), ex.submit(_dedup_ckpt, b2)
        w1, w2 = f1.result(), f2.result()
    s1 = minhash_signatures(w1, n=_NGRAM_N, num_hashes=_MINHASH_K)
    s2 = minhash_signatures(w2, n=_NGRAM_N, num_hashes=_MINHASH_K)
    surv2 = filter_against_signatures(
        w2, s2, s1,
        threshold=_JACCARD_THRESHOLD,
        num_hashes=_MINHASH_K,
        bands=_MINHASH_BANDS,
    )
    return (
        w1.unionByName(surv2)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def _incremental_dedup_oracle() -> str:
    from yaetos_spark.operators.dedup import MINHASH_PRIME

    k, bands, n, thr = _MINHASH_K, _MINHASH_BANDS, _NGRAM_N, _JACCARD_THRESHOLD
    r = k // bands
    mh_cols = ", ".join(
        f"min((h1 + {i} * h2) % {MINHASH_PRIME}) AS mh{i}" for i in range(k)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT id, half, {b} AS band, {concat} AS bsig FROM sigs".format(
            b=b,
            concat="concat_ws('_', " + ", ".join(f"mh{b * r + j}" for j in range(r)) + ")",
        )
        for b in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN sn.mh{i} = so.mh{i} THEN 1 ELSE 0 END)" for i in range(k)
    )
    # within-half pairs never span halves, so ONE recursive CTE over the
    # union of both halves' pairs computes both within-batch dedups
    return rf"""
WITH RECURSIVE
toks AS (
  SELECT doc_id AS id, doc_id % 2 AS half,
         regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
),
sh AS (
  SELECT id, half, unnest(CASE WHEN len(t) < {n} THEN [array_to_string(t, ' ')]
       ELSE list_distinct(list_transform(generate_series(1, len(t) - {n - 1}),
            i -> array_to_string(t[i:i+{n - 1}], ' '))) END) AS shingle
  FROM toks
),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id1, b.id AS id2, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.half = b.half AND a.id < b.id
  GROUP BY a.id, b.id
),
pairs AS (
  SELECT i.id1, i.id2
  FROM inter i JOIN sizes z1 ON z1.id = i.id1 JOIN sizes z2 ON z2.id = i.id2
  WHERE round(i.n_common / (z1.n_sh + z2.n_sh - i.n_common), 6) >= {thr}
),
sym AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
reach(node, rt) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.rt FROM sym s JOIN reach r ON r.node = s.b
),
comps AS (SELECT node, min(rt) AS comp FROM reach GROUP BY node),
winners AS (
  SELECT d.doc_id AS id, d.doc_id % 2 AS half
  FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
  WHERE coalesce(c.comp, d.doc_id) = d.doc_id
),
hashed AS (
  SELECT s.id, s.half,
         {_hex_long_sql('md5(shingle)', 1)} AS h1,
         {_hex_long_sql('md5(shingle)', 9)} AS h2
  FROM sh s JOIN winners w ON w.id = s.id
),
sigs AS (SELECT id, half, {mh_cols} FROM hashed GROUP BY id, half),
buckets AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT nb.id AS nid, ob.id AS oid
  FROM buckets nb JOIN buckets ob
    ON nb.band = ob.band AND nb.bsig = ob.bsig AND nb.half = 1 AND ob.half = 0
),
dropped AS (
  SELECT DISTINCT c.nid
  FROM cand c JOIN sigs sn ON sn.id = c.nid JOIN sigs so ON so.id = c.oid
  WHERE ({matches}) / {k}.0 >= {thr}
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN winners w ON w.id = d.doc_id
WHERE NOT (w.half = 1 AND d.doc_id IN (SELECT nid FROM dropped))
ORDER BY d.doc_id
"""


def _near_dup_survivors(spark, sf_dir):
    """The user-facing end of the dedup pipeline: the corpus AFTER
    near-dup removal (operators/dedup.py::drop_near_duplicates — pair
    gen → connected components → keep min-id representative →
    anti-join).  Same pair semantics as `dedup_clusters`, so the oracle
    extends that recursive CTE: survivors are docs that are not a
    non-representative member of any component."""
    docs = _t(spark, sf_dir, "documents")
    out = D.drop_near_duplicates(docs, n=_NGRAM_N, threshold=_JACCARD_THRESHOLD)
    return out.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


def _near_dup_survivors_oracle() -> str:
    base = _dedup_clusters_oracle()
    # same CTE chain, different final projection: drop non-representative
    # cluster members instead of labeling them
    final = (
        "SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cluster_id\n"
        "FROM documents d LEFT JOIN comps c ON c.node = d.doc_id"
    )
    assert final in base
    return base.replace(
        final,
        "SELECT d.doc_id, d.lang, d.source, d.n_chars\n"
        "FROM documents d LEFT JOIN comps c ON c.node = d.doc_id\n"
        "WHERE coalesce(c.comp, d.doc_id) = d.doc_id\n"
        "ORDER BY d.doc_id",
    )


def _forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: tight filter + single sum — the pushdown
    showcase (every predicate reaches the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount").between(0.02, 0.04))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


_FORECAST_SQL = """
SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""


def _priority_exists(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS correlated subquery via SQL."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
        """
    )


_PRIORITY_EXISTS_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


def _tumbling_window_counts(spark, sf_dir):
    """Tumbling time-window aggregation — the batch twin of the
    streaming windowed_counts operator (same F.window semantics)."""
    ev = _t(spark, sf_dir, "events")
    win = F.window("ts", "6 hours")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start_sec"),
            "event_type",
            "n",
        )
    )


_TUMBLING_SQL = """
SELECT CAST(floor(extract(epoch FROM time_bucket(INTERVAL 6 HOURS, ts))) AS BIGINT) AS win_start_sec,
       event_type, count(*) AS n
FROM events
GROUP BY 1, 2
"""


def _array_hof_stats(spark, sf_dir):
    """Higher-order array functions over the embedding column:
    filter/transform/aggregate run inside codegen."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    n_pos = F.size(F.filter(v, lambda x: x > 0))
    sum_abs = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))), F.lit(0.0), lambda a, x: a + x
    )
    return emb.select(
        "vec_id",
        "label",
        F.size(v).alias("dim"),
        n_pos.alias("n_positive"),
        F.round(sum_abs, 4).alias("l1_norm"),
    )


_ARRAY_HOF_SQL = """
SELECT vec_id, label,
       CAST(len(embedding) AS INT) AS dim,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
       round(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 4) AS l1_norm
FROM embeddings
"""


def _map_functions(spark, sf_dir):
    """props JSON → typed map column → explode to key rows."""
    ev = _t(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    exploded = ev.select("event_type", F.explode(m).alias("key", "val"))
    return exploded.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("val").alias("max_val"),
        F.min("val").alias("min_val"),
    )


_MAP_FUNCTIONS_SQL = """
SELECT event_type, 'k' AS key, count(*) AS n,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_val,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_val
FROM events GROUP BY event_type
"""


def _unpivot_counts(spark, sf_dir):
    """Unpivot via stack(): wide per-nation metrics → long
    (nationkey, metric, value) rows."""
    wide = _full_outer_coalesce(spark, sf_dir)
    return wide.selectExpr(
        "nationkey",
        "stack(2, 'n_cust', n_cust, 'n_supp', n_supp) AS (metric, value)",
    )


_UNPIVOT_SQL = """
WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier GROUP BY s_nationkey),
     wide AS (
       SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
              coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
       FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
     )
SELECT nationkey, 'n_cust' AS metric, n_cust AS value FROM wide
UNION ALL
SELECT nationkey, 'n_supp' AS metric, n_supp AS value FROM wide
"""


def _correlated_scalar(spark, sf_dir):
    """Correlated scalar subquery in the SELECT list."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderkey,
               (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items,
               (SELECT unix_timestamp(max(l_shipdate)) FROM lineitem
                WHERE l_orderkey = o_orderkey) AS last_ship_sec
        FROM orders
        WHERE o_orderkey % 10 = 0
        """
    )


_CORRELATED_SQL = """
SELECT o_orderkey,
       (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey) AS n_items,
       (SELECT CAST(floor(extract(epoch FROM max(l_shipdate))) AS BIGINT) FROM lineitem
        WHERE l_orderkey = o_orderkey) AS last_ship_sec
FROM orders
WHERE o_orderkey % 10 = 0
"""


def _winnow_overlap(spark, sf_dir):
    """Winnowing (MOSS) fingerprint near-dup pairs: k-gram md5 hashes,
    window-min selection, boilerplate-capped fingerprint self-join.
    See yaetos_spark/operators/text.py:winnow_fingerprints."""
    docs = _tp(spark, sf_dir, "documents")
    fps = TX.winnow_fingerprints(docs, k=8, window=4)
    return TX.winnow_overlap_pairs(fps, min_shared=4, max_doc_freq=20)


def _winnow_rolling_pairs(spark, sf_dir):
    """The Arrow rolling-hash winnowing production path (r10): same
    selection algorithm and overlap pipeline as winnow_overlap_pairs,
    but the fingerprint scan is one numpy rolling-polynomial matmul per
    doc instead of per-position substring+md5 expressions — measured
    4.2x end-to-end at the 100x replica (69.2 -> 16.5 s). A different
    hash space, so pair selection differs slightly from the md5 query.
    VALUE-LEVEL oracle since r11: the mod-2^64 polynomial hash is
    exact HUGEINT arithmetic in DuckDB (_winnow_rolling_oracle), so
    the driver hash-checks values, not just rows; the winnowing
    guarantee is additionally property-tested in tests/test_operators.py.
    See yaetos_spark/operators/text.py:winnow_fingerprints_rolling."""
    docs = _tp(spark, sf_dir, "documents")
    fps = TX.winnow_fingerprints_rolling(docs, k=8, window=4)
    return (
        TX.winnow_overlap_pairs(fps, min_shared=4, max_doc_freq=20)
        .orderBy("id_a", "id_b")
    )


_WINNOW_SQL = f"""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                             '\\s+', ' ', 'g')) AS t
  FROM documents
),
pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 8 + 2)) AS i
  FROM norm WHERE len(t) >= 8
),
kg AS (
  SELECT doc_id, i, {_hex_long_sql("md5(substr(t, i, 8))", 1)} AS h FROM pos
),
win AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wh,
         max(i) OVER (PARTITION BY doc_id) AS maxi
  FROM kg
),
fp AS (
  SELECT DISTINCT doc_id, wh AS fingerprint
  FROM win WHERE i <= greatest(maxi - 4 + 1, 1)
),
rare AS (
  SELECT doc_id, fingerprint FROM (
    SELECT doc_id, fingerprint, count(*) OVER (PARTITION BY fingerprint) AS dfreq
    FROM fp
  ) WHERE dfreq <= 20
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM rare a JOIN rare b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 4
"""


def _winnow_rolling_oracle() -> str:
    """Value-level DuckDB twin of the numpy rolling-hash winnowing
    (VERDICT r10 item 2 — closes the corpus's only rows-only hole).

    The 'not SQL-expressible' framing was wrong: the mod-2^64
    polynomial k-gram hash is exact int128 arithmetic. Per position,
    sum(ascii(char) * B^(k-1-j)) % 2^64 in HUGEINT reproduces the
    worker-side uint64 matmul bit-for-bit (max partial sum ~2^75 <<
    2^127, so nothing overflows before the explicit mod); window
    minima compare UNSIGNED (still hugeint — converting to signed
    before the min would reorder); and numpy's final .view(int64)
    reinterpretation is the two's-complement CASE at the fp stage.
    Weight literals derive from text.WINNOW_ROLLING_BASE, the same
    constant the operator uses."""
    from yaetos_spark.operators.text import WINNOW_ROLLING_BASE

    k, window = 8, 4
    pows = []
    acc = 1
    for _ in range(k):
        pows.append(acc)
        acc = (acc * WINNOW_ROLLING_BASE) % (1 << 64)
    weights = list(reversed(pows))  # weights[j] = B^(k-1-j), as in the operator
    terms = " + ".join(
        f"CAST(ascii(substr(t, i + {j}, 1)) AS HUGEINT) * CAST('{weights[j]}' AS HUGEINT)"
        for j in range(k)
    )
    two64 = "CAST('18446744073709551616' AS HUGEINT)"
    two63 = "CAST('9223372036854775808' AS HUGEINT)"
    return f"""
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents
  WHERE text IS NOT NULL AND len(text) >= {k}
),
pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) - {k} + 2)) AS i
  FROM norm WHERE len(t) >= {k}
),
kg AS (
  SELECT doc_id, i, ({terms}) % {two64} AS h FROM pos
),
win AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING) AS wh,
         max(i) OVER (PARTITION BY doc_id) AS maxi
  FROM kg
),
fp AS (
  SELECT DISTINCT doc_id,
         CAST(CASE WHEN wh >= {two63} THEN wh - {two64} ELSE wh END AS BIGINT)
           AS fingerprint
  FROM win WHERE i <= greatest(maxi - {window} + 1, 1)
),
rare AS (
  SELECT doc_id, fingerprint FROM (
    SELECT doc_id, fingerprint, count(*) OVER (PARTITION BY fingerprint) AS dfreq
    FROM fp
  ) WHERE dfreq <= 20
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM rare a JOIN rare b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 4
"""


def _ngram_contamination(spark, sf_dir):
    """Benchmark-contamination scan: docs with doc_id % 20 == 0 play
    the eval set; every other doc is scored by how many of its token
    bigrams appear in the eval set. See
    yaetos_spark/operators/curation.py:ngram_contamination."""
    docs = _tp(spark, sf_dir, "documents")
    eval_df = docs.where(F.col("doc_id") % 20 == 0)
    train = docs.where(F.col("doc_id") % 20 != 0)
    return CU.ngram_contamination(train, eval_df, n=2)


_CONTAMINATION_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
grams AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram, len(t) - 1 AS n_ngrams
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
eval_grams AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0),
train AS (SELECT * FROM grams WHERE doc_id % 20 != 0)
SELECT train.doc_id,
       any_value(train.n_ngrams) AS n_ngrams,
       count(*) AS n_hits,
       count(*) / any_value(train.n_ngrams) AS contamination_ratio
FROM train JOIN eval_grams USING (gram)
GROUP BY train.doc_id
"""


def _stratified_sample(spark, sf_dir):
    """Deterministic stratified sample: 5 docs per (lang, source)
    stratum, ranked by md5(doc_id) — identical subset on every engine
    and every run. See curation.py:deterministic_sample."""
    docs = _t(spark, sf_dir, "documents")
    return CU.deterministic_sample(docs, ["lang", "source"], 5).select(
        "lang", "source", "doc_id", "sample_rank"
    )


_STRATIFIED_SQL = """
SELECT lang, source, doc_id, sample_rank
FROM (
  SELECT lang, source, doc_id,
         row_number() OVER (PARTITION BY lang, source ORDER BY md5(CAST(doc_id AS VARCHAR))) AS sample_rank
  FROM documents
)
WHERE sample_rank <= 5
"""


def _repetition_profile(spark, sf_dir):
    """Gopher-style repetition quality signals (top-word fraction,
    duplicate-bigram fraction) — zero-shuffle per-doc HOFs. See
    curation.py:repetition_profile."""
    docs = _tp(spark, sf_dir, "documents")
    return CU.repetition_profile(docs)


_REPETITION_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
wc AS (
  SELECT doc_id, max(cnt) AS max_cnt FROM (
    SELECT doc_id, w, count(*) AS cnt
    FROM (SELECT doc_id, unnest(t) AS w FROM toks)
    GROUP BY doc_id, w
  ) GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         count(*) AS n_bigrams,
         count(DISTINCT gram) AS n_distinct
  FROM (
    SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
    FROM toks, unnest(range(1, len(t))) AS r(i)
    WHERE len(t) >= 2
  ) GROUP BY doc_id
)
SELECT toks.doc_id,
       len(toks.t) AS n_words,
       wc.max_cnt / len(toks.t) AS top_word_frac,
       1 - bg.n_distinct / bg.n_bigrams AS dup_bigram_frac
FROM toks
JOIN wc USING (doc_id)
LEFT JOIN bg USING (doc_id)
"""


def _pack_sequences(spark, sf_dir):
    """Sequence packing: per-source running token count folded into
    2048-token context windows (split-at-boundary semantics). See
    curation.py:pack_sequences."""
    docs = _t(spark, sf_dir, "documents")
    return CU.pack_sequences(docs, budget_tokens=2048)


_PACK_SQL = r"""
WITH toks AS (
  SELECT source, doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
binned AS (
  SELECT source,
         floor(coalesce(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048) AS bin_id,
         n_tokens
  FROM toks
)
SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM binned
GROUP BY source, bin_id
"""


def _chunk_sliding_windows(spark, sf_dir):
    """Sliding token-window chunking with overlap (64-token chunks,
    16-token overlap): the context-window/RAG preprocessing step.
    Zero shuffles — tokenize, sequence the starts, explode, slice.
    See curation.py:chunk_documents."""
    docs = _t(spark, sf_dir, "documents")
    return CU.chunk_documents(docs, chunk_tokens=64, overlap_tokens=16)


_CHUNK_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS t
  FROM documents
),
sized AS (
  SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
),
starts AS (
  SELECT doc_id, t, n, unnest(range(0, greatest(n - 16, 1), 48)) AS s
  FROM sized
)
SELECT doc_id,
       CAST(s // 48 AS INTEGER) AS chunk_id,
       CAST(least(64, n - s) AS INTEGER) AS n_tokens,
       array_to_string(list_slice(t, s + 1, s + 64), ' ') AS chunk_text
FROM starts
"""


def _pii_redaction(spark, sf_dir):
    """PII scrub over documents with synthetic identifiers injected
    deterministically (the testdata has none), so the redaction +
    counting machinery is value-checked end-to-end. See
    curation.py:redact_pii."""
    docs = _tp(spark, sf_dir, "documents")
    d = F.col("doc_id")
    injected = F.concat(
        F.lit("reach me at user"), d.cast("string"),
        F.lit("@mail"), (d % 7).cast("string"),
        F.lit(".example or +1 555 "), F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (d % 256).cast("string"),
        F.lit("."), ((d * 7) % 256).cast("string"),
        F.lit(" -- "), F.substring("text", 1, 50),
    )
    return CU.redact_pii(docs.select("doc_id", injected.alias("text")))


_PII_SQL = r"""
WITH inj AS (
  SELECT doc_id,
         'reach me at user' || CAST(doc_id AS VARCHAR) || '@mail' ||
         CAST(doc_id % 7 AS VARCHAR) || '.example or +1 555 ' ||
         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' from 10.0.' ||
         CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ||
         ' -- ' || substr(text, 1, 50) AS t
  FROM documents
),
r1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t
  FROM inj
),
r2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
         regexp_replace(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t
  FROM r1
),
r3 AS (
  SELECT doc_id, n_email, n_ip,
         len(regexp_extract_all(t, '\+?\d[\d ().-]{6,}\d')) AS n_phone,
         regexp_replace(t, '\+?\d[\d ().-]{6,}\d', '[PHONE]', 'g') AS t
  FROM r2
)
SELECT doc_id, n_email, n_ip, n_phone, t AS redacted FROM r3
"""


def _vocab_coverage(spark, sf_dir):
    """Top-25 vocabulary with cumulative corpus coverage share. See
    curation.py:vocab_coverage."""
    return CU.vocab_coverage(_t(spark, sf_dir, "documents"), top_n=25)


_VOCAB_SQL = r"""
WITH counts AS (
  SELECT word, count(*) AS n
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents)
  GROUP BY word
)
SELECT rank, word, n, cum_share FROM (
  SELECT row_number() OVER (ORDER BY n DESC, word) AS rank, word, n,
         sum(n) OVER (ORDER BY n DESC, word ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / sum(n) OVER () AS cum_share
  FROM counts
)
WHERE rank <= 25
"""


def _hash_sample(spark, sf_dir):
    """Deterministic Bernoulli 25% sample of documents — md5-uniform
    per id, reproducible across engines/partitionings. See
    curation.py:bernoulli_sample."""
    docs = _t(spark, sf_dir, "documents")
    return CU.bernoulli_sample(docs, p=0.25).select("doc_id", "u")


_HASH_SAMPLE_SQL = f"""
SELECT doc_id, u FROM (
  SELECT doc_id,
         {_hex_long_sql("md5(CAST(doc_id AS VARCHAR))", 1)} / 4294967296.0 AS u
  FROM documents
)
WHERE u < 0.25
"""


def _quantiles_summary(spark, sf_dir):
    """Exact interpolated quantiles per group — Spark percentile()
    and DuckDB quantile_cont() share the lo + (hi-lo)*frac definition,
    so values match bit-for-bit. (percentile_approx is the 100 TB path;
    it's engine-specific by design so the oracle pins the exact one.)"""
    li = _tpk(spark, sf_dir, "lineitem", "l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


_QUANTILES_SQL = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.5) AS p50,
       quantile_cont(l_extendedprice, 0.9) AS p90,
       quantile_cont(l_extendedprice, 0.99) AS p99,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""


def _resample_locf(spark, sf_dir):
    """Per-user 6-hour-grid resampling with last-observation-carried-
    forward gap fill. See yaetos_spark/operators/timeseries.py."""
    ev = _tp(spark, sf_dir, "events")
    return TS.resample_locf(ev, interval_sec=21600)


_RESAMPLE_LOCF_SQL = """
WITH cells AS (
  SELECT user_id,
         CAST(floor(extract(epoch FROM ts) / 21600) AS BIGINT) * 21600 AS bucket_sec,
         arg_max(value, ts) AS obs
  FROM events GROUP BY 1, 2
),
grids AS (
  SELECT user_id, unnest(range(lo, hi + 1, 21600)) AS bucket_sec
  FROM (SELECT user_id, min(bucket_sec) AS lo, max(bucket_sec) AS hi FROM cells GROUP BY 1)
),
joined AS (
  SELECT g.user_id, g.bucket_sec, c.obs
  FROM grids g LEFT JOIN cells c USING (user_id, bucket_sec)
)
SELECT user_id, bucket_sec,
       last_value(obs IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY bucket_sec
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
       obs IS NOT NULL AS is_observed
FROM joined
"""


def _pagerank_customers(spark, sf_dir):
    """Fixed-point PageRank (3 iterations, damping 17/20) over the
    customer<->supplier trade graph — integer arithmetic makes ranks
    bit-identical across engines and runs. See
    yaetos_spark/operators/graph.py:pagerank_fixed_point."""
    from yaetos_spark.operators.graph import pagerank_fixed_point

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # distinct on the (custkey, suppkey) LONG pair, stringify after:
    # the distinct's shuffle and hash table work on 16-byte long pairs
    # instead of strings, and the concat runs once per DISTINCT pair
    # instead of once per lineitem row. Identical edges ("c"/"s"
    # prefixes keep the namespaces disjoint, so the long pair and the
    # string pair dedup to the same set).
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
    )
    return pagerank_fixed_point(edges, iters=3)


def _pagerank_iter_sql(prev: str) -> str:
    return f"""
  SELECT n.node, 150000000000 + ((coalesce(s.t, 0) * 17) // 20) AS r
  FROM n LEFT JOIN (
    SELECT e.dst AS node, sum({prev}.r // deg.outdeg) AS t
    FROM e JOIN {prev} ON e.src = {prev}.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst
  ) s ON n.node = s.node"""


_PAGERANK_SQL = f"""
WITH eraw AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS a,
                  's' || CAST(l_suppkey AS VARCHAR) AS b
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
e AS (SELECT a AS src, b AS dst FROM eraw UNION SELECT b, a FROM eraw),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
n AS (SELECT DISTINCT src AS node FROM e),
r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM n),
r1 AS ({_pagerank_iter_sql("r0")}),
r2 AS ({_pagerank_iter_sql("r1")}),
r3 AS ({_pagerank_iter_sql("r2")})
SELECT node, CAST(r AS DOUBLE) / 1000000000000.0 AS rank FROM r3
"""


def _big_orders(spark, sf_dir):
    """TPC-H Q18 analog: customers with orders whose total quantity
    exceeds a threshold. l_quantity is integer-valued, so the double
    sum is exact and order-independent — safe to value-check and to
    threshold."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    totals = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(totals, o.o_orderkey == totals.l_orderkey)
        .select(
            "c_name",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("orderdate_sec"),
            "total_qty",
        )
    )


_BIG_ORDERS_SQL = """
SELECT c_name, o_orderkey,
       CAST(floor(extract(epoch FROM o_orderdate)) AS BIGINT) AS orderdate_sec,
       total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
) t ON o_orderkey = t.l_orderkey
"""


def _idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 analog: per-nation count/balance of customers with
    above-average balance and no URGENT orders (every synthetic
    customer has some order, so the anti-join is on the filtered
    subset). The average threshold is applied as the cross-multiplied
    DECIMAL predicate acctbal * n > sum (exact in both engines)
    instead of acctbal > sum/n, whose float division would put
    boundary rows at the mercy of engine rounding."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    dec = F.col("c_acctbal").cast("decimal(18,2)")
    stats = (
        c.where(F.col("c_acctbal") > 0)
        .agg(F.count(F.lit(1)).alias("_n"), F.sum(dec).alias("_s"))
    )
    rich = (
        c.crossJoin(F.broadcast(stats))
        .where(dec * F.col("_n") > F.col("_s"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(dec).cast("double").alias("totacctbal"),
    )


_IDLE_RICH_SQL = """
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE CAST(c_acctbal AS DECIMAL(18,2)) *
        (SELECT count(*) FROM customer WHERE c_acctbal > 0) >
      (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def _fuzzy_customer_pairs(spark, sf_dir):
    """Entity-resolution fuzzy matching: customer-name pairs within a
    prefix block at Levenshtein distance <= 1. The 16-char prefix
    block bounds every block at 100 names regardless of scale factor,
    so the within-block self-join cost stays linear in customers. See
    yaetos_spark/operators/dedup.py:blocked_fuzzy_pairs."""
    # starved-scan repartition: the single-row-group customer scan
    # otherwise leaves the per-pair levenshtein work on few cores
    c = _tpk(spark, sf_dir, "customer", "c_custkey")

    return D.blocked_fuzzy_pairs(
        c, "c_name", "c_custkey", block=F.substring("c_name", 1, 16), max_dist=1
    )


_FUZZY_SQL = """
WITH s AS (
  SELECT c_custkey AS id, c_name AS name, substr(c_name, 1, 16) AS blk FROM customer
)
SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS dist
FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id
WHERE levenshtein(a.name, b.name) <= 1
"""


def _rank_functions(spark, sf_dir):
    """percent_rank / cume_dist / dense_rank over order totals per
    priority — the remaining ranking-window family members."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderpriority",
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).alias("drank"),
    )


_RANK_FUNCS_SQL = """
SELECT o_orderpriority, o_orderkey,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       dense_rank() OVER w AS drank
FROM orders
WHERE o_orderkey % 100 = 0
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
"""


def _latest_events(spark, sf_dir):
    """CDC compaction: latest event per user (merge.py:
    latest_snapshot — max_by over (ts, row-hash), map-side combining
    so a hot key never concentrates in one task). Event timestamps are
    unique per user in the testdata, so the pick is deterministic."""
    from yaetos_spark.operators.merge import latest_snapshot

    ev = _t(spark, sf_dir, "events")
    out = latest_snapshot(ev, ["user_id"], "ts")
    return out.select(
        "user_id",
        "event_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        "event_type",
        "value",
    )


_LATEST_EVENTS_SQL = """
SELECT user_id, event_id,
       CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS ts_sec,
       event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


def _scd2_user_types(spark, sf_dir):
    """SCD2 interval construction (merge.py:scd2) over each user's
    event-type change stream: valid_from/valid_to from consecutive
    timestamps, open interval on the current row."""
    from yaetos_spark.operators.merge import scd2

    ev = _t(spark, sf_dir, "events").where(F.col("event_id") % 20 == 0)
    out = scd2(ev.select("user_id", "event_type", "ts"), ["user_id"], "ts")
    return out.select(
        "user_id",
        "event_type",
        F.unix_timestamp("valid_from").alias("from_sec"),
        F.unix_timestamp("valid_to").alias("to_sec"),
        "is_current",
    )


_SCD2_SQL = """
SELECT user_id, event_type,
       CAST(floor(extract(epoch FROM ts)) AS BIGINT) AS from_sec,
       CAST(floor(extract(epoch FROM coalesce(
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
           TIMESTAMP '9999-12-31 00:00:00'))) AS BIGINT) AS to_sec,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
FROM events
WHERE event_id % 20 = 0
"""


def _value_drift(spark, sf_dir):
    """Per-event-type value drift: exact OLS slope/intercept of value
    (cents) on seconds since 2024-01-01, sufficient statistics summed
    in DECIMAL so results are bit-identical across engines. See
    yaetos_spark/operators/stats.py:ols_per_group."""
    from yaetos_spark.operators.stats import ols_per_group

    ev = _t(spark, sf_dir, "events")
    x = F.unix_timestamp("ts") - F.lit(1704067200)
    y = F.round(F.col("value") * 100).cast("long")
    return ols_per_group(ev, ["event_type"], x, y)


_VALUE_DRIFT_SQL = """
WITH b AS (
  SELECT event_type,
         CAST(floor(extract(epoch FROM ts)) AS BIGINT) - 1704067200 AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
s AS (
  SELECT event_type, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM b GROUP BY 1
),
-- num/den can exceed 2^53; casting such integers to DOUBLE is not
-- identically rounded across engines. Mirror stats.py:ols_per_group:
-- shrink both by the SAME integer divisor (exact // arithmetic, the
-- possibly-negative numerator sign-split so floor == truncate), then
-- the double casts are lossless and the one float division matches
-- bit-for-bit.
r AS (
  SELECT event_type, n, sx, sy,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS den,
         1 + greatest(abs(n * sxy - sx * sy), n * sxx - sx * sx) // 9007199254740992 AS d
  FROM s
),
q AS (
  SELECT event_type, n, sx, sy,
         CASE WHEN den != 0 THEN
           CAST(CASE WHEN num < 0 THEN -((-num) // d) ELSE num // d END AS DOUBLE)
             / CAST(den // d AS DOUBLE)
         END AS slope,
         -- same shrink for the intercept's Sx/Sy casts (stats.py r6)
         1 + greatest(abs(sx), abs(sy)) // 9007199254740992 AS d2
  FROM r
)
SELECT event_type, n, slope,
       (CAST(CASE WHEN sy < 0 THEN -((-sy) // d2) ELSE sy // d2 END AS DOUBLE)
          - slope * CAST(CASE WHEN sx < 0 THEN -((-sx) // d2) ELSE sx // d2 END AS DOUBLE))
         / n * CAST(d2 AS DOUBLE) AS intercept
FROM q
"""


def _weighted_sample(spark, sf_dir):
    """Quality-weighted reproducible sampling: longer documents keep a
    proportionally higher chance (p = min(n_chars/600, 0.9)), selection
    still a pure function of doc_id. See curation.py:bernoulli_sample
    with a Column probability."""
    docs = _t(spark, sf_dir, "documents")
    p = F.least(F.col("n_chars") / 600.0, F.lit(0.9))
    return CU.bernoulli_sample(docs, p).select("doc_id", "n_chars", "u")


_WEIGHTED_SAMPLE_SQL = f"""
SELECT doc_id, n_chars, u FROM (
  SELECT doc_id, n_chars,
         {_hex_long_sql("md5(CAST(doc_id AS VARCHAR))", 1)} / 4294967296.0 AS u
  FROM documents
)
WHERE u < least(n_chars / 600.0, 0.9)
"""


def _trailing_range_window(spark, sf_dir):
    """Time-based RANGE frame: per-supplier 30-day trailing revenue —
    RANGE BETWEEN over a day number includes all rows whose ORDER-BY
    value falls in the interval, unlike a ROWS frame which counts
    physical rows (wrong when days are missing or duplicated)."""
    # starved-scan repartition on the window/groupBy key (A/B 0.78x)
    li = load_table(spark, sf_dir, "lineitem", parallelize="l_suppkey")
    daily = (
        li.where(F.col("l_suppkey") % 10 == 0)
        .groupBy("l_suppkey", F.datediff("l_shipdate", F.lit("1992-01-01")).alias("day_no"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev"))
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("day_no")
        .rangeBetween(-29, 0)
    )
    return daily.select(
        "l_suppkey",
        "day_no",
        F.sum(F.col("_rev").cast("decimal(28,4)")).over(w).cast("double").alias("rev_30d"),
    )


_TRAILING_RANGE_SQL = """
WITH daily AS (
  SELECT l_suppkey,
         date_diff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE)) AS day_no,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS _rev
  FROM lineitem
  WHERE l_suppkey % 10 = 0
  GROUP BY 1, 2
)
SELECT l_suppkey, day_no,
       CAST(sum(CAST(_rev AS DECIMAL(28,4))) OVER (
         PARTITION BY l_suppkey ORDER BY day_no
         RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_30d
FROM daily
"""


def _null_safe_join(spark, sf_dir):
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other, unlike plain = which drops them — the semantics a
    dimension join on optional attributes needs."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.select("doc_id", F.nullif(F.col("lang"), F.lit("de")).alias("k"))
    b = (
        docs.select(F.nullif(F.col("lang"), F.lit("de")).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("k_count"))
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["k"]))
        .select("doc_id", a["k"].alias("k"), "k_count")
    )


_NULL_SAFE_SQL = """
WITH a AS (SELECT doc_id, nullif(lang, 'de') AS k FROM documents),
b AS (SELECT nullif(lang, 'de') AS k, count(*) AS k_count FROM documents GROUP BY 1)
SELECT a.doc_id, a.k, b.k_count
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


# ---------------------------------------------------------------------
# round-3 additions: TPC-H analog shapes Q13/Q14/Q15/Q17/Q21 + Q11-ish,
# doc-level OOV counting, domain-mix rebalancing
# ---------------------------------------------------------------------


def _customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 analog: distribution of per-customer order counts with
    a predicate INSIDE the left-join condition (customers with zero
    qualifying orders stay, at c_count=0) — the two-level aggregation
    shape. Scale: both groupBys are hash-aggs; customer⋈orders shuffles
    once on the customer key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_CUSTOMER_ORDER_DIST_SQL = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY c_count
"""


def _promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 analog: promo revenue percentage in a date window —
    conditional-decimal-sum ratio, broadcast part side."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    zero = F.lit(0).cast("decimal(28,4)")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
        )
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", dec).otherwise(zero)).cast("double")
                / F.sum(dec).cast("double")
            ).alias("promo_pct"),
            F.sum(dec).cast("double").alias("total_rev"),
        )
    )


_PROMO_SHARE_SQL = """
SELECT
  CAST(100.0 AS DOUBLE)
    * CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))
                    ELSE CAST(0 AS DECIMAL(28,4)) END) AS DOUBLE)
    / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE)
    AS promo_pct,
  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS total_rev
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def _top_supplier_revenue(spark, sf_dir):
    """TPC-H Q15 analog: supplier(s) whose windowed revenue equals the
    maximum — agg + scalar-max subquery with EXACT decimal equality (a
    double-rounded revenue would make the = a coin flip at the
    boundary)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey,
                 sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS rev_dec
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
        """
    )


_TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
"""


def _small_qty_avg_revenue(spark, sf_dir):
    """TPC-H Q17 analog: revenue from below-average-quantity lineitems
    of one brand — correlated scalar AVG subquery. l_quantity is
    integer-valued, so the per-part avg (exact-double sum / count) is
    bit-identical across engines and the < threshold never flips."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#2'
          AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * avg(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        """
    )


_SMALL_QTY_SQL = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#2'
  AND l_quantity < (SELECT CAST(0.2 AS DOUBLE) * avg(l2.l_quantity)
                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
"""


def _waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 analog: suppliers who were the SOLE late shipper in
    multi-supplier finished orders ("late" = shipped >60 days after
    the order date). The exists/not-exists pair is computed as order-
    level aggregates instead of two correlated self-joins — one
    (order, supplier) agg and one order agg, then an equi-join back;
    at 100 TB that's 2 hash-agg shuffles on the fact table instead of
    3 self-join passes. Output is pure ints/strings (no floats)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    ol = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("is_late"))
    )
    ostats = ol.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("is_late").alias("n_late")
    )
    return (
        ol.join(ostats, "l_orderkey")
        .filter((F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_WAITING_SUPPLIERS_SQL = """
WITH ol AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
),
ostats AS (
  SELECT l_orderkey, count(*) AS n_supp, sum(is_late) AS n_late FROM ol GROUP BY l_orderkey
)
SELECT s_name, count(*) AS numwait
FROM ol JOIN ostats USING (l_orderkey) JOIN supplier ON s_suppkey = l_suppkey
WHERE ol.is_late = 1 AND ostats.n_supp > 1 AND ostats.n_late = 1
GROUP BY s_name
"""


def _concentrated_part_revenue(spark, sf_dir):
    """TPC-H Q11 shape (adapted: no partsupp table — lineitem revenue
    stands in for stock value): parts whose revenue exceeds 1.5× the
    mean part revenue — group aggregate filtered against a global
    scalar. Both sides of the > are doubles derived from exact decimal
    sums, so the engines agree everywhere off the measure-zero
    boundary."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_partkey,
                 sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS rev_dec
          FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey AS p_partkey, CAST(rev_dec AS DOUBLE) AS revenue
        FROM rev
        WHERE CAST(rev_dec AS DOUBLE) * (SELECT count(*) FROM rev)
              > 1.5 * (SELECT CAST(sum(rev_dec) AS DOUBLE) FROM rev)
        """
    )


_CONCENTRATED_PART_SQL = """
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS rev_dec
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey AS p_partkey, CAST(rev_dec AS DOUBLE) AS revenue
FROM rev
WHERE CAST(rev_dec AS DOUBLE) * (SELECT count(*) FROM rev)
      > 1.5 * (SELECT CAST(sum(rev_dec) AS DOUBLE) FROM rev)
"""


def _doc_oov_counts(spark, sf_dir):
    """Doc-level out-of-vocabulary counts vs the corpus top-20 words
    (top_k=20 because the synthetic corpus has ~31 distinct words; the
    operator default is 100). See text.py:doc_oov_counts."""
    docs = _t(spark, sf_dir, "documents")
    return TX.doc_oov_counts(docs, top_k=20)


_DOC_OOV_SQL = r"""
WITH w AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
),
w2 AS (SELECT doc_id, word FROM w WHERE word <> ''),
vocab AS (
  SELECT word AS vword FROM w2 GROUP BY word ORDER BY count(*) DESC, word LIMIT 20
)
SELECT doc_id, count(*) AS n_tokens,
       CAST(sum(CASE WHEN vword IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM w2 LEFT JOIN vocab ON word = vword
GROUP BY doc_id
"""


def _lang_rebalance(spark, sf_dir):
    """Language-mix rebalancing: cap every language at the smallest
    language's document count, survivors picked by md5-of-id rank (the
    data-mixing step of a training pipeline). See
    curation.py:rebalance_groups."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return CU.rebalance_groups(docs, group_col="lang")


_LANG_REBALANCE_SQL = """
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
  FROM documents
),
q AS (SELECT min(cnt) AS quota FROM (SELECT count(*) AS cnt FROM documents GROUP BY lang))
SELECT doc_id, lang FROM ranked, q WHERE rk <= quota
"""


def _nation_profit_by_year(spark, sf_dir):
    """TPC-H Q9 analog: revenue by supplier nation × order year across
    a 5-way join (lineitem⋈orders⋈supplier⋈nation⋈part with a LIKE
    filter). Scale: lineitem is the only big side — orders joins on the
    fact key, supplier/nation/part broadcast; one fact exchange."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("profit"))
    )


_NATION_PROFIT_SQL = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS profit
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN part ON p_partkey = l_partkey
WHERE p_name LIKE '%a%'
GROUP BY n_name, o_year
"""


def _returned_revenue_topk(spark, sf_dir):
    """TPC-H Q10 analog: top-20 customers by revenue on returned items
    in a half-year window — join + agg + deterministic top-k (exact
    decimal sort key, customer-key tie-break)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(dec).alias("_dec"))
        .orderBy(F.desc("_dec"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", F.col("_dec").cast("double").alias("rev_lost"), "nation")
    )


_RETURNED_REVENUE_SQL = """
SELECT c_custkey, c_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS rev_lost,
       n_name AS nation
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON n_nationkey = c_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) DESC, c_custkey
LIMIT 20
"""


def _disjunctive_predicates(spark, sf_dir):
    """TPC-H Q19 analog: OR-of-ANDs mixing join-side and probe-side
    predicates — the shape that exercises predicate normalization /
    partial pushdown (each disjunct's part-side conjuncts can push to
    the broadcast build)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    dec = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 10)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") >= 25)
    ) | ((F.col("p_type") == "PROMO") & (F.col("l_quantity") < 5))
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.sum(dec).cast("double").alias("revenue"),
        )
    )


_DISJUNCTIVE_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_matches,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 25)
   OR (p_type = 'PROMO' AND l_quantity < 5)
"""


def _dominant_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (adapted: shipped quantities stand in for the
    missing partsupp availability): suppliers shipping >15% of some
    part's total quantity — nested aggregation + IN-subquery semi-join.
    The threshold compare is integer-valued-double × int (exact)."""
    # starved-scan repartition on l_partkey: a hash on a SUBSET of the
    # grouping keys satisfies both groupBys' clustering (pq on
    # (l_partkey, l_suppkey), pt on l_partkey) and the USING join
    _tpk(spark, sf_dir, "lineitem", "l_partkey").createOrReplaceTempView("lineitem")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    return spark.sql(
        """
        WITH pq AS (
          SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
          FROM lineitem GROUP BY l_partkey, l_suppkey
        ),
        pt AS (SELECT l_partkey, sum(supp_qty) AS part_qty FROM pq GROUP BY l_partkey)
        SELECT DISTINCT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM pq JOIN pt USING (l_partkey)
          WHERE supp_qty * 20 > part_qty * 3
        )
        """
    )


_DOMINANT_SUPPLIERS_SQL = """
WITH pq AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
pt AS (SELECT l_partkey, sum(supp_qty) AS part_qty FROM pq GROUP BY l_partkey)
SELECT DISTINCT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM pq JOIN pt USING (l_partkey)
  WHERE supp_qty * 20 > part_qty * 3
)
"""


def _funnel_conversion(spark, sf_dir):
    """Ordered-funnel analysis (view → click → purchase-within-2-days):
    per-step minimum timestamps chained by strict event-time order —
    the product-analytics op a clickstream warehouse runs daily. Counts
    are exact ints. Scale: three hash-aggs on user_id + two joins that
    reuse the same key partitioning; no window over the raw stream."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH m AS (
          SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
          FROM events GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN m ON e.user_id = m.user_id
          WHERE e.event_type = 'click' AND e.ts > m.t_view
          GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            AND e.ts <= c.t_click + INTERVAL 2 DAYS
          GROUP BY e.user_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_entered,
               CAST(count(t_click) AS BIGINT) AS n_clicked,
               CAST(count(t_purchase) AS BIGINT) AS n_purchased
        FROM m LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        WHERE m.t_view IS NOT NULL
        """
    )


_FUNNEL_SQL = """
WITH m AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN m ON e.user_id = m.user_id
  WHERE e.event_type = 'click' AND e.ts > m.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
    AND e.ts <= c.t_click + INTERVAL 2 DAY
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_entered,
       CAST(count(t_click) AS BIGINT) AS n_clicked,
       CAST(count(t_purchase) AS BIGINT) AS n_purchased
FROM m LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
WHERE m.t_view IS NOT NULL
"""


def _cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users bucketed by first-seen week,
    distinct-active counts per (cohort_week, weeks_since). weeks_since
    is day-difference of week-truncated dates div 7 — unambiguous
    integer arithmetic in both engines (named week-diff functions count
    boundaries differently across engines)."""
    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH firstw AS (
          SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
          FROM events GROUP BY user_id
        )
        SELECT date_format(cohort_week, 'yyyy-MM-dd') AS cohort,
               CAST(datediff(date_trunc('week', ts), cohort_week) div 7 AS BIGINT)
                 AS weeks_since,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
        FROM events e JOIN firstw USING (user_id)
        GROUP BY cohort_week, weeks_since
        """
    )


_COHORT_SQL = """
WITH firstw AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', cohort_week, date_trunc('week', ts)) // 7 AS BIGINT)
         AS weeks_since,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
FROM events e JOIN firstw USING (user_id)
GROUP BY cohort_week, weeks_since
"""


def _nation_triangles(spark, sf_dir):
    """Per-vertex triangle counts over the inter-nation trade graph
    (edge = some customer in nation A bought from a supplier in nation
    B). The distributed oriented-edge triangle enumeration — see
    graph.py:triangle_count (degree-orientation note for skewed graphs
    there)."""
    from yaetos_spark.operators.graph import triangle_count

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
    return triangle_count(edges)


_NATION_TRIANGLES_SQL = """
WITH e AS (
  SELECT DISTINCT least(c_nationkey, s_nationkey) AS a,
                  greatest(c_nationkey, s_nationkey) AS b
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN supplier ON s_suppkey = l_suppkey
  WHERE c_nationkey <> s_nationkey
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
GROUP BY node
"""


def _events_at_type(spark, sf_dir):
    """SCD2 point-in-time lookup: each purchase event joined to the
    user-type version (built by merge.py:scd2 from the sampled change
    stream) valid at the purchase time. See merge.py:scd2_lookup —
    equi-join on user_id with the interval predicate post-filtered, so
    the plan is a key-partitioned hash join, not a range cross-join."""
    from yaetos_spark.operators.merge import scd2, scd2_lookup

    ev = _t(spark, sf_dir, "events")
    dim = scd2(
        ev.where(F.col("event_id") % 20 == 0).select("user_id", "event_type", "ts"),
        ["user_id"],
        "ts",
    ).select(
        "user_id", F.col("event_type").alias("user_type"), "valid_from", "valid_to"
    )
    facts = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = scd2_lookup(facts, dim, ["user_id"], fact_ts="ts")
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("t_sec"),
        "user_type",
    )


_EVENTS_AT_TYPE_SQL = """
WITH dim AS (
  SELECT user_id, event_type AS user_type,
         ts AS valid_from,
         coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                  TIMESTAMP '9999-12-31 00:00:00') AS valid_to
  FROM events WHERE event_id % 20 = 0
)
SELECT e.event_id, e.user_id,
       CAST(floor(extract(epoch FROM e.ts)) AS BIGINT) AS t_sec,
       d.user_type
FROM events e JOIN dim d
  ON e.user_id = d.user_id AND e.ts >= d.valid_from AND e.ts < d.valid_to
WHERE e.event_type = 'purchase'
"""


def _daily_rollup_maintained(spark, sf_dir):
    """Continuous-aggregate contract: the daily rollup MAINTAINED
    incrementally (two half-slices split by event parity, so the same
    (type, day) keys merge across slices) must equal the oracle's full
    recompute. See rollup.py:incremental_rollup — at 100 TB the rollup
    update aggregates only the new slice and merges with the
    rollup-sized table; history is never re-read."""
    from yaetos_spark.operators.rollup import incremental_rollup, rollup_delta

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("value").cast("decimal(28,6)").alias("v"),
        "value",
        "event_id",
    )
    spec = {
        "n": ("count", None),
        "total_dec": ("sum", "v"),
        "lo": ("min", "value"),
        "hi": ("max", "value"),
    }
    keys = ["event_type", "day"]
    base = rollup_delta(ev.where(F.col("event_id") % 2 == 0), keys, spec)
    out = incremental_rollup(base, ev.where(F.col("event_id") % 2 == 1), keys, spec)
    return out.select(
        "event_type", "day", "n",
        F.col("total_dec").cast("double").alias("total"), "lo", "hi",
    )


_DAILY_ROLLUP_SQL = """
SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
       min(value) AS lo, max(value) AS hi
FROM events GROUP BY event_type, day
"""


def _approx_median_contract(spark, sf_dir):
    """t-digest/GK-sketch error contract (the percentile sibling of the
    HLL contract in approx_distinct_parts): the approx median itself is
    engine-specific, so the query emits the EXACT per-group median
    (oracle-computable, type-7 interpolation in both engines) plus
    whether the sketch's value sits within ±4% RANK error of the true
    median — percentile_approx(accuracy=100) guarantees ≤1% rank
    error, so 4% catches a broken sketch without flaking. The rank of
    the approx value is measured against the data itself (one
    broadcast join of the 5-row sketch frame back onto events)."""
    ev = _t(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 100).alias("approx_p50"),
        F.expr("percentile(value, 0.5D)").alias("exact_p50"),
    )
    ranked = (
        ev.join(F.broadcast(sk), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("exact_p50").alias("exact_p50"),
            (
                F.sum(F.when(F.col("value") <= F.col("approx_p50"), 1).otherwise(0))
                / F.count(F.lit(1))
            ).alias("rank_frac"),
        )
    )
    return ranked.select(
        "event_type",
        "exact_p50",
        (F.abs(F.col("rank_frac") - 0.5) <= 0.04).alias("est_ok"),
    )


_APPROX_MEDIAN_SQL = """
SELECT event_type, quantile_cont(value, 0.5) AS exact_p50, TRUE AS est_ok
FROM events GROUP BY event_type
"""


def _rfm_segments(spark, sf_dir):
    """RFM segmentation: per-customer recency/frequency/monetary
    quintiles, all three computed by the fused distributed_ntile_multi
    (one cached base, one boundary job, one sizes job — no
    single-partition global window; see windows.py). Tie-exact vs
    the oracle's built-in ntile: each metric is encoded with the
    customer key into one unique sort key (metric * 1e7 + custkey,
    valid while custkey < 1e7), which is order-equivalent to
    ORDER BY metric, c_custkey."""
    # starved-scan repartition REVERTED (r11 opt validation): ratios
    # 0.92/0.93/0.95 across three interleaved batches incl. the quiet
    # window — no reproducible win over the distributed-ntile pipeline
    o = _t(spark, sf_dir, "orders")
    enc = 10_000_000
    m = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(F.lit("2001-09-01").cast("timestamp"), F.max("o_orderdate"))
        .cast("long").alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        (F.sum(F.col("o_totalprice").cast("decimal(28,2)")) * 100)
        .cast("long").alias("cents"),
    ).select(
        "c_custkey",
        (F.col("rec_days") * enc + F.col("c_custkey")).alias("r_key"),
        (F.col("freq") * enc + F.col("c_custkey")).alias("f_key"),
        (F.col("cents") * enc + F.col("c_custkey")).alias("m_key"),
    )
    out = WOP.distributed_ntile_multi(
        m,
        [("r_key", 5, "r_score"), ("f_key", 5, "f_score"), ("m_key", 5, "m_score")],
    )
    return out.select("c_custkey", "r_score", "f_score", "m_score")


_RFM_SQL = """
WITH m AS (
  SELECT o_custkey AS c_custkey,
         CAST(date_diff('day', max(o_orderdate), TIMESTAMP '2001-09-01') AS BIGINT) AS rec_days,
         count(*) AS freq,
         CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey,
       CAST(ntile(5) OVER (ORDER BY rec_days, c_custkey) AS INT) AS r_score,
       CAST(ntile(5) OVER (ORDER BY freq, c_custkey) AS INT) AS f_score,
       CAST(ntile(5) OVER (ORDER BY cents, c_custkey) AS INT) AS m_score
FROM m
"""


def _part_pairs_support(spark, sf_dir):
    """Market-basket pair support: parts co-occurring in the same order
    with support >= 2 — the pairwise frequent-itemset pass. Scale: the
    self-join is keyed on l_orderkey, so fan-out per order is
    C(parts_in_order, 2) with order size bounded by the schema (~7
    lines); the join shuffles on the order key, never all-pairs."""
    op = (
        _tp(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 2)
    )


_PART_PAIRS_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS p1, b.l_partkey AS p2, CAST(count(*) AS BIGINT) AS n_orders
FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY p1, p2 HAVING count(*) >= 2
"""


def _encoding_funcs(spark, sf_dir):
    """Encoding surface: hex of integers, base64 of UTF-8 bytes,
    ascii, md5, sha2-256 — byte-identical across engines by
    definition."""
    s = _t(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.hex(F.col("s_suppkey")).alias("key_hex"),
        F.base64(F.col("s_name").cast("binary")).alias("name_b64"),
        F.ascii(F.col("s_name")).alias("first_ascii"),
        F.md5(F.col("s_name")).alias("name_md5"),
        F.sha2(F.col("s_name"), 256).alias("name_sha256"),
    ).orderBy("s_suppkey")


_ENCODING_SQL = """
SELECT s_suppkey,
       to_hex(s_suppkey) AS key_hex,
       base64(encode(s_name)) AS name_b64,
       ascii(s_name) AS first_ascii,
       md5(s_name) AS name_md5,
       sha256(s_name) AS name_sha256
FROM supplier ORDER BY s_suppkey
"""


def _math_funcs(spark, sf_dir):
    """IEEE-exact math surface: sqrt / sign / pow / factorial /
    greatest / least, plus width_bucket (emulated arithmetically in
    the oracle — same closed form).  Irrational doubles are summed via
    the decimal trick (_dsum) so engine-dependent addition order can't
    flip low bits."""
    li = _tpk(spark, sf_dir, "lineitem", ["l_quantity", "l_linenumber"])
    q = F.col("l_quantity")
    per = li.select(
        "l_returnflag",
        F.sqrt(q).alias("sq"),
        F.signum(q - 25).alias("sg"),
        F.pow(q, 2).alias("p2"),
        F.factorial((F.col("l_linenumber") % 7).cast("int")).alias("fct"),
        F.width_bucket(q, F.lit(0.0), F.lit(60.0), F.lit(6)).alias("wb"),
        F.greatest(q, F.col("l_discount") * 100).alias("gr"),
        F.least(q, F.col("l_tax") * 100).alias("ls"),
    )
    return (
        per.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("sq"), 6).alias("sum_sqrt"),
            F.sum("sg").cast("long").alias("sum_sign"),
            _dsum(F.col("p2"), 4).alias("sum_pow2"),
            F.sum("fct").cast("long").alias("sum_fact"),
            F.sum("wb").cast("long").alias("sum_wb"),
            _dsum(F.col("gr"), 4).alias("sum_greatest"),
            _dsum(F.col("ls"), 4).alias("sum_least"),
        )
        .orderBy("l_returnflag")
    )


_MATH_FUNCS_SQL = """
WITH per AS (
  SELECT l_returnflag,
         sqrt(l_quantity) AS sq,
         sign(l_quantity - 25) AS sg,
         pow(l_quantity, 2) AS p2,
         factorial(CAST(l_linenumber % 7 AS INT)) AS fct,
         CASE WHEN l_quantity < 0 THEN 0
              WHEN l_quantity >= 60 THEN 7
              ELSE CAST(floor(l_quantity / 60.0 * 6) AS BIGINT) + 1 END AS wb,
         greatest(l_quantity, l_discount * 100) AS gr,
         least(l_quantity, l_tax * 100) AS ls
  FROM lineitem
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(sq AS DECIMAL(28,6))) AS DOUBLE) AS sum_sqrt,
       CAST(sum(sg) AS BIGINT) AS sum_sign,
       CAST(sum(CAST(p2 AS DECIMAL(28,4))) AS DOUBLE) AS sum_pow2,
       CAST(sum(fct) AS BIGINT) AS sum_fact,
       CAST(sum(wb) AS BIGINT) AS sum_wb,
       CAST(sum(CAST(gr AS DECIMAL(28,4))) AS DOUBLE) AS sum_greatest,
       CAST(sum(CAST(ls AS DECIMAL(28,4))) AS DOUBLE) AS sum_least
FROM per GROUP BY l_returnflag ORDER BY l_returnflag
"""


def _date_try_funcs(spark, sf_dir):
    """Second date sweep + try_/null-handling arithmetic: last_day,
    quarter, weekofyear (ISO both engines), dayofweek (Spark Sunday=1
    vs DuckDB Sunday=0 — mapped in the oracle), add_months clamping,
    try_divide (null on zero), try_cast of a non-numeric string."""
    o = _tpk(spark, sf_dir, "orders", "o_custkey")
    od = F.col("o_orderdate").cast("date")
    per = o.select(
        "o_orderpriority",
        F.quarter(od).alias("q"),
        F.weekofyear(od).alias("wk"),
        F.dayofweek(od).alias("dow"),
        F.last_day(od).alias("ld"),
        F.add_months(od, 2).alias("am"),
        F.try_divide(F.col("o_totalprice"), F.col("o_custkey") % 5).alias("td"),
        F.expr("try_cast(o_orderpriority AS int)").alias("tc"),
    )
    return (
        per.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").cast("long").alias("sum_q"),
            F.sum("wk").cast("long").alias("sum_wk"),
            F.sum("dow").cast("long").alias("sum_dow"),
            F.max(F.col("ld").cast("string")).alias("max_last_day"),
            F.max(F.col("am").cast("string")).alias("max_add_months"),
            F.sum(F.col("td").isNull().cast("int")).cast("long").alias("n_div_null"),
            _dsum(F.col("td"), 6).alias("sum_td"),
            F.sum(F.col("tc").isNull().cast("int")).cast("long").alias("n_cast_null"),
        )
        .orderBy("o_orderpriority")
    )


_DATE_TRY_SQL = """
WITH per AS (
  SELECT o_orderpriority,
         quarter(CAST(o_orderdate AS DATE)) AS q,
         weekofyear(CAST(o_orderdate AS DATE)) AS wk,
         dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
         last_day(CAST(o_orderdate AS DATE)) AS ld,
         CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS am,
         o_totalprice / nullif(o_custkey % 5, 0) AS td,
         TRY_CAST(o_orderpriority AS INT) AS tc
  FROM orders
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(q) AS BIGINT) AS sum_q,
       CAST(sum(wk) AS BIGINT) AS sum_wk,
       CAST(sum(dow) AS BIGINT) AS sum_dow,
       CAST(max(ld) AS VARCHAR) AS max_last_day,
       CAST(max(am) AS VARCHAR) AS max_add_months,
       CAST(sum(CASE WHEN td IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
       CAST(sum(CAST(td AS DECIMAL(28,6))) AS DOUBLE) AS sum_td,
       CAST(sum(CASE WHEN tc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cast_null
FROM per GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def _intra_doc_line_dedup(spark, sf_dir):
    """WITHIN-document repeated-line removal (the complement of
    corpus_line_dedup): keep each distinct trimmed line's FIRST
    occurrence per doc, reassemble in order, hash the text so the
    oracle verifies order.  Same synthesized line structure as the
    corpus-level query."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " the ", "\n").alias("text")
    )
    lines = d.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    ).withColumn("key", F.trim("line"))
    w = Window.partitionBy("doc_id", "key").orderBy("pos")
    kept = lines.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1)
    return (
        kept.groupBy("doc_id")
        .agg(
            F.md5(
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "line"))),
                        lambda s: s["line"],
                    ),
                )
            ).alias("clean_md5"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .orderBy("doc_id")
    )


_INTRA_DOC_SQL = """
WITH keyed AS (
  SELECT doc_id,
         generate_subscripts(string_split(replace(text, ' the ', chr(10)), chr(10)), 1) AS pos,
         unnest(string_split(replace(text, ' the ', chr(10)), chr(10))) AS line,
         trim(unnest(string_split(replace(text, ' the ', chr(10)), chr(10)))) AS key
  FROM documents
),
kept AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY doc_id, key ORDER BY pos) AS rn
  FROM keyed
)
SELECT doc_id, md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5,
       CAST(count(*) AS BIGINT) AS n_kept
FROM kept WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id
"""


def _string_funcs2(spark, sf_dir):
    """Second string-surface sweep: levenshtein, split_part, lpad/rpad,
    reverse, repeat, left/right — against DuckDB's identical
    functions."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_name",
        F.levenshtein(F.col("n_name"), F.lit("FRANCE")).alias("lev_fr"),
        F.split_part(F.col("n_name"), F.lit("A"), F.lit(2)).alias("second_part"),
        F.lpad("n_name", 12, ".").alias("padded"),
        F.rpad("n_name", 10, "-").alias("rpadded"),
        F.reverse(F.col("n_name")).alias("rev"),
        F.repeat(F.substring("n_name", 1, 2), 3).alias("rep"),
        F.substring("n_name", 1, 3).alias("left3"),
    ).orderBy("n_name")


_STRING_FUNCS2_SQL = """
SELECT n_name,
       levenshtein(n_name, 'FRANCE') AS lev_fr,
       split_part(n_name, 'A', 2) AS second_part,
       lpad(n_name, 12, '.') AS padded,
       rpad(n_name, 10, '-') AS rpadded,
       reverse(n_name) AS rev,
       repeat(substring(n_name, 1, 2), 3) AS rep,
       substring(n_name, 1, 3) AS left3
FROM nation ORDER BY n_name
"""


def _quantized_ann_recall(spark, sf_dir):
    """End-to-end compression->search composition: brute cosine top-10
    over int8-DEQUANTIZED vectors must recover >= 90% of the exact
    float top-10 neighbors (averaged over 20 query vectors).  The
    practical question for a 4x-smaller index answered as a measured,
    oracle-gated contract (measured recall ~0.99: int8 error barely
    moves cosine neighborhoods)."""
    from yaetos_spark.operators.similarity import (
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # orderBy before limit: an unordered limit is re-planned per action,
    # and this set feeds THREE actions (exact topk, quantized topk,
    # count) — without a total order they could each see different rows
    queries = emb.filter(F.col("vec_id") % 25 == 0).orderBy("vec_id").limit(20)
    exact = cosine_topk(emb, queries, k=10)
    deq = dequantize_embeddings(quantize_embeddings(emb)).select(
        "vec_id", F.col("embedding_deq").alias("embedding")
    )
    dq = dequantize_embeddings(quantize_embeddings(queries)).select(
        "vec_id", F.col("embedding_deq").alias("embedding")
    )
    approx = cosine_topk(deq, dq, k=10)
    hits = exact.select("query_id", "neighbor_id").intersect(
        approx.select("query_id", "neighbor_id")
    )
    n_q = queries.count()
    return (
        hits.groupBy()
        .agg((F.count(F.lit(1)) / (10.0 * n_q)).alias("recall"))
        .select(
            F.lit(int(n_q)).alias("n_queries"),
            (F.col("recall") >= 0.9).alias("recall_ge_90pct"),
        )
    )


_QUANT_ANN_SQL = """
SELECT CAST(20 AS INT) AS n_queries, TRUE AS recall_ge_90pct
"""


def _quantized_embeddings(spark, sf_dir):
    """int8 embedding quantization (operators/similarity.py::
    quantize_embeddings — the 4x memory lever for ANN indexes)
    value-checked EXACTLY: q_i = floor(v_i/scale + 0.5) is the same
    IEEE ops in DuckDB, so per-label sums of codes match bit-for-bit;
    the reconstruction-error bound |v - q*scale| <= scale/2 is checked
    as a contract."""
    from yaetos_spark.operators.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = dequantize_embeddings(quantize_embeddings(emb))
    err_ok = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("embedding_deq"),
            lambda v, d: F.abs(v.cast("double") - d),
        ),
        F.lit(True),
        lambda acc, e: acc & (e <= F.col("scale") / 2 + 1e-12),
    )
    return (
        q.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.aggregate(F.col("qvec"), F.lit(0).cast("long"), lambda a, x: a + x))
            .cast("long")
            .alias("sum_codes"),
            F.sum(
                F.aggregate(
                    F.col("qvec"), F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
                )
            )
            .cast("long")
            .alias("sum_abs_codes"),
            F.min(err_ok.cast("int")).cast("boolean").alias("all_err_bounded"),
        )
        .orderBy("label")
    )


_QUANTIZED_SQL = """
WITH q AS (
  SELECT label,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127 AS scale,
         embedding
  FROM embeddings
),
codes AS (
  SELECT label,
         list_transform(
           embedding,
           x -> CASE WHEN scale = 0 THEN 0
                     ELSE greatest(-127, least(127,
                          CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))) END
         ) AS qvec
  FROM q
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(list_sum(qvec)) AS BIGINT) AS sum_codes,
       CAST(sum(list_sum(list_transform(qvec, c -> abs(c)))) AS BIGINT) AS sum_abs_codes,
       TRUE AS all_err_bounded
FROM codes GROUP BY label ORDER BY label
"""


def _array_set_ops(spark, sf_dir):
    """Array SET functions (array_intersect / array_union /
    array_except) over index arrays derived from the embedding column,
    value-checked against DuckDB's list_* equivalents (sizes only —
    set results are order-unspecified in both engines)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    idx = F.sequence(F.lit(0), F.size(v) - 1)
    a = F.filter(idx, lambda i: F.element_at(v, i + 1) > 0)
    b = F.filter(idx, lambda i: i % 3 == 0)
    per = emb.select(
        "label",
        F.size(F.array_intersect(a, b)).alias("n_int"),
        F.size(F.array_union(a, b)).alias("n_union"),
        F.size(F.array_except(a, b)).alias("n_exc"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("n_int").cast("long").alias("sum_int"),
            F.sum("n_union").cast("long").alias("sum_union"),
            F.sum("n_exc").cast("long").alias("sum_exc"),
        )
        .orderBy("label")
    )


_ARRAY_SET_SQL = """
WITH per AS (
  SELECT label,
         list_filter(range(0, len(embedding)), i -> embedding[i + 1] > 0) AS a,
         list_filter(range(0, len(embedding)), i -> i % 3 = 0) AS b
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(len(list_intersect(a, b))) AS BIGINT) AS sum_int,
       CAST(sum(len(list_distinct(list_concat(a, b)))) AS BIGINT) AS sum_union,
       CAST(sum(len(list_filter(a, x -> NOT list_contains(b, x)))) AS BIGINT) AS sum_exc
FROM per GROUP BY label ORDER BY label
"""


def _explode_outer_counts(spark, sf_dir):
    """explode_outer semantics: a row whose filtered array is EMPTY
    still emits one null row (plain explode would drop it) — the
    row-preserving fan-out incremental pipelines rely on.  The oracle
    reproduces it arithmetically: each vector contributes
    greatest(n, 1) rows, n non-null."""
    emb = _t(spark, sf_dir, "embeddings")
    c = F.filter(F.col("embedding"), lambda x: x > 0.4)
    out = emb.select("label", F.explode_outer(c).alias("x"))
    return (
        out.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("x").alias("n_vals"),
            F.sum(F.when(F.col("x").isNull(), 1).otherwise(0)).cast("long").alias("n_empty"),
        )
        .orderBy("label")
    )


_EXPLODE_OUTER_SQL = """
WITH per AS (
  SELECT label, len(list_filter(embedding, x -> x > 0.4)) AS n FROM embeddings
)
SELECT label,
       CAST(sum(greatest(n, 1)) AS BIGINT) AS n_rows,
       CAST(sum(n) AS BIGINT) AS n_vals,
       CAST(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
FROM per GROUP BY label ORDER BY label
"""


def _gopher_filter_verdicts(spark, sf_dir):
    """Composite Gopher-style quality filter (operators/curation.py::
    gopher_filter) with thresholds tuned so the corpus exercises both
    outcomes of every rule; per-doc rule verdicts AND the conjunction
    are value-checked (exact integer/rational signal arithmetic in
    both engines)."""
    from yaetos_spark.operators.curation import gopher_filter

    d = _tp(spark, sf_dir, "documents")
    return gopher_filter(
        d, min_words=30, max_words=90, max_top_word_frac=0.12,
        max_dup_bigram_frac=0.05, min_avg_word_len=3.0, max_avg_word_len=10.0,
    ).orderBy("doc_id")


_GOPHER_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
),
wc AS (
  SELECT doc_id, max(cnt) AS max_cnt FROM (
    SELECT doc_id, w, count(*) AS cnt
    FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY doc_id, w
  ) GROUP BY doc_id
),
bg AS (
  SELECT doc_id, count(*) AS n_bigrams, count(DISTINCT gram) AS n_distinct
  FROM (
    SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
    FROM toks, unnest(range(1, len(t))) AS r(i) WHERE len(t) >= 2
  ) GROUP BY doc_id
),
awl AS (
  SELECT doc_id, sum(length(w)) AS total_chars
  FROM (SELECT doc_id, unnest(t) AS w FROM toks) GROUP BY doc_id
),
m AS (
  SELECT toks.doc_id,
         CAST(len(toks.t) AS INT) AS n_words,
         len(toks.t) BETWEEN 30 AND 90 AS ok_n_words,
         wc.max_cnt / len(toks.t) <= 0.12 AS ok_top_word,
         coalesce(1 - bg.n_distinct / bg.n_bigrams <= 0.05, TRUE) AS ok_dup_bigram,
         awl.total_chars / len(toks.t) BETWEEN 3.0 AND 10.0 AS ok_word_len
  FROM toks JOIN wc USING (doc_id) LEFT JOIN bg USING (doc_id) JOIN awl USING (doc_id)
)
SELECT doc_id, n_words, ok_n_words, ok_top_word, ok_dup_bigram, ok_word_len,
       ok_n_words AND ok_top_word AND ok_dup_bigram AND ok_word_len AS passes
FROM m ORDER BY doc_id
"""


def _right_join_nations(spark, sf_dir):
    """RIGHT OUTER join surface (every other outer variant is already
    oracle-checked): suppliers right-joined to nations keeps nations
    with no suppliers as null-count rows."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(n, s["s_nationkey"] == n["n_nationkey"], "right")
        .groupBy("n_name")
        .agg(
            F.count(F.col("s_suppkey")).alias("n_suppliers"),
            _dsum(F.coalesce(F.col("s_acctbal"), F.lit(0.0)), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


_RIGHT_JOIN_SQL = """
SELECT n_name, CAST(count(s_suppkey) AS BIGINT) AS n_suppliers,
       CAST(sum(CAST(coalesce(s_acctbal, 0.0) AS DECIMAL(28,2))) AS DOUBLE) AS total_bal
FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def _train_val_test_split(spark, sf_dir):
    """Deterministic split assignment (operators/curation.py::
    assign_splits) value-checked exactly: the md5-uniform arithmetic is
    identical SQL in DuckDB, so per-split counts AND the exact member
    sets (via min/max/sum of ids per split) hash-match."""
    from yaetos_spark.operators.curation import assign_splits

    d = _t(spark, sf_dir, "documents")
    out = assign_splits(d, fractions={"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("split")
    )


_SPLIT_SQL = f"""
WITH u AS (
  SELECT doc_id,
         {_hex_long_sql("md5(CAST(doc_id AS VARCHAR) || 'split')", 1)} / 4294967296.0 AS uv
  FROM documents
),
lab AS (
  SELECT doc_id,
         CASE WHEN uv < 0.8 THEN 'train'
              WHEN uv < 0.9 THEN 'val'
              ELSE 'test' END AS split
  FROM u
)
SELECT split, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM lab GROUP BY split ORDER BY split
"""


def _histogram_quantile_contract(spark, sf_dir):
    """Mergeable-histogram quantile contract: estimates from the
    fixed-boundary cell sketch (operators/sketches.py — the
    streaming-maintainable quantile path) must land within 2 buckets
    of mass of the exact rank.  Checked rank-wise: the exact CDF at
    the estimate must be within 2/n_buckets of the target q."""
    from yaetos_spark.operators.sketches import (
        histogram_boundaries,
        histogram_build,
        histogram_quantile,
    )

    o = _t(spark, sf_dir, "orders").select(F.col("o_totalprice").cast("double").alias("v"))
    n_buckets = 128
    bounds = histogram_boundaries(o, "v", n_buckets=n_buckets)
    cells = histogram_build(o, "v", bounds)
    rows = []
    for q in (0.1, 0.5, 0.9, 0.99):
        est = histogram_quantile(cells, bounds, q)
        cdf_at_est = o.where(F.col("v") <= est).count() / o.count()
        rows.append((q, abs(cdf_at_est - q) <= 2.0 / n_buckets))
    return spark.createDataFrame(rows, "q double, within_2_buckets boolean")


_HISTOGRAM_CONTRACT_SQL = """
SELECT q, TRUE AS within_2_buckets
FROM (VALUES (0.1), (0.5), (0.9), (0.99)) AS t(q)
"""


def _spearman_by_type(spark, sf_dir):
    """Grouped-map applyInPandas (the UDAF surface, SURVEY §2.12)
    value-checked to the last bit: per-event-type Spearman rank
    correlation of (user_id, value) via operators/stats.py::
    spearman_per_group.  Doubled average ranks are integers, so all
    sums are exact and the single float division mirrors the oracle's
    SQL ops — the hash matches despite a rank-based statistic computed
    in pandas on one side and window SQL on the other."""
    from yaetos_spark.operators.stats import spearman_per_group

    ev = _t(spark, sf_dir, "events")
    return spearman_per_group(ev, "event_type", "user_id", "value").orderBy("event_type")


_SPEARMAN_SQL = """
WITH r AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY event_type ORDER BY user_id)
           + count(*) OVER (PARTITION BY event_type, user_id) - 1 AS rx2,
         2 * rank() OVER (PARTITION BY event_type ORDER BY value)
           + count(*) OVER (PARTITION BY event_type, value) - 1 AS ry2
  FROM events
),
s AS (
  SELECT event_type,
         CAST(count(*) AS DECIMAL(38,0)) AS n,
         CAST(sum(rx2) AS DECIMAL(38,0)) AS sx,
         CAST(sum(ry2) AS DECIMAL(38,0)) AS sy,
         CAST(sum(rx2 * ry2) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(rx2 * rx2) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(ry2 * ry2) AS DECIMAL(38,0)) AS syy
  FROM r GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)) AS rho
FROM s
ORDER BY event_type
"""


def _bitwise_aggs(spark, sf_dir):
    """Bitwise surface: &, |, ^, ~, shifts as scalars and
    bit_and/bit_or/bit_xor/bit_count as aggregates (the primitives the
    bloom builder leans on), value-checked against DuckDB's identical
    operators."""
    li = _t(spark, sf_dir, "lineitem")
    k = F.col("l_orderkey")
    return (
        li.select(
            "l_returnflag",
            "l_linenumber",
            (k.bitwiseAND(F.lit(255))).alias("low"),
            (k.bitwiseOR(F.lit(4096))).alias("ored"),
            (k.bitwiseXOR(F.col("l_partkey"))).alias("xored"),
            F.bitwise_not(k).alias("inv"),
            F.bit_count(k).alias("pop"),
            F.expr("shiftleft(l_linenumber, 3)").alias("shl"),
            F.expr("shiftright(l_partkey, 2)").alias("shr"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.expr("bit_and(low)").alias("band"),
            F.expr("bit_or(low)").alias("bor"),
            F.expr("bit_xor(xored)").alias("bxor"),
            F.sum("pop").cast("long").alias("sum_pop"),
            F.sum("inv").cast("long").alias("sum_inv"),
            F.sum("ored").cast("long").alias("sum_or"),
            F.sum("shl").cast("long").alias("sum_shl"),
            F.sum("shr").cast("long").alias("sum_shr"),
        )
        .orderBy("l_returnflag")
    )


_BITWISE_SQL = """
WITH b AS (
  SELECT l_returnflag,
         l_orderkey & 255 AS low,
         l_orderkey | 4096 AS ored,
         xor(l_orderkey, l_partkey) AS xored,
         ~l_orderkey AS inv,
         bit_count(l_orderkey) AS pop,
         l_linenumber << 3 AS shl,
         l_partkey >> 2 AS shr
  FROM lineitem
)
SELECT l_returnflag,
       CAST(bit_and(low) AS BIGINT) AS band,
       CAST(bit_or(low) AS BIGINT) AS bor,
       CAST(bit_xor(xored) AS BIGINT) AS bxor,
       CAST(sum(pop) AS BIGINT) AS sum_pop,
       CAST(sum(inv) AS BIGINT) AS sum_inv,
       CAST(sum(ored) AS BIGINT) AS sum_or,
       CAST(sum(shl) AS BIGINT) AS sum_shl,
       CAST(sum(shr) AS BIGINT) AS sum_shr
FROM b
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _regression_stats(spark, sf_dir):
    """Native bivariate aggregate surface — corr / covar_samp /
    regr_slope / regr_intercept / regr_r2 — contract-checked against
    the textbook formulas computed from EXACT decimal sums (the _dsum
    trick: decimal Σx, Σy, Σxy, Σx², Σy² are engine-exact, the final
    few double ops deterministic).  The oracle recomputes the decimal
    sums and asserts the contracts tautologically, so a hash mismatch
    means a native aggregate drifted from its definition."""
    li = _tpk(spark, sf_dir, "lineitem", ["l_quantity", "l_discount"])
    x = F.col("l_quantity")
    y = F.col("l_discount")
    d = lambda c: c.cast("decimal(38,8)")  # noqa: E731
    # emit the sums through DECIMAL(38,4) first: the data has <= 4
    # decimal places (quantity 2dp x discount 2dp), so scale 4 is
    # exact, and the scaled integer stays under 2^53 — which makes the
    # decimal->double cast identically rounded in every engine (a
    # direct cast of the wider decimal double-rounds in DuckDB; 1-ulp
    # sxy drift observed at sf0.1)
    d4 = lambda c: c.cast("decimal(38,4)").cast("double")  # noqa: E731
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        d4(F.sum(d(x))).alias("sx"),
        d4(F.sum(d(y))).alias("sy"),
        d4(F.sum(d(x) * d(y))).alias("sxy"),
        d4(F.sum(d(x) * d(x))).alias("sxx"),
        d4(F.sum(d(y) * d(y))).alias("syy"),
        F.corr(x, y).alias("_corr"),
        F.covar_samp(x, y).alias("_covar"),
        F.regr_slope(y, x).alias("_slope"),
        F.regr_intercept(y, x).alias("_icept"),
        F.regr_r2(y, x).alias("_r2"),
    )
    n, sx, sy, sxy, sxx, syy = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx", "syy"))
    corr_f = (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    covar_f = (sxy - sx * sy / n) / (n - 1)
    slope_f = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    icept_f = (sy - slope_f * sx) / n
    r2_f = corr_f * corr_f

    def ok(native, formula):
        return F.abs(native - formula) <= 1e-9 * (F.abs(formula) + 1)

    return g.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        "sx", "sy", "sxy", "sxx", "syy",
        ok(F.col("_corr"), corr_f).alias("corr_ok"),
        ok(F.col("_covar"), covar_f).alias("covar_ok"),
        ok(F.col("_slope"), slope_f).alias("slope_ok"),
        ok(F.col("_icept"), icept_f).alias("icept_ok"),
        ok(F.col("_r2"), r2_f).alias("r2_ok"),
    ).orderBy("l_returnflag")


_REGRESSION_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS sx,
       CAST(CAST(sum(CAST(l_discount AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS sy,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,8)) * CAST(l_discount AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS sxy,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(38,8)) * CAST(l_quantity AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS sxx,
       CAST(CAST(sum(CAST(l_discount AS DECIMAL(38,8)) * CAST(l_discount AS DECIMAL(38,8))) AS DECIMAL(38,4)) AS DOUBLE) AS syy,
       TRUE AS corr_ok, TRUE AS covar_ok, TRUE AS slope_ok,
       TRUE AS icept_ok, TRUE AS r2_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _zorder_top_orders(spark, sf_dir):
    """Morton-key arithmetic oracle-checked end-to-end: z-order
    (operators/layout.py::zorder_key) over two mod-256
    dimensions of o_orderkey whose min/max are exactly 0/255 at every
    SF, so each rank equals its value and the
    oracle can re-interleave the bits with integer shift/mask SQL.  Top
    20 by key — any defect in normalization, getbit, or interleaving
    order flips the hash."""
    from yaetos_spark.operators.layout import zorder_key

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 256).cast("int").alias("a"),
        ((F.col("o_orderkey") * 7) % 256).cast("int").alias("b"),
    )
    keyed, key = zorder_key(o, ["a", "b"], bits_per_col=8)
    return (
        keyed.select("o_orderkey", F.col(key).alias("zkey"))
        .orderBy(F.desc("zkey"), "o_orderkey")
        .limit(20)
    )


_ZORDER_SQL = """
WITH m AS (
  SELECT o_orderkey,
         CAST(o_orderkey % 256 AS BIGINT) AS a,
         CAST((o_orderkey * 7) % 256 AS BIGINT) AS b
  FROM orders
)
SELECT o_orderkey,
       CAST(
         (((a >> 0) & 1) << 0)  | (((b >> 0) & 1) << 1)  |
         (((a >> 1) & 1) << 2)  | (((b >> 1) & 1) << 3)  |
         (((a >> 2) & 1) << 4)  | (((b >> 2) & 1) << 5)  |
         (((a >> 3) & 1) << 6)  | (((b >> 3) & 1) << 7)  |
         (((a >> 4) & 1) << 8)  | (((b >> 4) & 1) << 9)  |
         (((a >> 5) & 1) << 10) | (((b >> 5) & 1) << 11) |
         (((a >> 6) & 1) << 12) | (((b >> 6) & 1) << 13) |
         (((a >> 7) & 1) << 14) | (((b >> 7) & 1) << 15)
       AS BIGINT) AS zkey
FROM m
ORDER BY zkey DESC, o_orderkey
LIMIT 20
"""


def _corpus_line_dedup(spark, sf_dir):
    """C4-style corpus-level boilerplate removal, oracle-checked
    value-exact: synthesize line structure deterministically (the word
    ' batch ' becomes a newline — DuckDB reproduces it with replace()),
    drop every trimmed line occurring in >= 3 distinct docs via
    operators/curation.py::dedup_corpus_lines, and hash the reassembled
    text so the oracle verifies line ORDER, not just counts."""
    from yaetos_spark.operators.curation import dedup_corpus_lines

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.regexp_replace("text", " batch ", "\n").alias("text")
    )
    out = dedup_corpus_lines(d, min_docs=3)
    return out.select(
        "doc_id",
        F.md5(F.col("text_clean")).alias("clean_md5"),
        "n_kept",
        "n_removed",
    ).orderBy("doc_id")


_CORPUS_LINE_DEDUP_SQL = """
WITH d AS (
  SELECT doc_id, replace(text, ' batch ', chr(10)) AS t FROM documents
),
keyed AS (
  SELECT doc_id,
         generate_subscripts(string_split(t, chr(10)), 1) AS pos,
         unnest(string_split(t, chr(10))) AS line,
         trim(unnest(string_split(t, chr(10)))) AS key
  FROM d
),
hot AS (
  SELECT key FROM (
    SELECT key, count(DISTINCT doc_id) AS n FROM keyed WHERE key <> '' GROUP BY key
  ) WHERE n >= 3
),
agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
         count(*) AS n_kept
  FROM keyed WHERE key NOT IN (SELECT key FROM hot) GROUP BY doc_id
),
removed AS (
  SELECT doc_id, count(*) AS n_removed
  FROM keyed WHERE key IN (SELECT key FROM hot) GROUP BY doc_id
)
SELECT d.doc_id, md5(coalesce(a.text_clean, '')) AS clean_md5,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed
FROM d LEFT JOIN agg a USING (doc_id) LEFT JOIN removed r USING (doc_id)
ORDER BY d.doc_id
"""


def _hll_distinct_contract(spark, sf_dir):
    """Mergeable-HLL contract: our register-frame HLL
    (operators/sketches.py::hll_build/hll_estimate — the persistable /
    streaming-maintainable variant of approx_count_distinct) must land
    within 3% of the exact distinct customer count.  Measured error:
    0% / 0.87% / 1.14% at sf0.001/0.01/0.1 (rsd(p=12) = 1.6%).  The
    oracle recomputes the exact count and asserts the contract
    tautologically, so a hash mismatch means the sketch drifted."""
    from yaetos_spark.operators.sketches import hll_build, hll_estimate

    o = _t(spark, sf_dir, "orders")
    exact = o.select(F.countDistinct("o_custkey").alias("n_exact"))
    est = hll_estimate(hll_build(o, "o_custkey", p=12), p=12)
    return exact.crossJoin(est).select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (F.abs(F.col("est") - F.col("n_exact")) <= 0.03 * F.col("n_exact")).alias(
            "within_3pct"
        ),
        (F.col("est") > 0).alias("est_positive"),
    )


_HLL_CONTRACT_SQL = """
SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS within_3pct, TRUE AS est_positive
FROM orders
"""


def _bloom_join_revenue(spark, sf_dir):
    """Bloom-prefiltered shuffle join: build a bitmap of URGENT orders'
    keys DISTRIBUTEDLY (operators/sketches.py::bloom_build — only
    m/64 longs reach the driver, never the keys), prune lineitem with a
    pure-codegen membership expression BEFORE the join shuffle, then
    join + aggregate.  The inner join removes bloom false positives, so
    the result is EXACTLY the unpruned join — which is what the oracle
    computes.  The 100 TB shape for a dim side too big to broadcast
    whole but whose key set fits a few-MB bitmap."""
    from yaetos_spark.operators.sketches import bloom_prefilter

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    li = _t(spark, sf_dir, "lineitem")
    pruned = bloom_prefilter(li, "l_orderkey", o, "o_orderkey", fpp=0.01)
    return (
        pruned.join(o, pruned["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


_BLOOM_JOIN_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def _user_skew_report(spark, sf_dir):
    """Heavy-hitter report over events.user_id — the pre-shuffle skew
    measurement (see skew.py:skew_report) that decides whether a key
    needs salting before a 100 TB join/agg."""
    from yaetos_spark.operators.skew import skew_report

    ev = _t(spark, sf_dir, "events")
    return skew_report(ev, ["user_id"], top_k=5)


_USER_SKEW_SQL = """
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
SELECT user_id, CAST(n AS BIGINT) AS n, n / total AS share
FROM c, t ORDER BY n DESC, user_id LIMIT 5
"""


def _event_transitions(spark, sf_dir):
    """First-order Markov transition counts over each user's event
    stream: (from_type, to_type, n) via lag within the per-user
    time-ordered window — the behavioral transition matrix a product-
    analytics pipeline estimates. Deterministic tie-break on event_id
    for same-timestamp events. One shuffle on user_id; the matrix agg
    is over (5×5) keys, map-side combined."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_EVENT_TRANSITIONS_SQL = """
WITH t AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_type,
         event_type AS to_type
  FROM events
)
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
FROM t WHERE from_type IS NOT NULL
GROUP BY from_type, to_type
"""


# ---------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------


def _verdict_rounds() -> tuple[int, dict[str, int]]:
    """One scan of the committed ``CORRECTNESS_r*.json`` artifacts next
    to this file.  Returns the round the NEXT driver grading belongs to
    (one past the newest artifact) and, per query, the round of its
    latest PASSING verdict.  The single source of truth for rotation —
    ``tools/window_manifest.py`` reuses it so the committed window
    artifact can never drift from what ``queries()`` actually returns.
    Unreadable or malformed artifacts still count toward the round but
    contribute no verdicts."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    newest = 0
    last_pass: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        newest = max(newest, rnd)
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        results = data.get("queries", data) if isinstance(data, dict) else None
        if not isinstance(results, dict):
            continue
        for name, v in results.items():
            if not isinstance(v, dict):
                continue
            ok = (
                v.get("rows_match") is not False
                and v.get("schema_match") is not False
                and v.get("hash_match") is not False
                and v.get("err") is None
            )
            if ok:
                last_pass[name] = max(last_pass.get(name, 0), rnd)
    return newest + 1, last_pass


def _rotate_stalest_first(
    base: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Reorder ``queries()`` so the driver's 50-query evaluation window
    always covers the entries whose last PASSING driver verdict is
    oldest (VERDICT r3 item 1: "continuously green", not "cumulatively
    green").  Staleness is computed from the committed
    ``CORRECTNESS_r*.json`` artifacts next to this file, so the
    rotation is scripted and self-applying every round — no manual
    reordering to forget.  A query with no passing verdict at all (new
    this round, or never green) sorts first.  A query whose latest
    verdict FAILED sorts by its latest PASSING round like any other
    (passed r10, failed r12 -> sorts as r10), so it stays in line to
    re-enter the window.  ``sorted`` is stable, so ties keep the
    hand-written base order and the result is fully deterministic given
    the committed artifacts."""
    _, last_pass = _verdict_rounds()
    ordered = sorted(base, key=lambda n: last_pass.get(n, -1))
    return {n: base[n] for n in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering matters: the grading driver evaluates the FIRST 50 entries
    # per round.  The dict below is the tie-break fallback order; the
    # actual returned order is computed by _rotate_stalest_first() from
    # the committed CORRECTNESS_r*.json verdicts, so every round the
    # window automatically covers the queries least-recently verified.
    base = {
        "pricing_summary": _pricing_summary,
        "filter_project": _filter_project,
        "topk_revenue": _topk_revenue,
        "region_revenue": _region_revenue,
        "full_outer_coalesce": _full_outer_coalesce,
        "setop_intersect": _setop_intersect,
        "setop_except": _setop_except,
        "topk_per_group": _topk_per_group,
        "cte_casewhen": _cte_casewhen,
        "union_all_sides": _union_all_sides,
        "semi_anti_counts": _semi_anti_counts,
        "running_window": _running_window,
        "summary_stats": _summary_stats,
        "month_trunc_agg": _month_trunc_agg,
        "subquery_above_avg": _subquery_above_avg,
        "rollup_counts": _rollup_counts,
        "orderby_limit": _orderby_limit,
        "pk_violations": _pk_violations,
        "dataset_compare": _dataset_compare,
        "text_stats": _text_stats,
        "lang_quality": _lang_quality,
        "dedup_exact_norm": _dedup_exact_norm,
        "minhash_lsh_pairs": _minhash_lsh,
        "ngram_jaccard_pairs": _ngram_jaccard,
        "simhash_docs": _simhash_docs,
        "ann_cosine_topk": _ann_cosine_topk,
        "embedding_near_dup": _embedding_near_dup,
        "semantic_dedup_survivors": _semantic_dedup_survivors,
        "dsir_scores": _dsir_scores,
        "pivot_status": _pivot_status,
        "cube_counts": _cube_counts,
        "grouping_sets_rev": _grouping_sets_rev,
        "string_funcs": _string_funcs,
        "lead_order_gaps": _lead_order_gaps,
        "revenue_share": _revenue_share,
        "in_subquery_parts": _in_subquery_parts,
        "multimodal_decode": _multimodal_decode,
        "wordcount_top": _wordcount_top,
        "range_band_join": _range_band_join,
        "rfm_segments": _rfm_segments,
        "ivf_ann_exactprobe": _ivf_ann_exactprobe,
        "correlated_scalar": _correlated_scalar,
        "winnow_overlap_pairs": _winnow_overlap,
        "winnow_rolling_pairs": _winnow_rolling_pairs,
        "ngram_contamination": _ngram_contamination,
        "stratified_sample": _stratified_sample,
        "repetition_profile": _repetition_profile,
        "pii_redaction": _pii_redaction,
        "vocab_coverage": _vocab_coverage,
        "hash_sample": _hash_sample,
        "quantiles_summary": _quantiles_summary,
        "resample_locf": _resample_locf,
        "pagerank_trade_graph": _pagerank_customers,
        "big_orders": _big_orders,
        "idle_rich_customers": _idle_rich_customers,
        "fuzzy_customer_pairs": _fuzzy_customer_pairs,
        "rank_functions": _rank_functions,
        "latest_events": _latest_events,
        "scd2_user_types": _scd2_user_types,
        "value_drift": _value_drift,
        "weighted_sample": _weighted_sample,
        "trailing_range_window": _trailing_range_window,
        "null_safe_join": _null_safe_join,
        "ntile_price_bands": _ntile_price_bands,
        "orderby_ordinal": _orderby_ordinal,
        "quoted_identifiers": _quoted_identifiers,
        "sessionize_events": _sessionize_events,
        "pack_sequences": _pack_sequences,
        "chunk_sliding_windows": _chunk_sliding_windows,
        "collect_types": _collect_types,
        "nation_trade_volume": _nation_trade_volume,
        "market_share": _market_share,
        "parts_supplier_counts": _parts_supplier_counts,
        "customer_order_distribution": _customer_order_distribution,
        "promo_revenue_share": _promo_revenue_share,
        "top_supplier_revenue": _top_supplier_revenue,
        "small_qty_avg_revenue": _small_qty_avg_revenue,
        "waiting_suppliers": _waiting_suppliers,
        "concentrated_part_revenue": _concentrated_part_revenue,
        "doc_oov_counts": _doc_oov_counts,
        "lang_rebalance": _lang_rebalance,
        "nation_profit_by_year": _nation_profit_by_year,
        "returned_revenue_topk": _returned_revenue_topk,
        "disjunctive_predicates": _disjunctive_predicates,
        "dominant_suppliers": _dominant_suppliers,
        "funnel_conversion": _funnel_conversion,
        "cohort_retention": _cohort_retention,
        "nation_triangles": _nation_triangles,
        "events_at_type": _events_at_type,
        "daily_rollup_maintained": _daily_rollup_maintained,
        "approx_median_contract": _approx_median_contract,
        "part_pairs_support": _part_pairs_support,
        "user_skew_report": _user_skew_report,
        "bloom_join_revenue": _bloom_join_revenue,
        "hll_distinct_contract": _hll_distinct_contract,
        "corpus_line_dedup": _corpus_line_dedup,
        "zorder_top_orders": _zorder_top_orders,
        "regression_stats": _regression_stats,
        "bitwise_aggs": _bitwise_aggs,
        "spearman_by_type": _spearman_by_type,
        "histogram_quantile_contract": _histogram_quantile_contract,
        "train_val_test_split": _train_val_test_split,
        "right_join_nations": _right_join_nations,
        "gopher_filter_verdicts": _gopher_filter_verdicts,
        "quantized_embeddings": _quantized_embeddings,
        "quantized_ann_recall": _quantized_ann_recall,
        "intra_doc_line_dedup": _intra_doc_line_dedup,
        "date_try_funcs": _date_try_funcs,
        "math_funcs": _math_funcs,
        "encoding_funcs": _encoding_funcs,
        "string_funcs2": _string_funcs2,
        "array_set_ops": _array_set_ops,
        "explode_outer_counts": _explode_outer_counts,
        "event_transitions": _event_transitions,
        "user_sessions": _user_sessions,
        "conditional_agg": _conditional_agg,
        "json_extract_agg": _json_extract_agg,
        "event_gaps": _event_gaps,
        "asof_join_events": _asof_join_events,
        "window_frames_ex2": _window_frames_ex2,
        "distinct_users_daily": _distinct_users_daily,
        "salted_hot_keys": _salted_hot_keys,
        "lsh_ann_pairs": _lsh_ann_pairs,
        "approx_distinct_parts": _approx_distinct_parts,
        "date_parts": _date_parts,
        "null_scalars": _null_scalars,
        "regexp_extract_brand": _regexp_extract_brand,
        "posexplode_words": _posexplode_words,
        "value_histogram": _value_histogram,
        "dedup_clusters": _dedup_clusters,
        "near_dup_survivors": _near_dup_survivors,
        "forecast_revenue": _forecast_revenue,
        "priority_exists": _priority_exists,
        "tumbling_window_counts": _tumbling_window_counts,
        "array_hof_stats": _array_hof_stats,
        "map_functions": _map_functions,
        "unpivot_counts": _unpivot_counts,
        "cms_heavy_hitters": _cms_heavy_hitters,
        "boilerplate_prefixes": _boilerplate_prefixes,
        "vocab_tail_stats": _vocab_tail_stats,
        "source_vocab_overlap": _source_vocab_overlap,
        "tfidf_top_terms": _tfidf_top_terms,
        "ppm_pipeline_stats": _ppm_pipeline_stats,
        "chain_components": _chain_components,
        "incremental_dedup_survivors": _incremental_dedup_survivors,
        "simhash_near_pairs": _simhash_near_pairs,
        "ivf_ann_recall": _ivf_ann_recall,
        "tfcosine_doc_pairs": _tfcosine_doc_pairs,
        "doc_redundancy_scores": _doc_redundancy_scores,
        "chain_components_robust": _chain_components_robust,
    }
    return _rotate_stalest_first(base)


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": _PRICING_SQL,
        "filter_project": _FILTER_PROJECT_SQL,
        "topk_revenue": _TOPK_REVENUE_SQL,
        "region_revenue": _REGION_REVENUE_SQL,
        "user_sessions": _USER_SESSIONS_SQL,
        "conditional_agg": _CONDITIONAL_AGG_SQL,
        "full_outer_coalesce": _FULL_OUTER_SQL,
        "setop_intersect": _SETOP_INTERSECT_SQL,
        "setop_except": _SETOP_EXCEPT_SQL,
        "topk_per_group": _TOPK_PER_GROUP_SQL,
        "cte_casewhen": _CTE_CASEWHEN_SQL,
        "union_all_sides": _UNION_SQL,
        "semi_anti_counts": _SEMI_ANTI_SQL,
        "running_window": _RUNNING_WINDOW_SQL,
        "summary_stats": _SUMMARY_STATS_SQL,
        "json_extract_agg": _JSON_EXTRACT_SQL,
        "month_trunc_agg": _MONTH_TRUNC_SQL,
        "subquery_above_avg": _SUBQUERY_SQL,
        "rollup_counts": _ROLLUP_SQL,
        "orderby_limit": _ORDERBY_LIMIT_SQL,
        "event_gaps": _EVENT_GAPS_SQL,
        "asof_join_events": _ASOF_SQL,
        "pk_violations": _PK_VIOLATIONS_SQL,
        "dataset_compare": _DATASET_COMPARE_SQL,
        "text_stats": _TEXT_STATS_SQL,
        "lang_quality": _lang_quality_oracle(),
        "dedup_exact_norm": _DEDUP_EXACT_SQL,
        "minhash_lsh_pairs": _minhash_oracle(),
        "ngram_jaccard_pairs": _ngram_jaccard_oracle(),
        "simhash_docs": _simhash_oracle(),
        "simhash_near_pairs": _simhash_near_pairs_oracle(),
        "ivf_ann_recall": _IVF_RECALL_SQL,
        "tfcosine_doc_pairs": _TFCOSINE_SQL,
        "doc_redundancy_scores": _doc_redundancy_oracle(),
        "ann_cosine_topk": _ANN_SQL,
        "embedding_near_dup": _NEAR_DUP_SQL,
        "semantic_dedup_survivors": _SEMANTIC_DEDUP_SQL,
        "dsir_scores": _dsir_oracle(),
        "lsh_ann_pairs": _LSH_RECALL_SQL,
        "orderby_ordinal": _ORDERBY_ORDINAL_SQL,
        "quoted_identifiers": _QUOTED_IDENTIFIERS_SQL,
        "ivf_ann_exactprobe": _ANN_SQL,  # probe-all == exact brute force
        "nation_trade_volume": _NATION_VOLUME_SQL,
        "market_share": _MARKET_SHARE_SQL,
        "parts_supplier_counts": _PARTS_SUPPLIER_SQL,
        "customer_order_distribution": _CUSTOMER_ORDER_DIST_SQL,
        "promo_revenue_share": _PROMO_SHARE_SQL,
        "top_supplier_revenue": _TOP_SUPPLIER_SQL,
        "small_qty_avg_revenue": _SMALL_QTY_SQL,
        "waiting_suppliers": _WAITING_SUPPLIERS_SQL,
        "concentrated_part_revenue": _CONCENTRATED_PART_SQL,
        "doc_oov_counts": _DOC_OOV_SQL,
        "lang_rebalance": _LANG_REBALANCE_SQL,
        "nation_profit_by_year": _NATION_PROFIT_SQL,
        "returned_revenue_topk": _RETURNED_REVENUE_SQL,
        "disjunctive_predicates": _DISJUNCTIVE_SQL,
        "dominant_suppliers": _DOMINANT_SUPPLIERS_SQL,
        "funnel_conversion": _FUNNEL_SQL,
        "cohort_retention": _COHORT_SQL,
        "nation_triangles": _NATION_TRIANGLES_SQL,
        "events_at_type": _EVENTS_AT_TYPE_SQL,
        "daily_rollup_maintained": _DAILY_ROLLUP_SQL,
        "approx_median_contract": _APPROX_MEDIAN_SQL,
        "rfm_segments": _RFM_SQL,
        "part_pairs_support": _PART_PAIRS_SQL,
        "user_skew_report": _USER_SKEW_SQL,
        "bloom_join_revenue": _BLOOM_JOIN_SQL,
        "hll_distinct_contract": _HLL_CONTRACT_SQL,
        "corpus_line_dedup": _CORPUS_LINE_DEDUP_SQL,
        "zorder_top_orders": _ZORDER_SQL,
        "regression_stats": _REGRESSION_SQL,
        "bitwise_aggs": _BITWISE_SQL,
        "spearman_by_type": _SPEARMAN_SQL,
        "histogram_quantile_contract": _HISTOGRAM_CONTRACT_SQL,
        "train_val_test_split": _SPLIT_SQL,
        "right_join_nations": _RIGHT_JOIN_SQL,
        "gopher_filter_verdicts": _GOPHER_SQL,
        "quantized_embeddings": _QUANTIZED_SQL,
        "quantized_ann_recall": _QUANT_ANN_SQL,
        "intra_doc_line_dedup": _INTRA_DOC_SQL,
        "date_try_funcs": _DATE_TRY_SQL,
        "math_funcs": _MATH_FUNCS_SQL,
        "encoding_funcs": _ENCODING_SQL,
        "string_funcs2": _STRING_FUNCS2_SQL,
        "array_set_ops": _ARRAY_SET_SQL,
        "explode_outer_counts": _EXPLODE_OUTER_SQL,
        "event_transitions": _EVENT_TRANSITIONS_SQL,
        "pivot_status": _PIVOT_SQL,
        "cube_counts": _CUBE_SQL,
        "grouping_sets_rev": _GROUPING_SETS_SQL,
        "window_frames_ex2": _WINDOW_FRAMES_SQL,
        "sessionize_events": _SESSIONIZE_SQL,
        "collect_types": _COLLECT_SQL,
        "string_funcs": _STRING_FUNCS_SQL,
        "lead_order_gaps": _LEAD_SQL,
        "ntile_price_bands": _NTILE_SQL,
        "revenue_share": _REVENUE_SHARE_SQL,
        "in_subquery_parts": _IN_SUBQUERY_SQL,
        "distinct_users_daily": _DISTINCT_DAILY_SQL,
        "approx_distinct_parts": _APPROX_DISTINCT_SQL,
        "multimodal_decode": _multimodal_oracle(),
        "wordcount_top": _WORDCOUNT_SQL,
        "salted_hot_keys": _SALTED_SQL,
        "range_band_join": _RANGE_BAND_SQL,
        "date_parts": _DATE_PARTS_SQL,
        "null_scalars": _NULL_SCALARS_SQL,
        "regexp_extract_brand": _REGEXP_SQL,
        "posexplode_words": _POSEXPLODE_SQL,
        "value_histogram": _HISTOGRAM_SQL,
        "dedup_clusters": _dedup_clusters_oracle(),
        "chain_components": _CHAIN_COMPONENTS_SQL,
        "chain_components_robust": _chain_components_sql(
            where_clause=f"WHERE user_id % {_CHAIN_ROBUST_USER_MOD} = 0"
        ),
        "incremental_dedup_survivors": _incremental_dedup_oracle(),
        "near_dup_survivors": _near_dup_survivors_oracle(),
        "forecast_revenue": _FORECAST_SQL,
        "priority_exists": _PRIORITY_EXISTS_SQL,
        "tumbling_window_counts": _TUMBLING_SQL,
        "array_hof_stats": _ARRAY_HOF_SQL,
        "map_functions": _MAP_FUNCTIONS_SQL,
        "unpivot_counts": _UNPIVOT_SQL,
        "correlated_scalar": _CORRELATED_SQL,
        "winnow_overlap_pairs": _WINNOW_SQL,
        "winnow_rolling_pairs": _winnow_rolling_oracle(),
        "ngram_contamination": _CONTAMINATION_SQL,
        "stratified_sample": _STRATIFIED_SQL,
        "repetition_profile": _REPETITION_SQL,
        "pack_sequences": _PACK_SQL,
        "chunk_sliding_windows": _CHUNK_SQL,
        "pii_redaction": _PII_SQL,
        "vocab_coverage": _VOCAB_SQL,
        "hash_sample": _HASH_SAMPLE_SQL,
        "quantiles_summary": _QUANTILES_SQL,
        "resample_locf": _RESAMPLE_LOCF_SQL,
        "pagerank_trade_graph": _PAGERANK_SQL,
        "big_orders": _BIG_ORDERS_SQL,
        "idle_rich_customers": _IDLE_RICH_SQL,
        "fuzzy_customer_pairs": _FUZZY_SQL,
        "rank_functions": _RANK_FUNCS_SQL,
        "latest_events": _LATEST_EVENTS_SQL,
        "scd2_user_types": _SCD2_SQL,
        "value_drift": _VALUE_DRIFT_SQL,
        "weighted_sample": _WEIGHTED_SAMPLE_SQL,
        "trailing_range_window": _TRAILING_RANGE_SQL,
        "null_safe_join": _NULL_SAFE_SQL,
        "cms_heavy_hitters": _CMS_HEAVY_SQL,
        "boilerplate_prefixes": _BOILERPLATE_SQL,
        "vocab_tail_stats": _VOCAB_TAIL_SQL,
        "source_vocab_overlap": _SOURCE_OVERLAP_SQL,
        "tfidf_top_terms": _TFIDF_SQL,
        "ppm_pipeline_stats": _PPM_PIPELINE_SQL,
    }
