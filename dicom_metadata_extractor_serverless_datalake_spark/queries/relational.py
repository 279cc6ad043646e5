"""Relational corpus: scans, joins, aggregations, set ops, subqueries
(SURVEY §2.B rows: projection/filter, joins, aggregations, sort/limit/
top-k, set ops).

Scale notes recur per query as comments: broadcast hints for dimension
tables, decimal-exact aggregation (also the only way to hash-match the
oracle), and filters written so Catalyst pushes them into the scan.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import scoped_session
from ..sources.bucketing import bucketed_layout
from .base import (
    davg,
    dsum,
    dsum_expr,
    dsum_limbs,
    dsum_merge,
    query,
    sql_davg,
    sql_dsum,
    sql_query,
    t,
)

# --------------------------------------------------------------------------
# q01 — pricing summary (TPC-H Q1 shape): scan + filter + wide aggregation.
# Headline query: full lineitem pass, partial agg map-side, 6 aggregates.
# --------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price', 4)},
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge', 6)},
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    category="agg",
    headline=True,
)
def q01(spark: SparkSession, sf: str) -> DataFrame:
    l = t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02 00:00:00'")
    )
    # SQL-string expressions (same parenthesization as the old Column
    # form, so the double trees are identical): the dsum/davg string
    # fast path builds each exact-sum aggregate with one parser call
    # instead of a py4j round-trip per operator — these seven
    # aggregates measured 152 ms of driver time per construction,
    # rebuilt every bench pass (queries/base._scaled_sum_sql)
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"({disc_price}) * (1 + l_tax)"
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty", max_abs=4e3),
            dsum("l_extendedprice", "sum_base_price", max_abs=1e7),
            dsum(disc_price, "sum_disc_price", 4, max_abs=1e7),
            dsum(charge, "sum_charge", 6, max_abs=1e6),
            davg("l_quantity", "avg_qty", max_abs=4e3),
            davg("l_extendedprice", "avg_price", max_abs=1e7),
            davg("l_discount", "avg_disc", max_abs=10.0),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q02 — projection + predicate pushdown: 3-column read of a wide table.
# .explain should show ReadSchema with only 4 columns and PushedFilters.
# --------------------------------------------------------------------------


sql_query(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00' AND l_quantity < 5
    ORDER BY l_orderkey, l_linenumber
    """,
    category="scan",
)


# --------------------------------------------------------------------------
# q03 — broadcast equi-join + agg: fact ⋈ small dim. customer is ~150k rows
# at SF100 (a few MB) — always broadcast; no shuffle of orders by custkey.
#
# The aggregation key is DICTIONARY-ENCODED before the fact scan when
# the fact side is large (a COST-BASED choice, the q04 pattern): the
# grouping column (c_mktsegment, 5 distinct values) is ranked once on
# the dim side into a dense int seg_id, the broadcast map carries
# (c_custkey, seg_id), the 150M-row aggregate hashes an int instead of
# re-hashing a 10-char string per fact row, and the 5-row result joins
# the names back. Measured at 600M-row scale (150M orders, same JVM,
# min-of-4): string-keyed 2.02 s -> int-keyed 1.43 s. The dictionary
# derivation costs ~3 tiny extra jobs (~0.25 s fixed), which at small
# fact sizes outweighs the per-row saving (60M-scale q03 measured
# 2.26x -> 2.74x vs DuckDB with the encode always on), so the encode
# engages only above a fact-size threshold read from the plan's
# statistics — exactly when a CBO would pick it. This is the classic
# low-cardinality group-key encode every columnar engine does
# internally, made explicit and gated on size.
# --------------------------------------------------------------------------

# dictionary-encode pays when per-row string-hash savings exceed the
# fixed dictionary-derivation jobs: ~100M+ fact rows (~1 GB+ scan)
_Q03_DICT_MIN_BYTES = 1_000_000_000


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for a frame (file-size based for parquet
    scans) — the same statistic broadcast-join selection reads."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — stats are an optimization hint only
        return 0


def _q03_plain(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """String-keyed broadcast-agg plan — fewer jobs beat per-row hash
    savings below the fact-size threshold."""
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey
        )
        .groupBy("c_mktsegment")
        .agg(
            dsum("o_totalprice", "total_revenue", max_abs=1e7),
            F.count("*").alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


def _q03_dict(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """Dictionary-encoded plan: the fact-side aggregate hashes a dense
    int seg_id; names re-attach to the |groups|-row result."""
    seg = customer.select("c_mktsegment").distinct().select(
        "c_mktsegment",
        F.row_number()
        .over(Window.orderBy("c_mktsegment"))
        .alias("seg_id"),
    )
    cust = customer.join(F.broadcast(seg), "c_mktsegment").select(
        "c_custkey", "seg_id"
    )
    agg = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("seg_id")
        .agg(
            dsum("o_totalprice", "total_revenue", max_abs=1e7),
            F.count("*").alias("n_orders"),
        )
    )
    return (
        agg.join(F.broadcast(seg), "seg_id")
        .select("c_mktsegment", "total_revenue", "n_orders")
        .orderBy("c_mktsegment")
    )


@query(
    "q03_join_broadcast_agg",
    oracle=f"""
    SELECT c_mktsegment,
           {sql_dsum('o_totalprice', 'total_revenue')},
           COUNT(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    category="join",
    headline=True,
)
def q03(spark: SparkSession, sf: str) -> DataFrame:
    orders = t(spark, sf, "orders")
    customer = t(spark, sf, "customer")
    if _plan_size_bytes(orders) < _Q03_DICT_MIN_BYTES:
        return _q03_plain(orders, customer)
    return _q03_dict(orders, customer)


# --------------------------------------------------------------------------
# q04 — multi-way star join (TPC-H Q5 shape): region->nation->customer->
# orders->lineitem. Dims broadcast; the fact-fact lineitem⋈orders join is
# the only potential shuffle. The fact-side strategy is LAYOUT-AWARE,
# the choice a cost-based planner makes from physical properties:
#
# - PLAIN layout (no co-location): eager aggregation below the join —
#   lineitem pre-aggregates per l_orderkey so map-side partials collapse
#   the ~4 lines/order before the exchange and only 1 row/order
#   shuffles. Exactness via two-level limb sums (dsum_limbs +
#   dsum_merge) — measured 2-3x faster than join-then-aggregate WITH
#   the 600M-row exchange that plain join-first would pay.
#
# - BUCKETED layout (both facts hash-clustered on the orderkey, the
#   lakehouse layout the crossover maintains): JOIN-FIRST — the
#   co-located ShuffledHashJoin has no exchange, so filtering orders
#   (date predicate keeps ~30%) prunes ~70% of lineitem rows BEFORE any
#   aggregation, and no 150M-entry per-orderkey hash table is ever
#   built; the rollup goes straight to the 25 (r_name, n_name) groups
#   map-side. Measured at 600M lineitem rows, same JVM, same layout:
#   17.1 s (pre-agg) -> 7.8 s (join-first); results bit-identical
#   (single-level dsum == dsum_limbs+dsum_merge by associativity).
# --------------------------------------------------------------------------


def _both_bucketed_on_orderkey(sf: str) -> bool:
    return all(
        (bucketed_layout(sf, name) or {}).get("bucket_col") == key
        for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey"))
    )


@query(
    "q04_star_join",
    oracle=f"""
    SELECT r_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue', 4)},
           COUNT(*) AS n_lines
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY r_name, n_name ORDER BY r_name, n_name
    """,
    category="join",
    headline=True,
)
def q04(spark: SparkSession, sf: str) -> DataFrame:
    region = t(spark, sf, "region")
    nation = t(spark, sf, "nation")
    customer = t(spark, sf, "customer")
    orders = t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP '1998-01-01 00:00:00'"))
    ).select("o_orderkey", "o_custkey")
    lineitem = t(spark, sf, "lineitem")
    # SQL-string form: one parser call per exact-sum aggregate instead
    # of per-operator py4j round-trips (queries/base._scaled_sum_sql)
    revenue = "l_extendedprice * (1 - l_discount)"

    if _both_bucketed_on_orderkey(sf):
        # co-located join-first: filter prunes before any aggregation
        li = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        joined = (
            li.join(
                orders.hint("SHUFFLE_HASH"),
                li.l_orderkey == orders.o_orderkey,
            )
            .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
            .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        )
        return (
            joined.groupBy("r_name", "n_name")
            .agg(
                dsum(revenue, "revenue", 4, max_abs=1e7),
                F.count(F.lit(1)).alias("n_lines"),
            )
            .orderBy("r_name", "n_name")
        )

    per_order = lineitem.groupBy("l_orderkey").agg(
        *dsum_limbs(revenue, "rev", 4, max_abs=1e7), F.count(F.lit(1)).alias("nl")
    )
    joined = (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            dsum_merge("rev", "revenue", 4, max_abs=1e7, df=joined),
            F.sum("nl").alias("n_lines"),
        )
        .orderBy("r_name", "n_name")
    )


# --------------------------------------------------------------------------
# q05/q06/q07 — outer join family. Null-producing sides aggregated with
# explicit COALESCE so the hash is stable.
# --------------------------------------------------------------------------


sql_query(
    "q05_left_join",
    """
    SELECT has_recent, COUNT(*) AS n_customers
    FROM (
      SELECT c.c_custkey,
             CASE WHEN MAX(o.o_orderkey) IS NULL THEN 0 ELSE 1 END AS has_recent
      FROM customer c
      LEFT JOIN (SELECT * FROM orders
                 WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00') o
        ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ) GROUP BY has_recent ORDER BY has_recent
    """,
    category="join",
)


sql_query(
    "q06_right_join",
    """
    SELECT n_name, COUNT(s_suppkey) AS n_suppliers
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
    category="join",
)


sql_query(
    "q07_full_outer_join",
    f"""
    WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust,
                      {sql_dsum('c_acctbal', 'cust_bal')}
               FROM customer WHERE c_acctbal > 9000 GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp
               FROM supplier WHERE s_acctbal > 9000 GROUP BY s_nationkey)
    SELECT COALESCE(c.nk, s.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(cust_bal, 0.0) AS cust_bal,
           COALESCE(n_supp, 0) AS n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    ORDER BY nationkey
    """,
    category="join",
)


# --------------------------------------------------------------------------
# q08/q09 — semi/anti join: EXISTS / NOT EXISTS without materializing the
# right side (no row multiplication, null-safe).
# --------------------------------------------------------------------------


sql_query(
    "q08_semi_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    category="join",
)


sql_query(
    "q09_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    ORDER BY c_custkey
    """,
    category="join",
)


# --------------------------------------------------------------------------
# q10 — cross join (explicit cartesian, tiny×tiny only).
# --------------------------------------------------------------------------


sql_query(
    "q10_cross_join",
    """
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region a CROSS JOIN region b
    WHERE a.r_regionkey <> b.r_regionkey
    ORDER BY from_region, to_region
    """,
    category="join",
)


# --------------------------------------------------------------------------
# q11 — equi+theta (range) join: band condition evaluated post-shuffle on
# the equi key, so no cartesian blowup.
# --------------------------------------------------------------------------


sql_query(
    "q11_range_join",
    """
    SELECT o_orderpriority, COUNT(*) AS n_fast_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate < o_orderdate + INTERVAL 30 DAY
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="join",
)


# --------------------------------------------------------------------------
# q12 — statistics: min/max/avg/stddev via exact decimal moments so the
# result is reduction-order independent (a raw double stddev is not).
# --------------------------------------------------------------------------

sql_query(
    "q12_agg_stats",
    """
    SELECT c_nationkey,
           COUNT(*) AS n,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal,
           SQRT(
             (CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(28,4))) AS DOUBLE)
              - CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE)
                * CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE)
                / CAST(COUNT(c_acctbal) AS DOUBLE))
             / (CAST(COUNT(c_acctbal) AS DOUBLE) - 1.0)
           ) AS stddev_bal
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    category="agg",
)


# --------------------------------------------------------------------------
# q13 — count distinct (exact, shuffle-dedup) alongside plain counts.
# --------------------------------------------------------------------------


sql_query(
    "q13_count_distinct",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="agg",
)


# q14 — approx_count_distinct: HLL sketch (the 100 TB scale path; q13 is
# the exact twin). Oracle-checkable via the exact+bound-boolean pattern:
# we emit the exact distinct count plus a boolean asserting the sketch
# landed within its configured error bound; the oracle emits the same
# exact count plus TRUE. A deterministic hash row despite the sketch.


@query(
    "q14_approx_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           TRUE AS within_bound
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="agg",
)
def q14(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers"),
        )
        .select(
            "o_orderpriority",
            "n_customers",
            (
                F.abs(F.col("approx_customers") - F.col("n_customers"))
                / F.col("n_customers")
                <= F.lit(0.05)
            ).alias("within_bound"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q15/q16/q17 — rollup / cube / grouping sets.
# --------------------------------------------------------------------------


@query(
    "q15_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    category="agg",
)
def q15(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count("*").alias("n"))
        .orderBy(F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "q16_cube",
    oracle=f"""
    SELECT p_brand, p_type, COUNT(*) AS n, {sql_dsum('p_retailprice', 'sum_price')}
    FROM part GROUP BY CUBE (p_brand, p_type)
    ORDER BY p_brand NULLS FIRST, p_type NULLS FIRST
    """,
    category="agg",
)
def q16(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "part")
        .cube("p_brand", "p_type")
        .agg(F.count("*").alias("n"), dsum("p_retailprice", "sum_price"))
        .orderBy(F.col("p_brand").asc_nulls_first(), F.col("p_type").asc_nulls_first())
    )


sql_query(
    "q17_grouping_sets",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n, {sql_dsum('o_totalprice', 'sum_price')}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
    category="agg",
    doc="GROUPING SETS — shared SQL dialect runs on both engines verbatim.",
)


# --------------------------------------------------------------------------
# q18 — collect_set surfaced as a sorted joined string (engine-portable
# deterministic form of a nested collection).
# --------------------------------------------------------------------------


@query(
    "q18_collect_sorted",
    oracle="""
    SELECT o_orderpriority,
           array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="agg",
)
def q18(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias("statuses")
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# q19/q20/q21 — set operators.
# --------------------------------------------------------------------------


sql_query(
    "q19_union_all",
    """
    SELECT nationkey, COUNT(*) AS n FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey FROM supplier
    ) GROUP BY nationkey ORDER BY nationkey
    """,
    category="setop",
)


sql_query(
    "q20_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9990
    INTERSECT
    SELECT s_nationkey FROM supplier
    ORDER BY nationkey
    """,
    category="setop",
)


sql_query(
    "q21_except",
    """
    SELECT n_nationkey FROM nation
    EXCEPT
    SELECT s_nationkey FROM supplier
    ORDER BY n_nationkey
    """,
    category="setop",
)


# --------------------------------------------------------------------------
# q22 — global top-k: Catalyst rewrites sort+limit to TakeOrderedAndProject
# (per-partition top-k then merge — no global sort shuffle).
# --------------------------------------------------------------------------


sql_query(
    "q22_top_k",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    category="sort",
)


# --------------------------------------------------------------------------
# q23 — scalar subquery: filter against a single aggregated value.
# Decimal-exact threshold so both engines cut the same rows.
# --------------------------------------------------------------------------


@query(
    "q23_scalar_subquery",
    oracle=f"""
    SELECT COUNT(*) AS n_above, {sql_dsum('o_totalprice', 'sum_above')}
    FROM orders
    WHERE o_totalprice > 2 * (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
      FROM orders
    )
    """,
    category="subquery",
)
def q23(spark: SparkSession, sf: str) -> DataFrame:
    orders = t(spark, sf, "orders")
    avg_row = orders.agg(
        (dsum_expr("o_totalprice", 2) / F.count("*")).alias("a")
    )
    return (
        orders.join(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > 2 * F.col("a"))
        .agg(F.count("*").alias("n_above"), dsum("o_totalprice", "sum_above"))
    )


# --------------------------------------------------------------------------
# q24 — correlated/groupwise comparison: customers above their nation's
# average balance. Window-based (single shuffle) instead of re-joining an
# aggregate — at scale this halves the reads of the fact table.
# --------------------------------------------------------------------------


@query(
    "q24_groupwise_compare",
    oracle="""
    WITH na AS (
      SELECT c_nationkey AS nk,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS nation_avg
      FROM customer GROUP BY c_nationkey
    )
    SELECT c_nationkey, COUNT(*) AS n_above
    FROM customer JOIN na ON nk = c_nationkey
    WHERE c_acctbal > nation_avg
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    category="subquery",
)
def q24(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("c_nationkey")
    c = t(spark, sf, "customer").withColumn(
        "nation_avg",
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).over(w).cast("double")
        / F.count("*").over(w),
    )
    return (
        c.filter(F.col("c_acctbal") > F.col("nation_avg"))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_above"))
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# q25 — correlated EXISTS: customers holding at least one urgent order.
# Catalyst decorrelates this to a left-semi join (one shuffle) — no
# per-row subquery execution.
# --------------------------------------------------------------------------

sql_query(
    "q25_exists_subquery",
    """
    SELECT c_nationkey, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    category="subquery",
)


# --------------------------------------------------------------------------
# q26 — NOT EXISTS (anti-join decorrelation): parts never ordered.
# NOT EXISTS rather than NOT IN — identical here, but null-safe by
# construction (NOT IN returns zero rows if the subquery yields a null).
# --------------------------------------------------------------------------

sql_query(
    "q26_not_exists",
    """
    SELECT p_brand, COUNT(*) AS n_unsold
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey
    )
    GROUP BY p_brand ORDER BY p_brand
    """,
    category="subquery",
)


# --------------------------------------------------------------------------
# q27 — pivot: order counts per priority, one column per order year.
# Spark's groupBy().pivot() with explicit values (explicit values skip
# the extra distinct-scan pass and keep the output schema static — a
# requirement for writing pivoted results at scale).
# --------------------------------------------------------------------------

_PIVOT_YEARS = (1995, 1996, 1997)


@query(
    "q27_pivot",
    oracle=f"""
    SELECT o_orderpriority,
           {', '.join(f"CAST(SUM(CASE WHEN year(o_orderdate) = {y} THEN 1 ELSE 0 END) AS BIGINT) AS y{y}" for y in _PIVOT_YEARS)}
    FROM orders
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="pivot",
)
def q27(spark: SparkSession, sf: str) -> DataFrame:
    orders = t(spark, sf, "orders").withColumn("yr", F.year("o_orderdate"))
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("yr", list(_PIVOT_YEARS))
        .agg(F.count(F.lit(1)))
    )
    out = piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(str(y)), F.lit(0)).alias(f"y{y}") for y in _PIVOT_YEARS],
    )
    return out.orderBy("o_orderpriority")


# --------------------------------------------------------------------------
# q28 — unpivot (stack): wide per-row metrics to long (metric, value)
# pairs. The inverse of q27; stack() is codegen'd, no Python involved.
# --------------------------------------------------------------------------

sql_query(
    "q28_unpivot",
    """
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey, 'acctbal' AS metric, CAST(c_acctbal AS DOUBLE) AS val
      FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS val
      FROM customer
    ) WHERE c_custkey <= 100
    ORDER BY c_custkey, metric
    """,
    category="pivot",
)


# --------------------------------------------------------------------------
# q29 — latest-row-per-key dedup (the CDC/compaction pattern): keep each
# user's most recent event. row_number over (key ORDER BY ts DESC) = 1 —
# one shuffle on the key; at scale this replaces a self-join-on-max-ts
# formulation that reads the fact table twice.
# --------------------------------------------------------------------------


sql_query(
    "q29_latest_per_key",
    """
    SELECT user_id, event_id, event_type
    FROM (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
    category="dedup",
)


# --------------------------------------------------------------------------
# q64 — exact grouped quantiles. Quartiles over integer-valued doubles:
# both engines' linear interpolation (lerp) is FP-exact there, so the
# values hash-match. (Scale path for continuous data: approx_percentile
# with t-digest — approximate, so it would get a rows-only check.)
# --------------------------------------------------------------------------


@query(
    "q64_quantiles",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.50) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    category="agg",
)
def q64(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.50)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# q69 — approx_percentile (mergeable quantile sketch): the scale path for
# continuous-valued quantiles (q64 is the exact variant; exact percentile
# needs a full sort per group, the sketch is what survives 100 TB).
# Oracle-checked via the exact+bound-boolean pattern: one scalar row per
# (group, pct) carrying the exact percentile plus a boolean asserting the
# sketch value is within 5% relative error; the oracle emits the same
# exact values + TRUE. Scalar rows only — drivers can hash them.
# --------------------------------------------------------------------------


@query(
    "q69_approx_percentile",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, [0.5, 0.95, 0.99]) AS exs
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(([0.5, 0.95, 0.99])[i] AS DOUBLE) AS pct,
           exs[i] AS exact_price,
           TRUE AS within_bound
    FROM q, (SELECT unnest(generate_series(1, 3)) AS i)
    ORDER BY l_returnflag, pct
    """,
    category="agg",
)
def q69(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem")
    pcts = [0.5, 0.95, 0.99]
    agg = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.95, 0.99), 10000)"
        ).alias("ap"),
        F.expr("percentile(l_extendedprice, array(0.5, 0.95, 0.99))").alias("ex"),
    )
    pct_arr = F.array(*[F.lit(p) for p in pcts])
    return (
        agg.select(
            "l_returnflag",
            F.posexplode(F.arrays_zip("ap", "ex")).alias("i", "z"),
        )
        .select(
            "l_returnflag",
            F.element_at(pct_arr, F.col("i") + 1).alias("pct"),
            F.col("z.ex").alias("exact_price"),
            (
                F.abs(F.col("z.ap") - F.col("z.ex")) / F.col("z.ex") <= F.lit(0.05)
            ).alias("within_bound"),
        )
        .orderBy("l_returnflag", "pct")
    )


# --------------------------------------------------------------------------
# q115 — cost-based optimization from catalog statistics. The orders side
# lives as a CATALOG table (not a bare path read): ANALYZE TABLE row-count
# + column min/max statistics let Catalyst's CBO estimate the o_totalprice
# filter's output at ~4% of the table and pick a BROADCAST join for a side
# whose raw file size would have forced a shuffle join. No broadcast()
# hint appears anywhere in the query — the flip is purely statistics-
# driven (tests/test_plans.py pins both sides of the flip on a session
# with a constrained broadcast threshold). At 100 TB this is the
# difference between shuffling a filtered dimension and broadcasting it;
# the reference has no statistics story at all (Athena reads Glue table
# properties only if a crawler wrote them).
# --------------------------------------------------------------------------

STATS_TABLE = "q115_orders"
STATS_PRICE_FLOOR = 499_000.0
# table property: digest of the (sf, analyze) a stats table was written from
_STATS_SOURCE_PROP = "stats_source"


def prepare_stats_table(
    spark: SparkSession, sf: str, analyze: bool = True, table: str = STATS_TABLE
) -> str:
    """Materialize orders as a managed catalog table; with ``analyze``,
    collect the table + column statistics the CBO plans from. A table
    this function already wrote from the same ``sf`` with the same
    ``analyze`` is reused, so a frame an earlier build returned keeps
    reading its files; any other table of that name is rewritten."""
    import hashlib
    import shutil

    from ..sources.catalog import analyze_table

    # the provenance property is set last: a run that crashed before it
    # leaves a table that does not match, so it is rewritten
    source = hashlib.sha1(f"{sf}\0{analyze}".encode()).hexdigest()
    if spark.catalog.tableExists(table):
        props = dict(spark.sql(f"SHOW TBLPROPERTIES {table}").collect())
        if props.get(_STATS_SOURCE_PROP) == source:
            return table
    # a crashed prior run can leave the managed location on disk without
    # a catalog entry — clear both before writing
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(loc.removeprefix("file:"), table.lower()), ignore_errors=True
    )
    t(spark, sf, "orders").write.mode("overwrite").saveAsTable(table)
    if analyze:
        analyze_table(spark, table, ["o_totalprice", "o_orderkey", "o_orderpriority"])
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ('{_STATS_SOURCE_PROP}' = '{source}')")
    return table


def stats_join(spark: SparkSession, sf: str, table: str = STATS_TABLE) -> DataFrame:
    """lineitem ⋈ (orders WHERE o_totalprice > floor) via the catalog
    table — the join strategy is left entirely to the optimizer."""
    orders = (
        spark.table(table)
        .filter(F.col("o_totalprice") > F.lit(STATS_PRICE_FLOOR))
        .select("o_orderkey", "o_orderpriority")
    )
    li = t(spark, sf, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            dsum("l_extendedprice", "total_price", max_abs=1e7),
        )
        .orderBy("o_orderpriority")
    )


# q115 plans with CBO on a scoped session (shared catalog, a copy of the
# caller's runtime conf), so the caller's session keeps planning without
# it. One scoped session per caller session, re-synced on each build:
# load_table memoizes frames per session, so a fresh session per build
# would re-load its tables on every build.
_CBO_SESSIONS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


@query(
    "q115_stats_broadcast_join",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_lines,
           {sql_dsum('l_extendedprice', 'total_price')}
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 499000.0
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    category="catalog",
)
def q115(spark: SparkSession, sf: str) -> DataFrame:
    cbo = _CBO_SESSIONS[spark] = scoped_session(
        spark, {"spark.sql.cbo.enabled": "true"}, _CBO_SESSIONS.get(spark)
    )
    table = prepare_stats_table(cbo, sf, analyze=True)
    return stats_join(cbo, sf, table)


# --------------------------------------------------------------------------
# q147 — RECURSIVE CTE (Spark 4 UnionLoop): iterative hierarchy walk
# entirely in SQL, the transitive-closure class of query (org charts,
# BOM explosions, graph reachability) that previously needed the
# driver-side iteration of operators/cluster.py. The synthetic forest
# is the implicit binary heap over custkey (parent = floor(k/2)), so
# depth = floor(log2(k)) gives a closed-form cross-check. Iteration
# count is bounded by log2(max custkey) — ~17 rounds at SF100 — and
# each round is one distributed map over the frontier (UnionLoop
# materializes per-iteration; no shuffle until the final aggregation),
# so the plan scales with |frontier|, not |graph|^2. Shared SQL text
# runs verbatim on both engines.
# --------------------------------------------------------------------------


sql_query(
    "q147_recursive_cte",
    """
    WITH RECURSIVE walk AS (
      SELECT c_custkey AS custkey, c_custkey AS anc, 0 AS depth FROM customer
      UNION ALL
      SELECT custkey, CAST(floor(anc / 2.0) AS BIGINT) AS anc, depth + 1 AS depth
      FROM walk WHERE anc > 1
    )
    SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes,
           min(custkey) AS min_custkey, max(custkey) AS max_custkey
    FROM walk WHERE anc = 1
    GROUP BY depth ORDER BY depth
    """,
    category="relational",
    doc="Recursive CTE hierarchy walk — each custkey climbs to the heap "
    "root; result is the exact depth histogram (depth = floor(log2(k))).",
)
