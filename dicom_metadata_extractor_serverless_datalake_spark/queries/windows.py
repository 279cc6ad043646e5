"""Window-function corpus + event-time (streaming-equivalent) windows
(SURVEY §2.B rows: window functions, streaming).

The tumbling/sliding/session queries are the batch twins of the
Structured Streaming aggregations in ``streaming/`` — identical window
semantics, run over the bounded events table so the DuckDB oracle can
check them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.bucketing import bucketed_layout, write_bucketed_layout
from .base import query, sql_query, t

# --------------------------------------------------------------------------
# q30 — ranking family: shared SQL (identical dialect in Spark and DuckDB).
# --------------------------------------------------------------------------

sql_query(
    "q30_ranking",
    """
    SELECT s_nationkey, s_suppkey, s_name,
           ROW_NUMBER()  OVER w AS rn,
           RANK()        OVER w AS rnk,
           DENSE_RANK()  OVER w AS drnk,
           NTILE(4)      OVER w AS quartile
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
    ORDER BY s_nationkey, rn
    """,
    category="window",
)

# q31 — top-N per group. The window + filter form Catalyst rewrites to
# WindowGroupLimit (partial before the exchange, final after), so the
# PLAIN plan already shuffles only ~(groups × N × tasks) rows. What the
# partial rewrite cannot remove is the LOCAL SORT of the whole fact
# table feeding the limit — at 600M crossover rows that sort IS the
# query (11.5 s, 2.0× DuckDB). The layout-aware variant removes it the
# same way q04 removes its join exchange: a lakehouse maintains a
# per-workload clustered copy (orders_by_custkey — hash-bucketed on
# o_custkey, ONE file per bucket, bucket-sorted on (o_custkey,
# o_totalprice_neg, o_orderkey) where o_totalprice_neg is a
# materialized descending sort helper, since bucket sort specs are
# ascending-only). The bucketed scan then satisfies the window's
# distribution AND ordering, so the plan is scan → WindowGroupLimit →
# Window → filter with no exchange and no sort — it streams pre-sorted
# buckets. Declared by an ``orders_by_custkey`` bucketed layout next to
# the data (``write_custkey_layout`` writes it; scripts/scale_bench.py
# keeps one for the 60M/600M rows).


def _has_custkey_layout(sf: str) -> bool:
    return (bucketed_layout(sf, "orders_by_custkey") or {}).get("bucket_col") == "o_custkey"


def write_custkey_layout(orders: DataFrame, data_dir: str, n_buckets: int = 32) -> None:
    """Write q31's clustered copy of ``orders`` (above) into ``data_dir``."""
    df = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    # the clustered path orders by o_totalprice_neg ASC, which is NULLS
    # FIRST while the plain/oracle path's o_totalprice DESC is NULLS
    # LAST — certify NOT NULL at write time so the two layouts can never
    # silently diverge on null prices
    n_null = df.filter(F.col("o_totalprice").isNull()).count()
    if n_null:
        raise ValueError(
            f"orders_by_custkey layout requires NOT NULL o_totalprice; found {n_null} null rows"
        )
    df = df.withColumn("o_totalprice_neg", -F.col("o_totalprice"))
    write_bucketed_layout(
        df.repartition(n_buckets, "o_custkey"), data_dir, "orders_by_custkey", "o_custkey",
        n_buckets, sort_cols=("o_custkey", "o_totalprice_neg", "o_orderkey"),
    )


@query(
    "q31_top_n_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    category="window",
    headline=True,
    doc="top-N per group: WindowGroupLimit; sort-free on clustered layout.",
)
def q31(spark: SparkSession, sf: str) -> DataFrame:
    if _has_custkey_layout(sf):
        from ..sources.tables import load_table

        tbl = load_table(spark, sf, "orders_by_custkey")
        # o_totalprice_neg ASC == o_totalprice DESC only for non-null
        # prices (ASC is NULLS FIRST, DESC is NULLS LAST); the layout
        # writer certifies NOT NULL o_totalprice at write time
        # (write_custkey_layout), so the paths cannot diverge
        w = Window.partitionBy("o_custkey").orderBy(
            F.asc("o_totalprice_neg"), F.asc("o_orderkey")
        )
        return (
            tbl.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
            .orderBy("o_custkey", "rn")
        )
    from ..sources.tables import register_star_schema

    register_star_schema(spark, sf)
    return spark.sql(
        """
        SELECT * FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
                 ) AS rn
          FROM orders
        ) WHERE rn <= 3
        ORDER BY o_custkey, rn
        """
    )

# q32: the ordering (s_acctbal, s_suppkey) is a total order, so
# PERCENT_RANK == (position-1)/(N-1) and CUME_DIST == position/N —
# computed with the parallel two-phase numbering (operators/rank.py)
# instead of an un-partitioned window's Exchange SinglePartition.
@query(
    "q32_percentiles",
    oracle="""
    SELECT s_suppkey, s_acctbal,
           PERCENT_RANK() OVER (ORDER BY s_acctbal, s_suppkey) AS pct_rank,
           CUME_DIST()    OVER (ORDER BY s_acctbal, s_suppkey) AS cume
    FROM supplier ORDER BY s_suppkey
    """,
    category="window",
)
def q32(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rank import global_positions

    sup = t(spark, sf, "supplier").select("s_suppkey", "s_acctbal")
    pos = global_positions(sup, ["s_acctbal", "s_suppkey"])
    n = sup.count()
    return pos.select(
        "s_suppkey",
        "s_acctbal",
        ((F.col("position") - 1) / F.lit(n - 1)).alias("pct_rank"),
        (F.col("position") / F.lit(n)).alias("cume"),
    ).orderBy("s_suppkey")


# --------------------------------------------------------------------------
# q33 — lag/lead on event time, microsecond-exact integer arithmetic
# (unix_micros / epoch_us) so the gap values hash identically.
# --------------------------------------------------------------------------


@query(
    "q33_lag_lead",
    oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us,
           lead(event_type) OVER w AS next_type
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
    category="window",
)
def q33(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = t(spark, sf, "events").filter(F.col("user_id") < 10)
    micros = F.unix_micros(F.col("ts"))
    return (
        e.select(
            "user_id",
            "event_id",
            (micros - F.lag(micros).over(w)).alias("gap_us"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# q34 — running aggregates over row frames; decimal-exact running sum.
# --------------------------------------------------------------------------


sql_query(
    "q34_running_sum",
    """
    SELECT user_id, event_id,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value,
           COUNT(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS n_last3
    FROM events WHERE user_id < 10
    ORDER BY user_id, event_id
    """,
    category="window",
)


# --------------------------------------------------------------------------
# q35 — RANGE frame over a numeric ordering (value-based window). The
# un-partitioned window IS the feature under test here (its plan funnels
# through one task); the scale-safe spelling of the same semantics is a
# banded range self-join (q11's shape) or a partition-by-bucket window
# with boundary correction.
# --------------------------------------------------------------------------

sql_query(
    "q35_range_frame",
    """
    SELECT s_suppkey, s_acctbal,
           COUNT(*) OVER (
             ORDER BY s_acctbal
             RANGE BETWEEN 500 PRECEDING AND 500 FOLLOWING
           ) AS n_within_500
    FROM supplier ORDER BY s_suppkey
    """,
    category="window",
)


# --------------------------------------------------------------------------
# q36 — tumbling event-time window (streaming twin: streaming/windows.py).
# Spark's window() aligns to the epoch, so 1-hour tumbling == date_trunc.
# --------------------------------------------------------------------------


@query(
    "q36_tumbling_window",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    category="streaming",
    headline=True,
)
def q36(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# q37 — sliding window (1h length, 30m slide): every event belongs to two
# windows. Oracle replays the same assignment with integer bucket math.
# --------------------------------------------------------------------------


@query(
    "q37_sliding_window",
    oracle="""
    SELECT make_timestamp(((epoch_us(ts) // 1800000000) - off) * 1800000000)
             AS window_start,
           COUNT(*) AS n
    FROM events CROSS JOIN (SELECT unnest([0, 1]) AS off)
    GROUP BY 1 ORDER BY window_start
    """,
    category="streaming",
)
def q37(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# q38 — session window (10-minute gap). Oracle = gaps-and-islands with the
# same merge rule as Spark's session_window (new session iff gap >= 10m);
# session_end = last event + gap.
# --------------------------------------------------------------------------


@query(
    "q38_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    category="streaming",
)
def q38(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "events")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# q39 — as-of join (operators/asof.py): for each purchase, the most recent
# prior click of the same user. Oracle uses DuckDB's native ASOF JOIN.
# --------------------------------------------------------------------------


@query(
    "q39_asof_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY purchase_id
    """,
    category="join",
)
def q39(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.asof import asof_join

    events = t(spark, sf, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases, clicks,
        on="user_id", left_ts="purchase_ts", right_ts="click_ts",
    ).orderBy("purchase_id")
