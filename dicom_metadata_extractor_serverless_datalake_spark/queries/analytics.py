"""Large-scale analytics corpus: cohorts, funnels, sessionization,
time-series gap-fill, mergeable sketches, deterministic sampling,
robust statistics, exact regression, TF-IDF, and skyline queries.

These extend SURVEY §2.B beyond the reference's Athena-delegated
surface with the event-analytics and data-quality operators a training
-data pipeline runs at 100 TB. Every query follows the corpus
determinism conventions (``queries/base.py``): exact fixed-point sums,
integer event-time arithmetic, total orders with unique tie-breaks,
and identical column aliases on both engines.

Scale notes are per-query; the common theme is: aggregate first,
window over the *shrunk* frame, never window over the raw fact table
without a partition key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..eventlog import EventLog
from ..operators.cachetrack import tracked_persist
from ..operators.dedup import h31
from .base import dsum_expr, query, sql_dsum, sql_query, t

# --------------------------------------------------------------------------
# q86 — weekly cohort retention over the events stream table.
#
# ONE shuffle on user_id computes both the cohort (min first day) and
# the distinct activity weeks (collect_set over week-truncated dates —
# bounded by the calendar, a few dozen values per user regardless of
# event count, and built map-side by the partial aggregate); explode +
# one rollup shuffle on (cohort, offset) finishes. The naive form —
# separate cohort agg, distinct, and a join — costs 3 keyed shuffles of
# the fact table; this costs 1 plus a rollup of |users| rows.
# Both engines truncate weeks to ISO Monday; offsets are exact integer
# day arithmetic (both week columns are Monday-aligned, so days/7 is an
# exact integer in either division semantics).
# --------------------------------------------------------------------------


@query(
    "q86_cohort_retention",
    oracle="""
    WITH first AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
    ),
    cohort AS (
      SELECT user_id, CAST(date_trunc('week', first_day) AS DATE) AS cohort_week FROM first
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week FROM events
    )
    SELECT c.cohort_week,
           CAST((a.act_week - c.cohort_week) / 7 AS INT) AS week_offset,
           count(DISTINCT a.user_id) AS active_users
    FROM activity a JOIN cohort c ON a.user_id = c.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    category="analytics",
)
def q86(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    per_user = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min(F.to_date("ts"))).cast("date").alias("cohort_week"),
        F.collect_set(F.date_trunc("week", F.col("ts")).cast("date")).alias("weeks"),
    )
    return (
        per_user.select(
            "user_id", "cohort_week", F.explode("weeks").alias("act_week")
        )
        .groupBy(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# q87 — strict sequential funnel (view -> click -> purchase).
#
# Each stage is min(ts) *after* the previous stage's timestamp — the
# correct sequential funnel, not the loose min(A) < min(B) heuristic.
# Three per-user aggregations chained by equi-joins on user_id: the
# same single shuffle key throughout, so at scale every stage reuses
# the user_id partitioning. Shared Spark/DuckDB dialect.
# --------------------------------------------------------------------------

sql_query(
    "q87_funnel_steps",
    """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS viewed,
           (SELECT count(*) FROM s2) AS clicked_after_view,
           (SELECT count(*) FROM s3) AS purchased_after_click
    """,
    category="analytics",
)


# --------------------------------------------------------------------------
# q88 — gap-based sessionization (30-min inactivity) via lag + running
# sum, the batch twin of session_window (q38) that also yields session
# *ids* usable downstream. All windows are partitioned by user_id —
# no global window — and duration math is exact integer microseconds.
# --------------------------------------------------------------------------

_SESSION_GAP_US = 30 * 60 * 1_000_000


@query(
    "q88_sessionize_lag",
    oracle=f"""
    WITH d AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, us,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess_id
      FROM d
    ),
    ps AS (
      SELECT user_id, sess_id, count(*) AS n_events,
             (max(us) - min(us)) / 1000000.0 AS dur_s
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, count(*) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           max(dur_s) AS max_dur_s
    FROM ps GROUP BY 1 ORDER BY 1
    """,
    category="analytics",
)
def q88(spark: SparkSession, sf: str) -> DataFrame:
    return EventLog(t(spark, sf, "events")).session_stats(gap_minutes=_SESSION_GAP_US // 60_000_000)


# --------------------------------------------------------------------------
# q89 — time-series gap-fill / resample: daily event counts per type
# with missing days materialized as zero. The calendar spine comes from
# sequence()+explode over the global [min,max] date bounds — a
# broadcast-sized frame regardless of fact size — so the only big-data
# operation is the groupBy count; the grid join is broadcast.
# --------------------------------------------------------------------------


@query(
    "q89_gapfill_daily",
    oracle="""
    WITH b AS (SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events),
    days AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d.day, ty.event_type, COALESCE(daily.n, 0) AS n_events
    FROM days d CROSS JOIN types ty
    LEFT JOIN daily ON daily.day = d.day AND daily.event_type = ty.event_type
    ORDER BY 1, 2
    """,
    category="analytics",
)
def q89(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    days = (
        e.agg(F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    types = e.select("event_type").distinct()
    grid = days.crossJoin(types)
    daily = e.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count("*").alias("n")
    )
    return (
        F.broadcast(grid)
        .join(daily, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("n", F.lit(0)).alias("n_events"))
        .orderBy("day", "event_type")
    )


# --------------------------------------------------------------------------
# q90 — mergeable distinct-count sketches: per-day HLL sketches unioned
# to a global estimate. This is THE scale pattern for distinct counts —
# partial sketches are tiny, mergeable, and reusable across rollup
# levels (day -> week -> total) without re-touching the fact table.
# Oracle-checked with the exact+bound-boolean pattern (Datasketches HLL
# at default lgK=12 has rel. stderr ~1.6%; 5% is a >3-sigma bound).
# --------------------------------------------------------------------------


@query(
    "q90_hll_partitioned_union",
    oracle="SELECT count(DISTINCT user_id) AS exact_users, TRUE AS within_bound FROM events",
    category="analytics",
)
def q90(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = e.agg(F.countDistinct("user_id").alias("exact_users"))
    return exact.crossJoin(F.broadcast(merged)).select(
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_bound"),
    )


# --------------------------------------------------------------------------
# q91 — deterministic weighted sampling: priority = portable multiplica-
# tive hash / weight, smallest-k wins, so inclusion odds scale with
# n_chars but reruns (and both engines) pick the identical sample. The
# hash is pure int64 arithmetic (no engine hash function), overflow-safe
# under ANSI: (doc_id % 1000003) * 2654435761 < 2^52. Map-side priority
# + TakeOrderedAndProject — no shuffle of the full table at scale.
# Shared Spark/DuckDB dialect.
# --------------------------------------------------------------------------

sql_query(
    "q91_weighted_sample",
    """
    SELECT doc_id, n_chars,
           CAST((doc_id % 1000003) * 2654435761 % 1000000007 AS DOUBLE) / n_chars
             AS priority
    FROM documents
    WHERE n_chars > 0
    ORDER BY priority, doc_id
    LIMIT 20
    """,
    category="analytics",
)


# --------------------------------------------------------------------------
# q92 — robust outlier stats per event type: median, MAD, and the count
# of |x - med| > 3 * 1.4826 * MAD outliers. Two median passes chained by
# broadcast joins on the tiny per-type frame; medians are exact
# (interpolating) in both engines, and the threshold multiply is a
# single identical double op on identical inputs — bit-deterministic.
# --------------------------------------------------------------------------

_MAD_K = 4.4478  # 3 * 1.4826 (normal-consistency constant)


@query(
    "q92_robust_zscore",
    oracle=f"""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ),
    mad AS (
      SELECT e.event_type, median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type GROUP BY 1
    )
    SELECT e.event_type, max(m.med) AS med, max(d.mad) AS mad,
           CAST(SUM(CASE WHEN abs(e.value - m.med) > {_MAD_K} * d.mad THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY 1 ORDER BY 1
    """,
    category="analytics",
)
def q92(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    j = e.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    jj = j.join(F.broadcast(mad), "event_type")
    return (
        jj.groupBy("event_type")
        .agg(
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("med")) > F.lit(_MAD_K) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q114 — SKETCH-MODE robust z-score: the production variant of q92.
# q92's two exact medians are per-group sorts — the steepest 100x
# scaler in the analytics family (7.3x wall for 100x rows, BASELINE.md)
# — so the scale path swaps both for approx_percentile (a mergeable
# sketch aggregate: map-side partial sketches, merge on the reduce
# side, no per-group sort anywhere). Exactness claims move into the
# result itself, q107/q14-style: the query emits per-type BOOLEAN rank
# checks (the approximate median must sit within +/-5% rank of 0.5 on
# the value distribution, likewise the approximate MAD on the
# deviation distribution), and the oracle pins those booleans TRUE.
# The sketch's rank error at accuracy 10000 is ~1e-4, so the 5% bound
# certifies correctness with vast margin while staying hash-stable.
# --------------------------------------------------------------------------

# rank error <= 1/accuracy = 0.1% against a 5% check bound (50x margin);
# accuracy drives partial-sketch size, so this is also the shuffle knob
_APPROX_ACC = 1_000


@query(
    "q114_robust_zscore_sketch",
    oracle="""
    SELECT event_type, TRUE AS med_rank_ok, TRUE AS mad_rank_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    category="analytics",
)
def q114(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.approx_percentile("value", F.lit(0.5), F.lit(_APPROX_ACC)).alias("med_hat")
    )
    j = e.join(F.broadcast(med), "event_type")
    mad = j.groupBy("event_type").agg(
        F.approx_percentile(
            F.abs(F.col("value") - F.col("med_hat")), F.lit(0.5), F.lit(_APPROX_ACC)
        ).alias("mad_hat")
    )
    jj = j.join(F.broadcast(mad), "event_type")
    checks = jj.groupBy("event_type").agg(
        F.avg((F.col("value") <= F.col("med_hat")).cast("double")).alias("r_med"),
        F.avg(
            (F.abs(F.col("value") - F.col("med_hat")) <= F.col("mad_hat")).cast(
                "double"
            )
        ).alias("r_mad"),
    )
    return (
        checks.select(
            "event_type",
            (F.abs(F.col("r_med") - 0.5) <= 0.05).alias("med_rank_ok"),
            (F.abs(F.col("r_mad") - 0.5) <= 0.05).alias("mad_rank_ok"),
        ).orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q93 — fixed-width histogram of lineitem prices. The bucket expression
# is explicit floor(x / width) — identical arithmetic in both engines
# (width_bucket's internal formula is implementation-defined at ulp
# boundaries) — and the whole query is one map-side projection + one
# aggregation shuffle on ~20 keys. Shared dialect.
# --------------------------------------------------------------------------

sql_query(
    "q93_price_histogram",
    """
    SELECT CAST(floor(l_extendedprice / 5000.0) AS INT) AS bucket,
           count(*) AS n,
           min(l_extendedprice) AS lo,
           max(l_extendedprice) AS hi
    FROM lineitem
    GROUP BY 1 ORDER BY 1
    """,
    category="analytics",
)


# --------------------------------------------------------------------------
# q94 — per-group linear regression (value vs. event time) from exact
# fixed-point component sums. Spark's regr_slope/corr are double
# aggregates whose result depends on reduction order; instead n, Sx,
# Sy, Sxx, Sxy, Syy are exact decimal sums (x = integer seconds from
# 2024-01-01, y rounded to fixed-point) and the closed-form slope/
# intercept/r2 are computed from those exact components with an
# identical double expression tree on both engines — deterministic
# under any partitioning. Single aggregation shuffle on event_type.
# --------------------------------------------------------------------------

_X_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC


def _regr_formula(n: str, sx: str, sy: str, sxx: str, sxy: str, syy: str) -> dict[str, str]:
    cov = f"({n} * {sxy} - {sx} * {sy})"
    varx = f"({n} * {sxx} - {sx} * {sx})"
    vary = f"({n} * {syy} - {sy} * {sy})"
    return {
        "slope": f"{cov} / {varx}",
        "intercept": f"({sy} - ({cov} / {varx}) * {sx}) / {n}",
        "r2": f"({cov} * {cov}) / ({varx} * {vary})",
    }


_REGR_F = _regr_formula("n", "sx", "sy", "sxx", "sxy", "syy")

_REGR_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         (epoch_us(ts) // 1000000) - {_X_EPOCH} AS x,
         value AS y
  FROM events
),
comp AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,4))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * CAST(x AS DOUBLE) AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy
  FROM base GROUP BY event_type
)
SELECT event_type,
       {_REGR_F["slope"]} AS slope,
       {_REGR_F["intercept"]} AS intercept,
       {_REGR_F["r2"]} AS r2
FROM comp ORDER BY event_type
"""


@query("q94_regression_exact", oracle=_REGR_ORACLE, category="analytics")
def q94(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    base = e.select(
        "event_type",
        (F.expr("unix_micros(ts) div 1000000") - F.lit(_X_EPOCH)).alias("x"),
        F.col("value").alias("y"),
    )
    comp = base.groupBy("event_type").agg(
        F.count("*").cast("double").alias("n"),
        dsum_expr("x", 0).alias("sx"),
        dsum_expr("y", 4).alias("sy"),
        dsum_expr("x * CAST(x AS DOUBLE)", 0).alias("sxx"),
        dsum_expr("x * y", 4).alias("sxy"),
        dsum_expr("y * y", 4).alias("syy"),
    )
    return comp.selectExpr(
        "event_type",
        f"{_REGR_F['slope']} AS slope",
        f"{_REGR_F['intercept']} AS intercept",
        f"{_REGR_F['r2']} AS r2",
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q95 — TF-IDF top terms per source. IDF is the exact rational N/df
# (one integer multiply + one correctly-rounded division — identical in
# both engines; ln() is NOT cross-libm deterministic, so the classic
# log form is deliberately avoided; rankings are identical since ln is
# monotone). The window runs over the aggregated (source, term) frame,
# partitioned by source — never over raw tokens.
# --------------------------------------------------------------------------


@query(
    "q95_tfidf_topterms",
    oracle="""
    WITH terms AS (
      SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT source, term, count(*) AS tf FROM terms
      WHERE term <> '' GROUP BY 1, 2
    ),
    idf AS (SELECT term, count(DISTINCT source) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT source) AS nsrc FROM documents),
    scored AS (
      SELECT tf.source, tf.term, tf.tf,
             CAST(tf.tf * n.nsrc AS DOUBLE) / idf.df AS score
      FROM tf JOIN idf ON tf.term = idf.term CROSS JOIN n
    )
    SELECT source, term, tf, score, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3 ORDER BY source, rn
    """,
    category="analytics",
)
def q95(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents")
    terms = d.select("source", F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    tf = terms.groupBy("source", "term").agg(F.count("*").alias("tf"))
    idf = tf.groupBy("term").agg(F.countDistinct("source").alias("df"))
    nsrc = d.agg(F.countDistinct("source").alias("nsrc"))
    scored = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(nsrc))
        .select(
            "source",
            "term",
            "tf",
            ((F.col("tf") * F.col("nsrc")).cast("double") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "term", "tf", "score", "rn")
        .orderBy("source", "rn")
    )


# --------------------------------------------------------------------------
# q96 — deterministic mode + exact median per group. mode() in both
# engines leaves ties unspecified, so the mode is computed explicitly:
# count per (group, value), then row_number ordered by (count DESC,
# value) — a total order. Both aggregations shuffle on the group key;
# the window runs over the aggregated frame. Shared dialect.
# --------------------------------------------------------------------------

sql_query(
    "q96_mode_median",
    """
    WITH c AS (
      SELECT l_returnflag, l_quantity, count(*) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT l_returnflag, l_quantity AS mode_qty,
             row_number() OVER (
               PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity
             ) AS rn
      FROM c
    )
    SELECT f.l_returnflag, m.mode_qty, f.med_qty, f.n
    FROM (
      SELECT l_returnflag, median(l_quantity) AS med_qty, count(*) AS n
      FROM lineitem GROUP BY 1
    ) f
    JOIN m ON f.l_returnflag = m.l_returnflag AND m.rn = 1
    ORDER BY 1
    """,
    category="analytics",
)


# --------------------------------------------------------------------------
# q97 — decile statistics over orders. The oracle uses ntile(10) over a
# global order — an Exchange SinglePartition in Spark — so the Spark
# side instead derives the identical ntile bucket from the parallel
# two-phase global numbering (operators/rank.py, same machinery as
# q32/q76): ntile semantics reproduced exactly (first n%k buckets get
# one extra row). Per-decile averages are exact decimal sums.
# --------------------------------------------------------------------------


@query(
    "q97_decile_stats",
    oracle="""
    WITH d AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile, count(*) AS n, min(o_totalprice) AS lo, max(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / count(*)
             AS avg_price
    FROM d GROUP BY 1 ORDER BY 1
    """,
    category="analytics",
)
def q97(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rank import global_positions

    orders = t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    pos = global_positions(orders, ["o_totalprice", "o_orderkey"])
    n = orders.count()
    k = 10
    size, rem = divmod(n, k)
    cut = rem * (size + 1)
    decile = (
        F.when(
            F.col("position") <= cut,
            ((F.col("position") - 1) / F.lit(size + 1)).cast("long"),
        )
        .otherwise(
            F.lit(rem) + ((F.col("position") - 1 - cut) / F.lit(size)).cast("long")
        )
        + 1
    ).cast("int")
    return (
        pos.select("o_totalprice", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            (dsum_expr("o_totalprice", 2) / F.count("*")).alias("avg_price"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q98 — pareto frontier (skyline): cheapest-size/highest-price parts.
# The naive skyline is an O(n^2) NOT EXISTS anti-join; this is the
# scalable 2-D form: group to per-size maxima first (the frame shrinks
# to |distinct sizes|), then one running-max window over that tiny
# frame. A point survives iff it strictly beats every strictly-smaller
# size's best price. Shared dialect.
# --------------------------------------------------------------------------

sql_query(
    "q98_pareto_frontier",
    """
    WITH m AS (
      SELECT p_size, max(p_retailprice) AS best_price FROM part GROUP BY p_size
    ),
    f AS (
      SELECT p_size, best_price,
             max(best_price) OVER (
               ORDER BY p_size RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prev_best
      FROM m
    )
    SELECT p_size, best_price FROM f
    WHERE prev_best IS NULL OR best_price > prev_best
    ORDER BY p_size
    """,
    category="analytics",
)


# --------------------------------------------------------------------------
# q101 — banded temporal proximity self-join: (click, purchase) pairs of
# the same user within 5 minutes. The naive form is an inequality self-
# join (nested-loop at scale); here time is bucketed to the window width
# and the click side explodes to its bucket and the next, making the
# join a pure equi-join on (user_id, bucket) — each true pair matches in
# exactly one bucket offset, so no dedup pass is needed. The exact
# interval predicate then filters candidates. This is THE scale shape
# for temporal correlation joins: shuffle keyed by (user, time-band),
# never all-pairs.
# --------------------------------------------------------------------------

_PROX_US = 5 * 60 * 1_000_000  # 5-minute proximity window


@query(
    "q101_time_proximity_join",
    oracle=f"""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts
     AND epoch_us(p.ts) - epoch_us(c.ts) <= {_PROX_US}
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY click_id, purchase_id
    """,
    category="analytics",
)
def q101(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    bucket = (F.col("us") / F.lit(_PROX_US)).cast("long")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("us").alias("c_us"),
            F.explode(F.array(bucket, bucket + 1)).alias("bucket"),
        )
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("us").alias("p_us"),
        bucket.alias("bucket"),
    )
    gap = F.col("p_us") - F.col("c_us")
    return (
        clicks.join(
            purchases,
            (clicks.user_id == purchases.p_user) & (clicks.bucket == purchases.bucket),
        )
        .filter((gap >= 0) & (gap <= _PROX_US))
        .select("click_id", "purchase_id", "user_id", gap.alias("gap_us"))
        .orderBy("click_id", "purchase_id")
    )


# --------------------------------------------------------------------------
# q102 — rolling 7-day distinct users via sketch REUSE: per-day HLL
# sketches are built once (one pass over the facts), then every sliding
# window unions its 7 day-sketches — overlapping windows never re-touch
# the fact table. This is why mergeable sketches matter at 100 TB:
# day sketches are a few KB each, and any rollup (7-day, 30-day,
# month-to-date) is a join over sketch rows. Exact+bound oracle as q90.
# --------------------------------------------------------------------------


@query(
    "q102_rolling_distinct_sketch",
    oracle="""
    WITH b AS (
      SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
    ),
    ends AS (
      SELECT CAST(unnest(generate_series(lo + INTERVAL 6 DAY, hi, INTERVAL 1 DAY)) AS DATE)
               AS window_end
      FROM b
    )
    SELECT w.window_end, count(DISTINCT e.user_id) AS exact_users,
           TRUE AS within_bound
    FROM ends w
    JOIN events e
      ON CAST(e.ts AS DATE) BETWEEN w.window_end - 6 AND w.window_end
    GROUP BY w.window_end ORDER BY w.window_end
    """,
    category="analytics",
)
def q102(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events").select(F.to_date("ts").alias("day"), "user_id")
    # one pass: per-day sketch + the window ends each day contributes to
    daily = e.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    bounds = e.agg(
        (F.date_add(F.min("day"), 6)).alias("first_end"), F.max("day").alias("hi")
    )
    contrib = (
        daily.crossJoin(F.broadcast(bounds))
        .select(
            "sk",
            F.explode(
                F.sequence(
                    F.greatest(F.col("day"), F.col("first_end")),
                    F.least(F.date_add(F.col("day"), 6), F.col("hi")),
                )
            ).alias("window_end"),
        )
    )
    approx = contrib.groupBy("window_end").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    # exact side (for the bound check; the sketch path above is the point)
    exact = (
        e.crossJoin(F.broadcast(bounds))
        .filter(
            (F.col("day") >= F.date_sub(F.col("first_end"), 6)) & (F.col("day") <= F.col("hi"))
        )
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.greatest(F.col("day"), F.col("first_end")),
                    F.least(F.date_add(F.col("day"), 6), F.col("hi")),
                )
            ).alias("window_end"),
        )
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return (
        exact.join(approx, "window_end")
        .select(
            "window_end",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.05
            ).alias("within_bound"),
        )
        .orderBy("window_end")
    )


# --------------------------------------------------------------------------
# q103 — semi-structured VARIANT path: parse the JSON props column into
# Spark 4's VARIANT type once, then typed-path extraction
# (variant_get) feeds grouping and exact aggregation. VARIANT's binary
# encoding makes repeated path access O(paths) instead of re-parsing
# text per expression — the modern lakehouse answer to schemaless
# columns (vs. the extra_tags map the ingest schema uses).
# --------------------------------------------------------------------------


@query(
    "q103_variant_json",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS total_k,
           CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10)
             AS BIGINT) AS k_decades
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
    category="analytics",
)
def q103(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events").select(
        "event_type", F.parse_json("props").alias("v")
    )
    k = F.variant_get(F.col("v"), "$.k", "bigint")
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(k).alias("total_k"),
            F.countDistinct((k / 10).cast("long")).alias("k_decades"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q104 — prefix-filtered set-similarity join (the ppjoin/SSJoin family):
# the OTHER scalable blocking scheme for Jaccard joins, complementary to
# MinHash banding (q52). Tokens get a global rarity order (frequency
# asc, token asc); a doc with n tokens exposes only its first
# n - ceil(t*n) + 1 rarest tokens as join keys. Completeness is exact,
# not probabilistic: if J(A,B) >= t then |A∩B| >= ceil(t*max(|A|,|B|)),
# and by pigeonhole the smallest common token sits inside BOTH prefixes
# — so the prefix-prefix equi-join loses no qualifying pair, while
# frequent tokens (the quadratic blowup in a naive token join) never
# become join keys. A lossless length-ratio filter prunes further
# before the distinct. Verification = exact Jaccard on candidates only
# (operators/dedup.py). The oracle runs the unfiltered exact token join
# — identical output proves the filter lossless on real data.
# --------------------------------------------------------------------------

_PF_T = 0.8


@query(
    "q104_prefix_filter_join",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS both_n
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           CAST(both_n AS DOUBLE) / (sa.n + sb.n - both_n) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE CAST(both_n AS DOUBLE) / (sa.n + sb.n - both_n) >= {_PF_T}
    ORDER BY d1, d2
    """,
    category="dedup",
)
def q104(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..operators.dedup import jaccard_verify

    docs = t(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("f"))
    ranked = tok.join(freq, "w")
    wdoc = Window.partitionBy("doc_id").orderBy("f", "w")
    wn = Window.partitionBy("doc_id")
    # pref feeds BOTH sides of the self-join; unpersisted, each side
    # re-derives the freq aggregation + join + two window passes from
    # scratch (the round-3 plan audit measured 47 exchanges for this
    # query, mostly that duplication — persisting drops it to 22).
    # pref is the RIGHT frame to pin: it is expensive to recompute and
    # small (prefix tokens only, ~1/(1-t) of a doc's tokens). tok is
    # deliberately NOT persisted — it is one map-side scan+explode
    # (zero exchanges, cheap to recompute) but LARGER than the source
    # corpus once exploded, so materializing it at 100 TB would cost
    # more storage than the recompute saves. MEMORY_AND_DISK keeps the
    # pinned blocks LRU-evictable.
    pref = (
        ranked.withColumn("pos", F.row_number().over(wdoc))
        .withColumn("n", F.count("*").over(wn))
        .filter(F.col("pos") <= F.col("n") - F.ceil(F.lit(_PF_T) * F.col("n")) + 1)
        .transform(lambda d: tracked_persist(d, StorageLevel.MEMORY_AND_DISK))
    )
    a = pref.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"), "w")
    b = pref.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"), "w")
    cands = (
        a.join(b, "w")
        .filter(
            (F.col("d1") < F.col("d2"))
            # lossless length filter: J >= t forces t*|B| <= |A| (o <= |A|,
            # union >= |B|), integer-exact via ceil
            & (F.col("na") >= F.ceil(F.lit(_PF_T) * F.col("nb")))
            & (F.col("nb") >= F.ceil(F.lit(_PF_T) * F.col("na")))
        )
        .select("d1", "d2")
        .distinct()
    )
    verified = jaccard_verify(
        cands, tok.select("doc_id", F.col("w").alias("s")), _PF_T
    )
    return verified.orderBy("d1", "d2")


# --------------------------------------------------------------------------
# q105 — event-transition matrix (first-order Markov over per-user event
# sequences): lead() within user orders the stream once, the transition
# rollup is one tiny-keyed aggregation, and probabilities are exact
# rationals (count/total — single correctly-rounded division, identical
# in both engines). The partitioned window never funnels: state is
# per-user, the rollup key space is |event_types|^2.
# --------------------------------------------------------------------------


@query(
    "q105_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS dst
      FROM events
    ),
    trans AS (
      SELECT src, dst, count(*) AS n FROM seq
      WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    totals AS (SELECT src, CAST(SUM(n) AS BIGINT) AS total FROM trans GROUP BY src)
    SELECT trans.src, trans.dst, trans.n,
           CAST(trans.n AS DOUBLE) / totals.total AS p
    FROM trans JOIN totals ON trans.src = totals.src
    ORDER BY trans.src, trans.dst
    """,
    category="analytics",
)
def q105(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf, "events").select(
        F.col("event_type").alias("src"), F.lead("event_type").over(w).alias("dst")
    )
    trans = (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )
    wtot = Window.partitionBy("src")
    return (
        trans.withColumn("p", F.col("n").cast("double") / F.sum("n").over(wtot))
        .select("src", "dst", "n", "p")
        .orderBy("src", "dst")
    )


# --------------------------------------------------------------------------
# q106 — data-quality constraint audit (the Deequ/dbt-test shape): one
# pass per table computes null-rate / uniqueness / range checks, plus
# NOT EXISTS referential-integrity probes between fact and dimension.
# Each check is a row (check_name, violations), so the audit scales by
# adding rows, not columns, and a scheduler can diff successive audits.
# FK checks are anti-join-shaped (hash equi-join); everything else is
# a map-side FILTER aggregate. Shared Spark/DuckDB dialect.
# --------------------------------------------------------------------------

sql_query(
    "q106_data_quality_audit",
    """
    SELECT 'orders_custkey_null' AS check_name,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS violations
    FROM orders
    UNION ALL
    SELECT 'orders_fk_customer',
           COUNT(*) FILTER (WHERE NOT EXISTS (
             SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    FROM orders o
    UNION ALL
    SELECT 'lineitem_fk_orders',
           COUNT(*) FILTER (WHERE NOT EXISTS (
             SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
    FROM lineitem l
    UNION ALL
    SELECT 'lineitem_qty_range',
           COUNT(*) FILTER (WHERE l_quantity <= 0 OR l_quantity > 100)
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_range',
           COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
    FROM lineitem
    UNION ALL
    SELECT 'events_event_id_dupes',
           CAST(SUM(n - 1) AS BIGINT)
    FROM (SELECT event_id, COUNT(*) AS n FROM events GROUP BY event_id) d
    UNION ALL
    SELECT 'events_value_negative',
           COUNT(*) FILTER (WHERE value < 0)
    FROM events
    UNION ALL
    SELECT 'documents_empty_text',
           COUNT(*) FILTER (WHERE text IS NULL OR length(text) = 0)
    FROM documents
    ORDER BY check_name
    """,
    category="analytics",
)


# --------------------------------------------------------------------------
# q107 — mergeable quantile sketches (KLL): per-day sketches of the
# value stream merged into one global sketch, answering p50/p95/p99
# without the per-group sort an exact median costs (the scale answer to
# q92's exact-median note in BASELINE.md). Day sketches are a few KB;
# the rollup reduces over sketch ROWS (collect_list + reduce with the
# binary kll_sketch_merge), so month/quarter/any-window quantiles reuse
# them without re-touching facts. KLL quantile results are rank-bounded
# (not value-bounded) and the sketch is randomized, so the oracle check
# is the rank bound itself: the exact fraction of values <= q̂ must sit
# within p ± 0.05 (KLL k=200 rank stderr ~1.65%) — a deterministic
# boolean even though q̂ varies per run.
# --------------------------------------------------------------------------

_KLL_PS = (0.5, 0.95, 0.99)


@query(
    "q107_kll_quantile_rollup",
    oracle="""
    SELECT CAST(0.5 AS DOUBLE) AS p, TRUE AS rank_ok
    UNION ALL SELECT CAST(0.95 AS DOUBLE), TRUE
    UNION ALL SELECT CAST(0.99 AS DOUBLE), TRUE
    ORDER BY p
    """,
    category="analytics",
)
def q107(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events").select(F.to_date("ts").alias("day"), "value")
    daily = e.groupBy("day").agg(F.kll_sketch_agg_double("value").alias("sk"))
    merged = daily.agg(F.collect_list("sk").alias("sks")).selectExpr(
        "reduce(slice(sks, 2, size(sks) - 1), sks[0],"
        " (acc, x) -> kll_sketch_merge_double(acc, x)) AS m"
    )
    qhat = merged.selectExpr(
        *[
            f"kll_sketch_get_quantile_double(m, {p}) AS q{i}"
            for i, p in enumerate(_KLL_PS)
        ]
    )
    ranks = e.crossJoin(F.broadcast(qhat)).agg(
        *[
            (
                F.sum(F.when(F.col("value") <= F.col(f"q{i}"), 1).otherwise(0))
                / F.count("*")
            ).alias(f"r{i}")
            for i in range(len(_KLL_PS))
        ]
    )
    checks = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                (F.abs(F.col(f"r{i}") - F.lit(p)) <= 0.05).alias("rank_ok"),
            )
            for i, p in enumerate(_KLL_PS)
        ]
    )
    return (
        ranks.select(F.explode(checks).alias("s"))
        .select("s.p", "s.rank_ok")
        .orderBy("p")
    )


# --------------------------------------------------------------------------
# q108 — theta-sketch set algebra over user audiences: distinct users
# who clicked OR purchased (union), AND purchased (intersection), and
# clicked but never purchased (difference), estimated from two per-type
# sketches. This is the capability HLL fundamentally lacks — HLL unions
# only; theta sketches close the set algebra, so audience overlap /
# exclusion questions become sketch-row arithmetic instead of fact
# re-scans. Error bound checked against exact counts relative to the
# union size (theta default k=4096 => ~1.6% stderr; sets this small run
# in the sketch's exact mode).
# --------------------------------------------------------------------------


@query(
    "q108_theta_set_algebra",
    oracle="""
    WITH flags AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM events GROUP BY user_id
    )
    SELECT op, exact, TRUE AS within_bound FROM (
      SELECT 'difference' AS op,
             CAST(SUM(CASE WHEN c = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT) AS exact
      FROM flags
      UNION ALL
      SELECT 'intersection',
             CAST(SUM(CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM flags
      UNION ALL
      SELECT 'union',
             CAST(SUM(CASE WHEN c = 1 OR p = 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM flags
    ) ORDER BY op
    """,
    category="analytics",
)
def q108(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events")
    csk = (
        e.filter(F.col("event_type") == "click")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("csk"))
    )
    psk = (
        e.filter(F.col("event_type") == "purchase")
        .agg(F.expr("theta_sketch_agg(user_id)").alias("psk"))
    )
    ests = csk.crossJoin(F.broadcast(psk)).selectExpr(
        "theta_sketch_estimate(theta_union(csk, psk)) AS est_union",
        "theta_sketch_estimate(theta_intersection(csk, psk)) AS est_intersection",
        "theta_sketch_estimate(theta_difference(csk, psk)) AS est_difference",
    )
    flags = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("p"),
    )
    exact = flags.agg(
        F.sum(F.when((F.col("c") == 1) & (F.col("p") == 0), 1).otherwise(0)).alias("x_difference"),
        F.sum(F.when((F.col("c") == 1) & (F.col("p") == 1), 1).otherwise(0)).alias("x_intersection"),
        F.sum(F.when((F.col("c") == 1) | (F.col("p") == 1), 1).otherwise(0)).alias("x_union"),
    )
    joined = exact.crossJoin(F.broadcast(ests))
    checks = F.array(
        *[
            F.struct(
                F.lit(op).alias("op"),
                F.col(f"x_{op}").cast("long").alias("exact"),
                (
                    F.abs(F.col(f"est_{op}") - F.col(f"x_{op}"))
                    <= F.lit(0.05) * F.col("x_union")
                ).alias("within_bound"),
            )
            for op in ("difference", "intersection", "union")
        ]
    )
    return (
        joined.select(F.explode(checks).alias("s"))
        .select("s.op", "s.exact", "s.within_bound")
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# q119 — incremental view maintenance: a per-(event_type, day) rollup
# maintained as MERGEABLE PARTIAL STATE. The query aggregates the
# pre-cutoff events and the post-cutoff delta SEPARATELY into partial
# states (count + exact long-limb value sums), then merges the two
# state sets — the union-then-re-aggregate step an incremental pipeline
# runs on every new batch instead of rescanning history. The oracle is
# the DIRECT full aggregation over all events: a hash match proves
# merge(partial(base), partial(delta)) == full(base ∪ delta)
# bit-for-bit, which is THE correctness obligation of IVM (and of q99's
# streaming state accumulation, whose batch twin this is — integer limb
# sums are associative/commutative, so merge order and batch boundaries
# cannot change the answer; a plain double sum would drift here).
#
# Scale: at 100 TB the base never rescans — its partial state is ~one
# row per (type, day) group. Each increment costs one delta scan + a
# groups-sized merge shuffle. The same mechanism is why dsum_limbs
# partials can be stored in a lake table and compacted/merged freely.
# --------------------------------------------------------------------------

_IVM_CUTOFF = "TIMESTAMP '2024-01-20 00:00:00'"


@query(
    "q119_incremental_rollup",
    oracle=f"""
    SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events,
           {sql_dsum('value', 'total_value', 4)}
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
    category="analytics",
)
def q119(spark: SparkSession, sf: str) -> DataFrame:
    from .base import dsum_limbs, dsum_merge

    e = t(spark, sf, "events").select("event_type", "ts", "value")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", F.to_date("ts").alias("day")).agg(
            F.count("*").alias("n"),
            *dsum_limbs("value", "v", 4, max_abs=1e3),
        )

    base = partial(e.filter(F.col("ts") < F.expr(_IVM_CUTOFF)))
    delta = partial(e.filter(F.col("ts") >= F.expr(_IVM_CUTOFF)))
    states = base.unionByName(delta)
    return (
        states.groupBy("event_type", "day")
        .agg(
            F.sum("n").alias("n_events"),
            dsum_merge("v", "total_value", 4, max_abs=1e3, df=states),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# q120 — degree-oriented triangle counting + global clustering
# coefficient over the user co-engagement graph (edge = two users
# active in the same (event_type, hour) bucket). Graph metrics like
# this are the standard diagnostic over similarity/dedup graphs
# (dense triangle neighborhoods = near-clique dup clusters).
#
# The scale pattern is the orientation trick (MR triangle counting,
# Suri & Vassilvitskii WWW'11): orient every edge from its
# (degree, id)-smaller endpoint to the larger, so each triangle is
# counted exactly once from its smallest vertex and — the point — the
# path-join fan-out per vertex is bounded by OUT-degree, which
# orientation caps at O(sqrt(m)) even when raw degrees are power-law.
# Wedge counts come from the degree table alone (sum d*(d-1)/2, exact
# integers); the clustering coefficient 3T/wedges is one correctly-
# rounded double division. The bucket self-join is the only quadratic
# step and is confined per (type, hour) bucket — the same
# blocking-first posture as the dedup family.
# --------------------------------------------------------------------------


@query(
    "q120_triangle_count",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts) AS grp, user_id FROM events
    ),
    e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM du a JOIN du b
        ON a.event_type = b.event_type AND a.grp = b.grp AND a.user_id < b.user_id
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY 1
    ),
    o AS (
      SELECT CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.u ELSE e.v END AS s,
             CASE WHEN (da.d, e.u) < (db.d, e.v) THEN e.v ELSE e.u END AS t
      FROM e JOIN deg da ON e.u = da.node JOIN deg db ON e.v = db.node
    ),
    tri AS (
      SELECT count(*) AS n_tri
      FROM o p1 JOIN o p2 ON p1.t = p2.s
      JOIN o p3 ON p3.s = p1.s AND p3.t = p2.t
    ),
    wed AS (SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges FROM deg)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           CAST(tri.n_tri AS BIGINT) AS n_triangles,
           wed.wedges,
           3.0 * tri.n_tri / wed.wedges AS clustering
    FROM tri CROSS JOIN wed
    """,
    category="analytics",
)
def q120(spark: SparkSession, sf: str) -> DataFrame:
    du = (
        t(spark, sf, "events")
        .select("event_type", F.date_trunc("hour", "ts").alias("grp"), "user_id")
        .distinct()
    )
    a, b = du.alias("a"), du.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .transform(tracked_persist)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = F.struct(F.col("du"), F.col("u")) < F.struct(F.col("dv"), F.col("v"))
    o = (
        e.join(da, "u")
        .join(db, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .transform(tracked_persist)
    )
    p1, p2, p3 = o.alias("p1"), o.alias("p2"), o.alias("p3")
    tri = (
        p1.join(p2, F.col("p1.t") == F.col("p2.s"))
        .join(
            p3,
            (F.col("p3.s") == F.col("p1.s")) & (F.col("p3.t") == F.col("p2.t")),
        )
        .agg(F.count("*").alias("n_tri"))
    )
    wed = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).alias("wedges")
    )
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    return (
        tri.crossJoin(wed)
        .crossJoin(n_nodes)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_tri").cast("long").alias("n_triangles"),
            "wedges",
            (F.lit(3.0) * F.col("n_tri") / F.col("wedges")).alias("clustering"),
        )
    )


# --------------------------------------------------------------------------
# q121 — PageRank over the q120 co-engagement graph (operators/graph.py,
# damping 0.85, 10 rounds), certified the q114/q107 way: an iterative
# float fixpoint has no order-independent SQL twin (per-node sums of
# doubles are reduction-order-dependent), so the query emits the
# INVARIANTS a correct PageRank must satisfy — node coverage (exact,
# oracle-recomputable) and conservation of rank mass (sum = 1 within
# 1e-9, TRUE pinned by the oracle) — plus bounds on the extreme ranks.
# The node-rank vector itself is exercised to 1e-9 against a dense
# power iteration in tests/test_operators.py.
# --------------------------------------------------------------------------


@query(
    "q121_pagerank_invariants",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts) AS grp, user_id FROM events
    ),
    e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM du a JOIN du b
        ON a.event_type = b.event_type AND a.grp = b.grp AND a.user_id < b.user_id
    ),
    nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e)
    SELECT count(*) AS n_nodes, TRUE AS mass_ok, TRUE AS ranks_positive
    FROM nodes
    """,
    category="analytics",
)
def q121(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import pagerank

    du = (
        t(spark, sf, "events")
        .select("event_type", F.date_trunc("hour", "ts").alias("grp"), "user_id")
        .distinct()
    )
    a, b = du.alias("a"), du.alias("b")
    und = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    # undirected co-engagement -> symmetric directed edges
    edges = und.union(und.select(F.col("v").alias("u"), F.col("u").alias("v")))
    ranks = pagerank(edges, src="u", dst="v", max_iter=10)
    return ranks.agg(
        F.count("*").alias("n_nodes"),
        (F.abs(F.sum("rank") - F.lit(1.0)) < F.lit(1e-9)).alias("mass_ok"),
        (F.min("rank") > F.lit(0.0)).alias("ranks_positive"),
    )


# --------------------------------------------------------------------------
# q126 — marketing attribution: credit each 'purchase' conversion to
# the user's preceding touch event (click/view/signup) under BOTH
# last-touch and first-touch models, then roll revenue up per channel.
# The per-user event timeline is one window pass (last/first IGNORE
# NULLS over rows-preceding frames — no self-join, no per-user
# collect), revenue is an exact fixed-point sum, and conversions with
# no prior touch land in an explicit '(none)' channel so the rollup
# partitions the conversion set exactly.
#
# 100 TB shape: a single shuffle on user_id for the window (the
# sessionize/funnel partitioning, reusable across the event-analytics
# family), then a channels-sized aggregation. Total order on the
# output via channel.
# --------------------------------------------------------------------------

_TOUCH = "('click', 'view', 'signup')"


@query(
    "q126_attribution",
    oracle=f"""
    WITH tl AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type IN {_TOUCH} THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
             first_value(CASE WHEN event_type IN {_TOUCH} THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch
      FROM events
    ),
    conv AS (SELECT * FROM tl WHERE event_type = 'purchase'),
    lastc AS (
      SELECT COALESCE(last_touch, '(none)') AS channel,
             count(*) AS last_touch_conversions,
             {sql_dsum('value', 'last_touch_revenue', 4)}
      FROM conv GROUP BY 1
    ),
    firstc AS (
      SELECT COALESCE(first_touch, '(none)') AS channel,
             count(*) AS first_touch_conversions
      FROM conv GROUP BY 1
    )
    SELECT l.channel, l.last_touch_conversions, l.last_touch_revenue,
           COALESCE(f.first_touch_conversions, 0) AS first_touch_conversions
    FROM lastc l LEFT JOIN firstc f USING (channel)
    ORDER BY channel
    """,
    category="analytics",
)
def q126(spark: SparkSession, sf: str) -> DataFrame:
    from .base import dsum

    touch = F.when(
        F.col("event_type").isin("click", "view", "signup"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tl = t(spark, sf, "events").select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    )
    conv = tl.filter(F.col("event_type") == "purchase").select(
        F.coalesce("last_touch", F.lit("(none)")).alias("channel"),
        F.coalesce("first_touch", F.lit("(none)")).alias("fchannel"),
        "value",
    )
    last = conv.groupBy("channel").agg(
        F.count("*").alias("last_touch_conversions"),
        dsum("value", "last_touch_revenue", 4, max_abs=1e3),
    )
    first = conv.groupBy(F.col("fchannel").alias("channel")).agg(
        F.count("*").alias("first_touch_conversions")
    )
    return (
        last.join(first, "channel", "left")
        .select(
            "channel",
            "last_touch_conversions",
            "last_touch_revenue",
            F.coalesce("first_touch_conversions", F.lit(0)).alias(
                "first_touch_conversions"
            ),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# q122 — frequent-items heavy hitters via distributed Misra-Gries
# (operators/heavyhitters.py), completing the mergeable-sketch family
# (q90 HLL distinct, q107 KLL quantiles, q108 theta set algebra) with
# the frequency member. Certified the q107/q114 way: the MG estimates
# depend on partitioning (any sketch's do), but its DETERMINISTIC
# guarantees do not — every token with true count strictly above
# N/(k+1) must be present in the merged summary, and every estimate
# must bracket the true count within the computed decrement budget.
# The query emits those checks per true-heavy token against exact
# counts; the oracle recomputes the exact counts and pins the checks
# TRUE. Membership threshold uses integer arithmetic (cnt * (k+1) > N)
# so both engines select the identical row set.
#
# 100 TB: the MG pass is map-side (one sequential scan per partition,
# Arrow-batched); the merge shuffles <= k+1 rows per partition. The
# exact-count side exists only to certify at oracle scale.
# --------------------------------------------------------------------------

_MG_K = 64


@query(
    "q122_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    toks AS (SELECT tok FROM tok WHERE tok <> ''),
    cnt AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY 1),
    tot AS (SELECT count(*) AS n FROM toks)
    SELECT tok, n_exact, TRUE AS found_ok, TRUE AS bound_ok
    FROM cnt CROSS JOIN tot
    WHERE n_exact * {_MG_K + 1} > n
    ORDER BY tok
    """,
    category="analytics",
)
def q122(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.heavyhitters import misra_gries

    toks = (
        t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("n_exact"))
    total = exact.agg(F.sum("n_exact").alias("n"))
    heavy = (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_exact") * (_MG_K + 1) > F.col("n"))
        .select("tok", "n_exact")
    )
    mg = misra_gries(toks, "tok", k=_MG_K).withColumnRenamed("item", "tok")
    return (
        heavy.join(F.broadcast(mg), "tok", "left")
        .select(
            "tok",
            "n_exact",
            F.col("est").isNotNull().alias("found_ok"),
            F.coalesce(
                (F.col("est") <= F.col("n_exact"))
                & (F.col("n_exact") <= F.col("est") + F.col("err_bound")),
                F.lit(False),
            ).alias("bound_ok"),
        )
        .orderBy("tok")
    )


# --------------------------------------------------------------------------
# q123 — SCD2 dimension maintenance (operators/merge.py), certified by
# its IVM property: the Spark side builds the customer-priority SCD2
# table INCREMENTALLY — full build over pre-cutoff changes, then
# scd2_merge of the post-cutoff delta (rebuilding only delta keys) —
# while the oracle runs the direct full build over all changes in SQL.
# A hash match proves merge(build(base), delta) == build(base ∪ delta)
# row-for-row, the exact obligation of an incrementally-maintained
# dimension (q119's partial-state argument, applied to interval
# semantics instead of sums). Change stream: each customer's order
# priority over time (orders: eff = o_orderdate, seq = o_orderkey),
# consecutive same-priority runs collapsed.
# --------------------------------------------------------------------------

_SCD2_CUTOFF = "TIMESTAMP '1998-01-01 00:00:00'"


@query(
    "q123_scd2_merge",
    oracle=f"""
    WITH ch AS (
      SELECT o_custkey AS key, o_orderpriority AS attr,
             o_orderdate AS eff, o_orderkey AS seq
      FROM orders
    ),
    runs AS (
      SELECT key, attr, eff, seq,
             lag(attr) OVER (PARTITION BY key ORDER BY eff, seq) AS prev
      FROM ch
    ),
    chg AS (SELECT key, attr, eff, seq FROM runs WHERE prev IS NULL OR attr <> prev)
    SELECT key AS c_custkey, attr AS priority, eff AS valid_from,
           lead(eff) OVER (PARTITION BY key ORDER BY eff, seq) AS valid_to,
           (lead(eff) OVER (PARTITION BY key ORDER BY eff, seq) IS NULL) AS is_current
    FROM chg
    ORDER BY c_custkey, valid_from, seq
    """,
    category="analytics",
)
def q123(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.merge import scd2_build, scd2_merge

    ch = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderpriority").alias("attr"),
        F.col("o_orderdate").alias("eff"),
        F.col("o_orderkey").alias("seq"),
    )
    base = scd2_build(ch.filter(F.col("eff") < F.expr(_SCD2_CUTOFF)))
    merged = scd2_merge(base, ch.filter(F.col("eff") >= F.expr(_SCD2_CUTOFF)))
    return merged.select(
        F.col("key").alias("c_custkey"),
        F.col("attr").alias("priority"),
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"),
        "seq",
    ).orderBy("c_custkey", "valid_from", "seq").drop("seq")


# --------------------------------------------------------------------------
# q124 — data-skipping scan over a clustered layout: the READ side of
# operators/layout.py. The events table is written once per sf as a
# ts-clustered parquet layout (cluster_write: range partition + sort,
# 8 files with near-disjoint ts ranges), then a one-week range query
# runs as a SKIPPING SCAN — parquet footer min/max decide which files
# can contain matching rows (prune_files), Spark reads ONLY those, and
# the residual predicate still applies exactly. The oracle computes the
# same aggregate over the ORIGINAL table — a hash match proves the
# pruning is lossless (a dropped file that contained matching rows
# would change the count) — and pins pruned_ok TRUE (the scan must
# actually have skipped files, or the test is vacuous).
#
# This is the lakehouse stats-index pattern (Delta/Iceberg data
# skipping) expressed Spark-native: at 100 TB the footer walk becomes
# a manifest table maintained at write time; the query-side contract —
# skip by [min,max] intersection, never skip without stats — is
# identical. Complements q22/q47's row-group pushdown (which needs the
# same clustering to bite) with FILE-level elimination that saves the
# open/footer cost pushdown still pays.
# --------------------------------------------------------------------------

_SKIP_LO = "2024-01-08 00:00:00"
_SKIP_HI = "2024-01-15 00:00:00"


@query(
    "q124_data_skipping",
    oracle=f"""
    SELECT count(*) AS n_events,
           {sql_dsum('value', 'total_value', 4)},
           TRUE AS pruned_ok
    FROM events
    WHERE ts >= TIMESTAMP '{_SKIP_LO}' AND ts < TIMESTAMP '{_SKIP_HI}'
    """,
    category="analytics",
)
def q124(spark: SparkSession, sf: str) -> DataFrame:
    import datetime
    import os

    from ..operators.layout import cluster_write, prune_files
    from .base import dsum

    layout = os.path.join(
        "/tmp", f"spark_graft_skip_{os.path.basename(sf.rstrip('/'))}"
    )
    if not os.path.exists(os.path.join(layout, "_SUCCESS")):
        # materialized pruning key: Spark's parquet writer emits NO
        # footer statistics for TIMESTAMP_NTZ columns, so the layout
        # carries the epoch-micros twin `_skip_us` (plain INT64 -> full
        # min/max stats) as the stats-index column — the same move
        # lakehouse tables make when the natural clustering key's type
        # defeats the stats machinery.
        ev = t(spark, sf, "events").withColumn(
            "_skip_us", F.expr("unix_micros(cast(ts AS TIMESTAMP))")
        )
        cluster_write(ev, layout, ["_skip_us"], num_files=8)
    lo = datetime.datetime.fromisoformat(_SKIP_LO)
    hi = datetime.datetime.fromisoformat(_SKIP_HI)
    utc = datetime.timezone.utc
    lo_us = int(lo.replace(tzinfo=utc).timestamp() * 1_000_000)
    hi_us = int(hi.replace(tzinfo=utc).timestamp() * 1_000_000)
    files, total = prune_files(layout, "_skip_us", lo_us, hi_us)
    scan = spark.read.parquet(*files) if files else t(spark, sf, "events").limit(0)
    return scan.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") < F.lit(hi))
    ).agg(
        F.count("*").alias("n_events"),
        dsum("value", "total_value", 4, max_abs=1e3),
        F.lit(len(files) < total).alias("pruned_ok"),
    )


# --------------------------------------------------------------------------
# q130 — multi-dimensional data skipping over a Z-ORDERED layout: the
# box-predicate companion to q124's linear clustering. The events table
# is written once per sf sorted by the Morton interleave of
# (user_id, minutes-since-epoch) — operators/layout.py zorder_column —
# so every file covers a small hypercube of the (user, time) space and
# its footer [min, max] stays narrow on BOTH dimensions. A
# user-range x time-range box query then prunes files on both columns
# at once (prune_files_multi); linear ts-clustering would prune only
# the time axis and read every file for a tight user slice. The oracle
# recomputes the aggregate over the original table (lossless-pruning
# proof, as in q124) and pins pruned_ok TRUE.
#
# The time dimension prunes on the same `_skip_us` epoch-micros stats
# twin as q124 (Spark writes no footer stats for TIMESTAMP_NTZ);
# user_id is a plain int64 with native stats. Z-value is a pure
# shift/and/or expression — codegen, no UDF, one range-exchange write.
# --------------------------------------------------------------------------

_ZO_U_LO, _ZO_U_HI = 30, 60
_ZO_T_LO = "2024-01-08 00:00:00"
_ZO_T_HI = "2024-01-22 00:00:00"


@query(
    "q130_zorder_skipping",
    oracle=f"""
    SELECT count(*) AS n_events,
           {sql_dsum('value', 'total_value', 4)},
           TRUE AS pruned_ok
    FROM events
    WHERE user_id >= {_ZO_U_LO} AND user_id < {_ZO_U_HI}
      AND ts >= TIMESTAMP '{_ZO_T_LO}' AND ts < TIMESTAMP '{_ZO_T_HI}'
    """,
    category="analytics",
)
def q130(spark: SparkSession, sf: str) -> DataFrame:
    import datetime
    import os

    from ..operators.layout import prune_files_multi, zorder_column
    from .base import dsum

    layout = os.path.join(
        "/tmp", f"spark_graft_zorder_{os.path.basename(sf.rstrip('/'))}"
    )
    if not os.path.exists(os.path.join(layout, "_SUCCESS")):
        ev = t(spark, sf, "events").withColumn(
            "_skip_us", F.expr("unix_micros(cast(ts AS TIMESTAMP))")
        )
        # minutes since a fixed epoch floor keeps the time dimension in
        # 16 bits over the table's span (one month ~ 43k minutes)
        t0_us = 1704067200000000  # 2024-01-01 00:00:00 UTC
        ev = ev.withColumn(
            "_zmin", ((F.col("_skip_us") - F.lit(t0_us)) / F.lit(60_000_000)).cast("bigint")
        ).withColumn("_z", zorder_column(["user_id", "_zmin"], bits=16))
        (
            ev.repartitionByRange(16, "_z")
            .sortWithinPartitions("_z")
            .drop("_z", "_zmin")
            .write.mode("overwrite")
            .parquet(layout)
        )
    utc = datetime.timezone.utc
    lo_us = int(
        datetime.datetime.fromisoformat(_ZO_T_LO).replace(tzinfo=utc).timestamp() * 1e6
    )
    hi_us = int(
        datetime.datetime.fromisoformat(_ZO_T_HI).replace(tzinfo=utc).timestamp() * 1e6
    )
    files, total = prune_files_multi(
        layout,
        [("user_id", _ZO_U_LO, _ZO_U_HI), ("_skip_us", lo_us, hi_us)],
    )
    scan = spark.read.parquet(*files) if files else t(spark, sf, "events").limit(0)
    lo_ts = datetime.datetime.fromisoformat(_ZO_T_LO)
    hi_ts = datetime.datetime.fromisoformat(_ZO_T_HI)
    return scan.filter(
        (F.col("user_id") >= _ZO_U_LO)
        & (F.col("user_id") < _ZO_U_HI)
        & (F.col("ts") >= F.lit(lo_ts))
        & (F.col("ts") < F.lit(hi_ts))
    ).agg(
        F.count("*").alias("n_events"),
        dsum("value", "total_value", 4, max_abs=1e3),
        F.lit(len(files) < total).alias("pruned_ok"),
    )


# --------------------------------------------------------------------------
# q154 — keyed table reconciliation (operators/diff.py table_diff):
# diff a deterministically perturbed second version of `orders`
# against the original and report row count + exact key sum per
# verdict. The perturbation (all modular, engine-portable):
#   removed   o_orderkey % 97 == 0 dropped from the new version
#   changed   surviving keys % 89 == 0 get o_totalprice + 1.0
#   added     keys % 83 == 0 re-inserted shifted by +10^9
# A key divisible by both 97 and 89 is removed (the delete wins);
# the re-inserted copies keep their price, so they are pure adds.
# This is the migration-validation primitive the reference's
# at-least-once append ingest (README.md:139 re-run + MSCK) cannot
# express: proof that old and new lakes agree row-by-row.
#
# 100 TB shape: one full-outer shuffle on the key (both sides
# co-partition); exact mode here because the oracle compares values —
# the wide-table production path is fingerprint=True, which ships an
# 8-byte xxhash64 per row instead of the payload (see operators/
# diff.py; one-sided ~2^-64 miss bound). The summary is a 4-row
# map-side-combinable rollup.
# --------------------------------------------------------------------------


@query(
    "q154_table_diff",
    oracle="""
    WITH newv AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 1000000000, o_totalprice
      FROM orders WHERE o_orderkey % 83 = 0
    ),
    oldv AS (SELECT o_orderkey, o_totalprice FROM orders),
    j AS (
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
                       THEN 'unchanged'
                  ELSE 'changed' END AS change_type
      FROM oldv o FULL JOIN newv n ON o.o_orderkey = n.o_orderkey
    )
    SELECT change_type, COUNT(*) AS n, CAST(SUM(k) AS BIGINT) AS key_sum
    FROM j GROUP BY change_type ORDER BY change_type
    """,
    category="analytics",
)
def q154(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.diff import diff_summary, table_diff

    old = t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    key = F.col("o_orderkey")
    new = (
        old.filter(key % 97 != 0)
        .withColumn(
            "o_totalprice",
            F.when(key % 89 == 0, F.col("o_totalprice") + F.lit(1.0)).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.filter(key % 83 == 0).withColumn(
                "o_orderkey", key + F.lit(1000000000)
            )
        )
    )
    d = table_diff(old, new, keys=["o_orderkey"], compare=["o_totalprice"])
    return diff_summary(d, keys=["o_orderkey"])


# --------------------------------------------------------------------------
# q158 — A/B experiment readout: deterministic 50/50 user assignment
# (portable salted hash — the q71 split machinery, so assignment is
# stable across runs/engines/cluster sizes), per-arm user conversion
# (>= 1 high-value purchase event), and the pooled two-proportion z
# statistic  z = (p1 - p0) / sqrt(p(1-p) * (1/n0 + 1/n1))
# with |z| > 1.96 flagged significant; degenerate designs (an empty
# arm, pooled conversion 0 or 1) yield NULL z on both sides via the
# same CASE guard instead of a divide-by-zero. Counts are exact integers; the
# floating part is +,-,*,/ and ONE sqrt — IEEE 754 requires sqrt to
# be correctly rounded, so the identical evaluation tree yields the
# identical double on both engines (the same portability argument as
# the corpus's division-only rationals, extended by the one libm-free
# transcendental).
#
# 100 TB shape: per-user conversion is one map-side-combinable
# groupBy(user); the arm rollup collapses to 2 rows via conditional
# aggregates in the same pass (no pivot shuffle); the z arithmetic is
# a 1-row projection. Nothing downstream of the first aggregation
# exceeds the user population.
# --------------------------------------------------------------------------


@query(
    "q158_ab_test",
    oracle="""
    WITH conv AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 250.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST('0x' || substr(md5('ab-' || CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 2147483647 % 2 AS arm
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
      FROM conv
    )
    , zc AS (
      SELECT n0, c0, n1, c1,
             CASE WHEN n0 > 0 AND n1 > 0 AND c0 + c1 > 0 AND c0 + c1 < n0 + n1
                  THEN (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                        - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                       / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                              * (1.0 - CAST(c0 + c1 AS DOUBLE)
                                       / CAST(n0 + n1 AS DOUBLE))
                              * (1.0 / CAST(n0 AS DOUBLE)
                                 + 1.0 / CAST(n1 AS DOUBLE)))
                  ELSE NULL END AS z
      FROM arms
    )
    SELECT n0, c0, n1, c1,
           CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
           CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
           z, abs(z) > 1.96 AS significant
    FROM zc
    """,
    category="analytics",
)
def q158(spark: SparkSession, sf: str) -> DataFrame:
    arm = F.expr(h31("'ab-' || CAST(user_id AS STRING)")) % 2
    conv = (
        t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 250.0)
                ).cast("bigint")
            ).alias("c")
        )
        .withColumn("arm", arm)
    )
    arms = conv.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0)).alias("c1"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    p0 = d(F.col("c0")) / d(F.col("n0"))
    p1 = d(F.col("c1")) / d(F.col("n1"))
    pp = d(F.col("c0") + F.col("c1")) / d(F.col("n0") + F.col("n1"))
    ok = (
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("c0") + F.col("c1") > 0)
        & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1"))
    )
    z = F.when(
        ok,
        (p1 - p0)
        / F.sqrt(
            pp * (F.lit(1.0) - pp)
            * (F.lit(1.0) / d(F.col("n0")) + F.lit(1.0) / d(F.col("n1")))
        ),
    )
    return arms.select(
        "n0", "c0", "n1", "c1",
        p0.alias("p0"), p1.alias("p1"), z.alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


# --------------------------------------------------------------------------
# q159 — point-in-time-correct enrichment (the feature-store join):
# attach to every order the customer's priority tier AS OF the order
# date, from the SCD2 dimension q123 maintains. PIT correctness is
# what prevents training-serving skew — joining "current" attributes
# onto historical facts leaks the future into training data; the only
# correct join is against the version whose validity interval covers
# the fact's timestamp. Same-day version churn is resolved first
# (per (key, valid_from) the highest-seq version survives — the only
# one with a non-empty interval), so the match is unique and the
# as-of pick equals the half-open interval predicate the oracle runs.
#
# 100 TB shape: executed as the as-of union trick (operators/
# asof.py) — ONE shuffle on the customer key, running last() carries
# the version forward, no row multiplication and no range-join
# nested loop (Presto/Athena would BNLJ the BETWEEN predicate); the
# dim payload carried through the union is just (attr, valid_from).
# The rollup afterwards is map-side combinable.
# --------------------------------------------------------------------------


@query(
    "q159_pit_join",
    oracle=f"""
    WITH ch AS (
      SELECT o_custkey AS key, o_orderpriority AS attr,
             o_orderdate AS eff, o_orderkey AS seq
      FROM orders
    ),
    runs AS (
      SELECT key, attr, eff, seq,
             lag(attr) OVER (PARTITION BY key ORDER BY eff, seq) AS prev
      FROM ch
    ),
    chg AS (SELECT key, attr, eff, seq FROM runs
            WHERE prev IS NULL OR attr <> prev),
    dim AS (
      SELECT key, attr, eff AS valid_from,
             lead(eff) OVER (PARTITION BY key ORDER BY eff, seq) AS valid_to,
             row_number() OVER (PARTITION BY key, eff ORDER BY seq DESC) AS rn
      FROM chg
    ),
    d AS (SELECT key, attr, valid_from, valid_to FROM dim WHERE rn = 1),
    pit AS (
      SELECT o.o_totalprice, d.attr
      FROM orders o JOIN d ON o.o_custkey = d.key
        AND d.valid_from <= o.o_orderdate
        AND (d.valid_to IS NULL OR o.o_orderdate < d.valid_to)
    )
    SELECT attr AS priority, COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice', 'total_price')}
    FROM pit GROUP BY attr ORDER BY attr
    """,
    category="analytics",
)
def q159(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.asof import asof_join
    from ..operators.merge import scd2_build
    from .base import dsum

    ch = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderpriority").alias("attr"),
        F.col("o_orderdate").alias("eff"),
        F.col("o_orderkey").alias("seq"),
    )
    wv = Window.partitionBy("key", "valid_from").orderBy(F.desc("seq"))
    dim = (
        scd2_build(ch)
        .withColumn("_rn", F.row_number().over(wv))
        .filter(F.col("_rn") == 1)
        .select("key", "attr", "valid_from")
    )
    facts = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("key"), "o_orderdate", "o_totalprice"
    )
    pit = asof_join(
        facts, dim, on="key",
        left_ts="o_orderdate", right_ts="valid_from", how="inner",
    )
    return (
        pit.groupBy(F.col("attr").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            dsum("o_totalprice", "total_price"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# q161 — DYNAMIC partition pruning: the runtime companion to q124's
# static file skipping. The events table is written once per sf as a
# hive-partitioned layout (month=YYYY-MM directories) next to a months
# dimension carrying the quarter; the query joins fact to dim with a
# filter on QUARTER — a predicate the fact scan cannot see statically
# (quarter exists only in the dim file). Catalyst's dynamic partition
# pruning turns the broadcast of the filtered dim into a runtime IN
# filter on the fact's partition column, so only the matching month
# directories are read. dpp_ok reports whether the executed plan
# actually contains the dynamicpruning subquery on the fact scan (the
# mechanism, not just the result); the oracle recomputes the same
# aggregate from the raw table with the dim derivation inlined, so the
# hash match proves pruning is lossless.
#
# 100 TB shape: THE star-schema scale feature — a date/tenant dim
# filter prunes the fact scan to the matching partitions at runtime
# without the query author repeating the predicate on the fact; scan
# cost tracks the selected partitions, not the table. Partition count
# is calendar-bounded (months), so the layout write is one range
# shuffle.
# --------------------------------------------------------------------------


@query(
    "q161_dynamic_partition_pruning",
    oracle=f"""
    WITH f AS (
      SELECT event_type, value, strftime(ts, '%Y-%m') AS month FROM events
    ),
    d AS (
      SELECT DISTINCT month,
             substr(month, 1, 4) || '-Q'
               || CAST((CAST(substr(month, 6, 2) AS INT) + 2) // 3 AS VARCHAR)
               AS quarter
      FROM f
    )
    SELECT f.event_type, COUNT(*) AS n_events,
           {sql_dsum('f.value', 'total_value', 4)},
           TRUE AS dpp_ok
    FROM f JOIN d ON f.month = d.month
    WHERE d.quarter = '2024-Q1'
    GROUP BY f.event_type ORDER BY f.event_type
    """,
    category="analytics",
)
def q161(spark: SparkSession, sf: str) -> DataFrame:
    import os

    from .base import dsum

    layout = os.path.join(
        "/tmp", f"spark_graft_dpp_{os.path.basename(sf.rstrip('/'))}"
    )
    fact_dir, dim_dir = os.path.join(layout, "fact"), os.path.join(layout, "dim")
    if not os.path.exists(os.path.join(fact_dir, "_SUCCESS")):
        ev = t(spark, sf, "events").withColumn(
            "month", F.date_format("ts", "yyyy-MM")
        )
        ev.write.mode("overwrite").partitionBy("month").parquet(fact_dir)
        months = ev.select("month").distinct().select(
            "month",
            F.concat(
                F.substring("month", 1, 4),
                F.lit("-Q"),
                (
                    (F.substring("month", 6, 2).cast("int") + 2)
                    .cast("int") / 3
                ).cast("int").cast("string"),
            ).alias("quarter"),
        )
        months.coalesce(1).write.mode("overwrite").parquet(dim_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("quarter") == "2024-Q1")
    joined = fact.join(F.broadcast(dim), "month")
    agg = joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        dsum("value", "total_value", 4, max_abs=1e3),
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    dpp = "dynamicpruning" in plan.lower()
    return agg.withColumn("dpp_ok", F.lit(dpp)).orderBy("event_type")


# --------------------------------------------------------------------------
# q186 — exact Spearman rank correlation (round 5): do two document
# metrics order the corpus the same way? The curation use is metric
# redundancy — if a cheap signal (n_chars) rank-agrees with an
# expensive one (token count), the expensive pass can be dropped. With
# a tie-broken TOTAL order (doc_id as the tie key), Spearman is the
# exact integer formula 1 - 6*sum(d^2) / (n(n^2-1)): ranks come from
# operators/rank.global_positions (the two-phase parallel numbering —
# no Exchange SinglePartition), d^2 accumulates in DECIMAL(38,0)
# (overflow-safe: sum(d^2) <= n^3 overflows BIGINT past ~2M rows), and
# the single final division is the only float op — both engines cast
# the identical decimals to double (correctly rounded) and divide once,
# so the result hash-matches bit-exactly.
# --------------------------------------------------------------------------


@query(
    "q186_spearman_exact",
    oracle="""
    WITH ra AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS r1
      FROM documents
    ),
    rb AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY len(string_split(text, ' ')), doc_id) AS r2
      FROM documents
    ),
    d AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM((CAST(r1 AS HUGEINT) - r2) * (CAST(r1 AS HUGEINT) - r2)) AS sd2
      FROM ra JOIN rb USING (doc_id)
    )
    SELECT n,
           CAST(sd2 AS BIGINT) AS sum_d2,
           1 - CAST(6 * sd2 AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1) AS DOUBLE)
             AS spearman
    FROM d
    """,
    category="analytics",
)
def q186(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rank import global_positions

    docs = t(spark, sf, "documents").select(
        "doc_id", "n_chars", F.size(F.split("text", " ")).alias("n_tokens")
    )
    ra = global_positions(docs, ["n_chars", "doc_id"], position_col="r1").select(
        "doc_id", "r1"
    )
    rb = global_positions(docs, ["n_tokens", "doc_id"], position_col="r2").select(
        "doc_id", "r2"
    )
    d2 = (
        ra.join(rb, "doc_id")
        .select(((F.col("r1") - F.col("r2")).cast("decimal(19,0)")).alias("d"))
        .select((F.col("d") * F.col("d")).alias("d2"))
    )
    agg = d2.agg(
        F.count("*").alias("n"), F.sum("d2").cast("decimal(38,0)").alias("sd2")
    )
    n_dec = F.col("n").cast("decimal(38,0)")
    denom = (n_dec * (n_dec * F.col("n") - 1)).cast("double")
    return agg.select(
        "n",
        F.col("sd2").cast("bigint").alias("sum_d2"),
        (F.lit(1) - (F.col("sd2") * 6).cast("double") / denom).alias("spearman"),
    )


# --------------------------------------------------------------------------
# q222 — sequence-completeness audit (round 7): the DICOM
# series-completeness question ("did every InstanceNumber of this
# series make it into the lake?") over the star schema's only
# per-group sequence, lineitem.l_linenumber. The reference's ingest
# can drop members of a series silently (a failed object lands in the
# DLQ, /root/reference/README.md:116 — the rest of the series still
# ingests), so the lake-side audit is: WITHIN each order, after the
# ingest-window filter, is the surviving linenumber set exactly
# 1..n?  Verdicts: 'duplicated' (a sequence number twice — CDC replay),
# 'offset_start' (1 missing — head of the series lost), 'gapped'
# (holes inside the span), 'complete'. The filter is what makes the
# audit non-trivial: a partially-shipped order IS the
# partially-ingested series.
#
# 100 TB shape: one map-side-prunable scan filter, ONE keyed
# aggregate on the group key (count/distinct/min/max partials), then
# a |verdicts|-row rollup. Nothing after the first aggregate scales
# with data; the distinct runs inside the same grouped aggregate.
# --------------------------------------------------------------------------


sql_query(
    "q222_sequence_completeness",
    """
    WITH g AS (
      SELECT l_orderkey,
             COUNT(*) AS n,
             COUNT(DISTINCT l_linenumber) AS d,
             MIN(l_linenumber) AS mn,
             MAX(l_linenumber) AS mx
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_orderkey
    ),
    v AS (
      SELECT l_orderkey, n, d, mn, mx,
             mx - mn + 1 - d AS missing_in_span,
             n - d AS dup_rows,
             CASE WHEN d < n THEN 'duplicated'
                  WHEN mn > 1 THEN 'offset_start'
                  WHEN mx > n THEN 'gapped'
                  ELSE 'complete' END AS verdict
      FROM g
    )
    SELECT verdict,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(SUM(missing_in_span) AS BIGINT) AS total_missing_in_span,
           CAST(SUM(dup_rows) AS BIGINT) AS total_dup_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum
    FROM v GROUP BY verdict ORDER BY verdict
    """,
    category="analytics",
    doc="Series-completeness audit: is each group's sequence exactly 1..n post-filter",
)


# --------------------------------------------------------------------------
# q235 — degree assortativity (Newman 2002) of the q120 user
# co-engagement graph: do high-degree users co-occur with high-degree
# users (hub-hub, r > 0) or with leaves (hub-spoke, r < 0)? The
# diagnostic that tells a sampler whether user-level subsampling
# (q155) will shear hubs apart. The Pearson correlation over edge
# endpoint degrees reduces to FOUR exact integer sums over the edge
# list — M, sum(du*dv), sum(du+dv), sum(du^2+dv^2) — via
# r = (4*M*Sjk - Sj^2) / (2*M*Sj2 - Sj^2); both sides compute that
# final tree in DOUBLE from the identical exact integers (products
# exceed the 2^53 window at scale, but correctly-rounded identical
# ops on identical inputs stay bit-equal). Regular graph (den 0) ->
# NULL.
#
# 100 TB shape: q120's bucket-confined self-join builds the edges; the
# degree join is two keyed shuffles of 16-byte rows; the statistics
# are ONE aggregate with 4 long partials.
# --------------------------------------------------------------------------


sql_query(
    "q235_assortativity",
    """
    WITH du AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts) AS grp, user_id FROM events
    ),
    e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM du a JOIN du b
        ON a.event_type = b.event_type AND a.grp = b.grp AND a.user_id < b.user_id
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(da.d * db.d) AS BIGINT) AS s_jk,
             CAST(SUM(da.d + db.d) AS BIGINT) AS s_j,
             CAST(SUM(da.d * da.d + db.d * db.d) AS BIGINT) AS s_j2
      FROM e JOIN deg da ON e.u = da.node JOIN deg db ON e.v = db.node
    )
    SELECT m AS n_edges, s_jk AS sum_jk, s_j AS sum_j, s_j2 AS sum_j2,
           CASE WHEN 2.0 * CAST(m AS DOUBLE) * CAST(s_j2 AS DOUBLE)
                     - CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE) > 0
                THEN (4.0 * CAST(m AS DOUBLE) * CAST(s_jk AS DOUBLE)
                      - CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE))
                     / (2.0 * CAST(m AS DOUBLE) * CAST(s_j2 AS DOUBLE)
                        - CAST(s_j AS DOUBLE) * CAST(s_j AS DOUBLE))
                END AS assortativity
    FROM s
    """,
    category="analytics",
    doc="Newman degree assortativity of the co-engagement graph, 4 exact sums",
)


# --------------------------------------------------------------------------
# q269 — HITS hubs & authorities (Kleinberg, JACM 1999) over the
# customer->supplier purchase graph: the second classic link-analysis
# algorithm beside PageRank (q121 certifies that one with invariant
# booleans). Two unrolled mutual-reinforcement rounds from h0 = 1:
# a1(s) = indegree, h1(c) = sum of a1 over c's suppliers, a2(s) = sum
# of h1 over s's customers — every score an exact BIGINT (no
# normalization inside the loop; HITS rankings are scale-invariant, so
# the integer trajectory ranks identically to the normalized one and
# is bit-portable with zero float). The fixed round count makes the
# whole computation SQL-expressible, so the oracle replays both rounds
# value-for-value — the q259/q262 oracle-replay pattern. Top-10 hubs
# and top-10 authorities under total orders.
#
# 100 TB shape: one orders |x| lineitem equi-join -> distinct edge set,
# then each round is one edge-keyed join + one count/sum aggregate —
# the same two-shuffle round PageRank pays; scores ride the edge key.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q269_hits_bipartite",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    a1 AS (SELECT s, CAST(count(*) AS BIGINT) AS a FROM edges GROUP BY s),
    h1 AS (
      SELECT e.c, CAST(SUM(a1.a) AS BIGINT) AS h
      FROM edges e JOIN a1 ON a1.s = e.s GROUP BY e.c
    ),
    a2 AS (
      SELECT e.s, CAST(SUM(h1.h) AS BIGINT) AS a
      FROM edges e JOIN h1 ON h1.c = e.c GROUP BY e.s
    ),
    hubs AS (
      SELECT 'hub' AS side, c AS node_id, h AS score
      FROM h1 ORDER BY h DESC, c LIMIT 10
    ),
    auths AS (
      SELECT 'authority' AS side, s AS node_id, a AS score
      FROM a2 ORDER BY a DESC, s LIMIT 10
    )
    SELECT * FROM (SELECT * FROM hubs UNION ALL SELECT * FROM auths)
    ORDER BY side, score DESC, node_id
    """,
    category="events",
    doc="Kleinberg HITS, 2 exact-integer rounds over the customer-supplier graph; oracle replays both rounds",
)
def q269(spark: SparkSession, sf: str) -> DataFrame:
    o = t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("c")
    )
    l = t(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s")
    )
    edges = o.join(l, "ok").select("c", "s").distinct().transform(tracked_persist)
    a1 = edges.groupBy("s").agg(F.count("*").alias("a"))
    h1 = edges.join(a1, "s").groupBy("c").agg(F.sum("a").alias("h"))
    a2 = edges.join(h1, "c").groupBy("s").agg(F.sum("h").alias("a"))
    hubs = (
        h1.orderBy(F.col("h").desc(), "c")
        .limit(10)
        .select(F.lit("hub").alias("side"), F.col("c").alias("node_id"), F.col("h").alias("score"))
    )
    auths = (
        a2.orderBy(F.col("a").desc(), "s")
        .limit(10)
        .select(
            F.lit("authority").alias("side"),
            F.col("s").alias("node_id"),
            F.col("a").alias("score"),
        )
    )
    return hubs.unionByName(auths).orderBy("side", F.col("score").desc(), "node_id")
