"""Round-6 batch 4: behavioral-analytics family (q207-q210).

Product-analytics readouts over the event log that complement the
funnel (q87/q177), retention (q86), sessionization (q88/q100) and
change-point (q196/q200) families:

- q207 is the first-order Markov transition matrix between event types
  (per-user journeys ordered by time) — the navigation model behind
  next-step prediction and anomaly scoring; row-normalized
  probabilities in exact floored micros.
- q208 is marketing-touch attribution: every purchase credited to the
  last (and, separately, the first) preceding non-purchase touch of
  the same user — the two classic single-touch attribution models,
  computed with IGNORE NULLS window navigation instead of a
  self-join.
- q209 is the Kaplan-Meier survival estimator over user lifetimes
  (first event -> last event, right-censored when the user is still
  active in the final 3 days of the log). The survival curve is the
  one order-sensitive float product in the family, so both engines
  fold it over the same time-sorted array (the q182 pattern); risk
  sets and event counts are exact integers from value-domain counts.
- q210 is the Gini coefficient of per-document char mass within each
  source — the concentration readout mixing decisions consult next to
  q204's temperature weights (a source whose mass sits in a few huge
  documents contributes less diversity than its token share
  suggests). Computed exactly over value-domain counts with the
  tie-run arithmetic-series identity (never per-row ranks).

The reference delegates all analytics to Athena
(/root/reference/src/app.py:97-189). Corpus exactness conventions
(queries/base.py) as in quality.py/mixture.py: integer micros before
any reduction, ordered folds for the two genuinely order-sensitive
float reductions, no libm transcendentals.

Scale shapes at 100 TB are documented per query below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..eventlog import EventLog, _cents_sum, _hw_update
from ..operators.ann import _dlit
from ..operators.cachetrack import tracked_persist
from .base import query, sql_query, t

# --------------------------------------------------------------------------
# q207 — first-order Markov transition matrix between event types.
# Transitions are consecutive events of the same user ordered by
# (ts, event_id) — the unique tiebreak makes the sequence, and hence
# the counts, deterministic. Probabilities are row-normalized counts
# in floored micros.
#
# 100 TB shape: one user-keyed window (a single keyed exchange of
# (user, ts, type) rows — no payload), then a |types|^2-sized count
# aggregate (map-side partial) and a dimension-sized normalize. The
# same exchange the sessionize family (q88) already pays.
# --------------------------------------------------------------------------


@query(
    "q207_markov_transitions",
    oracle="""
    WITH s AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    c AS (
      SELECT from_type, to_type, count(*) AS n
      FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2
    ),
    r AS (SELECT from_type, sum(n) AS row_n FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, CAST(n AS BIGINT) AS n,
           CAST(floor(1000000.0 * (CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE)))
                AS BIGINT) AS p_micros
    FROM c JOIN r USING (from_type)
    ORDER BY from_type, to_type
    """,
    category="events",
    doc="per-user Markov transition matrix, row-normalized in micros",
)
def q207(spark: SparkSession, sf: str) -> DataFrame:
    return EventLog(t(spark, sf, "events")).transitions().orderBy("from_type", "to_type")


# --------------------------------------------------------------------------
# q208 — single-touch attribution: each purchase credited to the LAST
# preceding non-purchase event of the same user (last-touch) and to
# the FIRST one ever (first-touch); purchases with no preceding touch
# land in the '(none)' channel. IGNORE NULLS window navigation over a
# carried conditional column replaces the classic self-join.
#
# 100 TB shape: one user-keyed window exchange (same as q207), then
# two dimension-sized channel counts and a dimension full-outer join.
# No self-join, no range join — each purchase row already carries its
# attribution after the single window pass.
# --------------------------------------------------------------------------


@query(
    "q208_touch_attribution",
    oracle="""
    WITH s AS (
      SELECT event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_ch,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_ch
      FROM events
    ),
    p AS (
      SELECT COALESCE(last_ch, '(none)') AS lc,
             COALESCE(first_ch, '(none)') AS fc
      FROM s WHERE event_type = 'purchase'
    ),
    l AS (SELECT lc AS channel, count(*) AS last_touch FROM p GROUP BY 1),
    f AS (SELECT fc AS channel, count(*) AS first_touch FROM p GROUP BY 1)
    SELECT COALESCE(l.channel, f.channel) AS channel,
           CAST(COALESCE(last_touch, 0) AS BIGINT) AS last_touch_purchases,
           CAST(COALESCE(first_touch, 0) AS BIGINT) AS first_touch_purchases
    FROM l FULL OUTER JOIN f ON l.channel = f.channel
    ORDER BY channel
    """,
    category="events",
    doc="last/first-touch purchase attribution via IGNORE NULLS windows",
)
def q208(spark: SparkSession, sf: str) -> DataFrame:
    return EventLog(t(spark, sf, "events")).attribution(conversion="purchase").orderBy("channel")


# --------------------------------------------------------------------------
# q209 — Kaplan-Meier survival over user lifetimes. Lifetime = days
# from a user's first to last event; right-censored when the last
# event falls in the final 3 days of the log (the user may still be
# active). At each distinct lifetime t: risk set n_t = users with
# lifetime >= t, events d_t = uncensored lifetimes ending at t,
# S(t) = prod_{u <= t} (1 - d_u / n_u). The product is the one
# order-sensitive float reduction — both engines fold it over the
# same time-sorted array; each prefix product re-folds from the front
# (O(T^2) over the ~dimension-sized distinct-lifetime domain), so
# every output row is a deterministic left fold.
#
# 100 TB shape: one user-keyed aggregate (the only data-sized
# exchange), then value-domain counts, one cumulative window and the
# array fold over |distinct lifetimes| rows on one task.
# --------------------------------------------------------------------------

_KM_TERM = "(CAST(1 AS DOUBLE) - CAST(x.d AS DOUBLE) / CAST(x.risk AS DOUBLE))"


@query(
    "q209_kaplan_meier",
    oracle=f"""
    WITH mx AS (SELECT CAST(max(ts) AS DATE) AS mxd FROM events),
    u AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS fd, CAST(max(ts) AS DATE) AS ld
      FROM events GROUP BY 1
    ),
    lt AS (
      SELECT date_diff('day', fd, ld) AS dur,
             CASE WHEN ld > mxd - 3 THEN 0 ELSE 1 END AS ev
      FROM u CROSS JOIN mx
    ),
    vd AS (
      SELECT dur, CAST(sum(ev) AS BIGINT) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM lt GROUP BY 1
    ),
    cw AS (
      SELECT dur, d, c,
             CAST((SELECT sum(c) FROM vd) AS BIGINT)
               - COALESCE(SUM(c) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS risk
      FROM vd
    ),
    a AS (
      SELECT list(struct_pack(dur := dur, d := d, c := c, risk := risk)
                  ORDER BY dur) AS arr
      FROM cw
    )
    SELECT arr[k].dur AS dur,
           CAST(arr[k].risk AS BIGINT) AS n_risk,
           CAST(arr[k].d AS BIGINT) AS d_events,
           CAST(arr[k].c - arr[k].d AS BIGINT) AS c_censored,
           CAST(floor(1000000.0 * list_reduce(
             list_transform(list_slice(arr, 1, k), x -> {_KM_TERM}),
             (acc, v) -> acc * v)) AS BIGINT) AS surv_micros
    FROM a, UNNEST(generate_series(1, len(arr))) AS g(k)
    ORDER BY dur
    """,
    category="events",
    doc="Kaplan-Meier survival over user lifetimes, ordered-fold exact",
)
def q209(spark: SparkSession, sf: str) -> DataFrame:
    return EventLog(t(spark, sf, "events")).survival(censor_days=3).orderBy("dur")


# --------------------------------------------------------------------------
# q210 — Gini concentration of per-document char mass within each
# source. Exact over value-domain counts: for a tie run of c docs at
# value v after p smaller docs, the ascending ranks are p+1..p+c, so
# 2*sum(rank * v) over the run is v * (2*p*c + c*(c+1)) — an integer.
# G = (2*sum(i*x_i) - (n+1)*S) / (n*S), reported in floored micros.
#
# 100 TB shape: one (source, value)-keyed count aggregate (map-side
# partial; output is value-domain-sized per source), one per-source
# cumulative window over the domain, one dimension-sized final
# aggregate. Never a per-row rank. The bigint rank-sum A holds to
# ~1e8 docs/source at 500-char values; past that, swap the A/S sums to
# decimal(38,0) (both engines sum decimals exactly) — noted rather
# than paid, since the double division dominating G's error budget is
# unchanged either way.
# --------------------------------------------------------------------------

# s = 0 (a source whose every document has zero mass) would divide by
# 0.0, which Spark ANSI raises on even for doubles — Gini is undefined
# there, so NULL
_GINI = (
    "CASE WHEN s > 0 THEN "
    "CAST(floor(1000000.0 * (CAST(a - (n + 1) * s AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)))) AS BIGINT) "
    "ELSE CAST(NULL AS BIGINT) END"
)


sql_query(
    "q210_gini_concentration",
    f"""
    WITH vd AS (
      SELECT source, n_chars AS v, count(*) AS c
      FROM documents GROUP BY 1, 2
    ),
    cw AS (
      SELECT source, v, c,
             COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
      FROM vd
    ),
    g AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(v * c) AS BIGINT) AS s,
             CAST(sum(v * (2 * p * c + c * (c + 1))) AS BIGINT) AS a
      FROM cw GROUP BY 1
    )
    SELECT source, n AS n_docs, s AS total_chars, {_GINI} AS gini_micros
    FROM g ORDER BY source
    """,
    category="stats",
    doc="exact per-source Gini of document char mass via tie-run identity",
)


# --------------------------------------------------------------------------
# q212 — Holt double-exponential smoothing (additive level+trend) over
# each event type's daily value series, with the one-step-ahead SSE
# and a 7-day-ahead forecast. The smoothing recursion is inherently
# sequential, so it runs as an ordered fold over the day-sorted array
# (the q182 pattern, here with a struct accumulator): both engines
# seed the fold with the first day's observation and apply the
# IDENTICAL IEEE update tree per step, so every intermediate level/
# trend — and hence the output — is bit-equal. Daily observations are
# exact integer cents cast to double once.
#
# alpha = 0.2, beta = 0.1, emitted as integer-mantissa power-of-two
# literals (decimal literals are not parse-stable across engines).
#
# 100 TB shape: one (type, day)-keyed aggregate (map-side partial) is
# the only data-sized exchange; the fold runs over the calendar-sized
# series per type on one task. SSE accumulates squared cents — fine
# to ~1e18; past that, rescale the series before folding.
# --------------------------------------------------------------------------

_HW_CENTS = _cents_sum("value")


def _q212_oracle() -> str:
    # The natural DuckDB form — list_reduce with a struct accumulator —
    # is NOT usable: DuckDB 1.0.0 reuses the accumulator buffer from
    # the second application onward, so later struct_pack fields read
    # PARTIALLY UPDATED acc fields (probed: a (x, l, b, e) Holt fold
    # matches a scalar reference for k<=2 and diverges at k=3 by
    # exactly the value predicted by in-place field mutation; scalar
    # accumulators — q182/q204/q209 — are immune). The oracle therefore
    # runs the recursion as a recursive CTE over plain scalar columns,
    # one row per (event_type, step).
    a, b = _dlit(0.2, "pow"), _dlit(0.1, "pow")
    lnew, bnew, enew = _hw_update(
        a, b, "CAST(i.c AS DOUBLE)", "f.l", "f.b", "f.e"
    )
    return f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_HW_CENTS} AS c
      FROM events GROUP BY 1, 2
    ),
    idx AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ),
    nd AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
    fit AS (
      SELECT event_type, 1 AS k, CAST(c AS DOUBLE) AS l,
             CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS e
      FROM idx WHERE rn = 1
      UNION ALL
      SELECT f.event_type, f.k + 1, {lnew}, {bnew}, {enew}
      FROM fit f JOIN idx i
        ON i.event_type = f.event_type AND i.rn = f.k + 1
    )
    SELECT f.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
           CAST(floor(f.l) AS BIGINT) AS level_cents,
           CAST(floor(1000.0 * f.b) AS BIGINT) AS trend_milli,
           CAST(floor(f.l + CAST(7 AS DOUBLE) * f.b) AS BIGINT)
             AS forecast7_cents,
           CAST(floor(f.e) AS BIGINT) AS sse_cents2
    FROM fit f JOIN nd ON nd.event_type = f.event_type
    WHERE f.k = nd.n_days
    ORDER BY f.event_type
    """


@query(
    "q212_holt_trend",
    oracle=_q212_oracle(),
    category="events",
    doc="Holt level+trend smoothing per event type, ordered-fold exact",
)
def q212(spark: SparkSession, sf: str) -> DataFrame:
    return EventLog(t(spark, sf, "events")).holt_trend(alpha=0.2, beta=0.1, horizon=7).orderBy("event_type")


# --------------------------------------------------------------------------
# q213 — day-of-week seasonal index per event type: the mean daily
# value on each ISO weekday relative to the type's overall daily mean,
# in floored micros. Pure rational arithmetic via integer
# cross-multiplication — (s_dow / n_dow) / (s_all / n_all) =
# (s_dow * n_all) / (n_dow * s_all) — so no float reduction exists at
# all, only one exact double division per output row.
#
# 100 TB shape: one (type, day)-keyed aggregate (the only data-sized
# exchange, shared shape with q212), then dimension-sized rollups.
# --------------------------------------------------------------------------


@query(
    "q213_dow_seasonality",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_HW_CENTS} AS c
      FROM events GROUP BY 1, 2
    ),
    d AS (
      SELECT event_type, isodow(day) AS dow, count(*) AS n_dow,
             CAST(sum(c) AS BIGINT) AS s_dow
      FROM daily GROUP BY 1, 2
    ),
    o AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_all,
             CAST(sum(c) AS BIGINT) AS s_all
      FROM daily GROUP BY 1
    )
    SELECT d.event_type, CAST(dow AS BIGINT) AS dow,
           CAST(n_dow AS BIGINT) AS n_days,
           CASE WHEN s_all <> 0 THEN
             CAST(floor(1000000.0 * (CAST(s_dow * n_all AS DOUBLE)
                  / CAST(n_dow * s_all AS DOUBLE))) AS BIGINT)
           ELSE CAST(NULL AS BIGINT) END AS idx_micros
    FROM d JOIN o USING (event_type)
    ORDER BY event_type, dow
    """,
    category="events",
    doc="ISO-weekday seasonal index per event type, cross-multiplied exact",
)
def q213(spark: SparkSession, sf: str) -> DataFrame:
    return EventLog(t(spark, sf, "events")).seasonality().orderBy("event_type", "dow")


# --------------------------------------------------------------------------
# q238 — time-to-convert (round 7): exact order statistics of the
# first-view -> first-subsequent-purchase delay — the latency companion
# to q87's conversion COUNTS and q209's survival curve. Delays are
# exact integer microseconds; the median and p90 are true order
# statistics selected at rank ceil(n/2) / ceil(9n/10) from the parallel
# two-phase global numbering (operators/rank.py, the q97 machinery) —
# never a percentile sketch, never a single-partition sort. The rank
# frame carries 16-byte (delay, user) rows.
#
# 100 TB shape: one conditional min per user (map-side combinable),
# one purchase-side re-join keyed by user, one range exchange of
# 16-byte rows for the numbering, a 2-row rank selection.
# --------------------------------------------------------------------------


@query(
    "q238_time_to_convert",
    oracle="""
    WITH fv AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id,
             epoch_us(MIN(e.ts)) - epoch_us(fv.first_view) AS delay_us
      FROM events e JOIN fv ON e.user_id = fv.user_id
      WHERE e.event_type = 'purchase' AND fv.first_view IS NOT NULL
            AND e.ts > fv.first_view
      GROUP BY e.user_id, fv.first_view
    ),
    ranked AS (
      SELECT user_id, delay_us,
             row_number() OVER (ORDER BY delay_us, user_id) AS rk,
             COUNT(*) OVER () AS n
      FROM conv
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_converters,
           CAST(MIN(delay_us) AS BIGINT) AS min_delay_us,
           CAST(MAX(delay_us) AS BIGINT) AS max_delay_us,
           CAST(MAX(CASE WHEN rk = (n + 1) // 2 THEN delay_us END) AS BIGINT)
             AS median_delay_us,
           CAST(MAX(CASE WHEN rk = (9 * n + 9) // 10 THEN delay_us END) AS BIGINT)
             AS p90_delay_us
    FROM ranked
    """,
    category="behavior",
    doc="Exact median/p90 first-view to first-purchase latency by rank selection",
)
def q238(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rank import global_positions

    ev = t(spark, sf, "events")
    fv = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        )
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv.filter(F.col("first_view").isNotNull()), "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(
            (
                F.unix_micros(F.min("ts")) - F.unix_micros(F.col("first_view"))
            ).alias("delay_us")
        )
        .select("user_id", "delay_us")
    )
    ranked = global_positions(conv, ["delay_us", "user_id"], position_col="rk")
    nrow = conv.agg(
        F.count("*").alias("n"),
        F.min("delay_us").alias("min_delay_us"),
        F.max("delay_us").alias("max_delay_us"),
    )
    sel = ranked.crossJoin(F.broadcast(nrow)).filter(
        (F.col("rk") == F.expr("(n + 1) div 2"))
        | (F.col("rk") == F.expr("(9 * n + 9) div 10"))
    )
    return sel.agg(
        F.max("n").alias("n_converters"),
        F.max("min_delay_us").alias("min_delay_us"),
        F.max("max_delay_us").alias("max_delay_us"),
        F.max(
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("delay_us"))
        ).alias("median_delay_us"),
        F.max(
            F.when(F.col("rk") == F.expr("(9 * n + 9) div 10"), F.col("delay_us"))
        ).alias("p90_delay_us"),
    )


# --------------------------------------------------------------------------
# q239 — inter-arrival burstiness (Goh & Barabasi 2008) per event type:
# B = (sigma - mu) / (sigma + mu) over the consecutive-event gaps —
# -1 for a perfectly regular stream, 0 for Poisson, -> 1 for bursty.
# The capacity-planning diagnostic behind "can this stream be watermark-
# windowed with small state". Gaps are exact integer microseconds from
# ONE type-keyed lag window; gap^2 passes both 2^53 and 2^63 at real
# time spans, so the sum of squares runs in DECIMAL(38,0) from
# DECIMAL(19,0) gaps — exact on both engines (HUGEINT on the oracle
# side) — and only the final mu/sigma/B tree is double. Degenerate
# types (n < 2 gaps, zero total gap) yield NULL B.
# --------------------------------------------------------------------------


@query(
    "q239_burstiness",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id)) AS gap_us
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(gap_us) AS BIGINT) AS n,
             CAST(SUM(gap_us) AS BIGINT) AS sg,
             SUM(CAST(gap_us AS HUGEINT) * gap_us) AS sq
      FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sg,
             CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_us,
             CASE WHEN n >= 2
                  THEN sqrt((CAST(sq AS DOUBLE)
                             - (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                               / CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) - 1.0))
                  END AS sd_gap_us
      FROM s
    )
    SELECT event_type, n AS n_gaps, mean_gap_us, sd_gap_us,
           CASE WHEN sd_gap_us IS NOT NULL AND sd_gap_us + mean_gap_us > 0
                THEN (sd_gap_us - mean_gap_us) / (sd_gap_us + mean_gap_us)
                END AS burstiness
    FROM m ORDER BY event_type
    """,
    category="behavior",
    doc="Goh-Barabasi burstiness of inter-event gaps per type, exact moments",
)
def q239(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = t(spark, sf, "events").select(
        "event_type",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    )
    s = (
        g.filter(F.col("gap_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n"),
            F.sum("gap_us").alias("sg"),
            F.sum(
                F.col("gap_us").cast("decimal(19,0)")
                * F.col("gap_us").cast("decimal(19,0)")
            ).alias("sq"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("sg") / d("n")
    sd = F.when(
        F.col("n") >= 2,
        F.sqrt((d("sq") - (d("sg") * d("sg")) / d("n")) / (d("n") - F.lit(1.0))),
    )
    m = s.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        mean.alias("mean_gap_us"),
        sd.alias("sd_gap_us"),
    )
    b = F.when(
        F.col("sd_gap_us").isNotNull()
        & (F.col("sd_gap_us") + F.col("mean_gap_us") > 0),
        (F.col("sd_gap_us") - F.col("mean_gap_us"))
        / (F.col("sd_gap_us") + F.col("mean_gap_us")),
    )
    return m.select(
        "event_type", "n_gaps", "mean_gap_us", "sd_gap_us", b.alias("burstiness")
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q247 — RFM segmentation (recency / frequency / monetary), the classic
# customer-value grid marketing analytics cuts before any modeling:
# per customer, days since last order (vs the corpus's latest order
# date), order count, and lifetime spend in exact integer cents
# (per-order floor(price*100), then integer sum — no float
# accumulation); each metric quintiled 1..5 so that 5 = best (most
# recent / most frequent / highest spend), then one row per (r, f, m)
# cell with its population and spend mass.
#
# Quintiles are exact ntile(5) semantics over a TOTAL order (metric +
# custkey tie-break) — but computed WITHOUT the single-partition global
# window: positions come from the parallel numbering operator
# (operators/rank.global_positions, range partition + per-partition
# offsets) and the ntile bucket from its closed form
#   q = n div 5, r = n mod 5
#   tile(p) = (p-1) div (q+1) + 1                 if p <= r*(q+1)
#           = r + (p - r*(q+1) - 1) div q + 1     otherwise
# which reproduces ntile's big-buckets-first allocation exactly; the
# oracle uses plain ntile(5) and must hash-match. Customer-dimension
# scale: three numbered sorts over (metric, key) pairs + three
# equi-joins back on custkey.
#
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


def _q247_oracle() -> str:
    return """
    WITH maxd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
    base AS (
      SELECT o_custkey AS custkey,
             date_diff('day', MAX(CAST(o_orderdate AS DATE)), maxd.d) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM orders, maxd GROUP BY o_custkey, maxd.d
    ),
    scored AS (
      SELECT custkey, monetary_cents,
             CAST(ntile(5) OVER (ORDER BY recency_days DESC, custkey) AS BIGINT) AS r,
             CAST(ntile(5) OVER (ORDER BY frequency, custkey) AS BIGINT) AS f,
             CAST(ntile(5) OVER (ORDER BY monetary_cents, custkey) AS BIGINT) AS m
      FROM base
    )
    SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY r, f, m ORDER BY r, f, m
    """


def _exact_ntile(pos_col: str, n: int, k: int = 5) -> F.Column:
    """ntile(k) bucket for 1-based position column ``pos_col`` of ``n``
    total rows: first n%k buckets get n//k+1 rows (SQL-standard
    allocation). All-integer closed form: `div` keeps the arithmetic
    in int64 (the q250/q252 convention), exact for every position —
    floor-of-double division would only be exact while pos stays
    under 2^53."""
    q, r = divmod(n, k)
    big = r * (q + 1)
    pos = F.col(pos_col)
    small = (  # guard q=0 (n < k): all rows land in the big buckets
        F.lit(r) + F.expr(f"({pos_col} - {big} - 1) div {max(q, 1)}") + 1
    )
    return (
        F.when(pos <= F.lit(big), F.expr(f"({pos_col} - 1) div {q + 1}") + 1)
        .otherwise(small)
        .cast("long")
    )


@query("q247_rfm_segments", oracle=_q247_oracle(), category="behavior")
def q247(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rank import global_positions

    orders = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    maxd = orders.agg(F.max("d").alias("maxd"))
    base = (
        orders.crossJoin(F.broadcast(maxd))
        .groupBy("custkey")
        .agg(
            F.datediff(F.min("maxd"), F.max("d")).alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
        .transform(tracked_persist)
    )
    n = base.count()  # driver scalar: one int, pins the ntile closed form

    def score(order_cols, name):
        pos = global_positions(base, order_cols, position_col="_p")
        return pos.select("custkey", _exact_ntile("_p", n).alias(name))

    r = score([F.col("recency_days").desc(), F.col("custkey")], "r")
    f = score([F.col("frequency"), F.col("custkey")], "f")
    m = score([F.col("monetary_cents"), F.col("custkey")], "m")
    return (
        base.join(r, "custkey")
        .join(f, "custkey")
        .join(m, "custkey")
        .groupBy("r", "f", "m")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("monetary_cents").alias("segment_cents"),
        )
        .orderBy("r", "f", "m")
    )


# --------------------------------------------------------------------------
# q260 — association rules over per-user event-type baskets (Agrawal &
# Srikant, VLDB 1994): the market-basket operator on behavioral data —
# "users who error also purchase?" Each user's basket is their DISTINCT
# event-type set; for every ordered type pair (a -> b), support
# |users with both| / N, confidence |both| / |a|, and lift
# N * |both| / (|a| * |b|). With a 5-type domain the pair space is
# dimension-sized however large the corpus: everything after the
# per-user distinct is a self-join of a 5-row frame. All three
# readouts are exact integer ratios floored to micros. Lift's
# numerator carries a 1e6 micros factor on top of N * both, so plain
# BIGINT would overflow once N * both passes ~9.2e12 (~3M users with
# overlapping baskets) — it rides on DECIMAL(38,0)/HUGEINT instead
# (the q239/q257 pattern), as does the na * nb denominator; the
# floored quotient itself is <= 1e6 * N / max(na, nb), BIGINT-safe.
#
# 100 TB shape: one (user, type) distinct -> one type-count aggregate
# (5 rows) + one pair-count aggregate (25 rows); the rules table never
# leaves dimension scale. Reference delegates analytics to Athena
# (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q260_association_rules",
    oracle="""
    WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM b),
    tc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM b GROUP BY 1),
    pc AS (
      SELECT x.event_type AS antecedent, y.event_type AS consequent,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM b x JOIN b y
        ON x.user_id = y.user_id AND x.event_type <> y.event_type
      GROUP BY 1, 2
    )
    SELECT p.antecedent, p.consequent, p.n_both,
           CAST(1000000 * p.n_both // n.n_users AS BIGINT) AS support_micros,
           CAST(1000000 * p.n_both // ta.n_t AS BIGINT) AS confidence_micros,
           CAST(CAST(1000000 AS HUGEINT) * n.n_users * p.n_both
                // (CAST(ta.n_t AS HUGEINT) * tb.n_t) AS BIGINT)
             AS lift_micros
    FROM pc p
    JOIN tc ta ON ta.event_type = p.antecedent
    JOIN tc tb ON tb.event_type = p.consequent
    CROSS JOIN n
    ORDER BY antecedent, consequent
    """,
    category="behavior",
    doc="per-user event-type baskets -> support/confidence/lift for every type pair, exact integer micros",
)
def q260(spark: SparkSession, sf: str) -> DataFrame:
    b = t(spark, sf, "events").select("user_id", "event_type").distinct()
    n = b.agg(F.countDistinct("user_id").alias("n_users"))
    tc = b.groupBy("event_type").agg(F.count("*").alias("n_t"))
    x, y = b.alias("x"), b.alias("y")
    pc = (
        x.join(
            y,
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") != F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("antecedent"),
            F.col("y.event_type").alias("consequent"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    ta = tc.select(F.col("event_type").alias("antecedent"), F.col("n_t").alias("na"))
    tb = tc.select(F.col("event_type").alias("consequent"), F.col("n_t").alias("nb"))
    return (
        pc.join(F.broadcast(ta), "antecedent")
        .join(F.broadcast(tb), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.expr("1000000 * n_both div n_users").alias("support_micros"),
            F.expr("1000000 * n_both div na").alias("confidence_micros"),
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * n_users * n_both"
                " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("lift_micros"),
        )
        .orderBy("antecedent", "consequent")
    )


# --------------------------------------------------------------------------
# q261 — McNemar's paired test (McNemar, Psychometrika 1947): did
# purchasing behavior CHANGE between the first and second half of the
# observation window, on the SAME users? The unpaired tests (q158 A/B,
# q258 Mann-Whitney) compare different populations; McNemar conditions
# on the discordant pairs — users who purchased in exactly one half —
# and tests b vs c. Statistic with Edwards' continuity correction:
# (|b - c| - 1)^2 / (b + c), pure integer arithmetic until one double
# division floored to micros. The half-window split is the midpoint of
# the observed [min_ts, max_ts] — computed as an epoch-micros integer
# average, so both engines cut the timeline at the identical
# microsecond.
#
# 100 TB shape: one min/max scalar, one per-user 2-flag aggregate, one
# 4-cell rollup. Reference delegates analytics to Athena
# (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q261_mcnemar_paired",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS cut_us FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                       AND epoch_us(ts) < bounds.cut_us THEN 1 ELSE 0 END)
                  AS BIGINT) AS h1,
             CAST(MAX(CASE WHEN event_type = 'purchase'
                       AND epoch_us(ts) >= bounds.cut_us THEN 1 ELSE 0 END)
                  AS BIGINT) AS h2
      FROM events CROSS JOIN bounds GROUP BY user_id, bounds.cut_us
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN h1 = 0 AND h2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM per_user
    )
    SELECT a, b, c, d,
           CASE WHEN b + c > 0 THEN CAST(floor(1000000.0 *
             (CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
              / CAST(b + c AS DOUBLE))) AS BIGINT) END AS chi2_micros
    FROM cells
    """,
    category="behavior",
    doc="paired first-half vs second-half purchase change: discordant cells + continuity-corrected chi-square",
)
def q261(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    # integer `div`, not float /2: exact at any epoch (a double round
    # trip is exact only while the micros sum stays under 2^53)
    bounds = ev.agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("_mn"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("_mx"),
    ).select(F.expr("(_mn + _mx) div 2").alias("cut_us"))
    pu = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros(F.col("ts").cast("timestamp")) < F.col("cut_us"))
                ).cast("bigint")
            ).alias("h1"),
            F.max(
                (
                    (F.col("event_type") == "purchase")
                    & (F.unix_micros(F.col("ts").cast("timestamp")) >= F.col("cut_us"))
                ).cast("bigint")
            ).alias("h2"),
        )
    )
    cells = pu.agg(
        F.sum(((F.col("h1") == 1) & (F.col("h2") == 1)).cast("bigint")).alias("a"),
        F.sum(((F.col("h1") == 1) & (F.col("h2") == 0)).cast("bigint")).alias("b"),
        F.sum(((F.col("h1") == 0) & (F.col("h2") == 1)).cast("bigint")).alias("c"),
        F.sum(((F.col("h1") == 0) & (F.col("h2") == 0)).cast("bigint")).alias("d"),
    )
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        F.when(
            F.col("b") + F.col("c") > 0,
            F.floor(
                F.lit(1000000.0)
                * (
                    (
                        (F.abs(F.col("b") - F.col("c")) - 1)
                        * (F.abs(F.col("b") - F.col("c")) - 1)
                    ).cast("double")
                    / (F.col("b") + F.col("c")).cast("double")
                )
            ).cast("long"),
        ).alias("chi2_micros"),
    )


# --------------------------------------------------------------------------
# q270 — Cochran-Armitage trend test (Cochran 1954, Armitage 1955):
# does purchase propensity rise MONOTONICALLY with engagement? The
# 2xK test the pairwise machinery (q158 two-sample, q268 k-sample
# omnibus) cannot express: it weighs the K ordered exposure levels
# (click-count buckets 0 / 1 / 2 / 3+) with scores s_i = 0..3 and
# tests the linear component. Exposure buckets are click-count div 5
# capped at 3 (0-4 / 5-9 / 10-14 / 15+ clicks — matched to the event
# log's per-user density); the response is a high-value purchase
# (value > 150). A degenerate table (R = 0, R = N, or zero score
# variance) yields NULL, mirrored in both engines, instead of a
# divide-by-zero. z^2 = N (N T1 - R T2)^2 /
# (R (N-R) (N T3 - T2^2)) with T1 = sum s_i r_i, T2 = sum s_i n_i,
# T3 = sum s_i^2 n_i — every term an exact BIGINT from one per-user
# aggregate + a 4-row rollup (the squared numerator rides
# DECIMAL(38,0)/HUGEINT: (N T1 - R T2)^2 passes 2^63 at ~10M users);
# one double division floors to micros. The trend direction is the
# SIGN of N T1 - R T2 — exact, no float.
#
# 100 TB shape: one per-user 2-column aggregate, a 4-row grid, a
# 1-row readout. Reference delegates analytics to Athena
# (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q270_cochran_armitage",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             LEAST(CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                        AS BIGINT) // 5, 3) AS s,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS BIGINT) AS conv
      FROM events GROUP BY user_id
    ),
    lv AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS n_i, CAST(SUM(conv) AS BIGINT) AS r_i
      FROM per_user GROUP BY s
    ),
    tot AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n, CAST(SUM(r_i) AS BIGINT) AS r,
             CAST(SUM(s * r_i) AS BIGINT) AS t1,
             CAST(SUM(s * n_i) AS BIGINT) AS t2,
             CAST(SUM(s * s * n_i) AS BIGINT) AS t3
      FROM lv
    )
    SELECT n, r, t1, t2, t3,
           CASE WHEN CAST(n AS HUGEINT) * t1 - CAST(r AS HUGEINT) * t2 > 0 THEN 1
                WHEN CAST(n AS HUGEINT) * t1 - CAST(r AS HUGEINT) * t2 < 0 THEN -1
                ELSE 0 END AS trend_sign,
           CASE WHEN CAST(r AS HUGEINT) * (n - r)
                     * (CAST(n AS HUGEINT) * t3 - CAST(t2 AS HUGEINT) * t2) > 0
           THEN CAST(floor(1000000.0 * (
             CAST(CAST(n AS HUGEINT)
                  * (CAST(n AS HUGEINT) * t1 - CAST(r AS HUGEINT) * t2)
                  * (CAST(n AS HUGEINT) * t1 - CAST(r AS HUGEINT) * t2) AS DOUBLE)
             / CAST(CAST(r AS HUGEINT) * (n - r)
                    * (CAST(n AS HUGEINT) * t3 - CAST(t2 AS HUGEINT) * t2)
                    AS DOUBLE)
           )) AS BIGINT) END AS z2_micros
    FROM tot
    """,
    category="behavior",
    doc="Cochran-Armitage linear trend of purchase rate over click-count buckets; exact integers, one division",
)
def q270(spark: SparkSession, sf: str) -> DataFrame:
    pu = (
        t(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.least(
                F.expr(
                    "SUM(CAST(event_type = 'click' AS BIGINT)) div 5"
                ),
                F.lit(3),
            ).alias("s"),
            F.max(
                (
                    (F.col("event_type") == "purchase") & (F.col("value") > 150)
                ).cast("bigint")
            ).alias("conv"),
        )
    )
    lv = pu.groupBy("s").agg(
        F.count("*").alias("n_i"), F.sum("conv").alias("r_i")
    )
    tot = lv.agg(
        F.sum("n_i").alias("n"),
        F.sum("r_i").alias("r"),
        F.sum(F.col("s") * F.col("r_i")).alias("t1"),
        F.sum(F.col("s") * F.col("n_i")).alias("t2"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i")).alias("t3"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    diff = dec(F.col("n")) * F.col("t1") - dec(F.col("r")) * F.col("t2")
    num = dec(F.col("n")) * diff * diff
    den = (
        dec(F.col("r"))
        * (F.col("n") - F.col("r"))
        * (dec(F.col("n")) * F.col("t3") - dec(F.col("t2")) * F.col("t2"))
    )
    return tot.select(
        "n",
        "r",
        "t1",
        "t2",
        "t3",
        F.when(diff > 0, F.lit(1)).when(diff < 0, F.lit(-1)).otherwise(F.lit(0))
        .cast("int")
        .alias("trend_sign"),
        F.when(
            den > 0,
            F.floor(
                F.lit(1000000.0) * (num.cast("double") / den.cast("double"))
            ).cast("long"),
        ).alias("z2_micros"),
    )
