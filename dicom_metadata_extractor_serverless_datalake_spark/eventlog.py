"""Event-analytics facade: the events-side counterpart of
``TextCorpus`` / ``EmbeddingSet``, completing the facade triad over
the three big fact shapes (documents, vectors, event streams).

``EventLog`` is the one implementation of the corpus's event kernels
(gap sessionization q88, sequential funnels q87, training-sequence
construction q168, purged time-series CV q174, autocorrelation q189,
transitions/attribution/survival q207-q209, Holt and seasonality
q212/q213) as one API over any DataFrame with a user/entity column,
an event-time column, and an event-type column:

    log = EventLog(events)
    log.sessionize()                  # rows + session ids (30-min gap)
    log.session_stats()               # per-user session rollup (q88)
    log.funnel(["view", "click", "purchase"])   # strict ordered funnel
    log.sequences(ctx=3)              # (context[k], label) training pairs
    log.cv_folds(folds=3, embargo_hours=6)      # purged walk-forward CV

Those corpus queries call these methods; this module imports nothing
from ``queries/`` (``_dlit`` comes from operators/ann.py). The SQL text
the oracles share lives here and they import it: the Holt update
``_hw_update`` (q212), the cents sum ``_cents_sum`` (q212/q213) and the
autocorrelation ``_ACF_EXPR`` (q189).

Every method keeps the corpus queries' exactness and scale shapes:
windows partition by the user key (never global), duration/boundary
math is exact integer microseconds, funnels are chained min-after
equi-joins (no window over the whole log), and the CV spec is a 3-row
broadcast. Methods returning per-user windows share ONE hash
partitioning on the user key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators.ann import _dlit

# The lag-k autocorrelation over the (sxy, sh, st, s1, s2, n, mu, lag)
# moments, floored to micros: one shared-tree IEEE division, the same
# SQL text in Spark and in q189's DuckDB oracle.
_ACF_EXPR = (
    "CAST(floor(1000000.0 * ("
    "(CAST(sxy AS DOUBLE) - mu * (CAST(sh AS DOUBLE) + CAST(st AS DOUBLE))"
    " + CAST(n - lag AS DOUBLE) * mu * mu)"
    " / (CAST(s2 AS DOUBLE) - 2.0 * mu * CAST(s1 AS DOUBLE)"
    " + CAST(n AS DOUBLE) * mu * mu))) AS BIGINT)"
)


def _cents_sum(value_col: str) -> str:
    """The exact sum of ``value_col`` in integer cents as one SQL
    aggregate, the same text in Spark and in the q212/q213 oracles."""
    return (
        f"CAST(SUM(CAST(CAST({value_col} AS DECIMAL(28,2)) * 100 AS BIGINT))"
        " AS BIGINT)"
    )


def _hw_update(alpha_lit: str, beta_lit: str, x: str, l: str, b: str, e: str):
    """The Holt update expressions over a previous state
    (``l``/``b``/``e``) and a new observation ``x`` — returned as
    (lnew, bnew, enew) SQL strings, the IDENTICAL IEEE tree in Spark
    and in DuckDB (q212's oracle builds its recursive CTE from them).
    bnew re-derives lnew inline; with no accumulator aliasing in sight
    both engines evaluate the same value tree."""
    pred = f"({l} + {b})"
    lnew = f"({alpha_lit} * {x} + (CAST(1 AS DOUBLE) - {alpha_lit}) * {pred})"
    bnew = (
        f"({beta_lit} * ({lnew} - {l})"
        f" + (CAST(1 AS DOUBLE) - {beta_lit}) * {b})"
    )
    enew = f"({e} + ({x} - {pred}) * ({x} - {pred}))"
    return lnew, bnew, enew


class EventLog:
    """An event stream flowing through analytics/prep operators.

    ``df`` needs ``user_col`` (entity), ``ts_col`` (timestamp),
    ``type_col`` (event kind) and ``id_col`` (unique tie-break id —
    required for deterministic ordering of same-timestamp events)."""

    def __init__(
        self,
        df: DataFrame,
        user_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        id_col: str = "event_id",
    ):
        self.df = df
        self.user_col = user_col
        self.ts_col = ts_col
        self.type_col = type_col
        self.id_col = id_col

    def _w(self) -> Window:
        return Window.partitionBy(self.user_col).orderBy(self.ts_col, self.id_col)

    def _us(self) -> F.Column:
        """Event time as integer epoch microseconds. The cast makes the
        facade robust to TIMESTAMP_NTZ inputs (raw parquet reads):
        under the engine's UTC session timezone it reinterprets the
        wall time exactly like the corpus table loader's
        normalization, and it is a no-op on TIMESTAMP columns."""
        return F.unix_micros(F.col(self.ts_col).cast("timestamp"))

    # ---- sessionization (q88) ----

    def sessionize(self, gap_minutes: int = 30) -> DataFrame:
        """All input rows plus a per-user ``session_id`` (1-based): a
        new session starts after ``gap_minutes`` of inactivity. Exact
        integer-microsecond gap math; one user-keyed window pass."""
        gap_us = gap_minutes * 60 * 1_000_000
        us = self._us()
        w = self._w()
        gap = us - F.lag(us).over(w)
        return (
            self.df.withColumn(
                "__new",
                F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0),
            )
            .withColumn("session_id", F.sum("__new").over(w))
            .drop("__new")
        )

    def session_stats(self, gap_minutes: int = 30) -> DataFrame:
        """Per-user session rollup (the q88 result shape): session
        count, event count, and longest session duration in seconds."""
        us = self._us()
        per_sess = (
            self.sessionize(gap_minutes)
            .withColumn("__us", us)
            .groupBy(self.user_col, "session_id")
            .agg(
                F.count("*").alias("n_events"),
                ((F.max("__us") - F.min("__us")) / F.lit(1000000.0)).alias(
                    "dur_s"
                ),
            )
        )
        return (
            per_sess.groupBy(self.user_col)
            .agg(
                F.count("*").alias("n_sessions"),
                F.sum("n_events").alias("n_events"),
                F.max("dur_s").alias("max_dur_s"),
            )
            .orderBy(self.user_col)
        )

    # ---- funnels (q87) ----

    def funnel(self, steps: list[str]) -> DataFrame:
        """Strict sequential funnel: users whose FIRST occurrence of
        each step happens strictly after their qualifying time for the
        previous step (the q87 chained min-after construction,
        generalized to any step list). Returns one row per step:
        (step, event_type, users). Each step is one equi-join + min
        aggregate on the user key — no window over the whole log."""
        if not steps:
            raise ValueError("funnel needs at least one step")
        u, ty, ts = self.user_col, self.type_col, self.ts_col
        stage = (
            self.df.filter(F.col(ty) == steps[0])
            .groupBy(u)
            .agg(F.min(ts).alias("__t"))
        )
        counts = [stage.agg(F.count("*").alias("users"))]
        for step in steps[1:]:
            nxt = self.df.filter(F.col(ty) == step).select(
                u, F.col(ts).alias("__ts")
            )
            stage = (
                nxt.join(stage, u)
                .filter(F.col("__ts") > F.col("__t"))
                .groupBy(u)
                .agg(F.min("__ts").alias("__t"))
            )
            counts.append(stage.agg(F.count("*").alias("users")))
        out = None
        for i, (step, c) in enumerate(zip(steps, counts), start=1):
            row = c.select(
                F.lit(i).alias("step"),
                F.lit(step).alias("event_type"),
                "users",
            )
            out = row if out is None else out.unionByName(row)
        return out

    # ---- cohort retention (q86) ----

    def retention(self) -> DataFrame:
        """Weekly cohort retention (q86): one fact shuffle builds a
        per-user (cohort week, active-week set) summary map-side, then
        explode + one (cohort, offset) rollup. Returns
        (cohort_week, week_offset, active_users)."""
        u, ts = self.user_col, self.ts_col
        tsc = F.col(ts).cast("timestamp")
        per_user = self.df.groupBy(u).agg(
            F.date_trunc("week", F.min(F.to_date(tsc)))
            .cast("date")
            .alias("cohort_week"),
            F.collect_set(F.date_trunc("week", tsc).cast("date")).alias(
                "__weeks"
            ),
        )
        return (
            per_user.select(u, "cohort_week", F.explode("__weeks").alias("act_week"))
            .groupBy(
                "cohort_week",
                (F.datediff("act_week", "cohort_week") / 7)
                .cast("int")
                .alias("week_offset"),
            )
            .agg(F.countDistinct(u).alias("active_users"))
            .orderBy("cohort_week", "week_offset")
        )

    # ---- training sequences (q168) ----

    def sequences(self, ctx: int = 3) -> DataFrame:
        """Supervised (context[ctx], label) next-event pairs per user
        (the q168 builder, generalized context length). One user-keyed
        window pass; lag/lead/row_number share it."""
        w = self._w()
        ty = F.col(self.type_col)
        parts = [F.lag(ty, k).over(w) for k in range(ctx - 1, 0, -1)] + [ty]
        return (
            self.df.select(
                self.user_col,
                F.row_number().over(w).alias("pos"),
                F.array(*parts).alias("ctx"),
                F.lead(ty, 1).over(w).alias("label"),
            )
            .filter(F.col("ctx")[0].isNotNull() & F.col("label").isNotNull())
            .orderBy(self.user_col, "pos")
        )

    # ---- purged time-series CV (q174) ----

    def cv_folds(self, folds: int = 3, embargo_hours: int = 6) -> DataFrame:
        """Expanding-window walk-forward folds with an embargo between
        train end and test start (the q174 split). Integer
        epoch-microsecond boundaries from one min/max scan; counting is
        one more pass with a bounded x``folds`` expansion."""
        embargo_us = embargo_hours * 3600 * 1_000_000
        ev = self.df.select(self._us().alias("us"))
        mm = ev.agg(F.min("us").alias("mn"), F.max("us").alias("mx"))
        spec = (
            mm.withColumn("fold", F.explode(F.sequence(F.lit(1), F.lit(folds))))
            .withColumn(
                "train_end", F.expr(f"mn + ((mx - mn) * fold) div {folds + 1}")
            )
            .withColumn("test_start", F.col("train_end") + F.lit(embargo_us))
            .withColumn(
                "test_end",
                F.expr(f"mn + ((mx - mn) * (fold + 1)) div {folds + 1}"),
            )
            .select("fold", "train_end", "test_start", "test_end")
        )
        return (
            ev.crossJoin(F.broadcast(spec))
            .groupBy("fold")
            .agg(
                F.count(F.when(F.col("us") <= F.col("train_end"), 1)).alias(
                    "train_rows"
                ),
                F.count(
                    F.when(
                        (F.col("us") > F.col("test_start"))
                        & (F.col("us") <= F.col("test_end")),
                        1,
                    )
                ).alias("test_rows"),
                F.count(
                    F.when(
                        (F.col("us") > F.col("train_end"))
                        & (F.col("us") <= F.col("test_start")),
                        1,
                    )
                ).alias("embargoed_rows"),
            )
            .orderBy("fold")
        )

    def autocorrelation(
        self, lags: tuple[int, ...] = (1, 2, 3), value_col: str = "value"
    ) -> DataFrame:
        """Exact lag-k autocorrelation of the daily ``value_col`` total
        series (the q189 readout): one row per lag with
        (lag, n_days, acf_micros). Daily totals go through the corpus
        cents cast truncated to integer dollars so every moment is an
        exact bigint; the ACF is one shared-tree IEEE division floored
        to micros — deterministic under any partitioning. The series is
        calendar-sized, so the lead() window and moment sums are
        dimension-scale; the only data-sized work is the per-day
        aggregate (map-side partial, one shuffle on day)."""
        daily = self.df.groupBy(
            F.to_date(F.col(self.ts_col).cast("timestamp")).alias("day")
        ).agg(F.expr(f"{_cents_sum(value_col)} div 100").alias("x"))
        w = Window.orderBy("day")
        ord_df = daily.select(
            "x", *[F.lead("x", k).over(w).alias(f"x{k}") for k in lags]
        )
        stats = daily.agg(
            F.count("*").alias("n"),
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.expr("x * x")).cast("long").alias("s2"),
            F.expr("CAST(SUM(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)").alias("mu"),
        )
        parts = [
            ord_df.agg(
                F.lit(k).alias("lag"),
                F.sum(F.expr(f"x * x{k}")).cast("long").alias("sxy"),
                F.sum(F.expr(f"CASE WHEN x{k} IS NOT NULL THEN x END"))
                .cast("long")
                .alias("sh"),
                F.sum(f"x{k}").cast("long").alias("st"),
            )
            for k in lags
        ]
        lagk = parts[0]
        for p in parts[1:]:
            lagk = lagk.unionByName(p)
        return (
            lagk.crossJoin(F.broadcast(stats))
            .select(
                "lag",
                F.col("n").cast("long").alias("n_days"),
                F.expr(_ACF_EXPR).alias("acf_micros"),
            )
            .orderBy("lag")
        )

    # ---- behavioral analytics (q207 / q208 / q209) ----

    def transitions(self) -> DataFrame:
        """First-order Markov transition matrix between event types
        (q207's shape): consecutive same-user events ordered by
        (ts, id), counts row-normalized in floored micros. Returns
        (from_type, to_type, n, p_micros). One user-keyed window
        exchange; the matrix is |types|^2-sized."""
        s = self.df.select(
            F.col(self.type_col).alias("from_type"),
            F.lead(self.type_col).over(self._w()).alias("to_type"),
        )
        c = (
            s.filter(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count("*").alias("n"))
        )
        r = c.groupBy("from_type").agg(F.sum("n").alias("row_n"))
        return c.join(F.broadcast(r), "from_type").select(
            "from_type",
            "to_type",
            "n",
            F.expr(
                "CAST(floor(1000000.0 * (CAST(n AS DOUBLE) / CAST(row_n AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("p_micros"),
        )

    def attribution(self, conversion: str = "purchase") -> DataFrame:
        """Single-touch attribution (q208's shape): every ``conversion``
        event credited to the last and the first preceding
        non-conversion touch of the same user; conversions with no
        preceding touch land in the '(none)' channel. Returns
        (channel, last_touch_purchases, first_touch_purchases). One
        user-keyed window pass — no self-join."""
        w = self._w().rowsBetween(Window.unboundedPreceding, -1)
        touch = F.expr(
            f"CASE WHEN {self.type_col} <> '{conversion}' THEN {self.type_col} END"
        )
        s = self.df.select(
            F.col(self.type_col).alias("_etype"),
            F.last(touch, ignorenulls=True).over(w).alias("last_ch"),
            F.first(touch, ignorenulls=True).over(w).alias("first_ch"),
        )
        p = s.filter(F.col("_etype") == conversion).select(
            F.coalesce("last_ch", F.lit("(none)")).alias("lc"),
            F.coalesce("first_ch", F.lit("(none)")).alias("fc"),
        )
        l = p.groupBy(F.col("lc").alias("channel")).agg(
            F.count("*").alias("last_touch")
        )
        f = p.groupBy(F.col("fc").alias("channel")).agg(
            F.count("*").alias("first_touch")
        )
        return l.join(f, "channel", "full_outer").select(
            "channel",
            F.coalesce("last_touch", F.lit(0)).alias("last_touch_purchases"),
            F.coalesce("first_touch", F.lit(0)).alias("first_touch_purchases"),
        )

    def survival(self, censor_days: int = 3) -> DataFrame:
        """Kaplan-Meier survival over user lifetimes (q209's shape):
        lifetime = days from a user's first to last event,
        right-censored when the last event falls within
        ``censor_days`` of the log's end. Returns one row per distinct
        lifetime: (dur, n_risk, d_events, c_censored, surv_micros),
        the survival product folded in time order (deterministic under
        any partitioning)."""
        term = "(CAST(1 AS DOUBLE) - CAST(x.d AS DOUBLE) / CAST(x.risk AS DOUBLE))"
        ev = self.df
        mx = ev.agg(F.expr(f"CAST(max({self.ts_col}) AS DATE)").alias("mxd"))
        u = ev.groupBy(self.user_col).agg(
            F.expr(f"CAST(min({self.ts_col}) AS DATE)").alias("fd"),
            F.expr(f"CAST(max({self.ts_col}) AS DATE)").alias("ld"),
        )
        lt = u.crossJoin(F.broadcast(mx)).select(
            F.expr("datediff(ld, fd)").alias("dur"),
            F.expr(
                f"CASE WHEN ld > mxd - {censor_days} THEN 0 ELSE 1 END"
            ).alias("ev"),
        )
        vd = lt.groupBy("dur").agg(F.sum("ev").alias("d"), F.count("*").alias("c"))
        n_tot = vd.agg(F.sum("c").alias("n_tot"))
        w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
        cw = vd.crossJoin(F.broadcast(n_tot)).select(
            "dur",
            "d",
            "c",
            (F.col("n_tot") - F.coalesce(F.sum("c").over(w), F.lit(0))).alias("risk"),
        )
        a = cw.agg(
            F.sort_array(F.collect_list(F.struct("dur", "d", "c", "risk"))).alias(
                "arr"
            )
        )
        return a.select(F.posexplode("arr").alias("pos", "x"), F.col("arr")).select(
            F.col("x.dur").alias("dur"),
            F.col("x.risk").alias("n_risk"),
            F.col("x.d").alias("d_events"),
            (F.col("x.c") - F.col("x.d")).alias("c_censored"),
            F.expr(
                f"CAST(floor(1000000.0 * aggregate(slice(arr, 1, pos + 1), "
                f"CAST(1 AS DOUBLE), (acc, x) -> acc * {term})) AS BIGINT)"
            ).alias("surv_micros"),
        )

    # ---- forecast readouts (q212 / q213) ----

    def _daily_cents(self, value_col: str = "value") -> DataFrame:
        """Exact daily value totals per event type (integer cents)."""
        return self.df.groupBy(
            self.type_col, F.expr(f"CAST({self.ts_col} AS DATE)").alias("day")
        ).agg(F.expr(_cents_sum(value_col)).alias("c"))

    def holt_trend(
        self, alpha: float = 0.2, beta: float = 0.1, horizon: int = 7
    ) -> DataFrame:
        """Holt double-exponential smoothing per event type over the
        daily value series (q212's shape): final level, trend,
        ``horizon``-day forecast and one-step-ahead SSE, computed as an
        ordered struct fold (bit-deterministic under any
        partitioning). Returns (type, n_days, level_cents,
        trend_milli, forecast7_cents, sse_cents2)."""
        a, b = _dlit(alpha, "power"), _dlit(beta, "power")
        lnew, bnew, enew = _hw_update(a, b, "v.x", "acc.l", "acc.b", "acc.e")
        upd = f"named_struct('x', v.x, 'l', {lnew}, 'b', {bnew}, 'e', {enew})"
        arr = self._daily_cents().groupBy(self.type_col).agg(
            F.count("*").alias("n_days"),
            F.expr(
                "sort_array(collect_list(struct(day, "
                "CAST(c AS DOUBLE) AS x, CAST(c AS DOUBLE) AS l, "
                "CAST(0 AS DOUBLE) AS b, CAST(0 AS DOUBLE) AS e)))"
            ).alias("xs0"),
        )
        fit = arr.select(
            self.type_col,
            "n_days",
            F.expr(
                "transform(xs0, s -> "
                "named_struct('x', s.x, 'l', s.l, 'b', s.b, 'e', s.e))"
            ).alias("xs"),
        ).select(
            self.type_col,
            "n_days",
            F.expr(
                f"aggregate(slice(xs, 2, size(xs) - 1), element_at(xs, 1), "
                f"(acc, v) -> {upd})"
            ).alias("f"),
        )
        return fit.select(
            self.type_col,
            F.col("n_days").cast("bigint").alias("n_days"),
            F.expr("CAST(floor(f.l) AS BIGINT)").alias("level_cents"),
            F.expr("CAST(floor(1000.0 * f.b) AS BIGINT)").alias("trend_milli"),
            F.expr(
                f"CAST(floor(f.l + CAST({horizon} AS DOUBLE) * f.b) AS BIGINT)"
            ).alias("forecast7_cents"),
            F.expr("CAST(floor(f.e) AS BIGINT)").alias("sse_cents2"),
        )

    def seasonality(self) -> DataFrame:
        """ISO-weekday seasonal index per event type (q213's shape):
        mean daily value on each weekday relative to the type's
        overall daily mean, floored micros via exact integer
        cross-multiplication. Returns (type, dow, n_days,
        idx_micros)."""
        daily = self._daily_cents()
        d = daily.groupBy(
            self.type_col, F.expr("weekday(day) + 1").alias("dow")
        ).agg(F.count("*").alias("n_dow"), F.sum("c").alias("s_dow"))
        o = daily.groupBy(self.type_col).agg(
            F.count("*").alias("n_all"), F.sum("c").alias("s_all")
        )
        return d.join(F.broadcast(o), self.type_col).select(
            self.type_col,
            F.col("dow").cast("bigint").alias("dow"),
            F.col("n_dow").cast("bigint").alias("n_days"),
            F.expr(
                "CASE WHEN s_all <> 0 THEN "
                "CAST(floor(1000000.0 * (CAST(s_dow * n_all AS DOUBLE)"
                " / CAST(n_dow * s_all AS DOUBLE))) AS BIGINT) "
                "ELSE CAST(NULL AS BIGINT) END"
            ).alias("idx_micros"),
        )
