"""Round-7 batch 1: classical-inference completions (q226-q227).

Completes the corpus's two-sample / association test suite around
Mann-Whitney U (q206), one-way ANOVA F (q198), the exact two-sample
KS statistic (q199), chi-squared independence (q188) and Spearman
rank correlation (q186) with the two readouts an analyst reaches for
first:

- q226 is Welch's unequal-variance t-test (Welch 1947) over order
  values split by priority arm. Counts, sums and sums of squares are
  exact integers (cents, cents-squared through the long-limb exact
  sum, so the sufficient statistics are bit-identical under any
  partitioning); the t statistic and the Welch-Satterthwaite degrees
  of freedom are one identical IEEE +,-,*,/,sqrt tree on both
  engines. Degenerate designs (an arm with < 2 orders, zero pooled
  variance) yield NULL t/dof via the same CASE guard on both sides —
  the q158/q206 precedent.
- q227 is exact tie-corrected Kendall tau-b between order month and
  priority rank. Naively tau is an all-pairs O(n^2) statistic; over a
  (12 x 5) ordinal domain the concordant/discordant pair counts come
  exactly from the joint contingency table: C and D are 2-D suffix /
  prefix sums over the DENSIFIED 60-cell grid (two window passes over
  domain-sized rows — absent cells must be materialized as zeros or
  the suffix sums skip their mass), and the tie terms n1/n2 come from
  the marginals by the arithmetic-series identity (the q210 pattern).
  Everything is integer until the final (C-D)/(sqrt(n0-n1)*sqrt(n0-n2))
  division.

The reference delegates all analytics to Athena
(/root/reference/src/app.py:97-189); these are the statistical-test
rows of that delegated surface re-expressed Spark-first. Exactness
conventions as in quality.py/mixture.py.

100 TB shapes: q226 is ONE map-side-combinable conditional aggregate
over the fact table (fixed-size partials: 2 arms x 4 statistics);
q227 is one (month, priority) count aggregate — 60 cells whatever the
row count — plus windows over the 60-row grid. Nothing downstream of
the first aggregation scales with data size in either query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cachetrack import tracked_persist
from ..operators.dedup import h31
from .base import _scaled_sum_sql, query, sql_query, t

# --------------------------------------------------------------------------
# q226 — Welch two-sample t-test: high-priority orders (priority 1-2)
# vs the rest, on o_totalprice. Sufficient statistics per arm are
# exact: n (count), s = sum(cents) (long — cents < 6e7 so a long sum
# holds past 1.5e11 rows/arm), q = sum(cents^2) via the 3-limb exact
# long decomposition (cents^2 < 2^52, exact in a double, summed
# limb-wise into decimal(38,0) — the base.py machinery at scale 0).
# The final statistics are doubles computed by the IDENTICAL
# expression tree on both engines: every *, /, sqrt is correctly
# rounded per IEEE 754, so equal exact inputs give equal doubles.
# --------------------------------------------------------------------------


@query(
    "q226_welch_ttest",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN substr(o_orderpriority, 1, 1) IN ('1', '2')
                  THEN 'h' ELSE 'l' END AS arm,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    a AS (
      SELECT arm, COUNT(*) AS n,
             SUM(cents) AS s,
             SUM(CAST(cents AS HUGEINT) * cents) AS q
      FROM c GROUP BY arm
    ),
    w AS (
      SELECT MAX(CASE WHEN arm = 'h' THEN n END) AS n1,
             MAX(CASE WHEN arm = 'h' THEN CAST(s AS DOUBLE) END) AS s1,
             MAX(CASE WHEN arm = 'h' THEN CAST(q AS DOUBLE) END) AS q1,
             MAX(CASE WHEN arm = 'l' THEN n END) AS n2,
             MAX(CASE WHEN arm = 'l' THEN CAST(s AS DOUBLE) END) AS s2,
             MAX(CASE WHEN arm = 'l' THEN CAST(q AS DOUBLE) END) AS q2
      FROM a
    ),
    v AS (
      SELECT n1, n2,
             s1 / n1 AS mean_high_cents,
             s2 / n2 AS mean_low_cents,
             CASE WHEN n1 >= 2
                  THEN (q1 - s1 * s1 / n1) / (n1 - 1) END AS var_high_cents,
             CASE WHEN n2 >= 2
                  THEN (q2 - s2 * s2 / n2) / (n2 - 1) END AS var_low_cents
      FROM w
    ),
    z AS (
      SELECT *,
             CASE WHEN var_high_cents IS NOT NULL AND var_low_cents IS NOT NULL
                       AND var_high_cents / n1 + var_low_cents / n2 > 0
                  THEN (mean_high_cents - mean_low_cents)
                       / sqrt(var_high_cents / n1 + var_low_cents / n2)
                  END AS t_welch,
             CASE WHEN var_high_cents IS NOT NULL AND var_low_cents IS NOT NULL
                       AND var_high_cents / n1 + var_low_cents / n2 > 0
                       AND (var_high_cents > 0 OR var_low_cents > 0)
                  THEN ((var_high_cents / n1 + var_low_cents / n2)
                        * (var_high_cents / n1 + var_low_cents / n2))
                       / ((var_high_cents / n1) * (var_high_cents / n1) / (n1 - 1)
                          + (var_low_cents / n2) * (var_low_cents / n2) / (n2 - 1))
                  END AS dof_welch
      FROM v
    )
    SELECT CAST(n1 AS BIGINT) AS n_high, CAST(n2 AS BIGINT) AS n_low,
           mean_high_cents, mean_low_cents, var_high_cents, var_low_cents,
           t_welch, dof_welch, abs(t_welch) > 1.96 AS significant
    FROM z
    """,
    category="inference",
    doc="Welch unequal-variance t-test from exact integer sufficient statistics",
)
def q226(spark: SparkSession, sf: str) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    arm = F.when(
        F.substring("o_orderpriority", 1, 1).isin("1", "2"), "h"
    ).otherwise("l")
    c = t(spark, sf, "orders").select(
        arm.alias("arm"),
        cents.alias("cents"),
        # cents^2 < 2^52: exact as a double, limb-summed exactly below
        (cents * cents).cast("double").alias("c2"),
    )
    a = c.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.expr(_scaled_sum_sql("c2", 0, None)).alias("q"),
    )
    pick = lambda arm_, col: F.max(F.when(F.col("arm") == arm_, F.col(col)))  # noqa: E731
    w = a.agg(
        pick("h", "n").alias("n1"),
        pick("h", "s").cast("double").alias("s1"),
        pick("h", "q").cast("double").alias("q1"),
        pick("l", "n").alias("n2"),
        pick("l", "s").cast("double").alias("s2"),
        pick("l", "q").cast("double").alias("q2"),
    )
    d = lambda c_: F.col(c_).cast("double")  # noqa: E731
    v = w.select(
        "n1",
        "n2",
        (F.col("s1") / d("n1")).alias("mean_high_cents"),
        (F.col("s2") / d("n2")).alias("mean_low_cents"),
        F.when(
            F.col("n1") >= 2,
            (F.col("q1") - F.col("s1") * F.col("s1") / d("n1")) / (d("n1") - 1),
        ).alias("var_high_cents"),
        F.when(
            F.col("n2") >= 2,
            (F.col("q2") - F.col("s2") * F.col("s2") / d("n2")) / (d("n2") - 1),
        ).alias("var_low_cents"),
    )
    se2 = F.col("var_high_cents") / d("n1") + F.col("var_low_cents") / d("n2")
    ok = (
        F.col("var_high_cents").isNotNull()
        & F.col("var_low_cents").isNotNull()
        & (se2 > 0)
    )
    t_welch = F.when(
        ok, (F.col("mean_high_cents") - F.col("mean_low_cents")) / F.sqrt(se2)
    )
    dof = F.when(
        ok & ((F.col("var_high_cents") > 0) | (F.col("var_low_cents") > 0)),
        (se2 * se2)
        / (
            (F.col("var_high_cents") / d("n1"))
            * (F.col("var_high_cents") / d("n1"))
            / (d("n1") - 1)
            + (F.col("var_low_cents") / d("n2"))
            * (F.col("var_low_cents") / d("n2"))
            / (d("n2") - 1)
        ),
    )
    return v.select(
        F.col("n1").alias("n_high"),
        F.col("n2").alias("n_low"),
        "mean_high_cents",
        "mean_low_cents",
        "var_high_cents",
        "var_low_cents",
        t_welch.alias("t_welch"),
        dof.alias("dof_welch"),
        (F.abs(t_welch) > F.lit(1.96)).alias("significant"),
    )


# --------------------------------------------------------------------------
# q294 — TOST equivalence test (Schuirmann, J.Pharmacokinet. 1987):
# the PARITY gate q226 cannot provide. Welch answers "are the two
# sources' mean doc lengths DIFFERENT?" — failing to reject says
# nothing ("absence of evidence"). TOST reverses the burden: H0 is
# "they differ by at least the margin", and rejecting BOTH one-sided
# tests (mean diff > -margin AND < +margin) POSITIVELY establishes
# equivalence within ±40 chars — the question a pipeline change
# actually poses ("did the new dedup/filter leave src1's length
# profile equal to src0's?"). Same exact sufficient statistics as
# q226 (n, sum, sum-of-squares — n_chars^2 is an exact BIGINT,
# summed in DECIMAL(38,0)/HUGEINT), Welch standard error, then
# z_lower = (d + margin)/se and z_upper = (margin - d)/se in one
# shared double tree; equivalent iff min(z) >= norm.ppf(0.95) as a
# Python literal (large-sample TOST — the z form, so no runtime
# t-quantile; the margin 40.0 is a declared literal).
#
# 100 TB shape: one two-arm filtered aggregate (map-side partial),
# scalar out — nothing downstream of the moments. Reference delegates
# analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_TOST_MARGIN = "40.0"  # equivalence margin in chars, declared literal
_TOST_Z_CRIT = "1.644853"  # norm.ppf(0.95) floored to 1e-6 — Python literal


def _tost_tail() -> list[str]:
    """Engine-shared final select expressions over n1,n2,s1,s2,q1,q2
    (all DOUBLE) — one list, joined for the oracle and selectExpr'd on
    the Spark side, so the double trees cannot diverge."""
    mean1, mean2 = "(s1 / n1)", "(s2 / n2)"
    v1 = "((q1 - s1 * s1 / n1) / (n1 - 1))"
    v2 = "((q2 - s2 * s2 / n2) / (n2 - 1))"
    se = f"sqrt({v1} / n1 + {v2} / n2)"
    d = f"({mean1} - {mean2})"
    z_lo = f"(({d} + {_TOST_MARGIN}) / {se})"
    z_hi = f"(({_TOST_MARGIN} - {d}) / {se})"
    guard = f"n1 >= 2 AND n2 >= 2 AND {v1} / n1 + {v2} / n2 > 0"
    return [
        "CAST(n1 AS BIGINT) AS n_a",
        "CAST(n2 AS BIGINT) AS n_b",
        f"{mean1} AS mean_a",
        f"{mean2} AS mean_b",
        f"CASE WHEN {guard} THEN {z_lo} END AS z_lower",
        f"CASE WHEN {guard} THEN {z_hi} END AS z_upper",
        f"CASE WHEN {guard} THEN {z_lo} >= {_TOST_Z_CRIT}"
        f" AND {z_hi} >= {_TOST_Z_CRIT} END AS equivalent_at_05",
    ]


@query(
    "q294_tost_equivalence",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents
      WHERE source IN ('src0', 'src1')
    ),
    a AS (
      SELECT source, COUNT(*) AS n, SUM(x) AS s,
             SUM(CAST(x AS HUGEINT) * x) AS q
      FROM c GROUP BY source
    ),
    w AS (
      SELECT MAX(CASE WHEN source = 'src0' THEN CAST(n AS DOUBLE) END) AS n1,
             MAX(CASE WHEN source = 'src0' THEN CAST(s AS DOUBLE) END) AS s1,
             MAX(CASE WHEN source = 'src0' THEN CAST(q AS DOUBLE) END) AS q1,
             MAX(CASE WHEN source = 'src1' THEN CAST(n AS DOUBLE) END) AS n2,
             MAX(CASE WHEN source = 'src1' THEN CAST(s AS DOUBLE) END) AS s2,
             MAX(CASE WHEN source = 'src1' THEN CAST(q AS DOUBLE) END) AS q2
      FROM a
    )
    SELECT {", ".join(_tost_tail())}
    FROM w
    """,
    category="inference",
    doc="TOST equivalence gate: src0 vs src1 mean doc length within a declared ±40-char margin, exact moments + large-sample one-sided z pair",
)
def q294(spark: SparkSession, sf: str) -> DataFrame:
    x = F.col("n_chars").cast("long")
    c = (
        t(spark, sf, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select("source", x.alias("x"), (x * x).cast("decimal(38,0)").alias("x2"))
    )
    a = c.groupBy("source").agg(
        F.count("*").alias("n"), F.sum("x").alias("s"), F.sum("x2").alias("q")
    )
    pick = lambda src, col: F.max(F.when(F.col("source") == src, F.col(col)))  # noqa: E731
    w = a.agg(
        pick("src0", "n").cast("double").alias("n1"),
        pick("src0", "s").cast("double").alias("s1"),
        pick("src0", "q").cast("double").alias("q1"),
        pick("src1", "n").cast("double").alias("n2"),
        pick("src1", "s").cast("double").alias("s2"),
        pick("src1", "q").cast("double").alias("q2"),
    )
    return w.selectExpr(*_tost_tail())


# --------------------------------------------------------------------------
# q227 — exact Kendall tau-b between order month (1..12) and priority
# rank (1..5). The pair counts come from the joint distribution, not
# from pairs:  C = sum_ij n_ij * S_ij  with  S_ij = sum_{k>i, l>j} n_kl
# computed as a suffix-over-y window inside each x followed by a
# suffix-over-x window inside each y — two passes over the densified
# 60-cell grid. D symmetrically with the prefix-over-y window. The
# grid MUST be dense (absent cells as 0 rows): the second window sums
# the first window's column at (k, j), which doesn't exist for a
# missing cell even when row k has mass at l > j.
# --------------------------------------------------------------------------


@query(
    "q227_kendall_tau",
    oracle="""
    WITH cells AS (
      SELECT CAST(month(o_orderdate) AS INTEGER) AS x,
             CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS y,
             COUNT(*) AS cnt
      FROM orders GROUP BY 1, 2
    ),
    grid AS (
      SELECT g.x, g.y, COALESCE(c.cnt, 0) AS cnt
      FROM (SELECT CAST(gx.range AS INTEGER) AS x,
                   CAST(gy.range AS INTEGER) AS y
            FROM range(1, 13) gx, range(1, 6) gy) g
      LEFT JOIN cells c ON c.x = g.x AND c.y = g.y
    ),
    sy AS (
      SELECT x, y, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY x ORDER BY y
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS above_y,
             COALESCE(SUM(cnt) OVER (PARTITION BY x ORDER BY y
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS below_y
      FROM grid
    ),
    sxy AS (
      SELECT x, y, cnt,
             COALESCE(SUM(above_y) OVER (PARTITION BY y ORDER BY x
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS conc_cell,
             COALESCE(SUM(below_y) OVER (PARTITION BY y ORDER BY x
                        ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS disc_cell
      FROM sy
    ),
    pairs AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n,
             CAST(SUM(cnt * conc_cell) AS BIGINT) AS concordant,
             CAST(SUM(cnt * disc_cell) AS BIGINT) AS discordant
      FROM sxy
    ),
    tx AS (
      SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS ties_x
      FROM (SELECT SUM(cnt) AS m FROM grid GROUP BY x)
    ),
    ty AS (
      SELECT CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS ties_y
      FROM (SELECT SUM(cnt) AS m FROM grid GROUP BY y)
    )
    SELECT n, concordant, discordant, ties_x, ties_y,
           CASE WHEN n * (n - 1) // 2 > ties_x AND n * (n - 1) // 2 > ties_y
                THEN (CAST(concordant AS DOUBLE) - CAST(discordant AS DOUBLE))
                     / (sqrt(CAST(n * (n - 1) // 2 - ties_x AS DOUBLE))
                        * sqrt(CAST(n * (n - 1) // 2 - ties_y AS DOUBLE)))
                END AS tau_b
    FROM pairs, tx, ty
    """,
    category="inference",
    doc="Exact tie-corrected Kendall tau-b from the densified contingency grid",
)
def q227(spark: SparkSession, sf: str) -> DataFrame:
    cells = (
        t(spark, sf, "orders")
        .select(
            F.month("o_orderdate").cast("int").alias("x"),
            F.substring("o_orderpriority", 1, 1).cast("int").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count("*").alias("cnt"))
    )
    # dense 12x5 grid via generate (no cross join): absent cells carry 0
    grid_keys = (
        spark.range(1)
        .select(F.explode(F.expr("sequence(1, 12)")).alias("x"))
        .select("x", F.explode(F.expr("sequence(1, 5)")).alias("y"))
        .select(F.col("x").cast("int").alias("x"), F.col("y").cast("int").alias("y"))
    )
    grid = (
        grid_keys.join(cells, ["x", "y"], "left")
        .select("x", "y", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"))
    )
    w_above = (
        Window.partitionBy("x")
        .orderBy("y")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_below = (
        Window.partitionBy("x")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sy = grid.select(
        "x",
        "y",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_above), F.lit(0)).alias("above_y"),
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("below_y"),
    )
    w_right = (
        Window.partitionBy("y")
        .orderBy("x")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    sxy = sy.select(
        "x",
        "y",
        "cnt",
        F.coalesce(F.sum("above_y").over(w_right), F.lit(0)).alias("conc_cell"),
        F.coalesce(F.sum("below_y").over(w_right), F.lit(0)).alias("disc_cell"),
    )
    pairs = sxy.agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.col("conc_cell")).alias("concordant"),
        F.sum(F.col("cnt") * F.col("disc_cell")).alias("discordant"),
    )
    tx = (
        grid.groupBy("x")
        .agg(F.sum("cnt").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) div 2")).alias("ties_x"))
    )
    ty = (
        grid.groupBy("y")
        .agg(F.sum("cnt").alias("m"))
        .agg(F.sum(F.expr("m * (m - 1) div 2")).alias("ties_y"))
    )
    joined = pairs.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
    n0 = F.expr("n * (n - 1) div 2")
    tau = F.when(
        (n0 > F.col("ties_x")) & (n0 > F.col("ties_y")),
        (F.col("concordant").cast("double") - F.col("discordant").cast("double"))
        / (
            F.sqrt((n0 - F.col("ties_x")).cast("double"))
            * F.sqrt((n0 - F.col("ties_y")).cast("double"))
        ),
    )
    return joined.select(
        "n", "concordant", "discordant", "ties_x", "ties_y", tau.alias("tau_b")
    )


# --------------------------------------------------------------------------
# q232 — Cohen's kappa between the documents table's lang column and
# the q57 stopword-voting language-ID heuristic: the chance-corrected
# agreement readout behind "is the metadata trustworthy / is the
# heuristic usable". Confusion mass lives on a <= 5x5 domain whatever
# the corpus size; kappa = (n*agree - pe_num) / (n*n - pe_num) with
# pe_num = sum_l row_l * col_l — all integer until the single final
# division. Degenerate case (both sides constant on one class) yields
# NULL via the same guard on both engines.
# --------------------------------------------------------------------------


def _q232_oracle() -> str:
    from .llm import _ARGMAX_CASE, _GREATEST, _lang_scores_sql

    return f"""
    WITH scored AS (
      SELECT doc_id, lang,
      {_lang_scores_sql('string_split', 'list_filter', 'len')}
      FROM documents
    ),
    pred AS (
      SELECT lang, {_ARGMAX_CASE.replace('= m', f'= {_GREATEST}')} AS predicted
      FROM scored
    ),
    cells AS (SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY 1, 2),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN lang = predicted THEN n ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM cells
    ),
    pe AS (
      SELECT CAST(SUM(r.rm * c.cm) AS BIGINT) AS pe_num
      FROM (SELECT lang AS l, SUM(n) AS rm FROM cells GROUP BY 1) r
      JOIN (SELECT predicted AS l, SUM(n) AS cm FROM cells GROUP BY 1) c
        ON r.l = c.l
    )
    SELECT n_docs, n_agree, pe_num,
           CAST(1000000 * n_agree // n_docs AS BIGINT) AS accuracy_micros,
           CASE WHEN n_docs * n_docs > pe_num
                THEN (CAST(n_docs AS DOUBLE) * CAST(n_agree AS DOUBLE)
                      - CAST(pe_num AS DOUBLE))
                     / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
                        - CAST(pe_num AS DOUBLE))
                END AS kappa
    FROM tot, pe
    """


@query(
    "q232_lang_kappa",
    oracle=_q232_oracle(),
    category="inference",
    doc="Cohen's kappa: metadata lang vs the q57 language-ID heuristic",
)
def q232(spark: SparkSession, sf: str) -> DataFrame:
    from .llm import _ARGMAX_CASE, _GREATEST, _LANG_STOPWORDS

    docs = t(spark, sf, "documents")
    scored = docs.select(
        "lang",
        *[
            F.size(
                F.expr(f"filter(split(text, ' '), tk -> tk IN {words})")
            ).alias(f"s_{lang}")
            for lang, words in sorted(_LANG_STOPWORDS.items())
        ],
    )
    pred = scored.withColumn("m", F.expr(_GREATEST)).withColumn(
        "predicted", F.expr(_ARGMAX_CASE)
    )
    cells = pred.groupBy("lang", "predicted").agg(F.count("*").alias("n"))
    tot = cells.agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("lang") == F.col("predicted"), F.col("n")).otherwise(0))
        .alias("n_agree"),
    )
    rm = cells.groupBy(F.col("lang").alias("l")).agg(F.sum("n").alias("rm"))
    cm = cells.groupBy(F.col("predicted").alias("l")).agg(F.sum("n").alias("cm"))
    pe = rm.join(cm, "l").agg(F.sum(F.col("rm") * F.col("cm")).alias("pe_num"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    joined = tot.crossJoin(F.broadcast(pe))
    kappa = F.when(
        F.col("n_docs") * F.col("n_docs") > F.col("pe_num"),
        (d("n_docs") * d("n_agree") - d("pe_num"))
        / (d("n_docs") * d("n_docs") - d("pe_num")),
    )
    return joined.select(
        "n_docs",
        "n_agree",
        "pe_num",
        F.expr("1000000 * n_agree div n_docs").alias("accuracy_micros"),
        kappa.alias("kappa"),
    )


# --------------------------------------------------------------------------
# q233 — Wilson score interval for per-type conversion proportions:
# the binomial CI that stays inside [0,1] at small n and extreme p
# (unlike the Wald interval q158's z implicitly inverts). n and x are
# exact counts; the interval is one identical IEEE tree per row
# (z = 1.96 as a shared literal, one sqrt).
# --------------------------------------------------------------------------


sql_query(
    "q233_wilson_ci",
    """
    WITH c AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN value > 250.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hits
      FROM events GROUP BY event_type
    )
    SELECT event_type, n_events, n_hits,
           CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE) AS p_hat,
           ((CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE)
             + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n_events AS DOUBLE)))
            - 1.96 * sqrt((CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE))
                          * (1.0 - CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE))
                            / CAST(n_events AS DOUBLE)
                          + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                            / (4.0 * CAST(n_events AS DOUBLE)
                                   * CAST(n_events AS DOUBLE))))
           / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_events AS DOUBLE)) AS wilson_lo,
           ((CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE)
             + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2.0 * CAST(n_events AS DOUBLE)))
            + 1.96 * sqrt((CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE))
                          * (1.0 - CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE))
                            / CAST(n_events AS DOUBLE)
                          + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                            / (4.0 * CAST(n_events AS DOUBLE)
                                   * CAST(n_events AS DOUBLE))))
           / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / CAST(n_events AS DOUBLE)) AS wilson_hi
    FROM c ORDER BY event_type
    """,
    category="inference",
    doc="Wilson score 95% interval per event-type conversion proportion",
)


# --------------------------------------------------------------------------
# q234 — delete-a-group jackknife standard error of the mean order
# value, groups = order months: the resampling-free uncertainty
# estimate a distributed engine can afford (12 leave-one-out means by
# broadcast subtraction — the q176 trick — never 12 re-scans). The
# per-group sufficient statistics are exact cents sums; the two
# 12-element float reductions (mean of the leave-one-out means, then
# squared deviations) fold in month order on both engines — scalar
# accumulators only, sidestepping DuckDB 1.0.0's struct-accumulator
# list_reduce buffer reuse (see queries/behavior.py q212).
# --------------------------------------------------------------------------


@query(
    "q234_jackknife_se",
    oracle="""
    WITH g AS (
      SELECT CAST(month(o_orderdate) AS INTEGER) AS m,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS s_g
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS big_g
      FROM g
    ),
    loo AS (
      -- t.n > g.n_g guards the G=1 degenerate (leave-the-only-group-out
      -- divides by zero, which ANSI mode raises on): zero loo rows ->
      -- NULL readouts on both engines instead of a crash
      SELECT list(CAST(t.s - g.s_g AS DOUBLE) / CAST(t.n - g.n_g AS DOUBLE)
                  ORDER BY g.m) AS thetas,
             MAX(t.n) AS n, MAX(t.s) AS s, MAX(t.big_g) AS big_g
      FROM g, tot t
      WHERE t.n > g.n_g
    ),
    mean_t AS (
      SELECT *,
             list_reduce(thetas, (a, b) -> a + b) / CAST(big_g AS DOUBLE)
               AS theta_dot
      FROM loo
    )
    SELECT big_g AS n_groups, n AS n_rows,
           CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS theta_all_cents,
           CASE WHEN big_g >= 2
                THEN sqrt((CAST(big_g - 1 AS DOUBLE) / CAST(big_g AS DOUBLE))
                          * list_reduce(list_transform(thetas,
                                          x -> (x - theta_dot) * (x - theta_dot)),
                                        (a, b) -> a + b))
                END AS jack_se_cents
    FROM mean_t
    """,
    category="inference",
    doc="Delete-a-month jackknife SE of the mean order value, exact partials",
)
def q234(spark: SparkSession, sf: str) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    g = (
        t(spark, sf, "orders")
        .select(F.month("o_orderdate").cast("int").alias("m"), cents.alias("c"))
        .groupBy("m")
        .agg(F.count("*").alias("n_g"), F.sum("c").alias("s_g"))
    )
    tot = g.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.count("*").alias("big_g"),
    )
    loo = (
        g.crossJoin(F.broadcast(tot))
        # G=1 guard: leave-the-only-group-out would divide by zero (ANSI
        # raises even on DOUBLE); zero surviving rows -> NULL readouts
        .filter(F.col("n") > F.col("n_g"))
        .select(
            "m",
            "n",
            "s",
            "big_g",
            (
                (F.col("s") - F.col("s_g")).cast("double")
                / (F.col("n") - F.col("n_g")).cast("double")
            ).alias("theta"),
        )
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, theta))), x -> x.theta)"
            ).alias("thetas"),
            F.max("n").alias("n"),
            F.max("s").alias("s"),
            F.max("big_g").alias("big_g"),
        )
    )
    fold = "aggregate({arr}, CAST(0 AS DOUBLE), (a, b) -> a + b)"
    mean_t = loo.withColumn(
        "theta_dot",
        F.expr(fold.format(arr="thetas")) / F.col("big_g").cast("double"),
    )
    return mean_t.select(
        F.col("big_g").alias("n_groups"),
        F.col("n").alias("n_rows"),
        (F.col("s").cast("double") / F.col("n").cast("double")).alias(
            "theta_all_cents"
        ),
        F.when(
            F.col("big_g") >= 2,
            F.sqrt(
                ((F.col("big_g") - 1).cast("double") / F.col("big_g").cast("double"))
                * F.expr(
                    fold.format(
                        arr="transform(thetas, x -> (x - theta_dot) * (x - theta_dot))"
                    )
                )
            ),
        ).alias("jack_se_cents"),
    )


# --------------------------------------------------------------------------
# q249 — group-sequential A/B monitoring with O'Brien-Fleming stopping
# boundaries: q158's pooled two-proportion z evaluated at K = 5 interim
# cuts of the experiment timeline, each |z_k| compared against the OBF
# boundary C * sqrt(K/k) (conservative early, ~C at the final look) —
# the "can we stop the experiment early" readout that naive repeated
# q158 peeking gets wrong (inflated false positives). C = 2.04, the
# standard two-sided alpha = 0.05, K = 5 OBF constant; the five
# boundaries are Python-precomputed double literals, so the crossing
# decision engine-side is one abs(z) > literal comparison.
#
# Interim cuts are INTEGER microsecond timestamps: cut_k = tmin +
# ((tmax - tmin) * k) div 5 over the event-time span — exact in both
# engines. Per cut, exposures = users first seen by the cut and
# conversions = users first converted (purchase, value > 250) by the
# cut, per arm (the q158 portable-hash assignment with a 'gs-' salt).
# All counts exact integers; z is q158's identical IEEE tree (one
# correctly-rounded sqrt), NULL-guarded for degenerate interims.
# stopped_by_k is the monitoring verdict: an earlier interim (<= k)
# crossed its boundary.
#
# 100 TB shape: ONE map-side-combinable per-user aggregate (first-seen
# / first-conversion micros + arm), a broadcast of the 5-row cut grid,
# one 5-group conditional-sum aggregate, then 5-row arithmetic.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_GS_K = 5
# C * sqrt(K/k) for k = 1..5, C = 2.04 (OBF, two-sided 0.05, K = 5)
_GS_BOUNDS = [
    4.561578674099572,
    3.2255232133717473,
    2.6336286754210434,
    2.280789337049786,
    2.04,
]


def _q249_oracle() -> str:
    from .llm import duck_h31

    bounds = ", ".join(
        f"({k + 1}, CAST({b} AS DOUBLE))" for k, b in enumerate(_GS_BOUNDS)
    )
    return f"""
    WITH u AS (
      SELECT user_id,
             {duck_h31("'gs-' || CAST(user_id AS VARCHAR)")} % 2 AS arm,
             MIN(epoch_us(ts)) AS seen_us,
             MIN(CASE WHEN event_type = 'purchase' AND value > 250.0
                      THEN epoch_us(ts) END) AS conv_us
      FROM events GROUP BY user_id
    ),
    span AS (SELECT MIN(epoch_us(ts)) AS t0, MAX(epoch_us(ts)) AS t1 FROM events),
    cuts AS (
      SELECT k, t0 + ((t1 - t0) * k) // {_GS_K} AS cut_us
      FROM span, (SELECT unnest(generate_series(1, {_GS_K})) AS k)
    ),
    interim AS (
      SELECT c.k, c.cut_us,
             CAST(SUM(CASE WHEN u.arm = 0 AND u.seen_us <= c.cut_us THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN u.arm = 0 AND u.conv_us <= c.cut_us THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN u.arm = 1 AND u.seen_us <= c.cut_us THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN u.arm = 1 AND u.conv_us <= c.cut_us THEN 1 ELSE 0 END) AS BIGINT) AS c1
      FROM cuts c, u GROUP BY c.k, c.cut_us
    ),
    zc AS (
      SELECT k, cut_us, n0, c0, n1, c1,
             CASE WHEN n0 > 0 AND n1 > 0 AND c0 + c1 > 0 AND c0 + c1 < n0 + n1
                  THEN (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                        - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                       / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                              * (1.0 - CAST(c0 + c1 AS DOUBLE)
                                       / CAST(n0 + n1 AS DOUBLE))
                              * (1.0 / CAST(n0 AS DOUBLE)
                                 + 1.0 / CAST(n1 AS DOUBLE)))
                  ELSE NULL END AS z
      FROM interim
    ),
    b(k, boundary) AS (VALUES {bounds}),
    marked AS (
      SELECT zc.k AS k, cut_us, n0, c0, n1, c1, z, boundary,
             COALESCE(abs(z) > boundary, FALSE) AS crossed
      FROM zc JOIN b ON b.k = zc.k
    )
    SELECT k, cut_us, n0, c0, n1, c1, z, boundary, crossed,
           CAST(MAX(CASE WHEN crossed THEN 1 ELSE 0 END)
                OVER (ORDER BY k ROWS UNBOUNDED PRECEDING) AS BOOLEAN)
             AS stopped_by_k
    FROM marked ORDER BY k
    """


@query("q249_group_sequential", oracle=_q249_oracle(), category="inference")
def q249(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events")
    # ONE corpus pass: the per-user aggregate also carries each user's
    # max timestamp, so the experiment span folds from the (small) user
    # frame instead of a second events scan
    u = ev.groupBy("user_id").agg(
        F.first(F.expr(h31("'gs-' || CAST(user_id AS STRING)")) % 2).alias("arm"),
        F.min(F.unix_micros("ts")).alias("seen_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 250.0),
                F.unix_micros("ts"),
            )
        ).alias("conv_us"),
    ).transform(tracked_persist)
    span = u.agg(F.min("seen_us").alias("t0"), F.max("last_us").alias("t1"))
    cuts = span.select(
        F.explode(F.sequence(F.lit(1), F.lit(_GS_K))).alias("k"), "t0", "t1"
    ).select(
        "k", (F.col("t0") + F.expr(f"((t1 - t0) * k) div {_GS_K}")).alias("cut_us")
    )
    j = u.drop("last_us").crossJoin(F.broadcast(cuts))
    flag = lambda cond: F.sum(cond.cast("long"))  # noqa: E731
    interim = j.groupBy("k", "cut_us").agg(
        flag((F.col("arm") == 0) & (F.col("seen_us") <= F.col("cut_us"))).alias("n0"),
        flag((F.col("arm") == 0) & (F.col("conv_us") <= F.col("cut_us"))).alias("c0"),
        flag((F.col("arm") == 1) & (F.col("seen_us") <= F.col("cut_us"))).alias("n1"),
        flag((F.col("arm") == 1) & (F.col("conv_us") <= F.col("cut_us"))).alias("c1"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    pool = (d("c0") + d("c1")) / (d("n0") + d("n1"))
    ok = (
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("c0") + F.col("c1") > 0)
        & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1"))
    )
    z = F.when(
        ok,
        (d("c1") / d("n1") - d("c0") / d("n0"))
        / F.sqrt(pool * (F.lit(1.0) - pool) * (F.lit(1.0) / d("n0") + F.lit(1.0) / d("n1"))),
    )
    b = interim.sparkSession.createDataFrame(
        [(k + 1, v) for k, v in enumerate(_GS_BOUNDS)], "k long, boundary double"
    )
    marked = (
        interim.withColumn("z", z)
        .join(F.broadcast(b), "k")
        .withColumn(
            "crossed", F.coalesce(F.abs(F.col("z")) > F.col("boundary"), F.lit(False))
        )
    )
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)  # 5-row frame
    return (
        marked.withColumn(
            "stopped_by_k",
            F.max(F.col("crossed").cast("int")).over(w).cast("boolean"),
        )
        .select(
            "k", "cut_us", "n0", "c0", "n1", "c1", "z", "boundary",
            "crossed", "stopped_by_k",
        )
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# q259 — deterministic k-means over EMBEDDING VECTORS (Lloyd, k=4,
# 2 unrolled iterations): the semantic-clustering primitive behind
# semantic dedup, topic bucketing, and DSIR-style domain assignment.
# Positioned against q160/operators.kmeans: q160 runs the full
# to-fixpoint loop over two scalar integer features and certifies it
# with PROPERTY booleans (fixpoint/mass/non-empty — the strongest
# check for an unbounded-round loop); this query fixes the round count
# so the whole algorithm is SQL-expressible and the oracle REPLAYS
# both Lloyd rounds cell-for-cell over the 64-dim array column — the
# value-level verification the fixpoint form cannot have. Float k-means is NOT cross-engine reproducible (row
# order changes every float centroid sum), so the whole algorithm
# runs on an integer grid: coordinates quantize to micros ONCE, every
# distance is an exact BIGINT sum of squares, centroid updates are
# integer mean (truncating div — identical in Spark and DuckDB,
# verified on negatives), seeds are the k lowest vec_ids, and
# ties assign to the lowest centroid id. Two engines, bit-identical
# clusters by construction — and the oracle replays both Lloyd
# rounds in SQL to prove it.
#
# 100 TB shape: assignment is MAP-SIDE ONLY — the k x d centroid
# table is collected (k*d = 256 longs, a bounded driver scalar like
# q67's centroids) and embedded as literal arrays, the Spark analogue
# of MLlib's per-iteration centroid broadcast; the update is one
# posexplode -> (cid, pos) aggregate whose partial (map-side) combine
# reduces the shuffle to k*d rows per task. Inertia sums squared
# micro-distances in DECIMAL(38,0) (passes 2^63 at ~500k vectors) and
# surfaces as the correctly-rounded DOUBLE.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_KM_K = 4
_KM_D = 64


def _km_trunc_div(s: int, c: int) -> int:
    """Truncate-toward-zero integer division (Spark `div` / DuckDB `//`
    semantics; Python's // floors, which differs on negatives)."""
    q = abs(s) // c
    return q if s >= 0 else -q


def _km_dist_expr(vec: list[int]) -> str:
    lits = ", ".join(f"CAST({x} AS BIGINT)" for x in vec)
    return (
        f"aggregate(zip_with(v, array({lits}), (a, b) -> (a - b) * (a - b)), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def _km_assign(e: DataFrame, centroids: list[tuple[int, list[int]]]) -> DataFrame:
    """Map-side argmin over literal centroid arrays: (vec_id, v, cid,
    dist), ties to the lowest cid via struct ordering."""
    struct_arr = F.array(
        *[
            F.struct(
                F.expr(_km_dist_expr(vec)).alias("dist"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, vec in centroids
        ]
    )
    best = F.array_min(struct_arr)
    return e.select(
        "vec_id", "v", best["cid"].alias("cid"), best["dist"].alias("dist")
    )


def _km_update(assigned: DataFrame) -> list[tuple[int, list[int]]]:
    """Integer-mean centroid update; k*d bounded collect (the
    broadcast-back of Lloyd's iteration)."""
    rows = (
        assigned.select("cid", F.posexplode("v").alias("pos", "val"))
        .groupBy("cid", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("c"))
        .collect()
    )
    acc: dict[int, list[int]] = {}
    for r in rows:
        acc.setdefault(r.cid, [0] * _KM_D)[r.pos] = _km_trunc_div(r.s, r.c)
    return sorted(acc.items())


def _km_fit(spark: SparkSession, sf: str):
    """The shared Spark side of the 2-round integer-grid Lloyd fit:
    quantize to the micros grid, seed with the k lowest vec_ids, one
    assign + integer-mean update round. Returns ``(e, c1)`` — the
    persisted quantized frame and the round-2 centroid literals —
    exactly the model :func:`_km_duck_ctes` replays in SQL, shared by
    q259 (cluster certificate) and q297 (silhouette audit)."""
    e = (
        t(spark, sf, "embeddings")
        .select(
            "vec_id",
            F.expr(
                "transform(embedding, "
                "x -> CAST(floor(1000000.0 * CAST(x AS DOUBLE)) AS BIGINT))"
            ).alias("v"),
        )
        .transform(tracked_persist)
    )
    seeds = e.orderBy("vec_id").limit(_KM_K).collect()  # k vectors: bounded
    c0 = [(i, list(r.v)) for i, r in enumerate(seeds)]
    c1 = _km_update(_km_assign(e, c0))
    return e, c1


def _km_duck_dist(va: str, vb: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {_KM_D}), "
        f"i -> ({va}[i] - {vb}[i]) * ({va}[i] - {vb}[i])))"
    )


def _km_duck_ctes() -> str:
    """The shared DuckDB replay of the 2-round integer-grid Lloyd fit
    (quantize -> seed -> assign -> integer-mean update): CTE chain
    ending at ``c1`` (the round-2 centroids). q259 and q297 both build
    on this text, so their oracles cannot train a different model."""
    dist = _km_duck_dist
    return f"""e AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(1000000.0 * CAST(x AS DOUBLE)) AS BIGINT)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v
      FROM e ORDER BY vec_id LIMIT {_KM_K}
    ),
    a1 AS (
      SELECT e.vec_id, e.v, c.cid, {dist('e.v', 'c.v')} AS dist
      FROM e CROSS JOIN c0 c
      QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY dist, c.cid) = 1
    ),
    cm AS (
      SELECT a1.cid, gs.i, SUM(a1.v[gs.i]) // COUNT(*) AS coord
      FROM a1 CROSS JOIN generate_series(1, {_KM_D}) AS gs(i)
      GROUP BY a1.cid, gs.i
    ),
    c1 AS (SELECT cid, list(coord ORDER BY i) AS v FROM cm GROUP BY cid)"""


def _q259_oracle() -> str:
    dist = _km_duck_dist
    return f"""
    WITH {_km_duck_ctes()},
    a2 AS (
      SELECT e.vec_id, c.cid, {dist('e.v', 'c.v')} AS dist
      FROM e CROSS JOIN c1 c
      QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY dist, c.cid) = 1
    )
    SELECT a2.cid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(a2.vec_id) AS BIGINT) AS id_checksum,
           CAST(SUM(CAST(a2.dist AS HUGEINT)) AS DOUBLE) AS inertia,
           CAST(MIN(cs.coord_sum) AS BIGINT) AS centroid_coord_sum
    FROM a2
    JOIN (SELECT cid, list_sum(v) AS coord_sum FROM c1 GROUP BY cid, v) cs
      ON cs.cid = a2.cid
    GROUP BY a2.cid
    ORDER BY a2.cid
    """


@query(
    "q259_kmeans_embeddings",
    oracle=_q259_oracle(),
    category="similarity",
    doc="integer-grid Lloyd k-means (k=4, 2 rounds): map-side assignment, broadcast centroids, bit-identical clusters",
)
def q259(spark: SparkSession, sf: str) -> DataFrame:
    e, c1 = _km_fit(spark, sf)
    a2 = _km_assign(e, c1)
    csums = spark.createDataFrame(
        [(cid, sum(vec)) for cid, vec in c1], "cid long, centroid_coord_sum long"
    )
    return (
        a2.groupBy("cid")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("vec_id").alias("id_checksum"),
            F.sum(F.col("dist").cast("decimal(38,0)")).cast("double").alias(
                "inertia"
            ),
        )
        .join(F.broadcast(csums), "cid")
        .select("cid", "n_vecs", "id_checksum", "inertia", "centroid_coord_sum")
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# q297 — simplified-silhouette audit of the q259 clustering (the
# centroid silhouette of Hruschka et al. 2004 / the "simplified
# silhouette" in scikit-learn's ancestry): for each vector, a = the
# Euclidean distance to its OWN centroid and b = the distance to the
# NEAREST OTHER centroid; s = (b - a) / max(a, b). The full Rousseeuw
# 1987 silhouette needs all pairwise distances — O(n^2) and a
# scale-killer by construction — while the centroid form is the
# standard large-n surrogate and is exactly what a 100 TB cluster-
# quality gate can afford: assignment distances are already computed
# map-side against k literal centroids, so the audit is FREE beyond
# one extra array_sort over k structs per row. Because assignment is
# argmin over the same centroids, a <= b always and s = 1 - sqrt(a/b)
# in [0, 1] (the simplified form cannot go negative — documented
# property, not a bug). Distances stay exact BIGINTs on the micros
# grid; s is one identical sqrt/divide tree floored to micros per row
# (deterministic double from two exact integers), and per-cluster
# means are INTEGER sums of those per-row micros divided with `div` —
# no order-dependent float accumulation anywhere.
#
# Ties (two centroids at identical distance) order by cid on both
# engines: array_sort on (dist, cid) structs == ORDER BY dist, cid.
# Both-zero distances (vector ON two coincident centroids) yield
# s = 0 via the same CASE guard.
#
# 100 TB shape: the model fit is q259's (vocab-bounded collects,
# broadcast-literal centroids); the audit itself is ONE map-side
# projection + a k-row groupBy. Reference delegates analytics to
# Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


def _q297_oracle() -> str:
    dist = _km_duck_dist
    return f"""
    WITH {_km_duck_ctes()},
    ad AS (
      SELECT e.vec_id, c.cid, {dist('e.v', 'c.v')} AS dist
      FROM e CROSS JOIN c1 c
    ),
    rk AS (
      SELECT vec_id, cid, dist,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM ad
    ),
    sil AS (
      SELECT b.cid,
             CASE WHEN s.dist = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(floor(1000000.0 * (1.0 - sqrt(
                         CAST(b.dist AS DOUBLE) / CAST(s.dist AS DOUBLE))))
                       AS BIGINT) END AS s_micros
      FROM rk b JOIN rk s ON s.vec_id = b.vec_id AND s.rn = 2
      WHERE b.rn = 1
    )
    SELECT cid,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_micros) AS BIGINT) AS sil_sum_micros,
           CAST(SUM(s_micros) // COUNT(*) AS BIGINT) AS mean_sil_micros
    FROM sil GROUP BY cid ORDER BY cid
    """


@query(
    "q297_silhouette_audit",
    oracle=_q297_oracle(),
    category="similarity",
    doc="simplified (centroid) silhouette over the q259 k-means fit: map-side k-struct argsort, exact-integer distances, per-cluster micro-floored means",
)
def q297(spark: SparkSession, sf: str) -> DataFrame:
    e, c1 = _km_fit(spark, sf)
    ds = F.array_sort(
        F.array(
            *[
                F.struct(
                    F.expr(_km_dist_expr(vec)).alias("dist"),
                    F.lit(cid).cast("long").alias("cid"),
                )
                for cid, vec in c1
            ]
        )
    )
    sil = e.select(ds.alias("ds")).selectExpr(
        "element_at(ds, 1).cid AS cid",
        "CASE WHEN element_at(ds, 2).dist = 0 THEN CAST(0 AS BIGINT)"
        " ELSE CAST(floor(1000000.0 * (1.0 - sqrt("
        "CAST(element_at(ds, 1).dist AS DOUBLE)"
        " / CAST(element_at(ds, 2).dist AS DOUBLE)))) AS BIGINT) END AS s_micros",
    )
    return (
        sil.groupBy("cid")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum("s_micros").alias("sil_sum_micros"),
        )
        .select(
            "cid",
            "n_vecs",
            "sil_sum_micros",
            F.expr("sil_sum_micros div n_vecs").alias("mean_sil_micros"),
        )
        .orderBy("cid")
    )
