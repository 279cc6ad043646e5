"""Round-6 batch 7: estimator-calibration & privacy-completion audits
(q220-q221).

- q220 is the MinHash estimator calibration: for every q52 LSH
  candidate pair, the signature-agreement Jaccard ESTIMATE (matching
  components / 16) side by side with the EXACT shingle-set Jaccard
  and the absolute error. This is the readout that justifies
  `TextCorpus.dedup_near(verify='estimate')` — the 10x-cheaper verify
  mode is only safe if the estimator's error distribution is tight at
  the decision threshold, and that distribution is exactly what this
  query measures on live data. Both quantities are rationals floored
  to micros; the estimate reuses q52's EXACT permutation algebra
  (operators/dedup.py PERM_A/PERM_B), so the oracle replays it verbatim.
- q221 is the t-closeness audit (Li, Li & Venkatasubramanian 2007),
  completing the privacy trio with q214 (k-anonymity) and q215
  (l-diversity): per quasi-identifier class, the Earth Mover's
  Distance between the class's distribution of an ORDERED sensitive
  attribute (order priority, ordinal 1..5) and the global
  distribution — equal to the mean |cumulative-share difference| over
  the m-1 interior domain boundaries. Every term is an exact
  cross-multiplied rational floored to micros before the integer sum,
  so the readout is bit-portable. A class can pass k and l yet sit
  far from the global distribution (attribute disclosure); this is
  the query that finds those classes.

The reference delegates all analytics to Athena
(/root/reference/src/app.py:97-189). Exactness conventions as in
quality.py/mixture.py.

100 TB shapes: q220 = q52's banding (the corpus's flagship dedup
shape) + two hash-keyed joins confined to CANDIDATES, never all
pairs; q221 = one (QI, sensitive)-keyed count aggregate, then
dimension-sized grids (|classes| x 5 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cachetrack import tracked_persist
from ..operators.dedup import NUM_PERM, h31, shingle_digests, shingle_tokens
from ..pipeline import TextCorpus
from .base import query, t
from .llm import _minhash_band_pairs, _minhash_pairs_cte, duck_h31


# --------------------------------------------------------------------------
# q220 — MinHash estimate vs exact Jaccard on the q52 candidate pairs.
# --------------------------------------------------------------------------


def _q220_oracle() -> str:
    matches = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERM)
    )
    return (
        _minhash_pairs_cte()
        + f""",
    sizes AS (SELECT doc_id, CAST(count(DISTINCT hs) AS BIGINT) AS n
              FROM h GROUP BY 1),
    shared AS (
      SELECT p.d1, p.d2, CAST(count(DISTINCT ha.hs) AS BIGINT) AS both_n
      FROM pairs p
      JOIN h ha ON ha.doc_id = p.d1
      JOIN h hb ON hb.doc_id = p.d2 AND hb.hs = ha.hs
      GROUP BY 1, 2
    ),
    est AS (
      SELECT p.d1, p.d2, CAST({matches} AS BIGINT) AS matches
      FROM pairs p
      JOIN mh a ON a.doc_id = p.d1
      JOIN mh b ON b.doc_id = p.d2
    ),
    m AS (
      SELECT e.d1, e.d2,
             CAST(floor(1000000.0 * (CAST(e.matches AS DOUBLE)
                  / CAST({NUM_PERM} AS DOUBLE))) AS BIGINT) AS est_micros,
             CAST(floor(1000000.0 * (CAST(s.both_n AS DOUBLE)
                  / CAST(na.n + nb.n - s.both_n AS DOUBLE))) AS BIGINT)
               AS exact_micros
      FROM est e
      JOIN shared s ON s.d1 = e.d1 AND s.d2 = e.d2
      JOIN sizes na ON na.doc_id = e.d1
      JOIN sizes nb ON nb.doc_id = e.d2
    )
    SELECT d1, d2, est_micros, exact_micros,
           abs(est_micros - exact_micros) AS abs_err_micros
    FROM m ORDER BY d1, d2
    """
    )


@query(
    "q220_minhash_calibration",
    oracle=_q220_oracle(),
    category="dedup",
    doc="signature-agreement estimate vs exact Jaccard on LSH candidates",
)
def q220(spark: SparkSession, sf: str) -> DataFrame:
    return TextCorpus(t(spark, sf, "documents")).neardup_calibration().orderBy("d1", "d2")


# --------------------------------------------------------------------------
# q221 — t-closeness: per QI class, EMD between the class's ordinal
# sensitive distribution and the global one. With shares p_k (class)
# and q_k (global) over the ordered domain 1..m, EMD = (1/(m-1)) *
# sum over interior boundaries of |P_k - Q_k| where P/Q are cumulative
# shares. Per-boundary term: |cum_c * N - cum_g * n_c| / (n_c * N) —
# exact integers cross-multiplied, floored to micros, integer-summed,
# divided by (m-1) via integer div.
# --------------------------------------------------------------------------

_BAL_BAND = "CAST(CAST(c_acctbal AS DECIMAL(28,2)) * 100 AS BIGINT) div 100000"
_BAL_BAND_DUCK = "CAST(CAST(c_acctbal AS DECIMAL(28,2)) * 100 AS BIGINT) // 100000"
_SENS_ORD = "CAST(substr(o_orderpriority, 1, 1) AS BIGINT)"


@query(
    "q221_t_closeness",
    oracle=f"""
    WITH qi AS (
      SELECT c_custkey, c_nationkey, c_mktsegment, {_BAL_BAND_DUCK} AS bal_band
      FROM customer
    ),
    rows_ AS (
      SELECT qi.c_nationkey, qi.c_mktsegment, qi.bal_band,
             {_SENS_ORD} AS sens
      FROM qi JOIN orders o ON o.o_custkey = qi.c_custkey
    ),
    cs AS (
      SELECT c_nationkey, c_mktsegment, bal_band, sens,
             CAST(count(*) AS BIGINT) AS c
      FROM rows_ GROUP BY 1, 2, 3, 4
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, bal_band, CAST(sum(c) AS BIGINT) AS nc
      FROM cs GROUP BY 1, 2, 3
    ),
    gl AS (SELECT sens, CAST(sum(c) AS BIGINT) AS g FROM cs GROUP BY 1),
    nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cs),
    grid AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.bal_band, cls.nc,
             gl.sens, gl.g, COALESCE(cs.c, 0) AS c
      FROM cls CROSS JOIN gl
      LEFT JOIN cs ON cs.c_nationkey = cls.c_nationkey
                  AND cs.c_mktsegment = cls.c_mktsegment
                  AND cs.bal_band = cls.bal_band
                  AND cs.sens = gl.sens
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, bal_band, nc, sens,
             SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band
                          ORDER BY sens ROWS UNBOUNDED PRECEDING) AS cum_c,
             SUM(g) OVER (PARTITION BY c_nationkey, c_mktsegment, bal_band
                          ORDER BY sens ROWS UNBOUNDED PRECEDING) AS cum_g
      FROM grid
    ),
    terms AS (
      SELECT c_nationkey, c_mktsegment, bal_band, nc,
             CAST(floor(1000000.0 * (CAST(abs(cum_c * n - cum_g * nc) AS DOUBLE)
                  / (CAST(nc AS DOUBLE) * CAST(n AS DOUBLE)))) AS BIGINT) AS term
      FROM cum CROSS JOIN nt
      WHERE sens < (SELECT max(sens) FROM gl)
    )
    SELECT c_nationkey, c_mktsegment, bal_band, nc AS n_rows,
           CAST(sum(term) // ((SELECT count(*) FROM gl) - 1) AS BIGINT)
             AS t_micros
    FROM terms GROUP BY 1, 2, 3, 4
    ORDER BY t_micros DESC, c_nationkey, c_mktsegment, bal_band
    LIMIT 20
    """,
    category="privacy",
    doc="t-closeness EMD of ordinal sensitive attribute per QI class",
)
def q221(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    qi = t(spark, sf, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.expr(_BAL_BAND).alias("bal_band"),
    )
    rows_ = (
        t(spark, sf, "orders")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.expr(_SENS_ORD).alias("sens"),
        )
        .join(qi, "c_custkey")
    )
    cs = rows_.groupBy("c_nationkey", "c_mktsegment", "bal_band", "sens").agg(
        F.count("*").alias("c")
    )
    cls = cs.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.sum("c").alias("nc")
    )
    gl = cs.groupBy("sens").agg(F.sum("c").alias("g"))
    nt = cs.agg(F.sum("c").alias("n"))
    m_sens = gl.agg(
        F.max("sens").alias("max_sens"), F.count("*").alias("m")
    )
    grid = (
        cls.crossJoin(F.broadcast(gl))
        .join(cs, ["c_nationkey", "c_mktsegment", "bal_band", "sens"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "nc",
            "sens",
            "g",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment", "bal_band")
        .orderBy("sens")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "nc",
        "sens",
        F.sum("c").over(w).alias("cum_c"),
        F.sum("g").over(w).alias("cum_g"),
    )
    terms = (
        cum.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(m_sens))
        .filter(F.col("sens") < F.col("max_sens"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            "nc",
            "m",
            F.expr(
                "CAST(floor(1000000.0 * (CAST(abs(cum_c * n - cum_g * nc) AS DOUBLE)"
                " / (CAST(nc AS DOUBLE) * CAST(n AS DOUBLE)))) AS BIGINT)"
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("c_nationkey", "c_mktsegment", "bal_band", "nc", "m")
        .agg(F.sum("term").alias("_t"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_band",
            F.col("nc").alias("n_rows"),
            F.expr("_t div (m - 1)").alias("t_micros"),
        )
        .orderBy(
            F.col("t_micros").desc(), "c_nationkey", "c_mktsegment", "bal_band"
        )
        .limit(20)
    )


# --------------------------------------------------------------------------
# q240 — LSH blocking-recall audit (round 7): q52's banded candidates
# measured against the COMPLETE exact shingle-Jaccard >= 0.8 pair set —
# recall (what fraction of true near-dup pairs the bands surface) next
# to the reduction ratio (what fraction of the n-choose-2 pair space
# the bands prune away). q220 calibrates the MinHash ESTIMATE on pairs
# the bands already found; this is the other half of the
# blocking-evaluation story — the pairs the bands MISS. Ground truth
# is exact-complete without LSH: J >= 0.8 > 0 forces >= 1 shared
# shingle, so a shingle-keyed equi-join with the lossless 5*min >=
# 4*max size prefilter (min/max set-size ratio >= J) enumerates every
# qualifying pair; the threshold test is the integer cross-
# multiplication 10*both >= 8*union. At 100 TB the truth side is the
# expensive half (it exists to audit the cheap half) — run it on a
# hash-sampled corpus slice the q72 way; the registered form keeps the
# full set so the oracle can certify it. q242 below is that production
# (sampled-truth) form, registered with its own oracle.
# --------------------------------------------------------------------------


def _q240_oracle() -> str:
    return f"""{_minhash_pairs_cte()},
    hd AS (SELECT DISTINCT doc_id, hs FROM h),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM hd GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS both_n
      FROM hd a JOIN hd b ON a.hs = b.hs AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT s.d1, s.d2
      FROM shared s
      JOIN sizes sa ON sa.doc_id = s.d1
      JOIN sizes sb ON sb.doc_id = s.d2
      WHERE s.both_n * 10 >= (sa.n + sb.n - s.both_n) * 8
    ),
    hit AS (
      SELECT t.d1 FROM truth t JOIN pairs p ON p.d1 = t.d1 AND p.d2 = t.d2
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sizes) AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth_pairs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hits
    )
    SELECT n_docs, n_truth_pairs, n_candidates, n_hits,
           CASE WHEN n_truth_pairs > 0
                THEN CAST(1000000 * n_hits // n_truth_pairs AS BIGINT)
                END AS recall_micros,
           CASE WHEN n_docs >= 2
                THEN CAST(1000000 * (n_docs * (n_docs - 1) // 2 - n_candidates)
                          // (n_docs * (n_docs - 1) // 2) AS BIGINT)
                END AS reduction_micros
    FROM agg
    """


@query(
    "q240_blocking_recall",
    oracle=_q240_oracle(),
    category="evals",
    doc="LSH band recall vs the exact-complete Jaccard>=0.8 pair set + reduction ratio",
)
def q240(spark: SparkSession, sf: str) -> DataFrame:
    hd = shingle_digests(shingle_tokens(t(spark, sf, "documents")))
    sizes = hd.groupBy("doc_id").agg(F.count("*").alias("n"))
    hd2 = hd.join(sizes, "doc_id")
    a, b = hd2.alias("a"), hd2.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.hs") == F.col("b.hs"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # lossless at J >= 0.8: min/max set-size ratio >= J
            & (F.col("a.n") * 5 >= F.col("b.n") * 4)
            & (F.col("b.n") * 5 >= F.col("a.n") * 4),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("both_n"))
    )
    truth = shared.filter(
        F.col("both_n") * 10 >= (F.col("na") + F.col("nb") - F.col("both_n")) * 8
    ).select("d1", "d2")
    candidates = _minhash_band_pairs(spark, sf)
    hits = truth.join(candidates, ["d1", "d2"], "left_semi")
    nd = sizes.agg(F.count("*").alias("n_docs"))
    nt = truth.agg(F.count("*").alias("n_truth_pairs"))
    nc = candidates.agg(F.count("*").alias("n_candidates"))
    nh = hits.agg(F.count("*").alias("n_hits"))
    out = (
        nd.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
    )
    return out.select(
        "n_docs",
        "n_truth_pairs",
        "n_candidates",
        "n_hits",
        F.when(
            F.col("n_truth_pairs") > 0,
            F.expr("1000000 * n_hits div n_truth_pairs"),
        ).alias("recall_micros"),
        F.when(
            F.col("n_docs") >= 2,
            F.expr(
                "1000000 * (n_docs * (n_docs - 1) div 2 - n_candidates)"
                " div (n_docs * (n_docs - 1) div 2)"
            ),
        ).alias("reduction_micros"),
    )


# --------------------------------------------------------------------------
# q242 — blocking-recall audit, PRODUCTION (sampled-truth) form. q240's
# exact ground truth is a complete shared-shingle self-join — measured
# to exhaust shuffle disk at 500k docs (BASELINE.md round-7 batch 7),
# so it cannot be the form that runs at 100 TB. This variant draws a
# deterministic hash sample of the corpus (the q72 pattern:
# h31('s242-' || doc_id) % 100 < 30) and computes the SAME exact truth
# join restricted to the slice — quadratic cost falls by 1/rate^2
# (~11x at 30%) and keeps falling as the rate is turned down at scale.
# Band signatures are per-doc, so the LSH candidate pairs computed over
# the slice are exactly the full-corpus candidate set restricted to
# in-slice pairs: recall measured here is an unbiased estimate of
# corpus recall over pair space. The readout carries the estimator
# bound — the Wilson 95% lower bound on recall (q233's IEEE tree,
# floored to micros) — so a consumer sees not just the point estimate
# but the worst recall the sample is consistent with.
# 100 TB shape: one linear shingle scan over the slice, one
# size-prefiltered shingle equi-join bounded by the slice, one banded
# equi-join bounded by the slice; all shuffles carry (digest, id).
# --------------------------------------------------------------------------

_Q242_SAMPLE_PCT = 30


def _q242_oracle() -> str:

    sample_pred = (
        f"{duck_h31(chr(39) + 's242-' + chr(39) + ' || CAST(doc_id AS VARCHAR)')}"
        f" % 100 < {_Q242_SAMPLE_PCT}"
    )
    src = f"(SELECT doc_id, text FROM documents WHERE {sample_pred})"
    return f"""{_minhash_pairs_cte(src)},
    hd AS (SELECT DISTINCT doc_id, hs FROM h),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM hd GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS both_n
      FROM hd a JOIN hd b ON a.hs = b.hs AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT s.d1, s.d2
      FROM shared s
      JOIN sizes sa ON sa.doc_id = s.d1
      JOIN sizes sb ON sb.doc_id = s.d2
      WHERE s.both_n * 10 >= (sa.n + sb.n - s.both_n) * 8
    ),
    hit AS (
      SELECT t.d1 FROM truth t JOIN pairs p ON p.d1 = t.d1 AND p.d2 = t.d2
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sizes) AS n_docs_sampled,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth_pairs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_candidates,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hits
    )
    SELECT n_docs_sampled, n_truth_pairs, n_candidates, n_hits,
           CASE WHEN n_truth_pairs > 0
                THEN CAST(1000000 * n_hits // n_truth_pairs AS BIGINT)
                END AS recall_micros,
           CASE WHEN n_truth_pairs > 0 THEN CAST(floor(1000000.0 * (
             ((CAST(n_hits AS DOUBLE) / CAST(n_truth_pairs AS DOUBLE)
               + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                 / (2.0 * CAST(n_truth_pairs AS DOUBLE)))
              - 1.96 * sqrt((CAST(n_hits AS DOUBLE) / CAST(n_truth_pairs AS DOUBLE))
                            * (1.0 - CAST(n_hits AS DOUBLE) / CAST(n_truth_pairs AS DOUBLE))
                              / CAST(n_truth_pairs AS DOUBLE)
                            + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                              / (4.0 * CAST(n_truth_pairs AS DOUBLE)
                                     * CAST(n_truth_pairs AS DOUBLE))))
             / (1.0 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
                      / CAST(n_truth_pairs AS DOUBLE))
           )) AS BIGINT) END AS wilson_lb_micros
    FROM agg
    """


@query(
    "q242_blocking_recall_sampled",
    oracle=_q242_oracle(),
    category="evals",
    doc="LSH band recall on a 30% hash slice: exact truth within the sample + Wilson 95% lower bound",
)
def q242(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents").filter(
        F.expr(h31("concat('s242-', CAST(doc_id AS STRING))")) % 100
        < _Q242_SAMPLE_PCT
    )
    hd = shingle_digests(shingle_tokens(docs))
    sizes = hd.groupBy("doc_id").agg(F.count("*").alias("n"))
    hd2 = hd.join(sizes, "doc_id")
    a, b = hd2.alias("a"), hd2.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.hs") == F.col("b.hs"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # lossless at J >= 0.8: min/max set-size ratio >= J
            & (F.col("a.n") * 5 >= F.col("b.n") * 4)
            & (F.col("b.n") * 5 >= F.col("a.n") * 4),
        )
        .groupBy(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("both_n"))
    )
    truth = shared.filter(
        F.col("both_n") * 10 >= (F.col("na") + F.col("nb") - F.col("both_n")) * 8
    ).select("d1", "d2")
    candidates = _minhash_band_pairs(spark, sf, docs=docs)
    hits = truth.join(candidates, ["d1", "d2"], "left_semi")
    nd = sizes.agg(F.count("*").alias("n_docs_sampled"))
    nt = truth.agg(F.count("*").alias("n_truth_pairs"))
    nc = candidates.agg(F.count("*").alias("n_candidates"))
    nh = hits.agg(F.count("*").alias("n_hits"))
    out = (
        nd.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
    )
    ntd = F.col("n_truth_pairs").cast("double")
    p = F.col("n_hits").cast("double") / ntd
    z2 = F.lit(1.96) * F.lit(1.96)
    center = p + z2 / (F.lit(2.0) * ntd)
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / ntd + z2 / (F.lit(4.0) * ntd * ntd)
    )
    denom = F.lit(1.0) + z2 / ntd
    return out.select(
        "n_docs_sampled",
        "n_truth_pairs",
        "n_candidates",
        "n_hits",
        F.when(
            F.col("n_truth_pairs") > 0,
            F.expr("1000000 * n_hits div n_truth_pairs"),
        ).alias("recall_micros"),
        F.when(
            F.col("n_truth_pairs") > 0,
            F.floor(F.lit(1000000.0) * ((center - half) / denom)).cast("bigint"),
        ).alias("wilson_lb_micros"),
    )


# --------------------------------------------------------------------------
# q251 — LSH S-curve parameter sweep: for every banding of the 16-perm
# signature ((bands, rows) in {16x1, 8x2, 4x4, 2x8, 1x16}), the
# expected candidate-catch mass over the OBSERVED pair-similarity
# spectrum. P(collide | J) = 1 - (1 - J^r)^b is the textbook S-curve;
# evaluated pointwise on the exact shingle Jaccard of every q52
# candidate pair, it turns the abstract curve into THIS corpus's
# tuning table — which factorization catches the J >= 0.8 mass without
# dragging in the weak-similarity tail. Completes the blocking-audit
# trio: q220 scores the estimator, q240/q242 measure achieved recall,
# q251 predicts recall for the parameterizations NOT run.
#
# Determinism: J is one exact integer ratio per pair; the powers are
# LEFT-ASSOCIATIVE multiplication chains (r, b <= 16) written
# identically in both engines — no pow(), no libm; per-pair P floors
# to micros and aggregates as integer sums.
#
# 100 TB shape: q52's banding + the q220-style candidate-confined
# exact-Jaccard joins; the sweep itself adds 5 aggregate branches over
# the (small) scored-pair frame, persisted once.
# --------------------------------------------------------------------------

_SCURVE_GRID = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]  # (bands, rows)


def _chain(expr: str, n: int) -> str:
    """Left-associative n-fold product of ``expr`` (identical parse in
    Spark SQL and DuckDB)."""
    out = expr
    for _ in range(n - 1):
        out = f"({out} * {expr})"
    return out


def _q251_oracle(src: str = "documents") -> str:
    branches = []
    for b, r in _SCURVE_GRID:
        jr = _chain("jac", r)
        p = f"(CAST(1 AS DOUBLE) - {_chain(f'(CAST(1 AS DOUBLE) - {jr})', b)})"
        branches.append(f"""
      SELECT {b} AS bands, {r} AS rows_per_band,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(floor(1000000.0 * {p}) AS BIGINT)) AS BIGINT)
               AS expected_caught_micros,
             CAST(SUM(CASE WHEN strong THEN 1 ELSE 0 END) AS BIGINT) AS strong_pairs,
             CAST(SUM(CASE WHEN strong
                  THEN CAST(floor(1000000.0 * {p}) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS expected_caught_strong_micros
      FROM j""")
    union = "\n      UNION ALL".join(branches)
    return (
        _minhash_pairs_cte(src)
        + f""",
    sizes AS (SELECT doc_id, CAST(count(DISTINCT hs) AS BIGINT) AS n
              FROM h GROUP BY 1),
    shared AS (
      SELECT p.d1, p.d2, CAST(count(DISTINCT ha.hs) AS BIGINT) AS both_n
      FROM pairs p
      JOIN h ha ON ha.doc_id = p.d1
      JOIN h hb ON hb.doc_id = p.d2 AND hb.hs = ha.hs
      GROUP BY 1, 2
    ),
    j AS (
      SELECT s.d1, s.d2,
             CAST(s.both_n AS DOUBLE) / CAST(na.n + nb.n - s.both_n AS DOUBLE)
               AS jac,
             s.both_n * 10 >= (na.n + nb.n - s.both_n) * 8 AS strong
      FROM shared s
      JOIN sizes na ON na.doc_id = s.d1
      JOIN sizes nb ON nb.doc_id = s.d2
    )
    SELECT * FROM ({union}) ORDER BY bands DESC
    """
    )


def _s_curve_frame(
    spark: SparkSession, sf: str, docs: DataFrame | None = None
) -> DataFrame:
    """The q251 sweep over ``docs`` (full table when None). Band
    signatures are per-doc, so a filtered slice yields exactly the
    full-corpus candidate set restricted to in-slice pairs (the q242
    invariant) — q253 exploits this for the rate-bounded form."""
    from functools import reduce

    if docs is None:
        docs = t(spark, sf, "documents")
    h = shingle_digests(shingle_tokens(docs))
    pairs = _minhash_band_pairs(spark, sf, docs=docs)
    sizes = h.groupBy("doc_id").agg(F.countDistinct("hs").alias("n"))
    shared = (
        pairs.join(h.alias("ha"), F.col("ha.doc_id") == F.col("d1"))
        .join(
            h.alias("hb"),
            (F.col("hb.doc_id") == F.col("d2")) & (F.col("hb.hs") == F.col("ha.hs")),
        )
        .groupBy("d1", "d2")
        .agg(F.countDistinct("ha.hs").alias("both_n"))
    )
    na = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("nb"))
    union_n = F.col("na") + F.col("nb") - F.col("both_n")
    # no broadcast hint on the per-doc sizes joins: locally AQE
    # broadcasts them anyway; at billions of docs they exceed any
    # broadcast budget and the planner must be free to shuffle
    # (estimate_verify's documented rationale — q220 does the same)
    j = (
        shared.join(na, "d1")
        .join(nb, "d2")
        .select(
            (F.col("both_n").cast("double") / union_n.cast("double")).alias("jac"),
            (F.col("both_n") * 10 >= union_n * 8).alias("strong"),
        )
        .transform(tracked_persist)
    )
    one = F.lit(1.0)
    branches = []
    for b, r in _SCURVE_GRID:
        jr = reduce(lambda acc, _: acc * F.col("jac"), range(r - 1), F.col("jac"))
        miss = one - jr
        p = one - reduce(lambda acc, _: acc * miss, range(b - 1), miss)
        pm = F.floor(F.lit(1000000.0) * p).cast("long")
        branches.append(
            j.agg(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.count("*").alias("n_pairs"),
                F.sum(pm).alias("expected_caught_micros"),
                F.sum(F.col("strong").cast("long")).alias("strong_pairs"),
                F.sum(F.when(F.col("strong"), pm).otherwise(F.lit(0))).alias(
                    "expected_caught_strong_micros"
                ),
            )
        )
    out = branches[0]
    for br in branches[1:]:
        out = out.unionByName(br)
    return out.orderBy(F.col("bands").desc())


@query(
    "q251_lsh_s_curve",
    oracle=_q251_oracle(),
    category="dedup",
    doc="expected catch mass of every 16-perm banding over the observed pair spectrum",
)
def q251(spark: SparkSession, sf: str) -> DataFrame:
    return _s_curve_frame(spark, sf)


# --------------------------------------------------------------------------
# q253 — the PRODUCTION (rate-bounded) form of q251. The exact sweep
# scores EVERY LSH candidate pair (measured 734.7 s cold at 500k docs,
# BASELINE.md round-7 batch 8 — audit-class cost that grows with the
# candidate set), so like q240 -> q242 the registered scale path is a
# deterministic hash slice: h31('s253-' || doc_id) % 100 < rate, the
# q72/q242 sampling pattern. Candidate pairs AND exact Jaccards are
# computed only within the slice; per-doc band signatures make the
# sliced candidate set exactly the full set restricted to in-slice
# pairs, so every per-banding expectation is an unbiased estimate of
# the full-corpus sweep over pair space and the quadratic scoring cost
# falls by rate^2 (~11x at 30%). Arithmetic is q251's verbatim —
# exact within the slice, bit-portable.
# --------------------------------------------------------------------------

_Q253_SAMPLE_PCT = 30


def _q253_src() -> str:
    pred = (
        f"{duck_h31(chr(39) + 's253-' + chr(39) + ' || CAST(doc_id AS VARCHAR)')}"
        f" % 100 < {_Q253_SAMPLE_PCT}"
    )
    return f"(SELECT doc_id, text FROM documents WHERE {pred})"


@query(
    "q253_lsh_s_curve_sampled",
    oracle=_q251_oracle(_q253_src()),
    category="dedup",
    doc="q251's banding sweep on a 30% hash slice: exact within the sample, cost bounded by rate^2",
)
def q253(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents").filter(
        F.expr(h31("concat('s253-', CAST(doc_id AS STRING))")) % 100
        < _Q253_SAMPLE_PCT
    )
    return _s_curve_frame(spark, sf, docs=docs)
