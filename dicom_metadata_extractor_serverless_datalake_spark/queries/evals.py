"""Round-6 batch 6: model-eval & deployment-audit family (q216-q219).

Completes the eval suite around exact AUC (q165), nDCG (q184), ECE
(q182), the confusion matrix (q175) and retention/attribution
readouts with four audits a model-serving pipeline runs before and
after deployment:

- q216 is the Matryoshka truncation audit (Kusupati et al. 2022): how
  much cosine fidelity survives keeping only the first half of each
  embedding — cos(full, first-half-padded) reduces algebraically to
  sqrt(head energy / total energy), so the readout is the per-label
  distribution of the head-energy share. The dimension-ordered energy
  sums are the one float reduction; both engines fold each vector's
  array in index order (deterministic), then integer-aggregate the
  floored per-vector micros.
- q217 is the Brier score with its Murphy (1973) decomposition
  REL - RES + UNC over the score's exact value domain — the
  reliability/resolution split that says WHY a Brier score is bad
  where q182's ECE only says HOW FAR calibration is off. All bin
  terms come from exact integer counts; the three bin-domain float
  sums fold in identical sorted order (the q182 pattern).
- q218 is the cumulative-gains (lift) table: users ranked by exact
  integer spend, cut into deciles over a unique total order, with the
  cumulative share of converters captured per decile — the targeting
  readout behind "the top 20% of scores hold 60% of converters".
- q219 is split-conformal coverage (Vovk; Angelopoulos & Bates 2023):
  a deterministic hash split into calibration/test, the exact
  ceil((n+1)(1-alpha)) calibration order statistic as the conformal
  quantile (computed over value-domain counts, never a per-row sort),
  and the achieved test coverage against the 1 - alpha = 90% target.

The reference delegates all analytics to Athena
(/root/reference/src/app.py:97-189). Exactness conventions as in
quality.py/mixture.py/behavior.py.

100 TB shapes: q216 is one map-side array fold per row + a |labels|
aggregate; q217 one value-domain count aggregate + an 11-element
ordered fold; q218 one exact per-user aggregate, a global rank over
24-byte rows, a 10-row rollup; q219 two conditional value-domain
count aggregates + one cumulative window over the score domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.cachetrack import tracked_persist
from ..vectors import EmbeddingSet
from .base import query, sql_query, t

# --------------------------------------------------------------------------
# q216 — Matryoshka truncation audit. head-energy share per vector =
# sum(first 32 dims squared) / sum(all 64 squared); the per-vector
# arrays fold in index order on both engines, the shares floor to
# micros, and everything after is exact integer aggregation per label.
# --------------------------------------------------------------------------

_MAT_D = 32  # head dims retained (of 64)


@query(
    "q216_matryoshka_audit",
    oracle=f"""
    WITH v AS (
      SELECT label,
             list_reduce(list_transform(list_slice(embedding, 1, {_MAT_D}),
                                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                         (a, b) -> a + b) AS eh,
             list_reduce(list_transform(embedding,
                                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                         (a, b) -> a + b) AS ef
      FROM embeddings
    ),
    m AS (
      SELECT label,
             CAST(floor(1000000.0 * (eh / ef)) AS BIGINT) AS share
      FROM v WHERE ef > 0
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(share) // count(*) AS BIGINT) AS avg_share_micros,
           CAST(min(share) AS BIGINT) AS min_share_micros,
           CAST(max(share) AS BIGINT) AS max_share_micros
    FROM m GROUP BY label ORDER BY label
    """,
    category="evals",
    doc="Matryoshka head-energy share per label (cosine fidelity of truncation)",
)
def q216(spark: SparkSession, sf: str) -> DataFrame:
    emb = EmbeddingSet(t(spark, sf, "embeddings"), label_col="label")
    return emb.truncation_audit(head_dims=_MAT_D).orderBy("label")


# --------------------------------------------------------------------------
# q217 — Brier score + Murphy decomposition over the exact 11-value
# score domain (the q182 setup: score = l_discount, outcome =
# returnflag 'R'). REL = sum n_k/N (s_k - ybar_k)^2,
# RES = sum n_k/N (ybar_k - ybar)^2, UNC = ybar (1 - ybar),
# Brier = REL - RES + UNC. Bin folds in sorted order on both engines.
# --------------------------------------------------------------------------

_REL_TERM = (
    "(CAST(x.n AS DOUBLE) / nt) * (x.s - CAST(x.p AS DOUBLE) / x.n)"
    " * (x.s - CAST(x.p AS DOUBLE) / x.n)"
)
_RES_TERM = (
    "(CAST(x.n AS DOUBLE) / nt) * (CAST(x.p AS DOUBLE) / x.n - yb)"
    " * (CAST(x.p AS DOUBLE) / x.n - yb)"
)


@query(
    "q217_brier_decomposition",
    oracle=f"""
    WITH b AS (
      SELECT l_discount AS s, count(*) AS n,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS p
      FROM lineitem GROUP BY 1
    ),
    a AS (
      SELECT CAST(sum(n) AS BIGINT) AS nt0, CAST(sum(p) AS BIGINT) AS pt,
             list(struct_pack(s := s, n := n, p := p) ORDER BY s) AS arr
      FROM b
    ),
    f AS (
      SELECT CAST(nt0 AS DOUBLE) AS nt,
             CAST(pt AS DOUBLE) / CAST(nt0 AS DOUBLE) AS yb, arr,
             nt0
      FROM a
    )
    SELECT CAST(nt0 AS BIGINT) AS n_total,
           CAST(floor(1000000.0 * (yb * (CAST(1 AS DOUBLE) - yb))) AS BIGINT)
             AS unc_micros,
           CAST(floor(1000000.0 * list_reduce(
             list_transform(arr, x -> {_REL_TERM}), (a, b) -> a + b))
             AS BIGINT) AS rel_micros,
           CAST(floor(1000000.0 * list_reduce(
             list_transform(arr, x -> {_RES_TERM}), (a, b) -> a + b))
             AS BIGINT) AS res_micros,
           CAST(floor(1000000.0 * (list_reduce(
               list_transform(arr, x -> {_REL_TERM}), (a, b) -> a + b)
             - list_reduce(
               list_transform(arr, x -> {_RES_TERM}), (a, b) -> a + b)
             + (yb * (CAST(1 AS DOUBLE) - yb)))) AS BIGINT) AS brier_micros
    FROM f
    """,
    category="evals",
    doc="Brier score with Murphy reliability/resolution/uncertainty split",
)
def q217(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").select(
        F.col("l_discount").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    b = li.groupBy("s").agg(F.count("*").alias("n"), F.sum("y").alias("p"))
    a = b.agg(
        F.sum("n").alias("nt0"),
        F.sum("p").alias("pt"),
        F.sort_array(F.collect_list(F.struct("s", "n", "p"))).alias("arr"),
    )
    f = a.select(
        F.col("nt0"),
        F.expr("CAST(nt0 AS DOUBLE)").alias("nt"),
        F.expr("CAST(pt AS DOUBLE) / CAST(nt0 AS DOUBLE)").alias("yb"),
        "arr",
    )
    rel = f"aggregate(arr, CAST(0 AS DOUBLE), (a, x) -> a + {_REL_TERM})"
    res = f"aggregate(arr, CAST(0 AS DOUBLE), (a, x) -> a + {_RES_TERM})"
    return f.select(
        F.col("nt0").cast("bigint").alias("n_total"),
        F.expr(
            "CAST(floor(1000000.0 * (yb * (CAST(1 AS DOUBLE) - yb))) AS BIGINT)"
        ).alias("unc_micros"),
        F.expr(f"CAST(floor(1000000.0 * {rel}) AS BIGINT)").alias("rel_micros"),
        F.expr(f"CAST(floor(1000000.0 * {res}) AS BIGINT)").alias("res_micros"),
        F.expr(
            f"CAST(floor(1000000.0 * ({rel} - {res}"
            f" + (yb * (CAST(1 AS DOUBLE) - yb)))) AS BIGINT)"
        ).alias("brier_micros"),
    )


# --------------------------------------------------------------------------
# q218 — cumulative-gains table: users ranked by exact total spend
# (integer cents), decile cut over the unique (spend DESC, user_id)
# order, cumulative converter share per decile. ntile(10) over a
# unique total order assigns identical buckets on both engines.
# --------------------------------------------------------------------------

_SPEND = (
    "CAST(SUM(CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)) AS BIGINT)"
)


sql_query(
    "q218_cumulative_gains",
    f"""
    WITH u AS (
      SELECT user_id, {_SPEND} AS spend,
             CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converter
      FROM events GROUP BY 1
    ),
    d AS (
      SELECT user_id, spend, converter,
             ntile(10) OVER (ORDER BY spend DESC, user_id) AS decile
      FROM u
    ),
    g AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converter) AS BIGINT) AS converters,
             CAST(sum(spend) AS BIGINT) AS spend_cents
      FROM d GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(converters) AS BIGINT) AS ct FROM g)
    SELECT decile, n_users, converters, spend_cents,
           CAST(SUM(converters) OVER (ORDER BY decile
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_converters,
           CASE WHEN ct > 0 THEN
             CAST(floor(1000000.0 * (CAST(SUM(converters) OVER (ORDER BY decile
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(ct AS DOUBLE)))
                  AS BIGINT)
           ELSE CAST(NULL AS BIGINT) END AS cum_gain_micros
    FROM g CROSS JOIN tot
    ORDER BY decile
    """,
    category="evals",
    doc="decile cumulative-gains table over exact integer spend ranks",
)


# --------------------------------------------------------------------------
# q219 — split-conformal coverage audit per event type. Deterministic
# hash split (user_id % 5 = 0 -> calibration, else test);
# nonconformity score = the event's integer-cents value. The conformal
# quantile is the exact r-th calibration order statistic with
# r = ceil((n_cal + 1) * 0.9), found from cumulative value-domain
# counts (never a per-row sort); coverage = share of test scores
# <= q_hat, target 90%.
# --------------------------------------------------------------------------

_CENTS1 = "CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)"


@query(
    "q219_conformal_coverage",
    oracle=f"""
    WITH e AS (
      SELECT event_type, {_CENTS1} AS v,
             CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS is_cal
      FROM events
    ),
    vd AS (
      SELECT event_type, v,
             CAST(sum(is_cal) AS BIGINT) AS nc,
             CAST(sum(1 - is_cal) AS BIGINT) AS ns
      FROM e GROUP BY 1, 2
    ),
    cw AS (
      SELECT event_type, v, nc, ns,
             SUM(nc) OVER (PARTITION BY event_type ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS cum_c
      FROM vd
    ),
    n AS (
      SELECT event_type, CAST(sum(nc) AS BIGINT) AS n_cal,
             CAST(sum(ns) AS BIGINT) AS n_test
      FROM vd GROUP BY 1
    ),
    r AS (
      SELECT event_type, n_cal, n_test,
             CAST(((n_cal + 1) * 9 + 9) // 10 AS BIGINT) AS rank_r
      FROM n
    ),
    q AS (
      SELECT r.event_type, r.n_cal, r.n_test, r.rank_r,
             CAST(min(cw.v) AS BIGINT) AS qhat_cents
      FROM r JOIN cw ON cw.event_type = r.event_type
                    AND cw.cum_c >= r.rank_r
      GROUP BY 1, 2, 3, 4
    )
    SELECT q.event_type, q.n_cal, q.n_test, q.qhat_cents,
           CASE WHEN q.n_test > 0 THEN
             CAST(floor(1000000.0 * (CAST(
               (SELECT sum(ns) FROM vd WHERE vd.event_type = q.event_type
                                         AND vd.v <= q.qhat_cents)
               AS DOUBLE) / CAST(q.n_test AS DOUBLE))) AS BIGINT)
           ELSE CAST(NULL AS BIGINT) END AS coverage_micros
    FROM q ORDER BY q.event_type
    """,
    category="evals",
    doc="split-conformal quantile + achieved test coverage per event type",
)
def q219(spark: SparkSession, sf: str) -> DataFrame:
    e = t(spark, sf, "events").select(
        "event_type",
        F.expr(_CENTS1).alias("v"),
        F.expr("CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END").alias("is_cal"),
    )
    vd = e.groupBy("event_type", "v").agg(
        F.sum("is_cal").alias("nc"), F.sum(F.expr("1 - is_cal")).alias("ns")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cw = vd.select("event_type", "v", "nc", "ns", F.sum("nc").over(w).alias("cum_c"))
    n = vd.groupBy("event_type").agg(
        F.sum("nc").alias("n_cal"), F.sum("ns").alias("n_test")
    )
    r = n.select(
        "event_type",
        "n_cal",
        "n_test",
        F.expr("((n_cal + 1) * 9 + 9) div 10").alias("rank_r"),
    )
    q = (
        cw.join(F.broadcast(r), "event_type")
        .filter(F.col("cum_c") >= F.col("rank_r"))
        .groupBy("event_type", "n_cal", "n_test", "rank_r")
        .agg(F.min("v").alias("qhat_cents"))
    )
    cov = (
        vd.join(
            F.broadcast(q.select("event_type", "qhat_cents", "n_test")),
            "event_type",
        )
        .filter(F.col("v") <= F.col("qhat_cents"))
        .groupBy("event_type", "qhat_cents", "n_test")
        .agg(F.sum("ns").alias("covered"))
    )
    return (
        q.select("event_type", "n_cal", "n_test", "qhat_cents")
        .join(
            cov.select(
                "event_type",
                F.expr(
                    "CASE WHEN n_test > 0 THEN "
                    "CAST(floor(1000000.0 * (CAST(covered AS DOUBLE)"
                    " / CAST(n_test AS DOUBLE))) AS BIGINT) "
                    "ELSE CAST(NULL AS BIGINT) END"
                ).alias("coverage_micros"),
            ),
            "event_type",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q237 — Adjusted Rand Index (Hubert & Arabie 1985) between an
# UNSUPERVISED clustering (q146's deterministic seed-centroid
# assignment) and the label column: the chance-corrected clustering
# agreement that completes q232's kappa (which scores a CLASSIFIER
# against labels — ARI is invariant to cluster renumbering, kappa is
# not). All pair-counting terms come from the (cluster, label)
# contingency — sum C(nij,2), row/column margins, C(n,2) — exact
# integers on a <= K x |labels| domain whatever the corpus size; the
# final ARI is one identical double tree over those four scalars
# (their cross-products pass 2^63 at corpus scale, so the division
# runs in DOUBLE from the exact BIGINTs on both engines). Identical
# or independent degenerate partitions (den 0) yield NULL.
#
# 100 TB shape: broadcast K centroids, ONE map-side assignment pass,
# one (cid, label) count aggregate; everything after is grid math.
# --------------------------------------------------------------------------

_ARI_K = 8


def _ari_oracle() -> str:
    dot = (
        "list_reduce(list_transform(generate_series(1, len(e.embedding)), "
        "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(s.c[i] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    cnorm = (
        "list_reduce(list_transform(generate_series(1, len(s.c)), "
        "i -> CAST(s.c[i] AS DOUBLE) * CAST(s.c[i] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )
    return f"""
    WITH seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS c
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_ARI_K})
    ),
    dists AS (
      SELECT e.vec_id, e.label, s.cid,
             -2 * {dot} + {cnorm} AS d
      FROM embeddings e CROSS JOIN seeds s
    ),
    assign AS (
      SELECT vec_id, label, cid FROM (
        SELECT vec_id, label, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    cells AS (SELECT cid, label, COUNT(*) AS n FROM assign GROUP BY 1, 2),
    ij AS (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS sc_ij FROM cells),
    am AS (SELECT CAST(SUM(a * (a - 1) // 2) AS BIGINT) AS sc_a
           FROM (SELECT SUM(n) AS a FROM cells GROUP BY cid)),
    bm AS (SELECT CAST(SUM(b * (b - 1) // 2) AS BIGINT) AS sc_b
           FROM (SELECT SUM(n) AS b FROM cells GROUP BY label)),
    nn AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
                  CAST(SUM(n) * (SUM(n) - 1) // 2 AS BIGINT) AS comb_n
           FROM cells)
    SELECT n AS n_vectors, sc_ij AS sum_comb_ij, sc_a AS sum_comb_clusters,
           sc_b AS sum_comb_labels, comb_n,
           CASE WHEN CAST(comb_n AS DOUBLE) * (CAST(sc_a AS DOUBLE) + CAST(sc_b AS DOUBLE))
                     - 2.0 * CAST(sc_a AS DOUBLE) * CAST(sc_b AS DOUBLE) <> 0
                THEN (2.0 * CAST(comb_n AS DOUBLE) * CAST(sc_ij AS DOUBLE)
                      - 2.0 * CAST(sc_a AS DOUBLE) * CAST(sc_b AS DOUBLE))
                     / (CAST(comb_n AS DOUBLE) * (CAST(sc_a AS DOUBLE) + CAST(sc_b AS DOUBLE))
                        - 2.0 * CAST(sc_a AS DOUBLE) * CAST(sc_b AS DOUBLE))
                END AS ari
    FROM ij, am, bm, nn
    """


@query(
    "q237_adjusted_rand",
    oracle=_ari_oracle(),
    category="evals",
    doc="Adjusted Rand Index: seed-centroid clusters vs labels, exact pair counts",
)
def q237(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ann import _nearest_centroids

    emb = t(spark, sf, "embeddings")
    w = Window.orderBy("vec_id")
    seeds = (
        emb.orderBy("vec_id")
        .limit(_ARI_K)
        .select(
            (F.row_number().over(w) - 1).alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    assign = _nearest_centroids(emb, seeds, "embedding", n=1, out_col="cid")
    cells = assign.groupBy("cid", "label").agg(F.count("*").alias("n"))
    ij = cells.agg(F.sum(F.expr("n * (n - 1) div 2")).alias("sc_ij"))
    am = (
        cells.groupBy("cid")
        .agg(F.sum("n").alias("a"))
        .agg(F.sum(F.expr("a * (a - 1) div 2")).alias("sc_a"))
    )
    bm = (
        cells.groupBy("label")
        .agg(F.sum("n").alias("b"))
        .agg(F.sum(F.expr("b * (b - 1) div 2")).alias("sc_b"))
    )
    nn = cells.agg(
        F.sum("n").alias("n"),
        F.expr("CAST(sum(n) * (sum(n) - 1) div 2 AS BIGINT)").alias("comb_n"),
    )
    joined = (
        nn.crossJoin(F.broadcast(ij))
        .crossJoin(F.broadcast(am))
        .crossJoin(F.broadcast(bm))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    den = d("comb_n") * (d("sc_a") + d("sc_b")) - F.lit(2.0) * d("sc_a") * d("sc_b")
    num = F.lit(2.0) * d("comb_n") * d("sc_ij") - F.lit(2.0) * d("sc_a") * d("sc_b")
    return joined.select(
        F.col("n").alias("n_vectors"),
        F.col("sc_ij").alias("sum_comb_ij"),
        F.col("sc_a").alias("sum_comb_clusters"),
        F.col("sc_b").alias("sum_comb_labels"),
        "comb_n",
        F.when(den != 0, num / den).alias("ari"),
    )


# --------------------------------------------------------------------------
# q245 — Benjamini-Hochberg FDR control over a family of per-hour
# behavior-mix tests. An eval pipeline that screens 24 hourly cohorts
# (or 10k prompts, or 500 slices) for distribution drift runs one
# hypothesis test per cohort; rejecting every p < 0.05 inflates false
# discoveries, and BH (Benjamini & Hochberg 1995) is the standard
# step-up correction: sort p ascending, find the largest k with
# p_(k) <= k*q/m, reject ranks 1..k.
#
# Per hour: 3-cell goodness-of-fit (browse=click+view, convert=
# purchase+signup, error) against the global mix -> chi-square with 2
# dof. The 2-dof choice is deliberate: chi2(2) survival is EXACTLY
# exp(-x/2), so p_(k) <= k*q/m is equivalent to chi2_(k) >= -2*ln(k*q/m)
# and the 24 thresholds are Python-precomputed integer-micro LITERALS —
# no transcendental evaluated engine-side, so Spark and DuckDB compare
# the same integers and the rejection set is bit-portable. m = 24 is
# the fixed family size (the clock), q = 0.10. Chi-square terms follow
# the repo convention: each (o-e)^2/e floored to micros, then integer-
# summed; ranking ties break by hour.
#
# 100 TB shape: one (hour, cell) count aggregate over the corpus, then
# 24-row arithmetic — windows and joins touch dimension-sized frames
# only. Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_BH_Q = 0.10  # FDR level the frozen thresholds below encode
_BH_M = 24  # fixed family size (the clock)
# floor(1e6 * -2*ln(k*q/m)) for k = 1..m, FROZEN as integer literals:
# deriving them at import via math.log would reintroduce the host-libm
# dependence the design avoids (a 1-ulp ln difference near a floor
# boundary would change the rejection set across machines). The
# derivation is pinned by test_q245_bh_thresholds_match_derivation,
# which asserts these equal the math.log computation ON THE TEST HOST —
# drift on any host surfaces as a test failure, not a silent decision
# change.
_BH_THR_MICROS = [
    10961277, 9574983, 8764053, 8188689, 7742402, 7377758, 7069457,
    6802394, 6566828, 6356107, 6165487, 5991464, 5831379, 5683163,
    5545177, 5416100, 5294851, 5180534, 5072399, 4969813, 4872232,
    4779192, 4690289, 4605170,
]

_BH_CELL = (
    "CASE WHEN event_type IN ('click', 'view') THEN 'browse' "
    "WHEN event_type IN ('purchase', 'signup') THEN 'convert' "
    "ELSE 'error' END"
)


def _q245_oracle() -> str:
    thr_rows = ", ".join(f"({k + 1}, {t})" for k, t in enumerate(_BH_THR_MICROS))
    return f"""
    WITH ev AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour, {_BH_CELL} AS cell
      FROM events
    ),
    obs AS (SELECT hour, cell, CAST(COUNT(*) AS BIGINT) AS o FROM ev GROUP BY 1, 2),
    nh AS (SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_events FROM ev GROUP BY 1),
    gc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS g FROM ev GROUP BY 1),
    gt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ev),
    grid AS (SELECT nh.hour, nh.n_events, gc.cell, gc.g, gt.t FROM nh, gc, gt),
    terms AS (
      SELECT grid.hour, grid.n_events,
             CAST(floor(1000000.0 * (
               (COALESCE(o.o, 0) - CAST(grid.n_events AS DOUBLE) * grid.g / grid.t)
               * (COALESCE(o.o, 0) - CAST(grid.n_events AS DOUBLE) * grid.g / grid.t)
               / (CAST(grid.n_events AS DOUBLE) * grid.g / grid.t))) AS BIGINT) AS m
      FROM grid LEFT JOIN obs o ON o.hour = grid.hour AND o.cell = grid.cell
    ),
    chi AS (
      SELECT hour, MIN(n_events) AS n_events, CAST(SUM(m) AS BIGINT) AS chi2_micros
      FROM terms GROUP BY hour
    ),
    ranked AS (
      SELECT hour, n_events, chi2_micros,
             CAST(row_number() OVER (ORDER BY chi2_micros DESC, hour) AS BIGINT) AS p_rank
      FROM chi
    ),
    thr(k, thr_micros) AS (VALUES {thr_rows}),
    marked AS (
      SELECT r.*, (r.chi2_micros >= t.thr_micros) AS passes
      FROM ranked r JOIN thr t ON t.k = r.p_rank
    ),
    kmax AS (SELECT MAX(CASE WHEN passes THEN p_rank END) AS k FROM marked)
    SELECT m.hour, m.n_events, m.chi2_micros, m.p_rank,
           COALESCE(m.p_rank <= kmax.k, FALSE) AS rejected
    FROM marked m, kmax ORDER BY hour
    """


@query("q245_fdr_bh", oracle=_q245_oracle(), category="evals")
def q245(spark: SparkSession, sf: str) -> DataFrame:
    ev = t(spark, sf, "events").select(
        F.hour("ts").cast("int").alias("hour"), F.expr(_BH_CELL).alias("cell")
    )
    # the ONE corpus-sized aggregate; everything below sums the <=72-row
    # obs frame (persisted so nh/gc/gt don't re-derive the corpus scan)
    obs = ev.groupBy("hour", "cell").agg(F.count("*").alias("o")).transform(tracked_persist)
    nh = obs.groupBy("hour").agg(F.sum("o").alias("n_events"))
    gc = obs.groupBy("cell").agg(F.sum("o").alias("g"))
    gt = obs.agg(F.sum("o").alias("t"))
    grid = nh.crossJoin(F.broadcast(gc)).crossJoin(F.broadcast(gt))
    e = F.col("n_events").cast("double") * F.col("g") / F.col("t")
    o = F.coalesce(F.col("o"), F.lit(0))
    term = F.floor(F.lit(1000000.0) * ((o - e) * (o - e) / e)).cast("long")
    chi = (
        grid.join(obs, ["hour", "cell"], "left")
        .select("hour", "n_events", term.alias("m"))
        .groupBy("hour")
        .agg(F.min("n_events").alias("n_events"), F.sum("m").alias("chi2_micros"))
    )
    w = Window.orderBy(F.col("chi2_micros").desc(), "hour")  # 24-row frame
    ranked = chi.withColumn("p_rank", F.row_number().over(w).cast("long"))
    thr = ranked.sparkSession.createDataFrame(
        [(k + 1, t_) for k, t_ in enumerate(_BH_THR_MICROS)], "k long, thr_micros long"
    )
    marked = ranked.join(
        F.broadcast(thr), ranked["p_rank"] == thr["k"]
    ).withColumn("passes", F.col("chi2_micros") >= F.col("thr_micros"))
    # step-up cutoff as a whole-frame window max (24 rows) — one lineage,
    # no self-join that would re-evaluate the aggregate subtree
    whole = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    kmax = F.max(F.when(F.col("passes"), F.col("p_rank"))).over(whole)
    return (
        marked.withColumn("kx", kmax)
        .select(
            "hour",
            "n_events",
            "chi2_micros",
            "p_rank",
            F.coalesce(F.col("p_rank") <= F.col("kx"), F.lit(False)).alias("rejected"),
        )
        .orderBy("hour")
    )
