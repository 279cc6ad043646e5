"""Round-4 mining/IR additions: linear-sketch frequencies, exact
column similarity, sorted-neighborhood dedup, inverted indexing,
distribution-drift detection, hybrid rank fusion, winsorized robust
stats, and bloom-filter decontamination.

These extend the training-data-pipeline surface (SURVEY.md §2.B,
LLM-pipeline extensions) past what the reference delegates to Athena
(the reference is a per-object ETL, /root/reference/src/app.py:97-189,
with no analytics of its own). Every query follows the corpus
conventions in queries/base.py: identical aliases both sides, exact
integer/fixed-point arithmetic wherever a float reduction would be
order-dependent, total orderings with unique tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ann import dot_sql, norm_sql
from ..operators.cachetrack import tracked_persist
from ..operators.dedup import h31
from ..operators.skew import spread_input
from ..pipeline import _AMS_D, ams_audit_tail, ams_sign_counters
from .base import dsum, dsum_expr, query, sql_dsum, sql_query, t

# --------------------------------------------------------------------------
# q132 — Count-Min sketch frequency estimates (operators/countmin.py),
# certified with the q122 exact+bound-boolean pattern: the probe set is
# the exact top-20 bigrams (deterministic tie-break), the sketch
# estimates each, and the output carries the exact count plus two
# booleans — ge_ok (CM can only over-count: est >= exact, guaranteed)
# and tight_ok (est <= exact + 8*N/width; per-probe failure probability
# (1/8)^depth = 3e-5 — the Cormode-Muthukrishnan Markov bound, far
# inside margin at every tested sf). The oracle emits the same exact
# counts with TRUE literals, so a missing key, an under-estimate, or a
# blown bound all hash-mismatch.
#
# Scale shape: the sketch is a fixed depth x width aggregate whatever N
# is — the build shuffles (r, bucket) int pairs after map-side partial
# aggregation, the probe side broadcasts the sketch. Complements q122
# (Misra-Gries: deterministic bound, no deletions) with the LINEAR
# sketch (mergeable by addition, supports weighted/negative updates).
# --------------------------------------------------------------------------

_CM_WIDTH = 1024
_CM_DEPTH = 5
_CM_TOPN = 20


@query(
    "q132_countmin_freq",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT ws[i] || ' ' || ws[i + 1] AS bigram
      FROM toks, unnest(generate_series(1, len(ws) - 1)) AS u(i)
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    cnt AS (SELECT bigram, count(*) AS n_exact FROM bg GROUP BY 1),
    top AS (
      SELECT bigram, n_exact FROM cnt
      ORDER BY n_exact DESC, bigram LIMIT {_CM_TOPN}
    )
    SELECT bigram, n_exact, TRUE AS ge_ok, TRUE AS tight_ok
    FROM top ORDER BY n_exact DESC, bigram
    """,
    category="sketch",
)
def q132(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.countmin import count_min_build, count_min_estimate

    ws = t(spark, sf, "documents").select(F.split("text", " ").alias("ws"))
    bg = ws.select(
        F.explode(
            F.filter(
                F.zip_with(
                    F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                    F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                    lambda a, b: F.when(
                        (a != "") & (b != ""), F.concat_ws(" ", a, b)
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("bigram")
    )
    sketch = count_min_build(bg, "bigram", _CM_WIDTH, _CM_DEPTH)
    exact = bg.groupBy("bigram").agg(F.count("*").alias("n_exact"))
    total = exact.agg(F.sum("n_exact").alias("n"))
    top = exact.orderBy(F.col("n_exact").desc(), "bigram").limit(_CM_TOPN)
    est = count_min_estimate(sketch, top, "bigram", _CM_WIDTH, _CM_DEPTH)
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "bigram",
            "n_exact",
            (F.col("est") >= F.col("n_exact")).alias("ge_ok"),
            (
                F.col("est") * F.lit(_CM_WIDTH)
                <= F.col("n_exact") * F.lit(_CM_WIDTH) + F.lit(8) * F.col("n")
            ).alias("tight_ok"),
        )
        .orderBy(F.col("n_exact").desc(), "bigram")
    )


# --------------------------------------------------------------------------
# q133 — all-pairs DIMENSION similarity of the embedding matrix via the
# exact gram operator (operators/gram.py): which embedding dimensions
# co-vary. The d x d gram A^T A is accumulated map-side in numpy (the
# A^T A / DIMSUM shape: shuffle volume d*(d+1)/2 integer cells PER
# PARTITION, independent of row count), each per-row product floored to
# a 1e-6 fixed-point grid so the sum is order-free-exact and an
# engine-independent oracle reproduces it bit-for-bit. Cosine between
# dimensions i,j = S_ij / sqrt(S_ii * S_jj) — derived from exact
# integers with only correctly-rounded IEEE ops (sqrt, div), so the
# doubles hash-match too.
# --------------------------------------------------------------------------

_GRAM_DIM = 64
_GRAM_SCALE = 6
_COLSIM_TOPK = 15


@query(
    "q133_dimension_colsim",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    g AS (
      SELECT a.i AS i, b.i AS j,
             SUM(CAST(floor(a.x * b.x * 1000000.0) AS DECIMAL(38,0))) AS s
      FROM v a JOIN v b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY 1, 2
    ),
    d AS (SELECT i, s AS sii FROM g WHERE i = j)
    SELECT g.i, g.j,
           CAST(g.s AS DOUBLE)
             / sqrt(CAST(da.sii AS DOUBLE) * CAST(db.sii AS DOUBLE)) AS cos_ij
    FROM g JOIN d da ON g.i = da.i JOIN d db ON g.j = db.i
    WHERE g.i < g.j
    ORDER BY abs(cos_ij) DESC, g.i, g.j
    LIMIT {_COLSIM_TOPK}
    """,
    category="similarity",
)
def q133(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.gram import gram_matrix

    g = gram_matrix(
        t(spark, sf, "embeddings"), "embedding", _GRAM_DIM, _GRAM_SCALE
    )
    diag = g.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d_i"), F.col("s").alias("sii")
    )
    cos = (
        g.filter(F.col("i") < F.col("j"))
        .join(F.broadcast(diag), F.col("i") == F.col("d_i"))
        .drop("d_i")
        .withColumnRenamed("sii", "sa")
        .join(F.broadcast(diag), F.col("j") == F.col("d_i"))
        .drop("d_i")
        .select(
            "i",
            "j",
            (
                F.col("s").cast("double")
                / F.sqrt(F.col("sa").cast("double") * F.col("sii").cast("double"))
            ).alias("cos_ij"),
        )
    )
    return cos.orderBy(F.abs(F.col("cos_ij")).desc(), "i", "j").limit(_COLSIM_TOPK)


# --------------------------------------------------------------------------
# q134 — sorted-neighborhood near-dup detection (Hernandez & Stolfo's
# merge/purge method): ONE global sort by a content key brings likely
# duplicates adjacent, each record pairs only with its w following
# neighbors (lead), and the exact Jaccard verify runs on that
# linear-size candidate set. The content key — the doc's sorted
# distinct-token string — is word-order-insensitive, so shuffled
# near-dups still sort together.
#
# This is the LINEAR-candidate alternative to LSH (q52): no banding
# tables, no signature tuning; cost is one range-partitioned sort +
# w*N candidate verifies. Neighbor pairing deliberately avoids the
# unpartitioned lead() window (Exchange SinglePartition): rows get
# parallel global positions (operators/rank.py — range partition +
# per-partition offsets), each row emits probe keys position+1..w, and
# ONE int equi-join recovers exactly the lead-window pairs, partition
# boundaries included. Verification reuses the q51 token-join confined
# to candidates.
# --------------------------------------------------------------------------

_SNM_W = 2
_SNM_TAU = 0.8


@query(
    "q134_sorted_neighborhood",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             substr(array_to_string(list_sort(list_distinct(
                 string_split(text, ' '))), ' '), 1, 40) AS k
      FROM documents
    ),
    ordered AS (
      SELECT doc_id, lead(doc_id, 1) OVER w AS n1, lead(doc_id, 2) OVER w AS n2
      FROM keyed WINDOW w AS (ORDER BY k, doc_id)
    ),
    cand AS (
      SELECT doc_id AS a, n1 AS b FROM ordered WHERE n1 IS NOT NULL
      UNION ALL
      SELECT doc_id AS a, n2 AS b FROM ordered WHERE n2 IS NOT NULL
    ),
    tok AS (
      SELECT doc_id, w, len(ws) AS n FROM (
        SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
        FROM documents
      ), unnest(ws) AS u(w)
    ),
    shared AS (
      SELECT c.a AS d1, c.b AS d2, ta.n AS na, tb.n AS nb,
             count(*) AS both_n
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.a
      JOIN tok tb ON tb.doc_id = c.b AND tb.w = ta.w
      GROUP BY 1, 2, 3, 4
    )
    SELECT least(d1, d2) AS d1, greatest(d1, d2) AS d2,
           CAST(both_n AS DOUBLE) / (na + nb - both_n) AS jac
    FROM shared
    WHERE CAST(both_n AS DOUBLE) / (na + nb - both_n) >= {_SNM_TAU}
    ORDER BY d1, d2
    """,
    category="dedup",
)
def q134(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.dedup import snm_candidates

    docs = t(spark, sf, "documents")
    cand = snm_candidates(docs, window=_SNM_W, key_chars=40)
    tok = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).alias("n"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    ta = tok.alias("ta")
    tb = tok.alias("tb")
    shared = (
        cand.join(ta, F.col("ta.doc_id") == F.col("a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("b")) & (F.col("tb.w") == F.col("ta.w")),
        )
        .groupBy(
            F.col("a").alias("d1_raw"),
            F.col("b").alias("d2_raw"),
            F.col("ta.n").alias("na"),
            F.col("tb.n").alias("nb"),
        )
        .agg(F.count("*").alias("both_n"))
    )
    jac = F.col("both_n").cast("double") / (
        F.col("na") + F.col("nb") - F.col("both_n")
    )
    return (
        shared.withColumn("jac", jac)
        .filter(F.col("jac") >= _SNM_TAU)
        .select(
            F.least("d1_raw", "d2_raw").alias("d1"),
            F.greatest("d1_raw", "d2_raw").alias("d2"),
            "jac",
        )
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# q135 — positional inverted index build: the IR core structure (term
# -> document frequency, total term frequency, top-scoring postings)
# as one exploded aggregation. Terms are word BIGRAMS (the unigram
# vocabulary of this corpus is tiny). The posting list is capped at
# the top 3 docs by (tf desc, doc_id desc), serialized to one
# comma-joined string per term: result columns must stay SCALAR so
# order-insensitive canonicalizers (pandas sort over object cells)
# can hash them — bare list cells are unhashable. At scale: explode ->
# one (term, doc) partial-agg shuffle -> one term agg; posting caps
# keep the reduced row bounded regardless of document count.
# --------------------------------------------------------------------------


@query(
    "q135_inverted_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS term
      FROM toks, unnest(generate_series(1, len(ws) - 1)) AS u(i)
      WHERE ws[i] <> '' AND ws[i + 1] <> ''
    ),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM bg GROUP BY 1, 2)
    SELECT term,
           count(*) AS n_docs,
           CAST(SUM(tf) AS BIGINT) AS tf_total,
           array_to_string((list(doc_id ORDER BY tf DESC, doc_id DESC))[1:3],
                           ',') AS top_docs
    FROM tf
    GROUP BY term
    HAVING count(*) >= 25
    ORDER BY term
    """,
    category="text",
)
def q135(spark: SparkSession, sf: str) -> DataFrame:
    ws = t(spark, sf, "documents").select("doc_id", F.split("text", " ").alias("ws"))
    bg = ws.select(
        "doc_id",
        F.explode(
            F.filter(
                F.zip_with(
                    F.slice("ws", 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                    F.slice("ws", 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                    lambda a, b: F.when(
                        (a != "") & (b != ""), F.concat_ws(" ", a, b)
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("term"),
    )
    tf = bg.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    return (
        tf.groupBy("term")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tf").alias("tf_total"),
            F.array_join(
                F.transform(
                    F.slice(
                        F.sort_array(
                            F.collect_list(F.struct("tf", "doc_id")), asc=False
                        ),
                        1,
                        3,
                    ),
                    lambda s: s.getField("doc_id").cast("string"),
                ),
                ",",
            ).alias("top_docs"),
        )
        .filter(F.col("n_docs") >= 25)
        .orderBy("term")
    )


# --------------------------------------------------------------------------
# q136 — day-over-day distribution drift via EXACT total-variation
# distance. TV(P_d, P_{d-1}) = 1/2 * sum_types |p - q| is the standard
# drift alarm for monitoring a production event pipeline; computed here
# with the integer cross-multiplication
#   sum |c_cur * N_prev - c_prev * N_cur| / (2 * N_cur * N_prev)
# so the reduction is an exact integer sum (order-free) and the single
# final division is a correctly-rounded IEEE op — hash-stable without
# any log/exp (KL's logs are libm-dependent across engines; TV is not).
#
# Scale shape: contributions are emitted twice (to the day itself and
# to the following day) in ONE pass — a union of two projections of the
# same per-(day,type) count table — then a single (day,type) shuffle
# and a day-level agg; day totals ride the same aggregates, no
# self-join of the fact table.
# --------------------------------------------------------------------------


@query(
    "q136_tv_drift",
    oracle="""
    WITH cnt AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    contrib AS (
      SELECT d, event_type, c AS cur, 0 AS prev FROM cnt
      UNION ALL
      SELECT d + 1, event_type, 0, c FROM cnt
    ),
    pairs AS (
      SELECT d, event_type, SUM(cur) AS cur, SUM(prev) AS prev
      FROM contrib GROUP BY 1, 2
    ),
    tot AS (
      SELECT d, SUM(cur) AS n_cur, SUM(prev) AS n_prev FROM pairs GROUP BY 1
    )
    SELECT p.d AS day,
           CAST(SUM(abs(p.cur * t.n_prev - p.prev * t.n_cur)) AS DOUBLE)
             / (2.0 * t.n_cur * t.n_prev) AS tv
    FROM pairs p JOIN tot t ON p.d = t.d
    WHERE t.n_cur > 0 AND t.n_prev > 0
    GROUP BY p.d, t.n_cur, t.n_prev
    ORDER BY day
    """,
    category="analytics",
)
def q136(spark: SparkSession, sf: str) -> DataFrame:
    cnt = (
        t(spark, sf, "events")
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("d"),
            "event_type",
        )
        .agg(F.count("*").alias("c"))
    )
    return tv_from_daily_counts(cnt)


def tv_from_daily_counts(cnt: DataFrame) -> DataFrame:
    """Exact day-over-day total-variation distance from a per-(day,
    type) count frame ``(d date, event_type, c long)`` — the algebra
    half of q136, shared with the streaming-executed q143 (which feeds
    it counts accumulated by a streaming window aggregation)."""
    contrib = cnt.select(
        "d", "event_type", F.col("c").alias("cur"), F.lit(0).alias("prev")
    ).unionAll(
        cnt.select(
            F.date_add("d", 1).alias("d"),
            "event_type",
            F.lit(0).alias("cur"),
            F.col("c").alias("prev"),
        )
    )
    pairs = contrib.groupBy("d", "event_type").agg(
        F.sum("cur").alias("cur"), F.sum("prev").alias("prev")
    )
    tot = pairs.groupBy("d").agg(
        F.sum("cur").alias("n_cur"), F.sum("prev").alias("n_prev")
    )
    return (
        pairs.join(F.broadcast(tot), "d")
        .filter((F.col("n_cur") > 0) & (F.col("n_prev") > 0))
        .groupBy(F.col("d").alias("day"), "n_cur", "n_prev")
        .agg(
            (
                F.sum(
                    F.abs(
                        F.col("cur") * F.col("n_prev")
                        - F.col("prev") * F.col("n_cur")
                    )
                ).cast("double")
                / (F.lit(2.0) * F.col("n_cur") * F.col("n_prev"))
            ).alias("tv")
        )
        .select("day", "tv")
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q137 — reciprocal-rank fusion of a keyword ranking and an embedding
# ranking (the standard hybrid-search combiner: RRF(d) = sum_r
# 1/(K + rank_r(d)), Cormack et al. SIGIR'09, K=60). The keyword score
# is an integer-scaled tf*idf (tf * (1e6*N div df) — integer div makes
# the per-term contribution and its sum exact and order-free); the
# embedding ranking is cosine vs a fixed probe vector via the q54
# sequential-reduce idiom. Ranks are integers; the fused score is a
# two-term sum of reciprocals written in fixed order — deterministic
# IEEE arithmetic, no float aggregation anywhere.
#
# Scale shape: keyword side is explode -> (term,doc) agg with the tiny
# probe-term df map broadcast; embedding side is a map-side score +
# one global window for rank (at 100 TB the global row_number becomes
# the parallel numbering of operators/rank.py; here the ranked set is
# already small). Inner join of two ranked lists on the shared id.
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_TERMS = ("query", "join", "window")
_RRF_PROBE_ID = 7
_RRF_TOPN = 20


@query(
    "q137_rrf_hybrid",
    oracle=f"""
    WITH n_docs AS (SELECT count(*) AS n FROM documents),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM tok
      WHERE w IN ('query', 'join', 'window') GROUP BY 1, 2
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    kw AS (
      SELECT tf.doc_id,
             SUM(tf.tf * ((1000000 * n.n) // df.df)) AS score
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n_docs n
      GROUP BY 1
    ),
    kwrank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r_kw
      FROM kw
    ),
    probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = {_RRF_PROBE_ID}),
    emb AS (
      SELECT e.vec_id,
             list_reduce(
               list_transform(generate_series(1, len(p.pe)),
                              i -> CAST(p.pe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(generate_series(1, len(p.pe)),
                                 i -> CAST(p.pe[i] AS DOUBLE) * CAST(p.pe[i] AS DOUBLE)),
                                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
                                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                                   (x, y) -> x + y)))
             AS cosine
      FROM embeddings e CROSS JOIN probe p
    ),
    embrank AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS r_emb
      FROM emb
    )
    SELECT k.doc_id, k.r_kw, e.r_emb,
           1.0 / ({_RRF_K} + k.r_kw) + 1.0 / ({_RRF_K} + e.r_emb) AS rrf
    FROM kwrank k JOIN embrank e ON e.vec_id = k.doc_id
    ORDER BY rrf DESC, k.doc_id
    LIMIT {_RRF_TOPN}
    """,
    category="similarity",
)
def q137(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    emb = t(spark, sf, "embeddings")
    n_docs = docs.agg(F.count("*").alias("n"))
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    tf = (
        tok.filter(F.col("w").isin(*_RRF_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    kw = (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.expr("(1000000 * n) div df")).alias("score")
        )
    )
    kwrank = kw.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .alias("r_kw"),
    )
    probe = emb.filter(F.col("vec_id") == _RRF_PROBE_ID).select(
        F.col("embedding").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(probe))
        .withColumn("dot", F.expr(dot_sql("qe", "embedding")))
        .withColumn("qn", F.expr(norm_sql("qe")))
        .withColumn("en", F.expr(norm_sql("embedding")))
        .select(
            "vec_id", (F.col("dot") / (F.col("qn") * F.col("en"))).alias("cosine")
        )
    )
    embrank = scored.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.col("cosine").desc(), "vec_id"))
        .alias("r_emb"),
    )
    fused = kwrank.join(embrank, F.col("vec_id") == F.col("doc_id")).select(
        "doc_id",
        "r_kw",
        "r_emb",
        (
            F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_kw"))
            + F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_emb"))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(_RRF_TOPN)


# --------------------------------------------------------------------------
# q138 — winsorized robust statistics per group: clip each value into
# its group's exact [p05, p95] percentile band, then recompute the mean
# over the clipped values. The outlier-robust summary every data-quality
# dashboard runs; two aggregation passes (the classic exact shape:
# percentile frame broadcast back onto the rows — same pattern as the
# q92 exact median). The clipped sum goes through dsum at scale 6
# (clip boundaries are interpolated doubles, so 2 decimals would sit on
# rounding boundaries; 6 puts the grid far below them).
# --------------------------------------------------------------------------


@query(
    "q138_winsorized_stats",
    oracle=f"""
    WITH pct AS (
      SELECT c_mktsegment,
             quantile_cont(c_acctbal, 0.05) AS p05,
             quantile_cont(c_acctbal, 0.95) AS p95
      FROM customer GROUP BY 1
    )
    SELECT c.c_mktsegment, p.p05, p.p95,
           count(*) AS n_rows,
           {sql_dsum('greatest(p.p05, least(p.p95, c.c_acctbal))', 'wins_sum', 6)},
           CAST(SUM(CAST(greatest(p.p05, least(p.p95, c.c_acctbal)) AS DECIMAL(28,6))) AS DOUBLE)
             / count(*) AS wins_mean
    FROM customer c JOIN pct p ON c.c_mktsegment = p.c_mktsegment
    GROUP BY 1, 2, 3
    ORDER BY c.c_mktsegment
    """,
    category="analytics",
)
def q138(spark: SparkSession, sf: str) -> DataFrame:
    cust = t(spark, sf, "customer")
    pct = cust.groupBy("c_mktsegment").agg(
        F.percentile("c_acctbal", F.lit(0.05)).alias("p05"),
        F.percentile("c_acctbal", F.lit(0.95)).alias("p95"),
    )
    clipped = cust.join(F.broadcast(pct), "c_mktsegment").withColumn(
        "wv", F.greatest("p05", F.least("p95", F.col("c_acctbal")))
    )
    return (
        clipped.groupBy("c_mktsegment", "p05", "p95")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("wv", "wins_sum", scale=6, max_abs=20000.0),
            (dsum_expr("wv", scale=6, max_abs=20000.0) / F.count("*")).alias(
                "wins_mean"
            ),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# q139 — bloom-filter decontamination: membership pruning against an
# eval/benchmark set WITHOUT shuffling the corpus against it. Texts
# are digested map-side (sha2-256 — the q50 exact-dedup convention:
# shuffles carry 64-char digests, never corpus bytes); the eval set's
# digests expand to k hash positions (a distributed bloom bitmap: the
# distinct position set, <= k*|S| ints, broadcast); corpus docs probe
# all k positions and only docs hitting ALL k are candidates — bloom
# guarantees zero false negatives, so the digest equi-join confined to
# candidates yields EXACTLY the true contamination count. The output
# is all-exact (doc/eval/contaminated/clean counts) — a dropped true
# positive would undercount n_contaminated and hash-mismatch, so the
# green row certifies the bloom path end-to-end. False positives only
# cost verify work and are removed by it.
#
# Scale: |bitmap| ~ k*|S| ints regardless of corpus size; the corpus
# side is one map-side digest+probe, a broadcast position join, and
# one candidate-confined digest join — the q82 broadcast
# decontamination shape with the membership test compressed to ints.
# --------------------------------------------------------------------------

_BLOOM_M = 1 << 17
_BLOOM_K = 4


@query(
    "q139_bloom_decontaminate",
    oracle="""
    WITH eval_set AS (
      SELECT DISTINCT text FROM documents WHERE doc_id % 7 = 0
    ),
    contam AS (
      SELECT count(*) AS n_contaminated
      FROM documents d WHERE EXISTS (
        SELECT 1 FROM eval_set e WHERE e.text = d.text
      )
    )
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           (SELECT count(*) FROM eval_set) AS n_eval,
           n_contaminated,
           (SELECT count(*) FROM documents) - n_contaminated AS n_clean
    FROM contam
    """,
    category="dedup",
)
def q139(spark: SparkSession, sf: str) -> DataFrame:

    docs = spread_input(t(spark, sf, "documents"), key="doc_id")
    dig = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("dg"))
    eval_set = dig.filter(F.col("doc_id") % 7 == 0).select("dg").distinct()

    def positions(col: str) -> F.Column:
        return F.array(
            *[
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(_BLOOM_M))
                for i in range(_BLOOM_K)
            ]
        )

    bitmap = eval_set.select(F.explode(positions("dg")).alias("pos")).distinct()
    probed = dig.select(
        "doc_id", "dg", F.posexplode(positions("dg")).alias("slot", "pos")
    )
    cand = (
        probed.join(F.broadcast(bitmap), "pos")
        .groupBy("doc_id", "dg")
        .agg(F.count("*").alias("hits"))
        .filter(F.col("hits") == _BLOOM_K)
        .select("doc_id", "dg")
    )
    contaminated = cand.join(
        eval_set.withColumnRenamed("dg", "edg"),
        F.col("dg") == F.col("edg"),
        "left_semi",
    ).select("doc_id", F.lit(1).alias("is_c"))
    # one aggregate over the flagged corpus — n_eval rides the same
    # pass as a conditional distinct count, so no 1-row scalar-attach
    # joins appear anywhere in the plan
    flags = dig.join(contaminated, "doc_id", "left")
    return flags.agg(
        F.count("*").alias("n_docs"),
        F.count_distinct(
            F.when(F.col("doc_id") % 7 == 0, F.col("dg"))
        ).alias("n_eval"),
        F.sum(F.coalesce(F.col("is_c"), F.lit(0))).alias("n_contaminated"),
        (
            F.count("*") - F.sum(F.coalesce(F.col("is_c"), F.lit(0)))
        ).alias("n_clean"),
    )


# --------------------------------------------------------------------------
# q140 — seasonal decomposition + anomaly flags on the daily event
# series: 7-day centered moving-average trend, day-of-week seasonal
# means, and a deviation flag — the monitoring pass every production
# ingest pipeline runs over its own volume metrics. All windows operate
# on the AGGREGATED daily frame (bounded by calendar days, not event
# count), so the global ordering is trivially small at any corpus
# scale; the raw-event pass is one groupBy(day). Exactness: window and
# group sums are integer counts; trend/seasonal means are single
# int/int divisions (correctly-rounded IEEE, engine-portable); the
# anomaly predicate |n - trend| > 0.1*trend, with trend = wsum/wcnt,
# multiplies through by wcnt to the all-integer form
# 10*|n*wcnt - wsum| > wsum, so the flag never touches floats.
# --------------------------------------------------------------------------


sql_query(
    "q140_seasonal_anomaly",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1
    ),
    trendw AS (
      SELECT day, n,
             SUM(n) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum,
             COUNT(n) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wcnt,
             dayofweek(day) AS dow
      FROM daily
    ),
    dows AS (
      SELECT dow, SUM(n) AS dsum, COUNT(*) AS dcnt
      FROM trendw GROUP BY 1
    )
    SELECT t.day, t.n,
           CAST(t.wsum AS DOUBLE) / t.wcnt AS trend,
           CAST(d.dsum AS DOUBLE) / d.dcnt AS dow_mean,
           (10 * abs(t.n * t.wcnt - t.wsum) > t.wsum) AS anomaly
    FROM trendw t JOIN dows d ON t.dow = d.dow
    ORDER BY t.day
    """,
    category="analytics",
)


# --------------------------------------------------------------------------
# q141 — equi-join cardinality estimation from two Count-Min sketches
# (operators/countmin.py count_min_inner_product): |customer JOIN
# supplier ON nationkey| priced WITHOUT touching either table beyond
# one sketch-building scan each — the fixed-size-summary join
# estimator an optimizer uses before committing to a join strategy.
# Certified with the exact+bound-boolean pattern: the exact join size
# is computed join-free as sum_key cntC(key)*cntS(key) (count both
# sides, join the 25-row count tables, sum products — never the rows);
# the CM estimate must satisfy est >= exact (guaranteed: collision
# cross-terms only add) and est <= exact + 8*Nc*Ns/width (Markov,
# failure (1/8)^depth = 3e-5). Scale: both sketches are depth x width
# cell tables whatever the table sizes; the estimate is a
# broadcast-sized sketch join.
# --------------------------------------------------------------------------

_JS_WIDTH = 64
_JS_DEPTH = 5


@query(
    "q141_join_size_sketch",
    oracle=f"""
    WITH cc AS (SELECT c_nationkey AS k, count(*) AS c FROM customer GROUP BY 1),
    ss AS (SELECT s_nationkey AS k, count(*) AS c FROM supplier GROUP BY 1),
    ex AS (
      SELECT CAST(SUM(cc.c * ss.c) AS BIGINT) AS exact_join_size
      FROM cc JOIN ss ON cc.k = ss.k
    )
    SELECT exact_join_size,
           (SELECT count(*) FROM customer) AS n_left,
           (SELECT count(*) FROM supplier) AS n_right,
           TRUE AS ge_ok, TRUE AS tight_ok
    FROM ex
    """,
    category="sketch",
)
def q141(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.countmin import count_min_build, count_min_inner_product

    cust = t(spark, sf, "customer").select(
        F.col("c_nationkey").cast("string").alias("k")
    )
    supp = t(spark, sf, "supplier").select(
        F.col("s_nationkey").cast("string").alias("k")
    )
    sa = count_min_build(cust, "k", _JS_WIDTH, _JS_DEPTH)
    sb = count_min_build(supp, "k", _JS_WIDTH, _JS_DEPTH)
    est = count_min_inner_product(sa, sb)

    cc = cust.groupBy("k").agg(F.count("*").alias("c"))
    ss = supp.groupBy("k").agg(F.count("*").alias("c_s"))
    exact = (
        cc.join(ss, "k")
        .agg(F.sum(F.col("c") * F.col("c_s")).alias("exact_join_size"))
    )
    nl = cust.agg(F.count("*").alias("n_left"))
    nr = supp.agg(F.count("*").alias("n_right"))
    return (
        exact.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(nr))
        .select(
            "exact_join_size",
            "n_left",
            "n_right",
            (F.col("est") >= F.col("exact_join_size")).alias("ge_ok"),
            (
                F.col("est") * F.lit(_JS_WIDTH)
                <= F.col("exact_join_size") * F.lit(_JS_WIDTH)
                + F.lit(8) * F.col("n_left") * F.col("n_right")
            ).alias("tight_ok"),
        )
    )


# --------------------------------------------------------------------------
# q142 — frequent brand pairs per order (market-basket mining with
# a-priori pruning): baskets are the distinct part brands per order;
# brands below the support floor are pruned BEFORE pair generation
# (the a-priori property: a pair can only be frequent if both members
# are), then each pruned basket emits its C(m,2) ordered pairs
# map-side from the sorted item array — no self-join of the exploded
# item table (the naive SQL shape, which shuffles items twice and
# blows up on large baskets pre-pruning). One collect_set shuffle +
# one pair-count shuffle; the frequent-singleton array is
# broadcast-attached. Support ratio is an int/int division.
# --------------------------------------------------------------------------

_MB_MINSUP = 40  # support floor = n_baskets / 40 (2.5%)


@query(
    "q142_frequent_pairs",
    oracle=f"""
    WITH it AS (
      SELECT DISTINCT l_orderkey, p_brand
      FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS nb FROM it),
    f1 AS (
      SELECT p_brand FROM it GROUP BY 1
      HAVING count(*) * {_MB_MINSUP} >= (SELECT nb FROM n)
    ),
    it2 AS (SELECT it.l_orderkey, it.p_brand FROM it JOIN f1 USING (p_brand)),
    pairs AS (
      SELECT a.p_brand AS b1, b.p_brand AS b2, count(*) AS supp
      FROM it2 a JOIN it2 b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT b1, b2, supp, CAST(supp AS DOUBLE) / nb AS support
    FROM pairs, n
    WHERE supp * {_MB_MINSUP} >= nb
    ORDER BY b1, b2
    """,
    category="analytics",
)
def q142(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    part = t(spark, sf, "part").select("p_partkey", "p_brand")
    it = li.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).select("l_orderkey", "p_brand")
    # collect_set dedupes within the basket, so no distinct shuffle of
    # the raw item rows precedes it (measured: the redundant distinct
    # was a full extra 60M-row exchange at 100x); singleton supports
    # derive map-side from the deduped basket arrays
    baskets = it.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("p_brand")).alias("items")
    )
    nb = baskets.agg(F.count("*").alias("nb"))
    f1 = (
        baskets.select(F.explode("items").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").alias("c1"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("c1") * _MB_MINSUP >= F.col("nb"))
        .agg(F.sort_array(F.collect_list("p_brand")).alias("fb"))
    )
    pruned = (
        baskets.crossJoin(F.broadcast(f1))
        .select(
            "l_orderkey", F.array_intersect("items", "fb").alias("it")
        )
        .filter(F.size("it") >= 2)
    )
    # map-side ordered-pair expansion from the sorted item array
    pairs = pruned.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, size(it) - 1), i -> "
                "transform(slice(it, i + 1, size(it) - i), "
                "x -> struct(element_at(it, i) AS b1, x AS b2))))"
            )
        ).alias("pr")
    ).select("pr.b1", "pr.b2")
    return (
        pairs.groupBy("b1", "b2")
        .agg(F.count("*").alias("supp"))
        .crossJoin(F.broadcast(nb))
        .filter(F.col("supp") * _MB_MINSUP >= F.col("nb"))
        .select(
            "b1",
            "b2",
            "supp",
            (F.col("supp").cast("double") / F.col("nb")).alias("support"),
        )
        .orderBy("b1", "b2")
    )


# --------------------------------------------------------------------------
# q157 — exact decision-stump training (1-D best-split search): find
# the value threshold that best separates purchase events from the
# rest by minimum weighted Gini impurity — the inner loop of decision
# tree / GBDT training, run as one aggregation + one bounded window
# pass. Candidates are dollar buckets (cents div 100), so the split
# search is over the PRICE DOMAIN (~bounded hundreds of rows), never
# the event count. Minimizing weighted Gini == maximizing
#   obj = S_L/n_L + S_R/n_R,   S = n_pos^2 + n_neg^2 per side,
# computed from exact integer cumulative counts; products go through
# decimal(38,0) (hugeint on the oracle side) so nothing overflows at
# any corpus size, and the final obj is one identical
# integer->double division + compare on both engines. Output: the
# top-3 candidate splits (total order: obj desc, bucket asc) with
# their exact side counts.
#
# 100 TB shape: one corpus-scale groupBy on the bucket (map-side
# combinable, output = price domain), a scalar-totals broadcast, and
# a window over the bounded bucket frame (the global sort is over
# ~hundreds of rows — domain-bounded, not data-bounded; same class
# as q140's calendar window). TakeOrderedAndProject(3) finishes it.
# --------------------------------------------------------------------------


@query(
    "q157_best_split",
    oracle="""
    WITH e AS (
      SELECT CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) // 100 AS bucket,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events
    ),
    byb AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS p
      FROM e GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(p) AS BIGINT) AS pp,
             MAX(bucket) AS maxb
      FROM byb
    ),
    cum AS (
      SELECT bucket,
             CAST(SUM(n) OVER w AS BIGINT) AS nl,
             CAST(SUM(p) OVER w AS BIGINT) AS pl
      FROM byb
      WINDOW w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    cand AS (
      SELECT c.bucket, c.nl, c.pl, t.nn - c.nl AS nr, t.pp - c.pl AS pr
      FROM cum c CROSS JOIN tot t WHERE c.bucket < t.maxb
    ),
    scored AS (
      SELECT bucket, nl, pl, nr, pr,
             CAST(
               (CAST(pl AS HUGEINT) * pl + CAST(nl - pl AS HUGEINT) * (nl - pl))
                 * nr
               + (CAST(pr AS HUGEINT) * pr + CAST(nr - pr AS HUGEINT) * (nr - pr))
                 * nl
             AS DOUBLE)
             / CAST(CAST(nl AS HUGEINT) * nr AS DOUBLE) AS obj
      FROM cand
    )
    SELECT bucket, nl, pl, nr, pr, obj
    FROM scored ORDER BY obj DESC, bucket LIMIT 3
    """,
    category="mining",
)
def q157(spark: SparkSession, sf: str) -> DataFrame:
    half = F.when(F.col("value") >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))
    cents = (F.col("value") * F.lit(100.0) + half).cast("long")
    e = t(spark, sf, "events").select(
        cents.alias("c"),
        (F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    byb = (
        e.select(F.expr("c div 100").alias("bucket"), "y")
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("y").alias("p"))
    )
    tot = byb.agg(
        F.sum("n").alias("nn"), F.sum("p").alias("pp"), F.max("bucket").alias("maxb")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = byb.select(
        "bucket",
        F.sum("n").over(w).alias("nl"),
        F.sum("p").over(w).alias("pl"),
    )
    cand = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("bucket") < F.col("maxb"))
        .select(
            "bucket",
            "nl",
            "pl",
            (F.col("nn") - F.col("nl")).alias("nr"),
            (F.col("pp") - F.col("pl")).alias("pr"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    sl = dec("pl") * F.col("pl") + (dec("nl") - dec("pl")) * (F.col("nl") - F.col("pl"))
    sr = dec("pr") * F.col("pr") + (dec("nr") - dec("pr")) * (F.col("nr") - F.col("pr"))
    num = sl * F.col("nr") + sr * F.col("nl")
    den = dec("nl") * F.col("nr")
    scored = cand.select(
        "bucket",
        "nl",
        "pl",
        "nr",
        "pr",
        (num.cast("double") / den.cast("double")).alias("obj"),
    )
    return scored.orderBy(F.desc("obj"), "bucket").limit(3)


# --------------------------------------------------------------------------
# q160 — distributed Lloyd k-means to an exact fixpoint (operators/
# kmeans.py), certified the q121/q149 way (iterative fixpoints have no
# order-independent SQL twin): the oracle recomputes the exact global
# facts (point count, exact coordinate sums — mass the clustering must
# conserve) and pins TRUE the invariants the Spark side GENUINELY
# verifies with one extra distributed pass:
#   converged_ok   the integer (n, sums) state reached a fixpoint
#                  within the round cap,
#   fixpoint_ok    re-assigning every point against the final
#                  centroids reproduces the exact per-cluster
#                  (n, sum_x, sum_y) state — Lloyd's defining
#                  self-consistency,
#   mass_ok        per-cluster counts/sums add up to the global
#                  exacts (computed from the verify pass, not the
#                  loop),
#   all_nonempty_ok every one of the k clusters holds >= 1 point.
# Features are integer (value cents, minute of day); cluster state is
# exact integers end-to-end, so the fixpoint is an integer equality.
# Node-level behavior is pinned to a pure-Python Lloyd in tests.
#
# 100 TB shape: see operators/kmeans.py — per round one scan of the
# persisted projection + a k-row map-side-combinable aggregate,
# centroids ride as literals, driver traffic k rows/round.
# --------------------------------------------------------------------------

_KM_K = 5


@query(
    "q160_kmeans_fixpoint",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_x,
           CAST(SUM(60 * CAST(extract(hour FROM ts) AS BIGINT)
                    + CAST(extract(minute FROM ts) AS BIGINT))
                AS BIGINT) AS sum_y,
           TRUE AS converged_ok, TRUE AS fixpoint_ok,
           TRUE AS mass_ok, TRUE AS all_nonempty_ok
    FROM events
    """,
    category="mining",
)
def q160(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.kmeans import kmeans_lloyd

    half = F.when(F.col("value") >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))
    pts = t(spark, sf, "events").select(
        (F.col("value") * F.lit(100.0) + half).cast("long").alias("x"),
        (F.hour("ts").cast("long") * 60 + F.minute("ts").cast("long")).alias("y"),
    )
    km = kmeans_lloyd(pts, features=["x", "y"], k=_KM_K, max_rounds=300)

    expected = spark.createDataFrame(
        [(j + 1, *st) for j, st in enumerate(km["stats"])],
        "_cl int, n bigint, sx bigint, sy bigint",
    )
    verify = (
        km["assign"](pts)
        .groupBy("_cl")
        .agg(
            F.count("*").alias("vn"),
            F.sum("x").alias("vsx"),
            F.sum("y").alias("vsy"),
        )
    )
    per_cluster = verify.join(F.broadcast(expected), "_cl", "full_outer")
    checks = per_cluster.agg(
        F.sum("vn").alias("n_points"),
        F.sum("vsx").alias("sum_x"),
        F.sum("vsy").alias("sum_y"),
        F.min(
            F.col("vn").eqNullSafe(F.col("n"))
            & F.col("vsx").eqNullSafe(F.col("sx"))
            & F.col("vsy").eqNullSafe(F.col("sy"))
        ).alias("fixpoint_ok"),
        F.min(F.col("vn").isNotNull() & (F.col("vn") > 0)).alias("all_nonempty_ok"),
    )
    exact = pts.agg(
        F.count("*").alias("gn"), F.sum("x").alias("gx"), F.sum("y").alias("gy")
    )
    return checks.crossJoin(F.broadcast(exact)).select(
        "n_points",
        "sum_x",
        "sum_y",
        F.lit(bool(km["converged"])).alias("converged_ok"),
        "fixpoint_ok",
        (
            (F.col("n_points") == F.col("gn"))
            & (F.col("sum_x") == F.col("gx"))
            & (F.col("sum_y") == F.col("gy"))
        ).alias("mass_ok"),
        "all_nonempty_ok",
    )


# --------------------------------------------------------------------------
# q162 — PCA top principal component from the exact gram (the q133
# machinery turned into dimensionality reduction): the d x d gram is
# accumulated map-side in exact fixed-point, the 64 x 64 eigenproblem
# is solved on the driver (numpy eigh — the matrix is tiny; this is
# the standard tall-skinny PCA split: cluster for A^T A, driver for
# eig), and the certification follows q160's shape because an
# eigenvector has no order-independent SQL twin:
#   exact facts the oracle recomputes — n_vecs and the scaled gram
#   TRACE (total fixed-point sum of squares = total variance mass);
#   invariant booleans the Spark side genuinely computes, pinned TRUE:
#     unit_norm_ok       |v| = 1 within 1e-9,
#     lam_in_range_ok    trace/d <= lambda <= trace (top eigenvalue
#                        bounds from the exact trace),
#     residual_ok        ||G v - lambda v|| <= 1e-9 * ||G||_F
#                        (eigenpair self-consistency on the exact G),
#     proj_consistent_ok a SECOND DISTRIBUTED PASS projects every
#                        embedding onto the broadcast v and checks
#                        sum(proj^2) equals v^T G v within the
#                        fixed-point flooring envelope — the cluster
#                        re-derives the eigenvalue the driver claimed.
#
# 100 TB shape: gram shuffle is d*(d+1)/2 integer cells per partition
# (row-count independent); the verify pass is one scan with v riding
# as literals; driver work is O(d^3) on a 64 x 64 matrix, once.
# --------------------------------------------------------------------------


@query(
    "q162_pca_top_eigen",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings
    )
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(floor(x * x * 1000000.0) AS DECIMAL(38,0)))
                AS BIGINT) AS trace_scaled,
           TRUE AS unit_norm_ok, TRUE AS lam_in_range_ok,
           TRUE AS residual_ok, TRUE AS proj_consistent_ok
    FROM v
    """,
    category="mining",
)
def q162(spark: SparkSession, sf: str) -> DataFrame:
    import numpy as np

    from ..operators.gram import gram_matrix

    emb = t(spark, sf, "embeddings")
    cells = gram_matrix(emb, "embedding", _GRAM_DIM, _GRAM_SCALE).collect()
    scale = float(10**_GRAM_SCALE)
    G = np.zeros((_GRAM_DIM, _GRAM_DIM), dtype=np.float64)
    trace_scaled = 0
    for r in cells:
        i, j, s = int(r["i"]), int(r["j"]), int(r["s"])
        G[i, j] = G[j, i] = s / scale
        if i == j:
            trace_scaled += s
    lam_all, vec_all = np.linalg.eigh(G)
    lam, v = float(lam_all[-1]), vec_all[:, -1]
    nz = np.nonzero(np.abs(v) > 1e-12)[0]
    if nz.size and v[nz[0]] < 0:  # deterministic sign
        v = -v

    trace = trace_scaled / scale
    unit_norm_ok = bool(abs(float(np.linalg.norm(v)) - 1.0) < 1e-9)
    lam_in_range_ok = bool(trace / _GRAM_DIM - 1e-6 <= lam <= trace + 1e-6)
    residual_ok = bool(
        float(np.linalg.norm(G @ v - lam * v))
        <= 1e-9 * max(1.0, float(np.linalg.norm(G)))
    )

    # distributed re-derivation: sum of squared projections == v^T G v
    # within the flooring envelope (each of the n*d*(d+1)/2 floored
    # products contributes < 1e-6 of absolute slack)
    vgv = float(v @ G @ v)
    v_lit = F.array(*[F.lit(float(c)) for c in v])
    proj = F.expr(
        "aggregate(zip_with(embedding, _v, (x, c) -> CAST(x AS DOUBLE) * c), "
        "CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"
    )
    sp2 = (
        emb.withColumn("_v", v_lit)
        .select((proj * proj).alias("p2"))
        .agg(F.sum("p2").alias("sp2"))
    )
    n_rows = emb.count()
    slack = 1e-6 * n_rows * (_GRAM_DIM * (_GRAM_DIM + 1) / 2) / scale + 1e-3 * max(
        1.0, abs(vgv)
    )
    return sp2.select(
        F.lit(n_rows).cast("bigint").alias("n_vecs"),
        F.lit(trace_scaled).cast("bigint").alias("trace_scaled"),
        F.lit(unit_norm_ok).alias("unit_norm_ok"),
        F.lit(lam_in_range_ok).alias("lam_in_range_ok"),
        F.lit(residual_ok).alias("residual_ok"),
        (F.abs(F.col("sp2") - F.lit(vgv)) <= F.lit(slack)).alias(
            "proj_consistent_ok"
        ),
    )


# --------------------------------------------------------------------------
# q165 — exact tie-aware AUC (Mann-Whitney U) of a score against a
# binary label, entirely in integer rank arithmetic: the evaluation
# primitive every model-based quality filter needs (is score s a
# better en-detector than chance?). The usual AUC implementations
# sort-and-sweep with float accumulation; here the midrank sum stays
# integer by the doubling trick — for a tie group at cumulative
# offset c with m members, each member's doubled midrank is
# 2c + m + 1, so  U2 = sum_groups pos_m * (2c + m + 1) - n_pos*(n_pos+1)
# is exact, and AUC = U2 / (2 * n_pos * n_neg) is one identical
# integer->double division per engine. Products route through
# decimal(38,0)/hugeint so nothing overflows at any corpus size.
#
# 100 TB shape: one corpus-scale groupBy on the score (map-side
# combinable, output = score domain), one cumulative window over that
# bounded frame (the q157 price-domain argument), a 1-row reduce.
# Never sorts the corpus, never ranks row-by-row.
# --------------------------------------------------------------------------


@query(
    "q165_auc_exact",
    oracle="""
    WITH g AS (
      SELECT n_chars AS score, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT score, m, p,
             CAST(COALESCE(SUM(m) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
             CAST(SUM(m - p) AS BIGINT) AS n_neg,
             CAST(SUM(CAST(p AS HUGEINT) * (2 * cum + m + 1)) AS HUGEINT) AS r2
      FROM c
    )
    SELECT n_pos, n_neg,
           CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT) AS u2,
           CAST(CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT)
                AS DOUBLE)
             / CAST(2 * CAST(n_pos AS HUGEINT) * n_neg AS DOUBLE) AS auc
    FROM tot
    """,
    category="mining",
)
def q165(spark: SparkSession, sf: str) -> DataFrame:
    g = (
        t(spark, sf, "documents")
        .groupBy(F.col("n_chars").alias("score"))
        .agg(
            F.count("*").alias("m"),
            F.sum((F.col("lang") == "en").cast("bigint")).alias("p"),
        )
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "score", "m", "p", F.coalesce(F.sum("m").over(w), F.lit(0)).alias("cum")
    )
    dec = lambda x: x.cast("decimal(38,0)")  # noqa: E731
    tot = c.agg(
        F.sum("p").alias("n_pos"),
        F.sum(F.col("m") - F.col("p")).alias("n_neg"),
        F.sum(dec(F.col("p")) * (F.lit(2) * F.col("cum") + F.col("m") + 1)).alias(
            "r2"
        ),
    )
    u2 = (F.col("r2") - dec(F.col("n_pos")) * (F.col("n_pos") + 1)).cast("bigint")
    return tot.select(
        "n_pos",
        "n_neg",
        u2.alias("u2"),
        (
            u2.cast("double")
            / (F.lit(2) * dec(F.col("n_pos")) * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


# --------------------------------------------------------------------------
# q246 — Fellegi-Sunter record linkage (Fellegi & Sunter, JASA 1969):
# probabilistic match scoring over blocked candidate pairs. Each pair
# gets an agreement vector over three fields — length bucket, 5-word
# head, last word — and a log-likelihood match weight
# sum_f log2(m_f/u_f) on agreement, log2((1-m_f)/(1-u_f)) on
# disagreement, with (m, u) priors fixed up front the way production
# linkage starts before EM refinement. Pairs classify into
# match / possible / non-match by weight thresholds.
#
# All six log-weights are Python-precomputed DOUBLE LITERALS, so
# engine-side arithmetic is three CASE picks + two additions in fixed
# written order — bit-portable; the summed weight floors to micros.
# Blocking on (lang, source, n_chars div 50) keeps pair generation an
# equi-join (blocking-first, never a corpus self-scan); production
# would tighten the key or swap in SNM (q134) / LSH bands (q52) — the
# scoring stage is identical over any candidate generator.
#
# 100 TB shape: one map-side projection per doc (head/tail/bucket),
# one hash equi-join on the block key, per-pair scalar arithmetic.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_FS_W = {  # field -> (agree_weight, disagree_weight), log2(m/u), log2((1-m)/(1-u))
    "len": (3.169925001442312, -3.1699250014423126),   # m=0.9,  u=0.1
    "head": (5.409390936137702, -2.707819248506689),   # m=0.85, u=0.02
    "tail": (3.8073549220576037, -1.6629650127224291), # m=0.7,  u=0.05
}
_FS_MATCH_MICROS = 6_000_000  # weight >= 6 bits -> match; >= 0 -> possible


def _q246_oracle() -> str:
    wl, wh, wt = _FS_W["len"], _FS_W["head"], _FS_W["tail"]
    return f"""
    WITH side AS (
      SELECT doc_id, lang, source, n_chars // 50 AS blk, n_chars // 10 AS len10,
             array_to_string((string_split(text, ' '))[1:5], ' ') AS head,
             (string_split(text, ' '))[-1] AS tail
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(a.len10 = b.len10 AS INTEGER) AS a_len,
             CAST(a.head = b.head AS INTEGER) AS a_head,
             CAST(a.tail = b.tail AS INTEGER) AS a_tail
      FROM side a JOIN side b
        ON a.lang = b.lang AND a.source = b.source AND a.blk = b.blk
       AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT d1, d2, a_len, a_head, a_tail,
             CAST(floor(1000000.0 * (
               (CASE WHEN a_len = 1 THEN CAST({wl[0]} AS DOUBLE)
                     ELSE CAST({wl[1]} AS DOUBLE) END)
               + (CASE WHEN a_head = 1 THEN CAST({wh[0]} AS DOUBLE)
                       ELSE CAST({wh[1]} AS DOUBLE) END)
               + (CASE WHEN a_tail = 1 THEN CAST({wt[0]} AS DOUBLE)
                       ELSE CAST({wt[1]} AS DOUBLE) END))) AS BIGINT)
               AS weight_micros
      FROM pairs
    )
    SELECT d1, d2, a_len, a_head, a_tail, weight_micros,
           CASE WHEN weight_micros >= {_FS_MATCH_MICROS} THEN 'match'
                WHEN weight_micros >= 0 THEN 'possible'
                ELSE 'non-match' END AS decision
    FROM scored ORDER BY d1, d2
    """


@query("q246_fellegi_sunter", oracle=_q246_oracle(), category="mining")
def q246(spark: SparkSession, sf: str) -> DataFrame:
    wl, wh, wt = _FS_W["len"], _FS_W["head"], _FS_W["tail"]
    w = F.split("text", " ")
    side = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr("n_chars div 50").alias("blk"),
        F.expr("n_chars div 10").alias("len10"),
        F.concat_ws(" ", F.slice(w, 1, 5)).alias("head"),
        F.element_at(w, -1).alias("tail"),
    )
    a, b = side.alias("a"), side.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("d1"),
        F.col("b.doc_id").alias("d2"),
        (F.col("a.len10") == F.col("b.len10")).cast("int").alias("a_len"),
        (F.col("a.head") == F.col("b.head")).cast("int").alias("a_head"),
        (F.col("a.tail") == F.col("b.tail")).cast("int").alias("a_tail"),
    )
    weight = (
        F.when(F.col("a_len") == 1, F.lit(wl[0])).otherwise(F.lit(wl[1]))
        + F.when(F.col("a_head") == 1, F.lit(wh[0])).otherwise(F.lit(wh[1]))
        + F.when(F.col("a_tail") == 1, F.lit(wt[0])).otherwise(F.lit(wt[1]))
    )
    scored = pairs.withColumn(
        "weight_micros", F.floor(F.lit(1000000.0) * weight).cast("long")
    )
    return scored.select(
        "d1",
        "d2",
        "a_len",
        "a_head",
        "a_tail",
        "weight_micros",
        F.when(F.col("weight_micros") >= _FS_MATCH_MICROS, "match")
        .when(F.col("weight_micros") >= 0, "possible")
        .otherwise("non-match")
        .alias("decision"),
    ).orderBy("d1", "d2")


# --------------------------------------------------------------------------
# q255 — q246 with a BLOCK-SIZE CAP: the guarded form for replica-heavy
# corpora. q246's (lang, source, len-bucket) block key is quadratic in
# block size and unguarded — measured 182M scored pairs at 500k docs
# when replica clusters push blocks to ~100 members (BASELINE.md
# round-7). Here every block of c docs is deterministically split into
# ceil(c / CAP) sub-blocks by the salted portable hash of the doc id,
# and pairs form only within a sub-block, so expected sub-block size is
# <= CAP and blocked-pair volume is O(c * CAP) per block — linear in
# block size — instead of O(c^2). The trade is recall: a true match
# whose two records hash to different sub-blocks is not scored (the
# standard cost of any capped/secondary blocking key); scoring
# arithmetic over the pairs that DO form is q246's verbatim.
#
# 100 TB shape: one extra count aggregate on the block key (broadcast
# back — block-cardinality sized), then the same hash equi-join now on
# (block, sub); no stage is quadratic in block size.
# --------------------------------------------------------------------------

_Q255_CAP = 16


def _q255_oracle() -> str:
    from .llm import duck_h31

    wl, wh, wt = _FS_W["len"], _FS_W["head"], _FS_W["tail"]
    h = duck_h31(chr(39) + "s255-" + chr(39) + " || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH side AS (
      SELECT doc_id, lang, source, n_chars // 50 AS blk, n_chars // 10 AS len10,
             array_to_string((string_split(text, ' '))[1:5], ' ') AS head,
             (string_split(text, ' '))[-1] AS tail,
             {h} AS hsh
      FROM documents
    ),
    bc AS (
      SELECT lang, source, blk, CAST(count(*) AS BIGINT) AS c
      FROM side GROUP BY 1, 2, 3
    ),
    sub AS (
      SELECT s.*, s.hsh % ((bc.c + {_Q255_CAP - 1}) // {_Q255_CAP}) AS sb
      FROM side s JOIN bc USING (lang, source, blk)
    ),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(a.len10 = b.len10 AS INTEGER) AS a_len,
             CAST(a.head = b.head AS INTEGER) AS a_head,
             CAST(a.tail = b.tail AS INTEGER) AS a_tail
      FROM sub a JOIN sub b
        ON a.lang = b.lang AND a.source = b.source AND a.blk = b.blk
       AND a.sb = b.sb AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT d1, d2, a_len, a_head, a_tail,
             CAST(floor(1000000.0 * (
               (CASE WHEN a_len = 1 THEN CAST({wl[0]} AS DOUBLE)
                     ELSE CAST({wl[1]} AS DOUBLE) END)
               + (CASE WHEN a_head = 1 THEN CAST({wh[0]} AS DOUBLE)
                       ELSE CAST({wh[1]} AS DOUBLE) END)
               + (CASE WHEN a_tail = 1 THEN CAST({wt[0]} AS DOUBLE)
                       ELSE CAST({wt[1]} AS DOUBLE) END))) AS BIGINT)
               AS weight_micros
      FROM pairs
    )
    SELECT d1, d2, a_len, a_head, a_tail, weight_micros,
           CASE WHEN weight_micros >= {_FS_MATCH_MICROS} THEN 'match'
                WHEN weight_micros >= 0 THEN 'possible'
                ELSE 'non-match' END AS decision
    FROM scored ORDER BY d1, d2
    """


@query(
    "q255_linkage_capped_blocks",
    oracle=_q255_oracle(),
    category="mining",
    doc="Fellegi-Sunter scoring over hash-capped sub-blocks: pair volume linear in block size",
)
def q255(spark: SparkSession, sf: str) -> DataFrame:

    wl, wh, wt = _FS_W["len"], _FS_W["head"], _FS_W["tail"]
    w = F.split("text", " ")
    side = t(spark, sf, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr("n_chars div 50").alias("blk"),
        F.expr("n_chars div 10").alias("len10"),
        F.concat_ws(" ", F.slice(w, 1, 5)).alias("head"),
        F.element_at(w, -1).alias("tail"),
        F.expr(h31("concat('s255-', CAST(doc_id AS STRING))")).alias("hsh"),
    )
    bc = side.groupBy("lang", "source", "blk").agg(F.count("*").alias("c"))
    # block-cardinality-sized frame; let AQE pick broadcast locally —
    # at corpus scale the planner may need to shuffle it (q220 rationale)
    sub = side.join(bc, ["lang", "source", "blk"]).withColumn(
        "sb", F.expr(f"hsh % ((c + {_Q255_CAP - 1}) div {_Q255_CAP})")
    )
    a, b = sub.alias("a"), sub.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.sb") == F.col("b.sb"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("d1"),
        F.col("b.doc_id").alias("d2"),
        (F.col("a.len10") == F.col("b.len10")).cast("int").alias("a_len"),
        (F.col("a.head") == F.col("b.head")).cast("int").alias("a_head"),
        (F.col("a.tail") == F.col("b.tail")).cast("int").alias("a_tail"),
    )
    weight = (
        F.when(F.col("a_len") == 1, F.lit(wl[0])).otherwise(F.lit(wl[1]))
        + F.when(F.col("a_head") == 1, F.lit(wh[0])).otherwise(F.lit(wh[1]))
        + F.when(F.col("a_tail") == 1, F.lit(wt[0])).otherwise(F.lit(wt[1]))
    )
    return (
        pairs.withColumn(
            "weight_micros", F.floor(F.lit(1000000.0) * weight).cast("long")
        )
        .select(
            "d1",
            "d2",
            "a_len",
            "a_head",
            "a_tail",
            "weight_micros",
            F.when(F.col("weight_micros") >= _FS_MATCH_MICROS, "match")
            .when(F.col("weight_micros") >= 0, "possible")
            .otherwise("non-match")
            .alias("decision"),
        )
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# q257 — chi-square collocation mining (Manning & Schütze ch. 5): the
# classic "which word pairs co-occur more than chance" extractor used
# for boilerplate phrase discovery and tokenizer-merge candidates.
# For each adjacent bigram (w1, w2) with O11 >= 5, the 2x2 contingency
# table against the corpus bigram stream (a=O11, b=R1-O11, c=C1-O11,
# d=N-R1-C1+O11) and the chi-square statistic
# N * (ad - bc)^2 / (R1 * C1 * (N-R1) * (N-C1)). PMI needs a log;
# chi-square ranks collocations with PURE RATIONAL arithmetic — the
# cross-engine-determinism rule (no engine-side transcendentals).
# Distinct from q125 (lift): lift measures association STRENGTH and
# over-ranks rare pairs (two hapaxes that co-occur once lift to the
# top); chi-square weighs the association by the EVIDENCE behind it
# (the d cell and N enter), the standard significance-vs-strength
# split in collocation mining — the two rankings disagree exactly on
# the rare tail.
# Overflow posture (ADVICE r08): the one-shot numerator n*(ad-bc)^2
# would pass 1e38 around ~1e9 total bigrams, so the 128-bit exact
# stage stops at the three FACTORS — ad_bc = ad - bc (|ad_bc| <= n^2),
# den_a = r1*(n-r1) and den_b = c1*(n-c1) (each <= n^2/4) — which all
# fit DECIMAL(38,0)/HUGEINT to n ~ 1e18 bigrams, genuinely past the
# 100 TB shape. Each factor is cast to DOUBLE once and the statistic
# assembled in ONE FIXED-ORDER double tree shared textually by both
# engines ((n * ad) * ad) / (den_a * den_b), floored to micros.
# Top-100 by (chi2, w1, w2) — a total order.
#
# 100 TB shape: one map-side bigram explode, one (w1,w2) count
# aggregate, two vocabulary-sized marginal aggregates joined back on
# their keys, one broadcast scalar; top-k via TakeOrderedAndProject.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


def _q257_chi2_sql(dec: str) -> str:
    """chi2_micros tree over columns o11, r1, c1, n — identical text in
    both engines except ``dec``, the 128-bit integer type
    (DECIMAL(38,0) in Spark, HUGEINT in DuckDB). The three exact
    factors each stay within 128 bits to n ~ 1e18 bigrams; the double
    assembly is one fixed-order tree so the floor-to-micros readout is
    bit-identical cross-engine."""
    ad = (
        f"CAST(CAST(o11 AS {dec}) * (n - r1 - c1 + o11)"
        f" - CAST(r1 - o11 AS {dec}) * (c1 - o11) AS DOUBLE)"
    )
    return (
        "CAST(floor(1000000.0 * ("
        f"(CAST(n AS DOUBLE) * {ad} * {ad})"
        f" / (CAST(CAST(r1 AS {dec}) * (n - r1) AS DOUBLE)"
        f" * CAST(CAST(c1 AS {dec}) * (n - c1) AS DOUBLE))"
        ")) AS BIGINT)"
    )


@query(
    "q257_chi2_collocations",
    oracle=f"""
    WITH w3 AS (SELECT string_split(text, ' ') AS w FROM documents),
    bgl AS (SELECT list_transform(generate_series(1, len(w) - 1),
                    i -> struct_pack(w1 := w[i], w2 := w[i + 1])) AS bl
            FROM w3 WHERE len(w) >= 2),
    bg AS (SELECT unnest(bl) AS b FROM bgl),
    cnt AS (SELECT b.w1 AS w1, b.w2 AS w2, CAST(count(*) AS BIGINT) AS o11
            FROM bg GROUP BY 1, 2),
    r1 AS (SELECT w1, CAST(SUM(o11) AS BIGINT) AS r1 FROM cnt GROUP BY w1),
    c1 AS (SELECT w2, CAST(SUM(o11) AS BIGINT) AS c1 FROM cnt GROUP BY w2),
    tot AS (SELECT CAST(SUM(o11) AS BIGINT) AS n FROM cnt),
    j AS (
      SELECT cnt.w1, cnt.w2, cnt.o11, r1.r1, c1.c1, tot.n
      FROM cnt JOIN r1 USING (w1) JOIN c1 USING (w2) CROSS JOIN tot
      WHERE cnt.o11 >= 5 AND r1.r1 < tot.n AND c1.c1 < tot.n
    ),
    scored AS (
      SELECT w1, w2, o11,
             {_q257_chi2_sql("HUGEINT")} AS chi2_micros
      FROM j
    )
    SELECT w1, w2, o11, chi2_micros
    FROM scored ORDER BY chi2_micros DESC, w1, w2 LIMIT 100
    """,
    category="mining",
    doc="top-100 adjacent-bigram collocations by exact-rational chi-square",
)
def q257(spark: SparkSession, sf: str) -> DataFrame:
    bg = (
        t(spark, sf, "documents")
        .select(F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count("*").alias("o11")).transform(tracked_persist)
    r1 = cnt.groupBy("w1").agg(F.sum("o11").alias("r1"))
    c1 = cnt.groupBy("w2").agg(F.sum("o11").alias("c1"))
    tot = cnt.agg(F.sum("o11").alias("n"))
    return (
        cnt.filter(F.col("o11") >= 5)
        .join(r1, "w1")
        .join(c1, "w2")
        .crossJoin(F.broadcast(tot))
        .filter((F.col("r1") < F.col("n")) & (F.col("c1") < F.col("n")))
        .select(
            "w1",
            "w2",
            "o11",
            F.expr(_q257_chi2_sql("DECIMAL(38,0)")).alias("chi2_micros"),
        )
        .orderBy(F.col("chi2_micros").desc(), "w1", "w2")
        .limit(100)
    )


# --------------------------------------------------------------------------
# q258 — Mann-Whitney U with tie correction (Mann & Whitney 1947): the
# standard nonparametric two-sample test, here comparing purchase vs
# click event values — does one event family stochastically dominate
# the other? Complements q165 (rank-biserial AUC over a binary label)
# with the INFERENTIAL readout: the tie-corrected normal approximation
# z = (U - n1 n2 / 2) / sigma, sigma^2 = (n1 n2 / 12) ((n+1) -
# sum(t^3 - t) / (n (n-1))). Ranks are handled in 2x integer space
# (average rank of a tie group of size m starting after cum rows is
# (2 cum + m + 1) / 2), so U and the tie term are exact BIGINTs; the
# z tree is fixed-order double arithmetic with one sqrt (IEEE-
# identical both engines), floored to micros.
#
# 100 TB shape: one (value)-keyed count aggregate, one running-sum
# window over the DISTINCT-VALUE frame (bounded by value cardinality,
# not row count), one scalar row out. The tie term t^3 - t assumes
# tie groups << 2^21 rows; a corpus where one exact double value
# carries millions of rows needs the term summed in DECIMAL(38,0).
# Degenerate inputs (either sample empty, or every row carrying the
# one value so sigma^2 = 0) mirror NULL in both engines — the
# q261/q270 convention; the all-tie test is n_groups = 1 (the
# distinct-value count), an exact BIGINT predicate where the literal
# tie_term = n^3 - n comparison would itself overflow past n ~ 2^21.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_Q258_Z_SQL = """CASE WHEN n1 = 0 OR n2 = 0 OR n_groups <= 1 THEN NULL
    ELSE floor(1000000.0 * (
      (CAST(r2a - n1 * (n1 + 1) AS DOUBLE)
       - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
      / (2.0 * sqrt(
          (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)
          * (CAST(n1 + n2 + 1 AS DOUBLE)
             - CAST(tie_term AS DOUBLE)
               / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)))))
    )) END"""


sql_query(
    "q258_mann_whitney",
    f"""
    WITH g AS (
      SELECT value AS v,
             CAST(count(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY value
    ),
    c AS (
      SELECT v, m, p,
             CAST(COALESCE(SUM(m) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(p) AS BIGINT) AS n1,
             CAST(SUM(m - p) AS BIGINT) AS n2,
             CAST(SUM(p * (2 * cum + m + 1)) AS BIGINT) AS r2a,
             CAST(SUM(m * m * m - m) AS BIGINT) AS tie_term,
             CAST(COUNT(*) AS BIGINT) AS n_groups
      FROM c
    )
    SELECT n1, n2,
           CAST(r2a - n1 * (n1 + 1) AS BIGINT) AS u2,
           tie_term,
           CAST({_Q258_Z_SQL} AS BIGINT) AS z_micros
    FROM tot
    """,
    category="mining",
    doc="tie-corrected Mann-Whitney U: purchase vs click values, exact 2x-rank integers + one-sqrt z",
)


# --------------------------------------------------------------------------
# q293 — Cliff's delta (Cliff, Psych.Bull. 1993): the EFFECT-SIZE
# companion to q258's Mann-Whitney on the same purchase-vs-click value
# comparison — q258 answers "is the shift significant" (a p-value that
# saturates at corpus scale: EVERYTHING is significant at n = 10^8),
# this answers "how BIG is it": delta = (#{x>y} - #{x<y}) / (n1 n2),
# the dominance probability difference, scale-free in [-1, 1] and the
# number a mixture decision should actually read. Exact integers over
# q258's value-domain frame: per distinct value, the strictly-below
# click mass (prefix window) and strictly-above click mass (suffix
# window) multiply the purchase count at that value; gt/lt are exact
# BIGINTs and delta floors to micros after ONE division. |delta| is
# classified by the Romano et al. (2006) thresholds as Python literals
# (0.147 / 0.33 / 0.474 -> negligible/small/medium/large). Either
# sample empty -> NULL delta and magnitude, both engines.
#
# 100 TB shape: identical to q258 — one value-keyed count aggregate,
# two running-sum windows over the DISTINCT-VALUE frame (bounded by
# value cardinality, never row count), one scalar row. gt/lt <= n1*n2
# ~ 1.6e17 at 400M rows/side — inside BIGINT. Reference delegates
# analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_Q293_DELTA_SQL = """CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
    ELSE floor(1000000.0 * CAST(gt - lt AS DOUBLE)
               / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) END"""

# floor(1e6 * x) of the Romano et al. (2006) |delta| cutpoints
_Q293_MAG_SQL = """CASE WHEN d IS NULL THEN NULL
    WHEN abs(d) < 147000 THEN 'negligible'
    WHEN abs(d) < 330000 THEN 'small'
    WHEN abs(d) < 474000 THEN 'medium'
    ELSE 'large' END"""


sql_query(
    "q293_cliff_delta",
    f"""
    WITH g AS (
      SELECT value AS v,
             CAST(count(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p
      FROM events WHERE event_type IN ('purchase', 'click')
      GROUP BY value
    ),
    c AS (
      SELECT v, m, p,
             CAST(COALESCE(SUM(m - p) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS below_q,
             CAST(COALESCE(SUM(m - p) OVER (ORDER BY v
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
                  AS BIGINT) AS above_q
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(p) AS BIGINT) AS n1,
             CAST(SUM(m - p) AS BIGINT) AS n2,
             CAST(SUM(p * below_q) AS BIGINT) AS gt,
             CAST(SUM(p * above_q) AS BIGINT) AS lt
      FROM c
    ),
    d AS (
      SELECT n1, n2, gt, lt, CAST({_Q293_DELTA_SQL} AS BIGINT) AS d FROM tot
    )
    SELECT n1, n2, gt, lt, d AS delta_micros,
           {_Q293_MAG_SQL} AS magnitude
    FROM d
    """,
    category="mining",
    doc="Cliff's delta dominance effect size for purchase vs click values (q258's companion), exact value-domain integers + Romano magnitude labels",
)


# --------------------------------------------------------------------------
# q262 — Count-Min sketch audit (Cormode & Muthukrishnan, J.Alg 2005),
# the ORACLE-REPLAYED form. q132 already certifies operators/countmin
# (xxhash64 rows) with PROPERTY booleans (est >= exact, Markov bound) —
# the strongest check available there because DuckDB has no xxhash64.
# This variant builds the sketch from the portable md5 h31, so the
# oracle recomputes EVERY CELL and the driver hash-compares the
# estimates value-for-value, not just their properties — and it is the
# batch twin q266 replays as a live streaming aggregate. CM answers
# "how often did THIS item occur" with a one-sided (overestimate-only)
# error, and unlike MG (q122) it never drops an item. d=4 rows x w=256 counters,
# row hashes h31('cm{i}-' || word); the query materializes the sketch
# AS the 1024-cell aggregate it is at any corpus size, then audits it:
# for the exact top-20 words, the CM estimate (min over the 4 row
# counters) side by side with the exact count and the overestimate.
# Everything is exact integer counting — the sketch's error is real,
# the arithmetic auditing it is not approximate.
#
# 100 TB shape: one token scan feeding a 1024-cell aggregate (map-side
# partial combine — the sketch IS mergeable, this is the merge), one
# exact word count + top-k, one 80-row bucket join. The audit join
# touches 20 words; the sketch never exceeds d*w cells.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_CM_D = 4
_CM_W = 256


def _q262_oracle() -> str:
    from .llm import duck_h31

    def bucket(i: int) -> str:
        return f"{duck_h31(chr(39) + f'cm{i}-' + chr(39) + ' || w')} % {_CM_W}"

    rows = " UNION ALL ".join(
        f"SELECT w, {i} AS i, {bucket(i)} AS bucket FROM tok" for i in range(_CM_D)
    )
    return f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    hashed AS ({rows}),
    counters AS (
      SELECT i, bucket, CAST(count(*) AS BIGINT) AS c
      FROM hashed GROUP BY i, bucket
    ),
    exact AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_n FROM tok GROUP BY w),
    top AS (SELECT w, exact_n FROM exact ORDER BY exact_n DESC, w LIMIT 20),
    est AS (
      SELECT t.w, t.exact_n, MIN(c.c) AS cm_est
      FROM top t
      JOIN (SELECT DISTINCT w, i, bucket FROM hashed) h
        ON h.w = t.w
      JOIN counters c ON c.i = h.i AND c.bucket = h.bucket
      GROUP BY t.w, t.exact_n
    )
    SELECT w, exact_n, CAST(cm_est AS BIGINT) AS cm_est,
           CAST(cm_est - exact_n AS BIGINT) AS overestimate
    FROM est ORDER BY exact_n DESC, w
    """


@query(
    "q262_countmin_audit",
    oracle=_q262_oracle(),
    category="mining",
    doc="Count-Min sketch (4x256) materialized as a 1024-cell aggregate; top-20 words audited est-vs-exact",
)
def q262(spark: SparkSession, sf: str) -> DataFrame:
    tok = (
        t(spark, sf, "documents")
        .select(F.expr("filter(split(text, ' '), x -> x <> '')").alias("ws"))
        .select(F.explode("ws").alias("w"))
    )
    bucket_exprs = []
    for i in range(_CM_D):
        salted = "concat('cm" + str(i) + "-', w)"
        bucket_exprs.append(F.expr(f"{h31(salted)} % {_CM_W}"))
    buckets = F.array(*bucket_exprs)
    # hash per DISTINCT word, weight by its exact count: the counter
    # cells are identical to hashing every token (sum of counts per
    # bucket == count of token instances per bucket), but the explode
    # is vocab-sized instead of corpus-sized — one shuffle of d rows
    # per distinct word instead of d per token (measured 64.4 s ->
    # token-stream path vs ~8 s vocab path at 500k docs)
    exact = tok.groupBy("w").agg(F.count("*").alias("exact_n")).transform(tracked_persist)
    hashed = exact.select("exact_n", F.posexplode(buckets).alias("i", "bucket"))
    counters = hashed.groupBy("i", "bucket").agg(F.sum("exact_n").alias("c"))
    top = exact.orderBy(F.col("exact_n").desc(), "w").limit(20)
    top_buckets = top.select("w", "exact_n", F.posexplode(buckets).alias("i", "bucket"))
    return (
        top_buckets.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("w", "exact_n")
        .agg(F.min("c").alias("cm_est"))
        .select(
            "w",
            "exact_n",
            "cm_est",
            (F.col("cm_est") - F.col("exact_n")).alias("overestimate"),
        )
        .orderBy(F.col("exact_n").desc(), "w")
    )


# --------------------------------------------------------------------------
# q265 — RAKE keyword extraction (Rose et al., "Automatic Keyword
# Extraction from Individual Documents", 2010): the classic
# unsupervised keyphrase miner. Documents split into candidate PHRASES
# at stopword boundaries (gaps-and-islands over the word stream: a
# phrase is a maximal run of non-stopwords); each word scores
# deg(w)/freq(w) where freq counts phrase occurrences and deg sums the
# lengths of the phrases it appears in (co-occurrence incl. self); a
# phrase scores the sum of its words' scores. Word scores floor to
# micros BEFORE the phrase sum (integer-sum convention), so the
# ranking is bit-portable; top-20 under (score, phrase) — a total
# order. Complements TF-IDF q95 (single terms, document-frequency
# weighting) with multi-word phrases and degree weighting.
#
# 100 TB shape: phrase extraction is pure per-doc string work, done in
# ONE Arrow map pass below the (reused) spread exchange — no hashing,
# no window, no doc-keyed exchange. Member words are recovered by
# splitting the emitted phrase (exact: phrases are the words joined by
# the same single-space delimiter they were split on), so the word-stat
# aggregate and the score join run over the pass's output. Remaining
# exchanges: one vocabulary-keyed word-stat aggregate (map-side
# combined) joined back on the word key, one (doc, phrase-id) partial
# aggregate, one phrase rollup; top-k via TakeOrderedAndProject.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_RAKE_STOP = ("a", "the", "of", "and", "to", "in", "is")


def rake_phrases(docs: DataFrame) -> DataFrame:
    """(doc_id, grp, phrase, plen) candidate RAKE phrases — maximal
    runs of consecutive non-stopwords — via one Arrow map pass.

    The original form posexploded every word, numbered the islands
    with a doc-keyed window (gaps-and-islands grp = pos - row_number),
    rebuilt phrases with collect_list + sort_array + transform (all
    CodegenFallback HOFs), and joined members back on (doc, grp):
    three word-level text shuffles before the first global aggregate.
    The run segmentation is per-doc local, so it runs here as plain
    CPython over Arrow batches (optimization guide §4.2) and the word
    rows never cross an exchange. grp keeps the same pos - row_number
    arithmetic so the frame is drop-in identical to the SQL form.

    Semantics mirrored exactly: split on the literal single space
    (consecutive delimiters yield empty-string words, which are NOT
    stopwords and become phrase members, exactly like split(text, ' ')
    in Spark and string_split in DuckDB); a NULL text explodes to no
    rows, so the doc contributes no phrases."""

    def batches(it):
        import pyarrow as pa

        stop = set(_RAKE_STOP)
        for batch in it:
            ids = batch.column("doc_id").to_pylist()
            o_id, o_grp, o_phrase, o_plen = [], [], [], []
            for did, text in zip(ids, batch.column("text").to_pylist()):
                if text is None:
                    continue
                rn = 0
                run: list = []
                run_grp = 0
                prev_pos = -2
                for pos, wd in enumerate(text.split(" "), 1):
                    if wd in stop:
                        continue
                    rn += 1
                    if pos != prev_pos + 1:
                        if run:
                            o_id.append(did)
                            o_grp.append(run_grp)
                            o_phrase.append(" ".join(run))
                            o_plen.append(len(run))
                        run = []
                        run_grp = pos - rn
                    run.append(wd)
                    prev_pos = pos
                if run:
                    o_id.append(did)
                    o_grp.append(run_grp)
                    o_phrase.append(" ".join(run))
                    o_plen.append(len(run))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(o_id, pa.int64()),
                    pa.array(o_grp, pa.int64()),
                    pa.array(o_phrase, pa.string()),
                    pa.array(o_plen, pa.int64()),
                ],
                ["doc_id", "grp", "phrase", "plen"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        batches, "doc_id long, grp long, phrase string, plen long"
    )


def _q265_oracle() -> str:
    stop = ", ".join(f"'{w}'" for w in _RAKE_STOP)
    return f"""
    WITH w3 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tagged AS (
      SELECT doc_id, b.pos AS pos, b.word AS word
      FROM (SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w)),
                          i -> struct_pack(pos := i, word := w[i]))) AS b
            FROM w3)
    ),
    ns AS (
      SELECT doc_id, pos, word,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM tagged WHERE word NOT IN ({stop})
    ),
    phr AS (
      SELECT doc_id, grp, string_agg(word, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM ns GROUP BY doc_id, grp
    ),
    memb AS (
      SELECT ns.doc_id, ns.grp, ns.word, p.plen
      FROM ns JOIN phr p ON p.doc_id = ns.doc_id AND p.grp = ns.grp
    ),
    wstat AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM memb GROUP BY word
    ),
    occ AS (
      SELECT m.doc_id, m.grp,
             CAST(SUM(1000000 * s.deg // s.freq) AS BIGINT) AS score
      FROM memb m JOIN wstat s ON s.word = m.word GROUP BY m.doc_id, m.grp
    )
    SELECT p.phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(o.score) AS BIGINT) AS score_micros
    FROM phr p JOIN occ o ON o.doc_id = p.doc_id AND o.grp = p.grp
    GROUP BY p.phrase
    ORDER BY score_micros DESC, phrase LIMIT 20
    """


@query(
    "q265_rake_keywords",
    oracle=_q265_oracle(),
    category="mining",
    doc="RAKE keyphrases: stopword-boundary phrases, deg/freq word scores in micros, top-20 total order",
)
def q265(spark: SparkSession, sf: str) -> DataFrame:
    # Phrase extraction is one Arrow map pass (rake_phrases above); the
    # spread exchange below it is the shared subtree both consumers of
    # phr reuse (ReuseExchange), so the scan+spread pays once and the
    # cheap no-hash pass may run per consumer. spread_input previously
    # measured SLOWER on the windowed form (163.6 -> 199.4 s at 5M —
    # the heavy phase ran after the window shuffle); with the heavy
    # phase now INSIDE the scan stage the spread is what feeds it 32
    # slots on the single-row-group corpus file.
    phr = rake_phrases(spread_input(t(spark, sf, "documents"), key="doc_id"))
    memb = phr.select(
        "doc_id",
        "grp",
        "plen",
        F.explode(F.split("phrase", " ")).alias("word"),
    )
    wstat = memb.groupBy("word").agg(
        F.count("*").alias("freq"), F.sum("plen").alias("deg")
    )
    occ = (
        memb.join(wstat, "word")
        .groupBy("doc_id", "grp")
        .agg(F.sum(F.expr("1000000 * deg div freq")).alias("score"))
    )
    return (
        phr.join(occ, ["doc_id", "grp"])
        .groupBy("phrase")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("score").alias("score_micros"),
        )
        .orderBy(F.col("score_micros").desc(), "phrase")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q268 — Kruskal-Wallis H (Kruskal & Wallis, JASA 1952): the k-sample
# generalization of q258 — do the FIVE event types' value
# distributions differ anywhere? Rank machinery is q258's 2x-integer
# space (2R_j = sum over values of m_jv * (2 cum_v + m_v + 1), exact
# BIGINTs); H = 12/(n(n+1)) * sum_j R_j^2/n_j - 3(n+1), tie-corrected
# by 1 - sum(t^3 - t)/(n^3 - n). The five R_j^2/n_j terms are summed
# in ONE FIXED WRITTEN ORDER (per-type conditional aggregates pivoted
# into named columns, never a float SUM over group rows — a 5-row
# float aggregate would be reduction-order-unstable), so the double
# tree is bit-portable. chi-square(4) critical value 9.487729036781154
# precomputed as a Python literal (no engine-side quantile function).
#
# 100 TB shape: one (value)-keyed aggregate with 5 conditional counts,
# one running-sum window over the distinct-value frame, one scalar row.
# Degenerate inputs (any empty group, or all rows tied on one value so
# the tie correction is 0/0) mirror NULL in both engines — the
# q261/q270 convention; the all-tie predicate is n_groups = 1, exact
# in BIGINT where tie_term = n^3 - n would overflow (q258's guard).
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_KW_TYPES = ("click", "error", "purchase", "signup", "view")
_KW_CRIT_MICROS = 9_487_729  # floor(1e6 * chi2(4).ppf(0.95)), Python literal


def _kw_h_sql() -> str:
    """The H and tie-corrected H' tree over columns n, tie_term,
    n_groups, n_<t>, r2_<t> — identical text in Spark SQL and DuckDB."""
    terms = " + ".join(
        f"(CAST(r2_{t} AS DOUBLE) / 2.0) * (CAST(r2_{t} AS DOUBLE) / 2.0)"
        f" / CAST(n_{t} AS DOUBLE)" for t in _KW_TYPES
    )
    h = (
        f"(12.0 / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))) * ({terms})"
        f" - 3.0 * CAST(n + 1 AS DOUBLE)"
    )
    corr = (
        f"(1.0 - CAST(tie_term AS DOUBLE)"
        f" / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
        f" - CAST(n AS DOUBLE)))"
    )
    guard = " OR ".join(f"n_{t} = 0" for t in _KW_TYPES)
    return (
        f"CASE WHEN n_groups <= 1 OR {guard} THEN NULL"
        f" ELSE floor(1000000.0 * (({h}) / {corr})) END"
    )


def _q268_oracle() -> str:
    conds = ",\n             ".join(
        f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS m_{t}" for t in _KW_TYPES
    )
    aggs = ",\n             ".join(
        f"CAST(SUM(m_{t}) AS BIGINT) AS n_{t},\n             "
        f"CAST(SUM(m_{t} * (2 * cum + m + 1)) AS BIGINT) AS r2_{t}"
        for t in _KW_TYPES
    )
    return f"""
    WITH g AS (
      SELECT value AS v, CAST(count(*) AS BIGINT) AS m,
             {conds}
      FROM events GROUP BY value
    ),
    c AS (
      SELECT g.*,
             CAST(COALESCE(SUM(m) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum
      FROM g
    ),
    tot AS (
      SELECT CAST(SUM(m) AS BIGINT) AS n,
             CAST(SUM(m * m * m - m) AS BIGINT) AS tie_term,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             {aggs}
      FROM c
    )
    SELECT n, tie_term, {", ".join(f"n_{t}" for t in _KW_TYPES)},
           CAST({_kw_h_sql()} AS BIGINT) AS h_micros,
           CAST({_kw_h_sql()} AS BIGINT) >= {_KW_CRIT_MICROS} AS reject_at_05
    FROM tot
    """


sql_query(
    "q268_kruskal_wallis",
    _q268_oracle(),
    category="mining",
    doc="tie-corrected Kruskal-Wallis H across the five event types; fixed-order 5-term double tree",
)


# --------------------------------------------------------------------------
# q271 — tie-aware average precision (the TREC metric; Buckley &
# Voorhees SIGIR 2000 on tie handling): the precision-weighted reading
# of the SAME grouped score frame q165 reads rank-sum-wise. AUC asks
# "how often does a positive outrank a negative"; AP asks "how much
# precision do the positives carry where they sit" — the two standard
# scalar summaries of a ranking, and they disagree exactly when the
# positives cluster at the extremes. Convention: ties are evaluated at
# their GROUP BOUNDARY — every distinct score level is a retrieval
# cutoff, and each level's p_g positives contribute precision
# P_g / C_g (positives / rows retrieved through that level). This
# keeps the whole metric on the score-DOMAIN frame (map-side
# combinable, never a corpus sort — q165's architecture) and every
# term is an exact integer division floored to micros, integer-summed
# (order-free), so the readout is bit-portable.
#
# 100 TB shape: one corpus-scale groupBy on the score (map-side
# combine, output = score domain), one cumulative window over that
# bounded frame, a 1-row reduce. Reference delegates analytics to
# Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q271_average_precision",
    oracle="""
    WITH g AS (
      SELECT n_chars AS score, CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p
      FROM documents GROUP BY n_chars
    ),
    c AS (
      SELECT score, m, p,
             CAST(SUM(m) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cret,
             CAST(SUM(p) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS pret
      FROM g
    ),
    terms AS (
      SELECT p, pret, cret,
             CAST(CAST(1000000 AS HUGEINT) * p * pret // cret AS BIGINT)
               AS term_micros
      FROM c
    )
    SELECT CAST(SUM(p) AS BIGINT) AS n_rel,
           CAST(MAX(cret) AS BIGINT) AS n_docs,
           CAST(CASE WHEN SUM(p) = 0 THEN NULL
                ELSE SUM(term_micros) // SUM(p) END AS BIGINT) AS ap_micros
    FROM terms
    """,
    category="mining",
    doc="tie-aware average precision of n_chars vs lang='en' at group-boundary cutoffs, exact integer micros",
)
def q271(spark: SparkSession, sf: str) -> DataFrame:
    g = (
        t(spark, sf, "documents")
        .groupBy(F.col("n_chars").alias("score"))
        .agg(
            F.count("*").alias("m"),
            F.sum((F.col("lang") == "en").cast("bigint")).alias("p"),
        )
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = g.select(
        "p",
        F.sum("m").over(w).alias("cret"),
        F.sum("p").over(w).alias("pret"),
    )
    terms = c.select(
        "p",
        "cret",
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * p * pret div cret AS BIGINT)"
        ).alias("term_micros"),
    )
    return terms.agg(
        F.sum("p").cast("long").alias("n_rel"),
        F.max("cret").cast("long").alias("n_docs"),
        F.expr(
            "CAST(CASE WHEN SUM(p) = 0 THEN NULL"
            " ELSE SUM(term_micros) div SUM(p) END AS BIGINT)"
        ).alias("ap_micros"),
    )


# --------------------------------------------------------------------------
# q272 — AMS second-moment sketch (Alon, Matias & Szegedy, STOC 1996):
# estimate F2 = sum_w f_w^2 of the token stream — the self-join size /
# skew readout an optimizer consults before a groupBy on the key — from
# EIGHT integer counters. Counter j is X_j = sum over tokens of a
# {-1,+1} sign drawn from the portable h31('ams{j}-' || w), so building
# the sketch is ONE map-side conditional-sum aggregate over the token
# scan — no per-word shuffle at all (contrast: the exact F2 audit side
# pays the word-keyed aggregate). E[X_j^2] = F2; the estimate is the
# median of the 8 squares, held in 2x integer space (sum of the 4th and
# 5th order statistics) so no division or float touches it. Completes
# the sketch family: CM answers point queries (q132/q262/q266) and
# inner products (q141), theta answers set algebra (q108), AMS answers
# the frequency MOMENT.
#
# 100 TB shape: sketch side is one 8-column conditional sum with
# map-side partial combine (8 BIGINTs per partition cross the wire);
# audit side is the exact word count. X_j is bounded by token count N,
# X_j^2 by N^2 — DECIMAL(38,0)/HUGEINT to N ~ 1e18. Reference
# delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

def _q272_oracle() -> str:
    from .llm import duck_h31

    signs = ",\n             ".join(
        f"CAST(SUM(1 - 2 * ({duck_h31(chr(39) + f'ams{j}-' + chr(39) + ' || w')} % 2))"
        f" AS BIGINT) AS x{j}"
        for j in range(_AMS_D)
    )
    sq = ", ".join(
        f"CAST(x{j} AS HUGEINT) * CAST(x{j} AS HUGEINT)" for j in range(_AMS_D)
    )
    return f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    sk AS (
      SELECT {signs}
      FROM tok
    ),
    exact AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS HUGEINT) AS f2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w)
    ),
    med AS (
      SELECT CAST(sq[4] + sq[5] AS HUGEINT) AS est2
      FROM (SELECT list_sort([{sq}]) AS sq FROM sk)
    )
    SELECT {", ".join(f"sk.x{j}" for j in range(_AMS_D))},
           CAST(exact.f2 AS DOUBLE) AS f2_exact,
           CAST(med.est2 AS DOUBLE) / 2.0 AS f2_est
    FROM sk CROSS JOIN exact CROSS JOIN med
    """


def ams_token_frame(spark: SparkSession, sf: str) -> DataFrame:
    """The batch token stream both AMS forms audit against. The
    per-token digest downstream is pure map CPU, so a scan-starved
    input (one compressed parquet file) is re-spread first
    (operators/skew.spread_input)."""

    return spread_input(t(spark, sf, "documents"), key="doc_id").select(
        F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("w")
    )



@query(
    "q272_ams_f2",
    oracle=_q272_oracle(),
    category="mining",
    doc="AMS F2 sketch: 8 sign-sum counters vs the exact second moment of the token stream",
)
def q272(spark: SparkSession, sf: str) -> DataFrame:
    tok = ams_token_frame(spark, sf)
    return ams_audit_tail(ams_sign_counters(tok, "portable"), tok)


# --------------------------------------------------------------------------
# q273 — Brown-Forsythe / Levene test (Brown & Forsythe, JASA 1974):
# variance homogeneity across the five event types — the SPREAD
# companion to the location family (q198 tests means, q268 ranks,
# q258/q206 two-sample) and the assumption check classical ANOVA
# leans on. Statistic: one-way ANOVA F on the absolute deviations
# z = |x - median(group)|, with the median (robust center — the
# Brown-Forsythe choice over Levene's mean) computed EXACTLY on the
# micros integer grid: per group, the doubled median med2 = x_(lo) +
# x_(hi) from the cumulative value-domain frame, so z2 = |2x - med2|
# is an exact BIGINT per row. Moments (n_t, sum z2, sum z2^2) are
# exact DECIMAL(38,0)/HUGEINT conditional sums PIVOTED into named
# per-type columns — q198's floor-to-micros-then-integer-sum trick
# does NOT survive the 1e6x-finer micros grid (s1g^2/ng reaches ~1e35
# here, past BIGINT), and a float SUM over group rows would be
# reduction-order-unstable; the five named columns give the fixed
# written order instead (the q268 convention), so SSB/SSW/F assemble
# in one shared double tree, floored once to micros. Degenerate
# inputs (an absent type, n <= k, or zero within-group deviation)
# mirror NULL (q258/q268 convention).
#
# 100 TB shape: one (type, value)-keyed count aggregate (map-side
# combine, output = per-type value domain), one cumulative window per
# type over that bounded frame, one row-level join back to the 5-row
# broadcast median table, one pivoted moment aggregate, a scalar out.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_BF_TYPES = ("click", "error", "purchase", "signup", "view")
_BF_K = len(_BF_TYPES)


def _q273_f_sql() -> str:
    """F tree over columns n, n_<t>, s1_<t>, s2_<t> — identical text in
    Spark SQL and DuckDB (moment columns are 128-bit integers cast to
    DOUBLE exactly once each, fixed term order)."""
    ssw = " + ".join(
        f"(CAST(s2_{t} AS DOUBLE) - (CAST(s1_{t} AS DOUBLE) * CAST(s1_{t} AS DOUBLE))"
        f" / CAST(n_{t} AS DOUBLE))"
        for t in _BF_TYPES
    )
    s1tot = " + ".join(f"CAST(s1_{t} AS DOUBLE)" for t in _BF_TYPES)
    ssb = (
        " + ".join(
            f"(CAST(s1_{t} AS DOUBLE) * CAST(s1_{t} AS DOUBLE)) / CAST(n_{t} AS DOUBLE)"
            for t in _BF_TYPES
        )
        + f" - (({s1tot}) * ({s1tot})) / CAST(n AS DOUBLE)"
    )
    guard = " OR ".join(f"n_{t} = 0" for t in _BF_TYPES)
    return (
        f"CASE WHEN {guard} OR n <= {_BF_K} OR ({ssw}) <= 0.0 THEN NULL"
        f" ELSE floor(1000000.0 * ((({ssb}) / {_BF_K - 1}.0)"
        f" / (({ssw}) / CAST(n - {_BF_K} AS DOUBLE)))) END"
    )


def _q273_oracle() -> str:
    moments = ",\n             ".join(
        f"CAST(SUM(CASE WHEN g = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t},\n             "
        f"CAST(SUM(CASE WHEN g = '{t}' THEN CAST(z2 AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s1_{t},\n             "
        f"CAST(SUM(CASE WHEN g = '{t}' THEN CAST(z2 AS HUGEINT) * z2 ELSE 0 END) AS HUGEINT) AS s2_{t}"
        for t in _BF_TYPES
    )
    return f"""
    WITH v AS (
      SELECT event_type AS g, CAST(floor(value * 1000000.0) AS BIGINT) AS x
      FROM events
    ),
    dom AS (
      SELECT g, x, CAST(COUNT(*) AS BIGINT) AS m FROM v GROUP BY g, x
    ),
    cum AS (
      SELECT g, x, m,
             CAST(COALESCE(SUM(m) OVER (PARTITION BY g ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS c,
             CAST(SUM(m) OVER (PARTITION BY g) AS BIGINT) AS ng
      FROM dom
    ),
    med AS (
      SELECT g,
             CAST(SUM(x * (CASE WHEN c < (ng + 1) // 2 AND (ng + 1) // 2 <= c + m
                                THEN 1 ELSE 0 END
                         + CASE WHEN c < (ng + 2) // 2 AND (ng + 2) // 2 <= c + m
                                THEN 1 ELSE 0 END)) AS BIGINT) AS med2
      FROM cum GROUP BY g
    ),
    z AS (
      SELECT v.g, abs(2 * v.x - med.med2) AS z2
      FROM v JOIN med ON v.g = med.g
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             {moments}
      FROM z
    )
    SELECT n, {", ".join(f"n_{t}" for t in _BF_TYPES)},
           CAST({_q273_f_sql()} AS BIGINT) AS f_micros
    FROM tot
    """


@query(
    "q273_levene_spread",
    oracle=_q273_oracle(),
    category="mining",
    doc="Brown-Forsythe variance-homogeneity F across event types, exact integer-grid medians and pivoted 128-bit moments",
)
def q273(spark: SparkSession, sf: str) -> DataFrame:
    v = t(spark, sf, "events").select(
        F.col("event_type").alias("g"),
        F.expr("CAST(floor(value * 1000000.0) AS BIGINT)").alias("x"),
    )
    dom = v.groupBy("g", "x").agg(F.count("*").alias("m"))
    wcum = (
        Window.partitionBy("g").orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = dom.select(
        "g",
        "x",
        "m",
        F.coalesce(F.sum("m").over(wcum), F.lit(0)).alias("c"),
        F.sum("m").over(Window.partitionBy("g")).alias("ng"),
    )
    med = cum.groupBy("g").agg(
        F.sum(
            F.col("x")
            * (
                F.expr(
                    "CASE WHEN c < (ng + 1) div 2 AND (ng + 1) div 2 <= c + m"
                    " THEN 1 ELSE 0 END"
                    " + CASE WHEN c < (ng + 2) div 2 AND (ng + 2) div 2 <= c + m"
                    " THEN 1 ELSE 0 END"
                )
            )
        )
        .cast("long")
        .alias("med2")
    )
    z = v.join(F.broadcast(med), "g").select(
        "g", F.abs(F.lit(2) * F.col("x") - F.col("med2")).alias("z2")
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    tot = z.agg(
        F.count("*").cast("long").alias("n"),
        *[
            a
            for ty in _BF_TYPES
            for a in (
                F.sum(F.when(F.col("g") == ty, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{ty}"),
                F.sum(
                    F.when(F.col("g") == ty, dec(F.col("z2"))).otherwise(F.lit(0))
                ).alias(f"s1_{ty}"),
                F.sum(
                    F.when(F.col("g") == ty, dec(F.col("z2")) * F.col("z2")).otherwise(
                        F.lit(0)
                    )
                ).alias(f"s2_{ty}"),
            )
        ],
    )
    return tot.select(
        "n",
        *[F.col(f"n_{ty}") for ty in _BF_TYPES],
        F.expr(_q273_f_sql()).cast("long").alias("f_micros"),
    )


# --------------------------------------------------------------------------
# q274 — Friedman test (Friedman, JASA 1937): the PAIRED k-sample rank
# test, completing the grid — q261 is paired with k=2 (McNemar),
# q268 unpaired k-sample (Kruskal-Wallis), this is paired k-sample:
# does per-user spend RANK differently across the five event types
# when each user is their own block? Blocks are users observed in ALL
# five types (complete blocks, the classical design); the observation
# is the user's per-type value total on the micros grid. Within-block
# midranks use the 2x integer space (midrank2 = 2c + m + 1 over the
# FIVE in-block observations), so the per-type rank sums R2_j are
# exact BIGINTs; chi2_F = [12/(b k (k+1))] sum_j R_j^2 - 3 b (k+1)
# assembles in one fixed-order 5-term double tree (q268's convention)
# with the within-block tie correction C = 1 - sum(t^3 - t)/(b k (k^2-1)).
# All-tie degeneracy (C = 0) is the exact integer predicate
# tie_sum = 120 b (k = 5), mirrored NULL both engines; the chi2(4)
# critical value is the same Python literal as q268.
#
# 100 TB shape: one (user, type) aggregate, a per-user 5-row rank
# window (blocks are bounded width k = 5), one pivoted rank-sum
# aggregate, a scalar out. Reference delegates analytics to Athena
# (src/app.py:97-189).
# --------------------------------------------------------------------------

_FR_TYPES = ("click", "error", "purchase", "signup", "view")
_FR_K = len(_FR_TYPES)
_FR_CRIT_MICROS = 9_487_729  # floor(1e6 * chi2(4).ppf(0.95)) — q268's literal


def _fr_chi2_sql() -> str:
    terms = " + ".join(
        f"(CAST(r2_{ty} AS DOUBLE) / 2.0) * (CAST(r2_{ty} AS DOUBLE) / 2.0)"
        for ty in _FR_TYPES
    )
    chi = (
        f"(12.0 / (CAST(b AS DOUBLE) * {_FR_K}.0 * {_FR_K + 1}.0)) * ({terms})"
        f" - 3.0 * CAST(b AS DOUBLE) * {_FR_K + 1}.0"
    )
    corr = (
        f"(1.0 - CAST(tie_sum AS DOUBLE)"
        f" / (CAST(b AS DOUBLE) * {_FR_K * (_FR_K * _FR_K - 1)}.0))"
    )
    return (
        f"CASE WHEN b = 0 OR tie_sum = {_FR_K * (_FR_K * _FR_K - 1)} * b THEN NULL"
        f" ELSE floor(1000000.0 * (({chi}) / {corr})) END"
    )


def _q274_oracle() -> str:
    sums = ",\n             ".join(
        f"CAST(SUM(CASE WHEN g = '{ty}' THEN mr2 ELSE 0 END) AS BIGINT) AS r2_{ty}"
        for ty in _FR_TYPES
    )
    return f"""
    WITH obs AS (
      SELECT user_id, event_type AS g,
             CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY user_id, event_type
    ),
    blocks AS (
      SELECT user_id FROM obs GROUP BY user_id HAVING COUNT(*) = {_FR_K}
    ),
    ranked AS (
      SELECT o.user_id, o.g,
             CAST(2 * (RANK() OVER (PARTITION BY o.user_id ORDER BY o.x))
                  + (COUNT(*) OVER (PARTITION BY o.user_id, o.x)) - 1
                  AS BIGINT) AS mr2,
             CAST(COUNT(*) OVER (PARTITION BY o.user_id, o.x) AS BIGINT) AS tg
      FROM obs o JOIN blocks USING (user_id)
    ),
    ties AS (
      SELECT CAST(SUM(tg * tg - 1) AS BIGINT) AS tie_sum
      FROM ranked
    ),
    rs AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS b,
             {sums}
      FROM ranked
    )
    SELECT rs.b, ties.tie_sum,
           CAST({_fr_chi2_sql()} AS BIGINT) AS chi2_micros,
           CAST({_fr_chi2_sql()} AS BIGINT) >= {_FR_CRIT_MICROS} AS reject_at_05
    FROM rs CROSS JOIN ties
    """


@query(
    "q274_friedman_test",
    oracle=_q274_oracle(),
    category="mining",
    doc="Friedman paired k-sample rank test over complete user blocks, 2x integer midranks",
)
def q274(spark: SparkSession, sf: str) -> DataFrame:
    ranked = _blocked_midranks(spark, sf)
    ties = ranked.agg(
        F.sum(F.col("tg") * F.col("tg") - 1).cast("long").alias("tie_sum")
    )
    rs = ranked.agg(
        F.countDistinct("user_id").cast("long").alias("b"),
        *[
            F.sum(F.when(F.col("g") == ty, F.col("mr2")).otherwise(0))
            .cast("long")
            .alias(f"r2_{ty}")
            for ty in _FR_TYPES
        ],
    )
    chi = F.expr(_fr_chi2_sql()).cast("long")
    return rs.crossJoin(F.broadcast(ties)).select(
        "b",
        "tie_sum",
        chi.alias("chi2_micros"),
        (chi >= F.lit(_FR_CRIT_MICROS)).alias("reject_at_05"),
    )


def _blocked_midranks(spark: SparkSession, sf: str) -> DataFrame:
    """The complete-block within-user midrank frame q274 and q292
    share: (user_id, g, mr2 = 2x midrank over the block's 5 values,
    tg = in-block tie-group size)."""
    obs = (
        t(spark, sf, "events")
        .groupBy("user_id", F.col("event_type").alias("g"))
        .agg(
            F.sum(F.expr("CAST(floor(value * 1000000.0) AS BIGINT)"))
            .cast("long")
            .alias("x")
        )
    )
    # complete-block filter as a window count under the SAME user_id
    # partitioning the rank windows need — hash(user_id) satisfies the
    # (user_id, x) clustering too, so all three window ops share ONE
    # exchange (a separate groupBy+semi-join here cost 3 more)
    wb = Window.partitionBy("user_id")
    wr = Window.partitionBy("user_id").orderBy("x")
    wt = Window.partitionBy("user_id", "x")
    return (
        obs.withColumn("nt", F.count("*").over(wb))
        .filter(F.col("nt") == _FR_K)
        .select(
            "user_id",
            "g",
            (
                F.lit(2) * F.rank().over(wr) + F.count("*").over(wt) - 1
            ).cast("long").alias("mr2"),
            F.count("*").over(wt).cast("long").alias("tg"),
        )
    )


# --------------------------------------------------------------------------
# q292 — Page's trend test (Page, JASA 1963): the ORDERED-alternative
# companion of q274, completing the 2x2 k-sample grid — q268 tests ANY
# rank difference unpaired, q282 ordered unpaired (Jonckheere), q274
# ANY difference paired, THIS ordered paired: does per-user spend rank
# increase monotonically along the hypothesized engagement funnel
# view < click < error < signup < purchase when each user is their own
# block? Same complete user blocks and 2x integer midranks as q274
# (shared _blocked_midranks), so L2 = sum_j c_j * R2_j is an exact
# BIGINT (L = L2/2). Under the null E[2L] = b k (k+1)^2 / 2 = 90 b and
# Var[L] = b k^2 (k+1)^2 (k-1) / 144 = 25 b exactly at k = 5, so
# z = (L2 - 90b) / (10 sqrt(b)) — one engine-shared sqrt, micros
# floor. Midranks with the classical no-tie variance is the standard
# practical form; the all-tie degeneracy (every block fully tied:
# tie_sum = 120 b, where z would misleadingly read 0) mirrors NULL on
# both engines, q274's convention. One-sided rejection at the
# norm.ppf(0.95) Python literal.
#
# 100 TB shape: identical to q274 — one (user, type) aggregate,
# bounded-width rank windows, one pivoted scalar. Reference delegates
# analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_PAGE_ORDER = {"view": 1, "click": 2, "error": 3, "signup": 4, "purchase": 5}
_PAGE_Z_CRIT_MICROS = 1_644_853  # floor(1e6 * norm.ppf(0.95)) — Python literal


def _page_z_sql() -> str:
    return (
        "CASE WHEN b = 0 OR tie_sum = 120 * b THEN NULL"
        " ELSE floor(1000000.0 * (CAST(l2 AS DOUBLE) - 90.0 * CAST(b AS DOUBLE))"
        " / (10.0 * sqrt(CAST(b AS DOUBLE)))) END"
    )


def _q292_oracle() -> str:
    sums = ",\n             ".join(
        f"CAST(SUM(CASE WHEN g = '{ty}' THEN {c} * mr2 ELSE 0 END) AS BIGINT)"
        f" AS l2_{ty}"
        for ty, c in _PAGE_ORDER.items()
    )
    l2 = " + ".join(f"l2_{ty}" for ty in _PAGE_ORDER)
    return f"""
    WITH obs AS (
      SELECT user_id, event_type AS g,
             CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY user_id, event_type
    ),
    blocks AS (
      SELECT user_id FROM obs GROUP BY user_id HAVING COUNT(*) = {_FR_K}
    ),
    ranked AS (
      SELECT o.user_id, o.g,
             CAST(2 * (RANK() OVER (PARTITION BY o.user_id ORDER BY o.x))
                  + (COUNT(*) OVER (PARTITION BY o.user_id, o.x)) - 1
                  AS BIGINT) AS mr2,
             CAST(COUNT(*) OVER (PARTITION BY o.user_id, o.x) AS BIGINT) AS tg
      FROM obs o JOIN blocks USING (user_id)
    ),
    ties AS (
      SELECT CAST(SUM(tg * tg - 1) AS BIGINT) AS tie_sum FROM ranked
    ),
    rs AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS b,
             {sums}
      FROM ranked
    ),
    l AS (SELECT b, CAST({l2} AS BIGINT) AS l2 FROM rs)
    SELECT l.b, ties.tie_sum, l.l2,
           CAST({_page_z_sql()} AS BIGINT) AS z_micros,
           CAST({_page_z_sql()} AS BIGINT) >= {_PAGE_Z_CRIT_MICROS} AS reject_at_05
    FROM l CROSS JOIN ties
    """


@query(
    "q292_page_trend",
    oracle=_q292_oracle(),
    category="mining",
    doc="Page's L ordered-alternative trend test over complete user blocks (paired companion of q282's Jonckheere), 2x integer midranks",
)
def q292(spark: SparkSession, sf: str) -> DataFrame:
    ranked = _blocked_midranks(spark, sf)
    ties = ranked.agg(
        F.sum(F.col("tg") * F.col("tg") - 1).cast("long").alias("tie_sum")
    )
    rs = ranked.agg(
        F.countDistinct("user_id").cast("long").alias("b"),
        F.sum(
            sum(
                (
                    F.when(F.col("g") == ty, F.lit(c) * F.col("mr2")).otherwise(
                        F.lit(0)
                    )
                    for ty, c in _PAGE_ORDER.items()
                ),
                start=F.lit(0),
            )
        )
        .cast("long")
        .alias("l2"),
    )
    z = F.expr(_page_z_sql()).cast("long")
    return rs.crossJoin(F.broadcast(ties)).select(
        "b",
        "tie_sum",
        "l2",
        z.alias("z_micros"),
        (z >= F.lit(_PAGE_Z_CRIT_MICROS)).alias("reject_at_05"),
    )


# --------------------------------------------------------------------------
# q282 — Jonckheere-Terpstra ordered-alternative trend test (Jonckheere
# 1954; Terpstra 1952): do event values shift monotonically across the
# ORDERED six-hour day parts (night -> morning -> afternoon ->
# evening)? The missing cell of the k-sample grid: q198 tests ANY mean
# difference, q268 ANY rank difference, q273 spread, q274 paired
# blocks — none can say "increasing WITH the group order", which is
# the alternative dayparts/doses/cohorts actually pose. J = sum over
# group pairs i<j of the Mann-Whitney count #(x in G_i < y in G_j)
# (+ half-ties), computed EXACTLY on the integer-cents value grid
# (events carry 2-decimal values, so cents are lossless): 2J folds
# over the value-domain frame with the four groups' counts PIVOTED to
# named columns (q273's convention) and their exclusive cumulatives
# from one shared ordered window — 2J contribution at value v is
# sum_j m_j (2 * sum_{i<j} C_i + sum_{i<j} m_i), all DECIMAL(38,0).
# The null variance carries the FULL tie correction (the three-term
# form, Hollander & Wolfe 6.19): each term's integer numerators are
# exact; the three quotients assemble in one fixed-order double tree.
# z_micros = floor(1e6 * (J - E[J]) / sqrt(Var)); NULL on an absent
# group or non-positive variance.
#
# 100 TB shape: one map-side conditional-count aggregate keyed by
# cents value (domain bounded by the VALUE RANGE — ~49k cents here —
# never by row count), one ordered window over that bounded frame,
# one scalar fold. Reference delegates analytics to Athena
# (src/app.py:97-189).
# --------------------------------------------------------------------------

_JT_K = 4  # six-hour dayparts 0..3
_JT_CENTS = "CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)"


def _jt_group_sql(hour_expr: str, idiv: str) -> str:
    # INTEGER division is spelled per engine (Spark: div, DuckDB: //) —
    # '/' on integers is FLOAT division in both, which would silently
    # assign only hours 0/6/12/18 to any group.
    return f"CAST({hour_expr} AS INT) {idiv} 6"


def _jt_tail_sql() -> str:
    """Engine-shared assembly over columns n, n0..n3, j2, ej2, t1, t2n,
    t2t, t3n, t3t (integer/decimal moments): z in one fixed-order
    double tree."""
    var = (
        "(CAST(t1 AS DOUBLE) / 72.0"
        " + (CAST(t2n AS DOUBLE) * CAST(t2t AS DOUBLE))"
        "   / (36.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * CAST(n - 2 AS DOUBLE))"
        " + (CAST(t3n AS DOUBLE) * CAST(t3t AS DOUBLE))"
        "   / (8.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
    )
    guard = " OR ".join(f"n{g} = 0" for g in range(_JT_K))
    return (
        f"CASE WHEN {guard} OR n <= 2 OR {var} <= 0.0 THEN NULL"
        f" ELSE CAST(floor(1000000.0 * ((CAST(j2 AS DOUBLE) - CAST(ej2 AS DOUBLE)) / 2.0)"
        f" / sqrt({var})) AS BIGINT) END"
    )


def _q282_oracle() -> str:
    ms = ",\n             ".join(
        f"CAST(SUM(CASE WHEN g = {j} THEN 1 ELSE 0 END) AS BIGINT) AS m{j}"
        for j in range(_JT_K)
    )
    cums = ",\n             ".join(
        f"CAST(COALESCE(SUM(m{j}) OVER (ORDER BY x"
        f" ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS c{j}"
        for j in range(_JT_K)
    )
    contrib = " + ".join(
        "CAST(m{j} AS HUGEINT) * (2 * ({cs}) + ({msum}))".format(
            j=j,
            cs=" + ".join(f"CAST(c{i} AS HUGEINT)" for i in range(j)),
            msum=" + ".join(f"CAST(m{i} AS HUGEINT)" for i in range(j)),
        )
        for j in range(1, _JT_K)
    )
    ns = ",\n             ".join(
        f"CAST(SUM(m{j}) AS BIGINT) AS n{j}" for j in range(_JT_K)
    )
    ej2 = " + ".join(
        f"CAST(n{i} AS HUGEINT) * n{j}"
        for i in range(_JT_K)
        for j in range(i + 1, _JT_K)
    )
    gterm = lambda e, f: " + ".join(  # noqa: E731
        f"CAST(n{g} AS HUGEINT) * (n{g} - 1) * ({f.format(g=f'n{g}')})"
        if e
        else f"CAST(n{g} AS HUGEINT) * (n{g} - 1)"
        for g in range(_JT_K)
    )
    return f"""
    WITH v AS (
      SELECT {_jt_group_sql("extract(hour FROM ts)", "//")} AS g, {_JT_CENTS} AS x
      FROM events
    ),
    dom AS (
      SELECT x, {ms}
      FROM v GROUP BY x
    ),
    cum AS (
      SELECT x, {", ".join(f"m{j}" for j in range(_JT_K))},
             {cums}
      FROM dom
    ),
    fold AS (
      SELECT CAST(SUM({contrib}) AS HUGEINT) AS j2,
             CAST(SUM(CAST({" + ".join(f"m{j}" for j in range(_JT_K))} AS HUGEINT)
                      * ({" + ".join(f"m{j}" for j in range(_JT_K))} - 1)
                      * (2 * ({" + ".join(f"m{j}" for j in range(_JT_K))}) + 5)) AS HUGEINT) AS tie_t1,
             CAST(SUM(CAST({" + ".join(f"m{j}" for j in range(_JT_K))} AS HUGEINT)
                      * ({" + ".join(f"m{j}" for j in range(_JT_K))} - 1)
                      * ({" + ".join(f"m{j}" for j in range(_JT_K))} - 2)) AS HUGEINT) AS t2t,
             CAST(SUM(CAST({" + ".join(f"m{j}" for j in range(_JT_K))} AS HUGEINT)
                      * ({" + ".join(f"m{j}" for j in range(_JT_K))} - 1)) AS HUGEINT) AS t3t,
             {ns}
      FROM cum
    ),
    m AS (
      SELECT CAST({" + ".join(f"n{j}" for j in range(_JT_K))} AS BIGINT) AS n,
             {", ".join(f"n{j}" for j in range(_JT_K))},
             j2,
             CAST({ej2} AS HUGEINT) AS ej2,
             CAST(CAST({" + ".join(f"n{j}" for j in range(_JT_K))} AS HUGEINT)
                  * ({" + ".join(f"n{j}" for j in range(_JT_K))} - 1)
                  * (2 * ({" + ".join(f"n{j}" for j in range(_JT_K))}) + 5)
                - ({gterm(True, "2 * {g} + 5")})
                - tie_t1 AS HUGEINT) AS t1,
             CAST({gterm(True, "{g} - 2")} AS HUGEINT) AS t2n,
             t2t,
             CAST({gterm(False, "")} AS HUGEINT) AS t3n,
             t3t
      FROM fold
    )
    SELECT n, CAST(j2 AS DOUBLE) AS j2, CAST(ej2 AS DOUBLE) AS ej2,
           {_jt_tail_sql()} AS z_micros
    FROM m
    """


@query(
    "q282_jonckheere_trend",
    oracle=_q282_oracle(),
    category="mining",
    doc="Jonckheere-Terpstra ordered trend across six-hour dayparts: 2J folded over the pivoted cents-domain frame, full tie-corrected variance",
)
def q282(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    v = t(spark, sf, "events").select(
        F.expr(_jt_group_sql("hour(ts)", "div")).alias("g"),
        F.expr(_JT_CENTS).alias("x"),
    )
    dom = v.groupBy("x").agg(
        *[
            F.sum(F.when(F.col("g") == j, 1).otherwise(0))
            .cast("long")
            .alias(f"m{j}")
            for j in range(_JT_K)
        ]
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    cum = dom.select(
        "x",
        *[F.col(f"m{j}") for j in range(_JT_K)],
        *[
            F.coalesce(F.sum(f"m{j}").over(w), F.lit(0)).cast("long").alias(f"c{j}")
            for j in range(_JT_K)
        ],
    )
    contrib = " + ".join(
        "CAST(m{j} AS DECIMAL(38,0)) * (2 * ({cs}) + ({msum}))".format(
            j=j,
            cs=" + ".join(f"CAST(c{i} AS DECIMAL(38,0))" for i in range(j)),
            msum=" + ".join(f"CAST(m{i} AS DECIMAL(38,0))" for i in range(j)),
        )
        for j in range(1, _JT_K)
    )
    mt = " + ".join(f"m{j}" for j in range(_JT_K))
    fold = cum.agg(
        F.expr(f"CAST(SUM({contrib}) AS DECIMAL(38,0))").alias("j2"),
        F.expr(
            f"CAST(SUM(CAST({mt} AS DECIMAL(38,0)) * ({mt} - 1) * (2 * ({mt}) + 5))"
            " AS DECIMAL(38,0))"
        ).alias("tie_t1"),
        F.expr(
            f"CAST(SUM(CAST({mt} AS DECIMAL(38,0)) * ({mt} - 1) * ({mt} - 2))"
            " AS DECIMAL(38,0))"
        ).alias("t2t"),
        F.expr(
            f"CAST(SUM(CAST({mt} AS DECIMAL(38,0)) * ({mt} - 1)) AS DECIMAL(38,0))"
        ).alias("t3t"),
        *[
            F.sum(f"m{j}").cast("long").alias(f"n{j}")
            for j in range(_JT_K)
        ],
    )
    nt = " + ".join(f"n{j}" for j in range(_JT_K))
    ej2 = " + ".join(
        f"CAST(n{i} AS DECIMAL(38,0)) * n{j}"
        for i in range(_JT_K)
        for j in range(i + 1, _JT_K)
    )
    g25 = " + ".join(
        f"CAST(n{g} AS DECIMAL(38,0)) * (n{g} - 1) * (2 * n{g} + 5)"
        for g in range(_JT_K)
    )
    g2 = " + ".join(
        f"CAST(n{g} AS DECIMAL(38,0)) * (n{g} - 1) * (n{g} - 2)" for g in range(_JT_K)
    )
    g1 = " + ".join(f"CAST(n{g} AS DECIMAL(38,0)) * (n{g} - 1)" for g in range(_JT_K))
    m = fold.select(
        F.expr(f"CAST({nt} AS BIGINT)").alias("n"),
        *[F.col(f"n{j}") for j in range(_JT_K)],
        "j2",
        F.expr(f"CAST({ej2} AS DECIMAL(38,0))").alias("ej2"),
        F.expr(
            f"CAST(CAST({nt} AS DECIMAL(38,0)) * ({nt} - 1) * (2 * ({nt}) + 5)"
            f" - ({g25}) - tie_t1 AS DECIMAL(38,0))"
        ).alias("t1"),
        F.expr(f"CAST({g2} AS DECIMAL(38,0))").alias("t2n"),
        "t2t",
        F.expr(f"CAST({g1} AS DECIMAL(38,0))").alias("t3n"),
        "t3t",
    )
    return m.select(
        "n",
        F.expr("CAST(j2 AS DOUBLE)").alias("j2"),
        F.expr("CAST(ej2 AS DOUBLE)").alias("ej2"),
        F.expr(_jt_tail_sql()).alias("z_micros"),
    )


# --------------------------------------------------------------------------
# q285 — two-sample Cramér-von Mises statistic (Anderson 1962) between
# the English and German document-length distributions: T =
# (nm / N^2) * sum over all N data points of (F_n(z) - G_m(z))^2. The
# INTEGRATED companion to q199's Kolmogorov-Smirnov max — KS sees only
# the single worst CDF gap, CvM accumulates every gap, so it catches
# broad mild shifts KS under-weights (the standard pairing in drift
# suites). Exact on the value domain: per distinct length v with
# sample counts (a, b) and inclusive cumulatives (A, B), the (a+b)-
# weighted squared gap is (A*m - B*n)^2 (a+b) in DECIMAL(38,0)/HUGEINT
# — integer-exact to ~1e9 docs per side (beyond, shard by stratum and
# combine; documented envelope, the q273 discipline) — and T floors to
# micros after ONE fixed-order double division by n*m*N^2.
#
# 100 TB shape: one conditional-count aggregate keyed by the length
# value (domain bounded by the LENGTH RANGE, not rows), one ordered
# window over that bounded frame, a scalar fold. Reference delegates
# analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_CVM_A, _CVM_B = "en", "de"


def _q285_oracle() -> str:
    return f"""
    WITH v AS (
      SELECT n_chars AS x, CAST(lang = '{_CVM_A}' AS INT) AS ia,
             CAST(lang = '{_CVM_B}' AS INT) AS ib
      FROM documents WHERE lang IN ('{_CVM_A}', '{_CVM_B}')
    ),
    dom AS (
      SELECT x, CAST(SUM(ia) AS BIGINT) AS a, CAST(SUM(ib) AS BIGINT) AS b
      FROM v GROUP BY x
    ),
    cum AS (
      SELECT x, a, b,
             CAST(SUM(a) OVER (ORDER BY x) AS BIGINT) AS ca,
             CAST(SUM(b) OVER (ORDER BY x) AS BIGINT) AS cb
      FROM dom
    ),
    tot AS (
      SELECT CAST(SUM(a) AS BIGINT) AS n, CAST(SUM(b) AS BIGINT) AS m FROM dom
    )
    SELECT tot.n, tot.m,
           CAST(CASE WHEN tot.n = 0 OR tot.m = 0 THEN NULL
             ELSE floor(1000000.0 *
               (CAST(SUM((CAST(ca AS HUGEINT) * tot.m - CAST(cb AS HUGEINT) * tot.n)
                         * (CAST(ca AS HUGEINT) * tot.m - CAST(cb AS HUGEINT) * tot.n)
                         * (a + b)) AS DOUBLE))
               / (CAST(tot.n AS DOUBLE) * CAST(tot.m AS DOUBLE)
                  * CAST(tot.n + tot.m AS DOUBLE) * CAST(tot.n + tot.m AS DOUBLE)))
             END AS BIGINT) AS t_micros
    FROM cum CROSS JOIN tot
    GROUP BY tot.n, tot.m
    """


@query(
    "q285_cramer_von_mises",
    oracle=_q285_oracle(),
    category="mining",
    doc="two-sample Cramér-von Mises over the length value domain: integrated squared CDF gap, exact integer numerators, one double division",
)
def q285(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    v = t(spark, sf, "documents").filter(
        F.col("lang").isin(_CVM_A, _CVM_B)
    ).select(
        F.col("n_chars").alias("x"),
        (F.col("lang") == _CVM_A).cast("int").alias("ia"),
        (F.col("lang") == _CVM_B).cast("int").alias("ib"),
    )
    dom = v.groupBy("x").agg(
        F.sum("ia").cast("long").alias("a"), F.sum("ib").cast("long").alias("b")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = dom.select(
        "x",
        "a",
        "b",
        F.sum("a").over(w).cast("long").alias("ca"),
        F.sum("b").over(w).cast("long").alias("cb"),
    )
    tot = dom.agg(
        F.sum("a").cast("long").alias("n"), F.sum("b").cast("long").alias("m")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n", "m")
        .agg(
            F.expr(
                "SUM((CAST(ca AS DECIMAL(38,0)) * m - CAST(cb AS DECIMAL(38,0)) * n)"
                " * (CAST(ca AS DECIMAL(38,0)) * m - CAST(cb AS DECIMAL(38,0)) * n)"
                " * (a + b))"
            ).alias("num")
        )
        .select(
            "n",
            "m",
            F.expr(
                "CAST(CASE WHEN n = 0 OR m = 0 THEN NULL"
                " ELSE floor(1000000.0 * CAST(num AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)"
                "    * CAST(n + m AS DOUBLE) * CAST(n + m AS DOUBLE)))"
                " END AS BIGINT)"
            ).alias("t_micros"),
        )
    )
