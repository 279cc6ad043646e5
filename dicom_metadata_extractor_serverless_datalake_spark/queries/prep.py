"""Model-prep / feature-engineering query family (round 4f).

The last mile between a curated corpus and a training job: label-noise
auditing, the hashing trick, supervised sequence construction, exact
per-class sampling, and negative sampling. Like every corpus family the
queries are deterministic (portable md5-based h31 hash wherever
pseudo-randomness is needed) and oracle-checked against DuckDB running
the same algorithm.

Reference parity note: the reference (aws-samples/
dicom-metadata-extractor-serverless-datalake) delegates its whole query
surface to Athena (README.md:3); this family is part of the
driver-mandated LLM/training-pipeline extension surface, built on the
star-schema testdata (`documents`, `embeddings`, `events`).

Scale shapes (100 TB notes per query):

- q166: the audit anchor set is a FIXED-COUNT hash-ordered pick
  (TakeOrderedAndProject), broadcast; the
  corpus is touched in ONE streamed pass; per-anchor top-k goes through
  a rank window whose partial ``WindowGroupLimit`` caps what each task
  emits at k rows per anchor BEFORE the exchange (the q31 shape), so
  the shuffle carries O(k * partitions * anchors) scored rows, never
  |anchors| x |corpus|.
- q167: token explode is map-side, the per-bucket aggregate is one
  partially-aggregated shuffle over a FIXED bucket domain (the hash
  dimension), independent of corpus size; the distinct-token count per
  bucket is Spark's standard two-level distinct aggregate.
- q168: one shuffle keyed by user (the q88 sessionization
  partitioning); lag/lead/row_number all evaluate in the same window
  pass, so sequence construction costs exactly one exchange.
- q169: per-group exact-k selection is a rank window with the same
  partial ``WindowGroupLimit`` map-side cap — each task forwards at
  most k rows per group.
- q170: candidate item ids come from hash arithmetic (no window or
  scan over the item catalog); draw generation is map-side explode;
  the corpus-sized operations are two hash equi-joins — candidate
  validation against the part catalog and the anti-join against
  observed (customer, part) positives.
- q172: posexplode is map-side; the aggregate's key domain is
  |labels| x dim cells regardless of corpus size; fixed-point sums
  are plain longs inside whole-stage codegen.
- q173: the centroid table is |labels| rows (broadcast); the corpus
  is scored in one streamed pass; per-label bottom-k is
  WindowGroupLimit-capped map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..eventlog import EventLog
from ..operators.ann import dot_sql, norm_sql
from ..operators.dedup import h31
from ..vectors import _SCALE, EmbeddingSet, _jl_y_sql
from .base import query, t
from .llm import duck_h31

# --------------------------------------------------------------------------
# q166 — kNN label-noise audit (Confident-Learning-shaped): for a
# deterministic FIXED-COUNT anchor set (the 100 vectors with the
# smallest portable hash — a distributed TakeOrderedAndProject, never a
# global sort), find the exact 5 nearest neighbors by cosine (brute
# force, the q54 fold so doubles are bit-identical cross-engine) and
# flag anchors whose label disagrees with the neighbor majority. This
# is the mislabel-detection pass a training pipeline runs before
# fitting on weak labels. Fixed COUNT (not a fraction) is what makes
# the audit linear in corpus size: work is |anchors| x |corpus| with
# |anchors| constant — the fraction form measured 5.2x wall for a 100x
# corpus with 100 anchors (BASELINE.md round-4f), while 20% anchors
# would scale quadratically.
# --------------------------------------------------------------------------

_AUDIT_N = 100
_AUDIT_K = 5

@query(
    "q166_knn_label_audit",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS q_id, embedding AS qe, label AS own_label
      FROM embeddings
      ORDER BY {duck_h31("'a166-' || CAST(vec_id AS VARCHAR)")}, vec_id
      LIMIT {_AUDIT_N}
    ),
    scored AS (
      SELECT a.q_id, a.own_label, e.vec_id, e.label AS n_label,
             list_reduce(
               list_transform(generate_series(1, len(qe)),
                              i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(generate_series(1, len(qe)),
                                 i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)),
                                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
                                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                                   (x, y) -> x + y)))
             AS cosine
      FROM anchors a CROSS JOIN embeddings e
      WHERE e.vec_id <> a.q_id
    ),
    knn AS (
      SELECT q_id, own_label, n_label FROM (
        SELECT q_id, own_label, n_label,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cosine DESC, vec_id) AS rk
        FROM scored
      ) WHERE rk <= {_AUDIT_K}
    ),
    votes AS (
      SELECT q_id, own_label, n_label, COUNT(*) AS votes
      FROM knn GROUP BY q_id, own_label, n_label
    )
    SELECT q_id, own_label, n_label AS maj_label, votes AS maj_votes,
           (n_label <> own_label) AS mislabeled
    FROM (
      SELECT q_id, own_label, n_label, votes,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY votes DESC, n_label) AS vr
      FROM votes
    ) WHERE vr = 1
    ORDER BY q_id
    """,
    category="prep",
)
def q166(spark: SparkSession, sf: str) -> DataFrame:
    emb = EmbeddingSet(t(spark, sf, "embeddings"), label_col="label")
    return emb.label_audit(anchors=_AUDIT_N, k=_AUDIT_K)


# --------------------------------------------------------------------------
# q167 — hashing-trick feature vectorization audit: bucket every token
# into a fixed 32-dimension hash space (the feature-hashing /
# HashingTF construction) and report per-dimension load — total
# occurrences and the number of DISTINCT tokens colliding into the
# bucket. The collision profile is what decides whether a hash
# dimension is large enough before training a linear model on it.
# --------------------------------------------------------------------------

_HASH_DIM = 32


@query(
    "q167_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
      FROM documents
    )
    SELECT {duck_h31("'f167-' || token")} % {_HASH_DIM} AS bucket,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT token) AS n_distinct_tokens
    FROM tok WHERE token <> ''
    GROUP BY 1 ORDER BY bucket
    """,
    category="prep",
)
def q167(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "documents")
        .select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"))
        .filter(F.col("token") != "")
        .select(
            (F.expr(h31("concat('f167-', token)")) % _HASH_DIM).alias(
                "bucket"
            ),
            "token",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("token").alias("n_distinct_tokens"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# q168 — supervised sequence construction for next-event prediction:
# per sampled user, order events by (ts, event_id) and emit sliding
# (context[3], label) training pairs — the events-table analogue of
# next-token training-example construction. One user-keyed shuffle;
# lag/lead/row_number share the window pass.
# --------------------------------------------------------------------------

_SEQ_USER_MOD = 10


@query(
    "q168_event_sequences",
    oracle=f"""
    SELECT user_id, pos, array_to_string(ctx, ',') AS ctx, label FROM (
      SELECT user_id,
             ROW_NUMBER() OVER w AS pos,
             [lag(event_type, 2) OVER w,
              lag(event_type, 1) OVER w,
              event_type] AS ctx,
             lead(event_type, 1) OVER w AS label
      FROM events
      WHERE user_id % {_SEQ_USER_MOD} = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE ctx[1] IS NOT NULL AND label IS NOT NULL
    ORDER BY user_id, pos
    """,
    category="prep",
)
def q168(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        t(spark, sf, "events")
        .filter(F.col("user_id") % _SEQ_USER_MOD == 0)
        .select(
            "user_id",
            F.row_number().over(w).alias("pos"),
            F.array(
                F.lag("event_type", 2).over(w),
                F.lag("event_type", 1).over(w),
                F.col("event_type"),
            ).alias("ctx"),
            F.lead("event_type", 1).over(w).alias("label"),
        )
        .filter(F.col("ctx")[0].isNotNull() & F.col("label").isNotNull())
        # serialize: scalar output columns only (canonicalizer contract);
        # after the lag-2 filter every ctx element is non-null, so
        # concat_ws's null-skipping cannot change arity
        .withColumn("ctx", F.array_join("ctx", ","))
        .orderBy("user_id", "pos")
    )


# --------------------------------------------------------------------------
# q169 — exact k-per-group deterministic sample: the "10 examples per
# class" eval-set primitive. Selection order is the portable hash of a
# seeded doc key, so the sample is stable under re-runs, appends and
# repartitioning (same property as the q71 split), and EXACTLY k per
# group — unlike percentage sampling (q72), which only hits k in
# expectation.
# --------------------------------------------------------------------------

_RESERVOIR_K = 10


@query(
    "q169_group_reservoir",
    oracle=f"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY {duck_h31("'r169-' || CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= {_RESERVOIR_K}
    ORDER BY lang, rk
    """,
    category="prep",
)
def q169(spark: SparkSession, sf: str) -> DataFrame:
    h = F.expr(h31("concat('r169-', CAST(doc_id AS STRING))"))
    w = Window.partitionBy("lang").orderBy(h, "doc_id")
    return (
        t(spark, sf, "documents")
        .select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _RESERVOIR_K)
        .orderBy("lang", "rk")
    )


# --------------------------------------------------------------------------
# q170 — deterministic negative sampling for contrastive training, on
# the classic recommender interaction domain: positives are the
# (customer, part) pairs actually bought (orders x lineitem); for each
# sampled customer, draw 8 candidate partkeys by portable hash into
# [1, max_partkey] and keep draws that (a) name a real part — validated
# by an equi-JOIN against the part catalog, no contiguity assumption —
# and (b) the customer never bought — one anti-join against positives.
# These (customer, unseen-part) pairs are what a two-tower/contrastive
# trainer consumes alongside observed positives. No window over the
# item catalog: candidate ids come from hash arithmetic, so the only
# corpus-sized operations are two hash equi-joins (validate + anti).
# --------------------------------------------------------------------------

_NEG_DRAWS = 8
_NEG_CUST_MOD = 50


@query(
    "q170_negative_sampling",
    oracle=f"""
    WITH pos AS (
      SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    mx AS (SELECT MAX(p_partkey) AS max_pk FROM part),
    users AS (
      SELECT c_custkey AS custkey FROM customer
      WHERE c_custkey % {_NEG_CUST_MOD} = 0
    ),
    draws AS (
      SELECT u.custkey, i,
             {duck_h31("'neg170-' || CAST(u.custkey AS VARCHAR) || '-' || CAST(i AS VARCHAR)")}
               % mx.max_pk + 1 AS cand_pk
      FROM users u
      CROSS JOIN mx
      CROSS JOIN unnest(generate_series(0, {_NEG_DRAWS - 1})) AS g(i)
    ),
    cand AS (
      SELECT d.custkey, p.p_partkey, d.i
      FROM draws d JOIN part p ON p.p_partkey = d.cand_pk
    )
    SELECT c.custkey, c.p_partkey AS neg_partkey, MIN(c.i) AS first_draw
    FROM cand c
    ANTI JOIN pos ON pos.custkey = c.custkey AND pos.partkey = c.p_partkey
    GROUP BY c.custkey, c.p_partkey
    ORDER BY custkey, neg_partkey
    """,
    category="prep",
)
def q170(spark: SparkSession, sf: str) -> DataFrame:
    orders = t(spark, sf, "orders")
    lineitem = t(spark, sf, "lineitem")
    part = t(spark, sf, "part")
    pos = (
        orders.join(
            lineitem, lineitem["l_orderkey"] == orders["o_orderkey"]
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .distinct()
    )
    mx = part.agg(F.max("p_partkey").alias("max_pk"))
    users = (
        t(spark, sf, "customer")
        .select(F.col("c_custkey").alias("custkey"))
        .filter(F.col("custkey") % _NEG_CUST_MOD == 0)
    )
    draws = (
        users.crossJoin(F.broadcast(mx))
        .withColumn("i", F.explode(F.sequence(F.lit(0), F.lit(_NEG_DRAWS - 1))))
        .withColumn(
            "cand_pk",
            F.expr(
                h31(
                    "concat('neg170-', CAST(custkey AS STRING), '-', CAST(i AS STRING))"
                )
            )
            % F.col("max_pk")
            + 1,
        )
    )
    cand = draws.join(part, part["p_partkey"] == draws["cand_pk"]).select(
        "custkey", "p_partkey", "i"
    )
    return (
        cand.join(
            pos,
            (pos["custkey"] == cand["custkey"])
            & (pos["partkey"] == cand["p_partkey"]),
            "left_anti",
        )
        .groupBy("custkey", "p_partkey")
        .agg(F.min("i").alias("first_draw"))
        .select(
            "custkey", F.col("p_partkey").alias("neg_partkey"), "first_draw"
        )
        .orderBy("custkey", "neg_partkey")
    )


# --------------------------------------------------------------------------
# q172 — exact class-prototype centroids: per-label mean embedding on a
# 1e-6 fixed-point grid (the q133 trick), so per-dimension sums are
# order-free exact integers and the surfaced mean is ONE correctly-
# rounded IEEE division — bit-identical cross-engine. Prototypes feed
# centroid classifiers, SemDeDup-style curation, and drift monitors.
# Scale shape: posexplode is map-side; the aggregate's key domain is
# |labels| x dim cells regardless of corpus size; sums are plain longs
# inside whole-stage codegen.
# --------------------------------------------------------------------------

@query(
    "q172_class_prototypes",
    oracle=f"""
    WITH v AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    )
    SELECT label, dim,
           CAST(SUM(CAST(floor(x * {_SCALE}.0) AS BIGINT)) AS BIGINT)
             AS sum_scaled,
           COUNT(*) AS n_vals,
           CAST(SUM(CAST(floor(x * {_SCALE}.0) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * {_SCALE}.0) AS mean_dim
    FROM v GROUP BY label, dim
    ORDER BY label, dim
    """,
    category="prep",
)
def q172(spark: SparkSession, sf: str) -> DataFrame:
    emb = EmbeddingSet(t(spark, sf, "embeddings"), label_col="label")
    return emb.prototypes()


# --------------------------------------------------------------------------
# q173 — intra-class outlier detection: cosine of every vector against
# its OWN class prototype (q172's exact centroid), keeping the 3 least
# typical vectors per label — the atypical/mislabeled-example sweep
# that complements q166's neighbor-vote audit. The centroid table is
# |labels| rows (broadcast); the corpus is touched in one streamed
# pass; per-label bottom-k is WindowGroupLimit-capped map-side. Both
# engines build the centroid array dim-ordered and fold the dot/norm
# sequentially (the q54 construction), so the doubles agree bitwise.
# --------------------------------------------------------------------------

_OUTLIER_K = 3

@query(
    "q173_class_outliers",
    oracle=f"""
    WITH v AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    proto AS (
      SELECT label, dim,
             CAST(SUM(CAST(floor(x * {_SCALE}.0) AS BIGINT)) AS DOUBLE)
               / (CAST(COUNT(*) AS DOUBLE) * {_SCALE}.0) AS mean_dim
      FROM v GROUP BY label, dim
    ),
    cent AS (
      SELECT label, list(mean_dim ORDER BY dim) AS ce FROM proto GROUP BY label
    ),
    scored AS (
      SELECT e.label, e.vec_id,
             list_reduce(
               list_transform(generate_series(1, len(c.ce)),
                              i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(generate_series(1, len(c.ce)),
                                 i -> CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)),
                                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
                                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                                   (x, y) -> x + y)))
             AS cosine
      FROM embeddings e JOIN cent c ON c.label = e.label
    )
    SELECT label, rk, vec_id, cosine FROM (
      SELECT label, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY cosine, vec_id) AS rk
      FROM scored
    ) WHERE rk <= {_OUTLIER_K}
    ORDER BY label, rk
    """,
    category="prep",
)
def q173(spark: SparkSession, sf: str) -> DataFrame:
    emb = EmbeddingSet(t(spark, sf, "embeddings"), label_col="label")
    return emb.outliers(k=_OUTLIER_K)


# --------------------------------------------------------------------------
# q174 — purged walk-forward time-series cross-validation folds: the
# time-based train/test split that random hashing (q71) must NOT be
# used for — temporal leakage. Three expanding-window folds over the
# event-time span, each test window separated from its train window by
# a 6-hour EMBARGO (the "purge" that keeps near-boundary events out of
# both sides). All boundary arithmetic is integer epoch-microseconds
# (one min/max scan -> 3-row broadcast spec), so both engines compute
# identical fold membership; counting is one more streamed pass with a
# bounded x3 map-side expansion. Scale: two scans of the fact table,
# no corpus-sized shuffle beyond the 3-group aggregate.
# --------------------------------------------------------------------------

_CV_FOLDS = 3
_CV_EMBARGO_H = 6
_CV_EMBARGO_US = _CV_EMBARGO_H * 3600 * 1_000_000


@query(
    "q174_timeseries_cv",
    oracle=f"""
    WITH e AS (SELECT epoch_us(ts) AS us FROM events),
    mm AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM e),
    spec AS (
      SELECT fold,
             mn + ((mx - mn) * fold) // {_CV_FOLDS + 1} AS train_end,
             mn + ((mx - mn) * fold) // {_CV_FOLDS + 1}
                + {_CV_EMBARGO_US} AS test_start,
             mn + ((mx - mn) * (fold + 1)) // {_CV_FOLDS + 1} AS test_end
      FROM mm CROSS JOIN unnest(generate_series(1, {_CV_FOLDS})) AS g(fold)
    )
    SELECT s.fold,
           COUNT(*) FILTER (WHERE e.us <= s.train_end) AS train_rows,
           COUNT(*) FILTER (WHERE e.us > s.test_start
                              AND e.us <= s.test_end) AS test_rows,
           COUNT(*) FILTER (WHERE e.us > s.train_end
                              AND e.us <= s.test_start) AS embargoed_rows
    FROM e CROSS JOIN spec s
    GROUP BY s.fold ORDER BY s.fold
    """,
    category="prep",
)
def q174(spark: SparkSession, sf: str) -> DataFrame:
    return EventLog(t(spark, sf, "events")).cv_folds(folds=_CV_FOLDS, embargo_hours=_CV_EMBARGO_H)


# --------------------------------------------------------------------------
# q175 — nearest-centroid classification + confusion matrix: classify
# every vector by its most-similar class prototype (q172's exact
# centroids) and roll up the (true label, predicted label) confusion
# counts — the quality readout that decides whether labels + embedding
# space agree before training on them. The scoring join expands each
# vector by the |labels|-row broadcast centroid table (map-side,
# bounded multiplier); the per-vector argmax is a rank window capped
# map-side by WindowGroupLimit; the confusion rollup's key domain is
# |labels|^2 cells whatever the corpus size.
# --------------------------------------------------------------------------


@query(
    "q175_centroid_confusion",
    oracle=f"""
    WITH v AS (
      SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    proto AS (
      SELECT label, dim,
             CAST(SUM(CAST(floor(x * {_SCALE}.0) AS BIGINT)) AS DOUBLE)
               / (CAST(COUNT(*) AS DOUBLE) * {_SCALE}.0) AS mean_dim
      FROM v GROUP BY label, dim
    ),
    cent AS (
      SELECT label AS c_label, list(mean_dim ORDER BY dim) AS ce
      FROM proto GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label AS true_label, c.c_label,
             list_reduce(
               list_transform(generate_series(1, len(c.ce)),
                              i -> CAST(c.ce[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(generate_series(1, len(c.ce)),
                                 i -> CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)),
                                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(generate_series(1, len(e.embedding)),
                                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
                                   (x, y) -> x + y)))
             AS cosine
      FROM embeddings e CROSS JOIN cent c
    ),
    pred AS (
      SELECT vec_id, true_label, c_label AS pred_label FROM (
        SELECT vec_id, true_label, c_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, c_label) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT true_label, pred_label, COUNT(*) AS n
    FROM pred GROUP BY true_label, pred_label
    ORDER BY true_label, pred_label
    """,
    category="prep",
)
def q175(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings")
    cent = (
        EmbeddingSet(emb, label_col="label")
        .centroids()
        .withColumnRenamed("label", "c_label")
    )
    scored = (
        emb.select("vec_id", F.col("label").alias("true_label"), "embedding")
        .crossJoin(F.broadcast(cent))
        .withColumn("dot", F.expr(dot_sql("ce", "embedding")))
        .withColumn("cn", F.expr(norm_sql("ce")))
        .withColumn("en", F.expr(norm_sql("embedding")))
        .select(
            "vec_id",
            "true_label",
            "c_label",
            (F.col("dot") / (F.col("cn") * F.col("en"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("c_label"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("true_label", F.col("c_label").alias("pred_label"))
        .agg(F.count("*").alias("n"))
        .orderBy("true_label", "pred_label")
    )


# --------------------------------------------------------------------------
# q176 — out-of-fold target encoding: the leakage-safe categorical
# feature. Each (category, fold) cell is encoded with the smoothed
# mean target computed from the OTHER folds only — train rows never
# see their own fold's target statistics. Sums are exact integer
# cents (one aggregation over |categories| x |folds| cells, the
# fold from the portable hash so the encoding is reproducible), the
# leave-fold-out arithmetic is integer subtraction on the broadcast
# per-category totals, and the smoothed mean is ONE IEEE division —
# bit-identical cross-engine. Scale: one streamed pass + a cell-domain
# aggregate; nothing corpus-sized shuffles twice.
# --------------------------------------------------------------------------

_TE_FOLDS = 5
_TE_SMOOTH_M = 20  # pseudo-observations of the global prior


@query(
    "q176_target_encoding",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS category,
             {duck_h31("'te176-' || CAST(o_orderkey AS VARCHAR)")} % {_TE_FOLDS} AS fold,
             CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    cells AS (
      SELECT category, fold, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
      FROM base GROUP BY category, fold
    ),
    cat AS (
      SELECT category, CAST(SUM(n) AS BIGINT) AS n_cat,
             CAST(SUM(s) AS BIGINT) AS s_cat
      FROM cells GROUP BY category
    ),
    gtot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_all, CAST(SUM(s) AS BIGINT) AS s_all
      FROM cells
    )
    SELECT c.category, c.fold,
           ca.n_cat - c.n AS n_others,
           CAST(((ca.s_cat - c.s) + ({_TE_SMOOTH_M} * g.s_all) // g.n_all)
                  AS DOUBLE)
             / (CAST(ca.n_cat - c.n + {_TE_SMOOTH_M} AS DOUBLE) * 100.0)
             AS encoded
    FROM cells c
    JOIN cat ca ON ca.category = c.category
    CROSS JOIN gtot g
    ORDER BY c.category, c.fold
    """,
    category="prep",
)
def q176(spark: SparkSession, sf: str) -> DataFrame:
    base = t(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("category"),
        (
            F.expr(h31("concat('te176-', CAST(o_orderkey AS STRING))"))
            % _TE_FOLDS
        ).alias("fold"),
        (F.col("o_totalprice").cast("decimal(28,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    cells = base.groupBy("category", "fold").agg(
        F.count("*").alias("n"), F.sum("cents").cast("bigint").alias("s")
    )
    cat = cells.groupBy("category").agg(
        F.sum("n").cast("bigint").alias("n_cat"),
        F.sum("s").cast("bigint").alias("s_cat"),
    )
    glob = cells.agg(
        F.sum("n").cast("bigint").alias("n_all"),
        F.sum("s").cast("bigint").alias("s_all"),
    )
    return (
        cells.join(F.broadcast(cat), "category")
        .crossJoin(F.broadcast(glob))
        .select(
            "category",
            "fold",
            (F.col("n_cat") - F.col("n")).alias("n_others"),
            (
                (
                    (F.col("s_cat") - F.col("s"))
                    + F.expr(f"({_TE_SMOOTH_M} * s_all) div n_all")
                ).cast("double")
                / (
                    (F.col("n_cat") - F.col("n") + F.lit(_TE_SMOOTH_M)).cast(
                        "double"
                    )
                    * F.lit(100.0)
                )
            ).alias("encoded"),
        )
        .orderBy("category", "fold")
    )


# --------------------------------------------------------------------------
# q182 — expected calibration error (round 5): the standard model-eval
# readout alongside exact AUC (q165) and the centroid confusion matrix
# (q175). Score column = l_discount (a stand-in prediction in [0, 0.1]),
# label = (l_returnflag = 'R'); bins are the score's 11 exact distinct
# values, so no binning arithmetic can disagree between engines. ECE is
# a WEIGHTED FLOAT SUM over bins — the one reduction floats make
# order-sensitive — so both engines fold the bin terms in the identical
# sorted order: Spark `aggregate` over `sort_array(collect_list(...))`,
# DuckDB `list_reduce` over `list(... ORDER BY s)`; every per-bin term
# is built from exact integer counts with the same two IEEE divisions,
# making the final double bit-identical.
#
# Scale shape at 100 TB: one partial-aggregated groupBy over an
# 11-value domain; the fold runs over |bins| rows on one task. The
# readout honestly reports the stand-in score as badly calibrated
# (base rate ~0.33 vs scores <= 0.1) — which is the point of ECE.
# --------------------------------------------------------------------------


@query(
    "q182_calibration_ece",
    oracle="""
    WITH b AS (
      SELECT l_discount AS s, COUNT(*) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS p
      FROM lineitem GROUP BY 1
    ),
    a AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_total, CAST(SUM(p) AS BIGINT) AS pt,
             list(struct_pack(s := s, n := n, p := p) ORDER BY s) AS arr
      FROM b
    )
    SELECT CAST(len(arr) AS BIGINT) AS n_bins,
           n_total,
           CAST(pt AS DOUBLE) / n_total AS base_rate,
           CAST(list_reduce(
             list_transform(arr, x ->
               (CAST(x.n AS DOUBLE) / n_total) * abs(CAST(x.p AS DOUBLE) / x.n - x.s)),
             (acc, v) -> acc + v) AS DOUBLE) AS ece
    FROM a
    """,
    category="prep",
)
def q182(spark: SparkSession, sf: str) -> DataFrame:
    li = t(spark, sf, "lineitem").select(
        F.col("l_discount").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    b = li.groupBy("s").agg(F.count("*").alias("n"), F.sum("y").alias("p"))
    a = b.agg(
        F.sum("n").alias("n_total"),
        F.sum("p").alias("pt"),
        F.sort_array(F.collect_list(F.struct("s", "n", "p"))).alias("arr"),
    )
    return a.select(
        F.size("arr").cast("bigint").alias("n_bins"),
        F.col("n_total"),
        (F.col("pt").cast("double") / F.col("n_total")).alias("base_rate"),
        F.expr(
            "aggregate(arr, CAST(0 AS DOUBLE), (acc, x) -> "
            "acc + (CAST(x.n AS DOUBLE) / n_total) * abs(CAST(x.p AS DOUBLE) / x.n - x.s))"
        ).alias("ece"),
    )


# --------------------------------------------------------------------------
# q279 — Fisher discriminant score per embedding dimension (Fisher
# 1936; the filter-method feature-selection readout): which of the 64
# embedding dimensions separate the two label-parity classes, scored
# (m0 - m1)^2 / (v0 + v1). Completes the embedding-audit family —
# q133 scores dimension-dimension SIMILARITY, q162 extracts the global
# top eigendirection, q172/q173 work at the class-centroid level; this
# ranks individual dimensions by class DISCRIMINABILITY, the readout a
# probing/feature-pruning pass consumes. All moments (n_c, sum x,
# sum x^2 per dimension per class) are exact integers on the micros
# grid — values ride DECIMAL(38,0)/HUGEINT — and each dimension's F
# assembles in one shared fixed-order double tree (per-dim rows carry
# their own named columns, so no float reduction crosses rows).
# Degenerate dims (a class absent or zero pooled variance) mirror
# NULL (q258/q268 convention).
#
# 100 TB shape: posexplode is map-side; the aggregate's key domain is
# 64 dims x per-class conditional columns regardless of corpus size;
# one 64-row readout. Reference delegates analytics to Athena
# (src/app.py:97-189).
# --------------------------------------------------------------------------

_Q279_F_SQL = (
    "CASE WHEN n0 = 0 OR n1 = 0 OR"
    " ((CAST(s2_0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
    "   - (CAST(s1_0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    "     * (CAST(s1_0 AS DOUBLE) / CAST(n0 AS DOUBLE)))"
    "  + (CAST(s2_1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    "   - (CAST(s1_1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    "     * (CAST(s1_1 AS DOUBLE) / CAST(n1 AS DOUBLE)))) <= 0.0 THEN NULL"
    " ELSE floor(1000000.0 * ("
    " (CAST(s1_0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
    "  - CAST(s1_1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    " * (CAST(s1_0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
    "    - CAST(s1_1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    " / ((CAST(s2_0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
    "     - (CAST(s1_0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
    "       * (CAST(s1_0 AS DOUBLE) / CAST(n0 AS DOUBLE)))"
    "    + (CAST(s2_1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    "       - (CAST(s1_1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    "         * (CAST(s1_1 AS DOUBLE) / CAST(n1 AS DOUBLE)))))) END"
)


@query(
    "q279_fisher_scores",
    oracle=f"""
    WITH ex AS (
      SELECT label % 2 AS cls,
             unnest(list_transform(generate_series(1, len(embedding)),
                    i -> struct_pack(d := i - 1, e := embedding[i]))) AS u
      FROM embeddings
    ),
    x AS (
      SELECT cls, u.d AS dim,
             CAST(floor(CAST(u.e AS DOUBLE) * 1000000.0) AS BIGINT) AS v
      FROM ex
    ),
    m AS (
      SELECT dim,
             CAST(SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN cls = 0 THEN CAST(v AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s1_0,
             CAST(SUM(CASE WHEN cls = 1 THEN CAST(v AS HUGEINT) ELSE 0 END) AS HUGEINT) AS s1_1,
             CAST(SUM(CASE WHEN cls = 0 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS HUGEINT) AS s2_0,
             CAST(SUM(CASE WHEN cls = 1 THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS HUGEINT) AS s2_1
      FROM x GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n0, n1,
           CAST({_Q279_F_SQL} AS BIGINT) AS fisher_micros
    FROM m ORDER BY dim
    """,
    category="prep",
    doc="per-dimension Fisher discriminant of embedding dims vs label parity, exact pivoted moments",
)
def q279(spark: SparkSession, sf: str) -> DataFrame:
    x = (
        t(spark, sf, "embeddings")
        .select(
            (F.col("label") % 2).alias("cls"),
            F.posexplode("embedding").alias("dim", "e"),
        )
        .select(
            "cls",
            "dim",
            F.expr("CAST(floor(CAST(e AS DOUBLE) * 1000000.0) AS BIGINT)").alias("v"),
        )
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    m = x.groupBy("dim").agg(
        F.sum(F.when(F.col("cls") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("cls") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("cls") == 0, dec(F.col("v"))).otherwise(F.lit(0))).alias("s1_0"),
        F.sum(F.when(F.col("cls") == 1, dec(F.col("v"))).otherwise(F.lit(0))).alias("s1_1"),
        F.sum(
            F.when(F.col("cls") == 0, dec(F.col("v")) * F.col("v")).otherwise(F.lit(0))
        ).alias("s2_0"),
        F.sum(
            F.when(F.col("cls") == 1, dec(F.col("v")) * F.col("v")).otherwise(F.lit(0))
        ).alias("s2_1"),
    )
    return m.select(
        F.col("dim").cast("long").alias("dim"),
        "n0",
        "n1",
        F.expr(_Q279_F_SQL).cast("long").alias("fisher_micros"),
    ).orderBy("dim")


# --------------------------------------------------------------------------
# q287 — exact Pearson correlation matrix over per-document text
# features (chars, tokens, distinct tokens, longest token) in ONE
# corpus pass: the collinearity audit run before any feature set feeds
# a quality classifier (q224) or mixture weighting (q117) — two
# features correlated at 0.99 are one feature, and this is the readout
# that says so. Completes the correlation row: q94 fits ONE pair's
# regression line, q186 ranks one pair, q279 scores dimensions against
# a LABEL; this is every feature against every other. All 15 moments
# (n, 4 sums, 4 squares, 6 cross-products) accumulate as exact
# DECIMAL(38,0)/HUGEINT in a single aggregate; each pair's
# corr = (n*S_ab - S_a*S_b) / (sqrt(n*S_aa - S_a^2) * sqrt(n*S_bb -
# S_b^2)) assembles in one fixed-order double tree per pair (numerator
# exact before the cast; NULL on zero variance), floored to micros.
#
# 100 TB shape: one map-side aggregate (feature extraction is
# arithmetic on the token array, no explode), a 1-row moment frame,
# a 6-row unpivot — the corpus is touched exactly once regardless of
# how many feature pairs are read. Reference delegates analytics to
# Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_CM_FEATS = ["chars", "tokens", "distinct_tokens", "longest_token"]


def _cm_corr_sql(a: str, b: str) -> str:
    num = f"CAST(n * s_{a}_{b} - s_{a} * s_{b} AS DOUBLE)"
    da = f"CAST(n * s_{a}_{a} - s_{a} * s_{a} AS DOUBLE)"
    db = f"CAST(n * s_{b}_{b} - s_{b} * s_{b} AS DOUBLE)"
    return (
        f"CASE WHEN n * s_{a}_{a} - s_{a} * s_{a} <= 0"
        f" OR n * s_{b}_{b} - s_{b} * s_{b} <= 0 THEN NULL"
        f" ELSE CAST(floor(1000000.0 * {num} / (sqrt({da}) * sqrt({db}))) AS BIGINT) END"
    )


def _cm_pairs() -> list[tuple[str, str]]:
    return [
        (a, b)
        for i, a in enumerate(_CM_FEATS)
        for b in _CM_FEATS[i + 1 :]
    ]


def _q287_oracle() -> str:
    big = "HUGEINT"
    moments = [f"CAST(COUNT(*) AS {big}) AS n"]
    for a in _CM_FEATS:
        moments.append(f"CAST(SUM(CAST({a} AS {big})) AS {big}) AS s_{a}")
    for i, a in enumerate(_CM_FEATS):
        for b in _CM_FEATS[i:]:
            moments.append(
                f"CAST(SUM(CAST({a} AS {big}) * {b}) AS {big}) AS s_{a}_{b}"
            )
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT '{a}~{b}' AS pair, {_cm_corr_sql(a, b)} AS corr_micros FROM m"
        for a, b in _cm_pairs()
    )
    return f"""
    WITH f AS (
      SELECT CAST(n_chars AS BIGINT) AS chars,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS tokens,
             CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS distinct_tokens,
             CAST(COALESCE(list_max(list_transform(list_filter(string_split(text, ' '), x -> x <> ''), x -> len(x))), 0) AS BIGINT) AS longest_token
      FROM documents
    ),
    m AS (
      SELECT {", ".join(moments)} FROM f
    )
    {selects}
    ORDER BY pair
    """


@query(
    "q287_corr_matrix",
    oracle=_q287_oracle(),
    category="prep",
    doc="exact Pearson correlation matrix over 4 doc features in one corpus pass: 15 DECIMAL moments, 6-row unpivot",
)
def q287(spark: SparkSession, sf: str) -> DataFrame:
    big = "DECIMAL(38,0)"
    ws = "filter(split(text, ' '), x -> x <> '')"
    f = t(spark, sf, "documents").select(
        F.expr("CAST(n_chars AS BIGINT)").alias("chars"),
        F.expr(f"CAST(size({ws}) AS BIGINT)").alias("tokens"),
        F.expr(f"CAST(size(array_distinct({ws})) AS BIGINT)").alias("distinct_tokens"),
        # COALESCE 0: a token-less doc would otherwise be counted in n
        # but silently dropped from every longest_token moment, making
        # the pair's "correlation" a mix of two different samples
        F.expr(
            f"CAST(COALESCE(array_max(transform({ws}, x -> length(x))), 0) AS BIGINT)"
        ).alias("longest_token"),
    )
    aggs = [F.expr(f"CAST(COUNT(*) AS {big})").alias("n")]
    for a in _CM_FEATS:
        aggs.append(F.expr(f"CAST(SUM(CAST({a} AS {big})) AS {big})").alias(f"s_{a}"))
    for i, a in enumerate(_CM_FEATS):
        for b in _CM_FEATS[i:]:
            aggs.append(
                F.expr(f"CAST(SUM(CAST({a} AS {big}) * {b}) AS {big})").alias(
                    f"s_{a}_{b}"
                )
            )
    m = f.agg(*aggs)
    out = None
    for a, b in _cm_pairs():
        row = m.select(
            F.lit(f"{a}~{b}").alias("pair"),
            F.expr(_cm_corr_sql(a, b)).alias("corr_micros"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("pair")


# --------------------------------------------------------------------------
# q288 — Johnson-Lindenstrauss random-projection distortion audit: how
# much do pairwise distances move when the 64-dim embeddings project
# to 16 dims through a signed ±1 projection (Achlioptas 2003, the
# database-friendly JL construction)? This is the measurement a team
# runs BEFORE committing to a projected index layout (LSH q55 and PQ
# q131 both presume distances survive projection; this query is the
# evidence). The ±1 sign matrix is data-INDEPENDENT, so it is drawn
# from md5 in PYTHON at query construction and injected as ±q[j]
# literal terms — zero engine-side hashing (the determinism policy's
# literal tier). Components quantize to the integer-micros grid ONCE,
# making every projection sum and squared distance an exact BIGINT;
# the per-pair distortion ratio (||ya-yb||^2 / 16) / ||xa-xb||^2 is
# one double division floored to micros. E[||y||^2] = 16 ||x||^2 for
# ±1 entries, hence the /16 normalizer.
#
# 100 TB shape: the audit runs on a FIXED-SIZE hash sample — the 128
# vectors with the smallest (h31, vec_id) keys, a TakeOrdered top-k
# that never materializes a global sort — so the pair set is 8128
# rows REGARDLESS of corpus size (a fractional 1-in-k sample would
# grow the quadratic pair join with n: measured 21.1M pairs / 354 s
# at 200k vectors before this cap; 8128 pairs / seconds after). The
# pair join runs AFTER the TakeOrdered cap, so both sides are <= 128
# rows — the planner's nested-loop there is a 128x128 bounded audit
# grid (PLANS.md's scalar-attach class), never a corpus-scale pair
# scan; the projection itself is map-side arithmetic. Reference
# delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_JL_DIN, _JL_DOUT, _JL_SAMPLE = 64, 16, 128


def _q288_oracle() -> str:
    h = duck_h31("'jls-' || CAST(vec_id AS VARCHAR)")
    ys = ",\n             ".join(
        f"{_jl_y_sql(i, 'q', True, d_in=_JL_DIN)} AS y{i}" for i in range(_JL_DOUT)
    )
    d2p = " + ".join(
        f"(a.y{i} - b.y{i}) * (a.y{i} - b.y{i})" for i in range(_JL_DOUT)
    )
    return f"""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
      FROM embeddings
      ORDER BY ({h}), vec_id LIMIT {_JL_SAMPLE}
    ),
    p AS (
      SELECT vec_id, q, {ys}
      FROM s
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           CAST(list_sum(list_transform(generate_series(1, {_JL_DIN}),
                 j -> (a.q[j] - b.q[j]) * (a.q[j] - b.q[j]))) AS BIGINT) AS d2_orig,
           CAST({d2p} AS BIGINT) AS d2_proj,
           CAST(CASE WHEN list_sum(list_transform(generate_series(1, {_JL_DIN}),
                 j -> (a.q[j] - b.q[j]) * (a.q[j] - b.q[j]))) = 0 THEN NULL
             ELSE floor(1000000.0 * (CAST({d2p} AS DOUBLE) / {_JL_DOUT}.0)
               / CAST(list_sum(list_transform(generate_series(1, {_JL_DIN}),
                   j -> (a.q[j] - b.q[j]) * (a.q[j] - b.q[j]))) AS DOUBLE))
             END AS BIGINT) AS ratio_micros
    FROM p a JOIN p b ON a.vec_id < b.vec_id
    ORDER BY id_a, id_b
    """


@query(
    "q288_jl_distortion",
    oracle=_q288_oracle(),
    category="prep",
    doc="JL ±1-projection distortion audit on a hash-selected vector sample: integer-grid exact distances, per-pair ratio in micros",
)
def q288(spark: SparkSession, sf: str) -> DataFrame:
    emb = EmbeddingSet(t(spark, sf, "embeddings"))
    return emb.projection_audit(d_in=_JL_DIN, d_out=_JL_DOUT, sample=_JL_SAMPLE)


# --------------------------------------------------------------------------
# q299 — linear-kernel MMD drift per label: for each label, the squared
# maximum mean discrepancy between that label's embedding distribution
# and the REST of the corpus, MMD^2 = ||mean(X) - mean(Y)||^2 (Gretton
# et al. 2012 — with the linear kernel k(x,y) = x.y the MMD witness is
# exactly the mean-embedding difference, the standard production drift
# statistic because it needs only per-group FIRST moments). The RBF
# kernel everyone writes first needs exp() — an engine-side
# transcendental the determinism policy forbids (README) — and a
# quadratic pair pass; the linear form is one map-side aggregate and
# exact until a single final division.
#
# Exactness: coordinates quantize to a millis grid (floor(1000 x) —
# coarser than q259's micros ON PURPOSE: the cross-multiplied
# numerator (s*m - sy*n)^2 must stay inside DECIMAL(38,0)/HUGEINT at
# 10M+ rows per side, audited below). Per-dim numerators are exact
# integers via cross-multiplication over the common denominator
# n*m*1000; mmd2 = sum_d num_d^2 / den^2 with ONE double division at
# the end. max_shift_micros = the largest per-dim mean shift (micro-
# floored from the same exact integers) names the dimension-level
# magnitude — max over already-floored BIGINTs, so no float-order
# dependence. Single-label corpora (m = 0) yield NULL via the shared
# CASE guard.
#
# Overflow audit at 100x: |x| <= 1 => |val| <= 1000, |s| <= n*1000;
# at n = m = 2e7: |num| <= s*m + sy*n ~ 8e17 (BIGINT-safe, kept in
# DECIMAL(38,0)), num^2 ~ 6.4e35, summed over 64 dims ~ 4.1e37 <
# 1e38. den = n*m*1000 ~ 4e17; den^2 as DOUBLE only.
#
# 100 TB shape: posexplode to (label, dim) -> map-side-combinable
# groupBy (|labels| x 64 cells), a 64-row broadcast join for the
# global moments, a |labels|-row final aggregate. Nothing pairwise.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_Q299_NANOS = (
    "CASE WHEN {den} = 0 THEN NULL ELSE "
    "CAST(floor(1000000000.0 * (CAST({t1} AS DOUBLE)"
    " / (CAST({den} AS DOUBLE) * CAST({den} AS DOUBLE)))) AS BIGINT) END"
)
_Q299_SHIFT = (
    "CASE WHEN den = 0 THEN NULL ELSE "
    "CAST(floor(1000000.0 * abs(CAST(num AS DOUBLE)) / CAST(den AS DOUBLE))"
    " AS BIGINT) END"
)


def _q299_oracle() -> str:
    nanos = _Q299_NANOS.format(t1="SUM(num * num)", den="MAX(den)")
    return f"""
    WITH ex AS (
      SELECT label, gs.i AS pos,
             CAST(floor(1000.0 * CAST(embedding[gs.i] AS DOUBLE)) AS BIGINT) AS val
      FROM embeddings CROSS JOIN generate_series(1, 64) AS gs(i)
    ),
    per AS (
      SELECT label, pos, COUNT(*) AS n, SUM(val) AS s FROM ex GROUP BY 1, 2
    ),
    gm AS (SELECT pos, SUM(n) AS nn, SUM(s) AS ss FROM per GROUP BY pos),
    j AS (
      SELECT label, per.n, gm.nn,
             CAST(per.s AS HUGEINT) * (gm.nn - per.n)
               - CAST(gm.ss - per.s AS HUGEINT) * per.n AS num,
             CAST(per.n AS HUGEINT) * (gm.nn - per.n) * 1000 AS den
      FROM per JOIN gm USING (pos)
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(MAX(n) AS BIGINT) AS n_label,
           CAST(MAX(nn - n) AS BIGINT) AS n_rest,
           {nanos} AS mmd2_nanos,
           MAX({_Q299_SHIFT}) AS max_shift_micros
    FROM j GROUP BY label ORDER BY label
    """


@query(
    "q299_mmd_drift",
    oracle=_q299_oracle(),
    category="similarity",
    doc="linear-kernel MMD^2 per label vs rest of corpus: exact cross-multiplied per-dim numerators on a millis grid, one final double division",
)
def q299(spark: SparkSession, sf: str) -> DataFrame:
    ex = t(spark, sf, "embeddings").select(
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " x -> CAST(floor(1000.0 * CAST(x AS DOUBLE)) AS BIGINT))"
            )
        ).alias("pos", "val"),
    )
    per = ex.groupBy("label", "pos").agg(
        F.count("*").alias("n"), F.sum("val").alias("s")
    )
    glob = per.groupBy("pos").agg(F.sum("n").alias("nn"), F.sum("s").alias("ss"))
    j = per.join(F.broadcast(glob), "pos").selectExpr(
        "label",
        "n",
        "nn",
        "CAST(s AS DECIMAL(38,0)) * (nn - n)"
        " - CAST(ss - s AS DECIMAL(38,0)) * n AS num",
        "CAST(n AS DECIMAL(38,0)) * (nn - n) * 1000 AS den",
    )
    nanos = _Q299_NANOS.format(t1="SUM(num * num)", den="MAX(den)")
    return (
        j.groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.max("n").cast("long").alias("n_label"),
            F.expr("CAST(MAX(nn - n) AS BIGINT)").alias("n_rest"),
            F.expr(nanos).alias("mmd2_nanos"),
            F.expr(f"MAX({_Q299_SHIFT})").alias("max_shift_micros"),
        )
        .orderBy("label")
    )
