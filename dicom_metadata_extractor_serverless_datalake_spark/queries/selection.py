"""Round-7 batch 2: data-selection & example-mining family (q223-q225,
q228-q229).

The operations that sit between curation (dedup/quality gates) and
training (splits/packing) in an LLM data pipeline — choosing WHICH
examples to train on and HOW to batch them:

- q223 mines hard negatives (Schroff et al. 2015 triplet mining): for
  each anchor vector, the most-similar vector with a DIFFERENT label
  (the hardest negative) next to the most-similar SAME-label vector
  (the nearest positive), and the contrastive margin between them.
  The q166 anchor machinery: fixed-COUNT hash-picked anchors
  broadcast against one streamed corpus pass, per-anchor top-1 capped
  map-side by the partial WindowGroupLimit.
- q224 is fastText-style quality-classifier inference (Joulin et al.
  2016; the GPT-3/CCNet model-based filter): every token hashes into
  a 64-bucket weight table whose weights are derived arithmetically
  from the bucket id, so scoring is a single map-side higher-order
  fold per document — NO explode, NO shuffle until the per-source
  rollup, and the whole margin stays in integers.
- q225 buckets documents into CCNet head/middle/tail (Wenzek et al.
  2019) by corpus-fit score: q116's exact rational bigram-fit score,
  exact global tertile thresholds via the parallel two-phase global
  numbering (operators/rank.py — never a single-partition window),
  per (source, bucket) accounting with an id checksum pinning the
  exact membership.
- q228 is the n-gram novelty / memorization-risk readout (the inverse
  of q144's decontamination flag): for each hash-held-out eval doc,
  the exact fraction of its DISTINCT 5-grams that never occur in the
  training split. q144 says WHETHER a doc overlaps; q228 says HOW
  MUCH of it is novel — the Carlini-style memorization exposure
  number, rolled up per source.
- q229 audits length-bucketed batching (the dynamic-batching
  alternative to q202's concat-and-chunk packing): documents land in
  power-of-two token-length buckets (cap = next pow2, computed with
  bin()-string length — no float log2), and the readout is per-bucket
  padding waste vs capacity. Read next to q202: packing wastes
  boundary tokens, bucketing wastes pad tokens; this query prices the
  second so the two strategies can be compared on the same corpus.

The reference delegates every analytics query to Athena
(/root/reference/src/app.py:97-189). Exactness conventions as in
llm.py/training.py: portable md5-based h31 hashing, integer
cross-multiplication instead of float ratios, micros flooring, IEEE
correctly-rounded division/sqrt only in final readout columns.

100 TB shapes: q223 is |anchors| x corpus map-side work with ≤
|anchors| rows per task surviving (WindowGroupLimit); q224 is pure
map-side until a |sources|-row rollup; q225 adds one gram-keyed
count-table join (broadcastable as in q201 fast mode) and the
two-phase global numbering (one range exchange of 16-byte rows);
q228 shuffles only (gram, id) pairs — never text — into one
distinct + one anti-join; q229 is map-side + a |buckets|-row rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import h31
from ..operators.skew import spread_input
from ..vectors import EmbeddingSet
from .base import query, t
from .curation import _duck_grams
from .llm import duck_h31

# --------------------------------------------------------------------------
# q223 — hard-negative + nearest-positive mining per anchor.
# --------------------------------------------------------------------------

_HN_N = 20  # anchors


_DUCK_COS = """
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
"""


@query(
    "q223_hard_negatives",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS q_id, embedding AS qe, label AS own_label
      FROM embeddings
      ORDER BY {duck_h31("'hn-' || CAST(vec_id AS VARCHAR)")}, vec_id
      LIMIT {_HN_N}
    ),
    scored AS (
      SELECT a.q_id, a.own_label, e.vec_id, e.label AS n_label,
             {_DUCK_COS} AS cosine
      FROM anchors a CROSS JOIN embeddings e
      WHERE e.vec_id <> a.q_id
    ),
    neg AS (
      SELECT q_id, own_label, vec_id AS neg_id, n_label AS neg_label,
             cosine AS neg_cosine
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, vec_id) AS rk
            FROM scored WHERE n_label <> own_label)
      WHERE rk = 1
    ),
    pos AS (
      SELECT q_id, vec_id AS pos_id, cosine AS pos_cosine
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, vec_id) AS rk
            FROM scored WHERE n_label = own_label)
      WHERE rk = 1
    )
    SELECT n.q_id, n.own_label, n.neg_id, n.neg_label, n.neg_cosine,
           p.pos_id, p.pos_cosine,
           p.pos_cosine - n.neg_cosine AS margin
    FROM neg n JOIN pos p USING (q_id)
    ORDER BY n.q_id
    """,
    category="selection",
    doc="Triplet mining: hardest negative + nearest positive per anchor",
)
def q223(spark: SparkSession, sf: str) -> DataFrame:
    emb = EmbeddingSet(t(spark, sf, "embeddings"), label_col="label")
    return emb.hard_negatives(anchors=_HN_N)


# --------------------------------------------------------------------------
# q224 — hashed linear quality-classifier inference. Weight of bucket b
# is ((b * 2654435761) % 997) - 498 — a fixed, engine-free integer
# table realized arithmetically inside the fold, so "model inference"
# is one map-side expression per document.
# --------------------------------------------------------------------------

_QC_BUCKETS = 64


def _qc_weight_spark() -> str:
    h = h31("concat('qc-', tk)")
    return (
        f"aggregate(transform(split(text, ' '), "
        f"tk -> (({h}) % {_QC_BUCKETS}) * 2654435761 % 997 - 498), "
        f"CAST(0 AS BIGINT), (a, b) -> a + b)"
    )


def _qc_weight_duck() -> str:
    h = duck_h31("'qc-' || tk")
    return (
        f"list_reduce(list_transform(string_split(text, ' '), "
        f"tk -> (({h}) % {_QC_BUCKETS}) * 2654435761 % 997 - 498), "
        f"(a, b) -> a + b)"
    )


@query(
    "q224_quality_classifier",
    oracle=f"""
    WITH scored AS (
      SELECT source, n_chars,
             CAST({_qc_weight_duck()} AS BIGINT) AS margin
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
           CAST(1000000 * SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS accept_micros,
           CAST(SUM(margin) AS BIGINT) AS sum_margin,
           CAST(SUM(CASE WHEN margin > 0 THEN n_chars ELSE 0 END) AS BIGINT)
             AS accepted_chars
    FROM scored GROUP BY source ORDER BY source
    """,
    category="selection",
    doc="fastText-style hashed linear classifier filter, one map-side fold per doc",
)
def q224(spark: SparkSession, sf: str) -> DataFrame:
    scored = t(spark, sf, "documents").select(
        "source",
        "n_chars",
        F.expr(_qc_weight_spark()).alias("margin"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("margin") > 0).cast("bigint")).alias("n_accepted"),
            F.sum(F.col("margin")).alias("sum_margin"),
            F.sum(
                F.when(F.col("margin") > 0, F.col("n_chars")).otherwise(0)
            ).alias("accepted_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_accepted",
            F.expr("1000000 * n_accepted div n_docs").alias("accept_micros"),
            "sum_margin",
            "accepted_chars",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q225 — CCNet head/middle/tail corpus-fit buckets. Score is q116's
# exact rational (sum c_big / sum c_head) floored to micros; buckets
# cut at exact global ranks (rank*3 <= n / <= 2n), positions from the
# parallel two-phase numbering so no single task sees the corpus.
# --------------------------------------------------------------------------


@query(
    "q225_ppl_buckets",
    oracle="""
    WITH d AS (
      SELECT doc_id, source, n_chars, string_split(text, ' ') AS w
      FROM documents
    ),
    inst0 AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                    i -> {'w1': w[i], 'w2': w[i+1]})) AS b
      FROM d WHERE len(w) >= 2
    ),
    inst AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM inst0),
    big AS (SELECT w1, w2, COUNT(*) AS c_big FROM inst GROUP BY 1, 2),
    head AS (SELECT w1, COUNT(*) AS c_head FROM inst GROUP BY 1),
    ds AS (
      SELECT i.doc_id,
             CAST(1000000 * SUM(b.c_big) // SUM(h.c_head) AS BIGINT)
               AS score_micros
      FROM inst i JOIN big b USING (w1, w2) JOIN head h USING (w1)
      GROUP BY 1
    ),
    ranked AS (
      SELECT d.source, d.n_chars, ds.doc_id, ds.score_micros,
             ROW_NUMBER() OVER (ORDER BY ds.score_micros DESC, ds.doc_id)
               AS rk,
             COUNT(*) OVER () AS n
      FROM ds JOIN d USING (doc_id)
    ),
    bucketed AS (
      SELECT source, n_chars, doc_id, score_micros,
             CASE WHEN rk * 3 <= n THEN 'head'
                  WHEN rk * 3 <= 2 * n THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM ranked
    )
    SELECT source, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(score_micros) AS BIGINT) AS min_score_micros,
           CAST(MAX(score_micros) AS BIGINT) AS max_score_micros,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM bucketed GROUP BY source, bucket ORDER BY source, bucket
    """,
    category="selection",
    doc="CCNet head/middle/tail tertiles by exact bigram corpus-fit score",
)
def q225(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rank import global_positions

    d = spread_input(t(spark, sf, "documents"), key="doc_id").select(
        "doc_id", "source", "n_chars", F.split("text", " ").alias("w")
    )
    # Bigram instances via codegen posexplode + w[i+1]: the lambda form
    # (explode of transform(sequence -> struct)) is CodegenFallback, so
    # every instance paid the interpreted expression path — measured
    # 133 s vs 54 s for the identical 271M-instance enumeration at 5M
    # docs (agg-only consumer, fresh JVMs). Emits exactly the same
    # (doc_id, w1, w2) multiset: docs with size(w) < 2 yield no row
    # because no position satisfies i < size(w) - 1.
    inst = (
        d.select("doc_id", "w", F.posexplode("w").alias("i", "w1"))
        .filter(F.col("i") < F.size("w") - 1)
        .select("doc_id", "w1", F.expr("w[i + 1]").alias("w2"))
    )
    # NOTE: pre-folding duplicate bigrams per doc (groupBy(doc, w1, w2)
    # before the model joins) was measured SLOWER at 5M docs (220 s vs
    # 96 s): per-doc bigrams are mostly distinct, so the extra full
    # shuffle buys no row reduction. The instance join below is the
    # cheaper plan; the bigram-model aggregates stay map-side-combined.
    big = inst.groupBy("w1", "w2").agg(F.count("*").alias("c_big"))
    # The head-word model is the bigram model marginalized over w2
    # (sum over w2 of count(w1, w2) == count of instances with head
    # w1, exactly): derived from `big` instead of a second pass over
    # the instances, which deletes one full scan+explode subtree.
    head = big.groupBy("w1").agg(F.sum("c_big").alias("c_head"))
    ds = (
        inst.join(big, ["w1", "w2"])
        .join(head, "w1")
        .groupBy("doc_id")
        .agg(
            F.expr("1000000 * sum(c_big) div sum(c_head)").alias("score_micros")
        )
    )
    scored = ds.join(d.select("doc_id", "source", "n_chars"), "doc_id")
    # Pin the O(docs)-row score frame before ranking: the range
    # repartition inside global_positions SAMPLES its input to pick
    # partition bounds, which would re-execute the whole instance-join
    # subtree a second time (the sampling pass + the real exchange).
    # One 5M-narrow-row materialization instead — the same volume
    # global_positions itself checkpoints right after (guide §5).
    # Caveats (ADVICE r11, same contract as operators/cluster.py): the
    # eager checkpoint fires a job at CONSTRUCTION time and truncates
    # lineage, so executor loss afterwards is unrecoverable and
    # plan-only consumers (explain/dump tooling) pay the execution —
    # acceptable here because global_positions collects eagerly anyway.
    scored = scored.localCheckpoint(eager=True)
    ranked = global_positions(
        scored,
        [F.col("score_micros").desc(), F.col("doc_id")],
        position_col="rk",
    )
    n_row = ranked.agg(F.count("*").alias("n"))
    bucketed = ranked.crossJoin(F.broadcast(n_row)).select(
        "source",
        "n_chars",
        "doc_id",
        "score_micros",
        F.when(F.col("rk") * 3 <= F.col("n"), "head")
        .when(F.col("rk") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("source", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("score_micros").alias("min_score_micros"),
            F.max("score_micros").alias("max_score_micros"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("source", "bucket")
    )


# --------------------------------------------------------------------------
# q228 — n-gram novelty of a hash-held-out eval slice vs the training
# split: per eval doc, the share of its DISTINCT 5-grams absent from
# the train side. Only (gram, id) pairs shuffle — never text.
# --------------------------------------------------------------------------

_NOV_N = 5  # gram width


@query(
    "q228_ngram_novelty",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             {duck_h31("'nv-' || CAST(doc_id AS VARCHAR)")} % 10 = 7 AS is_eval,
             string_split(text, ' ') AS w
      FROM documents
    ),
    g0 AS (
      SELECT doc_id, source, is_eval,
             unnest({_duck_grams(_NOV_N)}) AS gram
      FROM d WHERE len(w) >= {_NOV_N}
    ),
    grams AS (SELECT DISTINCT doc_id, source, is_eval, gram FROM g0),
    train_grams AS (
      SELECT DISTINCT gram FROM grams WHERE NOT is_eval
    ),
    per_doc AS (
      SELECT g.doc_id, g.source,
             COUNT(*) AS total,
             SUM(CASE WHEN tg.gram IS NULL THEN 1 ELSE 0 END) AS novel
      FROM grams g LEFT JOIN train_grams tg USING (gram)
      WHERE g.is_eval
      GROUP BY 1, 2
    ),
    shares AS (
      SELECT source, doc_id,
             CAST(1000000 * novel // total AS BIGINT) AS novelty_micros
      FROM per_doc
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_eval_docs,
           CAST(SUM(novelty_micros) // COUNT(*) AS BIGINT) AS avg_novelty_micros,
           CAST(MIN(novelty_micros) AS BIGINT) AS min_novelty_micros,
           CAST(SUM(CASE WHEN novelty_micros < 500000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_memorized_half,
           CAST(SUM(CASE WHEN novelty_micros = 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fully_novel
    FROM shares GROUP BY source ORDER BY source
    """,
    category="selection",
    doc="Memorization-risk readout: exact novel-5-gram share of held-out docs",
)
def q228(spark: SparkSession, sf: str) -> DataFrame:
    is_eval = F.expr(h31("'nv-' || CAST(doc_id AS STRING)")) % 10 == 7
    d = spread_input(t(spark, sf, "documents"), key="doc_id").select(
        "doc_id", "source", is_eval.alias("is_eval"), F.split("text", " ").alias("w")
    )
    # Gram enumeration via codegen posexplode + indexed concat_ws: the
    # lambda form (explode of transform(sequence -> concat_ws(slice)))
    # is CodegenFallback — the q225 rewrite measured the interpreted
    # enumeration at 2.5x the codegen one on identical output. Docs
    # with size(w) < _NOV_N yield no row (no i < size(w) - 4).
    gram_expr = "concat_ws(' ', " + ", ".join(
        f"w[i + {k}]" for k in range(_NOV_N)
    ) + ")"
    grams = (
        d.select("doc_id", "source", "is_eval", "w",
                 F.posexplode("w").alias("i", "_w0"))
        .filter(F.col("i") < F.size("w") - (_NOV_N - 1))
        .select("doc_id", "source", "is_eval", F.expr(gram_expr).alias("gram"))
        .distinct()
    )
    train_grams = grams.filter(~F.col("is_eval")).select("gram").distinct()
    per_doc = (
        grams.filter(F.col("is_eval"))
        .join(
            train_grams.withColumn("_hit", F.lit(1)), "gram", "left"
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).alias("novel"),
        )
    )
    shares = per_doc.select(
        "source",
        "doc_id",
        F.expr("1000000 * novel div total").alias("novelty_micros"),
    )
    return (
        shares.groupBy("source")
        .agg(
            F.count("*").alias("n_eval_docs"),
            F.sum("novelty_micros").alias("_s"),
            F.min("novelty_micros").alias("min_novelty_micros"),
            F.sum(
                (F.col("novelty_micros") < 500000).cast("bigint")
            ).alias("n_memorized_half"),
            F.sum(
                (F.col("novelty_micros") == 1000000).cast("bigint")
            ).alias("n_fully_novel"),
        )
        .select(
            "source",
            "n_eval_docs",
            F.expr("_s div n_eval_docs").alias("avg_novelty_micros"),
            "min_novelty_micros",
            "n_memorized_half",
            "n_fully_novel",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q229 — length-bucketed batching padding audit: cap(t) = next power of
# two >= t via the bin()-string length (integer-only; both engines
# print minimal binary digits), pad = cap - t.
# --------------------------------------------------------------------------


@query(
    "q229_length_buckets",
    oracle="""
    WITH d AS (
      SELECT len(string_split(text, ' ')) AS tokens, n_chars
      FROM documents
    ),
    capped AS (
      SELECT tokens, n_chars,
             CASE WHEN tokens <= 1 THEN CAST(1 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) << length(bin(tokens - 1)) END AS cap
      FROM d
    )
    SELECT cap,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(cap - tokens) AS BIGINT) AS total_pad,
           CAST(1000000 * SUM(cap - tokens) // SUM(cap) AS BIGINT)
             AS pad_share_micros
    FROM capped GROUP BY cap ORDER BY cap
    """,
    category="selection",
    doc="Padding waste per power-of-two length bucket (dynamic-batching audit)",
)
def q229(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").select(
        F.size(F.split("text", " ")).cast("long").alias("tokens")
    )
    capped = d.select(
        "tokens",
        F.when(F.col("tokens") <= 1, F.lit(1).cast("long"))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(tokens - 1)))"))
        .alias("cap"),
    )
    return (
        capped.groupBy("cap")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tokens").alias("total_tokens"),
            F.sum(F.col("cap") - F.col("tokens")).alias("total_pad"),
        )
        .select(
            "cap",
            "n_docs",
            "total_tokens",
            "total_pad",
            F.expr(
                "1000000 * total_pad div (total_tokens + total_pad)"
            ).alias("pad_share_micros"),
        )
        .orderBy("cap")
    )
