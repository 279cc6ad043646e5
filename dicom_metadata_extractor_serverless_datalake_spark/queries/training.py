"""Training-data pipeline corpus: the dataset-preparation operators a
large-scale LLM training run needs *around* dedup/similarity (llm.py) —
deterministic splits, stratified sampling, document chunking, PII
redaction, vocabulary building, epoch shuffling.

Everything is hash-deterministic (no RNG): a split or sample defined as
``portable_hash(key) % N < rate`` is reproducible across engines, runs,
and cluster sizes — which is exactly what a training pipeline needs
(re-running the pipeline must regenerate the *same* train set), and it
makes every query here DuckDB-oracle-checkable bit-for-bit.

Scale notes: all six are narrow map-side transforms or single-shuffle
aggregations. The hash-filter pattern (q71/q72) is THE scale answer to
sampling 100 TB: no coordination, no RNG state, prunes at the scan when
the key is a partition column. Chunking (q73) is a generate + posexplode
— row count multiplies but bytes don't (substring slices). Vocabulary
(q75) is the classic word-count shuffle with map-side partial aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import h31
from .base import query, sql_query, t
from .llm import duck_h31

# --------------------------------------------------------------------------
# q71 — deterministic train/val/test split: hash of the stable doc key
# mod 100 -> 80/10/10. The reference point for "did my pipeline's split
# drift between runs" is that it CANNOT: same key -> same split forever,
# independent of partitioning, cluster size, or row order.
# --------------------------------------------------------------------------


@query(
    "q71_train_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, n_chars,
             CASE WHEN {duck_h31("CAST(doc_id AS VARCHAR)")} % 100 < 80 THEN 'train'
                  WHEN {duck_h31("CAST(doc_id AS VARCHAR)")} % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM assigned GROUP BY split ORDER BY split
    """,
    category="training",
)
def q71(spark: SparkSession, sf: str) -> DataFrame:
    h = F.expr(h31("CAST(doc_id AS STRING)")) % 100
    return (
        t(spark, sf, "documents")
        .withColumn(
            "split",
            F.when(h < 80, "train").when(h < 90, "val").otherwise("test"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# q72 — deterministic stratified sampling: per-language keep-rates (e.g.
# downsample dominant English, keep all of scarce languages) applied as a
# hash filter. Map-side only — the filter needs no shuffle, no RNG, and
# at 100 TB no coordination; the tiny rates table would be a broadcast.
# --------------------------------------------------------------------------

_RATES = {"en": 30, "de": 100, "es": 75, "fr": 100, "zh": 50}


@query(
    "q72_stratified_sample",
    oracle=f"""
    WITH kept AS (
      SELECT lang, n_chars FROM documents
      WHERE {duck_h31("'s72-' || CAST(doc_id AS VARCHAR)")} % 100 <
            CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 100 WHEN 'es' THEN 75
                      WHEN 'fr' THEN 100 WHEN 'zh' THEN 50 ELSE 0 END
    )
    SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
    FROM kept GROUP BY lang ORDER BY lang
    """,
    category="training",
)
def q72(spark: SparkSession, sf: str) -> DataFrame:
    h = F.expr(h31("concat('s72-', CAST(doc_id AS STRING))")) % 100
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _RATES.items()],
        F.lit(0),
    )
    return (
        t(spark, sf, "documents")
        .filter(h < rate)
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"), F.sum("n_chars").alias("kept_chars"))
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q73 — document chunking: fixed-width character chunks (the token-window
# analogue) via sequence + posexplode. Bytes don't multiply — each chunk
# is a substring slice; only row count grows. At scale this is the stage
# that feeds the tokenizer, and it's embarrassingly parallel.
# --------------------------------------------------------------------------

_CHUNK = 256


@query(
    "q73_doc_chunking",
    oracle=f"""
    SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS chunk_id,
           md5(substring(text, CAST((u.i - 1) * {_CHUNK} + 1 AS BIGINT), {_CHUNK})) AS chunk_digest,
           CAST(length(substring(text, CAST((u.i - 1) * {_CHUNK} + 1 AS BIGINT), {_CHUNK})) AS BIGINT) AS chunk_len
    FROM documents,
         unnest(generate_series(1, CAST(ceil(length(text) / {_CHUNK}.0) AS BIGINT))) AS u(i)
    WHERE doc_id < 100
    ORDER BY doc_id, chunk_id
    """,
    category="training",
)
def q73(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 100)
    n_chunks = F.ceil(F.length("text") / F.lit(_CHUNK)).cast("int")
    return (
        d.select(
            "doc_id",
            "text",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.expr(f"substring(text, chunk_id * {_CHUNK} + 1, {_CHUNK})").alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.md5("chunk").alias("chunk_digest"),
            F.length("chunk").cast("long").alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# --------------------------------------------------------------------------
# q74 — PII redaction: regex scrub (numbers/emails/SSN-shaped spans ->
# placeholder tokens) with per-doc replacement accounting. Pure map-side
# regexp_replace in whole-stage codegen — the JVM hot path, no Python.
# The regexes stay in the dialect subset shared by Java regex and RE2.
# --------------------------------------------------------------------------

_PII_PATTERNS = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("[0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]", "<SSN>"),
    ("[0-9]+", "<NUM>"),
]


@query(
    "q74_pii_redaction",
    oracle="""
    WITH red AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
               '[0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]', '<SSN>', 'g'),
               '[0-9]+', '<NUM>', 'g') AS clean,
             text
      FROM documents
    )
    SELECT doc_id, md5(clean) AS clean_digest,
           CAST(length(text) - length(clean) AS BIGINT) AS delta_chars,
           CAST(length(clean) - length(replace(clean, '<NUM>', ''))
                AS BIGINT) / 5 AS n_num_redactions
    FROM red ORDER BY doc_id
    """,
    category="training",
)
def q74(spark: SparkSession, sf: str) -> DataFrame:
    clean = F.col("text")
    for pat, repl in _PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return (
        t(spark, sf, "documents")
        .withColumn("clean", clean)
        .select(
            "doc_id",
            F.md5("clean").alias("clean_digest"),
            (F.length("text") - F.length("clean")).cast("long").alias("delta_chars"),
            (
                (F.length("clean") - F.length(F.replace(F.col("clean"), F.lit("<NUM>"), F.lit(""))))
                / F.lit(5)
            ).alias("n_num_redactions"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q75 — vocabulary building: top-k tokens by frequency. The word-count
# shuffle: explode is map-side, the groupBy does partial aggregation
# before the exchange, top-k is a TakeOrderedAndProject (no full sort).
# --------------------------------------------------------------------------

_VOCAB_K = 100


@query(
    "q75_vocab_topk",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
      FROM documents
    )
    SELECT token, COUNT(*) AS freq FROM tok
    WHERE token <> ''
    GROUP BY token ORDER BY freq DESC, token LIMIT {_VOCAB_K}
    """,
    category="training",
)
def q75(spark: SparkSession, sf: str) -> DataFrame:
    return (
        t(spark, sf, "documents")
        .select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(_VOCAB_K)
    )


# --------------------------------------------------------------------------
# q76 — deterministic epoch shuffle: a reproducible global permutation of
# the dataset, ordered by hash of (seed, key). Changing the seed string
# reshuffles; the same seed replays the same order on any cluster.
# Positions come from operators/rank.py::global_positions — a parallel
# range-partitioned numbering, NOT row_number() over a global window
# (which would collapse every row into one task at scale).
# --------------------------------------------------------------------------


@query(
    "q76_epoch_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY {duck_h31("'epoch1-' || CAST(doc_id AS VARCHAR)")}, doc_id
           ) AS BIGINT) AS position
    FROM documents ORDER BY position
    """,
    category="training",
)
def q76(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rank import global_positions

    h = F.expr(h31("concat('epoch1-', CAST(doc_id AS STRING))"))
    d = t(spark, sf, "documents").select("doc_id", h.alias("_h"))
    return (
        global_positions(d, ["_h", "doc_id"])
        .select("doc_id", "position")
        .orderBy("position")
    )


# --------------------------------------------------------------------------
# q79 — quality-filter funnel: the per-source survival report of a
# filter cascade (length -> token count -> stopword ratio -> exact-dup
# keeper). Every training pipeline publishes exactly this table to show
# where its data went. Single scan: each gate is a flag column and the
# funnel is conditional sums — the dedup gate is a window min over the
# content digest, so the whole report costs one shuffle plus the agg.
# --------------------------------------------------------------------------

_STOPWORDS79 = "('the','a','of','and','to','in','is','it','on','for')"


@query(
    "q79_filter_funnel",
    oracle=f"""
    WITH flags AS (
      SELECT source,
             n_chars BETWEEN 200 AND 20000 AS g_len,
             len(string_split(text, ' ')) >= 40 AS g_tok,
             CAST(len(list_filter(string_split(text, ' '),
                      tk -> tk IN {_STOPWORDS79})) AS DOUBLE)
               / len(string_split(text, ' ')) >= 0.05 AS g_stop,
             doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS g_keeper
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN g_len THEN 1 ELSE 0 END) AS BIGINT) AS after_len,
           CAST(SUM(CASE WHEN g_len AND g_tok THEN 1 ELSE 0 END) AS BIGINT) AS after_tok,
           CAST(SUM(CASE WHEN g_len AND g_tok AND g_stop THEN 1 ELSE 0 END) AS BIGINT) AS after_stop,
           CAST(SUM(CASE WHEN g_len AND g_tok AND g_stop AND g_keeper THEN 1 ELSE 0 END) AS BIGINT) AS after_dedup
    FROM flags GROUP BY source ORDER BY source
    """,
    category="training",
)
def q79(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_stop = F.size(F.expr(f"filter(split(text, ' '), tk -> tk IN {_STOPWORDS79})"))
    g_len = F.col("n_chars").between(200, 20000)
    g_tok = n_tok >= 40
    g_stop = (n_stop.cast("double") / n_tok) >= 0.05
    g_keeper = F.col("doc_id") == F.min("doc_id").over(
        W.partitionBy(F.md5("text"))
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).alias  # noqa: E731
    return (
        t(spark, sf, "documents")
        .select(
            "source",
            g_len.alias("g_len"),
            g_tok.alias("g_tok"),
            g_stop.alias("g_stop"),
            g_keeper.alias("g_keeper"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            cnt(F.col("g_len"))("after_len"),
            cnt(F.col("g_len") & F.col("g_tok"))("after_tok"),
            cnt(F.col("g_len") & F.col("g_tok") & F.col("g_stop"))("after_stop"),
            cnt(F.col("g_len") & F.col("g_tok") & F.col("g_stop") & F.col("g_keeper"))(
                "after_dedup"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q80 — boilerplate n-gram detection: 5-grams appearing in many distinct
# documents (headers, footers, license blurbs). The C4/RefinedWeb-style
# boilerplate pass. Shape: explode -> distinct (doc, gram) -> count
# distinct docs per gram -> threshold. The distinct is the one shuffle;
# doc frequency (not raw frequency) is what finds boilerplate, since a
# gram repeated 100x inside ONE doc is content, not boilerplate.
# --------------------------------------------------------------------------

# the synthetic corpus is random-word text, so repeated 5-grams are rare:
# threshold 3 yields a real result set here; production boilerplate
# passes run the same shape with a much higher bar (e.g. 1% of docs)
_BP_MIN_DOCS = 3


@query(
    "q80_boilerplate_ngrams",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 4),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
      FROM w
    )
    SELECT g AS gram, COUNT(*) AS n_docs
    FROM grams GROUP BY g HAVING COUNT(*) >= {_BP_MIN_DOCS}
    ORDER BY n_docs DESC, gram
    """,
    category="training",
)
def q80(spark: SparkSession, sf: str) -> DataFrame:
    # per-doc dedup happens INSIDE the array (array_distinct, map-side)
    # so doc frequency needs no (doc_id, gram) shuffle — the only
    # exchange is the gram count itself. At 10x data this is the
    # difference between 2 string shuffles and 1 (measured 36s -> ~12s).
    five = (
        "CASE WHEN size(w) >= 5 THEN array_distinct(transform(sequence(1, size(w) - 4), "
        "i -> concat_ws(' ', w[i-1], w[i], w[i+1], w[i+2], w[i+3]))) "
        "ELSE array() END"
    )
    grams = (
        t(spark, sf, "documents")
        .select(F.split("text", " ").alias("w"))
        .select(F.explode(F.expr(five)).alias("g"))
    )
    return (
        grams.groupBy(F.col("g").alias("gram"))
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= _BP_MIN_DOCS)
        .orderBy(F.desc("n_docs"), "gram")
    )


# --------------------------------------------------------------------------
# q81 — join-key skew diagnostic: heavy-hitter report for a join column
# (frequency + share of total). This is the report you run BEFORE a big
# join to decide between plain shuffle, broadcast, salting
# (operators/skew.py), or AQE skew-join. Exact top-k via count + window.
# --------------------------------------------------------------------------

_SKEW_TOP = 20


sql_query(
    "q81_skew_report",
    f"""
    WITH freq AS (
      SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS n_keys FROM freq)
    SELECT key, n, CAST(n AS DOUBLE) / total AS share,
           CAST(n AS DOUBLE) * n_keys / total AS skew_factor
    FROM freq, tot
    ORDER BY n DESC, key LIMIT {_SKEW_TOP}
    """,
    category="training",
)


# --------------------------------------------------------------------------
# q82 — benchmark decontamination: drop training docs that share any
# 4-gram with the held-out eval set (the GPT-3-style n-gram overlap
# rule; production uses 8-13-grams — on this small-vocabulary synthetic
# corpus 4 gives the same mixed kept/dropped shape). Scale shape: eval sets are tiny, so their distinct n-grams
# BROADCAST and contamination is a map-side semi-join probe — the
# training corpus never shuffles. Report kept/dropped per source.
# --------------------------------------------------------------------------

_EVAL_MAX_DOC = 25  # docs below this id act as the held-out benchmark


@query(
    "q82_decontamination",
    oracle=f"""
    WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, source,
             unnest(list_distinct(list_transform(generate_series(1, len(w) - 3),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS g
      FROM w
    ),
    eval_grams AS (SELECT DISTINCT g FROM grams WHERE doc_id < {_EVAL_MAX_DOC}),
    contaminated AS (
      SELECT DISTINCT doc_id FROM grams
      WHERE doc_id >= {_EVAL_MAX_DOC} AND g IN (SELECT g FROM eval_grams)
    )
    SELECT d.source,
           COUNT(*) AS n_train,
           CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN c.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.doc_id >= {_EVAL_MAX_DOC}
    GROUP BY d.source ORDER BY d.source
    """,
    category="training",
)
def q82(spark: SparkSession, sf: str) -> DataFrame:
    four = (
        "CASE WHEN size(w) >= 4 THEN array_distinct(transform(sequence(1, size(w) - 3), "
        "i -> concat_ws(' ', w[i-1], w[i], w[i+1], w[i+2]))) "
        "ELSE array() END"
    )
    grams = (
        t(spark, sf, "documents")
        .select("doc_id", "source", F.split("text", " ").alias("w"))
        .select("doc_id", "source", F.explode(F.expr(four)).alias("g"))
    )
    eval_grams = (
        grams.filter(F.col("doc_id") < _EVAL_MAX_DOC).select("g").distinct()
    )
    contaminated = (
        grams.filter(F.col("doc_id") >= _EVAL_MAX_DOC)
        .join(F.broadcast(eval_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    train = t(spark, sf, "documents").filter(F.col("doc_id") >= _EVAL_MAX_DOC)
    flagged = train.join(
        F.broadcast(contaminated.withColumn("_hit", F.lit(1))), "doc_id", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q116 — corpus-fit bigram language-model quality score: the model-based
# quality filter of a training pipeline (CCNet/RefinedWeb run a KenLM
# perplexity pass; this is the same fit-on-corpus -> score-every-doc
# shape with exact cross-engine arithmetic). The "model" is the corpus
# bigram table itself; a document's score is the aggregate conditional
# frequency of its bigrams under that model,
#     score(d) = sum_i c(w_i, w_{i+1}) / sum_i c(w_i, *),
# i.e. the ratio of two exact integer sums — gibberish text (bigrams
# the corpus never repeats) scores near 1/N while formulaic text scores
# high. ln-free on purpose: logs are not cross-libm deterministic
# (q95's rationale), while integer sums + one correctly-rounded double
# division are bit-identical in any engine.
#
# Scale: token instances never shuffle raw text — the explode is
# map-side, the model is two word-keyed aggregations (vocab-bounded,
# Zipf-friendly: partial aggs absorb the heavy head), and the
# score join is instances ⋈ model on word keys — broadcast when the
# vocab fits, shuffle-on-word otherwise; the per-doc regroup is the
# only doc-keyed exchange.
# --------------------------------------------------------------------------


@query(
    "q116_bigram_lm_score",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    inst AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                    i -> {'w1': w[i], 'w2': w[i+1]})) AS b
      FROM w WHERE len(w) >= 2
    ),
    i2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM inst),
    big AS (SELECT w1, w2, count(*) AS c_big FROM i2 GROUP BY 1, 2),
    head AS (SELECT w1, count(*) AS c_head FROM i2 GROUP BY 1)
    SELECT i2.doc_id, count(*) AS n_bigrams,
           CAST(SUM(c_big) AS DOUBLE) / SUM(c_head) AS score
    FROM i2 JOIN big USING (w1, w2) JOIN head USING (w1)
    GROUP BY 1 ORDER BY 1
    """,
    category="training",
)
def q116(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").select("doc_id", F.split("text", " ").alias("w"))
    # 0-based Spark indexing vs 1-based DuckDB: w[i-1],w[i] here pairs
    # with w[i],w[i+1] there — both enumerate adjacent token pairs
    inst = (
        d.filter(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), "
                    "i -> struct(w[i-1] AS w1, w[i] AS w2))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.w1", "b.w2")
    )
    big = inst.groupBy("w1", "w2").agg(F.count("*").alias("c_big"))
    head = inst.groupBy("w1").agg(F.count("*").alias("c_head"))
    return (
        inst.join(big, ["w1", "w2"])
        .join(head, "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("c_big").cast("double") / F.sum("c_head")).alias("score"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q117 — domain-mixture sampling to target proportions: given relative
# weights per source (the Pile/DoReMi-style mixture spec), draw the
# LARGEST corpus that realizes the weights exactly. Integer-exact by
# construction: K = min_s(n_s div w_s) epochs are feasible, so source s
# contributes m_s = w_s * K docs — no float rates, no rounding drift.
# WHICH docs fill each quota is the salted-hash total order (h31(id),
# id): deterministic under re-runs, partitioning, and appends, like
# every sampler in this family. The id_checksum column pins the exact
# selected SET, not just its size.
#
# Scale: one count-aggregation for quotas (tiny), one scalar K, and a
# per-source top-m_s by rank. The rank is a window sort within each
# source; for a web-scale single source, swap exact rank-selection for
# the q72 hash-rate filter (trades exact quota counts for a binomial
# bound) — the mixture math above is unchanged.
# --------------------------------------------------------------------------

_MIX_WEIGHTS = [("src0", 5), ("src1", 3), ("src2", 2)]
_MIX_VALUES = ", ".join(f"('{s}', {w})" for s, w in _MIX_WEIGHTS)


@query(
    "q117_domain_mixture",
    oracle=f"""
    WITH wts(source, wt) AS (VALUES {_MIX_VALUES}),
    avail AS (
      SELECT d.source, w.wt, count(*) AS n_avail
      FROM documents d JOIN wts w ON d.source = w.source GROUP BY 1, 2
    ),
    k AS (SELECT MIN(n_avail // wt) AS k FROM avail),
    ranked AS (
      SELECT d.doc_id, d.source, d.n_chars,
             row_number() OVER (PARTITION BY d.source
               ORDER BY {duck_h31("CAST(d.doc_id AS VARCHAR)")}, d.doc_id) AS rn
      FROM documents d JOIN wts w ON d.source = w.source
    )
    SELECT r.source, a.n_avail, CAST(a.wt * k.k AS BIGINT) AS n_sampled,
           CAST(SUM(r.n_chars) AS BIGINT) AS sampled_chars,
           CAST(SUM(r.doc_id) AS BIGINT) AS id_checksum
    FROM ranked r JOIN avail a ON r.source = a.source CROSS JOIN k
    WHERE r.rn <= a.wt * k.k
    GROUP BY 1, 2, 3 ORDER BY 1
    """,
    category="training",
)
def q117(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = t(spark, sf, "documents")
    wts = spark.createDataFrame(_MIX_WEIGHTS, ["source", "wt"])
    dw = d.join(F.broadcast(wts), "source")
    avail = dw.groupBy("source", "wt").agg(F.count("*").alias("n_avail"))
    k = avail.agg(F.min(F.expr("n_avail div wt")).alias("k"))
    rn = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.expr(h31("CAST(doc_id AS STRING)")), "doc_id"
        )
    )
    ranked = dw.withColumn("rn", rn)
    return (
        ranked.join(avail.select("source", "n_avail", "wt"), ["source", "wt"])
        .crossJoin(F.broadcast(k))
        .filter(F.col("rn") <= F.col("wt") * F.col("k"))
        .groupBy(
            "source",
            "n_avail",
            (F.col("wt") * F.col("k")).cast("long").alias("n_sampled"),
        )
        .agg(
            F.sum("n_chars").cast("long").alias("sampled_chars"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q118 — sequence packing: assign documents to fixed-capacity token
# bins (training sequences) by contiguous cumulative-sum packing within
# each source — the deterministic, shuffle-free analogue of the greedy
# packers training loaders run (bin b of source s holds the docs whose
# preceding-token cumsum falls in [b*C, (b+1)*C)). Emits per-bin
# occupancy and fill ratio; capacity 512 is a power of two so the fill
# division is EXACT in binary floating point — bit-identical across
# engines without any epsilon.
#
# Scale: one window cumsum partitioned by source (partition-parallel,
# no global sort) + one (source, bin) aggregation. Packing quality is
# the contiguous-order trade: first-fit-decreasing packs ~tighter but
# needs a per-source sort by length — same window shape, different
# ORDER BY — while contiguous order preserves document locality.
# --------------------------------------------------------------------------

_PACK_CAPACITY = 512


@query(
    "q118_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM toks
    )
    SELECT source, CAST(cum_before // {_PACK_CAPACITY} AS BIGINT) AS bin_id,
           count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(n_tok) AS DOUBLE) / {_PACK_CAPACITY} AS fill
    FROM cum GROUP BY 1, 2 ORDER BY 1, 2
    """,
    category="training",
)
def q118(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window as W

    toks = t(spark, sf, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long")
    )
    return (
        cum.groupBy(
            "source", F.expr(f"cum_before div {_PACK_CAPACITY}").alias("bin_id")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            (F.sum("n_tok").cast("double") / F.lit(float(_PACK_CAPACITY))).alias(
                "fill"
            ),
        )
        .orderBy("source", "bin_id")
    )


# --------------------------------------------------------------------------
# q155 — ENTITY-consistent sampling: keep ~10% of USERS (portable hash
# of user_id), and with them every event they ever produced. Row-level
# sampling (q72's shape, TABLESAMPLE, rand() < p) silently destroys
# every cross-row property — sessions lose steps, funnels lose
# conversions, per-user counts shrink — so any debugging subsample of
# event data must sample the ENTITY and keep its rows intact. Same for
# training corpora sampled by source/author. The hash filter makes the
# cohort stable across runs, engines, and cluster sizes, and two
# different TABLES sampled with the same key function stay join-
# compatible (the sampled events still join the sampled user dim).
#
# 100 TB shape: pure map-side filter — no shuffle, no RNG state, no
# coordination; prunes at the scan when user_id bucketing/clustering
# exists (operators/layout.py). The rollup after it is the only
# exchange. countDistinct(user_id) is exact here (bounded by the user
# population, not the corpus); the sketch path for unbounded keys is
# q90's HLL.
# --------------------------------------------------------------------------


@query(
    "q155_consistent_sample",
    oracle=f"""
    WITH kept AS (
      SELECT event_type, user_id, value FROM events
      WHERE {duck_h31("'s155-' || CAST(user_id AS VARCHAR)")} % 100 < 10
    )
    SELECT event_type, COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
    FROM kept GROUP BY event_type ORDER BY event_type
    """,
    category="training",
)
def q155(spark: SparkSession, sf: str) -> DataFrame:
    from .base import dsum

    h = F.expr(h31("concat('s155-', CAST(user_id AS STRING))")) % 100
    return (
        t(spark, sf, "events")
        .filter(h < 10)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum("value", "total_value", 2, max_abs=500.0),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q156 — distributed BPE tokenizer training, 4 merge rounds: the core
# loop of byte-pair-encoding vocabulary construction (count adjacent
# symbol pairs weighted by word frequency -> merge the argmax pair ->
# repeat), run on-cluster. The returned rows are the learned merge
# rules (round, a, b, count) — each round's argmax depends on the
# previous round's merge, so a hash match certifies the whole cascade.
#
# The classic BPE scale trick is structural here: after the initial
# word count, every round operates on the VOCABULARY (|distinct
# words| rows), not the corpus — the only corpus-scale operation is
# the first groupBy. Words are carried as delimited symbol strings
# '<s><y><m>' so a merge is one engine-native replace(): the <>
# delimiters make substring false-positives impossible and L->R
# non-overlapping replace IS the greedy BPE merge ('<a><a><a>' ->
# '<aa><a>'); pair counting is overlapping-adjacent (the standard
# count), identical index arithmetic on both engines. The argmax is
# totally ordered (count desc, a asc, b asc).
#
# 100 TB shape: corpus-scale word count (map-side partial aggs), then
# the persisted vocab is the only input to all rounds; each round is
# one vocab-sized explode+groupBy (map-side combinable, pairs <<
# vocab * avg_len) and a TakeOrdered(1). One 1-row collect per round
# drives the next round's replace literal — the kcore/PageRank
# iterative pattern; the returned merge rows themselves are computed
# distributed (union of the per-round limit-1 frames). Rounds are
# O(R) driver round-trips with R fixed, never data-dependent.
# --------------------------------------------------------------------------

_BPE_ROUNDS = 4


def _bpe_train_ctes(rounds: int = _BPE_ROUNDS) -> list[str]:
    """The merge-training CTE chain (words0 .. best{R}/words{R}) shared
    by q156's oracle and q291's (which applies the learned cascade)."""
    ctes = [
        """words0 AS (
      SELECT regexp_replace(w0, '(.)', '<\\1>', 'g') AS w, f FROM (
        SELECT w0, CAST(COUNT(*) AS BIGINT) AS f FROM (
          SELECT unnest(string_split(text, ' ')) AS w0 FROM documents
        ) WHERE regexp_matches(w0, '^[A-Za-z]+$') GROUP BY w0)
    )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""sy{r} AS (
      SELECT f, string_split(substring(w, 2, length(w) - 2), '><') AS l
      FROM words{r - 1}
    ),
    pairs{r} AS (
      SELECT u.p['a'] AS a, u.p['b'] AS b, CAST(SUM(f) AS BIGINT) AS cnt
      FROM sy{r} t, unnest(list_transform(generate_series(1, len(t.l) - 1),
           i -> struct_pack(a := t.l[i], b := t.l[i+1]))) AS u(p)
      GROUP BY 1, 2
    ),
    best{r} AS (SELECT {r} AS merge_round, a, b, cnt FROM pairs{r}
                ORDER BY cnt DESC, a, b LIMIT 1),
    words{r} AS (
      SELECT replace(w, '<' || best{r}.a || '><' || best{r}.b || '>',
                     '<' || best{r}.a || best{r}.b || '>') AS w, f
      FROM words{r - 1}, best{r}
    )"""
        )
    return ctes


def _bpe_oracle(rounds: int = _BPE_ROUNDS) -> str:
    sel = " UNION ALL ".join(
        f"SELECT merge_round, a, b, cnt FROM best{i}" for i in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(_bpe_train_ctes(rounds))
        + f"\nSELECT merge_round, a, b, cnt FROM ({sel}) ORDER BY merge_round"
    )


@query("q156_bpe_merges", oracle=_bpe_oracle(), category="training")
def q156(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bpe import bpe_merges

    vocab = (
        t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("w0"))
        .filter(F.col("w0").rlike("^[A-Za-z]+$"))
        .groupBy("w0")
        .agg(F.count("*").alias("f"))
    )
    return bpe_merges(vocab, rounds=_BPE_ROUNDS)


# --------------------------------------------------------------------------
# q291 — BPE corpus ENCODE under the q156-trained merges: the missing
# deployment half of the tokenizer (VERDICT r10 #2 — q156 learns the
# merge table; this applies it). Per doc: alphabetic words ->
# delimited-symbol split -> the merge cascade as nested L->R replaces
# (merges baked in as literals) -> (n_tokens, sum of portable md5-h31
# token ids). This is the REAL token counter every packing/budget
# query (q118/q202/q205) approximates with whitespace tokens.
#
# 100 TB shape: training runs on the vocab (q156's trick); encoding is
# ONE map-side whole-stage-codegen projection over the corpus — no
# vocab join, no explode, no shuffle (operators/bpe.py:bpe_encode).
# The oracle replays training (q156's shared CTE chain), applies the
# same cascade to the DISTINCT vocab, and joins docs' words back —
# same answer through a deliberately different plan shape.
# --------------------------------------------------------------------------


def _bpe_encode_oracle(rounds: int = _BPE_ROUNDS, by_source: bool = False) -> str:
    """DuckDB replay of train-then-encode. ``by_source=True`` rolls the
    per-doc counts up to (source, n_docs, n_tokens, token_checksum) —
    the oracle for the STREAMING tokenizer q300, whose per-source cells
    are the same monotone sums maintained incrementally."""
    ctes = _bpe_train_ctes(rounds)
    enc = [
        """enc0 AS (
      SELECT DISTINCT w0, regexp_replace(w0, '(.)', '<\\1>', 'g') AS e FROM (
        SELECT unnest(string_split(text, ' ')) AS w0 FROM documents
      ) WHERE regexp_matches(w0, '^[A-Za-z]+$')
    )"""
    ]
    for r in range(1, rounds + 1):
        enc.append(
            f"""enc{r} AS (
      SELECT w0, replace(e, '<' || best{r}.a || '><' || best{r}.b || '>',
                         '<' || best{r}.a || best{r}.b || '>') AS e
      FROM enc{r - 1}, best{r}
    )"""
        )
    tail = (
        """
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(a.n_tokens, 0)) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(a.token_checksum, 0)) AS BIGINT) AS token_checksum
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    GROUP BY d.source ORDER BY d.source"""
        if by_source
        else """
    SELECT d.doc_id,
           COALESCE(a.n_tokens, 0) AS n_tokens,
           COALESCE(a.token_checksum, 0) AS token_checksum
    FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
    ORDER BY d.doc_id"""
    )
    return (
        "WITH "
        + ",\n".join(ctes + enc)
        + f""",
    tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                            x -> regexp_matches(x, '^[A-Za-z]+$'))) AS w0
      FROM documents
    ),
    sym AS (
      SELECT t.doc_id,
             unnest(string_split(substring(e.e, 2, length(e.e) - 2), '><')) AS s
      FROM tok t JOIN enc{rounds} e ON t.w0 = e.w0
    ),
    agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)
                      % 2147483647) AS BIGINT) AS token_checksum
      FROM sym GROUP BY doc_id
    )"""
        + tail
    )


@query(
    "q291_bpe_encode",
    oracle=_bpe_encode_oracle(),
    category="training",
    doc="BPE corpus encode under q156's trained merges: map-side literal cascade, per-doc token count + portable token-id checksum",
)
def q291(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bpe import bpe_encode, bpe_merges

    docs = t(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("w0"))
        .filter(F.col("w0").rlike("^[A-Za-z]+$"))
        .groupBy("w0")
        .agg(F.count("*").alias("f"))
    )
    merges = bpe_merges(vocab, rounds=_BPE_ROUNDS)
    return bpe_encode(docs, merges).orderBy("doc_id")


# --------------------------------------------------------------------------
# q183 — exact stratified split (round 5): 80/10/10 WITHIN each language,
# by deterministic portable-hash rank. q71's global hash-modulo split is
# proportional only in expectation — a scarce stratum (here zh at ~15%)
# can land 70/16/14 by luck and skew every per-language eval. This form
# ranks each stratum's docs by salted hash (a deterministic shuffle
# order) and cuts at exact integer thresholds: floor(0.8 n) train,
# floor(0.9 n) val, remainder test — counts are exact per stratum, and
# the assignment is stable under any partitioning or cluster size.
#
# Scale shape: the rank comes from operators/rank.grouped_positions —
# the two-phase range-partitioned numbering — NOT from a window
# PARTITION BY lang, which funnels each stratum's entire mass through
# one task (billions of rows per language at 100 TB). Thresholds use
# cross-multiplied integer arithmetic; no floats anywhere.
# --------------------------------------------------------------------------


def _q183_oracle() -> str:
    h = duck_h31("'s183-' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    ),
    assigned AS (
      SELECT lang, n_chars,
             CASE WHEN r * 100 <= 80 * n THEN 'train'
                  WHEN r * 100 <= 90 * n THEN 'val'
                  ELSE 'test' END AS split
      FROM ranked
    )
    SELECT lang, split, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY lang, split ORDER BY lang, split
    """


@query("q183_stratified_split", oracle=_q183_oracle(), category="training")
def q183(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.rank import grouped_positions

    docs = t(spark, sf, "documents").select(
        "lang",
        "n_chars",
        "doc_id",
        F.expr(h31("concat('s183-', CAST(doc_id AS STRING))")).alias("_h"),
    )
    ranked = grouped_positions(docs, ["lang"], ["_h", "doc_id"], position_col="r")
    totals = ranked.groupBy("lang").agg(F.count("*").alias("n"))
    assigned = ranked.join(F.broadcast(totals), "lang").select(
        "lang",
        "n_chars",
        F.when(F.col("r") * 100 <= 80 * F.col("n"), "train")
        .when(F.col("r") * 100 <= 90 * F.col("n"), "val")
        .otherwise("test")
        .alias("split"),
    )
    return (
        assigned.groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang", "split")
    )
