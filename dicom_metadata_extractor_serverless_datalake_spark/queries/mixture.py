"""Round-6 batch 3: corpus-mixing & LM-prep family (q201-q206).

The last mile of a training-data pipeline after dedup (q50-q53),
decontamination (q82/q139/q144), quality gating (q145/q150) and
normalization (q192): score documents with a corpus-trained language
model, decide the source mixture, select under a token budget, and
pack the survivors into fixed-length training sequences.

- q201 is the classic count-based bigram LM typicality score
  (p(w_i | w_{i-1}) maximum-likelihood, trained on the corpus itself) —
  the cheap fluency/outlier readout pipelines run before a neural
  perplexity filter. Per the corpus exactness conventions the per-token
  score is the conditional probability itself in integer micros, not
  its log (libm log is not bit-portable across engines; the floored
  rational is).
- q202 is concatenate-and-chunk sequence packing (the GPT-style
  pre-training layout): per source, documents are laid head-to-tail in
  doc_id order and cut into CTX-token sequences; the readout is the
  packing efficiency (sequences, pad waste, boundary-crossing docs).
- q203 is hashed-n-gram importance weighting in the spirit of DSIR
  (Xie et al. 2023): score every non-target document by how much its
  hashed unigram distribution leans toward the target slice
  (lang='en'). The classic weight is sum log(p_t/p_s); the registered
  exact form uses the linear discriminant sum (p_t - p_s) in micros —
  same feature space, same blocking shape, bit-portable arithmetic.
- q204 is temperature-based source mixing (tau = 2, i.e. weights
  proportional to sqrt(token share) — the multilingual-sampling
  standard): IEEE sqrt is correctly rounded and therefore portable;
  the one order-sensitive float reduction (the weight normalizer) is
  folded over a sorted array on both engines (the q182 pattern).
- q205 is token-budget curriculum selection: rank documents by an
  exact rational quality score (distinct-token ratio), admit in rank
  order until half the corpus token mass is selected, and report the
  per-language composition of the selected set.
- q206 is the exact tie-corrected Mann-Whitney U rank-sum test
  (two-sided z in micros) comparing document-length distributions of
  two sources — the nonparametric sibling of q198 (ANOVA) / q199 (KS),
  computed over value-domain counts (never per-row ranks).

The reference delegates all analytics to Athena (it is a per-object
ETL, /root/reference/src/app.py:97-189); this family exists because a
100 TB training-data lake needs the mixing/packing readouts natively.

Exactness: every float reduction is avoided (per-term doubles are
floored to integer micros FIRST and integer-summed) except q204's
normalizer, which both engines fold in identical sorted order; sqrt is
IEEE-correctly-rounded and portable; no libm transcendentals anywhere.

Scale shapes at 100 TB are documented per query below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import h31
from ..pipeline import TextCorpus
from .base import query, sql_query, t
from .llm import duck_h31

# --------------------------------------------------------------------------
# q201 — corpus-trained bigram LM typicality score. Train: count every
# word bigram and every bigram-context (first-word occurrence) over the
# whole corpus, keyed by the portable 31-bit hash so no text ever moves
# through an exchange. Score: per document, the floored-micros mean and
# minimum of p(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1} ·).
#
# 100 TB shape: one gram explode feeding two hash-keyed count
# aggregates (map-side partial; the count tables are vocab-sized, far
# smaller than the corpus), then map-side BROADCAST joins of the
# exploded gram stream against both count tables, then a doc_id-keyed
# aggregate — the only data-sized exchanges are the two count
# aggregates' partial-agg shuffles (vocab-sized payload) and the doc
# aggregate. Per-token probabilities are floored to micros before the
# integer per-doc sum, so the result is partition-order-free.
# --------------------------------------------------------------------------

_LM_M = "CAST(floor(1000000.0 * (CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE))) AS BIGINT)"


def _q201_oracle() -> str:
    bh = duck_h31("ws[i] || ' ' || ws[i + 1]")
    ph = duck_h31("ws[i]")
    return f"""
    WITH d AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    g0 AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(ws) - 1),
                            i -> struct_pack(bh := {bh}, ph := {ph})) AS ps
      FROM d
    ),
    g AS (SELECT doc_id, u.p.bh AS bh, u.p.ph AS ph FROM g0, UNNEST(ps) AS u(p)),
    bc AS (SELECT bh, count(*) AS cb FROM g GROUP BY 1),
    pc AS (SELECT ph, count(*) AS cp FROM g GROUP BY 1),
    j AS (
      SELECT g.doc_id, {_LM_M} AS m
      FROM g JOIN bc USING (bh) JOIN pc USING (ph)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(m) AS BIGINT) AS sum_micros,
           CAST(sum(m) // count(*) AS BIGINT) AS avg_micros,
           CAST(min(m) AS BIGINT) AS min_micros
    FROM j GROUP BY 1 ORDER BY 1
    """


@query(
    "q201_bigram_lm_score",
    oracle=_q201_oracle(),
    category="mixing",
    doc="corpus-trained bigram LM typicality score, hash-keyed train+score",
)
def q201(spark: SparkSession, sf: str) -> DataFrame:
    return TextCorpus(t(spark, sf, "documents")).lm_score(hash_fn="portable").orderBy("doc_id")


# --------------------------------------------------------------------------
# q202 — concatenate-and-chunk sequence packing audit. Per source,
# documents are laid head-to-tail in doc_id order and cut into
# CTX-token training sequences; report per source how many sequences
# result, the pad waste of the final partial sequence, and how many
# documents straddle a sequence boundary (the attention-mask /
# cross-contamination cost of packing).
#
# 100 TB shape: one scan computing token counts map-side, one
# source-keyed window (running sum — a single exchange on the source
# key), one dimension-sized aggregate. Only (doc_id, source, n_tok)
# rows move; no text. At real scale one source can dwarf the others —
# the production form sub-shards the stream into (source, shard_id)
# with per-shard offsets so each window partition is bounded; the
# registered form keeps the single-offset-space semantics the oracle
# can mirror exactly.
# --------------------------------------------------------------------------

_CTX = 256


@query(
    "q202_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tok
      FROM documents
    ),
    w AS (
      SELECT source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cume
      FROM d
    ),
    c AS (
      SELECT source, n_tok, cume,
             CASE WHEN n_tok > 0
                  THEN (cume - 1) // {_CTX} - (cume - n_tok) // {_CTX}
                  ELSE 0 END AS crosses
      FROM w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           CAST((sum(n_tok) + {_CTX - 1}) // {_CTX} AS BIGINT) AS n_sequences,
           CAST((sum(n_tok) + {_CTX - 1}) // {_CTX} * {_CTX} - sum(n_tok) AS BIGINT)
             AS pad_tokens,
           CAST(sum(CASE WHEN crosses > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS boundary_docs,
           CAST(sum(crosses) AS BIGINT) AS boundary_crossings
    FROM c GROUP BY 1 ORDER BY 1
    """,
    category="mixing",
    doc="concat-and-chunk packing audit: sequences, pad waste, boundary docs",
)
def q202(spark: SparkSession, sf: str) -> DataFrame:
    return TextCorpus(t(spark, sf, "documents")).pack_sequences(ctx=_CTX).orderBy("source")


# --------------------------------------------------------------------------
# q203 — hashed-unigram importance weighting toward a target slice
# (DSIR-shaped; Xie et al. 2023). Feature space: portable 31-bit word
# hash folded to 4096 buckets (the q167 hashing trick). Train: bucket
# frequency tables for the target slice (lang = 'en') and the
# out-of-target pool. Score: every non-target document by the summed
# per-token linear lean floor(1e6 * (p_target(b) - p_pool(b))); emit
# the 20 most target-like non-target documents.
#
# 100 TB shape: exactly two corpus passes. Pass 1 is ONE combined
# 4096-row count aggregate (map-side partial) carrying both the target
# and pool counts as conditional sums; the totals derive from that
# dimension-sized table for free — computing tc/sc/nt/ns as four
# separate aggregates re-scans (and re-hashes) the token stream four
# extra times (measured 55 s -> 20 s at 500k docs for this
# restructure). Pass 2 re-explodes for scoring with the 4096-row table
# broadcast (map-side join), then a doc-keyed aggregate and a global
# top-k (WindowGroupLimit partial top-k per task). No text moves.
# --------------------------------------------------------------------------

_DSIR_B = 4096
# nt = 0 (no target slice at all) would divide 0.0/0.0, which Spark
# ANSI raises on even for doubles (tests/test_stats_reference.py) —
# NULL lean is the honest readout then. ns >= 1 holds whenever a pool
# row exists, so only the target total needs the guard.
_DSIR_W = (
    "CASE WHEN nt > 0 THEN "
    "CAST(floor(1000000.0 * (CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)"
    " - CAST(cs AS DOUBLE) / CAST(ns AS DOUBLE))) AS BIGINT) "
    "ELSE CAST(NULL AS BIGINT) END"
)


def _q203_oracle() -> str:
    h = duck_h31("w")
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, ({h}) % {_DSIR_B} AS b
      FROM (SELECT doc_id, lang,
                   UNNEST(list_filter(string_split(text, ' '), w -> w <> '')) AS w
            FROM documents)
    ),
    bt AS (
      SELECT b,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
             CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cs
      FROM tok GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cs) AS BIGINT) AS ns FROM bt
    ),
    scored AS (
      SELECT tok.doc_id, tok.lang, {_DSIR_W} AS wm
      FROM tok JOIN bt USING (b) CROSS JOIN tot
      WHERE tok.lang <> 'en'
    )
    SELECT doc_id, lang,
           CAST(count(*) AS BIGINT) AS n_tok,
           CAST(sum(wm) AS BIGINT) AS score_micros
    FROM scored GROUP BY 1, 2
    ORDER BY score_micros DESC, doc_id LIMIT 20
    """


@query(
    "q203_dsir_importance",
    oracle=_q203_oracle(),
    category="mixing",
    doc="DSIR-shaped hashed-unigram importance lean toward a target slice",
)
def q203(spark: SparkSession, sf: str) -> DataFrame:
    h = h31("w")
    tok = (
        t(spark, sf, "documents")
        .select(
            "doc_id",
            "lang",
            F.expr("filter(split(text, ' '), w -> w <> '')").alias("ws"),
        )
        .select(
            "doc_id",
            "lang",
            F.expr(f"transform(ws, w -> ({h}) % {_DSIR_B})").alias("bs"),
        )
        .select("doc_id", "lang", F.explode_outer("bs").alias("b"))
        .filter(F.col("b").isNotNull())
    )
    bt = tok.groupBy("b").agg(
        F.sum(F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END")).alias("ct"),
        F.sum(F.expr("CASE WHEN lang <> 'en' THEN 1 ELSE 0 END")).alias("cs"),
    )
    tot = bt.agg(F.sum("ct").alias("nt"), F.sum("cs").alias("ns"))
    scored = (
        tok.filter(F.col("lang") != "en")
        .join(F.broadcast(bt), "b")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "lang", F.expr(_DSIR_W).alias("wm"))
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tok"), F.sum("wm").alias("score_micros"))
        .orderBy(F.col("score_micros").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q204 — temperature-based source mixing weights (tau = 2): sampling
# weight per source proportional to sqrt(its token mass), the standard
# multilingual up/down-sampling rule; plus the expected epoch count
# each source would run at a 1e9-token training budget. sqrt is
# IEEE-correctly-rounded (portable); the normalizer — the one
# order-sensitive float sum — is folded over a source-sorted array on
# both engines (the q182 ordered-fold pattern).
#
# 100 TB shape: one scan with a map-side partial sum to a
# 20-row-per-source table; everything after is dimension-sized (the
# sorted fold runs over |sources| values on one task; the normalizer
# re-attaches as a 1-row broadcast).
# --------------------------------------------------------------------------

_MIX_BUDGET = 1_000_000_000


@query(
    "q204_temperature_mix",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
                  AS BIGINT) AS tok
      FROM documents GROUP BY 1
    ),
    a AS (
      SELECT CAST(list_reduce(
               list_transform(list(struct_pack(source := source, tok := tok)
                                   ORDER BY source),
                              x -> sqrt(CAST(x.tok AS DOUBLE))),
               (acc, v) -> acc + v) AS DOUBLE) AS tot
      FROM s
    )
    SELECT source, tok,
           CASE WHEN tot > 0 THEN
             CAST(floor(1000000.0 * (sqrt(CAST(tok AS DOUBLE)) / tot)) AS BIGINT)
           ELSE CAST(NULL AS BIGINT) END AS weight_micros,
           CASE WHEN tot > 0 AND tok > 0 THEN
             CAST(floor(1000000.0 * ((sqrt(CAST(tok AS DOUBLE)) / tot)
                * (CAST({_MIX_BUDGET} AS DOUBLE) / CAST(tok AS DOUBLE))))
             AS BIGINT)
           ELSE CAST(NULL AS BIGINT) END AS epochs_micros
    FROM s CROSS JOIN a ORDER BY source
    """,
    category="mixing",
    doc="tau=2 temperature source-mixing weights + expected epochs at budget",
)
def q204(spark: SparkSession, sf: str) -> DataFrame:
    return TextCorpus(t(spark, sf, "documents")).mixture_weights(budget=_MIX_BUDGET).orderBy("source")


# --------------------------------------------------------------------------
# q205 — token-budget curriculum selection: rank documents by the
# exact rational quality score floor(1e6 * distinct-token ratio),
# admit in (score DESC, doc_id) order until half the corpus token mass
# is selected, and report the per-language composition of the
# selection. The running admission sum is an exact bigint fold over a
# unique total order, so the cut is identical on both engines.
#
# 100 TB shape: one scan computing (n_tok, score) map-side; the
# admission order is a global sort over (score, doc_id) — a
# range-partitioned exchange of 24-byte rows (no text). The production
# form replaces the exact global running sum with per-range quantile
# cuts (one pass to histogram scores, one to cut), same selection up to
# the boundary range; the registered form keeps the exact semantics the
# oracle can mirror.
# --------------------------------------------------------------------------

_Q205_SCORE = (
    "CASE WHEN n_tok > 0 THEN CAST(floor(1000000.0 * "
    "(CAST(n_dis AS DOUBLE) / CAST(n_tok AS DOUBLE))) AS BIGINT) "
    "ELSE CAST(0 AS BIGINT) END"
)


@query(
    "q205_token_budget_curriculum",
    oracle=f"""
    WITH d0 AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS ws
      FROM documents
    ),
    d AS (
      SELECT doc_id, lang, len(ws) AS n_tok, len(list_distinct(ws)) AS n_dis
      FROM d0
    ),
    sd AS (SELECT doc_id, lang, n_tok, {_Q205_SCORE} AS score FROM d),
    b AS (SELECT CAST(sum(n_tok) // 2 AS BIGINT) AS budget FROM sd),
    r AS (
      SELECT lang, n_tok, score,
             SUM(n_tok) OVER (ORDER BY score DESC, doc_id
                              ROWS UNBOUNDED PRECEDING) AS running
      FROM sd
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS docs_sel,
           CAST(sum(n_tok) AS BIGINT) AS tokens_sel,
           CAST(min(score) AS BIGINT) AS min_score_sel
    FROM r CROSS JOIN b WHERE running <= budget
    GROUP BY 1 ORDER BY 1
    """,
    category="mixing",
    doc="quality-ranked token-budget selection; per-language composition",
)
def q205(spark: SparkSession, sf: str) -> DataFrame:
    sd = (
        t(spark, sf, "documents")
        .select(
            "doc_id",
            "lang",
            F.expr("filter(split(text, ' '), w -> w <> '')").alias("ws"),
        )
        .select(
            "doc_id",
            "lang",
            F.expr("size(ws)").alias("n_tok"),
            F.expr("size(array_distinct(ws))").alias("n_dis"),
        )
        .select("doc_id", "lang", "n_tok", F.expr(_Q205_SCORE).alias("score"))
    )
    # the budget pass only needs token counts — branching it off the
    # scored frame would recompute array_distinct over the whole corpus
    # a second time for a value the distinct ratio can't affect
    b = (
        t(spark, sf, "documents")
        .select(F.expr("size(filter(split(text, ' '), w -> w <> ''))").alias("n_tok"))
        .agg(F.expr("sum(n_tok) div 2").alias("budget"))
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = sd.select("lang", "n_tok", "score", F.sum("n_tok").over(w).alias("running"))
    return (
        r.crossJoin(F.broadcast(b))
        .filter(F.col("running") <= F.col("budget"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs_sel"),
            F.sum("n_tok").alias("tokens_sel"),
            F.min("score").alias("min_score_sel"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# q206 — exact tie-corrected Mann-Whitney U comparing the n_chars
# distributions of two sources. Ranks are never materialized per row:
# the value domain is aggregated first (count per distinct length per
# group), then average ranks come from the cumulative prior count —
# kept in HALF-UNITS so the rank sum is an exact integer (avg rank of a
# tie run of c values after p priors is p + (c+1)/2; doubled:
# 2p + c + 1). z is built from the exact integers with one shared
# IEEE tree (sqrt is correctly rounded → portable).
#
# 100 TB shape: one scan to value-domain counts (map-side partial,
# domain-sized output), one cumulative window over the distinct-value
# table, one scalar fold. The same shape as q199 (KS).
# --------------------------------------------------------------------------

_MW_VAR = (
    "(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0)"
    " * ((CAST(n1 + n2 AS DOUBLE) + 1.0)"
    " - CAST(tie_term AS DOUBLE)"
    " / (CAST(n1 + n2 AS DOUBLE) * (CAST(n1 + n2 AS DOUBLE) - 1.0)))"
)
# degenerate-design guards (the q158 precedent, caught by the
# adversarial all-ties case in tests/test_stats_reference.py): with
# fewer than 2 pooled observations the variance itself divides by
# zero, and when every value ties across both groups the variance is
# exactly 0 and z divides by zero — NULL is the honest readout, and
# under ANSI mode anything else is a crash.
_MW_VAR_M = (
    f"CASE WHEN n1 + n2 > 1 "
    f"THEN CAST(floor(1000000.0 * ({_MW_VAR})) AS BIGINT) "
    f"ELSE CAST(NULL AS BIGINT) END"
)
_MW_Z = (
    f"CASE WHEN n1 + n2 > 1 AND {_MW_VAR} > CAST(0 AS DOUBLE) "
    "THEN CAST(floor(1000000.0 * ((CAST(u1_x2 AS DOUBLE)"
    " - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    f" / (2.0 * sqrt({_MW_VAR})))) AS BIGINT) "
    "ELSE CAST(NULL AS BIGINT) END"
)


sql_query(
    "q206_mann_whitney",
    f"""
    WITH f AS (
      SELECT n_chars AS v, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS g1
      FROM documents WHERE source IN ('src0', 'src1')
    ),
    vd AS (
      SELECT v, CAST(sum(g1) AS BIGINT) AS c1,
             CAST(sum(1 - g1) AS BIGINT) AS c2
      FROM f GROUP BY 1
    ),
    cw AS (
      SELECT v, c1, c2, c1 + c2 AS cnt,
             COALESCE(SUM(c1 + c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM vd
    ),
    s AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(c1 * (2 * prior + cnt + 1)) AS BIGINT) AS r1_x2,
             CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS tie_term
      FROM cw
    ),
    u AS (SELECT n1, n2, r1_x2 - n1 * (n1 + 1) AS u1_x2, tie_term FROM s)
    SELECT n1, n2, u1_x2, tie_term,
           {_MW_VAR_M} AS var_micros,
           {_MW_Z} AS z_micros
    FROM u
    """,
    category="stats",
    doc="exact tie-corrected Mann-Whitney U over value-domain counts",
)


# --------------------------------------------------------------------------
# q277 — Simpson diversity index (Simpson, Nature 1949) of the language
# mix within each source: the probability two documents drawn without
# replacement from a source differ in language — the DIVERSITY readout
# completing the concentration/mixture family (q210 Gini measures
# inequality of mass, q117 rebalances the mix, q136/q193 measure drift
# BETWEEN mixes; Simpson scores one mix's evenness on an exact 0..1
# scale with no logarithm, where an entropy readout would need one).
# D = 1 - sum_i n_i (n_i - 1) / (N (N - 1)) is an exact integer
# rational: numerator and denominator ride DECIMAL(38,0)/HUGEINT (the
# q239 pattern) and the single readout is one integer division to
# micros. Headroom: the scaled numerator 1e6 * N * (N - 1) is the
# binding term — it passes 38 digits at N ~ 3.2e15 docs per source
# (HUGEINT at ~1.3e16), four orders past a 100 TB corpus (~1e11 docs)
# but NOT unbounded; a larger deployment moves the 1e6 factor after
# the division. Single-doc sources (N <= 1) mirror
# NULL both engines (q258/q268 degenerate convention).
#
# 100 TB shape: one (source, lang) count aggregate (map-side combine,
# catalog-sized output), one source-level rollup. Reference delegates
# analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q277_simpson_diversity",
    oracle="""
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ),
    s AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_langs,
             CAST(SUM(CAST(n AS HUGEINT) * (n - 1)) AS HUGEINT) AS same
      FROM c GROUP BY source
    )
    SELECT source, n_docs, n_langs,
           CAST(CASE WHEN n_docs <= 1 THEN NULL
                ELSE CAST(1000000 AS HUGEINT)
                     * (CAST(n_docs AS HUGEINT) * (n_docs - 1) - same)
                     // (CAST(n_docs AS HUGEINT) * (n_docs - 1)) END
                AS BIGINT) AS simpson_micros
    FROM s ORDER BY source
    """,
    category="mixture",
    doc="Simpson language-diversity per source: exact integer rational, no transcendentals",
)
def q277(spark: SparkSession, sf: str) -> DataFrame:
    c = (
        t(spark, sf, "documents")
        .groupBy("source", "lang")
        .agg(F.count("*").alias("n"))
    )
    s = c.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_langs"),
        F.sum(F.col("n").cast("decimal(38,0)") * (F.col("n") - 1)).alias("same"),
    )
    return s.select(
        "source",
        "n_docs",
        "n_langs",
        F.expr(
            "CAST(CASE WHEN n_docs <= 1 THEN NULL"
            " ELSE CAST(1000000 AS DECIMAL(38,0))"
            " * (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) - same)"
            " div (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)) END"
            " AS BIGINT)"
        ).alias("simpson_micros"),
    ).orderBy("source")
