"""Round-4d retrieval & signals family: BM25 relevance ranking,
k-core graph decomposition, Gopher-style document quality rules, and
integer-exact EWMA drift/anomaly detection.

These finish the retrieval/curation/monitoring surface the earlier
families opened: q135's inverted index + q137's rank fusion get a real
relevance SCORER (BM25, the IR default); the graph family (CC q77,
triangles q120, PageRank q121) gets the density filter (k-core) used
to isolate stable communities in co-occurrence graphs; the Gopher
repetition rules (q145) get the remaining document-level quality gates
from the same published rule set; and the drift family (q136/q140/
q143) gets the classic smoothed-baseline anomaly detector (EWMA).

The reference itself delegates every analytic to Athena (it is a
per-object ETL, /root/reference/src/app.py:97-189); this family keeps
the corpus exactness conventions of queries/base.py:

- BM25 avoids the one non-portable primitive (libm log differs across
  engines) by using the rational idf (N - df + 0.5)/(df + 0.5): every
  op is IEEE +,-,*,/ with an identical evaluation tree on both sides,
  then per-term scores are floored to integer millionths so the final
  reduction is an exact integer sum.
- k-core is an iterative fixpoint with no order-independent SQL twin,
  so it is certified the q121 way: exact graph-level stats the oracle
  recomputes (node/edge counts, k, the degree-bound core cap) plus
  invariant booleans a correct core must satisfy, pinned TRUE by the
  oracle.
- Gopher rules are ratio thresholds expressed as INTEGER
  cross-multiplications (3*n_words <= sum_len, not sum_len/n_words
  >= 3.0) — no division anywhere, bit-exact by construction.
- EWMA runs entirely on bigint cents with the rational smoothing
  alpha=0.3 folded as s' = (3x + 7s) div 10 — the Spark side is a
  sequential higher-order-function fold per series, the oracle is a
  recursive CTE computing the identical integer recurrence.

Scale shapes at 100 TB are documented per query below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cachetrack import tracked_persist
from ..operators.skew import spread_input
from .base import _scaled_sum_sql, query, t

# --------------------------------------------------------------------------
# q148 — BM25 top-k retrieval (Robertson-Spärck Jones weighting,
# k1=1.2, b=0.75) for a fixed conjunctive term set over `documents`.
# idf is the RATIONAL form (no log — see module docstring); per-term
# scores are floored to integer millionths and integer-summed, so the
# per-doc reduction is order-free and the ranking has a total order
# (score desc, doc_id asc).
#
# 100 TB shape: one corpus scan explodes tokens; the term filter
# prunes to |Q| postings lists BEFORE any shuffle (predicate on the
# exploded term, pushed below the tf groupBy); doc lengths aggregate
# map-side; the df/N/avgdl side is a handful of scalar rows broadcast
# onto the postings. No join ever carries document text.
# --------------------------------------------------------------------------

_BM25_TERMS = ("join", "vector", "customer")
_BM25_K = 10
_BM25_TERMS_SQL = "('join', 'vector', 'customer')"

# identical evaluation tree on both sides; tf/dl/df/n all cast to
# double first, constants are the same literals
_BM25_SQL_SCORE = """CAST(floor(1000000.0 * (
  ((CAST(s.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
  * ((CAST(t.tf AS DOUBLE) * 2.2)
     / (CAST(t.tf AS DOUBLE)
        + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                                / (CAST(s.sum_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))))
)) AS BIGINT)"""


@query(
    "q148_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    stats AS (
      SELECT (SELECT count(*) FROM documents) AS n,
             (SELECT count(*) FROM toks) AS sum_dl
    ),
    df AS (
      SELECT w, count(DISTINCT doc_id) AS df FROM toks
      WHERE w IN {_BM25_TERMS_SQL} GROUP BY 1
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf FROM toks
      WHERE w IN {_BM25_TERMS_SQL} GROUP BY 1, 2
    )
    SELECT t.doc_id, CAST(SUM({_BM25_SQL_SCORE}) AS BIGINT) AS score_micros
    FROM tf t
    JOIN dl l ON t.doc_id = l.doc_id
    JOIN df d ON t.w = d.w
    CROSS JOIN stats s
    GROUP BY t.doc_id
    ORDER BY score_micros DESC, t.doc_id
    LIMIT {_BM25_K}
    """,
    category="signals",
)
def q148(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = docs.agg(F.count("*").alias("n")).crossJoin(
        toks.agg(F.count("*").alias("sum_dl"))
    )
    hits = toks.filter(F.col("w").isin(*_BM25_TERMS))
    df = hits.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    tf = hits.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))

    d = lambda c: F.col(c).cast("double")  # noqa: E731
    idf = (d("n") - d("df") + F.lit(0.5)) / (d("df") + F.lit(0.5))
    avgdl = d("sum_dl") / d("n")
    tfn = (d("tf") * F.lit(2.2)) / (
        d("tf") + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * (d("dl") / avgdl))
    )
    per_term = F.floor(F.lit(1000000.0) * (idf * tfn)).cast("bigint")
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "w")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(per_term).alias("score_micros"))
        .orderBy(F.desc("score_micros"), "doc_id")
        .limit(_BM25_K)
    )


# --------------------------------------------------------------------------
# q149 — k-core decomposition (operators/graph.py kcore) of the q120/
# q121 co-engagement graph, with k = min_degree + 1 (data-relative so
# the peel is non-trivial at every sf; exact integer, oracle-
# recomputable). Iterative peeling has no order-independent SQL twin,
# so certification follows q121: the oracle recomputes the exact
# graph-level facts — n_nodes, n_edges, k, and n_deg_ge_k (nodes whose
# GLOBAL degree is >= k: a superset cap on any k-core) — and pins TRUE
# the invariants a correct k-core must satisfy, which the Spark side
# genuinely computes from the peel result:
#   core_min_deg_ok   every core member has >= k neighbors IN the core
#   rejoin_blocked_ok every peeled node has < k neighbors in the core
#                     (no single node can be added back)
#   core_bounded_ok   |core| <= n_deg_ge_k
# The node-level core membership itself is verified against a brute-
# force Python peel in tests/test_operators.py.
#
# 100 TB shape: see operators/graph.py kcore — adjacency shuffled
# once and cache-partitioned, per-round work is a broadcast anti-join
# + partial-aggregated degree count, removed-set lineage truncated per
# round, one scalar collect per round for convergence.
# --------------------------------------------------------------------------


@query(
    "q149_kcore",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, date_trunc('hour', ts) AS grp, user_id FROM events
    ),
    e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM du a JOIN du b
        ON a.event_type = b.event_type AND a.grp = b.grp AND a.user_id < b.user_id
    ),
    deg AS (
      SELECT node, count(*) AS d
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      GROUP BY 1
    ),
    kk AS (SELECT min(d) + 1 AS k FROM deg)
    SELECT (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           kk.k AS k,
           (SELECT count(*) FROM deg, kk WHERE d >= kk.k) AS n_deg_ge_k,
           TRUE AS core_min_deg_ok,
           TRUE AS rejoin_blocked_ok,
           TRUE AS core_bounded_ok
    FROM kk
    """,
    category="signals",
)
def q149(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import kcore

    du = (
        t(spark, sf, "events")
        .select("event_type", F.date_trunc("hour", "ts").alias("grp"), "user_id")
        .distinct()
    )
    a, b = du.alias("a"), du.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.grp") == F.col("b.grp"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
        .transform(tracked_persist)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
        .transform(tracked_persist)
    )
    # k is one scalar (the q121 convergence-count pattern), never data
    k = deg.agg(F.min("d")).collect()[0][0] + 1
    core = kcore(e, k, src="u", dst="v").transform(tracked_persist)

    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    core_nodes = core.select("node")
    # within-core degree of every node (core members AND peeled nodes)
    deg_in_core = (
        sym.join(
            core_nodes.withColumnRenamed("node", "v"), "v", "left_semi"
        )
        .groupBy("u")
        .agg(F.count("*").alias("dc"))
    )
    core_degs = core_nodes.join(
        deg_in_core.withColumnRenamed("u", "node"), "node", "left"
    ).select(F.coalesce("dc", F.lit(0)).alias("dc"))
    peeled_degs = (
        deg.select("node")
        .join(core_nodes, "node", "left_anti")
        .join(deg_in_core.withColumnRenamed("u", "node"), "node", "left")
        .select(F.coalesce("dc", F.lit(0)).alias("dc"))
    )
    checks = (
        core_degs.agg(
            F.coalesce(F.min("dc") >= k, F.lit(True)).alias("core_min_deg_ok"),
            F.count("*").alias("n_core"),
        )
        .crossJoin(
            peeled_degs.agg(
                F.coalesce(F.max("dc") < k, F.lit(True)).alias("rejoin_blocked_ok")
            )
        )
    )
    facts = (
        deg.agg(
            F.count("*").alias("n_nodes"),
            F.sum((F.col("d") >= k).cast("long")).alias("n_deg_ge_k"),
        )
        .crossJoin(e.agg(F.count("*").alias("n_edges")))
    )
    return facts.crossJoin(checks).select(
        "n_nodes",
        "n_edges",
        F.lit(k).cast("long").alias("k"),
        "n_deg_ge_k",
        "core_min_deg_ok",
        "rejoin_blocked_ok",
        (F.col("n_core") <= F.col("n_deg_ge_k")).alias("core_bounded_ok"),
    )


# --------------------------------------------------------------------------
# q150 — Gopher-style document quality gates (the document-LEVEL rules
# from the published set; q145 covers the repetition rules): word
# count bounds, mean word length bounds, single-character-word ratio,
# stopword presence, and top-word dominance, rolled up per source.
# Every ratio threshold is an integer cross-multiplication (e.g. mean
# word length in [2, 8] <=> 2*n_words <= sum_len <= 8*n_words) so the
# whole query is integer/boolean arithmetic — bit-exact, no floats.
#
# 100 TB shape: one token explode -> one groupBy(doc_id) with all
# per-doc stats as partial-aggregated counts (max tf needs the
# (doc,word) pre-count, a second keyed shuffle whose rows are 16-byte
# pairs, never text), then a sources-sized rollup. The same predicates
# run map-side in TextCorpus.gopher_filter for the pipeline facade.
# --------------------------------------------------------------------------

_STOPWORDS_SQL = "('the', 'a')"


@query(
    "q150_gopher_rules",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w <> ''
    ),
    wtf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
    per_doc AS (
      SELECT doc_id, SUM(tf) AS n_words, SUM(tf * length(w)) AS sum_len,
             SUM(CASE WHEN length(w) = 1 THEN tf ELSE 0 END) AS n_one,
             MAX(tf) AS max_tf,
             MAX(CASE WHEN w IN {_STOPWORDS_SQL} THEN 1 ELSE 0 END) AS has_stop
      FROM wtf GROUP BY 1
    ),
    flags AS (
      SELECT d.source,
             COALESCE(p.n_words, 0) BETWEEN 10 AND 1000 AS pass_wc,
             2 * COALESCE(p.n_words, 0) <= COALESCE(p.sum_len, 0)
               AND COALESCE(p.sum_len, 0) <= 8 * COALESCE(p.n_words, 0) AS pass_mwl,
             10 * COALESCE(p.n_one, 0) <= COALESCE(p.n_words, 0) AS pass_one,
             COALESCE(p.has_stop, 0) = 1 AS pass_stop,
             5 * COALESCE(p.max_tf, 0) <= COALESCE(p.n_words, 0) AS pass_rep
      FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    )
    SELECT source, count(*) AS n_docs,
           CAST(SUM(CASE WHEN pass_wc THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_word_count,
           CAST(SUM(CASE WHEN pass_mwl THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_mean_word_len,
           CAST(SUM(CASE WHEN pass_one THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_short_words,
           CAST(SUM(CASE WHEN pass_stop THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_stopwords,
           CAST(SUM(CASE WHEN pass_rep THEN 0 ELSE 1 END) AS BIGINT)
             AS fail_top_word,
           CAST(SUM(CASE WHEN pass_wc AND pass_mwl AND pass_one AND pass_stop
                     AND pass_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_all
    FROM flags GROUP BY source ORDER BY source
    """,
    category="signals",
)
def q150(spark: SparkSession, sf: str) -> DataFrame:
    """Per-doc Gopher gate statistics computed ENTIRELY MAP-SIDE from
    the word array (size / length fold / filter / exists / the sorted
    run-length max-multiplicity fold) — the original explode ->
    groupBy(doc_id, word-TEXT) -> groupBy(doc_id) -> join shape
    shuffled every token's text twice plus a doc-keyed join; this
    plan's only exchange is the |sources|-row rollup. Empty-word docs
    produce all-zero stats, matching the old left-join COALESCE."""

    docs = spread_input(t(spark, sf, "documents"), key="doc_id")

    # Round-11 second pass: the five gate statistics were HOF folds on
    # the interpreted path (~29 s @5M docs); one Arrow map pass
    # computes the identical integers with C-backed Counter/len (both
    # count Unicode code points, like Spark's length()). Empty-word
    # docs still produce all-zero stats.
    def gate_batches(it):
        from collections import Counter

        import pyarrow as pa

        for batch in it:
            srcs = batch.column("source")
            nw, sl, n1, mt, hs = [], [], [], [], []
            for text in batch.column("text").to_pylist():
                ws = [x for x in (text or "").split(" ") if x]
                nw.append(len(ws))
                sl.append(sum(len(x) for x in ws))
                n1.append(sum(1 for x in ws if len(x) == 1))
                mt.append(max(Counter(ws).values()) if ws else 0)
                hs.append(1 if ("the" in ws or "a" in ws) else 0)
            yield pa.RecordBatch.from_arrays(
                [
                    srcs,
                    pa.array(nw, pa.int64()),
                    pa.array(sl, pa.int64()),
                    pa.array(n1, pa.int64()),
                    pa.array(mt, pa.int64()),
                    pa.array(hs, pa.int32()),
                ],
                ["source", "n_words", "sum_len", "n_one", "max_tf", "has_stop"],
            )

    per = docs.select("source", "text").mapInArrow(
        gate_batches,
        "source string, n_words long, sum_len long, n_one long, "
        "max_tf long, has_stop int",
    )
    flags = per.select(
        "source",
        F.col("n_words").between(10, 1000).alias("pass_wc"),
        (
            (F.lit(2) * F.col("n_words") <= F.col("sum_len"))
            & (F.col("sum_len") <= F.lit(8) * F.col("n_words"))
        ).alias("pass_mwl"),
        (F.lit(10) * F.col("n_one") <= F.col("n_words")).alias("pass_one"),
        (F.col("has_stop") == 1).alias("pass_stop"),
        (F.lit(5) * F.col("max_tf") <= F.col("n_words")).alias("pass_rep"),
    )
    fail = lambda c: F.sum(F.when(F.col(c), 0).otherwise(1))  # noqa: E731
    return (
        flags.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            fail("pass_wc").alias("fail_word_count"),
            fail("pass_mwl").alias("fail_mean_word_len"),
            fail("pass_one").alias("fail_short_words"),
            fail("pass_stop").alias("fail_stopwords"),
            fail("pass_rep").alias("fail_top_word"),
            F.sum(
                F.when(
                    F.col("pass_wc")
                    & F.col("pass_mwl")
                    & F.col("pass_one")
                    & F.col("pass_stop")
                    & F.col("pass_rep"),
                    1,
                ).otherwise(0)
            ).alias("n_pass_all"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q151 — EWMA anomaly detection over daily revenue per event type,
# entirely in bigint cents: alpha = 0.3 folded as the integer
# recurrence s_t = (3*x_t + 7*s_{t-1}) div 10, seeded s_1 = x_1. A
# float EWMA is a sequential recurrence (not order-free), so exactness
# comes from integers: the Spark side sorts each series once and folds
# it with a higher-order aggregate (array fold, one pass, map-side
# after the daily rollup); the oracle runs the identical recurrence as
# a recursive CTE. A day is a spike when |x - s_prev| > 25% of s_prev
# (4*|x - prev| > prev, again integer).
#
# 100 TB shape: the daily rollup is the only big shuffle (map-side
# partial exact-cent sums, ~days x types result); the fold then runs
# per series on rows that are already tiny. Series length is bounded
# by the calendar, not the data — the fold's O(len) state is safe at
# any corpus size; for unbounded-key series the same recurrence runs
# in applyInPandasWithState (the q99 shape) instead.
# --------------------------------------------------------------------------


@query(
    "q151_ewma_anomaly",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ),
    ew AS (
      SELECT event_type, day, x, rn, x AS prev, x AS ewma
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.day, s.x, s.rn, e.ewma AS prev,
             (3 * s.x + 7 * e.ewma) // 10 AS ewma
      FROM seq s JOIN ew e ON s.event_type = e.event_type AND s.rn = e.rn + 1
    )
    SELECT event_type, day, x AS x_cents, prev AS ewma_prev, ewma,
           4 * abs(x - prev) > prev AS is_spike
    FROM ew ORDER BY event_type, day
    """,
    category="signals",
)
def q151(spark: SparkSession, sf: str) -> DataFrame:
    daily = (
        t(spark, sf, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.expr(_scaled_sum_sql("value", 2, 500.0))
            .cast("bigint")
            .alias("x")
        )
    )
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs")
    )
    folded = series.select(
        "event_type",
        F.expr(
            """
            aggregate(
              xs,
              cast(array() as array<struct<day:date,x:bigint,prev:bigint,ewma:bigint>>),
              (acc, e) -> array_append(acc, named_struct(
                'day', e.day, 'x', e.x,
                'prev', if(size(acc) = 0, e.x, element_at(acc, -1).ewma),
                'ewma', if(size(acc) = 0, e.x,
                           (3 * e.x + 7 * element_at(acc, -1).ewma) div 10)))
            )
            """
        ).alias("states"),
    )
    st = folded.select("event_type", F.explode("states").alias("s"))
    return st.select(
        "event_type",
        F.col("s.day").alias("day"),
        F.col("s.x").alias("x_cents"),
        F.col("s.prev").alias("ewma_prev"),
        F.col("s.ewma").alias("ewma"),
        (F.lit(4) * F.abs(F.col("s.x") - F.col("s.prev")) > F.col("s.prev")).alias(
            "is_spike"
        ),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# q152 — interval-overlap join (operators/interval.py): which pairs of
# users had OVERLAPPING activity windows on the same day, and for how
# long in total. Per-(user, day) activity intervals [min ts, max ts]
# in integer epoch microseconds, overlap-joined with the banded
# interval join (6-hour bands → ≤5 band rows per interval, pure hash
# equi-join on (day, band), pair-id dedup, exact overlap verify — no
# BroadcastNestedLoopJoin; the generalization of q101's point-
# proximity banding to true interval×interval overlap, the range-join
# class Presto/Athena would plan as a nested loop). Rolled up per day
# (pair count + exact integer overlap sum) so the output is
# calendar-sized while the join itself is fully exercised.
#
# 100 TB shape: see operators/interval.py — shuffle keys are
# (day, band), explode factor is bounded by ceil(span/width)+1,
# payloads never ride a wide distinct (dedup is on pair ids).
# --------------------------------------------------------------------------


@query(
    "q152_interval_overlap",
    oracle="""
    WITH iv AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id,
             min(epoch_us(ts)) AS s, max(epoch_us(ts)) AS e
      FROM events GROUP BY 1, 2
    )
    SELECT a.day AS day, count(*) AS n_pairs,
           CAST(SUM(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
             AS total_overlap_us
    FROM iv a JOIN iv b ON a.day = b.day AND a.user_id < b.user_id
    WHERE a.s <= b.e AND b.s <= a.e
    GROUP BY a.day ORDER BY day
    """,
    category="signals",
)
def q152(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.interval import interval_join

    iv = (
        t(spark, sf, "events")
        .groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
        )
    )
    six_hours_us = 6 * 3600 * 1_000_000
    pairs = interval_join(
        iv,
        iv,
        band_width=six_hours_us,
        id_col="user_id",
        on=["day"],
        start="s",
        end="e",
    ).filter(F.col("user_id_a") < F.col("user_id_b"))
    return (
        pairs.groupBy("day")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
            ).alias("total_overlap_us"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# q153 — time-weighted average (TWAP) of `value` per (event_type, day):
# each event's value holds until the NEXT event of the same type that
# day, weighted by the hold duration in microseconds. The plain AVG is
# wrong whenever sampling is irregular (bursts over-weight themselves);
# TWAP is the standard fix for sensor/price series. Exactness: value in
# bigint cents (half-away-from-zero, the corpus convention), durations
# in integer epoch microseconds, numerator/denominator surfaced as
# exact bigint sums; the double ratio is one IEEE division of the same
# two bigints on both sides. Deterministic lead order via (ts,
# event_id) — event_id is unique, so equal timestamps don't flap.
#
# 100 TB shape: one window pass partitioned by (event_type, day) —
# partitions are calendar-bounded so the per-task sort is bounded by
# per-day density regardless of corpus size (the timeline grows, not
# the day) — then a map-side-combinable groupBy on the SAME keys, which
# reuses the window's hash partitioning (no second exchange). Numerator
# bound: |cents| <= 5e4, dur summed per (type, day) <= 8.64e10 us, so
# the per-group numerator is < 4.3e15 — inside bigint at any factor
# because replication extends the calendar, not the day.
# --------------------------------------------------------------------------


@query(
    "q153_twap",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             epoch_us(ts) AS ts_us, event_id,
             CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT) AS cents
      FROM events
    ),
    w AS (
      SELECT event_type, day, cents,
             lead(ts_us) OVER (PARTITION BY event_type, day
                               ORDER BY ts_us, event_id) - ts_us AS dur
      FROM e
    )
    SELECT event_type, day,
           COUNT(*) AS n_intervals,
           CAST(SUM(cents * dur) AS BIGINT) AS twap_num,
           CAST(SUM(dur) AS BIGINT) AS twap_den,
           CAST(CAST(SUM(cents * dur) AS BIGINT) AS DOUBLE)
             / CAST(CAST(SUM(dur) AS BIGINT) AS DOUBLE) AS twap_cents
    FROM w
    WHERE dur IS NOT NULL AND dur > 0
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
    category="signals",
)
def q153(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    half = F.when(F.col("value") >= 0, F.lit(0.5)).otherwise(F.lit(-0.5))
    e = t(spark, sf, "events").select(
        "event_type",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        (F.col("value") * F.lit(100.0) + half).cast("long").alias("cents"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts_us", "event_id")
    iv = e.select(
        "event_type",
        "day",
        "cents",
        (F.lead("ts_us").over(w) - F.col("ts_us")).alias("dur"),
    ).filter(F.col("dur").isNotNull() & (F.col("dur") > 0))
    num = F.sum(F.col("cents") * F.col("dur")).alias("twap_num")
    den = F.sum("dur").alias("twap_den")
    return (
        iv.groupBy("event_type", "day")
        .agg(
            F.count("*").alias("n_intervals"),
            num,
            den,
            (
                F.sum(F.col("cents") * F.col("dur")).cast("double")
                / F.sum("dur").cast("double")
            ).alias("twap_cents"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# q250 — LTTB series downsampling (Steinarsson 2013, "Largest Triangle
# Three Buckets"), the standard dashboard decimation: reduce the daily
# revenue series (~2400 points) to N_OUT points that preserve visual
# shape — each interior bucket keeps its point of largest triangle
# area against the neighboring buckets. This is the PARALLEL variant
# (anchor = neighbor bucket AVERAGES rather than the previously
# selected point): the sequential dependence is gone so every bucket
# scores its points independently in one window pass — the form a
# distributed engine can run; classic LTTB degrades to it gracefully
# and M4/streaming implementations use the same simplification. First
# and last points are always kept.
#
# Determinism: x = integer epoch-days, y = integer cents (per-order
# floor(price*100), integer-summed). Bucket anchors are Sx/c, Sy/c
# double divisions and the triangle area |(xp-xn)(y-yp)-(xp-x)(yn-yp)|
# is one identical IEEE tree on exact integer inputs; argmax ties
# break on x. Bucket assignment is all-integer: pos 2..n-1 maps to
# 1 + ((pos-2)*(N_OUT-2)) div (n-2).
#
# 100 TB shape: the corpus-sized work is ONE (day)-keyed aggregate;
# everything after operates on the ~|days| series (dimension-sized
# windows and 20-row bucket joins). Reference delegates analytics to
# Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_LTTB_N_OUT = 20


def _q250_oracle() -> str:
    n_out = _LTTB_N_OUT
    return f"""
    WITH series AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pos AS (
      SELECT x, y, row_number() OVER (ORDER BY x) AS p, COUNT(*) OVER () AS n
      FROM series
    ),
    bucketed AS (
      SELECT x, y, p, n,
             CASE WHEN p = 1 THEN 0
                  WHEN p = n THEN {n_out - 1}
                  ELSE 1 + ((p - 2) * {n_out - 2}) // (n - 2) END AS bucket
      FROM pos
    ),
    anchors AS (
      SELECT bucket, CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM bucketed GROUP BY bucket
    ),
    scored AS (
      SELECT b.x, b.y, b.bucket,
             abs( (CAST(ap.sx AS DOUBLE) / ap.c - CAST(an.sx AS DOUBLE) / an.c)
                  * (CAST(b.y AS DOUBLE) - CAST(ap.sy AS DOUBLE) / ap.c)
                - (CAST(ap.sx AS DOUBLE) / ap.c - CAST(b.x AS DOUBLE))
                  * (CAST(an.sy AS DOUBLE) / an.c - CAST(ap.sy AS DOUBLE) / ap.c)
             ) AS area2
      FROM bucketed b
      JOIN anchors ap ON ap.bucket = b.bucket - 1
      JOIN anchors an ON an.bucket = b.bucket + 1
      WHERE b.bucket BETWEEN 1 AND {n_out - 2}
    ),
    picked AS (
      SELECT x, y, bucket,
             row_number() OVER (PARTITION BY bucket ORDER BY area2 DESC, x) AS rk
      FROM scored
    )
    SELECT x AS epoch_day, y AS cents, bucket
    FROM picked WHERE rk = 1 AND (SELECT MAX(n) FROM pos) > {n_out}
    UNION ALL
    SELECT x, y, bucket FROM bucketed
    WHERE bucket IN (0, {n_out - 1}) AND (SELECT MAX(n) FROM pos) > {n_out}
    UNION ALL
    -- base case: n <= N_OUT points means nothing to decimate — LTTB's
    -- contract is the identity (every point, bucket = position - 1)
    SELECT x, y, p - 1 AS bucket FROM pos WHERE (SELECT MAX(n) FROM pos) <= {n_out}
    ORDER BY epoch_day
    """


@query("q250_lttb_downsample", oracle=_q250_oracle(), category="signals")
def q250(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    n_out = _LTTB_N_OUT
    series = (
        t(spark, sf, "orders")
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")).alias("x"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("x")
        .agg(F.sum("cents").alias("y"))
    )
    # |days|-sized frame from here on — the windows are dimension-sized
    wp = Window.orderBy("x")
    pos = series.select(
        "x", "y",
        F.row_number().over(wp).alias("p"),
        F.count("*").over(Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).alias("n"),
    )
    bucketed = pos.withColumn(
        "bucket",
        F.when(F.col("p") == 1, F.lit(0))
        .when(F.col("p") == F.col("n"), F.lit(n_out - 1))
        .otherwise(F.lit(1) + F.expr(f"((p - 2) * {n_out - 2}) div (n - 2)")),
    ).transform(tracked_persist)
    anchors = bucketed.groupBy("bucket").agg(
        F.sum("x").alias("sx"), F.sum("y").alias("sy"), F.count("*").alias("c")
    )
    ap = anchors.select(
        (F.col("bucket") + 1).alias("bucket"),
        F.col("sx").alias("sxp"), F.col("sy").alias("syp"), F.col("c").alias("cp"),
    )
    an = anchors.select(
        (F.col("bucket") - 1).alias("bucket"),
        F.col("sx").alias("sxn"), F.col("sy").alias("syn"), F.col("c").alias("cn"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    xp, yp = d("sxp") / F.col("cp"), d("syp") / F.col("cp")
    xn, yn = d("sxn") / F.col("cn"), d("syn") / F.col("cn")
    area2 = F.abs((xp - xn) * (d("y") - yp) - (xp - d("x")) * (yn - yp))
    scored = (
        bucketed.filter(F.col("bucket").between(1, n_out - 2))
        .join(F.broadcast(ap), "bucket")
        .join(F.broadcast(an), "bucket")
        .withColumn("area2", area2)
    )
    wk = Window.partitionBy("bucket").orderBy(F.col("area2").desc(), "x")
    picked = (
        scored.withColumn("rk", F.row_number().over(wk))
        .filter((F.col("rk") == 1) & (F.col("n") > n_out))
        .select(F.col("x").alias("epoch_day"), F.col("y").alias("cents"), "bucket")
    )
    ends = bucketed.filter(
        F.col("bucket").isin(0, n_out - 1) & (F.col("n") > n_out)
    ).select(F.col("x").alias("epoch_day"), F.col("y").alias("cents"), "bucket")
    # base case: n <= N_OUT is the identity — the anchor joins would
    # otherwise drop interior points whose neighbor buckets are empty
    identity = bucketed.filter(F.col("n") <= n_out).select(
        F.col("x").alias("epoch_day"),
        F.col("y").alias("cents"),
        (F.col("p") - 1).alias("bucket"),
    )
    return picked.unionByName(ends).unionByName(identity).orderBy("epoch_day")


# --------------------------------------------------------------------------
# q252 — SAX symbolic aggregate approximation (Lin, Keogh et al. 2003):
# the daily revenue series z-normalized, piecewise-aggregate-averaged
# into W equal-count segments, each segment quantized into an A-letter
# alphabet by the standard normal breakpoints — the symbolic form that
# makes time-series motif/anomaly mining a string problem (and the
# companion to q187/q195's winnowing on text). Breakpoints for A=4 are
# the +-0.6745/0 normal quartiles, injected as double LITERALS (no
# engine-side quantile function); z-normalization is one identical
# IEEE tree over exact integer cents sums (mean, then a population-
# variance sqrt); segment assignment is all-integer ((p-1)*W div n).
#
# 100 TB shape: ONE day-keyed corpus aggregate, then |days|-sized
# windows and a W-row output. Reference delegates analytics to Athena
# (src/app.py:97-189).
# --------------------------------------------------------------------------

_SAX_W = 64  # segments
_SAX_BREAKS = (-0.6745, 0.0, 0.6745)  # A=4 standard normal breakpoints


def _q252_oracle() -> str:
    b1, b2, b3 = _SAX_BREAKS
    return f"""
    WITH series AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS x,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    stats AS (
      -- y^2 passes 2^63 (daily cents sums squared), so the sum of
      -- squares runs in HUGEINT / DECIMAL(38,0) — the q239 pattern
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s,
             SUM(CAST(y AS HUGEINT) * y) AS ss
      FROM series
    ),
    pos AS (
      SELECT x, y, row_number() OVER (ORDER BY x) AS p FROM series
    ),
    seg AS (
      SELECT ((p - 1) * {_SAX_W}) // stats.n AS seg_id, y, stats.n, stats.s, stats.ss
      FROM pos, stats
    ),
    paa AS (
      SELECT seg_id, CAST(COUNT(*) AS BIGINT) AS n_days,
             MIN(n) AS n, MIN(s) AS s, MIN(ss) AS ss,
             CAST(SUM(y) AS BIGINT) AS seg_sum
      FROM seg GROUP BY seg_id
    ),
    z AS (
      SELECT seg_id, n_days,
             ((CAST(seg_sum AS DOUBLE) / CAST(n_days AS DOUBLE))
              - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
             / sqrt((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE))
                    - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) AS zval
      FROM paa
    )
    SELECT seg_id, n_days,
           CAST(floor(1000000.0 * zval) AS BIGINT) AS z_micros,
           CAST(CASE WHEN zval < {b1} THEN 0
                     WHEN zval < {b2} THEN 1
                     WHEN zval < {b3} THEN 2
                     ELSE 3 END AS BIGINT) AS symbol
    FROM z ORDER BY seg_id
    """


@query("q252_sax_symbolic", oracle=_q252_oracle(), category="signals")
def q252(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    b1, b2, b3 = _SAX_BREAKS
    series = (
        t(spark, sf, "orders")
        .select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("x")
        .agg(F.sum("cents").alias("y"))
    )
    stats = series.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        # y^2 passes 2^63 — exact decimal sum, the q239 pattern
        F.sum(
            F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)")
        ).alias("ss"),
    )
    pos = series.select("x", "y", F.row_number().over(Window.orderBy("x")).alias("p"))
    seg = pos.crossJoin(F.broadcast(stats)).select(
        F.expr(f"((p - 1) * {_SAX_W}) div n").alias("seg_id"), "y", "n", "s", "ss"
    )
    paa = seg.groupBy("seg_id").agg(
        F.count("*").alias("n_days"),
        F.min("n").alias("n"),
        F.min("s").alias("s"),
        F.min("ss").alias("ss"),
        F.sum("y").alias("seg_sum"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mu = d("s") / d("n")
    z = (d("seg_sum") / d("n_days") - mu) / F.sqrt(d("ss") / d("n") - mu * mu)
    return (
        paa.withColumn("zval", z)
        .select(
            "seg_id",
            "n_days",
            F.floor(F.lit(1000000.0) * F.col("zval")).cast("long").alias("z_micros"),
            F.when(F.col("zval") < b1, 0)
            .when(F.col("zval") < b2, 1)
            .when(F.col("zval") < b3, 2)
            .otherwise(3)
            .cast("long")
            .alias("symbol"),
        )
        .orderBy("seg_id")
    )


# --------------------------------------------------------------------------
# q264 — exact autocorrelation function (Box-Jenkins ACF) of the daily
# revenue series at lags 1..14: the identification tool for the
# AR/seasonality structure the forecast family (q212 Holt trend, q213
# day-of-week seasonality) assumes. The estimator
# r_k = sum_{t<=n-k} (y_t - m)(y_{t+k} - m) / sum (y_t - m)^2 is
# computed with NO per-row float: multiplying through by n^2 gives
#   num_k = n^2 C_k - n S (A_k + B_k) + (n-k) S^2
#   den   = n^2 SS - n S^2
# where C_k = sum y_t y_{t+k}, A_k/B_k the overlap partial sums, S/SS
# the series sum and sum of squares — ALL exact integers in
# DECIMAL(38,0)/HUGEINT (n^2 C_k reaches ~1e32 at the 600M scale, the
# q239 overflow pattern), cast once to DOUBLE for the single division,
# floored to micros. Lags are ROW lags on the day-ordered series
# (robust to calendar gaps); the lag join is an EQUI-join — the lag
# offsets explode map-side (k=1..14) so no range/BNLJ join exists.
#
# 100 TB shape: one day-keyed corpus aggregate; everything after runs
# on the ~n_days frame (14 equi-joined copies, dimension-sized).
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_ACF_MAX_LAG = 14


def _q264_oracle() -> str:
    return f"""
    WITH series AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    pos AS (SELECT y, CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS p
            FROM series),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS ss
      FROM pos
    ),
    lagged AS (
      SELECT gs.k, a.y AS ya, b.y AS yb
      FROM pos a
      CROSS JOIN generate_series(1, {_ACF_MAX_LAG}) AS gs(k)
      JOIN pos b ON b.p = a.p + gs.k
    ),
    agg AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(ya AS HUGEINT) * yb) AS HUGEINT) AS c_k,
             CAST(SUM(ya) AS BIGINT) AS a_k,
             CAST(SUM(yb) AS BIGINT) AS b_k
      FROM lagged GROUP BY k
    )
    SELECT CAST(k AS BIGINT) AS lag, n_pairs,
           CAST(floor(1000000.0 * (
             CAST(CAST(n AS HUGEINT) * n * c_k
                  - CAST(n AS HUGEINT) * s * (a_k + b_k)
                  + CAST(n - k AS HUGEINT) * s * s AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * n * ss
                    - CAST(n AS HUGEINT) * s * s AS DOUBLE)
           )) AS BIGINT) AS acf_micros
    FROM agg CROSS JOIN stats
    ORDER BY lag
    """


@query(
    "q264_autocorrelation",
    oracle=_q264_oracle(),
    category="signals",
    doc="Box-Jenkins ACF at lags 1..14 over daily revenue: exact decimal integer algebra, one double division",
)
def q264(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    series = (
        t(spark, sf, "orders")
        .select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).alias("x"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("x")
        .agg(F.sum("cents").alias("y"))
    )
    pos = series.select(
        "y", F.row_number().over(Window.orderBy("x")).cast("long").alias("p")
    ).transform(tracked_persist)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    stats = pos.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("s"),
        F.sum(dec(F.col("y")) * F.col("y")).alias("ss"),
    )
    a = pos.select(
        F.explode(F.expr(f"sequence(CAST(1 AS BIGINT), CAST({_ACF_MAX_LAG} AS BIGINT))")).alias("k"),
        F.col("y").alias("ya"),
        F.col("p").alias("pa"),
    ).withColumn("pk", F.col("pa") + F.col("k"))
    b = pos.select(F.col("p").alias("pk"), F.col("y").alias("yb"))
    agg = (
        a.join(b, "pk")
        .groupBy("k")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(dec(F.col("ya")) * F.col("yb")).alias("c_k"),
            F.sum("ya").alias("a_k"),
            F.sum("yb").alias("b_k"),
        )
    )
    num = (
        dec(F.col("n")) * F.col("n") * F.col("c_k")
        - dec(F.col("n")) * F.col("s") * (F.col("a_k") + F.col("b_k"))
        + dec(F.col("n") - F.col("k")) * F.col("s") * F.col("s")
    )
    den = dec(F.col("n")) * F.col("n") * F.col("ss") - dec(F.col("n")) * F.col(
        "s"
    ) * F.col("s")
    return (
        agg.crossJoin(F.broadcast(stats))
        .select(
            F.col("k").alias("lag"),
            "n_pairs",
            F.floor(F.lit(1000000.0) * (num.cast("double") / den.cast("double")))
            .cast("long")
            .alias("acf_micros"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# q267 — classical additive seasonal decomposition (the moving-average
# method, Kendall & Stuart): daily revenue = trend + weekly seasonal +
# remainder. Trend is the centered 7-day moving average (full windows
# only); the seasonal component is the day-of-week mean of the
# detrended series. Completes the series toolkit: q212 models trend,
# q213 tests day-of-week effects, q264 identifies lags — this one
# EXTRACTS the components. Exactness: the detrended value y_t -
# sum7_t/7 is carried as the INTEGER numerator 7*y_t - sum7_t; the
# per-dow mean divides once in DOUBLE and floors to micros (floor, not
# integer div: the numerator is signed and truncation is not floor).
# Day-of-week is day-index % 7 — pure arithmetic, no engine calendar.
#
# 100 TB shape: one day-keyed corpus aggregate; the moving-average
# window and the 7-row dow rollup run on the ~n_days frame.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q267_seasonal_decompose",
    oracle="""
    WITH series AS (
      SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                  AS BIGINT) AS x,
             CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    win AS (
      SELECT x, y,
             CAST(SUM(y) OVER (ORDER BY x ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS sum7,
             CAST(COUNT(*) OVER (ORDER BY x ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                  AS BIGINT) AS w7
      FROM series
    ),
    det AS (
      SELECT x % 7 AS dow, 7 * y - sum7 AS num7
      FROM win WHERE w7 = 7
    )
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(floor(1000000.0 * (CAST(SUM(num7) AS DOUBLE)
                / (7.0 * CAST(COUNT(*) AS DOUBLE)))) AS BIGINT)
             AS seasonal_micros
    FROM det GROUP BY dow ORDER BY dow
    """,
    category="signals",
    doc="additive decomposition: centered-7 moving-average trend, day-of-week seasonal in exact-numerator micros",
)
def q267(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    series = (
        t(spark, sf, "orders")
        .select(
            F.datediff(
                F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
            ).cast("long").alias("x"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("x")
        .agg(F.sum("cents").alias("y"))
    )
    w = Window.orderBy("x").rowsBetween(-3, 3)
    win = series.select(
        "x", "y", F.sum("y").over(w).alias("sum7"), F.count("*").over(w).alias("w7")
    )
    det = win.filter(F.col("w7") == 7).select(
        (F.col("x") % 7).alias("dow"),
        (F.lit(7) * F.col("y") - F.col("sum7")).alias("num7"),
    )
    return (
        det.groupBy("dow")
        .agg(
            F.count("*").alias("n_days"),
            F.floor(
                F.lit(1000000.0)
                * (
                    F.sum("num7").cast("double")
                    / (F.lit(7.0) * F.count("*").cast("double"))
                )
            )
            .cast("long")
            .alias("seasonal_micros"),
        )
        .orderBy("dow")
    )
