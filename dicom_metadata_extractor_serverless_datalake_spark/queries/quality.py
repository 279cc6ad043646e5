"""Round-6 corpus-quality & statistics family: winnowing fingerprints,
duplicated-span coverage, independence/shape audits, autocorrelation,
link prediction, quantile normalization, and Hellinger drift.

These close the remaining "is my training corpus any good?" readouts on
top of the dedup (q50-q53, q128, q134, q146), decontamination (q82,
q139, q144), and drift (q136, q140, q143) families:

- q187 is the MOSS/winnowing fingerprint selection (Schleimer et al.,
  SIGMOD'03) — the span-level dedup key the shingle families (q52/q58)
  approximate document-wide;
- q194 is the Lee-et-al duplicated-span coverage metric ("Deduplicating
  Training Data Makes Language Models Better"): the fraction of each
  document's tokens covered by cross-document duplicated 5-grams, via
  an exact interval-union (gaps-and-islands) per document;
- q188/q191 are the two classic count-shape audits (chi-squared
  independence of corpus facets; Benford leading-digit conformance of a
  value column) a data-quality gate runs before training;
- q189/q193 extend the monitoring family with exact lag-k
  autocorrelation and Hellinger distance between period slices;
- q190 is resource-allocation link prediction (Zhou et al. 2009) over
  the user-behavior bipartite graph — the rational-arithmetic sibling
  of Adamic-Adar (which needs log and is not portable bit-exactly);
- q192 is quantile normalization across sources — the rank-matching
  map used to equalize per-source length/score distributions before
  mixing (q117's mixture weights act on what q192 normalizes).

The reference delegates all analytics to Athena (it is a per-object
ETL, /root/reference/src/app.py:97-189); this family follows the
corpus exactness conventions of queries/base.py:

- no libm transcendentals: chi-squared / RA / coverage terms are pure
  IEEE +,-,*,/ with identical evaluation trees on both sides; Benford
  probabilities are integer-mantissa power-of-two literals (the q184
  `_dlit` pattern — decimal literals are NOT parse-stable across
  engines); Hellinger uses sqrt, which IEEE 754 requires to be
  correctly rounded, so it is portable;
- every float reduction is avoided: per-cell / per-term doubles are
  floored to integer micros FIRST and then integer-summed, so the
  reduction is associative and order-free;
- money goes through the corpus cents cast
  (`CAST(CAST(value AS DECIMAL(28,2)) * 100 AS BIGINT)`,
  half-away-from-zero in both engines);
- winnowing runs on the shared portable 31-bit md5 hash (operators/dedup.h31
  / llm.duck_h31), so both engines select identical fingerprints.

Scale shapes at 100 TB are documented per query below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..eventlog import _ACF_EXPR, EventLog, _cents_sum
from ..operators.ann import _dlit
from ..operators.dedup import h31
from ..operators.skew import spread_input
from ..pipeline import (
    _BOOT_R,
    TextCorpus,
    _boot_k_sql,
    bootstrap_ci_tail,
    bootstrap_rep_frame,
    chao1_frame,
)
from .base import query, sql_query, t
from .llm import MERSENNE_P, duck_h31

# --------------------------------------------------------------------------
# q187 — winnowing fingerprint selection (MOSS): hash every word
# 4-gram, then keep the minimum hash of every sliding window of 4
# consecutive gram hashes. Guarantees: any shared run of >= 7 tokens
# between two documents shares at least one selected fingerprint.
# Tie-break inside a window is rightmost-minimum, encoded arithmetically
# as min over k_i = h_i * 2^20 + (2^20 - 1 - i) so both engines select
# the identical position set with no argmin/arg_max dependence.
#
# The output certifies the full per-document selection set without
# nested columns: count, integer checksum (exact bigint sum of the
# selected hashes), min and max.
#
# 100 TB shape: the ENTIRE computation is array-land per document
# (split -> gram hashes -> window minima -> distinct -> fold), i.e.
# map-side whole-stage codegen with ZERO shuffles and no exchange ever
# carrying text. Envelope: positions < 2^20 grams/doc (1M tokens); the
# k-encoding stays under 2^51 and the checksum under 2^51 for 1M-token
# documents. Larger docs chunk upstream (q73).
# --------------------------------------------------------------------------

_WIN_W = 4  # window size (in grams)
_WIN_K = 4  # gram width (in tokens)
_POS_M = 1 << 20


def _winnow_oracle() -> str:
    h = duck_h31("array_to_string(list_slice(ws, i, i+3), ' ')")
    return f"""
    WITH arr AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                 FROM documents),
    gr AS (SELECT doc_id,
                  CASE WHEN len(ws) >= {_WIN_K}
                       THEN list_transform(generate_series(1, len(ws) - {_WIN_K - 1}),
                                           i -> {h})
                       ELSE [] END AS hs
           FROM arr),
    kk AS (SELECT doc_id, hs,
                  list_transform(generate_series(1, len(hs)),
                                 i -> hs[i] * {_POS_M} + ({_POS_M - 1} - i)) AS ks
           FROM gr),
    sel AS (SELECT doc_id, len(hs) AS n_kgrams,
                   list_distinct(list_transform(generate_series({_WIN_W}, len(hs)),
                                 j -> list_min(list_slice(ks, j - {_WIN_W - 1}, j)))) AS sk
            FROM kk)
    SELECT doc_id, n_kgrams, len(sk) AS n_selected,
           CAST(list_sum(list_transform(sk, k -> k // {_POS_M})) AS BIGINT) AS fp_checksum,
           list_min(list_transform(sk, k -> k // {_POS_M})) AS fp_min,
           list_max(list_transform(sk, k -> k // {_POS_M})) AS fp_max
    FROM sel ORDER BY doc_id
    """


def winnow_summary(docs: DataFrame) -> DataFrame:
    """Per-document winnowing selection summary over a (doc_id, text)
    frame — the q187 computation, one Arrow map pass.

    The original form built the hs -> ks -> sk chain with SQL
    higher-order functions; HOFs are CodegenFallback in Spark 3.5/4.x,
    so every gram paid an INTERPRETED md5+conv plus three interpreted
    array materializations — measured ~43 us/gram-equivalent (349 s
    for ~260M grams on 32 cores @5M docs). This pass hands whole Arrow
    batches to CPython, where the same arithmetic runs against
    hashlib's C md5 at ~1.8 us/gram single-core (optimization guide
    §4.2: let Spark do distribution and I/O, do bulk per-row work in
    native code). Still map-side, still zero shuffles, no text ever
    crosses an exchange; only (doc_id, text) crosses the Python
    boundary (§4.1 column pruning).

    Arithmetic is bit-identical to the DuckDB oracle: gram hash =
    first 4 bytes of md5 big-endian mod 2^31-1; tie-break k-encoding
    h*2^20 + (2^20-1-i) with 1-based i; windows of {_WIN_W} gram
    hashes; checksum/min/max over the distinct window minima's hash
    parts."""

    def batches(it):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        p, pos_m, k, w = MERSENNE_P, _POS_M, _WIN_K, _WIN_W
        # Per-TASK gram-digest memo (guide §4.5, the q53 token-memo
        # pattern): the Zipf corpus repeats 4-grams heavily (measured
        # 1.9% distinct at 5M docs), so the md5 chain runs once per
        # distinct gram and a dict hit replaces it everywhere else.
        # Bounded so adversarial high-entropy corpora cannot grow it
        # without limit.
        memo: dict = {}
        memo_get = memo.get

        # NOTE (round 12, measured): a fully batch-flattened variant
        # (one concatenated gram/window array per Arrow batch, np.unique
        # replaced by one lexsort + reduceat) measured 2.5x SLOWER than
        # this per-doc form on the bench host (30.4 s vs 12.0 s for the
        # identical 100k-doc workload) — its 5M-element array passes
        # stream through DRAM while ~50-element per-doc arrays stay in
        # L1/L2, and this host's DRAM bandwidth is the scarce resource.
        # The wins kept below are per-doc: pure-Python word offsets
        # (np.fromiter + cumsum cost more than a 50-iteration loop),
        # shifted-slice window minima (sliding_window_view pays ~30 us
        # of per-CALL Python overhead), and a listcomp-free md5 loop —
        # measured 2.1x on the pass (15.1 -> 7.2 s per 100k docs core).
        for batch in it:
            ids = batch.column("doc_id")
            nk, ns, ck, mn, mx = [], [], [], [], []
            for text in batch.column("text").to_pylist():
                # Encode each word ONCE and hash byte-SLICES of the
                # single-space-joined blob: gram i's md5 input is
                # blob[start_i : end_{i+k-1}], byte-identical to
                # " ".join(ws[i:i+k]).encode() but without the per-gram
                # join + encode allocations. Everything after the md5
                # loop (k-encoding, sliding-window minima, distinct,
                # checksum/min/max) is vectorized numpy.
                wbs = [t_.encode() for t_ in (text or "").split(" ") if t_]
                nw = len(wbs)
                m = nw - (k - 1)
                if m <= 0:
                    nk.append(0)
                    ns.append(0)
                    ck.append(0)
                    mn.append(None)
                    mx.append(None)
                    continue
                blob = b" ".join(wbs)
                starts: list = []
                ends: list = []
                sa = starts.append
                ea = ends.append
                pos = 0
                for b in wbs:
                    sa(pos)
                    pos += len(b)
                    ea(pos)
                    pos += 1
                hs_l: list = []
                ap = hs_l.append
                for s, e in zip(starts, ends[k - 1 :]):
                    b = blob[s:e]
                    v = memo_get(b)
                    if v is None:
                        v = int.from_bytes(md5(b).digest()[:4], "big") % p
                        if len(memo) > 2_000_000:
                            memo.clear()
                        memo[b] = v
                    ap(v)
                nk.append(m)
                if m < w:
                    ns.append(0)
                    ck.append(0)
                    mn.append(None)
                    mx.append(None)
                    continue
                hs = np.array(hs_l, np.int64)
                ks = hs * pos_m + (pos_m - 2 - np.arange(m, dtype=np.int64))
                # window minima as w-1 shifted in-place np.minimum
                # passes over the small per-doc array
                wm = ks[: m - w + 1].copy()
                for d in range(1, w):
                    np.minimum(wm, ks[d : m - w + 1 + d], out=wm)
                # sel is distinct over the k-ENCODING (hash, position):
                # the checksum must count a hash value once per distinct
                # selected k, exactly like aggregate(sk, ...) over
                # array_distinct in the SQL form.
                sel = np.unique(wm)
                hv = sel // pos_m
                ns.append(len(sel))
                ck.append(int(hv.sum()))
                mn.append(int(hv[0]))
                mx.append(int(hv[-1]))
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(nk, pa.int32()),
                    pa.array(ns, pa.int32()),
                    pa.array(ck, pa.int64()),
                    pa.array(mn, pa.int64()),
                    pa.array(mx, pa.int64()),
                ],
                ["doc_id", "n_kgrams", "n_selected", "fp_checksum", "fp_min", "fp_max"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        batches,
        "doc_id long, n_kgrams int, n_selected int, "
        "fp_checksum long, fp_min long, fp_max long",
    )


@query(
    "q187_winnowing",
    oracle=_winnow_oracle(),
    category="text",
    doc="MOSS winnowing fingerprint selection, fully map-side",
)
def q187(spark: SparkSession, sf: str) -> DataFrame:

    # The final orderBy's RangePartitioning needs bounds, and the bounds
    # sampler EXECUTES the child — so an unmaterialized child runs the
    # whole scan+spread+Arrow pass twice (once for the sample job, once
    # for the sort's map stage); the per-task gram memo does not amortize
    # the per-doc work that dominates the pass. A LAZY localCheckpoint
    # materializes the O(docs)-row, 6-numeric-column summary once (~48
    # bytes/row) and both the sampler and the sort read the checkpointed
    # blocks (guide §3.3/§5: materialize to truncate re-execution).
    # Measured @5M docs, same JVM, checkpoint variant FIRST: 24.8/17.0 s
    # vs 33.5/33.8 s current; earlier fresh-JVM runs 54.2/41.0 current.
    # Lazy (not eager): plan-only consumers (explain/plan audits) pay
    # nothing at construction. Standard checkpoint caveats apply: lineage
    # is truncated, so executor loss after materialization cannot be
    # recovered by recompute (operators/cluster.py contract), and the
    # formatted plan shows the checkpoint scan, not the MapInArrow
    # subtree: at sf0.01 it reads Scan ExistingRDD -> Exchange
    # rangepartitioning(doc_id) -> Sort, while the checkpointed subtree
    # is Scan parquet -> Exchange hashpartitioning(doc_id) -> MapInArrow.
    # NOTE (measured r11, superseded): a repartition("doc_id") barrier
    # measured SLOWER (68.9 s vs 53.2 s @5M) — it adds a 5M-row exchange
    # and the sampler then re-executes the exchange read, not nothing.
    return (
        winnow_summary(spread_input(t(spark, sf, "documents"), key="doc_id"))
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q188 — chi-squared independence audit of two corpus facets
# (lang x source on `documents`): is language mix homogeneous across
# sources, or does some source skew the mixture? The full contingency
# table INCLUDES zero cells (absent combos contribute (0-e)^2/e), built
# as the cross product of the observed margins. Per-cell terms are pure
# rational IEEE arithmetic floored to micros; the per-lang statistic is
# then an exact integer sum.
#
# 100 TB shape: two tiny aggregations (margins) + one facet groupBy,
# all map-side partial; the cross product is |langs| x |sources| rows
# (dimension-sized, broadcast). One data-sized scan, one keyed shuffle
# on the facet pair. No text ever moves.
# --------------------------------------------------------------------------

_CHI_TERM = (
    "CAST(floor(1000000.0 * ((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e))"
    " AS BIGINT)"
)
_CHI_E = "CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE)"


sql_query(
    "q188_chisq_independence",
    f"""
    WITH o AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
    rm AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
    cm AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM documents),
    cell AS (
      SELECT rm.lang, rm.r, cm.c, nn.n, COALESCE(o.o, 0) AS o,
             {_CHI_E} AS e
      FROM rm CROSS JOIN cm CROSS JOIN nn
      LEFT JOIN o ON o.lang = rm.lang AND o.source = cm.source
    )
    SELECT lang, CAST(MAX(r) AS BIGINT) AS n_lang,
           CAST(SUM({_CHI_TERM}) AS BIGINT) AS chi2_micros
    FROM cell GROUP BY lang ORDER BY lang
    """,
    category="analytics",
    doc="chi-squared independence of lang x source with zero cells",
)


# --------------------------------------------------------------------------
# q189 — exact lag-k autocorrelation (k = 1..3) of the daily event
# value series. Daily totals go through the corpus cents cast and are
# truncated to integer DOLLARS, so every moment (s1, s2, sxy_k and the
# head/tail partial sums) is an exact bigint; the ACF itself is then a
# single shared-tree double expression over those integers:
#
#   r_k = (sxy - mu*(sh + st) + (n-k)*mu^2) / (s2 - 2*mu*s1 + n*mu^2)
#
# floored to micros. mu = s1/n is computed once per side from the same
# integers, so both engines evaluate the identical IEEE tree.
#
# 100 TB shape: the heavy work is the per-day aggregation (map-side
# partial, one shuffle on day); the series itself is calendar-sized
# (one row per day), so the lead()-window and the moment sums are
# dimension-scale. Envelope: daily dollars < 3e9 keeps sxy sums exact
# for a century of days (3e9^2 * 4e4 < 2^63 fails — concretely,
# |x_day| <= 4.8e8 dollars holds sum(x*x) < 9.2e18 over 40k days).
# --------------------------------------------------------------------------

@query(
    "q189_autocorrelation",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             {_cents_sum("value")} // 100 AS x
      FROM events GROUP BY 1
    ),
    ord AS (
      SELECT x,
             lead(x, 1) OVER (ORDER BY day) AS x1,
             lead(x, 2) OVER (ORDER BY day) AS x2,
             lead(x, 3) OVER (ORDER BY day) AS x3
      FROM daily
    ),
    stats AS (
      SELECT count(*) AS n, CAST(SUM(x) AS BIGINT) AS s1,
             CAST(SUM(x * x) AS BIGINT) AS s2,
             CAST(SUM(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mu
      FROM daily
    ),
    lagk AS (
      SELECT 1 AS lag, CAST(SUM(x * x1) AS BIGINT) AS sxy,
             CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x END) AS BIGINT) AS sh,
             CAST(SUM(x1) AS BIGINT) AS st FROM ord
      UNION ALL
      SELECT 2, CAST(SUM(x * x2) AS BIGINT),
             CAST(SUM(CASE WHEN x2 IS NOT NULL THEN x END) AS BIGINT),
             CAST(SUM(x2) AS BIGINT) FROM ord
      UNION ALL
      SELECT 3, CAST(SUM(x * x3) AS BIGINT),
             CAST(SUM(CASE WHEN x3 IS NOT NULL THEN x END) AS BIGINT),
             CAST(SUM(x3) AS BIGINT) FROM ord
    )
    SELECT lag, CAST(n AS BIGINT) AS n_days, {_ACF_EXPR} AS acf_micros
    FROM lagk CROSS JOIN stats ORDER BY lag
    """,
    category="analytics",
    doc="exact lag-1..3 autocorrelation of daily value totals",
)
def q189(spark: SparkSession, sf: str) -> DataFrame:
    return EventLog(t(spark, sf, "events")).autocorrelation(lags=(1, 2, 3))


# --------------------------------------------------------------------------
# q190 — resource-allocation link prediction over the user/event-type
# bipartite graph (Zhou et al. 2009): for each pair of event types,
# RA = sum over common users u of 1/deg(u), where deg(u) is the number
# of distinct event types u performs. RA is the rational sibling of
# Adamic-Adar (1/log deg — not bit-portable); per-user terms are
# floored to micros and integer-summed.
#
# 100 TB shape: the distinct (user, type) projection is the only
# data-sized pass (map-side partial distinct, one shuffle on user);
# per-user type sets are catalog-sized (<= |types|), so the pair
# expansion is bounded by |types|^2 per user and the final groupBy is
# dimension-scale. No skew: deg is capped by the type-catalog size.
# --------------------------------------------------------------------------

_RA_TERM = "CAST(floor(1000000.0 / CAST(deg AS DOUBLE)) AS BIGINT)"


sql_query(
    "q190_link_prediction",
    f"""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    deg AS (SELECT user_id, count(*) AS deg FROM ut GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, a.user_id
      FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    )
    SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS common_users,
           CAST(SUM({_RA_TERM}) AS BIGINT) AS ra_micros
    FROM pairs p JOIN deg d ON p.user_id = d.user_id
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    category="mining",
    doc="resource-allocation index between event types via common users",
)


# --------------------------------------------------------------------------
# q191 — Benford leading-digit conformance audit of l_extendedprice:
# the classic synthetic-/corrupted-data smell test. Observed counts per
# first significant digit against the Benford expectation
# P(d) = log10(1 + 1/d), embedded as integer-mantissa power-of-two
# literals (the q184 pattern) so neither engine evaluates a log.
# All nine digits are emitted (zero-count digits included in the
# chi-squared term).
#
# 100 TB shape: one map-side digit extraction + a 9-group aggregate —
# pure partial-agg, one 9-row shuffle. Dimension cross join is 9 rows.
# --------------------------------------------------------------------------

import math as _math

_BENFORD_P = [_math.log10(1.0 + 1.0 / d) for d in range(1, 10)]

_BENFORD_TERM = (
    "CAST(floor(1000000.0 * ((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e))"
    " AS BIGINT)"
)
# integer-exact digit extraction — the string type is spelled per
# engine (Spark: STRING, DuckDB: VARCHAR); no float leaves the cast
def _first_digit(str_type: str) -> str:
    return (
        f"CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)"
        f" AS {str_type}), 1, 1) AS INT)"
    )


def _benford_oracle() -> str:
    p_lit = "[" + ", ".join(_dlit(p, "pow") for p in _BENFORD_P) + "]"
    return f"""
    WITH obs AS (
      SELECT {_first_digit("VARCHAR")} AS digit, count(*) AS o
      FROM lineitem GROUP BY 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
    dim AS (SELECT unnest(generate_series(1, 9)) AS digit),
    cell AS (
      SELECT dim.digit, COALESCE(obs.o, 0) AS o, nn.n,
             CAST(nn.n AS DOUBLE) * ({p_lit})[dim.digit] AS e
      FROM dim CROSS JOIN nn LEFT JOIN obs ON obs.digit = dim.digit
    )
    SELECT digit, CAST(o AS BIGINT) AS n_obs,
           CAST(floor(1000000.0 * e) AS BIGINT) AS expected_micros,
           {_BENFORD_TERM} AS chi2_term_micros
    FROM cell ORDER BY digit
    """


@query(
    "q191_benford_audit",
    oracle=_benford_oracle(),
    category="analytics",
    doc="Benford first-digit conformance of l_extendedprice",
)
def q191(spark: SparkSession, sf: str) -> DataFrame:
    p_lit = "array(" + ", ".join(_dlit(p, "power") for p in _BENFORD_P) + ")"
    li = t(spark, sf, "lineitem")
    obs = li.groupBy(F.expr(_first_digit("STRING")).alias("digit")).agg(
        F.count("*").alias("o")
    )
    nn = li.agg(F.count("*").cast("long").alias("n"))
    dim = spark_range_digits(spark)
    cell = (
        dim.crossJoin(F.broadcast(nn))
        .join(F.broadcast(obs), "digit", "left")
        .select(
            "digit",
            F.coalesce("o", F.lit(0)).alias("o"),
            F.expr(f"CAST(n AS DOUBLE) * element_at({p_lit}, digit)").alias("e"),
        )
    )
    return cell.select(
        "digit",
        F.col("o").cast("long").alias("n_obs"),
        F.expr("CAST(floor(1000000.0 * e) AS BIGINT)").alias("expected_micros"),
        F.expr(_BENFORD_TERM).alias("chi2_term_micros"),
    ).orderBy("digit")


def spark_range_digits(spark: SparkSession) -> DataFrame:
    return spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))


# --------------------------------------------------------------------------
# q192 — quantile normalization across sources: rank documents by
# (n_chars, doc_id) within each source, then map every rank to the
# cross-source mean at that rank. The emitted table IS the
# normalization map (rank -> mean) plus the exact integer sums backing
# it; applying it is a rank-equi-join back onto the corpus.
#
# 100 TB shape: one shuffle to rank within source (sort-based window,
# no text carried — only (source, n_chars, doc_id)), one rank-keyed
# aggregate. Rank cardinality = max docs/source; the map is
# dimension-sized relative to the corpus.
# --------------------------------------------------------------------------


sql_query(
    "q192_quantile_norm",
    """
    WITH r AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk
      FROM documents
    )
    SELECT rk, CAST(count(*) AS BIGINT) AS n_sources,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(floor(1000000.0 * CAST(SUM(n_chars) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) AS BIGINT) AS mean_chars_micros
    FROM r GROUP BY rk ORDER BY rk
    """,
    category="prep",
    doc="quantile-normalization map of n_chars across sources",
)


# --------------------------------------------------------------------------
# q193 — Hellinger drift between period slices: the event_type
# distribution of the first half of the month (day <= 15) vs the rest.
# Per-type term (sqrt(p) - sqrt(q))^2 — sqrt is IEEE-correctly-rounded,
# hence bit-portable (unlike log/exp); p and q are single divisions of
# exact counts. Terms floor to micros; H^2 = sum(term)/2 is derivable
# from the emitted rows. Complements total-variation drift (q136/q143)
# with the metric that upper-bounds it.
#
# 100 TB shape: one scan, two conditional map-side count aggregates
# keyed by type (catalog-sized output), a type-dimension join. No
# data-sized shuffle beyond the one keyed count.
# --------------------------------------------------------------------------

_HELL_TERM = (
    "CAST(floor(1000000.0 * "
    "((sqrt(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - sqrt(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
    " * (sqrt(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) - sqrt(CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE)))))"
    " AS BIGINT)"
)


sql_query(
    "q193_hellinger_drift",
    f"""
    WITH c AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN EXTRACT(DAY FROM ts) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN EXTRACT(DAY FROM ts) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM events GROUP BY 1
    ),
    nn AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM c)
    SELECT event_type, c1, c2, {_HELL_TERM} AS hellinger_term_micros
    FROM c CROSS JOIN nn ORDER BY event_type
    """,
    category="analytics",
    doc="Hellinger distance terms between month halves per event type",
)


# --------------------------------------------------------------------------
# q194 — duplicated-span coverage (Lee et al., "Deduplicating Training
# Data Makes Language Models Better"): for every document, the fraction
# of its token positions covered by word 5-grams that also occur in at
# least one OTHER document. Occurrences of cross-document-duplicated
# grams become intervals [i, i+4] over token positions; per-document
# coverage is their exact interval union via gaps-and-islands (running
# max of interval end over the start-ordered occurrence list).
#
# 100 TB shape: grams are hashed in array-land BEFORE any exchange (no
# shuffle ever carries text — only (doc_id, position, hash)); dup-gram
# detection is one hash-keyed aggregate; occurrence filtering is a
# semi-join on the hash; the interval union is a per-doc sort-window.
# Boilerplate skew (one gram in millions of docs) is bounded upstream
# by the q80-style frequency cap when used as a pipeline stage; the
# corpus form keeps every occurrence because coverage needs them all.
# --------------------------------------------------------------------------

_SPAN_K = 5  # gram width (tokens)


def _dupspan_oracle() -> str:
    h = duck_h31(f"array_to_string(list_slice(ws, i, i+{_SPAN_K - 1}), ' ')")
    return f"""
    WITH arr AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
                 FROM documents),
    tok AS (SELECT doc_id, len(ws) AS n_tokens, ws FROM arr),
    g AS (
      SELECT doc_id, i, {h} AS gh
      FROM tok, unnest(generate_series(1, greatest(len(ws) - {_SPAN_K - 1}, 0))) AS u(i)
    ),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
    occ AS (SELECT g.doc_id, g.i AS s, g.i + {_SPAN_K - 1} AS e FROM g JOIN dup USING (gh)),
    w AS (
      SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
      FROM occ
    ),
    cov AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN pe IS NULL OR pe < s THEN e - s + 1
                           WHEN e > pe THEN e - pe ELSE 0 END) AS BIGINT) AS covered
      FROM w GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
           COALESCE(c.covered, 0) AS covered_tokens,
           CAST(floor(1000000.0 * CAST(COALESCE(c.covered, 0) AS DOUBLE)
                      / CAST(t.n_tokens AS DOUBLE)) AS BIGINT) AS dup_frac_micros
    FROM tok t LEFT JOIN cov c USING (doc_id) ORDER BY t.doc_id
    """


@query(
    "q194_dup_span_coverage",
    oracle=_dupspan_oracle(),
    category="dedup",
    doc="per-doc token coverage by cross-document duplicated 5-grams",
)
def q194(spark: SparkSession, sf: str) -> DataFrame:
    return TextCorpus(t(spark, sf, "documents")).dup_span_coverage(k=_SPAN_K).orderBy("doc_id")


# --------------------------------------------------------------------------
# q195 — winnowing span-match pairs: the APPLICATION of q187's
# fingerprints. Documents sharing >= 5 selected fingerprints (each a
# window-minimum 4-gram hash) are span-level near-dup candidates —
# the plagiarism/copy-detection readout MinHash (whole-document
# similarity) misses for partial copies. Fingerprints occurring in
# > 10 documents are boilerplate and excluded before pairing (the
# q80-style frequency cap that bounds join fan-out).
#
# 100 TB shape: selection is q187's zero-shuffle array-land pass
# (~1/w of grams emitted); the frequency cap bounds each fingerprint
# to <= F docs so pair expansion is <= F^2 per fingerprint (the same
# blocking-first discipline as MinHash banding: hash equi-join only,
# no all-pairs, no text in any exchange).
# --------------------------------------------------------------------------

_WM_MIN_SHARED = 5
_WM_MAX_DF = 10


def _winnow_sel_cte_duck() -> str:
    h = duck_h31("array_to_string(list_slice(ws, i, i+3), ' ')")
    return f"""
    arr AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
            FROM documents),
    gr AS (SELECT doc_id,
                  CASE WHEN len(ws) >= {_WIN_K}
                       THEN list_transform(generate_series(1, len(ws) - {_WIN_K - 1}),
                                           i -> {h})
                       ELSE [] END AS hs
           FROM arr),
    kk AS (SELECT doc_id, hs,
                  list_transform(generate_series(1, len(hs)),
                                 i -> hs[i] * {_POS_M} + ({_POS_M - 1} - i)) AS ks
           FROM gr),
    sel AS (SELECT doc_id,
                   unnest(list_distinct(list_transform(generate_series({_WIN_W}, len(hs)),
                          j -> list_min(list_slice(ks, j - {_WIN_W - 1}, j)) // {_POS_M}))) AS fp
            FROM kk)"""


@query(
    "q195_winnow_match",
    oracle=f"""
    WITH {_winnow_sel_cte_duck()},
    freq AS (SELECT fp, count(DISTINCT doc_id) AS df FROM sel GROUP BY 1),
    keep AS (SELECT s.doc_id, s.fp FROM sel s JOIN freq f USING (fp)
             WHERE f.df <= {_WM_MAX_DF}),
    pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS shared
              FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT d1, d2, shared FROM pairs WHERE shared >= {_WM_MIN_SHARED}
    ORDER BY d1, d2
    """,
    category="dedup",
    doc="span-level near-dup pairs via shared winnowing fingerprints",
)
def q195(spark: SparkSession, sf: str) -> DataFrame:
    h = h31(f"array_join(slice(ws, i, {_WIN_K}), ' ')")
    hs = (
        f"CASE WHEN size(ws) >= {_WIN_K} "
        f"THEN transform(sequence(1, size(ws) - {_WIN_K - 1}), i -> {h}) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    ks = (
        f"CASE WHEN size(hs) > 0 "
        f"THEN transform(sequence(1, size(hs)), "
        f"i -> element_at(hs, i) * {_POS_M} + ({_POS_M - 1} - i)) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    sk = (
        f"CASE WHEN size(hs) >= {_WIN_W} "
        f"THEN array_distinct(transform(sequence({_WIN_W}, size(hs)), "
        f"j -> array_min(slice(ks, j - {_WIN_W - 1}, {_WIN_W})) div {_POS_M})) "
        f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
    )
    sel = (
        t(spark, sf, "documents")
        .select("doc_id", F.expr("filter(split(text, ' '), w -> w <> '')").alias("ws"))
        .select("doc_id", F.expr(hs).alias("hs"))
        .select("doc_id", "hs", F.expr(ks).alias("ks"))
        .select("doc_id", F.expr(sk).alias("sk"))
        # explode_outer + null-drop on the OUTPUT: a plain explode would
        # re-evaluate the whole selection tree in an inferred size()>0
        # filter (see q194 / BASELINE.md round 6)
        .select("doc_id", F.explode_outer("sk").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    freq = sel.groupBy("fp").agg(F.countDistinct("doc_id").alias("df"))
    keep = sel.join(freq.filter(F.col("df") <= _WM_MAX_DF).select("fp"), "fp")
    a = keep.select(F.col("doc_id").alias("d1"), "fp")
    b = keep.select(F.col("doc_id").alias("d2"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").cast("long").alias("shared"))
        .filter(F.col("shared") >= _WM_MIN_SHARED)
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# q196 — CUSUM change-point detection on the daily value series: the
# classic sequential drift detector (Page 1954) completing the
# monitoring family (EWMA q151/q163, seasonal q140, TV drift q136).
# Entirely in bigint dollars: target = floor-mean of the series,
# slack = target/20 (5% allowance), alarm when the one-sided
# cumulative excess tops target/2:
#
#   s_t = max(0, s_{t-1} + x_t - target - slack)
#
# The recurrence is order-sensitive, so the Spark side folds the
# day-sorted series with `aggregate` (the q151/q182 ordered-fold
# pattern) and the oracle is a recursive CTE computing the identical
# integer recurrence — both sides exact, no floats anywhere.
#
# 100 TB shape: the data-sized work is the per-day aggregate (map-side
# partial, one shuffle on day); the fold runs over the calendar-sized
# series. Multi-decade series chunk by (series_id) the q151 way.
# --------------------------------------------------------------------------


@query(
    "q196_cusum_changepoint",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS day,
             {_cents_sum("value")} // 100 AS x
      FROM events GROUP BY 1
    ),
    ord AS (SELECT day, x, row_number() OVER (ORDER BY day) AS rn FROM daily),
    p AS (SELECT CAST(SUM(x) AS BIGINT) // count(*) AS target,
                 (CAST(SUM(x) AS BIGINT) // count(*)) // 20 AS slack,
                 (CAST(SUM(x) AS BIGINT) // count(*)) // 2 AS thresh
          FROM daily),
    rec AS (
      SELECT o.rn, o.day, o.x,
             greatest(CAST(0 AS BIGINT), o.x - p.target - p.slack) AS s
      FROM ord o CROSS JOIN p WHERE o.rn = 1
      UNION ALL
      SELECT o.rn, o.day, o.x,
             greatest(CAST(0 AS BIGINT), r.s + o.x - p.target - p.slack) AS s
      FROM ord o JOIN rec r ON o.rn = r.rn + 1 CROSS JOIN p
    )
    SELECT r.day, r.x AS x_dollars, r.s AS cusum, r.s > p.thresh AS alarm
    FROM rec r CROSS JOIN p ORDER BY r.day
    """,
    category="analytics",
    doc="integer-exact one-sided CUSUM drift detector on daily totals",
)
def q196(spark: SparkSession, sf: str) -> DataFrame:
    daily = (
        t(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.expr(f"{_cents_sum('value')} div 100").alias("x")
        )
    )
    p = daily.agg(
        F.expr("CAST(SUM(x) AS BIGINT) div count(*)").alias("target"),
        F.expr("(CAST(SUM(x) AS BIGINT) div count(*)) div 20").alias("slack"),
        F.expr("(CAST(SUM(x) AS BIGINT) div count(*)) div 2").alias("thresh"),
    )
    series = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("xs")
    )
    folded = series.crossJoin(F.broadcast(p)).select(
        "thresh",
        F.expr(
            """
            aggregate(
              xs,
              cast(array() as array<struct<day:date,x:bigint,s:bigint>>),
              (acc, e) -> array_append(acc, named_struct(
                'day', e.day, 'x', e.x,
                's', greatest(CAST(0 AS BIGINT),
                              if(size(acc) = 0, CAST(0 AS BIGINT),
                                 element_at(acc, -1).s) + e.x - target - slack)))
            )
            """
        ).alias("states"),
    )
    st = folded.select("thresh", F.explode("states").alias("r"))
    return st.select(
        F.col("r.day").alias("day"),
        F.col("r.x").alias("x_dollars"),
        F.col("r.s").alias("cusum"),
        (F.col("r.s") > F.col("thresh")).alias("alarm"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# q197 — Theil-Sen robust trend: the median of all pairwise day-slopes
# of the daily value series — the outlier-resistant alternative to the
# OLS slope (q94) for monitoring drifting volumes. Each slope is ONE
# IEEE division of exact integers; the median picks the middle
# value(s) of the slope order (average of the two middles for an even
# pair count — one more shared-tree IEEE operation).
#
# 100 TB shape: the series is calendar-sized after the day aggregate,
# so the O(days^2) pair join is dimension-scale (40k days -> 8e8
# pairs at a century of daily data — still a single-shuffle equi-join
# on a constant, windowed rank). Sub-calendar series would use the
# repeated-median variant per series id.
# --------------------------------------------------------------------------

_TS_SLOPE = "CAST(xj - xi AS DOUBLE) / CAST(j - i AS DOUBLE)"


@query(
    "q197_theil_sen",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             {_cents_sum("value")} // 100 AS x
      FROM events GROUP BY 1
    ),
    ord AS (SELECT x, row_number() OVER (ORDER BY day) AS i FROM daily),
    sl AS (
      SELECT i, j, xi, xj, {_TS_SLOPE} AS slope FROM (
        SELECT a.i AS i, b.i AS j, a.x AS xi, b.x AS xj
        FROM ord a JOIN ord b ON b.i > a.i
      )
    ),
    rk AS (SELECT slope, row_number() OVER (ORDER BY slope, i, j) AS r,
                  count(*) OVER () AS m
           FROM sl)
    SELECT CAST(MAX(m) AS BIGINT) AS n_pairs,
           CAST(floor(1000000.0 * (CASE WHEN MAX(m) % 2 = 1
                 THEN MAX(CASE WHEN r = (m + 1) // 2 THEN slope END)
                 ELSE (MAX(CASE WHEN r = m // 2 THEN slope END)
                       + MAX(CASE WHEN r = m // 2 + 1 THEN slope END)) / 2.0
               END)) AS BIGINT) AS slope_micros
    FROM rk
    """,
    category="analytics",
    doc="Theil-Sen median pairwise slope of daily totals",
)
def q197(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        t(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.expr(f"{_cents_sum('value')} div 100").alias("x")
        )
    )
    ord_df = daily.select("x", F.row_number().over(Window.orderBy("day")).alias("i"))
    a = ord_df.select(F.col("i").alias("i"), F.col("x").alias("xi"))
    b = ord_df.select(F.col("i").alias("j"), F.col("x").alias("xj"))
    sl = (
        a.crossJoin(b)
        .filter(F.col("j") > F.col("i"))
        .select("i", "j", F.expr(_TS_SLOPE).alias("slope"))
    )
    rk = sl.select(
        "slope",
        F.row_number().over(Window.orderBy("slope", "i", "j")).alias("r"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    return rk.agg(
        F.max("m").cast("long").alias("n_pairs"),
        F.expr(
            """CAST(floor(1000000.0 * (CASE WHEN MAX(m) % 2 = 1
                 THEN MAX(CASE WHEN r = (m + 1) div 2 THEN slope END)
                 ELSE (MAX(CASE WHEN r = m div 2 THEN slope END)
                       + MAX(CASE WHEN r = m div 2 + 1 THEN slope END)) / 2.0
               END)) AS BIGINT)"""
        ).alias("slope_micros"),
    )


# --------------------------------------------------------------------------
# q198 — one-way ANOVA F statistic: does mean document length differ
# across sources more than within-source variance explains? The
# mixture-design readout behind q117/q192. All moments (n_g, s1_g,
# s2_g) are exact integer sums; per-group SSB/SSW terms are floored to
# micros and integer-summed (order-free), then F is two shared-tree
# IEEE divisions over those integers.
#
# 100 TB shape: one map-side partial aggregate keyed by group
# (catalog-sized output), one scalar pass. Envelope: s1_g^2 is formed
# in DOUBLE (an exact bigint square overflows past ~3e9 total chars
# per group; the double keeps 53 bits which the micros floor absorbs).
# --------------------------------------------------------------------------

_SSB_TERM = (
    "CAST(floor(1000000.0 * (CAST(s1g AS DOUBLE) * CAST(s1g AS DOUBLE)"
    " / CAST(ng AS DOUBLE))) AS BIGINT)"
)
_SSW_TERM = (
    "CAST(floor(1000000.0 * (CAST(s2g AS DOUBLE) - CAST(s1g AS DOUBLE)"
    " * CAST(s1g AS DOUBLE) / CAST(ng AS DOUBLE))) AS BIGINT)"
)
_F_EXPR = (
    "CAST(floor(1000000.0 * ("
    "(CAST(ssb_micros AS DOUBLE) / CAST(k - 1 AS DOUBLE))"
    " / (CAST(ssw_micros AS DOUBLE) / CAST(n - k AS DOUBLE)))) AS BIGINT)"
)


sql_query(
    "q198_anova_f",
    f"""
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS ng,
             CAST(SUM(n_chars) AS BIGINT) AS s1g,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS s2g
      FROM documents GROUP BY 1
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS k, CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(s1g) AS BIGINT) AS s1,
             CAST(SUM({_SSB_TERM}) AS BIGINT) AS ssb_raw,
             CAST(SUM({_SSW_TERM}) AS BIGINT) AS ssw_micros
      FROM g
    ),
    fin AS (
      SELECT k, n,
             ssb_raw - CAST(floor(1000000.0 * (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                               / CAST(n AS DOUBLE))) AS BIGINT) AS ssb_micros,
             ssw_micros
      FROM tot
    )
    SELECT k, n, ssb_micros, ssw_micros, {_F_EXPR} AS f_micros FROM fin
    """,
    category="analytics",
    doc="one-way ANOVA F of n_chars across sources, integer-exact moments",
)


# --------------------------------------------------------------------------
# q199 — exact two-sample Kolmogorov-Smirnov distance between the
# n_chars distributions of two languages: the continuous-distribution
# drift test completing the categorical family (TV q136, Hellinger
# q193). D = max_x |F1(x) - F2(x)| is computed ENTIRELY in integers:
# at every observed value, |c1*n2 - c2*n1| over the common denominator
# n1*n2 — no float ever enters the max, so the argmax value and the
# distance are exact. One IEEE division scales the readout to micros.
#
# 100 TB shape: one value-keyed count aggregate (map-side partial,
# value-domain-sized output), one cumulative window over the sorted
# value domain (bounded by |distinct values|, not rows), one max.
# --------------------------------------------------------------------------

_KS_L1, _KS_L2 = "en", "de"


sql_query(
    "q199_ks_test",
    f"""
    WITH v AS (
      SELECT n_chars AS x, CASE WHEN lang = '{_KS_L1}' THEN 1 ELSE 0 END AS g
      FROM documents WHERE lang IN ('{_KS_L1}', '{_KS_L2}')
    ),
    n AS (SELECT CAST(SUM(g) AS BIGINT) AS n1, CAST(SUM(1 - g) AS BIGINT) AS n2 FROM v),
    d AS (SELECT x, CAST(SUM(g) AS BIGINT) AS c1, CAST(SUM(1 - g) AS BIGINT) AS c2
          FROM v GROUP BY x),
    c AS (SELECT x,
                 SUM(c1) OVER (ORDER BY x) AS a1,
                 SUM(c2) OVER (ORDER BY x) AS a2
          FROM d),
    s AS (SELECT c.x, abs(a1 * n.n2 - a2 * n.n1) AS num FROM c CROSS JOIN n),
    mx AS (SELECT MAX(num) AS ks_num FROM s)
    SELECT n.n1, n.n2, CAST(mx.ks_num AS BIGINT) AS ks_num,
           CAST(MIN(s.x) AS BIGINT) AS at_x,
           CAST(floor(1000000.0 * CAST(mx.ks_num AS DOUBLE)
                      / CAST(n.n1 * n.n2 AS DOUBLE)) AS BIGINT) AS d_micros
    FROM s CROSS JOIN mx CROSS JOIN n
    WHERE s.num = mx.ks_num
    GROUP BY n.n1, n.n2, mx.ks_num
    """,
    category="analytics",
    doc="exact two-sample KS distance between language length distributions",
)


# --------------------------------------------------------------------------
# q256 — Good-Turing frequency-of-frequencies (Good, Biometrika 1953):
# the vocabulary-mass readout behind smoothed LM estimates and
# "how much of this corpus is unseen-once" coverage decisions. One
# token scan -> per-word counts r -> N_r = |{words seen exactly r
# times}|, then the Turing estimate r* = (r+1) N_{r+1} / N_r per
# frequency class and the unseen-mass share p0 = N_1 / N. All
# integers; the two ratios floor to micros with integer `div`, so the
# readout is bit-portable with no float in sight.
#
# 100 TB shape: two hash aggregates (word -> count, count -> class
# size; the second is tiny) + a self-join of the frequency table on
# r+1 — the frequency table has O(hundreds) rows whatever the corpus
# size, so everything after the first groupBy is driver-trivial.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q256_good_turing",
    oracle="""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
      FROM documents
    ),
    wc AS (SELECT w, CAST(count(*) AS BIGINT) AS r FROM tok GROUP BY w),
    fof AS (SELECT r, CAST(count(*) AS BIGINT) AS n_types FROM wc GROUP BY r),
    tot AS (
      SELECT CAST(SUM(r * n_types) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN r = 1 THEN n_types ELSE 0 END) AS BIGINT) AS n1
      FROM fof
    )
    SELECT f.r, f.n_types,
           CAST(1000000 * (f.r + 1) * nx.n_types // f.n_types AS BIGINT)
             AS r_star_micros,
           CAST(1000000 * t.n1 // t.n_tokens AS BIGINT) AS p0_micros
    FROM fof f
    LEFT JOIN fof nx ON nx.r = f.r + 1
    CROSS JOIN tot t
    ORDER BY f.r
    """,
    category="quality",
    doc="frequency-of-frequencies + Turing-smoothed r* and unseen mass, exact integer ratios",
)
def q256(spark: SparkSession, sf: str) -> DataFrame:
    tok = (
        spread_input(t(spark, sf, "documents"), key="doc_id")
        .select(F.expr("filter(split(text, ' '), w -> w <> '')").alias("ws"))
        .select(F.explode("ws").alias("w"))
    )
    wc = tok.groupBy("w").agg(F.count("*").alias("r"))
    fof = wc.groupBy("r").agg(F.count("*").alias("n_types"))
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_types")).alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, F.col("n_types")).otherwise(F.lit(0))).alias(
            "n1"
        ),
    )
    nx = fof.select((F.col("r") - 1).alias("r"), F.col("n_types").alias("nx_types"))
    return (
        fof.join(nx, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            "n_types",
            F.expr("1000000 * (r + 1) * nx_types div n_types").alias(
                "r_star_micros"
            ),
            F.expr("1000000 * n1 div n_tokens").alias("p0_micros"),
        )
        .orderBy("r")
    )


# --------------------------------------------------------------------------
# q276 — referential-integrity audit over the star schema: orphan-row
# counts and rates for every foreign-key edge (lineitem -> orders,
# orders -> customer, customer -> nation, supplier -> nation) in one
# result table — the nightly constraint check a lakehouse runs because
# parquet enforces no FKs (the reference's catalog DDL declares none
# either, src/app.py catalog setup). Complements q106 (column-level
# quality gates) with the CROSS-TABLE contract. Each edge is one
# left-anti join on its key: dimension-sized parents broadcast,
# the lineitem -> orders edge shuffles both sides on o_orderkey —
# exactly the join the queries themselves would run, so the audit
# costs what one join pass costs. Rates are exact integer micros.
#
# 100 TB shape: four independent anti-join counts (catalyst
# broadcast where the parent is dimension-sized), one 4-row union.
# --------------------------------------------------------------------------

_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _q276_oracle() -> str:
    edges = "\n    UNION ALL\n".join(
        f"""    SELECT '{child}.{ckey}' AS fk_edge,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pkey} = c.{ckey})) AS n_orphans"""
        for child, ckey, parent, pkey in _FK_EDGES
    )
    return f"""
    WITH e AS (
{edges}
    )
    SELECT fk_edge, n_rows, n_orphans,
           CAST(CASE WHEN n_rows = 0 THEN NULL
                ELSE 1000000 * n_orphans // n_rows END AS BIGINT)
             AS orphan_micros
    FROM e ORDER BY fk_edge
    """


@query(
    "q276_fk_integrity",
    oracle=_q276_oracle(),
    category="quality",
    doc="orphan-row audit for every star-schema FK edge: anti-join counts + exact rates",
)
def q276(spark: SparkSession, sf: str) -> DataFrame:
    frames = []
    for child, ckey, parent, pkey in _FK_EDGES:
        c = t(spark, sf, child)
        p = t(spark, sf, parent).select(F.col(pkey).alias(ckey))
        orphans = c.select(ckey).join(p, ckey, "left_anti")
        frames.append(
            c.agg(F.count("*").alias("n_rows"))
            .crossJoin(orphans.agg(F.count("*").alias("n_orphans")))
            .select(
                F.lit(f"{child}.{ckey}").alias("fk_edge"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_orphans").cast("long").alias("n_orphans"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.select(
        "fk_edge",
        "n_rows",
        "n_orphans",
        F.expr(
            "CAST(CASE WHEN n_rows = 0 THEN NULL"
            " ELSE 1000000 * n_orphans div n_rows END AS BIGINT)"
        ).alias("orphan_micros"),
    ).orderBy("fk_edge")


# --------------------------------------------------------------------------
# q278 — vocabulary growth curve (Heaps' law checkpoints): |vocabulary|
# and token count at the 10 doc-id-decile prefixes of the corpus — the
# empirical V(N) curve a tokenizer-budget / dedup-effectiveness review
# reads (a corpus whose vocabulary keeps growing linearly is one full
# of unique noise; one that flattens is repetitive). Complements q256,
# which reads the frequency SPECTRUM at full corpus: this reads
# ACCUMULATION order. No fitted exponent is reported — Heaps' beta
# needs a log, and the no-engine-transcendentals rule stands; the
# curve itself is the deliverable and is exact: a word's first_doc is
# MIN(doc_id), tokens bucket by doc decile, both cumulate over a
# 10-row frame.
#
# 100 TB shape: one token explode feeding (a) a word-keyed MIN
# aggregate (the vocabulary shuffle, map-side combinable) and (b) a
# doc-keyed count (map-side); both collapse to 10-row decile frames
# cumulated by bounded windows. Reference delegates analytics to
# Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q278_vocab_growth",
    oracle="""
    WITH n AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_docs FROM documents),
    tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    first_seen AS (
      SELECT w, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM tok GROUP BY w
    ),
    vb AS (
      SELECT CAST(LEAST(9, first_doc * 10 // n.n_docs) AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS new_words
      FROM first_seen CROSS JOIN n GROUP BY 1
    ),
    tb AS (
      SELECT CAST(LEAST(9, doc_id * 10 // n.n_docs) AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS toks
      FROM tok CROSS JOIN n GROUP BY 1
    ),
    grid AS (SELECT CAST(gs.d AS BIGINT) AS decile FROM generate_series(0, 9) AS gs(d))
    SELECT g.decile,
           CAST(SUM(COALESCE(tb.toks, 0)) OVER (ORDER BY g.decile) AS BIGINT)
             AS cum_tokens,
           CAST(SUM(COALESCE(vb.new_words, 0)) OVER (ORDER BY g.decile) AS BIGINT)
             AS cum_vocab
    FROM grid g
    LEFT JOIN vb ON vb.decile = g.decile
    LEFT JOIN tb ON tb.decile = g.decile
    ORDER BY g.decile
    """,
    category="quality",
    doc="Heaps-law vocabulary growth: cumulative (tokens, vocab) at the 10 doc-id-decile prefixes",
)
def q278(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window


    docs = spread_input(t(spark, sf, "documents"), key="doc_id")
    n = docs.agg((F.max("doc_id") + 1).cast("long").alias("n_docs"))
    tok = docs.select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("w"),
    )
    first_seen = tok.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    vb = (
        first_seen.crossJoin(F.broadcast(n))
        .groupBy(
            F.expr("CAST(LEAST(9, first_doc * 10 div n_docs) AS BIGINT)").alias(
                "decile"
            )
        )
        .agg(F.count("*").alias("new_words"))
    )
    tb = (
        tok.crossJoin(F.broadcast(n))
        .groupBy(
            F.expr("CAST(LEAST(9, doc_id * 10 div n_docs) AS BIGINT)").alias("decile")
        )
        .agg(F.count("*").alias("toks"))
    )
    grid = spark.range(10).select(F.col("id").cast("long").alias("decile"))
    w = Window.orderBy("decile")
    return (
        grid.join(vb, "decile", "left")
        .join(tb, "decile", "left")
        .select(
            "decile",
            F.sum(F.coalesce(F.col("toks"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_words"), F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cum_vocab"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q281 — hash-Poisson bootstrap confidence intervals (Poisson bootstrap:
# Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
# Google 2012; the resampling scheme behind every distributed
# bootstrap): a 95% CI on mean document length per source WITHOUT ever
# reshuffling the data per replicate. Each (doc, replicate r) draws a
# Poisson(1) weight k deterministically from the portable h31 of
# 'boot{r}-{doc_id}' — the inverse CDF evaluated by comparing the
# 31-bit hash against Poisson(1) CDF thresholds PRE-MULTIPLIED onto the
# integer hash grid in Python (exact integer comparisons; zero
# engine-side transcendentals), capped at k=8 (mass beyond: 1.1e-6 —
# the cap is part of the declared resampling scheme). Replicate r=-1
# is the sentinel raw pass (k=1) that carries the point estimate, so
# batch (here) and streaming (q290) share one construction. Replicate
# means floor to micros BEFORE the percentile sort, so the order
# statistics are integer-exact cross-engine. CI = 2nd / 63rd order
# statistic of the 64 replicate means (the closest integer ranks to
# 2.5%/97.5% at R=64).
#
# 100 TB shape: the replicate explode is a map-side 65x row multiply
# feeding ONE partial-aggregated groupBy(source, r) — the shuffle
# carries |sources| * 65 rows, never the corpus; the percentile sort
# is over a 64-element array per source. This is exactly why Poisson
# bootstrap exists: R full resamples would be R corpus shuffles.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

def _q281_oracle() -> str:
    h = duck_h31("'boot' || CAST(r AS VARCHAR) || '-' || CAST(doc_id AS VARCHAR)")
    k = f"CASE WHEN r = -1 THEN 1 ELSE {_boot_k_sql(f'({h})')} END"
    return f"""
    WITH reps AS (
      SELECT d.source, gs.r, CAST({k} AS BIGINT) AS k, d.n_chars
      FROM documents d CROSS JOIN generate_series(-1, {_BOOT_R - 1}) AS gs(r)
    ),
    per_rep AS (
      SELECT source, r, CAST(SUM(k) AS BIGINT) AS sk,
             CAST(SUM(k * n_chars) AS BIGINT) AS s1
      FROM reps GROUP BY source, r
    ),
    means AS (
      SELECT source,
             CAST(floor(1000000.0 * CAST(s1 AS DOUBLE) / CAST(sk AS DOUBLE)) AS BIGINT)
               AS mean_micros
      FROM per_rep WHERE r >= 0 AND sk > 0
    ),
    ci AS (
      SELECT source, list_sort(list(mean_micros)) AS ms FROM means GROUP BY source
    ),
    raw AS (
      SELECT source, sk AS n_docs,
             CAST(floor(1000000.0 * CAST(s1 AS DOUBLE) / CAST(sk AS DOUBLE)) AS BIGINT)
               AS point_micros
      FROM per_rep WHERE r = -1
    )
    SELECT raw.source, raw.n_docs, raw.point_micros,
           CAST(len(ms) AS BIGINT) AS n_reps,
           ms[greatest(1, CAST(floor(0.025 * len(ms)) AS INT) + 1)] AS ci_lo_micros,
           ms[least(len(ms), CAST(ceil(0.975 * len(ms)) AS INT))] AS ci_hi_micros
    FROM raw JOIN ci ON raw.source = ci.source
    ORDER BY raw.source
    """


@query(
    "q281_bootstrap_ci",
    oracle=_q281_oracle(),
    category="quality",
    doc="hash-Poisson bootstrap 95% CI on mean doc length per source: one shuffle of |sources|*65 rows, never a resample of the corpus",
)
def q281(spark: SparkSession, sf: str) -> DataFrame:
    return bootstrap_ci_tail(bootstrap_rep_frame(t(spark, sf, "documents")))


# --------------------------------------------------------------------------
# q283 — Mann-Kendall trend test (Mann 1945, Kendall 1975): is each
# event type's daily-total series monotonically trending? The
# HYPOTHESIS-TEST companion to q197's Theil-Sen (which estimates the
# slope MAGNITUDE — the two are always quoted together in monitoring
# practice: MK says "is there a trend", Theil-Sen says "how steep").
# S = sum over day pairs i<j of sign(x_j - x_i) — exact integers; the
# null variance carries the full tie correction 18*Var = n(n-1)(2n+5)
# - sum_t t(t-1)(2t+5) over tie-group sizes t (exact BIGINT), and z
# applies the standard continuity correction (S -/+ 1) with ONE sqrt
# of the exact rational Var.
#
# S is computed WITHOUT the O(days^2) pair join (VERDICT r10 #3): the
# time axis is cut into B = ceil(sqrt(n)) blocks of m = ceil(sqrt(n))
# consecutive days. Same-block pairs go through an exact pair join
# whose fan-out is bounded by m (O(n*sqrt(n)) pairs total); cross-
# block pairs come from q227's densified suffix-sum grid over
# (block, value) cells — two window passes count, for every cell, the
# rows in LATER blocks with LARGER (concordant) and SMALLER
# (discordant) values, O(B * distinct_values) cells. Both halves are
# exact integer counts, so S = S_intra + S_inter is bit-identical to
# the quadratic form the oracle still uses. At the 30k-day stress row
# this replaces 2.25B pairs with ~2.6M intra pairs + ~5M grid cells
# per type.
#
# 100 TB shape: the corpus collapses to the per-(type, day) aggregate
# first (map-side combinable), so everything downstream is calendar-
# sized per type — the q197 posture, now with a subquadratic S.
# Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_MK_DAILY = _cents_sum("value")


def _q283_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_MK_DAILY} // 100 AS x
      FROM events GROUP BY 1, 2
    ),
    ord AS (
      SELECT event_type, x, row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM ord a JOIN ord b ON a.event_type = b.event_type AND b.i > a.i
      GROUP BY a.event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY event_type, x)
      GROUP BY event_type
    ),
    nn AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n FROM ord GROUP BY event_type)
    SELECT nn.event_type, nn.n AS n_days, s.s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS BIGINT) AS var18,
           CAST(CASE
             WHEN nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term <= 0 THEN NULL
             WHEN s.s_stat > 0 THEN floor(1000000.0 * (CAST(s.s_stat AS DOUBLE) - 1.0)
               / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS DOUBLE) / 18.0))
             WHEN s.s_stat < 0 THEN floor(1000000.0 * (CAST(s.s_stat AS DOUBLE) + 1.0)
               / sqrt(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term AS DOUBLE) / 18.0))
             ELSE 0 END AS BIGINT) AS z_micros
    FROM nn JOIN s ON nn.event_type = s.event_type
    JOIN ties ON nn.event_type = ties.event_type
    ORDER BY nn.event_type
    """


@query(
    "q283_mann_kendall",
    oracle=_q283_oracle(),
    category="quality",
    doc="Mann-Kendall trend test per event type: exact S over calendar-sized day pairs, tie-corrected variance, continuity-corrected z",
)
def q283(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    # five branches (intra, grid cells, grid keys, ties, n) read the
    # daily frame: eager localCheckpoint materializes the ONE corpus
    # scan and pins the calendar-sized result WITHOUT a cache-manager
    # entry — nothing to orphan in a long-lived session driving
    # spark_fn directly (ADVICE r10; the checkpointed RDD is freed by
    # the ContextCleaner when the plan is garbage collected).
    daily = (
        t(spark, sf, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.expr(f"{_MK_DAILY} div 100").alias("x"))
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("event_type").orderBy("day")
    ord_df = daily.select(
        "event_type",
        "x",
        F.row_number().over(w).alias("i"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    ).withColumn(
        # block size m = ceil(sqrt(n)) balances the two halves:
        # intra pairs ~ n*m/2, grid cells ~ (n/m)*|values|. m only
        # shapes the plan — S is exact for ANY block cut.
        "b",
        F.expr("CAST((i - 1) div CAST(ceil(sqrt(CAST(n AS DOUBLE))) AS INT) AS INT)"),
    )
    # ---- same-block pairs: exact pair join, fan-out bounded by m ----
    # probe side re-spread by day index: the window's event_type
    # exchange leaves a calendar-sized frame that AQE coalesces to ~1
    # partition, and each probe row fans out to O(m) pairs (r10
    # lesson: re-spread calendar frames before any expansion); the
    # build side is calendar-sized, so broadcast keeps the expansion
    # at full parallelism instead of hashing into |types|*B buckets.
    a = ord_df.select(
        "event_type", "b", F.col("x").alias("xa"), F.col("i").alias("i")
    ).repartition(F.col("i"))
    bb = ord_df.select(
        F.col("event_type").alias("event_type_b"),
        F.col("b").alias("b_b"),
        F.col("x").alias("xb"),
        F.col("i").alias("j"),
    )
    intra = (
        a.join(
            F.broadcast(bb),
            (F.col("event_type") == F.col("event_type_b"))
            & (F.col("b") == F.col("b_b"))
            & (F.col("j") > F.col("i")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_intra")
        )
    )
    # ---- cross-block pairs: densified (block, value) suffix-sum grid
    # (q227's two-pass trick, dims = time block x value). For a cell
    # (b, v): conc = rows in later blocks with larger value, disc =
    # rows in later blocks with smaller value; later-block rows are
    # always later in time, so cnt * (conc - disc) is that cell's
    # exact sign-sum contribution. The grid MUST be dense — the
    # second window sums the first window's column at cells the
    # block may not populate.
    cells = ord_df.groupBy("event_type", "b", "x").agg(
        F.count("*").cast("long").alias("cnt")
    )
    blocks = ord_df.select("event_type", "b").distinct()
    vals = daily.select("event_type", "x").distinct()
    grid = (
        # fan-out join (each value row explodes into B block rows):
        # re-spread the value side first, broadcast the tiny block list
        vals.repartition(F.col("x"))
        .join(F.broadcast(blocks), "event_type")
        .join(F.broadcast(cells), ["event_type", "b", "x"], "left")
        .select("event_type", "b", "x", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    w_above = (
        Window.partitionBy("event_type", "b")
        .orderBy("x")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_below = (
        Window.partitionBy("event_type", "b")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sy = grid.select(
        "event_type",
        "b",
        "x",
        "cnt",
        F.coalesce(F.sum("cnt").over(w_above), F.lit(0)).alias("above_v"),
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("below_v"),
    )
    w_later = (
        Window.partitionBy("event_type", "x")
        .orderBy("b")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    inter = (
        sy.select(
            "event_type",
            "cnt",
            F.coalesce(F.sum("above_v").over(w_later), F.lit(0)).alias("conc"),
            F.coalesce(F.sum("below_v").over(w_later), F.lit(0)).alias("disc"),
        )
        .groupBy("event_type")
        .agg(
            F.sum(F.col("cnt") * (F.col("conc") - F.col("disc")))
            .cast("long")
            .alias("s_inter")
        )
    )
    # a 1-day type gets s=0 here where the oracle's pair join drops
    # it — the n >= 2 filter below restores the oracle's semantics
    s = inter.join(intra, "event_type", "left").select(
        "event_type",
        (F.col("s_inter") + F.coalesce(F.col("s_intra"), F.lit(0)))
        .cast("long")
        .alias("s_stat"),
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(F.expr("t * (t - 1) * (2 * t + 5)")).cast("long").alias("tie_term")
        )
    )
    nn = ord_df.groupBy("event_type").agg(F.max("n").cast("long").alias("n"))
    z = """CAST(CASE
             WHEN n * (n - 1) * (2 * n + 5) - tie_term <= 0 THEN NULL
             WHEN s_stat > 0 THEN floor(1000000.0 * (CAST(s_stat AS DOUBLE) - 1.0)
               / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0))
             WHEN s_stat < 0 THEN floor(1000000.0 * (CAST(s_stat AS DOUBLE) + 1.0)
               / sqrt(CAST(n * (n - 1) * (2 * n + 5) - tie_term AS DOUBLE) / 18.0))
             ELSE 0 END AS BIGINT)"""
    return (
        nn.join(s, "event_type")
        .join(ties, "event_type")
        .filter(F.col("n") >= 2)
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "s_stat",
            F.expr("CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT)").alias("var18"),
            F.expr(z).alias("z_micros"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q284 — Wald-Wolfowitz runs test on the SIGNS of daily deltas per
# event type: are up-days and down-days randomly interleaved, or do
# they cluster (momentum) / alternate (mean reversion)? The
# randomness-of-sequence companion to q189's autocorrelation (which
# measures LINEAR serial dependence; runs are nonparametric and catch
# sign-clustering autocorrelation misses). Zero deltas drop (the
# standard convention); R = 1 + #sign changes; E[R] and Var[R] are the
# exact rationals 1 + 2ab/N and 2ab(2ab - N) / (N^2 (N-1)); z floors
# to micros after one sqrt. NULL when either sign is absent or the
# variance is not positive.
#
# 100 TB shape: corpus -> per-(type, day) aggregate (map-side), then
# every window and count is calendar-sized per type. Reference
# delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


def _q284_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_MK_DAILY} // 100 AS x
      FROM events GROUP BY 1, 2
    ),
    delta AS (
      SELECT event_type, day,
             x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS d
      FROM daily
    ),
    sgn AS (
      SELECT event_type, day, (d > 0) AS up
      FROM delta WHERE d IS NOT NULL AND d <> 0
    ),
    runs AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN prev_up IS NULL OR up <> prev_up THEN 1 ELSE 0 END) AS BIGINT) AS r,
             CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
             CAST(SUM(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n_minus
      FROM (
        SELECT event_type, up,
               lag(up) OVER (PARTITION BY event_type ORDER BY day) AS prev_up
        FROM sgn
      ) GROUP BY event_type
    )
    SELECT event_type, n_plus, n_minus, r AS runs,
           CAST(CASE
             WHEN n_plus = 0 OR n_minus = 0 OR n_plus + n_minus < 2
                  OR 2 * n_plus * n_minus * (2 * n_plus * n_minus - n_plus - n_minus) <= 0
               THEN NULL
             ELSE floor(1000000.0 *
               (CAST(r AS DOUBLE) - (1.0 + 2.0 * CAST(n_plus * n_minus AS DOUBLE)
                  / CAST(n_plus + n_minus AS DOUBLE)))
               / sqrt(CAST(2 * n_plus * n_minus * (2 * n_plus * n_minus - n_plus - n_minus) AS DOUBLE)
                  / (CAST(n_plus + n_minus AS DOUBLE) * CAST(n_plus + n_minus AS DOUBLE)
                     * CAST(n_plus + n_minus - 1 AS DOUBLE))))
             END AS BIGINT) AS z_micros
    FROM runs ORDER BY event_type
    """


@query(
    "q284_runs_test",
    oracle=_q284_oracle(),
    category="quality",
    doc="Wald-Wolfowitz runs test on daily delta signs per event type: exact run/sign counts, one sqrt for z",
)
def q284(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        t(spark, sf, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.expr(f"{_MK_DAILY} div 100").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    sgn = (
        daily.select(
            "event_type", "day", (F.col("x") - F.lag("x").over(w)).alias("d")
        )
        .filter("d IS NOT NULL AND d <> 0")
        .select("event_type", "day", (F.col("d") > 0).alias("up"))
    )
    runs = (
        sgn.select(
            "event_type", "up", F.lag("up").over(w).alias("prev_up")
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("prev_up").isNull() | (F.col("up") != F.col("prev_up")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("r"),
            F.sum(F.when(F.col("up"), 1).otherwise(0)).cast("long").alias("n_plus"),
            F.sum(F.when(F.col("up"), 0).otherwise(1)).cast("long").alias("n_minus"),
        )
    )
    z = """CAST(CASE
             WHEN n_plus = 0 OR n_minus = 0 OR n_plus + n_minus < 2
                  OR 2 * n_plus * n_minus * (2 * n_plus * n_minus - n_plus - n_minus) <= 0
               THEN NULL
             ELSE floor(1000000.0 *
               (CAST(r AS DOUBLE) - (1.0 + 2.0 * CAST(n_plus * n_minus AS DOUBLE)
                  / CAST(n_plus + n_minus AS DOUBLE)))
               / sqrt(CAST(2 * n_plus * n_minus * (2 * n_plus * n_minus - n_plus - n_minus) AS DOUBLE)
                  / (CAST(n_plus + n_minus AS DOUBLE) * CAST(n_plus + n_minus AS DOUBLE)
                     * CAST(n_plus + n_minus - 1 AS DOUBLE))))
             END AS BIGINT)"""
    return runs.select(
        "event_type",
        "n_plus",
        "n_minus",
        F.col("r").alias("runs"),
        F.expr(z).alias("z_micros"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q295 — Pettitt changepoint test (Pettitt, Appl.Stat. 1979): WHERE
# did each event type's daily level shift? Completes the monitoring
# family's missing readout — q196/q200 CUSUM flag that a parametric
# mean shift happened, q283 says whether a monotone trend exists;
# Pettitt is the rank-based (distribution-free) single-changepoint
# LOCATOR: K = max_t |U_t| with U_t = sum_{i<=t} sum_{j>t}
# sign(x_i - x_j). The naive form is O(n^2); this uses the exact
# midrank identity U_t = sum_{i<=t} (2 R_i - n - 1) (the same-t
# antisymmetric half cancels), which in the 2x midrank space
# (R2 = 2*rank + ties - 1, q274's convention) makes U_t a CUMULATIVE
# SUM of exact BIGINTs — O(n log n) ranking + one running window.
# Significance via Pettitt's approximation p = 2 exp(-6K^2/(n^3+n^2)):
# p < 0.05 iff 6 K^2 > 3.6888794541139363 * (n^3 + n^2) with the
# -ln(0.025) constant a Python double literal (determinism-policy
# tier 2 — no engine-side ln), both sides identical double trees.
# cp_day is the LAST day of the pre-shift segment, argmax tie-break
# earliest. Types with a single day have no interior split: dropped
# (both engines, the q283 n>=2 convention).
#
# 100 TB shape: corpus -> per-(type, day) aggregate (map-side), then
# ranking, the cumulative U, and the argmax are calendar-sized per
# type. Reference delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_PETTITT_REJ = (
    "(6.0 * CAST(k_stat AS DOUBLE) * CAST(k_stat AS DOUBLE))"
    " > (3.6888794541139363"
    " * (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)"
    "    + CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)))"
)


def _q295_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_MK_DAILY} // 100 AS x
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day,
             CAST(2 * (RANK() OVER (PARTITION BY event_type ORDER BY x))
                  + (COUNT(*) OVER (PARTITION BY event_type, x)) - 1
                  AS BIGINT) AS r2,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM daily
    ),
    u AS (
      SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             CAST(SUM(r2 - n - 1) OVER (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ut
      FROM r
    ),
    cand AS (SELECT * FROM u WHERE i <= n - 1),
    k AS (
      SELECT event_type, CAST(MAX(abs(ut)) AS BIGINT) AS k_stat,
             CAST(MAX(n) AS BIGINT) AS n_days
      FROM cand GROUP BY event_type
    ),
    cp AS (
      SELECT c.event_type, MIN(c.day) AS cp_day
      FROM cand c JOIN k ON c.event_type = k.event_type
                        AND abs(c.ut) = k.k_stat
      GROUP BY c.event_type
    )
    SELECT k.event_type, k.n_days, k.k_stat, cp.cp_day,
           {_PETTITT_REJ} AS reject_at_05
    FROM k JOIN cp ON k.event_type = cp.event_type
    ORDER BY k.event_type
    """


@query(
    "q295_pettitt_changepoint",
    oracle=_q295_oracle(),
    category="quality",
    doc="Pettitt rank-based changepoint locator per event type: exact midrank cumulative U, argmax day + distribution-free 0.05 gate",
)
def q295(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        t(spark, sf, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.expr(f"{_MK_DAILY} div 100").alias("x"))
    )
    wr = Window.partitionBy("event_type").orderBy("x")
    wt = Window.partitionBy("event_type", "x")
    wn = Window.partitionBy("event_type")
    r = daily.select(
        "event_type",
        "day",
        (F.lit(2) * F.rank().over(wr) + F.count("*").over(wt) - 1)
        .cast("long")
        .alias("r2"),
        F.count("*").over(wn).cast("long").alias("n"),
    )
    wu = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = r.select(
        "event_type",
        "day",
        "n",
        F.row_number().over(Window.partitionBy("event_type").orderBy("day")).alias(
            "i"
        ),
        F.sum(F.col("r2") - F.col("n") - 1).over(wu).cast("long").alias("ut"),
    )
    cand = u.filter(F.col("i") <= F.col("n") - 1)
    k = cand.groupBy("event_type").agg(
        F.max(F.abs("ut")).cast("long").alias("k_stat"),
        F.max("n").cast("long").alias("n_days"),
    )
    cp = (
        cand.join(k, "event_type")
        .filter(F.abs(F.col("ut")) == F.col("k_stat"))
        .groupBy("event_type")
        .agg(F.min("day").alias("cp_day"))
    )
    return (
        k.join(cp, "event_type")
        .select(
            "event_type",
            "n_days",
            "k_stat",
            "cp_day",
            F.expr(_PETTITT_REJ).alias("reject_at_05"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q296 — Durbin-Watson statistic (Durbin & Watson, Biometrika 1950):
# is there serial correlation LEFT in each event type's daily series
# AFTER removing its linear trend? The regression-diagnostics
# companion the family lacks: q189/q264 measure raw autocorrelation
# (trend masquerades as correlation there), q197/q94 fit the trend —
# DW asks whether the RESIDUALS of that fit still remember yesterday,
# which decides if the fit's standard errors are trustworthy.
# DW = sum (e_i - e_{i-1})^2 / sum e_i^2 over OLS residuals on the day
# index. With consecutive indices, both quadratic forms expand into
# SIX exact integer moments — n, S_y, S_y2, S_iy, S_dy2 = sum of
# squared consecutive deltas, and dyb = y_n - y_1 — and S_xx has the
# closed form n(n^2-1)/12, so: b = S_xy/S_xx, numerator =
# S_dy2 - 2 b dyb + (n-1) b^2, denominator = S_yy - b S_xy. Moments
# ride DECIMAL(38,0); the statistic assembles in ONE fixed-order
# double tree (q268's convention) and floors to micros, with
# rho_micros = floor(1e6 (1 - DW/2)) as the readable lag-1 estimate.
# NULL when n < 3 or the residual SSE is not positive (perfect fit).
#
# 100 TB shape: corpus -> per-(type, day) aggregate (map-side), one
# lag window + one moment aggregate over the calendar-sized frame, a
# scalar per type. Reference delegates analytics to Athena
# (src/app.py:97-189).
# --------------------------------------------------------------------------


def _q296_tail() -> list[str]:
    """Shared final expressions over (event_type, n, sy, sy2, siy,
    sdy2, dyb) — exact integer moments in, one double tree out."""
    sxx = "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0) / 12.0)"
    sxy = "(CAST(siy AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0) / 2.0 * CAST(sy AS DOUBLE))"
    syy = "(CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    b = f"({sxy} / {sxx})"
    num = (
        f"(CAST(sdy2 AS DOUBLE) - 2.0 * {b} * CAST(dyb AS DOUBLE)"
        f" + (CAST(n AS DOUBLE) - 1.0) * {b} * {b})"
    )
    den = f"({syy} - {b} * {sxy})"
    dw = f"CASE WHEN n < 3 OR {den} <= 0 THEN NULL ELSE floor(1000000.0 * {num} / {den}) END"
    rho = (
        f"CASE WHEN n < 3 OR {den} <= 0 THEN NULL"
        f" ELSE floor(1000000.0 * (1.0 - ({num} / {den}) / 2.0)) END"
    )
    return [
        "event_type",
        "CAST(n AS BIGINT) AS n_days",
        f"CAST({dw} AS BIGINT) AS dw_micros",
        f"CAST({rho} AS BIGINT) AS rho_micros",
    ]


def _q296_oracle() -> str:
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, {_MK_DAILY} // 100 AS x
      FROM events GROUP BY 1, 2
    ),
    o AS (
      SELECT event_type, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
             x - lag(x) OVER (PARTITION BY event_type ORDER BY day) AS dx
      FROM daily
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sy2,
             CAST(SUM(CAST(i AS HUGEINT) * x) AS HUGEINT) AS siy,
             CAST(SUM(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sdy2,
             CAST(SUM(dx) AS BIGINT) AS dyb
      FROM o GROUP BY event_type
    )
    SELECT {", ".join(_q296_tail())}
    FROM m ORDER BY event_type
    """


@query(
    "q296_durbin_watson",
    oracle=_q296_oracle(),
    category="quality",
    doc="Durbin-Watson residual serial-correlation diagnostic per event type: six exact integer moments, one fixed double tree",
)
def q296(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    daily = (
        t(spark, sf, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.expr(f"{_MK_DAILY} div 100").alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    o = daily.select(
        "event_type",
        "x",
        F.row_number().over(w).alias("i"),
        (F.col("x") - F.lag("x").over(w)).alias("dx"),
    )
    dec = "decimal(38,0)"
    m = o.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("x"))).alias("sy2"),
        F.sum((F.col("i").cast(dec) * F.col("x"))).alias("siy"),
        F.sum((F.col("dx").cast(dec) * F.col("dx"))).alias("sdy2"),
        F.sum("dx").cast("long").alias("dyb"),
    )
    return m.selectExpr(*_q296_tail()).orderBy("event_type")


# --------------------------------------------------------------------------
# q286 — Chao1 vocabulary-richness estimate + Good-Turing coverage per
# language (Chao 1984; the species-richness estimator ecology and
# corpus linguistics share): how many word types does each language's
# corpus REALLY have, including the ones not yet observed? Completes
# the vocabulary triptych — q256 reads the frequency SPECTRUM, q278
# the ACCUMULATION curve, this the ASYMPTOTE. Bias-corrected form
# Chao1 = V + f1(f1-1) / (2(f2+1)) (defined even at f2 = 0) and
# coverage C = 1 - f1/N are exact integer rationals: the division
# rides DECIMAL(38,0)/HUGEINT (f1^2 * 1e6 passes BIGINT at ~3e6
# singletons) and floors to micros — zero engine-side transcendentals.
#
# 100 TB shape: one token explode -> word-keyed count (map-side
# combinable, THE vocabulary shuffle — q278's accepted cost), then
# frequency-of-frequency collapses to a spectrum-sized frame and the
# estimator is a per-lang scalar. Reference delegates analytics to
# Athena (src/app.py:97-189).
# --------------------------------------------------------------------------


@query(
    "q286_chao1_richness",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      FROM documents
    ),
    wc AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(1000000 * COUNT(*)
                + CAST(1000000 AS HUGEINT)
                  * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                  * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                  // (2 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
                AS BIGINT) AS chao1_micros,
           CAST(1000000 - CAST(1000000 AS HUGEINT)
                  * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) // SUM(c)
                AS BIGINT) AS coverage_micros
    FROM wc GROUP BY lang ORDER BY lang
    """,
    category="quality",
    doc="Chao1 bias-corrected vocabulary-richness asymptote + Good-Turing coverage per language, exact integer rationals",
)
def q286(spark: SparkSession, sf: str) -> DataFrame:
    return chao1_frame(t(spark, sf, "documents"), "lang", "text")


# --------------------------------------------------------------------------
# q298 — Flesch reading-ease + Flesch-Kincaid grade per language
# (Flesch 1948; Kincaid et al. 1975): the classic readability gate a
# curation pipeline runs next to the Gopher rules (q145/q150) —
# Gopher asks "is this document well-formed text", readability asks
# "HOW HARD is it to read", which drives grade-level mixing targets
# for instruction corpora. Syllables use the standard vowel-group
# proxy (runs of [aeiouy], minimum 1 per word — the dictionary-free
# form every large-scale implementation ships); sentences count
# [.!?]+ runs with a floor of 1 so unpunctuated fragments score as
# one sentence rather than dividing by zero.
#
# Determinism: W, S, SYL are exact integers per doc; each doc's
# Flesch / FK value is ONE identical literal-constant double tree
# over those integers, floored to micros (BIGINT). Per-language means
# divide INTEGER micro-sums with truncating `div` — no float
# accumulation, so any partitioning and both engines agree bitwise.
# n_difficult counts docs under 30 reading-ease points (the "college"
# band) from the same per-doc integers.
#
# 100 TB shape: one map-side projection (regexp counts + a bounded
# fold over the word array), one |langs|-row groupBy. Reference
# delegates analytics to Athena (src/app.py:97-189).
# --------------------------------------------------------------------------

_Q298_WS = "(CAST(w AS DOUBLE) / CAST(s AS DOUBLE))"
_Q298_SW = "(CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))"
_Q298_FLESCH = f"(206.835 - 1.015 * {_Q298_WS} - 84.6 * {_Q298_SW})"
_Q298_FK = f"(0.39 * {_Q298_WS} + 11.8 * {_Q298_SW} - 15.59)"


def _q298_oracle() -> str:
    return f"""
    WITH perdoc AS (
      SELECT lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS w,
             CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS s,
             CAST(coalesce(list_sum(list_transform(
                    list_filter(string_split(text, ' '), x -> x <> ''),
                    x -> greatest(1, len(regexp_extract_all(x, '[aeiouyAEIOUY]+'))))),
                  0) AS BIGINT) AS syl
      FROM documents
    ),
    scored AS (
      SELECT lang,
             CAST(floor(1000000.0 * {_Q298_FLESCH}) AS BIGINT) AS flesch_micros,
             CAST(floor(1000000.0 * {_Q298_FK}) AS BIGINT) AS fk_micros
      FROM perdoc WHERE w > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(flesch_micros) // COUNT(*) AS BIGINT) AS mean_flesch_micros,
           CAST(SUM(fk_micros) // COUNT(*) AS BIGINT) AS mean_fk_micros,
           CAST(SUM(CASE WHEN flesch_micros < 30000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_difficult
    FROM scored GROUP BY lang ORDER BY lang
    """


@query(
    "q298_readability",
    oracle=_q298_oracle(),
    category="quality",
    doc="Flesch reading-ease + FK grade per language: vowel-group syllable proxy, per-doc micro-floored doubles, integer mean",
)
def q298(spark: SparkSession, sf: str) -> DataFrame:
    # Round-11: the per-word syllable fold (aggregate + regexp_count)
    # ran on the interpreted HOF path — one interpreted regex per word.
    # One Arrow map pass computes the identical INTEGER per-doc stats
    # (w, s, syl) with C regexes and a per-task word->syllables memo
    # (guide §4.2/§4.5); the Flesch/FK DOUBLE trees below stay in Spark
    # unchanged, so the floored micros are bit-identical by
    # construction. Re-spread first: the stats are scan-stage CPU
    # (operators/skew.spread_input).
    def stat_batches(it):
        import re

        import pyarrow as pa

        sent_runs = re.compile(r"[.!?]+").findall
        vowel_runs = re.compile(r"[aeiouyAEIOUY]+").findall
        memo: dict[str, int] = {}

        def syl(w: str) -> int:
            v = memo.get(w)
            if v is None:
                v = max(1, len(vowel_runs(w)))
                if len(memo) > 2_000_000:
                    memo.clear()
                memo[w] = v
            return v

        for batch in it:
            langs = batch.column("lang")
            ws, ss, syls = [], [], []
            for text in batch.column("text").to_pylist():
                text = text or ""
                words = [x for x in text.split(" ") if x]
                ws.append(len(words))
                ss.append(max(1, len(sent_runs(text))))
                syls.append(sum(syl(x) for x in words))
            yield pa.RecordBatch.from_arrays(
                [
                    langs,
                    pa.array(ws, pa.int64()),
                    pa.array(ss, pa.int64()),
                    pa.array(syls, pa.int64()),
                ],
                ["lang", "w", "s", "syl"],
            )

    perdoc = (
        spread_input(t(spark, sf, "documents"), key="doc_id")
        .select("lang", "text")
        .mapInArrow(stat_batches, "lang string, w long, s long, syl long")
    )
    scored = perdoc.filter("w > 0").selectExpr(
        "lang",
        f"CAST(floor(1000000.0 * {_Q298_FLESCH}) AS BIGINT) AS flesch_micros",
        f"CAST(floor(1000000.0 * {_Q298_FK}) AS BIGINT) AS fk_micros",
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("flesch_micros").alias("fsum"),
            F.sum("fk_micros").alias("ksum"),
            F.sum(F.when(F.col("flesch_micros") < 30_000_000, 1).otherwise(0))
            .cast("long")
            .alias("n_difficult"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "CAST(fsum div n_docs AS BIGINT) AS mean_flesch_micros",
            "CAST(ksum div n_docs AS BIGINT) AS mean_fk_micros",
            "n_difficult",
        )
        .orderBy("lang")
    )
