"""LLM-data-pipeline corpus: deduplication (exact / n-gram Jaccard /
MinHash-LSH / SimHash), similarity search over embeddings, text analysis
(language ID, quality stats, token counting, fingerprinting).

These are the north-star additions (BASELINE.json): the operators a
100 TB training-data pipeline runs over document/embedding tables. Every
deterministic variant has a DuckDB oracle built from the *same constants*
via a portable hash primitive that is bit-identical in both engines: the
first 32 bits of md5, mod 2^31 - 1 — ``operators/dedup.h31`` on the Spark
side, :func:`duck_h31` in the oracles. The hash, the MinHash constants
and the signature/band/pair stages live in ``operators/dedup.py``; this
module registers the queries and their oracles.

Approximate/sketch variants (ANN via LSH buckets) have no oracle by
design and get the driver's rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ann import _dlit, dot_sql, norm_sql
from ..operators.cachetrack import tracked_persist
from ..operators.dedup import (
    MERSENNE_P,
    NUM_PERM,
    N_BANDS,
    PERM_A,
    PERM_B,
    ROWS_PER_BAND,
    estimate_verify,
    h31,
    lsh_band_rows,
    lsh_candidate_pairs,
    lsh_star_edges,
    minhash_signatures,
    neardup_pairs,
    shingle_tokens,
    word_grams,
)
from ..operators.skew import spread_input
from ..vectors import _NDCG_P, _NDCG_W, EmbeddingSet
from .base import query, sql_query, t


def duck_h31(expr: str) -> str:
    """DuckDB twin of operators/dedup.h31 (portable): same value."""
    return f"CAST('0x' || substr(md5({expr}),1,8) AS BIGINT) % {MERSENNE_P}"


# --------------------------------------------------------------------------
# q50 — exact dedup by content digest: the canonical first pass of any
# training-data pipeline. Pure hash-groupBy: one shuffle on the digest.
# --------------------------------------------------------------------------


sql_query(
    "q50_dedup_exact",
    """
    SELECT md5(text) AS digest, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text) ORDER BY keeper_id
    """,
    category="dedup",
)


# --------------------------------------------------------------------------
# q51 — n-gram Jaccard near-dup pairs, exact: explode distinct unigrams,
# token-blocked + length-banded self-join, |A∩B| via groupBy, Jaccard
# from set sizes carried through the join.
# Scale path: the token join skews on frequent tokens — at 100 TB this is
# exactly why MinHash-LSH (q52) exists; this exact variant is the oracle-
# checkable ground truth for it.
# --------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.8
# exact pairwise Jaccard is O(pairs-sharing-a-token): on this corpus every
# doc shares vocabulary with every other, so the exact variant runs on a
# bounded subset — it exists as checkable ground truth for the linear-cost
# MinHash path (q52), which is the one that scales.
_JACCARD_MAX_DOC = 250


@query(
    "q51_jaccard_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w
      FROM documents WHERE doc_id < {_JACCARD_MAX_DOC}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS both_n
      FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d1, d2,
           CAST(both_n AS DOUBLE) / (sa.n + sb.n - both_n) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE CAST(both_n AS DOUBLE) / (sa.n + sb.n - both_n) >= {_JACCARD_THRESHOLD}
    ORDER BY d1, d2
    """,
    category="dedup",
)
def q51(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents").filter(F.col("doc_id") < _JACCARD_MAX_DOC)
    # array_distinct dedupes within the doc map-side; after explode the
    # (doc_id, n, w) rows are already unique, so no distinct shuffle
    # needed. The set size n rides along (one int per row) so the join
    # can length-band and the final Jaccard needs no extra size joins.
    tok = docs.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).alias("n"),
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    a = tok.alias("a")
    b = tok.alias("b")
    # length-band blocking inside the token join: J >= 0.8 forces
    # min(|A|,|B|)/max(|A|,|B|) >= 0.8 (both <= both_n <= min, union >=
    # max), so 5*min >= 4*max prunes candidate pairs lossless-ly and
    # integer-exactly before the pair aggregation shuffles them.
    shared = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
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
    jac = F.col("both_n").cast("double") / (F.col("na") + F.col("nb") - F.col("both_n"))
    return (
        shared.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("d1", "d2", "jaccard")
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# q52 — MinHash-LSH candidate pairs: 16 permutations, 4 bands × 4 rows.
# This is the scale path for near-dedup: cost is O(docs × shingles) for
# signatures + a groupBy on band signatures — no quadratic join. The
# oracle replays the identical permutation arithmetic in DuckDB.
# --------------------------------------------------------------------------


def _minhash_pairs_cte(src: str = "documents") -> str:
    """The q52 signature algebra as a reusable WITH-clause prefix ending
    in a ``pairs (d1, d2)`` CTE — shared by the q52 oracle and by any
    downstream oracle that consumes the candidate-pair set (q180).
    ``src`` is the relation (table name or parenthesized subquery with
    ``doc_id, text``) the signatures are computed over — q242 passes a
    hash-sampled slice."""
    mins = ",\n           ".join(
        f"MIN(({PERM_A[i]} * hs + {PERM_B[i]}) % {MERSENNE_P}) AS m{i}"
        for i in range(NUM_PERM)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS sig FROM mh".format(
            b=b,
            sig=" || '_' || ".join(
                f"CAST(m{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""
    WITH w3 AS (SELECT doc_id, string_split(text, ' ') AS w FROM {src}),
    tok AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
      FROM w3
    ),
    h AS (SELECT doc_id, {duck_h31('s')} AS hs FROM tok),
    mh AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    bands AS ({band_rows}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle() -> str:
    return _minhash_pairs_cte() + "\n    SELECT d1, d2 FROM pairs ORDER BY d1, d2\n    "


def _minhash_band_pairs(
    spark: SparkSession, sf: str, docs: DataFrame | None = None,
    sorted_output: bool = False,
) -> DataFrame:
    """Distinct (d1, d2) MinHash-LSH candidate pairs over the full
    documents table — q52's banded equi-join, shared as the blocking
    stage by q68/q70/q77. Band signatures are per-doc (independent of
    the rest of the corpus), so passing a filtered ``docs`` slice
    yields exactly the full-corpus candidate set restricted to pairs
    with both endpoints in the slice — q242 exploits this.
    ``sorted_output``: see operators/dedup.lsh_candidate_pairs."""
    if docs is None:
        docs = t(spark, sf, "documents")
    return lsh_candidate_pairs(
        minhash_signatures(shingle_tokens(docs)), sorted_output=sorted_output
    )


@query("q52_minhash_lsh", oracle=_minhash_oracle(), category="dedup", headline=True)
def q52(spark: SparkSession, sf: str) -> DataFrame:
    # the orderBy plans as a zero-exchange in-partition Sort: the
    # sorted_output range partitioning already satisfies its
    # OrderedDistribution (see _minhash_band_pairs)
    return _minhash_band_pairs(spark, sf, sorted_output=True).orderBy("d1", "d2")


# --------------------------------------------------------------------------
# q243 — star-edge near-dedup: the unbounded-cluster scale form of q52.
# A band bucket of c docs emits c-1 member->bucket-min edges instead of
# c(c-1)/2 pairs (one window-min shuffle on (band, sig), no self-join),
# then each edge is scored by MinHash signature agreement — the whole
# pipeline is linear in bucket size. Motivated by the measured blow-up
# in BASELINE.md's round-7 5M-doc profile: 1000-member near-dup clusters
# make the all-pairs candidate set ~2.5B rows while star edges stay ~5M.
# Oracle replays the identical bucket-min + agreement arithmetic.
# --------------------------------------------------------------------------

_STAR_THRESHOLD = 0.5  # agreement >= 8/16; estimate-verify semantics


def _star_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERM)
    )
    return (
        _minhash_pairs_cte()
        + f""",
    reps AS (SELECT band, sig, MIN(doc_id) AS rep FROM bands GROUP BY band, sig),
    star AS (
      SELECT DISTINCT r.rep AS d1, b.doc_id AS d2
      FROM reps r JOIN bands b ON r.band = b.band AND r.sig = b.sig
      WHERE b.doc_id > r.rep
    )
    SELECT s.d1, s.d2, CAST({agree} AS DOUBLE) / {NUM_PERM} AS jaccard
    FROM star s JOIN mh a ON a.doc_id = s.d1 JOIN mh b ON b.doc_id = s.d2
    WHERE CAST({agree} AS DOUBLE) / {NUM_PERM} >= {_STAR_THRESHOLD}
    ORDER BY d1, d2
    """
    )


@query("q243_neardup_star", oracle=_star_oracle(), category="dedup")
def q243(spark: SparkSession, sf: str) -> DataFrame:

    docs = t(spark, sf, "documents")
    sigs = minhash_signatures(shingle_tokens(docs), hash_fn="portable").transform(tracked_persist)
    edges = lsh_star_edges(sigs)
    return estimate_verify(edges, sigs, threshold=_STAR_THRESHOLD).orderBy("d1", "d2")


# --------------------------------------------------------------------------
# q244 — INCREMENTAL near-dedup: a daily-crawl delta (docs with
# doc_id % 10 = 0, the "new snapshot") screened against the standing
# corpus (the other 90%). Candidates come from an ASYMMETRIC band join —
# new-side bands probe corpus-side bands, so the work is O(|delta|)
# band lookups, never a corpus self-join; this is the batch complement
# of the q178 streaming LSH dedup. Per matched new doc: how many corpus
# docs it collided-and-verified with, the smallest matching corpus id
# (the canonical doc an ingest pipeline would attribute it to) and the
# best agreement score. Jaccard is the signature-agreement estimate
# (k/16 — exact binary fractions, bit-portable with no flooring).
# --------------------------------------------------------------------------


def _q244_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERM)
    )
    return (
        _minhash_pairs_cte()
        + f""",
    delta AS (
      SELECT DISTINCT n.doc_id AS d1, o.doc_id AS d2
      FROM bands n JOIN bands o ON n.band = o.band AND n.sig = o.sig
      WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
    ),
    est AS (
      SELECT s.d1, s.d2, CAST({agree} AS DOUBLE) / {NUM_PERM} AS jaccard
      FROM delta s JOIN mh a ON a.doc_id = s.d1 JOIN mh b ON b.doc_id = s.d2
      WHERE CAST({agree} AS DOUBLE) / {NUM_PERM} >= {_STAR_THRESHOLD}
    )
    SELECT d1 AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
           MIN(d2) AS canonical_id, MAX(jaccard) AS best_jaccard
    FROM est GROUP BY d1 ORDER BY doc_id
    """
    )


@query("q244_incremental_neardup", oracle=_q244_oracle(), category="dedup")
def q244(spark: SparkSession, sf: str) -> DataFrame:

    docs = t(spark, sf, "documents")
    # signatures are per-doc, so computing them over the full table and
    # slicing the BAND rows is identical to signing the slices — one
    # scan, one signature shuffle
    sigs = minhash_signatures(shingle_tokens(docs), hash_fn="portable").transform(tracked_persist)
    bands = lsh_band_rows(sigs)
    new = bands.filter(F.col("doc_id") % 10 == 0).alias("n")
    old = bands.filter(F.col("doc_id") % 10 != 0).alias("o")
    cands = (
        new.join(old, (F.col("n.band") == F.col("o.band")) & (F.col("n.sig") == F.col("o.sig")))
        .select(F.col("n.doc_id").alias("d1"), F.col("o.doc_id").alias("d2"))
        .distinct()
    )
    est = estimate_verify(cands, sigs, threshold=_STAR_THRESHOLD)
    return (
        est.groupBy(F.col("d1").alias("doc_id"))
        .agg(
            F.count("*").alias("n_matches"),
            F.min("d2").alias("canonical_id"),
            F.max("jaccard").alias("best_jaccard"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q53 — SimHash (31-bit) near-dup: per-token hash bits vote per position;
# docs pair when Hamming distance <= 3. Signature build is linear; the
# pair scan is BANDED, not quadratic: the signature splits into 4 8-bit
# bands, and by pigeonhole Hamming <= 3 over 4 bands forces at least one
# band to match exactly — so candidates come from an equi-join on
# (band_idx, band_value) and only candidates pay the Hamming check.
# Same shape as q52's MinHash banding; no BroadcastNestedLoopJoin
# anywhere in the plan (contract: tests/test_plans.py).
# --------------------------------------------------------------------------

_HAMMING_MAX = 3


@query(
    "q53_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    h AS (SELECT doc_id, {duck_h31('w')} AS hw FROM tok),
    bits AS (
      SELECT doc_id, b,
             SUM(CASE WHEN (hw >> b) & 1 = 1 THEN 1 ELSE -1 END) AS score
      FROM h CROSS JOIN (SELECT unnest(generate_series(0, 30)) AS b)
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN score > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    ORDER BY d1, d2
    """,
    category="dedup",
)
def q53(spark: SparkSession, sf: str) -> DataFrame:

    # The signature is computed ENTIRELY MAP-SIDE: per-word h31
    # digests, then each of the 31 bit-majority votes is a fold over
    # the doc's hash array (bit b is set iff set-count > half the
    # words — identical to the old sum of ±1 votes being > 0). The
    # original form exploded 31 bit-rows PER WORD into a doc-keyed
    # shuffle (~18G rows at 5M docs); this plan's first exchange is
    # the band join itself (signature stage: 7.8 s at 500k docs).
    # Re-spread first: the digests are scan-stage CPU
    # (operators/skew.spread_input). NOTE on the band join's own scale:
    # 8-bit bands give n/256-doc buckets, so the candidate-pair count
    # (and the RESULT itself, which enumerates near-dup pairs) grows
    # quadratically on near-duplicate-heavy corpora — at 100 TB a
    # deployment widens the signature (64-bit, 16-bit bands) exactly
    # as q112's multimodal variant does; the 31-bit form is pinned
    # here because the oracle replays it bit-for-bit.
    docs = spread_input(t(spark, sf, "documents"), key="doc_id")

    # Round-11: the per-word h31 transform and the 31 bit-vote folds
    # both ran on the interpreted HOF path (CodegenFallback) — one
    # interpreted md5+conv per word plus 31 interpreted passes over
    # each doc's hash array. One Arrow map pass does the identical
    # arithmetic with hashlib's C md5 (memoized per distinct token per
    # task — guide §4.2/§4.5) and a vectorized numpy bit-count for the
    # 31 majority votes. Same zero-shuffle shape: the plan's first
    # exchange is still the band join.
    def sig_batches(it):
        import hashlib

        import numpy as np
        import pyarrow as pa

        md5 = hashlib.md5
        p = MERSENNE_P
        memo: dict[str, int] = {}
        shifts = np.arange(31, dtype=np.int64)

        def word_h31(w: str) -> int:
            v = memo.get(w)
            if v is None:
                v = int.from_bytes(md5(w.encode()).digest()[:4], "big") % p
                if len(memo) > 2_000_000:
                    memo.clear()
                memo[w] = v
            return v

        for batch in it:
            ids = batch.column("doc_id")
            sigs = []
            for text in batch.column("text").to_pylist():
                toks = (text or "").split(" ")
                hs = np.fromiter((word_h31(w) for w in toks), np.int64, len(toks))
                cnts = ((hs[:, None] >> shifts) & 1).sum(axis=0)
                sigs.append(int(((2 * cnts > len(toks)).astype(np.int64) << shifts).sum()))
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sigs, pa.int64())], ["doc_id", "simhash"]
            )

    sig = docs.select("doc_id", "text").mapInArrow(
        sig_batches, "doc_id long, simhash long"
    )
    # band the signature: 4 bands of 8 bits; Hamming <= 3 differing bits
    # across 4 bands leaves >= 1 band untouched (pigeonhole), so an exact
    # match on any (band_idx, band_value) is a complete candidate set.
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr("transform(sequence(0, 3), i -> (simhash >> (i * 8)) & 255)")
        ).alias("band_idx", "band_val"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_MAX)
        .distinct()
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# q54 — brute-force cosine top-k over embeddings: the exact baseline for
# similarity search. Query side is tiny -> broadcast; candidates stream.
# Dot/norm folds are sequential (aggregate / list_reduce) so both engines
# produce bit-identical doubles.
# --------------------------------------------------------------------------

_TOP_K = 10
_N_QUERIES = 5

@query(
    "q54_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
               WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.q_id, e.vec_id,
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
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cosine, rank FROM (
      SELECT q_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOP_K}
    ORDER BY q_id, rank
    """,
    category="similarity",
    headline=True,
)
def q54(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings")
    # each norm is folded once per vector, on its own side of the join
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.expr(norm_sql("embedding")).alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(emb.withColumn("en", F.expr(norm_sql("embedding"))))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("dot", F.expr(dot_sql("qe", "embedding")))
        .select(
            "q_id", "vec_id", (F.col("dot") / (F.col("qn") * F.col("en"))).alias("cosine")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .orderBy("q_id", "rank")
    )


def _exact_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k (q54's plan): the exact ground truth the
    ANN variants (q55/q67) measure their recall against."""
    return q54(spark, sf)


def _recall_check(ann: DataFrame, exact: DataFrame, min_hits: int) -> DataFrame:
    """Exact+bound-boolean oracle pattern for ANN: emit per-query result
    counts (deterministic) plus a corpus-level boolean asserting total
    recall hits >= min_hits vs the exact top-k. The oracle emits the same
    shape with TRUE — a hash-checkable row for an approximate operator.

    Corpus-total (not per-query) recall is the asserted quantity because
    per-query recall has high variance at small scale; min_hits carries a
    >=3x margin below every measured value (sf0.001 and sf0.01)."""
    hits = ann.join(
        exact.select("q_id", "vec_id"), ["q_id", "vec_id"]
    ).agg(F.count("*").alias("hits_total"))
    per_q = ann.groupBy("q_id").agg(F.count("*").alias("n_ann"))
    return (
        per_q.crossJoin(F.broadcast(hits))
        .select(
            "q_id",
            "n_ann",
            (F.col("hits_total") >= F.lit(min_hits)).alias("recall_ok"),
        )
        .orderBy("q_id")
    )


# --------------------------------------------------------------------------
# q55 — ANN via random-hyperplane LSH buckets (hash-checked through
# _recall_check). Hyperplane components are ±1 derived from the
# portable hash of (plane, dim) so the partitioning is deterministic.
# At scale: bucket cardinality ~ n/2^planes; search cost drops from O(n)
# to O((planes+1) * n / 2^planes) per query. Queries MULTI-PROBE: the
# home bucket plus every Hamming-1 neighbor (flip one hyperplane bit) —
# the vectors most often lost to quantization sit just across one
# hyperplane, so probing 7 of 64 buckets lifts recall several-fold for
# ~7/64ths of the scan cost.
# --------------------------------------------------------------------------

_N_PLANES = 6


def _bucket_expr(col: str) -> str:
    bits = []
    for p in range(_N_PLANES):
        plane_hash = h31("concat('pl" + str(p) + "_', i)")
        proj = (
            f"aggregate(transform(sequence(0, size({col}) - 1), "
            f"i -> CAST(element_at({col}, i + 1) AS DOUBLE) * "
            f"(CAST({plane_hash} % 2 AS DOUBLE) * 2.0 - 1.0)), "
            f"CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(bits)


# ANN recall oracle: both ANN variants are approximate by design, so the
# hash-checked output is the exact+bound-boolean pattern (_recall_check):
# per-query candidate counts (deterministic: every query fills its top-k)
# plus a corpus-recall boolean, with the oracle emitting the same counts
# + TRUE. Measured corpus hits /50: q55 11 (sf0.01) / 13 (sf0.001);
# q67 28 (sf0.01) / 37 (sf0.001). Thresholds sit >=2.8x below the worst
# measurement; a random scan would land ~0-1 hits.
_ANN_ORACLE = f"""
    SELECT vec_id AS q_id, CAST({_TOP_K} AS BIGINT) AS n_ann,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < {_N_QUERIES} ORDER BY q_id
    """
_LSH_MIN_HITS = 3
_IVF_MIN_HITS = 10


@query("q67_ann_ivf", oracle=_ANN_ORACLE, category="similarity")
def q67(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN (operators/ann.py): k-means coarse quantizer, probe the 2
    nearest of 8 centroids per query. Hash-checked via _recall_check
    (recall floor vs exact q54); the tighter recall curve is pinned in
    tests/test_operators.py."""
    return _recall_check(_ivf_topk(spark, sf), _exact_topk(spark, sf), _IVF_MIN_HITS)


def _ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Raw IVF neighbor rows (q_id, vec_id, cosine, rank)."""
    from ..operators.ann import assign_buckets, fit_ivf, ivf_search

    emb = t(spark, sf, "embeddings").select("vec_id", "embedding")
    centroids = fit_ivf(emb, k=8)
    bucketed = assign_buckets(emb, centroids)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    return ivf_search(q, bucketed, centroids, top_k=_TOP_K, n_probe=2)


@query("q55_ann_lsh", oracle=_ANN_ORACLE, category="similarity")
def q55(spark: SparkSession, sf: str) -> DataFrame:
    ann = _lsh_topk(spark, sf)
    return _recall_check(ann, _exact_topk(spark, sf), _LSH_MIN_HITS)


def _lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings").withColumn("bucket", F.expr(_bucket_expr("embedding")))
    # multi-probe: home bucket + all Hamming-1 buckets (flip each plane)
    probes = "array(bucket, " + ", ".join(
        f"CAST(bucket ^ {1 << p} AS INT)" for p in range(_N_PLANES)
    ) + ")"
    q = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.expr(norm_sql("embedding")).alias("qn"),
            F.explode(F.expr(probes)).alias("bucket"),
        )
    )
    cand = emb.select("vec_id", "embedding", "bucket", F.expr(norm_sql("embedding")).alias("en"))
    scored = (
        F.broadcast(q)
        .join(cand, "bucket")
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("dot", F.expr(dot_sql("qe", "embedding")))
        .select("q_id", "vec_id", (F.col("dot") / (F.col("qn") * F.col("en"))).alias("cosine"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .orderBy("q_id", "rank")
    )


# --------------------------------------------------------------------------
# q68 — the full candidate-then-verify near-dup pipeline
# (operators/dedup.py): LSH candidates, then exact Jaccard confined to
# the candidate set. The production dedup shape: the quadratic step
# never touches the full corpus.
# --------------------------------------------------------------------------

_VERIFY_THRESHOLD = 0.8


def _neardup_oracle() -> str:
    mins = ",\n           ".join(
        f"MIN(({PERM_A[i]} * hs + {PERM_B[i]}) % {MERSENNE_P}) AS m{i}"
        for i in range(NUM_PERM)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS sig FROM mh".format(
            b=b,
            sig=" || '_' || ".join(
                f"CAST(m{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""
    WITH w3 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
      FROM w3
    ),
    h AS (SELECT doc_id, {duck_h31('s')} AS hs FROM tok),
    mh AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
    shared AS (
      SELECT c.d1, c.d2, COUNT(*) AS both_n
      FROM cand c
      JOIN tok t1 ON t1.doc_id = c.d1
      JOIN tok t2 ON t2.doc_id = c.d2 AND t2.s = t1.s
      GROUP BY c.d1, c.d2
    )
    SELECT d1, d2,
           CAST(both_n AS DOUBLE) / (sa.n + sb.n - both_n) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = d1
    JOIN sizes sb ON sb.doc_id = d2
    WHERE CAST(both_n AS DOUBLE) / (sa.n + sb.n - both_n) >= {_VERIFY_THRESHOLD}
    ORDER BY d1, d2
    """


@query("q68_neardup_pipeline", oracle=_neardup_oracle(), category="dedup")
def q68(spark: SparkSession, sf: str) -> DataFrame:

    docs = t(spark, sf, "documents").select("doc_id", "text")
    return neardup_pairs(docs, threshold=_VERIFY_THRESHOLD).orderBy("d1", "d2")


# --------------------------------------------------------------------------
# q60 — embedding-cosine near-dup pairs: the semantic-dedup primitive,
# blocking-first: candidates come from the q55 random-hyperplane LSH
# buckets (home bucket + every Hamming-1 probe), and only candidates pay
# the cosine verification — the all-pairs scan is gone. The hyperplanes
# are md5-derived, so the DuckDB oracle replays the IDENTICAL bucketing
# and the result hash-matches despite the approximate candidate set.
# Recall semantics: a pair whose buckets differ in >= 2 hyperplane bits
# is by-design missed (the production trade; tune planes/probes for
# recall). The slice bound keeps the oracle cheap, not the Spark plan —
# the join is an equi-join either way.
# --------------------------------------------------------------------------

# threshold sits in the far tail of the synthetic embedding distribution
# (pairwise max ~0.47, p99.9 ~0.38) so the result is non-empty but small
_NEARDUP_COS = 0.40
_NEARDUP_MAX_VEC = 300


def _duck_bucket_expr(col: str) -> str:
    """DuckDB twin of _bucket_expr (identical hyperplane signs + fold
    order, so bucket ids match Spark's bit-for-bit)."""
    bits = []
    for p in range(_N_PLANES):
        plane_hash = duck_h31(f"'pl{p}_' || CAST(i - 1 AS VARCHAR)")
        proj = (
            f"list_reduce(list_transform(generate_series(1, len({col})), "
            f"i -> CAST({col}[i] AS DOUBLE) * "
            f"(CAST({plane_hash} % 2 AS DOUBLE) * 2.0 - 1.0)), "
            f"(x, y) -> x + y)"
        )
        bits.append(f"CASE WHEN ({proj}) > 0 THEN {1 << p} ELSE 0 END")
    return " + ".join(bits)


def _neardup_cos_oracle() -> str:
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(_N_PLANES)]
    )
    cos = """list_reduce(
               list_transform(generate_series(1, len(ea.embedding)),
                              i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
               (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(generate_series(1, len(ea.embedding)),
                                 i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)),
                                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(generate_series(1, len(eb.embedding)),
                                   i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
                                   (x, y) -> x + y)))"""
    return f"""
    WITH e AS (SELECT vec_id, embedding, {_duck_bucket_expr('embedding')} AS bucket
               FROM embeddings WHERE vec_id < {_NEARDUP_MAX_VEC}),
    probes AS (SELECT vec_id, unnest([{probe_list}]) AS pb FROM e),
    cand AS (
      SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
      FROM probes a JOIN e b ON a.pb = b.bucket AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT v1, v2, {cos} AS cosine
      FROM cand JOIN e ea ON ea.vec_id = cand.v1
                JOIN e eb ON eb.vec_id = cand.v2
    )
    SELECT v1, v2, cosine FROM scored
    WHERE cosine >= {_NEARDUP_COS}
    ORDER BY v1, v2
    """


@query("q60_embedding_neardup", oracle=_neardup_cos_oracle(), category="dedup")
def q60(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings").filter(F.col("vec_id") < _NEARDUP_MAX_VEC)
    e = emb.select("vec_id", "embedding", F.expr(_bucket_expr("embedding")).alias("bucket"))
    probe_arr = "array(bucket, " + ", ".join(
        f"CAST(bucket ^ {1 << p} AS INT)" for p in range(_N_PLANES)
    ) + ")"
    probes = e.select("vec_id", F.explode(F.expr(probe_arr)).alias("pb"))
    home = e.select(F.col("vec_id").alias("v2"), F.col("bucket").alias("pb"))
    cand = (
        probes.join(home, (probes["pb"] == home["pb"]) & (probes["vec_id"] < home["v2"]))
        .select(F.col("vec_id").alias("v1"), "v2")
        .distinct()
    )
    norm = F.expr(norm_sql("embedding"))
    ea = e.select(F.col("vec_id").alias("v1"), F.col("embedding").alias("qe"), norm.alias("qn"))
    eb = e.select(F.col("vec_id").alias("v2"), "embedding", norm.alias("en"))
    return (
        cand.join(F.broadcast(ea), "v1")
        .join(F.broadcast(eb), "v2")
        .withColumn("dot", F.expr(dot_sql("qe", "embedding")))
        .select("v1", "v2", (F.col("dot") / (F.col("qn") * F.col("en"))).alias("cosine"))
        .filter(F.col("cosine") >= _NEARDUP_COS)
        .orderBy("v1", "v2")
    )


# --------------------------------------------------------------------------
# q56 — text quality stats: token/char counts, stopword + punctuation
# ratios; integer counts divided as doubles so both engines agree exactly.
# --------------------------------------------------------------------------

_STOPWORDS = "('the','a','of','and','to','in','is','it','on','for')"


@query(
    "q56_text_stats",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(list_filter(string_split(text, ' '),
                         tk -> tk IN {_STOPWORDS}))) AS DOUBLE)
             / SUM(len(string_split(text, ' '))) AS stopword_ratio
    FROM documents GROUP BY source ORDER BY source
    """,
    category="text",
)
def q56(spark: SparkSession, sf: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_stop = F.size(F.expr(f"filter(split(text, ' '), tk -> tk IN {_STOPWORDS})"))
    return (
        t(spark, sf, "documents")
        .select("source", "n_chars", n_tok.alias("nt"), n_stop.alias("ns"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            (F.sum("nt").cast("double") / F.count("*")).alias("avg_tokens"),
            (F.sum("n_chars").cast("double") / F.count("*")).alias("avg_chars"),
            (F.sum("ns").cast("double") / F.sum("nt")).alias("stopword_ratio"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q57 — heuristic language ID by stopword voting, alphabetical tie-break
# via greatest + ordered CASE (portable deterministic argmax).
# --------------------------------------------------------------------------

_LANG_STOPWORDS = {
    "de": "('der','die','das','und','ist','nicht','ein','zu')",
    "en": "('the','a','of','and','to','is','it','on')",
    "es": "('el','la','de','y','es','un','en','que')",
    "fr": "('le','la','de','et','est','un','une','que')",
    "zh": "('de','le','shi','bu','wo','zai','you','he')",
}


def _lang_scores_sql(split_fn: str, filter_fn: str, len_fn: str) -> str:
    return ",\n      ".join(
        f"{len_fn}({filter_fn}({split_fn}(text, ' '), tk -> tk IN {words})) AS s_{lang}"
        for lang, words in sorted(_LANG_STOPWORDS.items())
    )


_ARGMAX_CASE = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} = m THEN '{lang}'" for lang in sorted(_LANG_STOPWORDS)
    )
    + " END"
)
_GREATEST = "greatest(" + ", ".join(f"s_{lang}" for lang in sorted(_LANG_STOPWORDS)) + ")"


@query(
    "q57_language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
      {_lang_scores_sql('string_split', 'list_filter', 'len')}
      FROM documents
    ),
    pred AS (
      SELECT doc_id, lang, {_ARGMAX_CASE.replace('= m', f'= {_GREATEST}')} AS predicted
      FROM scored
    )
    SELECT lang, predicted, COUNT(*) AS n
    FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
    """,
    category="text",
)
def q57(spark: SparkSession, sf: str) -> DataFrame:

    # five stopword-list scans per doc are pure map CPU: re-spread a
    # scan-starved compressed input first (operators/skew.spread_input)
    docs = spread_input(t(spark, sf, "documents"), key="doc_id")
    scored = docs.select(
        "doc_id",
        "lang",
        *[
            F.size(F.expr(f"filter(split(text, ' '), tk -> tk IN {words})")).alias(f"s_{lang}")
            for lang, words in sorted(_LANG_STOPWORDS.items())
        ],
    )
    pred = scored.withColumn("m", F.expr(_GREATEST)).withColumn(
        "predicted", F.expr(_ARGMAX_CASE)
    )
    return (
        pred.groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


# --------------------------------------------------------------------------
# q58 — document fingerprint: polynomial rolling hash over the first 48
# normalized chars (mod 1e9+7) — a cheap near-exact dedup key.
# --------------------------------------------------------------------------

_FP_LEN = 48
_FP_MOD = 1_000_000_007


@query(
    "q58_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(7 AS BIGINT),
               list_transform(generate_series(1, {_FP_LEN}),
                              i -> CAST(ascii(substr(rpad(lower(text), {_FP_LEN}, ' '), i, 1)) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % {_FP_MOD}) AS fingerprint
    FROM documents WHERE doc_id < 200 ORDER BY doc_id
    """,
    category="text",
)
def q58(spark: SparkSession, sf: str) -> DataFrame:
    fp = (
        f"aggregate(transform(sequence(1, {_FP_LEN}), "
        f"i -> CAST(ascii(substring(rpad(lower(text), {_FP_LEN}, ' '), i, 1)) AS BIGINT)), "
        f"CAST(7 AS BIGINT), (acc, c) -> (acc * 31 + c) % {_FP_MOD})"
    )
    return (
        t(spark, sf, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", F.expr(fp).alias("fingerprint"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q59 — BPE-ish regex token count (the token-budget estimator).
# --------------------------------------------------------------------------

_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


@query(
    "q59_token_count",
    oracle=f"""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS BIGINT) AS total_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{_TOKEN_RE}'))) AS DOUBLE)
             / COUNT(*) AS avg_tokens
    FROM documents GROUP BY source ORDER BY source
    """,
    category="text",
)
def q59(spark: SparkSession, sf: str) -> DataFrame:
    n_tok = F.size(F.expr(f"regexp_extract_all(text, '{_TOKEN_RE}', 0)"))
    return (
        t(spark, sf, "documents")
        .select("source", n_tok.alias("nt"))
        .groupBy("source")
        .agg(
            F.sum("nt").alias("total_tokens"),
            (F.sum("nt").cast("double") / F.count("*")).alias("avg_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q70 — edit-distance fuzzy matching (levenshtein): the char-level
# complement of token-level Jaccard for short-string dedup (titles, IDs).
# Blocking-first over the FULL corpus: candidates come from the q52
# MinHash band equi-join (_minhash_band_pairs), and only candidates pay
# the O(len^2) levenshtein — the same candidate-confinement shape as
# q68. The oracle replays the identical banding, then the same verify.
# --------------------------------------------------------------------------

_LEV_PREFIX = 24
_LEV_THRESHOLD = 10


def _lev_oracle() -> str:
    base = _minhash_oracle()
    tail = "SELECT d1, d2 FROM pairs ORDER BY d1, d2"
    assert tail in base
    return base.replace(
        tail,
        f"""SELECT p.d1, p.d2,
           CAST(levenshtein(substring(da.text, 1, {_LEV_PREFIX}),
                            substring(db.text, 1, {_LEV_PREFIX})) AS BIGINT) AS edit_dist
    FROM pairs p
    JOIN documents da ON da.doc_id = p.d1
    JOIN documents db ON db.doc_id = p.d2
    WHERE levenshtein(substring(da.text, 1, {_LEV_PREFIX}),
                      substring(db.text, 1, {_LEV_PREFIX})) <= {_LEV_THRESHOLD}
    ORDER BY d1, d2""",
    )


@query("q70_levenshtein_pairs", oracle=_lev_oracle(), category="dedup")
def q70(spark: SparkSession, sf: str) -> DataFrame:
    pairs = _minhash_band_pairs(spark, sf)
    d = t(spark, sf, "documents").select(
        "doc_id", F.substring("text", 1, _LEV_PREFIX).alias("prefix")
    )
    da = d.select(F.col("doc_id").alias("d1"), F.col("prefix").alias("p1"))
    db = d.select(F.col("doc_id").alias("d2"), F.col("prefix").alias("p2"))
    return (
        pairs.join(da, "d1")
        .join(db, "d2")
        .withColumn("edit_dist", F.levenshtein("p1", "p2").cast("long"))
        .filter(F.col("edit_dist") <= _LEV_THRESHOLD)
        .select("d1", "d2", "edit_dist")
        .orderBy("d1", "d2")
    )


# --------------------------------------------------------------------------
# q77 — dedup clustering: connected components over the q52 LSH candidate
# pairs (operators/cluster.py), the stage that turns near-dup PAIRS into
# GROUPS so the pipeline keeps one canonical doc per group. The Spark
# side is iterative min-label propagation; the oracle replays the exact
# same minhash pipeline then closes it with a recursive CTE.
# --------------------------------------------------------------------------


def _cluster_oracle() -> str:
    base = _minhash_oracle()
    tail = "SELECT d1, d2 FROM pairs ORDER BY d1, d2"
    assert tail in base
    cluster_sql = """sym AS (
      SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
    ),
    reach(node, label) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, r.label FROM sym s JOIN reach r ON r.node = s.b
    ),
    labels AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)
    SELECT node AS doc_id, component AS cluster_id,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size,
           node = component AS is_canonical
    FROM labels ORDER BY doc_id"""
    return base.replace("pairs AS (", "pairs_base AS (", 1).replace(
        "    SELECT d1, d2 FROM pairs ORDER BY d1, d2",
        "    , pairs AS (SELECT * FROM pairs_base),\n    " + cluster_sql, 1
    ).replace("WITH w3", "WITH RECURSIVE w3", 1)


@query("q77_dedup_clusters", oracle=_cluster_oracle(), category="dedup")
def q77(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.cluster import dedup_clusters

    pairs = q52(spark, sf)
    return dedup_clusters(pairs).orderBy("doc_id")


# --------------------------------------------------------------------------
# q248 — cluster-balanced selection: dedup-aware diversity sampling.
# After near-dup clustering (q77), keeping ONE doc per cluster throws
# away intra-cluster variation while keeping ALL of a 10k-member
# boilerplate cluster drowns the mixture — the standard middle course
# keeps ceil(sqrt(cluster_size)) docs per cluster (sublinear cluster
# mass, every cluster still represented). Selection within a cluster is
# by the portable content hash then id — deterministic, unbiased by
# ingestion order. Docs in no candidate pair are singleton clusters and
# always survive. sqrt is IEEE-correctly-rounded in both engines and
# exact on perfect squares, so ceil(sqrt(n)) is bit-portable.
#
# Scale shape: q77's CC (edge-keyed shuffles) + one per-cluster window
# (hash-partitioned by cluster_id, no global sort) + an anti-join for
# singletons. Output is the survivor set with its cluster accounting.
# --------------------------------------------------------------------------


def _q248_oracle() -> str:
    base = _minhash_pairs_cte()
    return (
        base.replace("WITH w3", "WITH RECURSIVE w3", 1)
        + f""",
    sym AS (
      SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
    ),
    reach(node, label) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.a, r.label FROM sym s JOIN reach r ON r.node = s.b
    ),
    labels AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY node),
    membership AS (
      SELECT doc_id, cluster_id FROM labels
      UNION ALL
      SELECT d.doc_id, d.doc_id AS cluster_id
      FROM documents d WHERE d.doc_id NOT IN (SELECT doc_id FROM labels)
    ),
    sized AS (
      SELECT doc_id, cluster_id,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
      FROM membership
    ),
    ranked AS (
      SELECT doc_id, cluster_id, cluster_size,
             row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY {duck_h31("CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn
      FROM sized
    )
    SELECT doc_id, cluster_id, cluster_size
    FROM ranked
    WHERE rn <= CAST(ceil(sqrt(CAST(cluster_size AS DOUBLE))) AS BIGINT)
    ORDER BY doc_id
    """
    )


def _cluster_balanced_keep(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """q248's selection tail over any candidate-edge set: CC-cluster,
    add singletons, keep ceil(sqrt(cluster_size)) docs per cluster by
    the portable hash rank."""
    from ..operators.cluster import dedup_clusters

    clustered = dedup_clusters(pairs).select("doc_id", "cluster_id")
    singles = docs.join(clustered, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    membership = clustered.unionByName(singles)
    wsize = Window.partitionBy("cluster_id")
    worder = Window.partitionBy("cluster_id").orderBy(
        F.expr(h31("CAST(doc_id AS STRING)")), "doc_id"
    )
    return (
        membership.withColumn("cluster_size", F.count("*").over(wsize))
        .withColumn("rn", F.row_number().over(worder))
        .filter(
            F.col("rn")
            <= F.ceil(F.sqrt(F.col("cluster_size").cast("double"))).cast("long")
        )
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


@query("q248_cluster_balanced_sample", oracle=_q248_oracle(), category="selection")
def q248(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    pairs = _minhash_band_pairs(spark, sf)
    return _cluster_balanced_keep(docs, pairs)


# --------------------------------------------------------------------------
# q254 — q248 on STAR-EDGE candidates: the unbounded-cluster scale form
# of diversity sampling. Connected components are closed over q243's
# c-1 member->bucket-min star edges instead of the c(c-1)/2 all-pairs
# band edges; the closure over unverified star edges EQUALS the
# closure over all-pairs edges (both connect exactly each band
# bucket), so the cluster sets — and therefore the kept doc set — are
# identical while the edge volume feeding CC is linear in bucket size
# (measured: 8.88B all-pairs candidates vs 17.9M star edges at 5M
# docs, BASELINE.md round-7). The oracle is q248's VERBATIM all-pairs
# recursive-CTE closure: a green row here IS the driver-checked proof
# of the closure equivalence. This is the form
# ``TextCorpus.diversity_sample(candidates='star')`` runs.
# --------------------------------------------------------------------------


@query(
    "q254_diversity_sample_star",
    oracle=_q248_oracle(),
    category="selection",
    doc="cluster-balanced selection over star edges; oracle = q248's all-pairs closure (equivalence proof)",
)
def q254(spark: SparkSession, sf: str) -> DataFrame:
    docs = t(spark, sf, "documents")
    sigs = minhash_signatures(shingle_tokens(docs), hash_fn="portable")
    edges = lsh_star_edges(sigs)
    return _cluster_balanced_keep(docs, edges)


# --------------------------------------------------------------------------
# q78 — int8 scalar quantization of embeddings: the storage/memory scale
# path for ANN (4x smaller vectors, SIMD-friendly int dot products).
# Quantize q = clamp(floor(x * 127/S + 0.5)), reconstruct, and report
# exact integer checksums plus the reconstruction MSE. All arithmetic is
# element-ordered double left-folds and integer sums, so both engines
# produce bit-identical values.
# --------------------------------------------------------------------------

_QSCALE = "0.6"  # fixed symmetric range: |x| < 0.53 on this corpus


@query(
    "q78_embedding_quantization",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, x ->
               greatest(CAST(-127 AS BIGINT), least(CAST(127 AS BIGINT),
                 CAST(floor(CAST(x AS DOUBLE) * 127.0 / {_QSCALE} + 0.5) AS BIGINT)))) AS qv,
             embedding
      FROM embeddings
    ),
    scored AS (
      SELECT vec_id,
             list_sum(qv) AS qsum,
             list_sum(list_transform(qv, (x, i) -> x * i)) AS qdot,
             list_reduce(
               list_transform(range(1, len(qv) + 1), i ->
                 (CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE) * {_QSCALE} / 127.0)
                 * (CAST(embedding[i] AS DOUBLE) - CAST(qv[i] AS DOUBLE) * {_QSCALE} / 127.0)),
               (a, b) -> a + b) / 64.0 AS mse
      FROM q
    )
    SELECT vec_id, CAST(qsum AS BIGINT) AS qsum, CAST(qdot AS BIGINT) AS qdot, mse
    FROM scored ORDER BY vec_id
    """,
    category="similarity",
)
def q78(spark: SparkSession, sf: str) -> DataFrame:
    qv = (
        f"transform(embedding, x -> greatest(CAST(-127 AS BIGINT), "
        f"least(CAST(127 AS BIGINT), floor(CAST(x AS DOUBLE) * 127.0D / {_QSCALE}D + 0.5D))))"
    )
    # (x - recon)^2 per element, in array order
    sqerr = (
        f"zip_with(embedding, qv, (x, qq) -> "
        f"(CAST(x AS DOUBLE) - CAST(qq AS DOUBLE) * {_QSCALE}D / 127.0D) "
        f"* (CAST(x AS DOUBLE) - CAST(qq AS DOUBLE) * {_QSCALE}D / 127.0D))"
    )
    return (
        t(spark, sf, "embeddings")
        .withColumn("qv", F.expr(qv))
        .select(
            "vec_id",
            F.expr("aggregate(qv, CAST(0 AS BIGINT), (a, x) -> a + x)").alias("qsum"),
            F.expr(
                "aggregate(zip_with(qv, sequence(CAST(1 AS BIGINT), CAST(size(qv) AS BIGINT)), "
                "(qq, i) -> qq * i), CAST(0 AS BIGINT), (a, x) -> a + x)"
            ).alias("qdot"),
            (
                F.expr(f"aggregate({sqerr}, CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
                / F.lit(64.0)
            ).alias("mse"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# q125 — bigram collocation mining by lift (PMI without the log). The
# standard corpus-analysis pass for boilerplate phrases and multiword
# expressions: lift(w1,w2) = P(w1,w2) / (P(w1) * P(w2)), which orders
# identically to PMI (log is monotone) while staying inside correctly-
# rounded double *,/ — an IEEE-identical expression tree on both
# engines, where log()'s ulp behavior is implementation-defined. All
# counts are exact integers (one bigram-count shuffle + one unigram-
# count shuffle, both map-side combined); the three corpus totals are
# scalar broadcasts. Bigrams materialize from the token array with a
# size-guarded transform (no sequence(0,-1) descending trap on 1-token
# docs). Top-20 by (lift, w1, w2) with min support 5 — a total order,
# so LIMIT is deterministic.
#
# 100 TB shape: token explode is map-side; the only shuffles carry
# (token, count) / (bigram, count) pairs — vocabulary-sized, never
# corpus bytes. Reference has no text analytics at all (SURVEY §2.B);
# this extends the q56-q59 text family.
# --------------------------------------------------------------------------


@query(
    "q125_collocation_lift",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bg AS (
      SELECT p[1] AS w1, p[2] AS w2
      FROM d, unnest(list_zip(w, w[2:])) AS u(p)
      WHERE p[1] <> '' AND p[2] IS NOT NULL AND p[2] <> ''
    ),
    uni AS (
      SELECT tok, count(*) AS n_tok
      FROM (SELECT unnest(w) AS tok FROM d) WHERE tok <> '' GROUP BY 1
    ),
    bgc AS (SELECT w1, w2, count(*) AS n_xy FROM bg GROUP BY 1, 2),
    tot AS (
      SELECT (SELECT CAST(sum(n_tok) AS DOUBLE) FROM uni) AS nu,
             (SELECT CAST(count(*) AS DOUBLE) FROM bg) AS nbg
    )
    SELECT w1, w2, n_xy,
           CAST(n_xy AS DOUBLE) * nu * nu / (nbg * CAST(u1.n_tok AS DOUBLE) * CAST(u2.n_tok AS DOUBLE)) AS lift
    FROM bgc JOIN uni u1 ON bgc.w1 = u1.tok JOIN uni u2 ON bgc.w2 = u2.tok
    CROSS JOIN tot
    WHERE n_xy >= 5
    ORDER BY lift DESC, w1, w2 LIMIT 20
    """,
    category="text",
)
def q125(spark: SparkSession, sf: str) -> DataFrame:
    d = t(spark, sf, "documents").select(F.split("text", " ").alias("w"))
    # codegen posexplode + w[i+1] instead of the CodegenFallback
    # explode(transform(sequence -> struct)) — identical multiset
    # (docs with size(w) < 2 yield no position i < size(w) - 1)
    bg = (
        d.select("w", F.posexplode("w").alias("i", "w1"))
        .filter(F.col("i") < F.size("w") - 1)
        .select("w1", F.expr("w[i + 1]").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    uni = (
        d.select(F.explode("w").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n_tok"))
    )
    bgc = bg.groupBy("w1", "w2").agg(F.count("*").alias("n_xy"))
    tot = F.broadcast(
        uni.agg(F.sum("n_tok").cast("double").alias("nu")).crossJoin(
            bg.agg(F.count("*").cast("double").alias("nbg"))
        )
    )
    u1 = F.broadcast(uni.select(F.col("tok").alias("w1"), F.col("n_tok").alias("n1")))
    u2 = F.broadcast(uni.select(F.col("tok").alias("w2"), F.col("n_tok").alias("n2")))
    return (
        bgc.filter(F.col("n_xy") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            "n_xy",
            (
                F.col("n_xy").cast("double") * F.col("nu") * F.col("nu")
                / (F.col("nbg") * F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q127 — survivorship (golden-record selection): after dedup
# clustering — here the 40-char boilerplate-prefix fingerprint, which
# actually produces multi-member clusters on this corpus where exact
# full-text dup groups are empty — pick ONE canonical document per
# multi-member cluster by a deterministic rule cascade: prefer
# lang='en', then longest text, then smallest doc_id, and report the
# survivor with cluster evidence. This is the entity-resolution step a
# curation pipeline runs right after dedup: dedup finds the cluster,
# survivorship decides which copy feeds training. One digest shuffle
# (never text payloads beyond the fingerprint) + a per-cluster
# row_number over clusters that are tiny by construction.
# --------------------------------------------------------------------------


sql_query(
    "q127_survivorship",
    """
    WITH ranked AS (
      SELECT md5(substr(text, 1, 40)) AS digest, doc_id, lang, source, n_chars,
             count(*) OVER (PARTITION BY md5(substr(text, 1, 40))) AS n_members,
             row_number() OVER (
               PARTITION BY md5(substr(text, 1, 40))
               ORDER BY (lang = 'en') DESC, n_chars DESC, doc_id
             ) AS rn
      FROM documents
    )
    SELECT digest, doc_id AS survivor_id, lang AS survivor_lang,
           source AS survivor_source, n_chars AS survivor_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1 AND n_members > 1
    ORDER BY digest
    """,
    category="dedup",
)


# --------------------------------------------------------------------------
# q128 — containment join (asymmetric set similarity): find ordered
# pairs (a, b) where containment C(a,b) = |S(a) ∩ S(b)| / |S(a)| >= 0.8
# over 3-gram shingle sets — i.e. document a is (near-)contained in b.
# Jaccard dedup (q51/q104) misses this class: a paragraph fully
# embedded in a long document has high containment but low Jaccard,
# and partial-copy detection is exactly what curation needs for quote/
# boilerplate/subset-document removal. Shingles (q52's 3-gram unit),
# not unigrams: token-level sets over a small vocabulary make every
# document "contain" every other; 3-gram sets discriminate.
#
# Blocking is EXACT-COMPLETE by pigeonhole (the ppjoin prefix argument
# adapted to the asymmetric threshold): C(a,b) >= t means b misses at
# most |a| - ceil(t*|a|) of a's shingles, so a's
# (|a| - ceil(t*|a|) + 1) globally-rarest shingles (rarity =
# (doc-frequency, shingle) rank) must hit b in at least one. The
# threshold and prefix length are computed in INTEGER arithmetic
# (n_common * 5 >= n_tok * 4, ceil(4n/5) = (4n+4) div 5) — no float
# boundary can disagree between engines or drop the C = 0.8 edge case.
# Candidates = a's prefix shingles equi-joined against b's full shingle
# list (no-BNLJ contract, tests/test_plans.py); the exact intersection
# verify is an equi-join on (b, shingle) confined to candidates.
# Shuffles carry (doc_id, shingle-hash-sized) rows, never document
# text.
#
# Scale posture (round-12 measurement): on a PRE-near-dedup corpus the
# candidate join is quadratic in shingle document-frequency — the 500k
# synthetic corpus has sum(df^2) = 2.8e10 over 119k distinct shingles
# (hottest df 2,500), so the 500k pass did not finish in 20 min and no
# spread/plan change can help: the CANDIDATE SET is the cost, exactly
# the q53 pair-enumeration class. Pipeline position is therefore after
# near-dedup (q52/q243), where df collapses; at sf-scale inputs the
# plan is verified exact and cheap (2.2 s at sf0.01).
# --------------------------------------------------------------------------

_CONT_MIN_TOK = 10


@query(
    "q128_containment_join",
    oracle=f"""
    WITH w3 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tk AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS tok
      FROM w3
    ),
    sz AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1),
    inter AS (
      SELECT ta.doc_id AS a, tb.doc_id AS b, count(*) AS n_common
      FROM tk ta JOIN tk tb ON ta.tok = tb.tok AND ta.doc_id <> tb.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b, n_common,
           CAST(n_common AS DOUBLE) / CAST(sa.n_tok AS DOUBLE) AS containment
    FROM inter
    JOIN sz sa ON inter.a = sa.doc_id
    WHERE sa.n_tok >= {_CONT_MIN_TOK}
      AND n_common * 5 >= sa.n_tok * 4
    ORDER BY a, b
    """,
    category="dedup",
)
def q128(spark: SparkSession, sf: str) -> DataFrame:
    tk = (
        word_grams(t(spark, sf, "documents"), "doc_id", "text", 3, out="tok")
        .distinct()
        .transform(tracked_persist)
    )
    sz = tk.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    dfreq = tk.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = (
        tk.join(dfreq, "tok")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "tok")
            ),
        )
        .join(sz, "doc_id")
    )
    # integer prefix length n - ceil(4n/5) + 1; docs below the size
    # floor never emit (matches the oracle filter on sa.n_tok)
    prefix = ranked.filter(
        (F.col("n_tok") >= _CONT_MIN_TOK)
        & (
            F.col("rn")
            <= F.col("n_tok") - F.expr("(4 * n_tok + 4) div 5") + F.lit(1)
        )
    ).select(F.col("doc_id").alias("a"), "tok")
    cand = (
        prefix.join(tk.select(F.col("doc_id").alias("b"), "tok"), "tok")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # exact intersection confined to candidates: equi-join on (b, tok)
    # so per-pair work is |S(a)| hash probes, never |a| x |b| pairs
    inter = (
        cand.join(tk.select(F.col("doc_id").alias("a"), "tok"), "a")
        .join(tk.select(F.col("doc_id").alias("b"), "tok"), ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sz.select(F.col("doc_id").alias("a"), "n_tok"), "a")
        .filter(F.col("n_common") * 5 >= F.col("n_tok") * 4)
        .select(
            "a",
            "b",
            "n_common",
            (F.col("n_common").cast("double") / F.col("n_tok").cast("double")).alias(
                "containment"
            ),
        )
        .orderBy("a", "b")
    )


# --------------------------------------------------------------------------
# q131 — PQ (product-quantization) ANN: the memory-compression member
# of the similarity family (q54 exact / q55 LSH buckets / q67 IVF
# pruning / q131 PQ codes). operators/pq.py: per-subspace codebooks fit
# on a deterministic sample, one map-side encode pass (codebook as a
# single nested array literal — the plan-size lesson from the IVF
# fix), ADC scoring as m table lookups per vector inside codegen, and
# an exact-cosine re-rank of the ADC top-C (candidate-then-verify).
# Certified like q55/q67: recall floor vs the exact cosine top-k under
# the boolean oracle; the tighter recall curve is pinned in
# tests/test_operators.py.
# --------------------------------------------------------------------------

# measured 50/50 recall hits at sf0.001 AND sf0.01 (m=16, k=16,
# refine=100); the floor keeps a >3x margin like q55/q67
_PQ_MIN_HITS = 15


@query("q131_ann_pq", oracle=_ANN_ORACLE, category="similarity")
def q131(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.pq import encode_pq, fit_pq, pq_search

    emb = t(spark, sf, "embeddings").select("vec_id", "embedding")
    books = fit_pq(emb, m=16, k=16)
    codes = encode_pq(emb, books).select("vec_id", "codes")
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    ann = pq_search(
        q, codes, books, vectors=emb, top_k=_TOP_K, refine=100
    )
    return _recall_check(ann, _exact_topk(spark, sf), _PQ_MIN_HITS)


# --------------------------------------------------------------------------
# q184 — exact nDCG@10 of cosine retrieval against label relevance
# (round 5): does vector similarity retrieve same-class items, and in
# the right order? Ranking = q54's exact cosine top-10; relevance = the
# neighbor shares the query's label; nDCG normalizes by the best
# possible ordering of the retrieved set. Completes the retrieval/
# model-eval readouts (exact AUC q165, confusion q175, ECE q182).
#
# Float discipline: the log2 discount table and its prefix sums are
# computed ONCE in Python (vectors._NDCG_W/_NDCG_P) and embedded as
# exact _dlit literals in BOTH engines' queries — no engine ever calls
# log(), so libm differences cannot leak in. DCG folds the (rank, rel) pairs in sorted rank order
# on both sides (q182's ordered-fold pattern); IDCG is a literal
# prefix-sum lookup at n_rel — zero additional float reductions. The
# final ndcg is one IEEE division. Everything hash-matches exactly.
# --------------------------------------------------------------------------

def _q184_oracle() -> str:
    w_lit = "[" + ", ".join(_dlit(w, "pow") for w in _NDCG_W) + "]"
    p_lit = "[" + ", ".join(_dlit(p, "pow") for p in _NDCG_P) + "]"
    return f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qe, label AS ql
               FROM embeddings WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.q_id, q.ql, e.vec_id, e.label,
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
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id <> q.q_id
    ),
    topk AS (
      SELECT q_id, CASE WHEN ql = label THEN 1 ELSE 0 END AS rel, rank FROM (
        SELECT q_id, ql, label,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= {_TOP_K}
    ),
    folded AS (
      SELECT q_id,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             list(struct_pack(rank := rank, rel := rel) ORDER BY rank) AS arr
      FROM topk GROUP BY q_id
    )
    SELECT q_id, n_rel,
           CASE WHEN n_rel = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(list_reduce(
                       list_transform(arr, x -> CAST(x.rel AS DOUBLE) * ({w_lit})[x.rank]),
                       (a, b) -> a + b) AS DOUBLE) / ({p_lit})[n_rel + 1]
           END AS ndcg
    FROM folded ORDER BY q_id
    """


@query("q184_ndcg_exact", oracle=_q184_oracle(), category="similarity")
def q184(spark: SparkSession, sf: str) -> DataFrame:
    emb = t(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < _N_QUERIES)
    return EmbeddingSet(emb, label_col="label").retrieval_quality(queries, k=_TOP_K)


# --------------------------------------------------------------------------
# q236 — modularity of the SOURCE partition under the near-dup candidate
# graph: with documents grouped by their source column, Newman-Girvan
# modularity Q = sum_c [e_c/m - (d_c/2m)^2] over the q52 LSH candidate
# pairs says whether near-duplication concentrates within sources
# (Q near its partition-induced max: dedup per-source, then a light
# cross-source pass) or leaks across them (Q near 0: cross-source
# dedup is load-bearing — the normalized single-number companion to
# q179's raw overlap counts). Q = sum_c (4m*e_c - d_c^2) / (4m^2):
# integer until one division.
#
# 100 TB shape: q52's banded blocking builds the pairs; sources attach
# by two id-keyed joins of (id, source) rows; the rollup domain is
# |sources|.
# --------------------------------------------------------------------------


def _modularity_oracle() -> str:
    base = _minhash_oracle()
    tail = "    SELECT d1, d2 FROM pairs ORDER BY d1, d2"
    assert tail in base
    return base.replace("pairs AS (", "pairs_base AS (", 1).replace(
        tail,
        """    , pairs AS (SELECT * FROM pairs_base),
    pe AS (
      SELECT p.d1, p.d2, da.source AS s1, db.source AS s2
      FROM pairs p
      JOIN documents da ON da.doc_id = p.d1
      JOIN documents db ON db.doc_id = p.d2
    ),
    deg AS (
      SELECT node, src, COUNT(*) AS d FROM (
        SELECT d1 AS node, s1 AS src FROM pe
        UNION ALL SELECT d2 AS node, s2 AS src FROM pe
      ) GROUP BY 1, 2
    ),
    dsum AS (SELECT src, CAST(SUM(d) AS BIGINT) AS d_c FROM deg GROUP BY 1),
    intra AS (
      SELECT s1 AS src, CAST(COUNT(*) AS BIGINT) AS e_c
      FROM pe WHERE s1 = s2 GROUP BY 1
    ),
    terms AS (
      SELECT ds.src, COALESCE(i.e_c, 0) AS e_c, ds.d_c
      FROM dsum ds LEFT JOIN intra i ON i.src = ds.src
    ),
    s AS (
      -- sum(d_c) over sources counts every edge endpoint once = 2m,
      -- so m needs no separate scalar attach
      SELECT CAST(COUNT(*) AS BIGINT) AS n_src,
             CAST(SUM(e_c) AS BIGINT) AS s_e,
             CAST(SUM(d_c * d_c) AS BIGINT) AS s_d2,
             CAST(SUM(d_c) AS BIGINT) // 2 AS m
      FROM terms
    )
    SELECT m AS n_edges, n_src AS n_sources_in_graph, s_e AS intra_edges,
           CAST(4 * m * s_e - s_d2 AS BIGINT) AS q_num,
           CAST(4 * m * s_e - s_d2 AS DOUBLE)
             / (4.0 * CAST(m AS DOUBLE) * CAST(m AS DOUBLE)) AS modularity
    FROM s""",
    )


@query(
    "q236_source_modularity",
    oracle=_modularity_oracle(),
    category="dedup",
    doc="Newman modularity of the source partition under the LSH pair graph",
)
def q236(spark: SparkSession, sf: str) -> DataFrame:
    pairs = _minhash_band_pairs(spark, sf)
    src = t(spark, sf, "documents").select("doc_id", "source")
    pe = (
        pairs.join(
            src.select(F.col("doc_id").alias("d1"), F.col("source").alias("s1")),
            "d1",
        )
        .join(
            src.select(F.col("doc_id").alias("d2"), F.col("source").alias("s2")),
            "d2",
        )
    )
    deg = (
        pe.select(F.col("d1").alias("node"), F.col("s1").alias("src"))
        .unionAll(pe.select(F.col("d2").alias("node"), F.col("s2").alias("src")))
        .groupBy("node", "src")
        .agg(F.count("*").alias("d"))
    )
    dsum = deg.groupBy("src").agg(F.sum("d").alias("d_c"))
    intra = (
        pe.filter(F.col("s1") == F.col("s2"))
        .groupBy(F.col("s1").alias("src"))
        .agg(F.count("*").alias("e_c"))
    )
    terms = dsum.join(intra, "src", "left").select(
        "src", F.coalesce("e_c", F.lit(0)).alias("e_c"), "d_c"
    )
    # sum(d_c) counts every edge endpoint once = 2m: no scalar attach,
    # the whole readout is ONE aggregate over the |sources| rows
    s = terms.agg(
        F.count("*").alias("n_src"),
        F.sum("e_c").alias("s_e"),
        F.sum(F.col("d_c") * F.col("d_c")).alias("s_d2"),
        F.expr("CAST(sum(d_c) AS BIGINT) div 2").alias("m"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    q_num = 4 * F.col("m") * F.col("s_e") - F.col("s_d2")
    return s.select(
        F.col("m").alias("n_edges"),
        F.col("n_src").alias("n_sources_in_graph"),
        F.col("s_e").alias("intra_edges"),
        q_num.alias("q_num"),
        (q_num.cast("double") / (F.lit(4.0) * d("m") * d("m"))).alias("modularity"),
    )


# --------------------------------------------------------------------------
# q263 — exact substring-span duplication audit (the ExactSubstr
# operator class of Lee et al., "Deduplicating Training Data Makes
# Language Models Better", ACL 2022): near-dedup (q52/q243) catches
# mostly-similar DOCUMENTS; this catches verbatim PASSAGES repeated
# across otherwise-different documents — boilerplate, licenses,
# templated spans — the duplication mode document-level dedup is blind
# to. Every 20-token span is fingerprinted (h31 of the span string —
# fingerprint semantics: a hash collision counts as a duplicate,
# identically in both engines); a span instance is duplicated when its
# fingerprint occurs >= 2 times in the corpus (cross-doc or within-doc,
# the Lee et al. criterion). Per doc: span count, duplicated-span
# count, and the duplicated fraction in floored micros — the per-doc
# readout a pipeline thresholds on before span-level excision.
#
# Position vs q194 / TextCorpus.dup_span_coverage: q194 measures TOKEN
# coverage (exact interval union of positions inside 5-grams shared by
# >= 2 DISTINCT docs — "how much of this doc is duplicated text");
# q263 measures SPAN-INSTANCE multiplicity at the Lee-et-al k=20
# excision operating point, counting within-doc repeats too ("how many
# excisable spans does this doc carry"). A doc full of internal
# boilerplate repeats scores high here and zero on q194's distinct-doc
# criterion; the two thresholds gate different pipeline stages.
#
# 100 TB shape: one token scan -> span explode (linear, ~n_tokens rows
# per doc), one fingerprint-keyed count aggregate and one fingerprint
# equi-join back — every shuffle carries (digest, id) pairs only,
# never span text (the q179 digest-only-shuffle contract).
# --------------------------------------------------------------------------

_SPAN_K = 20


def _q263_oracle() -> str:
    return f"""
    WITH w3 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    spans AS (
      SELECT doc_id,
             {duck_h31(f"array_to_string(w[i:i + {_SPAN_K - 1}], ' ')")} AS hs
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_SPAN_K - 1})) AS i
            FROM w3 WHERE len(w) >= {_SPAN_K})
    ),
    freq AS (SELECT hs, CAST(count(*) AS BIGINT) AS n FROM spans GROUP BY hs)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN f.n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           CAST(1000000 * SUM(CASE WHEN f.n >= 2 THEN 1 ELSE 0 END) // count(*)
                AS BIGINT) AS dup_fraction_micros
    FROM spans s JOIN freq f ON f.hs = s.hs
    GROUP BY s.doc_id ORDER BY s.doc_id
    """


@query(
    "q263_substring_dedup",
    oracle=_q263_oracle(),
    category="dedup",
    doc="Lee-et-al exact 20-token-span duplication: per-doc duplicated-span fraction, digest-only shuffles",
)
def q263(spark: SparkSession, sf: str) -> DataFrame:
    docs = spread_input(t(spark, sf, "documents"), key="doc_id")
    spans = word_grams(docs, "doc_id", "text", _SPAN_K, out="span").select(
        "doc_id", F.expr(h31("span")).alias("hs")
    )
    freq = spans.groupBy("hs").agg(F.count("*").alias("n"))
    return (
        spans.join(freq, "hs")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("n") >= 2).cast("bigint")).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.expr("1000000 * n_dup_spans div n_spans").alias(
                "dup_fraction_micros"
            ),
        )
        .orderBy("doc_id")
    )
