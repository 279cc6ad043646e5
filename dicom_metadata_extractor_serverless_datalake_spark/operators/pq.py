"""Product quantization (PQ) for approximate nearest-neighbor search:
the memory-side of the ANN family (IVF prunes WHAT you scan,
PQ compresses WHAT you hold).

Vectors are split into ``m`` contiguous subspaces; each subspace gets
its own ``k``-centroid codebook (Lloyd's k-means on a driver-side
sample — codebooks are m*k*(dim/m) doubles, kilobytes); a vector is
stored as ``m`` small codes (one byte each at k<=256) instead of
``dim`` floats — 32x compression at dim=64/m=8. Search runs ADC
(asymmetric distance computation, Jegou et al., PAMI'11): the query
builds one lookup table of its inner products against every codebook
centroid, then each database vector scores as m table lookups — no
float vector is touched until an optional exact re-rank of the top
candidates.

Spark shape (the part that must survive 100 TB):
- fit: driver-side numpy on a SAMPLE (sorted collect -> deterministic);
- encode: ONE map-side expression pass — the codebook rides along as a
  single nested array literal (the `_nearest_centroids_matrix` lesson
  from operators/ann.py: constant data, not unrolled code), per-vector
  cost O(m*k*dsub), no join, no shuffle;
- search: queries broadcast WITH their lookup tables (computed
  map-side on the query rows); scoring each (query, code-row) pair is
  ``m`` array lookups inside whole-stage codegen; only the per-query
  top-k window shuffles, and it shuffles (q_id, vec_id, score) rows —
  never vectors;
- refine: exact cosine re-rank joins the top-C candidate ids back to
  the raw vectors — C rows per query, the candidate-then-verify
  pattern the dedup family uses.

All scoring is on unit-normalized vectors, so ADC inner product
approximates cosine and recall is measured against the exact cosine
top-k (q54).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ann import dot_sql, norm_sql


def _unit(vec_col: str) -> str:
    n = norm_sql(vec_col)
    return f"transform({vec_col}, x -> CAST(x AS DOUBLE) / {n})"


def fit_pq(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    k: int = 16,
    sample_rows: int = 20000,
    seed: int = 42,
    iters: int = 12,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks on a sample; returns
    ``codebooks[m][k][dim/m]``. Deterministic: the sample is the first
    ``sample_rows`` ids in sorted order, k-means++ init is seeded, and
    Lloyd's iterations are order-free (numpy argmin + means)."""
    import numpy as np

    rows = (
        vectors.select(id_col, F.expr(_unit(vec_col)).alias("v"))
        .orderBy(id_col)
        .limit(sample_rows)
        .collect()
    )
    x = np.asarray([r["v"] for r in rows], dtype=np.float64)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books: list[list[list[float]]] = []
    for s in range(m):
        xs = x[:, s * dsub : (s + 1) * dsub]
        # k-means++ seeding
        cents = [xs[rng.integers(len(xs))]]
        for _ in range(1, k):
            d2 = np.min(
                [((xs - c) ** 2).sum(axis=1) for c in cents], axis=0
            )
            p = d2 / d2.sum() if d2.sum() > 0 else None
            cents.append(xs[rng.choice(len(xs), p=p)])
        c = np.asarray(cents)
        for _ in range(iters):
            d = ((xs[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for j in range(k):
                pts = xs[assign == j]
                if len(pts):
                    c[j] = pts.mean(axis=0)
        books.append([[float(v) for v in row] for row in c])
    return books


def encode_pq(
    vectors: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Stamp each row with ``codes array<int>`` (length m): per
    subspace, the nearest codebook centroid of the unit-normalized
    subvector. Pure map-side — the codebook is ONE nested array
    literal; argmin runs as a runtime loop (plan size O(1) in m*k)."""
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    books = F.lit(codebooks)  # array<array<array<double>>>
    # Materialize the unit-normalized vector in its OWN projection.
    # Inlined, the normalize tree (64 mults + fold + sqrt) re-evaluates
    # inside every (subspace, centroid) lambda — m*k=256 times per row
    # under interpreted HOF evaluation (HOFs are CodegenFallback).
    # Measured: 100 ms/row inlined vs ~1 ms/row hoisted. CollapseProject
    # re-inlines any non-cheap column referenced once, so the guard
    # below references _pq_vn a second time (degenerate empty-vector
    # branch) to pin the projection boundary.
    vn_col = "_pq_vn"
    vectors = vectors.withColumn(vn_col, F.expr(_unit(vec_col)))
    v = F.col(vn_col)

    def code_for(s: F.Column) -> F.Column:
        sub = F.slice(v, (s * dsub + 1).cast("int"), dsub)
        book = F.element_at(books, (s + 1).cast("int"))

        def dist(c: F.Column) -> F.Column:
            cent = F.element_at(book, (c + 1).cast("int"))
            return F.struct(
                F.aggregate(
                    F.zip_with(sub, cent, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ).alias("d"),
                c.cast("int").alias("code"),
            )

        ranked = F.array_sort(F.transform(F.sequence(F.lit(0), F.lit(k - 1)), dist))
        return F.element_at(ranked, 1)["code"]

    codes = F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)
    # second textual reference to _pq_vn: blocks CollapseProject from
    # inlining the normalize tree back into the 256-lambda code tree
    codes = F.when(F.size(v) > 0, codes).otherwise(
        F.array_repeat(F.lit(0), m)
    )
    return vectors.withColumn("codes", codes).drop(vn_col)


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    vectors: DataFrame | None = None,
    q_vec_col: str = "qe",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    top_k: int = 10,
    refine: int | None = None,
) -> DataFrame:
    """ADC top-k per query over the coded corpus; with ``refine=C``,
    the ADC top-C are re-ranked by exact cosine against ``vectors``
    (candidate-then-verify). Returns (q_id, vec_id, cosine-or-ADC
    score as ``cosine``, rank)."""
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])
    books = F.lit(codebooks)
    qv = F.expr(_unit(q_vec_col))

    # per-query LUT: lut[s][c] = <q_sub_s, centroid_{s,c}> (map-side)
    def lut_for(s: F.Column) -> F.Column:
        sub = F.slice(qv, (s * dsub + 1).cast("int"), dsub)
        book = F.element_at(books, (s + 1).cast("int"))
        return F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda c: F.aggregate(
                F.zip_with(sub, F.element_at(book, (c + 1).cast("int")), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ),
        )

    q = queries.withColumn(
        "_lut", F.transform(F.sequence(F.lit(0), F.lit(m - 1)), lut_for)
    ).select(q_id_col, q_vec_col, "_lut")

    # score = sum_s lut[s][codes[s]] — m array lookups per row, codegen
    score = F.aggregate(
        F.zip_with(
            F.col("_lut"),
            F.col("codes"),
            lambda lut, code: F.element_at(lut, code + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(q)
        .crossJoin(codes)
        .filter(F.col(id_col) != F.col(q_id_col))
        .withColumn("_adc", score)
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("_adc"), F.col(id_col))
    c = refine or top_k
    top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= c)
        .select(q_id_col, q_vec_col, id_col, "_adc")
    )
    if refine is None or vectors is None:
        return (
            top.withColumnRenamed("_adc", "cosine")
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
                ),
            )
            .filter(F.col("rank") <= top_k)
            .drop(q_vec_col)
            .orderBy(q_id_col, "rank")
        )
    exact = (
        top.join(vectors.select(id_col, "embedding"), id_col)
        .withColumn("_d", F.expr(dot_sql(q_vec_col, "embedding")))
        .withColumn("_qn", F.expr(norm_sql(q_vec_col)))
        .withColumn("_en", F.expr(norm_sql("embedding")))
        .select(
            q_id_col,
            id_col,
            (F.col("_d") / (F.col("_qn") * F.col("_en"))).alias("cosine"),
        )
    )
    w2 = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= top_k)
        .orderBy(q_id_col, "rank")
    )
