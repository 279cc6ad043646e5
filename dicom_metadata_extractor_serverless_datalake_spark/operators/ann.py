"""IVF (inverted-file) approximate nearest-neighbor search over an
embedding column — the k-means-quantized scale path for similarity
search (complementing the hash-based LSH variant, queries/llm.py q55).

Shape at 100 TB:
- ``fit_ivf``: train k-means on a *sample* of vectors (k-means|| via
  Spark ML scales linearly in sample size; centroids are tiny);
- ``assign_buckets``: one map-side pass stamps every vector with its
  nearest centroid id — write the corpus partitioned/bucketed by
  ``bucket`` so a probe reads only matching files;
- ``ivf_search``: queries probe their ``n_probe`` nearest centroids and
  score only those buckets: cost O(n * n_probe / k) per query instead
  of O(n), recall tuned by n_probe.

Centroid distance scoring stays in the JVM (``aggregate``/``zip_with``
expressions over a broadcast centroid table) — no Python in the
per-vector hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """Dot product of two array expressions as SQL text: every product
    in double, summed by one sequential left fold, so the value does
    not depend on partitioning and DuckDB's ``list_reduce`` replays it
    bit for bit. The one dot kernel of the facades, the query corpus
    and the ANN/PQ operators."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def norm_sql(c: str) -> str:
    """Euclidean norm of an array expression as SQL text: ``sqrt`` of
    :func:`dot_sql`'s left fold of ``c`` with itself (the squares come
    from ``transform``, the same products in the same order)."""
    return (
        f"sqrt(aggregate(transform({c}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    )


def _dlit(x: float, pow_fn: str) -> str:
    """An EXACT double literal as integer-mantissa x power-of-two
    arithmetic (``pow_fn``: "power" in Spark SQL, "pow" in DuckDB).
    Decimal strings are not safe cross-engine: DuckDB's string->double
    parse lands one ulp off the correctly-rounded value for some
    shortest-repr inputs (measured: repr(1/log2(6))), while integer
    mantissas and powers of two are exact everywhere."""
    if x == 0.0:
        return "CAST(0 AS DOUBLE)"
    m, e = math.frexp(x)
    m2 = int(m * (1 << 53))
    assert math.ldexp(m2, e - 53) == x
    return f"(CAST({m2} AS DOUBLE) * {pow_fn}(CAST(2 AS DOUBLE), {e - 53}))"


def fit_ivf(
    vectors: DataFrame,
    vec_col: str = "embedding",
    k: int = 16,
    sample_fraction: float = 1.0,
    seed: int = 42,
) -> DataFrame:
    """Train the coarse quantizer; returns a small (centroid_id,
    centroid array<double>) DataFrame (broadcastable)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sample = vectors if sample_fraction >= 1.0 else vectors.sample(
        fraction=sample_fraction, seed=seed
    )
    ml_df = sample.select(array_to_vector(F.col(vec_col)).alias("features"))
    model = KMeans(k=k, seed=seed, featuresCol="features").fit(ml_df)
    spark = vectors.sparkSession
    cents = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(cents, "centroid_id int, centroid array<double>")


# Past this k, per-centroid expression unrolling stops paying: Catalyst
# plan size and codegen grow linearly in k while the runtime loop is the
# same work. The matrix path keeps plan size O(1) expressions + one
# O(k*dim) constant (data, not code).
_UNROLL_MAX_K = 32


def _nearest_centroids(
    df: DataFrame, centroids: DataFrame, vec_col: str, n: int, out_col: str
) -> DataFrame:
    """Stamp each row with its n nearest centroid ids (euclidean).

    Fully map-side in both regimes — no join, no shuffle (a cross-join
    + per-row window would shuffle the full vector data just to rank k
    candidates, and a broadcast-nested-loop + min_by re-aggregation
    would shuffle each embedding through the argmin):

    - k <= _UNROLL_MAX_K: distances unrolled as per-centroid constant-
      folded expressions (fastest codegen at IVF's typical coarse k);
    - k > _UNROLL_MAX_K: the centroid matrix rides along as ONE nested
      array literal (a single Catalyst constant — plan/codegen size
      stays O(1) in k) and a runtime ``transform`` over ``sequence(0,
      k-1)`` computes the k distances per row. This is the shape that
      survives IVF's realistic parameterization (k in the thousands,
      dim in the hundreds => the constant is a few MB of task binary,
      equivalent to a broadcast variable, while unrolling would emit
      thousands of expressions).

    Both regimes sort (distance, centroid_id) structs for the
    deterministic tie-break, and both drop the constant |v|^2 term:
    argmin over centroids only needs -2*(v.c) + |c|^2."""
    cents = sorted(
        (r["centroid_id"], list(r["centroid"])) for r in centroids.collect()
    )
    k = len(cents)
    if k > _UNROLL_MAX_K:
        return _nearest_centroids_matrix(df, cents, vec_col, n, out_col)
    dist_exprs = []
    for cid, cvec in cents:
        arr = "array(" + ", ".join(f"CAST({x!r} AS DOUBLE)" for x in cvec) + ")"
        c2 = sum(x * x for x in cvec)
        dot = dot_sql(vec_col, arr)
        dist_exprs.append(
            f"named_struct('d', -2 * ({dot}) + CAST({c2!r} AS DOUBLE), 'cid', {cid})"
        )
    ranked = (
        "transform(slice(array_sort(array("
        + ", ".join(dist_exprs)
        + f")), 1, {n}), s -> s.cid)"
    )
    out = df.withColumn("_probes", F.expr(ranked))
    return _emit_probes(out, n, out_col)


def _nearest_centroids_matrix(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
    n: int,
    out_col: str,
) -> DataFrame:
    """Large-k assignment: centroid matrix as a single array<array<
    double>> literal, distances via a runtime loop. ``cents`` must be
    sorted by centroid_id and contiguous from 0 (fit_ivf guarantees
    both), so the loop index IS the centroid id."""
    assert [cid for cid, _ in cents] == list(range(len(cents)))
    k = len(cents)
    cent_mat = F.lit([c for _, c in cents])
    c2 = F.lit([float(sum(x * x for x in c)) for _, c in cents])
    v = F.col(vec_col).cast("array<double>")

    def dist_struct(i: F.Column) -> F.Column:
        at = (i + F.lit(1)).cast("int")
        dot = F.aggregate(
            F.zip_with(v, F.element_at(cent_mat, at), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.struct(
            (F.lit(-2.0) * dot + F.element_at(c2, at)).alias("d"),
            i.alias("cid"),
        )

    structs = F.transform(F.sequence(F.lit(0), F.lit(k - 1)), dist_struct)
    ranked = F.transform(F.slice(F.array_sort(structs), 1, n), lambda s: s["cid"])
    out = df.withColumn("_probes", ranked)
    return _emit_probes(out, n, out_col)


def _emit_probes(out: DataFrame, n: int, out_col: str) -> DataFrame:
    """Surface the probe list as ``out_col`` WITHOUT re-evaluating the
    assignment tree. Two optimizer traps cost a full second assignment
    pass per row if stepped on (measured as doubled map time in q67/
    q146 plans — the k dot products are the dominant map-side cost):

    - the assignment column is nullable, so a downstream equi-join on
      it makes InferFiltersFromConstraints add ``isnotnull(bucket)``,
      which pushdown inlines as the WHOLE centroid-distance tree in a
      Filter below the Project. ``coalesce(.., -1)`` makes the column
      non-nullable so no filter is ever inferred (the sentinel is dead
      code: a non-empty centroid set always yields an id).
    - a plain ``explode(_probes)`` makes InferFiltersFromGenerate add
      ``size(_probes) > 0`` — same inlining. ``explode_outer`` is
      exempt; the null-drop happens on the cheap OUTPUT attribute.
    """
    if n == 1:
        return out.withColumn(
            out_col, F.coalesce(F.col("_probes")[0], F.lit(-1))
        ).drop("_probes")
    return (
        out.withColumn(out_col, F.explode_outer("_probes"))
        .filter(F.col(out_col).isNotNull())
        .drop("_probes")
    )


def assign_buckets(
    vectors: DataFrame, centroids: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Corpus-side: one bucket per vector (its nearest centroid)."""
    return _nearest_centroids(vectors, centroids, vec_col, 1, "bucket")


def ivf_search(
    queries: DataFrame,
    bucketed: DataFrame,
    centroids: DataFrame,
    query_vec_col: str = "qe",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    top_k: int = 10,
    n_probe: int = 2,
) -> DataFrame:
    """Cosine top-k per query, scanning only the probed buckets.

    Returns (query_id, id, cosine, rank), rank 1..top_k."""
    probes = _nearest_centroids(queries, centroids, query_vec_col, n_probe, "bucket")
    dot = dot_sql(query_vec_col, vec_col)
    qn = norm_sql(query_vec_col)
    en = norm_sql(vec_col)
    scored = (
        F.broadcast(probes)
        .join(bucketed, "bucket")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("cosine", F.expr(f"({dot}) / (({qn}) * ({en}))"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(query_id_col, id_col, "cosine", "rank")
        .orderBy(query_id_col, "rank")
    )
