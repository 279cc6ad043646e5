"""Embedding-curation facade: the vector-side counterpart of
``TextCorpus``.

``EmbeddingSet`` is the one implementation of the corpus's embedding
kernels (class prototypes q172, intra-class outliers q173, kNN label
audit q166, hard negatives q223, nDCG q184, truncation audit q216, JL
distortion q288, and q54's exact cosine top-k shape) as one chainable
API over any DataFrame with an id column and an
``array<float|double>`` vector column:

    vs = EmbeddingSet(df, id_col="vec_id", vec_col="embedding",
                      label_col="label")
    vs.prototypes()            # exact per-label centroid components
    vs.outliers(k=3)           # least prototype-like vectors per label
    vs.label_audit(k=5)        # neighbor-majority mislabel flags
    vs.topk_similar(queries)   # exact cosine top-k vs a query frame

Those corpus queries call these methods; this module imports nothing
from ``queries/`` (its kernels come from ``operators/``: ``dot_sql``,
``norm_sql`` and ``_dlit`` from ann.py, the hashes from dedup.py).

Everything is deterministic and exact where the corpus queries are:
prototype sums ride the 1e-6 fixed-point grid (order-free integer
sums), cosine folds are sequential so scores don't depend on
partitioning, and anchor sampling uses the portable md5-based hash.
Scale shapes are the corpus queries' shapes: broadcast small sides,
one streamed pass over the vector table, WindowGroupLimit-capped
per-group top-k — no all-pairs joins anywhere.
"""

from __future__ import annotations

import hashlib
import math
from itertools import accumulate

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators.ann import _dlit, dot_sql, norm_sql
from .operators.dedup import h31, salted_h31

_SCALE = 1_000_000

# nDCG discount table 1/log2(rank + 1) for ranks 1..10 and its prefix
# sums (the ideal DCG at n relevant), computed once in Python and
# embedded as exact literals (_dlit) in both engines' SQL, so no
# engine ever evaluates log()
_NDCG_W = [1.0 / math.log2(r + 1) for r in range(1, 11)]
_NDCG_P = list(accumulate(_NDCG_W, initial=0.0))


def _jl_sign(i: int, j: int) -> int:
    """±1 from md5('jl-i-j') — evaluated in Python once; the engines
    only ever see the resulting sign literals."""
    h = int(hashlib.md5(f"jl-{i}-{j}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def _jl_y_sql(i: int, arr: str, bracket: bool, d_in: int = 64) -> str:
    """Projected coordinate ``i`` of the integer array ``arr`` as SQL
    text: the signed sum of its first ``d_in`` components. Index syntax
    is per-engine: DuckDB brackets are 1-based (``bracket=True``),
    Spark brackets are 0-based, so the Spark side spells element_at."""
    acc = (lambda j: f"{arr}[{j + 1}]") if bracket else (
        lambda j: f"element_at({arr}, {j + 1})"
    )
    terms = "".join(
        f" {'+' if _jl_sign(i, j) > 0 else '-'} {acc(j)}" for j in range(d_in)
    )
    return f"CAST(0{terms} AS BIGINT)"


class EmbeddingSet:
    """A set of labeled (or unlabeled) vectors flowing through
    curation operators. ``label_col`` is required only by the
    class-conditional methods (prototypes/outliers/label_audit)."""

    def __init__(
        self,
        df: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        label_col: str | None = None,
    ):
        self.df = df
        self.id_col = id_col
        self.vec_col = vec_col
        self.label_col = label_col

    def _require_label(self, op: str) -> str:
        if not self.label_col:
            raise ValueError(f"EmbeddingSet.{op} needs label_col")
        return self.label_col

    # ---- class-conditional curation ----

    def _cells(self) -> DataFrame:
        """Unordered (label, dim, sum_scaled, n_vals, mean_dim) cells:
        order-free fixed-point sums per (label, dim), mean via one IEEE
        division. Key domain is |labels| x dim whatever the row count."""
        lab = self._require_label("prototypes")
        v = self.df.select(
            F.col(lab).alias("label"),
            F.posexplode(self.vec_col).alias("dim", "xf"),
        ).select("label", "dim", F.col("xf").cast("double").alias("x"))
        s = F.sum(F.floor(F.col("x") * _SCALE))
        return v.groupBy("label", "dim").agg(
            s.cast("bigint").alias("sum_scaled"),
            F.count("*").alias("n_vals"),
            (
                s.cast("double")
                / (F.count("*").cast("double") * F.lit(float(_SCALE)))
            ).alias("mean_dim"),
        )

    def prototypes(self) -> DataFrame:
        """Exact per-label centroid components (q172), ordered by
        (label, dim)."""
        return self._cells().orderBy("label", "dim")

    def centroids(self) -> DataFrame:
        """Per-label centroid as a dim-ordered array — |labels| rows,
        the broadcast side of every scoring pass. Built from the
        unordered cells: a global sort under the collect would cost a
        range exchange for nothing."""
        return self._cells().groupBy("label").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "mean_dim"))),
                lambda x: x["mean_dim"],
            ).alias("ce")
        )

    def outliers(self, k: int = 3) -> DataFrame:
        """Least prototype-like vectors per label (q173): cosine of
        every vector against its OWN class centroid, bottom-k per label
        (WindowGroupLimit-capped). Returns (label, rk, id, cosine)."""
        lab = self._require_label("outliers")
        scored = (
            self.df.withColumnRenamed(lab, "label")
            .join(F.broadcast(self.centroids().withColumn("cn", F.expr(norm_sql("ce")))), "label")
            .withColumn("dot", F.expr(dot_sql("ce", self.vec_col)))
            .withColumn("en", F.expr(norm_sql(self.vec_col)))
            .select(
                "label",
                F.col(self.id_col),
                (F.col("dot") / (F.col("cn") * F.col("en"))).alias("cosine"),
            )
        )
        w = Window.partitionBy("label").orderBy("cosine", self.id_col)
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("label", "rk", self.id_col, "cosine")
            .orderBy("label", "rk")
        )

    def _scores(self, q: DataFrame, *extra) -> DataFrame:
        """Cosine of every (q_id, qe, ...) row of the small frame ``q``
        against every other vector of this set: (q_id, *extra, id,
        cosine). ``q`` broadcasts; the set streams once. Each norm is
        folded once per vector, on its own side of the join."""
        did, vec = self.id_col, self.vec_col
        return (
            F.broadcast(q.withColumn("qn", F.expr(norm_sql("qe"))))
            .crossJoin(self.df.withColumn("en", F.expr(norm_sql(vec))))
            .filter(F.col(did) != F.col("q_id"))
            .withColumn("dot", F.expr(dot_sql("qe", vec)))
            .select(
                "q_id",
                *extra,
                F.col(did),
                (F.col("dot") / (F.col("qn") * F.col("en"))).alias("cosine"),
            )
        )

    def _anchor_scores(self, op: str, anchors: int, salt: str) -> DataFrame:
        """:meth:`_scores` of a deterministic FIXED-COUNT anchor set —
        the ``anchors`` rows with the smallest salted portable hash, a
        TakeOrderedAndProject, no global sort: (q_id, own_label, id,
        n_label, cosine). A fixed COUNT (not a fraction) keeps the
        audits linear in table size: work is |anchors| x |rows|."""
        lab = self._require_label(op)
        did = self.id_col
        anchor_df = (
            self.df.orderBy(salted_h31(did, salt), F.col(did))
            .limit(anchors)
            .select(
                F.col(did).alias("q_id"),
                F.col(self.vec_col).alias("qe"),
                F.col(lab).alias("own_label"),
            )
        )
        return self._scores(anchor_df, "own_label", F.col(lab).alias("n_label"))

    def label_audit(
        self, anchors: int = 100, k: int = 5, salt: str = "a166-"
    ) -> DataFrame:
        """kNN label-noise audit (q166): for a fixed-count anchor set
        (see :meth:`_anchor_scores`), exact cosine k-NN majority vote
        vs own label.
        Returns (q_id, own_label, maj_label, maj_votes, mislabeled).
        Per-anchor top-k is WindowGroupLimit-capped."""
        did = self.id_col
        scored = self._anchor_scores("label_audit", anchors, salt)
        wk = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col(did))
        votes = (
            scored.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= k)
            .groupBy("q_id", "own_label", "n_label")
            .agg(F.count("*").alias("votes"))
        )
        wv = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("n_label"))
        return (
            votes.withColumn("vr", F.row_number().over(wv))
            .filter(F.col("vr") == 1)
            .select(
                "q_id",
                "own_label",
                F.col("n_label").alias("maj_label"),
                F.col("votes").alias("maj_votes"),
                (F.col("n_label") != F.col("own_label")).alias("mislabeled"),
            )
            .orderBy("q_id")
        )

    def hard_negatives(self, anchors: int = 20, salt: str = "hn-") -> DataFrame:
        """Triplet mining (q223): for each of a fixed-count anchor set
        (see :meth:`_anchor_scores`), the most-similar vector with a
        DIFFERENT label (the hardest negative) next to the most-similar
        SAME-label vector (the nearest positive) and the contrastive
        margin between them.
        Returns (q_id, own_label, neg_id, neg_label, neg_cosine, pos_id,
        pos_cosine, margin). Per-anchor top-1 is capped map-side by the
        partial WindowGroupLimit."""
        did = self.id_col
        scored = self._anchor_scores("hard_negatives", anchors, salt)
        wk = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col(did))
        neg = (
            scored.filter(F.col("n_label") != F.col("own_label"))
            .withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") == 1)
            .select(
                "q_id",
                "own_label",
                F.col(did).alias("neg_id"),
                F.col("n_label").alias("neg_label"),
                F.col("cosine").alias("neg_cosine"),
            )
        )
        pos = (
            scored.filter(F.col("n_label") == F.col("own_label"))
            .withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") == 1)
            .select(
                "q_id",
                F.col(did).alias("pos_id"),
                F.col("cosine").alias("pos_cosine"),
            )
        )
        return (
            neg.join(pos, "q_id")
            .select(
                "q_id",
                "own_label",
                "neg_id",
                "neg_label",
                "neg_cosine",
                "pos_id",
                "pos_cosine",
                (F.col("pos_cosine") - F.col("neg_cosine")).alias("margin"),
            )
            .orderBy("q_id")
        )

    # ---- similarity ----

    def topk_similar(self, queries: DataFrame, k: int = 10) -> DataFrame:
        """Exact cosine top-k of this set against a (small) query frame
        (q54's shape): query side broadcasts, candidates stream, ranks
        are WindowGroupLimit-capped. ``queries`` needs the same id/vec
        column names. Returns (q_id, id, cosine, rank)."""
        did = self.id_col
        q = queries.select(
            F.col(did).alias("q_id"), F.col(self.vec_col).alias("qe")
        )
        w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col(did))
        return (
            self._scores(q)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy("q_id", "rank")
        )

    def retrieval_quality(self, queries: DataFrame, k: int = 10) -> DataFrame:
        """Exact nDCG@k of cosine retrieval against label relevance
        (q184): rank this set against each query vector, score a
        neighbor as relevant when it shares the query's label, fold the
        exact log2-discount DCG in rank order, and normalize by the
        literal prefix-sum IDCG. Requires ``label_col`` on both frames.
        Returns (q_id, n_rel, ndcg)."""
        label = self._require_label("retrieval_quality")
        if k > len(_NDCG_W):
            raise ValueError(f"k={k} exceeds the precomputed discount table ({len(_NDCG_W)})")
        w_lit = "array(" + ", ".join(_dlit(w, "power") for w in _NDCG_W[:k]) + ")"
        p_lit = "array(" + ", ".join(_dlit(p, "power") for p in _NDCG_P[: k + 1]) + ")"
        # the |queries| x k top-k rows stream and both label lookups
        # broadcast, so the q_id grouping below reuses the rank
        # window's partitioning instead of adding an exchange; the
        # set-side lookup ships two scalar columns per vector
        rel = (
            self.topk_similar(queries, k)
            .join(
                F.broadcast(
                    queries.select(
                        F.col(self.id_col).alias("q_id"), F.col(label).alias("ql")
                    )
                ),
                "q_id",
            )
            .join(F.broadcast(self.df.select(self.id_col, label)), self.id_col)
            .select(
                "q_id",
                "rank",
                F.when(F.col("ql") == F.col(label), 1).otherwise(0).alias("rel"),
            )
        )
        folded = rel.groupBy("q_id").agg(
            F.sum("rel").alias("n_rel"),
            F.sort_array(F.collect_list(F.struct("rank", "rel"))).alias("arr"),
        )
        return folded.select(
            "q_id",
            "n_rel",
            F.when(F.col("n_rel") == 0, F.lit(0.0))
            .otherwise(
                F.expr(
                    f"aggregate(arr, CAST(0 AS DOUBLE), (acc, x) -> "
                    f"acc + CAST(x.rel AS DOUBLE) * element_at({w_lit}, x.rank))"
                )
                / F.expr(f"element_at({p_lit}, CAST(n_rel + 1 AS INT))")
            )
            .alias("ndcg"),
        ).orderBy("q_id")

    def truncation_audit(self, head_dims: int = 32) -> DataFrame:
        """Matryoshka truncation audit (q216's shape): per label, the
        distribution of the head-energy share — algebraically the
        squared cosine between each vector and its first-``head_dims``
        truncation — in floored micros. Map-side per-row array folds;
        the only aggregate is |labels|-sized. Requires label_col."""
        lab = self._require_label("truncation_audit")
        sq = "(a, b) -> a + b"
        v = self.df.select(
            F.col(lab).alias("label"),
            F.expr(
                f"aggregate(transform(slice({self.vec_col}, 1, {head_dims}), "
                f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                f"CAST(0 AS DOUBLE), {sq})"
            ).alias("eh"),
            F.expr(
                f"aggregate(transform({self.vec_col}, "
                f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
                f"CAST(0 AS DOUBLE), {sq})"
            ).alias("ef"),
        )
        m = v.filter(F.col("ef") > 0).select(
            "label",
            F.expr("CAST(floor(1000000.0 * (eh / ef)) AS BIGINT)").alias("share"),
        )
        return (
            m.groupBy("label")
            .agg(
                F.count("*").alias("n_vectors"),
                F.sum("share").alias("_s"),
                F.min("share").alias("min_share_micros"),
                F.max("share").alias("max_share_micros"),
            )
            .select(
                "label",
                "n_vectors",
                F.expr("_s div n_vectors").alias("avg_share_micros"),
                "min_share_micros",
                "max_share_micros",
            )
        )

    def projection_audit(
        self, d_in: int = 64, d_out: int = 16, sample: int = 128
    ) -> DataFrame:
        """Johnson-Lindenstrauss ±1-projection distortion audit (q288),
        generic over column names and dimensions. Components quantize
        to the integer-micros grid once, the sign matrix is drawn from
        md5 in Python and injected as ±element_at literal terms, and
        the pair set is a FIXED top-``sample``-by-hash TakeOrdered —
        sample*(sample-1)/2 pairs regardless of set size (the q288
        scale contract). Returns (id_a, id_b, d2_orig, d2_proj,
        ratio_micros)."""
        df, id_col, vec_col = self.df, self.id_col, self.vec_col
        h = h31(f"concat('jls-', CAST({id_col} AS STRING))")
        s = (
            df.select(id_col, vec_col, F.expr(f"({h})").alias("_h"))
            .orderBy("_h", id_col)
            .limit(sample)
            .select(
                F.col(id_col),
                F.expr(
                    f"transform({vec_col},"
                    " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
                ).alias("q"),
            )
        )
        p = s.select(
            id_col,
            "q",
            *[
                F.expr(_jl_y_sql(i, "q", False, d_in=d_in)).alias(f"y{i}")
                for i in range(d_out)
            ],
            F.lit(1).alias("k"),
        )
        a = p.select(
            F.col(id_col).alias("id_a"),
            F.col("q").alias("qa"),
            *[F.col(f"y{i}").alias(f"ya{i}") for i in range(d_out)],
            "k",
        )
        b = p.select(
            F.col(id_col).alias("id_b"),
            F.col("q").alias("qb"),
            *[F.col(f"y{i}").alias(f"yb{i}") for i in range(d_out)],
            "k",
        )
        d2o = (
            "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        d2p = " + ".join(f"(ya{i} - yb{i}) * (ya{i} - yb{i})" for i in range(d_out))
        return (
            a.join(b, "k")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.expr(f"CAST({d2o} AS BIGINT)").alias("d2_orig"),
                F.expr(f"CAST({d2p} AS BIGINT)").alias("d2_proj"),
                F.expr(
                    f"CAST(CASE WHEN {d2o} = 0 THEN NULL"
                    f" ELSE floor(1000000.0 * (CAST({d2p} AS DOUBLE) / {d_out}.0)"
                    f" / CAST({d2o} AS DOUBLE)) END AS BIGINT)"
                ).alias("ratio_micros"),
            )
            .orderBy("id_a", "id_b")
        )
