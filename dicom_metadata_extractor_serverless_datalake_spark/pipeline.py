"""Composable training-data pipeline facade over the corpus operators.

``TextCorpus`` chains the LLM-data-prep stages the corpus queries
exercise individually (exact dedup q50, near-dedup q52/q68/q77,
quality filtering q79, PII redaction q74, chunking q73, deterministic
splits q71) into one lazily-planned DataFrame pipeline:

    corpus = TextCorpus(docs)                       # any (id, text) frame
    clean = (corpus.dedup_exact()
                   .dedup_near(threshold=0.8)
                   .quality_filter(min_chars=100)
                   .redact_pii())
    splits = clean.split({"train": 90, "val": 5, "test": 5}, salt="v1")
    chunks = clean.chunk(512)

Every stage is a pure DataFrame transformation — nothing executes until
an action, so Catalyst optimizes across stage boundaries (e.g. the
quality filter's length predicate pushes below the dedup join output).
All randomness is deterministic hashing (md5-derived, salted), so a
pipeline re-run — or a different cluster/partitioning — produces the
identical corpus. Scale posture mirrors the corpus queries: digest
groupBys shuffle keyed rows (never raw text), near-dedup is
LSH-banded (no all-pairs), filters/redaction/chunking are map-side.

``TextCorpus`` holds the one body of the kernels it shares with the
corpus: q194 (dup_span_coverage), q201 (lm_score), q202
(pack_sequences), q204 (mixture_weights) and q220
(neardup_calibration) call its methods, and q272/q280, q281/q290 and
q286 import the AMS, bootstrap and Chao1 kernels at the bottom of this
module. Nothing here imports from ``queries/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .operators.dedup import (
    NUM_PERM,
    containment_pairs,
    h31,
    jaccard_verify,
    lsh_candidate_pairs,
    lsh_star_edges,
    minhash_signatures,
    neardup_pairs,
    salted_h31,
    shingle_digests,
    shingle_tokens,
    snm_candidates,
    word_grams,
)
from .operators.skew import spread_input

# Default scrub: emails, SSN-shaped spans, and LONG digit runs (>= 7
# digits: phone/account/credit-card shaped). Short runs — years, dates,
# quantities, version numbers — survive; redacting every digit run is
# lossy for training text and is opt-in via redact_pii(all_numbers=True).
PII_PATTERNS: list[tuple[str, str]] = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("[0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][0-9][0-9]", "<SSN>"),
    ("[0-9]{7,}", "<NUM>"),
]


class TextCorpus:
    """A document set flowing through training-data prep stages.

    ``df`` needs an id column and a text column (defaults ``doc_id`` /
    ``text``); all other columns ride along untouched."""

    def __init__(
        self,
        df: DataFrame,
        id_col: str = "doc_id",
        text_col: str = "text",
        caches: "CacheScope | None" = None,
    ):
        from .operators.cachetrack import CacheScope

        self.df = df
        self.id_col = id_col
        self.text_col = text_col
        # ONE scope shared along the whole _with chain: operators that
        # persist intermediates (jaccard_verify's shingle sets, the
        # estimate path's signature frame, containment's distinct
        # shingles) register them here, and free_intermediates() /
        # materialize() on ANY stage releases everything the chain
        # accumulated (VERDICT r09 #2 — without this, a long-lived
        # session driving dedup_near directly orphans cached
        # partitions until a manual clearCache).
        self._caches = caches if caches is not None else CacheScope()

    def _with(self, df: DataFrame) -> "TextCorpus":
        return TextCorpus(df, self.id_col, self.text_col, caches=self._caches)

    # ---- dedup ----

    def dedup_exact(self) -> "TextCorpus":
        """Keep one doc (min id) per exact content digest — one shuffle
        keyed by the 32-byte digest, never the text (q50's shape)."""
        did, text = self.id_col, self.text_col
        keep = (
            self.df.select(F.sha2(F.col(text), 256).alias("_digest"), F.col(did))
            .groupBy("_digest")
            .agg(F.min(did).alias(did))
            .select(did)
        )
        return self._with(self.df.join(keep, did, "left_semi"))

    def dedup_near(
        self,
        threshold: float = 0.8,
        hash_fn: str = "fast",
        verify: str = "exact",
        candidates: str = "pairs",
    ) -> "TextCorpus":
        """Drop near-duplicates: LSH-banded candidate pairs, Jaccard-
        verified at ``threshold``, clustered by connected components,
        keeping each cluster's canonical (min-id) doc. Non-candidates
        never pay a comparison (q52 -> q68 -> q77's shape). Defaults to
        the xxhash64 MinHash ("fast", ~1.5-2x the md5-derived portable
        hash at 50k docs, identical verified output — the portable mode
        exists for cross-engine oracle replay, which a production
        pipeline doesn't need). ``verify="estimate"`` scores candidate
        pairs from MinHash signature agreement instead of re-deriving
        shingle sets — exact verification is 84% of the end-to-end wall
        on a dup-heavy 500k-doc corpus (BASELINE.md per-stage profile)
        and the estimate path removes nearly all of it, at the cost of
        coin-flip decisions on pairs within ~0.1 Jaccard of the
        threshold. ``candidates="star"`` emits member->bucket-min edges
        instead of all in-bucket pairs — linear in cluster size, the
        mode to run when duplicate clusters are unbounded (boilerplate-
        heavy web corpora); see operators/dedup.lsh_star_edges for the
        split-vs-merge semantics."""
        from .operators.cluster import dedup_clusters

        with self._caches:
            pairs = neardup_pairs(
                self.df,
                threshold=threshold,
                id_col=self.id_col,
                text_col=self.text_col,
                hash_fn=hash_fn,
                verify=verify,
                candidates=candidates,
            )
        losers = (
            dedup_clusters(pairs)
            .filter(~F.col("is_canonical"))
            .select(F.col("doc_id").alias(self.id_col))
        )
        return self._with(self.df.join(losers, self.id_col, "left_anti"))

    def dedup_snm(
        self, threshold: float = 0.8, window: int = 2, key_chars: int = 40
    ) -> "TextCorpus":
        """Near-dedup via the sorted-neighborhood (merge/purge) method:
        one global content-key sort, each doc pairs with its ``window``
        following neighbors, exact shingle-Jaccard verify at
        ``threshold``, connected-component clustering, keep the min-id
        canonical per cluster (q134's candidate shape + q68/q77's
        verify/cluster stages). Candidate volume is window * N —
        linear and tuning-free where LSH needs signature/band choices —
        at the cost of missing near-dups whose sorted-token keys
        diverge within ``key_chars``; prefer ``dedup_near`` when recall
        matters more than simplicity."""
        from .operators.cluster import dedup_clusters

        cand = snm_candidates(
            self.df,
            id_col=self.id_col,
            text_col=self.text_col,
            window=window,
            key_chars=key_chars,
        ).select(F.col("a").alias("d1"), F.col("b").alias("d2"))
        tok = shingle_tokens(self.df, id_col=self.id_col, text_col=self.text_col)
        with self._caches:
            pairs = jaccard_verify(
                cand, tok, threshold=threshold, id_col=self.id_col
            )
        losers = (
            dedup_clusters(pairs)
            .filter(~F.col("is_canonical"))
            .select(F.col("doc_id").alias(self.id_col))
        )
        return self._with(self.df.join(losers, self.id_col, "left_anti"))

    def dedup_contained(
        self, threshold: float = 0.8, min_shingles: int = 10
    ) -> "TextCorpus":
        """Drop documents (near-)CONTAINED in another document: shingle
        containment |S(a) ∩ S(b)| / |S(a)| >= threshold — the
        partial-copy class (quotes, excerpts, subset pages) that
        Jaccard near-dedup misses because the longer document dilutes
        the union. Candidates come from the exact-complete rarest-
        prefix blocking (operators/dedup.py containment_pairs, q128's
        shape); a doc is dropped only when contained in a LARGER
        (shingle-count, id)-ordered survivor, so mutual-containment
        pairs keep exactly one and chains keep their maximal element."""

        with self._caches:
            pairs = containment_pairs(
                self.df,
                threshold=threshold,
                id_col=self.id_col,
                text_col=self.text_col,
                min_shingles=min_shingles,
            )
        losers = (
            pairs.filter(
                F.struct(F.col("n_a"), F.col("a"))
                < F.struct(F.col("n_b"), F.col("b"))
            )
            .select(F.col("a").alias(self.id_col))
            .distinct()
        )
        return self._with(self.df.join(losers, self.id_col, "left_anti"))

    def dedup_paragraphs(
        self, sep: str = "\n", min_chars: int = 1
    ) -> "TextCorpus":
        """CCNet-style paragraph-level dedup: every distinct paragraph
        survives exactly ONCE corpus-wide — in its first occurrence by
        (id, position) — and documents reassemble from their surviving
        paragraphs (docs left with none drop). This is the granularity
        whole-document dedup cannot reach: boilerplate headers, license
        blocks and navigation chrome repeat across documents whose
        bodies differ, so no doc-level Jaccard flags them.

        Paragraphs shorter than ``min_chars`` (but non-empty) bypass
        dedup and stay in place — raise it to keep short common lines
        like headings everywhere. EMPTY segments (separator artifacts:
        trailing or doubled separators) are never kept, so a document
        whose real paragraphs all lose still drops instead of surviving
        as an empty shell, and doubled separators normalize away.

        Scale shape: the global first-occurrence election shuffles
        (digest, id, idx) rows only — never paragraph text (the digest
        is sha2-256, matching dedup_exact's collision discipline: a
        64-bit hash is birthday-collision-prone at real corpus scale
        and a collision here would silently destroy unique content);
        the reassembly joins the per-doc keep-index list back to the
        corpus on id (one text-bearing co-shuffle) and re-splits
        map-side. Deterministic under any partitioning (min-struct
        election, no row_number races); idempotent — re-running is a
        fixpoint."""
        import re as _re

        did, text = self.id_col, self.text_col
        lit_sep = _re.escape(sep)
        parts = self.df.select(
            F.col(did),
            F.posexplode(F.split(F.col(text), lit_sep)).alias("idx", "para"),
        ).filter(F.length("para") >= 1)
        eligible = parts.filter(F.length("para") >= min_chars)
        # global first occurrence per paragraph digest: min (id, idx) —
        # the shuffle carries (digest, id, idx), text stays map-local
        winners = (
            eligible.select(F.sha2(F.col("para"), 256).alias("h"), did, "idx")
            .groupBy("h")
            .agg(F.min(F.struct(F.col(did), F.col("idx"))).alias("w"))
            .select(F.col(f"w.{did}").alias(did), F.col("w.idx").alias("idx"))
        )
        bypass = parts.filter(F.length("para") < min_chars).select(did, "idx")
        keep = winners.unionByName(bypass)
        keep_lists = keep.groupBy(did).agg(
            F.sort_array(F.collect_list("idx")).alias("_keep_idx")
        )
        # split on the corpus side, before the join: a lambda that reads
        # split(text) above the join lets the optimizer push a later
        # filter on the rebuilt text into keep_lists, where text is not
        # in scope (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
        rebuilt = (
            self.df.withColumn(text, F.split(F.col(text), lit_sep))
            .join(keep_lists, did)  # inner: fully-duplicate docs drop
            .withColumn(
                text,
                F.concat_ws(
                    sep,
                    F.transform("_keep_idx", lambda i: F.element_at(F.col(text), i + 1)),
                ),
            )
            .drop("_keep_idx")
        )
        return self._with(rebuilt)

    # ---- filtering / cleaning ----

    def quality_filter(
        self,
        min_chars: int = 50,
        max_chars: int | None = None,
        max_symbol_ratio: float = 0.3,
    ) -> "TextCorpus":
        """Map-side quality gates (q79's funnel stages): length bounds
        and non-alphanumeric symbol ratio."""
        text = F.col(self.text_col)
        length = F.length(text)
        pred = length >= min_chars
        if max_chars is not None:
            pred = pred & (length <= max_chars)
        stripped = F.regexp_replace(text, "[A-Za-z0-9 ]", "")
        pred = pred & (F.length(stripped) <= max_symbol_ratio * length)
        return self._with(self.df.filter(pred))

    def decontaminate(
        self,
        eval_df: DataFrame,
        n: int = 5,
        eval_text_col: str = "text",
    ) -> "TextCorpus":
        """Drop documents sharing ANY word ``n``-gram with the held-out
        eval set (the q144 rule, GPT-3-style). The eval side is gram-
        exploded and distinct'd once; the corpus side streams through a
        left-anti join keyed by the gram string — shuffles carry
        (gram, doc_id) pairs, never document bodies, and a production
        eval set (thousands of docs) broadcasts outright."""

        def grams(df: DataFrame, id_col: str | None, text_col: str) -> DataFrame:
            return word_grams(df, id_col, text_col, n)

        eval_grams = grams(eval_df, None, eval_text_col).distinct()
        losers = (
            grams(self.df, self.id_col, self.text_col)
            .join(eval_grams, "gram", "left_semi")
            .select(self.id_col)
            .distinct()
        )
        return self._with(self.df.join(losers, self.id_col, "left_anti"))

    def novelty(
        self,
        eval_df: DataFrame,
        n: int = 5,
        eval_id_col: str = "doc_id",
        eval_text_col: str = "text",
    ) -> DataFrame:
        """Per-eval-doc n-gram novelty against THIS corpus as the
        training side (the q228 readout generalized over any eval
        frame): the exact fraction of each eval doc's DISTINCT word
        n-grams absent from the corpus, floored to micros.
        ``decontaminate`` says WHETHER a doc overlaps; this says HOW
        MUCH of it is novel — the Carlini-style memorization-exposure
        number per document. Returns (eval_id_col, total_grams,
        novel_grams, novelty_micros); eval docs shorter than ``n``
        tokens carry no grams and are absent. Shuffles carry only
        (gram, id) pairs — never text."""

        def grams(df: DataFrame, id_col: str | None, text_col: str) -> DataFrame:
            return word_grams(df, id_col, text_col, n)

        train_grams = grams(self.df, None, self.text_col).distinct()
        eg = grams(eval_df, eval_id_col, eval_text_col).distinct()
        return (
            eg.join(train_grams.withColumn("_hit", F.lit(1)), "gram", "left")
            .groupBy(eval_id_col)
            .agg(
                F.count("*").alias("total_grams"),
                F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0)).alias(
                    "novel_grams"
                ),
            )
            .select(
                eval_id_col,
                "total_grams",
                "novel_grams",
                F.expr("1000000 * novel_grams div total_grams").alias(
                    "novelty_micros"
                ),
            )
        )

    def repetition_filter(
        self,
        max_top2_share: float = 0.10,
        max_dup3_share: float = 0.20,
    ) -> "TextCorpus":
        """Drop degenerate/boilerplate documents by intra-document
        repetition (the q145 Gopher rules): most-frequent-2-gram share
        of all 2-grams and duplicated-3-gram share. Cross-document
        dedup never sees these — every copy lives inside one document.
        Two explode->aggregate passes keyed by doc id; documents with
        fewer than 3 tokens pass (no gram statistics to judge)."""
        # docs with < 3 words emit no 3-gram row and at most... none:
        # they are absent from dup3 and the inner join below drops them,
        # exactly like the old size(w) >= 3 pre-filter. 2-word docs are
        # likewise absent (the old form pre-filtered them out of top2
        # too, so the join semantics are unchanged).
        tok = self.df.filter(
            F.size(F.split(F.col(self.text_col), " ")) >= 3
        ).select(F.col(self.id_col).alias("_d"), F.col(self.text_col))

        def gram_rows(n: int) -> DataFrame:
            return word_grams(tok, "_d", self.text_col, n)

        top2 = (
            gram_rows(2)
            .groupBy("_d", "gram")
            .count()
            .groupBy("_d")
            .agg(F.max("count").alias("top2"), F.sum("count").alias("total2"))
        )
        dup3 = (
            gram_rows(3)
            .groupBy("_d")
            .agg(
                F.count("*").alias("total3"),
                F.count_distinct("gram").alias("distinct3"),
            )
        )
        losers = (
            top2.join(dup3, "_d")
            .filter(
                (F.col("top2") > F.lit(max_top2_share) * F.col("total2"))
                | (
                    F.col("total3") - F.col("distinct3")
                    > F.lit(max_dup3_share) * F.col("total3")
                )
            )
            .select(F.col("_d").alias(self.id_col))
        )
        return self._with(self.df.join(losers, self.id_col, "left_anti"))

    def classifier_filter(
        self, threshold: int = 0, n_buckets: int = 64, salt: str = "qc-"
    ) -> "TextCorpus":
        """fastText-style hashed linear quality-classifier inference
        (the q224 model): every token hashes into an ``n_buckets``-entry
        weight table realized arithmetically inside ONE map-side
        higher-order fold per document — weight(b) = (b * 2654435761)
        % 997 - 498 — and documents with margin <= ``threshold`` drop.
        No explode, no shuffle: the whole stage is a map-side filter,
        so it composes freely before dedup/split stages. A production
        deployment swaps the arithmetic table for trained weights as a
        broadcast array literal; the plan shape is identical."""
        h = h31(f"concat('{salt}', tk)")
        margin = F.expr(
            f"aggregate(transform(split({self.text_col}, ' '), "
            f"tk -> (({h}) % {n_buckets}) * 2654435761 % 997 - 498), "
            f"CAST(0 AS BIGINT), (a, b) -> a + b)"
        )
        return self._with(self.df.filter(margin > threshold))

    def gopher_filter(
        self,
        min_words: int = 10,
        max_words: int = 1000,
        min_mean_word_len: int = 2,
        max_mean_word_len: int = 8,
        max_one_char_share_pct: int = 10,
        max_top_word_share_pct: int = 20,
        stopwords: tuple[str, ...] = ("the", "a"),
    ) -> "TextCorpus":
        """Gopher-style document-level quality gates (the q150 rule
        set; q145/repetition_filter covers the gram-repetition rules):
        word-count bounds, mean word length bounds, single-character-
        word share, stopword presence, and top-word dominance. Every
        ratio threshold is an integer cross-multiplication (e.g. mean
        word length >= 2 <=> 2*n_words <= sum_len), so the stage is
        exact and engine-portable.

        Entirely map-side: all statistics come from array expressions
        over the split token array — no explode, no shuffle. The
        top-word count is an O(distinct * len) array scan per document,
        the right trade below ~10^4 tokens/doc; for pathological
        lengths run quality_filter's length gate first."""
        ws = F.filter(F.split(F.col(self.text_col), " "), lambda x: x != "")
        n_words = F.size(ws)
        sum_len = F.aggregate(
            ws, F.lit(0), lambda a, x: a + F.length(x)
        )
        n_one = F.size(F.filter(ws, lambda x: F.length(x) == 1))
        has_stop = F.arrays_overlap(
            ws, F.array(*[F.lit(s) for s in stopwords])
        )
        max_tf = F.aggregate(
            F.array_distinct(ws),
            F.lit(0),
            lambda acc, w: F.greatest(
                acc, F.size(F.filter(ws, lambda x: x == w))
            ),
        )
        pred = (
            n_words.between(min_words, max_words)
            & (F.lit(min_mean_word_len) * n_words <= sum_len)
            & (sum_len <= F.lit(max_mean_word_len) * n_words)
            & (F.lit(100) * n_one <= F.lit(max_one_char_share_pct) * n_words)
            & has_stop
            & (F.lit(100) * max_tf <= F.lit(max_top_word_share_pct) * n_words)
        )
        return self._with(self.df.filter(pred))

    def redact_pii(
        self,
        patterns: list[tuple[str, str]] | None = None,
        all_numbers: bool = False,
    ) -> "TextCorpus":
        """Regex PII scrub (emails / SSN-shaped spans / long digit runs
        -> placeholders), pure codegen regexp_replace (q74). Short digit
        runs (dates, quantities, versions) are preserved by default;
        ``all_numbers=True`` restores the scorched-earth every-digit-run
        mode, ``patterns`` replaces the rule set entirely."""
        rules = list(PII_PATTERNS) if patterns is None else list(patterns)
        if all_numbers and patterns is None:
            rules[-1] = ("[0-9]+", "<NUM>")
        clean = F.col(self.text_col)
        for pat, repl in rules:
            clean = F.regexp_replace(clean, pat, repl)
        return self._with(self.df.withColumn(self.text_col, clean))

    # ---- structuring ----

    def chunk(self, chunk_chars: int = 512) -> DataFrame:
        """Fixed-size character chunks, embarrassingly parallel
        (posexplode over a per-doc sequence, q73): returns (id,
        chunk_id, chunk)."""
        did, text = self.id_col, self.text_col
        n_chunks = F.ceil(F.length(text) / F.lit(chunk_chars)).cast("int")
        # Emptiness policy: zero-length (or null) docs emit ZERO chunks.
        # Without the filter, n_chunks=0 would make sequence(0, -1)
        # produce the descending [0, -1] and emit two spurious empty rows.
        return (
            self.df.filter(F.length(text) > 0)
            .select(
                did,
                text,
                F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id", "_i"),
            )
            .select(
                did,
                F.col("chunk_id").cast("long").alias("chunk_id"),
                F.expr(
                    f"substring({text}, chunk_id * {chunk_chars} + 1, {chunk_chars})"
                ).alias("chunk"),
            )
        )

    def split(self, weights: dict[str, int], salt: str = "") -> dict[str, DataFrame]:
        """Deterministic hash split (q71): ``weights`` are integer
        percentages summing to 100; the salted md5 of the id decides
        membership, so the split is stable under re-runs, repartitioning
        and incremental appends."""
        total = sum(weights.values())
        if total != 100:
            raise ValueError(f"split weights must sum to 100, got {total}")
        # salted_h31: same values as the SQL-string form the corpus
        # oracles use, with the salt hex-encoded (a quote in the salt
        # must not break parsing)
        h = salted_h31(self.id_col, salt) % 100
        out: dict[str, DataFrame] = {}
        lo = 0
        for name, pct in weights.items():
            out[name] = self.df.filter((h >= lo) & (h < lo + pct))
            lo += pct
        return out

    def sample_per_group(
        self, by: str, k: int, salt: str = ""
    ) -> "TextCorpus":
        """Exact k-per-group deterministic sample (the q169 primitive):
        keep EXACTLY min(k, group size) docs per ``by`` group, chosen
        by salted portable hash of the id — stable under re-runs,
        appends and repartitioning, unlike percentage sampling which
        hits k only in expectation. The selection window is capped
        map-side by Spark's partial WindowGroupLimit, so each task
        forwards at most k rows per group before the exchange."""
        from pyspark.sql.window import Window

        h = salted_h31(self.id_col, salt)
        w = Window.partitionBy(by).orderBy(h, self.id_col)
        return self._with(
            self.df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .drop("__rk")
        )

    def diversity_sample(
        self,
        threshold: float = 0.0,
        hash_fn: str = "fast",
        candidates: str = "pairs",
        salt: str = "",
    ) -> "TextCorpus":
        """Cluster-balanced selection (q248's shape): near-dup cluster
        each doc, keep ceil(sqrt(cluster_size)) docs per cluster —
        sublinear mass for boilerplate clusters, every cluster still
        represented, singletons always kept. The middle course between
        ``dedup_near`` (keep 1 per cluster) and keeping everything.
        Within-cluster choice is by the ``salt``-keyed portable hash of
        the id (stable across runs/engines; pass a salt to decorrelate
        from other hash-ranked selections). ``threshold=0.0`` clusters raw
        LSH candidates (q77 semantics); higher thresholds cluster only
        verified pairs. ``candidates='star'`` for unbounded-cluster
        corpora (q243's linear blocking)."""
        from pyspark.sql.window import Window

        from .operators.cluster import dedup_clusters

        if candidates not in ("pairs", "star"):
            raise ValueError(
                f"candidates must be 'pairs' or 'star', got {candidates!r}"
            )
        did = self.id_col
        if threshold > 0.0:
            with self._caches:
                pairs = neardup_pairs(
                    self.df,
                    threshold=threshold,
                    id_col=did,
                    text_col=self.text_col,
                    hash_fn=hash_fn,
                    verify="estimate",
                    candidates=candidates,
                )
        else:  # raw candidates: skip the (vacuous at t=0) verify stage
            sigs = minhash_signatures(
                shingle_tokens(self.df, did, self.text_col), did, hash_fn
            )
            gen = lsh_star_edges if candidates == "star" else lsh_candidate_pairs
            pairs = gen(sigs, did)
        clustered = dedup_clusters(pairs).select(
            F.col("doc_id").alias(did), "cluster_id"
        )
        membership = self.df.select(did).join(clustered, did, "left").select(
            did, F.coalesce("cluster_id", F.col(did)).alias("cluster_id")
        )
        h = salted_h31(did, salt)
        wsize = Window.partitionBy("cluster_id")
        worder = Window.partitionBy("cluster_id").orderBy(h, did)
        keep = (
            membership.withColumn("__n", F.count("*").over(wsize))
            .withColumn("__rk", F.row_number().over(worder))
            .filter(F.col("__rk") <= F.ceil(F.sqrt(F.col("__n").cast("double"))).cast("long"))
            .select(did)
        )
        return self._with(self.df.join(keep, did, "left_semi"))

    # ---- materialization ----

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "TextCorpus":
        """Cache the current stage's output. Call after the expensive
        stages (near-dedup) and before fan-out consumers (split() makes
        one pass per partition name; without persisting, each pass
        re-runs the whole upstream pipeline)."""
        from pyspark import StorageLevel

        self.df = self.df.persist(getattr(StorageLevel, storage_level))
        return self

    def unpersist(self) -> "TextCorpus":
        self.df = self.df.unpersist()
        return self

    def free_intermediates(self) -> "TextCorpus":
        """Unpersist every operator-internal cache this chain's stages
        accumulated (shingle sets, signature frames, ...). Call after
        the chain's results are materialized (written / collected /
        pinned via :meth:`materialize`); the frames rebuild lazily if
        re-materialized, so this is always safe — just a cache drop."""
        self._caches.free()
        return self

    def materialize(self) -> "TextCorpus":
        """Pin the current frame (eager localCheckpoint — pays one pass
        NOW) and then free every operator-internal cache the chain
        accumulated. The production end-of-chain call: downstream
        consumers scan the checkpointed result, and nothing upstream
        stays cached. Returns a corpus over the pinned frame."""
        out = self._with(self.df.localCheckpoint(eager=True))
        self._caches.free()
        return out

    # ---- reporting ----

    def f2_moment(self, hash_fn: str = "fast", audit: bool = False) -> DataFrame:
        """AMS F2 (second frequency moment, sum of squared token
        frequencies) of this corpus's whitespace token stream — the
        self-join-size / skew readout consulted before any token-keyed
        groupBy. Default is the SKETCH-ONLY deployment path
        (:func:`ams_f2_sketch`, VERDICT r09 #3): one map-side
        8-counter aggregate, no word-keyed shuffle, returns one row
        (x0..x7, f2_est). ``audit=True`` adds the exact F2 next to the
        estimate (q272's full shape) — that side pays the per-token
        word-keyed aggregate, the cost that spills at 5M docs
        (BASELINE.md), so run it on samples, not deployments."""
        tok = self.df.select(
            F.explode(
                F.expr(f"filter(split({self.text_col}, ' '), x -> x <> '')")
            ).alias("w")
        )
        if audit:
            return ams_audit_tail(ams_sign_counters(tok, hash_fn), tok)
        return ams_f2_sketch(tok, hash_fn)

    def bootstrap_ci(
        self,
        value_expr: str | None = None,
        by: str | None = None,
        hash_fn: str = "fast",
    ) -> DataFrame:
        """Hash-Poisson bootstrap 95% CI on the mean of ``value_expr``
        per ``by`` group (default: the corpus text length per source-
        less single group is rarely useful — pass the grouping column;
        ``by=None`` uses a constant group, giving one corpus-wide CI).
        q281's construction (:func:`bootstrap_rep_frame`): 64
        deterministic Poisson(1) replicates + a sentinel raw pass in
        ONE partial-aggregated shuffle of |groups| x 65 cells — never a
        corpus resample. ``hash_fn="fast"`` (xxhash64) is the
        production default; "portable" replays against DuckDB (and is
        the 5M-doc measured premium, BASELINE.md). Returns (source,
        n_docs, point_micros, n_reps, ci_lo_micros, ci_hi_micros);
        the value mean is in micros of ``value_expr``'s unit.
        ``value_expr`` defaults to the corpus's own text column's
        length (the facade is column-generic — a corpus built with
        ``text_col="body"`` gets ``length(body)``, ADVICE r10)."""
        if value_expr is None:
            value_expr = f"length({self.text_col})"
        df = self.df
        group = by
        if group is None:
            df = df.withColumn("_grp", F.lit("all"))
            group = "_grp"
        return bootstrap_ci_tail(
            bootstrap_rep_frame(
                df,
                id_col=self.id_col,
                group_col=group,
                value_expr=value_expr,
                hash_fn=hash_fn,
            )
        )

    def vocab_richness(self, by: str | None = None) -> DataFrame:
        """Chao1 bias-corrected vocabulary-richness asymptote +
        Good-Turing coverage per ``by`` group (``None`` = one
        corpus-wide row) — the library entry point for the vocabulary
        triptych's asymptote reading (q256 reads the frequency
        spectrum, q278 the accumulation curve, this the asymptote;
        VERDICT r10 #8). q286's construction verbatim
        (:func:`chao1_frame`): one word-keyed vocabulary
        shuffle, then the estimator runs on the spectrum-sized frame;
        exact integer rationals floored to micros. Returns (group,
        n_tokens, vocab, f1, f2, chao1_micros, coverage_micros)."""
        df, group = self.df, by
        if group is None:
            df = df.withColumn("_grp", F.lit("all"))
            group = "_grp"
        return chao1_frame(df, group, self.text_col)

    def tokenize(self, merges=None, rounds: int = 8) -> DataFrame:
        """Per-doc token counts under a trained BPE vocabulary — the
        deployment half of the tokenizer (q156 trains the merges, this
        applies them; VERDICT r10 #2). ``merges`` is the frame
        ``operators.bpe.bpe_merges`` returned (or an ``(a, b)`` list
        in merge order); ``None`` trains ``rounds`` merges on THIS
        corpus first. Encoding is one map-side whole-stage-codegen
        projection (the cascade is baked in as literals — no vocab
        join, no shuffle; operators/bpe.py:bpe_encode). Returns
        (id_col, n_tokens, token_checksum)."""
        from .operators.bpe import bpe_encode, bpe_merges

        if merges is None:
            vocab = (
                self.df.select(
                    F.explode(F.split(self.text_col, " ")).alias("w0")
                )
                .filter(F.col("w0").rlike("^[A-Za-z]+$"))
                .groupBy("w0")
                .agg(F.count("*").alias("f"))
            )
            merges = bpe_merges(vocab, rounds=rounds)
        return bpe_encode(
            self.df, merges, id_col=self.id_col, text_col=self.text_col
        )

    def stats(self) -> DataFrame:
        """One-row corpus summary (docs, chars, length quartiles)."""
        text = F.col(self.text_col)
        return self.df.agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(text)).alias("total_chars"),
            F.min(F.length(text)).alias("min_chars"),
            F.expr(f"percentile(length({self.text_col}), 0.5)").alias("median_chars"),
            F.max(F.length(text)).alias("max_chars"),
        )

    def dedup_yield(
        self,
        by: str,
        threshold: float = 0.8,
        hash_fn: str = "fast",
        verify: str = "exact",
    ) -> DataFrame:
        """Effective-yield histogram after near-dedup clustering: one row
        per (``by``, cluster_size) with doc and char counts, docs in no
        near-dup pair counted as singleton clusters (q181's shape). The
        number that sets mixture weights — a group whose mass sits in
        large clusters contributes 1/cluster_size of its raw bytes in
        unique content. Integer-exact by construction; apply the
        1/cluster_size weighting presentation-side. ``threshold=0.0``
        clusters the raw LSH candidate pairs (q77/q181 semantics);
        higher thresholds cluster only verified pairs (production
        near-dedup semantics, same knobs as :meth:`dedup_near`)."""
        from .operators.cluster import dedup_clusters

        with self._caches:
            pairs = neardup_pairs(
                self.df,
                threshold=threshold,
                id_col=self.id_col,
                text_col=self.text_col,
                hash_fn=hash_fn,
                verify=verify,
            )
        sizes = dedup_clusters(pairs).select(
            F.col("doc_id").alias(self.id_col), "cluster_size"
        )
        return (
            self.df.join(sizes, self.id_col, "left")
            .select(
                by,
                F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
                F.length(F.col(self.text_col)).alias("_chars"),
            )
            .groupBy(by, "cluster_size")
            .agg(F.count("*").alias("n_docs"), F.sum("_chars").alias("total_chars"))
            .orderBy(by, "cluster_size")
        )

    # ---- span-level dedup readouts (q187 / q194) ----

    def winnow_fingerprints(
        self, k: int = 4, w: int = 4, hash_fn: str = "portable"
    ) -> DataFrame:
        """MOSS winnowing fingerprints (Schleimer et al., SIGMOD'03):
        one row per (id, fingerprint) — the distinct window-minimum
        hashes of the document's word ``k``-grams over sliding windows
        of ``w`` gram hashes. Guarantee: two documents sharing a run of
        at least ``k + w - 1`` tokens share at least one fingerprint,
        so an equi-join on ``fingerprint`` is a complete span-match
        blocking key. Entirely map-side (array-land per document, no
        shuffle, no text leaves the scan); ~1/w of grams are emitted.
        Tie-break inside a window is rightmost-minimum, encoded
        arithmetically (positions < 2^20 grams/doc — chunk longer docs
        with :meth:`chunk` first). ``hash_fn="fast"`` swaps the md5
        hash for xxhash64 (measured 2.5x end-to-end at 500k docs);
        "portable" matches q187 bit-for-bit."""
        pos_m = 1 << 20
        h = h31(f"array_join(slice(ws, i, {k}), ' ')", hash_fn)
        hs = (
            f"CASE WHEN size(ws) >= {k} "
            f"THEN transform(sequence(1, size(ws) - {k - 1}), i -> {h}) "
            f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )
        ks = (
            f"CASE WHEN size(hs) > 0 "
            f"THEN transform(sequence(1, size(hs)), "
            f"i -> element_at(hs, i) * {pos_m} + ({pos_m - 1} - i)) "
            f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )
        sel = (
            f"CASE WHEN size(hs) >= {w} "
            f"THEN array_distinct(transform(sequence({w}, size(hs)), "
            f"j -> array_min(slice(ks, j - {w - 1}, {w})) div {pos_m})) "
            f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )

        return (
            spread_input(self.df, key=self.id_col).select(
                self.id_col,
                F.expr(f"filter(split({self.text_col}, ' '), x -> x <> '')").alias("ws"),
            )
            .select(self.id_col, F.expr(hs).alias("hs"))
            .select(self.id_col, "hs", F.expr(ks).alias("ks"))
            .select(self.id_col, F.expr(sel).alias("sel"))
            # explode_OUTER, then drop the null rows on the OUTPUT column:
            # a plain explode makes InferFiltersFromGenerate insert a
            # `size(sel) > 0` filter below the Generate, and pushdown
            # inlines the whole hs->ks->sel tree into it — the md5 gram
            # hashing re-evaluates O(m^2) per row (measured: 100x wall at
            # 500k docs). The outer variant is exempt from the rule.
            .select(self.id_col, F.explode_outer("sel").alias("fingerprint"))
            .filter(F.col("fingerprint").isNotNull())
        )

    def dup_span_coverage(
        self, k: int = 5, min_docs: int = 2, hash_fn: str = "portable"
    ) -> DataFrame:
        """Lee-et-al duplicated-span coverage: per document, how many
        token positions sit inside a word ``k``-gram that occurs in at
        least ``min_docs`` distinct documents (q194). Returns one row
        per document: (id, n_tokens, covered_tokens, dup_frac_micros).
        Grams are hashed before any exchange; coverage is the exact
        interval union per document (gaps-and-islands window).
        ``hash_fn`` as in :meth:`winnow_fingerprints`."""
        from pyspark.sql import Window

        h = h31(f"array_join(slice(ws, i, {k}), ' ')", hash_fn)
        ghs = (
            f"CASE WHEN size(ws) >= {k} "
            f"THEN transform(sequence(1, size(ws) - {k - 1}), i -> {h}) "
            f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )
        tok = self.df.select(
            self.id_col,
            F.expr(f"filter(split({self.text_col}, ' '), x -> x <> '')").alias("ws"),
        ).select(self.id_col, F.size("ws").alias("n_tokens"), F.expr(ghs).alias("ghs"))
        # posexplode_OUTER + null filter on the output: see
        # winnow_fingerprints — the inferred `size(ghs) > 0` filter of a
        # plain posexplode re-evaluates the whole gram-hash transform per
        # row once pushdown inlines it
        g = (
            tok.select(self.id_col, F.posexplode_outer("ghs").alias("pos", "gh"))
            .filter(F.col("gh").isNotNull())
            .select(self.id_col, (F.col("pos") + 1).alias("s"), "gh")
        )
        dup = (
            g.groupBy("gh")
            .agg(F.countDistinct(self.id_col).alias("nd"))
            .filter(F.col("nd") >= min_docs)
        )
        occ = g.join(dup.select("gh"), "gh").select(
            self.id_col, "s", (F.col("s") + k - 1).alias("e")
        )
        w = (
            Window.partitionBy(self.id_col)
            .orderBy("s")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        cov = (
            occ.withColumn("pe", F.max("e").over(w))
            .groupBy(self.id_col)
            .agg(
                F.sum(
                    F.expr(
                        "CASE WHEN pe IS NULL OR pe < s THEN e - s + 1"
                        " WHEN e > pe THEN e - pe ELSE 0 END"
                    )
                )
                .cast("long")
                .alias("covered")
            )
        )
        return (
            tok.select(self.id_col, "n_tokens")
            .join(cov, self.id_col, "left")
            .select(
                self.id_col,
                F.col("n_tokens").cast("long").alias("n_tokens"),
                F.coalesce("covered", F.lit(0).cast("long")).alias("covered_tokens"),
                F.expr(
                    "CAST(floor(1000000.0 * CAST(COALESCE(covered, 0) AS DOUBLE)"
                    " / CAST(n_tokens AS DOUBLE)) AS BIGINT)"
                ).alias("dup_frac_micros"),
            )
        )

    # ---- mixing & packing stages (q201 / q202 / q204 / q205) ----

    def lm_score(self, hash_fn: str = "fast") -> DataFrame:
        """Corpus-trained bigram LM typicality score per document
        (q201's shape): train bigram / bigram-context counts over this
        corpus keyed by the 31-bit gram hash (no text crosses an
        exchange), then score every document with the floored-micros
        mean and minimum of p(w_i | w_{i-1}). Returns one row per
        document with >= 1 bigram: (id, n_bigrams, sum_micros,
        avg_micros, min_micros). ``hash_fn`` as in
        :meth:`winnow_fingerprints` ('portable' matches q201's oracle
        bit-exactly; 'fast' uses JVM xxhash64)."""
        bh = h31("concat(element_at(ws, i), ' ', element_at(ws, i + 1))", hash_fn)
        ph = h31("element_at(ws, i)", hash_fn)
        ps = (
            f"CASE WHEN size(ws) >= 2 "
            f"THEN transform(sequence(1, size(ws) - 1), "
            f"i -> struct({bh} AS bh, {ph} AS ph)) "
            f"ELSE CAST(array() AS ARRAY<STRUCT<bh: BIGINT, ph: BIGINT>>) END"
        )
        g = (
            self.df.select(
                self.id_col,
                F.expr(f"filter(split({self.text_col}, ' '), w -> w <> '')").alias(
                    "ws"
                ),
            )
            .select(self.id_col, F.expr(ps).alias("ps"))
            # explode_OUTER + null filter on the OUTPUT attribute (see
            # winnow_fingerprints: plain explode lets the inferred
            # size() filter inline the whole gram-hash tree)
            .select(self.id_col, F.explode_outer("ps").alias("p"))
            .filter(F.col("p").isNotNull())
            .select(self.id_col, F.col("p.bh").alias("bh"), F.col("p.ph").alias("ph"))
        )
        bc = g.groupBy("bh").agg(F.count("*").alias("cb"))
        pc = g.groupBy("ph").agg(F.count("*").alias("cp"))
        m = (
            "CAST(floor(1000000.0 * (CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE)))"
            " AS BIGINT)"
        )
        # broadcast the count tables (see q201: unhinted, this shuffles
        # the full gram stream twice, once on the low-cardinality
        # context hash)
        return (
            g.join(F.broadcast(bc), "bh")
            .join(F.broadcast(pc), "ph")
            .select(self.id_col, F.expr(m).alias("m"))
            .groupBy(self.id_col)
            .agg(
                F.count("*").alias("n_bigrams"),
                F.sum("m").alias("sum_micros"),
                F.min("m").alias("min_micros"),
            )
            .select(
                self.id_col,
                "n_bigrams",
                "sum_micros",
                F.expr("sum_micros div n_bigrams").alias("avg_micros"),
                "min_micros",
            )
        )

    def pack_sequences(self, ctx: int = 256, by: str = "source") -> DataFrame:
        """Concatenate-and-chunk packing audit (q202's shape): per
        ``by`` group, documents laid head-to-tail in id order and cut
        into ``ctx``-token sequences. Returns one row per group:
        (by, n_docs, total_tokens, n_sequences, pad_tokens,
        boundary_docs, boundary_crossings)."""
        d = self.df.select(
            self.id_col,
            by,
            F.expr(f"size(filter(split({self.text_col}, ' '), w -> w <> ''))").alias(
                "n_tok"
            ),
        )
        w = (
            Window.partitionBy(by)
            .orderBy(self.id_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        c = d.select(by, "n_tok", F.sum("n_tok").over(w).alias("cume")).select(
            by,
            "n_tok",
            F.expr(
                f"CASE WHEN n_tok > 0 "
                f"THEN (cume - 1) div {ctx} - (cume - n_tok) div {ctx} "
                f"ELSE 0 END"
            ).alias("crosses"),
        )
        return (
            c.groupBy(by)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tok").alias("total_tokens"),
                F.sum(F.expr("CASE WHEN crosses > 0 THEN 1 ELSE 0 END")).alias(
                    "boundary_docs"
                ),
                F.sum("crosses").alias("boundary_crossings"),
            )
            .select(
                by,
                "n_docs",
                "total_tokens",
                F.expr(f"(total_tokens + {ctx - 1}) div {ctx}").alias("n_sequences"),
                F.expr(
                    f"(total_tokens + {ctx - 1}) div {ctx} * {ctx} - total_tokens"
                ).alias("pad_tokens"),
                "boundary_docs",
                "boundary_crossings",
            )
        )

    def mixture_weights(
        self, by: str = "source", budget: int = 1_000_000_000
    ) -> DataFrame:
        """tau=2 temperature mixing weights per ``by`` group (q204's
        shape): sampling weight proportional to sqrt(the group's token
        mass) plus the expected epochs each group runs at a
        ``budget``-token schedule. The one order-sensitive float
        reduction (the normalizer) folds over a group-sorted array, so
        the result is partitioning-independent."""
        s = (
            self.df.select(
                by,
                F.expr(
                    f"size(filter(split({self.text_col}, ' '), w -> w <> ''))"
                ).alias("n_tok"),
            )
            .groupBy(by)
            .agg(F.sum("n_tok").alias("tok"))
        )
        a = s.agg(
            F.sort_array(F.collect_list(F.struct(by, "tok"))).alias("arr")
        ).select(
            F.expr(
                "aggregate(arr, CAST(0 AS DOUBLE), "
                "(acc, x) -> acc + sqrt(CAST(x.tok AS DOUBLE)))"
            ).alias("tot")
        )
        return s.crossJoin(F.broadcast(a)).select(
            by,
            "tok",
            F.expr(
                "CASE WHEN tot > 0 THEN "
                "CAST(floor(1000000.0 * (sqrt(CAST(tok AS DOUBLE)) / tot))"
                " AS BIGINT) ELSE CAST(NULL AS BIGINT) END"
            ).alias("weight_micros"),
            F.expr(
                f"CASE WHEN tot > 0 AND tok > 0 THEN "
                f"CAST(floor(1000000.0 * ((sqrt(CAST(tok AS DOUBLE)) / tot)"
                f" * (CAST({budget} AS DOUBLE) / CAST(tok AS DOUBLE))))"
                f" AS BIGINT) ELSE CAST(NULL AS BIGINT) END"
            ).alias("epochs_micros"),
        )

    def take_token_budget(self, num: int = 1, den: int = 2) -> "TextCorpus":
        """Token-budget curriculum selection (q205's semantics): rank
        documents by the exact rational quality score floor(1e6 *
        distinct-token ratio) and keep them in (score DESC, id) order
        until ``num/den`` of the corpus token mass is admitted. Returns
        the selected corpus with all columns riding along. The budget
        pass projects only token counts (recomputing the distinct ratio
        there doubles the corpus scan cost for a value it can't
        affect); the admission order is a global single-partition
        running sum over 24-byte rows — swap in per-range quantile cuts
        at cluster scale."""
        score = (
            "CASE WHEN n_tok > 0 THEN CAST(floor(1000000.0 * "
            "(CAST(n_dis AS DOUBLE) / CAST(n_tok AS DOUBLE))) AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
        ws = f"filter(split({self.text_col}, ' '), w -> w <> '')"
        sd = self.df.select(
            self.id_col,
            F.expr(f"size({ws})").alias("n_tok"),
            F.expr(f"size(array_distinct({ws}))").alias("n_dis"),
        ).select(self.id_col, "n_tok", F.expr(score).alias("score"))
        b = self.df.select(F.expr(f"size({ws})").alias("n_tok")).agg(
            F.expr(f"sum(n_tok) * {num} div {den}").alias("budget")
        )
        w = Window.orderBy(F.col("score").desc(), self.id_col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        sel = (
            sd.select(self.id_col, F.sum("n_tok").over(w).alias("running"))
            .crossJoin(F.broadcast(b))
            .filter(F.col("running") <= F.col("budget"))
            .select(self.id_col)
        )
        return self._with(self.df.join(sel, self.id_col, "semi"))

    def neardup_calibration(self, hash_fn: str = "portable") -> DataFrame:
        """MinHash estimator calibration (q220): for every LSH candidate
        pair of this corpus, the signature-agreement Jaccard ESTIMATE
        next to the exact Jaccard of the two docs' shingle-digest sets,
        both in floored micros, with the absolute error. Run this
        before switching :meth:`dedup_near` to ``verify='estimate'`` —
        the cheap mode is safe exactly when this readout's error is
        tight around your threshold. Returns (d1, d2, est_micros,
        exact_micros, abs_err_micros). Past the banding, every join is
        confined to candidate pairs, and the signature and digest
        frames are plain subtrees Spark reuses across their consumers
        (no persist)."""
        did = self.id_col
        tok = shingle_tokens(self.df, did, self.text_col)
        h = shingle_digests(tok, did, hash_fn)
        mh = minhash_signatures(tok, did, hash_fn)
        pairs = lsh_candidate_pairs(mh, did)
        sizes = h.groupBy(did).agg(F.countDistinct("hs").alias("n"))
        shared = (
            pairs.join(h.alias("ha"), F.col(f"ha.{did}") == F.col("d1"))
            .join(
                h.alias("hb"),
                (F.col(f"hb.{did}") == F.col("d2"))
                & (F.col("hb.hs") == F.col("ha.hs")),
            )
            .groupBy("d1", "d2")
            .agg(F.countDistinct("ha.hs").alias("both_n"))
        )
        matches = " + ".join(
            f"(CASE WHEN am{i} = bm{i} THEN 1 ELSE 0 END)" for i in range(NUM_PERM)
        )
        a = mh.select(
            F.col(did).alias("d1"),
            *[F.col(f"m{i}").alias(f"am{i}") for i in range(NUM_PERM)],
        )
        b = mh.select(
            F.col(did).alias("d2"),
            *[F.col(f"m{i}").alias(f"bm{i}") for i in range(NUM_PERM)],
        )
        est = (
            pairs.join(a, "d1")
            .join(b, "d2")
            .select("d1", "d2", F.expr(f"CAST({matches} AS BIGINT)").alias("matches"))
        )
        m = (
            est.join(shared, ["d1", "d2"])
            .join(sizes.select(F.col(did).alias("d1"), F.col("n").alias("na")), "d1")
            .join(sizes.select(F.col(did).alias("d2"), F.col("n").alias("nb")), "d2")
            .select(
                "d1",
                "d2",
                F.expr(
                    f"CAST(floor(1000000.0 * (CAST(matches AS DOUBLE)"
                    f" / CAST({NUM_PERM} AS DOUBLE))) AS BIGINT)"
                ).alias("est_micros"),
                F.expr(
                    "CAST(floor(1000000.0 * (CAST(both_n AS DOUBLE)"
                    " / CAST(na + nb - both_n AS DOUBLE))) AS BIGINT)"
                ).alias("exact_micros"),
            )
        )
        return m.select(
            "d1",
            "d2",
            "est_micros",
            "exact_micros",
            F.expr("abs(est_micros - exact_micros)").alias("abs_err_micros"),
        )

# ---- statistics kernels shared with the query corpus ----
#
# The AMS F2 sketch (q272 batch, q280 streaming, f2_moment), the
# hash-Poisson bootstrap (q281 batch, q290 streaming, bootstrap_ci) and
# Chao1 richness (q286, vocab_richness) live here; the queries and
# their oracles import them from this module.

_AMS_D = 8


def ams_sign_counters(tok: DataFrame, hash_fn: str = "portable") -> DataFrame:
    """The AMS sketch side alone: 8 sign-sum counters x0..x7 built in
    ONE map-side conditional-sum aggregate over the token frame ``tok``
    (one column ``w``) — 8 BIGINTs per partition cross the wire, no
    per-word shuffle. ``hash_fn="portable"`` draws signs from the
    md5-derived h31 (DuckDB-replayable, q272's oracle contract);
    ``"fast"`` uses JVM-native xxhash64 — the production hash, measured
    6.3x cheaper at 500k docs (BASELINE.md)."""
    sign_bit = [F.expr(h31(f"'ams{j}-' || w", hash_fn) + " % 2") for j in range(_AMS_D)]
    return tok.agg(
        *[
            (F.sum(F.lit(1) - F.lit(2) * sign_bit[j])).cast("long").alias(f"x{j}")
            for j in range(_AMS_D)
        ]
    )


def ams_f2_sketch(tok: DataFrame, hash_fn: str = "fast") -> DataFrame:
    """SKETCH-ONLY AMS F2 (VERDICT r09 #3) — the deployment entry point.

    q272/q280 always pay an exact-F2 audit whose word-keyed shuffle
    (~450M tokens at 5M docs) dominates their wall and spills at scale;
    at deployment scale one runs the sketch WITHOUT the audit, and this
    is that code path: one map-side 8-counter aggregate, one 1-row
    median-of-squares assembly — the whole job is a single scan with no
    exchange but the final single-row gather. Returns one row
    (x0..x7, f2_est DOUBLE). The estimate is the median of the 8
    squared counters held in 2x integer space (sum of the 4th and 5th
    order statistics) exactly as q272 computes it, so on identical
    input + ``hash_fn="portable"`` the columns equal q272's sketch
    columns value-for-value (pinned in tests/test_operators.py)."""
    sk = ams_sign_counters(tok, hash_fn)
    return _ams_with_estimate(sk).select(
        *[F.col(f"x{j}") for j in range(_AMS_D)], "f2_est"
    )


def _ams_with_estimate(sk: DataFrame) -> DataFrame:
    """THE median-of-squares estimator (sum of the 4th and 5th order
    statistics in 2x integer space, one division) — the single assembly
    ams_f2_sketch AND ams_audit_tail ride, so the sketch-only facade
    and the audited q272/q280 cannot desynchronize."""
    sq = ", ".join(
        f"CAST(x{j} AS DECIMAL(38,0)) * CAST(x{j} AS DECIMAL(38,0))"
        for j in range(_AMS_D)
    )
    return sk.withColumn("sq", F.expr(f"array_sort(array({sq}))")).withColumn(
        "f2_est",
        F.expr("CAST(element_at(sq, 4) + element_at(sq, 5) AS DOUBLE)") / F.lit(2.0),
    )


def ams_audit_tail(sk: DataFrame, tok: DataFrame) -> DataFrame:
    """Shared AMS assembly (q272 batch, q280 streaming, and the bench
    fast-hash variant all use THIS function so the "q272 oracle
    verbatim" contract cannot desynchronize): exact F2 from the token
    frame ``tok`` (one column ``w``) + the median-of-squares estimate
    from the 8-counter frame ``sk`` (columns x0..x7)."""
    exact = (
        tok.groupBy("w")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
            .cast("decimal(38,0)")
            .alias("f2")
        )
    )
    return _ams_with_estimate(sk.crossJoin(F.broadcast(exact))).select(
        *[F.col(f"x{j}") for j in range(_AMS_D)],
        F.col("f2").cast("double").alias("f2_exact"),
        "f2_est",
    )


_BOOT_R = 64
# floor(CDF_Poisson(1)(k) * (2^31 - 1)) for k = 0..7; h < _BOOT_T[k]
# counts thresholds, h >= all eight -> k = 8 (the cap)
_BOOT_T = [
    790015083,
    1580030167,
    1975037709,
    2106706890,
    2139624185,
    2146207644,
    2147304887,
    2147461637,
]


def _boot_k_sql(h_expr: str) -> str:
    """Poisson(1) weight from a 31-bit hash: engine-shared CASE text."""
    arms = " ".join(
        f"WHEN {h_expr} < {t} THEN {k}" for k, t in enumerate(_BOOT_T)
    )
    return f"CASE {arms} ELSE 8 END"


def bootstrap_rep_frame(
    docs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    value_expr: str = "n_chars",
    hash_fn: str = "portable",
) -> DataFrame:
    """(group, r, sk, s1) per group and replicate: sk = sum of Poisson
    weights, s1 = weighted value sum. r = -1 is the raw pass (k = 1).
    Shared by q281 (batch), q290 (streaming groupBy state — both sums
    are monotone under row arrival, so drained maxima ARE the final
    cells) and the ``TextCorpus.bootstrap_ci`` facade. ``hash_fn``:
    "portable" draws weights from the md5-derived h31 (the oracle
    contract); "fast" from xxhash64 — the production hash (the
    portable md5 is the measured wall at 5M docs, BASELINE.md)."""
    h = h31(f"concat('boot', CAST(r AS STRING), '-', CAST({id_col} AS STRING))", hash_fn)
    k = f"CASE WHEN r = -1 THEN 1 ELSE {_boot_k_sql(f'({h})')} END"

    # 65 digests per doc are pure map-side CPU; a scan-starved batch
    # input would run them on 1-3 cores (no-op for q290's streaming
    # frame and for any already-spread scan)
    docs = spread_input(docs, key=id_col)
    return (
        docs.select(
            F.col(id_col),
            F.col(group_col).alias("source"),
            F.expr(f"CAST({value_expr} AS BIGINT)").alias("_v"),
        )
        .withColumn("r", F.explode(F.expr(f"sequence(-1, {_BOOT_R - 1})")))
        .select("source", "r", F.expr(f"CAST({k} AS BIGINT)").alias("k"), "_v")
        .groupBy("source", "r")
        .agg(
            F.sum("k").alias("sk"),
            F.sum(F.col("k") * F.col("_v")).alias("s1"),
        )
    )


def bootstrap_ci_tail(per_rep: DataFrame) -> DataFrame:
    """Assemble (source, n_docs, point_micros, n_reps, ci_lo_micros,
    ci_hi_micros) from the per-replicate sums — q281's tail, reused
    verbatim by q290 so the streaming twin rides q281's oracle."""
    means = per_rep.filter("r >= 0 AND sk > 0").select(
        "source",
        F.expr("CAST(floor(1000000.0 * CAST(s1 AS DOUBLE) / CAST(sk AS DOUBLE)) AS BIGINT)").alias(
            "mean_micros"
        ),
    )
    ci = means.groupBy("source").agg(
        F.expr("array_sort(collect_list(mean_micros))").alias("ms")
    )
    raw = per_rep.filter("r = -1").select(
        "source",
        F.col("sk").alias("n_docs"),
        F.expr("CAST(floor(1000000.0 * CAST(s1 AS DOUBLE) / CAST(sk AS DOUBLE)) AS BIGINT)").alias(
            "point_micros"
        ),
    )
    return (
        raw.join(ci, "source")
        .select(
            "source",
            "n_docs",
            "point_micros",
            F.expr("CAST(size(ms) AS BIGINT)").alias("n_reps"),
            F.expr(
                "element_at(ms, greatest(1, CAST(floor(0.025 * size(ms)) AS INT) + 1))"
            ).alias("ci_lo_micros"),
            F.expr(
                "element_at(ms, least(size(ms), CAST(ceil(0.975 * size(ms)) AS INT)))"
            ).alias("ci_hi_micros"),
        )
        .orderBy("source")
    )


def chao1_frame(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """q286's construction over any (group, text) columns — shared by
    the registered query and ``TextCorpus.vocab_richness`` (VERDICT
    r10 #8) so the facade cannot desynchronize from its oracle. The
    word-keyed shuffle's MAP side (explode + partial counts) is the
    expensive half, so a scan-starved input is re-spread first."""

    # Spread key: a row-unique SPLIT-STABLE surrogate, not text_col —
    # chao1's contract has no id column, and hashing the text would
    # send every copy of a duplicated text (common pre-dedup) plus all
    # nulls to ONE partition, partially re-creating the starvation the
    # spread exists to fix (ADVICE r11).
    df = spread_input(df, key=F.monotonically_increasing_id())
    tok = df.select(
        group_col,
        F.explode(F.expr(f"filter(split({text_col}, ' '), x -> x <> '')")).alias(
            "w"
        ),
    )
    wc = tok.groupBy(group_col, "w").agg(F.count("*").cast("long").alias("c"))
    return (
        wc.groupBy(group_col)
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("f1"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("f2"),
        )
        .select(
            group_col,
            "n_tokens",
            "vocab",
            "f1",
            "f2",
            F.expr(
                "CAST(1000000 * vocab"
                " + CAST(1000000 AS DECIMAL(38,0)) * f1 * (f1 - 1)"
                "   div (2 * (f2 + 1)) AS BIGINT)"
            ).alias("chao1_micros"),
            F.expr(
                "CAST(1000000 - CAST(1000000 AS DECIMAL(38,0)) * f1 div n_tokens"
                " AS BIGINT)"
            ).alias("coverage_micros"),
        )
        .orderBy(group_col)
    )
