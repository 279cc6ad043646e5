"""Near-duplicate detection pipeline: MinHash-LSH candidate generation
followed by exact Jaccard verification — the candidate-then-verify shape
production dedup runs at corpus scale. This module owns the shared
kernels: the 31-bit hash (:func:`h31`), the MinHash permutation
constants, the word-gram enumerator and the signature/band/pair
stages. The query corpus (q52 and its consumers), the facades and the
streaming dedup all build on them.

Stage costs at 100 TB:
1. ``shingle_tokens``: map-only explode, no shuffle;
2. ``minhash_signatures``: one partial-aggregated shuffle of 16-column
   signatures (tiny — one row per doc);
3. ``lsh_candidate_pairs``: groupBy on band signatures; only docs
   sharing a band collide, so the join is linear-ish in practice;
4. ``jaccard_verify``: exact intersection/union **only for candidate
   pairs** — the quadratic step is confined to the (small) candidate
   set instead of the full corpus.

Hashing: ``hash_fn="portable"`` (default) uses the md5-derived 31-bit
family the corpus oracles replay in DuckDB (queries/llm.duck_h31), so
every stage is value-checkable. ``hash_fn="fast"`` swaps in xxhash64
masked to the same 31-bit domain — whole-stage-codegen JVM hashing
with no digest-string materialization. Measured at 10x docs the
signature stage is explode/shuffle-bound so both modes time alike;
the fast path pulls ahead when shingles are long (md5 cost scales
with string bytes) or the permutation count grows.

Stages are built from parsed SQL strings, one ``F.expr`` per
aggregate, not ``F.*`` operator trees: each operator node is a py4j
round-trip, and the parsed trees (and executed plans) are identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .cachetrack import tracked_persist
from .skew import spread_input

MERSENNE_P = 2_147_483_647  # 2^31 - 1
NUM_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = NUM_PERM // N_BANDS
PERM_A = [1 + 12_347 * i for i in range(NUM_PERM)]
PERM_B = [7 + 6_791 * i for i in range(NUM_PERM)]


def h31(expr: str, hash_fn: str = "portable") -> str:
    """SQL text of the 31-bit hash of the SQL expression ``expr``.

    "portable": the first 32 bits of md5, mod 2^31 - 1, in [0, 2^31 - 1)
    — bit-identical to queries/llm.duck_h31 in DuckDB (the oracle
    contract). "fast": xxhash64 masked to 31 bits, JVM-native."""
    if hash_fn == "portable":
        return f"CAST(conv(substr(md5({expr}),1,8),16,10) AS BIGINT) % {MERSENNE_P}"
    if hash_fn == "fast":
        return f"(xxhash64({expr}) & {MERSENNE_P})"
    raise ValueError(f"hash_fn must be 'portable' or 'fast', got {hash_fn!r}")


def salted_h31(col: str, salt: str) -> Column:
    """Portable :func:`h31` of ``salt || CAST(col AS STRING)`` — the
    ordering key of the hash-ranked selections (stable across runs,
    engines and cluster sizes; distinct salts decorrelate). The salt
    enters the SQL as a hex literal that constant folding decodes once,
    so no character in it can break parsing."""
    name = "`" + col.replace("`", "``") + "`"
    salt_sql = f"decode(unhex('{salt.encode('utf-8').hex()}'), 'UTF-8')"
    return F.expr(h31(f"concat({salt_sql}, CAST({name} AS STRING))"))


# The 3-gram shingle array as ONE lambda expression over a word array
# ``w``. The exploded form is CodegenFallback (interpreted per element),
# so batch stages use :func:`word_grams`; this form exists for the
# streaming map-side fold (streaming/neardup.py), which must not explode.
SHINGLE_ARRAY = (
    "CASE WHEN size(w) >= 3 THEN "
    "transform(sequence(0, size(w) - 3), "
    "i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), element_at(w, i + 3))) "
    "ELSE array() END"
)


def word_grams(
    df: DataFrame, id_col: str | None, text_col: str, n: int, out: str = "gram"
) -> DataFrame:
    """(id, ``out``) word ``n``-gram rows, with duplicates, via codegen
    posexplode + indexed concat_ws — the exploded lambda form is
    CodegenFallback, i.e. interpreted per element (measured 2.5x the
    codegen form on a 271M-instance enumeration, OPTIMIZATION_r11 §10).
    Docs with fewer than ``n`` words yield no row. ``id_col=None``
    emits the gram column alone."""
    # Internal columns use collision-resistant names (ADVICE r11):
    # id_col/text_col are caller-chosen, so a caller frame already
    # holding a column named `w` or `i` would otherwise hit an
    # ambiguous-reference error (or silently bind the wrong column)
    # inside the F.expr references below.
    gram_expr = "concat_ws(' ', " + ", ".join(
        f"_wg_w[_wg_i + {k}]" if k else "_wg_w[_wg_i]" for k in range(n)
    ) + ")"
    ids = [id_col] if id_col else []
    return (
        df.select(*[F.col(c) for c in ids], F.split(F.col(text_col), " ").alias("_wg_w"))
        .select(*ids, "_wg_w", F.posexplode("_wg_w").alias("_wg_i", "_wg_w0"))
        .filter(F.col("_wg_i") < F.size("_wg_w") - (n - 1))
        .select(*ids, F.expr(gram_expr).alias(out))
    )


def shingle_tokens(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, s) word-3-gram shingles per document (with duplicates —
    callers that need sets apply distinct themselves; MIN-based
    signatures don't need it). The downstream per-shingle digest + 16
    permutations are pure map CPU executed in the SCAN stage (partial
    aggregation), so a scan-starved compressed input is re-spread
    first (operators/skew.spread_input — no-op on multi-file layouts
    and streaming frames): measured 38-48 s -> 13-17 s for the full
    q52 at 500k docs, where the starved signature scan was ~70% of the
    wall."""
    return word_grams(spread_input(docs, key=id_col), id_col, text_col, 3, out="s")


def shingle_digests(
    tok: DataFrame, id_col: str = "doc_id", hash_fn: str = "portable"
) -> DataFrame:
    """Distinct (id, hs): the :func:`h31` digests of each doc's shingle
    set, over the (id, s) frame of :func:`shingle_tokens` — the
    exact-Jaccard side of the MinHash audits (q220/q240/q242/q251/q253)."""
    return tok.select(id_col, F.expr(h31("s", hash_fn)).alias("hs")).distinct()


def minhash_signatures(
    tok: DataFrame, id_col: str = "doc_id", hash_fn: str = "portable"
) -> DataFrame:
    """One row per doc with NUM_PERM min-hash columns m0..m15 over the
    (id, s) shingle frame ``tok``. MIN() is insensitive to duplicate
    shingles, so no distinct: the shingle strings stay map-local and
    the only shuffle is the partial-aggregated signature per doc."""
    h = tok.select(id_col, F.expr(h31("s", hash_fn)).alias("hs"))
    # one F.expr per aggregate: the F.*-operator form measured 174 ms of
    # driver time per construction for these 16 aggregates vs 42 ms as
    # strings (the bench re-builds each query every pass)
    return h.groupBy(id_col).agg(
        *[
            F.expr(f"min(({PERM_A[i]} * hs + {PERM_B[i]}) % {MERSENNE_P}) AS m{i}")
            for i in range(NUM_PERM)
        ]
    )


# array of the N_BANDS band signatures, each the '_'-joined band rows
_BAND_ARRAY = "array(" + ", ".join(
    "concat_ws('_', "
    + ", ".join(f"cast(m{b * ROWS_PER_BAND + r} as string)" for r in range(ROWS_PER_BAND))
    + ")"
    for b in range(N_BANDS)
) + ")"


def lsh_band_rows(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band, sig) rows — one per doc per LSH band. The shared
    banding stage of every candidate generator (all-pairs, star,
    incremental): one posexplode over an array of band signatures so
    the (expensive) signature aggregation executes once — a union of
    per-band selects would re-run it per branch."""
    return signatures.select(id_col, F.posexplode(F.expr(_BAND_ARRAY)).alias("band", "sig"))


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id", sorted_output: bool = False
) -> DataFrame:
    """Distinct (d1, d2) pairs colliding in at least one LSH band.

    ``sorted_output=True`` (q52, whose declared result is the pair set
    ORDERED by d1, d2) range-partitions the raw pair stream on
    (d1, d2) BEFORE the dedup: one range exchange satisfies both the
    distinct's ClusteredDistribution and the final sort's
    OrderedDistribution (guide §2.4 — two operations keyed the same
    way share one exchange), so the result set crosses ONE wide shuffle
    instead of two (hash-distinct + range-sort). Measured 13.9 -> 10.5 s
    for the full q52 at 500k docs; rows identical. Unsorted callers keep
    the plain hash distinct — for them range partitioning buys nothing
    and costs the sampling job.

    The band self-join is hinted to a shuffled hash join: both sides
    then need the same (band, sig) exchange over the same subtree, AQE
    reuses it, and every signature is computed once, in that exchange's
    map stage. Left to itself, the planner broadcast one side of a
    small corpus, so the shingle -> md5 -> 16-min subtree ran once for
    the broadcast, once on the probe side and, for q52, once more under
    the range bounds sampler (which executes its child). Measured on
    q52 at sf0.1 (5 000 docs, 4 vCPU): 3 signature stages -> 1, exec
    1.15 s -> 0.35 s, still 5 jobs; the sampler now reads the band
    shuffle. At 500k docs (27.9M pairs, same host) warm walls went
    33-36 s -> 31-32 s, same pairs, 5 jobs."""
    bands = lsh_band_rows(signatures, id_col)
    a, b_ = bands.alias("a"), bands.alias("b").hint("shuffle_hash")
    raw = a.join(
        b_,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.sig") == F.col("b.sig"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
    if sorted_output:
        raw = raw.repartitionByRange("d1", "d2")
    return raw.distinct()


def lsh_star_edges(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (d1, d2) STAR edges per LSH band bucket: every bucket
    member links to the bucket's minimum id (d1 = rep < d2 = member)
    instead of to every other member.

    This is the scale form of :func:`lsh_candidate_pairs` for corpora
    with LARGE duplicate clusters: a bucket of c docs emits c - 1 star
    edges instead of c(c-1)/2 pairs, so candidate volume is linear in
    bucket size rather than quadratic. For connected-components
    clustering the transitive closure over unverified star edges equals
    the closure over all-pairs edges (both connect exactly the bucket);
    under per-edge verification the star is an approximation — a member
    is compared only against bucket representatives, so a cluster can
    split where all-pairs would have held it together via a non-rep
    bridge. That trade (possible cluster splits, never false merges)
    is the standard production posture when cluster sizes are unbounded
    — at 1000-member near-dup clusters the all-pairs set measured ~2.5B
    candidates vs ~5M star edges (BASELINE.md round-7 5M-doc profile).

    One window-min shuffle on (band, sig); no join back."""
    from pyspark.sql import Window

    bands = lsh_band_rows(signatures, id_col)
    rep = F.min(id_col).over(Window.partitionBy("band", "sig"))
    return (
        bands.withColumn("_rep", rep)
        .filter(F.col(id_col) > F.col("_rep"))
        .select(F.col("_rep").alias("d1"), F.col(id_col).alias("d2"))
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame,
    tok: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard for candidate pairs only: (d1, d2, jaccard) with
    jaccard >= threshold. ``tok`` is the full (id, s) shingle stream;
    it is deduplicated and semi-joined down to candidate docs first, so
    the set arithmetic touches only candidate members.

    Two scale guards keep the per-pair intersection join (the stage
    that dominates pipeline wall time — BASELINE.md profiles it at 84%
    of a 500k-doc run) as small as the semantics allow:

    - ``sets`` is persisted: it feeds the size aggregate AND both sides
      of the intersection join, and without the persist each consumer
      re-runs the shingle explode + semi-join + distinct.
    - a LOSSLESS size-ratio prefilter drops pairs before they reach the
      intersection join: J(A, B) <= min(|A|,|B|) / max(|A|,|B|), so a
      pair whose distinct-shingle counts differ by more than the
      threshold ratio cannot verify and never pays the per-shingle
      join. (No effect on output — pure pigeonhole.)"""
    cand_docs = (
        candidates.select(F.col("d1").alias(id_col))
        .union(candidates.select(F.col("d2").alias(id_col)))
        .distinct()
    )
    sets = tracked_persist(
        tok.join(F.broadcast(cand_docs), id_col, "left_semi").distinct()
    )
    sizes = sets.groupBy(id_col).agg(F.count("*").alias("n"))
    sa = sizes.select(F.col(id_col).alias("d1"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("d2"), F.col("n").alias("nb"))

    survivors = (
        candidates.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .filter(
            # ratio form, NOT min >= t*max: fl(min/max) is the correctly-
            # rounded ratio, and rounding is monotone, so J >= t (as the
            # final filter computes it) implies this passes — whereas
            # t*max can round up and drop an exact-boundary pair
            # (na=4, nb=5, J=0.8 at t=0.8).
            F.least("na", "nb").cast("double") / F.greatest("na", "nb")
            >= F.lit(threshold)
        )
        .select("d1", "d2")
    )

    t1 = sets.select(F.col(id_col).alias("d1"), F.col("s").alias("s1"))
    t2 = sets.select(F.col(id_col).alias("_d2"), F.col("s").alias("s2"))
    shared = (
        survivors.join(t1, "d1")
        .join(t2, (F.col("d2") == F.col("_d2")) & (F.col("s1") == F.col("s2")))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("both_n"))
    )
    jac = F.col("both_n").cast("double") / (F.col("na") + F.col("nb") - F.col("both_n"))
    return (
        shared.join(F.broadcast(sa), "d1")
        .join(F.broadcast(sb), "d2")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def estimate_verify(
    candidates: DataFrame,
    signatures: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash-ESTIMATE verification: (d1, d2, jaccard) where jaccard is
    the fraction of the NUM_PERM minhash components the two docs agree
    on — an unbiased estimator of true Jaccard with per-pair stddev
    sqrt(J(1-J)/NUM_PERM) (~0.1 at 16 perms). Unlike
    :func:`jaccard_verify` this never re-touches the shingle stream:
    the cost per candidate pair is two joins against the one-row-per-doc
    signature frame plus a 16-term map-side comparison, so verification
    stops being the pipeline bottleneck (BASELINE.md measures the exact
    path at 84% of a 500k-doc run; this path is ~25x cheaper). The
    trade is approximation: pairs within ~2 sigma of the threshold can
    flip relative to exact verification, which a dedup pipeline
    tolerates (boundary pairs are coin-flip duplicates anyway) but an
    oracle-checked exact query cannot — q68 keeps the exact path.

    No broadcast hint on the signature joins: locally AQE broadcasts
    the one-row-per-doc frame; at billions of docs it exceeds any
    broadcast budget and the planner's shuffle join on the pair key is
    the right call — the decision belongs to statistics, not the code."""
    sig_cols = [f"m{i}" for i in range(NUM_PERM)]
    s1 = signatures.select(
        F.col(id_col).alias("d1"), *[F.col(c).alias(f"a_{c}") for c in sig_cols]
    )
    s2 = signatures.select(
        F.col(id_col).alias("d2"), *[F.col(c).alias(f"b_{c}") for c in sig_cols]
    )
    agree = sum(
        (F.col(f"a_{c}") == F.col(f"b_{c}")).cast("int") for c in sig_cols
    )
    return (
        candidates.join(s1, "d1")
        .join(s2, "d2")
        .withColumn("jaccard", agree.cast("double") / F.lit(float(NUM_PERM)))
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def neardup_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "portable",
    verify: str = "exact",
    candidates: str = "pairs",
) -> DataFrame:
    """The full pipeline: shingle -> sign -> LSH candidates -> verified
    (d1, d2, jaccard) pairs at or above ``threshold``. ``verify``:
    "exact" re-derives shingle sets for candidate pairs
    (:func:`jaccard_verify`); "estimate" scores pairs from signature
    agreement alone (:func:`estimate_verify`) — the production mode
    when verification dominates wall time. ``candidates``: "pairs"
    emits every in-bucket pair (:func:`lsh_candidate_pairs`); "star"
    emits member->bucket-min edges only (:func:`lsh_star_edges`) —
    linear in bucket size, the required mode when duplicate clusters
    are unbounded (a 1000-member cluster is ~500k pairs but ~999
    star edges)."""
    if candidates not in ("pairs", "star"):
        raise ValueError(f"candidates must be 'pairs' or 'star', got {candidates!r}")
    tok = shingle_tokens(docs, id_col, text_col)
    sigs = minhash_signatures(tok, id_col, hash_fn)
    if verify == "estimate":
        sigs = tracked_persist(sigs)
    gen = lsh_star_edges if candidates == "star" else lsh_candidate_pairs
    cands = gen(sigs, id_col)
    if verify == "estimate":
        return estimate_verify(cands, sigs, threshold, id_col)
    if verify != "exact":
        raise ValueError(f"verify must be 'exact' or 'estimate', got {verify!r}")
    return jaccard_verify(cands, tok, threshold, id_col)


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_shingles: int = 10,
) -> DataFrame:
    """Ordered near-containment pairs (a, b, n_a, n_b, containment):
    |S(a) ∩ S(b)| / |S(a)| >= threshold over distinct 3-gram shingle
    sets — document ``a`` is (near-)contained in ``b``. The partial-copy
    class Jaccard dedup misses: a paragraph embedded in a long document
    scores high containment but low Jaccard.

    Exact-complete prefix blocking (pigeonhole, q128): a's
    (n_a - ceil(t * n_a) + 1) globally-rarest shingles must hit any
    qualifying b at least once, so candidates come from an equi-join of
    a's prefix against b's full shingle list; the exact intersection
    verify is equi-joined on (b, shingle) and confined to candidates.
    Threshold and prefix length use INTEGER arithmetic (exact at the
    t = p/q boundary). Docs under ``min_shingles`` never emit as ``a``
    (containment over tiny sets is noise) but still serve as ``b``.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(1000)
    tp, tq = frac.numerator, frac.denominator
    tk = tracked_persist(
        shingle_tokens(docs, id_col, text_col)
        .withColumnRenamed("s", "tok")
        .distinct()  # containment is over shingle SETS
    )
    sz = tk.groupBy(id_col).agg(F.count("*").alias("n_tok"))
    dfreq = tk.groupBy("tok").agg(F.count("*").alias("df"))
    from pyspark.sql import Window

    ranked = (
        tk.join(dfreq, "tok")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy(id_col).orderBy("df", "tok")),
        )
        .join(sz, id_col)
    )
    # prefix length n - ceil(tp*n/tq) + 1, all-integer
    prefix = ranked.filter(
        (F.col("n_tok") >= min_shingles)
        & (
            F.col("rn")
            <= F.col("n_tok")
            - F.expr(f"({tp} * n_tok + {tq - 1}) div {tq}")
            + F.lit(1)
        )
    ).select(F.col(id_col).alias("a"), "tok")
    cand = (
        prefix.join(tk.select(F.col(id_col).alias("b"), "tok"), "tok")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    inter = (
        cand.join(tk.select(F.col(id_col).alias("a"), "tok"), "a")
        .join(tk.select(F.col(id_col).alias("b"), "tok"), ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(sz.select(F.col(id_col).alias("a"), F.col("n_tok").alias("n_a")), "a")
        .join(sz.select(F.col(id_col).alias("b"), F.col("n_tok").alias("n_b")), "b")
        .filter(F.col("n_common") * tq >= F.col("n_a") * tp)
        .select(
            "a",
            "b",
            "n_a",
            "n_b",
            (F.col("n_common").cast("double") / F.col("n_a").cast("double")).alias(
                "containment"
            ),
        )
    )


def snm_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 2,
    key_chars: int = 40,
) -> DataFrame:
    """Sorted-neighborhood candidate pairs (a, b): the merge/purge
    method (Hernandez & Stolfo, SIGMOD'95) — ONE global sort by a
    word-order-insensitive content key (the doc's sorted distinct-token
    string, truncated) brings likely duplicates adjacent; each record
    pairs with only its ``window`` following neighbors. Candidate
    volume is window * N — LINEAR, vs LSH's banding tables — at the
    cost of missing duplicates whose keys diverge in the first
    ``key_chars`` characters.

    Scale shape: positions come from the parallel global numbering
    operator (range partition + per-partition offsets — no
    single-partition window), and neighbor pairing is ONE int
    equi-join on position+i probe keys, partition boundaries included.
    Pair with ``jaccard_verify``/``estimate_verify`` for the
    verification stage, exactly like the LSH candidate path."""
    from .rank import global_positions

    keyed = df.select(
        F.col(id_col),
        F.substring(
            F.array_join(
                F.array_sort(F.array_distinct(F.split(F.col(text_col), " "))), " "
            ),
            1,
            key_chars,
        ).alias("_k"),
    )
    pos = global_positions(keyed, ["_k", id_col], position_col="_p").select(
        F.col(id_col), F.col("_p")
    )
    probes = pos.select(
        F.col(id_col).alias("a"),
        F.explode(
            F.array(*[F.col("_p") + F.lit(i) for i in range(1, window + 1)])
        ).alias("_p"),
    )
    return probes.join(
        pos.select(F.col(id_col).alias("b"), "_p"), "_p"
    ).select("a", "b")
