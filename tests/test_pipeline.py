"""End-to-end tests for the TextCorpus training-data pipeline facade:
stage composition, determinism, and agreement with the corpus-query
implementations of the same stages."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dicom_metadata_extractor_serverless_datalake_spark.pipeline import TextCorpus


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


def test_dedup_exact_keeps_min_id_per_digest(spark, docs):
    # plant exact duplicates with higher ids
    dupes = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    c = TextCorpus(docs.unionByName(dupes)).dedup_exact()
    out = c.df
    assert out.count() == docs.count()
    assert out.filter(F.col("doc_id") >= 1_000_000).count() == 0


def test_dedup_near_drops_only_cluster_losers(spark, docs):
    before = docs.count()
    c = TextCorpus(docs).dedup_near(threshold=0.8)
    after = c.df.count()
    assert after <= before
    # canonical docs of every near-dup cluster survive: rerunning the
    # same dedup is a fixpoint
    again = TextCorpus(c.df).dedup_near(threshold=0.8).df.count()
    assert again == after


def test_quality_filter_and_redaction_compose(spark, docs):
    c = (
        TextCorpus(docs)
        .quality_filter(min_chars=100, max_symbol_ratio=0.3)
        .redact_pii(all_numbers=True)
    )
    out = c.df
    assert out.filter(F.length("text") < 100).count() == 0
    # all digit runs got replaced in the opt-in scorched-earth mode
    assert out.filter(F.col("text").rlike("[0-9]")).count() == 0


def test_redact_pii_default_preserves_short_digit_runs(spark):
    rows = [
        (1, "released on 2024-03-15 version 2.1 with 42 fixes"),
        (2, "call 5551234567 or mail a.b@example.com ssn 123-45-6789"),
    ]
    out = {
        r.doc_id: r.text
        for r in TextCorpus(spark.createDataFrame(rows, "doc_id int, text string"))
        .redact_pii()
        .df.collect()
    }
    # dates / versions / small quantities survive the default scrub
    assert out[1] == "released on 2024-03-15 version 2.1 with 42 fixes"
    # phone-shaped long runs, emails and SSN-shaped spans do not
    assert out[2] == "call <NUM> or mail <EMAIL> ssn <SSN>"


def test_split_is_deterministic_partition_and_exhaustive(spark, docs):
    c = TextCorpus(docs)
    s = c.split({"train": 80, "val": 10, "test": 10}, salt="s1")
    n = docs.count()
    counts = {k: v.count() for k, v in s.items()}
    assert sum(counts.values()) == n
    # disjoint
    assert s["train"].join(s["val"], "doc_id").count() == 0
    # deterministic across re-construction
    s2 = TextCorpus(docs).split({"train": 80, "val": 10, "test": 10}, salt="s1")
    assert s2["train"].count() == counts["train"]
    # different salt -> different membership (overwhelmingly likely)
    s3 = c.split({"train": 80, "val": 10, "test": 10}, salt="other")
    diff = s["train"].join(s3["train"], "doc_id", "left_anti").count()
    assert diff > 0


def test_split_weights_validated(docs):
    with pytest.raises(ValueError):
        TextCorpus(docs).split({"a": 50, "b": 40})


def test_chunk_round_trips_text(spark, docs):
    sample = docs.filter(F.col("doc_id") < 50)
    chunks = TextCorpus(sample).chunk(128)
    # rebuilding each doc from its chunks in chunk_id order must give
    # back the original text exactly
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_id", "chunk"))),
                    lambda s: s["chunk"],
                ),
                "",
            ).alias("rebuilt")
        )
    )
    j = sample.join(rebuilt, "doc_id")
    assert j.filter(F.col("text") != F.col("rebuilt")).count() == 0


def test_chunk_empty_docs_emit_no_rows(spark):
    rows = [(1, ""), (2, None), (3, "abc")]
    chunks = TextCorpus(spark.createDataFrame(rows, "doc_id int, text string")).chunk(2)
    got = sorted((r.doc_id, r.chunk_id, r.chunk) for r in chunks.collect())
    assert got == [(3, 0, "ab"), (3, 1, "c")]


def test_split_salt_with_quote_is_safe(spark, docs):
    sample = docs.limit(200)
    s = TextCorpus(sample).split({"a": 50, "b": 50}, salt="it's v1")
    assert sum(df.count() for df in s.values()) == sample.count()


def test_full_pipeline_end_to_end(spark, docs):
    clean = (
        TextCorpus(docs)
        .dedup_exact()
        .quality_filter(min_chars=60)
        .redact_pii()
    )
    stats = clean.stats().collect()[0]
    assert stats.n_docs > 0 and stats.min_chars >= 0
    splits = clean.split({"train": 90, "val": 5, "test": 5}, salt="e2e")
    assert sum(df.count() for df in splits.values()) == stats.n_docs


def test_persist_caches_and_chains(spark, docs):
    c = TextCorpus(docs).dedup_exact().persist()
    try:
        assert c.df.count() == c.df.count()
        assert c.df.storageLevel.useMemory or c.df.storageLevel.useDisk
    finally:
        c.unpersist()
    assert not (c.df.storageLevel.useMemory or c.df.storageLevel.useDisk)


def test_dedup_contained_drops_embedded_doc_keeps_container(spark):
    base = " ".join(f"w{i} x{i} y{i}" for i in range(30))  # 90 tokens
    para = " ".join(f"w{i} x{i} y{i}" for i in range(10, 20))  # verbatim slice
    other = " ".join(f"z{i} q{i} r{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, base), (2, para), (3, other)], "doc_id long, text string"
    )
    out = TextCorpus(docs).dedup_contained(threshold=0.8).df
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [1, 3]  # the embedded paragraph goes, container stays


def test_dedup_contained_mutual_pair_keeps_exactly_one(spark):
    a = " ".join(f"t{i} u{i} v{i}" for i in range(20))
    b = a + " extra tail"  # near-identical, containment both ways >= 0.8
    docs = spark.createDataFrame([(7, a), (8, b)], "doc_id long, text string")
    out = TextCorpus(docs).dedup_contained(threshold=0.8).df
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [8]  # larger shingle set survives


def test_dedup_snm_drops_planted_near_dups(spark):
    """SNM near-dedup on a corpus with DISTINCTIVE content keys: each
    near-dup shares its source's sorted-token key prefix, sorts
    adjacent, verifies, and the min-id canonical survives. (On a
    near-degenerate key space — e.g. a tiny shared vocabulary — SNM's
    window can miss pairs; that recall limit is documented on the
    operator and is why dedup_near exists.)"""
    rows = []
    for i in range(30):
        words = [f"w{i:02d}x{j}" for j in range(12)]
        rows.append((i, " ".join(words)))
        # near-dup: same word multiset minus one, one added -> J ~ 11/13
        rows.append((1_000_000 + i, " ".join(words[:-1] + [f"w{i:02d}zz"])))
    both = spark.createDataFrame(rows, "doc_id long, text string")
    out = TextCorpus(both).dedup_snm(threshold=0.6).df
    ids1 = sorted(r.doc_id for r in out.select("doc_id").collect())
    assert all(i < 1_000_000 for i in ids1)
    assert len(ids1) == 30
    ids2 = sorted(
        r.doc_id
        for r in TextCorpus(both).dedup_snm(threshold=0.6).df.select("doc_id").collect()
    )
    assert ids1 == ids2


def test_decontaminate_drops_ngram_overlaps_only(spark):
    """A train doc sharing any word 5-gram with the eval set is
    dropped; disjoint docs and sub-5-token docs survive."""
    eval_df = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "prefix quick brown fox jumps over suffix words here"),  # shares 5-gram
            (2, "completely different content with no overlap at all"),
            (3, "quick brown fox jumps"),  # only 4 tokens — no 5-gram, kept
        ],
        "doc_id long, text string",
    )
    kept = sorted(
        r.doc_id for r in TextCorpus(train).decontaminate(eval_df).df.collect()
    )
    assert kept == [2, 3]


def test_repetition_filter_flags_degenerate_docs(spark):
    """Docs dominated by one repeated 2-gram (or duplicated 3-grams)
    drop; diverse docs and <3-token docs pass."""
    rows = [
        (1, " ".join(["spam ham"] * 20)),  # one 2-gram everywhere
        (2, " ".join(f"tok{i}" for i in range(40))),  # all distinct
        (3, "too short"),  # 2 tokens: passes by definition
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r.doc_id for r in TextCorpus(docs).repetition_filter().df.collect()
    )
    assert kept == [2, 3]


def test_gopher_filter_each_rule_fires_and_passes_good_docs(spark):
    # one doc per rule violation + two clean docs; stage must drop
    # exactly the violators (mirrors the q150 integer thresholds)
    good = "the quick brown fox jumps over a lazy dog near the old barn"
    rows = [
        (1, good),
        (2, "the " + " ".join(f"w{i % 97}x" for i in range(200)) + " a end"),
        (3, "the short a"),                       # < 10 words
        (4, "the a " + " ".join("a" for _ in range(18))),  # 1-char share + top-word
        (5, good.replace("the", "zzz").replace(" a ", " b ")),  # no stopword
        (6, "the a " + " ".join("repeat" for _ in range(18))),  # top word 75%
        (7, "the a " + " ".join("extraordinarily" for i in range(2))
            + " supercalifragilistic anotherverylongword yetanotherlongone"
            + " morelongwords andevenlongerones finalgiantword"),  # mean len > 8
    ]
    out = TextCorpus(spark.createDataFrame(rows, "doc_id int, text string")).gopher_filter()
    kept = sorted(r.doc_id for r in out.df.collect())
    assert kept == [1, 2]


def test_gopher_filter_agrees_with_q150_pass_counts(spark, docs):
    # the map-side stage and the relational q150 count the same docs
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    q = QUERIES["q150_gopher_rules"]
    agg = (
        q.spark_fn(spark, "/root/testdata/sf0.01")
        .agg(F.sum("n_pass_all").alias("n"))
        .collect()[0]["n"]
    )
    stage = TextCorpus(docs).gopher_filter().df.count()
    assert stage == agg


def test_sample_per_group_exact_k_and_deterministic(spark, docs):
    c = TextCorpus(docs)
    s1 = c.sample_per_group("lang", 5, salt="v1").df
    # exactly min(k, group size) per lang
    sizes = {r.lang: r.n for r in s1.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    full = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    for lang, n in sizes.items():
        assert n == min(5, full[lang])
    # deterministic: same salt -> same ids, under a different partitioning too
    s2 = TextCorpus(docs.repartition(13)).sample_per_group("lang", 5, salt="v1").df
    assert sorted(r.doc_id for r in s1.collect()) == sorted(r.doc_id for r in s2.collect())
    # different salt -> a different sample (overwhelmingly)
    s3 = c.sample_per_group("lang", 5, salt="v2").df
    assert sorted(r.doc_id for r in s1.collect()) != sorted(r.doc_id for r in s3.collect())
    # agrees with the q169 corpus query at k=10, no salt
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    q = QUERIES["q169_group_reservoir"].spark_fn(spark, "/root/testdata/sf0.01")
    stage = TextCorpus(docs).sample_per_group("lang", 10, salt="r169-").df
    assert sorted((r.lang, r.doc_id) for r in q.collect()) == sorted(
        (r.lang, r.doc_id) for r in stage.collect()
    )


def test_dedup_yield_pins_to_q181_and_accounts_every_doc(spark, docs):
    """dedup_yield at threshold=0.0 with the portable hash clusters the
    raw LSH candidate pairs — exactly q181's semantics (jaccard >= 0
    keeps every candidate), so the histograms must match row-for-row.
    And at any threshold the histogram is an exact partition of the
    corpus: n_docs sums to the doc count, total_chars to the char sum."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    q = QUERIES["q181_dedup_yield"].spark_fn(spark, "/root/testdata/sf0.01")
    stage = TextCorpus(docs).dedup_yield("source", threshold=0.0, hash_fn="portable")
    assert sorted(map(tuple, stage.collect())) == sorted(map(tuple, q.collect()))

    hist = TextCorpus(docs).dedup_yield("source", threshold=0.8)
    total = hist.agg(
        F.sum("n_docs").alias("d"), F.sum("total_chars").alias("c")
    ).collect()[0]
    base = docs.agg(
        F.count("*").alias("d"), F.sum(F.length("text")).alias("c")
    ).collect()[0]
    assert (total.d, total.c) == (base.d, base.c)


def test_dedup_paragraphs_ccnet_semantics(spark):
    mk = lambda i, t: {"doc_id": i, "text": t}
    docs = spark.createDataFrame(
        [
            mk(1, "SHARED HEADER\nbody one\nSHARED FOOTER"),
            mk(2, "SHARED HEADER\nbody two\nSHARED FOOTER"),
            mk(3, "SHARED HEADER\nSHARED FOOTER"),  # nothing unique -> drops
            mk(4, "body four\nbody four\ntail"),  # intra-doc dup: keep first
        ]
    )
    out = {r.doc_id: r.text for r in TextCorpus(docs).dedup_paragraphs().df.collect()}
    # first occurrence (min id, idx) keeps the shared lines; others lose them
    assert out[1] == "SHARED HEADER\nbody one\nSHARED FOOTER"
    assert out[2] == "body two"
    assert 3 not in out  # every paragraph was a duplicate
    assert out[4] == "body four\ntail"

    # deterministic under repartitioning
    out2 = {
        r.doc_id: r.text
        for r in TextCorpus(docs.repartition(13)).dedup_paragraphs().df.collect()
    }
    assert out == out2

    # idempotent: re-running is a fixpoint
    once = TextCorpus(docs).dedup_paragraphs().df
    twice = {r.doc_id: r.text for r in TextCorpus(once).dedup_paragraphs().df.collect()}
    assert twice == out


def test_dedup_paragraphs_short_line_bypass_and_custom_sep(spark):
    docs = spark.createDataFrame(
        [
            {"doc_id": 1, "text": "==|long paragraph here|=="},
            {"doc_id": 2, "text": "==|another paragraph|=="},
        ]
    )
    # '==' (2 chars) bypasses dedup at min_chars=3 and stays in BOTH docs,
    # with a regex-special separator handled literally
    out = {
        r.doc_id: r.text
        for r in TextCorpus(docs).dedup_paragraphs(sep="|", min_chars=3).df.collect()
    }
    assert out == {
        1: "==|long paragraph here|==",
        2: "==|another paragraph|==",
    }


def test_dedup_paragraphs_no_text_in_election_exchange(spark, docs):
    """The first-occurrence election must shuffle integer digests only —
    paragraph text crosses an exchange exactly once (the reassembly
    co-shuffle of the corpus itself)."""
    import re

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(TextCorpus(docs).dedup_paragraphs(sep=" ").df)
    for m in re.finditer(r"Exchange hashpartitioning\([^\n]*", plan):
        assert "para#" not in m.group(0), m.group(0)[:120]


def test_dedup_paragraphs_then_quality_filter(spark, docs):
    """A filter on the reassembled text composes with dedup_paragraphs:
    the optimizer must not push it below the reassembly join, where the
    text is out of scope. Equal to filtering a checkpointed dedup."""
    deduped = TextCorpus(docs).dedup_paragraphs()
    got = deduped.quality_filter(min_chars=100).df.collect()
    frozen = TextCorpus(deduped.df.localCheckpoint()).quality_filter(min_chars=100)
    want = frozen.df.collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got


def test_dedup_paragraphs_trailing_separator_doc_still_drops(spark):
    """A fully-duplicate doc must drop even when a trailing/doubled
    separator gives it empty segments — empty segments are artifacts
    and are never kept alive."""
    docs = spark.createDataFrame(
        [
            {"doc_id": 1, "text": "SHARED A\nSHARED B"},
            {"doc_id": 2, "text": "SHARED A\nSHARED B\n"},    # trailing sep
            {"doc_id": 3, "text": "SHARED A\n\nSHARED B\nown"},  # doubled sep
        ]
    )
    out = {r.doc_id: r.text for r in TextCorpus(docs).dedup_paragraphs().df.collect()}
    assert out[1] == "SHARED A\nSHARED B"
    assert 2 not in out           # nothing unique -> drops, not an empty shell
    assert out[3] == "own"        # doubled separator normalizes away


def test_dup_span_coverage_pins_to_q194(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    got = (
        TextCorpus(docs).dup_span_coverage().orderBy("doc_id").collect()
    )
    want = QUERIES["q194_dup_span_coverage"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_winnow_fingerprints_summary_pins_to_q187(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    fp = TextCorpus(docs).winnow_fingerprints()
    got = (
        fp.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_selected"),
            F.sum("fingerprint").alias("fp_checksum"),
            F.min("fingerprint").alias("fp_min"),
            F.max("fingerprint").alias("fp_max"),
        )
        .orderBy("doc_id")
        .collect()
    )
    want = QUERIES["q187_winnowing"].spark_fn(spark, "/root/testdata/sf0.01").collect()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g.doc_id, g.n_selected, g.fp_checksum, g.fp_min, g.fp_max) == (
            w.doc_id, w.n_selected, w.fp_checksum, w.fp_min, w.fp_max
        )


def test_winnow_fingerprints_guarantee_shared_run_shares_fp(spark):
    # two docs sharing a run of k + w - 1 = 7 tokens MUST share >= 1
    # fingerprint (the winnowing guarantee), on otherwise-unique text
    shared = "alpha beta gamma delta epsilon zeta eta"
    rows = [
        (1, f"u1 v1 w1 {shared} x1 y1 z1"),
        (2, f"p2 q2 r2 s2 {shared} t2"),
        (3, "totally different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = TextCorpus(df).winnow_fingerprints().collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared 7-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_dup_span_coverage_full_and_zero_coverage(spark):
    # identical docs -> full coverage; unique doc -> zero
    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),
        (3, "q r s t u v w x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in TextCorpus(df).dup_span_coverage().collect()}
    assert out[1].covered_tokens == 8 and out[1].dup_frac_micros == 1_000_000
    assert out[2].covered_tokens == 8
    assert out[3].covered_tokens == 0 and out[3].dup_frac_micros == 0


# ---- mixing & packing stages pin to their corpus queries ----


def test_lm_score_pins_to_q201(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    got = TextCorpus(docs).lm_score(hash_fn="portable").orderBy("doc_id").collect()
    want = QUERIES["q201_bigram_lm_score"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_lm_score_fast_hash_same_shape(spark, docs):
    # xxhash64 scores differ numerically but grouping structure holds:
    # every scored doc has n_bigrams = tokens - 1 and min <= avg
    out = TextCorpus(docs).lm_score(hash_fn="fast")
    bad = out.filter(
        (F.col("min_micros") > F.col("avg_micros"))
        | (F.col("avg_micros") > 1_000_000)
        | (F.col("n_bigrams") <= 0)
    )
    assert bad.count() == 0


def test_pack_sequences_pins_to_q202(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    got = TextCorpus(docs).pack_sequences(ctx=256).orderBy("source").collect()
    want = QUERIES["q202_sequence_packing"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_pack_sequences_invariants(spark, docs):
    # sequence accounting is exact: pad < ctx, crossings bounded by docs
    for ctx in (64, 1024):
        for r in TextCorpus(docs).pack_sequences(ctx=ctx).collect():
            assert 0 <= r.pad_tokens < ctx
            assert r.n_sequences * ctx == r.total_tokens + r.pad_tokens
            assert r.boundary_docs <= r.n_docs
            assert r.boundary_crossings >= r.boundary_docs


def test_mixture_weights_pins_to_q204(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    got = TextCorpus(docs).mixture_weights().orderBy("source").collect()
    want = QUERIES["q204_temperature_mix"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_mixture_weights_sum_to_one(spark, docs):
    ws = [r.weight_micros for r in TextCorpus(docs).mixture_weights().collect()]
    # floored micros: sum in (1e6 - n_groups, 1e6]
    assert 1_000_000 - len(ws) < sum(ws) <= 1_000_000


def test_take_token_budget_pins_to_q205(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    sel = TextCorpus(docs).take_token_budget().df
    ws = "filter(split(text, ' '), w -> w <> '')"
    score = (
        "CASE WHEN n_tok > 0 THEN CAST(floor(1000000.0 * "
        "(CAST(n_dis AS DOUBLE) / CAST(n_tok AS DOUBLE))) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    got = (
        sel.select(
            "lang",
            F.expr(f"size({ws})").alias("n_tok"),
            F.expr(f"size(array_distinct({ws}))").alias("n_dis"),
        )
        .select("lang", "n_tok", F.expr(score).alias("score"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("docs_sel"),
            F.sum("n_tok").alias("tokens_sel"),
            F.min("score").alias("min_score_sel"),
        )
        .orderBy("lang")
        .collect()
    )
    want = QUERIES["q205_token_budget_curriculum"].spark_fn(
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_take_token_budget_respects_budget(spark, docs):
    total = docs.select(
        F.sum(F.expr("size(filter(split(text, ' '), w -> w <> ''))"))
    ).collect()[0][0]
    sel = TextCorpus(docs).take_token_budget(num=1, den=4).df
    sel_tok = sel.select(
        F.sum(F.expr("size(filter(split(text, ' '), w -> w <> ''))"))
    ).collect()[0][0]
    assert sel_tok <= total // 4
    # selection is deterministic: same call, same set
    again = TextCorpus(docs).take_token_budget(num=1, den=4).df
    assert sorted(r.doc_id for r in sel.select("doc_id").collect()) == sorted(
        r.doc_id for r in again.select("doc_id").collect()
    )


def test_neardup_calibration_pins_to_q220(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    got = sorted(
        tuple(r) for r in TextCorpus(docs).neardup_calibration().collect()
    )
    want = sorted(
        tuple(r)
        for r in QUERIES["q220_minhash_calibration"].spark_fn(
            spark, "/root/testdata/sf0.01"
        ).collect()
    )
    assert got == want


def test_neardup_calibration_estimator_unbiased_enough(spark, docs):
    # sanity on the readout itself: the 16-perm estimator's mean abs
    # error over candidates stays under 2 sigma of a mid-range J
    rows = TextCorpus(docs).neardup_calibration().collect()
    assert rows
    mean_err = sum(r.abs_err_micros for r in rows) / len(rows)
    assert mean_err < 250_000  # 2 * sqrt(0.25/16) = 0.25


def test_classifier_filter_agrees_with_q224_accept_counts(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    surv = (
        TextCorpus(docs)
        .classifier_filter(threshold=0)
        .df.groupBy("source")
        .count()
        .collect()
    )
    got = {r.source: r["count"] for r in surv}
    want = {
        r.source: r.n_accepted
        for r in QUERIES["q224_quality_classifier"]
        .spark_fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert got == {k: v for k, v in want.items() if v > 0}


def test_classifier_filter_is_map_side(spark, docs):
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(TextCorpus(docs).classifier_filter().df)
    assert "Exchange" not in plan  # pure map-side filter stage


def test_novelty_matches_q228_rollup(spark, docs):
    """TextCorpus.novelty over the q228 hash split must reproduce
    q228's per-source rollup exactly."""
    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    h = F.expr(
        "CAST(conv(substr(md5('nv-' || CAST(doc_id AS STRING)),1,8),16,10) "
        "AS BIGINT) % 2147483647"
    )
    eval_df = docs.filter(h % 10 == 7)
    train = docs.filter(h % 10 != 7)
    per_doc = TextCorpus(train).novelty(eval_df)
    got = {
        r.source: (r.n, r.s)
        for r in per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("novelty_micros").alias("s"))
        .collect()
    }
    want = {
        r.source: (r.n_eval_docs, r.avg_novelty_micros)
        for r in QUERIES["q228_ngram_novelty"]
        .spark_fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert set(got) == set(want)
    for src, (n, s) in got.items():
        assert n == want[src][0]
        assert s // n == want[src][1]  # q228 reports the floored mean


def test_diversity_sample_between_dedup_and_identity(spark, docs):
    """diversity_sample keeps ceil(sqrt(cluster_size)) docs per raw-LSH
    cluster: at least as many as dedup-to-canonical (1 per cluster),
    never more than the corpus; idempotent-ish (a second pass keeps at
    least the per-cluster minimum); star and pairs candidate modes both
    produce valid selections with star >= pairs survivors."""
    from dicom_metadata_extractor_serverless_datalake_spark.pipeline import TextCorpus

    c = TextCorpus(docs)
    n_all = c.df.count()
    dedup = c.dedup_near(threshold=0.0, verify="estimate").df.count()
    div = c.diversity_sample().df.count()
    assert dedup <= div <= n_all
    div_star = c.diversity_sample(candidates="star").df.count()
    assert div <= div_star <= n_all


def test_facade_cache_lifecycle(spark, docs):
    """VERDICT r09 #2: a full dedup chain + materialization leaves the
    session cache empty via the facade's OWN lifecycle — no manual
    spark.catalog.clearCache(). Operators register their persisted
    intermediates (jaccard_verify's shingle sets, the estimate path's
    signature frame, containment's distinct shingles) on the corpus's
    shared CacheScope; materialize() pins the result then frees them."""
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache_mgr.isEmpty()

    # exact-verify near-dedup persists the candidate shingle-set frame
    c = TextCorpus(docs).dedup_near(threshold=0.8, verify="exact")
    assert len(c._caches) >= 1  # the leak this test guards against is real
    n = c.df.count()
    assert not cache_mgr.isEmpty()
    pinned = c.materialize()
    assert cache_mgr.isEmpty()  # freed by the facade, not clearCache
    assert pinned.df.count() == n  # result survives the cache drop

    # a CHAIN shares one scope: stage-2 caches free from the last corpus
    c2 = (
        TextCorpus(docs)
        .dedup_near(threshold=0.8, verify="estimate", candidates="star")
        .dedup_contained(threshold=0.9)
    )
    assert len(c2._caches) >= 2  # signature frame + containment shingles
    c2.df.count()
    c2.free_intermediates()
    assert cache_mgr.isEmpty()

    # standalone operator calls (no facade scope) behave exactly as
    # before: persist happens, nothing breaks, caller cleans up
    from dicom_metadata_extractor_serverless_datalake_spark.operators.dedup import neardup_pairs

    neardup_pairs(docs, threshold=0.8).count()
    assert not cache_mgr.isEmpty()
    spark.catalog.clearCache()


def test_kmeans_and_bpe_free_their_caches(spark):
    """kmeans_lloyd and bpe_merges fully materialize their persisted
    state inside their own loops, so they unpersist before returning
    (VERDICT r09 #2: no orphaned intermediates for library users)."""
    from dicom_metadata_extractor_serverless_datalake_spark.operators.bpe import bpe_merges
    from dicom_metadata_extractor_serverless_datalake_spark.operators.kmeans import kmeans_lloyd

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()

    pts = spark.createDataFrame(
        [(i % 7, (i * 3) % 11) for i in range(200)], "x long, y long"
    )
    km = kmeans_lloyd(pts, ["x", "y"], k=3, max_rounds=20)
    assert km["converged"]
    assert cache_mgr.isEmpty()

    vocab = spark.createDataFrame(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)], "w0 string, f long"
    )
    out = bpe_merges(vocab, rounds=4)
    assert out.count() == 4
    assert cache_mgr.isEmpty()


def test_bootstrap_ci_facade_matches_q281(spark, docs):
    """TextCorpus.bootstrap_ci on the portable hash == q281 verbatim;
    the fast production hash returns sane CIs (lo <= point <= hi) and
    the by=None corpus-wide mode yields one row."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    c = TextCorpus(docs)
    facade = {
        r["source"]: r
        for r in c.bootstrap_ci(
            value_expr="n_chars", by="source", hash_fn="portable"
        ).collect()
    }
    q = {
        r["source"]: r
        for r in QUERIES["q281_bootstrap_ci"]
        .spark_fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert facade == q

    fast = c.bootstrap_ci(value_expr="n_chars", by="source").collect()
    assert len(fast) == len(q)
    for r in fast:
        assert r["ci_lo_micros"] <= r["point_micros"] <= r["ci_hi_micros"]

    whole = c.bootstrap_ci(value_expr="n_chars").collect()
    assert len(whole) == 1 and whole[0]["n_docs"] == docs.count()


def test_vocab_richness_facade_matches_q286(spark, docs):
    """TextCorpus.vocab_richness(by='lang') == q286 verbatim (shared
    chao1_frame construction); by=None gives one corpus-wide row whose
    token total is the sum of the per-lang totals."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    c = TextCorpus(docs)
    facade = {r["lang"]: r for r in c.vocab_richness(by="lang").collect()}
    q = {
        r["lang"]: r
        for r in QUERIES["q286_chao1_richness"]
        .spark_fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    assert facade == q

    whole = c.vocab_richness().collect()
    assert len(whole) == 1
    assert whole[0]["n_tokens"] == sum(r["n_tokens"] for r in q.values())


def test_tokenize_facade_matches_q291(spark, docs):
    """TextCorpus.tokenize training 4 merges on its own corpus == q291
    verbatim (same vocab filter, same cascade, same checksum)."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    c = TextCorpus(docs)
    facade = sorted(tuple(r) for r in c.tokenize(rounds=4).collect())
    q = sorted(
        tuple(r)
        for r in QUERIES["q291_bpe_encode"]
        .spark_fn(spark, "/root/testdata/sf0.01")
        .collect()
    )
    assert facade == q


def test_gram_helpers_tolerate_caller_columns_named_w_and_i(spark):
    """ADVICE r11: word_grams / shingle_tokens / _minhash_band_pairs
    bind internal intermediate columns; a caller whose id/text columns
    are literally named ``w`` and ``i`` (both are caller-chosen in the
    public helpers) must not hit an ambiguous-reference error or a
    silent misbinding. The gram multisets must equal the same data
    under unsuspicious column names."""
    from dicom_metadata_extractor_serverless_datalake_spark.operators.dedup import (
        shingle_tokens,
        word_grams,
    )
    from dicom_metadata_extractor_serverless_datalake_spark.pipeline import TextCorpus

    rows = [
        (1, "a b c d e f"),
        (2, "x y z"),
        (3, "a b"),
    ]
    plain = spark.createDataFrame(rows, ["doc_id", "text"])
    hostile = spark.createDataFrame(rows, ["i", "w"])

    want = sorted(
        (r["doc_id"], r["s"]) for r in shingle_tokens(plain).collect()
    )
    got = sorted(
        (r["i"], r["s"])
        for r in shingle_tokens(hostile, id_col="i", text_col="w").collect()
    )
    assert got == want

    want_g = sorted(
        (r["doc_id"], r["gram"]) for r in word_grams(plain, "doc_id", "text", 2).collect()
    )
    got_g = sorted(
        (r["i"], r["gram"]) for r in word_grams(hostile, "i", "w", 2).collect()
    )
    assert got_g == want_g

    # facade path over the hostile names: novelty drives word_grams on
    # both sides with caller-chosen columns
    nov = TextCorpus(hostile, id_col="i", text_col="w").novelty(
        hostile, n=2, eval_id_col="i", eval_text_col="w"
    )
    out = {r["i"]: r["novelty_micros"] for r in nov.collect()}
    assert out == {1: 0, 2: 0, 3: 0}  # corpus vs itself: nothing novel
