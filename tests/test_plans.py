"""Physical-plan contracts for scale-critical corpus queries: predicate
pushdown, column pruning, broadcast dimension joins, no cartesians.
These are the properties that decide 100 TB viability; a regression here
is a performance bug even while results stay correct."""

from dicom_metadata_extractor_serverless_datalake_spark.plans import (
    broadcast_join_count,
    has_cartesian,
    pushed_filters,
    read_schema_columns,
)
from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES


def _q(name, spark, sf_dir):
    return QUERIES[name].spark_fn(spark, sf_dir)


def test_q01_pushdown_and_pruning(spark, sf_dir):
    df = _q("q01_pricing_summary", spark, sf_dir)
    assert any("l_shipdate" in f for f in pushed_filters(df))
    (cols,) = read_schema_columns(df)
    # 16-column lineitem: the scan must read only what q01 touches
    assert len(cols) <= 7 and "l_comment" not in cols


def test_q04_star_join_broadcasts_all_dims(spark, sf_dir):
    df = _q("q04_star_join", spark, sf_dir)
    # customer/nation/region/orders all broadcast against the fact scan
    assert broadcast_join_count(df) == 4
    assert not has_cartesian(df)
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_q02_filter_reaches_scan(spark, sf_dir):
    df = _q("q02_filter_project", spark, sf_dir)
    joined = " ".join(pushed_filters(df))
    assert "l_shipdate" in joined and "l_quantity" in joined


def test_q22_topk_no_global_sort(spark, sf_dir):
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q22_top_k", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q50_dedup_single_shuffle(spark, sf_dir):
    from dicom_metadata_extractor_serverless_datalake_spark.plans import exchange_count

    df = _q("q50_dedup_exact", spark, sf_dir)
    # one shuffle for the digest groupBy + one for the final orderBy
    assert exchange_count(df) <= 2


def test_q54_query_side_broadcasts(spark, sf_dir):
    df = _q("q54_cosine_topk", spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert not has_cartesian(df)


def test_q72_sample_filter_is_map_side(spark, sf_dir):
    """The stratified-sample hash filter must run before the one agg
    shuffle — sampling 100 TB cannot itself cost a shuffle."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import exchange_count

    df = _q("q72_stratified_sample", spark, sf_dir)
    # one shuffle for the groupBy, one for the final orderBy — the
    # hash-filter itself adds none
    assert exchange_count(df) <= 2


def test_q73_chunking_no_shuffle(spark, sf_dir):
    """Chunking is embarrassingly parallel: generate+posexplode+substring
    must not exchange (the final orderBy is presentation-only)."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import exchange_count

    df = _q("q73_doc_chunking", spark, sf_dir)
    assert exchange_count(df) <= 1  # only the output sort


def test_q75_vocab_partial_agg_and_topk(spark, sf_dir):
    """Word-count must partial-aggregate map-side (explode multiplies rows
    ~100x; the exchange must carry combined counts, not raw tokens) and
    take top-k without a global sort."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q75_vocab_topk", spark, sf_dir))
    assert "partial_count" in plan  # map-side combine before the exchange
    assert "TakeOrderedAndProject" in plan


def test_q76_no_single_partition_exchange(spark, sf_dir):
    """Global positions must come from the parallel two-phase numbering,
    never a row_number over an un-partitioned window (which funnels
    every row through one task)."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    df = _q("q76_epoch_shuffle", spark, sf_dir)
    plan = physical_plan(df)
    # the final presentation orderBy is a range exchange; the numbering
    # itself must not collapse to a single partition
    assert "Exchange SinglePartition" not in plan


def test_dedup_family_banded_no_nested_loop(spark, sf_dir):
    """Every near-dup pair generator must be blocking-first: candidates
    from a hash equi-join (SimHash 4x8-bit bands / MinHash LSH bands /
    hyperplane LSH buckets / token+length bands), never an all-pairs
    nested-loop scan. q53's pigeonhole: Hamming <= 3 over 4 bands
    forces >= 1 exact band match."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    for name in (
        "q53_simhash",
        "q51_jaccard_pairs",
        "q60_embedding_neardup",
        "q70_levenshtein_pairs",
    ):
        plan = physical_plan(_q(name, spark, sf_dir))
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert (
            "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan
        ), name


def test_no_exchange_carries_heavy_payload_columns(spark, sf_dir):
    """Corpus-wide contract: no shuffle anywhere moves raw document
    text, binary payloads, or embedding vectors — scoring/digesting
    happens before the exchange, so shuffle volume is keyed rows, not
    corpus bytes. (At 100 TB, an exchange carrying `text` IS the
    outage.)"""
    import re
    from concurrent.futures import ThreadPoolExecutor

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import register_star_schema

    heavy = ("embedding#", "text#", "content#", " qe#", "centroid#")
    # register views once up-front so threaded construction never races
    # the temp-view registration; plan construction itself is py4j +
    # driver-side jobs, which release the GIL — 8 threads cut the
    # 242-query sweep ~4x (the slowest constructions are driver-side
    # fits that overlap fine)
    register_star_schema(spark, sf_dir)

    def plan_of(item):
        name, q = item
        return name, physical_plan(q.spark_fn(spark, sf_dir))

    with ThreadPoolExecutor(max_workers=8) as pool:
        plans = list(pool.map(plan_of, sorted(QUERIES.items())))
    offenders = []
    for name, plan in plans:
        for m in re.finditer(r"Exchange (hash|range)partitioning\([^\n]*", plan):
            line = m.group(0)
            if any(c in line for c in heavy):
                offenders.append((name, line[:90]))
    assert offenders == []


def test_q89_calendar_grid_broadcasts(spark, sf_dir):
    """The gap-fill calendar spine (days x types) is broadcast-sized by
    construction; the left join against daily counts must be a
    broadcast join, never a shuffle of the aggregated fact side."""
    df = _q("q89_gapfill_daily", spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert not has_cartesian(df)


def test_q91_weighted_sample_topk_no_global_sort(spark, sf_dir):
    """Deterministic weighted sampling is map-side priority + top-k:
    TakeOrderedAndProject, no full sort exchange of the table."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q91_weighted_sample", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q95_tfidf_window_is_partitioned(spark, sf_dir):
    """TF-IDF's top-3 window must partition by source over the
    aggregated (source, term) frame — no single-partition funnel."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q95_tfidf_topterms", spark, sf_dir))
    assert "Exchange SinglePartition" not in plan


def test_q97_decile_no_single_partition_exchange(spark, sf_dir):
    """ntile(10) over a global order would funnel every row through one
    task; the decile must come from the parallel two-phase numbering
    (same contract as q76/q32)."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q97_decile_stats", spark, sf_dir))
    assert "Exchange SinglePartition" not in plan


def test_q98_skyline_windows_after_groupby(spark, sf_dir):
    """The pareto frontier must shrink to per-size maxima BEFORE its
    running-max window: the window's input is the grouped frame (one
    row per distinct size), so the single-partition window is bounded
    by |domain(p_size)|, not |part|. Contract: a partial aggregate
    appears below the window, and no nested-loop/cartesian join."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q98_pareto_frontier", spark, sf_dir))
    assert "partial_max" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q101_proximity_join_is_equi_join(spark, sf_dir):
    """The 5-minute proximity self-join must execute as a hash equi-join
    on (user, time-band) — never a nested-loop over the inequality."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q101_time_proximity_join", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_q104_prefix_filter_equi_join_only(spark, sf_dir):
    """The prefix-filtered similarity join must stay hash equi-joins on
    tokens — the whole point is that no all-pairs comparison exists.
    The persisted prefix frame keeps the self-join from re-deriving the
    rarity ranking twice: the exchange count must not regress toward
    the unpersisted plan's 47."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import exchange_count, physical_plan

    df = _q("q104_prefix_filter_join", spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert exchange_count(df) <= 25


def test_q112_multimodal_neardup_equi_join_only(spark, sf_dir):
    """Blocking-first applies to binary columns too: the feature-bucket
    candidate join must be a hash equi-join, never all-pairs."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q112_multimodal_neardup", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q115_catalog_stats_flip_join_to_broadcast(spark, sf_dir):
    """CBO statistics must FLIP the join strategy: on a session whose
    broadcast threshold is below the orders file size, the un-analyzed
    catalog table plans as a shuffle join (size estimate = raw bytes,
    filters don't shrink it), and after ANALYZE TABLE ... FOR COLUMNS
    the ~4% o_totalprice selectivity estimate drops the side under the
    threshold and the SAME query plans as a broadcast join — no hint
    anywhere. This is the statistics story a 100 TB lake needs: filtered
    dimensions broadcast because the optimizer can prove they're small."""
    import os

    from dicom_metadata_extractor_serverless_datalake_spark.queries.relational import (
        prepare_stats_table,
        stats_join,
    )
    from dicom_metadata_extractor_serverless_datalake_spark.sources.catalog import analyze_table

    s2 = spark.newSession()  # scoped conf: shared catalog, own SQLConf
    s2.conf.set("spark.sql.cbo.enabled", "true")

    table = prepare_stats_table(s2, sf_dir, analyze=False, table="q115_orders_flip")
    # threshold strictly below the un-analyzed estimate (file size scaled
    # by column pruning, unshrunk by the filter): that side must NOT
    # broadcast, while the post-ANALYZE ~0.2%-selectivity estimate must
    from pyspark.sql import functions as SF

    side = (
        s2.table(table)
        .filter(SF.col("o_totalprice") > 499000.0)
        .select("o_orderkey", "o_orderpriority")
    )
    no_stats_estimate = int(
        side._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", str(no_stats_estimate // 2))
    before = stats_join(s2, sf_dir, table=table)
    assert broadcast_join_count(before) == 0, "without stats the side must shuffle"

    analyze_table(s2, table, ["o_totalprice", "o_orderkey", "o_orderpriority"])
    after = stats_join(s2, sf_dir, table=table)
    assert broadcast_join_count(after) >= 1, "column stats must flip to broadcast"
    assert not has_cartesian(after)


def test_q115_leaves_caller_cbo_setting_alone(spark, sf_dir):
    """q115 plans with CBO on a scoped session: building and collecting
    it must not change the caller's spark.sql.cbo.enabled (no query
    changes session-global state)."""
    key = "spark.sql.cbo.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        _q("q115_stats_broadcast_join", spark, sf_dir).collect()
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, prev)


def test_q115_session_copies_the_callers_runtime_conf(spark, sf_dir):
    """q115's scoped session starts from the caller's runtime conf, with
    only CBO switched on, and follows a later change on the caller."""
    caller = spark.newSession()
    parts = "spark.sql.shuffle.partitions"
    caller.conf.set(parts, "7")
    first = _q("q115_stats_broadcast_join", caller, sf_dir)
    assert first.sparkSession is not caller
    assert first.sparkSession.conf.get(parts) == "7"
    assert first.sparkSession.conf.get("spark.sql.cbo.enabled") == "true"
    rows = first.collect()
    caller.conf.set(parts, "5")
    second = _q("q115_stats_broadcast_join", caller, sf_dir)
    assert second.sparkSession.conf.get(parts) == "5"
    assert second.collect() == rows
    assert caller.conf.get("spark.sql.cbo.enabled") == spark.conf.get("spark.sql.cbo.enabled")


def test_q115_rebuild_keeps_an_earlier_frame_readable(spark, sf_dir):
    """A second q115 build from the same dir reuses the stats table the
    first one wrote, so the frame the first build returned still reads
    its files and gives the same rows."""
    first = _q("q115_stats_broadcast_join", spark, sf_dir)
    second = _q("q115_stats_broadcast_join", spark, sf_dir)
    assert first.collect() == second.collect()


def test_cc_edge_partitioning_reused_across_rounds(spark):
    """connected_components' per-round join must NOT re-shuffle the edge
    set: the persisted repartition('b') edge cache carries its
    outputPartitioning into the join, so the only edge-side operator
    above the in-memory scan is the join itself (a localCheckpoint here
    would forget the partitioning and re-exchange all edges every round
    — the 1.9x regression BASELINE.md measures at 26M edges)."""
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        edges = spark.range(10_000).select(
            (F.col("id") % 500).alias("a"), (F.col("id") % 700).alias("b")
        )
        sym = edges.repartition("b").persist()
        sym.count()
        labels = spark.range(700).select(
            F.col("id").alias("node"), F.col("id").alias("label")
        )
        round1 = (
            sym.join(labels, sym["b"] == labels["node"])
            .select(F.col("a").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("nbr_label"))
        )
        plan = round1._jdf.queryExecution().executedPlan().toString()
        # the InMemoryRelation block echoes its own build plan (which
        # legitimately contains the one-time repartition exchange); the
        # contract is about the RUNTIME plan above the cache scan: one
        # exchange for the (unpartitioned) labels side, one for the
        # groupBy output — and NONE re-shuffling the persisted edges
        runtime = plan.split("InMemoryRelation")[0]
        assert "InMemoryTableScan" in runtime, plan
        assert runtime.count("Exchange hashpartitioning(b#") == 0, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        sym.unpersist()


def test_q128_containment_equi_join_only(spark, sf_dir):
    """Containment join: candidates from the rarest-prefix equi-join,
    intersection verify equi-joined on (doc, token) — never an
    all-pairs scan."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q128_containment_join", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q123_scd2_merge_rebuilds_only_delta_keys(spark, sf_dir):
    """The incremental SCD2 path must pass untouched keys through an
    anti-join, not re-sort the whole dimension; the rebuild side joins
    on the delta key set (semi/anti pair), so the plan carries both."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q123_scd2_merge", spark, sf_dir))
    assert "LeftAnti" in plan
    assert "LeftSemi" in plan


def test_q134_snm_no_single_partition_window(spark, sf_dir):
    """Sorted-neighborhood pairing must come from parallel global
    numbering + an int equi-join, never an unpartitioned lead() window
    (Exchange SinglePartition funnels the whole corpus through one
    task)."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q134_sorted_neighborhood", spark, sf_dir))
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_q133_gram_shuffles_cells_not_vectors(spark, sf_dir):
    """The gram operator accumulates d x d partials map-side
    (mapInPandas); no exchange may carry the embedding column — shuffle
    volume is integer cells, independent of row count."""
    import re

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q133_dimension_colsim", spark, sf_dir))
    for m in re.finditer(r"Exchange (hash|range)partitioning\([^\n]*", plan):
        assert "embedding#" not in m.group(0), m.group(0)


def test_q139_bloom_bitmap_broadcast_no_text_shuffle(spark, sf_dir):
    """Bloom decontamination: the position bitmap joins broadcast; no
    exchange carries raw text (digests only — the q50 convention)."""
    import re

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    df = _q("q139_bloom_decontaminate", spark, sf_dir)
    plan = physical_plan(df)
    assert broadcast_join_count(df) >= 1
    for m in re.finditer(r"Exchange (hash|range)partitioning\([^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)


def test_q132_countmin_probe_broadcasts_sketch(spark, sf_dir):
    """The CM sketch is a fixed depth x width cell table: the probe
    join must broadcast it, never shuffle the probe side against it."""
    df = _q("q132_countmin_freq", spark, sf_dir)
    assert broadcast_join_count(df) >= 1


def test_q04_layout_aware_strategy(spark, sf_dir, tmp_path):
    """q04 picks its fact-fact strategy from the physical layout (the
    CBO-from-physical-properties move): plain parquet -> eager pre-agg
    below the join (1 row/order shuffles); both facts bucketed on the
    orderkey -> join-first with a co-located ShuffledHashJoin (the date
    filter prunes ~70% of lineitem before any aggregation, and no
    per-orderkey hash table is built). Results must be bit-identical
    across layouts (dsum single-level == limbs+merge by associativity)."""
    import json
    import os

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plain_df = _q("q04_star_join", spark, sf_dir)
    plain_plan = physical_plan(plain_df)
    # plain layout: the pre-agg keyed by l_orderkey sits below the join
    assert "l_orderkey" in plain_plan and "HashAggregate" in plain_plan

    bdir = tmp_path / "bucketed_sf"
    bdir.mkdir()
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        loc = str(bdir / f"{name}.bucketed")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        tmp = f"t_q04_layout_{name}"
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        (
            df.repartition(4, key)
            .write.bucketBy(4, key)
            .sortBy(key)
            .option("path", loc)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tmp)
        )
        json.dump(
            {
                "location": loc,
                "bucket_col": key,
                "sort_col": key,
                "num_buckets": 4,
                "schema_ddl": df.schema.toDDL(),
            },
            open(bdir / f"{name}.bucketed.json", "w"),
        )
    for t in ("region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"):
        os.symlink(f"{sf_dir}/{t}.parquet", bdir / f"{t}.parquet")

    bdf = _q("q04_star_join", spark, str(bdir))
    bplan = physical_plan(bdf)
    assert "ShuffledHashJoin" in bplan
    # co-located: no hash exchange anywhere on the join-first fact path
    assert "Exchange hashpartitioning(l_orderkey" not in bplan
    assert "Exchange hashpartitioning(o_orderkey" not in bplan
    assert [tuple(r) for r in plain_df.collect()] == [
        tuple(r) for r in bdf.collect()
    ]


def test_q31_layout_aware_sort_free(spark, sf_dir, tmp_path):
    """q31 over the orders_by_custkey clustered copy (bucketed on
    o_custkey, one file per bucket, bucket-sorted with the materialized
    o_totalprice_neg helper) must plan sort-free and exchange-free up
    to the window: scan -> WindowGroupLimit -> Window. The only Sort /
    Exchange allowed is the final tiny ORDER BY of the <=3-per-group
    result. Results bit-identical to the plain-layout window plan."""
    import json
    import os

    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plain_df = _q("q31_top_n_per_group", spark, sf_dir)

    bdir = tmp_path / "custkey_sf"
    bdir.mkdir()
    loc = str(bdir / "orders_by_custkey.bucketed")
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("o_totalprice_neg", -F.col("o_totalprice"))
    )
    spark.sql("DROP TABLE IF EXISTS t_q31_layout")
    (
        df.repartition(4, "o_custkey")
        .write.bucketBy(4, "o_custkey")
        .sortBy("o_custkey", "o_totalprice_neg", "o_orderkey")
        .option("path", loc)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable("t_q31_layout")
    )
    json.dump(
        {
            "location": loc,
            "bucket_col": "o_custkey",
            "sort_col": "o_custkey, o_totalprice_neg, o_orderkey",
            "num_buckets": 4,
            "schema_ddl": df.schema.toDDL(),
        },
        open(bdir / "orders_by_custkey.bucketed.json", "w"),
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        os.symlink(f"{sf_dir}/{t}.parquet", bdir / f"{t}.parquet")

    bdf = _q("q31_top_n_per_group", spark, str(bdir))
    bplan = physical_plan(bdf)
    assert "WindowGroupLimit" in bplan
    # the window reads the clustered layout directly: no exchange on
    # o_custkey and no sort below the group limit (the plan's only sort
    # is the final ORDER BY above the filter)
    assert "Exchange hashpartitioning(o_custkey" not in bplan
    window_part = bplan[bplan.index("WindowGroupLimit"):]
    assert "Sort" not in window_part.split("Scan parquet")[0]
    assert [tuple(r) for r in plain_df.collect()] == [
        tuple(r) for r in bdf.collect()
    ]


def test_q152_interval_join_is_equi_join(spark, sf_dir):
    """The banded interval-overlap join must plan as a hash equi-join
    on (day, band) — never a BroadcastNestedLoopJoin/CartesianProduct
    (what a naive inequality overlap predicate would produce)."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q152_interval_overlap", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )


def test_q153_window_partitioning_reused_by_agg(spark, sf_dir):
    """q153's groupBy keys equal its window partition keys, so the
    aggregate must reuse the window's hash partitioning: no Exchange
    between the Window operator and the final HashAggregate (the only
    exchanges are the window's own hash partitioning and the output
    orderBy's range partitioning)."""
    import re

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q153_twap", spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert len(re.findall(r"Arguments: hashpartitioning", plan)) == 1
    assert len(re.findall(r"Arguments: rangepartitioning", plan)) == 1


def test_q159_pit_join_has_no_range_join_scan(spark, sf_dir):
    """q159's point-in-time enrichment must run as the as-of union
    trick — a window pass after ONE hash shuffle on the key — never as
    a nested-loop range join on the BETWEEN predicate (Presto/Athena's
    plan for it)."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q159_pit_join", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "Window" in plan


def test_q161_dpp_subquery_in_fact_scan(spark, sf_dir):
    """The quarter filter lives only in the dim file, so the fact scan
    can prune its month partitions ONLY via dynamic partition pruning —
    the executed plan must carry the dynamicpruning subquery, and the
    query's own dpp_ok column (derived from the same plan) must agree."""
    df = _q("q161_dynamic_partition_pruning", spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert all(r.dpp_ok for r in df.collect())


def test_q166_audit_topk_partial_limit(spark, sf_dir):
    """q166's per-anchor exact top-k must cap map-side via the partial
    WindowGroupLimit (the q31 shape) so the rank exchange carries
    O(k x partitions) rows per anchor, never |anchors| x |corpus|; the
    anchor side must broadcast (one streamed corpus pass)."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    df = _q("q166_knn_label_audit", spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("WindowGroupLimit") >= 2  # partial + final for rk
    assert broadcast_join_count(df) >= 1
    assert "CartesianProduct" not in plan


def test_q169_reservoir_partial_limit(spark, sf_dir):
    """Exact k-per-group selection must be WindowGroupLimit-capped
    before the exchange — each task forwards at most k rows per group."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q169_group_reservoir", spark, sf_dir))
    assert plan.count("WindowGroupLimit") >= 2


def test_q170_negative_sampling_hash_joins_only(spark, sf_dir):
    """Candidate generation is hash arithmetic: the only nested-loop
    join allowed is the 1-row max_partkey scalar attach; catalog
    validation and the positives anti-join must be hash equi-joins."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    import re

    plan = physical_plan(_q("q170_negative_sampling", spark, sf_dir))
    assert "CartesianProduct" not in plan
    # formatted explain names each node twice (tree + details); count
    # detail headers — exactly the 1-row max_partkey scalar attach
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "Window" not in plan  # no catalog-wide numbering window


def test_q173_outliers_broadcast_centroids_and_partial_limit(spark, sf_dir):
    """q173 scores the corpus against a |labels|-row centroid table:
    the centroid side must broadcast (one streamed corpus pass) and the
    per-label bottom-k must be WindowGroupLimit-capped map-side."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    df = _q("q173_class_outliers", spark, sf_dir)
    plan = physical_plan(df)
    assert broadcast_join_count(df) >= 1
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan


def test_q175_confusion_broadcast_and_partial_limit(spark, sf_dir):
    """q175's per-vector argmax over the |labels|-row centroid table:
    centroids broadcast, rank-1 selection WindowGroupLimit-capped
    map-side, confusion rollup partially aggregated."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    df = _q("q175_centroid_confusion", spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_q03_cost_gated_dictionary(spark, sf_dir):
    """q03 dictionary-encodes its group key only above a fact-size
    threshold (the CBO-from-statistics move). The registered form on
    small testdata must take the plain string-keyed plan (no Window,
    one broadcast join); the dictionary plan must produce bit-identical
    results through its int-keyed aggregate."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan
    from dicom_metadata_extractor_serverless_datalake_spark.queries.relational import (
        _q03_dict,
        _q03_plain,
    )
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table

    registered = _q("q03_join_broadcast_agg", spark, sf_dir)
    plan = physical_plan(registered)
    assert "Window" not in plan, "small fact must take the plain plan"

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    a = _q03_plain(orders, customer).collect()
    b = _q03_dict(orders, customer).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # the dictionary plan's fact-side aggregate keys on the dense int
    dict_plan = physical_plan(_q03_dict(orders, customer))
    assert "seg_id" in dict_plan


def test_q179_source_overlap_digest_only_shuffle(spark, sf_dir):
    """q179's corpus-sized exchanges must carry the 31-bit gram digest,
    never the shingle string itself (the q50 digest-only-shuffle rule):
    hashing happens map-side under the explode, and the intersection is
    a hash equi-join on the digest — no nested-loop/cartesian."""
    import re

    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    plan = physical_plan(_q("q179_source_overlap", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for m in re.finditer(r"Exchange (hash|range)partitioning\([^\n]*", plan):
        assert " s#" not in m.group(0), m.group(0)[:90]


def test_q180_split_leakage_costs_what_q52_costs(spark, sf_dir):
    """The split label is hash arithmetic on the candidate pair's doc
    ids — q180 must add ZERO joins beyond q52's banded equi-join (no
    join against the documents table for the split), and the rollup
    input is the pair set, so no nested-loop/cartesian anywhere."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan

    q52_plan = physical_plan(_q("q52_minhash_lsh", spark, sf_dir))
    plan = physical_plan(_q("q180_split_leakage", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Join") == q52_plan.count("Join")


def test_q52_signs_each_document_once(spark, sf_dir, count_jobs):
    """The band self-join reads ONE (band, sig) exchange on both sides
    (the second is a ReusedExchange), so q52's executed plan computes the
    md5 -> 16-min signature aggregate once. A broadcast band join ran
    that subtree for the build side, for the probe side and again under
    the range bounds sampler; the reuse adds no job. Built through the
    harness wrapper, which drops caches earlier queries left (a cached
    signature frame would otherwise stand in for the subtree)."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import get_queries

    df = get_queries()["q52_minhash_lsh"](spark, sf_dir)
    _, jobs = count_jobs(df.collect)
    adaptive = df._jdf.queryExecution().executedPlan()
    assert adaptive.isFinalPlan()
    plan = adaptive.executedPlan().toString()  # the final tree alone
    assert plan.count("md5(") == 1
    assert plan.count("partial_min(") == 16
    assert "ReusedExchange" in plan and "BroadcastExchange" not in plan
    assert jobs == 5


# ---- _normalize_formatted: canned AQE explain layouts (ADVICE r07) ----
# A Spark-version change in explain() layout must fail loudly here, not
# silently zero PLANS.md rows again (the round-7 truncation bug).

_TRAILING_LAYOUT = """== Physical Plan ==
AdaptiveSparkPlan (3)
+- * HashAggregate (2)
   +- Scan parquet  (1)


(1) Scan parquet
Output [2]: [a#1, b#2]
PushedFilters: [IsNotNull(a)]

(2) HashAggregate [codegen id : 1]
Input [2]: [a#1, b#2]

(3) AdaptiveSparkPlan
Output [1]: [sum#3]

== Initial Plan ==
HashAggregate (5)
+- Exchange (4)

(4) Exchange
Arguments: hashpartitioning(a#1, 32)

(5) HashAggregate
Input [2]: [a#1, b#2]
"""

_EMBEDDED_LAYOUT = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- == Final Plan ==
   * HashAggregate (3)
   +- AQEShuffleRead (2)
      +- ShuffleQueryStage (1), Statistics(sizeInBytes=1.0 B)
+- == Initial Plan ==
   HashAggregate (5)
   +- Exchange (4)


(1) ShuffleQueryStage
Output [2]: [a#1, b#2]

(2) AQEShuffleRead
Input [2]: [a#1, b#2]

(3) HashAggregate [codegen id : 1]
Input [2]: [a#1, b#2]

(4) Exchange
Input [2]: [a#1, b#2]
Arguments: hashpartitioning(a#1, 32)

(5) HashAggregate
Input [2]: [a#1, b#2]

(6) AdaptiveSparkPlan
Output [1]: [sum#3]
"""


def test_normalize_formatted_trailing_section():
    from dicom_metadata_extractor_serverless_datalake_spark.plans.audit import _normalize_formatted

    out = _normalize_formatted(_TRAILING_LAYOUT)
    assert "== Initial Plan ==" not in out
    # final-plan nodes and their detail sections survive
    assert "(1) Scan parquet" in out and "PushedFilters: [IsNotNull(a)]" in out
    assert "(3) AdaptiveSparkPlan" in out
    # initial-plan-only nodes are gone
    assert "(4) Exchange" not in out and "(5) HashAggregate" not in out


def test_normalize_formatted_embedded_subtree():
    from dicom_metadata_extractor_serverless_datalake_spark.plans.audit import _normalize_formatted

    out = _normalize_formatted(_EMBEDDED_LAYOUT)
    assert "== Initial Plan ==" not in out
    # the final subtree's nodes keep their detail sections — the
    # round-7 bug dropped ALL details after the embedded marker
    assert "(2) AQEShuffleRead" in out
    assert "(3) HashAggregate [codegen id : 1]" in out
    assert "(6) AdaptiveSparkPlan" in out
    # nodes exclusive to the initial subtree are dropped, tree and details
    assert "(4) Exchange" not in out
    assert "hashpartitioning" not in out
    assert "(5) HashAggregate" not in out


# ---- cache hygiene across back-to-back queries (VERDICT r08 #1) ----


def test_back_to_back_queries_no_cache_residue_substitution(spark, sf_dir):
    """The r07 bench corruption class: a query that persist()s an
    intermediate it cannot unpersist before the caller's action leaves
    cached partitions in the CacheManager; in a long-lived session the
    residue (a) subsidizes re-timings of the same query and (b) lets
    plan substitution rewrite LATER queries that contain a matching
    subtree. The ``get_queries()`` wrap drops accumulated cache at
    each query's CONSTRUCTION — so back-to-back wrapped queries run
    cache-clean however many persists the previous one leaked."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import get_queries

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    qs = get_queries()

    # q257 persists its bigram-count frame and returns without
    # unpersisting (the collect materializes it) -> residue exists,
    # i.e. the hazard this test guards against is real, not synthetic
    qs["q257_chi2_collocations"](spark, sf_dir).collect()
    assert not cache_mgr.isEmpty()

    # the next wrapped query constructs cache-clean: q258 itself never
    # persists, so ANY InMemoryTableScan in its plan would be residue
    # substitution from q257's leaked cache
    df = qs["q258_mann_whitney"](spark, sf_dir)
    assert cache_mgr.isEmpty()
    assert "InMemoryTableScan" not in physical_plan(df)
    df.collect()
    spark.catalog.clearCache()


# ---- plan_audit allowlist heuristics on canned plans (VERDICT r08 #5) ----

_AUDIT_RICH = """== Physical Plan ==
* HashAggregate (4)
+- Exchange (3)
   +- * HashAggregate (2)
      +- Scan parquet  (1)

(1) Scan parquet
Output [2]: [a#1, b#2]
PushedFilters: [IsNotNull(a)]

(2) HashAggregate [codegen id : 1]
Input [2]: [a#1, b#2]

(3) Exchange
Arguments: hashpartitioning(a#1, 32)

(4) HashAggregate [codegen id : 2]
Input [2]: [a#1, b#2]
"""

_AUDIT_TOPK = """== Physical Plan ==
TakeOrderedAndProject (2)
+- Scan parquet  (1)

(1) Scan parquet
Output [2]: [a#1, b#2]

(2) TakeOrderedAndProject
Arguments: 100, [a#1 ASC NULLS FIRST]
"""

_AUDIT_RDD_ROOT = """== Physical Plan ==
Scan ExistingRDD (1)

(1) Scan ExistingRDD
Arguments: [node#1L, label#2L]
"""

_AUDIT_EMPTY = """== Physical Plan ==
LocalTableScan (1)

(1) LocalTableScan
Arguments: <empty>
"""

_AUDIT_SINGLEPART = """== Physical Plan ==
Sort (3)
+- Exchange (2)
   +- Scan parquet  (1)

(1) Scan parquet
Output [1]: [a#1]

(2) Exchange
Arguments: SinglePartition

(3) Sort
Input [1]: [a#1]
"""


def test_audit_one_counts_canned_plan():
    from scripts.plan_audit import all_zero, audit_one

    m = audit_one(_AUDIT_RICH)
    assert m["exchanges"] == 1 and m["single_part"] == 0
    assert m["codegen"] == 2 and m["pushed"]
    assert not all_zero(m)
    # SinglePartition exchanges count separately from hash exchanges
    ms = audit_one(_AUDIT_SINGLEPART)
    assert ms["exchanges"] == 0 and ms["single_part"] == 1
    assert not all_zero(ms)


def test_degenerate_allowlist_accepts_minimal_legitimate_plans():
    from scripts.plan_audit import all_zero, audit_one, is_degenerate

    # map-side top-k: zero exchanges, zero codegen in this layout — the
    # TakeOrderedAndProject root keeps it off the degenerate flag
    m = audit_one(_AUDIT_TOPK)
    assert all_zero(m) and not is_degenerate(m, _AUDIT_TOPK)
    # iterative query whose visible plan roots on a checkpointed RDD
    m = audit_one(_AUDIT_RDD_ROOT)
    assert all_zero(m) and not is_degenerate(m, _AUDIT_RDD_ROOT)


def test_degenerate_allowlist_flags_unrecognized_plan():
    from scripts.plan_audit import all_zero, audit_one, is_degenerate

    # nothing recognized and no allowlisted root: must flag — this is
    # what a future explain-layout change should trip, loudly
    m = audit_one(_AUDIT_EMPTY)
    assert all_zero(m) and is_degenerate(m, _AUDIT_EMPTY)


def test_streaming_executed_set_is_every_streams_query():
    """PLANS.md marks a query streaming-executed from the registry (its
    function lives in queries/streams.py), so a new streamed query cannot
    be audited by its sink-read plan; the category cannot decide it,
    since queries/windows.py registers batch twins as "streaming"."""
    from scripts.plan_audit import streaming_executed

    assert streaming_executed(QUERIES) == {
        "q83_stream_tumbling", "q84_stream_dedup", "q85_stream_upsert_snapshot",
        "q99_stream_stateful_totals", "q100_stream_session_window",
        "q109_stream_interval_join", "q110_stream_static_enrich",
        "q129_stream_heavy_hitters", "q143_stream_tv_drift", "q163_stream_ewma",
        "q164_stream_late_drop", "q171_stream_sequences", "q177_stream_funnel",
        "q178_stream_lsh_dedup", "q185_stream_reservoir", "q200_stream_cusum",
        "q211_stream_attribution", "q230_stream_completeness",
        "q231_stream_ab_monitor", "q241_stream_burstiness", "q266_stream_countmin",
        "q280_stream_ams", "q290_stream_bootstrap", "q300_stream_tokenize",
    }
