"""Catalog DDL / MSCK / schema evolution (SURVEY §2.A rows 22-24) and
JSON/CSV query sources (§2.B scans row — the reference ignores these on
ingest but they remain valid query inputs)."""

import datetime

import pytest
from pyspark.sql import functions as F

from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan
from dicom_metadata_extractor_serverless_datalake_spark.sources.catalog import (
    merged_schema_read,
    register_external_table,
    repair_table,
)
from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table


def test_external_table_msck_and_pruning(spark, tmp_path_factory):
    lake = str(tmp_path_factory.mktemp("lake"))
    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "2021-01-01").otherwise("2021-01-02").alias("study_date"),
    )
    df.write.partitionBy("study_date").parquet(lake, mode="overwrite")

    fq = register_external_table(
        spark, "t_lake", lake, df.schema, "study_date", database="dicom_db"
    )
    got = spark.sql(f"SELECT count(*) c FROM {fq} WHERE study_date = '2021-01-01'").collect()
    assert got[0]["c"] == 50

    # partition pruning: the scan must carry a partition filter
    plan = physical_plan(spark.sql(f"SELECT id FROM {fq} WHERE study_date = '2021-01-01'"))
    assert "PartitionFilters" in plan and "study_date" in plan

    # late-arriving partition: new directory invisible until MSCK re-run
    extra = df.filter(F.col("id") < 5).withColumn("study_date", F.lit("2021-02-01"))
    extra.write.partitionBy("study_date").parquet(lake, mode="append")
    repair_table(spark, fq)
    assert spark.sql(f"SELECT count(*) c FROM {fq}").collect()[0]["c"] == 105
    spark.sql(f"DROP TABLE {fq}")


def test_merge_schema_evolution(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("evolve"))
    spark.range(10).select("id").write.parquet(path + "/batch=1")
    spark.range(10).select("id", (F.col("id") * 2).alias("extra")).write.parquet(
        path + "/batch=2"
    )
    df = merged_schema_read(spark, path)
    assert set(df.columns) >= {"id", "extra"}
    # rows from the old files surface null for the new column
    assert df.filter(F.col("extra").isNull()).count() == 10


def test_json_csv_roundtrip_sources(spark, sf_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("fmt")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    nation.write.json(str(out / "nation_json"))
    nation.write.option("header", "true").csv(str(out / "nation_csv"))

    via_json = spark.read.json(str(out / "nation_json"))
    via_csv = spark.read.option("header", "true").option("inferSchema", "true").csv(
        str(out / "nation_csv")
    )
    want = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in nation.collect()}
    assert {(r.n_nationkey, r.n_name, r.n_regionkey) for r in via_json.collect()} == want
    assert {(r.n_nationkey, r.n_name, r.n_regionkey) for r in via_csv.collect()} == want


def test_orc_roundtrip_source(spark, sf_dir, tmp_path_factory):
    """ORC read/write (built into Spark): schema and rows survive a
    round-trip, including nested complex types."""
    from pyspark.sql import functions as F

    out = tmp_path_factory.mktemp("orc")
    src = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.struct("n_regionkey", F.length("n_name").alias("name_len")).alias("meta"),
        F.array("n_nationkey", "n_regionkey").alias("keys"),
    )
    src.write.orc(str(out / "nation_orc"))
    back = spark.read.orc(str(out / "nation_orc"))
    assert [(f.name, f.dataType.simpleString()) for f in back.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in src.schema.fields
    ]
    key = lambda r: (r.n_nationkey, r.n_name, r.meta.n_regionkey, tuple(r.keys))  # noqa: E731
    assert sorted(map(key, back.collect())) == sorted(map(key, src.collect()))


def test_ingest_with_external_catalog_table(spark, tmp_path_factory):
    """Full reference lifecycle with a persistent catalog table: ingest
    fixtures -> external partitioned table -> MSCK -> pruned SQL."""
    from dicom_metadata_extractor_serverless_datalake_spark.ingest import run_ingest

    from fixtures import write_fixture_tree

    root = tmp_path_factory.mktemp("cat_in")
    write_fixture_tree(root)
    out = tmp_path_factory.mktemp("cat_out")
    df = run_ingest(
        spark, str(root), str(out / "lake"), str(out / "quar"),
        table="dicom_external", external=True,
    )
    assert df.count() > 0
    n = spark.sql(
        "SELECT count(*) c FROM dicom_external WHERE study_date >= DATE'1990-01-01'"
    ).collect()[0]["c"]
    assert 0 < n <= df.count()
    # CBO statistics on the registered lake table
    from dicom_metadata_extractor_serverless_datalake_spark.sources.catalog import analyze_table

    stats = analyze_table(spark, "dicom_external", columns=["modality"])
    assert "rows" in stats.get("Statistics", "")
    spark.sql("DROP TABLE dicom_external")


def _drops(root):
    """Two drops of bare .dcm objects with disjoint study dates: drop 1
    only 1979-01-01 (no StudyDate), drop 2 only dates from the fixture
    date list."""
    from fixtures import make_dcm

    d1, d2 = root / "drop1", root / "drop2"
    d1.mkdir(parents=True)
    d2.mkdir()
    for i in range(2):
        (d1 / f"nodate-{i}.dcm").write_bytes(make_dcm(100 + i, omit_study_date=True))
    for i in range(3):
        (d2 / f"dated-{i}.dcm").write_bytes(make_dcm(i))
    return str(d1), str(d2)


def test_external_ingest_adds_only_written_partitions(spark, tmp_path, count_jobs):
    """A second external ingest adds the dates it wrote to the table
    (queryable without refresh()) and runs no catalog job: the same job
    count as the bare ingest, no schema inference and no MSCK. A
    partition written by another writer stays invisible until refresh()."""
    from dicom_metadata_extractor_serverless_datalake_spark import DicomLake
    from dicom_metadata_extractor_serverless_datalake_spark.ingest.pipeline import ingest_batch
    from dicom_metadata_extractor_serverless_datalake_spark.schema import DICOM_METADATA_SCHEMA

    drop1, drop2 = _drops(tmp_path / "in")
    lake = DicomLake(spark, str(tmp_path / "lake"), str(tmp_path / "quar"),
                     table="two_drops", external=True)
    try:
        lake.ingest(drop1)
        # another writer's partition, not registered by anyone
        lake.df().limit(1).withColumn("study_date", F.lit("2099-01-01").cast("date")).write.mode(
            "append"
        ).partitionBy("study_date").parquet(lake.lake_path)

        _, bare_jobs = count_jobs(lambda: ingest_batch(
            spark, drop2, str(tmp_path / "bare"), str(tmp_path / "bare_q")))
        _, jobs = count_jobs(lambda: lake.ingest(drop2))
        assert jobs == bare_jobs

        by_date = dict(
            spark.sql("SELECT study_date, count(*) FROM two_drops GROUP BY 1").collect()
        )
        written = spark.read.schema(DICOM_METADATA_SCHEMA).parquet(str(tmp_path / "bare"))
        want = dict(written.groupBy("study_date").count().collect())
        assert by_date == {datetime.date(1979, 1, 1): 2, **want}

        lake.refresh()
        assert spark.table("two_drops").count() == 6
    finally:
        spark.sql("DROP TABLE IF EXISTS two_drops")


def test_external_ingest_repoints_table(spark, tmp_path):
    """A second lake registered under the same table name at another
    location re-points the table to that lake only."""
    from dicom_metadata_extractor_serverless_datalake_spark import DicomLake

    drop1, drop2 = _drops(tmp_path / "in")
    a = DicomLake(spark, str(tmp_path / "a"), str(tmp_path / "qa"),
                  table="repointed", external=True)
    b = DicomLake(spark, str(tmp_path / "b"), str(tmp_path / "qb"),
                  table="repointed", external=True)
    try:
        a.ingest(drop1)
        assert spark.table("repointed").count() == 2
        b.ingest(drop2)
        rows = spark.table("repointed").select("source_s3_key").collect()
        assert sorted(r[0].rsplit("/", 1)[-1] for r in rows) == [
            f"dated-{i}.dcm" for i in range(3)
        ]
        loc = {r.col_name: r.data_type for r in spark.sql(
            "DESCRIBE TABLE EXTENDED repointed").collect()}["Location"]
        assert loc.rstrip("/").endswith(str(tmp_path / "b"))
    finally:
        spark.sql("DROP TABLE IF EXISTS repointed")


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """Co-bucketed fact tables join without a shuffle: the scan feeds the
    join directly (the write amortized the exchange)."""
    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.plans import exchange_count
    from dicom_metadata_extractor_serverless_datalake_spark.sources.bucketing import write_bucketed_layout

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_bucketed_layout(li, str(tmp_path), "lineitem", "l_orderkey", n_buckets=4)
    write_bucketed_layout(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        str(tmp_path), "orders", "l_orderkey", n_buckets=4,
    )
    joined = load_table(spark, str(tmp_path), "lineitem").join(
        load_table(spark, str(tmp_path), "orders"), "l_orderkey"
    )
    agg = joined.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    # no shuffle for the join AND none for the groupBy (same key)
    assert exchange_count(agg) == 0
    # results equal the plain-join formulation
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, plain.collect()))


def test_range_sorted_write_clusters_keys(spark, sf_dir, tmp_path_factory):
    """Range-sorted lake: files own disjoint sorted key ranges, so range
    predicates skip whole files via row-group stats."""
    import glob

    import pyarrow.parquet as pq

    from dicom_metadata_extractor_serverless_datalake_spark.sources.bucketing import write_range_sorted

    out = str(tmp_path_factory.mktemp("sorted") / "orders")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    write_range_sorted(orders, out, "o_totalprice", n_partitions=4)

    ranges = []
    for f in glob.glob(out + "/part-*.parquet"):
        t = pq.read_table(f, columns=["o_totalprice"])
        vals = t["o_totalprice"].to_pylist()
        if vals:
            assert vals == sorted(vals)  # sorted within file
            ranges.append((min(vals), max(vals)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint ranges across files
    assert spark.read.parquet(out).count() == orders.count()


def test_corrupt_lake_file_handling(spark, sf_dir, tmp_path_factory):
    """Ops contract for a damaged lake object: the default read fails
    loudly; spark.sql.files.ignoreCorruptFiles=true reads through,
    losing only the damaged file's rows."""
    import pytest as _pytest

    out = tmp_path_factory.mktemp("corrupt")
    nation = load_table(spark, sf_dir, "nation")
    nation.coalesce(1).write.parquet(str(out / "lake"))
    (out / "lake" / "zzz-corrupt.parquet").write_bytes(b"PAR1 this is not parquet")

    with _pytest.raises(Exception):
        spark.read.parquet(str(out / "lake")).count()

    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        n = spark.read.parquet(str(out / "lake")).count()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
    assert n == nation.count()


def test_analyze_table_records_stats(spark, tmp_path):
    """ANALYZE TABLE must land row-count/size statistics in the catalog
    (the CBO's input) and column-level ndv/min/max when asked."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.catalog import analyze_table

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    df.write.mode("overwrite").saveAsTable("stats_probe")
    try:
        stats = analyze_table(spark, "stats_probe", columns=["o_custkey", "o_totalprice"])
        assert "Statistics" in stats
        assert "rows" in stats["Statistics"]
        desc = spark.sql(
            "DESCRIBE EXTENDED stats_probe o_custkey"
        ).collect()
        info = {r.info_name: r.info_value for r in desc}
        assert info.get("distinct_count") not in (None, "NULL")
    finally:
        spark.sql("DROP TABLE IF EXISTS stats_probe")


def _hand_written_marker(spark, src, data_dir):
    """The on-disk format pinned by hand: bucket files written through a
    catalog table at ``{name}.bucketed``, then the JSON marker."""
    import json

    loc = str(data_dir / "lineitem.bucketed")
    spark.sql("DROP TABLE IF EXISTS bucketed_probe")
    try:
        (
            src.write.bucketBy(4, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", loc)
            .format("parquet")
            .saveAsTable("bucketed_probe")
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_probe")
    (data_dir / "lineitem.bucketed.json").write_text(
        json.dumps(
            {
                "location": loc,
                "bucket_col": "l_orderkey",
                "sort_col": "l_orderkey",
                "num_buckets": 4,
                "schema_ddl": src.schema.toDDL(),
            }
        )
    )


def _layout_writer(spark, src, data_dir):
    from dicom_metadata_extractor_serverless_datalake_spark.sources.bucketing import write_bucketed_layout

    write_bucketed_layout(src, str(data_dir), "lineitem", "l_orderkey", n_buckets=4)


@pytest.mark.parametrize("write", [_hand_written_marker, _layout_writer], ids=["hand_written", "writer"])
def test_bucketed_marker_layout_roundtrip(spark, tmp_path, write):
    """A dataset dir shipping a {name}.bucketed.json marker makes
    load_table register an external bucketed table over the SAME
    parquet files: rows identical to a plain read, and groupBy on the
    bucket column plans with NO exchange (the point of the layout)."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table

    src = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write(spark, src, tmp_path)
    df = load_table(spark, str(tmp_path), "lineitem")
    assert df.count() == src.count()
    agg = df.groupBy("l_orderkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # plain-read parity on an aggregate
    a = sorted(map(tuple, agg.collect()))
    b = sorted(map(tuple, src.groupBy("l_orderkey").count().collect()))
    assert a == b


def test_star_schema_memo_is_per_session(spark, sf_dir):
    """The table loader's memo belongs to one session: a sibling
    session gets its own temp views (the views of the first session do
    not exist there), repeat loads in one session are cache hits, and
    a session that loaded a table is collectable once dropped."""
    import gc
    import weakref

    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import (
        register_star_schema,
    )

    other = spark.newSession()
    load_table(other, sf_dir, "region")
    dropped = weakref.ref(other)
    del other

    register_star_schema(spark, sf_dir)
    # creating sib also moves pyspark's own RDD.toDF closure, which
    # holds the most recently created session, off `other`
    sib = spark.newSession()
    register_star_schema(sib, sf_dir)
    want = spark.sql("SELECT count(*) FROM lineitem").collect()[0][0]
    assert sib.sql("SELECT count(*) FROM lineitem").collect()[0][0] == want

    assert load_table(spark, sf_dir, "nation") is load_table(spark, sf_dir, "nation")

    gc.collect()
    assert dropped() is None


def test_table_loaders_leave_session_conf_alone(spark, sf_dir, tmp_path):
    """Loading every star table and a stream over the events file on a
    fresh sibling session changes none of that session's conf: the
    loaders set no read flag on the caller's behalf."""
    import shutil

    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import (
        STAR_TABLES,
        load_stream,
    )

    fresh = spark.newSession()
    before = fresh.conf.getAll
    for name in STAR_TABLES:
        load_table(fresh, sf_dir, name)
    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    assert load_stream(fresh, str(tmp_path), "events").isStreaming
    assert fresh.conf.getAll == before


def test_star_schema_views_follow_the_tables_present(spark, sf_dir, tmp_path):
    """Re-registering on a dir that holds only ``events.parquet`` points
    the ``events`` view at the new file and drops every other star view
    an earlier dir registered: a query over the partial dir must not
    read a table of the earlier one, nor fail on a missing file."""
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import (
        register_star_schema,
    )

    sib = spark.newSession()
    register_star_schema(sib, sf_dir)
    assert sib.table("orders").count() > 0
    pq.write_table(pq.read_table(f"{sf_dir}/events.parquet").slice(0, 7), tmp_path / "events.parquet")

    frames = register_star_schema(sib, str(tmp_path))
    assert set(frames) == {"events"}
    assert sib.table("events").count() == 7
    with pytest.raises(AnalysisException):
        sib.table("orders")
