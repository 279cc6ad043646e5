"""Streaming: file-source ingest with availableNow + windowed aggregates
over a streamed copy of the events table (SURVEY §2.B streaming row)."""

import shutil

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dicom_metadata_extractor_serverless_datalake_spark.streaming import (
    sessionized_counts,
    start_ingest_stream,
    tumbling_counts,
)

from fixtures import write_fixture_tree


def test_streaming_ingest_available_now(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_in")
    write_fixture_tree(root)
    out = tmp_path_factory.mktemp("stream_out")
    q = start_ingest_stream(
        spark,
        str(root),
        str(out / "lake"),
        str(out / "quarantine"),
        checkpoint_path=str(out / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    df = spark.read.parquet(str(out / "lake"))
    assert df.count() == 10
    assert df.filter(F.col("study_date").isNull()).count() == 0
    # the 0-byte DICOMDIR is quarantined, not dropped
    quar = spark.read.parquet(str(out / "quarantine")).collect()
    assert [r["source_s3_key"].rsplit("/", 1)[-1] for r in quar] == ["DICOMDIR"]

    # restart on same checkpoint: no new files -> no duplicate rows
    q2 = start_ingest_stream(
        spark, str(root), str(out / "lake"), str(out / "quarantine"),
        checkpoint_path=str(out / "ckpt"), available_now=True,
    )
    q2.awaitTermination(300)
    assert spark.read.parquet(str(out / "lake")).count() == 10


def test_streaming_ingest_equals_batch(spark, tmp_path):
    """lake.watch and lake.ingest share one read path and one writer:
    on the fixture tree plus a .dcm past the 10 MB ranged-read cap they
    write the same lake and quarantine keys. The 0-byte DICOMDIR lands
    in the quarantine; the oversized .dcm lands in the lake, parsed from
    its first 10 MB (metadata precedes pixel data)."""
    from dicom_metadata_extractor_serverless_datalake_spark import DicomLake
    from dicom_metadata_extractor_serverless_datalake_spark.dicom.codec import write_dicom
    from dicom_metadata_extractor_serverless_datalake_spark.sources.binary import (
        DCM_RANGED_READ_BYTES,
    )

    root = tmp_path / "in"
    write_fixture_tree(root)
    big = write_dicom(
        {"SOPClassUID": "1.2.840.10008.5.1.4.1.1.7", "Modality": "CT",
         "StudyDate": "20210101"},
        pixel_data=bytes(DCM_RANGED_READ_BYTES + 1_000_000),
    )
    (root / "big.dcm").write_bytes(big)

    def keys(lake):
        rows = lake.df().select(
            "source_s3_key", "source_s3_archive_path", F.lit(None).alias("stage")
        ).unionByName(
            lake.quarantine().select(
                "source_s3_key", "source_s3_archive_path", F.col("error_log.stage").alias("stage")
            )
        )
        return sorted((tuple(r) for r in rows.collect()), key=repr)

    batch = DicomLake(spark, str(tmp_path / "lake_b"), str(tmp_path / "quar_b"), table="eq_b")
    batch.ingest(str(root))
    stream = DicomLake(spark, str(tmp_path / "lake_s"), str(tmp_path / "quar_s"), table="eq_s")
    stream.watch(str(root), str(tmp_path / "ckpt"), available_now=True).awaitTermination(300)

    got = keys(stream)
    assert got == keys(batch)
    assert (str(root / "DICOMDIR"), "DICOMDIR", "dicom_parse") in got
    assert (str(root / "big.dcm"), "big.dcm", None) in got


def test_streaming_windows_match_batch(spark, sf_dir, tmp_path_factory):
    """Streamed tumbling/session aggregations equal their batch twins."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_stream, load_table

    events_batch = load_table(spark, sf_dir, "events")
    # restrict the stream source dir to the events file only
    src = tmp_path_factory.mktemp("events_src")
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    stream = load_stream(spark, str(src), "events")

    out = tmp_path_factory.mktemp("win_out")
    q = (
        tumbling_counts(stream)
        .writeStream.format("memory")
        .queryName("tumbling_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM tumbling_test").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in tumbling_counts(events_batch).collect()
    }
    assert got == want and len(want) > 0

    q2 = (
        sessionized_counts(stream)
        .writeStream.format("memory")
        .queryName("session_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(300)
    n_stream = spark.sql("SELECT count(*) c FROM session_test").collect()[0]["c"]
    n_batch = sessionized_counts(events_batch).count()
    assert n_stream == n_batch > 0


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path_factory):
    """At-least-once redelivery: the same events file delivered twice
    dedups to one copy via dropDuplicatesWithinWatermark on event_id."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_stream, load_table
    from dicom_metadata_extractor_serverless_datalake_spark.streaming import streaming_dedup

    src = tmp_path_factory.mktemp("dedup_src")
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")

    q = (
        streaming_dedup(load_stream(spark, str(src), "events"))
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    n = spark.sql("SELECT count(*) c FROM dedup_test").collect()[0]["c"]
    n_distinct = load_table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert n == n_distinct


def test_stream_static_enrichment(spark, sf_dir, tmp_path_factory):
    """Stream-static broadcast join: streamed events enriched against the
    static customer dim equal the batch join."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_stream, load_table
    from dicom_metadata_extractor_serverless_datalake_spark.streaming import enrich_with_dim

    src = tmp_path_factory.mktemp("enrich_src")
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")
    stream = load_stream(spark, str(src), "events")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )

    q = (
        enrich_with_dim(stream, dim, "user_id", "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        r["c_mktsegment"]: r["n"]
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    events = load_table(spark, sf_dir, "events")
    want = {
        r["c_mktsegment"]: r["n"]
        for r in events.join(dim, events.user_id == dim.c_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 1


def test_stream_stream_interval_join(spark, sf_dir, tmp_path_factory):
    """Watermarked stream-stream interval join (errors to the clicks that
    preceded them within 15 min, same user) equals the batch join."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_stream, load_table
    from dicom_metadata_extractor_serverless_datalake_spark.streaming import interval_join

    src = tmp_path_factory.mktemp("ssj_src")
    shutil.copy(f"{sf_dir}/events.parquet", src / "events.parquet")

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("click_id")
        )
        errors = df.filter(F.col("event_type") == "error").select(
            "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("error_id")
        )
        return clicks, errors

    sc, se = split(load_stream(spark, str(src), "events"))
    q = (
        interval_join(sc, se, "user_id")
        .select("click_id", "error_id")
        .writeStream.format("memory")
        .queryName("ssj_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["click_id"], r["error_id"])
        for r in spark.sql("SELECT * FROM ssj_test").collect()
    }
    bc, be = split(load_table(spark, sf_dir, "events"))
    want = {
        (r["click_id"], r["error_id"])
        for r in bc.join(
            be,
            (bc.user_id == be.user_id)
            & (be.r_ts > bc.l_ts)
            & (be.r_ts <= F.expr("l_ts + INTERVAL 15 MINUTES")),
        )
        .select("click_id", "error_id")
        .collect()
    }
    assert got == want and len(want) > 0


def test_stateful_running_totals(spark, sf_dir, tmp_path_factory):
    """applyInPandasWithState accumulator: state persists across
    micro-batches (two files -> two batches via maxFilesPerTrigger) and
    the final per-user totals equal the batch aggregation."""
    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table
    from dicom_metadata_extractor_serverless_datalake_spark.streaming import running_totals

    events = load_table(spark, sf_dir, "events")
    # split into two files so availableNow produces multiple batches
    src = tmp_path_factory.mktemp("state_src")
    half = events.filter(F.col("event_id") % 2 == 0)
    other = events.subtract(half)
    half.coalesce(1).write.parquet(str(src / "a"))
    other.coalesce(1).write.parquet(str(src / "b"))

    schema = events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = (
        running_totals(stream.select("user_id", "value"))
        .writeStream.format("memory")
        .queryName("state_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # last update per user is the running total after all batches
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.sql(
            "SELECT user_id, n_events, total_value FROM ("
            " SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn"
            " FROM state_test) WHERE rn = 1"
        ).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["t"])
        for r in events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("t"))
        .collect()
    }
    assert set(final) == set(want)
    for uid, (n, tot) in want.items():
        fn_, ft = final[uid]
        assert fn_ == n and abs(ft - tot) < 1e-6


def test_streaming_upsert_latest_per_key(spark, sf_dir, tmp_path_factory):
    """foreachBatch upsert sink: two micro-batches of events merge into a
    one-row-per-user snapshot equal to the batch latest-per-key."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table
    from dicom_metadata_extractor_serverless_datalake_spark.streaming import read_snapshot, start_upsert_sink
    from dicom_metadata_extractor_serverless_datalake_spark.streaming.upsert import latest_per_key

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    src = tmp_path_factory.mktemp("upsert_src")
    early = events.filter(F.col("event_id") % 2 == 0)
    late = events.subtract(early)
    early.coalesce(1).write.parquet(str(src / "a"))
    late.coalesce(1).write.parquet(str(src / "b"))

    out = tmp_path_factory.mktemp("upsert_out")
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = start_upsert_sink(
        stream,
        str(out / "snap"),
        key_cols=["user_id"],
        order_col="ts",
        checkpoint_path=str(out / "ckpt"),
    )
    q.awaitTermination(300)

    snap = read_snapshot(spark, str(out / "snap"))
    got = {(r["user_id"], r["event_id"]) for r in snap.collect()}
    want = {
        (r["user_id"], r["event_id"])
        for r in latest_per_key(events, ["user_id"], "ts").collect()
    }
    assert got == want and len(want) > 0
    # one row per key
    assert snap.groupBy("user_id").count().filter("count > 1").count() == 0


def test_upsert_replay_is_not_applied_twice(spark, tmp_path, monkeypatch, fail_after_sink):
    """The upsert sink commits batch 1, then the query dies before its
    checkpoint does; the restart replays batch 1, finds its token in the
    snapshot's commit log and drops the replay, so the snapshot keeps the
    files batch 1 committed, holding the latest row per key."""
    import glob
    import os

    from pyspark.errors import StreamingQueryException

    from dicom_metadata_extractor_serverless_datalake_spark.sources import commit
    from dicom_metadata_extractor_serverless_datalake_spark.streaming import (
        read_snapshot,
        start_upsert_sink,
    )

    schema = "k int, ord int, payload string"
    src = tmp_path / "src"
    src.mkdir()
    batches = [[(1, 10, "a"), (2, 10, "b")], [(1, 20, "a2"), (3, 5, "c"), (2, 1, "stale")]]
    for n, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp_path / f"b{n}"))
        dst = str(src / f"b{n}.parquet")
        os.rename(glob.glob(str(tmp_path / f"b{n}" / "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000_000 + 60 * n,) * 2)
    snap, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
        start_upsert_sink(stream, snap, ["k"], "ord", ckpt).awaitTermination(300)

    fail_after_sink(1)
    with pytest.raises(StreamingQueryException):
        run()
    monkeypatch.undo()
    committed = os.listdir(os.path.join(snap, "current"))
    run()

    assert os.listdir(os.path.join(snap, "current")) == committed
    assert len(os.listdir(os.path.join(snap, commit.COMMITS))) == 1  # the latest batch
    got = {tuple(r) for r in read_snapshot(spark, snap).collect()}
    assert got == {(1, 20, "a2"), (2, 10, "b"), (3, 5, "c")}


def test_dicom_stream_source_keeps_empty_files(spark, tmp_path_factory):
    """readStream.format('dicom') restores the DLQ contract binaryFile
    loses: the 0-byte DICOMDIR is quarantined, and a second batch of
    late files is picked up incrementally."""
    import time as _time

    from dicom_metadata_extractor_serverless_datalake_spark.sources.dicom_source import register_dicom_source

    from fixtures import make_dcm, write_fixture_tree

    root = tmp_path_factory.mktemp("dsstream_in")
    write_fixture_tree(root)
    register_dicom_source(spark)
    out = tmp_path_factory.mktemp("dsstream_out")

    def run_batch():
        q = (
            spark.readStream.format("dicom")
            .load(str(root))
            .writeStream.format("parquet")
            .option("path", str(out / "lake"))
            .option("checkpointLocation", str(out / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_batch()
    df = spark.read.parquet(str(out / "lake"))
    # 10 good rows + 1 quarantined empty DICOMDIR (binaryFile drops it)
    assert df.filter(F.col("error").isNull()).count() == 10
    assert df.filter(F.col("error").isNotNull()).count() == 1

    # late arrival: a new file lands -> only it is delivered next batch
    _time.sleep(0.05)
    (root / "late.dcm").write_bytes(make_dcm(42))
    run_batch()
    df2 = spark.read.parquet(str(out / "lake"))
    assert df2.count() == 12
    assert df2.filter("source_s3_key LIKE '%late.dcm'").count() == 1


def test_corpus_stream_dedups_across_micro_batches(spark, tmp_path):
    """Continuous corpus ingest: exact duplicates arriving in LATER
    micro-batches are dropped by streaming dedup state (one digest per
    unique doc), the lake holds exactly the unique texts, and the drain
    genuinely spans multiple batches (maxFilesPerTrigger=1)."""
    import os
    import time

    from dicom_metadata_extractor_serverless_datalake_spark.streaming.corpus_stream import (
        start_corpus_stream,
    )

    src = tmp_path / "src"
    lake = tmp_path / "lake"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    base = [(i, f"doc text number {i}") for i in range(20)]
    dupes = [(100 + i, f"doc text number {i}") for i in range(10)]  # same TEXT, new ids
    fresh = [(200 + i, f"late unique {i}") for i in range(5)]
    import glob
    import shutil

    mt = 1_000_000_000
    stage = tmp_path / "stage"
    for k, rows in enumerate((base, dupes, fresh)):
        d = str(stage / f"b{k}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = str(src / f"f{k}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (mt + k * 60, mt + k * 60))
    q = start_corpus_stream(
        spark,
        str(src),
        str(lake),
        str(ckpt),
        max_files_per_trigger=1,
    )
    q.awaitTermination(600)
    n_batches = int(q.lastProgress["batchId"]) + 1
    assert n_batches >= 3, n_batches
    out = spark.read.parquet(str(lake))
    texts = [r.text for r in out.select("text").collect()]
    assert sorted(texts) == sorted({t for _i, t in base + dupes + fresh})
    assert out.count() == 25  # 20 base + 5 late uniques; 10 dupes dropped
    # re-run over the same source is idempotent (checkpoint replay)
    q2 = start_corpus_stream(spark, str(src), str(lake), str(ckpt), max_files_per_trigger=1)
    q2.awaitTermination(600)
    time.sleep(0.2)
    assert spark.read.parquet(str(lake)).count() == 25


def test_neardup_stream_operator_matches_q52_banding(spark):
    """The streaming dedup operator's map-side signature/band builder
    must reproduce q52's banding exactly: candidate pairs derived from
    its (doc_id, band, sig) frame on a BATCH read equal the q52 corpus
    query (which builds signatures via explode+groupBy instead)."""
    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table
    from dicom_metadata_extractor_serverless_datalake_spark.streaming.neardup import (
        minhash_bands_streaming,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    bands = minhash_bands_streaming(docs)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .distinct()
        .orderBy("d1", "d2")
        .collect()
    )
    want = QUERIES["q52_minhash_lsh"].spark_fn(spark, sf).collect()
    assert [tuple(r) for r in pairs] == [tuple(r) for r in want]


def test_lsh_dedup_stream_sharded_matches_per_bucket(spark):
    """The sharded stateful variant (fewer, larger state groups —
    BASELINE round-7 dispatch cost model) must produce the identical
    per-doc verdict set as per-bucket keying across a genuinely
    multi-micro-batch drain."""
    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.queries.streams import (
        _drain,
        _stage,
    )
    from dicom_metadata_extractor_serverless_datalake_spark.streaming.neardup import (
        lsh_dedup_stream,
    )

    sf = "/root/testdata/sf0.001"
    out = {}
    for label, shards in (("bucket", None), ("sharded", 64)):
        # min_batches=3: the drain asserts a >= 3 micro-batch drain
        sink = _drain(
            spark,
            _stage(sf, "documents", "doc_id", 3),
            lambda docs: lsh_dedup_stream(docs, shards=shards),
            "update",
            min_batches=3,
        )
        rows = (
            sink.groupBy("doc_id")
            .agg(F.min("dup_of").alias("dup_of"))
            .orderBy("doc_id")
            .collect()
        )
        out[label] = [tuple(r) for r in rows]
    assert out["bucket"] == out["sharded"]
    assert len(out["bucket"]) > 0


def test_stream_drain_leaves_caller_session_alone(spark, sf_dir, monkeypatch):
    """A corpus drain runs on a scoped session: while q99 drains across
    micro-batches the caller's shuffle partitions keep reading 7, the
    stream's state operators get the source-sized count instead, and
    the caller carries no staging breadcrumb afterwards. The scoped
    session starts from the caller's runtime conf (a conf the caller set
    reaches the stream), and the frame it returns plans with the
    caller's shuffle partitions again."""
    import threading

    import pyarrow.dataset as pads
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    arrow = "spark.sql.execution.arrow.maxRecordsPerBatch"
    caller.conf.set(arrow, "7")
    started, stream_arrow = [], []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        stream_arrow.append(self._spark.conf.get(arrow))
        q = real_start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    seen, done = [], threading.Event()

    def poll():
        while not done.is_set():
            seen.append(caller.conf.get("spark.sql.shuffle.partitions"))
            done.wait(0.005)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        out = QUERIES["q99_stream_stateful_totals"].spark_fn(caller, sf_dir)
        rows = out.collect()
    finally:
        done.set()
        poller.join(10)
    assert not poller.is_alive()
    assert rows
    assert seen and set(seen) == {"7"}

    (q,) = started
    progress = q.recentProgress
    assert len(progress) >= 3
    n_rows = pads.dataset(f"{sf_dir}/events.parquet", format="parquet").count_rows()
    want = min(spark.sparkContext.defaultParallelism, max(4, n_rows // 250_000 + 1))
    assert want != 7
    parts = [op["numShufflePartitions"] for p in progress for op in p["stateOperators"]]
    assert parts and set(parts) == {want}
    assert not hasattr(caller, "_graft_stream_src_rows")
    assert caller.conf.get("spark.sql.shuffle.partitions") == "7"
    assert stream_arrow == ["7"]
    assert out.sparkSession is not caller
    assert out.sparkSession.conf.get("spark.sql.shuffle.partitions") == "7"
    assert out.sparkSession.conf.get(arrow) == "7"


def test_failed_drain_removes_source_and_checkpoint(spark, sf_dir, monkeypatch):
    """A drain whose stream fails mid-run still removes its staged source
    and the checkpoint the failed query had written."""
    import os
    import tempfile

    from dicom_metadata_extractor_serverless_datalake_spark.queries.streams import (
        _drain,
        _stage,
    )

    made = []
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    with pytest.raises(Exception, match="drain failed"):
        _drain(
            spark,
            _stage(sf_dir, "events"),
            lambda stream: stream.selectExpr("raise_error('drain failed') AS x"),
        )
    assert len(made) == 2
    assert not any(os.path.exists(d) for d in made)


def test_q85_leaves_no_stream_dir_behind(spark, sf_dir):
    """q85 removes its upsert snapshot dir (and the drain its source and
    checkpoint dirs): the returned frame no longer reads from them, and
    it still returns one row per user."""
    import os
    import tempfile

    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    def stream_dirs():
        return {d for d in os.listdir(tempfile.gettempdir()) if d.startswith("spark_stream_")}

    before = stream_dirs()
    rows = QUERIES["q85_stream_upsert_snapshot"].spark_fn(spark, sf_dir).collect()
    assert stream_dirs() - before == set()
    users = [r["user_id"] for r in rows]
    assert users and users == sorted(set(users))


def test_stateful_crash_recovery_from_checkpoint(spark, sf_dir, tmp_path_factory):
    """Kill the q230 completeness drain between micro-batches and restart
    a NEW query from the same checkpoint: per-order bitmask state must
    be RESTORED from the state store (not recomputed), so the resumed
    run's latest-per-order rollup equals the uninterrupted batch truth.
    This is the production failure mode the reference covers with
    Lambda retries + DLQ (deploy/serverless.yml:188-190); here recovery
    is Structured Streaming's checkpoint contract."""
    import os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from dicom_metadata_extractor_serverless_datalake_spark.queries.streams import (
        _COMP_OUT,
        _COMP_STATE,
        _completeness_update,
        _lineitem_src,
    )
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_stream

    base = tmp_path_factory.mktemp("ckpt_recovery")
    src, ckpt, out = base / "src", base / "ckpt", base / "out"
    os.makedirs(src)

    staged = _lineitem_src(sf_dir).dir
    files = sorted(os.listdir(staged))
    assert len(files) == 3

    def run_from_checkpoint():
        stateful = (
            load_stream(spark, str(src), "lineitem", max_files_per_trigger=1)
            .groupBy("l_orderkey")
            .applyInPandasWithState(
                _completeness_update,
                outputStructType=_COMP_OUT,
                stateStructType=_COMP_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )
        q = (
            stateful.writeStream.outputMode("update")
            .foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(str(out))
            )
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return q

    # run 1: only the first shipdate slice exists; the availableNow drain
    # checkpoints its state and terminates ("crash" after batch commit)
    shutil.move(os.path.join(staged, files[0]), src / files[0])
    run_from_checkpoint()
    n_after_first = spark.read.parquet(str(out)).count()
    assert n_after_first > 0

    # the remaining slices land; a NEW query resumes from the checkpoint
    for f in files[1:]:
        shutil.move(os.path.join(staged, f), src / f)
    shutil.rmtree(staged, ignore_errors=True)
    run_from_checkpoint()

    emitted = spark.read.parquet(str(out))
    # state genuinely carried across the restart: an order whose lines
    # span the split is re-emitted with a version > 1 AFTER the restart
    resumed = emitted.filter(F.col("version") >= 2).count()
    assert resumed > 0, "no order state survived the restart"

    w = Window.partitionBy("l_orderkey").orderBy(F.col("version").desc())
    latest = (
        emitted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("l_orderkey", "n", "missing_in_span", "dup_rows", "verdict")
    )
    truth = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).filter(
        F.col("l_shipdate") < "1997-01-01"
    )
    expected = (
        truth.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("l_linenumber").alias("d"),
            F.min("l_linenumber").alias("mn"),
            F.max("l_linenumber").alias("mx"),
        )
        .select(
            "l_orderkey",
            "n",
            (F.col("mx") - F.col("mn") + 1 - F.col("d")).alias("missing_in_span"),
            (F.col("n") - F.col("d")).alias("dup_rows"),
            F.when(F.col("d") < F.col("n"), "duplicated")
            .when(F.col("mn") > 1, "offset_start")
            .when(F.col("mx") > F.col("n"), "gapped")
            .otherwise("complete")
            .alias("verdict"),
        )
    )
    assert latest.count() == expected.count()
    assert latest.exceptAll(expected).count() == 0
    assert expected.exceptAll(latest).count() == 0


def test_streaming_agg_recovery_from_checkpoint(spark, sf_dir, tmp_path_factory):
    """q266's Count-Min cells are a built-in streaming aggregate whose
    state lives in the checkpoint's state store. Kill the drain after
    the first micro-batch, restart a NEW query from the checkpoint:
    counters must CONTINUE from restored state (monotone max-per-cell
    over both runs == the batch sketch), not restart from zero."""
    import os

    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.operators.dedup import h31
    from dicom_metadata_extractor_serverless_datalake_spark.queries.mining import _CM_D, _CM_W
    from dicom_metadata_extractor_serverless_datalake_spark.queries.streams import _stage
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_stream

    base = tmp_path_factory.mktemp("agg_recovery")
    src, ckpt, out = base / "src", base / "ckpt", base / "out"
    os.makedirs(src)
    staged = _stage(sf_dir, "documents", "doc_id", 3).dir
    files = sorted(os.listdir(staged))

    def bucket_exprs():
        return [
            F.expr(f"{h31('concat(' + repr('cm' + str(i) + '-') + ', w)')} % {_CM_W}")
            for i in range(_CM_D)
        ]

    def run_from_checkpoint():
        docs = load_stream(spark, str(src), "documents", max_files_per_trigger=1)
        tok = docs.select(
            F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("w")
        )
        counters = (
            tok.select(F.posexplode(F.array(*bucket_exprs())).alias("i", "bucket"))
            .groupBy("i", "bucket")
            .agg(F.count("*").alias("c"))
        )
        q = (
            counters.writeStream.outputMode("update")
            .foreachBatch(lambda df, _b: df.write.mode("append").parquet(str(out)))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    shutil.move(os.path.join(staged, files[0]), src / files[0])
    run_from_checkpoint()
    # MATERIALIZE run 1's cells before run 2 appends to the same dir —
    # a lazy frame would silently re-read the post-restart files
    run1 = {
        (r["i"], r["bucket"]): r["c1"]
        for r in spark.read.parquet(str(out))
        .groupBy("i", "bucket")
        .agg(F.max("c").alias("c1"))
        .collect()
    }
    assert run1
    for f in files[1:]:
        shutil.move(os.path.join(staged, f), src / f)
    shutil.rmtree(staged, ignore_errors=True)
    run_from_checkpoint()

    drained = (
        spark.read.parquet(str(out)).groupBy("i", "bucket").agg(F.max("c").alias("c"))
    )
    # batch truth over the full table
    docs_b = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tok_b = docs_b.select(
        F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("w")
    )
    batch = (
        tok_b.select(F.posexplode(F.array(*bucket_exprs())).alias("i", "bucket"))
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("c"))
    )
    diff = (
        drained.join(batch.withColumnRenamed("c", "cb"), ["i", "bucket"], "full_outer")
        .filter(
            F.col("c").isNull() | F.col("cb").isNull() | (F.col("c") != F.col("cb"))
        )
        .count()
    )
    assert diff == 0, "drained counters diverge from batch after restart"
    # state genuinely carried: some cell's post-restart count exceeds run 1's
    final = {(r["i"], r["bucket"]): r["c"] for r in drained.collect()}
    grew = sum(1 for k, c in final.items() if k in run1 and c > run1[k])
    assert grew > 0, "no counter grew across the restart (state reset?)"


def test_stream_ams_equals_batch_sketch(spark, sf_dir):
    """q280: AMS sign counters are NOT monotone, so the drain
    reassembles each X_j from its two monotone (+/-) cell halves —
    the drained stream sketch must equal q272's batch sketch
    value-for-value (every counter, the exact F2 and the median-of-
    squares estimate)."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    (stream_row,) = QUERIES["q280_stream_ams"].spark_fn(spark, sf_dir).collect()
    (batch_row,) = QUERIES["q272_ams_f2"].spark_fn(spark, sf_dir).collect()
    assert stream_row.asDict() == batch_row.asDict()
    # sanity: the sketch actually mixes signs — BOTH the positive and
    # negative cell halves must have been exercised by the drain (an
    # `or` here would be vacuous: it passes even if the negative half
    # collapses into a plain token count)
    assert any(stream_row[f"x{j}"] < 0 for j in range(8)) and any(
        stream_row[f"x{j}"] > 0 for j in range(8)
    )


def test_bootstrap_stream_recovery_from_checkpoint(spark, sf_dir, tmp_path_factory):
    """q290's (source, replicate) bootstrap cells survive a crash:
    kill the drain after the first micro-batch, restart a NEW query
    from the checkpoint, and the drained maxima + q281's CI tail must
    equal the BATCH bootstrap verbatim — restored state, not a restart
    from zero (which would undercount every cell's sums)."""
    import os

    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES
    from dicom_metadata_extractor_serverless_datalake_spark.pipeline import (
        bootstrap_ci_tail,
        bootstrap_rep_frame,
    )
    from dicom_metadata_extractor_serverless_datalake_spark.queries.streams import _stage
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_stream

    base = tmp_path_factory.mktemp("boot_recovery")
    src, ckpt, out = base / "src", base / "ckpt", base / "out"
    os.makedirs(src)
    staged = _stage(sf_dir, "documents", "doc_id", 3).dir
    files = sorted(os.listdir(staged))

    def run_from_checkpoint():
        docs = load_stream(spark, str(src), "documents", max_files_per_trigger=1)
        cells = bootstrap_rep_frame(docs)
        q = (
            cells.writeStream.outputMode("update")
            .foreachBatch(lambda df, _b: df.write.mode("append").parquet(str(out)))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    shutil.move(os.path.join(staged, files[0]), src / files[0])
    run_from_checkpoint()
    run1 = {
        (r["source"], r["r"]): (r["sk"], r["s1"])
        for r in spark.read.parquet(str(out))
        .groupBy("source", "r")
        .agg(F.max("sk").alias("sk"), F.max("s1").alias("s1"))
        .collect()
    }
    assert run1

    for f in files[1:]:
        shutil.move(os.path.join(staged, f), src / f)
    shutil.rmtree(staged, ignore_errors=True)
    run_from_checkpoint()

    drained = (
        spark.read.parquet(str(out))
        .groupBy("source", "r")
        .agg(F.max("sk").alias("sk"), F.max("s1").alias("s1"))
        .localCheckpoint(eager=True)
    )
    # cell-level: restored state continued (monotone: run2 >= run1,
    # strictly greater for at least one cell) and equals the batch frame
    docs_b = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    batch = {
        (r["source"], r["r"]): (r["sk"], r["s1"])
        for r in bootstrap_rep_frame(docs_b).collect()
    }
    got = {(r["source"], r["r"]): (r["sk"], r["s1"]) for r in drained.collect()}
    assert got == batch
    grew = sum(1 for k, v in run1.items() if got[k] > v)
    assert grew > 0, "no cell grew across the restart"

    # end-to-end: CI tail over the recovered cells == q281's batch rows
    ci = {r["source"]: tuple(r) for r in bootstrap_ci_tail(drained).collect()}
    q281 = {
        r["source"]: tuple(r)
        for r in QUERIES["q281_bootstrap_ci"].spark_fn(spark, sf_dir).collect()
    }
    assert ci == q281


def test_reservoir_crash_recovery_from_checkpoint(spark, sf_dir, tmp_path_factory):
    """VERDICT r10 #6: the pickled-pandas-state family (q185's two
    k-length CSV strings + version counter) had no recovery pin — only
    the q230 bitmask and q290 cells did. Kill the reservoir drain
    between micro-batches, restart a NEW query from the same
    checkpoint: the k-smallest-(hash, doc_id) state must be RESTORED,
    so the resumed run's latest winner set per lang equals the batch
    q169 window truth over ALL docs — including winners that arrived
    BEFORE the crash and were never re-read after it."""
    import os

    from pyspark.sql.streaming.state import GroupStateTimeout

    from dicom_metadata_extractor_serverless_datalake_spark.operators.dedup import h31
    from dicom_metadata_extractor_serverless_datalake_spark.queries.prep import _RESERVOIR_K
    from dicom_metadata_extractor_serverless_datalake_spark.queries.streams import (
        _RES_OUT_SCHEMA,
        _RES_STATE_SCHEMA,
        _reservoir_update,
        _stage,
    )
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_stream

    base = tmp_path_factory.mktemp("res_recovery")
    src, ckpt, out = base / "src", base / "ckpt", base / "out"
    os.makedirs(src)

    staged = _stage(sf_dir, "documents", "doc_id", 3).dir
    files = sorted(os.listdir(staged))
    assert len(files) == 3

    def run_from_checkpoint():
        keyed = load_stream(spark, str(src), "documents", max_files_per_trigger=1).select(
            "lang",
            "doc_id",
            F.expr(h31("concat('r169-', CAST(doc_id AS STRING))")).alias("h"),
        )
        stateful = keyed.groupBy("lang").applyInPandasWithState(
            _reservoir_update,
            outputStructType=_RES_OUT_SCHEMA,
            stateStructType=_RES_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            stateful.writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(str(out)))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    # run 1: first slice only; drain checkpoints and terminates ("crash")
    shutil.move(os.path.join(staged, files[0]), src / files[0])
    run_from_checkpoint()
    assert spark.read.parquet(str(out)).count() > 0

    for f in files[1:]:
        shutil.move(os.path.join(staged, f), src / f)
    shutil.rmtree(staged, ignore_errors=True)
    run_from_checkpoint()

    emitted = spark.read.parquet(str(out))
    # version counters continued from restored state, not from zero
    assert emitted.agg(F.max("ver")).first()[0] >= 2

    w = Window.partitionBy("lang")
    latest = (
        emitted.withColumn("_vmax", F.max("ver").over(w))
        .filter(F.col("ver") == F.col("_vmax"))
        .select("lang", "doc_id", "rk")
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    truth = (
        docs.select(
            "lang",
            "doc_id",
            F.expr(h31("concat('r169-', CAST(doc_id AS STRING))")).alias("h"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("lang").orderBy("h", "doc_id")
            ),
        )
        .filter(F.col("rk") <= _RESERVOIR_K)
        .select("lang", "doc_id", "rk")
    )
    assert latest.exceptAll(truth).count() == 0
    assert truth.exceptAll(latest).count() == 0
    # the recovery was load-bearing: at least one final winner arrived
    # only in the pre-crash slice (so equality required restored state)
    pre = spark.read.parquet(str(src / files[0])).select("doc_id")
    carried = latest.join(pre, "doc_id", "left_semi").count()
    assert carried > 0, "no pre-crash winner survived into the final set"
