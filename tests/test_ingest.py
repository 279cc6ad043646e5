"""End-to-end ingest: fixtures -> driver-packed listing -> mapInPandas
ranged read + extract -> partitioned Parquet lake + quarantine (SURVEY §5
strategy item 2)."""

import datetime

import pytest
from pyspark.sql import functions as F

from dicom_metadata_extractor_serverless_datalake_spark.ingest.pipeline import ingest_batch
from dicom_metadata_extractor_serverless_datalake_spark.schema import DICOM_METADATA_SCHEMA

from fixtures import write_fixture_tree


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("dcm_fixtures")
    counts = write_fixture_tree(root)
    return root, counts


def test_ingest_end_to_end(spark, fixture_dir, tmp_path_factory):
    root, counts = fixture_dir
    out = tmp_path_factory.mktemp("lake")
    lake = str(out / "dicom_metadata")
    quarantine = str(out / "quarantine")

    n_good, n_bad = ingest_batch(spark, str(root), lake, quarantine)
    assert n_good == counts["lake_rows"]
    assert n_bad == counts["quarantine_rows"]

    df = spark.read.parquet(lake)
    # pinned schema holds (partition col comes back typed date)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in DICOM_METADATA_SCHEMA.fields}
    assert got == want

    # partition layout: study_date=YYYY-MM-DD dirs, 1979-01-01 backfill present
    dates = {r[0] for r in df.select("study_date").distinct().collect()}
    assert datetime.date(1979, 1, 1) in dates

    # lineage columns populated; archive members carry member path
    zip_rows = df.filter(F.col("source_s3_key").endswith("example.zip"))
    members = {r[0] for r in zip_rows.select("source_s3_archive_path").collect()}
    assert members == {"example-1", "example-3"}  # DICOMDIR skipped

    # quarantine captured the empty DICOMDIR with an error message
    q = spark.read.parquet(quarantine)
    assert q.count() == 1
    row = q.collect()[0]
    assert "DICOMDIR" in row["source_s3_key"]
    assert row["error"]

    # ignored extensions contributed nothing
    assert df.filter(F.col("source_s3_key").endswith(".txt")).count() == 0

    # flagship aggregation over the lake (M0 acceptance, SURVEY §7)
    agg = (
        df.filter(F.col("study_date") >= "1979-01-01")
        .groupBy("modality")
        .agg(F.count("*").alias("n"))
    )
    assert agg.agg(F.sum("n")).collect()[0][0] == counts["lake_rows"]


def test_bare_gzip_member_ingests(spark, tmp_path_factory):
    """A bare (non-tar) gzip-compressed DICOM — file.dcm.gz — must
    decompress and ingest; the reference crashes on this shape
    (src/utils/utils.py:31-48 routes .gz through tarfile). Corrupt
    bare-gzip still quarantines."""
    import gzip

    from dicom_metadata_extractor_serverless_datalake_spark.ingest.archives import explode
    from fixtures import make_dcm

    d = make_dcm(7)
    got = list(explode("s3://b/scan.dcm.gz", gzip.compress(d)))
    assert got == [("scan.dcm", d)]
    # corrupt gzip payload still raises -> quarantine path
    with pytest.raises(Exception):
        list(explode("s3://b/broken.gz", b"\x1f\x8b\x00garbage"))

    root = tmp_path_factory.mktemp("gz_in")
    (root / "scan.dcm.gz").write_bytes(gzip.compress(d))
    (root / "broken.gz").write_bytes(b"\x1f\x8b\x00garbage")
    out = tmp_path_factory.mktemp("gz_out")
    n_good, n_bad = ingest_batch(
        spark, str(root), str(out / "lake"), str(out / "quarantine")
    )
    assert (n_good, n_bad) == (1, 1)


def test_ingest_reference_samples(spark, tmp_path_factory):
    """Ingest the reference's own sample_dcm/ set and reproduce its
    documented outcome: 8 metadata rows (2 bare + 2 zip + 2 tar + 2 from
    tar.gz/tar.bz2 re-compressions), DICOMDIR quarantined
    (README.md:94-118)."""
    import pathlib

    src = pathlib.Path("/root/reference/sample_dcm")
    if not src.exists():
        pytest.skip("reference samples unavailable")
    out = tmp_path_factory.mktemp("ref_lake")
    n_good, n_bad = ingest_batch(
        spark, str(src), str(out / "lake"), str(out / "quarantine")
    )
    # example-0, example-6 bare; example.zip{-1,-3}; example.tar{-4,-5};
    # example.tar.gz and example.tar.bz2 repeat the tar members
    assert n_good == 10
    assert n_bad == 1  # empty DICOMDIR


def test_dicom_lake_facade(spark, tmp_path_factory):
    """The reference's whole user workflow through the DicomLake facade:
    ingest -> sql -> partitions -> quarantine."""
    from dicom_metadata_extractor_serverless_datalake_spark import DicomLake

    from fixtures import write_fixture_tree

    root = tmp_path_factory.mktemp("lake_in")
    write_fixture_tree(root)
    out = tmp_path_factory.mktemp("lake_out")
    lake = DicomLake(
        spark, str(out / "lake"), quarantine_path=str(out / "quar")
    )
    df = lake.ingest(str(root))
    assert df.count() == 10
    got = {
        (r["modality"], r["n"])
        for r in lake.sql(
            "SELECT modality, COUNT(*) AS n FROM dicom_metadata GROUP BY modality"
        ).collect()
    }
    assert sum(n for _, n in got) == 10
    want_parts = sorted(
        r["study_date"].isoformat()
        for r in df.select("study_date").distinct().collect()
    )
    assert lake.partitions() == want_parts and len(want_parts) >= 3
    quar = lake.quarantine()
    assert quar is not None and quar.count() == 1


def test_dicom_python_datasource(spark, tmp_path_factory):
    """spark.read.format('dicom'): the extraction pipeline as a native
    Spark-4 Python data source, equal to the mapInPandas ingest path."""
    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.ingest.pipeline import extract_objects
    from dicom_metadata_extractor_serverless_datalake_spark.sources.dicom_source import register_dicom_source

    from fixtures import write_fixture_tree

    root = tmp_path_factory.mktemp("ds_in")
    write_fixture_tree(root)
    register_dicom_source(spark)

    via_source = spark.read.format("dicom").load(str(root))
    via_pipeline = extract_objects(spark, str(root))

    key = lambda r: (r["source_s3_key"], r["source_s3_archive_path"] or "",  # noqa: E731
                     r["sop_instance_uid"] or "", (r["error"] or "")[:40])
    got = sorted(map(key, via_source.collect()))
    want = sorted(map(key, via_pipeline.collect()))
    assert got == want and len(got) > 0
    # schema carries the full canonical shape incl. the error channel
    assert via_source.schema == via_pipeline.schema
    # filters compose on the loaded frame
    assert via_source.filter(F.col("error").isNotNull()).count() >= 1


def test_dicom_source_reads_a_small_drop_in_parallel(spark, tmp_path):
    """format("dicom"), batch and stream, packs a drop under 128 MB like
    batch ingest does: at least min(defaultParallelism, objects) read
    tasks, not one."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.binary import walk_objects
    from dicom_metadata_extractor_serverless_datalake_spark.sources.dicom_source import register_dicom_source

    from fixtures import write_fixture_tree

    root = tmp_path / "in"
    write_fixture_tree(root)
    register_dicom_source(spark)
    want = min(spark.sparkContext.defaultParallelism, len(walk_objects(str(root))))
    assert want > 1
    assert spark.read.format("dicom").load(str(root)).rdd.getNumPartitions() >= want

    seen = []
    q = (
        spark.readStream.format("dicom").load(str(root))
        .writeStream.foreachBatch(lambda df, _bid: seen.append(df.rdd.getNumPartitions()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert seen and seen[0] >= want


@pytest.mark.parametrize("external", [False, True])
def test_all_quarantined_ingest_yields_empty_lake(spark, tmp_path_factory, external):
    """A first ingest where every input is corrupt writes nothing to the
    lake; run_ingest must still return an empty, correctly-typed frame
    (and register the view or the external table) instead of failing on
    the missing lake dir or on schema inference over a lake with no
    files."""
    from dicom_metadata_extractor_serverless_datalake_spark.ingest.pipeline import run_ingest

    root = tmp_path_factory.mktemp("allbad_in")
    (root / "garbage.dcm").write_bytes(b"\x00garbage" * 50)
    (root / "bad.zip").write_bytes(b"PK\x03\x04notazip")
    out = tmp_path_factory.mktemp("allbad_out")
    table = "allbad_ext" if external else "allbad_meta"
    try:
        df = run_ingest(
            spark, str(root), str(out / "lake"), str(out / "quar"),
            table=table, external=external,
        )
        assert df.count() == 0
        assert df.schema == DICOM_METADATA_SCHEMA
        assert spark.table(table).count() == 0
        assert spark.read.parquet(str(out / "quar")).count() == 2
    finally:
        if external:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


@pytest.mark.parametrize(
    "inputs, want",
    [("good", (3, 0)), ("bad", (0, 2)), ("empty", (0, 0))],
    ids=["good", "bad", "empty"],
)
def test_write_split_counts(spark, tmp_path, inputs, want):
    """write_split's Observation counts: (lake_rows, quarantined_rows)
    and the written dates for all-good, all-bad and empty inputs; no
    quarantine is written when nothing failed."""
    from dicom_metadata_extractor_serverless_datalake_spark.ingest.pipeline import (
        extract_objects,
        write_split,
    )
    from fixtures import make_dcm

    root = tmp_path / "in"
    root.mkdir()
    if inputs == "good":
        for i in range(3):
            (root / f"ok-{i}.dcm").write_bytes(make_dcm(i))
    elif inputs == "bad":
        (root / "garbage.dcm").write_bytes(b"\x00garbage" * 50)
        (root / "bad.zip").write_bytes(b"PK\x03\x04notazip")
    lake, quar = tmp_path / "lake", tmp_path / "quar"

    extracted = extract_objects(spark, str(root))
    n_good, n_bad, dates = write_split(extracted, str(lake), str(quar))
    assert (n_good, n_bad) == want

    rows = spark.read.schema(DICOM_METADATA_SCHEMA).parquet(str(lake))
    assert rows.count() == n_good
    assert dates == sorted({r[0] for r in rows.select("study_date").collect()})
    assert quar.exists() == (n_bad > 0)
    if n_bad:
        assert spark.read.parquet(str(quar)).count() == n_bad


def test_ingest_batch_job_count(spark, fixture_dir, tmp_path, count_jobs):
    """Job-count guard for the fused read and writer: ingesting the
    fixture tree (lake rows and one quarantined object) runs exactly 4
    Spark jobs; the count repeats run to run and across core counts. A
    listing DataFrame, a listing shuffle, a separate count job or a
    second date shuffle coming back adds jobs and fails this."""
    root, counts = fixture_dir
    lake, quar = str(tmp_path / "lake"), str(tmp_path / "quar")
    got, jobs = count_jobs(lambda: ingest_batch(spark, str(root), lake, quar))
    assert got == (counts["lake_rows"], counts["quarantine_rows"])
    assert jobs == 4


def test_pack_objects(spark, tmp_path):
    """pack_objects: every entry in exactly one pack, at most n packs,
    pack bytes within the largest entry of each other, the same packs
    call to call; an empty input still plans one empty read task."""
    import random

    from dicom_metadata_extractor_serverless_datalake_spark.ingest.pipeline import extract_objects
    from dicom_metadata_extractor_serverless_datalake_spark.sources.binary import pack_objects

    rng = random.Random(7)
    sizes = {f"obj-{i:04d}": rng.choice([0, 1, 10, 1000, rng.randint(0, 1 << 20)])
             for i in range(500)}
    entries = list(sizes.items())
    for n in (1, 3, 8, 499, 500, 2000):
        packs = pack_objects(entries, n)
        assert sorted(p for pack in packs for p in pack) == sorted(sizes)
        assert len(packs) == min(n, len(entries)) and all(packs)
        load = [sum(sizes[p] for p in pack) for pack in packs]
        assert max(load) - min(load) <= max(sizes.values())
        rng.shuffle(entries)
        assert pack_objects(entries, n) == packs

    assert pack_objects([], 4) == [[]]
    empty = tmp_path / "empty"
    empty.mkdir()
    df = extract_objects(spark, str(empty))
    assert df.rdd.getNumPartitions() == 1 and df.count() == 0


def test_unreadable_object_is_quarantined(spark, fixture_dir, tmp_path):
    """An object that cannot be read (here a dangling symlink) lands in
    the quarantine as one object_read row while the rest of the tree
    ingests, through ingest_batch and through format("dicom")."""
    import shutil

    from dicom_metadata_extractor_serverless_datalake_spark.ingest.extract import read_extract
    from dicom_metadata_extractor_serverless_datalake_spark.sources.binary import walk_objects
    from dicom_metadata_extractor_serverless_datalake_spark.sources.dicom_source import register_dicom_source

    src, counts = fixture_dir
    root = tmp_path / "in"
    shutil.copytree(src, root)
    dangling = root / "gone.dcm"
    dangling.symlink_to(tmp_path / "missing.dcm")
    lake, quar = str(tmp_path / "lake"), str(tmp_path / "quar")
    assert (str(dangling), 0) in [(p, size) for p, size, _m in walk_objects(str(root))]
    # an object deleted after the listing fails its read in the worker
    [row] = read_extract([str(tmp_path / "deleted.dcm")])
    assert row["error_log"]["stage"] == "object_read"

    assert ingest_batch(spark, str(root), lake, quar) == (
        counts["lake_rows"], counts["quarantine_rows"] + 1
    )
    got = spark.read.parquet(quar).filter("error_log.stage = 'object_read'").collect()
    assert [(r["source_s3_key"], r["error_log"]["error_class"]) for r in got] == [
        (str(dangling), "FileNotFoundError")
    ]

    register_dicom_source(spark)
    via_source = spark.read.format("dicom").load(str(root))
    bad = via_source.filter("error IS NOT NULL")
    assert via_source.count() - bad.count() == counts["lake_rows"]
    stages = sorted((r["source_s3_key"], r["error_log"]["stage"]) for r in bad.collect())
    assert stages == sorted([(str(dangling), "object_read"), (str(root / "DICOMDIR"), "dicom_parse")])


def test_lake_reconcile_replay_converges(spark, tmp_path):
    """reconcile() proves at-least-once replay convergence: a lake
    re-ingested from the same input reconciles as 100% unchanged
    (duplicate UID copies collapse), while a lake with a missing
    object reports it as removed."""
    from dicom_metadata_extractor_serverless_datalake_spark import DicomLake

    src = str(tmp_path / "in")
    write_fixture_tree(tmp_path / "in")
    a = DicomLake(spark, str(tmp_path / "a"), quarantine_path=str(tmp_path / "qa"),
                  table="rec_a")
    a.ingest(src)
    b = DicomLake(spark, str(tmp_path / "b"), quarantine_path=str(tmp_path / "qb"),
                  table="rec_b")
    b.ingest(src)
    b.ingest(src)  # at-least-once replay: every object twice

    summ = {r.change_type: r.n for r in a.reconcile(b).collect()}
    n = a.df().select("sop_instance_uid").distinct().count()
    assert summ == {"unchanged": n}

    # drop one object from the new side -> reported as removed
    uid = a.df().select("sop_instance_uid").orderBy("sop_instance_uid").first()[0]
    from pyspark.sql import functions as F
    partial = b.df().filter(F.col("sop_instance_uid") != uid)
    summ2 = {r.change_type: r.n for r in a.reconcile(partial).collect()}
    assert summ2 == {"removed": 1, "unchanged": n - 1}


def test_lake_reid_risk_audit(spark, tmp_path_factory):
    """reid_risk: class sizes partition the lake exactly, at_risk splits
    at k, and every record of a k=1 audit is its own class."""
    from dicom_metadata_extractor_serverless_datalake_spark import DicomLake

    from fixtures import write_fixture_tree

    root = tmp_path_factory.mktemp("rr_in")
    write_fixture_tree(root)
    out = tmp_path_factory.mktemp("rr_out")
    lake = DicomLake(spark, str(out / "lake"), quarantine_path=str(out / "quar"))
    lake.ingest(str(root))
    total = lake.df().count()

    hist = lake.reid_risk(k=5).collect()
    assert sum(r.n_records for r in hist) == total
    assert all(r.n_records == r.class_size * r.n_classes for r in hist)
    assert all(r.at_risk == (r.class_size < 5) for r in hist)
    assert abs(sum(r.share_micros for r in hist) - 1_000_000) <= len(hist)

    # finest quasi-identifier: every row its own class -> nothing at k=1
    fine = lake.reid_risk(quasi_cols=["source_s3_key"], k=1).collect()
    assert all(not r.at_risk for r in fine)


def test_lake_series_completeness_audit(spark, tmp_path_factory):
    """series_completeness: a fully-ingested series reads complete, a
    series whose middle instance never landed reads gapped, one whose
    head is missing reads offset_start, and instances without an
    InstanceNumber tag surface as untracked instead of vanishing."""
    from dicom_metadata_extractor_serverless_datalake_spark import DicomLake
    from dicom_metadata_extractor_serverless_datalake_spark.dicom.codec import write_dicom

    def inst(study, series, num, uid_seed, with_num=True):
        tags = {
            "SOPClassUID": "1.2.840.10008.5.1.4.1.1.7",
            "SOPInstanceUID": f"1.2.826.0.1.3680043.8.498.{uid_seed}",
            "Modality": "OT",
            "StudyDate": "20210101",
            "StudyID": study,
            "SeriesNumber": series,
        }
        if with_num:
            tags["InstanceNumber"] = str(num)
        return write_dicom(tags, sop_instance_uid=tags["SOPInstanceUID"])

    root = tmp_path_factory.mktemp("sc_in")
    plan = [
        # series A: complete 1..3
        ("S1", "1", [1, 2, 3], True),
        # series B: gapped (2 lost to the DLQ)
        ("S1", "2", [1, 3], True),
        # series C: offset start
        ("S2", "1", [2, 3], True),
        # series D: untagged instances
        ("S2", "2", [1, 2], False),
    ]
    seed = 0
    for study, series, nums, with_num in plan:
        for n in nums:
            seed += 1
            (root / f"img{seed}.dcm").write_bytes(
                inst(study, series, n, seed, with_num)
            )
    out = tmp_path_factory.mktemp("sc_out")
    lake = DicomLake(spark, str(out / "lake"), quarantine_path=str(out / "quar"),
                     table="sc_lake")
    lake.ingest(str(root))

    got = {
        (r.study_id, r.series_number): r for r in lake.series_completeness().collect()
    }
    assert got[("S1", "1")].verdict == "complete"
    assert got[("S1", "2")].verdict == "gapped"
    assert got[("S1", "2")].missing_in_span == 1
    assert got[("S2", "1")].verdict == "offset_start"
    assert got[("S2", "2")].verdict == "untracked"
    assert all(r.dup_rows == 0 for r in got.values())


def test_quarantine_structured_breadcrumb(spark, tmp_path_factory):
    """VERDICT r08 #7: every quarantined record carries the structured
    per-record breadcrumb (stage, error class, source key, member path,
    ts) — the reference's structlog event (src/logger.py:1-47) as
    queryable DLQ columns. A zip with one good member and one
    truncated-DICOM member yields exactly one breadcrumb row at the
    parse stage naming that member; a corrupt archive yields one at the
    explode stage with no member path."""
    import io
    import zipfile

    from fixtures import make_dcm

    root = tmp_path_factory.mktemp("bc_in")
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("inner/good.dcm", make_dcm(3))
        z.writestr("inner/trunc.dcm", make_dcm(4)[:180])  # parse fails
    (root / "mix.zip").write_bytes(buf.getvalue())
    (root / "broken.zip").write_bytes(b"PK\x03\x04garbage-not-a-zip")
    out = tmp_path_factory.mktemp("bc_out")
    n_good, n_bad = ingest_batch(
        spark, str(root), str(out / "lake"), str(out / "quarantine")
    )
    assert (n_good, n_bad) == (1, 2)

    quar = spark.read.parquet(str(out / "quarantine"))
    rows = {r["error_log"]["stage"]: r for r in quar.collect()}
    assert set(rows) == {"dicom_parse", "archive_explode"}

    parse = rows["dicom_parse"]
    assert parse["error_log"]["member_path"] == "inner/trunc.dcm"
    assert parse["error_log"]["source_key"].endswith("mix.zip")
    assert parse["error_log"]["error_class"]  # e.g. DicomParseError
    assert parse["error_log"]["ts"] is not None
    # breadcrumb agrees with the human-readable error column
    assert parse["error"].startswith(parse["error_log"]["error_class"])

    expl = rows["archive_explode"]
    assert expl["error_log"]["member_path"] is None
    assert expl["error_log"]["source_key"].endswith("broken.zip")
    assert expl["error_log"]["error_class"] == "BadZipFile"

    # the lake side never carries the error channel
    lake = spark.read.parquet(str(out / "lake"))
    assert "error" not in lake.columns and "error_log" not in lake.columns

    # the DLQ is queryable by breadcrumb fields — the point of the struct
    n_parse = quar.filter("error_log.stage = 'dicom_parse'").count()
    assert n_parse == 1


def test_breadcrumb_schema_stable_across_ingest_modes(spark, tmp_path_factory):
    """VERDICT r09 #6: the quarantine breadcrumb struct (stage,
    error_class, source_key, member_path, ts) is the SAME schema no
    matter which ingest mode wrote it — batch ``ingest_batch``,
    streaming ``start_ingest_stream`` (the batch writer in foreachBatch),
    and the native ``format("dicom")`` source (batch and stream) — so a
    DLQ consumer can union quarantine output from every mode."""
    from dicom_metadata_extractor_serverless_datalake_spark.schema import QUARANTINE_LOG_SCHEMA
    from dicom_metadata_extractor_serverless_datalake_spark.sources.dicom_source import register_dicom_source
    from dicom_metadata_extractor_serverless_datalake_spark.streaming.ingest_stream import start_ingest_stream

    from fixtures import make_dcm

    root = tmp_path_factory.mktemp("bcmode_in")
    (root / "good.dcm").write_bytes(make_dcm(1))
    (root / "trunc.dcm").write_bytes(make_dcm(2)[:180])  # parse fails, non-empty
    out = tmp_path_factory.mktemp("bcmode_out")

    # mode 1: batch pipeline
    ingest_batch(spark, str(root), str(out / "lake_b"), str(out / "quar_b"))

    # mode 2: streaming pipeline (foreachBatch sink)
    q = start_ingest_stream(
        spark,
        str(root),
        str(out / "lake_s"),
        quarantine_path=str(out / "quar_s"),
        checkpoint_path=str(out / "ckpt_s"),
        available_now=True,
    )
    q.awaitTermination(300)

    # mode 3: native batch source (error channel inline, not a sink split)
    register_dicom_source(spark)
    native_b = spark.read.format("dicom").load(str(root)).filter("error IS NOT NULL")

    # mode 4: native streaming source drained to parquet
    qs = (
        spark.readStream.format("dicom")
        .load(str(root))
        .writeStream.format("parquet")
        .option("path", str(out / "lake_ns"))
        .option("checkpointLocation", str(out / "ckpt_ns"))
        .trigger(availableNow=True)
        .start()
    )
    qs.awaitTermination(300)
    native_s = spark.read.parquet(str(out / "lake_ns")).filter("error IS NOT NULL")

    frames = {
        "batch": spark.read.parquet(str(out / "quar_b")),
        "stream": spark.read.parquet(str(out / "quar_s")),
        "native_batch": native_b,
        "native_stream": native_s,
    }
    want = QUARANTINE_LOG_SCHEMA.simpleString()
    for mode, df in frames.items():
        got = df.schema["error_log"].dataType.simpleString()
        assert got == want, f"{mode}: breadcrumb schema drifted: {got}"
        row = df.filter(F.col("source_s3_key").endswith("trunc.dcm")).collect()
        assert len(row) == 1, f"{mode}: expected exactly one quarantined row"
        bc = row[0]["error_log"]
        assert bc["stage"] == "dicom_parse", f"{mode}: stage {bc['stage']}"
        assert bc["error_class"], f"{mode}: missing error_class"
        assert bc["source_key"].endswith("trunc.dcm"), f"{mode}: bad source_key"
        assert bc["ts"] is not None, f"{mode}: missing ts"

    # the four modes' breadcrumbs union cleanly — the consumer contract
    u = (
        frames["batch"]
        .select("error_log")
        .unionByName(frames["stream"].select("error_log"))
        .unionByName(frames["native_batch"].select("error_log"))
        .unionByName(frames["native_stream"].select("error_log"))
    )
    assert u.filter("error_log.stage = 'dicom_parse'").count() == 4
