"""The one lake commit (sources/commit.py): streaming sinks that land a
replayed batch once, compaction in one Spark job, compaction and purge
recovering from a crash mid-commit, and a log no reader sees."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from fixtures import write_fixture_tree
from dicom_metadata_extractor_serverless_datalake_spark import DicomLake
from dicom_metadata_extractor_serverless_datalake_spark.operators.compact import (
    compact_lake,
    partition_file_stats,
)
from dicom_metadata_extractor_serverless_datalake_spark.sources import commit


def crash_at_rename(monkeypatch, n: int) -> None:
    """Make the ``n``-th ``os.rename`` from now on raise, as a process
    dying there would leave the files."""
    real = os.rename
    calls = []

    def rename(src, dst):
        calls.append(src)
        if len(calls) == n:
            raise OSError("injected crash mid-swap")
        return real(src, dst)

    monkeypatch.setattr(commit.os, "rename", rename)


def lake_keys(lake: DicomLake):
    """(lake keys, quarantine keys), each sorted with repeats kept."""

    def keys(df):
        if df is None:
            return []
        return sorted(
            tuple(r) for r in df.select("source_s3_key", "source_s3_archive_path").collect()
        )

    return keys(lake.df()), keys(lake.quarantine())


def partition_files(lake_path: str) -> dict[str, frozenset[str]]:
    return {
        part: frozenset(f for f in os.listdir(os.path.join(lake_path, part)) if f.endswith(".parquet"))
        for part in partition_file_stats(lake_path)
    }


def leftovers(tmp_path) -> list[str]:
    """Swap debris the per-writer commits used to leave behind."""
    return [
        os.path.join(d, n)
        for d, dirs, _files in os.walk(tmp_path)
        for n in dirs
        if n.startswith(("_old_", "_compact_")) or ".purge-" in n or ".purged-" in n
    ]


@pytest.mark.parametrize("crash", ["after_sink", "between_roots"])
def test_watch_replay_lands_each_object_once(spark, tmp_path, monkeypatch, fail_after_sink, crash):
    """A crash after the watch sink committed batch 0 to the lake, before
    the stream committed that batch, replays it on restart on the same
    checkpoint. ``after_sink``: both roots were committed; ``between_roots``:
    the quarantine was, the lake was not. Either way the lake and the
    quarantine then hold ``DicomLake.ingest``'s keys, each once."""
    src = tmp_path / "in"
    write_fixture_tree(src)
    batch = DicomLake(spark, str(tmp_path / "lake_b"), str(tmp_path / "quar_b"), table="replay_b")
    batch.ingest(str(src))
    want = lake_keys(batch)

    lake = DicomLake(spark, str(tmp_path / "lake_s"), str(tmp_path / "quar_s"), table="replay_s")
    if crash == "after_sink":
        fail_after_sink(0)
    else:
        publish = commit.publish

        def quarantine_only(staged, replace=()):
            if os.path.dirname(os.path.dirname(staged)) == lake.lake_path:
                raise RuntimeError("injected crash between the two roots")
            return publish(staged, replace)

        monkeypatch.setattr(commit, "publish", quarantine_only)
    with pytest.raises(StreamingQueryException):
        lake.watch(str(src), str(tmp_path / "ckpt"), available_now=True).awaitTermination(300)
    assert lake_keys(lake)[1] == want[1]  # batch 0 is in the quarantine already
    monkeypatch.undo()

    lake.watch(str(src), str(tmp_path / "ckpt"), available_now=True).awaitTermination(300)
    assert lake_keys(lake) == want
    for root in ("lake_s", "quar_s"):
        assert len(os.listdir(tmp_path / root / commit.COMMITS)) == 1
        assert os.listdir(tmp_path / root / commit.STAGING) == []


def test_two_watches_feed_one_lake(spark, tmp_path):
    """A second watch, on an input and a checkpoint of its own, lands its
    batches in a lake the first one fed: its batch 0 is not taken for a
    replay of the first one's."""
    srcs = [tmp_path / "in1", tmp_path / "in2"]
    batch = DicomLake(spark, str(tmp_path / "lake_b"), str(tmp_path / "quar_b"), table="two_b")
    lake = DicomLake(spark, str(tmp_path / "lake_s"), str(tmp_path / "quar_s"), table="two_s")
    for n, src in enumerate(srcs):
        write_fixture_tree(src)
        batch.ingest(str(src))
        lake.watch(str(src), str(tmp_path / f"ckpt{n}"), available_now=True).awaitTermination(300)
    assert lake_keys(lake) == lake_keys(batch)
    assert len(os.listdir(tmp_path / "lake_s" / commit.COMMITS)) == 2  # one per query


def test_corpus_stream_replay_leaves_no_duplicate_digest(spark, tmp_path, monkeypatch, fail_after_sink):
    """The corpus stream's sink fails after committing batch 1, before the
    checkpoint does; the restart replays batch 1 and the lake still holds
    every unique text once."""
    import glob
    import shutil

    from dicom_metadata_extractor_serverless_datalake_spark.streaming.corpus_stream import (
        start_corpus_stream,
    )

    src, lake, ckpt = tmp_path / "src", tmp_path / "lake", tmp_path / "ckpt"
    src.mkdir()
    drops = [
        [(i, f"doc text number {i}") for i in range(20)],
        [(100 + i, f"doc text number {i}") for i in range(10)] + [(150, "second drop")],
        [(200 + i, f"late unique {i}") for i in range(5)],
    ]
    for k, rows in enumerate(drops):
        d = str(tmp_path / "stage" / f"b{k}")
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(d)
        dst = str(src / f"f{k}.parquet")
        shutil.copy(glob.glob(os.path.join(d, "part-*.parquet"))[0], dst)
        os.utime(dst, (1_000_000_000 + 60 * k,) * 2)

    fail_after_sink(1)
    q = start_corpus_stream(spark, str(src), str(lake), str(ckpt), max_files_per_trigger=1)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(600)
    monkeypatch.undo()
    q = start_corpus_stream(spark, str(src), str(lake), str(ckpt), max_files_per_trigger=1)
    q.awaitTermination(600)

    out = spark.read.parquet(str(lake))
    assert out.count() == 26  # 20 + "second drop" + 5; the 10 re-sent texts dropped
    assert out.groupBy("_digest").count().filter("count > 1").count() == 0
    assert len(os.listdir(lake / commit.COMMITS)) == 1  # the query's latest batch


def _events_lake(spark, sf_dir, path, files_per_day: list[int]) -> None:
    """Day i (from 2024-01-01) of the events table as a partition of
    ``files_per_day[i]`` files."""
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    for i, files in enumerate(files_per_day):
        day = events.filter(F.col("day") == datetime.date(2024, 1, 1 + i))
        day.repartition(files).write.mode("append").partitionBy("day").parquet(path)


def _rows(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_compact_lake_is_one_job_within_the_file_budget(spark, sf_dir, tmp_path, count_jobs):
    """Every partition past the threshold is rewritten by one Spark job,
    into at most ceil(bytes / target) files, with identical rows; a
    partition below the threshold keeps its files."""
    lake = str(tmp_path / "lake")
    _events_lake(spark, sf_dir, lake, [10, 10, 10, 1])
    before = partition_file_stats(lake)
    past = {p for p, (n, _b) in before.items() if n >= 8}
    assert len(past) == 3 and "day=2024-01-04" not in past
    want = _rows(spark, lake)
    target = min(b for _n, b in before.values()) // 2

    done, jobs = count_jobs(lambda: compact_lake(spark, lake, target_file_bytes=target, min_files=8))
    assert jobs == 1
    after = partition_file_stats(lake)
    assert done == {p: after[p][0] for p in past}
    for p in past:
        assert 1 <= after[p][0] <= -(-before[p][1] // target), p
    assert after["day=2024-01-04"] == before["day=2024-01-04"]
    assert _rows(spark, lake) == want
    assert os.listdir(os.path.join(lake, commit.STAGING)) == []


@pytest.mark.parametrize("crash", ["before_manifest", "after_manifest", "mid_swap"])
def test_compaction_crash_rolls_forward_or_is_discarded(spark, sf_dir, tmp_path, monkeypatch, crash):
    """A compaction that dies before its manifest is discarded by the
    next call; one that dies after it (before any rename, or between
    two partitions' swaps) rolls forward. Meanwhile a reader sees each
    partition's old file set or its new one, and every row once."""
    lake = str(tmp_path / "lake")
    _events_lake(spark, sf_dir, lake, [10, 10])
    old = partition_files(lake)
    rows = _rows(spark, lake)
    if crash == "before_manifest":
        monkeypatch.setattr(commit, "publish", lambda *a, **k: 1 / 0)
    elif crash == "after_manifest":
        monkeypatch.setattr(commit, "_move_in", lambda *a: 1 / 0)
    else:
        crash_at_rename(monkeypatch, 3)  # after the first partition's two renames
    with pytest.raises((ZeroDivisionError, OSError)):
        compact_lake(spark, lake, min_files=8)
    monkeypatch.undo()
    mid = partition_files(lake)
    assert _rows(spark, lake) == rows

    assert compact_lake(spark, lake, min_files=8) == ({} if crash != "before_manifest" else {
        p: 1 for p in old
    })
    new = partition_files(lake)
    assert all(len(files) == 1 for files in new.values())
    assert all(mid[p] in (old[p], new[p]) for p in old)
    if crash == "mid_swap":
        assert [mid[p] == new[p] for p in sorted(old)] == [True, False]
    assert _rows(spark, lake) == rows
    assert os.listdir(os.path.join(lake, commit.STAGING)) == []
    assert leftovers(tmp_path) == []


@pytest.mark.parametrize("crash", ["after_manifest", "mid_swap"])
def test_purge_crash_rolls_forward(spark, tmp_path, monkeypatch, crash):
    """A purge that dies after its manifest (before any rename, or between
    two partitions' swaps) leaves each partition with its old or its new
    file set; the next commit on the lake finishes the purge."""
    lake = str(tmp_path / "lake")
    spark.createDataFrame(
        [("doe", "a", 1), ("roe", "a", 2), ("doe", "b", 3), ("roe", "b", 4), ("doe", None, 5)],
        "name STRING, day STRING, id INT",
    ).repartition(1).write.partitionBy("day").parquet(lake)
    old = partition_files(lake)
    if crash == "after_manifest":
        monkeypatch.setattr(commit, "_move_in", lambda *a: 1 / 0)
    else:
        # replaced in name order: the NULL partition is retired (nothing
        # replaces it), day=a swapped, then the crash retiring day=b
        crash_at_rename(monkeypatch, 4)
    from dicom_metadata_extractor_serverless_datalake_spark.operators.purge import purge_rows

    with pytest.raises((ZeroDivisionError, OSError)):
        purge_rows(spark, lake, F.col("name") == "doe", partition_col="day")
    monkeypatch.undo()
    mid = partition_files(lake)

    assert purge_rows(spark, lake, F.col("name") == "nobody", partition_col="day")["rows_purged"] == 0
    new = partition_files(lake)
    assert set(new) == {"day=a", "day=b"}  # the all-doe NULL partition is gone
    assert all(mid.get(p) in (old[p], new.get(p)) for p in old)
    assert sorted(r["id"] for r in spark.read.parquet(lake).collect()) == [2, 4]
    assert os.listdir(os.path.join(lake, commit.STAGING)) == []
    assert leftovers(tmp_path) == []


def test_commit_log_is_invisible_to_readers(spark, tmp_path):
    """``_commits`` and ``_staging`` (here: a recorded token and a crashed,
    unsealed stage holding a partition of its own) stay out of
    ``spark.read.parquet``, ``partition_file_stats`` and MSCK."""
    src = tmp_path / "in"
    write_fixture_tree(src)
    lake = DicomLake(spark, str(tmp_path / "lake"), str(tmp_path / "quar"), table="commit_log_vis", external=True)
    lake.ingest(str(src))
    n = lake.df().count()
    stats = partition_file_stats(lake.lake_path)

    crashed = os.path.join(lake.lake_path, commit.STAGING, "crashed")
    lake.df().limit(1).withColumn("study_date", F.lit(datetime.date(2030, 1, 1))).write.partitionBy(
        "study_date"
    ).parquet(crashed)
    assert os.path.isdir(os.path.join(crashed, "study_date=2030-01-01"))
    os.makedirs(os.path.join(lake.lake_path, commit.COMMITS), exist_ok=True)
    open(os.path.join(lake.lake_path, commit.COMMITS, "recorded"), "w").close()

    assert partition_file_stats(lake.lake_path) == stats
    direct = spark.read.parquet(lake.lake_path)
    assert direct.count() == n
    assert direct.filter(F.col("study_date") == datetime.date(2030, 1, 1)).count() == 0
    lake.refresh()
    shown = [r[0] for r in spark.sql("SHOW PARTITIONS commit_log_vis").collect()]
    assert sorted(shown) == sorted(stats)
    assert lake.df().count() == n


def _stage_file(staged: str, rel: str) -> None:
    os.makedirs(os.path.dirname(os.path.join(staged, rel)), exist_ok=True)
    open(os.path.join(staged, rel), "w").close()


def test_a_dead_clean_up_is_discarded_not_rolled_forward(tmp_path, monkeypatch):
    """A batch whose clean-up died after it was published (its ``_old``
    half deleted) is discarded by its query's next :func:`commit.stage`,
    never re-run: re-running would retire the new files it moved in.
    Publishing the batch again is a no-op."""
    import shutil

    root = str(tmp_path / "root")
    _stage_file(root, "p=1/old.parquet")
    staged = commit.stage(root, "q-0")
    _stage_file(staged, "p=1/new.parquet")
    monkeypatch.setattr(commit.shutil, "rmtree", lambda *a, **k: None)
    assert commit.publish(staged, replace=["p=1"])
    monkeypatch.undo()
    shutil.rmtree(os.path.join(staged, "_old"))

    commit.stage(root, "q-1")
    assert os.listdir(os.path.join(root, "p=1")) == ["new.parquet"]
    assert os.listdir(os.path.join(root, commit.STAGING)) == []
    _stage_file(staged, "p=1/again.parquet")
    assert not commit.publish(staged, replace=["p=1"])
    assert os.listdir(os.path.join(root, "p=1")) == ["new.parquet"]


def test_recovery_leaves_a_live_writers_stage_alone(tmp_path):
    """A batch of query ``a`` is staged but not yet published when query
    ``b`` stages its batch and a rewrite runs: neither discards ``a``'s
    stage, whose files then land. The rewrite's own stage survives
    ``b``'s recovery inside it too."""
    root = str(tmp_path / "root")
    _stage_file(root, "p=2/old.parquet")
    a = commit.stage(root, "a-0")
    _stage_file(a, "p=1/a.parquet")
    commit.stage(root, "b-0")
    with commit.rewrite(root) as staged:
        _stage_file(staged, "p=2/new.parquet")
        commit.stage(root, "b-1")
        assert commit.publish(staged, replace=["p=2"])
    assert commit.publish(a)
    assert os.listdir(os.path.join(root, "p=1")) == ["a.parquet"]
    assert os.listdir(os.path.join(root, "p=2")) == ["new.parquet"]
    assert os.listdir(os.path.join(root, commit.STAGING)) == []
    assert os.listdir(os.path.join(root, commit.COMMITS)) == ["a-0"]


def test_publish_refuses_a_vanished_stage(tmp_path):
    """A replace whose staged dir is gone raises instead of deleting the
    names it was to replace."""
    root = str(tmp_path / "root")
    _stage_file(root, "p=1/old.parquet")
    with commit.rewrite(root) as staged:
        with pytest.raises(FileNotFoundError):
            commit.publish(staged, replace=["p=1"])
    assert os.listdir(os.path.join(root, "p=1")) == ["old.parquet"]


def test_a_batch_publish_waits_for_a_rewrite(tmp_path):
    """While a rewrite holds the root's commit lock, another thread's
    publish blocks; it lands once the rewrite is done."""
    import threading

    root = str(tmp_path / "root")
    _stage_file(root, "p=1/old.parquet")
    staged = commit.stage(root, "q-0")
    _stage_file(staged, "p=1/appended.parquet")
    batch = threading.Thread(target=commit.publish, args=(staged,))
    with commit.rewrite(root):
        batch.start()
        batch.join(0.5)
        assert batch.is_alive()
        assert os.listdir(os.path.join(root, "p=1")) == ["old.parquet"]
    batch.join(10)
    assert sorted(os.listdir(os.path.join(root, "p=1"))) == ["appended.parquet", "old.parquet"]
