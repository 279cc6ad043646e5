"""The Python-worker zip guard (``pyworker.install_zip_guard``): an
unchanged archive is not re-read by ``importlib.invalidate_caches()``,
a changed or deleted one behaves exactly as without the guard, and a
package task in a reused Spark worker re-reads no zip directory."""

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

from dicom_metadata_extractor_serverless_datalake_spark import pyworker

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def zip_archive(tmp_path, monkeypatch):
    """A temp zip on ``sys.path`` holding module ``a`` (imported, so its
    zipimporter is live) and module ``b`` (not imported). Yields
    (archive, a, b, reads, guard): ``reads`` lists every archive
    ``zipimport`` reads a directory of from now on, and ``guard()``
    installs the zip guard for this test only."""
    archive = str(tmp_path / "mods.zip")
    tag = uuid.uuid4().hex
    a, b = f"zg_a_{tag}", f"zg_b_{tag}"
    _write_zip(archive, [a])
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    importlib.import_module(a)

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(pyworker, "_LAST_READ", {})

    def guard():
        pyworker.install_zip_guard()
        reads.clear()

    yield archive, a, b, reads, guard
    for name in (a, b):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_archive):
    archive, a, _b, reads, guard = zip_archive
    guard()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0
    assert importlib.import_module(a).NAME == a


def test_rewritten_archive_is_reread(zip_archive):
    archive, a, b, reads, guard = zip_archive
    guard()
    ino = os.stat(archive).st_ino
    _write_zip(archive, [a, b])  # in place: same inode, new size
    assert os.stat(archive).st_ino == ino
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(b).NAME == b


@pytest.mark.parametrize("guarded", [False, True])
def test_deleted_archive_behaves_as_without_guard(zip_archive, guarded):
    archive, a, b, _reads, guard = zip_archive
    if guarded:
        guard()
    importer = sys.path_importer_cache[archive]
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    assert importlib.util.find_spec(b) is None
    _write_zip(archive, [a, b])  # the archive comes back, with b
    importlib.invalidate_caches()
    assert importlib.util.find_spec(b) is not None


_WORKER_PROBE = r"""
import json, os, sys, zipimport
sys.path.insert(0, {repo!r})
stock = zipimport.zipimporter.invalidate_caches
import dicom_metadata_extractor_serverless_datalake_spark  # noqa: F401
from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark

spark = get_spark(app_name="zip-guard", master="local[1]", shuffle_partitions=1)


def probe(rows):
    # the first task in a worker starts counting zip directory reads;
    # later tasks return (and reset) the reads their set-up made. The
    # input is drained: a worker that leaves input unread is not reused.
    list(rows)
    import os, zipimport
    import dicom_metadata_extractor_serverless_datalake_spark  # noqa: F401
    reads = getattr(zipimport, "_probe_reads", None)
    if reads is None:
        read_directory = zipimport._read_directory
        reads = zipimport._probe_reads = []

        def counted(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counted
        return [(os.getpid(), None)]
    out = list(reads)
    reads.clear()
    return [(os.getpid(), out)]


rdd = spark.sparkContext.parallelize([0], 1)
tasks = [rdd.mapPartitions(probe).collect()[0] for _ in range(2)]
print(json.dumps({{
    "tasks": tasks,
    "driver_stock": zipimport.zipimporter.invalidate_caches is stock,
}}))
spark.stop()
"""


def test_reused_worker_rereads_no_zip_directory(tmp_path):
    """local[1], two one-task jobs: the second task runs in the same
    reused worker as the first and its set-up re-reads no zip archive
    (the package zip is shipped by addPyFile, so cwd is outside the
    repo). The driver keeps the stock ``invalidate_caches``."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE.format(repo=REPO)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    (pid1, first), (pid2, second) = res["tasks"]
    assert first is None
    assert pid2 == pid1, "second task did not reuse the worker"
    assert second == []
    assert res["driver_stock"] is True
