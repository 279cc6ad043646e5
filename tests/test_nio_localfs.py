"""The file:// FileSystem that sets permissions through java.nio
(``jvm/NioLocalFileSystem.java``): a lake write and a streaming drain
(whose checkpoints go through FileContext) fork no ``chmod``, a lake write
keeps Hadoop's modes and ``.crc`` checksums, and the committed jar was
built from the committed source."""

import hashlib
import json
import os
import subprocess
import sys
import zipfile

from dicom_metadata_extractor_serverless_datalake_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "dicom_metadata_extractor_serverless_datalake_spark", "jvm")


def test_jar_manifest_pins_the_committed_source():
    """The jar's manifest carries the SHA-256 of the source it was built
    from; a source edit without a rebuild (the command is in the source
    header) fails here."""
    with open(os.path.join(JVM_DIR, "NioLocalFileSystem.java"), "rb") as fh:
        want = hashlib.sha256(fh.read()).hexdigest()
    with zipfile.ZipFile(session._NIO_FS_JAR) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
        names = set(jar.namelist())
    # manifest lines wrap at 72 bytes; a continuation starts with a space
    fields = dict(
        line.split(": ", 1)
        for line in manifest.replace("\r\n", "\n").replace("\n ", "").splitlines()
        if line
    )
    assert fields["Source-SHA256"] == want
    cls = session._NIO_FS_CLASS.replace(".", "/")
    assert {f"{cls}{inner}.class" for inner in ("", "$Raw", "$Fs", "$RawFs")} <= names


_WRITE_PROBE = r"""
import json, os, pathlib, stat, sys
sys.path.insert(0, {repo!r})
sys.path.insert(0, os.path.join({repo!r}, "tests"))
from fixtures import write_fixture_tree
from dicom_metadata_extractor_serverless_datalake_spark.ingest.pipeline import (
    extract_objects, write_split)
from dicom_metadata_extractor_serverless_datalake_spark.api import DicomLake
from dicom_metadata_extractor_serverless_datalake_spark.queries.streams import q99
from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark

os.umask(0o077)  # Hadoop's own umask (022) sets the modes, not this one
spark = get_spark(app_name="nio-fs", master="local[2]", shuffle_partitions=2,
                  extra_conf={{"spark.driver.extraClassPath": "/nonexistent-cp"}})
jvm = spark._jvm
conf = spark._jsc.hadoopConfiguration()
fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI.create("file:///"), conf)
afs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
    jvm.java.net.URI.create("file:///"), conf).getDefaultFileSystem()

src, lake, quar = (os.path.abspath(d) for d in ("src", "lake", "quarantine"))
write_fixture_tree(pathlib.Path(src))
extracted = extract_objects(spark, src)
spark.range(1).count()  # session warm-up outside the counted window


def chmods():
    log = os.environ["CHMOD_LOG"]
    return open(log).read().count("\n") if os.path.exists(log) else 0


before = chmods()
lake_rows, bad, dates = write_split(extracted, lake, quar)
forks = chmods() - before

modes, missing_crc = {{}}, []
for root in (lake, quar):
    for d, dirs, files in os.walk(root):
        modes[os.path.relpath(d)] = oct(stat.S_IMODE(os.stat(d).st_mode))
        for f in files:
            modes[os.path.relpath(os.path.join(d, f))] = oct(
                stat.S_IMODE(os.stat(os.path.join(d, f)).st_mode))
            if not f.endswith(".crc") and f".{{f}}.crc" not in files:
                missing_crc.append(f)


# a read through the checksummed FileSystem verifies each .crc
part = next(os.path.join(d, f) for d, _, names in os.walk(lake) for f in names
            if f.startswith("part-"))
out = jvm.java.io.ByteArrayOutputStream()
jvm.org.apache.hadoop.io.IOUtils.copyBytes(
    fs.open(jvm.org.apache.hadoop.fs.Path(part)), out, 4096, True)

# streaming drains write offsets, commits and state through FileContext
before = chmods()
q99_rows = q99(spark, {sf_dir!r}).count()
q99_forks = chmods() - before
before = chmods()
watch = DicomLake(spark, os.path.abspath("wlake"), quarantine_path=os.path.abspath("wquar"))
watch.watch(src, os.path.abspath("ckpt"), available_now=True).awaitTermination(300)
watch_forks = chmods() - before

print(json.dumps({{
    "fs_class": fs.getClass().getName(),
    "raw_class": fs.getRawFileSystem().getClass().getName(),
    "afs_class": afs.getClass().getName(),
    "q99_rows": q99_rows, "q99_forks": q99_forks,
    "watch_rows": spark.read.parquet("wlake").count(), "watch_forks": watch_forks,
    "classpath": spark.sparkContext.getConf().get("spark.driver.extraClassPath"),
    "forks": forks, "lake_rows": lake_rows, "bad": bad, "dates": [str(d) for d in dates],
    "modes": modes, "missing_crc": missing_crc,
    "read_back": out.size() == os.path.getsize(part),
}}))
spark.stop()
"""


def test_lake_write_forks_no_chmod(tmp_path, sf_dir):
    """A session started with a logging ``chmod`` shim first on PATH
    writes a fixture drop through ``write_split``: no ``chmod`` process
    runs, dirs are 0755 and files 0644 (Hadoop's modes, under a process
    umask of 077), every file has its ``.crc`` sibling and a part file
    reads back through the checksummed FileSystem. Hadoop's own file:// class
    forks one ``chmod`` per file, ``.crc`` file and directory. Then q99's
    streaming drain and a ``DicomLake.watch(available_now=True)`` drain of
    the same tree fork no ``chmod`` either: their checkpoints go through
    FileContext, whose Hadoop default (``LocalFs``) forked 58 and 9."""
    shim_dir = tmp_path / "bin"
    shim_dir.mkdir()
    log = tmp_path / "chmod.log"
    shim = shim_dir / "chmod"
    shim.write_text(f'#!/bin/sh\necho "$*" >> {log}\nexec /bin/chmod "$@"\n')
    shim.chmod(0o755)
    env = dict(
        os.environ,
        PATH=f"{shim_dir}{os.pathsep}{os.environ.get('PATH', '')}",
        CHMOD_LOG=str(log),
        SPARK_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _WRITE_PROBE.format(repo=REPO, sf_dir=sf_dir)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["fs_class"] == session._NIO_FS_CLASS
    assert res["raw_class"] == session._NIO_FS_CLASS + "$Raw"
    assert res["afs_class"] == session._NIO_AFS_CLASS
    assert res["classpath"] == f"/nonexistent-cp{os.pathsep}{session._NIO_FS_JAR}"
    assert (res["lake_rows"], res["bad"]) == (10, 1)
    assert res["forks"] == 0
    dirs = {p: m for p, m in res["modes"].items() if (tmp_path / p).is_dir()}
    files = {p: m for p, m in res["modes"].items() if p not in dirs}
    assert {"lake", "quarantine", *(f"lake/study_date={d}" for d in res["dates"])} <= dirs.keys()
    assert set(dirs.values()) == {"0o755"}, dirs
    assert set(files.values()) == {"0o644"}, files
    assert res["missing_crc"] == []
    assert res["read_back"]
    assert res["q99_rows"] > 0 and res["q99_forks"] == 0
    assert (res["watch_rows"], res["watch_forks"]) == (10, 0)
