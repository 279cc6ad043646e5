"""First-class DICOM data source: ``spark.read.format("dicom")``.

The Spark-4 Python DataSource API lets the DICOM extraction pipeline
(ingest/extract.py — the reference's whole per-object lifecycle,
src/app.py:97-189) surface as a native source with its own partition
planning, instead of a hand-rolled listing + mapInPandas:

    register_dicom_source(spark)
    df = spark.read.format("dicom").load("/incoming")
    df.filter("error IS NULL").groupBy("modality").count()

Planning: the driver lists (path, size) with ``sources.binary.walk_objects``
and packs files with ``sources.binary.plan_packs`` into byte-balanced input
partitions, at least one per core and one per ``TARGET_PARTITION_BYTES``
(128 MB) — the small-object answer at 100 TB scale: past the core count,
task count tracks bytes, not object count.
Reading happens executor-side per partition through
``ingest.extract.read_extract``, so the ranged .dcm cap applies at open
time and pixel bytes beyond the first 10 MB are never read (the
reference's biggest I/O optimization, src/s3wrapper.py:55-59).

The schema is the fixed INGEST_SCHEMA (canonical columns + extra_tags
map + error channel), so quarantine routing works directly on the
loaded frame.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from ..schema import INGEST_SCHEMA
from .binary import plan_packs, walk_objects


class _FilePack(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


def _read_pack(partition: _FilePack):
    from ..ingest.extract import read_extract

    cols = [f.name for f in INGEST_SCHEMA.fields]
    for row in read_extract(partition.paths):
        yield tuple(row[c] for c in cols)


def _path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("format('dicom') requires .load(path)")
    return path


class DicomDataSource(DataSource):
    """Batch and stream reader for DICOM objects (bare or inside archives).

    ``parallelism`` is the driver's default parallelism; the planners run
    in a Python worker without a SparkContext, so
    :func:`register_dicom_source` bakes it into the class it registers."""

    parallelism = 1

    @classmethod
    def name(cls) -> str:
        return "dicom"

    def schema(self):
        return INGEST_SCHEMA

    def reader(self, schema) -> "DicomReader":
        return DicomReader(_path(self.options), self.parallelism)

    def streamReader(self, schema) -> "DicomStreamReader":
        return DicomStreamReader(_path(self.options), self.parallelism)


class DicomReader(DataSourceReader):
    def __init__(self, path: str, parallelism: int):
        self.path = path
        self.parallelism = parallelism

    def partitions(self) -> list[_FilePack]:
        return [_FilePack(p) for p in plan_packs(walk_objects(self.path), self.parallelism)]

    def read(self, partition: _FilePack):
        return _read_pack(partition)


def register_dicom_source(spark) -> None:
    """Idempotently register ``format("dicom")`` on this session. The
    class registered is a subclass made here, so it is pickled by value
    and its ``parallelism`` reaches the planner workers."""
    parallelism = spark.sparkContext.defaultParallelism
    spark.dataSource.register(
        type("DicomDataSource", (DicomDataSource,), {"parallelism": parallelism})
    )


# --------------------------------------------------------------------------
# Streaming variant: readStream.format("dicom") — the S3-event pattern
# without binaryFile's gaps. Spark's binaryFile stream silently skips
# zero-byte objects, losing the reference's DLQ contract for empty
# DICOMDIR (README.md:116); this reader lists with os.stat so empty
# objects flow through extraction and land in quarantine.
#
# Offsets: a (mtime_ns, path)-watermark — JSON dict {"mtime": int,
# "tail": [names at that mtime]}. Files are discovered when their mtime
# advances past the watermark (ties broken by the tail set), so the
# offset stays O(files-at-max-mtime), not O(all files seen). Assumes
# arrival mtime is monotone per object store listing — the same
# assumption Spark's own file source makes before compaction. Reading
# is partition-based (executor-side), packed by bytes like the batch
# reader.
# --------------------------------------------------------------------------


class DicomStreamReader(DataSourceStreamReader):
    def __init__(self, path: str, parallelism: int):
        self.path = path
        self.parallelism = parallelism

    def initialOffset(self) -> dict:
        return {"mtime": -1, "tail": ""}

    def latestOffset(self) -> dict:
        entries = walk_objects(self.path)
        if not entries:
            return {"mtime": -1, "tail": ""}
        mx = max(e[2] for e in entries)
        tail = sorted(p for p, _s, m in entries if m == mx)
        return {"mtime": mx, "tail": "\x00".join(tail)}

    def _new_files(self, start: dict, end: dict) -> list[tuple[str, int, int]]:
        s_m, s_tail = start["mtime"], set(filter(None, start["tail"].split("\x00")))
        e_m, e_tail = end["mtime"], set(filter(None, end["tail"].split("\x00")))
        out = []
        for path, size, m in walk_objects(self.path):
            if m > e_m or (m == e_m and path not in e_tail):
                continue  # after the end offset
            if m < s_m or (m == s_m and path in s_tail):
                continue  # already delivered
            out.append((path, size, m))
        return out

    def partitions(self, start: dict, end: dict) -> list[_FilePack]:
        entries = self._new_files(start, end)
        return [_FilePack(p) for p in plan_packs(entries, self.parallelism)]

    def read(self, partition: _FilePack):
        return _read_pack(partition)

    def commit(self, end: dict) -> None:
        pass  # offsets are recomputable from the listing; nothing to clean
