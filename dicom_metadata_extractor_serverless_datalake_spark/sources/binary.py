"""The one read path for DICOM objects: a listing walker, a packer and a
ranged read.

Batch ingest (ingest/pipeline.py), ``format("dicom")`` and its stream
reader (sources/dicom_source.py) all list objects with
:func:`walk_objects`, split them into read tasks with :func:`plan_packs`
and read them with :func:`read_object`.

Why not just ``spark.read.format("binaryFile")``:
1. it silently skips zero-byte objects, but the reference's contract
   routes them to the DLQ (the empty DICOMDIR case, README.md:116);
2. it always ships the whole object, while the reference's single
   biggest I/O optimization is a ranged GET of only the first 10 MB of
   .dcm objects — metadata precedes pixel data (src/s3wrapper.py:53-63,
   rationale src/app.py:117);
3. at 100 TB / millions of small objects, one-file-per-task is task-
   scheduling death; here each task reads a *pack* of objects, so task
   count is governed by ``TARGET_PARTITION_BYTES`` not object count.

The driver only lists (path, size) — bytes are read executor-side inside
the extraction stage, so the scan parallelizes and the ranged cap is
applied before any bytes cross a process boundary.
"""

from __future__ import annotations

import heapq
import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..ingest.archives import IGNORED_EXTS, TAR_EXTS, ZIP_EXTS, eval_ext

# reference caps .dcm GETs at bytes=0-10000000 (src/s3wrapper.py:55-59)
DCM_RANGED_READ_BYTES = 10_000_001
# input bytes one read task owns
TARGET_PARTITION_BYTES = 128 << 20

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("size", T.LongType(), False),
    ]
)


def _local_path(input_path: str) -> str:
    parsed = urlparse(input_path)
    if parsed.scheme in ("", "file"):
        return parsed.path or input_path
    raise ValueError(
        f"listing scheme {parsed.scheme!r} needs an object-store lister "
        "(boto3 paginator for s3://) — not available in this environment"
    )


def _stat(path: str) -> tuple[int, int]:
    """(size, mtime_ns) of one object. An object that cannot be stat'ed
    (a dangling symlink, or one gone since the walk) is listed with size
    0, so its read fails in the worker and lands in the quarantine."""
    try:
        st = os.stat(path)
        return st.st_size, st.st_mtime_ns
    except OSError:
        try:
            return 0, os.lstat(path).st_mtime_ns
        except OSError:
            return 0, 0


def walk_objects(input_path: str) -> list[tuple[str, int, int]]:
    """Every object under ``input_path`` (or the object itself) as
    ``(path, size, mtime_ns)``, sorted by path. Zero-byte and unreadable
    objects are included (unlike the binaryFile source)."""
    root = _local_path(input_path)
    if os.path.isfile(root):
        paths = [root]
    else:
        paths = [os.path.join(d, name) for d, _dirs, files in os.walk(root) for name in files]
    return [(path, *_stat(path)) for path in sorted(paths)]


def pack_objects(entries: list[tuple], n: int) -> list[list[str]]:
    """Split ``(path, size, ...)`` entries into ``max(1, min(n, len(entries)))``
    byte-balanced packs of paths: largest object first, each into the
    lightest pack (LPT; a heap keeps it O(N log n)). Objects of equal size
    go in path order, and of equally light packs the one with fewer
    objects wins, so zero-byte objects spread too and the result is the
    same call to call. No pack is empty unless ``entries`` is."""
    n = max(1, min(n, len(entries)))
    packs: list[list[str]] = [[] for _ in range(n)]
    heap = [(0, 0, i) for i in range(n)]
    for path, size, *_ in sorted(entries, key=lambda e: (-e[1], e[0])):
        total, count, i = heap[0]
        packs[i].append(path)
        heapq.heapreplace(heap, (total + size, count + 1, i))
    return packs


def plan_packs(entries: list[tuple], parallelism: int) -> list[list[str]]:
    """The packing rule of every planner (batch ingest, ``format("dicom")``
    and its stream reader): at least one pack per core of the cluster
    (``parallelism``, the driver's default parallelism) and one per
    ``TARGET_PARTITION_BYTES`` of input."""
    n = max(parallelism, sum(e[1] for e in entries) // TARGET_PARTITION_BYTES)
    return pack_objects(entries, n)


def read_object(path: str) -> bytes | None:
    """The bytes ingest parses from one object: None for ignored
    extensions, the whole object for archives (members can sit anywhere
    in the file), else at most ``DCM_RANGED_READ_BYTES`` (the .dcm
    ranged-GET analogue)."""
    ext = eval_ext(path)
    if ext in IGNORED_EXTS:
        return None
    with open(path, "rb") as fh:
        return fh.read() if ext in ZIP_EXTS | TAR_EXTS else fh.read(DCM_RANGED_READ_BYTES)


def list_binary_objects(spark: SparkSession, input_path: str) -> DataFrame:
    """The objects under ``input_path`` as a (path, size) DataFrame.

    A listing view for inspecting a drop, not the ingest planner: ingest
    packs the listing on the driver (``ingest.pipeline.extract_objects``)."""
    entries = [(path, size) for path, size, _mtime in walk_objects(input_path)]
    return spark.createDataFrame(entries, LISTING_SCHEMA)
