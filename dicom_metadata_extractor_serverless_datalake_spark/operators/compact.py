"""Lake maintenance: small-files compaction for partitioned Parquet.

Streaming ingest (streaming/ingest_stream.py) writes a few files per
micro-batch per partition; after days of running, a partition holds
thousands of KB-sized files and scan task-scheduling overhead dominates
(the classic small-files problem — the reference had it too: one Lambda
invocation wrote one Parquet object per input file, README.md:103).

``compact_lake`` rewrites every partition that holds at least
``min_files`` files into at most ceil(bytes / target_file_bytes) files,
in one Spark job: each partition is scanned on its own and coalesced to
its file budget, and the union of those scans is written partitioned
like the lake, so every write task holds rows of one partition and
writes one file. No shuffle runs, and only partitions past the threshold
are read, so steady-state cost tracks ingest rate, not lake size. The
rewrite is staged and swapped in by the one lake commit
(sources/commit.py), under the lake's commit lock from the scan to the
swap: a reader sees each partition's old file set or its new one, a
``lake.watch`` batch waits instead of landing between scan and swap,
and a crash mid-swap rolls forward on the next commit. Batch ingest
does not take that lock, so do not compact while it writes.
"""

from __future__ import annotations

import glob
import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources import commit


def partition_file_stats(lake_path: str) -> dict[str, tuple[int, int]]:
    """partition dir name -> (n_files, total_bytes) for a one-level
    Hive-partitioned lake."""
    out: dict[str, tuple[int, int]] = {}
    for entry in sorted(os.listdir(lake_path)):
        pdir = os.path.join(lake_path, entry)
        if not (os.path.isdir(pdir) and "=" in entry):
            continue
        files = [
            f for f in os.listdir(pdir)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        total = sum(os.path.getsize(os.path.join(pdir, f)) for f in files)
        out[entry] = (len(files), total)
    return out


def _file_schema(pdir: str) -> T.StructType:
    """The Spark schema a data file of ``pdir`` was written with, from
    its footer. Spark's own inference also reads one footer, but in a
    Spark job of its own; reading it here keeps compaction one job."""
    import pyarrow.parquet as pq

    path = sorted(glob.glob(os.path.join(pdir, "[!._]*.parquet")))[0]
    meta = pq.read_schema(path).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
    return T.StructType.fromJson(json.loads(meta))


def compact_lake(
    spark: SparkSession,
    lake_path: str,
    target_file_bytes: int = 128 << 20,
    min_files: int = 8,
) -> dict[str, int]:
    """Compact every partition holding at least ``min_files`` files.
    Returns partition -> new file count for the partitions touched."""
    with commit.rewrite(lake_path) as staged:  # first: recovery may swap partitions in
        budget = {
            part: max(1, -(-total // target_file_bytes))  # ceil
            for part, (n_files, total) in partition_file_stats(lake_path).items()
            if n_files >= min_files
        }
        if not budget:
            return {}
        col = next(iter(budget)).split("=", 1)[0]
        schema = _file_schema(os.path.join(lake_path, next(iter(budget))))
        # the partition value rides as the dir's own (unescaped) text, so the
        # writer recreates each dir name exactly, whatever type Spark would infer
        escaping = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        scans = []
        for part, n_out in budget.items():
            leaf = part.split("=", 1)[1]
            value = (
                None if leaf == "__HIVE_DEFAULT_PARTITION__" else escaping.unescapePathName(leaf)
            )
            scans.append(
                spark.read.schema(schema)
                .parquet(os.path.join(lake_path, part))
                .coalesce(n_out)
                .withColumn(col, F.lit(value).cast("string"))
            )
        reduce(DataFrame.unionByName, scans).write.partitionBy(col).parquet(staged)
        commit.publish(staged, replace=budget)
    stats = partition_file_stats(lake_path)
    return {part: stats.get(part, (0, 0))[0] for part in budget}
