"""Bucketed tables: pre-shuffled storage for co-located joins.

The one fact-fact shuffle this workload cannot broadcast away is
lineitem ⋈ orders on orderkey (SURVEY §2.B joins row). At 100 TB that
shuffle moves the whole fact table across the network *per query*.
Bucketing amortizes it into the write: both tables hash-distributed
into the same number of buckets on the join key at load time, after
which every equi-join/groupBy on that key is exchange-free — Spark
reads bucket i of both sides into the same task.

A dataset dir declares table ``name`` bucketed with a
``{name}.bucketed.json`` marker next to the data (the lakehouse pattern
of Hive/Iceberg bucket specs); this module alone writes and reads it.

Costs: a one-time sort at write; bucket count is fixed at write time
(choose for target-cluster parallelism — at 100 TB with ~1000 executors,
4096 buckets keeps ~25 GB/bucket); small-file pressure when many
writers append (mitigate by writing with repartition(bucket_count, key)
first so each task owns whole buckets).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def _marker(data_dir: str, name: str) -> str:
    return os.path.join(data_dir, f"{name}.bucketed.json")


def bucketed_layout(data_dir: str, name: str) -> dict | None:
    """The bucket spec ``data_dir`` declares for table ``name``, or
    None when the dir declares none."""
    try:
        with open(_marker(data_dir, name)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None


def write_bucketed_layout(
    df: DataFrame, data_dir: str, name: str, bucket_col: str, n_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Write ``df`` as table ``name``'s layout in ``data_dir``: parquet
    files under ``{name}.bucketed/``, bucketed on ``bucket_col`` and
    sorted on ``sort_cols``, then the marker, which is removed first so
    it never points at half-written files. A scan reports the sort order
    only with one file per bucket: pass ``df.repartition(n_buckets,
    bucket_col)`` when a query relies on it."""
    import hashlib

    sort_cols = tuple(sort_cols or (bucket_col,))
    loc = os.path.abspath(os.path.join(data_dir, f"{name}.bucketed"))
    marker = _marker(data_dir, name)
    os.makedirs(data_dir, exist_ok=True)
    if os.path.exists(marker):
        os.remove(marker)
    # Spark writes bucket files only through a catalog table; the one
    # used here is external (its own path), so dropping it keeps them
    spark = df.sparkSession
    tmp = "bucketed_write_" + hashlib.md5(loc.encode()).hexdigest()[:12]
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    try:
        df.write.bucketBy(n_buckets, bucket_col).sortBy(*sort_cols).option("path", loc).mode(
            "overwrite"
        ).format("parquet").saveAsTable(tmp)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    with open(marker, "w") as fh:
        json.dump({
            "location": loc, "bucket_col": bucket_col, "sort_col": ", ".join(sort_cols),
            "num_buckets": n_buckets, "schema_ddl": df.schema.toDDL(),
        }, fh)


def write_range_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_partitions: int | None = None,
) -> None:
    """Write parquet globally range-partitioned and sorted on ``sort_col``
    — the sorted-lake layout. Each file owns a disjoint key range and is
    internally sorted, so parquet row-group min/max stats turn range
    predicates into file- and row-group-level skips (the storage-side
    complement of predicate pushdown). Range partitioning samples the
    key distribution, so output files are even under skew."""
    out = df.repartitionByRange(
        *( [n_partitions, sort_col] if n_partitions else [sort_col] )
    ).sortWithinPartitions(sort_col)
    out.write.mode("overwrite").parquet(path)
