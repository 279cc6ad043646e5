"""Right-to-erasure DELETE for a partitioned Parquet lake.

Plain Parquet has no DELETE: compliance erasure (GDPR art. 17 / HIPAA
amendment requests) on the reference's lake means "rewrite the objects
without the rows" — which is exactly what this operator does, bounded
to the partitions that actually contain matches:

1. one partition-pruned scan finds the affected partition values and
   counts the matching rows (driver state is bounded by |partitions|,
   never by rows);
2. the keep-set of ONLY those partitions is rewritten to a staging dir
   inside the lake (one Spark job, partitioned like the lake);
3. the one lake commit (sources/commit.py) swaps each affected
   partition for its rewrite — a reader sees the old file set or the
   new one, and a crash mid-swap rolls forward on the next commit;
   partitions whose rows were all purged are removed outright.

All three steps hold the lake's commit lock, so a ``lake.watch`` batch
waits rather than land rows the scan did not see. Batch ingest does not
take that lock, so do not purge while it writes.

Unaffected partitions are never read past the pruned match scan and
their files are never touched — at 100 TB the cost is proportional to
the data that contains the subject, not to the lake. Spark cannot
express this as a self-overwrite (`mode("overwrite")` on a path being
read raises AnalysisException; dynamic partition overwrite also cannot
drop now-empty partitions), hence the explicit stage-and-swap.

The predicate must be deterministic (it runs twice: once to find
matches, once — null-safely negated — to build the keep-set). Rows
where the predicate evaluates to NULL are NOT matches and are kept:
erasure follows SQL three-valued logic, deleting only proven matches.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..sources import commit


def purge_rows(
    spark: SparkSession,
    lake_path: str,
    predicate: Column,
    partition_col: str = "study_date",
    schema=None,
) -> dict[str, int]:
    """Delete every row matching ``predicate`` from a one-level
    Hive-partitioned Parquet lake. Returns
    ``{rows_purged, rows_kept_in_rewritten, partitions_rewritten,
    partitions_removed}``.
    """
    with commit.rewrite(lake_path) as staged:  # first: recovery may swap partitions in
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(lake_path)

        # a row is purged only when the predicate is TRUE; a NULL-evaluating
        # row (three-valued logic: e.g. a null column inside an equality)
        # is NOT a match and MUST be kept — a bare ~predicate would silently
        # delete it
        hit = F.coalesce(predicate, F.lit(False))

        # 1. bounded driver state: ONE job yields the affected partition
        # values AND the exact match count per partition
        per_part = (
            df.filter(hit).groupBy(partition_col).agg(F.count("*").alias("n")).collect()
        )
        if not per_part:
            return {
                "rows_purged": 0,
                "rows_kept_in_rewritten": 0,
                "partitions_rewritten": 0,
                "partitions_removed": 0,
            }
        affected = [r[0] for r in per_part]
        n_purged = sum(r["n"] for r in per_part)
        non_null = [v for v in affected if v is not None]
        in_affected = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
        if any(v is None for v in affected):
            # a NULL partition value lives in __HIVE_DEFAULT_PARTITION__;
            # isin() would never select it (NULL semantics again)
            in_affected = in_affected | F.col(partition_col).isNull()
        kept = df.filter(in_affected).filter(~hit)

        # 2. stage the keep-set of the affected partitions only
        kept.write.partitionBy(partition_col).parquet(staged)
        # footer-only count off the staged files — no re-evaluation of the
        # predicate, and the number reported is what was actually written
        # (explicit schema: a fully-purged keep-set leaves an empty dir)
        n_kept = spark.read.schema(df.schema).parquet(staged).count()

        # 3. swap the affected partitions in; emptied partitions disappear
        escaping = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        parts = [
            escaping.getPartitionPathString(partition_col, None if v is None else str(v))
            for v in affected
        ]
        rewritten = sum(os.path.isdir(os.path.join(staged, p)) for p in parts)
        commit.publish(staged, replace=parts)

    return {
        "rows_purged": n_purged,
        "rows_kept_in_rewritten": n_kept,
        "partitions_rewritten": rewritten,
        "partitions_removed": len(parts) - rewritten,
    }


def purge_unpartitioned(
    spark: SparkSession,
    path: str,
    predicate: Column,
    schema=None,
) -> dict[str, int]:
    """Erasure for an unpartitioned Parquet directory (the quarantine
    channel — failed objects carry source keys and parse-error text
    that can embed subject identifiers, so right-to-erasure must reach
    the DLQ too). Full rewrite, swapped in by the one lake commit
    (sources/commit.py): the quarantine holds failures only, so "full"
    is small by construction; a lake-sized frame should be partitioned
    and use :func:`purge_rows` instead."""
    with commit.rewrite(path) as staged:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.parquet(path)
        hit = F.coalesce(predicate, F.lit(False))  # NULL-evaluating rows are kept
        n_purged = df.filter(hit).count()
        if n_purged == 0:
            return {"rows_purged": 0, "rows_kept": df.count()}
        kept = df.filter(~hit)
        n_kept = kept.count()
        kept.write.parquet(staged)
        commit.publish(staged, replace=commit.names(path, "_"))
    return {"rows_purged": n_purged, "rows_kept": n_kept}
