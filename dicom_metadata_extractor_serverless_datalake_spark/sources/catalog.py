"""Catalog surface: database/table DDL, partition discovery, schema
evolution — the Spark-native replacements for the reference's Glue
resources.

Reference mapping:
- Glue database + external Parquet table (deploy/serverless.yml:458-464,
  :509-567) -> ``create_database`` / ``register_external_table`` (CREATE
  TABLE ... USING parquet ... LOCATION, partitioned by study_date);
- post-load ``MSCK REPAIR TABLE dicom_metadata`` (README.md:105, :139)
  -> ``repair_table`` — the identical statement exists in Spark SQL;
- the Glue crawler re-inferring a widened union schema with
  CombineCompatibleSchemas (deploy/serverless.yml:466-479,
  README.md:120-128) -> ``merged_schema_read`` — Spark's
  ``mergeSchema`` option is the built-in equivalent, no crawler needed.

At scale: a catalog table (vs a bare path read) is what enables
partition pruning by name, statistics, and INSERT-based workflows. MSCK
costs one listing of the whole lake, so ingest does not run it: once the
table points at the lake, ``register_partitions`` adds just the
partitions the writer reports with ``ALTER TABLE ADD PARTITION`` (no job,
no listing). MSCK (``repair_table``, ``DicomLake.refresh``) is only for
partitions written by other writers, and runs once when the table is
(re-)created over a lake.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def create_database(spark: SparkSession, name: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def register_external_table(
    spark: SparkSession,
    table: str,
    location: str,
    schema: StructType,
    partition_col: str | None = "study_date",
    database: str | None = None,
) -> str:
    """Declare an external parquet table with ``schema`` over a lake path
    and discover its partitions. Returns the fully-qualified table name.

    The schema is given, not inferred from the files: inference costs a
    job over every lake file and fails on a lake that has none yet (an
    all-quarantined first ingest)."""
    fq = f"{database}.{table}" if database else table
    if database:
        create_database(spark, database)
    spark.sql(f"DROP TABLE IF EXISTS {fq}")
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
    parts = f"PARTITIONED BY ({partition_col}) " if partition_col else ""
    spark.sql(f"CREATE TABLE {fq} ({cols}) USING parquet {parts}LOCATION '{location}'")
    if partition_col:
        repair_table(spark, fq)
    return fq


def register_partitions(
    spark: SparkSession,
    table: str,
    location: str,
    schema: StructType,
    dates: list[datetime.date],
    partition_col: str,
) -> str:
    """Make the partitions ``dates`` of the lake at ``location`` queryable
    through ``table``. When the table already points at ``location``
    only those partitions are added (``ALTER TABLE ADD PARTITION``: no
    job, no listing); otherwise the table is (re-)created over the lake
    and MSCK-repaired. Returns the table name."""
    if _table_location(spark, table) != _qualified(spark, location):
        return register_external_table(spark, table, location, schema, partition_col)
    if dates:
        specs = " ".join(f"PARTITION ({partition_col}='{d.isoformat()}')" for d in dates)
        spark.sql(f"ALTER TABLE {table} ADD IF NOT EXISTS {specs}")
    return table


def _table_location(spark: SparkSession, table: str) -> str | None:
    """The qualified location of catalog table ``table``; None when no
    such table (or only a temp view) exists."""
    if not spark.catalog.tableExists(table):
        return None
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    loc = next((r.data_type for r in rows if r.col_name == "Location"), None)
    return _qualified(spark, loc) if loc else None


def _qualified(spark: SparkSession, path: str) -> str:
    """``path`` qualified by its Hadoop filesystem (scheme, absolute
    path), the form the catalog stores table locations in."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.makeQualified(jpath).toString()


def repair_table(spark: SparkSession, table: str) -> None:
    """Partition discovery — the reference's post-load MSCK step."""
    spark.sql(f"MSCK REPAIR TABLE {table}")


def merged_schema_read(spark: SparkSession, path: str) -> DataFrame:
    """Union-schema read across heterogeneous parquet files — the
    built-in equivalent of the Glue crawler's CombineCompatibleSchemas."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> dict[str, str]:
    """Collect catalog statistics for cost-based optimization: table-
    level row count / size, plus per-column min/max/ndv/null-count
    histograms when ``columns`` is given. With stats present, Catalyst's
    CBO (join reordering, broadcast decisions, AQE estimates) works from
    measured cardinalities instead of raw file sizes — on a 100 TB lake
    the difference between broadcasting a filtered dimension and
    shuffling it. Returns the recorded table stats for inspection.

    (The reference has no statistics story at all — Athena reads Glue
    table properties only if a crawler wrote them.)"""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    if columns:
        cols = ", ".join(columns)
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {cols}")
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    stats = {r.col_name: r.data_type for r in rows if r.col_name == "Statistics"}
    return stats
