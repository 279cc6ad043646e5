"""Spark ingest job: driver-packed object lists -> mapInPandas ranged
read + extraction -> partitioned Parquet lake + quarantine sink.

This is the reference's whole serverless pipeline (S3 event -> Lambda ->
pydicom -> awswrangler Parquet, SURVEY §3.1) as one declarative Spark
job. The Lambda/Batch 500 MB size router (src/app.py:118-184) dissolves:
task scheduling handles all object sizes.

Scale notes (100 TB target):
- the driver only lists and packs paths (``sources.binary.walk_objects``
  and ``pack_objects``): task *i* of a ``spark.range`` reads pack *i*, so
  each task amortizes its overhead over many small objects, and no
  listing DataFrame, listing shuffle or second Python worker pool runs.
  The pack lists travel in the UDF closure, which PySpark broadcasts once
  it passes 1 MB.
- read + extraction is one Arrow-batched mapInPandas pass
  (``ingest.extract.read_extract``, not a per-row Python UDF). Its fixed
  cost per task was Python-worker set-up, not parsing: on CPython 3.11
  every task re-read the central directory of each zip on the worker's
  path (``pyspark.zip`` under 12 importers, a Spark jar, the shipped
  package), ~250 ms a task. ``pyworker.install_zip_guard`` (installed
  by the package ``__init__`` in each worker) re-reads only a changed
  archive, so from a worker's second task on the pass costs ~0.15 s a
  drop instead of ~0.4 s on 4 cores.
- :func:`write_split` is the one lake/quarantine writer, shared with the
  streaming sink (streaming/ingest_stream.py). The lake is
  Hive-partitioned on study_date so Catalyst prunes partitions on the
  query side. The extraction is shuffled once, by the partition column,
  and persisted: each study_date is written from one task (no
  small-files explosion of per-task-per-partition writers), and the lake
  write's Observation yields the row and error counts and the written
  dates, so no separate count job runs.
- ``run_ingest(external=True)`` registers only the partitions the
  writer reports; the table is created (and MSCK-repaired) only when it
  is missing or points at another location.
"""

from __future__ import annotations

import datetime
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import DICOM_METADATA_SCHEMA, INGEST_SCHEMA, PARTITION_COL
from .extract import read_extract


def extract_objects(spark: SparkSession, input_path: str) -> DataFrame:
    """Every object under ``input_path`` -> canonical metadata rows,
    reading AND extracting in one Python pass.

    This is the batch-ingest hot path. The driver walks the input and
    packs the paths into byte-balanced packs, at least one per core and
    one per ``TARGET_PARTITION_BYTES``; task *i* of a ``spark.range``
    opens and parses pack *i*, so only the (small) metadata rows cross
    back to the JVM. Per-object I/O (and the 10 MB ranged .dcm cap) lives
    worker-side, exactly where it belongs on a real cluster doing ranged
    object-store GETs."""
    from ..sources.binary import plan_packs, walk_objects

    packs = plan_packs(walk_objects(input_path), spark.sparkContext.defaultParallelism)
    cols = [f.name for f in INGEST_SCHEMA.fields]

    def _read_extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                rows = list(read_extract(packs[i]))
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    tasks = spark.range(0, len(packs), 1, numPartitions=len(packs))
    return tasks.mapInPandas(_read_extract, schema=INGEST_SCHEMA)


def write_split(
    extracted: DataFrame, lake_path: str, quarantine_path: str | None
) -> tuple[int, int, list[datetime.date]]:
    """Append extracted rows without an error to the study_date-partitioned
    lake, and rows with one to the quarantine (when given). Returns
    (lake_rows, quarantined_rows, written study_dates).

    The extraction is shuffled once by study_date and persisted; the lake
    write materializes it through an Observation that counts rows and
    errors and collects the written dates, and the quarantine write reads
    it back only when there are errors. Quarantine rows all carry the
    1979-01-01 default date, so they sit in one shuffle partition."""
    by_date = extracted.repartition(PARTITION_COL).persist()
    try:
        ok = F.col("error").isNull()
        seen = Observation()
        (
            by_date.observe(
                seen,
                F.count("*").alias("rows"),
                F.count("error").alias("errors"),
                F.collect_set(F.when(ok, F.col(PARTITION_COL))).alias("dates"),
            )
            .filter(ok)
            .drop("error", "error_log")
            .write.mode("append")
            .partitionBy(PARTITION_COL)
            .parquet(lake_path)
        )
        got = seen.get
        n_bad = int(got["errors"])
        if quarantine_path and n_bad:
            by_date.filter(~ok).write.mode("append").parquet(quarantine_path)
    finally:
        by_date.unpersist()
    return int(got["rows"]) - n_bad, n_bad, sorted(got["dates"])


def ingest_batch(
    spark: SparkSession,
    input_path: str,
    lake_path: str,
    quarantine_path: str | None = None,
) -> tuple[int, int]:
    """Batch-ingest every object under input_path.

    Returns (lake_rows, quarantined_rows). Equivalent of replaying all S3
    ObjectCreated events (deploy/serverless.yml:195-200) through the
    reference pipeline in one job: it honors the reference's 10 MB ranged
    .dcm read, quarantines zero-byte objects (the empty DICOMDIR DLQ
    contract), and packs many small objects per task."""
    return write_split(extract_objects(spark, input_path), lake_path, quarantine_path)[:2]


def run_ingest(
    spark: SparkSession,
    input_path: str,
    lake_path: str,
    quarantine_path: str | None = None,
    table: str | None = None,
    external: bool = False,
) -> DataFrame:
    """Ingest then register/refresh the lake as a catalog table, returning
    the queryable DataFrame (the Glue-table + MSCK step,
    deploy/serverless.yml:509-567 / README.md:105).

    ``external=True`` registers a persistent partitioned external table
    (partition pruning, the full Glue-table analogue) and adds the
    partitions this ingest wrote to it; the table is created and
    MSCK-repaired only when it is missing or points at another location.
    The default is a session-scoped temp view."""
    _, _, dates = write_split(extract_objects(spark, input_path), lake_path, quarantine_path)
    if table and external:
        from ..sources.catalog import register_partitions

        fq = register_partitions(
            spark, table, lake_path, DICOM_METADATA_SCHEMA, dates, PARTITION_COL
        )
        return spark.table(fq)
    # explicit schema: an all-quarantined ingest leaves the lake without
    # data files, which would otherwise fail schema inference; it also
    # pins column types independent of what any one partition contains
    df = spark.read.schema(DICOM_METADATA_SCHEMA).parquet(lake_path)
    if table:
        df.createOrReplaceTempView(table)
    return df
