"""Streaming ingest: the S3 ObjectCreated -> Lambda event pattern
(deploy/serverless.yml:195-200) as a Structured Streaming query.

New objects under the input path arrive through
``readStream.format("dicom")`` (sources/dicom_source.py), which walks,
range-reads and extracts exactly like batch ingest; ``foreachBatch``
hands each micro-batch to the batch writer (ingest.pipeline.write_split)
— so batch and streaming ingest share one read path and one
lake/quarantine writer, zero-byte objects included.

At-least-once S3 events (the reference punts redelivery to Lambda
retries + DLQ) become idempotent here via dropDuplicates on the lineage
key before the sink.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ingest.pipeline import write_split
from ..sources.dicom_source import register_dicom_source


def start_ingest_stream(
    spark: SparkSession,
    input_path: str,
    lake_path: str,
    quarantine_path: str | None = None,
    checkpoint_path: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start (and return) the streaming ingest query.

    ``available_now=True`` processes the backlog then stops — the
    catch-up / replay mode; False runs continuously per micro-batch.
    Python stream sources (Spark 4.1) do not support
    ``Trigger.AvailableNow``: Spark logs a WARN and drains the whole
    backlog in one micro-batch before stopping."""
    register_dicom_source(spark)
    reader = spark.readStream.format("dicom").load(input_path)

    def sink(batch_df, batch_id: int) -> None:
        deduped = batch_df.dropDuplicates(["source_s3_key", "source_s3_archive_path"])
        write_split(deduped, lake_path, quarantine_path)

    writer = reader.writeStream.foreachBatch(sink)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
