"""Streaming ingest: the S3 ObjectCreated -> Lambda event pattern
(deploy/serverless.yml:195-200) as a Structured Streaming query.

New objects under the input path arrive through
``readStream.format("dicom")`` (sources/dicom_source.py), which walks,
range-reads and extracts exactly like batch ingest; ``foreachBatch``
hands each micro-batch to the batch writer (ingest.pipeline.write_split)
— so batch and streaming ingest share one read path and one
lake/quarantine writer, zero-byte objects included.

At-least-once S3 events (the reference punts redelivery to Lambda
retries + DLQ) become exactly-once here: dropDuplicates on the lineage
key drops an object delivered twice within a batch, and the sink
stages each batch and commits it to the quarantine, then to the lake,
under the batch's token (sources/commit.py), so a batch Spark replays
after a crash lands once: a replay the lake recorded is skipped
unread, and a root that recorded it drops its second copy.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..ingest.pipeline import write_split
from ..sources import commit
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
        token = commit.batch_token(batch_df, batch_id)
        # the source keeps no state to commit, so a replay of a batch that
        # landed whole (the lake commits last) may go unread
        if commit.published(lake_path, token):
            return
        lake = commit.stage(lake_path, token)
        quarantine = quarantine_path and commit.stage(quarantine_path, token)
        deduped = batch_df.dropDuplicates(["source_s3_key", "source_s3_archive_path"])
        write_split(deduped, lake, quarantine)
        if quarantine:
            commit.publish(quarantine)
        commit.publish(lake)

    writer = reader.writeStream.foreachBatch(sink)
    if checkpoint_path:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
