"""Continuous text-corpus ingestion: the streaming twin of
``TextCorpus.dedup_exact``.

A 100 TB training corpus is not built in one batch — documents arrive
continuously (crawl drops, partner feeds), and re-deliveries / exact
re-crawls must not re-enter the lake. This module ingests a document
directory as a Structured Streaming file source, digests each text
map-side (sha2-256 — shuffles carry the 64-char digest, never the
text, the q50 convention), drops exact duplicates ACROSS micro-batches
with streaming dedup state, and appends survivors to a parquet lake
via ``foreachBatch``, each batch staged and committed under its token
(sources/commit.py) so a batch replayed after a crash lands once. A
catch-up run is ``Trigger.AvailableNow``; ``maxFilesPerTrigger``
bounds batch size so the drain exercises cross-batch state, exactly
like the event-stream corpus queries.

State posture: exact-dedup state is one digest per UNIQUE document —
the same cardinality the batch dedup's digest aggregate shuffles, held
incrementally instead of recomputed per run. For bounded state under
true infinite streams, pass ``event_time_col`` + ``watermark`` to use
``dropDuplicatesWithinWatermark`` (re-deliveries are near-in-time;
state evicts once the watermark passes), trading unbounded-horizon
dedup for bounded memory — the same trade the reference's at-least-
once S3 event pattern punts to Lambda retries + DLQ
(/root/reference/deploy/serverless.yml:188-190).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources import commit


def start_corpus_stream(
    spark: SparkSession,
    input_path: str,
    lake_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_files_per_trigger: int | None = None,
    event_time_col: str | None = None,
    watermark: str | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Start the ingest stream; returns the StreamingQuery.

    The lake receives the source columns plus ``_digest``; the dedup
    state drops a document seen in an earlier batch, and the batch's
    commit token drops a replayed batch."""
    schema = spark.read.parquet(input_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(input_path)
    digested = stream.withColumn("_digest", F.sha2(F.col(text_col), 256))
    if event_time_col and watermark:
        digested = digested.withWatermark(event_time_col, watermark)
        deduped = digested.dropDuplicatesWithinWatermark(["_digest"])
    else:
        deduped = digested.dropDuplicates(["_digest"])

    def _append(batch: DataFrame, batch_id: int) -> None:
        # a replay still runs: Spark fails a stateful batch whose sink
        # leaves its dedup state uncommitted; publish drops its files
        staged = commit.stage(lake_path, commit.batch_token(batch, batch_id))
        batch.write.parquet(staged)
        commit.publish(staged)

    writer = (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(_append)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
