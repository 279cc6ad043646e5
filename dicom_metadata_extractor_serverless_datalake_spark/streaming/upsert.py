"""Streaming upsert sink: maintain a latest-per-key Parquet snapshot
from an append stream (the CDC-compaction pattern).

The reference's lake is append-only; re-delivered or corrected rows
accumulate and every reader must re-derive "current state" (the MSCK +
re-query story, README.md:139). This sink does that once, incrementally:
each micro-batch merges into a keyed snapshot via ``foreachBatch``, so
readers see one current row per key.

Mechanics: plain Parquet has no transactional MERGE, so the snapshot is
copy-on-write: batch N merges into the current snapshot, stages the
result and swaps ``<path>/current`` for it with the one lake commit
(sources/commit.py), whose token is the batch: a reader sees the old
snapshot or the new one. A batch Spark replays after a crash finds its
token recorded, so it is not applied twice, and a crash mid-swap rolls
forward before the next batch reads the snapshot.

Scale notes: copy-on-write rewrites the full snapshot per batch, which
is right when the keyed state is much smaller than the stream (device
state, user profiles — the common case). For snapshots too large to
rewrite, the same ``foreachBatch`` body would target a format with
merge-on-read (bucketed delta files compacted by operators/compact.py
periodically); the merge expression — window rank over (key, order) —
is unchanged, which is why it lives in its own function here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import commit

CURRENT = "current"  # the snapshot dir under the sink's path, swapped whole


def latest_per_key(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """One row per key: the row with the greatest ``order_col``. Ties are
    broken deterministically: the remaining orderable columns (schema
    order, DESC) extend the window sort, so a replayed/re-executed batch
    always picks the same row regardless of partitioning or arrival
    order. (Map-typed columns are unorderable and excluded; rows
    identical in every orderable column are interchangeable anyway.)"""
    from pyspark.sql import types as T

    tiebreak = [
        f.name
        for f in df.schema.fields
        if f.name not in key_cols
        and f.name != order_col
        and not isinstance(f.dataType, T.MapType)
    ]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(order_col).desc(), *[F.col(c).desc() for c in tiebreak]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def read_snapshot(spark: SparkSession, path: str) -> DataFrame | None:
    """The snapshot at ``path``, or None before its first batch."""
    if not os.path.isdir(os.path.join(path, CURRENT)):
        return None
    return spark.read.parquet(os.path.join(path, CURRENT))


def start_upsert_sink(
    stream: DataFrame,
    snapshot_path: str,
    key_cols: list[str],
    order_col: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Run the stream into a latest-per-key snapshot at snapshot_path.

    Exactly-once per batch: each batch commits under its own token, so a
    replayed batch (restart after failure between the snapshot commit
    and the checkpoint commit) is dropped rather than applied twice."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # a replay still runs (the stream may be stateful, and Spark fails
        # a stateful batch its sink skips); publish drops its snapshot
        staged = commit.stage(snapshot_path, commit.batch_token(batch_df, batch_id))
        delta = latest_per_key(batch_df, key_cols, order_col)
        prev = read_snapshot(batch_df.sparkSession, snapshot_path)
        merged = delta if prev is None else latest_per_key(
            prev.unionByName(delta), key_cols, order_col
        )
        merged.write.parquet(os.path.join(staged, CURRENT))
        commit.publish(staged, replace=[CURRENT])

    writer = stream.writeStream.foreachBatch(merge).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
