"""Incremental MinHash-LSH near-dedup over a live document stream.

The streaming form of the batch dedup family (``operators/dedup.py``):
an event-driven ingest (the reference's S3-notification pattern,
``/root/reference/deploy/serverless.yml:195-200``, generalized to text
corpora) must flag each arriving document against everything already
seen without re-scanning the corpus. Exposed as a composable operator:
give it any streaming (id, text) frame, get back a streaming frame of
``(doc_id, dup_of)`` verdicts.

Design (shared with corpus query q178, which pins it to a DuckDB
oracle):

- the 16-permutation MinHash signature is computed ENTIRELY map-side
  per row — one md5 per shingle via ``transform``, then 16 array-fold
  minima — no explode, no shuffle. This is REQUIRED in streaming, not
  merely nice: batch q52's explode + groupBy signature is a streaming
  AGGREGATION, and Spark forbids chaining it in front of the
  ``applyInPandasWithState`` operator (two stateful operators). The
  fold trades raw throughput for that legality — measured on batch
  frames the higher-order lambdas run ~3x slower than the exploded
  codegen aggregate (11.4 s vs 36.3 s at 500k docs for the full
  pair derivation), so batch q52 keeps its groupBy path and the two
  are pinned result-equal by ``tests/test_streaming.py``;
- 4 band signatures posexplode to (band, sig) rows;
- ONE ``applyInPandasWithState`` operator keyed by the LSH bucket holds
  the incremental state: the smallest doc id ever seen in that bucket.
  When arrivals are id-ordered, each document either claims an empty
  bucket or emits ``(doc_id, bucket_owner)`` exactly once, whatever
  micro-batch boundary separates it from its near-duplicate.

100 TB shape: per-bucket state is one long; keys are occupied LSH
buckets (hash-partitioned like all stateful state); per-batch cost is
proportional to the batch's touched buckets, never to corpus size.
Measured full-drain replay of 500k docs: 443 s / ~1.1k docs/s on
local[32] — parity with the batch EXACT verify path at the same size
while emitting verdicts incrementally (BASELINE.md round 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    MERSENNE_P,
    NUM_PERM,
    PERM_A,
    PERM_B,
    SHINGLE_ARRAY,
    h31,
    lsh_band_rows,
)

LSH_STATE_SCHEMA = "owner BIGINT"
LSH_OUT_SCHEMA = "doc_id BIGINT, dup_of BIGINT"

# sharded variant: state holds every occupied bucket of the shard
LSH_SHARD_STATE_SCHEMA = "sigs ARRAY<STRING>, owners ARRAY<BIGINT>"


def lsh_bucket_update(key, batches, state):
    """Per-bucket stateful update: owner = min doc id ever seen; every
    later arrival in the bucket emits (doc, owner) once."""
    import pandas as pd

    owner = int(state.get[0]) if state.exists else None
    pdf = pd.concat(list(batches), ignore_index=True).sort_values("doc_id")
    rows = []
    for d in pdf["doc_id"]:
        d = int(d)
        if owner is not None and owner < d:
            rows.append((d, owner))
        if owner is None or d < owner:
            owner = d
    state.update((owner,))
    yield pd.DataFrame(rows, columns=["doc_id", "dup_of"])


def minhash_bands_streaming(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text) frame -> (doc_id, band, sig) frame, computed entirely
    map-side (works identically on batch and streaming frames)."""
    sig = (
        docs.select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("w"))
        .withColumn("sh", F.expr(SHINGLE_ARRAY))
        .filter(F.size("sh") > 0)
        .withColumn("hs_arr", F.expr(f"transform(sh, s -> {h31('s')})"))
        .select(
            "doc_id",
            *[
                F.expr(
                    f"aggregate(hs_arr, CAST({MERSENNE_P} AS BIGINT), "
                    f"(acc, v) -> least(acc, ({PERM_A[i]} * v + {PERM_B[i]}) % {MERSENNE_P}))"
                ).alias(f"m{i}")
                for i in range(NUM_PERM)
            ],
        )
    )
    return lsh_band_rows(sig)


def lsh_shard_update(key, batches, state):
    """Sharded stateful update: one state group holds MANY buckets
    (parallel sigs/owners arrays); per bucket the logic is identical to
    ``lsh_bucket_update``. Exists because the per-bucket keying pays
    one Python group dispatch per touched bucket (~0.22 ms each,
    BASELINE round 5) — with 4 bands/doc that tax dominates small
    batches. Sharding amortizes it: dispatches per batch are bounded by
    the shard count, rows per dispatch grow, and pandas does the rest.
    The trade: state value size grows from one long to the shard's
    occupied-bucket map (still corpus-bounded overall, and each shard
    round-trips only when touched)."""
    import pandas as pd

    if state.exists:
        sigs, owners = state.get
        buckets = dict(zip(sigs, (int(o) for o in owners)))
    else:
        buckets = {}
    pdf = pd.concat(list(batches), ignore_index=True).sort_values("doc_id")
    rows = []
    for sig, d in zip(pdf["k"], pdf["doc_id"]):
        d = int(d)
        owner = buckets.get(sig)
        if owner is not None and owner < d:
            rows.append((d, owner))
        if owner is None or d < owner:
            buckets[sig] = d
    state.update((list(buckets.keys()), list(buckets.values())))
    yield pd.DataFrame(rows, columns=["doc_id", "dup_of"])


def lsh_dedup_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shards: int | None = None,
) -> DataFrame:
    """Streaming (id, text) frame -> streaming (doc_id, dup_of) verdict
    frame (update output mode). Arrivals must be id-ordered across
    micro-batches for "dup_of" to mean "smallest EARLIER near-dup";
    reduce multi-band verdicts with ``min(dup_of)`` per doc at the sink
    (a doc can collide with different owners in different bands).

    ``shards=None`` keys state per LSH bucket (one long of state per
    bucket; one Python dispatch per touched bucket per batch).
    ``shards=N`` groups buckets into N hash shards (bounded dispatches
    per batch, larger state values) — measured cost model in
    BASELINE.md round 7; verdict sets are identical."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    bands = minhash_bands_streaming(docs, id_col, text_col)
    if shards is None:
        return bands.groupBy("band", "sig").applyInPandasWithState(
            lsh_bucket_update,
            outputStructType=LSH_OUT_SCHEMA,
            stateStructType=LSH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    keyed = bands.select(
        "doc_id",
        F.concat_ws("|", F.col("band").cast("string"), "sig").alias("k"),
    ).withColumn("shard", F.pmod(F.xxhash64("k"), F.lit(shards)))
    return keyed.groupBy("shard").applyInPandasWithState(
        lsh_shard_update,
        outputStructType=LSH_OUT_SCHEMA,
        stateStructType=LSH_SHARD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
