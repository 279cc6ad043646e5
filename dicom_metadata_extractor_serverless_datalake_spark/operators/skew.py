"""Skew-mitigation operators: salted join and salted aggregation.

AQE's skew-join handling (spark.sql.adaptive.skewJoin, on by default in
our session factory) splits oversized shuffle partitions at runtime and
is the first line of defense. Salting is the *explicit* fallback for the
cases AQE can't fix: a broadcast-ineligible join where one key holds a
double-digit percentage of all rows (the classic null-key / power-law
customer), or a groupBy whose hot key saturates one reducer.

``salted_join`` replicates each right-side row ``salt`` times and
scatters left rows uniformly across the replicas, turning one hot
shuffle partition into ``salt`` even ones at the cost of a ``salt``-times
larger right side — so use it for moderate-size right sides only (a
truly small right side should just broadcast).

``salted_agg_count`` shows the two-phase pattern for aggregations whose
merge function is associative: pre-aggregate on (key, salt), then merge
per key — the hot key's load spreads across ``salt`` reducers in phase 1
and phase 2 only sees ``salt`` partial rows per key.

``spread_input`` handles the skew before any exchange: a scan whose
splits are fewer than the cluster's slots, ahead of CPU-heavy map work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``on`` with the left side's hot keys spread across
    ``salt`` shuffle partitions. Result equals ``left.join(right, on,
    how)`` for 'inner'/'left' (the supported modes)."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner and left joins")
    salted_left = left.withColumn(
        "_salt", (F.rand(seed=7) * salt).cast("int")
    )
    replicas = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = salted_left.join(replicas, [on, "_salt"], how)
    return out.drop("_salt")


def salted_agg_count(
    df: DataFrame,
    key: str,
    agg_col: str | Column | None = None,
    salt: int = 16,
) -> DataFrame:
    """Two-phase count/sum per key: phase 1 aggregates (key, salt) —
    spreading a hot key over ``salt`` reducers — phase 2 merges the
    partials. Returns (key, n, total?) with ``total`` present when
    ``agg_col`` is given.

    Note: Spark's own hash aggregate already does map-side partial
    aggregation, which usually makes explicit salting unnecessary for
    counts; this exists for aggregates carried through operators that
    defeat partial aggregation (e.g. collect_list pipelines)."""
    salted = df.withColumn("_salt", (F.rand(seed=7) * salt).cast("int"))
    phase1_aggs = [F.count(F.lit(1)).alias("_n")]
    if agg_col is not None:
        c = F.col(agg_col) if isinstance(agg_col, str) else agg_col
        phase1_aggs.append(F.sum(c).alias("_s"))
    partial = salted.groupBy(key, "_salt").agg(*phase1_aggs)
    phase2 = [F.sum("_n").alias("n")]
    if agg_col is not None:
        phase2.append(F.sum("_s").alias("total"))
    return partial.groupBy(key).agg(*phase2)


def spread_input(df: DataFrame, key: str | F.Column | None = None) -> DataFrame:
    """Re-spread a batch frame whose SCAN yields fewer partitions than
    the cluster has slots, before CPU-heavy map-side work (hash-per-
    replicate bootstrap weights, the BPE merge cascade, per-token
    digests). Parquet splits are byte-range based, so a small-but-
    highly-compressed corpus (text compresses 10-50x) can land on 1-3
    tasks while every other core idles — AQE cannot fix this because
    the bottleneck is the scan stage's own parallelism, not a
    downstream exchange. The shuffle moves the compressed row payload
    once and only fires when the scan is actually starved (input
    partitions < defaultParallelism), so on a real multi-file 100 TB
    layout it is a no-op. Streaming frames pass through untouched
    (micro-batch sources size their own splits; .rdd is illegal on
    them). Measured: q291's 500k-doc encode 94.5 s -> 7.4 s on
    local[32] over a single 12 MB parquet file.

    ``key``: a high-cardinality column to HASH-partition by instead of
    the keyless round-robin. Every keyless ``repartition(n)`` first
    LOCALLY SORTS its input so retried tasks reproduce the same
    row-to-partition assignment (sortBeforeRepartition, guide §2.5) —
    on a scan-starved input that sort runs in the ONE task that has
    all the rows, and its buffers dominate the heap: q225's
    score-frame pass at 5M docs measured 388 s fresh-heap / 1023 s
    aged-heap round-robin vs 146 s / 180 s hash-keyed. Hashing a
    deterministic key is also strictly safer under retries (same row
    -> same partition, no sort needed) and gives every consumer the
    identical exchange child, restoring ReuseExchange where column
    pruning would otherwise specialize (and duplicate) the spread per
    consumer. Callers pass their row id (or the text column when no id
    exists); 5M distinct values over 32 partitions balance to <1%.
    ``key`` may also be a Column for frames with no unique COLUMN at
    all: callers without an id pass
    ``F.monotonically_increasing_id()`` — row-unique and SPLIT-STABLE
    (a pure function of partition index and row position, so a retried
    task reproduces the same key for the same row, unlike rand-derived
    keys — guide §2.5 / SPARK-38388), where hashing a duplicate-heavy
    data column would re-concentrate the very rows the spread exists
    to distribute (ADVICE r11 on chao1_frame)."""
    if df.isStreaming:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    # NOTE: partition count is the trigger, but the count can LIE about
    # effective parallelism: a single-file snappy parquet with one giant
    # row group presents byte-range splits (29 at 5M docs) of which only
    # the split containing the row-group start yields ANY rows — the
    # other 28 tasks read zero and one task does all the work. A
    # "starvation factor" variant (fire only when partitions*2 <= par)
    # was tried and REVERTED: it left the 5M-doc corpus on 1 effective
    # task (q187's Arrow pass sat at 800+ s single-worker vs 65 s
    # spread). The spread exchange costs seconds of text shuffle at 5M
    # docs, but it is what converts 1 effective slot into 32. Real
    # multi-file layouts present >= par partitions AND many row groups,
    # so this stays a no-op there.
    if df.rdd.getNumPartitions() < par:
        if key is not None:
            return df.repartition(par, F.col(key) if isinstance(key, str) else key)
        return df.repartition(par)
    return df
