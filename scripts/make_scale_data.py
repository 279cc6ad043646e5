#!/usr/bin/env python3
"""Deterministic scale-up of the driver testdata for data-dominated
benchmarking (scripts/scale_bench.py generates its rows' data through
this module on first use).

- ``make_rel_scale(out, factor)``: replicate sf0.1 lineitem/orders
  ``factor`` times with per-copy orderkey offsets (join keys stay
  consistent: copy i shifts both l_orderkey and o_orderkey by
  i * (max_orderkey + 1)). Other tables are copied as-is — 10x orders
  per customer is exactly the per-key growth a bigger tenant produces.
- ``make_doc_scale(out, factor)``: replicate documents/embeddings with
  doc_id/vec_id offsets; replica text carries an " r{i}" suffix so
  replicas are NEAR-dups (shingle sets overlap but differ), preserving
  realistic dedup/LSH candidate structure instead of exact clones.
- ``make_events_scale(out, factor)``: replicate events along the
  timeline (see its docstring).

Every replicator is ONE scan + explode of a ``factor``-element sequence
per table (a factor-way union blows up Catalyst analysis time at
factor 1000). Everything derives from the driver's sf0.1 parquet with
fixed offsets — no RNG — so any two generations are byte-identical in
content.

Usage: python scripts/make_scale_data.py {rel|doc|events} OUT FACTOR
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _spark():
    from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark

    return get_spark(app_name="make_scale_data")


def copy_tables(out: str, skip: tuple[str, ...], src: str = SRC) -> None:
    """Copy every testdata table but ``skip`` from ``src`` into ``out``."""
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if t not in skip and not os.path.exists(dst):
            shutil.copy(os.path.join(src, f"{t}.parquet"), dst)


def _replicas(df, factor: int, key: str):
    """``df`` with a ``__rep`` column 0..factor-1, one row per replica,
    hash-spread on ``key`` first so the replication does not run in the
    one task a single-file scan gives."""
    from dicom_metadata_extractor_serverless_datalake_spark.operators.skew import spread_input

    rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("__rep")
    return spread_input(df, key=key).select("*", rep)


def rel_scale_frames(spark, factor: int, src: str = SRC) -> dict:
    """sf0.1 orders and lineitem replicated ``factor`` times: copy i
    shifts both orderkeys by i * (max o_orderkey + 1)."""
    orders = spark.read.parquet(f"{src}/orders.parquet")
    li = spark.read.parquet(f"{src}/lineitem.parquet")
    base = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    return {
        name: _replicas(df, factor, key)
        .withColumn(key, F.col(key) + F.col("__rep").cast("long") * F.lit(base))
        .drop("__rep")
        for name, df, key in (("orders", orders, "o_orderkey"), ("lineitem", li, "l_orderkey"))
    }


def make_rel_scale(out: str, factor: int, src: str = SRC, spark=None) -> None:
    spark = spark or _spark()
    copy_tables(out, ("orders", "lineitem"), src)
    for name, df in rel_scale_frames(spark, factor, src).items():
        df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))


def make_doc_scale(out: str, factor: int, src: str = SRC, spark=None) -> None:
    spark = spark or _spark()
    copy_tables(out, ("documents", "embeddings"), src)
    docs = spark.read.parquet(f"{src}/documents.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    doc_base = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    vec_base = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    # copy i shifts the id by i*base and suffixes replica text with
    # " r{i}" (i >= 1 only)
    du = (
        _replicas(docs, factor, "doc_id")
        .withColumn("doc_id", F.col("doc_id") + F.col("__rep").cast("long") * F.lit(doc_base))
        .withColumn(
            "text",
            F.when(F.col("__rep") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" r"), F.col("__rep").cast("string"))
            ),
        )
        .drop("__rep")
    )
    eu = (
        _replicas(emb, factor, "vec_id")
        .withColumn("vec_id", F.col("vec_id") + F.col("__rep").cast("long") * F.lit(vec_base))
        .drop("__rep")
    )
    # documents last: it is ensure()'s probe
    eu.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))
    du.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))


def make_events_scale(out: str, factor: int, src: str = SRC, spark=None) -> None:
    """Replicate events ``factor`` times: copy i shifts event_id by
    i*(max+1) and ts by i*31 days, extending the same user population
    longitudinally — sessionization/cohort/proximity state stays
    realistic (per-user density per month is unchanged; the timeline
    grows), instead of stacking 100 identical copies into one month."""
    spark = spark or _spark()
    copy_tables(out, ("events",), src)
    ev = spark.read.parquet(f"{src}/events.parquet")
    # keep the driver testdata's TIMESTAMP_NTZ/micros encoding: a plain
    # "timestamp" cast writes INT96 (Spark's default outputTimestampType),
    # which pyarrow round-trips to nanosecond INT64 in the stream-source
    # chunk writer and the streaming reader's schema then mismatches
    ev = ev.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    base = ev.agg(F.max("event_id")).collect()[0][0] + 1
    # timestampadd preserves TIMESTAMP_NTZ (an interval literal can't
    # take a column multiplier); content is identical to the historical
    # per-copy union — verified row-for-row against a union-generated dir
    union = (
        _replicas(ev, factor, "event_id")
        .withColumn(
            "event_id", F.col("event_id") + F.col("__rep").cast("long") * F.lit(base)
        )
        .withColumn("ts", F.expr("timestampadd(DAY, __rep * 31, ts)"))
        .drop("__rep")
    )
    union.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))


_MAKERS = {"rel": make_rel_scale, "doc": make_doc_scale, "events": make_events_scale}
_PROBES = {"rel": "lineitem.parquet", "doc": "documents.parquet", "events": "events.parquet"}


def ensure(path: str, kind: str, factor: int) -> str:
    """Generate ``path`` unless it holds finished data; returns path.
    kind: 'rel' | 'doc' | 'events'. Finished means the probe table's
    ``_SUCCESS``: Spark's committer creates the table dir at job set-up,
    so a generation killed mid-write leaves the dir without it."""
    if not os.path.exists(os.path.join(path, _PROBES[kind], "_SUCCESS")):
        _MAKERS[kind](path, factor)
    return path


if __name__ == "__main__":
    kind = sys.argv[1] if len(sys.argv) > 1 else "rel"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sfsynth1"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    _MAKERS[kind](out, factor)
    print(f"wrote {out} ({kind} x{factor})")
