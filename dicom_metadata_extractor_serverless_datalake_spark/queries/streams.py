"""Streaming-EXECUTED corpus queries: q83-q85 run a real Structured
Streaming job (file source -> availableNow trigger -> sink) and surface
the sink contents as the query result, so the driver's oracle check
covers the streaming execution path itself — not just the batch twins
q36-q38 (which share window semantics but execute as batch plans).

Reference parity: the reference's "stream" is S3 event notifications
feeding Lambda (deploy/serverless.yml:31-60); its late/duplicate story
is re-run MSCK + DLQ (README.md:139). Structured Streaming replaces
that with watermarked incremental state; these queries pin that
replacement's *results* to the same SQL the batch engine answers.

Determinism: each query stages its table with ``_stage`` (contiguous
ranges of one column in mtime-ordered files) and drains it with
``_drain`` through availableNow into a uniquely-named in-memory sink on
a scoped session; the returned DataFrame aggregates that sink. The
stateful queries (q84 dedup, q99 custom state, q100 session windows,
q109 stream-stream interval join, ...) read one file per trigger, so
the drain takes MULTIPLE micro-batches — watermark advance,
cross-batch state carry-over (session merge across batch boundaries,
buffered join state matching later batches), and state eviction are on
the certified path, not just single-batch semantics. Output still
equals the batch answer, so a plain DuckDB oracle checks the streamed
execution.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..eventlog import _cents_sum
from ..operators.dedup import h31
from ..session import scoped_session
from .base import query

# --------------------------------------------------------------------------
# shared plumbing: one stager, one drain
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class _Source:
    """A staged stream-source dir of ``table`` rows. ``rows`` counts every
    staged row (repeats and re-deliveries included); ``lo``/``hi`` are the
    cut column's extent (None when the table is staged uncut)."""

    dir: str
    table: str
    rows: int
    lo: Any = None
    hi: Any = None


def _stage(
    sf: str,
    table: str,
    col: str | None = None,
    k: int = 1,
    deliver: Sequence[int] | None = None,
    columns: list[str] | None = None,
    where: Any = None,
) -> _Source:
    """Stage ``{sf}/{table}.parquet`` (a file or a dir of part files) as a
    stream-source dir. The rows passing the pyarrow expression ``where``
    are cut into ``k`` contiguous ranges of ``col``, the last range
    inclusive of the max (integer columns cut with floor division,
    timestamps with timedelta arithmetic), and written one file per entry
    of ``deliver`` — slice indices, default ``range(k)``; a repeated index
    plants duplicates or a late re-delivery. Empty slices are skipped.
    Files get strictly increasing mtimes in delivery order (the file
    source orders pending files by modification time), so a
    ``maxFilesPerTrigger=1`` reader replays them in that order across
    micro-batches with genuinely advancing watermarks. ``columns``
    projects the written files. A table staged whole (no cut, filter,
    projection or re-delivery) is copied part file by part file, so the
    driver never decodes it."""
    import pyarrow.parquet as pq

    path = os.path.join(sf, f"{table}.parquet")
    src = tempfile.mkdtemp(prefix="spark_stream_src_")
    rows, mtime = 0, 1_000_000_000.0
    if k == 1 and deliver is None and columns is None and where is None:
        parts = (
            sorted(
                os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
            )
            if os.path.isdir(path)
            else [path]
        )
        for n, part in enumerate(parts):
            dst = os.path.join(src, f"{table}_{n:03d}.parquet")
            shutil.copy(part, dst)
            os.utime(dst, (mtime, mtime))
            mtime += 2.0
            rows += pq.read_metadata(dst).num_rows
        return _Source(src, table, rows)

    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    data = pads.dataset(path, format="parquet").to_table(
        columns=None if columns is None else [*columns, col], filter=where
    )
    lo = hi = None
    slices = [data]
    if k > 1:
        vals = data.column(col)
        lo, hi = pc.min(vals).as_py(), pc.max(vals).as_py()
        cut = [
            lo + (hi - lo) * s // k if isinstance(lo, int) else lo + (hi - lo) * s / k
            for s in range(k + 1)
        ]
        slices = [
            data.filter(
                pc.and_(
                    pc.greater_equal(vals, cut[s]),
                    pc.less(vals, cut[s + 1]) if s < k - 1 else pc.less_equal(vals, hi),
                )
            )
            for s in range(k)
        ]
    if columns is not None:
        slices = [chunk.select(columns) for chunk in slices]
    for n, s in enumerate(range(k) if deliver is None else deliver):
        if slices[s].num_rows == 0:
            continue
        dst = os.path.join(src, f"{table}_{n:03d}.parquet")
        pq.write_table(slices[s], dst)
        os.utime(dst, (mtime, mtime))
        mtime += 2.0
        rows += slices[s].num_rows
    return _Source(src, table, rows, lo, hi)


_ROWS_PER_STATE_PARTITION = 250_000


def _drain(
    spark: SparkSession,
    src: _Source,
    build: Callable[[DataFrame], DataFrame] = lambda stream: stream,
    mode: str = "append",
    min_batches: int = 1,
    start: Callable[[DataFrame, str], Any] | None = None,
) -> DataFrame | None:
    """Stream the staged ``src`` through ``build`` with an availableNow
    trigger and return the drained memory sink (``mode`` output),
    a frame of the scoped session below. ``start(stream, checkpoint)``
    brings its own sink instead, and the return is None.

    The stream runs on a scoped ``spark.newSession()`` (shared catalog,
    cache and static frames, own SQLConf), so the caller's conf is never
    touched. The scoped conf starts as a copy of the caller's runtime
    conf, with one change for the drain: its shuffle partitions — the
    stream's STATE partition count, pinned in the checkpoint when the
    stream starts — are sized from the staged row count, since AQE
    cannot coalesce streaming plans: one per
    ``_ROWS_PER_STATE_PARTITION`` rows, floor 4 so tiny sources still
    exercise multi-partition state, at most the default parallelism.
    Measured: 32 state partitions cost 1.3-1.5 s per micro-batch on a
    3.3k-row batch (state-store commit + task scheduling per partition);
    4-8 cost 0.8-0.9 s.

    ``min_batches`` > 1 reads one file per trigger, and the drain must
    take at least ``min_batches`` micro-batches. After the drain the
    scoped shuffle partitions go back to the caller's, so the returned
    frame plans as a frame of the caller would. The source and
    checkpoint dirs are removed whether the drain succeeds or fails."""
    from ..sources.tables import load_stream

    name = "stream_sink_" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="spark_stream_ckpt_")
    try:
        n_state = min(
            spark.sparkContext.defaultParallelism,
            max(4, src.rows // _ROWS_PER_STATE_PARTITION + 1),
        )
        scoped = scoped_session(spark, {"spark.sql.shuffle.partitions": str(n_state)})
        stream = build(
            load_stream(
                scoped,
                src.dir,
                src.table,
                max_files_per_trigger=1 if min_batches > 1 else None,
            )
        )
        if start is None:
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        else:
            q = start(stream, ckpt)
        q.awaitTermination(600)
        last = q.lastProgress
        n_batches = int(last["batchId"]) + 1 if last else 0
        assert n_batches >= min_batches, (
            f"expected >= {min_batches} micro-batches, got {n_batches}"
        )
        scoped.conf.set(
            "spark.sql.shuffle.partitions",
            spark.conf.get("spark.sql.shuffle.partitions"),
        )
    finally:
        shutil.rmtree(src.dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return scoped.table(name) if start is None else None


def _stateful(grouped, fn, out: str, state: str) -> DataFrame:
    """``applyInPandasWithState`` in update mode without timeouts, the
    shape of every custom-state drain below."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out,
        stateStructType=state,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# q83 — streamed tumbling-window aggregation (streaming/windows.py).
# Complete output mode: every window is emitted at drain, so the result
# equals the batch q36 aggregation and the oracle is plain SQL.
# --------------------------------------------------------------------------


@query(
    "q83_stream_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
    """,
    category="streaming",
)
def q83(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.windows import tumbling_counts

    sink = _drain(spark, _stage(sf, "events"), tumbling_counts, "complete")
    return sink.orderBy("window_start", "event_type")


# --------------------------------------------------------------------------
# q84 — streamed stateful dedup (dropDuplicatesWithinWatermark) across
# MULTIPLE micro-batches: the source is split into 3 event-time ranges
# x 2 copies (6 files, mtime-ordered, maxFilesPerTrigger=1 => 6
# batches), so every event_id arrives twice in ADJACENT batches and the
# stateful operator must dedup it across the batch boundary while the
# watermark genuinely advances (delay ~= 0.43 x span: wide enough that
# a range's second copy is never late or evicted — each copy lands
# within one range-width of the first — narrow enough that range-0
# state IS evicted while range 2 processes). The sink then aggregates
# to per-type counts == the batch counts over ONE copy.
# --------------------------------------------------------------------------


@query(
    "q84_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique_events
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    category="streaming",
)
def q84(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.windows import streaming_dedup

    src = _stage(sf, "events", "ts", 3, deliver=(0, 0, 1, 1, 2, 2))
    span = (src.hi - src.lo).total_seconds()
    delay = max(int(span / 3 + span * 0.1), 60)
    sink = _drain(
        spark,
        src,
        lambda stream: streaming_dedup(stream, watermark=f"{delay} seconds"),
        min_batches=3,
    )
    return (
        sink.groupBy("event_type")
        .agg(F.count("*").alias("n_unique_events"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# q85 — streamed latest-per-key upsert sink (streaming/upsert.py): the
# foreachBatch CDC-compaction path commits a keyed snapshot per batch;
# the query returns the snapshot = one current row per user. The oracle
# replays the same (ts DESC, event_id DESC) merge rule in SQL.
# --------------------------------------------------------------------------


@query(
    "q85_stream_upsert_snapshot",
    oracle="""
    SELECT user_id, ts AS last_ts, event_type AS last_event_type,
           value AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
    category="streaming",
)
def q85(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.upsert import read_snapshot, start_upsert_sink

    snap = tempfile.mkdtemp(prefix="spark_stream_snap_")
    try:
        # the drain's scoped session sizes the upsert's per-batch row_number
        # window shuffle on user_id like every other drain's state
        _drain(
            spark,
            _stage(sf, "events"),
            start=lambda stream, ckpt: start_upsert_sink(
                stream,
                snapshot_path=snap,
                key_cols=["user_id"],
                order_col="ts",
                checkpoint_path=ckpt,
                available_now=True,
            ),
        )
        snapshot = read_snapshot(spark, snap)
        assert snapshot is not None
        # checkpointed eagerly, so the result no longer reads the snapshot
        out = snapshot.select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(snap, ignore_errors=True)
    return out.orderBy("user_id")


# --------------------------------------------------------------------------
# q99 — streamed CUSTOM STATEFUL operator (applyInPandasWithState) across
# MULTIPLE micro-batches: per-user running (count, total) accumulated in
# integer cents inside the state handle, so the result is order- and
# batching-independent and exact — a float accumulator would hash
# differently under shuffle reordering. The source is split into 3
# event-time ranges (maxFilesPerTrigger=1 => 3 batches), so state
# carries across batch boundaries and update mode emits one PARTIAL
# accumulator row per (user, batch-with-activity); the memory sink
# appends them all, and the query takes each user's final accumulator
# (max n_events — strictly monotone per emission) == the batch
# aggregate. A plain SQL oracle checks the multi-batch stateful
# execution path end-to-end. State is partitioned by user_id (scales
# with executors) and checkpointed.
# --------------------------------------------------------------------------

_STATEFUL_STATE = "n_events BIGINT, total_cents BIGINT"
_STATEFUL_OUT = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"


def _exact_totals_update(key, batches, state):
    import math

    import pandas as pd

    n, cents = state.get if state.exists else (0, 0)
    for pdf in batches:
        n += int(len(pdf))
        # half-away-from-zero at 2 decimals, same rounding as the
        # oracle's CAST(value AS DECIMAL(18,2)) (values are positive)
        cents += int(sum(int(math.floor(v * 100.0 + 0.5)) for v in pdf["value"]))
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
    )


@query(
    "q99_stream_stateful_totals",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
             AS total_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    category="streaming",
)
def q99(spark: SparkSession, sf: str) -> DataFrame:
    sink = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.groupBy("user_id"),
            _exact_totals_update,
            _STATEFUL_OUT,
            _STATEFUL_STATE,
        ),
        "update",
        min_batches=3,
    )
    # each user's FINAL accumulator: n_events strictly increases per
    # emission, so max-per-user selects the last micro-batch's row
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q100 — streamed session windows (merge-on-watermark session state):
# the streaming twin of batch q38, EXECUTED as a stream. Session-window
# state merges adjacent sessions as events arrive and the complete-mode
# drain emits the final merged sessions — same result as the batch
# gaps-and-islands oracle.
# --------------------------------------------------------------------------


@query(
    "q100_stream_session_window",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
    category="streaming",
)
def q100(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.windows import sessionized_counts

    # event-time-ordered slices, one file per micro-batch: sessions that
    # straddle a batch boundary must be MERGED by the session-window
    # state machine across batches (complete mode re-emits the full,
    # merged result at the final batch), not just computed within one
    # drain — the oracle equality certifies cross-batch session merge
    sink = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: sessionized_counts(stream, gap="10 minutes"),
        "complete",
        min_batches=3,
    )
    return sink.orderBy("user_id", "session_start")


# --------------------------------------------------------------------------
# q109 — streamed STREAM-STREAM interval join (streaming/joins.py): two
# watermarked views of the live event stream (clicks, purchases)
# correlate on user_id within a (0, 5 min] event-time interval — the
# join whose state stays finite only because of the time bound. Inner
# matches emit as both sides arrive, so the availableNow drain yields
# exactly the batch answer and a plain SQL oracle checks the stateful
# stream-stream execution path.
# --------------------------------------------------------------------------


@query(
    "q109_stream_interval_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 5 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY click_id, purchase_id
    """,
    category="streaming",
)
def q109(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.joins import interval_join

    # 3 event-time-ordered micro-batches: click state buffered in batch
    # N must still match purchases arriving in batch N+1 (the 30-minute
    # watermark exceeds the 5-minute join upper bound, so no candidate
    # click is evicted before its match window closes — eviction of
    # older state across batches is exactly what this exercises)
    def joined(ev: DataFrame) -> DataFrame:
        clicks = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("l_ts")
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("r_ts"),
        )
        return interval_join(
            clicks,
            purchases,
            key="user_id",
            lower="INTERVAL 0 SECONDS",
            upper="INTERVAL 5 MINUTES",
            watermark="30 minutes",
        ).select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("gap_us"),
        )

    sink = _drain(spark, _stage(sf, "events", "ts", 3), joined, min_batches=3)
    return sink.orderBy("click_id", "purchase_id")


# --------------------------------------------------------------------------
# q110 — streamed STREAM-STATIC enrichment (streaming/joins.py): the
# live event stream broadcast-joins the customer dimension per
# micro-batch (no stream-side shuffle, no state; dim updates are picked
# up on the next batch), then rolls up by market segment. The oracle is
# the identical batch join.
# --------------------------------------------------------------------------


@query(
    "q110_stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment, COUNT(*) AS n_events
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1 ORDER BY 1
    """,
    category="streaming",
)
def q110(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.tables import load_table
    from ..streaming.joins import enrich_with_dim

    dim = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    sink = _drain(
        spark,
        _stage(sf, "events"),
        lambda ev: enrich_with_dim(ev, dim, "user_id", "c_custkey", how="inner").select(
            F.col("c_mktsegment").alias("segment")
        ),
    )
    return (
        sink.groupBy("segment")
        .agg(F.count("*").alias("n_events"))
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# q129 — STREAMING heavy hitters: the operators/heavyhitters.py
# Misra-Gries summary as bounded-memory streaming state, maintained
# across micro-batches with applyInPandasWithState. Items (user ids)
# are hash-partitioned into _HH_GROUPS groups by the PORTABLE h31 hash,
# so each group's state is an independent k-counter MG summary over its
# own item subset (an item's full count lives entirely in one group —
# that is what makes the per-group MG guarantee apply verbatim). State
# per group is O(k) forever, whatever the stream length: the property
# that makes frequency tracking feasible on an unbounded stream where
# exact per-key counts (q99's shape) grow with cardinality.
#
# Certified the q122 way, with the group-local threshold: any item
# whose true count strictly exceeds its group's decrement budget
# (<= n_g/(k+1)) must be present with est <= true <= est + budget. The
# row set — items with cnt * (k+1) > n_g — is integer arithmetic over
# the portable hash, so both engines select identical rows; the oracle
# pins found_ok/bound_ok TRUE. The multi-batch drain (time_splits=3,
# maxFilesPerTrigger=1) makes cross-batch counter carry-over and
# decrement accounting the thing being certified.
# --------------------------------------------------------------------------

_HH_K = 4
_HH_GROUPS = 32

_HH_OUT = (
    "grp long, user_id long, est long, n_rows long, budget long"
)
_HH_STATE = "items array<long>, counts array<long>, n_rows long"


def _mg_stream_update(key, batches, state):
    import pandas as pd

    k = 4  # _HH_K (executor-side constant; keep in sync)
    if state.exists:
        items, counts, n_rows = state.get
        mg = dict(zip(items, counts))
    else:
        mg, n_rows = {}, 0
    for pdf in batches:
        # batch-merged MG update (same reduction as the batch operator,
        # operators/heavyhitters.py): exact value_counts per Arrow
        # batch, then truncate back to k by subtracting the (k+1)-th
        # largest — removes >= s*(k+1) units per subtraction s, so the
        # (n_rows - weight) budget stays a valid undercount bound
        vc = pdf["user_id"].value_counts()
        n_rows += int(vc.sum())
        for item, c in vc.items():
            item = int(item)
            mg[item] = mg.get(item, 0) + int(c)
        if len(mg) > k:
            s = sorted(mg.values(), reverse=True)[k]
            mg = {it: c - s for it, c in mg.items() if c - s > 0}
    state.update((list(mg.keys()), list(mg.values()), n_rows))
    budget = n_rows - sum(mg.values())
    items = [*mg.keys(), None]
    ests = [*mg.values(), 0]
    yield pd.DataFrame(
        {
            "grp": [key[0]] * len(items),
            "user_id": items,
            "est": ests,
            "n_rows": [n_rows] * len(items),
            "budget": [budget] * len(items),
        }
    )


from .llm import duck_h31

_SPARK_H31_UID = h31("CAST(user_id AS STRING)")
_DUCK_H31_UID = duck_h31("CAST(user_id AS VARCHAR)")


@query(
    "q129_stream_heavy_hitters",
    oracle=f"""
    WITH c AS (
      SELECT user_id, count(*) AS n_exact,
             ({_DUCK_H31_UID}) % {_HH_GROUPS} AS grp
      FROM events GROUP BY user_id
    ),
    g AS (SELECT grp, sum(n_exact) AS n_g FROM c GROUP BY 1)
    SELECT user_id, n_exact, TRUE AS found_ok, TRUE AS bound_ok
    FROM c JOIN g USING (grp)
    WHERE n_exact * {_HH_K + 1} > n_g
    ORDER BY user_id
    """,
    category="streaming",
)
def q129(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.tables import load_table

    spark_grp = f"({_SPARK_H31_UID}) % {_HH_GROUPS}"
    rows = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.withColumn("grp", F.expr(spark_grp)).groupBy("grp"),
            _mg_stream_update,
            _HH_OUT,
            _HH_STATE,
        ),
        "update",
        min_batches=3,
    )
    latest = rows.withColumn(
        "_maxn", F.max("n_rows").over(Window.partitionBy("grp"))
    ).filter(F.col("n_rows") == F.col("_maxn"))
    summary = latest.filter(F.col("user_id").isNotNull() & (F.col("est") > 0)).select(
        "grp", "user_id", "est"
    )
    budgets = latest.groupBy("grp").agg(
        F.expr(f"max(budget) div {_HH_K + 1}").alias("err_g")
    )

    exact = (
        load_table(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_exact"))
        .withColumn("grp", F.expr(spark_grp))
    )
    n_g = exact.groupBy("grp").agg(F.sum("n_exact").alias("n_g"))
    heavy = exact.join(n_g, "grp").filter(
        F.col("n_exact") * (_HH_K + 1) > F.col("n_g")
    )
    return (
        heavy.join(summary, ["grp", "user_id"], "left")
        .join(budgets, "grp", "left")
        .select(
            "user_id",
            "n_exact",
            F.col("est").isNotNull().alias("found_ok"),
            F.coalesce(
                (F.col("est") <= F.col("n_exact"))
                & (F.col("n_exact") <= F.col("est") + F.col("err_g")),
                F.lit(False),
            ).alias("bound_ok"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# q143 — streaming-executed distribution-drift monitor: the per-(day,
# type) counts that feed the exact TV-distance algebra (q136's
# tv_from_daily_counts) are accumulated by a STREAMING daily-window
# aggregation across multiple micro-batches (time-split source,
# maxFilesPerTrigger=1 => the count state for a day is built
# incrementally as batches arrive and re-emitted complete at drain).
# This is the production posture for a pipeline-health drift alarm —
# counts maintained incrementally by the stream, the day-over-day
# comparison computed over the always-current state — certified
# against the same batch SQL oracle as q136.
# --------------------------------------------------------------------------


@query(
    "q143_stream_tv_drift",
    oracle="""
    WITH cnt AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d, event_type,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    contrib AS (
      SELECT d, event_type, c AS cur, 0 AS prev FROM cnt
      UNION ALL
      SELECT d + 1, event_type, 0, c FROM cnt
    ),
    pairs AS (
      SELECT d, event_type, SUM(cur) AS cur, SUM(prev) AS prev
      FROM contrib GROUP BY 1, 2
    ),
    tot AS (
      SELECT d, SUM(cur) AS n_cur, SUM(prev) AS n_prev FROM pairs GROUP BY 1
    )
    SELECT p.d AS day,
           CAST(SUM(abs(p.cur * t.n_prev - p.prev * t.n_cur)) AS DOUBLE)
             / (2.0 * t.n_cur * t.n_prev) AS tv
    FROM pairs p JOIN tot t ON p.d = t.d
    WHERE t.n_cur > 0 AND t.n_prev > 0
    GROUP BY p.d, t.n_cur, t.n_prev
    ORDER BY day
    """,
    category="streaming",
)
def q143(spark: SparkSession, sf: str) -> DataFrame:
    from .mining import tv_from_daily_counts

    sink = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: stream.groupBy(
            F.window("ts", "1 day").alias("w"), "event_type"
        ).agg(F.count("*").alias("c")),
        "complete",
        min_batches=3,
    )
    cnt = sink.select(
        F.col("w.start").cast("date").alias("d"), "event_type", "c"
    )
    return tv_from_daily_counts(cnt)



# --------------------------------------------------------------------------
# q163 — STREAMING integer-EWMA anomaly detection: the q151 recurrence
# (daily revenue cents per event type, s' = (3x + 7s) div 10) maintained
# as applyInPandasWithState custom state across MULTIPLE micro-batches.
# The event-time-ordered file splits guarantee at most one partial day
# per key at any batch boundary, so the state carries exactly
# (carry_day, carry_cents, ewma, started): each batch folds every
# completed day in order, emits its (x, prev, ewma, spike) row once,
# and re-carries the newest day. A day straddling a batch boundary
# accumulates in the carry before folding — batching cannot change the
# result. The stream's final day never completes (no later event
# proves it closed), so the oracle — the identical recurrence as a
# recursive CTE — excludes each type's last day: the streaming answer
# is the longest PREFIX the watermarkless day-close rule can certify,
# and EWMA's prefix property makes that exactly the truncated series.
#
# 100 TB shape: state is 4 integers per event type (bounded by the
# type vocabulary, not the stream), emissions are one row per
# completed (type, day); the q99 state-partitioning argument applies
# verbatim. This closes the drift-family loop: q151 is the batch
# detector, q136/q140/q143 its distribution twins, this the
# continuously-maintained production form.
# --------------------------------------------------------------------------

_EWMA_STATE = "carry_day BIGINT, carry_cents BIGINT, ewma BIGINT, started BIGINT"
_EWMA_OUT = (
    "event_type STRING, day DATE, x_cents BIGINT, ewma_prev BIGINT, "
    "ewma BIGINT, is_spike BOOLEAN"
)


def _ewma_update(key, batches, state):
    import datetime
    import math

    import pandas as pd

    carry_day, carry_cents, ewma, started = (
        state.get if state.exists else (-1, 0, 0, 0)
    )
    days: dict[int, int] = {}
    if carry_day >= 0:
        days[int(carry_day)] = int(carry_cents)
    for pdf in batches:
        d = pdf["ts"].values.astype("datetime64[D]").astype("int64")
        for di, v in zip(d, pdf["value"]):
            days[int(di)] = days.get(int(di), 0) + int(
                math.floor(float(v) * 100.0 + 0.5)
            )
    ordered = sorted(days)
    rows = []
    epoch = datetime.date(1970, 1, 1)
    for di in ordered[:-1]:
        x = days[di]
        if not started:
            prev, ewma, started = x, x, 1
        else:
            prev, ewma = ewma, (3 * x + 7 * ewma) // 10
        rows.append(
            (
                key[0],
                epoch + datetime.timedelta(days=di),
                x,
                prev,
                ewma,
                4 * abs(x - prev) > prev,
            )
        )
    carry = ordered[-1] if ordered else -1
    state.update((carry, days.get(carry, 0), int(ewma), int(started)))
    yield pd.DataFrame(
        rows,
        columns=["event_type", "day", "x_cents", "ewma_prev", "ewma", "is_spike"],
    )


@query(
    "q163_stream_ewma",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(28,2))) * 100 AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    seq AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ),
    ew AS (
      SELECT event_type, day, x, rn, x AS prev, x AS ewma
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.event_type, s.day, s.x, s.rn, e.ewma AS prev,
             (3 * s.x + 7 * e.ewma) // 10 AS ewma
      FROM seq s JOIN ew e ON s.event_type = e.event_type AND s.rn = e.rn + 1
    ),
    last_day AS (SELECT event_type, MAX(day) AS md FROM daily GROUP BY 1)
    SELECT e.event_type, e.day, e.x AS x_cents, e.prev AS ewma_prev, e.ewma,
           4 * abs(e.x - e.prev) > e.prev AS is_spike
    FROM ew e JOIN last_day m ON e.event_type = m.event_type
    WHERE e.day < m.md
    ORDER BY e.event_type, e.day
    """,
    category="streaming",
)
def q163(spark: SparkSession, sf: str) -> DataFrame:
    sink = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.select("event_type", "ts", "value").groupBy("event_type"),
            _ewma_update,
            _EWMA_OUT,
            _EWMA_STATE,
        ),
        "update",
        min_batches=3,
    )
    # each completed (type, day) is emitted exactly once
    return sink.orderBy("event_type", "day")


# --------------------------------------------------------------------------
# q164 — watermark LATE-DATA DROP accounting: the first third of the
# event stream is RE-DELIVERED as the final file (an at-least-once
# duplicate flood, the reference's recovery signature — its answer is
# re-run + MSCK, README.md:139), after the watermark has advanced past
# those days. Append-mode daily tumbling counts must therefore (a)
# DROP the entire replay — the duplicates cannot inflate any count —
# and (b) emit exactly the windows finalized by the final watermark
# (end <= max event time - delay). The oracle is the plain batch
# aggregate over the ORIGINAL table restricted to finalized windows
# with the same integer delay arithmetic, so a single hash match
# certifies both behaviors: any un-dropped duplicate inflates a count,
# any mis-finalized window adds/loses a row.
#
# Determinism: file mtimes pin the replay to the LAST micro-batch
# (maxFilesPerTrigger=1), the delay is the integer
# (span_us div 1e6) div 6 seconds on both sides, and slice boundaries
# are event-time thirds — watermark after the clean slices is
# max_ts - delay, already past every replayed day's window end.
#
# 100 TB shape: this is the semantics the stream relies on AT scale —
# bounded state (watermark evicts finalized windows) and idempotence
# under redelivery come from the same mechanism being certified here.
# --------------------------------------------------------------------------


@query(
    "q164_stream_late_drop",
    oracle="""
    WITH b AS (
      SELECT epoch_us(MIN(ts)) AS lo, epoch_us(MAX(ts)) AS hi FROM events
    ),
    w AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
             COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT w.window_start, w.n
    FROM w CROSS JOIN b
    WHERE epoch_us(w.window_start + INTERVAL 1 DAY)
          <= b.hi - ((b.hi - b.lo) // 1000000 // 6) * 1000000
    ORDER BY w.window_start
    """,
    category="streaming",
)
def q164(spark: SparkSession, sf: str) -> DataFrame:
    import datetime

    # three event-time thirds in mtime order, then slice 0 re-delivered last
    src = _stage(sf, "events", "ts", 3, deliver=(0, 1, 2, 0))
    span_us = (src.hi - src.lo) // datetime.timedelta(microseconds=1)
    delay_s = int(span_us // 1_000_000 // 6)
    sink = _drain(
        spark,
        src,
        lambda stream: stream.withWatermark("ts", f"{delay_s} seconds")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "n"),
        min_batches=4,
    )
    return sink.orderBy("window_start")


# --------------------------------------------------------------------------
# q171 — STREAMING training-sequence construction: q168's supervised
# (context[3], label) pair builder as applyInPandasWithState custom
# state maintained across MULTIPLE micro-batches — the online
# feature-pipeline form of next-event training-example construction.
# Per sampled user the state is a 3-type ring buffer plus the event
# counter; when event n+1 arrives with n >= 3 the pair for event n
# (ctx = types of events n-2..n, label = type of n+1) is emitted
# EXACTLY once, whatever batch boundary falls between the context and
# its label. Event-time-ordered file splits keep per-user arrival
# order; within a batch the group's rows are sorted by (ts, event_id)
# — the same total order the batch window uses — so the streamed
# output equals batch q168 row-for-row and the oracle is q168's SQL
# verbatim. The final event of each user never becomes a label source
# for itself, matching the batch NULL-lead filter by construction.
#
# 100 TB shape: state is 3 short strings + 1 counter per user (bounded
# by the entity space, not the stream length); emissions are one row
# per qualifying event; the shuffle is the hash partitioning on
# user_id that every stateful operator pays once.
# --------------------------------------------------------------------------

_SEQ_STATE = "n BIGINT, a STRING, b STRING, c STRING"
# ctx is serialized to one comma-joined string (scalar output columns
# only — the canonicalizer contract; matches batch q168)
_SEQ_OUT = "user_id BIGINT, pos BIGINT, ctx STRING, label STRING"


def _seq_update(key, batches, state):
    import pandas as pd

    n, a, b, c = state.get if state.exists else (0, None, None, None)
    pdfs = [p for p in batches]
    pdf = pd.concat(pdfs, ignore_index=True).sort_values(["ts", "event_id"])
    rows = []
    for et in pdf["event_type"]:
        if n >= 3:
            rows.append((key[0], n, f"{a},{b},{c}", et))
        n, a, b, c = n + 1, b, c, et
    state.update((int(n), a, b, c))
    yield pd.DataFrame(rows, columns=["user_id", "pos", "ctx", "label"])


@query(
    "q171_stream_sequences",
    oracle="""
    SELECT user_id, pos, array_to_string(ctx, ',') AS ctx, label FROM (
      SELECT user_id,
             ROW_NUMBER() OVER w AS pos,
             [lag(event_type, 2) OVER w,
              lag(event_type, 1) OVER w,
              event_type] AS ctx,
             lead(event_type, 1) OVER w AS label
      FROM events
      WHERE user_id % 10 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    WHERE ctx[1] IS NOT NULL AND label IS NOT NULL
    ORDER BY user_id, pos
    """,
    category="streaming",
)
def q171(spark: SparkSession, sf: str) -> DataFrame:
    sink = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.filter(F.col("user_id") % 10 == 0)
            .select("user_id", "ts", "event_id", "event_type")
            .groupBy("user_id"),
            _seq_update,
            _SEQ_OUT,
            _SEQ_STATE,
        ),
        "update",
        min_batches=3,
    )
    return sink.orderBy("user_id", "pos")


# --------------------------------------------------------------------------
# q177 — STREAMING strict sequential funnel: q87's chained min-after
# funnel (view -> click -> purchase) maintained as per-user stage
# state across MULTIPLE micro-batches — the real-time conversion
# monitor. State is (stage, t): scanning each user's events in
# (ts, event_id) order, the first 'view' sets stage 1 at t1, the first
# 'click' strictly after t1 sets stage 2, the first 'purchase'
# strictly after t2 sets stage 3 — a greedy in-order scan computes
# exactly the chained minima, whatever batch boundary interleaves the
# stages. Each stage advance is emitted once; the drained sink rolls
# up to the SAME single-row counts as the batch funnel, so q87's SQL
# is the oracle verbatim.
#
# 100 TB shape: state is 2 integers per user (entity-bounded);
# emissions are <= 3 rows per user ever; the shuffle is the standard
# stateful hash partitioning on user_id.
# --------------------------------------------------------------------------

_FUNNEL_STATE = "stage BIGINT, t BIGINT"
_FUNNEL_OUT = "user_id BIGINT, stage BIGINT"
_FUNNEL_STEPS = ("view", "click", "purchase")


def _funnel_update(key, batches, state):
    import pandas as pd

    stage, t = state.get if state.exists else (0, 0)
    pdfs = [p for p in batches]
    pdf = pd.concat(pdfs, ignore_index=True).sort_values(["ts", "event_id"])
    us = pdf["ts"].astype("int64")  # pandas datetime64[ns] -> int64 nanos
    rows = []
    for et, ts_ns in zip(pdf["event_type"], us):
        if stage < len(_FUNNEL_STEPS) and et == _FUNNEL_STEPS[stage] and (
            stage == 0 or ts_ns > t
        ):
            stage, t = stage + 1, int(ts_ns)
            rows.append((key[0], stage))
    state.update((int(stage), int(t)))
    yield pd.DataFrame(rows, columns=["user_id", "stage"])


@query(
    "q177_stream_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3 FROM events e
      JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS viewed,
           (SELECT count(*) FROM s2) AS clicked_after_view,
           (SELECT count(*) FROM s3) AS purchased_after_click
    """,
    category="streaming",
)
def q177(spark: SparkSession, sf: str) -> DataFrame:
    sink = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.select("user_id", "ts", "event_id", "event_type").groupBy("user_id"),
            _funnel_update,
            _FUNNEL_OUT,
            _FUNNEL_STATE,
        ),
        "update",
        min_batches=3,
    )
    # each (user, stage) advance is emitted exactly once -> stage counts
    return sink.agg(
        F.count(F.when(F.col("stage") == 1, 1)).alias("viewed"),
        F.count(F.when(F.col("stage") == 2, 1)).alias("clicked_after_view"),
        F.count(F.when(F.col("stage") == 3, 1)).alias("purchased_after_click"),
    )


# --------------------------------------------------------------------------
# q178 — STREAMING incremental MinHash-LSH near-dedup: the q52 banding
# applied to a LIVE document stream — the form a production ingest
# pipeline needs (the batch dedup family assumes the corpus is at
# rest; an event-driven lake ingests documents one micro-batch at a
# time and must flag each arrival against everything already seen).
#
# The MinHash signature is computed ENTIRELY map-side per document row
# (one md5 per shingle via a transform(), then 16 array-fold minima —
# no explode, no shuffle, unlike batch q52's groupBy path), the 4 band
# signatures posexplode to (band, sig) rows, and ONE stateful operator
# — applyInPandasWithState keyed by the LSH bucket — owns the
# incremental state: the smallest doc_id ever seen in that bucket.
# Documents arrive in doc_id order (range-split files, the q171
# arrival-order technique with doc_id as the axis; within a batch the
# group sorts by doc_id), so each arrival either claims an empty
# bucket or emits (doc_id, bucket_owner) exactly once, whatever batch
# boundary separates a document from its near-duplicate. The drained
# sink reduces per doc to the SMALLEST earlier near-dup across bands —
# which is precisely the batch semantics "min earlier doc sharing any
# band signature", so the oracle is q52's signature algebra with a
# min-earlier join.
#
# 100 TB shape: per-bucket state is ONE long (owner id), keys are the
# occupied LSH buckets — entity-bounded at ~bands x docs worst case
# but hash-partitioned like all stateful state; per-row work is the
# signature fold; the only shuffle is the stateful hash partitioning
# on (band, sig). The streamed result is incremental: each micro-batch
# emits only the new arrivals' verdicts, the re-scan a batch pipeline
# would pay per refresh never happens.
# --------------------------------------------------------------------------

def _stream_lsh_oracle() -> str:
    from .llm import (
        MERSENNE_P,
        N_BANDS,
        NUM_PERM,
        PERM_A,
        PERM_B,
        ROWS_PER_BAND,
        duck_h31,
    )

    mins = ",\n           ".join(
        f"MIN(({PERM_A[i]} * hs + {PERM_B[i]}) % {MERSENNE_P}) AS m{i}"
        for i in range(NUM_PERM)
    )
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS sig FROM mh".format(
            b=b,
            sig=" || '_' || ".join(
                f"CAST(m{b * ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""
    WITH w3 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    tok AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 2),
                    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS s
      FROM w3
    ),
    h AS (SELECT doc_id, {duck_h31('s')} AS hs FROM tok),
    mh AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    bands AS ({band_rows})
    SELECT a.doc_id, CAST(MIN(b.doc_id) AS BIGINT) AS dup_of
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND b.doc_id < a.doc_id
    GROUP BY a.doc_id ORDER BY a.doc_id
    """


@query("q178_stream_lsh_dedup", oracle=_stream_lsh_oracle(), category="streaming")
def q178(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.neardup import lsh_dedup_stream

    sink = _drain(
        spark,
        _stage(sf, "documents", "doc_id", 3),
        lsh_dedup_stream,
        "update",
        min_batches=3,
    )
    return (
        sink.groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q185 — STREAMING exact k-per-group reservoir (round 5): q169's
# "10 per class" eval-set primitive maintained INCREMENTALLY over a
# live document stream. A training pipeline that ingests continuously
# wants its held-out sample to stay exactly-k and deterministic as the
# corpus grows — re-running batch q169 per refresh re-scans everything;
# this operator updates the sample in place.
#
# One applyInPandasWithState operator keyed by lang holds the k
# smallest (portable_hash, doc_id) pairs ever seen (the selection is a
# deterministic hash order, so the maintained set equals batch q169's
# window answer at every prefix, and the final drained state equals it
# on the whole corpus — making q169's SQL the oracle verbatim). The
# hash is computed map-side BEFORE the stateful exchange (JVM md5);
# state per group is two k-length CSV strings + a version counter, so
# state is k-bounded per group regardless of stream length. Each batch
# emits the group's current winner set stamped with the version; the
# drained sink keeps each group's newest version (the q85 latest-
# per-key rollup shape).
# --------------------------------------------------------------------------

_RES_OUT_SCHEMA = "lang STRING, doc_id BIGINT, rk BIGINT, ver BIGINT"
_RES_STATE_SCHEMA = "hs STRING, ids STRING, ver BIGINT"


def _reservoir_update(key, batches, state):
    """Merge the batch's (h, doc_id) rows into the k smallest kept so
    far; emit the refreshed winner set with a bumped version."""
    import pandas as pd

    from ..queries.prep import _RESERVOIR_K

    if state.exists:
        hs_s, ids_s, ver = state.get
        cur = (
            list(zip((int(x) for x in hs_s.split(",")), (int(x) for x in ids_s.split(","))))
            if hs_s
            else []
        )
        ver = int(ver)
    else:
        cur, ver = [], 0
    for pdf in batches:
        cur.extend(zip((int(x) for x in pdf["h"]), (int(x) for x in pdf["doc_id"])))
    cur = sorted(set(cur))[:_RESERVOIR_K]
    ver += 1
    state.update(
        (
            ",".join(str(h) for h, _ in cur),
            ",".join(str(d) for _, d in cur),
            ver,
        )
    )
    yield pd.DataFrame(
        [(key[0], d, i + 1, ver) for i, (_, d) in enumerate(cur)],
        columns=["lang", "doc_id", "rk", "ver"],
    )


@query(
    "q185_stream_reservoir",
    oracle=f"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY {duck_h31("'r169-' || CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rk
      FROM documents
    ) WHERE rk <= 10
    ORDER BY lang, rk
    """,
    category="streaming",
)
def q185(spark: SparkSession, sf: str) -> DataFrame:
    sink = _drain(
        spark,
        _stage(sf, "documents", "doc_id", 3),
        lambda docs: _stateful(
            docs.select(
                "lang",
                "doc_id",
                F.expr(h31("concat('r169-', CAST(doc_id AS STRING))")).alias("h"),
            ).groupBy("lang"),
            _reservoir_update,
            _RES_OUT_SCHEMA,
            _RES_STATE_SCHEMA,
        ),
        "update",
        min_batches=3,
    )
    w = Window.partitionBy("lang")
    return (
        sink.withColumn("_vmax", F.max("ver").over(w))
        .filter(F.col("ver") == F.col("_vmax"))
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


# --------------------------------------------------------------------------
# q200 — STREAMING CUSUM change-point detection: the q196 recurrence
# (one-sided cumulative excess over a reference mean, integer dollars)
# maintained PER EVENT TYPE as applyInPandasWithState across multiple
# micro-batches. Reference parameters (target = floor-mean of the
# type's daily series, slack = target/20, alarm threshold = target/2)
# come from a deterministic batch PRE-SCAN — the production shape,
# where the reference mean is fit on a trailing window and the live
# stream is monitored against it; here the fit window is the whole
# table so the oracle can recompute it exactly.
#
# Batch-boundary discipline is q163's: event-time-ordered file splits
# leave at most one partial day per key at any boundary, the state
# carries (carry_day, carry_cents, s, started), each CLOSED day folds
# exactly once in order, and the never-provably-closed final day is
# excluded on both sides — the streaming answer is the longest prefix
# the watermarkless day-close rule can certify.
#
# 100 TB shape: state is 4 integers per event type (catalog-bounded),
# params are one tiny broadcast-ish driver dict (|types| rows from the
# pre-scan — same cost class as q160's centroid literals), emissions
# one row per closed (type, day).
# --------------------------------------------------------------------------

_CUSUM_STATE = "carry_day BIGINT, carry_cents BIGINT, s BIGINT, started BIGINT"
_CUSUM_OUT = (
    "event_type STRING, day DATE, x_dollars BIGINT, cusum BIGINT, alarm BOOLEAN"
)


def _make_cusum_update(params: dict[str, tuple[int, int, int]]):
    def update(key, batches, state):
        import datetime
        import math

        import pandas as pd

        target, slack, thresh = params[key[0]]
        carry_day, carry_cents, s, started = (
            state.get if state.exists else (-1, 0, 0, 0)
        )
        days: dict[int, int] = {}
        if carry_day >= 0:
            days[int(carry_day)] = int(carry_cents)
        for pdf in batches:
            d = pdf["ts"].values.astype("datetime64[D]").astype("int64")
            for di, v in zip(d, pdf["value"]):
                days[int(di)] = days.get(int(di), 0) + int(
                    math.floor(float(v) * 100.0 + 0.5)
                )
        ordered = sorted(days)
        rows = []
        epoch = datetime.date(1970, 1, 1)
        for di in ordered[:-1]:
            x = days[di] // 100
            s = max(0, int(s) + x - target - slack)
            started = 1
            rows.append(
                (
                    key[0],
                    epoch + datetime.timedelta(days=di),
                    x,
                    s,
                    s > thresh,
                )
            )
        carry = ordered[-1] if ordered else -1
        state.update((carry, days.get(carry, 0), int(s), int(started)))
        yield pd.DataFrame(
            rows, columns=["event_type", "day", "x_dollars", "cusum", "alarm"]
        )

    return update


@query(
    "q200_stream_cusum",
    oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             {_cents_sum("value")} // 100 AS x
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT event_type,
             CAST(SUM(x) AS BIGINT) // count(*) AS target,
             (CAST(SUM(x) AS BIGINT) // count(*)) // 20 AS slack,
             (CAST(SUM(x) AS BIGINT) // count(*)) // 2 AS thresh
      FROM daily GROUP BY 1
    ),
    seq AS (
      SELECT event_type, day, x,
             row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      FROM daily
    ),
    rec AS (
      SELECT s.event_type, s.day, s.x, s.rn,
             greatest(CAST(0 AS BIGINT), s.x - p.target - p.slack) AS s
      FROM seq s JOIN p ON s.event_type = p.event_type WHERE s.rn = 1
      UNION ALL
      SELECT s.event_type, s.day, s.x, s.rn,
             greatest(CAST(0 AS BIGINT), r.s + s.x - p.target - p.slack) AS s
      FROM seq s
      JOIN rec r ON s.event_type = r.event_type AND s.rn = r.rn + 1
      JOIN p ON s.event_type = p.event_type
    ),
    last_day AS (SELECT event_type, MAX(day) AS md FROM daily GROUP BY 1)
    SELECT r.event_type, r.day, r.x AS x_dollars, r.s AS cusum,
           r.s > p.thresh AS alarm
    FROM rec r
    JOIN p ON r.event_type = p.event_type
    JOIN last_day m ON r.event_type = m.event_type
    WHERE r.day < m.md
    ORDER BY r.event_type, r.day
    """,
    category="streaming",
)
def q200(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.tables import load_table

    # deterministic batch pre-scan: the reference mean per type (the
    # "fit" the live stream is monitored against)
    daily = (
        load_table(spark, sf, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.expr(f"{_cents_sum('value')} div 100").alias("x")
        )
    )
    prows = (
        daily.groupBy("event_type")
        .agg(
            F.expr("CAST(SUM(x) AS BIGINT) div count(*)").alias("target"),
        )
        .collect()
    )
    params = {
        r["event_type"]: (r["target"], r["target"] // 20, r["target"] // 2)
        for r in prows
    }
    sink = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.select("event_type", "ts", "value").groupBy("event_type"),
            _make_cusum_update(params),
            _CUSUM_OUT,
            _CUSUM_STATE,
        ),
        "update",
        min_batches=3,
    )
    return sink.orderBy("event_type", "day")


# --------------------------------------------------------------------------
# q211 — STREAMING single-touch attribution: q208's last/first-touch
# credit maintained as per-user state across micro-batches — the
# real-time attribution ledger. State is two small strings per user
# (the most recent and the earliest non-conversion touch so far); each
# arriving conversion is credited immediately against that state and
# emitted exactly once, whatever batch boundary separates the touch
# from the conversion. The drained sink rolls up to the SAME channel
# table as the batch query, so q208's SQL is the oracle verbatim.
#
# 100 TB shape: state is entity-bounded (2 strings per user); the only
# shuffle is the standard stateful hash partitioning on user_id;
# emissions are one row per conversion ever.
# --------------------------------------------------------------------------

_ATTR_STATE = "last_ch STRING, first_ch STRING"
_ATTR_OUT = "user_id BIGINT, lc STRING, fc STRING"


def _attr_update(key, batches, state):
    import pandas as pd

    last_ch, first_ch = state.get if state.exists else ("", "")
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(
        ["ts", "event_id"]
    )
    rows = []
    for et in pdf["event_type"]:
        if et == "purchase":
            rows.append((key[0], last_ch or "(none)", first_ch or "(none)"))
        else:
            last_ch = et
            if not first_ch:
                first_ch = et
    state.update((last_ch, first_ch))
    yield pd.DataFrame(rows, columns=["user_id", "lc", "fc"])


@query(
    "q211_stream_attribution",
    oracle="""
    WITH s AS (
      SELECT event_type,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_ch,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_ch
      FROM events
    ),
    p AS (
      SELECT COALESCE(last_ch, '(none)') AS lc,
             COALESCE(first_ch, '(none)') AS fc
      FROM s WHERE event_type = 'purchase'
    ),
    l AS (SELECT lc AS channel, count(*) AS last_touch FROM p GROUP BY 1),
    f AS (SELECT fc AS channel, count(*) AS first_touch FROM p GROUP BY 1)
    SELECT COALESCE(l.channel, f.channel) AS channel,
           CAST(COALESCE(last_touch, 0) AS BIGINT) AS last_touch_purchases,
           CAST(COALESCE(first_touch, 0) AS BIGINT) AS first_touch_purchases
    FROM l FULL OUTER JOIN f ON l.channel = f.channel
    ORDER BY channel
    """,
    category="streaming",
    doc="incremental last/first-touch attribution, per-user stateful",
)
def q211(spark: SparkSession, sf: str) -> DataFrame:
    p = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.select("user_id", "ts", "event_id", "event_type").groupBy("user_id"),
            _attr_update,
            _ATTR_OUT,
            _ATTR_STATE,
        ),
        "update",
        min_batches=3,
    )
    l = p.groupBy(F.col("lc").alias("channel")).agg(
        F.count("*").alias("last_touch")
    )
    f = p.groupBy(F.col("fc").alias("channel")).agg(
        F.count("*").alias("first_touch")
    )
    return (
        l.join(f, "channel", "full_outer")
        .select(
            "channel",
            F.coalesce("last_touch", F.lit(0)).alias("last_touch_purchases"),
            F.coalesce("first_touch", F.lit(0)).alias("first_touch_purchases"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# q230 — STREAMING sequence-completeness monitor: q222's series audit
# maintained as per-order state while lines arrive — the live view of
# "which series are still incomplete" the batch audit only gives at
# rest. State per order is a 64-bit BITMASK of seen linenumbers plus
# (n, dups) counters — O(1) whatever the stream length; the verdict
# (complete/gapped/offset_start/duplicated) is re-derived from the mask
# on every arrival and re-emitted with a version counter, the sink
# keeps latest-per-order (the q185 pattern) and rolls up to q222's
# exact verdict table, so q222's SQL is the oracle verbatim. The
# ingest-window filter (l_shipdate < 1997-01-01) is applied in the
# source, mirroring the batch WHERE. A bitmask long covers sequence
# domains <= 62 (TPC-H linenumbers <= 7); DICOM InstanceNumber series
# run larger — widen the state to a fixed-size BinaryType bitmap, still
# O(max_number/8) per series, never O(rows).
#
# 100 TB shape: the stateful exchange carries (orderkey, linenumber)
# pairs — 16 bytes/row; state is 4 longs per open series.
# --------------------------------------------------------------------------

_COMP_STATE = "mask long, n long, dups long, version long"
_COMP_OUT = (
    "l_orderkey long, version long, n long, missing_in_span long, "
    "dup_rows long, verdict string"
)


def _lineitem_src(sf: str) -> _Source:
    """q230's stream source: lineitem rows inside the audit window
    (l_shipdate < 1997-01-01), projected to (l_orderkey, l_linenumber)
    and cut into 3 contiguous shipdate ranges, so a one-file-per-trigger
    reader replays the series' lines across micro-batches in ship order
    (an order's lines ship months apart, so per-order state genuinely
    crosses batches)."""
    import datetime

    import pyarrow.dataset as pads

    return _stage(
        sf,
        "lineitem",
        "l_shipdate",
        3,
        columns=["l_orderkey", "l_linenumber"],
        where=pads.field("l_shipdate") < datetime.datetime(1997, 1, 1),
    )


def _completeness_update(key, batches, state):
    import pandas as pd

    mask, n, dups, version = state.get if state.exists else (0, 0, 0, 0)
    mask, n, dups = int(mask), int(n), int(dups)
    for pdf in batches:
        for ln in pdf["l_linenumber"]:
            ln = int(ln)
            if not 1 <= ln <= 62:
                raise ValueError(
                    f"linenumber {ln} outside the long-bitmask domain; "
                    "widen state to a bytes bitmap for larger series"
                )
            bit = 1 << ln
            n += 1
            if mask & bit:
                dups += 1
            else:
                mask |= bit
    version = int(version) + 1
    state.update((mask, n, dups, version))
    d = bin(mask).count("1")
    mn = (mask & -mask).bit_length() - 1
    mx = mask.bit_length() - 1
    if d < n:
        verdict = "duplicated"
    elif mn > 1:
        verdict = "offset_start"
    elif mx > n:
        verdict = "gapped"
    else:
        verdict = "complete"
    yield pd.DataFrame(
        [(key[0], version, n, mx - mn + 1 - d, n - d, verdict)],
        columns=[
            "l_orderkey", "version", "n", "missing_in_span", "dup_rows", "verdict",
        ],
    )


@query(
    "q230_stream_completeness",
    oracle="""
    WITH g AS (
      SELECT l_orderkey,
             COUNT(*) AS n,
             COUNT(DISTINCT l_linenumber) AS d,
             MIN(l_linenumber) AS mn,
             MAX(l_linenumber) AS mx
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_orderkey
    ),
    v AS (
      SELECT l_orderkey, n, d, mn, mx,
             mx - mn + 1 - d AS missing_in_span,
             n - d AS dup_rows,
             CASE WHEN d < n THEN 'duplicated'
                  WHEN mn > 1 THEN 'offset_start'
                  WHEN mx > n THEN 'gapped'
                  ELSE 'complete' END AS verdict
      FROM g
    )
    SELECT verdict,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS total_rows,
           CAST(SUM(missing_in_span) AS BIGINT) AS total_missing_in_span,
           CAST(SUM(dup_rows) AS BIGINT) AS total_dup_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum
    FROM v GROUP BY verdict ORDER BY verdict
    """,
    category="streaming",
    doc="q222's completeness audit as live per-series bitmask state",
)
def q230(spark: SparkSession, sf: str) -> DataFrame:
    p = _drain(
        spark,
        _lineitem_src(sf),
        lambda stream: _stateful(
            stream.groupBy("l_orderkey"), _completeness_update, _COMP_OUT, _COMP_STATE
        ),
        "update",
        min_batches=3,
    )
    w = Window.partitionBy("l_orderkey").orderBy(F.col("version").desc())
    latest = p.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return (
        latest.groupBy("verdict")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n").alias("total_rows"),
            F.sum("missing_in_span").alias("total_missing_in_span"),
            F.sum("dup_rows").alias("total_dup_rows"),
            F.sum("l_orderkey").alias("key_checksum"),
        )
        .orderBy("verdict")
    )


# --------------------------------------------------------------------------
# q231 — STREAMING A/B experiment monitor: q158's readout maintained as
# the stream runs — the "peeking" dashboard that watches an experiment
# converge instead of waiting for the batch job. Per-user state is one
# conversion flag; a user's row is (re-)emitted only on first sight or
# on a 0->1 conversion upgrade, whatever batch boundary separates the
# user's events. The sink keeps latest-per-user, arms and the pooled
# two-proportion z are derived from that ledger with q158's exact
# expression tree, so q158's SQL is the oracle verbatim (the final
# micro-batch's readout IS the batch answer).
#
# 100 TB shape: the stateful exchange carries (user, type, value)
# triples; state is 2 longs per user; the readout after the drain is a
# 2-row conditional aggregate + a 1-row IEEE tree.
# --------------------------------------------------------------------------

_AB_STATE = "conv long, version long"
_AB_OUT = "user_id long, version long, c long"


def _ab_monitor_update(key, batches, state):
    import pandas as pd

    conv, version = state.get if state.exists else (0, 0)
    conv, version = int(conv), int(version)
    new_conv = conv
    for pdf in batches:
        hit = ((pdf["event_type"] == "purchase") & (pdf["value"] > 250.0)).any()
        if hit:
            new_conv = 1
    first_sight = version == 0
    version += 1
    state.update((new_conv, version))
    if first_sight or new_conv != conv:
        yield pd.DataFrame(
            [(key[0], version, new_conv)], columns=["user_id", "version", "c"]
        )
    else:
        yield pd.DataFrame([], columns=["user_id", "version", "c"])


@query(
    "q231_stream_ab_monitor",
    oracle="""
    WITH conv AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 250.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST('0x' || substr(md5('ab-' || CAST(user_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 2147483647 % 2 AS arm
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS c0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS c1
      FROM conv
    )
    , zc AS (
      SELECT n0, c0, n1, c1,
             CASE WHEN n0 > 0 AND n1 > 0 AND c0 + c1 > 0 AND c0 + c1 < n0 + n1
                  THEN (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                        - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                       / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                              * (1.0 - CAST(c0 + c1 AS DOUBLE)
                                       / CAST(n0 + n1 AS DOUBLE))
                              * (1.0 / CAST(n0 AS DOUBLE)
                                 + 1.0 / CAST(n1 AS DOUBLE)))
                  ELSE NULL END AS z
      FROM arms
    )
    SELECT n0, c0, n1, c1,
           CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS p0,
           CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
           z, abs(z) > 1.96 AS significant
    FROM zc
    """,
    category="streaming",
    doc="q158's A/B z readout as a live per-user conversion ledger",
)
def q231(spark: SparkSession, sf: str) -> DataFrame:
    p = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.select("user_id", "event_type", "value").groupBy("user_id"),
            _ab_monitor_update,
            _AB_OUT,
            _AB_STATE,
        ),
        "update",
        min_batches=3,
    )
    w = Window.partitionBy("user_id").orderBy(F.col("version").desc())
    conv = (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "c",
            (F.expr(h31("'ab-' || CAST(user_id AS STRING)")) % 2).alias("arm"),
        )
    )
    arms = conv.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0)).alias("c1"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    p0 = d(F.col("c0")) / d(F.col("n0"))
    p1 = d(F.col("c1")) / d(F.col("n1"))
    pp = d(F.col("c0") + F.col("c1")) / d(F.col("n0") + F.col("n1"))
    ok = (
        (F.col("n0") > 0)
        & (F.col("n1") > 0)
        & (F.col("c0") + F.col("c1") > 0)
        & (F.col("c0") + F.col("c1") < F.col("n0") + F.col("n1"))
    )
    z = F.when(
        ok,
        (p1 - p0)
        / F.sqrt(
            pp * (F.lit(1.0) - pp)
            * (F.lit(1.0) / d(F.col("n0")) + F.lit(1.0) / d(F.col("n1")))
        ),
    )
    return arms.select(
        "n0", "c0", "n1", "c1",
        p0.alias("p0"), p1.alias("p1"), z.alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("significant"),
    )


# --------------------------------------------------------------------------
# q241 — STREAMING burstiness monitor: q239's inter-arrival moments
# maintained as per-type state while events arrive — the live "is this
# stream getting burstier" readout a watermark-sizing operator wants
# continuously, where the batch q239 re-pays a full window pass per
# refresh. State per type is (last event (ts, id) + exact moment
# partials n / sum / sum-of-squares); gaps form in (ts, event_id)
# order WITHIN each batch and the carried last-event bridges batch
# boundaries, so the drained moments equal the batch window pass
# exactly whatever boundary falls between two events. sum(gap^2)
# passes 2^63 at real time spans, so it rides in the state as a
# decimal STRING (the q185 string-state precedent) and re-enters SQL
# through one decimal(38,0) cast; the final mu/sigma/B tree is q239's
# verbatim, as is the oracle. The chronological stream source slices
# by event-time VALUE, so ties never straddle batches.
#
# 100 TB shape: the stateful exchange carries (type, ts, id) rows;
# state is 4 longs + one short string per type.
# --------------------------------------------------------------------------

_BURST_STATE = "last_us long, last_id long, n long, sg long, sq string"
_BURST_OUT = "event_type string, version long, n long, sg long, sq string"


def _burst_update(key, batches, state):
    import pandas as pd

    if state.exists:
        last_us, last_id, n, sg, sq_s = state.get
        last_us, last_id, n, sg, sq = (
            int(last_us), int(last_id), int(n), int(sg), int(sq_s),
        )
        have_last = True
    else:
        last_us = last_id = n = sg = sq = 0
        have_last = False
    # A group's micro-batch rows arrive as MULTIPLE Arrow chunks (the
    # runner slices at maxRecordsPerBatch) in arbitrary post-shuffle
    # order, so sorting per-chunk would fold gaps across chunk seams
    # against the wrong predecessor. Accumulate every (ts, id) pair
    # first, sort the combined batch once, then fold.
    pairs: list[tuple[int, int]] = []
    for pdf in batches:
        us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
        pairs.extend(
            (int(t), int(e)) for t, e in zip(us, pdf["event_id"])
        )
    for t_us, eid in sorted(pairs):
        if have_last:
            gap = t_us - last_us
            n += 1
            sg += gap
            sq += gap * gap
        last_us, last_id, have_last = t_us, eid, True
    state.update((last_us, last_id, n, sg, str(sq)))
    # n is monotone per batch-with-arrivals, so it doubles as the
    # version for the latest-per-key sink pick; duplicate version-0
    # emissions (a key's very first event) carry identical content
    yield pd.DataFrame(
        [(key[0], n, n, sg, str(sq))],
        columns=["event_type", "version", "n", "sg", "sq"],
    )


@query(
    "q241_stream_burstiness",
    oracle="""
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id)) AS gap_us
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(gap_us) AS BIGINT) AS n,
             CAST(SUM(gap_us) AS BIGINT) AS sg,
             SUM(CAST(gap_us AS HUGEINT) * gap_us) AS sq
      FROM g WHERE gap_us IS NOT NULL GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sg,
             CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS mean_gap_us,
             CASE WHEN n >= 2
                  THEN sqrt((CAST(sq AS DOUBLE)
                             - (CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                               / CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) - 1.0))
                  END AS sd_gap_us
      FROM s
    )
    SELECT event_type, n AS n_gaps, mean_gap_us, sd_gap_us,
           CASE WHEN sd_gap_us IS NOT NULL AND sd_gap_us + mean_gap_us > 0
                THEN (sd_gap_us - mean_gap_us) / (sd_gap_us + mean_gap_us)
                END AS burstiness
    FROM m ORDER BY event_type
    """,
    category="streaming",
    doc="q239's burstiness as live per-type exact-moment state",
)
def q241(spark: SparkSession, sf: str) -> DataFrame:
    p = _drain(
        spark,
        _stage(sf, "events", "ts", 3),
        lambda stream: _stateful(
            stream.select("event_type", "ts", "event_id").groupBy("event_type"),
            _burst_update,
            _BURST_OUT,
            _BURST_STATE,
        ),
        "update",
        min_batches=3,
    )
    w = Window.partitionBy("event_type").orderBy(F.col("version").desc())
    latest = (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("n").alias("n_gaps"),
            "sg",
            F.col("sq").cast("decimal(38,0)").alias("sq"),
        )
        .filter(F.col("n_gaps") > 0)
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean = d("sg") / d("n_gaps")
    sd = F.when(
        F.col("n_gaps") >= 2,
        F.sqrt(
            (d("sq") - (d("sg") * d("sg")) / d("n_gaps"))
            / (d("n_gaps") - F.lit(1.0))
        ),
    )
    m = latest.select(
        "event_type",
        "n_gaps",
        mean.alias("mean_gap_us"),
        sd.alias("sd_gap_us"),
    )
    b = F.when(
        F.col("sd_gap_us").isNotNull()
        & (F.col("sd_gap_us") + F.col("mean_gap_us") > 0),
        (F.col("sd_gap_us") - F.col("mean_gap_us"))
        / (F.col("sd_gap_us") + F.col("mean_gap_us")),
    )
    return m.select(
        "event_type", "n_gaps", "mean_gap_us", "sd_gap_us", b.alias("burstiness")
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# q266 — STREAMING Count-Min sketch: q262's 4x256 sketch maintained as
# a live streaming aggregate while documents arrive — the canonical
# "sketch the stream, audit against batch truth" shape (CM was DESIGNED
# as a streaming summary; this is its native habitat). The sketch IS a
# streaming groupBy(i, bucket) count over the hashed token stream —
# 1024 cells of state regardless of stream length; every micro-batch
# re-emits the cells it touched with their CURRENT totals (update
# mode), and because counters are MONOTONE the drained sink's
# max-per-cell equals the final state without any version bookkeeping.
# The audit joins the drained sketch against the exact batch top-20 —
# identical arithmetic to q262, so q262's oracle is the oracle
# VERBATIM: the drained stream sketch must equal the batch sketch
# cell-for-cell.
#
# 100 TB shape: the stateful exchange carries (i, bucket) pairs only
# (16 bytes/row after map-side partial aggregation); state is d*w
# longs forever. The audit is a 20-word broadcast join.
# --------------------------------------------------------------------------


@query(
    "q266_stream_countmin",
    oracle=None,  # set below to q262's oracle verbatim
    category="streaming",
    doc="q262's Count-Min sketch as a live streaming aggregate; drained cells == batch sketch, q262 oracle verbatim",
)
def q266(spark: SparkSession, sf: str) -> DataFrame:
    from .mining import _CM_D, _CM_W

    def counters(docs: DataFrame) -> DataFrame:
        tok = docs.select(
            F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("w")
        )
        bucket_exprs = []
        for i in range(_CM_D):
            salted = "concat('cm" + str(i) + "-', w)"
            bucket_exprs.append(F.expr(f"{h31(salted)} % {_CM_W}"))
        hashed = tok.select(F.posexplode(F.array(*bucket_exprs)).alias("i", "bucket"))
        return hashed.groupBy("i", "bucket").agg(F.count("*").alias("c"))

    sink = _drain(
        spark, _stage(sf, "documents", "doc_id", 3), counters, "update", min_batches=3
    )
    # counters are monotone: the latest emission per cell is its max
    sketch = sink.groupBy("i", "bucket").agg(F.max("c").alias("c"))
    # batch-exact top-20 audit (q262's tail, verbatim arithmetic)
    from .base import t

    tok_b = (
        t(spark, sf, "documents")
        .select(F.expr("filter(split(text, ' '), x -> x <> '')").alias("ws"))
        .select(F.explode("ws").alias("w"))
    )
    bucket_exprs_b = []
    for i in range(_CM_D):
        salted = "concat('cm" + str(i) + "-', w)"
        bucket_exprs_b.append(F.expr(f"{h31(salted)} % {_CM_W}"))
    exact = tok_b.groupBy("w").agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), "w").limit(20)
    top_buckets = top.select(
        "w", "exact_n", F.posexplode(F.array(*bucket_exprs_b)).alias("i", "bucket")
    )
    return (
        top_buckets.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("w", "exact_n")
        .agg(F.min("c").alias("cm_est"))
        .select(
            "w",
            "exact_n",
            "cm_est",
            (F.col("cm_est") - F.col("exact_n")).alias("overestimate"),
        )
        .orderBy(F.col("exact_n").desc(), "w")
    )


def _set_q266_oracle() -> None:
    from .base import QUERIES
    from .mining import _q262_oracle

    QUERIES["q266_stream_countmin"].oracle = _q262_oracle()


_set_q266_oracle()


# --------------------------------------------------------------------------
# q280 — STREAMING AMS F2 sketch: q272's second-moment sketch
# maintained as a live streaming aggregate while documents arrive —
# AMS was introduced AS a one-pass stream algorithm (Alon-Matias-
# Szegedy 1996); this runs it in that native habitat the way q266
# does for Count-Min. The sign counters X_j are NOT monotone (signs
# are ±1), so the drained-sink max trick q266 leans on would be wrong
# here; instead each X_j splits into its two MONOTONE halves — a
# (+1)-count and a (−1)-count per row j — giving a 16-cell streaming
# groupBy whose per-cell maxima ARE the final state, and
# X_j = pos_j − neg_j reassembles exactly. The audit tail is q272's
# verbatim arithmetic (median of squares in 2x integer space against
# the exact batch F2), so q272's oracle is the oracle VERBATIM: the
# drained stream sketch must equal the batch sketch value-for-value.
#
# 100 TB shape: the stateful exchange carries (j, sign) pairs only;
# state is 16 longs forever. The exact-F2 audit side is the batch
# word count (the cost an audit pays; the SKETCH never leaves 16
# cells).
# --------------------------------------------------------------------------


@query(
    "q280_stream_ams",
    oracle=None,  # set below to q272's oracle verbatim
    category="streaming",
    doc="q272's AMS F2 sketch as a live streaming aggregate via monotone (+/-) cell halves; q272 oracle verbatim",
)
def q280(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline import _AMS_D

    def counters(docs: DataFrame) -> DataFrame:
        tok = docs.select(
            F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("w")
        )
        sign_exprs = [
            F.expr(f"{h31(chr(39) + f'ams{j}-' + chr(39) + ' || w')} % 2")
            for j in range(_AMS_D)
        ]
        cells = tok.select(F.posexplode(F.array(*sign_exprs)).alias("j", "neg"))
        return cells.groupBy("j", "neg").agg(F.count("*").alias("c"))

    sink = _drain(
        spark, _stage(sf, "documents", "doc_id", 3), counters, "update", min_batches=3
    )
    # each (j, neg) cell is a monotone count: latest emission == max
    drained = sink.groupBy("j", "neg").agg(F.max("c").alias("c"))
    xs = drained.groupBy("j").agg(
        F.sum(F.when(F.col("neg") == 0, F.col("c")).otherwise(-F.col("c")))
        .cast("long")
        .alias("x")
    )
    sk = xs.groupBy().pivot("j", list(range(_AMS_D))).sum("x")
    sk = sk.select(*[F.col(str(j)).alias(f"x{j}") for j in range(_AMS_D)])
    # exact-F2 audit tail: the SAME function q272 runs, so the
    # "q272 oracle verbatim" contract cannot desynchronize
    from ..pipeline import ams_audit_tail
    from .mining import ams_token_frame

    return ams_audit_tail(sk, ams_token_frame(spark, sf))


def _set_q280_oracle() -> None:
    from .base import QUERIES
    from .mining import _q272_oracle

    QUERIES["q280_stream_ams"].oracle = _q272_oracle()


_set_q280_oracle()


# --------------------------------------------------------------------------
# q290 — STREAMING hash-Poisson bootstrap: q281's per-source confidence
# intervals maintained as a live streaming aggregate while documents
# arrive — the uncertainty readout a streaming corpus monitor shows
# NEXT TO its running means (Poisson bootstrap was designed for
# exactly this: Chamandy et al. 2012 run it over streams, since the
# per-record weights need no global resample). The stateful exchange
# carries (source, r) cells only — |sources| x 65 cells of state
# forever; both per-cell sums (weight sum, weighted char sum) are
# MONOTONE under row arrival (weights and lengths are nonnegative), so
# the drained sink's per-cell maxima ARE the final sums (q266/q280's
# drain convention — no non-monotone trick needed here). The CI tail
# is q281's bootstrap_ci_tail VERBATIM on the drained cells, so q281's
# oracle is the oracle verbatim: drained stream == batch,
# value-for-value, replicate-for-replicate.
#
# 100 TB shape: state is bounded by |sources| * 66 longs regardless of
# corpus size; the replicate explode is map-side per micro-batch.
# --------------------------------------------------------------------------


@query(
    "q290_stream_bootstrap",
    oracle=None,  # set below to q281's oracle verbatim
    category="streaming",
    doc="q281's hash-Poisson bootstrap CIs as a live streaming aggregate; bounded (source, replicate) state, q281 oracle verbatim",
)
def q290(spark: SparkSession, sf: str) -> DataFrame:
    from ..pipeline import bootstrap_ci_tail, bootstrap_rep_frame

    # re-spread the one-file micro-batch before the 65-digest map (the
    # streaming analogue of operators/skew.spread_input), then THE
    # shared construction (weights, sentinel, per-cell sums) — every
    # stage is a deferred transformation, so the identical code path
    # q281 runs in batch becomes the streaming aggregate here, and the
    # "q281 oracle verbatim" contract cannot desynchronize from a
    # drifted inline copy.
    sink = _drain(
        spark,
        _stage(sf, "documents", "doc_id", 3),
        lambda docs: bootstrap_rep_frame(
            docs.repartition(spark.sparkContext.defaultParallelism)
        ),
        "update",
        min_batches=3,
    )
    # each (source, r) cell's sums are monotone: latest emission == max.
    # localCheckpoint pins the |sources| x 65 cell frame: the CI tail
    # reads it on BOTH sides of a join, and two branches of one
    # memory-sink view trip Catalyst's conflicting-reference check.
    drained = (
        sink.groupBy("source", "r")
        .agg(F.max("sk").alias("sk"), F.max("s1").alias("s1"))
        .localCheckpoint(eager=True)
    )
    return bootstrap_ci_tail(drained)


def _set_q290_oracle() -> None:
    from .base import QUERIES
    from .quality import _q281_oracle

    QUERIES["q290_stream_bootstrap"].oracle = _q281_oracle()


_set_q290_oracle()


# --------------------------------------------------------------------------
# q300 — STREAMING BPE tokenizer: q291's corpus encode running as a
# live per-source token meter while documents arrive — the readout a
# streaming ingestion monitor shows next to its byte counters ("how
# many TOKENS under the production tokenizer did source X deliver so
# far"), which is what token-budget admission (q205) keys on in
# production. Merges are TRAINED IN BATCH on the corpus vocabulary
# (q156's path — training is a fixpoint over all data and belongs in
# batch; shipping a frozen merge table to the stream is exactly how
# real tokenizers deploy) and baked into the plan as literals, so the
# per-batch work is ONE stateless whole-stage-codegen projection
# (operators/bpe.py:bpe_encode) feeding a per-source streaming
# aggregate. All three cells (n_docs, n_tokens, token_checksum) are
# monotone under row arrival (counts and sums of nonnegative 31-bit
# ids), so the drained update-mode sink's per-source maxima ARE the
# final cells — the q266/q280/q290 drain convention.
#
# State: |sources| x 3 longs forever, regardless of corpus size. The
# oracle is q291's train-then-encode replay rolled up by source
# (_bpe_encode_oracle(by_source=True)): drained stream == batch,
# source for source.
# --------------------------------------------------------------------------


@query(
    "q300_stream_tokenize",
    oracle=None,  # set below: q291's encode oracle rolled up by source
    category="streaming",
    doc="q291's BPE corpus encode as a live streaming per-source token meter: batch-trained literal merges, stateless map cascade, bounded (source x 3) monotone state",
)
def q300(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bpe import bpe_encode, bpe_merges
    from .base import t
    from .training import _BPE_ROUNDS

    # batch half: train the merge table on the corpus vocab (bounded
    # collects — one argmax row per round), exactly q156/q291's model
    vocab = (
        t(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("w0"))
        .filter(F.col("w0").rlike("^[A-Za-z]+$"))
        .groupBy("w0")
        .agg(F.count("*").alias("f"))
    )
    merges = bpe_merges(vocab, rounds=_BPE_ROUNDS)

    def cells(docs: DataFrame) -> DataFrame:
        # one compressed file per trigger = one scan split: re-spread
        # the micro-batch before the CPU-heavy cascade (the streaming
        # analogue of operators/skew.spread_input, which by design leaves
        # streaming frames alone)
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
        return (
            bpe_encode(docs, merges, id_col="source")
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("token_checksum").alias("token_checksum"),
            )
        )

    sink = _drain(
        spark, _stage(sf, "documents", "doc_id", 3), cells, "update", min_batches=3
    )
    # every cell is monotone: the latest emission per source == max
    return (
        sink.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.max("n_tokens").alias("n_tokens"),
            F.max("token_checksum").alias("token_checksum"),
        )
        .orderBy("source")
    )


def _set_q300_oracle() -> None:
    from .base import QUERIES
    from .training import _bpe_encode_oracle

    QUERIES["q300_stream_tokenize"].oracle = _bpe_encode_oracle(by_source=True)


_set_q300_oracle()
