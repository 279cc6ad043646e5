#!/usr/bin/env python3
"""Data-dominated scale rows, opt-in: the paths perfbench does not
measure, each against DuckDB on the same files where a twin exists.

    python scripts/scale_bench.py [--root DIR] ROW [ROW ...]

Rows:
  rel60m   q01/q03/q04/q31 over sf0.1's lineitem/orders replicated 100x
           (60M lineitem rows), interleaved per pass with DuckDB running
           the queries' oracle SQL over the same parquet files
  rel600m  the same at 1000x (600M rows; about 15 GB of layouts)
  q52      q52_minhash_lsh at 500k docs, Spark vs DuckDB
  boot     TextCorpus.bootstrap_ci(by="source", hash_fn="fast") at 5M docs

Each row runs in its own process, so in a fresh JVM: the 60M/600M passes
are heap-sensitive (q04 at 600M took 66 s in a heap aged by an earlier
row against 24-34 s in a fresh one). Data is generated under ``--root``
(default /tmp) on first use, deterministically, through
make_scale_data.py, and reused after; the relational facts are written
straight from the replicated frame in their bucketed layouts
(sources/bucketing.py), which both engines read. Nothing is written into
the repo.

Pass 0 of a row is cold and checks the answers: each relational query's
Spark rows against DuckDB's through oracle_sweep's canonicalizer, and
q52's pair count against DuckDB's COUNT(*). A mismatch fails the row.
Each row prints one JSON line: warm medians, the min/median/max band of
the warm passes, and the host calibration row. The process exits
non-zero if any row failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from make_scale_data import SRC, copy_tables, ensure, rel_scale_frames  # noqa: E402
from oracle_sweep import TABLES, _canon  # noqa: E402

from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES  # noqa: E402
from dicom_metadata_extractor_serverless_datalake_spark.sources.bucketing import (  # noqa: E402
    bucketed_layout,
    write_bucketed_layout,
)

REL_QUERIES = (
    "q01_pricing_summary",
    "q03_join_broadcast_agg",
    "q04_star_join",
    "q31_top_n_per_group",
)


def _band(samples: list[float]) -> dict:
    if not samples:
        return {}
    return {
        "min": round(min(samples), 3),
        "median": round(statistics.median(samples), 3),
        "max": round(max(samples), 3),
    }


def _host() -> dict:
    """Hardware identity plus two ~0.3 s single-core calibration loops:
    md5 chaining (CPU) and an in-place numpy add over 64 MB (memory
    streaming), so walls from different hosts can be normalized."""
    import hashlib
    import platform

    import numpy as np

    info: dict = {"cpus": os.cpu_count(), "machine": platform.machine()}
    for path, key, field in (
        ("/proc/cpuinfo", "model name", "cpu_model"),
        ("/proc/meminfo", "MemTotal", "mem_gb"),
    ):
        try:
            line = next(ln for ln in open(path) if ln.startswith(key))
        except (OSError, StopIteration):
            continue
        value = line.split(":", 1)[1].strip()
        info[field] = round(int(value.split()[0]) / 1048576, 1) if field == "mem_gb" else value
    b, n, t0 = b"calibration", 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        b = hashlib.md5(b).digest()
        n += 1
    info["calib_md5_per_sec"] = int(n / (time.perf_counter() - t0))
    a = np.arange(8_000_000, dtype=np.int64)
    np.add(a, 1, out=a)  # touch every page before timing
    reps, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.3:
        np.add(a, 1, out=a)
        reps += 1
    info["calib_stream_mb_per_sec"] = int(reps * a.nbytes * 2 / (time.perf_counter() - t0) / 1e6)
    return info


def write_rel_layout(spark, out: str, factor: int, src: str = SRC) -> str:
    """The relational scale dir: the dimension tables copied, lineitem
    and orders replicated ``factor`` times and written bucketed on the
    orderkey (32 buckets, sorted within), and q31's orders_by_custkey
    copy, every layout straight from the replicated frame. A layout whose
    marker exists is finished and kept."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.windows import (
        write_custkey_layout,
    )

    copy_tables(out, ("orders", "lineitem"), src)
    frames = rel_scale_frames(spark, factor, src)
    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        if bucketed_layout(out, name) is None:
            write_bucketed_layout(frames[name], out, name, key)
    if bucketed_layout(out, "orders_by_custkey") is None:
        write_custkey_layout(frames["orders"], out)
    return out


def _duckdb(data_dir: str, tables=TABLES):
    """A DuckDB connection with a view per table present in
    ``data_dir``, over the files Spark reads: a bucketed layout's
    location, else the plain parquet."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        spec = bucketed_layout(data_dir, t)
        path = spec["location"] if spec else os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def measure_relational(spark, data_dir: str, n_passes: int) -> dict:
    """Interleaved passes: each runs every relational query on Spark,
    then its oracle SQL on DuckDB, so both engines sample the same noise
    windows. Pass 0 is cold; its answers are compared and a mismatch
    raises. Returns per-query warm medians and the per-pass band."""
    con = _duckdb(data_dir)
    cold: dict[str, dict] = {}
    walls: dict[str, dict[str, list[float]]] = {"spark": {}, "duckdb": {}}
    totals: dict[str, list[float]] = {"spark": [], "duckdb": []}
    try:
        for p in range(n_passes):
            answers = {}
            for engine in ("spark", "duckdb"):
                total = 0.0
                for name in REL_QUERIES:
                    q = QUERIES[name]
                    t0 = time.perf_counter()
                    if engine == "spark":
                        df = q.spark_fn(spark, data_dir)
                        res = df.toPandas() if p == 0 else df.collect()
                    else:
                        res = con.execute(q.oracle).df() if p == 0 else con.execute(q.oracle).fetchall()
                    dt = time.perf_counter() - t0
                    total += dt
                    if p == 0:
                        cold.setdefault(name, {})[engine] = round(dt, 3)
                        answers[engine, name] = _canon(res)
                    else:
                        walls[engine].setdefault(name, []).append(dt)
                if p:
                    totals[engine].append(total)
            bad = [n for n in REL_QUERIES if p == 0 and answers["spark", n] != answers["duckdb", n]]
            if bad:
                raise AssertionError(f"Spark and DuckDB answers differ on {bad} in {data_dir}")
    finally:
        con.close()
    return {
        "queries": list(REL_QUERIES),
        "answers": "match",
        "warm_passes": n_passes - 1,
        "cold_s": cold,
        "spark_s": {n: _band(w)["median"] for n, w in walls["spark"].items()},
        "duckdb_s": {n: _band(w)["median"] for n, w in walls["duckdb"].items()},
        "band": {
            "spark_total_s": _band(totals["spark"]),
            "duckdb_total_s": _band(totals["duckdb"]),
            "ratio": _band([s / d for s, d in zip(totals["spark"], totals["duckdb"])]),
        },
    }


def measure_q52(spark, data_dir: str, n_passes: int) -> dict:
    """q52 drained through the noop sink (about 28M pairs at 500k docs:
    the measurement is the query, not a client transfer) against DuckDB's
    COUNT(*) over the oracle; pass 0 is cold and checks the counts."""
    q = QUERIES["q52_minhash_lsh"]
    con = _duckdb(data_dir, ("documents",))
    spark_w: list[float] = []
    duck_w: list[float] = []
    try:
        for p in range(n_passes):
            t0 = time.perf_counter()
            q.spark_fn(spark, data_dir).write.format("noop").mode("overwrite").save()
            s_dt = time.perf_counter() - t0
            t0 = time.perf_counter()
            (n_duck,) = con.execute(f"SELECT COUNT(*) FROM ({q.oracle})").fetchone()
            d_dt = time.perf_counter() - t0
            if p == 0:
                cold = {"spark": round(s_dt, 3), "duckdb": round(d_dt, 3)}
                n_spark = q.spark_fn(spark, data_dir).count()
                if n_spark != n_duck:
                    raise AssertionError(f"q52 pairs: Spark {n_spark}, DuckDB {n_duck}")
            else:
                spark_w.append(s_dt)
                duck_w.append(d_dt)
    finally:
        con.close()
    return {
        "query": q.name,
        "pairs": n_spark,
        "answers": "match",
        "warm_passes": n_passes - 1,
        "cold_s": cold,
        "spark_s": _band(spark_w),
        "duckdb_s": _band(duck_w),
        "ratio": _band([s / d for s, d in zip(spark_w, duck_w)]),
    }


def measure_bootstrap(spark, data_dir: str, n_passes: int) -> dict:
    from dicom_metadata_extractor_serverless_datalake_spark import TextCorpus
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table

    docs = load_table(spark, data_dir, "documents")
    walls: list[float] = []
    for p in range(n_passes):
        t0 = time.perf_counter()
        TextCorpus(docs).bootstrap_ci(by="source", hash_fn="fast").write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        if p == 0:
            cold = round(dt, 3)
        else:
            walls.append(dt)
    return {
        "op": "TextCorpus.bootstrap_ci(by='source', hash_fn='fast')",
        "docs": docs.count(),
        "answers": "unchecked: no DuckDB twin, xxhash64 is engine-native "
        "(q281 is the portable, oracle-checked path)",
        "warm_passes": n_passes - 1,
        "cold_s": cold,
        "spark_s": _band(walls),
    }


# row -> (data kind, replication factor, passes incl. the cold one)
ROWS = {
    "rel60m": ("rel", 100, 6),
    "rel600m": ("rel", 1000, 7),
    "q52": ("doc", 100, 4),
    "boot": ("doc", 1000, 3),
}


def run_row(row: str, root: str) -> dict:
    """Generate (once) and measure one row in this process's session."""
    from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark

    kind, factor, n_passes = ROWS[row]
    spark = get_spark(app_name=f"scale_bench-{row}")
    try:
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        data_dir = os.path.join(root, f"sfsynth_{kind}{factor}")
        if kind == "rel":
            write_rel_layout(spark, data_dir, factor)
            out = measure_relational(spark, data_dir, n_passes)
        else:
            ensure(data_dir, "doc", factor)
            measure = measure_q52 if row == "q52" else measure_bootstrap
            out = measure(spark, data_dir, n_passes)
    finally:
        spark.stop()
    return {"row": row, "factor": factor, "data_dir": data_dir, **out}


def main() -> int:
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rows", nargs="+", choices=sorted(ROWS))
    ap.add_argument("--root", default="/tmp", help="where the scale data lives")
    args = ap.parse_args()
    host = _host()
    failed = 0
    for row in args.rows:
        # a fresh interpreter, so a fresh JVM, per row
        with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as ex:
            try:
                out = ex.submit(run_row, row, args.root).result()
            except Exception as e:  # noqa: BLE001 — report the row, run the next
                out = {"row": row, "error": f"{type(e).__name__}: {e}"}
                failed += 1
        print(json.dumps({**out, "host": host}), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
