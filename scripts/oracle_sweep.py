#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at ``--sf-dir`` (default sf0.01) and
compares it against the matching ``oracle_sql()`` string via DuckDB:
row count, column-name set, and an order-insensitive value hash
(columns sorted by name, rows sorted, values stringified with repr so
float bit-patterns count). Prints one line per query and a final
BAD=[...] summary; exits non-zero if any oracle-paired query diverges.

Usage:
    python scripts/oracle_sweep.py [--sf-dir DIR] [--only q01,q45,...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _canon(df) -> tuple[int, list[str], str]:
    import datetime as dt

    import pandas as pd

    def norm(v):
        if v is pd.NaT or (isinstance(v, float) and v != v):
            return "None"
        if isinstance(v, float):
            return repr(round(v, 9))
        if isinstance(v, pd.Timestamp):
            v = v.to_pydatetime()
        if isinstance(v, dt.datetime):
            return v.isoformat() if v.time() != dt.time() else v.date().isoformat()
        if isinstance(v, dt.date):
            return v.isoformat()
        return repr(sorted(v) if isinstance(v, (list, set)) else v)

    pdf = df if isinstance(df, pd.DataFrame) else df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    body = pdf.map(norm)
    rows = sorted(map(tuple, body.itertuples(index=False, name=None)))
    h = hashlib.md5(repr(rows).encode()).hexdigest()
    return len(pdf), cols, h


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default="")
    args = ap.parse_args()

    import duckdb

    import __spark_entry__ as ent
    from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark

    spark = get_spark(app_name="oracle_sweep")
    qs, oracles = ent.queries(), ent.oracle_sql()
    only = {s.strip() for s in args.only.split(",") if s.strip()}

    con = duckdb.connect()
    for tname in TABLES:
        con.execute(
            f"CREATE VIEW {tname} AS SELECT * FROM "
            f"read_parquet('{args.sf_dir}/{tname}.parquet')"
        )

    bad: list[str] = []
    t_all = time.time()
    for name, fn in qs.items():
        if only and not any(name.startswith(o) for o in only):
            continue
        t0 = time.time()
        try:
            sn, sc, sh = _canon(fn(spark, args.sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"{name}: SPARK-ERR {type(e).__name__}: {e}")
            bad.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({sn} rows) [{time.time()-t0:.1f}s]")
            continue
        try:
            on, oc, oh = _canon(con.execute(oracles[name]).df())
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ORACLE-ERR {type(e).__name__}: {e}")
            bad.append(name)
            continue
        ok = (sn, sc, sh) == (on, oc, oh)
        flag = "ok" if ok else f"MISMATCH rows {sn}/{on} cols {sc==oc} hash {sh==oh}"
        print(f"{name}: {flag} [{time.time()-t0:.1f}s]")
        if not ok:
            bad.append(name)
    print(f"BAD={bad} total={time.time()-t_all:.0f}s")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
