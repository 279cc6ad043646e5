"""Corpus vs DuckDB oracle — local mirror of the driver's t2 harness.

Runs every registered query at sf0.001 (fast) and compares against the
oracle with the driver's comparison shape: row count + column-name-sorted,
order-insensitive values. Floats compared to 1e-9 relative (the corpus is
designed for bit-equality; the tolerance only cushions genuine epsilon).
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest

from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES
from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import STAR_TABLES


def _duck(sf_dir: str):
    con = duckdb.connect()
    for name in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, (list, dict, set, tuple, bytearray)):
        # LIST-HOSTILE by design: the driver's canonicalizer sorts result
        # columns through pandas, which factorizes every cell and dies on
        # unhashable list/dict cells (the q135 round-4 red row). Queries
        # must serialize nested values to scalars (array_join / to_json)
        # in BOTH engines; this mirror refuses to mask that.
        raise AssertionError(
            f"nested result cell {type(v).__name__} — driver canonicalizer "
            f"cannot hash this; serialize to a scalar in query + oracle"
        )
    return v


def _rows_key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_norm(r[i]) for i in order))
    return sorted(out, key=repr)


def _compare_cell(a, b, path):
    if isinstance(a, tuple) and len(a) == 2 and a[0] == "f":
        assert isinstance(b, tuple) and b[0] == "f", f"{path}: float vs {type(b)}"
        x, y = a[1], b[1]
        if x is None or y is None:
            assert x == y, f"{path}: {x} != {y}"
        elif math.isnan(x) or math.isnan(y):
            assert math.isnan(x) and math.isnan(y), f"{path}: nan mismatch"
        else:
            # EXACT, not approx: the driver value-hashes raw doubles, so a
            # one-ulp drift is a red row. A tolerance here masked q184's
            # DuckDB literal-parse ulp bug (round 5) until an exact sweep
            # caught it; every corpus query is bit-identical by design
            # (decimal sums, ordered folds, shared literal algebra) and
            # the suite must enforce exactly that.
            assert x == y, f"{path}: {x!r} != {y!r} (bit-exactness contract)"
    elif isinstance(a, tuple):
        assert isinstance(b, tuple) and len(a) == len(b), f"{path}: shape {a} vs {b}"
        for i, (xa, xb) in enumerate(zip(a, b)):
            _compare_cell(xa, xb, f"{path}[{i}]")
    else:
        assert a == b, f"{path}: {a!r} != {b!r}"


ORACLE_QUERIES = sorted(n for n, q in QUERIES.items() if q.oracle)
NO_ORACLE = sorted(n for n, q in QUERIES.items() if not q.oracle)


def _assert_scalar_schema(name, sdf):
    """Driver-canonicalizer contract: every output column must be an
    atomic type. Nested types (array/map/struct) reach the driver's
    pandas-based row sort as unhashable Python objects and hard-fail
    the whole correctness row (q135, round 4)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    nested = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not nested, (
        f"{name}: nested output column(s) {nested} — serialize to scalar "
        f"(array_join / to_json) in both the Spark query and the oracle"
    )


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_vs_duckdb(spark, sf_dir, name):
    q = QUERIES[name]
    sdf = q.spark_fn(spark, sf_dir)
    _assert_scalar_schema(name, sdf)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    res = con.execute(q.oracle)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: rowcount {len(srows)} vs {len(drows)}"

    # Driver-parity dtype check: the driver compares through pandas,
    # where an un-cast DuckDB HUGEINT (any SUM of integers) arrives as
    # float64 and hash-mismatches a bigint Spark column even when every
    # value is equal (the q148/q150 round-4 regression). fetchall()
    # hides this (hugeint -> Python int), so check the pandas dtypes.
    integral = {
        f.name
        for f in sdf.schema.fields
        if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
    }
    ddf = con.execute(q.oracle).df()
    for c in integral:
        kind = ddf[c].dtype.kind
        if kind == "f" and not ddf[c].isna().any():
            raise AssertionError(
                f"{name}: oracle column {c!r} reaches pandas as float "
                f"(HUGEINT/DECIMAL sum?) while Spark emits integral — "
                f"CAST(... AS BIGINT) in the oracle SQL"
            )
    sk = _rows_key(scols, srows)
    dk = _rows_key(dcols, drows)
    for i, (a, b) in enumerate(zip(sk, dk)):
        _compare_cell(a, b, f"{name} row{i}")


@pytest.mark.parametrize("name", NO_ORACLE)
def test_rows_only(spark, sf_dir, name):
    q = QUERIES[name]
    sdf = q.spark_fn(spark, sf_dir)
    _assert_scalar_schema(name, sdf)
    assert len(sdf.columns) > 0
    assert sdf.count() >= 0


def test_q165_auc_oracle_matches_bruteforce():
    """The integer midrank-doubling AUC formula (shared verbatim by the
    Spark side, which hash-matches this oracle) equals brute-force
    pair counting P(s_pos > s_neg) + 0.5 P(tie) on random tied data."""
    import random

    import duckdb

    rng = random.Random(3)
    rows = [(rng.randint(0, 20), rng.random() < 0.4) for _ in range(500)]
    pos = [s for s, l in rows if l]
    neg = [s for s, l in rows if not l]
    want = sum(
        (1.0 if p > n else 0.5 if p == n else 0.0) for p in pos for n in neg
    ) / (len(pos) * len(neg))

    vals = ",".join(
        "({}, '{}')".format(s, "en" if l else "de") for s, l in rows
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES " + vals + ") v(n_chars, lang)"
    )
    got = con.execute(QUERIES["q165_auc_exact"].oracle).fetchall()[0]
    assert got[0] == len(pos) and got[1] == len(neg)
    assert abs(got[3] - want) < 1e-12


# ---- driver-canonicalizer contract (property) ----------------------------
#
# The driver hashes query results by sorting columns by name, sorting rows
# through pandas, and hashing cell values. Two properties must hold for
# every result shape the corpus can emit:
#   1. the canonical key is invariant under row order and column order
#      (otherwise a nondeterministic plan ordering flips the hash);
#   2. nested cells (list/dict) are REJECTED, exactly as pandas'
#      factorize-based sort rejects them (q135, round 4) — the local
#      mirror must fail where the driver fails.


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5, 6, 7])
def test_canonicalizer_order_invariance(seed):
    import random

    rng = random.Random(seed)
    n_cols = rng.randint(1, 5)
    cols = [f"c{i}" for i in range(n_cols)]
    pools = [
        lambda r: r.randint(-5, 5),
        lambda r: r.choice(["a", "b", None]),
        lambda r: round(r.uniform(-1, 1), 3),
        lambda r: r.random() < 0.5,
        lambda r: datetime.date(2024, 1, 1 + r.randint(0, 27)),
        lambda r: datetime.datetime(2024, 1, 1, r.randint(0, 23)),
    ]
    gens = [rng.choice(pools) for _ in cols]
    rows = [tuple(g(rng) for g in gens) for _ in range(rng.randint(0, 40))]

    base = _rows_key(cols, rows)
    shuffled_rows = rows[:]
    rng.shuffle(shuffled_rows)
    assert _rows_key(cols, shuffled_rows) == base

    perm = list(range(n_cols))
    rng.shuffle(perm)
    pcols = [cols[i] for i in perm]
    prows = [tuple(r[i] for i in perm) for r in shuffled_rows]
    assert _rows_key(pcols, prows) == base


@pytest.mark.parametrize(
    "cell", [[1, 2], {"k": 1}, (1, 2), {1, 2}, bytearray(b"x")]
)
def test_canonicalizer_rejects_nested_cells(cell):
    with pytest.raises(AssertionError, match="nested result cell"):
        _rows_key(["a", "b"], [(1, cell)])


def test_duckdb_list_reduce_struct_acc_hazard_documented():
    """DuckDB 1.0.0 reuses the struct accumulator buffer from the
    second list_reduce application onward, so later struct_pack fields
    read PARTIALLY UPDATED acc fields (queries/behavior.py — the
    reason q212's oracle is a recursive CTE, and the reason corpus
    oracles must keep float folds to SCALAR accumulators). This probe
    pins the behavior: if a DuckDB upgrade fixes it, this test fails
    and the q212 oracle may be simplified back to a struct fold."""
    import duckdb

    # Holt-style chained fold where field b reads acc.l; scalar
    # reference value for the 3-element series below:
    #   step2: l=403301.8, b=-108.32...; step3 CORRECT b=-2364.1096
    #   under in-place mutation step3 b=-1910.78528 (acc.l already new)
    got = duckdb.sql(
        """
        SELECT list_reduce(
          [struct_pack(x := CAST(404385 AS DOUBLE), l := CAST(404385 AS DOUBLE),
                       b := CAST(0 AS DOUBLE)),
           struct_pack(x := CAST(398969 AS DOUBLE), l := CAST(398969 AS DOUBLE),
                       b := CAST(0 AS DOUBLE)),
           struct_pack(x := CAST(290404 AS DOUBLE), l := CAST(290404 AS DOUBLE),
                       b := CAST(0 AS DOUBLE))],
          (acc, v) -> struct_pack(
            x := v.x,
            l := 0.2 * v.x + 0.8 * (acc.l + acc.b),
            b := 0.1 * ((0.2 * v.x + 0.8 * (acc.l + acc.b)) - acc.l)
                 + 0.9 * acc.b))
        """
    ).fetchone()[0]
    correct_b = -2364.1096000000007
    mutated_b = -1910.7852799999998
    assert abs(got["b"] - mutated_b) < 1e-6 or abs(got["b"] - correct_b) < 1e-6
    if abs(got["b"] - correct_b) < 1e-6:
        import pytest

        pytest.fail(
            "DuckDB list_reduce struct-accumulator aliasing appears FIXED "
            "in this DuckDB version — q212's recursive-CTE oracle can be "
            "simplified; update queries/behavior.py and this probe."
        )


def test_q187_winnow_summary_matches_brute_force_on_edge_docs(spark):
    """Focused pin for the round-11 Arrow rewrite of q187: the
    mapInArrow pass must reproduce the SQL/oracle arithmetic on the
    awkward shapes — empty text, runs of delimiters (split(' ') keeps
    them as empty tokens that the filter drops), docs below the gram
    width, docs with grams but fewer than one full window, and
    repeated grams whose identical hashes at different positions must
    each count once in the checksum (distinct is over the k-ENCODING,
    not the hash value)."""
    import hashlib

    from dicom_metadata_extractor_serverless_datalake_spark.queries.quality import (
        winnow_summary,
    )

    docs = [
        (1, ""),
        (2, "   "),
        (3, "a b c"),          # 3 tokens < k: no grams
        (4, "a b c d"),        # exactly one gram, below window width
        (5, "a b c d e f"),    # 3 grams < w
        (6, "a b c d e f g"),  # 4 grams == w: one window
        (7, "x y  z w x y z w x y z w x y z w"),  # repeated grams, double space
        (8, "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in winnow_summary(df).collect()}

    P, POS_M, K, W = 2147483647, 1 << 20, 4, 4
    for doc_id, text in docs:
        ws = [t for t in text.split(" ") if t]
        grams = [" ".join(ws[i : i + K]) for i in range(len(ws) - K + 1)]
        hs = [
            int.from_bytes(hashlib.md5(g.encode()).digest()[:4], "big") % P
            for g in grams
        ]
        ks = [h * POS_M + (POS_M - 1 - (j + 1)) for j, h in enumerate(hs)]
        sel = set()
        for j in range(W - 1, len(ks)):
            sel.add(min(ks[j - W + 1 : j + 1]))
        row = got[doc_id]
        assert row["n_kgrams"] == len(hs)
        assert row["n_selected"] == len(sel)
        assert row["fp_checksum"] == sum(k // POS_M for k in sel)
        if sel:
            assert row["fp_min"] == min(k // POS_M for k in sel)
            assert row["fp_max"] == max(k // POS_M for k in sel)
        else:
            assert row["fp_min"] is None and row["fp_max"] is None


def test_rake_phrases_matches_window_form_on_edge_docs(spark):
    """Focused pin for the round-11 Arrow rewrite of q265: the
    mapInArrow phrase pass must be drop-in identical to the original
    posexplode + row_number window + collect_list construction on the
    awkward shapes — empty text (one empty-string word, which is NOT a
    stopword), delimiter runs (empty-string phrase members that must
    survive the phrase -> split round trip), all-stopword docs (no
    phrases), leading/trailing spaces, and single-word docs."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.queries.mining import (
        _RAKE_STOP,
        rake_phrases,
    )

    docs = [
        (1, ""),
        (2, "   "),
        (3, "the a of"),
        (4, "word"),
        (5, "the quick brown fox and the lazy dog"),
        (6, "x  y the z"),
        (7, " leading and trailing "),
        (8, "a b a b a"),
        (9, "alpha beta the alpha beta of gamma"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    words = df.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    ns = words.filter(~F.col("word").isin(*_RAKE_STOP)).withColumn(
        "grp",
        F.col("pos") - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    old = ns.groupBy("doc_id", "grp").agg(
        F.concat_ws(
            " ",
            F.expr("transform(sort_array(collect_list(struct(pos, word))), x -> x.word)"),
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )

    want = {(r["doc_id"], r["grp"], r["phrase"], r["plen"]) for r in old.collect()}
    got = {
        (r["doc_id"], r["grp"], r["phrase"], r["plen"])
        for r in rake_phrases(df).collect()
    }
    assert got == want


def test_no_raw_persist_in_query_modules():
    """Cache-hygiene guard (VERDICT r11 #5): every persist()/cache() in
    queries/ must go through operators.cachetrack.tracked_persist so a
    facade's CacheScope can free it after the caller's action — a raw
    persist with no unpersist is an orphanable cache in a long-lived
    session (the q128 instance the r11 verdict flagged). Query code
    cannot unpersist before the action itself, so registration is the
    only correct lifecycle; tracked_persist degrades to a plain persist
    when no scope is active. localCheckpoint is exempt (it truncates
    lineage; blocks are owned by the executor and droppable)."""
    import glob
    import os
    import re

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "dicom_metadata_extractor_serverless_datalake_spark",
        "queries",
    )
    offenders = []
    pat = re.compile(r"\.(persist|cache)\(")
    for path in sorted(glob.glob(os.path.join(qdir, "*.py"))):
        for lineno, line in enumerate(open(path), 1):
            code = line.split("#", 1)[0]
            if pat.search(code) and "tracked_persist" not in code:
                offenders.append(f"{os.path.basename(path)}:{lineno}: {line.strip()}")
    assert not offenders, (
        "raw persist()/cache() in queries/ — route through tracked_persist:\n"
        + "\n".join(offenders)
    )
