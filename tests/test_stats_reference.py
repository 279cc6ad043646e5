"""Third-opinion reference tests for the round-6 exact statistics.

The corpus harness checks every query against a DuckDB oracle, but the
oracle intentionally runs the SAME arithmetic shape — a conceptual
error in the formula itself would pass both engines. These tests pit
the registered queries against brute-force implementations built
directly from the textbook definitions (per-row ranks, explicit
survival products, sorted-rank Gini) on small ADVERSARIAL inputs:
all-ties, disjoint samples, singleton groups, constant series.

Inputs are written as parquet tables into a tmp dir so the queries run
through their real ``t(spark, sf_dir, table)`` path.
"""

from __future__ import annotations

import math

import pytest

from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES


def _write_documents(spark, tmp_path, rows):
    """rows: list of (doc_id, text, lang, source, n_chars)."""
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def _write_events(spark, tmp_path, rows):
    """rows: list of (event_id, ts, user_id, event_type, value, props).

    ts is written as TIMESTAMP_NTZ (INT64 micros) to match the driver
    testdata encoding — a plain timestamp would write INT96, which the
    streaming-twin sources' pyarrow re-slicer round-trips to
    nanosecond INT64 and the stream reader then schema-mismatches
    (the make_scale_data.py events note)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


# ---- q206 Mann-Whitney vs per-row-rank brute force ----


def _mw_reference(xs, ys):
    """Textbook tie-corrected Mann-Whitney from per-row average ranks."""
    allv = sorted([(v, 0) for v in xs] + [(v, 1) for v in ys])
    # average ranks with ties
    ranks = {}
    i = 0
    while i < len(allv):
        j = i
        while j < len(allv) and allv[j][0] == allv[i][0]:
            j += 1
        avg = (i + 1 + j) / 2  # ranks i+1..j
        ranks.setdefault(allv[i][0], avg)
        i = j
    r1 = sum(ranks[v] for v in xs)
    n1, n2 = len(xs), len(ys)
    u1 = r1 - n1 * (n1 + 1) / 2
    from collections import Counter

    tie = sum(c**3 - c for c in Counter(list(xs) + list(ys)).values())
    n = n1 + n2
    var = (n1 * n2 / 12.0) * ((n + 1.0) - tie / (n * (n - 1.0)))
    return n1, n2, int(2 * u1), tie, var


@pytest.mark.parametrize(
    "xs,ys",
    [
        ([100, 100, 100], [100, 100, 100]),            # all ties across groups
        ([1, 2, 3, 4], [10, 11, 12]),                  # disjoint, no ties
        ([5], [5, 5, 7]),                              # singleton group 1
        ([3, 3, 9, 9, 9], [3, 9, 9, 1]),               # heavy mixed ties
    ],
)
def test_q206_matches_rank_definition(spark, tmp_path, xs, ys):
    rows = [
        (i, "t", "en", "src0", int(v)) for i, v in enumerate(xs)
    ] + [
        (1000 + i, "t", "en", "src1", int(v)) for i, v in enumerate(ys)
    ]
    sf = _write_documents(spark, tmp_path, rows)
    got = QUERIES["q206_mann_whitney"].spark_fn(spark, sf).collect()[0]
    n1, n2, u1x2, tie, var = _mw_reference(xs, ys)
    assert (got.n1, got.n2) == (n1, n2)
    assert got.u1_x2 == u1x2
    assert got.tie_term == tie
    assert got.var_micros == math.floor(1_000_000 * var)
    if var > 0:
        z = (u1x2 - n1 * n2) / (2.0 * math.sqrt(var))
        assert got.z_micros == math.floor(1_000_000 * z)
    else:
        # degenerate design (every pooled value ties): z is undefined
        # and must surface as NULL, not a division-by-zero crash
        assert got.z_micros is None


# ---- q209 Kaplan-Meier vs explicit survival product ----


def _km_reference(lifetimes, censored):
    """(dur -> (n_risk, d, c, S(t))) from the definition."""
    pairs = sorted(zip(lifetimes, censored))
    out = {}
    s = 1.0
    n = len(pairs)
    seen = 0
    from itertools import groupby

    for dur, grp in groupby(pairs, key=lambda p: p[0]):
        grp = list(grp)
        risk = n - seen
        d = sum(1 for _, c in grp if not c)
        c = len(grp) - d
        s = s * (1.0 - d / risk)
        out[dur] = (risk, d, c, s)
        seen += len(grp)
    return out


def test_q209_matches_survival_definition(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    # users with lifetimes 0,0,2,5,9,10 days; the 9/10-day users end in
    # the final 3 days of the log (max day 10) -> censored
    spans = [(1, 0), (2, 0), (3, 2), (4, 5), (5, 9), (6, 10)]
    rows = []
    eid = 0
    for uid, days in spans:
        for d in (0, days):
            rows.append(
                (eid, base + dt.timedelta(days=d), uid, "view", 1.0, "{}")
            )
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.dur: (r.n_risk, r.d_events, r.c_censored, r.surv_micros)
        for r in QUERIES["q209_kaplan_meier"].spark_fn(spark, sf).collect()
    }
    # censor rule: last event > max_date - 3 -> day 10 - 3 = day 7
    lifetimes = [0, 0, 2, 5, 9, 10]
    censored = [False, False, False, False, True, True]
    want = _km_reference(lifetimes, censored)
    assert set(got) == set(want)
    for dur, (risk, d, c, s) in want.items():
        assert got[dur] == (risk, d, c, math.floor(1_000_000 * s)), dur


# ---- q210 Gini vs sorted-rank definition ----


def _gini_reference(values):
    xs = sorted(values)
    n = len(xs)
    s = sum(xs)
    a = 2 * sum((i + 1) * x for i, x in enumerate(xs))
    return (a - (n + 1) * s) / (n * s)


@pytest.mark.parametrize(
    "values",
    [
        [100, 100, 100, 100],        # perfect equality -> G = 0
        [1, 1, 1, 997],              # extreme concentration
        [5, 10, 15, 20, 50],         # mixed with no ties
        [7, 7, 7, 14, 14, 21],       # tie runs
    ],
)
def test_q210_matches_sorted_rank_definition(spark, tmp_path, values):
    rows = [(i, "t", "en", "srcA", int(v)) for i, v in enumerate(values)]
    sf = _write_documents(spark, tmp_path, rows)
    got = QUERIES["q210_gini_concentration"].spark_fn(spark, sf).collect()
    assert len(got) == 1 and got[0].source == "srcA"
    assert got[0].n_docs == len(values)
    assert got[0].total_chars == sum(values)
    assert got[0].gini_micros == math.floor(1_000_000 * _gini_reference(values))


# ---- q212 Holt vs the scalar recursion ----


def test_q212_matches_scalar_recursion(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 3, 1)
    series = [500.0, 480.25, 470.5, 900.0, 910.75, 905.0, 890.5]
    rows = [
        (i, base + dt.timedelta(days=i), 1, "alert", v, "{}")
        for i, v in enumerate(series)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = QUERIES["q212_holt_trend"].spark_fn(spark, sf).collect()
    assert len(got) == 1
    cents = [round(v * 100) for v in series]
    a, b = 0.2, 0.1
    l, bb, e = float(cents[0]), 0.0, 0.0
    for x in map(float, cents[1:]):
        pred = l + bb
        lnew = a * x + (1.0 - a) * pred
        bnew = b * (lnew - l) + (1.0 - b) * bb
        e = e + (x - pred) * (x - pred)
        l, bb = lnew, bnew
    r = got[0]
    assert r.n_days == len(series)
    assert r.level_cents == math.floor(l)
    assert r.trend_milli == math.floor(1000.0 * bb)
    assert r.forecast7_cents == math.floor(l + 7.0 * bb)
    assert r.sse_cents2 == math.floor(e)


# ---- ANSI division-by-zero guards on degenerate slices ----


def test_q210_zero_mass_source_yields_null_gini(spark, tmp_path):
    rows = [(i, "t", "en", "srcZ", 0) for i in range(4)]
    sf = _write_documents(spark, tmp_path, rows)
    got = QUERIES["q210_gini_concentration"].spark_fn(spark, sf).collect()
    assert len(got) == 1 and got[0].total_chars == 0
    assert got[0].gini_micros is None  # undefined, not a crash


def test_q218_no_converters_yields_null_gains(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(hours=i), i % 3, "view", float(i + 1), "{}")
        for i in range(12)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = QUERIES["q218_cumulative_gains"].spark_fn(spark, sf).collect()
    assert got and all(r.converters == 0 for r in got)
    assert all(r.cum_gain_micros is None for r in got)


# ---- q201 bigram LM vs dictionary brute force ----


def test_q201_matches_count_definition(spark, tmp_path):
    texts = {
        0: "a b a b c",          # bigrams: ab, ba, ab, bc
        1: "a b",                # ab
        2: "c c c",              # cc, cc
        3: "solo",               # no bigram -> absent from output
        4: "",                   # empty -> absent
    }
    rows = [(i, t_, "en", "s0", len(t_)) for i, t_ in texts.items()]
    sf = _write_documents(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_bigrams, r.sum_micros, r.avg_micros, r.min_micros)
        for r in QUERIES["q201_bigram_lm_score"].spark_fn(spark, sf).collect()
    }
    # corpus counts from the definition
    from collections import Counter

    bg, ctx = Counter(), Counter()
    for t_ in texts.values():
        ws = [w for w in t_.split(" ") if w]
        for i in range(len(ws) - 1):
            bg[(ws[i], ws[i + 1])] += 1
            ctx[ws[i]] += 1
    want = {}
    for d, t_ in texts.items():
        ws = [w for w in t_.split(" ") if w]
        ms = [
            math.floor(1_000_000 * (bg[(ws[i], ws[i + 1])] / ctx[ws[i]]))
            for i in range(len(ws) - 1)
        ]
        if ms:
            want[d] = (len(ms), sum(ms), sum(ms) // len(ms), min(ms))
    assert got == want


# ---- q207 Markov transitions vs sequence brute force ----


def test_q207_matches_sequence_definition(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    journeys = {1: ["view", "click", "view"], 2: ["view", "view"], 3: ["click"]}
    rows = []
    eid = 0
    for uid, seq in journeys.items():
        for i, et in enumerate(seq):
            rows.append((eid, base + dt.timedelta(minutes=i), uid, et, 1.0, "{}"))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {
        (r.from_type, r.to_type): (r.n, r.p_micros)
        for r in QUERIES["q207_markov_transitions"].spark_fn(spark, sf).collect()
    }
    from collections import Counter

    c = Counter()
    for seq in journeys.values():
        for a, b in zip(seq, seq[1:]):
            c[(a, b)] += 1
    row_n = Counter()
    for (a, _), n in c.items():
        row_n[a] += n
    want = {
        k: (n, math.floor(1_000_000 * n / row_n[k[0]])) for k, n in c.items()
    }
    assert got == want


# ---- q208 attribution: no-preceding-touch edge ----


def test_q208_unattributed_purchase_lands_in_none(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: purchase FIRST (no touch before), then view, then purchase
        (0, base, 1, "purchase", 1.0, "{}"),
        (1, base + dt.timedelta(minutes=1), 1, "view", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=2), 1, "purchase", 1.0, "{}"),
        # user 2: click then purchase
        (3, base, 2, "click", 1.0, "{}"),
        (4, base + dt.timedelta(minutes=1), 2, "purchase", 1.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r.channel: (r.last_touch_purchases, r.first_touch_purchases)
        for r in QUERIES["q208_touch_attribution"].spark_fn(spark, sf).collect()
    }
    assert got == {"(none)": (1, 1), "view": (1, 1), "click": (1, 1)}


# ---- q216 head-energy share vs brute force ----


def test_q216_matches_energy_definition(spark, tmp_path):
    vecs = {
        0: [1.0] * 32 + [0.0] * 32,   # all energy in the head -> 1.0
        1: [0.0] * 32 + [2.0] * 32,   # none in the head -> 0.0
        2: [0.5] * 64,                # uniform -> 0.5
        3: [0.0] * 64,                # zero vector -> excluded
    }
    df = spark.createDataFrame(
        [(k, [float(x) for x in v], 7) for k, v in vecs.items()],
        "vec_id bigint, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    got = QUERIES["q216_matryoshka_audit"].spark_fn(spark, str(tmp_path)).collect()
    assert len(got) == 1 and got[0].label == 7
    assert got[0].n_vectors == 3  # the zero vector is excluded
    assert got[0].min_share_micros == 0
    assert got[0].max_share_micros == 1_000_000
    assert got[0].avg_share_micros == 1_500_000 // 3


# ---- round-7 batch: q222 / q224 / q226 / q227 / q228 / q229 ----


def _write_orders(spark, tmp_path, rows):
    """rows: list of (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
    o_orderdate, o_orderpriority)."""
    df = spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    return str(tmp_path)


def _write_lineitem(spark, tmp_path, rows):
    """rows: list of (l_orderkey, l_linenumber, l_shipdate); the other
    columns are filled with constants."""
    full = [
        (ok, 1, 1, ln, 1.0, 100.0, 0.0, 0.0, "N", "O", sd) for ok, ln, sd in rows
    ]
    df = spark.createDataFrame(
        full,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber int, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    return str(tmp_path)


def _h31(s: str) -> int:
    """Python twin of the corpus's portable md5-based h31 hash."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 2_147_483_647


# ---- q222 sequence completeness: every verdict class exercised ----


def test_q222_verdict_classification(spark, tmp_path):
    import datetime as dt

    early = dt.datetime(1996, 1, 1)
    late = dt.datetime(1998, 6, 1)  # past the 1997-01-01 audit window
    rows = [
        # order 1: complete 1..3
        (1, 1, early), (1, 2, early), (1, 3, early),
        # order 2: gapped (1, 3)
        (2, 1, early), (2, 3, early),
        # order 3: offset start (2, 3)
        (3, 2, early), (3, 3, early),
        # order 4: duplicated (1, 1, 2) — the CDC-replay case TPC-H
        # data never produces
        (4, 1, early), (4, 1, early), (4, 2, early),
        # order 5: complete ONLY because the late line is filtered out
        (5, 1, early), (5, 2, early), (5, 3, late),
        # order 6: entirely outside the window -> not audited at all
        (6, 1, late),
    ]
    sf = _write_lineitem(spark, tmp_path, rows)
    got = {
        r.verdict: r
        for r in QUERIES["q222_sequence_completeness"].spark_fn(spark, sf).collect()
    }
    assert set(got) == {"complete", "gapped", "offset_start", "duplicated"}
    assert got["complete"].n_groups == 2  # orders 1 and 5
    assert got["complete"].key_checksum == 1 + 5
    assert got["gapped"].n_groups == 1
    assert got["gapped"].total_missing_in_span == 1  # linenumber 2 absent
    assert got["offset_start"].n_groups == 1
    assert got["duplicated"].n_groups == 1
    assert got["duplicated"].total_dup_rows == 1


# ---- q226 Welch vs textbook definition ----


def _welch_reference(xs, ys):
    """Textbook Welch from exact cents; returns (t, dof) or (None, None)."""
    import math as m

    c1 = [m.floor(v * 100 + 0.5) for v in xs]
    c2 = [m.floor(v * 100 + 0.5) for v in ys]
    n1, n2 = len(c1), len(c2)
    if n1 < 2 or n2 < 2:
        return None, None
    m1, m2 = sum(c1) / n1, sum(c2) / n2
    v1 = sum((x - m1) ** 2 for x in c1) / (n1 - 1)
    v2 = sum((x - m2) ** 2 for x in c2) / (n2 - 1)
    se2 = v1 / n1 + v2 / n2
    if se2 <= 0:
        return None, None
    t = (m1 - m2) / m.sqrt(se2)
    dof = se2 * se2 / ((v1 / n1) ** 2 / (n1 - 1) + (v2 / n2) ** 2 / (n2 - 1))
    return t, dof


@pytest.mark.parametrize(
    "highs,lows",
    [
        ([100.0, 200.0, 300.0], [50.0, 60.0, 400.0, 10.0]),  # plain
        ([77.0, 77.0, 77.0], [77.0, 77.0]),                   # zero variance both
        ([10.0], [20.0, 30.0]),                               # singleton arm
        ([1.0, 1.0, 2.0], [1000000.5, 0.25]),                 # scale mix + .5 cents
    ],
)
def test_q226_matches_welch_definition(spark, tmp_path, highs, lows):
    import datetime as dt

    d = dt.datetime(1997, 5, 1)
    rows = [
        (i, 1, "O", float(v), d, "1-URGENT") for i, v in enumerate(highs)
    ] + [
        (100 + i, 1, "O", float(v), d, "5-LOW") for i, v in enumerate(lows)
    ]
    sf = _write_orders(spark, tmp_path, rows)
    got = QUERIES["q226_welch_ttest"].spark_fn(spark, sf).collect()[0]
    t, dof = _welch_reference(highs, lows)
    assert (got.n_high, got.n_low) == (len(highs), len(lows))
    if t is None:
        assert got.t_welch is None
        assert got.dof_welch is None
    else:
        assert got.t_welch == pytest.approx(t, rel=1e-12)
        assert got.dof_welch == pytest.approx(dof, rel=1e-12)


# ---- q227 Kendall tau-b vs all-pairs brute force ----


def _kendall_reference(pairs):
    """(C, D, ties_x, ties_y, tau_b) by enumerating every pair."""
    import math as m

    n = len(pairs)
    C = D = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = pairs[i][0] - pairs[j][0]
            dy = pairs[i][1] - pairs[j][1]
            if dx * dy > 0:
                C += 1
            elif dx * dy < 0:
                D += 1
    from collections import Counter

    tx = sum(m_ * (m_ - 1) // 2 for m_ in Counter(x for x, _ in pairs).values())
    ty = sum(m_ * (m_ - 1) // 2 for m_ in Counter(y for _, y in pairs).values())
    n0 = n * (n - 1) // 2
    if n0 <= tx or n0 <= ty:
        return C, D, tx, ty, None
    return C, D, tx, ty, (C - D) / (m.sqrt(n0 - tx) * m.sqrt(n0 - ty))


@pytest.mark.parametrize(
    "pairs",
    [
        # sparse grid: months {1, 3, 7}, priorities {1, 5} — most of the
        # 12x5 grid is EMPTY cells (the densification regression)
        [(1, 1), (1, 5), (3, 1), (3, 1), (7, 5), (7, 1), (3, 5)],
        # perfect concordance along the diagonal
        [(1, 1), (2, 2), (3, 3), (4, 4), (5, 5)],
        # perfect discordance
        [(1, 5), (2, 4), (3, 3), (4, 2), (5, 1)],
        # all ties on x -> tau undefined (NULL)
        [(6, 1), (6, 2), (6, 5), (6, 5)],
    ],
)
def test_q227_matches_allpairs_definition(spark, tmp_path, pairs):
    import datetime as dt

    rows = [
        (i, 1, "O", 100.0, dt.datetime(1997, mo, 3), f"{pr}-X")
        for i, (mo, pr) in enumerate(pairs)
    ]
    sf = _write_orders(spark, tmp_path, rows)
    got = QUERIES["q227_kendall_tau"].spark_fn(spark, sf).collect()[0]
    C, D, tx, ty, tau = _kendall_reference(pairs)
    assert got.n == len(pairs)
    assert (got.concordant, got.discordant) == (C, D)
    assert (got.ties_x, got.ties_y) == (tx, ty)
    if tau is None:
        assert got.tau_b is None
    else:
        assert got.tau_b == pytest.approx(tau, rel=1e-12)


# ---- q228 novelty vs brute-force set logic ----


def test_q228_matches_set_definition(spark, tmp_path):
    # find doc ids on each side of the nv- hash split
    eval_ids = [i for i in range(200) if _h31(f"nv-{i}") % 10 == 7]
    train_ids = [i for i in range(200) if _h31(f"nv-{i}") % 10 != 7]
    e1, e2 = eval_ids[0], eval_ids[1]
    t1 = train_ids[0]
    train_text = "a b c d e f g h"          # grams: abcde bcdef cdefg defgh
    eval_novel = "p q r s t u"              # fully novel (2 grams)
    eval_half = "a b c d e z z z z"         # grams: 1 seen (abcde) of 5
    rows = [
        (t1, train_text, "en", "src", 1),
        (e1, eval_novel, "en", "src", 1),
        (e2, eval_half, "en", "src", 1),
    ]
    sf = _write_documents(spark, tmp_path, rows)
    got = QUERIES["q228_ngram_novelty"].spark_fn(spark, sf).collect()
    assert len(got) == 1
    r = got[0]
    assert r.n_eval_docs == 2
    assert r.n_fully_novel == 1
    # eval_half: 5 distinct grams, 4 novel -> 800000 micros
    assert r.min_novelty_micros == 800_000
    assert r.avg_novelty_micros == (1_000_000 + 800_000) // 2
    assert r.n_memorized_half == 0


# ---- q229 next-pow2 bucketing vs python ----


def test_q229_matches_pow2_definition(spark, tmp_path):
    counts = [1, 2, 3, 4, 5, 8, 9, 16, 17, 31, 33]
    rows = [
        (i, " ".join(["w"] * c), "en", "src", c) for i, c in enumerate(counts)
    ]
    sf = _write_documents(spark, tmp_path, rows)
    got = {r.cap: r for r in QUERIES["q229_length_buckets"].spark_fn(spark, sf).collect()}

    def pow2(t):
        c = 1
        while c < t:
            c *= 2
        return c

    from collections import Counter, defaultdict

    exp_n = Counter(pow2(c) for c in counts)
    exp_tok = defaultdict(int)
    for c in counts:
        exp_tok[pow2(c)] += c
    assert {k: v.n_docs for k, v in got.items()} == dict(exp_n)
    for cap, r in got.items():
        assert r.total_tokens == exp_tok[cap]
        assert r.total_pad == cap * exp_n[cap] - exp_tok[cap]
        assert r.pad_share_micros == 1_000_000 * r.total_pad // (cap * exp_n[cap])


# ---- q224 classifier margin vs python hash arithmetic ----


def test_q224_matches_hash_weights(spark, tmp_path):
    texts = ["alpha beta gamma", "delta", "alpha alpha"]
    rows = [(i, s, "en", "src", len(s)) for i, s in enumerate(texts)]
    sf = _write_documents(spark, tmp_path, rows)
    got = QUERIES["q224_quality_classifier"].spark_fn(spark, sf).collect()[0]

    def margin(text):
        return sum(
            (_h31(f"qc-{tk}") % 64) * 2654435761 % 997 - 498
            for tk in text.split(" ")
        )

    margins = [margin(s) for s in texts]
    assert got.n_docs == 3
    assert got.sum_margin == sum(margins)
    assert got.n_accepted == sum(1 for m_ in margins if m_ > 0)


# ---- q230 streaming completeness: cross-batch state transitions ----


def test_q230_matches_q222_and_crosses_batches(spark, tmp_path):
    """An order whose lines ship months apart lands in different
    micro-batches (the stream source slices shipdate into thirds), so
    its verdict must UPGRADE across batches — gapped while linenumber 2
    is in flight, complete once it arrives. The drained rollup must
    equal the batch audit (q222) on the same table."""
    import datetime as dt

    jan, jun, dec = (
        dt.datetime(1996, 1, 15),
        dt.datetime(1996, 6, 15),
        dt.datetime(1996, 12, 15),
    )
    rows = [
        # order 1: 1,3 early -> gapped mid-stream; 2 arrives last -> complete
        (1, 1, jan), (1, 3, jan), (1, 2, dec),
        # order 2: single line, complete from batch one
        (2, 1, jan),
        # order 3: starts at 2 -> offset_start forever
        (3, 2, jan), (3, 3, jun),
        # order 4: duplicate linenumber split across batches
        (4, 1, jan), (4, 1, dec), (4, 2, jun),
    ]
    sf = _write_lineitem(spark, tmp_path, rows)
    got = sorted(
        tuple(r)
        for r in QUERIES["q230_stream_completeness"].spark_fn(spark, sf).collect()
    )
    want = sorted(
        tuple(r)
        for r in QUERIES["q222_sequence_completeness"].spark_fn(spark, sf).collect()
    )
    assert got == want
    verdicts = {r[0] for r in got}
    assert verdicts == {"complete", "offset_start", "duplicated"}


# ---- q232 Cohen's kappa vs textbook definition ----


def test_q232_matches_kappa_definition(spark, tmp_path):
    # texts built from q57's stopword lists so predictions are known:
    # English stopwords -> 'en', German -> 'de'
    en_text = "the a of and to is it on"
    de_text = "der die das und ist nicht ein zu"
    rows = [
        (1, en_text, "en", "s", 1),   # correct
        (2, en_text, "en", "s", 1),   # correct
        (3, en_text, "fr", "s", 1),   # metadata says fr, heuristic says en
        (4, de_text, "de", "s", 1),   # correct
        (5, de_text, "en", "s", 1),   # metadata says en, heuristic says de
    ]
    sf = _write_documents(spark, tmp_path, rows)
    got = QUERIES["q232_lang_kappa"].spark_fn(spark, sf).collect()[0]
    # confusion: truth x pred: (en,en)=2, (fr,en)=1, (de,de)=1, (en,de)=1
    n, agree = 5, 3
    row = {"en": 3, "fr": 1, "de": 1}
    col = {"en": 3, "de": 2}
    pe_num = sum(row[l] * col.get(l, 0) for l in row)
    assert (got.n_docs, got.n_agree, got.pe_num) == (n, agree, pe_num)
    assert got.kappa == pytest.approx(
        (n * agree - pe_num) / (n * n - pe_num), rel=1e-12
    )


def test_q232_degenerate_constant_yields_null(spark, tmp_path):
    rows = [(i, "the a of and to is it on", "en", "s", 1) for i in range(4)]
    sf = _write_documents(spark, tmp_path, rows)
    got = QUERIES["q232_lang_kappa"].spark_fn(spark, sf).collect()[0]
    assert got.n_agree == 4 and got.kappa is None  # pe == n^2


# ---- q233 Wilson interval vs textbook formula ----


def test_q233_matches_wilson_definition(spark, tmp_path):
    import datetime as dt
    import math as m

    base = dt.datetime(2024, 1, 1)
    # type A: 3/4 hits; type B: 0/3; type C: 2/2 (both edge cases)
    spec = {"A": [300.0, 400.0, 500.0, 10.0], "B": [1.0, 2.0, 3.0], "C": [251.0, 252.0]}
    rows, eid = [], 0
    for ty, vals in spec.items():
        for v in vals:
            rows.append((eid, base, 1, ty, v, "{}"))
            eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {r.event_type: r for r in QUERIES["q233_wilson_ci"].spark_fn(spark, sf).collect()}

    def wilson(x, n):
        z = 1.96
        p = x / n
        center = p + z * z / (2 * n)
        half = z * m.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
        return (center - half) / (1 + z * z / n), (center + half) / (1 + z * z / n)

    for ty, vals in spec.items():
        x = sum(1 for v in vals if v > 250.0)
        lo, hi = wilson(x, len(vals))
        r = got[ty]
        assert (r.n_events, r.n_hits) == (len(vals), x)
        assert r.wilson_lo == pytest.approx(lo, rel=1e-12)
        assert r.wilson_hi == pytest.approx(hi, rel=1e-12)
        assert 0.0 <= r.wilson_lo <= r.wilson_hi <= 1.0  # the Wilson guarantee


# ---- q234 jackknife vs textbook definition ----


def test_q234_matches_jackknife_definition(spark, tmp_path):
    import datetime as dt
    import math as m

    spec = {1: [100.0, 200.0], 2: [50.0], 3: [300.0, 400.0, 500.0]}
    rows, oid = [], 0
    for mo, vals in spec.items():
        for v in vals:
            rows.append((oid, 1, "O", v, dt.datetime(1997, mo, 10), "1-URGENT"))
            oid += 1
    sf = _write_orders(spark, tmp_path, rows)
    got = QUERIES["q234_jackknife_se"].spark_fn(spark, sf).collect()[0]

    cents = {mo: [m.floor(v * 100 + 0.5) for v in vals] for mo, vals in spec.items()}
    N = sum(len(v) for v in cents.values())
    S = sum(sum(v) for v in cents.values())
    G = len(cents)
    thetas = [
        (S - sum(cents[mo])) / (N - len(cents[mo])) for mo in sorted(cents)
    ]
    td = sum(thetas) / G
    se = m.sqrt((G - 1) / G * sum((x - td) ** 2 for x in thetas))
    assert (got.n_groups, got.n_rows) == (G, N)
    assert got.theta_all_cents == pytest.approx(S / N, rel=1e-12)
    assert got.jack_se_cents == pytest.approx(se, rel=1e-12)


def test_q234_single_group_yields_null_not_crash(spark, tmp_path):
    import datetime as dt

    rows = [(i, 1, "O", 100.0, dt.datetime(1997, 4, 2), "1-URGENT") for i in range(3)]
    sf = _write_orders(spark, tmp_path, rows)
    got = QUERIES["q234_jackknife_se"].spark_fn(spark, sf).collect()[0]
    assert got.jack_se_cents is None


# ---- q235 assortativity vs all-edges brute force ----


def test_q235_matches_newman_definition(spark, tmp_path):
    import datetime as dt
    import math as m

    # star around user 1 (each co-occurrence in its OWN hour bucket) plus
    # a 3-clique {10,11,12} in one shared bucket
    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(user, hour, ty="view"):
        nonlocal eid
        eid += 1
        return (eid, base + dt.timedelta(hours=hour), user, ty, 1.0, "{}")

    for i, leaf in enumerate([2, 3, 4]):
        rows += [ev(1, i), ev(leaf, i)]
    rows += [ev(10, 50), ev(11, 50), ev(12, 50)]
    sf = _write_events(spark, tmp_path, rows)
    got = QUERIES["q235_assortativity"].spark_fn(spark, sf).collect()[0]

    edges = {(1, 2), (1, 3), (1, 4), (10, 11), (10, 12), (11, 12)}
    from collections import Counter

    deg = Counter()
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    M = len(edges)
    sjk = sum(deg[u] * deg[v] for u, v in edges)
    sj = sum(deg[u] + deg[v] for u, v in edges)
    sj2 = sum(deg[u] ** 2 + deg[v] ** 2 for u, v in edges)
    assert (got.n_edges, got.sum_jk, got.sum_j, got.sum_j2) == (M, sjk, sj, sj2)
    r = (4.0 * M * sjk - sj * sj) / (2.0 * M * sj2 - sj * sj)
    assert got.assortativity == pytest.approx(r, rel=1e-12)


def test_q235_regular_graph_yields_null(spark, tmp_path):
    import datetime as dt

    # one bucket with 3 users -> a triangle: every degree 2, den = 0
    base = dt.datetime(2024, 1, 1)
    rows = [(i, base, u, "view", 1.0, "{}") for i, u in enumerate([1, 2, 3])]
    sf = _write_events(spark, tmp_path, rows)
    got = QUERIES["q235_assortativity"].spark_fn(spark, sf).collect()[0]
    assert got.n_edges == 3 and got.assortativity is None


# ---- q236 modularity vs brute force over the actual pair set ----


def test_q236_matches_modularity_definition(spark):
    from dicom_metadata_extractor_serverless_datalake_spark.queries.llm import _minhash_band_pairs

    sf = "/root/testdata/sf0.001"
    pairs = [(r.d1, r.d2) for r in _minhash_band_pairs(spark, sf).collect()]
    src = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    from collections import Counter

    m = len(pairs)
    deg = Counter()
    for u, v in pairs:
        deg[u] += 1
        deg[v] += 1
    d_c = Counter()
    for node, d in deg.items():
        d_c[src[node]] += d
    e_c = Counter()
    for u, v in pairs:
        if src[u] == src[v]:
            e_c[src[u]] += 1
    q_num = sum(4 * m * e_c[c] - d_c[c] ** 2 for c in d_c)
    got = QUERIES["q236_source_modularity"].spark_fn(spark, sf).collect()[0]
    assert got.n_edges == m
    assert got.intra_edges == sum(e_c.values())
    assert got.q_num == q_num
    assert got.modularity == pytest.approx(q_num / (4.0 * m * m), rel=1e-12)


# ---- q237 ARI vs sklearn-free brute force over the actual assignment ----


def test_q237_matches_ari_definition(spark):
    from dicom_metadata_extractor_serverless_datalake_spark.operators.ann import _nearest_centroids
    from pyspark.sql import Window, functions as F

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    w = Window.orderBy("vec_id")
    seeds = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(
            (F.row_number().over(w) - 1).alias("centroid_id"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
    )
    assign = [
        (r.cid, r.label)
        for r in _nearest_centroids(emb, seeds, "embedding", n=1, out_col="cid")
        .select("cid", "label")
        .collect()
    ]
    from collections import Counter

    cells = Counter(assign)
    a = Counter()
    b = Counter()
    for (c, l), n in cells.items():
        a[c] += n
        b[l] += n
    comb = lambda x: x * (x - 1) // 2  # noqa: E731
    sc_ij = sum(comb(n) for n in cells.values())
    sc_a = sum(comb(n) for n in a.values())
    sc_b = sum(comb(n) for n in b.values())
    n = sum(cells.values())
    comb_n = comb(n)
    exp = sc_ij - sc_a * sc_b / comb_n
    mx = 0.5 * (sc_a + sc_b) - sc_a * sc_b / comb_n
    got = QUERIES["q237_adjusted_rand"].spark_fn(spark, sf).collect()[0]
    assert (got.n_vectors, got.sum_comb_ij) == (n, sc_ij)
    assert (got.sum_comb_clusters, got.sum_comb_labels) == (sc_a, sc_b)
    assert got.ari == pytest.approx(exp / mx, rel=1e-9)


def test_q237_identical_partitions_would_score_one(spark, tmp_path):
    # sanity on the formula itself: clusters == labels -> ARI == 1
    # (construct directly from the contingency identity, no Spark run)
    comb = lambda x: x * (x - 1) // 2  # noqa: E731
    sizes = [5, 7, 3]
    sc_ij = sc_a = sc_b = sum(comb(s) for s in sizes)
    n = sum(sizes)
    comb_n = comb(n)
    num = 2.0 * comb_n * sc_ij - 2.0 * sc_a * sc_b
    den = comb_n * (sc_a + sc_b) - 2.0 * sc_a * sc_b
    assert num / den == pytest.approx(1.0)


# ---- q238 time-to-convert vs brute-force order statistics ----


def test_q238_matches_rank_definition(spark, tmp_path):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0

    def ev(user, minutes, ty):
        nonlocal eid
        eid += 1
        return (eid, base + dt.timedelta(minutes=minutes), user, ty, 1.0, "{}")

    # users 1..5 convert with known delays (minutes): 10, 20, 30, 40, 50
    for u, dly in enumerate([10, 20, 30, 40, 50], start=1):
        rows += [ev(u, 0, "view"), ev(u, dly, "purchase")]
    # user 6: purchase BEFORE any view -> not a converter
    rows += [ev(6, 5, "purchase"), ev(6, 10, "view")]
    # user 7: view only
    rows += [ev(7, 0, "view")]
    # user 1: a later purchase must not change the FIRST-purchase delay
    rows += [ev(1, 500, "purchase")]
    sf = _write_events(spark, tmp_path, rows)
    got = QUERIES["q238_time_to_convert"].spark_fn(spark, sf).collect()[0]
    delays = sorted([10, 20, 30, 40, 50])
    us = lambda m: m * 60_000_000  # noqa: E731
    n = len(delays)
    assert got.n_converters == n
    assert got.min_delay_us == us(delays[0])
    assert got.max_delay_us == us(delays[-1])
    assert got.median_delay_us == us(delays[(n + 1) // 2 - 1])
    assert got.p90_delay_us == us(delays[(9 * n + 9) // 10 - 1])


# ---- q239 burstiness vs textbook moments ----


def test_q239_matches_moment_definition(spark, tmp_path):
    import datetime as dt
    import math as m

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # type A: gaps 60s, 120s, 600s (bursty-ish); type B: regular 60s gaps
    for ty, offsets in {"A": [0, 1, 3, 13], "B": [0, 1, 2, 3]}.items():
        for off in offsets:
            eid += 1
            rows.append((eid, base + dt.timedelta(minutes=off), 1, ty, 1.0, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    got = {r.event_type: r for r in QUERIES["q239_burstiness"].spark_fn(spark, sf).collect()}

    def ref(offsets):
        gaps = [
            (b - a) * 60_000_000 for a, b in zip(offsets, offsets[1:])
        ]
        n = len(gaps)
        mu = sum(gaps) / n
        var = sum((g - mu) ** 2 for g in gaps) / (n - 1)
        sd = m.sqrt(var)
        return n, mu, sd, (sd - mu) / (sd + mu)

    for ty, offsets in {"A": [0, 1, 3, 13], "B": [0, 1, 2, 3]}.items():
        n, mu, sd, b = ref(offsets)
        r = got[ty]
        assert r.n_gaps == n
        assert r.mean_gap_us == pytest.approx(mu, rel=1e-12)
        assert r.sd_gap_us == pytest.approx(sd, rel=1e-12)
        assert r.burstiness == pytest.approx(b, rel=1e-12)
    assert got["B"].burstiness == pytest.approx(-1.0)  # perfectly regular


# ---- q240 blocking recall vs brute-force truth ----


def test_q240_matches_brute_force_truth(spark):
    """Recompute the exact Jaccard>=0.8 truth set and the LSH candidate
    set in Python over sf0.001 and check every count."""
    from dicom_metadata_extractor_serverless_datalake_spark.queries.llm import _minhash_band_pairs

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    shingles = {}
    for r in docs:
        w = r.text.split(" ")
        ss = {
            _h31(" ".join(w[i : i + 3])) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()
        shingles[r.doc_id] = ss
    ids = sorted(d for d, s in shingles.items() if s)
    truth = set()
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            a, b = shingles[d1], shingles[d2]
            both = len(a & b)
            if both * 10 >= (len(a) + len(b) - both) * 8:
                truth.add((d1, d2))
    cand = {(r.d1, r.d2) for r in _minhash_band_pairs(spark, sf).collect()}
    got = QUERIES["q240_blocking_recall"].spark_fn(spark, sf).collect()[0]
    assert got.n_docs == len(ids)
    assert got.n_truth_pairs == len(truth)
    assert got.n_candidates == len(cand)
    assert got.n_hits == len(truth & cand)
    if truth:
        assert got.recall_micros == 1_000_000 * len(truth & cand) // len(truth)
    n = len(ids)
    pt = n * (n - 1) // 2
    assert got.reduction_micros == 1_000_000 * (pt - len(cand)) // pt


# ---- q241 streaming burstiness: cross-batch gap carry ----


def test_q241_matches_q239_across_batches(spark, tmp_path):
    """Events span the full time range, so the stream source's three
    chronological slices put consecutive events of the same type in
    DIFFERENT micro-batches — the carried last-event state must bridge
    every boundary for the drained moments to equal the batch window
    pass."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # type A: irregular gaps spread over 30 days; type B: two events
    # only, one at each END of the range (the gap spans ALL batches)
    for off_h in [0, 1, 5, 100, 101, 400, 700, 719]:
        eid += 1
        rows.append((eid, base + dt.timedelta(hours=off_h), 1, "A", 1.0, "{}"))
    for off_h in [0, 720]:
        eid += 1
        rows.append((eid, base + dt.timedelta(hours=off_h), 2, "B", 1.0, "{}"))
    sf = _write_events(spark, tmp_path, rows)
    got = sorted(
        tuple(r) for r in QUERIES["q241_stream_burstiness"].spark_fn(spark, sf).collect()
    )
    want = sorted(
        tuple(r) for r in QUERIES["q239_burstiness"].spark_fn(spark, sf).collect()
    )
    assert got == want
    assert len(got) == 2


def test_q241_multi_chunk_batches(spark, tmp_path, monkeypatch):
    """A group whose micro-batch exceeds arrow maxRecordsPerBatch is
    delivered to applyInPandasWithState as MULTIPLE pandas chunks in
    arbitrary (file) order. The gap fold must sort the COMBINED batch,
    not each chunk — per-chunk sorting computes seam gaps against the
    wrong predecessor. Chunk size is forced tiny (7) and the source
    rows are written in shuffled ts order so every chunk seam is a
    genuine out-of-order boundary. The drain runs on its own session,
    so an accumulator counts the calls that really got more than one
    chunk: the caller's chunk size must reach the stream."""
    import datetime as dt
    import random

    from dicom_metadata_extractor_serverless_datalake_spark.queries import streams

    multi = spark.sparkContext.accumulator(0)
    fold = streams._burst_update

    def counting(key, batches, state):
        chunks = list(batches)
        if len(chunks) > 1:
            multi.add(1)
        yield from fold(key, iter(chunks), state)

    monkeypatch.setattr(streams, "_burst_update", counting)
    base = dt.datetime(2024, 3, 1)
    # 90 type-A events with irregular (quadratic-ish) gaps across 30
    # days -> each of the 3 time slices holds ~30 rows = ~5 chunks.
    offs = [i * 7 + (i * i) % 13 for i in range(90)]
    rows = [
        (i + 1, base + dt.timedelta(hours=h), 1, "A", 1.0, "{}")
        for i, h in enumerate(offs)
    ]
    random.Random(241).shuffle(rows)  # file order != event-time order
    sf = _write_events(spark, tmp_path, rows)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "7")
    try:
        got = sorted(
            tuple(r)
            for r in QUERIES["q241_stream_burstiness"].spark_fn(spark, sf).collect()
        )
    finally:
        spark.conf.set(conf, prev)
    want = sorted(
        tuple(r) for r in QUERIES["q239_burstiness"].spark_fn(spark, sf).collect()
    )
    assert got == want
    assert len(got) == 1
    assert multi.value >= 1


# ---- q242 sampled-truth blocking recall vs brute-force truth ----


def test_q242_matches_brute_force_sampled_truth(spark):
    """Recompute the 30% hash slice, the exact Jaccard>=0.8 truth set
    WITHIN the slice, and the LSH candidate set over the slice in
    Python at sf0.001; check every count plus the Wilson lower bound
    (same IEEE tree as the engine)."""
    import math as m

    from dicom_metadata_extractor_serverless_datalake_spark.queries.audits import _Q242_SAMPLE_PCT
    from dicom_metadata_extractor_serverless_datalake_spark.queries.llm import _minhash_band_pairs

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    sampled = [r for r in docs if _h31(f"s242-{r.doc_id}") % 100 < _Q242_SAMPLE_PCT]
    assert 0 < len(sampled) < len(docs)  # the slice is real and proper
    shingles = {}
    for r in sampled:
        w = r.text.split(" ")
        ss = {
            _h31(" ".join(w[i : i + 3])) for i in range(len(w) - 2)
        } if len(w) >= 3 else set()
        shingles[r.doc_id] = ss
    ids = sorted(d for d, s in shingles.items() if s)
    truth = set()
    for i, d1 in enumerate(ids):
        for d2 in ids[i + 1 :]:
            a, b = shingles[d1], shingles[d2]
            both = len(a & b)
            if both * 10 >= (len(a) + len(b) - both) * 8:
                truth.add((d1, d2))
    # candidate set over the slice == full-corpus candidates restricted
    # to in-slice pairs (band signatures are per-doc)
    full_cand = {(r.d1, r.d2) for r in _minhash_band_pairs(spark, sf).collect()}
    in_slice = set(shingles)
    cand = {(a, b) for a, b in full_cand if a in in_slice and b in in_slice}
    got = QUERIES["q242_blocking_recall_sampled"].spark_fn(spark, sf).collect()[0]
    assert got.n_docs_sampled == len(ids)
    assert got.n_truth_pairs == len(truth)
    assert got.n_candidates == len(cand)
    assert got.n_hits == len(truth & cand)
    if truth:
        hits, n = len(truth & cand), len(truth)
        assert got.recall_micros == 1_000_000 * hits // n
        z = 1.96
        p = hits / n
        center = p + z * z / (2.0 * n)
        half = z * m.sqrt(p * (1 - p) / n + z * z / (4.0 * n * n))
        lb = (center - half) / (1.0 + z * z / n)
        assert got.wilson_lb_micros == m.floor(1_000_000.0 * lb)
        assert got.wilson_lb_micros <= got.recall_micros
    else:
        assert got.recall_micros is None and got.wilson_lb_micros is None


def test_exact_ntile_closed_form_matches_sql_ntile(spark):
    """q247's closed-form ntile (via parallel numbering positions)
    reproduces SQL ntile(5)'s big-buckets-first allocation for row
    counts around every remainder class, including n < k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dicom_metadata_extractor_serverless_datalake_spark.queries.behavior import _exact_ntile

    for n in (1, 3, 4, 5, 6, 7, 23, 100, 101, 104):
        df = spark.range(1, n + 1).withColumnRenamed("id", "pos")
        w = Window.orderBy("pos")
        got = (
            df.select(
                "pos",
                _exact_ntile("pos", n).alias("mine"),
                F.ntile(5).over(w).cast("long").alias("sql"),
            )
            .filter(F.col("mine") != F.col("sql"))
            .count()
        )
        assert got == 0, f"n={n}"


def test_q244_incremental_shape_and_brute_force(spark, sf_dir):
    """q244's output: every screened doc is in the delta slice
    (doc_id % 10 == 0), every canonical attribution is a corpus doc,
    and (n_matches, canonical_id, best_jaccard) reproduce a Python
    brute force over the full band-collision x signature-agreement
    definition at sf0.001."""
    from collections import defaultdict

    from dicom_metadata_extractor_serverless_datalake_spark.queries.base import QUERIES
    from dicom_metadata_extractor_serverless_datalake_spark.queries.llm import _minhash_band_pairs  # noqa: F401
    from dicom_metadata_extractor_serverless_datalake_spark.operators.dedup import (
        NUM_PERM,
        minhash_signatures,
        shingle_tokens,
    )
    from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = {
        r["doc_id"]: [r[f"m{i}"] for i in range(NUM_PERM)]
        for r in minhash_signatures(shingle_tokens(docs)).collect()
    }
    bands = defaultdict(set)
    for d, m in sigs.items():
        for b in range(4):
            key = (b, tuple(m[b * 4 : b * 4 + 4]))
            bands[key].add(d)
    want = defaultdict(list)
    for members in bands.values():
        for dn in members:
            if dn % 10 != 0:
                continue
            for do in members:
                if do % 10 != 0 and do != dn:
                    agree = sum(a == b for a, b in zip(sigs[dn], sigs[do]))
                    if agree / NUM_PERM >= 0.5:
                        want[dn].append((do, agree / NUM_PERM))
    expect = {
        dn: (len(set(m)), min(d for d, _ in m), max(j for _, j in m))
        for dn, m in ((dn, list(set(m))) for dn, m in want.items())
    }
    got = {
        r["doc_id"]: (r["n_matches"], r["canonical_id"], r["best_jaccard"])
        for r in QUERIES["q244_incremental_neardup"].spark_fn(spark, sf_dir).collect()
    }
    assert got == expect


def test_q245_bh_thresholds_match_derivation():
    """The frozen BH threshold literals equal floor(1e6 * -2*ln(k*q/m))
    computed on this host — drift between the frozen decision set and
    the documented derivation surfaces here instead of silently."""
    import math

    from dicom_metadata_extractor_serverless_datalake_spark.queries.evals import _BH_M, _BH_Q, _BH_THR_MICROS

    derived = [
        math.floor(1e6 * -2.0 * math.log(k * _BH_Q / _BH_M))
        for k in range(1, _BH_M + 1)
    ]
    assert _BH_THR_MICROS == derived


def test_q250_lttb_short_series_identity(spark, tmp_path):
    """LTTB's contract for a series of n <= N_OUT points is the
    identity: a 5-day orders table must return all 5 points (the anchor
    joins would otherwise silently drop interior points whose sparse
    neighbor buckets are empty)."""
    import datetime

    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    d = str(tmp_path / "mini")
    rows = [
        (i, datetime.datetime(1995, 1, 1 + i), 100.0 + i) for i in range(5)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_orderdate timestamp, o_totalprice double"
    ).write.parquet(f"{d}/orders.parquet")
    out = QUERIES["q250_lttb_downsample"].spark_fn(spark, d).collect()
    assert len(out) == 5
    assert [r["bucket"] for r in out] == [0, 1, 2, 3, 4]
    assert [r["cents"] for r in out] == [10000 + 100 * i for i in range(5)]


# ---- round 8: q253-q259 third opinions ----


def test_q254_equals_q248_allpairs(spark, sf_dir):
    """Star-edge CC closure == all-pairs CC closure, LOCALLY (the
    driver oracle proves it against DuckDB; this pins it engine-side
    so a refactor of lsh_star_edges can't silently split clusters)."""
    star = QUERIES["q254_diversity_sample_star"].spark_fn(spark, sf_dir)
    allp = QUERIES["q248_cluster_balanced_sample"].spark_fn(spark, sf_dir)
    assert star.exceptAll(allp).count() == 0
    assert allp.exceptAll(star).count() == 0


def test_q255_subset_of_q246_with_identical_scores(spark, sf_dir):
    """Capped sub-blocking only DROPS pairs (recall trade), never adds
    or rescores: q255's output is a strict subset of q246's rows."""
    capped = QUERIES["q255_linkage_capped_blocks"].spark_fn(spark, sf_dir)
    full = QUERIES["q246_fellegi_sunter"].spark_fn(spark, sf_dir)
    assert capped.count() > 0
    assert capped.exceptAll(full).count() == 0


def test_q256_good_turing_brute_force(spark, tmp_path):
    """Crafted corpus: word frequencies {a:3, b:3, c:2, d:1, e:1, f:1}
    -> N_1=3, N_2=1, N_3=2, N=11 tokens. Turing r* checked against the
    hand formula, p0 = N_1/N."""
    rows = [
        (1, "a a a b", "en", "s", 7),
        (2, "b b c c d", "en", "s", 9),
        (3, "e f", "en", "s", 3),
    ]
    _write_documents(spark, tmp_path, rows)
    out = {
        r["r"]: r
        for r in QUERIES["q256_good_turing"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["n_types"] == 3 and out[2]["n_types"] == 1 and out[3]["n_types"] == 2
    # r*=1: (1+1)*N_2/N_1 = 2*1/3 -> 666666 micros (floor)
    assert out[1]["r_star_micros"] == 666_666
    # r*=2: (2+1)*N_3/N_2 = 3*2/1 = 6.0 exactly
    assert out[2]["r_star_micros"] == 6_000_000
    # no N_4 -> NULL
    assert out[3]["r_star_micros"] is None
    assert all(r["p0_micros"] == 1_000_000 * 3 // 11 for r in out.values())


def test_q257_chi2_brute_force(spark, tmp_path):
    """One repeated strong collocation against a noise background;
    chi-square recomputed from the textbook 2x2 table in Python."""
    phrase = " ".join(["deep learning"] * 6)  # 'deep learning' x6 + bridges
    noise = "the of and to in for the of and to in for"
    rows = [
        (1, phrase, "en", "s", len(phrase)),
        (2, noise, "en", "s", len(noise)),
        (3, noise, "en", "s", len(noise)),
    ]
    _write_documents(spark, tmp_path, rows)
    out = QUERIES["q257_chi2_collocations"].spark_fn(spark, str(tmp_path)).collect()
    got = {(r["w1"], r["w2"]): r for r in out}
    assert ("deep", "learning") in got
    row = got[("deep", "learning")]
    # brute-force table over ALL bigrams of the three docs
    bigrams = []
    for _, text, *_ in rows:
        ws = text.split(" ")
        bigrams += list(zip(ws, ws[1:]))
    n = len(bigrams)
    o11 = bigrams.count(("deep", "learning"))
    r1 = sum(1 for a, _ in bigrams if a == "deep")
    c1 = sum(1 for _, b in bigrams if b == "learning")
    assert row["o11"] == o11 == 6
    ad_bc = o11 * (n - r1 - c1 + o11) - (r1 - o11) * (c1 - o11)
    chi2 = n * ad_bc * ad_bc / (r1 * c1 * (n - r1) * (n - c1))
    assert row["chi2_micros"] == math.floor(1_000_000 * chi2)


def test_q258_mann_whitney_brute_force(spark, tmp_path):
    """Adversarial ties (cross-group and within-group): U and the
    tie-corrected z recomputed from per-row average ranks."""
    import datetime as dt

    vals_a = [1.0, 2.0, 2.0, 5.0, 7.0]   # purchase
    vals_b = [2.0, 3.0, 5.0, 5.0]        # click
    rows, eid = [], 0
    for v in vals_a:
        rows.append((eid, dt.datetime(2024, 1, 1), 1, "purchase", v, "{}")); eid += 1
    for v in vals_b:
        rows.append((eid, dt.datetime(2024, 1, 1), 2, "click", v, "{}")); eid += 1
    rows.append((eid, dt.datetime(2024, 1, 1), 3, "view", 9.9, "{}"))  # excluded
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q258_mann_whitney"].spark_fn(spark, str(tmp_path)).collect()

    pooled = sorted([(v, "a") for v in vals_a] + [(v, "b") for v in vals_b])
    # average ranks
    ranks, i = {}, 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        avg = (i + 1 + j) / 2  # mean of ranks i+1..j
        ranks[pooled[i][0]] = avg
        i = j
    ra = sum(ranks[v] for v in vals_a)
    n1, n2 = len(vals_a), len(vals_b)
    u = ra - n1 * (n1 + 1) / 2
    assert out["n1"] == n1 and out["n2"] == n2
    assert out["u2"] == int(2 * u)
    # tie term over pooled value multiplicities
    from collections import Counter

    tie = sum(m**3 - m for m in Counter(v for v, _ in pooled).values())
    assert out["tie_term"] == tie
    nn = n1 + n2
    sigma2 = (n1 * n2 / 12) * ((nn + 1) - tie / (nn * (nn - 1)))
    z = (u - n1 * n2 / 2) / math.sqrt(sigma2)
    assert out["z_micros"] == math.floor(1_000_000 * z)


def test_q258_q268_degenerate_inputs_null(spark, tmp_path):
    """ADVICE r08: sigma^2 = 0 (every pooled row ties on one value) and
    missing groups must yield NULL, not an Inf/NaN floor-cast error —
    mirrored in the oracle via the n_groups/empty-group CASE guard."""
    import datetime as dt

    # all 6 rows carry the SAME value -> one tie group, zero variance;
    # only 3 of q268's five event types present -> empty groups there
    rows = [
        (i, dt.datetime(2024, 1, 1), i % 2,
         ["purchase", "click", "view"][i % 3], 4.0, "{}")
        for i in range(6)
    ]
    _write_events(spark, tmp_path, rows)
    (mw,) = QUERIES["q258_mann_whitney"].spark_fn(spark, str(tmp_path)).collect()
    assert mw["n1"] == 2 and mw["n2"] == 2  # view rows excluded
    assert mw["z_micros"] is None
    (kw,) = QUERIES["q268_kruskal_wallis"].spark_fn(spark, str(tmp_path)).collect()
    assert kw["n_error"] == 0 and kw["n_signup"] == 0
    assert kw["h_micros"] is None and kw["reject_at_05"] is None

    # one-sided degenerate: clicks only -> n1 = 0 guard (values differ,
    # so this exercises the empty-group arm, not the all-tie arm)
    rows2 = [
        (i, dt.datetime(2024, 1, 1), i, "click", float(i), "{}") for i in range(4)
    ]
    d2 = tmp_path / "one_sided"  # fresh dir: overwriting the first
    d2.mkdir()                   # path would hit Spark's listing cache
    _write_events(spark, d2, rows2)
    (mw2,) = QUERIES["q258_mann_whitney"].spark_fn(spark, str(d2)).collect()
    assert mw2["n1"] == 0 and mw2["z_micros"] is None


def test_q259_kmeans_brute_force(spark, tmp_path):
    """Tiny planted clusters; Lloyd (k=4, 2 rounds) replayed in Python
    on the same integer micro-grid with truncating division."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = [np.full(64, c, dtype=np.float64) for c in (-0.4, -0.1, 0.2, 0.45)]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(10):
            v = c + rng.uniform(-0.03, 0.03, 64)
            rows.append((vid, [float(x) for x in v], ci))
            vid += 1
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = QUERIES["q259_kmeans_embeddings"].spark_fn(spark, str(tmp_path)).collect()

    # brute force on the micro grid (floats pass through float32 storage)
    import pyarrow.parquet as pq

    table = pq.read_table(str(tmp_path / "embeddings.parquet"))
    vecs = {
        int(i): [math.floor(1_000_000 * float(x)) for x in v]
        for i, v in zip(table["vec_id"].to_pylist(), table["embedding"].to_pylist())
    }

    def tdiv(s, c):
        q = abs(s) // c
        return q if s >= 0 else -q

    cents = [vecs[i] for i in sorted(vecs)[:4]]

    def assign(cs):
        a = {}
        for vid_, v in vecs.items():
            best = min(
                (sum((x - y) ** 2 for x, y in zip(v, c)), ci)
                for ci, c in enumerate(cs)
            )
            a[vid_] = best  # (dist, cid)
        return a

    a1 = assign(cents)
    new = {}
    for vid_, (_, cid) in a1.items():
        new.setdefault(cid, []).append(vecs[vid_])
    cents2 = {
        cid: [tdiv(sum(col), len(vs)) for col in zip(*vs)]
        for cid, vs in new.items()
    }
    a2 = assign([cents2[c] for c in sorted(cents2)])
    exp = {}
    for vid_, (dist, cid) in a2.items():
        e = exp.setdefault(cid, [0, 0, 0])
        e[0] += 1
        e[1] += vid_
        e[2] += dist
    got = {r["cid"]: r for r in out}
    assert set(got) == set(exp)
    for cid, (nv, ids, inertia) in exp.items():
        assert got[cid]["n_vecs"] == nv
        assert got[cid]["id_checksum"] == ids
        assert got[cid]["inertia"] == float(inertia)
        assert got[cid]["centroid_coord_sum"] == sum(cents2[cid])


def test_q260_association_rules_brute_force(spark, tmp_path):
    """3 users, hand-computed baskets: u1={click,view}, u2={click,
    purchase}, u3={click,view,purchase}."""
    import datetime as dt

    rows, eid = [], 0
    for uid, types in ((1, ["click", "view"]), (2, ["click", "purchase"]),
                       (3, ["click", "view", "purchase"])):
        for ty in types:
            rows.append((eid, dt.datetime(2024, 1, 1), uid, ty, 1.0, "{}")); eid += 1
    _write_events(spark, tmp_path, rows)
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in QUERIES["q260_association_rules"].spark_fn(spark, str(tmp_path)).collect()
    }
    r = out[("view", "purchase")]
    # both={u3}=1, n_view=2, n_purchase=2, N=3
    assert r["n_both"] == 1
    assert r["support_micros"] == 1_000_000 * 1 // 3
    assert r["confidence_micros"] == 1_000_000 * 1 // 2
    assert r["lift_micros"] == 1_000_000 * 3 * 1 // 4
    r2 = out[("click", "view")]
    assert r2["n_both"] == 2 and r2["confidence_micros"] == 1_000_000 * 2 // 3


def test_q261_mcnemar_brute_force(spark, tmp_path):
    """Timeline [t0, t0+10h]: cut at +5h. u1 purchases both halves (a),
    u2 only H1 (b), u3+u4 only H2 (c), u5 never (d). Continuity-
    corrected chi2 = (|1-2|-1)^2/3 = 0."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def at(h):
        return t0 + dt.timedelta(hours=h)

    rows = [
        (0, at(0), 1, "purchase", 1.0, "{}"),   # pins min_ts
        (1, at(9), 1, "purchase", 1.0, "{}"),
        (2, at(1), 2, "purchase", 1.0, "{}"),
        (3, at(8), 2, "click", 1.0, "{}"),
        (4, at(2), 3, "click", 1.0, "{}"),
        (5, at(8), 3, "purchase", 1.0, "{}"),
        (6, at(7), 4, "purchase", 1.0, "{}"),
        (7, at(3), 5, "click", 1.0, "{}"),
        (8, at(10), 5, "view", 1.0, "{}"),      # pins max_ts
    ]
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q261_mcnemar_paired"].spark_fn(spark, str(tmp_path)).collect()
    assert (out["a"], out["b"], out["c"], out["d"]) == (1, 1, 2, 1)
    assert out["chi2_micros"] == 0  # (|1-2|-1)^2 / 3


def test_q262_countmin_one_sided_error(spark, sf_dir):
    """CM's guarantee is one-sided: est >= exact for every audited
    word, and est == exact when no other word shares all 4 buckets."""
    out = QUERIES["q262_countmin_audit"].spark_fn(spark, sf_dir).collect()
    assert len(out) == 20
    assert all(r["overestimate"] >= 0 for r in out)
    assert all(r["cm_est"] == r["exact_n"] + r["overestimate"] for r in out)


def test_q263_substring_dedup_brute_force(spark, tmp_path):
    """Two docs share one verbatim 25-token passage; a third is unique.
    Expected duplicated-span counts computed by hand: a 25-token
    shared block inside longer distinct docs yields exactly 6 shared
    20-token spans per doc."""
    shared = " ".join(f"s{i}" for i in range(25))
    d1 = "a1 a2 a3 " + shared + " z1 z2"
    d2 = "b1 b2 " + shared + " y1 y2 y3"
    d3 = " ".join(f"u{i}" for i in range(30))
    rows = [(1, d1, "en", "s", len(d1)), (2, d2, "en", "s", len(d2)),
            (3, d3, "en", "s", len(d3))]
    _write_documents(spark, tmp_path, rows)
    out = {r["doc_id"]: r for r in
           QUERIES["q263_substring_dedup"].spark_fn(spark, str(tmp_path)).collect()}
    # doc1: 30 tokens -> 11 spans; the 6 spans fully inside the shared
    # block (offsets 4..9, 1-based) also occur in doc2
    assert out[1]["n_spans"] == 11 and out[1]["n_dup_spans"] == 6
    assert out[2]["n_spans"] == 11 and out[2]["n_dup_spans"] == 6
    assert out[3]["n_spans"] == 11 and out[3]["n_dup_spans"] == 0
    assert out[1]["dup_fraction_micros"] == 1_000_000 * 6 // 11


def test_q264_acf_brute_force(spark, tmp_path):
    """Tiny orders series with known daily sums; ACF recomputed from
    the textbook mean-centered estimator in Python floats."""
    import datetime as dt

    daily = [100.0, 200.0, 150.0, 300.0, 250.0, 180.0, 220.0]
    rows = []
    for i, v in enumerate(daily):
        rows.append((i, 1, "O", v, dt.date(2024, 1, 1) + dt.timedelta(days=i)))
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate date",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {
        r["lag"]: r
        for r in QUERIES["q264_autocorrelation"].spark_fn(spark, str(tmp_path)).collect()
    }
    y = [math.floor(v * 100) for v in daily]
    n = len(y)
    m = sum(y) / n
    den = sum((v - m) ** 2 for v in y)
    for k in range(1, 7):  # lags up to n-1 produce pairs
        num = sum((y[t] - m) * (y[t + k] - m) for t in range(n - k))
        assert out[k]["n_pairs"] == n - k
        # integer algebra equals the float formula up to the micro floor
        assert abs(out[k]["acf_micros"] - math.floor(1_000_000 * num / den)) <= 1
    assert set(out) == set(range(1, 7))  # lags beyond n-1 have no pairs


def test_q265_rake_brute_force(spark, tmp_path):
    """Hand corpus: 'deep neural nets' twice, 'neural nets' once, with
    stopword boundaries. deg/freq scores recomputed by hand."""
    d1 = "deep neural nets the deep neural nets"
    d2 = "a neural nets of fast code"
    rows = [(1, d1, "en", "s", len(d1)), (2, d2, "en", "s", len(d2))]
    _write_documents(spark, tmp_path, rows)
    out = {r["phrase"]: r for r in
           QUERIES["q265_rake_keywords"].spark_fn(spark, str(tmp_path)).collect()}
    # phrases: 'deep neural nets' x2, 'neural nets' x1, 'fast code' x1
    assert out["deep neural nets"]["n_occurrences"] == 2
    assert out["neural nets"]["n_occurrences"] == 1
    assert out["fast code"]["n_occurrences"] == 1
    # freq/deg: deep f2 d6; neural f3 d8; nets f3 d8; fast f1 d2; code f1 d2
    s = lambda deg, fr: 1_000_000 * deg // fr  # noqa: E731
    assert out["deep neural nets"]["score_micros"] == s(6, 2) + s(8, 3) + s(8, 3)
    assert out["neural nets"]["score_micros"] == s(8, 3) + s(8, 3)
    assert out["fast code"]["score_micros"] == s(2, 1) + s(2, 1)


def test_q267_seasonal_brute_force(spark, tmp_path):
    """21-day synthetic series with a planted weekly pattern; the
    decomposition recomputed from the textbook moving-average method."""
    import datetime as dt

    season = [50.0, -20.0, 0.0, 10.0, -30.0, 40.0, -50.0]
    rows = []
    for i in range(21):
        v = 1000.0 + 5.0 * i + season[i % 7]
        rows.append((i, 1, "O", v, dt.date(2024, 1, 1) + dt.timedelta(days=i)))
    spark.createDataFrame(
        rows,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate date",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = {r["dow"]: r for r in
           QUERIES["q267_seasonal_decompose"].spark_fn(spark, str(tmp_path)).collect()}
    y = [math.floor((1000.0 + 5.0 * i + season[i % 7]) * 100) for i in range(21)]
    x0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    exp = {}
    for t_ in range(3, 18):  # full 7-day windows only
        dow = (x0 + t_) % 7
        num7 = 7 * y[t_] - sum(y[t_ - 3 : t_ + 4])
        exp.setdefault(dow, []).append(num7)
    assert set(out) == set(exp)
    for dow, nums in exp.items():
        assert out[dow]["n_days"] == len(nums)
        assert out[dow]["seasonal_micros"] == math.floor(
            1_000_000 * sum(nums) / (7 * len(nums))
        )


def test_q268_kruskal_wallis_brute_force(spark, tmp_path):
    """All five types with heavy cross-group ties; H recomputed via
    scipy-free textbook ranks in Python floats."""
    import datetime as dt

    groups = {
        "click": [1.0, 2.0, 2.0],
        "error": [2.0, 3.0],
        "purchase": [3.0, 3.0, 5.0],
        "signup": [1.0, 4.0],
        "view": [5.0, 6.0],
    }
    rows, eid = [], 0
    for ty, vals in groups.items():
        for v in vals:
            rows.append((eid, dt.datetime(2024, 1, 1), eid, ty, v, "{}")); eid += 1
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q268_kruskal_wallis"].spark_fn(spark, str(tmp_path)).collect()

    pooled = sorted((v, ty) for ty, vals in groups.items() for v in vals)
    ranks, i = {}, 0
    while i < len(pooled):
        j = i
        while j < len(pooled) and pooled[j][0] == pooled[i][0]:
            j += 1
        for k in range(i, j):
            ranks.setdefault(pooled[i][0], (i + 1 + j) / 2)
        i = j
    n = len(pooled)
    from collections import Counter

    tie = sum(m**3 - m for m in Counter(v for v, _ in pooled).values())
    assert out["n"] == n and out["tie_term"] == tie
    h = (12.0 / (n * (n + 1))) * sum(
        sum(ranks[v] for v in vals) ** 2 / len(vals) for vals in groups.values()
    ) - 3.0 * (n + 1)
    hc = h / (1.0 - tie / (n**3 - n))
    assert abs(out["h_micros"] - math.floor(1_000_000 * hc)) <= 1
    for ty, vals in groups.items():
        assert out[f"n_{ty}"] == len(vals)


def test_q270_cochran_armitage_brute_force(spark, tmp_path):
    """Planted monotone trend over 4 exposure levels; z^2 recomputed
    from the textbook 2xK formula in Python floats."""
    import datetime as dt

    # (clicks, purchases>150): level s = clicks // 5 capped at 3
    plan = [
        (0, 0), (1, 0), (2, 0), (3, 0),          # s=0, 0/4 convert
        (5, 0), (6, 1), (7, 0),                  # s=1, 1/3
        (10, 1), (11, 1), (12, 0),               # s=2, 2/3
        (15, 1), (16, 1), (17, 1), (20, 0),      # s=3, 3/4
    ]
    rows, eid = [], 0
    for uid, (clicks, conv) in enumerate(plan):
        for _ in range(clicks):
            rows.append((eid, dt.datetime(2024, 1, 1), uid, "click", 1.0, "{}")); eid += 1
        if conv:
            rows.append((eid, dt.datetime(2024, 1, 1), uid, "purchase", 200.0, "{}")); eid += 1
        else:
            rows.append((eid, dt.datetime(2024, 1, 1), uid, "purchase", 50.0, "{}")); eid += 1
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q270_cochran_armitage"].spark_fn(spark, str(tmp_path)).collect()
    levels = {}
    for clicks, conv in plan:
        s = min(clicks // 5, 3)
        n_i, r_i = levels.get(s, (0, 0))
        levels[s] = (n_i + 1, r_i + conv)
    n = sum(v[0] for v in levels.values())
    r = sum(v[1] for v in levels.values())
    t1 = sum(s * v[1] for s, v in levels.items())
    t2 = sum(s * v[0] for s, v in levels.items())
    t3 = sum(s * s * v[0] for s, v in levels.items())
    assert (out["n"], out["r"], out["t1"], out["t2"], out["t3"]) == (n, r, t1, t2, t3)
    assert out["trend_sign"] == 1  # planted increasing trend
    z2 = n * (n * t1 - r * t2) ** 2 / (r * (n - r) * (n * t3 - t2 * t2))
    assert out["z2_micros"] == math.floor(1_000_000 * z2)


def test_q269_hits_brute_force(spark, tmp_path):
    """Tiny bipartite graph; both HITS rounds replayed in Python ints."""
    import datetime as dt

    # orders: (orderkey, custkey); lineitem: (orderkey, suppkey)
    orders = [(ok, c, "O", 1.0, dt.date(2024, 1, 1)) for ok, c in
              [(100, 1), (200, 1), (300, 2), (400, 3)]]
    li = [(100, 10), (100, 11), (200, 10), (300, 12), (400, 10), (400, 13)]
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate date",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        li, "l_orderkey bigint, l_suppkey bigint"
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = QUERIES["q269_hits_bipartite"].spark_fn(spark, str(tmp_path)).collect()
    # distinct (cust, supp) edges from the tables above:
    # c1 -> {10, 11} (orders 100+200), c2 -> {12}, c3 -> {10, 13}
    e = {(1, 10), (1, 11), (2, 12), (3, 10), (3, 13)}
    a1 = {}
    for c, s_ in e:
        a1[s_] = a1.get(s_, 0) + 1
    h1 = {}
    for c, s_ in e:
        h1[c] = h1.get(c, 0) + a1[s_]
    a2 = {}
    for c, s_ in e:
        a2[s_] = a2.get(s_, 0) + h1[c]
    got_h = {r["node_id"]: r["score"] for r in out if r["side"] == "hub"}
    got_a = {r["node_id"]: r["score"] for r in out if r["side"] == "authority"}
    assert got_h == h1
    assert got_a == a2


# ---- round-9 additions: q271-q274, q277 ----


def test_q271_average_precision_brute_force(spark, tmp_path):
    """Tiny corpus with score ties straddling relevance; AP recomputed
    from the group-boundary-cutoff definition in exact fractions."""
    from fractions import Fraction

    # (score, is_en): two tie groups and two singletons
    data = [(30, 1), (30, 0), (20, 1), (10, 1), (10, 0), (10, 0), (5, 0)]
    rows = [
        (i, f"doc {i}", "en" if rel else "de", "s", score)
        for i, (score, rel) in enumerate(data)
    ]
    _write_documents(spark, tmp_path, rows)
    (out,) = QUERIES["q271_average_precision"].spark_fn(spark, str(tmp_path)).collect()

    # brute force: group by score desc, accumulate retrieved/relevant
    from collections import Counter, defaultdict

    grp = defaultdict(lambda: [0, 0])
    for score, rel in data:
        grp[score][0] += 1
        grp[score][1] += rel
    cret = pret = 0
    total = 0
    for score in sorted(grp, reverse=True):
        m, p = grp[score]
        cret += m
        pret += p
        total += (1_000_000 * p * pret) // cret  # floored term, like the query
    n_rel = sum(rel for _, rel in data)
    assert out["n_rel"] == n_rel == 3
    assert out["n_docs"] == len(data)
    assert out["ap_micros"] == total // n_rel


def test_q272_ams_f2_brute_force(spark, tmp_path):
    """Counters and exact F2 replayed in Python from the portable h31."""
    import hashlib

    texts = ["a b a c", "b b a", "c c c c d"]
    rows = [(i, t_, "en", "s", len(t_)) for i, t_ in enumerate(texts)]
    _write_documents(spark, tmp_path, rows)
    (out,) = QUERIES["q272_ams_f2"].spark_fn(spark, str(tmp_path)).collect()

    def h31(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % 2_147_483_647

    toks = [w for t_ in texts for w in t_.split(" ") if w]
    from collections import Counter

    cnt = Counter(toks)
    f2 = sum(c * c for c in cnt.values())
    assert out["f2_exact"] == float(f2)
    xs = []
    for j in range(8):
        x = sum(1 - 2 * (h31(f"ams{j}-{w}") % 2) for w in toks)
        assert out[f"x{j}"] == x
        xs.append(x * x)
    xs.sort()
    assert out["f2_est"] == (xs[3] + xs[4]) / 2.0


def test_q273_levene_brute_force(spark, tmp_path):
    """Brown-Forsythe F recomputed from per-group medians in Python,
    with an even-count group (midpoint median) and exact ties."""
    import datetime as dt

    groups = {
        "click": [1.0, 3.0, 3.0, 9.0],      # even: med = 3.0
        "error": [2.0, 2.0, 8.0],           # odd: med = 2.0
        "purchase": [1.0, 5.0, 6.0],
        "signup": [4.0, 4.0, 4.5, 7.0],
        "view": [0.5, 2.5, 9.5],
    }
    rows, eid = [], 0
    for g, vals in groups.items():
        for v in vals:
            rows.append((eid, dt.datetime(2024, 1, 1), eid, g, v, "{}")); eid += 1
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q273_levene_spread"].spark_fn(spark, str(tmp_path)).collect()

    import statistics

    zs = {
        g: [abs(v - statistics.median(vals)) for v in vals]
        for g, vals in groups.items()
    }
    k = len(groups)
    n = sum(len(v) for v in zs.values())
    zbar = {g: sum(v) / len(v) for g, v in zs.items()}
    zall = sum(sum(v) for v in zs.values()) / n
    ssb = sum(len(v) * (zbar[g] - zall) ** 2 for g, v in zs.items())
    ssw = sum((x - zbar[g]) ** 2 for g, v in zs.items() for x in v)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert out["n"] == n
    # micros floor of a float recomputation: allow 1 ulp of micros slack
    assert abs(out["f_micros"] - math.floor(1_000_000 * f)) <= 1


def test_q274_friedman_brute_force(spark, tmp_path):
    """Friedman chi2 with within-block ties recomputed from scipy-free
    textbook formula; incomplete blocks must be excluded."""
    import datetime as dt

    # user 1..3: complete blocks (all five types); user 9: incomplete
    types = ["click", "error", "purchase", "signup", "view"]
    blocks = {
        1: [5.0, 1.0, 3.0, 2.0, 4.0],
        2: [2.0, 2.0, 4.0, 1.0, 5.0],   # tie within block
        3: [1.0, 2.0, 3.0, 4.0, 5.0],
    }
    rows, eid = [], 0
    for u, vals in blocks.items():
        for ty, v in zip(types, vals):
            rows.append((eid, dt.datetime(2024, 1, 1), u, ty, v, "{}")); eid += 1
    rows.append((eid, dt.datetime(2024, 1, 1), 9, "click", 7.0, "{}"))
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q274_friedman_test"].spark_fn(spark, str(tmp_path)).collect()

    k, b = 5, len(blocks)
    # average ranks within each block
    rsum = dict.fromkeys(types, 0.0)
    tie_sum = 0
    for vals in blocks.values():
        sorted_v = sorted(vals)
        from collections import Counter

        cnt = Counter(vals)
        tie_sum += sum(m**3 - m for m in cnt.values())
        for ty, v in zip(types, vals):
            lo = sorted_v.index(v) + 1
            hi = lo + cnt[v] - 1
            rsum[ty] += (lo + hi) / 2
    chi = (12.0 / (b * k * (k + 1))) * sum(r * r for r in rsum.values()) - 3.0 * b * (
        k + 1
    )
    corr = 1.0 - tie_sum / (b * k * (k * k - 1))
    assert out["b"] == b and out["tie_sum"] == tie_sum
    assert abs(out["chi2_micros"] - math.floor(1_000_000 * (chi / corr))) <= 1


def test_q277_simpson_brute_force(spark, tmp_path):
    """Exact Simpson diversity on a planted mix + the N=1 NULL guard."""
    rows = [
        (0, "a", "en", "s1", 1), (1, "b", "en", "s1", 1),
        (2, "c", "de", "s1", 1), (3, "d", "fr", "s1", 1),
        (4, "e", "en", "s2", 1),  # single-doc source -> NULL
    ]
    _write_documents(spark, tmp_path, rows)
    out = {
        r["source"]: r
        for r in QUERIES["q277_simpson_diversity"].spark_fn(spark, str(tmp_path)).collect()
    }
    # s1: N=4, same-lang ordered pairs = 2*1 (en) = 2; D = 1 - 2/12
    assert out["s1"]["n_docs"] == 4 and out["s1"]["n_langs"] == 3
    assert out["s1"]["simpson_micros"] == 1_000_000 * (12 - 2) // 12
    assert out["s2"]["simpson_micros"] is None


def test_q276_fk_integrity_detects_planted_orphans(spark, tmp_path):
    """Planted orphan keys on two edges; clean edges report zero."""
    import shutil

    from pyspark.sql import functions as F

    import os

    src = "/root/testdata/sf0.001"
    for t_ in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        p = f"{src}/{t_}.parquet"
        dst = str(tmp_path / f"{t_}.parquet")
        if os.path.isdir(p):
            shutil.copytree(p, dst)
        else:  # single-file parquet: re-home it as a directory so the
            os.makedirs(dst)  # planted rows can append beside it
            shutil.copy(p, os.path.join(dst, "part-0.parquet"))
    # plant: one lineitem row pointing at a nonexistent order, and one
    # customer in a nonexistent nation
    li = spark.read.parquet(str(tmp_path / "lineitem.parquet"))
    bogus_li = li.limit(1).withColumn(
        "l_orderkey", F.lit(999_999_999).cast(li.schema["l_orderkey"].dataType)
    )
    bogus_li.write.mode("append").parquet(str(tmp_path / "lineitem.parquet"))
    cu = spark.read.parquet(str(tmp_path / "customer.parquet"))
    bogus_cu = cu.limit(1).withColumn(
        "c_nationkey", F.lit(99).cast(cu.schema["c_nationkey"].dataType)
    ).withColumn("c_custkey", F.lit(888_888_888).cast(cu.schema["c_custkey"].dataType))
    bogus_cu.write.mode("append").parquet(str(tmp_path / "customer.parquet"))

    out = {
        r["fk_edge"]: r
        for r in QUERIES["q276_fk_integrity"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {
        "lineitem.l_orderkey", "orders.o_custkey",
        "customer.c_nationkey", "supplier.s_nationkey",
    }
    assert out["lineitem.l_orderkey"]["n_orphans"] == 1
    assert out["customer.c_nationkey"]["n_orphans"] == 1
    assert out["supplier.s_nationkey"]["n_orphans"] == 0
    # the planted orders.o_custkey edge: the bogus customer ADDS a valid
    # parent key, so orphans stay 0 there
    assert out["orders.o_custkey"]["n_orphans"] == 0
    r = out["lineitem.l_orderkey"]
    assert r["orphan_micros"] == 1_000_000 * 1 // r["n_rows"]


def test_q278_vocab_growth_brute_force(spark, tmp_path):
    """Cumulative (tokens, vocab) at decile prefixes replayed in Python,
    with empty deciles (doc_ids sparse) exercising the grid join."""
    rows = [
        (0, "a b a", "en", "s", 5),
        (3, "b c", "en", "s", 3),
        (5, "c c d", "en", "s", 5),
        (9, "e", "en", "s", 1),
    ]
    _write_documents(spark, tmp_path, rows)
    out = QUERIES["q278_vocab_growth"].spark_fn(spark, str(tmp_path)).collect()
    assert [r["decile"] for r in out] == list(range(10))
    n_docs = 10  # max doc_id + 1
    toks, firsts = {}, {}
    for doc_id, text, *_ in rows:
        ws = text.split(" ")
        d = min(9, doc_id * 10 // n_docs)
        toks[d] = toks.get(d, 0) + len(ws)
        for w in ws:
            firsts.setdefault(w, doc_id)
    vb = {}
    for w, fd in firsts.items():
        d = min(9, fd * 10 // n_docs)
        vb[d] = vb.get(d, 0) + 1
    ct = cv = 0
    for d, r in enumerate(out):
        ct += toks.get(d, 0)
        cv += vb.get(d, 0)
        assert (r["cum_tokens"], r["cum_vocab"]) == (ct, cv)
    assert out[-1]["cum_vocab"] == 5  # a b c d e


def test_q279_fisher_brute_force(spark, tmp_path):
    """Fisher score per dim replayed in Python on the micros grid; one
    dim with zero pooled variance must yield NULL."""
    import math as m

    import pyspark.sql.functions as F  # noqa: F401

    # dim0 separates parity classes, dim1 is constant (NULL guard)
    vecs = [
        (0, [1.0, 2.0], 0),   # cls 0
        (1, [1.2, 2.0], 1),   # cls 1
        (2, [0.8, 2.0], 2),   # cls 0
        (3, [1.4, 2.0], 3),   # cls 1
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<float>, label int")
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["dim"]: r for r in QUERIES["q279_fisher_scores"].spark_fn(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1}
    assert out[1]["fisher_micros"] is None  # zero variance both classes

    # python replay on the same float->micros grid
    g = {0: [], 1: []}
    for _, emb, label in vecs:
        g[label % 2].append(math.floor(float(np_float32(emb[0])) * 1_000_000))
    m0 = sum(g[0]) / len(g[0]); m1 = sum(g[1]) / len(g[1])
    v0 = sum(x * x for x in g[0]) / len(g[0]) - m0 * m0
    v1 = sum(x * x for x in g[1]) / len(g[1]) - m1 * m1
    f = (m0 - m1) ** 2 / (v0 + v1)
    assert abs(out[0]["fisher_micros"] - m.floor(1_000_000 * f)) <= 1


def np_float32(x):
    import numpy as np

    return np.float32(x)


# ---- round 10 additions: q281-q288 ----


def test_q281_bootstrap_ci_brute_force(spark, tmp_path):
    """Full Python replay of the hash-Poisson bootstrap: same md5-based
    weights, same replicate means, same order-statistic CI."""
    import hashlib

    rows = [
        (i, f"doc {i}", "en", "sA" if i < 8 else "sB", 100 + 13 * i)
        for i in range(14)
    ]
    _write_documents(spark, tmp_path, rows)
    got = {
        r["source"]: r
        for r in QUERIES["q281_bootstrap_ci"].spark_fn(spark, str(tmp_path)).collect()
    }

    M = 2_147_483_647
    T = [790015083, 1580030167, 1975037709, 2106706890,
         2139624185, 2146207644, 2147304887, 2147461637]

    def k_of(r, doc_id):
        h = int(hashlib.md5(f"boot{r}-{doc_id}".encode()).hexdigest()[:8], 16) % M
        for k, t in enumerate(T):
            if h < t:
                return k
        return 8

    for src in ("sA", "sB"):
        docs = [(d, c) for d, _, _, s, c in rows if s == src]
        means = []
        for r in range(64):
            sk = sum(k_of(r, d) for d, _ in docs)
            s1 = sum(k_of(r, d) * c for d, c in docs)
            if sk > 0:
                means.append(math.floor(1_000_000 * s1 / sk))
        means.sort()
        m = len(means)
        lo = means[max(1, math.floor(0.025 * m) + 1) - 1]
        hi = means[min(m, math.ceil(0.975 * m)) - 1]
        point = math.floor(1_000_000 * sum(c for _, c in docs) / len(docs))
        g = got[src]
        assert (g["n_docs"], g["point_micros"], g["n_reps"]) == (len(docs), point, m)
        assert (g["ci_lo_micros"], g["ci_hi_micros"]) == (lo, hi)
        assert g["ci_lo_micros"] <= g["point_micros"] <= g["ci_hi_micros"]


def test_q282_jonckheere_brute_force(spark, tmp_path):
    """J, E[J] and the three-term tie-corrected variance recomputed from
    the Hollander-Wolfe definitions on a planted 4-daypart layout with
    cross-group ties."""
    import datetime as dt

    # groups by hour: 3 (night), 9 (morning), 15 (afternoon), 21 (evening)
    layout = {3: [1.0, 2.0, 2.0], 9: [2.0, 3.0], 15: [3.0, 4.0, 4.0], 21: [5.0]}
    rows, eid = [], 0
    for hour, vals in layout.items():
        for v in vals:
            rows.append((eid, dt.datetime(2024, 1, 1, hour), eid, "click", v, "{}"))
            eid += 1
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q282_jonckheere_trend"].spark_fn(spark, str(tmp_path)).collect()

    groups = [sorted(vals) for _, vals in sorted(layout.items())]
    j = 0.0
    for i in range(len(groups)):
        for jdx in range(i + 1, len(groups)):
            for x in groups[i]:
                for y in groups[jdx]:
                    j += 1.0 if x < y else (0.5 if x == y else 0.0)
    ns = [len(g) for g in groups]
    n = sum(ns)
    ej = sum(ns[i] * ns[jdx] for i in range(4) for jdx in range(i + 1, 4)) / 2.0
    from collections import Counter

    ties = Counter(v for g in groups for v in g)
    t1 = (
        n * (n - 1) * (2 * n + 5)
        - sum(m * (m - 1) * (2 * m + 5) for m in ns)
        - sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    )
    t2 = (
        sum(m * (m - 1) * (m - 2) for m in ns)
        * sum(t * (t - 1) * (t - 2) for t in ties.values())
        / (36.0 * n * (n - 1) * (n - 2))
    )
    t3 = (
        sum(m * (m - 1) for m in ns)
        * sum(t * (t - 1) for t in ties.values())
        / (8.0 * n * (n - 1))
    )
    var = t1 / 72.0 + t2 + t3
    z = (j - ej) / math.sqrt(var)
    assert out["n"] == n
    assert out["j2"] == 2 * j and out["ej2"] == 2 * ej
    assert abs(out["z_micros"] - math.floor(1_000_000 * z)) <= 1


def test_q283_mann_kendall_brute_force(spark, tmp_path):
    """S and the tie-corrected variance recomputed pairwise over a
    planted daily series with ties."""
    import datetime as dt

    series = [10.0, 12.0, 12.0, 15.0, 11.0, 18.0]  # one tie pair
    rows = [
        (d, dt.datetime(2024, 1, 1 + d, 12), d, "click", v, "{}")
        for d, v in enumerate(series)
    ]
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q283_mann_kendall"].spark_fn(spark, str(tmp_path)).collect()

    xs = [int(v) for v in series]  # daily totals in whole dollars
    s = sum(
        (1 if xs[jdx] > xs[i] else -1 if xs[jdx] < xs[i] else 0)
        for i in range(len(xs))
        for jdx in range(i + 1, len(xs))
    )
    from collections import Counter

    n = len(xs)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in Counter(xs).values())
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    z = (s - 1) / math.sqrt(var18 / 18.0) if s > 0 else (
        (s + 1) / math.sqrt(var18 / 18.0) if s < 0 else 0.0
    )
    assert (out["n_days"], out["s_stat"], out["var18"]) == (n, s, var18)
    assert abs(out["z_micros"] - math.floor(1_000_000 * z)) <= 1


def test_q283_block_decomposition_long_series(spark, tmp_path):
    """The r11 subquadratic S (sqrt-blocked intra pair join + densified
    (block, value) suffix-sum grid) against the all-pairs definition on
    a 29-day series drawn from a 5-value alphabet — every value ties
    across MANY blocks, so the cross-block grid half carries most of S
    and any orientation/densification slip flips the sum."""
    import datetime as dt

    series = [float(3 + ((7 * d * d + 3 * d) % 5)) for d in range(29)]
    rows = [
        (d, dt.datetime(2024, 1, 1, 12) + dt.timedelta(days=d), d, "click", v, "{}")
        for d, v in enumerate(series)
    ]
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q283_mann_kendall"].spark_fn(spark, str(tmp_path)).collect()

    xs = [int(v) for v in series]
    s = sum(
        (1 if xs[jdx] > xs[i] else -1 if xs[jdx] < xs[i] else 0)
        for i in range(len(xs))
        for jdx in range(i + 1, len(xs))
    )
    from collections import Counter

    n = len(xs)
    tie_term = sum(t * (t - 1) * (2 * t + 5) for t in Counter(xs).values())
    var18 = n * (n - 1) * (2 * n + 5) - tie_term
    assert (out["n_days"], out["s_stat"], out["var18"]) == (n, s, var18)


def test_q292_page_trend_brute_force(spark, tmp_path):
    """Page's L and z recomputed from scratch (midranks, the funnel
    order literal, the exact k=5 moments 90b / 25b) on planted blocks
    with within-block ties and one incomplete user (must drop)."""
    import datetime as dt

    order = {"view": 1, "click": 2, "error": 3, "signup": 4, "purchase": 5}
    layout = {
        1: {"view": 1.0, "click": 2.0, "error": 3.0, "signup": 4.0, "purchase": 5.0},
        2: {"view": 2.0, "click": 2.0, "error": 2.0, "signup": 9.0, "purchase": 1.0},
        3: {"view": 5.0, "click": 4.0, "error": 3.0, "signup": 2.0, "purchase": 1.0},
        4: {"view": 7.0, "click": 7.0, "error": 7.0, "signup": 7.0, "purchase": 7.0},
        5: {"view": 1.0, "click": 3.0},  # incomplete block: excluded
    }
    rows, eid = [], 0
    for uid, vals in layout.items():
        for ty, v in vals.items():
            rows.append((eid, dt.datetime(2024, 1, 1 + eid % 20, 9), uid, ty, v, "{}"))
            eid += 1
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q292_page_trend"].spark_fn(spark, str(tmp_path)).collect()

    l2 = tie_sum = 0
    blocks = [v for v in layout.values() if len(v) == 5]
    for vals in blocks:
        xs = sorted(vals.values())
        for ty, v in vals.items():
            lo = sum(1 for u in xs if u < v)
            t_ = sum(1 for u in xs if u == v)
            mr2 = 2 * (lo + 1) + t_ - 1  # 2x midrank
            l2 += order[ty] * mr2
            tie_sum += t_ * t_ - 1
    b = len(blocks)
    z = (l2 - 90.0 * b) / (10.0 * math.sqrt(b))
    assert (out["b"], out["tie_sum"], out["l2"]) == (b, tie_sum, l2)
    assert out["z_micros"] == math.floor(1_000_000 * z)
    assert out["reject_at_05"] == (out["z_micros"] >= 1_644_853)


def test_q293_cliff_delta_brute_force(spark, tmp_path):
    """Cliff's delta recomputed by the O(m*n) all-pairs definition on
    planted purchase/click values with heavy ties; magnitude label
    checked against the Romano cutpoints."""
    import datetime as dt

    purchases = [5.0, 5.0, 7.0, 9.0, 3.0, 7.0]
    clicks = [1.0, 5.0, 5.0, 2.0, 7.0]
    rows, eid = [], 0
    for ty, vals in (("purchase", purchases), ("click", clicks)):
        for v in vals:
            rows.append((eid, dt.datetime(2024, 1, 1 + eid, 8), eid, ty, v, "{}"))
            eid += 1
    rows.append((eid, dt.datetime(2024, 2, 1, 8), eid, "view", 99.0, "{}"))  # ignored
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q293_cliff_delta"].spark_fn(spark, str(tmp_path)).collect()

    gt = sum(1 for x in purchases for y in clicks if x > y)
    lt = sum(1 for x in purchases for y in clicks if x < y)
    delta = (gt - lt) / (len(purchases) * len(clicks))
    assert (out["n1"], out["n2"], out["gt"], out["lt"]) == (
        len(purchases),
        len(clicks),
        gt,
        lt,
    )
    assert out["delta_micros"] == math.floor(1_000_000 * delta)
    mag = abs(delta)
    want = (
        "negligible"
        if mag < 0.147
        else "small" if mag < 0.33 else "medium" if mag < 0.474 else "large"
    )
    assert out["magnitude"] == want


def test_q294_tost_brute_force(spark, tmp_path):
    """TOST z pair and verdict recomputed from scratch on planted
    sources: one pair equivalent inside the ±40 margin, checked by
    re-deriving Welch se and both one-sided z statistics."""
    rows = []
    a_vals = [300, 310, 305, 295, 320, 290, 315, 300]
    b_vals = [310, 320, 315, 305, 330, 300, 290, 325]
    did = 0
    for src, vals in (("src0", a_vals), ("src1", b_vals)):
        for v in vals:
            rows.append((did, "x " * 3, "en", src, v))
            did += 1
    rows.append((did, "y", "en", "src9", 999))  # other source: ignored
    _write_documents(spark, tmp_path, rows)
    (out,) = QUERIES["q294_tost_equivalence"].spark_fn(spark, str(tmp_path)).collect()

    def moments(vals):
        n = len(vals)
        s = sum(vals)
        q = sum(v * v for v in vals)
        return n, s / n, (q - s * s / n) / (n - 1)

    n1, m1, v1 = moments(a_vals)
    n2, m2, v2 = moments(b_vals)
    se = math.sqrt(v1 / n1 + v2 / n2)
    d = m1 - m2
    z_lo, z_hi = (d + 40.0) / se, (40.0 - d) / se
    assert (out["n_a"], out["n_b"]) == (n1, n2)
    assert abs(out["mean_a"] - m1) < 1e-9 and abs(out["mean_b"] - m2) < 1e-9
    assert abs(out["z_lower"] - z_lo) < 1e-9
    assert abs(out["z_upper"] - z_hi) < 1e-9
    assert out["equivalent_at_05"] == (min(z_lo, z_hi) >= 1.644853)


def test_q295_pettitt_brute_force(spark, tmp_path):
    """Pettitt's K, changepoint day, and the significance gate
    recomputed by the O(n^2) double-sum definition on a planted
    level-shift series with ties (the midrank identity must agree
    with the literal sign double-sum)."""
    import datetime as dt

    series = [5.0, 6.0, 5.0, 6.0, 5.0, 12.0, 13.0, 12.0, 13.0, 12.0, 12.0]
    rows = [
        (d, dt.datetime(2024, 3, 1, 12) + dt.timedelta(days=d), d, "click", v, "{}")
        for d, v in enumerate(series)
    ]
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q295_pettitt_changepoint"].spark_fn(spark, str(tmp_path)).collect()

    xs = [int(v) for v in series]
    n = len(xs)

    def sgn(a, b):
        return (a > b) - (a < b)

    us = [
        sum(sgn(xs[i], xs[j]) for i in range(tt + 1) for j in range(tt + 1, n))
        for tt in range(n - 1)
    ]
    k = max(abs(u) for u in us)
    t_star = min(tt for tt, u in enumerate(us) if abs(u) == k)
    assert out["n_days"] == n
    assert out["k_stat"] == k
    assert out["cp_day"] == dt.date(2024, 3, 1) + dt.timedelta(days=t_star)
    assert out["reject_at_05"] == (6.0 * k * k > 3.6888794541139363 * (n**3 + n**2))


def test_q284_runs_test_brute_force(spark, tmp_path):
    """Runs/sign counts and z recomputed from the delta signs of a
    planted series containing a zero delta (which must drop)."""
    import datetime as dt

    series = [10.0, 12.0, 12.0, 9.0, 14.0, 13.0, 16.0, 20.0]
    rows = [
        (d, dt.datetime(2024, 1, 1 + d, 12), d, "click", v, "{}")
        for d, v in enumerate(series)
    ]
    _write_events(spark, tmp_path, rows)
    (out,) = QUERIES["q284_runs_test"].spark_fn(spark, str(tmp_path)).collect()

    xs = [int(v) for v in series]
    signs = [b > a for a, b in zip(xs, xs[1:]) if b != a]
    runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
    n1, n2 = sum(signs), len(signs) - sum(signs)
    nn = n1 + n2
    e = 1 + 2 * n1 * n2 / nn
    var = 2 * n1 * n2 * (2 * n1 * n2 - nn) / (nn * nn * (nn - 1))
    z = (runs - e) / math.sqrt(var)
    assert (out["n_plus"], out["n_minus"], out["runs"]) == (n1, n2, runs)
    assert abs(out["z_micros"] - math.floor(1_000_000 * z)) <= 1


def test_q285_cramer_von_mises_brute_force(spark, tmp_path):
    """T recomputed from the definition sum over all N points of
    (F_n - G_m)^2 scaled by nm/N^2, on disjoint + overlapping samples."""
    xa = [100, 120, 120, 150]
    xb = [110, 120, 200]
    rows = [(i, "x", "en", "s", v) for i, v in enumerate(xa)]
    rows += [(100 + i, "x", "de", "s", v) for i, v in enumerate(xb)]
    rows.append((999, "x", "fr", "s", 5))  # other langs excluded
    _write_documents(spark, tmp_path, rows)
    (out,) = QUERIES["q285_cramer_von_mises"].spark_fn(spark, str(tmp_path)).collect()

    n, m = len(xa), len(xb)
    N = n + m
    t_stat = (
        n * m / N**2
        * sum(
            (sum(1 for x in xa if x <= z) / n - sum(1 for x in xb if x <= z) / m) ** 2
            for z in xa + xb
        )
    )
    assert (out["n"], out["m"]) == (n, m)
    assert abs(out["t_micros"] - math.floor(1_000_000 * t_stat)) <= 1


def test_q286_chao1_brute_force(spark, tmp_path):
    """Chao1 and coverage recomputed from a hand-counted vocabulary,
    including the f2 = 0 language (bias-corrected form stays finite)."""
    rows = [
        (0, "a a b c", "en", "s", 7),     # en: a:3, b:1, c:2 after doc 1
        (1, "a c d", "en", "s", 5),       # en vocab=4, f1=2 (b,d), f2=1 (c)
        (2, "x y z", "de", "s", 5),       # de: all singletons, f2=0
    ]
    _write_documents(spark, tmp_path, rows)
    got = {
        r["lang"]: r
        for r in QUERIES["q286_chao1_richness"].spark_fn(spark, str(tmp_path)).collect()
    }
    en = got["en"]
    assert (en["n_tokens"], en["vocab"], en["f1"], en["f2"]) == (7, 4, 2, 1)
    assert en["chao1_micros"] == 4_000_000 + (1_000_000 * 2 * 1) // (2 * 2)
    assert en["coverage_micros"] == 1_000_000 - (1_000_000 * 2) // 7
    de = got["de"]
    assert (de["vocab"], de["f1"], de["f2"]) == (3, 3, 0)
    assert de["chao1_micros"] == 3_000_000 + (1_000_000 * 3 * 2) // 2
    assert de["coverage_micros"] == 0


def test_q287_corr_matrix_brute_force(spark, tmp_path):
    """All six Pearson coefficients recomputed with a float reference,
    plus the zero-variance NULL guard (constant feature)."""
    texts = ["a bb ccc", "a a bb bb", "dddd e", "a bb ccc dddd eeeee"]
    rows = [(i, tx, "en", "s", len(tx)) for i, tx in enumerate(texts)]
    _write_documents(spark, tmp_path, rows)
    got = {
        r["pair"]: r["corr_micros"]
        for r in QUERIES["q287_corr_matrix"].spark_fn(spark, str(tmp_path)).collect()
    }
    feats = []
    for tx in texts:
        ws = [w for w in tx.split(" ") if w]
        feats.append(
            {
                "chars": len(tx),
                "tokens": len(ws),
                "distinct_tokens": len(set(ws)),
                "longest_token": max(len(w) for w in ws),
            }
        )
    names = ["chars", "tokens", "distinct_tokens", "longest_token"]
    n = len(feats)
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            sa = sum(f[a] for f in feats)
            sb = sum(f[b] for f in feats)
            saa = sum(f[a] ** 2 for f in feats)
            sbb = sum(f[b] ** 2 for f in feats)
            sab = sum(f[a] * f[b] for f in feats)
            corr = (n * sab - sa * sb) / (
                math.sqrt(n * saa - sa * sa) * math.sqrt(n * sbb - sb * sb)
            )
            assert abs(got[f"{a}~{b}"] - math.floor(1_000_000 * corr)) <= 1, (a, b)

    # constant feature -> NULL for its pairs (fresh dir: Spark's file
    # listing cache would otherwise serve the overwritten parquet)
    v2 = tmp_path / "v2"
    v2.mkdir()
    _write_documents(spark, v2, [(i, "w w w", "en", "s", 5 + i) for i in range(3)])
    got2 = {
        r["pair"]: r["corr_micros"]
        for r in QUERIES["q287_corr_matrix"].spark_fn(spark, str(v2)).collect()
    }
    assert got2["tokens~distinct_tokens"] is None  # both constant
    assert got2["chars~tokens"] is None  # tokens constant


def test_q288_jl_distortion_brute_force(spark, tmp_path):
    """Projection + distances replayed in pure Python with the same
    sign matrix; also pins the identical-vector NULL guard."""
    import hashlib

    # four vectors: fewer than the 128-vector top-k cap, so ALL are
    # sampled; two are IDENTICAL (pins the zero-distance NULL guard)
    ids = [3, 17, 42, 99]
    base = [((i * 37) % 13 - 6) / 7.0 for i in range(64)]
    other = [((i * 11) % 17 - 8) / 9.0 for i in range(64)]
    vecs = {ids[0]: base, ids[1]: base, ids[2]: other, ids[3]: [0.0] * 64}
    df = spark.createDataFrame(
        [(k, [float(x) for x in v], 0) for k, v in vecs.items()],
        "vec_id bigint, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        (r["id_a"], r["id_b"]): r
        for r in QUERIES["q288_jl_distortion"].spark_fn(spark, str(tmp_path)).collect()
    }
    assert len(got) == 6

    import struct

    def q(v):
        # float32 storage round-trip, then the micros floor
        return [
            math.floor(struct.unpack("f", struct.pack("f", x))[0] * 1_000_000)
            for x in v
        ]

    def sgn(i, j):
        h = int(hashlib.md5(f"jl-{i}-{j}".encode()).hexdigest()[:8], 16)
        return 1 if h % 2 == 0 else -1

    def proj(qv):
        return [sum(sgn(i, j) * qv[j] for j in range(64)) for i in range(16)]

    for (a, b), r in got.items():
        qa, qb = q(vecs[a]), q(vecs[b])
        d2o = sum((x - y) ** 2 for x, y in zip(qa, qb))
        ya, yb = proj(qa), proj(qb)
        d2p = sum((x - y) ** 2 for x, y in zip(ya, yb))
        assert r["d2_orig"] == d2o and r["d2_proj"] == d2p
        if d2o == 0:
            assert r["ratio_micros"] is None
        else:
            assert r["ratio_micros"] == math.floor(1_000_000 * (d2p / 16.0) / d2o)
    assert got[(min(ids[0], ids[1]), max(ids[0], ids[1]))]["ratio_micros"] is None


def test_q296_durbin_watson_brute_force(spark, tmp_path):
    """DW recomputed from explicit OLS residuals (numpy lstsq) on a
    planted daily series with visible trend + alternating noise, plus
    the two NULL guards (n < 3, perfect linear fit)."""
    import datetime as dt

    import numpy as np

    series = [10.0, 14.0, 11.0, 19.0, 13.0, 22.0, 16.0, 25.0]
    rows = [
        (d, dt.datetime(2024, 1, 1 + d, 12), d, "click", v, "{}")
        for d, v in enumerate(series)
    ]
    # a second type: exact linear fit -> zero residual SSE -> NULL
    rows += [
        (100 + d, dt.datetime(2024, 1, 1 + d, 12), d, "view", float(5 + 3 * d), "{}")
        for d in range(5)
    ]
    # a third type with n = 2 -> NULL
    rows += [
        (200 + d, dt.datetime(2024, 1, 1 + d, 12), d, "purchase", 7.0, "{}")
        for d in range(2)
    ]
    _write_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: r
        for r in QUERIES["q296_durbin_watson"].spark_fn(spark, str(tmp_path)).collect()
    }

    xs = np.array([int(v) for v in series], dtype=float)  # whole dollars
    n = len(xs)
    idx = np.arange(1, n + 1, dtype=float)
    A = np.vstack([idx, np.ones(n)]).T
    coef, *_ = np.linalg.lstsq(A, xs, rcond=None)
    e = xs - A @ coef
    dw = float(np.sum(np.diff(e) ** 2) / np.sum(e**2))
    assert got["click"]["n_days"] == n
    assert abs(got["click"]["dw_micros"] - math.floor(1_000_000 * dw)) <= 1
    assert abs(got["click"]["rho_micros"] - math.floor(1_000_000 * (1 - dw / 2))) <= 1
    assert got["view"]["dw_micros"] is None and got["view"]["rho_micros"] is None
    assert got["purchase"]["dw_micros"] is None and got["purchase"]["n_days"] == 2


def _quant_micros(v):
    import struct

    return [
        math.floor(struct.unpack("f", struct.pack("f", x))[0] * 1_000_000) for x in v
    ]


def test_q297_silhouette_brute_force(spark, tmp_path):
    """The 2-round integer-grid Lloyd fit + simplified silhouette
    replayed in pure Python: quantize (after float32 storage
    round-trip), seed with the 4 lowest vec_ids, assign/update/assign,
    then s = 1 - sqrt(a/b) per vector floored to micros and averaged
    with truncating integer division."""
    import random

    rng = random.Random(297)
    vecs = {}
    # three tight planted blobs + one lone vector (its own seed)
    for c, center in enumerate([-0.5, 0.0, 0.5]):
        for k in range(5):
            vid = c * 5 + k
            vecs[vid] = [center + rng.uniform(-0.02, 0.02) for _ in range(64)]
    vecs[90] = [0.9] * 64
    df = spark.createDataFrame(
        [(k, [float(x) for x in v], 0) for k, v in sorted(vecs.items())],
        "vec_id bigint, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r["cid"]: r
        for r in QUERIES["q297_silhouette_audit"].spark_fn(spark, str(tmp_path)).collect()
    }

    q = {k: _quant_micros(v) for k, v in vecs.items()}

    def dist(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def tdiv(s, c):
        r = abs(s) // c
        return r if s >= 0 else -r

    def assign(cents):
        return {
            vid: min((dist(v, cv), cid) for cid, cv in cents.items())
            for vid, v in q.items()
        }

    c0 = {i: q[vid] for i, vid in enumerate(sorted(q)[:4])}
    a1 = assign(c0)
    c1 = {}
    for cid in set(c for _, c in a1.values()):
        members = [q[vid] for vid, (_, c) in a1.items() if c == cid]
        c1[cid] = [tdiv(sum(col), len(members)) for col in zip(*members)]
    sums, counts = {}, {}
    for vid, v in q.items():
        ds = sorted((dist(v, cv), cid) for cid, cv in c1.items())
        (a_d, cid), (b_d, _) = ds[0], ds[1]
        s = 0 if b_d == 0 else math.floor(1_000_000 * (1.0 - math.sqrt(a_d / b_d)))
        sums[cid] = sums.get(cid, 0) + s
        counts[cid] = counts.get(cid, 0) + 1
    assert set(got) == set(counts)
    for cid in counts:
        assert got[cid]["n_vecs"] == counts[cid]
        assert got[cid]["sil_sum_micros"] == sums[cid]
        assert got[cid]["mean_sil_micros"] == sums[cid] // counts[cid]
    # the planted blobs are tight: their mean silhouette must be high
    assert max(r["mean_sil_micros"] for r in got.values()) > 800_000


def test_q298_readability_brute_force(spark, tmp_path):
    """Flesch / FK replayed per doc on punctuated text with known
    word, sentence and vowel-run counts."""
    docs = [
        (1, "the cat sat. the dog ran! why?", "en", "a"),
        (2, "incomprehensible bureaucratic obfuscation notwithstanding", "en", "a"),
        (3, "no punctuation here at all", "fr", "b"),
        (4, "xyz qqq zzz", "fr", "b"),  # zero vowel runs -> 1 syllable/word
    ]
    rows = [(i, txt, lang, src, len(txt)) for i, txt, lang, src in docs]
    _write_documents(spark, tmp_path, rows)
    got = {
        r["lang"]: r
        for r in QUERIES["q298_readability"].spark_fn(spark, str(tmp_path)).collect()
    }

    import re

    agg = {}
    for _, txt, lang, _, _ in rows:
        words = [w for w in txt.split(" ") if w]
        w = len(words)
        s = max(1, len(re.findall(r"[.!?]+", txt)))
        syl = sum(max(1, len(re.findall(r"[aeiouyAEIOUY]+", x))) for x in words)
        fl = 206.835 - 1.015 * (w / s) - 84.6 * (syl / w)
        fk = 0.39 * (w / s) + 11.8 * (syl / w) - 15.59
        e = agg.setdefault(lang, [0, 0, 0, 0])
        e[0] += 1
        e[1] += math.floor(1_000_000 * fl)
        e[2] += math.floor(1_000_000 * fk)
        e[3] += 1 if math.floor(1_000_000 * fl) < 30_000_000 else 0
    def tdiv(s, c):  # Spark `div` truncates toward zero; Python // floors
        r = abs(s) // c
        return r if s >= 0 else -r

    for lang, (n, fsum, ksum, ndiff) in agg.items():
        assert got[lang]["n_docs"] == n
        assert got[lang]["mean_flesch_micros"] == tdiv(fsum, n)
        assert got[lang]["mean_fk_micros"] == tdiv(ksum, n)
        assert got[lang]["n_difficult"] == ndiff


def test_q299_mmd_brute_force(spark, tmp_path):
    """Linear-kernel MMD^2 per label vs rest replayed in exact integer
    arithmetic; also pins the single-label NULL guard."""
    vecs = [
        (1, [0.5] * 64, 0),
        (2, [0.4] * 64, 0),
        (3, [-0.5] * 64, 1),
        (4, [-0.3] * 64, 1),
        (5, [0.1] * 32 + [-0.1] * 32, 2),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, v, lab in vecs],
        "vec_id bigint, embedding array<float>, label int",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r["label"]: r
        for r in QUERIES["q299_mmd_drift"].spark_fn(spark, str(tmp_path)).collect()
    }

    import struct

    def millis(v):
        return [
            math.floor(struct.unpack("f", struct.pack("f", x))[0] * 1000) for x in v
        ]

    qv = {i: millis(v) for i, v, _ in vecs}
    labels = {i: lab for i, _, lab in vecs}
    for lab in {0, 1, 2}:
        ids_x = [i for i in labels if labels[i] == lab]
        ids_y = [i for i in labels if labels[i] != lab]
        n, m = len(ids_x), len(ids_y)
        t1, max_shift = 0, 0
        den = n * m * 1000
        for d in range(64):
            sx = sum(qv[i][d] for i in ids_x)
            sy = sum(qv[i][d] for i in ids_y)
            num = sx * m - sy * n
            t1 += num * num
            max_shift = max(max_shift, math.floor(1_000_000 * abs(num) / den))
        assert got[lab]["n_label"] == n and got[lab]["n_rest"] == m
        assert got[lab]["mmd2_nanos"] == math.floor(1e9 * (t1 / (den * den)))
        assert got[lab]["max_shift_micros"] == max_shift
    # mean-shifted labels drift more than the near-centered one
    assert got[0]["mmd2_nanos"] > got[2]["mmd2_nanos"]
