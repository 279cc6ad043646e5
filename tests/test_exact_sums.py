"""Property tests for the exact fixed-point sum decomposition
(``queries/base.py``): every limb width (1/2/3, selected by the
declared per-row bound) must recombine to the bit-exact decimal sum
under any grouping, sign mix, and the two-level (eager-aggregation)
split. This is the determinism foundation the whole oracle-hash gate
rests on.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dicom_metadata_extractor_serverless_datalake_spark.queries.base import (
    _n_limbs,
    davg,
    dsum,
    dsum_expr,
    dsum_limbs,
    dsum_merge,
)


def _exact(rows, scale=2):
    q = Decimal(1).scaleb(-scale)
    out: dict[int, Decimal] = {}
    for g, v in rows:
        # same rounding as the Spark side: half-away-from-zero on the
        # exact double, which Decimal(str()) + quantize reproduces for
        # values generated with <= `scale` true decimal digits
        out[g] = out.get(g, Decimal(0)) + Decimal(str(v)).quantize(q)
    return out


def test_n_limbs_selection():
    assert _n_limbs(None, 2) == 3
    assert _n_limbs(4e3, 2) == 1  # 4e5 scaled < 2^19
    assert _n_limbs(1e7, 2) == 2  # 1e9 scaled < 2^40
    assert _n_limbs(1e7, 4) == 2  # 1e11 scaled < 2^40
    assert _n_limbs(1e13, 2) == 3  # 1e15 scaled >= 2^40


values = st.decimals(
    min_value=Decimal("-9999999.99"),
    max_value=Decimal("9999999.99"),
    places=2,
    allow_nan=False,
    allow_infinity=False,
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 3), values), min_size=1, max_size=60))
@pytest.mark.parametrize("max_abs", [None, 1e7])
def test_single_level_matches_decimal(spark, max_abs, rows):
    rows = [(g, float(v)) for g, v in rows]
    df = spark.createDataFrame(rows, "g int, v double")
    got = {r.g: r.s for r in df.groupBy("g").agg(dsum("v", "s", max_abs=max_abs)).collect()}
    want = _exact(rows)
    assert set(got) == set(want)
    for g in want:
        assert Decimal(str(got[g])) == want[g].normalize() or abs(
            Decimal(str(got[g])) - want[g]
        ) == 0


@pytest.mark.parametrize("max_abs", [None, 4e3, 1e7])
def test_sql_path_boundary_rows_match_decimal(spark, max_abs):
    """Hand-picked boundary rows at every limb width — signs, half-unit
    values, a composite expression, and a value whose scaled form
    straddles the 2^20 limb boundary — must sum bit-exactly to the
    Decimal reference through dsum/davg and through dsum_limbs +
    dsum_merge."""
    rows = [
        (0, "1234.56", "0.1"),
        (0, "-999999.99", "0.0"),
        (1, "0.005", "0.9"),
        (1, "1048575.99", "0.5"),  # straddles the 2^20 limb boundary scaled
        (2, "-0.005", "1.0"),
        (2, "3999.99", "0.25"),
    ]
    df = spark.createDataFrame(
        [(g, float(v), float(d)) for g, v, d in rows], "g int, v double, d double"
    )
    want_s, want_cs, n = {}, {}, {}
    for g, v, d in rows:
        # scale 2 rounds the half-unit rows half away from zero
        cents = Decimal(v).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        want_s[g] = want_s.get(g, Decimal(0)) + cents
        # every product has <= 4 true decimals, so scale 4 is exact
        want_cs[g] = want_cs.get(g, Decimal(0)) + Decimal(v) * (1 - Decimal(d))
        n[g] = n.get(g, 0) + 1
    got = (
        df.groupBy("g")
        .agg(
            dsum("v", "s", max_abs=max_abs),
            dsum("v * (1 - d)", "cs", 4, max_abs=max_abs),
            davg("v", "a", max_abs=max_abs),
        )
        .collect()
    )
    assert {r.g: (r.s, r.cs, r.a) for r in got} == {
        g: (float(want_s[g]), float(want_cs[g]), float(want_s[g]) / n[g]) for g in want_s
    }
    lv1 = df.groupBy("g").agg(*dsum_limbs("v", "x", 2, max_abs=max_abs))
    (merged,) = lv1.groupBy().agg(dsum_merge("x", "s", 2, max_abs=max_abs)).collect()
    assert merged.s == float(sum(want_s.values()))


def test_non_string_input_raises_type_error(spark):
    """The exact-sum family takes trusted SQL text only: a Column (or
    any other non-str) raises TypeError instead of taking a second
    code path."""
    for call in (
        lambda: dsum(F.col("v"), "s"),
        lambda: davg(F.col("v"), "a"),
        lambda: dsum_expr(F.col("v")),
        lambda: dsum_limbs(F.col("v"), "x"),
        lambda: dsum_merge(F.col("x"), "s"),
    ):
        with pytest.raises(TypeError, match="SQL expression string"):
            call()


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(0, 2), values), min_size=1, max_size=60))
@pytest.mark.parametrize("max_abs", [None, 1e7])
def test_two_level_matches_single_level(spark, max_abs, rows):
    """dsum_limbs + dsum_merge over an arbitrary intermediate regroup
    must be bit-identical to the single-level dsum."""
    rows = [(g, float(v)) for g, v in rows]
    df = spark.createDataFrame(rows, "g int, v double")
    single = {
        r.g: r.s for r in df.groupBy("g").agg(dsum("v", "s", max_abs=max_abs)).collect()
    }
    lv1 = df.withColumn("sub", F.abs(F.hash("v")) % 3).groupBy("g", "sub").agg(
        *dsum_limbs("v", "x", 2, max_abs=max_abs)
    )
    two = {
        r.g: r.s
        for r in lv1.groupBy("g").agg(dsum_merge("x", "s", 2, max_abs=max_abs)).collect()
    }
    assert single == two
