"""Corpus infrastructure: query registry + determinism helpers.

Every query is registered with a Spark callable ``(spark, sf_dir) ->
DataFrame`` and (when SQL-expressible) a DuckDB oracle string. The
driver hash-compares both sides, so the corpus follows hard conventions:

- every aggregate/computed column is aliased identically on both sides;
- double aggregations go through exact DECIMAL sums and come back as
  DOUBLE (`dsum`) so results are bit-identical regardless of engine,
  partitioning, or reduction order — floating-point sums are NOT
  reduction-order-stable, decimal sums are;
- timestamps surface as DATE or ISO strings (UTC session TZ);
- LIMIT/top-k queries carry a total order with a unique tie-break key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    category: str
    headline: bool = False
    doc: str = ""


QUERIES: dict[str, Query] = {}


def query(
    name: str,
    oracle: str | None,
    category: str,
    headline: bool = False,
    doc: str = "",
):
    """Register a corpus query."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = Query(name, fn, oracle, category, headline, doc or (fn.__doc__ or ""))
        return fn

    return deco


def sql_query(
    name: str,
    sql: str,
    category: str,
    oracle: str | None = None,
    headline: bool = False,
    doc: str = "",
) -> None:
    """Register a query whose Spark side is ``spark.sql`` over the star
    views; by default the oracle is the *same* SQL text (the dialect
    subset shared by Spark SQL and DuckDB).

    This is the default for any query whose oracle runs on Spark with
    the same rows. A hand-written ``@query`` body is kept only when:

    - it calls a package operator, facade or helper that its oracle
      certifies (e.g. q119's ``dsum_limbs``/``dsum_merge`` merge);
    - the oracle hard-codes what the body computes (an approximate
      sketch's ``within_bound`` is a literal ``TRUE`` in the text);
    - the text lacks the Spark feature the query is named for
      (``session_window``, ``pivot``, a pandas UDF, catalog-stats CBO);
    - the body plans fewer exchanges, or runs faster, than the text:
      e.g. a ``sql_dsum`` ``DECIMAL(28,s)`` sum, which Spark runs
      BigDecimal-backed, where the body's ``dsum`` sums long limbs."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from ..sources.tables import register_star_schema

        register_star_schema(spark, sf_dir)
        return spark.sql(sql)

    QUERIES[name] = Query(name, run, oracle if oracle is not None else sql, category, headline, doc)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from ..sources.tables import load_table

    return load_table(spark, sf_dir, name)


# ---- determinism helpers (Spark side) ----
#
# Exact sums run on primitive longs, not Spark's decimal Sum. A decimal
# sum (buffer decimal(28,s)) is BigDecimal-backed on the JVM: measured
# 4.4x slower than this path on a 60M-row groupBy (4.1 s vs 0.93 s for
# the full q01 aggregate at 100x sf0.1; DuckDB does the same work in
# ~1.1 s). Instead each value is rounded to an integer count of 10^-s
# units (pure-codegen double arithmetic, no allocation) and decomposed
# into three 20-bit limbs summed as longs; the limbs recombine exactly
# in decimal(38,0) after the aggregate. Everything stays inside
# whole-stage codegen.
#
# Exactness bounds: per-row |value| < 10^18 scaled units (decimal(18,s)
# envelope) keeps each limb within 2^20, so a long limb-sum cannot
# overflow below ~8.8e12 rows per group — comfortably past 100 TB of
# 150-byte rows (~7e11). Integer sums are associative/commutative, so
# results are bit-identical under any partitioning or reduction order.
#
# Rounding semantics: half-away-from-zero on the exact binary double,
# which is what DuckDB's double->decimal cast does too. (Spark's native
# cast rounds the shortest decimal repr instead; the two differ only
# for values sitting on a .xx5 boundary of the repr, which real data
# with <= s true decimal digits never produces.)

_LIMB_BITS = 20
_LIMB_LO = 1 << _LIMB_BITS
_LIMB_HI = 1 << (2 * _LIMB_BITS)


def _n_limbs(max_abs: float | None, scale: int) -> int:
    """Limb count for an exact sum of values bounded by ``max_abs``.

    A declared per-row bound lets the decomposition shed limbs without
    shrinking the ~8.8e12 rows/group overflow envelope (see module
    note): scaled values < 2^19 sum safely in ONE long (overflow at
    2^44 rows/group); < 2^40 split into two 20-bit-aligned limbs
    (lo < 2^20, hi < 2^20 -> 2^43 rows/group). Unbounded columns keep
    the full three-limb form (< 2^60 scaled). Fewer limbs = fewer
    aggregate buffers = measurably faster wide aggregations (q01 runs
    15 three-limb sums without this).
    """
    if max_abs is None:
        return 3
    scaled = abs(max_abs) * (10**scale)
    if scaled < float(1 << 19):
        return 1
    if scaled < float(1 << 40):
        return 2
    return 3


def _limb_sums_sql(e: str, scale: int, max_abs: float | None) -> dict[str, str]:
    """The per-limb long SUMs of round(``e`` * 10^scale) as SQL, keyed
    "hi"/"mid"/"lo" (only the limbs ``max_abs`` needs, high first): the
    one rendering of the rounding and limb splits, shared by the
    single-level :func:`_scaled_sum_sql` and two-level :func:`dsum_limbs`
    so their limbs stay bit-identical."""
    lit10 = repr(float(10**scale))
    half = f"(CASE WHEN ({e}) >= 0 THEN 0.5D ELSE -0.5D END)"
    s = f"CAST((CAST(({e}) AS DOUBLE) * {lit10}D + {half}) AS BIGINT)"
    n = _n_limbs(max_abs, scale)
    if n == 1:
        return {"lo": f"SUM({s})"}
    lo = f"SUM(({s} & {_LIMB_LO - 1}))"
    if n == 2:
        return {"hi": f"SUM(SHIFTRIGHT({s}, {_LIMB_BITS}))", "lo": lo}
    return {
        "hi": f"SUM(SHIFTRIGHT({s}, {2 * _LIMB_BITS}))",
        "mid": f"SUM((SHIFTRIGHT({s}, {_LIMB_BITS}) & {_LIMB_LO - 1}))",
        "lo": lo,
    }


def _limb_total_sql(dec: dict[str, str]) -> str:
    """Recombine decimal(38,0) limb sums (keys as :func:`_limb_sums_sql`)
    into the exact scaled total."""
    if "mid" in dec:
        return f"({dec['hi']} * {_LIMB_HI} + {dec['mid']} * {_LIMB_LO} + {dec['lo']})"
    if "hi" in dec:
        return f"({dec['hi']} * {_LIMB_LO} + {dec['lo']})"
    return dec["lo"]


def _sql_text(col: object, fn: str) -> str:
    """Guard of the exact-sum family's one input contract: ``col`` is a
    TRUSTED SQL expression string (a bare column name is one). It is
    pasted into the aggregate's SQL text unquoted, so it must come from
    code, never from user input. Any other type raises TypeError."""
    if not isinstance(col, str):
        raise TypeError(
            f"{fn} takes a SQL expression string, not {type(col).__name__}"
        )
    return col


def _scaled_sum_sql(e: str, scale: int, max_abs: float | None) -> str:
    """Exact SUM(round(``e`` * 10^scale)) as decimal(38,0) via long
    limbs, rendered as ONE SQL string over the SQL expression ``e`` and
    built with a single parser call. Construction cost is driver-side
    and paid on EVERY query build (the bench reconstructs each query
    per pass): q01's seven dsum/davg aggregates measured 152 ms per
    build as a tree of Column operators (one py4j round-trip per node);
    the parsed form is ~4x cheaper. Exactness is pinned by
    tests/test_exact_sums.py and the oracle sweep."""
    return _limb_total_sql(
        {k: f"CAST({v} AS DECIMAL(38,0))" for k, v in _limb_sums_sql(e, scale, max_abs).items()}
    )


def dsum_expr(col: str, scale: int = 2, max_abs: float | None = None) -> F.Column:
    """Unaliased exact fixed-point sum as double, for use inside larger
    expressions (variance formulas, scalar subqueries). ``col`` is a
    trusted SQL expression string (see :func:`_sql_text`), parsed in a
    single F.expr call."""
    col = _sql_text(col, "dsum_expr")
    return F.expr(
        f"CAST(({_scaled_sum_sql(col, scale, max_abs)} / {10**scale}) AS DOUBLE)"
    )


def dsum_limbs(
    col: str, prefix: str, scale: int = 2, max_abs: float | None = None
) -> list[F.Column]:
    """First level of a two-level exact sum: per-group limb partial sums
    as plain longs (``{prefix}_hi/_mid/_lo``). Because integer limb sums
    are associative, re-summing these partials with :func:`dsum_merge`
    over any regrouping is bit-identical to a single-level :func:`dsum`
    over the underlying rows — this is what lets an aggregation be
    pushed below a join (eager aggregation) without losing exactness.
    The overflow envelope is unchanged (the merged sum covers the same
    row set, ~8.8e12 rows/group; see module note). ``col`` and
    ``prefix`` are trusted SQL text (see :func:`_sql_text`)."""
    col = _sql_text(col, "dsum_limbs")
    prefix = _sql_text(prefix, "dsum_limbs")
    return [
        F.expr(f"{v} AS {prefix}_{k}")
        for k, v in _limb_sums_sql(col, scale, max_abs).items()
    ]


def dsum_merge(
    prefix: str,
    alias: str,
    scale: int = 2,
    max_abs: float | None = None,
    df: DataFrame | None = None,
) -> F.Column:
    """Second level of a two-level exact sum: merge ``dsum_limbs``
    partials across the outer grouping and surface the exact total as
    double, matching single-level :func:`dsum` bit-for-bit. Pass ``df``
    (the frame holding the partials) to derive the limb width from which
    ``{prefix}_hi/_mid/_lo`` columns actually exist — ``_lo`` exists at
    every width, so a ``max_abs`` that disagrees with the ``dsum_limbs``
    call would otherwise silently drop the high limbs. With ``df`` the
    mismatch raises instead; the per-outer-group overflow envelope is
    the same as the single-level form since the merged sum covers the
    same row set. ``prefix`` is trusted SQL text (see
    :func:`_sql_text`)."""
    prefix = _sql_text(prefix, "dsum_merge")
    n = _n_limbs(max_abs, scale)
    if df is not None:
        cols = set(df.columns)
        present = 1 + (f"{prefix}_hi" in cols) + (f"{prefix}_mid" in cols)
        if f"{prefix}_lo" not in cols:
            raise ValueError(f"dsum_merge: no {prefix}_lo column in input frame")
        if max_abs is not None and present != n:
            raise ValueError(
                f"dsum_merge: frame has {present} '{prefix}' limb column(s) "
                f"but max_abs={max_abs!r} selects {n} — it must match the "
                f"dsum_limbs call that built them"
            )
        n = present
    limbs = ("lo",) if n == 1 else ("hi", "lo") if n == 2 else ("hi", "mid", "lo")
    total = _limb_total_sql(
        {k: f"CAST(SUM({prefix}_{k}) AS DECIMAL(38,0))" for k in limbs}
    )
    return F.expr(f"CAST(({total} / {10**scale}) AS DOUBLE)").alias(alias)


def dsum(col: str, alias: str, scale: int = 2, max_abs: float | None = None) -> F.Column:
    """Exact fixed-point sum surfaced as double: deterministic under any
    partitioning/order, unlike a native double sum (see module note on
    the long-limb decomposition). The oracle side sums at decimal(28)
    and still hash-matches because both sides are exact. ``max_abs``
    (a per-row |value| bound known from the schema/domain) lets the
    decomposition drop to 2 or 1 limbs — same exactness, same
    ~8.8e12 rows/group envelope, fewer aggregate buffers. ``col`` is a
    trusted SQL expression string (see :func:`_sql_text`)."""
    return dsum_expr(_sql_text(col, "dsum"), scale, max_abs).alias(alias)


def davg(col: str, alias: str, scale: int = 2, max_abs: float | None = None) -> F.Column:
    """Exact fixed-point mean: :func:`dsum` over COUNT(``col``). ``col``
    is a trusted SQL expression string (see :func:`_sql_text`)."""
    col = _sql_text(col, "davg")
    return F.expr(
        f"(CAST(({_scaled_sum_sql(col, scale, max_abs)} / {10**scale}) AS DOUBLE)"
        f" / COUNT(({col})))"
    ).alias(alias)


def _sql_exact_sum(expr: str, scale: int) -> str:
    # the exact sum goes to DOUBLE through its decimal string: DuckDB's
    # DECIMAL -> DOUBLE cast rounds twice (integer, then / 10^scale) and
    # is an ulp off once the scaled sum passes 2^53 (q01's sum_charge at
    # 60M lineitem rows: 282529058707.17957, not the 282529058707.1796
    # dsum gives); a decimal string parses correctly rounded in both
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(28,{scale}))) AS STRING) AS DOUBLE)"


def sql_dsum(expr: str, alias: str, scale: int = 2) -> str:
    """Oracle-side twin of dsum."""
    return f"{_sql_exact_sum(expr, scale)} AS {alias}"


def sql_davg(expr: str, alias: str, scale: int = 2) -> str:
    return f"{_sql_exact_sum(expr, scale)} / COUNT({expr}) AS {alias}"
