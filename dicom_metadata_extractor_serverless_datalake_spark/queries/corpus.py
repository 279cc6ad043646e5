"""Corpus aggregator: importing this module registers every query family.

Driver contract (``__spark_entry__.py``) pulls ``get_queries()`` /
``get_oracles()`` from here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .base import QUERIES, Query

# side-effect imports: each module registers its queries
from . import relational  # noqa: F401,E402
from . import windows  # noqa: F401,E402
from . import scalar  # noqa: F401,E402
from . import llm  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import udfs  # noqa: F401,E402
from . import training  # noqa: F401,E402
from . import streams  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
from . import mining  # noqa: F401,E402
from . import curation  # noqa: F401,E402
from . import signals  # noqa: F401,E402
from . import prep  # noqa: F401,E402
from . import quality  # noqa: F401,E402
from . import mixture  # noqa: F401,E402
from . import behavior  # noqa: F401,E402
from . import privacy  # noqa: F401,E402
from . import evals  # noqa: F401,E402
from . import audits  # noqa: F401,E402
from . import inference  # noqa: F401,E402
from . import selection  # noqa: F401,E402


def _cache_local(fn: Callable[[SparkSession, str], DataFrame]):
    """Queries that persist() intermediates cannot unpersist them before
    the caller's action runs, so in a long-lived session cached
    partitions would accumulate and CacheManager plan substitution
    could rewrite LATER queries' plans (ADVICE r07; the class of bug
    scripts/plan_audit.py works around the same way). Dropping the
    accumulated cache at query CONSTRUCTION keeps caching query-local
    for every harness that goes through ``queries()`` — the driver's
    correctness gate and oracle_sweep — without touching the warm-timing
    paths of perfbench and scripts/scale_bench.py (which call
    ``Query.spark_fn`` directly)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.catalog.clearCache()
        return fn(spark, sf_dir)

    return run


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _cache_local(q.spark_fn) for name, q in QUERIES.items()}


def get_oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle}


def headline_queries() -> dict[str, Query]:
    return {name: q for name, q in QUERIES.items() if q.headline}
