"""A warm pass of the headline queries compiles no generated code: the
session's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
set in ``session.get_spark``) holds every class one pass makes. At Spark's
default of 100 entries each warm pass re-ran Janino on the classes the
previous pass evicted."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PASSES_PROBE = r"""
import json, sys
sys.path.insert(0, {repo!r})
from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import headline_queries
from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark
from dicom_metadata_extractor_serverless_datalake_spark.sources.tables import register_star_schema

spark = get_spark(app_name="codegen-cache", master="local[2]", shuffle_partitions=2)
metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
register_star_schema(spark, {sf!r})
queries = headline_queries()
compiled = []
for _ in range(2):
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    for name in sorted(queries):
        queries[name].spark_fn(spark, {sf!r}).collect()
    compiled.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
print(json.dumps({{"compiled": compiled}}))
spark.stop()
"""


def test_warm_headline_pass_compiles_nothing(tmp_path, sf_dir):
    """A fresh ``get_spark`` JVM runs the 7 headline queries (build +
    collect) twice: the first pass compiles every class (103 at the
    smoke scale), the second compiles none (38-45 at the default cache)."""
    out = subprocess.run(
        [sys.executable, "-c", _PASSES_PROBE.format(repo=REPO, sf=sf_dir)],
        cwd=tmp_path,
        env=dict(os.environ, SPARK_DRIVER_MEM="1g"),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])["compiled"]
    assert first > 100  # the pass makes more classes than Spark's default cache holds
    assert second == 0
