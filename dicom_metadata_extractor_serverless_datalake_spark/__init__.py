"""PySpark-native analytics engine with the query and data-processing
capabilities of aws-samples/dicom-metadata-extractor-serverless-datalake.

The reference is a serverless ingest-ETL (S3 event -> Lambda/Batch ->
pydicom metadata flatten -> partitioned Parquet -> Glue/Athena SQL).
This package re-expresses that dataflow Spark-first:

- ``sources``   : object walker + ranged read, format("dicom"), parquet / csv / json readers,
                  and the one stage-and-commit of every lake rewrite and streaming sink
- ``dicom``     : pure-Python DICOM codec + VR type system (public PS3.5/3.6/3.10)
- ``ingest``    : ranged read -> archive explode -> typed flatten -> Parquet lake
- ``operators`` : as-of join, top-k, dedup (exact/MinHash/SimHash), similarity
                  search, text analysis, multimodal column plumbing
- ``queries``   : the t2 correctness corpus (Spark callable + DuckDB oracle SQL)
- ``streaming`` : Structured Streaming ingest (format("dicom")) + windowed aggregations
- ``pyworker``  : Python-worker set-up: skip re-reading unchanged zip archives per task
"""

__version__ = "0.1.0"

from pyspark import SparkFiles as _SparkFiles  # noqa: E402

if _SparkFiles._is_running_on_worker:
    # set by pyspark's setup_spark_files before any UDF is unpickled, so
    # this runs once per Python worker process and never in the driver
    from .pyworker import install_zip_guard

    install_zip_guard()

from .api import DicomLake  # noqa: F401,E402
from .cloud import cloud_conf, cloud_session  # noqa: F401,E402
from .pipeline import TextCorpus  # noqa: F401,E402
from .vectors import EmbeddingSet  # noqa: F401,E402
from .eventlog import EventLog  # noqa: F401,E402
