import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dicom_metadata_extractor_serverless_datalake_spark.session import get_spark

    # shard isolation (scripts/run_tests_parallel.py): each concurrent
    # pytest process gets its own cores and warehouse dir so managed
    # tables (saveAsTable in catalog/bucketing tests) never collide
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "4")
    extra = {}
    wh = os.environ.get("SPARK_GRAFT_TEST_WAREHOUSE")
    if wh:
        extra["spark.sql.warehouse.dir"] = wh
    spark = get_spark(
        app_name="tests",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf=extra or None,
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def fail_after_sink(monkeypatch):
    """``fail_after_sink(n)`` makes every ``foreachBatch`` sink started
    from then on raise right after it has finished batch ``n``: the sink
    has committed the batch, the stream's checkpoint has not, so a
    restart on the same checkpoint replays it. ``monkeypatch.undo()``
    lifts it."""
    from pyspark.sql.streaming import DataStreamWriter

    real = DataStreamWriter.foreachBatch

    def arm(batch_id: int) -> None:
        def foreach_batch(self, fn):
            def sink(df, bid):
                fn(df, bid)
                if bid == batch_id:
                    raise RuntimeError("injected crash after the sink")

            return real(self, sink)

        monkeypatch.setattr(DataStreamWriter, "foreachBatch", foreach_batch)

    return arm


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a Spark job group of its own
    and returns ``(fn(), number of Spark jobs it ran)``."""

    def run(fn):
        sc = spark.sparkContext
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
