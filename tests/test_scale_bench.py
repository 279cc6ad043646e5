"""The scale rows' data generation and measuring function
(scripts/make_scale_data.py, scripts/scale_bench.py), at sf0.001."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import make_scale_data  # noqa: E402
import scale_bench  # noqa: E402


def test_ensure_regenerates_data_a_killed_generation_left(tmp_path, monkeypatch):
    """A table dir without ``_SUCCESS`` (what a generation killed
    mid-write leaves: the committer creates the dir at job set-up) is
    regenerated; finished data is kept."""
    calls = []

    def maker(path, factor):
        calls.append((path, factor))
        (tmp_path / "lineitem.parquet" / "_SUCCESS").touch()

    monkeypatch.setitem(make_scale_data._MAKERS, "rel", maker)
    (tmp_path / "lineitem.parquet" / "_temporary").mkdir(parents=True)
    assert make_scale_data.ensure(str(tmp_path), "rel", 3) == str(tmp_path)
    assert calls == [(str(tmp_path), 3)]
    make_scale_data.ensure(str(tmp_path), "rel", 3)
    assert len(calls) == 1


def test_relational_row_takes_layout_plans_and_matches_duckdb(spark, sf_dir, tmp_path):
    """The relational row's dir, made with the layout writer: q04 and
    q31 take their layout plans, and the measuring function's cold pass
    finds Spark's answers equal to DuckDB's."""
    from dicom_metadata_extractor_serverless_datalake_spark.plans import physical_plan
    from dicom_metadata_extractor_serverless_datalake_spark.queries.corpus import QUERIES

    d = scale_bench.write_rel_layout(spark, str(tmp_path / "rel"), 2, src=sf_dir)
    q04 = physical_plan(QUERIES["q04_star_join"].spark_fn(spark, d))
    assert "ShuffledHashJoin" in q04
    assert "Exchange hashpartitioning(l_orderkey" not in q04
    q31 = physical_plan(QUERIES["q31_top_n_per_group"].spark_fn(spark, d))
    assert "WindowGroupLimit" in q31
    assert "Exchange hashpartitioning(o_custkey" not in q31

    out = scale_bench.measure_relational(spark, d, n_passes=2)
    assert out["answers"] == "match"
    assert set(out["spark_s"]) == set(out["duckdb_s"]) == set(scale_bench.REL_QUERIES)
