"""Tests of the benchmark's own logic: seeded generators, the answers it
derives from a manifest, span self time and the tail-percentile rule.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import gen  # noqa: E402
from spans import Tracer, self_time, tail, tail_at  # noqa: E402


@pytest.fixture
def data_root(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "DATA_ROOT", str(tmp_path))
    return tmp_path


def _fresh(data_root, build):
    """Build twice, each time into an empty cache."""
    first = gen.manifest_digest(build()[1])
    for entry in os.listdir(data_root):
        os.rename(data_root / entry, data_root / f"old-{entry}")
    return first, gen.manifest_digest(build()[1])


def test_dicom_tree_same_seed_same_manifest(data_root):
    a, b = _fresh(data_root, lambda: gen.dicom_tree(7, 2))
    assert a == b
    assert gen.manifest_digest(gen.dicom_tree(8, 2)[1]) != a


def test_star_schema_is_the_pinned_sf01_copy(tmp_path, monkeypatch):
    import json

    import pyarrow.parquet as pq

    star_dir, digest = gen.star_schema()
    assert star_dir == gen.SF_DIR
    rows = {name: pq.ParquetFile(os.path.join(star_dir, f"{name}.parquet")).metadata.num_rows
            for name in ("lineitem", "orders", "events", "documents", "embeddings")}
    assert rows == {"lineitem": 600_000, "orders": 150_000, "events": 100_000,
                    "documents": 5_000, "embeddings": 2_000}
    pins = gen.load_pins()
    pins["sf0.1"]["region.parquet"] = "0" * 64
    bad = tmp_path / "pins.json"
    bad.write_text(json.dumps(pins))
    monkeypatch.setattr(gen, "PINS_PATH", str(bad))
    with pytest.raises(RuntimeError, match="region.parquet"):
        gen.star_schema()


def test_corpus_same_seed_same_files(data_root):
    a, b = _fresh(data_root, lambda: gen.corpus(3, 200, 2))
    assert a == b
    assert gen.manifest_digest(gen.corpus(4, 200, 2)[1]) != a


def test_corpus_replica_scheme(data_root):
    import pyarrow.parquet as pq

    out, info = gen.corpus(5, 100, 3)
    docs = pq.read_table(os.path.join(out, "docs.parquet")).to_pydict()
    assert info["docs"] == 300 == len(docs["doc_id"])
    assert len(set(docs["doc_id"])) == 300
    by_id = dict(zip(docs["doc_id"], docs["text"]))
    assert by_id[100 + 7] == by_id[7] + " r1"
    assert by_id[200 + 7] == by_id[7] + " r2"


def test_drop_composition_matches_mix(data_root):
    _, manifest = gen.dicom_tree(11, 2)
    for objects in manifest["drops"]:
        kinds = {}
        for obj in objects:
            kinds[obj["kind"]] = kinds.get(obj["kind"], 0) + 1
        assert kinds == gen.DROP_MIX
        rows = sum(len(o["rows"]) for o in objects)
        n_bare = sum(gen.DROP_MIX[k] for k in ("dcm", "dcm_nodate", "dcm_gz", "dcm_big"))
        assert rows == n_bare + sum(gen.DROP_MIX[k] * m for k, m in gen.MEMBERS.items())
        assert sum("quarantine" in o for o in objects) == sum(
            gen.DROP_MIX[k] for k in gen.QUARANTINE
        )


def test_manifest_agrees_with_pure_extraction(data_root):
    """Each object of a drop, run through the package's pure-Python
    extraction, yields exactly the rows the manifest expects of it."""
    from dicom_metadata_extractor_serverless_datalake_spark.ingest.extract import extract_records

    root, manifest = gen.dicom_tree(13, 1)
    for obj in manifest["drops"][0]:
        path = os.path.join(root, obj["path"])
        cap = None if obj["path"].endswith((".zip", ".tar.gz")) else gen.DCM_CAP
        with open(path, "rb") as fh:
            content = fh.read(cap) if cap else fh.read()
        got = list(extract_records(path, content))
        good = sorted((r["source_s3_archive_path"], r["sop_instance_uid"], str(r["study_date"]),
                       r["modality"], r["patient_name"]["family_name"])
                      for r in got if r["error"] is None)
        want = sorted((r["member"], r["sop"], r["date"], r["modality"], r["family"])
                      for r in obj["rows"])
        assert good == want, obj["path"]
        bad = [(r["error_log"]["stage"], r["error_log"]["error_class"],
                r["source_s3_archive_path"]) for r in got if r["error"] is not None]
        if "quarantine" in obj:
            q = obj["quarantine"]
            assert bad == [(q["stage"], q["error_class"], q["member"])], obj["path"]
        else:
            assert bad == [], obj["path"]


def _obj(path, rows=(), quarantine=None):
    out = {"path": path, "rows": list(rows)}
    if quarantine:
        out["quarantine"] = quarantine
    return out


def _row(sop, date, modality, family, member):
    return {"sop": sop, "date": date, "modality": modality, "family": family, "member": member}


def test_expected_answers_from_manifest():
    objects = [
        _obj("d0/a.dcm", [_row("1", "2020-01-02", "CT", "Fam1", "a.dcm")]),
        _obj("d0/b.zip", [_row("2", "2020-01-02", "MR", "Fam2", "m0.dcm"),
                          _row("3", "2020-01-02", "CT", "Fam1", "m1.dcm"),
                          _row("4", "2021-05-05", "CT", "Fam1", "m2.dcm")]),
        _obj("d0/c.dcm", quarantine={"stage": "dicom_parse", "error_class": "DicomParseError",
                                     "member": "c.dcm"}),
        _obj("d0/d.zip", quarantine={"stage": "archive_explode", "error_class": "BadZipFile",
                                     "member": None}),
        _obj("d0/e.json"),
    ]
    want = gen.expected_answers(objects, "2020-01-02", "Fam1")
    assert want["modality"] == {"CT": 2, "MR": 1}
    assert want["sops"] == ["1", "3", "4"]
    assert want["quarantine"] == {("dicom_parse", "DicomParseError"): 1,
                                  ("archive_explode", "BadZipFile"): 1}
    assert gen.expected_keys(objects) == sorted([
        ("d0/a.dcm", "a.dcm"), ("d0/b.zip", "m0.dcm"), ("d0/b.zip", "m1.dcm"),
        ("d0/b.zip", "m2.dcm"), ("d0/c.dcm", "c.dcm"), ("d0/d.zip", None),
    ], key=repr)
    empty = gen.expected_answers([], "2020-01-02", "Fam1")
    assert empty == {"modality": {}, "sops": [], "quarantine": {}}


def test_self_time_subtracts_union_of_children():
    assert self_time(0, 10, []) == 10
    assert self_time(0, 10, [(1, 3), (2, 5), (7, 8)]) == 10 - 4 - 1
    assert self_time(0, 10, [(-5, 1), (9, 12)]) == 8  # clipped to the parent
    assert self_time(0, 10, [(0, 10), (2, 3)]) == 0


def test_tracer_spans_nest_and_count_self_time():
    tr = Tracer("t", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner.a"):
            pass
        with tr.span("inner.b"):
            pass
    a, b = tr.named("inner.a")[0], tr.named("inner.b")[0]
    assert a.parent == b.parent == outer.span_id and outer.parent is None
    assert tr.self_time(outer) == pytest.approx(outer.duration - a.duration - b.duration)
    assert tr.totals(outer) == {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    off = Tracer("t", enabled=False)
    with off.span("x") as sp:
        assert sp is None
    assert off.spans == []


def test_job_counts_leave_out_skipped_stages():
    """A stage whose shuffle output was reused is reported with no task
    run; it adds neither a stage nor tasks."""
    from types import SimpleNamespace as NS

    stages = {
        1: NS(numTasks=4, numCompletedTasks=4, numFailedTasks=0),
        2: NS(numTasks=8, numCompletedTasks=0, numFailedTasks=0),  # skipped
        3: NS(numTasks=2, numCompletedTasks=2, numFailedTasks=1),
    }
    tracker = NS(getJobIdsForGroup=lambda group: [7, 8],
                 getJobInfo=lambda job: NS(stageIds=[1, 2] if job == 7 else [3]),
                 getStageInfo=stages.get)
    tr = Tracer("t", enabled=True)
    with tr.span("s") as sp:
        pass
    Tracer._count_jobs(NS(statusTracker=lambda: tracker), "t/0", sp)
    assert (sp.jobs, sp.stages, sp.tasks, sp.failed_tasks) == (2, 2, 7, 1)


def test_tail_rule():
    vals = [float(i) for i in range(1, 101)]  # 1..100
    assert tail(vals) == (90.0, 90.0, 100)  # ten samples (91..100) beyond 90
    assert tail(vals[:21]) == (11.0, pytest.approx(100 * 11 / 21), 21)  # the median
    assert tail(vals[:11]) == (1.0, pytest.approx(100 / 11), 11)
    assert tail(vals[:10]) == (10.0, 100.0, 10)  # none qualifies: the maximum
    assert tail([3.0]) == (3.0, 100.0, 1)
    with pytest.raises(ValueError):
        tail([])


def test_tail_at_keeps_the_guaranteed_percentile():
    vals = [float(i) for i in range(1, 22)]  # 1..21
    assert tail_at(vals, 21) == tail(vals)  # exactly the guaranteed count: the tail rule
    value, pct, n = tail_at(vals + [30.0] * 7, 21)  # more samples, same percentile
    assert (value, pct, n) == (15.0, pytest.approx(100 * 11 / 21), 28)
    assert tail_at(vals[:14] + [0.5] * 7, 14) == (0.5, pytest.approx(100 * 4 / 14), 21)
    assert tail_at(vals[:5], 5) == (5.0, 100.0, 5)  # none qualifies: the maximum
    assert tail_at(vals[:12], 15) == tail(vals[:12])  # fewer than guaranteed


def test_benchmark_json_lists_what_run_reports():
    import json

    import run
    from workloads import WORKLOADS

    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
