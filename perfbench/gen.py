"""Inputs of the benchmark workloads.

The star schema is the repo's sf0.1 test data, a byte-identical copy in
``perfbench/sf0.1/`` checked against pinned digests. The DICOM object tree
and the text corpus are generated: each generator is a pure function of
its seed, so the same seed writes the same files and the same manifest.
Generated inputs are cached under
``perfbench/.data/<kind>-s<seed>-v<GEN_VERSION>/``; ``manifest.json`` is
written last and marks a complete directory, so an interrupted generation
is simply redone. The programs under test receive only these files.
"""

from __future__ import annotations

import datetime
import gzip
import hashlib
import io
import json
import os
import shutil
import tarfile
import zipfile

import numpy as np

GEN_VERSION = 2
HERE = os.path.dirname(os.path.abspath(__file__))
DATA_ROOT = os.path.join(HERE, ".data")
SF_DIR = os.path.join(HERE, "sf0.1")
PINS_PATH = os.path.join(HERE, "pins.json")


def load_pins() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


def _cached(kind: str, seed: int, build) -> tuple[str, dict]:
    """Return (dir, manifest) for ``kind`` at ``seed``, building it once."""
    out = os.path.join(DATA_ROOT, f"{kind}-s{seed}-v{GEN_VERSION}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    manifest = build(out, seed)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    os.replace(tmp, manifest_path)
    return out, manifest


def manifest_digest(manifest: dict) -> str:
    return hashlib.sha256(json.dumps(manifest, sort_keys=True).encode()).hexdigest()


# ---------------------------------------------------------------------------
# star schema: the repo's sf0.1 test tables
# ---------------------------------------------------------------------------

def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def star_schema() -> tuple[str, str]:
    """The sf0.1 tables (600k lineitem, 150k orders, 100k events, 5k
    documents, 2k embeddings), a byte-identical copy of the repo's seed-42
    test data kept beside the benchmark. Returns (dir, digest of the file
    digests); raises if any file differs from its pinned SHA-256."""
    pinned = load_pins()["sf0.1"]
    got = {name: _sha256(os.path.join(SF_DIR, name)) for name in sorted(pinned)}
    if got != pinned:
        bad = sorted(n for n in pinned if got[n] != pinned[n])
        raise RuntimeError(f"{SF_DIR}: files differ from their pinned SHA-256: {bad}")
    return SF_DIR, manifest_digest(got)


# ---------------------------------------------------------------------------
# DICOM object tree for lake_ingest
# ---------------------------------------------------------------------------

MODALITIES = ("CT", "MR", "US", "XA", "CR")
DCM_CAP = 10_000_001  # sources.binary.DCM_RANGED_READ_BYTES
NO_DATE = "1979-01-01"  # vr.MISSING_PARTITION_DEFAULT

# One drop's composition; every drop has the same counts (so per-drop
# layer counts repeat exactly) and different contents.
DROP_MIX = {
    "dcm": 80,          # bare valid .dcm
    "dcm_nodate": 4,    # bare valid .dcm without StudyDate
    "dcm_gz": 8,        # bare gzip of a valid .dcm
    "zip": 3,           # zip, 5 members each
    "tgz": 2,           # tar.gz, 4 members each
    "big_zip": 1,       # the drop's large archive, 30 members
    "dcm_big": 1,       # .dcm above the ranged-read cap
    "garbage": 3,       # random bytes named .dcm
    "truncated": 2,     # first 100 bytes of a valid .dcm
    "empty": 2,         # zero-byte object
    "bad_zip": 2,       # random bytes named .zip
    "json": 4,          # ignored by extension
}
MEMBERS = {"zip": 5, "tgz": 4, "big_zip": 30}
QUARANTINE = {
    "garbage": ("dicom_parse", "DicomParseError"),
    "truncated": ("dicom_parse", "DicomParseError"),
    "empty": ("dicom_parse", "DicomParseError"),
    "bad_zip": ("archive_explode", "BadZipFile"),
}


def _instance(rng, seed: int, drop: int, idx: int, dates: list[str], no_date: bool):
    pid = int(rng.integers(0, 60))
    tags = {
        "ImageType": ["ORIGINAL", "PRIMARY"],
        "SOPClassUID": "1.2.840.10008.5.1.4.1.1.7",
        "SOPInstanceUID": f"1.2.826.0.1.3680043.8.498.{seed}.{drop}.{idx}",
        "StudyTime": "093000.000000",
        "Modality": MODALITIES[int(rng.integers(0, len(MODALITIES)))],
        "PatientName": f"Fam{pid}^Given{pid}",
        "PatientID": f"PID{pid:06d}",
        "PatientSex": "MF"[pid % 2],
        "StudyID": f"SID{drop:03d}{idx:04d}",
        "SeriesNumber": str(int(rng.integers(1, 9))),
        "InstanceNumber": str(idx),
        "Rows": 64,
        "Columns": 64,
    }
    date = NO_DATE
    if not no_date:
        d = dates[int(rng.integers(0, len(dates)))]
        tags["StudyDate"] = d.replace("-", "")
        date = d
    row = {
        "sop": tags["SOPInstanceUID"],
        "date": date,
        "modality": tags["Modality"],
        "family": f"Fam{pid}",
    }
    return tags, row


def _build_tree(out: str, seed: int, drops: int) -> dict:
    from dicom_metadata_extractor_serverless_datalake_spark.dicom.codec import write_dicom

    rng = np.random.default_rng([seed, 2])
    base = datetime.date(2015, 1, 1)
    dates = sorted(
        {str(base + datetime.timedelta(days=int(d))) for d in rng.integers(0, 3650, 30)}
    )
    manifest = {"kind": "dicom_tree", "seed": seed, "dates": dates, "drops": []}
    for drop in range(drops):
        ddir = os.path.join(out, f"drop-{drop:02d}")
        os.makedirs(ddir)
        objects = []
        counter = iter(range(1_000_000))

        def dcm(no_date: bool = False, pixels: int | None = None):
            tags, row = _instance(rng, seed, drop, next(counter), dates, no_date)
            n = pixels if pixels is not None else int(rng.integers(1024, 8192))
            return write_dicom(tags, pixel_data=rng.bytes(n), sop_instance_uid=row["sop"]), row

        def put(name: str, data: bytes, kind: str, rows=(), quarantine=None, member=None):
            with open(os.path.join(ddir, name), "wb") as fh:
                fh.write(data)
            entry = {"path": f"drop-{drop:02d}/{name}", "kind": kind, "bytes": len(data)}
            entry["rows"] = [dict(r, member=r.get("member", member or name)) for r in rows]
            if quarantine:
                stage, cls = quarantine
                entry["quarantine"] = {"stage": stage, "error_class": cls, "member": member}
            objects.append(entry)

        for kind, count in DROP_MIX.items():
            for k in range(count):
                name = f"{kind}-{k:03d}"
                if kind in ("dcm", "dcm_nodate"):
                    data, row = dcm(no_date=kind == "dcm_nodate")
                    put(f"{name}.dcm", data, kind, [row])
                elif kind == "dcm_big":
                    data, row = dcm(pixels=DCM_CAP + 500_000)
                    put(f"{name}.dcm", data, kind, [row])
                elif kind == "dcm_gz":
                    data, row = dcm()
                    put(f"{name}.dcm.gz", gzip.compress(data, mtime=0), kind, [row],
                        member=f"{name}.dcm")
                elif kind in ("zip", "big_zip"):
                    buf, rows = io.BytesIO(), []
                    with zipfile.ZipFile(buf, "w") as zf:
                        for m in range(MEMBERS[kind]):
                            data, row = dcm()
                            mname = f"series/m{m:03d}.dcm"
                            info = zipfile.ZipInfo(mname, date_time=(2020, 1, 1, 0, 0, 0))
                            zf.writestr(info, data)
                            rows.append(dict(row, member=mname))
                    put(f"{name}.zip", buf.getvalue(), kind, rows)
                elif kind == "tgz":
                    buf, rows = io.BytesIO(), []
                    with tarfile.open(fileobj=buf, mode="w:gz") as tf:
                        for m in range(MEMBERS[kind]):
                            data, row = dcm()
                            mname = f"m{m:03d}.dcm"
                            info = tarfile.TarInfo(mname)
                            info.size = len(data)
                            tf.addfile(info, io.BytesIO(data))
                            rows.append(dict(row, member=mname))
                    put(f"{name}.tar.gz", buf.getvalue(), kind, rows)
                elif kind == "garbage":
                    data = bytearray(rng.bytes(int(rng.integers(300, 2000))))
                    data[128:132] = b"XXXX"  # never the DICM magic
                    put(f"{name}.dcm", bytes(data), kind, quarantine=QUARANTINE[kind],
                        member=f"{name}.dcm")
                elif kind == "truncated":
                    data, _row = dcm()
                    put(f"{name}.dcm", data[:100], kind, quarantine=QUARANTINE[kind],
                        member=f"{name}.dcm")
                elif kind == "empty":
                    put(f"{name}.dcm", b"", kind, quarantine=QUARANTINE[kind],
                        member=f"{name}.dcm")
                elif kind == "bad_zip":
                    put(f"{name}.zip", rng.bytes(int(rng.integers(300, 2000))), kind,
                        quarantine=QUARANTINE[kind])
                elif kind == "json":
                    put(f"{name}.json", b'{"note": "sidecar"}', kind)
        manifest["drops"].append(objects)
    return manifest


def dicom_tree(seed: int, drops: int) -> tuple[str, dict]:
    """``drops`` directories of DICOM objects (see DROP_MIX) plus the
    manifest of what each object must become in the lake or quarantine."""
    return _cached(f"dicom{drops}", seed, lambda out, s: _build_tree(out, s, drops))


def expected_keys(objects: list[dict]) -> list[tuple[str, str | None]]:
    """Sorted (object path, member) of every lake or quarantine row the
    objects must produce, once each; ignored objects produce none."""
    keys = []
    for obj in objects:
        keys.extend((obj["path"], r["member"]) for r in obj["rows"])
        if "quarantine" in obj:
            keys.append((obj["path"], obj["quarantine"]["member"]))
    return sorted(keys, key=repr)


def expected_answers(objects: list[dict], date: str, family: str) -> dict:
    """Answers of the three lake queries over every object ingested so
    far: modality counts on ``date``, SOP UIDs of ``family``, and
    quarantine rows by (stage, error_class)."""
    modality: dict[str, int] = {}
    sops: list[str] = []
    quarantine: dict[tuple[str, str], int] = {}
    for obj in objects:
        for r in obj["rows"]:
            if r["date"] == date:
                modality[r["modality"]] = modality.get(r["modality"], 0) + 1
            if r["family"] == family:
                sops.append(r["sop"])
        if "quarantine" in obj:
            key = (obj["quarantine"]["stage"], obj["quarantine"]["error_class"])
            quarantine[key] = quarantine.get(key, 0) + 1
    return {"modality": modality, "sops": sorted(sops), "quarantine": quarantine}


# ---------------------------------------------------------------------------
# text corpus for the README chain (traced lake_ingest runs)
# ---------------------------------------------------------------------------

def _build_corpus(out: str, seed: int, base_docs: int, factor: int) -> dict:
    """``make_scale_data.make_doc_scale``'s replica scheme over the first
    ``base_docs`` sf0.1 ``documents``: copy i shifts doc_id by
    i * (max id + 1) and appends `` r{i}`` to the text (i >= 1). The eval
    set is a seeded sample of the base documents."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    docs = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                         columns=["doc_id", "text", "lang", "source"])
    docs = docs.filter(pc.less(docs["doc_id"], base_docs)).sort_by("doc_id")
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    stride = int(ids.max()) + 1
    out_ids, out_texts = [], []
    for rep in range(factor):
        out_ids.append(ids + rep * stride)
        out_texts.extend(texts if rep == 0 else [f"{t} r{rep}" for t in texts])
    corpus = pa.table({
        "doc_id": pa.array(np.concatenate(out_ids)),
        "text": pa.array(out_texts),
        "lang": pa.concat_arrays([docs.column("lang").combine_chunks()] * factor),
        "source": pa.concat_arrays([docs.column("source").combine_chunks()] * factor),
    })
    pq.write_table(corpus, os.path.join(out, "docs.parquet"))
    eval_idx = np.sort(rng.choice(len(texts), max(1, len(texts) // 100), replace=False))
    pq.write_table(pa.table({"text": [texts[i] for i in eval_idx]}),
                   os.path.join(out, "eval.parquet"))
    return {"kind": "corpus", "seed": seed, "docs": corpus.num_rows,
            "eval_docs": len(eval_idx), "base_docs": len(texts), "factor": factor}


def corpus(seed: int, base_docs: int, factor: int) -> tuple[str, dict]:
    return _cached(
        f"corpus{base_docs}x{factor}", seed,
        lambda out, s: _build_corpus(out, s, base_docs, factor),
    )
