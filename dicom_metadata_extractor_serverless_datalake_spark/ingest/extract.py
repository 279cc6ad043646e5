"""Binary object -> canonical metadata rows (the reference's central
transform, src/dicomwrapper.py:36-64, re-expressed as a pure function so
the same code runs in unit tests and inside the Spark mapInPandas UDF).
"""

from __future__ import annotations

import datetime
from collections.abc import Iterable, Iterator
from urllib.parse import urlparse

from ..dicom import codec, vr
from ..schema import CANONICAL_KEYWORDS, DICOM_METADATA_SCHEMA, INGEST_SCHEMA, to_camel_case

PARTITION_KEYWORD = "StudyDate"

_CANON_COLS = [f.name for f in DICOM_METADATA_SCHEMA.fields]


def records_schema():
    return INGEST_SCHEMA


def _normalize_canonical(col: str, value: object) -> object:
    """Coerce a converted VR value to the pinned column type. The
    reference's dynamic schema let types drift per file (the
    GroupColumIO-cast Athena failure, README.md:149-151); we normalize at
    extraction so the declared StructType always holds."""
    if col in ("patient_birth_date", "study_date"):
        if isinstance(value, list):
            value = value[0] if value else None
        if isinstance(value, datetime.date):
            return value
        return None
    if col in ("patient_orientation", "image_type"):
        if isinstance(value, list):
            return [vr.stringify(v) for v in value]
        return [vr.stringify(value)]
    if col == "patient_name":
        if isinstance(value, list):
            value = value[0] if value else None
        if isinstance(value, dict):
            return {k: str(v) for k, v in value.items()}
        return None
    # remaining canonical columns are strings
    return vr.stringify(value)


def flatten(elements: codec.Dataset, lineage: dict[str, str | None]) -> dict:
    """One parsed dataset -> one canonical row dict.

    Mirrors transform() (src/dicomwrapper.py:36-64): keep only elements
    with a keyword and a non-empty value, convert via the VR table, stamp
    the four lineage columns, backfill a missing partition tag with
    1979-01-01 (Q2)."""
    row: dict[str, object] = dict.fromkeys(_CANON_COLS)
    extra: dict[str, str] = {}
    for elem in elements:
        if not elem.keyword or elem.is_empty:
            continue  # src/dicomwrapper.py:42-47
        value = vr.convert(elem)
        col = CANONICAL_KEYWORDS.get(elem.keyword)
        if col is not None:
            row[col] = _normalize_canonical(col, value)
        else:
            extra[elem.keyword] = vr.stringify(value)
    row["extra_tags"] = extra or None
    row["source_s3_bucket"] = lineage.get("bucket")
    row["source_s3_region"] = lineage.get("region")
    row["source_s3_key"] = lineage.get("key")
    row["source_s3_archive_path"] = lineage.get("archive_path")
    if row["study_date"] is None:
        # missing partition tag backfill (src/dicomwrapper.py:58-62)
        row["study_date"] = vr.MISSING_PARTITION_DEFAULT
    row["error"] = None
    row["error_log"] = None
    return row


def _error_row(lineage: dict[str, str | None], err: Exception, stage: str) -> dict:
    """Quarantine row: lineage + the human-readable ``error`` string +
    the structured breadcrumb struct (schema.QUARANTINE_LOG_SCHEMA) —
    the reference's structlog event (src/logger.py:1-47) re-expressed
    as queryable columns on the DLQ sink."""
    row: dict[str, object] = dict.fromkeys(_CANON_COLS)
    row["source_s3_bucket"] = lineage.get("bucket")
    row["source_s3_region"] = lineage.get("region")
    row["source_s3_key"] = lineage.get("key")
    row["source_s3_archive_path"] = lineage.get("archive_path")
    row["study_date"] = vr.MISSING_PARTITION_DEFAULT
    row["error"] = f"{type(err).__name__}: {err}"
    row["error_log"] = {
        "stage": stage,
        "error_class": type(err).__name__,
        "source_key": lineage.get("key"),
        "member_path": lineage.get("archive_path"),
        # tz-AWARE so Arrow carries the real instant whatever
        # spark.sql.session.timeZone is; a naive datetime would be
        # re-localized in the session zone and shift the breadcrumb
        "ts": datetime.datetime.now(datetime.timezone.utc),
    }
    return row


def split_path(path: str) -> tuple[str | None, str | None, str]:
    """file:/ or s3:/ URI -> (bucket, region, key)."""
    parsed = urlparse(path)
    if parsed.scheme in ("s3", "s3a", "s3n"):
        return parsed.netloc, None, parsed.path.lstrip("/")
    return None, None, parsed.path or path


def _lineage(path: str) -> dict[str, str | None]:
    bucket, region, key = split_path(path)
    return {"bucket": bucket, "region": region, "key": key, "archive_path": None}


def extract_records(path: str, content: bytes) -> Iterator[dict]:
    """One (path, bytes) object -> canonical row dicts (+ error rows).

    This is the whole reference lifecycle §3.1 steps 3-6 for one object:
    extension route -> archive explode -> magic check -> parse -> VR
    flatten -> lineage stamp. Errors never raise: they surface as rows
    with ``error`` set, which the pipeline writes to the quarantine sink
    (the Lambda-retry -> SQS DLQ analogue)."""
    from . import archives  # local import keeps UDF pickle small

    base_lineage = _lineage(path)
    key = base_lineage["key"]
    if archives.is_ignored(key):
        return
    try:
        members = list(archives.explode(key, content))
    except Exception as err:  # corrupt archive -> one quarantine row
        yield _error_row(base_lineage, err, stage="archive_explode")
        return
    for name, data in members:
        lineage = dict(base_lineage, archive_path=name)
        try:
            elements = codec.parse_dicom(data, stop_before_pixels=True)
            yield flatten(elements, lineage)
        except Exception as err:
            yield _error_row(lineage, err, stage="dicom_parse")


def read_extract(paths: Iterable[str]) -> Iterator[dict]:
    """Objects at ``paths`` -> canonical row dicts (+ error rows): the
    ranged read (sources.binary.read_object) then :func:`extract_records`,
    one object at a time. Every DICOM reader runs this loop in its
    worker: batch ingest, ``format("dicom")`` and its stream reader. An
    object that cannot be read (a dangling symlink, or one deleted since
    the listing) becomes one ``object_read`` quarantine row instead of
    failing the task."""
    from ..sources.binary import read_object

    for path in paths:
        try:
            content = read_object(path)
        except OSError as err:
            yield _error_row(_lineage(path), err, stage="object_read")
            continue
        if content is not None:
            yield from extract_records(path, content)
