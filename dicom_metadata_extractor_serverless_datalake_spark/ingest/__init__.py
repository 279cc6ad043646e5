"""Ingest dataflow: binary objects -> archive explode -> DICOM metadata
flatten -> partitioned Parquet lake + quarantine sink."""

from .extract import extract_records, read_extract, records_schema  # noqa: F401
from .pipeline import ingest_batch, run_ingest, write_split  # noqa: F401
