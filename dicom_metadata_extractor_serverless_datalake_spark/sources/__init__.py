"""Source readers: the object walker, packer and ranged read every DICOM
reader shares, plus thin wrappers over Spark's built-in parquet/csv/json sources,
and the one stage-and-commit (``commit``) of every lake rewrite and streaming sink."""

from .binary import list_binary_objects, pack_objects, read_object, walk_objects  # noqa: F401
from .tables import load_table, register_star_schema  # noqa: F401
