"""Archive explode + extension routing, pure Python (runs inside the
mapInPandas extraction UDF).

Mirrors the reference's dispatch surface:
- ignore-list extensions .json/.txt/.csv (src/s3wrapper.py:7)
- empty or over-long extensions default to .dcm (src/s3wrapper.py:76-84)
- zip members enumerated, directories and DICOMDIR skipped, DICM magic
  required (src/utils/utils.py:6-28)
- .tar/.tar.gz/.tgz/.gz/.bz2/.xz all open through tarfile 'r:*'
  auto-detection (src/utils/utils.py:31-48, src/s3wrapper.py:104-124)
- bare files named DICOMDIR / lacking the magic raise -> quarantine
  (README.md:116 expects the DLQ message for DICOMDIR)
"""

from __future__ import annotations

import io
import posixpath
import tarfile
import zipfile
from collections.abc import Iterator

from ..dicom.codec import is_dicom

IGNORED_EXTS = {".json", ".txt", ".csv"}
ZIP_EXTS = {".zip"}
TAR_EXTS = {".tar", ".gz", ".tgz", ".bz2", ".xz"}
DEFAULT_EXT = ".dcm"
MAX_EXT_LEN = 5  # longer "extensions" are treated as no extension -> .dcm


def eval_ext(key: str) -> str:
    """Classify an object key's extension (src/s3wrapper.py:38-44,76-84)."""
    base = posixpath.basename(key)
    dot = base.rfind(".")
    if dot <= 0:
        return DEFAULT_EXT
    ext = base[dot:].lower()
    if len(ext) > MAX_EXT_LEN + 1:
        return DEFAULT_EXT
    return ext


def is_ignored(key: str) -> bool:
    return eval_ext(key) in IGNORED_EXTS


def _decompress_single(ext: str, content: bytes) -> bytes:
    """Decompress a bare (non-tar) .gz/.bz2/.xz single-member payload."""
    import bz2
    import gzip
    import lzma

    if ext in {".gz", ".tgz"}:
        return gzip.decompress(content)
    if ext == ".bz2":
        return bz2.decompress(content)
    if ext == ".xz":
        return lzma.decompress(content)
    raise tarfile.ReadError(f"not a tar and not bare-compressed: {ext}")


def explode(key: str, content: bytes) -> Iterator[tuple[str, bytes]]:
    """Yield (member_path, member_bytes) candidate DICOM payloads from one
    object. Non-archive objects yield themselves once with member_path ==
    basename(key) (matching getname, src/utils/utils.py:61-67). Raises on
    unknown/corrupt archives — callers quarantine.
    """
    ext = eval_ext(key)
    if ext in IGNORED_EXTS:
        return
    if ext in ZIP_EXTS:
        with zipfile.ZipFile(io.BytesIO(content)) as zf:
            for info in zf.infolist():
                if info.is_dir():
                    continue
                if "DICOMDIR" in info.filename.upper():
                    continue  # src/utils/utils.py:11
                data = zf.read(info)
                if is_dicom(data):
                    yield info.filename, data
        return
    if ext in TAR_EXTS:
        try:
            with tarfile.open(fileobj=io.BytesIO(content), mode="r:*") as tf:
                for member in tf:
                    if not member.isfile():
                        continue
                    if "DICOMDIR" in member.name.upper():
                        continue  # src/utils/utils.py:35
                    fobj = tf.extractfile(member)
                    if fobj is None:
                        continue
                    data = fobj.read()
                    if is_dicom(data):
                        yield member.name, data
            return
        except tarfile.ReadError:
            # bare (non-tar) compressed single member, e.g. file.dcm.gz:
            # the reference crashes here (src/utils/utils.py:31-48 assumes
            # tar); we decompress the single member instead and fall
            # through to the bare-file path. Unknown/corrupt payloads
            # still raise -> quarantine.
            content = _decompress_single(ext, content)
            base = posixpath.basename(key)
            stem = base[: base.rfind(".")] if "." in base else base
            yield stem, content
            return
    # bare file (.dcm or defaulted): magic enforced downstream by the
    # parser so invalid files quarantine rather than silently drop
    yield posixpath.basename(key), content
