"""The one commit of every lake rewrite and streaming sink: stage,
publish, record.

Batch ingest appends through Spark's own job commit (it has no replay
identity). Every other writer of a lake, the quarantine or an upsert
snapshot writes its Spark output to a staging dir
``<root>/_staging/<token>``, laid out as under the root, and
:func:`publish` writes a manifest there, swaps each name in ``replace``
(a partition dir, or a file of a flat root) for its staged copy (none:
removed) and moves every other staged file in beside what is there.

Writers: a ``foreachBatch`` sink stages under :func:`batch_token` with
:func:`stage`; publishing records the token under ``<root>/_commits/``
(only a query's latest batch can be replayed, so its earlier record is
dropped), and publishing a recorded token drops its files, so a batch
Spark replays after a crash lands once. A rewrite (compaction, purge)
runs inside :func:`rewrite`, which holds the root's commit lock from
before it reads the root until it has published, so no append lands
in a partition between its scan and its swap.

Every publish and every recovery holds the root's commit lock (an
``flock`` on ``_staging``, re-entrant within a thread), so they run one
at a time per root, across threads and processes on one host. Under
it, a staged dir with a manifest belongs to a writer that died
mid-publish and rolls forward (every step is a rename skipped once
done); one without a manifest may still be being written, so only its
own writer discards it: the next batch of its query, or the next
rewrite. Batch ingest takes no part in the lock, so do not rewrite a
root while it ingests into it.

Spark, MSCK and ``partition_file_stats`` skip ``_``-prefixed names, so
no reader lists this log; Spark's ``_spark_metadata`` would not do, as
the catalog table and MSCK ignore it and ``foreachBatch`` sinks never
write one. A concurrent reader sees each replaced name's old or new
copy, except between its two renames (a crash there leaves it absent
until the next recovery rolls forward). On an object store a rename is
a copy, so this commit is O(data) there (README, "Cloud object
stores").
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import threading
import uuid

STAGING, COMMITS, MANIFEST = "_staging", "_commits", "_manifest"
REWRITE = "rewrite-"  # the token prefix of a rewrite; a query id is a UUID
_held = threading.local()


def batch_token(batch_df, batch_id: int) -> str:
    """A micro-batch's token: the query id (kept by the checkpoint across
    restarts) and the batch id. A replay gets its first attempt's token;
    batch N of another query over the same root does not."""
    query = batch_df.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId")
    if query is None:
        raise RuntimeError("batch_token must be called inside a foreachBatch sink")
    return f"{query}-{batch_id}"


def names(path: str, hidden=("_", ".")) -> list[str]:
    """Top-level names under ``path`` that do not start with ``hidden``:
    by default the data files and partition dirs, not the log, Spark's
    markers or checksums."""
    if not os.path.isdir(path):
        return []
    return sorted(n for n in os.listdir(path) if not n.startswith(hidden))


def published(root: str, token: str) -> bool:
    """Whether ``token`` (a query's latest batch) was published to ``root``."""
    return os.path.exists(os.path.join(root, COMMITS, token))


@contextlib.contextmanager
def _locked(root: str):
    staging = os.path.abspath(os.path.join(root, STAGING))
    held = _held.__dict__.setdefault("dirs", set())
    if staging in held:
        yield
        return
    with contextlib.suppress(FileExistsError):
        os.mkdir(staging)  # a missing root raises: nothing to lock
    fd = os.open(staging, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        held.add(staging)
        yield
    finally:
        held.discard(staging)
        os.close(fd)


def _recover(root: str, own: str) -> None:
    """Roll forward every staged dir a dead writer sealed; discard the
    unsealed ones whose token starts with ``own``."""
    if not os.path.isdir(os.path.join(root, STAGING)):
        return
    with _locked(root):
        for left in names(os.path.join(root, STAGING)):
            path = os.path.join(root, STAGING, left)
            if os.path.exists(os.path.join(path, MANIFEST)):
                _move_in(root, left)
            elif left.startswith(own):
                shutil.rmtree(path)


def stage(root: str, token: str) -> str:
    """Finish or discard what a crash left under ``root`` (the unsealed
    dirs of ``token``'s query only: another query may be writing its
    own), then return the (absent) staging dir of ``token``."""
    _recover(root, token.rsplit("-", 1)[0] + "-")
    return os.path.join(root, STAGING, token)


@contextlib.contextmanager
def rewrite(root: str):
    """Hold ``root``'s commit lock over a rewrite: recover, then yield a
    fresh staging dir to write and :func:`publish` before leaving."""
    with _locked(root):
        _recover(root, REWRITE)
        yield os.path.join(root, STAGING, REWRITE + uuid.uuid4().hex)


def publish(staged: str, replace=()) -> bool:
    """Make the files under ``staged`` visible, replacing the top-level
    names in ``replace``. Returns False, dropping them, when their token
    was published before."""
    root, token = os.path.dirname(os.path.dirname(staged)), os.path.basename(staged)
    if not os.path.isdir(staged):
        if replace:  # never turn a vanished stage into a delete
            raise FileNotFoundError(f"nothing staged at {staged}")
        return True  # nothing staged (a batch without quarantined rows)
    with _locked(root):
        if published(root, token):
            shutil.rmtree(staged)
            return False
        # only names live now: once retired, a name is live again only as
        # its staged copy, so a roll-forward never retires it twice
        live = [n for n in replace if os.path.exists(os.path.join(root, n))]
        with open(os.path.join(staged, MANIFEST + ".tmp"), "w") as fh:
            json.dump(live, fh)
        os.replace(os.path.join(staged, MANIFEST + ".tmp"), os.path.join(staged, MANIFEST))
        _move_in(root, token)
    return True


def _move_in(root: str, token: str) -> None:
    path = os.path.join(root, STAGING, token)
    with open(os.path.join(path, MANIFEST)) as fh:
        replace = set(json.load(fh))
    old = os.path.join(path, "_old")
    os.makedirs(old, exist_ok=True)
    # name by name: retired once its old copy is in _old, moved in once
    # its staged copy is gone
    for name in sorted(replace.union(names(path))):
        src, dst = os.path.join(path, name), os.path.join(root, name)
        if name in replace and not os.path.exists(os.path.join(old, name)):
            os.rename(dst, os.path.join(old, name))
        if os.path.isdir(src) and name not in replace:  # append into a partition
            os.makedirs(dst, exist_ok=True)
            for f in names(src):
                os.rename(os.path.join(src, f), os.path.join(dst, f))
        elif os.path.exists(src):
            os.rename(src, dst)
    if not token.startswith(REWRITE):  # a batch: record it, drop its query's older record
        log = os.path.join(root, COMMITS)
        os.makedirs(log, exist_ok=True)
        open(os.path.join(log, token), "w").close()
        query = token.rsplit("-", 1)[0] + "-"
        for done in names(log):
            if done.startswith(query) and done != token:
                os.remove(os.path.join(log, done))
    # unsealed first: a clean-up that dies leaves a dir to discard, never
    # one to roll forward again with its _old half gone
    os.remove(os.path.join(path, MANIFEST))
    shutil.rmtree(path)
