"""The durable manifest protocol of the persisted-state drains.

A drain (ss21's curation fold, ss23's ANN fold, the ss24/ss25 publish)
keeps its state in parquet roots plus one small JSON manifest naming
the live ones. This is Structured Streaming's offset-log + idempotent-
sink recipe: the checkpoint skips committed micro-batches, and the
manifest is how a restarted driver finds what those batches wrote.

Three invariants hold here, and must survive a port of ``commit`` to
an object store's conditional put or a catalog entry:

1. durable before GC — the manifest naming the new roots is fsynced
   (file and directory) before any superseded root is deleted;
2. one writer per lineage — only the drain's single foreachBatch
   driver commits a given manifest;
3. readers resolve state only through the manifest, never by listing
   directories.

A crash between any two steps therefore resumes from the last
committed manifest, and no root that manifest names is ever deleted.
"""

from __future__ import annotations

import glob
import json
import os
import shutil


def load(manifest: str) -> dict:
    """The last committed manifest document."""
    with open(manifest) as fh:
        return json.load(fh)


def _strings(doc) -> list[str]:
    if isinstance(doc, str):
        return [doc]
    if isinstance(doc, dict):
        doc = list(doc.values())
    if isinstance(doc, (list, tuple)):
        return [s for v in doc for s in _strings(v)]
    return []


def commit(manifest: str, doc: dict, gc=()) -> list[str]:
    """Atomically and durably replace ``manifest`` with ``doc``, then
    delete each ``gc`` path that no string in ``doc`` names (equals it
    or lies inside it). Returns the deleted paths."""
    tmp = f"{manifest}.tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, manifest)
    fd = os.open(os.path.dirname(os.path.abspath(manifest)), os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    live = [os.path.abspath(s) for s in _strings(doc)]
    gone = []
    for path in gc:
        p = os.path.abspath(path)
        if not any(s == p or s.startswith(p + os.sep) for s in live):
            shutil.rmtree(path, ignore_errors=True)
            gone.append(path)
    return gone


def reset(manifest: str, *patterns: str) -> None:
    """The stale-run guard: forget a previous run's lineage before a
    fresh build. The manifest goes first, so a crash mid-reset never
    leaves a manifest naming a deleted root; then every directory
    matching a glob ``pattern`` is removed."""
    if os.path.exists(manifest):
        os.remove(manifest)
    for pattern in patterns:
        for path in glob.glob(pattern):
            shutil.rmtree(path, ignore_errors=True)
