"""Scratch-space contract for persisted intermediate stores.

Several queries materialize build-once/serve-many artifacts —
signature stores (l77/l79/l92), the BM25 postings store (l86/l127b),
persisted IVF indexes (l93), bucketed edge layouts (g45), and the
streaming checkpoint/state/store trees (st12–st34). Locally these go
to ``tempfile.mkdtemp``. On a real cluster a DRIVER-LOCAL ``/tmp`` is
wrong for anything an executor writes or a later stage reads: every
store written by one stage and read by another must live on storage
all executors AND the driver can reach (HDFS, an object-store mount,
NFS). ``mkscratch`` is the one knob: set ``EKATI_SCRATCH_ROOT`` to a
shared filesystem path and every store site in the package lands
there; unset, local runs keep the tempdir behavior. (The round-14
advice on l127b's store path, generalized to every store site.)
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid


def mkscratch(prefix: str) -> str:
    """A fresh scratch directory: ``$EKATI_SCRATCH_ROOT/<prefix><hex>``
    when the shared root is configured, else a local
    ``tempfile.mkdtemp(prefix=...)``. Callers own cleanup (session_store
    entries dispose with ``rmscratch``; one-shot sites follow the l77/l86
    house pattern of leaving the artifact for the session's lifetime)."""
    root = os.environ.get("EKATI_SCRATCH_ROOT")
    if not root:
        return tempfile.mkdtemp(prefix=prefix)
    d = os.path.join(root, f"{prefix}{uuid.uuid4().hex}")
    os.makedirs(d, exist_ok=False)
    return d


def rmscratch(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
