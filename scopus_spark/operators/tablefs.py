"""The one filesystem seam of the table commit paths.

Every driver-side filesystem mutation of a VersionedTable commit, a WAP
stage/publish/discard, a branch create/drop, ``vacuum``,
``upsert_partitioned`` and the stream source's version marker goes
through the calls below, each with a step name (the table of names per
operation is in ``manifest.py``'s module docstring). Before acting, each
call runs the module-level ``step(name)`` hook: a no-op here, replaced
by tests to record the step sequence of an operation or to raise at one
named step (a crash at that point). Spark's data-file writes are one
step each (the caller runs ``step`` itself). Reads stay direct, and so
does the writer lock's flock.
"""

from __future__ import annotations

import os
import shutil
import uuid


def step(name: str) -> None:
    """Runs before every filesystem step; tests replace it."""


def write_atomic(path: str, text: str, name: str) -> None:
    """Write ``text`` to a temp file beside ``path``, fsync it, then
    ``os.replace`` it onto ``path``: readers see the old file or the new
    one, never a partial write."""
    step(name)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def rename(src: str, dst: str, name: str) -> None:
    step(name)
    os.rename(src, dst)


def makedirs(path: str, name: str) -> None:
    step(name)
    os.makedirs(path, exist_ok=True)


def rmtree(path: str, name: str, ignore_errors: bool = False) -> None:
    step(name)
    shutil.rmtree(path, ignore_errors=ignore_errors)


def remove(path: str, name: str) -> None:
    step(name)
    os.remove(path)
