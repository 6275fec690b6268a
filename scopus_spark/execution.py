"""Execution shaping: how wide a map-heavy stage runs.

``spread(df)`` is the one width rule for stages whose map side does
heavy PER-ROW work — Python codecs in mapInPandas, interpreted
higher-order expressions, per-row md5 chains. Such a stage runs one
task per input split, and a one-file corpus is ONE split, so the work
would serialize onto a single core (measured: j34's 4:2:0 JPEG decode
at sf0.1 ran 170 s on 1 of 32 cores). AQE cannot help: it only
re-splits post-shuffle stages.

The rule: round-robin repartition to ``defaultParallelism`` — one task
per core, ONE wave — only when the input's split estimate is below it;
otherwise return the frame unchanged, so a multi-split input at 100 TB
is never shuffled for width. One wave, not a wider fixed count,
because every Python task pays a fixed worker-side cost regardless of
its size (docs/SCALE.md "Python-worker stages"): extra waves of small
tasks only add that cost.

The estimate reads driver-side file metadata only — ``inputFiles()``
and the parquet footers of at most ``defaultParallelism`` local files —
so it schedules zero Spark jobs. An input with no file-backed source
(an in-memory or checkpointed frame) keeps the one-wave repartition.

``width(spark)`` is the explicit partition count for byte-tiny,
CPU-heavy JVM streams (similarity candidates, pair joins, blob writes):
``max(defaultParallelism, spark.sql.shuffle.partitions)``. A JVM task
costs milliseconds, so these may run several waves, and the floor at
the configured shuffle width never downsizes a wide stream at scale.
Python-worker stages use ``spread`` instead.

Materialization has two verbs and one scope, and this module is the
only place that calls persist, localCheckpoint or unpersist
(tests/test_materialization.py guards it):

- ``pin(df)`` is a lazy ``persist()``: the build stays job-free and the
  first action fills the cache, which keeps lineage and spills to disk.
  Use it for a frame that two or more subtrees of one plan read.
- ``cut(df, eager)`` is ``localCheckpoint``. Even with ``eager=False``
  it runs the upstream shuffle stages as jobs when it is called (under
  AQE, building the checkpoint RDD executes the plan), so it is not
  lazy. Use it where plan depth grows with each round of a loop; where
  correctness needs exactly ONE evaluation that fails loudly instead of
  recomputing: a RangePartitioner ledger (a recomputed partition would
  draw a new range sample) or a read taken before the files under it
  change, and such a cut never becomes a pin; and where a pin of a
  shared frame measured slower (below).
- ``scope()`` releases every pin made inside it when it exits.

A pin's cached plan keeps the configured shuffle width (Spark does not
let AQE coalesce a cached plan by default), so for a shuffled frame a
cut can be the cheaper barrier; docs/SCALE.md lists the measured cases.
Where every reader already shares one evaluation through ReusedExchange
at no cost, there is no barrier at all.

``query(build, *args)`` runs a registry build in a query scope, which
does not release on exit: it hands its pins to the returned frame, and
they are released when that frame is garbage-collected (a build that
raises releases at once). A frame derived from the query's frame that
outlives it recomputes what was pinned, with the same result. Cuts are
not released by a scope: a derived frame still reads the checkpoint
blocks, and unpersisting them would make it fail, so a cut keeps
Spark's own lifetime (the ContextCleaner frees it once no frame refers
to it). Outside any scope a pin stays until unpersisted, as
``persist()`` does.
"""

from __future__ import annotations

import os
import threading
import weakref
from contextlib import contextmanager
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

# spark.sql.files.maxPartitionBytes default: the most bytes one split reads
MAX_SPLIT_BYTES = 128 << 20


def _file_splits(uri: str) -> int:
    """Input splits one file yields: size / 128 MB, capped by the parquet
    row-group count, floored at 1. A file outside the local filesystem
    counts as one split (a lower bound; no remote metadata is fetched)."""
    u = urlparse(uri)
    if u.scheme not in ("", "file"):
        return 1
    path = unquote(u.path)
    by_bytes = max(1, os.path.getsize(path) // MAX_SPLIT_BYTES)
    if by_bytes == 1:
        return 1
    import pyarrow.parquet as pq

    try:
        groups = pq.ParquetFile(path).metadata.num_row_groups
    except (OSError, ValueError):  # not parquet: split by bytes alone
        return by_bytes
    return max(1, min(by_bytes, groups))


def spread(df: DataFrame) -> DataFrame:
    """``df`` repartitioned to one task per core when its input would
    give fewer splits than cores; ``df`` itself otherwise."""
    par = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    # every file is at least one split, so footers are read only below par
    if len(files) >= par or (files and sum(map(_file_splits, files)) >= par):
        return df
    return df.repartition(par)


def width(spark) -> int:
    """Explicit partition count for byte-tiny, CPU-heavy JVM streams:
    ``max(defaultParallelism, spark.sql.shuffle.partitions)``.
    Tested at a simulated high width in tests/test_properties.py."""
    try:
        conf_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_width = 0  # e.g. vendor-specific "auto" — fall back to cores
    return max(spark.sparkContext.defaultParallelism, conf_width)


class _Scope:
    """The JVM Datasets one scope pinned."""

    def __init__(self):
        self.pins: list = []

    def release(self) -> None:
        pins, self.pins = self.pins[::-1], []
        for jdf in pins:
            jdf.unpersist(False)


class _Scopes(threading.local):
    def __init__(self):
        self.stack: list[_Scope] = []


_scopes = _Scopes()


def pin(df: DataFrame) -> DataFrame:
    """``df`` persisted lazily, owned by the innermost scope."""
    df = df.persist()
    if _scopes.stack:
        _scopes.stack[-1].pins.append(df._jdf)
    return df


def cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df`` local-checkpointed; Spark's cleaner frees it with the last
    frame that reads it."""
    return df.localCheckpoint(eager)


@contextmanager
def scope():
    """Release every pin made inside the block when it exits."""
    s = _Scope()
    _scopes.stack.append(s)
    try:
        yield
    finally:
        _scopes.stack.remove(s)
        s.release()


def query(build, *args) -> DataFrame:
    """``build(*args)`` in a query scope whose pins live as long as the
    returned frame."""
    s = _Scope()
    _scopes.stack.append(s)
    try:
        df = build(*args)
    except BaseException:
        s.release()
        raise
    finally:
        _scopes.stack.remove(s)
    if s.pins:
        weakref.finalize(df, s.release).atexit = False
    return df
