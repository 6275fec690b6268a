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
"""

from __future__ import annotations

import os
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
