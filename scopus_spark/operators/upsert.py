"""Keyed upsert (MERGE) into partitioned parquet — the engine's idempotent
incremental-load primitive.

The reference's load stage appends/replaces rows in RDBMS tables [U]; on a
data lake without a table format (no Delta/Iceberg in this container) the
equivalent is partition-scoped read-merge-rewrite:

1. Identify the partitions the incoming batch touches (distinct partition
   values of the delta — driver-side list, bounded by partition
   cardinality).
2. Read ONLY those partitions from the target (partition-pruned scan).
3. Anti-join existing rows against the delta on the key (old versions of
   updated rows drop out), union the delta, and write the merged
   partitions to a STAGING directory.
4. Swap each touched partition directory into place (old dir parked as
   .<part>.old until the new one is in, then removed), and run a recovery
   sweep first so an interrupted previous swap is healed before merging.

STAGE-AND-SWAP rather than in-place dynamic overwrite (round 3): the
overwrite commit protocol deletes old partition files before the job is
durable from the caller's perspective — a failure mid-commit could lose
the only copy of a partition. Staging never mutates the target until all
data is written; the swap itself is metadata renames with a parked-old
fallback. At 100 TB the same shape becomes "write new partition
locations, flip the metastore pointers" — an atomic catalog operation.

At 100 TB this touches |affected partitions| of data, never the full
table; idempotent because re-running the same delta rewrites the same
partitions to the same content.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scopus_spark.operators import tablefs
from scopus_spark.operators.manifest import _partition_dir


def _recover_interrupted_swap(target_path: str, partition_col: str) -> None:
    """Heal a crash between 'park old' and 'move new in': if a parked
    .<part>.old directory exists and its partition is missing, restore it."""
    if not os.path.isdir(target_path):
        return
    for name in os.listdir(target_path):
        if name.startswith(f".{partition_col}=") and name.endswith(".old"):
            live = os.path.join(target_path, name[1:-4])
            parked = os.path.join(target_path, name)
            if not os.path.exists(live):
                tablefs.rename(parked, live, "recover.unpark")
            else:
                tablefs.rmtree(parked, "recover.drop")


def upsert_partitioned(
    target_path: str,
    delta: DataFrame,
    key_cols: list[str],
    partition_col: str,
    deletes: DataFrame | None = None,
) -> None:
    """MERGE `delta` into the parquet table at target_path.

    Rows whose key exists are replaced; new keys are inserted. When
    `deletes` is given (a frame of key_cols + partition_col), those keys
    are removed — the WHEN MATCHED THEN DELETE arm of a full MERGE, which
    is what a snapshot-diff delta (a17) needs to apply 'removed' rows.
    DELETE WINS on overlap: a key present in BOTH delta and deletes ends
    up removed (the delta row is anti-joined away), so callers with
    non-disjoint sets get deterministic MERGE semantics instead of a
    silent re-insert. Only partitions present in the delta (or the delete set) are
    rewritten, via stage-and-swap (the target is never in a
    partially-deleted state). A partition emptied by deletes is removed.

    CONTRACT: partition_col must be a pure function of key_cols (e.g. a
    hash bucket of the key). If a key's partition value could change
    between versions, its old row would sit in a partition this merge
    never reads, surviving as a duplicate.
    """
    if not os.path.exists(target_path):
        tablefs.step("data.write")
        delta.write.partitionBy(partition_col).parquet(target_path)
        return
    _recover_interrupted_swap(target_path, partition_col)
    spark = delta.sparkSession
    drop_keys = delta.select(*key_cols)
    touched_src = delta.select(partition_col)
    if deletes is not None:
        drop_keys = drop_keys.unionByName(deletes.select(*key_cols))
        touched_src = touched_src.unionByName(deletes.select(partition_col))
        # delete-wins: strip deleted keys out of the delta so the union
        # below cannot re-insert them (see docstring).
        delta = delta.join(deletes.select(*key_cols), key_cols, "left_anti")
    # bounded: distinct touched partition values of the delta, not rows
    touched = [r[0] for r in touched_src.distinct().collect()]
    if not touched:
        return
    existing = spark.read.parquet(target_path).filter(
        F.col(partition_col).isin(touched)
    )
    survivors = existing.join(drop_keys, key_cols, "left_anti")
    merged = survivors.unionByName(delta)

    staging = f"{target_path}.staging-{uuid.uuid4().hex[:12]}"
    try:
        # Full write completes BEFORE the target is touched at all.
        tablefs.step("data.write")
        merged.write.partitionBy(partition_col).parquet(staging)
        for val in touched:
            part = f"{partition_col}={_partition_dir(val)}"
            new_dir = os.path.join(staging, part)
            live_dir = os.path.join(target_path, part)
            parked = os.path.join(target_path, f".{part}.old")
            # park -> move -> unpark (drop the parked copy). Staging
            # holds the partition's COMPLETE new content; no staged dir
            # means deletes emptied it, so the live dir is parked and
            # dropped (unreachable for upsert-only deltas: touched
            # partitions always contain delta rows there). Parking first
            # means a crash never leaves a half-deleted or half-moved
            # LIVE dir: the recovery sweep restores a parked dir whose
            # partition is missing, and the idempotent re-run redoes it.
            if os.path.exists(live_dir):
                tablefs.rename(live_dir, parked, "swap.park")
            if os.path.isdir(new_dir):
                tablefs.rename(new_dir, live_dir, "swap.move")
            if os.path.exists(parked):
                tablefs.rmtree(parked, "swap.unpark")
    finally:
        tablefs.rmtree(staging, "staging.remove", ignore_errors=True)