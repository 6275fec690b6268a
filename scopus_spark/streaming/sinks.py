"""Streaming sinks beyond the built-in file/console sinks (SURVEY §2.I).

`foreach_batch_upsert` is the engine's CDC-style terminal stage: a
Structured Streaming query whose every micro-batch is MERGEd (keyed upsert)
into a partitioned parquet table — the streaming rendering of the
reference's incremental RDBMS load stage [U — SURVEY §3.1 step 2].

Semantics per micro-batch:

1. Collapse the batch to its latest row per key (max_by on the ordering
   column) — a batch may carry several versions of one key.
2. `upsert_partitioned` merges them into the target: existing versions of
   those keys drop out, only touched partitions rewrite.

End-to-end exactly-once-per-key-version: the file source + checkpoint
guarantee each input file is processed once; the upsert is idempotent per
batch (re-running a batch rewrites the same partitions to the same
content), which is exactly the contract foreachBatch requires of its sink
on retry. State stays bounded — nothing accumulates in the streaming state
store; the table IS the state.
"""

from __future__ import annotations

import hashlib
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scopus_spark import execution
from scopus_spark.operators.upsert import upsert_partitioned


def latest_per_key(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """One row per key: the one with the max order_col value (deterministic
    for distinct order values — CDC sequence numbers/timestamps)."""
    payload = [c for c in df.columns if c not in key_cols]
    return (
        df.groupBy(*key_cols)
        .agg(F.max_by(F.struct(*payload), F.col(order_col)).alias("_latest"))
        .select(*key_cols, "_latest.*")
    )


def foreach_batch_upsert(
    target_path: str,
    key_cols: list[str],
    partition_col: str,
    order_col: str,
    op_col: str | None = None,
    delete_op: str = "D",
) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch sink that MERGEs each micro-batch into the
    partitioned parquet table at target_path.

    With `op_col` set, the batch carries a CDC operation envelope: a key
    whose LATEST row (by order_col) is a `delete_op` tombstone is removed
    from the target (the upsert's WHEN MATCHED DELETE arm); all other
    keys upsert their latest payload (op column stripped). Tombstone
    resolution happens AFTER latest-per-key collapse, so an
    insert-then-delete within one batch deletes and a delete-then-
    reinsert within one batch inserts — replay stays idempotent either
    way."""

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        # r10 (the o4/rollup lesson at the sink layer): the merge
        # evaluates its delta three times (touched-partition collect,
        # anti-join source, staging write), and each evaluation would
        # re-read the batch's source files and re-run the latest-per-key
        # shuffle aggregate. Pin the collapsed delta for the span of the
        # merge — bounded: one row per key of ONE micro-batch.
        with execution.scope():
            delta = execution.pin(latest_per_key(batch_df, key_cols, order_col))
            if op_col is None:
                upsert_partitioned(
                    target_path, delta, key_cols, partition_col
                )
                return
            dedup_cols = list(dict.fromkeys([*key_cols, partition_col]))
            deletes = delta.filter(F.col(op_col) == delete_op).select(
                *dedup_cols
            )
            upserts = delta.filter(F.col(op_col) != delete_op).drop(op_col)
            upsert_partitioned(
                target_path, upserts, key_cols, partition_col, deletes=deletes
            )

    return sink


def foreach_batch_jdbc_upsert(
    url: str,
    table: str,
    driver: str,
    key_cols: list[str],
    order_col: str,
    stream_name: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """CDC micro-batches into an RDBMS as a keyed upsert — the streaming
    rendering of the reference's terminal JDBC load (a6), without
    engine-specific MERGE SQL: per batch (1) collapse to the latest row
    per key, (2) stage the batch's KEYS into a scratch table via a
    partition-parallel `write.jdbc`, (3) ONE set-based
    ``DELETE … WHERE EXISTS (SELECT … FROM staging)``, (4) partition-
    parallel batched `write.jdbc` append. DELETE+INSERT of identical
    content is idempotent, which is exactly the retry contract
    foreachBatch requires (the staging overwrite is likewise re-runnable).

    Scale contract: NOTHING is collected to the driver — the key set
    travels executor→RDBMS through the same JDBC writer as the payload,
    and the delete is a single relational statement the RDBMS executes as
    a semi-join, instead of driver-built IN-lists that choke on a hot
    batch at 100 TB ingest rates. String keys compare as VARCHAR on both
    sides (Derby maps StringType to CLOB, which has no ``=``).
    """
    from scopus_spark.sources.jdbc import write_jdbc

    # One staging namespace PER STREAM + per batch: a fixed "{table}_STG"
    # lets two concurrent streams sharing the target interleave — one
    # stream's staging overwrite between another's stage and DELETE
    # substitutes the wrong key set. Pass `stream_name` (e.g. the query
    # name or checkpoint location) to make the tag DETERMINISTIC across
    # restarts: a driver that dies between CREATE and the finally-DROP
    # leaves an orphan scratch table, and only a restart that derives the
    # SAME tag can recognize and sweep it (done once, on the first batch).
    # Without a stream_name the tag is a session uuid and crash leftovers
    # from previous processes are NOT reclaimed.
    if stream_name is not None:
        stream_tag = hashlib.sha1(stream_name.encode()).hexdigest()[:8].upper()
    else:
        stream_tag = uuid.uuid4().hex[:8].upper()
    state = {"swept": stream_name is None}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        staging = f"{table}_STG_{stream_tag}_{batch_id}"
        if not state["swept"]:
            # Reclaim scratch tables a crashed prior run of THIS stream
            # (same deterministic tag) left behind. JDBC metadata LIKE
            # patterns treat '_' as a wildcard — fine: the tag prefix
            # makes collisions with foreign tables implausible, and we
            # only drop names we would have created ourselves.
            state["swept"] = True
            jvm0 = batch_df.sparkSession._jvm
            conn0 = jvm0.java.sql.DriverManager.getConnection(url)
            try:
                # staging tables are created by Spark's JDBC writer with
                # QUOTED exact-case names — probe both spellings, same as
                # the target-existence check below.
                leftovers = []
                meta0 = conn0.getMetaData()
                for pat in {f"{table}_STG_{stream_tag}_%",
                            f"{table.upper()}_STG_{stream_tag}_%"}:
                    rs = meta0.getTables(None, None, pat, None)
                    while rs.next():
                        leftovers.append(rs.getString("TABLE_NAME"))
                st = conn0.createStatement()
                try:
                    for name in leftovers:
                        try:
                            st.executeUpdate(f'DROP TABLE "{name}"')
                        except Exception:
                            pass
                finally:
                    st.close()
            finally:
                conn0.close()
        delta = latest_per_key(batch_df, key_cols, order_col)
        spark = batch_df.sparkSession
        jvm = spark._jvm
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            # first batch: the table doesn't exist yet — write.jdbc(append)
            # below creates it, so there is nothing to delete.
            # Spark's JDBC writer creates the table with QUOTED (exact-case)
            # identifiers; probe both spellings.
            meta = conn.getMetaData()
            if not (
                meta.getTables(None, None, table, None).next()
                or meta.getTables(None, None, table.upper(), None).next()
            ):
                return write_jdbc(delta, url, table, driver, mode="append")
        finally:
            conn.close()
        # stage the key set executor-side (overwrite = drop/recreate, so a
        # foreachBatch retry re-stages the same keys idempotently) …
        string_keys = {
            f.name for f in delta.schema.fields if f.dataType.typeName() == "string"
        }
        write_jdbc(
            delta.select(*key_cols), url, staging, driver, mode="overwrite"
        )
        # … then one set-based delete: the RDBMS plans the semi-join.
        # Spark's JDBC writer passes TABLE names through unquoted but
        # quotes COLUMN identifiers — mirror that. String keys compare at
        # Derby's MAXIMUM VARCHAR width (CLOB has no '='): truncating both
        # sides at a short width would FALSE-MATCH distinct keys sharing a
        # prefix and delete a foreign key's row.
        conj = " AND ".join(
            f'CAST(s."{k}" AS VARCHAR(32672)) = CAST({table}."{k}" AS VARCHAR(32672))'
            if k in string_keys
            else f's."{k}" = {table}."{k}"'
            for k in key_cols
        )
        conn = jvm.java.sql.DriverManager.getConnection(url)
        try:
            stmt = conn.createStatement()
            try:
                stmt.executeUpdate(
                    f"DELETE FROM {table} WHERE EXISTS "
                    f"(SELECT 1 FROM {staging} s WHERE {conj})"
                )
            finally:
                # drop the per-batch staging table UNCONDITIONALLY — a
                # failed delete must not leak scratch tables (a crash
                # before this DROP is reclaimed by the deterministic-tag
                # sweep above on restart).
                try:
                    stmt.executeUpdate(f"DROP TABLE {staging}")
                except Exception:
                    pass
                stmt.close()
        finally:
            conn.close()
        write_jdbc(delta, url, table, driver, mode="append")

    return sink


def foreach_batch_versioned_upsert(
    target_path: str,
    key_cols: list[str],
    partition_col: str,
    order_col: str,
    op_col: str | None = None,
    delete_op: str = "D",
    stream_name: str = "stream",
) -> Callable[[DataFrame, int], None]:
    """foreach_batch_upsert's semantics targeting a snapshot-isolated
    VersionedTable (operators/manifest.py), with TRUE exactly-once batch
    application: the merge carries '<stream_name>:<batch_id>' as its
    commit token, so a foreachBatch retry of an already-committed batch
    is a manifest-level no-op — exactly-once holds even for sinks whose
    content idempotence an operator bug might break, and concurrent
    readers of the table never observe a half-applied batch (atomic
    pointer swap). Two streams sharing one target need distinct
    stream_names (tokens namespace per stream)."""
    from scopus_spark.operators.manifest import VersionedTable

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # r10: pin the collapsed delta across the merge's three
        # evaluations (see foreach_batch_upsert) — bounded: one row per
        # key of ONE micro-batch.
        with execution.scope():
            delta = execution.pin(latest_per_key(batch_df, key_cols, order_col))
            vt = VersionedTable(target_path)
            token = f"{stream_name}:{batch_id}"
            if op_col is None:
                vt.merge(
                    delta, key_cols, partition_col, commit_token=token
                )
                return
            dedup_cols = list(dict.fromkeys([*key_cols, partition_col]))
            deletes = delta.filter(F.col(op_col) == delete_op).select(
                *dedup_cols
            )
            upserts = delta.filter(F.col(op_col) != delete_op).drop(op_col)
            vt.merge(
                upserts,
                key_cols,
                partition_col,
                deletes=deletes,
                commit_token=token,
            )

    return sink


def foreach_batch_versioned_append(
    target_path: str,
    partition_col: str,
    stats_cols: list[str] | None = None,
    stream_name: str = "stream",
) -> Callable[[DataFrame, int], None]:
    """APPEND-ONLY streaming ingestion into a snapshot-isolated
    VersionedTable — the event-log shape (no keys, no merges): each
    micro-batch lands as new immutable directories concatenated onto the
    manifest, committed under '<stream_name>:<batch_id>' so a
    foreachBatch retry is a manifest-level no-op. The first batch
    creates the table (declaring ``stats_cols`` as the table's stats
    property), so every batch's directories carry min/max stats and a
    time-range reader later skips whole micro-batches via
    read(prune=...). Cost per batch is exactly the batch's bytes —
    nothing existing is listed, read, or rewritten."""
    from scopus_spark.operators.manifest import VersionedTable

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        vt = VersionedTable(target_path)
        token = f"{stream_name}:{batch_id}"
        if not vt.exists():
            # token seeds the window so a retry of the CREATE batch is
            # recognized as a replay by the append below
            vt.write_initial(
                batch_df,
                partition_col,
                stats_cols=stats_cols,
                commit_token=token,
            )
            return
        vt.append(batch_df, commit_token=token)

    return sink
