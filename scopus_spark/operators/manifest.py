"""Snapshot-isolated versioned parquet tables — an Iceberg-lite manifest
layer over the incremental tier (VERDICT r6 item 6).

The stage-and-swap MERGE (operators/upsert.py) is correct for a single
writer, but a reader racing the partition-directory swap can list a
partition twice (old parked + new live) or not at all (between the two
renames). Production table formats fix this with IMMUTABLE DATA FILES +
an atomic metadata pointer, and that is exactly the shape here:

- Every commit writes NEW data directories under ``root/data/<commit>/``
  and never mutates or deletes a file any existing manifest references.
- A manifest (``root/_manifests/v%06d.json``) lists the EXACT data
  directories of one snapshot, per partition value, plus the schema.
- Commit = write the next manifest file, then atomically swap the
  ``root/_current`` pointer (``os.replace`` — POSIX-atomic; both are
  ``tablefs.write_atomic``). Readers resolve the pointer ONCE and from
  then on see precisely that snapshot's files, no matter how many
  commits land meanwhile.
- Old snapshots stay readable until an explicit ``vacuum`` drops the
  manifests and any data directories only they reference.

The partition column is stored INSIDE the data files as a normal column
(the hive-style ``__part=<val>`` directory name is just file layout);
readers get the column without partition discovery, so a manifest's
directory list can mix commits freely — the same reason Iceberg keeps
partition data in metadata rather than in path conventions.

CONCURRENT WRITERS (round 8): commits are OPTIMISTIC. Every mutator
writes its immutable data files first (the expensive part, lock-free),
then enters a short critical section (an exclusive flock on
``root/_commit.lock``) where it re-reads the current manifest and
either REBASES onto commits that landed meanwhile or raises
``CommitConflict``:

- ``append`` always rebases — new directories concatenate onto whatever
  the latest partition lists are (appends commute with everything).
- ``merge`` rebases iff no intervening commit touched any of ITS
  touched partitions; an overlap means its rewrite is stale, so it
  raises ``CommitConflict`` and the caller re-runs the merge.
- ``compact`` rebases across intervening appends (their directories are
  concatenated back onto the compacted output) and concurrent compacts
  (content-equal rewrites); an intervening MERGE on a target partition
  conflicts.

Every manifest records its commit's ``op``, the partition keys it
``touched``, the directories it ``added`` and (for merges) ``replaced``
— which is also exactly the metadata a CHANGE FEED needs:
``read_changes(spark, from_v, to_v)`` streams row-level
insert/delete/update_pre/update_post images at O(delta files) cost by
reading only the added/replaced directories of the commits in range.

ROW-LEVEL DELETES (round 9) are merge-on-read DELETION VECTORS:
``delete_keys`` commits per-partition tombstone key sets scoped to the
data directories existing at its base snapshot — O(churn) bytes, no
rewrite — and ``read`` reconstructs via a delta-sized anti-join on
(key, source dir). Deletes commute with appends and other deletes
under rebase; compaction and merges FOLD tombstones back into plain
files; the change feed streams tombstoned rows' pre-images.

The commit critical section is behind a pluggable ``CommitCoordinator``
(round 9): ``exclusive(table)`` bounds the section and
``swap_or_conflict(manifest, expected_version)`` publishes iff the
version still matches. The local implementation is an flock +
pointer-swap; at 100 TB the same interface is a catalog's atomic
compare-and-swap (conditional-put), and the rebase/conflict logic
transfers verbatim — everything else (immutable files, manifest
pruning by partition value, snapshot-pinned readers) is already the
at-scale shape.

FILESYSTEM STEPS: every mutation goes through ``operators/tablefs.py``
with a step name; its ``step`` hook lets a test record the sequence or
fail at any one step. Each operation's steps in order, ``*`` marking
the commit point (a crash before it leaves the old snapshot current,
after it the new one):

=========================  ===============================================
write_initial, append,     data.write, manifest.mkdir, manifest.write,
merge, delete_keys,        pointer.replace*
compact
merge, mixed-spec table    data.write (rewrite), data.write (legacy
                           tombstones), manifest.mkdir, manifest.write,
                           pointer.replace*
evolve_partitioning,       manifest.mkdir, manifest.write, pointer.replace*
merge_branch
stage_append               data.write, staged.write
publish_staged             manifest.mkdir, manifest.write, pointer.replace*,
                           staged.remove
discard_staged, a          staged.remove, then data.discard per commit dir
replayed publish           no committed manifest lists
create_branch              branch.mkdir, branch.base, manifest.mkdir,
                           manifest.write, pointer.replace* (the branch's)
drop_branch                branch.remove, then data.discard per reclaimed
                           commit dir
vacuum                     per dropped manifest: vacuum.data (and
                           vacuum.shell once a commit dir is empty) per
                           unreferenced dir, then vacuum.manifest
a replay or conflict       data.discard of the commit's own data dir
after data.write
upsert_partitioned         data.write, then per touched partition
(operators/upsert.py)      swap.park, swap.move, swap.unpark, then
                           staging.remove; its recovery sweep runs
                           recover.unpark or recover.drop per parked dir
stream version marker      marker.mkdir, marker.write
(streaming/table_source)
=========================  ===============================================
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from scopus_spark.operators import tablefs

_PART_DIR = "__part"
# deletion-vector column: the data directories a tombstone row applies to
# (array<string> — ONE row per deleted key, not a key x dirs cross
# product: the repeated array dictionary/RLE-compresses to ~nothing in
# parquet, so tombstone storage is O(keys) even for partitions with long
# append histories). Tombstones are scoped to the directories that
# existed when the delete committed (the Iceberg/Delta deletion-vector
# contract: DVs attach to files) — rows appended AFTERWARDS are
# untouched.
_TOMB_DIR_COL = "_applies"
# tombstone-map key for tombstones that suppress rows in LEGACY (retired
# partition spec) data dirs — always loaded, never folded by merge/partial
# compact (legacy dirs are only rewritten by a full compact's migration)
_LEGACY_KEY = "__legacy__"
# Replay-detection memory: how many recent commit tokens each manifest
# carries. Streaming retries only ever replay the LAST batch, so a small
# window is already generous; bounded so manifests never grow with history.
_TOKEN_WINDOW = 128
# Per-directory Bloom filters for point-lookup skipping: m bits / k hashes
# sized for directory-level membership (a directory holding ~1e4-1e6 rows
# of a high-cardinality key still prunes usefully because the QUESTION is
# per-directory, not per-row: "can key x be in this directory at all").
# xxhash64(col, seed) with integer seeds keeps write-side (JVM expression)
# and probe-side (1-row JVM job) bit-identical.
_BLOOM_BITS = 1024
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 4
# rows per file before a clustered commit rolls a partition dir into a
# second file (maxRecordsPerFile; see _write_commit_data)
COMMIT_FILE_ROWS = 5_000_000
# commits writing at most this many files read their footers driver-side
# (see _footer_rowgroup_stats)
FOOTER_DRIVER_FILES = 64


class CommitConflict(RuntimeError):
    """A concurrent commit touched the same partitions; the caller must
    re-run its operation against the new current snapshot."""


# the characters Spark percent-escapes in a partition directory name
# (ExternalCatalogUtils.escapePathName, non-Windows set)
_PATH_ESCAPED = frozenset(map(chr, range(1, 0x20))) | frozenset("\"#%'*/:=?\\\x7f{[]^")


def _partition_dir(val) -> str:
    # must render the same string Spark uses for the partition DIRECTORY
    # name, because manifest keys come from listing those directories
    if isinstance(val, bool):
        return "true" if val else "false"
    return "".join(
        f"%{ord(c):02X}" if c in _PATH_ESCAPED else c for c in str(val)
    )


def _check_partition_type(schema: StructType, partition_col: str) -> None:
    """Manifest partition keys come from Spark's partitionBy directory
    names, but every lookup (read partition_values, delete_keys
    touched-partitions) renders values with Python str() — float/
    decimal/timestamp renderings diverge ('1.0E-7' vs '1e-07'), so
    lookups would silently miss. Refuse such partition columns up
    front."""
    pt = {f.name: f.dataType for f in schema.fields}.get(partition_col)
    if pt is not None and pt.typeName() in (
        "float",
        "double",
        "decimal",
        "timestamp",
        "timestamp_ntz",
    ):
        raise ValueError(
            f"partition column {partition_col!r} has type "
            f"{pt.simpleString()}: float/decimal/timestamp partition "
            "values render differently in Spark directory names vs "
            "Python str(), so manifest-key lookups would silently "
            "miss — partition by an int/long/string/boolean "
            "derivation instead (e.g. a bucket or formatted string)"
        )


def _evolve_schema(old: StructType, new: StructType) -> StructType:
    """Additive schema evolution: the union of old fields (in place)
    plus fields only `new` has (appended, forced nullable — files
    written before the evolution have no values for them). Type changes
    are refused: a silent widen would make old footers unreadable under
    the manifest schema."""
    by_name = {f.name: f for f in old.fields}
    out = list(old.fields)
    for f in new.fields:
        prev = by_name.get(f.name)
        if prev is None:
            out.append(
                type(f)(f.name, f.dataType, True)
            )
        elif prev.dataType != f.dataType:
            raise ValueError(
                f"schema evolution cannot change column {f.name!r}: "
                f"{prev.dataType.simpleString()} -> "
                f"{f.dataType.simpleString()}"
            )
    return StructType(out)


def _bloom_word_expr(col: str, w: int) -> str:
    """SQL expression for word ``w`` of one row's Bloom contribution:
    OR of (1 << bit-offset) for each of the k hash positions that land
    in this word. Evaluated JVM-side; bit_or-aggregated per directory."""
    terms = []
    for seed in range(_BLOOM_K):
        h = f"pmod(xxhash64(`{col}`, {seed}), {_BLOOM_BITS})"
        terms.append(
            f"(CASE WHEN CAST({h} / 64 AS INT) = {w} "
            f"THEN shiftleft(CAST(1 AS BIGINT), CAST({h} % 64 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return " | ".join(terms)


def _bloom_admits(words: list[int] | None, positions: list[int]) -> bool:
    """Directory-level membership test: True unless the filter PROVES
    absence (a missing filter always admits — skipping is a superset
    guarantee, the stats-pruning rule)."""
    if words is None:
        return True
    return all((words[h >> 6] >> (h & 63)) & 1 for h in positions)


def _filter_dirs(
    m: dict, partition_values: list | None, prune: tuple | None
) -> list[str]:
    """Apply partition-value and stats-range filters to one manifest's
    directory list (pure metadata — no filesystem access)."""
    parts = m["partitions"]
    if partition_values is not None:
        # order-preserving dedup: a repeated partition value (e.g. a list
        # collected from a source column) must not scan a directory twice
        keys = list(dict.fromkeys(_partition_dir(v) for v in partition_values))
        dirs = [d for k in keys for d in parts.get(k, [])]
    else:
        dirs = [d for ds in parts.values() for d in ds]
    if prune is not None:
        col, lo, hi = prune
        stats = m.get("stats", {})
        kept = []
        for d in dirs:
            rng = stats.get(d, {}).get(col)
            if rng is None or rng[0] is None or rng[1] is None:
                kept.append(d)  # no stats -> cannot skip safely
            elif not (rng[1] < lo or rng[0] > hi):
                kept.append(d)
        dirs = kept
    return dirs


# The table state a commit carries forward from its parent unless it
# changes it, with the default every reader's .get assumes. Per-op fields
# (key_cols, replaced, applies, staged_id, branch_base, ...) describe one
# commit and are never carried.
_CARRIED = {
    "partition_col": None,
    "schema": None,
    "partitions": None,
    "legacy_dirs": [],
    "legacy_specs": [],
    "tombstones": {},
    "tombstone_key_cols": None,
    "stats_cols": [],
    "stats": {},
    "file_stats": {},
    "bloom_cols": [],
    "blooms": {},
    "tokens": [],
}


def _replayed(m: dict, commit_token: str | None) -> bool:
    """True when ``commit_token`` already committed (exactly-once replay)."""
    return commit_token is not None and commit_token in m.get("tokens", [])


def _successor(
    latest: dict, op: str, commit_token: str | None = None, **fields
) -> dict:
    """The manifest after ``latest``: its table state carried forward,
    ``commit_token`` pushed into the bounded replay window, then the
    fields this ``op`` sets."""
    m = {"version": latest["version"] + 1, "parent": latest["version"], "op": op}
    m.update((k, latest.get(k, d)) for k, d in _CARRIED.items())
    if commit_token is not None:
        m["tokens"] = (list(m["tokens"]) + [commit_token])[-_TOKEN_WINDOW:]
    m.update(fields)
    return m


def _live_metadata(live: set[str], *sources: dict) -> dict:
    """stats, blooms and file_stats of ``sources`` (a later source wins)
    restricted to the ``live`` data dirs."""
    return {
        "stats": {
            d: s
            for src in sources
            for d, s in src.get("stats", {}).items()
            if d in live
        },
        "blooms": {
            d: b
            for src in sources
            for d, b in src.get("blooms", {}).items()
            if d in live
        },
        "file_stats": {
            rel: st
            for src in sources
            for rel, st in src.get("file_stats", {}).items()
            if os.path.dirname(rel) in live
        },
    }


def _dirs_of(m: dict) -> Iterator[str]:
    """The data dirs a manifest (or staged record) keeps live: its
    partitions' dirs, its tombstone dirs (a retained snapshot's
    merge-on-read needs them) and its legacy (retired-spec) dirs, which
    are live data until a full compact migrates them."""
    for ds in m["partitions"].values():
        yield from ds
    for ds in m.get("tombstones", {}).values():
        yield from ds
    yield from m.get("legacy_dirs", [])


def _commit_id(rel_dir: str) -> str:
    """The <commit> of a relative data/<commit>/... dir."""
    return rel_dir.split(os.sep)[1]


def _listed(mdir: str, prefix: str = "v") -> Iterator[tuple[str, dict]]:
    """(name, record) of every committed manifest (``v*.json``) or, with
    ``prefix="staged-"``, every staged record in one manifest dir, by
    name. Temp files of a crashed write (``*.tmp-*``) are skipped: only
    fsync'd, replaced files count."""
    for name in sorted(os.listdir(mdir)):
        if name.startswith(prefix) and name.endswith(".json"):
            with open(os.path.join(mdir, name)) as fh:
                yield name, json.load(fh)


def _append_fold(
    latest: dict, batch: dict, commit_token: str | None, retry: str, **fields
) -> dict:
    """append and publish_staged: the manifest that rebases a ``batch``
    (its ``schema`` and ``partition_col`` as written, the ``added`` dirs
    and their skipping metadata) onto ``latest``, concatenating its dirs
    and metadata. Appends commute with every commit except a schema or
    partition-spec change, which would make the batch's files read NULL
    or sit under the old spec: those raise CommitConflict. Tombstones
    carry forward untouched: they are scoped to the dirs they were
    committed against, and an append never replaces a dir."""
    if latest["schema"] != batch["schema"]:
        raise CommitConflict(
            "schema changed since this batch was written; its files were "
            f"validated against the old schema — {retry}"
        )
    if latest["partition_col"] != batch["partition_col"]:
        raise CommitConflict(
            "partitioning evolved since this batch was written "
            f"({batch['partition_col']!r} -> {latest['partition_col']!r}); "
            f"its files are laid out under the old spec — {retry}"
        )
    parts = {k: list(v) for k, v in latest["partitions"].items()}
    for key, dirs in batch["added"].items():
        parts.setdefault(key, []).extend(dirs)
    return _successor(
        latest,
        "append",
        commit_token,
        partitions=parts,
        touched=sorted(batch["added"]),
        added=batch["added"],
        **{
            k: {**latest.get(k, {}), **batch.get(k, {})}
            for k in ("stats", "blooms", "file_stats")
        },
        **fields,
    )


class _WriterLock:
    """Exclusive advisory lock for the commit critical section.

    flock is per-open-file-description, so it serializes both threads
    and processes on one host, and the OS releases it on crash (no
    stale-lock sweeps). On an object store this becomes the catalog's
    conditional-put / CAS; the rebase logic above it is unchanged."""

    def __init__(self, root: str):
        self._path = os.path.join(root, "_commit.lock")
        self._fd: int | None = None

    def __enter__(self):
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        self._fd = os.open(self._path, os.O_CREAT | os.O_RDWR, 0o644)
        fcntl.flock(self._fd, fcntl.LOCK_EX)
        return self

    def __exit__(self, *exc):
        assert self._fd is not None
        fcntl.flock(self._fd, fcntl.LOCK_UN)
        os.close(self._fd)
        self._fd = None


class CommitCoordinator:
    """Pluggable serialization seam for the commit critical section —
    the ONLY two primitives the rebase logic needs, so a real catalog
    can slot in without touching any mutator:

    - ``exclusive(table)``: a context manager bounding the critical
      section (re-read latest, rebase, publish). The local impl holds
      an flock for the whole section; a CAS-based catalog may return a
      NO-OP context, because correctness is carried by the second
      primitive:
    - ``swap_or_conflict(table, manifest, expected_version)``: publish
      ``manifest`` iff the table's current version still equals
      ``expected_version``, else raise CommitConflict. This is
      compare-and-swap shaped on purpose — on an object store it maps
      to a conditional-put / catalog CAS verbatim, and every mutator
      already handles CommitConflict by reclaiming its staged data
      dirs and asking the caller to re-run against the new snapshot.
    """

    def exclusive(self, table: "VersionedTable"):
        raise NotImplementedError

    def swap_or_conflict(
        self, table: "VersionedTable", manifest: dict, expected_version: int
    ) -> int:
        raise NotImplementedError


class LocalFlockCoordinator(CommitCoordinator):
    """Single-host coordinator: exclusivity is an flock on the table
    root (threads + processes on one box; crash-released by the OS),
    and the swap is trivially conditional because the lock is held
    across the read-rebase-publish section. The expected-version check
    still runs — it is the invariant a distributed coordinator relies
    on, so the fake/CAS test path and the flock path exercise the SAME
    contract."""

    def exclusive(self, table: "VersionedTable"):
        return _WriterLock(table.root)

    def swap_or_conflict(
        self, table: "VersionedTable", manifest: dict, expected_version: int
    ) -> int:
        current = table.version()
        if current != expected_version:
            raise CommitConflict(
                f"commit raced: expected v{expected_version}, table is at "
                f"v{current} — re-run against the current snapshot"
            )
        return table._commit(manifest)


class VersionedTable:
    """Handle to one snapshot-isolated table rooted at ``root``.

    ``ref`` selects a NAMED REF (default ``"main"``): a branch handle
    has its own manifest chain + pointer under
    ``_manifests/branches/<name>/`` but shares the table's immutable
    data directory, so EVERY operation (read/append/merge/delete_keys/
    compact/WAP/time travel) works on a branch unchanged — commits on a
    branch are invisible to main until ``merge_branch`` publishes them.
    Branch handles come from ``create_branch``/``branch``; retention
    (vacuum) and ref management live on main."""

    def __init__(
        self,
        root: str,
        coordinator: CommitCoordinator | None = None,
        ref: str = "main",
    ):
        self.root = root
        self.ref = ref
        if ref == "main":
            self._manifest_dir = os.path.join(root, "_manifests")
        else:
            if not re.fullmatch(r"[A-Za-z_][A-Za-z_0-9.-]*", ref):
                raise ValueError(f"bad branch name {ref!r}")
            self._manifest_dir = os.path.join(
                root, "_manifests", "branches", ref
            )
        self._pointer = os.path.join(self._manifest_dir, "_current")
        if ref == "main":
            # main's pointer predates refs: keep its historical location
            self._pointer = os.path.join(root, "_current")
        self.coordinator = coordinator or LocalFlockCoordinator()

    def _commits_between(self, base: int, latest: int) -> list[dict]:
        """The commit manifests (base, latest], oldest first — the
        history an optimistic writer rebases across.

        A concurrent vacuum() (which can run between a writer's base
        _read_manifest() and its commit section) may have dropped
        manifests in this range; that surfaces as CommitConflict — the
        caller re-runs against the current snapshot — never as a raw
        FileNotFoundError mid-rebase. Retention contract: vacuum
        keep_last must cover in-flight writers' base versions (see
        vacuum())."""
        try:
            return [
                self._read_manifest(v) for v in range(base + 1, latest + 1)
            ]
        except (FileNotFoundError, ValueError) as e:
            raise CommitConflict(
                f"base snapshot v{base} history was vacuumed while this "
                "commit was in flight — re-run against the current "
                f"snapshot ({e})"
            ) from e

    # -- metadata ------------------------------------------------------------

    def exists(self) -> bool:
        return os.path.isfile(self._pointer)

    def version(self) -> int:
        return self._read_manifest()["version"] if self.exists() else 0

    def schema(self, at_version: int | None = None) -> StructType:
        """The table schema of the current snapshot (or, with
        ``at_version``, any retained older one) — the public accessor
        consumers use to declare a readStream schema or validate a
        batch, without reaching into manifest internals."""
        return StructType.fromJson(
            json.loads(self._read_manifest(at_version)["schema"])
        )

    def partition_col(self) -> str:
        """The table's partition column — a table-level property fixed
        at write_initial (the public accessor the SQL DML front-end and
        other planners use without reaching into manifest internals)."""
        return self._read_manifest()["partition_col"]

    def commit_info(self, version: int) -> dict:
        """Public metadata of ONE commit: ``{version, parent, op,
        touched, added}`` where ``added`` maps partition value -> the
        relative data dirs that commit introduced. This is the
        incremental-consumer surface (streaming sources enumerate new
        commits' directories from it at O(delta) cost) — a stable copy,
        not a handle into manifest internals."""
        m = self._read_manifest(version)
        return {
            "version": m["version"],
            "parent": m.get("parent", m["version"] - 1),
            "op": m.get("op", "unknown"),
            "touched": list(m.get("touched", [])),
            "added": {k: list(v) for k, v in m.get("added", {}).items()},
        }

    def _read_manifest(self, at_version: int | None = None) -> dict:
        if at_version is None:
            with open(self._pointer) as fh:
                name = fh.read().strip()
        else:
            name = f"v{at_version:06d}.json"
            if not os.path.isfile(os.path.join(self._manifest_dir, name)):
                raise ValueError(
                    f"snapshot v{at_version} does not exist (or was "
                    f"vacuumed) under {self.root}"
                )
        with open(os.path.join(self._manifest_dir, name)) as fh:
            return json.load(fh)

    def _commit(self, manifest: dict) -> int:
        """Write the manifest file, then atomically swap the pointer."""
        tablefs.makedirs(self._manifest_dir, "manifest.mkdir")
        version = manifest["version"]
        name = f"v{version:06d}.json"
        tablefs.write_atomic(
            os.path.join(self._manifest_dir, name),
            json.dumps(manifest),
            "manifest.write",
        )
        # THE commit point (atomic)
        tablefs.write_atomic(self._pointer, name, "pointer.replace")
        return version

    # -- data ----------------------------------------------------------------

    def _discard_commit_dir(self, commit_dir: str) -> None:
        """Reclaim a just-written data/<commit>/ directory whose commit
        will never land (CommitConflict, or a token-replay no-op that
        wrote a redundant copy). No manifest references it — the
        original writer's rule ('never delete what a manifest lists')
        is vacuous here, and without this sweep every conflicted retry
        would permanently leak a full rewrite of its touched
        partitions with no GC path (vacuum only reclaims dirs dropped
        manifests reference)."""
        tablefs.rmtree(commit_dir, "data.discard", ignore_errors=True)

    def _swap_or_reclaim(
        self, commit_dir: str, expected_version: int, manifest: dict
    ) -> int:
        """Publish through the coordinator; if the swap loses (a CAS
        coordinator can conflict at publish time even after a clean
        rebase), reclaim the staged commit dir before surfacing the
        conflict."""
        try:
            return self.coordinator.swap_or_conflict(
                self, manifest, expected_version
            )
        except CommitConflict:
            self._discard_commit_dir(commit_dir)
            raise

    def _write_commit_data(
        self,
        df: DataFrame,
        partition_col: str,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        cluster: bool = True,
    ) -> tuple[dict[str, list[str]], dict, str]:
        """Write df as immutable files under data/<commit>/ and return
        ({partition value (as dir string): [relative data dirs]},
        the skipping metadata ``{"stats": {relative data dir: {stat col:
        [min, max]}}, "blooms": {relative data dir: {bloom col: [16 int64
        filter words]}}, "file_stats": {relative file: {stat col: [[min,
        max] per row group]}}}``, the absolute commit directory — so
        conflict paths can reclaim it).

        With ``stats_cols``, per-directory min/max for those columns is
        FOLDED FROM THE PARQUET FOOTERS of the files just written (the
        r10 'same numbers come for free from the footers' note, now the
        implementation): the footer row-group stats already feed the
        FILE-grain prune tier, so the directory tier folded from the
        identical metadata skips a directory exactly when every one of
        its files would be skipped — same superset guarantee, zero data
        re-read. A column missing usable footer stats in ANY file of a
        directory is dropped for that directory ("cannot skip", the
        superset rule). Stats describe the FILES JUST WRITTEN, never a
        re-evaluation of the input plan: a non-re-execution-stable df
        (sample(), rand(), a landing dir racing new files) could
        otherwise persist one evaluation while the stats describe
        another, and a too-narrow recorded range would make pruning
        silently lose rows. Stats columns must be numeric or string
        (JSON-total-ordered the same way both sides of the prune
        compare). ``bloom_cols`` still needs one bounded read-back
        aggregate over the written files (bloom words are data, not
        footer metadata) — but that job now computes ONLY the bloom
        words; commits without bloom columns schedule no read-back job
        at all (r10 guide §1.2 step 1: the commit path ran up to three
        Spark actions; stats-only commits now run exactly the write)."""
        commit_id = uuid.uuid4().hex[:12]
        commit_dir = os.path.join(self.root, "data", commit_id)
        staged = df.withColumn(_PART_DIR, F.col(partition_col))
        if cluster:
            # r10 (guide §6.2 / Iceberg hash distribution-mode): cluster
            # rows by their target directory BEFORE partitionBy, so each
            # dir gets one file per COMMIT_FILE_ROWS rows instead
            # of one per upstream task (an o4 merge wrote 30 dirs x 12
            # tasks = ~360 files of ~70 rows: 360 driver-side commit
            # renames, an executor-side footer pass, and 360 open costs
            # on every later read; clustered it writes 30). Same
            # exchange the compact() path always paid; results are
            # file-layout-only. maxRecordsPerFile rolls oversized dirs
            # into multiple files, so a skewed partition value costs one
            # WRITE task (the documented hash-mode trade) but never one
            # giant file. Measured trade at bench scale: write-heavy
            # keys win big (o4 8.4->6.3 s; 360->30 files per merge),
            # many-tiny-commit loops pay a small per-commit exchange
            # (a33 ~+0.7 s) — accepted, because at 100 TB every commit
            # is multi-task and unclustered writes fragment
            # tasks x dirs. Callers whose input partitioning IS the
            # declared file layout (a39's range-sliced staging) pass
            # cluster=False.
            staged = staged.repartition(F.col(_PART_DIR))
        tablefs.step("data.write")
        (
            staged.write.option("maxRecordsPerFile", COMMIT_FILE_ROWS)
            .partitionBy(_PART_DIR)
            .parquet(commit_dir)
        )
        out: dict[str, list[str]] = {}
        prefix = f"{_PART_DIR}="
        for name in os.listdir(commit_dir):
            if name.startswith(prefix):
                out[name[len(prefix):]] = [
                    os.path.join("data", commit_id, name)
                ]
        if _LEGACY_KEY in out:
            self._discard_commit_dir(commit_dir)
            raise ValueError(
                f"partition value {_LEGACY_KEY!r} is reserved (it keys "
                "retired-spec tombstones in the manifest)"
            )
        stats: dict[str, dict[str, list]] = {}
        blooms: dict[str, dict[str, list[int]]] = {}
        fstats: dict[str, dict[str, list[list]]] = {}
        if stats_cols and out:
            # ROW-GROUP-GRAIN skipping metadata (the Iceberg file-stats
            # idea one level below directories): per written FILE, every
            # row group's [min, max] for each stats column, read from
            # the parquet FOOTERS (pyarrow; a metadata-only pass over
            # the commit's own files — never a data scan; driver-side
            # below the file-count threshold, executor-side above).
            # read(prune=...) uses it to skip individual files a
            # directory-grain range cannot disprove; Spark's native
            # parquet pushdown then skips row groups INSIDE kept files
            # from the same footer stats.
            by_dir = {
                d: [
                    os.path.join(d, f)
                    for f in sorted(
                        os.listdir(os.path.join(self.root, d))
                    )
                    if f.endswith(".parquet")
                ]
                for ds in out.values()
                for d in ds
            }
            fstats = self._footer_rowgroup_stats(
                df.sparkSession,
                [f for fs in by_dir.values() for f in fs],
                list(stats_cols),
            )
            # DIRECTORY-grain min/max folded from the same footers: a
            # column is recorded only when EVERY file of the directory
            # carries it (else "cannot skip"). Values are footer min/max
            # (int/float/str — the same values and the same comparison
            # the file tier already prunes with).
            for d, fs in by_dir.items():
                rec: dict[str, list] = {}
                for c in stats_cols:
                    lo = hi = None
                    ok = bool(fs)
                    for rel in fs:
                        rgs = fstats.get(rel, {}).get(c)
                        if not rgs:
                            ok = False
                            break
                        for rlo, rhi in rgs:
                            if lo is None or rlo < lo:
                                lo = rlo
                            if hi is None or rhi > hi:
                                hi = rhi
                    if ok:
                        rec[c] = [lo, hi]
                if rec:
                    stats[d] = rec
        if bloom_cols and out:
            # an all-empty batch writes no files at all
            aggs = []
            for ci, c in enumerate(bloom_cols):
                for w in range(_BLOOM_WORDS):
                    aggs.append(
                        F.bit_or(F.expr(_bloom_word_expr(c, w))).alias(
                            f"_bf_{ci}_{w}"
                        )
                    )
            # read the LEAF dirs directly (no hive partition discovery)
            # and group by the partition column stored inside the files:
            # directory-name type inference would re-type string values
            # like '01' -> 1 and the read-back key would silently miss
            # the manifest key, dropping stats (superset-safe but blind)
            written = df.sparkSession.read.parquet(
                *[os.path.join(commit_dir, f"{prefix}{k}") for k in out]
            )
            # bounded: one row per partition value of THIS commit's batch
            for r in written.groupBy(partition_col).agg(*aggs).collect():
                key = _partition_dir(r[partition_col])
                for d in out.get(key, []):
                    blooms[d] = {
                        c: [
                            int(r[f"_bf_{ci}_{w}"] or 0)
                            for w in range(_BLOOM_WORDS)
                        ]
                        for ci, c in enumerate(bloom_cols)
                    }
        meta = {"stats": stats, "blooms": blooms, "file_stats": fstats}
        return out, meta, commit_dir

    def _write_table_data(
        self, df: DataFrame, m: dict
    ) -> tuple[dict[str, list[str]], dict, str]:
        """``_write_commit_data`` under the table's layout and skipping
        properties as manifest ``m`` records them."""
        return self._write_commit_data(
            df,
            m["partition_col"],
            m.get("stats_cols") or None,
            m.get("bloom_cols") or None,
        )

    def _footer_rowgroup_stats(
        self, spark: SparkSession, rel_files: list[str], cols: list[str]
    ) -> dict[str, dict[str, list[list]]]:
        """{rel_file: {col: [[lo, hi] per row group]}} from parquet
        footers. A column is recorded only when EVERY row group has
        usable min/max of a JSON-safe type (int/float/str) — missing
        entries mean "cannot skip", the superset rule.

        Below ``FOOTER_DRIVER_FILES`` the footers
        are read DRIVER-SIDE (pyarrow metadata-only — the
        row_count_estimate adjudication: a bench-scale commit writes a
        handful of files and a Spark job costs more than the reads);
        above it, in parallel on executors (a 100 TB commit writes
        thousands of files and the driver must not serialize on them)."""
        if not rel_files:
            return {}
        root = self.root

        def _footers(it):
            import pyarrow.parquet as pq

            for rel in it:
                md = pq.ParquetFile(os.path.join(root, rel)).metadata
                idx = {
                    md.schema.column(i).path: i
                    for i in range(md.num_columns)
                }
                rec: dict[str, list[list]] = {}
                for c in cols:
                    i = idx.get(c)
                    if i is None:
                        continue
                    rgs = []
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(i).statistics
                        if (
                            st is None
                            or not st.has_min_max
                            or not isinstance(st.min, (int, float, str))
                            or not isinstance(st.max, (int, float, str))
                        ):
                            rgs = None
                            break
                        rgs.append([st.min, st.max])
                    if rgs:
                        rec[c] = rgs
                yield rel, rec

        if len(rel_files) <= FOOTER_DRIVER_FILES:
            return dict(_footers(rel_files))
        rdd = spark.sparkContext.parallelize(
            rel_files, max(1, min(len(rel_files), 32))
        )
        # bounded: O(files in this commit) small stat records
        return dict(rdd.mapPartitions(_footers).collect())

    def write_initial(
        self,
        df: DataFrame,
        partition_col: str,
        stats_cols: list[str] | None = None,
        commit_token: str | None = None,
        bloom_cols: list[str] | None = None,
        cluster: bool = True,
    ) -> int:
        """Create the table (snapshot v1) from df. ``stats_cols`` and
        ``bloom_cols`` are TABLE properties: every later commit
        (append/merge/compact) maintains per-directory min/max stats
        resp. Bloom filters for these columns (feeding read(prune=...)
        range skipping and read(point=...) membership skipping).
        ``commit_token`` seeds the exactly-once token window so a
        replayed create-batch (streaming retry of batch 0) is
        recognized by the append/merge that follows."""
        _check_partition_type(df.schema, partition_col)
        return self._create(
            df, partition_col, commit_token, stats_cols, bloom_cols, cluster
        )

    def _create(
        self,
        df: DataFrame,
        partition_col: str,
        commit_token: str | None,
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        cluster: bool = True,
        **fields,
    ) -> int:
        """Commit snapshot v1 from df (write_initial, and merge() on a
        missing table); a creator that loses the race reclaims its data
        and raises CommitConflict."""
        parts, meta, commit_dir = self._write_commit_data(
            df, partition_col, stats_cols, bloom_cols, cluster=cluster
        )
        with self.coordinator.exclusive(self):
            if self.exists():
                self._discard_commit_dir(commit_dir)
                raise CommitConflict(
                    f"table already exists at {self.root}; another "
                    "creator won the race — re-run against the current "
                    "snapshot (append/merge)"
                )
            return self._swap_or_reclaim(
                commit_dir,
                0,
                {
                    "version": 1,
                    "parent": 0,
                    "op": "create",
                    "partition_col": partition_col,
                    "schema": df.schema.json(),
                    "partitions": parts,
                    "touched": sorted(parts),
                    "added": parts,
                    "stats_cols": list(stats_cols or []),
                    "bloom_cols": list(bloom_cols or []),
                    "tokens": [commit_token] if commit_token else [],
                    **meta,
                    **fields,
                },
            )

    def data_dirs(
        self,
        partition_values: list | None = None,
        prune: tuple | None = None,
        at_version: int | None = None,
        point: tuple | None = None,
        spark: SparkSession | None = None,
    ) -> list[str]:
        """The relative data directories a read with these filters would
        scan. ``prune=(col, lo, hi)`` drops every directory whose
        recorded [min, max] for a stats column cannot intersect
        [lo, hi]; ``point=(col, value)`` additionally drops every
        directory whose BLOOM FILTER proves the value absent (requires
        ``spark`` for the probe-hash job). Directories without
        stats/blooms for the column are KEPT (skipping must never lose
        rows — the Iceberg rule). Exposed so tests and planners can
        observe skipping without reading data."""
        m = self._read_manifest(at_version)
        dirs = _filter_dirs(m, partition_values, prune)
        if point is not None:
            if spark is None:
                raise ValueError("data_dirs(point=...) needs spark")
            dirs = self._bloom_filter_dirs(spark, m, dirs, point)
        return dirs

    @staticmethod
    def _file_prune(
        m: dict, dirs: list[str], prune: tuple | None
    ) -> tuple[list[str], list[str], list[str]]:
        """(dirs scanned whole, file paths kept, file paths skipped):
        row-group-grain skipping from manifest footer stats. A dir with
        no recorded files scans whole; a file without stats for the
        prune column is kept (the superset rule)."""
        fstats = m.get("file_stats", {})
        if prune is None or not fstats:
            return dirs, [], []
        col, lo, hi = prune
        by_dir: dict[str, list[str]] = {}
        for rel in fstats:
            by_dir.setdefault(os.path.dirname(rel), []).append(rel)
        whole: list[str] = []
        kept: list[str] = []
        skipped: list[str] = []
        for d in dirs:
            files = by_dir.get(d)
            if not files:
                whole.append(d)
                continue
            for rel in sorted(files):
                rgs = fstats[rel].get(col)
                if rgs is None or any(
                    not (r[1] < lo or r[0] > hi) for r in rgs
                ):
                    kept.append(rel)
                else:
                    skipped.append(rel)
        return whole, kept, skipped

    def scan_paths(
        self,
        partition_values: list | None = None,
        prune: tuple | None = None,
        at_version: int | None = None,
    ) -> dict:
        """Observability for ROW-GROUP-GRAIN skipping (metadata-only):
        ``{"dirs": [dirs scanned whole], "files": [kept file paths],
        "skipped_files": [...]}`` for a read with these filters — what
        tests assert skipping on without reading data."""
        m = self._read_manifest(at_version)
        dirs = _filter_dirs(m, partition_values, prune)
        legacy = list(m.get("legacy_dirs", []))
        if legacy and prune is not None:
            col, lo, hi = prune
            stats = m.get("stats", {})
            legacy = [
                d
                for d in legacy
                if (rng := stats.get(d, {}).get(col)) is None
                or rng[0] is None
                or rng[1] is None
                or not (rng[1] < lo or rng[0] > hi)
            ]
        whole, kept, skipped = self._file_prune(m, dirs + legacy, prune)
        return {"dirs": whole, "files": kept, "skipped_files": skipped}

    def _bloom_positions(self, spark: SparkSession, value, dtype) -> list[int]:
        """The k bit positions a value probes — ONE 1-row JVM job using
        the SAME xxhash64(value-as-column-type, seed) expressions the
        write side folded, so probe and filter are bit-identical."""
        cols = [
            F.pmod(
                F.xxhash64(F.lit(value).cast(dtype), F.lit(seed)),
                F.lit(_BLOOM_BITS),
            ).alias(f"h{seed}")
            for seed in range(_BLOOM_K)
        ]
        # bounded: 1-row probe-hash job
        r = spark.range(1).select(*cols).collect()[0]
        return [int(r[f"h{seed}"]) for seed in range(_BLOOM_K)]

    def _bloom_filter_dirs(
        self, spark: SparkSession, m: dict, dirs: list[str], point: tuple
    ) -> list[str]:
        col, value = point
        if value is None:
            raise ValueError("point lookup value must be non-null")
        blooms = m.get("blooms", {})
        if not blooms:
            return dirs
        schema = StructType.fromJson(json.loads(m["schema"]))
        dtype = {f.name: f.dataType for f in schema.fields}[col]
        pos = self._bloom_positions(spark, value, dtype)
        return [
            d
            for d in dirs
            if _bloom_admits(blooms.get(d, {}).get(col), pos)
        ]

    def read(
        self,
        spark: SparkSession,
        partition_values: list | None = None,
        at_version: int | None = None,
        prune: tuple | None = None,
        point: tuple | None = None,
        include_legacy: bool = True,
    ) -> DataFrame:
        """A DataFrame pinned to the CURRENT snapshot — or, with
        ``at_version``, TIME TRAVEL to any retained older snapshot
        (immutable data files make every un-vacuumed version fully
        readable forever). Optionally pruned to the given partition
        values via manifest metadata — no directory listing of untouched
        partitions ever happens — and/or to ``prune=(col, lo, hi)``
        range-skipped directories via manifest min/max stats, and/or to
        ``point=(col, value)`` Bloom-membership-skipped directories
        (the high-cardinality point-lookup case min/max is blind to).
        Pruning is a superset guarantee: callers still apply their row
        filter; the manifest only bounds which directories must be
        scanned.

        The manifest schema is passed EXPLICITLY to the reader: files
        committed before a schema evolution lack the added columns and
        surface them as NULL (the parquet missing-column contract), and
        no footer schema inference runs at all.

        MERGE-ON-READ deletes: partitions with live tombstones
        (delete_keys commits) reconstruct by anti-joining the scan
        against the partition's tombstone (key, applies-dir) pairs —
        delta-sized, broadcast by AQE — so a row is suppressed iff a
        tombstone names BOTH its key and the directory it was read
        from. Tables without tombstones take the plain-scan fast path
        unchanged (zero overhead)."""
        # resolve the manifest ONCE: dirs and schema must come from the
        # same snapshot even if a commit lands between the two uses
        m = self._read_manifest(at_version)
        dirs = _filter_dirs(m, partition_values, prune)
        # LEGACY dirs (written under a retired partition spec, Iceberg-
        # style spec-per-manifest): unprunable by CURRENT-spec partition
        # values (their layout doesn't encode them), so every read scans
        # them and applies a row-level partition filter instead; per-dir
        # stats/bloom skipping still applies (those are spec-independent).
        # include_legacy=False is the internal merge/partial-compact
        # path: legacy rows stay in place, suppressed by tombstones.
        legacy = list(m.get("legacy_dirs", [])) if include_legacy else []
        if legacy and prune is not None:
            col, lo, hi = prune
            stats = m.get("stats", {})
            legacy = [
                d
                for d in legacy
                if (rng := stats.get(d, {}).get(col)) is None
                or rng[0] is None
                or rng[1] is None
                or not (rng[1] < lo or rng[0] > hi)
            ]
        if point is not None:
            # Bloom membership skipping: directories whose filter proves
            # the value absent never reach the scan. Same superset
            # guarantee as prune — callers still apply their row filter
            # (a bloom admit can be a false positive, never a false
            # negative).
            dirs = self._bloom_filter_dirs(spark, m, dirs, point)
            if legacy:
                legacy = self._bloom_filter_dirs(spark, m, legacy, point)
        schema = StructType.fromJson(json.loads(m["schema"]))
        if not dirs and not legacy:
            return spark.createDataFrame([], schema)
        # ROW-GROUP-GRAIN file skipping: directories that survived the
        # dir-grain prune may still contain individual files whose every
        # row group's [min, max] misses the range — drop them from the
        # scan via manifest footer stats (no storage IO at plan time);
        # Spark's parquet pushdown prunes row groups inside kept files.
        whole, kept_files, _skipped = self._file_prune(
            m, dirs + legacy, prune
        )
        paths = [os.path.join(self.root, d) for d in whole] + [
            os.path.join(self.root, p) for p in kept_files
        ]
        if not paths:
            return spark.createDataFrame([], schema)
        raw = spark.read.schema(schema).parquet(*paths)
        if legacy and partition_values is not None:
            # the current-spec dirs are exact; legacy rows need the
            # row-level filter (pushed to the parquet scan)
            raw = raw.filter(
                F.col(m["partition_col"]).isin(list(partition_values))
            )
        tomb_dirs = self._tombstone_dirs(m, partition_values)
        if not tomb_dirs:
            return raw.select(*[f.name for f in schema.fields])
        return self._apply_tombstones(
            spark, raw, schema, tomb_dirs, m["tombstone_key_cols"]
        )

    @staticmethod
    def _rel_dir_col():
        """The manifest-relative data dir (data/<commit>/__part=<val>)
        of each row's source file — path-component slicing of
        input_file_name, scheme-agnostic. input_file_name is a URI:
        Hadoop percent-encodes the path (a space becomes %20, the '%'
        of an escaped directory name %25) and leaves '+' as is, so the
        slice is decoded with '+' protected — url_decode alone would
        turn it into a space."""
        parts = F.split(F.input_file_name(), "/")
        rel = F.concat_ws("/", F.slice(parts, -4, 3))
        return F.url_decode(F.replace(rel, F.lit("+"), F.lit("%2B")))

    def _tombstone_dirs(
        self, m: dict, partition_values: list | None
    ) -> list[str]:
        tombs = m.get("tombstones", {})
        if not tombs:
            return []
        if partition_values is not None:
            keys = list(
                dict.fromkeys(_partition_dir(v) for v in partition_values)
            )
            # "__legacy__" tombstones suppress rows in retired-spec dirs,
            # which every read scans regardless of pruning — always load
            # them (dedup: a dir can be listed under a partition key AND
            # __legacy__ when it covers both current and legacy dirs)
            return list(
                dict.fromkeys(
                    [d for k in keys for d in tombs.get(k, [])]
                    + list(tombs.get(_LEGACY_KEY, []))
                )
            )
        return list(
            dict.fromkeys(d for ds in tombs.values() for d in ds)
        )

    def _tombstone_schema(
        self, table_schema: StructType, key_cols: list[str]
    ) -> StructType:
        from pyspark.sql.types import ArrayType as T_ArrayType
        from pyspark.sql.types import StringType, StructField

        by_name = {f.name: f for f in table_schema.fields}
        return StructType(
            [by_name[k] for k in key_cols]
            + [
                StructField(
                    _TOMB_DIR_COL, T_ArrayType(StringType(), False), False
                )
            ]
        )

    def _apply_tombstones(
        self,
        spark: SparkSession,
        raw: DataFrame,
        schema: StructType,
        tomb_dirs: list[str],
        key_cols: list[str],
    ) -> DataFrame:
        tomb = spark.read.schema(
            self._tombstone_schema(schema, key_cols)
        ).parquet(*[os.path.join(self.root, d) for d in tomb_dirs])
        # collision-proof internal column: a table legitimately named a
        # column `_vt_dir` must not have it overwritten by the source-dir
        # tag (read_changes raises on its reserved columns; here the tag
        # is internal-only, so renaming is strictly less restrictive)
        names = {f.name for f in schema.fields}
        dcol = "_vt_dir"
        while dcol in names:
            dcol = "_" + dcol
        data = raw.withColumn(dcol, self._rel_dir_col()).alias("d")
        t = tomb.alias("t")
        cond = F.array_contains(
            F.col(f"t.{_TOMB_DIR_COL}"), F.col(f"d.{dcol}")
        )
        for k in key_cols:
            cond = cond & (F.col(f"d.{k}") == F.col(f"t.{k}"))
        return data.join(t, cond, "left_anti").select(
            *[f.name for f in schema.fields]
        )

    # -- HISTORY ---------------------------------------------------------------

    def history(self, spark: SparkSession) -> DataFrame:
        """Snapshot lineage as a DataFrame (the DESCRIBE HISTORY analog):
        one row per RETAINED manifest — version, parent, op, partition
        key counts, directories added, whether the commit carried an
        exactly-once token. Metadata-only (reads manifests, never data
        files); vacuumed versions no longer appear."""
        rows = [
            (
                m["version"],
                m.get("parent", m["version"] - 1),
                m.get("op", "unknown"),
                len(m.get("touched", [])),
                len(m["partitions"]),
                sum(len(ds) for ds in m.get("added", {}).values()),
                bool(m.get("tokens")),
            )
            for _, m in (_listed(self._manifest_dir) if self.exists() else ())
        ]
        return spark.createDataFrame(
            rows,
            "version long, parent long, op string, n_touched int, "
            "n_partitions int, n_added_dirs int, has_token boolean",
        )

    # -- CHANGE FEED -----------------------------------------------------------

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Row-level CHANGE FEED between two snapshots at O(delta files)
        cost — never a scan of the corpus. For every commit in
        ``(from_version, to_version]`` the manifest already records which
        directories it added and (for merges) replaced, so:

        - append/create commits stream their added directories as
          ``insert`` rows, reading exactly the batch's files;
        - merge commits full-outer-join the added vs replaced
          directories of the TOUCHED partitions on the recorded merge
          keys, emitting ``insert`` / ``delete`` /
          ``update_preimage`` / ``update_postimage`` rows (survivor rows
          — rewritten byte-identical by the partition rewrite — compare
          equal and drop out, so the feed is the LOGICAL delta, not the
          physical rewrite);
        - delete_keys commits (deletion vectors) stream the PRE-IMAGES
          of the tombstoned rows as ``delete`` rows, reading only the
          covered directories + the delta-sized tombstones;
        - compact commits are layout-only and contribute nothing
          (tombstone folding removes no LOGICAL rows — the deletes
          already streamed when their tombstones committed).

        Output: the to_version schema (older commits' missing evolved
        columns surface NULL) plus ``_change_type`` and
        ``_commit_version``. Pre-images require the replaced directories
        to still exist, i.e. snapshots >= from_version not vacuumed.

        This is what turns a downstream incremental consumer from
        O(corpus) (the a17 full-snapshot diff) into O(churn): at 100 TB
        a monthly delta touches the month's partitions and the feed
        reads only those directories.
        """
        from functools import reduce as _reduce

        if to_version is None:
            to_version = self.version()
        if from_version > to_version:
            raise ValueError(
                f"from_version {from_version} > to_version {to_version}"
            )
        final = self._read_manifest(to_version)
        final_schema = StructType.fromJson(json.loads(final["schema"]))
        reserved = {"_change_type", "_commit_version"}
        if reserved & {f.name for f in final_schema.fields}:
            raise ValueError(
                "table columns collide with change-feed metadata columns "
                f"{sorted(reserved)}"
            )

        def _read_dirs(
            dirs: list[str], schema: StructType, with_dir: bool = False
        ) -> DataFrame:
            # mixed-spec manifests can list a dir under several record
            # keys (e.g. per-partition applies that each include the
            # legacy set) — a duplicate path would double-read rows
            dirs = list(dict.fromkeys(dirs))
            if not dirs:
                out = spark.createDataFrame([], schema)
                return (
                    out.withColumn("_vt_dir", F.lit(None).cast("string"))
                    if with_dir
                    else out
                )
            gone = [
                d
                for d in dirs
                if not os.path.isdir(os.path.join(self.root, d))
            ]
            if gone:
                raise ValueError(
                    f"change-feed data dirs {gone[:3]}{'...' if len(gone) > 3 else ''} "
                    "no longer exist — the range's snapshots were vacuumed; "
                    "retain snapshots >= from_version while consumers need "
                    "the feed (vacuum keep_last)"
                )
            out = spark.read.schema(schema).parquet(
                *[os.path.join(self.root, d) for d in dirs]
            )
            if with_dir:
                return out.withColumn("_vt_dir", self._rel_dir_col())
            return out.select(*[f.name for f in schema.fields])

        def _read_tombstones(
            dirs: list[str], schema: StructType, key_cols: list[str]
        ) -> DataFrame:
            return _read_dirs(
                dirs, self._tombstone_schema(schema, key_cols)
            )

        def _minus_tombstones(
            data: DataFrame, tomb: DataFrame, key_cols: list[str]
        ) -> DataFrame:
            """Suppress rows a tombstone names (key AND source dir) —
            `data` must carry _vt_dir."""
            d, t = data.alias("d"), tomb.alias("t")
            cond = F.array_contains(
                F.col(f"t.{_TOMB_DIR_COL}"), F.col("d._vt_dir")
            )
            for k in key_cols:
                cond = cond & (F.col(f"d.{k}") == F.col(f"t.{k}"))
            return d.join(t, cond, "left_anti")

        def _finalize(df: DataFrame, change: str, v: int) -> DataFrame:
            have = set(df.columns)
            cols = [
                F.col(f.name)
                if f.name in have
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in final_schema.fields
            ]
            return df.select(
                *cols,
                F.lit(change).alias("_change_type"),
                F.lit(v).cast("long").alias("_commit_version"),
            )

        pieces: list[DataFrame] = []
        for v in range(from_version + 1, to_version + 1):
            c = self._read_manifest(v)
            op = c.get("op")
            if op is None:
                raise ValueError(
                    f"snapshot v{v} predates change-feed metadata "
                    "(committed before round 8); the feed needs commits "
                    "carrying op/added/replaced records"
                )
            if op == "compact":
                continue
            if op == "evolve_partition":
                # spec evolution is metadata-only: every row keeps its
                # content, only the layout contract for FUTURE commits
                # changes — zero logical delta
                continue
            if op == "branch_merge":
                # a ref merge lands N branch commits' worth of state in
                # one metadata swap; reconstructing its row-level delta
                # would need the branch's own commit records, which
                # drop_branch may have reclaimed. Fail loudly: consumers
                # either drain the feed before the merge or re-baseline
                # at it (the Delta-CDF re-baseline contract).
                raise ValueError(
                    f"change feed cannot span branch_merge commit v{v} "
                    f"(branch {c.get('branch')!r}); re-baseline the "
                    "consumer at that version or consume the branch's "
                    "feed before merging"
                )
            cschema = StructType.fromJson(json.loads(c["schema"]))
            names = [f.name for f in cschema.fields]
            added = [d for ds in c.get("added", {}).values() for d in ds]
            new = _read_dirs(added, cschema)
            if op in ("create", "append"):
                pieces.append(_finalize(new, "insert", v))
                continue
            if op == "delete":
                # deletion-vector commit: the delta is the PRE-IMAGES of
                # the rows the new tombstones suppress — read only the
                # covered dirs, drop rows PRIOR tombstones had already
                # deleted (they were not live, so they don't re-delete),
                # then keep exactly the rows the new tombstones name.
                kc = c["key_cols"]
                covered = _read_dirs(
                    [d for ds in c.get("applies", {}).values() for d in ds],
                    cschema,
                    with_dir=True,
                )
                prior_dirs = [
                    d
                    for ds in c.get("prior_tombstones", {}).values()
                    for d in ds
                ]
                if prior_dirs:
                    covered = _minus_tombstones(
                        covered,
                        _read_tombstones(prior_dirs, cschema, kc),
                        kc,
                    )
                new_tomb = _read_tombstones(
                    [
                        d
                        for ds in c.get("tombstones_added", {}).values()
                        for d in ds
                    ],
                    cschema,
                    kc,
                ).alias("t")
                d = covered.alias("d")
                cond = F.array_contains(
                    F.col(f"t.{_TOMB_DIR_COL}"), F.col("d._vt_dir")
                )
                for k in kc:
                    cond = cond & (F.col(f"d.{k}") == F.col(f"t.{k}"))
                deleted = d.join(new_tomb, cond, "left_semi").select(*names)
                pieces.append(_finalize(deleted, "delete", v))
                continue
            # merge: logical delta = added vs replaced on the merge keys
            key_cols = c["key_cols"]
            pschema = StructType.fromJson(
                json.loads(c.get("parent_schema", c["schema"]))
            )
            replaced_tombs = [
                d
                for ds in c.get("replaced_tombstones", {}).values()
                for d in ds
            ]
            old = _read_dirs(
                [d for ds in c.get("replaced", {}).values() for d in ds],
                pschema,
                with_dir=bool(replaced_tombs),
            )
            if replaced_tombs:
                # rows already deleted by folded tombstones were not
                # live at the parent snapshot: they are not pre-images
                tkc = c["tombstone_key_cols"]
                old = _minus_tombstones(
                    old,
                    _read_tombstones(replaced_tombs, pschema, tkc),
                    tkc,
                ).select(*[f.name for f in pschema.fields])
            lta = c.get("legacy_tombstones_added", [])
            if lta:
                # mixed-spec merge: the keys it replaced/deleted may have
                # had LEGACY copies, suppressed by the commit's legacy
                # tombstones — those copies are pre-images too. Read the
                # covered legacy dirs, drop rows prior legacy tombstones
                # had already deleted, keep exactly the rows the new
                # tombstones name.
                kc_l = c["key_cols"]
                lcov = _read_dirs(
                    c.get("legacy_covered", []), pschema, with_dir=True
                )
                lprior = c.get("legacy_prior_tombstones", [])
                if lprior:
                    lcov = _minus_tombstones(
                        lcov,
                        _read_tombstones(lprior, pschema, kc_l),
                        kc_l,
                    )
                lt = _read_tombstones(lta, pschema, kc_l).alias("t")
                d = lcov.alias("d")
                lcond = F.array_contains(
                    F.col(f"t.{_TOMB_DIR_COL}"), F.col("d._vt_dir")
                )
                for k in kc_l:
                    lcond = lcond & (F.col(f"d.{k}") == F.col(f"t.{k}"))
                old = old.unionByName(
                    d.join(lt, lcond, "left_semi").select(
                        *[f.name for f in pschema.fields]
                    )
                )
            for f in cschema.fields:  # align pre-evolution pre-images
                if f.name not in old.columns:
                    old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
            o = old.select(*names).withColumn("_po", F.lit(1)).alias("o")
            n = new.withColumn("_pn", F.lit(1)).alias("n")
            cond = _reduce(
                lambda a, b: a & b,
                [F.col(f"o.{k}") == F.col(f"n.{k}") for k in key_cols],
            )
            j = o.join(n, cond, "full")
            sel_old = [F.col(f"o.{x}").alias(x) for x in names]
            sel_new = [F.col(f"n.{x}").alias(x) for x in names]
            nonkey = [x for x in names if x not in key_cols]
            if nonkey:
                same = F.struct(
                    *[F.col(f"o.{x}") for x in nonkey]
                ).eqNullSafe(F.struct(*[F.col(f"n.{x}") for x in nonkey]))
            else:
                same = F.lit(True)
            both = F.col("o._po").isNotNull() & F.col("n._pn").isNotNull()
            pieces.append(
                _finalize(
                    j.filter(F.col("o._po").isNull()).select(*sel_new),
                    "insert", v,
                )
            )
            pieces.append(
                _finalize(
                    j.filter(F.col("n._pn").isNull()).select(*sel_old),
                    "delete", v,
                )
            )
            changed = j.filter(both & ~same)
            pieces.append(
                _finalize(changed.select(*sel_old), "update_preimage", v)
            )
            pieces.append(
                _finalize(changed.select(*sel_new), "update_postimage", v)
            )
        if not pieces:
            empty = StructType(
                final_schema.fields
                + StructType.fromDDL(
                    "_change_type string, _commit_version long"
                ).fields
            )
            return spark.createDataFrame([], empty)
        return _reduce(DataFrame.unionByName, pieces)

    # -- APPEND ----------------------------------------------------------------

    def append(self, df: DataFrame, commit_token: str | None = None) -> int:
        """APPEND-ONLY commit: write df as new immutable directories and
        CONCATENATE them onto the partition lists — no existing
        directory is read or rewritten, so the commit cost is exactly
        the batch's bytes. This is the fact-table ingestion shape
        (immutable event logs) merge() cannot give you: merge rewrites
        every touched partition, append touches nothing. Because each
        append's directories hold only that batch's rows, per-directory
        min/max stats stay RANGE-DISJOINT for naturally clustered
        columns (event time, monotone ids) — which is what makes
        read(prune=...) skip whole batches. Same exactly-once
        ``commit_token`` contract as merge().

        Concurrency: appends NEVER conflict. The data write happens
        lock-free against a pre-read snapshot; the commit section
        re-reads the latest manifest under the writer lock and
        concatenates onto it, whatever landed meanwhile (appends
        commute with appends, merges and compactions). The only rebase
        refusal is a concurrent schema change, which would make this
        batch's files silently NULL-read — that raises CommitConflict.
        """
        m = self._append_base(df, "append()", commit_token)
        if _replayed(m, commit_token):
            return m["version"]
        new_parts, meta, commit_dir = self._write_table_data(df, m)
        with self.coordinator.exclusive(self):
            latest = self._read_manifest()
            if _replayed(latest, commit_token):
                # replayed batch raced us between the pre-check and the
                # lock: its data landed under the ORIGINAL commit's dirs;
                # ours are a redundant copy no manifest will ever list
                self._discard_commit_dir(commit_dir)
                return latest["version"]
            batch = {
                "schema": m["schema"],
                "partition_col": m["partition_col"],
                "added": new_parts,
                **meta,
            }
            try:
                manifest = _append_fold(latest, batch, commit_token, "re-run")
            except CommitConflict:
                self._discard_commit_dir(commit_dir)
                raise
            return self._swap_or_reclaim(
                commit_dir, latest["version"], manifest
            )

    def _append_base(
        self, df: DataFrame, what: str, commit_token: str | None = None
    ) -> dict:
        """The current manifest an append-shaped batch is checked and
        laid out against (a replayed token skips the check). Appends are
        schema-strict: a silently mismatched batch would write files the
        manifest schema reads back as NULLs."""
        if not self.exists():
            raise ValueError(
                f"{what} needs an existing table; use write_initial() first"
            )
        m = self._read_manifest()
        if _replayed(m, commit_token):
            return m
        want = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(m["schema"])).fields
        }
        got = {f.name: f.dataType for f in df.schema.fields}
        if got != want:
            raise ValueError(
                f"{what} batch schema does not match the table schema "
                f"(want {sorted(want)}, got {sorted(got)}); appends are "
                "schema-strict — evolve via merge(allow_schema_evolution"
                "=True) first"
            )
        return m

    # -- WRITE-AUDIT-PUBLISH (staged commits) ----------------------------------

    def _staged_path(self, staged_id: str) -> str:
        return os.path.join(
            self._manifest_dir, f"staged-{staged_id}.json"
        )

    def _read_staged(self, staged_id: str) -> dict:
        path = self._staged_path(staged_id)
        if not os.path.isfile(path):
            raise ValueError(
                f"no staged commit {staged_id!r} under {self.root} "
                "(already published or discarded?)"
            )
        with open(path) as fh:
            return json.load(fh)

    def stage_append(self, df: DataFrame) -> str:
        """WRITE-AUDIT-PUBLISH, stage phase: write the batch's immutable
        data files AND a staged manifest, but do NOT move the pointer —
        the batch is INVISIBLE to every reader until ``publish_staged``
        swaps it in, and reclaimable without trace via
        ``discard_staged`` if the audit fails. This is the Iceberg WAP /
        Delta branch-commit governance contract: a pipeline lands its
        output, a validation job queries exactly that output
        (``read_staged``), and only a passing audit makes it part of
        the table. vacuum() treats staged data dirs as referenced, so a
        long audit never races retention.

        Returns the staged id. The batch is schema-validated against
        the CURRENT schema now (fail fast at stage time); publish
        re-checks under the commit lock, exactly like a plain append's
        rebase. At 100 TB the stage is the expensive part (the batch's
        bytes) and runs lock-free; audit cost is the validation
        queries; publish is one metadata CAS."""
        m = self._append_base(df, "stage_append()")
        new_parts, meta, _commit_dir = self._write_table_data(df, m)
        staged_id = uuid.uuid4().hex[:12]
        staged = {
            "staged_id": staged_id,
            "parent": m["version"],
            "op": "append",
            "partition_col": m["partition_col"],
            "schema": m["schema"],
            # staged manifests carry ONLY the batch's dirs under
            # "partitions": that is what read_staged audits and what
            # vacuum protects via _dirs_of
            "partitions": new_parts,
            "touched": sorted(new_parts),
            "added": new_parts,
            **meta,
        }
        tablefs.write_atomic(
            self._staged_path(staged_id), json.dumps(staged), "staged.write"
        )
        return staged_id

    def read_staged(self, spark: SparkSession, staged_id: str) -> DataFrame:
        """The AUDIT surface: exactly the staged batch's rows (never the
        rest of the table), read through the staged manifest."""
        staged = self._read_staged(staged_id)
        schema = StructType.fromJson(json.loads(staged["schema"]))
        dirs = [d for ds in staged["partitions"].values() for d in ds]
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *[os.path.join(self.root, d) for d in dirs]
        ).select(*[f.name for f in schema.fields])

    def publish_staged(
        self, staged_id: str, commit_token: str | None = None
    ) -> int:
        """WRITE-AUDIT-PUBLISH, publish phase: fold the staged batch
        into the current snapshot as a normal append commit (one
        metadata CAS — no data moves) and drop the staging record. The
        rebase rules are a plain append's: commits that landed since
        the stage concatenate freely; a concurrent schema change
        conflicts (the staged files were validated against the old
        schema). Downstream incremental consumers see an ordinary
        append (change feed: insert rows; file stream: new dirs) — WAP
        changes WHEN a batch becomes visible, never what it looks
        like."""
        staged = self._read_staged(staged_id)
        with self.coordinator.exclusive(self):
            latest = self._read_manifest()
            if _replayed(latest, commit_token):
                # replayed publish: the token already committed. Two
                # cases share this path — (a) a RE-staged redundant copy
                # (fresh dirs, safe to reclaim) and (b) the ORIGINAL
                # staged record orphaned by a crash between the pointer
                # swap and the record removal, whose dirs ARE the live
                # table data. Only reclaim dirs no retained committed
                # manifest references.
                self._drop_staged(staged_id, staged)
                return latest["version"]
            version = self.coordinator.swap_or_conflict(
                self,
                _append_fold(
                    latest,
                    staged,
                    commit_token,
                    "discard_staged() and re-stage the batch",
                    staged_id=staged_id,
                ),
                latest["version"],
            )
            tablefs.remove(self._staged_path(staged_id), "staged.remove")
            return version

    def _live_commit_ids(self, exclude_branch: str | None = None) -> set[str]:
        """data/<commit> ids referenced by ANY retained committed
        manifest — main's chain AND every branch's (minus
        ``exclude_branch``) — data, tombstone, or legacy dirs.
        Metadata-only scan; used to refuse reclaiming dirs a crashed
        publish made live and to scope drop_branch reclamation."""
        return {
            _commit_id(d)
            for mdir in self._ref_dirs(exclude_branch)
            for _, m in _listed(mdir)
            for d in _dirs_of(m)
        }

    def _ref_dirs(self, exclude_branch: str | None = None) -> list[str]:
        """The manifest dirs of main and of every branch but
        ``exclude_branch``, main first."""
        return [os.path.join(self.root, "_manifests")] + [
            os.path.join(self._branches_root(), b)
            for b in self.list_branches()
            if b != exclude_branch
        ]

    def _drop_staged(self, staged_id: str, staged: dict) -> None:
        """Remove a staging record, then reclaim its data dirs that no
        retained committed manifest references. The record goes FIRST so
        a concurrent vacuum cannot re-read it mid-delete and 'protect'
        half-deleted dirs."""
        commits = {_commit_id(d) for d in _dirs_of(staged)}
        dead = commits - self._live_commit_ids()
        tablefs.remove(self._staged_path(staged_id), "staged.remove")
        for cid in sorted(dead):
            tablefs.rmtree(
                os.path.join(self.root, "data", cid),
                "data.discard",
                ignore_errors=True,
            )

    def discard_staged(self, staged_id: str) -> None:
        """Failed-audit exit: reclaim the staged batch's data dirs and
        staging record. The table is untouched — no reader ever saw the
        batch, no manifest ever referenced it.

        CRASH SAFETY: publish_staged swaps the pointer, THEN removes the
        staging record; a crash between the two leaves a staged-*.json
        whose dirs are live table data. Discarding such an orphan must
        drop only the record — deleting the dirs would corrupt the
        current snapshot — so any dir already referenced by a retained
        committed manifest is left alone. Runs under the coordinator's
        exclusive section so it cannot interleave with a concurrent
        publish of the same staged id."""
        with self.coordinator.exclusive(self):
            self._drop_staged(staged_id, self._read_staged(staged_id))

    # -- NAMED BRANCHES (refs over the WAP machinery) --------------------------

    def _branches_root(self) -> str:
        return os.path.join(self.root, "_manifests", "branches")

    def _require_main(self, what: str) -> None:
        if self.ref != "main":
            raise ValueError(
                f"{what} runs on the main ref, not branch {self.ref!r} "
                "(branch-of-branch and branch-side retention are "
                "unsupported)"
            )

    def list_branches(self) -> list[str]:
        broot = self._branches_root()
        if not os.path.isdir(broot):
            return []
        return sorted(
            b
            for b in os.listdir(broot)
            if os.path.isdir(os.path.join(broot, b))
        )

    def branch(self, name: str) -> "VersionedTable":
        """Handle to an EXISTING branch — a full VersionedTable: every
        operation works, commits are invisible to main until merged."""
        bt = VersionedTable(self.root, self.coordinator, ref=name)
        if not bt.exists():
            raise ValueError(
                f"no branch {name!r} under {self.root} "
                f"(have {self.list_branches()})"
            )
        return bt

    def create_branch(self, name: str) -> "VersionedTable":
        """Fork a NAMED BRANCH at the current snapshot (the multi-commit
        write-audit-publish generalization of stage_append, Iceberg/
        Nessie-style): a metadata-only ref copy — zero data moves — on
        which arbitrary commits (append/merge/delete/compact) accumulate
        invisibly to main readers. An audit queries the branch like any
        table; ``merge_branch`` publishes the branch's partition state
        onto main with OCC conflict detection; ``drop_branch`` discards
        it and reclaims branch-only data. vacuum treats branch-referenced
        dirs as live, so a long-lived branch never races retention.

        At 100 TB this is the staging-environment contract: a whole
        pipeline (N commits) lands on a branch, validation reads the
        branch, and main advances by ONE atomic ref merge or not at
        all."""
        self._require_main("create_branch()")
        if not self.exists():
            raise ValueError("create_branch() needs an existing table")
        bt = VersionedTable(self.root, self.coordinator, ref=name)
        with self.coordinator.exclusive(self):
            if bt.exists():
                raise ValueError(f"branch {name!r} already exists")
            m = self._read_manifest()
            if m.get("legacy_dirs"):
                raise ValueError(
                    "create_branch() on a mixed-spec table is "
                    "unsupported — run a full compact() (spec "
                    "migration) first"
                )
            tablefs.makedirs(bt._manifest_dir, "branch.mkdir")
            tablefs.write_atomic(
                os.path.join(bt._manifest_dir, "_base"),
                str(m["version"]),
                "branch.base",
            )
            bt._commit(dict(m))  # branch head starts as a copy of main's
        return bt

    def _branch_base(self, bt: "VersionedTable") -> int:
        with open(os.path.join(bt._manifest_dir, "_base")) as fh:
            return int(fh.read().strip())

    def merge_branch(self, name: str, drop: bool = False) -> int:
        """Publish a branch's accumulated state onto main as ONE commit
        (op ``branch_merge``) — the partition-level fast-forward:
        every partition the branch touched since its base takes the
        branch head's dirs + tombstones; untouched partitions keep
        main's. OCC conflict detection: a main commit since the base
        touching any branch-touched partition conflicts (rebase by
        re-branching); schema evolution composes additively from both
        sides. ``drop=True`` drops the branch after a successful merge.

        Cost: pure metadata — the branch's data files are already in
        place; main's pointer swap makes them visible atomically."""
        self._require_main("merge_branch()")
        bt = self.branch(name)
        with self.coordinator.exclusive(self):
            latest = self._read_manifest()
            bh = bt._read_manifest()
            base = self._branch_base(bt)
            if bh["version"] == base and latest["version"] == base:
                return latest["version"]  # nothing to merge
            if latest.get("legacy_dirs") or bh.get("legacy_dirs"):
                raise CommitConflict(
                    "merge_branch() does not compose with partition-"
                    "spec evolution — migrate (full compact) first"
                )
            if latest["partition_col"] != bh["partition_col"]:
                raise CommitConflict(
                    "partition column diverged between main and branch "
                    f"{name!r}; re-branch and re-apply"
                )
            branch_commits = bt._commits_between(base, bh["version"])
            touched: set[str] = set()
            for c in branch_commits:
                touched.update(c.get("touched", []))
            if not touched and bh["schema"] == latest["schema"]:
                return latest["version"]  # branch changed nothing
            if latest["version"] != base:
                base_schema = self._read_manifest(base)["schema"]
                for c in self._commits_between(base, latest["version"]):
                    inter = touched & set(
                        c.get("touched", list(latest["partitions"]))
                    )
                    if inter:
                        raise CommitConflict(
                            f"main commit v{c['version']} touched "
                            f"partitions {sorted(inter)} branch "
                            f"{name!r} also changed; re-branch from the "
                            "current snapshot and re-apply"
                        )
                schema_json = latest["schema"]
                if bh["schema"] != base_schema:
                    # both sides may have evolved additively; union or
                    # conflict (type changes raise inside _evolve_schema)
                    schema_json = _evolve_schema(
                        StructType.fromJson(json.loads(latest["schema"])),
                        StructType.fromJson(json.loads(bh["schema"])),
                    ).json()
            else:
                schema_json = bh["schema"]
            lkc = latest.get("tombstone_key_cols")
            bkc = bh.get("tombstone_key_cols")
            if lkc is not None and bkc is not None and list(lkc) != list(
                bkc
            ):
                raise CommitConflict(
                    f"tombstone key columns diverged (main {lkc}, "
                    f"branch {bkc}); compact one side first"
                )
            parts = dict(latest["partitions"])
            tombs = {
                k: list(v)
                for k, v in latest.get("tombstones", {}).items()
            }
            added: dict[str, list[str]] = {}
            for k in touched:
                bds = bh["partitions"].get(k)
                old = set(parts.get(k, []))
                if bds is None:
                    parts.pop(k, None)
                else:
                    parts[k] = list(bds)
                    added[k] = [d for d in bds if d not in old]
                btk = bh.get("tombstones", {}).get(k)
                if btk:
                    tombs[k] = list(btk)
                else:
                    tombs.pop(k, None)
            live = {d for ds in parts.values() for d in ds}
            version = self.coordinator.swap_or_conflict(
                self,
                _successor(
                    latest,
                    "branch_merge",
                    branch=name,
                    branch_base=base,
                    branch_head=bh["version"],
                    schema=schema_json,
                    partitions=parts,
                    touched=sorted(touched),
                    added=added,
                    tombstones=tombs,
                    tombstone_key_cols=(bkc if bkc is not None else lkc)
                    if tombs
                    else None,
                    **_live_metadata(live, latest, bh),
                ),
                latest["version"],
            )
        if drop:
            self.drop_branch(name)
        return version

    def drop_branch(self, name: str) -> list[str]:
        """Delete a branch ref and reclaim data commit dirs ONLY it
        references (main's chain, staged batches and other branches
        keep theirs — the discard_staged safety rule, ref-wide).
        Returns the reclaimed commit ids."""
        self._require_main("drop_branch()")
        bt = self.branch(name)
        with self.coordinator.exclusive(self):
            branch_ids = {
                _commit_id(d)
                for _, m in _listed(bt._manifest_dir)
                for d in _dirs_of(m)
            }
            live = self._live_commit_ids(exclude_branch=name)
            # also protect pending staged batches' dirs
            live.update(
                _commit_id(d)
                for _, st in _listed(self._manifest_dir, "staged-")
                for d in _dirs_of(st)
            )
            # remove the ref FIRST (crash between rmtrees leaves only
            # orphaned-but-unreferenced dirs, never a dangling ref)
            tablefs.rmtree(bt._manifest_dir, "branch.remove", ignore_errors=True)
            reclaimed = sorted(branch_ids - live)
            for cid in reclaimed:
                tablefs.rmtree(
                    os.path.join(self.root, "data", cid),
                    "data.discard",
                    ignore_errors=True,
                )
            return reclaimed

    # -- PARTITION EVOLUTION ---------------------------------------------------

    def evolve_partitioning(self, new_partition_col: str) -> int:
        """Change the table's partition column for NEW data without
        rewriting a byte — Iceberg-style spec evolution (the r9
        verdict's missing №3). The commit is metadata-only: every
        existing data dir moves to the LEGACY set (readable forever,
        unprunable by the new spec since its layout doesn't encode it),
        the current-spec partition map resets, and subsequent
        append/merge commits lay data out under the new column.

        Read/merge/delete semantics on a mixed-spec table:
        - read() scans current-spec dirs (pruned as usual) plus all
          legacy dirs (row-filtered by the requested partition values;
          per-dir stats/bloom skipping still applies to legacy dirs);
        - merge() rewrites only touched CURRENT-spec partitions and
          suppresses replaced/deleted keys' legacy copies with O(churn)
          merge-on-read tombstones — never a legacy scan;
        - delete_keys() tombstones cover legacy dirs too;
        - a FULL compact() migrates: reads everything through the
          merged view and rewrites it under the current spec, clearing
          the legacy set and all tombstones.

        Existing tombstones re-key under the always-loaded ``__legacy__``
        bucket (their covered dirs just became legacy; partition-pruned
        lookups under the NEW spec would otherwise miss them).

        Any in-flight writer whose base predates the evolution raises
        CommitConflict at commit time (its layout targets the old spec).
        At 100 TB this is the operation that turns "repartitioning a
        table means a full rewrite" into "new data lands under the new
        spec now; migration happens at the next scheduled compaction"."""
        self._require_main("evolve_partitioning()")
        if not self.exists():
            raise ValueError("evolve_partitioning() needs an existing table")
        with self.coordinator.exclusive(self):
            m = self._read_manifest()
            schema = StructType.fromJson(json.loads(m["schema"]))
            names = {f.name for f in schema.fields}
            if new_partition_col not in names:
                raise ValueError(
                    f"new partition column {new_partition_col!r} is not "
                    f"in the table schema {sorted(names)}"
                )
            if new_partition_col == m["partition_col"]:
                raise ValueError(
                    f"table is already partitioned by {new_partition_col!r}"
                )
            _check_partition_type(schema, new_partition_col)
            legacy_dirs = list(m.get("legacy_dirs", []))
            legacy_dirs.extend(
                d for ds in m["partitions"].values() for d in ds
            )
            old_tombs = m.get("tombstones", {})
            legacy_tombs = list(
                dict.fromkeys(d for ds in old_tombs.values() for d in ds)
            )
            return self.coordinator.swap_or_conflict(
                self,
                _successor(
                    m,
                    "evolve_partition",
                    partition_col=new_partition_col,
                    partitions={},
                    touched=[],
                    added={},
                    legacy_dirs=legacy_dirs,
                    legacy_specs=list(m.get("legacy_specs", []))
                    + [m["partition_col"]],
                    tombstones=(
                        {_LEGACY_KEY: legacy_tombs} if legacy_tombs else {}
                    ),
                ),
                m["version"],
            )

    # -- MERGE ---------------------------------------------------------------

    def merge(
        self,
        delta: DataFrame,
        key_cols: list[str],
        partition_col: str,
        deletes: DataFrame | None = None,
        commit_token: str | None = None,
        allow_schema_evolution: bool = False,
    ) -> int:
        """MERGE delta into a new snapshot: replaced/deleted keys drop
        out, new keys insert, delete-wins on overlap (upsert.py
        semantics). Touched partitions get NEW data directories; the new
        manifest carries untouched partitions' entries forward
        unchanged, so the commit's write cost is O(touched), and every
        pre-existing reader keeps its pinned snapshot intact.

        CONTRACT (same as upsert.py): partition_col must be a pure
        function of key_cols, or an updated key's old row survives in a
        partition the merge never reads.

        ``commit_token`` makes the merge EXACTLY-ONCE under replay: the
        manifest remembers the last _TOKEN_WINDOW applied tokens, and a
        merge whose token was already applied is a no-op returning the
        current version — the foreachBatch retry contract without
        relying on content idempotence (streaming/sinks threads
        '<stream>:<batch_id>' through here).
        """
        if not self.exists():
            if deletes is not None:
                delta = delta.join(
                    deletes.select(*key_cols), key_cols, "left_anti"
                )
            return self._create(
                delta, partition_col, commit_token, key_cols=list(key_cols)
            )
        spark = delta.sparkSession
        m = self._read_manifest()
        if _replayed(m, commit_token):
            return m["version"]  # replayed batch: already applied
        if partition_col != m["partition_col"]:
            raise ValueError(
                f"merge(partition_col={partition_col!r}) does not match "
                f"the table's current partition column "
                f"{m['partition_col']!r} (evolve_partitioning() changes "
                "it; merges always lay data out under the current spec)"
            )
        if allow_schema_evolution:
            # evolution is strictly ADDITIVE: the delta may introduce new
            # columns, but must still carry every existing one — a
            # unionByName NULL-fill of a dropped/typo'd old column would
            # silently corrupt upserted rows
            have = {f.name for f in delta.schema.fields}
            missing = [
                f.name
                for f in StructType.fromJson(json.loads(m["schema"])).fields
                if f.name not in have
            ]
            if missing:
                raise ValueError(
                    "merge(allow_schema_evolution=True) delta is missing "
                    f"existing table columns {missing}; evolution only "
                    "permits ADDING columns, never dropping them"
                )
        legacy_dirs = list(m.get("legacy_dirs", []))
        if legacy_dirs:
            prior_kc = m.get("tombstone_key_cols")
            if prior_kc is not None and list(prior_kc) != list(key_cols):
                raise ValueError(
                    f"table carries tombstones keyed by {prior_kc}; a "
                    f"merge keyed by {list(key_cols)} on a mixed-spec "
                    "table must suppress legacy copies with the same "
                    "keys — compact() first to fold everything in"
                )
        kp_cols = list(dict.fromkeys([*key_cols, partition_col]))
        tomb_src = delta.select(*kp_cols) if legacy_dirs else None
        drop_keys = delta.select(*key_cols)
        touched_src = delta.select(partition_col)
        if deletes is not None:
            drop_keys = drop_keys.unionByName(deletes.select(*key_cols))
            touched_src = touched_src.unionByName(
                deletes.select(partition_col)
            )
            if tomb_src is not None:
                tomb_src = tomb_src.unionByName(deletes.select(*kp_cols))
            delta = delta.join(
                deletes.select(*key_cols), key_cols, "left_anti"
            )
        # bounded: distinct touched partition values of the delta batch
        touched = [r[0] for r in touched_src.distinct().collect()]
        if not touched:
            return m["version"]
        schema_json = m["schema"]
        if allow_schema_evolution:
            schema_json = _evolve_schema(
                StructType.fromJson(json.loads(m["schema"])), delta.schema
            ).json()
        # survivors come from CURRENT-spec dirs only: legacy (retired-
        # spec) rows stay in place — replaced/deleted keys' legacy
        # copies are suppressed below with O(churn) tombstones, so a
        # merge never scans or rewrites the legacy set
        existing = self.read(
            spark, partition_values=touched, include_legacy=False
        )
        survivors = existing.join(drop_keys, key_cols, "left_anti")
        if allow_schema_evolution:
            # added columns surface as NULL on pre-evolution rows; the
            # write below persists the union schema
            merged = survivors.unionByName(delta, allowMissingColumns=True)
        else:
            merged = survivors.unionByName(delta)
        new_parts, meta, commit_dir = self._write_table_data(merged, m)
        ltomb_dirs: list[str] = []
        ltomb_commit_dir: str | None = None
        if tomb_src is not None:
            # mixed-spec table: suppress replaced/deleted keys' LEGACY
            # copies with merge-on-read tombstones — ONE row per key,
            # applies = the legacy dirs at base (identical arrays RLE-
            # collapse, so this is O(churn) bytes, never a legacy scan)
            ltomb = tomb_src.distinct().withColumn(
                _TOMB_DIR_COL,
                F.array(*[F.lit(d) for d in legacy_dirs]),
            )
            lparts, _meta, ltomb_commit_dir = self._write_commit_data(
                ltomb, partition_col
            )
            ltomb_dirs = [d for ds in lparts.values() for d in ds]

        def _discard_all():
            self._discard_commit_dir(commit_dir)
            if ltomb_commit_dir is not None:
                self._discard_commit_dir(ltomb_commit_dir)

        touched_keys = {_partition_dir(v) for v in touched}
        replaced = {
            k: list(m["partitions"][k])
            for k in touched_keys
            if k in m["partitions"]
        }
        with self.coordinator.exclusive(self):
            latest = self._read_manifest()
            if _replayed(latest, commit_token):
                _discard_all()
                return latest["version"]
            if latest["partition_col"] != m["partition_col"]:
                _discard_all()
                raise CommitConflict(
                    "partitioning evolved concurrently "
                    f"({m['partition_col']!r} -> "
                    f"{latest['partition_col']!r}); this merge's rewrite "
                    "is laid out under the old spec — re-run"
                )
            if ltomb_dirs:
                latest_kc = latest.get("tombstone_key_cols")
                if latest_kc is not None and list(latest_kc) != list(
                    key_cols
                ):
                    _discard_all()
                    raise CommitConflict(
                        f"a concurrent delete keyed by {latest_kc} "
                        f"landed first; this merge's legacy tombstones "
                        f"keyed by {list(key_cols)} cannot compose — "
                        "compact() and re-run"
                    )
            if latest["version"] != m["version"]:
                # rebase is sound only if no intervening commit CHANGED
                # our partitions' content: our rewrite of them is a
                # function of the base snapshot's content. A concurrent
                # COMPACT is content-preserving, so replacing its output
                # with our rewrite (derived from the equal base content)
                # stays correct — only appends/merges/creates conflict.
                try:
                    for c in self._commits_between(
                        m["version"], latest["version"]
                    ):
                        if c.get("op") == "compact":
                            continue
                        inter = touched_keys & set(
                            c.get("touched", list(latest["partitions"]))
                        )
                        if inter:
                            raise CommitConflict(
                                f"concurrent {c.get('op', 'commit')} "
                                f"v{c['version']} touched partitions "
                                f"{sorted(inter)} this merge also rewrites; "
                                "re-run the merge against the new snapshot"
                            )
                except CommitConflict:
                    _discard_all()
                    raise
                if latest["schema"] != m["schema"]:
                    # concurrent ADDITIVE evolution on disjoint
                    # partitions: final schema is the union; our files
                    # lack the concurrently-added columns and read NULL
                    schema_json = _evolve_schema(
                        StructType.fromJson(json.loads(latest["schema"])),
                        StructType.fromJson(json.loads(schema_json)),
                    ).json()
            parts = dict(latest["partitions"])
            for key in touched_keys:
                new_dirs = new_parts.get(key)
                if new_dirs is None:
                    # deletes emptied the partition — leaves the snapshot
                    parts.pop(key, None)
                else:
                    parts[key] = new_dirs
            live = {d for ds in parts.values() for d in ds} | set(
                latest.get("legacy_dirs", [])
            )
            old_tombs = latest.get("tombstones", {})
            # the rewrite read THROUGH the touched partitions'
            # tombstones, so the new files already lack those rows: fold
            # them (clear); untouched partitions' tombstones carry, and
            # __legacy__ tombstones ALWAYS carry (legacy dirs were not
            # rewritten). The folded set is recorded for the change
            # feed's pre-image reconstruction.
            tombs = {
                k: list(v)
                for k, v in old_tombs.items()
                if k not in touched_keys
            }
            if ltomb_dirs:
                tombs[_LEGACY_KEY] = list(
                    dict.fromkeys(tombs.get(_LEGACY_KEY, []) + ltomb_dirs)
                )
            try:
                return self.coordinator.swap_or_conflict(
                    self,
                    _successor(
                        latest,
                        "merge",
                        commit_token,
                        schema=schema_json,
                        partitions=parts,
                        touched=sorted(touched_keys),
                        added=new_parts,
                        replaced=replaced,
                        tombstones=tombs,
                        replaced_tombstones={
                            k: list(old_tombs[k])
                            for k in touched_keys
                            if k in old_tombs
                        },
                        # change-feed reconstruction of legacy pre-images
                        legacy_tombstones_added=ltomb_dirs,
                        legacy_covered=legacy_dirs,
                        legacy_prior_tombstones=list(
                            old_tombs.get(_LEGACY_KEY, [])
                        ),
                        tombstone_key_cols=(
                            list(key_cols)
                            if ltomb_dirs
                            else latest.get("tombstone_key_cols")
                        ),
                        key_cols=list(key_cols),
                        parent_schema=m["schema"],
                        **_live_metadata(live, latest, meta),
                    ),
                    latest["version"],
                )
            except CommitConflict:
                _discard_all()
                raise

    # -- DELETION VECTORS (merge-on-read deletes) -------------------------------

    def delete_keys(
        self,
        keys: DataFrame,
        key_cols: list[str],
        commit_token: str | None = None,
    ) -> int:
        """ROW-LEVEL DELETE without rewriting a single data file — the
        deletion-vector / merge-on-read answer to merge()'s
        copy-on-write: a 1-row delete in a 10 GB partition costs the
        tombstone's bytes, not 10 GB of IO. The commit writes the
        delete-key set as per-partition TOMBSTONE directories (one row
        per (key, data-dir-it-applies-to) pair — delta-sized: |keys in
        partition| x |dirs in partition|), and read() reconstructs by
        anti-joining covered directories against them. Compaction folds
        tombstones in (the rewrite reads through read(), so the new
        files simply lack the rows) and clears them; merge() on a
        touched partition does the same.

        ``keys`` must carry key_cols plus the table's partition column
        (the merge() contract: the partition is a pure function of the
        key, or the delete could miss the row's partition). Tombstones
        are scoped to the data directories that exist AT THE BASE
        SNAPSHOT: rows appended to the partition after this delete's
        base are untouched — which is why deletes COMMUTE with appends
        and with other deletes under optimistic rebase, and why an
        intervening merge/compact (which replaces the covered dirs)
        conflicts instead of silently no-op'ing against dead
        directories. Key columns must be non-null (equality-join
        semantics, same as merge). ``key_cols`` is a table-level
        property once the first tombstone lands: later deletes must use
        the same keys until compaction folds everything in.

        Exactly-once ``commit_token`` contract as merge()/append().
        At 100 TB this is the GDPR/right-to-be-forgotten and CDC-delete
        shape: O(churn) commit cost, rewrite deferred to the next
        scheduled compaction."""
        if not self.exists():
            raise ValueError("delete_keys() needs an existing table")
        spark = keys.sparkSession
        m = self._read_manifest()
        if _replayed(m, commit_token):
            return m["version"]
        pc = m["partition_col"]
        schema = StructType.fromJson(json.loads(m["schema"]))
        want = {f.name: f.dataType for f in schema.fields}
        got = {f.name: f.dataType for f in keys.schema.fields}
        missing = [c for c in [*key_cols, pc] if c not in got]
        if missing:
            raise ValueError(
                f"delete_keys() batch must carry key_cols + the "
                f"partition column; missing {missing}"
            )
        bad = [
            c
            for c in {*key_cols, pc}
            if c not in want or got[c] != want[c]
        ]
        if bad:
            raise ValueError(
                f"delete_keys() columns {bad} do not match the table "
                "schema (same name + type required — tombstones "
                "anti-join by equality)"
            )
        prior_kc = m.get("tombstone_key_cols")
        if prior_kc is not None and list(prior_kc) != list(key_cols):
            raise ValueError(
                f"table already carries tombstones keyed by {prior_kc}; "
                f"a delete keyed by {list(key_cols)} cannot compose — "
                "compact() first to fold the existing tombstones in"
            )
        key_batch = keys.select(
            *dict.fromkeys([*key_cols, pc])
        ).distinct()
        touched = [
            # bounded: distinct partition values of the delete batch
            r[0] for r in key_batch.select(pc).distinct().collect()
        ]
        legacy_dirs = list(m.get("legacy_dirs", []))
        touched_keys = {
            k
            for k in (_partition_dir(v) for v in touched)
            # keys in empty partitions: no-op — unless legacy dirs
            # exist (the key's row may live under a retired spec)
            if k in m["partitions"] or legacy_dirs
        }
        if not touched_keys:
            return m["version"]
        applies = {
            k: list(m["partitions"].get(k, [])) + legacy_dirs
            for k in touched_keys
        }
        # ONE tombstone row per key: the covered-dirs set rides as an
        # array column keyed by partition (a tiny broadcast), never as a
        # key x dirs row blowup — parquet RLE collapses the repeated
        # arrays, so tombstone bytes stay O(keys) no matter how
        # fragmented the partition's append history is.
        # The join key is the TYPED partition value (the collected
        # native values), never a string rendering: Spark's
        # cast-to-string and Python str() disagree on floats/decimals/
        # timestamps ('1.0E-7' vs '1e-07'), so a string-keyed join
        # would silently match nothing and make the delete a no-op.
        from pyspark.sql.types import ArrayType as T_ArrayType
        from pyspark.sql.types import StringType, StructField

        pc_type = next(f.dataType for f in schema.fields if f.name == pc)
        dirs_df = spark.createDataFrame(
            [
                (v, applies[k])
                for v in touched
                for k in (_partition_dir(v),)
                if k in applies
            ],
            StructType(
                [
                    StructField("__vt_pk", pc_type, True),
                    StructField(
                        _TOMB_DIR_COL,
                        T_ArrayType(StringType(), False),
                        False,
                    ),
                ]
            ),
        )
        tomb = key_batch.join(
            F.broadcast(dirs_df),
            F.col(pc).eqNullSafe(F.col("__vt_pk")),
        ).select(*dict.fromkeys([*key_cols, pc]), _TOMB_DIR_COL)
        new_tombs, _meta, commit_dir = self._write_commit_data(tomb, pc)
        with self.coordinator.exclusive(self):
            latest = self._read_manifest()
            if _replayed(latest, commit_token):
                self._discard_commit_dir(commit_dir)
                return latest["version"]
            if latest["version"] != m["version"]:
                try:
                    for c in self._commits_between(
                        m["version"], latest["version"]
                    ):
                        op = c.get("op")
                        inter = touched_keys & set(
                            c.get("touched", list(latest["partitions"]))
                        )
                        # appends add NEW dirs (out of scope by the
                        # applies-to contract) and deletes add disjoint
                        # tombstones — both commute. merge/compact
                        # REPLACED the dirs this tombstone targets: a
                        # rebase would anti-join dead paths, silently
                        # deleting nothing.
                        if inter and op not in ("append", "delete"):
                            raise CommitConflict(
                                f"concurrent {op or 'commit'} "
                                f"v{c['version']} rewrote partitions "
                                f"{sorted(inter)} this delete targets; "
                                "re-run delete_keys() against the new "
                                "snapshot"
                            )
                except CommitConflict:
                    self._discard_commit_dir(commit_dir)
                    raise
            if latest["partition_col"] != pc:
                self._discard_commit_dir(commit_dir)
                raise CommitConflict(
                    "partitioning evolved concurrently; this delete's "
                    "tombstones target the old spec's dirs — re-run"
                )
            latest_kc = latest.get("tombstone_key_cols")
            if latest_kc is not None and list(latest_kc) != list(key_cols):
                self._discard_commit_dir(commit_dir)
                raise CommitConflict(
                    f"a concurrent delete keyed by {latest_kc} landed "
                    f"first; this delete's keys {list(key_cols)} cannot "
                    "compose — compact() and re-run"
                )
            tombs = {
                k: list(v)
                for k, v in latest.get("tombstones", {}).items()
            }
            for k, ds in new_tombs.items():
                tombs.setdefault(k, []).extend(ds)
            if legacy_dirs:
                # these tombstone files also cover legacy dirs: list
                # them under the always-loaded, never-folded __legacy__
                # bucket too, so a later merge folding a touched
                # partition's entries cannot resurrect legacy rows
                flat = [d for ds in new_tombs.values() for d in ds]
                tombs[_LEGACY_KEY] = list(
                    dict.fromkeys(tombs.get(_LEGACY_KEY, []) + flat)
                )
            return self._swap_or_reclaim(
                commit_dir,
                latest["version"],
                _successor(
                    latest,
                    "delete",
                    commit_token,
                    touched=sorted(new_tombs),
                    added={},
                    tombstones=tombs,
                    tombstones_added=new_tombs,
                    tombstone_key_cols=list(key_cols),
                    # change-feed support: the data dirs this tombstone
                    # covers (as of base) and the tombstones that were
                    # ALREADY live on them (rows those deleted must not
                    # re-emit as deletes)
                    applies=applies,
                    prior_tombstones={
                        k: list(latest.get("tombstones", {}).get(k, []))
                        for k in [*touched_keys, _LEGACY_KEY]
                    },
                    key_cols=list(key_cols),
                ),
            )

    # -- layout maintenance ----------------------------------------------------

    def _n_files(self, rel_dirs: list[str]) -> int:
        return sum(
            1
            for d in rel_dirs
            for f in os.listdir(os.path.join(self.root, d))
            if f.endswith(".parquet")
        )

    def compact(
        self, spark: SparkSession, partition_values: list | None = None
    ) -> int:
        """Rewrite fragmented partitions (default: every partition whose
        data directories hold >1 parquet file — the small-files debt a
        wide-task merge write accumulates) into fresh single-file
        directories and commit the result as a new snapshot.
        Content-preserving by construction (same rows, new files); pinned
        readers of older snapshots are untouched; reclaim the superseded
        fragments with vacuum()."""
        m = self._read_manifest()
        parts = m["partitions"]
        legacy_dirs = list(m.get("legacy_dirs", []))
        # a FULL compact on a mixed-spec table is the spec MIGRATION:
        # every row (legacy included) rewrites under the current
        # partition column, clearing the legacy set and all tombstones —
        # "migrate at the next scheduled compaction", never an eager
        # rewrite at evolve time
        migrate = partition_values is None and bool(legacy_dirs)
        if partition_values is None:
            # fragmented layouts AND tombstoned partitions both qualify:
            # folding deletion vectors back into plain files is the
            # second half of compaction's job (merge-on-read debt)
            targets = [
                k
                for k, ds in parts.items()
                if self._n_files(ds) > 1
                or m.get("tombstones", {}).get(k)
            ]
            if migrate:
                targets = list(parts)
        else:
            targets = [
                _partition_dir(v)
                for v in partition_values
                if _partition_dir(v) in parts
            ]
        if not targets and not migrate:
            return m["version"]
        pc = m["partition_col"]
        if migrate:
            df = self.read(spark, at_version=m["version"]).repartition(
                F.col(pc)
            )
        else:
            # partial compact on a mixed-spec table defragments the
            # CURRENT-spec dirs only: reading legacy rows here would
            # duplicate them (their dirs stay live)
            df = self.read(
                spark,
                partition_values=targets,
                at_version=m["version"],
                include_legacy=False,
            ).repartition(F.col(pc))
        new_parts, meta, commit_dir = self._write_table_data(df, m)
        target_keys = set(targets)
        # snapshot the dirs THIS commit introduced before any rebase
        # concatenates foreign append dirs into new_parts
        added = {k: list(ds) for k, ds in new_parts.items()}
        with self.coordinator.exclusive(self):
            latest = self._read_manifest()
            if latest["version"] != m["version"]:
                # rebase: appends to a target key concatenate back onto
                # the compacted output (their rows are not in it);
                # another compact of the same key is a content-equal
                # rewrite of the same base (skip — its dirs orphan and
                # its manifest's vacuum releases them); a MERGE made our
                # rewrite stale, so it conflicts.
                extra: dict[str, list[str]] = {}
                try:
                    for c in self._commits_between(
                        m["version"], latest["version"]
                    ):
                        op = c.get("op")
                        if migrate and op not in ("append", "compact"):
                            # migration rewrote THROUGH the base's legacy
                            # dirs and clears every tombstone below: an
                            # intervening delete/merge whose tombstones
                            # cover those dirs would silently resurrect
                            raise CommitConflict(
                                f"concurrent {op or 'commit'} "
                                f"v{c['version']} landed during a spec "
                                "migration; re-run compact()"
                            )
                        hit = target_keys & set(
                            c.get("touched", list(latest["partitions"]))
                        )
                        if not hit:
                            continue
                        if op == "append":
                            for k in hit:
                                extra.setdefault(k, []).extend(
                                    c.get("added", {}).get(k, [])
                                )
                        elif op != "compact":
                            raise CommitConflict(
                                f"concurrent {op or 'commit'} v{c['version']} "
                                f"rewrote partitions {sorted(hit)} this "
                                "compaction also rewrites; re-run compact()"
                            )
                    if latest["schema"] != m["schema"]:
                        raise CommitConflict(
                            "schema changed concurrently during compaction; "
                            "re-run compact() against the new snapshot"
                        )
                    if latest["partition_col"] != pc:
                        raise CommitConflict(
                            "partitioning evolved concurrently during "
                            "compaction; re-run compact() against the "
                            "new snapshot"
                        )
                except CommitConflict:
                    self._discard_commit_dir(commit_dir)
                    raise
                for k, ds in extra.items():
                    new_parts.setdefault(k, []).extend(ds)
            merged = dict(latest["partitions"])
            for k in target_keys:
                if k not in new_parts:
                    # the target's tombstone-folded content is EMPTY
                    # (every row deleted): the partition leaves the
                    # snapshot, exactly like a merge that empties one.
                    # Carrying the old dirs forward would RESURRECT the
                    # tombstoned rows the moment the tombstones are
                    # cleared below.
                    merged.pop(k, None)
            merged.update(new_parts)
            out_legacy = (
                [] if migrate else list(latest.get("legacy_dirs", []))
            )
            live = {d for ds in merged.values() for d in ds} | set(
                out_legacy
            )
            return self._swap_or_reclaim(
                commit_dir,
                latest["version"],
                _successor(
                    latest,
                    "compact",
                    partitions=merged,
                    touched=sorted(new_parts),
                    added=added,
                    legacy_dirs=out_legacy,
                    # the rewrite read through the targets' tombstones
                    # (folded); non-target partitions' tombstones carry.
                    # A migration read through EVERYTHING: all clear.
                    tombstones=(
                        {}
                        if migrate
                        else {
                            k: list(v)
                            for k, v in latest.get(
                                "tombstones", {}
                            ).items()
                            if k not in target_keys
                        }
                    ),
                    tombstone_key_cols=(
                        None
                        if migrate
                        else latest.get("tombstone_key_cols")
                    ),
                    **_live_metadata(live, latest, meta),
                ),
            )

    # -- retention -----------------------------------------------------------

    def vacuum(self, keep_last: int = 1) -> list[str]:
        """Drop manifests older than the newest ``keep_last`` and delete
        data directories ONLY they reference. Never touches anything a
        retained manifest lists, so pinned readers of retained snapshots
        are unaffected. Returns the removed data dirs (relative).

        Retention contract for concurrent writers/readers: ``keep_last``
        must cover every in-flight writer's BASE version and every
        change-feed consumer's from_version. A writer whose base was
        vacuumed mid-flight fails loudly with CommitConflict at rebase
        time (see _commits_between) and re-runs; a lazy read() pinned to
        a vacuumed snapshot fails at scan time. Both are recoverable,
        but sizing keep_last to the longest job avoids the retry."""
        self._require_main("vacuum()")
        if not self.exists():
            return []
        # vacuum needs REAL exclusion (it mutates shared retention state),
        # so it runs under the coordinator's exclusive section — a
        # CAS-only coordinator must provide one (or not offer vacuum)
        with self.coordinator.exclusive(self):
            with open(self._pointer) as fh:
                current = fh.read().strip()
            # retention applies to COMMITTED manifests up to the current
            # pointer (the writer lock pins it for the sweep). Staged
            # (write-audit-publish) records are neither droppable nor
            # reclaimable here — their data dirs are protected until
            # publish_staged()/discard_staged() decides their fate.
            committed = [
                (n, m) for n, m in _listed(self._manifest_dir) if n <= current
            ]
            keep, drop = committed[-keep_last:], committed[:-keep_last]
            referenced = {
                d
                for _, m in keep + list(_listed(self._manifest_dir, "staged-"))
                for d in _dirs_of(m)
            }
            # every branch's every manifest is live: a long-lived branch
            # must never race main's retention (drop_branch reclaims)
            referenced.update(
                d
                for mdir in self._ref_dirs()[1:]
                for _, m in _listed(mdir)
                for d in _dirs_of(m)
            )
            removed: list[str] = []
            for n, m in drop:
                for d in _dirs_of(m):
                    if d in referenced:
                        continue
                    tablefs.rmtree(
                        os.path.join(self.root, d),
                        "vacuum.data",
                        ignore_errors=True,
                    )
                    removed.append(d)
                    referenced.add(d)  # only rmtree once
                    # reap the data/<commit>/ shell once its last
                    # partition leaf is gone — otherwise empty commit
                    # dirs (holding only _SUCCESS markers) accumulate
                    # forever
                    shell = os.path.dirname(os.path.join(self.root, d))
                    try:
                        if not any(
                            x.startswith(f"{_PART_DIR}=")
                            for x in os.listdir(shell)
                        ):
                            tablefs.rmtree(
                                shell, "vacuum.shell", ignore_errors=True
                            )
                    except FileNotFoundError:
                        pass
                tablefs.remove(
                    os.path.join(self._manifest_dir, n), "vacuum.manifest"
                )
            return removed
