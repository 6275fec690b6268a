"""The benchmark's workloads and their DuckDB correctness oracles.

A workload runs in passes. ``ops(rng)`` gives one pass's operation
names in a seeded order; for each operation the harness calls
``before`` (untimed: build inputs), ``timed`` (the measured call into
the engine) and ``check`` (untimed: compare against DuckDB).

Results are compared as order-insensitive digests over the canonical
row form of ``tests/oracle_harness.py`` — the same canonicalization
the engine's own oracle-parity tests use.
"""

from __future__ import annotations

import hashlib
import io
import os
import shutil
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from corpus import PRIORITIES
from pyspark.sql import functions as F
from scopus_spark import registry
from scopus_spark.operators.manifest import VersionedTable
from scopus_spark.catalog import TABLES
from tests.oracle_harness import _rowset


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result (column order too)."""
    canon = repr((sorted(cols), _rowset(list(cols), rows)))
    return hashlib.sha256(canon.encode()).hexdigest()


def duck_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB views over the corpus, named like the engine's temp views."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duck_digest(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    res = con.execute(sql)
    return digest([d[0] for d in res.description], [tuple(r) for r in res.fetchall()])


@dataclass
class Result:
    df: object | None = None  # the collected DataFrame, for Catalyst phases
    cols: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)


class Queries:
    """Registry keys, each timed as plan build + collect."""

    def __init__(self, name: str, keys: tuple[str, ...]):
        self.name = name
        self.keys = keys
        self.expected: dict[str, str] = {}
        self.corrupt = False  # self-test: one expected digest made wrong

    def expect(self, sf_dir: str) -> None:
        """DuckDB digests of each key's registry oracle over the corpus,
        cached beside the corpus by the digest of the oracle SQL."""
        oracles = registry.all_oracles()
        cache = sf_dir + ".oracle"
        os.makedirs(cache, exist_ok=True)
        con = None
        try:
            for k in self.keys:
                sql_id = hashlib.sha256(oracles[k].encode()).hexdigest()[:32]
                path = os.path.join(cache, f"{k}-{sql_id}")
                if not os.path.exists(path):
                    con = con or duck_conn(sf_dir)
                    with open(f"{path}.tmp{os.getpid()}", "w") as fh:
                        fh.write(duck_digest(con, oracles[k]))
                    os.replace(f"{path}.tmp{os.getpid()}", path)
                with open(path) as fh:
                    self.expected[k] = fh.read()
        finally:
            if con is not None:
                con.close()
        if self.corrupt:
            self.expected[self.keys[0]] = "0" * 64

    def prepare(self, ctx) -> None:
        queries = registry.all_queries()
        self.fns = {k: queries[k] for k in self.keys}

    def ops(self, rng) -> list[str]:
        order = list(self.keys)
        rng.shuffle(order)
        return order

    def before(self, ctx, op: str):
        return None

    def timed(self, ctx, op: str, _arg) -> Result:
        with ctx.tracer.span("queries.build"):
            df = self.fns[op](ctx.spark, ctx.sf_dir)
        with ctx.tracer.span("exec.collect"):
            rows = df.collect()
        return Result(df, df.columns, [tuple(r) for r in rows])

    def check(self, ctx, op: str, _arg, res: Result) -> bool:
        return digest(res.cols, res.rows) == self.expected[op]

    def finish(self, ctx) -> list[bool]:
        return []


KEY, PART = "o_orderkey", "o_orderpriority"
COMMITS = ("merge", "append", "delete_keys")
READ_SQL = (
    "SELECT o_orderpriority, count(*) AS n, "
    "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents, "
    "sum(o_orderkey) AS key_sum, max(o_orderdate) AS max_date "
    "FROM t GROUP BY o_orderpriority"
)


def _parquet_bytes(table: pa.Table) -> int:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.tell()


def _tree(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class TableCommits:
    """Commits on a fresh VersionedTable of ``orders``, each followed by
    a read-after-write aggregate, replayed in DuckDB for the oracle.

    One pass: ``merge`` (1% updates + 0.5% deletes), ``append`` (1% new
    keys) and ``delete_keys`` (0.5%) in seeded order, then ``compact``
    and ``vacuum``; a ``read.<commit>`` follows every commit. Appends
    and deletes balance, so the table keeps its size from pass to pass.
    """

    name = "table_commits"
    corrupt = False  # self-test: every read-after-write expectation made wrong

    def expect(self, sf_dir: str) -> None:
        pass  # the DuckDB replay runs beside the commits, untimed

    def prepare(self, ctx) -> None:
        self.root = os.path.join(ctx.work_dir, "table")
        shutil.rmtree(self.root, ignore_errors=True)
        self.vt = VersionedTable(self.root)
        with ctx.tracer.span("manifest.write_initial"):
            self.vt.write_initial(
                ctx.spark.table("orders"), PART, stats_cols=["o_orderdate"]
            )
        self.schema = ctx.spark.table("orders").schema
        if getattr(self, "con", None) is not None:
            self.con.close()
        self.con = duckdb.connect()
        path = os.path.join(ctx.sf_dir, "orders.parquet")
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{path}')")
        self.next_key, self.n_cust = self.con.execute(
            "SELECT max(o_orderkey) + 1, max(o_custkey) + 1 FROM t").fetchone()
        self.rows = self.con.execute("SELECT count(*) FROM t").fetchone()[0]
        self.io: list[dict] = []

    def ops(self, rng) -> list[str]:
        order = list(COMMITS)
        rng.shuffle(order)
        out = []
        for c in [*order, "compact", "vacuum"]:
            out += [c, f"read.{c}"]
        return out

    def _pick(self, rng, n: int, exclude: np.ndarray | None = None) -> np.ndarray:
        keys = self.con.execute("SELECT o_orderkey FROM t ORDER BY 1").fetchnumpy()[KEY]
        if exclude is not None:
            keys = np.setdiff1d(keys, exclude)
        return np.sort(rng.choice(keys, min(n, len(keys)), replace=False))

    def _rows(self, keys: np.ndarray) -> pd.DataFrame:
        self.con.register("k", pd.DataFrame({KEY: keys}))
        try:
            return self.con.execute(
                "SELECT t.* FROM t JOIN k USING (o_orderkey) ORDER BY o_orderkey"
            ).fetchdf()
        finally:
            self.con.unregister("k")

    def _spark_df(self, ctx, pdf: pd.DataFrame, cols: list[str] | None = None):
        schema = self.schema
        if cols is not None:
            schema = type(schema)([schema[c] for c in cols])
        return ctx.spark.createDataFrame(pdf[schema.fieldNames()], schema=schema)

    def before(self, ctx, op: str):
        """Seeded delta for a commit: (engine arguments, (rows to upsert,
        rows to delete)) — the second part replays it in DuckDB."""
        rng = ctx.rng
        pct = max(1, self.rows // 100)
        if op == "merge":
            upd_keys = self._pick(rng, pct)
            del_keys = self._pick(rng, pct // 2, exclude=upd_keys)
            upd = self._rows(upd_keys)
            upd["o_totalprice"] = np.round(upd["o_totalprice"] * 1.01 + 1.0, 2)
            upd["o_orderstatus"] = upd["o_orderstatus"].map({"F": "O", "O": "P", "P": "F"})
            dels = self._rows(del_keys)[[KEY, PART]]
            args = (self._spark_df(ctx, upd), self._spark_df(ctx, dels, [KEY, PART]))
            return args, (upd, dels)
        if op == "append":
            n = pct
            keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
            days = rng.integers(0, 2404, n).astype("timedelta64[D]")
            new = pd.DataFrame({
                KEY: keys,
                "o_custkey": rng.integers(0, self.n_cust, n).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
                "o_orderdate": (np.datetime64("1995-01-01") + days).astype("datetime64[ns]"),
                PART: rng.choice(PRIORITIES, n),
            })
            self.next_key += n
            return (self._spark_df(ctx, new),), (new, None)
        if op == "delete_keys":
            dels = self._rows(self._pick(rng, pct // 2))[[KEY, PART]]
            return (self._spark_df(ctx, dels, [KEY, PART]),), (None, dels)
        return (), (None, None)

    def timed(self, ctx, op: str, arg) -> Result:
        args, replay = arg
        if op.startswith("read."):
            with ctx.tracer.span("manifest.read"):
                df = self.vt.read(ctx.spark)
            df = df.groupBy(PART).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents"),
                F.sum(KEY).alias("key_sum"),
                F.max("o_orderdate").alias("max_date"),
            )
            with ctx.tracer.span("exec.collect"):
                rows = df.collect()
            return Result(df, df.columns, [tuple(r) for r in rows])
        before = _tree(self.root) if ctx.tracer.enabled else None
        with ctx.tracer.span(f"manifest.{op}"):
            if op == "merge":
                self.vt.merge(args[0], [KEY], PART, deletes=args[1])
            elif op == "append":
                self.vt.append(args[0])
            elif op == "delete_keys":
                self.vt.delete_keys(args[0], [KEY])
            elif op == "compact":
                self.vt.compact(ctx.spark)
            else:
                self.vt.vacuum(keep_last=1)
        if before is not None:
            after = _tree(self.root)
            new = [p for p in after if p not in before]
            delta = [x for x in replay if x is not None]
            self.io.append({
                "op": op, "pass": ctx.pass_tag,
                "bytes_written": sum(after[p] for p in new),
                "files_written": len(new),
                "delta_bytes": sum(
                    _parquet_bytes(pa.Table.from_pandas(x, preserve_index=False))
                    for x in delta),
            })
        return Result()

    def check(self, ctx, op: str, arg, res: Result) -> bool:
        """Replay a commit in DuckDB, or compare a read with the replay."""
        if op.startswith("read."):
            want = "0" * 64 if self.corrupt else duck_digest(self.con, READ_SQL)
            return digest(res.cols, res.rows) == want
        rows, dels = arg[1]
        for part in (rows, dels):
            if part is not None:
                self.con.register("d", part)
                self.con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM d)")
                self.con.unregister("d")
        if rows is not None:
            self.con.register("d", rows)
            self.con.execute("INSERT INTO t SELECT * FROM d")
            self.con.unregister("d")
        self.rows = self.con.execute("SELECT count(*) FROM t").fetchone()[0]
        return True

    def finish(self, ctx) -> list[bool]:
        """Compare the final snapshot row for row with the replay."""
        df = self.vt.read(ctx.spark)
        got = digest(df.columns, [tuple(r) for r in df.collect()])
        return [got == duck_digest(self.con, "SELECT * FROM t")]

    def stored_per_live_byte(self) -> float:
        live = self.con.execute("SELECT * FROM t").arrow()
        return sum(_tree(self.root).values()) / _parquet_bytes(live)


# BASELINE.md's ten headline queries
HEADLINE = ("d2", "q3", "c8", "d1", "e1", "i1", "h9", "j3", "j1", "d9")
# hash-checked keys whose work crosses the Arrow/Python-worker boundary:
# mapInArrow over lineitem (k7) and the multimodal mapInPandas decoders
# (j18, j27). k2, j32 and j35 are left out for run length (4-7 s each);
# the sub-second k-family keys are left out because their latency moved
# 20-30% from run to run on a loaded 4-core machine, several times more
# than these three.
LLM_PYTHON = ("k7", "j18", "j27")

WORKLOADS = {
    "headline": lambda: Queries("headline", HEADLINE),
    "llm_python": lambda: Queries("llm_python", LLM_PYTHON),
    # not in BENCHMARK.json: read() drops no tombstoned row in a partition
    # whose directory name needs URI escaping ("4-NOT SPECIFIED"), so the
    # reads after delete_keys differ from the DuckDB replay and the run
    # exits 1 (input_file_name() is %-escaped, manifest dirs are not)
    "table_commits": TableCommits,
}
