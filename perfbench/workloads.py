"""The benchmark's workloads and the checks of their outputs.

A workload is a fixed list of operations. One pass runs every operation
once, in order, each starting when the previous one has finished (a
closed loop with one client). An operation has a timed ``run`` and an
untimed ``rows`` that counts the rows of that pass's output. After the
last pass, outside every timed region, ``expected_rows`` gives the row
count of the operation's reference result (None when it has none) and
``check`` compares the last pass's output with that reference.
"""

from __future__ import annotations

import contextlib
import io
import os
from collections import Counter
from dataclasses import dataclass

import duckdb
import pyarrow.parquet as pq

from mysql2parquet_spark.canon import canon, fetch_oracle_arrow

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@dataclass
class Ctx:
    spark: object
    data_dir: str  # generated inputs of this seed
    work_dir: str  # outputs of this run, removed at the end
    tracer: object

    @property
    def tables_dir(self) -> str:
        return os.path.join(self.data_dir, "tables")

    @property
    def landing_dir(self) -> str:
        return os.path.join(self.data_dir, "landing")

    @contextlib.contextmanager
    def duck(self):
        """A DuckDB connection with a view per input table."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables_dir}/{t}.parquet')")
            yield con
        finally:
            con.close()


def compare(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """Order-insensitive, type-strict comparison through the canonicalizer
    the engine's own correctness gate uses; a description of the first
    difference, or None when the results agree."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows != {len(want_rows)} expected"
    got, want = canon(got_rows, got_cols), canon(want_rows, want_cols)
    for a, b in zip(got, want):
        if a != b:
            return f"row {a[:120]} != expected {b[:120]}"
    return None


def duck_diff(con, got_sql: str, want_sql: str) -> str | None:
    """Compare two results inside DuckDB: the same column names and types,
    and the same rows as multisets. Used for file outputs, whose values
    are copied rather than computed, so exact equality is the test."""

    def schema(sql):
        rel = con.sql(sql)
        return sorted(zip(rel.columns, map(str, rel.types)))

    got, want = schema(got_sql), schema(want_sql)
    if got != want:
        return f"schema {got} != {want}"
    cols = ", ".join(f'"{c}"' for c, _ in got)
    g, w = f"SELECT {cols} FROM ({got_sql})", f"SELECT {cols} FROM ({want_sql})"
    extra = con.sql(f"SELECT count(*) FROM (({g}) EXCEPT ALL ({w}))").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (({w}) EXCEPT ALL ({g}))").fetchone()[0]
    if extra or missing:
        return f"{extra} rows not in the reference, {missing} reference rows missing"
    return None


def judge(name: str, counts: list[int | None], errors: list[str | None], expected: int | None, check) -> list[str]:
    """Failures of one operation over a run.

    ``counts`` and ``errors`` hold one entry per pass. A pass fails when
    it raised, gave no rows, or gave another row count than ``expected``
    (the reference's; for a rows-only operation, the most common count).
    When there is a reference, ``check()`` is one more attempt, failed
    when it reports a difference or raises."""
    fails = []
    has_reference = expected is not None
    if not has_reference:
        seen = Counter(c for c in counts if c)
        expected = seen.most_common(1)[0][0] if seen else None
    for i, (c, err) in enumerate(zip(counts, errors)):
        if err is not None:
            fails.append(f"{name} pass {i}: {err}")
        elif not c or c != expected:
            fails.append(f"{name} pass {i}: {c} rows, expected {expected}")
    if has_reference:
        try:
            diff = check()
        except Exception as e:  # a failed check evaluation is a failed attempt
            diff = f"{type(e).__name__}: {first_line(e)}"
        if diff:
            fails.append(f"{name} check: {diff}")
    return fails


def first_line(e: Exception) -> str:
    lines = str(e).strip().splitlines()
    return lines[0][:300] if lines else ""


class QueryOp:
    """A registry query written to the ``noop`` sink; an observation on
    the sink counts its rows. The check collects the query once more and
    compares it with the query's DuckDB oracle."""

    def __init__(self, name: str):
        from mysql2parquet_spark.queries import REGISTRY, _load

        _load()
        self.name = name
        self.query = REGISTRY[name]
        self._want = None

    def run(self, ctx: Ctx, pass_id: int):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with ctx.tracer.span(f"queries.build:{self.name}"):
            df = self.query.fn(ctx.spark, ctx.tables_dir)
        obs = Observation()
        with ctx.tracer.span(f"sink:{self.name}"):
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
        return obs

    def rows(self, ctx: Ctx, pass_id: int, handle) -> int:
        return int(handle.get["rows"])

    def expected_rows(self, ctx: Ctx) -> int | None:
        if self.query.oracle is None:
            return None
        with ctx.duck() as con:
            self._want = fetch_oracle_arrow(con, self.query.oracle)
        return len(self._want[1])

    def check(self, ctx: Ctx, pass_id: int) -> str | None:
        df = self.query.fn(ctx.spark, ctx.tables_dir)
        return compare(df.columns, [tuple(r) for r in df.collect()], *self._want)


def _cli(ctx: Ctx, argv: list[str]) -> None:
    from mysql2parquet_spark import cli

    with contextlib.redirect_stdout(io.StringIO()):
        rc = ctx.tracer.call("cli.main", cli.main, argv)
    if rc != 0:
        raise RuntimeError(f"cli.main exited {rc}: {' '.join(argv)}")


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class FileOp:
    """A ``cli.main`` run that writes Parquet under ``out``; its check
    reads the files back with DuckDB and compares them with
    ``reference_sql`` run over the inputs."""

    name = ""

    def out(self, ctx: Ctx, pass_id: int) -> str:
        raise NotImplementedError

    def reference_sql(self, ctx: Ctx) -> str:
        raise NotImplementedError

    def rows(self, ctx: Ctx, pass_id: int, handle) -> int | None:
        out = self.out(ctx, pass_id)
        return _parquet_rows(out) if os.path.exists(os.path.join(out, "_SUCCESS")) else None

    def expected_rows(self, ctx: Ctx) -> int:
        with ctx.duck() as con:
            return con.sql(f"SELECT count(*) FROM ({self.reference_sql(ctx)})").fetchone()[0]

    def check(self, ctx: Ctx, pass_id: int) -> str | None:
        # the v=N directory of a snapshot version is not a column
        got = f"SELECT * FROM read_parquet('{self.out(ctx, pass_id)}/*.parquet', hive_partitioning = false)"
        with ctx.duck() as con:
            return duck_diff(con, got, self.reference_sql(ctx))


EXPORT_SQL = (
    "SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice, "
    "l.l_discount, l.l_shipdate, o.o_orderdate, o.o_orderpriority "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "WHERE l.l_shipdate >= TIMESTAMP '1998-01-01' AND o.o_orderstatus <> 'P'"
)


class ExportOp(FileOp):
    """``cli.main --tables-dir --query --parquet``: the reference's job,
    a SQL result exported to Parquet."""

    name = "cli_export"

    def out(self, ctx: Ctx, pass_id: int) -> str:
        return os.path.join(ctx.work_dir, "export", f"pass-{pass_id}")

    def run(self, ctx: Ctx, pass_id: int):
        _cli(ctx, ["--tables-dir", ctx.tables_dir, "--query", EXPORT_SQL, "--parquet", self.out(ctx, pass_id)])

    def reference_sql(self, ctx: Ctx) -> str:
        return EXPORT_SQL


def snapshot_root(ctx: Ctx, pass_id: int) -> str:
    return os.path.join(ctx.work_dir, "snapshots", f"pass-{pass_id}")


class PublishOp(FileOp):
    """``cli.main --tables-dir --query --snapshot-root``: publish
    ``orders`` as version 0 of a fresh snapshot root, one per pass."""

    name = "cli_publish"

    def out(self, ctx: Ctx, pass_id: int) -> str:
        return os.path.join(snapshot_root(ctx, pass_id), "v=0")

    def run(self, ctx: Ctx, pass_id: int):
        _cli(ctx, ["--tables-dir", ctx.tables_dir, "--query", "SELECT * FROM orders",
                   "--snapshot-root", snapshot_root(ctx, pass_id)])

    def reference_sql(self, ctx: Ctx) -> str:
        return "SELECT * FROM orders"


class StreamFoldOp(FileOp):
    """``cli.main --stream-events``: fold every landed delta file into the
    root published earlier in the same pass, one committed version per
    file, last event winning by ``o_orderdate``."""

    name = "cli_stream_fold"
    keys = "o_orderkey"
    order_col = "o_orderdate"

    @staticmethod
    def deltas(ctx: Ctx) -> list[str]:
        return sorted(os.path.join(ctx.landing_dir, f) for f in os.listdir(ctx.landing_dir) if f.endswith(".parquet"))

    def out(self, ctx: Ctx, pass_id: int) -> str:
        """The version the last delta should have produced."""
        return os.path.join(snapshot_root(ctx, pass_id), f"v={len(self.deltas(ctx))}")

    def run(self, ctx: Ctx, pass_id: int):
        _cli(ctx, [
            "--stream-events", ctx.landing_dir,
            "--snapshot-root", snapshot_root(ctx, pass_id),
            "--merge-keys", self.keys,
            "--order-column", self.order_col,
            "--checkpoint", os.path.join(ctx.work_dir, "checkpoints", f"pass-{pass_id}"),
        ])

    def reference_sql(self, ctx: Ctx) -> str:
        """The fold in SQL: per delta file, in landing order, the latest
        row of each key replaces the snapshot's row or is inserted."""
        sql = "SELECT * FROM orders"
        for path in self.deltas(ctx):
            latest = (
                f"SELECT * EXCLUDE (rn) FROM (SELECT *, ROW_NUMBER() OVER "
                f"(PARTITION BY {self.keys} ORDER BY {self.order_col} DESC) AS rn "
                f"FROM read_parquet('{path}')) WHERE rn = 1"
            )
            sql = (
                f"SELECT * FROM ({sql}) WHERE {self.keys} NOT IN "
                f"(SELECT {self.keys} FROM read_parquet('{path}')) UNION ALL {latest}"
            )
        return sql


@dataclass
class Workload:
    name: str
    ops: list
    inputs: tuple[str, ...]  # tables the workload reads

    def input_paths(self, ctx: Ctx) -> list[str]:
        """The workload's input files: its tables, and the landed deltas
        when it folds them."""
        paths = [os.path.join(ctx.tables_dir, f"{t}.parquet") for t in self.inputs]
        if any(isinstance(op, StreamFoldOp) for op in self.ops):
            paths += StreamFoldOp.deltas(ctx)
        return paths

    def input_bytes(self, ctx: Ctx) -> int:
        return sum(os.path.getsize(p) for p in self.input_paths(ctx))


SQL_QUERIES = ("tpch_q1", "tpch_q3_shape", "tpch_q18")
LLM_QUERIES = ("dedup_minhash", "ann_ivf_topk", "sample_kcenter", "multimodal_frames")
CLI_OPS = (ExportOp.name, PublishOp.name, StreamFoldOp.name)
NAMES = ("sql_export", "llm_curate")


def build(name: str) -> Workload:
    if name == "sql_export":
        ops = [QueryOp(q) for q in SQL_QUERIES] + [ExportOp(), PublishOp(), StreamFoldOp()]
        return Workload(name, ops, inputs=("lineitem", "orders", "customer"))
    if name == "llm_curate":
        return Workload(name, [QueryOp(q) for q in LLM_QUERIES], inputs=("documents", "embeddings"))
    raise KeyError(name)
