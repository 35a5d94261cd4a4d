"""Tests of the benchmark's own checks: each plants a wrong result and
shows that the check counts it. No Spark session is needed.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import duckdb  # noqa: E402
import gen  # noqa: E402
from workloads import Ctx, StreamFoldOp, compare, duck_diff, judge  # noqa: E402


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    data = gen.generate(3, str(tmp_path_factory.mktemp("data")), n_deltas=2)
    return Ctx(None, data, str(tmp_path_factory.mktemp("work")), None)


def test_canonical_compare_catches_a_planted_value():
    cols = ["k", "v"]
    want = [(1, 2.5), (2, 3.0)]
    assert compare(cols, list(reversed(want)), cols, want) is None  # order does not matter
    assert compare(cols, [(1, 2.5), (2, 3.01)], cols, want) is not None
    assert compare(cols, [(1, 2.5)], cols, want) is not None
    assert compare(["k", "w"], want, cols, want) is not None


def test_judge_counts_each_wrong_pass_and_the_failed_check():
    ok = judge("q", [5, 5, 5], [None, None, None], 5, lambda: None)
    assert ok == []
    planted = judge("q", [5, 4, 5], [None, None, "Py4JJavaError: Not enough memory"], 5, lambda: "row differs")
    assert len(planted) == 3  # the short pass, the failed pass, the value check


def test_judge_rows_only_needs_one_nonzero_count():
    assert judge("q", [7, 7, 7], [None] * 3, None, None) == []
    assert len(judge("q", [7, 8, 7], [None] * 3, None, None)) == 1
    assert len(judge("q", [0, 0, 0], [None] * 3, None, None)) == 3


def test_duck_diff_catches_a_planted_row_in_a_written_file(ctx, tmp_path):
    orders = pq.read_table(os.path.join(ctx.tables_dir, "orders.parquet"))
    good, bad = tmp_path / "good.parquet", tmp_path / "bad.parquet"
    pq.write_table(orders, good)
    pq.write_table(orders.slice(1), bad)  # one row lost
    with ctx.duck() as con:
        assert duck_diff(con, f"SELECT * FROM '{good}'", "SELECT * FROM orders") is None
        assert duck_diff(con, f"SELECT * FROM '{bad}'", "SELECT * FROM orders") is not None
        changed = f"SELECT * REPLACE (o_totalprice + 0.01 AS o_totalprice) FROM '{good}'"
        assert duck_diff(con, changed, "SELECT * FROM orders") is not None


def test_fold_reference_applies_deltas_in_order(ctx):
    ref = StreamFoldOp().reference_sql(ctx)
    deltas = StreamFoldOp.deltas(ctx)
    with ctx.duck() as con:
        n_orders = con.sql("SELECT count(*) FROM orders").fetchone()[0]
        inserted = sum(
            con.sql(f"SELECT count(*) FROM read_parquet('{d}') WHERE o_orderkey NOT IN "
                    "(SELECT o_orderkey FROM orders)").fetchone()[0]
            for d in deltas
        )
        assert con.sql(f"SELECT count(*) FROM ({ref})").fetchone()[0] == n_orders + inserted
        # every key appears once, and an updated key carries its last delta's row
        assert con.sql(f"SELECT count(*) - count(DISTINCT o_orderkey) FROM ({ref})").fetchone()[0] == 0
        last = con.sql(f"SELECT o_orderkey, max(o_orderdate) FROM read_parquet('{deltas[-1]}') "
                       "GROUP BY 1 LIMIT 1").fetchone()
        got = con.sql(f"SELECT o_orderdate FROM ({ref}) WHERE o_orderkey = {last[0]}").fetchone()[0]
        assert got == last[1]


def test_generator_is_fixed_by_the_seed(tmp_path):
    a, b, c = (gen.generate(s, str(tmp_path / n), n_deltas=1) for s, n in ((5, "a"), (5, "b"), (6, "c")))
    for sub in ("tables/lineitem", "tables/documents", "tables/embeddings", "landing/delta-0"):
        ta, tb, tc = (pq.read_table(os.path.join(d, f"{sub}.parquet")) for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)


def test_replica_keeps_the_fixture_join_selectivity(ctx):
    """Each replica of lineitem joins orders exactly as the fixture does."""
    join = ("SELECT count(*), count(DISTINCT l_orderkey) FROM read_parquet('{d}/lineitem.parquet') l "
            "JOIN read_parquet('{d}/orders.parquet') o ON l_orderkey = o_orderkey")
    base = duckdb.sql(join.format(d=gen.FIXTURE)).fetchone()
    got = duckdb.sql(join.format(d=ctx.tables_dir)).fetchone()
    assert got == tuple(gen.REPLICAS * v for v in base)
