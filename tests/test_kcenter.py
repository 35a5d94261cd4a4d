"""D68: k-center greedy coreset selection (farthest-point traversal)
— deterministic seed, bit-exact distance folds, id tie-breaks."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from mysql2parquet_spark.operators.similarity import kcenter_greedy


def _py_kcenter(rows, k):
    # bit-identical twin: left-to-right float64 folds, id tie-breaks
    vecs = {i: [float(x) for x in v] for i, v in rows}

    def sq(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return acc

    def dist(v, c):
        acc = 0.0
        for x, y in zip(v, c):
            acc = acc + (x - y) * (x - y)
        return acc

    seed = max(vecs, key=lambda i: (sq(vecs[i]), -i))
    # max with ties by smaller id: sort explicitly
    seed = sorted(vecs, key=lambda i: (-sq(vecs[i]), i))[0]
    chosen = [(1, seed, None)]
    mind = {
        i: float("inf") for i in vecs if i != seed
    }
    center = vecs[seed]
    for rank in range(2, k + 1):
        if not mind:
            break
        for i in mind:
            d = dist(vecs[i], center)
            if d < mind[i]:
                mind[i] = d
        far = sorted(mind, key=lambda i: (-mind[i], i))[0]
        chosen.append((rank, far, mind[far]))
        center = vecs[far]
        del mind[far]
    return chosen


def _run(spark, rows, k):
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=v, label=0) for i, v in rows]
    )
    got = kcenter_greedy(df, k=k).collect()
    return [(r["sel_rank"], r["vec_id"], r["dist_sq"]) for r in got]


def test_picks_the_corners_not_the_cluster(spark):
    # a dense blob near the origin + three far-apart corners: greedy
    # must pick the corners before any blob member
    blob = [(i, [0.01 * i, 0.0, 0.0]) for i in range(10)]
    corners = [
        (100, [10.0, 0.0, 0.0]),
        (101, [0.0, 10.0, 0.0]),
        (102, [0.0, 0.0, 10.0]),
    ]
    got = _run(spark, blob + corners, k=4)
    assert got == _py_kcenter(blob + corners, 4)
    assert {got[0][1], got[1][1], got[2][1]} == {100, 101, 102}
    assert got[3][1] in {i for i, _ in blob}
    # coverage radius trace is non-increasing after the corners
    assert got[2][2] >= got[3][2]


def test_seed_is_max_norm_ties_by_id(spark):
    rows = [(3, [2.0, 0.0]), (1, [0.0, 2.0]), (2, [1.0, 0.0])]
    got = _run(spark, rows, k=2)
    assert got[0] == (1, 1, None)  # same norm as id 3 -> lower id wins


def test_k_larger_than_corpus_stops_early(spark):
    rows = [(1, [1.0]), (2, [5.0])]
    got = _run(spark, rows, k=10)
    assert [g[1] for g in got] == [2, 1]


def test_validation(spark):
    df = spark.createDataFrame([Row(vec_id=0, embedding=[1.0])])
    with pytest.raises(ValueError, match="k must"):
        kcenter_greedy(df, k=0)


def test_matches_python_twin_on_fixture(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [
        (r["vec_id"], list(r["embedding"])) for r in df.collect()
    ]
    got = [
        (r["sel_rank"], r["vec_id"], r["dist_sq"])
        for r in kcenter_greedy(df, k=12).collect()
    ]
    ref = _py_kcenter(rows, 12)
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in ref]
    for (_, _, dg), (_, _, dr) in zip(got[1:], ref[1:]):
        assert dg == dr  # bit-exact distance folds


def test_selection_is_partitioning_independent(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = [
        (r["sel_rank"], r["vec_id"])
        for r in kcenter_greedy(df.repartition(3), k=8).collect()
    ]
    b = [
        (r["sel_rank"], r["vec_id"])
        for r in kcenter_greedy(df.repartition(17), k=8).collect()
    ]
    assert a == b


def test_empty_input_returns_empty_frame(spark, sf_dir):
    # ADVICE r11: the seed argmax on an empty frame must not raise
    # IndexError — the contract is an empty selection with the
    # declared (sel_rank, vec_id, dist_sq) schema.
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        "vec_id < 0"
    )
    out = kcenter_greedy(df, k=4)
    assert out.columns == ["sel_rank", "vec_id", "dist_sq"]
    assert out.count() == 0


# --- certified candidate pool -------------------------------------------
# With the pool shrunk to 4 rows, almost every pick after the first of a
# sync is uncertified, so the sync-again path runs many times per call.


@pytest.fixture
def tiny_pool(monkeypatch):
    from mysql2parquet_spark.operators import similarity

    monkeypatch.setattr(similarity, "_KCENTER_POOL", 4)


def test_tiny_pool_matches_python_twin_on_fixture(spark, sf_dir, tiny_pool):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = [(r["vec_id"], list(r["embedding"])) for r in df.collect()]
    got = [
        (r["sel_rank"], r["vec_id"], r["dist_sq"])
        for r in kcenter_greedy(df, k=12).collect()
    ]
    assert got == _py_kcenter(rows, 12)


def test_tiny_pool_exact_duplicates_tie_at_the_boundary(spark, tiny_pool):
    # five copies of each of four vectors: after every pick the pool's
    # last row ties with rows left out of it on _mind, so certification
    # rests on the id tie-break alone
    base = [[3.0, 0.0], [0.0, 2.0], [-1.0, -1.0], [0.5, 0.5]]
    rows = [(10 * j + c, list(base[j])) for c in range(5) for j in range(4)]
    got = _run(spark, rows, k=12)
    assert got == _py_kcenter(rows, 12)


def test_tiny_pool_nan_component_and_signed_zeros(spark, tiny_pool):
    # the NaN row comes first: its NaN norm sorts first in Spark, and in
    # the twin's sort as the first element; every distance to it is NaN
    # and never lowers a min-distance, so round 2 is an all-inf tie
    rows = [(7, [float("nan"), 1.0])] + [
        (1, [0.0, -0.0]),
        (2, [-0.0, 0.0]),
        (3, [-0.0, -0.0]),
        (4, [1.0, -0.0]),
        (5, [-1.0, 0.0]),
        (6, [0.0, 2.0]),
        (8, [0.25, -0.5]),
        (9, [-3.0, -0.0]),
    ]
    got = _run(spark, rows, k=9)
    assert got == _py_kcenter(rows, 9)


def test_kcenter_runs_at_most_three_jobs(spark, sf_dir):
    from tests.conftest import spark_jobs

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with spark_jobs(spark, "test-kcenter-job-count") as jobs:
        kcenter_greedy(df, k=16)
    assert 1 <= len(jobs) <= 3, jobs


def test_lit_vector_round_trips_bit_for_bit(spark):
    import random
    import struct

    from pyspark.sql import functions as F

    from mysql2parquet_spark.functions.vector import lit_vector

    rnd = random.Random(7)
    vals = [rnd.uniform(-1e3, 1e3) for _ in range(40)]
    vals += [
        rnd.gauss(0.0, 1.0) * 10.0 ** rnd.randint(-300, 300)
        for _ in range(20)
    ]
    vals += [
        5e-324,
        -5e-324,
        2.2250738585072009e-308,  # largest subnormal
        1.7976931348623157e308,
        0.1,
        1e16,
        -0.0,
        0.0,
        float("nan"),
        float("inf"),
        float("-inf"),
    ]
    row = spark.range(1).select(
        lit_vector(vals).alias("a"),
        F.array(*[F.lit(v) for v in vals]).alias("b"),
    ).first()

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    assert bits(row["a"]) == bits(row["b"]) == bits(vals)


def test_pool_size_never_changes_the_selection_on_ragged_input(
    spark, monkeypatch
):
    # A one-row pool is one Spark round per center — every min-distance
    # comes from the JVM fold. Larger pools move the picks to the
    # driver's fold, which must agree where zip_with gives NULL: ragged
    # pairs, NULL elements and a NULL vector (which is picked as a
    # center once its min-distance is the largest left)
    from mysql2parquet_spark.operators import similarity

    rows = [
        (1, [4.0, 0.0, 0.0]),
        (2, [0.0, 3.0, 0.0]),
        (3, [1.0, 1.0]),
        (4, [0.5, None, 0.5]),
        (5, None),
        (6, [0.0, 0.0, -2.0]),
        (7, [1.0, 1.0, 1.0, 1.0]),
        (8, [0.25, 0.5, 0.75]),
        (9, [-1.0, 0.0, 0.0]),
    ]
    by_pool = {}
    for pool in (1, 2, 4, 1024):
        monkeypatch.setattr(similarity, "_KCENTER_POOL", pool)
        by_pool[pool] = _run(spark, rows, k=9)
    assert len(by_pool[1]) == 9
    assert by_pool[2] == by_pool[4] == by_pool[1024] == by_pool[1]
