"""D74: soft-dedup reweighting + data-driven LSH parameter planner."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from mysql2parquet_spark.operators.dedup import (
    lsh_parameter_plan,
    soft_dedup_weights,
)


def test_soft_weights_inverse_cluster_totals_one(spark):
    docs = [
        (1, "same text"), (2, "same text"), (3, "same text"),
        (4, "unique one"),
    ]
    df = spark.createDataFrame(
        [Row(doc_id=d, text=t) for d, t in docs]
    )
    got = {
        r["doc_id"]: (r["n_copies"], r["weight"])
        for r in soft_dedup_weights(df).collect()
    }
    assert got[1] == (3, math.floor(10_000 / 3) / 10_000)
    assert got[4] == (1, 1.0)
    # every copy kept — no rows dropped
    assert len(got) == 4


def test_soft_weights_sqrt_damps_less(spark):
    docs = [(i, "dup dup dup") for i in range(4)]
    df = spark.createDataFrame(
        [Row(doc_id=d, text=t) for d, t in docs]
    )
    inv = soft_dedup_weights(df, mode="inverse").collect()[0]["weight"]
    sq = soft_dedup_weights(df, mode="sqrt").collect()[0]["weight"]
    assert inv == 0.25 and sq == 0.5
    with pytest.raises(ValueError, match="mode"):
        soft_dedup_weights(df, mode="log")


def _py_plan(docs, num_hashes, shingle_n, threshold):
    grams = {}
    for d, t in docs:
        toks = t.strip().split()
        grams[d] = {
            " ".join(toks[i: i + shingle_n])
            for i in range(len(toks) - shingle_n + 1)
        }
    from decimal import ROUND_HALF_UP, Decimal

    ids = sorted(grams)
    pairs = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(grams[a] & grams[b])
            if not inter:
                continue
            s = inter / (len(grams[a]) + len(grams[b]) - inter)
            if s >= threshold:
                # the gram index emits jaccard rounded 4dp (Spark
                # HALF_UP); the planner consumes that value
                pairs.append(
                    float(
                        Decimal(str(s)).quantize(
                            Decimal("0.0001"), ROUND_HALF_UP
                        )
                    )
                )
    grid = [
        (b, num_hashes // b)
        for b in range(1, num_hashes + 1)
        if num_hashes % b == 0
    ]

    def chain_pow(x, n):
        acc = x
        for _ in range(n - 1):
            acc = acc * x
        return acc

    out = {}
    for b, r in grid:
        micro = 0
        for s in pairs:
            p = 1.0 - chain_pow(1.0 - chain_pow(s, r), b)
            micro += math.floor(p * 1_000_000)
        out[(b, r)] = (len(pairs), round(micro / 1_000_000, 4))
    return out


def test_planner_matches_python_twin(spark):
    docs = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f x y"),   # high overlap with 1
        (3, "p q r s t u v w"),
        (4, "p q r z z2 z3 z4 z5"),  # partial overlap with 3
    ]
    df = spark.createDataFrame(
        [Row(doc_id=d, text=t) for d, t in docs]
    )
    got = {
        (r["bands"], r["rows_per_band"]): (
            r["n_candidates"], r["expected_pairs"]
        )
        for r in lsh_parameter_plan(
            df, num_hashes=8, shingle_n=2, index_threshold=0.05
        ).collect()
    }
    assert got == _py_plan(docs, 8, 2, 0.05)
    # monotone: more bands (shorter rows) collide more
    ordered = [got[(b, 8 // b)][1] for b in (1, 2, 4, 8)]
    assert ordered == sorted(ordered)


def test_planner_decile_curve_shape(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    rows = lsh_parameter_plan(df, num_hashes=16).collect()
    for r in rows:
        # the S-curve is non-decreasing in s for every (b, r)
        ps = [r[f"p_at_{d * 10}"] for d in range(1, 10)]
        assert ps == sorted(ps)
        assert r[f"p_at_90"] == round(
            1 - (1 - 0.9 ** r["rows_per_band"]) ** r["bands"], 4
        )
    assert len(rows) == 5  # divisors of 16


def test_plan_no_cartesian_no_python(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    for out in (
        soft_dedup_weights(df, fingerprint="bow"),
        lsh_parameter_plan(df, num_hashes=16),
    ):
        p = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in p, p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_choose_parameters_meets_recall_bar_cheaper(spark):
    """VERDICT r11 ask #7 end-to-end: plan -> parameters -> better
    recall-per-candidate than a deliberately bad hand-pick on the
    planted-dup fixture (pairs (i, i+100) share ~93% of tokens)."""
    from mysql2parquet_spark.operators.dedup import (
        choose_lsh_parameters,
        minhash_candidates,
        minhash_dedup,
    )

    rows = []
    for i in range(60):
        base = [f"tok{i}_{j}" for j in range(30)]
        rows.append((i, " ".join(base)))
        mutated = list(base)
        mutated[0] = "CHANGED"
        mutated[15] = "ALSO_CHANGED"
        rows.append((i + 100, " ".join(mutated)))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    b, r = choose_lsh_parameters(
        docs, threshold=0.7, target_prob=0.9, num_hashes=32
    )
    assert b * r == 32 and b >= 1 and r >= 1
    # the S-curve constraint really held at the pick
    p_at_70 = 1.0 - (1.0 - 0.7**r) ** b
    assert p_at_70 >= 0.9

    def collision_recall_and_cost(bands, num_hashes):
        # recall of the CANDIDATE (band-collision) stage — the stage
        # the (b, r) plan controls; the est_jaccard threshold after it
        # is estimator variance, not banding
        cand = minhash_candidates(
            docs, "doc_id", "text", shingle_n=3,
            num_hashes=num_hashes, bands=bands,
        )
        pairs = {(x.id_a, x.id_b) for x in cand.collect()}
        planted = {(i, i + 100) for i in range(60)}
        return len(pairs & planted) / len(planted), len(pairs)

    rec_plan, cost_plan = collision_recall_and_cost(b, 32)
    # a deliberately bad hand-pick: one band of 32 rows -> a pair must
    # match on ALL 32 minhashes to collide; at s~0.75 that's ~1e-4
    rec_bad, _ = collision_recall_and_cost(1, 32)
    assert rec_plan >= 0.9
    assert rec_plan > rec_bad
    # the from_plan path is wired through the dedup operator
    kept = minhash_dedup(
        docs, "doc_id", "text", threshold=0.7, from_plan=(b, r)
    )
    n = kept.count()
    assert n < docs.count()  # planted dups actually removed
    assert n >= 60  # originals survive


def test_signatures_path_matches_inline(spark):
    """r14 overlap path: minhash_dedup fed a pre-pinned
    minhash_doc_signatures relation keeps EXACTLY the docs the inline
    composition keeps (same signatures, banded after — guide §2.6
    overlap changes scheduling, never values)."""
    from mysql2parquet_spark.operators.dedup import (
        minhash_dedup,
        minhash_doc_signatures,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=("lorem ipsum dolor sit amet " * 6) + str(i % 7))
            for i in range(80)
        ]
        + [Row(doc_id=1000 + i, text=f"unique document body {i} " * 4) for i in range(20)]
    )
    sigs = minhash_doc_signatures(
        docs, "doc_id", "text", shingle_n=3, num_hashes=32
    )
    via_sig = minhash_dedup(
        docs, "doc_id", "text", threshold=0.5,
        max_band_width=16, from_plan=(8, 4), signatures=sigs,
    )
    inline = minhash_dedup(
        docs, "doc_id", "text", threshold=0.5,
        max_band_width=16, from_plan=(8, 4),
    )
    assert sorted(r.doc_id for r in via_sig.collect()) == sorted(
        r.doc_id for r in inline.collect()
    )


def test_signatures_guard_reads_the_stamp_without_a_job(spark):
    """The num_hashes guard on signatures= compares the stamp that
    minhash_doc_signatures puts on ``sig`` (it survives the eager
    checkpoint) — a mismatch and a missing stamp both raise before any
    Spark job runs."""
    from pyspark.sql import functions as F

    from mysql2parquet_spark.operators.dedup import (
        minhash_dedup,
        minhash_doc_signatures,
    )
    from tests.conftest import spark_jobs

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"near duplicate body number {i % 5} " * 4) for i in range(30)]
    )
    sigs = minhash_doc_signatures(
        docs, "doc_id", "text", shingle_n=3, num_hashes=32
    )
    assert sigs.schema["sig"].metadata == {"num_hashes": 32}
    # same values, built without the stamp
    bare = sigs.select("doc", F.expr("transform(sig, h -> h)").alias("sig"))
    with spark_jobs(spark, "test-minhash-signature-guard") as jobs:
        with pytest.raises(ValueError, match="32-hash signatures but num_hashes=16"):
            minhash_dedup(
                docs, "doc_id", "text", from_plan=(4, 4), signatures=sigs
            )
        with pytest.raises(ValueError, match="no num_hashes stamp but num_hashes=32"):
            minhash_dedup(
                docs, "doc_id", "text", from_plan=(8, 4), signatures=bare
            )
    assert jobs == []


def test_planned_dedup_signature_path_passes_the_guard(spark, sf_dir):
    """The registered D85 face pins its signatures on a driver thread
    and hands them to minhash_dedup(signatures=...): the stamp must
    survive that localCheckpoint or the guard would refuse it."""
    from mysql2parquet_spark.queries import all_queries

    assert all_queries()["dedup_minhash_planned"](spark, sf_dir).count() > 0
