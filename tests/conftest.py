from __future__ import annotations

import contextlib
import os

import pytest

SF_TEST_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from mysql2parquet_spark.session import get_spark

    s = get_spark("mysql2parquet_spark-tests", master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"), shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_TEST_DIR


@contextlib.contextmanager
def spark_jobs(spark, group: str):
    """Run the body under Spark job group ``group``; the yielded list
    holds the ids of the jobs it ran once the body is done."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        for key in (
            "spark.jobGroup.id",
            "spark.job.description",
            "spark.job.interruptOnCancel",
        ):
            sc.setLocalProperty(key, None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _conf_or_none(spark, key: str) -> str | None:
    from pyspark.errors import SparkNoSuchElementException

    try:
        return spark.conf.get(key)
    except SparkNoSuchElementException:  # neither set nor registered
        return None


def restore_sql_confs(spark, before: dict[str, str]) -> dict[str, tuple]:
    """Put the session's modifiable SQL confs back to ``before`` (a
    ``spark.conf.getAll`` snapshot) and return the changed ones as
    ``{key: (before, after)}``, unset keys read at their defaults. A
    key that was unset before and is now set to its own default is no
    change: ``prev = conf.get(k)`` … ``conf.set(k, prev)`` is the
    suite's save/restore idiom."""
    after = spark.conf.getAll
    changed = {}
    for key in sorted(before.keys() | after.keys()):
        if before.get(key) == after.get(key) or not spark.conf.isModifiable(
            key
        ):
            continue
        spark.conf.unset(key)
        default = _conf_or_none(spark, key)
        old, new = before.get(key, default), after.get(key, default)
        if key in before:
            spark.conf.set(key, old)
        if old != new:
            changed[key] = (old, new)
    return changed


@pytest.fixture(autouse=True)
def no_sql_conf_leak():
    """Fail any test that leaves a changed SQL conf on the shared
    session (and put the conf back, so one leak cannot fail the tests
    after it). A leaked conf silently changes later tests' plans — a
    leaked ``spark.sql.shuffle.partitions`` once broke an Exchange-count
    assertion three files away."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    jbefore = (
        None if spark is None else spark._jsparkSession.conf().getAllAsJava()
    )
    yield
    if jbefore is None or spark._sc._jsc is None:  # no session, or stopped
        return
    if jbefore.equals(spark._jsparkSession.conf().getAllAsJava()):
        return
    leaked = restore_sql_confs(spark, dict(jbefore))
    if leaked:
        pytest.fail(
            f"test left changed SQL confs on the shared session: {leaked}"
        )


def target_feeds_anti_directly(plan_text: str) -> bool:
    """True iff some LeftAnti join's left branch reaches a parquet scan
    through narrow nodes only (Project/Filter/columnar glue) — i.e. the
    merge target is scanned straight into the broadcast anti-join with
    no Exchange/Sort interposed. Textual but structural: an exchanged
    target would print Exchange/Sort lines between the join and its
    scan. Use with mode='simple' explain output (formatted mode hides
    operator arguments, making substring asserts vacuous)."""
    lines = plan_text.splitlines()
    for i, ln in enumerate(lines):
        if "LeftAnti" not in ln:
            continue
        # walk down the left branch while the nodes stay narrow — no
        # fixed window, so a deeper Project/Filter chain still matches
        for nxt in lines[i + 1 :]:
            if "FileScan parquet" in nxt:
                return True
            if not any(
                o in nxt for o in ("Project", "Filter", "ColumnarToRow")
            ):
                break  # Exchange, Sort, another join, RDD scan, ...
    return False


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()
