from __future__ import annotations

import pytest

from kgtm.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kgtm-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def duck_docs(parquet_docs: str | None = None, planted=None):
    """DuckDB connection with a `documents` view over either a parquet dir
    or a planted pandas frame — the shared oracle-twin harness for the
    data-prep operator tests (one definition; test modules import it)."""
    import duckdb

    con = duckdb.connect()
    if parquet_docs is not None:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{parquet_docs}/documents.parquet')"
        )
    if planted is not None:
        con.register("planted_df", planted)
        con.execute("CREATE VIEW documents AS SELECT * FROM planted_df")
    return con


def forced_both_ways(monkeypatch, cap: str, run):
    """``run()`` under both sides of a size-picked plan, forced through the
    session cap named ``cap`` (every such plan reads its cap at call time):
    at -1 — below every count, even an empty input's — the join/shuffle
    plan runs; at 2**30 the literal/broadcast plan does. Returns
    (join_side, literal_or_broadcast_side)."""
    from kgtm import session

    out = []
    for value in (-1, 1 << 30):
        monkeypatch.setattr(session, cap, value)
        out.append(run())
    return tuple(out)


def assert_same_both_ways(a, b):
    """Identical schema (names, order, types and nullability) and identical
    rows as multisets."""
    assert a.schema == b.schema
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def plan_without_auto_broadcast(df) -> str:
    """``df``'s physical plan, planned with auto-broadcast off, so only an
    explicit broadcast hint can make a BroadcastHashJoin. Call it before
    any action on ``df``: the plan is planned once per frame."""
    spark = df.sparkSession
    key = "spark.sql.autoBroadcastJoinThreshold"
    thr = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, thr)
