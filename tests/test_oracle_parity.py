"""Differential test: every registered oracle-checkable query must
match DuckDB exactly at sf0.01 (the driver's correctness gate scale).

r14 (VERDICT r13 next-round #1): the 243-query sweep used to run
serially — each sf0.01 query is a handful of tiny Spark jobs whose
wall time is dominated by the per-job scheduling floor, so the suite
took ~30 min and blew the driver's pytest capture budget (VERIFY_r13
``tests_ok: false`` was a TIMEOUT, not a failure). The comparisons now
run once through a small driver thread pool (guide §2.6: Spark happily
overlaps independent jobs; the next query's tasks back-fill slots the
current one's tail leaves idle) inside a module fixture, and the
parametrized tests assert the precomputed per-query results — same
granularity, same -x behavior on genuine mismatches, ~4x less wall.
Each worker thread gets its own DuckDB connection (a connection is not
thread-safe); the Spark session is shared (job submission is
thread-safe, and the shared index builders serialize via
``dedup._INDEX_BUILD_LOCK``)."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

import peerdb_cdc_psql_psql_spark.operators  # noqa: F401
from peerdb_cdc_psql_psql_spark.registry import REGISTRY

from .oracle_harness import compare_query, duckdb_connection

_ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)
_POOL_WORKERS = 4


@pytest.fixture(scope="module")
def duck(oracle_sf_dir):
    con = duckdb_connection(oracle_sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="module")
def parity_results(spark, oracle_sf_dir) -> dict[str, list[str]]:
    """name → problems for every oracle query, computed concurrently.

    Each pool thread opens its own DuckDB connection; all of them are
    closed when the sweep ends. Trade-off under ``-x``: every query is
    compared here, before the first parametrized test asserts, so a
    mismatch stops the run only after the whole sweep, not at the
    failing query."""
    import threading

    local = threading.local()
    opened = []

    def check(name: str) -> tuple[str, list[str]]:
        con = getattr(local, "con", None)
        if con is None:
            con = local.con = duckdb_connection(oracle_sf_dir)
            opened.append(con)
        spark.sparkContext.setJobDescription(f"parity:{name}")
        q = REGISTRY[name]
        try:
            return name, compare_query(
                spark, con, name, q.fn, q.oracle, oracle_sf_dir
            )
        except Exception as e:  # surface as a per-query problem
            return name, [f"exception: {e!r}"]

    try:
        with ThreadPoolExecutor(max_workers=_POOL_WORKERS) as pool:
            return dict(pool.map(check, _ORACLE_QUERIES))
    finally:
        for con in opened:
            con.close()


@pytest.mark.parametrize("name", _ORACLE_QUERIES)
def test_oracle_parity(parity_results, name):
    problems = parity_results[name]
    assert not problems, f"{name}:\n" + "\n".join(problems)


def test_harness_catches_hugeint_promotion(spark, duck, oracle_sf_dir):
    """Regression (VERDICT r3): DuckDB window SUM(BIGINT) promotes to
    HUGEINT; the driver hash is type-sensitive, so identical VALUES
    still fail the gate. The harness must now catch this class
    locally — a deliberately uncast window-SUM oracle must fail."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    def spark_fn(sp, sf_dir):
        from peerdb_cdc_psql_psql_spark.catalog import load

        nat = load(sp, sf_dir, "nation")
        w = Window.orderBy("n_nationkey").rowsBetween(Window.unboundedPreceding, 0)
        return nat.select(
            "n_nationkey", F.sum("n_regionkey").over(w).alias("cum")
        )

    uncast = """
SELECT n_nationkey,
       SUM(n_regionkey) OVER (ORDER BY n_nationkey ROWS UNBOUNDED PRECEDING) AS cum
FROM nation
"""
    problems = compare_query(spark, duck, "hugeint_probe", spark_fn, uncast, oracle_sf_dir)
    assert any("type drift" in p and "i128" in p for p in problems), problems

    cast = """
SELECT n_nationkey,
       CAST(SUM(n_regionkey) OVER (ORDER BY n_nationkey ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum
FROM nation
"""
    assert not compare_query(spark, duck, "hugeint_probe_cast", spark_fn, cast, oracle_sf_dir)


def test_all_oracles_hugeint_free(duck):
    """Static audit: no registered oracle may return an INT128/HUGEINT
    column — the whole class is banned, not just the 4 r3 instances."""
    from peerdb_cdc_psql_psql_spark.registry import all_oracles

    from .oracle_harness import _canon_duck_type

    bad = []
    for name, sql in all_oracles().items():
        rel = duck.sql(sql)
        for c, t in zip(rel.columns, rel.types):
            if "i128" in _canon_duck_type(str(t)):
                bad.append((name, c, str(t)))
    assert not bad, bad


def test_rows_only_queries_return_rows(spark, oracle_sf_dir):
    """Queries without an oracle still must run and return a stable schema."""
    for name, q in REGISTRY.items():
        if q.oracle is None:
            df = q.fn(spark, oracle_sf_dir)
            assert df.columns, name
            assert df.count() >= 0, name
