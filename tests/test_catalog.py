"""Fixture catalog: the per-process schema memo must follow the files."""

from __future__ import annotations

from peerdb_cdc_psql_psql_spark import catalog


def test_schema_memo_follows_overwritten_fixture(spark, tmp_path):
    """``catalog.load`` memoizes the arrived parquet schema per path;
    overwriting a fixture dir in place with a different schema must
    hand back the NEW schema, not the memoized one."""
    sf_dir = str(tmp_path / "sf")
    path = f"{sf_dir}/region.parquet"
    spark.createDataFrame([(0, "AFRICA", "c")], "r_regionkey long, r_name string, r_comment string") \
        .write.mode("overwrite").parquet(path)
    first = catalog.load(spark, sf_dir, "region")
    assert first.columns == ["r_regionkey", "r_name", "r_comment"]

    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string") \
        .write.mode("overwrite").parquet(path)
    again = catalog.load(spark, sf_dir, "region")
    assert again.columns == ["r_regionkey", "r_name"]
    assert again.collect() == [(0, "AFRICA")]


def test_load_repins_session_timezone_changed_mid_session(spark, sf_dir):
    """The pin-once fast path still re-checks the session timezone: a
    caller that switches it after the first load gets UTC back on the
    next ``catalog.load`` (timestamp results depend on it)."""
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    try:
        catalog.load(spark, sf_dir, "region")  # the session is pinned
        spark.conf.set(key, "America/New_York")
        catalog.load(spark, sf_dir, "region")
        assert spark.conf.get(key) == "UTC"
    finally:
        spark.conf.set(key, before)
