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
