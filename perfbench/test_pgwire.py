"""Test of the benchmark's Postgres client against a live WireServer.

Run from the repository root: ``python3 -m pytest perfbench/test_pgwire.py -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from pgwire import PgConnection, PgError  # noqa: E402


@pytest.fixture(scope="module")
def port(tmp_path_factory):
    from peerdb_cdc_psql_psql_spark.catalog import DEMO_SCHEMAS
    from peerdb_cdc_psql_psql_spark.session import get_spark
    from peerdb_cdc_psql_psql_spark.wire import WireServer

    root = tmp_path_factory.mktemp("wire")
    os.makedirs(root / "wal")
    spark = get_spark("pgwire-test", cpus=2, shuffle_partitions=2)
    srv = WireServer(spark, port=0, mirror_env=dict(
        schemas=DEMO_SCHEMAS, event_dir=str(root / "wal"),
        target_root=str(root / "target"), checkpoint_root=str(root / "ckpt")))
    yield srv.start()
    srv.stop()


def test_rows_nulls_and_tags(port):
    with PgConnection("127.0.0.1", port) as c:
        r = c.query("SELECT id, CASE WHEN id = 1 THEN NULL ELSE 'x' END AS v "
                    "FROM range(3) ORDER BY id")
        assert r.columns == ["id", "v"]
        assert r.rows == [("0", "x"), ("1", None), ("2", "x")]
        assert r.tag == "SELECT 3"


def test_error_then_connection_still_usable(port):
    with PgConnection("127.0.0.1", port) as c:
        with pytest.raises(PgError) as e:
            c.query("SELECT * FROM no_such_table_anywhere")
        assert e.value.fields.get("M")
        assert c.query("SELECT 41 + 1").rows == [("42",)]


def test_dml_command_complete(port):
    with PgConnection("127.0.0.1", port) as c:
        r = c.query("INSERT INTO customers (id, first_name, last_name, email) "
                    "VALUES (1, 'a', 'b', 'c@d'), (2, 'e', 'f', 'g@h')")
        assert r.tag == "INSERT 0 2" and r.rows == []
        assert c.query("UPDATE customers SET email = 'z@z' WHERE id = 2").tag == "UPDATE 1"
