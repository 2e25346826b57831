from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from waddleml_spark.session import get_spark

    # Small local session for tests: fewer cores/shuffle partitions than the
    # bench config so the suite stays fast on tiny data.
    s = get_spark(app_name="waddleml-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck_smoke():
    from waddleml_spark.testing import duckdb_conn

    con = duckdb_conn(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(scope="session")
def duck_correct():
    from waddleml_spark.testing import duckdb_conn

    con = duckdb_conn(SF_CORRECT)
    yield con
    con.close()


@pytest.fixture()
def tmp_store(tmp_path):
    from waddleml_spark.store import WaddleStore

    return WaddleStore(str(tmp_path / "store"))
