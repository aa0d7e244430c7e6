from __future__ import annotations

import contextlib
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from chronicle_sniffer_spark.session import get_spark
from chronicle_sniffer_spark.tables import TABLE_NAMES

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture
def crash_before_commit(monkeypatch):
    """Context manager that makes ``manifest.commit`` raise: a bucket
    store's write crashes after its staged data write and before the
    manifest flip."""
    from chronicle_sniffer_spark.streaming import manifest

    def crash(*_args, **_kwargs):
        raise RuntimeError("injected crash before manifest commit")

    @contextlib.contextmanager
    def inject():
        with monkeypatch.context() as mp:
            mp.setattr(manifest, "commit", crash)
            yield

    return inject
