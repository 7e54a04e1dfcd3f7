"""Every registered DuckDB oracle prepares over the driver tables.

The oracles are assembled from shared SQL fragments
(``pywrangler_spark/queries/_shared.py``); a broken fragment shows up
here as a bind or parse error instead of first in the correctness gate.
``EXPLAIN`` plans each query without running it.
"""

import pytest

from pywrangler_spark.queries import ORACLES
from pywrangler_spark.sources import TABLE_NAMES, sf_path

duckdb = pytest.importorskip("duckdb")

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_path(SF, name)}'"
        )
    yield con
    con.close()


def test_registry_keeps_its_oracles():
    assert len(ORACLES) >= 138


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_prepares(con, name):
    con.execute(f"EXPLAIN {ORACLES[name]}")
