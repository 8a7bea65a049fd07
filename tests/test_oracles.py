"""Every registry query against its oracle, at sf0.001.

Every entry must equal its DuckDB twin (the entry's oracle SQL) on row
count, column names and the order-insensitive value multiset.
``tools/check_oracles.py`` runs the same check at larger scales.
"""

from __future__ import annotations

import pytest

from kgforge.queries import REGISTRY, oracle_gate

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def duck():
    con = oracle_gate.duckdb_views(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(REGISTRY))
def test_matches_duckdb_oracle(spark, duck, name):
    _, problems = oracle_gate.check(spark, duck, SF, REGISTRY[name])
    assert not problems, problems
