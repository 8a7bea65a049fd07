"""Every registry query against its oracle, at sf0.001.

Entries with oracle SQL must equal their DuckDB twin on row count, column
names and the order-insensitive value multiset; rows-only entries must run
and collect. ``tools/check_oracles.py`` runs the same check at larger
scales.
"""

from __future__ import annotations

import pytest

from kgforge.queries import REGISTRY, oracle_gate

SF = "/root/testdata/sf0.001"
WITH_SQL = [name for name, qd in REGISTRY.items() if qd.sql is not None]
ROWS_ONLY = [name for name, qd in REGISTRY.items() if qd.sql is None]


@pytest.fixture(scope="module")
def duck():
    con = oracle_gate.duckdb_views(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", WITH_SQL)
def test_matches_duckdb_oracle(spark, duck, name):
    _, problems = oracle_gate.check(spark, duck, SF, REGISTRY[name])
    assert not problems, problems


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, duck, name):
    oracle_gate.check(spark, duck, SF, REGISTRY[name])
