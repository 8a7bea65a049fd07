from __future__ import annotations

import pytest

from kgforge.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="kgforge-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def same_rows():
    """Oracle comparison of a Spark result with a DuckDB one: row count,
    column names and an order-insensitive multiset of stringified cells
    (columns sorted by name) must all agree."""

    def check(got_cols, got_rows, want_cols, want_rows):
        def norm(cols, rows):
            order = sorted(range(len(cols)), key=cols.__getitem__)

            def cell(v):
                if v is None:
                    return "NULL"
                return repr(v) if isinstance(v, float) else str(v)

            return sorted(tuple(cell(r[i]) for i in order) for r in rows)

        assert len(got_rows) == len(want_rows)
        assert sorted(got_cols) == sorted(want_cols)
        assert norm(got_cols, got_rows) == norm(want_cols, want_rows)

    return check
