"""Operator-library queries + DuckDB oracle SQL (driver correctness gate).

One named query per implemented operator family from SURVEY.md §2, each a
``(spark_fn, oracle_sql)`` pair over the driver's read-only parquet tables.
Cross-engine determinism rules used throughout (compared by oracle_gate.py):

- double SUMs go through decimal casts (exact, order-insensitive) and back
  to double; AVG/STDDEV outputs are rounded symmetrically on both sides;
- timestamps leave the query as formatted strings;
- every top-k has a total tie-break order;
- md5 (identical hex in both engines) is the portable hash for the
  fingerprint / decontamination oracles; the scale path swaps xxhash64 in.

Package layout (split from the 3,300-line monolith in round 5, VERDICT r4
#8 — every (fn, sql) pair unchanged; importing this package registers every
query, in definition order):

- ``core``       registry spine: Q, REGISTRY, @q, t(), exact-sum helpers
- ``relational`` q01-q17 (TPC-H-ish aggs, windows, joins, top-k)
- ``corpus``     q25-q28/q47-q48/q52-q54/q56-q57/q60-q65/q67/q69-q74/
                 q76-q78/q81-q82 (range joins, mixing, quantization,
                 decontam, length percentiles, CDC, funnel)
- ``oracle_gate`` the Spark-vs-DuckDB comparison behind
                 tests/test_oracles.py and tools/check_oracles.py
"""

from __future__ import annotations

from kgforge.queries.core import (  # noqa: F401
    Q,
    REGISTRY,
    _dec_sum,
    _exact_stddev,
    q,
    t,
)

# Importing each module registers its queries into REGISTRY in definition
# order. Order here mirrors the old monolith.
from kgforge.queries import relational as _relational  # noqa: E402,F401
from kgforge.queries import corpus as _corpus  # noqa: E402,F401
from kgforge.queries.corpus import grid_range_join  # noqa: F401
