"""Registry size: the documented query split lives here, once."""

from __future__ import annotations

from kgforge.queries import REGISTRY


def test_registry_counts_match_docs():
    """ADVICE r3: COVERAGE.md and the README drifted to different query
    counts. The documented split lives HERE, once; update this test and
    both docs together when the registry changes."""
    oracle = sum(1 for qd in REGISTRY.values() if qd.sql)
    assert (len(REGISTRY), oracle) == (46, 46), (len(REGISTRY), oracle)
