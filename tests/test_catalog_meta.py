"""Meta-invariants of the query catalog and its harness wiring: a typo in
the rotation list or bench list silently wastes driver window slots or
bench coverage, so pin them."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simpletasks_data_spark import queries as Q  # noqa: E402


def test_check_first_names_are_registered():
    registered = set(Q._QUERIES)
    missing = [n for n in Q._CHECK_FIRST if n not in registered]
    assert not missing, f"rotation list references unknown queries: {missing}"


def test_check_first_typo_fails_loudly():
    """A misspelled or repeated rotation entry raises at import time
    instead of being dropped from the driver window."""
    with pytest.raises(ValueError, match="q1_pricing_sumary"):
        Q._validate_check_first(Q._CHECK_FIRST + ["q1_pricing_sumary"], Q._QUERIES)
    dup = Q._CHECK_FIRST[0]
    with pytest.raises(ValueError, match=f"duplicated queries \\['{dup}'\\]"):
        Q._validate_check_first(Q._CHECK_FIRST + [dup], Q._QUERIES)


def test_every_oracle_has_a_query():
    orphans = set(Q._ORACLES) - set(Q._QUERIES)
    assert not orphans, f"oracles without queries: {orphans}"


def test_window_is_full_and_oracle_backed():
    """The driver checks the first 50 — every slot must exist and carry
    an oracle (rows-only checks are a weaker gate, only for genuinely
    non-SQL-expressible ops, none of which should sit in the window)."""
    window = list(Q.queries())[:50]
    assert len(window) == 50
    oracles = Q.oracle_sql()
    missing = [n for n in window if n not in oracles]
    assert not missing, f"window queries without oracles: {missing}"


def test_bench_queries_are_registered():
    import bench

    registered = set(Q._QUERIES)
    missing = [n for n in bench.BENCH_QUERIES if n not in registered]
    assert not missing, f"bench list references unknown queries: {missing}"
    # baseline-continuity subset must stay benchable
    missing_base = [n for n in bench.BASELINE_SUBSET if n not in bench.BENCH_QUERIES]
    assert not missing_base


def test_rotation_has_no_intra_window_duplicates():
    window = list(Q.queries())[:50]
    assert len(set(window)) == 50
