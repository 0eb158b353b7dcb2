import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from simpletasks_data_spark.session import get_spark  # noqa: E402


def pytest_ignore_collect(collection_path, config):
    """Default-suite budget (VERDICT r11 item 5: `pytest tests/` must
    finish inside external harness timeouts). The 21 historical
    `test_round9*_queries.py` batch-pin files (~160 tests, ~5 min) are
    skipped by default — every query they pin also has a declared
    oracle covered by the FULL parity sweep — and run in the round-close
    gate (`scripts/round_end.sh` sets SPARK_GRAFT_FULL_PARITY=1, which
    also re-enables them here)."""
    if os.environ.get("SPARK_GRAFT_FULL_PARITY"):
        return None
    if collection_path.name.startswith("test_round9"):
        return True
    return None


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="simpletasks-data-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture
def cc_paths(monkeypatch):
    """``for _ in cc_paths(): ...`` runs a connected-components check
    under both paths: first the driver-side union-find (graphs at or
    under ``LOCAL_CC_MAX_EDGES``), then the distributed loops (cap
    monkeypatched to 0). Asserts that each pass took the path it names."""
    from simpletasks_data_spark.operators import graph

    calls = []
    local = graph._local_components
    monkeypatch.setattr(graph, "_local_components", lambda e: calls.append(1) or local(e))

    def paths():
        yield "local"
        assert calls, "no connected-components call took the local path"
        calls.clear()
        monkeypatch.setattr(graph, "LOCAL_CC_MAX_EDGES", 0)
        yield "distributed"
        assert not calls, "a connected-components call took the local path"

    return paths
