from __future__ import annotations

import pytest

from colbert_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="colbert-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def force_path(monkeypatch):
    """force_path("gather" | "scatter") pins Searcher.search_all's path
    choice by moving its query-count (and head-term df) thresholds."""
    from colbert_spark.plans.searcher import Searcher

    def force(path: str) -> None:
        assert path in ("gather", "scatter")
        big = 1 << 62
        monkeypatch.setattr(Searcher, "_AUTO_SCATTER_QUERIES",
                            0 if path == "scatter" else big)
        monkeypatch.setattr(Searcher, "_AUTO_SCATTER_DF", big)

    return force
