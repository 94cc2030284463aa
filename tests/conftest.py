"""Shared Spark fixture: one local session for the whole test run.

``local[8]`` with 8 shuffle partitions, so the tiny fixture tables don't
drown in empty tasks. AQE stays on for the session; ``run_rounds`` turns it
off for the crawl, so the crawl's per-wave shuffles run all 8 partitions.
"""

from __future__ import annotations

import pytest

from genesis_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="genesis-tests", cores=8,
                  shuffle_partitions=8)
    yield s
    s.stop()
