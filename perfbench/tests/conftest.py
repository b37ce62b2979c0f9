"""Fixtures for the benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Run from the repository root.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (ROOT, BENCH):
    if p not in sys.path:
        sys.path.insert(0, p)


@pytest.fixture(scope="session")
def spark():
    from lours_spark.session import get_spark

    # Spark's scratch files stay in the (git-ignored) benchmark work dir
    tmp = os.path.join(ROOT, ".perfbench_work", "tests")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    s = get_spark(
        "perfbench-tests",
        cpus=2,
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
