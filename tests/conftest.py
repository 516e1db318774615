from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, so a suite run from another
# copy of the repo imports that copy's package
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from mcp_vector_search_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(autouse=True)
def no_stream_left_running():
    """Fail any test that leaves a streaming query running: a live
    query keeps scheduling batches through every later test. The
    leftovers are stopped first so the next test starts clean."""
    yield
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    left = session.streams.active if session is not None else []
    for q in left:
        q.stop()
    if left:
        pytest.fail(f"test left {len(left)} streaming quer(y/ies) running: "
                    f"{[q.name or q.id for q in left]}")


@pytest.fixture(scope="session")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "src/a.py"),
        (1, "the quick brown fox jumps over the lazy dog", "src/b.py"),  # exact dup of 0
        (2, "pack my box with five dozen liquor jugs", "src/c.py"),
        (3, "the quick brown fox leaps over the lazy dog", "src/d.py"),  # near dup of 0
        (4, "spark sql runs relational queries at scale", "src/e.py"),
        (5, "", "src/empty.py"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")
