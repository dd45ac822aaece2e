from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from usc_ds_relationextraction_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8,
                  extra_conf={"spark.driver.memory": "6g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    """20 deterministic conversations — shared across tests."""
    from usc_ds_relationextraction_spark.sources import synthetic as syn
    return syn.transcripts(spark, 20).cache()


@pytest.fixture(autouse=True)
def no_stream_left_running():
    """Fails a test that leaves a streaming query running, after stopping
    the query.  Starts no Spark session when none is active."""
    yield
    from pyspark.sql import SparkSession
    session = SparkSession.getActiveSession()
    if session is None:
        return
    left = session.streams.active
    for q in left:
        q.stop()
    assert not left, \
        f"streaming queries left running: {[q.name or q.id for q in left]}"
