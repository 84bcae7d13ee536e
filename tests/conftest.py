from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from logspark.session import get_spark

    s = get_spark(cores=8, app="logspark-tests")
    yield s


@pytest.fixture(scope="session")
def small_corpus(spark):
    """2000-row deterministic tokenized corpus (cached for the session)."""
    from logspark import synth

    df = synth.corpus(spark, 2000).cache()
    df.count()
    return df
