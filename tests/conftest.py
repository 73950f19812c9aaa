from __future__ import annotations

import os

import pytest

from hiispider_spark.session import get_spark
from hiispider_spark.sources.synth import SynthConfig, synth_pages, synth_robots, synth_seeds

SF_DIR = "/root/testdata/sf0.001"
# tiny corpus for fast operator tests (n_hosts floors at 10)
TINY = SynthConfig(n_pages=400, n_docs=500)

# The session factory's default driver heap is a quarter of physical
# RAM. The suite pins 6g so that it runs with the same heap on every
# host; the test corpora are tiny, 6g is ample. setdefault keeps an
# explicit SPARK_DRIVER_MEM, and subprocess sessions inherit the value.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="hiispider-tests", cpus=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_pages(spark):
    return synth_pages(spark, SF_DIR, TINY).persist()


@pytest.fixture(scope="session")
def tiny_seeds(spark):
    return synth_seeds(spark, SF_DIR, TINY)


@pytest.fixture(scope="session")
def tiny_robots(spark):
    return synth_robots(spark, SF_DIR, TINY)
