from __future__ import annotations

import pytest

from basic_common_crawl_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def cache():
    """The list an operator's ``cache=`` fills; every frame in it is
    unpersisted after the test."""
    frames: list = []
    yield frames
    for df in frames:
        df.unpersist()


SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
