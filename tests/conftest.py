from __future__ import annotations

import os

import pytest

from go_htmldate_spark.sources.mockcorpus import MOCK_DIR


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "reference_corpus: reads the reference implementation's test files "
        "(the paper-parity evidence); skipped where they are absent",
    )


def pytest_collection_modifyitems(config, items):
    if os.path.isdir(MOCK_DIR):
        return
    skip = pytest.mark.skip(
        reason=f"reference corpus not present ({MOCK_DIR} is missing)"
    )
    for item in items:
        if "reference_corpus" in item.keywords:
            item.add_marker(skip, append=False)


@pytest.fixture(scope="session")
def spark():
    from go_htmldate_spark.session import get_spark

    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()
