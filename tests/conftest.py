from __future__ import annotations

import pytest

from polars_text_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        "polars-text-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false", "spark.driver.memory": "8g"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def pytest_collection_modifyitems(config, items):
    """Two-tier suite: the heavy lifecycle/property/parity tests listed
    in tests/slow_tests.txt are marked ``slow`` and deselected by the
    default ``addopts = -m "not slow"``, so the default invocation
    finishes in ~12 min while still exercising every operator (every
    test file keeps at least one fast test). Run the FULL suite with:

        python -m pytest tests/ -m "slow or not slow"

    The same ``-m`` is needed to run ONE slow test by name — without it
    the default marker filter deselects it and pytest selects nothing:

        python -m pytest "tests/test_x.py::test_y" -m "slow or not slow"

    A manifest entry that matches no collected test (a renamed or
    deleted test) would silently move nothing into the slow tier, so it
    is reported as a warning whenever its test file was collected or no
    longer exists."""
    import os
    import warnings

    here = os.path.dirname(__file__)
    manifest = os.path.join(here, "slow_tests.txt")
    if not os.path.exists(manifest):
        return
    with open(manifest) as fh:
        slow = {line.strip() for line in fh if line.strip()}
    collected: set[str] = set()
    for item in items:
        nodeid = item.nodeid.removeprefix("tests/")
        collected.add(nodeid)
        if nodeid in slow:
            item.add_marker(pytest.mark.slow)
    files = {nodeid.split("::")[0] for nodeid in collected}
    stale = sorted(
        entry for entry in slow - collected
        if entry.split("::")[0] in files
        or not os.path.exists(os.path.join(here, entry.split("::")[0]))
    )
    if stale:
        warnings.warn(
            "tests/slow_tests.txt entries match no collected test: "
            + ", ".join(stale),
            pytest.PytestWarning,
        )
