from __future__ import annotations

import os

import pytest

from gdal_spark.session import get_spark

# The autotest tree of the reference checkout, which sits next to this one:
# its fixtures are read in place, never copied into this repo.
REFERENCE_AUTOTEST = os.environ.get("GDAL_REFERENCE_AUTOTEST", os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "..", "reference", "autotest")))
ABSENT = "reference fixture absent: "


def reference_fixture(relpath: str) -> str:
    """Path of a reference autotest fixture (relative to the autotest
    root); skips the calling test only when that file is missing."""
    path = os.path.join(REFERENCE_AUTOTEST, relpath)
    if not os.path.exists(path):
        pytest.skip(ABSENT + path)
    return path


@pytest.fixture(scope="session")
def spark():
    s = get_spark("gdal_spark_tests", cores=8, shuffle_partitions=8)
    yield s


def pytest_terminal_summary(terminalreporter):
    """Make lost coverage visible: how many tests skipped, and how many of
    those for want of a reference fixture."""
    skipped = terminalreporter.stats.get("skipped", [])
    absent = sum(1 for r in skipped
                 if isinstance(r.longrepr, tuple) and ABSENT in str(r.longrepr[2]))
    terminalreporter.write_line(
        f"skipped: {len(skipped)} ({absent} for an absent reference fixture)")
