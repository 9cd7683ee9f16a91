import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from transitlog_hfp_sink_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: Suite tiering (round 12, VERDICT r11 #2): the FULL suite ran ~23-35
#: minutes and did not fit the driver's verify window (VERIFY_r11
#: timed out at ~86% with zero failures). Tests marked `slow` — the
#: soak/endurance runs, the spark-submit-subprocess app tests (~30-160 s
#: each, dominated by child-JVM startup), and the heaviest hypothesis
#: properties — are SKIPPED by default and run when
#: SPARK_GRAFT_FULL_TESTS=1 is set (CI / release gate). The default
#: tier keeps every operator's functional, referee, and plan-shape
#: coverage and finishes in ~10 minutes. A slow test named by node id on
#: the command line (`pytest tests/x.py::test_y`) always runs.
RUN_SLOW = os.environ.get("SPARK_GRAFT_FULL_TESTS", "") not in ("", "0")


def _named_node_ids(config) -> set[str]:
    """Node ids given on the command line, relative to the rootdir as
    item.nodeid is."""
    named = set()
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if not sep:
            continue
        full = (config.invocation_params.dir / path).resolve()
        try:
            rel = full.relative_to(config.rootpath)
        except ValueError:
            continue
        named.add(f"{rel.as_posix()}::{rest}")
    return named


def pytest_collection_modifyitems(config, items):
    if RUN_SLOW or config.getoption("-m", default=""):
        # an explicit -m expression (e.g. `-m slow`) takes over selection
        return
    named = _named_node_ids(config)
    skip = pytest.mark.skip(
        reason="slow tier: set SPARK_GRAFT_FULL_TESTS=1 to run"
    )
    for item in items:
        explicit = item.nodeid in named or item.nodeid.split("[")[0] in named
        if "slow" in item.keywords and not explicit:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
