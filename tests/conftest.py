import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")

# Two test tiers (round 12, verdict item 1 — the 45-minute full suite
# exceeded the driver's verify window and truncated mid-run): a plain
# `pytest tests/` runs the DEFAULT tier (~16 min: all operator units,
# plan-shape guards, and the FULL 279-query oracle-parity harness minus
# its q249 recursive-CTE entry); SPARK_GRAFT_FULL_TESTS=1 additionally
# runs the slow tier listed in tests/slow_tier.txt (heavy streaming
# end-to-end parities, the 35-registry crash-replay sweep, numeric
# replays).  The full suite remains the end-of-round ritual.
_FULL_TESTS = os.environ.get("SPARK_GRAFT_FULL_TESTS", "0") in ("1", "true")
_SLOW_REASON = "slow tier (tests/slow_tier.txt); set SPARK_GRAFT_FULL_TESTS=1"


def _slow_tier() -> set[str]:
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tier.txt")
    try:
        with open(path) as f:
            return {
                ln.strip()
                for ln in f
                if ln.strip() and not ln.lstrip().startswith("#")
            }
    except OSError:
        return set()


def pytest_collection_modifyitems(config, items):
    if _FULL_TESTS:
        return
    slow = _slow_tier()
    if not slow:
        return
    marker = pytest.mark.skip(reason=_SLOW_REASON)
    for item in items:
        if f"{item.fspath.basename}::{item.name}" in slow:
            item.add_marker(marker)


def pytest_terminal_summary(terminalreporter):
    n = sum(
        1
        for r in terminalreporter.stats.get("skipped", [])
        if _SLOW_REASON in str(r.longrepr)
    )
    if n:
        terminalreporter.write_line(
            f"*** SLOW TIER NOT RUN: {n} tests in tests/slow_tier.txt were skipped; "
            "run them with SPARK_GRAFT_FULL_TESTS=1 ***",
            yellow=True,
            bold=True,
        )


@pytest.fixture(scope="session")
def spark():
    from patternly_spark.session import get_spark

    s = get_spark("patternly-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture
def both_paths(monkeypatch):
    """Call with the name of a ``plans`` budget, ``"DRIVER_BUDGET_BYTES"``
    (the driver-sized fit, the MSF merge) or ``"TASK_BUDGET_BYTES"`` (the
    one-task graph solves), and iterate to run a test body on both paths
    it gates: first the in-budget path a small test input takes, then the
    distributed path (a zero budget sends every input there).  Yields the
    path's name."""
    from patternly_spark import plans

    def paths(budget):
        yield "in-budget"
        monkeypatch.setattr(plans, budget, 0)
        yield "distributed"

    return paths
