import os
import shutil
import tempfile
from collections import Counter

import pytest


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_spark.session import get_spark

    s = get_spark("tests", cpus=os.environ.get("TEST_CPUS", "4"), shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_root():
    d = tempfile.mkdtemp(prefix="lss_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def pytest_terminal_summary(terminalreporter):
    """Print the skipped tests grouped by reason, with counts, so a run
    without the compiled Lucene reference shows that its skips are the
    ground-truth tier rather than one bare skip count."""
    reasons = Counter()
    for rep in terminalreporter.stats.get("skipped", []):
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else str(rep.longrepr)
        reasons[reason.removeprefix("Skipped: ")] += 1
    if reasons:
        terminalreporter.section("skipped tests by reason")
        for reason, n in reasons.most_common():
            terminalreporter.line(f"{n:5d}  {reason}")
