import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get('SPARK_GRAFT_TESTDATA', '/root/testdata')


@pytest.fixture(scope='session')
def spark():
    from pyspark.sql import SparkSession
    s = (
        SparkSession.builder
        .master('local[4]')
        .appName('rbql-spark-tests')
        .config('spark.sql.shuffle.partitions', '4')
        .config('spark.default.parallelism', '4')
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
        # as rbql_spark.session.build_session: no Python call-site capture
        # on every Column call
        .config('spark.python.sql.dataFrameDebugging.enabled', 'false')
        .config('spark.ui.enabled', 'false')
        .config('spark.driver.memory', '4g')
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope='session')
def sf_dir():
    return os.path.join(TESTDATA, 'sf0.001')


def _reference_absent(report) -> bool:
    """A skip caused by a missing reference checkout, corpus or package."""
    longrepr = report.longrepr
    reason = longrepr[2] if isinstance(longrepr, tuple) else str(longrepr)
    return 'not available' in reason and ('reference' in reason
                                          or 'rbql' in reason)


def pytest_terminal_summary(terminalreporter):
    # A green run without the reference is not a conformance result: say
    # how much of the reference-parity suite did not run.
    n = sum(1 for r in terminalreporter.stats.get('skipped', [])
            if _reference_absent(r))
    if n:
        terminalreporter.write_sep(
            '=', '{} skipped: reference checkout or rbql package absent; '
                 'reference conformance NOT checked'.format(n), yellow=True)
