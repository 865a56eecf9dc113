"""t2-style oracle check for every registered H-tier query.

Parametrized over the registry so a new @query registration is tested
automatically. Mirrors the driver: sf0.01, DuckDB views, order-insensitive
exact value comparison.
"""

from __future__ import annotations

import duckdb
import pytest

from cloudtrail_streamer_spark.registry import all_specs
from tests.conftest import SF_SMALL, run_conf_checked, run_pair

# slow: the full sweep is the ~30-min bulk of the suite; the fast path
# (-m "not slow", pyproject) relies on the per-round driver window plus
# tools/drive_entry.py <names> for targeted oracle checks instead.
pytestmark = pytest.mark.slow

_H_NAMES = sorted(n for n, s in all_specs().items() if s.tier == "H")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


@pytest.mark.parametrize("name", _H_NAMES)
def test_oracle_match(spark, con, name):
    run_pair(spark, con, name)


@pytest.mark.parametrize(
    "name", ["sink_python_datasource_writer", "sink_python_stream_writer", "stream_stream_join_cert"]
)
def test_rtier_conf_unchanged(spark, name):
    """The R-tier queries have no oracle, so run_pair never runs them:
    the same conf-leak check runs them here at sf0.001."""
    assert len(run_conf_checked(spark, name, SF_SMALL)) >= 1


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert len(df.columns) == 10
