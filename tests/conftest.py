import sys
import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


@pytest.fixture(scope="session")
def spark():
    from polars_ds_extension_spark.session import get_spark

    s = get_spark(app="pds-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _owned_frames():
    """Run each test inside one `owned()` block: frames its operators
    materialize for their caller are released when the test ends, so
    the session-scoped Spark session does not accumulate caches."""
    from polars_ds_extension_spark._utils import owned

    with owned():
        yield
