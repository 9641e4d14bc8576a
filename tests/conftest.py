import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from dandi_s3_log_parser_spark.session import get_spark  # noqa: E402

REFERENCE = Path("/root/reference")
TESTDATA = Path("/root/testdata")


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: long-running end-to-end test")
    config.addinivalue_line(
        "markers",
        "iceberg: needs a real iceberg-spark-runtime jar (SPARK_ICEBERG_JAR)",
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=8, shuffle_partitions=8, driver_memory="16g")
    yield spark


@pytest.fixture(scope="session")
def reference_dir():
    """The reference checkout's golden fixtures; tests needing them skip
    when it is absent (their semantics are also pinned on synthetic
    data in ``test_parsing_reference_fixtures.py``)."""
    if not REFERENCE.is_dir():
        pytest.skip(f"reference fixtures not present at {REFERENCE}")
    return REFERENCE


@pytest.fixture(scope="session")
def testdata_dir():
    return TESTDATA
