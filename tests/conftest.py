import pytest

from keras_ocr_spark.plans.session import build_session


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: spark-submit end-to-end tests that take minutes")


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="keras_ocr_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
