import pytest

from qwen_ocr_spark.plans.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="qwen-ocr-spark-tests")
    yield s
    s.stop()
