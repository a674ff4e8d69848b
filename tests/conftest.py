import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ocr_service_spark.session import build_session

    s = build_session("ocr_service_spark_tests")
    yield s
    s.stop()
