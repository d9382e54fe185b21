from __future__ import annotations

import os
import sys

import pytest

# the checkout this conftest lives in, never an installed or other copy
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import ner_pytorch_spark  # noqa: E402

assert os.path.abspath(ner_pytorch_spark.__file__).startswith(
    os.path.join(ROOT, "")), (
    f"tests in {ROOT} imported ner_pytorch_spark from "
    f"{ner_pytorch_spark.__file__}")


@pytest.fixture(scope="session")
def spark():
    from ner_pytorch_spark.session import get_spark

    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
