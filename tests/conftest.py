from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, wherever it is cloned
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from nbody6_data_pipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
