from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineer_coder_spark.session import get_spark
from data_engineer_coder_spark.testing import duck_connect

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("pytest", cpus=8, driver_memory="8g")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
