from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from s3bigdatasync_spark.session import get_spark  # noqa: E402
from s3bigdatasync_spark.views import register_all  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("s3bigdatasync-tests")
    register_all(spark, SF_DIR)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
