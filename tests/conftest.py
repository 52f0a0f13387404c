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


def drop_last_commit(checkpoint_dir: str) -> int:
    """A crash after a micro-batch wrote its output but before the checkpoint
    committed it: delete the checkpoint's newest `commits/<N>` and its
    `.<N>.crc`, so the next start replays batch N. Returns N."""
    commits = Path(checkpoint_dir) / "commits"
    n = max(int(f.name) for f in commits.iterdir() if f.name.isdigit())
    (commits / str(n)).unlink()
    (commits / f".{n}.crc").unlink(missing_ok=True)
    return n
