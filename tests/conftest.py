from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest belongs to, first on the path, so a test run
# from any checkout imports that checkout's package (test modules rely on it)
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tern_ep_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": wh},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
