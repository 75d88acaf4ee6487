from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from e_commerce_data_warehouse_recommendation_system_spark.session import get_spark

    # Small local session: parity tests run on tiny frames; local[4] also
    # sizes shuffles to 4 partitions, which keeps per-test latency down.
    return get_spark(app_name="ecomdw-tests", master="local[4]")


SF0001 = "/root/testdata/sf0.001"
