from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from epiteam_network_etl_functions_spark.session import get_session  # noqa: E402

# Small-but-parallel session for tests; sf0.001 data.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

PARITY_SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_session("epiteam-etl-spark-tests")
    # get_session keeps Spark's progress bars out of stderr logs
    assert s.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"
    # STATE_STORE_PROVIDER=rocksdb reruns every streaming test against
    # the RocksDB state store (bundled with Spark 4; verified working —
    # tests/test_round13.py locks targeted parity, this knob sweeps the
    # WHOLE stateful suite):
    #   STATE_STORE_PROVIDER=rocksdb pytest tests/test_streaming*.py \
    #       tests/test_session_window.py tests/test_streaming_lsh.py
    if os.environ.get("STATE_STORE_PROVIDER", "").lower() == "rocksdb":
        s.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    yield s
    s.stop()
