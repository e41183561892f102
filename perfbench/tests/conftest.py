import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import pytest  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from bigdata_logs_spark.session import get_spark

    work = tmp_path_factory.mktemp("spark")
    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2, extra_conf={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.local.dir": str(work / "local"),
    })
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
