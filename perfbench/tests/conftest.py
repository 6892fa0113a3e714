import os
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import run  # noqa: E402

WORK = tempfile.mkdtemp(prefix="perfbench-tests-")
run._environment(WORK)  # before pyspark or the package is imported


@pytest.fixture(scope="session")
def spark():
    from endtoend_etl_openmeteo_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]",
                  extra_conf={"spark.sql.shuffle.partitions": "2",
                              "spark.ui.showConsoleProgress": "false",
                              "spark.local.dir": os.path.join(WORK, "tmp")})
    yield s
    s.stop()
