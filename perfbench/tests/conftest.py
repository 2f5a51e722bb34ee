import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from blueetl_spark.session import get_spark

    local = tmp_path_factory.mktemp("spark-local")
    s = get_spark(app_name="perfbench-tests", master="local[2]", extra_conf={
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(local / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    yield s
    s.stop()
