import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    cores = int(os.environ.setdefault("SPARK_GRAFT_CPUS", "8"))
    from geotile.session import get_spark

    s = get_spark("geotile-tests", cores=cores, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
