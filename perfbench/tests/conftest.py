import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]
sys.dont_write_bytecode = True


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("spark")
    os.environ.setdefault("SPARK_LOCAL_DIRS", str(work))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("SPARK_GRAFT_LAYOUT_CACHE", str(work / "layout"))
    os.environ.setdefault("SPARK_GRAFT_INDEX_CACHE", str(work / "index"))
    from scala_reactivex_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def data_dir(tmp_path_factory):
    """A copy of the sf0.001 fixture tables: 1 000 events, 6 000 line
    items, 500 documents, 500 embeddings."""
    import shutil

    import workloads

    d = tmp_path_factory.mktemp("data") / "sf0.001"
    shutil.copytree(os.path.join(workloads.DATA_DIR, "sf0.001"), d)
    return str(d)
