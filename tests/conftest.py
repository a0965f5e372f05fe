import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tmp_parquet_merge_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_CLUSTER_PATHS = ("driver", "distributed")


def _refuse(*_a, **_k):
    raise AssertionError("dedup_clusters took the other path")


@contextlib.contextmanager
def _dedup_cluster_path(path):
    """Run dedup_clusters on one path only; the other one raises.  A
    cap of -1 sends every edge list, the empty one included, to the
    distributed loop."""
    from tmp_parquet_merge_spark.operators import _iter_cache, dedup

    with pytest.MonkeyPatch.context() as m:
        if path == "driver":
            m.setattr(_iter_cache, "keyed_edge_cache", _refuse)
        else:
            m.setattr(dedup, "_DRIVER_EDGES", -1)
            m.setattr(dedup, "_driver_clusters", _refuse)
        yield


@pytest.fixture(scope="session")
def on_cluster_path():
    """``with on_cluster_path(path):`` pins dedup_clusters to one path,
    ``"driver"`` or ``"distributed"``, for a test that checks both in
    one body."""
    return _dedup_cluster_path


@pytest.fixture(params=_CLUSTER_PATHS)
def cluster_path(request):
    with _dedup_cluster_path(request.param):
        yield request.param
