import glob
import os
import shutil
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The suite always exercises the LIVE ANN training plans: every plan
# audit and capacity test must pin the real build, not a cache scan.
# tests/test_ann_cache.py re-enables the persisted-index path
# explicitly and diffs both branches row-for-row.
os.environ["SPARK_GRAFT_ANN_CACHE"] = "0"
# Same rule for the budget gate's cached decision record: the suite
# always drains the live topology (tests/test_gate_cache.py turns the
# cache on explicitly and diffs both branches row-for-row).
os.environ["SPARK_GRAFT_GATE_CACHE"] = "0"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from durablestreams_spark.session import get_spark

    s = get_spark("durablestreams_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session", autouse=True)
def _drop_tmp_path_caches(tmp_path_factory):
    """Remove the marker-cached artifacts built over this session's
    ``tmp_path`` dirs.  ``cache_marker.cache_root`` keys an artifact
    on its fixture dir's basename, so a build over a ``tmp_path``
    lands in ``/tmp/durablestreams_<tag>_vN/<tmp_path name>``, which
    pytest's own temp cleanup never reaches.  Only roots named after
    a dir of this session's base temp and written since the session
    started go; a same-named root left by an earlier run stays."""
    started = time.time()
    yield
    base = tmp_path_factory.getbasetemp()
    for name in os.listdir(base):
        for root in glob.glob(f"/tmp/durablestreams_*_v*/{glob.escape(name)}"):
            if os.path.isdir(root) and os.stat(root).st_mtime >= started:
                shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def catalog(tmp_path):
    from durablestreams_spark import StreamCatalog

    return StreamCatalog(str(tmp_path / "streams"))


def sf_dir(sf: str = "0.001") -> str:
    return f"/root/testdata/sf{sf}"
