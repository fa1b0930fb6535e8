import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


@pytest.fixture(scope="session")
def spark():
    from gdal_spark.session import get_spark
    s = get_spark("gdal-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def own_scratch(monkeypatch, tmp_path):
    """tmp_path stands in for the system temp directory, and the next
    core.vsi.scratch() call makes a fresh scratch root inside it."""
    import tempfile

    from gdal_spark.core import vsi
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(vsi, "_scratch_root", None)
    return tmp_path


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
