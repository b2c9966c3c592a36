import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duckdb_iceberg_spark.entries.layout import REFERENCE_ICEBERG as REFERENCE_DATA  # noqa: E402

# Tests that read the reference repo's checked-in Iceberg tables: their
# golden values belong to those exact files, so without the directory
# they skip rather than fail on a missing path.
requires_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE_DATA),
    reason=f"reference Iceberg tables not found: {REFERENCE_DATA} does not exist",
)

TESTDATA = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # driver heap: half the host's physical memory, within [2g, 24g], so
    # the suite's JVM fits beside the test process on a small host
    half_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(24, max(2, half_gb))}g")
    from duckdb_iceberg_spark import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@pytest.fixture
def moved_table(tmp_path_factory):
    """``move(path)``: moves a table this engine wrote to a fresh root and
    returns the new path. Its metadata and manifests still name the old
    root, which no longer exists, so only ``allow_moved_paths=True``
    reads it: the shape of the reference's checked-in tables."""

    def move(path: str) -> str:
        dst = str(tmp_path_factory.mktemp("moved") / os.path.basename(path))
        shutil.move(path, dst)
        return dst

    return move
