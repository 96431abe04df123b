from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dask_image_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MID = "/root/testdata/sf0.01"


def pytest_collection_modifyitems(config, items):
    """Opt-in suite sharding (VERDICT r12 item 4: trim the ~19-min serial
    suite wall). ``SUITE_SHARD=i/N`` keeps only the items whose nodeid
    CRC lands in shard ``i`` (0-based); `scripts/run_suite_sharded.py`
    launches N pytest processes in parallel, each with its own Spark
    session and its own ``SPARK_GRAFT_IO_DIR`` scratch root so landing
    dirs never race across processes. Hash-by-nodeid keeps every
    parametrized case (each of the 542 parity pairs is its own item)
    independently placeable, and the union over shards is exactly the
    serial suite — identical coverage, ~1/N wall."""
    import zlib

    shard = os.environ.get("SUITE_SHARD")
    if not shard:
        return
    idx, n = (int(x) for x in shard.split("/"))
    keep, drop = [], []
    for it in items:
        (keep if zlib.crc32(it.nodeid.encode()) % n == idx else drop).append(it)
    items[:] = keep
    config.hook.pytest_deselected(items=drop)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dask-image-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_MID


@pytest.fixture(autouse=True)
def _release_query_caches():
    """Unpersist tracked intermediates after every test so cached count /
    posting tables never accumulate across the 500-test session."""
    yield
    from dask_image_spark import queries as q

    q.release_caches()
