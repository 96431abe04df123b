"""Scratch-space root for io-write landing dirs, stream sinks, and
bucketed-table paths.

Every query/stream that materializes files does so under ``io_base()``
(default ``/tmp/dask_image_spark_io``), overridable via the
``SPARK_GRAFT_IO_DIR`` environment variable. Two reasons this is a knob
rather than a literal:

* **Cluster posture**: on a real deployment the landing root should be a
  job-scoped path on shared storage (HDFS/S3 staging prefix), not the
  driver's local /tmp — the env var is the seam.
* **Parallel test isolation**: the sharded suite runner
  (``scripts/run_suite_sharded.py``) gives each pytest process its own
  scratch root so concurrently-running shards can never race on a shared
  landing directory (e.g. the bucketed-table fixture is written both by
  ``join_bucketed``'s parity test and by ``tests/test_plans.py``).
"""

from __future__ import annotations

import os
import shutil


def io_base() -> str:
    return os.environ.get("SPARK_GRAFT_IO_DIR", "/tmp/dask_image_spark_io")


def fresh_dir(name: str, sf_dir: str) -> str:
    """Reset and return the landing directory ``io_base()/<name>_<sf tag>``.

    Files written by a prior run over since-regenerated data would
    otherwise be read back with the new ones and break the oracle match
    (ADVICE r5), so every io-write landing directory starts empty. The
    ``sf`` tag keeps runs over different scale factors apart."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = f"{io_base()}/{name}_{tag}"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path
