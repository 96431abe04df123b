"""Session-scoped registry for ``persist()``ed and locally checkpointed
intermediates.

An operator or query builder cannot unpersist its own caches: the returned
DataFrame is consumed later, by a caller it doesn't control, so the cache
must outlive the builder call — but not the session. Every cache is
registered here and the harnesses (perfbench after each job, tests via
fixture teardown) call :func:`release_caches` once the result is
materialized. An UNTRACKED ``.cache()`` inside an operator has no release
path at all: entries accumulate for the session lifetime, one per distinct
canonicalized plan — locally invisible, but at 100 TB each entry is an
image-scale frame pinned in MEMORY_AND_DISK across the cluster (a slow
storage-memory leak). Tracked persists keep the recompute-avoidance win
without the leak; ``tests/test_conf_hygiene.py`` greps the package for
untracked ``.cache()`` sites and asserts :func:`release_caches` leaves the
session's storage empty.

A tracked local checkpoint (:func:`checkpoint_tracked`) is released the
same way, but unlike a persist it has no lineage to fall back on: running
a frame built on it again after :func:`release_caches` fails loudly
(Spark's "Checkpoint block ... not found") instead of recomputing. Release
only once every consumer of the result has run.

Lives outside ``queries/`` so OPERATORS can register caches without a
layering inversion; ``queries.base`` re-exports both names for the
existing call sites.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

_RELEASES: list[Callable[[], object]] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` (MEMORY_AND_DISK) registered for later release.

    Spark's CacheManager dedupes on the canonicalized plan, so repeated
    registration of equivalent frames shares one storage entry (and the
    matching extra unpersists are no-ops)."""
    _RELEASES.append(df.persist().unpersist)
    return df


def checkpoint_tracked(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)`` registered for later release.

    Lazy: the first action over the result fills the checkpoint, so the
    materializing pass is a job the caller runs anyway. The checkpointed
    RDD is the one behind the returned frame's ``LogicalRDD``;
    :func:`release_caches` unpersists it."""
    out = df.localCheckpoint(eager=False)
    rdd = out._jdf.queryExecution().logical().rdd()
    _RELEASES.append(lambda: rdd.unpersist(False))
    return out


def release_caches() -> None:
    """Unpersist every tracked cache and checkpoint (idempotent). Frames
    built on a released checkpoint can no longer run; see the module
    docstring."""
    while _RELEASES:
        _RELEASES.pop()()
