"""Session-scoped registry for ``persist()``ed intermediates.

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

Lives outside ``queries/`` so OPERATORS can register caches without a
layering inversion; ``queries.base`` re-exports both names for the
existing call sites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PERSISTED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """``df.persist()`` (MEMORY_AND_DISK) registered for later release.

    Spark's CacheManager dedupes on the canonicalized plan, so repeated
    registration of equivalent frames shares one storage entry (and the
    matching extra unpersists are no-ops)."""
    _PERSISTED.append(df.persist())
    return df


def release_caches() -> None:
    """Unpersist every tracked cache (idempotent, safe mid-session)."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
