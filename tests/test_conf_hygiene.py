"""Session-conf hygiene: queries that flip SQL confs for their own scan or
parse path must restore them before returning (ADVICE r9 — a leaked
``parquet.aggregatePushdown`` silently changes every later DSv2 aggregate's
plan shape; a leaked ``scripting.enabled`` widens the SQL surface for every
later ``spark.sql`` call)."""

from __future__ import annotations

from dask_image_spark import queries as _q
from dask_image_spark.queries.base import REGISTRY
from tests.conftest import SF_MID

_q.load_all()  # REGISTRY access must not depend on sibling-module imports

WATCHED = (
    "spark.sql.parquet.aggregatePushdown",
    "spark.sql.sources.useV1SourceList",
    "spark.sql.scripting.enabled",
)


def _snapshot(spark):
    return {k: spark.conf.get(k) for k in WATCHED}


def test_scan_agg_pushdown_restores_confs(spark):
    before = _snapshot(spark)
    REGISTRY["scan_agg_pushdown"].fn(spark, SF_MID).collect()
    assert _snapshot(spark) == before


def test_sql_scripting_block_restores_confs(spark):
    before = _snapshot(spark)
    REGISTRY["sql_scripting_block"].fn(spark, SF_MID).collect()
    assert _snapshot(spark) == before


def test_no_untracked_cache_sites():
    """Round-14 cache hygiene (VERDICT r13 item 4): every materialization
    inside dask_image_spark/ must go through caching.persist_tracked so
    release_caches() can free it — a bare .cache()/.persist() in an
    operator pins one entry per distinct plan in executor storage for the
    session's lifetime (at 100 TB: an image-scale frame per axis pass per
    image). AST-checked so docstrings don't count."""
    import ast
    import pathlib

    import dask_image_spark

    pkg = pathlib.Path(dask_image_spark.__file__).parent
    offenders = []
    for path in pkg.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("cache", "persist")
            ):
                # caching.py's own registry call is the one allowed persist
                if path.name == "caching.py":
                    continue
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not offenders, (
        f"untracked cache()/persist() call sites: {offenders} — route "
        "through dask_image_spark.caching.persist_tracked"
    )


def test_release_caches_leaves_no_tracked_storage(spark):
    """release_caches() must actually empty the session's storage of
    everything persist_tracked registered (the spline/pixelgrid/band-table
    persists converted from bare cache() in round 14). Delta-based: other
    tests' localCheckpoint RDDs legitimately live in storage."""
    from pyspark.sql import functions as F

    from dask_image_spark import queries as q
    from dask_image_spark.functions.pixelgrid import pixel_grid
    from dask_image_spark.operators.chunked import spline_filter1d

    q.release_caches()  # start from a clean registry
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    grid = pixel_grid(spark, SF_MID)
    grid.count()  # materialize the tracked persist
    px = spark.range(64).select(
        (F.col("id") % 8).cast("int").alias("y"),
        (F.col("id") / 8).cast("int").alias("x"),
        F.col("id").cast("double").alias("value"),
    )
    spline_filter1d(px, axis=0).count()

    during = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert during - before, "expected tracked persists to appear in storage"

    q.release_caches()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert not (after - before), (
        f"release_caches() left tracked entries in storage: {after - before}"
    )


def test_release_caches_frees_label_checkpoint(spark):
    """label()'s local checkpoint of its pre-labelled rows is registered
    with caching, so release_caches() frees it rather than leaving one RDD
    per call in storage until the driver's GC finds it. Delta-based, in
    the style of the test above. The mask's components cross blocks, so
    the driver merge path runs."""
    from dask_image_spark import queries as q
    from dask_image_spark.functions.localrel import values_df
    from dask_image_spark.operators.label_cc import label

    q.release_caches()
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    rows = [(y, x, (x + y) % 3 != 0) for y in range(8) for x in range(8)]
    lab = label(values_df(spark, "y, x, m", rows), (8, 8), block=4)
    assert lab.count() == sum(m for _, _, m in rows)
    during = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert during - before, "expected label's checkpoint in storage"

    q.release_caches()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    assert not (after - before), (
        f"release_caches() left label's checkpoint in storage: {after - before}"
    )
