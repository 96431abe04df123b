"""Deterministic pixel/mask/label fixtures derived from the driver's tables.

The reference's data plane is a dense N-D array; the driver's testdata has no
image files, so imaging operators are exercised on a dense 2-D grid derived
deterministically from ``events`` (FIXTURES.md §B). Both the Spark engine and
the DuckDB oracle derive the grid with the *same arithmetic* from the *same
parquet*, which is what makes every stencil/measure operator strong-oracle
checkable.

Grid: ``y = event_id % G``, ``x = (event_id // G) % G``, ``value =
SUM(value)`` over colliding events. With G=64 the grid is fully dense for
sf >= 0.01 (event_id is sequential 0..N-1, N >= 4096).

Mask: ``value > global mean`` (scale-adaptive, deterministic).
Labels: 16 block labels ``(y//16)*4 + (x//16)`` — a deterministic label image
for the GROUP-BY-label measurement family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dask_image_spark.sources.tables import load_table

GRID = 64
BLOCK = 16  # label block size -> 16 labels 0..15


def pixel_grid(spark: SparkSession, sf_dir: str, grid: int = GRID) -> DataFrame:
    """Dense (y, x, value) pixel table derived from events.

    Persisted (session-tracked): many queries reference the pixel table
    more than once (a filter joined back to its input, as in the tophats
    and ``threshold_local``), and this *derived* fixture would re-run the
    events aggregation per reference. The persist is deduped
    by Spark's CacheManager on the canonicalized plan, so repeated calls
    share one entry (grid is ~4k rows — negligible memory), and registering
    through ``persist_tracked`` (instead of a bare ``cache()``) lets
    ``release_caches()`` drop the entry after each query instead
    of pinning it for the session's lifetime (round-14 hygiene; rebuilding
    the grid is one small events aggregation).
    """
    from dask_image_spark.caching import persist_tracked

    ev = load_table(spark, sf_dir, "events")
    return persist_tracked(
        ev.groupBy(
            F.expr(f"CAST(event_id % {grid} AS INT)").alias("y"),
            F.expr(f"CAST((event_id div {grid}) % {grid} AS INT)").alias("x"),
        )
        .agg(F.sum("value").alias("value"))
        # a GRID x GRID grid is a few thousand rows: one cached partition,
        # otherwise every downstream branch inherits 32 near-empty partitions
        # and stencils pay ~100 task launches of pure scheduling overhead
        .coalesce(1)
    )


def pixel_grid_sql(grid: int = GRID) -> str:
    """DuckDB CTE body computing the identical pixel table."""
    return (
        f"SELECT CAST(event_id % {grid} AS INT) AS y, "
        f"CAST((event_id // {grid}) % {grid} AS INT) AS x, "
        f"SUM(value) AS value FROM events GROUP BY 1, 2"
    )


def mask_grid(spark: SparkSession, sf_dir: str, grid: int = GRID) -> DataFrame:
    """Boolean mask: pixel value above the global mean.

    The global mean is a 1-row aggregate broadcast back onto the pixels —
    a pattern that stays cheap at any scale (partial agg + broadcast join),
    unlike a window-over-() which would funnel through one partition.
    """
    px = pixel_grid(spark, sf_dir, grid)
    thr = px.agg(F.avg("value").alias("thr"))
    return px.crossJoin(F.broadcast(thr)).select(
        "y", "x", (F.col("value") > F.col("thr")).alias("m")
    )


def mask_grid_sql(grid: int = GRID) -> str:
    return (
        f"SELECT y, x, value > (SELECT AVG(value) FROM pixels) AS m "
        f"FROM pixels"
    )


def labeled_grid(
    spark: SparkSession, sf_dir: str, grid: int = GRID, block: int = BLOCK
) -> DataFrame:
    """(label, y, x, value) — deterministic block labeling of the grid."""
    per_row = grid // block
    return pixel_grid(spark, sf_dir, grid).select(
        F.expr(f"CAST((y div {block}) * {per_row} + (x div {block}) AS INT)").alias(
            "label"
        ),
        "y",
        "x",
        "value",
    )


def labeled_grid_sql(grid: int = GRID, block: int = BLOCK) -> str:
    per_row = grid // block
    return (
        f"SELECT CAST((y // {block}) * {per_row} + (x // {block}) AS INT) AS label, "
        f"y, x, value FROM pixels"
    )


def fixture_ctes(grid: int = GRID) -> list[str]:
    """The standard fixture CTE definitions (pixels / mask / labeled)."""
    return [
        f"pixels AS ({pixel_grid_sql(grid)})",
        f"mask AS ({mask_grid_sql(grid)})",
        f"labeled AS ({labeled_grid_sql(grid)})",
    ]


def with_pixel_ctes(body: str, extra: list[str] | None = None, grid: int = GRID) -> str:
    """Wrap a DuckDB query body with the fixture CTEs (+ extra CTEs)."""
    ctes = fixture_ctes(grid) + list(extra or [])
    return "WITH " + ", ".join(ctes) + " " + body
