"""Graded queries for the reference's imaging surface: ndfilters stencils,
ndmorph binary morphology, ndmeasure per-label statistics — all on the
deterministic pixel-grid fixture (``functions/pixelgrid.py``).

Oracle SQL is *generated* from the same kernel offsets and the same
boundary-remap text the engine uses (``functions/boundary.remap_sql``), so
engine and oracle cannot drift on edge semantics or kernel weights.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_image_spark.functions import kernels as K
from dask_image_spark.functions.boundary import remap_sql
from dask_image_spark.functions.localrel import values_df
from dask_image_spark.functions.pixelgrid import (
    GRID,
    labeled_grid,
    mask_grid,
    pixel_grid,
    with_pixel_ctes,
)
from dask_image_spark.operators import chunked, ndfilters, ndinterp, ndmeasure, ndmorph
from dask_image_spark.queries.base import (
    persist_tracked,
    r as _eps_round,
    register,
)
from dask_image_spark.sources.tables import load_table

SHAPE = (GRID, GRID)


# --- oracle SQL generation ---------------------------------------------------


def _kernel_values(offsets) -> str:
    return ", ".join(
        f"({i}, {int(dy)}, {int(dx)}, {float(w)!r})"
        for i, (dy, dx, w) in enumerate(offsets)
    )


def _pass_sql(src: str, offsets, agg_tpl: str, mode: str, cval: float) -> str:
    """One stencil gather pass over CTE ``src`` -> (y, x, value)."""
    sy = remap_sql("o.y + k.dy", GRID, mode)
    sx = remap_sql("o.x + k.dx", GRID, mode)
    join = "LEFT JOIN" if mode == "constant" else "JOIN"
    val = f"COALESCE(p.value, {float(cval)!r})" if mode == "constant" else "p.value"
    agg = agg_tpl.format(v=val)
    return (
        f"SELECT g.y, g.x, {agg} AS value "
        f"FROM (SELECT o.y, o.x, k.ko, k.w, {sy} AS sy, {sx} AS sx "
        f"FROM {src} o CROSS JOIN (VALUES {_kernel_values(offsets)}) "
        f"k(ko, dy, dx, w)) g "
        f"{join} {src} p ON p.y = g.sy AND p.x = g.sx "
        f"GROUP BY g.y, g.x"
    )


def _chain(ctes: list[str], prefix: str, src: str, passes) -> str:
    """Append one CTE per stencil pass; return the name of the last."""
    cur = src
    for i, (offsets, agg_tpl, mode, cval) in enumerate(passes):
        name = f"{prefix}{i}"
        ctes.append(f"{name} AS ({_pass_sql(cur, offsets, agg_tpl, mode, cval)})")
        cur = name
    return cur


def _linear_oracle(passes, final="ROUND(1.2345e-8 + value, 4)", src="pixels") -> str:
    ctes: list[str] = []
    cur = _chain(ctes, "s", src, passes)
    return with_pixel_ctes(f"SELECT y, x, {final} AS v FROM {cur}", extra=ctes)


def _round_v(df, digits=4):
    return df.select("y", "x", _eps_round("v", digits).alias("v"))


CORR = "SUM({v} * g.w)"
REFL = "reflect"

# an intentionally asymmetric kernel so convolve != correlate
ASYM = [(-1, -1, 0.1), (0, 0, 0.5), (1, 1, 0.25), (0, 1, 0.15)]
_BOX3 = K.box_footprint(3)
_U1Y = K.taps_to_offsets_1d([(-1, 1 / 3), (0, 1 / 3), (1, 1 / 3)], 0)
_U1X = K.taps_to_offsets_1d([(-1, 1 / 3), (0, 1 / 3), (1, 1 / 3)], 1)
_G1 = K.gaussian_taps_1d(1.0, 0)
_G1D1 = K.gaussian_taps_1d(1.0, 1)
_G1D2 = K.gaussian_taps_1d(1.0, 2)


def _gauss_passes(oy: int, ox: int, mode=REFL):
    ty = {0: _G1, 1: _G1D1, 2: _G1D2}[oy]
    tx = {0: _G1, 1: _G1D1, 2: _G1D2}[ox]
    return [
        (K.taps_to_offsets_1d(ty, 0), CORR, mode, 0.0),
        (K.taps_to_offsets_1d(tx, 1), CORR, mode, 0.0),
    ]


# --- ndfilters ---------------------------------------------------------------


@register("filter_correlate", _linear_oracle([(ASYM, CORR, REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_correlate(spark, sf_dir):
    return _round_v(ndfilters.correlate(pixel_grid(spark, sf_dir), ASYM, SHAPE))


@register("filter_convolve", _linear_oracle([(K.flip(ASYM), CORR, REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_convolve(spark, sf_dir):
    return _round_v(ndfilters.convolve(pixel_grid(spark, sf_dir), ASYM, SHAPE))


@register("filter_convolve_constant",
          _linear_oracle([(K.flip(ASYM), CORR, "constant", 1.5)]),
          tags=("imaging", "ndfilters", "boundary"))
def filter_convolve_constant(spark, sf_dir):
    return _round_v(
        ndfilters.convolve(pixel_grid(spark, sf_dir), ASYM, SHAPE,
                           mode="constant", cval=1.5)
    )


@register("filter_uniform",
          _linear_oracle([(_U1Y, CORR, REFL, 0.0), (_U1X, CORR, REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_uniform(spark, sf_dir):
    return _round_v(ndfilters.uniform_filter(pixel_grid(spark, sf_dir), 3, SHAPE))


_U4Y = K.taps_to_offsets_1d([(o, 0.25) for o in K.box_range(4)], 0)
_U4X = K.taps_to_offsets_1d([(o, 0.25) for o in K.box_range(4)], 1)


@register("filter_uniform_even",
          _linear_oracle([(_U4Y, CORR, REFL, 0.0), (_U4X, CORR, REFL, 0.0)]),
          tags=("imaging", "ndfilters", "even-size"))
def filter_uniform_even(spark, sf_dir):
    """Even window (size=4) with scipy's origin convention — offsets
    -2..1 per axis, weights summing to 1 (round-1 advice: even sizes used
    to silently widen to size+1)."""
    return _round_v(ndfilters.uniform_filter(pixel_grid(spark, sf_dir), 4, SHAPE))


@register("filter_minimum_even",
          _linear_oracle([(K.box_footprint(2), "MIN({v})", REFL, 0.0)]),
          tags=("imaging", "ndfilters", "even-size"))
def filter_minimum_even(spark, sf_dir):
    """Even 2x2 order-statistic window (offsets -1..0 per axis)."""
    return _round_v(ndfilters.minimum_filter(pixel_grid(spark, sf_dir), 2, SHAPE))


@register("filter_uniform_wrap",
          _linear_oracle([(_U1Y, CORR, "wrap", 0.0), (_U1X, CORR, "wrap", 0.0)]),
          tags=("imaging", "ndfilters", "boundary"))
def filter_uniform_wrap(spark, sf_dir):
    return _round_v(
        ndfilters.uniform_filter(pixel_grid(spark, sf_dir), 3, SHAPE, mode="wrap")
    )


@register("filter_minimum", _linear_oracle([(_BOX3, "MIN({v})", REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_minimum(spark, sf_dir):
    return _round_v(ndfilters.minimum_filter(pixel_grid(spark, sf_dir), 3, SHAPE))


@register("filter_minimum_nearest",
          _linear_oracle([(_BOX3, "MIN({v})", "nearest", 0.0)]),
          tags=("imaging", "ndfilters", "boundary"))
def filter_minimum_nearest(spark, sf_dir):
    return _round_v(
        ndfilters.minimum_filter(pixel_grid(spark, sf_dir), 3, SHAPE, mode="nearest")
    )


@register(
    "filter_minimum_origin",
    _linear_oracle(
        [(ndfilters.shift_origin(_BOX3, (-1, 1)), "MIN({v})", REFL, 0.0)]
    ),
    tags=("imaging", "ndfilters", "origin"),
)
def filter_minimum_origin(spark, sf_dir):
    """``minimum_filter(origin=(-1, 1))`` — scipy's window-placement
    parameter (upstream passes it through to scipy): the 3×3 window
    shifts down one row and left one column relative to each output."""
    return _round_v(
        ndfilters.minimum_filter(
            pixel_grid(spark, sf_dir), 3, SHAPE, origin=(-1, 1)
        )
    )


@register(
    "filter_uniform_origin",
    _linear_oracle([
        (K.taps_to_offsets_1d([(o - 1, 1 / 3) for o in (-1, 0, 1)], 0),
         CORR, REFL, 0.0),
        (K.taps_to_offsets_1d([(o + 1, 1 / 3) for o in (-1, 0, 1)], 1),
         CORR, REFL, 0.0),
    ]),
    tags=("imaging", "ndfilters", "origin"),
)
def filter_uniform_origin(spark, sf_dir):
    """``uniform_filter(origin=(1, -1))`` — separable passes with
    per-axis origin shifts."""
    return _round_v(
        ndfilters.uniform_filter(
            pixel_grid(spark, sf_dir), 3, SHAPE, origin=(1, -1)
        )
    )


@register("filter_maximum", _linear_oracle([(_BOX3, "MAX({v})", "mirror", 0.0)]),
          tags=("imaging", "ndfilters", "boundary"))
def filter_maximum(spark, sf_dir):
    return _round_v(
        ndfilters.maximum_filter(pixel_grid(spark, sf_dir), 3, SHAPE, mode="mirror")
    )


@register("filter_median", _linear_oracle([(_BOX3, "MEDIAN({v})", REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_median(spark, sf_dir):
    return _round_v(ndfilters.median_filter(pixel_grid(spark, sf_dir), 3, SHAPE))


@register("filter_rank", _linear_oracle([(_BOX3, "list_sort(list({v}))[3]", REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_rank(spark, sf_dir):
    return _round_v(ndfilters.rank_filter(pixel_grid(spark, sf_dir), 2, 3, SHAPE))


@register("filter_percentile",
          _linear_oracle([(_BOX3, "QUANTILE_CONT({v}, 0.3)", REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_percentile(spark, sf_dir):
    return _round_v(
        ndfilters.percentile_filter(pixel_grid(spark, sf_dir), 30.0, 3, SHAPE)
    )


@register("filter_gaussian", _linear_oracle(_gauss_passes(0, 0)),
          tags=("imaging", "ndfilters"))
def filter_gaussian(spark, sf_dir):
    return _round_v(ndfilters.gaussian_filter(pixel_grid(spark, sf_dir), 1.0, shape=SHAPE))


_G2 = K.gaussian_taps_1d(2.0, 0)


@register(
    "filter_gaussian_aniso",
    _linear_oracle(
        [
            (K.taps_to_offsets_1d(_G1, 0), CORR, REFL, 0.0),
            (K.taps_to_offsets_1d(_G2, 1), CORR, REFL, 0.0),
        ]
    ),
    tags=("imaging", "ndfilters"),
)
def filter_gaussian_aniso(spark, sf_dir):
    """Anisotropic Gaussian (per-axis sigma, the reference's sequence-sigma
    form): sigma_y=1, sigma_x=2 — different tap counts per axis."""
    return _round_v(
        ndfilters.gaussian_filter(
            pixel_grid(spark, sf_dir), (1.0, 2.0), shape=SHAPE
        )
    )


_CROSS_FP = [(0, 0, 1.0), (-1, 0, 1.0), (1, 0, 1.0), (0, -1, 1.0), (0, 1, 1.0)]


@register(
    "filter_median_cross",
    _linear_oracle([(_CROSS_FP, "MEDIAN({v})", REFL, 0.0)]),
    tags=("imaging", "ndfilters"),
)
def filter_median_cross(spark, sf_dir):
    """Median over a non-box footprint (the reference's ``footprint=``
    argument): 5-point cross, odd count so Spark/DuckDB medians agree."""
    return _round_v(
        ndfilters.median_filter(
            pixel_grid(spark, sf_dir), shape=SHAPE, footprint=_CROSS_FP
        )
    )


@register("filter_median5_r2_tiles",
          _linear_oracle([(K.box_footprint(5), "MEDIAN({v})", REFL, 0.0)]),
          tags=("imaging", "ndfilters", "r2", "udf"))
def filter_median5_r2_tiles(spark, sf_dir):
    """5x5 median through the R2 tile path — an ORDER-STATISTIC through
    ``map_overlap_tiles`` (the gaussian tile query is linear; this proves
    the tile contract holds for non-linear per-chunk numpy too). The tile
    fn uses a sliding-window view; only tile interiors survive, so the
    edge-replicated intermediate rows never leak into the output."""
    import numpy as np

    from dask_image_spark.operators import chunked

    def tile_fn(tile: np.ndarray) -> np.ndarray:
        from numpy.lib.stride_tricks import sliding_window_view

        pad = np.pad(tile, 2, mode="edge")  # halo >= radius: interior exact
        win = sliding_window_view(pad, (5, 5))
        return np.median(win, axis=(2, 3))

    px = pixel_grid(spark, sf_dir)
    out = chunked.map_overlap_tiles(
        px, tile_fn, SHAPE, depth=2, block=32, mode=REFL
    )
    return _round_v(out)


@register("filter_gaussian_r2_tiles", _linear_oracle(_gauss_passes(0, 0)),
          tags=("imaging", "ndfilters", "r2", "udf"))
def filter_gaussian_r2_tiles(spark, sf_dir):
    """The SAME Gaussian through the R2 chunked-tensor fast path
    (``chunked.map_overlap_tiles`` — dask's ``map_overlap``: tile + halo
    exchange + per-tile numpy), graded against the identical oracle as the
    R1 join form. Two physical strategies, one verified semantics.

    Per-axis sequential filtering with per-axis boundary remap equals the
    full outer-product kernel on the once-padded image (the remaps are
    axis-independent), so the tile fn applies the 9x9 outer kernel."""
    import numpy as np

    from dask_image_spark.operators import chunked

    taps = K.gaussian_taps_1d(1.0)
    full = K.outer_kernel(taps, taps)
    depth = max(abs(o) for o, _ in taps)
    block = 32

    def tile_fn(tile: np.ndarray) -> np.ndarray:
        out = np.zeros_like(tile)
        n = tile.shape[0]
        inner = n - 2 * depth
        for dy, dx, w in full:
            out[depth : depth + inner, depth : depth + inner] += (
                w * tile[depth + dy : depth + dy + inner,
                         depth + dx : depth + dx + inner]
            )
        return out

    px = pixel_grid(spark, sf_dir)
    out = chunked.map_overlap_tiles(
        px, tile_fn, SHAPE, depth=depth, block=block, mode="reflect"
    )
    return _round_v(out)


def _two_branch_oracle(passes_a, passes_b, combine: str) -> str:
    """Two stencil chains joined on (y, x); ``combine`` uses a.value/b.value."""
    ctes: list[str] = []
    last_a = _chain(ctes, "a", "pixels", passes_a)
    last_b = _chain(ctes, "b", "pixels", passes_b)
    body = (
        f"SELECT a.y, a.x, {combine} AS v "
        f"FROM {last_a} a JOIN {last_b} b ON a.y = b.y AND a.x = b.x"
    )
    return with_pixel_ctes(body, extra=ctes)


@register(
    "filter_gaussian_gradmag",
    _two_branch_oracle(
        _gauss_passes(1, 0), _gauss_passes(0, 1),
        "ROUND(1.2345e-8 + SQRT(a.value * a.value + b.value * b.value), 4)",
    ),
    tags=("imaging", "ndfilters"),
)
def filter_gaussian_gradmag(spark, sf_dir):
    return _round_v(
        ndfilters.gaussian_gradient_magnitude(pixel_grid(spark, sf_dir), 1.0, SHAPE)
    )


@register(
    "filter_gaussian_laplace",
    _two_branch_oracle(
        _gauss_passes(2, 0), _gauss_passes(0, 2),
        "ROUND(1.2345e-8 + a.value + b.value, 4)",
    ),
    tags=("imaging", "ndfilters"),
)
def filter_gaussian_laplace(spark, sf_dir):
    return _round_v(ndfilters.gaussian_laplace(pixel_grid(spark, sf_dir), 1.0, SHAPE))


@register("filter_laplace", _linear_oracle([(K.LAPLACE, CORR, REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_laplace(spark, sf_dir):
    return _round_v(ndfilters.laplace(pixel_grid(spark, sf_dir), SHAPE))


@register("filter_sobel", _linear_oracle([(K.SOBEL_X, CORR, REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_sobel(spark, sf_dir):
    return _round_v(ndfilters.sobel(pixel_grid(spark, sf_dir), -1, SHAPE))


@register("filter_prewitt", _linear_oracle([(K.PREWITT_Y, CORR, REFL, 0.0)]),
          tags=("imaging", "ndfilters"))
def filter_prewitt(spark, sf_dir):
    return _round_v(ndfilters.prewitt(pixel_grid(spark, sf_dir), 0, SHAPE))


def _threshold_oracle() -> str:
    ctes: list[str] = []
    last = _chain(ctes, "s", "pixels", [(_U1Y, CORR, REFL, 0.0), (_U1X, CORR, REFL, 0.0)])
    return with_pixel_ctes(
        f"SELECT p.y, p.x, p.value > ({last}.value - 0.05) AS v "
        f"FROM pixels p JOIN {last} ON p.y = {last}.y AND p.x = {last}.x",
        extra=ctes,
    )


@register(
    "filter_threshold_local",
    _threshold_oracle(),
    tags=("imaging", "ndfilters"),
)
def filter_threshold_local(spark, sf_dir):
    return ndfilters.threshold_local(
        pixel_grid(spark, sf_dir), block_size=3, method="mean",
        offset=0.05, shape=SHAPE,
    ).select("y", "x", "v")


def _threshold_method_oracle(passes, offset: float) -> str:
    """Threshold oracle for any smoothing chain: value > smoothed − offset."""
    ctes: list[str] = []
    last = _chain(ctes, "s", "pixels", passes)
    return with_pixel_ctes(
        f"SELECT p.y, p.x, p.value > ({last}.value - {offset!r}) AS v "
        f"FROM pixels p JOIN {last} ON p.y = {last}.y AND p.x = {last}.x",
        extra=ctes,
    )


@register(
    "filter_threshold_local_gaussian",
    _threshold_method_oracle(_gauss_passes(0, 0), 0.02),
    tags=("imaging", "ndfilters"),
)
def filter_threshold_local_gaussian(spark, sf_dir):
    """``threshold_local(method='gaussian')`` — the skimage-parity method
    surface upstream exposes (``ndfilters/_threshold.py``): the local
    reference is a σ=1 gaussian smoothing instead of the box mean."""
    return ndfilters.threshold_local(
        pixel_grid(spark, sf_dir), block_size=3, method="gaussian",
        offset=0.02, shape=SHAPE, sigma=1.0,
    ).select("y", "x", "v")


@register(
    "filter_threshold_local_median",
    _threshold_method_oracle([(_BOX3, "MEDIAN({v})", REFL, 0.0)], 0.05),
    tags=("imaging", "ndfilters"),
)
def filter_threshold_local_median(spark, sf_dir):
    """``threshold_local(method='median')``: the outlier-robust variant —
    local reference is the 3×3 window median."""
    return ndfilters.threshold_local(
        pixel_grid(spark, sf_dir), block_size=3, method="median",
        offset=0.05, shape=SHAPE,
    ).select("y", "x", "v")


# --- ndmorph -----------------------------------------------------------------

_MASKD = "maskd AS (SELECT y, x, CAST(m AS DOUBLE) AS value FROM mask)"
_BAND = "CAST(BOOL_AND({v} > 0.5) AS DOUBLE)"
_BOR = "CAST(BOOL_OR({v} > 0.5) AS DOUBLE)"


def _morph_oracle(agg_seq, structure=None) -> str:
    ctes = [_MASKD]
    passes = [
        (structure or ndmorph.CROSS, agg, "constant", 0.0) for agg in agg_seq
    ]
    cur = _chain(ctes, "s", "maskd", passes)
    return with_pixel_ctes(
        f"SELECT y, x, value > 0.5 AS v FROM {cur}", extra=ctes
    )


@register("morph_erosion", _morph_oracle([_BAND]), tags=("imaging", "ndmorph"))
def morph_erosion(spark, sf_dir):
    m = mask_grid(spark, sf_dir)
    return ndmorph.binary_erosion(m, shape=SHAPE).select(
        "y", "x", F.col("m").alias("v")
    )


@register("morph_dilation", _morph_oracle([_BOR]), tags=("imaging", "ndmorph"))
def morph_dilation(spark, sf_dir):
    m = mask_grid(spark, sf_dir)
    return ndmorph.binary_dilation(m, shape=SHAPE).select(
        "y", "x", F.col("m").alias("v")
    )


@register("morph_opening", _morph_oracle([_BAND, _BOR]), tags=("imaging", "ndmorph"))
def morph_opening(spark, sf_dir):
    m = mask_grid(spark, sf_dir)
    return ndmorph.binary_opening(m, shape=SHAPE).select(
        "y", "x", F.col("m").alias("v")
    )


@register("morph_closing", _morph_oracle([_BOR, _BAND]), tags=("imaging", "ndmorph"))
def morph_closing(spark, sf_dir):
    m = mask_grid(spark, sf_dir)
    return ndmorph.binary_closing(m, shape=SHAPE).select(
        "y", "x", F.col("m").alias("v")
    )


@register("morph_dilation_square", _morph_oracle([_BOR], ndmorph.SQUARE),
          tags=("imaging", "ndmorph", "structure"))
def morph_dilation_square(spark, sf_dir):
    """Non-default structuring element: 8-connected SQUARE
    (``generate_binary_structure(2, 2)``) instead of the cross — the
    ``structure=`` argument of every upstream ndmorph op."""
    m = mask_grid(spark, sf_dir)
    return ndmorph.binary_dilation(
        m, structure=ndmorph.SQUARE, shape=SHAPE
    ).select("y", "x", F.col("m").alias("v"))



def _grey_morph_oracle(kind: str) -> str:
    """Greyscale morphology oracles composed from the SAME per-pass SQL
    generator as the filters: grey erosion/dilation over a flat 3x3
    structuring element ARE minimum/maximum_filter (scipy defines them
    so), and the derived operators are pixelwise arithmetic on chained
    passes — scipy.ndimage.morphological_gradient / white_tophat /
    black_tophat semantics."""
    ctes: list[str] = []
    if kind == "gradient":
        d = _chain(ctes, "gd", "pixels", [(_BOX3, "MAX({v})", REFL, 0.0)])
        e = _chain(ctes, "ge", "pixels", [(_BOX3, "MIN({v})", REFL, 0.0)])
        body = (
            f"SELECT d.y, d.x, ROUND(1.2345e-8 + d.value - e.value, 4) AS v "
            f"FROM {d} d JOIN {e} e ON e.y = d.y AND e.x = d.x"
        )
    elif kind == "white":
        o = _chain(ctes, "go", "pixels",
                   [(_BOX3, "MIN({v})", REFL, 0.0),
                    (_BOX3, "MAX({v})", REFL, 0.0)])
        body = (
            f"SELECT p.y, p.x, ROUND(1.2345e-8 + p.value - o.value, 4) AS v "
            f"FROM pixels p JOIN {o} o ON o.y = p.y AND o.x = p.x"
        )
    else:  # black
        c = _chain(ctes, "gc", "pixels",
                   [(_BOX3, "MAX({v})", REFL, 0.0),
                    (_BOX3, "MIN({v})", REFL, 0.0)])
        body = (
            f"SELECT p.y, p.x, ROUND(1.2345e-8 + c.value - p.value, 4) AS v "
            f"FROM pixels p JOIN {c} c ON c.y = p.y AND c.x = p.x"
        )
    return with_pixel_ctes(body, extra=ctes)


def _as_value(df):
    return df.select("y", "x", F.col("v").alias("value"))


_CORNERS = [(dy, dx, 1.0) for dy in (-1, 1) for dx in (-1, 1)]


def _hit_or_miss_oracle() -> str:
    ctes = [
        _MASKD,
        "maskc AS (SELECT y, x, 1.0 - CAST(m AS DOUBLE) AS value FROM mask)",
    ]
    e1 = _chain(ctes, "h1", "maskd", [(ndmorph.CROSS, _BAND, "constant", 0.0)])
    e2 = _chain(ctes, "h2", "maskc", [(_CORNERS, _BAND, "constant", 1.0)])
    body = (
        f"SELECT a.y, a.x, (a.value > 0.5 AND b.value > 0.5) AS v "
        f"FROM {e1} a JOIN {e2} b ON b.y = a.y AND b.x = a.x"
    )
    return with_pixel_ctes(body, extra=ctes)


@register("morph_hit_or_miss", _hit_or_miss_oracle(),
          tags=("imaging", "ndmorph", "pattern"))
def morph_hit_or_miss(spark, sf_dir):
    """HIT-OR-MISS transform (scipy ``binary_hit_or_miss``, default
    structures): isolated-point detection — foreground must fill the
    4-connected cross AND background must fill the corners. Composed as
    erosion(X, cross) ∧ erosion(X^c, corners) with the complement pass
    padding TRUE (scipy's inverted border), two single-shuffle erosions
    joined on the grouped keys. The mask fixture contains both hits and
    misses, so the boolean result carries real signal."""
    m = mask_grid(spark, sf_dir)
    return ndmorph.binary_hit_or_miss(m, shape=SHAPE).select(
        "y", "x", F.col("m").alias("v")
    )


# Asymmetric WEIGHTED structuring element (non-flat grey morphology): the
# reflection in scipy's dilation definition only shows up when the structure
# is asymmetric, so a symmetric fixture would grade a reflection bug green.
_GREY_S = [(-1, 0, 0.2), (0, -1, 0.1), (0, 0, 0.0), (0, 1, 0.3), (1, 1, 0.4)]


@register("morph_grey_erosion_weighted",
          _linear_oracle([(_GREY_S, "MIN({v} - g.w)", REFL, 0.0)]),
          tags=("imaging", "ndmorph", "greyscale", "weighted"))
def morph_grey_erosion_weighted(spark, sf_dir):
    """NON-FLAT grey erosion (scipy ``grey_erosion(structure=s)``):
    E(p) = min over k of (v(p + k) - s(k)) — the structure weights
    subtract inside the order statistic, the full grey-morphology
    semantics beyond the flat min-filter specialization. Same
    pad-then-scatter single-shuffle plan; the aggregate is
    MIN(v - w) over the gathered (value, weight) rows."""
    px = pixel_grid(spark, sf_dir)
    return _round_v(ndfilters.grey_erosion(px, _GREY_S, SHAPE))


@register("morph_grey_dilation_weighted",
          _linear_oracle([(K.flip(_GREY_S), "MAX({v} + g.w)", REFL, 0.0)]),
          tags=("imaging", "ndmorph", "greyscale", "weighted"))
def morph_grey_dilation_weighted(spark, sf_dir):
    """NON-FLAT grey dilation (scipy ``grey_dilation(structure=s)``):
    D(p) = max over k of (v(p - k) + s(k)) — note the REFLECTION (p - k,
    where erosion reads p + k); realized by point-flipping the offset
    list while keeping each weight attached, exactly like convolve vs
    correlate. The asymmetric fixture structure is what makes this
    distinction gradeable."""
    px = pixel_grid(spark, sf_dir)
    return _round_v(ndfilters.grey_dilation(px, _GREY_S, SHAPE))


def _morph_laplace_oracle() -> str:
    ctes: list[str] = []
    d = _chain(ctes, "ld", "pixels", [(_BOX3, "MAX({v})", REFL, 0.0)])
    e = _chain(ctes, "le", "pixels", [(_BOX3, "MIN({v})", REFL, 0.0)])
    body = (
        f"SELECT p.y, p.x, "
        f"ROUND(1.2345e-8 + d.value + e.value - 2 * p.value, 4) AS v "
        f"FROM pixels p JOIN {d} d ON d.y = p.y AND d.x = p.x "
        f"JOIN {e} e ON e.y = p.y AND e.x = p.x"
    )
    return with_pixel_ctes(body, extra=ctes)


@register("morph_laplace", _morph_laplace_oracle(),
          tags=("imaging", "ndmorph", "greyscale"))
def morph_laplace(spark, sf_dir):
    """Morphological LAPLACE (scipy ``morphological_laplace``, flat 3x3):
    dilation + erosion - 2*input — the second-derivative analogue of the
    morphological gradient, completing the scipy grey-morphology derived
    family (gradient, tophats, laplace)."""
    px = pixel_grid(spark, sf_dir)
    d = ndfilters.maximum_filter(px, 3, SHAPE).select(
        "y", "x", F.col("v").alias("vd")
    )
    e = ndfilters.minimum_filter(px, 3, SHAPE).select(
        "y", "x", F.col("v").alias("ve")
    )
    return (
        px.join(d, ["y", "x"]).join(e, ["y", "x"])
        .select(
            "y", "x",
            _eps_round(
                F.col("vd") + F.col("ve") - 2 * F.col("value"), 4
            ).alias("v"),
        )
    )


@register("morph_grey_gradient", _grey_morph_oracle("gradient"),
          tags=("imaging", "ndmorph", "greyscale"))
def morph_grey_gradient(spark, sf_dir):
    """Morphological GRADIENT (scipy ``morphological_gradient``, flat 3x3):
    dilation minus erosion — the classic cheap edge detector. Grey
    dilation/erosion over a flat structure are exactly
    ``maximum_filter``/``minimum_filter`` (the upstream ndmorph binary ops
    are their boolean specialization), so the plan is two independent
    one-shuffle stencils joined on their shared (y, x) grouping keys. At
    the fixture size AQE broadcasts one stencil output into the other; at
    a real image scale the join keys EQUAL both aggregates' grouping
    keys, so the sort-merge form reuses their hash partitioning without a
    third data exchange."""
    px = pixel_grid(spark, sf_dir)
    d = ndfilters.maximum_filter(px, 3, SHAPE)
    e = ndfilters.minimum_filter(px, 3, SHAPE).select(
        "y", "x", F.col("v").alias("ve")
    )
    return d.join(e, ["y", "x"]).select(
        "y", "x", _eps_round(F.col("v") - F.col("ve"), 4).alias("v")
    )


@register("morph_tophat_white", _grey_morph_oracle("white"),
          tags=("imaging", "ndmorph", "greyscale"))
def morph_tophat_white(spark, sf_dir):
    """WHITE TOPHAT (scipy ``white_tophat``, flat 3x3): input minus grey
    opening (erosion then dilation) — isolates bright features smaller
    than the structuring element, the background-removal primitive of
    microscopy pipelines. Three chained stencil shuffles total (two for
    the opening, one join back to the input on the grouped keys)."""
    px = pixel_grid(spark, sf_dir)
    opened = ndfilters.maximum_filter(
        _as_value(ndfilters.minimum_filter(px, 3, SHAPE)), 3, SHAPE
    ).select("y", "x", F.col("v").alias("vo"))
    return px.join(opened, ["y", "x"]).select(
        "y", "x", _eps_round(F.col("value") - F.col("vo"), 4).alias("v")
    )


@register("morph_tophat_black", _grey_morph_oracle("black"),
          tags=("imaging", "ndmorph", "greyscale"))
def morph_tophat_black(spark, sf_dir):
    """BLACK TOPHAT (scipy ``black_tophat``, flat 3x3): grey closing
    (dilation then erosion) minus input — the dual of the white tophat,
    isolating dark features below structuring-element scale."""
    px = pixel_grid(spark, sf_dir)
    closed = ndfilters.minimum_filter(
        _as_value(ndfilters.maximum_filter(px, 3, SHAPE)), 3, SHAPE
    ).select("y", "x", F.col("v").alias("vc"))
    return px.join(closed, ["y", "x"]).select(
        "y", "x", _eps_round(F.col("vc") - F.col("value"), 4).alias("v")
    )


@register("morph_erosion_iter2", _morph_oracle([_BAND, _BAND]),
          tags=("imaging", "ndmorph"))
def morph_erosion_iter2(spark, sf_dir):
    """iterations=2 (``ndmorph/_utils.py::_get_iterations``): n chained
    erosion passes, the reference's iteration semantics."""
    m = mask_grid(spark, sf_dir)
    return ndmorph.binary_erosion(m, shape=SHAPE, iterations=2).select(
        "y", "x", F.col("m").alias("v")
    )


# --- 3-D (N-dimensional surface) ---------------------------------------------

_VOL = 16  # 16^3 = 4096 voxels, dense from event_id folding at sf >= 0.01

_PX3 = (
    f"px3 AS (SELECT CAST(event_id % {_VOL} AS INT) AS z, "
    f"CAST((event_id // {_VOL}) % {_VOL} AS INT) AS y, "
    f"CAST((event_id // {_VOL * _VOL}) % {_VOL} AS INT) AS x, "
    "SUM(value) AS value FROM events GROUP BY 1, 2, 3)"
)

# 3-D 6-neighbor Laplacian-style kernel (N-D generalization check)
_K3D = (
    [(0, 0, 0, -6.0)]
    + [(dz, 0, 0, 1.0) for dz in (-1, 1)]
    + [(0, dy, 0, 1.0) for dy in (-1, 1)]
    + [(0, 0, dx, 1.0) for dx in (-1, 1)]
)


def _filter3d_oracle() -> str:
    sz = remap_sql("o.z + k.dz", _VOL, "reflect")
    sy = remap_sql("o.y + k.dy", _VOL, "reflect")
    sx = remap_sql("o.x + k.dx", _VOL, "reflect")
    kv = ", ".join(
        f"({dz}, {dy}, {dx}, {w!r})" for dz, dy, dx, w in _K3D
    )
    return (
        f"WITH {_PX3} "
        f"SELECT g.z, g.y, g.x, ROUND(1.2345e-8 + SUM(p.value * g.w), 4) AS v "
        f"FROM (SELECT o.z, o.y, o.x, k.w, {sz} AS sz, {sy} AS sy, {sx} AS sx "
        f"FROM px3 o CROSS JOIN (VALUES {kv}) k(dz, dy, dx, w)) g "
        f"JOIN px3 p ON p.z = g.sz AND p.y = g.sy AND p.x = g.sx "
        f"GROUP BY g.z, g.y, g.x"
    )


@register("filter_laplace_3d", _filter3d_oracle(),
          tags=("imaging", "ndfilters", "3d"))
def filter_laplace_3d(spark, sf_dir):
    """The N-dimensional surface: a 3-D 6-neighbor Laplacian over a 16^3
    volume through ``correlate`` — the same pad-scatter plan at rank 3
    (reference filters accept any rank; this grades ours past 2-D)."""
    ev = load_table(spark, sf_dir, "events")
    px3 = ev.groupBy(
        F.expr(f"CAST(event_id % {_VOL} AS INT)").alias("z"),
        F.expr(f"CAST((event_id div {_VOL}) % {_VOL} AS INT)").alias("y"),
        F.expr(f"CAST((event_id div {_VOL * _VOL}) % {_VOL} AS INT)").alias("x"),
    ).agg(F.sum("value").alias("value"))
    out = ndfilters.correlate(
        px3, _K3D, (_VOL, _VOL, _VOL), mode="reflect"
    )
    return out.select("z", "y", "x", _eps_round("v", 4).alias("v"))


@register(
    "pyramid_coarsen_2x",
    with_pixel_ctes("""
    SELECT 1 AS level, y, x, ROUND(1.2345e-8 + value, 4) AS v FROM lvl1
    UNION ALL
    SELECT 2 AS level, y, x, ROUND(1.2345e-8 + value, 4) AS v FROM lvl2
    """, extra=[
        "lvl1 AS (SELECT CAST(y // 2 AS INT) AS y, CAST(x // 2 AS INT) AS x, "
        "AVG(value) AS value FROM pixels GROUP BY 1, 2)",
        "lvl2 AS (SELECT CAST(y // 2 AS INT) AS y, CAST(x // 2 AS INT) AS x, "
        "AVG(value) AS value FROM lvl1 GROUP BY 1, 2)",
    ]),
    tags=("imaging", "pyramid", "coarsen"),
)
def pyramid_coarsen_2x(spark, sf_dir):
    """``dask.array.coarsen(np.mean, x, {0: 2, 1: 2})`` — the multiscale
    pyramid primitive the dask imaging ecosystem builds OME-Zarr levels
    with: non-overlapping 2x2 block means, applied twice (64² → 32² →
    16²), both levels emitted with a level key. Each level is ONE
    map-side-combinable groupBy on the halved coordinates — no halo, no
    window, and level N+1 consumes level N's already-shuffled output, so
    a full pyramid costs one aggregate per level over geometrically
    shrinking data (the 100 TB microscopy-store write path)."""
    px = pixel_grid(spark, sf_dir)

    def coarsen(df):
        return df.groupBy(
            (F.col("y") / 2).cast("int").alias("y"),
            (F.col("x") / 2).cast("int").alias("x"),
        ).agg(F.avg("value").alias("value"))

    l1 = coarsen(px)
    l2 = coarsen(l1)
    out1 = l1.select(
        F.lit(1).alias("level"), "y", "x", _eps_round("value", 4).alias("v")
    )
    out2 = l2.select(
        F.lit(2).alias("level"), "y", "x", _eps_round("value", 4).alias("v")
    )
    return out1.unionByName(out2)


@register(
    "glcm_texture",
    with_pixel_ctes("""
    SELECT ga, gb, CAST(cnt AS BIGINT) AS cnt,
           ROUND(1.2345e-8 + cnt / n.c, 4) AS p,
           ROUND(1.2345e-8 + (ga - gb) * (ga - gb) * cnt / n.c, 4)
             AS contrast_term,
           ROUND(1.2345e-8 + cnt / n.c / (1.0 + ABS(ga - gb)), 4)
             AS homogeneity_term
    FROM cells CROSS JOIN n
    """, extra=[
        "ql AS (SELECT y, x, LEAST(3, GREATEST(0, "
        "CAST(FLOOR(value / 25.0) AS INT))) AS g FROM pixels)",
        "gpairs AS (SELECT a.g AS ga, b.g AS gb FROM ql a "
        "JOIN ql b ON b.y = a.y AND b.x = a.x + 1)",
        "n AS (SELECT COUNT(*) AS c FROM gpairs)",
        "cells AS (SELECT ga, gb, COUNT(*) AS cnt FROM gpairs "
        "GROUP BY ga, gb)",
    ]),
    tags=("imaging", "texture", "glcm"),
)
def glcm_texture(spark, sf_dir):
    """GREY-LEVEL CO-OCCURRENCE MATRIX (Haralick texture features, the
    (dy, dx) = (0, 1) offset): quantize to 4 grey levels, count ordered
    level pairs of horizontal neighbors, and emit each cell with its
    normalized probability plus its contrast and homogeneity terms (the
    per-cell addends of the Haralick statistics — summing the graded
    columns yields the features, so every term is hash-checked, not
    just the final scalars). The neighbor pairing is an equi-join on
    the shifted coordinate — at tile scale this is the same one-shuffle
    stencil shape as every filter; the co-occurrence matrix itself is
    levels², domain-bounded, so the groupBy output is tiny at any image
    size."""
    px = pixel_grid(spark, sf_dir)
    g = F.least(
        F.lit(3),
        F.greatest(F.lit(0), F.floor(F.col("value") / 25.0).cast("int")),
    )
    q = px.select("y", "x", g.alias("g"))
    a, b = q.alias("a"), q.alias("b")
    pairs = a.join(
        b,
        (F.col("b.y") == F.col("a.y")) & (F.col("b.x") == F.col("a.x") + 1),
    ).select(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
    n = pairs.agg(F.count(F.lit(1)).alias("c"))
    cells = pairs.groupBy("ga", "gb").agg(F.count(F.lit(1)).alias("cnt"))
    return cells.crossJoin(F.broadcast(n)).select(
        "ga",
        "gb",
        F.col("cnt").cast("long").alias("cnt"),
        _eps_round(F.col("cnt") / F.col("c"), 4).alias("p"),
        _eps_round(
            (F.col("ga") - F.col("gb"))
            * (F.col("ga") - F.col("gb"))
            * F.col("cnt")
            / F.col("c"),
            4,
        ).alias("contrast_term"),
        _eps_round(
            F.col("cnt") / F.col("c") / (1.0 + F.abs(F.col("ga") - F.col("gb"))),
            4,
        ).alias("homogeneity_term"),
    )


_HV = 8  # 8^4 = 4096 hypervoxels, dense from event_id folding at sf >= 0.01

_PX4 = (
    f"px4 AS (SELECT CAST(event_id % {_HV} AS INT) AS t, "
    f"CAST((event_id // {_HV}) % {_HV} AS INT) AS z, "
    f"CAST((event_id // {_HV ** 2}) % {_HV} AS INT) AS y, "
    f"CAST((event_id // {_HV ** 3}) % {_HV} AS INT) AS x, "
    "SUM(value) AS value FROM events GROUP BY 1, 2, 3, 4)"
)

# 4-D 8-neighbor Laplacian-style kernel
_K4D = (
    [(0, 0, 0, 0, -8.0)]
    + [tuple(1 if i == ax else 0 for i in range(4)) + (1.0,)
       for ax in range(4)]
    + [tuple(-1 if i == ax else 0 for i in range(4)) + (1.0,)
       for ax in range(4)]
)


def _filter4d_oracle() -> str:
    rm = {c: remap_sql(f"o.{c} + k.d{c}", _HV, "reflect")
          for c in ("t", "z", "y", "x")}
    kv = ", ".join(
        f"({dt}, {dz}, {dy}, {dx}, {w!r})" for dt, dz, dy, dx, w in _K4D
    )
    return (
        f"WITH {_PX4} "
        f"SELECT g.t, g.z, g.y, g.x, "
        f"ROUND(1.2345e-8 + SUM(p.value * g.w), 4) AS v "
        f"FROM (SELECT o.t, o.z, o.y, o.x, k.w, {rm['t']} AS st, "
        f"{rm['z']} AS sz, {rm['y']} AS sy, {rm['x']} AS sx "
        f"FROM px4 o CROSS JOIN (VALUES {kv}) k(dt, dz, dy, dx, w)) g "
        f"JOIN px4 p ON p.t = g.st AND p.z = g.sz AND p.y = g.sy "
        f"AND p.x = g.sx "
        f"GROUP BY g.t, g.z, g.y, g.x"
    )


@register("filter_laplace_4d", _filter4d_oracle(),
          tags=("imaging", "ndfilters", "4d"))
def filter_laplace_4d(spark, sf_dir):
    """RANK 4 — the any-rank claim made concrete past volumes: an
    8-neighbor Laplacian over an 8^4 (t, z, y, x) hypervolume, the shape
    of a (time, depth, height, width) microscopy sequence, through the
    SAME rank-generic ``correlate`` pad-scatter plan as the 3-D query
    (boundary branches are the 2^N - 1 axis subsets; N only changes how
    many broadcast pad-map joins feed the one shuffle). Upstream accepts
    any-rank dask arrays; this grades ours at the rank where hand-rolled
    2-D/3-D specializations would have run out."""
    ev = load_table(spark, sf_dir, "events")
    px4 = ev.groupBy(
        F.expr(f"CAST(event_id % {_HV} AS INT)").alias("t"),
        F.expr(f"CAST((event_id div {_HV}) % {_HV} AS INT)").alias("z"),
        F.expr(f"CAST((event_id div {_HV ** 2}) % {_HV} AS INT)").alias("y"),
        F.expr(f"CAST((event_id div {_HV ** 3}) % {_HV} AS INT)").alias("x"),
    ).agg(F.sum("value").alias("value"))
    out = ndfilters.correlate(px4, _K4D, (_HV,) * 4, mode="reflect")
    return out.select("t", "z", "y", "x", _eps_round("v", 4).alias("v"))


_ST3D = [(0, 0, 0, 1.0)] + [
    (dz, dy, dx, 1.0)
    for dz, dy, dx in [(-1, 0, 0), (1, 0, 0), (0, -1, 0), (0, 1, 0),
                       (0, 0, -1), (0, 0, 1)]
]


@register(
    "morph_erosion_3d",
    f"""
    WITH {_PX3},
    mask3 AS (SELECT z, y, x,
              CAST(value > (SELECT AVG(value) FROM px3) AS DOUBLE) AS value
              FROM px3)
    SELECT g.z, g.y, g.x,
           (SUM(COALESCE(p.value, 0.0)) = {len(_ST3D)}) AS v
    FROM (SELECT o.z, o.y, o.x, o.z + k.dz AS sz, o.y + k.dy AS sy,
                 o.x + k.dx AS sx
          FROM mask3 o CROSS JOIN (VALUES
            {", ".join(f"({dz}, {dy}, {dx})" for dz, dy, dx, _ in _ST3D)}
          ) k(dz, dy, dx)) g
    LEFT JOIN mask3 p ON p.z = g.sz AND p.y = g.sy AND p.x = g.sx
    GROUP BY g.z, g.y, g.x
    """,
    tags=("imaging", "ndmorph", "3d"),
)
def morph_erosion_3d(spark, sf_dir):
    """RANK-3 binary erosion (6-connected structure) through the N-D
    pad-scatter: for a 0/1 mask, erosion == (sum over the structure ==
    |structure|) with constant-0 border — the counting identity that turns
    a boolean morphology into the same SUM aggregate every other N-D
    stencil uses (one shuffle, map-side combinable)."""
    ev = load_table(spark, sf_dir, "events")
    px3 = ev.groupBy(
        F.expr(f"CAST(event_id % {_VOL} AS INT)").alias("z"),
        F.expr(f"CAST((event_id div {_VOL}) % {_VOL} AS INT)").alias("y"),
        F.expr(f"CAST((event_id div {_VOL * _VOL}) % {_VOL} AS INT)").alias("x"),
    ).agg(F.sum("value").alias("value"))
    thr = px3.agg(F.avg("value").alias("_thr"))
    mask3 = px3.crossJoin(F.broadcast(thr)).select(
        "z", "y", "x",
        (F.col("value") > F.col("_thr")).cast("double").alias("value"),
    )
    out = ndfilters.correlate(
        mask3, _ST3D, (_VOL, _VOL, _VOL), mode="constant", cval=0.0
    )
    return out.select("z", "y", "x", (F.col("v") == len(_ST3D)).alias("v"))


def _filter3d_constant_oracle(cval: float) -> str:
    kv = ", ".join(
        f"({dz}, {dy}, {dx}, {w!r})" for dz, dy, dx, w in _K3D
    )
    # constant mode: out-of-range neighbors miss the LEFT JOIN and COALESCE
    # to cval — no coordinate remap
    return (
        f"WITH {_PX3} "
        f"SELECT g.z, g.y, g.x, "
        f"ROUND(1.2345e-8 + SUM(COALESCE(p.value, CAST({cval!r} AS DOUBLE)) * g.w), 4) AS v "
        f"FROM (SELECT o.z, o.y, o.x, k.w, o.z + k.dz AS sz, o.y + k.dy AS sy, "
        f"o.x + k.dx AS sx "
        f"FROM px3 o CROSS JOIN (VALUES {kv}) k(dz, dy, dx, w)) g "
        f"LEFT JOIN px3 p ON p.z = g.sz AND p.y = g.sy AND p.x = g.sx "
        f"GROUP BY g.z, g.y, g.x"
    )


@register("filter_laplace_3d_constant", _filter3d_constant_oracle(1.5),
          tags=("imaging", "ndfilters", "3d"))
def filter_laplace_3d_constant(spark, sf_dir):
    """3-D Laplacian with ``mode='constant', cval=1.5`` — exercises the N-D
    constant-pad strips (round-1 gap: rank>2 constant padding with nonzero
    cval raised NotImplementedError)."""
    ev = load_table(spark, sf_dir, "events")
    px3 = ev.groupBy(
        F.expr(f"CAST(event_id % {_VOL} AS INT)").alias("z"),
        F.expr(f"CAST((event_id div {_VOL}) % {_VOL} AS INT)").alias("y"),
        F.expr(f"CAST((event_id div {_VOL * _VOL}) % {_VOL} AS INT)").alias("x"),
    ).agg(F.sum("value").alias("value"))
    out = ndfilters.correlate(
        px3, _K3D, (_VOL, _VOL, _VOL), mode="constant", cval=1.5
    )
    return out.select("z", "y", "x", _eps_round("v", 4).alias("v"))


# --- multi-image (keys) processing -------------------------------------------

_PX2 = (
    "px2 AS (SELECT CAST((event_id // 4096) % 2 AS INT) AS img, "
    "CAST(event_id % 64 AS INT) AS y, CAST((event_id // 64) % 64 AS INT) AS x, "
    "SUM(value) AS value FROM events GROUP BY 1, 2, 3)"
)


def _multi_image_oracle() -> str:
    sy = remap_sql("o.y + k.dy", GRID, "reflect")
    sx = remap_sql("o.x + k.dx", GRID, "reflect")
    return (
        f"WITH {_PX2} "
        f"SELECT g.img, g.y, g.x, ROUND(1.2345e-8 + SUM(p.value * g.w), 4) AS v "
        f"FROM (SELECT o.img, o.y, o.x, k.w, {sy} AS sy, {sx} AS sx "
        f"FROM px2 o CROSS JOIN (VALUES {_kernel_values(K.BOX3)}) "
        f"k(ko, dy, dx, w)) g "
        f"JOIN px2 p ON p.img = g.img AND p.y = g.sy AND p.x = g.sx "
        f"GROUP BY g.img, g.y, g.x"
    )


@register("filter_box_multi_image", _multi_image_oracle(),
          tags=("imaging", "ndfilters", "keys"))
def filter_box_multi_image(spark, sf_dir):
    """The same stencil template over a MULTI-IMAGE table: ``keys=("img",)``
    carries the image id through pad/scatter/aggregate, so one plan
    processes any number of images — the 100 TB layout (millions of images
    partitioned by id), exercised end-to-end on a 2-image fixture."""
    ev = load_table(spark, sf_dir, "events")
    px2 = ev.groupBy(
        F.expr("CAST((event_id div 4096) % 2 AS INT)").alias("img"),
        F.expr(f"CAST(event_id % {GRID} AS INT)").alias("y"),
        F.expr(f"CAST((event_id div {GRID}) % {GRID} AS INT)").alias("x"),
    ).agg(F.sum("value").alias("value"))
    out = ndfilters.correlate(px2, K.BOX3, SHAPE, keys=("img",))
    return out.select("img", "y", "x", _eps_round("v", 4).alias("v"))


# --- ndmeasure ---------------------------------------------------------------


def _measure_oracle(body: str) -> str:
    return with_pixel_ctes(body)


@register("measure_area", _measure_oracle(
    "SELECT label, COUNT(*) AS area FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_area(spark, sf_dir):
    return ndmeasure.area(labeled_grid(spark, sf_dir))


@register("measure_sum", _measure_oracle(
    "SELECT label, ROUND(1.2345e-8 + SUM(value), 4) AS sum_v FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_sum(spark, sf_dir):
    df = ndmeasure.sum_labels(labeled_grid(spark, sf_dir))
    return df.select("label", _eps_round("sum_v", 4).alias("sum_v"))


@register("measure_mean", _measure_oracle(
    "SELECT label, ROUND(1.2345e-8 + AVG(value), 4) AS mean_v FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_mean(spark, sf_dir):
    df = ndmeasure.mean(labeled_grid(spark, sf_dir))
    return df.select("label", _eps_round("mean_v", 4).alias("mean_v"))


@register("measure_median", _measure_oracle(
    "SELECT label, ROUND(1.2345e-8 + MEDIAN(value), 4) AS median_v FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_median(spark, sf_dir):
    df = ndmeasure.median(labeled_grid(spark, sf_dir))
    return df.select("label", _eps_round("median_v", 4).alias("median_v"))


@register("measure_variance", _measure_oracle(
    "SELECT label, ROUND(1.2345e-8 + VAR_POP(value), 4) AS var_v FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_variance(spark, sf_dir):
    """Population variance (ddof=0) — scipy semantics, NOT var_samp."""
    df = ndmeasure.variance(labeled_grid(spark, sf_dir))
    return df.select("label", _eps_round("var_v", 4).alias("var_v"))


@register("measure_stddev", _measure_oracle(
    "SELECT label, ROUND(1.2345e-8 + STDDEV_POP(value), 4) AS std_v FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_stddev(spark, sf_dir):
    df = ndmeasure.standard_deviation(labeled_grid(spark, sf_dir))
    return df.select("label", _eps_round("std_v", 4).alias("std_v"))


@register("measure_minimum", _measure_oracle(
    "SELECT label, ROUND(1.2345e-8 + MIN(value), 4) AS min_v FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_minimum(spark, sf_dir):
    df = ndmeasure.minimum(labeled_grid(spark, sf_dir))
    return df.select("label", _eps_round("min_v", 4).alias("min_v"))


@register("measure_maximum", _measure_oracle(
    "SELECT label, ROUND(1.2345e-8 + MAX(value), 4) AS max_v FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_maximum(spark, sf_dir):
    df = ndmeasure.maximum(labeled_grid(spark, sf_dir))
    return df.select("label", _eps_round("max_v", 4).alias("max_v"))


@register("measure_minimum_position", _measure_oracle(
    "SELECT label, y AS min_y, x AS min_x FROM labeled "
    "QUALIFY ROW_NUMBER() OVER (PARTITION BY label ORDER BY value, y, x) = 1"),
    tags=("imaging", "ndmeasure"))
def measure_minimum_position(spark, sf_dir):
    """First minimum in ravel (y-major) order — scipy's tiebreak."""
    return ndmeasure.minimum_position(labeled_grid(spark, sf_dir))


@register("measure_maximum_position", _measure_oracle(
    "SELECT label, y AS max_y, x AS max_x FROM labeled "
    "QUALIFY ROW_NUMBER() OVER (PARTITION BY label ORDER BY value DESC, y, x) = 1"),
    tags=("imaging", "ndmeasure"))
def measure_maximum_position(spark, sf_dir):
    return ndmeasure.maximum_position(labeled_grid(spark, sf_dir))


@register("measure_extrema", with_pixel_ctes(
    "SELECT mn.label, min_v, max_v, min_y, min_x, max_y, max_x "
    "FROM mn JOIN mnp ON mn.label = mnp.label JOIN mxp ON mn.label = mxp.label",
    extra=[
        "mn AS (SELECT label, ROUND(1.2345e-8 + MIN(value), 4) AS min_v, "
        "ROUND(1.2345e-8 + MAX(value), 4) AS max_v FROM labeled GROUP BY label)",
        "mnp AS (SELECT label, y AS min_y, x AS min_x FROM labeled "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY label ORDER BY value, y, x) = 1)",
        "mxp AS (SELECT label, y AS max_y, x AS max_x FROM labeled "
        "QUALIFY ROW_NUMBER() OVER (PARTITION BY label ORDER BY value DESC, y, x) = 1)",
    ]),
    tags=("imaging", "ndmeasure"))
def measure_extrema(spark, sf_dir):
    df = ndmeasure.extrema(labeled_grid(spark, sf_dir))
    return df.select(
        "label", _eps_round("min_v", 4).alias("min_v"), _eps_round("max_v", 4).alias("max_v"),
        "min_y", "min_x", "max_y", "max_x",
    )


@register("measure_center_of_mass", _measure_oracle(
    "SELECT label, ROUND(1.2345e-8 + SUM(y * value) / SUM(value), 4) AS com_y, "
    "ROUND(1.2345e-8 + SUM(x * value) / SUM(value), 4) AS com_x FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_center_of_mass(spark, sf_dir):
    df = ndmeasure.center_of_mass(labeled_grid(spark, sf_dir))
    return df.select(
        "label", _eps_round("com_y", 4).alias("com_y"), _eps_round("com_x", 4).alias("com_x")
    )


@register("measure_central_moments", _measure_oracle(
    "SELECT label, "
    "ROUND(1.2345e-8 + SUM(value), 4) AS mass, "
    "ROUND(1.2345e-8 + SUM(value*y)/SUM(value), 4) AS com_y, "
    "ROUND(1.2345e-8 + SUM(value*x)/SUM(value), 4) AS com_x, "
    "ROUND(1.2345e-8 + SUM(value*y*y) - SUM(value*y)*SUM(value*y)/SUM(value), 4) AS mu20, "
    "ROUND(1.2345e-8 + SUM(value*x*x) - SUM(value*x)*SUM(value*x)/SUM(value), 4) AS mu02, "
    "ROUND(1.2345e-8 + SUM(value*y*x) - SUM(value*y)*SUM(value*x)/SUM(value), 4) AS mu11, "
    "ROUND(1.2345e-8 + atan2("
    "  2*(SUM(value*y*x) - SUM(value*y)*SUM(value*x)/SUM(value)),"
    "  (SUM(value*y*y) - SUM(value*y)*SUM(value*y)/SUM(value))"
    "  - (SUM(value*x*x) - SUM(value*x)*SUM(value*x)/SUM(value))) / 2, 4)"
    " AS orientation "
    "FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure", "regionprops"))
def measure_central_moments(spark, sf_dir):
    """Per-label central moments + principal-axis orientation — skimage
    regionprops' shape descriptors (the inertia-tensor family) as one
    partial-aggregatable pass over the label table; completes the
    measurement family beyond upstream's center_of_mass (see
    ndmeasure.central_moments for the raw-moment identity plan)."""
    df = ndmeasure.central_moments(labeled_grid(spark, sf_dir))
    return df.select(
        "label",
        _eps_round("mass", 4).alias("mass"),
        _eps_round("com_y", 4).alias("com_y"),
        _eps_round("com_x", 4).alias("com_x"),
        _eps_round("mu20", 4).alias("mu20"),
        _eps_round("mu02", 4).alias("mu02"),
        _eps_round("mu11", 4).alias("mu11"),
        _eps_round("orientation", 4).alias("orientation"),
    )


@register("measure_histogram", _measure_oracle(
    "SELECT label, LEAST(CAST(FLOOR((value - 0.0) / 400.0 * 8) AS INT), 7) AS bucket, "
    "COUNT(*) AS cnt FROM labeled WHERE value >= 0.0 AND value <= 400.0 "
    "GROUP BY 1, 2"),
    tags=("imaging", "ndmeasure"))
def measure_histogram(spark, sf_dir):
    return ndmeasure.histogram(labeled_grid(spark, sf_dir), 0.0, 400.0, 8)


@register("measure_find_objects", _measure_oracle(
    "SELECT label, MIN(y) AS ymin, MAX(y) AS ymax, MIN(x) AS xmin, MAX(x) AS xmax "
    "FROM labeled GROUP BY label"),
    tags=("imaging", "ndmeasure"))
def measure_find_objects(spark, sf_dir):
    return ndmeasure.find_objects(labeled_grid(spark, sf_dir))


_VOL2 = (
    f"vol3 AS (SELECT CAST((event_id // {_VOL ** 3}) % 2 AS BIGINT) AS vol, "
    f"CAST(event_id % {_VOL} AS INT) AS z, "
    f"CAST((event_id // {_VOL}) % {_VOL} AS INT) AS y, "
    f"CAST((event_id // {_VOL * _VOL}) % {_VOL} AS INT) AS x, "
    "SUM(value) AS value FROM events GROUP BY 1, 2, 3, 4)"
)


def _fourier3d_oracle(sigma: float) -> str:
    """Separable rank-3 convolution-theorem oracle: three chained 1-D
    circular convolutions with the per-axis gaussian response's
    inverse-DFT taps (driver-computed double literals)."""
    import numpy as np

    f = np.fft.fftfreq(_VOL)
    taps = np.real(np.fft.ifft(np.exp(-2.0 * np.pi**2 * sigma**2 * f**2)))
    tv = ", ".join(
        f"({i}, CAST({float(w)!r} AS DOUBLE))" for i, w in enumerate(taps)
    )
    return f"""
    WITH {_VOL2}
    SELECT g.vol, g.z, g.y, g.x, ROUND(1.2345e-8 + g.v, 4) AS v FROM (
      SELECT c2.vol, c2.z, c2.y, CAST((c2.x + tx.k) % {_VOL} AS INT) AS x,
             SUM(tx.w * c2.v) AS v
      FROM (
        SELECT c1.vol, c1.z, CAST((c1.y + ty.k) % {_VOL} AS INT) AS y, c1.x,
               SUM(ty.w * c1.v) AS v
        FROM (
          SELECT p.vol, CAST((p.z + tz.k) % {_VOL} AS INT) AS z, p.y, p.x,
                 SUM(tz.w * p.value) AS v
          FROM vol3 p CROSS JOIN (VALUES {tv}) tz(k, w)
          GROUP BY 1, 2, 3, 4
        ) c1 CROSS JOIN (VALUES {tv}) ty(k, w)
        GROUP BY 1, 2, 3, 4
      ) c2 CROSS JOIN (VALUES {tv}) tx(k, w)
      GROUP BY 1, 2, 3, 4
    ) g
    """


@register("fourier_gaussian_3d", _fourier3d_oracle(1.0),
          tags=("imaging", "ndfourier", "3d", "udf"))
def fourier_gaussian_3d(spark, sf_dir):
    """Rank-3 FFT Gaussian over TWO 16^3 volumes (keyed groups parallelize)
    — the n-D fourier surface past 2-D, mirroring how filter_laplace_3d
    grades the n-D stencil surface. Strong via three chained 1-D circular
    convolutions (separable response, driver-computed taps)."""
    ev = load_table(spark, sf_dir, "events")
    px3 = ev.groupBy(
        F.expr(f"CAST((event_id div {_VOL ** 3}) % 2 AS BIGINT)").alias("vol"),
        F.expr(f"CAST(event_id % {_VOL} AS INT)").alias("z"),
        F.expr(f"CAST((event_id div {_VOL}) % {_VOL} AS INT)").alias("y"),
        F.expr(f"CAST((event_id div {_VOL * _VOL}) % {_VOL} AS INT)").alias("x"),
    ).agg(F.sum("value").alias("value"))
    out = chunked.fourier_gaussian(
        px3, sigma=1.0, shape=(_VOL, _VOL, _VOL), keys=["vol"]
    )
    return out.select("vol", "z", "y", "x", _eps_round("v", 4).alias("v"))


def _affine1_3d_oracle(mz, my, mx, oz, oy, ox) -> str:
    """Rank-3 trilinear gather oracle: 8 corners, clamped, product weights
    (the 3-D generalization of the bilinear oracle in queries/interp.py)."""

    def d(v):
        return f"CAST({v!r} AS DOUBLE)"

    fz = f"({d(mz)} * o.z + {d(oz)})"
    fy = f"({d(my)} * o.y + {d(oy)})"
    fx = f"({d(mx)} * o.x + {d(ox)})"
    corners = ", ".join(
        f"({a}, {b}, {c})" for a in (0, 1) for b in (0, 1) for c in (0, 1)
    )
    lerp = (
        "(CASE WHEN k.cz = 0 THEN 1 - ({fz} - FLOOR({fz})) ELSE ({fz} - FLOOR({fz})) END)"
        " * (CASE WHEN k.cy = 0 THEN 1 - ({fy} - FLOOR({fy})) ELSE ({fy} - FLOOR({fy})) END)"
        " * (CASE WHEN k.cx = 0 THEN 1 - ({fx} - FLOOR({fx})) ELSE ({fx} - FLOOR({fx})) END)"
    ).format(fz=fz, fy=fy, fx=fx)
    hi = _VOL - 1
    return f"""
    WITH {_PX3}
    SELECT g.z, g.y, g.x, ROUND(1.2345e-8 + SUM(g.wgt * p.value), 4) AS v
    FROM (
      SELECT o.z, o.y, o.x,
             LEAST(GREATEST(CAST(FLOOR({fz}) AS INT) + k.cz, 0), {hi}) AS sz,
             LEAST(GREATEST(CAST(FLOOR({fy}) AS INT) + k.cy, 0), {hi}) AS sy,
             LEAST(GREATEST(CAST(FLOOR({fx}) AS INT) + k.cx, 0), {hi}) AS sx,
             {lerp} AS wgt
      FROM px3 o CROSS JOIN (VALUES {corners}) k(cz, cy, cx)
    ) g JOIN px3 p ON p.z = g.sz AND p.y = g.sy AND p.x = g.sx
    GROUP BY g.z, g.y, g.x
    """


@register(
    "affine_order1_3d",
    _affine1_3d_oracle(0.7, 0.7, 0.7, 2.5, 1.25, 3.75),
    tags=("imaging", "ndinterp", "3d"),
)
def affine_order1_3d(spark, sf_dir):
    """Rank-3 trilinear affine (zoom 0.7 + fractional translate) over the
    16^3 volume — the n-D surface of the interp gather-join pattern
    (upstream affine_transform accepts any rank)."""
    ev = load_table(spark, sf_dir, "events")
    px3 = ev.groupBy(
        F.expr(f"CAST(event_id % {_VOL} AS INT)").alias("z"),
        F.expr(f"CAST((event_id div {_VOL}) % {_VOL} AS INT)").alias("y"),
        F.expr(f"CAST((event_id div {_VOL * _VOL}) % {_VOL} AS INT)").alias("x"),
    ).agg(F.sum("value").alias("value"))
    out = ndinterp.affine_transform_order1_3d(
        px3, (0.7, 0.7, 0.7), (2.5, 1.25, 3.75), (_VOL, _VOL, _VOL)
    )
    return out.select("z", "y", "x", _eps_round("v", 4).alias("v"))


@register(
    "image_hist_equalize",
    with_pixel_ctes(
        """
        SELECT m.lvl_out, CAST(SUM(m.cnt) AS BIGINT) AS n_px,
               CAST(MIN(m.lvl) AS INT) AS min_lvl_in,
               CAST(MAX(m.lvl) AS INT) AS max_lvl_in
        FROM (
          SELECT lvl, cnt,
                 CAST(ROUND(255.0 * cum / tot + 1.2345e-8) AS INT) AS lvl_out
          FROM (
            SELECT lvl, cnt,
                   SUM(cnt) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING)
                     AS cum,
                   SUM(cnt) OVER () AS tot
            FROM (SELECT CAST(FLOOR(value) AS BIGINT) % 256 AS lvl,
                         COUNT(*) AS cnt
                  FROM pixels GROUP BY 1) h) c) m
        GROUP BY m.lvl_out
        ORDER BY m.lvl_out
        """
    ),
    tags=("imaging", "histogram", "pointwise"),
)
def image_hist_equalize(spark, sf_dir):
    """HISTOGRAM EQUALIZATION — the global contrast-stretch pointwise
    transform (skimage ``equalize_hist`` made discrete): quantize pixels
    to 256 gray levels, build the level histogram, map each level
    through the cumulative distribution (``255·cdf``), and report the
    REMAPPED histogram with each output bin's input-level span. Scale
    shape: the histogram is ONE partial-agg groupBy (≤256 groups
    regardless of image size), the CDF window runs over that 256-row
    LEVEL DOMAIN — not the image — and the per-pixel remap would be a
    broadcast-joined map-side lookup; this is the canonical
    small-state/pointwise image op, the opposite pole from the stencils."""
    px = pixel_grid(spark, sf_dir)
    h = px.select(
        (F.floor("value").cast("bigint") % 256).alias("lvl")
    ).groupBy("lvl").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("lvl").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    m = h.select(
        "lvl", "cnt",
        _eps_round(
            255.0 * F.sum("cnt").over(w_cum) / F.sum("cnt").over(w_all), 0
        ).cast("int").alias("lvl_out"),
    )
    return (
        m.groupBy("lvl_out")
        .agg(
            F.sum("cnt").cast("long").alias("n_px"),
            F.min("lvl").cast("int").alias("min_lvl_in"),
            F.max("lvl").cast("int").alias("max_lvl_in"),
        )
        .orderBy("lvl_out")
    )


@register(
    "distance_transform_l1",
    with_pixel_ctes(
        """
        SELECT p.y, p.x,
               CAST(MIN(ABS(p.y - m.y) + ABS(p.x - m.x)) AS INT) AS dist
        FROM pixels p CROSS JOIN (SELECT y, x FROM mask WHERE m) m
        GROUP BY p.y, p.x
        """,
        extra=None,
    ),
    tags=("imaging", "distance-transform", "window"),
)
def distance_transform_l1(spark, sf_dir):
    """EXACT L1 (taxicab) DISTANCE TRANSFORM — distance from every pixel
    to its nearest mask pixel (scipy ``distance_transform_cdt``'s metric;
    the morphology/segmentation primitive behind watershed seeds and
    proximity features). The L1 metric is SEPARABLE, which is what makes
    a declarative formulation possible: a per-row 1-D transform
    (min over x' of |x−x'| at mask pixels) computes as TWO running-min
    window frames — min(g−x')+x forward and min(g+x')−x backward, the
    classic rewrite of a distance recurrence into prefix minima — then
    the per-column pass applies the same trick to the row results with
    |y−y'|. Four window frames over two sorts (rows, then columns),
    each partitioned by the other axis: two shuffles TOTAL for an exact
    transform, vs the oracle's brute-force O(pixels × mask) nearest
    search. Assumes the dense fixture grid (every cell present), like
    the stencil family; INF is a large integer sentinel so empty rows
    pass through arithmetic, never NULL logic."""
    from dask_image_spark.functions.pixelgrid import mask_grid

    INF = 1 << 20
    m = mask_grid(spark, sf_dir)
    g = m.select(
        "y", "x", F.when(F.col("m"), 0).otherwise(F.lit(INF)).alias("g")
    )
    fwd_x = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bwd_x = Window.partitionBy("y").orderBy("x").rowsBetween(
        0, Window.unboundedFollowing
    )
    dr = g.select(
        "y", "x",
        F.least(
            F.min(F.col("g") - F.col("x")).over(fwd_x) + F.col("x"),
            F.min(F.col("g") + F.col("x")).over(bwd_x) - F.col("x"),
        ).alias("dr"),
    )
    fwd_y = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bwd_y = Window.partitionBy("x").orderBy("y").rowsBetween(
        0, Window.unboundedFollowing
    )
    return dr.select(
        "y", "x",
        F.least(
            F.min(F.col("dr") - F.col("y")).over(fwd_y) + F.col("y"),
            F.min(F.col("dr") + F.col("y")).over(bwd_y) - F.col("y"),
        ).cast("int").alias("dist"),
    )


_VORONOI_ORACLE = with_pixel_ctes(
    """
    SELECT f.y, f.x, MIN(s2.sy * 64 + s2.sx) AS marker
    FROM fg f
    JOIN seeds s2
      ON (f.y - s2.sy) * (f.y - s2.sy) + (f.x - s2.sx) * (f.x - s2.sx)
         = (SELECT MIN((f.y - s.sy) * (f.y - s.sy)
                     + (f.x - s.sx) * (f.x - s.sx)) FROM seeds s)
    GROUP BY f.y, f.x
    """,
    extra=[
        "fg AS (SELECT y, x FROM mask WHERE m)",
        """ed AS (
      SELECT f.y, f.x,
             MIN((f.y - g.y) * (f.y - g.y) + (f.x - g.x) * (f.x - g.x))
               AS d2
      FROM fg f CROSS JOIN (SELECT y, x FROM mask WHERE NOT m) g
      GROUP BY f.y, f.x)""",
        """ranked AS (
      SELECT y, x, d2,
             ROW_NUMBER() OVER (
               PARTITION BY y // 16, x // 16
               ORDER BY d2 DESC, y, x) AS rn
      FROM ed)""",
        "seeds AS (SELECT y AS sy, x AS sx FROM ranked WHERE rn = 1)",
    ],
)


@register(
    "watershed_voronoi_markers",
    _VORONOI_ORACLE,
    tags=("imaging", "segmentation", "distance-transform"),
)
def watershed_voronoi_markers(spark, sf_dir):
    """MARKER-BASED SEGMENTATION, the watershed-pipeline composition
    (skimage's canonical recipe: EDT -> peak markers -> assign each
    foreground pixel to a marker): markers are the per-16x16-block
    DEEPEST foreground pixels (argmax of the euclidean distance to
    background, deterministic (d2 desc, y, x) tie-break), and every
    foreground pixel joins its NEAREST marker — the Voronoi partition
    that watershed-on-a-flat-landscape reduces to, with min-ravel
    tie-breaking so the labeling is canonical like ``label``'s.

    Composition story: the background distance reuses the separable
    EDT machinery (row L1 squared via windows + per-column parabola
    envelope); marker selection is one 16-group argmax aggregate; and
    the assignment BROADCASTS the <= 16-row marker table and takes ONE
    map-side min(struct(d2, ravel)) aggregate per pixel — no shuffle
    beyond the EDT's own two, at any image size. The oracle replays all
    three stages definitionally (brute-force nearest background, window
    argmax, nearest-marker anti-ties)."""
    from dask_image_spark.functions.pixelgrid import mask_grid
    from dask_image_spark.operators.chunked import edt_envelope_1d

    import pandas as pd

    INF = 1 << 20
    m = mask_grid(spark, sf_dir)
    # EDT to BACKGROUND (distance from each fg pixel to nearest ~m):
    # seed cost 0 at background pixels
    g = m.select(
        "y", "x", "m",
        F.when(~F.col("m"), 0).otherwise(F.lit(INF)).alias("g"),
    )
    fwd_x = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bwd_x = Window.partitionBy("y").orderBy("x").rowsBetween(
        0, Window.unboundedFollowing
    )
    drow = F.least(
        F.min(F.col("g") - F.col("x")).over(fwd_x) + F.col("x"),
        F.min(F.col("g") + F.col("x")).over(bwd_x) - F.col("x"),
        F.lit(100_000),
    )
    d1 = g.select(
        "y", "x", "m", (drow * drow).cast("double").alias("d1")
    )

    def envelope(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("y")
        d = edt_envelope_1d(pdf["d1"].to_numpy())
        return pd.DataFrame(
            {
                "y": pdf["y"].to_numpy(),
                "x": pdf["x"].to_numpy(),
                "m": pdf["m"].to_numpy(),
                "d2": d,
            }
        )

    ed = (
        d1.groupBy("x")
        .applyInPandas(envelope, "y int, x int, m boolean, d2 long")
        .filter(F.col("m"))
        .select("y", "x", "d2")
    )
    ed = persist_tracked(ed)
    seeds = (
        ed.groupBy(
            (F.col("y") / 16).cast("int").alias("by"),
            (F.col("x") / 16).cast("int").alias("bx"),
        )
        .agg(
            F.max(
                F.struct(
                    F.col("d2"),
                    (-F.col("y")).alias("ny"),
                    (-F.col("x")).alias("nx"),
                )
            ).alias("s")
        )
        .select(
            (-F.col("s.ny")).alias("sy"), (-F.col("s.nx")).alias("nxv")
        )
        .select("sy", F.col("nxv").alias("sx"))
    )
    dist2 = (
        (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy"))
        + (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
    )
    return (
        ed.select("y", "x")
        .crossJoin(F.broadcast(seeds))
        .groupBy("y", "x")
        .agg(
            F.min(
                F.struct(
                    dist2.alias("d"),
                    (F.col("sy") * 64 + F.col("sx")).alias("ravel"),
                )
            ).alias("s")
        )
        .select("y", "x", F.col("s.ravel").cast("long").alias("marker"))
    )


# Richardson-Lucy deconvolution fixture: a deliberately ASYMMETRIC
# normalized 3x3 PSF (a symmetric one would make the convolve and
# correlate passes identical and leave the kernel flip ungraded).
_RL_PSF = [
    (dy, dx, (3 * (dy + 1) + (dx + 1) + 1) / 45.0)
    for dy in (-1, 0, 1) for dx in (-1, 0, 1)
]
_RL_PSF_FLIP = [(-dy, -dx, w) for dy, dx, w in _RL_PSF]
_RL_EPS = 1.2345e-8


def _rl_oracle(iters: int = 2) -> str:
    """Chained-CTE replay of the fixed-iteration RL update with the same
    6-decimal quantization barrier after every stage (the engine's
    numpy tiles quantize identically, so cross-engine float drift can
    never compound through the iterations)."""
    def taps_values(taps):
        return ", ".join(f"({dy}, {dx}, {w!r})" for dy, dx, w in taps)

    def scatter(name, src, taps_tbl):
        return f"""{name} AS (
      SELECT p.y, p.x,
             ROUND({_RL_EPS!r} + COALESCE(SUM(q.v * t.w), 0.0), 6) AS v
      FROM grid p CROSS JOIN {taps_tbl} t
      LEFT JOIN {src} q ON q.y = p.y + t.dy AND q.x = p.x + t.dx
      GROUP BY p.y, p.x)"""

    ctes = [
        "grid AS (SELECT y, x, value FROM pixels)",
        "j0 AS (SELECT y, x, value AS v FROM grid)",
        f"tconv(dy, dx, w) AS (SELECT * FROM (VALUES {taps_values(_RL_PSF_FLIP)}))",
        f"tcorr(dy, dx, w) AS (SELECT * FROM (VALUES {taps_values(_RL_PSF)}))",
    ]
    prev = "j0"
    for i in range(1, iters + 1):
        ctes.append(scatter(f"conv{i}", prev, "tconv"))
        ctes.append(
            f"""ratio{i} AS (
      SELECT g.y, g.x,
             ROUND({_RL_EPS!r} + CASE WHEN c.v > 1e-12
                   THEN g.value / c.v ELSE 0.0 END, 6) AS v
      FROM grid g JOIN conv{i} c ON c.y = g.y AND c.x = g.x)"""
        )
        ctes.append(scatter(f"corr{i}", f"ratio{i}", "tcorr"))
        ctes.append(
            f"""j{i} AS (
      SELECT p.y, p.x, ROUND({_RL_EPS!r} + p.v * c.v, 6) AS v
      FROM {prev} p JOIN corr{i} c ON c.y = p.y AND c.x = p.x)"""
        )
        prev = f"j{i}"
    return with_pixel_ctes(
        f"SELECT y, x, ROUND({_RL_EPS!r} + v, 4) AS deconv "
        f"FROM {prev} ORDER BY y, x",
        extra=ctes,
    )


@register(
    "richardson_lucy_deconv",
    _rl_oracle(),
    tags=("imaging", "restoration", "tiles", "iterative"),
)
def richardson_lucy_deconv(spark, sf_dir):
    """RICHARDSON-LUCY DECONVOLUTION, 2 fixed iterations with an
    asymmetric 3x3 PSF — the iterative image-restoration workhorse
    (skimage ``restoration.richardson_lucy``; deblurring microscopy
    stacks is dask-image's home turf). Update rule per iteration:
    J <- J * correlate(I / convolve(J, P), P), zero-padded 'same'
    boundaries — the convolve/correlate pair exercises the PSF flip,
    which only an asymmetric PSF can grade.

    Engine plan: the ENTIRE 2-iteration update runs inside ONE R2
    tile pass (``chunked.map_overlap_tiles``, depth 4 = the full
    receptive radius of 4 chained radius-1 stencils, constant-0 pad) —
    one shuffle total, where composing eight R1 stencil/join stages
    would pay a shuffle each. Every stage output is quantized to 6
    decimals on BOTH engines (the k-means quantized-iterates barrier),
    so float drift cannot compound across iterations; the oracle
    replays the stages as chained scatter CTEs."""
    import numpy as np

    px = pixel_grid(spark, sf_dir)

    def q6(a):
        return np.round(a + _RL_EPS, 6)

    def conv9(a, taps):
        ap = np.pad(a, 1)
        nr, nc = a.shape
        out = np.zeros_like(a)
        for dy, dx, w in taps:
            out += w * ap[1 + dy : 1 + dy + nr, 1 + dx : 1 + dx + nc]
        return out

    def rl(tile: np.ndarray) -> np.ndarray:
        image = tile
        j = tile
        for _ in range(2):
            conv = q6(conv9(j, _RL_PSF_FLIP))
            ratio = q6(np.where(conv > 1e-12, image / np.where(conv > 1e-12, conv, 1.0), 0.0))
            corr = q6(conv9(ratio, _RL_PSF))
            j = q6(j * corr)
        return j

    out = chunked.map_overlap_tiles(
        px, rl, SHAPE, depth=4, block=32, mode="constant", cval=0.0
    )
    return out.select(
        "y", "x", _eps_round("v", 4).alias("deconv")
    ).orderBy("y", "x")


# 3x3 template for NCC matching: varied deterministic ints, centered
# at build time so both engines embed identical double literals.
_TM_RAW = [
    (dy, dx, ((3 * (dy + 1) + (dx + 1)) * 7 + 5) % 13)
    for dy in (-1, 0, 1) for dx in (-1, 0, 1)
]
_TM_MEAN = sum(w for _, _, w in _TM_RAW) / 9.0
_TM_CENT = [(dy, dx, w - _TM_MEAN) for dy, dx, w in _TM_RAW]
_TM_SS = sum(w * w for _, _, w in _TM_CENT)  # sum of squared centered taps

_TM_VALUES = ", ".join(f"({dy}, {dx}, {w!r})" for dy, dx, w in _TM_CENT)

_TEMPLATE_MATCH_ORACLE = with_pixel_ctes(
    f"""
    SELECT y, x,
           ROUND(1.2345e-8 + corrt / sqrt((s2 - s1 * s1 / 9.0) * {_TM_SS!r}),
                 4) AS ncc
    FROM win
    WHERE s2 - s1 * s1 / 9.0 > 1e-9
    ORDER BY ncc DESC, y, x LIMIT 10
    """,
    extra=[
        f"t(dy, dx, w) AS (SELECT * FROM (VALUES {_TM_VALUES}))",
        """win AS (
      SELECT p.y, p.x,
             SUM(q.value * t.w) AS corrt,
             SUM(q.value) AS s1,
             SUM(q.value * q.value) AS s2
      FROM pixels p CROSS JOIN t
      JOIN pixels q ON q.y = p.y + t.dy AND q.x = p.x + t.dx
      GROUP BY p.y, p.x HAVING COUNT(*) = 9)""",
    ],
)


@register(
    "template_match_ncc",
    _TEMPLATE_MATCH_ORACLE,
    tags=("imaging", "stencil", "matching"),
)
def template_match_ncc(spark, sf_dir):
    """TEMPLATE MATCHING by normalized cross-correlation (skimage
    ``match_template``): score every valid 3x3 window against a fixed
    template, invariant to local brightness and contrast —
    ncc = sum((I_d - mean_I)(T_d - mean_T)) / sqrt(var_I * var_T) —
    then report the top-10 matches. Because sum(T_d - mean_T) = 0, the
    numerator is just the correlation with the CENTERED template, and
    the local variance comes from the window sum and sum-of-squares; so
    ALL THREE window statistics come out of ONE scatter-aggregate (each
    pixel fans out to the 9 windows that read it, one groupBy — the
    stencil family's single-shuffle plan, carrying three aggregates
    instead of one) followed by a TakeOrderedAndProject heap. A naive
    composition would run three separate 9-tap correlations = three
    shuffles. Interior-only via the count-9 gate, matching the oracle's
    definitional join; flat windows (zero variance) are excluded before
    the division on both engines."""
    px = pixel_grid(spark, sf_dir)
    taps = values_df(
        spark, "dy, dx, w", [(dy, dx, float(w)) for dy, dx, w in _TM_CENT]
    )
    win = (
        px.crossJoin(F.broadcast(taps))
        .select(
            (F.col("y") - F.col("dy")).alias("ty"),
            (F.col("x") - F.col("dx")).alias("tx"),
            (F.col("value") * F.col("w")).alias("vw"),
            "value",
        )
        .groupBy(F.col("ty").alias("y"), F.col("tx").alias("x"))
        .agg(
            F.sum("vw").alias("corrt"),
            F.sum("value").alias("s1"),
            F.sum(F.col("value") * F.col("value")).alias("s2"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") == 9)
    )
    var_i = F.col("s2") - F.col("s1") * F.col("s1") / 9.0
    return (
        win.filter(var_i > 1e-9)
        .select(
            "y", "x",
            _eps_round(
                F.col("corrt") / F.sqrt(var_i * F.lit(_TM_SS)), 4
            ).alias("ncc"),
        )
        .orderBy(F.desc("ncc"), "y", "x")
        .limit(10)
    )


@register(
    "image_hist_match",
    with_pixel_ctes(
        """
        SELECT a.lvl, a.cnt,
               CAST(MIN(b.lvl) AS INT) AS matched
        FROM ca a JOIN cb b
          ON b.cum * a.tot >= a.cum * b.tot
        GROUP BY a.lvl, a.cnt ORDER BY a.lvl
        """,
        extra=[
            """ha AS (SELECT CAST(FLOOR(value) AS BIGINT) % 256 AS lvl,
                    COUNT(*) AS cnt FROM pixels GROUP BY 1)""",
            """ca AS (SELECT lvl, cnt,
                    SUM(cnt) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING)
                      AS cum,
                    SUM(cnt) OVER () AS tot FROM ha)""",
            """hb AS (SELECT (event_id * 37 + 11) % 256 AS lvl,
                    COUNT(*) AS cnt FROM events GROUP BY 1)""",
            """cb AS (SELECT lvl,
                    SUM(cnt) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING)
                      AS cum,
                    SUM(cnt) OVER () AS tot FROM hb)""",
        ],
    ),
    tags=("imaging", "histogram", "pointwise"),
)
def image_hist_match(spark, sf_dir):
    """HISTOGRAM MATCHING (skimage ``match_histograms`` made discrete):
    remap the source image's gray levels so its distribution follows a
    REFERENCE distribution — the cross-acquisition normalization step
    microscopy pipelines run before any cross-image comparison (the
    two-image generalization of ``image_hist_equalize``, whose target
    is implicitly uniform). matched(a) = the smallest reference level b
    with CDF_ref(b) >= CDF_src(a) — the monotone quantile map.

    The CDF comparison is EXACT INTEGER arithmetic on both engines:
    CDF_b >= CDF_a  <=>  cum_b * tot_a >= cum_a * tot_b, so no float
    quantile can flip the argmin at a boundary. Scale shape: both
    histograms are partial-agg groupBys to <= 256 rows; the CDF windows
    and the theta-join run over the LEVEL DOMAIN (256 x 256 worst
    case, broadcast), never the image — per-pixel application is a
    broadcast lookup exactly like hist-equalize."""
    px = pixel_grid(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ha = px.select(
        (F.floor("value").cast("bigint") % 256).alias("lvl")
    ).groupBy("lvl").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy("lvl").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ca = ha.select(
        "lvl", "cnt",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("tot"),
    )
    hb = ev.select(
        ((F.col("event_id") * 37 + 11) % 256).alias("lvl")
    ).groupBy("lvl").agg(F.count(F.lit(1)).alias("cnt"))
    cb = hb.select(
        F.col("lvl").alias("blvl"),
        F.sum("cnt").over(w_cum.orderBy("lvl")).alias("bcum"),
        F.sum("cnt").over(w_all).alias("btot"),
    )
    return (
        ca.join(
            F.broadcast(cb),
            F.col("bcum") * F.col("tot") >= F.col("cum") * F.col("btot"),
        )
        .groupBy("lvl", "cnt")
        .agg(F.min("blvl").cast("int").alias("matched"))
        .orderBy("lvl")
    )


@register(
    "distance_transform_edt",
    with_pixel_ctes(
        """
        SELECT p.y, p.x,
               CAST(MIN((p.y - m.y) * (p.y - m.y)
                      + (p.x - m.x) * (p.x - m.x)) AS BIGINT) AS dist2
        FROM pixels p CROSS JOIN (SELECT y, x FROM mask WHERE m) m
        GROUP BY p.y, p.x
        """,
        extra=None,
    ),
    tags=("imaging", "distance-transform", "window"),
)
def distance_transform_edt(spark, sf_dir):
    """EXACT squared EUCLIDEAN distance transform — scipy
    ``distance_transform_edt``'s metric (watershed markers, morphology
    by threshold-of-EDT, proximity features), completing the transform
    family beside the L1 pair. Squared distances are INTEGERS, so the
    result is value-hash exact with no float contract.

    The separable two-pass design (Felzenszwalb & Huttenlocher 2004):

    - Row pass: within a row the input is binary, so the 1-D squared
      euclidean distance is just the SQUARE of the L1 row distance —
      the same two prefix-minima window frames as
      ``distance_transform_l1``, squared. Pure codegen, one shuffle.
    - Column pass: D(y) = min over y' of (d1(y') + (y - y')²) is a
      LOWER ENVELOPE OF PARABOLAS — not a prefix recurrence, so this
      pass runs the published O(n) envelope algorithm per column line
      in ``applyInPandas`` (the R2 per-line pattern the spline IIR
      filters use). One shuffle groups the columns; each line is
      64 floats here and one column of a tile at scale.

    Two shuffles total for an exact EDT vs the oracle's brute-force
    O(pixels × mask) search; per-column envelope memory is O(column
    height), independent of image width."""
    import pandas as pd

    from dask_image_spark.functions.pixelgrid import mask_grid

    INF = 1 << 20
    m = mask_grid(spark, sf_dir)
    g = m.select(
        "y", "x", F.when(F.col("m"), 0).otherwise(F.lit(INF)).alias("g")
    )
    fwd_x = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bwd_x = Window.partitionBy("y").orderBy("x").rowsBetween(
        0, Window.unboundedFollowing
    )
    drow = F.least(
        F.min(F.col("g") - F.col("x")).over(fwd_x) + F.col("x"),
        F.min(F.col("g") + F.col("x")).over(bwd_x) - F.col("x"),
        F.lit(100_000),  # bounded sentinel: (1e5)^2 is float64-exact
    )
    d1 = g.select("y", "x", (drow * drow).cast("double").alias("d1"))

    def envelope(pdf: pd.DataFrame) -> pd.DataFrame:
        from dask_image_spark.operators.chunked import edt_envelope_1d

        pdf = pdf.sort_values("y")
        d = edt_envelope_1d(pdf["d1"].to_numpy())
        return pd.DataFrame(
            {"y": pdf["y"].to_numpy(), "x": pdf["x"].to_numpy(), "dist2": d}
        )

    return d1.groupBy("x").applyInPandas(envelope, "y int, x int, dist2 long")


@register(
    "measure_perimeter",
    with_pixel_ctes(
        """
        SELECT label, CAST(SUM(exposed) AS BIGINT) AS perimeter,
               CAST(COUNT(*) AS BIGINT) AS area
        FROM nb GROUP BY label ORDER BY label
        """,
        extra=[
            """nb AS (
          SELECT l.label, l.y, l.x,
                 (CASE WHEN ly.label IS NULL OR ly.label <> l.label
                       THEN 1 ELSE 0 END
                + CASE WHEN ry.label IS NULL OR ry.label <> l.label
                       THEN 1 ELSE 0 END
                + CASE WHEN lx.label IS NULL OR lx.label <> l.label
                       THEN 1 ELSE 0 END
                + CASE WHEN rx.label IS NULL OR rx.label <> l.label
                       THEN 1 ELSE 0 END) AS exposed
          FROM labeled l
          LEFT JOIN labeled ly ON ly.y = l.y - 1 AND ly.x = l.x
          LEFT JOIN labeled ry ON ry.y = l.y + 1 AND ry.x = l.x
          LEFT JOIN labeled lx ON lx.y = l.y AND lx.x = l.x - 1
          LEFT JOIN labeled rx ON rx.y = l.y AND rx.x = l.x + 1)"""
        ],
    ),
    tags=("imaging", "ndmeasure", "window"),
)
def measure_perimeter(spark, sf_dir):
    """Per-label PERIMETER (4-connectivity exposed-edge count — the
    regionprops measure upstream's ndmeasure family stops short of;
    perimeter/area feeds shape descriptors like compactness): a pixel
    edge counts when its 4-neighbor has a DIFFERENT label or lies
    outside the grid. The engine computes neighbor labels with LAG/LEAD
    over one sort per axis (partition by y order x, then partition by x
    order y — the distance-transform pattern: dense-grid adjacency is
    ORDER, not a join), then one grouped sum; the oracle uses the
    definitional four shifted self-joins. Two window sorts + one
    aggregate vs 4× self-join fan-out — the same reformulation win at
    any image size."""
    from dask_image_spark.functions.pixelgrid import labeled_grid

    lb = labeled_grid(spark, sf_dir)
    wx = Window.partitionBy("y").orderBy("x")
    wy = Window.partitionBy("x").orderBy("y")

    def exposed(neigh):
        return F.when(neigh.isNull() | (neigh != F.col("label")), 1).otherwise(0)

    along_x = lb.select(
        "label", "y", "x",
        (exposed(F.lag("label").over(wx)) + exposed(F.lead("label").over(wx))).alias("ex_x"),
    )
    both = along_x.select(
        "label", "y", "x",
        (
            F.col("ex_x")
            + exposed(F.lag("label").over(wy))
            + exposed(F.lead("label").over(wy))
        ).alias("exposed"),
    )
    return (
        both.groupBy("label")
        .agg(
            F.sum("exposed").cast("long").alias("perimeter"),
            F.count(F.lit(1)).alias("area"),
        )
        .orderBy("label")
    )


@register(
    "distance_transform_l1_3d",
    f"""
    WITH {_PX3},
    mask3 AS (
      SELECT z, y, x, value > (SELECT AVG(value) FROM px3) AS m FROM px3)
    SELECT p.z, p.y, p.x,
           CAST(MIN(ABS(p.z - q.z) + ABS(p.y - q.y) + ABS(p.x - q.x))
                AS INT) AS dist
    FROM px3 p CROSS JOIN (SELECT z, y, x FROM mask3 WHERE m) q
    GROUP BY p.z, p.y, p.x
    """,
    tags=("imaging", "distance-transform", "3d", "window"),
)
def distance_transform_l1_3d(spark, sf_dir):
    """EXACT L1 distance transform at RANK 3 (16³ volume) — the
    N-dimensional generalization of `distance_transform_l1`, proving the
    separable prefix-minima rewrite composes per axis at any rank
    exactly as scipy's chamfer pass does: one pair of running-min
    frames per axis (x within (z,y), y within (z,x), z within (y,x)),
    so a rank-d exact transform is d sorts / d shuffles total — for a
    microscopy volume that's 3 shuffles against the oracle's
    O(voxels × mask) brute-force nearest search. Same dense-grid and
    integer-sentinel conventions as the 2-D form."""
    INF = 1 << 20
    ev = load_table(spark, sf_dir, "events")
    px3 = ev.groupBy(
        F.expr(f"CAST(event_id % {_VOL} AS INT)").alias("z"),
        F.expr(f"CAST((event_id div {_VOL}) % {_VOL} AS INT)").alias("y"),
        F.expr(f"CAST((event_id div {_VOL * _VOL}) % {_VOL} AS INT)").alias("x"),
    ).agg(F.sum("value").alias("value"))
    mean = px3.agg(F.avg("value").alias("mu"))
    g = px3.crossJoin(F.broadcast(mean)).select(
        "z", "y", "x",
        F.when(F.col("value") > F.col("mu"), 0).otherwise(F.lit(INF)).alias("g"),
    )

    def axis_pass(df, col, part, src):
        fwd = Window.partitionBy(*part).orderBy(col).rowsBetween(
            Window.unboundedPreceding, 0
        )
        bwd = Window.partitionBy(*part).orderBy(col).rowsBetween(
            0, Window.unboundedFollowing
        )
        return df.select(
            "z", "y", "x",
            F.least(
                F.min(F.col(src) - F.col(col)).over(fwd) + F.col(col),
                F.min(F.col(src) + F.col(col)).over(bwd) - F.col(col),
            ).alias("d"),
        )

    dx = axis_pass(g, "x", ("z", "y"), "g")
    dy = axis_pass(dx, "y", ("z", "x"), "d")
    dz = axis_pass(dy, "z", ("y", "x"), "d")
    return dz.select("z", "y", "x", F.col("d").cast("int").alias("dist"))


def _quickstart_oracle() -> str:
    from dask_image_spark.functions.pixelgrid import fixture_ctes

    ctes: list[str] = []
    cur = _chain(ctes, "qs", "pixels", _gauss_passes(0, 0))
    extra = ctes + [
        f"smr AS (SELECT y, x, ROUND(1.2345e-8 + value, 6) AS v FROM {cur})",
        "qmu AS (SELECT ROUND(1.2345e-8 + AVG(v), 6) AS m FROM smr)",
        "qfg AS (SELECT CAST(y * 64 + x AS BIGINT) AS id, y, x, v "
        "FROM smr, qmu WHERE v > qmu.m)",
        "qe1 AS (SELECT a.id AS src, b.id AS dst FROM qfg a JOIN qfg b "
        "ON (b.y = a.y + 1 AND b.x = a.x) OR (b.y = a.y AND b.x = a.x + 1))",
        "qedges AS (SELECT src, dst FROM qe1 "
        "UNION ALL SELECT dst, src FROM qe1)",
        "qreach(src, dst) AS (SELECT id, id FROM qfg UNION "
        "SELECT r.src, e.dst FROM qreach r JOIN qedges e ON e.src = r.dst)",
        "qcomp AS (SELECT src AS id, MIN(dst) AS label "
        "FROM qreach GROUP BY src)",
    ]
    body = """
    SELECT c.label, CAST(COUNT(*) AS BIGINT) AS area,
           ROUND(1.2345e-8 + AVG(CAST(f.y AS DOUBLE)), 4) AS cy,
           ROUND(1.2345e-8 + AVG(CAST(f.x AS DOUBLE)), 4) AS cx,
           ROUND(1.2345e-8 + AVG(f.v), 4) AS mean_v
    FROM qfg f JOIN qcomp c ON c.id = f.id
    GROUP BY c.label ORDER BY c.label
    """
    return (
        "WITH RECURSIVE " + ", ".join(fixture_ctes() + extra) + " " + body
    )


@register(
    "quickstart_pipeline",
    _quickstart_oracle(),
    tags=("imaging", "pipeline", "flagship"),
)
def quickstart_pipeline(spark, sf_dir):
    """THE REFERENCE'S QUICKSTART, DISTRIBUTED, AS ONE GRADED QUERY —
    dask-image's canonical workflow (docs front page: smooth → threshold
    → label → measure) composed end-to-end from this engine's operators:
    ``gaussian_filter`` (separable two-pass stencil), mean threshold,
    ``label`` (block/merge distributed CC), then per-object area /
    centroid / mean intensity (the ``ndmeasure`` trio) — every stage the
    same code path its standalone graded query uses, so this grades the
    COMPOSITION: schema hand-off, threshold determinism on smoothed
    floats (rounded to 6 decimals on BOTH engines before comparing to
    the rounded mean, so a last-ulp difference can never flip a mask
    pixel), and label alignment between the CC output and the intensity
    image. Scale shape is the union of its parts: one stencil shuffle
    pair, the CC block/merge stages, one measurement groupBy — at a
    16k² microscopy slab every stage has already been sized standalone
    (gauss_r2_4096 bench, label_cc scale notes)."""
    from dask_image_spark.operators import label_cc

    px = pixel_grid(spark, sf_dir)
    sm = ndfilters.gaussian_filter(px, 1.0, shape=SHAPE).select(
        "y", "x", _eps_round("v", 6).alias("v")
    )
    # Chained-stencil recompute rule (SCALE.md imaging section): sm is
    # referenced THREE times below (mean, mask, intensity join), and each
    # reference re-executes the two-pass stencil whose own mirror padding
    # already fans pass 1 out across 4 union branches — ~12 evaluations
    # of the smooth for one query. Materializing once (the dask chunk
    # analog; released by release_caches) measured the non-eager part of
    # this query 2.61 s -> 0.62 s warm.
    sm = persist_tracked(sm)
    mu = sm.agg(_eps_round(F.avg("v"), 6).alias("m"))
    masked = sm.crossJoin(F.broadcast(mu)).select(
        "y", "x", "v", (F.col("v") > F.col("m")).alias("m")
    )
    lab = label_cc.label(masked.select("y", "x", "m"), SHAPE)
    joined = lab.join(masked.select("y", "x", "v"), ["y", "x"])
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("area"),
            _eps_round(F.avg(F.col("y").cast("double")), 4).alias("cy"),
            _eps_round(F.avg(F.col("x").cast("double")), 4).alias("cx"),
            _eps_round(F.avg("v"), 4).alias("mean_v"),
        )
        .orderBy("label")
    )


# --- round-8 continuation: classic vision operators --------------------------
#
# Five canonical image-analysis operators the reference's scipy/skimage
# ecosystem reaches for right after the ndimage surface (upstream users
# compose dask-image with skimage.filters/feature routinely): Otsu
# thresholding, the integral-image box filter, Harris corners, local
# binary patterns, and the Hough line transform. All five are EXACT
# INTEGER computations here (quantized gray levels), so every oracle is
# a definitional SQL replay with no float contract at all.


@register(
    "threshold_otsu",
    with_pixel_ctes(
        """
        SELECT CAST(t AS INT) AS threshold, CAST(w0 AS BIGINT) AS w0,
               CAST(tot - w0 AS BIGINT) AS w1, CAST(score AS BIGINT) AS score
        FROM scored
        ORDER BY score DESC, t LIMIT 1
        """,
        extra=[
            """h AS (SELECT CAST(FLOOR(value) AS BIGINT) % 16 AS lvl,
                   COUNT(*) AS cnt FROM pixels GROUP BY 1)""",
            """c AS (SELECT lvl AS t,
                   SUM(cnt) OVER (ORDER BY lvl ROWS UNBOUNDED PRECEDING)
                     AS w0,
                   SUM(lvl * cnt) OVER (ORDER BY lvl ROWS UNBOUNDED
                     PRECEDING) AS s0,
                   SUM(cnt) OVER () AS tot,
                   SUM(lvl * cnt) OVER () AS s FROM h)""",
            """scored AS (SELECT t, w0, tot,
                   ((s0 * tot - s * w0) * (s0 * tot - s * w0) * 16)
                     // (w0 * (tot - w0)) AS score
              FROM c WHERE w0 > 0 AND w0 < tot)""",
        ],
    ),
    tags=("imaging", "threshold", "histogram"),
)
def threshold_otsu(spark, sf_dir):
    """OTSU GLOBAL THRESHOLD (skimage ``threshold_otsu``): the gray level
    maximizing between-class variance — the automatic foreground split
    every segmentation pipeline starts from (``threshold_local`` covers
    the adaptive variant; this is the global one).

    EXACT-INTEGER formulation: on the 16-level quantized histogram,
    between-class variance w0*w1*(mu0-mu1)^2 is ordered identically by
    the integer score (s0*tot - s*w0)^2 * 16 // (w0*(tot-w0)) — all
    magnitudes bounded well inside int64 (|s| <= 61440, tot = 4096), and
    integer floor-division is bit-identical on both engines, so the
    argmax (min-level tie-break) can never flip on a float ulp.

    Scale shape: ONE partial-agg histogram groupBy to <= 16 rows; the
    scan/argmax runs on the LEVEL DOMAIN. At 100 TB the histogram is the
    only fact-scale pass — the map-side combine reduces each partition
    to <= 16 cells before the exchange."""
    px = pixel_grid(spark, sf_dir)
    h = (
        px.select((F.floor("value").cast("bigint") % 16).alias("lvl"))
        .groupBy("lvl")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_cum = Window.orderBy("lvl").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = h.select(
        F.col("lvl").alias("t"),
        F.sum("cnt").over(w_cum).alias("w0"),
        F.sum(F.col("lvl") * F.col("cnt")).over(w_cum).alias("s0"),
        F.sum("cnt").over(w_all).alias("tot"),
        F.sum(F.col("lvl") * F.col("cnt")).over(w_all).alias("s"),
    ).filter((F.col("w0") > 0) & (F.col("w0") < F.col("tot")))
    scored = c.select(
        "t",
        "w0",
        (F.col("tot") - F.col("w0")).alias("w1"),
        F.expr(
            "(s0 * tot - s * w0) * (s0 * tot - s * w0) * 16"
            " div (w0 * (tot - w0))"
        ).alias("score"),
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("t"))
        .limit(1)
        .select(
            F.col("t").cast("int").alias("threshold"), "w0", "w1", "score"
        )
    )


@register(
    "box_filter_integral",
    with_pixel_ctes(
        """
        SELECT p.y, p.x, CAST(SUM(CAST(FLOOR(q.value) AS BIGINT)) AS BIGINT) AS box
        FROM pixels p JOIN pixels q
          ON q.y BETWEEN p.y - 4 AND p.y + 4
         AND q.x BETWEEN p.x - 4 AND p.x + 4
        WHERE p.y BETWEEN 4 AND 59 AND p.x BETWEEN 4 AND 59
        GROUP BY p.y, p.x
        """,
    ),
    tags=("imaging", "filter", "window"),
)
def box_filter_integral(spark, sf_dir):
    """INTEGRAL-IMAGE (summed-area table) BOX FILTER: the 9x9 box sum
    computed from PREFIX SUMS AND FOUR DIFFERENCES instead of a 81-way
    kernel fan-out — Viola-Jones's O(1)-per-window trick, the scale
    rewrite that makes LARGE boxes free: cost is independent of box
    size, where the scatter-join stencil pays O(k^2) rows per output.

    Plan: row prefix sum (one window sort per row) -> 9-wide row sums
    as lead/lag differences of the prefix -> column prefix sum of the
    row sums -> 9-tall differences. TWO shuffles total (y-partition,
    then x-partition) for ANY box size; the oracle is the definitional
    O(k^2) neighborhood join, proving the factorization. Values are
    floor-quantized integers so every prefix/difference is exact.

    Interior-only ([4,59]^2): boundary semantics belong to the stencil
    family (uniform_filter grades all five modes); this query isolates
    the integral-image algebra."""
    px = pixel_grid(spark, sf_dir).select(
        "y", "x", F.floor("value").cast("bigint").alias("v")
    )
    wx_cum = Window.partitionBy("y").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wx = Window.partitionBy("y").orderBy("x")
    rowcum = px.select("y", "x", F.sum("v").over(wx_cum).alias("rc"))
    rowsum = rowcum.select(
        "y",
        "x",
        (
            F.lead("rc", 4).over(wx) - F.lag("rc", 5, 0).over(wx)
        ).alias("rs"),
    ).filter(F.col("x").between(4, 59))
    wy_cum = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wy = Window.partitionBy("x").orderBy("y")
    colcum = rowsum.select("y", "x", F.sum("rs").over(wy_cum).alias("cc"))
    return (
        colcum.select(
            "y",
            "x",
            (
                F.lead("cc", 4).over(wy) - F.lag("cc", 5, 0).over(wy)
            ).alias("box"),
        )
        .filter(F.col("y").between(4, 59))
        .orderBy("y", "x")
    )


# Shared Harris/LBP/Hough kernel definitions: ONE Python list renders both
# the Spark VALUES table and the DuckDB CASE/VALUES text, so the two
# engines read literally the same weights (the house oracle-generation
# rule every stencil query follows).

_SOBEL_3 = [-1, 0, 1]
_SMOOTH_3 = [1, 2, 1]
# (dy, dx, wx, wy): wx = d/dx Sobel weight, wy = d/dy Sobel weight
_HARRIS_OFF = [
    (dy, dx, _SOBEL_3[dx + 1] * _SMOOTH_3[dy + 1],
     _SOBEL_3[dy + 1] * _SMOOTH_3[dx + 1])
    for dy in (-1, 0, 1)
    for dx in (-1, 0, 1)
]


def _case_weights(pairs) -> str:
    """CASE text mapping (q.y-p.y, q.x-p.x) -> integer weight."""
    whens = " ".join(
        f"WHEN {dy * 10 + dx} THEN {w}" for dy, dx, w in pairs if w != 0
    )
    return f"CASE (q.y - p.y) * 10 + (q.x - p.x) {whens} ELSE 0 END"


_HARRIS_ORACLE = with_pixel_ctes(
    """
    SELECT y, x,
           CAST(20 * (sxx * syy - sxy * sxy)
             - (sxx + syy) * (sxx + syy) AS BIGINT) AS r
    FROM s ORDER BY r DESC, y, x LIMIT 20
    """,
    extra=[
        """v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) % 256 AS v
               FROM pixels)""",
        f"""g AS (SELECT p.y, p.x,
               SUM(q.v * {_case_weights([(dy, dx, wx) for dy, dx, wx, _ in _HARRIS_OFF])}) AS gx,
               SUM(q.v * {_case_weights([(dy, dx, wy) for dy, dx, _, wy in _HARRIS_OFF])}) AS gy
          FROM v p JOIN v q
            ON q.y BETWEEN p.y - 1 AND p.y + 1
           AND q.x BETWEEN p.x - 1 AND p.x + 1
          WHERE p.y BETWEEN 1 AND 62 AND p.x BETWEEN 1 AND 62
          GROUP BY p.y, p.x)""",
        """pr AS (SELECT y, x, gx * gx AS pxx, gy * gy AS pyy,
                gx * gy AS pxy FROM g)""",
        """s AS (SELECT p.y, p.x, SUM(q.pxx) AS sxx, SUM(q.pyy) AS syy,
               SUM(q.pxy) AS sxy
          FROM pr p JOIN pr q
            ON q.y BETWEEN p.y - 1 AND p.y + 1
           AND q.x BETWEEN p.x - 1 AND p.x + 1
          WHERE p.y BETWEEN 2 AND 61 AND p.x BETWEEN 2 AND 61
          GROUP BY p.y, p.x)""",
    ],
)


@register(
    "harris_corners",
    _HARRIS_ORACLE,
    tags=("imaging", "feature", "stencil"),
)
def harris_corners(spark, sf_dir):
    """HARRIS CORNER DETECTOR (skimage ``corner_harris`` + ``corner_peaks``
    top-k): Sobel gradients -> structure-tensor window sums -> response
    R = det(M) - k*trace(M)^2 -> top-20 corners. The k=0.05 constant is
    RATIONAL (1/20), so the whole pipeline is INTEGER arithmetic end to
    end: R*20 = 20*(Sxx*Syy - Sxy^2) - (Sxx+Syy)^2 with every magnitude
    bounded by 1.8e15 << int64 — the response ordering is bit-exact on
    both engines and the top-20 heap can never flip on a float ulp.

    Plan shape: two scatter-join stencil stages (the convolve template:
    broadcast 9-row kernel, inline fan-out, partial+final SUM groupBy)
    feeding one TakeOrderedAndProject heap — no global sort. At scale the
    two stages pin to the same tile partitioning so the second shuffle
    co-locates with the first; the oracle replays both stages
    definitionally from the SAME weight list (shared CASE text)."""
    off = values_df(
        spark,
        "dy, dx, wx, wy",
        [(dy, dx, wx, wy) for dy, dx, wx, wy in _HARRIS_OFF],
    )
    px = pixel_grid(spark, sf_dir).select(
        "y", "x", (F.floor("value").cast("bigint") % 256).alias("v")
    )
    g = (
        px.crossJoin(F.broadcast(off))
        .select(
            (F.col("y") - F.col("dy")).alias("ty"),
            (F.col("x") - F.col("dx")).alias("tx"),
            (F.col("v") * F.col("wx")).alias("cx"),
            (F.col("v") * F.col("wy")).alias("cy"),
        )
        .groupBy("ty", "tx")
        .agg(F.sum("cx").alias("gx"), F.sum("cy").alias("gy"))
        .filter(
            F.col("ty").between(1, 62) & F.col("tx").between(1, 62)
        )
    )
    pr = g.select(
        F.col("ty").alias("y"),
        F.col("tx").alias("x"),
        (F.col("gx") * F.col("gx")).alias("pxx"),
        (F.col("gy") * F.col("gy")).alias("pyy"),
        (F.col("gx") * F.col("gy")).alias("pxy"),
    )
    ones = values_df(
        spark,
        "dy, dx",
        [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)],
    )
    s = (
        pr.crossJoin(F.broadcast(ones))
        .select(
            (F.col("y") - F.col("dy")).alias("ty"),
            (F.col("x") - F.col("dx")).alias("tx"),
            "pxx",
            "pyy",
            "pxy",
        )
        .groupBy("ty", "tx")
        .agg(
            F.sum("pxx").alias("sxx"),
            F.sum("pyy").alias("syy"),
            F.sum("pxy").alias("sxy"),
        )
        .filter(
            F.col("ty").between(2, 61) & F.col("tx").between(2, 61)
        )
    )
    resp = (
        F.lit(20) * (F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy"))
        - (F.col("sxx") + F.col("syy")) * (F.col("sxx") + F.col("syy"))
    )
    return (
        s.select(
            F.col("ty").alias("y"), F.col("tx").alias("x"), resp.alias("r")
        )
        .orderBy(F.desc("r"), "y", "x")
        .limit(20)
    )


_LBP_OFF = [
    (-1, -1, 1), (-1, 0, 2), (-1, 1, 4), (0, 1, 8),
    (1, 1, 16), (1, 0, 32), (1, -1, 64), (0, -1, 128),
]

_LBP_ORACLE = with_pixel_ctes(
    """
    SELECT CAST(code AS BIGINT) AS code, COUNT(*) AS cnt
    FROM l GROUP BY code ORDER BY code
    """,
    extra=[
        "v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) AS v FROM pixels)",
        f"""l AS (SELECT p.y, p.x,
               SUM(CASE WHEN q.v >= p.v
                   THEN {_case_weights(_LBP_OFF)} ELSE 0 END) AS code
          FROM v p JOIN v q
            ON q.y BETWEEN p.y - 1 AND p.y + 1
           AND q.x BETWEEN p.x - 1 AND p.x + 1
           AND NOT (q.y = p.y AND q.x = p.x)
          WHERE p.y BETWEEN 1 AND 62 AND p.x BETWEEN 1 AND 62
          GROUP BY p.y, p.x)""",
    ],
)


@register(
    "lbp_histogram",
    _LBP_ORACLE,
    tags=("imaging", "feature", "texture"),
)
def lbp_histogram(spark, sf_dir):
    """LOCAL BINARY PATTERNS (skimage ``local_binary_pattern`` P=8, R=1,
    method='default') + code histogram — the classic illumination-
    invariant texture descriptor (each pixel's code packs 'is each of my
    8 neighbors >= me' into one byte; the histogram is the texture
    feature). Bit order fixed clockwise from top-left, shared by both
    engines via the single _LBP_OFF list.

    Plan: ONE probe-side fan-out of 8 (broadcast offset table), one
    co-partitioned self-join on the shifted coordinate, one groupBy per
    pixel, then a <=256-row histogram aggregate. Integer comparisons
    only. At scale the self-join keys on the same (y, x) partitioning
    the stencil family uses; the fan-out carries 3 ints/row."""
    off = values_df(spark, "dy, dx, bit", _LBP_OFF)
    px = pixel_grid(spark, sf_dir).select(
        "y", "x", F.floor("value").cast("bigint").alias("v")
    )
    probes = px.crossJoin(F.broadcast(off)).select(
        "y",
        "x",
        F.col("v").alias("cv"),
        (F.col("y") + F.col("dy")).alias("ny"),
        (F.col("x") + F.col("dx")).alias("nx"),
        "bit",
    )
    nb = px.select(
        F.col("y").alias("ny"),
        F.col("x").alias("nx"),
        F.col("v").alias("nv"),
    )
    codes = (
        probes.join(nb, ["ny", "nx"])
        .groupBy("y", "x")
        .agg(
            F.sum(
                F.when(F.col("nv") >= F.col("cv"), F.col("bit")).otherwise(0)
            ).alias("code")
        )
        .filter(F.col("y").between(1, 62) & F.col("x").between(1, 62))
    )
    return (
        codes.groupBy("code")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("code")
    )


import math as _math

# 8 Hough angles theta_k = k*pi/8; repr() round-trips the exact double, and
# both engines parse the identical literal (CAST(... AS DOUBLE) on the
# DuckDB side keeps it out of DECIMAL territory), so x*cos + y*sin is the
# same IEEE arithmetic on both sides and FLOOR can never disagree.
_HOUGH_ANGLES = [
    (k, _math.cos(k * _math.pi / 8), _math.sin(k * _math.pi / 8))
    for k in range(8)
]

_HOUGH_VALUES = ", ".join(
    f"({k}, CAST({c!r} AS DOUBLE), CAST({s!r} AS DOUBLE))"
    for k, c, s in _HOUGH_ANGLES
)

_HOUGH_ORACLE = with_pixel_ctes(
    f"""
    SELECT a.k, CAST(FLOOR(f.x * a.c + f.y * a.s + 0.5) AS BIGINT) AS rho,
           COUNT(*) AS votes
    FROM fg f CROSS JOIN (VALUES {_HOUGH_VALUES}) a(k, c, s)
    GROUP BY 1, 2
    ORDER BY votes DESC, k, rho LIMIT 10
    """,
    extra=["fg AS (SELECT y, x FROM mask WHERE m)"],
)


@register(
    "hough_lines",
    _HOUGH_ORACLE,
    tags=("imaging", "feature", "transform"),
)
def hough_lines(spark, sf_dir):
    """HOUGH LINE TRANSFORM (skimage ``hough_line`` + peak picking): each
    foreground pixel votes for every (theta, rho) line through it; the
    top-10 accumulator cells are the detected lines. 8 angles at pi/8
    steps, rho = floor(x*cos + y*sin + 0.5) — nearest-integer binning.

    This is the GROUP-BY reading of the transform: the accumulator array
    skimage materializes densely is here votes = COUNT(*) GROUP BY
    (theta-index, rho) — a partial-aggregated fan-out of exactly
    |angles| rows per fg pixel with map-side combine into <= 8 * rho-range
    cells per partition, then a top-10 TakeOrderedAndProject heap. At
    100 TB the accumulator never materializes: only the per-partition
    combined cells cross the wire. Determinism: identical double literals
    and IEEE ops on both engines make every FLOOR bit-equal."""
    ang = values_df(
        spark,
        "k, c, s",
        [(k, c, s) for k, c, s in _HOUGH_ANGLES],
    )
    fg = mask_grid(spark, sf_dir).filter("m").select("y", "x")
    votes = (
        fg.crossJoin(F.broadcast(ang))
        .select(
            "k",
            F.floor(
                F.col("x") * F.col("c") + F.col("y") * F.col("s") + F.lit(0.5)
            )
            .cast("bigint")
            .alias("rho"),
        )
        .groupBy("k", "rho")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    return votes.orderBy(F.desc("votes"), "k", "rho").limit(10)


from dask_image_spark.functions.pixelgrid import fixture_ctes as _fixture_ctes

# Canny stage kernels — ONE list each renders the Spark VALUES table and
# the oracle CASE text (the Harris sharing rule).
_CANNY_SM = [
    (dy, dx, _SMOOTH_3[dy + 1] * _SMOOTH_3[dx + 1])
    for dy in (-1, 0, 1)
    for dx in (-1, 0, 1)
]


def _canny_oracle() -> str:
    sm_case = _case_weights(_CANNY_SM)
    gx_case = _case_weights(
        [(dy, dx, wx) for dy, dx, wx, _ in _HARRIS_OFF]
    )
    gy_case = _case_weights(
        [(dy, dx, wy) for dy, dx, _, wy in _HARRIS_OFF]
    )
    ctes = _fixture_ctes() + [
        """v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) % 256 AS v
               FROM pixels)""",
        f"""sm AS (SELECT p.y, p.x, SUM(q.v * {sm_case}) AS sv
          FROM v p JOIN v q
            ON q.y BETWEEN p.y - 1 AND p.y + 1
           AND q.x BETWEEN p.x - 1 AND p.x + 1
          WHERE p.y BETWEEN 1 AND 62 AND p.x BETWEEN 1 AND 62
          GROUP BY p.y, p.x)""",
        f"""g AS (SELECT p.y, p.x,
               SUM(q.sv * {gx_case}) AS gx,
               SUM(q.sv * {gy_case}) AS gy
          FROM sm p JOIN sm q
            ON q.y BETWEEN p.y - 1 AND p.y + 1
           AND q.x BETWEEN p.x - 1 AND p.x + 1
          WHERE p.y BETWEEN 2 AND 61 AND p.x BETWEEN 2 AND 61
          GROUP BY p.y, p.x)""",
        """m2 AS (SELECT y, x, gx * gx + gy * gy AS m2,
               CASE WHEN 2 * ABS(gy) <= ABS(gx) THEN 0
                    WHEN 2 * ABS(gx) <= ABS(gy) THEN 2
                    WHEN gx * gy > 0 THEN 1 ELSE 3 END AS bin
          FROM g)""",
        """d AS (SELECT y, x, m2,
               CASE WHEN bin = 0 THEN 0 ELSE 1 END AS dy,
               CASE bin WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 0
                        ELSE -1 END AS dx
          FROM m2)""",
        """nms AS (SELECT c.y, c.x, c.m2
          FROM d c
          JOIN m2 p ON p.y = c.y + c.dy AND p.x = c.x + c.dx
          JOIN m2 q ON q.y = c.y - c.dy AND q.x = c.x - c.dx
          WHERE c.y BETWEEN 3 AND 60 AND c.x BETWEEN 3 AND 60
            AND c.m2 >= p.m2 AND c.m2 > q.m2)""",
        "tot AS (SELECT SUM(m2) AS s, COUNT(*) AS n FROM m2)",
        """cand AS (SELECT y, x, m2 FROM nms, tot
          WHERE m2 * n >= 2 * s)""",
        """strong AS (SELECT y, x FROM cand, tot
          WHERE m2 * n >= 6 * s)""",
        """ed AS (SELECT a.y AS ay, a.x AS ax, b.y AS by, b.x AS bx
          FROM cand a JOIN cand b
            ON b.y BETWEEN a.y - 1 AND a.y + 1
           AND b.x BETWEEN a.x - 1 AND a.x + 1
           AND NOT (b.y = a.y AND b.x = a.x))""",
        """reach(y, x) AS (
          SELECT y, x FROM strong
          UNION
          SELECT e.by, e.bx FROM reach r
          JOIN ed e ON e.ay = r.y AND e.ax = r.x)""",
    ]
    return (
        "WITH RECURSIVE "
        + ", ".join(ctes)
        + " SELECT y, x FROM reach ORDER BY y, x"
    )


@register(
    "edge_canny",
    _canny_oracle(),
    tags=("imaging", "feature", "composition", "label"),
)
def edge_canny(spark, sf_dir):
    """CANNY EDGE DETECTOR (skimage ``feature.canny``), the full five-stage
    composition: binomial smooth -> Sobel gradient -> direction-quantized
    non-maximum suppression -> double threshold -> HYSTERESIS. Each stage
    reuses an engine pattern already graded standalone (stencil scatter
    joins, broadcast-total thresholding, the components-intersecting-
    marker closed form from ``morph_binary_propagation``), making this
    the edge-detection counterpart of ``quickstart_pipeline``.

    Exactness: integer arithmetic end to end. Direction bins use the
    RATIONAL quantization 2|gy| <=> |gx| (the tan ~26.6 degree variant,
    CASE-ordered so gx=gy=0 lands in bin 0 deterministically); NMS
    breaks plateau ties asymmetrically (>= forward, > backward) so
    exactly one side of a flat ridge survives; thresholds are integer
    cross-multiplications against the global mean (lo = 2x, hi = 6x);
    hysteresis = 8-connected components of the candidate set that
    contain a strong pixel — the binary_propagation closed form, solved
    by the distributed 3-stage labeling, NOT per-step flooding.

    Scale: two stencil shuffles + one NMS self-join (co-partitioned on
    the same keys) + the labeling stages; every magnitude is bounded by
    2*(16*255*4)^2 * |grid| << int64. The oracle replays all five stages
    definitionally, with WITH RECURSIVE reachability-from-strong as the
    hysteresis. At sf0.01: 910 NMS survivors -> 419 candidates over lo,
    138 components, 3 strong seeds, 30 final edge pixels — both the
    keep AND drop outcomes are exercised by construction."""
    import numpy as np

    from dask_image_spark.operators import label_cc

    px = pixel_grid(spark, sf_dir).select(
        "y", "x", (F.floor("value").cast("bigint") % 256).alias("v")
    )
    smk = values_df(spark, "dy, dx, w", _CANNY_SM)
    sm = (
        px.crossJoin(F.broadcast(smk))
        .select(
            (F.col("y") - F.col("dy")).alias("ty"),
            (F.col("x") - F.col("dx")).alias("tx"),
            (F.col("v") * F.col("w")).alias("c"),
        )
        .groupBy("ty", "tx")
        .agg(F.sum("c").alias("sv"))
        .filter(F.col("ty").between(1, 62) & F.col("tx").between(1, 62))
        .select(F.col("ty").alias("y"), F.col("tx").alias("x"), "sv")
    )
    sok = values_df(
        spark,
        "dy, dx, wx, wy",
        [(dy, dx, wx, wy) for dy, dx, wx, wy in _HARRIS_OFF],
    )
    g = (
        sm.crossJoin(F.broadcast(sok))
        .select(
            (F.col("y") - F.col("dy")).alias("ty"),
            (F.col("x") - F.col("dx")).alias("tx"),
            (F.col("sv") * F.col("wx")).alias("cx"),
            (F.col("sv") * F.col("wy")).alias("cy"),
        )
        .groupBy("ty", "tx")
        .agg(F.sum("cx").alias("gx"), F.sum("cy").alias("gy"))
        .filter(F.col("ty").between(2, 61) & F.col("tx").between(2, 61))
        .select(F.col("ty").alias("y"), F.col("tx").alias("x"), "gx", "gy")
    )
    m2 = persist_tracked(
        g.select(
            "y",
            "x",
            (F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")).alias(
                "m2"
            ),
            F.when(2 * F.abs("gy") <= F.abs("gx"), 0)
            .when(2 * F.abs("gx") <= F.abs("gy"), 2)
            .when(F.col("gx") * F.col("gy") > 0, 1)
            .otherwise(3)
            .alias("bin"),
        )
    )
    d = m2.select(
        "y",
        "x",
        "m2",
        F.when(F.col("bin") == 0, 0).otherwise(1).alias("dy"),
        F.when(F.col("bin") == 0, 1)
        .when(F.col("bin") == 1, 1)
        .when(F.col("bin") == 2, 0)
        .otherwise(-1)
        .alias("dx"),
    )
    fwd = m2.select(
        F.col("y").alias("py"), F.col("x").alias("px_"),
        F.col("m2").alias("pm2"),
    )
    bwd = m2.select(
        F.col("y").alias("qy"), F.col("x").alias("qx"),
        F.col("m2").alias("qm2"),
    )
    nms = (
        d.join(
            fwd,
            (F.col("py") == F.col("y") + F.col("dy"))
            & (F.col("px_") == F.col("x") + F.col("dx")),
        )
        .join(
            bwd,
            (F.col("qy") == F.col("y") - F.col("dy"))
            & (F.col("qx") == F.col("x") - F.col("dx")),
        )
        .filter(
            F.col("y").between(3, 60)
            & F.col("x").between(3, 60)
            & (F.col("m2") >= F.col("pm2"))
            & (F.col("m2") > F.col("qm2"))
        )
        .select("y", "x", "m2")
    )
    tot = m2.agg(F.sum("m2").alias("s"), F.count(F.lit(1)).alias("n"))
    scored = nms.crossJoin(F.broadcast(tot))
    cand = scored.filter(F.col("m2") * F.col("n") >= 2 * F.col("s")).select(
        "y", "x", "m2", "n", "s"
    )
    strong = cand.filter(F.col("m2") * F.col("n") >= 6 * F.col("s")).select(
        "y", "x"
    )
    lab = label_cc.label(
        cand.select("y", "x", F.lit(True).alias("m")),
        SHAPE,
        structure=np.ones((3, 3)),
    )
    keep = lab.join(strong, ["y", "x"]).select("label").distinct()
    return (
        lab.join(F.broadcast(keep), "label")
        .select("y", "x")
        .orderBy("y", "x")
    )


# Shared inertia-eigenvalue SQL fragments for the regionprops shape
# descriptors: normalized second moments from the same raw-moment
# identities measure_central_moments grades, then the closed-form 2x2
# eigenvalues. One text, interpolated into the oracle; the engine
# mirrors it expression for expression.
_SHAPE_MU = {
    "m20": "SUM(value*y*y) - SUM(value*y)*SUM(value*y)/SUM(value)",
    "m02": "SUM(value*x*x) - SUM(value*x)*SUM(value*x)/SUM(value)",
    "m11": "SUM(value*y*x) - SUM(value*y)*SUM(value*x)/SUM(value)",
}

_SHAPE_ORACLE = with_pixel_ctes(
    """
    SELECT label,
           ROUND(1.2345e-8 + 4 * SQRT(l1), 4) AS major_axis,
           ROUND(1.2345e-8 + 4 * SQRT(l2), 4) AS minor_axis,
           ROUND(1.2345e-8 + SQRT(1 - l2 / l1), 4) AS eccentricity
    FROM eig
    """,
    extra=[
        f"""mom AS (SELECT label,
               ({_SHAPE_MU['m20']}) / SUM(value) AS n20,
               ({_SHAPE_MU['m02']}) / SUM(value) AS n02,
               ({_SHAPE_MU['m11']}) / SUM(value) AS n11
          FROM labeled GROUP BY label)""",
        """eig AS (SELECT label,
               (n20 + n02) / 2
                 + SQRT((n20 - n02) * (n20 - n02) / 4 + n11 * n11) AS l1,
               GREATEST((n20 + n02) / 2
                 - SQRT((n20 - n02) * (n20 - n02) / 4 + n11 * n11),
                 0) AS l2
          FROM mom)""",
    ],
)


@register(
    "regionprops_shape",
    _SHAPE_ORACLE,
    tags=("imaging", "ndmeasure", "regionprops"),
)
def regionprops_shape(spark, sf_dir):
    """REGIONPROPS SHAPE DESCRIPTORS (skimage ``regionprops``:
    major/minor axis length + eccentricity): eigenvalues of the
    mass-normalized inertia tensor, in closed 2x2 form — how elongated
    is each segmented object, the go-to morphology feature after area
    and centroid. Completes the regionprops family begun by
    ``measure_central_moments`` (which grades the raw tensor +
    orientation).

    Same scale shape as every measurement: ONE partial+final aggregate
    per label computes all three raw power sums; the eigenvalue algebra
    runs on the |labels|-row frame. The minor eigenvalue is clamped at
    0 on BOTH engines (GREATEST/greatest) so a last-ulp negative from
    the moment subtraction can never NaN the square root on one side
    only. skimage's axis-length convention (4*sqrt(lambda)) and
    eccentricity sqrt(1 - l2/l1) follow the published formulas."""
    from dask_image_spark.operators import ndmeasure as _nm

    df = _nm.central_moments(labeled_grid(spark, sf_dir))
    n20 = F.col("mu20") / F.col("mass")
    n02 = F.col("mu02") / F.col("mass")
    n11 = F.col("mu11") / F.col("mass")
    half_tr = (n20 + n02) / 2
    disc = F.sqrt((n20 - n02) * (n20 - n02) / 4 + n11 * n11)
    eig = df.select(
        "label",
        (half_tr + disc).alias("l1"),
        F.greatest(half_tr - disc, F.lit(0.0)).alias("l2"),
    )
    return eig.select(
        "label",
        _eps_round(4 * F.sqrt("l1"), 4).alias("major_axis"),
        _eps_round(4 * F.sqrt("l2"), 4).alias("minor_axis"),
        _eps_round(F.sqrt(1 - F.col("l2") / F.col("l1")), 4).alias(
            "eccentricity"
        ),
    )


_REG_SHIFTS = ", ".join(
    f"({dy}, {dx})" for dy in range(8) for dx in range(8)
)

_REG_ORACLE = with_pixel_ctes(
    f"""
    SELECT dy, dx, CAST(score AS BIGINT) AS score
    FROM (
      SELECT s.dy, s.dx,
             SUM(a.v * b.v) AS score
      FROM (VALUES {_REG_SHIFTS}) s(dy, dx)
      JOIN v a ON TRUE
      JOIN w b
        ON b.y = (a.y + s.dy) % 64 AND b.x = (a.x + s.dx) % 64
      GROUP BY s.dy, s.dx)
    ORDER BY score DESC, dy, dx LIMIT 1
    """,
    extra=[
        "v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) % 256 AS v FROM pixels)",
        """w AS (SELECT CAST((y + 3) % 64 AS INT) AS y,
                CAST((x + 5) % 64 AS INT) AS x, v FROM v)""",
    ],
)


@register(
    "image_register_shift",
    _REG_ORACLE,
    tags=("imaging", "registration", "feature"),
)
def image_register_shift(spark, sf_dir):
    """IMAGE REGISTRATION BY TRANSLATION (skimage
    ``phase_cross_correlation`` with integer precision): recover the
    (dy, dx) shift aligning a moved copy of the image back onto the
    original — the drift-correction step time-lapse microscopy runs
    before any cross-frame measurement. The moving image is the fixture
    circularly shifted by (3, 5); the argmax of the circular
    cross-correlation over an 8x8 search window must recover exactly
    that displacement (and does — graded by value).

    The search is the GROUP-BY reading of correlation: broadcast the
    64-row shift table, join the moving image on the wrapped coordinate,
    SUM(a.v * b.v) per shift — one co-partitioned join + one 64-group
    aggregate, all integer so the argmax is bit-exact. Scale posture:
    the windowed search is O(|window| * pixels) — right whenever drift
    is bounded (the microscopy case); for unbounded shifts the FFT
    cross-power-spectrum path through the R2 tile machinery
    (operators/chunked.py's fourier surface) replaces the join at
    O(pixels log pixels), the documented escalation."""
    shifts = values_df(
        spark,
        "dy, dx",
        [(dy, dx) for dy in range(8) for dx in range(8)],
    )
    v = pixel_grid(spark, sf_dir).select(
        "y", "x", (F.floor("value").cast("bigint") % 256).alias("v")
    )
    w = v.select(
        ((F.col("y") + 3) % 64).cast("int").alias("wy"),
        ((F.col("x") + 5) % 64).cast("int").alias("wx"),
        F.col("v").alias("wv"),
    )
    probes = v.crossJoin(F.broadcast(shifts)).select(
        "dy",
        "dx",
        "v",
        ((F.col("y") + F.col("dy")) % 64).cast("int").alias("wy"),
        ((F.col("x") + F.col("dx")) % 64).cast("int").alias("wx"),
    )
    return (
        probes.join(w, ["wy", "wx"])
        .groupBy("dy", "dx")
        .agg(F.sum(F.col("v") * F.col("wv")).cast("bigint").alias("score"))
        .orderBy(F.desc("score"), "dy", "dx")
        .limit(1)
    )


@register(
    "radial_profile",
    with_pixel_ctes(
        """
        SELECT CAST(FLOOR(SQRT((y - 31.5) * (y - 31.5)
                            + (x - 31.5) * (x - 31.5))) AS INT) AS ring,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               ROUND(1.2345e-8 + AVG(value), 4) AS mean_v
        FROM pixels
        GROUP BY 1 ORDER BY 1
        """,
    ),
    tags=("imaging", "ndmeasure", "profile"),
)
def radial_profile(spark, sf_dir):
    """RADIAL INTENSITY PROFILE: mean value per integer-radius ring
    about the image center — astronomy's PSF/galaxy profile and
    microscopy's bead-calibration curve (scipy recipes build it from
    ``ndimage.mean`` over a radius label image, exactly this shape).
    Ring binning is floor(euclidean distance to the 31.5-center);
    (y - 31.5)^2 sums always end in .5, so the distance is NEVER an
    exact integer and the floor cannot straddle engines.

    ONE partial-agg groupBy over a computed key — the measurement
    family's scale shape, with the ring id as a derived label."""
    px = pixel_grid(spark, sf_dir)
    ring = F.floor(
        F.sqrt(
            (F.col("y") - 31.5) * (F.col("y") - 31.5)
            + (F.col("x") - 31.5) * (F.col("x") - 31.5)
        )
    ).cast("int")
    return (
        px.groupBy(ring.alias("ring"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_px"),
            _eps_round(F.avg("value"), 4).alias("mean_v"),
        )
        .orderBy("ring")
    )


def _granulometry_oracle() -> str:
    ctes = [_MASKD]
    selects = [
        "SELECT 0 AS k, CAST(COUNT(CASE WHEN value > 0.5 THEN 1 END)"
        " AS BIGINT) AS fg_area FROM maskd"
    ]
    for k in (1, 2, 3):
        passes = [(ndmorph.CROSS, _BAND, "constant", 0.0)] * k + [
            (ndmorph.CROSS, _BOR, "constant", 0.0)
        ] * k
        cur = _chain(ctes, f"g{k}_", "maskd", passes)
        selects.append(
            f"SELECT {k} AS k, CAST(COUNT(CASE WHEN value > 0.5 THEN 1 END)"
            f" AS BIGINT) AS fg_area FROM {cur}"
        )
    return with_pixel_ctes(
        " UNION ALL ".join(selects), extra=ctes
    )


@register(
    "granulometry_openings",
    _granulometry_oracle(),
    tags=("imaging", "ndmorph", "composition"),
)
def granulometry_openings(spark, sf_dir):
    """GRANULOMETRY (the morphological size distribution): surviving
    foreground area after openings with structuring elements of
    increasing radius (iterations k = 0..3 of the cross) — the
    pattern-spectrum curve that sizes particles WITHOUT segmenting
    them (Matheron's classic; skimage cookbook's granulometry recipe).
    The area drop between k and k+1 is the mass of features with
    radius exactly k+1.

    Each opening chains 2k stencil passes (k erosions then k
    dilations), every pass the single-shuffle pad-then-scatter plan;
    the per-k areas are 1-row aggregates unioned — so the whole curve
    costs sum over k of 2k shuffles, and at scale the k openings run
    CONCURRENTLY (independent branches of one job). The oracle replays
    all 12 passes definitionally via the shared morphology CTE
    machinery."""
    m = mask_grid(spark, sf_dir)
    parts = [
        m.agg(
            F.count(F.when(F.col("m"), 1)).cast("bigint").alias("fg_area")
        ).select(F.lit(0).alias("k"), "fg_area")
    ]
    for k in (1, 2, 3):
        o = ndmorph.binary_opening(m, shape=SHAPE, iterations=k)
        parts.append(
            o.agg(
                F.count(F.when(F.col("m"), 1)).cast("bigint").alias(
                    "fg_area"
                )
            ).select(F.lit(k).alias("k"), "fg_area")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_HOG_ORACLE = with_pixel_ctes(
    f"""
    SELECT CAST(y // 8 AS INT) AS cy, CAST(x // 8 AS INT) AS cx,
           CASE WHEN 2 * ABS(gy) <= ABS(gx) THEN 0
                WHEN 2 * ABS(gx) <= ABS(gy) THEN 2
                WHEN gx * gy > 0 THEN 1 ELSE 3 END AS obin,
           CAST(SUM(gx * gx + gy * gy) AS BIGINT) AS energy,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM g
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    extra=[
        """v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) % 256 AS v
               FROM pixels)""",
        f"""g AS (SELECT p.y, p.x,
               SUM(q.v * {_case_weights([(dy, dx, wx) for dy, dx, wx, _ in _HARRIS_OFF])}) AS gx,
               SUM(q.v * {_case_weights([(dy, dx, wy) for dy, dx, _, wy in _HARRIS_OFF])}) AS gy
          FROM v p JOIN v q
            ON q.y BETWEEN p.y - 1 AND p.y + 1
           AND q.x BETWEEN p.x - 1 AND p.x + 1
          WHERE p.y BETWEEN 1 AND 62 AND p.x BETWEEN 1 AND 62
          GROUP BY p.y, p.x)""",
    ],
)


@register(
    "hog_cell_histograms",
    _HOG_ORACLE,
    tags=("imaging", "feature", "histogram"),
)
def hog_cell_histograms(spark, sf_dir):
    """HOG — HISTOGRAM OF ORIENTED GRADIENTS cell descriptors (Dalal &
    Triggs; skimage ``feature.hog`` before block normalization): per
    8x8 cell, the gradient energy binned by quantized orientation —
    THE classical pre-CNN detection feature, and the natural batch
    feature-extraction op for an image corpus (one row per cell-bin is
    the long-form feature vector). Orientation uses the same rational
    4-bin quantization as ``edge_canny`` (2|gy| <=> |gx| CASE, ordered
    ties); the histogram weight is gradient ENERGY (mag^2, the
    documented integer variant of skimage's magnitude weighting) so
    the whole descriptor is exact int64.

    Plan: the Sobel scatter stage (broadcast kernel, one shuffle) then
    ONE partial-agg groupBy on (cell, bin) — at a billion-image corpus
    this is a map-side-combining two-shuffle pipeline producing 64
    rows per image, the feature-store write shape."""
    sok = values_df(
        spark,
        "dy, dx, wx, wy",
        [(dy, dx, wx, wy) for dy, dx, wx, wy in _HARRIS_OFF],
    )
    px = pixel_grid(spark, sf_dir).select(
        "y", "x", (F.floor("value").cast("bigint") % 256).alias("v")
    )
    g = (
        px.crossJoin(F.broadcast(sok))
        .select(
            (F.col("y") - F.col("dy")).alias("ty"),
            (F.col("x") - F.col("dx")).alias("tx"),
            (F.col("v") * F.col("wx")).alias("cx"),
            (F.col("v") * F.col("wy")).alias("cy"),
        )
        .groupBy("ty", "tx")
        .agg(F.sum("cx").alias("gx"), F.sum("cy").alias("gy"))
        .filter(F.col("ty").between(1, 62) & F.col("tx").between(1, 62))
    )
    obin = (
        F.when(2 * F.abs("gy") <= F.abs("gx"), 0)
        .when(2 * F.abs("gx") <= F.abs("gy"), 2)
        .when(F.col("gx") * F.col("gy") > 0, 1)
        .otherwise(3)
    )
    return (
        g.groupBy(
            (F.col("ty") / 8).cast("int").alias("cy"),
            (F.col("tx") / 8).cast("int").alias("cx"),
            obin.alias("obin"),
        )
        .agg(
            F.sum(
                F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")
            )
            .cast("bigint")
            .alias("energy"),
            F.count(F.lit(1)).cast("bigint").alias("n_px"),
        )
        .orderBy("cy", "cx", "obin")
    )


_HU_ORACLE = with_pixel_ctes(
    """
    SELECT label,
           ROUND(1.2345e-8 + LOG10(
             (mu20 + mu02) / POW(mass, 2.0)), 4) AS log_h1,
           ROUND(1.2345e-8 + LOG10(
             (POW((mu20 - mu02) / POW(mass, 2.0), 2)
              + 4 * POW(mu11 / POW(mass, 2.0), 2)) + 1e-30), 4) AS log_h2,
           ROUND(1.2345e-8 + LOG10(
             (POW((mu30 - 3 * mu12) / POW(mass, 2.5), 2)
              + POW((3 * mu21 - mu03) / POW(mass, 2.5), 2)) + 1e-30), 4)
             AS log_h3,
           ROUND(1.2345e-8 + LOG10(
             (POW((mu30 + mu12) / POW(mass, 2.5), 2)
              + POW((mu21 + mu03) / POW(mass, 2.5), 2)) + 1e-30), 4)
             AS log_h4
    FROM mu ORDER BY label
    """,
    extra=[
        """cen AS (SELECT label, SUM(value) AS mass,
               SUM(value * y) / SUM(value) AS cy,
               SUM(value * x) / SUM(value) AS cx
          FROM labeled GROUP BY label)""",
        """mu AS (SELECT l.label, MAX(c.mass) AS mass,
               SUM(l.value * (l.y - c.cy) * (l.y - c.cy)) AS mu20,
               SUM(l.value * (l.x - c.cx) * (l.x - c.cx)) AS mu02,
               SUM(l.value * (l.y - c.cy) * (l.x - c.cx)) AS mu11,
               SUM(l.value * (l.y - c.cy) * (l.y - c.cy) * (l.y - c.cy))
                 AS mu30,
               SUM(l.value * (l.x - c.cx) * (l.x - c.cx) * (l.x - c.cx))
                 AS mu03,
               SUM(l.value * (l.y - c.cy) * (l.y - c.cy) * (l.x - c.cx))
                 AS mu21,
               SUM(l.value * (l.y - c.cy) * (l.x - c.cx) * (l.x - c.cx))
                 AS mu12
          FROM labeled l JOIN cen c ON c.label = l.label
          GROUP BY l.label)""",
    ],
)


@register(
    "regionprops_hu_moments",
    _HU_ORACLE,
    tags=("imaging", "ndmeasure", "regionprops"),
)
def regionprops_hu_moments(spark, sf_dir):
    """HU MOMENT INVARIANTS h1-h4 per label (skimage ``moments_hu``):
    the rotation/translation/scale-invariant shape signatures built
    from second- AND third-order normalized central moments — the
    classical shape-matching fingerprint (all four are sums of squares,
    hence non-negative; reported as log10, the standard presentation
    since raw magnitudes span decades).

    TWO-PASS central moments (the numerically honest form): pass 1
    computes per-label mass + centroid, broadcast back; pass 2
    aggregates the seven centered power sums in ONE partial+final
    groupBy. This deliberately differs from ``measure_central_moments``'
    one-pass raw-moment identities — at third order the identity
    algebra loses ~half the significand to cancellation, while the
    centered sums stay small; the same two designs numpy users choose
    between, both now graded. Normalization eta_pq = mu_pq /
    mass^(1+(p+q)/2) per the published formulas."""
    lbl = labeled_grid(spark, sf_dir)
    cen = lbl.groupBy("label").agg(
        F.sum("value").alias("mass"),
        (F.sum(F.col("value") * F.col("y")) / F.sum("value")).alias("cy"),
        (F.sum(F.col("value") * F.col("x")) / F.sum("value")).alias("cx"),
    )
    j = lbl.join(F.broadcast(cen), "label")
    dy = F.col("y") - F.col("cy")
    dx = F.col("x") - F.col("cx")
    v = F.col("value")
    mu = j.groupBy("label").agg(
        F.max("mass").alias("mass"),
        F.sum(v * dy * dy).alias("mu20"),
        F.sum(v * dx * dx).alias("mu02"),
        F.sum(v * dy * dx).alias("mu11"),
        F.sum(v * dy * dy * dy).alias("mu30"),
        F.sum(v * dx * dx * dx).alias("mu03"),
        F.sum(v * dy * dy * dx).alias("mu21"),
        F.sum(v * dy * dx * dx).alias("mu12"),
    )
    m2 = F.pow("mass", 2.0)
    m25 = F.pow("mass", 2.5)
    n20 = F.col("mu20") / m2
    n02 = F.col("mu02") / m2
    n11 = F.col("mu11") / m2
    n30 = F.col("mu30") / m25
    n03 = F.col("mu03") / m25
    n21 = F.col("mu21") / m25
    n12 = F.col("mu12") / m25
    return mu.select(
        "label",
        _eps_round(F.log10(n20 + n02), 4).alias("log_h1"),
        _eps_round(
            F.log10(
                F.pow(n20 - n02, 2.0) + 4 * F.pow(n11, 2.0) + 1e-30
            ),
            4,
        ).alias("log_h2"),
        _eps_round(
            F.log10(
                F.pow(n30 - 3 * n12, 2.0)
                + F.pow(3 * n21 - n03, 2.0)
                + 1e-30
            ),
            4,
        ).alias("log_h3"),
        _eps_round(
            F.log10(
                F.pow(n30 + n12, 2.0) + F.pow(n21 + n03, 2.0) + 1e-30
            ),
            4,
        ).alias("log_h4"),
    ).orderBy("label")


_ELONGATED_ORACLE = """
WITH RECURSIVE
pixels AS (SELECT CAST(event_id % 64 AS INT) AS y,
                  CAST((event_id // 64) % 64 AS INT) AS x,
                  SUM(value) AS value FROM events GROUP BY 1, 2),
mask AS (SELECT y, x, value > (SELECT AVG(value) FROM pixels) AS m
         FROM pixels),
fg AS (SELECT CAST(y * 64 + x AS BIGINT) AS id, y, x FROM mask WHERE m),
e1 AS (
  SELECT a.id AS src, b.id AS dst FROM fg a JOIN fg b
    ON (b.y = a.y + 1 AND b.x = a.x) OR (b.y = a.y AND b.x = a.x + 1)
),
edges AS (SELECT src, dst FROM e1 UNION ALL SELECT dst, src FROM e1),
reach(src, dst) AS (
  SELECT id, id FROM fg
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
comp AS (SELECT src AS id, MIN(dst) AS label FROM reach GROUP BY src),
lab AS (SELECT f.y, f.x, c.label FROM fg f JOIN comp c ON c.id = f.id),
st AS (
  SELECT label, COUNT(*) AS n,
         SUM(y) AS sy, SUM(x) AS sx,
         SUM(y * y) AS sy2, SUM(x * x) AS sx2, SUM(y * x) AS syx
  FROM lab GROUP BY label),
mom AS (
  SELECT label, n,
         CAST(n * sy2 - sy * sy AS HUGEINT) AS m20,
         CAST(n * sx2 - sx * sx AS HUGEINT) AS m02,
         CAST(n * syx - sy * sx AS HUGEINT) AS m11
  FROM st)
SELECT label, CAST(n AS BIGINT) AS n_px
FROM mom
WHERE n >= 5
  AND 9 * (m20 + m02) * (m20 + m02)
      >= 25 * ((m20 - m02) * (m20 - m02) + 4 * m11 * m11)
ORDER BY label
"""


@register(
    "remove_elongated_objects",
    _ELONGATED_ORACLE,
    tags=("imaging", "label", "regionprops", "composition"),
)
def remove_elongated_objects(spark, sf_dir):
    """SHAPE-GATED COMPONENT FILTERING: label the mask's REAL connected
    components, then keep only the compact ones — aspect ratio
    (major/minor inertia eigenvalue) at most 4, size at least 5 px —
    the scratch/fiber/edge-artifact rejection step that follows
    ``remove_small_objects`` in every segmentation cleanup. Composes
    the distributed labeling with the inertia machinery on REAL
    components (the block-label fixture can't exercise this: its
    regions are all identical squares).

    EXACT-INTEGER elongation gate: with binary components, the n²-scaled
    central moments M20 = n·Σy² − (Σy)² are integers, and the eigen
    condition 4·λ2 ≥ λ1 cross-multiplies to 9·T² ≥ 25·((M20−M02)² +
    4·M11²) — no square root, no division; Spark evaluates it in
    DECIMAL(38,0) and DuckDB in HUGEINT (T² reaches ~21 digits), so
    the keep set is bit-identical by construction. At sf0.01: 391
    components, 52 pass the size floor, 24 survive the gate — keep and
    drop both well populated.

    Scale: the labeling's own stages plus ONE partial-agg moment
    groupBy and a codegen filter — nothing new shuffles."""
    from dask_image_spark.operators import label_cc

    m = mask_grid(spark, sf_dir)
    lab = label_cc.label(m, SHAPE)
    st = lab.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("sy"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("x")).alias("syx"),
    )
    dec = "decimal(38,0)"
    mom = st.select(
        "label",
        "n",
        (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy"))
        .cast(dec)
        .alias("m20"),
        (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx"))
        .cast(dec)
        .alias("m02"),
        (F.col("n") * F.col("syx") - F.col("sy") * F.col("sx"))
        .cast(dec)
        .alias("m11"),
    )
    t = F.col("m20") + F.col("m02")
    d2 = (F.col("m20") - F.col("m02")) * (F.col("m20") - F.col("m02")) + (
        4 * F.col("m11") * F.col("m11")
    )
    return (
        mom.filter((F.col("n") >= 5) & (9 * t * t >= 25 * d2))
        .select("label", F.col("n").cast("bigint").alias("n_px"))
        .orderBy("label")
    )


# Shared 3x3 window-pair CTE for the rank/restoration filter family:
# every interior pixel joined to its 9-neighborhood, both values carried.
_WIN9 = """win AS (
  SELECT p.y, p.x, p.v AS cv, q.v AS nv,
         (q.y - p.y) * 10 + (q.x - p.x) AS off
  FROM v p JOIN v q
    ON q.y BETWEEN p.y - 1 AND p.y + 1
   AND q.x BETWEEN p.x - 1 AND p.x + 1
  WHERE p.y BETWEEN 1 AND 62 AND p.x BETWEEN 1 AND 62)"""

_BINOMIAL_CASE = (
    "CASE off WHEN -11 THEN 1 WHEN -10 THEN 2 WHEN -9 THEN 1 "
    "WHEN -1 THEN 2 WHEN 0 THEN 4 WHEN 1 THEN 2 "
    "WHEN 9 THEN 1 WHEN 10 THEN 2 WHEN 11 THEN 1 END"
)


@register(
    "filter_bilateral",
    with_pixel_ctes(
        f"""
        SELECT y, x,
               ROUND(1.2345e-8
                 + SUM({_BINOMIAL_CASE}
                       * EXP(-((nv - cv) * (nv - cv)) / 5000.0) * nv)
                 / SUM({_BINOMIAL_CASE}
                       * EXP(-((nv - cv) * (nv - cv)) / 5000.0)), 4) AS v
        FROM win GROUP BY y, x
        """,
        extra=[
            "v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) % 256 AS v"
            " FROM pixels)",
            _WIN9,
        ],
    ),
    tags=("imaging", "filter", "restoration"),
)
def filter_bilateral(spark, sf_dir):
    """BILATERAL FILTER (skimage ``denoise_bilateral``): edge-preserving
    smoothing — each neighbor's weight is spatial closeness TIMES range
    closeness exp(-(dv)²/2σr²), so averaging never crosses an intensity
    edge (the denoiser that doesn't blur boundaries, which the plain
    gaussian does by construction). Binomial 3×3 spatial weights (the
    integer [1,2,1]⊗[1,2,1]), range σr = 50 on the 0-255 quantized
    levels.

    Value-difference inputs are exact integers, so both engines feed
    IDENTICAL arguments to EXP and the 4-decimal rounding absorbs the
    last-ulp libm variance (the roc-sigmoid precedent). ONE
    neighborhood join + ONE groupBy — the stencil plan with a
    data-dependent weight, which is exactly what makes bilateral
    non-separable and worth grading apart from gaussian."""
    off = values_df(spark, "dy, dx, sw", [
        (dy, dx, _SMOOTH_3[dy + 1] * _SMOOTH_3[dx + 1])
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])
    px = pixel_grid(spark, sf_dir).select(
        "y", "x", (F.floor("value").cast("bigint") % 256).alias("v")
    )
    probes = px.crossJoin(F.broadcast(off)).select(
        "y", "x", F.col("v").alias("cv"),
        (F.col("y") + F.col("dy")).alias("ny"),
        (F.col("x") + F.col("dx")).alias("nx"),
        "sw",
    )
    nb = px.select(
        F.col("y").alias("ny"), F.col("x").alias("nx"),
        F.col("v").alias("nv"),
    )
    dv = F.col("nv") - F.col("cv")
    w = F.col("sw") * F.exp(-(dv * dv) / F.lit(5000.0))
    return (
        probes.join(nb, ["ny", "nx"])
        .filter(F.col("y").between(1, 62) & F.col("x").between(1, 62))
        .groupBy("y", "x")
        .agg(
            _eps_round(
                F.sum(w * F.col("nv")) / F.sum(w), 4
            ).alias("v")
        )
    )


@register(
    "filter_local_entropy",
    with_pixel_ctes(
        """
        SELECT y, x,
               ROUND(1.2345e-8
                 - SUM((c / 9.0) * LN(c / 9.0)), 4) AS h
        FROM (SELECT y, x, nv % 16 AS lvl, COUNT(*) AS c
              FROM win GROUP BY y, x, nv % 16)
        GROUP BY y, x
        """,
        extra=[
            "v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) % 256 AS v"
            " FROM pixels)",
            _WIN9,
        ],
    ),
    tags=("imaging", "filter", "texture"),
)
def filter_local_entropy(spark, sf_dir):
    """LOCAL ENTROPY FILTER (skimage ``filters.rank.entropy``): Shannon
    entropy of the 16-level histogram in each 3×3 window — the texture/
    information map segmentation uses to separate busy regions from
    flat ones. Probabilities are exact rationals c/9 over integer
    counts, so both engines feed LN identical arguments.

    Plan: the neighborhood join then TWO chained aggregates — per
    (pixel, level) counts, then the entropy sum per pixel — both on the
    SAME (y, x) keys, so AQE plans the second without a new exchange.
    The rank-filter family's general recipe: any histogram functional
    (entropy here, majority in ``filter_majority``) drops into the
    second aggregate."""
    off = values_df(spark, "dy, dx", [
        (dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])
    px = pixel_grid(spark, sf_dir).select(
        "y", "x", (F.floor("value").cast("bigint") % 256).alias("v")
    )
    probes = px.crossJoin(F.broadcast(off)).select(
        "y", "x",
        (F.col("y") + F.col("dy")).alias("ny"),
        (F.col("x") + F.col("dx")).alias("nx"),
    )
    nb = px.select(
        F.col("y").alias("ny"), F.col("x").alias("nx"),
        F.col("v").alias("nv"),
    )
    counts = (
        probes.join(nb, ["ny", "nx"])
        .filter(F.col("y").between(1, 62) & F.col("x").between(1, 62))
        .groupBy("y", "x", (F.col("nv") % 16).alias("lvl"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = F.col("c") / F.lit(9.0)
    return (
        counts.groupBy("y", "x")
        .agg(_eps_round(-F.sum(p * F.log(p)), 4).alias("h"))
    )


@register(
    "filter_majority",
    with_pixel_ctes(
        """
        SELECT y, x, CAST(MIN(lvl) AS INT) AS mode_lvl
        FROM (SELECT y, x, lvl, c,
                     MAX(c) OVER (PARTITION BY y, x) AS mx
              FROM (SELECT y, x, nv % 16 AS lvl, COUNT(*) AS c
                    FROM win GROUP BY y, x, nv % 16))
        WHERE c = mx
        GROUP BY y, x
        """,
        extra=[
            "v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) % 256 AS v"
            " FROM pixels)",
            _WIN9,
        ],
    ),
    tags=("imaging", "filter", "rank"),
)
def filter_majority(spark, sf_dir):
    """MAJORITY (MODE) FILTER (skimage ``filters.rank.majority``): the
    most frequent 16-quantized level in each 3×3 window, minimum level
    on ties — label-map smoothing after any per-pixel classification
    (the categorical analog of the median filter; means would invent
    nonexistent classes). Pure integer counts and an integer tie-break:
    bit-exact with NO float contract.

    Same two-aggregate recipe as ``filter_local_entropy`` with an
    argmax instead of an entropy sum — the window max + equality filter
    keeps it one extra window pass over the already-partitioned count
    frame."""
    off = values_df(spark, "dy, dx", [
        (dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
    ])
    px = pixel_grid(spark, sf_dir).select(
        "y", "x", (F.floor("value").cast("bigint") % 256).alias("v")
    )
    probes = px.crossJoin(F.broadcast(off)).select(
        "y", "x",
        (F.col("y") + F.col("dy")).alias("ny"),
        (F.col("x") + F.col("dx")).alias("nx"),
    )
    nb = px.select(
        F.col("y").alias("ny"), F.col("x").alias("nx"),
        F.col("v").alias("nv"),
    )
    counts = (
        probes.join(nb, ["ny", "nx"])
        .filter(F.col("y").between(1, 62) & F.col("x").between(1, 62))
        .groupBy("y", "x", (F.col("nv") % 16).alias("lvl"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("y", "x")
    return (
        counts.withColumn("mx", F.max("c").over(w))
        .filter(F.col("c") == F.col("mx"))
        .groupBy("y", "x")
        .agg(F.min("lvl").cast("int").alias("mode_lvl"))
    )


def _gabor_taps(theta: float, lam: float = 4.0, sigma: float = 1.5,
                radius: int = 2) -> list:
    """Real-part Gabor kernel taps: cos(2*pi/lambda * x') * gaussian
    envelope, orientation theta — driver-computed double literals shared
    verbatim by engine kernel table and oracle text (the gaussian-taps
    precedent). Zero-DC corrected so flat regions respond 0 (the
    standard practice that makes the filter a pure texture probe)."""
    import math

    taps = []
    for dy in range(-radius, radius + 1):
        for dx in range(-radius, radius + 1):
            xr = dx * math.cos(theta) + dy * math.sin(theta)
            yr = -dx * math.sin(theta) + dy * math.cos(theta)
            env = math.exp(-(xr * xr + yr * yr) / (2 * sigma * sigma))
            taps.append((dy, dx, env * math.cos(2 * math.pi * xr / lam)))
    mean = sum(w for _, _, w in taps) / len(taps)
    return [(dy, dx, w - mean) for dy, dx, w in taps]


_GABOR_0 = _gabor_taps(0.0)
_GABOR_45 = _gabor_taps(0.7853981633974483)


@register(
    "filter_gabor_0",
    _linear_oracle([(_GABOR_0, CORR, REFL, 0.0)]),
    tags=("imaging", "ndfilters", "texture"),
)
def filter_gabor_0(spark, sf_dir):
    """GABOR FILTER, horizontal orientation (skimage ``filters.gabor``
    real part): a cos-modulated gaussian probe for oriented texture at
    wavelength 4 px — the biologically-motivated feature V1-style
    pipelines and classical texture classifiers run in banks. The 5x5
    taps are driver-computed double literals shared verbatim with the
    oracle (the gaussian-taps rule), zero-DC corrected so flat regions
    respond 0. Plan: ONE pad-then-scatter correlate pass — a bank of K
    orientations is K independent branches over one cached input."""
    return _round_v(
        ndfilters.correlate(pixel_grid(spark, sf_dir), _GABOR_0, SHAPE)
    )


@register(
    "filter_gabor_45",
    _linear_oracle([(_GABOR_45, CORR, REFL, 0.0)]),
    tags=("imaging", "ndfilters", "texture"),
)
def filter_gabor_45(spark, sf_dir):
    """The 45-degree member of the Gabor bank (see ``filter_gabor_0``)
    — rotated coordinates exercise the anisotropic tap generation, and
    together the two orientations are the minimal bank a texture-energy
    feature needs."""
    return _round_v(
        ndfilters.correlate(pixel_grid(spark, sf_dir), _GABOR_45, SHAPE)
    )


# --- round-8 continuation: sharpening / blobs / tensor eigen / diffusion ----

_UNSHARP_AMT = 1.5
_UNSHARP = [
    (dy, dx,
     (1.0 + _UNSHARP_AMT if (dy == 0 and dx == 0) else 0.0)
     - _UNSHARP_AMT * wy * wx)
    for dy, wy in _G1
    for dx, wx in _G1
]


@register(
    "filter_unsharp_mask",
    _linear_oracle([(_UNSHARP, CORR, REFL, 0.0)]),
    tags=("imaging", "ndfilters", "enhancement"),
)
def filter_unsharp_mask(spark, sf_dir):
    """UNSHARP MASKING (skimage ``filters.unsharp_mask``, amount=1.5,
    sigma=1): out = img + amount * (img - gaussian(img)), folded into a
    SINGLE 9x9 kernel (1+a)*delta - a*(g_y (x) g_x) — the delta-minus-
    blur identity means the classic sharpen is just one more linear
    stencil, not a three-step pipeline with an intermediate frame. Taps
    are driver-computed doubles shared verbatim with the oracle.

    Plan: one pad-then-scatter correlate pass, identical physical shape
    to [[filter_gaussian]]; folding the identity into the kernel
    halves the shuffles a naive img-minus-blur dataflow would pay
    (at 100 TB that is one fact-scale join saved)."""
    return _round_v(
        ndfilters.correlate(pixel_grid(spark, sf_dir), _UNSHARP, SHAPE)
    )


def _dog_kernel() -> list:
    """Difference-of-Gaussians 2-D taps, sigma 1.0 minus sigma 1.6
    (the classic SIFT-style ratio), on the union 13x13 support."""
    g2 = K.gaussian_taps_1d(1.6, 0)
    acc: dict = {}
    for dy, wy in _G1:
        for dx, wx in _G1:
            acc[(dy, dx)] = acc.get((dy, dx), 0.0) + wy * wx
    for dy, wy in g2:
        for dx, wx in g2:
            acc[(dy, dx)] = acc.get((dy, dx), 0.0) - wy * wx
    return [(dy, dx, w) for (dy, dx), w in sorted(acc.items())]


_DOG = _dog_kernel()
_BLOB_THR = 2.0

_BLOB_ORACLE = with_pixel_ctes(
    """
    SELECT p.y, p.x, p.v
    FROM s0r p JOIN s0r q
      ON q.y BETWEEN p.y - 1 AND p.y + 1
     AND q.x BETWEEN p.x - 1 AND p.x + 1
     AND NOT (q.y = p.y AND q.x = p.x)
    WHERE p.y BETWEEN 1 AND 62 AND p.x BETWEEN 1 AND 62
    GROUP BY p.y, p.x, p.v
    HAVING p.v > MAX(q.v) AND p.v > 2.0
    ORDER BY p.y, p.x
    """,
    extra=[
        f"s0 AS ({_pass_sql('pixels', _DOG, CORR, 'reflect', 0.0)})",
        "s0r AS (SELECT y, x, ROUND(1.2345e-8 + value, 6) AS v FROM s0)",
    ],
)


@register(
    "blob_dog_maxima",
    _BLOB_ORACLE,
    tags=("imaging", "feature", "blob-detection"),
)
def blob_dog_maxima(spark, sf_dir):
    """BLOB DETECTION by Difference-of-Gaussians (skimage ``blob_dog``
    at a single scale pair 1.0/1.6): band-pass the image with the DoG
    kernel (folded to ONE 13x13 stencil on the union support), then
    keep strict 8-neighbor local maxima above threshold. Strictness
    excludes plateaus by design (same choice scipy's peak_local_max
    makes with exclude_border); the DoG response is rounded to 6
    decimals WITH the house epsilon on both engines BEFORE the
    max-compare, so summation-order ulps can never flip a
    local-maximum decision across engines.

    Plan: one correlate pass + one neighbor self-join on the response
    frame (both tile-partitionable gathers); the maxima filter is a
    HAVING over the 8-row group — no window sort. At 100 TB both
    stages pin to the same tile partitioning: one halo exchange."""
    dog = ndfilters.correlate(pixel_grid(spark, sf_dir), _DOG, SHAPE)
    d6 = dog.select("y", "x", _eps_round("v", 6).alias("v"))
    off = values_df(spark, "dy, dx", [
        (dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        if not (dy == 0 and dx == 0)
    ])
    probes = d6.crossJoin(F.broadcast(off)).select(
        "y", "x", "v",
        (F.col("y") + F.col("dy")).alias("ny"),
        (F.col("x") + F.col("dx")).alias("nx"),
    )
    nb = d6.select(
        F.col("y").alias("ny"), F.col("x").alias("nx"),
        F.col("v").alias("nv"),
    )
    return (
        probes.join(nb, ["ny", "nx"])
        .filter(F.col("y").between(1, 62) & F.col("x").between(1, 62))
        .groupBy("y", "x", "v")
        .agg(F.max("nv").alias("mx"))
        .filter((F.col("v") > F.col("mx")) & (F.col("v") > _BLOB_THR))
        .select("y", "x", "v")
        .orderBy("y", "x")
    )


_TENSOR_ORACLE = with_pixel_ctes(
    """
    SELECT y, x,
           ROUND(1.2345e-8 + ((sxx + syy)
             + SQRT((sxx - syy) * (sxx - syy) + 4.0 * sxy * sxy)) / 2.0,
             4) AS lam1,
           ROUND(1.2345e-8 + ((sxx + syy)
             - SQRT((sxx - syy) * (sxx - syy) + 4.0 * sxy * sxy)) / 2.0,
             4) AS lam2,
           ROUND(1.2345e-8 + SQRT((sxx - syy) * (sxx - syy)
                                  + 4.0 * sxy * sxy)
             / (sxx + syy + 1.0), 4) AS coherence,
           ROUND(1.2345e-8 + 0.5 * ATAN2(2.0 * sxy, sxx - syy), 4)
             AS orientation
    FROM s WHERE y % 4 = 2 AND x % 4 = 2 ORDER BY y, x
    """,
    extra=[
        """v AS (SELECT y, x, CAST(FLOOR(value) AS BIGINT) % 256 AS v
               FROM pixels)""",
        f"""g AS (SELECT p.y, p.x,
               SUM(q.v * {_case_weights([(dy, dx, wx) for dy, dx, wx, _ in _HARRIS_OFF])}) AS gx,
               SUM(q.v * {_case_weights([(dy, dx, wy) for dy, dx, _, wy in _HARRIS_OFF])}) AS gy
          FROM v p JOIN v q
            ON q.y BETWEEN p.y - 1 AND p.y + 1
           AND q.x BETWEEN p.x - 1 AND p.x + 1
          WHERE p.y BETWEEN 1 AND 62 AND p.x BETWEEN 1 AND 62
          GROUP BY p.y, p.x)""",
        """pr AS (SELECT y, x, gx * gx AS pxx, gy * gy AS pyy,
                gx * gy AS pxy FROM g)""",
        """s AS (SELECT p.y, p.x, SUM(q.pxx) AS sxx, SUM(q.pyy) AS syy,
               SUM(q.pxy) AS sxy
          FROM pr p JOIN pr q
            ON q.y BETWEEN p.y - 1 AND p.y + 1
           AND q.x BETWEEN p.x - 1 AND p.x + 1
          WHERE p.y BETWEEN 2 AND 61 AND p.x BETWEEN 2 AND 61
          GROUP BY p.y, p.x)""",
    ],
)


@register(
    "structure_tensor_eigen",
    _TENSOR_ORACLE,
    tags=("imaging", "feature", "tensor"),
)
def structure_tensor_eigen(spark, sf_dir):
    """STRUCTURE TENSOR EIGEN-DECOMPOSITION (skimage
    ``structure_tensor`` + ``structure_tensor_eigenvalues``): the same
    integer Sobel-gradient tensor as [[harris_corners]], but instead
    of the scalar corner response it reports the full local geometry —
    eigenvalues lam1 >= lam2 (edge strength along/across), coherence
    (lam1-lam2)/(lam1+lam2+1) in [0,1) (1 = perfectly oriented
    structure, 0 = isotropic; the +1 regularizer keeps flat regions
    exactly 0 in integer arithmetic), and the dominant orientation
    0.5*atan2(2 Sxy, Sxx - Syy). Sampled on the every-4th-pixel
    subgrid — the density a texture-flow or fingerprint pipeline
    actually keeps. The tensor itself is BIT-EXACT integer work; only
    the final eigen formulas touch doubles, on identical int inputs.

    Plan: identical two-stencil-stage shape as [[harris_corners]]
    (broadcast kernel scatter, partial-agg window sums) with a
    map-only eigen epilogue — the subsample filter prunes BEFORE the
    epilogue, and at 100 TB both stages share one tile partitioning."""
    off = values_df(
        spark, "dy, dx, wx, wy",
        [(dy, dx, wx, wy) for dy, dx, wx, wy in _HARRIS_OFF],
    )
    px = pixel_grid(spark, sf_dir).select(
        "y", "x", (F.floor("value").cast("bigint") % 256).alias("v")
    )
    g = (
        px.crossJoin(F.broadcast(off))
        .select(
            (F.col("y") - F.col("dy")).alias("ty"),
            (F.col("x") - F.col("dx")).alias("tx"),
            (F.col("v") * F.col("wx")).alias("cx"),
            (F.col("v") * F.col("wy")).alias("cy"),
        )
        .groupBy("ty", "tx")
        .agg(F.sum("cx").alias("gx"), F.sum("cy").alias("gy"))
        .filter(F.col("ty").between(1, 62) & F.col("tx").between(1, 62))
    )
    pr = g.select(
        F.col("ty").alias("y"), F.col("tx").alias("x"),
        (F.col("gx") * F.col("gx")).alias("pxx"),
        (F.col("gy") * F.col("gy")).alias("pyy"),
        (F.col("gx") * F.col("gy")).alias("pxy"),
    )
    ones = values_df(
        spark, "dy, dx",
        [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)],
    )
    s = (
        pr.crossJoin(F.broadcast(ones))
        .select(
            (F.col("y") - F.col("dy")).alias("sy"),
            (F.col("x") - F.col("dx")).alias("sx"),
            "pxx", "pyy", "pxy",
        )
        .groupBy("sy", "sx")
        .agg(
            F.sum("pxx").alias("sxx"),
            F.sum("pyy").alias("syy"),
            F.sum("pxy").alias("sxy"),
        )
        .filter(F.col("sy").between(2, 61) & F.col("sx").between(2, 61))
        .filter((F.col("sy") % 4 == 2) & (F.col("sx") % 4 == 2))
    )
    tr = F.col("sxx") + F.col("syy")
    disc = F.sqrt(
        (F.col("sxx") - F.col("syy")) * (F.col("sxx") - F.col("syy"))
        + 4.0 * F.col("sxy") * F.col("sxy")
    )
    return s.select(
        F.col("sy").alias("y"),
        F.col("sx").alias("x"),
        _eps_round((tr + disc) / 2.0, 4).alias("lam1"),
        _eps_round((tr - disc) / 2.0, 4).alias("lam2"),
        _eps_round(disc / (tr + 1.0), 4).alias("coherence"),
        _eps_round(
            0.5 * F.atan2(2.0 * F.col("sxy"), F.col("sxx") - F.col("syy")),
            4,
        ).alias("orientation"),
    ).orderBy("y", "x")


_PM_K = 30.0
_PM_LAM = 0.2
_PM_NB = [(-1, 0), (1, 0), (0, -1), (0, 1)]


def _pm_pass_sql(src: str, lo: int, hi: int) -> str:
    """One Perona-Malik step over CTE src -> (y, x, value), interior
    [lo, hi] only (no border handling — the frame shrinks by 1/step,
    exactly scipy-free reference semantics for fixed-step diffusion)."""
    return f"""
      SELECT p.y, p.x,
             p.value + {_PM_LAM!r} * SUM(
               EXP(-((q.value - p.value) / {_PM_K!r})
                   * ((q.value - p.value) / {_PM_K!r}))
               * (q.value - p.value)) AS value
      FROM {src} p JOIN {src} q
        ON ABS(q.y - p.y) + ABS(q.x - p.x) = 1
      WHERE p.y BETWEEN {lo} AND {hi} AND p.x BETWEEN {lo} AND {hi}
      GROUP BY p.y, p.x, p.value"""


_PM_ORACLE = with_pixel_ctes(
    "SELECT y, x, ROUND(1.2345e-8 + value, 4) AS v FROM pm2 ORDER BY y, x",
    extra=[
        f"pm1 AS ({_pm_pass_sql('pixels', 1, 62)})",
        f"pm2 AS ({_pm_pass_sql('pm1', 2, 61)})",
    ],
)


@register(
    "perona_malik_2iter",
    _PM_ORACLE,
    tags=("imaging", "ndfilters", "diffusion", "iterative"),
)
def perona_malik_2iter(spark, sf_dir):
    """PERONA-MALIK ANISOTROPIC DIFFUSION, two unrolled iterations
    (the edge-preserving smoother: I += lambda * sum over 4-neighbors
    of g(dI) * dI with conductance g(d) = exp(-(d/K)^2), K=30,
    lambda=0.2). Unlike the gaussian it smooths WITHIN regions but not
    ACROSS edges — the classical denoiser bilateral ([[filter_bilateral]])
    approximates in one shot and deep nets replaced; 2 fixed steps keep
    the unrolled-iteration contract [[logreg_gd_2step]] set. The frame
    shrinks one interior ring per step instead of inventing border
    physics.

    Plan: each step is a 4-neighbor gather (join on |dy|+|dx|=1) with
    a partial-agg flux sum — the halo-exchange stencil shape again; N
    steps = N co-partitioned shuffles, and at 100 TB the tile-pinned
    variant runs all steps without re-exchanging halos."""
    px = pixel_grid(spark, sf_dir).select("y", "x", F.col("value"))
    off = values_df(spark, "dy, dx", _PM_NB)

    def step(df, lo, hi):
        probes = df.crossJoin(F.broadcast(off)).select(
            "y", "x", "value",
            (F.col("y") + F.col("dy")).alias("ny"),
            (F.col("x") + F.col("dx")).alias("nx"),
        )
        nb = df.select(
            F.col("y").alias("ny"), F.col("x").alias("nx"),
            F.col("value").alias("nv"),
        )
        d = (F.col("nv") - F.col("value")) / _PM_K
        return (
            probes.join(nb, ["ny", "nx"])
            .filter(F.col("y").between(lo, hi) & F.col("x").between(lo, hi))
            .groupBy("y", "x", "value")
            .agg(
                F.sum(
                    F.exp(-d * d) * (F.col("nv") - F.col("value"))
                ).alias("flux")
            )
            .select(
                "y", "x",
                (F.col("value") + _PM_LAM * F.col("flux")).alias("value"),
            )
        )

    out = step(step(px, 1, 62), 2, 61)
    return out.select(
        "y", "x", _eps_round("value", 4).alias("v")
    ).orderBy("y", "x")


# --- Zhang-Suen skeletonization (one full iteration = 2 subpasses) ----------

_ZS_NB = [
    ("p2", -1, 0), ("p3", -1, 1), ("p4", 0, 1), ("p5", 1, 1),
    ("p6", 1, 0), ("p7", 1, -1), ("p8", 0, -1), ("p9", -1, -1),
]
_ZS_RING = [nm for nm, _, _ in _ZS_NB]


def _zs_pivot_sql(src: str) -> str:
    cols = ", ".join(
        f"MAX(CASE WHEN q.y = p.y + {dy} AND q.x = p.x + {dx} "
        f"THEN q.v ELSE 0 END) AS {nm}"
        for nm, dy, dx in _ZS_NB
    )
    return (
        f"SELECT p.y, p.x, p.v, {cols} FROM {src} p LEFT JOIN {src} q "
        f"ON q.y BETWEEN p.y - 1 AND p.y + 1 "
        f"AND q.x BETWEEN p.x - 1 AND p.x + 1 "
        f"AND NOT (q.y = p.y AND q.x = p.x) "
        f"GROUP BY p.y, p.x, p.v"
    )


def _zs_delete_sql(masks: tuple[str, str]) -> str:
    b = " + ".join(_ZS_RING)
    ring = _ZS_RING + [_ZS_RING[0]]
    a = " + ".join(
        f"(CASE WHEN {u} = 0 AND {v} = 1 THEN 1 ELSE 0 END)"
        for u, v in zip(ring, ring[1:])
    )
    m1, m2 = masks
    return (
        f"CASE WHEN v = 1 AND ({b}) BETWEEN 2 AND 6 AND ({a}) = 1 "
        f"AND {m1} = 0 AND {m2} = 0 THEN 0 ELSE v END"
    )


_ZS_ORACLE = with_pixel_ctes(
    "SELECT y, x FROM t2 WHERE v = 1 ORDER BY y, x",
    extra=[
        "m AS (SELECT y, x, CASE WHEN value > "
        "(SELECT AVG(value) FROM pixels) THEN 1 ELSE 0 END AS v "
        "FROM pixels)",
        f"n1 AS ({_zs_pivot_sql('m')})",
        f"t1 AS (SELECT y, x, {_zs_delete_sql(('p2 * p4 * p6', 'p4 * p6 * p8'))} AS v FROM n1)",
        f"n2 AS ({_zs_pivot_sql('t1')})",
        f"t2 AS (SELECT y, x, {_zs_delete_sql(('p2 * p4 * p8', 'p2 * p6 * p8'))} AS v FROM n2)",
    ],
)


@register(
    "skeletonize_zhangsuen_1iter",
    _ZS_ORACLE,
    tags=("imaging", "ndmorph", "skeleton", "iterative"),
)
def skeletonize_zhangsuen_1iter(spark, sf_dir):
    """ZHANG-SUEN THINNING, one full iteration (both subpasses) — the
    classical skeletonization step (skimage ``skeletonize``'s
    ancestor): delete a foreground pixel iff its 8-neighbor count B is
    in [2,6], its clockwise 0->1 transition count A equals 1, and the
    directional products (P2 P4 P6, P4 P6 P8 in subpass 1; P2 P4 P8,
    P2 P6 P8 in subpass 2) vanish — conditions that peel one boundary
    layer while PROVABLY preserving connectivity and line endpoints.
    Full convergence loops until no deletions; the fixed single
    iteration keeps the unrolled-iteration contract
    ([[perona_malik_2iter]]) with bit-exact INTEGER logic end to end.

    Plan: each subpass is one 8-neighbor gather pivoted to columns
    (LEFT JOIN + MAX(CASE) partial agg — the [[filter_majority]]
    recipe) feeding a pure boolean codegen expression; two subpasses =
    two co-partitioned halo exchanges, and the tile-pinned variant at
    100 TB runs the whole peel without re-shuffling between them."""
    m = mask_grid(spark, sf_dir).select(
        "y", "x", F.col("m").cast("int").alias("v")
    )
    off = values_df(
        spark, "idx, dy, dx",
        [(i, dy, dx) for i, (_, dy, dx) in enumerate(_ZS_NB)],
    )

    def pivot(df):
        probes = df.crossJoin(F.broadcast(off)).select(
            "y", "x", "v", "idx",
            (F.col("y") + F.col("dy")).alias("ny"),
            (F.col("x") + F.col("dx")).alias("nx"),
        )
        nb = df.select(
            F.col("y").alias("ny"), F.col("x").alias("nx"),
            F.col("v").alias("nv"),
        )
        return (
            probes.join(nb, ["ny", "nx"], "left")
            .groupBy("y", "x", "v")
            .agg(
                *[
                    F.max(
                        F.when(
                            F.col("idx") == i, F.coalesce("nv", F.lit(0))
                        ).otherwise(0)
                    ).alias(nm)
                    for i, (nm, _, _) in enumerate(_ZS_NB)
                ]
            )
        )

    def subpass(df, masks):
        piv = pivot(df)
        b = sum(F.col(nm) for nm in _ZS_RING)
        ring = _ZS_RING + [_ZS_RING[0]]
        a = sum(
            F.when((F.col(u) == 0) & (F.col(v) == 1), 1).otherwise(0)
            for u, v in zip(ring, ring[1:])
        )
        m1 = F.col(masks[0][0]) * F.col(masks[0][1]) * F.col(masks[0][2])
        m2 = F.col(masks[1][0]) * F.col(masks[1][1]) * F.col(masks[1][2])
        keep = F.when(
            (F.col("v") == 1)
            & b.between(2, 6)
            & (a == 1)
            & (m1 == 0)
            & (m2 == 0),
            0,
        ).otherwise(F.col("v"))
        return piv.select("y", "x", keep.alias("v"))

    t1 = subpass(m, (("p2", "p4", "p6"), ("p4", "p6", "p8")))
    t2 = subpass(t1, (("p2", "p4", "p8"), ("p2", "p6", "p8")))
    return t2.filter(F.col("v") == 1).select("y", "x").orderBy("y", "x")


_RADON_AXES = [
    ("deg0", "x"), ("deg90", "y"), ("deg45", "y + x"), ("deg135", "y - x"),
]

_RADON_UNION = " UNION ALL ".join(
    f"SELECT '{nm}' AS angle, CAST({expr} AS INT) AS offset_idx, "
    f"SUM(value) AS s, COUNT(*) AS n FROM pixels GROUP BY 2"
    for nm, expr in _RADON_AXES
)


@register(
    "radon_projections",
    with_pixel_ctes(
        f"""
        SELECT angle, offset_idx,
               ROUND(1.2345e-8 + s, 4) AS line_sum,
               CAST(n AS BIGINT) AS n_pixels
        FROM ({_RADON_UNION})
        ORDER BY angle, offset_idx
        """
    ),
    tags=("imaging", "transform", "projection"),
)
def radon_projections(spark, sf_dir):
    """DISCRETE RADON TRANSFORM at the four exact lattice angles
    (0/45/90/135 degrees) — line-integral projections (the sinogram
    columns CT reconstruction inverts, and the projection-profile
    signals document-deskew and barcode-localization pipelines use).
    At these angles the line sums are EXACT integer-lattice groupings
    (column x, row y, anti-diagonal y+x, diagonal y-x) — no
    interpolation, so the transform is pure partial-agg arithmetic;
    arbitrary angles would ride [[interp_map_coordinates]]'s resampling
    machinery instead.

    Plan: four groupBys over one scan (Spark shares the cached pixel
    frame across the union branches); each is map-side-combining with
    O(GRID) output rows. The 100 TB form projects per-tile partials
    and sums across tiles — associativity is the whole algorithm."""
    px = pixel_grid(spark, sf_dir)
    out = None
    for nm, expr in _RADON_AXES:
        spark_expr = {
            "x": F.col("x"),
            "y": F.col("y"),
            "y + x": F.col("y") + F.col("x"),
            "y - x": F.col("y") - F.col("x"),
        }[expr]
        br = (
            px.groupBy(spark_expr.cast("int").alias("offset_idx"))
            .agg(
                F.sum("value").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .select(
                F.lit(nm).alias("angle"), "offset_idx",
                _eps_round("s", 4).alias("line_sum"),
                F.col("n").cast("long").alias("n_pixels"),
            )
        )
        out = br if out is None else out.unionAll(br)
    return out.orderBy("angle", "offset_idx")


@register(
    "distance_transform_chessboard",
    with_pixel_ctes(
        """
        SELECT p.y, p.x,
               CAST(MIN(GREATEST(ABS(p.y - m.y), ABS(p.x - m.x))) AS INT)
                 AS dist
        FROM pixels p CROSS JOIN (SELECT y, x FROM mask WHERE m) m
        GROUP BY p.y, p.x
        """,
        extra=None,
    ),
    tags=("imaging", "distance-transform"),
)
def distance_transform_chessboard(spark, sf_dir):
    """EXACT CHESSBOARD (L-inf) DISTANCE TRANSFORM — scipy
    ``distance_transform_cdt(metric='chessboard')``: distance from every
    pixel to the nearest mask pixel under max(|dy|, |dx|), completing
    the metric family next to [[distance_transform_l1]] (taxicab) and
    [[distance_transform_edt]] (Euclidean). L-inf is NOT prefix-min
    separable like L1, but it IS two-phase decomposable (Felzenszwalb/
    Meijster): phase 1 computes per-column vertical L1 distances
    D1(y, x') = min over mask rows of |y - y'| (the same two running-min
    window frames as the L1 transform's 1-D pass); phase 2 takes, per
    row, d(y, x) = min over x' of max(|x - x'|, D1(y, x')) — realized
    here as a bounded per-row candidate join (W=64 candidates/pixel).
    The oracle brute-forces O(pixels x mask) nearest search.

    Plan: phase 1 = one sort per column partition driving both frames
    (two shuffles total, same as L1); phase 2 = self-join on the row
    key — rows are independent hash partitions, W^2 work per row. At a
    100-TB image W is tile width, and the per-row scan drops into
    Meijster's O(W) stack algorithm inside applyInPandas per row-tile;
    the declarative join form is exact at any W, just O(W^2)."""
    from dask_image_spark.functions.pixelgrid import mask_grid

    INF = 1 << 20
    m = mask_grid(spark, sf_dir)
    g = m.select(
        "y", "x", F.when(F.col("m"), 0).otherwise(F.lit(INF)).alias("g")
    )
    fwd_y = Window.partitionBy("x").orderBy("y").rowsBetween(
        Window.unboundedPreceding, 0
    )
    bwd_y = Window.partitionBy("x").orderBy("y").rowsBetween(
        0, Window.unboundedFollowing
    )
    d1 = g.select(
        "y", "x",
        F.least(
            F.min(F.col("g") - F.col("y")).over(fwd_y) + F.col("y"),
            F.min(F.col("g") + F.col("y")).over(bwd_y) - F.col("y"),
        ).alias("d1"),
    )
    cand = d1.select(
        F.col("y").alias("cy"), F.col("x").alias("cx"), "d1"
    )
    out = d1.select("y", "x").join(
        cand, F.col("y") == F.col("cy")
    ).groupBy("y", "x").agg(
        F.min(
            F.greatest(F.abs(F.col("x") - F.col("cx")), F.col("d1"))
        ).cast("int").alias("dist")
    )
    return out


def _grey_open_close_oracle(kind: str) -> str:
    ctes: list[str] = []
    if kind == "open":
        passes = [(_BOX3, "MIN({v})", REFL, 0.0), (_BOX3, "MAX({v})", REFL, 0.0)]
    else:
        passes = [(_BOX3, "MAX({v})", REFL, 0.0), (_BOX3, "MIN({v})", REFL, 0.0)]
    c = _chain(ctes, "goc", "pixels", passes)
    body = (
        f"SELECT y, x, ROUND(1.2345e-8 + value, 4) AS v FROM {c}"
    )
    return with_pixel_ctes(body, extra=ctes)


@register("morph_grey_opening", _grey_open_close_oracle("open"),
          tags=("imaging", "ndmorph", "greyscale"))
def morph_grey_opening(spark, sf_dir):
    """GREY OPENING (scipy ``grey_opening``, flat 3x3): erosion then
    dilation — suppresses bright structures smaller than the element
    while preserving larger geometry (anti-extensive, idempotent). The
    named scipy surface behind [[morph_tophat_white]]'s inner
    composition, graded directly so the opening itself (not just its
    residual) carries oracle evidence. Two chained single-shuffle
    stencils; each pass's groupBy keys equal the next pass's join keys,
    so the second stencil reuses the first's hash partitioning."""
    px = pixel_grid(spark, sf_dir)
    return _round_v(
        ndfilters.maximum_filter(
            _as_value(ndfilters.minimum_filter(px, 3, SHAPE)), 3, SHAPE
        )
    )


@register("morph_grey_closing", _grey_open_close_oracle("close"),
          tags=("imaging", "ndmorph", "greyscale"))
def morph_grey_closing(spark, sf_dir):
    """GREY CLOSING (scipy ``grey_closing``, flat 3x3): dilation then
    erosion — fills dark gaps smaller than the element (extensive,
    idempotent), the dual of [[morph_grey_opening]] and the inner
    composition of [[morph_tophat_black]]. Same two-pass chained
    stencil plan."""
    px = pixel_grid(spark, sf_dir)
    return _round_v(
        ndfilters.minimum_filter(
            _as_value(ndfilters.maximum_filter(px, 3, SHAPE)), 3, SHAPE
        )
    )


def euler_quad_class(nfg: int, diag: int) -> str | None:
    """Gray quad classification SHARED by the engine, the oracle SQL
    (via ``_EULER_QD_COND``, the textual twin of the ``qd`` branch
    here), and the topology Hypothesis test
    (tests/test_round8d_properties.py) — so the three can never drift
    pairwise again (VERDICT r9 item 1: the old ``diag = 2`` condition
    counted only main-diagonal pairs; Gray's formula counts BOTH
    diagonal configurations, and the anti-diagonal pair has diag = 0
    because neither of its pixels sits on the quad's main diagonal;
    adjacent two-pixel quads always have diag = 1, so ``diag IN (0,
    2)`` separates exactly the two diagonal patterns).

    ``nfg`` = foreground pixels in the 2x2 quad, ``diag`` = how many of
    them lie on the quad's main diagonal (offset (0,0) or (1,1))."""
    if nfg == 1:
        return "q1"
    if nfg == 3:
        return "q3"
    if nfg == 2 and diag in (0, 2):
        return "qd"
    return None


_EULER_QD_COND = "nfg = 2 AND diag IN (0, 2)"


@register(
    "measure_euler_number",
    with_pixel_ctes(
        f"""
        SELECT qn,
               CAST(SUM(CASE WHEN nfg = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS q1,
               CAST(SUM(CASE WHEN nfg = 3 THEN 1 ELSE 0 END) AS BIGINT)
                 AS q3,
               CAST(SUM(CASE WHEN {_EULER_QD_COND} THEN 1 ELSE 0 END)
                 AS BIGINT) AS qd,
               ROUND((SUM(CASE WHEN nfg = 1 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN nfg = 3 THEN 1 ELSE 0 END)
                 + 2 * SUM(CASE WHEN {_EULER_QD_COND} THEN 1 ELSE 0 END))
                 / 4.0, 2) AS euler_4,
               ROUND((SUM(CASE WHEN nfg = 1 THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN nfg = 3 THEN 1 ELSE 0 END)
                 - 2 * SUM(CASE WHEN {_EULER_QD_COND} THEN 1 ELSE 0 END))
                 / 4.0, 2) AS euler_8
        FROM (
          SELECT 1 AS qn, qy, qx, COUNT(*) AS nfg,
                 SUM(CASE WHEN (y - qy) = (x - qx) THEN 1 ELSE 0 END) AS diag
          FROM (
            SELECT m.y, m.x, m.y - d.dy AS qy, m.x - d.dx AS qx
            FROM (SELECT y, x FROM mask WHERE m) m
            CROSS JOIN (VALUES (0, 0), (0, 1), (1, 0), (1, 1)) d(dy, dx)) q
          GROUP BY qy, qx) quads
        GROUP BY qn
        """,
        extra=None,
    ),
    tags=("imaging", "ndmeasure", "topology"),
)
def measure_euler_number(spark, sf_dir):
    """EULER NUMBER of the binary mask (skimage ``regionprops.
    euler_number`` / Gray's quad-count algorithm): chi = #components -
    #holes, computed WITHOUT labeling by counting 2x2 quad patterns —
    chi_4 = (Q1 - Q3 + 2 Qd)/4 and chi_8 = (Q1 - Q3 - 2 Qd)/4 (the
    diagonal quad is two components under 4-connectivity, one under
    8 — hence the sign), where
    Q1/Q3 count quads with exactly 1/3 foreground pixels and Qd the
    two-pixel diagonal quads. The topology summary that
    [[label_cc]] + [[morph_fill_holes]] would need a full labeling to
    produce, in ONE scatter-aggregate — the locality argument behind
    every streaming-topology pipeline. Background padding is implicit:
    each fg pixel scatters into its 4 covering quads, so border quads
    simply see fewer pixels.

    Plan: 4-way broadcast scatter of the fg pixels -> ONE partial-agg
    groupBy on quad keys -> ONE 1-row rollup of the pattern counts.
    Two shuffles, both map-side combinable; at 100 TB the quad keys
    inherit the pixel distribution (uniform), and chi adds across
    tiles by inclusion-exclusion of the shared quad columns — the
    tile-able form."""
    from dask_image_spark.functions.localrel import values_df
    from dask_image_spark.functions.pixelgrid import mask_grid

    m = mask_grid(spark, sf_dir).filter(F.col("m")).select("y", "x")
    d = values_df(
        spark, "dy, dx", [(0, 0), (0, 1), (1, 0), (1, 1)]
    )
    quads = (
        m.crossJoin(F.broadcast(d))
        .select(
            "y", "x",
            (F.col("y") - F.col("dy")).alias("qy"),
            (F.col("x") - F.col("dx")).alias("qx"),
        )
        .groupBy("qy", "qx")
        .agg(
            F.count(F.lit(1)).alias("nfg"),
            F.sum(
                F.when(
                    (F.col("y") - F.col("qy")) == (F.col("x") - F.col("qx")),
                    1,
                ).otherwise(0)
            ).alias("diag"),
        )
    )
    q1 = F.sum(F.when(F.col("nfg") == 1, 1).otherwise(0))
    q3 = F.sum(F.when(F.col("nfg") == 3, 1).otherwise(0))
    # BOTH diagonal patterns per euler_quad_class: main diag -> diag=2,
    # anti-diag -> diag=0; adjacent pairs -> diag=1 (excluded).
    qd = F.sum(
        F.when(
            (F.col("nfg") == 2) & F.col("diag").isin(0, 2), 1
        ).otherwise(0)
    )
    return quads.withColumn("qn", F.lit(1)).groupBy("qn").agg(
        q1.cast("long").alias("q1"),
        q3.cast("long").alias("q3"),
        qd.cast("long").alias("qd"),
        F.round((q1 - q3 + 2 * qd) / 4.0, 2).alias("euler_4"),
        F.round((q1 - q3 - 2 * qd) / 4.0, 2).alias("euler_8"),
    )


# SLIC parameters: S = grid interval (16 px -> 16 superpixels on the
# 64x64 fixture), m = compactness weight.
_SLIC_S, _SLIC_M = 16, 10.0


def _slic_oracle() -> str:
    extra = [
        """centers AS (
          SELECT CAST((y // {S}) * 4 + (x // {S}) AS INT) AS c,
                 AVG(CAST(y AS DOUBLE)) AS cy, AVG(CAST(x AS DOUBLE)) AS cx,
                 AVG(value) AS cv
          FROM pixels GROUP BY 1)""".format(S=_SLIC_S),
        """cand AS (
          SELECT p.y, p.x, p.value, ce.c,
                 (p.value - ce.cv) * (p.value - ce.cv)
                 + {MM} / {SS}
                   * ((p.y - ce.cy) * (p.y - ce.cy)
                      + (p.x - ce.cx) * (p.x - ce.cx)) AS d2
          FROM pixels p JOIN centers ce
            ON ABS(p.y // {S} - ce.c // 4) <= 1
           AND ABS(p.x // {S} - ce.c % 4) <= 1)""".format(
            S=_SLIC_S, MM=_SLIC_M * _SLIC_M, SS=float(_SLIC_S * _SLIC_S)),
        """assign AS (
          SELECT y, x, value,
                 MIN_BY(c, ROUND(d2 + 1.2345e-8, 9) * 100 + c) AS c
          FROM cand GROUP BY y, x, value)""",
    ]
    body = """
        SELECT c AS superpixel, CAST(COUNT(*) AS BIGINT) AS n_px,
               ROUND(1.2345e-8 + AVG(CAST(y AS DOUBLE)), 4) AS cy,
               ROUND(1.2345e-8 + AVG(CAST(x AS DOUBLE)), 4) AS cx,
               ROUND(1.2345e-8 + AVG(value), 4) AS mean_v
        FROM assign GROUP BY c ORDER BY c
    """
    return with_pixel_ctes(body, extra=extra)


@register(
    "slic_superpixels_1iter",
    _slic_oracle(),
    tags=("imaging", "segmentation", "slic"),
)
def slic_superpixels_1iter(spark, sf_dir):
    """SLIC SUPERPIXELS, one exact assignment+update iteration — the
    k-means-in-(value, y, x) segmentation (Achanta et al.) with the
    defining locality restriction: each pixel considers ONLY centers
    in its 3x3 grid-block neighborhood (window 2S), so assignment is
    a BLOCKED equi-join like [[dbscan_core_points]]'s eps grid, never
    pixels x all-centers. Distance D^2 = dv^2 + (m^2/S^2) ds^2 with
    the compactness weight as a shared literal; centers initialize as
    block means ([[labeled_grid]]'s 16 blocks) and the argmin ties
    break by (1e-9-rounded D^2, center id) — the
    [[adaboost_2stumps]] model-selection determinism rule. Emits each
    superpixel's size, centroid, and mean intensity after the update
    — iteration 2 would re-run the same two joins.

    Plan: center init is ONE partial agg (16 rows, broadcast); the
    candidate join fans each pixel to <= 9 centers; argmin is one
    min_by groupBy; the update another partial agg. Two fact-scale
    shuffles per iteration, both on pixel keys — at 100 TB the block
    structure keeps candidate lists O(9) regardless of image size."""
    px = pixel_grid(spark, sf_dir)
    centers = px.groupBy(
        (
            F.floor(F.col("y") / _SLIC_S) * 4
            + F.floor(F.col("x") / _SLIC_S)
        ).cast("int").alias("c")
    ).agg(
        F.avg(F.col("y").cast("double")).alias("cy"),
        F.avg(F.col("x").cast("double")).alias("cx"),
        F.avg("value").alias("cv"),
    )
    cand = px.join(
        F.broadcast(centers),
        (
            F.abs(
                F.floor(F.col("y") / _SLIC_S) - F.floor(F.col("c") / 4)
            )
            <= 1
        )
        & (
            F.abs(F.floor(F.col("x") / _SLIC_S) - F.col("c") % 4) <= 1
        ),
    ).select(
        "y", "x", "value", "c",
        (
            (F.col("value") - F.col("cv")) * (F.col("value") - F.col("cv"))
            + (_SLIC_M * _SLIC_M / float(_SLIC_S * _SLIC_S))
            * (
                (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy"))
                + (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
            )
        ).alias("d2"),
    )
    assign = cand.groupBy("y", "x", "value").agg(
        F.expr(
            "min_by(c, round(d2 + 1.2345e-8, 9) * 100 + c)"
        ).alias("c")
    )
    return (
        assign.groupBy(F.col("c").alias("superpixel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_px"),
            _eps_round(F.avg(F.col("y").cast("double")), 4).alias("cy"),
            _eps_round(F.avg(F.col("x").cast("double")), 4).alias("cx"),
            _eps_round(F.avg("value"), 4).alias("mean_v"),
        )
        .orderBy("superpixel")
    )


def _seam_oracle() -> str:
    """Unrolled DP oracle: energy = |horizontal gradient|; row r's CTE
    holds the 64 cumulative-min seam costs ending at (r, x). 63 chained
    64-row self-joins — the [[dtw_alignment_distance]] unroll pattern
    on the image's row axis."""
    ctes = [
        """e AS MATERIALIZED (
          SELECT p.y, p.x,
                 ABS(p.value - COALESCE(q.value, p.value)) AS en
          FROM pixels p LEFT JOIN pixels q
            ON q.y = p.y AND q.x = p.x + 1)""",
        "m0 AS MATERIALIZED (SELECT x, en AS cost FROM e WHERE y = 0)",
    ]
    for r in range(1, 64):
        ctes.append(
            f"""m{r} AS MATERIALIZED (
              SELECT e.x, e.en + MIN(p.cost) AS cost
              FROM e JOIN m{r - 1} p ON ABS(p.x - e.x) <= 1
              WHERE e.y = {r} GROUP BY e.x, e.en)"""
        )
    body = """
        SELECT x AS bottom_x, ROUND(1.2345e-8 + cost, 4) AS seam_cost
        FROM m63 ORDER BY bottom_x
    """
    return with_pixel_ctes(body, extra=ctes)


@register(
    "seam_carving_dp",
    _seam_oracle(),
    tags=("imaging", "dp", "arrow-udf"),
)
def seam_carving_dp(spark, sf_dir):
    """SEAM CARVING cost table (Avidan-Shamir content-aware resizing):
    the vertical-seam DP M(y, x) = e(y, x) + min(M(y-1, x-1..x+1))
    over the |horizontal-gradient| energy, emitting the full bottom
    row — the minimum over it is the seam the resize would remove,
    and every per-column cost grades the whole DP table's last
    anti-chain. ENGINE: the literal row sweep in ONE Arrow group
    (the [[dtw_alignment_distance]] posture — distribute across
    images, never across DP cells); ORACLE: 63 chained MATERIALIZED 64-row
    min-join CTEs, the row-unrolled materialization of the same
    recurrence.

    Plan: energy is one self-join stencil (shift by 1 in x); the DP
    runs inside applyInPandas per image — at a 100-TB image corpus
    seams parallelize across images/strips exactly like the R2 tile
    family, with strip-boundary stitching the known extension."""
    import numpy as np  # noqa: F401

    px = pixel_grid(spark, sf_dir)
    right = px.select(
        F.col("y").alias("ry"),
        (F.col("x") - 1).alias("rx"),
        F.col("value").alias("rv"),
    )
    e = (
        px.join(
            right,
            (F.col("y") == F.col("ry")) & (F.col("x") == F.col("rx")),
            "left",
        )
        .select(
            "y", "x",
            F.abs(
                F.col("value") - F.coalesce("rv", F.col("value"))
            ).alias("en"),
        )
    )

    def sweep(pdf):
        import numpy as np
        import pandas as pd

        grid = np.zeros((64, 64))
        grid[pdf["y"].to_numpy(), pdf["x"].to_numpy()] = pdf[
            "en"
        ].to_numpy()
        m = grid[0].copy()
        for r in range(1, 64):
            prev = np.minimum(
                np.minimum(
                    np.roll(m, 1), m
                ),
                np.roll(m, -1),
            )
            # roll wraps — endpoints must only see their 2 real neighbors
            prev[0] = min(m[0], m[1])
            prev[-1] = min(m[-2], m[-1])
            m = grid[r] + prev
        return pd.DataFrame({"bottom_x": np.arange(64), "seam_cost": m})

    out = (
        e.withColumn("img", F.lit(0))
        .groupBy("img")
        .applyInPandas(sweep, "bottom_x int, seam_cost double")
    )
    return out.select(
        "bottom_x", _eps_round("seam_cost", 4).alias("seam_cost")
    ).orderBy("bottom_x")
