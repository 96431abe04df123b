"""Stencil filters over the R1 pixel table — the ``dask_image.ndfilters``
surface re-expressed as one rank-generic join template.

Reference shape (upstream ``dask_image/ndfilters/``): every filter normalizes
its arguments then runs ``image.map_overlap(scipy_fn, depth, boundary)`` —
a halo exchange plus a per-chunk scipy call, for arrays of any rank. The
Spark-first equivalent for long-form pixels is **pad-then-scatter**:

    padded  = pixels exploded into their pad copies, per axis  -- no shuffle;
              border replication is O(surface * radius), dask's halo
    scatter = padded CROSS JOIN broadcast(kernel offsets)      -- no shuffle
              target coord = padded coord - offset, filter in-bounds
    GROUP BY target coord                                      -- ONE shuffle

One template serves every rank: a rank-N image has the coordinate columns
:func:`axis_names` (N) and its kernel offsets are ``(d_0, ..., d_{N-1}, w)``.
Physical plan: the padding is one Generate per padded axis over a single
scan of the pixel table, and the kernel fan-out is a literal-array inline;
neither joins nor unions. The only exchange in the whole stencil is the
final aggregate, and map-side partial aggregation applies to
SUM/MIN/MAX/AVG. (A gather formulation — join the fanned-out neighbor
coords back against the pixel table — shuffles the kernel-times-fanned
side AND the probe side; scatter moves the same fan-out through exactly
one shuffle, which is the difference at 100 TB.) Separable filters (Gaussian, uniform, prewitt/sobel) are applied
as per-axis 1-D passes exactly like the reference; each pass pads only the
axis it filters.

Boundary modes are shared-text SQL remaps (``functions.boundary``), so the
DuckDB oracle and this engine cannot disagree on edge semantics.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dask_image_spark.functions import kernels as K
from dask_image_spark.functions.boundary import remap_py

# Coordinate column names by rank: a rank-N pixel table carries the trailing
# N of these (2-D: y, x; 3-D: z, y, x; 4-D: t, z, y, x).
AXES = ("t", "z", "y", "x")


def axis_names(rank: int) -> tuple[str, ...]:
    """Coordinate columns of a rank-``rank`` pixel table."""
    if not 1 <= rank <= len(AXES):
        raise ValueError(f"rank {rank} outside 1..{len(AXES)}")
    return AXES[len(AXES) - rank:]


def _kernel_inline(offsets: Sequence[tuple], coords: Sequence[str]) -> Column:
    """Kernel fan-out as ``inline(array(struct...))`` — a literal-array
    explode that stays inside WholeStageCodegen, ~25% faster than a
    broadcast-nested-loop cross join against a kernel table. ``ko`` is the
    offset's ordinal, used by generic_filter to present window values in
    kernel (raster) order; ``d<coord>`` is the offset along that axis."""
    structs = [
        F.struct(
            F.lit(i).alias("ko"),
            *[F.lit(int(d)).alias(f"d{c}") for c, d in zip(coords, off[:-1])],
            F.lit(float(off[-1])).alias("w"),
        )
        for i, off in enumerate(offsets)
    ]
    return F.inline(F.array(*structs))


def _pad_pairs(n: int, r: int, mode: str) -> list[tuple[int, int]]:
    """(src, pad) pairs: padded coordinate ``pad`` outside [0, n) reads the
    in-range source coordinate ``src`` under the boundary mode."""
    coords = list(range(-r, 0)) + list(range(n, n + r))
    return [(remap_py(c, n, mode), c) for c in coords]


def _pad_explode(c: str, pairs: list[tuple[int, int]]) -> Column:
    """One padded axis as a generator: each source coordinate ``s`` emits
    itself plus every pad coordinate that reads it, any other coordinate
    emits only itself. A source can feed several pads (nearest's edge
    feeds all r of them; reflect/wrap at r >= n/2 feed both sides)."""
    pads: dict[int, list[int]] = {}
    for s, p in pairs:
        pads.setdefault(s, []).append(p)
    arms = " ".join(
        f"WHEN {s} THEN array({c}, {', '.join(map(str, ps))})"
        for s, ps in sorted(pads.items())
    )
    return F.expr(f"explode(CASE {c} {arms} ELSE array({c}) END)").alias(c)


def padded_pixels(
    px: DataFrame,
    radii: Sequence[int],
    shape: Sequence[int],
    mode: str,
    cval: float,
    coords: Sequence[str],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Pixels extended to the halo box [-r_i, n_i + r_i) on every axis i;
    returns ``*keys, *coords, _pv``. Axes with radius 0 are not padded.

    Non-constant modes: one projection per padded axis that explodes each
    pixel into itself plus the pad coordinates it sources on that axis
    (:func:`_pad_explode`; the Spark analog of dask's halo exchange). A pad
    position reads exactly one source per axis, independently, so the
    chained explodes emit the per-axis product: corners come out of the
    second axis exploding the first axis's pad rows. One scan, no join, no
    union, no shuffle.
    Constant mode: ``cval`` strips built from ``spark.range`` cross joins —
    coordinate generation only, no data scan, O(surface * radius) rows.
    """
    keys = list(keys)
    coords = list(coords)
    spark = px.sparkSession
    body = px.select(*keys, *coords, F.col("value").alias("_pv"))
    axes = [i for i, r in enumerate(radii) if r > 0]
    if not axes:
        return body

    if mode == "constant":
        vtype = px.schema["value"].dataType.simpleString()
        fill = F.lit(cval).cast(vtype).alias("_pv")

        def _rng(lo, hi, name):
            return spark.range(lo, hi).select(F.col("id").cast("int").alias(name))

        # The padded box minus the body splits into one disjoint strip per
        # padded axis i: axis i out of range, the axes before it in range,
        # the axes after it over their full padded range (a point belongs to
        # the strip of its FIRST out-of-range axis). N strips, not 2^N - 1.
        strips = None
        for i in axes:
            strip = None
            for j, (c, n, r) in enumerate(zip(coords, shape, radii)):
                if j < i:
                    seg = _rng(0, n, c)
                elif j == i:
                    seg = _rng(-r, 0, c).union(_rng(n, n + r, c))
                else:
                    seg = _rng(-r, n + r, c)
                strip = seg if strip is None else strip.crossJoin(seg)
            strips = strip if strips is None else strips.union(strip)
        if keys:
            strips = px.select(*keys).distinct().crossJoin(strips)
        return body.unionByName(strips.select(*keys, *coords, fill))

    out = body
    for i in axes:
        pad_i = _pad_explode(coords[i], _pad_pairs(shape[i], radii[i], mode))
        out = out.select(
            *keys, *(pad_i if j == i else c for j, c in enumerate(coords)), "_pv"
        )
    return out


def stencil_gather(
    px: DataFrame,
    offsets: Sequence[tuple],
    shape: Sequence[int],
    mode: str = "reflect",
    cval: float = 0.0,
    keys: Sequence[str] = (),
    drop_zero_pad: bool = False,
) -> DataFrame:
    """Neighborhood gather: one row per (output pixel, kernel offset).

    ``offsets`` rows are ``(d_0, ..., d_{N-1}, w)`` with N = ``len(shape)``;
    the coordinate columns are :func:`axis_names` of N. Returns columns
    ``*keys, *coords, ko, w, v`` where ``v`` is the boundary-resolved
    neighbor value. All filter aggregations are GROUP BYs over this.
    Physically it is a scatter — each padded pixel is fanned to the outputs
    that read it (target = coord - offset) — so no join against the pixel
    table is ever needed and the groupBy is the only shuffle. Each axis is
    padded by its own kernel radius, so a separable 1-D pass pads one axis.

    ``drop_zero_pad``: valid ONLY for linear (SUM-like) aggregations with
    ``mode='constant', cval=0`` — out-of-image terms contribute zero, so
    the border rows are omitted instead of materialized. Order-statistic
    aggregations (min/median/rank) must keep them.
    """
    coords = axis_names(len(shape))
    radii = [max(abs(off[i]) for off in offsets) for i in range(len(shape))]
    for i, (r, n) in enumerate(zip(radii, shape)):
        if r >= n:
            raise ValueError(
                f"kernel radius {r} >= image extent {n} on axis {i}: "
                "single-bounce boundary remap would be invalid"
            )
    keys = list(keys)
    if drop_zero_pad and mode == "constant" and cval == 0.0:
        pad = px.select(*keys, *coords, F.col("value").alias("_pv"))
    else:
        pad = padded_pixels(px, radii, shape, mode, cval, coords, keys)
    targets = [(F.col(c) - F.col(f"d{c}")).alias(f"o{c}") for c in coords]
    in_bounds = functools.reduce(
        operator.and_,
        [
            cond
            for c, n in zip(coords, shape)
            for cond in (F.col(f"o{c}") >= 0, F.col(f"o{c}") < n)
        ],
    )
    return (
        pad.select(*keys, *coords, "_pv", _kernel_inline(offsets, coords))
        .select(*keys, *targets, "ko", "w", F.col("_pv").alias("v"))
        .filter(in_bounds)
        .withColumnsRenamed({f"o{c}": c for c in coords})
    )


def _agg_stencil(
    px: DataFrame,
    offsets: Sequence[tuple],
    agg: Column,
    shape: Sequence[int],
    mode: str,
    cval: float,
    keys: Sequence[str],
    drop_zero_pad: bool = False,
) -> DataFrame:
    g = stencil_gather(px, offsets, shape, mode, cval, keys, drop_zero_pad)
    return g.groupBy(*keys, *axis_names(len(shape))).agg(agg.alias("v"))


# --- the public ndfilters surface -------------------------------------------


def correlate(px, weights, shape, mode="reflect", cval=0.0, keys=()):
    """Cross-correlation with an offset kernel (``ndfilters/_conv.py``) at
    any rank: ``weights`` rows are ``(d_0, ..., d_{N-1}, w)`` for an
    N = ``len(shape)`` image.

    constant/cval=0 skips border materialization (zero terms drop out of the
    SUM); requires the kernel to contain the zero offset so every in-bounds
    output keeps at least its self-term row."""
    has_center = any(not any(off[:-1]) for off in weights)
    return _agg_stencil(
        px, weights, F.sum(F.col("v") * F.col("w")), shape, mode, cval, keys,
        drop_zero_pad=has_center,
    )


def convolve(px, weights, shape, mode="reflect", cval=0.0, keys=()):
    """N-D convolution = correlate with the point-reflected kernel."""
    return correlate(px, K.flip(list(weights)), shape, mode, cval, keys)


def shift_origin(offsets, origin):
    """Apply scipy's ``origin=`` window placement to an offset kernel:
    output o reads input ``o + k − (size//2 + origin)``, i.e. every offset
    shifts by −origin per axis (positive origin moves the window left/up —
    the documented scipy convention upstream passes straight through)."""
    oy, ox = origin
    return [(dy - oy, dx - ox, w) for dy, dx, w in offsets]


def uniform_filter(
    px, size=3, shape=None, mode="reflect", cval=0.0, keys=(), origin=(0, 0),
):
    """Moving mean over a box (``ndfilters/_smooth.py``); separable 1-D passes.

    Even ``size`` follows scipy's origin convention (offsets
    ``-(size//2) .. size-1-size//2``), so weights always sum to 1.
    ``origin`` shifts window placement per axis (scipy passthrough).
    """
    taps = [(o, 1.0 / size) for o in K.box_range(size)]
    oy, ox = origin
    ty = [(o - oy, w) for o, w in taps]
    tx = [(o - ox, w) for o, w in taps]
    out = correlate(px, K.taps_to_offsets_1d(ty, 0), shape, mode, cval, keys)
    out = out.withColumnRenamed("v", "value")
    out = correlate(out, K.taps_to_offsets_1d(tx, 1), shape, mode, cval, keys)
    return out


def minimum_filter(
    px, size=3, shape=None, mode="reflect", cval=0.0, keys=(),
    footprint=None, origin=(0, 0),
):
    fp = shift_origin(footprint or K.box_footprint(size), origin)
    return _agg_stencil(px, fp, F.min("v"), shape, mode, cval, keys)


def maximum_filter(
    px, size=3, shape=None, mode="reflect", cval=0.0, keys=(),
    footprint=None, origin=(0, 0),
):
    fp = shift_origin(footprint or K.box_footprint(size), origin)
    return _agg_stencil(px, fp, F.max("v"), shape, mode, cval, keys)


def grey_erosion(px, structure, shape=None, mode="reflect", cval=0.0, keys=()):
    """Non-flat grey erosion (scipy ``grey_erosion(structure=s)``):
    E(p) = min over k of (v(p + k) − s(k)). ``structure`` is an offset
    list [(dy, dx, weight)]; the flat all-zero-weight case degenerates to
    ``minimum_filter``. Same single-shuffle pad-then-scatter plan."""
    return _agg_stencil(
        px, structure, F.min(F.col("v") - F.col("w")), shape, mode, cval, keys
    )


def grey_dilation(px, structure, shape=None, mode="reflect", cval=0.0, keys=()):
    """Non-flat grey dilation (scipy ``grey_dilation(structure=s)``):
    D(p) = max over k of (v(p − k) + s(k)) — reads REFLECTED offsets
    (erosion reads p + k), realized by point-flipping the offset list
    with each weight kept attached, exactly convolve-vs-correlate."""
    return _agg_stencil(
        px, K.flip(structure), F.max(F.col("v") + F.col("w")),
        shape, mode, cval, keys,
    )


def median_filter(px, size=3, shape=None, mode="reflect", cval=0.0, keys=(), footprint=None):
    fp = footprint or K.box_footprint(size)
    return _agg_stencil(px, fp, F.median("v"), shape, mode, cval, keys)


def rank_filter(px, rank, size=3, shape=None, mode="reflect", cval=0.0, keys=(), footprint=None):
    """k-th order statistic in the window (``ndfilters/_order.py``).

    Negative rank counts from the top, as in scipy. Exact (sorted-array
    index), never approximate — the oracle hash-matches.
    """
    fp = footprint or K.box_footprint(size)
    n = len(fp)
    idx = rank if rank >= 0 else n + rank
    agg = F.sort_array(F.collect_list("v")).getItem(idx)
    return _agg_stencil(px, fp, agg, shape, mode, cval, keys)


def percentile_filter(px, percentile, size=3, shape=None, mode="reflect", cval=0.0, keys=(), footprint=None):
    fp = footprint or K.box_footprint(size)
    agg = F.percentile(F.col("v"), F.lit(percentile / 100.0))
    return _agg_stencil(px, fp, agg, shape, mode, cval, keys)


def gaussian_filter(
    px, sigma, order=0, shape=None, mode="reflect", cval=0.0,
    truncate=4.0, keys=(),
):
    """Separable Gaussian (``ndfilters/_gaussian.py``): one 1-D tap pass per
    axis, exactly the reference's structure. ``order`` may be an int or a
    per-axis (order_y, order_x) pair."""
    orders = order if isinstance(order, (tuple, list)) else (order, order)
    sigmas = sigma if isinstance(sigma, (tuple, list)) else (sigma, sigma)
    out = px
    for axis in (0, 1):
        taps = K.gaussian_taps_1d(sigmas[axis], orders[axis], truncate)
        # NOTE (chained-stencil recompute rule, SCALE.md imaging section):
        # pass 2's non-constant padding reads pass 1 once (one scan under
        # the per-axis explode). An operator-internal cache() here was
        # measured a NET LOSS across the suite: it costs ~0.3 s of fixed
        # materialization on every single-reference consumer (edge_canny
        # 2.18 -> 2.50 s) and only pays when the CALLER re-references the
        # smoothed frame several times — which is the caller's knowledge,
        # so the materialization lives at the query level
        # (quickstart_pipeline persists its smoothed frame; see
        # persist_tracked there), exactly like the tfidf postings.
        out = correlate(
            out, K.taps_to_offsets_1d(taps, axis), shape, mode, cval, keys
        ).withColumnRenamed("v", "value")
    return out.withColumnRenamed("value", "v")


def gaussian_gradient_magnitude(px, sigma, shape=None, mode="reflect", cval=0.0, truncate=4.0, keys=()):
    """sqrt(sum_i d_i^2) with d_i the order-1 Gaussian along axis i."""
    gy = gaussian_filter(px, sigma, (1, 0), shape, mode, cval, truncate, keys)
    gx = gaussian_filter(px, sigma, (0, 1), shape, mode, cval, truncate, keys)
    # Both sides are image-scale and explode-derived (the per-axis pad), so
    # the planner's Generate-blind estimate may broadcast one: pin the join.
    j = gy.withColumnRenamed("v", "gy").hint("merge").join(
        gx.withColumnRenamed("v", "gx"), on=[*keys, "y", "x"]
    )
    return j.select(
        *keys, "y", "x",
        F.sqrt(F.col("gy") ** 2 + F.col("gx") ** 2).alias("v"),
    )


def gaussian_laplace(px, sigma, shape=None, mode="reflect", cval=0.0, truncate=4.0, keys=()):
    """Sum of per-axis order-2 Gaussian responses."""
    dyy = gaussian_filter(px, sigma, (2, 0), shape, mode, cval, truncate, keys)
    dxx = gaussian_filter(px, sigma, (0, 2), shape, mode, cval, truncate, keys)
    # Both sides are image-scale and explode-derived (the per-axis pad), so
    # the planner's Generate-blind estimate may broadcast one: pin the join.
    j = dyy.withColumnRenamed("v", "dyy").hint("merge").join(
        dxx.withColumnRenamed("v", "dxx"), on=[*keys, "y", "x"]
    )
    return j.select(*keys, "y", "x", (F.col("dyy") + F.col("dxx")).alias("v"))


def laplace(px, shape=None, mode="reflect", cval=0.0, keys=()):
    """Fixed 5-point discrete Laplacian (``ndfilters/_diff.py``)."""
    return correlate(px, K.LAPLACE, shape, mode, cval, keys)


def sobel(px, axis=-1, shape=None, mode="reflect", cval=0.0, keys=()):
    k = K.SOBEL_X if axis in (-1, 1) else K.SOBEL_Y
    return correlate(px, k, shape, mode, cval, keys)


def prewitt(px, axis=-1, shape=None, mode="reflect", cval=0.0, keys=()):
    k = K.PREWITT_X if axis in (-1, 1) else K.PREWITT_Y
    return correlate(px, k, shape, mode, cval, keys)


def threshold_local(
    px, block_size=3, method="mean", offset=0.0, shape=None,
    mode="reflect", cval=0.0, keys=(), sigma=None,
):
    """Adaptive threshold (``ndfilters/_threshold.py``): value > smoothed - offset."""
    if method == "mean":
        sm = uniform_filter(px, block_size, shape, mode, cval, keys)
    elif method == "median":
        sm = median_filter(px, block_size, shape, mode, cval, keys)
    elif method == "gaussian":
        s = sigma if sigma is not None else (block_size - 1) / 6.0
        sm = gaussian_filter(px, s, 0, shape, mode, cval, keys=keys)
    else:
        raise ValueError(f"unknown method {method!r}")
    # The smoothed side is image-scale and explode-derived (the per-axis
    # pad), so the planner's Generate-blind estimate may broadcast it: pin.
    j = px.hint("merge").join(
        sm.withColumnRenamed("v", "smoothed"), on=[*keys, "y", "x"]
    )
    return j.select(
        *keys, "y", "x",
        (F.col("value") > F.col("smoothed") - F.lit(offset)).alias("v"),
    )


def generic_filter_collect(
    px, fn_udf, size=3, shape=None, mode="reflect", cval=0.0, keys=(), footprint=None,
):
    """Arbitrary function over each window (``ndfilters/_generic.py``).

    The window values are collected into an array ordered by (dy, dx) — the
    same raster order scipy presents — then ``fn_udf`` (a pandas UDF
    array<double> -> double) is applied. This is the windowed-UDF surface;
    inherently weak-oracle.
    """
    fp = footprint or K.box_footprint(size)
    g = stencil_gather(px, fp, shape, mode, cval, keys)
    # collect (kernel-ordinal, value) and sort by ordinal -> raster order
    arr = F.array_sort(
        F.collect_list(F.struct(F.col("ko"), F.col("v")))
    )
    out = g.groupBy(*keys, "y", "x").agg(
        F.transform(arr, lambda s: s["v"]).alias("window")
    )
    return out.select(*keys, "y", "x", fn_udf(F.col("window")).alias("v"))


def generic_filter_tiles(
    px, function, size=3, shape=None, mode="reflect", cval=0.0,
    block: int = 32, keys=(),
):
    """``generic_filter`` with a TRULY arbitrary user callable (upstream
    ``ndfilters/_generic.py::generic_filter``): ``function(window) ->
    float`` receives the raster-ordered (dy, dx) window values as a 1-D
    numpy array — the exact contract scipy gives its ``function``.

    Routed through the R2 chunked fast path (``chunked.map_overlap_tiles``
    = dask's ``map_overlap``): one shuffle assembles (block+2r)^2 tiles
    with halo, then the callable runs per window inside each tile. The
    per-window Python call is inherent to the operator (scipy's own
    ``generic_filter`` is a per-window callback too) — this is the escape
    hatch; every SQL-expressible window fn should use the R1 stencils
    instead.
    """
    import numpy as np

    from dask_image_spark.operators import chunked

    r = size // 2

    def tile_fn(tile):
        from numpy.lib.stride_tricks import sliding_window_view

        win = sliding_window_view(tile, (size, size))
        n0, n1 = win.shape[:2]
        flat = win.reshape(n0, n1, size * size)
        out = np.zeros_like(tile)
        for i in range(n0):
            for j in range(n1):
                out[r + i, r + j] = function(flat[i, j])
        return out

    return chunked.map_overlap_tiles(
        px, tile_fn, shape, depth=r, block=block, mode=mode, cval=cval,
        keys=keys,
    )
