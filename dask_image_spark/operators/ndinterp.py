"""Geometric transforms (the ``dask_image.ndinterp`` surface).

Reference: ``dask_image/ndinterp/__init__.py::affine_transform`` computes,
per output chunk, the inverse-mapped input region and runs scipy's
``affine_transform`` on it. Relationally the same thing is a **gather
join**: each output point carries its fractional source coordinate as an
expression, fans out to the interpolation taps around it through a
broadcast tap table, and equi-joins the pixel table — the only "join-like"
operator the reference has. :func:`map_coordinates` is that one gather for
every order (0 nearest, 1 linear, 2-5 B-spline after the prefilter in
``operators/chunked.py``) and any rank; :func:`affine_transform`,
:func:`rotate` and the zoom / coordinate-list queries only build the
source coordinates.

At scale the gather join shuffles on the computed source coordinate — the
same single-shuffle pattern as the stencils; partition pruning applies when
the transform maps an output partition to a bounded input region.
"""

from __future__ import annotations

import functools
import itertools
import math
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_image_spark.functions.boundary import remap_sql
from dask_image_spark.functions.localrel import values_df
from dask_image_spark.operators.chunked import spline_filter1d
from dask_image_spark.operators.ndfilters import axis_names


def _bspline_weight(u, order: int):
    """Centered cardinal B-spline basis b_n(u) of order 2..5 as a Spark
    expression — the published piecewise polynomials (Unser 1993; the same
    closed forms scipy's ndimage spline code evaluates). Support is
    |u| < (order+1)/2; the tap fan-out below over-covers and relies on the
    weight vanishing outside support."""
    a = F.abs(u)
    if order == 2:
        return (
            F.when(a < 0.5, 0.75 - a * a)
            .when(a < 1.5, F.pow(1.5 - a, F.lit(2.0)) / 2.0)
            .otherwise(F.lit(0.0))
        )
    if order == 3:
        return (
            F.when(a <= 1, 2.0 / 3.0 - a * a + a * a * a / 2.0)
            .when(a < 2, F.pow(2.0 - a, F.lit(3.0)) / 6.0)
            .otherwise(F.lit(0.0))
        )
    if order == 4:
        return (
            F.when(a < 0.5, a * a * (a * a * 0.25 - 0.625) + 115.0 / 192.0)
            .when(
                a < 1.5,
                a * (a * (a * (a * (-1.0 / 6.0) + 5.0 / 6.0) - 1.25) + 5.0 / 24.0)
                + 55.0 / 96.0,
            )
            .when(a < 2.5, F.pow(2.5 - a, F.lit(4.0)) / 24.0)
            .otherwise(F.lit(0.0))
        )
    if order == 5:
        return (
            F.when(a < 1, a * a * (a * a * (0.25 - a / 12.0) - 0.5) + 0.55)
            .when(
                a < 2,
                a * (a * (a * (a * (a / 24.0 - 0.375) + 1.25) - 1.75) + 0.625)
                + 0.425,
            )
            .when(a < 3, F.pow(3.0 - a, F.lit(5.0)) / 120.0)
            .otherwise(F.lit(0.0))
        )
    raise ValueError(f"unsupported spline order {order}")


def bspline_weight_np(u, order: int):
    """Numpy twin of :func:`_bspline_weight` (differential-test reference)."""
    import numpy as np

    a = np.abs(np.asarray(u, dtype=np.float64))
    out = np.zeros_like(a)
    if order == 2:
        m = a < 0.5
        out[m] = 0.75 - a[m] ** 2
        m = (a >= 0.5) & (a < 1.5)
        out[m] = (1.5 - a[m]) ** 2 / 2.0
    elif order == 3:
        m = a <= 1
        out[m] = 2.0 / 3.0 - a[m] ** 2 + a[m] ** 3 / 2.0
        m = (a > 1) & (a < 2)
        out[m] = (2.0 - a[m]) ** 3 / 6.0
    elif order == 4:
        m = a < 0.5
        out[m] = a[m] ** 2 * (a[m] ** 2 * 0.25 - 0.625) + 115.0 / 192.0
        m = (a >= 0.5) & (a < 1.5)
        b = a[m]
        out[m] = (
            b * (b * (b * (b * (-1.0 / 6.0) + 5.0 / 6.0) - 1.25) + 5.0 / 24.0)
            + 55.0 / 96.0
        )
        m = (a >= 1.5) & (a < 2.5)
        out[m] = (2.5 - a[m]) ** 4 / 24.0
    elif order == 5:
        m = a < 1
        out[m] = a[m] ** 2 * (a[m] ** 2 * (0.25 - a[m] / 12.0) - 0.5) + 0.55
        m = (a >= 1) & (a < 2)
        b = a[m]
        out[m] = (
            b * (b * (b * (b * (b / 24.0 - 0.375) + 1.25) - 1.75) + 0.625)
            + 0.425
        )
        m = (a >= 2) & (a < 3)
        out[m] = (3.0 - a[m]) ** 5 / 120.0
    else:
        raise ValueError(f"unsupported spline order {order}")
    return out


def map_coordinates(
    px: DataFrame, coords: DataFrame, shape, *, order: int = 1,
    mode: str = "nearest", cval: float = 0.0, keys=(),
) -> DataFrame:
    """Sample ``px`` (``keys``, axis columns, ``value``) at fractional
    coordinates (upstream ``scipy.ndimage.map_coordinates``).

    ``coords`` carries one fractional source coordinate per axis, named by
    ``ndfilters.axis_names(len(shape))``; every other column (the ``keys``
    among them) is the output's identity and is carried through. Returns
    those identity columns plus ``v``.

    One gather join for every order:

    * base index per axis: ``floor(f + 0.5)`` for order 0, ``floor(f)``
      otherwise;
    * a broadcast table of tap offsets (2 or ``2*(order//2) + 2`` per axis,
      their product over the axes) fans each point out; order 0's one tap
      needs no fan-out;
    * per-axis weights, multiplied in axis order: none for order 0, the
      lerp ``1 - t`` / ``t`` for order 1, the centered B-spline basis for
      orders >= 2 (whose source is the prefiltered coefficient table);
    * ``mode`` remaps each tap's index through the shared ``remap_sql`` text
      (identical on both engines); ``constant`` makes the gather a left join
      with ``coalesce(value, cval)`` — out-of-range reads cost nothing
      extra at scale (absent keys simply don't match);
    * one equi-join on (keys, source index), then one groupBy sum of the
      weighted taps — skipped for order 0's single tap.

    Order-0 rounding is ``floor(v + 0.5)``: a fixed, documented tie rule
    the oracles reproduce exactly. Orders >= 2 need ``mode="mirror"`` (the
    prefilter assumes a whole-sample mirror, single bounce: valid while the
    mapped point stays within one image extent of the border) and rank 2
    (``spline_filter1d`` is 2-D).
    """
    if not 0 <= order <= 5:
        raise ValueError(f"interpolation order {order} outside 0..5")
    if order >= 2 and mode != "mirror":
        raise ValueError(
            f"spline order {order} needs mode='mirror' (the prefilter's "
            f"boundary), got {mode!r}"
        )
    if order >= 2 and len(shape) != 2:
        raise ValueError(
            f"spline order {order} needs a rank-2 image, got shape {shape}"
        )
    keys = list(keys)
    axes = axis_names(len(shape))
    ident = [c for c in coords.columns if c not in axes]
    if order >= 2:
        for axis in (0, 1):
            px = spline_filter1d(
                px, axis=axis, shape=shape, keys=keys, order=order
            ).withColumnRenamed("v", "value")
    base = coords.withColumns(
        {
            f"_{a}0": F.floor(
                (F.col(a) + 0.5) if order == 0 else F.col(a)
            ).cast("int")
            for a in axes
        }
    )
    if order == 0:
        # one tap: no fan-out join, so no broadcast (and its job) either
        fan = base.withColumns({f"_c{a}": F.lit(0) for a in axes})
    else:
        # Orders >= 2 over-cover the basis support (weights vanish outside
        # it), so one window serves both even and odd orders.
        offs = range(2) if order == 1 else range(-(order // 2), order // 2 + 2)
        taps = values_df(
            px.sparkSession, ", ".join(f"_c{a}" for a in axes),
            list(itertools.product(offs, repeat=len(axes))),
        )
        wgts = []
        for a in axes:
            f, f0, c = F.col(a), F.col(f"_{a}0"), F.col(f"_c{a}")
            if order == 1:
                t = f - F.floor(f)
                wgts.append(F.when(c == 0, 1 - t).otherwise(t))
            else:
                wgts.append(_bspline_weight(f - (f0 + c), order))
        fan = base.crossJoin(F.broadcast(taps)).withColumn(
            "_w", functools.reduce(operator.mul, wgts)
        )
    fan = fan.withColumns(
        {
            f"_s{a}": F.expr(remap_sql(f"_{a}0 + _c{a}", n, mode)).cast("int")
            for a, n in zip(axes, shape)
        }
    )
    src = px.select(
        *keys, *(F.col(a).alias(f"_s{a}") for a in axes),
        F.col("value").alias("_v"),
    )
    on = [*keys, *(f"_s{a}" for a in axes)]
    if mode == "constant":
        j = fan.join(src, on=on, how="left")
        val = F.coalesce(F.col("_v"), F.lit(float(cval)))
    else:
        j = fan.join(src, on=on)
        val = F.col("_v")
    if order == 0:
        return j.select(*ident, val.alias("v"))
    return j.groupBy(*ident).agg(F.sum(F.col("_w") * val).alias("v"))


def affine_transform(
    px: DataFrame, matrix, offset, shape, *, order: int = 1,
    mode: str = "nearest", cval: float = 0.0, keys=(),
) -> DataFrame:
    """``affine_transform`` (upstream ``ndinterp/__init__.py``, any rank):
    output pixel ``o`` samples the source at ``matrix @ o + offset`` through
    :func:`map_coordinates`, over the output grid of ``px`` itself. Returns
    (``keys``, axis columns, ``v``)."""
    keys = list(keys)
    axes = axis_names(len(shape))
    src = [
        functools.reduce(
            operator.add,
            [F.lit(float(m)) * F.col(b) for m, b in zip(row, axes)],
        ) + F.lit(float(o))
        for row, o in zip(matrix, offset)
    ]
    coords = px.select(
        *keys, *(F.col(a).alias(f"_o{a}") for a in axes),
        *(s.alias(a) for s, a in zip(src, axes)),
    )
    out = map_coordinates(
        px, coords, shape, order=order, mode=mode, cval=cval, keys=keys
    )
    return out.select(*keys, *(F.col(f"_o{a}").alias(a) for a in axes), "v")


def rotate(px: DataFrame, angle_deg: float, shape, keys=()) -> DataFrame:
    """Arbitrary-angle rotation about the image center, reshape=False
    (``ndinterp/__init__.py::rotate``): build the inverse-map matrix
    source = R @ (out - c) + c and delegate to the bilinear affine gather."""
    h, w = shape
    th = math.radians(angle_deg)
    cos_t, sin_t = math.cos(th), math.sin(th)
    cy, cx = (h - 1) / 2.0, (w - 1) / 2.0
    matrix = [[cos_t, sin_t], [-sin_t, cos_t]]
    offset = (
        cy - cos_t * cy - sin_t * cx,
        cx + sin_t * cy - cos_t * cx,
    )
    return affine_transform(px, matrix, offset, shape, order=1, keys=keys)


def rotate90(px: DataFrame, shape, keys=()) -> DataFrame:
    """90-degree rotation (``ndinterp.rotate`` square reshape=False case):
    scatter (y, x) -> (x, H-1-y), i.e. out[y, x] = in[H-1-x, y] — a pure
    coordinate permutation, no resampling, exact. This is the axes=(0,1)
    direction; the opposite rotation is its transpose."""
    h, _ = shape
    return px.select(
        *keys,
        F.col("x").alias("_oy"),
        (F.lit(h - 1) - F.col("y")).alias("_ox"),
        F.col("value").alias("v"),
    ).select(*keys, F.col("_oy").alias("y"), F.col("_ox").alias("x"), "v")


def shift_wrap(px: DataFrame, shift, shape, keys=()) -> DataFrame:
    """Integer circular shift — the spatial-domain equivalent of
    ``ndfourier.fourier_shift`` (exact for integer shifts): out[y, x] =
    in[(y - sy) mod H, (x - sx) mod W]."""
    sy, sx = shift
    h, w = shape
    return px.select(
        *keys,
        F.pmod(F.col("y") + F.lit(int(sy)), F.lit(h)).cast("int").alias("_oy"),
        F.pmod(F.col("x") + F.lit(int(sx)), F.lit(w)).cast("int").alias("_ox"),
        F.col("value").alias("v"),
    ).select(*keys, F.col("_oy").alias("y"), F.col("_ox").alias("x"), "v")
