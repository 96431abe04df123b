"""Differential tests of the affine gather (``ndinterp.affine_transform`` over
``ndinterp.map_coordinates``): Spark vs one dense numpy implementation of
the identical spec — IIR prefilter per axis for orders >= 2, the order's
tap window and weights, ``remap_py`` (or ``cval``) for out-of-range taps —
over order, boundary mode and rank. Upstream tests affine_transform orders
the same way against scipy.ndimage."""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from dask_image_spark.functions.boundary import MODES, remap_py
from dask_image_spark.functions.localrel import values_df
from dask_image_spark.operators import chunked, ndinterp
from dask_image_spark.operators.ndfilters import axis_names

H, W = 14, 11
RNG = np.random.default_rng(21)
IMG = np.round(RNG.uniform(-3, 3, size=(H, W)), 3)
IMG3 = np.round(RNG.uniform(-3, 3, size=(4, 5, 6)), 3)

# Transforms whose source points leave the grid on both sides of every
# axis (within the single-bounce domain -n < c < 2n), so each mode's
# out-of-range branches are exercised.
OUT_OF_RANGE = {
    2: ([[1.2, 0.15], [-0.1, 1.25]], (-2.3, -1.6)),
    3: (
        [[1.2, 0.1, 0.0], [0.0, 1.3, -0.1], [0.1, 0.0, 1.3]],
        (-0.6, -0.8, -0.9),
    ),
}


def _px(spark, img=IMG):
    rows = [(*map(int, o), float(img[o])) for o in np.ndindex(img.shape)]
    cols = ", ".join(axis_names(img.ndim))
    return values_df(spark, f"{cols}, value", rows)


def _np_affine(img, matrix, offset, order, mode="mirror", cval=0.0):
    """Dense numpy reference for any order 0-5, mode and rank: source point
    ``matrix @ o + offset`` (summed in the operator's term order, so order
    0's ``floor(f + 0.5)`` ties round alike), the order's tap window around
    ``floor(f + 0.5)`` / ``floor(f)``, lerp or B-spline weights, and
    out-of-range taps remapped by ``remap_py`` or read as ``cval``."""
    c = img.astype(float)
    if order >= 2:
        for axis in range(img.ndim):
            c = np.apply_along_axis(
                lambda l: chunked.spline_filter1d_np(l, order=order), axis, c
            )
    taps = range(order + 1) if order <= 1 else range(-(order // 2), order // 2 + 2)
    out = np.zeros(img.shape)
    for o in np.ndindex(img.shape):
        f = []
        for row, off in zip(matrix, offset):
            acc = row[0] * o[0]
            for m, oi in zip(row[1:], o[1:]):
                acc = acc + m * oi
            f.append(acc + off)
        base = [int(np.floor(fi + 0.5 if order == 0 else fi)) for fi in f]
        total = 0.0
        for tap in itertools.product(taps, repeat=img.ndim):
            wgt = 1.0
            for fi, b, t in zip(f, base, tap):
                if order == 1:
                    wgt *= 1 - (fi - b) if t == 0 else fi - b
                elif order >= 2:
                    wgt *= float(ndinterp.bspline_weight_np(fi - (b + t), order))
            if wgt == 0.0:
                continue
            idx = [b + t for b, t in zip(base, tap)]
            if mode == "constant":
                inside = all(0 <= i < n for i, n in zip(idx, img.shape))
                v = c[tuple(idx)] if inside else cval
            else:
                v = c[tuple(remap_py(i, n, mode) for i, n in zip(idx, img.shape))]
            total += wgt * v
        out[o] = total
    return out


def _grid(df, shape=(H, W)):
    axes = axis_names(len(shape))
    out = np.full(shape, np.nan)
    for r in df.collect():
        out[tuple(r[a] for a in axes)] = r["v"]
    return out


@pytest.mark.parametrize(
    "matrix,offset",
    [
        ([[1.0, 0.0], [0.0, 1.0]], (0.0, 0.0)),  # identity -> reconstruction
        ([[0.7, 0.0], [0.0, 0.7]], (2.5, 5.25)),  # zoom + translate
        ([[0.9, 0.2], [-0.15, 0.85]], (1.0, -0.5)),  # full 2x2 with shear
    ],
)
def test_affine_order3_matches_numpy(spark, matrix, offset):
    got = _grid(
        ndinterp.affine_transform(
            _px(spark), matrix, offset, (H, W), order=3, mode="mirror"
        )
    )
    want = _np_affine(IMG, matrix, offset, 3)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


def test_affine_order3_identity_reconstructs(spark):
    got = _grid(
        ndinterp.affine_transform(
            _px(spark), [[1.0, 0.0], [0.0, 1.0]], (0.0, 0.0), (H, W),
            order=3, mode="mirror",
        )
    )
    np.testing.assert_allclose(got, IMG, rtol=1e-9, atol=1e-9)


@pytest.mark.parametrize("order", [2, 4, 5])
@pytest.mark.parametrize(
    "matrix,offset",
    [
        ([[1.0, 0.0], [0.0, 1.0]], (0.0, 0.0)),  # identity -> reconstruction
        ([[0.9, 0.2], [-0.15, 0.85]], (1.0, -0.5)),  # full 2x2 with shear
    ],
)
def test_affine_spline_orders_match_numpy(spark, order, matrix, offset):
    got = _grid(
        ndinterp.affine_transform(
            _px(spark), matrix, offset, (H, W), order=order, mode="mirror"
        )
    )
    want = _np_affine(IMG, matrix, offset, order)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)
    if matrix == [[1.0, 0.0], [0.0, 1.0]] and offset == (0.0, 0.0):
        np.testing.assert_allclose(got, IMG, rtol=1e-8, atol=1e-8)


@pytest.mark.parametrize("order", [0, 1])
@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("rank", [2, 3])
def test_affine_orders01_match_numpy(spark, rank, mode, order):
    img = IMG if rank == 2 else IMG3
    matrix, offset = OUT_OF_RANGE[rank]
    got = _grid(
        ndinterp.affine_transform(
            _px(spark, img), matrix, offset, img.shape, order=order,
            mode=mode, cval=1.5,
        ),
        img.shape,
    )
    want = _np_affine(img, matrix, offset, order, mode, cval=1.5)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


def test_map_coordinates_rejects_order_outside_0_5():
    for order in (-1, 6):
        with pytest.raises(ValueError, match="outside 0..5"):
            ndinterp.map_coordinates(None, None, (H, W), order=order)


def test_map_coordinates_spline_needs_mirror():
    with pytest.raises(ValueError, match="mirror"):
        ndinterp.map_coordinates(None, None, (H, W), order=3, mode="nearest")


def test_map_coordinates_spline_needs_rank2():
    with pytest.raises(ValueError, match="rank-2"):
        ndinterp.map_coordinates(
            None, None, (4, 5, 6), order=2, mode="mirror"
        )
