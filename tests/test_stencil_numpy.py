"""Differential tests of the stencil engine against direct numpy evaluation
— the reference's exact test pattern (random array, library op vs oracle op,
elementwise compare; upstream sweeps shapes x chunks x modes the same way),
with numpy padding playing scipy's role."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from dask_image_spark.functions import kernels as K
from dask_image_spark.functions.localrel import values_df
from dask_image_spark.operators import ndfilters, ndmorph

H, W = 12, 10
RNG = np.random.default_rng(7)
IMG = np.round(RNG.uniform(-5, 5, size=(H, W)), 3)

NP_PAD_MODE = {
    "reflect": "symmetric",  # scipy 'reflect' == numpy 'symmetric'
    "mirror": "reflect",  # scipy 'mirror'  == numpy 'reflect'
    "nearest": "edge",
    "wrap": "wrap",
}


def _px(spark):
    rows = [
        (int(y), int(x), float(IMG[y, x])) for y in range(H) for x in range(W)
    ]
    return values_df(spark, "y, x, value", rows)


def _collect_grid(df):
    out = np.full((H, W), np.nan)
    for r in df.collect():
        out[r["y"], r["x"]] = r["v"]
    return out


def _np_correlate(img, offsets, mode, cval=0.0):
    r = max(max(abs(dy), abs(dx)) for dy, dx, _ in offsets)
    if mode == "constant":
        pad = np.pad(img, r, mode="constant", constant_values=cval)
    else:
        pad = np.pad(img, r, mode=NP_PAD_MODE[mode])
    out = np.zeros_like(img, dtype=float)
    for dy, dx, w in offsets:
        out += w * pad[r + dy : r + dy + H, r + dx : r + dx + W]
    return out


KERNEL = [(-1, -1, 0.25), (-1, 1, -0.5), (0, 0, 1.0), (1, 0, 0.125), (1, 1, 2.0)]


@pytest.mark.parametrize("mode", ["reflect", "mirror", "nearest", "wrap", "constant"])
def test_correlate_matches_numpy(spark, mode):
    got = _collect_grid(
        ndfilters.correlate(_px(spark), KERNEL, (H, W), mode=mode, cval=1.5)
    )
    want = _np_correlate(IMG, KERNEL, mode, cval=1.5)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


@pytest.mark.parametrize("mode", ["reflect", "constant"])
def test_maximum_filter_matches_numpy(spark, mode):
    fp = [(dy, dx, 1.0) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    got = _collect_grid(
        ndfilters.maximum_filter(_px(spark), 3, (H, W), mode=mode, cval=-99.0)
    )
    r = 1
    if mode == "constant":
        pad = np.pad(IMG, r, mode="constant", constant_values=-99.0)
    else:
        pad = np.pad(IMG, r, mode=NP_PAD_MODE[mode])
    want = np.max(
        np.stack([
            pad[r + dy : r + dy + H, r + dx : r + dx + W] for dy, dx, _ in fp
        ]),
        axis=0,
    )
    np.testing.assert_allclose(got, want)


def test_uniform_separable_equals_full_box(spark):
    """Two separable 1-D mean passes == the full 3x3 box (wrap mode makes
    the passes commute exactly through the boundary)."""
    sep = _collect_grid(
        ndfilters.uniform_filter(_px(spark), 3, (H, W), mode="wrap")
    )
    box = [(dy, dx, 1.0 / 9.0) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    full = _np_correlate(IMG, box, "wrap")
    np.testing.assert_allclose(sep, full, rtol=1e-9, atol=1e-9)


def test_uniform_even_size_scipy_origin(spark):
    """Even size=4 follows scipy's origin convention: offsets -2..1 per axis
    and weights summing to exactly 1 (ADVICE r1: even sizes used to widen to
    size+1 silently)."""
    sep = _collect_grid(
        ndfilters.uniform_filter(_px(spark), 4, (H, W), mode="wrap")
    )
    box = [(dy, dx, 1.0 / 16.0) for dy in (-2, -1, 0, 1) for dx in (-2, -1, 0, 1)]
    full = _np_correlate(IMG, box, "wrap")
    np.testing.assert_allclose(sep, full, rtol=1e-9, atol=1e-9)


def test_minimum_filter_even_size_matches_numpy(spark):
    got = _collect_grid(
        ndfilters.minimum_filter(_px(spark), 2, (H, W), mode="wrap")
    )
    pad = np.pad(IMG, 2, mode="wrap")
    want = np.min(
        np.stack([
            pad[2 + dy : 2 + dy + H, 2 + dx : 2 + dx + W]
            for dy in (-1, 0) for dx in (-1, 0)
        ]),
        axis=0,
    )
    np.testing.assert_allclose(got, want)


def test_binary_erosion_dilation_duality(spark):
    """erosion(mask) == NOT dilation(NOT mask) for a symmetric structure with
    matching border values — the fundamental morphology identity."""
    mask = IMG > 0
    rows = [(int(y), int(x), bool(mask[y, x])) for y in range(H) for x in range(W)]
    mdf = values_df(spark, "y, x, m", rows)
    ero = _collect_grid(
        ndmorph.binary_erosion(mdf, shape=(H, W), border_value=True)
        .select("y", "x", F.col("m").alias("v"))
    )
    inv = values_df(
        spark, "y, x, m",
        [(int(y), int(x), bool(~mask[y, x])) for y in range(H) for x in range(W)],
    )
    dil = _collect_grid(
        ndmorph.binary_dilation(inv, shape=(H, W), border_value=False)
        .select("y", "x", F.col("m").alias("v"))
    )
    np.testing.assert_array_equal(ero.astype(bool), ~dil.astype(bool))


@pytest.mark.parametrize(
    "rank, mode, n_img",
    [
        pytest.param(3, "reflect", 0, id="reflect"),
        pytest.param(3, "wrap", 0, id="wrap"),
        pytest.param(3, "nearest", 0, id="nearest"),
        pytest.param(3, "constant", 0, id="constant"),
        pytest.param(4, "reflect", 0, id="4d-reflect"),
        pytest.param(4, "constant", 0, id="4d-constant"),
        *(
            pytest.param(2, m, 2, id=f"keyed-{m}")
            for m in ("reflect", "mirror", "nearest", "wrap")
        ),
    ],
)
def test_correlate_nd_3d_matches_numpy(spark, rank, mode, n_img):
    """Rank-2, rank-3 and rank-4 differential: the rank-generic
    ``correlate`` vs dense numpy padding (constant mode with nonzero cval
    covers the N disjoint constant pad strips). ``n_img`` > 0 stacks that
    many different images under an ``img`` key, so the per-axis pad runs
    with ``keys`` and must keep every image's halo to its own pixels."""
    D = {2: 6, 3: 6, 4: 4}[rank]
    rng = np.random.default_rng(5)
    vols = np.round(rng.uniform(-2, 2, size=(max(n_img, 1),) + (D,) * rank), 3)
    coords = ndfilters.axis_names(rank)
    keys = ["img"] if n_img else []
    rows = [
        (*((i,) if n_img else ()), *map(int, idx), float(vols[i][idx]))
        for i in range(len(vols)) for idx in np.ndindex(vols[i].shape)
    ]
    px = values_df(spark, ", ".join([*keys, *coords, "value"]), rows)
    k = [(0,) * rank + (-2.0 * rank,)]
    for axis in range(rank):
        for d in (-1, 1):
            off = [0] * rank
            off[axis] = d
            k.append((*off, 1.0))
    got = np.full(vols.shape, np.nan)
    res = ndfilters.correlate(
        px, k, (D,) * rank, mode=mode, cval=1.25, keys=keys
    )
    for r in res.collect():
        got[(r["img"] if n_img else 0, *(r[c] for c in coords))] = r["v"]
    for vol, got_vol in zip(vols, got):
        if mode == "constant":
            pad = np.pad(vol, 1, mode="constant", constant_values=1.25)
        else:
            pad = np.pad(vol, 1, mode=NP_PAD_MODE[mode])
        want = np.zeros_like(vol)
        for *off, w in k:
            want += w * pad[tuple(slice(1 + d, 1 + d + D) for d in off)]
        np.testing.assert_allclose(got_vol, want, rtol=1e-9, atol=1e-9)


def test_separable_pass_pads_only_its_axis(spark, monkeypatch):
    """A 1-D y-pass pads y alone: (H + 2r) * W padded rows, no x halo."""
    taps = K.gaussian_taps_1d(1.0, 0, 4.0)
    r = max(abs(o) for o, _ in taps)
    padded = []
    real = ndfilters.padded_pixels

    def spy(*args, **kwargs):
        padded.append(real(*args, **kwargs))
        return padded[-1]

    monkeypatch.setattr(ndfilters, "padded_pixels", spy)
    ndfilters.correlate(_px(spark), K.taps_to_offsets_1d(taps, 0), (H, W))
    assert padded[0].count() == (H + 2 * r) * W
