"""Property-based differential test: random grids x random kernels x random
boundary modes, engine vs dense numpy. Catches interaction bugs a fixed
fixture can't (the mirror-halo bug class). Kept to a handful of examples —
each runs a Spark job."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dask_image_spark.functions.localrel import values_df
from dask_image_spark.operators import ndfilters

H, W = 9, 7

NP_PAD_MODE = {
    "reflect": "symmetric",
    "mirror": "reflect",
    "nearest": "edge",
    "wrap": "wrap",
}


@st.composite
def kernels(draw):
    n = draw(st.integers(min_value=1, max_value=5))
    offs = draw(
        st.lists(
            st.tuples(
                st.integers(-2, 2), st.integers(-2, 2),
                st.integers(-4, 4).map(lambda v: v / 2.0),
            ),
            min_size=n, max_size=n,
            unique_by=lambda t: (t[0], t[1]),
        )
    )
    return offs


@st.composite
def kernels_3d(draw):
    n = draw(st.integers(min_value=1, max_value=4))
    offs = draw(
        st.lists(
            st.tuples(
                st.integers(-1, 1), st.integers(-1, 1), st.integers(-1, 1),
                st.integers(-4, 4).map(lambda v: v / 2.0),
            ),
            min_size=n, max_size=n,
            unique_by=lambda t: (t[0], t[1], t[2]),
        )
    )
    return offs


@settings(
    max_examples=4, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    kernel=kernels_3d(),
    mode=st.sampled_from(["reflect", "nearest", "wrap", "constant"]),
)
def test_correlate_nd_3d_random(spark, seed, kernel, mode):
    """Rank-3 property sweep: random volumes x random kernels x modes —
    the N-D pad-scatter (incl. the round-2 constant strips) vs dense numpy."""
    D = 5
    rng = np.random.default_rng(seed)
    vol = np.round(rng.uniform(-2, 2, size=(D, D, D)), 3)
    rows = [
        (z, y, x, float(vol[z, y, x]))
        for z in range(D) for y in range(D) for x in range(D)
    ]
    px = values_df(spark, "z, y, x, value", rows)
    got = np.full((D, D, D), np.nan)
    res = ndfilters.correlate(px, kernel, (D, D, D), mode=mode, cval=0.75)
    for r in res.collect():
        got[r["z"], r["y"], r["x"]] = r["v"]

    rad = max(max(abs(o) for o in k[:3]) for k in kernel)
    if rad == 0:
        pad = vol
    elif mode == "constant":
        pad = np.pad(vol, rad, mode="constant", constant_values=0.75)
    else:
        pad = np.pad(vol, rad, mode=NP_PAD_MODE[mode])
    want = np.zeros_like(vol)
    for dz, dy, dx, w in kernel:
        want += w * pad[rad + dz : rad + dz + D, rad + dy : rad + dy + D,
                        rad + dx : rad + dx + D]
    assert not np.isnan(got).any(), "missing output pixels"
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


@settings(
    max_examples=8, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    kernel=kernels(),
    mode=st.sampled_from(["reflect", "mirror", "nearest", "wrap", "constant"]),
)
def test_correlate_random(spark, seed, kernel, mode):
    rng = np.random.default_rng(seed)
    img = np.round(rng.uniform(-3, 3, size=(H, W)), 3)
    rows = [(int(y), int(x), float(img[y, x])) for y in range(H) for x in range(W)]
    px = values_df(spark, "y, x, value", rows)
    got = np.full((H, W), np.nan)
    res = ndfilters.correlate(px, kernel, (H, W), mode=mode, cval=0.25)
    for r in res.collect():
        got[r["y"], r["x"]] = r["v"]

    rad = max(max(abs(dy), abs(dx)) for dy, dx, _ in kernel)
    if rad == 0:
        pad = img
    elif mode == "constant":
        pad = np.pad(img, rad, mode="constant", constant_values=0.25)
    else:
        pad = np.pad(img, rad, mode=NP_PAD_MODE[mode])
    want = np.zeros_like(img)
    for dy, dx, w in kernel:
        want += w * pad[rad + dy : rad + dy + H, rad + dx : rad + dx + W]
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)
