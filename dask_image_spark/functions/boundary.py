"""Boundary-mode coordinate remapping, as SQL expressions.

The reference passes scipy boundary modes through
``dask_image/ndfilters/_utils.py::_get_depth_boundary`` to ``map_overlap``;
the semantics live in scipy's C code. We re-express them as coordinate-remap
CASE expressions on the *source* coordinate of a gather join (SURVEY.md §2.A):

* ``reflect``  (scipy default): half-sample symmetric ``(d c b a | a b c d | d c b a)``
* ``mirror``   : whole-sample symmetric  ``(d c b | a b c d | c b a)``
* ``nearest``  : clamp to edge
* ``wrap``     : periodic
* ``constant`` : out-of-range reads become ``cval`` (handled by the caller
  via left-join + coalesce; the remap leaves coordinates untouched)

Single-bounce formulas are used — valid while ``-N < c < 2N``, i.e. kernel
radius < image extent, which the stencil builder asserts.

The same textual expression is used verbatim on the Spark side (``F.expr``)
and inside generated DuckDB oracle SQL, so an off-by-one cannot diverge
between engine and oracle.
"""

from __future__ import annotations

MODES = ("reflect", "mirror", "nearest", "wrap", "constant")


def remap_py(c: int, n: int, mode: str) -> int:
    """Python mirror of :func:`remap_sql` — used to build the (src, pad)
    pairs of the pad-then-scatter stencil's per-axis explode (same
    single-bounce domain)."""
    if mode == "reflect":
        return -c - 1 if c < 0 else (2 * n - 1 - c if c >= n else c)
    if mode == "mirror":
        return -c if c < 0 else (2 * n - 2 - c if c >= n else c)
    if mode == "nearest":
        return min(max(c, 0), n - 1)
    if mode == "wrap":
        return ((c % n) + n) % n
    raise ValueError(f"unknown boundary mode {mode!r}; expected one of {MODES}")


def remap_sql(coord_expr: str, n: int, mode: str) -> str:
    """SQL expression mapping a possibly-out-of-range coordinate into [0, n)."""
    c = coord_expr
    if mode == "reflect":
        return (
            f"(CASE WHEN ({c}) < 0 THEN -({c})-1 "
            f"WHEN ({c}) >= {n} THEN {2 * n - 1}-({c}) ELSE ({c}) END)"
        )
    if mode == "mirror":
        return (
            f"(CASE WHEN ({c}) < 0 THEN -({c}) "
            f"WHEN ({c}) >= {n} THEN {2 * n - 2}-({c}) ELSE ({c}) END)"
        )
    if mode == "nearest":
        return f"LEAST(GREATEST(({c}), 0), {n - 1})"
    if mode == "wrap":
        return f"(((({c}) % {n}) + {n}) % {n})"
    if mode == "constant":
        return f"({c})"
    raise ValueError(f"unknown boundary mode {mode!r}; expected one of {MODES}")
