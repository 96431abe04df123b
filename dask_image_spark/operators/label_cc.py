"""Connected-components labeling (``dask_image.ndmeasure.label``).

Faithful to the reference's three-stage design
(``dask_image/ndmeasure/_utils/_label.py``):

1. **Blockwise pre-label** (`block_ndi_label_delayed` there): each block of
   the grid is labeled independently — here one ``applyInPandas`` group per
   block, vectorized-numpy run-graph labeling (no scipy in this container).
   Each fragment's label is its MIN GLOBAL RAVEL INDEX (y*W + x), which
   makes labels globally unique with no offset pass. The same pandas stage
   also EMITS the cross-block half-edges (stage 2's input) inline, so the
   labeled-pixel table is scanned zero extra times for adjacency.
2. **Boundary adjacency**: label pairs that touch across any
   structure-neighbor edge. Stage 1 already merged every within-block
   contact, so only cross-block contacts matter: each block-boundary pixel
   emitted (contact-key, label) half-edges in stage 1 — no joins, no extra
   pass over the pixels, and the rows are bounded by block-boundary
   contacts (:func:`max_halfedge_rows`), tiny relative to the data. While
   that bound fits the driver budget the raw half-edge rows are collected
   as Arrow and paired in numpy (:func:`pair_halfedges`), in the same job
   that materializes the pre-labelled pixels; above it one ``groupBy``
   over the contact key pairs them on the cluster.
3. **Global merge** (`connected_components_delayed` runs scipy.sparse's CC
   on one worker there): the fragment-adjacency pairs are merged on the
   driver by the same vectorized min-label loop that stage 1 runs per block
   (:func:`min_label_roots`) — the same "small graph solved centrally"
   topology as the reference — and the root map is shipped back as an
   Arrow table and broadcast-joined.

Final labels are canonical: each component is labeled by the minimum ravel
index (y*W + x) of its pixels, so output is deterministic regardless of
block layout or execution order. At 100 TB, stage 1 scales with pixels,
stage 2 with boundary area, stage 3 with the number of *components touching
block edges* — if that outgrows the driver budget (:data:`MAX_DRIVER_EDGES`),
stage 3 instead runs distributed: ``graph.min_label_components`` over the
same stage-2 fragment edges, min-label propagation with ``localCheckpoint()``
per round, in rounds that scale with the fragment-graph diameter.

The pre-labelled rows are a lazy local checkpoint registered with
``caching.checkpoint_tracked``: ``release_caches()`` frees it, after which
the labeled frame can no longer be recomputed (see :mod:`caching`).

Input contract: ``mask`` must have at most one row per (y, x) position
(duplicate positions would double-count half-edge emissions; the pairing
below tolerates that — ``min != max`` over a contact key is direction- and
multiplicity-agnostic — but the per-pixel output would contain duplicate
rows, as any per-pixel operator's would).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_image_spark.caching import checkpoint_tracked
from dask_image_spark.operators import graph

# Most fragment-adjacency edges stage 3 collects to the driver; a bigger
# graph is merged distributed instead (see :func:`label`).
MAX_DRIVER_EDGES = 2_000_000


def forward_offsets(structure=None) -> list[tuple[int, int]]:
    """Neighbor offsets from a scipy-style structuring element.

    ``structure`` is a (2r+1)×(2r+1) 0/1 array (symmetric, as upstream
    ``ndmeasure/__init__.py::label(image, structure)`` requires — scipy
    symmetrizes internally); ``None`` means the default cross
    (``generate_binary_structure(2, 1)``, 4-connectivity). Returns only the
    *forward* half of the neighborhood — offsets with ``dy > 0`` or
    ``dy == 0 and dx > 0`` — because adjacency is symmetric, so each
    undirected edge needs generating once.
    """
    if structure is None:
        return [(1, 0), (0, 1)]
    s = np.asarray(structure, dtype=bool)
    if s.ndim != 2 or any(d % 2 == 0 for d in s.shape):
        raise ValueError("structure must be a 2-D odd-sized array")
    cy, cx = s.shape[0] // 2, s.shape[1] // 2
    offs = []
    for dy in range(-cy, cy + 1):
        for dx in range(-cx, cx + 1):
            if s[dy + cy, dx + cx] and (dy > 0 or (dy == 0 and dx > 0)):
                offs.append((dy, dx))
    return offs


def min_label_roots(n: int, eu: np.ndarray, ev: np.ndarray) -> np.ndarray:
    """Connected components of the graph on nodes ``0..n-1`` with undirected
    edges ``(eu[i], ev[i])``: returns ``L`` with ``L[i]`` the smallest node
    connected to ``i``.

    Min-label relaxation with pointer jumping AND edge contraction: each
    round both endpoints of every edge take the smaller label, label chains
    are compressed to their minima, then every edge is rewritten onto its
    endpoints' component minima and self-edges are dropped — so the reach
    doubles per round and the edge list only shrinks as components merge.
    Every round hooks the larger root of each remaining edge, so the loop
    ends. One implementation serves both levels of :func:`label`: the run
    graph inside a block (:func:`_label_block_np`) and the fragment graph
    on the driver (stage 3).
    """
    L = np.arange(n, dtype=np.int64)
    eu = np.asarray(eu, dtype=np.int64)
    ev = np.asarray(ev, dtype=np.int64)
    keep = eu != ev
    eu, ev = eu[keep], ev[keep]
    while eu.size:
        # relax: every endpoint takes the min label over its current edges
        nl = L.copy()
        np.minimum.at(nl, eu, L[ev])
        np.minimum.at(nl, ev, L[eu])
        # pointer jumping: compress label chains to their minima
        # (labels only decrease and L[i] <= i stays acyclic)
        while True:
            jumped = nl[nl]
            if np.array_equal(jumped, nl):
                break
            nl = jumped
        L = nl
        # contract: rewrite edges onto component minima, drop internal ones
        eu, ev = nl[eu], nl[ev]
        keep = eu != ev
        eu, ev = eu[keep], ev[keep]
    return L


def _label_block_np(ys, xs, fwd=((1, 0), (0, 1))):
    """Structure-connected labeling of points within a block; returns local
    labels (0-based). ``fwd`` is the forward half of the neighborhood
    (:func:`forward_offsets`).

    Vectorized run-graph labeling (guide §4.2 — batch numpy inside the UDF,
    never per-pixel Python): contract each maximal horizontal run of masked
    pixels to one node (runs are connected internally whenever (0, 1) is in
    the structure; otherwise every pixel is its own node), build the
    run-adjacency edge list for the remaining offsets with full-raster
    slicing, then find components with :func:`min_label_roots`. Converges
    in 3-4 rounds on 45%-density noise where the previous raster-relaxation
    form took ~29 full-raster rounds (measured 229 ms -> 23 ms on a 512x512
    45% block, partition-identical on randomized 4-/8-conn masks, a
    serpentine worst case, and sparse structures). Memory is one int64
    raster (the run-id grid) plus O(runs + contacts), bounded by the
    block-size contract.
    """
    ys = np.asarray(ys, dtype=np.int64)
    xs = np.asarray(xs, dtype=np.int64)
    y0, x0 = ys.min(), xs.min()
    ly, lx = ys - y0, xs - x0
    bh, bw = int(ly.max()) + 1, int(lx.max()) + 1
    mask = np.zeros((bh, bw), dtype=bool)
    mask[ly, lx] = True
    offs = {(int(dy), int(dx)) for dy, dx in fwd}
    # Horizontal runs are only pre-merged when the structure actually
    # connects (0, 1) neighbors; otherwise each pixel is its own run.
    row_conn = (0, 1) in offs
    if row_conn:
        starts = mask.copy()
        starts[:, 1:] &= ~mask[:, :-1]
    else:
        starts = mask
    run_id = np.cumsum(starts.ravel()).reshape(bh, bw) - 1
    n_runs = int(run_id.ravel()[-1]) + 1
    eu_parts, ev_parts = [], []
    for dy, dx in offs:
        if row_conn and (dy, dx) == (0, 1):
            continue  # inside-run adjacency, already contracted
        tys = slice(max(0, -dy), bh - max(0, dy))
        sys_ = slice(max(0, dy), bh + min(0, dy))
        txs = slice(max(0, -dx), bw - max(0, dx))
        sxs = slice(max(0, dx), bw + min(0, dx))
        valid = mask[tys, txs] & mask[sys_, sxs]
        eu_parts.append(run_id[tys, txs][valid])
        ev_parts.append(run_id[sys_, sxs][valid])
    if eu_parts:
        L = min_label_roots(
            n_runs, np.concatenate(eu_parts), np.concatenate(ev_parts)
        )
    else:
        L = np.arange(n_runs, dtype=np.int64)
    roots = L[run_id[ly, lx]]
    _, inv = np.unique(roots, return_inverse=True)
    return inv.astype(np.int64)


def pair_halfedges(
    ck: np.ndarray, lbl: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Fragment-adjacency edges from stage 1's half-edge rows ``(ck, lbl)``.

    The numpy twin of ``groupBy(ck).agg(min(l), max(l)).filter(min !=
    max)``: sort by contact key, reduce each key's labels to their min and
    max, keep the keys where they differ. The key maps are injective per
    offset, so a key holds exactly the labels of its two endpoint pixels
    when both exist; a key with one emission has min == max and yields no
    edge, and the test is multiplicity-tolerant should an input ever break
    the unique-(y, x) contract. Returns ``(lo, hi)`` with ``lo < hi``,
    one pair per pairing key."""
    ck = np.asarray(ck, dtype=np.int64)
    lbl = np.asarray(lbl, dtype=np.int64)
    if ck.size == 0:
        return ck, ck
    order = np.argsort(ck, kind="stable")
    ck, lbl = ck[order], lbl[order]
    starts = np.flatnonzero(np.r_[True, ck[1:] != ck[:-1]])
    lo = np.minimum.reduceat(lbl, starts)
    hi = np.maximum.reduceat(lbl, starts)
    keep = lo != hi
    return lo[keep], hi[keep]


def prelabel_partitions(spark, n_blocks: int) -> int:
    """Partition count for a per-block pandas exchange — :func:`label`'s
    pre-label and ``chunked.map_overlap_tiles``' tile groups: one task per
    block, capped at 4x the session's shuffle width. The cap bounds
    task-launch overhead at 100-TB block counts (millions of blocks) while
    keeping the stage CPU-balanced; the floor of 1 covers single-block
    masks. Kept as its own function so the rule is unit-testable next to
    the no-AQE-coalesce pins (tests/test_label_cc.py)."""
    shuffle_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return max(1, min(n_blocks, shuffle_parts * 4))


def max_halfedge_rows(
    shape: tuple[int, int], block: int, fwd: list[tuple[int, int]]
) -> int:
    """Static upper bound on the number of half-edge rows stage 1 can emit.
    Per forward offset (dy, dx), a pixel emits the forward half-edge only
    when y//B != (y+dy)//B or x//B != (x+dx)//B — at most |dy| rows per
    block-row boundary (times the width) plus |dx| columns per block-col
    boundary (times the height) — and the backward half-edge under the
    mirrored condition, doubling the count. :func:`label` collects the raw
    half-edge rows to the driver when this bound fits
    :data:`MAX_DRIVER_EDGES`, so it bounds the collected rows directly —
    no ``distinct().limit()`` probe and no exchange is spent proving
    something knowable from the geometry.
    """
    h, w = shape
    nby = -(-h // block)
    nbx = -(-w // block)
    total = 0
    for dy, dx in fwd:
        total += 2 * (abs(dy) * nby * w + abs(dx) * nbx * h)
    return total


def _block_rows(
    ys, xs, w: int, block: int, fwd
) -> tuple[np.ndarray, np.ndarray]:
    """Stage 1 for one block's true pixels: returns ``(a, lbl)``, one row per
    pixel (``a`` = its ravel index y*W + x, ``lbl`` = its fragment label)
    followed by its cross-block half-edge rows (``a`` = -ck - 1 for contact
    key ``ck``). Sign-encoding keeps the output schema at two longs, and
    emitting the half-edges here spares a second pass over the pixels."""
    local = _label_block_np(ys, xs, fwd)
    # Block label = the fragment's MIN GLOBAL RAVEL INDEX, not an opaque
    # base+local id. Labels stay globally unique (fragments are disjoint
    # pixel sets and the min is a member), and because the stage-3 merge
    # roots every merged set at its minimum, the root IS the component's
    # min ravel index over all its pixels — the canonical label — so no
    # separate canon pass (a groupBy + a second pixel-table join, two more
    # full-data exchanges) is needed.
    ys64 = np.asarray(ys, dtype=np.int64)
    xs64 = np.asarray(xs, dtype=np.int64)
    g = ys64 * w + xs64
    mins = np.full(int(local.max()) + 1, np.iinfo(np.int64).max)
    np.minimum.at(mins, local, g)
    lbl = mins[local]
    # Contact keys ravel over the PADDED coordinate domain [-R, h+R) x
    # [-R, w+R): a backward-shifted position can leave the image (e.g.
    # x - dx = -1), and raveling with the plain width would alias it onto a
    # real pixel of the previous row, fabricating an edge between
    # non-neighbors. The padded ravel is injective over every position a
    # half-edge can name, so keys collide exactly for true contacts.
    n_off = len(fwd)
    r_max = max(max(abs(dy), abs(dx)) for dy, dx in fwd)
    wpad = w + 2 * r_max
    a_parts = [g]
    l_parts = [lbl]
    yl = ys64 + r_max
    xl = xs64 + r_max
    byv = ys64 // block
    bxv = xs64 // block
    for oi, (dy, dx) in enumerate(fwd):
        # forward: pixel p emits under key (p, oi) when p + o crosses
        cf = ((ys64 + dy) // block != byv) | ((xs64 + dx) // block != bxv)
        if cf.any():
            ck = (yl[cf] * wpad + xl[cf]) * n_off + oi
            a_parts.append(-ck - 1)
            l_parts.append(lbl[cf])
        # backward: pixel q = p + o emits under key (q - o, oi) = (p, oi)
        cb = ((ys64 - dy) // block != byv) | ((xs64 - dx) // block != bxv)
        if cb.any():
            ck = ((yl[cb] - dy) * wpad + (xl[cb] - dx)) * n_off + oi
            a_parts.append(-ck - 1)
            l_parts.append(lbl[cb])
    return np.concatenate(a_parts), np.concatenate(l_parts)


def label(
    mask: DataFrame, shape: tuple[int, int], block: int = 32,
    mask_col: str = "m", structure=None,
) -> DataFrame:
    """Label connected components of a boolean mask.

    ``structure`` follows upstream ``ndmeasure/__init__.py::label(image,
    structure)``: a symmetric odd-sized 0/1 neighborhood array; ``None`` =
    the default cross (4-connectivity), ``np.ones((3, 3))`` = 8-connectivity.

    Returns (y, x, label) for true pixels; label = min ravel index of the
    component (canonical, deterministic).

    The fragment-adjacency graph is merged on the driver (stage 3) ONLY
    while it stays under :data:`MAX_DRIVER_EDGES`; a bigger graph is merged
    distributed by ``graph.min_label_components`` over the same fragment
    edges (the minimum fragment label reachable is the component's
    canonical label, because fragment labels are min ravel indices), so
    callers never have to pick the strategy themselves. When the geometric
    bound (:func:`max_halfedge_rows`) proves the half-edge rows fit the
    budget, they are collected raw as Arrow and paired on the driver
    (:func:`pair_halfedges`) — no contact-key exchange and no
    ``distinct().limit(n+1)`` driver-safety probe; above the bound the
    probe decides.
    """
    h, w = shape
    fwd = forward_offsets(structure)
    spark = mask.sparkSession
    pts = mask.filter(F.col(mask_col)).select("y", "x")

    # stage 1: per-block pre-label + inline half-edge emission
    blocked = pts.withColumns(
        {
            "by": (F.col("y") / block).cast("int"),
            "bx": (F.col("x") / block).cast("int"),
        }
    )
    nbx = -(-w // block)
    nby = -(-h // block)
    # The pre-label stage's cost is Python CPU per pixel, not bytes — AQE's
    # byte-based coalescing packs many blocks into few tasks (measured: 64
    # blocks -> 8 tasks on local[32], 5.4 s of a 8.4 s labeling) which is
    # exactly wrong for a pandas-UDF stage. An EXPLICIT repartition on the
    # block keys is user-specified, so AQE leaves it alone, and its hash
    # partitioning satisfies applyInPandas's required distribution — no
    # second shuffle.
    blocked = blocked.repartition(
        prelabel_partitions(spark, nby * nbx), "by", "bx"
    )

    def pre_label(pdf: pd.DataFrame) -> pd.DataFrame:
        a, lbl = _block_rows(
            pdf["y"].to_numpy(), pdf["x"].to_numpy(), w, block, fwd
        )
        return pd.DataFrame({"a": a, "lbl": lbl})

    out = blocked.groupBy("by", "bx").applyInPandas(pre_label, "a long, lbl long")
    # Cut lineage; scanned twice below (the half-edges, the final join). Lazy,
    # so the job that returns the half-edges also fills the checkpoint.
    out = checkpoint_tracked(out)

    # stage 2: pair the half-edges. Stage 1 merged every within-block
    # contact, so only CROSS-BLOCK contacts can pair differing labels.
    halves = out.filter(F.col("a") < 0).select(
        (-F.col("a") - 1).alias("ck"), F.col("lbl").alias("l")
    )
    pix = out.filter(F.col("a") >= 0).select(
        F.expr(f"CAST(a DIV {w} AS INT)").alias("y"),
        F.expr(f"CAST(a % {w} AS INT)").alias("x"),
        "lbl",
    )
    if max_halfedge_rows(shape, block, fwd) <= MAX_DRIVER_EDGES:
        # The geometry already proves the raw rows fit the driver budget:
        # collect them as Arrow (the checkpoint-filling job) and pair them
        # in numpy instead of a contact-key exchange.
        tbl = halves.toArrow()
        la, lb = pair_halfedges(
            tbl.column("ck").to_numpy(), tbl.column("l").to_numpy()
        )
    else:
        # One groupBy over the contact key pairs the half-edges on the
        # cluster (same min != max rule as pair_halfedges).
        edges = (
            halves.groupBy("ck")
            .agg(F.min("l").alias("lbl"), F.max("l").alias("lbl_b"))
            .filter(F.col("lbl") != F.col("lbl_b"))
            .select("lbl", "lbl_b")
        )
        head = edges.distinct().limit(MAX_DRIVER_EDGES + 1).toArrow()
        if head.num_rows > MAX_DRIVER_EDGES:
            # Fragment graph too large to centralize: merge it distributed
            # instead of OOMing the driver. Raises if it does not converge.
            comp = graph.min_label_components(edges, "lbl", "lbl_b")
            return pix.join(
                comp.withColumnRenamed("node", "lbl"), on="lbl", how="left"
            ).select("y", "x", F.coalesce("comp", "lbl").alias("label"))
        la = head.column("lbl").to_numpy()
        lb = head.column("lbl_b").to_numpy()

    if la.size == 0:
        return pix.select("y", "x", F.col("lbl").alias("label"))

    # stage 3: merge the (small) fragment graph on the driver
    nodes, inv = np.unique(np.concatenate([la, lb]), return_inverse=True)
    root = nodes[min_label_roots(nodes.size, inv[: la.size], inv[la.size :])]

    # stage 4: broadcast the root map. Block labels are per-fragment min
    # ravel indices and the merge roots each component at its minimum
    # (nodes are sorted, so the min index is the min label), so
    # coalesce(root, lbl) IS the canonical min-ravel-index label: every
    # fragment of a multi-block component is incident to a cross-block edge
    # (a fragment with none would be its own component), so every fragment
    # label enters the merge and the root is the min over ALL the
    # component's pixels; single-block components and roots keep lbl, their
    # own min, so only fragments whose root differs are shipped.
    moved = root != nodes
    root_df = spark.createDataFrame(
        pa.table({"lbl": nodes[moved], "root": root[moved]})
    )
    return pix.join(F.broadcast(root_df), on="lbl", how="left").select(
        "y", "x", F.coalesce("root", "lbl").alias("label")
    )
