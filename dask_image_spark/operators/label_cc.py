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
   emitted (contact-key, label) half-edges in stage 1 and one groupBy pairs
   them — no joins, no extra pass over the pixels, and the pair set is
   bounded by block-boundary contacts — tiny relative to the data.
3. **Global merge** (`connected_components_delayed` runs scipy.sparse's CC
   on one worker there): the adjacency pairs are collected to the driver
   and merged with union-find — the same "small graph solved centrally"
   topology as the reference — then the root map is broadcast-joined back.

Final labels are canonical: each component is labeled by the minimum ravel
index (y*W + x) of its pixels, so output is deterministic regardless of
block layout or execution order. At 100 TB, stage 1 scales with pixels,
stage 2 with boundary area, stage 3 with the number of *components touching
block edges* — if that outgrows the driver budget (:data:`MAX_DRIVER_EDGES`),
stage 3 instead runs distributed: ``graph.min_label_components`` over the
same stage-2 fragment edges, min-label propagation with ``localCheckpoint()``
per round, in rounds that scale with the fragment-graph diameter.

Input contract: ``mask`` must have at most one row per (y, x) position
(duplicate positions would double-count half-edge emissions; the pairing
below tolerates that — ``min != max`` over a contact key is direction- and
multiplicity-agnostic — but the per-pixel output would contain duplicate
rows, as any per-pixel operator's would).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dask_image_spark.functions.localrel import values_df
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


def _label_block_np(ys, xs, back_offsets=((-1, 0), (0, -1))):
    """Structure-connected labeling of points within a block; returns local
    labels (0-based). ``back_offsets`` is the negated forward half of the
    neighborhood.

    Vectorized run-graph labeling (guide §4.2 — batch numpy inside the UDF,
    never per-pixel Python): contract each maximal horizontal run of masked
    pixels to one node (runs are connected internally whenever (0, 1) is in
    the structure; otherwise every pixel is its own node), build the
    run-adjacency edge list for the remaining offsets with full-raster
    slicing, then find components by min-label relaxation with pointer
    jumping AND edge contraction — after every round each edge is rewritten
    to connect the current component minima and self-edges are dropped, so
    the reach doubles per round and the edge list shrinks as components
    merge. Converges in 3-4 rounds on 45%-density noise where the previous
    raster-relaxation form took ~29 full-raster rounds (measured 229 ms ->
    23 ms on a 512x512 45% block, partition-identical on randomized 4-/8-
    conn masks, a serpentine worst case, and sparse structures). Memory is
    one int64 raster (the run-id grid) plus O(runs + contacts), bounded by
    the block-size contract.
    """
    ys = np.asarray(ys, dtype=np.int64)
    xs = np.asarray(xs, dtype=np.int64)
    y0, x0 = ys.min(), xs.min()
    ly, lx = ys - y0, xs - x0
    bh, bw = int(ly.max()) + 1, int(lx.max()) + 1
    mask = np.zeros((bh, bw), dtype=bool)
    mask[ly, lx] = True
    offs = set()
    for dy, dx in back_offsets:
        offs.add((int(dy), int(dx)))
        offs.add((-int(dy), -int(dx)))
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
        if row_conn and dy == 0 and abs(dx) == 1:
            continue  # inside-run adjacency, already contracted
        tys = slice(max(0, -dy), bh - max(0, dy))
        sys_ = slice(max(0, dy), bh + min(0, dy))
        txs = slice(max(0, -dx), bw - max(0, dx))
        sxs = slice(max(0, dx), bw + min(0, dx))
        valid = mask[tys, txs] & mask[sys_, sxs]
        eu_parts.append(run_id[tys, txs][valid])
        ev_parts.append(run_id[sys_, sxs][valid])
    L = np.arange(n_runs, dtype=np.int64)
    if eu_parts:
        eu = np.concatenate(eu_parts)
        ev = np.concatenate(ev_parts)
        keep = eu != ev
        eu, ev = eu[keep], ev[keep]
        while eu.size:
            # relax: every run takes the min label over its current edges
            nl = L.copy()
            np.minimum.at(nl, eu, L[ev])
            # pointer jumping: compress label chains to their minima
            # (labels only decrease and L[i] <= i stays acyclic)
            while True:
                jumped = nl[nl]
                if np.array_equal(jumped, nl):
                    break
                nl = jumped
            L = nl
            # contract: rewrite edges onto component minima, drop internal
            # ones — reach doubles per round, edge list only shrinks
            eu, ev = nl[eu], nl[ev]
            keep = eu != ev
            eu, ev = eu[keep], ev[keep]
    roots = L[run_id[ly, lx]]
    _, inv = np.unique(roots, return_inverse=True)
    return inv.astype(np.int64)


def prelabel_partitions(spark, n_blocks: int) -> int:
    """Partition count for :func:`label`'s pandas pre-label exchange: one
    task per block, capped at 4x the session's shuffle width. The cap
    bounds task-launch overhead at 100-TB block counts (millions of
    blocks) while keeping the stage CPU-balanced; the floor of 1 covers
    single-block masks. Kept as its own function so the rule is unit-
    testable next to the no-AQE-coalesce pin (tests/test_label_cc.py)."""
    shuffle_parts = int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return max(1, min(n_blocks, shuffle_parts * 4))


def max_halfedge_rows(
    shape: tuple[int, int], block: int, fwd: list[tuple[int, int]]
) -> int:
    """Static upper bound on the number of half-edge rows stage 1 can emit
    (and therefore on the rows any un-deduplicated edge collect can return:
    edge rows after the contact-key groupBy <= distinct contact keys <=
    emissions). Per forward offset (dy, dx), a pixel emits the forward
    half-edge only when y//B != (y+dy)//B or x//B != (x+dx)//B — at most
    |dy| rows per block-row boundary (times the width) plus |dx| columns
    per block-col boundary (times the height) — and the backward half-edge
    under the mirrored condition, doubling the count. Used by :func:`label`
    to decide whether the driver-safety ``distinct().limit()`` probe is
    needed at all: when this bound already fits the driver budget the probe
    would spend two exchange stages (measured ~0.5 s of pure AQE stage
    latency per labeling) proving something knowable from the geometry.
    """
    h, w = shape
    nby = -(-h // block)
    nbx = -(-w // block)
    total = 0
    for dy, dx in fwd:
        total += 2 * (abs(dy) * nby * w + abs(dx) * nbx * h)
    return total


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

    The boundary-adjacency graph is collected to the driver for the
    union-find merge (stage 3) ONLY while it stays under
    :data:`MAX_DRIVER_EDGES`; a bigger graph is merged distributed by
    ``graph.min_label_components`` over the same fragment edges (the
    minimum fragment label reachable is the component's canonical label,
    because fragment labels are min ravel indices), so callers never have
    to pick the strategy themselves. When the geometric bound
    (:func:`max_halfedge_rows`) proves the collect cannot exceed the budget,
    the ``distinct().limit(n+1)`` driver-safety probe (two extra exchange
    stages) is skipped and the raw edge rows are collected directly — the
    union-find is idempotent under duplicate pairs, so dedup is free on the
    driver.
    """
    h, w = shape
    fwd = forward_offsets(structure)
    back = [(-dy, -dx) for dy, dx in fwd]
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

    # Contact keys ravel over the PADDED coordinate domain [-R, h+R) x
    # [-R, w+R): a backward-shifted position can leave the image (e.g.
    # x - dx = -1), and raveling with the plain width would alias it onto a
    # real pixel of the previous row, fabricating an edge between
    # non-neighbors. The padded ravel is injective over every position a
    # half-edge can name, so keys collide exactly for true contacts.
    n_off = len(fwd)
    r_max = max(max(abs(dy), abs(dx)) for dy, dx in fwd)
    wpad = w + 2 * r_max

    def pre_label(pdf: pd.DataFrame) -> pd.DataFrame:
        ys = pdf["y"].to_numpy()
        xs = pdf["x"].to_numpy()
        local = _label_block_np(ys, xs, back_offsets=back)
        # Block label = the fragment's MIN GLOBAL RAVEL INDEX, not an
        # opaque base+local id. Labels stay globally unique (fragments are
        # disjoint pixel sets and the min is a member), and because the
        # driver union-find roots every merged set at its minimum, the
        # root IS the component's min ravel index over all its pixels —
        # the canonical label — so no separate canon pass (a groupBy + a
        # second pixel-table join, two more full-data exchanges) is needed.
        ys64 = ys.astype(np.int64)
        xs64 = xs.astype(np.int64)
        g = ys64 * w + xs64
        mins = np.full(int(local.max()) + 1, np.iinfo(np.int64).max)
        np.minimum.at(mins, local, g)
        lbl = mins[local]
        # Inline half-edge emission (stage 2's input), computed here in
        # numpy instead of a second full JVM pass over the checkpointed
        # pixels (guide §2.4 — one pass, and the explode/when expression
        # evaluation over every pixel is gone). Sign-encoding keeps the
        # output schema at two longs: a >= 0 is a pixel row with a = its
        # ravel index; a < 0 is a half-edge row with contact key -a - 1.
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
        return pd.DataFrame(
            {
                "a": np.concatenate(a_parts),
                "lbl": np.concatenate(l_parts),
            }
        )

    out = blocked.groupBy("by", "bx").applyInPandas(pre_label, "a long, lbl long")
    # cut lineage; scanned twice below (half-edge aggregation, final join)
    out = out.localCheckpoint()

    # stage 2: pair the half-edges. Stage 1 merged every within-block
    # contact, so only CROSS-BLOCK contacts can pair differing labels; one
    # groupBy over the emitted (contact-key, label) rows pairs them (the
    # key maps are injective per offset, so a key holds exactly the labels
    # of its two endpoint pixels when both exist). min != max alone is the
    # edge test: a key with one emission has min == max, and the filter is
    # multiplicity-tolerant if an input ever violates the unique-(y, x)
    # contract. Two tiny exchanges, no joins (guide §2.4 — fewer shuffles;
    # §2.3 — shuffle keys, not payloads).
    halves = out.filter(F.col("a") < 0).select(
        (-F.col("a") - 1).alias("ck"), F.col("lbl").alias("l")
    )
    edges = (
        halves.groupBy("ck")
        .agg(F.min("l").alias("lbl"), F.max("l").alias("lbl_b"))
        .filter(F.col("lbl") != F.col("lbl_b"))
        .select("lbl", "lbl_b")
    )
    pix = out.filter(F.col("a") >= 0).select(
        F.expr(f"CAST(a DIV {w} AS INT)").alias("y"),
        F.expr(f"CAST(a % {w} AS INT)").alias("x"),
        "lbl",
    )
    if max_halfedge_rows(shape, block, fwd) <= MAX_DRIVER_EDGES:
        # The geometry already proves the collect fits the driver budget:
        # skip the distinct+limit probe (two extra exchange stages,
        # measured ~0.5 s of AQE latency per labeling at 4096^2) and let
        # the driver union-find absorb duplicate pairs.
        head = edges.collect()
    else:
        head = edges.distinct().limit(MAX_DRIVER_EDGES + 1).collect()
        if len(head) > MAX_DRIVER_EDGES:
            # Fragment graph too large to centralize: merge it distributed
            # instead of OOMing the driver. Raises if it does not converge.
            comp = graph.min_label_components(edges, "lbl", "lbl_b")
            return pix.join(
                comp.withColumnRenamed("node", "lbl"), on="lbl", how="left"
            ).select("y", "x", F.coalesce("comp", "lbl").alias("label"))
    pairs = [(r["lbl"], r["lbl_b"]) for r in head]

    # stage 3: driver-side union-find over the (small) adjacency graph
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for la, lb in pairs:
        ra, rb = find(la), find(lb)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {x: find(x) for x in parent}

    # stage 4: broadcast the root map. Block labels are per-fragment min
    # ravel indices and the union-find roots each merged set at its minimum,
    # so coalesce(root, lbl) IS the canonical min-ravel-index label: every
    # fragment of a multi-block component is incident to a cross-block edge
    # (a fragment with none would be its own component), so every fragment
    # label enters the union-find and the root is the min over ALL the
    # component's pixels; single-block components keep lbl, their own min.
    if roots:
        root_df = values_df(
            spark, "lbl, root", [(int(k), int(v)) for k, v in roots.items()]
        )
        return pix.join(F.broadcast(root_df), on="lbl", how="left").select(
            "y", "x", F.coalesce("root", "lbl").alias("label")
        )
    return pix.select("y", "x", F.col("lbl").alias("label"))
