"""Reference outputs computed without the program under test, and the checks
that compare a job's output against them.

* ``segment_image``: numpy reflect-mode Gaussian, mean threshold, run-based
  union-find labeling (4-connectivity), per-component area and mean.
* ``dedup_corpus``: the registry's DuckDB MinHash-LSH oracle SQL run on the
  generated parquet file; pairs must match exactly.
* ``ann_search``: numpy cosine, both exact (for recall@10) and restricted
  to the IVF probe set (for correctness of each returned row).

Each ``check_*`` returns ``None`` when the output is correct and a short
reason string otherwise.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

# --- segment_image ----------------------------------------------------------

SIGMA = 1.0
RADIUS = 4  # int(truncate * sigma + 0.5) with truncate = 4


def gaussian_taps(sigma: float = SIGMA, radius: int = RADIUS) -> np.ndarray:
    x = np.arange(-radius, radius + 1, dtype=np.float64)
    w = np.exp(-0.5 * x * x / (sigma * sigma))
    return w / w.sum()


TAPS = gaussian_taps()


def smooth_rows_cols(a: np.ndarray) -> np.ndarray:
    """Separable 9-tap correlation of an array already padded by RADIUS on
    every side; returns the valid interior. Rows first, then columns, taps in
    order, so a tile and the whole image give bit-identical pixels."""
    n_y, n_x = a.shape[0] - 2 * RADIUS, a.shape[1] - 2 * RADIUS
    v = np.zeros((n_y, a.shape[1]))
    for i, w in enumerate(TAPS):
        v += w * a[i:i + n_y, :]
    out = np.zeros((n_y, n_x))
    for i, w in enumerate(TAPS):
        out += w * v[:, i:i + n_x]
    return out


def smooth_tile(tile: np.ndarray) -> np.ndarray:
    """Tile function for ``chunked.map_overlap_tiles`` (depth = RADIUS):
    shape-preserving, interior = the Gaussian of the halo-padded tile."""
    out = np.zeros_like(tile)
    out[RADIUS:-RADIUS, RADIUS:-RADIUS] = smooth_rows_cols(tile)
    return out


def gaussian_reflect(img: np.ndarray) -> np.ndarray:
    """scipy ``gaussian_filter(img, 1.0, mode='reflect')`` (half-sample
    symmetric boundary == numpy's ``symmetric`` pad)."""
    return smooth_rows_cols(np.pad(img, RADIUS, mode="symmetric"))


def label_runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """4-connected components of ``mask`` via horizontal runs and
    union-find. Returns ``(pix, comp)``: the ravel index of every foreground
    pixel and the minimum ravel index of its component."""
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    d = np.diff(padded, axis=1)
    rows, starts = np.nonzero(d == 1)
    _, ends = np.nonzero(d == -1)
    n = len(rows)
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    first = np.searchsorted(rows, np.arange(h + 1))
    for r in range(1, h):
        i, i_end = int(first[r - 1]), int(first[r])
        j, j_end = int(first[r]), int(first[r + 1])
        while i < i_end and j < j_end:
            if starts[i] < ends[j] and starts[j] < ends[i]:
                a, b = find(i), find(j)
                if a != b:
                    parent[max(a, b)] = min(a, b)
            if ends[i] < ends[j]:
                i += 1
            else:
                j += 1
    root = np.array([find(i) for i in range(n)], dtype=np.int64)
    # runs are in ravel order, so a component's root run holds its minimum
    # ravel index
    lengths = ends - starts
    pix = np.repeat(rows * w + starts, lengths) + (
        np.arange(lengths.sum()) - np.repeat(np.cumsum(lengths) - lengths, lengths)
    )
    comp_min = rows[root] * w + starts[root]
    return pix, np.repeat(comp_min, lengths)


@dataclass
class SegmentRef:
    foreground: float              # share of pixels above the threshold
    components: dict[int, tuple[int, float]]  # min ravel index -> (area, mean)
    border_share: float            # share of components spanning 2+ tiles


def segment_reference(img: np.ndarray, tile: int) -> SegmentRef:
    sm = gaussian_reflect(img)
    mask = sm > sm.mean()
    pix, comp = label_runs(mask)
    keys, inv = np.unique(comp, return_inverse=True)
    area = np.bincount(inv)
    mean = np.bincount(inv, weights=img.ravel()[pix]) / area
    w = img.shape[1]
    tile_id = (pix // w // tile) * 10_000 + (pix % w) // tile
    tmin = np.full(len(keys), np.iinfo(np.int64).max)
    tmax = np.full(len(keys), -1)
    np.minimum.at(tmin, inv, tile_id)
    np.maximum.at(tmax, inv, tile_id)
    return SegmentRef(
        foreground=float(mask.mean()),
        components={int(k): (int(a), float(m))
                    for k, a, m in zip(keys, area, mean)},
        border_share=float((tmin != tmax).mean()) if len(keys) else 0.0,
    )


def check_segment(ref: SegmentRef, areas: dict[int, int],
                  means: dict[int, float]) -> str | None:
    """Label count, area multiset, and each component's mean intensity
    (matched by its canonical min-ravel-index label) to 1e-9."""
    got, want = len(areas), len(ref.components)
    if got != want:
        return f"label count {got} != {want}"
    if sorted(areas.values()) != sorted(a for a, _ in ref.components.values()):
        return "area multiset differs"
    for lbl, (a, m) in ref.components.items():
        if areas.get(lbl) != a:
            return f"label {lbl}: area {areas.get(lbl)} != {a}"
        if lbl not in means or not abs(means[lbl] - m) <= 1e-9:
            return f"label {lbl}: mean {means.get(lbl)} != {m}"
    return None


# --- dedup_corpus -----------------------------------------------------------

JACCARD_THRESHOLD = 0.5  # (1/bands)^(1/rows): the 4x2 banding's S-curve midpoint


def dedup_reference(parquet_path: str) -> set[tuple[int, int]]:
    """Exact pair set from the registry's ``dedup_minhash_lsh`` oracle."""
    import tempfile

    import duckdb

    from dask_image_spark.queries.pipeline import _minhash_oracle

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute("SET temp_directory = '"
                    + tempfile.gettempdir().replace("'", "''") + "'")
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet('"
            + parquet_path.replace("'", "''") + "')"
        )
        rows = con.execute(_minhash_oracle()).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)) for a, b in rows}


def shingle_sets(texts: list[str], k: int = 3) -> list[frozenset[str]]:
    out = []
    for t in texts:
        tok = t.split(" ")
        out.append(frozenset(" ".join(tok[i:i + k])
                             for i in range(len(tok) - k + 1)))
    return out


def pair_precision(pairs, shingles) -> float:
    """Share of ``pairs`` whose true shingle Jaccard >= JACCARD_THRESHOLD."""
    if not pairs:
        return 0.0
    good = 0
    for a, b in pairs:
        sa, sb = shingles[a], shingles[b]
        if len(sa & sb) >= JACCARD_THRESHOLD * len(sa | sb):
            good += 1
    return good / len(pairs)


def check_pairs(ref: set[tuple[int, int]], got) -> str | None:
    got = set(got)
    if got == ref:
        return None
    return f"pair set differs: {len(got - ref)} extra, {len(ref - got)} missing"


def check_keep_first(n_signed: int, got_rows: int) -> str | None:
    """``lsh_keep_first`` emits one row per signed document."""
    if got_rows != n_signed:
        return f"keep_first rows {got_rows} != {n_signed}"
    return None


# --- ann_search -------------------------------------------------------------

EPS = 1.2345e-8  # the engine's cross-engine rounding offset


@dataclass
class QueryRef:
    exact_ids: list[int]         # exact cosine top-10 over all vectors
    ivf_cos: list[float]         # top-10 cosines within the probed clusters


class AnnRef:
    """numpy cosine over the generated vectors (float64 arithmetic on the
    float32 values, as the engine does)."""

    def __init__(self, emb: np.ndarray, label: np.ndarray, k: int = 10,
                 n_probe: int = 2):
        self.v = emb.astype(np.float64)
        self.norms = np.linalg.norm(self.v, axis=1)
        self.label = label
        self.k, self.n_probe = k, n_probe
        n_c = int(label.max()) + 1
        cent = np.zeros((n_c, self.v.shape[1]))
        np.add.at(cent, label, self.v)
        self.centroids = cent / np.bincount(label, minlength=n_c)[:, None]

    def cos_to(self, q: int) -> np.ndarray:
        return self.v @ self.v[q] / (self.norms * self.norms[q])

    def query(self, q: int) -> QueryRef:
        cos = self.cos_to(q)
        cos[q] = -np.inf
        # every index tied with the k-th largest cosine, ordered by
        # (-cos, id): the head of a full sort at a fraction of its cost
        top = np.flatnonzero(cos >= np.partition(cos, -self.k)[-self.k])
        order = top[np.lexsort((top, -cos[top]))]
        c = self.centroids
        ccos = c @ self.v[q] / (np.linalg.norm(c, axis=1) * self.norms[q])
        probed = np.lexsort((np.arange(len(c)), -ccos))[: self.n_probe]
        cand = np.isin(self.label, probed)
        cand[q] = False
        rc = np.round(cos[cand] + EPS, 4)
        return QueryRef(
            exact_ids=[int(i) for i in order[: self.k]],
            ivf_cos=np.sort(rc)[::-1][: self.k].tolist(),
        )


def check_topk(ann: AnnRef, ref: QueryRef, q: int,
               rows: list[tuple[int, float]]) -> str | None:
    """Every returned cosine matches numpy to 1e-4, ids are distinct, and
    the returned cosines are the top-k of the probed clusters."""
    if len(rows) != len(ref.ivf_cos):
        return f"{len(rows)} rows != {len(ref.ivf_cos)}"
    if len({i for i, _ in rows}) != len(rows):
        return "duplicate ids"
    cos = ann.cos_to(q)
    for i, c in rows:
        if i == q or not math.isclose(float(cos[i]), c, abs_tol=1e-4):
            return f"id {i}: cos_sim {c} != numpy {float(cos[i]):.6f}"
    got = sorted((c for _, c in rows), reverse=True)
    for g, w in zip(got, ref.ivf_cos):
        if not math.isclose(g, w, abs_tol=1e-4):
            return f"top-k cosines differ: {got} vs {ref.ivf_cos}"
    return None
