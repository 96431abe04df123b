"""Seeded input generators. The same ``(seed, size)`` always gives the same
inputs; the program only ever sees what these functions return.

* ``make_image``: synthetic microscopy frame, Gaussian blobs on a noisy
  background (dask-image's quickstart input).
* ``make_corpus``: a ``documents``-schema table with planted near-duplicate
  pairs (token substitutions at ``edit_rate``) and a few boilerplate texts
  shared by many documents (hot LSH buckets).
* ``make_vectors``: unit vectors in an ``embeddings``-schema table, jittered
  around cluster centres whose sizes follow a Zipf law.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# The words of the repository's ``documents`` test table, extended with
# synthetic words so that unrelated documents rarely share a 3-shingle.
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# --- segment_image ----------------------------------------------------------


def make_image(seed: int, side: int, blobs_per_kpx: float = 2.4,
               noise: float = 0.05) -> np.ndarray:
    """``side``² float64 image: ``blobs_per_kpx`` blobs per 1000 pixels,
    sigma 1.2-3 px, amplitude 0.6-1.0, plus N(0, ``noise``) pixel noise."""
    rng = _rng(seed, 1)
    img = rng.normal(0.0, noise, (side, side))
    n_blobs = max(1, int(round(side * side * blobs_per_kpx / 1000)))
    cy = rng.uniform(0, side, n_blobs)
    cx = rng.uniform(0, side, n_blobs)
    sig = rng.uniform(1.2, 3.0, n_blobs)
    amp = rng.uniform(0.6, 1.0, n_blobs)
    for y, x, s, a in zip(cy, cx, sig, amp):
        r = int(np.ceil(4 * s))
        y0, y1 = max(0, int(y) - r), min(side, int(y) + r + 1)
        x0, x1 = max(0, int(x) - r), min(side, int(x) + r + 1)
        yy = np.arange(y0, y1)[:, None] - y
        xx = np.arange(x0, x1)[None, :] - x
        img[y0:y1, x0:x1] += a * np.exp(-(yy * yy + xx * xx) / (2 * s * s))
    return img


# --- dedup_corpus -----------------------------------------------------------


@dataclass
class Corpus:
    doc_id: np.ndarray        # int64, 0..n-1
    text: list[str]
    lang: list[str]
    source: list[str]
    planted: list[tuple[int, int]]  # (original, near-duplicate) ids, a < b
    hot_ids: np.ndarray       # documents carrying a boilerplate text

    def table(self):
        import pyarrow as pa

        return pa.table({
            "doc_id": pa.array(self.doc_id, pa.int64()),
            "text": pa.array(self.text, pa.string()),
            "lang": pa.array(self.lang, pa.string()),
            "source": pa.array(self.source, pa.string()),
            "n_chars": pa.array([len(t) for t in self.text], pa.int64()),
        })


def make_corpus(seed: int, n_docs: int, dup_rate: float = 0.05,
                edit_rate: float = 0.05, hot_share: float = 0.01,
                n_hot: int = 4, vocab: int = 3000) -> Corpus:
    """``n_docs`` documents of 8-80 Zipf-drawn tokens. Exactly
    ``dup_rate`` of them are copies of another ordinary document with each
    token replaced at ``edit_rate``; exactly ``hot_share`` of them carry one
    of ``n_hot`` identical boilerplate texts, in equal numbers."""
    rng = _rng(seed, 2)
    words = BASE_WORDS + [f"w{i}" for i in range(vocab - len(BASE_WORDS))]
    p = 1.0 / np.arange(1, vocab + 1) ** 0.8
    p /= p.sum()
    toks = [rng.choice(vocab, n, p=p) for n in rng.integers(8, 81, n_docs)]
    boiler = [rng.choice(vocab, 24, p=p) for _ in range(n_hot)]

    order = rng.permutation(n_docs)
    n_hot_docs = int(round(hot_share * n_docs))
    n_dup = int(round(dup_rate * n_docs))
    hot_ids = np.sort(order[:n_hot_docs])
    dup_ids = order[n_hot_docs:n_hot_docs + n_dup]
    ordinary = order[n_hot_docs + n_dup:]
    for j, i in enumerate(hot_ids):
        toks[i] = boiler[j % n_hot]
    planted: list[tuple[int, int]] = []
    for i, src in zip(dup_ids, rng.choice(ordinary, n_dup, replace=False)):
        t = toks[src].copy()
        edits = rng.random(len(t)) < edit_rate
        t[edits] = rng.choice(vocab, int(edits.sum()), p=p)
        toks[i] = t
        planted.append((int(min(i, src)), int(max(i, src))))
    langs = np.array(["en", "zh", "es", "fr", "de"])
    return Corpus(
        doc_id=np.arange(n_docs, dtype=np.int64),
        text=[" ".join(words[j] for j in t) for t in toks],
        lang=list(langs[rng.integers(0, len(langs), n_docs)]),
        source=[f"src{i % 20}" for i in range(n_docs)],
        planted=planted,
        hot_ids=hot_ids,
    )


# --- ann_search -------------------------------------------------------------


@dataclass
class Vectors:
    vec_id: np.ndarray   # int64
    emb: np.ndarray      # float32 (n, dim), unit rows
    label: np.ndarray    # int32 cluster id
    queries: np.ndarray  # int64 query ids, in the order they are asked

    def table(self):
        import pyarrow as pa

        flat = pa.array(self.emb.ravel(), pa.float32())
        lists = pa.ListArray.from_arrays(
            pa.array(np.arange(0, self.emb.size + 1, self.emb.shape[1],
                               dtype=np.int32)), flat)
        return pa.table({
            "vec_id": pa.array(self.vec_id, pa.int64()),
            "embedding": lists,
            "label": pa.array(self.label, pa.int32()),
        })


def make_vectors(seed: int, n: int, dim: int = 64, n_clusters: int = 10,
                 zipf: float = 1.0, spread: float = 1.2, shared: float = 1.5,
                 n_queries: int = 400) -> Vectors:
    """``n`` unit vectors: cluster c holds a share proportional to
    1/(c+1)^``zipf``. Centres are random unit vectors pulled towards one
    common direction (weight ``shared``); each vector is its centre plus
    isotropic noise of total norm ~``spread``, so some true neighbours sit
    in a cluster an IVF probe of 2 misses. Query ids are a seeded sample
    without replacement."""
    rng = _rng(seed, 3)
    w = 1.0 / np.arange(1, n_clusters + 1) ** zipf
    sizes = np.floor(w / w.sum() * n).astype(int)
    sizes[0] += n - sizes.sum()
    label = np.repeat(np.arange(n_clusters, dtype=np.int32), sizes)
    rng.shuffle(label)
    common = rng.normal(size=dim)
    common /= np.linalg.norm(common)
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    centres = shared * common + centres
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    v = centres[label] + rng.normal(0, spread / np.sqrt(dim), (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return Vectors(
        vec_id=np.arange(n, dtype=np.int64),
        emb=v.astype(np.float32),
        label=label,
        queries=rng.choice(n, size=min(n_queries, n), replace=False),
    )
