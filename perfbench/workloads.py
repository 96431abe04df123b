"""The benchmark's workloads. Each one generates its inputs from the seed,
computes reference outputs without the program, loads the inputs into the
session once, and then runs one job at a time.

A job (``run``) calls the program's public functions only; every call plus
the materialisation of its output is wrapped in a span named after the
function. ``check`` then compares the job's output with the reference and
returns ``(error, quality)``: ``error`` is ``None`` when the output is
correct, otherwise the reason it is not; ``quality`` maps recall-style
ratios (share of the expected results found) to their value.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

from perfbench import gen
from perfbench import reference as ref

# Per-workload input sizes: ``full`` is what the benchmark measures, ``tiny``
# is for the benchmark's own tests.
SIZES = {
    "segment_image": {"full": {"side": 384, "tile": 192},
                      "tiny": {"side": 48, "tile": 16}},
    "dedup_search": {"full": {"n_docs": 8000, "n_vectors": 16384},
                     "tiny": {"n_docs": 300, "n_vectors": 600}},
}


@dataclass
class Ctx:
    spark: object
    tracer: object
    base_storage_mb: float = 0.0


class Workload:
    name = ""
    unit = ""          # unit of work per job, for the workload's throughput
    warmup_jobs = 1

    def __init__(self, seed: int, size: str):
        self.seed = seed
        self.size = SIZES[self.name][size]

    def generate(self, workdir: str) -> None: ...
    def reference(self) -> None: ...
    def load(self, ctx: Ctx) -> None: ...
    def run(self, ctx: Ctx, i: int): ...
    def check(self, i: int, out, tracer) -> tuple[str | None, dict]: ...
    def work_per_job(self) -> float: ...
    def properties(self) -> dict: ...


class SegmentImage(Workload):
    """Smooth -> threshold -> label -> measure on one synthetic frame."""

    name = "segment_image"
    unit = "Mpx"
    # the first job costs ~1.5x a warm one and the second ~1.1x
    warmup_jobs = 2

    def generate(self, workdir):
        self.side, self.tile = self.size["side"], self.size["tile"]
        self.img = gen.make_image(self.seed, self.side)

    def reference(self):
        self.ref = ref.segment_reference(self.img, self.tile)

    def load(self, ctx):
        import pandas as pd

        ys, xs = np.indices(self.img.shape)
        pdf = pd.DataFrame({
            "y": ys.ravel().astype(np.int32),
            "x": xs.ravel().astype(np.int32),
            "value": self.img.ravel(),
        })
        self.px = ctx.spark.createDataFrame(pdf).persist()
        self.px.count()

    def run(self, ctx, i):
        from pyspark.sql import functions as F

        from dask_image_spark.caching import persist_tracked, release_caches
        from dask_image_spark.operators import chunked, label_cc, ndmeasure

        span = ctx.tracer.span
        shape = (self.side, self.side)
        with span("chunked.map_overlap_tiles"):
            sm = chunked.map_overlap_tiles(
                self.px, ref.smooth_tile, shape, depth=ref.RADIUS,
                block=self.tile, mode="reflect")
            with span("caching.persist_tracked"):
                sm = persist_tracked(sm)
            sm.count()
        with span("bench.threshold"):
            thr = sm.agg(F.avg("v")).collect()[0][0]
            mask = sm.select("y", "x", (F.col("v") > F.lit(thr)).alias("m"))
        with span("label_cc.label"):
            lbl = label_cc.label(mask, shape, block=self.tile)
            with span("caching.persist_tracked"):
                lbl = persist_tracked(lbl)
            lbl.count()
        with span("ndmeasure.measure"):
            joined = lbl.join(self.px, ["y", "x"])
            rows = ndmeasure.area(joined).join(
                ndmeasure.mean(joined), "label").collect()
        areas = {r["label"]: r["area"] for r in rows}
        means = {r["label"]: r["mean_v"] for r in rows}
        _note_tracked_storage(ctx)
        with span("caching.release_caches"):
            release_caches()
        return areas, means

    def check(self, i, out, tracer):
        areas, means = out
        err = ref.check_segment(self.ref, areas, means)
        matched = sum(
            1 for k, (a, _) in self.ref.components.items() if areas.get(k) == a
        )
        return err, {"component_recall": matched / max(1, len(self.ref.components))}

    def work_per_job(self):
        return self.side * self.side / 1e6

    def properties(self):
        return {
            "image_side": self.side,
            "tile": self.tile,
            "foreground_fraction": round(self.ref.foreground, 4),
            "components": len(self.ref.components),
            "components_crossing_tiles": round(self.ref.border_share, 4),
        }


class DedupSearch(Workload):
    """The LLM-data user's loop: near-duplicate detection over a parquet
    corpus written once in set-up (MinHash signatures, LSH band pairs,
    keeps-first), then one top-10 IVF similarity query against vectors
    persisted once in set-up."""

    name = "dedup_search"
    unit = "kdocs"
    # jobs keep getting faster for the first four or so (query and band-join
    # plans warming up; ivf_topk halves its time over its first five calls);
    # each further warm-up costs ~5 s of set-up on every run
    warmup_jobs = 3
    K, N_PROBE = 10, 2

    def generate(self, workdir):
        import pyarrow.parquet as pq

        self.corpus = gen.make_corpus(self.seed, self.size["n_docs"])
        self.dir = os.path.join(workdir, "corpus")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, "documents.parquet")
        pq.write_table(self.corpus.table(), self.path)
        self.vecs = gen.make_vectors(self.seed, self.size["n_vectors"])

    def reference(self):
        self.pairs_ref = ref.dedup_reference(self.path)
        self.shingles = ref.shingle_sets(self.corpus.text)
        self.n_signed = sum(1 for s in self.shingles if s)
        self.planted = set(self.corpus.planted)
        self.ann = ref.AnnRef(self.vecs.emb, self.vecs.label, self.K, self.N_PROBE)
        self.topk_ref = {int(q): self.ann.query(int(q)) for q in self.vecs.queries}

    def _query(self, i: int) -> int:
        q = self.vecs.queries
        return int(q[i % len(q)])

    def load(self, ctx):
        self.emb = ctx.spark.createDataFrame(self.vecs.table().to_pandas())
        self.emb = self.emb.persist()
        self.emb.count()

    def run(self, ctx, i):
        from dask_image_spark.caching import persist_tracked, release_caches
        from dask_image_spark.operators import similarity, textops
        from dask_image_spark.sources.tables import load_table

        span = ctx.tracer.span
        with span("sources.tables.load_table"):
            docs = load_table(ctx.spark, self.dir, "documents")
        with span("textops.minhash_signatures"):
            sigs = textops.minhash_signatures(docs, n_hashes=8, k=3)
            with span("caching.persist_tracked"):
                sigs = persist_tracked(sigs)
            sigs.count()
        with span("textops.lsh_band_pairs"):
            pairs = [(r["doc_a"], r["doc_b"]) for r in
                     textops.lsh_band_pairs(sigs, 8, 2).collect()]
        with span("textops.lsh_keep_first"):
            kept = textops.lsh_keep_first(sigs, 8, 2).count()
        _note_tracked_storage(ctx)
        with span("caching.release_caches"):
            release_caches()
        with span("similarity.ivf_topk"):
            rows = [(r["vec_id"], r["cos_sim"]) for r in similarity.ivf_topk(
                self.emb, self._query(i), k=self.K, n_probe=self.N_PROBE
            ).collect()]
        return pairs, kept, rows

    def check(self, i, out, tracer):
        pairs, kept, rows = out
        if tracer.enabled:
            tracer.note("textops.lsh_band_pairs", "precision",
                        ref.pair_precision(pairs, self.shingles))
        q = self._query(i)
        err = (ref.check_pairs(self.pairs_ref, pairs)
               or ref.check_keep_first(self.n_signed, kept)
               or ref.check_topk(self.ann, self.topk_ref[q], q, rows))
        return err, {
            "planted_pair_recall":
                len(self.planted & set(pairs)) / max(1, len(self.planted)),
            "recall_at_10":
                len({v for v, _ in rows} & set(self.topk_ref[q].exact_ids)) / self.K,
        }

    def work_per_job(self):
        return self.size["n_docs"] / 1e3

    def properties(self):
        c = self.corpus
        sizes = np.bincount(self.vecs.label)
        return {
            "documents": len(c.doc_id),
            "planted_dup_rate": round(len(c.planted) / len(c.doc_id), 4),
            "planted_edit_rate": 0.05,
            "hot_bucket_share": round(len(c.hot_ids) / len(c.doc_id), 4),
            "reference_pairs": len(self.pairs_ref),
            "vectors": len(self.vecs.vec_id),
            "clusters": len(sizes),
            "cluster_zipf_exponent": 1.0,
            "largest_to_smallest_cluster": round(float(sizes.max() / sizes.min()), 2),
        }


def storage_mb(spark) -> float:
    """MB held in Spark storage (memory plus disk) right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(r.memSize() + r.diskSize() for r in infos) / 1e6


def _note_tracked_storage(ctx) -> None:
    """In a traced run, record the storage the job's tracked caches hold,
    above what set-up left cached."""
    if ctx.tracer.enabled:
        ctx.tracer.note("caching.persist_tracked", "stored_mb",
                        storage_mb(ctx.spark) - ctx.base_storage_mb)


WORKLOADS = {w.name: w for w in (SegmentImage, DedupSearch)}
