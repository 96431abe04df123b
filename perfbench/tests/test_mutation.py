"""The output checks catch a wrong answer: one flipped label, one dropped
pair or one swapped neighbour must raise the error rate above 0, while the
unmodified program scores 0.

Each mutation wraps one of the program's public functions for the length of
one tiny run, in a single Spark driver shared by the module.

Run with: python3 -m pytest perfbench/tests/test_mutation.py -q
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import run, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    run.prepare_env()
    s = run.start_session(trace.Tracer(), traced=False, app="perfbench-tests")
    yield s
    run.stop_session()


def error_rate(spark, name: str, prepare=None) -> float:
    wl = WORKLOADS[name](seed=5, size="tiny")
    wl.generate(os.path.join(run.WORK, "inputs", "tests", name))
    wl.reference()
    if prepare is not None:
        prepare(wl)
    res = run.measure(wl, spark, trace.Tracer(), seconds=0, t_ready=lambda: 0.0)
    attempted, failed = run.counts(res)
    return failed / attempted


def test_unmodified_program_scores_zero(spark):
    for name in WORKLOADS:
        assert error_rate(spark, name) == 0, name


def test_flipped_label(spark, monkeypatch):
    from pyspark.sql import functions as F

    from dask_image_spark.operators import label_cc

    def prepare(wl):
        # one pixel of the largest component gets a label of its own
        key = max(wl.ref.components, key=lambda k: wl.ref.components[k][0])
        y0, x0 = divmod(key, wl.side)
        orig = label_cc.label

        def flipped(*a, **kw):
            out = orig(*a, **kw)
            hit = (F.col("y") == y0) & (F.col("x") == x0)
            return out.withColumn(
                "label", F.when(hit, F.col("label") + 1).otherwise(F.col("label")))

        monkeypatch.setattr(label_cc, "label", flipped)

    assert error_rate(spark, "segment_image", prepare) > 0


def test_dropped_pair(spark, monkeypatch):
    from dask_image_spark.operators import textops

    orig = textops.lsh_band_pairs

    def dropped(*a, **kw):
        out = orig(*a, **kw)
        return out.exceptAll(out.orderBy("doc_a", "doc_b").limit(1))

    monkeypatch.setattr(textops, "lsh_band_pairs", dropped)
    assert error_rate(spark, "dedup_search") > 0


def test_swapped_neighbour(spark, monkeypatch):
    from dask_image_spark.operators import similarity

    def prepare(wl):
        orig = similarity.ivf_topk

        def swapped(emb, query_id, **kw):
            rows = orig(emb, query_id, **kw).collect()
            far = int(np.argmin(wl.ann.cos_to(query_id)))
            rows[0] = (far, rows[0]["cos_sim"])
            return emb.sparkSession.createDataFrame(rows, "vec_id long, cos_sim double")

        monkeypatch.setattr(similarity, "ivf_topk", swapped)

    assert error_rate(spark, "dedup_search", prepare) > 0
