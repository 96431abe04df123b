"""Connected components over an arbitrary edge list — the graph-merge step
a near-duplicate pipeline needs after LSH candidate generation (group all
transitively-linked duplicates, keep one canonical survivor).

Min-label propagation with per-round ``localCheckpoint``, keyed by node id:
works on any id graph, e.g. MinHash candidate pairs, or the fragment
adjacency ``label_cc.label`` merges distributed when it outgrows the driver.
Converges in O(diameter) rounds; duplicate clusters are near-cliques in
practice, so the diameter is tiny and 2-4 rounds suffice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def min_label_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, comp) for every node appearing in ``pairs``; comp = min node
    id reachable through the pair graph (canonical, deterministic).

    Scale: each round is one groupBy over the edge fan-out (edges are LSH
    candidates — already bounded) plus a join back to the labels; lineage is
    cut every round. Raises on non-convergence rather than returning a
    partially-merged grouping.
    """
    edges = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(
        pairs.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).distinct().localCheckpoint()

    lbl = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(lbl, edges["b"] == lbl["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("comp").alias("nmin"))
        )
        new = (
            lbl.join(nbr_min, lbl["node"] == F.col("node2"), "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
                (F.col("nmin") < F.col("comp")).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new.filter(F.col("_chg")).limit(1).count()
        lbl = new.select("node", "comp")
        if changed == 0:
            return lbl
    raise RuntimeError(
        f"min_label_components did not converge in {max_iter} rounds; "
        "component diameter exceeds the iteration budget"
    )
