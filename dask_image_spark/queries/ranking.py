"""Corpus-ranking operators: link-graph centrality, sketch-based heavy
hitters, and hybrid retrieval fusion — the quality-weighting / frequency /
search stages a crawl-scale training-data pipeline runs on top of the
curation passes.

Reference parity note: upstream dask_image has no analogue — these are
SURVEY.md §2.B "LLM-data-pipeline" extensions, designed Spark-first. Every
query pairs with a strong DuckDB oracle; float policy per queries/base.py.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_image_spark.queries.base import (
    persist_tracked,
    r as _eps_round,
    register,
)
from dask_image_spark.sources.tables import load_table

# PageRank fixture graph: each document emits 3 out-links by fixed modular
# arithmetic over the contiguous doc_id space — deterministic, identically
# derivable by both engines, with real in-degree variation (the multi-edge
# collisions and uneven preimage counts are what give non-uniform ranks).
_PR_DAMPING = 0.85
# Single source of truth for the edge formula — formatted into BOTH the
# DuckDB oracle and the Spark builder (via F.expr), so an edit here changes
# the two sides together (ADVICE r6: it must never be possible to edit one
# copy and silently diverge).
# Mod-reduce src BEFORE squaring: (a*b) mod n == ((a mod n)(b mod n))
# mod n, so the value is IDENTICAL to the naive (src*src*31 + 7919*j)
# % n at every scale — but the naive form overflows int64 once ids
# reach ~5.4e8 (src^2*31 > 2^63; the x64 parity tier's 1.26e9 doc_ids
# hit it, round 10). (n-1)^2 stays < 2^63 for any corpus n < 3e9.
_PR_EDGE_SQL = (
    "((({src} % {n}) * ({src} % {n})) % {n} * 31 + 7919 * {j}) % {n}"
)


@register(
    "pagerank_2iter",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    edges AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    pr0 AS (SELECT doc_id, 1.0 / n.c AS pr FROM nodes CROSS JOIN n),
    agg1 AS (SELECT e.dst, SUM(p.pr / 3) AS inflow
             FROM edges e JOIN pr0 p ON p.doc_id = e.src GROUP BY e.dst),
    pr1 AS (SELECT nd.doc_id, 0.15 / n.c + 0.85 * COALESCE(a.inflow, 0) AS pr
            FROM nodes nd CROSS JOIN n
            LEFT JOIN agg1 a ON a.dst = nd.doc_id),
    agg2 AS (SELECT e.dst, SUM(p.pr / 3) AS inflow
             FROM edges e JOIN pr1 p ON p.doc_id = e.src GROUP BY e.dst),
    pr2 AS (SELECT nd.doc_id, 0.15 / n.c + 0.85 * COALESCE(a.inflow, 0) AS pr
            FROM nodes nd CROSS JOIN n
            LEFT JOIN agg2 a ON a.dst = nd.doc_id)
    SELECT p.doc_id, ROUND(1.2345e-8 + p.pr * n.c, 4) AS pr_norm
    FROM pr2 p CROSS JOIN n
    """,
    tags=("ranking", "graph", "pagerank"),
)
def pagerank_2iter(spark, sf_dir):
    """PageRank, 2 fixed power iterations (damping 0.85) over a
    deterministic 3-out-regular link graph on the document ids (QUADRATIC
    modular targets — non-invertible, so in-degrees genuinely vary: hubs,
    zero-in-degree leaves, and multi-edges all occur) — the
    crawl-graph centrality signal CommonCrawl-scale pipelines use to
    weight page quality before sampling (harmonic/PageRank centrality in
    the CCNet/RefinedWeb lineage). Fixed iteration count makes the whole
    computation SQL-replayable (the ``kmeans_lloyd_2iter`` precedent);
    converged PageRank is this block looped with a tolerance check.

    Scale shape: per iteration, ONE join of the rank vector to the edge
    list on src (both sides hash-partitioned by the same key — at scale
    you pre-partition edges once and every iteration reuses that
    partitioning) and ONE groupBy(dst) shuffle with map-side partial
    sums; dangling mass is structurally absent (every node has outdegree
    3). Ranks are emitted normalized to mean 1 (``pr * n``) so the
    4-decimal float policy keeps full signal at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    nodes = docs.crossJoin(F.broadcast(cnt))
    edges = nodes.select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        "src",
        F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
    ).hint("merge")
    # ^ the edge list is explode-derived and corpus-linear (3N rows) —
    # the static estimator is Generate-blind (round-11 rule), so without
    # the pin the planner broadcasts it as the rank join's build side at
    # fixture scale and the docstring's "both sides hash-partitioned"
    # shape silently doesn't exist. Merge pins it at every scale.

    def iterate(pr):
        contrib = (
            edges.join(
                pr.select(F.col("doc_id").alias("src"), "pr"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / 3).alias("inflow"))
        )
        return nodes.join(
            contrib, nodes.doc_id == contrib.dst, "left"
        ).select(
            "doc_id",
            "n",
            (
                (1.0 - _PR_DAMPING) / F.col("n")
                + _PR_DAMPING * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("pr"),
        )

    pr0 = nodes.select("doc_id", "n", (F.lit(1.0) / F.col("n")).alias("pr"))
    pr2 = iterate(iterate(pr0))
    return pr2.select(
        "doc_id", _eps_round(F.col("pr") * F.col("n"), 4).alias("pr_norm")
    )


# Heavy-hitter fixture stream: the driver's events are near-uniform over
# 150 users (no natural heavy hitter), so the item stream deterministically
# funnels every third event into one of 5 "whale" identities — the
# contract-level skew injection pattern (pii_redact / dedup augmentation):
# whales carry ~n/15 occurrences each (far above the n/K threshold), the
# per-user tail sits far below it, and both engines derive the identical
# stream.
_HH_K = 50
_HH_STREAM_SQL = """
      SELECT CASE WHEN event_id % 3 = 0
                  THEN 'whale' || CAST(user_id % 5 AS VARCHAR)
                  ELSE 'user' || CAST(user_id AS VARCHAR) END AS item
      FROM events
"""


@register(
    "mg_heavy_hitters",
    f"""
    WITH stream AS ({_HH_STREAM_SQL}),
    tot AS (SELECT COUNT(*) AS c FROM stream)
    SELECT item, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM stream CROSS JOIN tot
    GROUP BY item, tot.c
    HAVING COUNT(*) * {_HH_K} > tot.c
    """,
    tags=("ranking", "sketch", "heavy-hitters"),
)
def mg_heavy_hitters(spark, sf_dir):
    """Two-pass distributed heavy hitters (items with frequency > n/K,
    K=50) — the Misra-Gries summary + exact-rescan design that replaces a
    full-vocabulary groupBy when the item domain is huge (trillions of
    tokens, billions of distinct):

    1. **Sketch pass**: each partition maintains a K−1-counter
       Misra-Gries summary in ``mapInPandas`` (decrement-all on
       overflow). By pigeonhole, any global heavy hitter exceeds
       ``n_p/K`` in at least one partition, so the UNION of per-partition
       candidate sets is a guaranteed superset — with at most
       ``(K−1) × partitions`` candidates total, vs a full-domain shuffle.
    2. **Exact pass**: re-scan counting ONLY the broadcast candidate set
       (a tiny hash table per executor), then keep items whose exact
       count clears the threshold.

    The result is EXACT (the sketch only prunes), which is why a strong
    DuckDB oracle exists: plain GROUP BY ... HAVING count·K > n. A wrong
    decrement rule or lost candidate shows up as a missing row."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("whale"), (F.col("user_id") % 5).cast("string")),
        )
        .otherwise(F.concat(F.lit("user"), F.col("user_id").cast("string")))
        .alias("item")
    )

    def mg_sketch(batches):
        # Vectorized Misra-Gries: count each Arrow batch at C speed
        # (collections.Counter over the batch), MERGE the counted batch
        # into the running summary, and when more than K-1 counters
        # remain subtract the K-th largest count from all and drop the
        # non-positive ones. This is the standard mergeable-summary
        # combine (Agarwal et al., "Mergeability of Summaries", PODS'12):
        # total decrement stays <= n_p/K, so the pigeonhole superset
        # guarantee is intact — and since the exact rescan only counts
        # candidates, the query OUTPUT is identical to the per-row
        # formulation it replaces at ~5x less Python-interpreter time
        # per partition.
        from collections import Counter

        from dask_image_spark.operators.sketches import mg_merge_counts

        counters: dict = {}
        for pdf in batches:
            counters = mg_merge_counts(
                counters, Counter(pdf["item"].to_list()), _HH_K
            )
        yield pd.DataFrame({"item": list(counters)})

    cands = ev.mapInPandas(mg_sketch, "item string").distinct()
    total = ev.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        ev.join(F.broadcast(cands), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occ") * _HH_K > F.col("n_total"))
        .select("item", "n_occ")
    )


# Hybrid retrieval: the same 3-term lexical query the bm25_search op grades,
# fused with dense cosine retrieval against the vec_id=0 embedding (the
# similarity_top10 probe) by Reciprocal Rank Fusion (Cormack et al. 2009):
# rrf(d) = sum over lists of 1/(60 + rank_d). Both rank lists order by the
# ROUNDED score with id tiebreak, so engine and oracle ranks are identical.
_RRF_C = 60
_RRF_TOPN = 20


@register(
    "rrf_hybrid_search",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, len(t) AS dl FROM d),
    avgdl AS (SELECT AVG(dl) AS adl, COUNT(*) AS n FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM d)
      WHERE tok IN ('data', 'fast', 'query')
      GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    bm_scored AS (
      SELECT tf.doc_id,
             ROUND(1.2345e-8 + SUM(ln(1 + (n - df + 0.5) / (df + 0.5))
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / adl))), 4)
               AS bm25
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), avgdl
      GROUP BY tf.doc_id),
    bm_rank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm
      FROM bm_scored ORDER BY bm25 DESC, doc_id LIMIT {_RRF_TOPN}),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos_scored AS (
      SELECT vec_id AS doc_id,
             ROUND(1.2345e-8 + list_aggregate(list_transform(generate_series(1, 64),
                     i -> embedding[i]::DOUBLE * q.qv[i]::DOUBLE), 'sum')
               / (SQRT(list_aggregate(list_transform(embedding,
                     x -> x::DOUBLE * x::DOUBLE), 'sum'))
                * SQRT(list_aggregate(list_transform(q.qv,
                     x -> x::DOUBLE * x::DOUBLE), 'sum'))), 4) AS cos_sim
      FROM embeddings CROSS JOIN q WHERE vec_id <> 0),
    cos_rank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS r_cos
      FROM cos_scored ORDER BY cos_sim DESC, doc_id LIMIT {_RRF_TOPN})
    SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
           CAST(COALESCE(b.r_bm, 0) AS INT) AS r_bm25,
           CAST(COALESCE(c.r_cos, 0) AS INT) AS r_cos,
           ROUND(1.2345e-8
                 + COALESCE(1.0 / ({_RRF_C} + b.r_bm), 0)
                 + COALESCE(1.0 / ({_RRF_C} + c.r_cos), 0), 6) AS rrf
    FROM bm_rank b FULL OUTER JOIN cos_rank c ON b.doc_id = c.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    tags=("ranking", "ir", "hybrid"),
)
def rrf_hybrid_search(spark, sf_dir):
    """Hybrid lexical+dense retrieval via Reciprocal Rank Fusion (Cormack
    et al. 2009, the standard zero-tuning fusion in RAG/search stacks):
    BM25 top-20 for a 3-term query fused with brute-force cosine top-20
    against the vec_id=0 probe embedding, ``rrf = Σ 1/(60 + rank)``,
    absent-from-list contributes 0.

    Scale shape: each branch ends in a TakeOrderedAndProject heap (top-20
    per-partition, no global sort); the fusion join and rank windows then
    run on 20+20 rows — driver-trivial regardless of corpus size. Ranks
    order by the ROUNDED branch score with id tiebreak so both engines
    rank identically; the unpartitioned row_number windows are safe
    because their input is already the 20-row heap output."""
    from pyspark.sql import Window

    from dask_image_spark.operators import similarity

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    avgdl = dl.agg(F.avg("dl").alias("adl"), F.count(F.lit(1)).alias("n"))
    tf = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .filter(F.col("tok").isin("data", "fast", "query"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("adl"))
    bm = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .groupBy("doc_id")
        .agg(F.sum(idf * F.col("tf") * 2.2 / denom).alias("score"))
        .select("doc_id", _eps_round("score", 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_TOPN)
    )
    bmr = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("r_bm"),
    )
    e = load_table(spark, sf_dir, "embeddings")
    cos = similarity.brute_force_topk(e, query_id=0, k=_RRF_TOPN).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    cosr = cos.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos_sim").desc(), "doc_id"))
        .alias("r_cos"),
    )
    fused = bmr.join(cosr, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("r_bm", F.lit(0)).cast("int").alias("r_bm25"),
        F.coalesce("r_cos", F.lit(0)).cast("int").alias("r_cos"),
        _eps_round(
            F.coalesce(1.0 / (_RRF_C + F.col("r_bm")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_C + F.col("r_cos")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


# Count-min probe set: the 5 injected whales plus 3 ordinary users — the
# estimate MUST be exact for nothing (collisions are real at w=64) but
# deterministically identical in both engines (md5 bucket hashing).
_CMS_D = 4
_CMS_W = 64


@register(
    "cms_frequency_estimate",
    f"""
    WITH stream AS ({_HH_STREAM_SQL}),
    cells AS (
      SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || item),
                 1, 8))::BIGINT % {_CMS_W} AS bucket,
             COUNT(*) AS c
      FROM stream CROSS JOIN (VALUES (0), (1), (2), (3)) rows(r)
      GROUP BY 1, 2),
    probes AS (
      SELECT DISTINCT item FROM stream
      WHERE item IN ('whale0', 'whale1', 'whale2', 'whale3', 'whale4',
                     'user7', 'user42', 'user99')),
    est AS (
      SELECT p.item,
             MIN(c.c) AS est
      FROM probes p
      CROSS JOIN (VALUES (0), (1), (2), (3)) rows(r)
      JOIN cells c ON c.r = rows.r
       AND c.bucket = ('0x' || substr(md5(CAST(rows.r AS VARCHAR) || ':'
                       || p.item), 1, 8))::BIGINT % {_CMS_W}
      GROUP BY p.item),
    truth AS (SELECT item, COUNT(*) AS true_n FROM stream GROUP BY item)
    SELECT e.item, CAST(t.true_n AS BIGINT) AS true_n,
           CAST(e.est AS BIGINT) AS cms_est,
           CAST(e.est >= t.true_n AS BOOLEAN) AS never_underestimates
    FROM est e JOIN truth t ON t.item = e.item
    ORDER BY e.item
    """,
    tags=("ranking", "sketch", "count-min"),
)
def cms_frequency_estimate(spark, sf_dir):
    """COUNT-MIN SKETCH frequency estimation (Cormode & Muthukrishnan
    2005) — the fixed-memory point-query sketch that answers "how often
    did item X occur" over a stream whose domain is too big to count
    exactly: d=4 hash rows × w=64 buckets (256 cells total, vs the full
    item domain), estimate = MIN over rows of the item's cell. Graded
    on the same whale-skew stream as ``mg_heavy_hitters``; the result
    carries the exact count next to the estimate plus the sketch's
    defining one-sided guarantee (never underestimates — collisions
    only ADD). md5 bucket hashing makes both engines build bit-identical
    sketches, so the oracle is a full value match, not a tolerance.

    Scale shape: the sketch build is ONE groupBy over (row, bucket) —
    256 groups regardless of domain size, fully map-side combinable;
    probes join against the 256-cell broadcast. At 100 TB you'd widen w
    to control ε = e/w · N overestimate, still O(d·w) memory."""
    ev = load_table(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 3 == 0,
            F.concat(F.lit("whale"), (F.col("user_id") % 5).cast("string")),
        )
        .otherwise(F.concat(F.lit("user"), F.col("user_id").cast("string")))
        .alias("item")
    )
    rows_df = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("r")

    def bucket(r_col, item_col):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(r_col.cast("string"), F.lit(":"), item_col)),
                    1, 8,
                ),
                16, 10,
            ).cast("long"),
            F.lit(_CMS_W),
        )

    cells = (
        ev.select("item", rows_df)
        .select("r", bucket(F.col("r"), F.col("item")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    probe_names = [f"whale{i}" for i in range(5)] + ["user7", "user42", "user99"]
    probes = ev.filter(F.col("item").isin(probe_names)).select("item").distinct()
    probe_buckets = probes.select(
        "item", F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("r")
    ).select("item", "r", bucket(F.col("r"), F.col("item")).alias("bucket"))
    est = (
        probe_buckets.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("item")
        .agg(F.min("c").alias("cms_est"))
    )
    truth = ev.filter(F.col("item").isin(probe_names)).groupBy("item").agg(
        F.count(F.lit(1)).alias("true_n")
    )
    return (
        est.join(truth, "item")
        .select(
            "item", "true_n", "cms_est",
            (F.col("cms_est") >= F.col("true_n")).alias("never_underestimates"),
        )
        .orderBy("item")
    )


_BLOOM_M = 4096
_BLOOM_K = 3


@register(
    "bloom_membership",
    f"""
    WITH keys AS (
      SELECT sha256(text) AS fp FROM documents WHERE text IS NOT NULL),
    bits AS (
      SELECT DISTINCT ('0x' || substr(md5(CAST(h AS VARCHAR) || ':' || fp),
                       1, 8))::BIGINT % {_BLOOM_M} AS bit
      FROM keys CROSS JOIN (VALUES (0), (1), (2)) hh(h)),
    probes AS (
      SELECT sha256(text) AS p, TRUE AS actually_present, doc_id AS rn
      FROM documents WHERE text IS NOT NULL AND doc_id % 25 = 0
      UNION ALL
      SELECT sha256('absent-key-' || CAST(doc_id AS VARCHAR)) AS p,
             FALSE AS actually_present, 1000000 + doc_id AS rn
      FROM documents WHERE text IS NOT NULL AND doc_id % 25 = 0),
    pb AS (
      SELECT rn, actually_present,
             ('0x' || substr(md5(CAST(hh.h AS VARCHAR) || ':' || p),
              1, 8))::BIGINT % {_BLOOM_M} AS bit
      FROM probes CROSS JOIN (VALUES (0), (1), (2)) hh(h)),
    hits AS (
      SELECT pb.rn, pb.actually_present,
             CAST(COUNT(b.bit) = {_BLOOM_K} AS BOOLEAN) AS bloom_says
      FROM pb LEFT JOIN bits b ON b.bit = pb.bit
      GROUP BY pb.rn, pb.actually_present)
    SELECT CAST(actually_present AS BOOLEAN) AS actually_present,
           CAST(bloom_says AS BOOLEAN) AS bloom_says,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM hits GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("ranking", "sketch", "bloom"),
)
def bloom_membership(spark, sf_dir):
    """BLOOM FILTER membership — the fixed-memory set-membership sketch
    behind runtime join pruning and dedup pre-filters: m=4096 bit
    positions, k=3 md5-derived hashes, built over the corpus document
    fingerprints; probed with 20 PRESENT fingerprints (every 25th doc —
    a Bloom filter has NO false negatives, so these must all say yes)
    and 20 ABSENT synthetic keys (false positives allowed at the
    sketch's ~(1-e^{{-kn/m}})^k rate; at n=500, m=4096 that's <1%).
    The result is the confusion matrix; md5 hashing makes both engines
    build the identical bit set, so the match is exact.

    Scale shape: the bit set is a distinct-aggregate of O(k·n) hashes
    bounded by m=4096 DISTINCT values — broadcastable regardless of
    corpus size; probes check their k bits against the broadcast via
    one small join. At 100 TB this is how a dedup pass pre-filters
    "definitely new" documents without touching the full key set."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    hh = F.explode(F.array(*[F.lit(i) for i in range(_BLOOM_K)])).alias("h")

    def bit(h_col, key_col):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(h_col.cast("string"), F.lit(":"), key_col)),
                    1, 8,
                ),
                16, 10,
            ).cast("long"),
            F.lit(_BLOOM_M),
        )

    bits = (
        d.select(F.sha2("text", 256).alias("fp"))
        .select("fp", hh)
        .select(bit(F.col("h"), F.col("fp")).alias("bit"))
        .distinct()
    )
    # doc_id itself keys the probes (offset disambiguates the absent set)
    # — no row_number window, nothing funnels to one partition
    present = d.filter(F.pmod(F.col("doc_id"), F.lit(25)) == 0).select(
        F.sha2("text", 256).alias("p"),
        F.lit(True).alias("actually_present"),
        F.col("doc_id").alias("rn"),
    )
    absent = d.filter(F.pmod(F.col("doc_id"), F.lit(25)) == 0).select(
        F.sha2(
            F.concat(F.lit("absent-key-"), F.col("doc_id").cast("string")), 256
        ).alias("p"),
        F.lit(False).alias("actually_present"),
        (F.col("doc_id") + 1000000).alias("rn"),
    )
    pb = present.unionByName(absent).select(
        "rn", "actually_present", hh, "p"
    ).select("rn", "actually_present", bit(F.col("h"), F.col("p")).alias("bit"))
    hits = (
        pb.join(F.broadcast(bits.withColumn("present_bit", F.lit(1))), "bit", "left")
        .groupBy("rn", "actually_present")
        .agg((F.count("present_bit") == _BLOOM_K).alias("bloom_says"))
    )
    return (
        hits.groupBy("actually_present", "bloom_says")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("actually_present", "bloom_says")
    )


@register(
    "graph_triangle_count",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    raw AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM raw WHERE src <> dst),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges
    FROM tri
    """,
    tags=("ranking", "graph", "triangles"),
)
def graph_triangle_count(spark, sf_dir):
    """Distributed TRIANGLE COUNTING over the PageRank fixture graph —
    the clustering-coefficient numerator used for community structure
    and spam-farm detection in crawl graphs. The compact-forward
    algorithm: orient every undirected edge low-id -> high-id, then
    count paths a->b->c that close with an a->c edge — each triangle is
    counted EXACTLY once (its id-ordered orientation), and the join
    fan-out is bounded by out-degrees in the ORIENTED graph (at scale
    you orient by degree instead of id, capping the hub explosion —
    the Schank-Wagner/compact-forward refinement; id-orientation is the
    same plan shape). Two self-equi-joins on the edge table, both on
    its natural keys — the edge list is derived once and reused, and
    nothing ever enumerates 2-hop neighborhoods of unoriented hubs."""
    from dask_image_spark.queries.base import persist_tracked

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    raw = docs.crossJoin(F.broadcast(cnt)).select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        "src",
        F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
    )
    und = persist_tracked(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    # corpus-linear edge list — never a broadcast build side (the
    # pre-materialization estimate of the cached frame is Generate-blind)
    ).hint("merge")
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        und.join(e2, und.b == e2.b2)
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
    )
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return tri.agg(F.count(F.lit(1)).alias("n_triangles")).crossJoin(
        F.broadcast(n_edges)
    )


def _pagerank_converged_oracle(n_iters: int = 60) -> str:
    """Fixed-point replay: enough chained iterations that the replay sits
    within ~1e-12 of the fixed point the engine's tolerance loop stops
    at (rate 0.85^k; 41 iterations reach 1e-12 on this graph), so the
    4-decimal top-10 is identical however many iterations the engine's
    convergence check actually ran."""
    its = []
    prev = "pr0"
    for i in range(1, n_iters + 1):
        its.append(
            # AS MATERIALIZED: DuckDB inlines plain CTEs, and 60 chained
            # inlines blow the planner up exponentially — materialization
            # makes the replay linear in iterations (seconds, not hours)
            f"agg{i} AS MATERIALIZED (SELECT e.dst, SUM(p.pr / 3) AS inflow "
            f"FROM edges e JOIN {prev} p ON p.doc_id = e.src GROUP BY e.dst), "
            f"pr{i} AS MATERIALIZED (SELECT nd.doc_id, 0.15 / n.c + 0.85 * "
            f"COALESCE(a.inflow, 0) AS pr FROM nodes nd CROSS JOIN n "
            f"LEFT JOIN agg{i} a ON a.dst = nd.doc_id)"
        )
        prev = f"pr{i}"
    chain = ",\n    ".join(its)
    return f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    edges AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    pr0 AS (SELECT doc_id, 1.0 / n.c AS pr FROM nodes CROSS JOIN n),
    {chain}
    SELECT p.doc_id, ROUND(1.2345e-8 + p.pr * n.c, 4) AS pr_norm,
           CAST(TRUE AS BOOLEAN) AS converged
    FROM {prev} p CROSS JOIN n
    ORDER BY pr_norm DESC, p.doc_id
    LIMIT 10
    """


@register(
    "pagerank_converged",
    _pagerank_converged_oracle(),
    tags=("ranking", "graph", "pagerank", "iterative"),
)
def pagerank_converged(spark, sf_dir):
    """PageRank run to CONVERGENCE — the genuine iterative-algorithm
    control flow (``pagerank_2iter`` unrolls a fixed count; this one
    LOOPS with a driver-side tolerance check, the way an engine actually
    terminates power iteration): iterate until max |Δpr| < 1e-10 (cap
    60), checking the residual every 5 iterations so the driver
    materializes ~8 times, not 60, and ``localCheckpoint`` truncates the
    lineage at each check so the plan never grows unboundedly. Graded on
    the top-10 ranks (well-separated at the fixed point — symmetric-pair
    ties are EXACT equalities, id-tiebroken) plus the converged flag;
    the oracle replays 60 fixed iterations, which lands within ~1e-12 of
    the same fixed point, so the 4-decimal match is iteration-count
    independent.

    Scale shape: identical per-iteration plan to ``pagerank_2iter`` (one
    src join + one dst groupBy, reusable partitioning); the convergence
    check adds one tiny max-aggregate per 5 iterations; checkpointing is
    what makes 40+ iterations viable on a real cluster (lineage and plan
    size stay O(1) per check)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    nodes = docs.crossJoin(F.broadcast(cnt))
    edges = nodes.select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        "src",
        F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
    ).localCheckpoint()

    def iterate(pr):
        contrib = (
            edges.join(pr.select(F.col("doc_id").alias("src"), "pr"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / 3).alias("inflow"))
        )
        return nodes.join(
            contrib, nodes.doc_id == contrib.dst, "left"
        ).select(
            "doc_id",
            "n",
            (
                (1.0 - _PR_DAMPING) / F.col("n")
                + _PR_DAMPING * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("pr"),
        )

    tol, cap, check_every = 1e-10, 60, 5
    pr = nodes.select(
        "doc_id", "n", (F.lit(1.0) / F.col("n")).alias("pr")
    ).localCheckpoint()
    converged = False
    done = 0
    while done < cap and not converged:
        prev = pr
        for _ in range(check_every):
            pr = iterate(pr)
        done += check_every
        pr = pr.localCheckpoint()  # truncate lineage at each residual check
        resid = (
            pr.join(
                prev.select("doc_id", F.col("pr").alias("pr_prev")), "doc_id"
            )
            .agg(F.max(F.abs(F.col("pr") - F.col("pr_prev"))).alias("r"))
            .collect()[0]["r"]
        )
        converged = resid < tol
    return (
        pr.select(
            "doc_id",
            _eps_round(F.col("pr") * F.col("n"), 4).alias("pr_norm"),
            F.lit(bool(converged)).alias("converged"),
        )
        .orderBy(F.col("pr_norm").desc(), "doc_id")
        .limit(10)
    )


@register(
    "tree_depth_doubling",
    """
    WITH RECURSIVE
    r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS v
      FROM documents),
    walk AS (
      SELECT v, v AS cur, 0 AS d FROM r
      UNION ALL
      SELECT v, (cur - 1) // 2 AS cur, d + 1 FROM walk WHERE cur > 0),
    depth AS (SELECT v, MAX(d) AS depth FROM walk GROUP BY v)
    SELECT CAST(depth.depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(r.n_chars) AS BIGINT) AS total_chars
    FROM depth JOIN r ON r.v = depth.v
    GROUP BY depth.depth
    ORDER BY depth
    """,
    tags=("ranking", "graph", "hierarchy", "pointer-doubling"),
)
def tree_depth_doubling(spark, sf_dir):
    """Hierarchy traversal by POINTER DOUBLING — the O(log depth)
    technique that replaces depth-many sequential self-joins when
    walking parent chains at scale (org charts, BOM explosions, category
    trees; a chain of length d costs d joins naively but only ceil(log2
    d) doubling rounds): the ancestor map starts as each node's
    arithmetic parent in the implicit binary heap over corpus ORDINALS
    (parent = (v-1)/2) and composes with ITSELF each round, so after k
    rounds every node knows its 2^k-step ancestor and accumulated step
    count. Result: nodes and character mass per level — the per-level
    rollup a hierarchy aggregation produces. The oracle is the
    sequential recursive-CTE walk, so the logarithmic composition must
    agree with the linear one exactly. Scale: each round is ONE
    equi-join of the ancestor map to itself (same key domain, reusable
    partitioning); depth-10^6 chains cost 20 rounds, not a million.

    The heap is built over the DENSE RANK of doc_id, not the raw id:
    pointer doubling requires every chain node to exist in the map,
    and raw ids only guarantee that when they happen to be dense
    0..N-1 (the ×16 parity tier's offset id blocks broke the old
    raw-id form — every offset copy's arithmetic parent fell in an id
    gap and the inner join silently dropped it; caught round 10). The
    rank uses the [[stable_global_index]] two-phase zipWithIndex idiom
    (range-partition, number locally, broadcast per-partition offsets)
    so no single-partition global sort exists at any scale. On dense
    ids rank == id, so base-SF results are unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    s = docs.select("doc_id").repartitionByRange(8, "doc_id")
    pid = s.withColumn("pid", F.spark_partition_id())
    wp = Window.partitionBy("pid").orderBy("doc_id")
    local = pid.withColumn("rn", F.row_number().over(wp))
    counts = local.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    wo = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "off", F.coalesce(F.sum("c").over(wo), F.lit(0))
    ).select("pid", "off")
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "doc_id", (F.col("off") + F.col("rn") - 1).cast("long").alias("v")
    )
    v = F.col("v")
    j = ranked.select(
        v.alias("v"),
        F.when(v > 0, ((v - 1) / 2).cast("long")).otherwise(F.lit(0)).alias("a"),
        F.when(v > 0, F.lit(1)).otherwise(F.lit(0)).alias("d"),
    )
    # 6 doublings resolve ancestor chains up to 2^6 = 64 deep — an upper
    # bound on log2(N) for any N < 2^64, so the unroll is scale-safe for
    # any conceivable corpus (depth of the implicit doc_id heap is
    # floor(log2(N)); the round-7 review caught the previous constant 4,
    # which silently under-counted past 65k docs). The root's self-loop
    # (a=0, d=0) makes extra rounds idempotent, so over-provisioning
    # costs two more bounded self-joins, never correctness.
    for _ in range(6):
        right = j.select(
            F.col("v").alias("rv"), F.col("a").alias("ra"),
            F.col("d").alias("rd"),
        )
        j = j.join(right, j.a == right.rv).select(
            "v", F.col("ra").alias("a"), (F.col("d") + F.col("rd")).alias("d")
        )
    return (
        j.join(ranked, "v")
        .join(docs, "doc_id")
        .groupBy(F.col("d").cast("int").alias("depth"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("depth")
    )


@register(
    "bfs_3hop",
    f"""
    WITH RECURSIVE
    nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    edges AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    reach(doc_id, dist) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, r.dist + 1
      FROM reach r JOIN edges e ON e.src = r.doc_id
      WHERE r.dist < 3)
    SELECT doc_id, CAST(MIN(dist) AS INT) AS dist
    FROM reach GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("ranking", "graph", "bfs"),
)
def bfs_3hop(spark, sf_dir):
    """Single-source BFS shortest hop-distance, bounded at 3 hops, over
    the same deterministic 3-out-regular link graph as ``pagerank_2iter``
    — the k-hop neighborhood expansion (crawl frontier scheduling, account
    link-fraud rings, citation radius). Frontier-iterative form: each hop
    joins ONLY the newest frontier (not the whole visited set) against the
    edge list, then an anti-join drops already-visited nodes, so per-hop
    work is O(frontier out-degree) — the delta-iteration shape Pregel/
    GraphX use, which is why it survives billion-edge graphs while the
    oracle's recursive CTE (which re-derives every path) is exponential in
    the hop bound. Visited stays small (<= nodes); at cluster scale both
    sides of the per-hop join hash-partition on the node id, and the
    3-hop unroll is a fixed 3-stage plan with no driver-side loop state
    beyond plan construction."""
    from dask_image_spark.queries.base import persist_tracked

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    # Persisted because every hop references it: the cached edge list is
    # scanned per hop instead of Catalyst splicing a fresh derivation
    # subtree into each iteration — the "partition the edges once, reuse
    # every iteration" posture shared with pagerank_2iter.
    edges = persist_tracked(
        docs.crossJoin(F.broadcast(cnt))
        .select(
            F.col("doc_id").alias("src"),
            "n",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select(
            "src",
            F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
        )
    )
    visited = docs.filter(F.col("doc_id") == 0).select(
        "doc_id", F.lit(0).alias("dist")
    )
    frontier = visited
    for hop in (1, 2, 3):
        # the frontier is CONTRACT-bounded (<= 3^hop nodes from one
        # source at out-degree 3) — broadcast it explicitly; the
        # corpus-scale cached edge list must never be the build side
        # (its pre-materialization estimate is Generate-blind)
        reached = (
            edges.join(
                F.broadcast(frontier.select(F.col("doc_id").alias("src"))),
                "src",
            )
            .select(F.col("dst").alias("doc_id"))
            .distinct()
        )
        frontier = reached.join(visited, "doc_id", "left_anti").select(
            "doc_id", F.lit(hop).alias("dist")
        )
        visited = visited.unionByName(frontier)
    return visited.select(
        "doc_id", F.col("dist").cast("int").alias("dist")
    ).orderBy("doc_id")


# ONE SQL text, executed verbatim by BOTH engines (Spark 4's recursive
# CTE support makes the oracle literally the query): {tbl} is the only
# dialect seam (temp-view name vs registered table).
_RECURSIVE_BFS_SQL = """
    WITH RECURSIVE
    nodes AS (SELECT doc_id FROM {tbl}),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    edges AS (
      SELECT doc_id AS src,
             (((doc_id % n.c) * (doc_id % n.c)) % n.c * 31
              + 7919 * j) % n.c AS dst
      FROM nodes CROSS JOIN n
      CROSS JOIN (VALUES (1), (2), (3)) AS t(j)),
    reach(doc_id, dist) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT e.dst, r.dist + 1
      FROM reach r JOIN edges e ON e.src = r.doc_id
      WHERE r.dist < 3)
    SELECT doc_id, CAST(MIN(dist) AS INT) AS dist
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""


@register(
    "recursive_cte_reachability",
    _RECURSIVE_BFS_SQL.format(tbl="documents"),
    tags=("ranking", "graph", "sql-surface", "recursive-cte"),
)
def recursive_cte_reachability(spark, sf_dir):
    """Spark 4 RECURSIVE CTE surface: the bounded-hop reachability query
    as LITERAL ``WITH RECURSIVE`` SQL — the exact same text DuckDB runs
    as the oracle (one string, one dialect seam: the table name). This
    is the migration path for warehouse SQL using recursion
    (hierarchies, BOMs, graph closures): it now runs unchanged. The
    DataFrame twin `bfs_3hop` remains the SCALE path — the recursive
    CTE re-derives every path per iteration (UNION ALL breadth
    expansion, exponential in the hop bound on dense graphs), while the
    delta-iteration form joins only the new frontier; same answer,
    plan-pinned difference — which is exactly why both are graded."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    docs.createOrReplaceTempView("documents_rec_bfs")
    return spark.sql(_RECURSIVE_BFS_SQL.format(tbl="documents_rec_bfs"))


@register(
    "lpa_communities_2iter",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    dir_edges AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    edges AS (
      SELECT src, dst FROM dir_edges WHERE src <> dst
      UNION ALL
      SELECT dst AS src, src AS dst FROM dir_edges WHERE src <> dst),
    lab0 AS (SELECT doc_id AS v, doc_id AS lab FROM nodes),
    vote1 AS (
      SELECT e.dst AS v, l.lab, COUNT(*) AS c
      FROM edges e JOIN lab0 l ON l.v = e.src GROUP BY e.dst, l.lab),
    pick1 AS (
      SELECT v, lab FROM (
        SELECT v, lab, ROW_NUMBER() OVER (
          PARTITION BY v ORDER BY c DESC, lab ASC) AS rn FROM vote1)
      WHERE rn = 1),
    lab1 AS (SELECT nd.doc_id AS v, COALESCE(p.lab, nd.doc_id) AS lab
             FROM nodes nd LEFT JOIN pick1 p ON p.v = nd.doc_id),
    vote2 AS (
      SELECT e.dst AS v, l.lab, COUNT(*) AS c
      FROM edges e JOIN lab1 l ON l.v = e.src GROUP BY e.dst, l.lab),
    pick2 AS (
      SELECT v, lab FROM (
        SELECT v, lab, ROW_NUMBER() OVER (
          PARTITION BY v ORDER BY c DESC, lab ASC) AS rn FROM vote2)
      WHERE rn = 1)
    SELECT nd.doc_id, COALESCE(p.lab, nd.doc_id) AS community
    FROM nodes nd LEFT JOIN pick2 p ON p.v = nd.doc_id
    """,
    tags=("ranking", "graph", "community"),
)
def lpa_communities_2iter(spark, sf_dir):
    """LABEL PROPAGATION community detection (Raghavan et al. 2007), two
    SYNCHRONOUS iterations over the symmetrized PageRank fixture graph:
    every node adopts its neighbors' plurality label, ties broken by the
    smallest label — the deterministic variant, so the whole computation
    is SQL-replayable (same fixed-iteration contract as
    ``pagerank_2iter`` / ``kmeans_lloyd_2iter``). The plurality argmax is
    ONE aggregate per iteration: groupBy(node, label) count, then
    ``max(struct(count, -label))`` per node — no per-node window sort,
    and both aggregates are partial+final (map-side combinable). At
    graph scale each iteration is the same join-on-src /
    aggregate-on-dst shape as PageRank, reusing one edge partitioning;
    asynchronous LPA converges faster but is order-dependent — the
    synchronous form is what a distributed engine can grade."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    nodes = docs.crossJoin(F.broadcast(cnt))
    dir_edges = nodes.select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        "src",
        F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    # symmetrized edge list: 2x corpus-linear, explode-derived — never a
    # broadcast build side (Generate-blind estimate, round-11 rule)
    edges = dir_edges.union(
        dir_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).hint("merge")

    def step(lab):
        votes = (
            edges.join(lab.select(F.col("v").alias("src"), "lab"), "src")
            .groupBy(F.col("dst").alias("v"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        picked = (
            votes.groupBy("v")
            .agg(F.max(F.struct(F.col("c"), (-F.col("lab")).alias("neg"))).alias("s"))
            .select("v", (-F.col("s.neg")).alias("lab"))
        )
        return docs.join(
            picked, docs.doc_id == picked.v, "left"
        ).select(
            F.col("doc_id").alias("v"),
            F.coalesce("lab", "doc_id").alias("lab"),
        )

    lab = docs.select(F.col("doc_id").alias("v"), F.col("doc_id").alias("lab"))
    for _ in range(2):
        lab = step(lab)
    return lab.select(F.col("v").alias("doc_id"), F.col("lab").alias("community"))


_BF_W_SQL = "1 + ({src} * 7 + {dst} * 13) % 5"


def _bf_oracle(rounds: int = 3) -> str:
    ctes = [
        "nodes AS (SELECT doc_id FROM documents)",
        "n AS (SELECT COUNT(*) AS c FROM nodes)",
        f"""edges AS (
      SELECT src, dst, {_BF_W_SQL.format(src="src", dst="dst")} AS w
      FROM (SELECT doc_id AS src,
                   {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
            FROM nodes CROSS JOIN n
            CROSS JOIN (VALUES (1), (2), (3)) t(j))
      WHERE src <> dst)""",
        "d0 AS (SELECT doc_id AS v, CASE WHEN doc_id = 0 THEN 0 END AS d "
        "FROM nodes)",
    ]
    prev = "d0"
    for k in range(1, rounds + 1):
        ctes.append(
            f"""d{k} AS (
      SELECT p.v,
             LEAST(COALESCE(p.d, 999999999),
                   COALESCE(MIN(q.d + e.w), 999999999)) AS raw
      FROM {prev} p
      LEFT JOIN edges e ON e.dst = p.v
      LEFT JOIN {prev} q ON q.v = e.src AND q.d IS NOT NULL
      GROUP BY p.v, p.d)""",
        )
        ctes.append(
            f"d{k}c AS (SELECT v, CASE WHEN raw < 999999999 THEN raw END "
            f"AS d FROM d{k})"
        )
        prev = f"d{k}c"
    return (
        "WITH " + ",\n    ".join(ctes)
        + f" SELECT v AS doc_id, CAST(d AS BIGINT) AS dist FROM {prev} "
        "WHERE d IS NOT NULL"
    )


@register(
    "bellman_ford_3round",
    _bf_oracle(3),
    tags=("ranking", "graph", "shortest-path"),
)
def bellman_ford_3round(spark, sf_dir):
    """WEIGHTED single-source shortest paths, 3 synchronous Bellman-Ford
    relaxation rounds from node 0 over the fixture graph with
    deterministic edge weights 1-5 — the weighted companion to
    ``bfs_3hop`` (hop counts) and the fixed-iteration SQL-replayable
    contract of ``pagerank_2iter``. Each round is ONE equi-join of the
    frontier distances to the edge list on src and ONE min-aggregate on
    dst, merged with the previous distances — the delta-relaxation
    shape; converged SSSP is this block looped until no distance
    improves. Distances are exact for all nodes whose shortest path
    uses <= 3 edges (the emitted set), and the min-merge makes rounds
    monotone, so a relaxation bug shows up as a wrong value, not just a
    missing row."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(cnt))
        .select(
            F.col("doc_id").alias("src"),
            "n",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select(
            "src",
            F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src", "dst",
            F.expr(_BF_W_SQL.format(src="src", dst="dst")).alias("w"),
        )
        # corpus-linear explode-derived edge list — never broadcast
        .hint("merge")
    )
    dist = docs.select(
        F.col("doc_id").alias("v"),
        F.when(F.col("doc_id") == 0, F.lit(0)).cast("long").alias("d"),
    )
    for _ in range(3):
        relax = (
            edges.join(
                dist.filter(F.col("d").isNotNull()).select(
                    F.col("v").alias("src"), F.col("d").alias("ds")
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min(F.col("ds") + F.col("w")).alias("dr"))
        )
        dist = (
            dist.join(relax, "v", "left")
            .select(
                "v",
                F.least(
                    F.coalesce("d", F.lit(999999999)),
                    F.coalesce("dr", F.lit(999999999)),
                ).alias("raw"),
            )
            .select(
                "v",
                F.when(F.col("raw") < 999999999, F.col("raw"))
                .cast("long")
                .alias("d"),
            )
        )
    return dist.filter(F.col("d").isNotNull()).select(
        F.col("v").alias("doc_id"), F.col("d").alias("dist")
    )


@register(
    "clustering_coefficient",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    raw AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM raw WHERE src <> dst),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    tv AS (
      SELECT v, COUNT(*) AS t FROM (
        SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri) GROUP BY v)
    SELECT deg.v AS doc_id, CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tv.t, 0) AS BIGINT) AS n_triangles,
           ROUND(1.2345e-8 + 2.0 * COALESCE(tv.t, 0)
                 / (deg.d * (deg.d - 1)), 4) AS coeff
    FROM deg LEFT JOIN tv ON tv.v = deg.v
    WHERE deg.d >= 2
    """,
    tags=("ranking", "graph", "triangles", "clustering"),
)
def clustering_coefficient(spark, sf_dir):
    """LOCAL clustering coefficient per node — how interconnected each
    node's neighborhood is (2T_v / deg(deg−1)), the per-entity
    community-density signal on top of the global
    ``graph_triangle_count``: link-farm detection keys on nodes whose
    coefficient is anomalously high for their degree. Reuses the
    id-oriented triangle enumeration (each triangle found once, then
    credited to all three corners via an explode+groupBy) and a
    degree table from the same persisted edge list — two aggregates and
    the triangle joins, no new shuffle classes. Nodes of degree >= 2
    only (the coefficient is undefined below)."""
    from dask_image_spark.queries.base import persist_tracked

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    raw = docs.crossJoin(F.broadcast(cnt)).select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        "src",
        F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
    )
    und = persist_tracked(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    # corpus-linear edge list (the hint sits ABOVE the cached relation,
    # so it survives into every self-join below) — never broadcast
    ).hint("merge")
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tv = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    return (
        deg.join(tv, "v", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("v").alias("doc_id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            _eps_round(
                2.0 * F.coalesce("t", F.lit(0))
                / (F.col("d") * (F.col("d") - 1)),
                4,
            ).alias("coeff"),
        )
    )


# Shared IR-eval fixture: 10 queries, blocked candidates, hash-derived
# scores and 0-3 relevance grades — one SQL text for every IR metric's
# oracle so the fixtures cannot drift apart.
_IR_CAND_SQL = """q AS (SELECT unnest(generate_series(0, 9)) AS qid),
    cand AS (
      SELECT q.qid, d.doc_id,
             ('0x' || substr(md5('sc:' || CAST(q.qid AS VARCHAR) || ':'
                || CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT AS score,
             ('0x' || substr(md5('rel:' || CAST(q.qid AS VARCHAR) || ':'
                || CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT % 4 AS rel
      FROM documents d JOIN q ON d.doc_id % 25 = q.qid)"""


@register(
    "ndcg_at_10",
    f"""
    WITH {_IR_CAND_SQL},
    ranked AS (
      SELECT qid, rel,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY rel DESC, doc_id) AS irnk
      FROM cand),
    dcg AS (
      SELECT qid,
             SUM(CASE WHEN rnk <= 10 THEN
                 (POW(2, rel) - 1) / LOG(2, rnk + 1.0) ELSE 0 END) AS dcg,
             SUM(CASE WHEN irnk <= 10 THEN
                 (POW(2, rel) - 1) / LOG(2, irnk + 1.0) ELSE 0 END) AS idcg
      FROM ranked GROUP BY qid)
    SELECT qid, ROUND(1.2345e-8 + dcg, 4) AS dcg,
           ROUND(1.2345e-8 + idcg, 4) AS idcg,
           ROUND(1.2345e-8 + dcg / NULLIF(idcg, 0), 4) AS ndcg
    FROM dcg
    """,
    tags=("ranking", "ir", "evaluation"),
)
def ndcg_at_10(spark, sf_dir):
    """NDCG@10 — the graded-relevance ranking metric search evals run
    (completing the IR family: `bm25_search` scores, `rrf_hybrid_search`
    fuses, this MEASURES): per query, the exponential-gain DCG of the
    score-ranked top 10 normalized by the ideal ordering's DCG. Ten
    deterministic queries over hash-derived scores and 0-3 relevance
    grades (so scored order ≠ ideal order and NDCG lands strictly
    inside (0, 1) — a metric pinned at 1.0 would grade nothing); both
    rankings are per-query windows over candidate sets bounded by the
    blocking key, and both DCG sums are combinable aggregates. The
    log2-position discount and the 2^rel − 1 gain are the standard
    (Burges) formulation."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    qids = d.sparkSession.range(10).select(F.col("id").alias("qid"))
    cand = d.join(
        F.broadcast(qids), F.col("doc_id") % 25 == F.col("qid")
    )

    def h(seed, mod=None, width=6):
        x = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed),
                        F.col("qid").cast("string"),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1, width,
            ),
            16, 10,
        ).cast("bigint")
        return x if mod is None else F.pmod(x, F.lit(mod))

    scored = cand.select(
        "qid", "doc_id", h("sc:").alias("score"), h("rel:", 4).alias("rel")
    )
    wr = Window.partitionBy("qid").orderBy(F.col("score").desc(), "doc_id")
    wi = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "doc_id")
    ranked = scored.select(
        "qid", "rel",
        F.row_number().over(wr).alias("rnk"),
        F.row_number().over(wi).alias("irnk"),
    )
    gain = F.pow(F.lit(2.0), F.col("rel")) - 1
    dcg = ranked.groupBy("qid").agg(
        F.sum(
            F.when(F.col("rnk") <= 10, gain / F.log2(F.col("rnk") + 1.0))
            .otherwise(0.0)
        ).alias("dcg"),
        F.sum(
            F.when(F.col("irnk") <= 10, gain / F.log2(F.col("irnk") + 1.0))
            .otherwise(0.0)
        ).alias("idcg"),
    )
    return dcg.select(
        "qid",
        _eps_round("dcg", 4).alias("dcg"),
        _eps_round("idcg", 4).alias("idcg"),
        _eps_round(
            F.col("dcg") / F.nullif(F.col("idcg"), F.lit(0.0)), 4
        ).alias("ndcg"),
    )


@register(
    "retrieval_mrr_hit",
    f"""
    WITH {_IR_CAND_SQL},
    ranked AS (
      SELECT qid, rel,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rnk
      FROM cand),
    firsts AS (
      SELECT qid, MIN(rnk) AS first_rel
      FROM ranked WHERE rel >= 2 GROUP BY qid)
    SELECT r.qid,
           CAST(f.first_rel AS BIGINT) AS first_rel_rank,
           ROUND(1.2345e-8 + 1.0 / f.first_rel, 4) AS rr,
           CAST(MAX(CASE WHEN r.rnk <= 5 AND r.rel >= 2
                    THEN 1 ELSE 0 END) AS INT) AS hit_at_5
    FROM ranked r JOIN firsts f ON f.qid = r.qid
    GROUP BY r.qid, f.first_rel
    """,
    tags=("ranking", "ir", "evaluation"),
)
def retrieval_mrr_hit(spark, sf_dir):
    """MRR and HIT@5 — the navigational-search metrics next to NDCG's
    graded view (same shared fixture, single SQL source, so the three
    IR evals describe one ranking): per query, the reciprocal rank of
    the first RELEVANT result (grade >= 2) and whether any relevant
    result lands in the top 5. One ranking window over the blocked
    candidates, then a per-query min — averaging rr over queries IS
    the MRR, and the per-query rows grade the tail (a query whose
    first hit sits at rank 7 contributes 0.14, invisible in any
    averaged scalar)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    qids = d.sparkSession.range(10).select(F.col("id").alias("qid"))
    cand = d.join(F.broadcast(qids), F.col("doc_id") % 25 == F.col("qid"))

    def h(seed, mod=None):
        x = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed), F.col("qid").cast("string"),
                        F.lit(":"), F.col("doc_id").cast("string"),
                    )
                ),
                1, 6,
            ),
            16, 10,
        ).cast("bigint")
        return x if mod is None else F.pmod(x, F.lit(mod))

    scored = cand.select(
        "qid", "doc_id", h("sc:").alias("score"), h("rel:", 4).alias("rel")
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "doc_id")
    ranked = scored.select(
        "qid", "rel", F.row_number().over(w).alias("rnk")
    )
    firsts = (
        ranked.filter(F.col("rel") >= 2)
        .groupBy("qid")
        .agg(F.min("rnk").alias("first_rel"))
    )
    return (
        ranked.join(firsts, "qid")
        .groupBy("qid", "first_rel")
        .agg(
            F.max(
                F.when((F.col("rnk") <= 5) & (F.col("rel") >= 2), 1)
                .otherwise(0)
            ).cast("int").alias("hit_at_5")
        )
        .select(
            "qid",
            F.col("first_rel").cast("long").alias("first_rel_rank"),
            _eps_round(1.0 / F.col("first_rel"), 4).alias("rr"),
            "hit_at_5",
        )
    )


def _kcore_oracle(k: int = 3, rounds: int = 4) -> str:
    ctes = [
        "nodes AS (SELECT doc_id FROM documents)",
        "n AS (SELECT COUNT(*) AS c FROM nodes)",
        f"""dirs AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src,
               {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
        FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2)) t(j))
      WHERE src <> dst)""",
        """edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM dirs
        UNION ALL SELECT dst AS src, src AS dst FROM dirs))""",
        "s0 AS (SELECT doc_id AS v FROM nodes)",
    ]
    prev = "s0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""s{i} AS (
      SELECT e.src AS v FROM edges e
      JOIN {prev} a ON a.v = e.src JOIN {prev} b ON b.v = e.dst
      GROUP BY e.src HAVING COUNT(*) >= {k})"""
        )
        prev = f"s{i}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
    SELECT e.src AS doc_id, CAST(COUNT(*) AS BIGINT) AS deg
    FROM edges e
    JOIN {prev} a ON a.v = e.src JOIN {prev} b ON b.v = e.dst
    GROUP BY e.src ORDER BY e.src
    """
    )


@register(
    "kcore_decomposition",
    _kcore_oracle(),
    tags=("ranking", "graph", "kcore"),
)
def kcore_decomposition(spark, sf_dir):
    """3-CORE DECOMPOSITION by iterative peeling (4 fixed synchronous
    rounds + a final in-subgraph degree report) over a thinned simple
    symmetrized fixture graph (out-degree 2, so the peel PROVABLY
    cascades: 500 -> 206 -> 201 -> 199 survivors at sf0.01 — a k under
    the minimum degree would grade vacuously on an unpeeled graph) — the graph-cleanup pass dedup
    pipelines run before community detection (degree-1 tendrils are
    usually boilerplate chains, the dense core is the real duplicate
    cluster). Per round: ONE degree aggregate over edges whose both
    endpoints survive (two semi-shaped equi-joins against the current
    survivor set + a partial+final count), then the degree-&gt;=k filter;
    ``localCheckpoint`` truncates lineage per round like the other
    iterative ops (pagerank/bfs/LPA). Survivor sets only SHRINK, so the
    joins get cheaper every round; the edge list partitioning is
    reusable across rounds. The oracle replays the fixed peels as a CTE
    chain — the `pagerank_2iter` fixed-iteration contract."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    dirs = (
        docs.select(
            F.col("doc_id").alias("src"),
            F.lit(n).alias("n"),
            F.explode(F.array(F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            "src",
            F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = (
        dirs.union(
            dirs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )

    def surviving_degrees(surv):
        return (
            edges.join(surv.withColumnRenamed("v", "src"), "src")
            .join(
                surv.select(F.col("v").alias("dst")), "dst"
            )
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
        )

    surv = docs.select(F.col("doc_id").alias("v"))
    for _ in range(4):
        surv = (
            surviving_degrees(surv)
            .filter(F.col("deg") >= 3)
            .select(F.col("src").alias("v"))
            .localCheckpoint()
        )
    return (
        surviving_degrees(surv)
        .select(
            F.col("src").alias("doc_id"), F.col("deg").cast("long").alias("deg")
        )
        .orderBy("doc_id")
    )


@register(
    "hits_2iter",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    edges AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    a1 AS (SELECT dst, CAST(COUNT(*) AS BIGINT) AS a
           FROM edges GROUP BY dst),
    h1 AS (SELECT e.src, SUM(a1.a) AS h
           FROM edges e JOIN a1 ON a1.dst = e.dst GROUP BY e.src),
    a2 AS (SELECT e.dst, SUM(h1.h) AS a
           FROM edges e JOIN h1 ON h1.src = e.src GROUP BY e.dst),
    h2 AS (SELECT e.src, SUM(a2.a) AS h
           FROM edges e JOIN a2 ON a2.dst = e.dst GROUP BY e.src)
    SELECT nd.doc_id,
           CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth,
           CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub
    FROM nodes nd
    LEFT JOIN a2 ON a2.dst = nd.doc_id
    LEFT JOIN h2 ON h2.src = nd.doc_id
    ORDER BY auth DESC, doc_id LIMIT 20
    """,
    tags=("ranking", "graph", "hits"),
)
def hits_2iter(spark, sf_dir):
    """HITS hubs-and-authorities (Kleinberg), 2 synchronous iterations
    over the PageRank fixture graph — the second classical link-analysis
    centrality (good-hub-points-at-good-authority mutual recursion),
    complementing ``pagerank_2iter``'s random-surfer model. From the
    all-ones start the UNNORMALIZED iterates are INTEGERS (a1 =
    in-degree counts, h1/a2/h2 = integer sums over neighbors), so two
    iterations need no quantization barrier at all: the top-20
    authority heap is bit-exact on both engines, where normalized HITS
    would force a float contract every iteration.

    Plan shape per half-iteration: ONE equi-join of the score vector to
    the edge list + ONE partial-agg groupBy — identical to the PageRank
    iteration template, reusing the same (src)/(dst) partitionings, so
    at scale the four half-steps pin to two exchanges' worth of
    distinct keys. Zero-score nodes surface through the LEFT joins
    (COALESCE 0), keeping leaf pages visible in the result."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = (
        docs.crossJoin(F.broadcast(cnt))
        .select(
            F.col("doc_id").alias("src"),
            "n",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select(
            "src",
            F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias(
                "dst"
            ),
        )
    )
    from dask_image_spark.queries.base import persist_tracked

    # corpus-linear edge list — never a broadcast build side; merge
    # reuses the (src)/(dst) partitionings the docstring describes
    edges = persist_tracked(edges).hint("merge")
    a1 = edges.groupBy("dst").agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    h1 = (
        edges.join(a1, "dst")
        .groupBy("src")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        edges.join(h1, "src")
        .groupBy("dst")
        .agg(F.sum("h").alias("a"))
    )
    h2 = (
        edges.join(a2, "dst")
        .groupBy("src")
        .agg(F.sum("a").alias("h"))
    )
    return (
        # the score vectors are NODE-LINEAR (one row per reachable node)
        # — corpus-scale on a crawl graph, never a broadcast build side
        docs.join(
            a2.select(F.col("dst").alias("doc_id"), "a").hint("merge"),
            "doc_id", "left",
        )
        .join(
            h2.select(F.col("src").alias("doc_id"), "h").hint("merge"),
            "doc_id", "left",
        )
        .select(
            "doc_id",
            F.coalesce("a", F.lit(0)).alias("auth"),
            F.coalesce("h", F.lit(0)).alias("hub"),
        )
        .orderBy(F.desc("auth"), "doc_id")
        .limit(20)
    )


@register(
    "adamic_adar_linkpred",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    raw AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM raw WHERE src <> dst),
    adj AS (SELECT a AS z, b AS v FROM und
            UNION ALL SELECT b AS z, a AS v FROM und),
    deg AS (SELECT z, COUNT(*) AS d FROM adj GROUP BY z),
    wz AS (SELECT z, 1.0 / LN(d) AS w FROM deg WHERE d >= 2),
    pairs AS (
      SELECT l.v AS a, r.v AS b, SUM(w.w) AS score
      FROM adj l JOIN adj r ON r.z = l.z AND l.v < r.v
      JOIN wz w ON w.z = l.z
      GROUP BY l.v, r.v),
    novel AS (
      SELECT p.a, p.b, p.score FROM pairs p
      LEFT JOIN und u ON u.a = p.a AND u.b = p.b
      WHERE u.a IS NULL)
    SELECT a, b, ROUND(1.2345e-8 + score, 4) AS aa_score
    FROM novel
    ORDER BY ROUND(1.2345e-8 + score, 4) DESC, a, b LIMIT 15
    """,
    tags=("ranking", "graph", "link-prediction"),
)
def adamic_adar_linkpred(spark, sf_dir):
    """ADAMIC-ADAR LINK PREDICTION over the fixture graph: score every
    NON-ADJACENT pair by the sum of 1/ln(degree) over their common
    neighbors — the classic who-should-link signal (friend suggestion,
    related-page mining, knowledge-graph completion); rare shared
    neighbors count more than hubs. Top-15 predicted links.

    Plan: common-neighbor enumeration is ONE self-join of the adjacency
    list on the shared endpoint with l.v < r.v (each unordered pair
    once) — fan-out Σ deg(z)², the same bounded wedge enumeration
    triangle counting uses, never an all-pairs product; at scale hubs
    get capped by degree-thresholding exactly like compact-forward
    orientation. Degree weights broadcast (|nodes| rows); existing
    edges leave via one anti-join. Determinism: scores are sums of
    1/ln(integer-degree) doubles — ordered AFTER the shared 4-decimal
    rounding (ROUND(eps + x)), tie-broken on (a, b), so cross-engine
    ulp noise can't reorder the heap. Nodes of degree < 2 contribute
    nothing (ln 1 = 0 would blow up; the standard AA convention),
    enforced identically on both sides."""
    from dask_image_spark.queries.base import persist_tracked

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    raw = (
        docs.crossJoin(F.broadcast(cnt))
        .select(
            F.col("doc_id").alias("src"),
            "n",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select(
            "src",
            F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias(
                "dst"
            ),
        )
    )
    und = persist_tracked(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    # corpus-linear edge list — the hint above the cached relation pins
    # the wedge self-join and the anti-join below (never broadcast)
    ).hint("merge")
    # the hint must sit ABOVE the union: a hint below a Union does not
    # reach joins of the unioned frame, and adj (2x corpus-linear) was
    # still broadcast into the wedge self-join without it
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("z"), F.col("a").alias("v"))
    ).hint("merge")
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    wz = deg.filter(F.col("d") >= 2).select(
        "z", (F.lit(1.0) / F.log("d")).alias("w")
    )
    left = adj.select("z", F.col("v").alias("va"))
    right = adj.select(F.col("z").alias("z2"), F.col("v").alias("vb"))
    # The degree-weight join is MERGE-pinned, not broadcast: wz is
    # NODE-LINEAR (|nodes| rows — billions at a crawl graph), and the
    # wedge stream is already partitioned on z from the self-join, so
    # the sort-merge reuses that exchange and only wz shuffles
    # (round-11 audit: the old explicit broadcast shipped a
    # corpus-linear frame to every executor).
    pairs = (
        left.join(right, (F.col("z2") == F.col("z")) & (F.col("va") < F.col("vb")))
        .hint("merge")
        .join(wz, "z")
        .groupBy(F.col("va").alias("a"), F.col("vb").alias("b"))
        .agg(F.sum("w").alias("score"))
    )
    novel = pairs.join(und, ["a", "b"], "left_anti")
    return (
        novel.select("a", "b", _eps_round("score", 4).alias("aa_score"))
        .orderBy(F.desc("aa_score"), "a", "b")
        .limit(15)
    )


@register(
    "ppr_seeded_2iter",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    edges AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    seeds AS (SELECT doc_id FROM nodes WHERE doc_id % 101 = 0),
    ns AS (SELECT COUNT(*) AS c FROM seeds),
    v AS (
      SELECT nd.doc_id,
             CASE WHEN s.doc_id IS NULL THEN 0.0 ELSE 1.0 / ns.c END AS tp
      FROM nodes nd CROSS JOIN ns
      LEFT JOIN seeds s ON s.doc_id = nd.doc_id),
    agg1 AS (SELECT e.dst, SUM(p.tp / 3) AS inflow
             FROM edges e JOIN v p ON p.doc_id = e.src GROUP BY e.dst),
    pr1 AS (SELECT vv.doc_id, 0.15 * vv.tp + 0.85 * COALESCE(a.inflow, 0)
              AS pr
            FROM v vv LEFT JOIN agg1 a ON a.dst = vv.doc_id),
    agg2 AS (SELECT e.dst, SUM(p.pr / 3) AS inflow
             FROM edges e JOIN pr1 p ON p.doc_id = e.src GROUP BY e.dst),
    pr2 AS (SELECT vv.doc_id, 0.15 * vv.tp + 0.85 * COALESCE(a.inflow, 0)
              AS pr
            FROM v vv LEFT JOIN agg2 a ON a.dst = vv.doc_id)
    SELECT p.doc_id, ROUND(1.2345e-8 + p.pr * n.c, 4) AS ppr_norm
    FROM pr2 p CROSS JOIN n
    ORDER BY ROUND(1.2345e-8 + p.pr * n.c, 4) DESC, p.doc_id LIMIT 20
    """,
    tags=("ranking", "graph", "pagerank"),
)
def ppr_seeded_2iter(spark, sf_dir):
    """PERSONALIZED PAGERANK, 2 power iterations — [[pagerank_2iter]]'s
    recurrence with the teleport vector concentrated on a SEED SET
    (every 101st doc, uniform mass) instead of uniform-over-all:
    pr = 0.15 v_S + 0.85 A^T pr, started from v_S. The
    neighborhood-relevance ranker behind 'related items', trust
    propagation (TrustRank seeds = vetted domains), and local community
    scoring — mass stays near the seeds instead of mixing to the
    global stationary vector. Top-20 by normalized score, rounded
    BEFORE the ordering so the cut is engine-stable.

    Plan: identical physical shape to [[pagerank_2iter]] (per
    iteration: rank-vector join edges on src, groupBy dst with
    map-side partial sums) — the teleport is a broadcast left join.
    At 100 TB seeded PPR is CHEAPER than global PageRank in its
    converged form (push-style approximations touch only the seed
    neighborhood); the fixed-iteration power form shares the
    pre-partitioned edge list across iterations."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    edges = persist_tracked(
        docs.crossJoin(F.broadcast(cnt))
        .select(
            F.col("doc_id").alias("src"),
            "n",
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
        )
        .select(
            "src",
            F.expr(
                _PR_EDGE_SQL.format(src="src", j="j", n="n")
            ).alias("dst"),
        )
    # corpus-linear edge list — never a broadcast build side
    ).hint("merge")
    seeds = docs.filter(F.col("doc_id") % 101 == 0)
    ns = seeds.agg(F.count(F.lit(1)).alias("ns"))
    v = (
        docs.crossJoin(F.broadcast(ns))
        .join(
            seeds.select(F.col("doc_id"), F.lit(1).alias("is_seed")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.when(F.col("is_seed").isNull(), 0.0)
            .otherwise(1.0 / F.col("ns"))
            .alias("tp"),
        )
    )

    def iterate(pr, col):
        inflow = (
            edges.join(
                pr.select(F.col("doc_id").alias("src"), F.col(col)), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.col(col) / 3).alias("inflow"))
        )
        return v.join(
            inflow.select(F.col("dst").alias("doc_id"), "inflow"),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            "tp",
            (
                0.15 * F.col("tp")
                + 0.85 * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("pr"),
        )

    pr1 = iterate(v.withColumn("pr", F.col("tp")), "tp")
    pr2 = iterate(pr1, "pr")
    out = pr2.crossJoin(F.broadcast(cnt)).select(
        "doc_id",
        _eps_round(F.col("pr") * F.col("n"), 4).alias("ppr_norm"),
    )
    return out.orderBy(F.col("ppr_norm").desc(), "doc_id").limit(20)


@register(
    "ktruss_edge_support",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    raw AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM raw WHERE src <> dst),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM und e1
      JOIN und e2 ON e2.a = e1.b
      JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    sup AS (
      SELECT a, b, COUNT(*) AS s FROM (
        SELECT a, b FROM tri
        UNION ALL SELECT b AS a, c AS b FROM tri
        UNION ALL SELECT a, c AS b FROM tri) t
      GROUP BY a, b),
    alle AS (
      SELECT u.a, u.b, COALESCE(s.s, 0) AS support
      FROM und u LEFT JOIN sup s ON s.a = u.a AND s.b = u.b)
    SELECT support, CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(SUM(CASE WHEN support >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS in_4truss
    FROM alle GROUP BY support ORDER BY support
    """,
    tags=("ranking", "graph", "triangles"),
)
def ktruss_edge_support(spark, sf_dir):
    """K-TRUSS EDGE SUPPORT — per-edge triangle membership counts over
    the fixture graph, histogrammed, with the 4-truss first-round
    survivor count (support >= k-2 = 2): the truss decomposition's
    unit step, the community-core detector that is strictly stronger
    than [[ktruss_edge_support]]'s input signal [[graph_triangle_count]]
    (a global count) and than k-core (degree-only). Full k-truss
    iterates prune-and-recount to a fixpoint; one exact round keeps
    the fixed-step contract and already separates bridge edges
    (support 0) from community cores.

    Plan: triangles enumerate ONCE via the id-oriented compact-forward
    join ([[graph_triangle_count]]'s plan), then each triangle posts
    support to its three edges — a UNION ALL of three projections into
    one partial-agg groupBy on the edge key: no second triangle pass,
    no per-edge subquery. At 100 TB the triangle join dominates;
    support attribution rides the same edge-key partitioning."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    raw = docs.crossJoin(F.broadcast(cnt)).select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        "src",
        F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
    )
    und = persist_tracked(
        raw.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    # corpus-linear edge list — never a broadcast build side (the
    # pre-materialization estimate of the cached frame is Generate-blind)
    ).hint("merge")
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        und.join(e2, und.b == e2.b2)
        .join(
            e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3"))
        )
        .select("a", "b", "c")
    )
    posts = (
        tri.select("a", "b")
        .unionAll(tri.select(F.col("b").alias("a"), F.col("c").alias("b")))
        .unionAll(tri.select("a", F.col("c").alias("b")))
    )
    sup = posts.groupBy("a", "b").agg(F.count(F.lit(1)).alias("s"))
    alle = und.join(sup, ["a", "b"], "left").select(
        F.coalesce(F.col("s"), F.lit(0)).alias("support")
    )
    return (
        alle.groupBy("support")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum(
                F.when(F.col("support") >= 2, 1).otherwise(0)
            ).cast("long").alias("in_4truss"),
        )
        .orderBy("support")
    )


@register(
    "katz_centrality_2iter",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    edges AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    x1 AS (
      SELECT nd.doc_id,
             1.0 + 0.1 * COALESCE(a.infl, 0) AS x
      FROM nodes nd LEFT JOIN (
        SELECT dst, CAST(COUNT(*) AS DOUBLE) AS infl
        FROM edges GROUP BY dst) a ON a.dst = nd.doc_id),
    x2 AS (
      SELECT nd.doc_id,
             1.0 + 0.1 * COALESCE(a.infl, 0) AS x
      FROM nodes nd LEFT JOIN (
        SELECT e.dst, SUM(x1.x) AS infl
        FROM edges e JOIN x1 ON x1.doc_id = e.src GROUP BY e.dst) a
        ON a.dst = nd.doc_id)
    SELECT doc_id, ROUND(1.2345e-8 + x, 4) AS katz
    FROM x2 ORDER BY doc_id
    """,
    tags=("ranking", "graph", "centrality"),
)
def katz_centrality_2iter(spark, sf_dir):
    """KATZ CENTRALITY, 2 fixed Jacobi iterations (alpha=0.1, beta=1)
    over the same deterministic 3-out-regular link graph as
    [[pagerank_2iter]]: x_{{k+1}} = beta + alpha * A^T x_k, the
    attenuation-weighted count of walks arriving at each node.
    Distinct from PageRank in exactly the way that matters for corpus
    weighting: contributions are NOT divided by out-degree, so a hub
    that links widely confers full (attenuated) credit to every
    target — the 'influence' rather than 'random-surfer' axiom; with
    alpha below 1/lambda_max the fixed-point exists and two iterations
    are the SQL-replayable prefix (the [[kmeans_lloyd_2iter]]
    precedent). x1 is closed-form 1 + alpha*indeg; multi-edges carry
    multiplicity on both engines.

    Plan: per iteration ONE rank-vector-to-edges join on src + ONE
    groupBy(dst) with map-side partial sums — identical shuffle shape
    to [[pagerank_2iter]], so the same pre-partitioned-edges posture
    holds at 100 TB; the node frame re-join is a left join on the
    same key."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    nodes = docs.crossJoin(F.broadcast(cnt))
    edges = nodes.select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        "src",
        F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
    # corpus-linear explode-derived edge list — never broadcast
    ).hint("merge")
    indeg = edges.groupBy("dst").agg(
        F.count(F.lit(1)).cast("double").alias("infl")
    )
    x1 = docs.join(indeg, docs.doc_id == indeg.dst, "left").select(
        "doc_id",
        (1.0 + 0.1 * F.coalesce(F.col("infl"), F.lit(0.0))).alias("x"),
    )
    infl2 = (
        edges.join(x1.select(F.col("doc_id").alias("src"), "x"), "src")
        .groupBy("dst")
        .agg(F.sum("x").alias("infl"))
    )
    x2 = docs.join(infl2, docs.doc_id == infl2.dst, "left").select(
        "doc_id",
        (1.0 + 0.1 * F.coalesce(F.col("infl"), F.lit(0.0))).alias("x"),
    )
    return x2.select(
        "doc_id", _eps_round("x", 4).alias("katz")
    ).orderBy("doc_id")


@register(
    "wl_relabel_1iter",
    f"""
    WITH nodes AS (SELECT doc_id FROM documents),
    n AS (SELECT COUNT(*) AS c FROM nodes),
    edges AS (
      SELECT doc_id AS src,
             {_PR_EDGE_SQL.format(src="doc_id", j="j", n="n.c")} AS dst
      FROM nodes CROSS JOIN n CROSS JOIN (VALUES (1), (2), (3)) t(j)),
    l0 AS (
      SELECT nd.doc_id, COALESCE(d.indeg, 0) AS lbl
      FROM nodes nd LEFT JOIN (
        SELECT dst, CAST(COUNT(*) AS BIGINT) AS indeg
        FROM edges GROUP BY dst) d ON d.dst = nd.doc_id),
    nb AS (
      SELECT e.src AS doc_id,
             STRING_AGG(CAST(l0.lbl AS VARCHAR), ','
                        ORDER BY l0.lbl, e.dst) AS sig
      FROM edges e JOIN l0 ON l0.doc_id = e.dst GROUP BY e.src),
    wl AS (
      SELECT l0.doc_id, l0.lbl AS lbl0,
             MD5(CAST(l0.lbl AS VARCHAR) || '|' || COALESCE(nb.sig, ''))
               AS wl1
      FROM l0 LEFT JOIN nb ON nb.doc_id = l0.doc_id)
    SELECT doc_id, CAST(lbl0 AS BIGINT) AS indeg_label,
           SUBSTRING(wl1, 1, 16) AS wl1_sig,
           CAST(COUNT(*) OVER (PARTITION BY wl1) AS BIGINT) AS class_size
    FROM wl ORDER BY doc_id
    """,
    tags=("ranking", "graph", "isomorphism"),
)
def wl_relabel_1iter(spark, sf_dir):
    """WEISFEILER-LEHMAN RELABELING, one refinement round — the color
    refinement behind WL graph kernels and GNN expressiveness bounds:
    each node's new color = hash(own label | sorted multiset of
    out-neighbor labels), starting from in-degree (out-degree is
    constant 3 on this graph, so in-degree is the informative seed).
    Emits each node's refined signature (16 hex chars of the md5) and
    its color-class size — the refinement histogram two graphs must
    share to remain WL-indistinguishable. The multiset string sorts by
    (label, dst) so multi-edge duplicates order deterministically on
    both engines.

    Plan: ONE indeg groupBy, ONE edges-to-labels join on dst + groupBy
    (src) building the sorted neighbor string (collect_list bounded by
    out-degree 3 — never a wide row), ONE window count on the color
    key. At 100 TB each round is a constant number of key-partitioned
    shuffles; rounds iterate the same shape, exactly how distributed
    WL kernels run."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cnt = docs.agg(F.count(F.lit(1)).alias("n"))
    nodes = docs.crossJoin(F.broadcast(cnt))
    edges = nodes.select(
        F.col("doc_id").alias("src"),
        "n",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        "src",
        F.expr(_PR_EDGE_SQL.format(src="src", j="j", n="n")).alias("dst"),
    # corpus-linear explode-derived edge list — never broadcast
    ).hint("merge")
    indeg = edges.groupBy("dst").agg(
        F.count(F.lit(1)).cast("long").alias("indeg")
    )
    l0 = docs.join(indeg, docs.doc_id == indeg.dst, "left").select(
        "doc_id", F.coalesce("indeg", F.lit(0)).alias("lbl")
    )
    nb = (
        edges.join(
            l0.select(F.col("doc_id").alias("dst"), "lbl"), "dst"
        )
        .groupBy("src")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("lbl", "dst"))
                    ),
                    lambda s: s["lbl"].cast("string"),
                ),
                ",",
            ).alias("sig")
        )
        .withColumnRenamed("src", "doc_id")
    )
    wl = l0.join(nb, "doc_id", "left").select(
        "doc_id",
        F.col("lbl").alias("lbl0"),
        F.md5(
            F.concat(
                F.col("lbl").cast("string"),
                F.lit("|"),
                F.coalesce("sig", F.lit("")),
            )
        ).alias("wl1"),
    )
    return wl.select(
        "doc_id",
        F.col("lbl0").cast("long").alias("indeg_label"),
        F.substring("wl1", 1, 16).alias("wl1_sig"),
        F.count(F.lit(1))
        .over(Window.partitionBy("wl1"))
        .cast("long")
        .alias("class_size"),
    ).orderBy("doc_id")
