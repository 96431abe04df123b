"""Training-data curation operators, part 2: the content-shaping stages a
100 TB pretraining pipeline runs between dedup and packing.

Reference parity note: the reference (upstream dask_image) has no direct
analogue for these — they are SURVEY.md §2.B "LLM-data-pipeline" mandated
extensions, designed Spark-first:

- ``pii_redact``       — regex PII scrubbing (emails / phones / IPv4),
                          pure codegen ``regexp_replace`` chain, map-only.
- ``chunk_overlap``    — overlapping context-window chunking (size 64,
                          stride 48), one generator explode, no shuffle.
- ``token_zipf``       — corpus-level Zipf fit (regr_slope over log-log
                          rank/frequency), two partial-agg shuffles.
- ``mine_hard_negatives`` — contrastive hard-negative mining: top-k
                          highest-cosine DIFFERENT-label vectors per
                          anchor, broadcast anchors, no corpus self-join.
- ``dedup_semantic``   — SemDeDup (Abbas et al. 2023): k-means cluster,
                          then near-cosine keep-first dedup WITHIN each
                          cluster only — the cluster step is what makes
                          semantic dedup sub-quadratic at scale.
- ``mix_temperature``  — temperature-weighted source mixing (the
                          multilingual-sampling rule from GPT-3/PaLM data
                          work): w_s ∝ mass_s^α, deterministic hash
                          thinning to each source's quota.

Every query pairs with a strong DuckDB oracle; float compares follow the
repo-wide EPS+round policy (queries/base.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_image_spark.operators import similarity
from dask_image_spark.operators.salted import salted_pair_join
from dask_image_spark.queries.base import (
    persist_tracked,
    r as _eps_round,
    register,
)
from dask_image_spark.sources.tables import load_table

# Synthetic PII augmentation: the test corpus is clean word soup, so both
# engine and oracle append a deterministic doc_id-derived contact line; the
# redaction regexes then have real (and countable) material to scrub. The
# construction is part of the query contract, not a fixture.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+1-555-[0-9]{4}"
_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@register(
    "pii_redact",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or call +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
      FROM documents WHERE text IS NOT NULL),
    red AS (
      SELECT doc_id, t,
             regexp_replace(regexp_replace(regexp_replace(t,
               '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_IP_RE}', '<IP>', 'g') AS rt
      FROM aug)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(regexp_replace(t, '{_EMAIL_RE}',
                '<EMAIL>', 'g'), '{_PHONE_RE}')) AS INT) AS n_phone,
           CAST(len(regexp_extract_all(regexp_replace(regexp_replace(t,
                '{_EMAIL_RE}', '<EMAIL>', 'g'), '{_PHONE_RE}', '<PHONE>',
                'g'), '{_IP_RE}')) AS INT) AS n_ip,
           CAST(length(t) - length(rt) AS INT) AS chars_redacted,
           md5(rt) AS redacted_hash
    FROM red
    """,
    tags=("pipeline", "curation", "pii"),
)
def pii_redact(spark, sf_dir):
    """PII scrubbing — the compliance pass every training corpus runs:
    chained ``regexp_replace`` for emails, then phone numbers, then IPv4
    addresses (order matters: the email pattern must not see digits the
    phone mask already consumed, so counts are taken on the progressively
    redacted string exactly as the replacements are applied). Pure JVM
    codegen expressions, map-only — zero shuffles, linear scan at any
    scale. Patterns use explicit character classes (no \\d / \\w
    shorthand) so Java-regex and RE2 agree byte-for-byte."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."), ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("t"),
    )
    after_email = F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>")
    after_phone = F.regexp_replace(after_email, _PHONE_RE, "<PHONE>")
    rt = F.regexp_replace(after_phone, _IP_RE, "<IP>")
    return aug.select(
        "doc_id",
        F.regexp_count(F.col("t"), F.lit(_EMAIL_RE)).cast("int").alias("n_email"),
        F.regexp_count(after_email, F.lit(_PHONE_RE)).cast("int").alias("n_phone"),
        F.regexp_count(after_phone, F.lit(_IP_RE)).cast("int").alias("n_ip"),
        (F.length("t") - F.length(rt)).cast("int").alias("chars_redacted"),
        F.md5(rt).alias("redacted_hash"),
    )


@register(
    "chunk_overlap",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 1),
    s AS (SELECT doc_id, t, unnest(range(0, len(t), 48)) AS s FROM t)
    SELECT doc_id, CAST(s / 48 AS INT) AS chunk_idx,
           CAST(len(t[s + 1:s + 64]) AS INT) AS n_tok,
           t[s + 1] AS first_tok,
           md5(array_to_string(t[s + 1:s + 64], ' ')) AS chunk_hash
    FROM s
    """,
    tags=("pipeline", "curation", "chunking"),
)
def chunk_overlap(spark, sf_dir):
    """Overlapping context-window chunking — size 64 tokens, stride 48
    (16-token overlap), the standard long-document → training-sample
    split. One projected tokenization, one ``sequence``+``explode``
    generator (chunk starts 0, 48, 96, …), ``slice`` per chunk. No
    shuffle at all: a map-side explode whose output is ~1.3× the token
    mass — the plan stays a single codegen stage regardless of corpus
    size. The token array is projected BEFORE the explode (textops.py:22
    documents the Catalyst lambda-inlining trap this avoids)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 1
    )
    starts = F.sequence(F.lit(0), F.size("t") - 1, F.lit(48))
    exploded = t.select("doc_id", "t", F.explode(starts).alias("s"))
    chunk = F.slice(F.col("t"), F.col("s") + 1, 64)
    return exploded.select(
        "doc_id",
        (F.col("s") / 48).cast("int").alias("chunk_idx"),
        F.size(chunk).cast("int").alias("n_tok"),
        F.element_at(chunk, 1).alias("first_tok"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


@register(
    "token_zipf",
    """
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
    freq AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk FROM freq)
    SELECT ROUND(1.2345e-8 + regr_slope(ln(c), ln(rnk)), 4) AS zipf_slope,
           ROUND(1.2345e-8 + regr_intercept(ln(c), ln(rnk)), 4)
             AS zipf_intercept,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens
    FROM ranked
    """,
    tags=("pipeline", "curation", "stats"),
)
def token_zipf(spark, sf_dir):
    """Corpus Zipf fit — the distribution-health check for a tokenizer /
    corpus pair: OLS slope of ln(frequency) on ln(rank) over the type
    table (natural corpora sit near −1; synthetic or degenerate corpora
    don't). Explode → partial-agg groupBy(token) → single-partition
    ranking window over the TYPE table only (vocab-sized, thousands of
    rows even at 100 TB — the rank window is NOT over the corpus), then
    ``regr_slope``/``regr_intercept``, which partial-aggregate as sums of
    moments. Two shuffles total, both map-side combinable."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select(F.explode(F.split("text", " ")).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    ranked = freq.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("tok")))
        .alias("rnk"),
    )
    return ranked.agg(
        _eps_round(F.regr_slope(F.log("c"), F.log("rnk")), 4).alias("zipf_slope"),
        _eps_round(
            F.regr_intercept(F.log("c"), F.log("rnk")), 4
        ).alias("zipf_intercept"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum("c").alias("n_tokens"),
    )


def _cos_sql(av: str, bv: str, dim: int = 64) -> str:
    """DuckDB cosine between two DOUBLE[] expressions, same fold shape as
    ``similarity.cosine``."""
    dot = (
        f"list_aggregate(list_transform(range(1, {dim + 1}), "
        f"i -> {av}[i] * {bv}[i]), 'sum')"
    )
    na = (
        f"sqrt(list_aggregate(list_transform(range(1, {dim + 1}), "
        f"i -> {av}[i] * {av}[i]), 'sum'))"
    )
    nb = (
        f"sqrt(list_aggregate(list_transform(range(1, {dim + 1}), "
        f"i -> {bv}[i] * {bv}[i]), 'sum'))"
    )
    return f"({dot} / ({na} * {nb}))"


@register(
    "mine_hard_negatives",
    f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings),
    anchors AS (SELECT vec_id AS a_id, label AS a_label, v AS av
                FROM e WHERE vec_id < 8),
    scored AS (
      SELECT a.a_id, e.vec_id,
             ROUND(1.2345e-8 + {_cos_sql("a.av", "e.v")}, 4) AS cos_sim
      FROM anchors a JOIN e ON e.label <> a.a_label)
    SELECT a_id AS anchor_id, vec_id AS neg_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY a_id
                ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk,
           cos_sim
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY a_id
            ORDER BY cos_sim DESC, vec_id) <= 5
    """,
    tags=("pipeline", "curation", "contrastive"),
)
def mine_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining — for each anchor vector, the
    top-5 most-similar vectors carrying a DIFFERENT label (the negatives
    that actually teach a contrastive model something). The 8-row anchor
    side is broadcast; the corpus side streams through one codegen stage
    scoring cosine per (anchor, candidate) — no corpus self-join, no
    shuffle of vectors; the only Exchange is the per-anchor top-k window
    over scored ids. Ranking orders by the ROUNDED cosine (+ vec_id
    tie-break) so both engines make identical discrete choices."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    anchors = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("a_id"),
        F.col("label").alias("a_label"),
        F.col("v").alias("av"),
    )
    scored = (
        e.crossJoin(F.broadcast(anchors))
        .filter(F.col("label") != F.col("a_label"))
        .select(
            "a_id",
            "vec_id",
            _eps_round(
                similarity.cosine(F.col("av"), F.col("v")), 4
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("a_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("a_id").alias("anchor_id"),
            F.col("vec_id").alias("neg_id"),
            "rnk",
            "cos_sim",
        )
    )


def _semantic_dedup_oracle() -> str:
    """SemDeDup oracle: replay the identical 2-iter Lloyd assignment
    (similarity.kmeans_lloyd_sql), then within-cluster rounded-cosine
    keep-first dedup."""
    kmeans = similarity.kmeans_lloyd_sql(k=8, iters=2, dim=64)
    cos = _cos_sql("x.v", "y.v")
    return f"""
    {kmeans},
    asg AS (SELECT vec_id, cid FROM a2),
    pairs AS (
      SELECT a.vec_id AS keep_id, b.vec_id AS drop_id
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN e x ON x.vec_id = a.vec_id
      JOIN e y ON y.vec_id = b.vec_id
      WHERE ROUND(1.2345e-8 + {cos}, 4) >= 0.30)
    SELECT asg.vec_id, CAST(asg.cid AS INT) AS cid
    FROM asg
    WHERE asg.vec_id NOT IN (SELECT drop_id FROM pairs)
    """


@register(
    "dedup_semantic",
    _semantic_dedup_oracle(),
    tags=("pipeline", "curation", "dedup", "kmeans"),
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication made sub-quadratic by clustering first — k-means the
    embeddings (the repo's deterministic 2-iter Lloyd), then compute
    pairwise cosine ONLY within each cluster and drop every vector that
    has a ≥τ neighbor with a smaller id (keep-first, same convention as
    the MinHash/LSH dedups). τ=0.30 here because the synthetic embeddings
    are near-orthogonal (measured max within-label cosine ≈0.47); real
    text embeddings would use ≈0.95.

    Scale: the within-cluster self-join shuffles on cid, so pair count is
    Σ|c|² not N² — with k chosen ~√N (SemDeDup uses 11k clusters for
    100M docs) the expected cluster is √N and total pair work ~N^1.5,
    against N² for naive semantic dedup. The k-means step itself is the
    broadcast/partial-agg design graded under `ivf_kmeans_topk`."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    asg = similarity.kmeans_lloyd(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2
    ).select("vec_id", "cid")
    withv = asg.join(e, "vec_id")
    # SALT the within-cluster pair join (round-10 tier-2 finding): cid
    # alone has k=8 distinct values, so the Sum|c|^2-pair cosine stage
    # could never exceed 8 tasks — and AQE's byte-based coalescing cut
    # it to 4 (the vectors are small in BYTES; the cosines are the
    # cost). salted_pair_join fans the join out over k*n_salt composite
    # keys with session-derived width — same pair set, same results,
    # measured 208 s -> 21 s at 16k vectors. The k~sqrt(N) knob
    # (SemDeDup's own prescription, see docstring) remains the
    # asymptotic lever; the salt fixes the PARALLELISM floor a small
    # fixed k imposes.
    a = withv.select(
        F.col("vec_id").alias("keep_id"), F.col("cid"),
        F.col("v").alias("va"),
    )
    b = withv.select(
        F.col("vec_id").alias("drop_id"), F.col("cid"),
        F.col("v").alias("vb"),
    )
    cos = _eps_round(similarity.cosine(F.col("va"), F.col("vb")), 4)
    dropped = (
        salted_pair_join(a, b, ["cid"], F.col("drop_id"), n_salt=16)
        .filter(F.col("keep_id") < F.col("drop_id"))
        .filter(cos >= 0.30)
        .select("drop_id")
        .distinct()
    )
    return (
        asg.join(dropped, asg.vec_id == dropped.drop_id, "left_anti")
        .select("vec_id", F.col("cid").cast("int").alias("cid"))
    )


@register(
    "mix_temperature",
    """
    WITH d AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS nt
      FROM documents WHERE text IS NOT NULL),
    s AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS m
          FROM d GROUP BY source),
    w AS (SELECT *, sqrt(m) / SUM(sqrt(m)) OVER () AS wt FROM s),
    rt AS (SELECT *, ROUND(1.2345e-8 + LEAST(1.0, wt * 200 / n_docs), 4)
                    AS rate FROM w)
    SELECT rt.source, CAST(rt.n_docs AS BIGINT) AS n_docs,
           rt.m AS token_mass,
           ROUND(1.2345e-8 + rt.wt, 4) AS weight, rt.rate,
           CAST(SUM(CASE WHEN
                ('0x' || substr(md5('mix9:' || CAST(d.doc_id AS VARCHAR)),
                                1, 4))::INT / 65536.0 < rt.rate
                THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
    FROM d JOIN rt USING (source)
    GROUP BY rt.source, rt.n_docs, rt.m, rt.wt, rt.rate
    """,
    tags=("pipeline", "curation", "sampling"),
)
def mix_temperature(spark, sf_dir):
    """Temperature-weighted source mixing — the multilingual/source
    balancing rule (GPT-3 §2.2, PaLM): sampling weight w_s ∝ mass_s^α
    with α=0.5, so low-resource sources are upsampled relative to their
    token mass. Each source gets quota w_s·N (budget N=200 docs) turned
    into a per-source keep-rate, applied by deterministic md5-hash
    thinning (reproducible, engine-portable, no rand()). The selection
    rate is QUANTIZED (round 4dp) before comparison so the float never
    races the 16-bit hash grid across engines.

    Plan: one partial-agg groupBy(source) for the mass table (20 rows),
    window-sum over it for the normalizer (source-cardinality sized, not
    corpus), broadcast join back, then a second partial-agg groupBy for
    the selected counts. Two corpus-sized shuffles, both map-side
    combinable; the per-doc filter is pure codegen."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("source", "doc_id", F.size(F.split("text", " ")).alias("nt"))
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("nt").alias("m")
    )
    w = s.select(
        "*",
        (F.sqrt("m") / F.sum(F.sqrt("m")).over(
            Window.partitionBy()
        )).alias("wt"),
    )
    rt = w.select(
        "*",
        _eps_round(
            F.least(F.lit(1.0), F.col("wt") * 200 / F.col("n_docs")), 4
        ).alias("rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix9:"), F.col("doc_id").cast("string"))),
                1, 4,
            ),
            16, 10,
        ).cast("double")
        / 65536.0
    )
    joined = d.join(F.broadcast(rt), "source")
    return joined.groupBy(
        "source", "n_docs", "m", "wt", "rate"
    ).agg(
        F.sum(F.when(u < F.col("rate"), 1).otherwise(0)).alias("n_selected")
    ).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("m").cast("long").alias("token_mass"),
        _eps_round("wt", 4).alias("weight"),
        "rate",
        F.col("n_selected").cast("long").alias("n_selected"),
    )


# ---------------------------------------------------------------------------
# Part 3: corpus/embedding analytics — distributed linear algebra, IR
# scoring, distribution drift, and substring-level dedup.
# ---------------------------------------------------------------------------

_DIM = 64
_EPS_LIT = "1.2345e-8"


def _pca_power_oracle(iters: int = 2) -> str:
    """DuckDB replay of the identical quantized power iterations."""
    rng = f"range(1, {_DIM + 1})"
    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        f"mu AS (SELECT i, ROUND({_EPS_LIT} + AVG(val), 6) AS m FROM "
        f"(SELECT unnest({rng}) AS i, unnest(v) AS val FROM e) GROUP BY i)",
        "mul AS (SELECT list(m ORDER BY i) AS ml FROM mu)",
        # v0 = 1/sqrt(64) each (DuckDB bans subqueries in lambdas, so each
        # iterate is a 1-row CTE cross-joined in and referenced by column)
        f"vl0 AS (SELECT list_transform({rng}, i -> 0.125) AS vl)",
    ]
    for it in range(1, iters + 1):
        ctes.append(
            f"s{it} AS (SELECT vec_id, list_aggregate(list_transform({rng}, "
            f"i -> (e.v[i] - ml[i]) * vl[i]), 'sum') AS s "
            f"FROM e CROSS JOIN mul CROSS JOIN vl{it - 1})"
        )
        ctes.append(
            f"w{it} AS (SELECT i, SUM(sv) AS w FROM (SELECT "
            f"unnest({rng}) AS i, "
            f"unnest(list_transform({rng}, j -> s{it}.s * (e.v[j] - ml[j]))) "
            f"AS sv FROM s{it} JOIN e USING (vec_id) CROSS JOIN mul) GROUP BY i)"
        )
        ctes.append(
            f"n{it} AS (SELECT sqrt(SUM(w * w)) AS n FROM w{it})"
        )
        ctes.append(
            f"v{it} AS (SELECT i, ROUND({_EPS_LIT} + w / n, 6) AS vi "
            f"FROM w{it}, n{it})"
        )
        ctes.append(
            f"vl{it} AS (SELECT list(vi ORDER BY i) AS vl FROM v{it})"
        )
    last = iters
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined},
    sf AS (SELECT vec_id, list_aggregate(list_transform({rng},
           i -> (e.v[i] - ml[i]) * vl[i]), 'sum') AS s
           FROM e CROSS JOIN mul CROSS JOIN vl{last}),
    lam AS (SELECT ROUND({_EPS_LIT} + SUM(s * s) / COUNT(*), 4) AS eigval
            FROM sf)
    SELECT CAST(v{last}.i AS INT) AS dim,
           ROUND({_EPS_LIT} + v{last}.vi, 4) AS loading,
           lam.eigval
    FROM v{last}, lam
    """


@register(
    "embedding_pca_power",
    _pca_power_oracle(iters=2),
    tags=("pipeline", "curation", "linalg"),
)
def embedding_pca_power(spark, sf_dir):
    """Top principal component of the embedding corpus by POWER ITERATION —
    the covariance-free distributed PCA pattern: never materialize the
    64×64 (or at real dims, 4096×4096) covariance matrix; each iteration
    computes w = Σ_x (xᵀv)(x−μ) as one broadcast of v plus one
    partial-aggregatable shuffle keyed by dimension index. The iterate is
    QUANTIZED (round 6) after each normalization — the same determinism
    barrier as kmeans_lloyd — so both engines walk identical discrete
    trajectories. v0 = uniform unit vector; 2 unrolled iterations; output
    is the 64 loadings plus the Rayleigh-quotient eigenvalue estimate.

    Scale: per iteration, Exchange #1 is dimension-keyed (64 rows at any
    corpus size — effectively free) and the projections s_x stay row-local
    (map-side). The driver never sees a vector; only the dim-sized iterate
    moves. This is textbook Spark PCA (same shape as MLlib's
    RowMatrix.computePrincipalComponents power path)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # mean vector, quantized, reassembled as a 1-row array
    mu = (
        e.select(F.posexplode("v").alias("i0", "val"))
        .groupBy("i0")
        .agg(F.round(F.avg("val") + F.lit(1.2345e-8), 6).alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i0", "m"))),
                lambda s: s["m"],
            ).alias("ml")
        )
    )
    centered = e.crossJoin(F.broadcast(mu)).select(
        "vec_id", F.zip_with("v", "ml", lambda x, m: x - m).alias("c")
    )
    v_df = spark.range(1).select(
        F.array([F.lit(0.125)] * _DIM).alias("vl")
    )
    for _ in range(2):
        s = centered.crossJoin(F.broadcast(v_df)).select(
            "vec_id",
            "c",
            F.aggregate(
                F.zip_with("c", "vl", lambda x, vv: x * vv),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s"),
        )
        w = (
            s.select(
                F.posexplode(
                    F.transform("c", lambda x: x * F.col("s"))
                ).alias("i0", "sv")
            )
            .groupBy("i0")
            .agg(F.sum("sv").alias("w"))
        )
        v_df = (
            w.select(
                "i0",
                (
                    F.col("w")
                    / F.sqrt(F.sum(F.col("w") * F.col("w")).over(
                        Window.partitionBy()
                    ))
                ).alias("nv"),
            )
            .select("i0", F.round(F.col("nv") + F.lit(1.2345e-8), 6).alias("vi"))
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i0", "vi"))),
                    lambda st: st["vi"],
                ).alias("vl")
            )
        )
    sf = centered.crossJoin(F.broadcast(v_df)).select(
        F.aggregate(
            F.zip_with("c", "vl", lambda x, vv: x * vv),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s")
    )
    lam = sf.agg(
        _eps_round(F.sum(F.col("s") * F.col("s")) / F.count(F.lit(1)), 4)
        .alias("eigval")
    )
    loadings = v_df.select(F.posexplode("vl").alias("i0", "vi")).select(
        (F.col("i0") + 1).cast("int").alias("dim"),
        _eps_round("vi", 4).alias("loading"),
    )
    return loadings.crossJoin(F.broadcast(lam))


_BM25_TERMS = ("data", "fast", "query")


@register(
    "bm25_search",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, len(t) AS dl FROM d),
    avgdl AS (SELECT AVG(dl) AS adl, COUNT(*) AS n FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM d)
      WHERE tok IN {_BM25_TERMS!r}
      GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             SUM(ln(1 + (n - df + 0.5) / (df + 0.5))
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / adl)))
               AS score
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), avgdl
      GROUP BY tf.doc_id)
    SELECT doc_id, ROUND(1.2345e-8 + score, 4) AS bm25
    FROM scored
    ORDER BY ROUND(1.2345e-8 + score, 4) DESC, doc_id
    LIMIT 20
    """,
    tags=("pipeline", "curation", "ir"),
)
def bm25_search(spark, sf_dir):
    """BM25 full-text relevance search (k1=1.2, b=0.75) for a 3-term
    query — the retrieval scorer an inverted-index pipeline feeds. The
    query terms are a pushdown IN-filter on the exploded token stream, so
    the per-(doc, term) tf table only materializes matching postings
    (PushedFilters at the scan at real scale with a pre-built posting
    store). idf and avgdl are tiny aggregate side-tables, broadcast; the
    final score is one partial-agg groupBy(doc) and a TakeOrderedAndProject
    top-20 — per-partition heaps, no global sort. Ranking compares the
    ROUNDED score (+ doc_id) so both engines break ties identically."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    dl = toks.select("doc_id", F.size("t").alias("dl"))
    avgdl = dl.agg(
        F.avg("dl").alias("adl"), F.count(F.lit(1)).alias("n")
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("adl"))
    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(avgdl))
        .groupBy(F.col("doc_id"))
        .agg(
            F.sum(idf * F.col("tf") * 2.2 / denom).alias("score")
        )
    )
    return (
        scored.select("doc_id", _eps_round("score", 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


@register(
    "kl_source_drift",
    """
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
    sc AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY 1),
    gc AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS g FROM sc GROUP BY 1),
    gt AS (SELECT CAST(SUM(g) AS BIGINT) AS gn FROM gc)
    SELECT sc.source,
           st.n AS n_tokens,
           ROUND(1.2345e-8 + SUM(
             (c / CAST(st.n AS DOUBLE))
             * ln((c / CAST(st.n AS DOUBLE))
                  / (g / CAST(gt.gn AS DOUBLE)))), 4) AS kl_bits
    FROM sc JOIN st USING (source) JOIN gc USING (tok), gt
    GROUP BY sc.source, st.n
    """,
    tags=("pipeline", "curation", "stats"),
)
def kl_source_drift(spark, sf_dir):
    """Per-source token-distribution drift: KL(P_source ‖ P_corpus) — the
    monitor that catches a source whose content shifted (scraper broke,
    spam flood) before it pollutes a training mix. Every input is a
    partial-aggregatable count: per-(source, token) counts, per-source
    totals, global token counts; the KL sum is one more partial-agg
    groupBy(source). The token-keyed join is the only corpus-scale
    shuffle, and it reuses the (source, tok) grouping's partitioning.
    P_source is absolutely continuous w.r.t. P_corpus by construction
    (every source token is in the corpus), so no smoothing term is
    needed."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    sc = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("tok").agg(F.sum("c").alias("g"))
    gt = gc.agg(F.sum("g").alias("gn"))
    ps = F.col("c") / F.col("n").cast("double")
    pc = F.col("g") / F.col("gn").cast("double")
    return (
        sc.join(F.broadcast(st), "source")
        .join(gc, "tok")
        .crossJoin(F.broadcast(gt))
        .groupBy("source", "n")
        .agg(_eps_round(F.sum(ps * F.log(ps / pc)), 4).alias("kl_bits"))
        .select(
            "source", F.col("n").cast("long").alias("n_tokens"), "kl_bits"
        )
    )


@register(
    "dedup_substring_spans",
    """
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 10),
    sh AS (
      SELECT doc_id, pos,
             md5(array_to_string(t[pos:pos + 9], ' ')) AS h
      FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 9)) AS pos
            FROM t)),
    shared AS (
      SELECT h FROM sh GROUP BY h
      HAVING COUNT(DISTINCT doc_id) > 1)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_pos,
           CAST(COUNT(shared.h) AS BIGINT) AS n_dup_pos,
           ROUND(1.2345e-8 + COUNT(shared.h) / CAST(COUNT(*) AS DOUBLE), 4)
             AS dup_ratio
    FROM sh LEFT JOIN shared USING (h)
    GROUP BY sh.doc_id
    HAVING COUNT(shared.h) > 0
    """,
    tags=("pipeline", "curation", "dedup"),
)
def dedup_substring_spans(spark, sf_dir):
    """Substring-level duplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): a
    10-token window occurring in MORE THAN ONE document marks a
    cross-document duplicated span — the exact-substring signal their
    suffix-array finds, here via positional shingle hashing, which is the
    shuffle-friendly equivalent (same window length family as their
    50-token threshold, shortened to fit the test corpus). Per doc:
    total window positions, positions covered by a shared window, and the
    duplicated-span ratio used as a drop/trim signal.

    Scale: one explode (positions ≈ token mass), one partial-agg groupBy
    on the 16-byte window hash, one hash-join back on the same key — the
    join reuses the groupBy's partitioning, so one corpus-scale shuffle
    total. No suffix array, no global sort, nothing driver-sized."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    t = d.select("doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 10
    )
    pos = t.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.size("t") - 9)).alias("pos"),
    )
    sh = pos.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("pos"), 10))).alias("h"),
    )
    shared = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h", F.lit(1).alias("is_shared"))
    )
    # MERGE-pinned mark join: `shared` grows with the corpus's duplicated
    # span mass (explode-derived, so the static estimate is Generate-blind
    # — the x256 BroadcastExchange-abort class, round 11). The pinned
    # sort-merge join is also the docstring's actual plan claim: both
    # sides hash-partition on h and the aggregate side reuses the
    # groupBy's exchange.
    return (
        sh.hint("merge").join(shared, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.sum(F.coalesce(F.col("is_shared"), F.lit(0))).alias("n_dup_pos"),
        )
        .filter(F.col("n_dup_pos") > 0)
        .select(
            "doc_id",
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_dup_pos").cast("long").alias("n_dup_pos"),
            _eps_round(
                F.col("n_dup_pos") / F.col("n_pos").cast("double"), 4
            ).alias("dup_ratio"),
        )
    )


@register(
    "split_group_hash",
    """
    WITH a AS (
      SELECT doc_id, lang, n_chars,
             CASE WHEN substr(md5('split:' || source), 1, 2) < 'c0'
                    THEN 'train'
                  WHEN substr(md5('split:' || source), 1, 2) < 'e0'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT doc_id) AS n_distinct
    FROM a GROUP BY split, lang
    """,
    tags=("pipeline", "curation", "split"),
)
def split_group_hash(spark, sf_dir):
    """Leakage-safe GROUP-WISE train/val/test split: the assignment hashes
    the SOURCE (not the document), so every document from one source lands
    in the same split — the standard guard against near-duplicate leakage
    across splits (web pages from one domain are mutual near-dups; a
    doc-level split would put copies in both train and test). Deterministic
    md5 thresholding (~75/12.5/12.5), no rand(), so the split is
    reproducible run-over-run and shard-parallel: map-only assignment plus
    one partial-agg shuffle, nothing global."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.concat(F.lit("split:"), F.col("source"))), 1, 2)
    split = (
        F.when(h < "c0", "train").when(h < "e0", "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.count_distinct("doc_id").alias("n_distinct"),
        )
    )


@register(
    "tfidf_cosine_pairs",
    """
    WITH n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs
      FROM documents WHERE text IS NOT NULL),
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM tok WHERE tok <> '' GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    w AS (
      SELECT tf.doc_id, tf.tok, tf.tf * ln(n.n_docs / df.df) AS w
      FROM tf JOIN df USING (tok) CROSS JOIN n
      WHERE df.df <= 50),
    wn AS (
      SELECT doc_id, tok,
             w / sqrt(SUM(w * w) OVER (PARTITION BY doc_id)) AS wn
      FROM w),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ROUND(1.2345e-8 + SUM(a.wn * b.wn), 4) AS cos
      FROM wn a JOIN wn b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, cos FROM p WHERE cos >= 0.3
    """,
    tags=("pipeline", "curation", "similarity", "sparse"),
)
def tfidf_cosine_pairs(spark, sf_dir):
    """Sparse TF-IDF cosine document pairs (>= 0.3) — the sparse-vector
    similarity twin of the dense embedding dedups, via the classic
    token-inverted-index join (Bayardo et al. 2007 all-pairs shape):
    L2-normalized weights meet on the TOKEN key and partial dot-products
    aggregate per pair, so only documents sharing a token ever pair, and
    the pair dot IS the cosine (no norm re-join). The scale levers:

    - df prune (df <= 50 here): stopword-grade tokens have quadratic
      posting lists and near-zero idf — dropping them bounds per-token
      pair work (the prefix-filtering idea in the all-pairs literature).
    - per-doc norms via a WINDOW over the doc-keyed weights, not a
      separate aggregate + two re-joins — one plan branch, not three.
    - the normalized posting table is persist()ed before the self-join:
      Spark recomputes non-cached branches per join side, which would
      re-scan+re-shingle the corpus twice; caching materializes it once
      (memory-and-disk, the production all-pairs checkpoint shape).

    Threshold compares the EPS-rounded value on both engines so a 1-ulp
    dot difference can't flip membership."""
    docs = load_table(spark, sf_dir, "documents")
    n = (
        docs.filter(F.col("text").isNotNull())
        .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    )
    tok = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    tf = tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = (
        tf.join(df.filter(F.col("df") <= 50), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("w"),
        )
    )
    wdoc = Window.partitionBy("doc_id")
    wn = w.select(
        "doc_id",
        "tok",
        (F.col("w") / F.sqrt(F.sum(F.col("w") * F.col("w")).over(wdoc))).alias("wn"),
    )
    wn = persist_tracked(wn)
    a, b = wn.alias("a"), wn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(_eps_round(F.sum(F.col("a.wn") * F.col("b.wn")), 4).alias("cos"))
        .filter(F.col("cos") >= 0.3)
    )


@register(
    "token_pmi_bigrams",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
    uni AS (
      SELECT unnest(t) AS tok FROM toks),
    ucnt AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS c FROM uni
             WHERE tok <> '' GROUP BY tok),
    utot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM ucnt),
    bi AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
               i -> struct_pack(a := t[i], b := t[i + 1]))) AS p
      FROM toks),
    bcnt AS (
      SELECT p.a AS tok_a, p.b AS tok_b, CAST(COUNT(*) AS DOUBLE) AS c
      FROM bi WHERE p.a <> '' AND p.b <> '' GROUP BY p.a, p.b),
    btot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM bcnt)
    SELECT tok_a, tok_b, CAST(bc.c AS BIGINT) AS n_pair,
           ROUND(1.2345e-8 + ln((bc.c / bt.n) / ((ua.c / ut.n) * (ub.c / ut.n))), 4)
             AS pmi
    FROM bcnt bc
    JOIN ucnt ua ON ua.tok = bc.tok_a
    JOIN ucnt ub ON ub.tok = bc.tok_b
    CROSS JOIN btot bt CROSS JOIN utot ut
    WHERE bc.c >= 5
    ORDER BY pmi DESC, tok_a, tok_b LIMIT 20
    """,
    tags=("pipeline", "curation", "collocation"),
)
def token_pmi_bigrams(spark, sf_dir):
    """Pointwise mutual information over adjacent-token bigrams — the
    collocation detector (Church & Hanks 1990) used to pick merge
    candidates and multi-word units in tokenizer/vocab construction:
    PMI = ln(p(a,b) / (p(a) p(b))), top-20 pairs with support >= 5.
    All inputs are partial-agg counts (unigrams, bigrams, two 1-row
    totals broadcast back); the bigram->unigram joins meet on the token
    key, and the final top-20 is a TakeOrderedAndProject heap, not a
    global sort. The two count tables are persist()ed: each feeds
    multiple plan branches (ucnt -> both join sides + its total; bcnt ->
    the pair filter + its total), and without the cache Spark re-derives
    each branch from a fresh corpus scan — count tables are vocab-sized,
    far smaller than the corpus they summarize, the textbook cache
    candidate. Rank determinism: PMI is EPS-rounded BEFORE ordering and
    ties break on the token pair, so both engines pick identical rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    uni = toks.select(F.explode("t").alias("tok")).filter(F.col("tok") != "")
    ucnt = persist_tracked(
        uni.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    utot = ucnt.agg(F.sum("c").alias("un"))
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
            )
        ).alias("p")
    ).filter((F.col("p.a") != "") & (F.col("p.b") != ""))
    bcnt = persist_tracked(
        bi.groupBy(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("bc"))
    )
    btot = bcnt.agg(F.sum("bc").alias("bn"))
    ua = ucnt.select(F.col("tok").alias("tok_a"), F.col("c").alias("ca"))
    ub = ucnt.select(F.col("tok").alias("tok_b"), F.col("c").alias("cb"))
    pmi = _eps_round(
        F.log(
            (F.col("bc") / F.col("bn"))
            / ((F.col("ca") / F.col("un")) * (F.col("cb") / F.col("un")))
        ),
        4,
    )
    return (
        bcnt.filter(F.col("bc") >= 5)
        .join(ua, "tok_a")
        .join(ub, "tok_b")
        .crossJoin(F.broadcast(btot))
        .crossJoin(F.broadcast(utot))
        .select(
            "tok_a", "tok_b", F.col("bc").cast("long").alias("n_pair"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "tok_a", "tok_b")
        .limit(20)
    )


@register(
    "fuzzy_join_tokens",
    """
    WITH toks0 AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE text IS NOT NULL),
    base AS (SELECT tok FROM toks0 WHERE tok <> '' AND length(tok) >= 4),
    aug AS (
      SELECT tok FROM base
      UNION
      SELECT tok || 'x' FROM base WHERE substr(md5(tok), 1, 1) = '0'
      UNION
      SELECT 'q' || substr(tok, 2) FROM base
       WHERE substr(md5(tok), 1, 1) = 'f' AND substr(tok, 1, 1) <> 'q'),
    t AS (SELECT tok, length(tok) AS ln, substr(tok, 1, 1) AS pfx,
                 substr(tok, length(tok) - 2, 3) AS sfx
          FROM aug),
    cand AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b
      FROM (SELECT tok, pfx, unnest([ln - 1, ln, ln + 1]) AS lnk FROM t) a
      JOIN t b ON a.pfx = b.pfx AND a.lnk = b.ln AND a.tok < b.tok
      UNION
      SELECT a.tok AS tok_a, b.tok AS tok_b
      FROM (SELECT tok, sfx, unnest([ln - 1, ln, ln + 1]) AS lnk FROM t) a
      JOIN t b ON a.sfx = b.sfx AND a.lnk = b.ln AND a.tok < b.tok)
    SELECT tok_a, tok_b, CAST(levenshtein(tok_a, tok_b) AS INT) AS dist
    FROM cand WHERE levenshtein(tok_a, tok_b) <= 1
    """,
    tags=("pipeline", "curation", "fuzzy", "linkage"),
)
def fuzzy_join_tokens(spark, sf_dir):
    """Blocked FUZZY JOIN — the record-linkage / typo-normalization
    primitive (OCR noise, near-miss vocabulary variants): vocabulary
    types within edit distance 1 of each other.

    The test corpus is clean word soup with no natural near-misses, so
    both engines first inject deterministic typo variants as part of the
    query contract (the ``pii_redact`` augmentation pattern): an md5-keyed
    1/16 slice of the vocabulary gets a suffix insertion (``tok||'x'``)
    and another slice gets a first-character substitution
    (``'q'||tok[2:]``), so the pair set is provably nonzero and both edit
    positions (interior-ish and first-char) are exercised.

    Scale design: the naive form is a quadratic cross join with
    levenshtein on every pair. Here candidates meet on REAL equi-keys —
    two blocked passes whose union provably covers every edit-distance-1
    pair of ≥4-char tokens:

    * pass A blocks on ``(first char, length)`` with the probe side
      exploded to lengths {ln−1, ln, ln+1} (an edit at any position ≥ 2
      preserves the first char; one edit changes length by at most 1);
    * pass B blocks on ``(last-3-chars, length)`` the same way (an edit
      at position 1 — the only case pass A misses — cannot touch the last
      3 chars of a ≥4-char token).

    Both passes are pure equi-joins (hash-partitionable by block key, no
    range post-filters doing the sharding), block mass is cut by the full
    length distribution, and parallelism is |alphabet|×|lengths| rather
    than 26. Candidate pairs are UNION-deduped before the O(len²)
    distance runs. The block-key LENGTH is the scale knob: at a 10⁸-type
    vocabulary widen the keys to (2-char prefix, ln) / (4-char suffix,
    ln) — same plan shape, block mass shrinks by another |alphabet|
    factor per added character (coverage argument unchanged as long as
    prefix length + suffix length ≤ the minimum token length). Both
    engines compute the identical built-in levenshtein."""
    docs = load_table(spark, sf_dir, "documents")
    base = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .filter((F.col("tok") != "") & (F.length("tok") >= 4))
        .distinct()
    )
    ins_var = base.filter(F.substring(F.md5("tok"), 1, 1) == "0").select(
        F.concat(F.col("tok"), F.lit("x")).alias("tok")
    )
    sub_var = base.filter(
        (F.substring(F.md5("tok"), 1, 1) == "f")
        & (F.substring("tok", 1, 1) != "q")
    ).select(F.concat(F.lit("q"), F.expr("substring(tok, 2)")).alias("tok"))
    t = (
        base.union(ins_var)
        .union(sub_var)
        .distinct()
        .select(
            "tok",
            F.length("tok").alias("ln"),
            F.substring("tok", 1, 1).alias("pfx"),
            F.expr("substring(tok, length(tok) - 2, 3)").alias("sfx"),
        )
    )

    def blocked_pass(key: str):
        a = t.select(
            F.col("tok").alias("tok_a"),
            F.col(key).alias("k_a"),
            F.explode(
                F.array(F.col("ln") - 1, F.col("ln"), F.col("ln") + 1)
            ).alias("lnk"),
        )
        b = t.select(
            F.col("tok").alias("tok_b"),
            F.col(key).alias("k_b"),
            F.col("ln").alias("ln_b"),
        )
        return a.join(
            b,
            (F.col("k_a") == F.col("k_b"))
            & (F.col("lnk") == F.col("ln_b"))
            & (F.col("tok_a") < F.col("tok_b")),
        ).select("tok_a", "tok_b")

    cand = blocked_pass("pfx").union(blocked_pass("sfx")).distinct()
    return cand.select(
        "tok_a",
        "tok_b",
        F.levenshtein("tok_a", "tok_b").alias("dist"),
    ).filter(F.col("dist") <= 1)


@register(
    "anomaly_mad_zscore",
    """
    WITH med AS (
      SELECT user_id, MEDIAN(value) AS med FROM events GROUP BY user_id),
    dev AS (
      SELECT e.user_id, e.value, m.med, ABS(e.value - m.med) AS adev
      FROM events e JOIN med m USING (user_id)),
    mad AS (
      SELECT user_id, MEDIAN(adev) AS mad FROM dev GROUP BY user_id),
    scored AS (
      SELECT d.user_id, d.value,
             CASE WHEN m.mad > 0
                  THEN 0.6745 * (d.value - d.med) / m.mad END AS mz
      FROM dev d JOIN mad m USING (user_id))
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(CASE WHEN ABS(mz) > 3.5 THEN 1 END) AS BIGINT)
             AS n_outliers,
           ROUND(1.2345e-8 + MAX(ABS(mz)), 4) AS max_abs_mz
    FROM scored GROUP BY user_id
    HAVING COUNT(CASE WHEN ABS(mz) > 3.5 THEN 1 END) > 0
    """,
    tags=("pipeline", "curation", "anomaly", "robust"),
)
def anomaly_mad_zscore(spark, sf_dir):
    """Robust per-key outlier detection — the modified z-score of Iglewicz
    & Hoaglin (0.6745·(x−median)/MAD > 3.5), the standard
    mean/σ-contamination-proof anomaly rule a data-quality pass runs per
    entity: unlike plain z-scores, one huge outlier cannot inflate its own
    threshold. Two exact per-user medians (value, then absolute deviation)
    — both groupBys and both joins meet on user_id, so at scale the whole
    pipeline re-uses ONE hash partitioning with no extra Exchange
    (exact MEDIAN matches the oracle hash-for-hash where approx quantiles
    could not; both engines interpolate even-count medians identically).
    MAD=0 keys (constant values) flag nothing by construction."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(
        F.expr("median(value)").alias("med")
    )
    dev = ev.join(med, "user_id").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("user_id").agg(F.expr("median(adev)").alias("mad"))
    scored = dev.join(mad, "user_id").withColumn(
        "mz",
        F.when(
            F.col("mad") > 0,
            0.6745 * (F.col("value") - F.col("med")) / F.col("mad"),
        ),
    )
    return (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(F.when(F.abs("mz") > 3.5, 1)).alias("n_outliers"),
            _eps_round(F.max(F.abs("mz")), 4).alias("max_abs_mz"),
        )
        .filter(F.col("n_outliers") > 0)
    )


@register(
    "sample_topk_per_stratum",
    """
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             md5('evalk:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
               AS rnk
      FROM keyed)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS k_actual,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           md5(string_agg(CAST(doc_id AS VARCHAR), ','
               ORDER BY rnk)) AS sample_hash
    FROM ranked WHERE rnk <= 25 GROUP BY lang
    """,
    tags=("pipeline", "curation", "sampling"),
)
def sample_topk_per_stratum(spark, sf_dir):
    """EXACT-k uniform sample per stratum — eval-set construction needs
    'exactly 25 docs per language', which rate-based sampling
    (``sample_stratified``) cannot promise. Deterministic: rank each
    stratum by md5(doc_id) (a uniform permutation, reproducible across
    runs and engines) and keep the first k. At scale this is the grouped
    top-k pattern: one shuffle on the stratum key and a per-group heap —
    Spark's WindowGroupLimit pushes the rnk<=k filter map-side, so
    the shuffle carries at most k rows per stratum per mapper, never the
    corpus. The verification hash is the ordered doc_id list per stratum,
    so both engines must pick IDENTICAL samples in IDENTICAL order."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5(F.concat(F.lit("evalk:"), F.col("doc_id").cast("string"))).alias(
            "h"
        ),
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    ranked = keyed.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 25
    )
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("k_actual"),
        F.sum("n_chars").alias("total_chars"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rnk", "doc_id"))
                    ),
                    lambda s: s["doc_id"].cast("string"),
                ),
            )
        ).alias("sample_hash"),
    )


@register(
    "sample_weighted_gumbel",
    """
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS wt,
             (('0x' || substr(md5('es11:' || CAST(doc_id AS VARCHAR)),
                              1, 8))::BIGINT + 0.5) / 4294967296.0 AS u
      FROM documents WHERE text IS NOT NULL AND n_chars > 0)
    SELECT doc_id, ROUND(1.2345e-8 + wt, 4) AS wt,
           ROUND(1.2345e-8 + 1000.0 * (-ln(u)) / wt, 6) AS ekey
    FROM w
    ORDER BY ekey, doc_id
    LIMIT 50
    """,
    tags=("curation", "sampling", "weighted"),
)
def sample_weighted_gumbel(spark, sf_dir):
    """Deterministic WEIGHTED sampling without replacement (Efraimidis &
    Spirakis 2006, the exponential-clocks / Gumbel-top-k form): each doc
    draws u from a salted-md5 uniform and gets key = -ln(u) / w; the k
    smallest keys are a weight-proportional sample without replacement
    (here w = n_chars, biasing toward longer documents — the typical
    length-proportional pretraining draw). Hash-derived u (not rand())
    makes the sample reproducible and engine-portable, and keys are
    QUANTIZED (scaled round 6dp, EPS-shifted) before ranking so a last-
    ulp libm difference between engines can never flip the selected set.

    Scale shape: the key is pure map-side codegen over the scan; the
    top-k is a TakeOrderedAndProject heap (per-partition heaps, no
    global sort) — at 100 TB this is ONE scan plus a k-row driver merge,
    the same plan as a uniform top-k. Weighted sampling this way needs
    no total-weight pass at all, which is why it beats quota methods
    (``mix_temperature``) when weights are per-row."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.col("n_chars") > 0)
    )
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("es11:"), F.col("doc_id").cast("string"))
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("double")
            + 0.5
        )
        / 4294967296.0
    )
    wt = F.col("n_chars").cast("double")
    return (
        d.select(
            "doc_id",
            _eps_round(wt, 4).alias("wt"),
            _eps_round(1000.0 * (-F.log(u)) / wt, 6).alias("ekey"),
        )
        .orderBy("ekey", "doc_id")
        .limit(50)
    )


@register(
    "quality_entropy",
    """
    WITH ch AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(text)),
                                   i -> substr(text, i, 1))) AS c
      FROM documents WHERE text IS NOT NULL AND len(text) > 0),
    cnt AS (SELECT doc_id, c, COUNT(*) AS k FROM ch GROUP BY doc_id, c),
    n AS (SELECT doc_id, SUM(k) AS n FROM cnt GROUP BY doc_id)
    SELECT cnt.doc_id, CAST(n.n AS BIGINT) AS n_chars,
           ROUND(1.2345e-8 + log2(n.n) - SUM(k * log2(k)) / n.n, 4)
             AS entropy,
           CAST(log2(n.n) - SUM(k * log2(k)) / n.n >= 3.0 AS BOOLEAN)
             AS keep
    FROM cnt JOIN n ON n.doc_id = cnt.doc_id
    GROUP BY cnt.doc_id, n.n
    """,
    tags=("curation", "quality", "entropy"),
)
def quality_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the information-
    density quality gate (low entropy flags boilerplate, repeated
    padding, single-character spam; the Gopher/RefinedWeb rule family):
    H = log2(n) - (Σ k·log2 k)/n over per-character counts, plus the
    H >= 3 bits/char keep flag a filter stage would apply.

    Scale shape: one explode to characters (linear in corpus bytes),
    ONE (doc_id, char) partial-agg groupBy — the per-doc totals are a
    window-free second aggregate on the SAME doc_id key, so AQE reuses
    the partitioning; no UDF, all codegen. At 100 TB the char explode
    is the bandwidth cost and fuses into the scan stage."""
    # length > 0 on BOTH sides: Spark's split("", "") yields [""] while
    # DuckDB's char enumeration yields no rows — an empty doc in a future
    # data regeneration must not silently diverge the two engines
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    ch = d.select("doc_id", F.explode(F.split("text", "")).alias("c"))
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    ent = (
        cnt.groupBy("doc_id")
        .agg(
            F.sum("k").alias("n"),
            F.sum(F.col("k") * F.log2("k")).alias("klogk"),
        )
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars"),
            (F.log2("n") - F.col("klogk") / F.col("n")).alias("h"),
        )
    )
    return ent.select(
        "doc_id",
        "n_chars",
        _eps_round("h", 4).alias("entropy"),
        (F.col("h") >= 3.0).alias("keep"),
    )


@register(
    "emd_source_drift",
    """
    WITH d AS (
      SELECT source, len(string_split(text, ' ')) AS nt
      FROM documents WHERE text IS NOT NULL),
    dom AS (SELECT DISTINCT nt FROM d),
    src AS (SELECT DISTINCT source FROM d),
    per_src AS (
      SELECT s.source, dom.nt, COUNT(d.nt) AS c
      FROM src s CROSS JOIN dom
      LEFT JOIN d ON d.source = s.source AND d.nt = dom.nt
      GROUP BY s.source, dom.nt),
    tot AS (SELECT source, SUM(c) AS n FROM per_src GROUP BY source),
    corpus AS (SELECT nt, COUNT(*) AS cc FROM d GROUP BY nt),
    ctot AS (SELECT SUM(cc) AS cn FROM corpus),
    cdf AS (
      SELECT p.source, p.nt,
             COALESCE(LEAD(p.nt) OVER (PARTITION BY p.source ORDER BY p.nt)
                      - p.nt, 0) AS gap,
             SUM(p.c) OVER (PARTITION BY p.source ORDER BY p.nt
                            ROWS UNBOUNDED PRECEDING)
               / CAST(tot.n AS DOUBLE) AS f_src,
             SUM(corpus.cc) OVER (PARTITION BY p.source ORDER BY p.nt
                                  ROWS UNBOUNDED PRECEDING)
               / CAST(ctot.cn AS DOUBLE) AS f_corpus
      FROM per_src p
      JOIN tot ON tot.source = p.source
      JOIN corpus ON corpus.nt = p.nt
      CROSS JOIN ctot)
    SELECT source,
           ROUND(1.2345e-8 + SUM(ABS(f_src - f_corpus) * gap), 4) AS emd
    FROM cdf GROUP BY source ORDER BY source
    """,
    tags=("curation", "drift", "emd"),
)
def emd_source_drift(spark, sf_dir):
    """1-D EARTH MOVER'S DISTANCE per source vs the corpus — the
    distribution-shift metric that, unlike KL (`kl_source_drift`), is
    finite on disjoint supports and respects the metric structure of the
    domain (shifting mass by 1 token costs 1): for 1-D distributions,
    EMD = Σ|CDF_src − CDF_corpus|·Δ over the value domain, where Δ is
    each support point's gap to the next (the closed form of optimal
    transport on the line — the gap weight is what makes a discrepancy
    spanning 10 absent token-counts cost 10×, not 1×; the round-7
    review caught the unweighted form). Each source's histogram is
    aligned onto the SHARED token-count domain (dense grid via the
    domain×source cross of two tiny distinct sets, zero-filled), then
    one cumulative-sum window per source and a 1-row-per-source rollup.
    Scale shape: histograms are partial-agg groupBys (domain-sized, not
    corpus-sized); the CDF windows run over the |domain| rows per
    source; nothing corpus-scale ever sorts."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("source", F.size(F.split("text", " ")).alias("nt"))
    dom = d.select("nt").distinct()
    src = d.select("source").distinct()
    counts = d.groupBy("source", "nt").agg(F.count(F.lit(1)).alias("c"))
    per_src = (
        src.crossJoin(F.broadcast(dom))
        .join(counts, ["source", "nt"], "left")
        .select("source", "nt", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = per_src.groupBy("source").agg(F.sum("c").alias("n"))
    corpus = d.groupBy("nt").agg(F.count(F.lit(1)).alias("cc"))
    ctot = corpus.agg(F.sum("cc").alias("cn"))
    w = Window.partitionBy("source").orderBy("nt").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cdf = (
        per_src.join(F.broadcast(tot), "source")
        .join(F.broadcast(corpus), "nt")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source", "nt",
            F.coalesce(
                F.lead("nt").over(Window.partitionBy("source").orderBy("nt"))
                - F.col("nt"),
                F.lit(0),
            ).alias("gap"),
            (F.sum("c").over(w) / F.col("n").cast("double")).alias("f_src"),
            (F.sum("cc").over(w) / F.col("cn").cast("double")).alias(
                "f_corpus"
            ),
        )
    )
    return (
        cdf.groupBy("source")
        .agg(
            _eps_round(
                F.sum(F.abs(F.col("f_src") - F.col("f_corpus")) * F.col("gap")),
                4,
            ).alias("emd")
        )
        .orderBy("source")
    )


_KANON_K = 4


@register(
    "k_anonymity_violations",
    f"""
    WITH g AS (
      SELECT lang, source, COUNT(*) AS k
      FROM documents GROUP BY lang, source)
    SELECT lang, source, CAST(k AS BIGINT) AS k,
           CASE WHEN k < {_KANON_K} THEN 1 ELSE 0 END AS violates
    FROM g ORDER BY lang, source
    """,
    tags=("curation", "privacy", "k-anonymity"),
)
def k_anonymity_violations(spark, sf_dir):
    """k-anonymity audit over the (lang, source) quasi-identifier pair:
    every equivalence class with fewer than k=4 members is a
    re-identification risk — the privacy gate a release pipeline runs
    BEFORE publishing a corpus (companion to the content-level
    ``pii_redact``: that scrubs direct identifiers, this catches
    quasi-identifier combinations rare enough to single someone out).
    Emits every class with its size and a violates flag, so both
    outcomes are graded (33 violating / 64 passing classes at sf0.01 —
    neither side vacuous). Scale shape: ONE map-side-combinable groupBy
    over the corpus; the class table is |langs| x |sources|, so the
    audit output is dimension-bounded regardless of corpus size. At
    100 TB you extend the key with bucketed numerics (the n_chars
    decile, say) — the aggregate shape is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("k"))
        .select(
            "lang", "source", F.col("k").cast("long").alias("k"),
            F.when(F.col("k") < _KANON_K, 1).otherwise(0).alias("violates"),
        )
        .orderBy("lang", "source")
    )


# Poisson(1) inverse CDF, cumulative probabilities P(X <= k) for k = 0..5
# (exp(-1) * sum 1/i!); draws past 5 clamp to 6 (P(X > 5) ~ 5.9e-4 — the
# truncation bias is well below the CI resolution, and the property test
# asserts the tail < 1e-3). SINGLE SOURCE OF TRUTH: the same
# list renders the CASE text for both the Spark expression and the DuckDB
# oracle, so the resample weights are bit-identical across engines.
_POIS1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]
_BOOT_B = 32


def _pois1_case(u_expr: str) -> str:
    branches = " ".join(
        f"WHEN {u_expr} < {p!r} THEN {k}" for k, p in enumerate(_POIS1_CDF)
    )
    return f"(CASE {branches} ELSE 6 END)"


@register(
    "bootstrap_ci_mean",
    f"""
    WITH bs AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b),
    w AS (
      SELECT e.event_type, e.value, bs.b,
             {_pois1_case(
                 "((('0x' || substr(md5('boot7:' || CAST(e.event_id AS VARCHAR)"
                 " || ':' || CAST(bs.b AS VARCHAR)), 1, 8))::BIGINT + 0.5)"
                 " / 4294967296.0)"
             )} AS w
      FROM events e CROSS JOIN bs),
    m AS (
      SELECT event_type, b, SUM(w * value) / SUM(w) AS mb
      FROM w GROUP BY event_type, b),
    ci AS (
      SELECT event_type,
             quantile_cont(mb, 0.025) AS lo,
             quantile_cont(mb, 0.975) AS hi
      FROM m GROUP BY event_type),
    pt AS (
      SELECT event_type, AVG(value) AS mean_value,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type)
    SELECT p.event_type, ROUND(1.2345e-8 + p.mean_value, 4) AS mean_value,
           ROUND(1.2345e-8 + c.lo, 4) AS ci_lo,
           ROUND(1.2345e-8 + c.hi, 4) AS ci_hi, p.n
    FROM pt p JOIN ci c ON c.event_type = p.event_type
    """,
    tags=("curation", "statistics", "bootstrap"),
)
def bootstrap_ci_mean(spark, sf_dir):
    """POISSON BOOTSTRAP confidence interval for the per-type mean
    (Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    Google 2012): instead of materializing B resamples of the data (the
    classical bootstrap's n x B blowup, impossible at 100 TB), every row
    draws an independent Poisson(1) replication WEIGHT per resample —
    B weighted means in ONE pass over the fact table. The weights come
    from a seeded md5 inverse-CDF draw, so both engines materialize the
    IDENTICAL resamples and the 2.5/97.5 percentile bracket of the 32
    resample means is hash-checkable, not just statistically plausible.

    Scale shape: the explode is map-side (B rows per input row feeding a
    partial aggregate — the combine collapses them before the shuffle),
    one shuffle on (event_type, b), then a 160-row percentile frame. At
    a trillion rows you fold the B weighted sums into a single
    fixed-width accumulator array per partition instead of exploding;
    the statistic is unchanged."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "event_id"
    )
    wdf = ev.select(
        "event_type",
        "value",
        "event_id",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    )
    u = (
        "((conv(substr(md5(concat('boot7:', CAST(event_id AS STRING), ':', "
        "CAST(b AS STRING))), 1, 8), 16, 10) + 0.5) / 4294967296.0)"
    )
    means = (
        wdf.withColumn("w", F.expr(_pois1_case(u)))
        .groupBy("event_type", "b")
        .agg((F.sum(F.col("w") * F.col("value")) / F.sum("w")).alias("mb"))
    )
    ci = means.groupBy("event_type").agg(
        F.percentile("mb", F.lit(0.025)).alias("lo"),
        F.percentile("mb", F.lit(0.975)).alias("hi"),
    )
    pt = ev.groupBy("event_type").agg(
        F.avg("value").alias("mean_value"), F.count(F.lit(1)).alias("n")
    )
    return pt.join(ci, "event_type").select(
        "event_type",
        _eps_round("mean_value", 4).alias("mean_value"),
        _eps_round("lo", 4).alias("ci_lo"),
        _eps_round("hi", 4).alias("ci_hi"),
        "n",
    )


_LDIV_L = 3


@register(
    "l_diversity_audit",
    f"""
    WITH g AS (
      SELECT lang, source,
             COUNT(*) AS k,
             COUNT(DISTINCT n_chars // 200) AS l
      FROM documents GROUP BY lang, source)
    SELECT lang, source, CAST(k AS BIGINT) AS k, CAST(l AS BIGINT) AS l,
           CASE WHEN l < {_LDIV_L} THEN 1 ELSE 0 END AS violates
    FROM g ORDER BY lang, source
    """,
    tags=("curation", "privacy", "l-diversity"),
)
def l_diversity_audit(spark, sf_dir):
    """l-DIVERSITY audit (Machanavajjhala et al. 2007) — the privacy
    gate BEYOND k-anonymity: a quasi-identifier class can be large
    (k-anonymous) yet still leak if everyone in it shares the same
    sensitive value. Per (lang, source) class this emits the class size
    AND the number of distinct sensitive values (here the n_chars
    length band, the release attribute an attacker could exploit),
    flagging classes with fewer than l=3 distinct values. One groupBy
    with a COUNT(DISTINCT) — partial+final over (class, value) pairs,
    so the shuffle carries distinct pairs, not rows; the violating and
    passing classes are both nonzero at the graded SF. Companion to
    ``k_anonymity_violations`` (class size) and ``pii_redact``
    (direct identifiers)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct(
                F.floor(F.col("n_chars") / 200)
            ).alias("l"),
        )
        .select(
            "lang", "source",
            F.col("k").cast("long").alias("k"),
            F.col("l").cast("long").alias("l"),
            F.when(F.col("l") < _LDIV_L, 1).otherwise(0).alias("violates"),
        )
        .orderBy("lang", "source")
    )


@register(
    "quantile_normalize_sources",
    """
    WITH b AS (
      SELECT doc_id, source, n_chars,
             NTILE(10) OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id) AS q
      FROM documents),
    pool AS (
      SELECT q, AVG(n_chars) AS mu FROM b GROUP BY q)
    SELECT b.doc_id, b.source, CAST(b.n_chars AS BIGINT) AS n_chars,
           CAST(b.q AS INT) AS q,
           ROUND(1.2345e-8 + p.mu, 4) AS normalized
    FROM b JOIN pool p ON p.q = b.q
    """,
    tags=("curation", "statistics", "harmonization"),
)
def quantile_normalize_sources(spark, sf_dir):
    """QUANTILE NORMALIZATION across sources — the batch-effect
    harmonization trick (microarray lineage, reused for mixing corpora
    with incompatible length/quality distributions): rank each document
    WITHIN its source into deciles, replace the value with the POOLED
    cross-source decile mean — after which every source has the same
    marginal distribution and downstream length/quality gates treat
    them fairly. Per-source NTILE windows are entity-bounded partitions
    (never a global sort); the pooled profile is 10 rows, broadcast
    back. Raw value, decile, and normalized value are all emitted, so
    both the ranking and the pooling are hash-checked."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    b = d.withColumn("q", F.ntile(10).over(w))
    pool = b.groupBy("q").agg(F.avg("n_chars").alias("mu"))
    return b.join(F.broadcast(pool), "q").select(
        "doc_id", "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("q").cast("int").alias("q"),
        _eps_round("mu", 4).alias("normalized"),
    )


@register(
    "wilson_ctr_rank",
    """
    WITH s AS (
      SELECT user_id,
             COUNT(*) FILTER (event_type = 'click') AS clicks,
             COUNT(*) FILTER (event_type IN ('click', 'view')) AS n
      FROM events GROUP BY user_id),
    f AS (SELECT * FROM s WHERE n >= 10),
    w AS (
      SELECT user_id, clicks, n,
             CAST(clicks AS DOUBLE) / n AS p,
             ((CAST(clicks AS DOUBLE) / n) + 1.9208 / n
              - 1.96 * SQRT(((CAST(clicks AS DOUBLE) / n)
                * (1 - CAST(clicks AS DOUBLE) / n) + 0.9604 / n) / n))
             / (1 + 3.8416 / n) AS lb
      FROM f)
    SELECT user_id, CAST(clicks AS BIGINT) AS clicks, CAST(n AS BIGINT) AS n,
           ROUND(1.2345e-8 + p, 4) AS ctr,
           ROUND(1.2345e-8 + lb, 4) AS wilson_lb
    FROM w ORDER BY lb DESC, user_id LIMIT 25
    """,
    tags=("curation", "statistics", "ranking"),
)
def wilson_ctr_rank(spark, sf_dir):
    """RANKING UNDER UNCERTAINTY — the Wilson score lower bound on each
    user's click-through rate (z = 1.96), the estimator that stops a
    2-for-2 item outranking a 180-for-200 one (raw-rate ranking's
    classic failure; the Reddit/How-Not-To-Sort-By-Average-Rating fix).
    Closed form, so it is ONE map-side expression after the per-user
    conditional aggregate, then a TakeOrderedAndProject top-25 — no
    per-item posterior sampling. Both the raw rate and the bound are
    emitted: the graded ordering differs from the raw-CTR ordering
    exactly where small n deflates confidence, which is the behavior
    under test."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(
            F.when(F.col("event_type").isin("click", "view"), 1)
        ).alias("n"),
    ).filter(F.col("n") >= 10)
    p = F.col("clicks").cast("double") / F.col("n")
    z2 = 1.96 * 1.96
    lb = (
        p + F.lit(z2 / 2) / F.col("n")
        - 1.96 * F.sqrt((p * (1 - p) + F.lit(z2 / 4) / F.col("n")) / F.col("n"))
    ) / (1 + F.lit(z2) / F.col("n"))
    return (
        s.select(
            "user_id",
            F.col("clicks").cast("long").alias("clicks"),
            F.col("n").cast("long").alias("n"),
            _eps_round(p, 4).alias("ctr"),
            _eps_round(lb, 4).alias("wilson_lb"),
            lb.alias("_lb"),
        )
        .orderBy(F.col("_lb").desc(), "user_id")
        .limit(25)
        .drop("_lb")
    )


@register(
    "ks_two_sample",
    """
    WITH a AS (SELECT n_chars AS v FROM documents WHERE source = 'src0'),
    b AS (SELECT n_chars AS v FROM documents WHERE source = 'src1'),
    na AS (SELECT COUNT(*) AS c FROM a),
    nb AS (SELECT COUNT(*) AS c FROM b),
    u AS (
      SELECT v, 1 AS ia, 0 AS ib FROM a
      UNION ALL SELECT v, 0, 1 FROM b),
    c AS (
      SELECT v,
             SUM(SUM(ia)) OVER (ORDER BY v) AS ca,
             SUM(SUM(ib)) OVER (ORDER BY v) AS cb
      FROM u GROUP BY v)
    SELECT CAST(na.c AS BIGINT) AS n_a, CAST(nb.c AS BIGINT) AS n_b,
           ROUND(1.2345e-8 + MAX(ABS(CAST(ca AS DOUBLE) / na.c
                                     - CAST(cb AS DOUBLE) / nb.c)), 4)
             AS ks_d
    FROM c CROSS JOIN na CROSS JOIN nb GROUP BY na.c, nb.c
    """,
    tags=("curation", "statistics", "distribution-test"),
)
def ks_two_sample(spark, sf_dir):
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV statistic — D = max |F_a − F_b|
    between two sources' length distributions, the distribution-shift
    test that needs no binning choice (PSI and the chi-square screens
    bin first; KS is their bin-free companion, sensitive anywhere on
    the CDF). Exact, not sampled: group duplicate values first (the
    per-VALUE grouped counts make evaluation points unique, which is
    also what makes the cumulative windows deterministic), then one
    running sum per sample over the shared value ordering and a max of
    the gap. The window frame is |distinct values| — data-bounded but
    collapsible (values quantize to ints here); at a truly continuous
    100 TB column you evaluate D on a quantile-sketch grid instead,
    trading exactness for a bounded frame."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("source") == "src0").select(F.col("n_chars").alias("v"))
    b = d.filter(F.col("source") == "src1").select(F.col("n_chars").alias("v"))
    na = a.count()
    nb = b.count()
    u = a.select("v", F.lit(1).alias("ia"), F.lit(0).alias("ib")).unionByName(
        b.select("v", F.lit(0).alias("ia"), F.lit(1).alias("ib"))
    )
    g = u.groupBy("v").agg(
        F.sum("ia").alias("sa"), F.sum("ib").alias("sb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        F.sum("sa").over(w).alias("ca"), F.sum("sb").over(w).alias("cb")
    )
    return c.agg(
        F.lit(na).cast("long").alias("n_a"),
        F.lit(nb).cast("long").alias("n_b"),
        _eps_round(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / na
                    - F.col("cb").cast("double") / nb
                )
            ),
            4,
        ).alias("ks_d"),
    )


_LR_RATE = 0.5


def _logreg_sql() -> str:
    """Two full-batch GD steps as CTEs; weights w = (w1, w2, w0) over
    features (quantity/50, discount*10, bias)."""
    feats = """
    f AS (
      SELECT l_quantity / 50.0 AS x1, l_discount * 10.0 AS x2,
             CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
      FROM lineitem),
    n AS (SELECT COUNT(*) AS c FROM f)"""
    def step(i, w1, w2, w0):
        p = f"1.0 / (1.0 + EXP(-({w1} * x1 + {w2} * x2 + {w0})))"
        return f"""
    g{i} AS (
      SELECT SUM(({p} - y) * x1) / n.c AS d1,
             SUM(({p} - y) * x2) / n.c AS d2,
             SUM(({p} - y)) / n.c AS d0,
             -SUM(y * LN({p}) + (1 - y) * LN(1 - ({p}))) / n.c AS gloss
      FROM f CROSS JOIN n GROUP BY n.c),
    w{i} AS (
      SELECT {w1} - {_LR_RATE} * d1 AS w1, {w2} - {_LR_RATE} * d2 AS w2,
             {w0} - {_LR_RATE} * d0 AS w0, gloss AS loss FROM g{i})"""
    s1 = step(1, "0.0", "0.0", "0.0")
    s2 = step(2, "w.w1", "w.w2", "w.w0").replace(
        "FROM f CROSS JOIN n", "FROM f CROSS JOIN n CROSS JOIN w1 w"
    ).replace("FROM g2)", "FROM g2 CROSS JOIN w1 w)")
    return f"""
    WITH {feats},{s1},{s2},
    final AS (
      SELECT w2f.w1, w2f.w2, w2f.w0, w1f.loss AS loss0, w2f.loss AS loss1
      FROM w2 w2f CROSS JOIN w1 w1f)
    SELECT ROUND(1.2345e-8 + w1, 4) AS w_qty,
           ROUND(1.2345e-8 + w2, 4) AS w_disc,
           ROUND(1.2345e-8 + w0, 4) AS w_bias,
           ROUND(1.2345e-8 + loss0, 4) AS loss_step1,
           ROUND(1.2345e-8 + loss1, 4) AS loss_step2
    FROM final"""


@register(
    "logreg_gd_2step",
    _logreg_sql(),
    tags=("curation", "ml", "iterative"),
)
def logreg_gd_2step(spark, sf_dir):
    """LOGISTIC REGRESSION, two full-batch gradient-descent steps — the
    distributed TRAINING step made relational (the `kmeans`/`pagerank`
    fixed-iteration contract applied to a differentiable model): the
    gradient is a SUM over rows of (sigmoid(w·x) − y)·x, which is one
    map-side-combinable aggregate per step, and the weight update is a
    1-row broadcast into the next pass. Labels = return flag, features =
    scaled quantity/discount + bias; the per-step LOG-LOSS is emitted
    alongside the final weights, so the grade checks not just the
    arithmetic but that loss_step2 < loss_step1 — the optimizer
    genuinely descends. At a trillion rows this is exactly
    mini-batch-free distributed GD: per iteration one scan, tiny
    combine state, driver-side weight vector."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.select(
        (F.col("l_quantity") / 50.0).alias("x1"),
        (F.col("l_discount") * 10.0).alias("x2"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
    )
    n = f.count()
    w = (0.0, 0.0, 0.0)
    losses = []
    for _ in range(2):
        z = w[0] * F.col("x1") + w[1] * F.col("x2") + F.lit(w[2])
        p = 1.0 / (1.0 + F.exp(-z))
        g = f.agg(
            (F.sum((p - F.col("y")) * F.col("x1")) / n).alias("g1"),
            (F.sum((p - F.col("y")) * F.col("x2")) / n).alias("g2"),
            (F.sum(p - F.col("y")) / n).alias("g0"),
            (
                -F.sum(
                    F.col("y") * F.log(p) + (1 - F.col("y")) * F.log(1 - p)
                )
                / n
            ).alias("loss"),
        ).collect()[0]
        losses.append(g["loss"])
        w = (
            w[0] - _LR_RATE * g["g1"],
            w[1] - _LR_RATE * g["g2"],
            w[2] - _LR_RATE * g["g0"],
        )
    return load_table(spark, sf_dir, "region").limit(1).select(
        _eps_round(F.lit(w[0]), 4).alias("w_qty"),
        _eps_round(F.lit(w[1]), 4).alias("w_disc"),
        _eps_round(F.lit(w[2]), 4).alias("w_bias"),
        _eps_round(F.lit(losses[0]), 4).alias("loss_step1"),
        _eps_round(F.lit(losses[1]), 4).alias("loss_step2"),
    )


@register(
    "golden_record_survivorship",
    """
    WITH e AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE event_type END
               AS maybe_type
      FROM events),
    recency AS (
      SELECT user_id, maybe_type AS last_type FROM (
        SELECT user_id, maybe_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM e WHERE maybe_type IS NOT NULL) z WHERE rn = 1),
    freq AS (
      SELECT user_id, event_type AS mode_type FROM (
        SELECT user_id, event_type, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY COUNT(*) DESC, event_type) AS rn
        FROM e GROUP BY user_id, event_type) z WHERE rn = 1),
    mx AS (
      SELECT user_id, ROUND(1.2345e-8 + MAX(value), 4) AS max_value,
             CAST(COUNT(*) AS BIGINT) AS n_records
      FROM e GROUP BY user_id)
    SELECT m.user_id, r.last_type, f.mode_type, m.max_value, m.n_records
    FROM mx m
    LEFT JOIN recency r ON r.user_id = m.user_id
    JOIN freq f ON f.user_id = m.user_id
    """,
    tags=("curation", "mdm", "survivorship"),
)
def golden_record_survivorship(spark, sf_dir):
    """GOLDEN RECORD construction — MDM survivorship with a DIFFERENT
    rule per attribute, which is what distinguishes it from any single
    dedup policy: most-recent-non-null for the status field (a third of
    the observations carry NULL there, so recency must skip holes),
    plurality-with-tiebreak for the categorical, max for the numeric,
    plus the record count for lineage. Three aggregates sharing one
    user partitioning (the recency pick is max_by over (ts, id) after a
    null filter; the mode is the LPA argmax shape); at entity scale
    this is one shuffle and k-bounded frames per entity. Each rule's
    column is graded independently, so a survivorship rule silently
    falling back to another (the classic MDM config bug) breaks the
    hash."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.when(
            F.col("event_id") % 3 == 0, F.lit(None)
        ).otherwise(F.col("event_type")).alias("maybe_type"),
    )
    recency = (
        ev.filter(F.col("maybe_type").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.struct("ts", "event_id", F.col("maybe_type").alias("t"))
            ).alias("s")
        )
        .select("user_id", F.col("s.t").alias("last_type"))
    )
    # plurality with LEXICOGRAPHIC-ASC tiebreak needs the ordered pick,
    # not a struct-max over strings (struct-max would break ties by MAX
    # type name) — the window form the oracle states
    w = Window.partitionBy("user_id").orderBy(
        F.col("c").desc(), F.col("event_type")
    )
    freq = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"))
    )
    mx = ev.groupBy("user_id").agg(
        _eps_round(F.max("value"), 4).alias("max_value"),
        F.count(F.lit(1)).alias("n_records"),
    )
    return (
        mx.join(recency, "user_id", "left")
        .join(freq, "user_id")
        .select(
            "user_id", "last_type", "mode_type", "max_value", "n_records"
        )
    )


_ALS_LAMBDA = 0.1
# fixed 2-d item factors for the 5 event types (deterministic "item side"
# of the alternating step; a real run would have produced these in the
# previous half-step)
_ALS_ITEMS = [
    ("click", 1.0, 0.2),
    ("view", 0.8, -0.3),
    ("purchase", -0.5, 1.0),
    ("signup", 0.3, 0.7),
    ("error", -0.2, -0.6),
]


def _als_oracle() -> str:
    vals = ", ".join(f"('{t}', {a!r}, {b!r})" for t, a, b in _ALS_ITEMS)
    return f"""
    WITH items(event_type, v1, v2) AS (VALUES {vals}),
    r AS (
      SELECT user_id, event_type, AVG(value) / 100.0 AS rating
      FROM events GROUP BY user_id, event_type),
    acc AS (
      SELECT r.user_id,
             SUM(i.v1 * i.v1) + {_ALS_LAMBDA} AS a11,
             SUM(i.v1 * i.v2) AS a12,
             SUM(i.v2 * i.v2) + {_ALS_LAMBDA} AS a22,
             SUM(r.rating * i.v1) AS b1,
             SUM(r.rating * i.v2) AS b2
      FROM r JOIN items i USING (event_type) GROUP BY r.user_id)
    SELECT user_id,
           ROUND(1.2345e-8 + (b1 * a22 - b2 * a12)
                 / (a11 * a22 - a12 * a12), 4) AS u1,
           ROUND(1.2345e-8 + (a11 * b2 - a12 * b1)
                 / (a11 * a22 - a12 * a12), 4) AS u2
    FROM acc
    """


@register(
    "als_half_step",
    _als_oracle(),
    tags=("curation", "ml", "recommender"),
)
def als_half_step(spark, sf_dir):
    """ALTERNATING LEAST SQUARES, one user half-step — the distributed
    recommender update (Koren/Hu-Koren-Volinsky lineage) in the same
    fixed-iteration relational contract as ``kmeans_lloyd_2iter`` and
    ``logreg_gd_2step``: with item factors held fixed (broadcast,
    rank 2), each user's new vector solves the ridge normal equations
    (V'V + λI) u = V'r — accumulated as ONE map-side-combinable
    aggregate per user (the A-matrix and b-vector entries are sums over
    that user's ratings) and solved in closed form by Cramer's rule,
    so no per-user matrix library and no driver loop. The λ ridge term
    keeps every 2x2 system invertible whatever the rating support. At
    catalog scale the item side is the broadcast and users partition
    freely — exactly MLlib ALS's data layout, graded hash-exact at
    rank 2."""
    from dask_image_spark.functions.localrel import values_df

    ev = load_table(spark, sf_dir, "events")
    r = ev.groupBy("user_id", "event_type").agg(
        (F.avg("value") / 100.0).alias("rating")
    )
    items = values_df(
        spark, "event_type, v1, v2",
        [(t, a, b) for t, a, b in _ALS_ITEMS],
    )
    j = r.join(F.broadcast(items), "event_type")
    acc = j.groupBy("user_id").agg(
        (F.sum(F.col("v1") * F.col("v1")) + _ALS_LAMBDA).alias("a11"),
        F.sum(F.col("v1") * F.col("v2")).alias("a12"),
        (F.sum(F.col("v2") * F.col("v2")) + _ALS_LAMBDA).alias("a22"),
        F.sum(F.col("rating") * F.col("v1")).alias("b1"),
        F.sum(F.col("rating") * F.col("v2")).alias("b2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    return acc.select(
        "user_id",
        _eps_round(
            (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det, 4
        ).alias("u1"),
        _eps_round(
            (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / det, 4
        ).alias("u2"),
    )


@register(
    "target_encode_loo",
    """
    WITH f AS (
      SELECT event_id, event_type,
             CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS y
      FROM events),
    g AS (
      SELECT event_type, SUM(y) AS sy, COUNT(*) AS n
      FROM f GROUP BY event_type),
    enc AS (
      SELECT f.event_id, f.event_type,
             (g.sy - f.y) / (g.n - 1) AS loo
      FROM f JOIN g USING (event_type))
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + AVG(loo), 4) AS mean_loo,
           ROUND(1.2345e-8 + MIN(loo), 4) AS min_loo,
           ROUND(1.2345e-8 + MAX(loo), 4) AS max_loo,
           CAST(COUNT(DISTINCT ROUND(loo, 8)) AS BIGINT) AS n_distinct
    FROM enc GROUP BY event_type
    """,
    tags=("curation", "feature-engineering", "encoding"),
)
def target_encode_loo(spark, sf_dir):
    """LEAVE-ONE-OUT target encoding — the leakage-corrected categorical
    encoder: a category's mean target computed EXCLUDING the row being
    encoded ((Σy − y_i)/(n − 1)), so a rare category cannot memorize
    its own label into its feature (naive mean encoding's overfit
    mechanism, the thing CatBoost's ordered variant also exists to
    prevent). One group aggregate broadcast back + map-side arithmetic
    — no per-row window. The graded per-category frame pins the
    mechanics: n_distinct = 2 per category (rows with y=0 get one LOO
    value, y=1 the other — a naive same-for-all mean would grade
    n_distinct = 1), and min < max by exactly 1/(n−1)."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        "event_id", "event_type",
        F.when(F.col("value") > 50.0, 1.0).otherwise(0.0).alias("y"),
    )
    g = f.groupBy(F.col("event_type").alias("gtype")).agg(
        F.sum("y").alias("sy"), F.count(F.lit(1)).alias("n")
    )
    enc = f.join(
        F.broadcast(g), F.col("event_type") == F.col("gtype")
    ).select(
        "event_type",
        ((F.col("sy") - F.col("y")) / (F.col("n") - 1)).alias("loo"),
    )
    return enc.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _eps_round(F.avg("loo"), 4).alias("mean_loo"),
        _eps_round(F.min("loo"), 4).alias("min_loo"),
        _eps_round(F.max("loo"), 4).alias("max_loo"),
        F.countDistinct(F.round("loo", 8)).alias("n_distinct"),
    )


@register(
    "brier_calibration",
    """
    WITH s AS (
      SELECT CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS y,
             1.0 / (1.0 + EXP(-((value - 50.0) / 20.0
               + ((('0x' || substr(md5('ns:' || CAST(event_id AS VARCHAR)),
                    1, 8))::BIGINT % 2000) - 1000) / 1000.0))) AS p
      FROM events),
    b AS (
      SELECT LEAST(9, CAST(FLOOR(p * 10) AS INT)) AS bin, y, p FROM s),
    base AS (SELECT COUNT(*) AS n, AVG(y) AS ybar FROM b),
    binstat AS (
      SELECT bin, COUNT(*) AS nk, AVG(p) AS pbar, AVG(y) AS obar
      FROM b GROUP BY bin)
    SELECT bs.bin, CAST(bs.nk AS BIGINT) AS n,
           ROUND(1.2345e-8 + bs.pbar, 4) AS mean_pred,
           ROUND(1.2345e-8 + bs.obar, 4) AS obs_rate,
           ROUND(1.2345e-8 + bs.nk * POW(bs.pbar - bs.obar, 2)
                 / base.n, 6) AS reliability_term,
           ROUND(1.2345e-8 + bs.nk * POW(bs.obar - base.ybar, 2)
                 / base.n, 6) AS resolution_term
    FROM binstat bs CROSS JOIN base
    """,
    tags=("curation", "ml", "calibration"),
)
def brier_calibration(spark, sf_dir):
    """CALIBRATION reliability diagram + Murphy decomposition terms —
    the model-quality split every scoring deployment monitors: a
    deterministic noisy-sigmoid "model" predicts y = (value > 50), and
    per probability-decile the graded frame carries mean prediction vs
    observed rate (their gap IS miscalibration) plus each bin's
    reliability and resolution addends — summing the graded columns
    (with the label-base-rate uncertainty) reconstructs the Brier score
    exactly (Murphy 1973), so the decomposition arithmetic is
    hash-checked bin by bin, not as one opaque scalar. Two combinable
    aggregates (global base rate, per-bin stats), bin frame of 10."""
    ev = load_table(spark, sf_dir, "events")
    noise = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ns:"), F.col("event_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % 2000 - 1000
    ) / 1000.0
    p = 1.0 / (1.0 + F.exp(-((F.col("value") - 50.0) / 20.0 + noise)))
    s = ev.select(
        F.when(F.col("value") > 50.0, 1.0).otherwise(0.0).alias("y"),
        p.alias("p"),
    )
    b = s.select(
        F.least(F.lit(9), F.floor(F.col("p") * 10).cast("int")).alias("bin"),
        "y", "p",
    )
    base = b.agg(
        F.count(F.lit(1)).alias("n"), F.avg("y").alias("ybar")
    )
    binstat = b.groupBy("bin").agg(
        F.count(F.lit(1)).alias("nk"),
        F.avg("p").alias("pbar"),
        F.avg("y").alias("obar"),
    )
    return binstat.crossJoin(F.broadcast(base)).select(
        "bin",
        F.col("nk").cast("long").alias("n"),
        _eps_round("pbar", 4).alias("mean_pred"),
        _eps_round("obar", 4).alias("obs_rate"),
        _eps_round(
            F.col("nk") * F.pow(F.col("pbar") - F.col("obar"), 2) / F.col("n"),
            6,
        ).alias("reliability_term"),
        _eps_round(
            F.col("nk") * F.pow(F.col("obar") - F.col("ybar"), 2) / F.col("n"),
            6,
        ).alias("resolution_term"),
    )


@register(
    "roc_auc_exact",
    """
    WITH s AS (
      SELECT CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS y,
             ROUND(1.0 / (1.0 + EXP(-((value - 50.0) / 20.0
               + ((('0x' || substr(md5('ns:' || CAST(event_id AS VARCHAR)),
                    1, 8))::BIGINT % 2000) - 1000) / 1000.0))), 4) AS p
      FROM events),
    g AS (
      SELECT p, SUM(y) AS np, COUNT(*) AS nt FROM s GROUP BY p),
    r AS (
      SELECT p, np, nt,
             COALESCE(SUM(nt) OVER (ORDER BY p
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (nt + 1) / 2.0 AS midrank
      FROM g),
    tot AS (
      SELECT SUM(np) AS pos, SUM(nt) - SUM(np) AS neg,
             SUM(np * midrank) AS rs
      FROM r)
    SELECT CAST(pos AS BIGINT) AS n_pos, CAST(neg AS BIGINT) AS n_neg,
           ROUND(1.2345e-8 + (rs - pos * (pos + 1) / 2.0) / (pos * neg), 4)
             AS auc
    FROM tot
    """,
    tags=("curation", "ml", "evaluation"),
)
def roc_auc_exact(spark, sf_dir):
    """EXACT ROC AUC via the Mann-Whitney rank-sum with MIDRANKS — the
    classifier-quality scalar, computed without materializing any ROC
    curve: AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg), where tied
    scores take their average rank (scores are rounded to 4 decimals
    precisely so ties EXIST and the midrank arithmetic is exercised —
    an implementation that assigns ordinal ranks to ties grades wrong).
    Scale shape: group by distinct score first (one combinable
    aggregate), so the ranking window runs over the SCORE DOMAIN, not
    the rows — the same collapse-then-rank posture as `ks_two_sample`,
    with a quantile-sketch grid as the documented continuous-column
    fallback. Same deterministic noisy-sigmoid model as
    `brier_calibration`, so the two evals describe one model."""
    ev = load_table(spark, sf_dir, "events")
    noise = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ns:"), F.col("event_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % 2000 - 1000
    ) / 1000.0
    p = F.round(
        1.0 / (1.0 + F.exp(-((F.col("value") - 50.0) / 20.0 + noise))), 4
    )
    s = ev.select(
        F.when(F.col("value") > 50.0, 1.0).otherwise(0.0).alias("y"),
        p.alias("p"),
    )
    g = s.groupBy("p").agg(
        F.sum("y").alias("np"), F.count(F.lit(1)).alias("nt")
    )
    w = Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    r = g.withColumn(
        "midrank",
        F.coalesce(F.sum("nt").over(w), F.lit(0)) + (F.col("nt") + 1) / 2.0,
    )
    return r.agg(
        F.sum("np").cast("long").alias("n_pos"),
        (F.sum("nt") - F.sum("np")).cast("long").alias("n_neg"),
        _eps_round(
            (F.sum(F.col("np") * F.col("midrank"))
             - F.sum("np") * (F.sum("np") + 1) / 2.0)
            / (F.sum("np") * (F.sum("nt") - F.sum("np"))),
            4,
        ).alias("auc"),
    )


@register(
    "threshold_sweep_f1",
    """
    WITH s AS (
      SELECT CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS y,
             1.0 / (1.0 + EXP(-((value - 50.0) / 20.0
               + ((('0x' || substr(md5('ns:' || CAST(event_id AS VARCHAR)),
                    1, 8))::BIGINT % 2000) - 1000) / 1000.0))) AS p
      FROM events),
    th AS (SELECT unnest(generate_series(1, 9)) / 10.0 AS thr),
    conf AS (
      SELECT th.thr,
             SUM(CASE WHEN s.p >= th.thr AND s.y = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN s.p >= th.thr AND s.y = 0 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN s.p < th.thr AND s.y = 1 THEN 1 ELSE 0 END) AS fn
      FROM s CROSS JOIN th GROUP BY th.thr)
    SELECT thr, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           ROUND(1.2345e-8 + tp / NULLIF(CAST(tp + fp AS DOUBLE), 0), 4)
             AS precision,
           ROUND(1.2345e-8 + tp / NULLIF(CAST(tp + fn AS DOUBLE), 0), 4)
             AS recall,
           ROUND(1.2345e-8 + 2.0 * tp
                 / NULLIF(CAST(2 * tp + fp + fn AS DOUBLE), 0), 4) AS f1
    FROM conf
    """,
    tags=("curation", "ml", "evaluation", "tuning"),
)
def threshold_sweep_f1(spark, sf_dir):
    """OPERATING-POINT tuning table — precision/recall/F1 at nine
    decision thresholds over the shared noisy-sigmoid model: the table
    a deployment reads to pick its cut (the F1 row-maximum, or the
    recall floor compliance requires). One pass over the scores with
    the 9-threshold frame exploded map-side into a combinable
    conditional aggregate — never nine scans; the same
    tuning-curve-as-graded-result pattern as `lsh_band_sweep`, applied
    to classification. F1's harmonic form is computed as 2tp/(2tp+fp+fn)
    so zero-division degenerates are NULL-safe identically on both
    engines."""
    ev = load_table(spark, sf_dir, "events")
    noise = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ns:"), F.col("event_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % 2000 - 1000
    ) / 1000.0
    p = 1.0 / (1.0 + F.exp(-((F.col("value") - 50.0) / 20.0 + noise)))
    s = ev.select(
        F.when(F.col("value") > 50.0, 1.0).otherwise(0.0).alias("y"),
        p.alias("p"),
        F.explode(
            F.array(*[F.lit(t / 10.0) for t in range(1, 10)])
        ).alias("thr"),
    )
    conf = s.groupBy("thr").agg(
        F.sum(
            F.when((F.col("p") >= F.col("thr")) & (F.col("y") == 1), 1)
            .otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when((F.col("p") >= F.col("thr")) & (F.col("y") == 0), 1)
            .otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when((F.col("p") < F.col("thr")) & (F.col("y") == 1), 1)
            .otherwise(0)
        ).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return conf.select(
        "thr",
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        _eps_round(
            tp / F.nullif((tp + fp).cast("double"), F.lit(0.0)), 4
        ).alias("precision"),
        _eps_round(
            tp / F.nullif((tp + fn).cast("double"), F.lit(0.0)), 4
        ).alias("recall"),
        _eps_round(
            2.0 * tp / F.nullif((2 * tp + fp + fn).cast("double"), F.lit(0.0)),
            4,
        ).alias("f1"),
    )


@register(
    "pr_auc_average_precision",
    """
    WITH s AS (
      SELECT CASE WHEN value > 50.0 THEN 1.0 ELSE 0.0 END AS y,
             ROUND(1.0 / (1.0 + EXP(-((value - 50.0) / 20.0
               + ((('0x' || substr(md5('ns:' || CAST(event_id AS VARCHAR)),
                    1, 8))::BIGINT % 2000) - 1000) / 1000.0))), 4) AS p
      FROM events),
    g AS (
      SELECT p, SUM(y) AS np, COUNT(*) AS nt FROM s GROUP BY p),
    c AS (
      SELECT p, np,
             SUM(np) OVER (ORDER BY p DESC ROWS UNBOUNDED PRECEDING) AS tp,
             SUM(nt) OVER (ORDER BY p DESC ROWS UNBOUNDED PRECEDING) AS pp,
             SUM(np) OVER () AS pos
      FROM g)
    SELECT CAST(MAX(pos) AS BIGINT) AS n_pos,
           CAST(COUNT(*) AS BIGINT) AS n_thresholds,
           ROUND(1.2345e-8 + SUM((np / pos) * (tp / pp)), 4)
             AS average_precision
    FROM c
    """,
    tags=("curation", "ml", "evaluation"),
)
def pr_auc_average_precision(spark, sf_dir):
    """PRECISION-RECALL AUC as AVERAGE PRECISION (sklearn
    ``average_precision_score``, step interpolation): AP = sum over
    descending distinct thresholds of (delta recall) * precision, with
    delta recall = np_k / P — the class-imbalance-honest companion to
    ``roc_auc_exact`` (ROC AUC stays optimistic when negatives dominate;
    AP collapses, which is why retrieval and rare-event pipelines
    report it instead). Same deterministic noisy-sigmoid model as the
    ROC/Brier evals, so all three describe ONE classifier.

    Scale shape mirrors roc_auc_exact exactly: collapse to the distinct
    SCORE DOMAIN first (one combinable aggregate with 4-decimal score
    rounding so ties exist and are exercised), then a single
    descending-ordered window pass computes TP/PP cumulatives; AP is
    one more aggregate over the <= 10^4-row threshold frame. Precision
    and recall are ratios of exact integers; only the final AP sum is
    float, under the shared rounding policy."""
    ev = load_table(spark, sf_dir, "events")
    noise = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ns:"), F.col("event_id").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % 2000 - 1000
    ) / 1000.0
    p = F.round(
        1.0 / (1.0 + F.exp(-((F.col("value") - 50.0) / 20.0 + noise))), 4
    )
    s = ev.select(
        F.when(F.col("value") > 50.0, 1.0).otherwise(0.0).alias("y"),
        p.alias("p"),
    )
    g = s.groupBy("p").agg(
        F.sum("y").alias("np"), F.count(F.lit(1)).alias("nt")
    )
    w = Window.orderBy(F.desc("p")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "np",
        F.sum("np").over(w).alias("tp"),
        F.sum("nt").over(w).alias("pp"),
        F.sum("np").over(w_all).alias("pos"),
    )
    return c.agg(
        F.max("pos").cast("long").alias("n_pos"),
        F.count(F.lit(1)).cast("long").alias("n_thresholds"),
        _eps_round(
            F.sum((F.col("np") / F.col("pos")) * (F.col("tp") / F.col("pp"))),
            4,
        ).alias("average_precision"),
    )


@register(
    "spearman_corr",
    """
    WITH rk AS (
      SELECT event_type,
             RANK() OVER (PARTITION BY event_type ORDER BY value)
               + (COUNT(*) OVER (PARTITION BY event_type, value) - 1) / 2.0
               AS rv,
             RANK() OVER (PARTITION BY event_type ORDER BY ts)
               + (COUNT(*) OVER (PARTITION BY event_type, ts) - 1) / 2.0
               AS rt
      FROM events)
    SELECT event_type, ROUND(1.2345e-8 + CORR(rv, rt), 4) AS spearman,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM rk GROUP BY event_type ORDER BY event_type
    """,
    tags=("curation", "statistics", "correlation"),
)
def spearman_corr(spark, sf_dir):
    """SPEARMAN RANK CORRELATION per series — Pearson's r on fractional
    (tie-averaged) ranks, the monotone-association test every drift /
    feature-screening pipeline runs when the relationship need not be
    linear. Ranks use the standard fractional convention
    (RANK + (ties-1)/2 = average position of the tie block), so the
    statistic is exact under ties, not the no-tie shortcut
    1 - 6*sum(d^2)/(n(n^2-1)).

    Plan: two window ranks over the SAME partition key (one Sort per
    ordering within the event_type hash partition — no extra shuffle
    between them), then one partial-agg CORR per series. At 100 TB the
    sort-within-series is the cost; series are independent so the 1000
    executors each sort their own hash partitions; a quantile-sketch
    rank approximation would trade exactness for a scan if series stop
    fitting per-task."""
    ev = load_table(spark, sf_dir, "events")
    rv = F.rank().over(
        Window.partitionBy("event_type").orderBy("value")
    ) + (
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "value")) - 1
    ) / 2.0
    rt = F.rank().over(
        Window.partitionBy("event_type").orderBy("ts")
    ) + (
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "ts")) - 1
    ) / 2.0
    return (
        ev.select("event_type", rv.alias("rv"), rt.alias("rt"))
        .groupBy("event_type")
        .agg(
            _eps_round(F.corr("rv", "rt"), 4).alias("spearman"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .orderBy("event_type")
    )


@register(
    "mannwhitney_u",
    """
    WITH p AS (
      SELECT value AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia
      FROM events WHERE event_type IN ('click', 'view')),
    rk AS (
      SELECT v, ia,
             RANK() OVER (ORDER BY v)
               + (COUNT(*) OVER (PARTITION BY v) - 1) / 2.0 AS fr
      FROM p),
    agg AS (
      SELECT SUM(CASE WHEN ia = 1 THEN fr ELSE 0 END) AS ra,
             CAST(SUM(ia) AS DOUBLE) AS na, CAST(COUNT(*) AS DOUBLE) AS nn
      FROM rk),
    ties AS (
      SELECT CAST(SUM(c * c * c - c) AS DOUBLE) AS tc
      FROM (SELECT COUNT(*) AS c FROM p GROUP BY v) t)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nn - na AS BIGINT) AS n_b,
           ROUND(1.2345e-8 + ra - na * (na + 1) / 2.0, 4) AS u_stat,
           ROUND(1.2345e-8 +
             (ra - na * (na + 1) / 2.0 - na * (nn - na) / 2.0)
             / SQRT(na * (nn - na) / 12.0
                    * ((nn + 1) - tc / (nn * (nn - 1.0)))), 4) AS z
    FROM agg CROSS JOIN ties
    """,
    tags=("curation", "statistics", "rank-test"),
)
def mannwhitney_u(spark, sf_dir):
    """MANN-WHITNEY U (Wilcoxon rank-sum) — the nonparametric two-sample
    location test (here: click vs view `value` distributions), with the
    exact tie-corrected normal approximation:
    U = R_a - n_a(n_a+1)/2, z = (U - n_a n_b/2) / sqrt(n_a n_b / 12 *
    ((N+1) - sum(t^3 - t)/(N(N-1)))). Like [[ks_two_sample]] it needs
    no binning; unlike KS it targets stochastic dominance rather than
    any-CDF-gap.

    Plan: one pooled fractional rank (single global sort of the two
    filtered groups — the only non-partial-agg step), tie counts from
    a per-value groupBy that reuses the same hash partitioning, then
    two scalar aggregates crossed. At 100 TB the global sort is the
    bottleneck; range-partitioned sort (Spark's TakeOrderedAndProject
    doesn't apply, but rank is sort-based and spills) keeps it
    linear-ish; a sketch-rank variant bounds it at one scan."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
    )
    fr = F.rank().over(Window.orderBy("v")) + (
        F.count(F.lit(1)).over(Window.partitionBy("v")) - 1
    ) / 2.0
    rk = p.select("v", "ia", fr.alias("fr"))
    agg = rk.agg(
        F.sum(F.when(F.col("ia") == 1, F.col("fr")).otherwise(0.0)).alias(
            "ra"
        ),
        F.sum("ia").cast("double").alias("na"),
        F.count(F.lit(1)).cast("double").alias("nn"),
    )
    ties = (
        p.groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(
                F.col("c") * F.col("c") * F.col("c") - F.col("c")
            ).cast("double").alias("tc")
        )
    )
    j = agg.crossJoin(F.broadcast(ties))
    u = F.col("ra") - F.col("na") * (F.col("na") + 1) / 2.0
    nb = F.col("nn") - F.col("na")
    sigma = F.sqrt(
        F.col("na") * nb / 12.0
        * ((F.col("nn") + 1)
           - F.col("tc") / (F.col("nn") * (F.col("nn") - 1.0)))
    )
    return j.select(
        F.col("na").cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        _eps_round(u, 4).alias("u_stat"),
        _eps_round((u - F.col("na") * nb / 2.0) / sigma, 4).alias("z"),
    )


@register(
    "anova_f_oneway",
    """
    WITH g AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, AVG(value) AS m,
             SUM(value * value) AS ss, SUM(value) AS s
      FROM events GROUP BY event_type),
    tot AS (
      SELECT SUM(s) / SUM(n) AS gm, SUM(n) AS nn,
             CAST(COUNT(*) AS DOUBLE) AS k
      FROM g),
    parts AS (
      SELECT MAX(tot.k) AS k, MAX(tot.nn) AS nn,
             SUM(g.n * (g.m - tot.gm) * (g.m - tot.gm)) AS ssb,
             SUM(g.ss - g.n * g.m * g.m) AS ssw
      FROM g CROSS JOIN tot)
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n,
           ROUND(1.2345e-8 + (ssb / (k - 1)) / (ssw / (nn - k)), 4)
             AS f_stat,
           ROUND(1.2345e-8 + ssb / (ssb + ssw), 4) AS eta_sq
    FROM parts
    """,
    tags=("curation", "statistics", "anova"),
)
def anova_f_oneway(spark, sf_dir):
    """ONE-WAY ANOVA F — between/within mean-square ratio across the
    five event-type groups on `value`, plus the eta-squared effect
    size (SSB / SST). The k-group generalization of the t-test, and
    the standard screen for 'does this categorical feature move the
    metric at all'. SSW uses the one-pass identity
    sum((x-m)^2) = sum(x^2) - n m^2 (safe here: double precision and
    4-decimal rounding dominate the cancellation).

    Plan: ONE partial-agg pass over the fact table (count/sum/sumsq
    per group — classic map-side combine, k rows out), then scalar
    arithmetic on a k-row frame crossed with its own rollup. At 100 TB
    this is a single scan with a 5-row shuffle: the optimal plan."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
        F.sum("value").alias("s"),
    )
    tot = g.agg(
        (F.sum("s") / F.sum("n")).alias("gm"),
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).cast("double").alias("k"),
    )
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.max("k").alias("k"),
        F.max("nn").alias("nn"),
        F.sum(
            F.col("n") * (F.col("m") - F.col("gm"))
            * (F.col("m") - F.col("gm"))
        ).alias("ssb"),
        F.sum(F.col("ss") - F.col("n") * F.col("m") * F.col("m")).alias(
            "ssw"
        ),
    )
    return parts.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n"),
        _eps_round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            4,
        ).alias("f_stat"),
        _eps_round(
            F.col("ssb") / (F.col("ssb") + F.col("ssw")), 4
        ).alias("eta_sq"),
    )


@register(
    "ols_two_feature",
    """
    WITH mu AS (
      SELECT l_returnflag, AVG(l_quantity) AS m1, AVG(l_discount) AS m2,
             AVG(l_extendedprice) AS my
      FROM lineitem GROUP BY l_returnflag),
    c AS (
      SELECT l.l_returnflag, CAST(COUNT(*) AS DOUBLE) AS n,
             MAX(mu.m1) AS m1, MAX(mu.m2) AS m2, MAX(mu.my) AS my,
             SUM((l_quantity - m1) * (l_quantity - m1)) AS c11,
             SUM((l_discount - m2) * (l_discount - m2)) AS c22,
             SUM((l_quantity - m1) * (l_discount - m2)) AS c12,
             SUM((l_quantity - m1) * (l_extendedprice - my)) AS c1y,
             SUM((l_discount - m2) * (l_extendedprice - my)) AS c2y,
             SUM((l_extendedprice - my) * (l_extendedprice - my)) AS cyy
      FROM lineitem l JOIN mu ON mu.l_returnflag = l.l_returnflag
      GROUP BY l.l_returnflag),
    b AS (
      SELECT l_returnflag, n, my, m1, m2, c1y, c2y, cyy,
             (c1y * c22 - c2y * c12) / (c11 * c22 - c12 * c12) AS b1,
             (c2y * c11 - c1y * c12) / (c11 * c22 - c12 * c12) AS b2
      FROM c)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(1.2345e-8 + my - b1 * m1 - b2 * m2, 4) AS b0,
           ROUND(1.2345e-8 + b1, 4) AS b_qty,
           ROUND(1.2345e-8 + b2, 4) AS b_disc,
           ROUND(1.2345e-8 + 1.0 - (cyy - b1 * c1y - b2 * c2y) / cyy, 4)
             AS r2
    FROM b ORDER BY l_returnflag
    """,
    tags=("curation", "statistics", "regression"),
)
def ols_two_feature(spark, sf_dir):
    """TWO-FEATURE OLS, closed form — per return-flag regression of
    extendedprice on (quantity, discount) via the CENTERED normal
    equations: center both features and the target, solve the 2x2
    system by Cramer's rule (b1, b2), recover the intercept as
    my - b1 m1 - b2 m2, and get R^2 without a residual pass from the
    OLS identity SSE = cyy - b1 c1y - b2 c2y. Centering is what makes
    the determinant numerically safe (raw-moment normal equations
    cancel ~1e15-scale products; centered cross-moments don't).
    Generalizes Spark's built-in regr_slope (single-feature) to the
    multivariate case with the same two-scan cost.

    Plan: scan 1 computes per-group means (partial agg, k rows); the
    means broadcast back into scan 2's centered cross-moment partial
    agg (map-side combine, k rows out); coefficients are driver-scale
    arithmetic. No residual third pass — the R^2 identity replaces
    it. At 100 TB: two scans, zero fact-table shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    mu = li.groupBy("l_returnflag").agg(
        F.avg("l_quantity").alias("m1"),
        F.avg("l_discount").alias("m2"),
        F.avg("l_extendedprice").alias("my"),
    )
    d1 = F.col("l_quantity") - F.col("m1")
    d2 = F.col("l_discount") - F.col("m2")
    dy = F.col("l_extendedprice") - F.col("my")
    c = (
        li.join(F.broadcast(mu), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.max("m1").alias("m1"),
            F.max("m2").alias("m2"),
            F.max("my").alias("my"),
            F.sum(d1 * d1).alias("c11"),
            F.sum(d2 * d2).alias("c22"),
            F.sum(d1 * d2).alias("c12"),
            F.sum(d1 * dy).alias("c1y"),
            F.sum(d2 * dy).alias("c2y"),
            F.sum(dy * dy).alias("cyy"),
        )
    )
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    b1 = (F.col("c1y") * F.col("c22") - F.col("c2y") * F.col("c12")) / det
    b2 = (F.col("c2y") * F.col("c11") - F.col("c1y") * F.col("c12")) / det
    b = c.select(
        "l_returnflag", "n", "my", "m1", "m2", "c1y", "c2y", "cyy",
        b1.alias("b1"), b2.alias("b2"),
    )
    return b.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        _eps_round(
            F.col("my") - F.col("b1") * F.col("m1")
            - F.col("b2") * F.col("m2"),
            4,
        ).alias("b0"),
        _eps_round(F.col("b1"), 4).alias("b_qty"),
        _eps_round(F.col("b2"), 4).alias("b_disc"),
        _eps_round(
            1.0
            - (
                F.col("cyy") - F.col("b1") * F.col("c1y")
                - F.col("b2") * F.col("c2y")
            )
            / F.col("cyy"),
            4,
        ).alias("r2"),
    ).orderBy("l_returnflag")


@register(
    "bollinger_breaches",
    """
    WITH h AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
             AVG(value) AS v
      FROM events GROUP BY 1, 2),
    b AS (
      SELECT event_type, v,
             AVG(v) OVER w AS m, STDDEV_POP(v) OVER w AS sd,
             COUNT(*) OVER w AS c
      FROM h
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
    f AS (SELECT * FROM b WHERE c = 24)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(CASE WHEN v > m + 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
             AS upper_breaches,
           CAST(SUM(CASE WHEN v < m - 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
             AS lower_breaches,
           ROUND(1.2345e-8 + AVG(4 * sd), 4) AS avg_band_width
    FROM f GROUP BY event_type ORDER BY event_type
    """,
    tags=("timeseries", "statistics", "window"),
)
def bollinger_breaches(spark, sf_dir):
    """BOLLINGER BANDS breach audit — per series, the 24-hour rolling
    mean +/- 2 rolling population-sigma envelope, counting hours that
    close outside either band (the classic volatility-breakout signal,
    and operationally the same shape as an SLO burn alert: 'metric
    outside its own recent +/-2-sigma envelope'). Warm-up rows (frame
    shorter than 24) are excluded so every band is a full-window band.

    Plan: hourly pre-agg shrinks the fact table first (partial agg);
    the rolling mean/sigma are ONE window sort per series computing
    both moments in the same frame pass; the breach audit is a final
    partial agg. Same sort-once posture as [[rolling_1h_median]] but
    with a ROWS frame — bounded state per row at any scale."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.avg("value").alias("v"))
    w = Window.partitionBy("event_type").orderBy("hour").rowsBetween(-23, 0)
    b = h.select(
        "event_type",
        "v",
        F.avg("v").over(w).alias("m"),
        F.stddev_pop("v").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("c"),
    ).filter(F.col("c") == 24)
    return (
        b.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum(
                F.when(
                    F.col("v") > F.col("m") + 2 * F.col("sd"), 1
                ).otherwise(0)
            ).cast("long").alias("upper_breaches"),
            F.sum(
                F.when(
                    F.col("v") < F.col("m") - 2 * F.col("sd"), 1
                ).otherwise(0)
            ).cast("long").alias("lower_breaches"),
            _eps_round(F.avg(4 * F.col("sd")), 4).alias("avg_band_width"),
        )
        .orderBy("event_type")
    )


@register(
    "max_drawdown",
    """
    WITH eq AS (
      SELECT user_id, ts, event_id,
             SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS eqty
      FROM events),
    dd AS (
      SELECT user_id,
             MAX(eqty) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) - eqty AS draw
      FROM eq)
    SELECT user_id, ROUND(1.2345e-8 + MAX(draw), 4) AS max_drawdown
    FROM dd GROUP BY user_id
    ORDER BY max_drawdown DESC, user_id LIMIT 20
    """,
    tags=("timeseries", "statistics", "window"),
)
def max_drawdown(spark, sf_dir):
    """MAXIMUM DRAWDOWN per account — treat each user's cumulative
    event value as an equity curve and report the largest peak-to-
    trough drop: max over t of (running-max - equity_t). The standard
    risk statistic for any cumulative series (finance PnL, but equally
    error-budget burn). Deterministic because BOTH the running sum and
    the running max are frame-ordered ((ts, event_id) total order), so
    the doubles are bit-identical across engines — no floating-point
    reorder hazard despite no exact-decimal types.

    Plan: one hash partition by user, ONE sort per partition feeding
    two stacked running windows (Spark collapses same-ordering windows
    into a single Sort + two Window operators, zero extra exchange),
    then a partial-agg max and a 20-row TakeOrdered. User series are
    independent: at 100 TB the 1000 executors each stream their own
    users with O(1) window state per row."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    eq = ev.select(
        "user_id", "ts", "event_id", F.sum("value").over(w).alias("eqty")
    )
    dd = eq.select(
        "user_id", (F.max("eqty").over(w) - F.col("eqty")).alias("draw")
    )
    return (
        dd.groupBy("user_id")
        .agg(_eps_round(F.max("draw"), 4).alias("max_drawdown"))
        .orderBy(F.col("max_drawdown").desc(), "user_id")
        .limit(20)
    )


@register(
    "gini_concentration",
    """
    WITH rev AS (
      SELECT c.c_nationkey, o.o_custkey AS k, SUM(o.o_totalprice) AS x
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    rk AS (
      SELECT c_nationkey, x,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY x, k) AS i,
             COUNT(*) OVER (PARTITION BY c_nationkey) AS n,
             SUM(x) OVER (PARTITION BY c_nationkey) AS sx
      FROM rev)
    SELECT c_nationkey, CAST(MAX(n) AS BIGINT) AS n_cust,
           ROUND(1.2345e-8 + 2.0 * SUM(i * x) / (MAX(n) * MAX(sx))
                 - (MAX(n) + 1.0) / MAX(n), 4) AS gini
    FROM rk GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    tags=("curation", "statistics", "concentration"),
)
def gini_concentration(spark, sf_dir):
    """GINI COEFFICIENT of revenue concentration per nation — how
    unequally customer lifetime revenue is distributed, via the exact
    sorted-rank identity G = 2*sum(i * x_(i)) / (n * sum(x)) - (n+1)/n
    (ties broken by custkey: permuting equal x within a tie block
    leaves sum(i*x) unchanged, so the tie-break only pins engine-side
    determinism, not the value). The concentration statistic data
    governance runs on source contributions and revenue teams run on
    accounts; [[pareto_skyline_brand]] is its per-item frontier cousin.

    Plan: revenue rollup is a partial-agg groupBy; the ranked pass is
    one sort per nation partition (rank + count + sum share the
    partition frame); the final fold is partial-agg again. Customer
    counts per nation are ~|customers|/25 — each sort fits a task at
    any realistic scale; beyond that, Gini from a quantile sketch."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(
            F.broadcast(cu.select("c_custkey", "c_nationkey")),
            o.o_custkey == cu.c_custkey,
        )
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("o_totalprice").alias("x"))
    )
    wp = Window.partitionBy("c_nationkey")
    rk = rev.select(
        "c_nationkey",
        "x",
        F.row_number().over(wp.orderBy("x", "o_custkey")).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("x").over(wp).alias("sx"),
    )
    return (
        rk.groupBy("c_nationkey")
        .agg(
            F.max("n").cast("long").alias("n_cust"),
            _eps_round(
                2.0 * F.sum(F.col("i") * F.col("x"))
                / (F.max("n") * F.max("sx"))
                - (F.max("n") + 1.0) / F.max("n"),
                4,
            ).alias("gini"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "naive_bayes_gaussian",
    """
    WITH params AS (
      SELECT l_returnflag AS cls, CAST(COUNT(*) AS DOUBLE) AS n,
             ROUND(AVG(l_quantity), 6) AS mu1,
             ROUND(VAR_POP(l_quantity), 6) AS v1,
             ROUND(AVG(l_discount), 6) AS mu2,
             ROUND(VAR_POP(l_discount), 6) AS v2
      FROM lineitem GROUP BY l_returnflag),
    pw AS (
      SELECT SUM(n) AS nn,
             MAX(CASE WHEN cls = 'A' THEN n END) AS na,
             MAX(CASE WHEN cls = 'A' THEN mu1 END) AS a_mu1,
             MAX(CASE WHEN cls = 'A' THEN v1 END) AS a_v1,
             MAX(CASE WHEN cls = 'A' THEN mu2 END) AS a_mu2,
             MAX(CASE WHEN cls = 'A' THEN v2 END) AS a_v2,
             MAX(CASE WHEN cls = 'N' THEN n END) AS nb,
             MAX(CASE WHEN cls = 'N' THEN mu1 END) AS n_mu1,
             MAX(CASE WHEN cls = 'N' THEN v1 END) AS n_v1,
             MAX(CASE WHEN cls = 'N' THEN mu2 END) AS n_mu2,
             MAX(CASE WHEN cls = 'N' THEN v2 END) AS n_v2,
             MAX(CASE WHEN cls = 'R' THEN n END) AS nc,
             MAX(CASE WHEN cls = 'R' THEN mu1 END) AS r_mu1,
             MAX(CASE WHEN cls = 'R' THEN v1 END) AS r_v1,
             MAX(CASE WHEN cls = 'R' THEN mu2 END) AS r_mu2,
             MAX(CASE WHEN cls = 'R' THEN v2 END) AS r_v2
      FROM params),
    scored AS (
      SELECT l.l_returnflag AS actual,
             LN(p.na / p.nn) - 0.5 * LN(p.a_v1)
               - (l.l_quantity - p.a_mu1) * (l.l_quantity - p.a_mu1)
                 / (2 * p.a_v1)
               - 0.5 * LN(p.a_v2)
               - (l.l_discount - p.a_mu2) * (l.l_discount - p.a_mu2)
                 / (2 * p.a_v2) AS ll_a,
             LN(p.nb / p.nn) - 0.5 * LN(p.n_v1)
               - (l.l_quantity - p.n_mu1) * (l.l_quantity - p.n_mu1)
                 / (2 * p.n_v1)
               - 0.5 * LN(p.n_v2)
               - (l.l_discount - p.n_mu2) * (l.l_discount - p.n_mu2)
                 / (2 * p.n_v2) AS ll_n,
             LN(p.nc / p.nn) - 0.5 * LN(p.r_v1)
               - (l.l_quantity - p.r_mu1) * (l.l_quantity - p.r_mu1)
                 / (2 * p.r_v1)
               - 0.5 * LN(p.r_v2)
               - (l.l_discount - p.r_mu2) * (l.l_discount - p.r_mu2)
                 / (2 * p.r_v2) AS ll_r
      FROM lineitem l CROSS JOIN pw p),
    pred AS (
      SELECT actual,
             CASE WHEN ll_a >= ll_n AND ll_a >= ll_r THEN 'A'
                  WHEN ll_n >= ll_r THEN 'N' ELSE 'R' END AS predicted
      FROM scored)
    SELECT actual, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + AVG(CASE WHEN predicted = actual
                                      THEN 1.0 ELSE 0.0 END), 4)
             AS recall
    FROM pred GROUP BY actual ORDER BY actual
    """,
    tags=("curation", "ml", "classification"),
)
def naive_bayes_gaussian(spark, sf_dir):
    """GAUSSIAN NAIVE BAYES, train + resubstitution eval — per-class
    Gaussian likelihoods on (quantity, discount) with class priors,
    argmax log-posterior prediction, per-class recall. The one-pass
    trainable classifier every data-quality router starts with (and
    the standard 'is this feature predictive at all' probe next to
    [[mutual_information]]). Class params ROUND to 6 decimals BEFORE
    scoring on BOTH engines, so aggregate summation-order ulps cannot
    leak into a borderline argmax; the argmax itself is a branch-free
    CASE chain whose >= tie-break prefers the alphabetically smaller
    class identically on both engines — NO per-row id is needed
    anywhere (the first draft partitioned a window by a post-join row
    number and triple-counted; the pivot kills the whole hazard).

    Plan: training is ONE partial-agg pass (count/avg/var per class, 3
    rows); the pivoted 1-row param frame broadcasts into a map-only
    scoring expression inside WholeStageCodegen; eval is a partial-agg
    rollup. At 100 TB: two scans, no fact shuffle — the NB sweet
    spot."""
    li = load_table(spark, sf_dir, "lineitem")
    params = li.groupBy(F.col("l_returnflag").alias("cls")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.avg("l_quantity"), 6).alias("mu1"),
        F.round(F.var_pop("l_quantity"), 6).alias("v1"),
        F.round(F.avg("l_discount"), 6).alias("mu2"),
        F.round(F.var_pop("l_discount"), 6).alias("v2"),
    )

    def _pick(cls, col):
        return F.max(F.when(F.col("cls") == cls, F.col(col)))

    pw = params.agg(
        F.sum("n").alias("nn"),
        *[
            _pick(cls, col).alias(f"{pre}_{col}")
            for cls, pre in (("A", "a"), ("N", "n"), ("R", "r"))
            for col in ("n", "mu1", "v1", "mu2", "v2")
        ],
    )

    def _ll(pre):
        return (
            F.log(F.col(f"{pre}_n") / F.col("nn"))
            - 0.5 * F.log(F.col(f"{pre}_v1"))
            - (F.col("l_quantity") - F.col(f"{pre}_mu1"))
            * (F.col("l_quantity") - F.col(f"{pre}_mu1"))
            / (2 * F.col(f"{pre}_v1"))
            - 0.5 * F.log(F.col(f"{pre}_v2"))
            - (F.col("l_discount") - F.col(f"{pre}_mu2"))
            * (F.col("l_discount") - F.col(f"{pre}_mu2"))
            / (2 * F.col(f"{pre}_v2"))
        )

    scored = li.crossJoin(F.broadcast(pw)).select(
        F.col("l_returnflag").alias("actual"),
        _ll("a").alias("ll_a"),
        _ll("n").alias("ll_n"),
        _ll("r").alias("ll_r"),
    )
    pred = scored.select(
        "actual",
        F.when(
            (F.col("ll_a") >= F.col("ll_n"))
            & (F.col("ll_a") >= F.col("ll_r")),
            "A",
        )
        .when(F.col("ll_n") >= F.col("ll_r"), "N")
        .otherwise("R")
        .alias("predicted"),
    )
    return (
        pred.groupBy("actual")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _eps_round(
                F.avg(
                    F.when(
                        F.col("predicted") == F.col("actual"), 1.0
                    ).otherwise(0.0)
                ),
                4,
            ).alias("recall"),
        )
        .orderBy("actual")
    )


@register(
    "decision_stump_infogain",
    """
    WITH f AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    g AS (SELECT v, COUNT(*) AS n, SUM(y) AS pos FROM f GROUP BY v),
    tot AS (SELECT SUM(n) AS nn, SUM(pos) AS pp FROM g),
    cum AS (
      SELECT v,
             SUM(n) OVER (ORDER BY v) AS cn,
             SUM(pos) OVER (ORDER BY v) AS cpos
      FROM g),
    sc AS (
      SELECT c.v, c.cn, c.cpos, t.nn, t.pp,
             (CAST(c.cn AS DOUBLE) / t.nn) * (
               CASE WHEN c.cpos IN (0, c.cn) THEN 0.0 ELSE
                 -(CAST(c.cpos AS DOUBLE) / c.cn)
                    * LN(CAST(c.cpos AS DOUBLE) / c.cn)
                 - (1.0 - CAST(c.cpos AS DOUBLE) / c.cn)
                    * LN(1.0 - CAST(c.cpos AS DOUBLE) / c.cn) END)
             + (CAST(t.nn - c.cn AS DOUBLE) / t.nn) * (
               CASE WHEN t.pp - c.cpos IN (0, t.nn - c.cn) THEN 0.0 ELSE
                 -(CAST(t.pp - c.cpos AS DOUBLE) / (t.nn - c.cn))
                    * LN(CAST(t.pp - c.cpos AS DOUBLE) / (t.nn - c.cn))
                 - (1.0 - CAST(t.pp - c.cpos AS DOUBLE) / (t.nn - c.cn))
                    * LN(1.0 - CAST(t.pp - c.cpos AS DOUBLE)
                         / (t.nn - c.cn)) END) AS wh
      FROM cum c CROSS JOIN tot t WHERE c.cn < t.nn),
    best AS (
      SELECT v, cn, cpos, nn, pp, wh,
             ROW_NUMBER() OVER (ORDER BY ROUND(wh, 8), v) AS rk
      FROM sc)
    SELECT ROUND(1.2345e-8 + v, 4) AS threshold,
           CAST(cn AS BIGINT) AS n_left, CAST(nn - cn AS BIGINT) AS n_right,
           ROUND(1.2345e-8 +
             (CASE WHEN pp IN (0, nn) THEN 0.0 ELSE
               -(CAST(pp AS DOUBLE) / nn) * LN(CAST(pp AS DOUBLE) / nn)
               - (1.0 - CAST(pp AS DOUBLE) / nn)
                  * LN(1.0 - CAST(pp AS DOUBLE) / nn) END) - wh, 4)
             AS info_gain
    FROM best WHERE rk = 1
    """,
    tags=("curation", "ml", "tree"),
)
def decision_stump_infogain(spark, sf_dir):
    """DECISION STUMP by exact information gain — the single best
    threshold on `value` for predicting the purchase class, evaluated
    at EVERY distinct split point (the C4.5/CART inner loop, not a
    quantile approximation): one cumulative scan gives (n_left,
    pos_left) for all thresholds simultaneously, weighted binary
    entropy picks the argmin. All split statistics are INTEGER
    cumulative counts, so the entropy inputs are bit-identical across
    engines; the argmin orders by ROUND(wh, 8) with threshold
    tie-break, collapsing last-ulp libm-LN differences before they
    can flip the winner.

    Plan: per-value groupBy (partial agg), ONE global window cumsum
    over distinct values (|distinct| rows, not |rows|), map-only
    entropy, TakeOrdered(1). The same histogram-then-scan shape
    XGBoost's exact-greedy mode uses per feature; at 100 TB you run
    it per-feature in parallel and switch to the quantile-sketch
    variant ([[equidepth_bins]]) when |distinct| explodes."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "y"
        ),
    )
    g = f.groupBy("v").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = g.agg(F.sum("n").alias("nn"), F.sum("pos").alias("pp"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.select(
        "v",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cpos"),
    )

    def _h(pos, n):
        pr = pos.cast("double") / n
        return (
            F.when((pos == 0) | (pos == n), 0.0)
            .otherwise(-pr * F.log(pr) - (1 - pr) * F.log(1 - pr))
        )

    sc = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cn") < F.col("nn"))
        .select(
            "v", "cn", "cpos", "nn", "pp",
            (
                (F.col("cn").cast("double") / F.col("nn"))
                * _h(F.col("cpos"), F.col("cn"))
                + ((F.col("nn") - F.col("cn")).cast("double") / F.col("nn"))
                * _h(
                    F.col("pp") - F.col("cpos"), F.col("nn") - F.col("cn")
                )
            ).alias("wh"),
        )
    )
    best = sc.orderBy(F.round(F.col("wh"), 8), "v").limit(1)
    return best.select(
        _eps_round(F.col("v"), 4).alias("threshold"),
        F.col("cn").cast("long").alias("n_left"),
        (F.col("nn") - F.col("cn")).cast("long").alias("n_right"),
        _eps_round(
            _h(F.col("pp"), F.col("nn")) - F.col("wh"), 4
        ).alias("info_gain"),
    )


@register(
    "kfold_assignment_balance",
    """
    WITH f AS (
      SELECT CASE
               WHEN substr(md5('kfold:' || CAST(l_orderkey AS VARCHAR)
                            || ':' || CAST(l_linenumber AS VARCHAR)), 1, 2)
                    < '33' THEN 0
               WHEN substr(md5('kfold:' || CAST(l_orderkey AS VARCHAR)
                            || ':' || CAST(l_linenumber AS VARCHAR)), 1, 2)
                    < '66' THEN 1
               WHEN substr(md5('kfold:' || CAST(l_orderkey AS VARCHAR)
                            || ':' || CAST(l_linenumber AS VARCHAR)), 1, 2)
                    < '99' THEN 2
               WHEN substr(md5('kfold:' || CAST(l_orderkey AS VARCHAR)
                            || ':' || CAST(l_linenumber AS VARCHAR)), 1, 2)
                    < 'cc' THEN 3
               ELSE 4 END AS fold,
             l_extendedprice AS y,
             CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS pos
      FROM lineitem)
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + AVG(y), 4) AS mean_target,
           ROUND(1.2345e-8 + AVG(pos), 4) AS pos_rate
    FROM f GROUP BY fold ORDER BY fold
    """,
    tags=("curation", "ml", "sampling"),
)
def kfold_assignment_balance(spark, sf_dir):
    """DETERMINISTIC K-FOLD ASSIGNMENT + balance audit — hash each row
    into one of 5 folds by salted-md5 prefix thresholds (the
    [[split_group_hash]] discipline extended to k buckets: '33'/'66'/
    '99'/'cc' cut the 256 two-hex-char values into ~fifths) and verify
    the folds are balanced on size, target mean, and class rate. The
    audit IS the point: skewed folds silently bias every
    cross-validated metric downstream, and a hash-keyed fold is
    reproducible across runs, engines, and re-partitioning — the only
    property that makes CV results comparable over time (rand()-based
    folds are not).

    Plan: map-only fold assignment (codegen md5 + string compare),
    partial-agg rollup — one scan, 5-row shuffle at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    h = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.lit("kfold"),
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        ),
        1, 2,
    )
    fold = (
        F.when(h < "33", 0)
        .when(h < "66", 1)
        .when(h < "99", 2)
        .when(h < "cc", 3)
        .otherwise(4)
    )
    f = li.select(
        fold.alias("fold"),
        F.col("l_extendedprice").alias("y"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias(
            "pos"
        ),
    )
    return (
        f.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _eps_round(F.avg("y"), 4).alias("mean_target"),
            _eps_round(F.avg("pos"), 4).alias("pos_rate"),
        )
        .orderBy("fold")
    )


@register(
    "isotonic_calibration_pava",
    """
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(value / 50) AS INT), 9) AS bin,
             CAST(COUNT(*) AS DOUBLE) AS w,
             ROUND(AVG(CASE WHEN event_type = 'purchase'
                            THEN 1.0 ELSE 0.0 END), 6) AS rate
      FROM events GROUP BY 1),
    iv AS (
      SELECT j.bin AS jb, k.bin AS kb,
             SUM(m.w * m.rate) / SUM(m.w) AS a
      FROM b j JOIN b k ON k.bin >= j.bin
      JOIN b m ON m.bin BETWEEN j.bin AND k.bin
      GROUP BY j.bin, k.bin),
    t1 AS (
      SELECT i.bin, v.jb, MIN(v.a) AS m
      FROM b i JOIN iv v ON v.jb <= i.bin AND v.kb >= i.bin
      GROUP BY i.bin, v.jb),
    iso AS (SELECT bin, MAX(m) AS iso FROM t1 GROUP BY bin)
    SELECT b.bin, CAST(b.w AS BIGINT) AS n,
           ROUND(1.2345e-8 + b.rate, 4) AS raw_rate,
           ROUND(1.2345e-8 + iso.iso, 4) AS iso_rate
    FROM b JOIN iso USING (bin) ORDER BY b.bin
    """,
    tags=("curation", "ml", "calibration"),
)
def isotonic_calibration_pava(spark, sf_dir):
    """ISOTONIC REGRESSION (PAVA) calibration curve — the
    weighted monotone fit of purchase rate against value decile via
    the pool-adjacent-violators MINIMAX identity iso(i) = max_{j<=i}
    min_{k>=i} weightedAvg(rate[j..k]): the closed form turns the
    sequential pooling algorithm into three join-aggregates, which is
    what makes it distributable AT ALL (textbook PAVA is an inherently
    serial scan). The standard probability-calibration step
    ([[brier_calibration]] measures what this fixes) and the exact
    solution, not an approximation — on 10 bins the O(n^3) interval
    enumeration is 220 rows. Bin rates round to 6 decimals first
    (the argmax-stability rule).

    Plan: ONE fact-scan partial agg to the 10-bin frame; everything
    after is interval enumeration on a broadcast-size frame (two
    grouped aggregates). At 100 TB the bin count, not the row count,
    drives the isotonic cost — n_bins ~ 100s keeps the closed form
    cheap; past that you pool on a quantile-sketch grid."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy(
        F.least(
            F.floor(F.col("value") / 50).cast("int"), F.lit(9)
        ).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("w"),
        F.round(
            F.avg(
                F.when(F.col("event_type") == "purchase", 1.0).otherwise(
                    0.0
                )
            ),
            6,
        ).alias("rate"),
    )
    j = b.select(F.col("bin").alias("jb"))
    k = b.select(F.col("bin").alias("kb"))
    m = b.select(
        F.col("bin").alias("mb"), F.col("w").alias("mw"),
        F.col("rate").alias("mr"),
    )
    iv = (
        j.join(k, F.col("kb") >= F.col("jb"))
        .join(m, F.col("mb").between(F.col("jb"), F.col("kb")))
        .groupBy("jb", "kb")
        .agg(
            (
                F.sum(F.col("mw") * F.col("mr")) / F.sum("mw")
            ).alias("a")
        )
    )
    i = b.select(F.col("bin").alias("ib"))
    t1 = (
        i.join(
            iv,
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("ib", "jb")
        .agg(F.min("a").alias("m"))
    )
    iso = t1.groupBy(F.col("ib").alias("bin")).agg(
        F.max("m").alias("iso")
    )
    return (
        b.join(iso, "bin")
        .select(
            "bin",
            F.col("w").cast("long").alias("n"),
            _eps_round("rate", 4).alias("raw_rate"),
            _eps_round("iso", 4).alias("iso_rate"),
        )
        .orderBy("bin")
    )


@register(
    "welch_ttest",
    """
    WITH g AS (
      SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
             CAST(COUNT(*) AS DOUBLE) AS n, AVG(value) AS m,
             (SUM(value * value) - COUNT(*) * AVG(value) * AVG(value))
               / (COUNT(*) - 1) AS v
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY CASE WHEN event_type = 'click' THEN 1 ELSE 0 END),
    w AS (
      SELECT MAX(CASE WHEN ia = 1 THEN n END) AS na,
             MAX(CASE WHEN ia = 0 THEN n END) AS nb,
             MAX(CASE WHEN ia = 1 THEN m END) AS ma,
             MAX(CASE WHEN ia = 0 THEN m END) AS mb,
             MAX(CASE WHEN ia = 1 THEN v END) AS va,
             MAX(CASE WHEN ia = 0 THEN v END) AS vb
      FROM g)
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(1.2345e-8 + ma - mb, 4) AS mean_diff,
           ROUND(1.2345e-8 +
             (ma - mb) / SQRT(va / na + vb / nb), 4) AS t_stat,
           ROUND(1.2345e-8 +
             (va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)), 4) AS df_welch
    FROM w
    """,
    tags=("curation", "statistics", "hypothesis-test"),
)
def welch_ttest(spark, sf_dir):
    """WELCH'S UNEQUAL-VARIANCE t-TEST — click vs view `value`: the
    default two-sample mean test when variances can't be assumed equal
    (the pooled Student t is the special case; Welch is what A/B
    platforms actually run). Emits the mean difference, the t
    statistic t = (m_a - m_b)/sqrt(v_a/n_a + v_b/n_b), and the
    Welch-Satterthwaite effective degrees of freedom. Sample variance
    uses the one-pass identity (sum(x^2) - n m^2)/(n-1) — same
    cancellation posture as [[anova_f_oneway]]. Complements
    [[abtest_conversion_z]] (proportions) and [[mannwhitney_u]]
    (ranks): together the standard experiment-readout trio.

    Plan: ONE partial-agg scan (count/sum/sumsq per arm — map-side
    combine, 2 rows out), then scalar arithmetic on the pivoted 1-row
    frame. At 100 TB this is a single pass with a 2-row shuffle — the
    optimal plan; nothing here grows with data."""
    ev = load_table(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .groupBy(
            F.when(F.col("event_type") == "click", 1)
            .otherwise(0)
            .alias("ia")
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("value").alias("m"),
            (
                (
                    F.sum(F.col("value") * F.col("value"))
                    - F.count(F.lit(1)) * F.avg("value") * F.avg("value")
                )
                / (F.count(F.lit(1)) - 1)
            ).alias("v"),
        )
    )
    w = g.agg(
        F.max(F.when(F.col("ia") == 1, F.col("n"))).alias("na"),
        F.max(F.when(F.col("ia") == 0, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("ia") == 1, F.col("m"))).alias("ma"),
        F.max(F.when(F.col("ia") == 0, F.col("m"))).alias("mb"),
        F.max(F.when(F.col("ia") == 1, F.col("v"))).alias("va"),
        F.max(F.when(F.col("ia") == 0, F.col("v"))).alias("vb"),
    )
    sa = F.col("va") / F.col("na")
    sb = F.col("vb") / F.col("nb")
    return w.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        _eps_round(F.col("ma") - F.col("mb"), 4).alias("mean_diff"),
        _eps_round(
            (F.col("ma") - F.col("mb")) / F.sqrt(sa + sb), 4
        ).alias("t_stat"),
        _eps_round(
            (sa + sb) * (sa + sb)
            / (sa * sa / (F.col("na") - 1) + sb * sb / (F.col("nb") - 1)),
            4,
        ).alias("df_welch"),
    )


@register(
    "kendall_tau_b",
    """
    WITH s AS (
      SELECT event_id, event_type, value AS x,
             epoch_us(ts) AS y
      FROM events WHERE event_id % 13 = 0),
    pr AS (
      SELECT a.event_type,
             CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS c,
             CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS d,
             CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
      FROM s a JOIN s b
        ON a.event_type = b.event_type AND a.event_id < b.event_id),
    agg AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n0,
             CAST(SUM(c) AS DOUBLE) AS c, CAST(SUM(d) AS DOUBLE) AS d,
             CAST(SUM(tx) AS DOUBLE) AS tx, CAST(SUM(ty) AS DOUBLE) AS ty
      FROM pr GROUP BY event_type)
    SELECT event_type, CAST(n0 AS BIGINT) AS n_pairs,
           CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
           ROUND(1.2345e-8 +
             (c - d) / SQRT((n0 - tx) * (n0 - ty)), 4) AS tau_b
    FROM agg ORDER BY event_type
    """,
    tags=("curation", "statistics", "correlation"),
)
def kendall_tau_b(spark, sf_dir):
    """KENDALL'S TAU-B per series — concordant-vs-discordant pair
    fractions between `value` and event time, with the tie-corrected
    denominator sqrt((n0 - t_x)(n0 - t_y)): the third member of the
    monotone-association family next to [[spearman_corr]] (fractional
    ranks) and Pearson ([[corr_matrix]]); tau's 0.95-efficiency and
    direct probabilistic reading (P(concordant) - P(discordant)) make
    it the robust default for small/tied samples. Computed on the
    deterministic 1-in-13 event slice so the exact O(n^2) pair form
    stays bounded.

    Plan: equi-join on the series key with an id inequality — each
    series' pairs stay inside its hash partition, counted by ONE
    partial agg (5 rows out). The quadratic pair form is the EXACT
    estimator and is only run on the bounded sample; at 100 TB the
    full-series alternative is the O(n log n) merge-sort
    inversion-count (discordant pairs = inversions of y under x-sort),
    a natural mapInPandas per series — the sample keeps the oracle
    exactly mirrorable instead."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_id") % 13 == 0).select(
        "event_id",
        "event_type",
        F.col("value").alias("x"),
        F.unix_micros("ts").alias("y"),
    )
    a, b = s.alias("a"), s.alias("b")
    prod = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    pr = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.event_id") < F.col("b.event_id")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(prod > 0, 1).otherwise(0).alias("c"),
        F.when(prod < 0, 1).otherwise(0).alias("d"),
        F.when(F.col("a.x") == F.col("b.x"), 1).otherwise(0).alias("tx"),
        F.when(F.col("a.y") == F.col("b.y"), 1).otherwise(0).alias("ty"),
    )
    agg = pr.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n0"),
        F.sum("c").cast("double").alias("c"),
        F.sum("d").cast("double").alias("d"),
        F.sum("tx").cast("double").alias("tx"),
        F.sum("ty").cast("double").alias("ty"),
    )
    return agg.select(
        "event_type",
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        _eps_round(
            (F.col("c") - F.col("d"))
            / F.sqrt(
                (F.col("n0") - F.col("tx")) * (F.col("n0") - F.col("ty"))
            ),
            4,
        ).alias("tau_b"),
    ).orderBy("event_type")


@register(
    "kruskal_wallis",
    """
    WITH rk AS (
      SELECT source,
             RANK() OVER (ORDER BY n_chars)
               + (COUNT(*) OVER (PARTITION BY n_chars) - 1) / 2.0 AS fr
      FROM documents),
    g AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS n, SUM(fr) AS rs
      FROM rk GROUP BY source),
    tot AS (
      SELECT SUM(n) AS nn FROM g),
    ties AS (
      SELECT CAST(SUM(c * c * c - c) AS DOUBLE) AS tc
      FROM (SELECT COUNT(*) AS c FROM documents GROUP BY n_chars) t),
    h AS (
      SELECT MAX(tot.nn) AS nn, MAX(ties.tc) AS tc,
             CAST(COUNT(*) AS BIGINT) AS k,
             SUM(g.rs * g.rs / g.n) AS srr
      FROM g CROSS JOIN tot CROSS JOIN ties)
    SELECT k AS k_groups, CAST(nn AS BIGINT) AS n,
           ROUND(1.2345e-8 +
             (12.0 / (nn * (nn + 1)) * srr - 3.0 * (nn + 1))
             / (1.0 - tc / (nn * nn * nn - nn)), 4) AS h_stat
    FROM h
    """,
    tags=("curation", "statistics", "rank-test"),
)
def kruskal_wallis(spark, sf_dir):
    """KRUSKAL-WALLIS H — the rank-based one-way ANOVA across document
    sources on `n_chars`, with the standard tie correction
    1 - sum(t^3 - t)/(N^3 - N): the k-group generalization of
    [[mannwhitney_u]] exactly as [[anova_f_oneway]] generalizes the t
    test, and the right screen when the metric is heavy-tailed (doc
    lengths are). H = 12/(N(N+1)) * sum(R_i^2/n_i) - 3(N+1), corrected.

    Plan: one pooled fractional rank (the single global sort is the
    only non-partial-agg step — same posture as [[mannwhitney_u]]),
    per-group rank sums in one partial agg, tie counts from a
    per-value groupBy, then scalar arithmetic on a k-row frame. At
    100 TB the sort-based rank dominates; everything after it moves
    k rows."""
    docs = load_table(spark, sf_dir, "documents")
    fr = F.rank().over(Window.orderBy("n_chars")) + (
        F.count(F.lit(1)).over(Window.partitionBy("n_chars")) - 1
    ) / 2.0
    g = (
        docs.select("source", fr.alias("fr"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("fr").alias("rs"),
        )
    )
    tot = g.agg(F.sum("n").alias("nn"))
    ties = (
        docs.groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
            .cast("double")
            .alias("tc")
        )
    )
    h = (
        g.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ties))
        .agg(
            F.max("nn").alias("nn"),
            F.max("tc").alias("tc"),
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(F.col("rs") * F.col("rs") / F.col("n")).alias("srr"),
        )
    )
    nn = F.col("nn")
    return h.select(
        F.col("k").alias("k_groups"),
        nn.cast("long").alias("n"),
        _eps_round(
            (12.0 / (nn * (nn + 1)) * F.col("srr") - 3.0 * (nn + 1))
            / (1.0 - F.col("tc") / (nn * nn * nn - nn)),
            4,
        ).alias("h_stat"),
    )


@register(
    "ece_calibration_bins",
    """
    WITH p AS (
      SELECT 1.0 / (1.0 + EXP(-(value - 50.0) / 25.0)) AS pred,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM events),
    b AS (
      SELECT LEAST(CAST(FLOOR(pred * 10) AS INT), 9) AS bin,
             CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(pred) AS conf, AVG(y) AS acc
      FROM p GROUP BY 1),
    e AS (
      SELECT SUM(n * ABS(conf - acc)) / SUM(n) AS ece FROM b)
    SELECT bin, CAST(n AS BIGINT) AS n,
           ROUND(1.2345e-8 + conf, 4) AS confidence,
           ROUND(1.2345e-8 + acc, 4) AS accuracy,
           ROUND(1.2345e-8 + conf - acc, 4) AS gap,
           ROUND(1.2345e-8 + ece, 4) AS ece
    FROM b CROSS JOIN e ORDER BY bin
    """,
    tags=("curation", "statistics", "calibration"),
)
def ece_calibration_bins(spark, sf_dir):
    """EXPECTED CALIBRATION ERROR — the decile reliability diagram +
    its weighted-|gap| summary, the standard model-calibration readout
    next to [[brier_calibration]] (proper score) and
    [[isotonic_calibration_pava]] (the fix). Scores are a
    deterministic logistic transform of `value` (sigma((v-50)/25))
    against a click/purchase outcome, so both engines derive identical
    (pred, y) pairs with no model dependency; bins are equal-WIDTH
    deciles of the probability axis (the ECE convention —
    [[equidepth_bins]] covers equal-mass).

    Plan: map-only transform -> ONE partial-agg groupBy on the bin id
    (10 rows out) -> scalar ECE crossed back for display. At 100 TB:
    single scan, 10-row shuffle, optimal; the broadcast of the 1-row
    ECE frame is free."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        (
            1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))
        ).alias("pred"),
        F.when(F.col("event_type").isin("click", "purchase"), 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    b = (
        p.groupBy(
            F.least(F.floor(F.col("pred") * 10).cast("int"), F.lit(9)).alias(
                "bin"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.avg("pred").alias("conf"),
            F.avg("y").alias("acc"),
        )
    )
    e = b.agg(
        (
            F.sum(F.col("n") * F.abs(F.col("conf") - F.col("acc")))
            / F.sum("n")
        ).alias("ece")
    )
    return (
        b.crossJoin(F.broadcast(e))
        .select(
            "bin",
            F.col("n").cast("long").alias("n"),
            _eps_round("conf", 4).alias("confidence"),
            _eps_round("acc", 4).alias("accuracy"),
            _eps_round(F.col("conf") - F.col("acc"), 4).alias("gap"),
            _eps_round("ece", 4).alias("ece"),
        )
        .orderBy("bin")
    )


@register(
    "f1_macro_multiclass",
    """
    WITH yp AS (
      SELECT label AS y,
             list_position(embedding[1:10],
                           list_max(embedding[1:10])) - 1 AS p
      FROM embeddings),
    cls AS (SELECT DISTINCT y AS c FROM yp),
    tp AS (SELECT y AS c, CAST(COUNT(*) AS DOUBLE) AS tp
           FROM yp WHERE y = p GROUP BY y),
    pc AS (SELECT p AS c, CAST(COUNT(*) AS DOUBLE) AS predc
           FROM yp GROUP BY p),
    tc AS (SELECT y AS c, CAST(COUNT(*) AS DOUBLE) AS truec
           FROM yp GROUP BY y),
    m AS (
      SELECT cls.c, COALESCE(tp.tp, 0) AS tp,
             COALESCE(pc.predc, 0) AS predc, tc.truec
      FROM cls LEFT JOIN tp ON tp.c = cls.c
               LEFT JOIN pc ON pc.c = cls.c
               JOIN tc ON tc.c = cls.c),
    prf AS (
      SELECT c, tp, predc, truec,
             CASE WHEN predc > 0 THEN tp / predc ELSE 0.0 END AS prec,
             CASE WHEN truec > 0 THEN tp / truec ELSE 0.0 END AS rec
      FROM m),
    f AS (
      SELECT c, tp, predc, truec, prec, rec,
             CASE WHEN prec + rec > 0
                  THEN 2 * prec * rec / (prec + rec) ELSE 0.0 END AS f1
      FROM prf),
    mac AS (
      SELECT AVG(f1) AS macro_f1, SUM(tp) / SUM(truec) AS accuracy
      FROM f)
    SELECT CAST(c AS INT) AS class, CAST(tp AS BIGINT) AS tp,
           CAST(predc AS BIGINT) AS n_pred, CAST(truec AS BIGINT) AS n_true,
           ROUND(1.2345e-8 + prec, 4) AS precision_c,
           ROUND(1.2345e-8 + rec, 4) AS recall_c,
           ROUND(1.2345e-8 + f1, 4) AS f1_c,
           ROUND(1.2345e-8 + macro_f1, 4) AS macro_f1,
           ROUND(1.2345e-8 + accuracy, 4) AS accuracy
    FROM f CROSS JOIN mac ORDER BY class
    """,
    tags=("curation", "evaluation", "multiclass"),
)
def f1_macro_multiclass(spark, sf_dir):
    """MULTICLASS PRECISION/RECALL/F1 + MACRO-F1 — the confusion-matrix
    readout every classifier eval emits: predictions come from a
    deterministic linear-probe-style argmax over the first 10 embedding
    dims (array_position of array_max — both engines take the FIRST
    maximal element, so ties resolve identically on the same float
    bits), true labels from the `label` column. Per-class P/R/F1 use
    the sklearn zero_division=0 convention; macro-F1 is the unweighted
    class mean and accuracy the micro view (sum tp / N). Binary
    thresholded siblings: [[threshold_sweep_f1]], [[cohens_kappa]].

    Plan: ONE map-only argmax pass, then three partial aggs over tiny
    key domains (k=10 rows each) joined on the class id — every join
    side after the first agg is k rows, broadcast territory. At 100 TB
    the single embedding scan dominates; nothing else grows."""
    emb = load_table(spark, sf_dir, "embeddings")
    yp = emb.select(
        F.col("label").alias("y"),
        (
            F.expr(
                "array_position(slice(embedding, 1, 10),"
                " array_max(slice(embedding, 1, 10)))"
            )
            - 1
        ).alias("p"),
    )
    cls = yp.select(F.col("y").alias("c")).distinct()
    tp = (
        yp.filter(F.col("y") == F.col("p"))
        .groupBy(F.col("y").alias("c"))
        .agg(F.count(F.lit(1)).cast("double").alias("tp"))
    )
    pc = yp.groupBy(F.col("p").alias("c")).agg(
        F.count(F.lit(1)).cast("double").alias("predc")
    )
    tc = yp.groupBy(F.col("y").alias("c")).agg(
        F.count(F.lit(1)).cast("double").alias("truec")
    )
    m = (
        cls.join(tp, "c", "left")
        .join(pc, "c", "left")
        .join(tc, "c")
        .select(
            "c",
            F.coalesce("tp", F.lit(0.0)).alias("tp"),
            F.coalesce("predc", F.lit(0.0)).alias("predc"),
            "truec",
        )
    )
    prec = F.when(
        F.col("predc") > 0, F.col("tp") / F.col("predc")
    ).otherwise(0.0)
    rec = F.when(
        F.col("truec") > 0, F.col("tp") / F.col("truec")
    ).otherwise(0.0)
    f = m.select(
        "c", "tp", "predc", "truec",
        prec.alias("prec"), rec.alias("rec"),
    ).withColumn(
        "f1",
        F.when(
            F.col("prec") + F.col("rec") > 0,
            2 * F.col("prec") * F.col("rec")
            / (F.col("prec") + F.col("rec")),
        ).otherwise(0.0),
    )
    mac = f.agg(
        F.avg("f1").alias("macro_f1"),
        (F.sum("tp") / F.sum("truec")).alias("accuracy"),
    )
    return (
        f.crossJoin(F.broadcast(mac))
        .select(
            F.col("c").cast("int").alias("class"),
            F.col("tp").cast("long").alias("tp"),
            F.col("predc").cast("long").alias("n_pred"),
            F.col("truec").cast("long").alias("n_true"),
            _eps_round("prec", 4).alias("precision_c"),
            _eps_round("rec", 4).alias("recall_c"),
            _eps_round("f1", 4).alias("f1_c"),
            _eps_round("macro_f1", 4).alias("macro_f1"),
            _eps_round("accuracy", 4).alias("accuracy"),
        )
        .orderBy("class")
    )


@register(
    "matthews_corrcoef",
    """
    WITH yp AS (
      SELECT CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS p
      FROM events),
    c AS (
      SELECT CAST(SUM(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS tp,
             CAST(SUM(CASE WHEN y = 0 AND p = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS tn,
             CAST(SUM(CASE WHEN y = 0 AND p = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS fp,
             CAST(SUM(CASE WHEN y = 1 AND p = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS fn
      FROM yp)
    SELECT CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
           CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           ROUND(1.2345e-8 +
             (tp * tn - fp * fn)
             / SQRT((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
             4) AS mcc
    FROM c
    """,
    tags=("curation", "evaluation", "binary"),
)
def matthews_corrcoef(spark, sf_dir):
    """MATTHEWS CORRELATION COEFFICIENT — the balanced binary-classifier
    summary (phi coefficient of the 2x2 confusion table), robust to
    class imbalance where accuracy and even F1 mislead: here the
    value>50 rule predicts the click/purchase outcome. MCC =
    (tp*tn - fp*fn)/sqrt((tp+fp)(tp+fn)(tn+fp)(tn+fn)). Completes the
    binary-eval set next to [[cohens_kappa]] (chance-corrected
    agreement), [[roc_auc_exact]] (ranking), [[brier_calibration]]
    (probability quality).

    Plan: ONE partial-agg scan producing four conditional counts (a
    1-row frame), scalar arithmetic after. Optimal at any scale."""
    ev = load_table(spark, sf_dir, "events")
    yp = ev.select(
        F.when(F.col("event_type").isin("click", "purchase"), 1)
        .otherwise(0)
        .alias("y"),
        F.when(F.col("value") > 50.0, 1).otherwise(0).alias("p"),
    )
    c = yp.agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("p") == 1), 1).otherwise(0))
        .cast("double")
        .alias("tp"),
        F.sum(F.when((F.col("y") == 0) & (F.col("p") == 0), 1).otherwise(0))
        .cast("double")
        .alias("tn"),
        F.sum(F.when((F.col("y") == 0) & (F.col("p") == 1), 1).otherwise(0))
        .cast("double")
        .alias("fp"),
        F.sum(F.when((F.col("y") == 1) & (F.col("p") == 0), 1).otherwise(0))
        .cast("double")
        .alias("fn"),
    )
    return c.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("tn").cast("long").alias("tn"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        _eps_round(
            (F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn"))
            / F.sqrt(
                (F.col("tp") + F.col("fp"))
                * (F.col("tp") + F.col("fn"))
                * (F.col("tn") + F.col("fp"))
                * (F.col("tn") + F.col("fn"))
            ),
            4,
        ).alias("mcc"),
    )


@register(
    "log_loss_binary",
    """
    WITH p AS (
      SELECT 1.0 / (1.0 + EXP(-(value - 50.0) / 25.0)) AS pred,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM events),
    b AS (SELECT AVG(y) AS base FROM p)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + AVG(
             -(y * LN(GREATEST(pred, 1e-15))
               + (1 - y) * LN(GREATEST(1 - pred, 1e-15)))), 4)
             AS log_loss,
           ROUND(1.2345e-8 + AVG(
             -(y * LN(GREATEST(base, 1e-15))
               + (1 - y) * LN(GREATEST(1 - base, 1e-15)))), 4)
             AS baseline_log_loss
    FROM p CROSS JOIN b
    """,
    tags=("curation", "evaluation", "binary"),
)
def log_loss_binary(spark, sf_dir):
    """BINARY LOG-LOSS (cross-entropy) — the proper scoring rule that
    training actually optimizes, on the same deterministic logistic
    score / click-purchase outcome as [[ece_calibration_bins]], with
    the standard 1e-15 probability clamp and, for reference, the
    log-loss of the constant base-rate predictor (the 'null model' a
    useful score must beat — same role the climatology term plays in
    [[brier_calibration]]'s Murphy decomposition).

    Plan: map-only transform + ONE aggregate; the base rate is a
    separate scalar agg broadcast back (never an unpartitioned window,
    which would funnel every row through one task). Two scans of the
    projected 2-column frame — or one, when the source caches."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        (
            1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))
        ).alias("pred"),
        F.when(F.col("event_type").isin("click", "purchase"), 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    b = p.agg(F.avg("y").alias("base"))
    p2 = p.crossJoin(F.broadcast(b))
    return p2.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _eps_round(
            F.avg(
                -(
                    F.col("y") * F.log(F.greatest(F.col("pred"), F.lit(1e-15)))
                    + (1 - F.col("y"))
                    * F.log(F.greatest(1 - F.col("pred"), F.lit(1e-15)))
                )
            ),
            4,
        ).alias("log_loss"),
        _eps_round(
            F.avg(
                -(
                    F.col("y") * F.log(F.greatest(F.col("base"), F.lit(1e-15)))
                    + (1 - F.col("y"))
                    * F.log(F.greatest(1 - F.col("base"), F.lit(1e-15)))
                )
            ),
            4,
        ).alias("baseline_log_loss"),
    )


# GMM EM fixture: deterministic 2-component init shared verbatim by both
# engines (means bracket the value distribution, equal spherical variance
# and weights). TWO_PI as an explicit literal — the kernel-constant rule.
_GMM_MU1, _GMM_MU2, _GMM_V, _TWO_PI = 30.0, 70.0, 100.0, 6.283185307179586
# ln(pi_k) - 0.5 ln(2 pi V): the constant part of the log-density, computed
# ONCE in Python and inlined verbatim into both engines (the kernel-constant
# rule) so neither engine re-derives it with its own ln().
_GMM_LOGC = math.log(0.5) - 0.5 * math.log(_TWO_PI * _GMM_V)


@register(
    "gmm_em_1step",
    f"""
    WITH x AS (SELECT value AS v FROM events),
    g AS (
      SELECT v,
             -(v - 30.0) * (v - 30.0) / (2 * 100.0) AS g1,
             -(v - 70.0) * (v - 70.0) / (2 * 100.0) AS g2
      FROM x),
    r AS (
      SELECT v,
             1.0 / (1.0 + EXP(g2 - g1)) AS r1,
             1.0 / (1.0 + EXP(g1 - g2)) AS r2,
             {_GMM_LOGC!r}
               + GREATEST(g1, g2)
               + LN(EXP(g1 - GREATEST(g1, g2))
                    + EXP(g2 - GREATEST(g1, g2))) AS ll
      FROM g),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(ll) AS loglik,
             SUM(r1) AS n1, SUM(r2) AS n2,
             SUM(r1 * v) AS s1, SUM(r2 * v) AS s2,
             SUM(r1 * v * v) AS q1, SUM(r2 * v * v) AS q2
      FROM r)
    SELECT comp,
           ROUND(1.2345e-8 + CASE comp WHEN 1 THEN n1 / n ELSE n2 / n END, 4)
             AS pi_new,
           ROUND(1.2345e-8 + CASE comp WHEN 1 THEN s1 / n1 ELSE s2 / n2 END, 4)
             AS mu_new,
           ROUND(1.2345e-8 + CASE comp
             WHEN 1 THEN q1 / n1 - (s1 / n1) * (s1 / n1)
             ELSE q2 / n2 - (s2 / n2) * (s2 / n2) END, 4) AS sigma2_new,
           ROUND(1.2345e-8 + loglik, 2) AS loglik0
    FROM m CROSS JOIN (VALUES (1), (2)) c(comp)
    ORDER BY comp
    """,
    tags=("curation", "ml", "em"),
)
def gmm_em_1step(spark, sf_dir):
    """GAUSSIAN MIXTURE EM, one exact step — 2 spherical components on
    `value` from a deterministic init (means 30/70, variance 100,
    weights 1/2): E-step responsibilities r_k = pi_k N(x|mu_k, v) /
    sum_j pi_j N_j, M-step pi' = mean(r), mu' = sum(r x)/sum(r),
    sigma2' = sum(r x^2)/sum(r) - mu'^2, plus the pre-step
    log-likelihood (the quantity EM provably increases — a convergence
    loop is this block iterated, the [[kmeans_lloyd_2iter]] /
    [[logreg_gd_2step]] fixed-iteration precedent; k-means is this
    with hard assignments and frozen variances). Log-lik rounds at 2
    decimals: it is a SUM over rows (magnitude ~1e4-1e5), so 4-decimal
    rounding would demand ~1e-9 relative float reproducibility across
    engines — the same sum-magnitude policy as the TPC-H revenue
    aggregates.

    Plan: E-step is pure map-side scalar math; the M-step is ONE
    partial-agg scan emitting 8 sufficient statistics (1 row out) —
    the textbook distributed-EM shape where only sufficient statistics
    cross the wire, never responsibilities. Optimal at any scale."""
    from dask_image_spark.functions.localrel import values_df

    ev = load_table(spark, sf_dir, "events")
    v = F.col("v")
    # Log-domain throughout: raw densities underflow to 0 for values far
    # from both means (the fixture reaches ~490, 42 sigma out), which ANSI
    # mode turns into a divide-by-zero. Responsibilities become logistic
    # functions of the log-density gap (exp overflow saturates to +inf ->
    # r = 0 exactly, correct limit) and the log-lik uses log-sum-exp.
    g1 = -(v - _GMM_MU1) * (v - _GMM_MU1) / (2 * _GMM_V)
    g2 = -(v - _GMM_MU2) * (v - _GMM_MU2) / (2 * _GMM_V)
    e = ev.select(F.col("value").alias("v")).select(
        "v", g1.alias("g1"), g2.alias("g2")
    )
    gmax = F.greatest(F.col("g1"), F.col("g2"))
    r = e.select(
        "v",
        (1.0 / (1.0 + F.exp(F.col("g2") - F.col("g1")))).alias("r1"),
        (1.0 / (1.0 + F.exp(F.col("g1") - F.col("g2")))).alias("r2"),
        (
            F.lit(_GMM_LOGC)
            + gmax
            + F.log(
                F.exp(F.col("g1") - gmax) + F.exp(F.col("g2") - gmax)
            )
        ).alias("ll"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("ll").alias("loglik"),
        F.sum("r1").alias("n1"),
        F.sum("r2").alias("n2"),
        F.sum(F.col("r1") * F.col("v")).alias("s1"),
        F.sum(F.col("r2") * F.col("v")).alias("s2"),
        F.sum(F.col("r1") * F.col("v") * F.col("v")).alias("q1"),
        F.sum(F.col("r2") * F.col("v") * F.col("v")).alias("q2"),
    )
    comps = values_df(spark, "comp", [(1,), (2,)])
    j = m.crossJoin(F.broadcast(comps))
    pick = lambda a, b: F.when(F.col("comp") == 1, a).otherwise(b)  # noqa: E731
    mu = pick(F.col("s1") / F.col("n1"), F.col("s2") / F.col("n2"))
    q_over_n = pick(F.col("q1") / F.col("n1"), F.col("q2") / F.col("n2"))
    return j.select(
        "comp",
        _eps_round(pick(F.col("n1"), F.col("n2")) / F.col("n"), 4).alias(
            "pi_new"
        ),
        _eps_round(mu, 4).alias("mu_new"),
        _eps_round(q_over_n - mu * mu, 4).alias("sigma2_new"),
        _eps_round("loglik", 2).alias("loglik0"),
    ).orderBy("comp")


@register(
    "collocation_llr",
    """
    WITH toks AS (
      SELECT string_split(text, ' ') AS t
      FROM documents
      WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 2),
    bi AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
               i -> struct_pack(a := t[i], b := t[i + 1]))) AS p
      FROM toks),
    bcnt AS (
      SELECT p.a AS tok_a, p.b AS tok_b, CAST(COUNT(*) AS DOUBLE) AS k11
      FROM bi WHERE p.a <> '' AND p.b <> '' GROUP BY p.a, p.b),
    ma AS (SELECT tok_a, SUM(k11) AS ra FROM bcnt GROUP BY tok_a),
    mb AS (SELECT tok_b, SUM(k11) AS cb FROM bcnt GROUP BY tok_b),
    tot AS (SELECT SUM(k11) AS n FROM bcnt),
    cells AS (
      SELECT bc.tok_a, bc.tok_b, bc.k11,
             ma.ra - bc.k11 AS k12, mb.cb - bc.k11 AS k21,
             t.n - ma.ra - mb.cb + bc.k11 AS k22,
             ma.ra AS ra, mb.cb AS cb, t.n AS n
      FROM bcnt bc JOIN ma ON ma.tok_a = bc.tok_a
                   JOIN mb ON mb.tok_b = bc.tok_b
                   CROSS JOIN tot t
      WHERE bc.k11 >= 5)
    SELECT tok_a, tok_b, CAST(k11 AS BIGINT) AS n_pair,
           ROUND(1.2345e-8 + 2 * (
             CASE WHEN k11 > 0 THEN k11 * LN(k11 * n / (ra * cb)) ELSE 0 END
           + CASE WHEN k12 > 0 THEN k12 * LN(k12 * n / (ra * (n - cb)))
                  ELSE 0 END
           + CASE WHEN k21 > 0 THEN k21 * LN(k21 * n / ((n - ra) * cb))
                  ELSE 0 END
           + CASE WHEN k22 > 0
                  THEN k22 * LN(k22 * n / ((n - ra) * (n - cb)))
                  ELSE 0 END), 4) AS llr
    FROM cells
    ORDER BY llr DESC, tok_a, tok_b LIMIT 20
    """,
    tags=("pipeline", "curation", "collocation"),
)
def collocation_llr(spark, sf_dir):
    """DUNNING LOG-LIKELIHOOD RATIO collocations — the G^2 test over the
    bigram contingency table (Dunning 1993), the collocation ranker
    that, unlike [[token_pmi_bigrams]], does not over-reward rare
    pairs: G^2 = 2 * sum_ij k_ij ln(k_ij N / (R_i C_j)) with the
    0*ln(0)=0 convention, marginals taken over the bigram table (first
    and second token positions). Support >= 5, top-20, EPS-rounded
    before ordering with token tie-breaks — the [[token_pmi_bigrams]]
    rank-determinism rule.

    Plan: bigram counts are ONE partial agg; both marginals are
    re-aggregations of that (vocab-sized) table, not corpus re-scans;
    the totals broadcast; the final top-20 is TakeOrderedAndProject.
    At 100 TB the corpus scan dominates and everything downstream is
    vocab-scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.col("text").isNotNull())
        .select(F.split("text", " ").alias("t"))
        .filter(F.size("t") >= 2)
    )
    bi = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
            )
        ).alias("p")
    ).filter((F.col("p.a") != "") & (F.col("p.b") != ""))
    bcnt = persist_tracked(
        bi.groupBy(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("k11"))
    )
    ma = bcnt.groupBy("tok_a").agg(F.sum("k11").alias("ra"))
    mb = bcnt.groupBy("tok_b").agg(F.sum("k11").alias("cb"))
    tot = bcnt.agg(F.sum("k11").alias("n"))
    cells = (
        bcnt.filter(F.col("k11") >= 5)
        .join(ma, "tok_a")
        .join(mb, "tok_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "tok_a", "tok_b", "k11", "ra", "cb", "n",
            (F.col("ra") - F.col("k11")).alias("k12"),
            (F.col("cb") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("ra") - F.col("cb") + F.col("k11")).alias(
                "k22"
            ),
        )
    )

    def term(k, num_r, num_c):
        return F.when(
            k > 0, k * F.log(k * F.col("n") / (num_r * num_c))
        ).otherwise(0.0)

    ra, cb, n = F.col("ra"), F.col("cb"), F.col("n")
    llr = 2 * (
        term(F.col("k11"), ra, cb)
        + term(F.col("k12"), ra, n - cb)
        + term(F.col("k21"), n - ra, cb)
        + term(F.col("k22"), n - ra, n - cb)
    )
    return (
        cells.select(
            "tok_a", "tok_b",
            F.col("k11").cast("long").alias("n_pair"),
            _eps_round(llr, 4).alias("llr"),
        )
        .orderBy(F.desc("llr"), "tok_a", "tok_b")
        .limit(20)
    )


# AdaBoost candidate grid: fixed literal thresholds per feature (value
# deciles-ish, hour-of-day quarters), each usable with either polarity.
# A literal grid keeps the argmin domain identical on both engines.
_ADA_VALUE_THRS = (10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0)
_ADA_HOD_THRS = (4.0, 8.0, 12.0, 16.0, 20.0)


def _ada_cand_sql() -> str:
    rows = []
    cid = 0
    for feat, thrs in (("value", _ADA_VALUE_THRS), ("hod", _ADA_HOD_THRS)):
        for thr in thrs:
            for pol in (1, -1):
                rows.append(f"({cid}, '{feat}', {thr!r}, {pol})")
                cid += 1
    return ", ".join(rows)


@register(
    "adaboost_2stumps",
    f"""
    WITH pts AS (
      SELECT value AS value, CAST(hour(ts) AS DOUBLE) AS hod,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1 ELSE -1 END AS y
      FROM events),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pts),
    cands AS (
      SELECT * FROM (VALUES {_ada_cand_sql()}) c(cid, feat, thr, pol)),
    p1 AS (
      SELECT c.cid, c.feat, c.thr, c.pol,
             CAST(SUM(CASE WHEN (CASE WHEN
                 (CASE WHEN c.feat = 'value' THEN p.value ELSE p.hod END)
                 > c.thr THEN c.pol ELSE -c.pol END) <> p.y
               THEN 1 ELSE 0 END) AS BIGINT) AS errs
      FROM pts p CROSS JOIN cands c
      GROUP BY c.cid, c.feat, c.thr, c.pol),
    b1 AS (
      SELECT * FROM p1 ORDER BY errs, cid LIMIT 1),
    a1 AS (
      SELECT b1.*, errs / n.n AS eps,
             0.5 * LN((1 - errs / n.n) / (errs / n.n)) AS alpha
      FROM b1 CROSS JOIN n),
    m1 AS (
      SELECT p.value, p.hod, p.y,
             (CASE WHEN (CASE WHEN a.feat = 'value' THEN p.value
                         ELSE p.hod END) > a.thr
                   THEN a.pol ELSE -a.pol END) AS h1,
             a.alpha AS alpha1
      FROM pts p CROSS JOIN a1 a),
    w2 AS (
      SELECT value, hod, y, h1, alpha1,
             CASE WHEN h1 <> y THEN EXP(alpha1) ELSE EXP(-alpha1) END AS w
      FROM m1),
    p2 AS (
      SELECT c.cid, c.feat, c.thr, c.pol,
             SUM(CASE WHEN (CASE WHEN
                 (CASE WHEN c.feat = 'value' THEN p.value ELSE p.hod END)
                 > c.thr THEN c.pol ELSE -c.pol END) <> p.y
               THEN p.w ELSE 0 END) / SUM(p.w) AS eps
      FROM w2 p CROSS JOIN cands c
      GROUP BY c.cid, c.feat, c.thr, c.pol),
    b2 AS (
      SELECT *, 0.5 * LN((1 - eps) / eps) AS alpha
      FROM p2 ORDER BY ROUND(1.2345e-8 + eps, 9), cid LIMIT 1),
    fin AS (
      SELECT CAST(SUM(CASE WHEN
               (CASE WHEN w.alpha1 * w.h1 + b.alpha *
                 (CASE WHEN (CASE WHEN b.feat = 'value' THEN w.value
                             ELSE w.hod END) > b.thr
                       THEN b.pol ELSE -b.pol END) > 0
                 THEN 1 ELSE -1 END) <> w.y THEN 1 ELSE 0 END) AS BIGINT)
               AS ens_errs
      FROM w2 w CROSS JOIN b2 b)
    SELECT rnd, feat, CAST(thr AS DOUBLE) AS thr, pol,
           ROUND(1.2345e-8 + eps, 4) AS eps,
           ROUND(1.2345e-8 + alpha, 4) AS alpha,
           ROUND(1.2345e-8 + ens_err_rate, 4) AS ens_err_rate
    FROM (
      SELECT 1 AS rnd, a.feat, a.thr, a.pol, a.eps, a.alpha,
             f.ens_errs / n.n AS ens_err_rate
      FROM a1 a CROSS JOIN fin f CROSS JOIN n
      UNION ALL
      SELECT 2, b.feat, b.thr, b.pol, b.eps, b.alpha, f.ens_errs / n.n
      FROM b2 b CROSS JOIN fin f CROSS JOIN n)
    ORDER BY rnd
    """,
    tags=("curation", "ml", "boosting"),
)
def adaboost_2stumps(spark, sf_dir):
    """ADABOOST, two exact rounds of decision stumps — the discrete
    AdaBoost.M1 recipe (Freund & Schapire) on the click/purchase
    outcome with two features (value, hour-of-day) and a FIXED literal
    threshold/polarity grid (28 candidates), so the weak-learner argmin
    is exact and both engines search the identical hypothesis space:
    round 1 picks the min-error stump under uniform weights (integer
    error counts — exact), alpha = 0.5 ln((1-eps)/eps), weights update
    multiplicatively (only TWO distinct weight values after round 1 —
    the update is a function of the h1-vs-y flag), round 2 re-ranks
    candidates by weighted error, and the 2-stump ensemble
    sign(a1 h1 + a2 h2) is scored on the training set. Extends the
    single-stump [[decision_stump_infogain]] to the boosted setting;
    round-2 argmin orders by eps rounded at 1e-9 (far above
    cross-engine sum noise, far below real candidate gaps) with cid
    tie-break, the rank-determinism rule applied to model selection.

    Plan: each round is ONE fact x broadcast-candidate-grid partial agg
    (28 rows out); stump selection is a 28-row sort; the weight
    'table' never materializes — it is a scalar CASE on the h1 flag.
    At 100 TB: two scans, two 28-row shuffles, textbook distributed
    boosting where only (candidate, weighted-error) statistics move."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("value"),
        F.hour("ts").cast("double").alias("hod"),
        F.when(F.col("event_type").isin("click", "purchase"), 1)
        .otherwise(-1)
        .alias("y"),
    )
    n = pts.agg(F.count(F.lit(1)).cast("double").alias("n"))
    cand_rows = []
    cid = 0
    for feat, thrs in (("value", _ADA_VALUE_THRS), ("hod", _ADA_HOD_THRS)):
        for thr in thrs:
            for pol in (1, -1):
                cand_rows.append((cid, feat, thr, pol))
                cid += 1
    from dask_image_spark.functions.localrel import values_df

    cands = values_df(spark, "cid, feat, thr, pol", cand_rows)

    def h_expr(feat, thr, pol):
        fval = F.when(feat == "value", F.col("value")).otherwise(
            F.col("hod")
        )
        return F.when(fval > thr, pol).otherwise(-pol)

    p1 = (
        pts.crossJoin(F.broadcast(cands))
        .groupBy("cid", "feat", "thr", "pol")
        .agg(
            F.sum(
                F.when(
                    h_expr(F.col("feat"), F.col("thr"), F.col("pol"))
                    != F.col("y"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("errs")
        )
    )
    b1 = p1.orderBy("errs", "cid").limit(1)
    a1 = b1.crossJoin(F.broadcast(n)).select(
        "feat", "thr", "pol",
        (F.col("errs") / F.col("n")).alias("eps"),
        (
            0.5
            * F.log(
                (1 - F.col("errs") / F.col("n"))
                / (F.col("errs") / F.col("n"))
            )
        ).alias("alpha"),
    )
    m1 = pts.crossJoin(F.broadcast(a1)).select(
        "value", "hod", "y",
        h_expr(F.col("feat"), F.col("thr"), F.col("pol")).alias("h1"),
        F.col("alpha").alias("alpha1"),
    )
    w2 = m1.withColumn(
        "w",
        F.when(
            F.col("h1") != F.col("y"), F.exp(F.col("alpha1"))
        ).otherwise(F.exp(-F.col("alpha1"))),
    )
    p2 = (
        w2.crossJoin(F.broadcast(cands))
        .groupBy("cid", "feat", "thr", "pol")
        .agg(
            (
                F.sum(
                    F.when(
                        h_expr(F.col("feat"), F.col("thr"), F.col("pol"))
                        != F.col("y"),
                        F.col("w"),
                    ).otherwise(0.0)
                )
                / F.sum("w")
            ).alias("eps")
        )
    )
    b2 = (
        p2.withColumn(
            "alpha",
            0.5 * F.log((1 - F.col("eps")) / F.col("eps")),
        )
        .orderBy(F.round(F.col("eps") + F.lit(1.2345e-8), 9), "cid")
        .limit(1)
    )
    b2b = F.broadcast(
        b2.select(
            F.col("feat").alias("feat2"), F.col("thr").alias("thr2"),
            F.col("pol").alias("pol2"), F.col("eps").alias("eps2"),
            F.col("alpha").alias("alpha2"),
        )
    )
    fin = (
        w2.crossJoin(b2b)
        .agg(
            F.sum(
                F.when(
                    F.when(
                        F.col("alpha1") * F.col("h1")
                        + F.col("alpha2")
                        * h_expr(
                            F.col("feat2"), F.col("thr2"), F.col("pol2")
                        )
                        > 0,
                        1,
                    ).otherwise(-1)
                    != F.col("y"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("ens_errs")
        )
    )
    r1 = (
        a1.crossJoin(F.broadcast(fin))
        .crossJoin(F.broadcast(n))
        .select(
            F.lit(1).alias("rnd"), "feat", "thr", "pol",
            _eps_round("eps", 4).alias("eps"),
            _eps_round("alpha", 4).alias("alpha"),
            _eps_round(F.col("ens_errs") / F.col("n"), 4).alias(
                "ens_err_rate"
            ),
        )
    )
    r2 = (
        b2.crossJoin(F.broadcast(fin))
        .crossJoin(F.broadcast(n))
        .select(
            F.lit(2).alias("rnd"), "feat", "thr", "pol",
            _eps_round("eps", 4).alias("eps"),
            _eps_round("alpha", 4).alias("alpha"),
            _eps_round(F.col("ens_errs") / F.col("n"), 4).alias(
                "ens_err_rate"
            ),
        )
    )
    return r1.unionByName(r2).orderBy("rnd")


# DBSCAN neighborhood parameters: eps-grid blocking makes the neighbor
# count a 9-cell equi-join instead of an all-pairs product.
_DBSCAN_EPS, _DBSCAN_MINPTS = 0.08, 10


def dbscan_core_counts(pts):
    """Blocked neighbor counting for (vec_id, x, y) points: 9-cell
    eps-grid probe join + exact distance filter."""
    from dask_image_spark.functions.localrel import values_df

    spark = pts.sparkSession
    cells = pts.select(
        "vec_id", "x", "y",
        F.floor(F.col("x") / _DBSCAN_EPS).alias("cx"),
        F.floor(F.col("y") / _DBSCAN_EPS).alias("cy"),
    )
    offs = values_df(
        spark, "dx, dy",
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
    )
    probes = cells.crossJoin(F.broadcast(offs)).select(
        "vec_id", "x", "y",
        (F.col("cx") + F.col("dx")).alias("px"),
        (F.col("cy") + F.col("dy")).alias("py"),
    )
    b = cells.select(
        F.col("cx").alias("px"), F.col("cy").alias("py"),
        F.col("x").alias("bx"), F.col("y").alias("by"),
    )
    d2 = (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))
    nb = (
        probes.join(b, ["px", "py"])
        .filter(d2 <= F.lit(_DBSCAN_EPS * _DBSCAN_EPS))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nb"))
    )
    return cells.join(nb, "vec_id", "left").select(
        "vec_id",
        F.coalesce("n_nb", F.lit(0)).cast("long").alias("n_neighbors"),
        F.when(
            F.coalesce("n_nb", F.lit(0)) >= _DBSCAN_MINPTS, 1
        ).otherwise(0).alias("is_core"),
    )


@register(
    "dbscan_core_points",
    f"""
    WITH pts AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    cells AS (
      SELECT vec_id, x, y,
             CAST(FLOOR(x / {_DBSCAN_EPS}) AS BIGINT) AS cx,
             CAST(FLOOR(y / {_DBSCAN_EPS}) AS BIGINT) AS cy
      FROM pts),
    probes AS (
      SELECT c.vec_id, c.x, c.y, c.cx + d.dx AS px, c.cy + d.dy AS py
      FROM cells c CROSS JOIN (
        VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1))
        d(dx, dy)),
    nb AS (
      SELECT p.vec_id, CAST(COUNT(*) AS BIGINT) AS n_nb
      FROM probes p JOIN cells b ON b.cx = p.px AND b.cy = p.py
      WHERE (p.x - b.x) * (p.x - b.x) + (p.y - b.y) * (p.y - b.y)
            <= {_DBSCAN_EPS} * {_DBSCAN_EPS}
      GROUP BY p.vec_id)
    SELECT c.vec_id, COALESCE(nb.n_nb, 0) AS n_neighbors,
           CASE WHEN COALESCE(nb.n_nb, 0) >= {_DBSCAN_MINPTS}
                THEN 1 ELSE 0 END AS is_core
    FROM cells c LEFT JOIN nb ON nb.vec_id = c.vec_id
    ORDER BY c.vec_id
    """,
    tags=("curation", "clustering", "density"),
)
def dbscan_core_points(spark, sf_dir):
    """DBSCAN CORE-POINT DETECTION with eps-grid blocking — the
    density-clustering primitive (a point is core iff >= minPts
    neighbors within eps, self included) computed WITHOUT an all-pairs
    distance product: points bucket into eps-sized grid cells, each
    point probes its 9-cell neighborhood (any eps-ball fits inside),
    and the neighbor count is an EQUI-join on cell keys with the exact
    distance filter applied after — the same blocked-candidates
    discipline as [[dedup_levenshtein]] (prefix blocks) and
    [[knn_graph_lsh]]. Full DBSCAN is core detection + connected
    components over the core graph ([[label_cc]]'s machinery);
    the core/noise split is the per-point deliverable. Points are the
    first two embedding dims (cast float->double identically on both
    engines).

    Plan: ONE broadcast 9-offset fan-out, ONE equi-join on (cell_x,
    cell_y) — both sides hash-partition by cell, so density work
    distributes by spatial locality — ONE partial-agg count. At 100 TB
    the cell histogram bounds the worst task: a pathological hot cell
    salts like any skewed key ([[join_salted_skew]])."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    return dbscan_core_counts(pts).orderBy("vec_id")


# Fellegi-Sunter field weights: ln(m/u) agreement / ln((1-m)/(1-u))
# disagreement log-odds, driver-computed literals shared by both engines.
_FS_SEG_M, _FS_SEG_U = 0.9, 0.2
_FS_BAL_M, _FS_BAL_U = 0.85, 0.1
_FS_W = {
    "seg_a": math.log(_FS_SEG_M / _FS_SEG_U),
    "seg_d": math.log((1 - _FS_SEG_M) / (1 - _FS_SEG_U)),
    "bal_a": math.log(_FS_BAL_M / _FS_BAL_U),
    "bal_d": math.log((1 - _FS_BAL_M) / (1 - _FS_BAL_U)),
}
_FS_UPPER, _FS_LOWER = 2.0, 0.0


@register(
    "record_linkage_fs_scores",
    f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer),
    pr AS (
      SELECT a.c_nationkey AS nation,
             (CASE WHEN a.c_mktsegment = b.c_mktsegment
                   THEN {_FS_W["seg_a"]!r} ELSE {_FS_W["seg_d"]!r} END)
           + (CASE WHEN a.band = b.band
                   THEN {_FS_W["bal_a"]!r} ELSE {_FS_W["bal_d"]!r} END)
               AS score
      FROM c a JOIN c b
        ON a.c_nationkey = b.c_nationkey
       AND a.c_custkey < b.c_custkey),
    cl AS (
      SELECT nation, score,
             CASE WHEN score >= {_FS_UPPER!r} THEN 'match'
                  WHEN score < {_FS_LOWER!r} THEN 'non-match'
                  ELSE 'possible' END AS decision
      FROM pr)
    SELECT nation, decision, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(1.2345e-8 + AVG(score), 4) AS avg_score
    FROM cl GROUP BY nation, decision
    ORDER BY nation, decision
    """,
    tags=("curation", "entity-resolution", "linkage"),
)
def record_linkage_fs_scores(spark, sf_dir):
    """FELLEGI-SUNTER RECORD LINKAGE scoring — the probabilistic
    entity-resolution framework (agreement log-odds ln(m/u) per field,
    disagreement ln((1-m)/(1-u)), sum -> match / possible / non-match
    by thresholds) over nation-BLOCKED customer pairs, comparing
    market segment and account-balance band. The principled scoring
    layer that [[fuzzy_join_tokens]] (candidate generation) and
    [[golden_record_survivorship]] (post-match merge) bracket; m/u
    weights are driver-computed double literals shared verbatim (the
    kernel-constant rule). Emits the per-block decision histogram
    with mean scores — the review-queue summary an ER pipeline ships.

    Plan: blocked self-join on the nation key (pairs never leave their
    block's hash partition; block sizes are the quadratic cost driver,
    exactly as in [[dedup_levenshtein]]'s prefix blocks), then ONE
    partial agg on (block, decision). At 100 TB blocking choice IS the
    scalability lever; the scoring adds zero shuffles."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).alias("band"),
    )
    a, b = c.alias("a"), c.alias("b")
    score = F.when(
        F.col("a.c_mktsegment") == F.col("b.c_mktsegment"),
        F.lit(_FS_W["seg_a"]),
    ).otherwise(F.lit(_FS_W["seg_d"])) + F.when(
        F.col("a.band") == F.col("b.band"), F.lit(_FS_W["bal_a"])
    ).otherwise(F.lit(_FS_W["bal_d"]))
    pr = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_nationkey").alias("nation"), score.alias("score")
    )
    cl = pr.withColumn(
        "decision",
        F.when(F.col("score") >= _FS_UPPER, "match")
        .when(F.col("score") < _FS_LOWER, "non-match")
        .otherwise("possible"),
    )
    return (
        cl.groupBy("nation", "decision")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            _eps_round(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("nation", "decision")
    )


@register(
    "shapley_2feature_exact",
    """
    WITH pts AS (
      SELECT LEAST(CAST(FLOOR(value / 20) AS INT), 4) AS vb,
             CAST(FLOOR(hour(ts) / 6) AS INT) AS hb,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM events),
    cell AS (
      SELECT vb, hb, AVG(y) AS f, CAST(COUNT(*) AS DOUBLE) AS n
      FROM pts GROUP BY vb, hb),
    tot AS (SELECT SUM(n) AS nn FROM cell),
    pv AS (SELECT vb, SUM(n) AS nv FROM cell GROUP BY vb),
    ph AS (SELECT hb, SUM(n) AS nh FROM cell GROUP BY hb),
    fv AS (
      SELECT c.vb, SUM(c.f * ph.nh / t.nn) AS fv
      FROM cell c JOIN ph ON ph.hb = c.hb CROSS JOIN tot t
      GROUP BY c.vb),
    fh AS (
      SELECT c.hb, SUM(c.f * pv.nv / t.nn) AS fh
      FROM cell c JOIN pv ON pv.vb = c.vb CROSS JOIN tot t
      GROUP BY c.hb),
    f0 AS (
      SELECT SUM(c.f * pv.nv * ph.nh / (t.nn * t.nn)) AS f0
      FROM cell c JOIN pv ON pv.vb = c.vb JOIN ph ON ph.hb = c.hb
      CROSS JOIN tot t)
    SELECT c.vb, c.hb,
           ROUND(1.2345e-8 + c.f, 4) AS f_cell,
           ROUND(1.2345e-8 +
             0.5 * (c.f - fh.fh) + 0.5 * (fv.fv - f0.f0), 4) AS phi_v,
           ROUND(1.2345e-8 +
             0.5 * (c.f - fv.fv) + 0.5 * (fh.fh - f0.f0), 4) AS phi_h,
           ROUND(1.2345e-8 + f0.f0, 4) AS baseline
    FROM cell c JOIN fv ON fv.vb = c.vb JOIN fh ON fh.hb = c.hb
    CROSS JOIN f0
    ORDER BY c.vb, c.hb
    """,
    tags=("curation", "evaluation", "attribution"),
)
def shapley_2feature_exact(spark, sf_dir):
    """EXACT SHAPLEY ATTRIBUTION, 2 features — for two players the
    Shapley value is the closed-form average over the two orderings:
    phi_V = 1/2[f(v,h) - f(.,h)] + 1/2[f(v,.) - f(.,.)], with
    marginalized values taken INTERVENTIONALLY (expectation over the
    feature's marginal distribution — the causal convention, not the
    correlational conditional). The model is the empirical outcome
    table over (value-bucket, hour-band); by construction
    phi_V + phi_H = f(cell) - baseline exactly (the efficiency axiom
    — checked by the property suite). The explanation layer modern
    eval stacks bolt onto [[decision_stump_infogain]] /
    [[adaboost_2stumps]]-style models.

    Plan: ONE fact partial agg to the 5x4 cell table; every subsequent
    frame (marginals, partial expectations, baseline) is arithmetic on
    that broadcast-scale table. At 100 TB: single scan, then
    feature-cardinality work only."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.least(F.floor(F.col("value") / 20).cast("int"), F.lit(4)).alias(
            "vb"
        ),
        F.floor(F.hour("ts") / 6).cast("int").alias("hb"),
        F.when(F.col("event_type").isin("click", "purchase"), 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    cell = pts.groupBy("vb", "hb").agg(
        F.avg("y").alias("f"), F.count(F.lit(1)).cast("double").alias("n")
    )
    tot = cell.agg(F.sum("n").alias("nn"))
    pv = cell.groupBy("vb").agg(F.sum("n").alias("nv"))
    ph = cell.groupBy("hb").agg(F.sum("n").alias("nh"))
    fv = (
        cell.join(F.broadcast(ph), "hb")
        .crossJoin(F.broadcast(tot))
        .groupBy("vb")
        .agg(F.sum(F.col("f") * F.col("nh") / F.col("nn")).alias("fv"))
    )
    fh = (
        cell.join(F.broadcast(pv), "vb")
        .crossJoin(F.broadcast(tot))
        .groupBy("hb")
        .agg(F.sum(F.col("f") * F.col("nv") / F.col("nn")).alias("fh"))
    )
    f0 = (
        cell.join(F.broadcast(pv), "vb")
        .join(F.broadcast(ph), "hb")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("f") * F.col("nv") * F.col("nh")
                / (F.col("nn") * F.col("nn"))
            ).alias("f0")
        )
    )
    return (
        cell.join(F.broadcast(fv), "vb")
        .join(F.broadcast(fh), "hb")
        .crossJoin(F.broadcast(f0))
        .select(
            "vb", "hb",
            _eps_round("f", 4).alias("f_cell"),
            _eps_round(
                0.5 * (F.col("f") - F.col("fh"))
                + 0.5 * (F.col("fv") - F.col("f0")),
                4,
            ).alias("phi_v"),
            _eps_round(
                0.5 * (F.col("f") - F.col("fv"))
                + 0.5 * (F.col("fh") - F.col("f0")),
                4,
            ).alias("phi_h"),
            _eps_round("f0", 4).alias("baseline"),
        )
        .orderBy("vb", "hb")
    )


@register(
    "adjusted_rand_index",
    """
    WITH yp AS (
      SELECT label AS y,
             list_position(embedding[1:10],
                           list_max(embedding[1:10])) - 1 AS p
      FROM embeddings),
    cells AS (
      SELECT y, p, CAST(COUNT(*) AS DOUBLE) AS nij
      FROM yp GROUP BY y, p),
    a AS (SELECT y, SUM(nij) AS ai FROM cells GROUP BY y),
    b AS (SELECT p, SUM(nij) AS bj FROM cells GROUP BY p),
    s AS (
      SELECT (SELECT SUM(nij * (nij - 1) / 2) FROM cells) AS sc,
             (SELECT SUM(ai * (ai - 1) / 2) FROM a) AS sa,
             (SELECT SUM(bj * (bj - 1) / 2) FROM b) AS sb,
             (SELECT SUM(nij) FROM cells) AS n)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(1.2345e-8 + sc, 2) AS sum_comb_cells,
           ROUND(1.2345e-8 +
             (sc - sa * sb / (n * (n - 1) / 2))
             / (0.5 * (sa + sb) - sa * sb / (n * (n - 1) / 2)), 4) + 0.0
             AS ari  -- +0.0 canonicalizes IEEE -0.0 (embedding_dim_stats rule)
    FROM s
    """,
    tags=("curation", "evaluation", "clustering"),
)
def adjusted_rand_index(spark, sf_dir):
    """ADJUSTED RAND INDEX between the true labels and the argmax
    linear-probe clustering (the [[f1_macro_multiclass]] predictor
    read as a partition): pair-counting agreement corrected for
    chance — ARI = (sum C(nij,2) - E) / (max - E) with E = sum
    C(ai,2) sum C(bj,2) / C(n,2). The permutation-invariant partner
    of [[mutual_information]]'s NMI: F1 needs aligned class ids, ARI
    and NMI do not, which is why clustering papers report them.

    Plan: ONE map-side argmax + ONE (y, p) contingency partial agg
    (at most k^2 = 100 cells); marginals and the four scalars are
    arithmetic on that broadcast-scale table. Single fact scan at any
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    yp = emb.select(
        F.col("label").alias("y"),
        (
            F.expr(
                "array_position(slice(embedding, 1, 10),"
                " array_max(slice(embedding, 1, 10)))"
            )
            - 1
        ).alias("p"),
    )
    cells = yp.groupBy("y", "p").agg(
        F.count(F.lit(1)).cast("double").alias("nij")
    )
    a = cells.groupBy("y").agg(F.sum("nij").alias("ai"))
    b = cells.groupBy("p").agg(F.sum("nij").alias("bj"))
    sc = cells.agg(
        F.sum(F.col("nij") * (F.col("nij") - 1) / 2).alias("sc"),
        F.sum("nij").alias("n"),
    )
    sa = a.agg(F.sum(F.col("ai") * (F.col("ai") - 1) / 2).alias("sa"))
    sb = b.agg(F.sum(F.col("bj") * (F.col("bj") - 1) / 2).alias("sb"))
    s = (
        sc.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
    )
    half = F.col("n") * (F.col("n") - 1) / 2
    e = F.col("sa") * F.col("sb") / half
    return s.select(
        F.col("n").cast("long").alias("n"),
        _eps_round("sc", 2).alias("sum_comb_cells"),
        (
            _eps_round(
                (F.col("sc") - e)
                / (0.5 * (F.col("sa") + F.col("sb")) - e),
                4,
            )
            + 0.0  # -0.0 canonicalization, the embedding_dim_stats rule
        ).alias("ari"),
    )


@register(
    "mcnemar_paired_test",
    """
    WITH yp AS (
      SELECT CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS pa,
             CASE WHEN hour(ts) BETWEEN 8 AND 20 THEN 1 ELSE 0 END AS pb
      FROM events),
    d AS (
      SELECT CAST(SUM(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END)
                  AS DOUBLE) AS b,
             CAST(SUM(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c,
             CAST(SUM(CASE WHEN pa = y AND pb = y THEN 1 ELSE 0 END)
                  AS BIGINT) AS both_right,
             CAST(SUM(CASE WHEN pa <> y AND pb <> y THEN 1 ELSE 0 END)
                  AS BIGINT) AS both_wrong
      FROM yp)
    SELECT CAST(b AS BIGINT) AS a_only_right,
           CAST(c AS BIGINT) AS b_only_right,
           both_right, both_wrong,
           ROUND(1.2345e-8 +
             (ABS(b - c) - 1) * (ABS(b - c) - 1) / (b + c), 4)
             AS chi2_cc
    FROM d
    """,
    tags=("curation", "evaluation", "hypothesis-test"),
)
def mcnemar_paired_test(spark, sf_dir):
    """McNEMAR'S TEST for PAIRED classifiers — do the value-threshold
    and business-hours predictors differ on the SAME examples? Only
    the discordant cells matter: chi2 = (|b - c| - 1)^2/(b + c) with
    the Edwards continuity correction, the correct test when
    comparing two models on one test set (a two-proportion z over the
    pooled accuracies — [[abtest_conversion_z]] — is wrong there
    because the errors are paired). Emits the full 2x2
    agreement table so the discordance structure is auditable.

    Plan: ONE conditional-count aggregate. Optimal trivially."""
    ev = load_table(spark, sf_dir, "events")
    yp = ev.select(
        F.when(F.col("event_type").isin("click", "purchase"), 1)
        .otherwise(0)
        .alias("y"),
        F.when(F.col("value") > 50.0, 1).otherwise(0).alias("pa"),
        F.when(F.hour("ts").between(8, 20), 1).otherwise(0).alias("pb"),
    )
    d = yp.agg(
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0)
        ).cast("double").alias("b"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0)
        ).cast("double").alias("c"),
        F.sum(
            F.when((F.col("pa") == F.col("y")) & (F.col("pb") == F.col("y")), 1).otherwise(0)
        ).cast("long").alias("both_right"),
        F.sum(
            F.when((F.col("pa") != F.col("y")) & (F.col("pb") != F.col("y")), 1).otherwise(0)
        ).cast("long").alias("both_wrong"),
    )
    babs = F.abs(F.col("b") - F.col("c"))
    return d.select(
        F.col("b").cast("long").alias("a_only_right"),
        F.col("c").cast("long").alias("b_only_right"),
        "both_right", "both_wrong",
        _eps_round(
            (babs - 1) * (babs - 1) / (F.col("b") + F.col("c")), 4
        ).alias("chi2_cc"),
    )


@register(
    "lift_gain_deciles",
    """
    WITH p AS (
      SELECT event_id,
             1.0 / (1.0 + EXP(-(value - 50.0) / 25.0)) AS score,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM events),
    dec AS (
      SELECT y, NTILE(10) OVER (ORDER BY score DESC, event_id) AS decile
      FROM p),
    g AS (
      SELECT decile, CAST(COUNT(*) AS DOUBLE) AS n, SUM(y) AS pos
      FROM dec GROUP BY decile),
    c AS (
      SELECT decile, n, pos,
             SUM(n) OVER w AS cum_n, SUM(pos) OVER w AS cum_pos,
             SUM(n) OVER () AS tot_n, SUM(pos) OVER () AS tot_pos
      FROM g WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
    SELECT decile, CAST(n AS BIGINT) AS n, CAST(pos AS BIGINT) AS pos,
           ROUND(1.2345e-8 + cum_pos / tot_pos, 4) AS gain,
           ROUND(1.2345e-8 + (cum_pos / tot_pos) / (cum_n / tot_n), 4)
             AS cum_lift,
           ROUND(1.2345e-8 + (pos / n) / (tot_pos / tot_n), 4)
             AS decile_lift
    FROM c ORDER BY decile
    """,
    tags=("curation", "evaluation", "ranking"),
)
def lift_gain_deciles(spark, sf_dir):
    """CUMULATIVE GAINS / LIFT TABLE — rank by model score, cut into
    score deciles (NTILE over the (score DESC, event_id) order — the
    id tiebreak makes equal scores land deterministically on both
    engines), and report the captured-positive fraction (gains), the
    cumulative lift vs random targeting, and each decile's own lift:
    the campaign-targeting readout that [[roc_auc_exact]] summarizes
    to one number and [[ece_calibration_bins]] views through the
    calibration lens. Same deterministic logistic score as those two,
    so the three evals describe ONE model.

    Plan: one global sort feeds NTILE (rank is sort-based and spills;
    at 100 TB a quantile-sketch decile cut replaces the sort with one
    scan at epsilon rank error), then ONE 10-row partial agg and
    frame windows on the 10-row result. The sort is the only
    data-scale step."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.select(
        "event_id",
        (
            1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))
        ).alias("score"),
        F.when(F.col("event_type").isin("click", "purchase"), 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    dec = p.select(
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.desc("score"), "event_id"))
        .alias("decile"),
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    c = g.select(
        "decile", "n", "pos",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("pos").over(w).alias("cum_pos"),
        F.sum("n").over(wall).alias("tot_n"),
        F.sum("pos").over(wall).alias("tot_pos"),
    )
    return c.select(
        "decile",
        F.col("n").cast("long").alias("n"),
        F.col("pos").cast("long").alias("pos"),
        _eps_round(F.col("cum_pos") / F.col("tot_pos"), 4).alias("gain"),
        _eps_round(
            (F.col("cum_pos") / F.col("tot_pos"))
            / (F.col("cum_n") / F.col("tot_n")),
            4,
        ).alias("cum_lift"),
        _eps_round(
            (F.col("pos") / F.col("n"))
            / (F.col("tot_pos") / F.col("tot_n")),
            4,
        ).alias("decile_lift"),
    ).orderBy("decile")


@register(
    "diff_in_diff",
    """
    WITH cells AS (
      SELECT CAST(user_id % 2 AS INT) AS treat,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS post,
             CAST(COUNT(*) AS DOUBLE) AS n, AVG(value) AS m,
             (SUM(value * value) - COUNT(*) * AVG(value) * AVG(value))
               / (COUNT(*) - 1) AS v
      FROM events GROUP BY 1, 2),
    wide AS (
      SELECT MAX(CASE WHEN treat = 1 AND post = 1 THEN m END) AS m_t1,
             MAX(CASE WHEN treat = 1 AND post = 0 THEN m END) AS m_t0,
             MAX(CASE WHEN treat = 0 AND post = 1 THEN m END) AS m_c1,
             MAX(CASE WHEN treat = 0 AND post = 0 THEN m END) AS m_c0,
             SUM(v / n) AS var_sum,
             CAST(SUM(n) AS BIGINT) AS n_total
      FROM cells)
    SELECT n_total,
           ROUND(1.2345e-8 + m_t1 - m_t0, 4) AS delta_treat,
           ROUND(1.2345e-8 + m_c1 - m_c0, 4) AS delta_control,
           ROUND(1.2345e-8 + (m_t1 - m_t0) - (m_c1 - m_c0), 4) AS did,
           ROUND(1.2345e-8 +
             ((m_t1 - m_t0) - (m_c1 - m_c0)) / SQRT(var_sum), 4)
             AS t_stat
    FROM wide
    """,
    tags=("curation", "statistics", "causal"),
)
def diff_in_diff(spark, sf_dir):
    """DIFFERENCE-IN-DIFFERENCES — the workhorse quasi-experimental
    estimator: treatment-arm change minus control-arm change across
    the mid-month cutover, with the four-cell-variance standard error
    (SE^2 = sum of v_cell/n_cell — the 2x2 saturated-regression form).
    Controls for both the level difference between arms AND the
    common time trend that a naive before/after ([[welch_ttest]] on
    post vs pre) would absorb into the effect. Arms derive from
    user_id parity, the [[abtest_conversion_z]] convention.

    Plan: ONE partial-agg scan to the 2x2 (treat, post) cell table,
    scalar arithmetic after. Optimal at any scale — the causal
    contrast costs exactly one pass."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("treat"),
        F.when(
            F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp"),
            1,
        ).otherwise(0).alias("post"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        (
            (
                F.sum(F.col("value") * F.col("value"))
                - F.count(F.lit(1)) * F.avg("value") * F.avg("value")
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("v"),
    )

    def cell(t, p):
        return F.max(
            F.when((F.col("treat") == t) & (F.col("post") == p), F.col("m"))
        )

    wide = cells.agg(
        cell(1, 1).alias("m_t1"),
        cell(1, 0).alias("m_t0"),
        cell(0, 1).alias("m_c1"),
        cell(0, 0).alias("m_c0"),
        F.sum(F.col("v") / F.col("n")).alias("var_sum"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0"))
    return wide.select(
        "n_total",
        _eps_round(F.col("m_t1") - F.col("m_t0"), 4).alias("delta_treat"),
        _eps_round(F.col("m_c1") - F.col("m_c0"), 4).alias(
            "delta_control"
        ),
        _eps_round(did, 4).alias("did"),
        _eps_round(did / F.sqrt(F.col("var_sum")), 4).alias("t_stat"),
    )


# SPRT design: H0 p=0.25 vs H1 p=0.35 on the value>75 indicator,
# alpha = beta = 0.05 -> symmetric log thresholds +/- ln(19).
_SPRT_P0, _SPRT_P1 = 0.25, 0.35
_SPRT_A = math.log(19.0)
_SPRT_LLR_POS = math.log(_SPRT_P1 / _SPRT_P0)
_SPRT_LLR_NEG = math.log((1 - _SPRT_P1) / (1 - _SPRT_P0))


@register(
    "sprt_decision",
    f"""
    WITH s AS (
      SELECT event_type, ts, event_id,
             CASE WHEN value > 75.0 THEN {_SPRT_LLR_POS!r}
                  ELSE {_SPRT_LLR_NEG!r} END AS llr
      FROM events),
    c AS (
      SELECT event_type, ts, event_id,
             SUM(llr) OVER (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS cum,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS i
      FROM s),
    hit AS (
      SELECT event_type, i, cum,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY i) AS r
      FROM c WHERE cum >= {_SPRT_A!r} OR cum <= {-_SPRT_A!r}),
    first_hit AS (SELECT * FROM hit WHERE r = 1),
    tot AS (SELECT event_type, MAX(i) AS n, MAX(cum) AS dummy FROM c
            GROUP BY event_type)
    SELECT t.event_type,
           CAST(COALESCE(f.i, t.n) AS BIGINT) AS n_at_decision,
           CASE WHEN f.i IS NULL THEN 'continue'
                WHEN f.cum >= {_SPRT_A!r} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision,
           ROUND(1.2345e-8 + COALESCE(f.cum, 0.0), 4) AS llr_at_decision
    FROM tot t LEFT JOIN first_hit f ON f.event_type = t.event_type
    ORDER BY t.event_type
    """,
    tags=("curation", "statistics", "sequential-testing"),
)
def sprt_decision(spark, sf_dir):
    """WALD'S SEQUENTIAL PROBABILITY RATIO TEST — the optimal
    early-stopping test behind every 'peek-safe' A/B platform: the
    running log-likelihood ratio for H1 (p=0.35) vs H0 (p=0.25) on
    the value>75 indicator walks until it exits (-ln 19, +ln 19)
    (alpha = beta = 0.05), per series in event order. Emits where each
    series' walk FIRST crossed, the verdict, and the LLR there —
    guaranteeing the error rates a fixed-horizon [[abtest_conversion_z]]
    only has if nobody peeks. The LLR increments are two driver-
    computed literals (kernel-constant rule), so the walk is one
    conditional cumsum — no recurrence needed (contrast
    [[burst_detection_2state]], whose min() makes it one).

    Plan: ONE window cumsum per series partition (sort is per-series),
    then a first-crossing rank filter and a per-series rollup — rows
    after the crossing are filtered, not processed, which at stream
    scale is the point: state is one double per series in
    [[streaming_stateful]] form."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        "event_type", "ts", "event_id",
        F.when(
            F.col("value") > 75.0, F.lit(_SPRT_LLR_POS)
        ).otherwise(F.lit(_SPRT_LLR_NEG)).alias("llr"),
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    c = s.select(
        "event_type",
        F.sum("llr").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("cum"),
        F.row_number().over(w).alias("i"),
    )
    hit = (
        c.filter(
            (F.col("cum") >= _SPRT_A) | (F.col("cum") <= -_SPRT_A)
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("i")
            ),
        )
        .filter(F.col("r") == 1)
        .select(
            "event_type", F.col("i").alias("fi"), F.col("cum").alias("fc")
        )
    )
    tot = c.groupBy("event_type").agg(F.max("i").alias("n"))
    return (
        tot.join(F.broadcast(hit), "event_type", "left")
        .select(
            "event_type",
            F.coalesce("fi", "n").cast("long").alias("n_at_decision"),
            F.when(F.col("fi").isNull(), "continue")
            .when(F.col("fc") >= _SPRT_A, "accept_h1")
            .otherwise("accept_h0")
            .alias("decision"),
            _eps_round(F.coalesce("fc", F.lit(0.0)), 4).alias(
                "llr_at_decision"
            ),
        )
        .orderBy("event_type")
    )


@register(
    "conformal_prediction_interval",
    """
    WITH base AS (
      SELECT event_id, value,
             CAST(hour(ts) AS INT) AS hod,
             CASE WHEN ('0x' || substr(md5('conf:' ||
                        CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 2 = 0
                  THEN 'cal' ELSE 'test' END AS split
      FROM events),
    prof AS (
      SELECT hod, AVG(value) AS pred
      FROM base WHERE split = 'cal' GROUP BY hod),
    resid AS (
      SELECT ABS(b.value - p.pred) AS r
      FROM base b JOIN prof p ON p.hod = b.hod
      WHERE b.split = 'cal'),
    nq AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
             CAST(CEIL(0.9 * (COUNT(*) + 1)) AS BIGINT) AS k
      FROM resid),
    qhat AS (
      SELECT MIN(r) AS q FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rk FROM resid) t
      CROSS JOIN nq WHERE t.rk = nq.k),
    cov AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             AVG(CASE WHEN ABS(b.value - p.pred) <= q.q
                      THEN 1.0 ELSE 0.0 END) AS coverage
      FROM base b JOIN prof p ON p.hod = b.hod CROSS JOIN qhat q
      WHERE b.split = 'test')
    SELECT nq.n_cal, cov.n_test,
           ROUND(1.2345e-8 + qhat.q, 4) AS q_hat,
           ROUND(1.2345e-8 + cov.coverage, 4) AS coverage
    FROM nq CROSS JOIN qhat CROSS JOIN cov
    """,
    tags=("curation", "statistics", "conformal"),
)
def conformal_prediction_interval(spark, sf_dir):
    """SPLIT-CONFORMAL PREDICTION INTERVAL — the distribution-free
    coverage guarantee: fit on the calibration half (here the
    hour-of-day mean predictor; the split is a salted-md5 coin, the
    [[split_group_hash]] discipline), take q_hat = the
    ceil(0.9(n+1))-th smallest absolute residual (the finite-sample
    corrected order statistic, an EXACT rank — not an approximate
    quantile), and the interval pred +/- q_hat covers fresh points
    with probability >= 90% regardless of the residual distribution.
    The emitted test-half coverage is the empirical validation of the
    marginal-coverage theorem. The uncertainty layer
    [[ece_calibration_bins]] (probabilities) and
    [[bootstrap_ci_mean]] (parameters) do not provide: per-PREDICTION
    intervals.

    Plan: profile + residuals are partial aggs off one scan; the
    order statistic is one sort-rank over the calibration residuals
    (at 100 TB: a GK sketch with rank error << 1/(n+1) replaces the
    sort); coverage is a broadcast-join scan of the test half."""
    ev = load_table(spark, sf_dir, "events")
    coin = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("conf:"), F.col("event_id").cast("string"))
                ),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        % 2
    )
    base = ev.select(
        "event_id", "value",
        F.hour("ts").cast("int").alias("hod"),
        F.when(coin == 0, "cal").otherwise("test").alias("split"),
    )
    prof = (
        base.filter(F.col("split") == "cal")
        .groupBy("hod")
        .agg(F.avg("value").alias("pred"))
    )
    resid = (
        base.filter(F.col("split") == "cal")
        .join(F.broadcast(prof), "hod")
        .select(F.abs(F.col("value") - F.col("pred")).alias("r"))
    )
    nq = resid.agg(
        F.count(F.lit(1)).cast("long").alias("n_cal"),
        F.ceil(0.9 * (F.count(F.lit(1)) + 1)).cast("long").alias("k"),
    )
    ranked = resid.select(
        "r", F.row_number().over(Window.orderBy("r")).alias("rk")
    )
    qhat = (
        ranked.crossJoin(F.broadcast(nq))
        .filter(F.col("rk") == F.col("k"))
        .agg(F.min("r").alias("q"))
    )
    cov = (
        base.filter(F.col("split") == "test")
        .join(F.broadcast(prof), "hod")
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.avg(
                F.when(
                    F.abs(F.col("value") - F.col("pred")) <= F.col("q"),
                    1.0,
                ).otherwise(0.0)
            ).alias("coverage"),
        )
    )
    return (
        nq.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(cov))
        .select(
            "n_cal", "n_test",
            _eps_round("q", 4).alias("q_hat"),
            _eps_round("coverage", 4).alias("coverage"),
        )
    )


@register(
    "cuped_adjustment",
    """
    WITH u AS (
      SELECT user_id,
             AVG(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                      THEN value END) AS x_pre,
             AVG(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                      THEN value END) AS y
      FROM events GROUP BY user_id
      HAVING x_pre IS NOT NULL AND y IS NOT NULL),
    theta AS (
      SELECT COVAR_POP(y, x_pre) / VAR_POP(x_pre) AS th,
             AVG(x_pre) AS mx, VAR_POP(y) AS vy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM u),
    adj AS (
      SELECT VAR_POP(u.y - t.th * (u.x_pre - t.mx)) AS v_adj,
             MAX(t.vy) AS v_raw, MAX(t.th) AS th, MAX(t.n) AS n
      FROM u CROSS JOIN theta t)
    SELECT n AS n_users,
           ROUND(1.2345e-8 + th, 4) AS theta,
           ROUND(1.2345e-8 + v_raw, 4) AS var_raw,
           ROUND(1.2345e-8 + v_adj, 4) AS var_cuped,
           ROUND(1.2345e-8 + 1.0 - v_adj / v_raw, 4) AS var_reduction
    FROM adj
    """,
    tags=("curation", "statistics", "experimentation"),
)
def cuped_adjustment(spark, sf_dir):
    """CUPED VARIANCE REDUCTION — the pre-experiment-covariate
    adjustment every large experimentation platform applies before
    the t-test: y_adj = y - theta (x_pre - E[x_pre]) with
    theta = cov(y, x_pre)/var(x_pre), which shrinks metric variance
    by exactly rho^2 (the theoretical floor). Here x_pre / y are each
    user's pre/post mid-month mean values; the emitted variance
    reduction is what converts directly into experiment runtime saved
    ([[welch_ttest]] / [[diff_in_diff]] run on y_adj in production).

    Plan: ONE per-user conditional-avg partial agg (the only
    fact-scale shuffle), then two scalar aggregates over the user
    frame with theta broadcast between them. Linear scans all the
    way; nothing quadratic, nothing iterative."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    u = (
        ev.groupBy("user_id")
        .agg(
            F.avg(F.when(F.col("ts") < cut, F.col("value"))).alias("x_pre"),
            F.avg(F.when(F.col("ts") >= cut, F.col("value"))).alias("y"),
        )
        .filter(F.col("x_pre").isNotNull() & F.col("y").isNotNull())
    )
    theta = u.agg(
        (F.covar_pop("y", "x_pre") / F.var_pop("x_pre")).alias("th"),
        F.avg("x_pre").alias("mx"),
        F.var_pop("y").alias("vy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    adj = u.crossJoin(F.broadcast(theta)).agg(
        F.var_pop(
            F.col("y") - F.col("th") * (F.col("x_pre") - F.col("mx"))
        ).alias("v_adj"),
        F.max("vy").alias("v_raw"),
        F.max("th").alias("th"),
        F.max("n").alias("n"),
    )
    return adj.select(
        F.col("n").alias("n_users"),
        _eps_round("th", 4).alias("theta"),
        _eps_round("v_raw", 4).alias("var_raw"),
        _eps_round("v_adj", 4).alias("var_cuped"),
        _eps_round(1.0 - F.col("v_adj") / F.col("v_raw"), 4).alias(
            "var_reduction"
        ),
    )


# Randomized response: answer truthfully with prob RR_P, else flip — the
# Warner design. epsilon = ln(RR_P/(1-RR_P)) per response.
_RR_P = 0.75


@register(
    "ldp_randomized_response",
    f"""
    WITH t AS (
      SELECT CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1 ELSE 0 END AS y,
             CASE WHEN ('0x' || substr(md5('rr3:' ||
                        CAST(event_id AS VARCHAR)), 1, 4))::BIGINT
                  < 65536 * {_RR_P!r} THEN 1 ELSE 0 END AS truthful
      FROM events),
    r AS (
      SELECT y, CASE WHEN truthful = 1 THEN y ELSE 1 - y END AS resp
      FROM t),
    agg AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             AVG(CAST(resp AS DOUBLE)) AS obs,
             AVG(CAST(y AS DOUBLE)) AS true_rate
      FROM r)
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(1.2345e-8 + obs, 4) AS observed_rate,
           ROUND(1.2345e-8 +
             (obs - (1 - {_RR_P!r})) / (2 * {_RR_P!r} - 1), 4)
             AS debiased_rate,
           ROUND(1.2345e-8 + true_rate, 4) AS true_rate,
           ROUND(1.2345e-8 + LN({_RR_P!r} / (1 - {_RR_P!r})), 4)
             AS epsilon
    FROM agg
    """,
    tags=("curation", "privacy", "local-dp"),
)
def ldp_randomized_response(spark, sf_dir):
    """LOCAL DIFFERENTIAL PRIVACY via RANDOMIZED RESPONSE (Warner
    design): each record reports its click/purchase bit truthfully
    with probability p=0.75, flipped otherwise — the coin is a
    salted-md5 uniform (the [[dp_noisy_counts]] seeded-randomness
    discipline, applied to the LOCAL model where the curator never
    sees raw bits). The unbiased estimate (obs - (1-p))/(2p - 1)
    debiases the aggregate; per-response privacy is
    epsilon = ln(p/(1-p)). Emitting the true rate beside it shows the
    estimator landing on target — the privacy/utility readout.

    Plan: map-only response mechanism + ONE aggregate. The point at
    100 TB is organizational, not computational: the `resp` column is
    the ONLY one that needs to leave the data owner."""
    ev = load_table(spark, sf_dir, "events")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("rr3:"), F.col("event_id").cast("string"))),
            1, 4,
        ),
        16, 10,
    ).cast("long")
    t = ev.select(
        F.when(F.col("event_type").isin("click", "purchase"), 1)
        .otherwise(0)
        .alias("y"),
        F.when(u < 65536 * _RR_P, 1).otherwise(0).alias("truthful"),
    )
    r = t.select(
        "y",
        F.when(F.col("truthful") == 1, F.col("y"))
        .otherwise(1 - F.col("y"))
        .alias("resp"),
    )
    agg = r.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(F.col("resp").cast("double")).alias("obs"),
        F.avg(F.col("y").cast("double")).alias("true_rate"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        _eps_round("obs", 4).alias("observed_rate"),
        _eps_round(
            (F.col("obs") - (1 - _RR_P)) / (2 * _RR_P - 1), 4
        ).alias("debiased_rate"),
        _eps_round("true_rate", 4).alias("true_rate"),
        _eps_round(F.lit(math.log(_RR_P / (1 - _RR_P))), 4).alias(
            "epsilon"
        ),
    )


@register(
    "entropy_rate_markov",
    """
    WITH seq AS (
      SELECT user_id, event_type AS a,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS b
      FROM events),
    tr AS (
      SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS c
      FROM seq WHERE b IS NOT NULL GROUP BY a, b),
    row_tot AS (SELECT a, SUM(c) AS ra FROM tr GROUP BY a),
    tot AS (SELECT SUM(c) AS n FROM tr),
    terms AS (
      SELECT tr.a, tr.b, tr.c, rt.ra, t.n,
             (rt.ra / t.n) * (tr.c / rt.ra) * LN(tr.c / rt.ra) AS term
      FROM tr JOIN row_tot rt ON rt.a = tr.a CROSS JOIN tot t)
    SELECT CAST(MAX(n) AS BIGINT) AS n_transitions,
           ROUND(1.2345e-8 - SUM(term), 4) AS entropy_rate_nats,
           ROUND(1.2345e-8 - SUM(term) / LN(2), 4) AS entropy_rate_bits
    FROM terms
    """,
    tags=("curation", "information-theory", "markov"),
)
def entropy_rate_markov(spark, sf_dir):
    """MARKOV ENTROPY RATE of the per-user event-type chain — H =
    -sum_i pi_i sum_j P_ij ln P_ij with the empirical stationary
    weights pi_i = row mass / total: the bits-per-event compressibility
    of user behavior, the information-theoretic summary that
    [[event_transition_matrix]] (the P_ij estimates) and
    [[quality_entropy]] (marginal entropy) bracket — marginal entropy
    ignores sequence structure, the rate prices it.

    Plan: one LAG/LEAD window per user partition (the
    [[sessionize]] sort), ONE transition partial agg (k^2 = 25 cells),
    then arithmetic on the cell table. Single fact-scale sort, tiny
    everything after."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.lead("event_type").over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    tr = seq.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    row_tot = tr.groupBy("a").agg(F.sum("c").alias("ra"))
    tot = tr.agg(F.sum("c").alias("n"))
    terms = (
        tr.join(F.broadcast(row_tot), "a")
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            (
                (F.col("ra") / F.col("n"))
                * (F.col("c") / F.col("ra"))
                * F.log(F.col("c") / F.col("ra"))
            ).alias("term"),
        )
    )
    return terms.agg(
        F.max("n").cast("long").alias("n_transitions"),
        _eps_round(-F.sum("term") + F.lit(0.0), 4).alias(
            "entropy_rate_nats"
        ),
        _eps_round(-F.sum("term") / math.log(2), 4).alias(
            "entropy_rate_bits"
        ),
    )


@register(
    "causal_ipw_ate",
    """
    WITH pts AS (
      SELECT CAST(user_id % 2 AS INT) AS tr, value AS y,
             1.0 / (1.0 + EXP(-(CAST(hour(ts) AS DOUBLE) - 12.0) / 6.0))
               AS e
      FROM events),
    w AS (
      SELECT tr, y,
             CASE WHEN tr = 1 THEN 1.0 / e ELSE 1.0 / (1.0 - e) END AS w
      FROM pts),
    h AS (
      SELECT SUM(CASE WHEN tr = 1 THEN w * y ELSE 0 END)
               / SUM(CASE WHEN tr = 1 THEN w ELSE 0 END) AS mu1,
             SUM(CASE WHEN tr = 0 THEN w * y ELSE 0 END)
               / SUM(CASE WHEN tr = 0 THEN w ELSE 0 END) AS mu0,
             CAST(COUNT(*) AS BIGINT) AS n,
             MAX(w) AS w_max
      FROM w)
    SELECT n,
           ROUND(1.2345e-8 + mu1, 4) AS mu_treated,
           ROUND(1.2345e-8 + mu0, 4) AS mu_control,
           ROUND(1.2345e-8 + mu1 - mu0, 4) AS ate_hajek,
           ROUND(1.2345e-8 + w_max, 4) AS max_weight
    FROM h
    """,
    tags=("curation", "statistics", "causal"),
)
def causal_ipw_ate(spark, sf_dir):
    """INVERSE-PROPENSITY-WEIGHTED ATE (Hajek/stabilized estimator) —
    the observational-causal workhorse when treatment isn't
    randomized: weight each unit by 1/e(x) (treated) or 1/(1-e(x))
    (control) under a deterministic hour-of-day propensity model
    (logistic((hod-12)/6) — both engines derive it identically), and
    the self-normalized weighted means difference estimates the ATE.
    Emits max_weight, the positivity-violation diagnostic every IPW
    user checks first. Completes the causal trio with
    [[diff_in_diff]] (panel) and [[cuped_adjustment]] (variance) —
    three estimators, one partial-agg shape.

    Plan: map-only weights + ONE conditional-sum aggregate. Single
    scan at any scale."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        (F.col("user_id") % 2).cast("int").alias("tr"),
        F.col("value").alias("y"),
        (
            1.0
            / (1.0 + F.exp(-(F.hour("ts").cast("double") - 12.0) / 6.0))
        ).alias("e"),
    )
    w = pts.select(
        "tr", "y",
        F.when(F.col("tr") == 1, 1.0 / F.col("e"))
        .otherwise(1.0 / (1.0 - F.col("e")))
        .alias("w"),
    )
    h = w.agg(
        (
            F.sum(F.when(F.col("tr") == 1, F.col("w") * F.col("y")).otherwise(0.0))
            / F.sum(F.when(F.col("tr") == 1, F.col("w")).otherwise(0.0))
        ).alias("mu1"),
        (
            F.sum(F.when(F.col("tr") == 0, F.col("w") * F.col("y")).otherwise(0.0))
            / F.sum(F.when(F.col("tr") == 0, F.col("w")).otherwise(0.0))
        ).alias("mu0"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("w").alias("w_max"),
    )
    return h.select(
        "n",
        _eps_round("mu1", 4).alias("mu_treated"),
        _eps_round("mu0", 4).alias("mu_control"),
        _eps_round(F.col("mu1") - F.col("mu0"), 4).alias("ate_hajek"),
        _eps_round("w_max", 4).alias("max_weight"),
    )


# Dirichlet smoothing mass for the query-likelihood LM scorer.
_QL_MU = 200.0


@register(
    "query_likelihood_dirichlet",
    f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE text IS NOT NULL),
    dl AS (SELECT doc_id, len(t) AS dl FROM d),
    toks AS (SELECT doc_id, unnest(t) AS tok FROM d),
    ctot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cn FROM toks
             WHERE tok <> ''),
    cf AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cf
      FROM toks WHERE tok IN {_BM25_TERMS!r} GROUP BY tok),
    tf AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM toks WHERE tok IN {_BM25_TERMS!r} GROUP BY doc_id, tok),
    grid AS (
      SELECT dl.doc_id, dl.dl, cf.tok, cf.cf, ctot.cn
      FROM dl CROSS JOIN cf CROSS JOIN ctot),
    scored AS (
      SELECT g.doc_id,
             SUM(LN((COALESCE(tf.tf, 0) + {_QL_MU} * g.cf / g.cn)
                    / (g.dl + {_QL_MU}))) AS score
      FROM grid g LEFT JOIN tf
        ON tf.doc_id = g.doc_id AND tf.tok = g.tok
      GROUP BY g.doc_id)
    SELECT doc_id, ROUND(1.2345e-8 + score, 4) AS ql
    FROM scored
    ORDER BY ROUND(1.2345e-8 + score, 4) DESC, doc_id
    LIMIT 20
    """,
    tags=("pipeline", "curation", "ir"),
)
def query_likelihood_dirichlet(spark, sf_dir):
    """QUERY-LIKELIHOOD retrieval with DIRICHLET SMOOTHING (mu=200) —
    the language-modeling ranking function (Ponte-Croft / Zhai-Lafferty),
    BM25's principled rival and the scorer behind most 'LM-based IR'
    baselines: score(d) = sum over query terms of
    ln((tf + mu p(w|C)) / (|d| + mu)). SAME 3-term query as
    [[bm25_search]], so the two rankers are directly comparable on
    identical postings. Unlike BM25, ABSENT terms still contribute
    (the smoothed collection probability), so the score grid is
    docs x query-terms with a left join on the sparse tf table — the
    structural difference between the two scorers made explicit in
    the plan.

    Plan: collection stats (cf, total) are tiny broadcast aggregates;
    the dense doc x 3-term grid is a broadcast fan-out of the doc-
    length table; tf left-joins in on (doc, term); final score is one
    partial agg + TakeOrderedAndProject top-20. At 100 TB the
    postings store is pre-built and the grid fan-out stays 3x the doc
    count — linear."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks_arr = d.select("doc_id", F.split("text", " ").alias("t"))
    dl = toks_arr.select("doc_id", F.size("t").alias("dl"))
    toks = toks_arr.select(
        "doc_id", F.explode("t").alias("tok")
    )
    ctot = toks.filter(F.col("tok") != "").agg(
        F.count(F.lit(1)).cast("double").alias("cn")
    )
    qterms = toks.filter(F.col("tok").isin(*_BM25_TERMS))
    cf = qterms.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("cf")
    )
    tf = qterms.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    grid = dl.crossJoin(F.broadcast(cf)).crossJoin(F.broadcast(ctot))
    scored = (
        grid.join(tf, ["doc_id", "tok"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (
                        F.coalesce("tf", F.lit(0.0))
                        + _QL_MU * F.col("cf") / F.col("cn")
                    )
                    / (F.col("dl") + _QL_MU)
                )
            ).alias("score")
        )
    )
    return (
        scored.select(
            "doc_id", _eps_round("score", 4).alias("ql")
        )
        .orderBy(F.desc("ql"), "doc_id")
        .limit(20)
    )


# Huber tuning constant (the 95%-efficiency convention is 1.345*sigma;
# here c is set on the raw-residual scale shared by both engines).
_HUBER_C = 20.0


@register(
    "huber_irls_1step",
    f"""
    WITH pts AS (
      SELECT CAST(hour(ts) AS DOUBLE) AS x, value AS y FROM events),
    ols AS (
      SELECT COVAR_POP(y, x) / VAR_POP(x) AS b1,
             AVG(y) - COVAR_POP(y, x) / VAR_POP(x) * AVG(x) AS b0
      FROM pts),
    w AS (
      SELECT p.x, p.y,
             LEAST(1.0, {_HUBER_C} / ABS(p.y - o.b0 - o.b1 * p.x)) AS w
      FROM pts p CROSS JOIN ols o
      WHERE ABS(p.y - o.b0 - o.b1 * p.x) > 1e-12),
    wols AS (
      SELECT (SUM(w * x * y) - SUM(w * x) * SUM(w * y) / SUM(w))
               / (SUM(w * x * x) - SUM(w * x) * SUM(w * x) / SUM(w))
               AS b1,
             SUM(w) AS sw, SUM(w * x) AS swx, SUM(w * y) AS swy,
             CAST(COUNT(*) AS BIGINT) AS n,
             AVG(CASE WHEN w < 1.0 THEN 1.0 ELSE 0.0 END) AS frac_damped
      FROM w)
    SELECT n,
           ROUND(1.2345e-8 + (SELECT b1 FROM ols), 4) AS slope_ols,
           ROUND(1.2345e-8 + b1, 4) AS slope_huber,
           ROUND(1.2345e-8 + (swy - b1 * swx) / sw, 4) AS intercept_huber,
           ROUND(1.2345e-8 + frac_damped, 4) AS frac_damped
    FROM wols
    """,
    tags=("curation", "statistics", "robust"),
)
def huber_irls_1step(spark, sf_dir):
    """HUBER ROBUST REGRESSION, one IRLS step — ordinary least squares
    (value on hour-of-day), then reweight every point by the Huber
    psi-weight min(1, c/|r|) and re-fit weighted least squares: the
    iteratively-reweighted scheme that M-estimators run to
    convergence, exactly one SQL-replayable step (the
    [[gmm_em_1step]] / [[logreg_gd_2step]] fixed-iteration
    precedent; [[theilsen_slope_per_user]] is the rank-based
    alternative). Emits both slopes and the damped fraction — the
    outlier-influence diagnostic. Near-zero residuals (|r| < 1e-12)
    drop rather than divide (w would be 1 there anyway; the guard
    keeps ANSI division happy identically on both engines).

    Plan: TWO partial-agg scans (OLS moments, then weighted moments
    with the 1-row OLS broadcast between) — IRLS costs one scan per
    iteration and nothing else at any scale."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.hour("ts").cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    ols = pts.agg(
        (F.covar_pop("y", "x") / F.var_pop("x")).alias("b1"),
        (
            F.avg("y")
            - F.covar_pop("y", "x") / F.var_pop("x") * F.avg("x")
        ).alias("b0"),
    )
    r = F.col("y") - F.col("b0") - F.col("b1") * F.col("x")
    w = (
        pts.crossJoin(F.broadcast(ols))
        .filter(F.abs(r) > 1e-12)
        .select(
            "x", "y",
            F.least(F.lit(1.0), _HUBER_C / F.abs(r)).alias("w"),
        )
    )
    sw = F.sum("w")
    swx = F.sum(F.col("w") * F.col("x"))
    swy = F.sum(F.col("w") * F.col("y"))
    swxy = F.sum(F.col("w") * F.col("x") * F.col("y"))
    swxx = F.sum(F.col("w") * F.col("x") * F.col("x"))
    wols = w.agg(
        ((swxy - swx * swy / sw) / (swxx - swx * swx / sw)).alias("b1"),
        sw.alias("sw"),
        swx.alias("swx"),
        swy.alias("swy"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.when(F.col("w") < 1.0, 1.0).otherwise(0.0)).alias(
            "frac_damped"
        ),
    )
    return wols.crossJoin(
        F.broadcast(ols.select(F.col("b1").alias("b1_ols")))
    ).select(
        "n",
        _eps_round("b1_ols", 4).alias("slope_ols"),
        _eps_round("b1", 4).alias("slope_huber"),
        _eps_round(
            (F.col("swy") - F.col("b1") * F.col("swx")) / F.col("sw"), 4
        ).alias("intercept_huber"),
        _eps_round("frac_damped", 4).alias("frac_damped"),
    )


@register(
    "platt_scaling_2newton",
    """
    WITH pts AS (
      SELECT (value - 50.0) / 25.0 AS s,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM events),
    g1 AS (
      SELECT SUM((1.0 / (1.0 + EXP(-(1.0 * s + 0.0))) - y) * s) AS ga,
             SUM(1.0 / (1.0 + EXP(-(1.0 * s + 0.0))) - y) AS gb,
             SUM(1.0 / (1.0 + EXP(-(1.0 * s + 0.0)))
                 * (1 - 1.0 / (1.0 + EXP(-(1.0 * s + 0.0)))) * s * s)
               AS haa,
             SUM(1.0 / (1.0 + EXP(-(1.0 * s + 0.0)))
                 * (1 - 1.0 / (1.0 + EXP(-(1.0 * s + 0.0)))) * s) AS hab,
             SUM(1.0 / (1.0 + EXP(-(1.0 * s + 0.0)))
                 * (1 - 1.0 / (1.0 + EXP(-(1.0 * s + 0.0))))) AS hbb
      FROM pts),
    t1 AS (
      SELECT 1.0 - (hbb * ga - hab * gb) / (haa * hbb - hab * hab) AS a,
             0.0 - (haa * gb - hab * ga) / (haa * hbb - hab * hab) AS b
      FROM g1),
    g2 AS (
      SELECT t1.a AS a0, t1.b AS b0,
             SUM((1.0 / (1.0 + EXP(-(t1.a * s + t1.b))) - y) * s) AS ga,
             SUM(1.0 / (1.0 + EXP(-(t1.a * s + t1.b))) - y) AS gb,
             SUM(1.0 / (1.0 + EXP(-(t1.a * s + t1.b)))
                 * (1 - 1.0 / (1.0 + EXP(-(t1.a * s + t1.b)))) * s * s)
               AS haa,
             SUM(1.0 / (1.0 + EXP(-(t1.a * s + t1.b)))
                 * (1 - 1.0 / (1.0 + EXP(-(t1.a * s + t1.b)))) * s) AS hab,
             SUM(1.0 / (1.0 + EXP(-(t1.a * s + t1.b)))
                 * (1 - 1.0 / (1.0 + EXP(-(t1.a * s + t1.b))))) AS hbb
      FROM pts CROSS JOIN t1 GROUP BY t1.a, t1.b)
    SELECT ROUND(1.2345e-8 + a0
             - (hbb * ga - hab * gb) / (haa * hbb - hab * hab), 4) AS a,
           ROUND(1.2345e-8 + b0
             - (haa * gb - hab * ga) / (haa * hbb - hab * hab), 4) AS b
    FROM g2
    """,
    tags=("curation", "ml", "calibration"),
)
def platt_scaling_2newton(spark, sf_dir):
    """PLATT SCALING, two exact Newton-Raphson steps — fit the
    calibration sigmoid p = sigma(a s + b) on the standardized score
    by Newton on the logistic NLL from (a, b) = (1, 0): gradient
    (sum (p - y) s, sum (p - y)), Hessian the 2x2 weighted moment
    matrix, inverted in closed form. The PARAMETRIC calibrator next
    to [[isotonic_calibration_pava]] (nonparametric) and the
    diagnosis tools [[ece_calibration_bins]] / [[log_loss_binary]];
    two steps make it SQL-replayable per the [[gmm_em_1step]]
    convention (Newton on this 2-parameter concave problem is
    near-converged by then anyway).

    Plan: each Newton step is ONE partial-agg scan producing 5
    sufficient sums; the solve is 1-row closed-form arithmetic.
    Two scans total, nothing grows with data but the scan."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("value") - 50.0) / 25.0).alias("s"),
        F.when(F.col("event_type").isin("click", "purchase"), 1.0)
        .otherwise(0.0)
        .alias("y"),
    )

    def newton(pts_df, a_col, b_col):
        p = 1.0 / (1.0 + F.exp(-(a_col * F.col("s") + b_col)))
        w = p * (1 - p)
        g = pts_df.agg(
            F.sum((p - F.col("y")) * F.col("s")).alias("ga"),
            F.sum(p - F.col("y")).alias("gb"),
            F.sum(w * F.col("s") * F.col("s")).alias("haa"),
            F.sum(w * F.col("s")).alias("hab"),
            F.sum(w).alias("hbb"),
        )
        det = F.col("haa") * F.col("hbb") - F.col("hab") * F.col("hab")
        da = (F.col("hbb") * F.col("ga") - F.col("hab") * F.col("gb")) / det
        db = (F.col("haa") * F.col("gb") - F.col("hab") * F.col("ga")) / det
        return g, da, db

    g1, da1, db1 = newton(pts, F.lit(1.0), F.lit(0.0))
    t1 = g1.select(
        (F.lit(1.0) - da1).alias("a"), (F.lit(0.0) - db1).alias("b")
    )
    pts2 = pts.crossJoin(F.broadcast(t1))
    g2 = pts2.groupBy("a", "b").agg(
        F.sum(
            (
                1.0 / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b"))))
                - F.col("y")
            )
            * F.col("s")
        ).alias("ga"),
        F.sum(
            1.0 / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b"))))
            - F.col("y")
        ).alias("gb"),
        F.sum(
            (1.0 / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b")))))
            * (
                1
                - 1.0
                / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b"))))
            )
            * F.col("s")
            * F.col("s")
        ).alias("haa"),
        F.sum(
            (1.0 / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b")))))
            * (
                1
                - 1.0
                / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b"))))
            )
            * F.col("s")
        ).alias("hab"),
        F.sum(
            (1.0 / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b")))))
            * (
                1
                - 1.0
                / (1.0 + F.exp(-(F.col("a") * F.col("s") + F.col("b"))))
            )
        ).alias("hbb"),
    )
    det = F.col("haa") * F.col("hbb") - F.col("hab") * F.col("hab")
    return g2.select(
        _eps_round(
            F.col("a")
            - (F.col("hbb") * F.col("ga") - F.col("hab") * F.col("gb"))
            / det,
            4,
        ).alias("a"),
        _eps_round(
            F.col("b")
            - (F.col("haa") * F.col("gb") - F.col("hab") * F.col("ga"))
            / det,
            4,
        ).alias("b"),
    )


@register(
    "pca_2d_closed_form",
    """
    WITH pts AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    c AS (
      SELECT VAR_POP(x) AS a, COVAR_POP(x, y) AS b, VAR_POP(y) AS cc,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pts),
    eig AS (
      SELECT n, a, b, cc,
             (a + cc) / 2 + SQRT((a - cc) * (a - cc) / 4 + b * b) AS l1,
             (a + cc) / 2 - SQRT((a - cc) * (a - cc) / 4 + b * b) AS l2
      FROM c)
    SELECT n,
           ROUND(1.2345e-8 + l1, 6) AS lambda1,
           ROUND(1.2345e-8 + l2, 6) AS lambda2,
           ROUND(1.2345e-8 + l1 / (l1 + l2), 4) AS explained_ratio,
           ROUND(1.2345e-8 + DEGREES(ATAN2(l1 - a, b)), 4) AS angle_deg
    FROM eig
    """,
    tags=("curation", "ml", "pca"),
)
def pca_2d_closed_form(spark, sf_dir):
    """EXACT 2-D PCA — closed-form eigendecomposition of the 2x2
    covariance of the first two embedding dims: lambda_{1,2} =
    (a+c)/2 +/- sqrt(((a-c)/2)^2 + b^2), principal axis angle
    atan2(lambda1 - a, b) — no iteration at all, the analytic
    complement of [[embedding_pca_power]]'s power method (which this
    certifies: the power iterate must converge toward this lambda1).
    Explained-variance ratio is the 2-D screeplot in one number.

    Plan: ONE partial-agg scan for the three co-moments, scalar
    closed-form after. The d=2 special case of 'PCA is one scan +
    a driver-scale eigensolve when d is small' — the posture that
    holds to d ~ thousands before power iteration earns its keep."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    c = pts.agg(
        F.var_pop("x").alias("a"),
        F.covar_pop("x", "y").alias("b"),
        F.var_pop("y").alias("cc"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    half = (F.col("a") + F.col("cc")) / 2
    rad = F.sqrt(
        (F.col("a") - F.col("cc")) * (F.col("a") - F.col("cc")) / 4
        + F.col("b") * F.col("b")
    )
    eig = c.select(
        "n", "a", "b",
        (half + rad).alias("l1"),
        (half - rad).alias("l2"),
    )
    return eig.select(
        "n",
        _eps_round("l1", 6).alias("lambda1"),
        _eps_round("l2", 6).alias("lambda2"),
        _eps_round(F.col("l1") / (F.col("l1") + F.col("l2")), 4).alias(
            "explained_ratio"
        ),
        _eps_round(
            F.degrees(F.atan2(F.col("l1") - F.col("a"), F.col("b"))), 4
        ).alias("angle_deg"),
    )


@register(
    "silhouette_score",
    """
    WITH pts AS (
      SELECT vec_id, label AS c,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    pd AS (
      SELECT a.vec_id, a.c AS ca, b.c AS cb,
             SQRT((a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y)) AS d
      FROM pts a JOIN pts b ON a.vec_id <> b.vec_id),
    pc AS (
      SELECT vec_id, ca, cb, AVG(d) AS md, CAST(COUNT(*) AS BIGINT) AS n
      FROM pd GROUP BY vec_id, ca, cb),
    ab AS (
      SELECT vec_id, ca,
             MAX(CASE WHEN cb = ca THEN md END) AS a,
             MIN(CASE WHEN cb <> ca THEN md END) AS b
      FROM pc GROUP BY vec_id, ca),
    sil AS (
      SELECT vec_id, ca,
             (b - a) / GREATEST(a, b) AS s
      FROM ab WHERE a IS NOT NULL AND b IS NOT NULL)
    SELECT ca AS cluster, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + AVG(s), 4) AS mean_silhouette,
           ROUND(1.2345e-8 + (SELECT AVG(s) FROM sil), 4)
             AS overall_silhouette
    FROM sil GROUP BY ca ORDER BY cluster
    """,
    tags=("curation", "evaluation", "clustering"),
)
def silhouette_score(spark, sf_dir):
    """SILHOUETTE SCORE of the true-label partition on the 2-D
    embedding projection — s(i) = (b - a)/max(a, b) with a = mean
    intra-cluster distance and b = the nearest other cluster's mean
    distance: the geometric clustering diagnostic beside
    [[adjusted_rand_index]] (pair counting vs a reference) and
    [[mutual_information]] (information) — silhouette needs NO
    reference partition, which is why it's the k-selection criterion.
    Exact all-pairs form on the bounded point set; per-(point,
    cluster) mean distances collapse the pair table before the
    min/max step.

    Plan: the pair join is the cost — exact here (n^2 bounded), and
    at corpus scale the standard move is EXACTLY [[dbscan_core_points]]'s
    grid blocking (a and b only need distances within the
    neighborhood radius that dominates the means) or
    [[dedup_semantic]]-style per-cluster sampling; the rest is two
    partial aggs over (point, cluster) keys."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("label").alias("c"),
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    a, b = pts.alias("a"), pts.alias("b")
    pd_ = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.c").alias("ca"),
        F.col("b.c").alias("cb"),
        F.sqrt(
            (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
            + (F.col("a.y") - F.col("b.y"))
            * (F.col("a.y") - F.col("b.y"))
        ).alias("d"),
    )
    pc = pd_.groupBy("vec_id", "ca", "cb").agg(F.avg("d").alias("md"))
    ab = pc.groupBy("vec_id", "ca").agg(
        F.max(F.when(F.col("cb") == F.col("ca"), F.col("md"))).alias("a"),
        F.min(F.when(F.col("cb") != F.col("ca"), F.col("md"))).alias("b"),
    )
    sil = ab.filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    ).select(
        "vec_id", "ca",
        (
            (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
        ).alias("s"),
    )
    overall = sil.agg(F.avg("s").alias("os"))
    return (
        sil.groupBy(F.col("ca").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _eps_round(F.avg("s"), 4).alias("mean_silhouette"),
        )
        .crossJoin(F.broadcast(overall))
        .select(
            "cluster", "n", "mean_silhouette",
            _eps_round("os", 4).alias("overall_silhouette"),
        )
        .orderBy("cluster")
    )


@register(
    "davies_bouldin_index",
    """
    WITH pts AS (
      SELECT label AS c,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    cent AS (
      SELECT c, AVG(x) AS cx, AVG(y) AS cy,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pts GROUP BY c),
    scat AS (
      SELECT p.c,
             AVG(SQRT((p.x - ce.cx) * (p.x - ce.cx)
                      + (p.y - ce.cy) * (p.y - ce.cy))) AS s
      FROM pts p JOIN cent ce ON ce.c = p.c GROUP BY p.c),
    rij AS (
      SELECT a.c AS ci,
             MAX((sa.s + sb.s)
                 / SQRT((a.cx - b.cx) * (a.cx - b.cx)
                        + (a.cy - b.cy) * (a.cy - b.cy))) AS r
      FROM cent a JOIN cent b ON a.c <> b.c
      JOIN scat sa ON sa.c = a.c JOIN scat sb ON sb.c = b.c
      GROUP BY a.c)
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           ROUND(1.2345e-8 + AVG(r), 4) AS davies_bouldin
    FROM rij
    """,
    tags=("curation", "evaluation", "clustering"),
)
def davies_bouldin_index(spark, sf_dir):
    """DAVIES-BOULDIN INDEX — mean over clusters of the worst
    scatter-to-separation ratio max_j (s_i + s_j)/d(c_i, c_j): the
    cheap internal clustering validity index (lower = better) that,
    unlike [[silhouette_score]], needs NO pairwise point distances —
    only centroids and within-cluster mean scatter, which makes it
    the one you can afford at every iteration of a clustering loop.

    Plan: centroid partial agg + one scatter pass (centroid broadcast
    back) + a k x k centroid-pair frame (k = 10 — driver-scale).
    Two fact scans, zero quadratic point work: the structural
    contrast to silhouette IS the lesson."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("label").alias("c"),
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    cent = pts.groupBy("c").agg(
        F.avg("x").alias("cx"),
        F.avg("y").alias("cy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    scat = (
        pts.join(F.broadcast(cent), "c")
        .groupBy("c")
        .agg(
            F.avg(
                F.sqrt(
                    (F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
                    + (F.col("y") - F.col("cy"))
                    * (F.col("y") - F.col("cy"))
                )
            ).alias("s")
        )
    )
    a = cent.select(
        F.col("c").alias("ci"), F.col("cx").alias("ax"),
        F.col("cy").alias("ay"),
    ).join(
        scat.select(F.col("c").alias("ci"), F.col("s").alias("si")), "ci"
    )
    b2 = cent.select(
        F.col("c").alias("cj"), F.col("cx").alias("bx"),
        F.col("cy").alias("by"),
    ).join(
        scat.select(F.col("c").alias("cj"), F.col("s").alias("sj")), "cj"
    )
    rij = (
        a.join(F.broadcast(b2), F.col("ci") != F.col("cj"))
        .groupBy("ci")
        .agg(
            F.max(
                (F.col("si") + F.col("sj"))
                / F.sqrt(
                    (F.col("ax") - F.col("bx"))
                    * (F.col("ax") - F.col("bx"))
                    + (F.col("ay") - F.col("by"))
                    * (F.col("ay") - F.col("by"))
                )
            ).alias("r")
        )
    )
    return rij.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        _eps_round(F.avg("r"), 4).alias("davies_bouldin"),
    )


_LOF_K = 5
_LOF_SALT = 16

# The oracle's ring walk, one MATERIALIZED CTE per cell offset, CHAINED so
# DuckDB evaluates them one at a time. A single window over the full
# candidate set materializes ~1e9 rows at the x32 parity tier (64k points
# pack into 84 occupied eps-cells) and DuckDB spills >77 GB of temp before
# ENOSPC; plain UNION ALL branches don't help, because all nine child
# window pipelines materialize CONCURRENTLY before the parent consumes
# (measured: same ENOSPC). Each k{i} therefore carries a constant-true
# gate `(SELECT COUNT(*) FROM k{i-1}) >= 0` — semantically a no-op, but a
# real dependency the scheduler must order, so peak memory is ONE branch
# (~12 GB, in-RAM: measured 111 s with ZERO temp spill at the x32 tier).
# The one-at-a-time behavior relies on DuckDB NOT constant-folding the
# gate; measured on DuckDB 1.0.0 (ADVICE r10). A DuckDB upgrade could
# re-parallelize the nine materializations — values stay correct, but
# the spill returns; the x32-tier LOF run stays in the scale sweep
# (scripts/scale_parity.py --tier 64) precisely so such a regression
# surfaces as a sweep timeout/spill, never in production.
# Exactness is unchanged: for a fixed (dx, dy) each point probes exactly
# ONE b-cell, so PARTITION BY ia within a branch IS the per-(point, cell)
# local top-k; every (ia, ib) pair occurs exactly once across branches,
# the order (rounded d, ib) is total, and global-top-k-of-local-top-ks
# equals the global top-k (the same two-phase shape the engine uses).
_LOF_RING_CTES = ",\n".join(
    f"""    k{i} AS MATERIALIZED (
      SELECT ia, ib, d FROM (
        SELECT ia, ib, d,
               ROW_NUMBER() OVER (PARTITION BY ia
                                  ORDER BY ROUND(d + 1.2345e-8, 9), ib)
                 AS rkl
        FROM (
          SELECT a.vec_id AS ia, b.vec_id AS ib,
                 SQRT((a.x - b.x) * (a.x - b.x)
                      + (a.y - b.y) * (a.y - b.y)) AS d
          FROM cells a JOIN cells b
            ON b.cx = a.cx + ({dx}) AND b.cy = a.cy + ({dy})
           AND a.vec_id <> b.vec_id) off_pairs) off_ranked
      WHERE rkl <= {_LOF_K}{
          '' if i == 0 else f' AND (SELECT COUNT(*) FROM k{i - 1}) >= 0'
      })"""
    for i, (dx, dy) in enumerate(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    )
)
_LOF_RING_UNION = "\n      UNION ALL ".join(
    f"SELECT * FROM k{i}" for i in range(9)
)


@register(
    "local_outlier_factor",
    f"""
    WITH pts AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    cells AS (
      SELECT vec_id, x, y,
             CAST(FLOOR(x / {_DBSCAN_EPS}) AS BIGINT) AS cx,
             CAST(FLOOR(y / {_DBSCAN_EPS}) AS BIGINT) AS cy
      FROM pts),
{_LOF_RING_CTES},
    knl AS (
      {_LOF_RING_UNION}),
    knn AS (
      SELECT ia, ib, d,
             ROW_NUMBER() OVER (PARTITION BY ia
                                ORDER BY ROUND(d + 1.2345e-8, 9), ib)
               AS rk
      FROM knl),
    nbr AS (SELECT ia, ib, d FROM knn WHERE rk <= {_LOF_K}),
    kd AS (SELECT ia, MAX(d) AS kdist,
                  CAST(COUNT(*) AS BIGINT) AS nn
           FROM nbr GROUP BY ia),
    full_pts AS (SELECT * FROM kd WHERE nn = {_LOF_K}),
    reach AS (
      SELECT n.ia, n.ib, GREATEST(kb.kdist, n.d) AS rd
      FROM nbr n JOIN full_pts ka ON ka.ia = n.ia
      JOIN full_pts kb ON kb.ia = n.ib),
    lrd AS (
      SELECT ia, {_LOF_K} / SUM(rd) AS lrd,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM reach GROUP BY ia),
    lof AS (
      SELECT n.ia, AVG(lb.lrd) / MAX(la.lrd) AS lof,
             MAX(la.lrd) AS lrd, CAST(COUNT(*) AS BIGINT) AS m
      FROM nbr n
      JOIN lrd la ON la.ia = n.ia AND la.m = {_LOF_K}
      JOIN lrd lb ON lb.ia = n.ib AND lb.m = {_LOF_K}
      GROUP BY n.ia
      HAVING COUNT(*) = {_LOF_K})
    SELECT ia AS vec_id,
           ROUND(1.2345e-8 + lrd, 4) AS lrd,
           ROUND(1.2345e-8 + lof, 4) AS lof
    FROM lof
    ORDER BY ROUND(1.2345e-8 + lof, 4) DESC, vec_id
    LIMIT 25
    """,
    tags=("curation", "anomaly", "density"),
)
def local_outlier_factor(spark, sf_dir):
    """LOCAL OUTLIER FACTOR (Breunig et al.) — the density-RATIO
    anomaly score that catches points anomalous relative to their
    NEIGHBORHOOD where global z-scores ([[anomaly_mad_zscore]]) see
    nothing: k-NN within the [[dbscan_core_points]] eps-grid (k=5),
    k-distance, reachability rd(a,b) = max(kdist(b), d(a,b)), local
    reachability density lrd = k/sum(rd), LOF = mean(lrd of
    neighbors)/lrd(self) — ~1 inlier, >>1 outlier. Top-25 by rounded
    score with id tiebreaks. Grid-bounded form: neighbors come from
    the 3x3 cell ring (exact whenever kdist < eps — the standard
    blocked-LOF contract, stated rather than hidden; points whose
    ring can't fill k neighbors drop at each stage on BOTH engines
    via the count guards).

    Plan: the candidate join is the dbscan cell equi-join, SALTED
    (b by hash(id) % 16, probes replicated) with user-pinned
    repartitions so neither the occupied-cell count nor AQE byte
    coalescing caps the width of the ring walk at density; k-NN is a
    TWO-PHASE rank — local top-k per (cell, salt) inside the join
    stage (no exchange: the join output partitioning already clusters
    it), then the global rank over <= 9*16*k survivors per point; the
    lrd and LOF stages are two more joins on point keys carrying 3
    doubles/row. No all-pairs anywhere — THE scalable LOF shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    cells = pts.select(
        "vec_id", "x", "y",
        F.floor(F.col("x") / _DBSCAN_EPS).alias("cx"),
        F.floor(F.col("y") / _DBSCAN_EPS).alias("cy"),
    )
    # 9-offset fan-out -> EQUI-join on cell keys (dbscan_core_counts'
    # idiom): the |a.cx-b.cx|<=1 AND |a.cy-b.cy|<=1 ring expressed as
    # equality against (cx+dx, cy+dy) so Catalyst plans a hash join
    # partitioned by cell instead of a BroadcastNestedLoopJoin that
    # evaluates the theta predicate against every pair (O(N^2) — a
    # measured 504 s single-stage straggler at the x8 parity tier,
    # seconds as an equi-join). Identical candidate set: each b-cell
    # matches exactly one offset, so no duplicates and no drops.
    #
    # The cell key alone is a PARALLELISM CEILING at density: the x32
    # parity tier packs ~64k points into 84 occupied cells (~1.2e9 ring
    # pairs), AQE byte-coalesces the 84-key join to 4 tasks, and one
    # dense cell becomes a 20+-minute straggler (the seventh measured
    # instance of the CPU-work-vs-byte-size rule). Standard salted-join
    # idiom via salted_pair_join: b salted by hash(vec_id) % {_LOF_SALT},
    # probes replicated across salts, explicit user-specified
    # repartitions on both sides so neither AQE nor the 84-key domain
    # caps the width. Identical candidate set — each b row matches
    # exactly one (offset, salt). width_factor=4 keeps the ring join 4x
    # wider than the session baseline (the eps-cells are known-dense),
    # derived from the session instead of a hard-coded 128 so a larger
    # cluster widens it automatically (ADVICE r10).
    from dask_image_spark.functions.localrel import values_df

    offs = values_df(
        spark, "dx, dy",
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
    )
    probes = cells.crossJoin(F.broadcast(offs)).select(
        F.col("vec_id").alias("ia"),
        F.col("x").alias("ax"), F.col("y").alias("ay"),
        (F.col("cx") + F.col("dx")).alias("px"),
        (F.col("cy") + F.col("dy")).alias("py"),
    )
    bside = cells.select(
        F.col("cx").alias("px"), F.col("cy").alias("py"),
        F.col("vec_id").alias("ib"),
        F.col("x").alias("bx"), F.col("y").alias("by"),
    )
    cand = (
        salted_pair_join(
            probes, bside, ["px", "py"], F.hash("ib"),
            n_salt=_LOF_SALT, width_factor=4,
        )
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "px", "py", F.col("_salt").alias("salt"), "ia", "ib",
            F.sqrt(
                (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                + (F.col("ay") - F.col("by"))
                * (F.col("ay") - F.col("by"))
            ).alias("d"),
        )
    )
    # two-phase top-k: local top-k per (cell, salt, ia) FIRST — the join
    # output is already hash-partitioned by (px, py, salt), a subset of
    # the local window's keys, so this phase is a sort within the join
    # stage with NO exchange — then the global rank sees <= 9*SALT*k
    # rows per point instead of the full ring candidate set (~26x less
    # shuffle at the x32 tier). Each (ia, ib) pair exists exactly once
    # and the order (rounded d, ib) is total, so local-then-global
    # top-k equals global top-k exactly; the oracle mirrors the same
    # two phases per source cell.
    w_local = Window.partitionBy("px", "py", "salt", "ia").orderBy(
        F.round(F.col("d") + F.lit(1.2345e-8), 9), "ib"
    )
    cand_local = (
        cand.withColumn("rkl", F.row_number().over(w_local))
        .filter(F.col("rkl") <= _LOF_K)
        .select("ia", "ib", "d")
    )
    wk = Window.partitionBy("ia").orderBy(
        F.round(F.col("d") + F.lit(1.2345e-8), 9), "ib"
    )
    # persist the kNN frame (N*k rows, 3 doubles): kd, reach and lof all
    # consume it, and without the persist each reference re-expands the
    # ring join + distance window (measured 93 s -> ~35 s engine-side at
    # the x16 parity tier)
    nbr = persist_tracked(
        cand_local.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _LOF_K)
        .select("ia", "ib", "d")
    )
    kd = nbr.groupBy("ia").agg(
        F.max("d").alias("kdist"),
        F.count(F.lit(1)).cast("long").alias("nn"),
    )
    full_pts = kd.filter(F.col("nn") == _LOF_K)
    reach = (
        nbr.join(
            full_pts.select(F.col("ia")), "ia"
        )
        .join(
            full_pts.select(
                F.col("ia").alias("ib"), F.col("kdist").alias("kb")
            ),
            "ib",
        )
        .select(
            "ia", "ib",
            F.greatest(F.col("kb"), F.col("d")).alias("rd"),
        )
    )
    lrd = reach.groupBy("ia").agg(
        (F.lit(float(_LOF_K)) / F.sum("rd")).alias("lrd"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    lof = (
        nbr.join(
            lrd.filter(F.col("m") == _LOF_K).select("ia", "lrd"), "ia"
        )
        .join(
            lrd.filter(F.col("m") == _LOF_K).select(
                F.col("ia").alias("ib"), F.col("lrd").alias("lrd_b")
            ),
            "ib",
        )
        .groupBy("ia")
        .agg(
            (F.avg("lrd_b") / F.max("lrd")).alias("lof"),
            F.max("lrd").alias("lrd"),
            F.count(F.lit(1)).alias("m"),
        )
        .filter(F.col("m") == _LOF_K)
    )
    return (
        lof.select(
            F.col("ia").alias("vec_id"),
            _eps_round("lrd", 4).alias("lrd"),
            _eps_round("lof", 4).alias("lof"),
        )
        .orderBy(F.desc("lof"), "vec_id")
        .limit(25)
    )


@register(
    "ecod_outlier_scores",
    """
    WITH pts AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pts),
    rk AS (
      SELECT vec_id,
             RANK() OVER (ORDER BY x)
               + (COUNT(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
             RANK() OVER (ORDER BY y)
               + (COUNT(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
      FROM pts),
    sc AS (
      SELECT rk.vec_id,
             -LN(LEAST(rk.rx / n.n, 1 - rk.rx / n.n + 1 / n.n))
             - LN(LEAST(rk.ry / n.n, 1 - rk.ry / n.n + 1 / n.n)) AS score
      FROM rk CROSS JOIN n)
    SELECT vec_id, ROUND(1.2345e-8 + score, 4) AS ecod_score
    FROM sc
    ORDER BY ROUND(1.2345e-8 + score, 4) DESC, vec_id
    LIMIT 25
    """,
    tags=("curation", "anomaly", "rank-based"),
)
def ecod_outlier_scores(spark, sf_dir):
    """ECOD OUTLIER SCORES (empirical-CDF outlier detection, Li et al.
    2022) — per dimension, a point's outlyingness is the smaller
    empirical tail probability min(F(x), 1-F(x)+1/n) (fractional
    ranks for ties, the [[spearman_corr]] convention), and the score
    is the summed negative log tail across dimensions: entirely
    parameter-free and rank-based, the modern screening default
    before density methods ([[local_outlier_factor]]) are paid for.
    Top-25 by rounded score, id tiebreak.

    Plan: one window rank per dimension (both over the same global
    sort domain, independent sorts), then map arithmetic — no joins,
    no pairs, no k-NN: the whole point of ECOD at scale; at 100 TB
    the ranks become one GK-sketch pass per dimension."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    n = pts.agg(F.count(F.lit(1)).cast("double").alias("n"))
    rx = F.rank().over(Window.orderBy("x")) + (
        F.count(F.lit(1)).over(Window.partitionBy("x")) - 1
    ) / 2.0
    ry = F.rank().over(Window.orderBy("y")) + (
        F.count(F.lit(1)).over(Window.partitionBy("y")) - 1
    ) / 2.0
    rk = pts.select("vec_id", rx.alias("rx"), ry.alias("ry"))
    sc = rk.crossJoin(F.broadcast(n)).select(
        "vec_id",
        (
            -F.log(
                F.least(
                    F.col("rx") / F.col("n"),
                    1 - F.col("rx") / F.col("n") + 1 / F.col("n"),
                )
            )
            - F.log(
                F.least(
                    F.col("ry") / F.col("n"),
                    1 - F.col("ry") / F.col("n") + 1 / F.col("n"),
                )
            )
        ).alias("score"),
    )
    return (
        sc.select(
            "vec_id", _eps_round("score", 4).alias("ecod_score")
        )
        .orderBy(F.desc("ecod_score"), "vec_id")
        .limit(25)
    )


@register(
    "mahalanobis_outlier_2d",
    """
    WITH pts AS (
      SELECT vec_id,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y
      FROM embeddings),
    mo AS (
      SELECT AVG(x) AS mx, AVG(y) AS my,
             VAR_POP(x) AS a, COVAR_POP(x, y) AS b, VAR_POP(y) AS c
      FROM pts),
    d AS (
      SELECT p.vec_id,
             (mo.c * (p.x - mo.mx) * (p.x - mo.mx)
              - 2 * mo.b * (p.x - mo.mx) * (p.y - mo.my)
              + mo.a * (p.y - mo.my) * (p.y - mo.my))
             / (mo.a * mo.c - mo.b * mo.b) AS d2
      FROM pts p CROSS JOIN mo)
    SELECT vec_id, ROUND(1.2345e-8 + SQRT(d2), 4) AS mahalanobis
    FROM d
    ORDER BY ROUND(1.2345e-8 + SQRT(d2), 4) DESC, vec_id
    LIMIT 25
    """,
    tags=("curation", "anomaly", "parametric"),
)
def mahalanobis_outlier_2d(spark, sf_dir):
    """MAHALANOBIS DISTANCE outliers — the parametric (elliptical)
    anomaly score: d^2 = (p - mu)^T Sigma^-1 (p - mu) with the 2x2
    covariance inverted in closed form (adj/det — the
    [[pca_2d_closed_form]] algebra put to work), top-25 by distance.
    Completes the anomaly triptych: parametric ellipse (this),
    rank tails ([[ecod_outlier_scores]]), local density
    ([[local_outlier_factor]]) — three assumptions, three shapes of
    miss.

    Plan: ONE partial-agg scan for the five moments, broadcast back,
    map arithmetic, TakeOrderedAndProject top-25. Two scans, no
    pairs; d > 2 generalizes with a driver-side matrix inverse and a
    dot-product fan-out."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    mo = pts.agg(
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.var_pop("x").alias("a"),
        F.covar_pop("x", "y").alias("b"),
        F.var_pop("y").alias("c"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    det = F.col("a") * F.col("c") - F.col("b") * F.col("b")
    d2 = (
        F.col("c") * dx * dx - 2 * F.col("b") * dx * dy + F.col("a") * dy * dy
    ) / det
    return (
        pts.crossJoin(F.broadcast(mo))
        .select(
            "vec_id", _eps_round(F.sqrt(d2), 4).alias("mahalanobis")
        )
        .orderBy(F.desc("mahalanobis"), "vec_id")
        .limit(25)
    )


# mSPRT mixing variance (tau^2): the prior width over the effect size.
_MSPRT_TAU2 = 25.0
_MSPRT_MU0 = 50.0


@register(
    "msprt_always_valid_p",
    f"""
    WITH s AS (
      SELECT event_type, ts, event_id, value AS v FROM events),
    sig AS (
      SELECT event_type, VAR_POP(v) AS s2 FROM s GROUP BY event_type),
    c AS (
      SELECT s.event_type, s.ts, s.event_id, sig.s2,
             SUM(s.v - {_MSPRT_MU0}) OVER w AS st,
             ROW_NUMBER() OVER w AS t
      FROM s JOIN sig ON sig.event_type = s.event_type
      WINDOW w AS (PARTITION BY s.event_type ORDER BY s.ts, s.event_id
                   ROWS UNBOUNDED PRECEDING)),
    lam AS (
      SELECT event_type, t,
             0.5 * LN(2 * {_MSPRT_TAU2}
                      / (2 * {_MSPRT_TAU2} + t * s2))
             + st * st * {_MSPRT_TAU2}
               / (2 * s2 * (2 * {_MSPRT_TAU2} + t * s2)) AS log_lam
      FROM c),
    run AS (
      SELECT event_type, t, log_lam,
             MAX(log_lam) OVER (PARTITION BY event_type ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS best
      FROM lam),
    fin AS (
      SELECT event_type, MAX(t) AS n,
             MAX(best) AS best_log_lam,
             MIN(CASE WHEN best > LN(20.0) THEN t END) AS first_reject_t
      FROM run GROUP BY event_type)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(1.2345e-8 + LEAST(1.0, EXP(-best_log_lam)), 6)
             AS always_valid_p,
           CAST(first_reject_t AS BIGINT) AS first_reject_t
    FROM fin ORDER BY event_type
    """,
    tags=("curation", "statistics", "sequential-testing"),
)
def msprt_always_valid_p(spark, sf_dir):
    """MIXTURE SPRT / ALWAYS-VALID p-VALUES (Johari et al. — the
    'peeking problem' machinery production A/B platforms ship):
    testing mean = mu0 with a normal mixture prior tau^2 over the
    effect, the mixture likelihood ratio has the closed form
    Lambda_t = sqrt(2tau^2/(2tau^2 + t sigma^2)) * exp(S_t^2 tau^2 /
    (2 sigma^2 (2tau^2 + t sigma^2))) — a pure function of the
    running sum, so the whole always-valid process is ONE cumsum +
    map arithmetic + a running max; p_t = min(1, 1/max Lambda).
    Emits each series' final always-valid p and the first time it
    dropped below 1/20 — the continuous-monitoring complement of the
    binary-outcome [[sprt_decision]] (whose fixed simple-vs-simple
    LLR this mixture generalizes).

    Plan: per-series variance broadcast, one window cumsum + one
    running max over the same (series, ts) sort (one Sort total),
    then a per-series rollup. Exactly the [[sprt_decision]] shape —
    sequential statistics without sequential execution."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select("event_type", "ts", "event_id", F.col("value").alias("v"))
    sig = s.groupBy("event_type").agg(F.var_pop("v").alias("s2"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    c = s.join(F.broadcast(sig), "event_type").select(
        "event_type",
        "s2",
        F.sum(F.col("v") - _MSPRT_MU0)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("st"),
        F.row_number().over(w).alias("t"),
    )
    denom = 2 * _MSPRT_TAU2 + F.col("t") * F.col("s2")
    lam = c.select(
        "event_type", "t",
        (
            0.5 * F.log(2 * _MSPRT_TAU2 / denom)
            + F.col("st") * F.col("st") * _MSPRT_TAU2
            / (2 * F.col("s2") * denom)
        ).alias("log_lam"),
    )
    run = lam.withColumn(
        "best",
        F.max("log_lam").over(
            Window.partitionBy("event_type")
            .orderBy("t")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    fin = run.groupBy("event_type").agg(
        F.max("t").alias("n"),
        F.max("best").alias("best_log_lam"),
        F.min(
            F.when(F.col("best") > math.log(20.0), F.col("t"))
        ).alias("first_reject_t"),
    )
    return fin.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        _eps_round(
            F.least(F.lit(1.0), F.exp(-F.col("best_log_lam"))), 6
        ).alias("always_valid_p"),
        F.col("first_reject_t").cast("long").alias("first_reject_t"),
    ).orderBy("event_type")


@register(
    "eb_shrunk_ctr",
    """
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CASE WHEN event_type IN ('click', 'purchase')
                           THEN 1 ELSE 0 END) AS DOUBLE) AS k
      FROM events GROUP BY user_id),
    r AS (SELECT user_id, n, k, k / n AS raw FROM u),
    mom AS (
      SELECT AVG(raw) AS m, VAR_POP(raw) AS v, AVG(n) AS nbar FROM r),
    prior AS (
      SELECT m, v,
             CASE WHEN v > m * (1 - m) / nbar
               THEN m * (m * (1 - m) / (v - m * (1 - m) / nbar) - 1)
               ELSE m * 50.0 END AS alpha,
             CASE WHEN v > m * (1 - m) / nbar
               THEN (1 - m) * (m * (1 - m) / (v - m * (1 - m) / nbar) - 1)
               ELSE (1 - m) * 50.0 END AS beta
      FROM mom)
    SELECT r.user_id, CAST(r.n AS BIGINT) AS n,
           ROUND(1.2345e-8 + r.raw, 4) AS raw_rate,
           ROUND(1.2345e-8 +
             (p.alpha + r.k) / (p.alpha + p.beta + r.n), 4)
             AS shrunk_rate,
           ROUND(1.2345e-8 + p.alpha, 4) AS prior_alpha,
           ROUND(1.2345e-8 + p.beta, 4) AS prior_beta
    FROM r CROSS JOIN prior p
    ORDER BY r.user_id
    """,
    tags=("curation", "statistics", "empirical-bayes"),
)
def eb_shrunk_ctr(spark, sf_dir):
    """EMPIRICAL-BAYES SHRINKAGE of per-user conversion rates — fit a
    Beta(alpha, beta) prior to the population of raw rates by the
    method of moments (the moment-matched overdispersion estimate,
    with a wide fallback prior when the between-user variance doesn't
    exceed sampling noise), then report each user's posterior mean
    (alpha + k)/(alpha + beta + n): small-n users shrink hard toward
    the population rate, high-n users keep their data — the fix for
    every 'user with 1 event has 100% CTR' ranking artifact that
    [[wilson_ctr_rank]] bounds and this one smooths. The same
    machinery behind [[target_encode_loo]]'s regularization,
    surfaced as the explicit Bayesian estimator.

    Plan: per-user partial agg, 1-row moment frame, broadcast prior
    back — two scans of user-level data, nothing quadratic."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(
            F.when(F.col("event_type").isin("click", "purchase"), 1)
            .otherwise(0)
        ).cast("double").alias("k"),
    )
    r = u.withColumn("raw", F.col("k") / F.col("n"))
    mom = r.agg(
        F.avg("raw").alias("m"),
        F.var_pop("raw").alias("v"),
        F.avg("n").alias("nbar"),
    )
    excess = F.col("v") - F.col("m") * (1 - F.col("m")) / F.col("nbar")
    strength = F.col("m") * (1 - F.col("m")) / excess - 1
    prior = mom.select(
        F.when(
            F.col("v") > F.col("m") * (1 - F.col("m")) / F.col("nbar"),
            F.col("m") * strength,
        ).otherwise(F.col("m") * 50.0).alias("alpha"),
        F.when(
            F.col("v") > F.col("m") * (1 - F.col("m")) / F.col("nbar"),
            (1 - F.col("m")) * strength,
        ).otherwise((1 - F.col("m")) * 50.0).alias("beta"),
    )
    return (
        r.crossJoin(F.broadcast(prior))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n"),
            _eps_round("raw", 4).alias("raw_rate"),
            _eps_round(
                (F.col("alpha") + F.col("k"))
                / (F.col("alpha") + F.col("beta") + F.col("n")),
                4,
            ).alias("shrunk_rate"),
            _eps_round("alpha", 4).alias("prior_alpha"),
            _eps_round("beta", 4).alias("prior_beta"),
        )
        .orderBy("user_id")
    )


# Facility-location RBF bandwidth (similarity = exp(-d^2 / 2 sigma^2)).
_FL_SIGMA2 = 0.02
_FL_ROUNDS = 5


def _fl_oracle() -> str:
    """Greedy facility-location selection, 5 rounds unrolled as
    MATERIALIZED CTEs (the [[seam_carving_dp]] discipline): each round
    picks the candidate maximizing the coverage gain given the running
    per-point best similarity."""
    ctes = [
        """pts AS MATERIALIZED (
          SELECT vec_id,
                 CAST(embedding[1] AS DOUBLE) AS x,
                 CAST(embedding[2] AS DOUBLE) AS y
          FROM embeddings)""",
        # No sim CTE at all, deliberately — the inverse of the
        # lsh_band_sweep oracle fix: there each CTE reference re-ran an
        # expensive pipeline with a SMALL result, so materializing once
        # won; here the kernel is N^2 rows derived from an N-row input
        # (~100 GB at the x32 parity tier — materializing it is what
        # ENOSPCed this oracle), while recomputing it per round is a
        # cheap streaming scan. Each gain round instead fuses the
        # running best INTO the N-row point side BEFORE the cross
        # product (the SQL mirror of the engine's broadcast-best join),
        # so nothing quadratic is ever hashed or buffered. Rule:
        # materialize small-result/expensive CTEs, inline
        # large-result/cheap-per-row ones.
        """best0 AS MATERIALIZED (
          SELECT vec_id AS pt, 0.0 AS best FROM pts)""",
    ]
    kern = (
        "EXP(-((a.x - bb.x) * (a.x - bb.x)"
        f" + (a.y - bb.y) * (a.y - bb.y)) / (2 * {_FL_SIGMA2}))"
    )
    prev_sel = None
    for r in range(1, _FL_ROUNDS + 1):
        not_prev = (
            f"WHERE a.vec_id NOT IN (SELECT cand FROM sel{r - 1})"
            if prev_sel
            else ""
        )
        ctes.append(
            f"""gain{r} AS MATERIALIZED (
              SELECT a.vec_id AS cand,
                     SUM(GREATEST({kern} - bb.best, 0.0)) AS gain
              FROM pts a JOIN (
                SELECT p.vec_id, p.x, p.y, b.best
                FROM pts p JOIN best{r - 1} b ON b.pt = p.vec_id) bb
                ON 1 = 1
              {not_prev}
              GROUP BY a.vec_id)"""
        )
        ctes.append(
            f"""pick{r} AS MATERIALIZED (
              SELECT cand, gain FROM gain{r}
              ORDER BY ROUND(gain + 1.2345e-8, 9) DESC, cand LIMIT 1)"""
        )
        ctes.append(
            f"""sel{r} AS MATERIALIZED (
              SELECT cand FROM pick{r}"""
            + (f" UNION ALL SELECT cand FROM sel{r - 1})" if prev_sel else ")")
        )
        ctes.append(
            f"""best{r} AS MATERIALIZED (
              SELECT b.pt,
                     GREATEST(b.best, COALESCE(s2.s, 0.0)) AS best
              FROM best{r - 1} b LEFT JOIN (
                SELECT p.vec_id AS pt,
                       EXP(-((c.x - p.x) * (c.x - p.x)
                             + (c.y - p.y) * (c.y - p.y))
                           / (2 * {_FL_SIGMA2})) AS s
                FROM pts p JOIN (
                  SELECT p2.x, p2.y FROM pts p2
                  JOIN pick{r} k ON k.cand = p2.vec_id) c ON 1 = 1) s2
                ON s2.pt = b.pt)"""
        )
        prev_sel = True
    picks = " UNION ALL ".join(
        f"SELECT {r} AS round, cand, ROUND(1.2345e-8 + gain, 4) AS gain "
        f"FROM pick{r}"
        for r in range(1, _FL_ROUNDS + 1)
    )
    return (
        "WITH " + ", ".join(ctes) + " SELECT round, cand AS vec_id, gain "
        f"FROM ({picks}) ORDER BY round"
    )


@register(
    "facility_location_greedy",
    _fl_oracle(),
    tags=("curation", "subset-selection", "submodular"),
)
def facility_location_greedy(spark, sf_dir):
    """GREEDY FACILITY-LOCATION SELECTION — pick 5 exemplars maximizing
    sum over points of max-similarity-to-selected (RBF kernel on the
    2-D embedding projection): the submodular coverage objective
    behind representative-subset data pruning, where the greedy
    algorithm carries the (1 - 1/e) guarantee. Each round is ONE
    marginal-gain aggregate given the running per-point best
    similarity — the argmax uses 1e-9-rounded gains with candidate-id
    tiebreaks ([[adaboost_2stumps]] rule), and the oracle unrolls the
    5 rounds as MATERIALIZED CTEs. [[mmr_rerank_top3]] trades
    relevance vs redundancy on a candidate list; THIS selects for
    corpus-wide coverage.

    Plan: the kernel matrix is the one quadratic object — bounded
    here, and at 100 TB it sparsifies through exactly the
    [[dbscan_core_points]] grid (RBF is negligible past a few sigma,
    so gains only need near-cell pairs); each round is then a
    key-partitioned join + partial agg, with the 1-row pick
    broadcast into the next round's best-similarity update."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
    )
    # The kernel matrix is CPU-work-vs-byte-size case #5: pts scans as
    # ONE partition (single flat parquet file), so the cross join's
    # BroadcastNestedLoopJoin streams all N^2 exp() rows through a
    # single task (measured 463 s engine-side at the x8 parity tier).
    # An explicit user repartition on the streamed side spreads the
    # kernel across the full shuffle width (AQE leaves user-specified
    # exchanges alone); same rows, same values.
    width = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    a, b = pts.repartition(width).alias("a"), pts.alias("b")
    # NOT persisted, deliberately: the kernel is N^2 rows derived from an
    # N-row input — persisting it materializes quadratic BYTES (~100 GB
    # at the x32 parity tier, the measured ENOSPC) to save linear-input
    # recompute that whole-stage codegen streams in seconds. Each round
    # re-streams the kernel map-side instead (the per-round pick filter
    # pushes cand == pick down to a 1 x N slice, so only the gain
    # aggregate pays the full stream). Same rule as the oracle's NOT
    # MATERIALIZED sim.
    sim = a.crossJoin(b).select(
        F.col("a.vec_id").alias("cand"),
        F.col("b.vec_id").alias("pt"),
        F.exp(
            -(
                (F.col("a.x") - F.col("b.x"))
                * (F.col("a.x") - F.col("b.x"))
                + (F.col("a.y") - F.col("b.y"))
                * (F.col("a.y") - F.col("b.y"))
            )
            / (2 * _FL_SIGMA2)
        ).alias("s"),
    )
    best = pts.select(F.col("vec_id").alias("pt"), F.lit(0.0).alias("best"))
    chosen: list = []
    rows = []
    for r in range(1, _FL_ROUNDS + 1):
        # broadcast best (N rows of (pt, best) — linear, tiny) so the
        # N^2 kernel is consumed MAP-SIDE: without the hint Catalyst has
        # no stats for the joined best lineage, falls back to a
        # sort-merge join on pt, and SHUFFLES the whole kernel (~100 GB
        # at the x32 parity tier — the measured ENOSPC). With it, each
        # round is stream-kernel -> broadcast-hash-lookup -> partial agg
        # per cand; the only exchange is the per-candidate partials.
        g = sim.join(F.broadcast(best), "pt")
        if chosen:
            g = g.filter(~F.col("cand").isin(chosen))
        pick = (
            g.groupBy("cand")
            .agg(
                F.sum(
                    F.greatest(F.col("s") - F.col("best"), F.lit(0.0))
                ).alias("gain")
            )
            .orderBy(
                F.round(F.col("gain") + F.lit(1.2345e-8), 9).desc(), "cand"
            )
            .limit(1)
            .collect()[0]
        )
        chosen.append(pick["cand"])
        rows.append((r, pick["cand"], pick["gain"]))
        upd = sim.filter(F.col("cand") == pick["cand"]).select(
            "pt", F.col("s").alias("s_new")
        )
        best = best.join(F.broadcast(upd), "pt", "left").select(
            "pt",
            F.greatest(
                F.col("best"), F.coalesce("s_new", F.lit(0.0))
            ).alias("best"),
        )
    spark_rows = spark.createDataFrame(
        rows, "round int, vec_id long, gain double"
    )
    return spark_rows.select(
        "round", "vec_id", _eps_round("gain", 4).alias("gain")
    ).orderBy("round")


# Sinkhorn entropic regularization (epsilon) for the 5x5 type-transport.
_SK_EPS = 0.5


@register(
    "sinkhorn_2iter",
    f"""
    WITH idx AS (
      SELECT event_type,
             ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS i
      FROM (SELECT DISTINCT event_type FROM events)),
    half AS (
      SELECT e.event_type,
             CASE WHEN e.ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 'a' ELSE 'b' END AS h,
             CAST(COUNT(*) AS DOUBLE) AS c
      FROM events e GROUP BY 1, 2),
    dist AS (
      SELECT i.i, h.h,
             h.c / SUM(h.c) OVER (PARTITION BY h.h) AS p
      FROM half h JOIN idx i ON i.event_type = h.event_type),
    a AS (SELECT i, p FROM dist WHERE h = 'a'),
    b AS (SELECT i, p FROM dist WHERE h = 'b'),
    k AS (
      SELECT a.i AS i, b.i AS j,
             EXP(-ABS(a.i - b.i) / {_SK_EPS}) AS kij
      FROM a CROSS JOIN b),
    v1 AS (
      SELECT b.i AS j, b.p / SUM(k.kij) AS v
      FROM b JOIN k ON k.j = b.i GROUP BY b.i, b.p),
    u1 AS (
      SELECT a.i, a.p / SUM(k.kij * v1.v) AS u
      FROM a JOIN k ON k.i = a.i JOIN v1 ON v1.j = k.j
      GROUP BY a.i, a.p),
    v2 AS (
      SELECT b.i AS j, b.p / SUM(k.kij * u1.u) AS v
      FROM b JOIN k ON k.j = b.i JOIN u1 ON u1.i = k.i
      GROUP BY b.i, b.p),
    u2 AS (
      SELECT a.i, a.p / SUM(k.kij * v2.v) AS u
      FROM a JOIN k ON k.i = a.i JOIN v2 ON v2.j = k.j
      GROUP BY a.i, a.p),
    plan AS (
      SELECT k.i, k.j, u2.u * k.kij * v2.v AS pij
      FROM k JOIN u2 ON u2.i = k.i JOIN v2 ON v2.j = k.j)
    SELECT i, j, ROUND(1.2345e-8 + pij, 6) AS mass,
           ROUND(1.2345e-8 +
             (SELECT SUM(p2.pij * ABS(p2.i - p2.j)) FROM plan p2), 4)
             AS transport_cost
    FROM plan ORDER BY i, j
    """,
    tags=("curation", "optimal-transport"),
)
def sinkhorn_2iter(spark, sf_dir):
    """SINKHORN MATRIX SCALING, two exact iterations — entropic optimal
    transport between the first-half and second-half event-type
    distributions under the |i - j| line cost (epsilon = 0.5):
    alternately scale rows and columns of the Gibbs kernel
    K = exp(-C/eps) to match the marginals (v = b / K^T u,
    u = a / K v), emit the resulting transport plan and its cost.
    The entropic generalization of [[emd_source_drift]]'s exact 1-D
    EMD — and at two iterations, SQL-replayable like every iterative
    op here ([[gmm_em_1step]] convention). The marginals derive from
    the same mid-month split as [[diff_in_diff]].

    Plan: everything after the two count aggregates is k x k = 25-cell
    arithmetic — alternate scaling is two tiny join-aggregates per
    iteration. At scale the cost matrix stays distribution-sized
    (k x k), never data-sized: Sinkhorn's entire appeal."""
    ev = load_table(spark, sf_dir, "events")
    idx = (
        ev.select("event_type")
        .distinct()
        .select(
            "event_type",
            (
                F.row_number().over(Window.orderBy("event_type")) - 1
            ).alias("i"),
        )
    )
    half = ev.groupBy(
        "event_type",
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp"),
            "a",
        ).otherwise("b").alias("h"),
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    dist = half.join(F.broadcast(idx), "event_type").select(
        "i", "h",
        (
            F.col("c") / F.sum("c").over(Window.partitionBy("h"))
        ).alias("p"),
    )
    a = dist.filter(F.col("h") == "a").select("i", "p")
    b = dist.filter(F.col("h") == "b").select(
        F.col("i").alias("j"), "p"
    )
    k = (
        a.select(F.col("i"))
        .crossJoin(b.select("j"))
        .select(
            "i", "j",
            F.exp(-F.abs(F.col("i") - F.col("j")) / _SK_EPS).alias("kij"),
        )
    )

    def col_scale(km, u_df):
        return (
            b.join(km, "j")
            .join(u_df, "i")
            .groupBy("j", "p")
            .agg(F.sum(F.col("kij") * F.col("u")).alias("s"))
            .select("j", (F.col("p") / F.col("s")).alias("v"))
        )

    def row_scale(km, v_df):
        return (
            a.join(km, "i")
            .join(v_df, "j")
            .groupBy("i", "p")
            .agg(F.sum(F.col("kij") * F.col("v")).alias("s"))
            .select("i", (F.col("p") / F.col("s")).alias("u"))
        )

    u0 = a.select("i", F.lit(1.0).alias("u"))
    v1 = col_scale(k, u0)
    u1 = row_scale(k, v1)
    v2 = col_scale(k, u1)
    u2 = row_scale(k, v2)
    plan = (
        k.join(u2, "i")
        .join(v2, "j")
        .select(
            "i", "j",
            (F.col("u") * F.col("kij") * F.col("v")).alias("pij"),
        )
    )
    cost = plan.agg(
        F.sum(F.col("pij") * F.abs(F.col("i") - F.col("j"))).alias("tc")
    )
    return (
        plan.crossJoin(F.broadcast(cost))
        .select(
            "i", "j",
            _eps_round("pij", 6).alias("mass"),
            _eps_round("tc", 4).alias("transport_cost"),
        )
        .orderBy("i", "j")
    )


@register(
    "map_mean_avg_precision",
    """
    WITH q AS (
      SELECT vec_id AS qid, label AS qlab,
             CAST(embedding[1] AS DOUBLE) AS qx,
             CAST(embedding[2] AS DOUBLE) AS qy,
             CAST(embedding[3] AS DOUBLE) AS qz
      FROM embeddings WHERE vec_id % 50 = 0),
    c AS (
      SELECT vec_id, label,
             CAST(embedding[1] AS DOUBLE) AS x,
             CAST(embedding[2] AS DOUBLE) AS y,
             CAST(embedding[3] AS DOUBLE) AS z
      FROM embeddings),
    scored AS (
      SELECT q.qid, q.qlab, c.vec_id, c.label,
             q.qx * c.x + q.qy * c.y + q.qz * c.z AS s
      FROM q JOIN c ON c.vec_id <> q.qid),
    rk AS (
      SELECT qid, qlab, label, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY ROUND(s + 1.2345e-8, 9) DESC, vec_id) AS r
      FROM scored),
    top AS (SELECT * FROM rk WHERE r <= 20),
    hits AS (
      SELECT qid, r,
             SUM(CASE WHEN label = qlab THEN 1 ELSE 0 END)
               OVER (PARTITION BY qid ORDER BY r
                     ROWS UNBOUNDED PRECEDING) AS cum_rel,
             CASE WHEN label = qlab THEN 1 ELSE 0 END AS rel
      FROM top),
    ap AS (
      SELECT qid,
             CASE WHEN SUM(rel) > 0
               THEN SUM(CASE WHEN rel = 1
                        THEN CAST(cum_rel AS DOUBLE) / r ELSE 0 END)
                    / SUM(rel)
               ELSE 0.0 END AS ap,
             CAST(SUM(rel) AS BIGINT) AS n_rel
      FROM hits GROUP BY qid)
    SELECT qid, n_rel,
           ROUND(1.2345e-8 + ap, 4) AS avg_precision,
           ROUND(1.2345e-8 + (SELECT AVG(ap) FROM ap), 4) AS map
    FROM ap ORDER BY qid
    """,
    tags=("curation", "evaluation", "retrieval"),
)
def map_mean_avg_precision(spark, sf_dir):
    """MEAN AVERAGE PRECISION @20 — the remaining standard retrieval
    metric beside [[ndcg_at_10]] (graded positions), [[retrieval_mrr_hit]]
    (first hit), and [[pr_auc_average_precision]] (classification AP):
    deterministic query set (every 50th vector), candidates ranked by
    3-dim dot product with 1e-9-rounded score + id tiebreaks, AP =
    mean of precision at each relevant rank (same-label = relevant),
    MAP the query mean. The per-query AP column keeps the
    distribution visible, not just the mean.

    Plan: query set broadcasts against the corpus (the brute-force
    scoring baseline every ANN variant here is measured against);
    per-query ranking is a bounded window; AP is one running-sum
    window plus a per-query agg. At 100 TB the scoring join is the
    [[similarity_ivf_topk]] candidate-pruned form instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", "label",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"),
        F.col("embedding").getItem(2).cast("double").alias("z"),
    )
    q = base.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlab"),
        F.col("x").alias("qx"), F.col("y").alias("qy"),
        F.col("z").alias("qz"),
    )
    scored = base.join(
        F.broadcast(q), F.col("vec_id") != F.col("qid")
    ).select(
        "qid", "qlab", "vec_id", "label",
        (
            F.col("qx") * F.col("x")
            + F.col("qy") * F.col("y")
            + F.col("qz") * F.col("z")
        ).alias("s"),
    )
    wr = Window.partitionBy("qid").orderBy(
        F.round(F.col("s") + F.lit(1.2345e-8), 9).desc(), "vec_id"
    )
    top = scored.withColumn("r", F.row_number().over(wr)).filter(
        F.col("r") <= 20
    )
    rel = F.when(F.col("label") == F.col("qlab"), 1).otherwise(0)
    wc = Window.partitionBy("qid").orderBy("r").rowsBetween(
        Window.unboundedPreceding, 0
    )
    hits = top.select(
        "qid", "r", rel.alias("rel"),
        F.sum(rel).over(wc).alias("cum_rel"),
    )
    ap = hits.groupBy("qid").agg(
        F.when(
            F.sum("rel") > 0,
            F.sum(
                F.when(
                    F.col("rel") == 1,
                    F.col("cum_rel").cast("double") / F.col("r"),
                ).otherwise(0.0)
            )
            / F.sum("rel"),
        ).otherwise(0.0).alias("ap"),
        F.sum("rel").cast("long").alias("n_rel"),
    )
    m = ap.agg(F.avg("ap").alias("map"))
    return (
        ap.crossJoin(F.broadcast(m))
        .select(
            "qid", "n_rel",
            _eps_round("ap", 4).alias("avg_precision"),
            _eps_round("map", 4).alias("map"),
        )
        .orderBy("qid")
    )


@register(
    "cochran_armitage_trend",
    """
    WITH g AS (
      SELECT LEAST(CAST(FLOOR(value / 20) AS INT), 4) AS dose,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1.0 ELSE 0.0 END AS y
      FROM events),
    cells AS (
      SELECT dose, CAST(COUNT(*) AS DOUBLE) AS n, SUM(y) AS r
      FROM g GROUP BY dose),
    tot AS (
      SELECT SUM(n) AS nn, SUM(r) AS rr,
             SUM(n * dose) / SUM(n) AS tbar
      FROM cells),
    parts AS (
      SELECT SUM(c.r * (c.dose - t.tbar)) AS num,
             MAX(t.rr / t.nn) AS p,
             SUM(c.n * (c.dose - t.tbar) * (c.dose - t.tbar)) AS den_t,
             MAX(t.nn) AS nn, MAX(t.rr) AS rr
      FROM cells c CROSS JOIN tot t)
    SELECT CAST(nn AS BIGINT) AS n,
           ROUND(1.2345e-8 + num, 4) AS trend_num,
           ROUND(1.2345e-8 +
             num / SQRT(p * (1 - p) * den_t), 4) AS z_trend
    FROM parts
    """,
    tags=("curation", "statistics", "trend-test"),
)
def cochran_armitage_trend(spark, sf_dir):
    """COCHRAN-ARMITAGE TREND TEST — is the conversion PROPORTION
    monotone in the ordered dose (value quintile buckets)? z =
    sum r_i (t_i - tbar) / sqrt(p(1-p) sum n_i (t_i - tbar)^2), the
    1-df ordered alternative that beats the omnibus
    [[chisq_independence]] whenever the effect is a trend — the
    dose-response test epidemiology and funnel analysis share.

    Plan: ONE 5-cell partial agg + scalar arithmetic. Single scan."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.select(
        F.least(F.floor(F.col("value") / 20).cast("int"), F.lit(4)).alias(
            "dose"
        ),
        F.when(F.col("event_type").isin("click", "purchase"), 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    cells = g.groupBy("dose").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").alias("r"),
    )
    tot = cells.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        (F.sum(F.col("n") * F.col("dose")) / F.sum("n")).alias("tbar"),
    )
    parts = cells.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("r") * (F.col("dose") - F.col("tbar"))).alias("num"),
        F.max(F.col("rr") / F.col("nn")).alias("p"),
        F.sum(
            F.col("n")
            * (F.col("dose") - F.col("tbar"))
            * (F.col("dose") - F.col("tbar"))
        ).alias("den_t"),
        F.max("nn").alias("nn"),
    )
    return parts.select(
        F.col("nn").cast("long").alias("n"),
        _eps_round("num", 4).alias("trend_num"),
        _eps_round(
            F.col("num")
            / F.sqrt(
                F.col("p") * (1 - F.col("p")) * F.col("den_t")
            ),
            4,
        ).alias("z_trend"),
    )


@register(
    "friedman_test",
    """
    WITH cell AS (
      SELECT date_trunc('day', ts) AS blk, event_type,
             AVG(value) AS v
      FROM events GROUP BY 1, 2),
    full_blocks AS (
      SELECT blk FROM cell GROUP BY blk
      HAVING COUNT(*) = (SELECT COUNT(DISTINCT event_type) FROM events)),
    rk AS (
      SELECT c.blk, c.event_type,
             RANK() OVER (PARTITION BY c.blk ORDER BY c.v)
               + (COUNT(*) OVER (PARTITION BY c.blk, c.v) - 1) / 2.0
               AS r
      FROM cell c JOIN full_blocks fb ON fb.blk = c.blk),
    sums AS (
      SELECT event_type, SUM(r) AS rj,
             CAST(COUNT(*) AS DOUBLE) AS n_blk
      FROM rk GROUP BY event_type),
    stat AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS k, MAX(n_blk) AS n,
             SUM(rj * rj) AS srr
      FROM sums)
    SELECT CAST(k AS BIGINT) AS k_treatments, CAST(n AS BIGINT) AS n_blocks,
           ROUND(1.2345e-8 +
             12.0 / (n * k * (k + 1)) * srr - 3.0 * n * (k + 1), 4)
             AS friedman_chi2
    FROM stat
    """,
    tags=("curation", "statistics", "rank-test"),
)
def friedman_test(spark, sf_dir):
    """FRIEDMAN TEST — the repeated-measures rank ANOVA: within each
    day (block), rank the five event types by their daily mean, and
    test whether the rank sums differ — chi2_F = 12/(nk(k+1)) sum
    R_j^2 - 3n(k+1). The within-block ranking removes day-level
    shifts entirely, which is what [[kruskal_wallis]] (pooled ranks)
    cannot do — the paired-vs-unpaired distinction of
    [[mcnemar_paired_test]], lifted to k treatments. Fractional
    ranks on ties; only complete blocks enter (every treatment
    present).

    Plan: day x type cell agg, per-block window rank (blocks are
    independent partitions), per-treatment rank sums, 1-row
    statistic. One fact scan + block-local sorts."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        F.date_trunc("day", "ts").alias("blk"), "event_type"
    ).agg(F.avg("value").alias("v"))
    k_types = ev.select("event_type").distinct().count()
    full_blocks = (
        cell.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == k_types)
        .select("blk")
    )
    r = F.rank().over(Window.partitionBy("blk").orderBy("v")) + (
        F.count(F.lit(1)).over(Window.partitionBy("blk", "v")) - 1
    ) / 2.0
    rk = cell.join(F.broadcast(full_blocks), "blk").select(
        "blk", "event_type", r.alias("r")
    )
    sums = rk.groupBy("event_type").agg(
        F.sum("r").alias("rj"),
        F.count(F.lit(1)).cast("double").alias("n_blk"),
    )
    stat = sums.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.max("n_blk").alias("n"),
        F.sum(F.col("rj") * F.col("rj")).alias("srr"),
    )
    return stat.select(
        F.col("k").cast("long").alias("k_treatments"),
        F.col("n").cast("long").alias("n_blocks"),
        _eps_round(
            12.0 / (F.col("n") * F.col("k") * (F.col("k") + 1))
            * F.col("srr")
            - 3.0 * F.col("n") * (F.col("k") + 1),
            4,
        ).alias("friedman_chi2"),
    )


@register(
    "psm_att_nearest",
    """
    WITH pts AS (
      SELECT event_id, CAST(user_id % 2 AS INT) AS tr, value AS y,
             1.0 / (1.0 + EXP(-(CAST(hour(ts) AS DOUBLE) - 12.0) / 6.0))
               AS e
      FROM events),
    t AS (SELECT event_id, y, e FROM pts WHERE tr = 1),
    c AS (SELECT event_id, y, e FROM pts WHERE tr = 0),
    cs AS (
      SELECT e, MIN(y) AS y_rep, MIN(event_id) AS cid
      FROM c GROUP BY e),
    uni AS (
      SELECT event_id, y, e, 1 AS is_t, CAST(NULL AS DOUBLE) AS cy FROM t
      UNION ALL
      SELECT cid, y_rep, e, 0, y_rep FROM cs),
    nn AS (
      SELECT event_id, y, e, is_t,
             LAST_VALUE(cy IGNORE NULLS) OVER
               (ORDER BY e, is_t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_cy,
             LAST_VALUE(CASE WHEN is_t = 0 THEN e END IGNORE NULLS) OVER
               (ORDER BY e, is_t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_e,
             FIRST_VALUE(cy IGNORE NULLS) OVER
               (ORDER BY e, is_t, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_cy,
             FIRST_VALUE(CASE WHEN is_t = 0 THEN e END IGNORE NULLS) OVER
               (ORDER BY e, is_t, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS next_e
      FROM uni),
    m AS (
      SELECT event_id, y,
             CASE
               WHEN prev_e IS NULL THEN next_cy
               WHEN next_e IS NULL THEN prev_cy
               WHEN e - prev_e <= next_e - e THEN prev_cy
               ELSE next_cy END AS y_match
      FROM nn WHERE is_t = 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
           ROUND(1.2345e-8 + AVG(y), 4) AS mean_treated,
           ROUND(1.2345e-8 + AVG(y_match), 4) AS mean_matched_control,
           ROUND(1.2345e-8 + AVG(y - y_match), 4) AS att
    FROM m
    """,
    tags=("curation", "statistics", "causal"),
)
def psm_att_nearest(spark, sf_dir):
    """PROPENSITY-SCORE MATCHING ATT — each treated unit matches the
    control with the NEAREST propensity score (with replacement;
    controls sharing a score collapse to one deterministic
    representative first, min-y/min-id, so 'nearest' is well defined
    on both engines), estimating the average treatment effect on the
    treated as mean(y_t - y_matched). The matching estimator that
    completes the causal set: [[causal_ipw_ate]] reweights,
    [[diff_in_diff]] differences, THIS pairs. Nearest-by-score is the
    [[asof_join_nearest]] pattern on the propensity axis: interleave
    both arms in ONE score-ordered sort, carry the last/next control
    outcome with IGNORE NULLS frames, pick the closer side.

    Plan: the propensity here is a pure function of hour-of-day, so
    both arms collapse to <= 24 DISTINCT scores — the nearest-control
    map is a bounded (distinct-treated x distinct-control) rank
    (prefer-smaller-distance, then smaller control score: exactly the
    prev-on-tie rule of the oracle's interleaved-sort formulation),
    broadcast-joined back onto the treated rows. The previous engine
    plan WAS the interleaved sort with IGNORE-NULLS frames — correct,
    but Spark's moving-lower-bound + UNBOUNDED FOLLOWING frame
    re-scans the tail per row (O(n^2) in one unpartitioned 200k-row
    partition: a measured multi-minute straggler at the x4 parity
    tier; DuckDB's incremental frame is fine, so only the engine side
    changes — values identical). With a continuous score at scale,
    quantize to strata first and rank within the stratum ring."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        (F.col("user_id") % 2).cast("int").alias("tr"),
        F.col("value").alias("y"),
        (
            1.0
            / (1.0 + F.exp(-(F.hour("ts").cast("double") - 12.0) / 6.0))
        ).alias("e"),
    )
    t = pts.filter(F.col("tr") == 1).select("event_id", "y", "e")
    cs = (
        pts.filter(F.col("tr") == 0)
        .groupBy("e")
        .agg(F.min("y").alias("y_rep"))
        .select(F.col("e").alias("ec"), "y_rep")
    )
    te = t.select("e").distinct()
    wk = Window.partitionBy("e").orderBy(
        F.abs(F.col("e") - F.col("ec")), "ec"
    )
    mmap = (
        te.crossJoin(F.broadcast(cs))
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") == 1)
        .select("e", F.col("y_rep").alias("y_match"))
    )
    m = t.join(F.broadcast(mmap), "e").select("y", "y_match")
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_treated"),
        _eps_round(F.avg("y"), 4).alias("mean_treated"),
        _eps_round(F.avg("y_match"), 4).alias("mean_matched_control"),
        _eps_round(F.avg(F.col("y") - F.col("y_match")), 4).alias("att"),
    )


@register(
    "qini_uplift_deciles",
    """
    WITH pts AS (
      SELECT event_id, CAST(user_id % 2 AS INT) AS tr,
             CASE WHEN event_type IN ('click', 'purchase')
                  THEN 1.0 ELSE 0.0 END AS y,
             1.0 / (1.0 + EXP(-(value - 50.0) / 25.0)) AS score
      FROM events),
    dec AS (
      SELECT tr, y,
             NTILE(10) OVER (ORDER BY score DESC, event_id) AS decile
      FROM pts),
    g AS (
      SELECT decile,
             SUM(CASE WHEN tr = 1 THEN y ELSE 0 END) AS yt,
             SUM(CASE WHEN tr = 1 THEN 1.0 ELSE 0 END) AS nt,
             SUM(CASE WHEN tr = 0 THEN y ELSE 0 END) AS yc,
             SUM(CASE WHEN tr = 0 THEN 1.0 ELSE 0 END) AS nc
      FROM dec GROUP BY decile),
    c AS (
      SELECT decile,
             SUM(yt) OVER w AS cyt, SUM(nt) OVER w AS cnt_t,
             SUM(yc) OVER w AS cyc, SUM(nc) OVER w AS cnt_c
      FROM g WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING))
    SELECT decile,
           CAST(cnt_t AS BIGINT) AS n_treat, CAST(cnt_c AS BIGINT)
             AS n_ctrl,
           ROUND(1.2345e-8 + cyt - cyc * cnt_t / cnt_c, 4) AS qini,
           ROUND(1.2345e-8 + cyt / cnt_t - cyc / cnt_c, 4)
             AS cum_uplift
    FROM c ORDER BY decile
    """,
    tags=("curation", "evaluation", "uplift"),
)
def qini_uplift_deciles(spark, sf_dir):
    """QINI CURVE / CUMULATIVE UPLIFT by score decile — rank everyone
    by the model score, then per cumulative decile compare treated vs
    control conversions: Qini = Y_t - Y_c * N_t/N_c (incremental
    conversions vs targeting nobody) and the rate-difference uplift.
    THE uplift-model evaluation ([[lift_gain_deciles]] measures
    response; this measures CAUSED response — a model can have great
    lift and zero uplift), over the [[abtest_conversion_z]]
    user-parity arms. NTILE uses the (score DESC, id) deterministic
    order.

    Plan: one global score sort for NTILE (sketch-cut at scale, as
    lift_gain documents), ONE 10-row conditional agg, frame windows
    on the decile table. Sort-bound, single pass."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "event_id",
        (F.col("user_id") % 2).cast("int").alias("tr"),
        F.when(F.col("event_type").isin("click", "purchase"), 1.0)
        .otherwise(0.0)
        .alias("y"),
        (
            1.0 / (1.0 + F.exp(-(F.col("value") - 50.0) / 25.0))
        ).alias("score"),
    )
    dec = pts.select(
        "tr", "y",
        F.ntile(10)
        .over(Window.orderBy(F.desc("score"), "event_id"))
        .alias("decile"),
    )
    g = dec.groupBy("decile").agg(
        F.sum(F.when(F.col("tr") == 1, F.col("y")).otherwise(0.0)).alias("yt"),
        F.sum(F.when(F.col("tr") == 1, 1.0).otherwise(0.0)).alias("nt"),
        F.sum(F.when(F.col("tr") == 0, F.col("y")).otherwise(0.0)).alias("yc"),
        F.sum(F.when(F.col("tr") == 0, 1.0).otherwise(0.0)).alias("nc"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "decile",
        F.sum("yt").over(w).alias("cyt"),
        F.sum("nt").over(w).alias("cnt_t"),
        F.sum("yc").over(w).alias("cyc"),
        F.sum("nc").over(w).alias("cnt_c"),
    )
    return c.select(
        "decile",
        F.col("cnt_t").cast("long").alias("n_treat"),
        F.col("cnt_c").cast("long").alias("n_ctrl"),
        _eps_round(
            F.col("cyt") - F.col("cyc") * F.col("cnt_t") / F.col("cnt_c"),
            4,
        ).alias("qini"),
        _eps_round(
            F.col("cyt") / F.col("cnt_t") - F.col("cyc") / F.col("cnt_c"),
            4,
        ).alias("cum_uplift"),
    ).orderBy("decile")


@register(
    "partial_correlation",
    """
    WITH pts AS (
      SELECT value AS x, CAST(hour(ts) AS DOUBLE) AS y,
             CAST(epoch_us(ts) AS DOUBLE) / 1e12 AS z
      FROM events),
    c AS (
      SELECT CORR(x, y) AS rxy, CORR(x, z) AS rxz, CORR(y, z) AS ryz,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pts)
    SELECT n,
           ROUND(1.2345e-8 + rxy, 4) + 0.0 AS r_xy,
           ROUND(1.2345e-8 + rxz, 4) + 0.0 AS r_xz,
           ROUND(1.2345e-8 + ryz, 4) + 0.0 AS r_yz,
           ROUND(1.2345e-8 +
             (rxy - rxz * ryz)
             / SQRT((1 - rxz * rxz) * (1 - ryz * ryz)), 4) + 0.0
             AS r_xy_given_z
    FROM c
    """,
    tags=("curation", "statistics", "correlation"),
)
def partial_correlation(spark, sf_dir):
    """PARTIAL CORRELATION — the association between value and
    hour-of-day with calendar time partialed out: r_xy.z =
    (r_xy - r_xz r_yz)/sqrt((1-r_xz^2)(1-r_yz^2)), the first-order
    deconfounding identity (equivalent to correlating the two OLS
    residuals on z). The question [[corr_matrix]] can't answer —
    whether a pairwise correlation survives controlling a third
    variable — in one closed form; the parametric sibling of what
    [[causal_ipw_ate]] does by weighting.

    Plan: ONE partial-agg scan computing the three CORRs (each a
    co-moment set — all map-side combinable in the same pass), 1-row
    arithmetic. Single scan."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("value").alias("x"),
        F.hour("ts").cast("double").alias("y"),
        (F.unix_micros("ts").cast("double") / 1e12).alias("z"),
    )
    c = pts.agg(
        F.corr("x", "y").alias("rxy"),
        F.corr("x", "z").alias("rxz"),
        F.corr("y", "z").alias("ryz"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # the raw correlations sit within EPS of zero on the x4 timeline
    # (hour-of-day vs calendar time decorrelate by construction), where
    # the rounding shift can leave a signed -0.0 on one engine only;
    # "+ 0.0" canonicalizes it (IEEE: -0.0 + 0.0 = +0.0) — caught by
    # the x16-tier parity sweep, round 10
    return c.select(
        "n",
        (_eps_round("rxy", 4) + F.lit(0.0)).alias("r_xy"),
        (_eps_round("rxz", 4) + F.lit(0.0)).alias("r_xz"),
        (_eps_round("ryz", 4) + F.lit(0.0)).alias("r_yz"),
        (
            _eps_round(
                (F.col("rxy") - F.col("rxz") * F.col("ryz"))
                / F.sqrt(
                    (1 - F.col("rxz") * F.col("rxz"))
                    * (1 - F.col("ryz") * F.col("ryz"))
                ),
                4,
            )
            + F.lit(0.0)
        ).alias("r_xy_given_z"),
    )


@register(
    "variance_components",
    """
    WITH g AS (
      SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS n, AVG(value) AS m,
             SUM(value * value) AS ss, SUM(value) AS s
      FROM events GROUP BY user_id),
    tot AS (
      SELECT SUM(s) / SUM(n) AS gm, SUM(n) AS nn,
             CAST(COUNT(*) AS DOUBLE) AS k,
             SUM(n * n) AS sn2
      FROM g),
    ms AS (
      SELECT MAX(t.k) AS k, MAX(t.nn) AS nn,
             SUM(g.n * (g.m - t.gm) * (g.m - t.gm)) / (MAX(t.k) - 1)
               AS msb,
             SUM(g.ss - g.n * g.m * g.m) / (MAX(t.nn) - MAX(t.k)) AS msw,
             (MAX(t.nn) - MAX(t.sn2) / MAX(t.nn)) / (MAX(t.k) - 1)
               AS n0
      FROM g CROSS JOIN tot t)
    SELECT CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n,
           ROUND(1.2345e-8 + msw, 4) AS sigma2_within,
           ROUND(1.2345e-8 + GREATEST((msb - msw) / n0, 0.0), 4)
             AS sigma2_between,
           ROUND(1.2345e-8 +
             GREATEST((msb - msw) / n0, 0.0)
             / (GREATEST((msb - msw) / n0, 0.0) + msw), 4) AS icc
    FROM ms
    """,
    tags=("curation", "statistics", "variance-components"),
)
def variance_components(spark, sf_dir):
    """ONE-WAY VARIANCE COMPONENTS (random effects) — split metric
    variance into between-user and within-user components by the
    ANOVA method-of-moments: sigma2_b = (MSB - MSW)/n0 with the
    unbalanced-design effective group size n0 = (N - sum n_i^2/N)/
    (k-1), clipped at zero; the intraclass correlation
    sigma2_b/(sigma2_b + sigma2_w) is THE number behind cluster-
    randomized experiment design effects (and why
    [[abtest_conversion_z]] randomizes users, not events). The
    random-effects reading of [[anova_f_oneway]]'s fixed-effects
    arithmetic — same sufficient statistics, different question.

    Plan: per-user partial agg + 1-row rollup + scalar moments —
    single fact scan, the anova shape."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("value").alias("m"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
        F.sum("value").alias("s"),
    )
    tot = g.agg(
        (F.sum("s") / F.sum("n")).alias("gm"),
        F.sum("n").alias("nn"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("n") * F.col("n")).alias("sn2"),
    )
    ms = g.crossJoin(F.broadcast(tot)).agg(
        F.max("k").alias("k"),
        F.max("nn").alias("nn"),
        (
            F.sum(
                F.col("n")
                * (F.col("m") - F.col("gm"))
                * (F.col("m") - F.col("gm"))
            )
            / (F.max("k") - 1)
        ).alias("msb"),
        (
            F.sum(F.col("ss") - F.col("n") * F.col("m") * F.col("m"))
            / (F.max("nn") - F.max("k"))
        ).alias("msw"),
        (
            (F.max("nn") - F.max("sn2") / F.max("nn")) / (F.max("k") - 1)
        ).alias("n0"),
    )
    s2b = F.greatest(
        (F.col("msb") - F.col("msw")) / F.col("n0"), F.lit(0.0)
    )
    return ms.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nn").cast("long").alias("n"),
        _eps_round("msw", 4).alias("sigma2_within"),
        _eps_round(s2b, 4).alias("sigma2_between"),
        _eps_round(s2b / (s2b + F.col("msw")), 4).alias("icc"),
    )
