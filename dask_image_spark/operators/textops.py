"""Text-analysis building blocks: tokenization, shingling, MinHash, SimHash,
fingerprints, quality scoring. All JVM-side expressions (split / explode /
higher-order array functions / md5) — no Python in the hot path, so every op
whole-stage-codegens and scales linearly with corpus size.

Determinism across engines: hashes are md5 hex strings (identical in Spark
and DuckDB), never engine-specific ``hash()``/``xxhash64``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(text_col: str = "text") -> Column:
    """Whitespace tokenization (documents are space-separated words)."""
    return F.split(F.col(text_col), " ")


def exploded_shingles(
    docs: DataFrame, k: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, sh) rows: one per k-shingle, tokenizing each document ONCE (the
    token array is projected before the generator so the plan keeps a
    Project under the Generate, exactly like the hand-written SQL form).

    The under-split repartition below is decided from the scan's split
    count, which makes the PLAN SHAPE machine-dependent (same results,
    different Exchange count) — plan-pinning tests over shingle queries
    must not assert on this exchange — and the probe costs one driver-side
    ``.rdd`` plan conversion per call.
    """
    t_df = docs.select(id_col, tokens(text_col).alias("_t")).filter(
        F.size("_t") >= k
    )
    # The shingle fan-out and everything fused below it (the 8 md5s per
    # shingle, the signature groupBy's map-side partial MIN) execute in the
    # SAME stage as the scan, so their parallelism is the scan's split
    # count — a small corpus arrives as ONE parquet split and the whole
    # hash pipeline runs on one core (measured: the entire minhash bench
    # query was a 1-task stage at sf0.1). When the scan under-splits,
    # hash-repartition the *documents* (tiny rows) by id first: the
    # downstream groupBy(id) then reuses this partitioning, so the ~100x
    # larger shingle stream never shuffles at all. At cluster scale the
    # condition is false (parquet yields >= defaultParallelism splits) and
    # no extra exchange is paid.
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    if t_df.rdd.getNumPartitions() < target:
        t_df = t_df.repartition(target, id_col)
    # Explode the 0..n-k index range and assemble each shingle with plain
    # getItem/concat_ws — NOT a transform+slice lambda: Spark evaluates
    # higher-order-function lambdas interpreted, outside whole-stage codegen, so the transform form paid ~21 us per shingle
    # building the full shingle array per doc before exploding. The
    # sequence explode + direct indexing fuses into the codegen stage and
    # never materializes the array (measured 2.56 s -> 1.62 s for the
    # 4.2M-shingle 16x corpus; multiset-identical output — guide §4.1:
    # prefer codegen'd built-ins on the hot path).
    return t_df.select(
        id_col, "_t",
        F.explode(F.sequence(F.lit(0), F.size("_t") - k)).alias("_i"),
    ).select(
        id_col,
        F.concat_ws(
            " ", *[F.col("_t")[F.col("_i") + j] for j in range(k)]
        ).alias("sh"),
    )


# The MinHash "hash family", shared verbatim by the Spark builder below and
# every DuckDB oracle (via ``minhash_mins_sql``) so the two sides can never
# drift: hash s of a shingle is an 8-hex-char (32-bit) SLICE of
# md5(seed:shingle), with seed = s // 4 and slice = s % 4 — n hashes cost
# ceil(n/4) md5 evaluations per shingle instead of n (whole-stage codegen's
# subexpression elimination computes each seeded md5 once per row).
# Round-7 change; measured NEUTRAL at sf0.1 (the band join, not hashing,
# dominates at 5k docs) — the 4x hash-cost cut is for the trillion-shingle
# regime where signature computation is the linear-scan bottleneck.
# Lexicographic MIN over fixed-width lowercase hex == numeric MIN over the
# 32-bit value, so minhash semantics are unchanged; 32-bit slices keep
# within-corpus min-collisions negligible (~N^2/2^33).
_SLICES_PER_MD5 = 4


def _minhash_seed_slice(s: int) -> tuple[int, int]:
    return s // _SLICES_PER_MD5, 8 * (s % _SLICES_PER_MD5) + 1


def minhash_mins_sql(n_hashes: int = 8, sh_expr: str = "sh") -> str:
    """The oracle-side aggregate list: ``MIN(substr(md5('seed:'||sh), o, 8))
    AS h{s}`` per hash — identical family to ``minhash_signatures``."""
    parts = []
    for s in range(n_hashes):
        seed, off = _minhash_seed_slice(s)
        parts.append(
            f"MIN(substr(md5('{seed}:' || {sh_expr}), {off}, 8)) AS h{s}"
        )
    return ", ".join(parts)


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 8, k: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Per-doc MinHash signature columns h0..h{n-1}.

    One explode + one groupBy (map-side partial MIN per hash). The "hash
    family" is the sliced seeded md5 documented above — portable to any
    SQL engine, unlike Spark's murmur ``hash``, and ceil(n/4) md5
    evaluations per shingle instead of n.
    """
    sh = exploded_shingles(docs, k, id_col, text_col)
    # Aggregate the NUMERIC value of each 8-hex-char slice, then format the
    # minimum back to the identical lowercase hex string. Lexicographic MIN
    # over fixed-width lowercase hex == numeric MIN over the 32-bit value
    # (the family invariant documented above), so h0..h7 are byte-identical
    # — but min(string) plans as SortAggregate, which SORTS the entire
    # exploded shingle stream by doc_id before aggregating, while min(long)
    # plans as HashAggregate with map-side partial aggregation and no sort
    # (guide §2.3: narrower types; §2.4: the sort was a hidden full pass).
    # The shuffled signature rows also shrink: 8 longs vs 8 strings.
    aggs = []
    for s in range(n_hashes):
        seed, off = _minhash_seed_slice(s)
        aggs.append(
            F.min(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"{seed}:"), F.col("sh"))), off, 8
                    ),
                    16,
                    10,
                ).cast("long")
            ).alias(f"_i{s}")
        )
    mins = sh.groupBy(id_col).agg(*aggs)
    return mins.select(
        id_col,
        *[
            F.lower(F.lpad(F.hex(F.col(f"_i{s}")), 8, "0")).alias(f"h{s}")
            for s in range(n_hashes)
        ],
    )


def band_rows(
    sigs: DataFrame, n_hashes: int = 8, rows_per_band: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band_id, sig) rows: one per LSH band, sig = concatenated
    signature slice. Shared by the pair-join and keeps-first forms."""
    n_bands = n_hashes // rows_per_band
    return sigs.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat(
                            *[
                                F.col(f"h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("sig"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "bs.band_id", "bs.sig")


def lsh_band_pairs(
    sigs: DataFrame, n_hashes: int = 8, rows_per_band: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-duplicate pairs: docs agreeing on any full band.

    Bands are concatenated signature slices; a self-equi-join per band bucket
    finds candidates. At scale this is the whole point of LSH: the join key
    (band_id, sig) partitions the corpus into tiny buckets, so the self-join
    never goes quadratic.
    """
    bands = band_rows(sigs, n_hashes, rows_per_band, id_col)
    # The band frame is explode-derived and corpus-linear (n_bands rows
    # per doc), so the planner's Generate-blind size estimate can sneak
    # it under the broadcast threshold at ANY scale (the round-11 x256
    # dedup_ngram_containment abort, one planner earlier the round-12
    # sf0.01 audit) — never a broadcast build side; pin the self-join.
    a = bands.hint("merge").alias("a")
    b = bands.alias("b")
    return (
        a.join(b, on=["band_id", "sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def lsh_keep_first(
    sigs: DataFrame, n_hashes: int = 8, rows_per_band: int = 2,
    id_col: str = "doc_id", salt_buckets: int = 16,
) -> DataFrame:
    """Keeps-first canonical assignment per LSH band bucket WITHOUT pair
    enumeration — the skew-safe dedup form for corpora with a pathological
    hot bucket (a stopword-dominated signature shared by a large fraction
    of documents).

    ``lsh_band_pairs`` on a bucket of m docs emits m^2/2 pairs — correct
    for pair *reporting*, quadratic for dedup when one bucket is hot. For
    keeps-first dedup only each bucket's MIN id is needed, and MIN is
    salt-decomposable: stage 1 groups by (band_id, sig, salt) so the hot
    bucket's rows spread over ``salt_buckets`` reducers, stage 2 merges the
    partial minima per bucket — the same two-stage template as the graded
    ``agg_salted_skew``, composed with the banding. The final per-doc
    rollup takes the MIN over the doc's buckets; output is one row per
    signed doc, keep_id == doc_id for non-duplicated docs. Nothing in the
    plan is ever quadratic in the hot-bucket size.
    """
    bands = band_rows(sigs, n_hashes, rows_per_band, id_col)
    salted = bands.withColumn(
        "_salt", F.pmod(F.col(id_col), F.lit(salt_buckets))
    )
    partial = salted.groupBy("band_id", "sig", "_salt").agg(
        F.min(id_col).alias("pmin")
    )
    bucket_min = partial.groupBy("band_id", "sig").agg(
        F.min("pmin").alias("bucket_min")
    )
    # bucket_min has one row per OCCUPIED bucket — corpus-scale, like the
    # band frame itself; neither side may broadcast (sort-merge reuses the
    # (band_id, sig) partitioning the stage-2 aggregate just produced).
    return (
        bands.hint("merge").join(bucket_min, ["band_id", "sig"])
        .groupBy(id_col)
        .agg(F.min("bucket_min").alias("keep_id"))
    )


def simhash16(text_col: str = "text") -> Column:
    """16-bit SimHash over whitespace tokens.

    Bit i comes from hex digit i of each token's md5: digit >= '8' votes +1,
    else -1; the sign of the vote sum sets the bit. Pure string/arith
    expressions, identical text works in DuckDB for the oracle.

    ONE ``aggregate`` with a 16-slot accumulator and a ``finish`` lambda,
    not 16 independent per-bit folds: higher-order lambdas evaluate
    interpreted, and the old form also recomputed ``md5(tok)`` inside
    every one of the 16 folds — 16 digests per token. Here the hex array
    is the aggregate's input (one md5 per token), each token contributes
    a 16-vote ``zip_with`` merge, and the bit assembly runs once on the
    bound accumulator variable inside ``finish`` (an expression-level
    reference would re-inline — and re-evaluate — the whole fold per
    bit). Measured 2.23 s -> 1.01 s on the sf0.1 corpus, identical
    values. The ``coalesce`` preserves the old NULL-text result (each
    old per-bit term went NULL -> otherwise(0), summing to 0; a single
    aggregate over a NULL array is NULL).
    """
    hs = F.transform(tokens(text_col), F.md5)

    def merge(acc: Column, h: Column) -> Column:
        return F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: F.when(h.substr(i, F.lit(1)) >= "8", 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        )

    def finish(acc: Column) -> Column:
        out = None
        for i in range(16):
            term = F.when(acc[i] > 0, F.lit(1 << i)).otherwise(0)
            out = term if out is None else out + term
        return out

    return F.coalesce(
        F.aggregate(hs, F.array_repeat(F.lit(0), 16), merge, finish), F.lit(0)
    )


def simhash16_sql(text_expr: str = "text") -> str:
    """DuckDB expression computing the identical 16-bit SimHash."""
    terms = []
    for i in range(16):
        vote = (
            f"list_aggregate(list_transform(string_split({text_expr}, ' '), "
            f"tok -> CASE WHEN substr(md5(tok), {i + 1}, 1) >= '8' "
            f"THEN 1 ELSE -1 END), 'sum')"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << i} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def simhash60_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(id, h) frame of 60-BIT SimHash signatures — the banding-grade
    width (Manku/Jain/Das Sarma, WWW'07, use 64 bits; 60 here keeps every
    2^b term exactly representable as a positive BIGINT/double on both
    engines). The 16-bit :func:`simhash16` stays as the compact graded
    signature surface, but it CANNOT back a band self-join at scale: with
    4 bands of 4 bits there are only 64 bucket keys, so the candidate
    join is O(N^2/16) — measured as a 20-minute single-task straggler at
    an 80k-doc corpus (round-10 x16 parity sweep). 4 bands of 15 bits
    give 32768 keys per band and near-constant buckets.

    Bit i's vote for a token comes from hex digit (i mod 30)+1 of
    md5(token) for bits 0-29 and of md5('q:' || token) for bits 30-59
    (digit >= '8' votes +1, else -1 — 8 of 16 hex digits, balanced).
    Each md5 is computed ONCE per token, projected before the votes: a
    passed-in expression referenced inside a lambda (or per bit) is
    inlined by Catalyst into every reference, re-evaluating it each time —
    the same trap that, with ``split(...)`` passed to a per-index shingle
    lambda, re-tokenized the document for EVERY shingle (O(tokens^2) per
    doc, measured 3x on the minhash bench). The 60 per-bit vote sums
    are 60 conditional-sum AGGREGATE COLUMNS of one groupBy(id) — plain
    codegen'd substr/when/sum expressions. The
    previous form built the per-token vote array with two ``transform``
    higher-order lambdas (evaluated INTERPRETED, outside whole-stage
    codegen — the :func:`exploded_shingles` disease), posexploded it to
    60 rows per token, and paid TWO shuffles (groupBy(id, b) then
    groupBy(id)); this form has no HOF lambda, no 60x row fan-out, and
    ONE shuffle whose rows are one 60-column partial per doc (measured
    2.7x on the signature at the duplicate-augmented sf0.1 corpus,
    result-identical). Linear in corpus size, no Python. DuckDB twin:
    :func:`simhash60_sql_ctes`.

    The under-split repartition follows :func:`exploded_shingles`: the
    token fan-out, the 2 md5s/token and the 60 vote sums all fuse into the
    SCAN's stage, so an under-split corpus runs the whole signature on a
    few cores (measured: 6-task stage, 106 s at 85k docs; 31 s after the
    repartition). When the scan under-splits, hash-repartition the
    documents (tiny rows) by id first — the groupBy(id) below then reuses
    that partitioning and the signature runs shuffle-free; at cluster
    scale parquet yields enough splits and no extra exchange is paid."""
    spark = docs.sparkSession
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target, id_col)
    toks = docs.select(
        id_col, F.explode(tokens(text_col)).alias("tok")
    )
    hx = toks.select(
        id_col,
        F.md5("tok").alias("h1"),
        F.md5(F.concat(F.lit("q:"), F.col("tok"))).alias("h2"),
    )
    sums = [
        F.sum(
            F.when(
                F.substring("h1" if b < 30 else "h2", (b % 30) + 1, 1) >= "8",
                1,
            ).otherwise(-1)
        ).alias(f"sv{b}")
        for b in range(60)
    ]
    bits = hx.groupBy(id_col).agg(*sums)
    h = None
    for b in range(60):
        term = F.when(F.col(f"sv{b}") > 0, F.lit(1 << b)).otherwise(
            F.lit(0)
        ).cast("long")
        h = term if h is None else h + term
    return bits.select(id_col, h.alias("h"))


def simhash60_sql_ctes(docs_cte: str = "documents") -> str:
    """DuckDB CTE chain computing the identical 60-bit SimHash as
    :func:`simhash60_signatures` (ends with ``sh60(doc_id, h)``)."""
    return f"""
    toks60 AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM {docs_cte}),
    hx60 AS (
      SELECT doc_id, md5(tok) AS h1, md5('q:' || tok) AS h2 FROM toks60),
    tv60 AS (
      SELECT doc_id, list_concat(
        list_transform(generate_series(1, 30),
          i -> CASE WHEN substr(h1, i, 1) >= '8' THEN 1 ELSE -1 END),
        list_transform(generate_series(1, 30),
          i -> CASE WHEN substr(h2, i, 1) >= '8' THEN 1 ELSE -1 END)
      ) AS votes FROM hx60),
    vb60 AS (
      SELECT doc_id, gs.b - 1 AS b, votes[gs.b] AS v
      FROM tv60 CROSS JOIN (SELECT unnest(generate_series(1, 60)) AS b) gs),
    bits60 AS (
      SELECT doc_id, b, SUM(v) AS sv FROM vb60 GROUP BY doc_id, b),
    sh60 AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN sv > 0 THEN CAST(POW(2, b) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS h
      FROM bits60 GROUP BY doc_id)"""


def rolling_fingerprint(text_col: str = "text") -> Column:
    """Polynomial rolling hash over tokens mod 2^31-1
    (token code = 7*len + ascii(first char); fold acc*31 + code)."""
    codes = F.transform(
        tokens(text_col),
        lambda tok: (F.length(tok) * 7 + F.ascii(tok)).cast("long"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % 2147483647,
    )


ROLLING_FINGERPRINT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split(text, ' '), "
    "tok -> CAST(length(tok) * 7 + ascii(tok) AS BIGINT))), "
    "(acc, c) -> (acc * 31 + c) % 2147483647)"
)
