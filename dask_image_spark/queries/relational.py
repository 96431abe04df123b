"""Relational core: scans, filter/project, joins (all types), aggregation,
rollup/cube/grouping sets, windows, sort/limit/top-k, set ops, scalar
function families (string/date/json/array), pivot.

The reference has none of these (SURVEY.md §2 "relational-category
checklist") — they are the mandated extension surface, provided by Spark
built-ins; every query here is a strong-oracle pair.

Determinism conventions:
* every float output column: ROUND(1.2345e-8 + x, 4) both sides (see queries/__init__)
* every LIMIT/top-k: total tiebreak order so the selected set is unique
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dask_image_spark.operators.salted import salted_pair_join
from dask_image_spark.queries.base import r as _eps_round, register
from dask_image_spark.sources.tables import load_table
from dask_image_spark.functions.localrel import values_df
from dask_image_spark.scratch import fresh_dir, io_base


def _r(col, n=4):
    return _eps_round(col, n)


# --- flagship: TPC-H-ish Q1 pricing summary ---------------------------------

Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       ROUND(1.2345e-8 + SUM(l_quantity), 4) AS sum_qty,
       ROUND(1.2345e-8 + SUM(l_extendedprice), 4) AS sum_base_price,
       ROUND(1.2345e-8 + SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       ROUND(1.2345e-8 + SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
       ROUND(1.2345e-8 + AVG(l_quantity), 4) AS avg_qty,
       ROUND(1.2345e-8 + AVG(l_extendedprice), 4) AS avg_price,
       ROUND(1.2345e-8 + AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q1_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r(F.sum("l_quantity")).alias("sum_qty"),
            _r(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r(F.sum(disc_price)).alias("sum_disc_price"),
            _r(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            _r(F.avg("l_quantity")).alias("avg_qty"),
            _r(F.avg("l_extendedprice")).alias("avg_price"),
            _r(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


register("q1_pricing_summary", Q1_ORACLE, tags=("relational", "agg"))(q1_impl)


@register(
    "q3_join_topk",
    """
    SELECT o.o_orderkey, ROUND(1.2345e-8 + SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS rev,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY rev DESC, o.o_orderkey LIMIT 10
    """,
    tags=("relational", "join", "topk"),
)
def q3_join_topk(spark, sf_dir):
    """3-way join + agg + top-k. The customer side is filtered then joined —
    AQE converts it to a broadcast join at small SFs; at 100 TB the
    orders⋈lineitem side shuffles on orderkey once and the aggregate reuses
    that partitioning."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev")
        )
        .select("o_orderkey", "rev", "o_orderdate")
        .orderBy(F.col("rev").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           ROUND(1.2345e-8 + l_extendedprice * (1 - l_discount), 4) AS net_price,
           CASE WHEN l_quantity >= 30 THEN 'bulk' ELSE 'small' END AS qty_class,
           ROUND(1.2345e-8 + l_quantity * l_extendedprice / 100.0, 4) AS weighted
    FROM lineitem
    WHERE l_discount BETWEEN 0.02 AND 0.08 AND l_quantity > 10
      AND l_returnflag <> 'A'
    """,
    tags=("relational", "scan"),
)
def filter_project(spark, sf_dir):
    """Predicate + projection; filters push to the parquet scan
    (PushedFilters in .explain), only referenced columns are read."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_discount").between(0.02, 0.08))
        & (F.col("l_quantity") > 10)
        & (F.col("l_returnflag") != "A")
    ).select(
        "l_orderkey",
        "l_linenumber",
        _r(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        F.when(F.col("l_quantity") >= 30, "bulk").otherwise("small").alias("qty_class"),
        _r(F.col("l_quantity") * F.col("l_extendedprice") / 100.0).alias("weighted"),
    )


@register(
    "scan_binaryfile",
    # correctness is always graded at sf0.01 (TESTDATA.md); the oracle has no
    # sf_dir parameter, so the blob glob pins that directory explicitly
    """
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name, size AS n_bytes
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    ORDER BY file_name
    """,
    tags=("relational", "scan", "binary"),
)
def scan_binaryfile(spark, sf_dir):
    """Opaque-file ingest, the ``dask_image.imread`` analog
    (``dask_image/imread/__init__.py``): ``binaryFile`` lazily splits a glob
    into per-file tasks exactly like imread's per-file pims reads; a decode
    UDF over ``content`` (see operators/multimodal.py) completes the path.
    Metadata-only here: content length is read without decoding."""
    import os

    # The oracle SQL above hard-pins sf0.01 (DuckDB read_blob takes a literal
    # glob; the registry's oracle strings are static). Running the parity pair
    # at any other scale factor would silently compare different directories,
    # so make that assumption executable: fail loud instead of mis-comparing.
    pinned = "/root/testdata/sf0.01"
    if os.path.realpath(sf_dir) != os.path.realpath(pinned):
        raise ValueError(
            f"scan_binaryfile's DuckDB oracle is pinned to {pinned}; "
            f"got sf_dir={sf_dir!r}. Re-pin the oracle glob to compare "
            "at a different scale factor."
        )
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
        .select(
            F.regexp_extract("path", "([^/]+)$", 1).alias("file_name"),
            F.col("length").alias("n_bytes"),
        )
        .orderBy("file_name")
    )
    return df


@register(
    "scan_csv_roundtrip",
    """
    SELECT lang, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("relational", "scan", "sink", "csv"),
)
def scan_csv_roundtrip(spark, sf_dir):
    """CSV sink + scan: write (doc_id, lang, n_chars) as CSV, read it back
    with schema inference off (explicit schema — the scale-safe way), then
    aggregate. Values must survive the roundtrip exactly, which the parquet
    oracle checks."""
    import os

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{io_base()}/csv_{os.path.basename(sf_dir.rstrip('/'))}"
    d.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema("doc_id LONG, lang STRING, n_chars LONG").option(
        "header", True
    ).csv(path)
    return (
        back.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("total_chars"))
        .orderBy("lang")
    )


@register(
    "scan_json_roundtrip",
    """
    SELECT source, COUNT(*) AS n, MIN(doc_id) AS min_doc
    FROM documents GROUP BY source ORDER BY source
    """,
    tags=("relational", "scan", "sink", "json"),
)
def scan_json_roundtrip(spark, sf_dir):
    """JSON-lines sink + scan roundtrip, aggregated; oracle reads parquet."""
    import os

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    path = f"{io_base()}/json_{os.path.basename(sf_dir.rstrip('/'))}"
    d.write.mode("overwrite").json(path)
    back = spark.read.schema("doc_id LONG, source STRING").json(path)
    return (
        back.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc"))
        .orderBy("source")
    )


def write_partitioned_events(spark, sf_dir) -> str:
    """Write events as parquet partitioned by event_type (the standard lake
    layout for predicate-pruned scans); returns the path."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = f"{io_base()}/events_by_type_{tag}"
    ev = load_table(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    return path


@register(
    "scan_partitioned_parquet",
    """
    SELECT event_type, COUNT(*) AS n,
           ROUND(1.2345e-8 + SUM(value), 4) AS total,
           MIN(event_id) AS min_id
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "scan", "sink", "partitioned"),
)
def scan_partitioned_parquet(spark, sf_dir):
    """Partitioned-parquet sink + scan: write events partitioned by
    event_type, read back with a partition filter — the filter prunes whole
    directories, never touching other partitions' files
    (`tests/test_plans.py::test_partitioned_scan_prunes`). The oracle reads
    the original table, so the roundtrip must preserve every value."""
    path = write_partitioned_events(spark, sf_dir)
    back = spark.read.parquet(path).filter(
        F.col("event_type").isin("click", "view")
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.sum("value")).alias("total"),
            F.min("event_id").alias("min_id"),
        )
        .orderBy("event_type")
    )


@register(
    "join_inner_geo",
    """
    SELECT r.r_name, COUNT(*) AS n_customers, ROUND(1.2345e-8 + SUM(c.c_acctbal), 4) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
    tags=("relational", "join"),
)
def join_inner_geo(spark, sf_dir):
    """Star-schema inner joins; both dims are broadcast (25 + 5 rows) so the
    fact side never shuffles for the join — only the final 5-group agg."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _r(F.sum("c_acctbal")).alias("total_bal"),
        )
        .orderBy("r_name")
    )


@register(
    "upsert_latest_wins",
    """
    WITH changes AS (
      SELECT o_orderkey, o_orderstatus,
             ROUND(o_totalprice * 1.1, 2) AS o_totalprice, 1 AS version
      FROM orders WHERE o_orderkey % 10 = 3),
    unioned AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS version FROM orders
      UNION ALL SELECT * FROM changes),
    latest AS (
      SELECT * FROM unioned
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                 ORDER BY version DESC) = 1)
    SELECT o_orderstatus, COUNT(*) AS n,
           ROUND(1.2345e-8 + SUM(o_totalprice), 4) AS total
    FROM latest GROUP BY o_orderstatus
    """,
    tags=("relational", "upsert", "cdc"),
)
def upsert_latest_wins(spark, sf_dir):
    """SCD1 upsert / MERGE-equivalent in pure Spark: union the snapshot
    with a change batch, keep the highest version per key via a window —
    the lakehouse CDC-apply pattern without a table format. At scale the
    window shuffles once on the merge key; with the snapshot bucketed on
    the key (see ``join_bucketed``) even that exchange disappears."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    changes = o.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        F.lit(1).alias("version"),
    )
    unioned = o.withColumn("version", F.lit(0)).unionByName(changes)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    latest = unioned.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return latest.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        _r(F.sum("o_totalprice")).alias("total"),
    )


@register(
    "scd2_history",
    """
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice AS price, 0 AS version FROM orders
      UNION ALL
      SELECT o_orderkey, ROUND(1.2345e-8 + o_totalprice * 1.1, 2), 1
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, ROUND(1.2345e-8 + o_totalprice * 1.2, 2), 2
      FROM orders WHERE o_orderkey % 20 = 3),
    hist AS (
      SELECT o_orderkey, version, price,
             LEAD(version) OVER (PARTITION BY o_orderkey
                                 ORDER BY version) AS valid_to
      FROM unioned)
    SELECT o_orderkey, version,
           CAST(COALESCE(valid_to, -1) AS INT) AS valid_to,
           ROUND(1.2345e-8 + price, 4) AS price,
           CAST(valid_to IS NULL AS BOOLEAN) AS is_current
    FROM hist WHERE o_orderkey % 100 = 3
    """,
    tags=("relational", "upsert", "cdc", "scd2"),
)
def scd2_history(spark, sf_dir):
    """SCD TYPE-2 history build — the lakehouse dimension-versioning twin
    of ``upsert_latest_wins`` (SCD1 keeps only the latest row; SCD2 keeps
    EVERY version with a validity interval): union the snapshot with two
    change batches, then one LEAD window per key assigns each version its
    ``valid_to`` (next version, -1/is_current for the open row). At scale
    the whole history build is a single shuffle on the merge key — and
    with the snapshot bucketed on that key (``join_bucketed``) even that
    exchange disappears; this is what a Delta/Iceberg MERGE does under
    the hood, expressed as a plain window.

    The derived version prices carry the EPS shift inside their
    ROUND(.., 2) on BOTH engines (round-10 tier-2 catch): price * 1.1
    can land exactly on a half-cent boundary, where Spark and DuckDB
    round opposite ways — invisible at the sf0.01 grading rows, one
    boundary row at sf0.1 (73427.915)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    v0 = o.withColumn("version", F.lit(0))
    v1 = o.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey",
        F.round(F.col("price") * 1.1 + 1.2345e-8, 2).alias("price"),
        F.lit(1).alias("version"),
    )
    v2 = o.filter(F.col("o_orderkey") % 20 == 3).select(
        "o_orderkey",
        F.round(F.col("price") * 1.2 + 1.2345e-8, 2).alias("price"),
        F.lit(2).alias("version"),
    )
    w = Window.partitionBy("o_orderkey").orderBy("version")
    hist = (
        v0.unionByName(v1)
        .unionByName(v2)
        .withColumn("valid_to", F.lead("version").over(w))
    )
    return hist.filter(F.col("o_orderkey") % 100 == 3).select(
        "o_orderkey",
        "version",
        F.coalesce(F.col("valid_to"), F.lit(-1)).cast("int").alias("valid_to"),
        _r(F.col("price")).alias("price"),
        F.col("valid_to").isNull().alias("is_current"),
    )


@register(
    "profile_table",
    """
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flags,
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS null_flags,
           ROUND(1.2345e-8 + MIN(l_extendedprice), 4) AS min_price,
           ROUND(1.2345e-8 + MAX(l_extendedprice), 4) AS max_price,
           ROUND(1.2345e-8 + AVG(l_quantity), 4) AS avg_qty,
           CAST(MIN(l_shipdate) AS TIMESTAMP) AS first_ship,
           CAST(MAX(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem
    """,
    tags=("relational", "profile", "stats"),
)
def profile_table(spark, sf_dir):
    """One-pass data-profiling (the ingest-audit step of a training-data
    pipeline): row count, exact key/category cardinalities, null counts,
    numeric ranges and date bounds in a single aggregate over one scan —
    at 100 TB this is the difference between one pass and nine."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_returnflag").alias("n_flags"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0)).alias(
            "null_flags"
        ),
        _r(F.min("l_extendedprice")).alias("min_price"),
        _r(F.max("l_extendedprice")).alias("max_price"),
        _r(F.avg("l_quantity")).alias("avg_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "agg_quantiles",
    """
    SELECT l_returnflag,
           ROUND(1.2345e-8 + quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(1.2345e-8 + quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           ROUND(1.2345e-8 + quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("relational", "agg", "stats"),
)
def agg_quantiles(spark, sf_dir):
    """EXACT quantiles (linear interpolation — Spark ``percentile``, DuckDB
    ``quantile_cont``, identical definitions). The approximate counterpart
    at 100 TB is ``percentile_approx``/KLL (sketch, mergeable, one pass);
    exact percentile shuffles each group's values to its reducer — fine for
    bounded group cardinality like this 3-flag rollup, and it hash-matches,
    which a sketch never can."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            _r(F.percentile("l_extendedprice", 0.5)).alias("p50"),
            _r(F.percentile("l_extendedprice", 0.9)).alias("p90"),
            _r(F.percentile("l_extendedprice", 0.99)).alias("p99"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "approx_quantiles_bounded",
    """
    SELECT l_returnflag,
           ROUND(1.2345e-8 + quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           ROUND(1.2345e-8 + quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           TRUE AS p50_within_rank_tol,
           TRUE AS p90_within_rank_tol
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("relational", "approx", "sketch"),
)
def approx_quantiles_bounded(spark, sf_dir):
    """Approximate quantile sketch made STRONG-checkable — the
    ``approx_distinct`` pattern applied to ``percentile_approx``
    (Greenwald-Khanna): the sketch's published guarantee is RANK error
    ≤ 1/accuracy, so the engine asserts each approximate quantile lies
    between the EXACT quantiles at p ± 2/accuracy (double margin absorbs
    interpolation wiggle at order-statistic boundaries) and emits the
    booleans; the oracle computes the exact quantiles and the same
    predicate as constant TRUE. A sketch drifting outside its advertised
    rank bound flips the boolean and fails the hash. At 100 TB the exact
    columns are what you'd drop; GK sketches partial-aggregate map-side
    and merge in fixed space."""
    acc = 100
    m = 2.0 / acc
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile(
            "l_extendedprice",
            F.array(*[F.lit(p) for p in (0.5 - m, 0.5, 0.5 + m, 0.9 - m, 0.9, 0.9 + m)]),
        ).alias("ex"),
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), F.lit(acc)
        ).alias("ap"),
    )
    return agg.select(
        "l_returnflag",
        _r(F.col("ex")[1]).alias("p50"),
        _r(F.col("ex")[4]).alias("p90"),
        (
            (F.col("ap")[0] >= F.col("ex")[0]) & (F.col("ap")[0] <= F.col("ex")[2])
        ).alias("p50_within_rank_tol"),
        (
            (F.col("ap")[1] >= F.col("ex")[3]) & (F.col("ap")[1] <= F.col("ex")[5])
        ).alias("p90_within_rank_tol"),
    ).orderBy("l_returnflag")


@register(
    "q6_forecast_revenue",
    """
    SELECT ROUND(1.2345e-8 + SUM(l_extendedprice * l_discount), 4) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("relational", "agg", "tpch", "sql-surface"),
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change) — run through the literal
    ``spark.sql`` ENTRY POINT over a registered temp view, proving the
    SQL-text surface end to end (every other query builds DataFrames;
    a reference user migrating SQL scripts uses this path). The
    conjunctive filter is the canonical pushdown showcase: all three
    predicates reach the parquet scan, the aggregate is a 1-row
    partial+final — the cheapest possible full-table query at 100 TB."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_q6"
    )
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice * l_discount) + 1.2345e-8, 4)
                 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem_q6
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@register(
    "q5_local_supplier",
    """
    SELECT n.n_name,
           ROUND(1.2345e-8 + SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    tags=("relational", "join", "tpch"),
)
def q5_local_supplier(spark, sf_dir):
    """TPC-H Q5 (local supplier volume) — the six-table join chain with
    the classic same-nation correlation (customer's nation must equal
    the line's supplier nation). Scale shape: region/nation/supplier are
    broadcast dimensions; the only shuffles are the big-side
    orders⋈lineitem equi-join and the final small groupBy — the join
    order Catalyst picks once the dims broadcast, no cartesian anywhere."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(_r(F.sum(rev)).alias("revenue"))
    )


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(1.2345e-8 + SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY ROUND(1.2345e-8 + SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             DESC, c_custkey
    LIMIT 20
    """,
    tags=("relational", "join", "tpch"),
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10 (returned item reporting) — the lost-revenue top-20: a
    quarter's 'R'-flagged lines joined back to their customers. Scale
    shape: the returnflag + date predicates push into both fact scans,
    nation broadcasts, the customer join shuffles once on custkey, and
    the top-20 plans as a TakeOrderedAndProject heap on the ROUNDED
    revenue (+custkey tiebreak) so both engines rank identically."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_r(F.sum(rev)).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "q14_promo_effect",
    """
    SELECT ROUND(1.2345e-8 + 100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-02-01'
    """,
    tags=("relational", "join", "tpch"),
)
def q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 (promotion effect) — the conditional-aggregate-over-join
    shape: one month of lines joined to the part dimension, promo share
    of revenue as a ratio of two SUMs computed in a single pass. Scale
    shape: the date range pushes into the lineitem scan, part broadcasts,
    and the whole query is one map-side joined scan + a 1-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            _r(100.0 * F.sum(promo) / F.sum(rev)).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
           ROUND(1.2345e-8 + SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_2'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, YEAR(l.l_shipdate)
    """,
    tags=("relational", "join", "tpch"),
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 (volume shipping) — bilateral trade volume between two
    nations by ship year: the two-role dimension pattern (nation joined
    TWICE under different aliases, once through the supplier and once
    through the customer) plus a disjunctive pair predicate. Scale
    shape: supplier and both nation aliases broadcast; the nation-pair
    disjunction evaluates after the broadcasts so it never blocks
    pushdown of the shipdate range into the lineitem scan; the only
    shuffles are the fact-side equi-joins and the 4-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_2")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(_r(F.sum(rev)).alias("revenue"))
    )


@register(
    "q18_large_orders",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           ROUND(1.2345e-8 + o.o_totalprice, 4) AS o_totalprice,
           ROUND(1.2345e-8 + SUM(l.l_quantity), 4) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY ROUND(1.2345e-8 + o.o_totalprice, 4) DESC, o_orderkey
    LIMIT 100
    """,
    tags=("relational", "join", "tpch"),
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 (large volume customer) — the HAVING-subquery shape: the
    big-order key set is itself an aggregate (SUM(qty) > 150 per order),
    then the fact re-joins against that set. Scale shape: the key set is
    a semi-filter (left-semi join after its own partial+final aggregate),
    the customer join shuffles on custkey, and the top-100 is a
    TakeOrderedAndProject heap on the rounded totalprice with an orderkey
    tiebreak so both engines rank identically."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 150)
        .select("l_orderkey")
    )
    o_big = o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
    return (
        c.join(o_big, c.c_custkey == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(_r(F.sum("l_quantity")).alias("total_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            _r(F.col("o_totalprice")).alias("o_totalprice"), "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("relational", "join", "tpch", "subquery"),
)
def q4_order_priority(spark, sf_dir):
    """TPC-H Q4 (order priority checking) — the correlated-EXISTS shape:
    count a quarter's orders per priority where at least one of the
    order's lines satisfies a line-level predicate. The driver data has
    no l_commitdate/l_receiptdate, so the spec's late-delivery predicate
    (commitdate < receiptdate, TPC-H §2.4.4) is stood in by
    ``l_returnflag = 'R'`` — the decorrelation under test is identical.
    Scale shape: the EXISTS decorrelates to a LEFT-SEMI join on
    l_orderkey (no duplicate explosion — an order with 4 matching lines
    still counts once), the date range pushes into the orders scan, the
    returnflag predicate into the lineitem scan, and the final aggregate
    is 5 groups. No correlated per-row subquery execution anywhere."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "q21_suppliers_kept_waiting",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 25
    """,
    tags=("relational", "join", "tpch", "subquery"),
)
def q21_suppliers_kept_waiting(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept orders waiting) — the double
    correlated-subquery shape: an EXISTS (some OTHER supplier also
    shipped in this order) and a NOT EXISTS (no OTHER supplier was late
    in it), both correlated on l_orderkey with a suppkey INEQUALITY.
    The driver data has no receipt/commit dates, so "late" is stood in
    by ``l_returnflag = 'R'`` (TPC-H §2.4.21's l3.l_receiptdate >
    l3.l_commitdate); the decorrelation under test is identical.
    Scale shape: EXISTS -> LEFT-SEMI and NOT EXISTS -> LEFT-ANTI, BOTH
    as equi-joins on l_orderkey with the ``<>`` as a join residual —
    never a BroadcastNestedLoopJoin over the fact table (plan-pinned in
    tests/test_plans.py). Three shuffles on the same l_orderkey key
    (AQE reuses the exchange), 25-row heap at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"),
        F.col("l_suppkey").alias("l2_suppkey"),
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"),
        F.col("l_suppkey").alias("l3_suppkey"),
    )
    waiting = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("l2_orderkey"))
            & (F.col("l_suppkey") != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("l3_orderkey"))
            & (F.col("l_suppkey") != F.col("l3_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(25)
    )


@register(
    "q13_customer_distribution",
    """
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT OUTER JOIN orders o
            ON c.c_custkey = o.o_custkey
           AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("relational", "join", "tpch"),
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 (customer distribution) — the left-outer-with-ON-filter
    shape: orders-per-customer histogram where the filter
    (o_orderpriority <> '1-URGENT', standing in for the spec's
    o_comment NOT LIKE — the column doesn't exist in the driver data)
    lives in the JOIN CONDITION, not WHERE, so zero-order customers
    survive with count 0. COUNT(o_orderkey) (not COUNT(*)) makes the
    null-extended rows count as zero on both engines. Scale shape: one
    custkey shuffle for the outer join + grouped count, then a
    trivially small second aggregate over the distinct counts."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q22_global_sales_opportunity",
    """
    SELECT CAST(c.c_nationkey AS INT) AS cntry,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(1.2345e-8 + SUM(c.c_acctbal), 4) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F'
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    ORDER BY cntry
    """,
    tags=("relational", "join", "tpch", "subquery"),
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 (global sales opportunity) — the scalar-subquery + anti
    shape: high-balance customers (above the positive-balance average,
    an uncorrelated scalar subquery) with no finished URGENT order (a
    correlated NOT EXISTS), grouped by country. Driver-data adaptations:
    c_phone doesn't exist so the country code is c_nationkey, and every
    customer has SOME order so the anti-join is scoped to the
    status='F' + priority='1-URGENT' slice (333 antis at sf0.01 — the
    spec's "never ordered" set is empty here by construction).
    Scale shape: the scalar average is ONE grouped aggregate broadcast
    as a 1-row crossJoin (never a per-row subquery), the NOT EXISTS is
    a LEFT-ANTI equi-join on custkey with the order predicates pushed
    into the orders scan BEFORE the join, and the final rollup is ≤25
    nation groups."""
    cust = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, cust.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _r(F.sum("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntry")
    )


@register(
    "q2_min_cost_supplier",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    eu AS (SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
           FROM supplier s
           JOIN nation n ON s.s_nationkey = n.n_nationkey
           JOIN region r ON n.n_regionkey = r.r_regionkey
           WHERE r.r_name = 'EUROPE')
    SELECT ROUND(1.2345e-8 + eu.s_acctbal, 4) AS s_acctbal,
           eu.s_name, eu.n_name, p.p_partkey, p.p_name
    FROM part p
    JOIN ps ON ps.l_partkey = p.p_partkey
    JOIN eu ON eu.s_suppkey = ps.l_suppkey
    WHERE p.p_type = 'SMALL' AND p.p_size <= 10
      AND eu.s_acctbal = (SELECT MIN(eu2.s_acctbal)
                          FROM ps ps2
                          JOIN eu eu2 ON eu2.s_suppkey = ps2.l_suppkey
                          WHERE ps2.l_partkey = p.p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    tags=("relational", "join", "tpch", "subquery"),
)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 (minimum cost supplier) — the correlated scalar-MIN
    subquery: per part, keep only the European supplier(s) with the
    minimum cost. Driver-data adaptations: there is no partsupp table,
    so the part-supplier relation is the DISTINCT (l_partkey, l_suppkey)
    pairs observed in lineitem (who actually supplied what), and
    ps_supplycost is stood in by s_acctbal; the decorrelation under test
    is identical. Scale shape: the correlated MIN decorrelates to ONE
    grouped aggregate over the same pair join (never per-part subquery
    execution), re-joined on (partkey, min) equality; the European
    supplier dimension broadcasts into both uses, the distinct pair set
    is one shuffle, and ties at the minimum all survive, exactly as the
    spec requires."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 10)
    ).select("p_partkey", "p_name")
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pairs = ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
    min_cost = pairs.groupBy("l_partkey").agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        pairs.join(F.broadcast(min_cost), "l_partkey")
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .join(part, F.col("l_partkey") == part.p_partkey)
        .select(
            _r(F.col("s_acctbal")).alias("s_acctbal"),
            "s_name", "n_name", "p_partkey", "p_name",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(1.2345e-8 + SUM(CASE WHEN nation = 'NATION_6'
                                      THEN vol ELSE 0 END) / SUM(vol), 4)
             AS mkt_share,
           ROUND(1.2345e-8 + SUM(vol), 4) AS total_vol
    FROM (
      SELECT CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS vol,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    ) t GROUP BY o_year ORDER BY o_year
    """,
    tags=("relational", "join", "tpch"),
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 (national market share) — one nation's share of a
    region's market for one part type, by order year: the eight-table
    chain with BOTH nation roles (customer's region scopes the market,
    supplier's nation is the share dimension) and a conditional-ratio
    aggregate. Scale shape: part/supplier/both-nation-roles/region all
    broadcast, the date range pushes into the orders scan and the type
    filter into the part scan before its broadcast; the only shuffles
    are the fact-side equi-joins and a 2-group aggregate."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), "n_regionkey")
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    share_num = F.sum(F.when(F.col("nation") == "NATION_6", vol).otherwise(0.0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            _r(share_num / F.sum(vol)).alias("mkt_share"),
            _r(F.sum(vol)).alias("total_vol"),
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_type_profit",
    """
    SELECT n.n_name, CAST(YEAR(o.o_orderdate) AS INT) AS o_year,
           ROUND(1.2345e-8 + SUM(l.l_extendedprice * (1 - l.l_discount)
                 - 0.6 * p.p_retailprice * l.l_quantity), 4) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%bolt%'
    GROUP BY n.n_name, YEAR(o.o_orderdate)
    """,
    tags=("relational", "join", "tpch"),
)
def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 (product type profit) — profit per supplier nation per
    year over parts matching a name pattern. Driver-data adaptation:
    with no partsupp, the supply cost is stood in by
    ``0.6 * p_retailprice`` (a fixed margin against the part's list
    price) — the join topology and the LIKE-filtered part dimension are
    the spec's. Scale shape: the name pattern prunes part BEFORE its
    broadcast, supplier+nation broadcast, and the orders join carries
    only the order date; one fact shuffle + a 175-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    ).select("p_partkey", "p_retailprice")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(_r(F.sum(profit)).alias("profit"))
    )


@register(
    "q11_important_stock",
    """
    WITH v AS (
      SELECT l.l_partkey,
             SUM(l.l_extendedprice * l.l_quantity) AS val
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      WHERE s.s_nationkey = 2
      GROUP BY l.l_partkey)
    SELECT l_partkey, ROUND(1.2345e-8 + val, 4) AS val
    FROM v
    WHERE val > (SELECT SUM(val) * 0.0015 FROM v)
    ORDER BY val DESC, l_partkey
    """,
    tags=("relational", "agg", "tpch", "subquery"),
)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 (important stock identification) — parts whose supplied
    value from one nation exceeds a FRACTION OF THE GLOBAL TOTAL (an
    uncorrelated scalar aggregate-of-aggregate subquery). Driver-data
    adaptation: partsupp value (supplycost × availqty) is stood in by
    the nation's lineitem value (extendedprice × quantity) — the
    aggregate-then-scalar-threshold decorrelation is the spec's.
    Scale shape: the per-part aggregate is computed ONCE and persisted
    for both uses (the value table and its own grand total), the scalar
    total broadcasts as a 1-row crossJoin, and the threshold filter is
    map-side — never a second scan or a per-row subquery."""
    from dask_image_spark.queries.base import persist_tracked

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 2)
    v = persist_tracked(
        li.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("val"))
    )
    total = v.agg((F.sum("val") * 0.0015).alias("threshold"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("val") > F.col("threshold"))
        .select("l_partkey", _r(F.col("val")).alias("val"))
        .orderBy(F.col("val").desc(), "l_partkey")
    )


@register(
    "q12_priority_shipping",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l.l_returnflag
    """,
    tags=("relational", "join", "tpch"),
)
def q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 (shipping modes and order priority) — the
    conditional-count-over-join shape: per shipping class, how many
    lines belong to high- vs low-priority orders. Driver-data
    adaptation: lineitem has no l_shipmode/receiptdate, so the class
    dimension is l_returnflag and the year window is on l_shipdate —
    the CASE-count aggregation under test is the spec's. Scale shape:
    the date range pushes into the lineitem scan, one orderkey join,
    3-group aggregate with map-side partials."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           ROUND(1.2345e-8 + rev.total, 4) AS total_revenue
    FROM supplier s JOIN rev ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total = (SELECT MAX(total) FROM rev)
    ORDER BY s.s_suppkey
    """,
    tags=("relational", "agg", "tpch", "subquery"),
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 (top supplier) — the view-plus-scalar-MAX shape: a
    quarter's revenue per supplier, keeping the supplier(s) whose total
    EQUALS the maximum (the spec's CREATE VIEW revenue0 + scalar
    subquery; ties all survive). Scale shape: the revenue aggregate is
    computed ONCE and persisted for both uses (the rank table and its
    own max), the 1-row max broadcasts as a crossJoin, the supplier
    dimension broadcasts into the final join — one fact shuffle total,
    and the equality compares the engine's own aggregate values so it
    is exact by construction."""
    from dask_image_spark.queries.base import persist_tracked

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    rev = persist_tracked(
        li.groupBy("l_suppkey").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total"
            )
        )
    )
    mx = rev.agg(F.max("total").alias("max_total"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total") == F.col("max_total"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", _r(F.col("total")).alias("total_revenue")
        )
        .orderBy("s_suppkey")
    )


@register(
    "q16_supplier_count",
    """
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, CAST(p.p_size AS INT) AS p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p_size
    """,
    tags=("relational", "join", "tpch", "subquery"),
)
def q16_supplier_count(spark, sf_dir):
    """TPC-H Q16 (parts/supplier relationship) — supplier counts per
    (brand, type, size) bucket, EXCLUDING a blacklisted supplier set via
    NOT IN (the spec blacklists complaint suppliers; the driver data has
    no comments, so the blacklist is negative-balance suppliers —
    the anti-join decorrelation under test is identical, and no
    blacklist key is NULL so NOT IN == anti-join). Scale shape: the
    part-supplier relation is the distinct lineitem pair set (one
    shuffle), the blacklist is a broadcast LEFT-ANTI, the part dimension
    broadcasts with all three predicates pushed into its scan, and
    COUNT(DISTINCT) runs as Spark's two-phase distinct aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "q17_small_quantity_revenue",
    """
    SELECT ROUND(1.2345e-8 + SUM(l.l_extendedprice) / 7.0, 4)
             AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#2' AND p.p_type = 'ECONOMY'
      AND l.l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p.p_partkey)
    """,
    tags=("relational", "join", "tpch", "subquery"),
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 (small-quantity-order revenue) — the correlated
    scalar-AVG subquery: lines whose quantity is below a fraction of
    THAT PART's average quantity. Scale shape: the correlated average
    decorrelates to ONE groupBy(partkey) over lineitem joined back as a
    broadcast (it is at most |part| rows) — never per-row subquery
    execution; the brand/type filter prunes part before broadcast, and
    the per-part average is computed over ALL lines of those parts
    exactly as the spec's inner query (unfiltered by the outer
    predicate). Single-row aggregate output."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#2") & (F.col("p_type") == "ECONOMY")
    ).select("p_partkey")
    # lines of the selected parts (broadcast part prune first)
    lp = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    avg_q = lp.groupBy(F.col("l_partkey").alias("ak")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        lp.join(F.broadcast(avg_q), F.col("l_partkey") == F.col("ak"))
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            _r(F.sum("l_extendedprice") / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q19_discounted_revenue",
    """
    SELECT ROUND(1.2345e-8 + SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#24' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("relational", "join", "tpch"),
)
def q19_discounted_revenue(spark, sf_dir):
    """TPC-H Q19 (discounted revenue) — the disjunctive multi-bracket
    join predicate: three OR'd (brand, size-range, quantity-range)
    brackets that each mix columns from BOTH sides of the join (the
    shape that defeats naive pushdown and forces a residual join
    condition). Scale shape: the partkey equi-join stays a
    BroadcastHashJoin with the OR as its residual; the part-side
    disjunction (brand IN + size <= max) is separately pushable and
    Catalyst derives it, so the broadcast build side is pruned even
    though the full predicate can't split."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    bracket = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#24")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(
            F.broadcast(p),
            (F.col("l_partkey") == F.col("p_partkey")) & bracket,
        )
        .agg(
            _r(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q20_excess_suppliers",
    """
    SELECT s.s_name, ROUND(1.2345e-8 + s.s_acctbal, 4) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey FROM lineitem l
        WHERE l.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'small%')
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(l.l_quantity) > 55)
    ORDER BY s.s_name
    """,
    tags=("relational", "join", "tpch", "subquery"),
)
def q20_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 (potential part promotion) — the nested IN-subquery
    chain: suppliers in one nation who shipped MORE THAN A THRESHOLD of
    some name-matched part (the spec's excess-stock predicate over
    partsupp/availqty, stood in by the grouped shipment total over
    lineitem — the two-level IN decorrelation is identical). Scale
    shape: the inner part IN prunes via a broadcast LEFT-SEMI before
    the group-by, the HAVING runs as a partial+final aggregate on
    (suppkey, partkey), the resulting supplier key set is a LEFT-SEMI
    against the broadcast-joined nation slice — three joins, zero
    nested-loop subquery execution."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 55)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", _r(F.col("s_acctbal")).alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "equidepth_bins",
    """
    WITH cuts AS (
      SELECT quantile_cont(l_extendedprice,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS c
      FROM lineitem),
    b AS (
      SELECT 1 + len(list_filter(c, x -> l_extendedprice >= x)) AS bin,
             l_extendedprice AS v
      FROM lineitem CROSS JOIN cuts)
    SELECT CAST(bin AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + MIN(v), 4) AS lo,
           ROUND(1.2345e-8 + MAX(v), 4) AS hi,
           ROUND(1.2345e-8 + AVG(v), 4) AS avg_v
    FROM b GROUP BY bin
    """,
    tags=("relational", "feature", "binning"),
)
def equidepth_bins(spark, sf_dir):
    """Equi-depth (decile) feature binning — the quantile bucketing a
    feature-engineering pass applies to heavy-tailed numerics. The
    SCALE-correct formulation: compute the 9 exact cut points as ONE
    grouped aggregate, broadcast them, and assign each row's bin with a
    map-side expression (``1 + #cuts ≤ v``) — never a global NTILE sort,
    which would funnel the entire table through one partition. Rows equal
    to a cut land in the upper bin on both engines (>= comparison); at
    100 TB you'd swap the exact percentiles for the GK sketch graded in
    ``approx_quantiles_bounded``, same plan otherwise."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v")
    )
    cuts = li.agg(
        F.percentile(
            "v", F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
        ).alias("c")
    )
    binned = li.crossJoin(F.broadcast(cuts)).select(
        "v",
        (
            F.lit(1) + F.size(F.filter(F.col("c"), lambda x: F.col("v") >= x))
        ).cast("int").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        _r(F.min("v")).alias("lo"),
        _r(F.max("v")).alias("hi"),
        _r(F.avg("v")).alias("avg_v"),
    )


def write_bucketed_tables(spark, sf_dir, n_buckets: int = 8) -> tuple[str, str]:
    """Write orders + lineitem as parquet tables bucketed on the join key
    (``bucketBy`` + external path under /tmp) and register them in the
    session catalog. Returns the two table names.

    This is the co-located-join layout for 100 TB: both sides hash-bucketed
    on orderkey at write time, so every orderkey join afterwards is
    exchange-free — the shuffle is paid ONCE at ingest, not per query.
    """
    import os

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"{io_base()}/bucketed_{tag}"
    specs = [
        (f"b_orders_{tag}", "orders", "o_orderkey"),
        (f"b_lineitem_{tag}", "lineitem", "l_orderkey"),
    ]
    for tbl, src, key in specs:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            load_table(spark, sf_dir, src)
            .write.format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .mode("overwrite")
            .option("path", f"{base}/{tbl}")
            .saveAsTable(tbl)
        )
    return specs[0][0], specs[1][0]


@register(
    "join_bucketed",
    """
    SELECT o.o_orderkey, COUNT(*) AS n_items,
           ROUND(1.2345e-8 + SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY o.o_orderkey
    """,
    tags=("relational", "join", "bucketed"),
)
def join_bucketed(spark, sf_dir):
    """Co-located join over write-time-bucketed tables: both sides bucketed
    (and sorted) on orderkey, so the join needs NO exchange — and the
    groupBy on the same key reuses the bucket partitioning too
    (`tests/test_plans.py::test_bucketed_join_has_no_shuffle`). Results are
    bucketing-invariant, which the plain-parquet oracle checks."""
    bo, bl = write_bucketed_tables(spark, sf_dir)
    o = spark.table(bo).filter(F.col("o_orderpriority") == "1-URGENT")
    li = spark.table(bl)
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _r(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            ),
        )
    )


@register(
    "join_left_orders",
    """
    SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders,
           ROUND(1.2345e-8 + COALESCE(SUM(o.o_totalprice), 0), 4) AS spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    tags=("relational", "join"),
)
def join_left_orders(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            _r(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("spend"),
        )
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    tags=("relational", "join"),
)
def join_semi(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_custkey % 3 <> 0)
    """,
    tags=("relational", "join"),
)
def join_anti(spark, sf_dir):
    """LEFT ANTI join — customers with no qualifying order. The driver
    data gives every customer at least one order, so the unfiltered anti
    set is empty and a green grade on it is vacuous; the build side is
    therefore gated on a deterministic key predicate (``o_custkey % 3 <>
    0``) so every custkey divisible by 3 provably lands in the result.
    Plan stays a single LeftAnti hash join (pinned in test_plans.py)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 3 != 0
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_full_outer",
    """
    WITH cc AS (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1),
         ss AS (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1)
    SELECT COALESCE(cc.nk, ss.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
    FROM cc FULL OUTER JOIN ss ON cc.nk = ss.nk
    """,
    tags=("relational", "join"),
)
def join_full_outer(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    cc = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    ss = s.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return cc.join(ss, "nk", "full_outer").select(
        F.coalesce(cc.nk, ss.nk).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )


@register(
    "join_range_bands",
    """
    SELECT b.band, COUNT(*) AS n_parts, ROUND(1.2345e-8 + AVG(p.p_retailprice), 4) AS avg_price
    FROM part p
    JOIN (VALUES ('tiny', 0, 10), ('small', 11, 25),
                 ('medium', 26, 40), ('large', 41, 100)) b(band, lo, hi)
      ON p.p_size BETWEEN b.lo AND b.hi
    GROUP BY b.band ORDER BY b.band
    """,
    tags=("relational", "join", "theta"),
)
def join_range_bands(spark, sf_dir):
    """Non-equi (theta) join against a tiny bands table — planned as a
    BroadcastNestedLoopJoin; the bands side is always broadcast-able."""
    p = load_table(spark, sf_dir, "part")
    bands = values_df(
        spark,
        "band, lo, hi",
        [("tiny", 0, 10), ("small", 11, 25), ("medium", 26, 40), ("large", 41, 100)],
    )
    return (
        p.join(
            F.broadcast(bands),
            (p.p_size >= bands.lo) & (p.p_size <= bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            _r(F.avg("p_retailprice")).alias("avg_price"),
        )
        .orderBy("band")
    )


@register(
    "agg_stats",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_suppkey) AS n_supp,
           ROUND(1.2345e-8 + VAR_POP(l_quantity), 4) AS var_qty,
           ROUND(1.2345e-8 + STDDEV_SAMP(l_extendedprice), 4) AS std_price,
           ROUND(1.2345e-8 + MEDIAN(l_quantity), 4) AS med_qty,
           ROUND(1.2345e-8 + QUANTILE_CONT(l_discount, 0.9), 4) AS p90_disc,
           MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("relational", "agg"),
)
def agg_stats(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            _r(F.var_pop("l_quantity")).alias("var_qty"),
            _r(F.stddev_samp("l_extendedprice")).alias("std_price"),
            _r(F.median("l_quantity")).alias("med_qty"),
            _r(F.percentile("l_discount", F.lit(0.9))).alias("p90_disc"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "corr_matrix",
    """
    WITH m AS (
      SELECT l_returnflag,
             corr(l_quantity, l_extendedprice) AS c0,
             corr(l_quantity, l_discount) AS c1,
             corr(l_quantity, l_tax) AS c2,
             corr(l_extendedprice, l_discount) AS c3,
             corr(l_extendedprice, l_tax) AS c4,
             corr(l_discount, l_tax) AS c5
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'quantity' AS col_a, 'extendedprice' AS col_b,
           ROUND(1.2345e-8 + c0, 4) AS corr_v FROM m
    UNION ALL
    SELECT l_returnflag, 'quantity', 'discount', ROUND(1.2345e-8 + c1, 4) FROM m
    UNION ALL
    SELECT l_returnflag, 'quantity', 'tax', ROUND(1.2345e-8 + c2, 4) FROM m
    UNION ALL
    SELECT l_returnflag, 'extendedprice', 'discount', ROUND(1.2345e-8 + c3, 4) FROM m
    UNION ALL
    SELECT l_returnflag, 'extendedprice', 'tax', ROUND(1.2345e-8 + c4, 4) FROM m
    UNION ALL
    SELECT l_returnflag, 'discount', 'tax', ROUND(1.2345e-8 + c5, 4) FROM m
    """,
    tags=("relational", "agg", "statistics"),
)
def corr_matrix(spark, sf_dir):
    """Grouped Pearson CORRELATION MATRIX (upper triangle, unpivoted):
    the feature-correlation screen every tabular-ML pipeline runs before
    training. All 6 pairwise correlations of the lineitem measures
    compute in ONE partial+final aggregate over co-moment sums (corr
    reduces to sums of x, y, xy, x2, y2 — fully map-side combinable,
    one shuffle on the group key), then ``stack`` unpivots the 6 cells
    map-side: no second shuffle, no per-pair pass over the fact table.
    The naive form — one groupBy per pair — scans the 100 TB fact 6x;
    this scans it once."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        *[
            F.corr(f"l_{a}", f"l_{b}").alias(f"c{i}")
            for i, (a, b) in enumerate(
                [
                    ("quantity", "extendedprice"),
                    ("quantity", "discount"),
                    ("quantity", "tax"),
                    ("extendedprice", "discount"),
                    ("extendedprice", "tax"),
                    ("discount", "tax"),
                ]
            )
        ]
    )
    cells = ", ".join(
        f"'{a}', '{b}', round(c{i} + 1.2345e-8, 4)"
        for i, (a, b) in enumerate(
            [
                ("quantity", "extendedprice"),
                ("quantity", "discount"),
                ("quantity", "tax"),
                ("extendedprice", "discount"),
                ("extendedprice", "tax"),
                ("discount", "tax"),
            ]
        )
    )
    return m.select(
        "l_returnflag",
        F.expr(f"stack(6, {cells}) AS (col_a, col_b, corr_v)"),
    ).select("l_returnflag", "col_a", "col_b", "corr_v")


@register(
    "agg_rollup",
    """
    SELECT r_name, n_name, COUNT(*) AS n, ROUND(1.2345e-8 + SUM(c_acctbal), 4) AS bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    tags=("relational", "agg", "rollup"),
)
def agg_rollup(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return j.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n"), _r(F.sum("c_acctbal")).alias("bal")
    )


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           ROUND(1.2345e-8 + SUM(l_quantity), 4) AS qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("relational", "agg", "cube"),
)
def agg_cube(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), _r(F.sum("l_quantity")).alias("qty")
    )


@register(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    tags=("relational", "agg"),
)
def agg_grouping_sets(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, ROUND(1.2345e-8 + o_totalprice, 4) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    tags=("relational", "topk"),
)
def topk_orders(spark, sf_dir):
    """Sort+limit: Spark plans TakeOrderedAndProject — a per-partition top-k
    then a k-row merge on the driver; no global sort shuffle at any scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
        .select("o_orderkey", "o_custkey", _r(F.col("o_totalprice")).alias("o_totalprice"))
    )


@register(
    "window_rank",
    """
    SELECT user_id, event_type, ROUND(1.2345e-8 + value, 4) AS value, rn FROM (
      SELECT user_id, event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
      FROM events) t WHERE rn <= 3
    """,
    tags=("relational", "window"),
)
def window_rank(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_type", _r(F.col("value")).alias("value"), "rn")
    )


@register(
    "window_lag_lead",
    """
    SELECT event_id, user_id,
           ROUND(1.2345e-8 + value - LAG(value) OVER w, 4) AS delta_prev,
           ROUND(1.2345e-8 + LEAD(value) OVER w, 4) AS next_value,
           RANK() OVER (PARTITION BY user_id ORDER BY event_type) AS type_rank,
           NTILE(4) OVER w AS quartile
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("relational", "window"),
)
def window_lag_lead(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wt = Window.partitionBy("user_id").orderBy("event_type")
    return ev.select(
        "event_id",
        "user_id",
        _r(F.col("value") - F.lag("value").over(w)).alias("delta_prev"),
        _r(F.lead("value").over(w)).alias("next_value"),
        F.rank().over(wt).alias("type_rank"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "window_frames",
    """
    SELECT event_id, user_id,
           ROUND(1.2345e-8 + SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_sum,
           ROUND(1.2345e-8 + AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg4
    FROM events
    """,
    tags=("relational", "window"),
)
def window_frames(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        _r(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0))).alias(
            "running_sum"
        ),
        _r(F.avg("value").over(w.rowsBetween(-3, 0))).alias("moving_avg4"),
    )


@register(
    "window_range_frame",
    """
    SELECT event_id, user_id,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY value
                RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_within5,
           ROUND(1.2345e-8 + SUM(value) OVER (PARTITION BY user_id ORDER BY value
                RANGE BETWEEN 5 PRECEDING AND 5 FOLLOWING), 4) AS sum_pm5
    FROM events
    """,
    tags=("relational", "window", "range-frame"),
)
def window_range_frame(spark, sf_dir):
    """RANGE frames (value-distance, not row-count): peers within ±5 of the
    current row's value — the frame type ROWS can't express (density-
    dependent peer sets, used for sensor smoothing / outlier windows)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value")
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w.rangeBetween(-5, 0)).alias("n_within5"),
        _r(F.sum("value").over(w.rangeBetween(-5, 5))).alias("sum_pm5"),
    )


@register(
    "window_ranking_family",
    """
    SELECT event_id, user_id,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile,
           ROUND(1.2345e-8 + PERCENT_RANK() OVER w, 4) AS pct_rank
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
    tags=("relational", "window"),
)
def window_ranking_family(spark, sf_dir):
    """The full ranking-function family over one shared window spec (Spark
    computes all four in a single sort pass)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        _r(F.percent_rank().over(w)).alias("pct_rank"),
    )


@register(
    "set_ops",
    """
    SELECT 'click_and_purchase' AS tag, user_id FROM
      (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
       INTERSECT
       SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT 'error_not_signup' AS tag, user_id FROM
      (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
       EXCEPT
       SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
    """,
    tags=("relational", "setops"),
)
def set_ops(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")

    def users(et):
        return ev.filter(F.col("event_type") == et).select("user_id").distinct()

    both = users("click").intersect(users("purchase")).select(
        F.lit("click_and_purchase").alias("tag"), "user_id"
    )
    diff = users("error").exceptAll(users("signup")).select(
        F.lit("error_not_signup").alias("tag"), "user_id"
    )
    return both.unionByName(diff)


@register(
    "string_funcs",
    """
    SELECT doc_id,
           UPPER(SUBSTRING(text, 1, 8)) AS head,
           LENGTH(text) AS n_len,
           LEN(string_split(text, ' ')) AS n_tokens,
           REGEXP_EXTRACT(text, '([a-z]+)', 1) AS first_word,
           REPLACE(lang, 'en', 'english') AS lang_full,
           CONCAT(source, ':', lang) AS src_lang
    FROM documents
    """,
    tags=("relational", "string"),
)
def string_funcs(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 8)).alias("head"),
        F.length("text").alias("n_len"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("lang", "en", "english").alias("lang_full"),
        F.concat_ws(":", "source", "lang").alias("src_lang"),
    )


@register(
    "date_funcs",
    """
    SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
           EXTRACT(year FROM o_orderdate) AS order_year,
           COUNT(*) AS n,
           ROUND(1.2345e-8 + SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY 1, 2 ORDER BY 1
    """,
    tags=("relational", "date"),
)
def date_funcs(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            F.year("o_orderdate").cast("long").alias("order_year"),
        )
        .agg(F.count(F.lit(1)).alias("n"), _r(F.sum("o_totalprice")).alias("total"))
        .orderBy("order_month")
    )


@register(
    "json_funcs",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
           COUNT(*) AS n, ROUND(1.2345e-8 + AVG(value), 4) AS avg_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "json"),
)
def json_funcs(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy((k % 10).alias("k_mod"))
        .agg(F.count(F.lit(1)).alias("n"), _r(F.avg("value")).alias("avg_value"))
        .orderBy("k_mod")
    )


@register(
    "array_funcs",
    """
    SELECT vec_id, label,
           ROUND(1.2345e-8 + list_aggregate(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 4) AS sq_norm,
           ROUND(1.2345e-8 + CAST(embedding[1] AS DOUBLE), 4) + 0.0
             AS first_elem,
           LEN(list_filter(embedding, x -> x > 0)) AS n_positive
    FROM embeddings
    """,
    tags=("relational", "array"),
)
def array_funcs(spark, sf_dir):
    """Higher-order array functions over the embedding vectors — all JVM-side
    (transform/aggregate/filter), no Python in the loop. first_elem can
    round to a signed -0.0 on one engine only when embedding[0] sits
    within EPS of zero (the x16 parity tier's shifted copies); "+ 0.0"
    canonicalizes it (IEEE: -0.0 + 0.0 = +0.0)."""
    e = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        "label",
        _r(sq).alias("sq_norm"),
        (
            _r(F.col("embedding").getItem(0).cast("double")) + F.lit(0.0)
        ).alias("first_elem"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "pivot_events",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS click,
           COUNT(*) FILTER (WHERE event_type = 'view') AS view,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
           COUNT(*) FILTER (WHERE event_type = 'error') AS error
    FROM events GROUP BY user_id
    """,
    tags=("relational", "pivot"),
)
def pivot_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .count()
    )
    # pivot leaves NULL for absent combos; oracle's FILTER count yields 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ("click", "view", "purchase", "signup", "error")],
    )


@register(
    "approx_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS within_tolerance
    FROM events GROUP BY event_type
    """,
    tags=("relational", "approx"),
)
def approx_distinct(spark, sf_dir):
    """HLL approximate distinct, made STRONG-checkable: the sketch value
    itself is engine-specific, so the graded contract is the *bounded
    relative error* — the engine emits exact COUNT(DISTINCT),
    ``approx_count_distinct`` at rsd=0.02, and a boolean asserting
    ``|approx − exact| / exact ≤ 0.05`` (2.5σ of the configured rsd); the
    oracle computes the exact side and asserts the same predicate as a
    constant TRUE. A sketch drifting outside its advertised error bound
    flips the boolean and fails the hash match. At 100 TB the exact
    column is what you'd drop; the HLL partial-aggregates map-side and
    shuffles only fixed-size sketch buffers per group."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_tolerance"),
    )


@register(
    "scan_orc_roundtrip",
    """
    SELECT lang, COUNT(*) AS n,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE n_chars > 50 GROUP BY lang ORDER BY lang
    """,
    tags=("relational", "scan", "sink", "orc", "io-write"),
    schema="lang string, n bigint, min_doc bigint, total_chars bigint",
)
def scan_orc_roundtrip(spark, sf_dir):
    """ORC sink + scan — Spark's second native columnar format (predicate
    pushdown, column pruning, and vectorized reads work the same as
    parquet): write (doc_id, lang, n_chars), read back with an explicit
    schema, filter + aggregate. The filter exercises ORC-side predicate
    pushdown; the parquet-sourced oracle checks the values survived."""
    import os

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = f"{io_base()}/orc_{os.path.basename(sf_dir.rstrip('/'))}"
    d.write.mode("overwrite").orc(path)
    back = spark.read.schema("doc_id LONG, lang STRING, n_chars LONG").orc(path)
    return (
        back.filter(F.col("n_chars") > 50)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_doc"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "winsorize_values",
    """
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_lo,
           CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clip_hi,
           ROUND(1.2345e-8 + AVG(e.value), 4) AS mean_raw,
           ROUND(1.2345e-8 + AVG(LEAST(GREATEST(e.value, b.lo), b.hi)), 4)
             AS mean_winsor
    FROM events e JOIN b USING (event_type)
    GROUP BY e.event_type
    """,
    tags=("relational", "agg", "stats", "robust"),
)
def winsorize_values(spark, sf_dir):
    """Winsorization — the robust-stats preprocessing step (clip outliers
    to the per-group p01/p99 before aggregating): exact interpolated
    percentiles per event_type (Spark ``percentile`` == DuckDB
    ``quantile_cont``, parity proven by agg_quantiles), broadcast the
    tiny per-group bounds back onto the facts, clip, and compare raw vs
    winsorized means plus clip counts. Two aggregations and one broadcast
    join — the fact table is scanned twice, shuffled by type twice, both
    partial-aggregatable."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.percentile("value", 0.01).alias("lo"),
        F.percentile("value", 0.99).alias("hi"),
    )
    j = ev.join(F.broadcast(b), "event_type")
    clipped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return j.groupBy("event_type").agg(
        F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0)).alias("n_clip_lo"),
        F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0)).alias("n_clip_hi"),
        _eps_round(F.avg("value"), 4).alias("mean_raw"),
        _eps_round(F.avg(clipped), 4).alias("mean_winsor"),
    )


@register(
    "join_salted_skew",
    """
    WITH fact AS (
      SELECT CASE WHEN event_id % 3 = 0 THEN 0 ELSE user_id END AS uid,
             value
      FROM events),
    dim AS (
      SELECT c_custkey % 150 AS uid, MIN(c_custkey % 4) AS segment
      FROM customer GROUP BY c_custkey % 150)
    SELECT CAST(d.segment AS INT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(f.value), 4) AS total
    FROM fact f JOIN dim d ON d.uid = f.uid
    GROUP BY d.segment
    ORDER BY segment
    """,
    tags=("relational", "join", "skew"),
)
def join_salted_skew(spark, sf_dir):
    """Salted SKEW JOIN — the join-side counterpart of
    ``agg_salted_skew``: a third of the fact stream funnels onto ONE hot
    key (uid 0), which in a shuffle join would put a third of the table
    in a single task. The engine salts the fact side (salt =
    event_id % 8) and replicates the dimension across all 8 salts via
    the shared ``salted_pair_join`` helper, joining on the composite
    (uid, salt) key — the hot key's rows now spread over 8x more
    tasks. The join is forced to sort-merge (merge hint) because the
    salting exists precisely for the case where the dimension is too
    big to broadcast; at local fixture scale Spark would otherwise
    broadcast and hide the skew. Salt never leaks: results aggregate
    over it, and the oracle is the UNSALTED plain join. AQE's
    skew-join split is the automatic alternative; explicit salting is
    the portable one that also works mid-pipeline where AQE can't
    re-split."""
    ev = load_table(spark, sf_dir, "events").select(
        F.when(F.pmod(F.col("event_id"), F.lit(3)) == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("uid"),
        "value",
        "event_id",
    )
    c = load_table(spark, sf_dir, "customer")
    dim = (
        c.groupBy(F.pmod(F.col("c_custkey"), F.lit(150)).alias("uid"))
        .agg(F.min(F.pmod(F.col("c_custkey"), F.lit(4))).alias("segment"))
    )
    return (
        salted_pair_join(
            dim, ev, ["uid"], F.col("event_id"),
            n_salt=8, join_hint="merge",
        )
        .groupBy(F.col("segment").cast("int").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.sum("value")).alias("total"),
        )
        .orderBy("segment")
    )


@register(
    "cdc_snapshot_diff",
    """
    WITH a AS (
      SELECT c_custkey AS k, c_acctbal AS bal, c_mktsegment AS seg
      FROM customer),
    b AS (
      SELECT c_custkey AS k,
             CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                  ELSE c_acctbal END AS bal,
             c_mktsegment AS seg
      FROM customer WHERE c_custkey % 13 <> 0
      UNION ALL
      SELECT c_custkey + 10000000 AS k, 500.0 AS bal, 'NEW' AS seg
      FROM customer WHERE c_custkey % 11 = 0)
    SELECT COALESCE(a.k, b.k) AS k,
           CASE WHEN a.k IS NULL THEN 'I'
                WHEN b.k IS NULL THEN 'D'
                ELSE 'U' END AS op,
           ROUND(1.2345e-8 + a.bal, 4) AS old_bal,
           ROUND(1.2345e-8 + b.bal, 4) AS new_bal
    FROM a FULL OUTER JOIN b ON a.k = b.k
    WHERE a.k IS NULL OR b.k IS NULL OR a.bal <> b.bal OR a.seg <> b.seg
    ORDER BY k
    """,
    tags=("relational", "cdc", "join"),
)
def cdc_snapshot_diff(spark, sf_dir):
    """CHANGE-DATA-CAPTURE feed generation by snapshot diff — the inverse
    of the ``upsert_latest_wins``/``scd2_history`` appliers: given two
    snapshots of a dimension, emit the I/U/D change rows a downstream
    consumer would apply (the nightly-snapshot CDC pattern for sources
    with no changelog). Snapshot B is a deterministic mutation of A by
    contract (every 7th balance bumped, every 13th key deleted, every
    11th re-keyed as an insert ABOVE the real id range — offset 10M, the
    fixture-injection convention, so the synthetic keys can never
    collide with genuine customers at any SF), so the graded feed provably contains
    all three op kinds. Scale shape: ONE full-outer equi-join on the
    business key (both sides hash-partitioned, map-side change filter)
    — never a row-by-row lookup; the unchanged majority is filtered
    before any downstream work."""
    c = load_table(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_acctbal").alias("bal_a"),
        F.col("c_mktsegment").alias("seg_a"),
    )
    b = (
        c.filter(F.pmod(F.col("c_custkey"), F.lit(13)) != 0)
        .select(
            F.col("c_custkey").alias("k"),
            F.when(
                F.pmod(F.col("c_custkey"), F.lit(7)) == 0,
                F.col("c_acctbal") + 100.0,
            ).otherwise(F.col("c_acctbal")).alias("bal_b"),
            F.col("c_mktsegment").alias("seg_b"),
        )
        .unionByName(
            c.filter(F.pmod(F.col("c_custkey"), F.lit(11)) == 0).select(
                (F.col("c_custkey") + 10000000).alias("k"),
                F.lit(500.0).alias("bal_b"),
                F.lit("NEW").alias("seg_b"),
            )
        )
    )
    j = a.join(b, "k", "full_outer")
    changed = j.filter(
        F.col("bal_a").isNull()
        | F.col("bal_b").isNull()
        | (F.col("bal_a") != F.col("bal_b"))
        | (F.col("seg_a") != F.col("seg_b"))
    )
    return changed.select(
        "k",
        F.when(F.col("bal_a").isNull(), "I")
        .when(F.col("bal_b").isNull(), "D")
        .otherwise("U")
        .alias("op"),
        _r(F.col("bal_a")).alias("old_bal"),
        _r(F.col("bal_b")).alias("new_bal"),
    ).orderBy("k")


@register(
    "scan_merge_schema",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN event_id >= 5000 THEN 1 END) AS BIGINT)
             AS n_with_extra,
           ROUND(1.2345e-8 + SUM(CASE WHEN event_id >= 5000
                                      THEN value * 2 END), 4) AS sum_extra
    FROM events WHERE event_id < 10000
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "scan", "schema-evolution"),
)
def scan_merge_schema(spark, sf_dir):
    """SCHEMA EVOLUTION on read: two parquet batches with DIFFERENT
    schemas land in one dataset directory (the second batch adds an
    ``extra`` column — the additive evolution every long-lived dataset
    undergoes), and ``mergeSchema=true`` must union them with NULLs for
    the pre-evolution rows. The aggregate counts exactly which rows
    carry the new column, so a wrong merge (dropped column, misaligned
    nulls, failed scan) breaks the oracle match. Scale note: mergeSchema
    pays a footer-read per file at planning time — production datasets
    pin the merged schema in a metastore instead; the READ semantics
    graded here are identical."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = f"{io_base()}/mergeschema_{tag}"
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 10000)
    old = ev.filter(F.col("event_id") < 5000).select(
        "event_id", "event_type", "value"
    )
    new = ev.filter(F.col("event_id") >= 5000).select(
        "event_id", "event_type", "value",
        (F.col("value") * 2).alias("extra"),
    )
    old.write.mode("overwrite").parquet(f"{path}/batch=1")
    new.write.mode("overwrite").parquet(f"{path}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{path}/batch=1", f"{path}/batch=2"
    )
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("extra").alias("n_with_extra"),
            _r(F.sum("extra")).alias("sum_extra"),
        )
        .orderBy("event_type")
    )


@register(
    "compact_small_files",
    """
    SELECT CAST(TRUE AS BOOLEAN) AS compacted_to_target,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(doc_id) % 1000000007 AS BIGINT) AS id_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE text IS NOT NULL
    """,
    tags=("relational", "sink", "layout", "compaction"),
)
def compact_small_files(spark, sf_dir):
    """SMALL-FILE COMPACTION — the table-maintenance pass every long-lived
    data lake needs (streaming sinks and fine-grained partitioning leave
    thousands of KB-scale files; scan planning and open() overhead then
    dominate reads): a deliberately fragmented 64-file write is
    compacted by ``coalesce(4)`` into 4 files, and the graded result
    proves BOTH layout and content — the post-compaction file count is
    measured from ``input_file_name()`` (not assumed), and row count +
    id checksum + char total must survive the rewrite exactly.
    Scale shape: ``coalesce`` is shuffle-FREE (it merges read splits),
    which is the point — an OPTIMIZE/compaction job costs one read +
    one write, never an exchange; target file count at 100 TB comes
    from bytes/128MB, not a constant."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    frag = f"{io_base()}/frag_{tag}"
    compacted = f"{io_base()}/compacted_{tag}"
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select("doc_id", "n_chars")
    d.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(
        compacted
    )
    back = spark.read.parquet(compacted).select(
        "doc_id", "n_chars",
        # projected to a column first: Spark (correctly) refuses the
        # non-deterministic input_file_name() directly inside an aggregate
        F.input_file_name().alias("fname"),
    )
    # 1 <= files <= 4: coalesce caps the partition count at 4 but Spark's
    # small-file packing may hand the fragmented read FEWER than 4 splits
    # at tiny scale, so the graded contract is the BOUND (did compaction
    # land within the target fan-out), measured — not assumed — from
    # input_file_name, alongside exact content preservation.
    nf = F.countDistinct("fname")
    return back.agg(
        ((nf >= 1) & (nf <= 4)).alias("compacted_to_target"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.sum("doc_id") % 1000000007).cast("long").alias("id_checksum"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "dq_expectations",
    """
    WITH audited AS (
      SELECT o_orderkey, o_custkey FROM orders
      UNION ALL
      SELECT CAST(90000001 AS BIGINT), CAST(NULL AS BIGINT)
      UNION ALL
      SELECT (SELECT MIN(o_orderkey) FROM orders), CAST(0 AS BIGINT)
      UNION ALL
      SELECT CAST(90000002 AS BIGINT), CAST(999999 AS BIGINT))
    SELECT 'orders_custkey_not_null' AS check_name,
           CAST((SELECT COUNT(*) FROM audited WHERE o_custkey IS NULL)
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'lineitem_discount_in_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    UNION ALL
    SELECT 'orders_orderkey_unique',
           CAST((SELECT COUNT(*) FROM (
                   SELECT o_orderkey FROM audited
                   GROUP BY o_orderkey HAVING COUNT(*) > 1) t) AS BIGINT)
    UNION ALL
    SELECT 'orders_custkey_fk_customer',
           CAST((SELECT COUNT(*) FROM audited o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_orderkey_fk_orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT)
    UNION ALL
    SELECT 'lineitem_quantity_positive',
           CAST((SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0)
                AS BIGINT)
    ORDER BY check_name
    """,
    tags=("relational", "quality", "validation"),
)
def dq_expectations(spark, sf_dir):
    """DATA-QUALITY EXPECTATIONS suite — the validation gate (the Great
    Expectations / dbt-test shape) a pipeline runs before promoting a
    landed dataset: null checks, range checks, key uniqueness, and
    referential integrity (both fact->dim FKs), each reported as a
    violation COUNT so the gate is auditable, not just boolean. The
    audited orders snapshot carries THREE injected contract violations
    (a NULL custkey, a duplicated orderkey, an orphan custkey) so the
    graded result provably shows nonzero counts where checks fail AND
    zeros where the clean lineitem side passes — the de-vacuation
    pattern (round-5 lesson: a gate that has never seen a violation is
    untested evidence). The null-custkey row is excluded from the FK
    check (it is the null check's finding, not an orphan).

    Scale shape: each check is one aggregate or one LEFT-ANTI join —
    the FK checks are anti-joins on the natural keys (never per-row
    EXISTS), uniqueness is a HAVING>1 aggregate, and the whole suite is
    a UNION of 1-row results, trivially parallel across checks."""
    o_raw = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    # injected violations (see docstring): NULL custkey, duplicate of the
    # minimum orderkey, orphan custkey — derived deterministically so the
    # oracle constructs the identical audited snapshot
    dirty_null = spark.range(1).select(
        F.lit(90000001).cast("long").alias("o_orderkey"),
        F.lit(None).cast("long").alias("o_custkey"),
    )
    dirty_dup = o_raw.agg(F.min("o_orderkey").alias("o_orderkey")).select(
        "o_orderkey", F.lit(0).cast("long").alias("o_custkey")
    )
    dirty_orphan = spark.range(1).select(
        F.lit(90000002).cast("long").alias("o_orderkey"),
        F.lit(999999).cast("long").alias("o_custkey"),
    )
    o = (
        o_raw.select("o_orderkey", "o_custkey")
        .unionByName(dirty_null)
        .unionByName(dirty_dup)
        .unionByName(dirty_orphan)
    )

    def one(name, cnt_df):
        return cnt_df.select(
            F.lit(name).alias("check_name"),
            F.col("v").cast("long").alias("n_violations"),
        )

    checks = [
        one(
            "orders_custkey_not_null",
            o.filter(F.col("o_custkey").isNull()).agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        one(
            "lineitem_discount_in_range",
            li.filter(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            ).agg(F.count(F.lit(1)).alias("v")),
        ),
        one(
            "orders_orderkey_unique",
            o.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("k"))
            .filter(F.col("k") > 1)
            .agg(F.count(F.lit(1)).alias("v")),
        ),
        one(
            "orders_custkey_fk_customer",
            o.filter(F.col("o_custkey").isNotNull())
            .join(c, F.col("o_custkey") == c.c_custkey, "left_anti")
            .agg(F.count(F.lit(1)).alias("v")),
        ),
        one(
            "lineitem_orderkey_fk_orders",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
        one(
            "lineitem_quantity_positive",
            li.filter(F.col("l_quantity") <= 0).agg(
                F.count(F.lit(1)).alias("v")
            ),
        ),
    ]
    out = checks[0]
    for ck in checks[1:]:
        out = out.unionByName(ck)
    return out.orderBy("check_name")


@register(
    "sink_dynamic_partition_overwrite",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(CASE WHEN event_type = 'click'
                                      THEN value * 2 ELSE value END), 4)
             AS total
    FROM events WHERE event_id < 10000
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "sink", "partitioned", "overwrite"),
)
def sink_dynamic_partition_overwrite(spark, sf_dir):
    """DYNAMIC partition overwrite — the idempotent-backfill sink
    semantics every partitioned lake job depends on: with
    ``partitionOverwriteMode=dynamic``, an overwrite-mode write replaces
    ONLY the partitions present in the incoming frame and must leave
    every other partition untouched (static mode would truncate the
    whole table — the classic data-loss foot-gun this query pins). The
    full events slice lands partitioned by type, then a corrected batch
    (click values doubled) overwrites just the click partition; the
    read-back aggregate proves the other partitions survived byte-for-
    byte and the target partition was fully replaced, which is exactly
    the backfill contract. Conf is set per-write via option(), not
    session-wide. Scale: partition-granular replacement is what makes
    reruns idempotent without a table-wide rewrite."""
    import os

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = f"{io_base()}/dynpart_{tag}"
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") < 10000
    ).select("event_id", "event_type", "value")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fixed = ev.filter(F.col("event_type") == "click").select(
        "event_id", "event_type", (F.col("value") * 2).alias("value")
    )
    (
        fixed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.sum("value")).alias("total"),
        )
        .orderBy("event_type")
    )


@register(
    "unpivot_events",
    """
    WITH wide AS (
      SELECT user_id % 10 AS bucket,
             ROUND(1.2345e-8 + SUM(CASE WHEN event_type = 'click'
                                        THEN value END), 4) AS click,
             ROUND(1.2345e-8 + SUM(CASE WHEN event_type = 'view'
                                        THEN value END), 4) AS view,
             ROUND(1.2345e-8 + SUM(CASE WHEN event_type = 'purchase'
                                        THEN value END), 4) AS purchase
      FROM events GROUP BY user_id % 10)
    SELECT bucket, metric, total FROM wide
    UNPIVOT INCLUDE NULLS (total FOR metric IN (click, view, purchase))
    ORDER BY bucket, metric
    """,
    tags=("relational", "unpivot", "sql-surface"),
)
def unpivot_events(spark, sf_dir):
    """UNPIVOT (melt) — the wide->long inverse of ``pivot_events``: a
    per-bucket wide aggregate (one column per event type) melted back to
    (bucket, metric, total) rows with ``DataFrame.unpivot``, NULLs
    included so buckets missing a type still produce a row (the contract
    difference that separates unpivot from a filtered union). Scale
    shape: unpivot is a zero-shuffle generator (each input row fans out
    to |metrics| rows map-side) — the cheap direction; it's the pivot
    side that aggregates."""
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.pmod(F.col("user_id"), F.lit(10)).alias("bucket"))
        .agg(
            _r(F.sum(F.when(F.col("event_type") == "click", F.col("value")))).alias("click"),
            _r(F.sum(F.when(F.col("event_type") == "view", F.col("value")))).alias("view"),
            _r(F.sum(F.when(F.col("event_type") == "purchase", F.col("value")))).alias("purchase"),
        )
    )
    return wide.unpivot(
        ids=["bucket"],
        values=["click", "view", "purchase"],
        variableColumnName="metric",
        valueColumnName="total",
    ).orderBy("bucket", "metric")


@register(
    "hll_sketch_merge",
    """
    WITH per_type AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_n
      FROM events GROUP BY event_type),
    merged AS (
      SELECT COUNT(DISTINCT user_id) AS exact_union FROM events)
    SELECT p.event_type, CAST(p.exact_n AS BIGINT) AS exact_n,
           CAST(TRUE AS BOOLEAN) AS est_within_5pct,
           CAST(m.exact_union AS BIGINT) AS exact_union,
           CAST(TRUE AS BOOLEAN) AS union_est_within_5pct
    FROM per_type p CROSS JOIN merged m
    ORDER BY p.event_type
    """,
    tags=("relational", "sketch", "hll", "mergeable"),
)
def hll_sketch_merge(spark, sf_dir):
    """MERGEABLE HLL sketches (Spark 3.5 Apache DataSketches surface):
    per-type user sketches built with ``hll_sketch_agg``, then UNIONED
    with ``hll_union_agg`` into a global distinct estimate — the
    re-aggregatable form ``approx_count_distinct`` can't give you (a
    stored per-partition/per-day sketch table can answer any rollup
    later without re-scanning raw data; this is the cube-of-distincts
    design at 100 TB). The sketch binaries are engine-specific, so the
    graded contract is the ``approx_distinct`` pattern: every per-type
    estimate AND the merged-union estimate must sit within ±5% of the
    exact counts, asserted identically on both engines (DuckDB asserts
    the same predicate against literal TRUE)."""
    ev = load_table(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_n"),
    )
    est = sketches.select(
        "event_type",
        "exact_n",
        F.hll_sketch_estimate("sk").alias("est"),
    )
    merged = sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est")
    )
    exact_union = ev.agg(F.countDistinct("user_id").alias("exact_union"))
    within = (
        F.abs(F.col("est") - F.col("exact_n"))
        <= 0.05 * F.col("exact_n")
    )
    u_within = (
        F.abs(F.col("union_est") - F.col("exact_union"))
        <= 0.05 * F.col("exact_union")
    )
    return (
        est.crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(exact_union))
        .select(
            "event_type",
            "exact_n",
            within.alias("est_within_5pct"),
            "exact_union",
            u_within.alias("union_est_within_5pct"),
        )
        .orderBy("event_type")
    )


@register(
    "variant_json_extract",
    """
    WITH j AS (
      SELECT '{"u":' || CAST(user_id AS VARCHAR)
             || ',"t":"' || event_type
             || '","m":{"v":' || CAST(ROUND(value, 2) AS VARCHAR)
             || ',"tags":["a","b"]}}' AS doc
      FROM events WHERE event_id < 5000)
    SELECT CAST(json_extract(doc, '$.t') ->> '$' AS VARCHAR) AS t,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(CAST(json_extract(doc, '$.m.v') AS DOUBLE)),
                 4) AS total_v,
           CAST(MAX(CAST(json_extract(doc, '$.u') AS BIGINT)) AS BIGINT)
             AS max_u,
           CAST(MAX(json_array_length(json_extract(doc, '$.m.tags')) = 2
                    ) AS BOOLEAN) AS tags_len_ok
    FROM j GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "variant", "json", "spark4"),
)
def variant_json_extract(spark, sf_dir):
    """The Spark 4 VARIANT type surface — semi-structured ingestion the
    way lakehouse engines now do it: JSON text parsed ONCE into the
    binary VARIANT encoding (``parse_json``), then typed path extraction
    (``variant_get`` with nested paths ``$.m.v``) feeding ordinary
    aggregates. Versus per-access ``get_json_object`` string re-parsing,
    VARIANT pays the parse once and each extraction is a binary-offset
    walk — the difference between O(accesses x parse) and O(parse) per
    row at 100 TB. The JSON documents are derived deterministically from
    events so DuckDB replays the same extraction with its JSON type,
    value-checking string, double, bigint, and nested-array paths."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    doc = F.concat(
        F.lit('{"u":'), F.col("user_id").cast("string"),
        F.lit(',"t":"'), F.col("event_type"),
        F.lit('","m":{"v":'), F.round("value", 2).cast("string"),
        F.lit(',"tags":["a","b"]}}'),
    )
    v = ev.select(F.parse_json(doc).alias("var"))
    extracted = v.select(
        F.variant_get("var", "$.t", "string").alias("t"),
        F.variant_get("var", "$.m.v", "double").alias("mv"),
        F.variant_get("var", "$.u", "bigint").alias("u"),
        F.variant_get("var", "$.m.tags", "array<string>").alias("tags"),
    )
    return (
        extracted.groupBy("t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.sum("mv")).alias("total_v"),
            F.max("u").alias("max_u"),
            F.max(F.size("tags") == 2).alias("tags_len_ok"),
        )
        .orderBy("t")
    )


@register(
    "ansi_try_functions",
    """
    WITH t AS (
      SELECT event_id,
             CASE WHEN event_id % 7 = 0 THEN 0.0 ELSE value END AS denom,
             CASE WHEN event_id % 11 = 0
                  THEN 'x' || CAST(event_id AS VARCHAR)
                  ELSE CAST(event_id AS VARCHAR) END AS maybe_num
      FROM events WHERE event_id < 5000)
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN denom = 0 THEN 1 END) AS BIGINT)
             AS zero_denoms,
           ROUND(1.2345e-8 + SUM(CASE WHEN denom = 0 THEN NULL
                                      ELSE event_id / denom END), 4)
             AS sum_safe_div,
           CAST(COUNT(TRY_CAST(maybe_num AS BIGINT)) AS BIGINT)
             AS castable,
           CAST(SUM(TRY_CAST(maybe_num AS BIGINT)) AS BIGINT) AS sum_cast
    FROM t
    """,
    tags=("relational", "ansi", "sql-surface"),
)
def ansi_try_functions(spark, sf_dir):
    """ANSI-mode error-safe expressions — Spark 4 runs under ANSI SQL by
    default, where division by zero and bad casts are RUNTIME ERRORS
    that kill the job (this repo's own ``abtest_conversion_z`` hit the
    divide-by-zero class while being written); ``try_divide`` /
    ``try_cast`` are the per-expression opt-outs that return NULL
    instead — the dirty-data ingestion posture, graded here over a slice
    with injected zero denominators and non-numeric strings. The
    aggregates count exactly how many rows degraded to NULL, so an
    engine that silently coerced (pre-ANSI semantics) or errored would
    both fail the match. DuckDB mirrors try_divide with a CASE (its /
    returns NULL-on-zero only for try_cast-style ops) and TRY_CAST
    natively."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    t = ev.select(
        "event_id",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) == 0, F.lit(0.0))
        .otherwise(F.col("value"))
        .alias("denom"),
        F.when(
            F.pmod(F.col("event_id"), F.lit(11)) == 0,
            F.concat(F.lit("x"), F.col("event_id").cast("string")),
        )
        .otherwise(F.col("event_id").cast("string"))
        .alias("maybe_num"),
    )
    return t.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("denom") == 0, 1)).alias("zero_denoms"),
        _r(F.sum(F.try_divide(F.col("event_id"), F.col("denom")))).alias(
            "sum_safe_div"
        ),
        F.count(F.col("maybe_num").try_cast("bigint")).alias("castable"),
        F.sum(F.col("maybe_num").try_cast("bigint")).cast("long").alias("sum_cast"),
    )


@register(
    "pareto_skyline_brand",
    """
    SELECT b.p_brand, b.p_partkey, CAST(b.p_size AS INT) AS p_size,
           ROUND(1.2345e-8 + b.p_retailprice, 4) AS p_retailprice
    FROM part b
    WHERE NOT EXISTS (
      SELECT 1 FROM part a
      WHERE a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey
        AND ((a.p_size > b.p_size AND a.p_retailprice <= b.p_retailprice)
          OR (a.p_size >= b.p_size AND a.p_retailprice < b.p_retailprice)))
    ORDER BY b.p_brand, b.p_partkey
    """,
    tags=("relational", "skyline", "window"),
)
def pareto_skyline_brand(spark, sf_dir):
    """PARETO SKYLINE per brand — the multi-criteria shortlist query
    (maximize size, minimize price; keep every part no other part of the
    brand dominates). The DEFINITION is a quadratic correlated
    NOT-EXISTS over dominance pairs — which is exactly what the oracle
    runs — but the ENGINE uses the scan-line reformulation: one sort per
    brand by size descending, and a part survives iff no strictly-larger
    part is as cheap (running-min RANGE window excluding the current
    size group) and no same-or-larger part is strictly cheaper
    (peers-inclusive running min). Two RANGE frames over ONE
    brand-partitioned sort: O(n log n) per brand with zero joins, versus
    the O(n²) dominance join a naive translation ships — the equivalence
    of the two shapes is what the hash match proves. At 100 TB with no
    partitioning key you'd two-phase it (per-partition skyline, then
    skyline-of-skylines — skylines compose under union)."""
    p = load_table(spark, sf_dir, "part")
    by_size = Window.partitionBy("p_brand").orderBy(F.col("p_size").desc())
    m_strict = F.min("p_retailprice").over(
        by_size.rangeBetween(Window.unboundedPreceding, -1)
    )
    m_incl = F.min("p_retailprice").over(
        by_size.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        p.select(
            "p_brand", "p_partkey", "p_size", "p_retailprice",
            m_strict.alias("m_strict"), m_incl.alias("m_incl"),
        )
        .filter(
            (F.col("m_strict").isNull() | (F.col("m_strict") > F.col("p_retailprice")))
            & (F.col("m_incl") >= F.col("p_retailprice"))
        )
        .select(
            "p_brand", "p_partkey",
            F.col("p_size").cast("int").alias("p_size"),
            _r(F.col("p_retailprice")).alias("p_retailprice"),
        )
        .orderBy("p_brand", "p_partkey")
    )


@register(
    "chisq_independence",
    """
    WITH cells AS (
      SELECT event_type,
             CASE WHEN value >= 50 THEN 'hi' ELSE 'lo' END AS bucket,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2),
    rowt AS (SELECT event_type, SUM(o) AS rt FROM cells GROUP BY 1),
    colt AS (SELECT bucket, SUM(o) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT SUM(o) AS n FROM cells),
    ex AS (
      SELECT c.o, CAST(r.rt AS DOUBLE) * ct.ct / t.n AS e
      FROM cells c
      JOIN rowt r USING (event_type)
      JOIN colt ct USING (bucket)
      CROSS JOIN tot t)
    SELECT ROUND(1.2345e-8 + SUM((o - e) * (o - e) / e), 4) AS chi2,
           CAST((SELECT COUNT(*) - 1 FROM rowt)
                * (SELECT COUNT(*) - 1 FROM colt) AS BIGINT) AS dof,
           CAST((SELECT n FROM tot) AS BIGINT) AS n
    FROM ex
    """,
    tags=("relational", "stats", "chisq"),
)
def chisq_independence(spark, sf_dir):
    """Pearson chi-square test of independence between event_type and a
    value bucket (>= 50) — the contingency-table screen a feature
    pipeline runs to decide whether a categorical column carries signal
    about a target before paying for it (feature selection, drift
    guards; the two-sample complement of ``abtest_conversion_z``).
    chi2 = sum (O-E)^2/E with E = row_total * col_total / N. Scale
    shape: ONE map-side-combinable groupBy over the fact table collapses
    100 TB to |types| x |buckets| cells; the marginals and the statistic
    are derived from those cells alone (re-aggregation of a tiny frame,
    broadcast joins), so no second pass over the data. Cell counts are
    exact integers in both engines, so E is the same IEEE division and
    only the final 10-term sum needs the EPS-rounding policy."""
    from dask_image_spark.queries.base import persist_tracked

    ev = load_table(spark, sf_dir, "events")
    # The cells frame (|types| x |buckets| rows) feeds four derivations;
    # persisting it pins the plan to ONE scan of the fact parquet —
    # without it Catalyst re-derives the event-scale aggregate per branch.
    cells = persist_tracked(
        ev.select(
            "event_type",
            F.when(F.col("value") >= 50, "hi").otherwise("lo").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rowt = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    colt = cells.groupBy("bucket").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    ndof = (
        rowt.agg((F.count(F.lit(1)) - 1).alias("r1"))
        .crossJoin(colt.agg((F.count(F.lit(1)) - 1).alias("c1")))
        .select((F.col("r1") * F.col("c1")).cast("long").alias("dof"))
    )
    ex = (
        cells.join(F.broadcast(rowt), "event_type")
        .join(F.broadcast(colt), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            "o",
            (F.col("rt").cast("double") * F.col("ct") / F.col("n")).alias("e"),
            "n",
        )
    )
    return (
        ex.groupBy("n")
        .agg(
            _eps_round(
                F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")),
                4,
            ).alias("chi2")
        )
        .crossJoin(F.broadcast(ndof))
        .select("chi2", "dof", F.col("n").cast("long").alias("n"))
    )


@register(
    "moments_per_type",
    """
    WITH s AS (
      SELECT event_type, COUNT(*) AS n, SUM(value) AS s1,
             SUM(value * value) AS s2,
             SUM(value * value * value) AS s3,
             SUM(value * value * value * value) AS s4
      FROM events GROUP BY event_type),
    m AS (
      SELECT event_type, n, s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS var
      FROM s)
    SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
           ROUND(1.2345e-8 + m.mu, 4) AS mean,
           ROUND(1.2345e-8 + m.var, 4) AS variance,
           ROUND(1.2345e-8 +
             (s.s3 / m.n - 3 * m.mu * s.s2 / m.n + 2 * m.mu * m.mu * m.mu)
             / POW(m.var, 1.5), 4) AS skewness,
           ROUND(1.2345e-8 +
             (s.s4 / m.n - 4 * m.mu * s.s3 / m.n
              + 6 * m.mu * m.mu * s.s2 / m.n
              - 3 * m.mu * m.mu * m.mu * m.mu)
             / (m.var * m.var) - 3, 4) AS kurtosis_excess
    FROM m JOIN s USING (event_type) ORDER BY m.event_type
    """,
    tags=("relational", "stats", "moments"),
)
def moments_per_type(spark, sf_dir):
    """Higher distribution moments per group — skewness and excess
    kurtosis from RAW POWER SUMS (Σx, Σx², Σx³, Σx⁴), the
    distribution-profiling step feature pipelines run to pick transforms
    (log-scale a skewed column, clip a heavy tail). Spark's built-in
    ``skewness``/``kurtosis`` are NOT used deliberately: their
    definitional variants (sample-vs-population corrections) differ
    between engines, while explicit central-moment algebra written once
    and mirrored verbatim is engine-proof. Scale shape: ONE map-side
    partial aggregate (power sums are commutative-associative — this is
    also exactly why they re-aggregate in an incremental refresh); the
    moment algebra runs on |types| rows. Numerics: raw power sums are
    the textbook catastrophic-cancellation risk when σ ≪ μ — fine for
    this profiling contract at value ∈ [0, 490], and the 4-decimal
    policy absorbs the benign last-ulp noise; a production single-pass
    alternative is Welford/Chan merging, which `trend_per_user`'s
    centered-axis trick approximates for regression."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    mu = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mu * mu
    skew = (
        F.col("s3") / F.col("n") - 3 * mu * F.col("s2") / F.col("n")
        + 2 * mu * mu * mu
    ) / F.pow(var, 1.5)
    kurt = (
        F.col("s4") / F.col("n") - 4 * mu * F.col("s3") / F.col("n")
        + 6 * mu * mu * F.col("s2") / F.col("n") - 3 * mu * mu * mu * mu
    ) / (var * var) - 3
    return (
        s.select(
            "event_type", F.col("n").cast("long").alias("n"),
            _eps_round(mu, 4).alias("mean"),
            _eps_round(var, 4).alias("variance"),
            _eps_round(skew, 4).alias("skewness"),
            _eps_round(kurt, 4).alias("kurtosis_excess"),
        )
        .orderBy("event_type")
    )


@register(
    "mutual_information",
    """
    WITH cells AS (
      SELECT event_type AS x, CAST(hour(ts) AS INT) AS y, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    tot AS (SELECT SUM(c) AS n FROM cells),
    px AS (SELECT x, SUM(c) AS cx FROM cells GROUP BY x),
    py AS (SELECT y, SUM(c) AS cy FROM cells GROUP BY y),
    mi AS (
      SELECT SUM((CAST(c AS DOUBLE) / n)
                 * LN(CAST(c AS DOUBLE) * n / (CAST(cx AS DOUBLE) * cy)))
               AS mi_nats
      FROM cells JOIN px USING (x) JOIN py USING (y) CROSS JOIN tot),
    hx AS (SELECT -SUM((CAST(cx AS DOUBLE) / n)
                       * LN(CAST(cx AS DOUBLE) / n)) AS h
           FROM px CROSS JOIN tot),
    hy AS (SELECT -SUM((CAST(cy AS DOUBLE) / n)
                       * LN(CAST(cy AS DOUBLE) / n)) AS h
           FROM py CROSS JOIN tot)
    SELECT ROUND(1.2345e-8 + mi.mi_nats, 4) AS mi_nats,
           ROUND(1.2345e-8 + hx.h, 4) AS h_type,
           ROUND(1.2345e-8 + hy.h, 4) AS h_hour,
           ROUND(1.2345e-8 + mi.mi_nats / SQRT(hx.h * hy.h), 4) AS nmi
    FROM mi CROSS JOIN hx CROSS JOIN hy
    """,
    tags=("relational", "stats", "information"),
)
def mutual_information(spark, sf_dir):
    """Mutual information (nats) between event_type and hour-of-day, plus
    both marginal entropies and the normalized MI — the information-
    theoretic feature-relevance screen (catches NON-LINEAR dependence the
    chi-square/correlation pair can miss, and is the criterion MI-based
    feature selection and decision-tree splits actually use). All
    probabilities derive from ONE fact-scale contingency aggregate
    (persisted, single parquet scan — same posture as
    ``chisq_independence``); the MI/entropy sums run over the
    |types| x 24 cell frame. Counts are exact integers in both engines,
    so every ratio is the identical IEEE division and only the final
    small-frame sums need the EPS-rounding policy."""
    from dask_image_spark.queries.base import persist_tracked

    ev = load_table(spark, sf_dir, "events")
    cells = persist_tracked(
        ev.select(
            F.col("event_type").alias("x"),
            F.hour("ts").cast("int").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cells.agg(F.sum("c").alias("n"))
    px = cells.groupBy("x").agg(F.sum("c").alias("cx"))
    py = cells.groupBy("y").agg(F.sum("c").alias("cy"))
    joined = (
        cells.join(F.broadcast(px), "x")
        .join(F.broadcast(py), "y")
        .crossJoin(F.broadcast(tot))
    )
    mi = joined.agg(
        F.sum(
            (F.col("c").cast("double") / F.col("n"))
            * F.log(
                F.col("c").cast("double") * F.col("n")
                / (F.col("cx").cast("double") * F.col("cy"))
            )
        ).alias("mi_nats")
    )
    hx = px.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("cx").cast("double") / F.col("n"))
            * F.log(F.col("cx").cast("double") / F.col("n"))
        )).alias("h")
    )
    hy = py.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(
            (F.col("cy").cast("double") / F.col("n"))
            * F.log(F.col("cy").cast("double") / F.col("n"))
        )).alias("h")
    )
    return (
        mi.crossJoin(F.broadcast(hx.withColumnRenamed("h", "h_type")))
        .crossJoin(F.broadcast(hy.withColumnRenamed("h", "h_hour")))
        .select(
            _eps_round("mi_nats", 4).alias("mi_nats"),
            _eps_round("h_type", 4).alias("h_type"),
            _eps_round("h_hour", 4).alias("h_hour"),
            _eps_round(
                F.col("mi_nats") / F.sqrt(F.col("h_type") * F.col("h_hour")), 4
            ).alias("nmi"),
        )
    )


_MV_CUTOFF = "2024-01-20 00:00:00"


@register(
    "mv_incremental_refresh",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(value), 4) AS total,
           ROUND(1.2345e-8 + MIN(value), 4) AS mn,
           ROUND(1.2345e-8 + MAX(value), 4) AS mx,
           ROUND(1.2345e-8 + SUM(value) / COUNT(*), 4) AS avg_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "incremental", "materialized-view"),
)
def mv_incremental_refresh(spark, sf_dir):
    """Incremental materialized-view refresh: a pre-computed BASE
    aggregate state (events before the cutoff) merged with a DELTA batch
    (events after) must equal the full recompute — the core of every
    warehouse's incremental MV / streaming-state story, and the reason
    aggregate STATE must be kept as re-aggregatable partials (count/sum/
    min/max; avg derived at read time — storing avg itself would make
    the merge wrong). The registered oracle IS the full direct GROUP BY,
    so the merge law — not just the arithmetic — is what the grade
    certifies. Scale shape: the nightly refresh touches only the delta
    partition (filter pushed to the scan) plus the |types|-row state
    table; the 100 TB history is never rescanned. ``hll_sketch_merge``
    extends the same law to distincts, ``dedup_incremental_batch`` to
    membership."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(_MV_CUTOFF).cast("timestamp")

    def partial(df):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"),
            F.min("value").alias("mn"), F.max("value").alias("mx"),
        )

    base = partial(ev.filter(F.col("ts") < cut))
    delta = partial(ev.filter(F.col("ts") >= cut))
    merged = (
        base.unionByName(delta)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n"), F.sum("s").alias("s"),
            F.min("mn").alias("mn"), F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "event_type", F.col("n").cast("long").alias("n"),
        _eps_round("s", 4).alias("total"),
        _eps_round("mn", 4).alias("mn"),
        _eps_round("mx", 4).alias("mx"),
        _eps_round(F.col("s") / F.col("n"), 4).alias("avg_value"),
    ).orderBy("event_type")


# Point-in-time dimension fixture: customer discount tiers that change on
# fixed effective dates. Derived deterministically from customer keys so
# both engines build the identical version history:
#   v0 (1995-01-01, all customers):        disc = 5
#   v1 (1997-01-01, custkey % 3 == 0):     disc = 7
#   v2 (1999-01-01, custkey % 5 == 0):     disc = 9
_PIT_DIM_SQL = """
      SELECT c_custkey, TIMESTAMP '1995-01-01 00:00:00' AS eff, 5 AS disc
      FROM customer
      UNION ALL
      SELECT c_custkey, TIMESTAMP '1997-01-01 00:00:00', 7
      FROM customer WHERE c_custkey % 3 = 0
      UNION ALL
      SELECT c_custkey, TIMESTAMP '1999-01-01 00:00:00', 9
      FROM customer WHERE c_custkey % 5 = 0
"""


@register(
    "pit_join_scd2",
    f"""
    WITH dim AS ({_PIT_DIM_SQL}),
    iv AS (
      SELECT c_custkey, eff, disc,
             LEAD(eff) OVER (PARTITION BY c_custkey ORDER BY eff)
               AS eff_end
      FROM dim)
    SELECT o.o_orderkey, o.o_custkey, CAST(iv.disc AS INT) AS disc,
           ROUND(1.2345e-8 + o.o_totalprice * (100 - iv.disc) / 100.0, 4)
             AS net_price
    FROM orders o
    JOIN iv ON iv.c_custkey = o.o_custkey
           AND o.o_orderdate >= iv.eff
           AND (iv.eff_end IS NULL OR o.o_orderdate < iv.eff_end)
    WHERE o.o_orderkey % 7 = 0
    ORDER BY o.o_orderkey
    """,
    tags=("relational", "scd2", "pit-join", "asof"),
)
def pit_join_scd2(spark, sf_dir):
    """POINT-IN-TIME correct dimension join: each order priced with the
    discount tier in effect AT ITS ORDER DATE — the feature-store /
    SCD2-lookup correctness contract (joining today's dimension row onto
    historical facts is the classic leakage bug; ``scd2_history`` builds
    the versioned dimension, this consumes it). The engine does NOT run
    the oracle's interval range-join: it unions version-change rows and
    orders into one stream per customer and carries the latest tier
    forward with ``last(..., ignorenulls)`` over the (date, kind) sort —
    kind orders the dimension change BEFORE same-instant orders, so an
    effective-dated change applies to that day's orders. ONE shuffle on
    custkey, linear per partition, no interval explosion — the same
    union-scan-carry reformulation as ``asof_join``, which is how a PIT
    join stays cheap when the dimension has millions of versions. The
    oracle replays the definitional LEAD-interval containment join."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )

    def ver(pred, date, disc):
        base = cust.filter(pred) if pred is not None else cust
        return base.select(
            F.col("c_custkey").alias("k"),
            F.lit(date).cast("timestamp").alias("t"),
            F.lit(disc).alias("disc"),
        )

    dim = (
        ver(None, "1995-01-01 00:00:00", 5)
        .unionByName(ver(F.col("c_custkey") % 3 == 0, "1997-01-01 00:00:00", 7))
        .unionByName(ver(F.col("c_custkey") % 5 == 0, "1999-01-01 00:00:00", 9))
        .select("k", "t", F.lit(0).alias("kind"), "disc",
                F.lit(None).cast("long").alias("o_orderkey"),
                F.lit(None).cast("double").alias("o_totalprice"))
    )
    facts = o.select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("t"),
        F.lit(1).alias("kind"), F.lit(None).cast("int").alias("disc"),
        "o_orderkey", "o_totalprice",
    )
    w = (
        Window.partitionBy("k")
        .orderBy("t", "kind")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = dim.unionByName(facts).withColumn(
        "cur_disc", F.last("disc", ignorenulls=True).over(w)
    )
    return (
        carried.filter((F.col("kind") == 1) & (F.col("o_orderkey") % 7 == 0))
        .select(
            "o_orderkey", F.col("k").alias("o_custkey"),
            F.col("cur_disc").cast("int").alias("disc"),
            _eps_round(
                F.col("o_totalprice") * (100 - F.col("cur_disc")) / 100.0, 4
            ).alias("net_price"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "window_distribution_ranks",
    """
    WITH w AS (
      SELECT event_id, event_type, value,
             percent_rank() OVER o AS pct_rank,
             cume_dist() OVER o AS cume,
             ntile(4) OVER o AS quartile,
             nth_value(value, 3) OVER (PARTITION BY event_type
               ORDER BY value, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_low
      FROM events
      WINDOW o AS (PARTITION BY event_type ORDER BY value, event_id))
    SELECT event_id, event_type,
           ROUND(1.2345e-8 + pct_rank, 4) AS pct_rank,
           ROUND(1.2345e-8 + cume, 4) AS cume,
           CAST(quartile AS INT) AS quartile,
           ROUND(1.2345e-8 + third_low, 4) AS third_low
    FROM w WHERE event_id % 11 = 0 ORDER BY event_id
    """,
    tags=("relational", "window", "distribution"),
)
def window_distribution_ranks(spark, sf_dir):
    """The distribution-flavored window functions the ranking suite
    didn't yet grade: ``percent_rank`` / ``cume_dist`` (relative
    standing — the SQL-surface form of an ECDF transform),
    ``ntile(4)`` (quartile bucketing — note this GLOBAL-sorts each
    partition, which is exactly why ``equidepth_bins`` exists as the
    scale path for corpus-wide binning), and ``nth_value`` over an
    explicit running frame. Ordering includes event_id so ranks are
    tie-free and deterministic cross-engine; all four share ONE
    (event_type, value) sort. The ``%% 11`` sample keeps the graded
    frame small without losing partition-boundary rows."""
    ev = load_table(spark, sf_dir, "events")
    o = Window.partitionBy("event_type").orderBy("value", "event_id")
    run = o.rowsBetween(Window.unboundedPreceding, 0)
    w = ev.select(
        "event_id", "event_type",
        F.percent_rank().over(o).alias("pct_rank"),
        F.cume_dist().over(o).alias("cume"),
        F.ntile(4).over(o).alias("quartile"),
        F.nth_value("value", 3).over(run).alias("third_low"),
    )
    return (
        w.filter(F.col("event_id") % 11 == 0)
        .select(
            "event_id", "event_type",
            _eps_round("pct_rank", 4).alias("pct_rank"),
            _eps_round("cume", 4).alias("cume"),
            F.col("quartile").cast("int").alias("quartile"),
            _eps_round("third_low", 4).alias("third_low"),
        )
        .orderBy("event_id")
    )


@register(
    "weighted_median",
    """
    WITH w AS (
      SELECT event_type, value, event_id,
             1 + event_id % 3 AS wt,
             SUM(1 + event_id % 3) OVER (PARTITION BY event_type
               ORDER BY value, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(1 + event_id % 3) OVER (PARTITION BY event_type) AS total
      FROM events)
    SELECT event_type,
           ROUND(1.2345e-8 + value, 4) AS weighted_median,
           CAST(total AS BIGINT) AS total_weight
    FROM w
    WHERE 2 * cw >= total AND 2 * (cw - wt) < total
    ORDER BY event_type
    """,
    tags=("relational", "stats", "weighted"),
)
def weighted_median(spark, sf_dir):
    """Weighted (lower) median per group — the importance-weighted order
    statistic (survey reweighting, duplicate-collapsed corpora where each
    row carries a multiplicity). The half-mass row is found by pure
    integer bracketing on the cumulative weight — ``2*cw >= W`` and
    ``2*(cw - wt) < W`` pins exactly ONE row per group (cw is strictly
    increasing since weights >= 1), so no argmin pass and no float
    comparison can flip cross-engine. Scale shape: one (event_type)
    shuffle shared by the running and total windows (same partition
    spec, one sort); the deterministic fixture weight 1 + event_id % 3
    stands in for a real multiplicity column."""
    ev = load_table(spark, sf_dir, "events")
    wt = (F.lit(1) + F.col("event_id") % 3).alias("wt")
    wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    run = wo.rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.partitionBy("event_type")
    w = ev.select(
        "event_type", "value", "event_id", wt,
        F.sum(F.lit(1) + F.col("event_id") % 3).over(run).alias("cw"),
        F.sum(F.lit(1) + F.col("event_id") % 3).over(wp).alias("total"),
    )
    return (
        w.filter(
            (2 * F.col("cw") >= F.col("total"))
            & (2 * (F.col("cw") - F.col("wt")) < F.col("total"))
        )
        .select(
            "event_type",
            _eps_round("value", 4).alias("weighted_median"),
            F.col("total").cast("long").alias("total_weight"),
        )
        .orderBy("event_type")
    )


@register(
    "ordered_string_agg",
    """
    WITH o AS (
      SELECT user_id,
             list(event_type ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id)
    SELECT user_id,
           array_to_string(seq[1:5], '>') AS first5_path,
           CAST(len(seq) AS INT) AS n_events
    FROM o WHERE user_id % 10 = 0 ORDER BY user_id
    """,
    tags=("relational", "agg", "ordered-collect"),
)
def ordered_string_agg(spark, sf_dir):
    """Deterministic ordered collect: each user's first five event types
    as a '>'-joined path string — the clickstream-path feature. Spark's
    ``collect_list`` is explicitly NONDETERMINISTIC under shuffle (the
    classic silent-corruption pitfall for path features); the correct
    pattern graded here is collect structs of (sort keys, value), then
    ``sort_array`` + ``transform`` to strip the keys — the ordering
    travels WITH the data instead of relying on partition arrival order,
    so any merge order yields the same array. DuckDB's native
    ``list(x ORDER BY ...)`` replays it declaratively. One groupBy
    shuffle; the sort is per-group in-memory (bounded by per-user event
    counts — for power users you'd cap with a slice pushed into the
    aggregate)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("s")
        )
        .filter(F.col("user_id") % 10 == 0)
        .select(
            "user_id",
            F.array_join(
                F.slice(F.expr("transform(s, x -> x.event_type)"), 1, 5), ">"
            ).alias("first5_path"),
            F.size("s").cast("int").alias("n_events"),
        )
        .orderBy("user_id")
    )


@register(
    "bitmask_rollup",
    """
    WITH f AS (
      SELECT user_id,
             CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                  WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
                  ELSE 16 END AS flag
      FROM events)
    SELECT user_id,
           CAST(bit_or(flag) AS BIGINT) AS types_mask,
           CAST(bit_count(CAST(bit_or(flag) AS BIGINT)) AS INT)
             AS n_distinct_types,
           CAST(bit_xor(flag) AS BIGINT) AS parity_mask
    FROM f GROUP BY user_id ORDER BY user_id
    """,
    tags=("relational", "agg", "bitwise"),
)
def bitmask_rollup(spark, sf_dir):
    """Bitwise aggregate surface: per-user event-type presence as a bit
    mask (``bit_or``), distinct-type count via ``bit_count`` on the
    mask, and ``bit_xor`` parity — the compact-flag encoding used for
    feature bitmaps and segment membership at scale (a 64-bit mask
    replaces a count-distinct or a collect_set when the domain is
    enumerable: O(1) state, trivially re-aggregatable — the same merge
    law as ``mv_incremental_refresh``, which is why roll-up cubes store
    masks). One map-side-combinable groupBy."""
    ev = load_table(spark, sf_dir, "events")
    flag = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "signup", 8)
        .otherwise(16)
    )
    g = ev.select("user_id", flag.alias("flag")).groupBy("user_id").agg(
        F.expr("bit_or(flag)").cast("long").alias("types_mask"),
        F.expr("bit_xor(flag)").cast("long").alias("parity_mask"),
    )
    return g.select(
        "user_id", "types_mask",
        F.bit_count("types_mask").cast("int").alias("n_distinct_types"),
        "parity_mask",
    ).orderBy("user_id")


# Continuity-audit fixture: event_ids are contiguous in the driver data,
# so the audit would be vacuously empty — every 97th id is deleted as part
# of the query contract (the dedup/fuzzy/levenshtein injection pattern in
# reverse), so the gap report provably has material.
_GAP_STRIDE = 97


@register(
    "id_gap_audit",
    f"""
    WITH kept AS (
      SELECT event_id FROM events WHERE event_id % {_GAP_STRIDE} <> 0),
    g AS (
      SELECT event_id,
             LEAD(event_id) OVER (ORDER BY event_id) AS nxt
      FROM kept)
    SELECT event_id + 1 AS gap_start, nxt - 1 AS gap_end,
           CAST(nxt - event_id - 1 AS BIGINT) AS n_missing
    FROM g WHERE nxt > event_id + 1 ORDER BY gap_start
    """,
    tags=("relational", "audit", "gaps"),
)
def id_gap_audit(spark, sf_dir):
    """Sequence-continuity audit: report every hole in the event_id
    sequence as (gap_start, gap_end, n_missing) — the ingestion
    completeness check that catches dropped Kafka offsets / lost files,
    complementing ``dq_expectations`` (which audits values, not
    continuity). LEAD over the id order turns gap detection into a
    single linear window — no anti-join against a generated full
    sequence (the naive formulation materializes the entire id domain).
    Runs over the deterministically gap-injected id stream (every 97th
    id deleted by contract) so the graded report is provably nonzero.
    Scale note: the single unpartitioned LEAD is the fixture shape; at
    100 TB you run the same window partitioned by the natural shard key
    (file, hour, Kafka partition) — gaps can only hide at shard
    boundaries, which the per-shard min/max audit closes."""
    ev = load_table(spark, sf_dir, "events")
    kept = ev.filter(F.col("event_id") % _GAP_STRIDE != 0).select("event_id")
    w = Window.orderBy("event_id")
    g = kept.withColumn("nxt", F.lead("event_id").over(w))
    return (
        g.filter(F.col("nxt") > F.col("event_id") + 1)
        .select(
            (F.col("event_id") + 1).alias("gap_start"),
            (F.col("nxt") - 1).alias("gap_end"),
            (F.col("nxt") - F.col("event_id") - 1).cast("long").alias("n_missing"),
        )
        .orderBy("gap_start")
    )


@register(
    "psi_drift",
    """
    WITH ref AS (
      SELECT value FROM events WHERE event_type = 'view'),
    cuts AS (
      SELECT list_transform(
               quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
               x -> ROUND(1.2345e-8 + x, 4)) AS q
      FROM ref),
    binned AS (
      SELECT e.event_type,
             1 + CAST(len(list_filter(c.q, x -> x < e.value)) AS INT) AS bin
      FROM events e CROSS JOIN cuts c),
    p AS (
      SELECT event_type, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2),
    tot AS (SELECT event_type, SUM(c) AS n FROM p GROUP BY 1),
    refp AS (
      SELECT bin, CAST(c AS DOUBLE) / n AS q
      FROM p JOIN tot USING (event_type) WHERE event_type = 'view'),
    actp AS (
      SELECT event_type, bin, CAST(c AS DOUBLE) / n AS pr
      FROM p JOIN tot USING (event_type) WHERE event_type <> 'view')
    SELECT a.event_type,
           ROUND(1.2345e-8 + SUM((a.pr - r.q) * LN(a.pr / r.q)), 4) AS psi
    FROM actp a JOIN refp r USING (bin)
    GROUP BY a.event_type ORDER BY a.event_type
    """,
    tags=("relational", "drift", "psi"),
)
def psi_drift(spark, sf_dir):
    """Population Stability Index of each event_type's value distribution
    against the 'view' reference — THE production ML drift metric
    (scorecard monitoring convention: PSI < 0.1 stable, > 0.25 shifted),
    completing the drift triple: KL (`kl_source_drift`) is
    information-theoretic, EMD (`emd_source_drift`) is metric-aware, PSI
    is the binned industry standard whose BINS COME FROM THE REFERENCE
    DECILES — so the binning itself is part of the contract. Scale
    shape: the reference deciles are ONE grouped aggregate broadcast as
    cut points (the `equidepth_bins` posture — never a global NTILE);
    bin assignment is map-side arithmetic; everything after runs on the
    |types| x 10 frame. Decile cuts are exact order statistics
    (quantile_disc / exact percentile) so both engines draw identical
    bin edges; every value then falls in the same bin by identical
    comparisons, and only the final 10-term PSI sums need rounding."""
    ev = load_table(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_type") == "view")
    cuts = ref.agg(
        F.expr(
            "transform(percentile(value,"
            " array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)),"
            " x -> round(x + 1.2345e-8d, 4))"
        ).alias("q")
    )
    binned = ev.crossJoin(F.broadcast(cuts)).select(
        "event_type",
        (
            F.lit(1)
            + F.size(F.expr("filter(q, x -> x < value)"))
        ).cast("int").alias("bin"),
    )
    p = binned.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    tot = p.groupBy("event_type").agg(F.sum("c").alias("n"))
    withp = p.join(tot, "event_type").select(
        "event_type", "bin", (F.col("c").cast("double") / F.col("n")).alias("pr")
    )
    refp = withp.filter(F.col("event_type") == "view").select(
        "bin", F.col("pr").alias("q")
    )
    actp = withp.filter(F.col("event_type") != "view")
    return (
        actp.join(F.broadcast(refp), "bin")
        .groupBy("event_type")
        .agg(
            _eps_round(
                F.sum((F.col("pr") - F.col("q")) * F.log(F.col("pr") / F.col("q"))),
                4,
            ).alias("psi")
        )
        .orderBy("event_type")
    )


@register(
    "pandas_api_groupby",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + AVG(value), 4) AS mean_value,
           ROUND(1.2345e-8 + SUM(value), 4) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "pandas-api", "surface"),
)
def pandas_api_groupby(spark, sf_dir):
    """The pandas-on-Spark API surface (``DataFrame.pandas_api()``):
    the same grouped aggregate expressed in pandas idiom —
    ``groupby()["value"].agg(...)`` — compiled by the pandas-API layer
    down to the identical Catalyst plan and graded against the plain
    SQL oracle. This is the migration on-ramp for pandas/dask users of
    the reference's ecosystem: the idiom carries over, the execution is
    still distributed Spark (no driver-side pandas materialization —
    ``to_spark()`` hands back the lazy frame). Kept to API constructs
    that compile to pure relational plans; anything index-order
    dependent (iloc, shift without sort) is exactly what NOT to port
    this way."""
    psdf = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type", "value",
            F.col("value").alias("v2"), F.lit(1).alias("one"),
        )
        .pandas_api()
    )
    # SeriesGroupBy.agg(list) is not implemented in the pandas-API layer;
    # the dict form over aliased columns is — and compiles to the same
    # single HashAggregate
    g = (
        psdf.groupby("event_type")
        .agg({"one": "count", "value": "mean", "v2": "sum"})
        .reset_index()
    )
    out = g.to_spark()
    return (
        out.select(
            "event_type",
            F.col("one").cast("long").alias("n"),
            _eps_round("value", 4).alias("mean_value"),
            _eps_round("v2", 4).alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "custom_python_datasource",
    """
    WITH src AS (
      SELECT i AS id, CAST(i % 8 AS INT) AS part,
             ((i * i * 31 + 7) % 1000) / 10.0 AS value
      FROM generate_series(0, 4999) t(i))
    SELECT part, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(value), 4) AS total,
           ROUND(1.2345e-8 + MIN(value), 4) AS mn,
           ROUND(1.2345e-8 + MAX(value), 4) AS mx
    FROM src GROUP BY part ORDER BY part
    """,
    tags=("relational", "source", "python-datasource"),
)
def custom_python_datasource(spark, sf_dir):
    """A from-scratch CUSTOM CONNECTOR via Spark 4's Python DataSource
    API (``sources/pyds.py``): ``partitions()`` declares an 8-way split
    plan — one Spark task per declared partition, executor-side row
    generation, no driver materialization — and the graded aggregate
    proves every partition delivered exactly its residue class of the id
    range. This is the integration surface for sources Spark has no
    built-in reader for (internal APIs, bespoke binary formats, the
    multimodal codecs' natural home); DuckDB replays the deterministic
    generator with generate_series, so the connector's CONTENT — not
    just its row count — is value-hash checked. (Python-source rows
    cross the Python/JVM boundary; for hot paths you implement
    DataSourceArrowWriter/Arrow batches or a JVM source — documented
    trade-off, fine for the connector-surface grade.)"""
    from dask_image_spark.sources.pyds import register_rangegen

    register_rangegen(spark)
    df = spark.read.format("rangegen").option("n", 5000).option("parts", 8).load()
    return (
        df.groupBy("part")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _eps_round(F.sum("value"), 4).alias("total"),
            _eps_round(F.min("value"), 4).alias("mn"),
            _eps_round(F.max("value"), 4).alias("mx"),
        )
        .orderBy("part")
    )


@register(
    "sql_pipe_syntax",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(value * 2), 4) AS total2,
           ROUND(1.2345e-8 + SUM(value * 2) / COUNT(*), 4) AS avg2
    FROM events WHERE value > 50 GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "sql-surface", "pipe-syntax"),
)
def sql_pipe_syntax(spark, sf_dir):
    """The Spark 4 MODERN SQL surface in one graded statement: SQL PIPE
    syntax (``FROM ... |> WHERE |> EXTEND |> AGGREGATE |> ORDER BY`` —
    the linear dataflow form SQL pipelines read naturally in), a NAMED
    PARAMETER MARKER (``:thr`` bound via ``spark.sql(..., args=...)`` —
    injection-safe parameterization, no string interpolation), and a
    LATERAL COLUMN ALIAS (``avg2`` reuses ``total2``/``n`` from the same
    SELECT stage). All three compile to the identical Catalyst plan as
    the classic form the oracle states — surface sugar, zero execution
    cost — which is exactly what the grade certifies."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "evv_pipe_syntax"
    )
    return spark.sql(
        """
        FROM evv_pipe_syntax
        |> WHERE value > :thr
        |> EXTEND value * 2 AS v2
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     ROUND(SUM(v2) + 1.2345e-8, 4) AS total2,
                     ROUND(SUM(v2) / COUNT(*) + 1.2345e-8, 4) AS avg2
           GROUP BY event_type
        |> SELECT event_type, n, total2, avg2
        |> ORDER BY event_type
        """,
        args={"thr": 50},
    )


@register(
    "sql_group_by_all",
    """
    SELECT l_returnflag, l_linestatus,
           EXTRACT(year FROM l_shipdate) AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(l_extendedprice * (1 - l_discount)), 4)
             AS revenue
    FROM lineitem WHERE l_quantity >= 30
    GROUP BY l_returnflag, l_linestatus, ship_year
    ORDER BY l_returnflag, l_linestatus, ship_year
    """,
    tags=("relational", "sql-surface", "group-by-all"),
)
def sql_group_by_all(spark, sf_dir):
    """``GROUP BY ALL`` + ``ORDER BY ALL`` — the Spark 4 shorthand that
    infers the grouping keys from the non-aggregate SELECT items and
    sorts by every output column (the duckdb-popularized idiom
    analysts now write by default; a migration blocker when absent).
    The statement must resolve a computed expression (``ship_year``)
    into the inferred key set, not just plain columns, and compile to
    the identical plan as the explicit form the oracle states — the
    grade certifies the inference, the execution is ordinary."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "liv_group_by_all"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               EXTRACT(year FROM l_shipdate) AS ship_year,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(l_extendedprice * (1 - l_discount))
                     + 1.2345e-8, 4) AS revenue
        FROM liv_group_by_all WHERE l_quantity >= 30
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@register(
    "filtered_aggregates",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE value >= 100) AS BIGINT) AS n_big,
           ROUND(1.2345e-8 + COALESCE(
             SUM(value) FILTER (WHERE value >= 100), 0.0), 4) AS big_total,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT user_id) FILTER (WHERE value >= 100)
                AS BIGINT) AS n_big_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "agg", "filter-clause"),
)
def filtered_aggregates(spark, sf_dir):
    """The ANSI FILTER-clause aggregate surface (conditional aggregation
    without CASE-WHEN scaffolding) mixed with DISTINCT aggregates in the
    same GROUP BY — the shape Catalyst expands with a double-aggregate
    rewrite (Expand + two HashAggregates) so plain and distinct measures
    coexist in one pass; run through the LITERAL SQL entry (the q6
    precedent) since FILTER is a SQL-text feature a migrating warehouse
    user writes verbatim. COALESCE pins the empty-filter-group result to
    0.0 on both engines (SUM over an empty filtered set is NULL)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "evv_filtered_agg"
    )
    return spark.sql(
        """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE value >= 100) AS BIGINT) AS n_big,
               ROUND(COALESCE(SUM(value) FILTER (WHERE value >= 100), 0.0)
                     + 1.2345e-8, 4) AS big_total,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(COUNT(DISTINCT user_id) FILTER (WHERE value >= 100)
                    AS BIGINT) AS n_big_users
        FROM evv_filtered_agg GROUP BY event_type ORDER BY event_type
        """
    )


@register(
    "array_hof_surface",
    """
    SELECT vec_id,
           len(list_filter(embedding, x -> x < 0)) > 0 AS has_neg,
           len(list_filter(embedding, x -> abs(x) > 10)) = 0 AS all_small,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
           ROUND(1.2345e-8 + list_sum(
             list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 4)
             AS l1_norm
    FROM embeddings WHERE vec_id % 50 = 0 ORDER BY vec_id
    """,
    tags=("relational", "array", "higher-order"),
)
def array_hof_surface(spark, sf_dir):
    """The remaining array HIGHER-ORDER functions as a graded surface:
    ``exists`` / ``forall`` (quantifiers over the lambda — the
    constraint-checking idiom for array columns), ``filter`` + ``size``,
    and ``aggregate`` as a left fold (L1 norm) — all JVM-side
    whole-stage-codegen lambdas, zero Python (the embedding-math
    fast-path rule: similarity/quantization queries already lean on
    transform/zip_with; this pins the quantifier pair). Fold order is
    the list order on both engines, so the float chain is
    deterministic; floats are widened to double INSIDE the lambda so
    both engines accumulate at the same precision."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    return (
        e.filter(F.col("vec_id") % 50 == 0)
        .select(
            "vec_id",
            F.exists(v, lambda x: x < 0).alias("has_neg"),
            F.forall(v, lambda x: F.abs(x) <= 10).alias("all_small"),
            F.size(F.filter(v, lambda x: x > 0)).cast("int").alias("n_pos"),
            _eps_round(
                F.aggregate(
                    v,
                    F.lit(0.0),
                    lambda acc, x: acc + F.abs(x.cast("double")),
                ),
                4,
            ).alias("l1_norm"),
        )
        .orderBy("vec_id")
    )


@register(
    "map_hof_surface",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type),
    kept AS (
      SELECT user_id, COUNT(*) AS n_kept, SUM(2 * n) AS total_kept
      FROM c WHERE 2 * n >= 20 GROUP BY user_id),
    users AS (SELECT DISTINCT user_id FROM events)
    SELECT u.user_id,
           CAST(COALESCE(k.n_kept, 0) AS INT) AS n_kept,
           CAST(COALESCE(k.total_kept, 0) AS BIGINT) AS total_kept
    FROM users u LEFT JOIN kept k USING (user_id)
    ORDER BY u.user_id
    """,
    tags=("relational", "map", "higher-order"),
)
def map_hof_surface(spark, sf_dir):
    """MAP-typed higher-order surface: per-user event-type counts built
    into a real MapType column (``map_from_entries`` over SORTED struct
    entries — sorted so the map construction is deterministic), then
    ``transform_values`` (double every count) and ``map_filter`` (keep
    values >= 20), finishing with ``map_values`` + ``aggregate``. The
    oracle computes the same final ROWS entirely map-free (counts,
    filter, sum), so the grade certifies the map round-trip
    semantics — entry construction, value transform, entry filtering,
    empty-map degenerate (users whose every type filters out must
    surface as 0/0, not vanish) — without needing DuckDB map functions.
    All lambdas are JVM codegen; one groupBy shuffle then per-user map
    ops are map-side."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    doubled = m.select(
        "user_id", F.transform_values("m", lambda k, v: v * 2).alias("m2")
    )
    filtered = doubled.select(
        "user_id", F.map_filter("m2", lambda k, v: v >= 20).alias("mk")
    )
    return (
        filtered.select(
            "user_id",
            F.size("mk").cast("int").alias("n_kept"),
            F.aggregate(
                F.map_values("mk"), F.lit(0).cast("long"), lambda a, x: a + x
            ).alias("total_kept"),
        )
        .orderBy("user_id")
    )


@register(
    "grouping_id_surface",
    """
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(CASE WHEN value >= 50 THEN 'hi' ELSE 'lo' END, '(all)')
             AS bucket,
           CAST(GROUPING(event_type) AS INT) AS g_type,
           CAST(GROUPING(CASE WHEN value >= 50 THEN 'hi' ELSE 'lo' END)
                AS INT) AS g_bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY ROLLUP (event_type, CASE WHEN value >= 50 THEN 'hi' ELSE 'lo' END)
    ORDER BY g_type, g_bucket, event_type, bucket
    """,
    tags=("relational", "rollup", "grouping-id"),
)
def grouping_id_surface(spark, sf_dir):
    """``GROUPING()`` indicator columns over a two-level ROLLUP — the
    piece a consumer of subtotal frames actually needs: COALESCE alone
    cannot distinguish a genuine NULL group from a subtotal row, so
    every BI layer reading rollups keys on the grouping indicators (the
    graded rollup/cube/grouping-sets queries emit the aggregates; this
    grades the metadata). One Expand + one aggregate, the standard
    rollup plan."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.when(F.col("value") >= 50, "hi").otherwise("lo")
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .rollup("event_type", "bucket")
        # grouping() must be projected INSIDE the rollup's own agg —
        # Catalyst rejects it once the Aggregate node is finalized
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("bucket").cast("int").alias("g_bucket"),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("bucket", F.lit("(all)")).alias("bucket"),
            "g_type", "g_bucket", "n",
        )
        .orderBy("g_type", "g_bucket", "event_type", "bucket")
    )


@register(
    "table_checksum_audit",
    """
    WITH src AS (
      SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem),
    dst AS (
      -- the "replica": one sparse stripe modified, another dropped
      SELECT l_orderkey, l_linenumber,
             CASE WHEN (l_orderkey * 31 + l_linenumber) % 997 = 0
                  THEN l_quantity + 1 ELSE l_quantity END AS l_quantity
      FROM lineitem
      WHERE (l_orderkey * 7 + l_linenumber) % 1009 <> 0),
    fs AS (
      SELECT l_orderkey % 64 AS bucket, COUNT(*) AS n,
             SUM(('0x' || substr(md5('ck:' || CAST(l_orderkey AS VARCHAR)
                   || ':' || CAST(l_linenumber AS VARCHAR) || ':'
                   || CAST(l_quantity AS VARCHAR)), 1, 8))::BIGINT) AS digest
      FROM src GROUP BY 1),
    fd AS (
      SELECT l_orderkey % 64 AS bucket, COUNT(*) AS n,
             SUM(('0x' || substr(md5('ck:' || CAST(l_orderkey AS VARCHAR)
                   || ':' || CAST(l_linenumber AS VARCHAR) || ':'
                   || CAST(l_quantity AS VARCHAR)), 1, 8))::BIGINT) AS digest
      FROM dst GROUP BY 1)
    SELECT s.bucket, s.n AS n_src, d.n AS n_dst,
           (s.n = d.n AND s.digest = d.digest) AS match
    FROM fs s JOIN fd d ON d.bucket = s.bucket
    """,
    tags=("relational", "audit", "checksum"),
)
def table_checksum_audit(spark, sf_dir):
    """ANTI-ENTROPY replica audit via bucket digests (the Merkle-repair
    pattern of Cassandra / DynamoDB, flattened to one level): each copy
    of the table folds every row into a per-bucket (count, SUM of
    portable row-hash) digest — order-independent and mergeable, so each
    side is ONE partial+final aggregate over its own scan, and comparing
    replicas costs a 64-row join instead of a row-level diff. The
    "replica" here derives from the same table with two deterministic
    corruption stripes (a modified value every ~997th row-key, a dropped
    row every ~1009th), so the audit provably catches BOTH corruption
    classes: buckets hit by either stripe mismatch, clean buckets match
    (the fixture yields a mix of true and false rows). The row hash is
    seeded md5 (engine-portable), and summing 32-bit hash prefixes into
    a BIGINT cannot overflow below ~2^31 rows per bucket — at 100 TB you
    shard buckets finer (the bucket count is the audit's resolution
    knob) and push each side's aggregate to where that replica lives."""
    base = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    dst = base.filter(
        (F.col("l_orderkey") * 7 + F.col("l_linenumber")) % 1009 != 0
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            (F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 997 == 0,
            F.col("l_quantity") + 1,
        )
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity"),
    )

    def digest(df, n_col, d_col):
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ck:"),
                        F.col("l_orderkey").cast("string"),
                        F.lit(":"),
                        F.col("l_linenumber").cast("string"),
                        F.lit(":"),
                        F.col("l_quantity").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        return df.groupBy((F.col("l_orderkey") % 64).alias("bucket")).agg(
            F.count(F.lit(1)).alias(n_col), F.sum(h).alias(d_col)
        )

    fs = digest(base, "n_src", "digest_src")
    fd = digest(dst, "n_dst", "digest_dst")
    return fs.join(fd, "bucket").select(
        "bucket",
        "n_src",
        "n_dst",
        (
            (F.col("n_src") == F.col("n_dst"))
            & (F.col("digest_src") == F.col("digest_dst"))
        ).alias("match"),
    )


@register(
    "merge_three_way",
    """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus,
             ROUND(o_totalprice * 1.1, 2) AS o_totalprice, 'U' AS op
      FROM orders WHERE o_orderkey % 10 = 3
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice, 'D' AS op
      FROM orders WHERE o_orderkey % 10 = 7
      UNION ALL
      SELECT o_orderkey + 100000000, o_orderstatus,
             ROUND(o_totalprice + 5, 2), 'I' AS op
      FROM orders WHERE o_orderkey % 10 = 1),
    merged AS (
      SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS k,
             CASE WHEN s.op IN ('U', 'I') THEN s.o_orderstatus
                  ELSE t.o_orderstatus END AS st,
             CASE WHEN s.op IN ('U', 'I') THEN s.o_totalprice
                  ELSE t.o_totalprice END AS price,
             s.op
      FROM orders t FULL OUTER JOIN src s ON s.o_orderkey = t.o_orderkey)
    SELECT st AS o_orderstatus, COUNT(*) AS n,
           ROUND(1.2345e-8 + SUM(price), 4) AS total,
           CAST(COUNT(*) FILTER (op = 'U') AS BIGINT) AS n_updated,
           CAST(COUNT(*) FILTER (op = 'I') AS BIGINT) AS n_inserted
    FROM merged WHERE op IS NULL OR op <> 'D'
    GROUP BY st
    """,
    tags=("relational", "merge", "cdc"),
)
def merge_three_way(spark, sf_dir):
    """Three-branch MERGE semantics without a table format — the
    lakehouse apply primitive in pure DataFrame algebra: WHEN MATCHED
    AND op = 'D' THEN DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT
    MATCHED THEN INSERT, realized as ONE full-outer join on the merge
    key plus a CASE projection and a delete filter. The change batch
    carries all three op classes from disjoint deterministic stripes
    (updates reprice, deletes drop, inserts land above the key range),
    and the result aggregates per status WITH per-branch counters, so a
    wrong branch cannot cancel out in the totals. Scale shape: one
    key-partitioned shuffle join (Delta/Iceberg MERGE lowers to exactly
    this plus file rewrite bookkeeping); with the target bucketed on the
    key the exchange on the big side disappears — ``upsert_latest_wins``
    grades the window-based SCD1 special case, this grades the general
    three-way form."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    src = (
        o.filter(F.col("o_orderkey") % 10 == 3)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
            F.lit("U").alias("op"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 10 == 7).select(
                "o_orderkey",
                "o_orderstatus",
                "o_totalprice",
                F.lit("D").alias("op"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 10 == 1).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_orderstatus",
                F.round(F.col("o_totalprice") + 5, 2).alias("o_totalprice"),
                F.lit("I").alias("op"),
            )
        )
    )
    t = o.alias("t")
    s = src.alias("s")
    merged = t.join(
        s, F.col("s.o_orderkey") == F.col("t.o_orderkey"), "full_outer"
    ).select(
        F.when(
            F.col("s.op").isin("U", "I"), F.col("s.o_orderstatus")
        ).otherwise(F.col("t.o_orderstatus")).alias("st"),
        F.when(
            F.col("s.op").isin("U", "I"), F.col("s.o_totalprice")
        ).otherwise(F.col("t.o_totalprice")).alias("price"),
        F.col("s.op").alias("op"),
    )
    kept = merged.filter(F.col("op").isNull() | (F.col("op") != "D"))
    return kept.groupBy(F.col("st").alias("o_orderstatus")).agg(
        F.count(F.lit(1)).alias("n"),
        _r(F.sum("price")).alias("total"),
        F.count_if(F.col("op") == "U").alias("n_updated"),
        F.count_if(F.col("op") == "I").alias("n_inserted"),
    )


@register(
    "custom_python_datasink",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           ROUND(1.2345e-8 + SUM(value), 4) AS total
    FROM events WHERE event_id < 5000 GROUP BY event_type
    """,
    tags=("relational", "sink", "python-datasource", "io-write"),
    schema="event_type string, n bigint, min_id bigint, total double",
)
def custom_python_datasink(spark, sf_dir):
    """The custom-connector WRITE surface (Spark 4 Python DataSource
    ``writer()``), completing the from-scratch connector story the
    reader/stream-reader queries began: an events slice is written
    through ``ndjson_manifest`` (``sources/pyds.py``) — executor-side
    ``write(iterator)`` lands one NDJSON file per task and returns a
    commit message; driver-side ``commit(messages)`` publishes a
    manifest naming exactly the successful tasks' files — then read
    back MANIFEST-ONLY and aggregated. A stray uncommitted file is
    planted in the directory before the read: if the reader trusted
    directory listing instead of the manifest, the totals (and the
    oracle hash) would include it — so the two-phase commit contract
    itself is what this grades. The same protocol is how every table
    format achieves exactly-once under task retries; at scale the
    manifest write is the only driver-side step and is O(tasks)."""
    import json

    from dask_image_spark.sources.pyds import (
        read_manifest_files,
        register_ndjson_manifest,
    )

    register_ndjson_manifest(spark)
    out = fresh_dir("pyds_sink", sf_dir)

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    (
        ev.select("event_id", "user_id", "event_type", "value")
        .repartition(4)
        .write.format("ndjson_manifest")
        .option("path", out)
        .mode("append")
        .save()
    )
    # a stray file a failed/speculative task might leave behind — the
    # manifest-trusting reader must not see it
    with open(f"{out}/part-stray-uncommitted.jsonl", "w") as f:
        f.write(
            json.dumps(
                {"event_id": 0, "user_id": -1, "event_type": "stray",
                 "value": 1e9}
            )
            + "\n"
        )
    files = read_manifest_files(out)
    back = spark.read.schema(
        "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    ).json(files)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        _r(F.sum("value")).alias("total"),
    )


@register(
    "spatial_radius_join",
    """
    WITH pts AS (
      SELECT c_custkey AS id,
             40.0 + (('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)),
                      1, 8))::BIGINT % 100000) / 10000.0 AS lat,
             (('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)),
                      1, 8))::BIGINT % 100000) / 10000.0 AS lon
      FROM customer),
    cells AS (
      SELECT id, lat, lon,
             CAST(FLOOR(lat / 0.3) AS INT) AS cy,
             CAST(FLOOR(lon / 0.3) AS INT) AS cx
      FROM pts),
    cand AS (
      SELECT a.id AS id_a, b.id AS id_b,
             a.lat AS la, a.lon AS loa, b.lat AS lb, b.lon AS lob
      FROM cells a
      CROSS JOIN (VALUES (-1), (0), (1)) dy(d1)
      CROSS JOIN (VALUES (-1), (0), (1)) dx(d2)
      JOIN cells b ON b.cy = a.cy + dy.d1 AND b.cx = a.cx + dx.d2
                  AND b.id > a.id),
    d AS (
      SELECT id_a, id_b,
             2 * 6371.0 * ASIN(SQRT(
               POW(SIN(RADIANS(lb - la) / 2), 2)
               + COS(RADIANS(la)) * COS(RADIANS(lb))
                 * POW(SIN(RADIANS(lob - loa) / 2), 2))) AS km
      FROM cand)
    SELECT id_a, id_b, ROUND(1.2345e-8 + km, 3) AS dist_km
    FROM d WHERE km <= 20.0
    """,
    tags=("relational", "join", "spatial", "blocking"),
)
def spatial_radius_join(spark, sf_dir):
    """SPATIAL RADIUS JOIN with grid-cell blocking — all point pairs
    within 20 km, the store-catchment / geo-dedup / POI-matching
    primitive: hash-derived coordinates in a ~1100x800 km box, each
    point keyed to a 0.3-degree grid cell (cell edge > the radius'
    degree span at this latitude, so a 3x3 neighborhood provably covers
    every qualifying pair), the LEFT side exploded to its 9 neighbor
    cells, an EQUI-join on the cell key, then the exact haversine
    filter. The cross join a naive formulation needs is O(n^2) — 100 TB
    of points never survives it; cell blocking makes the pair space
    O(n x density), the same candidate-generation contract as MinHash
    bands and the levenshtein blocks, and the cell key is a plain
    shuffle-partitionable integer pair. 1615 pairs at sf0.01, distances
    0.46-20 km — the filter genuinely cuts candidates."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    def coord(seed: str, base: float):
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col("c_custkey").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
        return base + (h % 100000) / 10000.0

    pts = c.select(
        F.col("c_custkey").alias("id"),
        coord("lat:", 40.0).alias("lat"),
        coord("lon:", 0.0).alias("lon"),
    )
    cells = pts.select(
        "id", "lat", "lon",
        F.floor(F.col("lat") / 0.3).cast("int").alias("cy"),
        F.floor(F.col("lon") / 0.3).cast("int").alias("cx"),
    )
    probe = cells.select(
        F.col("id").alias("id_a"), F.col("lat").alias("la"),
        F.col("lon").alias("loa"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("d1"),
        "cy", "cx",
    ).select(
        "id_a", "la", "loa",
        (F.col("cy") + F.col("d1")).alias("jy"),
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("d2"),
        "cx",
    ).select(
        "id_a", "la", "loa", "jy", (F.col("cx") + F.col("d2")).alias("jx")
    )
    build = cells.select(
        F.col("id").alias("id_b"), F.col("lat").alias("lb"),
        F.col("lon").alias("lob"), F.col("cy").alias("jy"),
        F.col("cx").alias("jx"),
    )
    # MERGE-pinned cell join: both sides are POINT-LINEAR and the probe
    # side is explode-derived (9 neighbor cells), so the static size
    # estimate is Generate-blind and the planner broadcast it at the
    # x256 audit tier (round 11) — at the 100 TB of points the
    # docstring promises, neither side is ever broadcastable.
    cand = probe.hint("merge").join(build, ["jy", "jx"]).filter(
        F.col("id_b") > F.col("id_a")
    )
    km = (
        2 * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lb") - F.col("la")) / 2), 2)
                + F.cos(F.radians("la")) * F.cos(F.radians("lb"))
                * F.pow(
                    F.sin(F.radians(F.col("lob") - F.col("loa")) / 2), 2
                )
            )
        )
    )
    return (
        cand.withColumn("km", km)
        .filter(F.col("km") <= 20.0)
        .select("id_a", "id_b", _r(F.col("km"), 3).alias("dist_km"))
    )


@register(
    "nested_schema_pruning",
    """
    WITH li AS (
      SELECT l_orderkey, COUNT(*) AS n_items,
             ROUND(1.2345e-8 + SUM(l_quantity), 4) AS sum_qty
      FROM lineitem GROUP BY l_orderkey)
    SELECT l_orderkey AS o_orderkey, CAST(n_items AS INT) AS n_items,
           sum_qty
    FROM li
    """,
    tags=("relational", "nested", "io-write"),
    schema="o_orderkey bigint, n_items int, sum_qty double",
)
def nested_schema_pruning(spark, sf_dir):
    """NESTED-COLUMN schema pruning, round-tripped: orders nest their
    lineitems as an ``array<struct>`` (the document/denormalized layout
    an event-log or API-export table ships in), land as parquet, and the
    read-back touches ONLY ``items.l_quantity`` — Catalyst's
    ``nestedSchemaPruning`` rewrites the scan's ReadSchema to the one
    leaf (plan-pinned in tests/test_plans.py), so the 100 TB nested blob
    column is never deserialized for a one-field aggregate. The
    aggregate itself is a higher-order ``aggregate()`` over the array
    plus ``size()`` — no explode, no shuffle after the scan; the oracle
    replays the same numbers from the flat lineitem table, proving the
    nest -> write -> prune -> fold pipeline loses nothing."""
    out = fresh_dir("nested", sf_dir)

    li = load_table(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct("l_partkey", "l_quantity", "l_extendedprice")
        ).alias("items"),
        F.first("l_returnflag").alias("flag"),
    )
    nested.write.mode("overwrite").parquet(out)

    # Extract the ONE leaf as array<double> FIRST (ExtractValue is what
    # the nested-pruning rule rewrites into the scan schema); folding a
    # lambda over the raw array<struct> defeats pruning — found by the
    # plan test: the ReadSchema kept all three leaves.
    qty = F.col("items").getField("l_quantity")
    back = spark.read.parquet(out).select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.size(qty).alias("n_items"),
        _r(
            F.aggregate(
                qty, F.lit(0.0), lambda acc, x: acc + x
            )
        ).alias("sum_qty"),
    )
    return back


@register(
    "json_corrupt_records",
    """
    WITH s AS (
      SELECT event_id, event_type, value FROM events),
    cls AS (
      SELECT *, (event_id % 13 = 0) AS corrupt FROM s)
    SELECT CASE WHEN corrupt THEN '_corrupt' ELSE event_type END
             AS record_class,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(CASE WHEN corrupt THEN 0.0
                                      ELSE value END), 4) AS total
    FROM cls GROUP BY 1
    """,
    tags=("relational", "scan", "error-handling", "io-write"),
    schema="record_class string, n bigint, total double",
)
def json_corrupt_records(spark, sf_dir):
    """MALFORMED-RECORD handling — the dead-letter-queue pattern every
    real ingest needs: an NDJSON landing zone where every 13th line is
    deliberately TRUNCATED mid-object, read back in PERMISSIVE mode with
    ``columnNameOfCorruptRecord`` so bad lines surface as rows (raw text
    captured in the corrupt column) instead of failing the job or being
    silently dropped. The graded result buckets corrupt lines under
    '_corrupt' alongside the per-type rollup of the cleanly parsed rows
    — a lost OR double-counted bad line breaks the count, a parser that
    salvaged partial fields breaks the totals. At scale the corrupt
    class routes to a quarantine sink for replay (FAILFAST/DROPMALFORMED
    are the other two modes; PERMISSIVE + DLQ is the production
    default)."""
    land = fresh_dir("corrupt_land", sf_dir)

    ev = load_table(spark, sf_dir, "events")
    line = F.to_json(F.struct("event_id", "event_type", "value"))
    # truncate every 13th line mid-object -> unparseable JSON
    out_line = F.when(
        F.col("event_id") % 13 == 0, F.substring(line, 1, 15)
    ).otherwise(line)
    ev.select(out_line.alias("value")).coalesce(2).write.mode(
        "overwrite"
    ).text(land)

    back = (
        spark.read.schema(
            "event_id LONG, event_type STRING, value DOUBLE, _bad STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(land)
    )
    return (
        back.select(
            F.when(F.col("_bad").isNotNull(), F.lit("_corrupt"))
            .otherwise(F.col("event_type"))
            .alias("record_class"),
            F.coalesce(
                F.when(F.col("_bad").isNull(), F.col("value")), F.lit(0.0)
            ).alias("v"),
        )
        .groupBy("record_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.sum("v")).alias("total"),
        )
    )


@register(
    "trimmed_mean",
    """
    WITH cuts AS (
      SELECT event_type,
             ROUND(1.2345e-8 + QUANTILE_CONT(value, 0.1), 4) AS p10,
             ROUND(1.2345e-8 + QUANTILE_CONT(value, 0.9), 4) AS p90
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           ROUND(1.2345e-8 + AVG(e.value), 4) AS mean_raw,
           ROUND(1.2345e-8 + AVG(e.value) FILTER (
             e.value >= c.p10 AND e.value <= c.p90), 4) AS mean_trimmed,
           CAST(COUNT(*) FILTER (
             e.value >= c.p10 AND e.value <= c.p90) AS BIGINT) AS n_kept,
           CAST(COUNT(*) AS BIGINT) AS n_total
    FROM events e JOIN cuts c ON c.event_type = e.event_type
    GROUP BY e.event_type
    """,
    tags=("relational", "agg", "robust"),
)
def trimmed_mean(spark, sf_dir):
    """10% TRIMMED mean per type — the robust location estimate next to
    the raw mean, with kept/total counts so the trim fraction itself is
    graded. Two passes, both map-side-combinable: exact per-type
    [p10, p90] cuts (a types-bounded frame, broadcast back), then a
    filtered re-aggregate — the same broadcast-cuts posture as
    ``equidepth_bins``/``psi_drift``, never a global sort. The
    winsorize query clamps; this trims — both robustness flavors are
    graded.

    The cuts are EPS-round(4)ed on BOTH engines before the in-bounds
    comparison (round-10 x16 sweep catch): the interpolated quantile of
    a heavily-tied column can differ between Spark ``percentile`` and
    DuckDB ``QUANTILE_CONT`` in the last ulps, and a raw threshold
    sitting ON a tie group flips the whole group's membership — at the
    x4-duplicated tier that was 4 rows and a 5e-3 drift in the trimmed
    mean. Rounded cuts are tie-stable at any scale (the data grid is
    2-decimal, far coarser than the 1e-4 resolution)."""
    ev = load_table(spark, sf_dir, "events")
    cuts = ev.groupBy(F.col("event_type").alias("ctype")).agg(
        _r(F.percentile("value", F.lit(0.1))).alias("p10"),
        _r(F.percentile("value", F.lit(0.9))).alias("p90"),
    )
    j = ev.join(
        F.broadcast(cuts), F.col("event_type") == F.col("ctype")
    )
    inb = (F.col("value") >= F.col("p10")) & (F.col("value") <= F.col("p90"))
    return j.groupBy("event_type").agg(
        _r(F.avg("value")).alias("mean_raw"),
        _r(F.avg(F.when(inb, F.col("value")))).alias("mean_trimmed"),
        F.count(F.when(inb, 1)).alias("n_kept"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "ratio_to_parent",
    """
    WITH base AS (
      SELECT r.r_name, n.n_name,
             SUM(c.c_acctbal) AS bal
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name)
    SELECT r_name, n_name,
           ROUND(1.2345e-8 + bal, 4) AS bal,
           ROUND(1.2345e-8 + bal / SUM(bal) OVER (PARTITION BY r_name), 4)
             AS share_of_region,
           ROUND(1.2345e-8 + bal / SUM(bal) OVER (), 4) AS share_of_total
    FROM base
    """,
    tags=("relational", "window", "olap", "hierarchy"),
)
def ratio_to_parent(spark, sf_dir):
    """RATIO-TO-PARENT contribution analysis — each nation's share of
    its region and of the world total, the hierarchical drill-down
    every BI layer renders: one fact-scale aggregate collapses to the
    |nations| frame, then two window sums OVER the collapsed frame
    (the region partition and the global one both run over <= 25 rows —
    the unpartitioned window is domain-bounded by the dimension, not
    the data, which is what makes it admissible; the same shape at
    customer grain would partition by the parent key instead).
    Dimensions broadcast into the fact join."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum("c_acctbal").alias("bal"))
    )
    wr = Window.partitionBy("r_name")
    wt = Window.partitionBy()
    return base.select(
        "r_name", "n_name",
        _r(F.col("bal")).alias("bal"),
        _r(F.col("bal") / F.sum("bal").over(wr)).alias("share_of_region"),
        _r(F.col("bal") / F.sum("bal").over(wt)).alias("share_of_total"),
    )


@register(
    "benford_digit_test",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                               AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    n AS (SELECT COUNT(*) AS c FROM d),
    obs AS (SELECT digit, COUNT(*) AS k FROM d GROUP BY digit)
    SELECT o.digit, CAST(o.k AS BIGINT) AS n_obs,
           ROUND(1.2345e-8 + CAST(o.k AS DOUBLE) / n.c, 4) AS p_obs,
           ROUND(1.2345e-8 + LOG(1.0 + 1.0 / o.digit) / LOG(10.0), 4)
             AS p_benford,
           ROUND(1.2345e-8 + n.c
                 * POW(CAST(o.k AS DOUBLE) / n.c
                       - LOG(1.0 + 1.0 / o.digit) / LOG(10.0), 2)
                 / (LOG(1.0 + 1.0 / o.digit) / LOG(10.0)), 4) AS chi2_term
    FROM obs o CROSS JOIN n
    """,
    tags=("relational", "statistics", "fraud"),
)
def benford_digit_test(spark, sf_dir):
    """BENFORD'S LAW first-digit screen — the forensic-accounting /
    fabricated-data test: naturally occurring amounts put digit d first
    with probability log10(1 + 1/d), and invoices massaged by humans
    don't. Emits the observed and expected share per digit plus each
    digit's chi-square addend (summing the graded column IS the test
    statistic, so every digit cell is hash-checked, not one scalar).
    One combinable aggregate over the fact table into a 9-row frame —
    and a synthetic fixture is exactly the kind of data that FAILS
    Benford, which the graded per-digit gaps make visible rather than
    hiding behind a pass/fail flag."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    n = d.count()
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("k"))
    p_obs = F.col("k").cast("double") / n
    p_ben = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    return obs.select(
        "digit",
        F.col("k").cast("long").alias("n_obs"),
        _r(p_obs).alias("p_obs"),
        _r(p_ben).alias("p_benford"),
        _r(F.lit(n) * F.pow(p_obs - p_ben, 2) / p_ben).alias("chi2_term"),
    )


@register(
    "set_ops_all",
    """
    WITH a AS (SELECT event_type FROM events WHERE user_id % 4 = 0),
    b AS (SELECT event_type FROM events WHERE user_id % 2 = 0
          AND event_id % 3 = 0)
    SELECT 'intersect_all' AS op, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT event_type FROM a INTERSECT ALL SELECT event_type FROM b)
    GROUP BY event_type
    UNION ALL
    SELECT 'except_all', event_type, CAST(COUNT(*) AS BIGINT)
    FROM (SELECT event_type FROM a EXCEPT ALL SELECT event_type FROM b)
    GROUP BY event_type
    """,
    tags=("relational", "setops", "multiset"),
)
def set_ops_all(spark, sf_dir):
    """MULTISET set operations — INTERSECT ALL / EXCEPT ALL, the
    bag-semantics forms (`set_ops` grades the DISTINCT forms): per
    value, intersect-all keeps min(count_a, count_b) copies and
    except-all max(0, count_a − count_b), which is what dedup ledgers
    and reconciliation diffs actually need (a value present 5 times in
    A and 2 in B has 3 EXCESS copies — the distinct form reports
    nothing). Grading the per-type COUNTS after each op pins exactly
    the multiplicity arithmetic. Both lower to a counted anti/semi
    aggregate — no row pairing, one shuffle per side."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("user_id") % 4 == 0).select("event_type")
    b = ev.filter(
        (F.col("user_id") % 2 == 0) & (F.col("event_id") % 3 == 0)
    ).select("event_type")
    ia = a.intersectAll(b).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("intersect_all").alias("op"), "event_type", "n")
    ea = a.exceptAll(b).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("except_all").alias("op"), "event_type", "n")
    return ia.unionByName(ea)


@register(
    "not_in_null_semantics",
    """
    WITH probe AS (
      SELECT o_custkey FROM orders WHERE o_orderkey % 50 = 0),
    probe_null AS (
      SELECT o_custkey FROM probe
      UNION ALL SELECT NULL),
    base AS (SELECT c_custkey FROM customer)
    SELECT 'not_in_clean' AS variant, CAST(COUNT(*) AS BIGINT) AS n
    FROM base WHERE c_custkey NOT IN (SELECT o_custkey FROM probe)
    UNION ALL
    SELECT 'not_in_with_null', CAST(COUNT(*) AS BIGINT)
    FROM base WHERE c_custkey NOT IN (SELECT o_custkey FROM probe_null)
    UNION ALL
    SELECT 'not_exists', CAST(COUNT(*) AS BIGINT)
    FROM base b WHERE NOT EXISTS (
      SELECT 1 FROM probe_null p WHERE p.o_custkey = b.c_custkey)
    """,
    tags=("relational", "semantics", "null-logic"),
)
def not_in_null_semantics(spark, sf_dir):
    """THE NOT IN NULL TRAP, graded — three-valued logic's most common
    production incident: one NULL in the subquery makes every
    ``NOT IN`` predicate UNKNOWN, so the result silently collapses to
    ZERO rows, while ``NOT EXISTS`` (whose equality predicate never
    matches NULL) keeps returning the true anti-set. The graded table
    states all three counts side by side — clean NOT IN and NOT EXISTS
    agree, NULL-poisoned NOT IN is 0 — so the engine's three-valued
    semantics are pinned against the same ANSI behavior in DuckDB, and
    a migrating user sees exactly why the anti-join rewrite
    (`join_anti`, Q21's chain) is the safe form. Plan note: Spark
    compiles the NOT IN variants to NullAwareAntiJoin — strictly more
    expensive than the plain LeftAnti NOT EXISTS gets, a second reason
    the rewrite matters at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    probe = o.filter(F.col("o_orderkey") % 50 == 0).select("o_custkey")
    probe_null = probe.unionByName(
        probe.sparkSession.range(1).select(
            F.lit(None).cast("long").alias("o_custkey")
        )
    )
    base = c.select("c_custkey")
    base.createOrReplaceTempView("nin_base_v")
    probe.createOrReplaceTempView("nin_probe_v")
    probe_null.createOrReplaceTempView("nin_probe_null_v")
    return base.sparkSession.sql(
        """
        SELECT 'not_in_clean' AS variant, CAST(COUNT(*) AS BIGINT) AS n
        FROM nin_base_v
        WHERE c_custkey NOT IN (SELECT o_custkey FROM nin_probe_v)
        UNION ALL
        SELECT 'not_in_with_null', CAST(COUNT(*) AS BIGINT)
        FROM nin_base_v
        WHERE c_custkey NOT IN (SELECT o_custkey FROM nin_probe_null_v)
        UNION ALL
        SELECT 'not_exists', CAST(COUNT(*) AS BIGINT)
        FROM nin_base_v b WHERE NOT EXISTS (
          SELECT 1 FROM nin_probe_null_v p WHERE p.o_custkey = b.c_custkey)
        """
    )


@register(
    "scan_ignore_corrupt_files",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + SUM(value), 4) AS total
    FROM events WHERE event_id < 4000 GROUP BY event_type
    """,
    tags=("relational", "scan", "error-handling", "io-write"),
    schema="event_type string, n bigint, total double",
)
def scan_ignore_corrupt_files(spark, sf_dir):
    """FILE-level fault tolerance — the layer above the row-level
    `json_corrupt_records`: a landing directory holds three healthy
    parquet shards plus one file of garbage bytes with a .parquet name
    (the half-uploaded/truncated object every long-lived bucket
    accumulates), and the scan reads with ``ignoreCorruptFiles`` so the
    job completes on the healthy shards instead of dying on the first
    bad footer. The oracle is the clean slice's rollup — if the option
    silently dropped a HEALTHY file (the failure mode that makes this
    flag dangerous to leave on globally, which is why it is a per-read
    option here, not a session conf) the counts break. Together the two
    queries grade the ingest fault matrix: bad rows routed, bad files
    skipped, both hash-checked."""
    land = fresh_dir("corrupt_files", sf_dir)

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 4000)
    (
        ev.select("event_id", "event_type", "value")
        .repartition(3)
        .write.mode("overwrite")
        .parquet(land)
    )
    with open(f"{land}/part-zz-truncated-upload.parquet", "wb") as f:
        f.write(b"PAR1 this is not a parquet file, just a dead upload")

    back = (
        spark.read.option("ignoreCorruptFiles", "true")
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .parquet(land)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        _r(F.sum("value")).alias("total"),
    )


@register(
    "pagination_limit_offset",
    """
    SELECT o_orderkey, ROUND(1.2345e-8 + o_totalprice, 4) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
    tags=("relational", "sort", "pagination"),
)
def pagination_limit_offset(spark, sf_dir):
    """LIMIT/OFFSET pagination (page 3 of 20-row pages over a ranked
    listing) — the API-backend access pattern, and a real SQL-surface
    gap until Spark 3.4 added ``offset``. The deterministic composite
    sort key (totalprice desc, orderkey) makes every page boundary
    stable, which is the part production pagination gets wrong (ties
    split across pages re-shuffle between requests). Plan: Spark
    composes the offset into the limit (TakeOrderedAndProject fetches
    offset+limit=60 rows per partition, then skips 40 on the driver) —
    still a heap, never a global sort; deep pagination (OFFSET 10^6)
    degrades by design, and keyset pagination (WHERE key < last-seen
    ORDER BY key LIMIT n) is the documented scale escape."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(40)
        .limit(20)
        .select("o_orderkey", _r("o_totalprice").alias("total"))
    )


@register(
    "join_null_safe_eq",
    """
    WITH d AS (SELECT doc_id, NULLIF(lang, 'en') AS k FROM documents)
    SELECT a.k, COUNT(*) AS n_pairs
    FROM d a JOIN d b ON a.k IS NOT DISTINCT FROM b.k
                     AND a.doc_id < b.doc_id
    GROUP BY a.k
    """,
    tags=("relational", "join", "null-semantics"),
)
def join_null_safe_eq(spark, sf_dir):
    """NULL-SAFE EQUALITY JOIN (``<=>`` / IS NOT DISTINCT FROM): pair
    documents sharing a NULLABLE key, with NULL matching NULL — the
    semantics standard equality silently drops (a plain ``a.k = b.k``
    loses every NULL-keyed row, the classic missing-data join bug this
    query exists to pin; the NULL group's pair count is graded by
    value). Key = NULLIF(lang, 'en'), so the biggest language class
    becomes the NULL group and the miss would be loud.

    Plan: Spark hashes ``<=>`` like any equi-key (null-safe equality is
    hash-joinable — NULL gets a bucket), so this stays a
    SortMergeJoin/ShuffledHashJoin at any scale, never the nested-loop
    a residual-only null check would force. Complements
    ``not_in_null_semantics`` (anti-join side of the same trap)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr("NULLIF(lang, 'en')").alias("k")
    )
    a = d.select(F.col("doc_id").alias("ida"), "k")
    b = d.select(F.col("doc_id").alias("idb"), F.col("k").alias("kb"))
    return (
        a.join(
            b,
            F.col("k").eqNullSafe(F.col("kb"))
            & (F.col("ida") < F.col("idb")),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "url_parse_surface",
    """
    WITH u AS (
      SELECT 'https://shop' || CAST(user_id % 20 AS VARCHAR)
               || '.example.com/cat/item' || CAST(event_id % 100 AS VARCHAR)
               || '?ref=' || event_type AS url,
             user_id, event_id, event_type
      FROM events)
    SELECT 'shop' || CAST(user_id % 20 AS VARCHAR) || '.example.com' AS host,
           COUNT(*) AS n_hits,
           COUNT(DISTINCT '/cat/item' || CAST(event_id % 100 AS VARCHAR))
             AS n_paths,
           COUNT(DISTINCT 'ref=' || event_type) AS n_queries
    FROM u
    GROUP BY 1 ORDER BY 1
    """,
    tags=("relational", "string", "url"),
)
def url_parse_surface(spark, sf_dir):
    """URL PARSING (``parse_url`` HOST/PATH/QUERY) — the clickstream /
    crawl-log decomposition every web pipeline starts with, and a
    scalar-function surface DuckDB lacks, so the oracle RECONSTRUCTS
    each component definitionally from the same generator expressions:
    if parse_url mis-split any URL (dropped the port-less host, ate the
    query, confused path with query), the per-host counts and distinct
    path/query cardinalities would not match.

    Engine side parses REAL url strings with parse_url; all three
    components are exercised. One fact-scale aggregate, map-side
    combined; parse_url is JVM codegen, not a UDF."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select(
        F.concat(
            F.lit("https://shop"),
            (F.col("user_id") % 20).cast("string"),
            F.lit(".example.com/cat/item"),
            (F.col("event_id") % 100).cast("string"),
            F.lit("?ref="),
            F.col("event_type"),
        ).alias("url")
    )
    return (
        u.select(
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.parse_url("url", F.lit("PATH")).alias("path"),
            F.parse_url("url", F.lit("QUERY")).alias("query"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("path").alias("n_paths"),
            F.countDistinct("query").alias("n_queries"),
        )
        .orderBy("host")
    )


@register(
    "lateral_topk_per_key",
    """
    WITH seg AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0)
    SELECT s.c_custkey, t.o_orderkey,
           ROUND(1.2345e-8 + t.o_totalprice, 4) AS o_totalprice, t.rnk
    FROM seg s JOIN LATERAL (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rnk
      FROM orders o WHERE o.o_custkey = s.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t ON TRUE
    ORDER BY s.c_custkey, t.rnk
    """,
    tags=("relational", "sql-surface", "lateral"),
)
def lateral_topk_per_key(spark, sf_dir):
    """LATERAL correlated subquery — top-3 orders per sampled BUILDING
    customer via `JOIN LATERAL (... ORDER BY ... LIMIT 3)`, the
    SQL:2003 per-row-subquery surface Spark added with correlated
    DecorrelateInnerQuery support (SPARK-34382 line of work). The same
    result is expressible as a window-rank filter; LATERAL is the
    surface users migrating from Postgres/DuckDB/Trino actually write,
    so the engine must both ACCEPT it and plan it without a per-row
    re-scan.

    Plan: Catalyst decorrelates the lateral subquery into a
    rank-over-partition + filter on the (broadcastable) key-filtered
    join — .explain shows one Window over o_custkey, NOT an
    iterative per-customer loop; at 100 TB it is exactly the
    [[window_rank]] plan plus a semi-join-pushable key filter."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"lat_{t}")
    return spark.sql(
        """
        WITH seg AS (
          SELECT c_custkey, c_mktsegment FROM lat_customer
          WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0)
        SELECT s.c_custkey, t.o_orderkey,
               ROUND(1.2345e-8 + t.o_totalprice, 4) AS o_totalprice, t.rnk
        FROM seg s JOIN LATERAL (
          SELECT o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                   AS rnk
          FROM lat_orders o WHERE o.o_custkey = s.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 3) t ON TRUE
        ORDER BY s.c_custkey, t.rnk
        """
    )


@register(
    "gdpr_erasure_cascade",
    """
    WITH del AS (
      SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 97 = 0),
    del_orders AS (
      SELECT o.o_orderkey, d.c_nationkey
      FROM orders o JOIN del d ON d.c_custkey = o.o_custkey),
    del_items AS (
      SELECT l.l_orderkey, o.c_nationkey
      FROM lineitem l JOIN del_orders o ON o.o_orderkey = l.l_orderkey),
    cust_n AS (SELECT c_nationkey, COUNT(*) AS c FROM del GROUP BY 1),
    ord_n AS (SELECT c_nationkey, COUNT(*) AS c FROM del_orders GROUP BY 1),
    item_n AS (SELECT c_nationkey, COUNT(*) AS c FROM del_items GROUP BY 1),
    survivors AS (
      SELECT COUNT(*) AS c FROM orders o
      WHERE o.o_custkey IN (SELECT c_custkey FROM del)
        AND o.o_orderkey NOT IN (SELECT o_orderkey FROM del_orders))
    SELECT cu.c_nationkey, CAST(cu.c AS BIGINT) AS customers_erased,
           CAST(COALESCE(o.c, 0) AS BIGINT) AS orders_cascaded,
           CAST(COALESCE(i.c, 0) AS BIGINT) AS items_cascaded,
           CAST((SELECT c FROM survivors) AS BIGINT) AS leak_check
    FROM cust_n cu
    LEFT JOIN ord_n o USING (c_nationkey)
    LEFT JOIN item_n i USING (c_nationkey)
    ORDER BY cu.c_nationkey
    """,
    tags=("relational", "warehouse", "governance"),
)
def gdpr_erasure_cascade(spark, sf_dir):
    """GDPR ERASURE CASCADE audit — given a right-to-be-forgotten
    deletion set (every 97th custkey), walk the foreign-key graph
    customer -> orders -> lineitem and report, per nation, how many
    rows each table must erase, plus a leak check proving the order
    set is closed (survivor count is 0 by construction). The dry-run
    side of a deletion pipeline: production runs exactly these joins
    as anti-join rewrites ([[merge_three_way]] is the write path).

    Plan: the deletion set is tiny and BROADCASTS down the whole
    cascade — each fact table is scanned once with a broadcast
    semi-join (no fact shuffle at any step); the per-nation rollup
    aggregates the already-small cascade frontier. At 100 TB this is
    the only sane shape: the cascade frontier stays
    dimension-sized while facts stream by."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dele = cu.filter(F.col("c_custkey") % 97 == 0).select(
        "c_custkey", "c_nationkey"
    )
    del_orders = o.join(
        F.broadcast(dele), o.o_custkey == dele.c_custkey
    ).select("o_orderkey", "c_nationkey")
    del_items = li.join(
        F.broadcast(del_orders.select("o_orderkey", "c_nationkey")),
        li.l_orderkey == F.col("o_orderkey"),
    ).select("l_orderkey", "c_nationkey")
    survivors = (
        o.join(F.broadcast(dele), o.o_custkey == dele.c_custkey, "semi")
        .join(
            F.broadcast(del_orders.select("o_orderkey")), "o_orderkey", "anti"
        )
        .count()
    )
    cust_n = dele.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("cc")
    )
    ord_n = del_orders.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("oc")
    )
    item_n = del_items.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("ic")
    )
    return (
        cust_n.join(F.broadcast(ord_n), "c_nationkey", "left")
        .join(F.broadcast(item_n), "c_nationkey", "left")
        .select(
            "c_nationkey",
            F.col("cc").cast("long").alias("customers_erased"),
            F.coalesce(F.col("oc"), F.lit(0)).cast("long").alias(
                "orders_cascaded"
            ),
            F.coalesce(F.col("ic"), F.lit(0)).cast("long").alias(
                "items_cascaded"
            ),
            F.lit(survivors).cast("long").alias("leak_check"),
        )
        .orderBy("c_nationkey")
    )


@register(
    "fk_orphan_audit",
    """
    WITH o_orphans AS (
      SELECT COUNT(*) AS viol, COUNT(DISTINCT o_custkey) AS keys
      FROM orders o WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
    l_orphans AS (
      SELECT COUNT(*) AS viol, COUNT(DISTINCT l_orderkey) AS keys
      FROM lineitem l WHERE NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
    c_orphans AS (
      SELECT COUNT(*) AS viol, COUNT(DISTINCT c_nationkey) AS keys
      FROM customer c WHERE NOT EXISTS (
        SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
    SELECT 'orders->customer' AS fk, CAST(viol AS BIGINT) AS orphan_rows,
           CAST(keys AS BIGINT) AS orphan_keys
    FROM o_orphans
    UNION ALL
    SELECT 'lineitem->orders', CAST(viol AS BIGINT), CAST(keys AS BIGINT)
    FROM l_orphans
    UNION ALL
    SELECT 'customer->nation', CAST(viol AS BIGINT), CAST(keys AS BIGINT)
    FROM c_orphans
    ORDER BY fk
    """,
    tags=("relational", "warehouse", "data-quality"),
)
def fk_orphan_audit(spark, sf_dir):
    """REFERENTIAL-INTEGRITY AUDIT — orphan counts for the three
    foreign-key edges of the schema (orders->customer,
    lineitem->orders, customer->nation): rows whose FK has no parent,
    plus the distinct dangling keys. The constraint check every
    lakehouse DQ suite runs because parquet enforces nothing
    ([[dq_expectations]] covers column-level rules; this is the
    CROSS-TABLE rule). Zero everywhere on this generator — the audit's
    PASS state — with the count columns proving each anti-join
    actually executed ([[id_gap_audit]] is the intra-table cousin).

    Plan: each edge is an ANTI JOIN; the parent side streams as a
    broadcast where dimension-sized (customer, nation) and a shuffled
    semi-anti for lineitem->orders — exactly how Spark plans NOT
    EXISTS. Partial-agg counts mean no orphan row set ever
    materializes. At 100 TB the audit is 3 scans; production
    runs incrementally on new partitions only."""
    cu = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    na = load_table(spark, sf_dir, "nation")

    def audit(child, fk_col, parent, pk_col, label):
        orph = child.join(
            parent.select(F.col(pk_col).alias(fk_col)), fk_col, "anti"
        )
        return orph.agg(
            F.lit(label).alias("fk"),
            F.count(F.lit(1)).cast("long").alias("orphan_rows"),
            F.countDistinct(fk_col).cast("long").alias("orphan_keys"),
        )
    return (
        audit(o, "o_custkey", cu, "c_custkey", "orders->customer")
        .unionAll(audit(li, "l_orderkey", o, "o_orderkey",
                        "lineitem->orders"))
        .unionAll(audit(cu, "c_nationkey", na, "n_nationkey",
                        "customer->nation"))
        .orderBy("fk")
    )


@register(
    "histogram_2d",
    """
    SELECT CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qty_bin,
           CAST(FLOOR(l_discount * 20) AS BIGINT) AS disc_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + AVG(l_extendedprice), 4) AS avg_price
    FROM lineitem
    GROUP BY 1, 2 ORDER BY qty_bin, disc_bin
    """,
    tags=("relational", "statistics", "profiling"),
)
def histogram_2d(spark, sf_dir):
    """2-D HISTOGRAM (joint distribution heatmap) — fixed-width binning
    on (quantity/10, discount*0.05) with per-cell counts AND a per-cell
    mean of a third measure, i.e. the exact aggregation behind every
    density heatmap and binned-scatter diagnostic. Integer bin edges
    via FLOOR keep cell assignment bit-exact; [[equidepth_bins]] is the
    adaptive-width 1-D cousin, [[measure_histogram]] the per-label
    imaging one.

    Plan: pure partial-agg groupBy on derived integer keys — map-side
    combine collapses to |cells| rows before the (tiny) shuffle.
    The optimal 100 TB plan: one scan, O(cells) exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.floor(F.col("l_quantity") / 10).cast("long").alias("qty_bin"),
            F.floor(F.col("l_discount") * 20).cast("long").alias(
                "disc_bin"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            _eps_round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
        .orderBy("qty_bin", "disc_bin")
    )


_ORDERED_SET_SQL = """
    SELECT l_returnflag,
           ROUND(1.2345e-8 + percentile_cont(0.25)
             WITHIN GROUP (ORDER BY l_quantity), 4) AS p25_cont,
           ROUND(1.2345e-8 + percentile_cont(0.9)
             WITHIN GROUP (ORDER BY l_quantity), 4) AS p90_cont,
           ROUND(1.2345e-8 + percentile_disc(0.5)
             WITHIN GROUP (ORDER BY l_quantity), 4) AS p50_disc,
           ROUND(1.2345e-8 + regr_slope(l_extendedprice, l_quantity), 4)
             AS slope,
           ROUND(1.2345e-8 + regr_intercept(l_extendedprice, l_quantity), 4)
             AS intercept,
           ROUND(1.2345e-8
                 + regr_r2(l_extendedprice, l_quantity) * 1000000, 4)
             AS r2_ppm,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS n_disc_gt5,
           bool_and(l_quantity > 0) AS all_pos_qty,
           bool_or(l_discount > 0.09) AS any_deep_disc
    FROM {tbl} GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register(
    "ordered_set_regr_surface",
    _ORDERED_SET_SQL.format(tbl="lineitem"),
    tags=("relational", "sql-surface", "aggregates"),
)
def ordered_set_regr_surface(spark, sf_dir):
    """ORDERED-SET + REGRESSION + BOOLEAN AGGREGATE SURFACE — the
    SQL:2008 ordered-set aggregates (percentile_cont interpolated /
    percentile_disc exact-row WITHIN GROUP), the full bivariate
    regr_* family (slope, intercept, R^2 — the one-call OLS every BI
    tool issues; [[ols_two_feature]] is its multivariate big sibling),
    and the boolean folds count_if / bool_and / bool_or, all in ONE
    grouped query executed from the SAME SQL text on both engines
    (the [[sql_group_by_all]] house rule for surface queries). R^2 is
    reported in ppm because its raw magnitude (~1e-7) would vanish at
    the 4-decimal compare — scaling, not loosening, the contract.

    Plan: ONE partial-agg pass — the regr_* and boolean aggregates
    all map-side combine; the exact percentiles are the only
    sort-requiring members and Spark plans them as a single per-group
    sort shared by all three WITHIN GROUP calls. At 100 TB you swap
    percentile_cont for [[approx_quantiles_bounded]]'s GK sketch and
    keep everything else unchanged."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "osr_lineitem"
    )
    return spark.sql(_ORDERED_SET_SQL.format(tbl="osr_lineitem"))


@register(
    "sql_udf_surface",
    """
    SELECT l_returnflag,
           ROUND(1.2345e-8 + SUM(l_extendedprice * (1.0 - l_discount)), 4)
             AS net_revenue,
           CAST(SUM(CASE WHEN l_quantity >= 40 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bulk
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("relational", "sql-surface", "udf"),
)
def sql_udf_surface(spark, sf_dir):
    """SQL-DEFINED FUNCTIONS (SQL UDFs, SPARK-51086 line of Spark 4
    work): CREATE TEMPORARY FUNCTION ... RETURNS ... RETURN <expr> —
    scalar functions authored IN SQL, which Catalyst INLINES into the
    calling plan, so unlike Python UDFs they cost nothing (stay inside
    WholeStageCodegen, keep pushdown and partial aggregation). The
    engine query defines `net(p, d)` and a `bulk(q)` classifier and
    computes revenue through them; the oracle verifies the identical
    algebra inlined by hand — semantic parity of definition vs
    expansion is exactly the SQL-UDF contract.

    Plan: indistinguishable from writing the expressions inline (that
    is the point) — one partial-agg scan; .explain shows no UDF
    boundary at all. At 100 TB SQL UDFs are the ONLY udf flavor with
    zero scale penalty; the pandas/Arrow surfaces
    ([[udaf_geomean]] etc.) exist for what SQL cannot express."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "udf_lineitem"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION bulk(q DOUBLE) "
        "RETURNS INT RETURN CASE WHEN q >= 40 THEN 1 ELSE 0 END"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               ROUND(1.2345e-8 + SUM(net(l_extendedprice, l_discount)), 4)
                 AS net_revenue,
               CAST(SUM(bulk(l_quantity)) AS BIGINT) AS n_bulk
        FROM udf_lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


_LCA_SQL = """
    SELECT l_returnflag,
           ROUND(1.2345e-8 + AVG(gross_margin), 4) AS avg_gross_margin
    FROM (
      SELECT l_returnflag,
             l_extendedprice * (1.0 - l_discount) AS net,
             net * (1.0 + l_tax) AS gross,
             (gross - net) / gross AS gross_margin
      FROM {tbl})
    GROUP BY l_returnflag ORDER BY l_returnflag
"""


@register(
    "lateral_column_alias",
    _LCA_SQL.format(tbl="lineitem"),
    tags=("relational", "sql-surface"),
)
def lateral_column_alias(spark, sf_dir):
    """LATERAL COLUMN ALIASES (SPARK-27561, on by default since 3.4) —
    a SELECT item referencing an alias defined EARLIER IN THE SAME
    SELECT (net -> gross -> gross_margin), the chained-derivation
    style analysts write everywhere and ANSI SQL technically forbids;
    DuckDB adopted the same extension, so ONE shared text runs
    verbatim on both engines (the [[sql_group_by_all]] rule). Catalyst
    rewrites the chain into nested projections at analysis time — no
    CTE boilerplate, no repeated subexpressions in user code.

    Plan: after rewrite the three aliases collapse into one codegen'd
    projection (common subexpressions shared), feeding a partial-agg
    groupBy — the same single-scan plan the fully-inlined form gets.
    Zero scale cost; purely a surface contract."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lca_lineitem"
    )
    return spark.sql(_LCA_SQL.format(tbl="lca_lineitem"))


@register(
    "bitmap_exact_distinct",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
             AS n_distinct_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "sql-surface", "bitmap"),
)
def bitmap_exact_distinct(spark, sf_dir):
    """BITMAP-ROLLUP EXACT DISTINCT (the Spark 3.5 bitmap function
    family): partition each key's id space into 32k-bit buckets
    (bitmap_bucket_number), OR together per-bucket bitmaps
    (bitmap_construct_agg of bitmap_bit_position), and SUM the
    per-bucket popcounts (bitmap_count) — EXACT COUNT(DISTINCT)
    computed as a two-level partial aggregate. This is the
    materializable form: the per-(key, bucket) bitmaps are a stored
    rollup that refreshes incrementally with bitmap_or_agg and answers
    distinct-count queries WITHOUT rescanning facts — what
    COUNT(DISTINCT) (one big shuffle of raw ids, no reusable state)
    and [[approx_distinct]] (approximate) both cannot give you. The
    oracle IS COUNT(DISTINCT): bit-for-bit agreement is the contract.

    Plan: groupBy (key, bucket) with map-side bitmap ORs — shuffle
    carries O(buckets) 4KB bitmaps, not O(rows) ids — then a tiny
    popcount-sum per key. At 100 TB with billions of distinct ids
    this is the standard exact-distinct materialization pattern."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("bm_events")
    return spark.sql(
        """
        SELECT event_type,
               CAST(SUM(cnt) AS BIGINT) AS n_distinct_users
        FROM (
          SELECT event_type, bitmap_bucket_number(user_id) AS bkt,
                 bitmap_count(
                   bitmap_construct_agg(bitmap_bit_position(user_id)))
                   AS cnt
          FROM bm_events GROUP BY event_type,
               bitmap_bucket_number(user_id))
        GROUP BY event_type ORDER BY event_type
        """
    )


@register(
    "dp_noisy_counts",
    """
    WITH g AS (
      SELECT c_nationkey, CAST(COUNT(*) AS DOUBLE) AS n FROM customer
      GROUP BY c_nationkey),
    u AS (
      SELECT c_nationkey, n,
             (CAST('0x' || substr(md5('dp:' ||
                    CAST(c_nationkey AS VARCHAR)), 1, 8) AS BIGINT)
              + 0.5) / 4294967296.0 - 0.5 AS uu
      FROM g)
    SELECT c_nationkey, CAST(n AS BIGINT) AS true_n,
           ROUND(1.2345e-8 + n - CASE WHEN uu < 0 THEN -1.0 ELSE 1.0 END
                 * LN(1.0 - 2.0 * ABS(uu)), 4) AS noisy_n
    FROM u ORDER BY c_nationkey
    """,
    tags=("relational", "governance", "privacy"),
)
def dp_noisy_counts(spark, sf_dir):
    """DIFFERENTIALLY-PRIVATE COUNTS (epsilon=1 Laplace mechanism) —
    per-nation customer counts released with Laplace(1/eps) noise via
    the inverse-CDF transform noise = -b * sign(u) * ln(1 - 2|u|),
    u ~ Uniform(-1/2, 1/2): count sensitivity is 1, so eps=1 needs
    scale b=1. The noise is SEEDED (salted md5 of the group key mapped
    to a uniform), making the release deterministic and thus strong-
    oracle checkable — in production you'd draw fresh randomness; the
    pipeline shape (aggregate -> per-group seeded noise -> release) is
    identical. Completes the privacy surface next to
    [[k_anonymity_violations]] / [[l_diversity_audit]]: suppression,
    generalization auditing, and now noise addition. The +0.5 bias in
    the uniform keeps |u| strictly below 1/2 (no ln(0) edge).

    Plan: partial-agg count, then map-only noise on the group frame —
    privacy costs nothing at any scale; the md5-hex-to-int text is the
    engine seam ('0x' cast in DuckDB, conv() in Spark) with the SAME
    integer contract."""
    cu = load_table(spark, sf_dir, "customer")
    g = cu.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    hexint = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("dp:"), F.col("c_nationkey").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    uu = (hexint + 0.5) / 4294967296.0 - 0.5
    noise = (
        F.when(uu < 0, -1.0).otherwise(1.0)
        * F.log(1.0 - 2.0 * F.abs(uu))
    )
    return g.select(
        "c_nationkey",
        F.col("n").cast("long").alias("true_n"),
        _eps_round(F.col("n") - noise, 4).alias("noisy_n"),
    ).orderBy("c_nationkey")


@register(
    "sql_scripting_block",
    """
    WITH ks AS (SELECT unnest(generate_series(0, 12)) AS k),
    cnt AS (
      SELECT k.k, POW(2, k.k) AS thr,
             (SELECT COUNT(*) FROM events e WHERE e.value > POW(2, k.k))
               AS n_above
      FROM ks k),
    pick AS (
      SELECT * FROM cnt WHERE n_above < 100 ORDER BY k LIMIT 1),
    -- the script's WHILE also exits at k = 12 when NO threshold
    -- qualifies and still reports that final state; mirror it exactly
    -- so no-solution fixtures cannot de-pair the engines (ADVICE r9)
    fallback AS (
      SELECT * FROM cnt
      WHERE k = 12 AND NOT EXISTS (SELECT 1 FROM pick)),
    final AS (
      SELECT * FROM pick UNION ALL SELECT * FROM fallback)
    SELECT CAST(k AS INT) AS k,
           ROUND(1.2345e-8 + thr, 1) AS threshold,
           CAST(n_above AS BIGINT) AS n_above
    FROM final
    """,
    tags=("relational", "sql-surface", "scripting"),
)
def sql_scripting_block(spark, sf_dir):
    """SQL SCRIPTING (Spark 4 ``BEGIN ... END`` procedural blocks): a
    DECLARE/WHILE/SET script doubles a threshold until fewer than 100
    events exceed it, then SELECTs the found (k, 2^k, count) — the
    ISO/IEC 9075-4 stored-procedure subset Spark 4 ships
    (session-variable state, loops, per-iteration scalar subqueries),
    the migration surface for warehouse procedures. The ORACLE states
    the declarative equivalent — the minimal k over the candidate
    ladder, ELSE the k=12 exhaustion row, exactly the script's two exit
    paths — so the grade certifies the script's control flow terminates
    at the same fixpoint on EVERY fixture, including one where no
    threshold qualifies. The loop runs <= 13 aggregate queries, each a
    single partial-agg scan.

    Scale note: procedural scripts orchestrate; each statement inside
    still plans through Catalyst, so the 100-TB posture is that of the
    inner aggregates (one scan per iteration here — a production
    script would bisect or precompute the count-by-power histogram in
    ONE scan, which is exactly what the oracle's form does)."""
    old_scripting = spark.conf.get("spark.sql.scripting.enabled")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "ev_scripting_block"
    )
    try:
        return spark.sql(
            """
            BEGIN
              DECLARE k INT DEFAULT 0;
              DECLARE n_above BIGINT DEFAULT 0;
              SET n_above = (SELECT COUNT(*) FROM ev_scripting_block
                             WHERE value > 1.0);
              WHILE n_above >= 100 AND k < 12 DO
                SET k = k + 1;
                SET n_above = (SELECT COUNT(*) FROM ev_scripting_block
                               WHERE value > POW(2, k));
              END WHILE;
              SELECT CAST(k AS INT) AS k,
                     ROUND(POW(2, k) + 1.2345e-8, 1) AS threshold,
                     CAST(n_above AS BIGINT) AS n_above;
            END
            """
        )
    finally:
        # the flag gates script PARSING, already done by here — restore
        # so sibling queries never see the session-wide flip (ADVICE r9)
        spark.conf.set("spark.sql.scripting.enabled", old_scripting)


@register(
    "sql_execute_immediate",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(1.2345e-8 + AVG(value), 4) AS avg_value
    FROM events WHERE value > 50.0
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("relational", "sql-surface", "dynamic-sql"),
)
def sql_execute_immediate(spark, sf_dir):
    """DYNAMIC SQL via ``EXECUTE IMMEDIATE ... USING`` (Spark 4): the
    query text is a runtime STRING with a named parameter marker
    (:thr), bound positionally at execution — the injection-safe
    dynamic-SQL surface (vs string concatenation) that migration
    tooling and multi-tenant report builders rely on. The oracle
    states the fully-bound static query; the grade certifies the
    parameter binding and dynamic compilation produce the identical
    plan and result.

    Plan: after binding, this IS the static aggregate — one
    partial-agg scan; EXECUTE IMMEDIATE adds zero runtime cost."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "ev_exec_immediate"
    )
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                  ROUND(AVG(value) + 1.2345e-8, 4) AS avg_value
           FROM ev_exec_immediate WHERE value > :thr
           GROUP BY event_type ORDER BY event_type'
          USING 50.0 AS thr
        """
    )


@register(
    "scan_agg_pushdown",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(event_id) AS BIGINT) AS min_id,
           CAST(MAX(event_id) AS BIGINT) AS max_id
    FROM events
    """,
    tags=("relational", "scan", "pushdown"),
)
def scan_agg_pushdown(spark, sf_dir):
    """PARQUET AGGREGATE PUSHDOWN — COUNT/MIN/MAX answered from footer
    STATISTICS, never decoding a single data page: the DSv2 scan
    reports ``PushedAggregation: [COUNT(*), MIN(..), MAX(..)]`` and
    the job reads row-group metadata only. THE metadata-query pattern
    at 100 TB (a full-table COUNT becomes thousands of footer reads
    instead of a 100-TB decode — minutes to sub-second). Requires the
    V2 parquet source; the V1 list conf is flipped for THIS read and
    restored immediately (the relation captures the choice), so
    sibling queries in the same session are untouched. The plan pin
    asserts the PushedAggregation marker.

    Note events is read RAW here (event_id stats only, no ts
    normalization needed — the normalizer would add a projection that
    defeats pushdown; that trade-off is the query's documentation)."""
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    old_push = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        agg = df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
        # Pushdown is applied by the OPTIMIZER, not the reader — force the
        # plan compilation now, while the conf is on. QueryExecution caches
        # its plans (lazy vals), so the later explain/collect on THIS frame
        # reuses the pushed plan even after the conf is restored below.
        agg._jdf.queryExecution().executedPlan()
    finally:
        # restore BOTH confs (ADVICE r9: leaving aggregatePushdown on
        # silently changed the plan shape of any later DSv2 aggregate
        # in the same session)
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_push)
    return agg


@register(
    "scan_xml_roundtrip",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("relational", "scan", "sink", "xml"),
)
def scan_xml_roundtrip(spark, sf_dir):
    """XML sink + scan (Spark 4's NATIVE xml data source — the former
    spark-xml package, now built in): write (doc_id, lang, n_chars)
    as row-tagged XML documents, read them back with an explicit
    schema and rowTag, aggregate. The enterprise-interchange format
    the CSV/JSON/ORC roundtrip family was missing; values must
    survive element encoding exactly (the parquet oracle checks).

    Plan: the XML source splits by files like json — write-side
    shard count controls read parallelism; schema is explicit
    (inference off, the scale-safe discipline of
    [[scan_csv_roundtrip]])."""
    import os

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = f"{io_base()}/xml_{tag}"
    (
        d.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .save(path)
    )
    back = (
        spark.read.schema("doc_id LONG, lang STRING, n_chars LONG")
        .format("xml")
        .option("rowTag", "doc")
        .load(path)
    )
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.max("doc_id").cast("long").alias("max_doc"),
        )
        .orderBy("lang")
    )


@register(
    "sql_collation_surface",
    """
    WITH noised AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
               AS src
      FROM documents),
    dim AS (SELECT DISTINCT upper(source) AS dsrc FROM documents)
    SELECT lower(d.dsrc) AS source,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST((SELECT COUNT(DISTINCT lower(src)) FROM noised) AS BIGINT)
             AS n_distinct_ci
    FROM noised n JOIN dim d ON lower(n.src) = lower(d.dsrc)
    GROUP BY d.dsrc ORDER BY source
    """,
    tags=("relational", "sql-surface", "collation"),
)
def sql_collation_surface(spark, sf_dir):
    """STRING COLLATIONS (Spark 4's engine-level collation support): a
    case-NOISED fact column (every even doc_id upper-cased) joins a
    dimension of upper-cased sources under ``COLLATE UTF8_LCASE``
    equality — no lower() wrapping on the engine side; the collation
    IS the comparison semantics, applied by the join operator itself
    — and the distinct-source count runs under the same collation.
    The oracle states the lower()-normalized equivalent, certifying
    the collated join/distinct semantics equal explicit folding. The
    surface matters at scale because collated comparisons keep
    codegen (no per-row lower() materialization) and let the
    optimizer reason about the collation key.

    Plan: broadcast dim join + one partial agg; the scalar
    count-distinct is a 1-row broadcast."""
    d = load_table(spark, sf_dir, "documents")
    noised = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0, F.upper("source")
        ).otherwise(F.col("source")).alias("src"),
    )
    dim = d.select(F.upper("source").alias("dsrc")).distinct()
    noised.createOrReplaceTempView("coll_noised")
    dim.createOrReplaceTempView("coll_dim")
    return spark.sql(
        """
        SELECT lower(d.dsrc) AS source,
               CAST(COUNT(*) AS BIGINT) AS n_matched,
               CAST((SELECT COUNT(DISTINCT src COLLATE UTF8_LCASE)
                     FROM coll_noised) AS BIGINT) AS n_distinct_ci
        FROM coll_noised n JOIN coll_dim d
          ON n.src COLLATE UTF8_LCASE = d.dsrc COLLATE UTF8_LCASE
        GROUP BY d.dsrc ORDER BY source
        """
    )


@register(
    "observe_metrics_surface",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high,
           ROUND(1.2345e-8 + AVG(value), 4) AS avg_value,
           ROUND(1.2345e-8 + MAX(value), 4) AS max_value
    FROM events
    """,
    tags=("relational", "observability", "io-write"),
    schema="n_rows bigint, n_high bigint, avg_value double, max_value double",
)
def observe_metrics_surface(spark, sf_dir):
    """``df.observe()`` — Spark's zero-cost pipeline observability API:
    named aggregate metrics attach to a DataFrame and are computed AS
    A SIDE EFFECT of whatever action runs (no second scan, no separate
    job) — the mechanism behind every production data-quality monitor
    that can't afford [[dq_expectations]]-style re-reads. The query
    attaches row-count / threshold-violation / mean / distinct-type
    metrics to a pass-through projection, drives one action, and
    returns the OBSERVED values as the result frame — the oracle
    recomputes them directly, certifying the observation channel
    reports exactly what a first-class aggregate would.

    Plan: the observation is a map-side accumulator merged on the
    driver — zero extra shuffles at any scale; that IS the API's
    value over a separate metrics query."""
    from pyspark.sql import Observation

    ev = load_table(spark, sf_dir, "events")
    obs = Observation("dq")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("value") > 90, 1).otherwise(0))
        .cast("long")
        .alias("n_high"),
        F.avg("value").alias("avg_value"),
        # DISTINCT aggregates are rejected in observed metrics (they
        # can't be computed as accumulator merges) — max stands in
        F.max("value").alias("max_value"),
    )
    observed.count()  # the action that populates the observation
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_high"],
                float(m["avg_value"]),
                float(m["max_value"]),
            )
        ],
        "n_rows long, n_high long, avg_value double, max_value double",
    ).select(
        "n_rows", "n_high",
        _eps_round("avg_value", 4).alias("avg_value"),
        _eps_round("max_value", 4).alias("max_value"),
    )


@register(
    "xpath_extract_surface",
    """
    WITH x AS (
      SELECT doc_id,
             '<doc><id>' || CAST(doc_id AS VARCHAR) || '</id><lang>'
               || lang || '</lang><len>' || CAST(n_chars AS VARCHAR)
               || '</len></doc>' AS xml
      FROM documents),
    parsed AS (
      SELECT doc_id,
             regexp_extract(xml, '<lang>([^<]*)</lang>', 1) AS lang,
             CAST(regexp_extract(xml, '<len>([0-9]+)</len>', 1)
                  AS BIGINT) AS n_chars
      FROM x)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM parsed GROUP BY lang ORDER BY lang
    """,
    tags=("relational", "sql-surface", "xml"),
)
def xpath_extract_surface(spark, sf_dir):
    """XPATH SCALAR FUNCTIONS — Spark's ``xpath_string`` /
    ``xpath_long`` evaluate real XPath expressions against XML string
    columns (the in-row companion of the [[scan_xml_roundtrip]] file
    source; ETL over message-bus XML payloads lives on these). The
    engine builds an XML fragment per document and extracts fields
    through genuine XPath node queries; the oracle states the
    regexp-extraction equivalent over the same generated fragments —
    passing certifies the XPath engine's extraction semantics on this
    schema, not merely string math.

    Plan: map-only string construction + XPath evaluation (JVM-side,
    codegen'd), then one partial agg — a pure scalar-function
    surface, single scan at any scale."""
    d = load_table(spark, sf_dir, "documents")
    xml = F.concat(
        F.lit("<doc><id>"), F.col("doc_id").cast("string"),
        F.lit("</id><lang>"), F.col("lang"),
        F.lit("</lang><len>"), F.col("n_chars").cast("string"),
        F.lit("</len></doc>"),
    )
    parsed = (
        d.select("doc_id", xml.alias("xml"))
        .select(
            F.expr("xpath_string(xml, '/doc/lang/text()')").alias("lang"),
            F.expr("xpath_long(xml, '/doc/len/text()')").alias("n_chars"),
        )
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang")
    )
