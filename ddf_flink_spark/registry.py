"""Query registry: the driver-facing correctness surface.

Every implemented operator from SURVEY.md §2 gets a named entry here:
a PySpark callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL can
express it) an equivalent DuckDB oracle SQL string. The driver runs both at
sf0.01 and hash-compares row counts, schemas and values.

Conventions that keep the hash comparison honest:
* every computed column is aliased identically in Spark and SQL;
* Spark ``year()``/``count()`` etc. are cast so physical types line up with
  DuckDB (int64 for counts/years, double for money aggregates);
* floating aggregates are rounded (4 decimals) on BOTH sides so
  summation-order fp noise can't flip the hash;
* ORDER BY ... LIMIT queries use a unique (tie-broken) sort key so both
  engines pick the same rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import propagate_checkpoint_ids as _carry
# _carry: ownership transfer for checkpoint-pinning frames (storage.py).
# A query that DERIVES from a dedup/pagerank result should
# _carry(derived, source) so the ids ride the returned frame and
# release_checkpoint(result) is exact. GC-drop of an uncarried source is
# SAFE (bounded leak, reclaimed by the session ledger at boundary
# release) — auto-free-at-GC is opt-in via storage.auto_release_on_gc
# and only for terminal frames.

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle.strip()
        return fn

    return deco


def _session_tmp(name: str) -> str:
    """Per-process sink path under the system temp dir.

    Constant WITHIN a process — repeated runs of a query reuse and
    overwrite ONE sink, never accumulate — but distinct ACROSS
    processes, so two concurrent gate/bench sessions on one box can
    never interleave overwrite/read on each other's sinks (a fixed
    ``/tmp/ddf_qNN`` path would corrupt both and read as a false oracle
    mismatch). The whole per-process directory is removed at
    interpreter exit so pid churn doesn't leak table copies into the
    temp dir across sessions."""
    import atexit
    import os
    import shutil
    import tempfile

    base = os.path.join(tempfile.gettempdir(), f"ddf_sinks_{os.getpid()}")
    if not os.path.isdir(base):
        os.makedirs(base, exist_ok=True)
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    return os.path.join(base, name)


_SHIPPED: set[str] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship this package to Spark's Python workers via addPyFile.

    The driver imports us from a path its workers don't share, so any
    pandas-UDF closure that references this package by module name would
    fail to unpickle worker-side. Internal closures are written
    self-contained anyway (see functions/multimodal.py), but shipping the
    zip makes user-supplied ``transform_map_partitions`` functions that
    import the package work too."""
    import os
    import tempfile
    import zipfile

    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), f"ddf_flink_spark_{os.getpid()}.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fname in files:
                if fname.endswith(".py"):
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "ddf_flink_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(app_id)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_shipped(spark)
    if name == "events":
        return events_table(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table's ``ts`` has shipped as both TIMESTAMP(NANOS) —
    which Spark's vectorized reader rejects — and plain microsecond
    TIMESTAMP, depending on the generator version. Handle both: nanos are
    read as long (legacy conf) and converted JVM-side (``ts div 1000``
    stays in integer arithmetic — no precision loss); native timestamps
    (incl. TIMESTAMP_NTZ under Spark's NTZ inference) are cast to the
    session-zoned type (identity under the UTC session timezone)."""
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    if isinstance(raw.schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


# ---------------------------------------------------------------------------
# §2.2/§2.5 SQL surface: flagship aggregation queries
# ---------------------------------------------------------------------------


@query(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
           ROUND(AVG(l_discount), 4)                                        AS avg_disc,
           COUNT(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filter → groupBy → multi-agg. The reference's richest
    SQL path (filter+group+agg, ``etl/SqlHandlerSpec.scala:99-104`` analog).

    Scale notes: predicate pushes to the parquet scan; Catalyst runs
    partial aggregation map-side so the shuffle carries ≤ |groups| rows per
    partition; whole query is one scan + one small shuffle.
    """
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q02_orders_by_month",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS BIGINT)  AS o_year,
           CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
           COUNT(*)                           AS n_orders,
           ROUND(SUM(o_totalprice), 2)        AS total_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY o_year DESC, o_month DESC
    LIMIT 5
    """,
)
def q02_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship demo query shape — group by year/month,
    order desc, limit (``etl/SqlHandlerSpec.scala:99-104``: ``select Year,
    Month, count(Cancelled) from airline group by Year, Month order by Year
    desc limit 5``) on the orders table.

    (o_year, o_month) is unique per group so the LIMIT is deterministic.
    """
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy(F.col("o_year").desc(), F.col("o_month").desc())
        .limit(5)
    )


# ---------------------------------------------------------------------------
# §2.3 projection / filter / predicates
# ---------------------------------------------------------------------------


@query(
    "q03_project_filter",
    oracle="""
    SELECT l_orderkey, l_partkey, ROUND(l_extendedprice, 2) AS price
    FROM lineitem
    WHERE l_quantity > 45 AND l_discount BETWEEN 0.05 AND 0.07
    """,
)
def q03_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + conjunctive predicate (VIEWS.project/subset,
    ``ViewHandlerSpec.scala:12-25``, WHERE ``SqlHandler.scala:74``).
    Both the filter and the 4-column read schema push into the parquet scan.
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_quantity") > 45) & F.col("l_discount").between(0.05, 0.07))
        .select("l_orderkey", "l_partkey", F.round("l_extendedprice", 2).alias("price"))
    )


@query(
    "q04_grep_like",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE REGEXP_MATCHES(p_name, 'red|ring')
    """,
)
def q04_grep_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex row filter — the grep the reference refuses
    (``content/ViewHandler.scala:43-50``), native in Spark via rlike."""
    p = t(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike("red|ring")).select(
        "p_partkey", "p_name", "p_brand"
    )


# ---------------------------------------------------------------------------
# §2.4 joins — every reference join type + anti (extension)
# ---------------------------------------------------------------------------


@query(
    "q05_join_inner",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           COUNT(*) AS n,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def q05_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INNER equi-join (``utils/package.scala:296-305``) + rollup.
    customer is the small side → broadcast (no shuffle of orders)."""
    o, c = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )


@query(
    "q06_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000
    """,
)
def q06_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER with null padding (``utils/package.scala:260-270``)."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 400000)
    return c.join(o, cond, "left").select("c_custkey", "c_name", "o_orderkey")


@query(
    "q07_join_right",
    oracle="""
    SELECT n.n_name, c.c_custkey
    FROM customer c RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def q07_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER (``utils/package.scala:272-281``)."""
    c, n = t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation")
    return c.join(n, c.c_nationkey == n.n_nationkey, "right").select("n_name", "c_custkey")


@query(
    "q08_join_full",
    oracle="""
    WITH big_cust AS (SELECT * FROM customer WHERE c_acctbal > 9000),
         big_ord  AS (SELECT * FROM orders   WHERE o_totalprice > 450000)
    SELECT bc.c_custkey, bo.o_orderkey
    FROM big_cust bc FULL JOIN big_ord bo ON bc.c_custkey = bo.o_custkey
    """,
)
def q08_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER with both-side padding (``utils/package.scala:283-294``)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "full").select("c_custkey", "o_orderkey")


@query(
    "q09_join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q09_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI — true semi semantics (each left row once), fixing the
    reference's multiplicity bug (``utils/package.scala:296-305`` crosses
    groups; SURVEY §7.3)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q10_join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_totalprice > 300000)
    """,
)
def q10_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI — absent from the reference (SURVEY §2.4 'not present'),
    free in Spark; included as the NOT EXISTS building block. The right
    side is FILTERED (no big urgent order) so the result is non-trivial
    at every scale factor — an anti join against the bare orders table is
    empty here (every customer has orders), which would make the oracle
    hash-match vacuous."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000)
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "q11_multiway_join",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           COUNT(*) AS n_customers, ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
)
def q11_multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FROM-list multi-join (``SqlSupport.scala:163-187`` comma relations +
    JOIN chain). Both dims broadcast: zero shuffles of the fact table."""
    c, n, r = t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("n_customers"), F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"))
    )


@query(
    "q12_merge_union_all",
    oracle="""
    SELECT c_custkey AS custkey, c_acctbal AS acctbal FROM customer WHERE c_acctbal < 1000
    UNION ALL
    SELECT c_custkey AS custkey, c_acctbal AS acctbal FROM customer WHERE c_acctbal > 9000
    """,
)
def q12_merge_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge = UNION ALL with identical columns (``etl/JoinHandler.scala:42-61``)."""
    from .operators.joins import merge

    c = t(spark, sf_dir, "customer")
    lo = c.filter(F.col("c_acctbal") < 1000).select(
        F.col("c_custkey").alias("custkey"), F.col("c_acctbal").alias("acctbal")
    )
    hi = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("custkey"), F.col("c_acctbal").alias("acctbal")
    )
    return merge(lo, hi)


# ---------------------------------------------------------------------------
# §2.7 sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "q13_topk",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q13_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIEWS.top(n, col, dir) (docs/demo.md:50) → TakeOrderedAndProject:
    distributed per-partition top-k, replacing the reference's
    parallelism=1 global sort (``utils/package.scala:369-395``).
    o_orderkey tie-break keeps the rowset deterministic."""
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"))
    )


@query(
    "q14_order_by_multi",
    oracle="""
    SELECT n_name, r_regionkey
    FROM nation JOIN region ON n_regionkey = r_regionkey
    ORDER BY r_regionkey DESC, n_name ASC
    """,
)
def q14_order_by_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column asc/desc ORDER BY (``Sorts.sort``,
    ``utils/package.scala:368-395``) as a distributed range-partitioned sort."""
    n, r = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .orderBy(F.col("r_regionkey").desc(), F.col("n_name").asc())
        .select("n_name", "r_regionkey")
    )


# ---------------------------------------------------------------------------
# §2.9 scalar functions wired in the reference grammar
# ---------------------------------------------------------------------------


@query(
    "q15_scalar_functions",
    oracle="""
    SELECT p_partkey,
           SUBSTR(p_name, 1, 5)                 AS name5,
           ABS(p_size - 25)                     AS size_dist,
           CAST(FLOOR(p_retailprice) AS INTEGER) AS price_int,
           UPPER(p_brand)                       AS brand_uc,
           LOWER(p_type)                        AS type_lc,
           COALESCE(NULLIF(p_brand, 'Brand#33'), 'OTHER') AS brand_or_other,
           ROUND(SQRT(p_size), 4)               AS size_sqrt
    FROM part
    """,
)
def q15_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUBSTR/ABS/CAST are wired in the reference grammar
    (``SqlSupport.scala:246-257``); UPPER/LOWER/COALESCE/SQRT are its
    declared-but-dead keywords (``SqlSupport.scala:278-330``) — implemented
    for real here. Both sides FLOOR before the int cast (Spark casts
    double→int by truncation, DuckDB by rounding)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.substring("p_name", 1, 5).alias("name5"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        F.floor("p_retailprice").cast("int").alias("price_int"),
        F.upper("p_brand").alias("brand_uc"),
        F.lower("p_type").alias("type_lc"),
        F.coalesce(F.nullif("p_brand", F.lit("Brand#33")), F.lit("OTHER")).alias("brand_or_other"),
        F.round(F.sqrt("p_size"), 4).alias("size_sqrt"),
    )


# ---------------------------------------------------------------------------
# §2.5 aggregation-handler surface
# ---------------------------------------------------------------------------


@query(
    "q16_group_by_aliases",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(l_quantity), 4) AS mean_qty,
           ROUND(MIN(l_extendedprice), 2) AS min_extendedprice,
           ROUND(MAX(l_extendedprice), 2) AS max_extendedprice,
           COUNT(l_orderkey) AS count_orderkey
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q16_group_by_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The aggregation handler's field-spec path
    (``AggregationHandler.scala:139-184``): named + auto-named aggregates
    via the engine's parse_field_specs."""
    from .operators.aggregation import group_by

    li = t(spark, sf_dir, "lineitem")
    out = group_by(
        li,
        ["l_returnflag"],
        [
            "mean_qty=avg(l_quantity)",
            "min(l_extendedprice)",
            "max(l_extendedprice)",
            "count(l_orderkey)",
        ],
    )
    return out.select(
        "l_returnflag",
        F.round("mean_qty", 4).alias("mean_qty"),
        F.round("min_l_extendedprice", 2).alias("min_extendedprice"),
        F.round("max_l_extendedprice", 2).alias("max_extendedprice"),
        F.col("count_l_orderkey").alias("count_orderkey"),
    )


@query(
    "q17_xtabs",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n
    FROM lineitem GROUP BY 1, 2
    """,
)
def q17_xtabs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tabulation (xtabs → aggregate, ``AggregationHandler.scala:163-165``)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q18_correlation",
    oracle="""
    SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem
    """,
)
def q18_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance
    (``AggregationHandler.scala:19-43,186-201``, ``utils/package.scala:34-119``)
    as declarative one-pass aggregates."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qty_price"),
    )


# ---------------------------------------------------------------------------
# §2.10 statistics surface
# ---------------------------------------------------------------------------


@query(
    "q19_summary_stats",
    oracle="""
    SELECT ROUND(AVG(l_quantity), 4)          AS mean_qty,
           ROUND(STDDEV_SAMP(l_quantity), 4)  AS stdev_qty,
           ROUND(VAR_SAMP(l_quantity), 4)     AS var_qty,
           COUNT(l_quantity)                  AS count_qty,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS na_qty,
           ROUND(MIN(l_quantity), 4)          AS min_qty,
           ROUND(MAX(l_quantity), 4)          AS max_qty
    FROM lineitem
    """,
)
def q19_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getSummary's per-column one-pass stats
    (``StatisticsHandler.scala:46-54,221-254``) expressed as a single agg —
    Catalyst's partial aggregation replaces the custom accumulator."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("stdev_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.count("l_quantity").alias("count_qty"),
        F.sum(F.isnull("l_quantity").cast("long")).alias("na_qty"),
        F.round(F.min("l_quantity"), 4).alias("min_qty"),
        F.round(F.max("l_quantity"), 4).alias("max_qty"),
    )


@query(
    "q20_quantiles",
    oracle="""
    SELECT ROUND(QUANTILE_CONT(o_totalprice, 0.25), 4) AS q1,
           ROUND(QUANTILE_CONT(o_totalprice, 0.50), 4) AS median,
           ROUND(QUANTILE_CONT(o_totalprice, 0.75), 4) AS q3
    FROM orders
    """,
)
def q20_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five-num/quantile surface (``StatisticsHandler.scala:56-90,124-160``).

    Exact ``percentile`` here so the oracle matches bit-for-bit; the
    engine's ``five_num_summary`` uses the mergeable GK sketch
    (``approxQuantile``) for the 100 TB path — same split as the
    reference's TDigest vs exact (SURVEY §7.3)."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("q1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("median"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("q3"),
    )


@query(
    "q21_histogram",
    oracle="""
    WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem)
    SELECT CAST(LEAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 10)), 9) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM lineitem, b
    GROUP BY 1
    """,
)
def q21_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram (``BinningHandler.scala:184-221``,
    ``HistogramForDouble.java``): min/max agg then one JVM-side bucket
    groupBy — the engine's vector_histogram shape."""
    li = t(spark, sf_dir, "lineitem")
    lo, hi = li.agg(F.min("l_extendedprice"), F.max("l_extendedprice")).first()
    width = (hi - lo) / 10
    bucket = F.least(
        F.floor((F.col("l_extendedprice") - F.lit(lo)) / F.lit(width)), F.lit(9)
    ).cast("long")
    return li.groupBy(bucket.alias("bin")).agg(F.count(F.lit(1)).alias("n"))


@query(
    "q22_binning_equal_width",
    oracle="""
    WITH b AS (SELECT MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi FROM part)
    SELECT CAST(LEAST(FLOOR((p_retailprice - lo) / ((hi - lo) / 5)), 4) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM part, b
    WHERE p_retailprice IS NOT NULL
    GROUP BY 1
    """,
)
def q22_binning_equal_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALINTERVAL binning bucket counts (``BinningHandler.scala:95-132``
    break computation). The R-style interval-label path (cut() semantics,
    boundary inclusion, out-of-range drop) is pinned by unit tests; the
    oracle checks the distributed bucketing math."""
    from .operators.binning import compute_breaks

    p = t(spark, sf_dir, "part")
    breaks = compute_breaks(p, "p_retailprice", "EQUALINTERVAL", 5)
    lo, hi = breaks[0], breaks[-1]
    width = (hi - lo) / 5
    bucket = F.least(
        F.floor((F.col("p_retailprice") - F.lit(lo)) / F.lit(width)), F.lit(4)
    ).cast("long")
    return (
        p.filter(F.col("p_retailprice").isNotNull())
        .groupBy(bucket.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# §2.13 missing-data surface (nulls injected deterministically — the
# synthetic tables are null-free)
# ---------------------------------------------------------------------------


@query(
    "q23_dropna_rows",
    oracle="""
    WITH d AS (
      SELECT o_orderkey,
             CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS price,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS status
      FROM orders
    )
    SELECT o_orderkey, ROUND(price, 2) AS price, status
    FROM d WHERE price IS NOT NULL AND status IS NOT NULL
    """,
)
def q23_dropna_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropNA(ROW, ANY) (``MissingDataHandler.scala:63-117``) through the
    engine's drop_na over a deterministically-nullified frame."""
    from .operators.missing import drop_na

    o = t(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, None).otherwise(F.col("o_totalprice")).alias("price"),
        F.when(F.col("o_orderstatus") == "P", None).otherwise(F.col("o_orderstatus")).alias("status"),
    )
    return drop_na(d, axis="row", how="any").select(
        "o_orderkey", F.round("price", 2).alias("price"), "status"
    )


@query(
    "q24_fillna_aggregate",
    oracle="""
    WITH d AS (
      SELECT o_orderkey,
             CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS price
      FROM orders
    ),
    m AS (SELECT AVG(price) AS mean_price FROM d)
    SELECT o_orderkey, ROUND(COALESCE(price, mean_price), 2) AS price
    FROM d, m
    """,
)
def q24_fillna_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fillNA by column aggregate (MEAN)
    (``MissingDataHandler.scala:119-193``): one agg for the fill value, one
    na.fill — via the engine's fill_na."""
    from .operators.missing import fill_na

    o = t(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") < 50000, None).otherwise(F.col("o_totalprice")).alias("price"),
    )
    return fill_na(d, agg_function="mean", columns=["price"]).select(
        "o_orderkey", F.round("price", 2).alias("price")
    )


# ---------------------------------------------------------------------------
# §2.8 set operations beyond the reference (intersect / except)
# ---------------------------------------------------------------------------


@query(
    "q25_intersect_except",
    oracle="""
    SELECT 'both' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_totalprice > 200000
    )
    UNION ALL
    SELECT 'only_rich' AS tag, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT o_custkey FROM orders
    )
    """,
)
def q25_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT — absent from the reference (SURVEY §2.8), free
    in Spark; registered as the set-op completeness entry."""
    c, o = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    rich = c.filter(F.col("c_acctbal") > 5000).select(F.col("c_custkey"))
    big = o.filter(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("c_custkey"))
    both = rich.intersect(big).select(F.lit("both").alias("tag"), "c_custkey")
    only = rich.exceptAll(o.select(F.col("o_custkey").alias("c_custkey")).distinct()).select(
        F.lit("only_rich").alias("tag"), "c_custkey"
    )
    return both.unionByName(only)


# ---------------------------------------------------------------------------
# §2.9 extension: date/time functions over the events table
# ---------------------------------------------------------------------------


@query(
    "q26_events_hourly",
    oracle="""
    SELECT event_type,
           DATE_TRUNC('hour', ts) AS hour,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q26_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window-shaped batch rollup on the events table (date
    functions are absent from the reference — SURVEY §2.9; groundwork for
    the Structured Streaming path which shares this grouping)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))


@query(
    "q27_events_dayofweek",
    oracle="""
    SELECT CAST(DAYOFWEEK(ts) AS BIGINT) AS dow,
           CAST(YEAR(ts) AS BIGINT) AS y,
           COUNT(*) AS n,
           ROUND(AVG(value), 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q27_events_dayofweek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction rollup (extension; DuckDB DAYOFWEEK is 0-6
    Sunday-start vs Spark dayofweek 1-7 Sunday-start — aligned by +1)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.year("ts").cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value"))


# ---------------------------------------------------------------------------
# §2.2 the manager's SQL path end-to-end (spark.sql through temp views)
# ---------------------------------------------------------------------------


@query(
    "q28_sql_dialect",
    oracle="""
    SELECT s.s_name, n.n_name AS nation,
           COUNT(*) AS n_parts, ROUND(AVG(p.p_retailprice), 4) AS avg_price
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON (p.p_partkey % 10) = (s.s_suppkey % 10)
    GROUP BY 1, 2
    """,
)
def q28_sql_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry point end-to-end (``SqlHandler.scala:29-104`` →
    spark.sql): tables registered as views, full SELECT with joins/
    group/aggregates handed to Catalyst."""
    for name in ("supplier", "nation", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT s.s_name, n.n_name AS nation,
               COUNT(*) AS n_parts, ROUND(AVG(p.p_retailprice), 4) AS avg_price
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN part p ON (p.p_partkey % 10) = (s.s_suppkey % 10)
        GROUP BY s.s_name, n.n_name
        """
    )


# ---------------------------------------------------------------------------
# §2.6 window functions (extension — none in the reference)
# ---------------------------------------------------------------------------


@query(
    "q50_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           ROUND(SUM(o_totalprice) OVER w, 2) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q50_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + running aggregate over a partitioned window (SURVEY §2.6:
    reference has none; capability extension). Partitioned by customer so
    the window state distributes across executors — no global window."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("rn"),
        F.round(F.sum("o_totalprice").over(w.rowsBetween(W.unboundedPreceding, 0)), 2).alias(
            "running_total"
        ),
    )


@query(
    "q51_window_lag_rank",
    oracle="""
    SELECT user_id, event_id,
           CAST(RANK() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rnk,
           ROUND(value - LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4)
             AS delta_value
    FROM events
    """,
)
def q51_window_lag_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG + RANK per user over event time (extension)."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 4).alias("delta_value"),
    )


# ---------------------------------------------------------------------------
# §2.5 extension: cube / rollup / distinct aggregates (declared-but-dead in
# the reference grammar — SqlSupport.scala:278)
# ---------------------------------------------------------------------------


@query(
    "q52_rollup_distinct",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q52_rollup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP + COUNT(DISTINCT) — the aggregates the reference declared but
    never wired (``SqlSupport.scala:278``, SURVEY §2.5 'not present')."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: deduplication (SURVEY §7.2 step 9)
# ---------------------------------------------------------------------------


@query(
    "q30_dedup_exact",
    oracle="""
    WITH docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 50 = 0
    ),
    fp AS (
      SELECT doc_id,
             MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS fp
      FROM docs
    )
    SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
    FROM fp GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via MD5 fingerprint groupBy (functions/dedup.py
    exact_duplicates). The synthetic corpus has no exact dups, so every
    doc_id % 50 == 0 document is re-injected under a shifted id — the
    operator must find exactly those groups. Shuffle carries (hash, id)
    pairs only, never text."""
    from .functions.dedup import exact_duplicates

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 50 == 0).withColumn("doc_id", F.col("doc_id") + 1000000)
    corpus = d.unionByName(dup)
    return exact_duplicates(corpus).select("fp", "n_docs", "keep_id")


@query(
    "q32_dedup_ngram_jaccard",
    oracle="""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents),
    tri AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tri GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS sh
      FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(sh / (sa.sz + sb.sz - sh), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(sh / (sa.sz + sb.sz - sh), 4) >= 0.5
    """,
)
def q32_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact word-3-gram Jaccard, candidates via
    inverted-index self-join on shingles (functions/dedup.py
    jaccard_candidates) — the blocking join, not O(n²) pairs."""
    from .functions.dedup import jaccard_candidates

    d = t(spark, sf_dir, "documents")
    return jaccard_candidates(d, threshold=0.5, n=3)


def _minhash_cte(num_hashes: int, rows_per_band: int) -> str:
    """WITH-body CTE chain ending in ``band`` (and exposing ``sh``
    distinct shingles + ``hm`` per-doc signature components) for the
    md5 MinHash family — shared by the candidate oracles (q31/q144)
    and the estimator-accuracy oracle (q208)."""
    return f"""
    tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
    ),
    hm AS (
      SELECT doc_id, i,
             MIN(((((2*i + 1) * 2654435761) % 2147483647)
                  * (CAST(('0x' || SUBSTRING(md5(g), 1, 15)) AS BIGINT) % 2147483647)
                  + (i * 1013904223) % 2147483647) % 2147483647) AS h
      FROM sh, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, {num_hashes - 1})) AS i) hh
      GROUP BY doc_id, i
    ),
    band AS (
      SELECT doc_id, i // {rows_per_band} AS band,
             STRING_AGG(CAST(h AS VARCHAR), ',' ORDER BY i) AS bucket
      FROM hm GROUP BY doc_id, i // {rows_per_band}
    )
    """


def _minhash_cand_oracle(num_hashes: int, rows_per_band: int) -> str:
    """Parametrized DuckDB replay of minhash_lsh_candidates(hash_family=
    "md5"): 3-gram shingles, h_i = affine rehash of the 60-bit md5 base
    mod P=2³¹−1, comma-joined band buckets, distinct bucket-collision
    pairs. Used at (32, 4) by q31 and (16, 4) by q144."""
    return f"""
    WITH {_minhash_cte(num_hashes, rows_per_band)}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                           AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """


def _simhash_sig_cte() -> str:
    """DuckDB CTE chain ending in ``sigs(id, sig)`` — the 60-bit md5
    SimHash signature of every document (2-gram shingles, per-bit
    ≥-majority vote, empty docs → all-ones). Shared by q33 (pairs) and
    q145 (signatures)."""
    bit_sums = ",\n             ".join(
        f"SUM((h >> {i}) & 1) AS b{i}" for i in range(60)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN 2 * b{i} >= n THEN {1 << i} ELSE 0 END)" for i in range(60)
    )
    return f"""
    tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 1)) AS i) s
      WHERE LEN(ts) >= 2
    ),
    h AS (
      SELECT doc_id,
             CAST(('0x' || SUBSTRING(md5(g), 1, 15)) AS BIGINT) AS h
      FROM sh
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n,
             {bit_sums}
      FROM h GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, CAST({sig_terms} AS BIGINT) AS sig FROM agg),
    sigs AS (
      SELECT d.doc_id AS id,
             COALESCE(s.sig, {(1 << 60) - 1}) AS sig
      FROM documents d LEFT JOIN sig s ON s.doc_id = d.doc_id
    )
    """


def _neardup_pipeline_cte() -> str:
    """The full md5 near-dup pipeline as a DuckDB WITH-body ending in
    ``clusters(id, cluster)``: 16/4 MinHash banding candidates →
    exact-Jaccard ≥ 0.6 verification restricted to candidate docs →
    transitive closure via a recursive CTE. Shared by q152 (survivor
    rollup) and q218 (reduction report)."""
    return """
    tok AS (
      SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
    ),
    hm AS (
      SELECT doc_id, i,
             MIN(((((2*i + 1) * 2654435761) % 2147483647)
                  * (CAST(('0x' || SUBSTRING(md5(g), 1, 15)) AS BIGINT) % 2147483647)
                  + (i * 1013904223) % 2147483647) % 2147483647) AS h
      FROM sh, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS i) hh
      GROUP BY doc_id, i
    ),
    band AS (
      SELECT doc_id, i // 4 AS band,
             STRING_AGG(CAST(h AS VARCHAR), ',' ORDER BY i) AS bucket
      FROM hm GROUP BY doc_id, i // 4
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
    ),
    cdocs AS (
      SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM cand UNION ALL SELECT id_b AS id FROM cand
      )
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM sh
      WHERE doc_id IN (SELECT id FROM cdocs) GROUP BY doc_id
    ),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS sh_n
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      WHERE a.doc_id IN (SELECT id FROM cdocs)
        AND b.doc_id IN (SELECT id FROM cdocs)
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT s.id_a, s.id_b
      FROM shared s
      JOIN cand USING (id_a, id_b)
      JOIN sizes sa ON sa.doc_id = s.id_a
      JOIN sizes sb ON sb.doc_id = s.id_b
      WHERE ROUND(s.sh_n / (sa.sz + sb.sz - s.sh_n), 4) >= 0.6
    ),
    bidir AS (
      SELECT id_a AS src, id_b AS dst FROM verified
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM verified
    ),
    reach AS (
      SELECT doc_id AS id, doc_id AS root FROM documents
      UNION
      SELECT b.dst AS id, r.root FROM reach r JOIN bidir b ON b.src = r.id
    ),
    clusters AS (SELECT id, MIN(root) AS cluster FROM reach GROUP BY id)
    """


@query("q31_dedup_minhash", oracle=_minhash_cand_oracle(32, 4))
def q31_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (32 hashes, 8 bands — targets
    Jaccard ≳ 0.6), CROSS-ENGINE md5 hash family: DuckDB recomputes the
    identical signatures/band buckets from scratch, so shingling,
    min-hash family, banding and the candidate join are all hash-checked
    under this driver-gated name (previously rows-only on the
    engine-specific xxhash64 family, which lives on as the production
    throughput path — q201). Rows: (id_a, id_b) candidate pairs."""
    from .functions.dedup import minhash_lsh_candidates

    d = t(spark, sf_dir, "documents")
    src = minhash_lsh_candidates(d, num_hashes=32, bands=8, hash_family="md5")
    return _carry(src.orderBy("id_a", "id_b"), src)


@query(
    "q33_dedup_simhash",
    oracle=f"""
    WITH {_simhash_sig_cte()}
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sigs a JOIN sigs b ON a.id < b.id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    ORDER BY id_a, id_b
    """,
)
def q33_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (60-bit CROSS-ENGINE md5 signature,
    Hamming ≤ 3, pigeonhole 15-bit-block blocking). The oracle verifies
    the blocked join against the brute-force Hamming join — legal because
    pigeonhole blocking is lossless — so pairs AND distances are
    hash-checked under this driver-gated name (previously rows-only on
    xxhash64; that 64-bit family remains the production path — q202)."""
    from .functions.dedup import simhash_near_duplicates

    d = t(spark, sf_dir, "documents")
    src = simhash_near_duplicates(d, max_hamming=3, hash_family="md5")
    return _carry(
        src.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
        .orderBy("id_a", "id_b"),
        src,
    )


@query("q201_dedup_minhash_xx")
def q201_dedup_minhash_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION MinHash+LSH variant (xxhash64 family — ~3-4× cheaper
    hashing than q31's md5 interchange family; same pipeline, same
    banding). Engine-specific hash → rows-only check; the md5 twin (q31)
    hash-verifies the shared pipeline end-to-end, and
    tests/test_llm_ops.py pins recall-vs-exact-Jaccard for this family."""
    from .functions.dedup import minhash_lsh_candidates

    d = t(spark, sf_dir, "documents")
    src = minhash_lsh_candidates(d, num_hashes=32, bands=8)
    return _carry(src.orderBy("id_a", "id_b"), src)


@query("q202_dedup_simhash_xx")
def q202_dedup_simhash_xx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION SimHash variant (64-bit xxhash64 signatures, Hamming
    ≤ 3, 16-bit-quarter pigeonhole). Engine-specific hash → rows-only;
    the md5 twin (q33) hash-verifies the shared blocking/vote pipeline."""
    from .functions.dedup import simhash_near_duplicates

    d = t(spark, sf_dir, "documents")
    src = simhash_near_duplicates(d, max_hamming=3)
    return _carry(src.orderBy("id_a", "id_b"), src)


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: text analysis
# ---------------------------------------------------------------------------


@query(
    "q34_text_quality",
    oracle="""
    WITH f AS (
      SELECT lang,
             LENGTH(text) AS n_chars,
             LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tokens,
             LENGTH(REGEXP_REPLACE(text, '[^.,;:!?''"-]', '', 'g')) / LENGTH(text) AS punct_ratio,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 t -> t IN ('the','and','of','to','is','in','that','with','for','was')))
               / LEN(STRING_SPLIT(LOWER(text), ' ')) AS stopword_ratio
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4)  AS avg_chars,
           ROUND(AVG(n_tokens), 4) AS avg_tokens,
           ROUND(AVG(punct_ratio), 4) AS avg_punct_ratio,
           ROUND(AVG(stopword_ratio), 4) AS avg_stopword_ratio
    FROM f GROUP BY lang
    """,
)
def q34_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-signal rollup (functions/text.py
    quality_features): pure codegen'd expressions, one scan, one small
    shuffle of partial aggregates."""
    from .functions.text import quality_features

    d = t(spark, sf_dir, "documents")
    f = quality_features("text")
    per_doc = d.select(
        "lang",
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        f["punct_ratio"].alias("punct_ratio"),
        f["stopword_ratio"].alias("stopword_ratio"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("punct_ratio"), 4).alias("avg_punct_ratio"),
        F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
    )


@query(
    "q35_language_id",
    oracle="""
    WITH scored AS (
      SELECT lang,
             CASE
               WHEN LENGTH(REGEXP_REPLACE(text, '[ -~]', '', 'g')) * 10 > LENGTH(text) * 3
                 THEN 'zh'
               ELSE (
                 WITH t AS (SELECT STRING_SPLIT(LOWER(text), ' ') AS toks)
                 SELECT CASE
                   WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
                   WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
                   WHEN fr >= es AND fr > 0 THEN 'fr'
                   WHEN es > 0 THEN 'es'
                   ELSE 'und' END
                 FROM (
                   SELECT
                     LEN(LIST_FILTER(toks, t -> t IN ('the','and','of','to','is','in','that','with','for','was'))) AS en,
                     LEN(LIST_FILTER(toks, t -> t IN ('der','die','das','und','ist','nicht','mit','ein','eine','zu'))) AS de,
                     LEN(LIST_FILTER(toks, t -> t IN ('le','la','les','et','est','dans','pour','que','une','des'))) AS fr,
                     LEN(LIST_FILTER(toks, t -> t IN ('el','la','los','las','es','en','que','por','una','con'))) AS es
                   FROM t
                 )
               )
             END AS predicted
      FROM documents
    )
    SELECT lang, predicted, COUNT(*) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def q35_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID confusion counts (functions/text.py
    language_id): CJK-script ratio then stopword-marker argmax — one
    codegen'd CASE expression, no UDF, no shuffle beyond the rollup."""
    from .functions.text import language_id

    d = t(spark, sf_dir, "documents")
    return (
        d.select("lang", language_id("text").alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q36_fingerprint",
    oracle="""
    SELECT source,
           COUNT(DISTINCT MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g'))) AS n_unique,
           COUNT(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def q36_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MD5 document fingerprinting (functions/text.py fingerprint) —
    engine-portable dedup keys, rolled up per source."""
    from .functions.text import fingerprint

    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.countDistinct(fingerprint("text")).alias("n_unique"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "q37_token_counts",
    oracle="""
    SELECT lang,
           CAST(SUM(LEN(STRING_SPLIT(LOWER(text), ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT)
             AS bpe_ish_tokens
    FROM documents GROUP BY lang
    """,
)
def q37_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (functions/text.py): whitespace tokens and a
    BPE-ish regex count (letter runs + digit runs + punctuation singles)."""
    from .functions.text import bpe_ish_token_count, token_count

    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.sum(token_count("text")).alias("ws_tokens"),
        F.sum(bpe_ish_token_count("text")).alias("bpe_ish_tokens"),
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: similarity search over embeddings
# ---------------------------------------------------------------------------


@query(
    "q40_similarity_bruteforce",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    s AS (SELECT query_id, neighbor_id, LIST_COSINE_SIMILARITY(qv, cv) AS cos
          FROM q, c WHERE query_id != neighbor_id),
    r AS (SELECT query_id, neighbor_id, cos,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY ROUND(cos, 6) DESC, neighbor_id) AS rn
          FROM s)
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos FROM r WHERE rn <= 3
    """,
)
def q40_similarity_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 cosine neighbors for the first 20 query vectors
    (functions/similarity.py brute_force_topk): norms precomputed per
    side, dot product as one JVM fold — no Python in the pair loop."""
    from .functions.similarity import brute_force_topk

    e = t(spark, sf_dir, "embeddings")
    return brute_force_topk(e.filter(F.col("vec_id") < 20), e, k=3)


@query(
    "q41_embedding_neardup",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) AS cos
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) >= 0.45
    """,
)
def q41_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold — the
    semantic-dedup primitive. Brute-force here (the oracle-checkable exact
    form); the LSH/IVF scale path is q42/tests."""
    from .functions.similarity import cosine

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", F.round(cosine(F.col("va"), F.col("vb")), 4).alias("cos")
    )
    return scored.filter(F.col("cos") >= 0.45)


@query(
    "q42_similarity_lsh",
    oracle="""
    WITH signs AS (
      SELECT i.i AS plane, d.d AS dim,
             CASE WHEN CAST(('0x' || SUBSTRING(
                    md5(CAST(i.i AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)),
                    1, 15)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS i) i,
           (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS d) d
    ),
    qv AS (
      SELECT vec_id AS id, u.i - 1 AS dim,
             CAST(ROUND(CAST(u.x AS DOUBLE) * 10000) AS BIGINT) AS q
      FROM embeddings e,
           LATERAL (SELECT UNNEST(e.embedding) AS x,
                           generate_subscripts(e.embedding, 1) AS i) u
    ),
    dots AS (
      SELECT id, plane, SUM(q * s) AS dot
      FROM qv JOIN signs ON signs.dim = qv.dim
      GROUP BY id, plane
    ),
    sg AS (
      SELECT id,
             CAST(SUM(CASE WHEN dot >= 0 THEN 1 << plane ELSE 0 END) AS BIGINT) AS sig
      FROM dots GROUP BY id
    ),
    tabs AS (
      SELECT id, tt.t AS t, (sig >> (tt.t * 8)) & 255 AS bucket
      FROM sg, (SELECT UNNEST(GENERATE_SERIES(0, 1)) AS t) tt
    ),
    cand AS (
      SELECT DISTINCT a.id AS query_id, b.id AS neighbor_id
      FROM tabs a JOIN tabs b ON a.t = b.t AND a.bucket = b.bucket
                             AND a.id <> b.id
      WHERE a.id < 20
    ),
    norms AS (SELECT id, SQRT(CAST(SUM(q * q) AS DOUBLE)) AS nrm FROM qv GROUP BY id),
    pd AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(qa.q * qb.q) AS DOUBLE) AS d
      FROM cand c
      JOIN qv qa ON qa.id = c.query_id
      JOIN qv qb ON qb.id = c.neighbor_id AND qb.dim = qa.dim
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.query_id, p.neighbor_id, p.d / (na.nrm * nb.nrm) AS cos
      FROM pd p
      JOIN norms na ON na.id = p.query_id
      JOIN norms nb ON nb.id = p.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos
    FROM ranked WHERE rn <= 3 ORDER BY query_id, neighbor_id
    """,
)
def q42_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-k, CROSS-ENGINE variant
    (functions/similarity.srp_lsh_topk_crossengine): md5-derived
    hyperplanes, 2 tables × 8 bits, exact re-rank by integer-quantized
    cosine — every stage (planes, signatures, buckets, candidate join,
    rank) is replayed bit-for-bit by the DuckDB oracle under this
    driver-gated name (previously rows-only on seeded-xxhash float
    planes, which remain the production path — q203)."""
    from .functions.similarity import srp_lsh_topk_crossengine

    e = t(spark, sf_dir, "embeddings")
    return srp_lsh_topk_crossengine(
        e.filter(F.col("vec_id") < 20), e, k=3
    ).orderBy("query_id", "neighbor_id")


def _q203_oracle(
    bits: int = 8, tables: int = 4, dim: int = 64, seed: int = 42, k: int = 3
) -> str:
    """Full DuckDB replay of the FLOAT SRP-LSH path: the seeded
    hyperplanes are deterministic numpy literals generated at registry-
    definition time, so they EMBED into the SQL — signature bit i is
    (dot(v, plane_i) > 0) · 2^i, exactly Spark's shiftleft/OR packing.
    Sign margins are huge on this corpus (min |dot| ≥ 3.3e-6 at sf0.1,
    measured — cross-engine summation-order noise is ~1e-13 relative),
    so the sign bits agree between engines; the cosine re-rank rides
    the proven q40 round-6/round-4 discipline. This upgrades q203 from
    rows-only to fully value-matched (round-7 directive)."""
    from .functions.similarity import _planes

    sig_selects = []
    for ti in range(tables):
        planes = _planes(dim, bits, seed + ti)
        terms = []
        for i, plane in enumerate(planes):
            lits = ",".join(repr(float(x)) for x in plane)
            terms.append(
                f"(CASE WHEN list_dot_product(v, [{lits}]) > 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        sig_selects.append(
            f"SELECT id, {ti} AS tbl, {' + '.join(terms)} AS sig FROM emb"
        )
    sigs = "\n      UNION ALL ".join(sig_selects)
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    sigs AS ({sigs}),
    cand AS (
      SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
      FROM sigs q JOIN sigs c ON q.tbl = c.tbl AND q.sig = c.sig AND q.id != c.id
      WHERE q.id < 20
    ),
    s AS (
      SELECT cand.query_id, cand.neighbor_id,
             LIST_COSINE_SIMILARITY(eq.v, ec.v) AS cos
      FROM cand JOIN emb eq ON eq.id = cand.query_id
                JOIN emb ec ON ec.id = cand.neighbor_id
    ),
    r AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(cos, 6) DESC, neighbor_id) AS rn
      FROM s
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos
    FROM r WHERE rn <= {k} ORDER BY query_id, neighbor_id
    """


@query("q203_similarity_lsh_float", oracle=_q203_oracle())
def q203_similarity_lsh_float(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION random-hyperplane LSH top-k (functions/similarity.py
    lsh_topk): 4 tables × 8 bits, seeded float hyperplanes, float cosine
    re-rank — cheaper per vector than q42's quantized interchange form.
    Formerly rows-only; now FULLY value-matched — the seeded planes are
    deterministic literals, so the oracle embeds them and replays the
    sign-bit signatures (measured sign margin ≥ 3.3e-6, far above
    cross-engine float noise), the bucket join, and the q40-discipline
    cosine re-rank. Recall-vs-exact additionally pinned by property
    test; the md5 twin (q42) covers the quantized interchange form."""
    from .functions.similarity import lsh_topk

    e = t(spark, sf_dir, "embeddings")
    return lsh_topk(e.filter(F.col("vec_id") < 20), e, k=3, dim=64).orderBy(
        "query_id", "neighbor_id"
    )


@query(
    "q43_multimodal_features",
    oracle="""
    WITH params AS (
      SELECT doc_id, doc_id % 251 AS a, 64 + doc_id % 64 AS n
      FROM documents WHERE doc_id < 2000
    ),
    samples AS (
      SELECT doc_id, n, (a + 37 * unnest(range(0, n))) % 256 AS v
      FROM params
    )
    SELECT doc_id AS media_id, 8000 AS sample_rate,
           CAST(n AS INT) AS n_samples,
           ROUND(AVG(v), 4) AS mean_sample,
           ROUND(SQRT(AVG(CAST(v AS DOUBLE) * v)), 4) AS rms
    FROM samples GROUP BY doc_id, n ORDER BY doc_id
    """,
)
def q43_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal end-to-end with a REAL audio decode
    (functions/multimodal.py attach_wav_media → decode_wav): genuine
    RIFF/WAV files are synthesized from doc ids (stdlib ``wave`` writer),
    then the decode pass re-parses the binary with the stdlib ``wave``
    reader — header walk, PCM frame extraction — and emits per-file
    sample stats. The generating arithmetic is closed-form integer math,
    so DuckDB replays the decoded stats exactly: the binary plumbing AND
    the decode are both hash-checked (upgrades the r2 `no_oracle` row).
    Scale: shuffle-free Arrow-batched map; parallelism = files."""
    from .functions.multimodal import attach_wav_media, decode_wav

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    media = attach_wav_media(d, "doc_id")
    stats = decode_wav(media)
    return stats.select(
        "media_id",
        "sample_rate",
        "n_samples",
        F.round("mean_sample", 4).alias("mean_sample"),
        F.round("rms", 4).alias("rms"),
    ).orderBy("media_id")


@query(
    "q159_image_decode_stats",
    oracle="""
    WITH params AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
      FROM documents WHERE doc_id < 2000
    ),
    px AS (
      SELECT doc_id, w, h, j % 3 AS chan, (doc_id + 17 * j) % 256 AS v
      FROM (SELECT doc_id, w, h, unnest(range(0, 3 * w * h)) AS j FROM params)
    )
    SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           ROUND(AVG(CASE WHEN chan = 0 THEN v END), 4) AS mean_r,
           ROUND(AVG(CASE WHEN chan = 1 THEN v END), 4) AS mean_g,
           ROUND(AVG(CASE WHEN chan = 2 THEN v END), 4) AS mean_b
    FROM px GROUP BY doc_id, w, h ORDER BY doc_id
    """,
)
def q159_image_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (functions/multimodal.py attach_ppm_media →
    decode_ppm): binary P6 PPM files are synthesized per doc, then the
    decode re-parses the header FROM THE BYTES (regex over the binary —
    width/height come from the file, not trusted metadata), reshapes the
    raw RGB payload with numpy, and emits per-channel means. DuckDB
    replays the generating arithmetic — decode correctness is
    hash-checked end-to-end. Same 100 TB shape as q43: zero-shuffle
    Arrow map, bytes never leave the executor."""
    from .functions.multimodal import attach_ppm_media, decode_ppm

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    media = attach_ppm_media(d, "doc_id")
    stats = decode_ppm(media)
    return stats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    ).orderBy("media_id")


@query(
    "q200_png_decode_stats",
    oracle="""
    WITH params AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 11 AS h
      FROM documents WHERE doc_id < 2000
    ),
    px AS (
      SELECT doc_id, w, h, j % 3 AS chan, (doc_id + 23 * j) % 256 AS v
      FROM (SELECT doc_id, w, h, unnest(range(0, 3 * w * h)) AS j FROM params)
    )
    SELECT doc_id AS media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           ROUND(AVG(CASE WHEN chan = 0 THEN v END), 4) AS mean_r,
           ROUND(AVG(CASE WHEN chan = 1 THEN v END), 4) AS mean_g,
           ROUND(AVG(CASE WHEN chan = 2 THEN v END), 4) AS mean_b
    FROM px GROUP BY doc_id, w, h ORDER BY doc_id
    """,
)
def q200_png_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED-image decode, stdlib-only (functions/multimodal
    attach_png_media → decode_png): spec-conformant PNGs (CRC'd chunks,
    zlib-deflated IDAT, scanline r filtered with type (id+r) mod 5 so
    ALL FIVE PNG filters appear in the corpus) are synthesized per doc,
    then the decode walks the chunks (verifying CRCs), inflates, and
    UNFILTERS (None/Sub/Up/Average/Paeth) to recover the planted pixel
    bytes — whose channel means DuckDB replays from the generating
    arithmetic. This closes the last media-stub gap: compression +
    filter-prediction round-trip is now hash-verified end-to-end
    (JPEG/MP4 remain environment stubs — their codecs need libraries
    this container lacks). Same 100 TB shape as q43/q159: zero-shuffle
    Arrow map, bytes never leave the executor."""
    from .functions.multimodal import attach_png_media, decode_png

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    media = attach_png_media(d, "doc_id")
    stats = decode_png(media)
    return stats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    ).orderBy("media_id")


# ---------------------------------------------------------------------------
# ML facade (SURVEY §2.16): pyspark.ml replaces FlinkML reflection + the
# vendored KMeans (ml/FlinkMLSupporter.scala, ml/FlinkMLFacade.scala:56-157)
# ---------------------------------------------------------------------------


@query(
    "q60_ml_linreg_ols",
    oracle="""
    SELECT ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(REGR_R2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    """,
)
def q60_ml_linreg_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mlr facade (``FlinkMLFacade.scala:56-157``) cross-checked against a
    closed-form oracle: LinearRegression(solver="normal", regParam=0) is
    exact OLS, so slope/intercept/R² must equal DuckDB's REGR_* to 4dp.
    The fit is one distributed normal-equations pass (WeightedLeastSquares);
    nothing is collected but the 2-element coefficient vector."""
    from .ml.facade import MLFacade

    li = t(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    model = MLFacade(li).linear_regression(["l_quantity"], "l_extendedprice")
    return spark.createDataFrame(
        [(
            round(float(model.coefficients[0]), 4),
            round(float(model.intercept), 4),
            round(float(model.summary.r2), 6),
        )],
        "slope double, intercept double, r2 double",
    )


@query(
    "q61_ml_confusion",
    oracle="""
    SELECT CAST(l_returnflag = 'R' AS INT) AS yt,
           CAST(l_discount > 0.05 AS INT) AS yp,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q61_ml_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getConfusionMatrix (``FlinkMLSupporter.scala:71-100``) as one
    declarative groupBy over a deterministic rule-based classifier —
    oracle-able because the 'predictions' are a SQL predicate."""
    from .ml.facade import confusion_counts

    li = t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("double").alias("label"),
        (F.col("l_discount") > 0.05).cast("double").alias("prediction"),
    )
    return confusion_counts(li, "label", "prediction").select(
        "yt", "yp", F.col("n").cast("long").alias("n")
    )


def _kmeans_oracle(k: int, iters: int) -> str:
    """Parametrized DuckDB replay of ml/kmeans.kmeans_lloyd(k, iters,
    round_digits=4): init = k lowest-id vectors rounded to 4 digits;
    assignment ranks on ROUND(dist, 6) with cluster tie-break; update =
    per-dim mean rounded to 4 digits; empty clusters keep the previous
    centroid. Used at (8, 2) by q62 and (4, 2) by q146."""
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    ctes = [
        "emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v\n"
        "                 FROM embeddings)",
        f"""c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {k})
    )""",
    ]
    for i in range(iters):
        ctes += [
            f"s{i} AS ({assign.format(cent=f'c{i}')})",
            f"a{i} AS (SELECT id, v, cluster FROM s{i} WHERE rn = 1)",
            f"m{i + 1} AS ({update.format(assigned=f'a{i}')})",
            f"c{i + 1}n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c "
            f"FROM m{i + 1} GROUP BY cluster)",
            f"c{i + 1} AS (SELECT c{i}.cluster, COALESCE(c{i + 1}n.c, c{i}.c) AS c\n"
            f"           FROM c{i} LEFT JOIN c{i + 1}n USING (cluster))",
        ]
    ctes += [
        f"s{iters} AS ({assign.format(cent=f'c{iters}')})",
        f"a{iters} AS (SELECT id, cluster, dist FROM s{iters} WHERE rn = 1)",
    ]
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT cluster, COUNT(*) AS n_points,
           ROUND(AVG(dist), 4) AS avg_dist,
           CAST(SUM(id) AS BIGINT) AS id_checksum
    FROM a{iters} GROUP BY cluster ORDER BY cluster
    """


@query("q62_ml_kmeans", oracle=_kmeans_oracle(8, 2))
def q62_ml_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMeans over the embeddings table, CROSS-ENGINE deterministic Lloyd
    variant (ml/kmeans.kmeans_lloyd, k=8, 2 iterations): lowest-id init,
    round-6 ranked argmin, round-4 centroid updates — DuckDB replays the
    entire iteration, so cluster memberships (id_checksum), sizes and
    mean distances are hash-checked under this driver-gated name.
    Replaces the 615-LoC vendored Flink KMeans (``org/apache/flink/ml/
    clustering/KMeans.scala``); the pyspark.ml k-means|| production
    path (seeded but not cross-engine-reproducible) lives on as q204."""
    from .ml.kmeans import kmeans_lloyd

    emb = t(spark, sf_dir, "embeddings")
    final = kmeans_lloyd(emb, "embedding", "vec_id", k=8, iters=2)
    return (
        final.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
            F.sum("id").cast("long").alias("id_checksum"),
        )
        .orderBy("cluster")
    )


@query(
    "q204_ml_kmeans_kmeanspp",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           TRUE AS partition_ok,
           TRUE AS k_within,
           TRUE AS wcss_within_band
    FROM embeddings
    """,
)
def q204_ml_kmeans_kmeanspp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION KMeans (pyspark.ml k-means|| init, 20 iterations) —
    the scale path for real clustering quality. The fitted model is
    seeded-deterministic but not cross-engine-reproducible, so the
    oracle pins its CONTRACT (the q77 pattern, round-7 directive): the
    hashed row carries the exact corpus size plus three measured flags
    — every point got exactly one cluster (partition_ok), the model
    used at most the requested k (k_within), and the 20-iteration
    k-means|| WCSS lands within a 2% band of the deterministic
    2-iteration Lloyd twin's (wcss_within_band; usually strictly
    better — measured ml 462.9 vs Lloyd 467.2 at sf0.01 — but lowest-id
    init can luck out on tiny corpora, hence a band, not ≤). A quality
    regression in the production path flips a flag and breaks the
    hash. Cluster-size behavior stays pinned by the k-means‖ property
    test; the Lloyd twin (q62/q146) hash-verifies the assignment/update
    machinery value-exactly."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from .ml.kmeans import kmeans_lloyd
    from .storage import release_checkpoint

    e = t(spark, sf_dir, "embeddings")
    emb = e.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = KMeans(k=8, seed=42, maxIter=20, initMode="k-means||").fit(emb)
    preds = model.transform(emb)
    wcss_ml = float(model.summary.trainingCost)

    lloyd = kmeans_lloyd(e, "embedding", "vec_id", k=8, iters=2)
    wcss_lloyd = float(
        lloyd.agg(F.sum(F.col("dist") * F.col("dist"))).collect()[0][0]
    )
    release_checkpoint(lloyd)

    stats = preds.groupBy("prediction").agg(F.count(F.lit(1)).alias("n"))
    return (
        stats.agg(
            F.sum("n").cast("long").alias("n_points"),
            F.count(F.lit(1)).alias("k_used"),
        )
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_total")))
        .select(
            "n_points",
            (F.col("n_points") == F.col("n_total")).alias("partition_ok"),
            (F.col("k_used") <= 8).alias("k_within"),
            F.lit(wcss_ml <= wcss_lloyd * 1.02).alias("wcss_within_band"),
        )
    )


# ---------------------------------------------------------------------------
# Structured Streaming extension (SURVEY §2.15 — reference is batch-only):
# event-time windows + stateful dedup over the events stream. Each query
# runs the stream to completion with Trigger.AvailableNow, so the result
# equals the batch-SQL oracle while exercising the real streaming engine
# (state store, watermarks, incremental execution).
# ---------------------------------------------------------------------------


@query(
    "q70_stream_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q70_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts via Structured Streaming
    (streaming/core.py). Complete-mode AvailableNow over a replayable file
    source == the batch GROUP BY time_bucket oracle."""
    from .streaming.core import events_stream, run_available_now, tumbling_counts

    out = run_available_now(tumbling_counts(events_stream(spark, sf_dir)), "complete")
    return out.select(
        "window_start", "event_type", F.col("n_events").cast("long").alias("n_events"), "sum_value"
    )


@query(
    "q71_stream_sliding",
    oracle="""
    WITH b AS (
      SELECT time_bucket(INTERVAL 30 MINUTES, ts) AS b30, event_type FROM events
    ), u AS (
      SELECT b30 AS window_start, event_type FROM b
      UNION ALL
      SELECT b30 - INTERVAL 30 MINUTES AS window_start, event_type FROM b
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM u GROUP BY 1, 2
    """,
)
def q71_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h window / 30m slide): every event lands in
    exactly two overlapping windows — the oracle materializes both
    window-starts per event and re-aggregates."""
    from .streaming.core import events_stream, run_available_now, sliding_counts

    out = run_available_now(sliding_counts(events_stream(spark, sf_dir)), "complete")
    return out.select(
        "window_start", "event_type", F.col("n_events").cast("long").alias("n_events")
    )


@query(
    "q72_stream_sessions",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTES
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sess GROUP BY user_id, session_id
    """,
)
def q72_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (``F.session_window``, 30m inactivity gap)
    per user. The oracle is the classic gaps-and-islands rewrite — a
    LAG + running-SUM session id — proving the streaming state-store
    merge produces exactly the relational sessionization."""
    from .streaming.core import events_stream, run_available_now, session_stats

    out = run_available_now(session_stats(events_stream(spark, sf_dir)), "complete")
    return out.select(
        "user_id", "session_start", F.col("n_events").cast("long").alias("n_events"), "sum_value"
    )


@query(
    "q73_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def q73_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (``dropDuplicatesWithinWatermark``): the
    stream is unioned with itself (every event duplicated) and the dedup
    operator must restore exact input multiplicity — one state entry per
    event_id, evicted at watermark (bounded state at 100 TB)."""
    from .streaming.core import dedup_stream, events_stream, run_available_now

    ev = events_stream(spark, sf_dir)
    doubled = ev.union(events_stream(spark, sf_dir))
    out = run_available_now(dedup_stream(doubled, ["event_id"]), "append")
    return (
        out.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


# ---------------------------------------------------------------------------
# §2.10–§2.14 remaining handler surfaces: sampling/CV, scaling, five-num,
# simple summary, vector stats, persistence, CSV LOAD dialect, mapInPandas
# ---------------------------------------------------------------------------


@query(
    "q44_sample_fraction",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_sampled,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum
    FROM lineitem
    WHERE CAST(('0x' || SUBSTRING(md5('44:' || CAST(l_orderkey * 10 + l_linenumber
                                                    AS VARCHAR)), 1, 15)) AS BIGINT)
          / CAST(1152921504606846976 AS DOUBLE) < 0.15
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q44_sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getRandomSample(percent) (``ViewHandler.scala:24-41``) — DEFAULT
    switched to the md5-keyed deterministic family (round-5, the q31/q33
    move): selection keys on ``md5_long(seed:rowid) / 2^60 < p``, a pure
    pushable filter any engine replays row-for-row, so the oracle hash
    covers the EXACT sample membership (checksummed), not just sizes.
    The engine-native seeded ``df.sample`` (per-partition RNG,
    layout-dependent) remains as ``operators/views.sample_fraction``,
    unit-tested; q160 demos the deterministic family at a different
    (fraction, seed) operating point."""
    from .operators.views import sample_fraction_deterministic

    li = t(spark, sf_dir, "lineitem").withColumn(
        "__rid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    s = sample_fraction_deterministic(li, 0.15, "__rid", seed=44)
    return (
        s.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("l_orderkey").cast("long").alias("key_checksum"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q45_cv_kfold",
    oracle="""
    WITH b AS (
      SELECT o_orderkey,
             CAST(('0x' || SUBSTRING(md5('45:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 4 AS fold
      FROM orders
    ),
    tot AS (SELECT COUNT(*) AS n FROM b)
    SELECT CAST(fold AS INT) AS fold,
           (SELECT n FROM tot) - COUNT(*) AS n_train,
           COUNT(*) AS n_test,
           CAST(0 AS BIGINT) AS n_overlap,
           CAST(1 AS INT) AS partitions_ok,
           CAST(1 AS INT) AS exhaustive
    FROM b GROUP BY fold ORDER BY fold
    """,
)
def q45_cv_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CVKFold (``CrossValidation.scala:56-65,102-132``) — DEFAULT
    switched to the hash-deterministic fold family (round-5): membership
    = ``md5_long(seed:id) % k``, a pure column expression DuckDB replays
    exactly. The hashed output carries per-fold sizes PLUS the measured
    train∩test overlap and partition/exhaustiveness flags — the oracle
    pins overlap to 0 and the flags to 1, so a disjointness bug flips
    the hash rather than an assert nobody runs. The seeded-rand fallback
    (no id column) stays in ``operators/sampling.cv_k_fold``,
    unit-tested; q158 demos (k=5, seed=7)."""
    from .operators.sampling import cv_k_fold

    orders = t(spark, sf_dir, "orders").select("o_orderkey")
    folds = cv_k_fold(orders, 4, seed=45, id_col="o_orderkey")
    rows = []
    for i, (train, test) in enumerate(folds):
        overlap = train.join(test, "o_orderkey", "inner").count()
        rows.append((i, train.count(), test.count(), overlap))
    total_test = sum(r[2] for r in rows)
    n = orders.count()
    rows = [r + (int(r[1] + r[2] == n), int(total_test == n)) for r in rows]
    return spark.createDataFrame(
        rows, "fold int, n_train long, n_test long, n_overlap long, partitions_ok int, exhaustive int"
    )


@query(
    "q46_scale_minmax",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND((l_quantity - MIN(l_quantity) OVER ())
                 / (MAX(l_quantity) OVER () - MIN(l_quantity) OVER ()), 6) AS q_scaled,
           ROUND((l_extendedprice - MIN(l_extendedprice) OVER ())
                 / (MAX(l_extendedprice) OVER () - MIN(l_extendedprice) OVER ()), 6) AS p_scaled
    FROM lineitem
    """,
)
def q46_scale_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformScaleMinMax (core handler, pinned
    ``TransformationHandlerSpec.scala:35-43``): one tiny agg collects the
    2×2 min/max, then a single scan rescales — no window-over-all-rows
    shuffle like the SQL formulation (which the oracle uses for clarity,
    not as the scale plan)."""
    from .operators.transform import scale_min_max

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    out = scale_min_max(li, ["l_quantity", "l_extendedprice"])
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 6).alias("q_scaled"),
        F.round("l_extendedprice", 6).alias("p_scaled"),
    )


@query(
    "q47_scale_standard",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND((l_quantity - AVG(l_quantity) OVER ())
                 / STDDEV_SAMP(l_quantity) OVER (), 6) AS q_z
    FROM lineitem
    """,
)
def q47_scale_standard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformScaleStandard (z-score; pinned
    ``TransformationHandlerSpec.scala:45-49``) — same collect-tiny-agg
    strategy as q46."""
    from .operators.transform import scale_standard

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    out = scale_standard(li, ["l_quantity"])
    return out.select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 6).alias("q_z")
    )


@query(
    "q48_factor_levels",
    oracle="""
    SELECT 'lang' AS column_name, lang AS level, COUNT(*) AS n
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'source', source, COUNT(*) FROM documents GROUP BY source
    """,
)
def q48_factor_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """computeFactorLevelsAndLevelCounts (``SchemaHandler.scala:18-64,
    90-185``): per-factor value→count maps, one distributed groupBy per
    column unioned into a single frame (the reference's single-pass
    mapPartition merge is Catalyst's partial aggregation here)."""
    d = t(spark, sf_dir, "documents")
    parts = [
        d.groupBy(F.lit(c).alias("column_name"), F.col(c).alias("level")).agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        for c in ("lang", "source")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q49_five_num",
    oracle="""
    SELECT ROUND(MIN(o_totalprice), 4) AS min_v,
           ROUND(QUANTILE_CONT(o_totalprice, 0.25), 4) AS q1,
           ROUND(QUANTILE_CONT(o_totalprice, 0.50), 4) AS median,
           ROUND(QUANTILE_CONT(o_totalprice, 0.75), 4) AS q3,
           ROUND(MAX(o_totalprice), 4) AS max_v
    FROM orders
    """,
)
def q49_five_num(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getFiveNumSummary (``StatisticsHandler.scala:56-90``). The reference
    merges per-partition TDigests; at oracle scale we use Spark's exact
    ``percentile`` (linear interpolation — the same definition DuckDB's
    QUANTILE_CONT uses) so the match is exact. The production path
    (operators/stats.py) uses approxQuantile for the 100 TB posture."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.round(F.min("o_totalprice"), 4).alias("min_v"),
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("q1"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("median"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("q3"),
        F.round(F.max("o_totalprice"), 4).alias("max_v"),
    )


@query(
    "q57_vector_stats",
    oracle="""
    SELECT ROUND(AVG(l_quantity), 4) AS mean_qty,
           ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cov_qty_price,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS cor_qty_price
    FROM lineitem
    """,
)
def q57_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getVectorMean/Variance/Covariance/Cor (``StatisticsHandler.scala:
    92-110``, ``utils/package.scala:34-119`` CovarianceCounter,
    ``AggregationHandler.scala:186-201``) — the reference's hand-built
    one-pass co-moment accumulators are Spark's covar_samp/corr
    aggregates (identical Chan et al. merge internally)."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.avg("l_quantity"), 4).alias("mean_qty"),
        F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_qty_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("cor_qty_price"),
    )


@query(
    "q58_simple_summary",
    oracle="""
    SELECT STRING_AGG(DISTINCT lang, ',' ORDER BY lang) AS lang_levels,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    """,
)
def q58_simple_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getSimpleSummary (``StatisticsHandler.scala:162-204``): distinct
    levels for factor columns + min/max for numeric, one aggregation."""
    d = t(spark, sf_dir, "documents")
    return d.agg(
        F.concat_ws(",", F.sort_array(F.collect_set("lang"))).alias("lang_levels"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q53_persistence",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY 1
    """,
)
def q53_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """persist/unpersist round-trip (core handler ``ddf.ini:68``, pinned
    ``PersistenceHandlerSpec.scala:30-38``): DDF → parquet sink → re-read →
    aggregate; the result must equal aggregating the source directly."""
    import os
    import tempfile

    from .manager import DDFManager

    m = DDFManager(spark)
    ddf = m.new_ddf(t(spark, sf_dir, "orders"), name="orders_persist")
    # per-process path + overwrite: repeated runs in one session reuse
    # the sink; concurrent sessions can't clobber each other's
    target = ddf.persist(_session_tmp("q53_persist"))
    back = spark.read.parquet(target)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q54_load_csv_dialect",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN n_nationkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_names,
           CAST(SUM(n_regionkey) AS BIGINT) AS sum_region
    FROM nation
    """,
)
def q54_load_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full CSV dialect path (``SqlSupport.scala:112-131`` CREATE +
    LOAD WITH NULL ... NO DEFAULTS, exec ``SqlHandler.scala:33-52``):
    export nation with 'NA' holes punched in n_name, CREATE TABLE + LOAD
    it back through the preparser, and verify the NULL sentinel landed as
    real nulls (NO DEFAULTS keeps them; defaults mode would substitute
    "" per ``RepresentationHandler.scala:96-113``)."""
    import csv
    import os
    import tempfile

    from .manager import DDFManager

    nation = t(spark, sf_dir, "nation").toPandas()
    nation.loc[nation["n_nationkey"] % 5 == 0, "n_name"] = None
    d = tempfile.mkdtemp(prefix="ddf_csv_")
    path = os.path.join(d, "nation.csv")
    nation.to_csv(path, index=False, header=False, na_rep="NA", quoting=csv.QUOTE_MINIMAL)

    m = DDFManager(spark)
    m.sql2ddf(
        "CREATE TABLE nation_csv (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)"
    )
    loaded = m.sql2ddf(
        f"LOAD '{path}' DELIMITED BY ',' WITH NULL 'NA' NO DEFAULTS INTO nation_csv"
    )
    return loaded.df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.isnull("n_name").cast("long")).alias("n_null_names"),
        F.sum("n_regionkey").alias("sum_region"),
    )


@query(
    "q55_transform_mappartitions",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def q55_transform_mappartitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformNativeRserve's replacement (``TransformationHandler.scala:
    68-124`` partition-wise R → Arrow-batched mapInPandas, SURVEY §2.14):
    a pandas batch computes the derived column, Spark aggregates the
    result — cross-engine checked so the Arrow round-trip itself is under
    oracle. Closure is self-contained (no module refs) so any driver cwd
    can unpickle it worker-side."""
    from .operators.transform import map_partitions

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice", "l_discount")

    def add_revenue(pdf):
        pdf = pdf.copy()
        pdf["revenue"] = pdf["l_extendedprice"] * (1.0 - pdf["l_discount"])
        return pdf[["l_returnflag", "revenue"]]

    out = map_partitions(li, add_revenue, "l_returnflag string, revenue double")
    return out.groupBy("l_returnflag").agg(
        F.round(F.sum("revenue"), 2).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )


@query(
    "q74_stream_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
    FROM events GROUP BY 1
    """,
)
def q74_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``,
    streaming/stateful.py): per-user running totals in executor-side state.
    A single AvailableNow batch emits each user's cumulative totals once,
    which must equal the batch GROUP BY — the cross-batch accumulation
    semantics are pinned by tests/test_streaming.py."""
    from .streaming.core import events_stream, run_available_now
    from .streaming.stateful import running_totals

    out = run_available_now(
        running_totals(events_stream(spark, sf_dir)), "update"
    )
    return out.select("user_id", "n_events", "sum_value")


# ---------------------------------------------------------------------------
# §2.11 binning variants, §2.12 exact-size sampling, §2.13 column-axis
# dropNA + dict fill, §2.14 expression transform + map/reduce, §2.5
# aggregate field-spec — the rest of the handler surfaces
# ---------------------------------------------------------------------------


@query(
    "q63_binning_custom",
    oracle="""
    SELECT CASE
             WHEN l_quantity >= 1 AND l_quantity <= 10 THEN '[1,10]'
             WHEN l_quantity > 10 AND l_quantity <= 25 THEN '(10,25]'
             WHEN l_quantity > 25 AND l_quantity <= 40 THEN '(25,40]'
           END AS bin, COUNT(*) AS n
    FROM lineitem
    WHERE l_quantity <= 40
    GROUP BY 1
    """,
)
def q63_binning_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM-breaks binning with R cut() semantics
    (``BinningHandler.scala:23-92``, row rewrite ``utils/package.scala:
    177-227``): include_lowest + right labels, out-of-range rows
    (l_quantity > 40) DROPPED — the oracle mirrors labels, inclusion and
    the drop exactly."""
    from .operators.binning import binning

    li = t(spark, sf_dir, "lineitem")
    binned, labels = binning(
        li, "l_quantity", breaks=[1, 10, 25, 40], include_lowest=True, right=True
    )
    if labels != ["[1,10]", "(10,25]", "(25,40]"]:
        raise AssertionError(f"unexpected bin labels {labels}")
    return binned.groupBy(F.col("l_quantity").alias("bin")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "q64_binning_equalfreq",
    oracle="""
    WITH tiled AS (
      SELECT o_totalprice AS v,
             NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS tl
      FROM orders
    ),
    bnds AS (SELECT tl, MIN(v) AS lo, MAX(v) AS hi FROM tiled GROUP BY tl),
    brk AS (
      SELECT (SELECT MIN(lo) FROM bnds) AS b0,
             (SELECT hi FROM bnds WHERE tl = 1) AS b1,
             (SELECT hi FROM bnds WHERE tl = 2) AS b2,
             (SELECT hi FROM bnds WHERE tl = 3) AS b3,
             (SELECT hi FROM bnds WHERE tl = 4) AS b4
    ),
    assigned AS (
      SELECT CASE
               WHEN o.o_totalprice >= k.b0 AND o.o_totalprice <= k.b1 THEN 0
               WHEN o.o_totalprice >  k.b1 AND o.o_totalprice <= k.b2 THEN 1
               WHEN o.o_totalprice >  k.b2 AND o.o_totalprice <= k.b3 THEN 2
               WHEN o.o_totalprice >  k.b3 AND o.o_totalprice <= k.b4 THEN 3
             END AS bin_idx,
             o.o_totalprice
      FROM orders o CROSS JOIN brk k
    )
    SELECT a.bin_idx, COUNT(*) AS n,
           ROUND(CASE a.bin_idx WHEN 0 THEN k.b0 WHEN 1 THEN k.b1
                                WHEN 2 THEN k.b2 ELSE k.b3 END, 2) AS lo,
           ROUND(CASE a.bin_idx WHEN 0 THEN k.b1 WHEN 1 THEN k.b2
                                WHEN 2 THEN k.b3 ELSE k.b4 END, 2) AS hi
    FROM assigned a CROSS JOIN brk k
    WHERE a.bin_idx IS NOT NULL
    GROUP BY a.bin_idx, k.b0, k.b1, k.b2, k.b3, k.b4
    ORDER BY a.bin_idx
    """,
)
def q64_binning_equalfreq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALFREQ binning (``BinningHandler.scala:95-132``) — DEFAULT
    switched to EXACT tile-boundary breaks (round-5):
    ``compute_breaks_exact`` ranks by (value, key-tiebreak), deals NTILE
    tiles, and cuts at tile maxima — integer rank arithmetic plus
    comparisons only, so DuckDB re-derives the identical break list and
    the whole cut (R ``cut()`` CASE assignment, include_lowest, counts
    AND bin bounds) is hash-verified under the gated name. The GK-sketch
    quantile path (``compute_breaks`` EQUALFREQ — mergeable, the 100 TB
    default) stays in the binning operator, unit-tested for near-equal
    buckets in tests/test_operators.py."""
    from .operators.binning import binning, compute_breaks_exact

    o = t(spark, sf_dir, "orders")
    breaks = compute_breaks_exact(o, "o_totalprice", 4, ["o_orderkey"])
    binned, labels = binning(
        o, "o_totalprice", binning_type="CUSTOM", breaks=breaks, include_lowest=True
    )
    idx_expr = F.lit(None).cast("int")
    for i, lab in enumerate(labels):
        idx_expr = F.when(F.col("o_totalprice") == lab, i).otherwise(idx_expr)
    counts = (
        binned.select(idx_expr.alias("bin_idx"))
        .groupBy("bin_idx")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = spark.createDataFrame(
        [
            (i, round(breaks[i], 2), round(breaks[i + 1], 2))
            for i in range(len(labels))
        ],
        "bin_idx int, lo double, hi double",
    )
    return counts.join(bounds, "bin_idx").orderBy("bin_idx")


@query(
    "q65_sample_exact",
    oracle="""
    WITH s AS (
      SELECT o_orderkey, o_totalprice
      FROM orders
      ORDER BY CAST(('0x' || SUBSTRING(md5('65:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                    AS BIGINT), o_orderkey
      LIMIT 300
    )
    SELECT COUNT(*) AS n_sampled, COUNT(*) AS n_real,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           ROUND(SUM(o_totalprice), 2) AS price_checksum
    FROM s
    """,
)
def q65_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getRandomSample(n) exact-size (``ViewHandler.scala:17-22``) —
    DEFAULT switched to the hash-min deterministic draw (round-5): the n
    rows with the smallest ``md5_long(seed:id)``, a uniform
    without-replacement sample any engine reproduces row-for-row
    (TakeOrderedAndProject — bounded driver merge, no RNG state, better
    distributed shape than takeSample's collect). The hashed output pins
    size, realness (semi-join count) AND membership (key/price
    checksums). The engine-native seeded-RNG draw (takeSample's
    Poisson/Binomial bounds, ``utils/package.scala:444-548``, run on the
    DataFrame's JVM samplers) stays in ``operators/views.sample_exact``,
    unit-tested; q161 demos the family returning the full sampled rows."""
    from .operators.views import sample_exact_deterministic

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    s = sample_exact_deterministic(o, 300, "o_orderkey", seed=65)
    real = s.join(t(spark, sf_dir, "orders"), "o_orderkey", "left_semi")
    return (
        s.agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
            F.round(F.sum("o_totalprice"), 2).alias("price_checksum"),
        )
        .crossJoin(F.broadcast(real.agg(F.count(F.lit(1)).alias("n_real"))))
        .select("n_sampled", "n_real", "key_checksum", "price_checksum")
    )


@query(
    "q66_dropna_columns_fill_dict",
    oracle="""
    WITH holes AS (
      SELECT l_orderkey,
             CASE WHEN l_orderkey % 2 = 0 THEN NULL ELSE l_comment_qty END AS mostly_null,
             CASE WHEN l_orderkey % 10 = 0 THEN NULL ELSE l_quantity END AS some_null,
             l_extendedprice
      FROM (SELECT l_orderkey, l_quantity, l_quantity AS l_comment_qty,
                   l_extendedprice FROM lineitem)
    )
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM(COALESCE(some_null, -1.0)), 2) AS sum_filled,
           CAST(SUM(CASE WHEN some_null IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_was_null
    FROM holes
    """,
)
def q66_dropna_columns_fill_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-axis dropNA + dict fillNA (``MissingDataHandler.scala:35-61``
    column drop, ``:119-193`` typed dict fill): ~50%-null column dropped at
    threshold 0.3, ~10%-null column survives and is dict-filled with -1.
    The surviving-column set is part of the hashed output (schema check)."""
    from .operators.missing import drop_na, fill_na

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 2 == 0, None)
        .otherwise(F.col("l_quantity"))
        .alias("mostly_null"),
        F.when(F.col("l_orderkey") % 10 == 0, None)
        .otherwise(F.col("l_quantity"))
        .alias("some_null"),
        "l_extendedprice",
    )
    kept = drop_na(li, axis="column", thresh=int(0.7 * li.count()))
    if "mostly_null" in kept.columns or "some_null" not in kept.columns:
        raise AssertionError(f"column-axis dropNA kept wrong columns: {kept.columns}")
    n_was_null = kept.filter(F.isnull("some_null")).count()
    filled = fill_na(kept, column_values={"some_null": -1.0})
    return filled.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.sum("some_null"), 2).alias("sum_filled"),
        F.lit(n_was_null).cast("long").alias("n_was_null"),
    )


@query(
    "q67_map_reduce",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem GROUP BY 1
    """,
)
def q67_map_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformMapReduceNative (``TransformationHandler.scala:16-66,
    168-454`` — the 300-LoC R keyval protocol) as mapInPandas → shuffle →
    applyInPandas. Both user functions are pandas; the whole R/Rserve
    machinery collapses into two Arrow-batched closures."""
    from .operators.transform import map_reduce

    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice", "l_discount")

    def map_fn(pdf):
        pdf = pdf.copy()
        pdf["revenue"] = pdf["l_extendedprice"] * (1.0 - pdf["l_discount"])
        return pdf[["l_returnflag", "revenue"]]

    def reduce_fn(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "l_returnflag": [pdf["l_returnflag"].iloc[0]],
                "n": [len(pdf)],
                "revenue": [round(float(pdf["revenue"].sum()), 2)],
            }
        )

    return map_reduce(
        li,
        map_fn,
        "l_returnflag string, revenue double",
        ["l_returnflag"],
        reduce_fn,
        "l_returnflag string, n long, revenue double",
    )


@query(
    "q68_transform_this_sql",
    oracle="""
    SELECT l_returnflag,
           ROUND(AVG(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS avg_charge
    FROM lineitem
    GROUP BY 1
    """,
)
def q68_transform_this_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform-by-expression + DDF-scoped SQL (``@this`` substitution,
    core TableNameReplacer via ``SqlHandler.scala:15``): derive a column
    with transform_native (selectExpr), then query the derived DDF with
    ``select ... from @this``."""
    from .manager import DDFManager

    m = DDFManager(spark)
    ddf = m.new_ddf(t(spark, sf_dir, "lineitem"), name="lineitem_this")
    derived = ddf.transform_native(
        {"charge": "l_extendedprice * (1 - l_discount) * (1 + l_tax)"}
    )
    out = derived.sql(
        "SELECT l_returnflag, ROUND(AVG(charge), 4) AS avg_charge "
        "FROM @this GROUP BY l_returnflag"
    )
    return out.df


@query(
    "q69_aggregate_fieldspec",
    oracle="""
    SELECT l_returnflag || ',' || l_linestatus AS group_key,
           ROUND(MIN(l_quantity), 2) AS min_qty,
           ROUND(MAX(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q69_aggregate_fieldspec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's keyed-map aggregate
    (``AggregationHandler.scala:104-130``): string field-spec parsed to
    group cols + aggs, result keyed by comma-joined group values —
    reconstructed as a frame so the whole map is under the oracle hash."""
    from .operators.aggregation import aggregate

    li = t(spark, sf_dir, "lineitem")
    result = aggregate(li, "l_returnflag, l_linestatus, min(l_quantity), max(l_extendedprice)")
    rows = [(k, round(v[0], 2), round(v[1], 2)) for k, v in result.items()]
    return spark.createDataFrame(rows, "group_key string, min_qty double, max_price double")


def _q39_oracle(n_lists: int = 8, nprobe: int = 3, topk: int = 3, q_lt: int = 20) -> str:
    # Deterministic-Lloyd quantizer chain (the _q155_oracle / _q146_oracle
    # recurrence: round-4 init + round-4 centroid updates, round-6
    # assignment ranks) followed by ivf_topk's probe rule — centroids
    # ranked per query by ROUND(-dot, 6) with list-id tiebreak — and the
    # round-6-rank / round-4-output cosine re-rank inside probed cells.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    q AS (SELECT id, v FROM emb WHERE id < {q_lt}),
    probe AS (
      SELECT q.id AS qid, c.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY q.id
               ORDER BY ROUND(-list_dot_product(q.v, c.c), 6), c.cluster
             ) AS prn
      FROM q CROSS JOIN c2 c
    ),
    cand AS (
      SELECT p.qid, cells.id AS nid
      FROM probe p JOIN cells ON cells.cluster = p.cluster
      WHERE p.prn <= {nprobe} AND cells.id != p.qid
    ),
    scored AS (
      SELECT c.qid, c.nid, list_cosine_similarity(eq.v, en.v) AS cos
      FROM cand c
      JOIN emb eq ON eq.id = c.qid
      JOIN emb en ON en.id = c.nid
    ),
    ranked AS (
      SELECT qid, nid, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY ROUND(cos, 6) DESC, nid) AS rn
      FROM scored
    )
    SELECT qid AS query_id, nid AS neighbor_id, ROUND(cos, 4) AS cos
    FROM ranked WHERE rn <= {topk} ORDER BY query_id, neighbor_id
    """


@query("q39_similarity_ivf", oracle=_q39_oracle())
def q39_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k through the REAL operator surface
    (functions/similarity.py ivf_build/ivf_topk) — DEFAULT quantizer
    switched to the deterministic rounded-Lloyd family (round-5, the
    q31/q33 move): centroids are a pure function of the data, so DuckDB
    replays quantizer training, cell assignment, ivf_topk's
    dot-product probe ranking (round-6, list-id tiebreak) AND the
    in-cell cosine re-rank, hash-verifying the whole ANN operator under
    its gated name. The pyspark.ml k-means|| quantizer stays as
    ``ivf_build(quantizer="ml")`` (engine-native init, unit-tested by
    test_ivf_topk_recall); q155 demos the same family through a bespoke
    L2-probe composition."""
    from .functions.similarity import ivf_build, ivf_topk

    e = t(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(e, n_lists=8, quantizer="lloyd")
    q = e.filter(F.col("vec_id") < 20)
    return ivf_topk(q, assigned, centroids, k=3, nprobe=3).orderBy(
        "query_id", "neighbor_id"
    )


@query(
    "q56_asof_join",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_id, ROUND(p.purchase_value, 4) AS purchase_value
    FROM events e ASOF LEFT JOIN p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q56_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/joins.py asof_join): enrich every event with
    the user's most recent purchase value at that instant. Neither the
    reference nor SQL-92 has this operator; DuckDB's native ASOF JOIN is
    the oracle. Executed as tag + union + one window last(ignorenulls) —
    one shuffle on user_id, no range cross-join."""
    from .operators.joins import asof_join

    ev = events_table(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        by=["user_id"],
        value_cols=["purchase_value"],
    )
    return out.select("event_id", F.round("purchase_value", 4).alias("purchase_value"))


@query(
    "q59_range_join",
    oracle="""
    WITH tiers(tier, lo, hi) AS (
      VALUES ('low', 0.0, 25.0), ('mid', 25.0, 75.0), ('high', 75.0, 1e9)
    )
    SELECT t.tier, COUNT(*) AS n, ROUND(SUM(e.value), 4) AS sum_value
    FROM events e JOIN tiers t ON e.value >= t.lo AND e.value < t.hi
    GROUP BY 1
    """,
)
def q59_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — non-equi join of a fact stream against a
    small interval dimension. Spark plans it as a broadcast nested-loop
    over the 3-row tier table (the only sane strategy: broadcast the tiny
    side, never shuffle-sort the fact table for a theta join)."""
    ev = events_table(spark, sf_dir)
    tiers = spark.createDataFrame(
        [("low", 0.0, 25.0), ("mid", 25.0, 75.0), ("high", 75.0, 1e9)],
        "tier string, lo double, hi double",
    )
    joined = ev.join(
        F.broadcast(tiers),
        (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
    )
    return joined.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@query(
    "q75_ffill",
    oracle="""
    WITH holes AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT event_id,
           ROUND(LAST_VALUE(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_filled
    FROM holes
    """,
)
def q75_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional fill (ffill) — the method the reference throws on
    (``MissingDataHandler.scala:122-127``), implemented per-user over
    event time (operators/missing.py fill_directional). Nulls punched
    deterministically; oracle is LAST_VALUE IGNORE NULLS."""
    from .operators.missing import fill_directional

    ev = events_table(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_id") % 3 == 0, None).otherwise(F.col("value")).alias("v"),
    )
    filled = fill_directional(ev, "v", order_by=["ts", "event_id"], partition_by=["user_id"])
    return filled.select("event_id", F.round("v", 4).alias("v_filled"))


@query(
    "q76_salted_agg",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(SUM(l_extendedprice), 2) AS total,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(MIN(l_discount), 2) AS min_disc,
           ROUND(MAX(l_tax), 2) AS max_tax
    FROM lineitem GROUP BY 1
    """,
)
def q76_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-stage aggregation (operators/skew.py) on a deliberately
    hot key (l_returnflag has 3 values over all rows — exactly the skew
    shape that melts a 1000-executor reducer). Must equal the plain
    GROUP BY bit-for-bit; avg recombined as Σsum/Σcount."""
    from .operators.skew import salted_aggregate

    li = t(spark, sf_dir, "lineitem")
    out = salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n": ("l_orderkey", "count"),
            "total": ("l_extendedprice", "sum"),
            "avg_qty": ("l_quantity", "avg"),
            "min_disc": ("l_discount", "min"),
            "max_tax": ("l_tax", "max"),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round("total", 2).alias("total"),
        F.round("avg_qty", 4).alias("avg_qty"),
        F.round("min_disc", 2).alias("min_disc"),
        F.round("max_tax", 2).alias("max_tax"),
    )


@query(
    "q77_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q77_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE COUNT DISTINCT — the keyword the reference declares but
    never wires (``SqlSupport.scala:278-330``), real here via HyperLogLog++
    (mergeable per-partition sketches, the count-distinct that scales).
    The sketch bits are irreducibly engine-native, but its CONTRACT is
    not: the hashed output carries the exact counts plus the measured
    ``|approx − exact| / exact ≤ 0.05`` flag, and the oracle pins the
    flag TRUE — an HLL++ regression past its error bound flips the hash
    (round-5: oracle added for the contract; the raw approx value stays
    out of the hashed columns because no other engine can reproduce it).
    KMV (q174) is the cross-engine-replayable distinct-sketch family."""
    li = t(spark, sf_dir, "lineitem")
    out = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    return out.select(
        "l_returnflag",
        "exact_orders",
        (F.abs(F.col("approx_orders") - F.col("exact_orders")) / F.col("exact_orders")
         <= 0.05).alias("within_bound"),
    ).orderBy("l_returnflag")


@query(
    "q78_stream_static_join",
    oracle="""
    WITH u AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id % 3 = 0 THEN 'low'
                  WHEN user_id % 3 = 1 THEN 'mid'
                  ELSE 'high' END AS tier
      FROM events
    )
    SELECT u.tier, COUNT(*) AS n_events, ROUND(SUM(e.value), 4) AS sum_value
    FROM events e JOIN u ON e.user_id = u.user_id
    GROUP BY 1
    """,
)
def q78_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the streaming side joins a batch dimension
    (per-micro-batch broadcast lookup — the standard enrichment pattern;
    no state needed because the static side is re-read each batch)."""
    from .streaming.core import events_stream, run_available_now

    ev = events_stream(spark, sf_dir)
    users = (
        events_table(spark, sf_dir)
        .select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 3 == 0, "low")
            .when(F.col("user_id") % 3 == 1, "mid")
            .otherwise("high"),
        )
    )
    enriched = ev.join(F.broadcast(users), "user_id")
    agg = enriched.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return run_available_now(agg, "complete").select("tier", "n_events", "sum_value")


@query(
    "q79_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, e.event_id AS error_id
    FROM events p
    JOIN events e
      ON p.user_id = e.user_id
     AND p.event_type = 'purchase' AND e.event_type = 'error'
     AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTES
    """,
)
def q79_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (errors within 30 min after a purchase,
    per user): both sides watermarked so the join state is bounded — rows
    older than the interval + watermark horizon are evicted. AvailableNow
    single-batch == the batch interval join the oracle runs."""
    from .streaming.core import events_stream, run_available_now

    ev = events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = run_available_now(joined.select("purchase_id", "error_id"), "append")
    return out


@query(
    "q80_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q80_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^k grouping combinations in one pass (pairs with q52's
    ROLLUP; both beyond the reference's flat GROUP BY). Catalyst expands
    the grouping sets before the single partial+final aggregation."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "q81_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q81_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of q52's ROLLUP / q80's
    CUBE) through the SQL surface — one aggregation pass over the
    expanded sets."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q82_dedup_clusters",
    oracle="""
    WITH RECURSIVE nodes AS (
      SELECT doc_id AS id FROM documents
    ), edges AS (
      SELECT d.doc_id AS src, d.doc_id + 1 AS dst
      FROM documents d JOIN documents e ON e.doc_id = d.doc_id + 1
      WHERE d.doc_id % 10 < 3
    ), bidir AS (
      SELECT src, dst FROM edges
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges
    ), reach AS (
      SELECT id, id AS root FROM nodes
      UNION
      SELECT b.dst AS id, r.root
      FROM reach r JOIN bidir b ON b.src = r.id
    )
    SELECT id, MIN(root) AS cluster FROM reach GROUP BY id
    """,
)
def q82_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster formation over near-dup pairs (functions/dedup.py
    connected_components): chains doc→doc+1 for doc_id%10<3 form 4-node
    components that NO pairwise operator alone can assemble — transitivity
    needs the iterative min-label propagation. Oracle: DuckDB recursive
    CTE computing min reachable id per node. One join+groupBy per round,
    O(diameter) rounds, lineage checkpointed."""
    from .functions.dedup import connected_components

    d = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("id"))
    edges = (
        d.alias("a")
        .join(d.alias("b"), F.col("b.id") == F.col("a.id") + 1)
        .filter(F.col("a.id") % 10 < 3)
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
    )
    return connected_components(edges, d)


# ---------------------------------------------------------------------------
# Time-series & reshaping extensions (reference has no date functions at all
# — SURVEY §2.9; hypertable-style rollup + pivot/unpivot beyond parity)
# ---------------------------------------------------------------------------


@query(
    "q83_resample_gapfill",
    oracle="""
    WITH b AS (
      SELECT user_id, time_bucket(INTERVAL 6 HOURS, ts) AS bucket,
             value, ts, event_id
      FROM events
    ), counts AS (
      SELECT user_id, bucket, COUNT(*) AS n_obs FROM b GROUP BY 1, 2
    ), ranked AS (
      SELECT user_id, bucket, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, bucket
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM b WHERE value IS NOT NULL
    ), obs AS (
      SELECT c.user_id, c.bucket, r.value AS last_value, c.n_obs
      FROM counts c
      LEFT JOIN ranked r
        ON r.user_id = c.user_id AND r.bucket = c.bucket AND r.rn = 1
    ), bounds AS (
      SELECT user_id, MIN(bucket) AS mn, MAX(bucket) AS mx FROM obs GROUP BY 1
    ), grid AS (
      SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 6 HOURS)) AS bucket
      FROM bounds
    ), j AS (
      SELECT g.user_id, g.bucket, o.last_value, COALESCE(o.n_obs, 0) AS n_obs
      FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket
    )
    SELECT user_id, bucket,
           ROUND(LAST_VALUE(last_value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS filled_value,
           n_obs
    FROM j
    """,
)
def q83_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style rollup: resample events to 6-hour buckets per user,
    forward-filling empty buckets with the last observed value
    (operators/timeseries.resample_gapfill). Grid generation is per-key
    ``sequence``+``explode`` — distributed, bounded by span/interval; the
    raw events reduce map-side in the bucket groupBy before any window."""
    from .operators.timeseries import resample_gapfill

    e = t(spark, sf_dir, "events")
    out = resample_gapfill(
        e,
        ts_col="ts",
        key_cols=["user_id"],
        interval="6 hours",
        value_col="value",
        tiebreak_col="event_id",
    )
    return out.withColumn("filled_value", F.round("filled_value", 2))


_PIVOT_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "q84_pivot_wide",
    oracle="""
    SELECT user_id,
           ROUND(SUM(value) FILTER (WHERE event_type = 'click'), 2)    AS click,
           ROUND(SUM(value) FILTER (WHERE event_type = 'error'), 2)    AS error,
           ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
           ROUND(SUM(value) FILTER (WHERE event_type = 'signup'), 2)   AS signup,
           ROUND(SUM(value) FILTER (WHERE event_type = 'view'), 2)     AS view
    FROM events GROUP BY user_id
    """,
)
def q84_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long events to one wide row per user (the general form of
    xtabs — ``analytics/AggregationHandler.scala:163-165`` aliases xtabs
    to aggregate; a real pivot is beyond the reference). Pivot values are
    declared explicitly so the plan is a single groupBy pass — no extra
    distinct-values job, stable column order."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _PIVOT_EVENT_TYPES)
        .agg(F.round(F.sum("value"), 2))
    )


@query(
    "q85_unpivot_long",
    oracle="""
    WITH long AS (
      SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
    )
    SELECT l_returnflag, measure,
           ROUND(SUM(val), 2) AS total, COUNT(*) AS n
    FROM long GROUP BY 1, 2
    """,
)
def q85_unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) three measure columns to long form then aggregate —
    ``df.unpivot`` is a zero-shuffle row expansion (each input row yields
    k output rows in place); only the final groupBy shuffles, and it
    carries pre-aggregated partials."""
    li = t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.round(F.sum("val"), 2).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q86_median_argmax",
    oracle="""
    WITH j AS (
      SELECT n_name, c_acctbal, c_name, c_custkey
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    ), ranked AS (
      SELECT n_name, c_name,
             ROW_NUMBER() OVER (
               PARTITION BY n_name
               ORDER BY c_acctbal DESC, c_custkey DESC) AS rn
      FROM j
    ), m AS (
      SELECT n_name, ROUND(MEDIAN(c_acctbal), 4) AS median_acctbal,
             COUNT(*) AS n_customers
      FROM j GROUP BY n_name
    )
    SELECT m.n_name, m.median_acctbal,
           r.c_name AS richest_customer, m.n_customers
    FROM m JOIN ranked r ON r.n_name = m.n_name AND r.rn = 1
    """,
)
def q86_median_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + arg-max per group: ``F.median`` (exact interpolated
    percentile, partial-aggregable) and ``F.max_by`` with a (value, key)
    struct tie-break so both engines pick the same row deterministically.
    The nation dim broadcasts; one shuffle on n_name."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.median("c_acctbal"), 4).alias("median_acctbal"),
            F.max_by("c_name", F.struct("c_acctbal", "c_custkey")).alias(
                "richest_customer"
            ),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


@query(
    "q87_dedup_apply",
    oracle="""
    WITH fp AS (
      SELECT doc_id, lang,
             MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS f
      FROM documents
    ), keep AS (
      SELECT f, MIN(doc_id) AS keep_id FROM fp GROUP BY f
    )
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM fp JOIN keep ON fp.f = keep.f AND fp.doc_id = keep.keep_id
    GROUP BY lang
    """,
)
def q87_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup APPLICATION (not just pair detection): fingerprint
    → canonical keep_id per group (min doc_id) → filtered corpus → summary.
    The keep-set join is an aggregation + self-join on the fingerprint —
    shuffle carries (md5, id), never text; this is the shape that rewrites
    a 100 TB corpus with duplicates removed."""
    from .functions.dedup import dedup_exact

    d = t(spark, sf_dir, "documents")
    kept = dedup_exact(d, text_col="text", id_col="doc_id")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("long").alias("id_checksum"),
    )


@query(
    "q88_partitioned_sink",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1
    """,
)
def q88_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-pruned read-back:
    write orders partitioned by o_orderpriority, re-read with a partition
    predicate. At 100 TB the predicate never touches non-matching
    partitions (PartitionFilters, zero data read for pruned values) —
    locked by test_plans.py::test_partitioned_sink_prunes."""
    import os
    import tempfile

    target = _session_tmp("q88_part_sink")
    o = t(spark, sf_dir, "orders")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(target)
    back = spark.read.parquet(target).filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "q89_stratified_sample",
    oracle="""
    WITH u AS (
      SELECT doc_id, lang,
             CAST(('0x' || SUBSTRING(md5('89:' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) / CAST(1152921504606846976 AS DOUBLE) AS u,
             CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.25
                       WHEN 'es' THEN 0.1 WHEN 'zh' THEN 0.1 END AS frac
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM u WHERE frac IS NOT NULL AND u < frac
    GROUP BY lang ORDER BY lang
    """,
)
def q89_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (per-stratum Bernoulli) sampling — DEFAULT switched to
    the md5-keyed deterministic family (round-5,
    ``operators/sampling.sample_by_deterministic``): keep a doc iff
    ``md5_long(seed:doc_id)/2^60 < frac[lang]``, so DuckDB selects the
    IDENTICAL rows and the oracle hash pins exact membership (per-lang
    counts + id checksums), not just expected sizes. At 100 TB this is
    the class-rebalancing downsampling primitive — and reproducibility
    is what makes a rebalanced corpus auditable. The engine-native
    seeded ``df.sampleBy`` (layout-dependent per-partition RNG) remains
    available and unit-tested."""
    from .operators.sampling import sample_by_deterministic

    d = t(spark, sf_dir, "documents")
    frac = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1, "zh": 0.1}
    s = sample_by_deterministic(d, "lang", frac, "doc_id", seed=89)
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("lang")
    )


@query(
    "q90_ntile_binning",
    oracle="""
    WITH ranked AS (
      SELECT l_quantity,
             NTILE(4) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber) AS bucket
      FROM lineitem
    )
    SELECT bucket, COUNT(*) AS n,
           ROUND(MIN(l_quantity), 2) AS lo, ROUND(MAX(l_quantity), 2) AS hi
    FROM ranked GROUP BY bucket
    """,
)
def q90_ntile_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT equal-frequency binning via NTILE over a tie-broken total
    order — the exact counterpart to q64's mergeable-sketch EQUALFREQ.
    Scale note: a global NTILE is a full sort through ONE window partition;
    it exists for exactness parity and small/medium tables — the
    GK-sketch path (operators/binning.py) is the 100 TB default."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem")
    w = Window.orderBy("l_quantity", "l_orderkey", "l_linenumber")
    ranked = li.select("l_quantity", F.ntile(4).over(w).cast("long").alias("bucket"))
    return ranked.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_quantity"), 2).alias("lo"),
        F.round(F.max("l_quantity"), 2).alias("hi"),
    )


@query(
    "q91_orc_roundtrip",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY 1
    """,
)
def q91_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip (columnar format beyond the
    reference's CSV-only surface — `FlinkDDFManager.scala:30-59`): write
    orders as ORC, re-read, aggregate. Predicate/column pushdown works on
    ORC scans the same as parquet."""
    import os
    import tempfile

    target = _session_tmp("q91_orc")
    t(spark, sf_dir, "orders").write.mode("overwrite").orc(target)
    back = spark.read.orc(target)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


@query(
    "q92_exists_subquery",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
    )
    GROUP BY c_mktsegment
    """,
)
def q92_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery — impossible in the reference's
    single-block SELECT dialect (``SqlSupport.scala:133-150``); Catalyst
    decorrelates it into a left-semi join (the same physical shape as
    q09, picked automatically)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers
        FROM customer c
        WHERE EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000
        )
        GROUP BY c_mktsegment
        """
    )


@query(
    "q93_scalar_subquery",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_above_avg,
           ROUND(AVG(o_totalprice), 4) AS avg_price_above
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def q93_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a predicate (also beyond the
    reference's dialect): the inner AVG runs once as its own tiny job and
    broadcasts as a literal into the outer scan's pushed filter."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_above_avg,
               ROUND(AVG(o_totalprice), 4) AS avg_price_above
        FROM orders
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        GROUP BY o_orderpriority
        """
    )


@query(
    "q94_json_extraction",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    GROUP BY event_type
    """,
)
def q94_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from the events ``props`` JSON column
    (`get_json_object` — JVM-side JSON path, codegen'd; no Python in the
    row path). The reference has no JSON/nested types at all (SURVEY
    §1.2); at scale prefer parsing ONCE into typed columns over repeated
    per-query path extraction."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.select("event_type", k.alias("k"))
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


@query(
    "q95_embedding_centroids",
    oracle="""
    SELECT label, u.i AS dim,
           ROUND(AVG(u.x), 4) AS centroid,
           ROUND(STDDEV_SAMP(u.x), 4) AS spread,
           COUNT(*) AS n
    FROM embeddings e,
         LATERAL (SELECT UNNEST(e.embedding) AS x,
                         generate_subscripts(e.embedding, 1) AS i) u
    GROUP BY label, u.i
    """,
)
def q95_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + spread across all embedding dimensions via
    ``posexplode`` — array analytics WITHOUT higher-order lambdas (the
    exploded rows run through codegen'd partial aggregation; shuffle
    carries |labels|×|dims| partials per task, not raw vectors). This is
    the building block behind the IVF coarse quantizer (similarity.py)."""
    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    return (
        ex.groupBy("label", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.round(F.avg("x"), 4).alias("centroid"),
            F.round(F.stddev_samp("x"), 4).alias("spread"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q96_topk_per_group",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey,
           ROUND(o_totalprice, 2) AS price, rn
    FROM ranked WHERE rn <= 3
    """,
)
def q96_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group (tie-broken ROW_NUMBER ≤ k) — the grouped
    generalization of q13's global top-k. Catalyst inserts a per-partition
    rank-limit before the shuffle (WindowGroupLimit), so each task ships at
    most k rows per group — the 100 TB-safe formulation."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)  # filter on the RAW rank: WindowGroupLimit
        # fires on rownum<=k, then the long cast (DuckDB BIGINT alignment)
        .withColumn("rn", F.col("rn").cast("long"))
    )


@query(
    "q97_stream_incremental_mv",
    oracle="""
    SELECT time_bucket(INTERVAL 6 HOURS, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q97_stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view (streaming/sink.py): update-mode
    windowed rollup → foreachBatch epoch-log parquet sink → merge-on-read.
    Single AvailableNow pass here (fresh checkpoint per invocation for
    determinism); the cross-run incremental + compaction contract is
    pinned by tests/test_streaming.py::test_incremental_rollup_mv."""
    import os
    import shutil
    import tempfile

    from .streaming.core import events_stream
    from .streaming.sink import read_rollup, run_incremental_rollup, windowed_rollup_updates

    base = _session_tmp("q97_mv")
    mv, ckpt = os.path.join(base, "mv"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    updates = windowed_rollup_updates(events_stream(spark, sf_dir), window="6 hours")
    run_incremental_rollup(updates, mv, ckpt)
    return read_rollup(spark, mv).select(
        "window_start", "event_type",
        F.col("n_events").cast("long").alias("n_events"), "sum_value",
    )


@query(
    "q98_nearest_centroid",
    oracle="""
    WITH ex AS (
      SELECT label, u.i AS dim, u.x
      FROM embeddings e,
           LATERAL (SELECT UNNEST(e.embedding) AS x,
                           generate_subscripts(e.embedding, 1) AS i) u
    ), cent AS (
      SELECT label AS clabel,
             LIST(ROUND(c, 4) ORDER BY dim) AS cvec
      FROM (SELECT label, dim, AVG(x) AS c FROM ex GROUP BY label, dim)
      GROUP BY label
    ), scored AS (
      SELECT e.vec_id, e.label, c.clabel,
             list_cosine_similarity(e.embedding, c.cvec) AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND(list_cosine_similarity(e.embedding, c.cvec), 6) DESC,
                        c.clabel
             ) AS rn
      FROM embeddings e CROSS JOIN cent c
    )
    SELECT label AS true_label, clabel AS predicted_label, COUNT(*) AS n
    FROM scored WHERE rn = 1
    GROUP BY 1, 2
    """,
)
def q98_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification over embeddings: per-label mean
    vector (posexplode aggregation, centroids rounded to 4dp so both
    engines rank from identical inputs) → broadcast the ≤|labels|
    centroids against every vector → arg-max cosine per vector →
    confusion counts. The centroid side is tiny by construction, so the
    expansion is a bounded |labels|×n broadcast — the same shape the IVF
    coarse quantizer uses at 100 TB."""
    from pyspark.sql import Window

    from .functions.similarity import cosine

    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "x"))
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 4).alias("c"))
        .groupBy(F.col("label").alias("clabel"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cvec")
        )
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        cosine(F.col("embedding").cast("array<double>"), F.col("cvec")).alias("cos"),
    )
    # rank on 6dp-rounded cosine (repo convention, see similarity.py) so
    # last-ulp cross-engine fp noise cannot flip the argmax
    w = Window.partitionBy("vec_id").orderBy(
        F.round("cos", 6).desc(), F.col("clabel")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(
            F.col("label").alias("true_label"),
            F.col("clabel").alias("predicted_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q99_higher_moments",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(AVG(l_quantity), 6) AS m1,
           ROUND(AVG(l_quantity * l_quantity), 6) AS m2,
           ROUND(AVG(l_quantity * l_quantity * l_quantity), 6) AS m3,
           ROUND(
             (AVG(l_quantity*l_quantity*l_quantity)
               - 3 * AVG(l_quantity) * AVG(l_quantity*l_quantity)
               + 2 * AVG(l_quantity) * AVG(l_quantity) * AVG(l_quantity))
             / POW(AVG(l_quantity*l_quantity) - AVG(l_quantity)*AVG(l_quantity), 1.5),
             4) AS skewness
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q99_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher statistical moments per group from raw power sums — one
    partial-aggregable pass (extends the §2.10 stats surface; built-in
    `F.skewness` is NOT used because its bias correction differs between
    engines — the explicit-moments formula is engine-neutral and is how a
    mergeable moments sketch computes it at 100 TB)."""
    li = t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    m1, m2, m3 = F.avg(q), F.avg(q * q), F.avg(q * q * q)
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(m1, 6).alias("m1"),
        F.round(m2, 6).alias("m2"),
        F.round(m3, 6).alias("m3"),
        F.round(skew, 4).alias("skewness"),
    )


@query(
    "q100_tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q100_tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local-supplier volume): six tables, TWO fact tables,
    the c_nationkey = s_nationkey 'local supplier' condition, date-range
    + region predicates pushed to the respective scans. supplier/nation/
    region carry explicit broadcast hints (always tiny); customer is
    deliberately UNHINTED — under the session's 64 MB threshold it
    broadcasts at bench scale (plan lock: ≤1 shuffle join), while at
    true TPC-H scale, where customer is the largest dimension, Catalyst
    correctly degrades it to the second shuffle join instead of OOMing
    the driver on a forced hint. AQE re-plans from runtime sizes."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q101_rolling_time_window",
    oracle="""
    SELECT user_id, event_id,
           ROUND(AVG(value) OVER w, 4) AS avg_1h,
           COUNT(*) OVER w AS n_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def q101_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour average per user — a RANGE (time-interval) window
    frame, the frame class q50/q51's ROWS frames don't cover. Both
    engines frame on identical int64 epoch-microsecond keys so boundary
    rows agree exactly. Per-user partitions keep frame state bounded;
    at 100 TB this is the same shape with time-bucketed pre-aggregation
    in front when per-event granularity isn't needed."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 4).alias("avg_1h"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    )


@query(
    "q102_neardup_pipeline",
)
def q102_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup removal pipeline end-to-end — the 100 TB
    training-data shape, every stage distributed:
    MinHash+LSH candidate pairs (q31, cheap recall stage) → exact-Jaccard
    VERIFICATION restricted to candidate docs (precision stage — LSH band
    collisions at ~0.4 probability for Jaccard-0.5 pairs must NOT become
    delete edges) → connected-components cluster formation (q82's
    operator, so A~B~C collapses transitively even when A,C never
    paired) → canonical doc = min id per cluster (= the cluster label,
    per the CC contract — no extra aggregation) → cleaned corpus →
    per-language summary. Rows-only (xxhash64 signatures are
    engine-specific); deterministic for fixed input; stage operators are
    individually oracle/recall-checked (q31, q32, q82, q87)."""
    from .functions.dedup import (
        connected_components,
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )

    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(d, num_hashes=32, bands=8)
    # verify: exact Jaccard computed only over docs that appear in a
    # candidate pair (the semi-join keeps the precision stage sub-linear)
    # verify exact Jaccard for the LSH pairs ONLY (round 12,
    # dedup.jaccard_verify_pairs): array-intersect per pair instead of
    # re-deriving every pair the candidate docs form and semi-joining
    # back — work ∝ |pairs|, values identical
    verified = jaccard_verify_pairs(d, pairs, threshold=0.6, n=3)
    nodes = d.select(F.col("doc_id").alias("id"))
    clusters = connected_components(
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")), nodes
    )
    # CC returns cluster = min member id, so canonical docs are exactly
    # the rows whose own id is the label — a filter, not a shuffle
    cleaned = d.join(
        clusters.filter(F.col("id") == F.col("cluster")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    return _carry(
        cleaned.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang"),
        pairs,
        clusters,
    )


# ---------------------------------------------------------------------------
# TPC-H canonical plan shapes beyond Q1/Q5 — each exercises a distinct
# physical strategy the 100 TB posture depends on (SURVEY §2.4/§2.5/§2.7;
# the reference's SQL dialect could express none of these multi-block or
# conditional shapes, SqlSupport.scala:133-150 single-block SELECT only).
# ---------------------------------------------------------------------------


@query(
    "q103_tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-06-30 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q103_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): selective dimension filter feeding a
    two-fact join, grouped revenue, top-10. The plan to want at 100 TB:
    both date predicates push to the respective parquet scans, the
    filtered customer side broadcasts (and degrades to shuffle join
    gracefully above the threshold — unhinted, like q100), and the final
    ORDER BY..LIMIT is TakeOrderedAndProject (per-partition heap), never
    a global sort. The ranking key is rounded BEFORE ranking on both
    engines and tie-broken on the unique l_orderkey."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1996-06-30")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-06-30")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q104_tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name, ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q104_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): four tables, a wide grouping
    key (customer attributes ride through the aggregate), top-20 by lost
    revenue. nation is hint-broadcast (always tiny); customer unhinted
    per the q100 rationale. Grouping on c_custkey + functionally-dependent
    attributes keeps the shuffle key selective; the top-20 is again
    TakeOrderedAndProject on a rounded, tie-broken key."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            "n_name",
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q105_tpch_q18_large_orders",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           ROUND(o_totalprice, 2) AS totalprice,
           ROUND(sum_qty, 2) AS sum_qty
    FROM (
      SELECT l_orderkey, SUM(l_quantity) AS sum_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING ROUND(SUM(l_quantity), 2) > 250
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q105_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): aggregate-then-join — the HAVING
    filter runs BEFORE any join, so only the ~1%% of qualifying orderkeys
    ever reach the join stage (semi-join reduction by construction). At
    100 TB the filtered aggregate is tiny and AQE converts the subsequent
    joins to broadcast from observed runtime sizes — the plan a naive
    join-then-aggregate formulation could never recover."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "q106_promo_revenue_share",
    oracle="""
    SELECT date_trunc('month', l_shipdate) AS ship_month,
           ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    GROUP BY date_trunc('month', l_shipdate)
    """,
)
def q106_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): fact-dim join + CONDITIONAL
    aggregation — the CASE WHEN inside SUM computes the promo share in
    the same single pass as total revenue (no second scan, no self-join).
    part is unhinted: under the 64 MB session threshold it broadcasts at
    bench scale; at 100 TB Catalyst/AQE picks shuffle join when part
    outgrows the driver. The reference's aggregate grammar has no CASE
    at all (SqlSupport.scala:246-257)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share"),
            F.round(F.sum(rev), 2).alias("revenue"),
        )
    )


@query(
    "q107_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q107_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over BUCKETED tables — the recurring-join tool for
    100 TB where neither side broadcasts: both tables are written
    `bucketBy(orderkey)` with equal bucket counts, so the sort-merge join
    plans with ZERO shuffle exchanges before the join (locked by
    `test_plans.py::test_bucketed_join_has_no_shuffle`); the only
    exchange left is the tiny post-join rollup. The `merge` hint keeps
    the demonstration honest at bench scale where orders would otherwise
    broadcast. Result semantics are bucketing-independent, hence
    SQL-oracle-checkable. (The reference shuffles every join via coGroup,
    utils/package.scala:258-306 — no co-location concept.)"""
    import re
    import tempfile

    suffix = re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/"))
    li_tbl, o_tbl = f"bkt_li_{suffix}", f"bkt_o_{suffix}"
    # external per-process paths + DROP IF EXISTS: idempotent within a
    # session, collision-free across concurrent sessions
    # (a managed table's leftover location would collide with a fresh
    # in-memory catalog; an external path with mode=overwrite cannot)
    base = _session_tmp(f"bkt_{suffix}")
    spark.sql(f"DROP TABLE IF EXISTS {li_tbl}")
    spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
    t(spark, sf_dir, "lineitem").write.bucketBy(16, "l_orderkey").sortBy(
        "l_orderkey"
    ).mode("overwrite").format("parquet").option("path", f"{base}/lineitem").saveAsTable(
        li_tbl
    )
    t(spark, sf_dir, "orders").write.bucketBy(16, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").format("parquet").option("path", f"{base}/orders").saveAsTable(
        o_tbl
    )
    lb, ob = spark.table(li_tbl), spark.table(o_tbl)
    return (
        lb.join(ob.hint("merge"), lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q108_heavy_hitters",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) s
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def q108_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy hitters (top-k frequent tokens) — the vocabulary/
    stop-word discovery pass of a training-data pipeline. explode + codegen
    count (the fast path per PERF.md's HOF lesson), map-side partial
    aggregation collapses each partition to its local vocabulary before
    the shuffle, and the top-20 is TakeOrderedAndProject. Token counts are
    Zipf-skewed by nature — exactly the distribution where partial agg
    (not salting) is the right tool, because the hot keys collapse
    map-side."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


@query(
    "q109_window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           ROUND(PERCENT_RANK() OVER w, 6) AS pctl,
           ROUND(CUME_DIST() OVER w, 6) AS cumd,
           NTILE(10) OVER w AS decile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY ROUND(o_totalprice, 2), o_orderkey)
    """,
)
def q109_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics (percent_rank / cume_dist / ntile) per
    status partition — the window family q50/q51/q96/q101 don't cover.
    The ordering key is rounded then tie-broken on the unique o_orderkey
    so both engines assign identical ranks and decile edges. Per-key
    partitions shard the work; no global sort appears anywhere."""
    from pyspark.sql import Window

    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.round(F.col("o_totalprice"), 2), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.percent_rank().over(w), 6).alias("pctl"),
        F.round(F.cume_dist().over(w), 6).alias("cumd"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


@query(
    "q110_correlated_min_subquery",
    oracle="""
    SELECT p_type, p_partkey, p_name, ROUND(p_retailprice, 2) AS retailprice
    FROM part p
    WHERE p_retailprice = (SELECT MIN(p2.p_retailprice)
                           FROM part p2
                           WHERE p2.p_type = p.p_type)
    ORDER BY p_type, p_partkey
    """,
)
def q110_correlated_min_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's core pattern: a CORRELATED aggregate subquery — the
    cheapest-per-group row selection. Catalyst decorrelates the inner
    MIN into a grouped aggregate joined back on the correlation key, so
    the whole query is two scans + one (broadcastable) join, not one
    subquery execution per outer row. The reference's single-block
    dialect cannot express any subquery (SqlSupport.scala:133-150).
    Equality on the raw double is safe cross-engine: MIN returns one of
    the actual stored values, so the comparison is bit-exact."""
    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
        SELECT p_type, p_partkey, p_name, ROUND(p_retailprice, 2) AS retailprice
        FROM part p
        WHERE p_retailprice = (SELECT MIN(p2.p_retailprice)
                               FROM part p2
                               WHERE p2.p_type = p.p_type)
        ORDER BY p_type, p_partkey
        """
    )


@query(
    "q111_grouped_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q111_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact percentiles (§2.10's quantiles were global-only in
    the reference, StatisticsHandler.scala:124-160). Exact linear-
    interpolated `percentile` here because the oracle needs bit-agreement;
    the 100 TB path swaps in `approx_percentile` — same query shape, a
    mergeable GK sketch per group instead of a per-group sort buffer."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("l_extendedprice", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.75)), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q112_salted_join",
    oracle="""
    SELECT o_orderstatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def q112_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted fact-fact join (`operators/skew.salted_join`):
    the left side salted by a row hash, the right side replicated per
    salt via explode (never a cartesian), joined on (key, salt) — ONE
    hot key spreads over n_salts reducers. The oracle is the PLAIN join:
    salting must be result-invariant. The `merge` hint forces the
    shuffle-join path so the demonstration is honest at bench scale
    (broadcast would bypass the salt entirely)."""
    from .operators.skew import salted_join

    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").hint("merge")
    return (
        salted_join(li, o, "l_orderkey", "o_orderkey", n_salts=8)
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q113_pagerank",
)
def q113_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the document similarity graph (MinHash+LSH candidate
    pairs as symmetric edges) — the iterative-fixpoint algorithm class
    (`functions/graph.pagerank`): per-superstep join + aggregate, lineage
    truncated by localCheckpoint, dangling mass redistributed via one
    scalar per round. Identifies hub documents (near-duplicated across
    many others) for curation. Rows-only: xxhash64-derived edges are
    engine-specific; the algorithm itself is differentially tested against
    a hand-rolled reference implementation (tests/test_operators.py)."""
    from .functions.dedup import minhash_lsh_candidates
    from .functions.graph import pagerank

    d = t(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(d, num_hashes=32, bands=8)
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = d.select(F.col("doc_id").alias("id"))
    ranks = pagerank(edges, nodes, iterations=6)
    return _carry(
        ranks.select("id", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "id")
        .limit(20),
        ranks,
        pairs,
    )


@query(
    "q114_token_budget",
    oracle="""
    WITH f AS (
      SELECT lang,
             LENGTH(text) AS n_chars,
             LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tokens,
             LENGTH(REGEXP_REPLACE(text, '[^.,;:!?''"-]', '', 'g')) / LENGTH(text) AS punct_ratio,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 t -> t IN ('the','and','of','to','is','in','that','with','for','was')))
               / LEN(STRING_SPLIT(LOWER(text), ' ')) AS stopword_ratio
      FROM documents
    ),
    k AS (
      SELECT lang, n_tokens,
             (stopword_ratio >= 0.05 AND punct_ratio <= 0.2 AND n_chars >= 100) AS keep
      FROM f
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS token_budget,
           ROUND(SUM(CASE WHEN keep THEN 1.0 ELSE 0 END) / COUNT(*), 4) AS keep_rate
    FROM k GROUP BY lang
    """,
)
def q114_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation rollup: quality-gate each document
    (stopword/punctuation/length signals from functions/text.py — same
    definitions as q34), then report the per-language KEPT token budget
    and keep rate — the numbers a data-mixing plan is built from. One
    scan, codegen'd per-doc features, conditional aggregation; no
    second pass for the denominators."""
    from .functions.text import quality_features

    d = t(spark, sf_dir, "documents")
    f = quality_features("text")
    per_doc = d.select(
        "lang",
        f["n_tokens"].alias("n_tokens"),
        (
            (f["stopword_ratio"] >= 0.05)
            & (f["punct_ratio"] <= 0.2)
            & (f["n_chars"] >= 100)
        ).alias("keep"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(F.col("keep"), F.col("n_tokens")).otherwise(0))
        .cast("long")
        .alias("token_budget"),
        F.round(
            F.sum(F.when(F.col("keep"), 1.0).otherwise(0.0)) / F.count(F.lit(1)), 4
        ).alias("keep_rate"),
    )


@query(
    "q115_scd2_upsert",
    oracle="""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS acctbal,
             TIMESTAMP '1995-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer
    ),
    upd AS (
      SELECT c_custkey, c_mktsegment, ROUND(c_acctbal * 1.1, 2) AS acctbal,
             TIMESTAMP '2000-01-01' AS eff
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    changed AS (
      SELECT u.* FROM upd u
      JOIN dim d ON u.c_custkey = d.c_custkey AND d.valid_to IS NULL
      WHERE u.acctbal IS DISTINCT FROM d.acctbal
         OR u.c_mktsegment IS DISTINCT FROM d.c_mktsegment
    )
    SELECT d.c_custkey, d.c_mktsegment, d.acctbal, d.valid_from,
           CASE WHEN c.c_custkey IS NOT NULL THEN c.eff ELSE d.valid_to END AS valid_to,
           (c.c_custkey IS NULL) AS is_current
    FROM dim d LEFT JOIN changed c ON d.c_custkey = c.c_custkey
    UNION ALL
    SELECT c_custkey, c_mktsegment, acctbal, eff AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM changed
    """,
)
def q115_scd2_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 upsert (`operators/scd.scd2_apply`): a +10% account-
    balance revision for the BUILDING segment applied to a versioned
    customer dimension — changed current rows expire at the effective
    date, new versions append, history stays queryable. The warehouse
    answer to the reference's history-destroying in-place mutability
    (core MutabilityHandler, ddf-conf/ddf.ini:67). Zero-balance customers
    are a real no-op case (0 * 1.1 = 0) exercised by the data."""
    from .operators.scd import scd2_apply

    c = t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    upd = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 1.1, 2).alias("acctbal"),
        F.lit("2000-01-01").cast("timestamp").alias("eff"),
    )
    out = scd2_apply(
        dim,
        upd,
        key_cols=["c_custkey"],
        compare_cols=["acctbal", "c_mktsegment"],
        eff_col="eff",
    )
    return out.withColumn("is_current", F.col("valid_to").isNull())


@query(
    "q116_stream_windowed_topk",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             event_type, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                                   ORDER BY n_events DESC, event_type) AS rnk
      FROM agg
    )
    SELECT window_start, event_type, n_events, rnk
    FROM r WHERE rnk <= 2
    """,
)
def q116_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types: watermarked tumbling-window counts computed
    by Structured Streaming (q70's stateful aggregation), then top-2 per
    window ranked on the materialized sink — the standard split for
    streaming top-k, since rank-over-window isn't an incremental
    streaming operator: the stream maintains the (window, type) counts,
    the cheap rank runs on the tiny aggregated result. Tie-broken
    (n_events DESC, event_type) so both engines pick identical rows."""
    from pyspark.sql import Window

    from .streaming.core import events_stream, run_available_now, tumbling_counts

    out = run_available_now(tumbling_counts(events_stream(spark, sf_dir)), "complete")
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        out.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 2)
        .select(
            "window_start",
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            "rnk",
        )
    )


@query(
    "q117_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT COUNT(*) AS n_viewers,
           COUNT(t_click) AS n_clickers,
           COUNT(t_purchase) AS n_buyers,
           ROUND(AVG(epoch(t_purchase) - epoch(t_view)), 4) AS avg_secs_to_convert
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def q117_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (view → click after it → purchase after
    that): each stage is a conditional MIN over the previous stage's
    anchor — three small keyed aggregations chained by joins, each
    shuffling only (user, ts) pairs. This formulation is
    incremental-friendly and skew-proof (per-user state is two
    timestamps), unlike collect-events-per-user-and-scan, which holds a
    user's whole history in one task. The reference has no event-sequence
    capability at all."""
    e = t(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.join(c, "user_id")
        .filter((F.col("event_type") == "purchase") & (F.col("ts") > F.col("t_click")))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_viewers"),
            F.count("t_click").alias("n_clickers"),
            F.count("t_purchase").alias("n_buyers"),
            F.round(
                F.avg(F.unix_micros("t_purchase") / 1e6 - F.unix_micros("t_view") / 1e6),
                4,
            ).alias("avg_secs_to_convert"),
        )
    )


@query(
    "q118_winsorize",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           ROUND(AVG(LEAST(GREATEST(l_extendedprice, lo), hi)), 4) AS winsorized_mean,
           ROUND(AVG(l_extendedprice), 4) AS raw_mean
    FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def q118_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (clip at p01/p99) — the outlier-taming
    pass of a numeric-feature pipeline. Two aggregations over one scan
    lineage: the tiny per-group bound table (3 rows) BROADCASTS back
    onto the fact, so the clip is a map-side projection, not a window
    over the group. Exact percentiles here for the oracle;
    approx_percentile is the drop-in at 100 TB (same two-phase shape)."""
    li = t(spark, sf_dir, "lineitem")
    b = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.01)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("l_extendedprice") < F.col("lo"))
                    | (F.col("l_extendedprice") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clipped"),
            F.round(F.avg(clipped), 4).alias("winsorized_mean"),
            F.round(F.avg("l_extendedprice"), 4).alias("raw_mean"),
        )
    )


@query(
    "q119_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             (CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
               / 1152921504606846977.0 AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, lang, n_chars,
             ROUND(LN(u) / n_chars, 8) AS wkey
      FROM w WHERE n_chars > 0
    ),
    s AS (SELECT lang, n_chars FROM keyed ORDER BY wkey DESC, doc_id LIMIT 200)
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS chars_sampled
    FROM s GROUP BY lang ORDER BY lang
    """,
)
def q119_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-weighted corpus sample — DEFAULT switched to the
    deterministic Efraimidis-Spirakis family (round-5,
    ``operators/sampling.sample_weighted_deterministic``): u is an
    md5-keyed uniform and the A-ES key ``ln(u)/w`` is round-8 with an id
    tie-break, so DuckDB replays the exact 200-doc frontier and the
    oracle hash pins membership (per-lang counts + char mass). This is
    the data-mixing primitive — sample documents proportional to length
    so TOKEN mass follows the target mix — and determinism is what makes
    the mix re-buildable. The seeded ``rand()`` variant
    (``sample_weighted``) stays engine-native, proportionality
    unit-tested (test_sample_weighted_proportional); q154 demos the
    family weighted by token count."""
    from .operators.sampling import sample_weighted_deterministic

    d = t(spark, sf_dir, "documents")
    s = sample_weighted_deterministic(d, "n_chars", 200)
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("long").alias("chars_sampled"),
        )
        .orderBy("lang")
    )


@query(
    "q120_csv_json_roundtrip",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS total_bal,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM customer GROUP BY c_mktsegment
    """,
)
def q120_csv_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON SINKS (the reference only reads CSV and writes
    nothing but its basic-persistence store — SURVEY §2.1): write the
    customer dim to headered CSV and to JSON-lines, read both back with
    declared schemas (no inference drift), and join the two read-backs
    on the key, counting rows where ANY column disagrees null-safely —
    the oracle pins that count to zero per segment, so a round-trip
    defect (e.g. empty-string→NULL in one format but not the other)
    fails the hash even when counts and sums survive. Text formats are
    interchange paths, not analytics storage — production sinks stay
    columnar (q53/q88/q91)."""
    import os
    import tempfile
    from functools import reduce

    base = _session_tmp("q120")
    c = t(spark, sf_dir, "customer")
    csv_path, json_path = f"{base}/csv", f"{base}/json"
    c.write.mode("overwrite").option("header", "true").csv(csv_path)
    c.write.mode("overwrite").json(json_path)
    schema = c.schema
    back_csv = spark.read.schema(schema).option("header", "true").csv(csv_path)
    back_json = spark.read.schema(schema).json(json_path)
    cols = [x for x in c.columns if x != "c_custkey"]
    differs = reduce(
        lambda a, b: a | b,
        [~F.col(f"__c.{x}").eqNullSafe(F.col(f"__j.{x}")) for x in cols],
    )
    mism = (
        back_csv.alias("__c")
        .join(back_json.alias("__j"), "c_custkey", "full")
        .groupBy(F.col("__c.c_mktsegment").alias("c_mktsegment"))
        .agg(
            F.sum(F.when(differs, 1).otherwise(0)).cast("long").alias("n_mismatch")
        )
    )
    return (
        back_csv.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .join(mism, "c_mktsegment")
    )


@query(
    "q121_incremental_dedup",
    oracle="""
    WITH fp AS (
      SELECT *, MD5(REGEXP_REPLACE(TRIM(LOWER(text)), '\\s+', ' ', 'g')) AS h
      FROM documents
    ),
    old AS (SELECT * FROM fp WHERE doc_id % 5 <> 0),
    new AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
    vs_old AS (
      SELECT n.* FROM new n
      WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.h = n.h)
    ),
    keep AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM vs_old
    )
    SELECT lang,
           COUNT(*) AS n_ingested,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS chars_ingested
    FROM keep WHERE rn = 1
    GROUP BY lang
    """,
)
def q121_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingestion dedup — the shape that keeps 100 TB dedup
    affordable: a new batch (doc_id % 5 = 0 here) is deduped against the
    EXISTING corpus via hash anti-join (new × old-index, never
    old × old re-work) and then within itself (min-id per content hash).
    The old side in production is the persisted fingerprint index
    (q36's (md5, id) table — constant bytes/doc), so each increment
    costs |new| × lookup, not a corpus-wide recompute. Uses the SAME
    normalized fingerprint as q36's index (functions/text.fingerprint:
    md5 of trimmed/lowercased/whitespace-collapsed text) so the two
    stages actually interoperate; cross-engine on md5 hex strings."""
    from .functions.text import fingerprint

    d = t(spark, sf_dir, "documents")
    h = fingerprint("text")
    old = d.filter(F.col("doc_id") % 5 != 0).select(h.alias("h"))
    new = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "lang", "n_chars", h.alias("h")
    )
    vs_old = new.join(old, "h", "left_anti")
    within = vs_old.groupBy("h").agg(
        F.min_by(
            F.struct("doc_id", "lang", "n_chars"), F.col("doc_id")
        ).alias("keep")
    )
    return (
        within.select("keep.doc_id", "keep.lang", "keep.n_chars")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_ingested"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_chars").cast("long").alias("chars_ingested"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H plan-shape completions: the remaining classic query archetypes
# (EXISTS-with-interval, CASE-class counts, outer-join distribution,
# distinct-count with NOT IN, disjunctive join predicate, double-correlated
# EXISTS/NOT EXISTS, anti join + scalar subquery, nation-pair volume).
# The reference's single-block dialect (SqlSupport.scala:133-150) can
# express none of these; each lands on a distinct Catalyst plan feature.
# ---------------------------------------------------------------------------


@query(
    "q122_tpch_q4_exists_interval",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q122_tpch_q4_exists_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS whose
    predicate is an *interval comparison between both sides'* columns
    (shipdate > orderdate + 60d — the commit<receipt proxy on this
    schema). Catalyst decorrelates to a left-semi join on l_orderkey with
    the interval predicate as a join condition; the orders date range is
    pushed to the parquet scan, so the semi join's build side is one
    year of orders, not the table."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@query(
    "q123_tpch_q12_priority_class",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 90 DAY
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q123_tpch_q12_priority_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping modes / priority classes): fact-fact join
    with a cross-table interval predicate, then CASE-classified
    conditional counts. The classification runs inside the partial
    (map-side) aggregate, so the shuffle carries 3 rows per partition
    regardless of scale."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q124_tpch_q13_custdist",
    oracle="""
    WITH c_orders AS (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q124_tpch_q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    join with an extra non-key ON condition (the filter must NOT become a
    WHERE — that would turn the join inner and lose zero-order
    customers), COUNT of the nullable side, then a second aggregation
    over the first's result. Two shuffles by construction (custkey, then
    c_count) — the second input is |customers| rows, already tiny."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q125_tpch_q16_supplier_variety",
    oracle="""
    SELECT p_brand, CAST(FLOOR(p_size / 10) AS INT) AS size_bucket,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, size_bucket
    ORDER BY supplier_cnt DESC, p_brand, size_bucket
    """,
)
def q125_tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier variety per part class): COUNT DISTINCT
    over a join, with a NOT IN subquery exclusion (suppliers in deficit).
    NOT IN compiles to a null-aware anti join — here both columns are
    non-null keys so it degenerates to a plain (broadcastable) anti join.
    The distinct-count shuffles (group, suppkey) pairs — partial
    dedup map-side — then counts per group."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    bad = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(bad, "l_suppkey", "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            F.floor(F.col("p_size") / 10).cast("int").alias("size_bucket"),
        )
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "size_bucket")
    )


@query(
    "q126_tpch_q19_disjunctive",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q126_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicate): an OR
    of AND-groups that each mix columns from BOTH join sides. Catalyst
    extracts the per-side disjunctions (p_brand/p_size on part,
    l_quantity on lineitem) and pushes them below the join as scan
    filters, keeping only the cross-side residual in the join — the
    difference between scanning 3 brands' parts and scanning the table."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q127_tpch_q21_waiting_supplier",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q127_tpch_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting — the hardest
    classic plan), reformulated SINGLE-PASS: the EXISTS / NOT EXISTS pair
    decorrelates naively to semi+anti joins against two rescans of
    lineitem (three shuffles of the fact table — the r2 plan). Here the
    correlation collapses into window aggregates over ONE lineitem
    exchange on l_orderkey:

      other_max(row) = max shipdate among the order's OTHER suppliers
                     = top1 if this supplier doesn't (solely) hold the
                       order max, else the second-best supplier max

    computed from per-(order,supplier) maxima — the w_ok windows run
    first so the hash(l_orderkey) exchange is planned once and the
    (l_orderkey, l_suppkey) window reuses it (subset-clustering), adding
    only a sort. A row waits iff the order has ≥2 suppliers and
    l_shipdate ≥ other_max. One fact shuffle instead of three; at 100 TB
    that is the difference between one and three full-corpus exchanges.
    The oracle keeps the textbook EXISTS/NOT EXISTS formulation — the
    rewrite is verified equivalent, not assumed."""
    from pyspark.sql import Window

    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    w_ok = Window.partitionBy("l_orderkey")
    w_ok_sk = Window.partitionBy("l_orderkey", "l_suppkey")
    staged = (
        li.withColumn("top1", F.max("l_shipdate").over(w_ok))
        .withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w_ok)))
        .withColumn("my_smax", F.max("l_shipdate").over(w_ok_sk))
    )
    scored = (
        staged.withColumn(
            "cnt_top",
            F.size(
                F.collect_set(
                    F.when(F.col("my_smax") == F.col("top1"), F.col("l_suppkey"))
                ).over(w_ok)
            ),
        )
        .withColumn(
            "top2",
            F.max(
                F.when(F.col("my_smax") < F.col("top1"), F.col("my_smax"))
            ).over(w_ok),
        )
        .withColumn(
            "other_max",
            F.when(
                (F.col("my_smax") < F.col("top1")) | (F.col("cnt_top") >= 2),
                F.col("top1"),
            ).otherwise(F.col("top2")),
        )
        .filter(
            (F.col("n_supp") >= 2) & (F.col("l_shipdate") >= F.col("other_max"))
        )
        .select("l_orderkey", "l_suppkey")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        scored.join(o, scored.l_orderkey == o.o_orderkey)
        .join(s, scored.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


@query(
    "q128_tpch_q22_dormant_customers",
    oracle="""
    SELECT CAST(c_nationkey % 5 AS INT) AS cntry_group,
           COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    GROUP BY cntry_group
    ORDER BY cntry_group
    """,
)
def q128_tpch_q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): an uncorrelated scalar
    subquery (the positive-balance average — one tiny job, folded into
    the scan filter as a literal) combined with a correlated NOT EXISTS
    (no big-ticket orders — a left-anti join on custkey). Well-funded
    customers with no large orders, grouped by country group."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT CAST(c_nationkey % 5 AS INT) AS cntry_group,
               COUNT(*) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 400000)
        GROUP BY cntry_group
        ORDER BY cntry_group
        """
    )


@query(
    "q129_tpch_q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM supplier s
    JOIN lineitem l ON s_suppkey = l_suppkey
    JOIN orders o ON o_orderkey = l_orderkey
    JOIN customer c ON c_custkey = o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q129_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between nation pairs): a five-way
    join where the selective predicate is a DISJUNCTION over a pair of
    dimension attributes reachable only through different join paths
    (supplier→nation vs customer→nation). Each nation branch filters to
    2 of 25 rows and broadcasts; the disjunctive pair condition applies
    after both enrichments. Grouped by (supp_nation, cust_nation, year)."""
    t(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM supplier s
        JOIN lineitem l ON s_suppkey = l_suppkey
        JOIN orders o ON o_orderkey = l_orderkey
        JOIN customer c ON c_custkey = o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
        """
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline extensions: benchmark decontamination + intra-document
# repetition — the two corpus-hygiene passes q30-q37 don't cover.
# ---------------------------------------------------------------------------


@query(
    "q130_decontamination",
    oracle="""
    WITH tok AS (SELECT doc_id, source, STRING_SPLIT(LOWER(text), ' ') AS ts
                 FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 4)) AS i) s
      WHERE LEN(ts) >= 5
    ),
    bench AS (SELECT DISTINCT g FROM sh WHERE source IN ('src0', 'src1')),
    hits AS (
      SELECT DISTINCT doc_id, source FROM sh
      WHERE source NOT IN ('src0', 'src1') AND g IN (SELECT g FROM bench)
    )
    SELECT source, COUNT(*) AS contaminated,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM hits GROUP BY source ORDER BY source
    """,
)
def q130_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION — flag training documents that share any
    word 5-gram with a held-out benchmark set (sources src0/src1 stand in
    for the eval suite). The benchmark's distinct shingle set is tiny and
    BROADCAST, so the corpus-side scan is embarrassingly parallel: one
    pass, a broadcast left-semi join, no shuffle of corpus text. At
    100 TB the benchmark index stays a few MB (eval sets don't scale with
    the corpus), so this shape is shuffle-free regardless of corpus size.
    Shingles via functions/dedup.exploded_shingles (HOF-free hot path)."""
    from .functions.dedup import exploded_shingles

    d = t(spark, sf_dir, "documents")
    bench_sources = ("src0", "src1")
    is_bench = F.col("source").isin(*bench_sources)
    bench_g = (
        exploded_shingles(d.filter(is_bench), "text", "doc_id", 5)
        .select("g")
        .distinct()
    )
    corpus = d.filter(~is_bench)
    corpus_sh = exploded_shingles(corpus, "text", "doc_id", 5)
    hit_ids = (
        corpus_sh.join(F.broadcast(bench_g), "g", "left_semi")
        .select("id")
        .distinct()
    )
    # Join back to the same frame the shingles came from (not the full
    # documents table) so correctness never depends on doc_id being unique
    # across benchmark and corpus sources.
    return (
        hit_ids.join(corpus, hit_ids.id == corpus.doc_id)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("contaminated"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("source")
    )


@query(
    "q131_intra_doc_repetition",
    oracle="""
    WITH tok AS (SELECT doc_id, source, STRING_SPLIT(LOWER(text), ' ') AS ts
                 FROM documents),
    tot AS (SELECT doc_id, source, GREATEST(LEN(ts) - 2, 0) AS total FROM tok),
    dis AS (
      SELECT doc_id, COUNT(DISTINCT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS d
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
      GROUP BY doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(1.0 - d / total), 4) AS avg_repetition,
           CAST(SUM(CASE WHEN 1.0 - d / total > 0.001 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetitive
    FROM tot JOIN dis USING (doc_id)
    GROUP BY source ORDER BY source
    """,
)
def q131_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document repetition scoring — the duplicated-n-gram fraction
    (1 - distinct/total 3-grams) per document, the standard boilerplate/
    loop-generation signal for corpus filtering. One shingle explode +
    per-doc count (map-side combinable), joined to the per-doc total —
    no cross-document work at all, so it scales linearly with corpus
    bytes. Docs shorter than the gram width are excluded (no denominator)."""
    from .functions.dedup import exploded_shingles
    from .functions.text import tokens

    d = t(spark, sf_dir, "documents")
    toks = tokens("text")  # the canonical normalized tokenization shingles use
    tot = d.select(
        "doc_id",
        "source",
        F.greatest(F.size(toks) - 2, F.lit(0)).alias("total"),
    )
    dis = (
        exploded_shingles(d, "text", "doc_id", 3)
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    rep = F.lit(1.0) - F.col("d") / F.col("total")
    return (
        tot.join(dis, tot.doc_id == dis.id)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(rep), 4).alias("avg_repetition"),
            F.sum(F.when(rep > 0.001, 1).otherwise(0)).cast("long").alias("n_repetitive"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Runtime-optimization demonstrations (the two pruning mechanisms that
# matter most at 100 TB) + two more corpus-pipeline passes.
# ---------------------------------------------------------------------------


_Q132_WRITTEN: set[str] = set()
_Q132_CLEANUP_ROOTS: set[str] = set()


@query(
    "q132_dynamic_partition_pruning",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE EXTRACT(YEAR FROM l_shipdate) IN (1992, 1995, 1998, 2001, 2004)
    GROUP BY l_year
    ORDER BY l_year
    """,
)
def q132_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the fact table is written Hive-partitioned
    by ship year, then joined to a year dimension whose selective filter is
    only known at runtime — Spark builds the dim's key set during execution
    and skips non-matching fact *directories* (q88 showed static pruning;
    this is the join-driven variant that makes star-schema scans at 100 TB
    touch only the partitions the dim selects). Plan shows
    ``dynamicpruningexpression`` on the fact scan's partition filter.

    The partitioned fact copy is the largest table, so it is written
    once per (session, sf_dir) into a session-scoped path — re-invoking
    (or merely explaining) the query reuses it, and concurrent sessions
    never clobber each other's partition files mid-read. The session root
    is removed at interpreter exit so repeated sessions don't leak copies
    of the largest table into the temp dir."""
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        f"ddf_q132_dpp_fact_{spark.sparkContext.applicationId}",
    )
    target = os.path.join(root, os.path.basename(sf_dir.rstrip("/")))
    if target not in _Q132_WRITTEN:
        if root not in _Q132_CLEANUP_ROOTS:
            _Q132_CLEANUP_ROOTS.add(root)
            atexit.register(shutil.rmtree, root, ignore_errors=True)
        li = t(spark, sf_dir, "lineitem").withColumn("l_year", F.year("l_shipdate"))
        li.write.mode("overwrite").partitionBy("l_year").parquet(target)
        _Q132_WRITTEN.add(target)
    fact = spark.read.parquet(target)
    years = spark.range(1990, 2006).select(
        F.col("id").cast("int").alias("l_year"),
        (F.col("id") % 3 == 0).alias("flag"),
    )
    return (
        fact.join(years.filter(F.col("flag")).select("l_year"), "l_year")
        .groupBy("l_year")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("l_year")
    )


BLOOM_JOIN_CONF = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
}


def bloom_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unmaterialized selective fact-dim join q133 runs (and the plan
    lock inspects) — must be optimized under ``BLOOM_JOIN_CONF`` for the
    runtime filter to inject."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q133_runtime_bloom_join",
    oracle="""
    SELECT o_orderstatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_totalprice > 450000
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q133_runtime_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME Bloom-filter join pruning: when a selective dim is too big
    to broadcast (the 100 TB norm — here forced by disabling broadcast),
    Spark injects a ``bloom_filter_agg`` on the dim's join keys and a
    ``might_contain`` probe below the fact's shuffle, discarding ~99% of
    fact rows BEFORE the exchange instead of after the join. The query
    executes in a CHILD session (``spark.newSession()`` — same
    SparkContext and cached data, its own isolated SQLConf) so the conf
    override can never race with queries running concurrently on the
    caller's session, and returns the materialized 3-row result; values
    are conf-independent, which the plain-join oracle checks."""
    child = spark.newSession()
    for k, v in BLOOM_JOIN_CONF.items():
        child.conf.set(k, v)
    j = bloom_join_frame(child, sf_dir)
    rows = j.collect()
    return spark.createDataFrame(rows, j.schema)


@query(
    "q134_pii_redaction",
    oracle="""
    WITH synth AS (
      SELECT source,
             (CASE WHEN doc_id % 3 = 0
                   THEN 'contact ' || REPLACE(source, 'src', 'user') || '@example.com '
                   ELSE '' END)
             || text ||
             (CASE WHEN doc_id % 4 = 0
                   THEN ' from 10.0.' || CAST(doc_id % 255 AS VARCHAR) || '.7'
                   ELSE '' END) AS t
      FROM documents
    ),
    red AS (
      SELECT source, t,
             REGEXP_REPLACE(
               REGEXP_REPLACE(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS r
      FROM synth
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN REGEXP_MATCHES(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')
                           OR REGEXP_MATCHES(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
           CAST(SUM(LENGTH(t) - LENGTH(r)) AS BIGINT) AS chars_removed,
           CAST(SUM(LENGTH(r)) AS BIGINT) AS out_chars
    FROM red GROUP BY source ORDER BY source
    """,
)
def q134_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII REDACTION (functions/text.redact_pii): scrub emails and IPv4
    addresses with placeholder tokens — pure codegen'd regexp_replace, no
    UDF, one map stage at any scale. The synthetic corpus has no PII, so
    the query plants deterministic emails (docs ≡0 mod 3) and IPs (≡0 mod
    4) first and then verifies the scrub cross-engine: identical RE2-safe
    patterns run in DuckDB, and the per-source removed-char accounting
    must agree exactly. PII docs are counted by pattern MATCH (not by
    length delta — a placeholder can be exactly as long as what it
    replaced)."""
    from .functions.text import EMAIL_RE, IPV4_RE, redact_pii

    d = t(spark, sf_dir, "documents")
    synth = F.concat(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("contact "),
                F.regexp_replace(F.col("source"), "src", "user"),
                F.lit("@example.com "),
            ),
        ).otherwise(F.lit("")),
        F.col("text"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit(" from 10.0."),
                (F.col("doc_id") % 255).cast("string"),
                F.lit(".7"),
            ),
        ).otherwise(F.lit("")),
    )
    base = d.select("source", synth.alias("t"))
    red = base.withColumn("r", redact_pii("t"))
    has_pii = F.col("t").rlike(EMAIL_RE) | F.col("t").rlike(IPV4_RE)
    return (
        red.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(has_pii, 1).otherwise(0)).cast("long").alias("n_pii_docs"),
            F.sum(F.length("t") - F.length("r")).cast("long").alias("chars_removed"),
            F.sum(F.length("r")).cast("long").alias("out_chars"),
        )
        .orderBy("source")
    )


@query(
    "q135_token_chunking",
    oracle="""
    WITH tok AS (SELECT doc_id, source, STRING_SPLIT(text, ' ') AS ts
                 FROM documents),
    st AS (
      SELECT doc_id, source, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - 64 + 48, 1), 48)) AS s
      FROM tok
    ),
    ch AS (
      SELECT source,
             ARRAY_TO_STRING(ts[s:s+63], ' ') AS chunk_text,
             LEN(ts[s:s+63]) AS chunk_tokens
      FROM st
    )
    SELECT source,
           COUNT(*) AS n_chunks,
           ROUND(AVG(chunk_tokens), 4) AS avg_chunk_tokens,
           CAST(SUM(LENGTH(chunk_text)) AS BIGINT) AS chars_checksum
    FROM ch GROUP BY source ORDER BY source
    """,
)
def q135_token_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-WINDOW CHUNKING (functions/text.token_chunks): split every
    document into 64-token windows with stride 48 (16-token overlap) —
    the context-window packing step between corpus curation and training.
    sequence + posexplode + slice per document: linear, shuffle-free,
    partitioning-preserving. The per-source chunk counts, mean chunk
    width (ragged tails included) and char checksum are verified against
    DuckDB's list-slicing formulation."""
    from .functions.text import token_chunks

    d = t(spark, sf_dir, "documents")
    ch = token_chunks(d, "text", "doc_id", size=64, stride=48)
    return (
        ch.join(d.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.round(F.avg("chunk_tokens"), 4).alias("avg_chunk_tokens"),
            F.sum(F.length("chunk_text")).cast("long").alias("chars_checksum"),
        )
        .orderBy("source")
    )


@query(
    "q136_corpus_mixing",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, lang, n_chars,
             SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum_chars
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS chars_kept,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM ranked WHERE cum_chars <= 5000
    GROUP BY source ORDER BY source
    """,
)
def q136_corpus_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS MIXING under per-source char budgets
    (`operators/sampling.sample_to_budget`): each source contributes
    docs in deterministic doc_id order until its 5000-char budget is
    exhausted — the reproducible (RNG-free) way to assemble a training
    mix with target per-domain proportions. One window shuffle on
    source; the id_checksum pins that both engines select the SAME
    documents, not just the same counts."""
    from .operators.sampling import sample_to_budget

    d = t(spark, sf_dir, "documents")
    kept = sample_to_budget(
        d, group_col="source", weight_col="n_chars", budget=5000, order_col="doc_id"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("chars_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# TPC-H catalog completion: with q137-q142 every one of the 22 TPC-H query
# archetypes expressible on this schema has an oracle-checked analog
# (partsupp-based Q9/Q11/Q20 are adapted: cost/stock proxies from part and
# lineitem). The reference dialect supports none of them beyond Q1/Q6 shapes.
# ---------------------------------------------------------------------------


def _tpch_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for name in names:
        t(spark, sf_dir, name).createOrReplaceTempView(name)


@query(
    "q137_tpch_q6_revenue_filter",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q137_tpch_q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan-filter-aggregate —
    every predicate pushes to the parquet scan, zero joins, one partial+
    final agg. The cheapest archetype, and the one where scan pruning is
    the entire cost model."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q138_tpch_q8_market_share",
    oracle="""
    WITH allsales AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
    )
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM allsales GROUP BY o_year ORDER BY o_year
    """,
)
def q138_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): seven-way snowflake join — nation
    joined TWICE through different paths (customer→nation→region for the
    market, supplier→nation for the share) — then a conditional-ratio
    aggregate per year. All dimension hops broadcast; the fact is
    scanned once."""
    _tpch_views(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation", "region"
    )
    return spark.sql(
        """
        WITH allsales AS (
          SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS supp_nation
          FROM lineitem
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA'
        )
        SELECT o_year,
               ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                     / SUM(volume), 4) AS mkt_share
        FROM allsales GROUP BY o_year ORDER BY o_year
        """
    )


@query(
    "q139_tpch_q9_profit_by_nation",
    oracle="""
    SELECT n_name AS supp_nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                    - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.01 AS DECIMAL(3,2))
                      * CAST(l_quantity AS DECIMAL(9,0))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%blue%'
    GROUP BY supp_nation, o_year
    ORDER BY supp_nation, o_year DESC
    """,
)
def q139_tpch_q9_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: no partsupp table in this
    schema, so unit cost is proxied by p_retailprice/100 — the plan shape
    (substring-filtered part dim, five-way join, profit expression inside
    the aggregate, group by nation×year) is Q9's. The LIKE filter can't
    push as a parquet predicate but prunes the broadcast build side.
    The profit sum runs in DECIMAL: prices carry 2 fractional digits, so
    decimal arithmetic is EXACT and order-independent — the double
    formulation's +/- cancellation amplified summation-order noise past
    the 2-decimal rounding boundary (a cross-RUN hash instability)."""
    _tpch_views(spark, sf_dir, "lineitem", "orders", "supplier", "part", "nation")
    return spark.sql(
        """
        SELECT n_name AS supp_nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))
                        - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.01 AS DECIMAL(3,2))
                          * CAST(l_quantity AS DECIMAL(9,0))) AS DOUBLE) AS profit
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders ON o_orderkey = l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%blue%'
        GROUP BY supp_nation, o_year
        ORDER BY supp_nation, o_year DESC
        """
    )


@query(
    "q140_tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q140_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): a derived revenue view referenced twice —
    once as the join input, once inside the scalar MAX subquery. Catalyst
    evaluates the tiny per-supplier aggregate, broadcasts the scalar max
    back into the filter, and keeps ties (all argmax suppliers), exactly
    the view-based original's semantics."""
    _tpch_views(spark, sf_dir, "lineitem", "supplier")
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_rev
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        ORDER BY s_suppkey
        """
    )


@query(
    "q141_tpch_q17_small_qty_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q141_tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): a correlated AVERAGE
    subquery per part — the per-group-threshold archetype. Catalyst
    decorrelates the inner AVG into a grouped aggregate over lineitem
    joined back on partkey (one extra scan + broadcastable join), never
    a per-row rescan; q110 is the MIN variant of the same mechanism."""
    _tpch_views(spark, sf_dir, "lineitem", "part")
    return spark.sql(
        """
        SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#5'
          AND l_quantity < (SELECT 0.5 * AVG(l2.l_quantity)
                            FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
        """
    )


@query(
    "q142_tpch_q20_agg_semi_supplier",
    oracle="""
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
      GROUP BY l_suppkey
      HAVING SUM(l_quantity) > 2200
    )
    ORDER BY s_name
    """,
)
def q142_tpch_q20_agg_semi_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion), adapted: no partsupp
    availability column, so the stock condition becomes an aggregate
    threshold over shipped quantity of 'red' parts. The shape is Q20's
    signature: an IN subquery whose body is itself a filtered
    join+GROUP BY+HAVING — the aggregate runs first, reduces to a tiny
    key set, and semi-joins the supplier dim."""
    _tpch_views(spark, sf_dir, "lineitem", "supplier", "part", "nation")
    return spark.sql(
        """
        SELECT s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_name LIKE 'red%'
          GROUP BY l_suppkey
          HAVING SUM(l_quantity) > 2200
        )
        ORDER BY s_name
        """
    )


def _q143_oracle() -> str:
    from .functions.layout import morton_key_sql

    mk = morton_key_sql("l_partkey % 1024", "l_suppkey % 1024", bits=10)
    return f"""
    WITH keyed AS (
      SELECT ({mk}) AS mk, l_orderkey, l_linenumber
      FROM lineitem
      WHERE l_partkey % 1024 BETWEEN 100 AND 199
        AND l_suppkey % 1024 BETWEEN 10 AND 59
    )
    SELECT COUNT(*) AS n_rows,
           CAST(MIN(mk) AS BIGINT) AS mk_min,
           CAST(MAX(mk) AS BIGINT) AS mk_max,
           CAST(SUM(mk) AS BIGINT) AS mk_checksum,
           CAST(SUM(l_orderkey * 7 + l_linenumber) AS BIGINT) AS row_checksum
    FROM keyed
    """


@query("q143_morton_layout", oracle=_q143_oracle())
def q143_morton_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout key (`functions/layout.morton_key`): bit-interleave
    of two dimensions, computed by one codegen'd bit-op expression and
    verified bit-identical against the SQL emission (`morton_key_sql`)
    that external engines would use. The aggregate runs over a 2-D box
    predicate — exactly the query class a Morton-sorted table layout
    serves: with data written `repartitionByRange(morton).sortWithinPartitions`,
    parquet row-group min/max stats stay tight on BOTH dimensions and
    the box scan skips most row groups on either axis (single-key sorts
    only prune one). The reference has no layout machinery (its sort is
    single-node, utils/package.scala:369-378)."""
    from .functions.layout import morton_key

    li = t(spark, sf_dir, "lineitem")
    px = F.col("l_partkey") % 1024
    sx = F.col("l_suppkey") % 1024
    keyed = li.filter(px.between(100, 199) & sx.between(10, 59)).select(
        morton_key(px, sx, bits=10).alias("mk"), "l_orderkey", "l_linenumber"
    )
    return keyed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("mk").cast("long").alias("mk_min"),
        F.max("mk").cast("long").alias("mk_max"),
        F.sum("mk").cast("long").alias("mk_checksum"),
        F.sum(F.col("l_orderkey") * 7 + F.col("l_linenumber"))
        .cast("long")
        .alias("row_checksum"),
    )


# ---------------------------------------------------------------------------
# Cross-engine near-dup verification: the MD5-family MinHash/SimHash
# variants whose signatures any md5-capable engine reproduces exactly —
# upgrading the (engine-specific, xxhash64) q31/q33 families to a fully
# DuckDB-oracle-checked pipeline. Same distributed shape as the xx path.
# ---------------------------------------------------------------------------


def _q144_oracle() -> str:
    # Mirrors minhash_lsh_candidates(hash_family="md5"): 16 hashes, 4 bands
    # of 4, 3-gram shingles; h_i = 60-bit parse of md5("i:" + shingle).
    return _minhash_cand_oracle(16, 4)


@query("q144_minhash_crossengine", oracle=_q144_oracle())
def q144_minhash_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs with the CROSS-ENGINE md5 hash family
    (16 hashes, 4 bands): DuckDB recomputes the identical signatures and
    band buckets from scratch, so the entire pipeline — shingling,
    min-hash family, banding, candidate join — is hash-checked end to end
    (q31 is the same pipeline on the cheaper engine-specific xxhash64
    family). Shuffle profile is unchanged: constant bytes/doc."""
    from .functions.dedup import minhash_lsh_candidates

    d = t(spark, sf_dir, "documents")
    src = minhash_lsh_candidates(d, num_hashes=16, bands=4, hash_family="md5")
    return _carry(src.orderBy("id_a", "id_b"), src)


def _q145_oracle() -> str:
    # Mirrors simhash_signatures(hash_family="md5"): 60-bit md5_long per
    # 2-gram shingle, per-bit ≥-majority vote, empty docs → all-ones.
    return f"""
    WITH {_simhash_sig_cte()}
    SELECT id, sig FROM sigs ORDER BY id
    """


@query("q145_simhash_crossengine", oracle=_q145_oracle())
def q145_simhash_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash signatures with the CROSS-ENGINE md5 hash
    family (60-bit): DuckDB recomputes every signature from scratch —
    shingling, per-bit majority vote, tie handling, empty-doc all-ones —
    so the signature computation q33's Hamming-blocking consumes is
    bit-for-bit verified (the pair-generation layer on top is pinned by
    the q33 unit/property tests). Same aggregation shape as the xx path:
    61 codegen'd integer SUMs, map-side combinable."""
    from .functions.dedup import simhash_signatures

    d = t(spark, sf_dir, "documents")
    return simhash_signatures(d, hash_family="md5").orderBy("id")


def _q146_oracle() -> str:
    # Mirrors ml/kmeans.kmeans_lloyd(k=4, iters=2, round_digits=4) — the
    # shared generator (defined above q62) emits the same CTE chain.
    return _kmeans_oracle(4, 2)


@query("q146_kmeans_fixed_iters", oracle=_q146_oracle())
def q146_kmeans_fixed_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE ML, oracle-checked: two deterministic Lloyd k-means
    iterations (ml/kmeans.kmeans_lloyd — lowest-id init, round-6 ranked
    squared-L2 argmin, round-4 centroid updates) that DuckDB replays
    exactly, membership and all — upgrading the clustering family beyond
    q62's rows-only check (pyspark.ml's k-means|| init is seeded but not
    cross-engine-reproducible). id_checksum pins the exact membership of
    every cluster, not just its size."""
    from .ml.kmeans import kmeans_lloyd

    emb = t(spark, sf_dir, "embeddings")
    final = kmeans_lloyd(emb, "embedding", "vec_id", k=4, iters=2)
    return (
        final.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(F.avg("dist"), 4).alias("avg_dist"),
            F.sum("id").cast("long").alias("id_checksum"),
        )
        .orderBy("cluster")
    )


@query(
    "q147_variant_json",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             json_extract_string(props, '$.missing') AS m
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           ROUND(AVG(k), 4) AS avg_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(SUM(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM p GROUP BY event_type ORDER BY event_type
    """,
)
def q147_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing on Spark 4's VARIANT type: ``props`` is
    parsed ONCE per row (``parse_json`` → binary variant) and every field
    access is a cheap ``variant_get``/``try_variant_get`` over the parsed
    form — the parse-once-extract-many pattern that replaces q94's
    repeated per-path JSON parsing (at 100 TB, re-tokenizing JSON text per
    extraction is the dominant cost; variant pays it once, and a variant
    column persisted in parquet is shredded columnar). ``try_variant_get``
    on an absent path proves the null path is total, not throwing."""
    e = t(spark, sf_dir, "events")
    v = e.select("event_type", F.parse_json("props").alias("pv"))
    k = F.variant_get("pv", "$.k", "long")
    missing = F.try_variant_get("pv", "$.missing", "string")
    return (
        v.select("event_type", k.alias("k"), missing.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_missing"),
        )
        .orderBy("event_type")
    )


@query(
    "q148_stream_left_outer_join",
    oracle="""
    WITH mp AS (SELECT date_trunc('milliseconds', MAX(ts)) AS m FROM events
                WHERE event_type = 'purchase'),
    me AS (SELECT date_trunc('milliseconds', MAX(ts)) AS m FROM events
           WHERE event_type = 'error'),
    cutoff AS (SELECT LEAST(mp.m, me.m) - INTERVAL 90 MINUTES AS c FROM mp, me)
    SELECT p.event_id AS purchase_id,
           e.event_id AS error_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      ON p.user_id = e.user_id
     AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL 30 MINUTES
    WHERE p.ts < (SELECT c FROM cutoff)
    ORDER BY purchase_id, error_id
    """,
)
def q148_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every purchase is emitted,
    null-padded when no error follows within 30 min. Unlike the inner
    variant (q79 — eager emission), outer results only materialize when
    the watermark CLOSES a purchase's join horizon; on a finite replay the
    final watermark is min(side max event time, ms-truncated) - delay, so
    purchases inside the last delay+interval (90 min) stay pending in the
    state store when the query terminates. That closure rule IS the
    contract — both this query and the oracle apply the identical cutoff
    (p_ts < final watermark - interval), making the finite-replay result
    exactly the batch left join over finalized rows, which is what an
    incremental production pipeline would have durably emitted at this
    point in the stream. Join state on both sides is evicted at the
    interval + watermark horizon — bounded regardless of stream length."""
    from .streaming.core import events_stream, run_available_now

    ev = events_stream(spark, sf_dir)
    batch = events_table(spark, sf_dir)
    side_max = batch.groupBy().agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("mp"),
        F.max(F.when(F.col("event_type") == "error", F.col("ts"))).alias("me"),
    ).select(
        F.least(
            F.date_trunc("millisecond", "mp"), F.date_trunc("millisecond", "me")
        ).alias("m")
    )
    cutoff = side_max.first()["m"]
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    joined = purchases.join(
        errors,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    )
    out = run_available_now(joined.select("purchase_id", "error_id", "p_ts"), "append")
    return (
        out.filter(F.col("p_ts") < F.lit(cutoff) - F.expr("INTERVAL 90 MINUTES"))
        .select("purchase_id", "error_id")
        .orderBy("purchase_id", "error_id")
    )


@query(
    "q149_udtf_repeated_spans",
    oracle="""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts
                 FROM documents WHERE doc_id < 500),
    grams AS (
      SELECT doc_id, i - 1 AS pos,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
    ),
    counted AS (
      SELECT doc_id, pos, gram,
             COUNT(*) OVER (PARTITION BY doc_id, gram) AS n_occurrences
      FROM grams
    )
    SELECT doc_id, pos, gram, CAST(n_occurrences AS INT) AS n_occurrences
    FROM counted WHERE n_occurrences > 1
    ORDER BY doc_id, pos, gram
    """,
)
def q149_udtf_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) from SQL via LATERAL: locate
    every within-document repeated 3-gram occurrence — the span-level
    companion to q131's repetition fraction, feeding boilerplate masking.
    The UDTF path exists because the reference's entire Python-UDF
    surface was an unimplemented TODO (reference README.md:76-79); the
    oracle pins the Python row logic against a pure-SQL window
    formulation. Python-in-the-row-path is the slow lane (PERF.md), so
    the declarative operators stay the default; the per-doc positional
    index here is the shape that genuinely fits imperative code."""
    from .functions.udtfs import register_udtfs

    d = t(spark, sf_dir, "documents")
    register_udtfs(spark)
    d.filter(F.col("doc_id") < 500).createOrReplaceTempView("q149_docs")
    return spark.sql(
        """
        SELECT d.doc_id, CAST(s.pos AS BIGINT) AS pos, s.gram, s.n_occurrences
        FROM q149_docs d, LATERAL repeated_spans(d.text) s
        ORDER BY doc_id, pos, gram
        """
    )


@query(
    "q150_python_datasource",
    oracle="""
    SELECT i % 16 AS bucket,
           COUNT(*) AS n,
           CAST(SUM((i * 1103515245 + 12345) % 2147483648) AS BIGINT) AS sum_val,
           CAST(MIN((i * 1103515245 + 12345) % 2147483648) AS BIGINT) AS min_val
    FROM generate_series(20000, 39999) t(i)
    GROUP BY bucket ORDER BY bucket
    """,
)
def q150_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON DATA SOURCE (Spark 4 ``pyspark.sql.datasource``):
    a deterministic LCG table served by `sources/pyds.SynthRowsDataSource`
    with planner-integrated range-partitioned parallel reads and
    ``pushFilters`` predicate pushdown — the id-range predicate below is
    consumed at planning time and clamps the partition ranges, so pruned
    rows are never generated (the Python-source analog of parquet's
    PushedFilters). The oracle recomputes the identical table from
    ``generate_series`` arithmetic. The reference could only add inputs
    by writing a JVM InputFormat (utils/package.scala:401-442)."""
    from .sources.pyds import register

    ensure_shipped(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    df = (
        spark.read.format("synthrows")
        .option("n", 100000)
        .option("numpartitions", 8)
        .load()
    )
    return (
        df.filter((F.col("id") >= 20000) & (F.col("id") < 40000))
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").cast("long").alias("sum_val"),
            F.min("val").cast("long").alias("min_val"),
        )
        .orderBy("bucket")
    )


@query(
    "q151_srp_lsh_crossengine",
    oracle="""
    WITH signs AS (
      SELECT i.i AS plane, d.d AS dim,
             CASE WHEN CAST(('0x' || SUBSTRING(
                    md5(CAST(i.i AS VARCHAR) || ':' || CAST(d.d AS VARCHAR)),
                    1, 15)) AS BIGINT) % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM (SELECT UNNEST(GENERATE_SERIES(0, 15)) AS i) i,
           (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS d) d
    ),
    qv AS (
      SELECT vec_id AS id, u.i - 1 AS dim,
             CAST(ROUND(CAST(u.x AS DOUBLE) * 10000) AS BIGINT) AS q
      FROM embeddings e,
           LATERAL (SELECT UNNEST(e.embedding) AS x,
                           generate_subscripts(e.embedding, 1) AS i) u
    ),
    dots AS (
      SELECT id, plane, SUM(q * s) AS dot
      FROM qv JOIN signs ON signs.dim = qv.dim
      GROUP BY id, plane
    )
    SELECT id,
           CAST(SUM(CASE WHEN dot >= 0 THEN 1 << plane ELSE 0 END) AS BIGINT) AS sig
    FROM dots GROUP BY id ORDER BY id
    """,
)
def q151_srp_lsh_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH signatures (cosine SimHash) with
    md5-derived hyperplanes and integer-quantized exact projections
    (`functions/similarity.srp_signature_crossengine`) — DuckDB
    regenerates the hyperplanes from the same md5 contract and recomputes
    every 16-bit signature identically. This closes the oracle gap on the
    embedding-LSH family the way q144/q145 did for the shingle families:
    q42's production variant (seeded xxhash hyperplanes, float dots)
    remains the throughput path. Spark side is one codegen'd map pass —
    plan-time literal sign arrays, no explode, no shuffle."""
    from .functions.similarity import srp_signature_crossengine

    emb = t(spark, sf_dir, "embeddings")
    return srp_signature_crossengine(emb).orderBy("id")


@query(
    "q152_neardup_pipeline_crossengine",
    oracle=f"""
    WITH RECURSIVE {_neardup_pipeline_cte()}
    SELECT d.source,
           COUNT(*) AS n_kept,
           CAST(SUM(d.doc_id) AS BIGINT) AS kept_checksum
    FROM documents d JOIN clusters c ON c.id = d.doc_id AND c.cluster = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def q152_neardup_pipeline_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL near-dup removal pipeline, ORACLE-CHECKED END TO END:
    md5-family MinHash+LSH candidates (16 hashes, 4 bands) → exact-Jaccard
    verification (≥ 0.6) restricted to candidate docs → connected-components
    cluster formation → canonical keep (min id per cluster) → per-source
    survivor rollup. DuckDB replays every stage — the LSH S-curve, the
    precision gate, and transitive clustering via a recursive CTE — so the
    whole corpus-cleaning pipeline (not just its stages) is hash-verified.
    q102 is the same pipeline on the cheaper xxhash64 family (rows-only);
    the distributed shape is identical: constant bytes/doc shuffles,
    candidate-restricted verification, O(diameter) CC rounds."""
    from .functions.dedup import (
        connected_components,
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )
    from .storage import (
        propagate_checkpoint_ids,
        release_checkpoint,
        tracked_local_checkpoint,
    )

    d = t(spark, sf_dir, "documents")
    # the candidate pairs feed BOTH the corpus restriction and the
    # verification semi-join — materialize so the md5 signature job
    # (the pipeline's dominant cost) runs exactly once; tracked so the
    # blocks ride the result frame and its internal band checkpoint is
    # freed the moment the pair list is materialized
    raw_pairs = minhash_lsh_candidates(d, num_hashes=16, bands=4, hash_family="md5")
    pairs = tracked_local_checkpoint(raw_pairs)
    release_checkpoint(raw_pairs)
    # verify exact Jaccard for the LSH pairs ONLY (round 12,
    # dedup.jaccard_verify_pairs): array-intersect per pair instead of
    # re-deriving every pair the candidate docs form and semi-joining
    # back — work ∝ |pairs|, values identical
    verified = jaccard_verify_pairs(d, pairs, threshold=0.6, n=3)
    nodes = d.select(F.col("doc_id").alias("id"))
    clusters = connected_components(
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")), nodes
    )
    kept = d.join(
        clusters.filter(F.col("id") == F.col("cluster")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    return propagate_checkpoint_ids(
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").cast("long").alias("kept_checksum"),
        )
        .orderBy("source"),
        pairs,
    )


def _q153_oracle(iters: int = 3) -> str:
    # Mirrors functions/graph.pagerank(round_digits=6) on the deterministic
    # arithmetic graph below: ranks rounded to 6 each iteration, dangling
    # mass to 8, base term computed with the identical IEEE op order.
    parts = [
        """
    WITH docs AS (SELECT doc_id AS id FROM documents),
    nn AS (SELECT COUNT(*) AS n FROM documents),
    edges AS (
      SELECT d.doc_id AS src, d.doc_id + 1 AS dst FROM documents d
      WHERE d.doc_id % 10 < 3
        AND d.doc_id + 1 <= (SELECT MAX(doc_id) FROM documents)
      UNION ALL
      SELECT d.doc_id AS src,
             (d.doc_id * 7) % (SELECT n FROM nn) AS dst
      FROM documents d
      WHERE d.doc_id % 5 = 0
        AND (d.doc_id * 7) % (SELECT n FROM nn) != d.doc_id
    ),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM docs)"""
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(f""",
    dang{k} AS (
      SELECT ROUND(COALESCE(SUM(rank), 0), 8) AS dm FROM r{p}
      WHERE id NOT IN (SELECT src FROM deg)
    ),
    mass{k} AS (
      SELECT e.dst AS id, SUM(r.rank / deg.deg) AS m
      FROM edges e
      JOIN r{p} r ON r.id = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst
    ),
    r{k} AS (
      SELECT d.id,
             ROUND(
               ((1.0 - 0.85) / (SELECT n FROM nn))
               + ((0.85 * (SELECT dm FROM dang{k})) / (SELECT n FROM nn))
               + 0.85 * COALESCE(m.m, 0.0), 6) AS rank
      FROM docs d LEFT JOIN mass{k} m ON m.id = d.id
    )""")
    parts.append(f"""
    SELECT id, rank FROM r{iters} ORDER BY rank DESC, id LIMIT 20""")
    return "".join(parts)


@query("q153_pagerank_fixed_iters", oracle=_q153_oracle())
def q153_pagerank_fixed_iters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE GRAPH ALGORITHM, oracle-checked: three PageRank power
    iterations with dangling-mass redistribution over a deterministic
    arithmetic graph on the documents table, ranks re-rounded each
    iteration (`functions/graph.pagerank(round_digits=6)`) so DuckDB
    replays the exact recurrence — the kmeans round-sync trick applied to
    the fixpoint family. q113 is the full-precision production variant on
    the similarity graph (rows-only). Top-20 by rank, tie-broken by id."""
    from .functions.graph import pagerank

    d = t(spark, sf_dir, "documents")
    n = d.count()
    # max(doc_id), not n-1: identical by construction to the oracle's
    # MAX(doc_id) even if doc_id is ever non-dense or non-zero-based
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    ids = d.select(F.col("doc_id").alias("id"))
    e1 = (
        d.filter((F.col("doc_id") % 10 < 3) & (F.col("doc_id") + 1 <= max_id))
        .select(F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst"))
    )
    e2 = (
        d.filter((F.col("doc_id") % 5 == 0) & ((F.col("doc_id") * 7) % n != F.col("doc_id")))
        .select(F.col("doc_id").alias("src"), ((F.col("doc_id") * 7) % n).alias("dst"))
    )
    ranks = pagerank(e1.unionByName(e2), ids, iterations=3, round_digits=6)
    return _carry(ranks.orderBy(F.desc("rank"), "id").limit(20), ranks)


@query(
    "q154_weighted_sample_crossengine",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tokens,
             (CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
               / 1152921504606846977.0 AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, n_tokens,
             ROUND(LN(u) / n_tokens, 8) AS wkey
      FROM w WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens
    FROM keyed ORDER BY wkey DESC, doc_id LIMIT 100
    """,
)
def q154_weighted_sample_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPRODUCIBLE weighted sampling (Efraimidis-Spirakis with the
    randomness replaced by an md5-keyed uniform,
    `operators/sampling.sample_weighted_deterministic`): the same 100
    token-weighted documents are selected by any engine, any run, any
    partitioning — the data-mixing contract that makes a training mix
    auditable and re-buildable. DuckDB re-derives u from the identical
    md5 key and replays the ln(u)/w ranking (round-8, id tie-break).
    q119 is the seeded-RNG engine-native variant (rows-only)."""
    from .functions.text import token_count
    from .operators.sampling import sample_weighted_deterministic

    d = t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return sample_weighted_deterministic(d, "n_tokens", 100).orderBy("doc_id")


def _q155_oracle() -> str:
    # The deterministic-kmeans quantizer CTEs (identical to _q146_oracle's
    # chain) + IVF probe/search: nprobe=2 nearest cells per query, exact
    # cosine ranking within the probed cells (q40's round-6-rank pattern).
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT 4)
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    q AS (SELECT id, v FROM emb WHERE id < 10),
    probe AS (
      SELECT q.id AS qid, c.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY q.id
               ORDER BY ROUND(list_distance(q.v, c.c), 6), c.cluster
             ) AS prn
      FROM q CROSS JOIN c2 c
    ),
    cand AS (
      SELECT p.qid, cells.id AS nid
      FROM probe p JOIN cells ON cells.cluster = p.cluster
      WHERE p.prn <= 2 AND cells.id != p.qid
    ),
    scored AS (
      SELECT c.qid, c.nid, list_cosine_similarity(eq.v, en.v) AS cos
      FROM cand c
      JOIN emb eq ON eq.id = c.qid
      JOIN emb en ON en.id = c.nid
    ),
    ranked AS (
      SELECT qid, nid, cos,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY ROUND(cos, 6) DESC, nid) AS rn
      FROM scored
    )
    SELECT qid AS query_id, nid AS neighbor_id, ROUND(cos, 4) AS cos
    FROM ranked WHERE rn <= 3 ORDER BY query_id, neighbor_id
    """


@query("q155_ivf_crossengine", oracle=_q155_oracle())
def q155_ivf_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF APPROXIMATE-NEAREST-NEIGHBOR SEARCH, oracle-checked end to
    end: the deterministic Lloyd quantizer (q146) builds the coarse
    cells, each query probes its nprobe=2 nearest centroids, and exact
    cosine ranks only the vectors in the probed cells — the inverted-file
    pruning that makes billion-vector search tractable (search cost ~
    nprobe/k of the corpus). DuckDB replays quantizer, cell assignment,
    probe selection, and in-cell ranking identically. q39 is the
    pyspark.ml-quantizer production variant (rows-only)."""
    from pyspark.sql import Window

    from .functions.similarity import cosine
    from .ml.kmeans import kmeans_lloyd

    raw = t(spark, sf_dir, "embeddings")
    emb = raw.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    assign, cents = kmeans_lloyd(raw, k=4, iters=2, return_centroids=True)
    cells = assign.select("id", "cluster")
    queries = emb.filter(F.col("id") < 10)
    dist_arr = F.array(
        *[
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        "v",
                        F.array(*[F.lit(float(x)) for x in c]),
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            for c in cents
        ]
    )
    scored_cents = F.zip_with(
        dist_arr,
        F.array(*[F.lit(ci) for ci in range(len(cents))]),
        lambda d, ci: F.struct(F.round(d, 6).alias("rd"), ci.alias("cluster")),
    )
    probes = queries.select(
        F.col("id").alias("qid"),
        F.explode(F.slice(F.array_sort(scored_cents), 1, 2)).alias("p"),
    ).select("qid", F.col("p.cluster").alias("cluster"))
    cand = (
        probes.join(cells, "cluster")
        .filter(F.col("id") != F.col("qid"))
        .select("qid", F.col("id").alias("nid"))
    )
    eq = emb.select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    en = emb.select(F.col("id").alias("nid"), F.col("v").alias("nv"))
    scored = cand.join(eq, "qid").join(en, "nid").select(
        "qid", "nid", cosine(F.col("qv"), F.col("nv")).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.round("cos", 6).desc(), F.col("nid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("qid").alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.round("cos", 4).alias("cos"),
        )
        .orderBy("query_id", "neighbor_id")
    )


@query(
    "q156_multimodal_dedup",
    oracle="""
    WITH media AS (
      SELECT doc_id AS media_id,
             REPEAT(SUBSTRING(text, 1, 16), 4) AS payload
      FROM documents
    ),
    fp AS (
      SELECT media_id, md5(payload) AS fp,
             OCTET_LENGTH(ENCODE(payload)) AS n_bytes
      FROM media
    ),
    grp AS (
      SELECT fp, COUNT(*) AS n_copies, MIN(media_id) AS keep_id,
             MIN(n_bytes) AS n_bytes
      FROM fp GROUP BY fp
    )
    SELECT fp, n_copies, keep_id, n_bytes
    FROM grp WHERE n_copies > 1
    ORDER BY n_copies DESC, fp
    """,
)
def q156_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL content-hash dedup, oracle-checked: media blobs
    (opaque ``binary`` column, functions/multimodal.attach_fake_media)
    are fingerprinted BY BYTES (md5 of the binary — never decoded) and
    grouped — the image/audio dedup pass every multimodal corpus gets,
    and it never ships or decodes the bytes: the shuffle carries
    (md5, id, len) only. The oracle recomputes the same fingerprints
    from the payload the fake media derives from, pinning the
    binary-column plumbing (encode → md5(binary) → group) exactly; the
    decode/feature path stays q43 (pandas-UDF, rows-only by nature)."""
    from .functions.multimodal import attach_fake_media

    d = t(spark, sf_dir, "documents")
    media = attach_fake_media(d, "doc_id", "text")
    fp = media.select(
        "media_id",
        F.md5("content").alias("fp"),
        F.length("content").alias("n_bytes"),
    )
    return (
        fp.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_id").alias("keep_id"),
            F.min("n_bytes").cast("long").alias("n_bytes"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy(F.desc("n_copies"), "fp")
    )


def _q157_oracle() -> str:
    # 24-dim hour-of-day activity profile per user (round-6 per-cell
    # means, 0-filled), exact cosine among (query users < 20) × all.
    cells = ",\n             ".join(
        f"ROUND(COALESCE(AVG(CASE WHEN h = {h} THEN value END), 0), 6) AS c{h}"
        for h in range(24)
    )
    vec = "[" + ", ".join(f"c{h}" for h in range(24)) + "]"
    return f"""
    WITH hr AS (
      SELECT user_id, EXTRACT(HOUR FROM ts) AS h, value FROM events
    ),
    prof AS (
      SELECT user_id,
             {cells}
      FROM hr GROUP BY user_id
    ),
    vecs AS (SELECT user_id, CAST({vec} AS DOUBLE[]) AS v FROM prof),
    scored AS (
      SELECT q.user_id AS query_user, c.user_id AS match_user,
             list_cosine_similarity(q.v, c.v) AS cos
      FROM vecs q JOIN vecs c ON q.user_id != c.user_id
      WHERE q.user_id < 20
    ),
    ranked AS (
      SELECT query_user, match_user, cos,
             ROW_NUMBER() OVER (PARTITION BY query_user
                                ORDER BY ROUND(cos, 6) DESC, match_user) AS rn
      FROM scored
    )
    SELECT query_user, match_user, ROUND(cos, 4) AS cos
    FROM ranked WHERE rn <= 3 ORDER BY query_user, match_user
    """


@query("q157_user_profile_similarity", oracle=_q157_oracle())
def q157_user_profile_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-SERIES SIMILARITY SEARCH over behavioral profiles: each
    user's events collapse to a 24-dim hour-of-day activity vector (one
    conditional-agg pass — no pivot shuffle per dimension), then cosine
    top-3 neighbors for the query users — "find users with similar
    activity patterns", the profile-similarity shape the retrieved
    EDBT/ICDE time-series-search papers distribute. At scale the profile
    build is one groupBy (24 floats/user out) and the pair stage is the
    q40 bounded-seed pattern; the LSH/IVF variants (q42/q151/q155) are
    the full-corpus path. Cell means round-6 so DuckDB's replay feeds
    identical vectors to the identical ranking."""
    e = t(spark, sf_dir, "events")
    cells = [
        F.round(
            F.coalesce(F.avg(F.when(F.hour("ts") == h, F.col("value"))), F.lit(0.0)),
            6,
        ).alias(f"c{h}")
        for h in range(24)
    ]
    prof = e.groupBy("user_id").agg(*cells)
    vecs = prof.select(
        "user_id", F.array(*[F.col(f"c{h}") for h in range(24)]).alias("v")
    )
    from pyspark.sql import Window

    from .functions.similarity import cosine

    q = vecs.filter(F.col("user_id") < 20).select(
        F.col("user_id").alias("query_user"), F.col("v").alias("qv")
    )
    c = vecs.select(F.col("user_id").alias("match_user"), F.col("v").alias("cv"))
    # broadcast the BOUNDED query side; the candidate side streams
    # partition-parallel (q40's seed-set pattern — never broadcast the corpus)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_user") != F.col("match_user"))
        .select("query_user", "match_user", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    w = Window.partitionBy("query_user").orderBy(
        F.round("cos", 6).desc(), F.col("match_user")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_user", "match_user", F.round("cos", 4).alias("cos"))
        .orderBy("query_user", "match_user")
    )


@query(
    "q158_cv_kfold_deterministic",
    oracle="""
    WITH b AS (
      SELECT CAST(('0x' || SUBSTRING(md5('7:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 5 AS fold
      FROM orders
    )
    SELECT fold AS fold_id,
           (SELECT COUNT(*) FROM b) - COUNT(*) AS n_train,
           COUNT(*) AS n_test
    FROM b GROUP BY fold ORDER BY fold
    """,
)
def q158_cv_kfold_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CVKFold with hash-deterministic fold membership
    (``CrossValidation.scala:56-65,102-132``): bucket =
    ``md5_long('seed:' || id) % k`` — a pure column expression, so fold
    assignment survives recomputation, repartitioning, and engine swap
    (the VERDICT r2 ``rand(seed)``-recompute hazard is structurally
    impossible here). The oracle replays the identical md5 arithmetic in
    DuckDB, pinning per-fold train/test sizes exactly."""
    from .operators.sampling import cv_k_fold

    orders = t(spark, sf_dir, "orders").select("o_orderkey")
    folds = cv_k_fold(orders, 5, seed=7, id_col="o_orderkey")
    sizes = None
    for i, (train, test) in enumerate(folds):
        row = test.agg(F.count(F.lit(1)).alias("n_test")).select(
            F.lit(i).cast("long").alias("fold_id"),
            F.lit(0).cast("long").alias("n_train"),
            F.col("n_test").cast("long"),
        )
        sizes = row if sizes is None else sizes.unionAll(row)
    total = orders.count()
    return sizes.select(
        "fold_id",
        (F.lit(total) - F.col("n_test")).cast("long").alias("n_train"),
        "n_test",
    ).orderBy("fold_id")


@query(
    "q160_sample_fraction_crossengine",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_sampled,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE CAST(('0x' || SUBSTRING(md5('0:' || CAST(l_orderkey * 10 + l_linenumber
                                                   AS VARCHAR)), 1, 15)) AS BIGINT)
          / CAST(1152921504606846976 AS DOUBLE) < 0.1
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q160_sample_fraction_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fraction sampling (operators/views.py
    sample_fraction_deterministic): row selection keys on
    ``md5_long(seed:id)`` instead of an engine RNG, so DuckDB selects the
    IDENTICAL rows — the whole sample is hash-checked, not just its size
    (q44 stays as the engine-native ``df.sample`` production path).
    2^60 = 1152921504606846976 is the md5_long range. Selection is a
    pushable filter: zero shuffle, scan-time evaluation."""
    from .operators.views import sample_fraction_deterministic

    li = t(spark, sf_dir, "lineitem").withColumn(
        "__rid", F.col("l_orderkey") * 10 + F.col("l_linenumber")
    )
    s = sample_fraction_deterministic(li, 0.1, "__rid", seed=0)
    return (
        s.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q161_sample_exact_crossengine",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM (
      SELECT o_orderkey, o_totalprice
      FROM orders
      ORDER BY CAST(('0x' || SUBSTRING(md5('0:' || CAST(o_orderkey AS VARCHAR)), 1, 15))
                    AS BIGINT)
      LIMIT 500
    ) ORDER BY o_orderkey
    """,
)
def q161_sample_exact_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-n sampling (operators/views.py
    sample_exact_deterministic): the 500 rows with the smallest
    ``md5_long(seed:id)`` — a uniform without-replacement draw that any
    engine reproduces row-for-row (``operators/views.sample_exact``
    keeps the seeded-RNG takeSample-bounded draw as the engine-native
    path). Plan shape: TakeOrderedAndProject — bounded
    driver merge, no global sort, no RNG state."""
    from .operators.views import sample_exact_deterministic

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    s = sample_exact_deterministic(o, 500, "o_orderkey", seed=0)
    return s.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    ).orderBy("o_orderkey")


@query(
    "q162_bigram_lm_perplexity",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    uni AS (SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, COUNT(*) AS cu FROM uni GROUP BY w),
    v AS (SELECT COUNT(DISTINCT w) AS vocab FROM uni),
    bg AS (SELECT doc_id, unnest(list_zip(t, t[2:])) AS p FROM toks),
    bg2 AS (SELECT doc_id, struct_extract(p, 1) AS w1, struct_extract(p, 2) AS w2
            FROM bg WHERE struct_extract(p, 2) IS NOT NULL),
    bcnt AS (SELECT w1, w2, COUNT(*) AS cb FROM bg2 GROUP BY w1, w2),
    scored AS (
      SELECT b.doc_id,
             ROUND(-LN((c.cb + 1.0) / (u.cu + (SELECT vocab FROM v))), 6) AS nll
      FROM bg2 b
      JOIN bcnt c ON b.w1 = c.w1 AND b.w2 = c.w2
      JOIN ucnt u ON b.w1 = u.w
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           ROUND(EXP(CAST(SUM(CAST(nll AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)), 4) AS ppl
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q162_bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-LM QUALITY SCORING (functions/text.bigram_lm_scores): an
    add-one-smoothed bigram LM is trained ON the corpus (two hash
    aggregations) and every document is scored with its perplexity — the
    CCNet-shaped "cheap LM flags surprising documents" filter of LLM
    data pipelines. Per-bigram nll is round-6 and summed as
    DECIMAL(28,6) (exact, order-independent), so DuckDB replays the
    identical perplexities — a float-reduction pipeline made
    cross-engine-deterministic by the round-sync discipline."""
    from .functions.text import bigram_lm_scores

    d = t(spark, sf_dir, "documents")
    return (
        bigram_lm_scores(d, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


@query(
    "q163_embedding_quantization",
    oracle="""
    WITH x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    sc AS (SELECT dim, MAX(ABS(x)) / 127 AS s FROM x GROUP BY dim),
    codes AS (
      SELECT x.vec_id, x.dim,
             CAST(GREATEST(LEAST(FLOOR(x.x / sc.s + 0.5), 127), -127) AS INT) AS code
      FROM x JOIN sc ON sc.dim = x.dim
    )
    SELECT vec_id,
           CAST(SUM(code) AS BIGINT) AS code_sum,
           CAST(SUM(code * dim) AS BIGINT) AS code_checksum,
           CAST(MAX(ABS(code)) AS INT) AS max_abs_code
    FROM codes GROUP BY vec_id ORDER BY vec_id
    """,
)
def q163_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 EMBEDDING QUANTIZATION (functions/similarity.
    quantize_embeddings): per-dimension symmetric scales from one
    bounded aggregation, then a zero-shuffle codegen'd quantize
    projection — the 4× footprint cut for billion-vector ANN scans. The
    oracle recomputes every code in DuckDB and compares exact integer
    checksums per vector (sum, dim-weighted sum, max|code|) — no float
    comparison anywhere, so the check is watertight cross-engine.
    floor(x/s + 0.5) replaces ROUND to dodge engines' half-tie
    conventions. posexplode emits 1-based dims here to mirror DuckDB's
    1-based generate_subscripts."""
    from .functions.similarity import quantize_embeddings

    e = t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e, "embedding", "vec_id")
    exploded = q.select("id", F.posexplode("codes").alias("dim0", "code")).select(
        "id", (F.col("dim0") + 1).alias("dim"), "code"
    )
    return (
        exploded.groupBy("id")
        .agg(
            F.sum("code").cast("long").alias("code_sum"),
            F.sum(F.col("code") * F.col("dim")).cast("long").alias("code_checksum"),
            F.max(F.abs("code")).cast("int").alias("max_abs_code"),
        )
        .select(F.col("id").alias("vec_id"), "code_sum", "code_checksum", "max_abs_code")
        .orderBy("vec_id")
    )


@query(
    "q164_paragraph_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST((s - 1) / 10 AS INT) AS chunk_id,
             array_to_string(list_slice(t, s, s + 9), ' ') AS chunk_text,
             LEN(list_slice(t, s, s + 9)) AS chunk_tokens
      FROM (SELECT doc_id, t,
                   unnest(range(1, GREATEST(LEN(t), 1) + 1, 10)) AS s
            FROM toks)
    ),
    freq AS (
      SELECT md5(chunk_text) AS fp, COUNT(*) AS n_occ
      FROM chunks GROUP BY md5(chunk_text)
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler,
           ROUND(SUM(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS boiler_ratio,
           CAST(SUM(CASE WHEN f.n_occ < 2 THEN c.chunk_tokens ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM chunks c JOIN freq f ON f.fp = md5(c.chunk_text)
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
)
def q164_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-DOCUMENT (paragraph/chunk-level) DEDUP — the boilerplate
    removal pass of web-corpus pipelines: repeated spans (headers,
    footers, navigation, license blocks) recur across documents even
    when no two documents are near-duplicates. Documents split into
    fixed 10-token chunks (functions/text.token_chunks, size=stride=10 —
    shuffle-free), chunks fingerprint by md5, corpus-frequency ≥ 2 marks
    a chunk boilerplate, and each document reports its chunk counts,
    boilerplate ratio, and surviving token mass. Scale: the only shuffle
    keys on (md5, count) — constant bytes per chunk, never the text;
    the pattern is q30 exact-dedup applied below document granularity.
    DuckDB replays chunking, fingerprints, and thresholds exactly."""
    from .functions.text import token_chunks

    d = t(spark, sf_dir, "documents")
    chunks = token_chunks(d, "text", "doc_id", size=10, stride=10).select(
        F.col("id").alias("doc_id"),
        "chunk_id",
        F.md5("chunk_text").alias("fp"),
        "chunk_tokens",
    )
    freq = chunks.groupBy("fp").agg(F.count(F.lit(1)).alias("n_occ"))
    joined = chunks.join(freq, "fp")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("n_occ") >= 2).cast("long")).alias("n_boiler"),
            F.round(
                F.sum((F.col("n_occ") >= 2).cast("long"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("boiler_ratio"),
            F.sum(
                F.when(F.col("n_occ") < 2, F.col("chunk_tokens")).otherwise(0)
            ).cast("long").alias("kept_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "q165_vocab_coverage",
    oracle="""
    WITH uni AS (
      SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    tot AS (SELECT SUM(c) AS total FROM wc),
    ranked AS (
      SELECT w, c,
             ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk,
             SUM(c) OVER (ORDER BY c DESC, w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM wc
    ),
    levels AS (SELECT unnest([50, 90, 95, 99]) AS level_pct)
    SELECT l.level_pct,
           CAST(MIN(r.rk) AS BIGINT) AS vocab_size,
           CAST(MIN(r.cum) AS BIGINT) AS covered_tokens
    FROM levels l JOIN ranked r
      ON r.cum * 100 >= l.level_pct * (SELECT total FROM tot)
    GROUP BY l.level_pct ORDER BY l.level_pct
    """,
)
def q165_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER VOCABULARY SIZING: the smallest vocabulary (by corpus
    frequency, ties broken lexically) covering 50/90/95/99% of token
    occurrences — the Zipf-curve report that sizes a tokenizer before
    training one. The comparison ``cum·100 ≥ level·total`` is pure
    bigint arithmetic — no float thresholds, so any engine agrees
    exactly. Scale: token counting is corpus-size map+agg; the ranking
    window runs over the VOCABULARY (≪ corpus — the global window is
    vocab-bounded, exempted in the audit with that rationale)."""
    from pyspark.sql import Window

    from .functions.text import tokens

    d = t(spark, sf_dir, "documents")
    uni = d.select(F.explode(tokens("text")).alias("w"))
    wc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = wc.agg(F.sum("c")).collect()[0][0]
    w_ord = Window.orderBy(F.desc("c"), "w")
    ranked = wc.select(
        "w",
        "c",
        F.row_number().over(w_ord).alias("rk"),
        F.sum("c").over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
    )
    levels = spark.createDataFrame([(50,), (90,), (95,), (99,)], "level_pct int")
    return (
        ranked.join(
            F.broadcast(levels),
            F.col("cum") * 100 >= F.col("level_pct") * F.lit(int(total)),
        )
        .groupBy("level_pct")
        .agg(
            F.min("rk").cast("long").alias("vocab_size"),
            F.min("cum").cast("long").alias("covered_tokens"),
        )
        .orderBy("level_pct")
    )


@query(
    "q166_jsonl_roundtrip",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(LEN(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q166_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL SOURCE/SINK round-trip (sources/jsonl.py): documents export
    to gzip JSONL shards (the standard LLM corpus layout), read back
    through the bounded 5-line driver-side schema inference (the
    reference's ``loadFile`` sample discipline applied to JSON — never
    Spark's full-scan inference, which is an extra corpus pass at
    100 TB), and the per-source rollup must equal the rollup of the
    ORIGINAL table — lossless ingestion, hash-checked. gzip shards are
    non-splittable: parallelism = shard count (here one per input
    partition), which is why corpora ship as many shards."""
    import shutil
    import tempfile

    from .sources.jsonl import read_jsonl, write_jsonl

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tmp = tempfile.mkdtemp(prefix="q166_jsonl_")
    try:
        write_jsonl(d, f"{tmp}/docs", compression="gzip")
        back = read_jsonl(spark, f"{tmp}/docs")
        out = (
            back.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
                F.sum("doc_id").cast("long").alias("id_checksum"),
            )
            .orderBy("source")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q167_sequence_packing",
    oracle="""
    WITH counts AS (
      SELECT doc_id AS id, CAST(LEN(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    offs AS (
      SELECT id, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS "offset"
      FROM counts
    ),
    spans AS (
      SELECT id, n, "offset",
             unnest(range(CAST(FLOOR("offset" / 512) AS BIGINT),
                          CAST(FLOOR(("offset" + n - 1) / 512) AS BIGINT) + 1))
               AS window_id
      FROM offs WHERE n > 0
    )
    SELECT id, window_id,
           GREATEST(window_id * 512 - "offset", 0) AS tok_start,
           LEAST(window_id * 512 + 512 - "offset", n) AS tok_end,
           LEAST(window_id * 512 + 512 - "offset", n)
             - GREATEST(window_id * 512 - "offset", 0) AS n_tokens
    FROM spans ORDER BY id, window_id
    """,
)
def q167_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN PACKING for pretraining (functions/packing.pack_sequences):
    the corpus token stream, concatenated in doc order, is cut into
    512-token context windows; each output row is a (document, window)
    intersection with the in-document token slice the loader feeds that
    window. The global offset is a DISTRIBUTED two-phase prefix scan
    (range-partition + per-partition totals + one Arrow pass adding
    partition offsets) — never a single-partition global window, which
    is how the same layout computes at 100 TB. All-integer arithmetic;
    DuckDB replays the identical layout with its global window (fine at
    oracle scale)."""
    from .functions.packing import pack_sequences

    d = t(spark, sf_dir, "documents")
    return pack_sequences(d, "text", "doc_id", context=512)


@query(
    "q168_stream_jsonl_ingest",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM documents GROUP BY source ORDER BY source
    """,
)
def q168_stream_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CORPUS INGESTION: documents land as gzip JSONL shards
    (sources/jsonl.py), a ``readStream`` file source picks them up with
    an explicit schema (streams cannot infer), the stream is unioned
    with itself — modeling shard re-delivery, the normal failure mode of
    a landing zone — and streaming dedup on doc_id restores exact
    multiplicity. The per-source rollup must equal the batch rollup of
    the original table: ingestion is lossless AND exactly-once under
    duplicate delivery. Dedup here is replay/backfill-scoped
    (``dropDuplicates`` — bounded input); continuous 100 TB ingestion
    uses the watermarked variant (q73) whose state evicts."""
    import shutil
    import tempfile

    from .sources.jsonl import write_jsonl
    from .streaming.core import run_available_now

    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    tmp = tempfile.mkdtemp(prefix="q168_jsonl_stream_")
    try:
        write_jsonl(d, f"{tmp}/landing", compression="gzip")
        stream = spark.readStream.schema("doc_id bigint, source string").json(
            f"{tmp}/landing"
        )
        redelivered = stream.union(
            spark.readStream.schema("doc_id bigint, source string").json(
                f"{tmp}/landing"
            )
        )
        deduped = redelivered.dropDuplicates(["doc_id"])
        out = run_available_now(deduped, "append")
        res = (
            out.groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").cast("long").alias("id_checksum"),
            )
            .orderBy("source")
        )
        rows = res.collect()
        return spark.createDataFrame(rows, res.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "q169_hypertable_rollup",
    oracle="""
    WITH hourly AS (
      SELECT event_type, time_bucket(INTERVAL 1 HOUR, ts) AS h,
             COUNT(*) AS n, SUM(value) AS sv
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT event_type, strftime(time_bucket(INTERVAL 1 DAY, h), '%Y-%m-%d') AS day,
             CAST(SUM(n) AS BIGINT) AS n_events,
             ROUND(SUM(sv), 2) AS sum_value,
             CAST(COUNT(*) AS BIGINT) AS n_hours_active
      FROM hourly GROUP BY 1, 2
    )
    SELECT event_type, day, n_events, sum_value, n_hours_active
    FROM daily ORDER BY event_type, day
    """,
)
def q169_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERTABLE-STYLE CASCADING ROLLUP (continuous-aggregate
    hierarchy): the daily level aggregates the HOURLY level's partials
    (sum of counts, sum of sums), never the raw events — the property
    that makes multi-resolution time-series serving cheap at 100 TB:
    each coarser materialization reads the finer one (|hours| rows, not
    |events|), and re-aggregable partials (count/sum — not avg) are what
    make the cascade lossless. ``n_hours_active`` (a COUNT over the fine
    level) is only computable because the cascade exists. DuckDB replays
    both levels; results are identical to aggregating raw events by
    construction."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    return (
        hourly.groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "h"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
            F.count(F.lit(1)).cast("long").alias("n_hours_active"),
        )
        .orderBy("event_type", "day")
    )


def _q170_oracle(threshold: float = 0.42) -> str:
    # Clustering CTEs identical to _q146_oracle (same deterministic Lloyd);
    # then SemDeDup within clusters: pairs only inside a cluster, round-6
    # cosine >= threshold drops the higher id.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT 4)
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    a2 AS (SELECT id, v, cluster FROM s2 WHERE rn = 1),
    drops AS (
      SELECT DISTINCT b.id
      FROM a2 a JOIN a2 b
        ON a.cluster = b.cluster AND a.id < b.id
      WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= {threshold}
    )
    SELECT a2.cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN d.id IS NULL THEN a2.id ELSE 0 END) AS BIGINT)
             AS kept_checksum
    FROM a2 LEFT JOIN drops d ON d.id = a2.id
    GROUP BY a2.cluster ORDER BY a2.cluster
    """


@query("q170_semantic_dedup", oracle=_q170_oracle())
def q170_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC DEDUP (SemDeDup-shaped, public method: cluster the
    embedding space, then compare pairs ONLY within a cluster and drop
    near-duplicates): the deterministic Lloyd quantizer (q146 machinery)
    partitions the corpus, within-cluster round-6 cosine ≥ 0.42 drops
    the higher id, and the rollup reports kept/dropped per cluster. The
    clustering IS the blocking: the pair space is Σ(nᵢ²) over cluster
    sizes, tuned by k — at 100 TB you grow k so clusters stay bounded,
    and the pair stage shuffles on cluster id only. DuckDB replays the
    full pipeline (Lloyd rounds + pair gate) exactly."""
    from .functions.similarity import cosine
    from .ml.kmeans import kmeans_lloyd
    from .storage import propagate_checkpoint_ids, tracked_local_checkpoint

    e = t(spark, sf_dir, "embeddings")
    assigned = kmeans_lloyd(e, "embedding", "vec_id", k=4, iters=2)
    vecs = e.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    members = tracked_local_checkpoint(
        assigned.select("id", "cluster").join(vecs, "id")
    )
    a = members.select(
        F.col("cluster"), F.col("id").alias("id_a"), F.col("v").alias("va")
    )
    b = members.select(
        F.col("cluster"), F.col("id").alias("id_b"), F.col("v").alias("vb")
    )
    drops = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.42)
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    kept_flag = members.join(drops.withColumn("__dropped", F.lit(1)), "id", "left")
    return propagate_checkpoint_ids(
        kept_flag.groupBy(F.col("cluster").cast("long").alias("cluster"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.when(F.col("__dropped").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("__dropped").isNull(), F.col("id")).otherwise(0))
            .cast("long")
            .alias("kept_checksum"),
        )
        .orderBy("cluster"),
        members,
    )


@query(
    "q171_tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             ROUND(MIN(l_extendedprice / l_quantity), 2) AS ps_supplycost
      FROM lineitem
      WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
    FROM part
    JOIN ps       ON p_partkey = ps_partkey
    JOIN supplier ON s_suppkey = ps_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE p_type = 'STANDARD' AND p_size <= 15 AND r_name = 'EUROPE'
      AND ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost)
        FROM ps ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
        WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE'
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q171_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier), adapted to this schema: no
    partsupp table, so supply cost is derived as the best observed unit
    price per (part, supplier) from lineitem — the same derived-ps
    discipline as the Q9/Q11/Q20 adaptations. The shape is Q2's
    signature: a correlated scalar MIN whose correlation key (p_partkey)
    reaches through a three-table dimension chain, restricted to one
    region on BOTH sides. The ORACLE keeps the textbook correlated form;
    the SPARK side is the equivalent single-pass formulation — a
    correlated scalar MIN whose correlation key is the partition key IS
    a min-over-window, so instead of letting Catalyst decorrelate into
    a second derivation of ps (two lineitem scans), ps is derived ONCE
    and the per-part minimum rides a window over the region-filtered
    rows (measured: 2 lineitem scans → 1, the dominant cost at scale).
    ORDER BY ... LIMIT 100 uses a unique tie-broken key (acctbal,
    nation, supplier, part) so both engines pick identical rows; the
    unit-price MIN is rounded to 2 digits on both sides (IEEE division
    + MIN are bit-identical cross-engine). Reference has no multi-block
    dialect at all (TableParser.scala:41-70 single-block grammar)."""
    _tpch_views(spark, sf_dir, "part", "supplier", "nation", "region", "lineitem")
    return spark.sql(
        """
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 ROUND(MIN(l_extendedprice / l_quantity), 2) AS ps_supplycost
          FROM lineitem
          WHERE l_quantity > 0
          GROUP BY l_partkey, l_suppkey
        ),
        eu AS (
          SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
          FROM ps
          JOIN supplier ON s_suppkey = ps_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
          WHERE r_name = 'EUROPE'
        ),
        best AS (
          SELECT *, MIN(ps_supplycost) OVER (PARTITION BY ps_partkey)
                      AS min_cost
          FROM eu
        )
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
        FROM best JOIN part ON p_partkey = ps_partkey
        WHERE p_type = 'STANDARD' AND p_size <= 15
          AND ps_supplycost = min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
        """
    )


@query(
    "q172_tpch_q11_important_stock",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS ps_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS part_value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_7', 'NATION_19')
      GROUP BY l_partkey
    )
    SELECT ps_partkey, CAST(part_value AS DOUBLE) AS part_value
    FROM ps
    WHERE part_value > (SELECT SUM(part_value) * 0.001 FROM ps)
    ORDER BY part_value DESC, ps_partkey
    """,
)
def q172_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification), adapted: stock value
    per part is the discounted revenue shipped by the target nations'
    suppliers (derived-ps discipline; no partsupp table). The archetype
    is the GLOBAL-FRACTION HAVING: a grouped aggregate kept only where
    it exceeds a scalar fraction of the SAME aggregate's grand total —
    the derived table is referenced twice and Catalyst evaluates the
    tiny grand-total branch first, broadcasting one scalar into the
    filter. The value sum runs in DECIMAL on both engines (prices carry
    2 fractional digits, discounts 2), so the grand total and the
    threshold comparison are exact and summation-order-independent —
    the one formulation where a float SUM could flip rows at the
    threshold boundary cross-engine. Nation filter pushes below the
    supplier join; supplier/nation broadcast."""
    _tpch_views(spark, sf_dir, "supplier", "nation", "lineitem")
    return spark.sql(
        """
        WITH ps AS (
          SELECT l_partkey AS ps_partkey,
                 SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                     * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS part_value
          FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation   ON s_nationkey = n_nationkey
          WHERE n_name IN ('NATION_7', 'NATION_19')
          GROUP BY l_partkey
        )
        SELECT ps_partkey, CAST(part_value AS DOUBLE) AS part_value
        FROM ps
        WHERE part_value > (SELECT SUM(part_value) * 0.001 FROM ps)
        ORDER BY part_value DESC, ps_partkey
        """
    )


@query(
    "q173_fuzzy_join_edit_distance",
    oracle="""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents),
    tri AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 5
    ),
    pre AS (SELECT doc_id, SUBSTRING(text, 1, 120) AS p FROM documents)
    SELECT id_a, id_b,
           ROUND(1 - levenshtein(pa.p, pb.p)
                     / GREATEST(LEN(pa.p), LEN(pb.p)), 4) AS edit_sim
    FROM cand
    JOIN pre pa ON pa.doc_id = id_a
    JOIN pre pb ON pb.doc_id = id_b
    WHERE ROUND(1 - levenshtein(pa.p, pb.p)
                    / GREATEST(LEN(pa.p), LEN(pb.p)), 4) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def q173_fuzzy_join_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECORD-LINKAGE FUZZY JOIN (functions/dedup.py
    fuzzy_near_duplicates): inverted-index blocking (pairs sharing ≥ 5
    word-3-grams) + normalized-Levenshtein verification on a bounded
    120-char prefix — the block-then-verify linkage pipeline. The
    blocking join bounds the pair space exactly as q32; the edit-distance
    DP runs only on candidates and only over constant-length prefixes
    (codegen'd JVM levenshtein), so the verify stage's cost is O(pairs),
    not O(pairs · doc²). DuckDB replays the identical pipeline —
    levenshtein has standard semantics in both engines."""
    from .functions.dedup import fuzzy_near_duplicates

    d = t(spark, sf_dir, "documents")
    return fuzzy_near_duplicates(
        d, n=3, min_shared=5, prefix_len=120, threshold=0.8
    ).orderBy("id_a", "id_b")


@query(
    "q174_kmv_distinct_sketch",
    oracle="""
    WITH h AS (
      SELECT DISTINCT
        CAST(('0x' || SUBSTRING(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
             AS BIGINT) AS h
      FROM lineitem WHERE l_partkey IS NOT NULL
    ),
    sk AS (SELECT CAST(h + 1 AS DOUBLE) / 1152921504606846977.0 AS u
           FROM h ORDER BY h LIMIT 256)
    SELECT CAST(256 AS BIGINT) AS k,
           ROUND(CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                      ELSE (256 - 1) / MAX(u) END, 4) AS est_distinct,
           (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem)
             AS exact_distinct
    FROM sk
    """,
)
def q174_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV CARDINALITY SKETCH (functions/sketches.py): k=256 minimum
    md5-hash fractions of l_partkey, estimate (k-1)/u_(k) — the
    mergeable, CROSS-ENGINE-REPRODUCIBLE member of the approximate
    distinct family (q77's HLL++ is the engine-native production twin;
    its estimate can't be replayed outside Spark, this one is replayed
    by DuckDB to the last digit). The exact count rides along so the
    row also witnesses the estimator's accuracy (k=256 → ~6% rel-σ).
    Shuffle carries 8-byte hashes only; selection is a TakeOrdered heap."""
    from .functions.sketches import kmv_distinct

    li = t(spark, sf_dir, "lineitem")
    sk = kmv_distinct(li, "l_partkey", k=256)
    exact = li.agg(
        F.countDistinct("l_partkey").cast("long").alias("exact_distinct")
    )
    return sk.crossJoin(F.broadcast(exact))


@query(
    "q175_bm25_retrieval",
    oracle="""
    WITH docs AS (SELECT doc_id AS id, STRING_SPLIT(LOWER(text), ' ') AS ts
                  FROM documents),
    dl AS (SELECT id, LEN(ts) AS dl FROM docs),
    tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl),
    tf AS (
      SELECT id, t AS term, COUNT(*) AS tf
      FROM docs, LATERAL UNNEST(ts) AS u(t)
      WHERE t IN ('spark', 'join', 'window')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.id,
             ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1)
                   * tf * (1.2 + 1)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl * n_docs / total_tokens)),
                   6) AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (id) CROSS JOIN tot
    )
    SELECT id AS doc_id,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE), 4) AS bm25
    FROM scored GROUP BY 1
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q175_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 LEXICAL RETRIEVAL (functions/retrieval.py bm25_topk): rank
    the corpus for a 3-term query with Okapi BM25 — the inverted-index
    complement to the embedding ANN family (q39/q40/q42/q155). Document
    length is a map-only size(split(...)); only the query terms'
    postings explode and shuffle; df and the corpus scalars broadcast;
    the top-20 is a TakeOrdered heap with id tie-break. Per-term scores
    round to 6 and sum in DECIMAL (q162 discipline) so libm ln-ulp and
    summation order can't flip the cross-engine hash."""
    from .functions.retrieval import bm25_topk

    d = t(spark, sf_dir, "documents")
    return bm25_topk(d, ["spark", "join", "window"], topk=20)


@query(
    "q176_grouped_ols",
    oracle="""
    WITH s AS (
      SELECT l_returnflag AS grp,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS sxx
      FROM lineitem GROUP BY 1
    )
    SELECT grp, CAST(n AS BIGINT) AS n,
           ROUND(CAST((n * sxy - sx * sy) AS DOUBLE)
                 / CAST((n * sxx - sx * sx) AS DOUBLE), 6) AS slope,
           ROUND(CAST(sy AS DOUBLE) / n
                 - CAST((n * sxy - sx * sy) AS DOUBLE)
                   / CAST((n * sxx - sx * sx) AS DOUBLE)
                   * CAST(sx AS DOUBLE) / n, 6) AS intercept
    FROM s ORDER BY grp
    """,
)
def q176_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED CLOSED-FORM OLS: per-group simple linear regression
    (price ~ quantity per returnflag) from the five sufficient
    statistics (n, Σx, Σy, Σxy, Σx²) — the distributed form of
    per-segment model fitting: ONE partial-aggregable pass, no iteration,
    no driver-side math. The sums run in DECIMAL so they are exact and
    order-independent; slope/intercept divide AFTER aggregation, in
    doubles, from identical exact inputs — bit-identical cross-engine.
    Extends the ML family (q60 is the global-OLS twin via summary
    statistics; ml/facade.py linear_regression is the pyspark.ml path)."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") / F.col("n")
        - slope * F.col("sx").cast("double") / F.col("n")
    )
    return s.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
    ).orderBy("grp")


@query(
    "q177_mad_outliers",
    oracle="""
    WITH m1 AS (
      SELECT l_returnflag AS grp, MEDIAN(l_extendedprice) AS med,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1
    ),
    m2 AS (
      SELECT grp, med, n, MEDIAN(ABS(l_extendedprice - med)) AS mad
      FROM lineitem JOIN m1 ON l_returnflag = grp
      GROUP BY grp, med, n
    )
    SELECT grp, CAST(n AS BIGINT) AS n,
           ROUND(med, 4) AS med, ROUND(mad, 4) AS mad,
           CAST(SUM(CASE WHEN ABS(l_extendedprice - med) > 3 * 1.4826 * mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem JOIN m2 ON l_returnflag = grp
    GROUP BY grp, n, med, mad
    ORDER BY grp
    """,
)
def q177_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST OUTLIER DETECTION by median absolute deviation: per-group
    exact median, then MAD = median(|x − med|), then count of rows
    beyond 3·1.4826·MAD (the Gaussian-consistency-scaled robust z
    threshold) — the data-cleaning archetype where mean/stddev (q118's
    winsorize twin) would be dragged by the very outliers being hunted.
    Three grouped passes by construction (each stage needs the previous
    scalar per group); the per-group results are tiny broadcast frames,
    so every pass is scan + broadcast join + partial-aggregable
    median/sum — no corpus-sized shuffle. Exact F.median on both sides
    (q86 discipline); DuckDB replays identically."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    m1 = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.median(x).alias("med"), F.count(F.lit(1)).alias("n")
    )
    j1 = li.join(F.broadcast(m1), li.l_returnflag == m1.grp)
    m2 = j1.groupBy("grp", "med", "n").agg(
        F.median(F.abs(x - F.col("med"))).alias("mad")
    )
    j2 = li.join(F.broadcast(m2), li.l_returnflag == m2.grp)
    return (
        j2.groupBy("grp", "n", "med", "mad")
        .agg(
            F.sum(
                F.when(
                    F.abs(x - F.col("med")) > 3 * 1.4826 * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "grp",
            F.col("n").cast("long").alias("n"),
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n_outliers",
        )
        .orderBy("grp")
    )


@query(
    "q178_triangle_count",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nodes AS (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs),
    deg AS (SELECT node, COUNT(*) AS d FROM nodes GROUP BY 1),
    oriented AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN u ELSE v END AS a,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
                  THEN v ELSE u END AS b
      FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM oriented e1
            JOIN oriented e2 ON e2.a = e1.b
            JOIN oriented e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
)
def q178_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING (functions/graph.py triangle_count) over the
    part co-occurrence graph — parts are adjacent when they appear in
    the same order (the market-basket projection; baskets here max out
    at 13 items, and at scale the standard guard is a basket-size cap
    before pair expansion, exactly like q32's stop-shingle bound).
    Degree-ordered orientation bounds the wedge join to O(m^{3/2})
    total volume regardless of hub skew — the third member of the graph
    family (q113/q153 PageRank). DuckDB replays the identical
    orientation and closure joins."""
    from .functions.graph import triangle_count

    li = t(spark, sf_dir, "lineitem")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    return triangle_count(pairs)


@query(
    "q179_pandas_udaf_geomean",
    oracle="""
    SELECT l_returnflag AS grp,
           ROUND(EXP(SUM(CAST(ROUND(LN(l_extendedprice) * 1000000000.0)
                             AS BIGINT))
                     / COUNT(*) / 1000000000.0), 4) AS geomean,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY 1 ORDER BY 1
    """,
)
def q179_pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM AGGREGATE via Arrow-batched GROUPED-AGG PANDAS UDF: the
    per-group geometric mean computed inside a vectorized Python
    aggregate — the one Python-UDF API member the surface didn't yet
    exercise (q55 covers mapInPandas, q67 applyInPandas, q74 stateful
    applyInPandasWithState, q149 UDTF). The UDAF is deliberately a
    function a user CAN'T hand to the built-in agg set as-is; its
    built-in twin EXP(AVG(LN(x))) is what the oracle replays — and what
    production code should use (PERF.md: Python aggregation pays Arrow
    transfer per group batch; built-ins stay in codegen). Partial
    aggregation does NOT apply to grouped-agg pandas UDFs (full shuffle
    of raw rows per group) — exactly the scale cost the docstring twin
    avoids, which is why this entry is a correctness surface, not a
    headliner."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # functionType passed explicitly: the module-wide
    # `from __future__ import annotations` stringizes type hints, so
    # Spark's hint-based GROUPED_AGG inference can't see Series->scalar.
    # round-then-INTEGER-sum discipline (q162/q185): logs are scaled to
    # 1e-9 units and summed as exact int64 — the sum is order-independent
    # (numpy's pairwise float summation varies with shuffle row order)
    # and DuckDB replays it exactly via SUM(CAST(ROUND(LN(x)*1e9) AS
    # BIGINT)); a 1-ulp libm log divergence moves one row's scaled unit,
    # shifting the mean by 1e-9/n — invisible at round-4.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        scaled = np.round(np.log(v.to_numpy()) * 1e9).astype(np.int64)
        # numpy int64 .sum() wraps silently: per-row magnitude is ~1.1e10
        # (ln(price)*1e9), so a group past ~8e8 rows would overflow —
        # accumulate in arbitrary-precision Python ints instead
        total = sum(int(x) for x in scaled)
        return float(np.exp(total / len(scaled) / 1e9))

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 0)
    # a grouped-agg pandas UDF cannot share an agg() with JVM aggregates
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a separate
    # built-in aggregation joined back on the tiny group key
    gm = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.round(geomean(F.col("l_extendedprice")), 4).alias("geomean")
    )
    cnt = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return gm.join(cnt, "grp").orderBy("grp")


@query(
    "q180_content_defined_chunking",
    oracle="""
    WITH docs AS (SELECT doc_id AS id, STRING_SPLIT(LOWER(text), ' ') AS ts
                  FROM documents),
    toks AS (
      SELECT id, i - 1 AS pos, ts[i] AS tok
      FROM docs, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts))) AS i) s
    ),
    flags AS (
      SELECT id, i + 2 AS pos,
             CASE WHEN CAST(('0x' || SUBSTRING(md5(
                      ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]
                    ), 1, 15)) AS BIGINT) % 8 = 0 THEN 1 ELSE 0 END AS b
      FROM docs, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 3)) AS i) s
      WHERE LEN(ts) >= 4
    ),
    jt AS (
      SELECT t.id, t.pos, t.tok, COALESCE(f.b, 0) AS b
      FROM toks t LEFT JOIN flags f ON f.id = t.id AND f.pos = t.pos
    ),
    ch AS (
      SELECT id, pos, tok,
             COALESCE(SUM(b) OVER (PARTITION BY id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM jt
    ),
    chunks AS (
      SELECT id, chunk_id, STRING_AGG(tok, ' ' ORDER BY pos) AS chunk_text,
             COUNT(*) AS n_toks
      FROM ch GROUP BY 1, 2
    ),
    fps AS (SELECT id, md5(chunk_text) AS fp, n_toks FROM chunks),
    freq AS (SELECT fp, COUNT(DISTINCT id) AS nd FROM fps GROUP BY 1)
    SELECT id AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM fps JOIN freq USING (fp)
    GROUP BY 1 ORDER BY doc_id
    """,
)
def q180_content_defined_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING + cross-document shared-chunk rollup
    (functions/text.cdc_chunks): rolling-md5 boundaries (expected chunk
    = 8 tokens), chunk fingerprints, and a per-document report of how
    much of the doc is duplicated elsewhere — the insertion-robust
    complement to q164's fixed-stride boilerplate dedup: a one-token
    insertion re-fingerprints O(1) chunks here vs O(doc) there. The
    chunk-frequency join is the only cross-document stage and it
    carries (fp, id) pairs only. DuckDB replays boundaries, prefix-sum
    chunk assignment, STRING_AGG reassembly, and the dedup rollup
    exactly."""
    from .functions.text import cdc_chunks

    d = t(spark, sf_dir, "documents")
    chunks = cdc_chunks(d, window=4, divisor=8)
    freq = chunks.groupBy("fp").agg(F.countDistinct("id").alias("nd"))
    return (
        chunks.join(freq, "fp")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("nd") > 1).cast("long")).cast("long").alias("n_shared_chunks"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@query(
    "q181_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT user_id, event_type, COUNT(*) AS n,
             ROUND(SUM(value), 4) AS sum_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
      GROUP BY 1, 2
    ),
    new AS (
      SELECT user_id, event_type, COUNT(*) AS n,
             ROUND(SUM(value), 4) AS sum_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04'
      GROUP BY 1, 2
    ),
    diff AS (
      SELECT COALESCE(o.user_id, n2.user_id) AS user_id,
             CASE
               WHEN o.user_id IS NULL THEN 'added'
               WHEN n2.user_id IS NULL THEN 'removed'
               WHEN o.n != n2.n OR o.sum_value != n2.sum_value THEN 'changed'
               ELSE 'unchanged'
             END AS change_type
      FROM old o FULL OUTER JOIN new n2
        ON o.user_id = n2.user_id AND o.event_type = n2.event_type
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(user_id) AS BIGINT) AS user_id_checksum
    FROM diff GROUP BY 1 ORDER BY 1
    """,
)
def q181_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT DIFF — the CDC/table-diff archetype: aggregate two time
    windows of the fact stream to the same (user, event_type) profile
    grain, FULL OUTER join on the key, and classify every key as
    added / removed / changed / unchanged (the q115 SCD2 twin looks
    forward — applying deltas; this looks backward — deriving them).
    One shuffle per snapshot on the profile key plus the co-partitioned
    outer join; at scale both snapshots hash-partition on the same key,
    so AQE plans the join shuffle-free on the already-partitioned aggs.
    Time predicates push to the scan. float sums are rounded before the
    equality test on both sides so fp summation order can't flip a
    'changed' verdict."""
    ev = t(spark, sf_dir, "events")

    def snap(lo: str, hi: str) -> DataFrame:
        return (
            ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            .groupBy("user_id", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
        )

    o = snap("2024-01-02", "2024-01-03").alias("o")
    n2 = snap("2024-01-03", "2024-01-04").alias("n2")
    joined = o.join(
        n2,
        (F.col("o.user_id") == F.col("n2.user_id"))
        & (F.col("o.event_type") == F.col("n2.event_type")),
        "full_outer",
    )
    change = (
        F.when(F.col("o.user_id").isNull(), "added")
        .when(F.col("n2.user_id").isNull(), "removed")
        .when(
            (F.col("o.n") != F.col("n2.n"))
            | (F.col("o.sum_value") != F.col("n2.sum_value")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        joined.select(
            F.coalesce(F.col("o.user_id"), F.col("n2.user_id")).alias("user_id"),
            change.alias("change_type"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("user_id").cast("long").alias("user_id_checksum"),
        )
        .orderBy("change_type")
    )


@query(
    "q182_rolling_median",
    oracle="""
    SELECT event_id, user_id,
           ROUND(MEDIAN(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rolling_med
    FROM events
    ORDER BY event_id
    """,
)
def q182_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING MEDIAN per user over a trailing 7-event window — robust
    time-series smoothing (the windowed twin of q177's MAD: a level
    estimate outliers can't drag). Spark forbids median with a window
    FRAME, so the frame's values ride ``collect_list`` over the window
    (bounded: ≤ 7 elements), are ``array_sort``ed, and the median is
    picked/averaged by parity — all codegen'd array expressions, cost
    O(frame·log frame) per row with a constant frame. One shuffle
    (partition by user); order key (ts, event_id) is unique so frame
    contents are engine-deterministic. DuckDB runs its native framed
    MEDIAN over the same ordering."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    mid = (n + 1) / 2
    med = F.when(
        n % 2 == 1, F.element_at(arr, mid.cast("int"))
    ).otherwise(
        (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        )
        / 2
    )
    return ev.select(
        "event_id", "user_id", F.round(med, 4).alias("rolling_med")
    ).orderBy("event_id")


@query(
    "q183_countmin_sketch",
    oracle="""
    WITH base AS (
      SELECT CAST(('0x' || SUBSTRING(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2147483647 AS b
      FROM lineitem
    ),
    counters AS (
      SELECT r,
             ((((2*r + 1) * 2654435761) % 2147483647) * b
              + (r * 1013904223) % 2147483647) % 2147483647 % 1024 AS bucket,
             COUNT(*) AS c
      FROM base, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS r) s
      GROUP BY 1, 2
    ),
    probes AS (
      SELECT k,
             CAST(('0x' || SUBSTRING(md5(k), 1, 15)) AS BIGINT) % 2147483647 AS pb
      FROM (VALUES ('1'), ('42'), ('500'), ('1999'), ('123456789')) t(k)
    ),
    pb AS (
      SELECT k, r,
             ((((2*r + 1) * 2654435761) % 2147483647) * pb
              + (r * 1013904223) % 2147483647) % 2147483647 % 1024 AS bucket
      FROM probes, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS r) s
    ),
    est AS (
      SELECT k AS key, CAST(MIN(COALESCE(c, 0)) AS BIGINT) AS est
      FROM pb LEFT JOIN counters USING (r, bucket)
      GROUP BY 1
    )
    SELECT key, est,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
            WHERE CAST(l_partkey AS VARCHAR) = key) AS true_n
    FROM est ORDER BY key
    """,
)
def q183_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH point-frequency estimates
    (functions/sketches.countmin_counters/estimate): a 4×1024 counter
    grid over l_partkey, probed for five keys (incl. one absent), with
    the exact counts alongside — every row witnesses the CMS guarantee
    est ≥ true. Same affine mod-Mersenne hash family as the MinHash md5
    path, so DuckDB rebuilds the identical grid; the grid is mergeable
    by cell-wise addition (the shard-then-add accumulator shape for
    100 TB streams, where q108's exact heavy-hitter groupBy is the
    bounded-cardinality twin)."""
    from .functions.sketches import countmin_counters, countmin_estimate

    li = t(spark, sf_dir, "lineitem")
    keys = ["1", "42", "500", "1999", "123456789"]
    counters = countmin_counters(li, "l_partkey", depth=4, width=1024)
    est = countmin_estimate(spark, counters, keys, depth=4, width=1024)
    truth = (
        li.select(F.col("l_partkey").cast("string").alias("key"))
        .filter(F.col("key").isin(keys))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("tn"))
    )
    return (
        est.join(F.broadcast(truth), "key", "left")
        .select(
            "key",
            "est",
            F.coalesce(F.col("tn"), F.lit(0)).cast("long").alias("true_n"),
        )
        .orderBy("key")
    )


@query(
    "q184_stream_countmin",
    oracle="""
    WITH base AS (
      SELECT CAST(('0x' || SUBSTRING(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2147483647 AS b
      FROM lineitem
    ),
    counters AS (
      SELECT r,
             ((((2*r + 1) * 2654435761) % 2147483647) * b
              + (r * 1013904223) % 2147483647) % 2147483647 % 1024 AS bucket,
             COUNT(*) AS c
      FROM base, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS r) s
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(c) AS BIGINT) AS total_mass,
           CAST(MAX(c) AS BIGINT) AS max_cell,
           CAST(SUM(c * c) AS BIGINT) AS l2_checksum
    FROM counters
    """,
)
def q184_stream_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SKETCH MAINTENANCE: the count-min grid built
    INCREMENTALLY over a micro-batched stream of key shards
    (foreachBatch: per-batch grid, cell-wise ADD into the accumulator —
    the mergeability that makes CMS the right shape for continuous
    100 TB streams: per-batch work is one bounded groupBy, carried state
    is the 4×1024 grid, never the keys) — and the final grid must equal
    the single-pass batch grid, which is what the oracle rebuilds. The
    driver-side accumulator is O(grid) = 4096 cells by construction —
    a documented exception to the no-driver-state rule, because the
    sketch IS the bounded state. Grid equality is checked cell-wise
    in-query (not just on the rollup): any diverging cell raises."""
    import shutil
    import tempfile
    import uuid
    from collections import defaultdict

    from .functions.sketches import countmin_counters

    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    tmp = tempfile.mkdtemp(prefix="q184_cms_stream_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_cms_")
    acc: dict[tuple[int, int], int] = defaultdict(int)

    def merge_batch(bdf: DataFrame, epoch: int) -> None:
        for row in countmin_counters(bdf, "l_partkey", 4, 1024).collect():
            acc[(row.r, row.bucket)] += row.c

    try:
        li.repartition(8).write.mode("overwrite").parquet(f"{tmp}/landing")
        stream = (
            spark.readStream.schema("l_partkey bigint")
            .option("maxFilesPerTrigger", "2")
            .parquet(f"{tmp}/landing")
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(merge_batch)
            .option("checkpointLocation", ckpt)
            .queryName(f"cms_{uuid.uuid4().hex[:8]}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        streamed = spark.createDataFrame(
            [(r, b, c) for (r, b), c in acc.items()], "r int, bucket int, c long"
        )
        batch = countmin_counters(li, "l_partkey", 4, 1024)
        # cell-wise equality with the batch grid: a diverging or missing
        # cell survives the full-outer join and fails the run loudly
        diverged = (
            streamed.alias("s")
            .join(batch.alias("b2"), ["r", "bucket"], "full_outer")
            .filter(
                F.col("s.c").isNull()
                | F.col("b2.c").isNull()
                | (F.col("s.c") != F.col("b2.c"))
            )
        )
        n_bad = diverged.count()
        if n_bad:
            raise RuntimeError(
                f"streamed CMS grid diverged from batch in {n_bad} cells"
            )
    finally:
        # the returned frame is built from the driver-side accumulator,
        # so the landing/checkpoint dirs are safe to remove eagerly
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return streamed.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("c").cast("long").alias("total_mass"),
        F.max("c").cast("long").alias("max_cell"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("l2_checksum"),
    )


@query(
    "q206_stream_countmin_stateful",
    oracle="""
    WITH base AS (
      SELECT CAST(('0x' || SUBSTRING(md5(CAST(l_partkey AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2147483647 AS b
      FROM lineitem
    ),
    counters AS (
      SELECT r,
             ((((2*r + 1) * 2654435761) % 2147483647) * b
              + (r * 1013904223) % 2147483647) % 2147483647 % 1024 AS bucket,
             COUNT(*) AS c
      FROM base, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS r) s
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(c) AS BIGINT) AS total_mass,
           CAST(MAX(c) AS BIGINT) AS max_cell,
           CAST(SUM(c * c) AS BIGINT) AS l2_checksum
    FROM counters
    """,
)
def q206_stream_countmin_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CMS, EXECUTOR-SIDE STATE: the count-min grid maintained
    in the state store via ``applyInPandasWithState``
    (streaming/stateful.countmin_grid_stateful) — each CMS row r is a
    state key holding its 1024-long counter array; per-record hashing
    runs map-side at full parallelism BEFORE the keyed reduce; per batch
    the state update is one bincount add. This retires q184's
    documented driver-accumulator exception: sketch state is now keyed,
    checkpointed with the stream and RocksDB-spillable like every other
    stateful operator here (q184 remains the foreachBatch/merge-grids
    formulation — the shard-then-add shape used when sketches are
    merged ACROSS streams). In-query assertions: the final grid must
    equal the single-pass batch grid cell-wise, and the stream must
    have run multiple micro-batches (gen > 1) so cross-batch state
    accumulation is actually exercised."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from .functions.sketches import countmin_bucket_rows, countmin_counters
    from .streaming.core import run_available_now
    from .streaming.stateful import countmin_grid_stateful

    li = t(spark, sf_dir, "lineitem").select("l_partkey")
    tmp = tempfile.mkdtemp(prefix="q206_cms_state_")
    try:
        li.repartition(8).write.mode("overwrite").parquet(f"{tmp}/landing")
        stream = (
            spark.readStream.schema("l_partkey bigint")
            .option("maxFilesPerTrigger", "2")
            .parquet(f"{tmp}/landing")
        )
        keyed = countmin_bucket_rows(stream, "l_partkey", depth=4, width=1024)
        out = run_available_now(countmin_grid_stateful(keyed, width=1024), "update")
        wlast = Window.partitionBy("r").orderBy(F.col("gen").desc())
        final = (
            out.withColumn("_rn", F.row_number().over(wlast))
            .filter(F.col("_rn") == 1)
            .select("r", "gen", "cells")
        )
        rows = final.collect()  # 4 rows — the sketch itself, O(grid)
        if not rows or max(r["gen"] for r in rows) <= 1:
            raise RuntimeError(
                "stateful CMS ran a single micro-batch — cross-batch state "
                "accumulation was not exercised"
            )
        streamed = spark.createDataFrame(
            [
                (r["r"], b, int(c))
                for r in rows
                for b, c in enumerate(r["cells"])
                if c > 0
            ],
            "r int, bucket int, c long",
        )
        batch = countmin_counters(li, "l_partkey", 4, 1024)
        diverged = (
            streamed.alias("s")
            .join(batch.alias("b2"), ["r", "bucket"], "full_outer")
            .filter(
                F.col("s.c").isNull()
                | F.col("b2.c").isNull()
                | (F.col("s.c") != F.col("b2.c"))
            )
        )
        n_bad = diverged.count()
        if n_bad:
            raise RuntimeError(
                f"state-store CMS grid diverged from batch in {n_bad} cells"
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return streamed.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("c").cast("long").alias("total_mass"),
        F.max("c").cast("long").alias("max_cell"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("l2_checksum"),
    )


@query(
    "q207_bloom_decontamination",
    oracle="""
    WITH tok AS (SELECT doc_id, source, STRING_SPLIT(LOWER(text), ' ') AS ts
                 FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 4)) AS i) s
      WHERE LEN(ts) >= 5
    ),
    bench AS (SELECT DISTINCT g FROM sh WHERE source IN ('src0', 'src1')),
    bb AS (
      SELECT CAST(('0x' || SUBSTRING(md5(g), 1, 15)) AS BIGINT) % 2147483647 AS base
      FROM bench
    ),
    words AS (
      SELECT pos // 60 AS word,
             BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 60 AS INT)) AS bits
      FROM (
        SELECT ((((2*i + 1) * 2654435761) % 2147483647) * base
                + (i * 1013904223) % 2147483647) % 2147483647 % 4194304 AS pos
        FROM bb, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS i) s
      ) GROUP BY 1
    ),
    corpus_sh AS (
      SELECT DISTINCT doc_id, g FROM sh WHERE source NOT IN ('src0', 'src1')
    ),
    pcells AS (
      SELECT doc_id, g,
             ((((2*i + 1) * 2654435761) % 2147483647)
              * (CAST(('0x' || SUBSTRING(md5(g), 1, 15)) AS BIGINT) % 2147483647)
              + (i * 1013904223) % 2147483647) % 2147483647 % 4194304 AS pos
      FROM corpus_sh, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS i) s
    ),
    member AS (
      SELECT p.doc_id, p.g
      FROM pcells p LEFT JOIN words w ON w.word = p.pos // 60
      GROUP BY 1, 2
      HAVING COUNT(*) FILTER (
        WHERE (COALESCE(w.bits, 0) & (CAST(1 AS BIGINT) << CAST(p.pos % 60 AS INT)))
              <> 0) = 4
    ),
    fb AS (SELECT DISTINCT doc_id FROM member),
    fe AS (SELECT DISTINCT doc_id FROM corpus_sh WHERE g IN (SELECT g FROM bench))
    SELECT (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM corpus_sh) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fb) AS n_flagged_bloom,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fe) AS n_flagged_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fb)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM fe) AS n_false_positives
    """,
)
def q207_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-FILTER DECONTAMINATION (functions/sketches.bloom_build_words
    / bloom_filter_members): the benchmark 5-gram set compiles into a
    4 Mi-bit Bloom filter (≈70k packed 60-bit words, k=4 md5-affine
    hashes — cross-engine, DuckDB rebuilds the identical words), and the
    corpus probe is k BROADCAST hash joins + a column predicate: the
    corpus never shuffles and the filter is O(m) bits no matter how many
    benchmark entries exist — the membership twin of the CMS (q183) and
    the constant-size alternative to q130's exact broadcast semi-join
    when the eval suite grows past broadcastable (at 10+ bits/element
    the per-shingle FP rate is ~5e-6). The exact join runs alongside:
    the output row witnesses the Bloom guarantee (no false negatives —
    asserted in-query; false positives counted exactly)."""
    from .functions.dedup import exploded_shingles
    from .functions.sketches import bloom_build_words, bloom_filter_members

    M, K = 4194304, 4
    d = t(spark, sf_dir, "documents")
    bench_sources = ("src0", "src1")
    is_bench = F.col("source").isin(*bench_sources)
    bench_g = (
        exploded_shingles(d.filter(is_bench), "text", "doc_id", 5)
        .select("g")
        .distinct()
    )
    words = bloom_build_words(bench_g, "g", m_bits=M, k=K)
    corpus_sh = (
        exploded_shingles(d.filter(~is_bench), "text", "doc_id", 5)
        .select("id", "g")
        .distinct()
    )
    flagged_bloom = (
        bloom_filter_members(corpus_sh, "g", words, m_bits=M, k=K)
        .select("id")
        .distinct()
    )
    flagged_exact = (
        corpus_sh.join(F.broadcast(bench_g), "g", "left_semi")
        .select("id")
        .distinct()
    )
    n_false_neg = flagged_exact.join(flagged_bloom, "id", "left_anti").count()
    if n_false_neg:
        raise RuntimeError(
            f"Bloom filter produced {n_false_neg} false negatives — impossible "
            "by construction; the build and probe hash families diverged"
        )
    nd = corpus_sh.agg(F.countDistinct("id").cast("long").alias("n_docs"))
    nb = flagged_bloom.agg(F.count(F.lit(1)).cast("long").alias("n_flagged_bloom"))
    ne = flagged_exact.agg(F.count(F.lit(1)).cast("long").alias("n_flagged_exact"))
    return (
        nd.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(ne))
        .withColumn(
            "n_false_positives",
            (F.col("n_flagged_bloom") - F.col("n_flagged_exact")).cast("long"),
        )
    )


@query(
    "q208_minhash_jaccard_estimate",
    oracle=f"""
    WITH {_minhash_cte(16, 4)},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
    ),
    agree AS (
      SELECT c.id_a, c.id_b,
             COUNT(*) FILTER (WHERE ha.h = hb.h) AS n_agree
      FROM cand c
      JOIN hm ha ON ha.doc_id = c.id_a
      JOIN hm hb ON hb.doc_id = c.id_b AND hb.i = ha.i
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    shared AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS nsh
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.g = a.g
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           ROUND(g.n_agree / 16.0, 4) AS est_jaccard,
           ROUND(s.nsh / (sa.sz + sb.sz - s.nsh), 4) AS jaccard,
           ROUND(ABS(g.n_agree / 16.0
                     - ROUND(s.nsh / (sa.sz + sb.sz - s.nsh), 4)), 4) AS abs_err
    FROM cand c
    JOIN agree g ON g.id_a = c.id_a AND g.id_b = c.id_b
    JOIN shared s ON s.id_a = c.id_a AND s.id_b = c.id_b
    JOIN sizes sa ON sa.doc_id = c.id_a
    JOIN sizes sb ON sb.doc_id = c.id_b
    ORDER BY c.id_a, c.id_b
    """,
)
def q208_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH AS AN ESTIMATOR, accuracy-witnessed: for every LSH
    candidate pair, the per-pair Jaccard ESTIMATE (fraction of agreeing
    signature components — the quantity MinHash actually approximates,
    E[est] = J) next to the EXACT shingle-set Jaccard and the absolute
    error. Completes the MinHash story beyond candidate generation
    (q31/q144): the same signatures double as a pairwise similarity
    estimate without touching the documents again — at 100 TB the
    estimate costs k longs per pair while exact verification re-reads
    posting lists. All multiples of 1/16 have exact 4-decimal
    representations, so the estimate column is hash-exact by
    construction; DuckDB replays signatures, agreement counts and the
    exact join to the digit."""
    from .functions.dedup import (
        exploded_shingles,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    NH = 16
    d = t(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(d, num_hashes=NH, bands=4, hash_family="md5")
    sig = minhash_signatures(d, num_hashes=NH, hash_family="md5")
    siga = sig.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(NH)]
    )
    sigb = sig.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(NH)]
    )
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(NH)
    )
    sh = exploded_shingles(d, "text", "doc_id", 3)
    cdocs = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    tarr = (
        sh.join(cdocs, "id", "left_semi")
        .groupBy("id")
        .agg(F.collect_list("g").alias("gs"), F.count(F.lit(1)).alias("sz"))
    )
    est = n_agree / F.lit(float(NH))
    nsh = F.size(F.array_intersect("ga", "gb"))
    jacc = F.round(nsh / (F.col("sza") + F.col("szb") - nsh), 4)
    return _carry(
        cand.join(siga, "id_a")
        .join(sigb, "id_b")
        .join(
            tarr.select(
                F.col("id").alias("id_a"), F.col("gs").alias("ga"), F.col("sz").alias("sza")
            ),
            "id_a",
        )
        .join(
            tarr.select(
                F.col("id").alias("id_b"), F.col("gs").alias("gb"), F.col("sz").alias("szb")
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(est, 4).alias("est_jaccard"),
            jacc.alias("jaccard"),
            F.round(F.abs(est - jacc), 4).alias("abs_err"),
        )
        .orderBy("id_a", "id_b"),
        cand,
    )


@query(
    "q209_histogram_quantile_sketch",
    oracle="""
    WITH mm AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
                       COUNT(*) AS n FROM lineitem),
    bins AS (
      SELECT CAST(LEAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 512)), 511)
                  AS BIGINT) AS bin,
             COUNT(*) AS c
      FROM lineitem, mm GROUP BY 1
    ),
    cum AS (SELECT bin, c, SUM(c) OVER (ORDER BY bin) AS cum FROM bins),
    qs AS (SELECT CAST(UNNEST([0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS q),
    tgt AS (SELECT q, q * n AS target FROM qs, mm),
    pick AS (
      SELECT t.q, t.target, MIN(c2.bin) AS bin
      FROM tgt t JOIN cum c2 ON CAST(c2.cum AS DOUBLE) >= t.target
      GROUP BY 1, 2
    ),
    est AS (
      SELECT p.q,
             mm.lo + p.bin * ((mm.hi - mm.lo) / 512)
               + ((p.target - CAST(c3.cum - c3.c AS DOUBLE)) / CAST(c3.c AS DOUBLE))
                 * ((mm.hi - mm.lo) / 512) AS est
      FROM pick p JOIN cum c3 ON c3.bin = p.bin, mm
    ),
    exact AS (
      SELECT CAST(0.25 AS DOUBLE) AS q, QUANTILE_CONT(l_extendedprice, 0.25) AS ex FROM lineitem
      UNION ALL
      SELECT CAST(0.5 AS DOUBLE), QUANTILE_CONT(l_extendedprice, 0.5) FROM lineitem
      UNION ALL
      SELECT CAST(0.75 AS DOUBLE), QUANTILE_CONT(l_extendedprice, 0.75) FROM lineitem
      UNION ALL
      SELECT CAST(0.9 AS DOUBLE), QUANTILE_CONT(l_extendedprice, 0.9) FROM lineitem
      UNION ALL
      SELECT CAST(0.99 AS DOUBLE), QUANTILE_CONT(l_extendedprice, 0.99) FROM lineitem
    )
    SELECT e.q, ROUND(e.est, 4) AS est_quantile,
           ROUND(x.ex, 4) AS exact_quantile,
           ROUND(ABS(e.est - x.ex), 4) AS abs_err
    FROM est e JOIN exact x ON x.q = e.q
    ORDER BY e.q
    """,
)
def q209_histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE HISTOGRAM QUANTILE SKETCH: two linear passes — global
    (min, max, n), then 512 equal-width bin counts (map-side combinable;
    shards/days merge by cell-wise ADD because the boundaries are
    global) — and every quantile estimate is linear interpolation
    inside the first bin whose cumulative count reaches q·n. The exact
    ``percentile`` rides alongside so each row witnesses the sketch's
    error (≤ one bin width ≈ range/512). This is the
    fixed-boundary-histogram member of the quantile family: q20 is the
    exact small-corpus path, ``five_num_summary`` the engine-native GK
    sketch (not cross-engine-replayable) — this one DuckDB reproduces
    arithmetic-for-arithmetic, interpolation included. The cumulative
    window runs over ≤512 bin rows (O(B) state, exempted
    single-partition)."""
    from .operators.stats import histogram_quantile_sketch

    li = t(spark, sf_dir, "lineitem")
    est = histogram_quantile_sketch(
        li, "l_extendedprice", quantiles=[0.25, 0.5, 0.75, 0.9, 0.99], bins=512
    ).withColumnRenamed("est_quantile", "est")
    exact = spark.createDataFrame(
        [(x,) for x in (0.25, 0.5, 0.75, 0.9, 0.99)], "q double"
    ).crossJoin(
        F.broadcast(
            li.agg(
                *[
                    F.expr(f"percentile(l_extendedprice, {x})").alias(f"ex{i}")
                    for i, x in enumerate((0.25, 0.5, 0.75, 0.9, 0.99))
                ]
            )
        )
    ).select(
        "q",
        F.when(F.col("q") == 0.25, F.col("ex0"))
        .when(F.col("q") == 0.5, F.col("ex1"))
        .when(F.col("q") == 0.75, F.col("ex2"))
        .when(F.col("q") == 0.9, F.col("ex3"))
        .otherwise(F.col("ex4"))
        .alias("ex"),
    )
    return (
        est.join(exact, "q")
        .select(
            "q",
            F.round("est", 4).alias("est_quantile"),
            F.round("ex", 4).alias("exact_quantile"),
            F.round(F.abs(F.col("est") - F.col("ex")), 4).alias("abs_err"),
        )
        .orderBy("q")
    )


@query(
    "q210_mixture_temperature",
    oracle="""
    WITH sizes AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS n_chars
      FROM documents GROUP BY source
    ),
    taus AS (SELECT CAST(UNNEST([0.5, 0.7, 1.0]) AS DOUBLE) AS tau),
    pw AS (
      SELECT t.tau, s.source, s.n_docs, s.n_chars,
             ROUND(POWER(CAST(s.n_chars AS DOUBLE), t.tau), 6) AS w
      FROM sizes s CROSS JOIN taus t
    ),
    tot AS (
      SELECT tau, source, n_docs, n_chars, w,
             CAST(SUM(CAST(w AS DECIMAL(38,6))) OVER (PARTITION BY tau)
                  AS DOUBLE) AS wsum
      FROM pw
    )
    SELECT tau, source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           ROUND(w / wsum, 6) AS weight,
           ROUND(w / wsum * 1000000, 2) AS docs_per_million
    FROM tot ORDER BY tau, source
    """,
)
def q210_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED MIXTURE WEIGHTS — the sampling distribution
    used to flatten domain imbalance in LLM training mixes
    [Lample & Conneau 2019, XLM; also mT5/PaLM data mixing]:
    p_i ∝ size_i^τ, with τ<1 up-weighting small sources. Computed per
    τ ∈ {0.5, 0.7, 1.0} over per-source char masses; the normalizer is
    a DECIMAL sum of round-6 powers (order-independent — the |sources|
    addends would otherwise sum in engine-dependent order), so DuckDB
    reproduces every weight. Output includes docs-per-million — the
    number a sampler (q154's A-ES weighted draw) consumes directly.
    Scale: one groupBy over the corpus, then arithmetic on |sources|
    rows (the tiny window is the documented exemption)."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    sizes = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    taus = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(x)) for x in (0.5, 0.7, 1.0)])).alias("tau")
    )
    pw = sizes.crossJoin(F.broadcast(taus)).select(
        "tau",
        "source",
        "n_docs",
        "n_chars",
        F.round(F.pow(F.col("n_chars").cast("double"), F.col("tau")), 6).alias("w"),
    )
    wtau = Window.partitionBy("tau")
    tot = pw.withColumn(
        "wsum",
        F.sum(F.col("w").cast("decimal(38,6)")).over(wtau).cast("double"),
    )
    return tot.select(
        "tau",
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.round(F.col("w") / F.col("wsum"), 6).alias("weight"),
        F.round(F.col("w") / F.col("wsum") * 1000000, 2).alias("docs_per_million"),
    ).orderBy("tau", "source")


@query(
    "q211_bpe_pair_stats",
    oracle="""
    WITH w AS (
      SELECT word, COUNT(*) AS freq FROM (
        SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS word FROM documents
      ) WHERE word <> '' GROUP BY word
    ),
    p AS (
      SELECT w.freq,
             SUBSTRING(w.word, i, 1) AS lsym,
             CASE WHEN i < LEN(w.word) THEN SUBSTRING(w.word, i + 1, 1)
                  ELSE '</w>' END AS rsym
      FROM w, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(w.word))) AS i) s
    )
    SELECT lsym, rsym, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM p GROUP BY 1, 2
    ORDER BY pair_count DESC, lsym, rsym LIMIT 20
    """,
)
def q211_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE VOCABULARY LEARNING, round-1 statistic (functions/text.py
    bpe_pair_counts over word_freqs): adjacent-symbol pair frequencies
    weighted by word frequency — the quantity byte-pair encoding
    greedily maximizes [Sennrich et al. 2016] — with the top-20 pairs
    under the deterministic (count DESC, left, right) ranking BPE's
    argmax uses. The working set is the DISTINCT-word table, so cost is
    vocab-sized, not corpus-sized; the full multi-round ``bpe_learn``
    (greedy merge applied per round in an Arrow map pass) is pinned by
    a golden test against a pure-Python reference implementation."""
    from .functions.text import bpe_pair_counts, word_freqs

    d = t(spark, sf_dir, "documents")
    return (
        bpe_pair_counts(word_freqs(d))
        .select(
            F.col("left").alias("lsym"),
            F.col("right").alias("rsym"),
            F.col("pair_count").cast("long").alias("pair_count"),
        )
        .orderBy(F.desc("pair_count"), "lsym", "rsym")
        .limit(20)
    )


@query(
    "q212_contamination_score",
    oracle="""
    WITH tok AS (SELECT doc_id, source, STRING_SPLIT(LOWER(text), ' ') AS ts
                 FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, source,
             ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 4)) AS i) s
      WHERE LEN(ts) >= 5
    ),
    bench AS (SELECT DISTINCT g FROM sh WHERE source IN ('src0', 'src1')),
    scored AS (
      SELECT doc_id, source, COUNT(*) AS n_grams,
             COUNT(*) FILTER (WHERE g IN (SELECT g FROM bench)) AS n_hit
      FROM sh WHERE source NOT IN ('src0', 'src1')
      GROUP BY 1, 2
    )
    SELECT doc_id, source,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_hit AS BIGINT) AS n_hit,
           ROUND(n_hit / CAST(n_grams AS DOUBLE), 4) AS overlap_frac
    FROM scored WHERE n_hit > 0
    ORDER BY doc_id
    """,
)
def q212_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED CONTAMINATION SCORE: for every corpus document touching
    the benchmark, the FRACTION of its distinct 5-grams found in the
    benchmark set — the thresholding input real pipelines use (q130's
    any-overlap flag treats a one-shingle collision and a verbatim
    copy identically; the fraction separates them). Same shuffle-free
    shape as q130: the benchmark index broadcasts, the per-doc rollup
    is one map-side-combinable groupBy — the broadcast LEFT SEMI
    becomes a broadcast membership flag summed per doc."""
    from .functions.dedup import exploded_shingles

    d = t(spark, sf_dir, "documents")
    bench_sources = ("src0", "src1")
    is_bench = F.col("source").isin(*bench_sources)
    bench_g = (
        exploded_shingles(d.filter(is_bench), "text", "doc_id", 5)
        .select("g")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = d.filter(~is_bench).select("doc_id", "source", "text")
    corpus_sh = (
        exploded_shingles(corpus, "text", "doc_id", 5)
        .join(
            corpus.select(F.col("doc_id").alias("id"), "source"), "id"
        )
    )
    scored = (
        corpus_sh.join(F.broadcast(bench_g), "g", "left")
        .groupBy(F.col("id").alias("doc_id"), "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return (
        scored.filter(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "source",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(
                F.col("n_hit") / F.col("n_grams").cast("double"), 4
            ).alias("overlap_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "q213_lsh_recall_witness",
    oracle=f"""
    WITH {_minhash_cte(16, 4)},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nsh
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT s.id_a, s.id_b
      FROM shared s
      JOIN sizes sa ON sa.doc_id = s.id_a
      JOIN sizes sb ON sb.doc_id = s.id_b
      WHERE ROUND(s.nsh / (sa.sz + sb.sz - s.nsh), 4) >= 0.7
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM truth) AS n_true_pairs,
             (SELECT COUNT(*) FROM truth t
              JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hit
    )
    SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true_pairs AS BIGINT) AS n_true_pairs,
           CAST(n_hit AS BIGINT) AS n_hit,
           ROUND(n_hit / CAST(n_true_pairs AS DOUBLE), 4) AS recall,
           ROUND(n_hit / CAST(n_candidates AS DOUBLE), 4) AS efficiency
    FROM m
    """,
)
def q213_lsh_recall_witness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH OPERATING-POINT WITNESS: candidate count, true Jaccard≥0.7
    pair count, their intersection, and the resulting recall/efficiency
    for the md5 16-hash/4-band family — the S-curve quality claim
    (P(cand) = 1−(1−j⁴)⁴) measured and cross-engine-verified instead of
    asserted in a unit test only. At 100 TB this is the query run on a
    sampled slice to pick banding parameters before committing a full
    dedup pass; the exact-join truth side is what makes it a small-SF
    diagnostic (the LSH side alone stays corpus-scale)."""
    from .functions.dedup import jaccard_candidates, minhash_lsh_candidates

    d = t(spark, sf_dir, "documents")
    src = minhash_lsh_candidates(d, num_hashes=16, bands=4, hash_family="md5")
    cand = src.select("id_a", "id_b")
    truth = jaccard_candidates(d, threshold=0.7, n=3).select("id_a", "id_b")
    hit = truth.join(cand, ["id_a", "id_b"])
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    nh = hit.agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    return _carry(
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_candidates",
            "n_true_pairs",
            "n_hit",
            F.round(
                F.col("n_hit") / F.col("n_true_pairs").cast("double"), 4
            ).alias("recall"),
            F.round(
                F.col("n_hit") / F.col("n_candidates").cast("double"), 4
            ).alias("efficiency"),
        ),
        src,
    )


@query(
    "q214_stream_bloom_blocklist",
    oracle="""
    WITH blocked AS (
      SELECT DISTINCT CAST(user_id AS VARCHAR) AS k FROM events
      WHERE user_id % 13 = 0
    ),
    words AS (
      SELECT pos // 60 AS word,
             BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 60 AS INT)) AS bits
      FROM (
        SELECT ((((2*i + 1) * 2654435761) % 2147483647)
                * (CAST(('0x' || SUBSTRING(md5(k), 1, 15)) AS BIGINT) % 2147483647)
                + (i * 1013904223) % 2147483647) % 2147483647 % 4096 AS pos
        FROM blocked, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS i) s
      ) GROUP BY 1
    ),
    uids AS (SELECT DISTINCT user_id FROM events),
    pcells AS (
      SELECT user_id,
             ((((2*i + 1) * 2654435761) % 2147483647)
              * (CAST(('0x' || SUBSTRING(md5(CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 2147483647)
              + (i * 1013904223) % 2147483647) % 2147483647 % 4096 AS pos
      FROM uids, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS i) s
    ),
    member AS (
      SELECT user_id
      FROM pcells p LEFT JOIN words w ON w.word = p.pos // 60
      GROUP BY user_id
      HAVING COUNT(*) FILTER (
        WHERE (COALESCE(w.bits, 0) & (CAST(1 AS BIGINT) << CAST(p.pos % 60 AS INT)))
              <> 0) = 4
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           ROUND(SUM(value), 4) AS sum_value
    FROM events WHERE user_id NOT IN (SELECT user_id FROM member)
    GROUP BY event_type ORDER BY event_type
    """,
)
def q214_stream_bloom_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING × SKETCH COMPOSITION: a Bloom BLOCKLIST applied to a
    live stream — the blocked-user filter compiles into a plan-literal
    membership predicate (functions/sketches.bloom_member: ~69 packed
    words inlined, k=4 md5-affine probes as pure column expressions),
    so the stream filter is STATELESS and map-only: no broadcast join,
    no state store, works in any trigger mode — the production shape
    for revocation lists / spam blocklists on event streams (no false
    negatives: a blocked user can never slip through; the tunable FP
    rate drops extra rows, which the oracle replays exactly). The
    surviving stream runs a complete-mode per-type rollup; DuckDB
    rebuilds the filter and replays the equivalent batch query."""
    from .functions.sketches import bloom_build_words, bloom_member
    from .streaming.core import events_stream, run_available_now

    M, K = 4096, 4
    ev = t(spark, sf_dir, "events")
    blocked = (
        ev.filter(F.col("user_id") % 13 == 0)
        .select(F.col("user_id").cast("string").alias("k"))
        .distinct()
    )
    words = {
        r.word: r.bits
        for r in bloom_build_words(blocked, "k", m_bits=M, k=K).collect()
    }
    stream = events_stream(spark, sf_dir)
    kept = stream.filter(~bloom_member(F.col("user_id"), words, M, K))
    agg = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    out = run_available_now(agg, "complete")
    return out.orderBy("event_type")


@query(
    "q215_quality_filter_funnel",
    oracle="""
    WITH f AS (
      SELECT source,
             LENGTH(text) >= 200 AS f1,
             LENGTH(REGEXP_REPLACE(text, '[^.,;:!?''"-]', '', 'g'))
               / CAST(LENGTH(text) AS DOUBLE) <= 0.1 AS f2,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 t -> t IN ('the','and','of','to','is','in','that','with','for','was')))
               / CAST(LEN(STRING_SPLIT(LOWER(text), ' ')) AS DOUBLE) >= 0.05 AS f3,
             lang IN ('en', 'de', 'fr', 'es') AS f4
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS after_length,
           CAST(SUM(CASE WHEN f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS after_punct,
           CAST(SUM(CASE WHEN f1 AND f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS after_stopword,
           CAST(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS after_lang,
           ROUND(SUM(CASE WHEN f1 AND f2 AND f3 AND f4 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS retention
    FROM f GROUP BY source ORDER BY source
    """,
)
def q215_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-FILTER RETENTION FUNNEL: the per-source survivor count
    after each stage of a standard pre-training filter chain (length ≥
    200 chars → punctuation ratio ≤ 0.1 → stopword ratio ≥ 0.05 → known
    language) plus the end-to-end retention rate — the report every
    corpus-cleaning run produces to explain WHERE documents died (a
    bare final count can't distinguish a too-tight length gate from a
    language mismatch). ONE scan: the filters become boolean columns
    (functions/text.quality_features expressions) and the funnel is a
    row of conditional sums with map-side partial aggregation — no
    repeated passes, no joins, 100 TB-safe by construction."""
    from .functions.text import quality_features

    d = t(spark, sf_dir, "documents")
    qf = quality_features("text")
    f1 = F.length("text") >= 200
    f2 = qf["punct_ratio"] <= 0.1
    f3 = qf["stopword_ratio"] >= 0.05
    f4 = F.col("lang").isin("en", "de", "fr", "es")
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            cnt(f1).alias("after_length"),
            cnt(f1 & f2).alias("after_punct"),
            cnt(f1 & f2 & f3).alias("after_stopword"),
            cnt(f1 & f2 & f3 & f4).alias("after_lang"),
            F.round(
                F.sum(F.when(f1 & f2 & f3 & f4, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("retention"),
        )
        .orderBy("source")
    )


@query(
    "q216_neardup_source_matrix",
    oracle=f"""
    WITH {_minhash_cte(16, 4)},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM band a JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                             AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
    shared AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS nsh
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.g = a.g
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT s.id_a, s.id_b,
             ROUND(s.nsh / (sa.sz + sb.sz - s.nsh), 4) AS j
      FROM shared s
      JOIN sizes sa ON sa.doc_id = s.id_a
      JOIN sizes sb ON sb.doc_id = s.id_b
      WHERE ROUND(s.nsh / (sa.sz + sb.sz - s.nsh), 4) >= 0.6
    )
    SELECT LEAST(da.source, db.source) AS source_x,
           GREATEST(da.source, db.source) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(v.j AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_jaccard
    FROM ver v
    JOIN documents da ON da.doc_id = v.id_a
    JOIN documents db ON db.doc_id = v.id_b
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q216_neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE DUPLICATION MATRIX: verified near-dup pairs (md5
    MinHash candidates → exact Jaccard ≥ 0.6) rolled up by UNORDERED
    source pair — the provenance diagnostic behind a dedup run (a
    heavy src_i↔src_j cell means one source mirrors another; the
    diagonal is within-source duplication), with per-cell mean Jaccard
    summed in DECIMAL so the handful of addends can't vary by shuffle
    order. The pair space is LSH-bounded; source attachment is two
    id-equi-joins on the verified pairs only."""
    from .storage import tracked_local_checkpoint
    from .functions.dedup import jaccard_verify_pairs, minhash_lsh_candidates

    d = t(spark, sf_dir, "documents")
    # candidates feed the doc restriction AND the verify semi-join —
    # materialize so the signature job runs once (q152 discipline)
    pairs = tracked_local_checkpoint(
        minhash_lsh_candidates(d, num_hashes=16, bands=4, hash_family="md5")
    )
    # verify exact Jaccard for the LSH pairs ONLY (round 12,
    # dedup.jaccard_verify_pairs): work ∝ |pairs|, values identical
    ver = jaccard_verify_pairs(d, pairs, threshold=0.6, n=3)
    src = d.select("doc_id", "source")
    return (
        ver.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
        .groupBy(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_jaccard"),
        )
        .orderBy("source_x", "source_y")
    )


@query(
    "q217_embedding_diversity",
    oracle="""
    WITH ex AS (
      SELECT vec_id AS id, i - 1 AS dim,
             ROUND(CAST(embedding[i] AS DOUBLE), 6) AS xr
      FROM embeddings,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i) s
    ),
    nn AS (SELECT COUNT(DISTINCT id) AS n FROM ex),
    mom AS (
      SELECT dim,
             CAST(SUM(CAST(xr AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(ROUND(xr * xr, 9) AS DECIMAL(30,9))) AS DOUBLE) AS q
      FROM ex GROUP BY dim
    ),
    terms AS (
      SELECT CAST(SUM(CAST(ROUND(n * q - s * s, 6) AS DECIMAL(38,6))) AS DOUBLE)
               AS tsum, MAX(n) AS n
      FROM mom, nn
    ),
    wex AS (SELECT * FROM ex WHERE id < 100),
    wn AS (SELECT COUNT(DISTINCT id) AS wn FROM wex),
    wmom AS (
      SELECT dim,
             CAST(SUM(CAST(xr AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(ROUND(xr * xr, 9) AS DECIMAL(30,9))) AS DOUBLE) AS q
      FROM wex GROUP BY dim
    ),
    wterms AS (
      SELECT CAST(SUM(CAST(ROUND(wn * q - s * s, 6) AS DECIMAL(38,6))) AS DOUBLE)
               AS tsum, MAX(wn) AS wn
      FROM wmom, wn
    ),
    pd AS (
      SELECT a.id AS id_a, b.id AS id_b,
             ROUND(CAST(SUM(CAST(ROUND((a.xr - b.xr) * (a.xr - b.xr), 9)
                                 AS DECIMAL(30,9))) AS DOUBLE), 6) AS d2
      FROM wex a JOIN wex b ON a.dim = b.dim AND a.id < b.id
      GROUP BY 1, 2
    ),
    brute AS (
      SELECT CAST(SUM(CAST(d2 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mspd
      FROM pd
    )
    SELECT CAST(t.n AS BIGINT) AS n_vectors,
           ROUND(2 * t.tsum / (t.n * (t.n - 1)), 4) AS diversity_mspd,
           CAST(w.wn AS BIGINT) AS n_witness,
           ROUND(2 * w.tsum / (w.wn * (w.wn - 1)), 4) AS witness_formula,
           ROUND(b.mspd, 4) AS witness_brute
    FROM terms t, wterms w, brute b
    """,
)
def q217_embedding_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE DIVERSITY in ONE PASS: mean pairwise squared
    distance over UNORDERED pairs via the moment identity
    Σ_{i<j}‖xi−xj‖² = Σ_d (n·Σx² − (Σx)²) — per-dim sums and square
    sums only, NO pair materialization, so the metric costs a linear
    scan at any corpus size (the diversity/mode-collapse measurement
    for a training set's embedding cloud). A brute-force WITNESS runs
    alongside on the id<100 subset: the same metric from the actual
    4950-pair join — the output row carries formula-vs-brute side by
    side, and the oracle replays BOTH routes (round-6 inputs, round-9
    products, DECIMAL sums at every reduction — the q185 discipline —
    so neither engine's float order can leak)."""
    from pyspark.sql import Window as _W  # noqa: F401  (symmetry with siblings)

    emb = t(spark, sf_dir, "embeddings")
    ex = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    ).select("id", "dim", F.round(F.col("x"), 6).alias("xr"))

    def moments(frame):
        return frame.groupBy("dim").agg(
            F.sum(F.col("xr").cast("decimal(18,6)")).cast("double").alias("s"),
            F.sum(F.round(F.col("xr") * F.col("xr"), 9).cast("decimal(30,9)"))
            .cast("double")
            .alias("q"),
        )

    def tsum_of(mom, n_frame, ncol):
        return (
            mom.crossJoin(F.broadcast(n_frame))
            .agg(
                F.sum(
                    F.round(
                        F.col(ncol) * F.col("q") - F.col("s") * F.col("s"), 6
                    ).cast("decimal(38,6)")
                )
                .cast("double")
                .alias("tsum"),
                F.max(ncol).alias(ncol),
            )
        )

    nn = ex.agg(F.countDistinct("id").alias("n"))
    terms = tsum_of(moments(ex), nn, "n")

    wex = ex.filter(F.col("id") < 100)
    wn = wex.agg(F.countDistinct("id").alias("wn"))
    wterms = tsum_of(moments(wex), wn, "wn")

    pd_ = (
        wex.alias("a")
        .join(
            wex.alias("b"),
            (F.col("a.dim") == F.col("b.dim")) & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.round(
                F.sum(
                    F.round(
                        (F.col("a.xr") - F.col("b.xr"))
                        * (F.col("a.xr") - F.col("b.xr")),
                        9,
                    ).cast("decimal(30,9)")
                ).cast("double"),
                6,
            ).alias("d2")
        )
    )
    brute = pd_.agg(
        (
            F.sum(F.col("d2").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mspd")
    )
    wterms = wterms.withColumnRenamed("tsum", "wtsum")
    return (
        terms.crossJoin(F.broadcast(wterms))
        .crossJoin(F.broadcast(brute))
        .select(
            F.col("n").cast("long").alias("n_vectors"),
            F.round(
                F.lit(2) * F.col("tsum") / (F.col("n") * (F.col("n") - 1)), 4
            ).alias("diversity_mspd"),
            F.col("wn").cast("long").alias("n_witness"),
            F.round(
                F.lit(2) * F.col("wtsum") / (F.col("wn") * (F.col("wn") - 1)), 4
            ).alias("witness_formula"),
            F.round(F.col("mspd"), 4).alias("witness_brute"),
        )
    )


@query(
    "q218_dedup_reduction_report",
    oracle=f"""
    WITH RECURSIVE {_neardup_pipeline_cte()},
    kept AS (
      SELECT d.source, COUNT(*) AS n_kept, SUM(d.n_chars) AS chars_kept
      FROM documents d JOIN clusters c ON c.id = d.doc_id AND c.cluster = d.doc_id
      GROUP BY d.source
    ),
    before AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_chars) AS chars_total
      FROM documents GROUP BY source
    )
    SELECT b.source,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(k.n_kept AS BIGINT) AS n_kept,
           CAST(b.n_docs - k.n_kept AS BIGINT) AS n_removed,
           CAST(b.chars_total - k.chars_kept AS BIGINT) AS chars_removed,
           ROUND((b.n_docs - k.n_kept) / CAST(b.n_docs AS DOUBLE), 4)
             AS removal_rate
    FROM before b JOIN kept k ON k.source = b.source
    ORDER BY b.source
    """,
)
def q218_dedup_reduction_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP SAVINGS REPORT — the number a 100 TB cleaning run is
    judged by: per source, documents before, survivors after the full
    near-dup pipeline (q152's md5 MinHash → Jaccard-verify → CC →
    canonical keep), documents and CHARACTERS removed, and the removal
    rate. Composition query: the pipeline stages are the already-
    verified machinery; this adds only the before/after rollup join —
    and the whole composition is still replayed end-to-end by the
    oracle's recursive-CTE twin."""
    from .functions.dedup import (
        connected_components,
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )
    from .storage import tracked_local_checkpoint

    d = t(spark, sf_dir, "documents")
    pairs = tracked_local_checkpoint(
        minhash_lsh_candidates(d, num_hashes=16, bands=4, hash_family="md5")
    )
    # verify exact Jaccard for the LSH pairs ONLY (round 12,
    # dedup.jaccard_verify_pairs): array-intersect per pair instead of
    # re-deriving every pair the candidate docs form and semi-joining
    # back — work ∝ |pairs|, values identical
    verified = jaccard_verify_pairs(d, pairs, threshold=0.6, n=3)
    clusters = connected_components(
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        d.select(F.col("doc_id").alias("id")),
    )
    kept = d.join(
        clusters.filter(F.col("id") == F.col("cluster")).select(
            F.col("id").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    before = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
    )
    after = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )
    return (
        before.join(after, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("n_docs") - F.col("n_kept")).cast("long").alias("n_removed"),
            (F.col("chars_total") - F.col("chars_kept"))
            .cast("long")
            .alias("chars_removed"),
            F.round(
                (F.col("n_docs") - F.col("n_kept"))
                / F.col("n_docs").cast("double"),
                4,
            ).alias("removal_rate"),
        )
        .orderBy("source")
    )


@query(
    "q185_pca_power_iteration",
    oracle="""
    WITH ex AS (
      SELECT vec_id AS id, i - 1 AS dim,
             ROUND(CAST(embedding[i] AS DOUBLE), 6) AS xr
      FROM embeddings,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i) s
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    mu AS (
      SELECT dim, CAST(SUM(CAST(xr AS DECIMAL(18,6))) AS DOUBLE) / nn.n AS mu
      FROM ex, nn GROUP BY dim, nn.n
    ),
    c AS (SELECT id, ex.dim, xr - mu AS c FROM ex JOIN mu USING (dim)),
    s1 AS (
      SELECT id,
             CAST(SUM(CAST(ROUND(c * 0.125, 9) AS DECIMAL(30,9))) AS DOUBLE) AS s
      FROM c GROUP BY id
    ),
    y1 AS (
      SELECT dim,
             CAST(SUM(CAST(ROUND(c.c * s1.s, 9) AS DECIMAL(30,9))) AS DOUBLE) AS y
      FROM c JOIN s1 USING (id) GROUP BY dim
    ),
    n1 AS (
      SELECT SQRT(CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE))
               AS nrm
      FROM y1
    ),
    v1 AS (SELECT dim, ROUND(y / nrm, 6) AS vd FROM y1, n1),
    s2 AS (
      SELECT id,
             CAST(SUM(CAST(ROUND(c.c * v1.vd, 9) AS DECIMAL(30,9))) AS DOUBLE) AS s
      FROM c JOIN v1 USING (dim) GROUP BY id
    ),
    y2 AS (
      SELECT dim,
             CAST(SUM(CAST(ROUND(c.c * s2.s, 9) AS DECIMAL(30,9))) AS DOUBLE) AS y
      FROM c JOIN s2 USING (id) GROUP BY dim
    ),
    n2 AS (
      SELECT SQRT(CAST(SUM(CAST(ROUND(y * y, 9) AS DECIMAL(38,9))) AS DOUBLE))
               AS nrm
      FROM y2
    ),
    v2 AS (SELECT dim, ROUND(y / nrm, 6) AS vd FROM y2, n2)
    SELECT CAST(v2.dim AS INT) AS dim, v2.vd AS loading,
           ROUND(n2.nrm / nn.n, 4) AS eigval
    FROM v2, n2, nn ORDER BY dim
    """,
)
def q185_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the embedding cloud
    (functions/similarity.pca_power_iteration): two power-iteration
    rounds, covariance NEVER materialized — each round is two linear
    passes (per-vector projection, per-dim back-projection) with O(d)
    carried state, the spectral analog of the deterministic-Lloyd
    discipline (q146). Every float reduction is a DECIMAL sum of
    round-9 products and v re-rounds to 6 per round, so DuckDB replays
    the exact trajectory — loadings AND Rayleigh eigenvalue match to
    the last digit. v₀ = uniform 1/√64 = 0.125 exactly."""
    from .functions.similarity import pca_power_iteration

    e = t(spark, sf_dir, "embeddings")
    return pca_power_iteration(e, "embedding", "vec_id", iters=2)


@query(
    "q186_prefix_filter_jaccard",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id AS id, t AS tok
      FROM documents, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS u(t)
    ),
    sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY 1),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS sh
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(sh / (sa.sz + sb.sz - sh), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.id = id_a
    JOIN sizes sb ON sb.id = id_b
    WHERE ROUND(sh / (sa.sz + sb.sz - sh), 4) >= 0.7
    ORDER BY id_a, id_b
    """,
)
def q186_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERED exact set-similarity join (functions/dedup.
    prefix_filter_jaccard): the PPJoin-family candidate pruning — index
    only each document's rarest-token prefix of length |d|−⌈t·|d|⌉+1,
    which is lossless for Jaccard ≥ t — verified against the ORACLE
    that runs the UNFILTERED inverted-index join: identical pairs, so
    the pruning is proven exact, not just plausible. The join volume
    drops by the vocabulary's frequency skew (rare tokens have short
    postings and only those are joined) — the algorithmic upgrade that
    keeps exact-Jaccard dedup viable when the q32-style full index
    would explode on common tokens."""
    from .functions.dedup import prefix_filter_jaccard

    d = t(spark, sf_dir, "documents")
    src = prefix_filter_jaccard(d, threshold=0.7)
    return _carry(src.orderBy("id_a", "id_b"), src)


@query(
    "q205_prefix_filter_shingle_jaccard",
    oracle="""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents),
    tri AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tri GROUP BY 1),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS sh
      FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(sh / (sa.sz + sb.sz - sh), 4) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ROUND(sh / (sa.sz + sb.sz - sh), 4) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def q205_prefix_filter_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFIX-FILTERED set-similarity join over 3-GRAM SHINGLE sets —
    the SCALE configuration of q186's PPJoin-style pruning. Token-level
    exact Jaccard on the synthetic corpus is O(n²) by construction (a
    ~100-word skew-free vocabulary makes every doc pair share tokens —
    q186 stays the small-SF correctness demo); the 3-gram space is
    |V|³, so rare set elements exist even where rare words don't, and
    the prefix index prunes the candidate space down to the actual
    near-dup pairs. Oracle = the UNFILTERED inverted-index shingle join
    (q32's semantics at t=0.8; every planted near-dup pair on this
    corpus scores ≥ 0.8, measured at sf0.1): identical pairs prove the
    pruning — prefix + PPJoin positional/length filters — lossless on
    this corpus too."""
    from .functions.dedup import prefix_filter_jaccard

    d = t(spark, sf_dir, "documents")
    src = prefix_filter_jaccard(d, threshold=0.8, shingle_n=3)
    return _carry(src.orderBy("id_a", "id_b"), src)


@query(
    "q187_join_skew_report",
    oracle="""
    WITH kf AS (
      SELECT l_orderkey AS key, COUNT(*) AS n_rows
      FROM lineitem GROUP BY 1
    ),
    stats AS (
      SELECT COUNT(*) AS n_keys,
             SUM(n_rows) AS total_rows,
             MAX(n_rows) AS max_freq,
             MEDIAN(n_rows) AS p50_freq,
             CAST(QUANTILE_CONT(n_rows, 0.99) AS DOUBLE) AS p99_freq
      FROM kf
    )
    SELECT key, CAST(n_rows AS BIGINT) AS n_rows,
           ROUND(n_rows / total_rows, 6) AS pct_of_total,
           ROUND(max_freq * n_keys / CAST(total_rows AS DOUBLE), 4)
             AS skew_factor,
           ROUND(p50_freq, 4) AS p50_freq, ROUND(p99_freq, 4) AS p99_freq
    FROM kf, stats
    ORDER BY n_rows DESC, key LIMIT 5
    """,
)
def q187_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SKEW DIAGNOSTIC: per-key frequency profile of a join key —
    the top heavy hitters with their share of the table, plus the
    distribution scalars (max/median/p99 frequency and the skew factor
    max·n_keys/total = how many times hotter the hottest key runs than
    uniform). This is the measurement side of the skew story whose
    mitigation side the suite already ships (q112 salted join, q76
    salted agg, AQE skew-join in session defaults): at 100 TB you run
    THIS first to decide whether to salt and by how much (the skew
    factor IS the salt-bucket lower bound). One groupBy on the key;
    the distribution scalars are an O(n_keys) aggregate broadcast back;
    top-5 is a TakeOrdered heap."""
    li = t(spark, sf_dir, "lineitem")
    kf = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = kf.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_freq"),
        F.median("n_rows").alias("p50_freq"),
        F.percentile(F.col("n_rows"), F.lit(0.99)).alias("p99_freq"),
    )
    return (
        kf.crossJoin(F.broadcast(stats))
        .select(
            "key",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("total_rows"), 6).alias("pct_of_total"),
            F.round(
                F.col("max_freq") * F.col("n_keys") / F.col("total_rows").cast("double"),
                4,
            ).alias("skew_factor"),
            F.round("p50_freq", 4).alias("p50_freq"),
            F.round("p99_freq", 4).alias("p99_freq"),
        )
        .orderBy(F.desc("n_rows"), "key")
        .limit(5)
    )


def _q188_oracle(m: int = 4, w: int = 16, k: int = 4) -> str:
    # Mirrors functions/similarity.pq_search(m=4, k=4, iters=2): per
    # subspace, the q146 deterministic-Lloyd chain on the sliced
    # vectors; then the round-6 query, in-engine round-9 DECIMAL LUT,
    # and exact ADC sums.
    blocks = []
    code_units = []
    lut_units = []
    for j in range(m):
        lo, hi = j * w + 1, j * w + w
        assign = f"""
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb{j} e CROSS JOIN {{cent}} c
    """
        update = f"""
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {{assigned}} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
        blocks.append(f"""
    emb{j} AS (SELECT id, list_slice(v, {lo}, {hi}) AS v FROM emb),
    c0_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb{j} ORDER BY id LIMIT {k})
    ),
    s0_{j} AS ({assign.format(cent=f"c0_{j}")}),
    a0_{j} AS (SELECT id, v, cluster FROM s0_{j} WHERE rn = 1),
    m1_{j} AS ({update.format(assigned=f"a0_{j}")}),
    c1n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1_{j} GROUP BY cluster),
    c1_{j} AS (SELECT c0_{j}.cluster, COALESCE(c1n_{j}.c, c0_{j}.c) AS c
               FROM c0_{j} LEFT JOIN c1n_{j} USING (cluster)),
    s1_{j} AS ({assign.format(cent=f"c1_{j}")}),
    a1_{j} AS (SELECT id, v, cluster FROM s1_{j} WHERE rn = 1),
    m2_{j} AS ({update.format(assigned=f"a1_{j}")}),
    c2n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2_{j} GROUP BY cluster),
    c2_{j} AS (SELECT c1_{j}.cluster, COALESCE(c2n_{j}.c, c1_{j}.c) AS c
               FROM c1_{j} LEFT JOIN c2n_{j} USING (cluster)),
    s2_{j} AS ({assign.format(cent=f"c2_{j}")}),
    a2_{j} AS (SELECT id, cluster FROM s2_{j} WHERE rn = 1),
    lutsrc{j} AS (
      SELECT c.cluster AS code, c.c AS cv, list_slice(q.q, {lo}, {hi}) AS qv
      FROM c2_{j} c CROSS JOIN q
    ),
    lut{j} AS (
      SELECT {j} AS j, code,
             SUM(CAST(ROUND((u.qx - u.cx) * (u.qx - u.cx), 9)
                      AS DECIMAL(30,9))) AS sq
      FROM lutsrc{j},
           LATERAL (SELECT UNNEST(qv) AS qx, UNNEST(cv) AS cx) u
      GROUP BY 1, 2
    )""")
        code_units.append(f"SELECT id, {j} AS j, cluster AS code FROM a2_{j}")
        lut_units.append(f"SELECT * FROM lut{j}")
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    q AS (SELECT id, list_transform(v, x -> ROUND(x, 6)) AS q
          FROM (SELECT id, v FROM emb ORDER BY id LIMIT 1)),
    {",".join(blocks)},
    codes AS ({" UNION ALL ".join(code_units)}),
    lut AS ({" UNION ALL ".join(lut_units)}),
    adc AS (
      SELECT codes.id, ROUND(CAST(SUM(sq) AS DOUBLE), 6) AS pq_dist2
      FROM codes JOIN lut USING (j, code)
      GROUP BY codes.id
    )
    SELECT id AS neighbor_id, pq_dist2
    FROM adc WHERE id != (SELECT id FROM q)
    ORDER BY pq_dist2, id LIMIT 5
    """


@query("q188_product_quantization", oracle=_q188_oracle())
def q188_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION ANN (functions/similarity.pq_search): 4
    subspace codebooks from the deterministic-Lloyd quantizer, 4-code
    encoding (64× compression of the vector column), and asymmetric-
    distance top-5 via a broadcast m×k lookup table — completing the
    vector-index family (brute q40 / SRP-LSH q42 / IVF q39/q155). The
    corpus scan at query time touches CODES ONLY: m lookups + exact
    DECIMAL adds per vector, the memory-bound shape that makes
    billion-vector search feasible. DuckDB replays all four Lloyd
    chains, the LUT, and the ADC ranking exactly."""
    from .functions.similarity import pq_search

    e = t(spark, sf_dir, "embeddings")
    return pq_search(e, "embedding", "vec_id", m=4, k=4, iters=2, topk=5)


@query(
    "q189_hybrid_search_rrf",
    oracle="""
    WITH docs AS (SELECT doc_id AS id, STRING_SPLIT(LOWER(text), ' ') AS ts
                  FROM documents),
    dl AS (SELECT id, LEN(ts) AS dl FROM docs),
    tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl),
    tf AS (
      SELECT id, t AS term, COUNT(*) AS tf
      FROM docs, LATERAL UNNEST(ts) AS u(t)
      WHERE t IN ('spark', 'join', 'window')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.id,
             ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1)
                   * tf * (1.2 + 1)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl * n_docs / total_tokens)),
                   6) AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (id) CROSS JOIN tot
    ),
    bm25 AS (
      SELECT id, ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE), 4) AS bm25
      FROM scored GROUP BY 1
    ),
    lex AS (
      SELECT id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS lrank
      FROM bm25 QUALIFY lrank <= 100
    ),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
    cos AS (
      SELECT vec_id AS id, LIST_COSINE_SIMILARITY(qv, CAST(embedding AS DOUBLE[])) AS cos
      FROM embeddings, q
      WHERE vec_id != (SELECT MIN(vec_id) FROM embeddings)
    ),
    sem AS (
      SELECT id, ROW_NUMBER() OVER (ORDER BY ROUND(cos, 6) DESC, id) AS srank
      FROM cos QUALIFY srank <= 100
    ),
    fused AS (
      SELECT COALESCE(lex.id, sem.id) AS id,
             ROUND(COALESCE(1.0 / (60 + lrank), 0)
                   + COALESCE(1.0 / (60 + srank), 0), 6) AS rrf
      FROM lex FULL OUTER JOIN sem ON lex.id = sem.id
    )
    SELECT id AS doc_id, rrf FROM fused ORDER BY rrf DESC, id LIMIT 10
    """,
)
def q189_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID SEARCH by RECIPROCAL RANK FUSION [Cormack et al. 2009]:
    fuse the lexical ranking (BM25, q175 machinery) with the semantic
    ranking (exact cosine against the lowest-id query embedding, q40
    machinery) as Σ 1/(60+rank) over a FULL OUTER join of the two
    top-100 lists — the standard two-tower retrieval merge. Ranks, not
    scores, cross the fusion boundary, which is what makes RRF robust
    to incomparable score scales AND cross-engine exact (rank = integer
    from a deterministically tie-broken window; the fused sum is two
    rational literals). Each leg keeps its own scale shape: the BM25
    leg shuffles query-term postings only, the cosine leg is a
    broadcast-1×corpus pass, both end in TakeOrdered heaps."""
    from pyspark.sql.window import Window

    from .functions.retrieval import bm25_topk
    from .functions.similarity import brute_force_topk

    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    lex = bm25_topk(d, ["spark", "join", "window"], topk=100).withColumn(
        "lrank", F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
    ).select(F.col("doc_id").alias("id"), "lrank")
    min_id = e.agg(F.min("vec_id")).collect()[0][0]
    # use brute's INTERNAL round-6 rank (keep_rank) — re-ranking on the
    # round-4 output cos would break ties differently than the oracle
    sem = brute_force_topk(
        e.filter(F.col("vec_id") == min_id), e, k=100, keep_rank=True
    ).select(F.col("neighbor_id").alias("id"), F.col("rn").alias("srank"))
    fused = (
        lex.join(sem, "id", "full_outer")
        .select(
            "id",
            F.round(
                F.coalesce(1.0 / (60 + F.col("lrank")), F.lit(0.0))
                + F.coalesce(1.0 / (60 + F.col("srank")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf"), "id")
        .limit(10)
        .select(F.col("id").alias("doc_id"), "rrf")
    )


@query(
    "q190_tfidf_keywords",
    oracle="""
    WITH tok AS (
      SELECT source, doc_id, t AS term
      FROM documents, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS u(t)
    ),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    docfreq AS (
      SELECT term, COUNT(DISTINCT source) AS sf FROM tok GROUP BY 1
    ),
    ns AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents),
    scored AS (
      SELECT source, term,
             ROUND(tf * LN((n_sources + 1.0) / (sf + 1.0)), 6) AS tfidf
      FROM tf JOIN docfreq USING (term) CROSS JOIN ns
    ),
    ranked AS (
      SELECT source, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT source, term, tfidf FROM ranked WHERE rn <= 3
    ORDER BY source, tfidf DESC, term
    """,
)
def q190_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCTIVE-TERM EXTRACTION: top-3 TF-IDF keywords per source,
    idf smoothed as ln((N+1)/(sf+1)) over SOURCE frequency — the corpus-
    characterization pass of a data pipeline (what is each slice of the
    training mix actually about / does a source's vocabulary drift).
    One shuffle to (source, term) counts, a vocabulary-sized source-
    frequency aggregate joined back, and a per-source top-k window —
    ranks computed on round-6 scores with term tie-break so both
    engines pick identical keywords."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("term")
    )
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    sf = tok.groupBy("term").agg(F.countDistinct("source").alias("sf"))
    n_sources = d.agg(F.countDistinct("source").alias("n_sources"))
    scored = (
        tf.join(sf, "term")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "term",
            F.round(
                F.col("tf")
                * F.log((F.col("n_sources") + 1.0) / (F.col("sf") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("source", "term", "tfidf")
        .orderBy("source", F.desc("tfidf"), "term")
    )


@query(
    "q191_data_quality_report",
    oracle="""
    SELECT 'l_quantity' AS column_name,
           ROUND(AVG(CASE WHEN l_quantity IS NULL THEN 1.0 ELSE 0 END), 6)
             AS null_frac,
           CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS n_distinct,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_val,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           ROUND(AVG(CASE WHEN l_extendedprice IS NULL THEN 1.0 ELSE 0 END), 6),
           CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT),
           CAST(MIN(l_extendedprice) AS DOUBLE),
           CAST(MAX(l_extendedprice) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           ROUND(AVG(CASE WHEN l_discount IS NULL THEN 1.0 ELSE 0 END), 6),
           CAST(COUNT(DISTINCT l_discount) AS BIGINT),
           CAST(MIN(l_discount) AS DOUBLE),
           CAST(MAX(l_discount) AS DOUBLE)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax',
           ROUND(AVG(CASE WHEN l_tax IS NULL THEN 1.0 ELSE 0 END), 6),
           CAST(COUNT(DISTINCT l_tax) AS BIGINT),
           CAST(MIN(l_tax) AS DOUBLE),
           CAST(MAX(l_tax) AS DOUBLE)
    FROM lineitem
    ORDER BY column_name
    """,
)
def q191_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY EXPECTATIONS REPORT: per-column null fraction, exact
    distinct count, and min/max for the numeric columns of a fact table
    — the profiling pass run before a table enters a training pipeline
    (the check side of dropNA/fillNA q23/q24, and the generalization of
    getSummary q19 to a per-column contract table). ONE scan: all
    per-column aggregates evaluate in a single partial-aggregable pass
    (Spark computes the whole aggregate row at once and unpivots via
    stack), not one scan per column — at 100 TB the difference between
    a profiling query and four of them. The oracle spells the same
    report as four UNION'd aggregates."""
    li = t(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    aggs = []
    for c in cols:
        aggs += [
            F.round(
                F.avg(F.when(F.col(c).isNull(), 1.0).otherwise(0.0)), 6
            ).alias(f"{c}__nf"),
            F.countDistinct(F.col(c)).cast("long").alias(f"{c}__nd"),
            F.min(F.col(c)).cast("double").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("double").alias(f"{c}__mx"),
        ]
    one = li.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}__nf, {c}__nd, {c}__mn, {c}__mx" for c in cols
    )
    return (
        one.select(
            F.expr(
                f"stack({len(cols)}, {stack_expr}) AS "
                "(column_name, null_frac, n_distinct, min_val, max_val)"
            )
        )
        .select(
            "column_name",
            F.col("null_frac").cast("double").alias("null_frac"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "min_val",
            "max_val",
        )
        .orderBy("column_name")
    )


@query(
    "q192_stratified_exact_n_crossengine",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS BIGINT), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rn <= 20
    ORDER BY source, doc_id
    """,
)
def q192_stratified_exact_n_crossengine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED EXACT-N SAMPLING, cross-engine: exactly 20 docs per
    source, selected by md5-hash rank with id tie-break — completing
    the deterministic sampling family (q154 weighted, q158 k-fold,
    q160 fraction, q161 global exact-n; q89 is the engine-native
    fraction-stratified twin). Hash-ranked selection IS a uniform
    stratified sample (the hash is a fixed random permutation of ids)
    that any engine reproduces row-for-row — the per-stratum quota
    contract of training-mix construction ("same 20 docs per source,
    rerun anywhere"). One window per stratum; no global sort, no RNG
    state."""
    from pyspark.sql.window import Window

    from .functions.dedup import md5_long

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "source")
        .orderBy("source", "doc_id")
    )


@query(
    "q193_interevent_gaps",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             EPOCH(ts) - EPOCH(LAG(ts) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
             )) AS gap_s
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           ROUND(MEDIAN(gap_s), 4) AS p50_gap_s,
           ROUND(CAST(QUANTILE_CONT(gap_s, 0.95) AS DOUBLE), 4) AS p95_gap_s,
           ROUND(AVG(gap_s), 4) AS mean_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def q193_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-EVENT GAP DISTRIBUTION per event type: lag each user's
    stream of a given type, aggregate the gap distribution (median /
    p95 / mean seconds) — the arrival-process profile behind session
    -gap tuning (q72's session windows assume a gap threshold; THIS is
    the query that tells you what threshold the data supports). One
    shuffle to (user, type) partitions for the lag, then a partial-
    aggregable rollup per type; the unique (ts, event_id) order key
    makes lag deterministic under ties. Exact median/percentile at
    oracle scale (q86/q111 discipline)."""
    from pyspark.sql.window import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # cast(ts as double) = epoch micros / 1e6 — the same IEEE division
    # DuckDB's EPOCH() computes, so gaps are bit-identical cross-engine
    ts_s = F.col("ts").cast("double")
    gaps = ev.select(
        "event_type",
        (ts_s - F.lag(ts_s).over(w)).alias("gap_s"),
    )
    return (
        gaps.filter(F.col("gap_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.round(F.median("gap_s"), 4).alias("p50_gap_s"),
            F.round(F.percentile("gap_s", F.lit(0.95)), 4).alias("p95_gap_s"),
            F.round(F.avg("gap_s"), 4).alias("mean_gap_s"),
        )
        .orderBy("event_type")
    )


@query(
    "q194_bmp_decode_stats",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS media_id, 3 + doc_id % 9 AS w, 2 + doc_id % 7 AS h
      FROM documents WHERE doc_id < 2000
    ),
    px AS (
      SELECT media_id, w, h, ch.ch,
             AVG(CAST((media_id + 5 * r.r + 7 * c.c + 11 * ch.ch) % 256
                      AS DOUBLE)) AS m
      FROM ids,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(0, h - 1)) AS r) r,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w - 1)) AS c) c,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS ch) ch
      GROUP BY 1, 2, 3, 4
    )
    SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           ROUND(MAX(CASE WHEN ch = 0 THEN m END), 4) AS mean_r,
           ROUND(MAX(CASE WHEN ch = 1 THEN m END), 4) AS mean_g,
           ROUND(MAX(CASE WHEN ch = 2 THEN m END), 4) AS mean_b
    FROM px GROUP BY 1, 2, 3 ORDER BY media_id
    """,
)
def q194_bmp_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP decode (functions/multimodal.attach_bmp_media →
    decode_bmp): genuine 24-bit uncompressed BMP files — 14+40-byte
    headers, BOTTOM-UP rows, BGR channel order, 4-byte row padding —
    are synthesized per doc and the decode must UNDO all of that
    layout (struct-parse both headers, strip padding, flip rows,
    swizzle BGR→RGB) before computing per-channel means. The oracle
    recomputes the logical top-down RGB pixel function closed-form, so
    a decode that forgot the flip or the swizzle hash-mismatches.
    Third real container after PPM (q159) and WAV (q43); same
    zero-shuffle Arrow-map shape."""
    from .functions.multimodal import attach_bmp_media, decode_bmp

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    stats = decode_bmp(attach_bmp_media(d, "doc_id"))
    return stats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    ).orderBy("media_id")


@query(
    "q195_embedding_whitening",
    oracle="""
    WITH ex AS (
      SELECT vec_id AS id, i - 1 AS dim,
             ROUND(CAST(embedding[i] AS DOUBLE), 6) AS xr
      FROM embeddings,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i) s
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    st AS (
      SELECT dim,
             CAST(SUM(CAST(xr AS DECIMAL(18,6))) AS DOUBLE) / nn.n AS mu,
             CAST(SUM(CAST(ROUND(xr * xr, 9) AS DECIMAL(30,9))) AS DOUBLE) / nn.n
               AS ex2
      FROM ex, nn GROUP BY dim, nn.n
    ),
    sg AS (SELECT dim, mu, SQRT(ex2 - mu * mu) AS sigma FROM st),
    wh AS (
      SELECT ex.dim, ROUND((xr - mu) / sigma, 6) AS z
      FROM ex JOIN sg USING (dim)
    )
    SELECT CAST(wh.dim AS INT) AS dim,
           ROUND(sg.mu, 6) AS mu, ROUND(sg.sigma, 6) AS sigma,
           CAST(SUM(CAST(z AS DECIMAL(18,6))) AS DOUBLE) AS z_checksum
    FROM wh JOIN sg USING (dim)
    GROUP BY wh.dim, sg.mu, sg.sigma ORDER BY dim
    """,
)
def q195_embedding_whitening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-DIMENSION EMBEDDING WHITENING (z-score over the vector
    cloud): the vector analog of q47's scalar transformScaleStandard —
    the preprocessing pass before cosine/PCA when dimensions carry
    different scales. One exploded pass computes per-dim mean and
    E[x²] together (sigma from the moments — no second scan), a second
    pass standardizes; both reductions are DECIMAL sums of pre-rounded
    values (q185 discipline), and the output checksums every whitened
    value per dimension exactly — the oracle replays z-scores to the
    last digit, not just the moments."""
    e = t(spark, sf_dir, "embeddings")
    n_rows = e.count()
    ex = e.select(
        F.col("vec_id").alias("id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"),
    ).select("id", "dim", F.round(F.col("x"), 6).alias("xr"))
    st = ex.groupBy("dim").agg(
        (F.sum(F.col("xr").cast("decimal(18,6)")).cast("double") / n_rows).alias(
            "mu"
        ),
        (
            F.sum(F.round(F.col("xr") * F.col("xr"), 9).cast("decimal(30,9)"))
            .cast("double")
            / n_rows
        ).alias("ex2"),
    )
    sg = st.select(
        "dim", "mu", F.sqrt(F.col("ex2") - F.col("mu") * F.col("mu")).alias("sigma")
    )
    wh = ex.join(F.broadcast(sg), "dim").select(
        "dim",
        "mu",
        "sigma",
        F.round((F.col("xr") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
    )
    return (
        wh.groupBy(F.col("dim").cast("int").alias("dim"), "mu", "sigma")
        .agg(F.sum(F.col("z").cast("decimal(18,6)")).cast("double").alias("z_checksum"))
        .select(
            "dim",
            F.round("mu", 6).alias("mu"),
            F.round("sigma", 6).alias("sigma"),
            "z_checksum",
        )
        .orderBy("dim")
    )


@query(
    "q196_corpus_interleave",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                             AS BIGINT), doc_id
             ) AS rn
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, rn,
             ROUND((rn - 0.5) / (CASE source
               WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 2.0 ELSE 1.0 END), 6)
               AS mix_key
      FROM ranked
    )
    SELECT doc_id, source, mix_key FROM keyed
    ORDER BY mix_key, source, doc_id LIMIT 60
    """,
)
def q196_corpus_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC CORPUS INTERLEAVING (stride scheduling): emit the
    training-order stream that mixes sources at fixed ratios (src0:3,
    src1:2, rest:1) WITHOUT RNG — each source's docs are md5-shuffled
    (q192's permutation) and the k-th doc of a weight-w source gets
    mix key (k−½)/w, so sorting by the key interleaves sources in
    exact long-run proportion (the stride scheduler / SSR argument).
    Reproducible anywhere: the data loader's epoch order becomes a
    QUERY, not a runtime shuffle — rerun next quarter or in another
    engine and the batches arrive identically. Per-source rank is one
    window; the global order materializes lazily (here: first 60)."""
    from pyspark.sql.window import Window

    from .functions.dedup import md5_long

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    weight = (
        F.when(F.col("source") == "src0", 3.0)
        .when(F.col("source") == "src1", 2.0)
        .otherwise(1.0)
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("mix_key", F.round((F.col("rn") - 0.5) / weight, 6))
        .select("doc_id", "source", "mix_key")
        .orderBy("mix_key", "source", "doc_id")
        .limit(60)
    )


@query(
    "q197_length_bucketing",
    oracle="""
    WITH lens AS (
      SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n_toks FROM documents
    ),
    bucketed AS (
      SELECT doc_id, n_toks,
             CASE WHEN n_toks <= 32 THEN 32 WHEN n_toks <= 64 THEN 64
                  WHEN n_toks <= 128 THEN 128 WHEN n_toks <= 256 THEN 256
                  ELSE 512 END AS bucket
      FROM lens
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
           CAST(SUM(bucket - n_toks) AS BIGINT) AS padding_tokens,
           ROUND(SUM(bucket - n_toks) / CAST(SUM(bucket) AS DOUBLE), 4)
             AS padding_frac
    FROM bucketed GROUP BY bucket ORDER BY bucket
    """,
)
def q197_length_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE-LENGTH BUCKETING for batched training: assign each doc
    to a power-of-two length bucket and report per-bucket padding waste
    — the measurement that decides between bucketed batching and q167's
    sequence packing (packing wins when padding_frac is high). Length
    is size(split(...)) — map-only, no explode; one small groupBy.
    Deterministic, fully SQL-replayable."""
    d = t(spark, sf_dir, "documents")
    n_toks = F.size(F.split(F.col("text"), " "))
    bucket = (
        F.when(n_toks <= 32, 32)
        .when(n_toks <= 64, 64)
        .when(n_toks <= 128, 128)
        .when(n_toks <= 256, 256)
        .otherwise(512)
    )
    b = d.select(n_toks.alias("n_toks"), bucket.alias("bucket"))
    return (
        b.groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("real_tokens"),
            F.sum(F.col("bucket") - F.col("n_toks")).cast("long").alias(
                "padding_tokens"
            ),
            F.round(
                F.sum(F.col("bucket") - F.col("n_toks"))
                / F.sum("bucket").cast("double"),
                4,
            ).alias("padding_frac"),
        )
        .orderBy("bucket")
    )


@query(
    "q198_distribution_drift_psi",
    oracle="""
    WITH binned AS (
      SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END
               AS win,
             LEAST(CAST(FLOOR(value / 50.0) AS BIGINT), 9) AS bin
      FROM events
    ),
    counts AS (
      SELECT bin,
             SUM(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM binned GROUP BY bin
    ),
    tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts),
    terms AS (
      SELECT bin, CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
             ROUND(((n_cur + 0.5) / (t_cur + 5.0) - (n_ref + 0.5) / (t_ref + 5.0))
                   * LN(((n_cur + 0.5) / (t_cur + 5.0))
                        / ((n_ref + 0.5) / (t_ref + 5.0))), 6) AS psi_term
      FROM counts, tot
    )
    SELECT bin, n_ref, n_cur, psi_term,
           (SELECT ROUND(CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) AS DOUBLE), 6)
            FROM terms) AS psi_total
    FROM terms ORDER BY bin
    """,
)
def q198_distribution_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION DRIFT by Population Stability Index: bin the metric
    into 10 fixed-width buckets, compare the reference window (Jan
    1-15) against the current window (Jan 16-30), per-bin PSI term
    (p−q)·ln(p/q) with add-half smoothing so empty bins can't divide
    by zero — the production drift monitor that decides when a feature
    or quality distribution has shifted enough to re-examine the
    pipeline (PSI > 0.2 is the conventional alarm). One scan, one
    10-row groupBy; the window split is a pushed predicate-derived
    CASE. Per-bin terms round to 6 and total in DECIMAL (the q162
    discipline), so libm ln noise can't flip the cross-engine hash."""
    ev = t(spark, sf_dir, "events")
    win = F.when(F.col("ts") < "2024-01-16", "ref").otherwise("cur")
    bin_ = F.least(F.floor(F.col("value") / 50.0).cast("long"), F.lit(9))
    counts = (
        ev.select(win.alias("win"), bin_.alias("bin"))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("win") == "ref", 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("win") == "cur", 1).otherwise(0)).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p = (F.col("n_cur") + 0.5) / (F.col("t_cur") + 5.0)
    q = (F.col("n_ref") + 0.5) / (F.col("t_ref") + 5.0)
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )
    total = terms.agg(
        F.round(
            F.sum(F.col("psi_term").cast("decimal(18,6)")).cast("double"), 6
        ).alias("psi_total")
    )
    return (
        terms.crossJoin(F.broadcast(total))
        .select("bin", "n_ref", "n_cur", "psi_term", "psi_total")
        .orderBy("bin")
    )


@query(
    "q199_source_concentration",
    oracle="""
    WITH sz AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n, source) AS i FROM sz
    ),
    agg AS (
      SELECT COUNT(*) AS k, SUM(n) AS total, SUM(i * n) AS s_in
      FROM ranked
    )
    SELECT CAST(k AS BIGINT) AS n_sources,
           CAST(total AS BIGINT) AS total_docs,
           ROUND(CAST(2 * s_in - (k + 1) * total AS DOUBLE) / (k * total), 6)
             AS gini,
           (SELECT ROUND(MAX(n) / CAST(SUM(n) AS DOUBLE), 6) FROM sz)
             AS top_share
    FROM agg
    """,
)
def q199_source_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-MIX CONCENTRATION: Gini coefficient of the per-source
    document counts (0 = perfectly balanced mix, →1 = one source
    dominates) plus the top source's share — the imbalance metric that
    feeds the mixing operators (q136 budget caps / q154 weighted /
    q196 interleave exist to FIX what this measures). Exact integer
    arithmetic end-to-end: the rank-form Gini Σ(2i−k−1)·nᵢ / (k·Σn)
    over (count, source)-sorted sizes divides two exact integers once
    at the end. One groupBy to source sizes (tiny), a k-row window."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    sz = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ranked = sz.withColumn(
        "i", F.row_number().over(Window.orderBy("n", "source"))
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("total"),
        F.sum(F.col("i") * F.col("n")).alias("s_in"),
    )
    top = sz.agg(
        F.round(F.max("n") / F.sum("n").cast("double"), 6).alias("top_share")
    )
    return agg.crossJoin(F.broadcast(top)).select(
        F.col("k").cast("long").alias("n_sources"),
        F.col("total").cast("long").alias("total_docs"),
        F.round(
            (2 * F.col("s_in") - (F.col("k") + 1) * F.col("total")).cast("double")
            / (F.col("k") * F.col("total")),
            6,
        ).alias("gini"),
        "top_share",
    )


@query(
    "q219_jpeg_decode_stats",
    oracle="""
    WITH params AS (
      SELECT doc_id, 2 + doc_id % 3 AS tx, 2 + doc_id % 2 AS ty
      FROM documents WHERE doc_id < 500
    ),
    tiles AS (
      SELECT doc_id, tx, ty, ii.i AS i, jj.j AS j
      FROM params,
           LATERAL (SELECT UNNEST(range(0, tx)) AS i) ii,
           LATERAL (SELECT UNNEST(range(0, ty)) AS j) jj
    ),
    ycc AS (
      SELECT doc_id, tx, ty,
             CAST(16 + (doc_id + 5 * i + 11 * j) % 224 AS DOUBLE) AS y,
             CAST(16 + (3 * doc_id + 7 * i + 13 * j) % 224 AS DOUBLE) AS cb,
             CAST(16 + (7 * doc_id + 11 * i + 3 * j) % 224 AS DOUBLE) AS cr
      FROM tiles
    ),
    rgb AS (
      SELECT doc_id, tx, ty,
             LEAST(GREATEST(FLOOR(y + 1.402 * (cr - 128) + 0.5), 0), 255) AS r,
             LEAST(GREATEST(FLOOR(y - 0.344136 * (cb - 128)
                                    - 0.714136 * (cr - 128) + 0.5), 0), 255) AS g,
             LEAST(GREATEST(FLOOR(y + 1.772 * (cb - 128) + 0.5), 0), 255) AS b
      FROM ycc
    )
    SELECT doc_id AS media_id,
           CAST(8 * tx AS INT) AS width, CAST(8 * ty AS INT) AS height,
           ROUND(AVG(r), 4) AS mean_r,
           ROUND(AVG(g), 4) AS mean_g,
           ROUND(AVG(b), 4) AS mean_b
    FROM rgb GROUP BY doc_id, tx, ty ORDER BY doc_id
    """,
)
def q219_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LOSSY-codec decode, stdlib+numpy only (functions/multimodal
    attach_jpeg_media → decode_jpeg): spec-conformant baseline JPEGs
    (JFIF headers, Annex K Huffman tables, zigzag DQT, 0xFF byte
    stuffing) are synthesized per doc as grids of constant-color 8×8
    tiles with closed-form planted YCbCr values; the decode runs the
    full entropy pipeline — Huffman decode with DC prediction and
    ZRL/EOB, dequantize, de-zigzag, IDCT, YCbCr→RGB — and DuckDB
    predicts the channel means ANALYTICALLY from the planting formula
    (constant tiles live on the codec's lossless sublattice: DC-only
    blocks with quant step 1 round-trip bit-exactly), so the oracle is
    fully independent of the codec pair. The spec constants themselves
    (zigzag order, Annex K tables, IDCT basis, EXTEND coding) are
    pinned by independent literals in tests/test_llm_ops.py; lossy-path
    correctness (nonzero ACs, dequantization, byte stuffing) is covered
    by the random-image round-trip bound there. MP4 is now the ONLY
    remaining media stub (genuinely needs external codecs). Same 100 TB
    shape as q200: zero-shuffle Arrow map, bytes never leave the
    executor."""
    from .functions.multimodal import attach_jpeg_media, decode_jpeg

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = attach_jpeg_media(d, "doc_id")
    stats = decode_jpeg(media)
    return stats.select(
        "media_id",
        "width",
        "height",
        F.round("mean_r", 4).alias("mean_r"),
        F.round("mean_g", 4).alias("mean_g"),
        F.round("mean_b", 4).alias("mean_b"),
    ).orderBy("media_id")


@query(
    "q220_repeated_passage_detection",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents
    ),
    wins AS (
      SELECT doc_id, source,
             CAST(('0x' || SUBSTRING(md5(array_to_string(ts[i:i+7], ' ')), 1, 15))
                  AS BIGINT) AS h
      FROM toks,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 7)) AS i) s
      WHERE LEN(ts) >= 8
    ),
    dup AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1)
    SELECT w.source, COUNT(*) AS n_windows,
           CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           ROUND(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
    FROM wins w LEFT JOIN dup d ON w.h = d.h
    GROUP BY w.source ORDER BY w.source
    """,
)
def q220_repeated_passage_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PASSAGE-level duplication (Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better", the exact-substring variant at
    window granularity): every 8-token window (stride 1) is hashed, a
    window is DUPLICATED if its hash appears in more than one document,
    and each source is scored by its duplicated-window rate — the signal
    that catches boilerplate/templates that doc-level dedup (q30/q31)
    misses because the containing documents differ. Shuffle carries
    (md5_long, doc_id) pairs — never window text — and the dup set is
    the standard inverted-index GROUP BY; at 100 TB this is the same
    banding-shaped shuffle as MinHash, O(tokens) rows. DuckDB replays
    windows, hashes and the rollup exactly."""
    from .functions.text import passage_duplication

    d = t(spark, sf_dir, "documents")
    return passage_duplication(d, "text", "doc_id", "source", n_tokens=8)


@query(
    "q221_intra_doc_repetition",
    oracle="""
    WITH toks AS (SELECT doc_id, lang, STRING_SPLIT(LOWER(text), ' ') AS ts
                  FROM documents),
    grams AS (
      SELECT doc_id, lang,
             array_to_string(ts[i:i+2], ' ') AS g
      FROM toks,
           LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
    ),
    per_doc AS (
      SELECT doc_id, lang,
             COUNT(*) AS n3, COUNT(DISTINCT g) AS nd,
             1.0 - COUNT(DISTINCT g) / CAST(COUNT(*) AS DOUBLE) AS rep
      FROM grams GROUP BY doc_id, lang
    )
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(SUM(CAST(ROUND(rep * 1e6) AS BIGINT)) / COUNT(*) / 1e6, 6)
             AS avg_repetition,
           ROUND(MAX(rep), 6) AS max_repetition
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def q221_intra_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition ratio — the degenerate-text quality
    signal (loops, boilerplate, keyword stuffing): per doc,
    1 − distinct/total over 3-gram windows; rolled up per language as
    exact-integer-summed average (q162 round-then-int-sum discipline so
    the mean is shuffle-order independent) plus the per-lang maximum.
    One explode + one two-key groupBy per doc — O(tokens) rows, no
    joins; complements q34's length/punct features and q220's
    CROSS-doc passage duplication."""
    from .functions.text import repetition_ratio

    d = t(spark, sf_dir, "documents")
    per_doc = repetition_ratio(d, "text", "doc_id", n=3).join(
        d.select(F.col("doc_id").alias("id"), "lang"), "id"
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.round(F.col("rep") * 1e6).cast("long")) / F.count(F.lit(1)) / 1e6,
                6,
            ).alias("avg_repetition"),
            F.round(F.max("rep"), 6).alias("max_repetition"),
        )
        .orderBy("lang")
    )


@query(
    "q222_orc_roundtrip",
    oracle="""
    SELECT p_brand, COUNT(*) AS n,
           ROUND(SUM(p_retailprice), 2) AS total_price,
           CAST(0 AS BIGINT) AS n_mismatch
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
)
def q222_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip at COLUMN-EXACT strictness: q91 already pins an
    ORC write/read rollup (counts + averages survive); this entry joins
    the read-back to the parquet original on the key and counts rows
    where ANY column disagrees null-safely (the q120 comparison
    discipline, applied to ORC), so a round-trip defect — type
    narrowing, decimal drift, null swallowing — flips the hash even
    when every aggregate survives. Different table (part) and
    compression (zlib) than q91's orders/default."""
    import os
    import tempfile
    from functools import reduce

    base = _session_tmp("q222")
    p = t(spark, sf_dir, "part")
    orc_path = f"{base}/orc"
    p.write.mode("overwrite").option("compression", "zlib").orc(orc_path)
    back = spark.read.schema(p.schema).orc(orc_path)
    cols = [x for x in p.columns if x != "p_partkey"]
    differs = reduce(
        lambda a, b: a | b,
        [~F.col(f"__o.{x}").eqNullSafe(F.col(f"__p.{x}")) for x in cols],
    )
    mism = (
        back.alias("__o")
        .join(p.alias("__p"), "p_partkey", "full")
        .groupBy(F.col("__o.p_brand").alias("p_brand"))
        .agg(F.sum(F.when(differs, 1).otherwise(0)).cast("long").alias("n_mismatch"))
    )
    return (
        back.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("p_retailprice"), 2).alias("total_price"),
        )
        .join(mism, "p_brand")
        .orderBy("p_brand")
    )


@query(
    "q223_kl_novelty_outliers",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents
    ),
    dlen AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    corpus AS (SELECT w, COUNT(*) AS cw FROM toks GROUP BY w),
    tot AS (SELECT COUNT(*) AS nn FROM toks),
    dw AS (SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY doc_id, w),
    terms AS (
      SELECT d.doc_id,
             l.n,
             CAST(ROUND(
               (d.c / CAST(l.n AS DOUBLE))
               * LN((d.c / CAST(l.n AS DOUBLE))
                    / (c.cw / CAST((SELECT nn FROM tot) AS DOUBLE)))
               * 1e9) AS BIGINT) AS t9
      FROM dw d JOIN dlen l USING (doc_id) JOIN corpus c USING (w)
    ),
    kl AS (SELECT doc_id, MAX(n) AS n_tokens, SUM(t9) AS kl9
           FROM terms GROUP BY doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(kl9 / 1e9, 4) AS kl_novelty
    FROM kl
    ORDER BY ROUND(kl9 / 1e9, 6) DESC, doc_id LIMIT 20
    """,
)
def q223_kl_novelty_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 OUT-OF-DISTRIBUTION documents by unigram KL divergence vs
    the corpus distribution (functions/text.kl_novelty) — the curation
    triage signal: the novelty tail is where both rare-treasure and
    garbage live, so it is the first human-review queue a data pipeline
    emits. Scores are exact scaled-integer sums (per-term round-1e9 →
    int64), so DuckDB reproduces every score and the top-20 frontier
    bit-for-bit; ranking uses the round-6 value with an id tiebreak
    (the q154 frontier discipline). TakeOrderedAndProject top-k — no
    global sort."""
    from .functions.text import kl_novelty

    d = t(spark, sf_dir, "documents")
    kl = kl_novelty(d, "text", "doc_id")
    return (
        kl.select(
            F.col("id").alias("doc_id"),
            "n_tokens",
            F.round(F.col("kl9") / 1e9, 4).alias("kl_novelty"),
            F.round(F.col("kl9") / 1e9, 6).alias("__rank"),
        )
        .orderBy(F.desc("__rank"), "doc_id")
        .limit(20)
        .drop("__rank")
    )


def _q224_oracle(k: int = 8, tau: float = 0.38) -> str:
    # Deterministic-Lloyd cells (the q39/q155/q146 recurrence) +
    # within-cell cosine edges at round-6 >= tau + recursive-CTE CC +
    # per-cell dedup rollup.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH RECURSIVE emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {k})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    edges AS (
      SELECT ca.id AS id_a, cb.id AS id_b
      FROM cells ca
      JOIN cells cb ON ca.cluster = cb.cluster AND ca.id < cb.id
      JOIN emb ea ON ea.id = ca.id
      JOIN emb eb ON eb.id = cb.id
      WHERE ROUND(list_cosine_similarity(ea.v, eb.v), 6) >= {tau}
    ),
    bidir AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM edges
    ),
    reach AS (
      SELECT id, id AS root FROM cells
      UNION
      SELECT b.dst AS id, r.root FROM reach r JOIN bidir b ON b.src = r.id
    ),
    cc AS (SELECT id, MIN(root) AS label FROM reach GROUP BY id),
    per_edge AS (
      SELECT ca.cluster AS cell, COUNT(*) AS n_dup_pairs
      FROM edges e JOIN cells ca ON ca.id = e.id_a GROUP BY ca.cluster
    )
    SELECT c.cluster AS cell,
           COUNT(*) AS n_docs,
           COALESCE(MAX(p.n_dup_pairs), 0) AS n_dup_pairs,
           CAST(SUM(CASE WHEN cc.label != c.id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           CAST(SUM(CASE WHEN cc.label = c.id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
    FROM cells c
    JOIN cc ON cc.id = c.id
    LEFT JOIN per_edge p ON p.cell = c.cluster
    GROUP BY c.cluster ORDER BY c.cluster
    """


@query("q224_semantic_dedup", oracle=_q224_oracle())
def q224_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC deduplication (SemDeDup, Abbas et al. 2023): k-means
    cells over the embedding space are the BLOCKING — only within-cell
    pairs are scored — then cosine ≥ τ edges form duplicate groups via
    connected components and each group keeps its min-id canonical.
    Per-cell report: docs, duplicate pairs, removed, kept. The whole
    chain — deterministic rounded-Lloyd quantizer, cell assignment,
    round-6 cosine edges, transitive clustering — is replayed by DuckDB
    (Lloyd CTEs + recursive closure), so the semantic-dedup decision
    set is hash-verified end to end.

    Scale shape: the pair space is Σ|cell|², so k is the knob — real
    deployments size k ≈ n/1000 to keep cells bounded (the clustering
    is to SemDeDup what banding is to MinHash); cells here are 8 for
    oracle tractability. CC runs one observe-fused job per round; the
    kmeans input is checkpointed once."""
    from .functions.dedup import connected_components
    from .functions.similarity import cosine
    from .ml.kmeans import kmeans_lloyd

    e = t(spark, sf_dir, "embeddings")
    assign, _cents = kmeans_lloyd(e, k=8, iters=2, return_centroids=True)
    cells = assign.select("id", "cluster")
    emb = e.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.cluster").alias("cell"),
        )
        .join(emb.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(emb.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    )
    edges = pairs.filter(
        F.round(cosine(F.col("va"), F.col("vb")), 6) >= 0.38
    ).select("id_a", "id_b", "cell")
    # connected_components returns (id, cluster=CC label); rename to
    # avoid colliding with the k-means cell column also named "cluster"
    labels = connected_components(
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        cells.select("id"),
    ).select("id", F.col("cluster").alias("label"))
    per_edge = edges.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_pairs")
    )
    rollup = (
        cells.join(labels, "id")
        .groupBy(F.col("cluster").alias("cell"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("id") != F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_removed"),
            F.sum(F.when(F.col("id") == F.col("label"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )
    return (
        rollup.join(per_edge, "cell", "left")
        .select(
            "cell",
            "n_docs",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            "n_removed",
            "n_kept",
        )
        .orderBy("cell")
    )


@query("q225_stream_lsh_dedup", oracle=_minhash_cand_oracle(16, 4))
def q225_stream_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MinHash+LSH near-dup detection — the incremental form
    of q31/q144: documents arrive as a stream, each computes its banded
    md5-family signature MAP-SIDE as pure column expressions (one md5
    per shingle + 16 affine rehashes + 4 band keys — no streaming
    aggregation needed), and a stateful operator
    (streaming/stateful.lsh_bucket_pairs_stateful) files each doc into
    its (band, bucket) state, emitting a candidate pair the moment a
    new document collides with a stored one. The union of emissions is
    arrival-order independent — a pair fires exactly when its later
    member arrives — so the streamed candidate set equals the BATCH LSH
    candidate set, and the oracle is literally the batch q144 SQL
    (16 hashes / 4 bands). This is the production shape for continuous
    corpus ingestion: dedup decisions at arrival time against
    everything ever ingested, state = one id list per occupied bucket,
    RocksDB-spillable, no reprocessing of the historical corpus."""
    from .functions.dedup import (
        MINHASH_MERSENNE_P,
        _minhash_a,
        _minhash_b,
        word_shingles,
    )
    from .streaming.core import documents_stream, run_available_now
    from .streaming.stateful import lsh_bucket_pairs_stateful

    p = MINHASH_MERSENNE_P
    d = documents_stream(spark, sf_dir)
    sh = word_shingles("text", 3)
    base = F.transform(
        sh,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long")
        % F.lit(p),
    )
    doc = d.select(
        F.col("doc_id").alias("id"), base.alias("bb")
    ).filter(F.size("bb") > 0)
    hcols = [
        F.array_min(
            F.transform(
                F.col("bb"),
                lambda b: (F.lit(_minhash_a(i)) * b + F.lit(_minhash_b(i)))
                % F.lit(p),
            )
        ).alias(f"h{i}")
        for i in range(16)
    ]
    sig = doc.select("id", *hcols)
    bands = [
        F.struct(
            F.lit(bi).alias("band"),
            F.concat_ws(
                ",", *[F.col(f"h{bi * 4 + j}").cast("string") for j in range(4)]
            ).alias("bucket"),
        )
        for bi in range(4)
    ]
    banded = sig.select(
        "id", F.explode(F.array(*bands)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    pairs = run_available_now(
        lsh_bucket_pairs_stateful(banded), output_mode="append"
    )
    return pairs.distinct().orderBy("id_a", "id_b")


@query(
    "q226_schema_evolution_read",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_channel
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 3 = 0 THEN 'web' ELSE 'store' END AS o_channel
      FROM orders WHERE o_orderkey % 2 = 1
    ),
    merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
    SELECT COALESCE(o_channel, 'pre-migration') AS channel,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM merged GROUP BY 1 ORDER BY 1
    """,
)
def q226_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION under mergeSchema: batch 1 lands without the
    ``o_channel`` column, batch 2 lands WITH it (the add-a-column
    migration every long-lived dataset goes through); a single
    ``mergeSchema`` read unifies both vintages — old rows surface the
    new column as NULL — and the rollup coalesces them into a
    'pre-migration' bucket. The oracle replays the union semantics, so
    a mergeSchema defect (column dropped, wrong null-fill, type clash)
    flips the hash. At 100 TB this is the contract that lets a
    petabyte of historical files coexist with an evolved writer —
    no rewrite of old data."""
    import os
    import shutil
    import tempfile

    base = _session_tmp("q226")
    shutil.rmtree(base, ignore_errors=True)
    o = t(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{base}/data")
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 3 == 0, "web")
        .otherwise("store")
        .alias("o_channel"),
    ).write.mode("append").parquet(f"{base}/data")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{base}/data")
    return (
        merged.groupBy(
            F.coalesce("o_channel", F.lit("pre-migration")).alias("channel")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("channel")
    )


@query(
    "q227_small_file_compaction",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_checksum,
           ROUND(SUM(l_extendedprice), 2) AS price_checksum,
           TRUE AS compacted
    FROM lineitem
    """,
)
def q227_small_file_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION — the table-maintenance pass every
    streaming/incremental sink needs: a deliberately fragmented copy of
    lineitem (64 files) is rewritten into size-targeted files
    (repartition to ceil(bytes / 64 MiB targets — here the row-count
    proxy), and the query hash-pins that compaction changed NOTHING
    about the data: row count, exact key checksum, rounded price
    checksum, plus a measured flag that the file count actually
    dropped. At 100 TB the small-file problem is a scan-throughput
    killer (footer parsing + task scheduling per tiny file); this is
    the declarative rewrite that fixes it with full fidelity evidence."""
    import math
    import os
    import shutil
    import tempfile

    base = _session_tmp("q227")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem")
    frag, comp = f"{base}/fragmented", f"{base}/compacted"
    li.repartition(64).write.mode("overwrite").parquet(frag)
    fragmented = spark.read.parquet(frag)
    n_frag_files = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    # size-targeted file count: rows per file capped so each output file
    # approximates a fixed target (row-count proxy for 64 MiB at this
    # schema; production uses bytes from the file listing)
    rows = fragmented.count()
    target_files = max(1, math.ceil(rows / 500_000))
    fragmented.repartition(target_files).write.mode("overwrite").parquet(comp)
    compacted = spark.read.parquet(comp)
    n_comp_files = len([f for f in os.listdir(comp) if f.endswith(".parquet")])
    return compacted.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_orderkey").cast("long").alias("key_checksum"),
        F.round(F.sum("l_extendedprice"), 2).alias("price_checksum"),
        F.lit(n_comp_files < n_frag_files).alias("compacted"),
    )


@query(
    "q228_deterministic_sharding",
    oracle="""
    WITH s AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || SUBSTRING(md5('228:' || CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 8 AS shard
      FROM documents
    )
    SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           CAST(SUM(n_chars) AS BIGINT) AS char_mass
    FROM s GROUP BY shard ORDER BY shard
    """,
)
def q228_deterministic_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPRODUCIBLE dataloader sharding: shard(doc) = md5(seed:id) mod
    n_shards — a pure function of the data, so every training job,
    resumption, engine, and partition layout deals the IDENTICAL shards
    (the property that makes a training run's data order auditable and
    exactly resumable; contrast `rand()`-based splits, which reshuffle
    on recompute — the round-2 hazard that motivated the md5 family).
    The oracle hash-pins per-shard membership (id checksums + char
    mass), not just sizes. Map-only: a pushable projection, zero
    shuffle before the rollup."""
    from .functions.dedup import md5_long

    d = t(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "n_chars",
        (md5_long(F.col("doc_id").cast("string"), salt=228) % 8)
        .cast("int")
        .alias("shard"),
    )
    return (
        s.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_chars").cast("long").alias("char_mass"),
        )
        .orderBy("shard")
    )


@query(
    "q229_tokenizer_fertility",
    oracle="""
    WITH m AS (
      SELECT lang,
             LEN(STRING_SPLIT(LOWER(text), ' ')) AS words,
             LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS toks,
             LENGTH(text) AS chars
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           ROUND(SUM(toks) / CAST(SUM(words) AS DOUBLE), 4) AS fertility,
           ROUND(SUM(chars) / CAST(SUM(toks) AS DOUBLE), 4) AS chars_per_token
    FROM m GROUP BY lang ORDER BY lang
    """,
)
def q229_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY per language — tokens-per-word and
    chars-per-token, THE tokenizer-quality diagnostic for a multilingual
    corpus (high fertility on a language ⇒ the tokenizer fragments it ⇒
    that language pays more sequence length per content unit; the metric
    that drives vocab rebalancing decisions). Computed with the
    regex-token count whose ASCII pattern behaves identically in Java
    regex and RE2 (``bpe_ish_token_count``), so DuckDB replays every
    ratio. Ratios divide EXACT integer sums — one division per group,
    no order-dependent float accumulation."""
    from .functions.text import bpe_ish_token_count, token_count

    d = t(spark, sf_dir, "documents")
    m = d.select(
        "lang",
        token_count("text").cast("long").alias("words"),
        bpe_ish_token_count("text").cast("long").alias("toks"),
        F.length("text").cast("long").alias("chars"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.round(F.sum("toks") / F.sum("words").cast("double"), 4).alias("fertility"),
            F.round(F.sum("chars") / F.sum("toks").cast("double"), 4).alias(
                "chars_per_token"
            ),
        )
        .orderBy("lang")
    )


@query(
    "q230_mapinarrow_normalize",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
      SELECT vec_id,
             SQRT(list_sum(list_transform(v, x -> x * x))) AS nrm,
             v
      FROM e
    )
    SELECT vec_id,
           ROUND(nrm, 6) AS l2_norm,
           ROUND(list_sum(list_transform(v, x -> x / nrm)) /
                 SQRT(CAST(LEN(v) AS DOUBLE)), 6) AS mean_component_scaled
    FROM n WHERE vec_id < 50 ORDER BY vec_id
    """,
)
def q230_mapinarrow_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the LAST Python-execution API member not yet
    exercised (mapInPandas q55/q67, grouped-agg UDAF q179, UDTF q149,
    applyInPandasWithState q74/q206): RecordBatches arrive as raw Arrow
    (zero pandas conversion), the batch L2-normalizes every embedding in
    vectorized numpy, and ships Arrow back. The per-vector norm and the
    scaled mean component are hash-checked against DuckDB list
    arithmetic (identical IEEE op order: square-sum fold → sqrt →
    divide). This is the minimum-overhead Python escape hatch — use it
    when even pandas Series construction is measurable; built-ins still
    beat it wherever they can express the op."""
    import pyarrow as pa

    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )

    def normalize_batches(batches):
        import numpy as np

        for batch in batches:
            tbl = batch.to_pydict()
            ids = tbl["vec_id"]
            vecs = [np.asarray(v, dtype=np.float64) for v in tbl["v"]]
            norms = [float(np.sqrt((v * v).sum())) for v in vecs]
            # mean of normalized components, scaled by sqrt(d): the
            # summation runs left-to-right (np fold order = list fold
            # order at these sizes via Python float sum for exactness)
            scaled = []
            for v, nrm in zip(vecs, norms):
                acc = 0.0
                for x in v:
                    acc += x / nrm
                scaled.append(acc / np.sqrt(float(len(v))))
            yield pa.RecordBatch.from_pydict(
                {"vec_id": ids, "l2_norm": norms, "mean_component_scaled": scaled}
            )

    out = e.mapInArrow(
        normalize_batches,
        schema="vec_id long, l2_norm double, mean_component_scaled double",
    )
    return out.select(
        "vec_id",
        F.round("l2_norm", 6).alias("l2_norm"),
        F.round("mean_component_scaled", 6).alias("mean_component_scaled"),
    ).orderBy("vec_id")


@query(
    "q231_nested_json_extraction",
    oracle="""
    WITH j AS (
      SELECT doc_id,
             '{"meta":{"lang":"' || lang || '","source":"' || source ||
             '"},"stats":{"chars":' || CAST(n_chars AS VARCHAR) ||
             ',"flags":["f' || CAST(doc_id % 3 AS VARCHAR) ||
             '","f' || CAST(doc_id % 5 AS VARCHAR) || '"]}}' AS payload
      FROM documents
    ),
    parsed AS (
      SELECT doc_id,
             json_extract_string(payload, '$.meta.lang') AS lang,
             CAST(json_extract(payload, '$.stats.chars') AS BIGINT) AS chars,
             UNNEST(CAST(json_extract(payload, '$.stats.flags') AS VARCHAR[])) AS flag
      FROM j
    )
    SELECT lang, flag, COUNT(*) AS n,
           CAST(SUM(chars) AS BIGINT) AS char_mass
    FROM parsed GROUP BY lang, flag ORDER BY lang, flag
    """,
)
def q231_nested_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-STRUCTURED analytics: a nested-JSON payload column (object →
    object → array, the event-envelope shape every ingestion pipeline
    meets) is parsed with a declared schema via ``from_json``, the
    nested array exploded, and the rollup grouped on fields from two
    nesting levels. DuckDB replays the identical synthesized payloads
    through its json_extract path, so parser semantics (string vs
    numeric extraction, array unnesting) are hash-checked. Schema-on-read
    with an explicit struct schema keeps this a codegen'd columnar parse
    — no Python, no schema inference pass."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = t(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit('{"meta":{"lang":"'), F.col("lang"),
        F.lit('","source":"'), F.col("source"),
        F.lit('"},"stats":{"chars":'), F.col("n_chars").cast("string"),
        F.lit(',"flags":["f'), (F.col("doc_id") % 3).cast("string"),
        F.lit('","f'), (F.col("doc_id") % 5).cast("string"),
        F.lit('"]}}'),
    )
    schema = StructType([
        StructField("meta", StructType([
            StructField("lang", StringType()),
            StructField("source", StringType()),
        ])),
        StructField("stats", StructType([
            StructField("chars", LongType()),
            StructField("flags", ArrayType(StringType())),
        ])),
    ])
    parsed = d.select(
        "doc_id", F.from_json(payload, schema).alias("p")
    ).select(
        F.col("p.meta.lang").alias("lang"),
        F.col("p.stats.chars").alias("chars"),
        F.explode("p.stats.flags").alias("flag"),
    )
    return (
        parsed.groupBy("lang", "flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("chars").cast("long").alias("char_mass"),
        )
        .orderBy("lang", "flag")
    )


@query(
    "q232_merge_upsert",
    oracle="""
    WITH changes AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 97 = 0 THEN 'D' ELSE 'U' END AS op,
             c_name, c_nationkey,
             c_acctbal + 100.0 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 13 = 0 OR c_custkey % 97 = 0
      UNION ALL
      SELECT (SELECT MAX(c_custkey) FROM customer) + seq AS c_custkey,
             'U' AS op, 'new customer', 0, 500.0, 'MACHINERY'
      FROM (SELECT UNNEST(GENERATE_SERIES(1, 25)) AS seq)
    ),
    keys AS (SELECT DISTINCT c_custkey FROM changes),
    merged AS (
      SELECT b.* FROM customer b ANTI JOIN keys k USING (c_custkey)
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      FROM changes WHERE op = 'U'
    )
    SELECT c_mktsegment, COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS total_bal,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
    FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q232_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics as a batch transform
    (``operators/scd.merge_upsert`` — SCD type 1 + delete, the other
    half of the mutability story next to q121's SCD-2 history): a
    synthesized change batch updates every 13th customer (+100
    balance), deletes every 97th, and inserts 25 new rows; the merged
    table is one anti-join + union (change keys broadcast; the base is
    never reshuffled). The oracle replays the identical MERGE identity,
    hash-pinning per-segment counts, balance sums and key checksums —
    so matched-update, unmatched-insert, delete and pass-through
    semantics are all value-verified."""
    from .operators.scd import merge_upsert

    c = t(spark, sf_dir, "customer")
    max_key = c.agg(F.max("c_custkey")).first()[0]
    updates = (
        c.filter((F.col("c_custkey") % 13 == 0) | (F.col("c_custkey") % 97 == 0))
        .withColumn(
            "op",
            F.when(F.col("c_custkey") % 97 == 0, F.lit("D")).otherwise(F.lit("U")),
        )
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
    )
    inserts = spark.range(1, 26).select(
        (F.lit(max_key) + F.col("id")).cast(dict(c.dtypes)["c_custkey"]).alias("c_custkey"),
        F.lit("U").alias("op"),
        F.lit("new customer").alias("c_name"),
        F.lit(0).cast(dict(c.dtypes)["c_nationkey"]).alias("c_nationkey"),
        F.lit(500.0).cast(dict(c.dtypes)["c_acctbal"]).alias("c_acctbal"),
        F.lit("MACHINERY").alias("c_mktsegment"),
    )
    changes = updates.select(*inserts.columns).unionByName(inserts)
    merged = merge_upsert(c, changes, ["c_custkey"])
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
            F.sum("c_custkey").cast("long").alias("key_checksum"),
        )
        .orderBy("c_mktsegment")
    )


@query("q233_ivf_index_persistence", oracle=_q39_oracle())
def q233_ivf_index_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN INDEX LIFECYCLE: build the deterministic-Lloyd IVF index
    (q39's exact configuration), PERSIST it — cell assignments as
    parquet partitioned BY list_id (so a probe prunes straight to its
    cells' files), centroids as a parquet sidecar — then reload both in
    fresh reads and serve ivf_topk from the reloaded index. The oracle
    is literally q39's SQL: a persistence defect (dropped rows, type
    drift, partition mangling, centroid reordering) breaks the
    hash-equality with the freshly-built index's results. This is the
    production shape — build once, query many: the partition-pruned scan
    reads only nprobe/n_lists of the index files per query batch."""
    import os
    import shutil
    import tempfile

    from .functions.similarity import ivf_build, ivf_topk

    base = _session_tmp("q233")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(e, n_lists=8, quantizer="lloyd")
    assigned.write.mode("overwrite").partitionBy("list_id").parquet(f"{base}/cells")
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)], "list_id int, centroid array<double>"
    ).write.mode("overwrite").parquet(f"{base}/centroids")

    reloaded_cells = spark.read.parquet(f"{base}/cells")
    reloaded_cents = [
        list(r["centroid"])
        for r in spark.read.parquet(f"{base}/centroids").orderBy("list_id").collect()
    ]
    q = e.filter(F.col("vec_id") < 20)
    return ivf_topk(q, reloaded_cells, reloaded_cents, k=3, nprobe=3).orderBy(
        "query_id", "neighbor_id"
    )


@query(
    "q234_training_manifest",
    oracle=f"""
    WITH RECURSIVE {{pipeline}},
    bsh AS (
      SELECT DISTINCT CAST(('0x' || SUBSTRING(md5(
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
               || ts[i+3] || ' ' || ts[i+4]), 1, 15)) AS BIGINT) AS gh
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 4)) AS i) s
      WHERE doc_id % 41 = 0 AND LEN(ts) >= 5
    ),
    csh AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || SUBSTRING(md5(
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' '
               || ts[i+3] || ' ' || ts[i+4]), 1, 15)) AS BIGINT) AS gh
      FROM tok, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 4)) AS i) s
      WHERE LEN(ts) >= 5
    ),
    contaminated AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh USING (gh)),
    final AS (
      SELECT d.doc_id, d.n_chars
      FROM documents d
      JOIN clusters c ON c.id = d.doc_id AND c.cluster = d.doc_id
      JOIN tok t ON t.doc_id = d.doc_id
      WHERE d.n_chars >= 100
        AND LEN(t.ts) >= 20
        AND d.doc_id % 41 != 0
        AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT CAST(CAST(('0x' || SUBSTRING(md5('234:' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) % 4 AS INT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS char_mass,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM final GROUP BY 1 ORDER BY 1
    """.replace("{pipeline}", _neardup_pipeline_cte()),
)
def q234_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CAPSTONE COMPOSITION — a full training-data curation run as
    ONE hash-verified query: quality gate (length + token floor) →
    near-duplicate removal (md5 MinHash 16/4 → Jaccard ≥ 0.6 verify →
    connected components → canonical keep, the q152 pipeline) →
    benchmark decontamination (drop the held-out eval docs AND any doc
    sharing a 5-gram with them) → deterministic md5 sharding → per-shard
    manifest (doc counts, char mass, id checksums). DuckDB replays every
    stage — banding, verification, transitive clustering (recursive
    CTE), contamination, shard assignment — so the EXACT membership of
    the final training set, not just its size, is cross-engine
    verified. This is the auditable-pipeline contract the deterministic
    families exist for: rerun it next quarter or in another engine and
    ship bit-identical shards."""
    from .functions.dedup import (
        connected_components,
        exploded_shingles,
        jaccard_verify_pairs,
        md5_long,
        minhash_lsh_candidates,
    )
    from .functions.text import tokens
    from .storage import (
        propagate_checkpoint_ids,
        release_checkpoint,
        tracked_local_checkpoint,
    )

    d = t(spark, sf_dir, "documents")
    # near-dup canonical over the full corpus (q152 composition);
    # tracked checkpoint so the pair blocks ride the result frame and
    # the internal band checkpoint is freed as soon as the pair list
    # is materialized
    raw_pairs = minhash_lsh_candidates(d, num_hashes=16, bands=4, hash_family="md5")
    pairs = tracked_local_checkpoint(raw_pairs)
    release_checkpoint(raw_pairs)
    # verify exact Jaccard for the LSH pairs ONLY (round 12,
    # dedup.jaccard_verify_pairs): array-intersect per pair instead of
    # re-deriving every pair the candidate docs form and semi-joining
    # back — work ∝ |pairs|, values identical
    verified = jaccard_verify_pairs(d, pairs, threshold=0.6, n=3)
    clusters = connected_components(
        verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        d.select(F.col("doc_id").alias("id")),
    )
    survivor_ids = clusters.filter(F.col("id") == F.col("cluster")).select(
        F.col("id").alias("doc_id")
    )
    # benchmark decontamination (5-gram overlap with the held-out
    # docs). Both sides hash the gram to a 60-bit md5 long IN the
    # explode projection (the q220 discipline): the bench-side
    # DISTINCT, the broadcast set, and every exchange past the explode
    # carry longs, never shingle strings — at 100 TB that is the
    # difference between shuffling ~40-byte grams and 8-byte keys.
    # Decontamination runs LAST, over the quality-gate + dedup
    # survivors only — the per-row most expensive stage (full-text
    # 5-gram explode + hash) touches the SMALLEST set; semantics are
    # identical because the anti-join can only remove rows already in
    # the final set.
    bench_g = (
        exploded_shingles(d.filter(F.col("doc_id") % 41 == 0), "text", "doc_id", 5)
        .select(md5_long(F.col("g")).alias("gh"))
        .distinct()
    )
    pre_final = d.join(survivor_ids, "doc_id", "left_semi").filter(
        (F.col("n_chars") >= 100)
        & (F.size(tokens("text")) >= 20)
        & (F.col("doc_id") % 41 != 0)
    )
    contaminated = (
        exploded_shingles(pre_final, "text", "doc_id", 5)
        .select("id", md5_long(F.col("g")).alias("gh"))
        .join(F.broadcast(bench_g), "gh", "left_semi")
        .select(F.col("id").alias("doc_id"))
        .distinct()
    )
    final = pre_final.join(contaminated, "doc_id", "left_anti")
    return propagate_checkpoint_ids(
        final.select(
            (md5_long(F.col("doc_id").cast("string"), salt=234) % 4)
            .cast("int")
            .alias("shard"),
            "n_chars",
            "doc_id",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("char_mass"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("shard"),
        pairs,
    )


@query(
    "q235_embedding_drift",
    oracle="""
    WITH comp AS (
      SELECT source, u.i AS dim,
             CAST(ROUND(u.x * 1e9) AS BIGINT) AS x9
      FROM (SELECT e.vec_id, d.source, CAST(e.embedding AS DOUBLE[]) AS v
            FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id) t,
           LATERAL (SELECT UNNEST(v) AS x, generate_subscripts(v, 1) AS i) u
    ),
    per_source AS (
      SELECT source, dim, SUM(x9) AS s9, COUNT(*) AS n
      FROM comp GROUP BY source, dim
    ),
    corpus AS (
      SELECT dim, SUM(s9) AS cs9, SUM(n) AS cn FROM per_source GROUP BY dim
    ),
    dist AS (
      SELECT p.source, p.n,
             SUM(POW(p.s9 / CAST(p.n AS DOUBLE) / 1e9
                     - c.cs9 / CAST(c.cn AS DOUBLE) / 1e9, 2)) AS d2
      FROM per_source p JOIN corpus c USING (dim)
      GROUP BY p.source, p.n
    )
    SELECT source, CAST(n AS BIGINT) AS n_vecs,
           ROUND(SQRT(d2), 6) AS centroid_drift
    FROM dist ORDER BY source
    """,
)
def q235_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-SPACE drift per source — the semantic companion to
    q198's PSI: each source's centroid distance from the corpus
    centroid, the one number that flags a source whose CONTENT
    distribution moved even when its size and token stats look stable.
    Per-dimension means are exact scaled-integer sums (component
    round-1e9 → int64, the q162 discipline) so both engines derive
    bit-identical centroids; the final distance is a 64-term float sum
    over per-dim aggregates — O(sources × dims) rows, shuffle carries
    (source, dim, int64) triples, never vectors."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    e = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    comp = (
        e.join(d, "doc_id")
        .select("source", F.posexplode("v").alias("dim", "x"))
        .select(
            "source",
            (F.col("dim") + 1).alias("dim"),  # 1-based like generate_subscripts
            F.round(F.col("x") * 1e9).cast("long").alias("x9"),
        )
    )
    per_source = comp.groupBy("source", "dim").agg(
        F.sum("x9").alias("s9"), F.count(F.lit(1)).alias("n")
    )
    corpus = per_source.groupBy("dim").agg(
        F.sum("s9").alias("cs9"), F.sum("n").alias("cn")
    )
    dist = (
        per_source.join(corpus, "dim")
        .groupBy("source", "n")
        .agg(
            F.sum(
                F.pow(
                    F.col("s9") / F.col("n").cast("double") / 1e9
                    - F.col("cs9") / F.col("cn").cast("double") / 1e9,
                    2,
                )
            ).alias("d2")
        )
    )
    return dist.select(
        "source",
        F.col("n").cast("long").alias("n_vecs"),
        F.round(F.sqrt("d2"), 6).alias("centroid_drift"),
    ).orderBy("source")


@query(
    "q236_grouped_quantile_sketch",
    oracle="""
    WITH vals AS (
      SELECT source AS grp, CAST(n_chars AS DOUBLE) AS v FROM documents
      WHERE n_chars IS NOT NULL
    ),
    mm AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM vals),
    binned AS (
      SELECT grp,
             CASE WHEN m.hi = m.lo THEN 0
                  ELSE LEAST(CAST(FLOOR((v - m.lo) / ((m.hi - m.lo) / 256)) AS BIGINT),
                             255) END AS bin
      FROM vals CROSS JOIN mm m
    ),
    counts AS (SELECT grp, bin, COUNT(*) AS c FROM binned GROUP BY grp, bin),
    cum AS (
      SELECT grp, bin, c,
             SUM(c) OVER (PARTITION BY grp ORDER BY bin
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM counts
    ),
    totals AS (SELECT grp, SUM(c) AS n FROM counts GROUP BY grp),
    qs AS (SELECT UNNEST([0.25, 0.5, 0.75, 0.9]) AS q),
    tgt AS (
      SELECT t.grp, qs.q, qs.q * t.n AS target, m.lo, m.hi
      FROM totals t CROSS JOIN qs CROSS JOIN mm m
    ),
    pick AS (
      SELECT tg.grp, tg.q, tg.target, tg.lo, tg.hi, MIN(cu.bin) AS bin
      FROM tgt tg JOIN cum cu
        ON cu.grp = tg.grp AND CAST(cu.cum AS DOUBLE) >= tg.target
      GROUP BY tg.grp, tg.q, tg.target, tg.lo, tg.hi
    )
    SELECT p.grp AS source, p.q,
           ROUND(p.lo + p.bin * ((p.hi - p.lo) / 256)
                 + ((p.target - CAST(cu.cum - cu.c AS DOUBLE))
                    / CAST(cu.c AS DOUBLE)) * ((p.hi - p.lo) / 256), 4)
             AS est_quantile
    FROM pick p JOIN cum cu ON cu.grp = p.grp AND cu.bin = p.bin
    ORDER BY source, q
    """,
)
def q236_grouped_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP quantiles from ONE mergeable sketch family
    (operators/stats.histogram_quantile_sketch_grouped): all groups
    share GLOBAL bin boundaries, so per-source histograms merge
    cell-wise across groups AND across daily shards — the dashboard
    primitive (per-source length/latency percentiles) that a per-group
    GK sketch can't give you (different per-group summaries don't
    merge). DuckDB replays bins, per-group cumulative counts and the
    interpolation exactly. O(groups × bins) state; the cumulative
    window partitions by group over ≤256 rows."""
    from .operators.stats import histogram_quantile_sketch_grouped

    d = t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("n_chars")
    )
    out = histogram_quantile_sketch_grouped(
        d, "source", "n_chars", quantiles=[0.25, 0.5, 0.75, 0.9], bins=256
    )
    return out.select(
        "source", "q", F.round("est_quantile", 4).alias("est_quantile")
    ).orderBy("source", "q")


@query(
    "q237_js_divergence_sources",
    oracle="""
    WITH toks AS (
      SELECT source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w FROM documents
    ),
    sw AS (SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w),
    stot AS (SELECT source, SUM(c) AS n FROM sw GROUP BY source),
    cw AS (SELECT w, SUM(c) AS cc FROM sw GROUP BY w),
    ctot AS (SELECT SUM(c) AS nn FROM sw),
    terms AS (
      SELECT s.source,
             s.c / CAST(st.n AS DOUBLE) AS p,
             (c2.cc - s.c) / CAST((SELECT nn FROM ctot) - st.n AS DOUBLE) AS q
      FROM sw s
      JOIN stot st USING (source)
      JOIN cw c2 USING (w)
    ),
    -- words absent from the source but present in the rest: p = 0
    rest_only AS (
      SELECT st.source,
             0.0 AS p,
             (c2.cc - COALESCE(s.c, 0))
               / CAST((SELECT nn FROM ctot) - st.n AS DOUBLE) AS q
      FROM stot st
      CROSS JOIN cw c2
      LEFT JOIN sw s ON s.source = st.source AND s.w = c2.w
      WHERE s.w IS NULL
    ),
    allterms AS (SELECT * FROM terms UNION ALL SELECT * FROM rest_only),
    scored AS (
      SELECT source,
             CAST(ROUND((CASE WHEN p > 0 THEN 0.5 * p * LN(2 * p / (p + q)) ELSE 0 END
                       + CASE WHEN q > 0 THEN 0.5 * q * LN(2 * q / (p + q)) ELSE 0 END)
                        * 1e9) AS BIGINT) AS t9
      FROM allterms
    )
    SELECT source, ROUND(SUM(t9) / 1e9, 6) AS js_divergence
    FROM scored GROUP BY source ORDER BY source
    """,
)
def q237_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JENSEN-SHANNON divergence of every source's unigram distribution
    vs the REST of the corpus — the symmetric, bounded (≤ ln 2)
    distribution-shift score that completes the drift family: q198 PSI
    (windowed, binned numerics), q235 embedding-centroid distance
    (semantic), q223 per-doc KL (outlier docs) — this one ranks whole
    SOURCES by how unlike the rest of the mix they are (the signal that
    a crawler started ingesting a different kind of content). Per-term
    values are round-1e9 exact-int sums (shuffle-order independent,
    engine-replayable); the vocabulary join is O(sources × vocab) —
    vocab-bounded, never doc-bounded."""
    from .functions.text import tokens

    d = t(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(tokens("text")).alias("w"))
    sw = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    stot = sw.groupBy("source").agg(F.sum("c").alias("n"))
    cw = sw.groupBy("w").agg(F.sum("c").alias("cc"))
    ctot = sw.agg(F.sum("c").alias("nn"))
    # full (source × vocab) grid so rest-only words (p = 0) are present
    grid = stot.crossJoin(cw)
    joined = (
        grid.join(sw, ["source", "w"], "left")
        .crossJoin(F.broadcast(ctot))
        .select(
            "source",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("n").cast("double")).alias("p"),
            (
                (F.col("cc") - F.coalesce(F.col("c"), F.lit(0)))
                / (F.col("nn") - F.col("n")).cast("double")
            ).alias("q"),
        )
    )
    m2 = F.col("p") + F.col("q")
    term = F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(2 * F.col("p") / m2)).otherwise(
        F.lit(0.0)
    ) + F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(2 * F.col("q") / m2)).otherwise(
        F.lit(0.0)
    )
    return (
        joined.select("source", F.round(term * 1e9).cast("long").alias("t9"))
        .groupBy("source")
        .agg(F.round(F.sum("t9") / 1e9, 6).alias("js_divergence"))
        .orderBy("source")
    )


@query(
    "q238_pmi_collocations",
    oracle="""
    WITH toks AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents),
    uni AS (
      SELECT w, COUNT(*) AS cu FROM (
        SELECT UNNEST(ts) AS w FROM toks
      ) GROUP BY w
    ),
    nn AS (SELECT SUM(cu) AS n FROM uni),
    bg AS (
      SELECT ts[i] AS w1, ts[i+1] AS w2, COUNT(*) AS cb
      FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 1)) AS i) s
      WHERE LEN(ts) >= 2
      GROUP BY 1, 2
    ),
    nb AS (SELECT SUM(cb) AS m FROM bg),
    scored AS (
      SELECT b.w1, b.w2, b.cb,
             LN( (b.cb / CAST((SELECT m FROM nb) AS DOUBLE))
                 / ( (u1.cu / CAST((SELECT n FROM nn) AS DOUBLE))
                   * (u2.cu / CAST((SELECT n FROM nn) AS DOUBLE)) ) ) AS pmi
      FROM bg b JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2
      WHERE b.cb >= 5
    )
    SELECT w1, w2, CAST(cb AS BIGINT) AS n_pair, ROUND(pmi, 4) AS pmi
    FROM scored
    ORDER BY ROUND(pmi, 6) DESC, w1, w2 LIMIT 25
    """,
)
def q238_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION MINING by pointwise mutual information — the phrase
    extractor behind multiword-vocab construction and tokenizer-merge
    candidates: PMI(w1,w2) = ln( p(w1w2) / (p(w1)·p(w2)) ) over corpus
    bigrams with a minimum pair count (the classic sparse-PMI guard).
    Top-25 frontier ranked on the round-6 score with a lexical
    tiebreak (the q154 discipline — libm ln ulps can't reorder it).
    Shuffle profile: two vocab-keyed aggregations and two vocab-sized
    joins — O(tokens) explode rows, vocab-bounded state, top-k via
    TakeOrderedAndProject."""
    from .functions.text import tokens

    d = t(spark, sf_dir, "documents")
    toks = d.select(tokens("text").alias("ts"))
    uni = (
        toks.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    nn = uni.agg(F.sum("cu").alias("n"))
    bg = (
        toks.filter(F.size("ts") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("ts") - 1),
                    lambda i: F.struct(
                        F.element_at("ts", i).alias("w1"),
                        F.element_at("ts", i + 1).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    # the bigram-mass denominator counts ALL bigrams; the min-count
    # guard prunes only the scored candidates
    nb = bg.agg(F.sum("cb").alias("m"))
    scored = (
        bg.filter(F.col("cb") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2")), "w2")
        .crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("cb").cast("long").alias("n_pair"),
            F.log(
                (F.col("cb") / F.col("m").cast("double"))
                / (
                    (F.col("cu1") / F.col("n").cast("double"))
                    * (F.col("cu2") / F.col("n").cast("double"))
                )
            ).alias("pmi"),
        )
    )
    return (
        scored.select(
            "w1", "w2", "n_pair",
            F.round("pmi", 4).alias("pmi"),
            F.round("pmi", 6).alias("__rank"),
        )
        .orderBy(F.desc("__rank"), "w1", "w2")
        .limit(25)
        .drop("__rank")
    )


@query(
    "q239_dedup_threshold_sweep",
    oracle="""
    WITH toks AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
      FROM toks, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ts) - 2)) AS i) s
      WHERE LEN(ts) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS sh_n
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT ROUND(s.sh_n / CAST(sa.sz + sb.sz - s.sh_n AS DOUBLE), 4) AS j,
             s.id_a, s.id_b
      FROM shared s
      JOIN sizes sa ON sa.doc_id = s.id_a
      JOIN sizes sb ON sb.doc_id = s.id_b
    ),
    th AS (SELECT UNNEST([0.5, 0.6, 0.7, 0.8]) AS threshold)
    SELECT th.threshold,
           CAST(COUNT(*) FILTER (p.j >= th.threshold) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN p.j >= th.threshold THEN p.id_b END)
                AS BIGINT) AS n_docs_flagged
    FROM th LEFT JOIN pairs p ON p.j >= 0.5
    GROUP BY th.threshold ORDER BY th.threshold
    """,
)
def q239_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP OPERATING-POINT SWEEP — the tuning table a curation run is
    configured from: exact-Jaccard pair counts and flagged-doc counts
    (docs that would lose to a lower-id partner, the greedy removal
    upper bound) at thresholds 0.5/0.6/0.7/0.8, computed from ONE pass
    over the pair space (the inverted-index join runs once at the
    loosest threshold; the sweep is conditional aggregation over the
    cached pair list — never four joins). Complements q213's LSH
    recall witness: q213 picks the banding for a chosen threshold,
    this picks the threshold. DuckDB replays pairs and both rollups."""
    thresholds = [0.5, 0.6, 0.7, 0.8]
    from .functions.dedup import jaccard_candidates
    from .storage import (
        propagate_checkpoint_ids,
        release_checkpoint,
        tracked_local_checkpoint,
    )

    d = t(spark, sf_dir, "documents")
    raw_pairs = jaccard_candidates(d, threshold=0.5, n=3)
    pairs = tracked_local_checkpoint(raw_pairs)
    release_checkpoint(raw_pairs)
    th = spark.createDataFrame([(x,) for x in thresholds], "threshold double")
    return propagate_checkpoint_ids(
        th.join(pairs, pairs["jaccard"] >= th["threshold"], "left")
        .groupBy("threshold")
        .agg(
            F.count("id_a").cast("long").alias("n_pairs"),
            F.countDistinct("id_b").cast("long").alias("n_docs_flagged"),
        )
        .orderBy("threshold"),
        pairs,
    )


@query(
    "q240_corpus_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                         text), 1, 15)) AS BIGINT) AS h
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS char_mass,
           CAST(CAST(SUM(h) AS HUGEINT) % 9223372036854775783 AS BIGINT)
             AS content_fingerprint
    FROM fp
    """,
)
def q240_corpus_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS CONTENT FINGERPRINT — the dataset-versioning primitive: a
    single row certifying "this is byte-for-byte the same corpus"
    across runs, engines, and partition layouts. Per-doc 60-bit md5 of
    (id:text) — the RAW text, no normalization, so even a case-only
    edit moves the fingerprint (and no cross-engine Unicode
    case-mapping is in play) — summed modulo a 63-bit prime:
    ORDER-INDEPENDENT (sum is commutative) and content-sensitive (any
    edited/added/dropped doc moves it), so two teams can agree on
    exactly which corpus version a model was trained on with one
    number each. Map-only scan + one 1-row aggregate; exact integer
    arithmetic end to end (the mod-prime keeps the running sum in
    range — DuckDB accumulates in HUGEINT, Spark folds through
    DECIMAL(38,0) before the modulo, both exact)."""
    from .functions.dedup import md5_long

    d = t(spark, sf_dir, "documents")
    fp = d.select(
        "n_chars",
        md5_long(
            F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("text"))
        ).alias("h"),
    )
    prime = 9223372036854775783  # largest prime < 2^63
    return fp.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("char_mass"),
        (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(prime))
        .cast("long")
        .alias("content_fingerprint"),
    )


@query(
    "q241_mp4_container_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           'isom' AS major_brand,
           CAST(1 + doc_id % 2 AS INT) AS n_tracks,
           CAST(1 AS INT) AS n_video_tracks,
           CAST(doc_id % 2 AS INT) AS n_audio_tracks,
           CAST(500 + 125 * (doc_id % 97) AS INT) AS duration_ms,
           CAST(16 * (4 + doc_id % 9) AS INT) AS width,
           CAST(16 * (3 + doc_id % 7) AS INT) AS height
    FROM documents WHERE doc_id < 400 ORDER BY doc_id
    """,
)
def q241_mp4_container_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 metadata decode, pure stdlib (functions/multimodal
    mp4_encode_container → mp4_parse_container): spec-conformant ISO
    BMFF containers (ftyp/moov/mvhd/trak/tkhd/mdia/hdlr/mdat, 16.16
    fixed-point geometry, per-doc timescales) are synthesized per doc
    with closed-form planted metadata, and the decode walks the box
    tree to recover brand, track census, duration (mvhd units →
    integer-exact ms) and video geometry. The oracle predicts every
    parsed value ANALYTICALLY from the planting formula — fully
    independent of the codec pair; byte-level layout is pinned against
    hand-built box literals in tests/test_llm_ops.py. Frame decode
    needs external codecs and stays out of scope: this is the
    metadata-only pre-filter a 100 TB video-curation pass runs over
    everything BEFORE scheduling any per-frame work (same zero-shuffle
    Arrow-map shape as q219; the binary column never leaves the
    executor). Retires the package's last NotImplementedError."""
    from .functions.multimodal import attach_mp4_media, decode_mp4

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    media = attach_mp4_media(d, "doc_id")
    return decode_mp4(media).orderBy("media_id")


def _q242_oracle(
    n_lists: int = 8, nprobe: int = 3, m: int = 4, w: int = 16, k: int = 4, topk: int = 5
) -> str:
    # Composes the two verified oracle chains: q39's coarse-quantizer
    # cells + probe rule (qsel/probe/cells CTEs) and q188's per-subspace
    # codebooks + round-9 DECIMAL LUT + exact ADC (emb{j}/codes/q/lut
    # CTEs) — ADC restricted to candidates inside the probed cells.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    blocks = []
    code_units = []
    lut_units = []
    for j in range(m):
        lo, hi = j * w + 1, j * w + w
        assign_j = f"""
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb{j} e CROSS JOIN {{cent}} c
    """
        update_j = f"""
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {{assigned}} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
        blocks.append(f"""
    emb{j} AS (SELECT id, list_slice(v, {lo}, {hi}) AS v FROM emb),
    pc0_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb{j} ORDER BY id LIMIT {k})
    ),
    ps0_{j} AS ({assign_j.format(cent=f"pc0_{j}")}),
    pa0_{j} AS (SELECT id, v, cluster FROM ps0_{j} WHERE rn = 1),
    pm1_{j} AS ({update_j.format(assigned=f"pa0_{j}")}),
    pc1n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM pm1_{j} GROUP BY cluster),
    pc1_{j} AS (SELECT pc0_{j}.cluster, COALESCE(pc1n_{j}.c, pc0_{j}.c) AS c
               FROM pc0_{j} LEFT JOIN pc1n_{j} USING (cluster)),
    ps1_{j} AS ({assign_j.format(cent=f"pc1_{j}")}),
    pa1_{j} AS (SELECT id, v, cluster FROM ps1_{j} WHERE rn = 1),
    pm2_{j} AS ({update_j.format(assigned=f"pa1_{j}")}),
    pc2n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM pm2_{j} GROUP BY cluster),
    pc2_{j} AS (SELECT pc1_{j}.cluster, COALESCE(pc2n_{j}.c, pc1_{j}.c) AS c
               FROM pc1_{j} LEFT JOIN pc2n_{j} USING (cluster)),
    ps2_{j} AS ({assign_j.format(cent=f"pc2_{j}")}),
    pa2_{j} AS (SELECT id, cluster FROM ps2_{j} WHERE rn = 1),
    lutsrc{j} AS (
      SELECT c.cluster AS code, c.c AS cv, list_slice(q.q, {lo}, {hi}) AS qv
      FROM pc2_{j} c CROSS JOIN q
    ),
    lut{j} AS (
      SELECT {j} AS j, code,
             SUM(CAST(ROUND((u.qx - u.cx) * (u.qx - u.cx), 9)
                      AS DECIMAL(30,9))) AS sq
      FROM lutsrc{j},
           LATERAL (SELECT UNNEST(qv) AS qx, UNNEST(cv) AS cx) u
      GROUP BY 1, 2
    )""")
        code_units.append(f"SELECT id, {j} AS j, cluster AS code FROM pa2_{j}")
        lut_units.append(f"SELECT * FROM lut{j}")
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    qsel AS (SELECT id, v FROM emb ORDER BY id LIMIT 1),
    q AS (SELECT id, list_transform(v, x -> ROUND(x, 6)) AS q FROM qsel),
    probe AS (
      SELECT c.cluster,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(-list_dot_product(qsel.v, c.c), 6), c.cluster
             ) AS prn
      FROM qsel CROSS JOIN c2 c
    ),
    {",".join(blocks)},
    codes AS ({" UNION ALL ".join(code_units)}),
    lut AS ({" UNION ALL ".join(lut_units)}),
    cand AS (
      SELECT cells.id
      FROM probe JOIN cells ON cells.cluster = probe.cluster
      WHERE probe.prn <= {nprobe} AND cells.id != (SELECT id FROM qsel)
    ),
    adc AS (
      SELECT codes.id, ROUND(CAST(SUM(sq) AS DOUBLE), 6) AS pq_dist2
      FROM codes JOIN lut USING (j, code)
      WHERE codes.id IN (SELECT id FROM cand)
      GROUP BY codes.id
    )
    SELECT id AS neighbor_id, pq_dist2
    FROM adc ORDER BY pq_dist2, id LIMIT {topk}
    """


@query("q242_ivfpq_search", oracle=_q242_oracle())
def q242_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (functions/similarity.ivfpq_search) — the
    canonical billion-scale index layout [Jégou et al. 2011]: the
    deterministic-Lloyd coarse quantizer prunes to nprobe=3 of 8 cells
    (q39's verified probe rule), then PQ asymmetric distance — m=4
    subspace codes, a broadcast 4×4 round-9 DECIMAL LUT, exact DECIMAL
    ADC sums (q188's verified scoring) — ranks only the candidates in
    the probed cells. DuckDB replays BOTH quantizer chains, the probe
    frontier, the candidate restriction, and every ADC value: the full
    composite index — build, probe, score — is hash-verified end to
    end. Completes the ANN family: brute q40 / SRP-LSH q42 / IVF q39
    (+persisted q233) / PQ q188 / IVF-PQ here."""
    from .functions.similarity import ivfpq_search

    e = t(spark, sf_dir, "embeddings")
    return ivfpq_search(e, n_lists=8, nprobe=3, m=4, k=4, iters=2, topk=5)


def _q243_oracle(
    n_lists: int = 8, nprobe: int = 3, m: int = 4, w: int = 16, k: int = 4, topk: int = 5
) -> str:
    # q242's composition plus the residual refinement: remb = v − c2[cell]
    # (single IEEE subtract of the round-4 centroid — bit-identical
    # cross-engine), PQ chains trained on remb slices, and one LUT per
    # probed cell built from the ROUND-6 per-cell query residual.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    blocks = []
    code_units = []
    lut_units = []
    for j in range(m):
        lo, hi = j * w + 1, j * w + w
        assign_j = f"""
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM remb{j} e CROSS JOIN {{cent}} c
    """
        update_j = f"""
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {{assigned}} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
        blocks.append(f"""
    remb{j} AS (SELECT id, list_slice(v, {lo}, {hi}) AS v FROM remb),
    rc0_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM remb{j} ORDER BY id LIMIT {k})
    ),
    rs0_{j} AS ({assign_j.format(cent=f"rc0_{j}")}),
    ra0_{j} AS (SELECT id, v, cluster FROM rs0_{j} WHERE rn = 1),
    rm1_{j} AS ({update_j.format(assigned=f"ra0_{j}")}),
    rc1n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm1_{j} GROUP BY cluster),
    rc1_{j} AS (SELECT rc0_{j}.cluster, COALESCE(rc1n_{j}.c, rc0_{j}.c) AS c
               FROM rc0_{j} LEFT JOIN rc1n_{j} USING (cluster)),
    rs1_{j} AS ({assign_j.format(cent=f"rc1_{j}")}),
    ra1_{j} AS (SELECT id, v, cluster FROM rs1_{j} WHERE rn = 1),
    rm2_{j} AS ({update_j.format(assigned=f"ra1_{j}")}),
    rc2n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm2_{j} GROUP BY cluster),
    rc2_{j} AS (SELECT rc1_{j}.cluster, COALESCE(rc2n_{j}.c, rc1_{j}.c) AS c
               FROM rc1_{j} LEFT JOIN rc2n_{j} USING (cluster)),
    rs2_{j} AS ({assign_j.format(cent=f"rc2_{j}")}),
    ra2_{j} AS (SELECT id, cluster FROM rs2_{j} WHERE rn = 1),
    lutsrc{j} AS (
      SELECT qres.cell, c.cluster AS code, c.c AS cv, list_slice(qres.q, {lo}, {hi}) AS qv
      FROM rc2_{j} c CROSS JOIN qres
    ),
    lut{j} AS (
      SELECT cell, {j} AS j, code,
             SUM(CAST(ROUND((u.qx - u.cx) * (u.qx - u.cx), 9)
                      AS DECIMAL(30,9))) AS sq
      FROM lutsrc{j},
           LATERAL (SELECT UNNEST(qv) AS qx, UNNEST(cv) AS cx) u
      GROUP BY 1, 2, 3
    )""")
        code_units.append(f"SELECT id, {j} AS j, cluster AS code FROM ra2_{j}")
        lut_units.append(f"SELECT * FROM lut{j}")
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    rsrc AS (
      SELECT e.id, e.v AS ev, c2.c AS cc
      FROM emb e JOIN cells ON cells.id = e.id
                 JOIN c2 ON c2.cluster = cells.cluster
    ),
    remb AS (
      SELECT id, LIST(u.vx - u.cx ORDER BY u.i) AS v
      FROM rsrc,
           LATERAL (SELECT UNNEST(rsrc.ev) AS vx, UNNEST(rsrc.cc) AS cx,
                    generate_subscripts(rsrc.ev, 1) AS i) u
      GROUP BY id
    ),
    qsel AS (SELECT id, v FROM emb ORDER BY id LIMIT 1),
    probe AS (
      SELECT c.cluster,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(-list_dot_product(qsel.v, c.c), 6), c.cluster
             ) AS prn
      FROM qsel CROSS JOIN c2 c
    ),
    qrsrc AS (
      SELECT p.cluster AS cell, qsel.v AS qv, c2.c AS cc
      FROM probe p JOIN c2 ON c2.cluster = p.cluster
                   CROSS JOIN qsel
      WHERE p.prn <= {nprobe}
    ),
    qres AS (
      SELECT cell, LIST(ROUND(u.qx - u.cx, 6) ORDER BY u.i) AS q
      FROM qrsrc,
           LATERAL (SELECT UNNEST(qrsrc.qv) AS qx, UNNEST(qrsrc.cc) AS cx,
                    generate_subscripts(qrsrc.qv, 1) AS i) u
      GROUP BY cell
    ),
    {",".join(blocks)},
    codes AS ({" UNION ALL ".join(code_units)}),
    lut AS ({" UNION ALL ".join(lut_units)}),
    cand AS (
      SELECT cells.id, cells.cluster AS cell
      FROM probe JOIN cells ON cells.cluster = probe.cluster
      WHERE probe.prn <= {nprobe} AND cells.id != (SELECT id FROM qsel)
    ),
    adc AS (
      SELECT codes.id, ROUND(CAST(SUM(sq) AS DOUBLE), 6) AS pq_dist2
      FROM codes
      JOIN cand USING (id)
      JOIN lut ON lut.cell = cand.cell AND lut.j = codes.j AND lut.code = codes.code
      GROUP BY codes.id
    )
    SELECT id AS neighbor_id, pq_dist2
    FROM adc ORDER BY pq_dist2, id LIMIT {topk}
    """


@query("q243_ivfadc_residual", oracle=_q243_oracle())
def q243_ivfadc_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL residual IVFADC (functions/similarity.ivfadc_search) — q242
    plus the residual refinement of Jégou et al. 2011 §III, the
    production-grade composite: PQ codebooks trained on r = v −
    coarse_centroid(cell) (residuals concentrate quantizer budget on
    within-cell variance), and ONE ADC LUT PER PROBED CELL because the
    query's residual differs per cell. The DuckDB oracle replays the
    coarse chain, the residual transform (single IEEE subtracts of
    round-4 centroids — bit-identical cross-engine), all m residual
    codebook chains, the per-cell round-9 DECIMAL LUTs, and every
    exact-DECIMAL ADC value. The ANN family is now complete through
    the production index: brute / SRP-LSH / IVF(+persisted) / PQ /
    IVF-PQ / residual IVFADC."""
    from .functions.similarity import ivfadc_search

    e = t(spark, sf_dir, "embeddings")
    return ivfadc_search(e, n_lists=8, nprobe=3, m=4, k=4, iters=2, topk=5)


def _q244_oracle(
    n_q: int = 64,
    n_lists: int = 8,
    nprobe: int = 3,
    m: int = 4,
    w: int = 16,
    k: int = 4,
    topk: int = 5,
    cand_extra: str = "",
) -> str:
    # cand_extra: extra SQL ANDed into the candidate predicate — the
    # PRE-search hook the tombstone (q255) and metadata-filter (q256)
    # variants use: candidates leave the pool BEFORE ranking, exactly
    # like the Spark side's anti-/semi-join on the codes frame.
    # q243's full residual-IVFADC replay generalized to a BATCH of the
    # n_q lowest-id query vectors: probe ranks get PARTITION BY query_id,
    # residuals/LUTs/ADC carry query_id, and the final top-k is a
    # per-query window. Training CTEs (coarse chain, residual transform,
    # m residual codebook chains) are byte-identical to q243's — the
    # batch changes serving only, which is exactly the Spark-side claim.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    blocks = []
    code_units = []
    lut_units = []
    for j in range(m):
        lo, hi = j * w + 1, j * w + w
        assign_j = f"""
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM remb{j} e CROSS JOIN {{cent}} c
    """
        update_j = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
        blocks.append(f"""
    remb{j} AS (SELECT id, list_slice(v, {lo}, {hi}) AS v FROM remb),
    rc0_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM remb{j} ORDER BY id LIMIT {k})
    ),
    rs0_{j} AS ({assign_j.format(cent=f"rc0_{j}")}),
    ra0_{j} AS (SELECT id, v, cluster FROM rs0_{j} WHERE rn = 1),
    rm1_{j} AS ({update_j.format(assigned=f"ra0_{j}")}),
    rc1n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm1_{j} GROUP BY cluster),
    rc1_{j} AS (SELECT rc0_{j}.cluster, COALESCE(rc1n_{j}.c, rc0_{j}.c) AS c
               FROM rc0_{j} LEFT JOIN rc1n_{j} USING (cluster)),
    rs1_{j} AS ({assign_j.format(cent=f"rc1_{j}")}),
    ra1_{j} AS (SELECT id, v, cluster FROM rs1_{j} WHERE rn = 1),
    rm2_{j} AS ({update_j.format(assigned=f"ra1_{j}")}),
    rc2n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm2_{j} GROUP BY cluster),
    rc2_{j} AS (SELECT rc1_{j}.cluster, COALESCE(rc2n_{j}.c, rc1_{j}.c) AS c
               FROM rc1_{j} LEFT JOIN rc2n_{j} USING (cluster)),
    rs2_{j} AS ({assign_j.format(cent=f"rc2_{j}")}),
    ra2_{j} AS (SELECT id, cluster FROM rs2_{j} WHERE rn = 1),
    lutsrc{j} AS (
      SELECT qres.query_id, qres.cell, c.cluster AS code, c.c AS cv,
             list_slice(qres.q, {lo}, {hi}) AS qv
      FROM rc2_{j} c CROSS JOIN qres
    ),
    lut{j} AS (
      SELECT query_id, cell, {j} AS j, code,
             SUM(CAST(ROUND((u.qx - u.cx) * (u.qx - u.cx), 9)
                      AS DECIMAL(30,9))) AS sq
      FROM lutsrc{j},
           LATERAL (SELECT UNNEST(qv) AS qx, UNNEST(cv) AS cx) u
      GROUP BY 1, 2, 3, 4
    )""")
        code_units.append(f"SELECT id, {j} AS j, cluster AS code FROM ra2_{j}")
        lut_units.append(f"SELECT * FROM lut{j}")
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    rsrc AS (
      SELECT e.id, e.v AS ev, c2.c AS cc
      FROM emb e JOIN cells ON cells.id = e.id
                 JOIN c2 ON c2.cluster = cells.cluster
    ),
    remb AS (
      SELECT id, LIST(u.vx - u.cx ORDER BY u.i) AS v
      FROM rsrc,
           LATERAL (SELECT UNNEST(rsrc.ev) AS vx, UNNEST(rsrc.cc) AS cx,
                    generate_subscripts(rsrc.ev, 1) AS i) u
      GROUP BY id
    ),
    qset AS (SELECT id AS query_id, v FROM emb ORDER BY id LIMIT {n_q}),
    probe AS (
      SELECT q.query_id, c.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY ROUND(-list_dot_product(q.v, c.c), 6), c.cluster
             ) AS prn
      FROM qset q CROSS JOIN c2 c
    ),
    qrsrc AS (
      SELECT p.query_id, p.cluster AS cell, q.v AS qv, c2.c AS cc
      FROM probe p JOIN c2 ON c2.cluster = p.cluster
                   JOIN qset q ON q.query_id = p.query_id
      WHERE p.prn <= {nprobe}
    ),
    qres AS (
      SELECT query_id, cell, LIST(ROUND(u.qx - u.cx, 6) ORDER BY u.i) AS q
      FROM qrsrc,
           LATERAL (SELECT UNNEST(qrsrc.qv) AS qx, UNNEST(qrsrc.cc) AS cx,
                    generate_subscripts(qrsrc.qv, 1) AS i) u
      GROUP BY query_id, cell
    ),
    {",".join(blocks)},
    codes AS ({" UNION ALL ".join(code_units)}),
    lut AS ({" UNION ALL ".join(lut_units)}),
    cand AS (
      SELECT probe.query_id, cells.id, cells.cluster AS cell
      FROM probe JOIN cells ON cells.cluster = probe.cluster
      WHERE probe.prn <= {nprobe} AND cells.id != probe.query_id{cand_extra}
    ),
    adc AS (
      SELECT cand.query_id, codes.id,
             ROUND(CAST(SUM(sq) AS DOUBLE), 6) AS pq_dist2
      FROM codes
      JOIN cand USING (id)
      JOIN lut ON lut.query_id = cand.query_id AND lut.cell = cand.cell
              AND lut.j = codes.j AND lut.code = codes.code
      GROUP BY cand.query_id, codes.id
    ),
    ranked AS (
      SELECT query_id, id AS neighbor_id, pq_dist2,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY pq_dist2, id
             ) AS rn
      FROM adc
    )
    SELECT query_id, neighbor_id, pq_dist2
    FROM ranked WHERE rn <= {topk}
    ORDER BY query_id, pq_dist2, neighbor_id
    """


@query("q244_ivfadc_batch_serving", oracle=_q244_oracle())
def q244_ivfadc_batch_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH multi-query residual-IVFADC serving (functions/similarity.
    ivfadc_batch_search) — q243's index queried by the 64 lowest-id
    vectors in ONE lazy plan: probe assignment is a map pass over a
    broadcast centroid literal, per-cell query residuals and the ADC
    LUTs are computed IN-ENGINE (query frame × broadcast m·k codebook
    frame, exact DECIMAL folds of round-9 squared diffs), candidates
    come from the probed cells, and the per-query top-k is a window
    rank. No per-query driver work anywhere — the driver-built LUT
    loop of the single-query demos (q188/q242/q243) is retired for
    serving. For any one query the rows replay q243's exactly
    (parity-pinned in tests/test_llm_ops.py). The DuckDB oracle
    replays training byte-identically to q243's and generalizes the
    serving chain with PARTITION BY query_id."""
    from .functions.similarity import ivfadc_batch_search

    e = t(spark, sf_dir, "embeddings")
    return ivfadc_batch_search(
        e,
        e.orderBy("vec_id").limit(64),
        n_lists=8,
        nprobe=3,
        m=4,
        k=4,
        iters=2,
        topk=5,
    )


@query("q245_ivfadc_index_persistence", oracle=_q243_oracle())
def q245_ivfadc_index_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPOSITE-INDEX LIFECYCLE (extends q233 from plain IVF to the
    production residual-IVFADC index): train once with
    functions/similarity.ivfadc_index_build (q243's exact chain),
    PERSIST the whole index — per-cell PQ codes as parquet partitioned
    BY list_id, coarse centroids and the m residual codebooks as
    parquet sidecars — then RELOAD everything in fresh reads and serve
    q243's query (lowest vec_id) from the persisted index with
    ivfadc_index_search(static_probe=True), whose literal
    list_id IN (...) probe filter makes the codes read a
    PARTITION-PRUNED scan (PartitionFilters — plan-locked in
    tests/test_llm_ops.py). The oracle is literally q243's SQL: any
    persistence defect (dropped codes, partition mangling, model
    reordering, float drift in a sidecar) breaks hash-equality with the
    freshly-built index's results. Build once, serve many — at 100 TB
    the codes table replaces the raw vectors and each probe reads
    nprobe/n_lists of its files."""
    import shutil

    from .functions.similarity import ivfadc_index_build, ivfadc_index_search
    from .storage import release_checkpoint

    M, K = 4, 4
    base = _session_tmp("q245")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=M, k=K, iters=2)
    index.write.mode("overwrite").partitionBy("list_id").parquet(f"{base}/codes")
    release_checkpoint(index)
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(coarse)],
        "list_id int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{base}/coarse")
    spark.createDataFrame(
        [(j, c, cents[j][c]) for j in range(M) for c in range(K)],
        "j int, code int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{base}/codebooks")

    idx = spark.read.parquet(f"{base}/codes")
    coarse_r = [
        list(r["centroid"])
        for r in spark.read.parquet(f"{base}/coarse").orderBy("list_id").collect()
    ]
    cb = spark.read.parquet(f"{base}/codebooks").orderBy("j", "code").collect()
    cents_r = [[list(r["centroid"]) for r in cb if r["j"] == j] for j in range(M)]
    q = e.orderBy("vec_id").limit(1)
    return (
        ivfadc_index_search(
            idx, coarse_r, cents_r, q, nprobe=3, topk=5, static_probe=True
        )
        .select("neighbor_id", "pq_dist2")
        .orderBy("pq_dist2", "neighbor_id")
    )


def _q246_oracle(n_lists: int = 8) -> str:
    # The coarse-quantizer chain of q39/q243 (two deterministic Lloyd
    # rounds, round-4 centroids, round-6 assignment ranks with cluster
    # tiebreak) — the batch assignment the streamed one must equal.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1)
    SELECT id, CAST(cluster AS BIGINT) AS list_id
    FROM cells ORDER BY id
    """


@query("q246_stream_ivf_assignment", oracle=_q246_oracle())
def q246_stream_ivf_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INCREMENTAL IVF ASSIGNMENT — the embedding analog of
    q225's incremental LSH: vectors arrive as a stream and each is
    filed into its coarse cell by a STATELESS map pass against the
    persisted coarse centroids (ml/kmeans._assign — per-centroid
    round-6 L2 ranks with cluster tiebreak, literal centroid arrays,
    no shuffle, no state), then APPENDED to the index's cell layout
    via a list_id-partitioned parquet sink. Assignment is per-row, so
    the streamed cell census is arrival-order independent and equals
    the batch assignment bit-for-bit — the oracle replays the batch
    coarse chain (q39/q243's CTEs) and pins the full (id, list_id)
    membership, not just counts. Production shape for continuous
    vector ingest: train the quantizer once (q245 persists it), keep
    filing arrivals into partition-pruned cells forever; the PQ
    re-encode rides the same map pass."""
    import shutil

    from .ml.kmeans import _assign, kmeans_lloyd
    from .storage import release_checkpoint
    from .streaming.core import embeddings_stream

    e = t(spark, sf_dir, "embeddings")
    trained, coarse = kmeans_lloyd(
        e, "embedding", "vec_id", k=8, iters=2, return_centroids=True
    )
    release_checkpoint(trained)

    s = embeddings_stream(spark, sf_dir).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    assigned = _assign(s, coarse).select(
        "id", F.col("cluster").cast("int").alias("list_id")
    )

    base = _session_tmp("q246")
    shutil.rmtree(base, ignore_errors=True)
    (
        assigned.writeStream.format("parquet")
        .option("path", f"{base}/cells")
        .option("checkpointLocation", f"{base}/ckpt")
        .partitionBy("list_id")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(f"{base}/cells")
        .select("id", F.col("list_id").cast("long").alias("list_id"))
        .orderBy("id")
    )


@query(
    "q247_quality_classifier",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             LEAST(LEN(STRING_SPLIT(LOWER(text), ' ')), 200) / 200.0 AS t,
             LENGTH(REGEXP_REPLACE(text, '[^.,;:!?''"-]', '', 'g'))
               / LENGTH(text) AS p,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 x -> x IN ('the','and','of','to','is','in','that','with','for','was')))
               / LEN(STRING_SPLIT(LOWER(text), ' ')) AS s,
             LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g'))
               / LENGTH(text) AS g
      FROM documents
    ),
    sc AS (
      SELECT doc_id,
             ROUND(1.0 / (1.0 + EXP(-ROUND(
               -1.0 + 3.0 * t + 4.0 * s - 6.0 * p - 6.0 * g, 6))), 4) AS score
      FROM f
    )
    SELECT CAST(FLOOR(score * 10) AS INT) AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
           TRUE AS trained_acc_ok,
           TRUE AS trained_auc_ok
    FROM sc GROUP BY 1 ORDER BY 1
    """,
)
def q247_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEARNED document-quality gate — the trainable counterpart of
    q34's heuristics, the stage every production curation pipeline
    (C4/FineWeb-style) runs. Two heads, one contract:

    * **deterministic twin** (the oracle): a fixed-weight logistic
      score over the cross-engine-replayable quality features
      (capped token count, punct/stopword/digit ratios — q34's exact
      SQL mirrors), z rounded to 6 BEFORE the sigmoid so both engines
      exponentiate the identical double (1-ulp libm divergence is then
      ~1e-16 of the score, far inside the round-4 output). Documents
      roll up into score deciles with exact id checksums — fully
      value-matched.
    * **trained head**: pyspark.ml LogisticRegression on the RAW
      feature vector, labels PLANTED by the twin's 0.5 threshold
      (233/267 split at sf0.01, linearly separable by construction
      with a measured z-margin ≈ 0.005). The contract flags pin that
      the trained head RECOVERS the planted boundary: training
      accuracy ≥ 0.95 and areaUnderROC ≥ 0.98, hashed on every row —
      an ml-plumbing regression (vector assembly, standardization,
      convergence) flips a flag and breaks the hash, q77-style.

    Scale: feature extraction is one codegen'd scan; LR training is
    pyspark.ml's distributed LBFGS (each iteration one treeAggregate
    over the corpus); scoring is a map pass. Labels never leave the
    engine; the only driver values are the two summary metrics."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler

    from .functions.text import quality_features

    d = t(spark, sf_dir, "documents")
    f = quality_features("text")
    feats = d.select(
        "doc_id",
        (F.least(f["n_tokens"], F.lit(200)) / 200.0).alias("t"),
        f["punct_ratio"].alias("p"),
        f["stopword_ratio"].alias("s"),
        f["digit_ratio"].alias("g"),
    )
    z6 = F.round(
        F.lit(-1.0)
        + F.lit(3.0) * F.col("t")
        + F.lit(4.0) * F.col("s")
        - F.lit(6.0) * F.col("p")
        - F.lit(6.0) * F.col("g"),
        6,
    )
    scored = feats.select(
        "doc_id",
        "t",
        "p",
        "s",
        "g",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z6)), 4).alias("score"),
    ).withColumn("label", (F.col("score") >= 0.5).cast("double"))

    asm = VectorAssembler(inputCols=["t", "p", "s", "g"], outputCol="features")
    train = asm.transform(scored)
    model = LogisticRegression(maxIter=100, regParam=0.0).fit(train)
    preds = model.transform(train)
    acc = preds.filter(F.col("prediction") == F.col("label")).count() / preds.count()
    auc = BinaryClassificationEvaluator(metricName="areaUnderROC").evaluate(preds)

    return (
        scored.groupBy(
            F.floor(F.col("score") * 10).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .select(
            "bucket",
            "n_docs",
            "id_checksum",
            F.lit(bool(acc >= 0.95)).alias("trained_acc_ok"),
            F.lit(bool(auc >= 0.98)).alias("trained_auc_ok"),
        )
        .orderBy("bucket")
    )


def _q248_oracle(n_lists: int = 8, m: int = 4, w: int = 16, k: int = 4) -> str:
    # q243's training CTEs (coarse chain, residual transform, m residual
    # codebook chains) with the INDEX ITSELF as the output: full
    # (id, list_id, code0..m-1) membership — what the streamed encode
    # pass must reproduce bit-for-bit.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    blocks = []
    code_units = []
    for j in range(m):
        lo, hi = j * w + 1, j * w + w
        assign_j = f"""
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM remb{j} e CROSS JOIN {{cent}} c
    """
        update_j = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
        blocks.append(f"""
    remb{j} AS (SELECT id, list_slice(v, {lo}, {hi}) AS v FROM remb),
    rc0_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM remb{j} ORDER BY id LIMIT {k})
    ),
    rs0_{j} AS ({assign_j.format(cent=f"rc0_{j}")}),
    ra0_{j} AS (SELECT id, v, cluster FROM rs0_{j} WHERE rn = 1),
    rm1_{j} AS ({update_j.format(assigned=f"ra0_{j}")}),
    rc1n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm1_{j} GROUP BY cluster),
    rc1_{j} AS (SELECT rc0_{j}.cluster, COALESCE(rc1n_{j}.c, rc0_{j}.c) AS c
               FROM rc0_{j} LEFT JOIN rc1n_{j} USING (cluster)),
    rs1_{j} AS ({assign_j.format(cent=f"rc1_{j}")}),
    ra1_{j} AS (SELECT id, v, cluster FROM rs1_{j} WHERE rn = 1),
    rm2_{j} AS ({update_j.format(assigned=f"ra1_{j}")}),
    rc2n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm2_{j} GROUP BY cluster),
    rc2_{j} AS (SELECT rc1_{j}.cluster, COALESCE(rc2n_{j}.c, rc1_{j}.c) AS c
               FROM rc1_{j} LEFT JOIN rc2n_{j} USING (cluster)),
    rs2_{j} AS ({assign_j.format(cent=f"rc2_{j}")}),
    ra2_{j} AS (SELECT id, cluster FROM rs2_{j} WHERE rn = 1)""")
        code_units.append(
            f"MAX(CASE WHEN cj.j = {j} THEN cj.code END) AS code{j}"
        )
    code_selects = " UNION ALL ".join(
        f"SELECT id, {j} AS j, cluster AS code FROM ra2_{j}" for j in range(m)
    )
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    rsrc AS (
      SELECT e.id, e.v AS ev, c2.c AS cc
      FROM emb e JOIN cells ON cells.id = e.id
                 JOIN c2 ON c2.cluster = cells.cluster
    ),
    remb AS (
      SELECT id, LIST(u.vx - u.cx ORDER BY u.i) AS v
      FROM rsrc,
           LATERAL (SELECT UNNEST(rsrc.ev) AS vx, UNNEST(rsrc.cc) AS cx,
                    generate_subscripts(rsrc.ev, 1) AS i) u
      GROUP BY id
    ),
    {",".join(blocks)},
    codes AS ({code_selects})
    SELECT cells.id, CAST(cells.cluster AS INT) AS list_id,
           {", ".join(f"CAST(MAX(CASE WHEN cj.j = {j} THEN cj.code END) AS INT) AS code{j}" for j in range(m))}
    FROM cells JOIN codes cj USING (id)
    GROUP BY cells.id, cells.cluster
    ORDER BY cells.id
    """


@query("q248_stream_ivfadc_ingest", oracle=_q248_oracle())
def q248_stream_ivfadc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVFADC INGEST — the full incremental index-maintenance
    story (q246's assignment plus the PQ re-encode): vectors arrive as
    a stream and each is encoded into the index layout by ONE stateless
    map pass against the persisted model (functions/similarity.
    ivfadc_encode — coarse argmin, residual subtract, m per-subspace
    codebook argmins, all with the round-6 rank discipline), then
    APPENDED to the list_id-partitioned codes table. Because encode is
    per-row and the model is frozen, the streamed index equals the
    batch build's codes table BIT-FOR-BIT regardless of arrival order —
    the oracle replays q243's full training chain and pins the entire
    (id, list_id, code0..3) membership. Production loop: q245 persists
    the model once; this query is the forever-running ingest that keeps
    the index current; q244 serves batches against it."""
    import shutil

    from .functions.similarity import ivfadc_encode, ivfadc_index_build
    from .storage import release_checkpoint
    from .streaming.core import embeddings_stream

    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
    release_checkpoint(index)  # the stream rebuilds the codes table

    enc = ivfadc_encode(embeddings_stream(spark, sf_dir), coarse, cents)
    base = _session_tmp("q248")
    shutil.rmtree(base, ignore_errors=True)
    (
        enc.writeStream.format("parquet")
        .option("path", f"{base}/codes")
        .option("checkpointLocation", f"{base}/ckpt")
        .partitionBy("list_id")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(f"{base}/codes")
        .select(
            "id",
            F.col("list_id").cast("int").alias("list_id"),
            *[F.col(f"code{j}").cast("int").alias(f"code{j}") for j in range(4)],
        )
        .orderBy("id")
    )


@query(
    "q249_stream_quality_gate",
    oracle="""
    WITH f AS (
      SELECT lang,
             LEAST(LEN(STRING_SPLIT(LOWER(text), ' ')), 200) / 200.0 AS t,
             LENGTH(REGEXP_REPLACE(text, '[^.,;:!?''"-]', '', 'g'))
               / LENGTH(text) AS p,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                 x -> x IN ('the','and','of','to','is','in','that','with','for','was')))
               / LEN(STRING_SPLIT(LOWER(text), ' ')) AS s,
             LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g'))
               / LENGTH(text) AS g
      FROM documents
    ),
    sc AS (
      SELECT lang,
             ROUND(1.0 / (1.0 + EXP(-ROUND(
               -1.0 + 3.0 * t + 4.0 * s - 6.0 * p - 6.0 * g, 6))), 4) AS score
      FROM f
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (score >= 0.5) AS n_kept,
           ROUND(AVG(score), 4) AS avg_score
    FROM sc GROUP BY lang ORDER BY lang
    """,
)
def q249_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING QUALITY GATE — curation-at-ingest: documents arrive as
    a stream, each is scored by the deterministic quality twin (q247's
    fixed-weight logistic over the codegen'd feature expressions — a
    stateless per-row map, no state store), and a complete-mode
    per-language aggregation tracks volume / keep-rate / mean score.
    AvailableNow over the replayable source equals the batch SQL
    exactly, so the oracle value-pins the streamed gate. Production
    shape: the same scorer expression runs in the ingest pipeline and
    in the batch backfill — one definition, both surfaces (the learned
    head of q247 deploys the same way once trained: its scoring too is
    a pure map)."""
    from .functions.text import quality_features
    from .streaming.core import documents_stream, run_available_now

    d = documents_stream(spark, sf_dir)
    f = quality_features("text")
    z6 = F.round(
        F.lit(-1.0)
        + F.lit(3.0) * (F.least(f["n_tokens"], F.lit(200)) / 200.0)
        + F.lit(4.0) * f["stopword_ratio"]
        - F.lit(6.0) * f["punct_ratio"]
        - F.lit(6.0) * f["digit_ratio"],
        6,
    )
    scored = d.select(
        "lang",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z6)), 4).alias("score"),
    )
    agg = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("score") >= 0.5).cast("long")).alias("n_kept"),
        F.round(F.avg("score"), 4).alias("avg_score"),
    )
    return (
        run_available_now(agg, output_mode="complete")
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_kept").cast("long").alias("n_kept"),
            "avg_score",
        )
        .orderBy("lang")
    )


def _q250_oracle(
    n_q: int = 64,
    n_lists: int = 8,
    nprobe: int = 3,
    m: int = 4,
    w: int = 16,
    k: int = 4,
    shortlist: int = 10,
    topk: int = 3,
) -> str:
    # q244's batch-ADC chain, extended with the production second stage:
    # the per-query ADC shortlist re-scored by EXACT cosine against the
    # raw vectors (q40's round-6-rank / round-4-output discipline).
    base = _q244_oracle(
        n_q=n_q, n_lists=n_lists, nprobe=nprobe, m=m, w=w, k=k, topk=shortlist
    )
    # strip q244's final SELECT; reuse its CTE chain through `ranked`
    head = base[: base.rindex("SELECT query_id, neighbor_id, pq_dist2")]
    return f"""{head}
    , short AS (
      SELECT query_id, neighbor_id FROM ranked WHERE rn <= {shortlist}
    ),
    rescored AS (
      SELECT s.query_id, s.neighbor_id,
             LIST_COSINE_SIMILARITY(eq.v, ec.v) AS cos
      FROM short s JOIN emb eq ON eq.id = s.query_id
                   JOIN emb ec ON ec.id = s.neighbor_id
    ),
    rr AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(cos, 6) DESC, neighbor_id) AS xrn
      FROM rescored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos
    FROM rr WHERE xrn <= {topk}
    ORDER BY query_id, neighbor_id
    """


@query("q250_ivfadc_exact_rerank", oracle=_q250_oracle())
def q250_ivfadc_exact_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE BATCH RETRIEVAL — the canonical production serving
    shape [Jégou 2011 §IV]: the compressed-domain ADC scan produces a
    cheap per-query SHORTLIST (q244's batch chain, top-10 by pq_dist2),
    then ONLY the shortlist survivors are re-scored with EXACT cosine
    against the raw vectors (q40's round-6-rank / round-4-output
    discipline) for the final top-3. At 100 TB the economics are the
    point: the full scan touches codes (m bytes/vector, partition-
    pruned to the probed cells), while exact distances — the expensive
    part — run on Q·shortlist rows only, a join back to the vector
    store by id. Everything rides verified chains: the oracle reuses
    q244's CTEs verbatim and appends the q40 re-rank, so the DuckDB
    replay pins shortlist membership AND the reranked scores."""
    from .functions.similarity import (
        dot,
        ivfadc_batch_search,
        l2_norm,
    )
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    short = ivfadc_batch_search(
        e,
        e.orderBy("vec_id").limit(64),
        n_lists=8,
        nprobe=3,
        m=4,
        k=4,
        iters=2,
        topk=10,
    ).select("query_id", "neighbor_id")
    ev = e.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
        l2_norm(F.col("embedding")).alias("n"),
    )
    scored = (
        short.join(
            ev.select(
                F.col("id").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("n").alias("qn"),
            ),
            "query_id",
        )
        .join(
            ev.select(
                F.col("id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                F.col("n").alias("cn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos"),
        )
    )
    wnd = Window.partitionBy("query_id").orderBy(
        F.round("cos", 6).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("xrn", F.row_number().over(wnd))
        .filter(F.col("xrn") <= 3)
        .select("query_id", "neighbor_id", F.round("cos", 4).alias("cos"))
        .orderBy("query_id", "neighbor_id")
    )


def _q251_oracle(
    bits: int = 8,
    tables: int = 4,
    dim: int = 64,
    seed: int = 42,
    multiprobe: int = 2,
    k: int = 3,
) -> str:
    """q203's embedded-plane replay extended to MULTI-PROBE: per table
    the query also probes the buckets reached by flipping the
    ``multiprobe`` smallest-|margin| sign bits (ROUND-9 margins,
    bit-index tiebreak — deterministic cross-engine at this corpus's
    measured margins). Corpus side stays single-signature."""
    from .functions.similarity import _planes

    tbl_ctes = []
    q_units = []
    c_units = []
    for ti in range(tables):
        planes = _planes(dim, bits, seed + ti)
        ds = ", ".join(
            f"list_dot_product(v, [{','.join(repr(float(x)) for x in p)}])"
            for p in planes
        )
        base = " + ".join(
            f"(CASE WHEN dd.ds[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(bits)
        )
        margins = ", ".join(
            f"{{'m': ROUND(ABS(dd.ds[{i + 1}]), 9), 'i': {i}}}" for i in range(bits)
        )
        probes = ", ".join(
            f"xor(base, 1 << (msorted[{p + 1}]).i)" for p in range(multiprobe)
        )
        tbl_ctes.append(f"""
    sig{ti} AS (
      SELECT id, CAST({base} AS BIGINT) AS base,
             list_sort([{margins}]) AS msorted
      FROM emb, LATERAL (SELECT [{ds}] AS ds) dd
    )""")
        q_units.append(
            f"SELECT id, {ti} AS tbl, UNNEST([base, {probes}]) AS sig "
            f"FROM sig{ti} WHERE id < 20"
        )
        c_units.append(f"SELECT id, {ti} AS tbl, base AS sig FROM sig{ti}")
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    {",".join(tbl_ctes)},
    qsigs AS ({" UNION ALL ".join(q_units)}),
    csigs AS ({" UNION ALL ".join(c_units)}),
    cand AS (
      SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
      FROM qsigs q JOIN csigs c ON q.tbl = c.tbl AND q.sig = c.sig
      WHERE q.id != c.id
    ),
    s AS (
      SELECT cand.query_id, cand.neighbor_id,
             LIST_COSINE_SIMILARITY(eq.v, ec.v) AS cos
      FROM cand JOIN emb eq ON eq.id = cand.query_id
                JOIN emb ec ON ec.id = cand.neighbor_id
    ),
    r AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(cos, 6) DESC, neighbor_id) AS rn
      FROM s
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos
    FROM r WHERE rn <= {k} ORDER BY query_id, neighbor_id
    """


@query("q251_lsh_multiprobe", oracle=_q251_oracle())
def q251_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE SRP-LSH (functions/similarity.lsh_multiprobe_topk;
    Lv et al. 2007, single-bit-flip variant): each query probes its own
    bucket plus the 2 buckets across its smallest-|margin| sign bits —
    recall rises WITHOUT growing the index (more tables = more memory;
    more probes = more query-side lookups only), the production trade
    at 100 TB where the signature table dominates index cost. Flip
    selection is deterministic cross-engine (ROUND-9 margins, bit-index
    tiebreak, corpus margins measured ≥ 3.3e-6), so the oracle replays
    the embedded planes, every flip, the widened bucket join and the
    q40-discipline re-rank. multiprobe=0 reproduces q203's candidates
    exactly (property-pinned)."""
    from .functions.similarity import lsh_multiprobe_topk

    e = t(spark, sf_dir, "embeddings")
    return lsh_multiprobe_topk(
        e.filter(F.col("vec_id") < 20), e, k=3, dim=64, multiprobe=2
    ).orderBy("query_id", "neighbor_id")


def _q252_oracle(
    n_lists: int = 8,
    k: int = 3,
    q_lt: int = 20,
    nprobes: tuple = (1, 2, 4, 8),
) -> str:
    # q39's training + probe chain, evaluated at FOUR nprobe settings
    # against the exact (q40-chain) top-k: the recall-vs-cost tuning
    # table, every cell deterministic and hash-pinned.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    per_np = []
    rec_units = []
    for np_ in nprobes:
        per_np.append(f"""
    cand{np_} AS (
      SELECT p.qid, cells.id AS nid
      FROM probe p JOIN cells ON cells.cluster = p.cluster
      WHERE p.prn <= {np_} AND cells.id != p.qid
    ),
    ranked{np_} AS (
      SELECT c.qid, c.nid,
             ROW_NUMBER() OVER (
               PARTITION BY c.qid
               ORDER BY ROUND(list_cosine_similarity(eq.v, en.v), 6) DESC, c.nid
             ) AS rn
      FROM cand{np_} c
      JOIN emb eq ON eq.id = c.qid
      JOIN emb en ON en.id = c.nid
    ),
    rec{np_} AS (
      SELECT {np_} AS nprobe, CAST(COUNT(*) AS BIGINT) AS hits
      FROM (SELECT qid, nid FROM ranked{np_} WHERE rn <= {k}) iv
      JOIN exact_k USING (qid, nid)
    )""")
        rec_units.append(f"SELECT * FROM rec{np_}")
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    q AS (SELECT id, v FROM emb WHERE id < {q_lt}),
    probe AS (
      SELECT q.id AS qid, c.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY q.id
               ORDER BY ROUND(-list_dot_product(q.v, c.c), 6), c.cluster
             ) AS prn
      FROM q CROSS JOIN c2 c
    ),
    exact AS (
      SELECT q.id AS qid, e2.id AS nid,
             ROW_NUMBER() OVER (
               PARTITION BY q.id
               ORDER BY ROUND(list_cosine_similarity(q.v, e2.v), 6) DESC, e2.id
             ) AS rn
      FROM q CROSS JOIN emb e2 WHERE e2.id != q.id
    ),
    exact_k AS (SELECT qid, nid FROM exact WHERE rn <= {k}),
    {",".join(per_np)},
    recs AS ({" UNION ALL ".join(rec_units)})
    SELECT nprobe,
           CAST((SELECT COUNT(*) FROM q) AS BIGINT) AS n_queries,
           hits,
           ROUND(hits / ((SELECT COUNT(*) FROM q) * {k} * 1.0), 4) AS recall
    FROM recs ORDER BY nprobe
    """


@query("q252_ivf_recall_sweep", oracle=_q252_oracle())
def q252_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECALL-vs-NPROBE TUNING TABLE — the measurement a production ANN
    deployment derives before fixing its quality/cost knob: the q39 IVF
    index evaluated at nprobe ∈ {1,2,4,8} against the exact cosine
    top-3 (q40's chain), recall@3 per setting, all in one lazy plan
    (four probe branches unioned — the sweep is a bounded config grid,
    not a data loop). Every cell is deterministic (round-6 probe and
    rank disciplines), so the oracle hash-pins the entire curve —
    'measure, don't guess' as a query, not a notebook. At nprobe =
    n_lists the probe covers every cell, so recall = 1.0 by
    construction (the table's own sanity row)."""
    from .functions.similarity import brute_force_topk, ivf_build, ivf_topk
    from .storage import release_checkpoint

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    assigned, cents = ivf_build(e, n_lists=8, quantizer="lloyd")
    exact_pairs = brute_force_topk(q, e, k=3).select("query_id", "neighbor_id")
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))

    branches = []
    for np_ in (1, 2, 4, 8):
        hits = (
            ivf_topk(q, assigned, cents, k=3, nprobe=np_)
            .select("query_id", "neighbor_id")
            .join(exact_pairs, ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .select(F.lit(np_).alias("nprobe"), "hits")
        )
        branches.append(hits)
    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    out = u.crossJoin(nq).select(
        "nprobe",
        F.col("n_queries").cast("long").alias("n_queries"),
        "hits",
        F.round(F.col("hits") / (F.col("n_queries") * 3.0), 4).alias("recall"),
    ).orderBy("nprobe")
    return _carry(out, assigned)


@query(
    "q253_filtered_ann",
    oracle="""
    WITH en AS (
      SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS v
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      WHERE d.lang = 'en'
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < 20),
    s AS (
      SELECT q.query_id, en.id AS neighbor_id,
             LIST_COSINE_SIMILARITY(q.qv, en.v) AS cos
      FROM q, en WHERE q.query_id != en.id
    ),
    r AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY ROUND(cos, 6) DESC, neighbor_id) AS rn
      FROM s
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos
    FROM r WHERE rn <= 3 ORDER BY query_id, neighbor_id
    """,
)
def q253_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED ANN — vector search under a relational
    predicate (here: neighbors must be ENGLISH documents), the shape
    every production retrieval system needs and most bolt on wrong.
    The filter is applied PRE-SEARCH (corpus semi-joined to the
    documents predicate BEFORE ranking), never post-filtering a top-k —
    post-filter silently returns < k results whenever the unfiltered
    top-k contains excluded rows, and its recall degrades with filter
    selectivity. Pre-filter composes with every index in the family:
    brute (here — exact, the oracle shape), LSH/IVF (filter the
    signature/cells table the same way), and the persisted IVFADC
    layout (predicate columns ride the codes table, so the filter
    pushes into the partition-pruned scan). At 100 TB the semi-join is
    a broadcast of the predicate's id set or a shuffle join on id —
    either way corpus-shaped work happens once, before the pair
    fan-out."""
    from .functions.similarity import brute_force_topk

    e = t(spark, sf_dir, "embeddings")
    d = t(spark, sf_dir, "documents")
    en_ids = d.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("vec_id")
    )
    corpus = e.join(en_ids, "vec_id", "left_semi")
    return brute_force_topk(
        e.filter(F.col("vec_id") < 20), corpus, k=3
    ).orderBy("query_id", "neighbor_id")


def _q254_oracle(
    n_lists: int = 8,
    m: int = 4,
    w: int = 16,
    k: int = 4,
    top_n: int = 2,
    post: bool = False,
) -> str:
    """Full DuckDB replay of the targeted IVFADC re-balance (q254):
    q243's training prefix (coarse chain c0→c2, residuals, all m
    residual-codebook chains rc0→rc2 — the LUT blocks dropped, no query
    here), then the maintenance chain: census → top_n hottest cells
    (count desc, cell asc) → ONE restricted Lloyd round over their
    members (round-4 mean seeded from current centroids, emptied cell
    keeps its centroid; reassignment among the updated target centroids
    by round-6 euclidean rank, target-position tiebreak) → re-encode
    every member against its new centroid with the UNCHANGED codebooks
    (round-6 rank, code tiebreak). Pins (id, old_cell, new_cell,
    code0..code{m-1}) for every target-cell member."""
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    blocks = []
    code_blocks = []
    code_joins = []
    code_cols = []
    for j in range(m):
        lo, hi = j * w + 1, j * w + w
        assign_j = f"""
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM remb{j} e CROSS JOIN {{cent}} c
    """
        update_j = f"""
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {{assigned}} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
        blocks.append(f"""
    remb{j} AS (SELECT id, list_slice(v, {lo}, {hi}) AS v FROM remb),
    rc0_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM remb{j} ORDER BY id LIMIT {k})
    ),
    rs0_{j} AS ({assign_j.format(cent=f"rc0_{j}")}),
    ra0_{j} AS (SELECT id, v, cluster FROM rs0_{j} WHERE rn = 1),
    rm1_{j} AS ({update_j.format(assigned=f"ra0_{j}")}),
    rc1n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm1_{j} GROUP BY cluster),
    rc1_{j} AS (SELECT rc0_{j}.cluster, COALESCE(rc1n_{j}.c, rc0_{j}.c) AS c
               FROM rc0_{j} LEFT JOIN rc1n_{j} USING (cluster)),
    rs1_{j} AS ({assign_j.format(cent=f"rc1_{j}")}),
    ra1_{j} AS (SELECT id, v, cluster FROM rs1_{j} WHERE rn = 1),
    rm2_{j} AS ({update_j.format(assigned=f"ra1_{j}")}),
    rc2n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm2_{j} GROUP BY cluster),
    rc2_{j} AS (SELECT rc1_{j}.cluster, COALESCE(rc2n_{j}.c, rc1_{j}.c) AS c
               FROM rc1_{j} LEFT JOIN rc2n_{j} USING (cluster))""")
        code_blocks.append(f"""
    mcode{j} AS (
      SELECT id, cluster AS code{j} FROM (
        SELECT rres.id, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY rres.id
                 ORDER BY ROUND(list_distance(list_slice(rres.r, {lo}, {hi}), c.c), 6),
                          c.cluster
               ) AS rn
        FROM rres CROSS JOIN rc2_{j} c
      ) s WHERE rn = 1
    )""")
        code_joins.append(f"JOIN mcode{j} USING (id)")
        code_cols.append(f"CAST(mcode{j}.code{j} AS BIGINT) AS code{j}")
    # Final projection: the MOVES frame (id, old_cell, new_cell, codes)
    # by default; with post=True the ON-DISK maintenance variant — the
    # rewritten partition rows exactly as persisted (id, list_id,
    # codes), since the disk layout keeps only the new state.
    if post:
        final_select = f"""
    SELECT rres.id, CAST(rres.new_cell AS BIGINT) AS list_id,
           {", ".join(code_cols)}
    FROM rres {" ".join(code_joins)}
    ORDER BY rres.id"""
    else:
        final_select = f"""
    SELECT rres.id, CAST(rres.old_cell AS BIGINT) AS old_cell,
           CAST(rres.new_cell AS BIGINT) AS new_cell,
           {", ".join(code_cols)}
    FROM rres {" ".join(code_joins)}
    ORDER BY rres.id"""
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    rsrc AS (
      SELECT e.id, e.v AS ev, c2.c AS cc
      FROM emb e JOIN cells ON cells.id = e.id
                 JOIN c2 ON c2.cluster = cells.cluster
    ),
    remb AS (
      SELECT id, LIST(u.vx - u.cx ORDER BY u.i) AS v
      FROM rsrc,
           LATERAL (SELECT UNNEST(rsrc.ev) AS vx, UNNEST(rsrc.cc) AS cx,
                    generate_subscripts(rsrc.ev, 1) AS i) u
      GROUP BY id
    ),
    {",".join(blocks)},
    census AS (SELECT cluster, COUNT(*) AS n FROM cells GROUP BY cluster),
    hot AS (SELECT cluster FROM census ORDER BY n DESC, cluster LIMIT {top_n}),
    targets AS (
      SELECT cluster, ROW_NUMBER() OVER (ORDER BY cluster) - 1 AS pos FROM hot
    ),
    mem AS (
      SELECT cells.id, cells.cluster AS old_cell, t.pos, emb.v
      FROM cells JOIN targets t ON t.cluster = cells.cluster
                 JOIN emb ON emb.id = cells.id
    ),
    mu AS (
      SELECT pos, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM mem,
           LATERAL (SELECT UNNEST(mem.v) AS x, generate_subscripts(mem.v, 1) AS i) u
      GROUP BY pos, u.i
    ),
    nc_n AS (SELECT pos, LIST(cx ORDER BY dim) AS c FROM mu GROUP BY pos),
    oc AS (SELECT t.pos, c2.c FROM targets t JOIN c2 ON c2.cluster = t.cluster),
    nc AS (SELECT oc.pos, COALESCE(nc_n.c, oc.c) AS c
           FROM oc LEFT JOIN nc_n USING (pos)),
    ras AS (
      SELECT mem.id, mem.old_cell, mem.v, n.pos,
             ROW_NUMBER() OVER (
               PARTITION BY mem.id
               ORDER BY ROUND(list_distance(mem.v, n.c), 6), n.pos
             ) AS rn
      FROM mem CROSS JOIN nc n
    ),
    fin AS (SELECT id, old_cell, v, pos FROM ras WHERE rn = 1),
    finsrc AS (
      SELECT fin.id, fin.old_cell, t.cluster AS new_cell, fin.v AS fv, nc.c AS cc
      FROM fin JOIN targets t ON t.pos = fin.pos
               JOIN nc ON nc.pos = fin.pos
    ),
    rres AS (
      SELECT id, old_cell, new_cell, LIST(u.vx - u.cx ORDER BY u.i) AS r
      FROM finsrc,
           LATERAL (SELECT UNNEST(finsrc.fv) AS vx, UNNEST(finsrc.cc) AS cx,
                    generate_subscripts(finsrc.fv, 1) AS i) u
      GROUP BY id, old_cell, new_cell
    ),
    {",".join(code_blocks)}
    {final_select}
    """


@query("q254_ivfadc_rebalance", oracle=_q254_oracle())
def q254_ivfadc_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX MAINTENANCE — targeted re-balance of the residual-IVFADC
    index (functions/similarity.ivfadc_rebalance), closing the
    lifecycle gap the round-7 verdict named: q248's streaming ingest
    appends into cells trained once, so hot cells grow unboundedly and
    drift. The two most-populated cells (count desc, id asc — the
    census is an n_lists-row groupBy) are re-clustered among themselves
    with one deterministic Lloyd round seeded from their current
    centroids, and every member is re-encoded against its new centroid
    with the UNCHANGED codebooks. Untargeted cells keep their centroid
    and codes BYTE-IDENTICAL — a probe frontier that avoids the targets
    serves bit-equal before/after (contract-pinned in
    tests/test_llm_ops.py), and a list_id-partitioned index (q245)
    rewrites only the target partitions; movement work is proportional
    to target-cell rows, never corpus size. The oracle replays q243's
    training prefix plus the full maintenance chain and pins
    (id, old_cell, new_cell, code0..code3) for every member."""
    from .functions.similarity import ivfadc_index_build, ivfadc_rebalance

    M = 4
    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=M, k=4, iters=2)
    new_index, new_coarse, moves = ivfadc_rebalance(
        e, index, coarse, cents, top_n=2, iters=1
    )
    out = moves.select(
        "id",
        F.col("old_cell").cast("long").alias("old_cell"),
        F.col("new_cell").cast("long").alias("new_cell"),
        *[F.col(f"code{j}").cast("long").alias(f"code{j}") for j in range(M)],
    ).orderBy("id")
    return _carry(out, index, moves)


@query(
    "q255_index_delete_compact",
    oracle=_q244_oracle(cand_extra=" AND cells.id % 7 != 3"),
)
def q255_index_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION LIFECYCLE for the persisted index (functions/
    index_store) — the GDPR-shaped operation the round-7 verdict named:
    build + persist the q245 composite layout, TOMBSTONE the ids
    ≡ 3 (mod 7) (an O(|ids|) append — no rewrite at delete time), then
    COMPACT: survivors of the affected cells are staged with a
    partition-pruned scan (list_id IN affected — plan-locked in
    tests/test_llm_ops.py) and only those partition directories are
    swapped; untouched cells keep their files byte-identical and the
    tombstones are retired. Serving the compacted index returns exactly
    serve-minus-deleted: the oracle is q244's full replay with the
    deleted ids excluded from the CANDIDATE pool pre-ranking (tombstone
    semantics — the model keeps its historical training; deletion
    changes the serving set, never the centroids). Pre-compaction
    (anti-join) and post-compaction serving equality is contract-pinned
    in tests."""
    import shutil

    from .functions.index_store import (
        index_compact,
        index_delete_ids,
        load_index,
        persist_index,
    )
    from .functions.similarity import ivfadc_index_build, ivfadc_index_search
    from .storage import release_checkpoint

    base = _session_tmp("q255")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
    persist_index(index, coarse, cents, base)
    release_checkpoint(index)
    index_delete_ids(
        spark,
        base,
        e.filter(F.col("vec_id") % 7 == 3).select(F.col("vec_id").alias("id")),
    )
    index_compact(spark, base)
    codes, coarse_r, cents_r = load_index(spark, base)
    return ivfadc_index_search(
        codes, coarse_r, cents_r, e.orderBy("vec_id").limit(64), nprobe=3, topk=5
    )


@query(
    "q256_filtered_ann_persisted",
    oracle=_q244_oracle(
        n_q=20,
        topk=3,
        cand_extra=" AND cells.id IN (SELECT doc_id FROM documents"
        " WHERE lang = 'en')",
    ),
)
def q256_filtered_ann_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-FILTERED ANN × THE PERSISTED INDEX — q253's pre-search
    filter semantics at IVFADC cost (the round-7 verdict's missing
    composition; q253 composed with brute force only). The predicate
    column RIDES the codes table: lang is joined in at persist time, so
    at serve the filter lands IN the codes parquet scan
    (PushedFilters — plan-locked in tests/test_llm_ops.py) and
    candidates leave the pool BEFORE any ranking — never a post-filter
    of a top-k, whose recall silently degrades with filter selectivity.
    The index is trained on the FULL corpus (the filter constrains
    serving, not the model — the same index serves every predicate).
    The oracle is q244's full replay with the en-filter ANDed into the
    candidate pool pre-ranking, 20 queries × top-3. At 100 TB the
    filter rides parquet row-group pruning inside each probed
    partition; highly-selective predicates can instead semi-join the
    codes on a broadcast id set — same plan position, before ADC."""
    import shutil

    from .functions.index_store import load_index, persist_index
    from .functions.similarity import ivfadc_index_build, ivfadc_index_search
    from .storage import release_checkpoint

    base = _session_tmp("q256")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    d = t(spark, sf_dir, "documents")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
    enriched = index.join(d.select(F.col("doc_id").alias("id"), "lang"), "id")
    persist_index(enriched, coarse, cents, base)
    release_checkpoint(index)
    codes, coarse_r, cents_r = load_index(spark, base)
    filtered = codes.filter(F.col("lang") == "en").drop("lang")
    return ivfadc_index_search(
        filtered, coarse_r, cents_r, e.orderBy("vec_id").limit(20), nprobe=3, topk=3
    )


def _q257_oracle(
    n_q: int = 5, k: int = 5, size: int = 64, stride: int = 48, dim: int = 16
) -> str:
    """DuckDB replay of MaxSim chunk retrieval: q135's chunk windows,
    feature-hashed ±1 token projections (exact BIGINT sums over the
    md5_long bit planes), integer dots/norms, ONE sqrt + divide
    round-6 per pair, per-doc MAX, per-query top-k."""
    e_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS e{d}" for d in range(dim)
    )
    q_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS q{d}" for d in range(dim)
    )
    n2 = " + ".join(f"e{d} * e{d}" for d in range(dim))
    qn2 = " + ".join(f"q{d} * q{d}" for d in range(dim))
    dot = " + ".join(f"c.e{d} * q.q{d}" for d in range(dim))
    return f"""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - {size} + {stride}, 1),
                                    {stride})) AS s
      FROM tok
    ),
    chtok AS (SELECT doc_id, s, UNNEST(ts[s:s+{size - 1}]) AS t FROM st),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM chtok
    ),
    cemb0 AS (SELECT doc_id, s, {e_sums} FROM h GROUP BY doc_id, s),
    cemb AS (SELECT *, {n2} AS n2 FROM cemb0),
    qtok AS (
      SELECT doc_id AS qid, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT {n_q})
    ),
    qh AS (
      SELECT qid, CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM qtok
    ),
    qemb0 AS (SELECT qid, {q_sums} FROM qh GROUP BY qid),
    qemb AS (SELECT *, {qn2} AS qn2 FROM qemb0),
    cos AS (
      SELECT q.qid, c.doc_id,
             ROUND(CAST({dot} AS DOUBLE)
                   / SQRT(CAST(c.n2 * q.qn2 AS DOUBLE)), 6) AS cos
      FROM cemb c CROSS JOIN qemb q
      WHERE c.doc_id != q.qid AND c.n2 > 0 AND q.qn2 > 0
    ),
    ms AS (SELECT qid, doc_id, MAX(cos) AS m FROM cos GROUP BY qid, doc_id),
    r AS (
      SELECT qid, doc_id, m,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY m DESC, doc_id) AS rn
      FROM ms
    )
    SELECT qid AS query_id, doc_id, m AS maxsim
    FROM r WHERE rn <= {k}
    ORDER BY query_id, doc_id
    """


@query("q257_maxsim_chunk_retrieval", oracle=_q257_oracle())
def q257_maxsim_chunk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-LEVEL MaxSim RETRIEVAL (functions/retrieval.maxsim_topk) —
    the late-interaction/passage-retrieval shape RAG pipelines run
    (Khattab & Zaharia 2020 §3.1, one vector per query): corpus docs
    are split into q135's 64/48 token windows, each chunk embedded by
    exact feature hashing (±1 md5-bit projections, BIGINT sums), and a
    document's score for a query is the MAX cosine over its chunks —
    a long document matches if its best passage matches. The 5
    lowest-id docs are the queries (embedded whole), top-5 neighbors
    each. Scale shape: Q vectors broadcast into one pass over the
    chunk frame, per-doc MAX partial-aggregates, window top-k — no
    global sort, no driver loop. Every score is integer arithmetic
    until one sqrt + one divide (q40's rounding discipline), so the
    oracle replays the full chain bit-for-bit."""
    from .functions.retrieval import maxsim_topk

    d = t(spark, sf_dir, "documents")
    return maxsim_topk(
        d.orderBy("doc_id").limit(5), d, "text", "doc_id", k=5
    ).orderBy("query_id", "doc_id")


@query("q258_ivfadc_build_persist", oracle=_q248_oracle())
def q258_ivfadc_build_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD LEG of the ANN lifecycle, split out of q244's fused
    train+serve headline (round-7 verdict: the fused number was the
    most load-sensitive headliner because Lloyd training's driver
    barriers dominate under load — bench the two legs separately):
    train the residual-IVFADC index (q243's chain) and PERSIST the
    composite layout (functions/index_store.persist_index — codes
    partitioned by list_id + model sidecars). Returns the persisted
    codes table; the oracle replays the full training chain and pins
    the entire (id, list_id, code0..3) membership (q248's oracle —
    the persisted build must equal the in-session build exactly)."""
    import shutil

    from .functions.index_store import persist_index
    from .functions.similarity import ivfadc_index_build
    from .storage import release_checkpoint

    base = _session_tmp("q258")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
    persist_index(index, coarse, cents, base)
    release_checkpoint(index)
    return (
        spark.read.parquet(f"{base}/codes")
        .select(
            "id",
            F.col("list_id").cast("int").alias("list_id"),
            *[F.col(f"code{j}").cast("int").alias(f"code{j}") for j in range(4)],
        )
        .orderBy("id")
    )


_Q259_BUILT: set[str] = set()


def _persisted_index_base(spark: SparkSession, sf_dir: str) -> str:
    """Build + persist the standard composite IVFADC index (q243's
    training, q245's layout) ONCE per process per sf_dir; return its
    base path. The offline-build step q259 (serve bench) and q262
    (health census) both read from — in bench, only the cold run pays
    it."""
    import os as _os
    import shutil

    from .functions.index_store import persist_index
    from .functions.similarity import ivfadc_index_build
    from .storage import release_checkpoint

    tag = _os.path.basename(sf_dir.rstrip("/"))
    base = _session_tmp(f"q259_{tag}")
    if base not in _Q259_BUILT or not _os.path.isdir(f"{base}/codes"):
        shutil.rmtree(base, ignore_errors=True)
        e = t(spark, sf_dir, "embeddings")
        index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
        persist_index(index, coarse, cents, base)
        release_checkpoint(index)
        _Q259_BUILT.add(base)
    return base


@query("q259_ivfadc_persisted_serve", oracle=_q244_oracle())
def q259_ivfadc_persisted_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE LEG of the ANN lifecycle (q258's counterpart): 64 queries
    against the PERSISTED index in one lazy plan. The index is built
    and persisted ONCE per process per sf_dir (a production
    deployment's offline build — in bench the cold run pays it); every
    subsequent invocation is reload + serving only, so the steady-state
    bench number is the pure serving cost a 100 TB deployment cares
    about. Results are hash-equal to q244's fused train+serve (same
    oracle): q245 proved persisted-reload ≡ fresh-build, this entry
    makes the serve leg a standing benchmark anchor."""
    from .functions.index_store import load_index
    from .functions.similarity import ivfadc_index_search

    base = _persisted_index_base(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings")
    codes, coarse_r, cents_r = load_index(spark, base)
    return ivfadc_index_search(
        codes, coarse_r, cents_r, e.orderBy("vec_id").limit(64), nprobe=3, topk=5
    )


def _q260_oracle(
    n_lists: int = 8,
    m: int = 4,
    w: int = 16,
    k: int = 4,
    post: bool = False,
    train_prefix: bool = False,
) -> str:
    """DuckDB replay of the hot-cell SPLIT (q260): q254's training
    prefix (coarse chain, residuals, m codebook chains), then: hottest
    cell (count desc, id asc) → k=2 Lloyd over its members with
    kmeans_lloyd's exact discipline (seeds = 2 lowest-id member vectors
    round-4; assign → round-4 mean update → final assign) → sub-cluster
    0 keeps the cell id, sub-cluster 1 becomes cell n_lists → members
    re-encode against their sub-centroid with the unchanged codebooks.
    Pins (id, old_cell, new_cell, code0..code{m-1}). ``post=True``
    projects the persisted on-disk state instead (id, list_id, codes).
    ``train_prefix=True`` trains the model (coarse chain + codebooks)
    on ids ≤ max·3/5 while membership/census/split cover the FULL
    corpus — the q271 streaming-ingest shape."""
    tr = "embp" if train_prefix else "emb"
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM {src} e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    blocks = []
    code_blocks = []
    code_joins = []
    code_cols = []
    for j in range(m):
        lo, hi = j * w + 1, j * w + w
        assign_j = f"""
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM remb{j} e CROSS JOIN {{cent}} c
    """
        update_j = f"""
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {{assigned}} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
        blocks.append(f"""
    remb{j} AS (SELECT id, list_slice(v, {lo}, {hi}) AS v FROM remb),
    rc0_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM remb{j} ORDER BY id LIMIT {k})
    ),
    rs0_{j} AS ({assign_j.format(cent=f"rc0_{j}")}),
    ra0_{j} AS (SELECT id, v, cluster FROM rs0_{j} WHERE rn = 1),
    rm1_{j} AS ({update_j.format(assigned=f"ra0_{j}")}),
    rc1n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm1_{j} GROUP BY cluster),
    rc1_{j} AS (SELECT rc0_{j}.cluster, COALESCE(rc1n_{j}.c, rc0_{j}.c) AS c
               FROM rc0_{j} LEFT JOIN rc1n_{j} USING (cluster)),
    rs1_{j} AS ({assign_j.format(cent=f"rc1_{j}")}),
    ra1_{j} AS (SELECT id, v, cluster FROM rs1_{j} WHERE rn = 1),
    rm2_{j} AS ({update_j.format(assigned=f"ra1_{j}")}),
    rc2n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm2_{j} GROUP BY cluster),
    rc2_{j} AS (SELECT rc1_{j}.cluster, COALESCE(rc2n_{j}.c, rc1_{j}.c) AS c
               FROM rc1_{j} LEFT JOIN rc2n_{j} USING (cluster))""")
        code_blocks.append(f"""
    mcode{j} AS (
      SELECT id, cluster AS code{j} FROM (
        SELECT rres.id, c.cluster,
               ROW_NUMBER() OVER (
                 PARTITION BY rres.id
                 ORDER BY ROUND(list_distance(list_slice(rres.r, {lo}, {hi}), c.c), 6),
                          c.cluster
               ) AS rn
        FROM rres CROSS JOIN rc2_{j} c
      ) s WHERE rn = 1
    )""")
        code_joins.append(f"JOIN mcode{j} USING (id)")
        code_cols.append(f"CAST(mcode{j}.code{j} AS BIGINT) AS code{j}")
    # Final projection: the MOVES frame (id, old_cell, new_cell, codes)
    # by default; with post=True the ON-DISK maintenance variant — the
    # rewritten partition rows exactly as persisted (id, list_id,
    # codes), since the disk layout keeps only the new state.
    if post:
        final_select = f"""
    SELECT rres.id, CAST(rres.new_cell AS BIGINT) AS list_id,
           {", ".join(code_cols)}
    FROM rres {" ".join(code_joins)}
    ORDER BY rres.id"""
    else:
        final_select = f"""
    SELECT rres.id, CAST(rres.old_cell AS BIGINT) AS old_cell,
           CAST(rres.new_cell AS BIGINT) AS new_cell,
           {", ".join(code_cols)}
    FROM rres {" ".join(code_joins)}
    ORDER BY rres.id"""
    embp_cte = (
        """,
    embp AS (SELECT id, v FROM emb
             WHERE id <= (SELECT MAX(id) * 3 // 5 FROM emb))"""
        if train_prefix
        else ""
    )
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings){embp_cte},
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM {tr} ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(src=tr, cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(src=tr, cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(src="emb", cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    rsrc AS (
      SELECT e.id, e.v AS ev, c2.c AS cc
      FROM {tr} e JOIN cells ON cells.id = e.id
                 JOIN c2 ON c2.cluster = cells.cluster
    ),
    remb AS (
      SELECT id, LIST(u.vx - u.cx ORDER BY u.i) AS v
      FROM rsrc,
           LATERAL (SELECT UNNEST(rsrc.ev) AS vx, UNNEST(rsrc.cc) AS cx,
                    generate_subscripts(rsrc.ev, 1) AS i) u
      GROUP BY id
    ),
    {",".join(blocks)},
    census AS (SELECT cluster, COUNT(*) AS n FROM cells GROUP BY cluster),
    hot AS (SELECT cluster FROM census ORDER BY n DESC, cluster LIMIT 1),
    mem AS (
      SELECT cells.id, cells.cluster AS old_cell, emb.v
      FROM cells JOIN hot ON hot.cluster = cells.cluster
                 JOIN emb ON emb.id = cells.id
    ),
    sc0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS pos,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM mem ORDER BY id LIMIT 2)
    ),
    ss0 AS (
      SELECT mem.id, mem.v, s.pos,
             ROW_NUMBER() OVER (
               PARTITION BY mem.id
               ORDER BY ROUND(list_distance(mem.v, s.c), 6), s.pos
             ) AS rn
      FROM mem CROSS JOIN sc0 s
    ),
    sa0 AS (SELECT id, v, pos FROM ss0 WHERE rn = 1),
    sm1 AS (
      SELECT pos, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM sa0,
           LATERAL (SELECT UNNEST(sa0.v) AS x, generate_subscripts(sa0.v, 1) AS i) u
      GROUP BY pos, u.i
    ),
    sc1n AS (SELECT pos, LIST(cx ORDER BY dim) AS c FROM sm1 GROUP BY pos),
    sc1 AS (SELECT sc0.pos, COALESCE(sc1n.c, sc0.c) AS c
            FROM sc0 LEFT JOIN sc1n USING (pos)),
    ss1 AS (
      SELECT mem.id, mem.old_cell, mem.v, s.pos,
             ROW_NUMBER() OVER (
               PARTITION BY mem.id
               ORDER BY ROUND(list_distance(mem.v, s.c), 6), s.pos
             ) AS rn
      FROM mem CROSS JOIN sc1 s
    ),
    fin AS (SELECT id, old_cell, v, pos FROM ss1 WHERE rn = 1),
    finsrc AS (
      SELECT fin.id, fin.old_cell,
             CASE WHEN fin.pos = 0 THEN fin.old_cell
                  ELSE {n_lists} END AS new_cell,
             fin.v AS fv, sc1.c AS cc
      FROM fin JOIN sc1 ON sc1.pos = fin.pos
    ),
    rres AS (
      SELECT id, old_cell, new_cell, LIST(u.vx - u.cx ORDER BY u.i) AS r
      FROM finsrc,
           LATERAL (SELECT UNNEST(finsrc.fv) AS vx, UNNEST(finsrc.cc) AS cx,
                    generate_subscripts(finsrc.fv, 1) AS i) u
      GROUP BY id, old_cell, new_cell
    ),
    {",".join(code_blocks)}
    {final_select}
    """


@query("q260_ivfadc_split_hot_cell", oracle=_q260_oracle())
def q260_ivfadc_split_hot_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOT-CELL SPLIT (functions/similarity.ivfadc_split_cell) — q254's
    sibling that GROWS the index when one cell's population makes
    probes that hit it scan too much: the most populated cell splits in
    two (kmeans_lloyd's k=2 discipline over its members), sub-cluster 0
    keeps the cell id, sub-cluster 1 becomes the appended cell
    n_lists — existing cell ids and partition directories never
    renumber. Members re-encode against their sub-centroid with the
    UNCHANGED codebooks; all other cells stay byte-identical (same
    serve-equality contract as q254, pinned in tests). Split work ∝
    hot-cell rows; a partitioned index writes one rewritten + one new
    partition. Oracle: full replay of training prefix + the split
    chain, pinning (id, old_cell, new_cell, code0..3)."""
    from .functions.similarity import ivfadc_index_build, ivfadc_split_cell

    M = 4
    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=M, k=4, iters=2)
    new_index, new_coarse, moves = ivfadc_split_cell(
        e, index, coarse, cents, iters=1
    )
    out = moves.select(
        "id",
        F.col("old_cell").cast("long").alias("old_cell"),
        F.col("new_cell").cast("long").alias("new_cell"),
        *[F.col(f"code{j}").cast("long").alias(f"code{j}") for j in range(M)],
    ).orderBy("id")
    return _carry(out, index, moves)


@query(
    "q261_fingerprint_corpus_delete",
    oracle="""
    WITH kept AS (
      SELECT doc_id,
             CAST(('0x' || SUBSTRING(md5(text), 1, 15)) AS BIGINT) AS fp
      FROM documents WHERE doc_id % 11 != 0
    )
    SELECT fp, CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS keeper
    FROM kept GROUP BY fp ORDER BY fp
    """,
)
def q261_fingerprint_corpus_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION ON THE DEDUP FINGERPRINT CORPUS — q255's tombstone
    discipline applied to the OTHER retained table a curation pipeline
    keeps forever (the round-7 verdict named both): the exact-dedup
    fingerprint corpus (id, md5_long(text)) is persisted partitioned by
    fingerprint bucket (fp % 16 — the compaction unit), doc ids
    ≡ 0 (mod 11) are tombstoned (O(|ids|) append via the SAME
    functions/index_store.index_delete_ids), the affected buckets are
    compacted with the generalized index_compact (partition-pruned
    rewrite, bucket column instead of list_id), and the post-compaction
    fingerprint census (fp, multiplicity, keeper id) is served. The
    oracle recomputes fingerprints of the retained corpus directly —
    serve-after-delete-and-compact ≡ fresh-minus-deleted, pinning every
    retained fingerprint value. This is what makes a GDPR erasure
    effective against FUTURE dedup decisions, not just the index."""
    import shutil

    from .functions.dedup import md5_long
    from .functions.index_store import index_compact, index_delete_ids

    base = _session_tmp("q261")
    shutil.rmtree(base, ignore_errors=True)
    d = t(spark, sf_dir, "documents")
    fps = d.select(
        F.col("doc_id").alias("id"), md5_long("text").alias("fp")
    ).withColumn("bucket", (F.col("fp") % 16).cast("int"))
    fps.write.mode("overwrite").partitionBy("bucket").parquet(f"{base}/fps")
    index_delete_ids(
        spark, base, d.filter(F.col("doc_id") % 11 == 0).select("doc_id")
    )
    index_compact(spark, base, table="fps", part_col="bucket")
    kept = spark.read.parquet(f"{base}/fps")
    return (
        kept.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("id").alias("keeper"),
        )
        .orderBy("fp")
    )


def _q262_oracle(n_lists: int = 8) -> str:
    # The q246 coarse-chain membership reduced to the health census:
    # per-cell population, imbalance = n / (total/n_lists), and the
    # hot flag at the 1.5× threshold q254's default rebalance targets.
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH emb AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    census AS (SELECT cluster, COUNT(*) AS n FROM cells GROUP BY cluster),
    tot AS (SELECT SUM(n) AS total FROM census)
    SELECT CAST(census.cluster AS BIGINT) AS list_id,
           CAST(census.n AS BIGINT) AS n,
           ROUND(census.n * {float(n_lists)} / tot.total, 4) AS imbalance,
           census.n * {float(n_lists)} > 1.5 * tot.total AS hot
    FROM census CROSS JOIN tot
    ORDER BY list_id
    """


@query("q262_index_health", oracle=_q262_oracle())
def q262_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX HEALTH CENSUS — the observability query that DRIVES the
    round-8 maintenance operators: per-cell population of the persisted
    codes table, imbalance factor n/(total/n_lists), and the hot flag
    at the 1.5× threshold (the condition under which a deployment
    schedules q254's rebalance or q260's split). Reads ONLY the
    persisted codes table (the id/list_id columns — no vectors, no
    model sidecars): an n_lists-row groupBy over the index, the
    cheapest possible scan of a 100 TB deployment's biggest artifact,
    and the per-cell output is exactly the partition census the
    partition-pruned maintenance rewrites budget against. The 1-row
    total rides back as a broadcast crossJoin (bounded — runtime-
    measured like every exemption). Oracle replays the coarse-chain
    membership (q246's CTEs) and the census arithmetic."""
    from .functions.index_store import load_index

    base = _persisted_index_base(spark, sf_dir)
    codes, coarse_r, _ = load_index(spark, base)
    # n_lists comes from the COARSE SIDECAR of the index being censused
    # (not a constant): an index persisted with a different n_lists
    # would otherwise silently mislabel imbalance/hot.
    nl = F.lit(float(len(coarse_r)))
    census = codes.groupBy("list_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = census.agg(F.sum("n").alias("total"))
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            F.col("list_id").cast("long").alias("list_id"),
            "n",
            F.round(F.col("n") * nl / F.col("total"), 4).alias("imbalance"),
            (F.col("n") * nl > F.lit(1.5) * F.col("total")).alias("hot"),
        )
        .orderBy("list_id")
    )


def _q263_oracle(
    n_q: int = 5,
    k: int = 5,
    n_lists: int = 8,
    nprobe: int = 3,
    size: int = 64,
    stride: int = 48,
    dim: int = 16,
    cand_extra: str = "",
) -> str:
    """DuckDB replay of IVF-pruned MaxSim (q263): q257's feature-hashed
    chunk embeddings keyed by ck = doc_id·10⁶ + window index, the q39
    deterministic-Lloyd coarse chain over the CHUNK vectors (2 iters,
    round-4 means, round-6 assignment ranks), per-query probe of the
    nprobe nearest cells (round-6 −dot rank, cluster tiebreak),
    candidate chunks from probed cells only, exact integer cosines,
    per-doc MAX, per-query top-k."""
    e_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS e{d}" for d in range(dim)
    )
    q_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS q{d}" for d in range(dim)
    )
    v_list = ", ".join(f"CAST(e{d} AS DOUBLE)" for d in range(dim))
    qv_list = ", ".join(f"CAST(q{d} AS DOUBLE)" for d in range(dim))
    n2 = " + ".join(f"e{d} * e{d}" for d in range(dim))
    qn2 = " + ".join(f"q{d} * q{d}" for d in range(dim))
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - {size} + {stride}, 1),
                                    {stride})) AS s
      FROM tok
    ),
    chtok AS (SELECT doc_id, s, UNNEST(ts[s:s+{size - 1}]) AS t FROM st),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM chtok
    ),
    cemb0 AS (SELECT doc_id, s, {e_sums} FROM h GROUP BY doc_id, s),
    cemb AS (
      SELECT doc_id * 1000000 + (s - 1) // {stride} AS ck, doc_id AS doc,
             [{v_list}] AS v, {n2} AS n2
      FROM cemb0
    ),
    emb AS (SELECT ck AS id, v FROM cemb),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    qtok AS (
      SELECT doc_id AS qid, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT {n_q})
    ),
    qh AS (
      SELECT qid, CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM qtok
    ),
    qemb0 AS (SELECT qid, {q_sums} FROM qh GROUP BY qid),
    qemb AS (SELECT qid, [{qv_list}] AS qv, {qn2} AS qn2 FROM qemb0),
    probe AS (
      SELECT q.qid, c.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY ROUND(-list_dot_product(q.qv, c.c), 6), c.cluster
             ) AS prn
      FROM qemb q CROSS JOIN c2 c
    ),
    cand AS (
      SELECT p.qid, cemb.doc, cemb.v, cemb.n2, q.qv, q.qn2
      FROM probe p
      JOIN cells ON cells.cluster = p.cluster
      JOIN cemb ON cemb.ck = cells.id
      JOIN qemb q ON q.qid = p.qid
      WHERE p.prn <= {nprobe} AND cemb.doc != p.qid{cand_extra}
    ),
    cos AS (
      SELECT qid, doc,
             ROUND(list_dot_product(qv, v)
                   / SQRT(CAST(n2 * qn2 AS DOUBLE)), 6) AS cos
      FROM cand WHERE n2 > 0 AND qn2 > 0
    ),
    ms AS (SELECT qid, doc, MAX(cos) AS m FROM cos GROUP BY qid, doc),
    r AS (
      SELECT qid, doc, m,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY m DESC, doc) AS rn
      FROM ms
    )
    SELECT qid AS query_id, doc AS doc_id, m AS maxsim
    FROM r WHERE rn <= {k}
    ORDER BY query_id, doc_id
    """


@query("q263_maxsim_ivf_pruned", oracle=_q263_oracle())
def q263_maxsim_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PRUNED MaxSim (functions/retrieval.maxsim_ivf_topk) — q257's
    late-interaction scoring at ANN cost, the composition a RAG corpus
    runs at 100 TB where the CHUNK table (every doc × every window) is
    the big side: chunk embeddings are coarse-quantized with the q39
    deterministic-Lloyd discipline, each query scores only the chunks
    in its nprobe nearest cells, and the per-doc MAX + per-query top-k
    run over candidates alone — pair work bounded to ~nprobe/n_lists of
    the chunk table, and the chunk-cell assignment persists/partitions
    exactly like the q245 codes layout. Per-chunk probing preserves the
    late-interaction property (a doc is found if its BEST chunk lands
    in a probed cell). Integer feature hashing keeps every dot/norm an
    exact BIGINT sum, so the oracle replays chunking, hashing, the full
    Lloyd chain over chunk vectors, probes, cosines, MAX and ranks."""
    from .functions.retrieval import maxsim_ivf_topk

    d = t(spark, sf_dir, "documents")
    return maxsim_ivf_topk(
        d.orderBy("doc_id").limit(5), d, "text", "doc_id", k=5, n_lists=8, nprobe=3
    ).orderBy("query_id", "doc_id")


def _q264_oracle(
    n_lists: int = 8, size: int = 64, stride: int = 48, dim: int = 16
) -> str:
    """q263's chunk-embedding + coarse-chain CTEs ENDING at the cell
    membership: the batch assignment the streamed chunk ingest must
    reproduce bit-for-bit for every (chunk key, cell)."""
    e_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS e{d}" for d in range(dim)
    )
    v_list = ", ".join(f"CAST(e{d} AS DOUBLE)" for d in range(dim))
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - {size} + {stride}, 1),
                                    {stride})) AS s
      FROM tok
    ),
    chtok AS (SELECT doc_id, s, UNNEST(ts[s:s+{size - 1}]) AS t FROM st),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM chtok
    ),
    cemb0 AS (SELECT doc_id, s, {e_sums} FROM h GROUP BY doc_id, s),
    emb AS (
      SELECT doc_id * 1000000 + (s - 1) // {stride} AS id, [{v_list}] AS v
      FROM cemb0
    ),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1)
    SELECT id AS ck, CAST(cluster AS BIGINT) AS list_id
    FROM cells ORDER BY ck
    """


@query("q264_stream_chunk_ingest", oracle=_q264_oracle())
def q264_stream_chunk_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHUNK-EMBEDDING INGEST — q246/q248's incremental-index
    story for the RETRIEVAL side (q263's layout): documents arrive as a
    stream, each row CHUNKS + EMBEDS + CELL-ASSIGNS entirely inside one
    stateless map (functions/retrieval.hash_chunk_embeddings is
    shuffle-free by construction — window starts are a sequence, token
    hashes a transform, components aggregate folds, one posexplode;
    cell = argmin_pos against the persisted coarse centroids), then
    APPENDS to the list_id-partitioned chunk index under AvailableNow.
    Assignment is per-row, so the streamed membership equals the batch
    build bit-for-bit regardless of arrival order — the oracle replays
    chunking, hashing and the full chunk-vector Lloyd chain and pins
    every (chunk key, cell). Production loop: q263 trains and serves;
    this is the forever-running ingest that files new documents'
    passages into probed cells."""
    import shutil

    from .functions.retrieval import hash_chunk_embeddings
    from .functions.similarity import argmin_pos
    from .ml.kmeans import kmeans_lloyd
    from .storage import release_checkpoint
    from .streaming.core import documents_stream

    DIM = 16
    d = t(spark, sf_dir, "documents")
    chv = hash_chunk_embeddings(d).select(
        (F.col("id") * 1000000 + F.col("chunk_id")).alias("ck"),
        F.array(*[F.col(f"e{j}").cast("double") for j in range(DIM)]).alias("v"),
    )
    trained, coarse = kmeans_lloyd(chv, "v", "ck", k=8, iters=2, return_centroids=True)
    release_checkpoint(trained)  # the stream rebuilds the membership

    s = hash_chunk_embeddings(documents_stream(spark, sf_dir)).select(
        (F.col("id") * 1000000 + F.col("chunk_id")).alias("ck"),
        F.array(*[F.col(f"e{j}").cast("double") for j in range(DIM)]).alias("v"),
    )
    assigned = s.select(
        "ck", argmin_pos("v", coarse).cast("int").alias("list_id")
    )
    base = _session_tmp("q264")
    shutil.rmtree(base, ignore_errors=True)
    (
        assigned.writeStream.format("parquet")
        .option("path", f"{base}/chunks")
        .option("checkpointLocation", f"{base}/ckpt")
        .partitionBy("list_id")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(f"{base}/chunks")
        .select("ck", F.col("list_id").cast("long").alias("list_id"))
        .orderBy("ck")
    )


def _q265_oracle(
    n_lists: int = 8, size: int = 64, stride: int = 48, dim: int = 16
) -> str:
    """q264's chunk-embedding + chunk-vector coarse-chain CTEs extended
    to pin the FULL persisted chunk-index row — (ck, doc, list_id,
    e0..e{dim-1}, n2): the build leg's on-disk artifact must equal the
    batch computation bit-for-bit, embeddings and norms included."""
    e_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS e{d}" for d in range(dim)
    )
    v_list = ", ".join(f"CAST(e{d} AS DOUBLE)" for d in range(dim))
    n2 = " + ".join(f"e{d} * e{d}" for d in range(dim))
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - {size} + {stride}, 1),
                                    {stride})) AS s
      FROM tok
    ),
    chtok AS (SELECT doc_id, s, UNNEST(ts[s:s+{size - 1}]) AS t FROM st),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM chtok
    ),
    cemb0 AS (SELECT doc_id, s, {e_sums} FROM h GROUP BY doc_id, s),
    cemb AS (
      SELECT doc_id * 1000000 + (s - 1) // {stride} AS ck, doc_id AS doc,
             {", ".join(f"e{d}" for d in range(dim))}, {n2} AS n2,
             [{v_list}] AS v
      FROM cemb0
    ),
    emb AS (SELECT ck AS id, v FROM cemb),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1)
    SELECT c.ck, CAST(c.doc AS BIGINT) AS doc,
           CAST(cells.cluster AS BIGINT) AS list_id,
           {", ".join(f"CAST(c.e{d} AS BIGINT) AS e{d}" for d in range(dim))},
           CAST(c.n2 AS BIGINT) AS n2
    FROM cemb c JOIN cells ON cells.id = c.ck
    ORDER BY c.ck
    """


@query("q265_chunk_index_build_persist", oracle=_q265_oracle())
def q265_chunk_index_build_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUILD LEG of the chunk-level MaxSim lifecycle (functions/
    retrieval.build_chunk_index) — the round-8 verdict's #1: q263
    previously embedded the corpus and trained the chunk coarse
    quantizer INSIDE the serve path on every invocation. This entry is
    the offline build a deployment schedules instead: shuffle-free
    chunk embeddings (one checkpointed execution feeds both Lloyd
    training and the persist write), deterministic-Lloyd chunk coarse
    quantizer, cell assignment via the same argmin_pos expression the
    streaming ingest (q264) files arrivals with, persisted as chunk
    rows PARTITIONED BY list_id + the coarse sidecar
    (functions/index_store.persist_chunk_index). The oracle replays
    chunking, feature hashing, the full chunk-vector Lloyd chain and
    pins every persisted row END-TO-END — embeddings, norms and cell
    membership (ck, doc, list_id, e0..e15, n2)."""
    import shutil

    from .functions.retrieval import build_chunk_index

    DIM = 16
    base = _session_tmp("q265")
    shutil.rmtree(base, ignore_errors=True)
    d = t(spark, sf_dir, "documents")
    build_chunk_index(d, base, n_lists=8)
    return (
        spark.read.parquet(f"{base}/chunks")
        .select(
            "ck",
            F.col("doc").cast("long").alias("doc"),
            F.col("list_id").cast("long").alias("list_id"),
            *[F.col(f"e{j}") for j in range(DIM)],
            F.col("n2").cast("long").alias("n2"),
        )
        .orderBy("ck")
    )


_CHUNK_BUILT: set[str] = set()


def _persisted_chunk_base(spark: SparkSession, sf_dir: str) -> str:
    """Build + persist the chunk-level MaxSim index (q265's layout)
    ONCE per process per sf_dir; return its base path — q259's
    per-process discipline for the retrieval side, so q266's warm runs
    measure pure serving."""
    import os as _os
    import shutil

    from .functions.retrieval import build_chunk_index

    tag = _os.path.basename(sf_dir.rstrip("/"))
    base = _session_tmp(f"q266_{tag}")
    if base not in _CHUNK_BUILT or not _os.path.isdir(f"{base}/chunks"):
        shutil.rmtree(base, ignore_errors=True)
        build_chunk_index(t(spark, sf_dir, "documents"), base, n_lists=8)
        _CHUNK_BUILT.add(base)
    return base


@query("q266_maxsim_persisted_serve", oracle=_q263_oracle())
def q266_maxsim_persisted_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE LEG of the chunk-level MaxSim lifecycle (functions/
    retrieval.maxsim_persisted_topk) — q259's build/serve discipline
    applied to the retrieval corpus: the chunk index is built and
    persisted ONCE per process (q265's offline build; in bench the
    cold run pays it), and every invocation is reload + ONE lazy
    5-query MaxSim plan — probe the coarse sidecar's centroids, score
    candidate chunks from the probed cells, per-doc MAX, window top-k.
    No training, no corpus embedding in the serve path: the
    steady-state number is the pure serving cost a RAG deployment
    cares about. Results are hash-equal to the fused q263 (same
    oracle): persisted-reload serving ≡ fresh-build serving, the
    contract q245 proved for whole-doc vectors, now held by the chunk
    family."""
    from .functions.index_store import load_chunk_index
    from .functions.retrieval import maxsim_persisted_topk

    base = _persisted_chunk_base(spark, sf_dir)
    chunks, coarse = load_chunk_index(spark, base)
    d = t(spark, sf_dir, "documents")
    return maxsim_persisted_topk(
        d.orderBy("doc_id").limit(5), chunks, coarse, k=5, nprobe=3
    ).orderBy("query_id", "doc_id")


@query(
    "q268_chunk_corpus_delete_cascade",
    oracle=_q263_oracle(cand_extra=" AND cemb.doc % 9 != 4"),
)
def q268_chunk_corpus_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCUMENT DELETION CASCADING TO THE CHUNK INDEX — the round-8
    verdict's #3: a GDPR erasure of a DOCUMENT must remove ALL its
    passage rows from the persisted retrieval index. Build + persist
    the chunk index (q265's layout), tombstone the doc ids ≡ 4 (mod 9)
    (index_delete_ids — an O(|ids|) append keyed on the DOCUMENT id;
    load_chunk_index anti-joins on the chunk table's doc column, so one
    tombstoned document erases every one of its chunks from serving
    immediately), COMPACT (index_compact with id_col='doc' — the
    partition-pruned stage-and-swap, untouched cell directories
    byte-identical, tombstones retired), then serve 5 queries from the
    compacted index. The oracle replays the FULL original training
    chain (tombstone semantics: the model keeps its historical
    training) with the deleted documents excluded from the CANDIDATE
    pool pre-ranking — serve-after-delete-and-compact ≡
    fresh-serve-minus-deleted, pinning every surviving score."""
    import shutil

    from .functions.index_store import (
        index_compact,
        index_delete_ids,
        load_chunk_index,
    )
    from .functions.retrieval import build_chunk_index, maxsim_persisted_topk

    base = _session_tmp("q268")
    shutil.rmtree(base, ignore_errors=True)
    d = t(spark, sf_dir, "documents")
    build_chunk_index(d, base, n_lists=8)
    index_delete_ids(
        spark, base, d.filter(F.col("doc_id") % 9 == 4).select("doc_id")
    )
    index_compact(spark, base, table="chunks", part_col="list_id", id_col="doc")
    chunks, coarse = load_chunk_index(spark, base)
    return maxsim_persisted_topk(
        d.orderBy("doc_id").limit(5), chunks, coarse, k=5, nprobe=3
    ).orderBy("query_id", "doc_id")


@query("q267_two_level_coarse_encode", oracle=_q248_oracle())
def q267_two_level_coarse_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL COARSE ASSIGNMENT (functions/similarity.
    ivfadc_encode_two_level) — the round-8 verdict's #2: brute coarse
    assignment ranks all n_lists centroids per vector, making encode
    cost ∝ n_lists (PERF.md addendum 3; production n_lists is 10⁴-10⁵,
    so the brute argmin is the ingest bottleneck). The centroids are
    clustered into √n_lists groups ONCE driver-side (model state), and
    each vector ranks the group reps plus the member centroids of its
    probed groups — per-vector cost √n_lists·(1+probe_groups) instead
    of n_lists, still a pure stream-legal map. THIS entry runs the
    FULL-PROBE configuration (probe_groups = n_groups), whose candidate
    set is every centroid: the oracle (q248's full training + encode
    replay) therefore pins two-level-with-full-probe ≡ brute argmin
    END-TO-END, bit-for-bit through DuckDB — the exactness contract
    that makes the partial-probe production setting a principled
    approximation (same round-6 rank + original-index tiebreak inside
    the candidate set). The partial-probe speed curve is PERF.md's
    round-9 addendum; its group-validity property is pinned in
    tests/test_llm_ops.py."""
    from .functions.similarity import ivfadc_encode_two_level, ivfadc_index_build
    from .storage import release_checkpoint

    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
    release_checkpoint(index)
    out = ivfadc_encode_two_level(
        e, coarse, cents, n_groups=3, probe_groups=3
    )
    return out.orderBy("id")


@query("q269_on_disk_rebalance", oracle=_q254_oracle(post=True))
def q269_on_disk_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON-DISK INDEX MAINTENANCE (functions/index_store.
    index_rebalance_on_disk) — the round-8 verdict's #4: q254
    transforms in-session frames; a deployment runs the rebalance
    against the q245 DIRECTORIES. Build + persist the composite index,
    then rebalance the two hottest cells ON DISK: load codes + model
    sidecars, restricted-Lloyd re-cluster (q254's exact maths), stage
    the re-encoded rows, swap ONLY the target cells' partition
    directories (the compaction two-rename discipline — untouched
    partition FILES are byte-identical, asserted in
    tests/test_llm_ops.py), and overwrite the coarse sidecar. The
    query serves the REWRITTEN cells' rows as read back from disk;
    the oracle is q254's full replay projected to the persisted state
    (id, list_id, code0..code3) — on-disk maintenance ≡ in-session
    maintenance, row for row."""
    import shutil

    from .functions.index_store import (
        index_rebalance_on_disk,
        persist_index,
    )
    from .functions.similarity import ivfadc_index_build
    from .storage import release_checkpoint

    M = 4
    base = _session_tmp("q269")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=M, k=4, iters=2)
    persist_index(index, coarse, cents, base)
    release_checkpoint(index)
    stats = index_rebalance_on_disk(spark, base, e, top_n=2)
    # the rewritten partitions hold exactly the target cells' members —
    # serve them back from disk; the oracle pins every row
    return (
        spark.read.parquet(f"{base}/codes")
        .filter(F.col("list_id").isin(stats["targets"]))
        .select(
            "id",
            F.col("list_id").cast("long").alias("list_id"),
            *[F.col(f"code{j}").cast("long").alias(f"code{j}") for j in range(M)],
        )
        .orderBy("id")
    )


def _q270_oracle(
    k_lex: int = 100,
    k_sem: int = 100,
    topk: int = 10,
    size: int = 64,
    stride: int = 48,
    dim: int = 16,
) -> str:
    """DuckDB replay of the hybrid retrieval capstone (q270): the q189
    BM25 leg with the QUERY DOCUMENT'S OWN distinct tokens as terms,
    the q257 chunk-MaxSim leg for the same query document, fused by
    reciprocal rank (1/(60+rank), round-6)."""
    e_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS e{d}" for d in range(dim)
    )
    q_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS q{d}" for d in range(dim)
    )
    n2 = " + ".join(f"e{d} * e{d}" for d in range(dim))
    qn2 = " + ".join(f"q{d} * q{d}" for d in range(dim))
    dot = " + ".join(f"c.e{d} * q.q{d}" for d in range(dim))
    return f"""
    WITH qdoc AS (SELECT MIN(doc_id) AS qid FROM documents),
    docs AS (SELECT doc_id AS id, STRING_SPLIT(LOWER(text), ' ') AS ts
             FROM documents),
    qterms AS (
      SELECT DISTINCT t
      FROM documents, LATERAL UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS u(t)
      WHERE doc_id = (SELECT qid FROM qdoc)
    ),
    dl AS (SELECT id, LEN(ts) AS dl FROM docs),
    tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_tokens FROM dl),
    tf AS (
      SELECT id, t AS term, COUNT(*) AS tf
      FROM docs, LATERAL UNNEST(ts) AS u(t)
      WHERE t IN (SELECT t FROM qterms)
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.id,
             ROUND(LN((n_docs - df + 0.5) / (df + 0.5) + 1)
                   * tf * (1.2 + 1)
                   / (tf + 1.2 * (1 - 0.75 + 0.75 * dl * n_docs / total_tokens)),
                   6) AS s
      FROM tf JOIN dfreq USING (term) JOIN dl USING (id) CROSS JOIN tot
    ),
    bm25 AS (
      SELECT id, ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE), 4) AS bm25
      FROM scored WHERE id != (SELECT qid FROM qdoc) GROUP BY 1
    ),
    lex AS (
      SELECT id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS lrank
      FROM bm25 QUALIFY lrank <= {k_lex}
    ),
    tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - {size} + {stride}, 1),
                                    {stride})) AS s
      FROM tok
    ),
    chtok AS (SELECT doc_id, s, UNNEST(ts[s:s+{size - 1}]) AS t FROM st),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM chtok
    ),
    cemb0 AS (SELECT doc_id, s, {e_sums} FROM h GROUP BY doc_id, s),
    cemb AS (SELECT *, {n2} AS n2 FROM cemb0),
    qtok AS (
      SELECT doc_id AS qid, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM documents WHERE doc_id = (SELECT qid FROM qdoc)
    ),
    qh AS (
      SELECT qid, CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM qtok
    ),
    qemb0 AS (SELECT qid, {q_sums} FROM qh GROUP BY qid),
    qemb AS (SELECT *, {qn2} AS qn2 FROM qemb0),
    cos AS (
      SELECT q.qid, c.doc_id,
             ROUND(CAST({dot} AS DOUBLE)
                   / SQRT(CAST(c.n2 * q.qn2 AS DOUBLE)), 6) AS cos
      FROM cemb c CROSS JOIN qemb q
      WHERE c.doc_id != q.qid AND c.n2 > 0 AND q.qn2 > 0
    ),
    ms AS (SELECT doc_id, MAX(cos) AS m FROM cos GROUP BY doc_id),
    sem AS (
      SELECT doc_id AS id, ROW_NUMBER() OVER (ORDER BY m DESC, doc_id) AS srank
      FROM ms QUALIFY srank <= {k_sem}
    ),
    fused AS (
      SELECT COALESCE(lex.id, sem.id) AS id,
             ROUND(COALESCE(1.0 / (60 + lrank), 0)
                   + COALESCE(1.0 / (60 + srank), 0), 6) AS rrf
      FROM lex FULL OUTER JOIN sem ON lex.id = sem.id
    )
    SELECT id AS doc_id, rrf FROM fused ORDER BY rrf DESC, id LIMIT {topk}
    """


@query("q270_hybrid_bm25_maxsim_rrf", oracle=_q270_oracle())
def q270_hybrid_bm25_maxsim_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL CAPSTONE — the full modern retrieval stack in
    one oracle-checked query (round-8 verdict #5): the LEXICAL leg
    (BM25, q175's machinery, with the query DOCUMENT'S own distinct
    tokens as the term set — two bounded collects: the min doc id and
    one document's vocabulary) and the SEMANTIC leg (chunk-level
    MaxSim, q257's late-interaction scoring) each produce a top-100
    ranking for the same query document, fused by RECIPROCAL RANK
    [Cormack et al. 2009]: Σ 1/(60+rank) over a full outer join — the
    composition a RAG pipeline actually serves (keyword recall +
    passage-level semantic recall, rank-fused so incomparable score
    scales never mix). Scale shape per leg is unchanged: BM25 shuffles
    query-term postings only; MaxSim broadcasts one query vector over
    the chunk frame; ranks are integers from deterministically
    tie-broken windows, so the fusion is cross-engine exact. Both legs
    exclude the query document itself."""
    from pyspark.sql.window import Window

    from .functions.retrieval import bm25_topk, maxsim_topk

    d = t(spark, sf_dir, "documents")
    qid = d.agg(F.min("doc_id")).collect()[0][0]  # bounded: 1 scalar
    qdoc = d.filter(F.col("doc_id") == qid)
    terms = [
        r["t"]
        for r in qdoc.select(
            F.explode(F.split(F.lower("text"), " ")).alias("t")
        )
        .distinct()
        .collect()  # bounded: one document's vocabulary
    ]
    # score over the FULL corpus (BM25 stats — n_docs, avgdl, df — are
    # model state; excluding the query from the model would shift every
    # idf), then drop the query doc from the RANKING: topk=101 keeps
    # enough rows that the post-filter top-100 equals ranking-without-it
    lex = (
        bm25_topk(d, terms, topk=101)
        .filter(F.col("doc_id") != qid)
        .withColumn(
            "lrank", F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
        )
        .filter(F.col("lrank") <= 100)
        .select(F.col("doc_id").alias("id"), "lrank")
    )
    sem = (
        maxsim_topk(qdoc, d, k=100)
        .withColumn(
            "srank",
            F.row_number().over(Window.orderBy(F.desc("maxsim"), "doc_id")),
        )
        .select(F.col("doc_id").alias("id"), "srank")
    )
    fused = lex.join(sem, "id", "full_outer").select(
        "id",
        F.round(
            F.coalesce(1.0 / (60 + F.col("lrank")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("srank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.desc("rrf"), "id")
        .limit(10)
        .select(F.col("id").alias("doc_id"), "rrf")
    )


@query(
    "q271_stream_health_triggered_split",
    oracle=_q260_oracle(post=True, train_prefix=True),
)
def q271_stream_health_triggered_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEALTH-DRIVEN MAINTENANCE TRIGGER — the operational loop
    build → ingest → monitor → maintain closed end-to-end (round-8
    verdict #6): the index is built offline on the corpus PREFIX
    (vec_id ≤ max·3/5 — q258's build), the REMAINDER arrives as a
    stream and is encoded by the stateless q248 map and APPENDED to the
    persisted codes partitions, and each micro-batch's foreachBatch
    runs the q262 HEALTH CENSUS over the persisted codes (an
    n_lists-row groupBy, n_lists derived from the coarse sidecar).
    When a cell's hot flag trips (imbalance > 1.05 here — the knob a
    deployment tunes; q262's default 1.5 never fires on this corpus'
    near-uniform cells), the trigger fires EXACTLY ONE on-disk split of
    the hottest cell (functions/index_store.index_split_on_disk — the
    partition-pruned stage-and-swap, coarse sidecar grown by one). The
    query serves the two rewritten partitions back from disk; the
    oracle replays prefix training, full-corpus membership, census,
    hottest-cell election and the k=2 split re-encode, pinning every
    rewritten row (id, list_id, code0..code3). Single-file AvailableNow
    delivery makes the one-batch trigger deterministic; the
    at-most-one-split guard is what a production trigger would carry
    anyway (maintenance must not storm)."""
    import shutil

    from .functions.index_store import index_split_on_disk, persist_index
    from .functions.similarity import ivfadc_encode, ivfadc_index_build
    from .storage import release_checkpoint
    from .streaming.core import embeddings_stream

    M, HOT = 4, 1.05
    base = _session_tmp("q271")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    cut = e.agg(F.max("vec_id")).collect()[0][0] * 3 // 5  # bounded: 1 scalar
    index, coarse, cents = ivfadc_index_build(
        e.filter(F.col("vec_id") <= cut), n_lists=8, m=M, k=4, iters=2
    )
    persist_index(index, coarse, cents, base)
    release_checkpoint(index)
    n_lists = len(coarse)

    ingest = ivfadc_encode(
        embeddings_stream(spark, sf_dir).filter(F.col("vec_id") > cut),
        coarse,
        cents,
    )
    fired: dict = {}

    def on_batch(bdf: DataFrame, epoch: int) -> None:
        bdf.write.mode("append").partitionBy("list_id").parquet(f"{base}/codes")
        census = (
            spark.read.parquet(f"{base}/codes")
            .groupBy("list_id")
            .count()
            .collect()  # bounded: n_lists rows
        )
        total = sum(r["count"] for r in census)
        hot = any(r["count"] * n_lists > HOT * total for r in census)
        if hot and not fired:
            fired["stats"] = index_split_on_disk(spark, base, e)

    (
        ingest.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert fired, "health trigger did not fire on the gate corpus"
    stats = fired["stats"]
    return (
        spark.read.parquet(f"{base}/codes")
        .filter(F.col("list_id").isin([stats["targets"][0], stats["new_cell"]]))
        .select(
            "id",
            F.col("list_id").cast("long").alias("list_id"),
            *[F.col(f"code{j}").cast("long").alias(f"code{j}") for j in range(M)],
        )
        .orderBy("id")
    )


@query("q272_stream_two_level_ingest", oracle=_q248_oracle())
def q272_stream_two_level_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL ENCODE IN THE STREAMING INGEST TOPOLOGY — q267's
    scale path wired where it actually matters: the forever-running
    ingest (q248's shape) is the place production n_lists (10⁴-10⁵)
    makes the brute coarse argmin the bottleneck (PERF.md round-9
    addendum 1: brute grows linearly with n_lists, two-level ∝
    √n_lists). ivfadc_encode_two_level is the SAME pure stateless map —
    no shuffle, no state store — so swapping it into the stream changes
    per-row cost, not topology. This entry runs the FULL-PROBE
    configuration, so the streamed membership still equals the batch
    build BIT-FOR-BIT (q248's oracle pins the entire
    (id, list_id, code0..3) membership); a deployment drops
    probe_groups to 1-2 and accepts the IVF-grade assignment
    approximation the q267 property tests characterize."""
    import shutil

    from .functions.similarity import ivfadc_encode_two_level, ivfadc_index_build
    from .storage import release_checkpoint
    from .streaming.core import embeddings_stream

    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
    release_checkpoint(index)  # the stream rebuilds the codes table

    enc = ivfadc_encode_two_level(
        embeddings_stream(spark, sf_dir), coarse, cents, n_groups=3, probe_groups=3
    )
    base = _session_tmp("q272")
    shutil.rmtree(base, ignore_errors=True)
    (
        enc.writeStream.format("parquet")
        .option("path", f"{base}/codes")
        .option("checkpointLocation", f"{base}/ckpt")
        .partitionBy("list_id")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return (
        spark.read.parquet(f"{base}/codes")
        .select(
            "id",
            F.col("list_id").cast("int").alias("list_id"),
            *[F.col(f"code{j}").cast("int").alias(f"code{j}") for j in range(4)],
        )
        .orderBy("id")
    )


def _q273_oracle(
    n_lists: int = 8, size: int = 64, stride: int = 48, dim: int = 16
) -> str:
    """DuckDB replay of the CHUNK-index hot-cell split (q273): q263's
    chunk-embedding + chunk-vector coarse chain through the cell
    membership, then the q260 split tail over the hottest cell's chunk
    members (k=2 Lloyd, seeds = 2 lowest-ck member vectors round-4,
    one assign→round-4-mean round, final round-6 rank / seed-position
    tiebreak). Pins (ck, doc, list_id) for every member of the split
    cell — no codes: the chunk index has no PQ layer."""
    e_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS e{d}" for d in range(dim)
    )
    v_list = ", ".join(f"CAST(e{d} AS DOUBLE)" for d in range(dim))
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    return f"""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - {size} + {stride}, 1),
                                    {stride})) AS s
      FROM tok
    ),
    chtok AS (SELECT doc_id, s, UNNEST(ts[s:s+{size - 1}]) AS t FROM st),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM chtok
    ),
    cemb0 AS (SELECT doc_id, s, {e_sums} FROM h GROUP BY doc_id, s),
    cemb AS (
      SELECT doc_id * 1000000 + (s - 1) // {stride} AS ck, doc_id AS doc,
             [{v_list}] AS v
      FROM cemb0
    ),
    emb AS (SELECT ck AS id, v FROM cemb),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    census AS (SELECT cluster, COUNT(*) AS n FROM cells GROUP BY cluster),
    hotc AS (SELECT cluster FROM census ORDER BY n DESC, cluster LIMIT 1),
    mem AS (
      SELECT cells.id AS ck, cemb.doc, cemb.v
      FROM cells JOIN hotc ON hotc.cluster = cells.cluster
                 JOIN cemb ON cemb.ck = cells.id
    ),
    sc0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY ck) - 1 AS pos,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT ck, v FROM mem ORDER BY ck LIMIT 2)
    ),
    ss0 AS (
      SELECT mem.ck, mem.v, s.pos,
             ROW_NUMBER() OVER (
               PARTITION BY mem.ck
               ORDER BY ROUND(list_distance(mem.v, s.c), 6), s.pos
             ) AS rn
      FROM mem CROSS JOIN sc0 s
    ),
    sa0 AS (SELECT ck, v, pos FROM ss0 WHERE rn = 1),
    sm1 AS (
      SELECT pos, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM sa0,
           LATERAL (SELECT UNNEST(sa0.v) AS x, generate_subscripts(sa0.v, 1) AS i) u
      GROUP BY pos, u.i
    ),
    sc1n AS (SELECT pos, LIST(cx ORDER BY dim) AS c FROM sm1 GROUP BY pos),
    sc1 AS (SELECT sc0.pos, COALESCE(sc1n.c, sc0.c) AS c
            FROM sc0 LEFT JOIN sc1n USING (pos)),
    ss1 AS (
      SELECT mem.ck, mem.doc, s.pos,
             ROW_NUMBER() OVER (
               PARTITION BY mem.ck
               ORDER BY ROUND(list_distance(mem.v, s.c), 6), s.pos
             ) AS rn
      FROM mem CROSS JOIN sc1 s
    ),
    fin AS (SELECT ck, doc, pos FROM ss1 WHERE rn = 1)
    SELECT fin.ck, CAST(fin.doc AS BIGINT) AS doc,
           CAST(CASE WHEN fin.pos = 0 THEN (SELECT cluster FROM hotc)
                     ELSE {n_lists} END AS BIGINT) AS list_id
    FROM fin ORDER BY fin.ck
    """


@query("q273_chunk_index_split", oracle=_q273_oracle())
def q273_chunk_index_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-INDEX HOT-CELL SPLIT (functions/index_store.
    chunk_split_on_disk) — maintenance parity for the chunk family:
    with q265 (build), q266 (serve), q264 (ingest), q268
    (delete→compact), the chunk index now also GROWS under load the
    way the whole-doc index does (q260/q269). Because the chunk table
    stores its own integer embedding components, the split is
    self-contained: the hottest cell's chunk vectors re-cluster with
    the exact k=2 Lloyd discipline, sub-cluster 1 lands in the new
    partition directory list_id = n_lists, the coarse sidecar grows by
    one, and every other cell's files stay byte-identical (unit-pinned
    alongside q269's test). The oracle replays chunking, hashing, the
    full chunk-vector coarse chain, hottest-cell election and the
    split, pinning (ck, doc, list_id) for every member of the split
    cell."""
    import shutil

    from .functions.index_store import chunk_split_on_disk
    from .functions.retrieval import build_chunk_index

    base = _session_tmp("q273")
    shutil.rmtree(base, ignore_errors=True)
    d = t(spark, sf_dir, "documents")
    build_chunk_index(d, base, n_lists=8)
    stats = chunk_split_on_disk(spark, base)
    return (
        spark.read.parquet(f"{base}/chunks")
        .filter(F.col("list_id").isin([stats["cell"], stats["new_cell"]]))
        .select(
            "ck",
            F.col("doc").cast("long").alias("doc"),
            F.col("list_id").cast("long").alias("list_id"),
        )
        .orderBy("ck")
    )


def _q274_oracle(
    n_q: int = 5,
    k: int = 5,
    n_lists: int = 8,
    nprobes: "tuple" = (1, 2, 4, 8),
    size: int = 64,
    stride: int = 48,
    dim: int = 16,
) -> str:
    """DuckDB replay of the chunk-MaxSim recall sweep (q274): q257's
    brute top-k as ground truth, q263's probe/candidate chain evaluated
    at each nprobe, recall@k per setting (q252's measurement for the
    chunk family)."""
    e_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS e{d}" for d in range(dim)
    )
    q_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS q{d}" for d in range(dim)
    )
    v_list = ", ".join(f"CAST(e{d} AS DOUBLE)" for d in range(dim))
    qv_list = ", ".join(f"CAST(q{d} AS DOUBLE)" for d in range(dim))
    n2 = " + ".join(f"e{d} * e{d}" for d in range(dim))
    qn2 = " + ".join(f"q{d} * q{d}" for d in range(dim))
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    per_np = []
    rec_units = []
    for np_ in nprobes:
        per_np.append(f"""
    msv{np_} AS (
      SELECT qid, doc, MAX(cos) AS m FROM ccos WHERE prn <= {np_}
      GROUP BY qid, doc
    ),
    topk{np_} AS (
      SELECT qid, doc FROM (
        SELECT qid, doc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY m DESC, doc) AS rn
        FROM msv{np_}
      ) r WHERE rn <= {k}
    )""")
        rec_units.append(f"""
      SELECT {np_} AS nprobe, COUNT(*) AS hits
      FROM topk{np_} JOIN exact_k
        ON exact_k.qid = topk{np_}.qid AND exact_k.doc = topk{np_}.doc""")
    return f"""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - {size} + {stride}, 1),
                                    {stride})) AS s
      FROM tok
    ),
    chtok AS (SELECT doc_id, s, UNNEST(ts[s:s+{size - 1}]) AS t FROM st),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM chtok
    ),
    cemb0 AS (SELECT doc_id, s, {e_sums} FROM h GROUP BY doc_id, s),
    cemb AS (
      SELECT doc_id * 1000000 + (s - 1) // {stride} AS ck, doc_id AS doc,
             [{v_list}] AS v, {n2} AS n2
      FROM cemb0
    ),
    emb AS (SELECT ck AS id, v FROM cemb),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS (SELECT id, cluster FROM s2 WHERE rn = 1),
    qtok AS (
      SELECT doc_id AS qid, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT {n_q})
    ),
    qh AS (
      SELECT qid, CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM qtok
    ),
    qemb0 AS (SELECT qid, {q_sums} FROM qh GROUP BY qid),
    qemb AS (SELECT qid, [{qv_list}] AS qv, {qn2} AS qn2 FROM qemb0),
    bcos AS (
      SELECT q.qid, c.doc,
             ROUND(list_dot_product(q.qv, c.v)
                   / SQRT(CAST(c.n2 * q.qn2 AS DOUBLE)), 6) AS cos
      FROM cemb c CROSS JOIN qemb q
      WHERE c.doc != q.qid AND c.n2 > 0 AND q.qn2 > 0
    ),
    bms AS (SELECT qid, doc, MAX(cos) AS m FROM bcos GROUP BY qid, doc),
    exact_k AS (
      SELECT qid, doc FROM (
        SELECT qid, doc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY m DESC, doc) AS rn
        FROM bms
      ) r WHERE rn <= {k}
    ),
    probe AS (
      SELECT q.qid, c.cluster,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY ROUND(-list_dot_product(q.qv, c.c), 6), c.cluster
             ) AS prn
      FROM qemb q CROSS JOIN c2 c
    ),
    ccos AS (
      SELECT p.qid, cemb.doc, p.prn,
             ROUND(list_dot_product(q.qv, cemb.v)
                   / SQRT(CAST(cemb.n2 * q.qn2 AS DOUBLE)), 6) AS cos
      FROM probe p
      JOIN cells ON cells.cluster = p.cluster
      JOIN cemb ON cemb.ck = cells.id
      JOIN qemb q ON q.qid = p.qid
      WHERE cemb.doc != p.qid AND cemb.n2 > 0 AND q.qn2 > 0
    ),
    {",".join(per_np)},
    recs AS ({" UNION ALL ".join(rec_units)})
    SELECT nprobe,
           CAST({n_q} AS BIGINT) AS n_queries,
           CAST(hits AS BIGINT) AS hits,
           ROUND(hits / ({n_q} * {k} * 1.0), 4) AS recall
    FROM recs ORDER BY nprobe
    """


@query("q274_maxsim_recall_sweep", oracle=_q274_oracle())
def q274_maxsim_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-MaxSim RECALL-vs-NPROBE TABLE — q252's 'measure, don't
    guess' discipline for the chunk family: the PERSISTED chunk index
    (q265's build, shared per-process) evaluated at nprobe ∈ {1,2,4,8}
    against the brute MaxSim top-5 (q257's chain), recall@5 per
    setting, all probe branches in one lazy plan. At nprobe = n_lists
    the probe covers every cell, so recall = 1.0 by construction (the
    table's sanity row — full-probe IVF MaxSim ≡ brute, the same
    equivalence q263's property test pins). Every cell of the table is
    deterministic (round-6 probe/cosine ranks), so the oracle
    hash-pins the whole recall curve — the tuning table a RAG
    deployment derives before fixing its quality/cost knob."""
    from .functions.index_store import load_chunk_index
    from .functions.retrieval import maxsim_persisted_topk, maxsim_topk

    K = 5
    base = _persisted_chunk_base(spark, sf_dir)
    chunks, coarse = load_chunk_index(spark, base)
    d = t(spark, sf_dir, "documents")
    q = d.orderBy("doc_id").limit(5)
    exact_pairs = maxsim_topk(q, d, k=K).select("query_id", "doc_id")

    branches = []
    for np_ in (1, 2, 4, 8):
        hits = (
            maxsim_persisted_topk(q, chunks, coarse, k=K, nprobe=np_)
            .select("query_id", "doc_id")
            .join(exact_pairs, ["query_id", "doc_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
            .select(F.lit(np_).alias("nprobe"), "hits")
        )
        branches.append(hits)
    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    return u.select(
        "nprobe",
        F.lit(5).cast("long").alias("n_queries"),
        "hits",
        F.round(F.col("hits") / (5 * K * 1.0), 4).alias("recall"),
    ).orderBy("nprobe")


def _chunk_pq_ctes(
    n_lists: int = 8,
    m: int = 8,
    w: int = 2,
    k: int = 16,
    size: int = 64,
    stride: int = 48,
    dim: int = 16,
) -> str:
    """Shared WITH-body prefix for the PQ-compressed chunk index
    oracles (q275/q276/q277): q263's chunk-embedding CTEs, the chunk-
    vector coarse chain, residuals, the m per-subspace codebook chains
    (q248's blocks over the CHUNK residuals), ending with ``cells``
    (ck → cell), ``codes`` (ck, j, code), ``cemb`` (ck, doc, v, n2)
    and ``rc2_j`` (the final codebooks) available."""
    e_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS e{d}" for d in range(dim)
    )
    v_list = ", ".join(f"CAST(e{d} AS DOUBLE)" for d in range(dim))
    n2 = " + ".join(f"e{d} * e{d}" for d in range(dim))
    assign = """
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM emb e CROSS JOIN {cent} c
    """
    update = """
      SELECT cluster, u.i AS dim, ROUND(AVG(u.x), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
    blocks = []
    for j in range(m):
        lo, hi = j * w + 1, j * w + w
        assign_j = f"""
      SELECT e.id, e.v, c.cluster, list_distance(e.v, c.c) AS dist,
             ROW_NUMBER() OVER (
               PARTITION BY e.id
               ORDER BY ROUND(list_distance(e.v, c.c), 6), c.cluster
             ) AS rn
      FROM remb{j} e CROSS JOIN {{cent}} c
    """
        # exact_means replay: round-6 DECIMAL(18,6) sum / count — the
        # order-independent mean the chunk-PQ build trains with
        update_j = """
      SELECT cluster, u.i AS dim,
             ROUND(CAST(SUM(CAST(ROUND(u.x, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 4) AS cx
      FROM {assigned} a,
           LATERAL (SELECT UNNEST(a.v) AS x, generate_subscripts(a.v, 1) AS i) u
      GROUP BY cluster, u.i
    """
        blocks.append(f"""
    remb{j} AS MATERIALIZED (SELECT id, list_slice(v, {lo}, {hi}) AS v FROM remb),
    rc0_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM remb{j} ORDER BY id LIMIT {k})
    ),
    rs0_{j} AS ({assign_j.format(cent=f"rc0_{j}")}),
    ra0_{j} AS (SELECT id, v, cluster FROM rs0_{j} WHERE rn = 1),
    rm1_{j} AS ({update_j.format(assigned=f"ra0_{j}")}),
    rc1n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm1_{j} GROUP BY cluster),
    rc1_{j} AS (SELECT rc0_{j}.cluster, COALESCE(rc1n_{j}.c, rc0_{j}.c) AS c
               FROM rc0_{j} LEFT JOIN rc1n_{j} USING (cluster)),
    rs1_{j} AS ({assign_j.format(cent=f"rc1_{j}")}),
    ra1_{j} AS (SELECT id, v, cluster FROM rs1_{j} WHERE rn = 1),
    rm2_{j} AS ({update_j.format(assigned=f"ra1_{j}")}),
    rc2n_{j} AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM rm2_{j} GROUP BY cluster),
    rc2_{j} AS (SELECT rc1_{j}.cluster, COALESCE(rc2n_{j}.c, rc1_{j}.c) AS c
               FROM rc1_{j} LEFT JOIN rc2n_{j} USING (cluster)),
    rs2_{j} AS ({assign_j.format(cent=f"rc2_{j}")}),
    ra2_{j} AS (SELECT id, cluster FROM rs2_{j} WHERE rn = 1)""")
    code_selects = " UNION ALL ".join(
        f"SELECT id, {j} AS j, cluster AS code FROM ra2_{j}" for j in range(m)
    )
    return f"""
    WITH tok AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(ts) - {size} + {stride}, 1),
                                    {stride})) AS s
      FROM tok
    ),
    chtok AS (SELECT doc_id, s, UNNEST(ts[s:s+{size - 1}]) AS t FROM st),
    h AS (
      SELECT doc_id, s,
             CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM chtok
    ),
    cemb0 AS (SELECT doc_id, s, {e_sums} FROM h GROUP BY doc_id, s),
    cemb AS MATERIALIZED (
      SELECT doc_id * 1000000 + (s - 1) // {stride} AS ck, doc_id AS doc,
             [{v_list}] AS v, {n2} AS n2
      FROM cemb0
    ),
    emb AS MATERIALIZED (SELECT ck AS id, v FROM cemb),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cluster,
             list_transform(v, x -> ROUND(x, 4)) AS c
      FROM (SELECT id, v FROM emb ORDER BY id LIMIT {n_lists})
    ),
    s0 AS ({assign.format(cent="c0")}),
    a0 AS (SELECT id, v, cluster FROM s0 WHERE rn = 1),
    m1 AS ({update.format(assigned="a0")}),
    c1n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m1 GROUP BY cluster),
    c1 AS (SELECT c0.cluster, COALESCE(c1n.c, c0.c) AS c
           FROM c0 LEFT JOIN c1n USING (cluster)),
    s1 AS ({assign.format(cent="c1")}),
    a1 AS (SELECT id, v, cluster FROM s1 WHERE rn = 1),
    m2 AS ({update.format(assigned="a1")}),
    c2n AS (SELECT cluster, LIST(cx ORDER BY dim) AS c FROM m2 GROUP BY cluster),
    c2 AS (SELECT c1.cluster, COALESCE(c2n.c, c1.c) AS c
           FROM c1 LEFT JOIN c2n USING (cluster)),
    s2 AS ({assign.format(cent="c2")}),
    cells AS MATERIALIZED (SELECT id, cluster FROM s2 WHERE rn = 1),
    rsrc AS (
      SELECT e.id, e.v AS ev, c2.c AS cc
      FROM emb e JOIN cells ON cells.id = e.id
                 JOIN c2 ON c2.cluster = cells.cluster
    ),
    remb AS MATERIALIZED (
      SELECT id, LIST(u.vx - u.cx ORDER BY u.i) AS v
      FROM rsrc,
           LATERAL (SELECT UNNEST(rsrc.ev) AS vx, UNNEST(rsrc.cc) AS cx,
                    generate_subscripts(rsrc.ev, 1) AS i) u
      GROUP BY id
    ),
    {",".join(blocks)},
    codes AS ({code_selects})"""


def _q275_oracle(m: int = 8, **kw) -> str:
    """Pins the full persisted PQ-chunk row: (ck, doc, list_id,
    code0..code{m-1}, n2)."""
    prefix = _chunk_pq_ctes(m=m, **kw)
    code_cols = ", ".join(
        f"CAST(MAX(CASE WHEN cj.j = {j} THEN cj.code END) AS BIGINT) AS code{j}"
        for j in range(m)
    )
    return f"""{prefix}
    SELECT cells.id AS ck, CAST(MAX(cemb.doc) AS BIGINT) AS doc,
           CAST(MAX(cells.cluster) AS BIGINT) AS list_id,
           {code_cols},
           CAST(MAX(cemb.n2) AS BIGINT) AS n2
    FROM cells JOIN codes cj USING (id) JOIN cemb ON cemb.ck = cells.id
    GROUP BY cells.id
    ORDER BY cells.id
    """


def _adc_score_ctes(
    n_q: int = 5,
    n_lists: int = 8,
    m: int = 8,
    w: int = 2,
    nprobe: int = 3,
    dim: int = 16,
) -> str:
    """The ADC-MaxSim serve chain given the _chunk_pq_ctes prefix:
    query embeddings, probe, dot-product LUT (round-6 DECIMAL),
    per-chunk reconstruction cosine with EXACT stored norms, per-doc
    max. Ends with ``ams`` (qid, doc, am)."""
    q_sums = ", ".join(
        f"SUM(((hv >> {d}) & 1) * 2 - 1) AS q{d}" for d in range(dim)
    )
    qv_list = ", ".join(f"CAST(q{d} AS DOUBLE)" for d in range(dim))
    qn2 = " + ".join(f"q{d} * q{d}" for d in range(dim))
    lut_units = " UNION ALL ".join(
        f"""SELECT qemb.qid, {j} AS j, rc2_{j}.cluster AS code,
               CAST(ROUND(list_dot_product(
                 list_slice(qemb.qv, {j * w + 1}, {j * w + w}), rc2_{j}.c), 6)
                 AS DECIMAL(18,6)) AS d
        FROM qemb CROSS JOIN rc2_{j}"""
        for j in range(m)
    )
    return f""",
    qtok AS (
      SELECT doc_id AS qid, UNNEST(STRING_SPLIT(text, ' ')) AS t
      FROM (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT {n_q})
    ),
    qh AS (
      SELECT qid, CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) AS hv
      FROM qtok
    ),
    qemb0 AS (SELECT qid, {q_sums} FROM qh GROUP BY qid),
    qemb AS (SELECT qid, [{qv_list}] AS qv, {qn2} AS qn2 FROM qemb0),
    probe AS (
      SELECT qid, cluster, qcdot FROM (
        SELECT q.qid, c.cluster,
               CAST(ROUND(list_dot_product(q.qv, c.c), 6) AS DECIMAL(18,6))
                 AS qcdot,
               ROW_NUMBER() OVER (
                 PARTITION BY q.qid
                 ORDER BY ROUND(-list_dot_product(q.qv, c.c), 6), c.cluster
               ) AS prn
        FROM qemb q CROSS JOIN c2 c
      ) p WHERE prn <= {nprobe}
    ),
    lut AS ({lut_units}),
    candpq AS (
      SELECT p.qid, cells.id AS ck, cemb.doc, cemb.n2, q.qn2, p.qcdot,
             cj.j, cj.code
      FROM probe p
      JOIN cells ON cells.cluster = p.cluster
      JOIN cemb ON cemb.ck = cells.id
      JOIN qemb q ON q.qid = p.qid
      JOIN codes cj ON cj.id = cells.id
      WHERE cemb.doc != p.qid AND cemb.n2 > 0 AND q.qn2 > 0
    ),
    perchunk AS (
      SELECT qid, ck, doc,
             ROUND(CAST(MAX(qcdot) + SUM(lut.d) AS DOUBLE)
                   / SQRT(CAST(MAX(n2) * MAX(qn2) AS DOUBLE)), 6) AS acos
      FROM candpq JOIN lut USING (qid, j, code)
      GROUP BY qid, ck, doc
    ),
    ams AS (SELECT qid, doc, MAX(acos) AS am FROM perchunk GROUP BY qid, doc)"""


def _q276_oracle(
    n_q: int = 5, k: int = 5, nprobe: int = 3, m: int = 8, w: int = 2
) -> str:
    return f"""{_chunk_pq_ctes(m=m, w=w)}{_adc_score_ctes(n_q=n_q, m=m, w=w, nprobe=nprobe)},
    r AS (
      SELECT qid, doc, am,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY am DESC, doc) AS rn
      FROM ams
    )
    SELECT qid AS query_id, doc AS doc_id, am AS maxsim_adc
    FROM r WHERE rn <= {k}
    ORDER BY query_id, doc_id
    """


def _q277_oracle(
    n_q: int = 5,
    k: int = 5,
    shortlist: int = 20,
    nprobe: int = 3,
    m: int = 8,
    w: int = 2,
) -> str:
    """Two-stage: ADC shortlist of ``shortlist`` docs per query, then
    EXACT MaxSim rerank (q257's integer cosines over cemb) restricted
    to the shortlist, final top-k."""
    return f"""{_chunk_pq_ctes(m=m, w=w)}{_adc_score_ctes(n_q=n_q, m=m, w=w, nprobe=nprobe)},
    short AS (
      SELECT qid, doc FROM (
        SELECT qid, doc,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY am DESC, doc) AS rn
        FROM ams
      ) r WHERE rn <= {shortlist}
    ),
    xcos AS (
      SELECT s.qid, c.doc,
             ROUND(list_dot_product(q.qv, c.v)
                   / SQRT(CAST(c.n2 * q.qn2 AS DOUBLE)), 6) AS cos
      FROM short s
      JOIN cemb c ON c.doc = s.doc
      JOIN qemb q ON q.qid = s.qid
      WHERE c.n2 > 0 AND q.qn2 > 0
    ),
    xms AS (SELECT qid, doc, MAX(cos) AS mx FROM xcos GROUP BY qid, doc),
    fr AS (
      SELECT qid, doc, mx,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mx DESC, doc) AS rn
      FROM xms
    )
    SELECT qid AS query_id, doc AS doc_id, mx AS maxsim
    FROM fr WHERE rn <= {k}
    ORDER BY query_id, doc_id
    """


@query("q275_chunk_pq_build_persist", oracle=_q275_oracle())
def q275_chunk_pq_build_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-COMPRESSED CHUNK INDEX BUILD (functions/retrieval.
    build_chunk_pq_index) — the storage story that makes a 100 TB
    chunk table servable: q265 persists dim=16 raw BIGINT components
    per chunk; this build runs the residual-IVFADC machinery VERBATIM
    over the chunk vectors (coarse cell + m=8 per-subspace codebooks
    on the residuals, w=2, k=16) and persists only (ck, doc,
    code0..code7, n2) in the standard q245 layout — m small ints plus
    the EXACT squared norm, ~16× smaller than the raw components, and
    the whole persisted-index lifecycle (tombstone delete with the
    doc-cascade key, partition-pruned compaction, on-disk maintenance)
    applies unchanged. The oracle replays chunking, hashing, the chunk
    coarse chain, residuals and all 8 codebook chains, pinning every
    persisted row end-to-end."""
    import shutil

    from .functions.retrieval import build_chunk_pq_index

    M = 8
    base = _session_tmp("q275")
    shutil.rmtree(base, ignore_errors=True)
    d = t(spark, sf_dir, "documents")
    build_chunk_pq_index(d, base, n_lists=8, m=M, k=16)
    return (
        spark.read.parquet(f"{base}/codes")
        .select(
            F.col("id").alias("ck"),
            F.col("doc").cast("long").alias("doc"),
            F.col("list_id").cast("long").alias("list_id"),
            *[F.col(f"code{j}").cast("long").alias(f"code{j}") for j in range(M)],
            F.col("n2").cast("long").alias("n2"),
        )
        .orderBy("ck")
    )


_CHUNK_PQ_BUILT: set[str] = set()


def _persisted_chunk_pq_base(spark: SparkSession, sf_dir: str) -> str:
    """Build + persist the PQ-compressed chunk index (q275's layout)
    ONCE per process per sf_dir — the q259/q266 per-process build
    discipline for the compressed retrieval side."""
    import os as _os
    import shutil

    from .functions.retrieval import build_chunk_pq_index

    tag = _os.path.basename(sf_dir.rstrip("/"))
    base = _session_tmp(f"q276_{tag}")
    if base not in _CHUNK_PQ_BUILT or not _os.path.isdir(f"{base}/codes"):
        shutil.rmtree(base, ignore_errors=True)
        build_chunk_pq_index(
            t(spark, sf_dir, "documents"), base, n_lists=8, m=8, k=16
        )
        _CHUNK_PQ_BUILT.add(base)
    return base


@query("q276_maxsim_adc_serve", oracle=_q276_oracle())
def q276_maxsim_adc_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC-DISTANCE MaxSim SERVE (functions/retrieval.
    maxsim_adc_topk) — late interaction served ENTIRELY from the
    PQ-compressed chunk index: dot(q, ĉ) = dot(q, coarse[cell]) +
    Σ_j LUT_j[code_j] (one round-6 value per probed cell + m lookups
    into a query × m·k dot-product LUT, summed in exact DECIMAL), and
    the cosine divides by sqrt(n2·qn2) with the EXACT stored norms —
    only the numerator is quantized. The corpus side never
    materializes a vector: at 100 TB the probe scans m-byte codes, the
    Jégou et al. 2011 §V memory economics applied to passages. Scores
    are deterministic, so the oracle replays the full training + LUT +
    ADC chain bit-for-bit. Reconstruction fidelity on THIS corpus is
    limited by construction (the closed ~31-word vocabulary compresses
    the cosine range, so PQ error flips near-ties — the q274-style
    measurement); the production remedy is q277's two-stage rerank,
    whose within-shortlist results are exact."""
    from .functions.index_store import load_index
    from .functions.retrieval import maxsim_adc_topk

    base = _persisted_chunk_pq_base(spark, sf_dir)
    codes, coarse_r, cents_r = load_index(spark, base)
    d = t(spark, sf_dir, "documents")
    return maxsim_adc_topk(
        d.orderBy("doc_id").limit(5), codes, coarse_r, cents_r, k=5, nprobe=3
    ).orderBy("query_id", "doc_id")


@query("q277_maxsim_adc_rerank", oracle=_q277_oracle())
def q277_maxsim_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE MaxSim (functions/retrieval.maxsim_adc_rerank_topk) —
    q250's shortlist-then-exact-rerank pattern for late interaction,
    the production shape a RAG deployment runs over a compressed chunk
    index: stage 1 shortlists 20 docs per query from the PQ codes
    (memory-bounded ADC, q276's maths), stage 2 re-embeds ONLY the
    shortlisted documents' chunks (semi-join — work ∝ Q·shortlist
    docs, never corpus) and ranks them with q257's EXACT integer
    cosine. Within the shortlist the scores are bit-equal to brute
    MaxSim, so quality reduces to shortlist recall — tunable with
    shortlist/nprobe. The oracle replays the ADC shortlist AND the
    exact rerank end-to-end."""
    from .functions.index_store import load_index
    from .functions.retrieval import maxsim_adc_rerank_topk

    base = _persisted_chunk_pq_base(spark, sf_dir)
    codes, coarse_r, cents_r = load_index(spark, base)
    d = t(spark, sf_dir, "documents")
    return maxsim_adc_rerank_topk(
        d.orderBy("doc_id").limit(5),
        codes,
        coarse_r,
        cents_r,
        d,
        k=5,
        shortlist=20,
        nprobe=3,
    ).orderBy("query_id", "doc_id")


# ---------------------------------------------------------------------------
# q278-q283: snapshot-versioned manifest store (functions/manifest.py) —
# atomic commits, time travel, merge-on-read deletes, zone-map skipping,
# manifest-backed ANN serving, exactly-once streaming ingest.
# ---------------------------------------------------------------------------


@query(
    "q278_snapshot_create_append_read",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q278_snapshot_create_append_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT STORE data plane (functions/manifest.py): commit v1
    (even orderkeys) and v2 (odd orderkeys, batch-tagged), REPLAY the
    v2 append with the same tag (idempotent no-op — the exactly-once
    discipline), then read latest with MANIFEST-LEVEL partition pruning
    (``parts=['A','R']`` selects file entries before Spark sees a
    path — zero directory listings, the object-store-scale planning
    model of Delta/Iceberg). A duplicate append or a broken prune
    changes the counts, so the oracle pins both. The reference has no
    persistence lifecycle at all (fire-and-forget TextOutput,
    ``utils/package.scala:418-427``); this layer is what a retained
    100 TB corpus runs on."""
    import shutil

    from .functions.manifest import snapshot_append, snapshot_create, snapshot_read

    base = _session_tmp("q278")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    snapshot_create(
        li.filter(F.col("l_orderkey") % 2 == 0),
        base,
        part_col="l_returnflag",
        id_col="l_orderkey",
    )
    snapshot_append(li.filter(F.col("l_orderkey") % 2 == 1), base, batch_tag="b1")
    # recovery replay of the same micro-batch: tag short-circuits, no dup
    snapshot_append(li.filter(F.col("l_orderkey") % 2 == 1), base, batch_tag="b1")
    return (
        snapshot_read(spark, base, parts=["A", "R"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q279_snapshot_time_travel",
    oracle="""
    WITH pre AS (
      SELECT l_returnflag, COUNT(*) AS n,
             ROUND(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem GROUP BY l_returnflag
    ),
    post AS (
      SELECT l_returnflag, COUNT(*) AS n,
             ROUND(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem WHERE l_orderkey % 7 != 3 GROUP BY l_returnflag
    )
    SELECT 'v1' AS snap, * FROM pre
    UNION ALL
    SELECT 'v3' AS snap, * FROM post
    ORDER BY snap, l_returnflag
    """,
)
def q279_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL through the delete lifecycle: v1 create → v2
    merge-on-read DELETE (tombstone commit, O(|ids|), no rewrite) → v3
    compact (rewrites ONLY partitions holding tombstoned rows; every
    other partition's file entries carry into the new manifest
    verbatim). Reading v1 AFTER the compaction still serves every
    deleted row — data files are immutable until an explicit vacuum,
    so a reader pinned on any retained snapshot is isolated from
    concurrent maintenance (the property the in-place directory swap
    of functions/index_store can't give). Output: per-flag aggregates
    of the v1 time-travel read and the v3 post-compaction read,
    side-by-side."""
    import shutil

    from .functions.manifest import (
        snapshot_compact,
        snapshot_create,
        snapshot_delete,
        snapshot_read,
    )

    base = _session_tmp("q279")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    snapshot_create(li, base, part_col="l_returnflag", id_col="l_orderkey")
    snapshot_delete(
        li.filter(F.col("l_orderkey") % 7 == 3).select("l_orderkey").distinct(),
        base,
    )
    snapshot_compact(spark, base)

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            )
            .select(F.lit(tag).alias("snap"), "l_returnflag", "n", "sum_qty")
        )

    return agg(snapshot_read(spark, base, version=1), "v1").unionByName(
        agg(snapshot_read(spark, base), "v3")
    ).orderBy("snap", "l_returnflag")


@query(
    "q280_snapshot_log",
    oracle="""
    WITH h1 AS (SELECT COUNT(*) AS c FROM lineitem WHERE l_orderkey % 2 = 0),
         h2 AS (SELECT COUNT(*) AS c FROM lineitem WHERE l_orderkey % 2 = 1),
         delc AS (SELECT COUNT(DISTINCT l_orderkey) AS c FROM lineitem
                  WHERE l_orderkey % 7 = 3),
         surv AS (SELECT COUNT(*) AS c FROM lineitem WHERE l_orderkey % 7 != 3)
    SELECT * FROM (
      SELECT 1 AS version, 'create' AS op, CAST(NULL AS INT) AS parent,
             CAST((SELECT c FROM h1) AS BIGINT) AS rows_added,
             CAST(0 AS BIGINT) AS rows_removed,
             CAST((SELECT c FROM h1) AS BIGINT) AS visible_rows
      UNION ALL
      SELECT 2, 'append', 1, CAST((SELECT c FROM h2) AS BIGINT),
             CAST(0 AS BIGINT),
             CAST((SELECT c FROM h1) + (SELECT c FROM h2) AS BIGINT)
      UNION ALL
      SELECT 3, 'delete', 2, CAST(0 AS BIGINT),
             CAST((SELECT c FROM delc) AS BIGINT), CAST(NULL AS BIGINT)
      UNION ALL
      SELECT 4, 'compact', 3, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST((SELECT c FROM surv) AS BIGINT)
      UNION ALL
      SELECT 5, 'restore', 4, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
             CAST((SELECT c FROM h1) + (SELECT c FROM h2) AS BIGINT)
    ) ORDER BY version
    """,
)
def q280_snapshot_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT HISTORY as a query — create, tagged append, tombstone
    delete, compaction, and RESTORE (roll-back by rolling forward: a
    new version whose listing copies v2's — history stays linear and
    append-only). Every number is METADATA-ONLY, summed from per-file
    parquet-footer row counts recorded at commit time: no data file is
    opened to answer it, which is exactly what makes the manifest the
    100 TB bookkeeping layer. ``visible_rows`` is NULL while tombstones
    are outstanding — a tombstoned id may miss the table or match many
    rows, so merge-on-read defers the count to compaction; the oracle
    pins that honesty too. File counts are deliberately NOT in the
    output (they vary with write parallelism; row counts don't)."""
    import shutil

    from .functions.manifest import (
        snapshot_append,
        snapshot_compact,
        snapshot_create,
        snapshot_delete,
        snapshot_log,
        snapshot_restore,
    )

    base = _session_tmp("q280")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    snapshot_create(
        li.filter(F.col("l_orderkey") % 2 == 0),
        base,
        part_col="l_returnflag",
        id_col="l_orderkey",
    )
    snapshot_append(li.filter(F.col("l_orderkey") % 2 == 1), base, batch_tag="b1")
    snapshot_delete(
        li.filter(F.col("l_orderkey") % 7 == 3).select("l_orderkey").distinct(),
        base,
    )
    snapshot_compact(spark, base)
    snapshot_restore(base, 2)
    return (
        snapshot_log(spark, base)
        .select(
            "version", "op", "parent", "rows_added", "rows_removed",
            "visible_rows",
        )
        .orderBy("version")
    )


def _q281_oracle() -> str:
    from .functions.layout import morton_key_sql

    mk = morton_key_sql("l_partkey % 64", "l_suppkey % 64", bits=6)
    return f"""
    SELECT COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           CAST(SUM({mk}) AS BIGINT) AS sum_mk
    FROM lineitem
    WHERE l_partkey % 64 BETWEEN 8 AND 23
      AND l_suppkey % 64 BETWEEN 16 AND 31
    """


@query("q281_snapshot_zonemap_skipping", oracle=_q281_oracle())
def q281_snapshot_zonemap_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER + ZONE-MAP data skipping, end to end: lineitem is
    clustered by the Morton interleave of (l_partkey%64, l_suppkey%64)
    (functions/layout.morton_key — q143 pins the key cross-engine) and
    committed with per-file min/max stats on the key; the 2-D box
    predicate x∈[8,23] × y∈[16,31] is answered by a manifest-pruned
    read over the SUPERSET Morton range [z(8,16), z(23,31)] (the
    interleave is monotone in each coordinate, so the box's corner
    keys bound every key in the box) plus the exact row-level box
    filter. Files whose [min,max] key range misses the window are
    never handed to Spark — min/max row-group stats made table-level,
    pruning on BOTH dimensions at once, with zero directory listings.
    The file-skipping effect itself is asserted in
    tests/test_manifest.py (inputFiles strictly shrinks); this query
    pins exactness: skipping must never change an answer."""
    import shutil

    from .functions.layout import morton_key
    from .functions.manifest import snapshot_create, snapshot_read

    def z(x: int, y: int, bits: int = 6) -> int:
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    base = _session_tmp("q281")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        (F.col("l_partkey") % 64).alias("x"),
        (F.col("l_suppkey") % 64).alias("y"),
    )
    clustered = (
        li.withColumn("mk", morton_key("x", "y", bits=6))
        .repartitionByRange(16, "mk")
        .sortWithinPartitions("mk")
    )
    snapshot_create(clustered, base, id_col="l_orderkey", stats_cols=["mk"])
    lo, hi = z(8, 16), z(23, 31)
    return (
        snapshot_read(spark, base, between=("mk", lo, hi))
        .filter(F.col("x").between(8, 23) & F.col("y").between(16, 31))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum("mk").alias("sum_mk"),
        )
    )


@query(
    "q282_manifest_ann_serve",
    oracle=_q244_oracle(cand_extra=" AND cells.id % 5 != 1"),
)
def q282_manifest_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN SERVING OVER THE MANIFEST STORE — the q245/q255 lifecycle
    re-based on snapshot isolation: the IVFADC codes table is committed
    as snapshot v1 (partitioned by list_id, the probe unit), deletes
    land as a tombstone commit (v2, O(|ids|)), and the serve leg reads
    ONE pinned snapshot — merge-on-read anti-join, no compaction
    needed before the next query, and a maintenance job compacting
    concurrently could never race this read (immutable files + pinned
    manifest; the two-rename directory swap of index_store needs the
    reader to win a timing assumption instead). Candidates leave the
    pool pre-ranking, so the oracle is q244's full replay with
    id ≡ 1 (mod 5) excluded from the candidate set."""
    import shutil

    from .functions.manifest import snapshot_create, snapshot_delete, snapshot_read
    from .functions.similarity import ivfadc_index_build, ivfadc_index_search
    from .storage import release_checkpoint

    base = _session_tmp("q282")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
    snapshot_create(index, base, part_col="list_id", id_col="id")
    release_checkpoint(index)
    snapshot_delete(
        e.filter(F.col("vec_id") % 5 == 1).select(F.col("vec_id").alias("id")),
        base,
    )
    codes = snapshot_read(spark, base)
    return ivfadc_index_search(
        codes, coarse, cents, e.orderBy("vec_id").limit(64), nprobe=3, topk=5
    )


@query(
    "q283_stream_manifest_ingest",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q283_stream_manifest_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE STREAMING INGEST into the snapshot store: the
    events stream lands through ``foreachBatch``, each micro-batch
    committed by functions/manifest.snapshot_append with
    ``batch_tag=f"b{batch_id}"``. Structured Streaming's recovery
    contract is that a failed micro-batch is REPLAYED with the same
    batch_id — the tag check turns that replay into a no-op, which is
    the standard idempotent-sink discipline (and this query proves it
    by re-appending the whole stream's data under an already-used tag
    after the run: the oracle's counts would double if the replay
    committed). Each commit is one atomic manifest publication; a
    crash mid-batch leaves orphan data files that vacuum reclaims,
    never a partial table. Output: per-type counts over the ingested
    snapshot — hash-equal to the batch table."""
    import shutil

    from .functions.manifest import snapshot_append, snapshot_create, snapshot_read
    from .streaming.core import events_stream

    base = _session_tmp("q283")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(f"{base}_ckpt", ignore_errors=True)  # else a re-run in
    # this process resumes the checkpoint, replays zero batches, and the
    # store is never created
    ev_cols = ["event_id", "event_type", "value"]
    seen_tags: list[str] = []

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        tag = f"b{batch_id}"
        b = batch_df.select(*ev_cols)
        if not seen_tags:
            snapshot_create(b, base, part_col="event_type", id_col="event_id")
            snapshot_append(
                spark.createDataFrame([], b.schema), base, batch_tag=tag
            )
        else:
            snapshot_append(b, base, batch_tag=tag)
        seen_tags.append(tag)

    (
        events_stream(spark, sf_dir)
        .select(*ev_cols)
        .writeStream.foreachBatch(commit)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{base}_ckpt")
        .start()
        .awaitTermination()
    )
    # recovery replay: the same micro-batch tag must short-circuit
    ev = t(spark, sf_dir, "events").select(*ev_cols)
    snapshot_append(ev, base, batch_tag=seen_tags[0])
    return (
        snapshot_read(spark, base)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query("q284_versioned_index_maintenance", oracle=_q254_oracle(post=True))
def q284_versioned_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INDEX MAINTENANCE AS A SNAPSHOT COMMIT (functions/manifest.
    snapshot_replace_partitions) — q269's on-disk rebalance re-based on
    the manifest store: the IVFADC codes table is snapshot v1 (meta
    carries the coarse centroids, so MODEL AND MEMBERSHIP version
    together — the atomicity the sidecar-file layout cannot give), the
    two hottest cells re-cluster (q254's exact restricted-Lloyd maths),
    and the rewrite publishes as v2 in which ONLY the target cells'
    file entries are new — every other cell's entries carry over
    verbatim (same immutable files), pinned readers keep serving v1
    mid-maintenance, and a bad rebalance is one snapshot_restore away
    from undone. The in-place two-rename swap (index_store) wins no
    timing assumptions here; there is nothing to race. The oracle is
    q254's full replay projected to the persisted state — versioned
    maintenance ≡ in-session maintenance, row for row."""
    import shutil

    from .functions.manifest import (
        snapshot_create,
        snapshot_read,
        snapshot_replace_partitions,
    )
    from .functions.similarity import ivfadc_index_build, ivfadc_rebalance
    from .storage import release_checkpoint

    M = 4
    base = _session_tmp("q284")
    shutil.rmtree(base, ignore_errors=True)
    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=M, k=4, iters=2)
    snapshot_create(
        index, base, part_col="list_id", id_col="id",
        meta={"coarse": [list(c) for c in coarse]},
    )
    release_checkpoint(index)
    codes = snapshot_read(spark, base)
    census = (
        codes.groupBy("list_id")
        .count()
        .orderBy(F.desc("count"), "list_id")
        .limit(2)
        .collect()  # bounded: n_lists rows ranked
    )
    targets = sorted(int(r["list_id"]) for r in census)
    _, new_coarse, moves = ivfadc_rebalance(
        e, codes, coarse, cents, target_cells=targets, iters=1
    )
    staged = moves.select(
        "id",
        F.col("new_cell").cast("int").alias("list_id"),
        *[F.col(f"code{j}") for j in range(M)],
    )
    snapshot_replace_partitions(
        staged, base, parts=targets, op="rebalance",
        meta={"coarse": [list(c) for c in new_coarse]},
    )
    release_checkpoint(moves)
    return (
        snapshot_read(spark, base)
        .filter(F.col("list_id").isin(targets))
        .select(
            "id",
            F.col("list_id").cast("long").alias("list_id"),
            *[F.col(f"code{j}").cast("long").alias(f"code{j}") for j in range(M)],
        )
        .orderBy("id")
    )


@query(
    "q285_snapshot_changes",
    oracle="""
    SELECT * FROM (
      SELECT 'v1v2' AS span, 'insert' AS _change, l_returnflag,
             COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
      FROM lineitem WHERE l_orderkey % 2 = 1 GROUP BY l_returnflag
      UNION ALL
      SELECT 'v2v3', 'delete', l_returnflag,
             COUNT(*), ROUND(SUM(l_quantity), 2)
      FROM lineitem WHERE l_orderkey % 7 = 3 GROUP BY l_returnflag
    ) ORDER BY span, _change, l_returnflag
    """,
)
def q285_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE FEED between snapshots (functions/manifest.
    snapshot_changes) — incremental consumption for downstream
    pipelines: because data files are immutable, rows change
    visibility only through the manifest FILE DIFF plus the tombstone
    diff over unchanged files, so the diff scan is bounded by what
    actually differs, never table size — the manifest IS the change
    index. Three spans pinned: v1→v2 (an append: pure inserts),
    v2→v3 (a tombstone-only delete: visibility flips on UNCHANGED
    files — no file differs, only the tombstone diff fires), and
    v3→v4 (compaction: a PHYSICAL rewrite with zero LOGICAL change —
    survivors rewritten into new files cancel out via EXCEPT ALL, and
    any row the compactor lost or duplicated would surface here as a
    phantom change; the oracle has no v3v4 rows, so emptiness is
    hash-enforced)."""
    import shutil

    from .functions.manifest import (
        snapshot_append,
        snapshot_changes,
        snapshot_compact,
        snapshot_create,
        snapshot_delete,
    )

    base = _session_tmp("q285")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    snapshot_create(
        li.filter(F.col("l_orderkey") % 2 == 0),
        base,
        part_col="l_returnflag",
        id_col="l_orderkey",
    )
    snapshot_append(li.filter(F.col("l_orderkey") % 2 == 1), base)
    snapshot_delete(
        li.filter(F.col("l_orderkey") % 7 == 3).select("l_orderkey").distinct(),
        base,
    )
    snapshot_compact(spark, base)

    def agg(df: DataFrame, span: str) -> DataFrame:
        return (
            df.groupBy("_change", "l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            )
            .select(F.lit(span).alias("span"), "_change", "l_returnflag",
                    "n", "sum_qty")
        )

    return (
        agg(snapshot_changes(spark, base, 1, 2), "v1v2")
        .unionByName(agg(snapshot_changes(spark, base, 2, 3), "v2v3"))
        .unionByName(agg(snapshot_changes(spark, base, 3, 4), "v3v4"))
        .orderBy("span", "_change", "l_returnflag")
    )


_Q286_BUILT: set[str] = set()


def _zordered_snapshot_base(spark: SparkSession, sf_dir: str) -> str:
    """Build the z-ordered lineitem snapshot (q281's layout: Morton key
    over (l_partkey%64, l_suppkey%64), range-clustered, per-file min/max
    stats on the key) ONCE per process per sf_dir — the q259/q266
    offline-build discipline applied to the table layout: in bench only
    the cold run pays the cluster-and-commit; every warm run measures
    the PRUNED READ alone, which is the number a deployment's scan path
    cares about."""
    import os as _os
    import shutil

    from .functions.layout import morton_key
    from .functions.manifest import snapshot_create

    tag = _os.path.basename(sf_dir.rstrip("/"))
    base = _session_tmp(f"q286_{tag}")
    if base not in _Q286_BUILT or not _os.path.isdir(f"{base}/manifests"):
        shutil.rmtree(base, ignore_errors=True)
        li = t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_quantity",
            (F.col("l_partkey") % 64).alias("x"),
            (F.col("l_suppkey") % 64).alias("y"),
        )
        clustered = (
            li.withColumn("mk", morton_key("x", "y", bits=6))
            .repartitionByRange(32, "mk")
            .sortWithinPartitions("mk")
        )
        snapshot_create(clustered, base, id_col="l_orderkey", stats_cols=["mk"])
        _Q286_BUILT.add(base)
    return base


@query("q286_snapshot_pruned_serve", oracle=_q281_oracle())
def q286_snapshot_pruned_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE LEG of the z-order + zone-map path (q281 splits out the
    build, q258/q259 discipline): the clustered snapshot is committed
    once per process; this query is the steady-state 2-D box scan —
    manifest-planned file pruning on the Morton corner range
    [z(8,16), z(23,31)], zero directory listings, then the exact
    row-level box filter. At 100 TB this is the difference between
    scanning the table and scanning the ~1/16 of files whose key
    ranges overlap the box — min/max row-group statistics promoted to
    table-level planning. Same oracle as q281: skipping must never
    change an answer."""
    from .functions.manifest import snapshot_read

    def z(x: int, y: int, bits: int = 6) -> int:
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    base = _zordered_snapshot_base(spark, sf_dir)
    return (
        snapshot_read(spark, base, between=("mk", z(8, 16), z(23, 31)))
        .filter(F.col("x").between(8, 23) & F.col("y").between(16, 31))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum("mk").alias("sum_mk"),
        )
    )


@query(
    "q287_snapshot_optimize",
    oracle="""
    SELECT metric, value FROM (
      SELECT 'rows_' || l_returnflag AS metric, COUNT(*) AS value
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT 'files_' || l_returnflag, 1 FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT 'change_rows', 0
    ) ORDER BY metric
    """,
)
def q287_snapshot_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE OPTIMIZE as a commit (functions/manifest.
    snapshot_optimize): lineitem lands in FOUR streaming-shaped
    appends (one small commit per quarter — the read-amplification
    pattern every foreachBatch ingest produces), then one optimize
    rewrites each partition to a single file via
    snapshot_replace_partitions. Pinned: per-flag row counts (packing
    loses nothing), EXACTLY one file per partition afterwards (the
    manifest's file entries, a deterministic physical fact — unlike
    pre-optimize file counts, which vary with write parallelism and
    are deliberately not in the output), and an EMPTY change feed
    across the optimize version (physical rewrite, zero logical
    change — a lost or duplicated row would surface as a phantom
    insert/delete)."""
    import shutil

    from .functions.manifest import (
        _load_manifest,
        snapshot_append,
        snapshot_changes,
        snapshot_create,
        snapshot_optimize,
        snapshot_read,
    )

    base = _session_tmp("q287")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    snapshot_create(
        li.filter(F.col("l_orderkey") % 4 == 0),
        base,
        part_col="l_returnflag",
        id_col="l_orderkey",
    )
    for r in (1, 2, 3):
        snapshot_append(li.filter(F.col("l_orderkey") % 4 == r), base)
    v = snapshot_optimize(spark, base)
    m = _load_manifest(base, v)
    per_part_files = {}
    for e in m["files"]:
        per_part_files[e["part"]] = per_part_files.get(e["part"], 0) + 1
    files_rows = [(f"files_{p}", n) for p, n in per_part_files.items()]
    change_rows = [
        ("change_rows", snapshot_changes(spark, base, v - 1, v).count())
    ]
    facts = spark.createDataFrame(
        files_rows + change_rows, "metric string, value long"
    )
    rows = (
        snapshot_read(spark, base)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.concat(F.lit("rows_"), F.col("l_returnflag")).alias("metric"),
            "value",
        )
    )
    return rows.unionByName(facts).orderBy("metric")


@query(
    "q288_snapshot_schema_evolution",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           COUNT(CASE WHEN l_orderkey % 2 = 1 THEN 1 END) AS n_src,
           CAST(SUM(CASE WHEN l_orderkey % 2 = 1 THEN l_linenumber END)
                AS BIGINT) AS sum_src
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q288_snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADD-COLUMN SCHEMA EVOLUTION (functions/manifest.snapshot_append
    with merge_schema=True): v1 commits (key, qty, flag); v2 appends
    the odd-key half WITH a new ``src`` column. The recorded table
    schema evolves to the union; readers hand the evolved schema to
    the parquet scan, so v1's files — never rewritten, never touched —
    serve NULL for the new column while v2's rows carry their values:
    the per-flag non-null count and sum of ``src`` pin exactly which
    rows have the column. Type CHANGES are rejected (that is a
    rewrite, not an append) and time travel to v1 still reads the old
    schema (both unit-pinned). At 100 TB, add-column is a metadata
    edit — zero data movement."""
    import shutil

    from .functions.manifest import snapshot_append, snapshot_create, snapshot_read

    base = _session_tmp("q288")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem")
    snapshot_create(
        li.filter(F.col("l_orderkey") % 2 == 0).select(
            "l_orderkey", "l_quantity", "l_returnflag"
        ),
        base,
        part_col="l_returnflag",
        id_col="l_orderkey",
    )
    snapshot_append(
        li.filter(F.col("l_orderkey") % 2 == 1).select(
            "l_orderkey",
            "l_quantity",
            "l_returnflag",
            F.col("l_linenumber").alias("src"),
        ),
        base,
        merge_schema=True,
    )
    return (
        snapshot_read(spark, base)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("src").alias("n_src"),
            F.sum("src").alias("sum_src"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q289_snapshot_bloom_point_lookup",
    oracle="""
    WITH k AS (SELECT MAX(l_partkey) AS v FROM lineitem
               WHERE l_partkey % 2 = 0)
    SELECT (SELECT v FROM k) AS part_key, COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem WHERE l_partkey = (SELECT v FROM k)
    """,
)
def q289_snapshot_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-INDEXED POINT LOOKUP (functions/manifest, ``point=``):
    lineitem is committed with a per-file Bloom filter on l_partkey —
    a column the physical layout is NOT sorted by, so every file's
    [min, max] spans roughly the whole part domain and zone-map stats
    cannot prune an equality probe. The manifest's Bloom turns "scan
    every file" into "read the files that might contain the key".
    Each file's Bloom is sized from its row count (1024 bits per 100
    rows: false-positive rate ≈ 0.86% at any file size; a fixed
    1024-bit filter is all ones at sf0.01's ~3750 rows/file and
    prunes nothing), so a probe reads the files holding the key plus
    ≈ 0.86% of the rest (false positives cost one extra file each;
    the row-level equality filter keeps the answer exact — pruning
    must never change a result, same contract as q281/q286). At
    100 TB this is the secondary-index story for id-keyed erasure
    verification and record-level audits: O(files-that-match) reads,
    zero directory listings, no external index service. File-skipping
    effect is unit-pinned (tests/test_manifest.py: <half the files
    read); this oracle pins exactness on the probed key's rows."""
    import shutil

    from .functions.manifest import snapshot_create, snapshot_read

    base = _session_tmp("q289")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    key = int(
        li.filter(F.col("l_partkey") % 2 == 0)
        .agg(F.max("l_partkey"))
        .collect()[0][0]  # bounded: 1 scalar
    )
    snapshot_create(
        li.repartition(16),
        base,
        id_col="l_orderkey",
        stats_cols=["l_partkey"],
        bloom_cols=["l_partkey"],
    )
    return snapshot_read(spark, base, point=("l_partkey", key)).agg(
        F.lit(key).cast("long").alias("part_key"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query("q290_manifest_chunk_serve", oracle=_q263_oracle())
def q290_manifest_chunk_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-MaxSim SERVED FROM THE MANIFEST STORE — the lifecycle
    unification's retrieval leg (codes: q282, maintenance: q284,
    chunks: here): the persisted chunk table is committed as a
    snapshot (partitioned by list_id, coarse centroids in the manifest
    meta so model and membership version together), and the serve is
    TWO-PHASE: (1) functions/retrieval.chunk_probe_cells computes the
    batch's distinct probe frontier BEFORE any table read (≤ Q·nprobe
    ints, same round-6 frontier maths as static_probe), (2)
    snapshot_read(parts=cells) opens EXACTLY the probed cells' files —
    pruning decided at the manifest, zero directory listings, no
    partition filter left for the plan to prove. Results are
    hash-equal to the fused q263 and the directory-layout serve q266
    (same oracle): WHERE the index lives must never change WHAT it
    serves."""
    import shutil

    from .functions.manifest import snapshot_create, snapshot_read
    from .functions.retrieval import (
        build_chunk_index,
        chunk_probe_cells,
        maxsim_persisted_topk,
    )

    base = _session_tmp("q290")
    idx_dir = _session_tmp("q290_build")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(idx_dir, ignore_errors=True)
    d = t(spark, sf_dir, "documents")
    coarse = build_chunk_index(d, idx_dir, n_lists=8)
    snapshot_create(
        spark.read.parquet(f"{idx_dir}/chunks"),
        base,
        part_col="list_id",
        id_col="doc",
        meta={"coarse": [list(c) for c in coarse]},
    )
    q = d.orderBy("doc_id").limit(5)
    cells = chunk_probe_cells(q, coarse, nprobe=3)
    chunks = snapshot_read(spark, base, parts=cells)
    return maxsim_persisted_topk(q, chunks, coarse, k=5, nprobe=3).orderBy(
        "query_id", "doc_id"
    )


@query(
    "q291_snapshot_upsert",
    oracle="""
    WITH mx AS (SELECT MAX(l_orderkey) AS m FROM lineitem),
    batch_keys AS (
      SELECT DISTINCT l_orderkey AS k FROM lineitem WHERE l_orderkey % 10 = 7
    ),
    final AS (
      SELECT l_orderkey, l_quantity, l_returnflag FROM lineitem
      WHERE l_orderkey % 10 != 7
      UNION ALL
      SELECT k, 999.0, 'U' FROM batch_keys
      UNION ALL
      SELECT (SELECT m FROM mx) + t.i, 111.0, 'U'
      FROM generate_series(1, 3) AS t(i)
    )
    SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM final GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q291_snapshot_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-shaped UPSERT in ONE atomic commit (functions/manifest.
    snapshot_upsert): keys ≡ 7 (mod 10) are UPDATED (every existing
    row of the key replaced by one new row — WHEN MATCHED UPDATE) and
    three brand-new keys INSERT (WHEN NOT MATCHED), in a single
    manifest publication: tombstones on the batch's ids + the batch's
    data files ride one version, so no reader can observe the delete
    without the insert (a delete-then-append sequence has exactly that
    torn state between its two commits). The tombstones are SCOPED to
    strictly-older commits, so the batch's own rows survive the
    tombstones they shipped with — and, the semantics this forces
    right everywhere: deleting an id never erases a LATER append of
    the same id (unit-pinned). This is the CDC-apply operation every
    warehouse sink runs; compaction folds the tombstones on the normal
    schedule."""
    import shutil

    from .functions.manifest import snapshot_create, snapshot_read, snapshot_upsert

    base = _session_tmp("q291")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    snapshot_create(li, base, part_col="l_returnflag", id_col="l_orderkey")
    mx = int(li.agg(F.max("l_orderkey")).collect()[0][0])  # bounded: 1 scalar
    updates = (
        li.filter(F.col("l_orderkey") % 10 == 7)
        .select("l_orderkey")
        .distinct()
        .select(
            "l_orderkey",
            F.lit(999.0).alias("l_quantity"),
            F.lit("U").alias("l_returnflag"),
        )
    )
    inserts = spark.range(1, 4).select(
        (F.col("id") + mx).alias("l_orderkey"),
        F.lit(111.0).alias("l_quantity"),
        F.lit("U").alias("l_returnflag"),
    )
    snapshot_upsert(updates.unionByName(inserts), base, batch_tag="cdc1")
    return (
        snapshot_read(spark, base)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q292_incremental_view_maintenance",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
             AS sum_qty
    FROM lineitem
    WHERE l_orderkey % 7 != 3
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q292_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE over the change feed — what the
    manifest's CDC is FOR: a downstream aggregate (per-flag count +
    quantity total) is maintained by folding ONLY the deltas, never
    rescanning the table. The view is seeded from v1 and advanced by
    snapshot_changes(1→2) (an append) and (2→3) (a tombstone-only
    delete), each applied as signed rows (+1 insert / −1 delete) into
    one groupBy — O(|delta|) work per refresh, the manifest bounds the
    delta scan to the files that differ. Quantities accumulate in
    DECIMAL so the incremental sum is order-independent and lands
    bit-equal to the oracle's direct recompute of the final state:
    incremental ≡ recompute is the entire correctness contract of IVM,
    and it is hash-enforced here."""
    import shutil

    from .functions.manifest import (
        snapshot_append,
        snapshot_changes,
        snapshot_create,
        snapshot_delete,
    )

    base = _session_tmp("q292")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    snapshot_create(
        li.filter(F.col("l_orderkey") % 2 == 0),
        base,
        part_col="l_returnflag",
        id_col="l_orderkey",
    )
    snapshot_append(li.filter(F.col("l_orderkey") % 2 == 1), base)
    snapshot_delete(
        li.filter(F.col("l_orderkey") % 7 == 3).select("l_orderkey").distinct(),
        base,
    )
    seed = li.filter(F.col("l_orderkey") % 2 == 0).select(
        "l_returnflag", "l_quantity", F.lit(1).alias("sign")
    )
    deltas = [
        snapshot_changes(spark, base, v, v + 1).select(
            "l_returnflag",
            "l_quantity",
            F.when(F.col("_change") == "insert", 1).otherwise(-1).alias("sign"),
        )
        for v in (1, 2)
    ]
    signed = seed.unionByName(deltas[0]).unionByName(deltas[1])
    return (
        signed.groupBy("l_returnflag")
        .agg(
            F.sum("sign").alias("n"),
            F.round(
                F.sum(
                    F.col("l_quantity").cast("decimal(12,2)") * F.col("sign")
                ).cast("double"),
                2,
            ).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


@query("q293_stream_manifest_ann_ingest", oracle=_q248_oracle())
def q293_stream_manifest_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE STREAMING ANN INGEST THROUGH THE MANIFEST — q248's
    stateless encode map landing in the snapshot store instead of bare
    partition directories: each micro-batch of vectors is encoded
    against the frozen model (coarse argmin, residual, m codebook
    argmins — per-row, no shuffle, no state store) and committed by
    snapshot_append with ``batch_tag=b{batch_id}``, so Structured
    Streaming's batch-replay recovery can never double-ingest a vector
    (q283's discipline on the index table), every micro-batch is one
    atomic manifest publication (a crash mid-batch leaves orphan files
    for vacuum, never a torn codes table), and the serve side keeps
    reading its pinned snapshot mid-ingest. The streamed membership
    equals the batch build BIT-FOR-BIT regardless of arrival order —
    q248's full-training-chain oracle pins every row. This closes the
    manifest lifecycle loop for the ANN family: build (q282), maintain
    (q284), ingest (here), serve (q282/q290)."""
    import shutil

    from .functions.manifest import snapshot_append, snapshot_create, snapshot_read
    from .functions.similarity import ivfadc_encode, ivfadc_index_build
    from .storage import release_checkpoint
    from .streaming.core import embeddings_stream

    e = t(spark, sf_dir, "embeddings")
    index, coarse, cents = ivfadc_index_build(e, n_lists=8, m=4, k=4, iters=2)
    release_checkpoint(index)  # the stream rebuilds the codes table

    base = _session_tmp("q293")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(f"{base}_ckpt", ignore_errors=True)  # fresh replay per
    # invocation (q283's lesson)
    enc = ivfadc_encode(embeddings_stream(spark, sf_dir), coarse, cents)
    seen: list[str] = []

    def commit(bdf: DataFrame, batch_id: int) -> None:
        tag = f"b{batch_id}"
        if not seen:
            snapshot_create(bdf, base, part_col="list_id", id_col="id")
            snapshot_append(
                spark.createDataFrame([], bdf.schema), base, batch_tag=tag
            )
        else:
            snapshot_append(bdf, base, batch_tag=tag)
        seen.append(tag)

    (
        enc.writeStream.foreachBatch(commit)
        .option("checkpointLocation", f"{base}_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    # recovery replay of the first micro-batch: must be a no-op
    snapshot_append(
        ivfadc_encode(e, coarse, cents), base, batch_tag=seen[0]
    )
    return (
        snapshot_read(spark, base)
        .select(
            "id",
            F.col("list_id").cast("int").alias("list_id"),
            *[F.col(f"code{j}").cast("int").alias(f"code{j}") for j in range(4)],
        )
        .orderBy("id")
    )


@query(
    "q294_stream_optimize_trigger",
    oracle="""
    SELECT metric, value FROM (
      SELECT CONCAT('rows_', event_type) AS metric, COUNT(*) AS value
      FROM events GROUP BY event_type
      UNION ALL SELECT 'change_rows_across_optimize', 0
      UNION ALL SELECT 'max_files_per_part_at_optimize', 1
      UNION ALL SELECT 'optimize_fired', 1
    ) ORDER BY metric
    """,
)
def q294_stream_optimize_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INGEST + FILE-COUNT-DRIVEN OPTIMIZE — the table-layer
    twin of q271's health-triggered split, closing the round-9 verdict
    directive #6: a ``foreachBatch`` manifest ingest accrues one small
    file per partition per micro-batch (read amplification grows with
    every batch), and the SAME foreachBatch runs a census over the
    snapshot HEADER's segment-ref summaries — an O(segments) metadata
    read, no file listing, no data touched — firing
    ``snapshot_optimize`` exactly once (at-most-one guard: maintenance
    must not storm) when any partition's file count crosses the
    threshold. The optimize publishes as an ordinary commit, so the
    pinned-reader isolation and the EMPTY change feed across it
    (physical rewrite, zero logical change) hold by construction —
    both pinned in the output alongside the per-type row counts, which
    the oracle checks against the batch events table (exactly-once
    under the batch-tag discipline, q283). The table history is
    streaming-shaped by seeding three quarter-commits before the
    stream delivers the fourth; single-file AvailableNow delivery
    makes the one-batch trigger deterministic (q271's note)."""
    import shutil

    from .functions.manifest import (
        _load_header,
        snapshot_append,
        snapshot_changes,
        snapshot_create,
        snapshot_optimize,
        snapshot_read,
    )
    from .streaming.core import events_stream

    TRIP = 4  # census threshold: any partition at >= 4 files
    base = _session_tmp("q294")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(f"{base}_ckpt", ignore_errors=True)  # fresh replay per
    # invocation (q283's lesson)
    ev_cols = ["event_id", "event_type", "value"]
    ev = t(spark, sf_dir, "events").select(*ev_cols)
    # streaming-shaped seed: one small commit per quarter of history —
    # exactly the read-amplification pattern a foreachBatch writer accrues
    snapshot_create(
        ev.filter(F.col("event_id") % 4 == 0), base,
        part_col="event_type", id_col="event_id",
    )
    for r in (1, 2):
        snapshot_append(ev.filter(F.col("event_id") % 4 == r), base)
    fired: dict = {}

    def header_file_census(version=None) -> "dict[str, int]":
        counts: dict[str, int] = {}
        for ref in _load_header(base, version)["file_segs"]:
            for k, (n, _rows) in ref["part_stats"].items():
                counts[k] = counts.get(k, 0) + n
        return counts

    def commit(bdf: DataFrame, batch_id: int) -> None:
        snapshot_append(bdf.select(*ev_cols), base, batch_tag=f"b{batch_id}")
        counts = header_file_census()
        if counts and max(counts.values()) >= TRIP and not fired:
            # fold EVERY multi-file partition (min_files=2): the
            # trigger is the hot partition, the fold is the whole
            # backlog — one commit either way
            fired["v"] = snapshot_optimize(spark, base, min_files=2)

    (
        events_stream(spark, sf_dir)
        .select(*ev_cols)
        .filter(F.col("event_id") % 4 == 3)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", f"{base}_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert fired, "header census did not trip the optimize trigger"
    v_opt = fired["v"]
    facts = spark.createDataFrame(
        [
            ("optimize_fired", 1),
            (
                "max_files_per_part_at_optimize",
                max(header_file_census(v_opt).values()),
            ),
            (
                "change_rows_across_optimize",
                snapshot_changes(spark, base, v_opt - 1, v_opt).count(),
            ),
        ],
        "metric string, value long",
    )
    rows = (
        snapshot_read(spark, base)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.concat(F.lit("rows_"), F.col("event_type")).alias("metric"),
            "value",
        )
    )
    return rows.unionByName(facts).orderBy("metric")


@query(
    "q295_snapshot_rewrite_manifests",
    oracle="""
    SELECT metric, value FROM (
      SELECT CONCAT('rows_', l_returnflag) AS metric, COUNT(*) AS value
      FROM lineitem WHERE l_orderkey % 97 != 3
      GROUP BY l_returnflag
      UNION ALL SELECT 'file_refs_before', 5
      UNION ALL SELECT 'file_refs_after', 1
      UNION ALL SELECT 'tomb_refs_after', 1
      UNION ALL SELECT 'change_rows_across_rewrite', 0
    ) ORDER BY metric
    """,
)
def q295_snapshot_rewrite_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST COMPACTION (functions/manifest.snapshot_rewrite_
    manifests — Iceberg's rewrite_manifests): every commit appends one
    segment ref to the snapshot header, so a long foreachBatch ingest
    history grows the header linearly in COMMIT count even though
    commits stay O(files-touched). The fold rewrites the metadata —
    five per-quarter commit refs collapse to one consolidated segment,
    tombstone refs group by their applies_before bound — while
    touching ZERO data files: the file listing is identical
    (same immutable paths), reads are identical (per-flag counts
    hash-checked against the batch table with the delete applied), and
    the change feed across the rewrite version is EMPTY. Together with
    q294's OPTIMIZE trigger this bounds both widths a streaming table
    accumulates: data files per partition (optimize) and segment refs
    per header (this)."""
    import shutil

    from .functions.manifest import (
        _load_header,
        snapshot_append,
        snapshot_changes,
        snapshot_create,
        snapshot_delete,
        snapshot_read,
        snapshot_rewrite_manifests,
    )

    base = _session_tmp("q295")
    shutil.rmtree(base, ignore_errors=True)
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    snapshot_create(
        li.filter(F.col("l_orderkey") % 5 == 0), base,
        part_col="l_returnflag", id_col="l_orderkey",
    )
    for r in (1, 2, 3, 4):
        snapshot_append(li.filter(F.col("l_orderkey") % 5 == r), base)
    snapshot_delete(
        li.filter(F.col("l_orderkey") % 97 == 3)
        .select("l_orderkey").distinct(),
        base,
    )
    refs_before = len(_load_header(base)["file_segs"])
    v = snapshot_rewrite_manifests(base)
    h = _load_header(base, v)
    facts = spark.createDataFrame(
        [
            ("file_refs_before", refs_before),
            ("file_refs_after", len(h["file_segs"])),
            ("tomb_refs_after", len(h["tomb_segs"])),
            (
                "change_rows_across_rewrite",
                snapshot_changes(spark, base, v - 1, v).count(),
            ),
        ],
        "metric string, value long",
    )
    rows = (
        snapshot_read(spark, base)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("value"))
        .select(
            F.concat(F.lit("rows_"), F.col("l_returnflag")).alias("metric"),
            "value",
        )
    )
    return rows.unionByName(facts).orderBy("metric")


@query(
    "q296_snapshot_hive_partitioned_table",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    WHERE event_type = 'click' AND event_id % 11 != 5
    GROUP BY 1
    ORDER BY d
    """,
)
def q296_snapshot_hive_partitioned_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL (event_type, day) PARTITIONING end-to-end
    (functions/manifest, round-10 multi-column support): the events
    table lands as a two-level Hive layout, a delete is folded by a
    compaction that rewrites ONLY the affected leaf partitions (every
    other leaf carried by segment ref), and the serve path reads ONE
    event type's leaves via TUPLE-valued manifest pruning — the probe
    collects the type's distinct days (bounded: ≤ #days rows), passes
    ``parts=[(type, day), ...]``, and the scan opens exactly those
    leaves' files, no directory listing, no partition filter needed in
    the plan. Per-day counts/sums are hash-checked against the batch
    table with the delete applied — resurrection or loss in ANY leaf
    (the NULL-token and escaping pitfalls live exactly here) would
    break the match."""
    import shutil

    from .functions.manifest import (
        snapshot_compact,
        snapshot_create,
        snapshot_delete,
        snapshot_read,
    )

    base = _session_tmp("q296")
    shutil.rmtree(base, ignore_errors=True)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value",
        F.to_date("ts").alias("d"),
    )
    snapshot_create(
        ev, base, part_col=["event_type", "d"], id_col="event_id",
    )
    snapshot_delete(
        ev.filter(F.col("event_id") % 11 == 5).select("event_id"), base
    )
    snapshot_compact(spark, base)
    days = [
        r["d"]
        for r in ev.filter(F.col("event_type") == "click")
        .select("d").distinct().collect()  # bounded: ≤ #days
    ]
    leaves = snapshot_read(
        spark, base, parts=[("click", d) for d in days]
    )
    return (
        leaves.groupBy(F.col("d").cast("string").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("d")
    )


@query(
    "q297_snapshot_as_of_timestamp",
    oracle="""
    WITH v2 AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_price
      FROM orders WHERE o_orderkey % 3 != 2 GROUP BY o_orderpriority
    ),
    v3 AS (
      SELECT o_orderpriority, COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS sum_price
      FROM orders GROUP BY o_orderpriority
    )
    SELECT 'as_of_v2' AS snap, * FROM v2
    UNION ALL
    SELECT 'latest' AS snap, * FROM v3
    ORDER BY snap, o_orderpriority
    """,
)
def q297_snapshot_as_of_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF-TIMESTAMP TIME TRAVEL (round-11 verdict directive #3):
    every commit header records a MONOTONIC wall-clock timestamp
    (``max(parent_ts + 1µs, now)`` — writer clock skew can never
    reorder history), so a reader can resolve "the table as of
    <wall-clock>" without knowing version numbers — the ``AS OF
    TIMESTAMP`` the table formats expose, and the resolution rule
    age-based vacuum retention (``retain_hours=``) shares. Three
    commits build the orders table in thirds; the query reads back
    (a) the state AS OF v2's exact recorded commit time — inclusive
    boundary, the newest commit ≤ ts — and (b) the state as of a
    wall-clock after the last commit, aggregating each. The oracle
    recomputes both states directly; DECIMAL accumulation keeps the
    sums order-independent. Resolution is O(versions) header reads —
    no segment or data file is opened to answer "which version was
    live at 14:03". Reference: no persistence lifecycle at all
    (utils/package.scala:418-427); parity target is Delta/Iceberg
    timestamp travel."""
    import datetime
    import shutil

    from .functions.manifest import (
        _load_header,
        snapshot_append,
        snapshot_create,
        snapshot_read,
        snapshot_version_as_of,
    )

    base = _session_tmp("q297")
    shutil.rmtree(base, ignore_errors=True)
    od = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    snapshot_create(
        od.filter(F.col("o_orderkey") % 3 == 0), base, id_col="o_orderkey"
    )
    snapshot_append(od.filter(F.col("o_orderkey") % 3 == 1), base)
    snapshot_append(od.filter(F.col("o_orderkey") % 3 == 2), base)
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    t2 = epoch + datetime.timedelta(
        microseconds=_load_header(base, 2)["ts_us"]
    )
    t_after = epoch + datetime.timedelta(
        microseconds=_load_header(base, 3)["ts_us"] + 1
    )
    assert snapshot_version_as_of(base, t2) == 2  # inclusive boundary

    def agg(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                        "double"
                    ),
                    2,
                ).alias("sum_price"),
            )
            .select(
                F.lit(tag).alias("snap"), "o_orderpriority", "n", "sum_price"
            )
        )

    return (
        agg(snapshot_read(spark, base, as_of_ts=t2), "as_of_v2")
        .unionByName(agg(snapshot_read(spark, base, as_of_ts=t_after), "latest"))
        .orderBy("snap", "o_orderpriority")
    )


@query(
    "q298_snapshot_cdf_stream",
    oracle="""
    WITH final AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 17 = 3 THEN -1.0 ELSE value END AS value
      FROM events
      WHERE event_id % 17 = 3 OR event_id % 13 != 5
    )
    SELECT event_type, COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM final GROUP BY event_type
    UNION ALL
    SELECT '_optimize_delta_rows', 0, 0.0
    ORDER BY event_type
    """,
)
def q298_snapshot_cdf_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CHANGE FEED AS A STREAMING SOURCE (round-11 verdict
    directive #1) — streaming/cdf.SnapshotChangeStream turns
    ``snapshot_changes`` from a batch diff into a consumable stream:
    one micro-batch per snapshot version behind a DURABLE cursor, so
    the store's incremental consumers (q292's IVM, derived-index
    refresh, shard re-packing) become a real produce→consume pipeline
    instead of hand-rolled version polling — Delta CDF's readStream
    composition. The upstream events table is built through the FULL
    lifecycle: create + batch append, a Structured Streaming
    ``foreachBatch`` ingest leg (batch-tagged, exactly-once under
    replay — q283's discipline), a merge-on-read DELETE, an atomic
    UPSERT (value := -1 for matched keys, including keys the delete
    had removed), and a file-count OPTIMIZE. A downstream per-type
    aggregate is maintained ONLY from the v1 seed plus the five CDF
    deliveries folded as signed rows (+insert/−delete, q292's IVM
    algebra); the oracle recomputes the final state directly from the
    events table — incremental ≡ recompute, hash-enforced. The
    OPTIMIZE delivery is pinned EMPTY in the output (physical rewrite,
    zero logical change — '_optimize_delta_rows'): a CDF consumer
    never re-shards because maintenance ran. At 100 TB: finding new
    versions is a header listing; each delivery is bounded by the one
    commit's differing files (segment-level diff), so a caught-up
    consumer does O(commit) work per trigger regardless of table
    size."""
    import shutil

    from .functions.manifest import (
        snapshot_append,
        snapshot_create,
        snapshot_delete,
        snapshot_optimize,
        snapshot_read,
        snapshot_upsert,
    )
    from .streaming.cdf import SnapshotChangeStream
    from .streaming.core import events_stream

    base = _session_tmp("q298")
    cons = _session_tmp("q298_cursor")
    for d in (base, cons, f"{base}_ckpt"):
        shutil.rmtree(d, ignore_errors=True)  # fresh replay per invocation
    cols = ["event_id", "event_type", "value"]
    ev = t(spark, sf_dir, "events").select(*cols)
    snapshot_create(
        ev.filter(F.col("event_id") % 4 == 0), base,
        part_col="event_type", id_col="event_id",
    )
    snapshot_append(ev.filter(F.col("event_id") % 4 == 1), base)
    # the consumer's state incorporates v1 (its seed below) — deltas
    # begin at 1→2 and include the pre-attach batch append
    cs = SnapshotChangeStream(spark, base, cons, start_version=1)
    (
        events_stream(spark, sf_dir)
        .select(*cols)
        .filter(F.col("event_id") % 4 >= 2)
        .writeStream.foreachBatch(
            lambda bdf, bid: snapshot_append(
                bdf.select(*cols), base, batch_tag=f"b{bid}"
            )
        )
        .option("checkpointLocation", f"{base}_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    snapshot_delete(
        ev.filter(F.col("event_id") % 13 == 5).select("event_id"), base
    )
    snapshot_upsert(
        ev.filter(F.col("event_id") % 17 == 3).withColumn(
            "value", F.lit(-1.0)
        ),
        base,
    )
    snapshot_optimize(spark, base, min_files=2)

    seed = snapshot_read(spark, base, version=1).select(
        "event_type", "value", F.lit(1).alias("sign")
    )
    deltas: "list[DataFrame]" = []

    def fold(delta: DataFrame, v: int) -> None:
        deltas.append(
            delta.select(
                "event_type",
                "value",
                F.when(F.col("_change") == "insert", 1)
                .otherwise(-1)
                .alias("sign"),
            )
        )

    delivered = cs.process_available(fold)
    assert delivered == 5, delivered  # v2..v6, one delivery each
    opt_delta_rows = deltas[-1].count()  # v6 = optimize: empty feed
    signed = seed
    for d in deltas:
        signed = signed.unionByName(d)
    agg = signed.groupBy("event_type").agg(
        F.sum("sign").alias("n"),
        F.round(F.sum(F.col("value") * F.col("sign")), 2).alias("sum_value"),
    )
    sentinel = spark.createDataFrame(
        [("_optimize_delta_rows", opt_delta_rows, 0.0)],
        "event_type string, n long, sum_value double",
    )
    return agg.unionByName(sentinel).orderBy("event_type")


@query(
    "q299_snapshot_clustered_optimize",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
    FROM events WHERE user_id BETWEEN 40 AND 49
    GROUP BY event_type
    UNION ALL
    SELECT '_zone_map_pruned', 1, 0.0
    ORDER BY event_type
    """,
)
def q299_snapshot_clustered_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATS-CLUSTERED OPTIMIZE (round-11 stretch directive #7) — the
    sort-order rewrite of the table formats: streaming ingest
    interleaves arrival order, so every file's min/max on a query
    column spans the whole domain and the zone map admits EVERYTHING;
    ``snapshot_optimize(cluster_by=["user_id"],
    max_records_per_file=...)`` rewrites each partition as
    range-disjoint files, after which a ``between=`` probe admits a
    strict subset of the manifest — pinned here as a deterministic
    metric row ('_zone_map_pruned' = 1 iff admitted < total), with the
    probed aggregate hash-checked against the oracle's direct
    recompute. The rewrite is an ordinary commit (empty change feed,
    pinned in unit tests); at 100 TB this is the scheduled op that
    restores scan-time locality a foreachBatch writer cannot provide
    at ingest."""
    import shutil

    from .functions.manifest import (
        _load_manifest,
        _stats_admits,
        snapshot_append,
        snapshot_create,
        snapshot_optimize,
        snapshot_read,
    )

    base = _session_tmp("q299")
    shutil.rmtree(base, ignore_errors=True)
    cols = ["event_id", "event_type", "user_id", "value"]
    ev = t(spark, sf_dir, "events").select(*cols)
    # four arrival-interleaved commits, one file per partition each —
    # every file covers the full user_id domain
    snapshot_create(
        ev.filter(F.col("event_id") % 4 == 0).repartition(1), base,
        part_col="event_type", id_col="event_id", stats_cols=["user_id"],
    )
    for r in (1, 2, 3):
        snapshot_append(ev.filter(F.col("event_id") % 4 == r).repartition(1), base)

    def admitted(lo: int, hi: int) -> "tuple[int, int]":
        m = _load_manifest(base)
        n = sum(
            1
            for e in m["files"]
            if e.get("stats", {}).get("user_id") is None
            or _stats_admits(e["stats"]["user_id"], lo, hi)
        )
        return n, len(m["files"])

    pre_adm, pre_total = admitted(40, 49)
    snapshot_optimize(
        spark, base, min_files=2, max_records_per_file=500,
        cluster_by=["user_id"],
    )
    post_adm, post_total = admitted(40, 49)
    pruned = int(post_adm < post_total and pre_adm == pre_total)
    agg = (
        snapshot_read(spark, base, between=("user_id", 40, 49))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    sentinel = spark.createDataFrame(
        [("_zone_map_pruned", pruned, 0.0)],
        "event_type string, n long, sum_value double",
    )
    return agg.unionByName(sentinel).orderBy("event_type")


@query(
    "q300_cdf_derived_index_refresh",
    oracle=(
        "SELECT * FROM ("
        + _q248_oracle()
        + ") WHERE id % 9 != 4 ORDER BY id"
    ),
)
def q300_cdf_derived_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DERIVED-INDEX REFRESH FROM THE CHANGE FEED — the consumer the
    CDF stream (q298) was built for, closing the round-10 verdict's
    'top_next' loop end-to-end: a SOURCE-OF-TRUTH embeddings table
    lives in one snapshot store; its IVFADC codes table (the derived
    artifact ANN serving reads) lives in ANOTHER, and after seeding it
    is maintained ONLY by a SnapshotChangeStream consumer — never a
    rebuild, never a full rescan. Each delivery encodes the delta's
    inserts against the FROZEN model (ivfadc_encode: a pure map,
    q248's rule) and upserts them with ``txn=("idx", version)``
    (redelivery-safe), and cascades the delta's deletes as
    merge-on-read tombstones on the codes store. The final derived
    table equals the full-chain DuckDB training oracle (q248's family)
    restricted to the surviving ids — incremental maintenance ≡ batch
    recompute, bit-for-bit on every code. At 100 TB: per delivery the
    consumer touches O(one commit's differing files) upstream and
    O(|delta|) downstream; the source table is never rescanned after
    the seed, which is the entire economics of CDC-driven index
    maintenance (the Delta CDF + MERGE pattern)."""
    import shutil

    from .functions.manifest import (
        snapshot_append,
        snapshot_create,
        snapshot_delete,
        snapshot_read,
        snapshot_upsert,
    )
    from .functions.similarity import ivfadc_encode, ivfadc_index_build
    from .storage import release_checkpoint
    from .streaming.cdf import SnapshotChangeStream

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # frozen model, trained once on the full corpus (q245's sidecars)
    index, coarse, cents = ivfadc_index_build(
        t(spark, sf_dir, "embeddings"), n_lists=8, m=4, k=4, iters=2
    )
    release_checkpoint(index)  # the derived table is rebuilt from CDF only

    up = _session_tmp("q300_up")
    down = _session_tmp("q300_codes")
    cons = _session_tmp("q300_cursor")
    for d in (up, down, cons):
        shutil.rmtree(d, ignore_errors=True)  # fresh replay per invocation
    snapshot_create(e.filter(F.col("vec_id") % 3 == 0), up, id_col="vec_id")
    # seed the derived store from the v1 snapshot, then attach at v1
    snapshot_create(
        ivfadc_encode(snapshot_read(spark, up, version=1), coarse, cents),
        down,
        part_col="list_id",
        id_col="id",
    )
    cs = SnapshotChangeStream(spark, up, cons, start_version=1)
    snapshot_append(e.filter(F.col("vec_id") % 3 == 1), up)  # v2
    snapshot_append(e.filter(F.col("vec_id") % 3 == 2), up)  # v3
    snapshot_delete(
        e.filter(F.col("vec_id") % 9 == 4).select("vec_id"), up
    )  # v4

    def refresh(delta: DataFrame, v: int) -> None:
        dels = delta.filter(F.col("_change") == "delete").select("vec_id")
        if not dels.isEmpty():
            # txn-guarded like the insert leg: a crash-redelivery of v
            # must not burn a version on a duplicate tombstone set
            snapshot_delete(dels, down, txn=("idx_del", v))
        ins = delta.filter(F.col("_change") == "insert").drop("_change")
        if not ins.isEmpty():
            snapshot_upsert(
                ivfadc_encode(ins, coarse, cents), down, txn=("idx", v)
            )

    delivered = cs.process_available(refresh)
    assert delivered == 3, delivered
    return (
        snapshot_read(spark, down)
        .select(
            "id",
            F.col("list_id").cast("int").alias("list_id"),
            *[F.col(f"code{j}").cast("int").alias(f"code{j}") for j in range(4)],
        )
        .orderBy("id")
    )


@query(
    "q301_snapshot_conditional_merge",
    oracle="""
    SELECT * FROM (
        SELECT c_custkey,
               c_name,
               c_nationkey,
               ROUND(CASE WHEN c_custkey % 5 = 1 THEN c_acctbal + 1000
                          ELSE c_acctbal END, 2) AS c_acctbal,
               CASE WHEN c_custkey % 5 = 1 THEN 'CDC'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer WHERE c_custkey % 5 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, c_name, c_nationkey,
               ROUND(c_acctbal, 2), c_mktsegment
        FROM customer WHERE c_custkey % 5 = 2
        UNION ALL
        SELECT -1, '_merge_commits', 1, 0.0, ''
    ) ORDER BY c_custkey
    """,
)
def q301_snapshot_conditional_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL MERGE — the CDC-apply surface (round-11 verdict
    top_next; Delta MERGE / Iceberg MERGE INTO parity): ONE op-coded
    batch carrying mixed I/U/D rows applies to a snapshot table in ONE
    atomic commit via ``snapshot_merge`` (functions/manifest.py) —
    ``op='d'`` rows delete their target row, matched ``op='u'`` rows
    update ONLY (c_acctbal, c_mktsegment) keeping every other column
    from the current target row (the partial-column path that reads
    matched rows back, scan-bounded by per-file stats/Bloom admission
    of the batch's ids), and unmatched rows insert. The sentinel row
    pins atomicity: exactly ONE version was committed for all three
    effects — no reader could observe the deletes without the inserts
    (the torn state a delete-then-append sequence has between its two
    commits). Replay-idempotent via ``txn``: the second identical call
    is a no-op (also pinned — version count still 1). The reference
    has no mutation surface at all (tables are immutable post-load,
    ``etl/SqlHandler.scala:60-101``); parity target is the table
    formats' MERGE."""
    import shutil

    from .functions.manifest import (
        snapshot_create,
        snapshot_merge,
        snapshot_read,
        snapshot_versions,
    )

    base = _session_tmp("q301")
    shutil.rmtree(base, ignore_errors=True)
    cust = t(spark, sf_dir, "customer")
    snapshot_create(
        cust, base, id_col="c_custkey",
        stats_cols=["c_custkey"], bloom_cols=["c_custkey"],
    )
    key = F.col("c_custkey")
    d_src = cust.filter(key % 5 == 0).select("c_custkey").withColumn(
        "op", F.lit("d")
    )
    u_src = (
        cust.filter(key % 5 == 1)
        .select(
            "c_custkey",
            (F.col("c_acctbal") + 1000).alias("c_acctbal"),
        )
        .withColumn("c_mktsegment", F.lit("CDC"))
        .withColumn("op", F.lit("u"))
    )
    i_src = (
        cust.filter(key % 5 == 2)
        .select(
            (key + 1000000).alias("c_custkey"),
            "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
        )
        .withColumn("op", F.lit("i"))
    )
    src = i_src.unionByName(u_src, allowMissingColumns=True).unionByName(
        d_src, allowMissingColumns=True
    )
    for _replay in range(2):  # second call must be a txn no-op
        snapshot_merge(
            src, base,
            when_matched_update=["c_acctbal", "c_mktsegment"],
            when_matched_delete="op = 'd'",
            when_not_matched_insert=True,
            txn=("cdc_apply", 1),
        )
    n_commits = len(snapshot_versions(base)) - 1
    out = snapshot_read(spark, base).select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "c_mktsegment",
    )
    sentinel = spark.createDataFrame(
        [(-1, "_merge_commits", n_commits, 0.0, "")],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    return out.unionByName(sentinel).orderBy("c_custkey")


@query(
    "q302_snapshot_delete_where_retention",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18, 6))), 2) AS DOUBLE)
               AS sum_value
    FROM events
    WHERE NOT (ts BETWEEN TIMESTAMP '2024-01-01 00:00:00'
                      AND TIMESTAMP '2024-01-10 00:00:00')
    GROUP BY event_type
    UNION ALL
    SELECT '_noop_tick_burned_no_version', 1, 0.0
    ORDER BY event_type
    """,
)
def q302_snapshot_delete_where_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE WHERE as the RETENTION JOB (round-11 verdict #3):
    ``snapshot_delete_where(between=("ts", lo, cutoff))`` resolves the
    expired ids via a MANIFEST-PRUNED scan — the events table is
    committed in ts-ordered batches (the shape any time-series ingest
    produces), so per-file ts zone maps admit only the files
    overlapping the retention window and the resolving scan reads
    O(matching files), not O(table) (spy-pinned in
    tests/test_manifest.py::test_delete_where_scans_only_admitting_files)
    — then tombstones them through the ordinary merge-on-read path.
    The sentinel pins the schedule-fire contract: re-firing the same
    retention tick (nothing left to delete) returns the CURRENT
    version without burning a commit. Deleted history remains
    time-travelable until vacuum — retention of DATA and retention of
    HISTORY stay separate policies, the same split the table formats
    make."""
    import datetime
    import shutil

    from .functions.manifest import (
        snapshot_create,
        snapshot_append,
        snapshot_delete_where,
        snapshot_read,
        snapshot_versions,
    )

    base = _session_tmp("q302")
    shutil.rmtree(base, ignore_errors=True)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    key = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "TIMESTAMP_MICROS")  # ts zone maps (INT96 has none)
    try:
        # three ts-ordered commits — the arrival order of any
        # time-series ingest; each file's ts range stays tight
        cut1 = datetime.datetime(2024, 1, 10)
        cut2 = datetime.datetime(2024, 1, 20)
        snapshot_create(
            ev.filter(F.col("ts") <= cut1).repartition(2), base,
            id_col="event_id", stats_cols=["ts"],
        )
        snapshot_append(
            ev.filter((F.col("ts") > cut1) & (F.col("ts") <= cut2))
            .repartition(2), base,
        )
        snapshot_append(ev.filter(F.col("ts") > cut2).repartition(2), base)
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
    lo = datetime.datetime(2024, 1, 1)
    v_del = snapshot_delete_where(spark, base, between=("ts", lo, cut1))
    v_noop = snapshot_delete_where(spark, base, between=("ts", lo, cut1))
    agg = (
        snapshot_read(spark, base)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18, 6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    sentinel = spark.createDataFrame(
        [("_noop_tick_burned_no_version", int(v_noop == v_del), 0.0)],
        "event_type string, n long, sum_value double",
    )
    return agg.unionByName(sentinel).orderBy("event_type")


@query(
    "q303_snapshot_zorder_clustered",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18, 6))), 2) AS DOUBLE)
               AS sum_value
    FROM events WHERE user_id BETWEEN 40 AND 49
    GROUP BY event_type
    UNION ALL
    SELECT '_zm_pruned_user_id', 1, 0.0
    UNION ALL
    SELECT '_zm_pruned_value', 1, 0.0
    ORDER BY event_type
    """,
)
def q303_snapshot_zorder_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-COLUMN Z-ORDER OPTIMIZE (round-11 verdict #5): q299
    showed single-column clustering; a LEXICAL 2-col sort leaves the
    SECOND column's per-file range as wide as the domain, so only the
    first column prunes. ``cluster_by=["user_id", "value"]`` now sorts
    by a Z-order interleave (equal-width ``width_bucket`` census →
    ``layout.zorder_key_n`` bit interleave — one whole-stage-codegen
    expression, no UDF), so zone maps tighten on BOTH columns: the two
    sentinel rows pin that a box probe on user_id AND a box probe on
    value each admit a STRICT SUBSET of files after OPTIMIZE, where
    before it every file admitted both probes (four
    arrival-interleaved commits each cover both full domains). The agg
    result pins row-exactness of the rewrite. This is Delta/Iceberg
    Z-ORDER parity on the snapshot store's own OPTIMIZE."""
    import shutil

    from .functions.manifest import (
        _load_manifest,
        _stats_admits,
        snapshot_append,
        snapshot_create,
        snapshot_optimize,
        snapshot_read,
    )

    base = _session_tmp("q303")
    shutil.rmtree(base, ignore_errors=True)
    cols = ["event_id", "event_type", "user_id", "value"]
    ev = t(spark, sf_dir, "events").select(*cols)
    snapshot_create(
        ev.filter(F.col("event_id") % 4 == 0).repartition(1), base,
        part_col="event_type", id_col="event_id",
        stats_cols=["user_id", "value"],
    )
    for r in (1, 2, 3):
        snapshot_append(
            ev.filter(F.col("event_id") % 4 == r).repartition(1), base
        )

    def admitted(col: str, lo, hi) -> "tuple[int, int]":
        m = _load_manifest(base)
        n = sum(
            1
            for e in m["files"]
            if e.get("stats", {}).get(col) is None
            or _stats_admits(e["stats"][col], lo, hi)
        )
        return n, len(m["files"])

    probes = {"user_id": (40, 49), "value": (100.0, 150.0)}
    pre = {c: admitted(c, lo, hi) for c, (lo, hi) in probes.items()}
    snapshot_optimize(
        spark, base, min_files=2, max_records_per_file=500,
        cluster_by=["user_id", "value"],
    )
    post = {c: admitted(c, lo, hi) for c, (lo, hi) in probes.items()}
    sentinels = [
        (
            f"_zm_pruned_{c}",
            int(
                post[c][0] < post[c][1]
                and pre[c][0] == pre[c][1]
            ),
            0.0,
        )
        for c in ("user_id", "value")
    ]
    agg = (
        snapshot_read(spark, base, between=("user_id", 40, 49))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18, 6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    sentinel = spark.createDataFrame(
        sentinels, "event_type string, n long, sum_value double"
    )
    return agg.unionByName(sentinel).orderBy("event_type")


@query(
    "q304_snapshot_rename_drop_column",
    oracle="""
    SELECT * FROM (
        SELECT c_custkey AS k, c_name, c_nationkey,
               ROUND(c_acctbal, 2) AS balance
        FROM customer
        UNION ALL
        SELECT c_custkey + 1000000, c_name, c_nationkey,
               ROUND(c_acctbal + 500, 2)
        FROM customer WHERE c_custkey % 7 = 3
        UNION ALL SELECT -1, '_v1_serves_old_name', 1, 0.0
        UNION ALL SELECT -2, '_dropped_column_gone', 1, 0.0
        UNION ALL SELECT -3, '_resurrection_rejected', 1, 0.0
        UNION ALL SELECT -4, '_both_ops_header_only', 1, 0.0
    ) ORDER BY k
    """,
)
def q304_snapshot_rename_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN RENAME + DROP as HEADER-ONLY commits (round-11 verdict
    missing #2, closed): ``snapshot_rename_column`` records
    ``{from, to, at: version}`` and readers reverse-map each file's
    PHYSICAL column names from its commit version (the per-commit read
    grouping makes this free — Iceberg does it with field ids), so
    ``c_acctbal → balance`` touches zero data files; rows appended
    after the rename write the new physical name and both eras union
    under the logical column, value-exact vs the DuckDB recompute.
    ``snapshot_drop_column`` shrinks the schema; the explicit-schema
    read never selects the dropped pages. Sentinels pin the contract:
    the pre-rename snapshot still time-travels with its OLD name; the
    dropped column is gone from the current read; RE-ADDING a dropped
    name is rejected (its physical data still sits in old files —
    resurrection guard); and NEITHER op changed a single (commit,
    path) file entry — pure metadata. At 100 TB a rename/drop is an
    O(header) commit instead of a table rewrite, which is the entire
    point."""
    import shutil

    from .functions.manifest import (
        _load_manifest,
        snapshot_append,
        snapshot_create,
        snapshot_drop_column,
        snapshot_read,
        snapshot_rename_column,
    )

    base = _session_tmp("q304")
    shutil.rmtree(base, ignore_errors=True)
    cust = t(spark, sf_dir, "customer")
    snapshot_create(
        cust, base, id_col="c_custkey", stats_cols=["c_custkey"],
    )

    def file_ids():
        return {
            (e["commit"], e["path"]) for e in _load_manifest(base)["files"]
        }

    before = file_ids()
    snapshot_rename_column(base, "c_acctbal", "balance")
    snapshot_drop_column(base, "c_mktsegment")
    header_only = int(file_ids() == before)
    snapshot_append(
        cust.filter(F.col("c_custkey") % 7 == 3).select(
            (F.col("c_custkey") + 1000000).alias("c_custkey"),
            "c_name",
            "c_nationkey",
            (F.col("c_acctbal") + 500).alias("balance"),
        ),
        base,
    )
    v1_cols = snapshot_read(spark, base, version=1).columns
    v1_old_name = int("c_acctbal" in v1_cols and "balance" not in v1_cols)
    cur = snapshot_read(spark, base)
    dropped_gone = int("c_mktsegment" not in cur.columns)
    try:
        snapshot_append(
            cust.limit(1).select(
                (F.col("c_custkey") + 9_000_000).alias("c_custkey"),
                "c_name", "c_nationkey",
                F.round("c_acctbal", 2).alias("balance"),
                "c_mktsegment",
            ),
            base, merge_schema=True,
        )
        resurrect_rejected = 0
    except ValueError:
        resurrect_rejected = 1
    out = cur.select(
        F.col("c_custkey").alias("k"),
        "c_name",
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
        F.round("balance", 2).alias("balance"),
    )
    sentinel = spark.createDataFrame(
        [
            (-1, "_v1_serves_old_name", v1_old_name, 0.0),
            (-2, "_dropped_column_gone", dropped_gone, 0.0),
            (-3, "_resurrection_rejected", resurrect_rejected, 0.0),
            (-4, "_both_ops_header_only", header_only, 0.0),
        ],
        "k long, c_name string, c_nationkey int, balance double",
    )
    return out.unionByName(sentinel).orderBy("k")


@query(
    "q305_stream_cdc_merge_apply",
    oracle="""
    SELECT * FROM (
        SELECT event_type, COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(v AS DECIMAL(18, 6))), 2) AS DOUBLE)
                   AS sum_value
        FROM (
            SELECT event_type, value + 1000 AS v
            FROM events WHERE event_id % 3 = 0 AND event_id % 9 <> 0
            UNION ALL
            SELECT event_type, value
            FROM events WHERE event_id % 3 = 1
        ) GROUP BY event_type
        UNION ALL
        SELECT '_txn_replay_noop', 1, 0.0
    ) ORDER BY event_type
    """,
)
def q305_stream_cdc_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDC-APPLY VIA MERGE — the composition q301's operator
    exists for: an op-coded change feed arrives as a STREAM
    (streaming.core.events_stream), and every micro-batch applies to
    the snapshot table in ONE atomic ``snapshot_merge`` commit inside
    ``foreachBatch`` — deletes (op='d'), partial-column updates
    (op='u', ``when_matched_update=["value"]`` keeps every other
    column from the target), and inserts (op='i'), all riding a single
    manifest publication per batch with ``txn=("cdc", batch_id)``.
    Structured Streaming's recovery contract replays a failed batch
    with the SAME id, and the txn check turns that replay into a no-op
    — proven by the sentinel: after the stream drains, re-applying
    under the last delivered batch id leaves the version count
    unchanged. This is the Delta ``foreachBatch`` + ``MERGE`` pattern
    (their documented CDC-upsert recipe), run against this store's own
    MERGE. At 100 TB each trigger's cost is O(|batch|) + the
    stats/Bloom-admitted matched files — the table is never rescanned."""
    import shutil

    from .functions.manifest import (
        snapshot_create,
        snapshot_merge,
        snapshot_read,
        snapshot_versions,
    )
    from .streaming.core import events_stream

    base = _session_tmp("q305")
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(f"{base}_ckpt", ignore_errors=True)
    cols = ["event_id", "event_type", "value"]
    ev = t(spark, sf_dir, "events").select(*cols)
    # target: the %3==0 slice is the pre-existing table state
    snapshot_create(
        ev.filter(F.col("event_id") % 3 == 0), base, id_col="event_id",
        stats_cols=["event_id"],
    )
    last_batch = {"id": -1}

    def cdc_batch(df: DataFrame) -> DataFrame:
        """Derive the op-coded feed from a raw batch: delete %9==0,
        update value (+1000) on the rest of the seeded keys, insert
        the %3==1 keys; %3==2 rows are not in the feed."""
        k = F.col("event_id")
        return (
            df.select(*cols)
            .filter((k % 3 == 0) | (k % 3 == 1))
            .withColumn(
                "op",
                F.when(k % 9 == 0, F.lit("d"))
                .when(k % 3 == 0, F.lit("u"))
                .otherwise(F.lit("i")),
            )
            .withColumn(
                "value",
                F.when(F.col("op") == "u", F.col("value") + 1000).otherwise(
                    F.col("value")
                ),
            )
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_merge(
            cdc_batch(batch_df), base,
            when_matched_update=["value"],
            when_matched_delete="op = 'd'",
            when_not_matched_insert=True,
            txn=("cdc", batch_id),
        )
        last_batch["id"] = max(last_batch["id"], batch_id)

    (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{base}_ckpt")
        .start()
        .awaitTermination()
    )
    # recovery replay: re-applying under an already-recorded batch id
    # must short-circuit before any computation — version unchanged
    v_before = snapshot_versions(base)[-1]
    snapshot_merge(
        cdc_batch(ev), base,
        when_matched_update=["value"],
        when_matched_delete="op = 'd'",
        when_not_matched_insert=True,
        txn=("cdc", last_batch["id"]),
    )
    replay_noop = int(snapshot_versions(base)[-1] == v_before)
    agg = (
        snapshot_read(spark, base)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18, 6)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
    )
    sentinel = spark.createDataFrame(
        [("_txn_replay_noop", replay_noop, 0.0)],
        "event_type string, n long, sum_value double",
    )
    return agg.unionByName(sentinel).orderBy("event_type")
