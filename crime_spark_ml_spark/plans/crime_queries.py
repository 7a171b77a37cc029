"""Crime-workload query plans (SURVEY.md §2.2/§2.4/§2.5/§2.8) expressed
on the driver's TPC-H-ish fixtures (FIXTURES.md §4 mapping:
PdDistrict→o_orderpriority / c_mktsegment, Category→o_orderstatus, …).

Each plan is the Spark-idiomatic form of a reference operation
(file:line cited per query) with a DuckDB oracle. All computed columns
aliased identically on both sides; floats rounded identically on both
sides so value-hashes match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.encode import label_encode
from ..operators.reshape import melt, pivot_counts
from ..operators.scale import zscore
from ..sources.catalog import load_table
from .registry import register

ORDER_STATUS = ("F", "O", "P")


# ---------------------------------------------------------------- flagship
@register(
    "flagship_district_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS "P",
           COUNT(*) FILTER (WHERE o_orderstatus IN ('F','O','P')) AS total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY total DESC, o_orderpriority
    """,
    tags=("A1", "A4", "A7", "P6", "R2"),
)
def flagship_district_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts per district pivoted by category, ordered by total desc —
    the reference's pivot analysis (crime.py:72-76: ``pd.pivot_table``
    over PdDistrict×Category + reindex by count order) as a single
    scan → partial-agg → pivot → sort plan. Pivot values passed
    explicitly: no distinct-discovery job (SURVEY.md §4). ``total``
    sums the pivot columns on BOTH sides, so a status value outside
    the declared list cannot silently skew only one engine."""
    orders = load_table(spark, sf_dir, "orders")
    pt = pivot_counts(orders, "o_orderpriority", "o_orderstatus", ORDER_STATUS)
    total = sum((F.col(c) for c in ORDER_STATUS), F.lit(0))
    return pt.withColumn("total", total.cast("long")).orderBy(
        F.desc("total"), "o_orderpriority"
    )


# ---------------------------------------------------------------- A1-A3
@register(
    "a1_group_count_category",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS cnt
    FROM orders GROUP BY o_orderstatus ORDER BY cnt DESC, o_orderstatus
    """,
    tags=("A1",),
)
def a1_group_count_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-count sorted desc (crime.py:33-34 groupby Category)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "o_orderstatus")
    )


@register(
    "a2_group_count_district",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS cnt
    FROM customer GROUP BY c_mktsegment ORDER BY cnt DESC, c_mktsegment
    """,
    tags=("A2",),
)
def a2_group_count_district(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-count sorted desc (crime.py:35-37 groupby PdDistrict)."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "c_mktsegment")
    )


@register(
    "a3_value_counts",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag ORDER BY cnt DESC, l_returnflag
    """,
    tags=("A3",),
)
def a3_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_counts (crime.py:62,67) — identical to A1 semantics."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "l_returnflag")
    )


# ---------------------------------------------------------------- A5-A7
@register(
    "a5_mean_std",
    oracle="""
    SELECT ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS std_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 6) AS std_price
    FROM lineitem
    """,
    tags=("A5",),
)
def a5_mean_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column mean/std (crime.py:134,150; pandas std is ddof=1 →
    stddev_samp). One-row aggregate, map-side combinable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("std_price"),
    )


@register(
    "a6_corr_matrix",
    oracle="""
    SELECT ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(CORR(l_quantity, l_discount), 6)      AS corr_qty_disc,
           ROUND(CORR(l_extendedprice, l_discount), 6) AS corr_price_disc
    FROM lineitem
    """,
    tags=("A6",),
)
def a6_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation (crime.py:42,53). The full-matrix
    form is ml.stat.Correlation (see ml/); the pairwise aggregate form
    is oracle-checkable."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("corr_qty_disc"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("corr_price_disc"),
    )


@register(
    "a7_topk",
    oracle="""
    SELECT p_brand, COUNT(*) AS cnt
    FROM part GROUP BY p_brand ORDER BY cnt DESC, p_brand LIMIT 8
    """,
    tags=("A7",),
)
def a7_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by measure (crime.py:51-52 ``nlargest(8, ...)``) →
    TakeOrderedAndProject: no global sort, per-partition top-k merged
    on the driver."""
    return (
        load_table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "p_brand")
        .limit(8)
    )


# ---------------------------------------------------------------- P ops
@register(
    "p_project_filter_rename",
    oracle="""
    SELECT c_custkey AS custkey, c_name AS cust_name,
           ROUND(c_acctbal, 2) AS balance
    FROM customer
    WHERE c_acctbal > 1000.0 AND c_mktsegment <> 'MACHINERY'
    ORDER BY custkey
    """,
    tags=("P1", "P2", "P3"),
)
def p_project_filter_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + rename (crime.py:123-124,133) + row filter (the
    reference has none — SURVEY.md §2.2 gap). Filter and 3-column
    projection both push to the parquet scan."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.where((F.col("c_acctbal") > 1000.0) & (F.col("c_mktsegment") != "MACHINERY"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.round("c_acctbal", 2).alias("balance"),
        )
        .orderBy("custkey")
    )


# ---------------------------------------------------------------- E ops
@register(
    "e3_split_datetime",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderdate IS NULL THEN NULL ELSE
           split_part(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), ' ', 1)
           END AS date_part,
           CASE WHEN o_orderdate IS NULL THEN NULL ELSE
           split_part(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), ' ', 2)
           END AS time_part
    FROM orders ORDER BY o_orderkey
    """,
    tags=("E3",),
)
def e3_split_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace split of 'YYYY-MM-DD HH:MM:SS' into date+time
    (crime.py:97,101 ``Dates.str.split(expand=True)``)."""
    o = load_table(spark, sf_dir, "orders")
    stamp = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    parts = F.split(stamp, " ")
    return o.select(
        "o_orderkey",
        parts.getItem(0).alias("date_part"),
        parts.getItem(1).alias("time_part"),
    ).orderBy("o_orderkey")


@register(
    "e4_year_extract",
    oracle="""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr, COUNT(*) AS cnt
    FROM orders GROUP BY yr ORDER BY yr
    """,
    tags=("E4",),
)
def e4_year_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year extraction (crime.py:98,102 ``pd.DatetimeIndex(...).year``)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("yr"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("yr")
    )


@register(
    "e5_fillna_impute",
    oracle="""
    SELECT c_custkey,
           COALESCE(CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_mktsegment END,
                    'none') AS segment_imputed,
           ROUND(COALESCE(CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_acctbal END,
                    0.0), 2) AS balance_imputed
    FROM customer ORDER BY c_custkey
    """,
    tags=("E5",),
)
def e5_fillna_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dtype-driven imputation (crime.py:85-94 ``impute``: string→'none',
    numeric→0) — nulls injected deterministically, filled with
    ``df.na.fill`` per-type."""
    c = load_table(spark, sf_dir, "customer")
    nulled = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 10 == 0, F.lit(None)).otherwise(F.col("c_mktsegment")).alias("segment_imputed"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(F.col("c_acctbal")).alias("balance_imputed"),
    )
    filled = nulled.na.fill({"segment_imputed": "none", "balance_imputed": 0.0})
    return filled.withColumn("balance_imputed", F.round("balance_imputed", 2)).orderBy("c_custkey")


@register(
    "e6_zscore",
    oracle="""
    SELECT c_custkey,
           ROUND((c_acctbal - AVG(c_acctbal) OVER ()) / STDDEV_SAMP(c_acctbal) OVER (), 6)
             AS balance_z
    FROM customer ORDER BY c_custkey
    """,
    tags=("E6",),
)
def e6_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score standardization (crime.py:133-134, sample std). Spark
    plan: one-row aggregate broadcast back (no global window)."""
    c = load_table(spark, sf_dir, "customer")
    z = zscore(c, ["c_acctbal"], suffix="_z")
    return z.select(
        "c_custkey", F.round("c_acctbal_z", 6).alias("balance_z")
    ).orderBy("c_custkey")


@register(
    "e1_label_encode",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CASE WHEN c_mktsegment IS NULL THEN NULL ELSE
           CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS INTEGER)
           END AS c_mktsegment_code
    FROM customer ORDER BY c_custkey
    """,
    tags=("E1",),
)
def e1_label_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-encode one column with sklearn LabelEncoder semantics
    (crime.py:38-39; lexicographic ascending codes). Dictionary-join
    implementation — see operators/encode.py."""
    c = load_table(spark, sf_dir, "customer")
    return label_encode(c, ["c_mktsegment"]).select(
        "c_custkey", "c_mktsegment", "c_mktsegment_code"
    ).orderBy("c_custkey")


@register(
    "e2_label_encode_multi",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IS NULL THEN NULL ELSE
           CAST(DENSE_RANK() OVER (ORDER BY o_orderpriority) - 1 AS INTEGER)
           END AS o_orderpriority_code,
           CASE WHEN o_orderstatus IS NULL THEN NULL ELSE
           CAST(DENSE_RANK() OVER (ORDER BY o_orderstatus) - 1 AS INTEGER)
           END AS o_orderstatus_code
    FROM orders ORDER BY o_orderkey
    """,
    tags=("E2",),
)
def e2_label_encode_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column label-encode (crime.py:111-120: five train columns).
    Both string columns share one distributed ranking, then one broadcast
    dictionary join per column; no full-table window."""
    o = load_table(spark, sf_dir, "orders")
    return label_encode(o, ["o_orderpriority", "o_orderstatus"]).select(
        "o_orderkey", "o_orderpriority_code", "o_orderstatus_code"
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------- R1 melt
@register(
    "r1_melt",
    oracle="""
    SELECT s_suppkey, 's_acctbal' AS variable, ROUND(s_acctbal, 2) AS value
    FROM supplier
    UNION ALL
    SELECT s_suppkey, 's_nationkey' AS variable, ROUND(CAST(s_nationkey AS DOUBLE), 2) AS value
    FROM supplier
    ORDER BY s_suppkey, variable
    """,
    tags=("R1",),
)
def r1_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt / unpivot wide→long (crime.py:161-163) via Spark's native
    unpivot (no shuffle: row-local expansion)."""
    s = load_table(spark, sf_dir, "supplier").withColumn(
        "s_nationkey", F.col("s_nationkey").cast("double")
    )
    long = melt(s, ["s_suppkey"], ["s_acctbal", "s_nationkey"])
    return long.withColumn("value", F.round("value", 2)).orderBy("s_suppkey", "variable")


# ---------------------------------------------------------------- E8 argmax
@register(
    "e8_argmax",
    oracle="""
    SELECT vec_id,
           CAST(list_position(embedding, list_aggregate(embedding, 'max')) - 1
                AS INTEGER) AS argmax
    FROM embeddings ORDER BY vec_id
    """,
    tags=("E8",),
)
def e8_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax over a probability/score array (crime.py:184,203
    ``np.argmax`` per predicted row) — pure array expression; first
    occurrence wins on ties in both engines."""
    from ..sources.catalog import load_table as _lt

    emb = _lt(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        (F.array_position(F.col("embedding"), F.array_max("embedding")) - 1)
        .cast("int")
        .alias("argmax"),
    ).orderBy("vec_id")


@register(
    "p_distinct",
    oracle="""
    SELECT DISTINCT c_nationkey, c_mktsegment
    FROM customer ORDER BY c_nationkey, c_mktsegment
    """,
    tags=("P", "distinct"),
)
def p_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT projection (dropDuplicates over a column subset — the
    relational face of exact dedup)."""
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .orderBy("c_nationkey", "c_mktsegment")
    )
