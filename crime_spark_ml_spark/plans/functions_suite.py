"""Scalar-function coverage suites (SURVEY.md §2.4 note: "math beyond
mean/std/corr … come free with pyspark.sql.functions and are exercised
by the driver oracle"). One oracle-checked plan per function family,
each expression kept in the Spark ∩ DuckDB semantic intersection and
rounded identically where floating point is involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import EVENTS_WELL_FORMED_SQL, load_table, well_formed_events
from .registry import register


@register(
    "fn_string_suite",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS up,
           lower(p_brand) AS lo,
           substring(p_name, 1, 8) AS sub,
           concat_ws(':', p_brand, p_type) AS cat,
           replace(p_type, ' ', '_') AS rep,
           length(p_name) AS len,
           CAST(strpos(p_name, 'a') AS INTEGER) AS pos,
           trim(' ' || p_brand || ' ') AS trimmed,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           (p_name LIKE '%green%') AS has_green,
           reverse(p_brand) AS rev
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "string"),
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family: case, substring, concat, replace,
    length, position, trim, pad, LIKE, reverse — all codegen'd."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("up"),
        F.lower("p_brand").alias("lo"),
        F.substring("p_name", 1, 8).alias("sub"),
        F.concat_ws(":", "p_brand", "p_type").alias("cat"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("rep"),
        F.length("p_name").alias("len"),
        F.instr("p_name", "a").alias("pos"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias("trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
        F.col("p_name").like("%green%").alias("has_green"),
        F.reverse("p_brand").alias("rev"),
    ).orderBy("p_partkey")


@register(
    "fn_math_suite",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(abs(l_discount - 0.05), 6) AS a,
           CAST(ceil(l_quantity) AS BIGINT) AS c,
           CAST(floor(l_extendedprice / 1000) AS BIGINT) AS f,
           ROUND(exp(l_discount), 6) AS e,
           ROUND(ln(l_extendedprice + 1), 6) AS l,
           ROUND(log10(l_extendedprice + 1), 6) AS l10,
           ROUND(pow(l_tax + 1, 2), 6) AS p,
           ROUND(sqrt(l_quantity), 6) AS s,
           CAST(sign(l_discount - 0.05) AS INTEGER) AS sg,
           l_orderkey % 7 AS m,
           ROUND(sin(l_discount), 6) AS sn,
           ROUND(atan2(l_quantity, l_extendedprice), 6) AS at
    FROM lineitem
    WHERE l_orderkey < 2000
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("functions", "math"),
)
def fn_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: abs/ceil/floor/exp/ln/log10/pow/sqrt/sign/mod/trig."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("a"),
        F.ceil("l_quantity").cast("long").alias("c"),
        F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("f"),
        F.round(F.exp("l_discount"), 6).alias("e"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("l"),
        F.round(F.log10(F.col("l_extendedprice") + 1), 6).alias("l10"),
        F.round(F.pow(F.col("l_tax") + 1, 2), 6).alias("p"),
        F.round(F.sqrt("l_quantity"), 6).alias("s"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("sg"),
        (F.col("l_orderkey") % 7).alias("m"),
        F.round(F.sin("l_discount"), 6).alias("sn"),
        F.round(F.atan2(F.col("l_quantity"), F.col("l_extendedprice")), 6).alias("at"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "fn_conditional_suite",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bucket,
           COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg,
           GREATEST(ROUND(c_acctbal, 2), 0.0) AS pos_bal,
           LEAST(CAST(c_nationkey AS BIGINT), c_custkey) AS small,
           (c_acctbal BETWEEN 0 AND 1000) AS in_band,
           (c_mktsegment IN ('BUILDING', 'AUTOMOBILE')) AS in_set,
           IF(c_custkey % 2 = 0, 'even', 'odd') AS parity
    FROM customer ORDER BY c_custkey
    """,
    tags=("functions", "conditional"),
)
def fn_conditional_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null family: CASE, NULLIF+COALESCE, GREATEST/LEAST,
    BETWEEN, IN, IF."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")), F.lit("OTHER")).alias("seg"),
        F.greatest(F.round("c_acctbal", 2), F.lit(0.0)).alias("pos_bal"),
        F.least(F.col("c_nationkey").cast("long"), F.col("c_custkey")).alias("small"),
        F.col("c_acctbal").between(0, 1000).alias("in_band"),
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE").alias("in_set"),
        F.when(F.col("c_custkey") % 2 == 0, "even").otherwise("odd").alias("parity"),
    ).orderBy("c_custkey")


@register(
    "fn_date_suite",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS q,
           CAST(EXTRACT(month FROM o_orderdate) AS INTEGER) AS mo,
           CAST(EXTRACT(day FROM o_orderdate) AS INTEGER) AS d,
           CAST(EXTRACT(dow FROM o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(EXTRACT(doy FROM o_orderdate) AS INTEGER) AS doy,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate)
                AS INTEGER) AS days_since
    FROM orders ORDER BY o_orderkey
    """,
    tags=("functions", "date"),
)
def fn_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: add_months, trunc, last_day, quarter/month/day,
    day-of-week (normalized to Spark's Sunday=1), day-of-year,
    datediff — all on TIMESTAMP_NTZ, timezone-free."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias("plus3m"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since"),
    ).orderBy("o_orderkey")


@register(
    "a8_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
           ROUND(quantile_cont(l_quantity, 0.25), 6) AS q1_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "percentile"),
)
def a8_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont``). The approximate scale path is
    percentile_approx (rows-only twin below)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("median_price"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
            F.round(F.expr("percentile(l_quantity, 0.25)"), 6).alias("q1_qty"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "a8_percentiles_approx",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS median_in_band, TRUE AS p90_in_band
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("agg", "percentile", "approx", "invariant"),
)
def a8_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (GK/KLL-style sketch): the mergeable,
    bounded-memory form exact percentile can't give you at 100 TB.
    The sketch values aren't cross-engine-stable, so the oracle
    anchors the per-group row count and hash-checks the accuracy
    guarantee as booleans: the approximate P50/P90 must land within
    1% of the EXACT percentile Spark also computes. The sketch's own
    guarantee is a RANK error ≤ 1e-4 at accuracy 10000; rank error
    only translates to value error through the local value density,
    so the 1% band is EMPIRICAL for this fixture (lineitem prices are
    dense near P50/P90 — a 1e-4 rank slip moves the value by ≪1%),
    not implied by the sketch bound on arbitrary distributions."""
    li = load_table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("double")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.percentile_approx(ep, 0.5, 10000).alias("am"),
            F.percentile_approx(ep, 0.9, 10000).alias("a9"),
            F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.5)").alias("em"),
            F.expr("percentile(CAST(l_extendedprice AS DOUBLE), 0.9)").alias("e9"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            # vacuously TRUE for a group with no non-null prices (the
            # percentile is NULL, there is no guarantee to check);
            # abs(em) keeps the band sane on negative-price groups
            F.when(F.col("em").isNull(), F.lit(True))
            .otherwise(F.abs(F.col("am") - F.col("em")) <= 0.01 * F.abs("em"))
            .alias("median_in_band"),
            F.when(F.col("e9").isNull(), F.lit(True))
            .otherwise(F.abs(F.col("a9") - F.col("e9")) <= 0.01 * F.abs("e9"))
            .alias("p90_in_band"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "fn_regex_suite",
    oracle="""
    SELECT p_partkey,
           regexp_extract(p_brand, 'Brand#([0-9]+)', 1) AS brand_num,
           regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_name, '^[a-z]+ ') AS starts_word,
           CAST(len(regexp_extract_all(p_type, '[a-z]+')) AS BIGINT) AS n_words
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "regex"),
)
def fn_regex_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family (patterns kept in the Java∩RE2 subset): group
    extraction, global replace, anchored match, extract-all count."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", "Brand#([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("^[a-z]+ ").alias("starts_word"),
        F.size(F.expr("regexp_extract_all(p_type, '[a-z]+', 0)")).cast("long").alias("n_words"),
    ).orderBy("p_partkey")


@register(
    "fn_higher_order_suite",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    SELECT doc_id,
           CAST(len(list_filter(words, x -> len(x) > 3)) AS INTEGER) AS n_long_words,
           CAST(list_sum(list_transform(words, x -> len(x))) AS BIGINT) AS total_chars,
           array_to_string(list_transform(list_slice(words, 1, 3), x -> upper(x)),
                           ',') AS first3_upper
    FROM w ORDER BY doc_id
    """,
    tags=("functions", "hof"),
)
def fn_higher_order_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions in one pass (filter / transform /
    aggregate / slice) — the JVM-side lambda surface every scale path
    here is built from, exercised explicitly and hash-checked against
    the DuckDB list-function twins.  The array output is canonicalized
    to a ','-joined string on both sides (pattern: fn_map_types) so the
    driver's pandas-based hash gate can compare it — raw array columns
    are unhashable there (CORRECTNESS_r02)."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.size(F.filter(words, lambda x: F.length(x) > 3)).alias("n_long_words"),
        F.aggregate(
            F.transform(words, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("total_chars"),
        # explicit NULL propagation: concat_ws turns a NULL array into
        # '' (never NULL), while DuckDB's array_to_string(NULL) is NULL
        F.when(
            F.col("text").isNotNull(),
            F.concat_ws(
                ",", F.transform(F.slice(words, 1, 3), lambda x: F.upper(x))
            ),
        ).alias("first3_upper"),
    ).orderBy("doc_id")


@register(
    "fn_explode_suite",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> len(x) > 6) AS arr
      FROM documents WHERE doc_id < 15),
    pos AS (
      SELECT doc_id, arr,
             UNNEST(CASE WHEN arr IS NULL OR len(arr) = 0
                         THEN [NULL]::BIGINT[]
                         ELSE range(1, len(arr) + 1) END) AS i
      FROM toks)
    SELECT doc_id,
           CAST(i - 1 AS INTEGER) AS pos,
           arr[i] AS word
    FROM pos
    ORDER BY doc_id, pos
    """,
    tags=("functions", "explode", "lateral"),
)
def fn_explode_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral-view surface: posexplode_outer over a filtered word
    array — positional expansion INCLUDING the outer row (pos=NULL)
    for documents whose filter leaves nothing, the semantics LATERAL
    VIEW OUTER posexplode guarantees. The oracle reconstructs it with
    range()+UNNEST and an explicit [NULL] branch, so the empty-array
    edge is value-checked, not assumed."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 15)
    arr = F.filter(F.split("text", " "), lambda x: F.length(x) > 6)
    return (
        docs.select("doc_id", F.posexplode_outer(arr).alias("pos", "word"))
        .orderBy("doc_id", "pos")
    )


@register(
    "fn_bitwise_suite",
    oracle="""
    SELECT o_orderpriority,
           CAST(BIT_AND(o_orderkey) AS BIGINT) AS all_and,
           CAST(BIT_OR(o_orderkey % 256) AS BIGINT) AS low_or,
           CAST(BIT_XOR(o_orderkey) AS BIGINT) AS keys_xor,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey <= 2000
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("functions", "bitwise"),
)
def fn_bitwise_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate family (bit_and / bit_or / bit_xor) — exact
    integer semantics shared by both engines; xor aggregates are the
    primitive behind order-independent checksum columns."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.bit_and("o_orderkey").cast("bigint").alias("all_and"),
            F.bit_or(F.col("o_orderkey") % 256).cast("bigint").alias("low_or"),
            F.bit_xor("o_orderkey").cast("bigint").alias("keys_xor"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "fn_stats_agg_suite",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             count(*) AS n,
             avg(l_quantity) AS m1,
             avg(l_quantity*l_quantity) AS m2r,
             avg(l_quantity*l_quantity*l_quantity) AS m3r,
             avg(l_quantity*l_quantity*l_quantity*l_quantity) AS m4r,
             regr_slope(l_extendedprice, l_quantity) AS slope,
             regr_intercept(l_extendedprice, l_quantity) AS icept,
             regr_r2(l_extendedprice, l_quantity) AS r2,
             regr_count(l_extendedprice, l_quantity) AS rn,
             corr(l_quantity, l_extendedprice) AS c,
             covar_samp(l_quantity, l_extendedprice) AS cs,
             covar_pop(l_quantity, l_extendedprice) AS cp,
             median(l_quantity) AS med
      FROM lineitem GROUP BY l_returnflag
    ), md AS (
      SELECT l_returnflag, CAST(l_linenumber AS BIGINT) AS md FROM (
        SELECT l_returnflag, l_linenumber,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY count(*) DESC, l_linenumber ASC) AS rk
        FROM lineitem GROUP BY l_returnflag, l_linenumber
      ) WHERE rk = 1
    )
    SELECT m.l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND(slope, 4) AS slope, ROUND(icept, 4) AS icept,
           ROUND(r2, 6) AS r2, CAST(rn AS BIGINT) AS rn,
           ROUND(c, 6) AS c, ROUND(cs, 4) AS cs, ROUND(cp, 4) AS cp,
           ROUND(med, 4) AS med,
           ROUND((m3r - 3*m1*m2r + 2*m1*m1*m1)
                 / pow(m2r - m1*m1, 1.5), 4) AS sk,
           ROUND((m4r - 4*m1*m3r + 6*m1*m1*m2r - 3*pow(m1, 4))
                 / pow(m2r - m1*m1, 2) - 3, 4) AS ku,
           md.md AS md
    FROM m JOIN md ON m.l_returnflag IS NOT DISTINCT FROM md.l_returnflag
    ORDER BY m.l_returnflag
    """,
    tags=("functions", "stats_agg"),
)
def fn_stats_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: the SQL:2016 regr_* linear-fit
    aggregates, covariance (sample + population), Pearson correlation,
    exact median, deterministic mode, and the population skewness /
    excess-kurtosis moments.

    Definitional care (the part a naive oracle gets wrong): Spark's
    ``skewness``/``kurtosis`` are the *population* moment forms
    (m3/m2^1.5, m4/m2^2 - 3) while DuckDB's builtins apply sample
    bias-correction, so the oracle reconstructs the population form
    from raw power sums instead of calling them; and ``mode`` is only
    well-defined under a tie-break, so Spark runs ``mode(col, true)``
    (smallest winner) and the oracle a count-desc/value-asc window.
    One partial+final hash aggregate per group at any scale — every
    one of these aggregates is algebraic (constant-size state), so the
    map-side combine does almost all the work on a 100 TB fact."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.regr_slope(p, q), 4).alias("slope"),
            F.round(F.regr_intercept(p, q), 4).alias("icept"),
            F.round(F.regr_r2(p, q), 6).alias("r2"),
            F.regr_count(p, q).cast("bigint").alias("rn"),
            F.round(F.corr(q, p), 6).alias("c"),
            F.round(F.covar_samp(q, p), 4).alias("cs"),
            F.round(F.covar_pop(q, p), 4).alias("cp"),
            F.round(F.median(q), 4).alias("med"),
            F.round(F.skewness(q), 4).alias("sk"),
            F.round(F.kurtosis(q), 4).alias("ku"),
            F.expr("mode(l_linenumber, true)").cast("bigint").alias("md"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "fn_ordered_agg_suite",
    oracle="""
    SELECT n_regionkey,
           CAST(count(*) AS BIGINT) AS n,
           string_agg(n_name, ',' ORDER BY n_name) AS names_csv,
           COALESCE(array_to_string(list_sort(
               list(n_name) FILTER (WHERE n_name IS NOT NULL)), '|'), '')
             AS names_sorted,
           min(n_name) AS first_name,
           max(n_name) AS last_name
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    tags=("functions", "ordered_agg"),
)
def fn_ordered_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: SQL:2023 ``listagg … WITHIN GROUP
    (ORDER BY …)`` (new in Spark 4.0) against DuckDB's ordered
    ``string_agg``, plus the pre-4.0 idiom ``array_sort(collect_list)``
    canonicalized to a joined string (arrays are unhashable in the
    driver's pandas gate — pattern: fn_higher_order_suite).  The
    within-group sort is what makes the result partition-order
    independent and therefore hashable at all — an unordered
    ``collect_list`` is nondeterministic under shuffle."""
    n = load_table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n"),
            F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
                "names_csv"
            ),
            F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias(
                "names_sorted"
            ),
            F.min("n_name").alias("first_name"),
            F.max("n_name").alias("last_name"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "fn_approx_top_k",
    oracle=f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
           CAST(row_number() OVER (ORDER BY count(*) DESC, event_type)
                AS INTEGER) AS rk
    FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY event_type
    ORDER BY rk
    """,
    tags=("functions", "sketch", "topk"),
)
def fn_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches frequent-items surface (``approx_top_k``, Spark
    4.0) over the event-type column.  k is set above the column's
    cardinality, so the sketch tracks every item exactly and the
    result is deterministically the exact top list — which is what
    lets a sketch query sit inside the hash gate (the same trick as
    the CMS guarantee bands, taken to the exact-regime end).  The
    exploded list is re-ranked count-desc/value-asc on both sides so a
    count tie cannot flip the hash.  One mergeable sketch aggregate:
    constant-size state per partition regardless of row volume."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    top = ev.agg(F.expr("approx_top_k(event_type, 100)").alias("tk"))
    items = top.select(F.explode("tk").alias("x")).select(
        F.col("x.item").alias("event_type"), F.col("x.count").cast("bigint").alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("cnt").desc(), "event_type")
    return items.withColumn("rk", F.row_number().over(w).cast("int")).orderBy("rk")


@register(
    "fn_try_suite",
    oracle="""
    SELECT p_partkey,
           CASE WHEN (p_size % 7) = 0 THEN NULL
                ELSE ROUND(p_retailprice / (p_size % 7), 6) END AS safe_div,
           TRY_CAST(p_brand AS INTEGER) AS bad_int,
           TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num,
           string_split(p_name, ' ')[8] AS word8,
           TRY_CAST(p_type AS DOUBLE) AS bad_dbl
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "try", "ansi"),
)
def fn_try_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The try_* error-safe family — the ANSI-mode escape hatches that
    turn would-be runtime errors into NULLs (division by zero, failed
    casts, out-of-range array access).  On a 100 TB corpus this family
    is what keeps one malformed row from killing a stage: the NULL is
    auditable downstream where an exception is not.  DuckDB twins:
    TRY_CAST, a guarded CASE for the zero divisor, and its natively
    NULL-on-out-of-range list index."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.try_divide(F.col("p_retailprice"), F.col("p_size") % 7), 6).alias(
            "safe_div"
        ),
        F.expr("try_cast(p_brand AS INT)").alias("bad_int"),
        F.expr(
            "try_cast(regexp_extract(p_brand, '([0-9]+)', 1) AS INT)"
        ).alias("brand_num"),
        F.try_element_at(F.split("p_name", " "), F.lit(8)).alias("word8"),
        F.expr("try_cast(p_type AS DOUBLE)").alias("bad_dbl"),
    ).orderBy("p_partkey")


@register(
    "fn_array_set_suite",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(len(list_intersect(ws, ['the', 'a', 'of'])) > 0 AS BOOLEAN)
             AS has_stop,
           CAST(COALESCE(list_position(ws, 'the'), 0) AS INTEGER) AS pos_the,
           CAST(len(list_filter(ws, x -> x <> 'the')) AS INTEGER) AS n_wo_the,
           CAST(len(list_distinct(ws)) AS INTEGER) AS n_uniq,
           array_to_string(list_slice(list_sort(list_distinct(ws)), 1, 5), ',')
             AS first5_sorted
    FROM w ORDER BY doc_id
    """,
    tags=("functions", "array_set"),
)
def fn_array_set_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-function family: overlap test, element position
    (1-based in both engines), removal, distinct cardinality, and a
    sorted-slice canonicalization — the JVM-side set algebra the
    dedup/overlap operators are built from, exercised directly.
    NULL-position semantics differ between engines (Spark
    array_position returns 0 on a miss, DuckDB list_position NULL),
    so misses are normalized to 0 on both sides."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    ws = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.arrays_overlap(ws, F.array(F.lit("the"), F.lit("a"), F.lit("of"))).alias(
            "has_stop"
        ),
        F.array_position(ws, "the").cast("int").alias("pos_the"),
        F.size(F.array_remove(ws, "the")).alias("n_wo_the"),
        F.size(F.array_distinct(ws)).alias("n_uniq"),
        F.concat_ws(
            ",", F.slice(F.array_sort(F.array_distinct(ws)), 1, 5)
        ).alias("first5_sorted"),
    ).orderBy("doc_id")


@register(
    "fn_null_semantics_suite",
    oracle="""
    WITH p AS (
      SELECT p_partkey,
             CASE WHEN p_size % 5 = 0 THEN NULL ELSE p_size END AS sz,
             p_brand
      FROM part
    ), j AS (
      SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b
      FROM p a JOIN p b
        ON a.sz IS NOT DISTINCT FROM b.sz
       AND a.p_partkey = b.p_partkey - 1000
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM j) AS n_nullsafe_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM p WHERE sz IS NULL)
             AS n_nulls,
           (SELECT CAST(count(*) AS BIGINT)
            FROM (SELECT sz FROM p GROUP BY sz)) AS n_distinct_with_null,
           (SELECT p_partkey FROM p
            ORDER BY sz ASC NULLS FIRST, p_partkey LIMIT 1)
             AS first_nulls_first,
           (SELECT p_partkey FROM p
            ORDER BY sz DESC NULLS LAST, p_partkey LIMIT 1)
             AS first_desc_nulls_last
    """,
    tags=("functions", "null_semantics"),
)
def fn_null_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NULL-handling corners every engine defines differently until
    pinned: null-safe equality as a JOIN key (<=> / IS NOT DISTINCT
    FROM — a plain = would drop the NULL=NULL pairs), GROUP BY treating
    NULL as one group (n_distinct includes it), and explicit NULLS
    FIRST / NULLS LAST ordering (Spark defaults nulls-first on ASC
    where standard SQL engines often default last — relying on the
    default is a portability bug, so both sides declare it).  NULLs
    are manufactured from p_size % 5 identically in both engines.

    The null-safe join plans as a hash join (EqualNullSafe is a valid
    equi-join key in Catalyst), not a nested loop — the property that
    matters when the key is a 100 TB fact's nullable column."""
    p = (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.when(F.col("p_size") % 5 == 0, None)
            .otherwise(F.col("p_size"))
            .alias("sz"),
        )
    )
    a, b = p.alias("a"), p.alias("b")
    n_pairs = (
        a.join(
            b,
            F.col("a.sz").eqNullSafe(F.col("b.sz"))
            & (F.col("a.p_partkey") == F.col("b.p_partkey") - 1000),
        )
        .count()
    )
    n_nulls = p.where(F.col("sz").isNull()).count()
    n_distinct = p.select("sz").distinct().count()
    first_nf = (
        p.orderBy(F.col("sz").asc_nulls_first(), "p_partkey").first().p_partkey
    )
    first_dnl = (
        p.orderBy(F.col("sz").desc_nulls_last(), "p_partkey").first().p_partkey
    )
    return load_table(spark, sf_dir, "region").limit(1).select(
        F.lit(n_pairs).cast("bigint").alias("n_nullsafe_pairs"),
        F.lit(n_nulls).cast("bigint").alias("n_nulls"),
        F.lit(n_distinct).cast("bigint").alias("n_distinct_with_null"),
        F.lit(first_nf).cast("bigint").alias("first_nulls_first"),
        F.lit(first_dnl).cast("bigint").alias("first_desc_nulls_last"),
    )


@register(
    "fn_codec_hash_suite",
    oracle="""
    SELECT n_nationkey,
           to_base64(encode(n_name)) AS b64,
           hex(encode(n_name)) AS hx,
           md5(n_name) AS m5,
           sha256(n_name) AS s256,
           CAST(octet_length(encode(n_name)) AS BIGINT) AS n_bytes
    FROM nation ORDER BY n_nationkey
    """,
    tags=("functions", "codec", "hashing"),
)
def fn_codec_hash_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec + cryptographic hash family: base64 (RFC 4648,
    identical padding in both engines), hex, md5, sha-256, byte
    length.  These are the content-addressing primitives the dedup
    stack builds on (dp_exact_dedup keys on md5; the sidecar stores
    hash-named files) — pinned here directly so a codec regression
    can't hide behind the operators that consume it."""
    n = load_table(spark, sf_dir, "nation")
    b = F.col("n_name").cast("binary")
    return n.select(
        "n_nationkey",
        F.base64(b).alias("b64"),
        F.upper(F.hex(b)).alias("hx"),
        F.md5(b).alias("m5"),
        F.sha2(b, 256).alias("s256"),
        F.octet_length("n_name").cast("bigint").alias("n_bytes"),
    ).orderBy("n_nationkey")


@register(
    "fn_arith_semantics_suite",
    oracle="""
    WITH v AS (
      SELECT o_orderkey, o_orderkey - 75000 AS x FROM orders
    )
    SELECT o_orderkey,
           CAST(x % 7 AS BIGINT) AS mod_c,
           CAST(((x % 7) + 7) % 7 AS BIGINT) AS mod_pos,
           CAST(x // 7 AS BIGINT) AS div_trunc,
           CAST(floor(x / 7.0) AS BIGINT) AS div_floor,
           CAST(abs(x) AS BIGINT) AS mag,
           CAST(sign(x) AS INTEGER) AS sgn
    FROM v ORDER BY o_orderkey
    """,
    tags=("functions", "arithmetic"),
)
def fn_arith_semantics_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed integer arithmetic corners, pinned over a half-negative
    domain: C-style modulo (sign of the dividend — Spark % and DuckDB
    % agree), the always-positive pmod (what every hash-bucket
    expression in this repo uses, mirrored as ((x%7)+7)%7), and the
    two division conventions — truncating (Spark ``div`` = DuckDB
    ``//``, both toward zero on integers) vs flooring (floor(x/7.0),
    what bucket/time-window math needs: events.py's pmod-floor form
    exists precisely because truncation misassigns negative
    timestamps).  One wrong convention here silently shifts every
    negative key one bucket — the kind of bug only a signed-domain pin
    catches."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderkey") - 75000).alias("x")
    )
    return o.select(
        "o_orderkey",
        (F.col("x") % 7).cast("bigint").alias("mod_c"),
        F.pmod(F.col("x"), F.lit(7)).cast("bigint").alias("mod_pos"),
        F.expr("x div 7").cast("bigint").alias("div_trunc"),
        F.floor(F.col("x") / 7.0).cast("bigint").alias("div_floor"),
        F.abs("x").cast("bigint").alias("mag"),
        F.signum("x").cast("int").alias("sgn"),
    ).orderBy("o_orderkey")


@register(
    "fn_xml_extract",
    oracle="""
    WITH xml AS (
      SELECT '<order id="' || o_orderkey || '"><cust>' || o_custkey
             || '</cust><status>' || o_orderstatus || '</status><total>'
             || CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
             || '</total></order>' AS doc
      FROM orders WHERE o_orderkey < 200
    ),
    parsed AS (
      SELECT CAST(regexp_extract(doc, 'id="(\\d+)"', 1) AS BIGINT) AS order_id,
             CAST(regexp_extract(doc, '<cust>(\\d+)</cust>', 1) AS BIGINT)
                 AS cust_id,
             regexp_extract(doc, '<status>([^<]+)</status>', 1) AS status,
             CAST(regexp_extract(doc, '<total>(\\d+)</total>', 1) AS BIGINT)
                 AS total_cents
      FROM xml
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(total_cents) AS BIGINT) AS sum_cents,
           CAST(MAX(order_id) AS BIGINT) AS max_order_id,
           CAST(COUNT(DISTINCT cust_id) AS BIGINT) AS n_custs
    FROM parsed GROUP BY status ORDER BY status
    """,
    tags=("functions", "xml", "semi-structured"),
)
def fn_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion via from_xml (native in Spark 4.0+, the last
    semi-structured format the fn_ family lacked after JSON, VARIANT,
    CSV wire, and map/complex types): order rows are rendered to XML
    (attribute + nested elements) and parsed back with a typed schema
    — `_id` captures the attribute per spark-xml convention — then
    aggregated per status. The DuckDB oracle has no XML parser, so it
    extracts the same typed fields by anchored regex: a hash match
    attests Spark's XML path (StaxXmlParser, schema coercion,
    attribute handling) produces exactly the typed values the literal
    document encodes. Money stays integer cents end to end.

    Scale: row-local render + parse (one JVM expression each), one
    bounded-key aggregate; the o_orderkey < 200 filter is pushed to
    the scan."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 200)
    xml = orders.select(
        F.concat(
            F.lit('<order id="'),
            F.col("o_orderkey"),
            F.lit('"><cust>'),
            F.col("o_custkey"),
            F.lit("</cust><status>"),
            F.col("o_orderstatus"),
            F.lit("</status><total>"),
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint"),
            F.lit("</total></order>"),
        ).alias("doc")
    )
    parsed = xml.select(
        F.from_xml(
            "doc",
            "_id BIGINT, cust BIGINT, status STRING, total BIGINT",
        ).alias("s")
    ).select(
        F.col("s._id").alias("order_id"),
        F.col("s.cust").alias("cust_id"),
        F.col("s.status").alias("status"),
        F.col("s.total").alias("total_cents"),
    )
    return (
        parsed.groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("total_cents").cast("bigint").alias("sum_cents"),
            F.max("order_id").cast("bigint").alias("max_order_id"),
            F.count_distinct("cust_id").cast("bigint").alias("n_custs"),
        )
        .orderBy("status")
    )
