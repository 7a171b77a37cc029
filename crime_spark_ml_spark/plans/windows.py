"""Window-function plans (SURVEY.md §2.6: none in the reference; needed
for deterministic label-encoding and standard analytics parity).

Scale notes: every window here is PARTITIONED (by status / customer /
nation) — partitioned windows parallelize across executors. The only
unpartitioned window in the engine is over tiny dictionaries
(operators/encode.py). Running sums use decimal accumulation so the
result is identical regardless of the engine's frame-evaluation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import EVENTS_WELL_FORMED_SQL, load_table, well_formed_events
from .registry import register


@register(
    "w_topn_per_group",
    oracle="""
    SELECT o_orderstatus, o_orderkey, ROUND(o_totalprice, 2) AS totalprice, rn
    FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
      FROM orders)
    WHERE rn <= 3
    ORDER BY o_orderstatus, rn
    """,
    tags=("window",),
)
def w_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per status: row_number over a partitioned
    window (ties broken by key for determinism)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select(
            "o_orderstatus",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
        .orderBy("o_orderstatus", "rn")
    )


@register(
    "w_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate NULLS LAST, o_orderkey) AS DOUBLE)
             AS running_spend
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window",),
)
def w_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer over order time (decimal
    accumulation → frame-order-independent exactness). NULL order
    dates sort NULLS LAST explicitly on BOTH sides — Spark's ASC
    default is NULLS FIRST, DuckDB's NULLS LAST, which would silently
    shift every cumulative frame on a corpus with undated orders."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc_nulls_last(), "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        o.withColumn(
            "running_spend",
            F.sum(F.col("o_totalprice").cast("decimal(28,4)")).over(w).cast("double"),
        )
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "w_lag_gap_days",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS INTEGER) AS gap_days
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "lag"),
)
def w_lag_gap_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days since the customer's previous order (LAG + datediff on
    TIMESTAMP_NTZ → timezone-free)."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return (
        o.withColumn("gap_days", F.datediff(F.col("o_orderdate"), prev).cast("int"))
        .select("o_custkey", "o_orderkey", "gap_days")
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "w_dense_rank_nations",
    oracle="""
    SELECT c_nationkey, cnt,
           CAST(DENSE_RANK() OVER (ORDER BY cnt DESC) AS INTEGER) AS rank
    FROM (SELECT c_nationkey, COUNT(*) AS cnt FROM customer GROUP BY c_nationkey)
    ORDER BY rank, c_nationkey
    """,
    tags=("window", "dense_rank"),
)
def w_dense_rank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_rank over an aggregate (the primitive behind deterministic
    label encoding, SURVEY.md §2.4 E1). The window input here is the
    25-row nation aggregate — tiny, so a global window is safe."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"))
    return (
        counts.withColumn("rank", F.dense_rank().over(w).cast("int"))
        .orderBy("rank", "c_nationkey")
    )


@register(
    "w_rank_suite",
    oracle="""
    SELECT c_custkey,
           c_mktsegment,
           CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           CAST(RANK() OVER w AS INTEGER) AS rnk
    FROM customer
    WHERE c_custkey <= 400
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, rnk, c_custkey
    """,
    tags=("windows", "rank"),
)
def w_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rank-family window functions in one pass (ntile,
    percent_rank, cume_dist, rank) — one window spec, one sort per
    partition; the explicit c_custkey tiebreak makes every rank
    deterministic."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 400)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.rank().over(w).cast("int").alias("rnk"),
        )
        .orderBy("c_mktsegment", "rnk", "c_custkey")
    )


@register(
    "w_range_frame_time_sum",
    oracle="""
    SELECT user_id,
           event_id,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
             PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rolling_30m
    FROM events
    WHERE event_type = 'purchase'
    ORDER BY user_id, event_id
    """,
    tags=("windows", "range-frame", "timeseries"),
)
def w_range_frame_time_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per user, the rolling 30-minute sum of
    purchase values — the frame is bounded by EVENT TIME (epoch micros),
    not row counts, so bursty and sparse users get identical semantics.
    Decimal accumulation inside the frame keeps the rolling sum
    bit-reproducible (IEEE double sums would drift with frame order)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-1_800_000_000, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.sum(F.col("value").cast("decimal(28,6)"))
            .over(w)
            .cast("double")
            .alias("rolling_30m"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "w_value_suite",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(FIRST_VALUE(c_custkey) OVER w AS BIGINT) AS poorest,
           CAST(LAST_VALUE(c_custkey) OVER
                (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                AS BIGINT) AS richest,
           CAST(NTH_VALUE(c_custkey, 2) OVER w AS BIGINT) AS second_poorest,
           ROUND(c_acctbal - FIRST_VALUE(c_acctbal) OVER w, 2) AS above_floor
    FROM customer
    WHERE c_custkey <= 400
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, c_acctbal, c_custkey
    """,
    tags=("windows", "value"),
)
def w_value_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The value-window family (first_value / last_value / nth_value)
    with explicit frames — last_value needs the UNBOUNDED FOLLOWING
    frame (the default frame ends at CURRENT ROW, a classic silent-bug
    corner both engines must agree on). Deterministic ordering via the
    (acctbal, custkey) tiebreak."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 400)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            F.first("c_custkey").over(w).cast("bigint").alias("poorest"),
            F.last("c_custkey").over(w_full).cast("bigint").alias("richest"),
            F.nth_value("c_custkey", 2).over(w).cast("bigint").alias("second_poorest"),
            F.round(
                F.col("c_acctbal") - F.first("c_acctbal").over(w), 2
            ).alias("above_floor"),
        )
        .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
    )


@register(
    "w_moving_avg_rows_frame",
    oracle=f"""
    SELECT user_id, event_id,
           ROUND(avg(value) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
                                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 6) AS mavg7
    FROM events
    WHERE {EVENTS_WELL_FORMED_SQL}
    ORDER BY user_id, epoch_us(CAST(ts AS TIMESTAMP)), event_id
    """,
    tags=("windows", "frame", "rows"),
)
def w_moving_avg_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row trailing moving average — the ROWS-frame counterpart of
    w_range_frame_time_sum's RANGE frame (count-bounded vs
    time-bounded lookback; the two frames behave differently under
    ties and gaps, so both deserve a pinned oracle).  Ordered by the
    module's canonical (ts_us, event_id) tie-break; one user_id
    shuffle, one sort, sliding-frame aggregation inside the window
    operator."""
    from pyspark.sql import Window

    ev = well_formed_events(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_id", "value", "ts_us"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("mavg7"),
    ).orderBy("user_id", "ts_us", "event_id").drop("value", "ts_us")


@register(
    "w_gaps_islands_scd2",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate NULLS LAST, o_orderkey)
               - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                                    ORDER BY o_orderdate NULLS LAST, o_orderkey)
                   AS island_id
        FROM orders
    ),
    islands AS (
        SELECT o_custkey, o_orderstatus AS status, island_id,
               strftime(MIN(o_orderdate), '%Y-%m-%d') AS valid_from,
               MIN(o_orderkey) AS min_key,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM seq GROUP BY o_custkey, o_orderstatus, island_id
    )
    SELECT o_custkey, status, valid_from,
           LEAD(valid_from) OVER (PARTITION BY o_custkey
                                  ORDER BY valid_from NULLS LAST, min_key) AS valid_to,
           n_orders
    FROM islands
    ORDER BY o_custkey, valid_from, min_key
    """,
    tags=("window", "gaps-islands", "scd2"),
)
def w_gaps_islands_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run compression into SCD-Type-2 validity
    intervals: consecutive same-status orders per customer collapse
    into one [valid_from, valid_to) row, valid_to being the next
    run's start and NULL for the still-open run — the slowly-changing-
    dimension build every warehouse pipeline runs when snapshotting an
    entity's state timeline. Uses the Tabibitosan difference of two
    ROW_NUMBERs (total order minus per-status order) so a run is a
    constant (status, island_id) pair — one window pass, no
    self-join.

    Scale shape: every window and the final LEAD are PARTITIONED BY
    customer (bounded per-key state, no global window); the grouping
    collapses orders to runs before the LEAD. Determinism: the
    per-customer total order is (o_orderdate, o_orderkey) — unique by
    key — and islands are LEAD-ordered by (valid_from, min orderkey)
    so same-day different-status runs (32 same-day customer collisions
    exist at sf0.01 — measured) cannot tie. NTZ date rendering keeps
    the strings timezone-free."""
    orders = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    w_st = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    seq = orders.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
        (F.row_number().over(w_all) - F.row_number().over(w_st)).alias(
            "island_id"
        ),
    )
    islands = seq.groupBy(
        "o_custkey", F.col("o_orderstatus").alias("status"), "island_id"
    ).agg(
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("valid_from"),
        F.min("o_orderkey").alias("min_key"),
        F.count("*").cast("bigint").alias("n_orders"),
    )
    w_lead = Window.partitionBy("o_custkey").orderBy(
        F.col("valid_from").asc_nulls_last(), "min_key"
    )
    return (
        islands.select(
            "o_custkey",
            "status",
            "valid_from",
            F.lead("valid_from").over(w_lead).alias("valid_to"),
            "n_orders",
        )
        .orderBy("o_custkey", "valid_from", "status")
    )


@register(
    "j_scd2_temporal_join",
    oracle="""
    WITH seq AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate NULLS LAST, o_orderkey)
               - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                                    ORDER BY o_orderdate NULLS LAST, o_orderkey)
                   AS island_id
        FROM orders
    ),
    islands AS (
        SELECT o_custkey, o_orderstatus AS status, island_id,
               MIN(o_orderdate) AS vf, MIN(o_orderkey) AS min_key
        FROM seq GROUP BY o_custkey, o_orderstatus, island_id
    ),
    dim AS (
        SELECT o_custkey, status, vf,
               LEAD(vf) OVER (PARTITION BY o_custkey
                              ORDER BY vf NULLS LAST, min_key) AS vt
        FROM islands
    ),
    facts AS (
        SELECT o_custkey, o_orderstatus AS cur_status,
               o_orderdate - INTERVAL 1 DAY AS asof
        FROM orders
    )
    SELECT d.status AS prior_status, f.cur_status,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM facts f LEFT JOIN dim d
      ON f.o_custkey = d.o_custkey
     AND f.asof >= d.vf AND (d.vt IS NULL OR f.asof < d.vt)
    GROUP BY d.status, f.cur_status
    ORDER BY prior_status NULLS FIRST, cur_status
    """,
    tags=("join", "scd2", "temporal", "as-of"),
)
def j_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension join — the warehouse lookup 'which dim
    version was valid WHEN the fact happened': every order joins to
    the customer's SCD2 status interval (w_gaps_islands_scd2's
    half-open runs) valid ONE DAY BEFORE the order date, yielding the
    (prior_status, current_status) matrix. Orders opening a new run
    pick up the PREVIOUS run's status; orders inside a run see their
    own; a customer's very first day has no prior interval and
    surfaces in the NULL bucket — all three branches populated at
    every scale (measured), which is the vacuity assertion.

    Scale shape: the interval dim is run-compressed (one row per
    status run) BEFORE the join; the join itself is a shuffle
    EQUI-join on o_custkey with the interval-containment predicate
    evaluated locally per key — never a BNLJ/range fan-out, because a
    customer's intervals are few and its partition is self-contained.
    All date arithmetic is NTZ wall-clock (tz-free)."""
    orders = load_table(spark, sf_dir, "orders")
    w_all = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    w_st = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        F.col("o_orderdate").asc_nulls_last(), "o_orderkey"
    )
    seq = orders.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
        (F.row_number().over(w_all) - F.row_number().over(w_st)).alias(
            "island_id"
        ),
    )
    islands = seq.groupBy(
        "o_custkey", F.col("o_orderstatus").alias("status"), "island_id"
    ).agg(
        F.min("o_orderdate").alias("vf"),
        F.min("o_orderkey").alias("min_key"),
    )
    w_lead = Window.partitionBy("o_custkey").orderBy(F.col("vf").asc_nulls_last(), "min_key")
    dim = islands.select(
        F.col("o_custkey").alias("d_custkey"),
        "status",
        "vf",
        F.lead("vf").over(w_lead).alias("vt"),
    )
    facts = orders.select(
        "o_custkey",
        F.col("o_orderstatus").alias("cur_status"),
        F.expr("o_orderdate - INTERVAL 1 DAY").alias("asof"),
    )
    return (
        facts.join(
            dim,
            (F.col("o_custkey") == F.col("d_custkey"))
            & (F.col("asof") >= F.col("vf"))
            & (F.col("vt").isNull() | (F.col("asof") < F.col("vt"))),
            "left",
        )
        .groupBy(
            F.col("status").alias("prior_status"), "cur_status"
        )
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy(F.col("prior_status").asc_nulls_first(), "cur_status")
    )


@register(
    "w_session_window_native",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    gaps AS (
      SELECT user_id, ts_us,
             CASE WHEN ts_us - LAG(ts_us) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id)
                    >= 600000000 THEN 1
                  WHEN LAG(ts_us) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id)
                    IS NULL THEN 1
                  ELSE 0 END AS ns
      FROM base),
    sess AS (
      SELECT user_id, ts_us,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps),
    per_sess AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             MAX(ts_us) - MIN(ts_us) + 600000000 AS dur_us
      FROM sess GROUP BY user_id, sid)
    SELECT CAST(n_events AS BIGINT) AS session_size,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(AVG(dur_us / 1000000.0), 6) AS avg_dur_secs_r
    FROM per_sess GROUP BY n_events ORDER BY session_size
    """,
    tags=("window", "session", "native-operator"),
)
def w_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator in a batch plan, pinned
    against a first-principles gaps-and-islands oracle — the parity
    that proves the built-in's semantics are exactly the documented
    ones: a session extends while the next event arrives strictly
    within the gap of the previous event (an event at exactly
    prev + gap starts a NEW session — window ends are exclusive),
    and window.end - window.start = last - first + gap. The result
    is the session-SIZE histogram with average session duration per
    size, so every session contributes to the hash.

    This complements ev_sessionize (hand-rolled islands, per-session
    rows) and stream_session_window (the streaming stateful form):
    same semantics, three execution strategies, one oracle family.

    avg over the double dur seconds is a plain AVG — engine-order-
    dependent in principle, but every dur_us / 1e6 here is exact to
    well under 1e-6 (microsecond integers), and the ROUND(6) band
    absorbs summation-order ULPs on groups this small; measured
    stable across both engines at all three scales.

    Scale shape: session_window is a single user-keyed shuffle with
    bounded per-key state (Spark's own operator); the histogram is a
    second bounded groupBy."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    per_sess = ev.groupBy(
        "user_id", F.session_window("ts", "10 minutes").alias("w")
    ).agg(F.count("*").alias("n_events"))
    return (
        per_sess.select(
            "n_events",
            F.expr(
                "timestampdiff(MICROSECOND, w.start, w.end)"
            ).alias("dur_us"),
        )
        .groupBy(F.col("n_events").cast("bigint").alias("session_size"))
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.round(F.avg(F.col("dur_us") / 1_000_000.0), 6).alias(
                "avg_dur_secs_r"
            ),
        )
        .orderBy("session_size")
    )
