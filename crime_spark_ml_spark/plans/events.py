"""Event-table plans: the batch twins of the streaming surface
(SURVEY.md §2.10) — tumbling/sliding/session windows, JSON extraction,
as-of join, hypertable-style rollup.

Structured Streaming runs these same shapes incrementally
(streaming/consumer.py); the batch forms here are oracle-checkable and
establish stream-batch parity (§5.3).

Scale notes: all time bucketing is pure integer arithmetic on epoch
nanos or wall-clock NTZ — timezone-free and deterministic. Session
windows and as-of joins use windows PARTITIONED BY user_id: state is
sharded by key, the streaming-compatible layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggs import dec_sum, dec_sum_sql
from ..operators.rank import (
    global_row_number,
    grouped_prefix_sums,
    grouped_row_number,
    ntile_sql,
)
from ..sources.catalog import EVENTS_WELL_FORMED_SQL, load_table, well_formed_events
from .registry import register


@register(
    "ev_window_tumbling",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS cnt,
           {dec_sum_sql('value', 6)} AS sum_value
    FROM events WHERE {EVENTS_WELL_FORMED_SQL}
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("events", "window", "T1"),
)
def ev_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed counts per event type — the batch form
    of the streaming consumer's windowed aggregation (the reference's
    5 s micro-batch cadence generalized to event-time windows)."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), dec_sum("value", 6).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "ev_window_sliding",
    oracle=f"""
    WITH buckets AS (
      SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000)
               AS window_start, event_id
      FROM events
      WHERE {EVENTS_WELL_FORMED_SQL}
      UNION ALL
      SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 1800000000) * 1800000000
                            - 1800000000) AS window_start, event_id
      FROM events WHERE {EVENTS_WELL_FORMED_SQL})
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS cnt
    FROM buckets GROUP BY 1 ORDER BY 1
    """,
    tags=("events", "window", "sliding"),
)
def ev_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 30 min slide): each event lands in
    two windows. Spark expands the window set row-locally (no join)."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "cnt",
        )
        .orderBy("window_start")
    )


@register(
    "ev_sessionize",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    gaps AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN ts_us - LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                       >= 600000000 THEN 1
                  WHEN LAG(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                       IS NULL THEN 1
                  ELSE 0 END AS new_session
      FROM base),
    sess AS (
      SELECT user_id, ts_us,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps)
    SELECT user_id, CAST(session_id AS INTEGER) AS session_id,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("events", "session"),
)
def ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 10-minute inactivity gap — gaps-and-islands
    on epoch nanos, state sharded by user_id (the batch twin of
    Structured Streaming's session_window, streaming/windows.py)."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    # same (ts_us, event_id) order as the lag window — a ts tie must not
    # let the running sum see the rows in a different order
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap_us = 10 * 60 * 1_000_000
    prev = F.lag("ts_us").over(w_order)
    new_session = F.when(prev.isNull() | (F.col("ts_us") - prev >= gap_us), 1).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(w_cum).cast("int"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "ev_json_extract",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(CASE WHEN json_valid(props)
                          THEN json_extract_string(props, '$.k') END
                     AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "json", "T2"),
)
def ev_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the props payload column — the
    batch form of the streaming wire-format parse (from_json in
    streaming/wire.py; get_json_object here)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
            F.count("*").alias("cnt"),
        )
        .orderBy("event_type")
    )


@register(
    "ev_asof_last_purchase",
    oracle="""
    SELECT e.event_id, e.user_id,
           MAX(epoch_us(CAST(p.ts AS TIMESTAMP))) AS last_purchase_us
    FROM events e
    LEFT JOIN events p
      ON p.user_id = e.user_id AND p.event_type = 'purchase'
     AND epoch_us(CAST(p.ts AS TIMESTAMP)) <= epoch_us(CAST(e.ts AS TIMESTAMP))
    WHERE e.event_type = 'click'
    GROUP BY e.event_id, e.user_id
    ORDER BY e.event_id
    """,
    tags=("events", "asof"),
)
def ev_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the user's most recent purchase at
    or before it. Implemented as a single partitioned window pass
    (last purchase carried forward) — O(n log n) per user shard vs the
    oracle's O(n²) self-join; the streaming-state-compatible layout."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    # purchases sort BEFORE other events at an equal timestamp so the
    # carried value honors the oracle's inclusive `p.ts_us <= e.ts_us`
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            "ts_us",
            F.when(F.col("event_type") == "purchase", 0).otherwise(1),
            "event_id",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts_us")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_purchase_us", carried)
        .where(F.col("event_type") == "click")
        .select("event_id", "user_id", "last_purchase_us")
        .orderBy("event_id")
    )


@register(
    "ev_hypertable_rollup",
    oracle=f"""
    SELECT COALESCE(day, 'ALL') AS day, COALESCE(hour, 'ALL') AS hour, cnt, sum_value
    FROM (
      SELECT day, hour, COUNT(*) AS cnt, {dec_sum_sql('value', 6)} AS sum_value
      FROM (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(EXTRACT(hour FROM ts) AS VARCHAR) AS hour,
                   value
            FROM events)
      GROUP BY ROLLUP (day, hour))
    ORDER BY day, hour
    """,
    tags=("events", "rollup"),
)
def ev_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: per-hour, per-day,
    and grand-total aggregates in one grouping-sets pass."""
    ev = load_table(spark, sf_dir, "events")
    withdims = ev.select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("string").alias("hour"),
        "value",
    )
    return (
        withdims.rollup("day", "hour")
        .agg(F.count("*").alias("cnt"), dec_sum("value", 6).alias("sum_value"))
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("hour", F.lit("ALL")).alias("hour"),
            "cnt",
            "sum_value",
        )
        .orderBy("day", "hour")
    )


@register(
    "ev_json_full_schema",
    oracle="""
    WITH p AS (
      SELECT event_id,
             CAST(CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS INTEGER) AS k
      FROM events)
    SELECT event_id, k FROM p WHERE k >= 95 ORDER BY event_id
    """,
    tags=("events", "json", "T2"),
)
def ev_json_full_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parse: from_json with a declared struct schema (the
    wire-parse primitive) + field access + filter — vs
    ev_json_extract's per-path get_json_object."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "struct<k:int>"))
    return (
        parsed.where(F.col("p.k") >= 95)
        .select("event_id", F.col("p.k").alias("k"))
        .orderBy("event_id")
    )


@register(
    "ev_gap_fill",
    oracle="""
    WITH b AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr, event_type
      FROM events),
    bounds AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM b),
    grid AS (
      SELECT g.hr, t.event_type
      FROM (SELECT unnest(range((SELECT h0 FROM bounds),
                                (SELECT h1 FROM bounds) + 1)) AS hr) g
      CROSS JOIN (SELECT DISTINCT event_type FROM b) t),
    counts AS (SELECT hr, event_type, COUNT(*) AS cnt FROM b GROUP BY hr, event_type)
    SELECT CAST(grid.hr * 3600000000 AS BIGINT) AS hour_us,
           grid.event_type,
           CAST(COALESCE(counts.cnt, 0) AS BIGINT) AS cnt
    FROM grid LEFT JOIN counts ON grid.hr = counts.hr
                              AND grid.event_type = counts.event_type
    ORDER BY 1, 2
    """,
    tags=("events", "timeseries", "gap-fill"),
)
def ev_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (the hypertable densification op): a
    complete hour × event_type grid generated from the observed bounds
    (sequence + explode — the grid is built row-locally from one
    2-value bounds row, never materialized driver-side), left-joined
    onto the hourly counts, absent buckets filled with 0. Pure integer
    hour arithmetic on epoch micros — timezone-proof."""
    ev = load_table(spark, sf_dir, "events").select(
        F.expr("(ts_us - pmod(ts_us, 3600000000)) DIV 3600000000").alias("hr"), "event_type"
    )
    counts = ev.groupBy("hr", "event_type").agg(F.count("*").alias("cnt"))
    bounds = ev.agg(F.min("hr").alias("h0"), F.max("hr").alias("h1"))
    grid = (
        bounds.select(F.explode(F.sequence("h0", "h1")).alias("hr"))
        .crossJoin(F.broadcast(ev.select("event_type").distinct()))
    )
    return (
        grid.join(counts, ["hr", "event_type"], "left")
        .select(
            (F.col("hr") * 3600000000).alias("hour_us"),
            "event_type",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
        )
        .orderBy("hour_us", "event_type")
    )


@register(
    "ev_ohlc_hourly",
    oracle="""
    WITH b AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             value, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
      FROM events WHERE event_type = 'purchase'),
    rn AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY hr ORDER BY ts_us, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY hr ORDER BY ts_us DESC, event_id DESC) AS rn_d
      FROM b)
    SELECT CAST(hr * 3600000000 AS BIGINT) AS hour_us,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_trades
    FROM rn GROUP BY hr ORDER BY hour_us
    """,
    tags=("events", "timeseries", "ohlc"),
)
def ev_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candles per hour over purchase values — the classic
    time-series downsample: open/close picked by explicit
    (ts, event_id) tiebroken windows (composite-key min_by isn't
    portable), high/low as plain min/max, no value arithmetic at all so
    every output is bit-exact in both engines."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(F.expr("(ts_us - pmod(ts_us, 3600000000)) DIV 3600000000").alias("hr"), "value", "ts_us", "event_id")
    )
    w_a = Window.partitionBy("hr").orderBy("ts_us", "event_id")
    w_d = Window.partitionBy("hr").orderBy(F.desc("ts_us"), F.desc("event_id"))
    rn = ev.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    return (
        rn.groupBy("hr")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count("*").alias("n_trades"),
        )
        .select(
            (F.col("hr") * 3600000000).alias("hour_us"),
            "open",
            "high",
            "low",
            "close",
            "n_trades",
        )
        .orderBy("hour_us")
    )


@register(
    "ev_retention_next_day",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events),
    per_day AS (SELECT day, COUNT(*) AS active FROM d GROUP BY day),
    retained AS (
      SELECT a.day, COUNT(*) AS retained
      FROM d a JOIN d b ON a.user_id = b.user_id AND b.day = a.day + 1
      GROUP BY a.day)
    SELECT CAST(p.day AS BIGINT) AS day,
           CAST(p.active AS BIGINT) AS active_users,
           CAST(COALESCE(r.retained, 0) AS BIGINT) AS retained_users,
           -- FLOOR-in-both, not ROUND: retained/active can be exactly
           -- dyadic (115/128 at sf0.01 sits ON the 6th-decimal tie),
           -- where ROUND-on-double is DuckDB-build-sensitive
           FLOOR(CAST(COALESCE(r.retained, 0) AS DOUBLE) / p.active
                 * 1e6 + 0.5) / 1e6 AS retention
    FROM per_day p LEFT JOIN retained r ON p.day = r.day
    ORDER BY day
    """,
    tags=("events", "retention", "cohort"),
)
def ev_retention_next_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day retention (the cohort-analytics staple): distinct
    (user, day) activity self-joined onto day+1 — the dedup shrinks the
    join inputs to user×day cardinality BEFORE the shuffle, so the join
    never touches raw event volume. Integer epoch-day arithmetic,
    timezone-proof."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "user_id", F.expr("(ts_us - pmod(ts_us, 86400000000)) DIV 86400000000").alias("day")
    ).distinct()
    per_day = d.groupBy("day").agg(F.count("*").alias("active_users"))
    b = d.select(F.col("user_id"), (F.col("day") - 1).alias("day"))
    retained = (
        d.join(b, ["user_id", "day"])
        .groupBy("day")
        .agg(F.count("*").alias("retained_users"))
    )
    return (
        per_day.join(retained, "day", "left")
        .select(
            "day",
            "active_users",
            F.coalesce("retained_users", F.lit(0)).alias("retained_users"),
            # FLOOR-in-both micro-unit quantization — see oracle comment
            (
                F.floor(
                    F.coalesce("retained_users", F.lit(0))
                    / F.col("active_users")
                    * 1e6
                    + 0.5
                )
                / 1e6
            ).alias("retention"),
        )
        .orderBy("day")
    )


@register(
    "ev_funnel_counts",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS c,
             MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
      FROM events GROUP BY user_id)
    SELECT CAST(COUNT(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS viewed,
           CAST(COUNT(CASE WHEN v IS NOT NULL AND c > v THEN 1 END) AS BIGINT)
             AS then_clicked,
           CAST(COUNT(CASE WHEN v IS NOT NULL AND c > v AND p > c THEN 1 END) AS BIGINT)
             AS then_purchased
    FROM firsts
    """,
    tags=("events", "funnel"),
)
def ev_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase by first occurrence):
    one conditional-min aggregate per user — the whole funnel costs a
    single user-keyed shuffle, no self-joins, no sequence scan."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts_us")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("view").alias("v"), first_ts("click").alias("c"), first_ts("purchase").alias("p")
    )
    return firsts.agg(
        F.count(F.when(F.col("v").isNotNull(), 1)).alias("viewed"),
        F.count(F.when(F.col("v").isNotNull() & (F.col("c") > F.col("v")), 1)).alias(
            "then_clicked"
        ),
        F.count(
            F.when(
                F.col("v").isNotNull() & (F.col("c") > F.col("v")) & (F.col("p") > F.col("c")),
                1,
            )
        ).alias("then_purchased"),
    )


@register(
    "ev_range_join",
    oracle=f"""
    WITH pts AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, user_id, value FROM events),
    hrs AS (
      SELECT DISTINCT (ts_us // 3600000000) AS hr FROM pts
      WHERE (ts_us // 3600000000) % 6 = 0),
    iv AS (
      SELECT hr AS interval_id, hr * 3600000000 AS start_us,
             hr * 3600000000 + 5400000000 AS end_us
      FROM hrs)
    SELECT interval_id,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {dec_sum_sql('value', 6)} AS sum_value
    FROM iv JOIN pts ON pts.ts_us >= iv.start_us AND pts.ts_us < iv.end_us
    GROUP BY interval_id ORDER BY interval_id
    """,
    tags=("events", "rangejoin"),
)
def ev_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join: 90-minute audit intervals (anchored at every
    6th hour, so each interval CROSSES an hour boundary — a true
    interval-containment test, not bucketing in disguise) joined to
    every event inside them. Runs through the bucketized
    operators/rangejoin.py plan — an integer-key equi-join instead of
    the BroadcastNestedLoopJoin a raw theta join would plan."""
    from ..operators.rangejoin import point_in_interval_join

    hr_us = 3_600_000_000
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select("ts_us", "user_id", "value")
    intervals = (
        pts.select(F.expr(f"(ts_us - pmod(ts_us, {hr_us})) DIV {hr_us}").alias("hr"))
        .distinct()
        .where(F.expr("hr % 6 = 0"))
        .select(
            F.col("hr").alias("interval_id"),
            (F.col("hr") * hr_us).alias("start_us"),
            (F.col("hr") * hr_us + 90 * 60 * 1_000_000).alias("end_us"),
        )
    )
    return (
        point_in_interval_join(pts, intervals, bucket_width=1_800_000_000)
        .groupBy("interval_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            dec_sum("value", 6).alias("sum_value"),
        )
        .orderBy("interval_id")
    )


@register(
    "ev_variant_extract",
    oracle="""
    WITH p AS (
      SELECT event_type,
             CAST(CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
      FROM events)
    SELECT event_type,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           ROUND(SUM(k) * 1.0 / COUNT(*), 6) AS avg_k
    FROM p GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "json", "variant"),
)
def ev_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the VARIANT type (Spark 4):
    parse_json shreds props into a variant, variant_get pulls the
    typed path — the open-schema path a JSON-heavy event pipeline
    uses instead of per-field get_json_object strings
    (ev_json_extract covers that legacy form). avg is computed as
    exact-integer SUM / COUNT so both engines divide identical
    numbers."""
    ev = load_table(spark, sf_dir, "events")
    # try_parse_json: parse_json RAISES on malformed/empty props —
    # real event streams always contain some; NULL matches the
    # oracle's json_valid guard
    k = F.expr(
        "CAST(variant_get(try_parse_json(props), '$.k', 'long') AS BIGINT)"
    )
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.sum("k") * 1.0 / F.count("*"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@register(
    "ev_time_weighted_avg",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}), seg AS (
      SELECT user_id, value, ts_us,
             LEAD(value) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS v_next,
             LEAD(ts_us) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS t_next
      FROM e
    )
    SELECT user_id,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_samples,
           ROUND((MAX(t_next) - MIN(ts_us)) / 1e6, 6) AS span_s,
           ROUND(SUM((value + v_next) / 2 * (t_next - ts_us) / 1e6)
                 / (SUM((t_next - ts_us)) / 1e6), 6) AS twa
    FROM seg WHERE t_next IS NOT NULL
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("events", "timeseries", "twa"),
)
def ev_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user over irregularly-sampled event
    values — the trapezoidal TWA a hypertable engine ships for exactly
    this shape (a plain AVG over-weights bursts; the integral weights
    each value by how long it was current).  Σ½(vᵢ+vᵢ₊₁)Δtᵢ / ΣΔtᵢ via
    one lead() window with the module's canonical (ts_us, event_id)
    tie-break; users with a single event drop out with the last
    NULL-lead segment.

    One shuffle by user_id feeding both the window sort and the final
    aggregate (the window's partitioning is reused), arithmetic on
    identical (µs-int → double) inputs in both engines, rounded at
    6 dp — orders of magnitude above the double-sum reorder noise."""
    from pyspark.sql import Window

    ev = well_formed_events(load_table(spark, sf_dir, "events")).select(
        "user_id", "event_id", "value", "ts_us"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seg = ev.select(
        "user_id",
        "value",
        "ts_us",
        F.lead("value").over(w).alias("v_next"),
        F.lead("ts_us").over(w).alias("t_next"),
    ).where(F.col("t_next").isNotNull())
    dt_s = (F.col("t_next") - F.col("ts_us")) / 1e6
    return (
        seg.groupBy("user_id")
        .agg(
            (F.count("*") + 1).cast("bigint").alias("n_samples"),
            F.round((F.max("t_next") - F.min("ts_us")) / 1e6, 6).alias("span_s"),
            F.round(
                F.sum((F.col("value") + F.col("v_next")) / 2 * dt_s) / F.sum(dt_s), 6
            ).alias("twa"),
        )
        .orderBy("user_id")
    )


@register(
    "ev_anomaly_mad",
    oracle="""
    WITH med AS (
      SELECT user_id, median(value) AS med FROM events GROUP BY user_id
    ), mad AS (
      SELECT e.user_id, max(m.med) AS med,
             median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (user_id) GROUP BY e.user_id
    )
    SELECT e.user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           ROUND(max(m.med), 6) AS med,
           ROUND(max(m.mad), 6) AS mad,
           CAST(sum(CASE WHEN m.mad > 0
                          AND abs(e.value - m.med) > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM events e JOIN mad m USING (user_id)
    GROUP BY e.user_id ORDER BY e.user_id
    """,
    tags=("events", "anomaly", "robust"),
)
def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user anomaly counting via median absolute deviation —
    the outlier detector that, unlike z-scores (e6_zscore), is not
    corrupted by the outliers it is hunting (50% breakdown point vs
    0%).  Threshold 3·1.4826·MAD ≈ 3σ under normality.

    Two grouped exact medians (value, then |value − med|) and two
    joins, ALL keyed by user_id: the first shuffle's partitioning is
    reused by every later join and aggregate, so at scale this is one
    wide exchange plus co-partitioned passes — and the per-user
    median/MAD tables are never assumed broadcastable (users scale
    with the data, unlike dimensions).  The anomaly boolean is
    engine-deterministic because med and mad derive from the same
    interpolated-percentile definition in both engines."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    med = ev.groupBy("user_id").agg(F.expr("percentile(value, 0.5)").alias("med"))
    mad = (
        ev.join(med, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    return (
        ev.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.sum(
                F.when(
                    (F.col("mad") > 0)
                    & (F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_anomalies"),
        )
        .orderBy("user_id")
    )


@register(
    "ev_cumulative_distinct_users",
    oracle=f"""
    WITH days AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}), dau AS (
      SELECT day, count(DISTINCT user_id) AS dau FROM days GROUP BY day
    ), firsts AS (
      SELECT min(day) AS first_day FROM days GROUP BY user_id
    ), new_users AS (
      SELECT first_day AS day, count(*) AS n_new FROM firsts GROUP BY first_day
    )
    SELECT d.day,
           CAST(d.dau AS BIGINT) AS dau,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(sum(COALESCE(n.n_new, 0))
                OVER (ORDER BY d.day) AS BIGINT) AS cumulative_users
    FROM dau d LEFT JOIN new_users n ON n.day = d.day
    ORDER BY d.day
    """,
    tags=("events", "growth", "distinct"),
)
def ev_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users plus the cumulative-distinct-users growth
    curve.  The naive formulation — COUNT(DISTINCT user) OVER (ORDER BY
    day) — re-scans every prior day per row (and Spark refuses DISTINCT
    window aggregates outright); the scale-correct identity is that a
    user adds to the cumulative count only on their FIRST day, so
    min(day) per user + a running sum of first-appearances gives the
    same curve with two key-bounded aggregates and a days-sized window.
    The final global-order window runs over one row per day — a
    dimension-sized relation, the only safe place for an unpartitioned
    window."""
    from pyspark.sql import Window

    ev = well_formed_events(load_table(spark, sf_dir, "events")).select(
        "user_id", F.expr("ts_us DIV 86400000000").cast("bigint").alias("day")
    )
    dau = ev.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_users = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        dau.join(new_users, "day", "left")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0)))
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.sum("n_new").over(w).cast("bigint").alias("cumulative_users"),
        )
        .orderBy("day")
    )


@register(
    "ev_cohort_retention_matrix",
    oracle="""
    WITH wk AS (
      SELECT user_id,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS BIGINT)
               AS week,
             count(*) AS n_purch
      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    ), act AS (SELECT user_id, week FROM wk WHERE n_purch >= 4),
    c AS (SELECT user_id, min(week) AS cohort FROM act GROUP BY user_id),
    m AS (
      SELECT c.cohort, a.week - c.cohort AS offs, count(*) AS n
      FROM act a JOIN c USING (user_id) GROUP BY 1, 2
    ), base AS (SELECT cohort, n AS n0 FROM m WHERE offs = 0)
    SELECT m.cohort, CAST(m.offs AS BIGINT) AS offs,
           CAST(m.n AS BIGINT) AS n,
           ROUND(m.n * 1.0 / b.n0, 6) AS retention
    FROM m JOIN base b USING (cohort)
    ORDER BY m.cohort, m.offs
    """,
    tags=("events", "cohort", "retention"),
)
def ev_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the full generalization of
    ev_retention_next_day: users are cohorted by their first ACTIVE
    week (≥4 purchases that week — a raw activity definition is
    saturated on this dense fixture and would make the matrix a
    vacuous constant), and each (cohort, week-offset) cell reports
    active users and their share of the cohort's week-0 size.

    Shape: every stage is keyed by user_id or the (cohorts×offsets)-
    sized matrix — the (user, week) groupBy is the only corpus-sized
    shuffle; cohorts join back to activity on user_id (co-partitioned
    with the first shuffle) and the base sizes are matrix-row-sized."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    wk = (
        ev.select(
            "user_id", F.expr("ts_us DIV 604800000000").cast("bigint").alias("week")
        )
        .groupBy("user_id", "week")
        .agg(F.count("*").alias("n_purch"))
    )
    act = wk.where(F.col("n_purch") >= 4).select("user_id", "week")
    cohorts = act.groupBy("user_id").agg(F.min("week").alias("cohort"))
    m = (
        act.join(cohorts, "user_id")
        .select("cohort", (F.col("week") - F.col("cohort")).alias("offs"))
        .groupBy("cohort", "offs")
        .agg(F.count("*").alias("n"))
    )
    base = m.where(F.col("offs") == 0).select("cohort", F.col("n").alias("n0"))
    return (
        m.join(F.broadcast(base), "cohort")
        .select(
            "cohort",
            F.col("offs").cast("bigint").alias("offs"),
            F.col("n").cast("bigint").alias("n"),
            F.round(F.col("n") / F.col("n0"), 6).alias("retention"),
        )
        .orderBy("cohort", "offs")
    )


@register(
    "ev_gap_stats",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events
    ), gaps AS (
      SELECT event_type,
             ts_us - LAG(ts_us) OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts_us, event_id) AS gap_us
      FROM e
    )
    SELECT event_type,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_us, 0.5) / 1e6, 4) AS p50_s,
           ROUND(quantile_cont(gap_us, 0.95) / 1e6, 4) AS p95_s,
           ROUND(max(gap_us) / 1e6, 4) AS max_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "timeseries", "gaps"),
)
def ev_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap distribution per event type (median / p95 /
    max of per-user consecutive gaps) — the heartbeat-health report
    that sizes session thresholds (ev_sessionize's 30-min gap) and
    watermark delays (the streaming suite's 1 h) from data instead of
    folklore.  One (user, type) window for the lag, one exact-
    percentile aggregate per type; both engines share the interpolated
    percentile definition, and the µs-integer gaps divide exactly."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts_us"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_us", "event_id")
    gaps = ev.select(
        "event_type", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").cast("bigint").alias("n_gaps"),
            F.round(F.expr("percentile(gap_us, 0.5)") / 1e6, 4).alias("p50_s"),
            F.round(F.expr("percentile(gap_us, 0.95)") / 1e6, 4).alias("p95_s"),
            F.round(F.max("gap_us") / 1e6, 4).alias("max_s"),
        )
        .orderBy("event_type")
    )


@register(
    "ev_first_touch_attribution",
    oracle="""
    WITH c AS (SELECT user_id, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT p.user_id, p.event_id AS purchase_id,
             c.event_id AS c_id, c.ts_us AS c_ts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts_us, c.event_id) AS rk
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us
    )
    SELECT user_id, purchase_id,
           CAST(max(CASE WHEN rk = 1 THEN c_id END) AS BIGINT)
             AS first_click_id,
           CAST(min(c_ts) AS BIGINT) AS first_click_us,
           CAST(count(*) AS BIGINT) AS n_clicks_in_window
    FROM j GROUP BY user_id, purchase_id
    ORDER BY user_id, purchase_id
    """,
    tags=("events", "attribution"),
)
def ev_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: for each purchase, the EARLIEST click
    in the preceding 30 minutes — the complement of the as-of join's
    last-touch semantics (ev_asof_last_purchase picks the latest
    predecessor; marketing attribution wants the session opener).
    The first click is picked by an explicit (ts, event_id)-tiebroken
    window (composite-key min_by isn't portable — the ev_ohlc_hourly
    lesson).  Interval join + per-purchase aggregate; at scale
    the join shuffles on user_id and the aggregate reuses that
    partitioning (purchase keys are user-local)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("c_id"),
        F.col("ts_us").alias("c_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts_us").alias("p_ts")
    )
    joined = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - 1800000000)
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("purchase_id").orderBy("c_ts", "c_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .groupBy("user_id", "purchase_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("c_id")))
            .cast("bigint")
            .alias("first_click_id"),
            F.min("c_ts").cast("bigint").alias("first_click_us"),
            F.count("*").cast("bigint").alias("n_clicks_in_window"),
        )
        .orderBy("user_id", "purchase_id")
    )


@register(
    "ev_ewma_value",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us DESC, event_id DESC) AS rk
      FROM base),
    lists AS (
      SELECT user_id, list(value ORDER BY ts_us, event_id) AS vals,
             CAST(count(*) AS BIGINT) AS n
      FROM ranked WHERE rk <= 32 GROUP BY user_id)
    SELECT user_id, n AS n_events,
           ROUND(list_reduce(vals, (acc, x) ->
                   CAST(0.2 AS DOUBLE)*x + CAST(0.8 AS DOUBLE)*acc), 6) AS ewma
    FROM lists ORDER BY user_id
    """,
    tags=("events", "timeseries", "fold"),
)
def ev_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of ``value`` per user over
    each user's LAST 32 events (α = 0.2, seeded at the oldest retained
    event) — the inherently-sequential recursion y ← α·x + (1−α)·y that
    window frames cannot express, run as an in-row higher-order
    ``aggregate`` fold (JVM codegen, no Python).

    Shape: one shuffle keyed by user_id; the per-key state is BOUNDED
    (32 doubles) by the row_number prefilter, so executor memory per
    key is constant at any corpus size — the same bounded-state layout
    a streaming EWMA would keep. The fold's IEEE double ops run in the
    identical order in DuckDB's ``list_reduce`` (accumulator-first
    lambda, first element as seed), so the oracle is bit-exact before
    the defensive ROUND(…, 6).

    Reference analog: rolling statistics over the crime frame
    (crime.py's pandas groupby/agg family); this is the recursive
    variant pandas computes with ewm().mean()."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    lastn = ev.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 32)
    return (
        lastn.groupBy("user_id")
        # array_sort on (ts_us, event_id, value) structs replays the
        # events oldest-first regardless of collect_list arrival order
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts_us", "event_id", "value"))
            ).alias("evs")
        )
        .select(
            "user_id",
            F.size("evs").cast("bigint").alias("n_events"),
            F.round(
                F.expr(
                    "aggregate(slice(transform(evs, e -> e.value), 2, size(evs)-1), "
                    "transform(evs, e -> e.value)[0], "
                    "(acc, x) -> CAST(0.2 AS DOUBLE)*x + CAST(0.8 AS DOUBLE)*acc)"
                ),
                6,
            ).alias("ewma"),
        )
        .orderBy("user_id")
    )


@register(
    "ev_peak_concurrency",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    gaps AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN LAG(ts_us) OVER w IS NULL THEN 1
                  WHEN ts_us - LAG(ts_us) OVER w >= 600000000 THEN 1 ELSE 0 END AS ns
      FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    sess AS (
      SELECT user_id,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid, ts_us
      FROM gaps),
    iv AS (
      SELECT user_id, sid, MIN(ts_us) AS s_us, MAX(ts_us) AS e_us
      FROM sess GROUP BY user_id, sid),
    segs AS (
      SELECT d, GREATEST(s_us, d*86400000000) AS seg_s,
             LEAST(e_us, d*86400000000 + 86399999999) AS seg_e
      FROM iv, UNNEST(generate_series(s_us//86400000000, e_us//86400000000)) AS u(d)),
    changes AS (
      SELECT d, seg_s AS t, 1 AS delta FROM segs
      UNION ALL
      SELECT d, seg_e + 1 AS t, -1 AS delta FROM segs),
    per_t AS (SELECT d, t, SUM(delta) AS delta FROM changes GROUP BY d, t),
    run AS (
      SELECT d, t, SUM(delta) OVER (PARTITION BY d ORDER BY t
                                    ROWS UNBOUNDED PRECEDING) AS active
      FROM per_t),
    pk AS (SELECT d, t, active, MAX(active) OVER (PARTITION BY d) AS peak FROM run)
    SELECT CAST(DATE '1970-01-01' + CAST(d AS INTEGER) AS VARCHAR) AS day,
           CAST(MAX(peak) AS BIGINT) AS peak_concurrency,
           CAST(MIN(t) AS BIGINT) AS peak_at_us
    FROM pk WHERE active = peak GROUP BY d ORDER BY day
    """,
    tags=("events", "interval", "sweepline"),
)
def ev_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per UTC day — the interval-overlap
    sweep line: sessionize (10-min gap, inclusive [start, end]
    intervals), split sessions at day boundaries, then turn each
    segment into a +1/−1 change pair (−1 one µs PAST the inclusive
    end, so a session starting exactly when another ends counts as
    concurrent) and take the running sum's per-day max plus the first
    instant it is reached.

    Shape: the sessionize shuffle is keyed by user_id (bounded per-key
    state); the sweep's running sum is partitioned by DAY — never a
    global single-partition window — and its input is pre-aggregated
    per (day, µs), so a day's sweep rows are at most 2× that day's
    session-segment count. Day-boundary splitting is what keeps the
    sweep partitionable at 100 TB: each day's count is self-contained
    (a cross-midnight session contributes one segment to each side).
    Integer µs arithmetic end-to-end — no float, no timezone (epoch-day
    ordinals, date rendered via 1970-01-01 + d in both engines)."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    gap_us = 600_000_000
    wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts_us").over(wo)
    new_s = F.when(prev.isNull() | (F.col("ts_us") - prev >= gap_us), 1).otherwise(0)
    sess = (
        ev.withColumn("ns", new_s)
        .withColumn("sid", F.sum("ns").over(wc))
        .groupBy("user_id", "sid")
        .agg(F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us"))
    )
    segs = sess.withColumn(
        "d",
        F.explode(
            F.sequence(
                (F.col("s_us") / day_us).cast("long"),
                (F.col("e_us") / day_us).cast("long"),
            )
        ),
    ).select(
        "d",
        F.greatest("s_us", F.col("d") * day_us).alias("seg_s"),
        F.least("e_us", F.col("d") * day_us + day_us - 1).alias("seg_e"),
    )
    changes = segs.select(
        "d", F.col("seg_s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(segs.select("d", (F.col("seg_e") + 1).alias("t"), F.lit(-1).alias("delta")))
    per_t = changes.groupBy("d", "t").agg(F.sum("delta").alias("delta"))
    wrun = Window.partitionBy("d").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = per_t.withColumn("active", F.sum("delta").over(wrun))
    return (
        run.withColumn("peak", F.max("active").over(Window.partitionBy("d")))
        .where(F.col("active") == F.col("peak"))
        .groupBy("d")
        .agg(
            F.max("peak").cast("bigint").alias("peak_concurrency"),
            F.min("t").cast("bigint").alias("peak_at_us"),
        )
        .select(
            F.date_add(F.to_date(F.lit("1970-01-01")), F.col("d").cast("int"))
            .cast("string")
            .alias("day"),
            "peak_concurrency",
            "peak_at_us",
        )
        .orderBy("day")
    )


@register(
    "ev_holt_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY 1, 2),
    series AS (
      SELECT event_type, list(y ORDER BY d) AS ys,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
      HAVING count(*) >= 2),
    fitted AS (
      SELECT event_type, n_days,
             list_reduce(
               list_prepend(
                 [CAST(ys[2] AS DOUBLE), CAST(ys[2] AS DOUBLE) - CAST(ys[1] AS DOUBLE)],
                 list_transform(ys[3:], y -> [CAST(y AS DOUBLE), CAST(0 AS DOUBLE)])
               ),
               (acc, x) -> [
                 CAST(0.2 AS DOUBLE)*x[1] + CAST(0.8 AS DOUBLE)*(acc[1] + acc[2]),
                 CAST(0.1 AS DOUBLE)*((CAST(0.2 AS DOUBLE)*x[1]
                     + CAST(0.8 AS DOUBLE)*(acc[1] + acc[2])) - acc[1])
                   + CAST(0.9 AS DOUBLE)*acc[2]
               ]
             ) AS st
      FROM series)
    SELECT event_type, n_days,
           ROUND(st[1], 6) AS level,
           ROUND(st[2], 6) AS trend,
           ROUND(st[1] + st[2], 6) AS forecast_next
    FROM fitted ORDER BY event_type
    """,
    tags=("events", "timeseries", "forecast", "fold"),
)
def ev_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend, alpha=0.2 beta=0.1)
    over each event type's DAILY count series, emitting the one-step
    forecast l+b — the classic workload-forecasting recursion, which
    needs a two-field state and so can't be a window frame OR a single
    prefix sum. Runs as a higher-order ``aggregate`` fold with a
    two-element ARRAY accumulator over the collected per-type series
    (JVM codegen; series length = #days, bounded and tiny relative to
    the events scanned, so collect_list here is a per-group rollup,
    not a data-sized materialization).

    Init (l2=y2, b2=y2-y1), fold from y3 — stated explicitly because
    textbook inits vary. The state is an array, NOT a struct, on both
    sides: DuckDB 1.0's list_reduce evaluates struct accumulator
    fields sequentially and a later field reads the CURRENT
    application's already-updated earlier field (measured: folding
    (a+x, b+a) over [(1,10),(2,0),(3,0)] yields b=17, not 14) — array
    elements don't clobber. The new-level subexpression is
    deliberately INLINED twice in the trend formula, identically in
    both engines, to keep the float op sequence equal."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    daily = ev.groupBy("event_type", day.alias("d")).agg(
        F.count("*").cast("double").alias("y")
    )
    # n_days >= 2 in BOTH engines: Holt's init needs ys[1] and ys[2],
    # and slice(ys, 3, size-2) raises on a 1-point series in Spark —
    # a stray event type with a single day is undefined, not an error
    series = daily.groupBy("event_type").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("d", "y"))), lambda s: s.y).alias(
            "ys"
        ),
        F.count("*").cast("bigint").alias("n_days"),
    ).where(F.col("n_days") >= 2)
    fitted = series.withColumn(
        "st",
        F.expr(
            "aggregate(slice(ys, 3, size(ys)-2), "
            "array(CAST(element_at(ys, 2) AS DOUBLE), "
            "      CAST(element_at(ys, 2) AS DOUBLE)"
            "      - CAST(element_at(ys, 1) AS DOUBLE)), "
            "(acc, y) -> array("
            "  CAST(0.2 AS DOUBLE)*y "
            "    + CAST(0.8 AS DOUBLE)*(element_at(acc, 1) + element_at(acc, 2)), "
            "  CAST(0.1 AS DOUBLE)*((CAST(0.2 AS DOUBLE)*y "
            "      + CAST(0.8 AS DOUBLE)*(element_at(acc, 1) + element_at(acc, 2)))"
            "      - element_at(acc, 1)) "
            "    + CAST(0.9 AS DOUBLE)*element_at(acc, 2)))"
        ),
    )
    return fitted.select(
        "event_type",
        "n_days",
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("trend"),
        F.round(F.element_at("st", 1) + F.element_at("st", 2), 6).alias("forecast_next"),
    ).orderBy("event_type")


@register(
    "ev_busy_time_per_day",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    gaps AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN LAG(ts_us) OVER w IS NULL THEN 1
                  WHEN ts_us - LAG(ts_us) OVER w >= 600000000 THEN 1 ELSE 0 END AS ns
      FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    sess AS (
      SELECT user_id,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid, ts_us
      FROM gaps),
    iv AS (
      SELECT user_id, sid, MIN(ts_us) AS s_us, MAX(ts_us) + 1 AS e_us
      FROM sess GROUP BY user_id, sid),
    segs AS (
      SELECT d, GREATEST(s_us, d*86400000000) AS seg_s,
             LEAST(e_us, (d+1)*86400000000) AS seg_e
      FROM iv, UNNEST(generate_series(s_us//86400000000,
                                      (e_us - 1)//86400000000)) AS u(d)),
    changes AS (
      SELECT d, seg_s AS t, 1 AS delta FROM segs
      UNION ALL
      SELECT d, seg_e AS t, -1 AS delta FROM segs),
    per_t AS (SELECT d, t, SUM(delta) AS delta FROM changes GROUP BY d, t),
    run AS (
      SELECT d, t, SUM(delta) OVER (PARTITION BY d ORDER BY t
                                    ROWS UNBOUNDED PRECEDING) AS active,
             LEAD(t) OVER (PARTITION BY d ORDER BY t) AS t_next
      FROM per_t)
    SELECT CAST(DATE '1970-01-01' + CAST(d AS INTEGER) AS VARCHAR) AS day,
           CAST(SUM(CASE WHEN active > 0 THEN t_next - t ELSE 0 END) AS BIGINT)
             AS busy_us
    FROM run WHERE t_next IS NOT NULL
    GROUP BY d ORDER BY day
    """,
    tags=("events", "interval", "sweepline"),
)
def ev_busy_time_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-UNION measure per UTC day: total microseconds during
    which AT LEAST ONE session is active — the busy-time complement of
    ev_peak_concurrency's max measure, and the classic utilization/
    SLA metric. Same partition-safe sweep line (sessions → half-open
    [start, end+1) intervals → day-clipped segments → ±1 changes →
    per-day running sum), then busy time = Σ (t_next − t) over
    change-point gaps where the active count is positive. Half-open
    ends make the measure additive: touching intervals merge with no
    double-counted instant, and a one-event session contributes
    exactly 1 µs instead of vanishing. All-integer arithmetic; the
    per-day partition bounds every window."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 86_400_000_000
    gap_us = 600_000_000
    wo = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts_us").over(wo)
    new_s = F.when(prev.isNull() | (F.col("ts_us") - prev >= gap_us), 1).otherwise(0)
    sess = (
        ev.withColumn("ns", new_s)
        .withColumn("sid", F.sum("ns").over(wc))
        .groupBy("user_id", "sid")
        .agg(F.min("ts_us").alias("s_us"), (F.max("ts_us") + 1).alias("e_us"))
    )
    segs = sess.withColumn(
        "d",
        F.explode(
            F.sequence(
                (F.col("s_us") / day_us).cast("long"),
                ((F.col("e_us") - 1) / day_us).cast("long"),
            )
        ),
    ).select(
        "d",
        F.greatest("s_us", F.col("d") * day_us).alias("seg_s"),
        F.least("e_us", (F.col("d") + 1) * day_us).alias("seg_e"),
    )
    changes = segs.select(
        "d", F.col("seg_s").alias("t"), F.lit(1).alias("delta")
    ).unionByName(segs.select("d", F.col("seg_e").alias("t"), F.lit(-1).alias("delta")))
    per_t = changes.groupBy("d", "t").agg(F.sum("delta").alias("delta"))
    w_ord = Window.partitionBy("d").orderBy("t")
    run = per_t.withColumn(
        "active",
        F.sum("delta").over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).withColumn("t_next", F.lead("t").over(w_ord))
    return (
        run.where(F.col("t_next").isNotNull())
        .groupBy("d")
        .agg(
            F.sum(
                F.when(F.col("active") > 0, F.col("t_next") - F.col("t")).otherwise(0)
            )
            .cast("bigint")
            .alias("busy_us")
        )
        .select(
            F.date_add(F.to_date(F.lit("1970-01-01")), F.col("d").cast("int"))
            .cast("string")
            .alias("day"),
            "busy_us",
        )
        .orderBy("day")
    )


@register(
    "ev_markov_transitions",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    seq AS (
      SELECT event_type AS to_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id) AS from_type
      FROM base),
    counts AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE from_type IS NOT NULL
      GROUP BY 1, 2)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_type), 6) AS p
    FROM counts ORDER BY from_type, to_type
    """,
    tags=("events", "sequence", "markov"),
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: count and row-normalized probability of each
    (from_type → to_type) step, sequences ordered by (ts_us, event_id)
    within user — the sequence-model feature (and sanity diagnostic:
    a near-uniform row says the next action is unpredictable from the
    last). One lag window sharded by user_id, one count aggregate,
    and one tiny window over the ≤|types|² matrix for normalization —
    the matrix is vocabulary-sized, never data-sized, so the final
    normalization costs nothing at any corpus scale. The integer
    count divides once into a double; ROUND(…, 6) compares identical
    IEEE results."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).where(F.col("from_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    w_row = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.sum("n").over(w_row), 6).alias("p"),
    ).orderBy("from_type", "to_type")


@register(
    "ev_sequence_pattern",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events),
    seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS t1,
             LEAD(event_type, 2) OVER w AS t2
      FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM seq
    WHERE event_type = 'click' AND t1 = 'view' AND t2 = 'purchase'
    GROUP BY user_id ORDER BY user_id
    """,
    tags=("events", "sequence", "pattern"),
)
def ev_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-contiguity sequence-pattern matching (the
    MATCH_RECOGNIZE 'A B C' shape Spark SQL lacks): per user, how
    often click → view → purchase occur as THREE CONSECUTIVE events
    in (ts, event_id) order — no events in between, unlike
    ev_funnel_counts' eventually-ordered funnel. Two LEADs on one
    user-sharded window (single shuffle; overlapping matches counted,
    as a rolling pattern automaton would); generalizing to longer
    patterns is one LEAD per extra step, all in the same window
    pass."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    )
    return (
        seq.where(
            (F.col("event_type") == "click")
            & (F.col("t1") == "view")
            & (F.col("t2") == "purchase")
        )
        .groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("n_matches"))
        .orderBy("user_id")
    )


@register(
    "ev_cusum_alerts",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             COUNT(*) AS x
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY 1, 2),
    tot AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx
            FROM daily GROUP BY 1),
    dev AS (
      SELECT daily.event_type, d, n * x - sx AS dd, sx
      FROM daily JOIN tot USING (event_type)),
    pre AS (
      SELECT event_type, d, sx,
             SUM(dd) OVER (PARTITION BY event_type ORDER BY d
                           ROWS UNBOUNDED PRECEDING) AS p
      FROM dev),
    mn AS (
      SELECT event_type, d, sx, p,
             MIN(p) OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS m
      FROM pre)
    SELECT event_type,
           CAST(DATE '1970-01-01' + CAST(d AS INTEGER) AS VARCHAR) AS day,
           CAST(p - LEAST(m, 0) AS BIGINT) AS s_scaled
    FROM mn
    WHERE p - LEAST(m, 0) > sx // 4
    ORDER BY event_type, day
    """,
    tags=("events", "anomaly", "cusum"),
)
def ev_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point alerts over per-type daily event
    counts — the classic sequential drift detector, complementing
    ev_anomaly_mad's pointwise outliers: the statistic
    s_t = max over j≤t of Σ_{j..t}(x − μ) accumulates SUSTAINED excess
    that no single day triggers. Computed via the prefix-sum identity
    s_t = P_t − min(0, min_{j≤t} P_j) — two running windows, no fold —
    and kept in ALL-INTEGER scaled units (deviations multiplied
    through by n_days: dd = n·x − Σx), so there is no float anywhere
    and the oracle is exact by construction (the w_running_sum
    decimal lesson, taken to integers). Alert when s exceeds a
    quarter of the type's total volume in scaled units (≈ sustained
    excess of μ/4·n days) — non-vacuous at every fixture scale
    (max s / threshold: 2.8× at sf0.001, 0.63 vs 0.25 at sf0.01).
    Windows partition by event_type: bounded state, one shuffle."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    daily = ev.groupBy("event_type", day.alias("d")).agg(F.count("*").alias("x"))
    tot = daily.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("x").alias("sx")
    )
    dev = daily.join(F.broadcast(tot), "event_type").select(
        "event_type", "d", (F.col("n") * F.col("x") - F.col("sx")).alias("dd"), "sx"
    )
    w = Window.partitionBy("event_type").orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = dev.withColumn("p", F.sum("dd").over(w))
    mn = pre.withColumn("m", F.min("p").over(w))
    s = mn.select(
        "event_type",
        F.date_add(F.to_date(F.lit("1970-01-01")), F.col("d").cast("int"))
        .cast("string")
        .alias("day"),
        (F.col("p") - F.least(F.col("m"), F.lit(0))).cast("bigint").alias("s_scaled"),
        ((F.col("sx") / 4).cast("long")).alias("h"),
    )
    return (
        s.where(F.col("s_scaled") > F.col("h"))
        .select("event_type", "day", "s_scaled")
        .orderBy("event_type", "day")
    )


@register(
    "ev_rolling_distinct_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
                      user_id
      FROM events),
    days AS (SELECT DISTINCT d FROM du),
    win AS (
      SELECT days.d AS d, du.user_id
      FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d)
    SELECT CAST(DATE '1970-01-01' + CAST(d AS INTEGER) AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS users_7d
    FROM win GROUP BY d ORDER BY day
    """,
    tags=("events", "window", "rolling-distinct"),
)
def ev_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the rolling
    DISTINCT that window frames cannot express (COUNT(DISTINCT) OVER
    RANGE is unsupported in both engines, because distinct state
    doesn't slide). The scale-correct factoring: dedup to (day, user)
    pairs FIRST (one shuffle — this is the only data-sized step, and
    it shrinks the input to at most |users|·|days| rows), then EXPLODE
    each pair into the ≤7 window anchors it serves (a row-local
    sequence, no join fan-out) and keep anchors that exist in the day
    grid via a broadcast equi-semi-join — no banded nested-loop join
    anywhere. Cost is 7×|day-user pairs|, never 7×|events|; the
    exact-distinct final aggregate is keyed by day.
    At larger horizons the HLL-union rollup (dp_hll_union_rollup) is
    the approximate drop-in — same shape, mergeable sketches instead
    of exact sets."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    du = ev.select(day.alias("d"), "user_id").distinct()
    days = du.select("d").distinct()
    fanned = du.select(
        "user_id", F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("d")
    )
    win = fanned.join(F.broadcast(days), "d", "left_semi")
    return (
        win.groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("users_7d"))
        .select(
            F.date_add(F.to_date(F.lit("1970-01-01")), F.col("d").cast("int"))
            .cast("string")
            .alias("day"),
            "users_7d",
        )
        .orderBy("day")
    )


@register(
    "ev_churn_training_set",
    oracle="""
    WITH base AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d
      FROM events),
    bounds AS (SELECT MAX(d) AS cutoff FROM base),
    feats AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events_14d,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases_14d,
             CAST(MAX(d) AS BIGINT) AS last_active_day
      FROM base, bounds
      WHERE d >= cutoff - 14 AND d < cutoff
      GROUP BY user_id),
    labels AS (
      SELECT DISTINCT user_id FROM base, bounds
      WHERE d >= cutoff AND event_type = 'purchase')
    SELECT f.user_id, f.n_events_14d, f.n_purchases_14d, f.last_active_day,
           CASE WHEN l.user_id IS NULL THEN 1 ELSE 0 END AS churned
    FROM feats f LEFT JOIN labels l ON l.user_id = f.user_id
    ORDER BY f.user_id
    """,
    tags=("events", "training-set", "point-in-time"),
)
def ev_churn_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn training-set construction with POINT-IN-TIME correctness
    — the supervised-label generator a feature store must get right:
    features aggregate STRICTLY BEFORE the cutoff (a 14-day window
    ending the day before), the label ('no PURCHASE on the cutoff
    day' — ~60% positive on this fixture, a balanced target; pure
    activity-churn is vacuous here because every synthetic user is
    active daily) comes strictly AT-OR-AFTER it, and no column can leak
    across the boundary because the two relations are built from
    disjoint day filters before the join. The cutoff derives from the
    data's own max day (one broadcast scalar).

    Shape: one pass filtered into the feature aggregate (keyed by
    user), one distinct over the label window, one left join on
    user_id that reuses the feature aggregate's partitioning. Users
    with zero feature-window activity are deliberately ABSENT (you
    can't score a user you have no features for — the standard
    convention)."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    base = ev.select("user_id", "event_type", day.alias("d"))
    cutoff = base.agg(F.max("d").alias("c")).first()["c"]
    feats = (
        base.where((F.col("d") >= cutoff - 14) & (F.col("d") < cutoff))
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events_14d"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases_14d"),
            F.max("d").cast("bigint").alias("last_active_day"),
        )
    )
    labels = (
        base.where((F.col("d") >= cutoff) & (F.col("event_type") == "purchase"))
        .select("user_id")
        .distinct()
    )
    return (
        feats.join(
            labels.withColumn("__active", F.lit(1)), "user_id", "left"
        )
        .select(
            "user_id",
            "n_events_14d",
            "n_purchases_14d",
            "last_active_day",
            F.when(F.col("__active").isNull(), 1).otherwise(0).alias("churned"),
        )
        .orderBy("user_id")
    )


@register(
    "ev_abtest_lift",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5('ab-v1|' || user_id), 1, 8))
                       AS BIGINT) % 2 = 0 THEN 'control' ELSE 'treatment' END
               AS variant
      FROM (SELECT DISTINCT user_id FROM events)),
    outcomes AS (
      SELECT a.user_id, a.variant,
             MAX(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) AS converted
      FROM assigned a JOIN events e ON e.user_id = a.user_id
      WHERE epoch_us(CAST(e.ts AS TIMESTAMP)) // 86400000000
            >= (SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) - 6
                FROM events)
      GROUP BY a.user_id, a.variant),
    stats AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted,
             CAST(SUM(converted) AS DOUBLE) / COUNT(*) AS rate
      FROM outcomes GROUP BY variant)
    SELECT variant, n_users, n_converted, ROUND(rate, 6) AS conv_rate
    FROM stats ORDER BY variant
    """,
    tags=("events", "abtest", "experiment"),
)
def ev_abtest_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users are assigned to control/treatment
    by salted id hash (the assignment that survives re-runs and corpus
    growth — the dp_three_way_split discipline applied to
    experimentation), and per-variant conversion ('error' event in the
    final week — a ~60%-rate outcome on this fixture, so both cells
    are populated) is computed user-level first (MAX per user — a user
    converts once no matter how many events), then aggregated. The
    final-week filter makes the outcome window explicit, as a real
    experiment readout would. The z-statistic layer is deliberately
    NOT hashed — rates and counts are the exact, engine-agnostic
    record; significance arithmetic on two cells is driver-trivial
    and pinned in tests instead."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    last_day = ev.agg(F.max(day).alias("m")).first()["m"]
    assigned = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("ab-v1|"), F.col("user_id"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                "control",
            )
            .otherwise("treatment")
            .alias("variant"),
        )
    )
    outcomes = (
        ev.where(day >= last_day - 6)
        .join(F.broadcast(assigned), "user_id")
        .groupBy("user_id", "variant")
        .agg(
            F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "converted"
            )
        )
    )
    return (
        outcomes.groupBy("variant")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converted"),
            F.round(F.sum("converted").cast("double") / F.count("*"), 6).alias(
                "conv_rate"
            ),
        )
        .orderBy("variant")
    )


@register(
    "ev_gap_survival",
    oracle="""
    WITH base AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
      FROM events),
    gaps AS (
      SELECT ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id) AS gap_us
      FROM base),
    g AS (SELECT gap_us FROM gaps WHERE gap_us IS NOT NULL),
    grid AS (SELECT t FROM (VALUES (60000000), (300000000), (600000000),
                                   (1800000000), (3600000000)) v(t))
    SELECT CAST(t / 1000000 AS BIGINT) AS t_seconds,
           CAST((SELECT COUNT(*) FROM g WHERE gap_us > t) AS BIGINT) AS n_surviving,
           CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS n_gaps,
           ROUND(CAST((SELECT COUNT(*) FROM g WHERE gap_us > t) AS DOUBLE)
                 / (SELECT COUNT(*) FROM g), 6) AS survival
    FROM grid ORDER BY t_seconds
    """,
    tags=("events", "survival", "timeseries"),
)
def ev_gap_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical survival function of inter-event gaps, S(t) =
    P(gap > t), on a fixed five-point grid (1 m … 1 h) — the
    uncensored Kaplan-Meier curve behind session-timeout tuning: the
    10-minute sessionize gap used across this repo sits exactly where
    this curve flattens, and the query makes that choice auditable.
    One lag window sharded by user produces the gap relation; the
    grid evaluation is a conditional aggregate per threshold —
    computed as ONE pass over gaps (sum of gap>t indicators for all
    five t, no per-threshold rescan), then unpivoted against the
    broadcast 5-row grid. Integer microseconds to a single rounded
    division."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.select((F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
    )
    grid_us = [60, 300, 600, 1800, 3600]
    agg = gaps.agg(
        F.count("*").alias("n_gaps"),
        *[
            F.sum((F.col("gap_us") > t * 1_000_000).cast("int")).alias(f"s_{t}")
            for t in grid_us
        ],
    ).first()
    rows = [(t, int(agg[f"s_{t}"]), int(agg["n_gaps"])) for t in grid_us]
    # division + rounding JVM-side: Python round() banker's-rounds,
    # SQL ROUND rounds half away — the stream_ewma_stateful lesson
    return (
        spark.createDataFrame(
            rows, "t_seconds bigint, n_surviving bigint, n_gaps bigint"
        )
        .select(
            "*",
            F.round(
                F.col("n_surviving").cast("double") / F.col("n_gaps"), 6
            ).alias("survival"),
        )
        .orderBy("t_seconds")
    )


@register(
    "ev_lagged_crosscorrelation",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1),
    lags AS (SELECT l FROM (VALUES (-3),(-2),(-1),(0),(1),(2),(3)) v(l)),
    pairs AS (
      SELECT lg.l, a.x, b.y
      FROM lags lg
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + lg.l),
    mom AS (
      SELECT l, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
             SUM(x*x) AS sxx, SUM(y*y) AS syy
      FROM pairs GROUP BY l)
    SELECT CAST(l AS BIGINT) AS lag_days, n,
           ROUND((n*sxy - sx*sy) /
                 (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                  * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS corr
    FROM mom ORDER BY lag_days
    """,
    tags=("events", "timeseries", "crosscorrelation"),
)
def ev_lagged_crosscorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag analysis: Pearson cross-correlation between the daily
    click series and the daily purchase series shifted by −3…+3 days —
    the diagnostic that finds 'clicks today predict purchases in k
    days'. All five moment sums (Σx, Σy, Σxy, Σx², Σy²) stay INTEGER
    (counts), so the correlation is a closed-form expression over
    exactly-agreed integers — cross-engine float drift is impossible
    before the two sqrt/divide ops both engines execute identically.
    The lag alignment is an equi-join on (day + lag); the daily
    rollup is the only data-sized aggregate — the joined relation is
    |days| × 7 rows, model-sized at any corpus scale."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    daily = ev.groupBy(day.alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    lags = spark.createDataFrame([(l,) for l in range(-3, 4)], "l int")
    a = daily.select(F.col("d").alias("da"), "x")
    b = daily.select(F.col("d").alias("db"), "y")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("l"))
        .select("l", "x", "y")
    )
    # moments in DECIMAL(38,0): sx*sy reaches ~(total events)^2 and
    # x*x*days ~ (daily count)^2*365 — both past BIGINT well before
    # 100 TB; DuckDB's SUM(BIGINT) is already HUGEINT-exact, so a
    # silently-wrapped Spark side would diverge where the oracle stays
    # right. Operand cast BEFORE every product keeps the claim that
    # everything up to the two sqrt/divides is exact integers.
    dec = "decimal(38,0)"
    mom = pairs.groupBy("l").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    return mom.select(
        F.col("l").cast("bigint").alias("lag_days"),
        "n",
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (
                F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"))
                * F.sqrt((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double"))
            ),
            6,
        ).alias("corr"),
    ).orderBy("lag_days")


@register(
    "ev_seasonality_dow",
    oracle="""
    WITH daily0 AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS ed,
               COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    daily AS (
        SELECT ed, SUM(n) AS n FROM (
            SELECT ed, n FROM daily0
            UNION ALL SELECT CAST(19750 AS BIGINT), CAST(240 AS BIGINT)
        ) GROUP BY ed
    ),
    agg AS (
        SELECT CAST(((ed + 3) % 7) + 1 AS INT) AS isodow,
               SUM(n) AS n_events, COUNT(*) AS n_days
        FROM daily GROUP BY 1
    ),
    tot AS (
        SELECT SUM(n_events) AS tot_events, SUM(n_days) AS tot_days FROM agg
    )
    SELECT isodow,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_days AS BIGINT) AS n_days,
           ROUND((CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE))
                 / (CAST(tot_events AS DOUBLE) / CAST(tot_days AS DOUBLE)),
                 6) AS seasonal_index
    FROM agg, tot ORDER BY isodow
    """,
    tags=("events", "seasonality", "dow"),
)
def ev_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week multiplicative seasonal index of event volume —
    mean daily events per ISO weekday relative to the overall mean
    daily volume, the decomposition behind capacity planning and
    anomaly baselines ('is Tuesday traffic LOW, or is every Tuesday
    like this?'). Weekday comes from pure integer epoch-day
    arithmetic (((ed + 3) % 7) + 1, Monday=1), never from a session-
    timezone-dependent date function.

    Vacuity: the synthetic fixture is deliberately flat across
    weekdays (indexes 0.95-1.03 at sf0.01 — Poisson noise only), so a
    240-event burst day is planted at the DAILY-COUNT level in both
    engines on epoch day 19750 (a Sunday, 2024-01-28): the Sunday
    index measurably rises above the rest at every fixture scale, and
    the re-aggregation after the union also covers the planted-day-
    already-exists collision at sf0.1.

    Scale shape: the heavy input collapses to one row per DAY in the
    first partial-aggregated groupBy; everything after operates on
    calendar-sized relations, and the one-row totals crossJoin is a
    broadcast scalar."""
    ev = load_table(spark, sf_dir, "events")
    daily0 = (
        ev.select(F.expr("ts_us DIV 86400000000").cast("bigint").alias("ed"))
        .groupBy("ed")
        .agg(F.count("*").alias("n"))
    )
    planted = spark.createDataFrame([(19750, 240)], "ed bigint, n bigint")
    daily = (
        daily0.unionByName(planted).groupBy("ed").agg(F.sum("n").alias("n"))
    )
    agg = (
        daily.select(
            F.expr("CAST(((ed + 3) % 7) + 1 AS INT)").alias("isodow"), "n"
        )
        .groupBy("isodow")
        .agg(F.sum("n").alias("n_events"), F.count("*").alias("n_days"))
    )
    tot = agg.agg(
        F.sum("n_events").alias("tot_events"), F.sum("n_days").alias("tot_days")
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "isodow",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.expr(
                "ROUND((CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE))"
                " / (CAST(tot_events AS DOUBLE) / CAST(tot_days AS DOUBLE)),"
                " 6)"
            ).alias("seasonal_index"),
        )
        .orderBy("isodow")
    )


_DISP_EXPRS = {
    "mean_count": "CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)",
    # NULLIF guards (identical text both engines): a single-unit group
    # has undefined sample variance (n-1 = 0) and a zero-count group an
    # undefined ratio — NULL in both engines instead of an ANSI raise
    "var_count": (
        "(CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / NULLIF(CAST(n - 1 AS DOUBLE), 0.0)"
    ),
}
_DISP_RATIO = (
    f"({_DISP_EXPRS['var_count']})"
    f" / NULLIF(({_DISP_EXPRS['mean_count']}), 0.0)"
)

@register(
    "ev_overdispersion_check",
    oracle=f"""
    WITH units0 AS (
        SELECT event_type, user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    units AS (
        SELECT event_type, c FROM units0
        UNION ALL SELECT 'click', CAST(500 AS BIGINT)
    ),
    moments AS (
        SELECT event_type, COUNT(*) AS n, SUM(c) AS s1, SUM(c * c) AS s2
        FROM units GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_units,
           ROUND({_DISP_EXPRS['mean_count']}, 6) AS mean_count,
           ROUND({_DISP_RATIO}, 6) AS dispersion_ratio,
           {_DISP_RATIO} > 1.5 AS overdispersed
    FROM moments ORDER BY event_type
    """,
    tags=("events", "stats", "overdispersion"),
)
def ev_overdispersion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson overdispersion check (variance-to-mean dispersion index)
    of per-user-day event counts by event type — the count-data sanity
    test behind choosing Poisson vs negative-binomial models and
    behind burst/bot detection: a Poisson process has ratio ~1, bursty
    traffic >> 1. Units are ACTIVE user-days (zero-count cells are not
    imputed — stated semantics, and conditioning on activity makes the
    fixture UNDER-dispersed: ratios ~0.2, measured). One bursty unit
    (c = 500) is planted into the click type at the unit-count level
    in both engines: click's ratio explodes above the 1.5 flag line
    while every other type stays un-flagged — that contrast is the
    non-vacuous assertion.

    Scale shape: the corpus collapses to (type, user, day) counts in
    one partial-aggregated groupBy, then to integer moments (n, sum,
    sum of squares) per type — a second tiny aggregate. All moment
    arithmetic is exact integers; mean/variance/ratio are one shared
    float expression template on both sides (bit-exact before the
    defensive round)."""
    ev = load_table(spark, sf_dir, "events")
    units0 = (
        ev.select(
            "event_type",
            "user_id",
            F.expr("ts_us DIV 86400000000").cast("bigint").alias("day"),
        )
        .groupBy("event_type", "user_id", "day")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select("event_type", "c")
    )
    planted = spark.createDataFrame(
        [("click", 500)], "event_type string, c bigint"
    )
    moments = (
        units0.unionByName(planted)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s1"),
            # operand cast: c is a per-(type,user,day) count — bot
            # traffic makes c^2 ~ 1e12/unit, wrapping the BIGINT sum
            # at ~1e7 units while DuckDB's HUGEINT SUM stays exact
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("s2"),
        )
    )
    return moments.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_units"),
        F.expr(f"ROUND({_DISP_EXPRS['mean_count']}, 6)").alias("mean_count"),
        F.expr(f"ROUND({_DISP_RATIO}, 6)").alias("dispersion_ratio"),
        F.expr(f"{_DISP_RATIO} > 1.5").alias("overdispersed"),
    ).orderBy("event_type")


# hysteresis step: next_state from (state=acc_s, hi, lo); pure integers.
def _hyst_next(acc_s: str, hi: str, lo: str) -> str:
    return (
        f"CASE WHEN {acc_s} = 1"
        f" THEN CASE WHEN {lo} = 1 THEN 0 ELSE 1 END"
        f" ELSE CASE WHEN {hi} = 1 THEN 1 ELSE 0 END END"
    )

_HYST_DUCK = _hyst_next("acc[1]", "x[1]", "x[2]")
_HYST_SPARK = _hyst_next("acc[0]", "x[0]", "x[1]")

@register(
    "ev_burst_hysteresis",
    oracle=f"""
    WITH hourly0 AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    hourly AS (
        SELECT event_type, hr, SUM(c) AS c FROM (
            SELECT event_type, hr, c FROM hourly0
            UNION ALL
            SELECT 'error', CAST(473500 + r AS BIGINT), CAST(200 AS BIGINT)
            FROM range(6) t(r)
        ) GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM hourly),
    types AS (SELECT DISTINCT event_type FROM hourly),
    grid AS (
        SELECT event_type,
               UNNEST(generate_series((SELECT mn FROM bounds),
                                      (SELECT mx FROM bounds))) AS hr
        FROM types
    ),
    filled AS (
        SELECT g.event_type, g.hr, COALESCE(h.c, 0) AS c
        FROM grid g LEFT JOIN hourly h
          ON g.event_type = h.event_type AND g.hr = h.hr
    ),
    tot AS (
        SELECT event_type, SUM(c) AS total_t, COUNT(*) AS n_hours
        FROM filled GROUP BY 1
    ),
    flags AS (
        SELECT f.event_type, f.hr,
               [CAST(f.c * t.n_hours > 6 * t.total_t AS INT),
                CAST(2 * f.c * t.n_hours < t.total_t AS INT),
                0] AS fl
        FROM filled f JOIN tot t USING (event_type)
    ),
    folded AS (
        SELECT event_type, list(fl ORDER BY hr) AS l
        FROM flags GROUP BY event_type
    ),
    res AS (
        SELECT event_type,
               list_reduce(
                   list_prepend([l[1][1], l[1][1], l[1][1], l[1][1], l[1][1]],
                                l[2:]),
                   (acc, x) -> [
                       {_HYST_DUCK},
                       acc[2] + ({_HYST_DUCK}),
                       acc[3] + CASE WHEN ({_HYST_DUCK}) <> acc[1]
                                THEN 1 ELSE 0 END,
                       CASE WHEN ({_HYST_DUCK}) = 1
                            THEN CASE WHEN acc[1] = 1 THEN acc[4] + 1
                                 ELSE 1 END
                            ELSE 0 END,
                       GREATEST(acc[5],
                           CASE WHEN ({_HYST_DUCK}) = 1
                                THEN CASE WHEN acc[1] = 1 THEN acc[4] + 1
                                     ELSE 1 END
                                ELSE 0 END)
                   ]) AS r
        FROM folded
    )
    SELECT t.event_type,
           CAST(t.n_hours AS BIGINT) AS n_hours,
           CAST(t.total_t AS BIGINT) AS total_events,
           CAST(r.r[2] AS BIGINT) AS burst_hours,
           CAST(r.r[3] AS BIGINT) AS n_transitions,
           CAST(r.r[5] AS BIGINT) AS max_burst_run,
           CAST(r.r[1] AS INT) AS final_state
    FROM tot t JOIN res r USING (event_type)
    ORDER BY t.event_type
    """,
    tags=("events", "burst", "fold", "stateful"),
)
def ev_burst_hysteresis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-threshold hysteresis burst detector over hourly event rates
    — the alerting state machine (ON above 6x the mean rate, OFF
    below half of it; the gap prevents flapping) run per event type as
    an inherently-sequential recursion that window frames can't
    express: an in-row higher-order aggregate fold, the ev_ewma_value
    technique with an INTEGER accumulator ([state, burst_hours,
    transitions] as a LIST — DuckDB's struct accumulator clobber trap
    makes structs unusable here). Threshold decisions are integer
    cross-multiplications (c * n_hours > 6 * total), so the whole fold
    is exact integer arithmetic in both engines — no float parity
    surface at all.

    The hourly grid is ZERO-FILLED per type over the global [min, max]
    hour span (quiet hours must be able to turn the state OFF), which
    bounds the per-type fold list by the CALENDAR (720 hours), not the
    corpus. A 6-hour 200-events/hour burst is planted into the error
    type at the hourly-count level in both engines. Sparse small-scale
    grids produce discrete-noise micro-bursts (a 2-event hour is >6x
    a 0.28 mean), so the ALERTING claim rides max_burst_run — noise
    runs die at the next quiet hour while the planted run sustains 6
    consecutive hours, strictly the longest at every scale (measured).

    Scale shape: the corpus collapses to per-(type, hour) counts in
    one partial-aggregated groupBy; everything downstream is
    calendar-sized. The min/max bounds are a one-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    hourly0 = (
        ev.select(
            "event_type",
            F.expr("ts_us DIV 3600000000").cast("bigint").alias("hr"),
        )
        .groupBy("event_type", "hr")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    planted = spark.range(6).select(
        F.lit("error").alias("event_type"),
        (F.lit(473500) + F.col("id")).cast("bigint").alias("hr"),
        F.lit(200).cast("bigint").alias("c"),
    )
    hourly = (
        hourly0.unionByName(planted)
        .groupBy("event_type", "hr")
        .agg(F.sum("c").alias("c"))
    )
    bounds = hourly.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
    types = hourly.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.expr("sequence(mn, mx)")).alias("hr"),
        )
    )
    filled = grid.join(hourly, ["event_type", "hr"], "left").select(
        "event_type", "hr", F.coalesce(F.col("c"), F.lit(0)).alias("c")
    )
    tot = filled.groupBy("event_type").agg(
        F.sum("c").alias("total_t"), F.count("*").alias("n_hours")
    )
    flags = filled.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hr",
        F.expr(
            "array(CAST(c * n_hours > 6 * total_t AS INT),"
            " CAST(2 * c * n_hours < total_t AS INT), 0)"
        ).alias("fl"),
    )
    folded = flags.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(hr, fl))), s -> s.fl)"
        ).alias("l")
    )
    res = folded.select(
        "event_type",
        F.expr(
            f"aggregate(slice(l, 2, size(l) - 1),"
            f" array(l[0][0], l[0][0], l[0][0], l[0][0], l[0][0]),"
            f" (acc, x) -> array("
            f" {_HYST_SPARK},"
            f" acc[1] + ({_HYST_SPARK}),"
            f" acc[2] + CASE WHEN ({_HYST_SPARK}) <> acc[0]"
            f" THEN 1 ELSE 0 END,"
            f" CASE WHEN ({_HYST_SPARK}) = 1"
            f" THEN CASE WHEN acc[0] = 1 THEN acc[3] + 1 ELSE 1 END"
            f" ELSE 0 END,"
            f" GREATEST(acc[4],"
            f" CASE WHEN ({_HYST_SPARK}) = 1"
            f" THEN CASE WHEN acc[0] = 1 THEN acc[3] + 1 ELSE 1 END"
            f" ELSE 0 END)))"
        ).alias("r"),
    )
    return (
        tot.join(res, "event_type")
        .select(
            "event_type",
            F.col("n_hours").cast("bigint").alias("n_hours"),
            F.col("total_t").cast("bigint").alias("total_events"),
            F.expr("CAST(r[1] AS BIGINT)").alias("burst_hours"),
            F.expr("CAST(r[2] AS BIGINT)").alias("n_transitions"),
            F.expr("CAST(r[4] AS BIGINT)").alias("max_burst_run"),
            F.expr("CAST(r[0] AS INT)").alias("final_state"),
        )
        .orderBy("event_type")
    )


@register(
    "ev_watermark_tuning",
    oracle="""
    WITH arr AS (
        SELECT event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 600000000 AS delay_us
        FROM events
    ),
    lateness AS (
        SELECT event_id, delay_us // 60000000 AS late_min FROM arr
    ),
    grid AS (
        SELECT UNNEST([0, 1, 2, 5, 8, 10]) AS wm_min
    )
    SELECT g.wm_min,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN l.late_min > g.wm_min THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           ROUND(CAST(SUM(CASE WHEN l.late_min > g.wm_min THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS drop_rate
    FROM lateness l CROSS JOIN grid g
    GROUP BY g.wm_min ORDER BY g.wm_min
    """,
    tags=("events", "streaming", "watermark", "tuning"),
)
def ev_watermark_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning report — the batch-side what-if analysis a
    streaming team runs BEFORE picking withWatermark(): for each
    candidate watermark delay, what fraction of events would arrive
    too late and be dropped from stateful aggregation? Arrival times
    are synthesized deterministically (the shared md5 hex-int
    primitive mapped to a 0-10-minute transit delay, identical in
    both engines — the fixture has no arrival-time column), lateness
    buckets to whole minutes, and the six-point watermark grid fans
    over the per-event lateness via a deliberate tiny-grid crossJoin.

    The curve is non-degenerate by construction: the uniform 0-10 min
    delay makes drop_rate fall from ~0.9 at wm=0 through ~0.5 at 5
    to ~0 at 10 (measured at every scale) — exactly the
    state-size-vs-completeness trade-off curve the operator reads off
    before committing a delay. At 100 TB the heavy side collapses to
    per-event row-local arithmetic and one partial-aggregated
    6-group aggregate; only the literal grid replicates."""
    ev = load_table(spark, sf_dir, "events")
    lateness = ev.select(
        "event_id",
        F.expr(
            "(CAST(conv(substring(md5(CAST(event_id AS STRING)), 1, 8),"
            " 16, 10) AS BIGINT) % 600000000) div 60000000"
        ).alias("late_min"),
    )
    grid = spark.createDataFrame(
        [(w,) for w in (0, 1, 2, 5, 8, 10)], "wm_min bigint"
    )
    return (
        lateness.crossJoin(F.broadcast(grid))
        .groupBy("wm_min")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.expr("CASE WHEN late_min > wm_min THEN 1 ELSE 0 END")
            ).cast("bigint").alias("n_dropped"),
            F.expr(
                "ROUND(CAST(SUM(CASE WHEN late_min > wm_min THEN 1 ELSE 0 END)"
                " AS DOUBLE) / COUNT(*), 6)"
            ).alias("drop_rate"),
        )
        .orderBy("wm_min")
    )

def _mm_cte(a: str, out: str) -> str:
    """One fixed-point integer matrix SQUARING as SQL CTE text:
    integer multiply-sum (order-independent exact), then floor-divide
    each row back to 1e6 fixed point."""
    return f"""
    {out}_raw AS (
        SELECT a.i AS i, b.j AS j, SUM(a.v * b.v) AS v
        FROM {a} a JOIN {a} b ON a.j = b.i GROUP BY a.i, b.j
    ),
    {out} AS (
        SELECT i, j, (v * 1000000) // SUM(v) OVER (PARTITION BY i) AS v
        FROM {out}_raw
    )"""

@register(
    "ev_markov_stationary",
    oracle=f"""
    WITH base AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    seq AS (
        SELECT event_type AS to_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS from_type
        FROM base),
    counts AS (
        SELECT from_type AS i, to_type AS j, SUM(n) AS n FROM (
            SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
            FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2
            UNION ALL SELECT 'view', 'view', CAST(500 AS BIGINT)
        ) GROUP BY 1, 2),
    m0 AS (
        SELECT i, j, (n * 1000000) // SUM(n) OVER (PARTITION BY i) AS v
        FROM counts),
    {_mm_cte('m0', 'm1')},
    {_mm_cte('m1', 'm2')},
    {_mm_cte('m2', 'm3')},
    {_mm_cte('m3', 'm4')},
    {_mm_cte('m4', 'm5')}
    SELECT j AS state,
           ROUND(CAST(MAX(CASE WHEN i = 'click' THEN v END) AS DOUBLE)
                 / 1000000.0, 6) AS stationary_prob,
           CAST(MAX(v) - MIN(v) AS BIGINT) AS convergence_spread
    FROM m5 GROUP BY j ORDER BY j
    """,
    tags=("events", "markov", "stationary", "linear-algebra"),
)
def ev_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain —
    where ev_markov_transitions' one-step matrix settles long-run —
    computed DECLARATIVELY by five matrix squarings (P^32) with the
    transition matrix held in 1e6 FIXED-POINT INTEGERS: the
    multiply-sum is an exact order-independent integer aggregate and
    each squaring floor-renormalizes rows, so the whole iteration has
    zero float-accumulation parity surface (the only float is the
    final /1e6 render). convergence_spread reports max-min of each
    column across start states in fixed-point units — at P^32 it
    collapses to a few millionths even at sf0.001, where the planted
    self-loop makes the chain slowest-mixing (P^16 still read 122
    ppm there — measured; the fifth squaring is what buys the
    certificate), so convergence is verified rather than read off one
    row hopefully.

    The fixture's types are near-uniform (stationary ~0.2 each), so a
    +500 self-loop bias is planted on ('view','view') at the count
    level in both engines: view's stationary probability visibly
    exceeds the others at every scale.

    Scale shape: the corpus collapses to the 5x5 transition counts in
    one per-user LAG pass + aggregate; every squaring is a join over
    a 25-row relation. The per-user windows bound state; nothing
    downstream depends on corpus size."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    )
    counts = (
        seq.where(F.col("from_type").isNotNull())
        .groupBy(
            F.col("from_type").alias("i"), F.col("to_type").alias("j")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .unionByName(
            spark.createDataFrame(
                [("view", "view", 500)], "i string, j string, n bigint"
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("n").alias("n"))
    )
    wrow = Window.partitionBy("i")

    def rownorm(df):
        return (
            df.withColumn("__rs", F.sum("v").over(wrow))
            .select("i", "j", F.expr("(v * 1000000) div __rs").alias("v"))
        )

    def square(df):
        a = df.select("i", F.col("j").alias("k"), F.col("v").alias("va"))
        b = df.select(
            F.col("i").alias("k"), "j", F.col("v").alias("vb")
        )
        return (
            a.join(b, "k")
            .groupBy("i", "j")
            .agg(F.sum(F.expr("va * vb")).alias("v"))
        )

    m = rownorm(counts.select("i", "j", F.col("n").alias("v")))
    for _ in range(5):
        m = rownorm(square(m))
    return (
        m.groupBy(F.col("j").alias("state"))
        .agg(
            F.expr(
                "ROUND(CAST(MAX(CASE WHEN i = 'click' THEN v END) AS DOUBLE)"
                " / 1000000.0, 6)"
            ).alias("stationary_prob"),
            F.expr("CAST(MAX(v) - MIN(v) AS BIGINT)").alias(
                "convergence_spread"
            ),
        )
        .orderBy("state")
    )


_POWER_VAR = (
    "((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
    " / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) / 10000.0"
)

@register(
    "ev_power_analysis",
    oracle=f"""
    WITH moments AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(round(value * 100) AS BIGINT)) AS s1,
               SUM(CAST(round(value * 100) AS BIGINT)
                   * CAST(round(value * 100) AS BIGINT)) AS s2
        FROM events WHERE event_type = 'purchase'
    ),
    -- CAST AS DOUBLE: a bare decimal list types delta as DECIMAL(3,1)
    -- in DuckDB (env-fragile canonicalization; the Spark grid is
    -- DOUBLE) — all values are exact halves, so value-preserving.
    grid AS (SELECT CAST(UNNEST([0.5, 1.0, 2.0, 5.0, 10.0]) AS DOUBLE) AS delta)
    SELECT g.delta,
           CAST(m.n AS BIGINT) AS n_observed,
           ROUND({_POWER_VAR}, 6) AS metric_var,
           CAST(CEIL(2.0 * POWER(1.96 + 0.8416, 2) * ({_POWER_VAR})
                     / (g.delta * g.delta)) AS BIGINT) AS n_per_arm
    FROM moments m CROSS JOIN grid g
    ORDER BY g.delta
    """,
    tags=("events", "experiment", "power-analysis"),
)
def ev_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test sample-size planning (alpha=0.05 two-sided, power=0.8)
    for the purchase-value metric: n per arm = ceil(2 (z_a+z_b)^2
    sigma^2 / delta^2) across a grid of minimum detectable effects —
    the pre-experiment calculation ev_abtest_lift's READOUT assumes
    was done. Variance comes from exact integer-cents moments (n,
    sum, sum of squares — one partial-aggregated pass), so both
    engines reach the float formula with identical exact integers;
    the z constants are literals and the grid fan-out is a one-row
    broadcast crossJoin.

    Vacuity: n_per_arm spans ~4 orders of magnitude across the delta
    grid (inverse-square law, measured: ~100k at delta=0.5 down to
    ~260 at 10), all strictly positive and strictly decreasing —
    the planner genuinely discriminates effect sizes."""
    ev = load_table(spark, sf_dir, "events")
    moments = ev.where(F.col("event_type") == "purchase").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("s1"),
        F.sum(
            F.expr(
                "CAST(round(value * 100) AS BIGINT)"
                " * CAST(round(value * 100) AS BIGINT)"
            )
        ).alias("s2"),
    )
    grid = spark.createDataFrame(
        [(d,) for d in (0.5, 1.0, 2.0, 5.0, 10.0)], "delta double"
    )
    return (
        moments.crossJoin(F.broadcast(grid))
        .select(
            "delta",
            F.col("n").cast("bigint").alias("n_observed"),
            F.expr(f"ROUND({_POWER_VAR}, 6)").alias("metric_var"),
            F.expr(
                f"CAST(CEIL(2.0 * POWER(1.96 + 0.8416, 2) * ({_POWER_VAR})"
                f" / (delta * delta)) AS BIGINT)"
            ).alias("n_per_arm"),
        )
        .orderBy("delta")
    )


@register(
    "ev_session_paths",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        FROM events),
    stepped AS (
        SELECT user_id, day, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, day
                                  ORDER BY ts_us, event_id) AS step
        FROM base),
    paths AS (
        SELECT user_id, day,
               array_to_string(list(event_type ORDER BY step), '>') AS path
        FROM stepped WHERE step <= 3
        GROUP BY user_id, day),
    counted AS (
        SELECT path, CAST(len(string_split(path, '>')) AS INT) AS path_len,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM paths GROUP BY path),
    ranked AS (
        SELECT path_len, path, n_days,
               CAST(ROW_NUMBER() OVER (PARTITION BY path_len
                                       ORDER BY n_days DESC, path)
                    AS INTEGER) AS rk
        FROM counted)
    SELECT path_len, path, n_days, rk
    FROM ranked WHERE rk <= 3
    ORDER BY path_len, rk
    """,
    tags=("events", "sequence", "path-mining"),
)
def ev_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 daily opening paths — each user-day\'s first three event
    types joined \'a>b>c\', ranked by frequency: the entry-path mining
    report behind onboarding funnels and bot fingerprinting,
    complementing ev_markov_transitions (pairs) with ordered
    higher-order prefixes. The unit is the user-DAY (~3.3 events at
    sf0.01) rather than the 10-minute session, whose fixture
    realizations are almost all single-event — with day units, full
    3-step paths genuinely dominate the top-10 while sparse days
    still surface honest 1- and 2-step paths (no padding; measured).

    Scale shape: stepping is a per-(user, day) window (bounded
    state), the path string aggregates over <= 3 rows per unit,
    counting is a partial-aggregated groupBy on the path key, and the
    final top-10 is a distributed orderBy+limit with row_number
    touching only the 10 survivors."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts_us",
        F.expr("ts_us DIV 86400000000").cast("bigint").alias("day"),
    )
    w_step = Window.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
    stepped = base.withColumn("step", F.row_number().over(w_step)).where(
        F.col("step") <= 3
    )
    paths = stepped.groupBy("user_id", "day").agg(
        F.concat_ws(
            ">",
            F.expr(
                "transform(array_sort(collect_list(struct(step, event_type))),"
                " s -> s.event_type)"
            ),
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(
        F.count("*").cast("bigint").alias("n_days")
    ).withColumn(
        "path_len", F.expr("CAST(size(split(path, '>')) AS INT)")
    )
    w_rk = Window.partitionBy("path_len").orderBy(F.desc("n_days"), "path")
    return (
        counted.withColumn("rk", F.row_number().over(w_rk).cast("int"))
        .where(F.col("rk") <= 3)
        .select("path_len", "path", "n_days", "rk")
        .orderBy("path_len", "rk")
    )


@register(
    "ev_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY 1
    ),
    preds AS (
        SELECT d, n,
               LAG(n, 1) OVER (ORDER BY d) AS naive,
               LAG(n, 7) OVER (ORDER BY d) AS snaive
        FROM daily
    ),
    scored AS (
        SELECT n, naive, snaive,
               ABS(n - naive) AS e_naive, ABS(n - snaive) AS e_snaive
        FROM preds WHERE naive IS NOT NULL AND snaive IS NOT NULL
    )
    SELECT method, n_days, sum_abs_err,
           ROUND(CAST(sum_abs_err AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
               AS mae,
           CAST(n_wins AS BIGINT) AS n_wins
    FROM (
        SELECT 'naive_lag1' AS method,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(e_naive) AS BIGINT) AS sum_abs_err,
               SUM(CASE WHEN e_naive < e_snaive THEN 1 ELSE 0 END) AS n_wins
        FROM scored
        UNION ALL
        SELECT 'seasonal_lag7',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(e_snaive) AS BIGINT),
               SUM(CASE WHEN e_snaive < e_naive THEN 1 ELSE 0 END)
        FROM scored
    ) ORDER BY method
    """,
    tags=("events", "forecast", "backtest"),
)
def ev_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting — the evaluation loop that justifies any
    forecasting model: walk the daily event-volume series and score
    the two standard baselines every real model must beat (naive =
    yesterday's value; seasonal naive = the value one week earlier)
    by mean absolute error and head-to-head wins on the common
    scorable days. Measured outcome: seasonal-lag7 WINS (MAE 13.0 vs
    17.3, 18/23 head-to-head at sf0.01) — the fixture's mild
    day-of-week structure (ev_seasonality_dow's ±4% indexes) is
    enough that same-weekday comparisons cancel it while lag-1 pays
    it as error, which is exactly the insight a backtest exists to
    surface; a real model would slot in as a third method against
    the same harness.

    Exactness: the series collapses to one integer count per day;
    errors and win counts are integer sums; MAE is one final
    division. The LAG windows run over the DAY GRID (calendar-
    bounded), not over events."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    daily = (
        ev.select(F.expr("ts_us DIV 86400000000").cast("bigint").alias("d"))
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    w = Window.orderBy("d")
    preds = daily.select(
        "n",
        F.lag("n", 1).over(w).alias("naive"),
        F.lag("n", 7).over(w).alias("snaive"),
    ).where(F.col("naive").isNotNull() & F.col("snaive").isNotNull())
    scored = preds.select(
        "n",
        F.expr("ABS(n - naive)").alias("e_naive"),
        F.expr("ABS(n - snaive)").alias("e_snaive"),
    )
    out = []
    for method, err, other in (
        ("naive_lag1", "e_naive", "e_snaive"),
        ("seasonal_lag7", "e_snaive", "e_naive"),
    ):
        out.append(
            scored.agg(
                F.lit(method).alias("method"),
                F.count("*").cast("bigint").alias("n_days"),
                F.sum(err).cast("bigint").alias("sum_abs_err"),
                F.expr(
                    f"ROUND(CAST(SUM({err}) AS DOUBLE)"
                    f" / CAST(COUNT(*) AS DOUBLE), 6)"
                ).alias("mae"),
                F.sum(
                    F.expr(f"CASE WHEN {err} < {other} THEN 1 ELSE 0 END")
                ).cast("bigint").alias("n_wins"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("method")


@register(
    "ev_did_estimator",
    oracle="""
    WITH base AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             value
      FROM events WHERE event_type = 'purchase'),
    bounds AS (SELECT MIN(day) AS d0 FROM base),
    cells AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5('did-v1|' || user_id), 1, 8))
                        AS BIGINT) % 2 = 1
                  THEN 'treatment' ELSE 'control' END AS grp,
             CASE WHEN day >= (SELECT d0 FROM bounds) + 15
                  THEN 'post' ELSE 'pre' END AS period,
             CAST(floor(value
               * (CASE WHEN CAST(('0x' || substr(md5('did-v1|' || user_id),
                                 1, 8)) AS BIGINT) % 2 = 1
                        AND day >= (SELECT d0 FROM bounds) + 15
                       THEN CAST(1.25 AS DOUBLE)
                       ELSE CAST(1.0 AS DOUBLE) END)
               * 100.0 + 0.5) AS BIGINT) AS cents
      FROM base),
    agg AS (
      SELECT grp, period, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sum_cents
      FROM cells GROUP BY grp, period),
    anchors AS (
      SELECT ROUND(
               (MAX(CASE WHEN grp='treatment' AND period='post'
                    THEN CAST(sum_cents AS DOUBLE)/(100.0*n) END)
                - MAX(CASE WHEN grp='treatment' AND period='pre'
                      THEN CAST(sum_cents AS DOUBLE)/(100.0*n) END))
               - (MAX(CASE WHEN grp='control' AND period='post'
                      THEN CAST(sum_cents AS DOUBLE)/(100.0*n) END)
                  - MAX(CASE WHEN grp='control' AND period='pre'
                        THEN CAST(sum_cents AS DOUBLE)/(100.0*n) END)), 6)
               AS did_r,
             ROUND(MAX(CASE WHEN grp='treatment' AND period='pre'
                       THEN CAST(sum_cents AS DOUBLE)/(100.0*n) END)
                   - MAX(CASE WHEN grp='control' AND period='pre'
                         THEN CAST(sum_cents AS DOUBLE)/(100.0*n) END), 6)
               AS placebo_pre_gap_r
      FROM agg)
    SELECT a.grp, a.period, a.n,
           ROUND(CAST(a.sum_cents AS DOUBLE)/(100.0*a.n), 6) AS mean_outcome_r,
           x.did_r, x.placebo_pre_gap_r
    FROM agg a CROSS JOIN anchors x
    ORDER BY a.grp, a.period
    """,
    tags=("events", "causal", "did", "experiment"),
)
def ev_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator over purchase values with a
    PLANTED proportional treatment effect: users hash 50/50 into
    treatment/control ('did-v1' salt, the stable-assignment
    discipline), the event window splits pre/post at first-day + 15,
    and treated-post outcomes are lifted by an exact x1.25 inside the
    query on BOTH engines — planted proportionally, so the signal
    survives every fixture scale (the KS-drift lesson; recovered DiD
    ~ 13-20 on a ~50 base vs the ~12.5 expectation, while the
    placebo pre-period gap stays near 0).  Outcomes quantize to exact
    integer cents (floor(x*100+0.5)) before summing, so cell means and
    the 2x2 DiD contrast derive from integer sums — immune to float
    accumulation order; the four cell means and both anchors round to
    6 identically in each engine.  Scale shape: one row-local
    projection (hash, period, plant), one 4-cell aggregate, one-row
    anchors fanned back over the cells."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    base = ev.where(F.col("event_type") == "purchase").select(
        "user_id", day.alias("day"), "value"
    )
    d0 = base.agg(F.min("day").alias("d0")).first()["d0"]
    treated = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("did-v1|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
        == 1
    )
    is_post = F.col("day") >= F.lit(d0) + 15
    mult = F.when(treated & is_post, F.lit(1.25)).otherwise(F.lit(1.0))
    cells = base.select(
        F.when(treated, "treatment").otherwise("control").alias("grp"),
        F.when(is_post, "post").otherwise("pre").alias("period"),
        F.floor(F.col("value") * mult * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("cents"),
    )
    agg = cells.groupBy("grp", "period").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )

    def cell_mean(g: str, p: str):
        return F.max(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.col("sum_cents").cast("double") / (F.lit(100.0) * F.col("n")),
            )
        )

    anchors = agg.agg(
        F.round(
            (cell_mean("treatment", "post") - cell_mean("treatment", "pre"))
            - (cell_mean("control", "post") - cell_mean("control", "pre")),
            6,
        ).alias("did_r"),
        F.round(
            cell_mean("treatment", "pre") - cell_mean("control", "pre"), 6
        ).alias("placebo_pre_gap_r"),
    )
    return (
        agg.crossJoin(F.broadcast(anchors))
        .select(
            "grp",
            "period",
            "n",
            F.round(
                F.col("sum_cents").cast("double") / (F.lit(100.0) * F.col("n")), 6
            ).alias("mean_outcome_r"),
            "did_r",
            "placebo_pre_gap_r",
        )
        .orderBy("grp", "period")
    )


@register(
    "ev_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    tr AS (
      SELECT day, cents, (day + 4) % 7 AS dow,
             CASE WHEN COUNT(*) OVER w7 = 7
                  THEN CAST(SUM(cents) OVER w7 AS DOUBLE) / 7.0 END AS trend
      FROM daily
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    dtr AS (
      SELECT *, CAST(floor((CAST(cents AS DOUBLE) - trend) * 1000.0 + 0.5)
                     AS BIGINT) AS detr_q
      FROM tr WHERE trend IS NOT NULL),
    seas AS (
      SELECT dow, CAST(SUM(detr_q) AS DOUBLE) / (1000.0 * COUNT(*)) AS seasonal
      FROM dtr GROUP BY dow),
    full_rows AS (
      SELECT d.day, d.dow, d.cents, d.trend, s.seasonal,
             (CAST(d.cents AS DOUBLE) - d.trend) - s.seasonal AS resid,
             d.detr_q,
             CAST(floor(((CAST(d.cents AS DOUBLE) - d.trend) - s.seasonal)
                        * 1000.0 + 0.5) AS BIGINT) AS resid_q
      FROM dtr d JOIN seas s ON s.dow = d.dow),
    anchors AS (
      SELECT ROUND(1.0 - CAST(SUM(ABS(resid_q)) AS DOUBLE)
                   / CAST(SUM(ABS(detr_q)) AS DOUBLE), 6) AS abs_reduction_r,
             ROUND(MAX(seasonal) - MIN(seasonal), 6) AS seasonal_amplitude_r
      FROM full_rows)
    SELECT CAST(f.day AS BIGINT) AS day, CAST(f.dow AS BIGINT) AS dow,
           f.cents,
           ROUND(f.trend, 6) AS trend_r,
           ROUND(f.seasonal, 6) AS seasonal_r,
           ROUND(f.resid, 6) AS resid_r,
           a.abs_reduction_r, a.seasonal_amplitude_r
    FROM full_rows f CROSS JOIN anchors a
    ORDER BY f.day
    """,
    tags=("events", "timeseries", "decomposition"),
)
def ev_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily purchase
    series: trend = centered 7-day moving average (NULL until the
    frame is full — the standard endpoint rule), seasonal = day-of-week
    mean of the detrended series, residual = the rest.  Day-of-week is
    timezone-proof integer arithmetic ((epoch_day + 4) % 7), daily
    totals quantize to exact integer cents before summing, and the
    detrended/residual values are re-quantized to milli-cents before
    the cross-day sums, so the seasonal means and the
    |residual|-reduction anchor ride INTEGER arithmetic — no float
    accumulation order anywhere a sum crosses rows.  The anchors pin
    the decomposition DOING something: abs_reduction_r is the share of
    detrended mass the DOW component explains (positive on this
    fixture — the generator has real weekday structure, the same
    signal ev_seasonality_dow pins), and seasonal_amplitude_r is the
    peak-to-trough weekly swing.  Scale shape: one daily aggregate
    (the only data-sized shuffle), one ordered window over the
    DAY-count-sized series, a 7-row broadcast join, one-row anchors
    fanned back."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            day.alias("day"),
            F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
            .cast("bigint")
            .alias("vc"),
        )
        .groupBy("day")
        .agg(F.sum("vc").cast("bigint").alias("cents"))
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "cents",
        ((F.col("day") + 4) % 7).alias("dow"),
        F.when(
            F.count("*").over(w7) == 7,
            F.sum("cents").over(w7).cast("double") / F.lit(7.0),
        ).alias("trend"),
    )
    dtr = tr.where(F.col("trend").isNotNull()).withColumn(
        "detr_q",
        F.floor(
            (F.col("cents").cast("double") - F.col("trend")) * F.lit(1000.0)
            + F.lit(0.5)
        ).cast("bigint"),
    )
    seas = dtr.groupBy("dow").agg(
        (F.sum("detr_q").cast("double") / (F.lit(1000.0) * F.count("*"))).alias(
            "seasonal"
        )
    )
    resid = (F.col("cents").cast("double") - F.col("trend")) - F.col("seasonal")
    full_rows = dtr.join(F.broadcast(seas), "dow").select(
        "day",
        "dow",
        "cents",
        "trend",
        "seasonal",
        "detr_q",
        resid.alias("resid"),
        F.floor(resid * F.lit(1000.0) + F.lit(0.5)).cast("bigint").alias("resid_q"),
    )
    anchors = full_rows.agg(
        F.round(
            F.lit(1.0)
            - F.sum(F.abs(F.col("resid_q"))).cast("double")
            / F.sum(F.abs(F.col("detr_q"))).cast("double"),
            6,
        ).alias("abs_reduction_r"),
        F.round(F.max("seasonal") - F.min("seasonal"), 6).alias(
            "seasonal_amplitude_r"
        ),
    )
    return (
        full_rows.crossJoin(F.broadcast(anchors))
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.col("dow").cast("bigint").alias("dow"),
            "cents",
            F.round("trend", 6).alias("trend_r"),
            F.round("seasonal", 6).alias("seasonal_r"),
            F.round("resid", 6).alias("resid_r"),
            "abs_reduction_r",
            "seasonal_amplitude_r",
        )
        .orderBy("day")
    )


# CUPED shared formula fragments — used verbatim in both the Spark
# F.expr side and the DuckDB oracle so the float arithmetic runs the
# identical expression tree on identical exact-integer moments.
_CUPED_VAR_Y = (
    "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)"
    " / NULLIF(n - 1, 0)"
)
_CUPED_COV = (
    "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)"
    " / NULLIF(n - 1, 0)"
)
_CUPED_VAR_X = (
    "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)"
    " / NULLIF(n - 1, 0)"
)
_CUPED_VAR_ADJ = (
    f"({_CUPED_VAR_Y}) - 2 * th * ({_CUPED_COV}) + th * th * ({_CUPED_VAR_X})"
)
# NULLIF guards (identical text both engines): a zero-variance arm or
# covariate makes the reduction/theta undefined — NULL, not an ANSI
# raise in Spark while DuckDB sails on
_CUPED_REDUCTION = (
    f"1.0 - ({_CUPED_VAR_ADJ}) / NULLIF(({_CUPED_VAR_Y}), 0.0)"
)
_CUPED_THETA = (
    "CAST(pn * psxy - psx * psy AS DOUBLE)"
    " / NULLIF(CAST(pn * psxx - psx * psx AS DOUBLE), 0.0)"
)


@register(
    "ev_cuped_adjustment",
    oracle=f"""
    WITH base AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             1 + user_id % 10 AS w
      FROM events),
    bounds AS (SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM base),
    per_user AS (
      SELECT user_id,
             MAX(w) * SUM(CASE WHEN day <= (SELECT mid FROM bounds)
                               THEN 1 ELSE 0 END) AS x,
             MAX(w) * SUM(CASE WHEN day > (SELECT mid FROM bounds)
                               THEN 1 ELSE 0 END) AS y,
             CASE WHEN CAST(('0x' || substr(md5('cuped-v1|' || user_id), 1, 8))
                       AS BIGINT) % 2 = 0 THEN 'control' ELSE 'treatment' END
               AS variant
      FROM base GROUP BY user_id),
    pooled AS (
      SELECT COUNT(*) AS pn, SUM(x) AS psx, SUM(y) AS psy,
             SUM(CAST(x AS HUGEINT) * x) AS psxx,
             SUM(CAST(x AS HUGEINT) * y) AS psxy
      FROM per_user),
    theta AS (
      SELECT {_CUPED_THETA} AS th,
             CAST(psx AS DOUBLE) / pn AS mxp
      FROM pooled),
    vm AS (
      SELECT variant, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(y AS HUGEINT) * y) AS syy,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM per_user GROUP BY variant)
    SELECT variant,
           CAST(n AS BIGINT) AS n_users,
           ROUND(th, 6) AS theta_r,
           ROUND(CAST(sy AS DOUBLE) / n, 6) AS mean_y_r,
           ROUND(CAST(sy AS DOUBLE) / n
                 - th * (CAST(sx AS DOUBLE) / n - mxp), 6) AS mean_y_cuped_r,
           ROUND({_CUPED_VAR_Y}, 6) AS var_y_r,
           ROUND({_CUPED_VAR_ADJ}, 6) AS var_y_cuped_r,
           ROUND({_CUPED_REDUCTION}, 6) AS var_reduction_r,
           ({_CUPED_REDUCTION}) > 0.25 AS strong_reduction
    FROM vm CROSS JOIN theta
    ORDER BY variant
    """,
    tags=("events", "experiment", "cuped", "variance-reduction"),
)
def ev_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) — the
    industry-standard variance-reduction readout that ev_abtest_lift's
    raw rates and ev_power_analysis's sample-size plan both feed into:
    theta = cov(X, Y) / var(X) is fit POOLED across variants (the
    unbiasedness requirement — fitting per-arm would leak treatment
    into the adjustment), then each arm reports its adjusted mean
    Y - theta (X_arm - X_pooled) and adjusted variance
    var(Y) - 2 theta cov + theta^2 var(X), all expanded analytically
    from six exact integer moments per arm so no per-user float ever
    sums in engine-dependent order.

    X is each user's PRE-period metric (events in the first half of
    the fixture's day range), Y the POST-period metric; both are
    weighted by a deterministic planted per-user activity scale
    w = 1 + user_id % 10 — the fixture's users are homogeneous
    Poisson (measured raw pre/post correlation ~0, CUPED reduction
    at noise level ±4%), so the plant supplies the persistent user
    heterogeneity real traffic has and CUPED exists to cancel (the
    dp_ks_drift / ev_did_estimator planted-signal discipline).
    Measured reduction: 66-90% across all three scales and both
    arms; strong_reduction pins the > 25% band with wide margin.

    Scale shape: one scan -> per-user groupBy (the only data-sized
    shuffle) -> two bounded aggregates (2-row arm moments, 1-row
    pooled) crossJoin-broadcast together; the adjustment math runs
    on a 2-row relation. Assignment is the salted-md5 hash split,
    so re-runs and corpus growth never reshuffle arms."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.expr("ts_us DIV 86400000000").alias("day"),
        F.expr("1 + user_id % 10").alias("w"),
    )
    bounds = base.agg(
        F.expr("(MIN(day) + MAX(day)) DIV 2").alias("mid")
    ).first()
    mid = int(bounds["mid"])
    per_user = (
        base.groupBy("user_id")
        .agg(
            F.max("w").alias("w"),
            F.sum(F.when(F.col("day") <= mid, 1).otherwise(0)).alias("pre"),
            F.sum(F.when(F.col("day") > mid, 1).otherwise(0)).alias("post"),
        )
        .select(
            "user_id",
            (F.col("w") * F.col("pre")).alias("x"),
            (F.col("w") * F.col("post")).alias("y"),
            F.when(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("cuped-v1|"), F.col("user_id"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                "control",
            )
            .otherwise("treatment")
            .alias("variant"),
        )
    )
    # accumulate in DECIMAL(38,0) (operand cast before each product):
    # DuckDB's SUM(BIGINT) is HUGEINT-exact, so BIGINT-wrapped Spark
    # moments (x*x ~ per-user-count^2, summed over all users) would
    # silently diverge from the oracle at scale; the shared _CUPED_*
    # fragments stay exact-integer in both engines either way
    pooled = per_user.agg(
        F.count("*").alias("pn"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("psx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("psy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("psxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("psxy"),
    ).select(
        F.expr(_CUPED_THETA).alias("th"),
        F.expr("CAST(psx AS DOUBLE) / pn").alias("mxp"),
    )
    vm = per_user.groupBy("variant").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    return (
        vm.crossJoin(F.broadcast(pooled))
        .select(
            "variant",
            F.col("n").cast("bigint").alias("n_users"),
            F.expr("ROUND(th, 6)").alias("theta_r"),
            F.expr("ROUND(CAST(sy AS DOUBLE) / n, 6)").alias("mean_y_r"),
            F.expr(
                "ROUND(CAST(sy AS DOUBLE) / n"
                " - th * (CAST(sx AS DOUBLE) / n - mxp), 6)"
            ).alias("mean_y_cuped_r"),
            F.expr(f"ROUND({_CUPED_VAR_Y}, 6)").alias("var_y_r"),
            F.expr(f"ROUND({_CUPED_VAR_ADJ}, 6)").alias("var_y_cuped_r"),
            F.expr(f"ROUND({_CUPED_REDUCTION}, 6)").alias("var_reduction_r"),
            F.expr(f"({_CUPED_REDUCTION}) > 0.25").alias("strong_reduction"),
        )
        .orderBy("variant")
    )


@register(
    "ev_changepoint_cusum",
    oracle=f"""
    WITH base AS (
      SELECT event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    bounds AS (
      SELECT MIN(day) + 7 * (MAX(day) - MIN(day)) // 10 AS plant_day
      FROM base),
    shifted AS (
      SELECT day FROM base
      UNION ALL
      SELECT day FROM base
      WHERE event_id % 2 = 0 AND day > (SELECT plant_day FROM bounds)),
    daily_null AS (SELECT day, COUNT(*) AS c FROM base GROUP BY day),
    daily_plant AS (SELECT day, COUNT(*) AS c FROM shifted GROUP BY day),
    step_null AS (
      SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS k,
             SUM(c) OVER (ORDER BY day) AS cum,
             COUNT(*) OVER () AS m, SUM(c) OVER () AS total
      FROM daily_null),
    step_plant AS (
      SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS k,
             SUM(c) OVER (ORDER BY day) AS cum,
             COUNT(*) OVER () AS m, SUM(c) OVER () AS total
      FROM daily_plant),
    cp_null AS (
      SELECT day AS null_cp_day, ABS(m * cum - k * total) AS null_absdev,
             total AS null_total
      FROM step_null WHERE k < m
      ORDER BY ABS(m * cum - k * total) DESC, day LIMIT 1),
    cp_plant AS (
      SELECT day AS cp_day, ABS(m * cum - k * total) AS absdev,
             total AS plant_total, m AS m_days
      FROM step_plant WHERE k < m
      ORDER BY ABS(m * cum - k * total) DESC, day LIMIT 1),
    level AS (
      SELECT SUM(CASE WHEN day <= (SELECT plant_day FROM bounds)
                      THEN c ELSE 0 END) AS pre_c,
             SUM(CASE WHEN day <= (SELECT plant_day FROM bounds)
                      THEN 1 ELSE 0 END) AS pre_d,
             SUM(CASE WHEN day > (SELECT plant_day FROM bounds)
                      THEN c ELSE 0 END) AS post_c,
             SUM(CASE WHEN day > (SELECT plant_day FROM bounds)
                      THEN 1 ELSE 0 END) AS post_d
      FROM daily_plant)
    SELECT (SELECT plant_day FROM bounds) AS plant_day,
           cp_day,
           cp_day = (SELECT plant_day FROM bounds) AS localized,
           null_cp_day,
           CAST(m_days AS BIGINT) AS m_days,
           ROUND((CAST(post_c AS DOUBLE) / post_d)
                 / (CAST(pre_c AS DOUBLE) / pre_d), 6) AS shift_ratio_r,
           ROUND((CAST(absdev AS DOUBLE) * null_total)
                 / (CAST(null_absdev AS DOUBLE) * plant_total), 6)
             AS dev_ratio_r,
           (CAST(absdev AS DOUBLE) * null_total)
             / (CAST(null_absdev AS DOUBLE) * plant_total) > 1.2
             AS dominates_null
    FROM cp_plant CROSS JOIN cp_null CROSS JOIN level
    """,
    tags=("events", "changepoint", "cusum", "monitoring"),
)
def ev_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint LOCALIZATION — the retrospective question
    ("WHEN did the level shift?") that complements ev_cusum_alerts'
    online question ("is it shifting NOW?"): the classic CUSUM
    split statistic D_k = |cum_k - (k/m) total| over the ordered
    daily-count series, argmax over interior days = the estimated
    change day. D_k is kept EXACT by scaling to integers
    (|m cum_k - k total|, ties broken by day), so the argmax is
    engine-deterministic with no float folding at all.

    The shift is planted scale-proportionally (every even-id event
    past the 70%-of-range day re-enters once -> a +50% level step,
    the dp_ks_drift discipline), and the same statistic also runs on
    the UNPLANTED series as the null control: localized pins exact
    recovery (measured: cp_day == plant_day at all three scales) and
    dominates_null pins the planted max deviation exceeding the null
    series' by >20% after normalizing each by its own total
    (measured ratios: 1.52 / 19.6 / 53 at sf0.001/0.01/0.1 — the
    statistic grows with sample size exactly as CUSUM theory says).

    Scale shape: one scan -> per-day groupBy (the only data-sized
    shuffle; the union doubles nothing structurally) -> windows and
    argmax over the day-count-sized relation (~30 rows), then three
    one-row relations crossJoin-broadcast into the summary row."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    base = ev.select(
        "event_id", F.expr("ts_us DIV 86400000000").alias("day")
    )
    plant_day = int(
        base.agg(
            F.expr("MIN(day) + 7 * (MAX(day) - MIN(day)) DIV 10").alias("p")
        ).first()["p"]
    )
    shifted = base.select("day").unionByName(
        base.where(
            (F.col("event_id") % 2 == 0) & (F.col("day") > plant_day)
        ).select("day")
    )
    daily_null = base.groupBy("day").agg(F.count("*").alias("c"))
    daily_plant = shifted.groupBy("day").agg(F.count("*").alias("c"))

    def cusum_argmax(daily: DataFrame, prefix: str) -> DataFrame:
        w_ord = Window.orderBy("day")
        w_all = Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        stepped = daily.select(
            "day",
            F.row_number().over(w_ord).alias("k"),
            F.sum("c").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
            F.count("*").over(w_all).alias("m"),
            F.sum("c").over(w_all).alias("total"),
        )
        return (
            stepped.where(F.col("k") < F.col("m"))
            .select(
                F.col("day").alias(f"{prefix}_day"),
                F.expr("ABS(m * cum - k * total)").alias(f"{prefix}_absdev"),
                F.col("total").alias(f"{prefix}_total"),
                F.col("m").alias(f"{prefix}_m"),
            )
            .orderBy(F.col(f"{prefix}_absdev").desc(), f"{prefix}_day")
            .limit(1)
        )

    cp_plant = cusum_argmax(daily_plant, "cp")
    cp_null = cusum_argmax(daily_null, "ncp")
    level = daily_plant.agg(
        F.sum(F.when(F.col("day") <= plant_day, F.col("c")).otherwise(0)).alias("pre_c"),
        F.sum(F.when(F.col("day") <= plant_day, 1).otherwise(0)).alias("pre_d"),
        F.sum(F.when(F.col("day") > plant_day, F.col("c")).otherwise(0)).alias("post_c"),
        F.sum(F.when(F.col("day") > plant_day, 1).otherwise(0)).alias("post_d"),
    )
    dev_ratio = (
        "(CAST(cp_absdev AS DOUBLE) * ncp_total)"
        " / (CAST(ncp_absdev AS DOUBLE) * cp_total)"
    )
    return (
        cp_plant.crossJoin(F.broadcast(cp_null))
        .crossJoin(F.broadcast(level))
        .select(
            F.lit(plant_day).cast("bigint").alias("plant_day"),
            F.col("cp_day"),
            (F.col("cp_day") == plant_day).alias("localized"),
            F.col("ncp_day").alias("null_cp_day"),
            F.col("cp_m").cast("bigint").alias("m_days"),
            F.expr(
                "ROUND((CAST(post_c AS DOUBLE) / post_d)"
                " / (CAST(pre_c AS DOUBLE) / pre_d), 6)"
            ).alias("shift_ratio_r"),
            F.expr(f"ROUND({dev_ratio}, 6)").alias("dev_ratio_r"),
            F.expr(f"{dev_ratio} > 1.2").alias("dominates_null"),
        )
    )


# Allen's interval-algebra classification — identical CASE text in
# both engines; evaluated top-down, exhaustive for a1 < a2, b1 <= b2.
_ALLEN_CASE = """CASE
  WHEN a2 < b1 THEN 'before'
  WHEN a2 = b1 THEN 'meets'
  WHEN a1 < b1 AND a2 > b1 AND a2 < b2 THEN 'overlaps'
  WHEN a1 = b1 AND a2 < b2 THEN 'starts'
  WHEN a1 > b1 AND a2 < b2 THEN 'during'
  WHEN a1 > b1 AND a2 = b2 THEN 'finishes'
  WHEN a1 = b1 AND a2 = b2 THEN 'equals'
  WHEN b2 < a1 THEN 'after'
  WHEN b2 = a1 THEN 'met_by'
  WHEN b1 < a1 AND b2 > a1 AND b2 < a2 THEN 'overlapped_by'
  WHEN b1 = a1 AND b2 < a2 THEN 'started_by'
  WHEN b1 > a1 AND b2 < a2 THEN 'contains'
  WHEN b1 > a1 AND b2 = a2 THEN 'finished_by'
  ELSE 'unclassified' END"""

_ALLEN_RELATIONS = (
    "before", "meets", "overlaps", "starts", "during", "finishes",
    "equals", "after", "met_by", "overlapped_by", "started_by",
    "contains", "finished_by", "unclassified",
)


@register(
    "ev_allen_intervals",
    oracle=f"""
    WITH a AS (
      SELECT o_orderkey AS k,
             date_diff('day', TIMESTAMP '1990-01-01 00:00:00', o_orderdate)
               AS a1,
             date_diff('day', TIMESTAMP '1990-01-01 00:00:00', o_orderdate)
               + 7 AS a2
      FROM orders),
    b AS (
      SELECT l_orderkey AS k,
             MIN(date_diff('day', TIMESTAMP '1990-01-01 00:00:00',
                           l_shipdate)) AS b1,
             MAX(date_diff('day', TIMESTAMP '1990-01-01 00:00:00',
                           l_shipdate)) AS b2
      FROM lineitem GROUP BY l_orderkey),
    c AS (
      SELECT k, {_ALLEN_CASE} AS rel FROM a JOIN b USING (k)),
    counted AS (
      SELECT rel, COUNT(*) AS n, MIN(k) AS first_k,
             ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (), 6)
               AS share
      FROM c GROUP BY rel),
    grid AS (
      SELECT UNNEST(['{"','".join(_ALLEN_RELATIONS)}']) AS relation)
    SELECT g.relation,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_orders,
           COALESCE(share, 0.0) AS share_r,
           CAST(first_k AS BIGINT) AS first_orderkey
    FROM grid g LEFT JOIN counted ON counted.rel = g.relation
    ORDER BY g.relation
    """,
    tags=("events", "temporal", "interval-algebra"),
)
def ev_allen_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra — the complete 13-relation temporal
    vocabulary (before/meets/overlaps/starts/during/finishes/equals
    + inverses) that interval reasoning, conflict detection, and
    temporal-join semantics are defined in, classified for each
    order between A = [orderdate, orderdate + 7d] (the service
    window) and B = [first shipdate, last shipdate] (the observed
    fulfilment span). The CASE ladder is evaluated top-down and is
    exhaustive for a1 < a2, b1 <= b2 — the 'unclassified' ELSE arm
    must stay at zero (pinned in the hashed result AND the vacuity
    guard), which proves the 13 conditions tile the entire
    configuration space, degenerate point-spans (b1 = b2) included.

    Result is the stable 14-row relation grid left-joined with
    counts, share, and the MIN-orderkey exemplar (deterministic) —
    measured at admission: 6 relations populated at sf0.001, 10 at
    sf0.01 and sf0.1, 'during' dominating (the 7-day window sits
    inside most multi-month ship spans), zero unclassified
    everywhere.

    Scale shape: one groupBy(l_orderkey) min/max (the only
    data-sized shuffle) -> co-partitioned equi-join with orders ->
    14-group aggregate -> broadcast join onto the literal grid."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    epoch = F.lit("1990-01-01").cast("date")
    a = orders.select(
        F.col("o_orderkey").alias("k"),
        F.datediff(F.col("o_orderdate"), epoch).cast("bigint").alias("a1"),
        (F.datediff(F.col("o_orderdate"), epoch) + 7)
        .cast("bigint")
        .alias("a2"),
    )
    b = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.min(F.datediff(F.col("l_shipdate"), epoch)).cast("bigint").alias("b1"),
        F.max(F.datediff(F.col("l_shipdate"), epoch)).cast("bigint").alias("b2"),
    )
    c = a.join(b, "k").select("k", F.expr(_ALLEN_CASE).alias("rel"))
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counted = (
        c.groupBy("rel")
        .agg(F.count("*").alias("n"), F.min("k").alias("first_k"))
        .select(
            "rel", "n", "first_k",
            F.round(
                F.col("n").cast("double") / F.sum("n").over(w_all), 6
            ).alias("share"),
        )
    )
    grid = spark.createDataFrame(
        [(r,) for r in _ALLEN_RELATIONS], "relation string"
    )
    return (
        F.broadcast(grid)
        .join(counted, F.col("relation") == F.col("rel"), "left")
        .select(
            "relation",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce(F.col("share"), F.lit(0.0)).alias("share_r"),
            F.col("first_k").cast("bigint").alias("first_orderkey"),
        )
        .orderBy("relation")
    )


def _holt_winters_exprs(dialect: str) -> tuple[str, str]:
    """(init_array, step_lambda_body) for the additive Holt-Winters
    fold, alpha=0.3 beta=0.1 gamma=0.2, weekly period. State is a
    9-double array [level, trend, s_cur, s_+1 .. s_+6] with the
    seasonal block ROTATED each step (current season always at slot 3,
    the updated value re-enters at the back) so every index in the
    lambda is a literal — neither engine can update a list element at
    a computed index inside a fold. The only dialect differences are
    element access (element_at vs [k]), array literals, and the y
    carrier (scalar vs x[1] — DuckDB's list_reduce needs uniform
    element shapes, the ev_holt_forecast trick)."""
    if dialect == "duck":
        idx = lambda a, k: f"{a}[{k}]"  # noqa: E731
        arr = lambda els: "[" + ", ".join(els) + "]"  # noqa: E731
        yv = "x[1]"
    else:
        idx = lambda a, k: f"element_at({a}, {k})"  # noqa: E731
        arr = lambda els: "array(" + ", ".join(els) + ")"  # noqa: E731
        yv = "y"
    dbl = lambda v: f"CAST({v} AS DOUBLE)"  # noqa: E731
    ysi = lambda k: dbl(idx("ys", k))  # noqa: E731
    mean7 = "(" + " + ".join(ysi(k) for k in range(1, 8)) + ") / " + dbl(7)
    init = arr(
        [mean7, f"({ysi(8)} - {ysi(1)}) / {dbl(7)}"]
        + [f"{ysi(k)} - ({mean7})" for k in range(1, 8)]
    )
    a = lambda k: idx("acc", k)  # noqa: E731
    lp = f"{dbl(0.3)} * ({yv} - {a(3)}) + {dbl(0.7)} * ({a(1)} + {a(2)})"
    bp = f"{dbl(0.1)} * (({lp}) - {a(1)}) + {dbl(0.9)} * {a(2)}"
    sp = f"{dbl(0.2)} * ({yv} - ({lp})) + {dbl(0.8)} * {a(3)}"
    step = arr([lp, bp] + [a(k) for k in range(4, 10)] + [sp])
    return init, step


_HW_DUCK_INIT, _HW_DUCK_STEP = _holt_winters_exprs("duck")
_HW_SPARK_INIT, _HW_SPARK_STEP = _holt_winters_exprs("spark")
_HW_PAD = ", ".join(["CAST(0 AS DOUBLE)"] * 8)
_HW_AMPL = (
    "GREATEST(st[{i3}], st[{i4}], st[{i5}], st[{i6}], st[{i7}], st[{i8}],"
    " st[{i9}]) - LEAST(st[{i3}], st[{i4}], st[{i5}], st[{i6}], st[{i7}],"
    " st[{i8}], st[{i9}])"
)


@register(
    "ev_holt_winters",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY 1, 2),
    series AS (
      SELECT event_type, list(y ORDER BY d) AS ys,
             CAST(count(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type),
    fitted AS (
      SELECT event_type, n_days,
             list_reduce(
               list_prepend({_HW_DUCK_INIT},
                 list_transform(ys[8:], y -> [CAST(y AS DOUBLE), {_HW_PAD}])),
               (acc, x) -> {_HW_DUCK_STEP}) AS st
      FROM series WHERE n_days >= 15)
    SELECT event_type, n_days,
           ROUND(st[1], 6) AS level,
           ROUND(st[2], 6) AS trend,
           ROUND(st[1] + st[2] + st[3], 6) AS forecast_next,
           ROUND({_HW_AMPL.format(i3=3, i4=4, i5=5, i6=6, i7=7, i8=8, i9=9)},
                 6) AS seasonal_amplitude
    FROM fitted ORDER BY event_type
    """,
    tags=("events", "timeseries", "forecast", "seasonal", "fold"),
)
def ev_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly seasonality,
    alpha=0.3 beta=0.1 gamma=0.2) per event type — the seasonal
    upgrade of ev_holt_forecast that a workload forecaster actually
    deploys when traffic has a day-of-week cycle (this fixture's
    planted Sunday burst, see ev_seasonality_dow). The three-part
    recursion needs a 9-double state (level, trend, 7 seasonal
    offsets), folded with the seasonal block ROTATING so the current
    season sits at a LITERAL index each step — neither engine's fold
    can write a computed index, so the rotation trick is what makes
    Holt-Winters expressible as a JVM-codegen higher-order aggregate
    at all (no Python, no driver loop).

    Init is stated explicitly (textbooks vary): l = mean(y1..y7),
    b = (y8 - y1)/7, s_i = y_i - l, fold starts at y8. The one-step
    forecast is l + b + s_next where s_next is the rotated head.
    Both engines build the IDENTICAL float-op sequence from one
    shared expression generator (_holt_winters_exprs) — only element
    access, array literals, and the y carrier differ.

    Scale shape: the per-day rollup is the only data-sized shuffle;
    each fold runs over a <=#days array per event type (30 here),
    bounded state, linear time, embarrassingly parallel across
    series."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    daily = ev.groupBy("event_type", day.alias("d")).agg(
        F.count("*").cast("double").alias("y")
    )
    series = daily.groupBy("event_type").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))), lambda s: s.y
        ).alias("ys"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    fitted = series.where(F.col("n_days") >= 15).withColumn(
        "st",
        F.expr(
            f"aggregate(slice(ys, 8, size(ys) - 7), {_HW_SPARK_INIT},"
            f" (acc, y) -> {_HW_SPARK_STEP})"
        ),
    )
    ampl = _HW_AMPL.format(
        i3="3", i4="4", i5="5", i6="6", i7="7", i8="8", i9="9"
    ).replace("st[", "element_at(st, ").replace("]", ")")
    return fitted.select(
        "event_type",
        "n_days",
        F.round(F.element_at("st", 1), 6).alias("level"),
        F.round(F.element_at("st", 2), 6).alias("trend"),
        F.round(
            F.element_at("st", 1)
            + F.element_at("st", 2)
            + F.element_at("st", 3),
            6,
        ).alias("forecast_next"),
        F.expr(f"ROUND({ampl}, 6)").alias("seasonal_amplitude"),
    ).orderBy("event_type")


@register(
    "ev_theil_sen_trend",
    oracle="""
    WITH daily0 AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS d,
             COUNT(*) AS c
      FROM events GROUP BY 1),
    anchors AS (
      SELECT MIN(d) AS lo, GREATEST(1, SUM(c) // 300) AS unit FROM daily0),
    daily AS (
      SELECT d - (SELECT lo FROM anchors) AS x,
             (c + (SELECT unit FROM anchors)
                  * (d - (SELECT lo FROM anchors)))
             * CASE WHEN d - (SELECT lo FROM anchors) IN (1, 2, 3)
                    THEN 5 ELSE 1 END AS y
      FROM daily0),
    pairs AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
      FROM daily a JOIN daily b ON a.x < b.x),
    ranked AS (
      SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rk,
             COUNT(*) OVER () AS n
      FROM pairs),
    ts AS (
      SELECT slope AS ts_slope, CAST(n AS BIGINT) AS n_pairs
      FROM ranked WHERE rk = (n + 1) // 2),
    ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
             / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) AS ols_slope
      FROM daily)
    SELECT n_days, n_pairs,
           CAST((SELECT unit FROM anchors) AS BIGINT) AS planted_slope,
           ROUND(ts_slope, 6) AS ts_slope_r,
           ROUND(ols_slope, 6) AS ols_slope_r,
           ROUND(ABS(ts_slope / (SELECT unit FROM anchors) - 1.0), 6)
             AS ts_rel_err_r,
           ROUND(ABS(ols_slope / (SELECT unit FROM anchors) - 1.0), 6)
             AS ols_rel_err_r,
           ABS(ts_slope / (SELECT unit FROM anchors) - 1.0)
             < ABS(ols_slope / (SELECT unit FROM anchors) - 1.0)
             AS robust_wins
    FROM ts, ols
    """,
    tags=("events", "timeseries", "robust-regression", "theil-sen"),
)
def ev_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope — the median of all pairwise slopes
    (~29.3% breakdown point) head-to-head against OLS on the same
    contaminated series: daily event counts carry a PLANTED linear
    trend scaled to the corpus (unit = max(1, total // 300) per day,
    so trend dominates the sqrt(count) Poisson noise at every
    fixture scale) plus a clustered x5 corruption on days 1-3 (high
    leverage, one-sided — the outage/backfill shape that wrecks
    least squares). Median = the LOWER median (rank (n+1)//2 of the
    slope order statistics), a deterministic pick that avoids
    engine-varying midpoint averaging.

    Measured: Theil-Sen relative error 0.008-0.20 across scales
    while OLS is off by 79-93% — robust_wins is pinned true in the
    hashed result, and the planted unit rides along so the hash
    re-derives the whole comparison.

    Scale shape: the per-day rollup is the only data-sized shuffle;
    the all-pairs self-join is over the DAY-sized relation (30 rows
    -> 435 pairs — bounded by the calendar, not the corpus), then
    one window rank over the bounded pair set. OLS runs on exact
    integer sums."""
    ev = load_table(spark, sf_dir, "events")
    day = (F.col("ts_us") / 86_400_000_000).cast("long")
    daily0 = ev.groupBy(day.alias("d")).agg(F.count("*").alias("c"))
    anc = daily0.agg(
        F.min("d").alias("lo"),
        F.expr("GREATEST(1, SUM(c) DIV 300)").alias("unit"),
    ).first()
    lo, unit = int(anc["lo"]), int(anc["unit"])
    daily = daily0.select(
        (F.col("d") - lo).alias("x"),
        (
            (F.col("c") + unit * (F.col("d") - lo))
            * F.when((F.col("d") - lo).isin(1, 2, 3), 5).otherwise(1)
        ).alias("y"),
    )
    a = daily.select(F.col("x").alias("ax"), F.col("y").alias("ay"))
    b = daily.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    pairs = a.join(F.broadcast(b), F.col("ax") < F.col("bx")).select(
        F.expr("CAST(by - ay AS DOUBLE) / (bx - ax)").alias("slope")
    )
    w_ord = Window.orderBy("slope")
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ts = (
        pairs.select(
            "slope",
            F.row_number().over(w_ord).alias("rk"),
            F.count("*").over(w_all).alias("n"),
        )
        .where(F.expr("rk = (n + 1) DIV 2"))
        .select(
            F.col("slope").alias("ts_slope"),
            F.col("n").cast("bigint").alias("n_pairs"),
        )
    )
    # numerator moments in DECIMAL(38,0): SUM(y) is the full event
    # count and SUM(x*y) ~ days * daily-total — their products sit
    # ~10x under BIGINT at 1e13 events and wrap silently past it,
    # while DuckDB's SUM(BIGINT) is HUGEINT-exact (the denominator is
    # day-index-bounded, safe in 64-bit at any corpus size)
    ols = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.expr(
            "CAST(CAST(COUNT(*) AS DECIMAL(38,0))"
            " * SUM(CAST(x AS DECIMAL(38,0)) * y)"
            " - SUM(CAST(x AS DECIMAL(38,0)))"
            " * SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE)"
            " / (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))"
        ).alias("ols_slope"),
    )
    rel = lambda s: f"ABS({s} / {unit} - 1.0)"  # noqa: E731
    return ts.crossJoin(F.broadcast(ols)).select(
        "n_days",
        "n_pairs",
        F.lit(unit).cast("bigint").alias("planted_slope"),
        F.round("ts_slope", 6).alias("ts_slope_r"),
        F.round("ols_slope", 6).alias("ols_slope_r"),
        F.expr(f"ROUND({rel('ts_slope')}, 6)").alias("ts_rel_err_r"),
        F.expr(f"ROUND({rel('ols_slope')}, 6)").alias("ols_rel_err_r"),
        F.expr(f"{rel('ts_slope')} < {rel('ols_slope')}").alias(
            "robust_wins"
        ),
    )


@register(
    "ev_funnel_latency",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS v,
             MIN(CASE WHEN event_type = 'click'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS c,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS p
      FROM events GROUP BY user_id),
    lats AS (
      SELECT 'view_to_click' AS stage, user_id, c - v AS lat_us
      FROM firsts WHERE c > v
      UNION ALL
      SELECT 'click_to_purchase', user_id, p - c
      FROM firsts WHERE c > v AND p > c),
    ranked AS (
      SELECT stage, lat_us,
             ROW_NUMBER() OVER (PARTITION BY stage
                                ORDER BY lat_us, user_id) AS rk,
             COUNT(*) OVER (PARTITION BY stage) AS n,
             SUM(lat_us) OVER (PARTITION BY stage) AS s
      FROM lats)
    SELECT stage,
           CAST(n AS BIGINT) AS n_users,
           CAST(MAX(CASE WHEN rk = CAST(CEIL(0.5 * n) AS BIGINT)
                         THEN lat_us END) AS BIGINT) AS p50_us,
           CAST(MAX(CASE WHEN rk = CAST(CEIL(0.9 * n) AS BIGINT)
                         THEN lat_us END) AS BIGINT) AS p90_us,
           ROUND(CAST(MAX(s) AS DOUBLE) / n / 3600000000.0, 6)
             AS mean_hours_r
    FROM ranked GROUP BY stage, n ORDER BY stage
    """,
    tags=("events", "funnel", "latency"),
)
def ev_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert for each ordered funnel stage — the question
    product teams ask right after ev_funnel_counts' HOW MANY: how
    LONG from first view to first click, and from first click to
    first purchase (same ordered-funnel semantics: stages must occur
    in sequence, firsts only). Quantiles are EXACT order statistics
    at the deterministic ceil(q*n) rank (ties broken by user_id),
    not an interpolating percentile — integer microseconds in, the
    identical integer out of both engines; the mean converts to
    hours as the single rounded float, derived from an exact integer
    sum.

    Scale shape: the conditional-min groupBy(user_id) is the only
    data-sized shuffle (the ev_funnel_counts plan); latencies then
    rank inside 2 stage partitions. At a 1000-executor scale the
    per-stage window is the bottleneck-by-construction (one
    partition per stage) — acceptable because the ranked relation is
    converting-users-sized, already reduced by the funnel filter;
    beyond that, swap the exact rank for approx_percentile (the
    a8_percentiles_approx path) — stated trade-off."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts_us")))

    firsts = ev.groupBy("user_id").agg(
        first_ts("view").alias("v"),
        first_ts("click").alias("c"),
        first_ts("purchase").alias("p"),
    )
    v2c = firsts.where(F.col("c") > F.col("v")).select(
        F.lit("view_to_click").alias("stage"),
        "user_id",
        (F.col("c") - F.col("v")).alias("lat_us"),
    )
    c2p = firsts.where(
        (F.col("c") > F.col("v")) & (F.col("p") > F.col("c"))
    ).select(
        F.lit("click_to_purchase").alias("stage"),
        "user_id",
        (F.col("p") - F.col("c")).alias("lat_us"),
    )
    lats = v2c.unionByName(c2p)
    w_rank = Window.partitionBy("stage").orderBy("lat_us", "user_id")
    w_stage = Window.partitionBy("stage")
    ranked = lats.select(
        "stage",
        "lat_us",
        F.row_number().over(w_rank).alias("rk"),
        F.count("*").over(w_stage).alias("n"),
        F.sum("lat_us").over(w_stage).alias("s"),
    )
    return (
        ranked.groupBy("stage", "n")
        .agg(
            F.max(
                F.when(
                    F.expr("rk = CAST(CEIL(0.5 * n) AS BIGINT)"),
                    F.col("lat_us"),
                )
            )
            .cast("bigint")
            .alias("p50_us"),
            F.max(
                F.when(
                    F.expr("rk = CAST(CEIL(0.9 * n) AS BIGINT)"),
                    F.col("lat_us"),
                )
            )
            .cast("bigint")
            .alias("p90_us"),
            F.expr(
                "ROUND(CAST(MAX(s) AS DOUBLE) / n / 3600000000.0, 6)"
            ).alias("mean_hours_r"),
        )
        .select(
            "stage",
            F.col("n").cast("bigint").alias("n_users"),
            "p50_us",
            "p90_us",
            "mean_hours_r",
        )
        .orderBy("stage")
    )


@register(
    "ev_kaplan_meier",
    oracle=f"""
    WITH base AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    gaps AS (
      SELECT user_id,
             (LEAD(ts_us) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id)
              - ts_us) // 3600000000 AS h,
             CASE WHEN LEAD(ts_us) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id) IS NULL
                  THEN 0 ELSE 1 END AS observed,
             ts_us
      FROM base),
    spells AS (
      SELECT CASE WHEN observed = 1 THEN h
                  ELSE ((SELECT MAX(ts_us) FROM base) - ts_us)
                       // 3600000000 END AS h,
             observed
      FROM gaps),
    per_h AS (
      SELECT h, SUM(observed) AS d, SUM(1 - observed) AS c
      FROM spells GROUP BY h),
    cum AS (
      SELECT h, d, c,
             (SELECT COUNT(*) FROM spells)
             - COALESCE(SUM(d + c) OVER (ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM per_h),
    fa AS (
      SELECT h, d, c,
             CASE WHEN d > 0 THEN 1.0 - CAST(d AS DOUBLE) / n_risk
                  ELSE CAST(1 AS DOUBLE) END AS f
      FROM cum),
    grid AS (SELECT UNNEST([1, 4, 12, 24, 48]) AS g),
    agg AS (
      SELECT g, list(f ORDER BY h) AS fs,
             SUM(d) AS de, SUM(c) AS ce
      FROM grid JOIN fa ON fa.h <= grid.g GROUP BY g)
    SELECT CAST(g AS INT) AS h_grid,
           ROUND(list_reduce(list_prepend(CAST(1 AS DOUBLE), fs),
                             (a, x) -> a * x), 6) AS surv_r,
           CAST(de AS BIGINT) AS n_events_le,
           CAST(ce AS BIGINT) AS n_censored_le
    FROM agg ORDER BY g
    """,
    tags=("events", "survival", "kaplan-meier", "censoring"),
)
def ev_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of the inter-event gap WITH right
    censoring — the estimator ev_gap_survival (naive empirical curve
    over completed gaps only) deliberately is not: each user's final
    open-ended wait (last event -> end of observation window) enters
    as a CENSORED spell that keeps the subject in the risk set until
    its censor hour, removing the survivorship bias that makes the
    naive curve too pessimistic at the tail. S(t) = prod over event
    hours h <= t of (1 - d_h / n_h), with n_h the classic
    left-continuous risk set (total spells minus everything resolved
    strictly before h).

    The product folds over the hour-ordered factor array (non-event
    hours contribute an exact 1.0), so both engines multiply the
    identical float sequence — the ev_holt_forecast fold discipline
    applied to a survival curve. Counts d/c/n are exact integers.

    Scale shape: per-user LEAD window (bounded state) -> per-hour
    groupBy (the only data-sized shuffle, cardinality = distinct
    gap hours, ~100) -> everything after runs on the hour-sized
    relation; the 5-point grid join fans over it broadcast-style."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    w_user = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    we = int(ev.agg(F.max("ts_us").alias("m")).first()["m"])
    gaps = ev.select(
        "user_id",
        "ts_us",
        ((F.lead("ts_us").over(w_user) - F.col("ts_us")) / 3_600_000_000)
        .cast("long")
        .alias("h"),
        F.when(F.lead("ts_us").over(w_user).isNull(), 0)
        .otherwise(1)
        .alias("observed"),
    )
    spells = gaps.select(
        F.when(F.col("observed") == 1, F.col("h"))
        .otherwise(((F.lit(we) - F.col("ts_us")) / 3_600_000_000).cast("long"))
        .alias("h"),
        "observed",
    )
    per_h = spells.groupBy("h").agg(
        F.sum("observed").alias("d"),
        F.sum(1 - F.col("observed")).alias("c"),
    )
    w_cum = Window.orderBy("h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_h.select(
        "h", "d", "c",
        (
            F.sum(F.col("d") + F.col("c")).over(w_all)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_cum), F.lit(0)
            )
        ).alias("n_risk"),
    )
    fa = cum.select(
        "h", "d", "c",
        F.expr(
            "CASE WHEN d > 0 THEN 1.0 - CAST(d AS DOUBLE) / n_risk"
            " ELSE CAST(1 AS DOUBLE) END"
        ).alias("f"),
    )
    grid = spark.createDataFrame([(g,) for g in (1, 4, 12, 24, 48)], "g int")
    agg = (
        F.broadcast(grid)
        .join(fa, fa["h"] <= grid["g"])
        .groupBy("g")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(h, f))),"
                " s -> s.f)"
            ).alias("fs"),
            F.sum("d").alias("de"),
            F.sum("c").alias("ce"),
        )
    )
    return agg.select(
        F.col("g").cast("int").alias("h_grid"),
        F.expr(
            "ROUND(aggregate(fs, CAST(1 AS DOUBLE), (a, x) -> a * x), 6)"
        ).alias("surv_r"),
        F.col("de").cast("bigint").alias("n_events_le"),
        F.col("ce").cast("bigint").alias("n_censored_le"),
    ).orderBy("h_grid")


# U-shape credit in basis points — identical CASE text both engines.
# n = touches in the window, rk = 1-based position by time.
_USHAPE_CREDIT = """CASE
  WHEN n = 1 THEN 10000
  WHEN n = 2 AND rk = 1 THEN 5000
  WHEN n = 2 AND rk = 2 THEN 5000
  WHEN rk = 1 THEN 4000
  WHEN rk = n THEN 4000 + 2000 % (n - 2)
  ELSE 2000 {div} (n - 2) END"""


@register(
    "ev_attribution_ushape",
    oracle=f"""
    WITH c AS (SELECT user_id, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, event_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
          FROM events WHERE event_type = 'purchase'),
    j AS (
      SELECT p.event_id AS purchase_id, c.event_id AS c_id,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts_us, c.event_id) AS rk,
             COUNT(*) OVER (PARTITION BY p.event_id) AS n
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.ts_us BETWEEN p.ts_us - 1800000000 AND p.ts_us),
    credited AS (
      SELECT purchase_id, rk, n,
             {_USHAPE_CREDIT.format(div="//")} AS credit_bp,
             CASE WHEN n = 1 THEN 'only'
                  WHEN rk = 1 THEN 'first'
                  WHEN rk = n THEN 'last'
                  ELSE 'middle' END AS position_class
      FROM j),
    totals AS (
      SELECT CAST(COUNT(DISTINCT purchase_id) AS BIGINT) AS n_purch
      FROM credited)
    SELECT position_class,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit_bp) AS BIGINT) AS credit_bp_total,
           ROUND(CAST(SUM(credit_bp) AS DOUBLE)
                 / (10000.0 * (SELECT n_purch FROM totals)), 6)
             AS credit_share_r
    FROM credited GROUP BY position_class ORDER BY position_class
    """,
    tags=("events", "attribution", "ushape"),
)
def ev_attribution_ushape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shape / 40-20-40) multi-touch attribution —
    the model marketers deploy between the two extremes the engine
    already has (ev_first_touch_attribution, ev_asof_last_purchase's
    last-touch): every click in the 30 minutes before a purchase
    shares that purchase's credit, 40% to the first touch, 40% to
    the last, 20% split across the middle. Credit is integer BASIS
    POINTS with the split remainder (2000 % (n-2)) assigned to the
    last touch — stated tie policy, so each purchase's credit sums
    to exactly 10000 and the grand total to 10000 x purchases, which
    the credit_share_r column re-derives and the vacuity guard pins
    to 1.0.

    Scale shape: the purchase-click window join is the
    ev_first_touch_attribution range-join shape (user-keyed equi
    component + time band), then per-purchase windows (bounded by
    clicks-in-30-min) and a 4-group aggregate."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_id"),
        F.col("ts_us").alias("c_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts_us").alias("p_ts"),
    )
    j = p.join(
        c,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - 1_800_000_000)
        & (F.col("c_ts") <= F.col("p_ts")),
    )
    w_rank = Window.partitionBy("purchase_id").orderBy("c_ts", "c_id")
    w_n = Window.partitionBy("purchase_id")
    credited = j.select(
        "purchase_id",
        F.row_number().over(w_rank).alias("rk"),
        F.count("*").over(w_n).alias("n"),
    ).select(
        "purchase_id", "rk", "n",
        F.expr(_USHAPE_CREDIT.format(div="DIV")).alias("credit_bp"),
        F.expr(
            "CASE WHEN n = 1 THEN 'only' WHEN rk = 1 THEN 'first'"
            " WHEN rk = n THEN 'last' ELSE 'middle' END"
        ).alias("position_class"),
    )
    totals = credited.agg(
        F.countDistinct("purchase_id").cast("bigint").alias("n_purch")
    )
    return (
        credited.groupBy("position_class")
        .agg(
            F.count("*").cast("bigint").alias("n_touches"),
            F.sum("credit_bp").cast("bigint").alias("credit_bp_total"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "position_class",
            "n_touches",
            "credit_bp_total",
            F.expr(
                "ROUND(CAST(credit_bp_total AS DOUBLE)"
                " / (10000.0 * n_purch), 6)"
            ).alias("credit_share_r"),
        )
        .orderBy("position_class")
    )


# planted placement + thinning — identical text both engines
_COEC_POS = "CASE WHEN k % 15 < 5 THEN k % 3 + 1 ELSE k % 10 + 1 END"
_COEC_CLICK = f"CASE WHEN (event_id % 10) + 1 > {_COEC_POS} THEN 1 ELSE 0 END"


@register(
    "ev_position_bias_coec",
    oracle=f"""
    WITH imp AS (
      SELECT CAST(CASE WHEN json_valid(props)
                  THEN json_extract(props, '$.k') END AS BIGINT) AS k,
             event_id
      FROM events WHERE event_type = 'view'),
    placed AS (
      SELECT k % 15 AS item, {_COEC_POS} AS pos, {_COEC_CLICK} AS clicked
      FROM imp),
    cell AS (
      SELECT item, pos, COUNT(*) AS n, SUM(clicked) AS c
      FROM placed GROUP BY item, pos),
    prior AS (
      SELECT pos, SUM(n) AS v, SUM(c) AS pc,
             CAST(SUM(c) AS DOUBLE) / SUM(n) AS ctr_p
      FROM cell GROUP BY pos),
    pooled AS (
      SELECT CAST(SUM(pc) AS DOUBLE) / SUM(v) AS ctr_all FROM prior),
    per_item AS (
      SELECT item, SUM(n) AS views, SUM(c) AS clicks,
             list(n * ctr_p ORDER BY pos) AS terms
      FROM cell JOIN prior USING (pos) GROUP BY item),
    scored AS (
      SELECT item, views, clicks,
             CAST(clicks AS DOUBLE) / views / ctr_all AS norm_ctr,
             CAST(clicks AS DOUBLE)
               / list_reduce(list_prepend(CAST(0 AS DOUBLE), terms),
                             (a, x) -> a + x) AS coec
      FROM per_item, pooled),
    gmeans AS (
      SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(ABS(coec - 1.0) ORDER BY item)), (a, x) -> a + x)
               / COUNT(*) AS mad_coec,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(ABS(norm_ctr - 1.0) ORDER BY item)), (a, x) -> a + x)
               / COUNT(*) AS mad_norm
      FROM scored)
    SELECT CAST(item AS BIGINT) AS item,
           CAST(views AS BIGINT) AS views,
           CAST(clicks AS BIGINT) AS clicks,
           ROUND(norm_ctr, 6) AS norm_ctr_r,
           ROUND(coec, 6) AS coec_r,
           ROUND(mad_coec, 6) AS mad_coec_r,
           ROUND(mad_norm, 6) AS mad_norm_r,
           mad_coec < mad_norm AS debias_wins
    FROM scored, gmeans ORDER BY item
    """,
    tags=("events", "ranking", "position-bias", "coec"),
)
def ev_position_bias_coec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COEC (clicks over expected clicks) position-bias correction —
    the standard search/ads debiasing estimator: a click is worth
    more at a bad position than a good one, so each item's clicks
    are normalized by the sum of the POSITION PRIOR (global CTR per
    position) over its impressions rather than by raw impression
    count. The fixture plants both halves of the phenomenon
    deterministically: click propensity decays linearly with
    position ((event_id % 10) + 1 > pos thinning), and items 0-4 get
    PREMIUM placement (positions 1-3 only) — so their raw normalized
    CTR inflates to ~1.44 while COEC pulls every item back toward
    1.0 (measured mean |coec - 1|: 0.17 / 0.05 / 0.01 across scales
    vs ~0.34 for normalized CTR). debias_wins pins that aggregate
    comparison inside the hashed result.

    Every float sum folds in a pinned order (terms by pos, item
    deviations by item — the dp_psi_drift discipline); counts and
    the thinning are exact integers off one impression scan.

    Scale shape: one scan -> (item, pos) groupBy (the only
    data-sized shuffle, <= 150 cells) -> 10-row prior join ->
    item-sized folds."""
    ev = load_table(spark, sf_dir, "events")
    imp = ev.where(F.col("event_type") == "view").select(
        F.expr("CAST(get_json_object(props, '$.k') AS BIGINT)").alias("k"),
        "event_id",
    )
    placed = imp.select(
        F.expr("k % 15").alias("item"),
        F.expr(_COEC_POS).alias("pos"),
        F.expr(_COEC_CLICK).alias("clicked"),
    )
    cell = placed.groupBy("item", "pos").agg(
        F.count("*").alias("n"), F.sum("clicked").alias("c")
    )
    prior = cell.groupBy("pos").agg(
        F.sum("n").alias("v"),
        F.sum("c").alias("pc"),
        F.expr("CAST(SUM(c) AS DOUBLE) / SUM(n)").alias("ctr_p"),
    )
    pooled = prior.agg(
        F.expr("CAST(SUM(pc) AS DOUBLE) / SUM(v)").alias("ctr_all")
    )
    per_item = (
        cell.join(F.broadcast(prior.select("pos", "ctr_p")), "pos")
        .groupBy("item")
        .agg(
            F.sum("n").alias("views"),
            F.sum("c").alias("clicks"),
            F.expr(
                "transform(array_sort(collect_list(struct(pos,"
                " n * ctr_p AS t))), s -> s.t)"
            ).alias("terms"),
        )
    )
    scored = per_item.crossJoin(F.broadcast(pooled)).select(
        "item", "views", "clicks",
        F.expr("CAST(clicks AS DOUBLE) / views / ctr_all").alias("norm_ctr"),
        F.expr(
            "CAST(clicks AS DOUBLE)"
            " / aggregate(terms, CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("coec"),
    )
    gmeans = scored.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(item,"
            " ABS(coec - 1.0) AS t))), s -> s.t), CAST(0 AS DOUBLE),"
            " (a, x) -> a + x) / COUNT(*)"
        ).alias("mad_coec"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(item,"
            " ABS(norm_ctr - 1.0) AS t))), s -> s.t), CAST(0 AS DOUBLE),"
            " (a, x) -> a + x) / COUNT(*)"
        ).alias("mad_norm"),
    )
    return (
        scored.crossJoin(F.broadcast(gmeans))
        .select(
            F.col("item").cast("bigint").alias("item"),
            F.col("views").cast("bigint").alias("views"),
            F.col("clicks").cast("bigint").alias("clicks"),
            F.round("norm_ctr", 6).alias("norm_ctr_r"),
            F.round("coec", 6).alias("coec_r"),
            F.round("mad_coec", 6).alias("mad_coec_r"),
            F.round("mad_norm", 6).alias("mad_norm_r"),
            (F.col("mad_coec") < F.col("mad_norm")).alias("debias_wins"),
        )
        .orderBy("item")
    )


@register(
    "ev_dau_wau_stickiness",
    oracle="""
    WITH base AS (
      SELECT DISTINCT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events),
    days AS (SELECT DISTINCT day FROM base),
    dau AS (SELECT day, COUNT(*) AS dau FROM base GROUP BY day),
    wau AS (
      SELECT d.day, COUNT(DISTINCT b.user_id) AS wau
      FROM days d JOIN base b ON b.day BETWEEN d.day - 6 AND d.day
      GROUP BY d.day)
    SELECT CAST(dau.day AS BIGINT) AS day,
           CAST(dau AS BIGINT) AS dau,
           CAST(wau AS BIGINT) AS wau,
           ROUND(CAST(dau AS DOUBLE) / wau, 6) AS stickiness_r
    FROM dau JOIN wau ON dau.day = wau.day
    WHERE dau.day >= (SELECT MIN(day) + 6 FROM days)
    ORDER BY day
    """,
    tags=("events", "engagement", "stickiness"),
)
def ev_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — the product-engagement ratio (what share
    of the week's actives came back today) that sits on top of
    ev_rolling_distinct_users' raw curve: daily actives over
    trailing-7-day actives, reported only for days with a full
    trailing week (the warm-up is truncated, stated semantics).

    The WAU side is the honest distributed form: the day grid
    (bounded, ~30 rows) range-joins the distinct (user, day)
    relation and counts distinct users per window — no per-day
    re-scan, no quadratic blow-up (each (user, day) lands in <= 7
    windows). At a 1000-executor scale the distinct-user rollup is
    the only data-sized shuffle; everything else is day-sized.

    Stickiness on this fixture sits near 1.0 x (users are daily-
    active Poisson), so the pin is structural: DAU <= WAU always,
    ratio in (0, 1]."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", F.expr("ts_us DIV 86400000000").alias("day")
    ).distinct()
    days = base.select("day").distinct()
    dau = base.groupBy("day").agg(F.count("*").alias("dau"))
    wau = (
        F.broadcast(days.select(F.col("day").alias("d")))
        .join(
            base,
            (F.col("day") >= F.col("d") - 6) & (F.col("day") <= F.col("d")),
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    min_day = int(days.agg(F.min("day")).first()[0])
    return (
        dau.join(wau, dau["day"] == wau["d"])
        .where(F.col("day") >= min_day + 6)
        .select(
            F.col("day").cast("bigint").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.expr("ROUND(CAST(dau AS DOUBLE) / wau, 6)").alias(
                "stickiness_r"
            ),
        )
        .orderBy("day")
    )


@register(
    "ev_slo_burn_rate",
    oracle="""
    WITH base0 AS (
      SELECT event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
             event_type
      FROM events),
    lo AS (SELECT MIN(day) AS lo FROM base0),
    base AS (
      SELECT day - (SELECT lo FROM lo) AS d,
             CASE WHEN event_type = 'error'
                       OR (day - (SELECT lo FROM lo) = 17
                           AND event_id % 4 != 3)
                  THEN 1 ELSE 0 END AS err
      FROM base0),
    daily AS (SELECT d, SUM(err) AS e, COUNT(*) AS n FROM base GROUP BY d),
    weekly AS (
      SELECT d // 7 AS w, SUM(e) AS e, SUM(n) AS n FROM daily GROUP BY 1)
    SELECT CAST(daily.d AS BIGINT) AS d,
           CAST(daily.e AS BIGINT) AS day_errors,
           CAST(daily.n AS BIGINT) AS day_events,
           ROUND(CAST(daily.e AS DOUBLE) / daily.n / 0.25, 6)
             AS day_burn_r,
           ROUND(CAST(weekly.e AS DOUBLE) / weekly.n / 0.25, 6)
             AS week_burn_r,
           CAST(daily.e AS DOUBLE) / daily.n / 0.25 > 2.0
             AND CAST(weekly.e AS DOUBLE) / weekly.n / 0.25 > 1.0
             AS alert
    FROM daily JOIN weekly ON daily.d // 7 = weekly.w
    ORDER BY d
    """,
    tags=("events", "slo", "burn-rate", "monitoring"),
)
def ev_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting — the SRE-handbook pager
    rule: page only when BOTH a fast window (here: day) and a slow
    window (its week) burn error budget too fast, so a brief blip
    (fast high, slow fine) and a slowly simmering drift (slow high,
    fast fine) page differently from a genuine incident. Budget is
    25% errors; burn = observed rate / budget; the alert predicate
    is day-burn > 2 AND week-burn > 1.

    The incident is planted scale-proportionally (day 17: even
    3-of-4 ids become errors, lifting that day to ~80% -> day burn
    ~3.2, its week to ~28% -> week burn ~1.13 at every scale), and
    the no-alert days exercise both rejection branches: normal days
    have day burn ~0.8, and day 17's NEIGHBORS in week 2 show the
    drift shape (week burn > 1, day burn < 2 -> no page). Measured:
    exactly one alerting day (the incident) at all three scales,
    pinned by the hashed booleans.

    Scale shape: one scan -> per-day groupBy (the only data-sized
    shuffle) -> week rollup and join on the ~30-row day relation."""
    ev = load_table(spark, sf_dir, "events")
    base0 = ev.select(
        "event_id", F.expr("ts_us DIV 86400000000").alias("day"),
        "event_type",
    )
    lo = int(base0.agg(F.min("day")).first()[0])
    base = base0.select(
        (F.col("day") - lo).alias("d"),
        F.when(
            (F.col("event_type") == "error")
            | ((F.col("day") - lo == 17) & (F.col("event_id") % 4 != 3)),
            1,
        )
        .otherwise(0)
        .alias("err"),
    )
    daily = base.groupBy("d").agg(
        F.sum("err").alias("e"), F.count("*").alias("n")
    )
    weekly = daily.groupBy(F.expr("d DIV 7").alias("w")).agg(
        F.sum("e").alias("we"), F.sum("n").alias("wn")
    )
    return (
        daily.join(weekly, F.expr("d DIV 7") == F.col("w"))
        .select(
            F.col("d").cast("bigint").alias("d"),
            F.col("e").cast("bigint").alias("day_errors"),
            F.col("n").cast("bigint").alias("day_events"),
            F.expr("ROUND(CAST(e AS DOUBLE) / n / 0.25, 6)").alias(
                "day_burn_r"
            ),
            F.expr("ROUND(CAST(we AS DOUBLE) / wn / 0.25, 6)").alias(
                "week_burn_r"
            ),
            F.expr(
                "CAST(e AS DOUBLE) / n / 0.25 > 2.0"
                " AND CAST(we AS DOUBLE) / wn / 0.25 > 1.0"
            ).alias("alert"),
        )
        .orderBy("d")
    )


@register(
    "ev_bot_regularity",
    oracle="""
    WITH real_ev AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
      FROM events),
    start AS (SELECT MIN(ts_us) AS t0 FROM real_ev),
    bot AS (
      SELECT CAST(-1 AS BIGINT) AS user_id,
             (SELECT t0 FROM start) + i * 60000000 AS ts_us,
             CAST(-i AS BIGINT) AS event_id
      FROM (SELECT UNNEST(generate_series(1, 60)) AS i)),
    allev AS (
      SELECT * FROM real_ev UNION ALL SELECT * FROM bot),
    gaps AS (
      SELECT user_id,
             (ts_us - LAG(ts_us) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id))
             // 1000000 AS g
      FROM allev),
    stats AS (
      SELECT user_id, COUNT(g) AS n, SUM(g) AS s, SUM(g * g) AS ss
      FROM gaps WHERE g IS NOT NULL GROUP BY user_id),
    scored AS (
      SELECT user_id, n,
             sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
               / (CAST(s AS DOUBLE) / n) AS cv
      FROM stats WHERE n >= 9 AND s > 0),
    ranked AS (
      SELECT user_id, n, cv,
             CAST(ROW_NUMBER() OVER (ORDER BY cv, user_id) AS INT) AS rk
      FROM scored)
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           ROUND(cv, 6) AS cv_r, rk,
           user_id = -1 AS is_planted_bot
    FROM ranked WHERE rk <= 10 ORDER BY rk
    """,
    tags=("events", "bot-detection", "regularity"),
)
def ev_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot detection by inter-event REGULARITY — the classic traffic-
    hygiene heuristic (humans are bursty, schedulers are metronomes):
    coefficient of variation of each user's inter-event gaps, from
    exact integer second-floored gap moments (sum and sum of squares
    telescope off one LAG window; seconds, not micros, so g*g can
    never approach int64 even at 1000x volume). A synthetic bot
    (user -1, 60 events exactly 60 s apart, generated with sequence()
    off the corpus start time) is planted INSIDE the query, and its
    CV is exactly 0 — it must rank first, pinned in the hashed
    is_planted_bot column and the vacuity guard, while real fixture
    users land near the exponential-gap CV of ~1.

    Scale shape: one per-user LAG window (bounded state) -> per-user
    moment groupBy (the only data-sized shuffle) -> orderBy().limit(10)
    (TakeOrderedAndProject: per-partition top-10 then a 10-row merge,
    never a global sort) -> rank assigned over the 10-row result (the
    dp_bm25_rank post-limit pattern)."""
    ev = load_table(spark, sf_dir, "events")
    real_ev = ev.select("user_id", "ts_us", "event_id")
    # the corpus start anchors the synthetic bot's clock as a
    # broadcast one-row aggregate INSIDE the plan — no plan-build-time
    # scalar action (r06 verdict nit: the old .first() cost one extra
    # full scan per query at scale)
    t0 = ev.agg(F.min("ts_us").alias("__t0"))
    bot = (
        spark.range(1, 61)
        .crossJoin(F.broadcast(t0))
        # empty-corpus guard: MIN over zero rows is NULL, which would
        # otherwise plant 60 NULL-clock bot rows (the old .first()
        # anchor raised instead); filtering on the anchor keeps the
        # empty-in -> empty-out contract
        .where(F.col("__t0").isNotNull())
        .select(
            F.lit(-1).cast("long").alias("user_id"),
            (F.col("__t0") + F.col("id") * 60_000_000).alias("ts_us"),
            (-F.col("id")).cast("long").alias("event_id"),
        )
    )
    allev = real_ev.unionByName(bot)
    gaps = allev.select(
        "user_id",
        F.expr(
            "(ts_us - LAG(ts_us) OVER (PARTITION BY user_id"
            " ORDER BY ts_us, event_id)) DIV 1000000"
        ).alias("g"),
    )
    stats = (
        gaps.where(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("g").alias("n"),
            F.sum("g").alias("s"),
            # operand cast: a sparse user's gap spans seasons (~1e7 s),
            # so g*g ~ 1e14 and the per-user BIGINT sum wraps within a
            # few thousand gaps — DuckDB's HUGEINT SUM stays exact
            F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("ss"),
        )
    )
    scored = stats.where((F.col("n") >= 9) & (F.col("s") > 0)).select(
        "user_id", "n",
        F.expr(
            "sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)"
            " / (CAST(s AS DOUBLE) / n)"
        ).alias("cv"),
    )
    top = scored.orderBy("cv", "user_id").limit(10)
    w_rk = Window.orderBy("cv", "user_id")
    return (
        top.select(
            "user_id", "n", "cv",
            F.row_number().over(w_rk).cast("int").alias("rk"),
        )
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_gaps"),
            F.round("cv", 6).alias("cv_r"),
            "rk",
            (F.col("user_id") == -1).alias("is_planted_bot"),
        )
        .orderBy("rk")
    )


_MK_STATES = ("view", "click", "signup", "error")
_MK_ABBR = ("v", "c", "s", "e")


def _mk_matrix_cols(dialect: str) -> str:
    """Conditional-aggregation pivot of the transition relation into
    one wide row: q_<f><t> transient-to-transient probabilities and
    r_<f> transient-to-purchase, all exact-count ratios."""
    cols = []
    for f, fa in zip(_MK_STATES, _MK_ABBR):
        for t, ta in zip(_MK_STATES, _MK_ABBR):
            cols.append(
                f"CAST(SUM(CASE WHEN frm = '{f}' AND tto = '{t}'"
                f" THEN n ELSE 0 END) AS DOUBLE)"
                f" / SUM(CASE WHEN frm = '{f}' THEN n ELSE 0 END)"
                f" AS q{fa}{ta}"
            )
        cols.append(
            f"CAST(SUM(CASE WHEN frm = '{f}' AND tto = 'purchase'"
            f" THEN n ELSE 0 END) AS DOUBLE)"
            f" / SUM(CASE WHEN frm = '{f}' THEN n ELSE 0 END)"
            f" AS r{fa}"
        )
    return ", ".join(cols)


def _mk_scenario_cols() -> str:
    """Removal-effect matrix surgery: zero every probability into,
    out of, or converting from the removed channel (identical text
    both engines; `removed` is the scenario grid column)."""
    cols = []
    for fa, f in zip(_MK_ABBR, _MK_STATES):
        for ta, t in zip(_MK_ABBR, _MK_STATES):
            cols.append(
                f"CASE WHEN removed IN ('{f}', '{t}') THEN CAST(0 AS"
                f" DOUBLE) ELSE q{fa}{ta} END AS q{fa}{ta}"
            )
        cols.append(
            f"CASE WHEN removed = '{f}' THEN CAST(0 AS DOUBLE)"
            f" ELSE r{fa} END AS r{fa}"
        )
    return ", ".join(cols)


def _mk_fold(dialect: str) -> str:
    """40 fixed iterations of p <- R + Q p as a 4-double array fold
    (leak per step >= ~50% on this chain, so the fixed horizon is
    converged to ~1e-12 — stated, not tuned)."""
    if dialect == "duck":
        idx = lambda k: f"acc[{k}]"  # noqa: E731
        steps = ", ".join(
            f"r{fa} + " + " + ".join(
                f"q{fa}{ta} * {idx(j + 1)}" for j, ta in enumerate(_MK_ABBR)
            )
            for fa in _MK_ABBR
        )
        zero4 = "[" + ", ".join(["CAST(0 AS DOUBLE)"] * 4) + "]"
        return (
            f"list_reduce(list_prepend({zero4},"
            f" list_transform(range(1, 41), x -> {zero4})),"
            f" (acc, x) -> [{steps}])"
        )
    idx = lambda k: f"element_at(acc, {k})"  # noqa: E731
    steps = ", ".join(
        f"r{fa} + " + " + ".join(
            f"q{fa}{ta} * {idx(j + 1)}" for j, ta in enumerate(_MK_ABBR)
        )
        for fa in _MK_ABBR
    )
    zero4 = "array(" + ", ".join(["CAST(0 AS DOUBLE)"] * 4) + ")"
    return (
        f"aggregate(sequence(1, 40), {zero4},"
        f" (acc, it) -> array({steps}))"
    )


_MK_CONV = (
    "(CAST(c0p AS DOUBLE) + c0v * p[{i1}] + c0c * p[{i2}]"
    " + c0s * p[{i3}] + c0e * p[{i4}]) / n0"
)


@register(
    "ev_markov_attribution",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events),
    stepped AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id, day
                                    ORDER BY ts_us, event_id) AS nxt,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
                                ORDER BY ts_us, event_id) AS step
      FROM base),
    trans AS (
      SELECT event_type AS frm, COALESCE(nxt, 'end') AS tto, COUNT(*) AS n
      FROM stepped WHERE event_type != 'purchase'
      GROUP BY 1, 2),
    mat AS (SELECT {_mk_matrix_cols("duck")} FROM trans),
    starts AS (
      SELECT SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c0v,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c0c,
             SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS c0s,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c0e,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS c0p,
             COUNT(*) AS n0
      FROM stepped WHERE step = 1),
    grid AS (SELECT UNNEST(['none', 'view', 'click', 'signup', 'error'])
               AS removed),
    scen AS (
      SELECT removed, {_mk_scenario_cols()}
      FROM grid CROSS JOIN mat),
    solved AS (
      SELECT removed, {_mk_fold("duck")} AS p FROM scen),
    conv AS (
      SELECT removed,
             {_MK_CONV.format(i1=1, i2=2, i3=3, i4=4)} AS cv
      FROM solved CROSS JOIN starts),
    full_cv AS (SELECT cv AS cv_full FROM conv WHERE removed = 'none')
    SELECT removed,
           ROUND(cv, 6) AS conv_r,
           ROUND((cv_full - cv) / cv_full, 6) AS removal_effect_r,
           (cv_full - cv) / cv_full > 0 AS channel_contributes
    FROM conv CROSS JOIN full_cv
    ORDER BY removed
    """,
    tags=("events", "attribution", "markov", "removal-effect"),
)
def ev_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution — the data-driven model that
    completes the attribution family (first-touch, last-touch as-of,
    U-shape are all POSITION heuristics; this one asks the chain
    itself): conversion probability is the absorption probability of
    'purchase' in the user-day transition chain, solved as 40 fixed
    iterations of p <- R + Qp in a 4-double array fold (per-step
    leak to the absorbing states is ~50% on this chain, so the fixed
    horizon is converged to ~1e-12 — stated, not tuned); a channel's
    value is how much total conversion DROPS when every path through
    it is severed (its matrix row, column, and start mass zeroed).

    Transition and start-state probabilities are exact-count ratios
    off one LEAD window; the fold multiplies the identical float
    sequence in both engines (generated from one expression builder,
    the ev_holt_winters discipline). The hashed result carries each
    scenario's conversion, its removal effect, and the
    channel_contributes pin (severing any channel strictly reduces
    conversion on this chain).

    Scale shape: one user-day LEAD window (bounded state) -> one
    <=30-cell transition groupBy + one 6-cell start aggregate ->
    everything after runs on a 5-row scenario grid crossJoined with
    the one-row matrix."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "day").orderBy("ts_us", "event_id")
    base = ev.select(
        "user_id", "event_id", "event_type", "ts_us",
        F.expr("ts_us DIV 86400000000").alias("day"),
    )
    stepped = base.select(
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
        F.row_number().over(w).alias("step"),
    )
    trans = (
        stepped.where(F.col("event_type") != "purchase")
        .groupBy(
            F.col("event_type").alias("frm"),
            F.coalesce(F.col("nxt"), F.lit("end")).alias("tto"),
        )
        .agg(F.count("*").alias("n"))
    )
    mat = trans.agg(
        *[
            F.expr(piece)
            for piece in _split_select_list(_mk_matrix_cols("spark"))
        ]
    )
    starts = stepped.where(F.col("step") == 1).agg(
        F.expr(
            "SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)"
        ).alias("c0v"),
        F.expr(
            "SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)"
        ).alias("c0c"),
        F.expr(
            "SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)"
        ).alias("c0s"),
        F.expr(
            "SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)"
        ).alias("c0e"),
        F.expr(
            "SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
        ).alias("c0p"),
        F.count("*").alias("n0"),
    )
    grid = spark.createDataFrame(
        [(r,) for r in ("none", "view", "click", "signup", "error")],
        "removed string",
    )
    scen = (
        F.broadcast(grid)
        .crossJoin(F.broadcast(mat))
        .selectExpr("removed", *_split_select_list(_mk_scenario_cols()))
    )
    solved = scen.select("removed", F.expr(_mk_fold("spark")).alias("p"))
    conv = solved.crossJoin(F.broadcast(starts)).select(
        "removed",
        F.expr(
            "(CAST(c0p AS DOUBLE) + c0v * element_at(p, 1)"
            " + c0c * element_at(p, 2) + c0s * element_at(p, 3)"
            " + c0e * element_at(p, 4)) / n0"
        ).alias("cv"),
    )
    full_cv = conv.where(F.col("removed") == "none").select(
        F.col("cv").alias("cv_full")
    )
    return (
        conv.crossJoin(F.broadcast(full_cv))
        .select(
            "removed",
            F.round("cv", 6).alias("conv_r"),
            F.expr("ROUND((cv_full - cv) / cv_full, 6)").alias(
                "removal_effect_r"
            ),
            F.expr("(cv_full - cv) / cv_full > 0").alias(
                "channel_contributes"
            ),
        )
        .orderBy("removed")
    )


def _split_select_list(cols: str) -> list[str]:
    """Split a generated 'expr AS name, expr AS name, ...' select
    list on top-level commas (the generated expressions contain no
    nested commas outside CASE/CAST parens, which this respects)."""
    parts, depth, cur = [], 0, []
    for ch in cols:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


@register(
    "ev_growth_accounting",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
              - (SELECT MIN(epoch_us(CAST(ts AS TIMESTAMP))
                            // 86400000000) FROM events WHERE {EVENTS_WELL_FORMED_SQL})) // 7 AS w
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    flagged AS (
      SELECT user_id, w,
             MIN(w) OVER (PARTITION BY user_id) AS first_w,
             LAG(w) OVER (PARTITION BY user_id ORDER BY w) AS prev_w,
             LEAD(w) OVER (PARTITION BY user_id ORDER BY w) AS next_w
      FROM uw),
    contrib AS (
      SELECT w, 
             CASE WHEN w = first_w THEN 1 ELSE 0 END AS is_new,
             CASE WHEN prev_w = w - 1 THEN 1 ELSE 0 END AS is_retained,
             CASE WHEN w > first_w AND (prev_w IS NULL OR prev_w < w - 1)
                  THEN 1 ELSE 0 END AS is_resurrected
      FROM flagged
      UNION ALL
      SELECT w + 1, 0, 0, 0
      FROM flagged
      WHERE next_w IS NULL OR next_w > w + 1),
    churn AS (
      SELECT w + 1 AS w, COUNT(*) AS n_churned
      FROM flagged
      WHERE next_w IS NULL OR next_w > w + 1
      GROUP BY w + 1),
    weekly AS (
      SELECT w, SUM(is_new) AS n_new, SUM(is_retained) AS n_retained,
             SUM(is_resurrected) AS n_resurrected
      FROM contrib GROUP BY w)
    SELECT CAST(weekly.w AS BIGINT) AS week,
           CAST(n_new AS BIGINT) AS n_new,
           CAST(n_retained AS BIGINT) AS n_retained,
           CAST(n_resurrected AS BIGINT) AS n_resurrected,
           CAST(COALESCE(churn.n_churned, 0) AS BIGINT) AS n_churned,
           ROUND(CAST(n_new + n_resurrected AS DOUBLE)
                 / GREATEST(COALESCE(churn.n_churned, 0), 1), 6)
             AS quick_ratio_r
    FROM weekly LEFT JOIN churn ON churn.w = weekly.w
    WHERE weekly.w <= (SELECT MAX(w) FROM uw)
    ORDER BY week
    """,
    tags=("events", "growth-accounting", "engagement"),
)
def ev_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the weekly NEW / RETAINED / RESURRECTED /
    CHURNED decomposition (and its quick ratio, (new + resurrected) /
    churned) that product teams read instead of a bare active-user
    curve, and the set-algebra complement of ev_cohort_retention_
    matrix (which tracks one cohort forward; this decomposes every
    week's actives by WHERE they came from). A user is new in their
    first active week, retained if active the week before,
    resurrected if returning after a gap, and counted churned in the
    week AFTER an active week with no immediate successor.

    Identity (pinned in the vacuity guard): actives(w) = new +
    retained + resurrected, and actives(w) - actives(w-1) =
    new + resurrected - churned — the books must balance exactly,
    which exact integer set arithmetic guarantees. The final week's
    churn-out (w_max + 1) is clipped, stated semantics.

    Scale shape: distinct (user, week) rollup (the only data-sized
    shuffle) -> per-user LAG/LEAD windows (bounded state) -> week-
    sized aggregates."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    min_day = int(
        ev.agg(F.min(F.expr("ts_us DIV 86400000000"))).first()[0]
    )
    uw = ev.select(
        "user_id",
        F.expr(f"(ts_us DIV 86400000000 - {min_day}) DIV 7").alias("w"),
    ).distinct()
    w_user = Window.partitionBy("user_id").orderBy("w")
    flagged = uw.select(
        "user_id", "w",
        F.min("w").over(Window.partitionBy("user_id")).alias("first_w"),
        F.lag("w").over(w_user).alias("prev_w"),
        F.lead("w").over(w_user).alias("next_w"),
    )
    # churn-week sentinels (w+1 rows with zero contribution) mirror the
    # oracle's UNION ALL: a week that only LOSES users — possible when
    # the activity calendar has gaps — must still appear as a row
    contrib = flagged.select(
        "w",
        F.expr("CASE WHEN w = first_w THEN 1 ELSE 0 END").alias("is_new"),
        F.expr("CASE WHEN prev_w = w - 1 THEN 1 ELSE 0 END").alias(
            "is_retained"
        ),
        F.expr(
            "CASE WHEN w > first_w AND (prev_w IS NULL OR prev_w < w - 1)"
            " THEN 1 ELSE 0 END"
        ).alias("is_resurrected"),
    ).unionAll(
        flagged.where(
            F.col("next_w").isNull() | (F.col("next_w") > F.col("w") + 1)
        ).select(
            (F.col("w") + 1).alias("w"),
            F.lit(0).alias("is_new"),
            F.lit(0).alias("is_retained"),
            F.lit(0).alias("is_resurrected"),
        )
    )
    weekly = contrib.groupBy("w").agg(
        F.sum("is_new").alias("n_new"),
        F.sum("is_retained").alias("n_retained"),
        F.sum("is_resurrected").alias("n_resurrected"),
    )
    churn = (
        flagged.where(
            F.col("next_w").isNull() | (F.col("next_w") > F.col("w") + 1)
        )
        .groupBy((F.col("w") + 1).alias("cw"))
        .agg(F.count("*").alias("n_churned"))
    )
    max_w = int(uw.agg(F.max("w")).first()[0])
    return (
        weekly.join(churn, weekly["w"] == churn["cw"], "left")
        .where(F.col("w") <= max_w)
        .select(
            F.col("w").cast("bigint").alias("week"),
            F.col("n_new").cast("bigint").alias("n_new"),
            F.col("n_retained").cast("bigint").alias("n_retained"),
            F.col("n_resurrected").cast("bigint").alias("n_resurrected"),
            F.coalesce(F.col("n_churned"), F.lit(0))
            .cast("bigint")
            .alias("n_churned"),
            F.expr(
                "ROUND(CAST(n_new + n_resurrected AS DOUBLE)"
                " / GREATEST(COALESCE(n_churned, 0), 1), 6)"
            ).alias("quick_ratio_r"),
        )
        .orderBy("week")
    )


@register(
    "ev_did_event_study",
    oracle="""
    WITH base0 AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      FROM events),
    lo AS (SELECT MIN(day) + 15 AS t0 FROM base0),
    seed AS (
      SELECT user_id, day,
             (day - (SELECT t0 FROM lo) - 1) // 5 + 1 AS reps
      FROM base0
      WHERE user_id % 2 = 0 AND event_id % 3 = 0
        AND day > (SELECT t0 FROM lo)),
    plant AS (
      SELECT user_id, day FROM seed, UNNEST(range(1, reps + 1)) u(i)),
    allev AS (
      SELECT user_id, day FROM base0 UNION ALL SELECT * FROM plant),
    users AS (
      SELECT CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS DOUBLE) AS nt,
             CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS DOUBLE) AS nc
      FROM (SELECT DISTINCT user_id, user_id % 2 = 0 AS g FROM base0)),
    daily AS (
      SELECT day - (SELECT t0 FROM lo) AS k,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS tc,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cc
      FROM allev GROUP BY 1),
    diffs AS (
      SELECT k, tc, cc,
             tc / (SELECT nt FROM users) AS tm,
             cc / (SELECT nc FROM users) AS cm,
             tc / (SELECT nt FROM users) - cc / (SELECT nc FROM users)
               AS diff
      FROM daily WHERE k BETWEEN -10 AND 10),
    folds AS (
      SELECT
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(diff ORDER BY k) FILTER (k < 0)), (a, x) -> a + x)
          / 10.0 AS pre_avg,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list(diff ORDER BY k) FILTER (k > 0)), (a, x) -> a + x)
          / 10.0 AS post_avg
      FROM diffs)
    SELECT CAST(k AS BIGINT) AS rel_day,
           ROUND(tm, 6) AS treat_mean_r,
           ROUND(cm, 6) AS ctrl_mean_r,
           ROUND(diff - pre_avg, 6) AS coef_r,
           k < 0 AS is_pre,
           ROUND(pre_avg, 6) AS pre_avg_r,
           ROUND(post_avg, 6) AS post_avg_r,
           post_avg - pre_avg > 0.5 AS lift_detected
    FROM diffs CROSS JOIN folds ORDER BY rel_day
    """,
    tags=("events", "did", "event-study", "causal"),
)
def ev_did_event_study(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic difference-in-differences (event study) — the
    leads-and-lags curve reviewers demand AROUND ev_did_estimator's
    single post-pre number: per relative day k in [-10, 10], the
    treated-minus-control per-user outcome gap, centered on the
    pre-period baseline, so the pre side doubles as the
    parallel-trends diagnostic (flat by construction here — both
    arms are the same Poisson fixture before treatment) and the post
    side traces the PLANTED RAMP (treated users' every third event
    re-enters with multiplicity growing every 5 days after T0 =
    min day + 15 — scale-proportional, the ev_slo_burn_rate plant
    discipline applied to a dose-response shape).

    Counts and cohort sizes are exact integers; the two baseline
    averages fold k-ordered (the dp_psi_drift trick), so every
    engine-side float runs the identical sequence. lift_detected
    pins post_avg - pre_avg > 0.5 (measured ~1.1 at every scale;
    individual sf0.001 days are noisy — cohorts of ~8 users — which
    is exactly why event studies average the window).

    Scale shape: one scan -> plant explode -> per-day groupBy (the
    only data-sized shuffle) -> 21-row window relation and one-row
    folds."""
    ev = load_table(spark, sf_dir, "events")
    base0 = ev.select(
        "user_id", "event_id",
        F.expr("ts_us DIV 86400000000").alias("day"),
    )
    t0 = int(base0.agg(F.expr("MIN(day) + 15").alias("t")).first()["t"])
    seed = base0.where(
        (F.col("user_id") % 2 == 0)
        & (F.col("event_id") % 3 == 0)
        & (F.col("day") > t0)
    ).select(
        "user_id", "day",
        F.expr(f"(day - {t0} - 1) DIV 5 + 1").alias("reps"),
    )
    plant = seed.select(
        "user_id", "day",
        F.explode(F.expr("sequence(1, reps)")).alias("i"),
    ).select("user_id", "day")
    allev = base0.select("user_id", "day").unionByName(plant)
    users = base0.select(
        "user_id", (F.col("user_id") % 2 == 0).alias("g")
    ).distinct().agg(
        F.expr(
            "CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS DOUBLE)"
        ).alias("nt"),
        F.expr(
            "CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS DOUBLE)"
        ).alias("nc"),
    )
    daily = allev.groupBy(
        (F.col("day") - t0).alias("k")
    ).agg(
        F.sum(F.expr("CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END")).alias(
            "tc"
        ),
        F.sum(F.expr("CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END")).alias(
            "cc"
        ),
    )
    diffs = (
        daily.where(F.col("k").between(-10, 10))
        .crossJoin(F.broadcast(users))
        .select(
            "k", "tc", "cc",
            F.expr("tc / nt").alias("tm"),
            F.expr("cc / nc").alias("cm"),
            F.expr("tc / nt - cc / nc").alias("diff"),
        )
    )
    folds = diffs.agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(CASE WHEN k < 0"
            " THEN struct(k, diff) END)), s -> s.diff),"
            " CAST(0 AS DOUBLE), (a, x) -> a + x) / 10.0"
        ).alias("pre_avg"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(CASE WHEN k > 0"
            " THEN struct(k, diff) END)), s -> s.diff),"
            " CAST(0 AS DOUBLE), (a, x) -> a + x) / 10.0"
        ).alias("post_avg"),
    )
    return (
        diffs.crossJoin(F.broadcast(folds))
        .select(
            F.col("k").cast("bigint").alias("rel_day"),
            F.round("tm", 6).alias("treat_mean_r"),
            F.round("cm", 6).alias("ctrl_mean_r"),
            F.expr("ROUND(diff - pre_avg, 6)").alias("coef_r"),
            (F.col("k") < 0).alias("is_pre"),
            F.round("pre_avg", 6).alias("pre_avg_r"),
            F.round("post_avg", 6).alias("post_avg_r"),
            F.expr("post_avg - pre_avg > 0.5").alias("lift_detected"),
        )
        .orderBy("rel_day")
    )


@register(
    "ev_ab_srm_check",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('ab-v1|' || user_id), 1, 8))
                  AS BIGINT) % 2 = 0 AS is_control
      FROM (SELECT DISTINCT user_id FROM events)),
    clean AS (
      SELECT 'clean' AS experiment,
             SUM(CASE WHEN is_control THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN is_control THEN 0 ELSE 1 END) AS nt
      FROM assigned),
    biased AS (
      SELECT 'biased_drop' AS experiment,
             SUM(CASE WHEN is_control THEN 1 ELSE 0 END) AS nc,
             SUM(CASE WHEN is_control OR user_id % 3 = 0
                      THEN 0 ELSE 1 END) AS nt
      FROM assigned),
    both_e AS (SELECT * FROM clean UNION ALL SELECT * FROM biased)
    SELECT experiment,
           CAST(nc AS BIGINT) AS n_control,
           CAST(nt AS BIGINT) AS n_treatment,
           ROUND(POWER(nc - (nc + nt) / 2.0, 2) / ((nc + nt) / 2.0)
                 + POWER(nt - (nc + nt) / 2.0, 2) / ((nc + nt) / 2.0), 6)
             AS chisq_r,
           POWER(nc - (nc + nt) / 2.0, 2) / ((nc + nt) / 2.0)
             + POWER(nt - (nc + nt) / 2.0, 2) / ((nc + nt) / 2.0)
             > 3.841 AS srm_flag
    FROM both_e ORDER BY experiment
    """,
    tags=("events", "experiment", "srm", "guardrail"),
)
def ev_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch — the guardrail every experimentation
    platform runs BEFORE reading ev_abtest_lift or
    ev_cuped_adjustment (a biased assignment invalidates both): the
    1-df chi-square of observed arm counts against the designed
    50/50 split, flagged at the 0.05 critical value 3.841. Two
    experiments share one scan: the CLEAN salted-md5 split (the same
    ab-v1 assignment ev_abtest_lift uses) must NOT flag, and a
    PLANTED broken pipeline (every third user id silently dropped
    from treatment — the classic logging-loss SRM) must flag; the
    pair is the two-sided discrimination pin, hashed.

    Counts are exact integers; the chi-square is one scalar
    expression per row.

    Scale shape: one distinct-user rollup (the only data-sized
    shuffle) -> two one-row aggregates."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.select("user_id").distinct().select(
        "user_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab-v1|"), F.col("user_id"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        ).alias("is_control"),
    )
    chisq = (
        "POWER(nc - (nc + nt) / 2.0, 2) / ((nc + nt) / 2.0)"
        " + POWER(nt - (nc + nt) / 2.0, 2) / ((nc + nt) / 2.0)"
    )
    clean = assigned.agg(
        F.lit("clean").alias("experiment"),
        F.sum(F.when(F.col("is_control"), 1).otherwise(0)).alias("nc"),
        F.sum(F.when(F.col("is_control"), 0).otherwise(1)).alias("nt"),
    )
    biased = assigned.agg(
        F.lit("biased_drop").alias("experiment"),
        F.sum(F.when(F.col("is_control"), 1).otherwise(0)).alias("nc"),
        F.sum(
            F.when(
                F.col("is_control") | (F.col("user_id") % 3 == 0), 0
            ).otherwise(1)
        ).alias("nt"),
    )
    return (
        clean.unionByName(biased)
        .select(
            "experiment",
            F.col("nc").cast("bigint").alias("n_control"),
            F.col("nt").cast("bigint").alias("n_treatment"),
            F.expr(f"ROUND({chisq}, 6)").alias("chisq_r"),
            F.expr(f"{chisq} > 3.841").alias("srm_flag"),
        )
        .orderBy("experiment")
    )


# planted geometric retention: round(100 * 0.8^k) percent at age k
_RET_PCT = {k: round(100 * 0.8 ** k) for k in range(1, 10)}
_RET_CASE = (
    "CASE k "
    + " ".join(f"WHEN {k} THEN {p}" for k, p in _RET_PCT.items())
    + " END"
)


@register(
    "ev_retention_halflife",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id,
             MIN(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS f
      FROM events GROUP BY user_id),
    maxd AS (
      SELECT MAX(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS md
      FROM events),
    ages AS (
      SELECT user_id, f, k, {_RET_CASE} AS pct
      FROM firsts, (SELECT UNNEST(range(1, 10)) AS k)
      WHERE f + k <= (SELECT md FROM maxd)),
    marked AS (
      SELECT k, pct,
             CASE WHEN CAST(('0x' || substr(md5('ret|' || user_id || '|'
                    || k), 1, 8)) AS BIGINT) % 100 < pct
                  THEN 1 ELSE 0 END AS retained
      FROM ages),
    rates AS (
      SELECT k, SUM(retained) AS n_ret, COUNT(*) AS n_elig,
             LN(CAST(SUM(retained) AS DOUBLE) / COUNT(*)) AS lnr
      FROM marked GROUP BY k),
    fit AS (
      SELECT COUNT(*) AS n, SUM(k) AS sk, SUM(k * k) AS skk,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(lnr ORDER BY k)), (a, x) -> a + x) AS sl,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(k * lnr ORDER BY k)), (a, x) -> a + x) AS skl
      FROM rates),
    coef AS (
      SELECT (n * skl - sk * sl) / (n * skk - sk * sk) AS slope
      FROM fit)
    SELECT CAST(k AS INT) AS k,
           CAST(n_elig AS BIGINT) AS n_eligible,
           CAST(n_ret AS BIGINT) AS n_retained,
           ROUND(CAST(n_ret AS DOUBLE) / n_elig, 6) AS rate_r,
           ROUND(slope, 6) AS slope_r,
           ROUND(-LN(2.0) / slope, 6) AS halflife_days_r,
           ABS(-LN(2.0) / slope - 3.106284) < 0.5 AS fit_recovers_plant
    FROM rates CROSS JOIN coef ORDER BY k
    """,
    tags=("events", "retention", "survival-fit", "halflife"),
)
def ev_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life — fitting the exponential decay model
    r(k) = r0 * exp(slope * k) to retention-by-age and reporting
    -ln2/slope, the single number growth teams quote from the curve
    ev_cohort_retention_matrix tabulates. The fixture's users are
    near-daily-active (no organic decay to fit), so retention is
    PLANTED geometric at exactly 0.8^k via per-(user, age) hash
    thinning (round(100*0.8^k)% at age k — the ev_slo_burn_rate
    plant discipline), giving the estimator a known half-life of
    ln2/ln(1.25) = 3.106 days; fit_recovers_plant pins a +-0.5-day
    band (measured within ~0.1 at every scale: the log-linear OLS is
    exact on a geometric curve up to the percentage rounding and
    binomial realization).

    Counts are exact integers; the four OLS sums over the 9 (k,
    ln rate) points fold k-ordered (the dp_psi_drift trick); the
    half-life is one scalar expression.

    Scale shape: per-user first-day groupBy (the only data-sized
    shuffle) -> 9-age fan-out -> 9-row rates -> one-row fit."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.expr("ts_us DIV 86400000000")).alias("f")
    )
    md = int(
        ev.agg(F.max(F.expr("ts_us DIV 86400000000")).alias("m")).first()["m"]
    )
    ages = (
        firsts.crossJoin(
            F.broadcast(
                spark.range(1, 10).select(F.col("id").alias("k"))
            )
        )
        .where(F.col("f") + F.col("k") <= md)
        .select("user_id", "k", F.expr(_RET_CASE).alias("pct"))
    )
    marked = ages.select(
        "k",
        F.expr(
            "CASE WHEN CAST(conv(substring(md5('ret|' ||"
            " CAST(user_id AS STRING) || '|' || CAST(k AS STRING)),"
            " 1, 8), 16, 10) AS BIGINT) % 100 < pct THEN 1 ELSE 0 END"
        ).alias("retained"),
    )
    rates = marked.groupBy("k").agg(
        F.sum("retained").alias("n_ret"),
        F.count("*").alias("n_elig"),
        F.expr(
            "LN(CAST(SUM(retained) AS DOUBLE) / COUNT(*))"
        ).alias("lnr"),
    )
    fit = rates.agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sk"),
        F.sum(F.expr("k * k")).alias("skk"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(k, lnr))),"
            " s -> s.lnr), CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("sl"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(k,"
            " k * lnr AS t))), s -> s.t), CAST(0 AS DOUBLE),"
            " (a, x) -> a + x)"
        ).alias("skl"),
    ).select(
        F.expr("(n * skl - sk * sl) / (n * skk - sk * sk)").alias("slope")
    )
    return (
        rates.crossJoin(F.broadcast(fit))
        .select(
            F.col("k").cast("int").alias("k"),
            F.col("n_elig").cast("bigint").alias("n_eligible"),
            F.col("n_ret").cast("bigint").alias("n_retained"),
            F.expr("ROUND(CAST(n_ret AS DOUBLE) / n_elig, 6)").alias(
                "rate_r"
            ),
            F.round("slope", 6).alias("slope_r"),
            F.expr("ROUND(-LN(2.0) / slope, 6)").alias("halflife_days_r"),
            F.expr("ABS(-LN(2.0) / slope - 3.106284) < 0.5").alias(
                "fit_recovers_plant"
            ),
        )
        .orderBy("k")
    )


@register(
    "ev_uplift_qini",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    marked AS (
      SELECT user_id,
        CAST(('0x' || substr(md5('up-v1|' || user_id), 1, 8)) AS BIGINT)
          % 2 = 0 AS treated,
        CAST(('0x' || substr(md5('per|' || user_id), 1, 8)) AS BIGINT)
          % 4 = 0 AS persuadable,
        CAST(('0x' || substr(md5('c0|' || user_id), 1, 8)) AS BIGINT)
          % 100 AS h0,
        CAST(('0x' || substr(md5('c1|' || user_id), 1, 8)) AS BIGINT)
          % 100 AS h1,
        CAST(('0x' || substr(md5('sc|' || user_id), 1, 8)) AS BIGINT)
          % 100 AS hs
      FROM users),
    outcomes AS (
      SELECT user_id, treated,
             CASE WHEN h0 < 20 OR (treated AND persuadable AND h1 < 80)
                  THEN 1 ELSE 0 END AS conv,
             CASE WHEN persuadable THEN 100 + hs % 50 ELSE hs END
               AS good_score,
             hs AS random_score
      FROM marked),
    both_m AS (
      SELECT 'good' AS model, good_score AS score, user_id, treated, conv
      FROM outcomes
      UNION ALL
      SELECT 'random', random_score, user_id, treated, conv
      FROM outcomes),
    ranked AS (
      SELECT model, treated, conv,
             NTILE(10) OVER (PARTITION BY model
                             ORDER BY score DESC, user_id) AS decile
      FROM both_m),
    dec AS (
      SELECT model, decile,
             SUM(CASE WHEN treated THEN conv ELSE 0 END) AS ct,
             SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS nt,
             SUM(CASE WHEN NOT treated THEN conv ELSE 0 END) AS cc,
             SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS nc
      FROM ranked GROUP BY 1, 2),
    cum AS (
      SELECT model, decile,
             SUM(ct) OVER w AS ct, SUM(nt) OVER w AS nt,
             SUM(cc) OVER w AS cc, SUM(nc) OVER w AS nc
      FROM dec
      WINDOW w AS (PARTITION BY model ORDER BY decile
                   ROWS UNBOUNDED PRECEDING)),
    qini AS (
      SELECT model, decile,
             ct - cc * CAST(nt AS DOUBLE) / GREATEST(nc, 1) AS q,
             MAX(CASE WHEN decile = 10
                      THEN ct - cc * CAST(nt AS DOUBLE) / GREATEST(nc, 1)
                      END) OVER (PARTITION BY model) AS q10
      FROM cum),
    auuc AS (
      SELECT model,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(q - decile / 10.0 * q10 ORDER BY decile)),
               (a, x) -> a + x) AS auuc_adj
      FROM qini GROUP BY model),
    wide AS (
      SELECT MAX(CASE WHEN model = 'good' THEN auuc_adj END) AS ga,
             MAX(CASE WHEN model = 'random' THEN auuc_adj END) AS ra
      FROM auuc)
    -- FLOOR-in-both, not ROUND: cumulative qini values are ratios
    -- of exact integers and land on 6th-decimal ties at sf0.1, where
    -- ROUND-on-double is DuckDB-build-sensitive
    SELECT q.model, CAST(q.decile AS INT) AS decile,
           FLOOR(q.q * 1e6 + 0.5) / 1e6 AS qini_r,
           FLOOR((q.q - q.decile / 10.0 * q.q10) * 1e6 + 0.5) / 1e6
             AS qini_adj_r,
           FLOOR(a.auuc_adj * 1e6 + 0.5) / 1e6 AS auuc_adj_r,
           ga > ra + ABS(ra) AS good_dominates
    FROM qini q JOIN auuc a ON a.model = q.model CROSS JOIN wide
    ORDER BY q.model, q.decile
    """,
    tags=("events", "uplift", "qini", "experiment"),
)
def ev_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve / AUUC — uplift-model evaluation, the targeting
    question the experimentation family stops short of (ev_abtest_
    lift says the treatment works ON AVERAGE; uplift asks WHO to
    treat): users are ranked by an uplift score, and the cumulative
    incremental conversions ct - cc*nt/nc per score decile, with the
    random-targeting diagonal subtracted, is the Qini curve whose
    sum is the AUUC. The campaign is PLANTED: 25% hash-chosen
    persuadables convert (80%) only under treatment over a 20% base
    rate, the 'good' model scores persuadables on top, the 'random'
    model is pure hash — so ground truth says good's adjusted AUUC
    must dominate (measured 48.6 vs -1.9 at sf0.01, 441 vs -11 at
    sf0.1; the 15-user sf0.001 curve is honest noise, which is why
    good_dominates is pinned at the gate scale by the vacuity guard,
    the ev_ab_srm_check convention).

    NTILE over a fully tie-broken order is engine-identical; counts
    are exact integers; the AUUC folds decile-ordered.

    Scale shape: one distinct-user rollup -> exact per-model rank via
    the grouped distributed prefix-sum helper (operators/rank.py; a
    partitionBy(model) window has only 2 values and would funnel half
    the corpus through each of two tasks) -> ntile closed form ->
    20-cell aggregate -> decile-sized windows and folds. The
    per-model counts come with the helper's ranking, not a second
    corpus pass."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    hashes = {
        "treated": ("up-v1|", 2, 0),
        "persuadable": ("per|", 4, 0),
    }
    hx = lambda salt, m: (  # noqa: E731
        f"CAST(conv(substring(md5('{salt}' || CAST(user_id AS STRING)),"
        f" 1, 8), 16, 10) AS BIGINT) % {m}"
    )
    marked = users.select(
        "user_id",
        F.expr(f"{hx('up-v1|', 2)} = 0").alias("treated"),
        F.expr(f"{hx('per|', 4)} = 0").alias("persuadable"),
        F.expr(hx("c0|", 100)).alias("h0"),
        F.expr(hx("c1|", 100)).alias("h1"),
        F.expr(hx("sc|", 100)).alias("hs"),
    )
    outcomes = marked.select(
        "user_id", "treated",
        F.expr(
            "CASE WHEN h0 < 20 OR (treated AND persuadable AND h1 < 80)"
            " THEN 1 ELSE 0 END"
        ).alias("conv"),
        F.expr(
            "CASE WHEN persuadable THEN 100 + hs % 50 ELSE hs END"
        ).alias("good_score"),
        F.col("hs").alias("random_score"),
    )
    both_m = outcomes.select(
        F.lit("good").alias("model"),
        F.col("good_score").alias("score"),
        "user_id", "treated", "conv",
    ).unionByName(
        outcomes.select(
            F.lit("random").alias("model"),
            F.col("random_score").alias("score"),
            "user_id", "treated", "conv",
        )
    )
    # the per-model decile is NTILE(10) over USER-cardinality input —
    # partitionBy(model) has only 2 values, so a window would funnel
    # half the corpus through each of two tasks. Instead: exact
    # per-model rank from the grouped distributed prefix-sum helper
    # (operators/rank.py), then ntile's closed form (first n%10 tiles
    # hold ceil(n/10) rows) — bit-identical to the oracle's window.
    g, sizes = grouped_row_number(
        both_m,
        ["model"],
        [F.col("score").desc(), F.col("user_id")],
        out_col="grn",
    )
    # per-model sizes come with the ranking — a groupBy on both_m here
    # would re-run the whole distinct+union lineage as a second pass
    nm = F.lit(None)
    for (model,), n in sizes.items():
        nm = F.when(F.col("model") == model, n).otherwise(nm)
    ranked = g.withColumn("nm", nm).select(
        "model", "treated", "conv",
        F.expr(ntile_sql("grn", "nm", 10)).alias("decile"),
    )
    dec = ranked.groupBy("model", "decile").agg(
        F.sum(F.expr("CASE WHEN treated THEN conv ELSE 0 END")).alias("ct"),
        F.sum(F.expr("CASE WHEN treated THEN 1 ELSE 0 END")).alias("nt"),
        F.sum(
            F.expr("CASE WHEN NOT treated THEN conv ELSE 0 END")
        ).alias("cc"),
        F.sum(F.expr("CASE WHEN NOT treated THEN 1 ELSE 0 END")).alias("nc"),
    )
    w_cum = (
        Window.partitionBy("model")
        .orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dec.select(
        "model", "decile",
        F.sum("ct").over(w_cum).alias("ct"),
        F.sum("nt").over(w_cum).alias("nt"),
        F.sum("cc").over(w_cum).alias("cc"),
        F.sum("nc").over(w_cum).alias("nc"),
    )
    w_mod = Window.partitionBy("model")
    qini = cum.select(
        "model", "decile",
        F.expr(
            "ct - cc * CAST(nt AS DOUBLE) / GREATEST(nc, 1)"
        ).alias("q"),
    ).select(
        "model", "decile", "q",
        F.max(
            F.expr("CASE WHEN decile = 10 THEN q END")
        ).over(w_mod).alias("q10"),
    )
    auuc = qini.groupBy("model").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(decile,"
            " q - decile / 10.0 * q10 AS t))), s -> s.t),"
            " CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("auuc_adj")
    )
    wide = auuc.agg(
        F.max(F.expr("CASE WHEN model = 'good' THEN auuc_adj END")).alias(
            "ga"
        ),
        F.max(
            F.expr("CASE WHEN model = 'random' THEN auuc_adj END")
        ).alias("ra"),
    )
    return (
        qini.join(auuc, "model")
        .crossJoin(F.broadcast(wide))
        .select(
            "model",
            F.col("decile").cast("int").alias("decile"),
            # FLOOR-in-both micro-unit quantization — see oracle
            (F.floor(F.col("q") * 1e6 + 0.5) / 1e6).alias("qini_r"),
            F.expr("FLOOR((q - decile / 10.0 * q10) * 1e6 + 0.5) / 1e6").alias(
                "qini_adj_r"
            ),
            (F.floor(F.col("auuc_adj") * 1e6 + 0.5) / 1e6).alias("auuc_adj_r"),
            F.expr("ga > ra + ABS(ra)").alias("good_dominates"),
        )
        .orderBy("model", "decile")
    )


@register(
    "ev_shapley_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, MIN(ts) AS cts FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    exposure AS (
      SELECT e.user_id,
             MAX(CASE WHEN e.event_type = 'click'  THEN 1 ELSE 0 END)
           + MAX(CASE WHEN e.event_type = 'view'   THEN 2 ELSE 0 END)
           + MAX(CASE WHEN e.event_type = 'signup' THEN 4 ELSE 0 END) AS mask
      FROM events e JOIN conv c USING (user_id)
      WHERE e.ts < c.cts AND e.event_type IN ('click', 'view', 'signup')
      GROUP BY e.user_id
    ),
    per_user AS (
      SELECT c.user_id, COALESCE(x.mask, 0) AS mask
      FROM conv c LEFT JOIN exposure x USING (user_id)
    ),
    v_raw AS (SELECT mask, COUNT(*) AS n FROM per_user GROUP BY mask),
    masks AS (
      SELECT m.mask, CAST(COALESCE(v.n, 0) AS BIGINT) AS v
      FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) m(mask)
      LEFT JOIN v_raw v USING (mask)
    ),
    channels AS (
      SELECT * FROM (VALUES ('click', 1), ('signup', 4), ('view', 2)) c(channel, bit)
    ),
    marginals AS (
      SELECT ch.channel,
             CAST(SUM((CASE WHEN bit_count(m.mask) = 1 THEN 1 ELSE 2 END)
                      * (vi.v - m.v)) AS BIGINT) AS phi_x6
      FROM channels ch
      JOIN masks m ON (m.mask & ch.bit) = 0
      JOIN masks vi ON vi.mask = m.mask + ch.bit
      GROUP BY ch.channel
    ),
    checks AS (
      SELECT CAST(SUM(phi_x6) AS BIGINT) AS sum_phi FROM marginals
    ),
    anchor AS (
      SELECT 6 * ((SELECT v FROM masks WHERE mask = 7)
                  - (SELECT v FROM masks WHERE mask = 0)) AS rhs
    )
    SELECT channel, phi_x6,
           ROUND(phi_x6 / 6.0, 6) AS shapley_r,
           (SELECT sum_phi FROM checks) = (SELECT rhs FROM anchor)
               AS efficiency_holds
    FROM marginals ORDER BY channel
    """,
    tags=("events", "attribution", "shapley", "causal"),
)
def ev_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value multi-touch attribution over the 3-channel
    exposure game (click/view/signup touches strictly BEFORE the
    user's first purchase; Zhao et al.'s coalition definition with a
    count-valued characteristic: v(S) = converters whose exact
    exposure set is S). The 3-channel game is solved EXACTLY —
    marginal contributions over all 2^3 coalitions with the
    |S|!(n-|S|-1)!/n! weights held as integers (x6), so the whole
    computation is exact BIGINT arithmetic and the Shapley
    EFFICIENCY axiom (sum of phi = v(N) - v(empty)) is pinned as a
    hashed boolean. Complements ev_markov_attribution (removal
    effects) and ev_first_touch_attribution (heuristic) with the
    game-theoretic standard.

    Scale shape: two user-keyed aggregations (first-purchase asof +
    exposure masks) collapse the corpus to one row per user, then to
    the 8-row v(S) table; the coalition enumeration is an 8x3
    literal-table join (broadcast, constant size — the 2^n blowup is
    bounded because ATTRIBUTION games fix n at the channel count,
    not the user count)."""
    ev = load_table(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"))
    )
    exposure = (
        ev.join(conv, "user_id")
        .where(
            (F.col("ts") < F.col("cts"))
            & F.col("event_type").isin("click", "view", "signup")
        )
        .groupBy("user_id")
        .agg(
            (
                F.max(F.when(F.col("event_type") == "click", 1).otherwise(0))
                + F.max(F.when(F.col("event_type") == "view", 2).otherwise(0))
                + F.max(F.when(F.col("event_type") == "signup", 4).otherwise(0))
            ).alias("mask")
        )
    )
    per_user = conv.join(exposure, "user_id", "left").select(
        F.coalesce("mask", F.lit(0)).alias("mask")
    )
    v_raw = per_user.groupBy("mask").agg(F.count("*").alias("n"))
    masks = (
        spark.createDataFrame([(m,) for m in range(8)], "mask int")
        .join(v_raw, "mask", "left")
        .select("mask", F.coalesce("n", F.lit(0)).cast("bigint").alias("v"))
    )
    channels = spark.createDataFrame(
        [("click", 1), ("signup", 4), ("view", 2)], "channel string, bit int"
    )
    m = masks.select(F.col("mask").alias("m_mask"), F.col("v").alias("m_v"))
    vi = masks.select(F.col("mask").alias("i_mask"), F.col("v").alias("i_v"))
    # 3x8 literal-table coalition enumeration: the bitmask predicate is
    # non-equi, hence an intentional broadcast nested-loop over
    # constant-size sides (BNLJ_ALLOWED)
    marginals = (
        F.broadcast(channels)
        .join(F.broadcast(m), F.expr("(m_mask & bit) = 0"))
        .join(F.broadcast(vi), F.expr("i_mask = m_mask + bit"))
        .groupBy("channel")
        .agg(
            F.sum(
                F.when(F.bit_count("m_mask") == 1, 1).otherwise(2)
                * (F.col("i_v") - F.col("m_v"))
            )
            .cast("bigint")
            .alias("phi_x6")
        )
    )
    checks = marginals.agg(F.sum("phi_x6").cast("bigint").alias("sum_phi"))
    anchor = (
        masks.agg(
            (
                6
                * (
                    F.sum(F.when(F.col("mask") == 7, F.col("v")).otherwise(0))
                    - F.sum(F.when(F.col("mask") == 0, F.col("v")).otherwise(0))
                )
            ).alias("rhs")
        )
    )
    return (
        marginals.crossJoin(F.broadcast(checks))
        .crossJoin(F.broadcast(anchor))
        .select(
            "channel",
            "phi_x6",
            F.round(F.col("phi_x6") / 6.0, 6).alias("shapley_r"),
            (F.col("sum_phi") == F.col("rhs")).alias("efficiency_holds"),
        )
        .orderBy("channel")
    )


# SPRT log-likelihood-ratio increments for H0: p=0.2 vs H1: p=0.25,
# alpha = beta = 0.05. The LLR at trial t is s*L1 + f*L0 with s/f the
# EXACT integer success/failure counts from a cumulative window, so
# the walk is computed identically in both engines (no float
# accumulation across rows — the only doubles are two LN constants
# scaled by exact integers).
_SPRT_LLR = "(s * LN(0.25 / 0.2) + f * LN(0.75 / 0.8))"
_SPRT_CROSS = f"({_SPRT_LLR} >= LN(19.0) OR {_SPRT_LLR} <= -LN(19.0))"


@register(
    "ev_sprt_sequential",
    oracle=f"""
    WITH trials AS (
      SELECT event_id, ts,
             CASE WHEN CAST(('0x' || substr(md5('sprt-arm|' || event_id), 1, 8))
                       AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1
                  WHEN CAST(('0x' || substr(md5('sprt-arm|' || event_id), 1, 8))
                       AS BIGINT) % 2 = 1
                   AND CAST(('0x' || substr(md5('sprt-lift|' || event_id), 1, 8))
                       AS BIGINT) % 10 = 0 THEN 1
                  ELSE 0 END AS succ
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    walk AS (
      SELECT arm, succ,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
             CAST(SUM(succ) OVER (PARTITION BY arm ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
      FROM trials
      WINDOW w AS (PARTITION BY arm ORDER BY ts, event_id)
    ),
    llr AS (
      SELECT arm, rn, s, rn - s AS f FROM walk
    ),
    summary AS (
      SELECT arm,
             CAST(MAX(rn) AS BIGINT) AS n_trials,
             CAST(MAX(s) AS BIGINT) AS n_succ,
             CAST(MIN(rn) FILTER (WHERE {_SPRT_CROSS}) AS BIGINT) AS t_cross,
             arg_min(CASE WHEN {_SPRT_LLR} >= LN(19.0) THEN 'accept_h1'
                          ELSE 'accept_h0' END, rn)
                 FILTER (WHERE {_SPRT_CROSS}) AS verdict,
             arg_min(ROUND({_SPRT_LLR}, 6), rn)
                 FILTER (WHERE {_SPRT_CROSS}) AS llr_cross
      FROM llr GROUP BY arm
    )
    SELECT arm, n_trials, n_succ,
           ROUND(CAST(n_succ AS DOUBLE) / n_trials, 6) AS p_hat_r,
           COALESCE(verdict, 'continue') AS decision,
           CAST(COALESCE(t_cross, -1) AS BIGINT) AS t_decide,
           COALESCE(llr_cross, 0.0) AS llr_at_decision_r
    FROM summary ORDER BY arm
    """,
    tags=("events", "abtest", "sequential", "sprt"),
)
def ev_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test run over the event
    stream as an always-on A/B guardrail — the sequential-testing
    complement of ev_abtest_lift's fixed-horizon test and
    ev_power_analysis's a-priori sizing: the LLR for H0: p=0.2 vs
    H1: p=0.25 (alpha=beta=0.05, Wald boundaries +/-ln 19) is a
    cumulative walk per arm, and the test DECIDES at the first
    boundary crossing instead of a fixed n. Arm B carries a
    hash-planted ~+8pp lift (10% extra successes over the ~20%
    purchase base), so B's walk drifts up to accept_h1 while A's
    drifts down to accept_h0 — both decision branches are exercised
    at the gate scale.

    Determinism: the walk state is the exact integer (successes,
    failures) pair from ONE cumulative window; the LLR is
    reconstituted row-locally as s*L1 + f*L0, so no float ever
    accumulates across rows and the crossing trial is
    engine-identical. Scale shape: with only 2 arms a partitionBy(arm)
    window would push HALF the corpus through each of two tasks, so
    the walk state (running trial count rn and running success count
    s) comes from the grouped distributed prefix-sum helper
    (operators/rank.py::grouped_prefix_sums — range-partitioned
    per-(partition, arm) cumsums plus a tiny per-arm offset chain);
    everything after the walk is a 2-row aggregate."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    arm_hash = (
        F.conv(F.substring(F.md5(F.concat(F.lit("sprt-arm|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    lift_hash = (
        F.conv(F.substring(F.md5(F.concat(F.lit("sprt-lift|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long")
        % 10
    )
    trials = ev.select(
        "event_id",
        "ts",
        F.when(arm_hash == 0, "A").otherwise("B").alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .when((arm_hash == 1) & (lift_hash == 0), 1)
        .otherwise(0)
        .alias("succ"),
    )
    walk = (
        grouped_prefix_sums(
            trials.withColumn("one", F.lit(1)),
            ["arm"],
            ["ts", "event_id"],
            {"one": "rn", "succ": "s"},
        )
        .select(
            "arm",
            F.col("rn").cast("bigint").alias("rn"),
            F.col("s").cast("bigint").alias("s"),
        )
        .withColumn("f", F.col("rn") - F.col("s"))
    )
    summary = walk.groupBy("arm").agg(
        F.max("rn").cast("bigint").alias("n_trials"),
        F.max("s").cast("bigint").alias("n_succ"),
        F.expr(f"MIN(rn) FILTER (WHERE {_SPRT_CROSS})").cast("bigint").alias("t_cross"),
        F.expr(
            f"min_by(CASE WHEN {_SPRT_LLR} >= LN(19.0) THEN 'accept_h1'"
            f" ELSE 'accept_h0' END, rn) FILTER (WHERE {_SPRT_CROSS})"
        ).alias("verdict"),
        F.expr(f"min_by(ROUND({_SPRT_LLR}, 6), rn) FILTER (WHERE {_SPRT_CROSS})").alias(
            "llr_cross"
        ),
    )
    return summary.select(
        "arm",
        "n_trials",
        "n_succ",
        F.round(F.col("n_succ").cast("double") / F.col("n_trials"), 6).alias("p_hat_r"),
        F.coalesce("verdict", F.lit("continue")).alias("decision"),
        F.coalesce("t_cross", F.lit(-1)).cast("bigint").alias("t_decide"),
        F.coalesce("llr_cross", F.lit(0.0)).alias("llr_at_decision_r"),
    ).orderBy("arm")


@register(
    "ev_propensity_matching",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0)
                  AS BIGINT) AS y_cents
      FROM events GROUP BY user_id
    ),
    labeled AS (
      SELECT *,
             CASE WHEN CAST(('0x' || substr(md5('psm-v1|' || user_id), 1, 8))
                       AS BIGINT) % 10
                  < CASE WHEN x >= 67 THEN 7 ELSE 2 END
                  THEN 1 ELSE 0 END AS treated
      FROM per_user
    ),
    ctrl AS (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(y_cents) AS BIGINT) AS sum_c
      FROM labeled WHERE treated = 0 GROUP BY x
    ),
    frame AS (
      SELECT x, 1 AS is_ctrl, CAST(NULL AS BIGINT) AS user_id,
             CAST(NULL AS BIGINT) AS y_cents FROM ctrl
      UNION ALL
      SELECT x, 0, user_id, y_cents FROM labeled WHERE treated = 1
    ),
    nn AS (
      SELECT x, is_ctrl, user_id, y_cents,
             last_value(CASE WHEN is_ctrl = 1 THEN x END IGNORE NULLS)
                 OVER (ORDER BY x ASC, is_ctrl DESC, user_id
                       ROWS UNBOUNDED PRECEDING) AS prev_x,
             last_value(CASE WHEN is_ctrl = 1 THEN x END IGNORE NULLS)
                 OVER (ORDER BY x DESC, is_ctrl DESC, user_id
                       ROWS UNBOUNDED PRECEDING) AS next_x
      FROM frame
    ),
    m AS (
      SELECT user_id, x, y_cents,
             CASE WHEN prev_x IS NULL AND next_x IS NULL THEN NULL
                  WHEN next_x IS NULL THEN prev_x
                  WHEN prev_x IS NULL THEN next_x
                  WHEN (x - prev_x) <= (next_x - x) THEN prev_x
                  ELSE next_x END AS mx
      FROM nn WHERE is_ctrl = 0
    ),
    mm AS (
      SELECT m.user_id, m.y_cents, c.n_c, c.sum_c
      FROM m JOIN ctrl c ON c.x = m.mx
      WHERE m.mx IS NOT NULL AND ABS(m.x - m.mx) <= 2
    ),
    att AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
             CAST(SUM(CAST(ROUND((y_cents * n_c - sum_c) * 10000.0 / n_c, 0)
                           AS BIGINT)) AS BIGINT) AS sum_dmicro
      FROM mm
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(treated) AS BIGINT) AS n_treated,
             CAST(SUM(CASE WHEN treated = 1 THEN y_cents END) AS BIGINT) AS sum_t,
             CAST(SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
             CAST(SUM(CASE WHEN treated = 0 THEN y_cents END) AS BIGINT) AS sum_ctrl
      FROM labeled
    )
    SELECT n_users, n_treated, n_matched,
           CAST(n_treated - n_matched AS BIGINT) AS n_unmatched,
           ROUND(CAST(sum_dmicro AS DOUBLE) / n_matched / 1000000.0, 6) AS att_r,
           ROUND((CAST(sum_t AS DOUBLE) / n_treated
                  - CAST(sum_ctrl AS DOUBLE) / n_ctrl) / 100.0, 6) AS naive_diff_r,
           ABS(CAST(sum_dmicro AS DOUBLE) / n_matched / 1000000.0)
             < ABS((CAST(sum_t AS DOUBLE) / n_treated
                    - CAST(sum_ctrl AS DOUBLE) / n_ctrl) / 100.0) AS bias_reduced
    FROM att, tot
    """,
    tags=("events", "causal", "matching", "psm"),
)
def ev_propensity_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor covariate matching (1:1 with replacement,
    caliper 2) estimating a treatment effect under a PLANTED
    activity-confounded assignment: treatment propensity is 0.7 for
    active users (>= 67 events) and 0.2 for inactive ones (salted-md5
    assignment, true effect ZERO), so the naive treated-minus-control
    spend gap is biased upward by the activity confounder while
    matching on activity recovers ~0 — the |ATT| < |naive| boolean is
    the hashed debiasing pin. Completes the causal-inference family
    (ev_did_estimator, ev_cuped_adjustment, dp_poststratified_estimate)
    with the matching estimator.

    Determinism: outcomes are exact integer cents; the per-match
    treated-minus-control difference is quantized to BIGINT micro-
    dollars before summing, so no float accumulates across rows.
    Nearest control lookup exploits the caliper: only controls with
    |x - mx| <= 2 can survive, so each treated user joins its 5
    candidate covariate values against the per-covariate control
    aggregate and min_by picks the nearest (equidistant ties toward
    the lower covariate — the oracle's prev-on-tie rule, which also
    resolves distance 0 to the co-located control). Scale: a x5
    row-local explode + one hash join keyed on the covariate — no
    global sort or single-partition window at any corpus size. The
    ORACLE keeps the equivalent union-frame as-of form (ASC+DESC
    cumulative last_value IGNORE NULLS) because DuckDB sorts
    single-node anyway; within the caliper the two formulations are
    provably identical."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("y_cents"),
    )
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("psm-v1|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
    )
    labeled = per_user.withColumn(
        "treated",
        F.when(h < F.when(F.col("x") >= 67, 7).otherwise(2), 1).otherwise(0),
    )
    ctrl = (
        labeled.where(F.col("treated") == 0)
        .groupBy("x")
        .agg(
            F.count("*").cast("bigint").alias("n_c"),
            F.sum("y_cents").cast("bigint").alias("sum_c"),
        )
    )
    # caliper-2 nearest-control lookup WITHOUT a global as-of window:
    # every surviving match satisfies |x - mx| <= 2, so each treated
    # user has at most 5 candidate covariate values {x-2..x+2}; explode
    # them (x5 row-local), join the per-covariate control aggregate,
    # and keep the nearest (ties toward the LOWER covariate — exactly
    # the oracle's prev-on-equidistance rule). Treated users whose
    # nearest control is outside the caliper get no surviving
    # candidate and drop out, identical to the oracle's post-filter.
    cand = labeled.where(F.col("treated") == 1).select(
        "user_id",
        "x",
        "y_cents",
        F.explode(F.expr("sequence(x - 2, x + 2)")).alias("mx"),
    )
    mm = (
        cand.join(ctrl.withColumnRenamed("x", "mx"), "mx")
        .groupBy("user_id", "x", "y_cents")
        .agg(
            F.min_by(
                F.struct("mx", "n_c", "sum_c"),
                F.struct(F.abs(F.col("x") - F.col("mx")), F.col("mx")),
            ).alias("m")
        )
        .select("user_id", "x", "y_cents", "m.n_c", "m.sum_c")
    )
    att = mm.agg(
        F.count("*").cast("bigint").alias("n_matched"),
        F.sum(
            F.round(
                (F.col("y_cents") * F.col("n_c") - F.col("sum_c"))
                * 10000.0
                / F.col("n_c"),
                0,
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("sum_dmicro"),
    )
    tot = labeled.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("treated").cast("bigint").alias("n_treated"),
        F.sum(F.when(F.col("treated") == 1, F.col("y_cents")))
        .cast("bigint")
        .alias("sum_t"),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_ctrl"),
        F.sum(F.when(F.col("treated") == 0, F.col("y_cents")))
        .cast("bigint")
        .alias("sum_ctrl"),
    )
    att_expr = "CAST(sum_dmicro AS DOUBLE) / n_matched / 1000000.0"
    naive_expr = (
        "(CAST(sum_t AS DOUBLE) / n_treated"
        " - CAST(sum_ctrl AS DOUBLE) / n_ctrl) / 100.0"
    )
    return att.crossJoin(F.broadcast(tot)).select(
        "n_users",
        "n_treated",
        "n_matched",
        (F.col("n_treated") - F.col("n_matched")).cast("bigint").alias("n_unmatched"),
        F.expr(f"ROUND({att_expr}, 6)").alias("att_r"),
        F.expr(f"ROUND({naive_expr}, 6)").alias("naive_diff_r"),
        F.expr(f"ABS({att_expr}) < ABS({naive_expr})").alias("bias_reduced"),
    )


def _icc_expr(a: str, s: str, sq: str, n: str, k: str, sn2: str) -> dict[str, str]:
    """One-way-ANOVA ICC + design effect as shared SQL text (unequal
    cluster sizes, Searle's n0). Inputs are exact integer columns; the
    doubles below are written once and evaluated identically by both
    engines."""
    ssb = f"(CAST({a} AS DOUBLE) - CAST({s} AS DOUBLE) * {s} / {n})"
    ssw = f"(CAST({sq} AS DOUBLE) - {a})"
    msb = f"({ssb} / ({k} - 1))"
    msw = f"({ssw} / ({n} - {k}))"
    n0 = f"(({n} - CAST({sn2} AS DOUBLE) / {n}) / ({k} - 1))"
    icc = f"(({msb} - {msw}) / ({msb} + ({n0} - 1.0) * {msw}))"
    deff = f"(1.0 + (CAST({n} AS DOUBLE) / {k} - 1.0) * {icc})"
    return {"icc": icc, "deff": deff}


_ICC_P = _icc_expr("a_p", "s_p", "sq_p", "n_units", "n_clusters", "sn2")
_ICC_0 = _icc_expr("a_0", "s_0", "sq_0", "n_units", "n_clusters", "sn2")


@register(
    "ev_cluster_randomized_icc",
    oracle=f"""
    WITH units AS (
      SELECT user_id,
             CAST(ROUND(value * 100, 0) AS BIGINT)
               + 10000 * (CAST(('0x' || substr(md5('icc-v1|' || user_id), 1, 8))
                          AS BIGINT) % 5) AS yp,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS y0
      FROM events
    ),
    cl AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_j,
             CAST(SUM(yp) AS BIGINT) AS sp, CAST(SUM(y0) AS BIGINT) AS s0,
             SUM(CAST(yp AS HUGEINT) * yp) AS sqp,
             SUM(CAST(y0 AS HUGEINT) * y0) AS sq0
      FROM units GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(SUM(n_j) AS BIGINT) AS n_units,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             SUM(CAST(n_j AS HUGEINT) * n_j) AS sn2,
             CAST(SUM(sp) AS BIGINT) AS s_p,
             CAST(SUM(s0) AS BIGINT) AS s_0,
             SUM(sqp) AS sq_p,
             SUM(sq0) AS sq_0,
             SUM(CAST(ROUND(CAST(sp AS DOUBLE) * sp / n_j, 0) AS HUGEINT))
                 AS a_p,
             SUM(CAST(ROUND(CAST(s0 AS DOUBLE) * s0 / n_j, 0) AS HUGEINT))
                 AS a_0
      FROM cl
    )
    SELECT n_units, n_clusters,
           ROUND({_ICC_P['icc']}, 6) AS icc_planted_r,
           ROUND({_ICC_0['icc']}, 6) AS icc_null_r,
           ROUND({_ICC_P['deff']}, 6) AS deff_planted_r,
           ROUND({_ICC_0['deff']}, 6) AS deff_null_r,
           {_ICC_P['icc']} > 0.3 AND ABS({_ICC_0['icc']}) < 0.05
               AS icc_discriminates
    FROM tot
    """,
    tags=("events", "abtest", "cluster-randomized", "icc"),
)
def ev_cluster_randomized_icc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-class correlation + design effect for CLUSTER-randomized
    experiments — the variance-inflation guardrail (Kish's
    deff = 1 + (m-1)*ICC) that unit-level tests like ev_abtest_lift
    silently need when randomization happens per USER but metrics are
    per EVENT: with positive ICC, naive unit-level variance
    understates truth by deff and false positives explode. A planted
    per-user spend offset (salted md5, 5 levels) creates real
    between-cluster variance (measured ICC ~0.5 -> deff >> 1) while
    the unplanted outcome's ICC sits at ~0 — the two-sided
    discrimination is the hashed pin.

    Determinism: one-way unequal-size ANOVA (Searle's n0) computed
    entirely from exact integer sums (cents, squared cents, cluster
    sizes); the only per-cluster division is quantized back to BIGINT
    before the cross-cluster sum, so no float accumulates in any
    order-dependent way. Scale: one user-keyed aggregate + one 1-row
    total — the same two-level collapse every per-user rollup uses."""
    ev = load_table(spark, sf_dir, "events")
    h5 = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("icc-v1|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 5
    )
    y0 = F.round(F.col("value") * 100, 0).cast("bigint")
    units = ev.select(
        "user_id", (y0 + 10000 * h5).alias("yp"), y0.alias("y0")
    )
    cl = units.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_j"),
        F.sum("yp").cast("bigint").alias("sp"),
        F.sum("y0").cast("bigint").alias("s0"),
        # squared-cents moments in DECIMAL(38,0)/HUGEINT with operand
        # casts: yp^2 ~ 2e10 per event, so the corpus-level sums blow
        # past BIGINT at ~1e8 events — Spark would wrap silently where
        # DuckDB stays exact (same for sn2 = sum of squared cluster
        # sizes and the quantized between-cluster masses a_p/a_0)
        F.sum(F.expr("CAST(yp AS DECIMAL(38,0)) * yp")).alias("sqp"),
        F.sum(F.expr("CAST(y0 AS DECIMAL(38,0)) * y0")).alias("sq0"),
    )
    tot = cl.agg(
        F.sum("n_j").cast("bigint").alias("n_units"),
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum(F.expr("CAST(n_j AS DECIMAL(38,0)) * n_j")).alias("sn2"),
        F.sum("sp").cast("bigint").alias("s_p"),
        F.sum("s0").cast("bigint").alias("s_0"),
        F.sum("sqp").alias("sq_p"),
        F.sum("sq0").alias("sq_0"),
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(sp AS DOUBLE) * sp / n_j, 0)"
                " AS DECIMAL(38,0))"
            )
        ).alias("a_p"),
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(s0 AS DOUBLE) * s0 / n_j, 0)"
                " AS DECIMAL(38,0))"
            )
        ).alias("a_0"),
    )
    return tot.select(
        "n_units",
        "n_clusters",
        F.expr(f"ROUND({_ICC_P['icc']}, 6)").alias("icc_planted_r"),
        F.expr(f"ROUND({_ICC_0['icc']}, 6)").alias("icc_null_r"),
        F.expr(f"ROUND({_ICC_P['deff']}, 6)").alias("deff_planted_r"),
        F.expr(f"ROUND({_ICC_0['deff']}, 6)").alias("deff_null_r"),
        F.expr(
            f"{_ICC_P['icc']} > 0.3 AND ABS({_ICC_0['icc']}) < 0.05"
        ).alias("icc_discriminates"),
    )


@register(
    "ev_littles_law",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    gaps AS (
      SELECT user_id, ts_us, event_id,
             CASE WHEN LAG(ts_us) OVER w IS NULL THEN 1
                  WHEN ts_us - LAG(ts_us) OVER w >= 1800000000 THEN 1
                  ELSE 0 END AS ns
      FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sess AS (
      SELECT user_id, ts_us,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ),
    iv AS (
      SELECT user_id, sid, MIN(ts_us) AS s_us, MAX(ts_us) AS e_us
      FROM sess GROUP BY user_id, sid
    ),
    changes AS (
      SELECT s_us AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT e_us AS t, -1 AS delta FROM iv
    ),
    sweep AS (
      SELECT t, delta,
             SUM(delta) OVER (ORDER BY t, delta ROWS UNBOUNDED PRECEDING) AS conc,
             LEAD(t) OVER (ORDER BY t, delta) AS nxt
      FROM changes
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
             CAST(SUM(e_us - s_us) AS BIGINT) AS total_session_us,
             CAST(MIN(s_us) AS BIGINT) AS t0,
             CAST(MAX(e_us) AS BIGINT) AS t1
      FROM iv
    ),
    integ AS (
      SELECT CAST(SUM(conc * (COALESCE(nxt, t) - t)) AS BIGINT) AS sweep_us
      FROM sweep
    )
    SELECT n_sessions, total_session_us, sweep_us,
           total_session_us = sweep_us AS identity_holds,
           ROUND(CAST(sweep_us AS DOUBLE) / (t1 - t0), 6) AS avg_concurrency_r,
           ROUND(CAST(n_sessions AS DOUBLE) * 3600000000.0 / (t1 - t0), 6) AS lambda_per_hour_r,
           ROUND(CAST(total_session_us AS DOUBLE) / n_sessions / 60000000.0, 6)
               AS w_minutes_r
    FROM tot, integ
    """,
    tags=("events", "queueing", "littles-law", "session"),
)
def ev_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law (L = lambda * W) verified as an EXACT integer
    identity over sessionized activity: the time integral of session
    concurrency (a +1/-1 sweep line over session boundaries, integer
    microseconds) must equal the plain sum of session durations —
    the queueing-theory conservation law that makes time-average
    concurrency, arrival rate, and mean session length mutually
    consistent. identity_holds pins the sessionizer and the sweep
    line against each other bit-exactly; the derived L, lambda, and W
    are the capacity-planning numbers every concurrency dashboard
    (ev_peak_concurrency) implicitly assumes reconcile.

    Determinism: everything up to the final ratios is BIGINT. Tie
    rows in the sweep order (t, delta) contribute zero-width
    intervals, so the integral is invariant to engine tie-breaking.
    Scale: sessionization shards by user; the sweep line is DAY-
    SEGMENTED — boundaries cumulate within their UTC day in parallel
    (partitioned windows), each day reduces to one (partial integral,
    net delta, first/last timestamp) row, and the only global-order
    window runs over that bounded days-grain relation (#calendar-days
    rows) to chain the cross-day concurrency offsets and bridge the
    inter-day gaps: integral_d = ps_d + off0_d*(last-first) +
    off0_d*(first - prev_last). Exactly the oracle's single sweep
    regrouped by day — same BIGINT sum, no unbounded single-partition
    pass."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    w_order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.lag("ts_us").over(w_order)
    ns = F.when(prev.isNull() | (F.col("ts_us") - prev >= 1800000000), 1).otherwise(0)
    sess = ev.select(
        "user_id", "ts_us", "event_id", ns.alias("ns")
    ).withColumn("sid", F.sum("ns").over(w_cum))
    iv = sess.groupBy("user_id", "sid").agg(
        F.min("ts_us").alias("s_us"), F.max("ts_us").alias("e_us")
    )
    changes = iv.select(F.col("s_us").alias("t"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("e_us").alias("t"), F.lit(-1).alias("delta"))
    ).withColumn("day", F.expr("t DIV 86400000000"))
    w_day = Window.partitionBy("day").orderBy("t", "delta")
    w_day_cum = w_day.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = changes.select(
        "day",
        "t",
        "delta",
        F.sum("delta").over(w_day_cum).alias("cl"),
        F.lead("t").over(w_day).alias("nxt"),
    )
    per_day = local.groupBy("day").agg(
        F.sum(F.expr("cl * (COALESCE(nxt, t) - t)")).alias("ps"),
        F.sum("delta").alias("net"),
        F.min("t").alias("first_t"),
        F.max("t").alias("last_t"),
    )
    # bounded days-grain relation (#calendar-days rows) — the one
    # global-order window, over a relation that cannot outgrow the
    # corpus' calendar span
    w_days = Window.orderBy("day")
    w_days_cum = w_days.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days = per_day.select(
        "ps",
        "first_t",
        "last_t",
        (F.sum("net").over(w_days_cum) - F.col("net")).alias("off0"),
        F.lag("last_t").over(w_days).alias("prev_last"),
    )
    tot = iv.agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum(F.col("e_us") - F.col("s_us")).cast("bigint").alias("total_session_us"),
        F.min("s_us").cast("bigint").alias("t0"),
        F.max("e_us").cast("bigint").alias("t1"),
    )
    integ = days.agg(
        F.sum(
            F.col("ps")
            + F.col("off0") * (F.col("last_t") - F.col("first_t"))
            + F.coalesce(
                F.col("off0") * (F.col("first_t") - F.col("prev_last")),
                F.lit(0),
            )
        )
        .cast("bigint")
        .alias("sweep_us")
    )
    return tot.crossJoin(F.broadcast(integ)).select(
        "n_sessions",
        "total_session_us",
        "sweep_us",
        (F.col("total_session_us") == F.col("sweep_us")).alias("identity_holds"),
        F.expr("ROUND(CAST(sweep_us AS DOUBLE) / (t1 - t0), 6)").alias(
            "avg_concurrency_r"
        ),
        F.expr("ROUND(CAST(n_sessions AS DOUBLE) * 3600000000.0 / (t1 - t0), 6)").alias(
            "lambda_per_hour_r"
        ),
        F.expr(
            "ROUND(CAST(total_session_us AS DOUBLE) / n_sessions / 60000000.0, 6)"
        ).alias("w_minutes_r"),
    )


# --- bandit replay: the deterministic epsilon-greedy policy evaluated
# by Li et al.'s replay method over a hash-logged uniform stream.
# Policy state is pure integers (pulls, reward sums, step counter), so
# greedy argmax comparisons are exact cross-multiplications — no float
# enters the fold and both engines replay the identical trajectory.
# acc layout: [n0, n1, n2, s0, s1, s2, matched, rsum, t]
def _bandit_chosen(acc: str, elem_t: str) -> str:
    """Arm chosen at step t given state acc (SQL array, 0-indexed)."""
    a = acc
    return (
        f"CASE WHEN {elem_t} % 5 = 0 THEN CAST(({elem_t} DIV 5) % 3 AS BIGINT) "
        f"WHEN {a}[0] = 0 THEN 0L WHEN {a}[1] = 0 THEN 1L WHEN {a}[2] = 0 THEN 2L "
        f"ELSE (CASE WHEN {a}[3] * {a}[1] >= {a}[4] * {a}[0] "
        f"THEN (CASE WHEN {a}[3] * {a}[2] >= {a}[5] * {a}[0] THEN 0L ELSE 2L END) "
        f"ELSE (CASE WHEN {a}[4] * {a}[2] >= {a}[5] * {a}[1] THEN 1L ELSE 2L END) "
        f"END) END"
    )


@register(
    "ev_bandit_replay",
    oracle="""
    WITH RECURSIVE logged AS (
      SELECT ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS t, a,
             CASE WHEN h2 % 10 < 3 + 3 * a THEN 1 ELSE 0 END AS r
      FROM (
        SELECT event_id,
               CAST(('0x' || substr(md5('ban-a|' || CAST(event_id AS VARCHAR)),
                     1, 8)) AS BIGINT) % 3 AS a,
               CAST(('0x' || substr(md5('ban-r|' || CAST(event_id AS VARCHAR)),
                     1, 8)) AS BIGINT) AS h2
        FROM events ORDER BY event_id LIMIT 600
      )
    ),
    sim AS (
      SELECT -1 AS t, CAST(0 AS BIGINT) AS n0, CAST(0 AS BIGINT) AS n1,
             CAST(0 AS BIGINT) AS n2, CAST(0 AS BIGINT) AS s0,
             CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2,
             CAST(0 AS BIGINT) AS matched, CAST(0 AS BIGINT) AS rsum
      UNION ALL
      SELECT l.t,
             sim.n0 + CASE WHEN ch = 0 AND l.a = 0 THEN 1 ELSE 0 END,
             sim.n1 + CASE WHEN ch = 1 AND l.a = 1 THEN 1 ELSE 0 END,
             sim.n2 + CASE WHEN ch = 2 AND l.a = 2 THEN 1 ELSE 0 END,
             sim.s0 + CASE WHEN ch = 0 AND l.a = 0 THEN l.r ELSE 0 END,
             sim.s1 + CASE WHEN ch = 1 AND l.a = 1 THEN l.r ELSE 0 END,
             sim.s2 + CASE WHEN ch = 2 AND l.a = 2 THEN l.r ELSE 0 END,
             sim.matched + CASE WHEN ch = l.a THEN 1 ELSE 0 END,
             sim.rsum + CASE WHEN ch = l.a THEN l.r ELSE 0 END
      FROM (
        SELECT sim.*,
               CASE WHEN l0.t % 5 = 0 THEN (l0.t // 5) % 3
                    WHEN sim.n0 = 0 THEN 0 WHEN sim.n1 = 0 THEN 1
                    WHEN sim.n2 = 0 THEN 2
                    ELSE (CASE WHEN sim.s0 * sim.n1 >= sim.s1 * sim.n0
                          THEN (CASE WHEN sim.s0 * sim.n2 >= sim.s2 * sim.n0
                                THEN 0 ELSE 2 END)
                          ELSE (CASE WHEN sim.s1 * sim.n2 >= sim.s2 * sim.n1
                                THEN 1 ELSE 2 END) END) END AS ch,
               l0.t AS lt
        FROM sim JOIN logged l0 ON l0.t = sim.t + 1
      ) sim
      JOIN logged l ON l.t = sim.lt
    ),
    final AS (
      SELECT * FROM sim WHERE t = (SELECT MAX(t) FROM logged)
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_logged,
             CAST(SUM(r) AS BIGINT) AS logged_reward
      FROM logged
    )
    SELECT n_logged, matched AS n_matched, n0, n1, n2,
           ROUND(CAST(rsum AS DOUBLE) / matched, 6) AS replay_value_r,
           ROUND(CAST(logged_reward AS DOUBLE) / n_logged, 6) AS logging_value_r,
           ROUND(CAST(n2 AS DOUBLE) / matched, 6) AS best_arm_share_r,
           CAST(n2 AS DOUBLE) / matched > 0.5
             AND CAST(rsum AS DOUBLE) / matched
                 > CAST(logged_reward AS DOUBLE) / n_logged AS policy_learns
    FROM final, base
    """,
    tags=("events", "bandit", "off-policy", "replay"),
)
def ev_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy bandit evaluation by REPLAY (Li et al. 2011) — the
    unbiased counterfactual method next to dp_offpolicy_ips' inverse-
    propensity weighting: a deterministic epsilon-greedy policy
    (greedy on exact integer means, one forced-exploration step in
    five) is replayed over a uniformly-hash-logged 600-event stream
    with arm-dependent planted rewards (rates 0.3/0.6/0.9); only
    steps where the policy's choice matches the logged action count.
    The policy must concentrate on the best arm (share > 0.5) and its
    replay value must beat the uniform logging value ~0.6 — both
    pinned.

    Determinism: the whole trajectory is integer state — greedy
    comparisons are cross-multiplications (s_i*n_j >= s_j*n_i), so
    Spark's single-row aggregate fold and DuckDB's recursive CTE walk
    identical paths. Scale: replay is inherently sequential, so the
    fold runs over a BOUNDED 600-step window (the per-experiment unit
    at 100 TB — fleets of replays parallelize across experiments,
    like the SPRT arms)."""
    ev = load_table(spark, sf_dir, "events")
    ha = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ban-a|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 3
    )
    hr = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ban-r|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long")
    )
    logged = (
        ev.orderBy("event_id")
        .limit(600)
        .select(
            "event_id",
            ha.alias("a"),
            F.when(hr % 10 < 3 + 3 * ha, F.lit(1)).otherwise(0).cast("long").alias("r"),
        )
    )
    chosen = _bandit_chosen("acc", "acc[8]")
    upd = []
    for i in range(3):
        upd.append(f"acc[{i}] + (CASE WHEN ({chosen}) = {i}L AND e.a = {i}L THEN 1L ELSE 0L END)")
    for i in range(3):
        upd.append(
            f"acc[{i + 3}] + (CASE WHEN ({chosen}) = {i}L AND e.a = {i}L THEN e.r ELSE 0L END)"
        )
    upd.append(f"acc[6] + (CASE WHEN ({chosen}) = e.a THEN 1L ELSE 0L END)")
    upd.append(f"acc[7] + (CASE WHEN ({chosen}) = e.a THEN e.r ELSE 0L END)")
    upd.append("acc[8] + 1L")
    fold = (
        "aggregate(transform(array_sort(collect_list(struct(event_id, a, r))),"
        " x -> struct(x.a AS a, x.r AS r)),"
        " array(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L),"
        f" (acc, e) -> array({', '.join(upd)}), acc -> acc)"
    )
    state = logged.agg(
        F.expr(fold).alias("acc"),
        F.count("*").cast("bigint").alias("n_logged"),
        F.sum("r").cast("bigint").alias("logged_reward"),
    )
    return state.select(
        "n_logged",
        F.col("acc")[6].alias("n_matched"),
        F.col("acc")[0].alias("n0"),
        F.col("acc")[1].alias("n1"),
        F.col("acc")[2].alias("n2"),
        F.expr("ROUND(CAST(acc[7] AS DOUBLE) / acc[6], 6)").alias("replay_value_r"),
        F.expr("ROUND(CAST(logged_reward AS DOUBLE) / n_logged, 6)").alias(
            "logging_value_r"
        ),
        F.expr("ROUND(CAST(acc[2] AS DOUBLE) / acc[6], 6)").alias("best_arm_share_r"),
        F.expr(
            "CAST(acc[2] AS DOUBLE) / acc[6] > 0.5 AND "
            "CAST(acc[7] AS DOUBLE) / acc[6]"
            " > CAST(logged_reward AS DOUBLE) / n_logged"
        ).alias("policy_learns"),
    )


def _rdd_sums(pfx: str, pred: str, c: int) -> str:
    """Conditional OLS sufficient statistics for one side of a cutoff
    (SQL text shared verbatim by both engines; exact BIGINT sums)."""
    return (
        f"CAST(SUM(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS {pfx}_n, "
        f"CAST(SUM(CASE WHEN {pred} THEN x - {c} ELSE 0 END) AS BIGINT) AS {pfx}_sx, "
        f"CAST(SUM(CASE WHEN {pred} THEN y ELSE 0 END) AS BIGINT) AS {pfx}_sy, "
        f"CAST(SUM(CASE WHEN {pred} THEN (x - {c}) * (x - {c}) ELSE 0 END) AS BIGINT)"
        f" AS {pfx}_sxx, "
        f"CAST(SUM(CASE WHEN {pred} THEN (x - {c}) * y ELSE 0 END) AS BIGINT)"
        f" AS {pfx}_sxy"
    )


def _rdd_intercept(pfx: str) -> str:
    """Local-linear intercept at the cutoff from the side's exact sums."""
    n, sx, sy, sxx, sxy = (f"{pfx}_{c}" for c in ("n", "sx", "sy", "sxx", "sxy"))
    slope = (
        f"((CAST({n} AS DOUBLE) * {sxy} - CAST({sx} AS DOUBLE) * {sy})"
        f" / NULLIF(CAST({n} AS DOUBLE) * {sxx} - CAST({sx} AS DOUBLE) * {sx},"
        f" 0.0))"
    )
    return (
        f"((CAST({sy} AS DOUBLE) - {slope} * {sx})"
        f" / NULLIF(CAST({n} AS DOUBLE), 0.0))"
    )


_RDD_GROUPS = ", ".join(
    [
        _rdd_sums("ml", "x >= 55 AND x < 67", 67),
        _rdd_sums("mr", "x >= 67 AND x < 79", 67),
        _rdd_sums("pl", "x >= 54 AND x < 60", 60),
        _rdd_sums("pr", "x >= 60 AND x < 66", 60),
    ]
)
_RDD_TAU = f"({_rdd_intercept('mr')} - {_rdd_intercept('ml')}) / 100.0"
_RDD_PLACEBO = f"({_rdd_intercept('pr')} - {_rdd_intercept('pl')}) / 100.0"


@register(
    "ev_regression_discontinuity",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0) AS BIGINT)
               + 50000 * CASE WHEN COUNT(*) >= 67 THEN 1 ELSE 0 END AS y
      FROM events GROUP BY user_id
    ),
    sums AS (SELECT {_RDD_GROUPS} FROM per_user)
    SELECT ml_n AS n_left, mr_n AS n_right,
           ROUND({_RDD_TAU}, 6) AS tau_dollars_r,
           ROUND({_RDD_PLACEBO}, 6) AS placebo_dollars_r,
           ABS(({_RDD_TAU}) - 500.0) < 150.0
             AND ABS({_RDD_PLACEBO}) < 150.0 AS rdd_detects
    FROM sums
    """,
    tags=("events", "causal", "rdd"),
)
def ev_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity design — the last missing
    estimator in the causal family (DiD, CUPED, PSM, post-strat,
    uplift, ICC): users crossing an activity threshold (x >= 67
    events) receive a PLANTED +$500 outcome jump on top of spend that
    varies SMOOTHLY (and steeply) with activity, and local linear
    fits on each side of the cutoff (bandwidth 12) must recover the
    jump while a placebo cutoff at 60 (bandwidth 6, fully inside the
    untreated region) must find none — naive above-vs-below means
    would be hopelessly confounded by the spend-activity slope that
    the side-specific slopes absorb.

    Determinism: both OLS fits consume exact BIGINT sufficient
    statistics (outcomes in integer cents, regressor centered at the
    cutoff) accumulated in ONE conditional aggregation pass; the only
    doubles are the closed-form slope/intercept ratios, written once
    and evaluated identically by both engines. Scale: one user-keyed
    aggregate then a single-row reduce — the four windows share the
    same scan."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("x"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.round(F.col("value") * 100, 0).cast("bigint"),
                    )
                ),
                F.lit(0),
            )
            + 50000 * F.when(F.count("*") >= 67, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    sums = per_user.selectExpr("x", "y").agg(
        *[F.expr(e) for e in _split_agg_exprs(_RDD_GROUPS)]
    )
    return sums.selectExpr(
        "ml_n AS n_left",
        "mr_n AS n_right",
        f"ROUND({_RDD_TAU}, 6) AS tau_dollars_r",
        f"ROUND({_RDD_PLACEBO}, 6) AS placebo_dollars_r",
        f"ABS(({_RDD_TAU}) - 500.0) < 150.0 AND ABS({_RDD_PLACEBO}) < 150.0"
        " AS rdd_detects",
    )


def _split_agg_exprs(groups: str) -> list[str]:
    """Split the shared 'expr AS alias, ...' text into individual
    aggregate expressions for DataFrame.agg (top-level commas only)."""
    out, depth, cur = [], 0, []
    for ch in groups:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out


# O'Brien-Fleming two-sided boundaries for K=5 looks, alpha=0.05:
# z_k = C * sqrt(K/k) with C chosen so total type-I error is 5%.
# Classic tabulated values, shared as literals by both engines.
# CAST AS DOUBLE: bare decimal literals type the CASE as DECIMAL(7,6)
# in BOTH engines, an env-fragile canonicalization surface (the r7
# driver-mismatch class); both parsers bind the literal to the same
# IEEE double, so the cast is value-preserving.
_OBF_BOUND = (
    "CAST(CASE look WHEN 1 THEN 4.561748 WHEN 2 THEN 3.225665"
    " WHEN 3 THEN 2.633717 WHEN 4 THEN 2.280874 ELSE 2.040068 END"
    " AS DOUBLE)"
)
# z for a two-sample proportion test from exact cumulative counts.
# sqrt is IEEE-correctly-rounded, so both engines agree bit-for-bit.
_OBF_Z = (
    "((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)"
    " / SQRT((CAST(sa + sb AS DOUBLE) / (na + nb))"
    " * (1.0 - CAST(sa + sb AS DOUBLE) / (na + nb))"
    " * (1.0 / na + 1.0 / nb)))"
)


@register(
    "ev_group_sequential_obf",
    oracle=f"""
    WITH ranked AS (
      SELECT event_id,
             CASE WHEN CAST(('0x' || substr(md5('gst-arm|' ||
                       CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                  THEN 0 ELSE 1 END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS base_succ,
             CASE WHEN CAST(('0x' || substr(md5('gst-lift|' ||
                       CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 = 0
                  THEN 1 ELSE 0 END AS lift,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER () AS n
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    tagged AS (
      SELECT e.experiment, r.arm,
             CASE WHEN e.experiment = 'planted' AND r.arm = 1
                  THEN CASE WHEN r.base_succ + r.lift > 0 THEN 1 ELSE 0 END
                  ELSE r.base_succ END AS succ,
             CAST((r.rn * 5 + r.n - 1) // r.n AS INT) AS l
      FROM ranked r, (VALUES ('null'), ('planted')) e(experiment)
    ),
    inc AS (
      SELECT experiment, l,
             SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na_i,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb_i,
             SUM(CASE WHEN arm = 0 THEN succ ELSE 0 END) AS sa_i,
             SUM(CASE WHEN arm = 1 THEN succ ELSE 0 END) AS sb_i
      FROM tagged GROUP BY experiment, l
    ),
    looks AS (
      SELECT experiment, l AS look,
             CAST(SUM(na_i) OVER w AS BIGINT) AS na,
             CAST(SUM(nb_i) OVER w AS BIGINT) AS nb,
             CAST(SUM(sa_i) OVER w AS BIGINT) AS sa,
             CAST(SUM(sb_i) OVER w AS BIGINT) AS sb
      FROM inc
      WINDOW w AS (PARTITION BY experiment ORDER BY l
                   ROWS UNBOUNDED PRECEDING)
    ),
    zed AS (
      SELECT experiment, look, na, nb, sa, sb,
             ROUND({_OBF_Z}, 6) AS z_r,
             {_OBF_BOUND} AS bound_r,
             ABS({_OBF_Z}) >= {_OBF_BOUND} AS crossed
      FROM looks
    ),
    decided AS (
      SELECT experiment,
             CAST(COALESCE(MIN(CASE WHEN crossed THEN look END), -1) AS INT)
                 AS decided_look
      FROM zed GROUP BY experiment
    )
    SELECT z.experiment, CAST(z.look AS INT) AS look, z.na, z.nb, z.sa, z.sb,
           z.z_r, z.bound_r, z.crossed, d.decided_look
    FROM zed z JOIN decided d USING (experiment)
    ORDER BY z.experiment, z.look
    """,
    tags=("events", "abtest", "sequential", "group-sequential"),
)
def ev_group_sequential_obf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B testing with O'Brien-Fleming boundaries
    (K=5 interim looks, two-sided alpha=0.05) — the industry-standard
    interim-analysis discipline beside ev_sprt_sequential's fully-
    sequential SPRT: the experiment peeks at 20/40/60/80/100% of the
    horizon and may stop early only if |z| clears the look's OBF
    bound (huge early, ~2.04 at the end — the shape that preserves
    overall type-I error). TWO experiments run on the same stream: a
    'planted' one (arm B gets the same ~+8pp hash lift family as the
    SPRT query, under a different salt) that must cross and stop
    early at the gate scale, and a 'null' one (no lift) that must
    never cross — both sides of the guarantee pinned in one result.

    Determinism: cumulative per-look counts are exact integers from
    one look-indexed aggregate + a 5-row prefix window; the z
    statistic uses only divisions and SQRT (IEEE correctly-rounded,
    unlike libm ln/pow), so both engines compute identical doubles.
    Scale: the look index needs each event's exact global rank, which
    the shared range-partitioned prefix-sum helper (operators/rank.py)
    computes with parallel per-partition row_numbers and a
    #partitions-sized driver prefix sum — no single-partition global
    sort; everything after is a 10-row relation."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    arm = (
        F.conv(F.substring(F.md5(F.concat(F.lit("gst-arm|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 2
    )
    lift = (
        F.conv(F.substring(F.md5(F.concat(F.lit("gst-lift|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 10
        == 0
    ).cast("int")
    base = ev.select(
        "event_id",
        "ts_us",
        arm.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("base_succ"),
        lift.alias("lift"),
    )
    # exact global event rank WITHOUT a single-partition sort: the
    # shared range-partitioned prefix-sum helper (operators/rank.py);
    # the corpus count n falls out of the same pass as a literal
    ranked, n = global_row_number(base, ["ts_us", "event_id"], out_col="rn")
    experiments = spark.createDataFrame(
        [("null",), ("planted",)], "experiment string"
    )
    tagged = ranked.crossJoin(F.broadcast(experiments)).select(
        "experiment",
        "arm",
        F.when(
            (F.col("experiment") == "planted") & (F.col("arm") == 1),
            F.when(F.col("base_succ") + F.col("lift") > 0, 1).otherwise(0),
        )
        .otherwise(F.col("base_succ"))
        .alias("succ"),
        F.expr(f"CAST((rn * 5 + {n} - 1) DIV {n} AS INT)").alias("l"),
    )
    inc = tagged.groupBy("experiment", "l").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("na_i"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("nb_i"),
        F.sum(F.when(F.col("arm") == 0, F.col("succ")).otherwise(0)).alias("sa_i"),
        F.sum(F.when(F.col("arm") == 1, F.col("succ")).otherwise(0)).alias("sb_i"),
    )
    w_cum = (
        Window.partitionBy("experiment")
        .orderBy("l")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    looks = inc.select(
        "experiment",
        F.col("l").alias("look"),
        F.sum("na_i").over(w_cum).cast("bigint").alias("na"),
        F.sum("nb_i").over(w_cum).cast("bigint").alias("nb"),
        F.sum("sa_i").over(w_cum).cast("bigint").alias("sa"),
        F.sum("sb_i").over(w_cum).cast("bigint").alias("sb"),
    )
    zed = looks.select(
        "experiment",
        "look",
        "na",
        "nb",
        "sa",
        "sb",
        F.expr(f"ROUND({_OBF_Z}, 6)").alias("z_r"),
        F.expr(_OBF_BOUND).alias("bound_r"),
        F.expr(f"ABS({_OBF_Z}) >= {_OBF_BOUND}").alias("crossed"),
    )
    decided = zed.groupBy("experiment").agg(
        F.coalesce(F.min(F.when(F.col("crossed"), F.col("look"))), F.lit(-1))
        .cast("int")
        .alias("decided_look")
    )
    return (
        zed.join(decided, "experiment")
        .select(
            "experiment",
            F.col("look").cast("int").alias("look"),
            "na",
            "nb",
            "sa",
            "sb",
            "z_r",
            "bound_r",
            "crossed",
            "decided_look",
        )
        .orderBy("experiment", "look")
    )


@register(
    "ev_metric_decomposition",
    oracle="""
    WITH purch AS (
      SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS segment,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000
                       < 7 * 86400000000 THEN 1
                  WHEN epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000
                       >= 21 * 86400000000 THEN 2
                  ELSE 0 END AS period,
             CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
             CAST(('0x' || substr(md5('mdx|' || CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10 AS h
      FROM events WHERE event_type = 'purchase'
    ),
    shaped AS (
      SELECT segment, period,
             cents + CASE WHEN period = 2 AND segment = 1 THEN 2000 ELSE 0 END
                 AS cents
      FROM purch
      WHERE period IN (1, 2)
        AND NOT (period = 2 AND segment = 0 AND h < 7)
    ),
    cells AS (
      SELECT segment, period, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS v
      FROM shaped GROUP BY segment, period
    ),
    tot AS (
      SELECT period, CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(v) AS BIGINT) AS vv
      FROM cells GROUP BY period
    ),
    wide AS (
      SELECT c1.segment,
             c1.n AS n1, c2.n AS n2, c1.v AS v1, c2.v AS v2,
             t1.nn AS nn1, t2.nn AS nn2, t1.vv AS vv1, t2.vv AS vv2
      FROM (SELECT * FROM cells WHERE period = 1) c1
      JOIN (SELECT * FROM cells WHERE period = 2) c2 USING (segment)
      CROSS JOIN (SELECT * FROM tot WHERE period = 1) t1
      CROSS JOIN (SELECT * FROM tot WHERE period = 2) t2
    ),
    contrib AS (
      SELECT segment, n1, n2,
             CAST(v1 AS DOUBLE) / n1 / 100.0 AS y1,
             CAST(v2 AS DOUBLE) / n2 / 100.0 AS y2,
             (CAST(n1 AS DOUBLE) / nn1)
               * (CAST(v2 AS DOUBLE) / n2 - CAST(v1 AS DOUBLE) / n1) / 100.0
                 AS within_c,
             (CAST(n2 AS DOUBLE) / nn2 - CAST(n1 AS DOUBLE) / nn1)
               * (CAST(v2 AS DOUBLE) / n2) / 100.0 AS mix_c,
             (CAST(vv2 AS DOUBLE) / nn2 - CAST(vv1 AS DOUBLE) / nn1) / 100.0
                 AS delta_all
      FROM wide
    ),
    q AS (
      SELECT segment, n1, n2,
             ROUND(y1, 6) AS y1_r, ROUND(y2, 6) AS y2_r,
             ROUND(within_c, 6) AS within_contrib_r,
             ROUND(mix_c, 6) AS mix_contrib_r,
             CAST(ROUND(within_c * 1000000.0, 0) AS BIGINT) AS w_q,
             CAST(ROUND(mix_c * 1000000.0, 0) AS BIGINT) AS m_q,
             delta_all
      FROM contrib
    )
    SELECT segment, n1, n2, y1_r, y2_r, within_contrib_r, mix_contrib_r,
           ROUND(MAX(delta_all) OVER (), 6) AS delta_metric_r,
           ABS(CAST(SUM(w_q + m_q) OVER () AS DOUBLE) / 1000000.0
               - MAX(delta_all) OVER ()) < 0.0001 AS decomposition_exact
    FROM q ORDER BY segment
    """,
    tags=("events", "metrics", "decomposition", "mix-shift"),
)
def ev_metric_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-movement decomposition (Oaxaca/Laspeyres two-term form)
    — the "WHY did average order value move" breakdown every metrics
    review needs: the change in the overall per-purchase value
    between week 1 and week 4 splits EXACTLY into per-segment
    within-segment changes (period-1 weights x value deltas) and
    mix-shift terms (weight deltas x period-2 values). Two planted,
    separable movements make the attribution non-vacuous: segment 0
    loses 70% of its period-2 volume (a pure mix shift) and segment
    1's period-2 purchases gain $20 (a pure within shift) — each must
    dominate its own column while the identity within+mix == delta
    holds to 1e-4 dollars (contributions quantized to micro-dollars
    before the cross-segment sum).

    Scale: one (segment, period)-keyed aggregate over the purchase
    scan, a 2-row total, and a 5-row decomposition — window functions
    run on the 5-row relation only."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mdx|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 10
    )
    day_us = 86400000000
    origin = 1704067200000000  # 2024-01-01 epoch micros
    period = (
        F.when(F.col("ts_us") - origin < 7 * day_us, 1)
        .when(F.col("ts_us") - origin >= 21 * day_us, 2)
        .otherwise(0)
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        (F.get_json_object("props", "$.k").cast("bigint") % 5).alias("segment"),
        period.alias("period"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        h.alias("h"),
    )
    shaped = purch.where(
        F.col("period").isin(1, 2)
        & ~((F.col("period") == 2) & (F.col("segment") == 0) & (F.col("h") < 7))
    ).select(
        "segment",
        "period",
        (
            F.col("cents")
            + F.when((F.col("period") == 2) & (F.col("segment") == 1), 2000).otherwise(0)
        ).alias("cents"),
    )
    cells = shaped.groupBy("segment", "period").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("v"),
    )
    tot = cells.groupBy("period").agg(
        F.sum("n").cast("bigint").alias("nn"), F.sum("v").cast("bigint").alias("vv")
    )
    c1 = cells.where(F.col("period") == 1).select(
        "segment", F.col("n").alias("n1"), F.col("v").alias("v1")
    )
    c2 = cells.where(F.col("period") == 2).select(
        "segment", F.col("n").alias("n2"), F.col("v").alias("v2")
    )
    t1 = tot.where(F.col("period") == 1).select(
        F.col("nn").alias("nn1"), F.col("vv").alias("vv1")
    )
    t2 = tot.where(F.col("period") == 2).select(
        F.col("nn").alias("nn2"), F.col("vv").alias("vv2")
    )
    wide = (
        c1.join(c2, "segment")
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
    )
    contrib = wide.selectExpr(
        "segment",
        "n1",
        "n2",
        "CAST(v1 AS DOUBLE) / n1 / 100.0 AS y1",
        "CAST(v2 AS DOUBLE) / n2 / 100.0 AS y2",
        "(CAST(n1 AS DOUBLE) / nn1)"
        " * (CAST(v2 AS DOUBLE) / n2 - CAST(v1 AS DOUBLE) / n1) / 100.0 AS within_c",
        "(CAST(n2 AS DOUBLE) / nn2 - CAST(n1 AS DOUBLE) / nn1)"
        " * (CAST(v2 AS DOUBLE) / n2) / 100.0 AS mix_c",
        "(CAST(vv2 AS DOUBLE) / nn2 - CAST(vv1 AS DOUBLE) / nn1) / 100.0"
        " AS delta_all",
    )
    q = contrib.selectExpr(
        "segment",
        "n1",
        "n2",
        "ROUND(y1, 6) AS y1_r",
        "ROUND(y2, 6) AS y2_r",
        "ROUND(within_c, 6) AS within_contrib_r",
        "ROUND(mix_c, 6) AS mix_contrib_r",
        "CAST(ROUND(within_c * 1000000.0, 0) AS BIGINT) AS w_q",
        "CAST(ROUND(mix_c * 1000000.0, 0) AS BIGINT) AS m_q",
        "delta_all",
    )
    w_all = Window.partitionBy()
    return q.select(
        "segment",
        "n1",
        "n2",
        "y1_r",
        "y2_r",
        "within_contrib_r",
        "mix_contrib_r",
        F.round(F.max("delta_all").over(w_all), 6).alias("delta_metric_r"),
        (
            F.abs(
                F.sum(F.col("w_q") + F.col("m_q")).over(w_all).cast("double")
                / 1000000.0
                - F.max("delta_all").over(w_all)
            )
            < 0.0001
        ).alias("decomposition_exact"),
    ).orderBy("segment")


@register(
    "ev_cace_noncompliance",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0)
                  AS BIGINT) AS base_cents
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT *,
             CAST(('0x' || substr(md5('cace-z|' || user_id), 1, 8)) AS BIGINT)
                 % 2 AS z,
             CASE WHEN CAST(('0x' || substr(md5('cace-d|' || user_id), 1, 8))
                       AS BIGINT) % 10
                  < CASE WHEN x >= 67 THEN 8 ELSE 3 END
                  THEN 1 ELSE 0 END AS willing
      FROM per_user
    ),
    obs AS (
      SELECT z, z * willing AS d,
             base_cents + 3000 * (z * willing) AS y
      FROM arms
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(z) AS BIGINT) AS n_assigned,
             CAST(SUM(d) AS BIGINT) AS n_exposed,
             CAST(SUM(CASE WHEN z = 1 THEN y END) AS BIGINT) AS y1,
             CAST(SUM(CASE WHEN z = 0 THEN y END) AS BIGINT) AS y0,
             CAST(SUM(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
             CAST(SUM(CASE WHEN d = 1 THEN y END) AS BIGINT) AS yd1,
             CAST(SUM(CASE WHEN d = 0 THEN y END) AS BIGINT) AS yd0,
             CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd0
      FROM obs
    )
    SELECT n_users, n_assigned, n_exposed,
           ROUND(CAST(n_exposed AS DOUBLE) / n_assigned, 6) AS compliance_rate_r,
           ROUND((CAST(y1 AS DOUBLE) / n_assigned
                  - CAST(y0 AS DOUBLE) / n_ctrl) / 100.0, 6) AS itt_r,
           ROUND((CAST(y1 AS DOUBLE) / n_assigned - CAST(y0 AS DOUBLE) / n_ctrl)
                 / (CAST(n_exposed AS DOUBLE) / n_assigned) / 100.0, 6) AS cace_r,
           ROUND((CAST(yd1 AS DOUBLE) / n_exposed
                  - CAST(yd0 AS DOUBLE) / nd0) / 100.0, 6) AS per_protocol_r,
           ABS((CAST(y1 AS DOUBLE) / n_assigned - CAST(y0 AS DOUBLE) / n_ctrl)
               / (CAST(n_exposed AS DOUBLE) / n_assigned) / 100.0 - 30.0)
             < ABS((CAST(yd1 AS DOUBLE) / n_exposed
                    - CAST(yd0 AS DOUBLE) / nd0) / 100.0 - 30.0)
               AS cace_beats_per_protocol
    FROM cells
    """,
    tags=("events", "causal", "iv", "noncompliance"),
)
def ev_cace_noncompliance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noncompliance-aware experiment analysis (one-sided
    noncompliance, Wald/IV estimator): assignment is random but only
    WILLING users actually take the treatment — and willingness is
    PLANTED to correlate with activity (80% for active users, 30%
    otherwise), so the naive per-protocol exposed-vs-unexposed
    comparison inherits the activity->spend confounder while the
    complier average causal effect CACE = ITT / compliance-rate
    recovers the planted $30 effect from intention-to-treat
    quantities alone. The |CACE - 30| < |PP - 30| boolean is the
    hashed methods pin — the reason experimenters divide by the
    compliance rate instead of conditioning on exposure. Completes
    the causal family's last gap (IV / noncompliance) beside RDD,
    DiD, PSM, CUPED, post-strat, ICC and uplift.

    Determinism: outcomes are exact integer cents (the planted effect
    is +3000 cents to exposed users); every estimator is a ratio of
    BIGINT sums written identically in both engines. Scale: one
    user-keyed aggregate then a 1-row reduce."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("x"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("base_cents"),
    )
    hz = (
        F.conv(F.substring(F.md5(F.concat(F.lit("cace-z|"), F.col("user_id"))), 1, 8), 16, 10)
        .cast("long") % 2
    )
    hd = (
        F.conv(F.substring(F.md5(F.concat(F.lit("cace-d|"), F.col("user_id"))), 1, 8), 16, 10)
        .cast("long") % 10
    )
    arms = per_user.withColumn("z", hz).withColumn(
        "willing",
        F.when(hd < F.when(F.col("x") >= 67, 8).otherwise(3), 1).otherwise(0),
    )
    obs = arms.select(
        "z",
        (F.col("z") * F.col("willing")).alias("d"),
        (F.col("base_cents") + 3000 * F.col("z") * F.col("willing")).alias("y"),
    )
    cells = obs.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("z").cast("bigint").alias("n_assigned"),
        F.sum("d").cast("bigint").alias("n_exposed"),
        F.sum(F.when(F.col("z") == 1, F.col("y"))).cast("bigint").alias("y1"),
        F.sum(F.when(F.col("z") == 0, F.col("y"))).cast("bigint").alias("y0"),
        F.sum(F.when(F.col("z") == 0, 1).otherwise(0)).cast("bigint").alias("n_ctrl"),
        F.sum(F.when(F.col("d") == 1, F.col("y"))).cast("bigint").alias("yd1"),
        F.sum(F.when(F.col("d") == 0, F.col("y"))).cast("bigint").alias("yd0"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0)).cast("bigint").alias("nd0"),
    )
    itt = "(CAST(y1 AS DOUBLE) / n_assigned - CAST(y0 AS DOUBLE) / n_ctrl)"
    rate = "(CAST(n_exposed AS DOUBLE) / n_assigned)"
    pp = "(CAST(yd1 AS DOUBLE) / n_exposed - CAST(yd0 AS DOUBLE) / nd0)"
    return cells.selectExpr(
        "n_users",
        "n_assigned",
        "n_exposed",
        f"ROUND({rate}, 6) AS compliance_rate_r",
        f"ROUND({itt} / 100.0, 6) AS itt_r",
        f"ROUND({itt} / {rate} / 100.0, 6) AS cace_r",
        f"ROUND({pp} / 100.0, 6) AS per_protocol_r",
        f"ABS({itt} / {rate} / 100.0 - 30.0) < ABS({pp} / 100.0 - 30.0)"
        " AS cace_beats_per_protocol",
    )


# Bayesian A/B on a 999-point grid. Unnormalized Beta log-densities
# use only LN (attested identical across engines); weights are
# quantized to 1e12 BIGINTs at the max-shifted exponential, so all
# normalizations and cumulative sums are exact integer arithmetic.
_BAB_LOGPDF = "(s * LN(x) + f * LN(1.0 - x))"


@register(
    "ev_bayesian_ab_posterior",
    oracle=f"""
    WITH trials AS (
      SELECT CASE WHEN CAST(('0x' || substr(md5('bab-arm|' || event_id), 1, 8))
                       AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1
                  WHEN CAST(('0x' || substr(md5('bab-arm|' || event_id), 1, 8))
                       AS BIGINT) % 2 = 1
                   AND CAST(('0x' || substr(md5('bab-lift|' || event_id), 1, 8))
                       AS BIGINT) % 20 = 0 THEN 1
                  ELSE 0 END AS succ
      FROM events
    ),
    counts AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(succ) AS BIGINT) AS s,
             CAST(COUNT(*) - SUM(succ) AS BIGINT) AS f
      FROM trials GROUP BY arm
    ),
    grid AS (
      SELECT arm, s, f, n, CAST(i AS DOUBLE) / 1000.0 AS x, i
      FROM counts, UNNEST(range(1, 1000)) u(i)
    ),
    lp AS (
      SELECT arm, n, s, i, {_BAB_LOGPDF} AS logpdf,
             MAX({_BAB_LOGPDF}) OVER (PARTITION BY arm) AS lmax
      FROM grid
    ),
    w AS (
      SELECT arm, n, s, i,
             CAST(ROUND(EXP(logpdf - lmax) * 1000000000000.0, 0) AS BIGINT) AS q
      FROM lp
    ),
    cum AS (
      SELECT arm, n, s, i, q,
             CAST(SUM(q) OVER (PARTITION BY arm ORDER BY i
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cq,
             CAST(SUM(q) OVER (PARTITION BY arm) AS BIGINT) AS tq
      FROM w
    ),
    joined AS (
      SELECT b.q AS qb, b.tq AS tqb,
             COALESCE(a.cq - a.q, 0) AS fa_prev, a.tq AS tqa
      FROM (SELECT * FROM cum WHERE arm = 'B') b
      JOIN (SELECT * FROM cum WHERE arm = 'A') a USING (i)
    ),
    prob AS (
      SELECT CAST(SUM(CAST(ROUND(qb * (CAST(fa_prev AS DOUBLE) / tqa), 0)
                           AS BIGINT)) AS BIGINT) AS num,
             CAST(MAX(tqb) AS BIGINT) AS den
      FROM joined
    )
    SELECT (SELECT n FROM counts WHERE arm = 'A') AS n_a,
           (SELECT n FROM counts WHERE arm = 'B') AS n_b,
           ROUND((SELECT CAST(s AS DOUBLE) / n FROM counts WHERE arm = 'A'), 6)
               AS p_hat_a_r,
           ROUND((SELECT CAST(s AS DOUBLE) / n FROM counts WHERE arm = 'B'), 6)
               AS p_hat_b_r,
           ROUND(CAST(num AS DOUBLE) / den, 6) AS prob_b_beats_a_r,
           CAST(num AS DOUBLE) / den > 0.95 AS ship_b
    FROM prob
    """,
    tags=("events", "abtest", "bayesian"),
)
def ev_bayesian_ab_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B decision — P(p_B > p_A) under independent
    Beta(1+s, 1+f) posteriors, the probability-of-superiority number
    product teams actually ship on (beside the frequentist family:
    fixed-horizon ev_abtest_lift, SPRT, OBF looks): computed on a
    999-point grid as sum_i w_B(x_i) * F_A(x_{{i-1}}) with a planted
    ~+4pp lift on arm B (salted md5, 1-in-20 extra successes), so the
    posterior must clear the 95% ship threshold at the gate scale.

    Determinism: log-densities use LN only; each arm's grid weights
    are max-shifted, exponentiated once, and QUANTIZED to 1e12
    BIGINTs, making every normalization, cumulative distribution,
    and the final probability numerator exact integer arithmetic —
    no float ever accumulates across grid rows. Scale: one corpus
    pass collapses to a 2-row count table; everything after runs on
    the 2x999-row grid."""
    ev = load_table(spark, sf_dir, "events")
    arm_h = (
        F.conv(F.substring(F.md5(F.concat(F.lit("bab-arm|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 2
    )
    lift_h = (
        F.conv(F.substring(F.md5(F.concat(F.lit("bab-lift|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 20
    )
    trials = ev.select(
        F.when(arm_h == 0, "A").otherwise("B").alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .when((arm_h == 1) & (lift_h == 0), 1)
        .otherwise(0)
        .alias("succ"),
    )
    counts = trials.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("succ").cast("bigint").alias("s"),
        (F.count("*") - F.sum("succ")).cast("bigint").alias("f"),
    )
    grid = counts.select(
        "arm", "n", "s", "f", F.explode(F.expr("sequence(1, 999)")).alias("i")
    ).withColumn("x", F.col("i").cast("double") / 1000.0)
    w_arm = Window.partitionBy("arm")
    lp = grid.select(
        "arm",
        "n",
        "s",
        "i",
        F.expr(_BAB_LOGPDF).alias("logpdf"),
    ).withColumn("lmax", F.max("logpdf").over(w_arm))
    w = lp.select(
        "arm",
        "n",
        "s",
        "i",
        F.expr(
            "CAST(ROUND(EXP(logpdf - lmax) * 1000000000000.0, 0) AS BIGINT)"
        ).alias("q"),
    )
    w_cum = w_arm.orderBy("i").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = w.select(
        "arm",
        "n",
        "i",
        "q",
        F.sum("q").over(w_cum).cast("bigint").alias("cq"),
        F.sum("q").over(w_arm).cast("bigint").alias("tq"),
    )
    b = cum.where(F.col("arm") == "B").select(
        "i", F.col("q").alias("qb"), F.col("tq").alias("tqb")
    )
    a = cum.where(F.col("arm") == "A").select(
        "i",
        (F.col("cq") - F.col("q")).alias("fa_prev"),
        F.col("tq").alias("tqa"),
    )
    prob = (
        b.join(a, "i")
        .agg(
            F.sum(
                F.expr(
                    "CAST(ROUND(qb * (CAST(fa_prev AS DOUBLE) / tqa), 0) AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("num"),
            F.max("tqb").cast("bigint").alias("den"),
        )
    )
    ca = counts.where(F.col("arm") == "A").select(
        F.col("n").alias("n_a"), F.col("s").alias("s_a")
    )
    cb = counts.where(F.col("arm") == "B").select(
        F.col("n").alias("n_b"), F.col("s").alias("s_b")
    )
    return (
        prob.crossJoin(F.broadcast(ca))
        .crossJoin(F.broadcast(cb))
        .selectExpr(
            "n_a",
            "n_b",
            "ROUND(CAST(s_a AS DOUBLE) / n_a, 6) AS p_hat_a_r",
            "ROUND(CAST(s_b AS DOUBLE) / n_b, 6) AS p_hat_b_r",
            "ROUND(CAST(num AS DOUBLE) / den, 6) AS prob_b_beats_a_r",
            "CAST(num AS DOUBLE) / den > 0.95 AS ship_b",
        )
    )


# meta-analysis fixture: 8 "experiments" (event_id % 8) each A/B
# split by salted md5; experiments 0-6 plant a 1-in-20 extra-success
# lift on B, experiment 7 plants 4-in-20 — the heterogeneity Cochran's
# Q must flag. All per-experiment terms are quantized to 1e-6 BIGINTs
# before cross-experiment sums.
_MA_D = "(CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)"
_MA_VAR = (
    "((CAST(sa AS DOUBLE) / na) * (1.0 - CAST(sa AS DOUBLE) / na) / na"
    " + (CAST(sb AS DOUBLE) / nb) * (1.0 - CAST(sb AS DOUBLE) / nb) / nb)"
)


@register(
    "ev_meta_analysis",
    oracle=f"""
    WITH trials AS (
      SELECT event_id % 8 AS exp_id,
             CAST(('0x' || substr(md5('ma-z|' || event_id), 1, 8)) AS BIGINT) % 2
                 AS arm,
             CASE WHEN event_type = 'purchase' THEN 1
                  WHEN CAST(('0x' || substr(md5('ma-z|' || event_id), 1, 8))
                       AS BIGINT) % 2 = 1
                   AND CAST(('0x' || substr(md5('ma-l|' || event_id), 1, 8))
                       AS BIGINT) % 20
                       < CASE WHEN event_id % 8 = 7 THEN 8 ELSE 1 END THEN 1
                  ELSE 0 END AS succ
      FROM events
    ),
    cells AS (
      SELECT exp_id,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN arm = 0 THEN succ ELSE 0 END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN arm = 1 THEN succ ELSE 0 END) AS BIGINT) AS sb
      FROM trials GROUP BY exp_id
    ),
    terms AS (
      SELECT exp_id, na, nb,
             {_MA_D} AS d,
             CAST(ROUND(1.0 / {_MA_VAR} * 1000000.0, 0) AS BIGINT) AS wq,
             CAST(ROUND({_MA_D} / {_MA_VAR} * 1000000.0, 0) AS BIGINT) AS wdq
      FROM cells
    ),
    pooled AS (
      SELECT exp_id, na, nb, d, wq,
             CAST(SUM(wdq) OVER () AS DOUBLE) / SUM(wq) OVER () AS mu
      FROM terms
    ),
    qterms AS (
      SELECT exp_id, na, nb, d, mu,
             CAST(ROUND(CAST(wq AS DOUBLE) / 1000000.0 * (d - mu) * (d - mu)
                        * 1000000.0, 0) AS BIGINT) AS qq,
             CAST(ROUND(CAST(wq AS DOUBLE) / SUM(wq) OVER () * 1000000.0, 0)
                  AS BIGINT) AS wshare_q
      FROM pooled
    )
    SELECT exp_id, na, nb,
           ROUND(d, 6) AS effect_r,
           ROUND(CAST(wshare_q AS DOUBLE) / 1000000.0, 6) AS weight_share_r,
           ROUND(MAX(mu) OVER (), 6) AS pooled_effect_r,
           ROUND(CAST(SUM(qq) OVER () AS DOUBLE) / 1000000.0, 6) AS cochran_q_r,
           CAST(SUM(qq) OVER () AS DOUBLE) / 1000000.0 > 14.067
               AS heterogeneity_flagged
    FROM qterms
    ORDER BY exp_id
    """,
    tags=("events", "abtest", "meta-analysis"),
)
def ev_meta_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-effects meta-analysis across 8 experiments — how an
    experimentation platform pools a re-run test family: per
    experiment the risk difference and its variance come from exact
    arm counts, the pooled effect is the inverse-variance weighted
    mean, and Cochran's Q (against the chi-square 7-df 95% critical
    value 14.067) tests whether one pooled number is even coherent.
    Seven experiments plant the same ~+4pp lift; the eighth plants
    ~+30pp — Q must flag the heterogeneity at the gate scale while
    the pooled estimate sits in the common-effect band.

    Determinism: weights, weighted effects, Q terms, and weight
    shares are quantized to 1e-6 BIGINTs before every
    cross-experiment sum (the 8-row windows then aggregate exact
    integers). Scale: one (experiment, arm)-keyed corpus aggregate,
    then 8-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    hz = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ma-z|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 2
    )
    hl = (
        F.conv(F.substring(F.md5(F.concat(F.lit("ma-l|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 20
    )
    lift_thresh = F.when(F.col("event_id") % 8 == 7, 8).otherwise(1)
    trials = ev.select(
        (F.col("event_id") % 8).alias("exp_id"),
        hz.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .when((hz == 1) & (hl < lift_thresh), 1)
        .otherwise(0)
        .alias("succ"),
    )
    cells = trials.groupBy("exp_id").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("succ")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("arm") == 1, F.col("succ")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
    )
    terms = cells.selectExpr(
        "exp_id",
        "na",
        "nb",
        f"{_MA_D} AS d",
        f"CAST(ROUND(1.0 / {_MA_VAR} * 1000000.0, 0) AS BIGINT) AS wq",
        f"CAST(ROUND({_MA_D} / {_MA_VAR} * 1000000.0, 0) AS BIGINT) AS wdq",
    )
    w_all = Window.partitionBy()
    pooled = terms.select(
        "exp_id",
        "na",
        "nb",
        "d",
        "wq",
        (
            F.sum("wdq").over(w_all).cast("double") / F.sum("wq").over(w_all)
        ).alias("mu"),
    )
    qterms = pooled.select(
        "exp_id",
        "na",
        "nb",
        "d",
        "mu",
        F.expr(
            "CAST(ROUND(CAST(wq AS DOUBLE) / 1000000.0 * (d - mu) * (d - mu)"
            " * 1000000.0, 0) AS BIGINT)"
        ).alias("qq"),
        F.expr(
            "CAST(ROUND(CAST(wq AS DOUBLE) / SUM(wq) OVER () * 1000000.0, 0)"
            " AS BIGINT)"
        ).alias("wshare_q"),
    )
    return qterms.select(
        "exp_id",
        "na",
        "nb",
        F.round("d", 6).alias("effect_r"),
        F.expr("ROUND(CAST(wshare_q AS DOUBLE) / 1000000.0, 6)").alias(
            "weight_share_r"
        ),
        F.round(F.max("mu").over(w_all), 6).alias("pooled_effect_r"),
        F.expr("ROUND(CAST(SUM(qq) OVER () AS DOUBLE) / 1000000.0, 6)").alias(
            "cochran_q_r"
        ),
        F.expr("CAST(SUM(qq) OVER () AS DOUBLE) / 1000000.0 > 14.067").alias(
            "heterogeneity_flagged"
        ),
    ).orderBy("exp_id")


@register(
    "ev_quantile_treatment_effect",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0)
                  AS BIGINT) AS base
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(('0x' || substr(md5('qte|' || user_id), 1, 8)) AS BIGINT) % 2
                 AS treated,
             base + CASE WHEN CAST(('0x' || substr(md5('qte|' || user_id), 1, 8))
                              AS BIGINT) % 2 = 1
                          AND base >= 70000
                         THEN base // 2 ELSE 0 END AS y
      FROM per_user
    ),
    agg AS (
      SELECT quantile_cont(CASE WHEN treated = 1 THEN CAST(y AS DOUBLE) END,
                           [0.1, 0.25, 0.5, 0.75, 0.9]) AS qt_arr,
             quantile_cont(CASE WHEN treated = 0 THEN CAST(y AS DOUBLE) END,
                           [0.1, 0.25, 0.5, 0.75, 0.9]) AS qc_arr,
             CAST(SUM(CASE WHEN treated = 1 THEN y END) AS DOUBLE)
               / SUM(CASE WHEN treated = 1 THEN 1 END)
               - CAST(SUM(CASE WHEN treated = 0 THEN y END) AS DOUBLE)
               / SUM(CASE WHEN treated = 0 THEN 1 END) AS mean_diff
      FROM arms
    ),
    qs AS (
      SELECT CAST([0.1, 0.25, 0.5, 0.75, 0.9][i] AS DOUBLE) AS p,
             qt_arr[i] AS qt, qc_arr[i] AS qc, mean_diff
      FROM agg, UNNEST(range(1, 6)) u(j), LATERAL (SELECT CAST(j AS INT) AS i) x
    )
    SELECT p,
           ROUND(qt / 100.0, 6) AS q_treated_r,
           ROUND(qc / 100.0, 6) AS q_control_r,
           ROUND((qt - qc) / 100.0, 6) AS qte_r,
           ROUND(mean_diff / 100.0, 6) AS ate_r
    FROM qs ORDER BY p
    """,
    tags=("events", "causal", "quantile", "distributional"),
)
def ev_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects — the distributional view a mean
    ATE hides: treatment is randomly assigned (salted md5), but the
    PLANTED effect is +50% spend ONLY for users already above a
    $700 base — so the QTE must be ~0 at low/median quantiles and
    large at p90, while the single mean-difference number smears the
    tail effect over everyone. The exact interpolated quantiles
    (Spark percentile == DuckDB quantile_cont, the a8_percentiles
    pairing) are hash-compared per treatment arm at five probability
    points.

    Scale: one user-keyed aggregate; the per-arm quantiles are one
    sort-based aggregate over the user table fanned across the
    literal 5-row probability grid."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("base"),
    )
    h = (
        F.conv(F.substring(F.md5(F.concat(F.lit("qte|"), F.col("user_id"))), 1, 8), 16, 10)
        .cast("long") % 2
    )
    arms = per_user.select(
        h.alias("treated"),
        (
            F.col("base")
            + F.when((h == 1) & (F.col("base") >= 70000), F.expr("base DIV 2")).otherwise(0)
        ).alias("y"),
    )
    ps = "array(0.1D, 0.25D, 0.5D, 0.75D, 0.9D)"
    agg = arms.agg(
        F.expr(
            f"percentile(CASE WHEN treated = 1 THEN CAST(y AS DOUBLE) END, {ps})"
        ).alias("qt_arr"),
        F.expr(
            f"percentile(CASE WHEN treated = 0 THEN CAST(y AS DOUBLE) END, {ps})"
        ).alias("qc_arr"),
        F.expr(
            "CAST(SUM(CASE WHEN treated = 1 THEN y END) AS DOUBLE)"
            " / SUM(CASE WHEN treated = 1 THEN 1 END)"
            " - CAST(SUM(CASE WHEN treated = 0 THEN y END) AS DOUBLE)"
            " / SUM(CASE WHEN treated = 0 THEN 1 END)"
        ).alias("mean_diff"),
    )
    qs = agg.select(
        F.posexplode(F.expr(ps)).alias("idx", "p"),
        "qt_arr",
        "qc_arr",
        "mean_diff",
    ).selectExpr(
        "p",
        "qt_arr[idx] AS qt",
        "qc_arr[idx] AS qc",
        "mean_diff",
    )
    return qs.selectExpr(
        "p",
        "ROUND(qt / 100.0, 6) AS q_treated_r",
        "ROUND(qc / 100.0, 6) AS q_control_r",
        "ROUND((qt - qc) / 100.0, 6) AS qte_r",
        "ROUND(mean_diff / 100.0, 6) AS ate_r",
    ).orderBy("p")


@register(
    "ev_factorial_interaction",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0)
                  AS BIGINT) AS base
      FROM events GROUP BY user_id
    ),
    arms AS (
      SELECT CAST(('0x' || substr(md5('fa|' || user_id), 1, 8)) AS BIGINT) % 2
                 AS a,
             CAST(('0x' || substr(md5('fb|' || user_id), 1, 8)) AS BIGINT) % 2
                 AS b,
             base
      FROM per_user
    ),
    obs AS (
      SELECT a, b, base + 5000 * a + 30000 * a * b AS y FROM arms
    ),
    cells AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s
      FROM obs GROUP BY a, b
    ),
    wide AS (
      SELECT SUM(CASE WHEN a = 0 AND b = 0 THEN n END) AS n00,
             SUM(CASE WHEN a = 1 AND b = 0 THEN n END) AS n10,
             SUM(CASE WHEN a = 0 AND b = 1 THEN n END) AS n01,
             SUM(CASE WHEN a = 1 AND b = 1 THEN n END) AS n11,
             CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN s END) AS DOUBLE)
               / SUM(CASE WHEN a = 0 AND b = 0 THEN n END) / 100.0 AS m00,
             CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN s END) AS DOUBLE)
               / SUM(CASE WHEN a = 1 AND b = 0 THEN n END) / 100.0 AS m10,
             CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN s END) AS DOUBLE)
               / SUM(CASE WHEN a = 0 AND b = 1 THEN n END) / 100.0 AS m01,
             CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN s END) AS DOUBLE)
               / SUM(CASE WHEN a = 1 AND b = 1 THEN n END) / 100.0 AS m11
      FROM cells
    )
    SELECT CAST(n00 AS BIGINT) AS n00, CAST(n10 AS BIGINT) AS n10,
           CAST(n01 AS BIGINT) AS n01, CAST(n11 AS BIGINT) AS n11,
           ROUND(m00, 6) AS m00_r, ROUND(m10, 6) AS m10_r,
           ROUND(m01, 6) AS m01_r, ROUND(m11, 6) AS m11_r,
           ROUND((m10 + m11) / 2.0 - (m00 + m01) / 2.0, 6) AS main_a_r,
           ROUND((m01 + m11) / 2.0 - (m00 + m10) / 2.0, 6) AS main_b_r,
           ROUND(m11 - m10 - m01 + m00, 6) AS interaction_r,
           m11 - m10 - m01 + m00 > 100.0
             AND ABS(m01 - m00) < (m11 - m10) / 2.0 AS interaction_detected
    FROM wide
    """,
    tags=("events", "abtest", "factorial", "interaction"),
)
def ev_factorial_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 factorial experiment analysis — the design that tests two
    feature flags AND their interaction in one experiment instead of
    two sequential A/Bs: users are independently hash-assigned to
    factors A and B, and the planted response surface (+\\$50 for A
    alone, nothing for B alone, +\\$300 MORE only when BOTH are on)
    must surface as a large interaction contrast
    (m11 - m10 - m01 + m00 ~ 300) while B's SIMPLE effect at a=0
    (m01 - m00) stays at noise — note B's MARGINAL effect is ix/2 by
    construction, the misread a one-factor-at-a-time program makes.
    interaction_detected pins both contrasts at the gate scale.

    Determinism: cell sums are exact integer cents; the four cell
    means and the three contrasts are fixed-order double expressions
    shared verbatim. Scale: one user-keyed aggregate into a 4-cell
    reduce."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("base"),
    )

    def h2(salt: str):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{salt}|"), F.col("user_id"))), 1, 8),
                16,
                10,
            ).cast("long")
            % 2
        )

    obs = per_user.select(
        h2("fa").alias("a"),
        h2("fb").alias("b"),
        "base",
    ).selectExpr("a", "b", "base + 5000 * a + 30000 * a * b AS y")
    cells = obs.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("s"),
    )
    m = lambda i, j: (  # noqa: E731
        f"CAST(SUM(CASE WHEN a = {i} AND b = {j} THEN s END) AS DOUBLE)"
        f" / SUM(CASE WHEN a = {i} AND b = {j} THEN n END) / 100.0"
    )
    wide = cells.agg(
        *[
            F.expr(f"SUM(CASE WHEN a = {i} AND b = {j} THEN n END)")
            .cast("bigint")
            .alias(f"n{i}{j}")
            for i in (0, 1)
            for j in (0, 1)
        ],
        *[F.expr(m(i, j)).alias(f"m{i}{j}") for i in (0, 1) for j in (0, 1)],
    )
    return wide.selectExpr(
        "n00",
        "n10",
        "n01",
        "n11",
        "ROUND(m00, 6) AS m00_r",
        "ROUND(m10, 6) AS m10_r",
        "ROUND(m01, 6) AS m01_r",
        "ROUND(m11, 6) AS m11_r",
        "ROUND((m10 + m11) / 2.0 - (m00 + m01) / 2.0, 6) AS main_a_r",
        "ROUND((m01 + m11) / 2.0 - (m00 + m10) / 2.0, 6) AS main_b_r",
        "ROUND(m11 - m10 - m01 + m00, 6) AS interaction_r",
        "m11 - m10 - m01 + m00 > 100.0"
        " AND ABS(m01 - m00) < (m11 - m10) / 2.0 AS interaction_detected",
    )


# One-sided standard-normal quantiles z(1 - 0.10 * i / 20) for the
# Benjamini-Hochberg step-up at q = 0.10 over m = 20 experiments —
# literal constants so no inverse-CDF (libm erf) enters either engine.
_BH_ZCRIT = (
    "CASE rank WHEN 1 THEN 2.5758 WHEN 2 THEN 2.3263 WHEN 3 THEN 2.1701"
    " WHEN 4 THEN 2.0537 WHEN 5 THEN 1.9600 WHEN 6 THEN 1.8808"
    " WHEN 7 THEN 1.8119 WHEN 8 THEN 1.7507 WHEN 9 THEN 1.6954"
    " WHEN 10 THEN 1.6449 WHEN 11 THEN 1.5982 WHEN 12 THEN 1.5548"
    " WHEN 13 THEN 1.5141 WHEN 14 THEN 1.4758 WHEN 15 THEN 1.4395"
    " WHEN 16 THEN 1.4051 WHEN 17 THEN 1.3722 WHEN 18 THEN 1.3408"
    " WHEN 19 THEN 1.3106 ELSE 1.2816 END"
)
_BH_Z = (
    "((CAST(sb AS DOUBLE) / nb - CAST(sa AS DOUBLE) / na)"
    " / SQRT((CAST(sa + sb AS DOUBLE) / (na + nb))"
    " * (1.0 - CAST(sa + sb AS DOUBLE) / (na + nb))"
    " * (1.0 / na + 1.0 / nb)))"
)


@register(
    "ev_fdr_bh",
    oracle=f"""
    WITH trials AS (
      SELECT event_id % 20 AS exp_id,
             CAST(('0x' || substr(md5('bh-z|' || event_id), 1, 8)) AS BIGINT) % 2
                 AS arm,
             CASE WHEN event_type = 'purchase' THEN 1
                  WHEN event_id % 20 IN (3, 11)
                   AND CAST(('0x' || substr(md5('bh-z|' || event_id), 1, 8))
                       AS BIGINT) % 2 = 1
                   AND CAST(('0x' || substr(md5('bh-l|' || event_id), 1, 8))
                       AS BIGINT) % 5 = 0 THEN 1
                  ELSE 0 END AS succ
      FROM events
    ),
    cells AS (
      SELECT exp_id,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN arm = 0 THEN succ ELSE 0 END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN arm = 1 THEN succ ELSE 0 END) AS BIGINT) AS sb
      FROM trials GROUP BY exp_id
    ),
    zs AS (
      SELECT exp_id, {_BH_Z} AS z,
             CAST(ROW_NUMBER() OVER (ORDER BY {_BH_Z} DESC, exp_id) AS INT)
                 AS rank,
             exp_id IN (3, 11) AS is_planted
      FROM cells
    ),
    crit AS (
      SELECT *, {_BH_ZCRIT} AS zcrit FROM zs
    ),
    k AS (
      SELECT COALESCE(MAX(CASE WHEN z >= zcrit THEN rank END), 0) AS kmax
      FROM crit
    )
    SELECT exp_id,
           -- FLOOR-in-both integer quantization (micro-units), NOT
           -- ROUND(x, 6): double-ROUND is DuckDB-build-sensitive near
           -- 6th-decimal ties (r7 driver hash mismatch), while
           -- multiply+0.5+FLOOR is pure IEEE arithmetic identical in
           -- both engines (dp_cost_threshold_curve precedent).
           CAST(FLOOR(z * 1e6 + 0.5) AS BIGINT) AS z_u,
           rank,
           CAST(FLOOR(zcrit * 1e6 + 0.5) AS BIGINT) AS zcrit_u,
           rank <= (SELECT kmax FROM k) AS bh_rejected,
           z >= 1.6449 AS naive_rejected,
           is_planted
    FROM crit
    ORDER BY exp_id
    """,
    tags=("events", "abtest", "multiple-testing", "fdr"),
)
def ev_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg false-discovery-rate control over a
    20-experiment family — the multiple-testing discipline an
    experimentation platform applies before reading a metrics
    dashboard of parallel tests: two experiments (3 and 11) carry a
    planted ~+16pp lift, the other eighteen are null, and the BH
    step-up at q=0.10 (largest rank whose z clears its literal
    critical value — no inverse-normal in either engine) must reject
    the planted pair at the gate scale while per-comparison 'naive'
    z > 1.645 testing is reported alongside for the false-positive
    contrast. The whole 20-row decision table is hash-checked:
    z statistics (divisions + IEEE-exact SQRT only), ranks, critical
    values, and both rejection columns.

    Scale: one (experiment, arm)-keyed corpus aggregate; ranking and
    the step-up run on the 20-row relation."""
    ev = load_table(spark, sf_dir, "events")
    hz = (
        F.conv(F.substring(F.md5(F.concat(F.lit("bh-z|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 2
    )
    hl = (
        F.conv(F.substring(F.md5(F.concat(F.lit("bh-l|"), F.col("event_id"))), 1, 8), 16, 10)
        .cast("long") % 5
    )
    planted = F.col("event_id") % 20
    trials = ev.select(
        (F.col("event_id") % 20).alias("exp_id"),
        hz.alias("arm"),
        F.when(F.col("event_type") == "purchase", 1)
        .when(planted.isin(3, 11) & (hz == 1) & (hl == 0), 1)
        .otherwise(0)
        .alias("succ"),
    )
    cells = trials.groupBy("exp_id").agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("succ")).otherwise(0))
        .cast("bigint")
        .alias("sa"),
        F.sum(F.when(F.col("arm") == 1, F.col("succ")).otherwise(0))
        .cast("bigint")
        .alias("sb"),
    )
    zs = cells.select(
        "exp_id",
        F.expr(_BH_Z).alias("z"),
        F.col("exp_id").isin(3, 11).alias("is_planted"),
    ).withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.desc("z"), "exp_id")).cast("int"),
    )
    crit = zs.withColumn("zcrit", F.expr(_BH_ZCRIT))
    k = crit.agg(
        F.coalesce(
            F.max(F.when(F.col("z") >= F.col("zcrit"), F.col("rank"))), F.lit(0)
        ).alias("kmax")
    )
    return (
        crit.crossJoin(F.broadcast(k))
        .select(
            "exp_id",
            # FLOOR-in-both micro-unit quantization mirrors the oracle's
            # CAST(FLOOR(z*1e6+0.5) AS BIGINT) — see oracle comment.
            F.floor(F.col("z") * 1e6 + 0.5).cast("bigint").alias("z_u"),
            "rank",
            F.floor(F.col("zcrit") * 1e6 + 0.5).cast("bigint").alias("zcrit_u"),
            (F.col("rank") <= F.col("kmax")).alias("bh_rejected"),
            (F.col("z") >= 1.6449).alias("naive_rejected"),
            "is_planted",
        )
        .orderBy("exp_id")
    )


# Mann-Whitney doubled average rank for value v: 2*avgrank =
# 2*cnt_less + cnt_eq + 1 — an exact integer even under ties, so the
# rank sum, U statistic, and rank-biserial effect are integer-exact.
_MW_Z = (
    "((CAST(u2 AS DOUBLE) / 2.0 - CAST(na AS DOUBLE) * nb / 2.0)"
    " / SQRT(CAST(na AS DOUBLE) * nb * (na + nb + 1.0) / 12.0))"
)


@register(
    "ev_mann_whitney",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0)
                  AS BIGINT) AS base,
             CAST(('0x' || substr(md5('mw|' || user_id), 1, 8)) AS BIGINT) % 2
                 AS t
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY user_id
    ),
    pairs AS (
      SELECT 'planted' AS pair, t, base + 15000 * t AS y FROM per_user
      UNION ALL
      SELECT 'null', t, base FROM per_user
    ),
    vals AS (
      SELECT pair, y, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(t) AS BIGINT) AS cnt_a
      FROM pairs GROUP BY pair, y
    ),
    ranked AS (
      SELECT pair, y, cnt, cnt_a,
             CAST(COALESCE(SUM(cnt) OVER (PARTITION BY pair ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cnt_less
      FROM vals
    ),
    sums AS (
      SELECT pair,
             SUM(CAST(cnt_a AS HUGEINT) * (2 * cnt_less + cnt + 1)) AS r2a,
             CAST(SUM(cnt_a) AS BIGINT) AS na,
             CAST(SUM(cnt - cnt_a) AS BIGINT) AS nb
      FROM ranked GROUP BY pair
    ),
    stats AS (
      SELECT pair, na, nb,
             r2a - CAST(na AS HUGEINT) * (na + 1) AS u2
      FROM sums
    )
    SELECT pair, na, nb,
           CAST(u2 // 2 AS BIGINT) AS u_x2_half,
           ROUND({_MW_Z}, 6) AS z_r,
           ROUND(1.0 - CAST(u2 AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)
               AS rank_biserial_r
    FROM stats ORDER BY pair
    """,
    tags=("events", "abtest", "nonparametric", "rank-test"),
)
def ev_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U — the nonparametric two-sample test the family
    lacked (z/t-style proportion tests, KS, and W1 are covered; the
    RANK-SUM test is what analysts reach for on heavy-tailed spend
    where mean tests are fragile): a planted +\\$150 treated shift
    and a null split of the same users are tested side by side. All
    rank arithmetic is integer-exact even under ties (doubled average
    ranks: 2*cnt_less + cnt_eq + 1), so U and the rank-biserial
    effect size are exact; the normal-approximation z uses only
    divisions and IEEE-exact SQRT. The planted pair clears |z| > 3 at
    the gate scale while the null pair stays inside +/-2 (vacuity
    pins); the full 2-row statistic table is hash-checked.

    Scale: one user-keyed aggregate, one (pair, value)-keyed count,
    and a window over the DISTINCT-VALUE relation — the W1 shape."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    h = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mw|"), F.col("user_id"))), 1, 8), 16, 10)
        .cast("long") % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("base"),
    ).withColumn("t", h)
    pairs = per_user.select(
        F.lit("planted").alias("pair"),
        "t",
        (F.col("base") + 15000 * F.col("t")).alias("y"),
    ).unionAll(
        per_user.select(F.lit("null").alias("pair"), "t", F.col("base").alias("y"))
    )
    vals = pairs.groupBy("pair", "y").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("t").cast("bigint").alias("cnt_a"),
    )
    w = (
        Window.partitionBy("pair")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vals.withColumn(
        "cnt_less", F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("bigint")
    )
    # rank sums in 128-bit (DECIMAL(38,0) here, HUGEINT in the oracle):
    # r2a is O(n^2) doubled average ranks, past BIGINT at ~3e9 users —
    # Spark would wrap silently where DuckDB raises (the
    # ev_permutation_test overflow class); operand cast before multiply
    sums = ranked.groupBy("pair").agg(
        F.sum(
            F.expr("CAST(cnt_a AS DECIMAL(38,0)) * (2 * cnt_less + cnt + 1)")
        ).alias("r2a"),
        F.sum("cnt_a").cast("bigint").alias("na"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("bigint").alias("nb"),
    )
    stats = sums.select(
        "pair",
        "na",
        "nb",
        F.expr("r2a - CAST(na AS DECIMAL(38,0)) * (na + 1)").alias("u2"),
    )
    return stats.selectExpr(
        "pair",
        "na",
        "nb",
        "CAST(u2 DIV 2 AS BIGINT) AS u_x2_half",
        f"ROUND({_MW_Z}, 6) AS z_r",
        "ROUND(1.0 - CAST(u2 AS DOUBLE) / (CAST(na AS DOUBLE) * nb), 6)"
        " AS rank_biserial_r",
    ).orderBy("pair")


# One-way ANOVA from the four per-arm integer moments (n_g, s_g, q_g).
# Written as ONE fixed expression over pivoted arm columns so both
# engines evaluate the identical float op sequence (a groupBy SUM over
# DOUBLE terms would sum in nondeterministic order).
_ANOVA_SSB = (
    "(CAST(s0 AS DOUBLE) * s0 / n0 + CAST(s1 AS DOUBLE) * s1 / n1"
    " + CAST(s2 AS DOUBLE) * s2 / n2 + CAST(s3 AS DOUBLE) * s3 / n3"
    " - CAST(s0 + s1 + s2 + s3 AS DOUBLE)"
    "   * (s0 + s1 + s2 + s3) / (n0 + n1 + n2 + n3))"
)
_ANOVA_SSW = (
    "(CAST(q0 + q1 + q2 + q3 AS DOUBLE)"
    " - (CAST(s0 AS DOUBLE) * s0 / n0 + CAST(s1 AS DOUBLE) * s1 / n1"
    "    + CAST(s2 AS DOUBLE) * s2 / n2 + CAST(s3 AS DOUBLE) * s3 / n3))"
)
_ANOVA_F = (
    f"(({_ANOVA_SSB} / 3.0)"
    f" / ({_ANOVA_SSW} / (n0 + n1 + n2 + n3 - 4)))"
)


@register(
    "ev_anova_oneway",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0)
                  AS BIGINT) AS base,
             CAST(('0x' || substr(md5('anova|' || user_id), 1, 8)) AS BIGINT)
                 % 4 AS arm
      FROM events GROUP BY user_id
    ),
    pairs AS (
      SELECT 'planted' AS pair, arm, base + 40000 * arm AS y FROM per_user
      UNION ALL
      SELECT 'null', arm, base FROM per_user
    ),
    cells AS (
      SELECT pair,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN arm = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN arm = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
             CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN arm = 2 THEN y ELSE 0 END) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN arm = 3 THEN y ELSE 0 END) AS BIGINT) AS s3,
             CAST(SUM(CASE WHEN arm = 0 THEN y * y ELSE 0 END) AS BIGINT)
                 AS q0,
             CAST(SUM(CASE WHEN arm = 1 THEN y * y ELSE 0 END) AS BIGINT)
                 AS q1,
             CAST(SUM(CASE WHEN arm = 2 THEN y * y ELSE 0 END) AS BIGINT)
                 AS q2,
             CAST(SUM(CASE WHEN arm = 3 THEN y * y ELSE 0 END) AS BIGINT)
                 AS q3
      FROM pairs GROUP BY pair
    )
    SELECT pair,
           CAST(n0 + n1 + n2 + n3 AS BIGINT) AS n_total,
           CAST(ROUND({_ANOVA_SSB}, 0) AS BIGINT) AS ss_between_r,
           CAST(ROUND({_ANOVA_SSW}, 0) AS BIGINT) AS ss_within_r,
           ROUND({_ANOVA_F}, 6) AS f_r,
           ROUND({_ANOVA_SSB} / ({_ANOVA_SSB} + {_ANOVA_SSW}), 6)
               AS eta2_r,
           {_ANOVA_F} > 2.6049 AS rejected
    FROM cells ORDER BY pair
    """,
    tags=("events", "abtest", "anova", "omnibus-test"),
)
def ev_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test — the k-sample omnibus the testing family
    lacked: every existing test (z-lift, Welch-style CUPED, Mann-
    Whitney, KS) is two-sample, but real experiments ship 3+ variants
    and the correct first question is the OMNIBUS "does any arm
    differ" before pairwise drilling (which ev_fdr_bh then corrects).
    Users hash-split into k=4 arms; a planted pair adds a +400*arm
    dollar staircase to per-user purchase spend while a null pair
    tests the same split unshifted.

    Group moments (n_g, sum, sum-of-squares in integer cents) are
    exact bigints; SSB/SSW/F come from ONE fixed-order float
    expression over the pivoted arm columns, so both engines run the
    identical IEEE sequence. Planted F clears the df=(3,inf) 5%%
    critical value 2.6049 with eta^2 visible; the null pair stays
    under it (vacuity pins in tests).

    Scale: one user-keyed aggregate then a 4-arm conditional pivot —
    partial aggregation all the way down, no window, no join."""
    ev = load_table(spark, sf_dir, "events")
    arm = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("anova|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 4
    )
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("base"),
    ).withColumn("arm", arm)
    pairs = per_user.select(
        F.lit("planted").alias("pair"),
        "arm",
        (F.col("base") + 40000 * F.col("arm")).alias("y"),
    ).unionAll(
        per_user.select(F.lit("null").alias("pair"), "arm", F.col("base").alias("y"))
    )
    cells = pairs.groupBy("pair").agg(
        *[
            F.sum(F.when(F.col("arm") == g, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n{g}")
            for g in range(4)
        ],
        *[
            F.sum(F.when(F.col("arm") == g, F.col("y")).otherwise(0))
            .cast("bigint")
            .alias(f"s{g}")
            for g in range(4)
        ],
        *[
            F.sum(F.when(F.col("arm") == g, F.col("y") * F.col("y")).otherwise(0))
            .cast("bigint")
            .alias(f"q{g}")
            for g in range(4)
        ],
    )
    return cells.selectExpr(
        "pair",
        "CAST(n0 + n1 + n2 + n3 AS BIGINT) AS n_total",
        f"CAST(ROUND({_ANOVA_SSB}, 0) AS BIGINT) AS ss_between_r",
        f"CAST(ROUND({_ANOVA_SSW}, 0) AS BIGINT) AS ss_within_r",
        f"ROUND({_ANOVA_F}, 6) AS f_r",
        f"ROUND({_ANOVA_SSB} / ({_ANOVA_SSB} + {_ANOVA_SSW}), 6) AS eta2_r",
        f"{_ANOVA_F} > 2.6049 AS rejected",
    ).orderBy("pair")


# Per-event-hour log-rank terms (identical text both engines): the
# observed-minus-expected arm-1 deaths and the hypergeometric variance.
_LR_OE = "(CAST(d1 AS DOUBLE) - CAST(n1 AS DOUBLE) * d / n)"
_LR_V = (
    "(CAST(n1 AS DOUBLE) * n0 * d * (n - d)"
    " / (CAST(n AS DOUBLE) * n * (n - 1)))"
)


@register(
    "ev_logrank_test",
    oracle=f"""
    WITH base AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id,
             CAST(('0x' || substr(md5('lr2|' || user_id), 1, 8)) AS BIGINT) % 2
                 AS arm
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    gaps AS (
      SELECT arm,
             (LEAD(ts_us) OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id)
              - ts_us) // 3600000000 AS h,
             CASE WHEN LEAD(ts_us) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id) IS NULL
                  THEN 0 ELSE 1 END AS observed,
             ts_us
      FROM base),
    spells AS (
      SELECT arm, observed,
             CASE WHEN observed = 1 THEN h
                  ELSE ((SELECT MAX(ts_us) FROM base) - ts_us)
                       // 3600000000 END AS h
      FROM gaps),
    paired AS (
      SELECT 'planted' AS pair, arm, observed,
             h * (1 + arm) AS h FROM spells
      UNION ALL
      SELECT 'null', arm, observed, h FROM spells),
    per_h AS (
      SELECT pair, h,
             CAST(SUM(CASE WHEN arm = 1 THEN observed ELSE 0 END)
                  AS BIGINT) AS d1,
             CAST(SUM(CASE WHEN arm = 0 THEN observed ELSE 0 END)
                  AS BIGINT) AS d0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 - observed ELSE 0 END)
                  AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 - observed ELSE 0 END)
                  AS BIGINT) AS c0
      FROM paired GROUP BY pair, h),
    cum AS (
      SELECT pair, h, d1, d0,
             CAST(SUM(d1 + c1) OVER (PARTITION BY pair) -
                  COALESCE(SUM(d1 + c1) OVER (PARTITION BY pair ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n1,
             CAST(SUM(d0 + c0) OVER (PARTITION BY pair) -
                  COALESCE(SUM(d0 + c0) OVER (PARTITION BY pair ORDER BY h
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS n0
      FROM per_h),
    terms AS (
      SELECT pair, h, d1, d0, d1 + d0 AS d, n1, n0, n1 + n0 AS n
      FROM cum WHERE d1 + d0 > 0 AND n1 + n0 >= 2),
    folded AS (
      SELECT pair,
             CAST(SUM(d1) AS BIGINT) AS deaths_arm1,
             CAST(SUM(d0) AS BIGINT) AS deaths_arm0,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list({_LR_OE} ORDER BY h)), (a, x) -> a + x) AS oe,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list({_LR_V} ORDER BY h)), (a, x) -> a + x) AS v
      FROM terms GROUP BY pair)
    SELECT pair, deaths_arm1, deaths_arm0,
           ROUND(oe, 6) AS oe_r, ROUND(v, 6) AS v_r,
           ROUND(oe * oe / v, 6) AS chi2_r,
           oe * oe / v > 3.8415 AS rejected
    FROM folded ORDER BY pair
    """,
    tags=("events", "survival", "logrank", "censoring"),
)
def ev_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group log-rank test — the standard companion the
    ev_kaplan_meier estimator was missing: KM draws the two curves,
    the log-rank test says whether they differ. Users hash-split into
    two arms; spells are the same right-censored inter-event gaps KM
    uses. The planted pair doubles arm-1 time (h * (1 + arm), applied
    to censored spells too — "time runs slower" under treatment); the
    null pair tests the untouched split.

    At each event hour the arm-1 observed-minus-expected deaths under
    the hypergeometric null and its variance accumulate via the
    ev_holt_forecast fold discipline (hour-ordered list, sequential
    fold) so both engines sum the identical IEEE sequence; per-hour
    death/censor counts and risk sets are exact integers. chi2 =
    OE^2/V: the planted pair clears the df=1 5%% critical value
    3.8415, the null stays under it (vacuity pins).

    Scale shape: per-user LEAD window (bounded state) -> per-(pair,
    hour) groupBy (the only data-sized shuffle, cardinality ~2x
    distinct hours) -> windows and folds on the hour-sized relation."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    arm = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("lr2|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    w_user = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    we = int(ev.agg(F.max("ts_us").alias("m")).first()["m"])
    gaps = ev.withColumn("arm", arm).select(
        "arm",
        "ts_us",
        ((F.lead("ts_us").over(w_user) - F.col("ts_us")) / 3_600_000_000)
        .cast("long")
        .alias("h"),
        F.when(F.lead("ts_us").over(w_user).isNull(), 0)
        .otherwise(1)
        .alias("observed"),
    )
    spells = gaps.select(
        "arm",
        "observed",
        F.when(F.col("observed") == 1, F.col("h"))
        .otherwise(((F.lit(we) - F.col("ts_us")) / 3_600_000_000).cast("long"))
        .alias("h"),
    )
    paired = spells.select(
        F.lit("planted").alias("pair"),
        "arm",
        "observed",
        (F.col("h") * (1 + F.col("arm"))).alias("h"),
    ).unionAll(
        spells.select(F.lit("null").alias("pair"), "arm", "observed", "h")
    )
    per_h = paired.groupBy("pair", "h").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("observed")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("arm") == 0, F.col("observed")).otherwise(0))
        .cast("bigint")
        .alias("d0"),
        F.sum(F.when(F.col("arm") == 1, 1 - F.col("observed")).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("arm") == 0, 1 - F.col("observed")).otherwise(0))
        .cast("bigint")
        .alias("c0"),
    )
    w_all = Window.partitionBy("pair")
    w_cum = (
        Window.partitionBy("pair")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = per_h.select(
        "pair",
        "h",
        "d1",
        "d0",
        (
            F.sum(F.col("d1") + F.col("c1")).over(w_all)
            - F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(w_cum), F.lit(0))
        )
        .cast("bigint")
        .alias("n1"),
        (
            F.sum(F.col("d0") + F.col("c0")).over(w_all)
            - F.coalesce(F.sum(F.col("d0") + F.col("c0")).over(w_cum), F.lit(0))
        )
        .cast("bigint")
        .alias("n0"),
    )
    terms = cum.where((F.col("d1") + F.col("d0") > 0) & (F.col("n1") + F.col("n0") >= 2)).select(
        "pair",
        "h",
        "d1",
        "d0",
        (F.col("d1") + F.col("d0")).alias("d"),
        "n1",
        "n0",
        (F.col("n1") + F.col("n0")).alias("n"),
    )
    folded = terms.groupBy("pair").agg(
        F.sum("d1").cast("bigint").alias("deaths_arm1"),
        F.sum("d0").cast("bigint").alias("deaths_arm0"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(h,"
            f" {_LR_OE} AS t))), s -> s.t),"
            " CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("oe"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(h,"
            f" {_LR_V} AS t))), s -> s.t),"
            " CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("v"),
    )
    return folded.selectExpr(
        "pair",
        "deaths_arm1",
        "deaths_arm0",
        "ROUND(oe, 6) AS oe_r",
        "ROUND(v, 6) AS v_r",
        "ROUND(oe * oe / v, 6) AS chi2_r",
        "oe * oe / v > 3.8415 AS rejected",
    ).orderBy("pair")


# Ljung-Box Q over lags 1..7 as ONE fixed-order float expression on the
# pivoted per-lag autocovariances (c0..c7 are exact 128-bit ints; n is the
# series length) — same determinism discipline as _ANOVA_F.
_LB_Q = (
    "(CAST(n AS DOUBLE) * (n + 2) * ("
    + " + ".join(
        f"(CAST(c{k} AS DOUBLE) / c0) * (CAST(c{k} AS DOUBLE) / c0)"
        f" / (n - {k})"
        for k in range(1, 8)
    )
    + "))"
)


@register(
    "ev_ljung_box",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY 1
    ),
    shuf AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5('lb|' || d)) AS BIGINT)
                 AS t,
             x
      FROM daily
    ),
    ser AS (
      SELECT 'planted' AS pair, t,
             x + (SELECT SUM(x) // COUNT(*) FROM daily)
                 * (CASE WHEN t % 5 = 0 THEN 1 ELSE 0 END) AS x
      FROM shuf
      UNION ALL
      SELECT 'null', t, x FROM shuf
    ),
    moments AS (
      SELECT pair, CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM ser GROUP BY pair
    ),
    cent AS (
      SELECT ser.pair, t, CAST(n * x - s AS BIGINT) AS u, n
      FROM ser JOIN moments ON ser.pair = moments.pair
    ),
    covs AS (
      SELECT a.pair, a.n,
             SUM(CASE WHEN b.t = a.t
                 THEN CAST(a.u AS HUGEINT) * b.u END) AS c0,
             {', '.join(
                 f'SUM(CASE WHEN b.t = a.t + {k}'
                 f' THEN CAST(a.u AS HUGEINT) * b.u END)'
                 f' AS c{k}' for k in range(1, 8))}
      FROM cent a JOIN cent b ON a.pair = b.pair AND b.t >= a.t
      GROUP BY a.pair, a.n
    )
    SELECT pair, CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(c5 AS DOUBLE) / c0, 6) AS r5_r,
           ROUND({_LB_Q}, 6) AS q_r,
           {_LB_Q} > 14.0671 AS rejected
    FROM covs ORDER BY pair
    """,
    tags=("events", "timeseries", "autocorrelation", "portmanteau"),
)
def ev_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on the daily event-count series —
    the whiteness test the time-series family (Holt, Holt-Winters,
    seasonal decompose, CUSUM) lacked: after fitting, the standard
    question is "is anything left in the residual ACF", and this is
    the test that answers it. The raw fixture series carries real
    weekly seasonality, so the NULL series is the daily counts in
    hash-of-date order (a deterministic shuffle provably destroys
    autocorrelation while keeping the exact value multiset); the
    planted series adds a +100%%-of-mean comb on every 5th position,
    a pure lag-5 periodicity.

    Autocovariances are exact bigints on the n-scaled centered series
    u_t = n*x_t - S (u/n = x - mean, so c_k/n^2 is the classical
    autocovariance and every n^2 cancels in r_k = c_k/c_0); Q over
    lags 1..7 is one fixed-order float expression over the pivoted
    c_k columns. Planted Q clears the chi2(7) 5%% critical value
    14.0671 with the lag-5 spike visible in r5; the shuffled null
    stays under it (vacuity pins).

    Scale: one date-keyed count aggregate (the only data-sized
    shuffle); everything downstream runs on the 30-row series, and
    the lag join is a self-join on that tiny relation."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    mean_x = daily.agg(
        (F.sum("x") / F.count("*")).cast("bigint").alias("m")
    )
    shuf = daily.select(
        F.row_number()
        .over(Window.orderBy(F.md5(F.concat(F.lit("lb|"), F.col("d").cast("string")))))
        .cast("bigint")
        .alias("t"),
        "x",
    )
    ser = (
        shuf.crossJoin(F.broadcast(mean_x))
        .select(
            F.lit("planted").alias("pair"),
            "t",
            (
                F.col("x")
                + F.col("m") * F.when(F.col("t") % 5 == 0, 1).otherwise(0)
            ).alias("x"),
        )
        .unionAll(shuf.select(F.lit("null").alias("pair"), "t", "x"))
    )
    moments = ser.groupBy("pair").agg(
        F.sum("x").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    cent = ser.join(F.broadcast(moments), "pair").select(
        "pair",
        "t",
        (F.col("n") * F.col("x") - F.col("s")).cast("bigint").alias("u"),
        "n",
    )
    # equi-join lag alignment: each point fans out to its 8 lag
    # targets (t+k), then joins back on (pair, t) — a hash join, never
    # a nested-loop range join, and still tiny (30 x 8 rows per pair)
    fanned = cent.select(
        "pair",
        "n",
        F.col("u").alias("ua"),
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("k"),
        F.col("t"),
    ).withColumn("tt", F.col("t") + F.col("k"))
    b = cent.select("pair", F.col("t").alias("tt"), F.col("u").alias("ub"))
    covs = (
        fanned.join(b, ["pair", "tt"])
        .groupBy("pair", "n")
        .agg(
            # operand cast: u = n*x - s is n-scaled, so ua*ub wraps
            # 64-bit per ROW at large daily volumes — Spark silently,
            # DuckDB with a raise (same class as ev_pacf_durbin)
            *[
                F.sum(
                    F.when(
                        F.col("k") == k,
                        F.expr("CAST(ua AS DECIMAL(38,0)) * ub"),
                    )
                ).alias(f"c{k}")
                for k in range(0, 8)
            ],
        )
    )
    return covs.selectExpr(
        "pair",
        "CAST(n AS BIGINT) AS n_days",
        "ROUND(CAST(c5 AS DOUBLE) / c0, 6) AS r5_r",
        f"ROUND({_LB_Q}, 6) AS q_r",
        f"{_LB_Q} > 14.0671 AS rejected",
    ).orderBy("pair")


@register(
    "ev_permutation_test",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0)
                  AS BIGINT) AS base,
             CAST(('0x' || substr(md5('perm|' || user_id), 1, 8)) AS BIGINT)
                 % 2 AS t
      FROM events GROUP BY user_id
    ),
    pairs AS (
      SELECT 'planted' AS pair, user_id, t, base + 30000 * t AS y
      FROM per_user
      UNION ALL
      SELECT 'null', user_id, t, base FROM per_user
    ),
    obs AS (
      SELECT pair,
             CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS s1o,
             CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS s0o,
             CAST(SUM(t) AS BIGINT) AS n1o,
             CAST(SUM(1 - t) AS BIGINT) AS n0o
      FROM pairs GROUP BY pair
    ),
    perms AS (
      SELECT pair, b,
             CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS s1b,
             CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS s0b,
             CAST(SUM(arm) AS BIGINT) AS n1b,
             CAST(SUM(1 - arm) AS BIGINT) AS n0b
      FROM (
        SELECT pair, y, g.b,
               CAST(('0x' || substr(md5('perm' || g.b || '|' || user_id),
                     1, 8)) AS BIGINT) % 2 AS arm
        FROM pairs, (SELECT UNNEST(generate_series(0, 199)) AS b) g
      ) GROUP BY pair, b
    ),
    cmp AS (
      SELECT perms.pair,
             CAST(SUM(CASE WHEN
               ABS(CAST(s1b AS HUGEINT) * n0b - CAST(s0b AS HUGEINT) * n1b)
                   * (CAST(n1o AS HUGEINT) * n0o)
               >= ABS(CAST(s1o AS HUGEINT) * n0o - CAST(s0o AS HUGEINT) * n1o)
                   * (CAST(n1b AS HUGEINT) * n0b)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
      FROM perms JOIN obs ON perms.pair = obs.pair
      WHERE n1b > 0 AND n0b > 0
      GROUP BY perms.pair
    )
    SELECT obs.pair,
           ROUND((CAST(s1o AS DOUBLE) / n1o - CAST(s0o AS DOUBLE) / n0o)
                 / 100.0, 6) AS t_obs_dollars_r,
           n_ge,
           ROUND((1.0 + n_ge) / 201.0, 6) AS p_mc_r,
           (1.0 + n_ge) / 201.0 <= 0.05 AS significant
    FROM cmp JOIN obs ON cmp.pair = obs.pair
    ORDER BY obs.pair
    """,
    tags=("events", "abtest", "permutation-test", "resampling"),
)
def ev_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo permutation test on the treated-vs-control mean
    spend difference — the assumption-free significance machine the
    parametric (z, F) and rank (Mann-Whitney) tests complement: the
    null distribution is built by RE-RANDOMIZING the observed labels
    (B=200 deterministic md5(b|user) reassignments), so it is exact
    for any statistic under any spend distribution. p = (1 + #{b:
    |T_b| >= |T_obs|}) / (B + 1), the add-one form that keeps the MC
    p-value valid.

    Every |T_b| >= |T_obs| comparison is EXACT wide-integer
    arithmetic (cross-multiplied sums: HUGEINT in DuckDB,
    DECIMAL(38,0) in Spark), so no float tie at the acceptance
    boundary can flip a count between engines; only the reported
    dollar statistic and p are float-rounded. Validity bound: the
    cross-multiplied product is ~|Δ|·n² (≲ 38 digits up to roughly
    1e8–1e9 users at fixture-like spends); past it BOTH engines fail
    LOUDLY rather than silently biasing the count — DuckDB's HUGEINT
    raises on overflow, and the Spark comparison maps an overflow
    NULL to a NULL n_ge (never to 0, which would deflate p toward
    false significance). A planted +$300 treated shift is
    significant (p at the 1/201 floor at gate scale) while the null
    relabeling of the same users is not (vacuity pins).

    Scale: one user-keyed aggregate, then a users x 200 explode into
    a (pair, b)-keyed partial aggregation — 400 cells out, fully
    map-side combinable, no window, no data-sized join."""
    ev = load_table(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("perm|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("base"),
    ).withColumn("t", t)
    pairs = per_user.select(
        F.lit("planted").alias("pair"),
        "user_id",
        "t",
        (F.col("base") + 30000 * F.col("t")).alias("y"),
    ).unionAll(
        per_user.select(
            F.lit("null").alias("pair"), "user_id", "t", F.col("base").alias("y")
        )
    )
    obs = pairs.groupBy("pair").agg(
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s1o"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s0o"),
        F.sum("t").cast("bigint").alias("n1o"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n0o"),
    )
    exploded = pairs.select(
        "pair", "y", "user_id", F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b")
    ).withColumn(
        "arm",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("perm"),
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("user_id"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2,
    )
    perms = exploded.groupBy("pair", "b").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s1b"),
        F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("s0b"),
        F.sum("arm").cast("bigint").alias("n1b"),
        F.sum(1 - F.col("arm")).cast("bigint").alias("n0b"),
    )
    # NULL-loud overflow guard: Spark's non-ANSI decimal multiply
    # yields NULL past 38 digits, a NULL >= comparison is NULL, and
    # SUM(CASE WHEN NULL THEN 1 ELSE 0) / SUM skipping NULLs would
    # both silently DEFLATE n_ge (biasing p toward false
    # significance). Instead: flag any b whose comparison evaluated
    # to NULL and poison n_ge to NULL for that pair — the engine twin
    # of DuckDB's HUGEINT overflow error (loud, never biased).
    _CMP = (
        "ABS(CAST(s1b AS DECIMAL(38,0)) * n0b"
        " - CAST(s0b AS DECIMAL(38,0)) * n1b)"
        " * (CAST(n1o AS DECIMAL(38,0)) * n0o)"
        " >= ABS(CAST(s1o AS DECIMAL(38,0)) * n0o"
        " - CAST(s0o AS DECIMAL(38,0)) * n1o)"
        " * (CAST(n1b AS DECIMAL(38,0)) * n0b)"
    )
    # project the wide-decimal comparison ONCE per (pair, b) row — the
    # two aggregates below both consume it, and distinct agg functions
    # are not reliably subexpression-eliminated, so inlining _CMP in
    # each would evaluate the four DECIMAL(38,0) products twice per row
    cmp = (
        perms.join(F.broadcast(obs), "pair")
        .where((F.col("n1b") > 0) & (F.col("n0b") > 0))
        .withColumn("__cmp", F.expr(_CMP))
        .groupBy("pair")
        .agg(
            F.sum(F.expr("CASE WHEN __cmp THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("__ge_raw"),
            F.max(
                F.expr("CASE WHEN __cmp IS NULL THEN 1 ELSE 0 END")
            ).alias("__overflowed"),
        )
        .select(
            "pair",
            F.expr(
                "CASE WHEN __overflowed = 1 THEN NULL ELSE __ge_raw END"
            ).alias("n_ge"),
        )
    )
    return (
        cmp.join(F.broadcast(obs), "pair")
        .selectExpr(
            "pair",
            "ROUND((CAST(s1o AS DOUBLE) / n1o - CAST(s0o AS DOUBLE) / n0o)"
            " / 100.0, 6) AS t_obs_dollars_r",
            "n_ge",
            "ROUND((CAST(1 AS DOUBLE) + n_ge) / 201.0, 6) AS p_mc_r",
            "(CAST(1 AS DOUBLE) + n_ge) / 201.0 <= 0.05 AS significant",
        )
        .orderBy("pair")
    )


# CMH statistic over the 3 strata pivoted into fixed columns: sum of
# per-stratum (a - E) and hypergeometric V in one fixed-order float
# expression (same determinism discipline as _ANOVA_F / _LB_Q).
_CMH_OE = " + ".join(
    f"(CAST(a{s} AS DOUBLE) - CAST(n1{s} AS DOUBLE) * m1{s} / nn{s})"
    for s in range(3)
)
_CMH_V = " + ".join(
    f"(CAST(n1{s} AS DOUBLE) * (nn{s} - n1{s}) * m1{s} * (nn{s} - m1{s})"
    f" / (CAST(nn{s} AS DOUBLE) * nn{s} * (nn{s} - 1)))"
    for s in range(3)
)
_CMH = f"((({_CMH_OE}) * ({_CMH_OE})) / ({_CMH_V}))"
# marginal (stratum-ignoring) 2x2 chi-square from the pooled cells
_CMH_MARG = (
    "(CAST(nn AS DOUBLE) * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)"
    " * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)"
    " / (CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)))"
)


@register(
    "ev_cmh_test",
    oracle=f"""
    WITH per_user AS (
      SELECT DISTINCT user_id,
             CAST(('0x' || substr(md5('st|' || user_id), 1, 8)) AS BIGINT)
                 % 3 AS s,
             CAST(('0x' || substr(md5('x|' || user_id), 1, 8)) AS BIGINT)
                 % 100 AS hx,
             CAST(('0x' || substr(md5('y|' || user_id), 1, 8)) AS BIGINT)
                 % 100 AS hy
      FROM events
    ),
    designed AS (
      SELECT 'confounded' AS pair, s,
             CASE WHEN hx < 20 + 30 * s THEN 1 ELSE 0 END AS x,
             CASE WHEN hy < 10 + 25 * s THEN 1 ELSE 0 END AS y
      FROM per_user
      UNION ALL
      SELECT 'causal', s,
             CASE WHEN hx < 20 + 30 * s THEN 1 ELSE 0 END,
             CASE WHEN hy < 10 + 15 * s
                       + 25 * (CASE WHEN hx < 20 + 30 * s THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END
      FROM per_user
    ),
    cells AS (
      SELECT pair,
             {', '.join(
              f"CAST(SUM(CASE WHEN s = {s} AND x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a{s}, "
              f"CAST(SUM(CASE WHEN s = {s} AND x = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1{s}, "
              f"CAST(SUM(CASE WHEN s = {s} AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS m1{s}, "
              f"CAST(SUM(CASE WHEN s = {s} THEN 1 ELSE 0 END) AS BIGINT) AS nn{s}"
              for s in range(3))},
             CAST(SUM(CASE WHEN x = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN x = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN x = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN x = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS nn
      FROM designed GROUP BY pair
    )
    SELECT pair, nn AS n_users,
           ROUND({_CMH_MARG}, 6) AS marginal_chi2_r,
           ROUND({_CMH}, 6) AS cmh_chi2_r,
           {_CMH_MARG} > 3.8415 AS marginal_rejected,
           {_CMH} > 3.8415 AS cmh_rejected
    FROM cells ORDER BY pair
    """,
    tags=("events", "abtest", "stratified-test", "confounding"),
)
def ev_cmh_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 test — the inference
    companion to dp_simpson_audit: that query EXHIBITS a reversal,
    this one TESTS exposure->outcome association while controlling
    the stratum. Two planted designs over hash-derived user strata:
    'confounded' makes stratum drive both exposure and outcome with
    NO within-stratum effect (classic Simpson bait — the marginal 2x2
    chi-square fires, CMH stays quiet), 'causal' adds a genuine
    +25pp within-stratum exposure effect (both fire).

    All 2x2x3 cell counts are exact bigints pivoted into fixed
    columns; the CMH sum of per-stratum (a - E) and hypergeometric
    variances and the marginal chi-square are fixed-order float
    expressions, so both engines run the identical IEEE sequence.

    Scale: one DISTINCT over user ids (the only data-sized shuffle)
    then a single conditional-pivot aggregate to one row per design —
    partial-aggregatable, no join, no window."""
    ev = load_table(spark, sf_dir, "events")

    def h(salt: str) -> "F.Column":
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col("user_id"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
        )

    per_user = ev.select(
        "user_id",
        (h("st|") % 3).alias("s"),
        (h("x|") % 100).alias("hx"),
        (h("y|") % 100).alias("hy"),
    ).distinct()
    x = F.when(F.col("hx") < 20 + 30 * F.col("s"), 1).otherwise(0)
    designed = per_user.select(
        F.lit("confounded").alias("pair"),
        "s",
        x.alias("x"),
        F.when(F.col("hy") < 10 + 25 * F.col("s"), 1).otherwise(0).alias("y"),
    ).unionAll(
        per_user.select(
            F.lit("causal").alias("pair"),
            "s",
            x.alias("x"),
            F.when(F.col("hy") < 10 + 15 * F.col("s") + 25 * x, 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    aggs = []
    for s in range(3):
        aggs += [
            F.sum(
                F.when((F.col("s") == s) & (F.col("x") == 1) & (F.col("y") == 1), 1)
                .otherwise(0)
            ).cast("bigint").alias(f"a{s}"),
            F.sum(F.when((F.col("s") == s) & (F.col("x") == 1), 1).otherwise(0))
            .cast("bigint").alias(f"n1{s}"),
            F.sum(F.when((F.col("s") == s) & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint").alias(f"m1{s}"),
            F.sum(F.when(F.col("s") == s, 1).otherwise(0))
            .cast("bigint").alias(f"nn{s}"),
        ]
    aggs += [
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when((F.col("x") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint").alias("b"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("bigint").alias("c"),
        F.sum(F.when((F.col("x") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("nn"),
    ]
    cells = designed.groupBy("pair").agg(*aggs)
    return cells.selectExpr(
        "pair",
        "nn AS n_users",
        f"ROUND({_CMH_MARG}, 6) AS marginal_chi2_r",
        f"ROUND({_CMH}, 6) AS cmh_chi2_r",
        f"{_CMH_MARG} > 3.8415 AS marginal_rejected",
        f"{_CMH} > 3.8415 AS cmh_rejected",
    ).orderBy("pair")


# Granger F from the 9 integer regression sums via centered cross
# products C_ab = n*S_ab - S_a*S_b (exact bigints): restricted RSS
# (y ~ 1 + y1) vs unrestricted RSS (y ~ 1 + y1 + x1) by Cramer's
# rule, one fixed-order float expression.
_GC_RSSR = (
    "(CAST(cyy AS DOUBLE) - CAST(cyy1 AS DOUBLE) * cyy1 / cy1y1)"
)
_GC_RSSU = (
    "(CAST(cyy AS DOUBLE)"
    " - (CAST(cyy1 AS DOUBLE) * cyy1 * cx1x1"
    "    - 2.0 * CAST(cyy1 AS DOUBLE) * cyx1 * cy1x1"
    "    + CAST(cyx1 AS DOUBLE) * cyx1 * cy1y1)"
    "   / (CAST(cy1y1 AS DOUBLE) * cx1x1 - CAST(cy1x1 AS DOUBLE) * cy1x1))"
)
_GC_F = f"((n - 3) * ({_GC_RSSR} - {_GC_RSSU}) / {_GC_RSSU})"


@register(
    "ev_granger_causality",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY 1
    ),
    idx AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, x, y
      FROM daily
    ),
    sh AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5('gc|' || d)) AS BIGINT)
                 AS t,
             x AS xs
      FROM daily
    ),
    base AS (SELECT idx.t, idx.x, idx.y, sh.xs FROM idx JOIN sh ON idx.t = sh.t),
    planted_series AS (
      SELECT t, x, y + LAG(x) OVER (ORDER BY t) AS yp FROM base
    ),
    rows_p AS (
      SELECT 'planted' AS pair, yp AS yv,
             LAG(yp) OVER (ORDER BY t) AS y1,
             LAG(x) OVER (ORDER BY t) AS x1,
             t
      FROM planted_series
    ),
    rows_n AS (
      SELECT 'null' AS pair, y AS yv,
             LAG(y) OVER (ORDER BY t) AS y1,
             LAG(xs) OVER (ORDER BY t) AS x1,
             t
      FROM base
    ),
    reg AS (
      SELECT * FROM rows_p WHERE t >= 3
      UNION ALL
      SELECT * FROM rows_n WHERE t >= 3
    ),
    sums AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(yv) AS BIGINT) AS sy,
             CAST(SUM(y1) AS BIGINT) AS sy1,
             CAST(SUM(x1) AS BIGINT) AS sx1,
             SUM(CAST(yv AS HUGEINT) * yv) AS syy,
             SUM(CAST(y1 AS HUGEINT) * y1) AS sy1y1,
             SUM(CAST(x1 AS HUGEINT) * x1) AS sx1x1,
             SUM(CAST(yv AS HUGEINT) * y1) AS syy1,
             SUM(CAST(yv AS HUGEINT) * x1) AS syx1,
             SUM(CAST(y1 AS HUGEINT) * x1) AS sy1x1
      FROM reg GROUP BY pair
    ),
    cc AS (
      SELECT pair, n,
             n * syy - CAST(sy AS HUGEINT) * sy AS cyy,
             n * sy1y1 - CAST(sy1 AS HUGEINT) * sy1 AS cy1y1,
             n * sx1x1 - CAST(sx1 AS HUGEINT) * sx1 AS cx1x1,
             n * syy1 - CAST(sy AS HUGEINT) * sy1 AS cyy1,
             n * syx1 - CAST(sy AS HUGEINT) * sx1 AS cyx1,
             n * sy1x1 - CAST(sy1 AS HUGEINT) * sx1 AS cy1x1
      FROM sums
    )
    SELECT pair, n AS n_obs,
           ROUND({_GC_F}, 6) AS f_r,
           ROUND(1.0 - {_GC_RSSU} / {_GC_RSSR}, 6) AS partial_r2_r,
           {_GC_F} > 4.2417 AS x_granger_causes_y
    FROM cc ORDER BY pair
    """,
    tags=("events", "timeseries", "granger", "causality"),
)
def ev_granger_causality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger causality (lag-1) between the daily click and purchase
    series — the lead-lag question the correlation-only
    ev_lagged_crosscorrelation can't answer: does PAST x improve the
    prediction of y beyond y's own past? F compares the restricted
    AR(1) regression y_t ~ y_{t-1} against the unrestricted
    y_t ~ y_{t-1} + x_{t-1}. The planted pair injects a true lag
    dependence (y'_t = y_t + x_{t-1}, integer construction); the
    null pair regresses on a hash-shuffled x whose lead-lag relation
    to y is destroyed by construction while both marginals keep
    their real seasonality.

    All 9 regression sums and the centered cross products C_ab =
    n*S_ab - S_a*S_b are exact 128-bit integers (DECIMAL(38,0) /
    HUGEINT — syy and sy*sy are O(total^2), past BIGINT at 100 TB
    volumes); both RSS terms and F come
    from one fixed-order float expression (Cramer's rule on the 2x2
    normal equations). Planted F clears the F(1,25) 5%% critical
    value 4.2417; the shuffled null stays under it (vacuity pins).

    Scale: one date-keyed aggregate is the only data-sized shuffle;
    lags, regression rows, and sums all live on the 30-row series."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t"),
        "x",
        "y",
    )
    sh = daily.select(
        F.row_number()
        .over(Window.orderBy(F.md5(F.concat(F.lit("gc|"), F.col("d").cast("string")))))
        .cast("bigint")
        .alias("t"),
        F.col("x").alias("xs"),
    )
    base = idx.join(sh, "t")
    w_t = Window.orderBy("t")
    planted_series = base.select(
        "t", "x", (F.col("y") + F.lag("x").over(w_t)).alias("yp")
    )
    rows_p = planted_series.select(
        F.lit("planted").alias("pair"),
        F.col("yp").alias("yv"),
        F.lag("yp").over(w_t).alias("y1"),
        F.lag("x").over(w_t).alias("x1"),
        "t",
    )
    rows_n = base.select(
        F.lit("null").alias("pair"),
        F.col("y").alias("yv"),
        F.lag("y").over(w_t).alias("y1"),
        F.lag("xs").over(w_t).alias("x1"),
        "t",
    )
    reg = rows_p.where(F.col("t") >= 3).unionAll(rows_n.where(F.col("t") >= 3))
    # 128-bit moments (DECIMAL(38,0) here, HUGEINT in the oracle):
    # yv is a daily count, so syy ~ days*(daily)^2 and sy*sy ~
    # (total)^2 — both past BIGINT at 100 TB event volumes; operand
    # cast before every product, and the _GC_* float fragments are
    # unchanged (they CAST to DOUBLE at the boundary either way)
    dec = "CAST(%s AS DECIMAL(38,0))"
    sums = reg.groupBy("pair").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("yv").cast("bigint").alias("sy"),
        F.sum("y1").cast("bigint").alias("sy1"),
        F.sum("x1").cast("bigint").alias("sx1"),
        F.sum(F.expr(dec % "yv" + " * yv")).alias("syy"),
        F.sum(F.expr(dec % "y1" + " * y1")).alias("sy1y1"),
        F.sum(F.expr(dec % "x1" + " * x1")).alias("sx1x1"),
        F.sum(F.expr(dec % "yv" + " * y1")).alias("syy1"),
        F.sum(F.expr(dec % "yv" + " * x1")).alias("syx1"),
        F.sum(F.expr(dec % "y1" + " * x1")).alias("sy1x1"),
    )
    cc = sums.selectExpr(
        "pair",
        "n",
        "n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS cyy",
        "n * sy1y1 - CAST(sy1 AS DECIMAL(38,0)) * sy1 AS cy1y1",
        "n * sx1x1 - CAST(sx1 AS DECIMAL(38,0)) * sx1 AS cx1x1",
        "n * syy1 - CAST(sy AS DECIMAL(38,0)) * sy1 AS cyy1",
        "n * syx1 - CAST(sy AS DECIMAL(38,0)) * sx1 AS cyx1",
        "n * sy1x1 - CAST(sy1 AS DECIMAL(38,0)) * sx1 AS cy1x1",
    )
    return cc.selectExpr(
        "pair",
        "n AS n_obs",
        f"ROUND({_GC_F}, 6) AS f_r",
        f"ROUND(1.0 - {_GC_RSSU} / {_GC_RSSR}, 6) AS partial_r2_r",
        f"{_GC_F} > 4.2417 AS x_granger_causes_y",
    ).orderBy("pair")


# ITS reuses the Granger Cramer's-rule machinery with regressors
# y1 := t (trend) and x1 := step indicator; same centered-cross-
# product column names, same fixed-order float expressions, plus the
# step-coefficient estimate from the 2x2 normal equations.
_ITS_CHAT = (
    "((CAST(cyx1 AS DOUBLE) * cy1y1 - CAST(cyy1 AS DOUBLE) * cy1x1)"
    " / (CAST(cy1y1 AS DOUBLE) * cx1x1 - CAST(cy1x1 AS DOUBLE) * cy1x1))"
)


@register(
    "ev_interrupted_time_series",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(x) AS BIGINT) AS s FROM daily),
    shuf AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5('its|' || d)) AS BIGINT)
                 AS t,
             x
      FROM daily
    ),
    ser AS (
      SELECT 'planted' AS pair, t,
             x + (SELECT s // 60 FROM tot)
                 * (CASE WHEN t >= 20 THEN 1 ELSE 0 END) AS yv,
             t AS y1,
             CAST(CASE WHEN t >= 20 THEN 1 ELSE 0 END AS BIGINT) AS x1
      FROM shuf
      UNION ALL
      SELECT 'null', t, x, t,
             CAST(CASE WHEN t >= 20 THEN 1 ELSE 0 END AS BIGINT)
      FROM shuf
    ),
    sums AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(yv) AS BIGINT) AS sy,
             CAST(SUM(y1) AS BIGINT) AS sy1,
             CAST(SUM(x1) AS BIGINT) AS sx1,
             SUM(CAST(yv AS HUGEINT) * yv) AS syy,
             SUM(CAST(y1 AS HUGEINT) * y1) AS sy1y1,
             SUM(CAST(x1 AS HUGEINT) * x1) AS sx1x1,
             SUM(CAST(yv AS HUGEINT) * y1) AS syy1,
             SUM(CAST(yv AS HUGEINT) * x1) AS syx1,
             SUM(CAST(y1 AS HUGEINT) * x1) AS sy1x1
      FROM ser GROUP BY pair
    ),
    cc AS (
      SELECT pair, n,
             n * syy - CAST(sy AS HUGEINT) * sy AS cyy,
             n * sy1y1 - CAST(sy1 AS HUGEINT) * sy1 AS cy1y1,
             n * sx1x1 - CAST(sx1 AS HUGEINT) * sx1 AS cx1x1,
             n * syy1 - CAST(sy AS HUGEINT) * sy1 AS cyy1,
             n * syx1 - CAST(sy AS HUGEINT) * sx1 AS cyx1,
             n * sy1x1 - CAST(sy1 AS HUGEINT) * sx1 AS cy1x1
      FROM sums
    )
    SELECT pair, n AS n_days,
           CAST((SELECT s // 60 FROM tot) AS BIGINT) AS planted_step,
           ROUND({_ITS_CHAT}, 4) AS step_hat_r,
           ROUND({_GC_F}, 6) AS f_r,
           {_GC_F} > 4.21 AS step_detected
    FROM cc ORDER BY pair
    """,
    tags=("events", "timeseries", "quasi-experiment", "segmented-regression"),
)
def ev_interrupted_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time series (segmented regression) — the
    quasi-experimental design for a KNOWN intervention date that
    DiD (needs a control group), RDD (needs a running variable), and
    CUSUM (detects, doesn't size) don't cover: y_t ~ intercept +
    trend*t + step*I(t >= T0), F-testing the step term and reporting
    its size. Both pairs build on the hash-shuffled daily series
    (destroying real seasonality so the step is the only structure):
    the planted pair injects a half-mean step at day 20 and recovers
    it (step_hat within a few percent of planted_step at gate
    scale); the null pair fits the same break date to the unshifted
    series and stays under F(1,27) = 4.21.

    Same exact-bigint centered-cross-product discipline as
    ev_granger_causality (y1 := t, x1 := step), one extra Cramer
    column for the coefficient. Scale: one date-keyed aggregate,
    everything else on the 30-row series."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    tot = daily.agg((F.floor(F.sum("x") / 60)).cast("bigint").alias("step"))
    shuf = daily.select(
        F.row_number()
        .over(
            Window.orderBy(F.md5(F.concat(F.lit("its|"), F.col("d").cast("string"))))
        )
        .cast("bigint")
        .alias("t"),
        "x",
    )
    step_i = F.when(F.col("t") >= 20, 1).otherwise(0).cast("bigint")
    with_step = shuf.crossJoin(F.broadcast(tot))
    ser = with_step.select(
        F.lit("planted").alias("pair"),
        "t",
        (F.col("x") + F.col("step") * step_i).alias("yv"),
        F.col("t").alias("y1"),
        step_i.alias("x1"),
        "step",
    ).unionAll(
        with_step.select(
            F.lit("null").alias("pair"),
            "t",
            F.col("x").alias("yv"),
            F.col("t").alias("y1"),
            step_i.alias("x1"),
            "step",
        )
    )
    sums = ser.groupBy("pair").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("yv").cast("bigint").alias("sy"),
        F.sum("y1").cast("bigint").alias("sy1"),
        F.sum("x1").cast("bigint").alias("sx1"),
        # 128-bit moments, same rationale as ev_granger_causality:
        # yv is a daily count, so syy and sy*sy are O(total^2)
        F.sum(F.expr("CAST(yv AS DECIMAL(38,0)) * yv")).alias("syy"),
        F.sum(F.expr("CAST(y1 AS DECIMAL(38,0)) * y1")).alias("sy1y1"),
        F.sum(F.expr("CAST(x1 AS DECIMAL(38,0)) * x1")).alias("sx1x1"),
        F.sum(F.expr("CAST(yv AS DECIMAL(38,0)) * y1")).alias("syy1"),
        F.sum(F.expr("CAST(yv AS DECIMAL(38,0)) * x1")).alias("syx1"),
        F.sum(F.expr("CAST(y1 AS DECIMAL(38,0)) * x1")).alias("sy1x1"),
        F.min("step").cast("bigint").alias("planted_step"),
    )
    cc = sums.selectExpr(
        "pair",
        "n",
        "planted_step",
        "n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS cyy",
        "n * sy1y1 - CAST(sy1 AS DECIMAL(38,0)) * sy1 AS cy1y1",
        "n * sx1x1 - CAST(sx1 AS DECIMAL(38,0)) * sx1 AS cx1x1",
        "n * syy1 - CAST(sy AS DECIMAL(38,0)) * sy1 AS cyy1",
        "n * syx1 - CAST(sy AS DECIMAL(38,0)) * sx1 AS cyx1",
        "n * sy1x1 - CAST(sy1 AS DECIMAL(38,0)) * sx1 AS cy1x1",
    )
    return cc.selectExpr(
        "pair",
        "n AS n_days",
        "planted_step",
        f"ROUND({_ITS_CHAT}, 4) AS step_hat_r",
        f"ROUND({_GC_F}, 6) AS f_r",
        f"{_GC_F} > 4.21 AS step_detected",
    ).orderBy("pair")


# Welch statistics from per-arm integer moments (n, s, q): sample
# variances, t, and the Welch-Satterthwaite df as fixed-order float
# expressions over the pivoted columns.
_WT_V1 = "((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1))"
_WT_V0 = "((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1))"
_WT_SE2 = f"({_WT_V1} / n1 + {_WT_V0} / n0)"
_WT_T = (
    f"((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / SQRT({_WT_SE2}))"
)
_WT_DF = (
    f"(({_WT_SE2}) * ({_WT_SE2})"
    f" / (({_WT_V1} / n1) * ({_WT_V1} / n1) / (n1 - 1)"
    f"    + ({_WT_V0} / n0) * ({_WT_V0} / n0) / (n0 - 1)))"
)


@register(
    "ev_welch_ttest",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100, 0) AS BIGINT) END), 0)
                  AS BIGINT) AS base,
             CAST(('0x' || substr(md5('wt|' || user_id), 1, 8)) AS BIGINT)
                 % 2 AS t
      FROM events GROUP BY user_id
    ),
    pairs AS (
      SELECT 'planted' AS pair, t, base + 25000 * t AS y FROM per_user
      UNION ALL
      SELECT 'null', t, base FROM per_user
    ),
    cells AS (
      SELECT pair,
             CAST(SUM(t) AS BIGINT) AS n1,
             CAST(SUM(1 - t) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN t = 1 THEN y * y ELSE 0 END) AS BIGINT) AS q1,
             CAST(SUM(CASE WHEN t = 0 THEN y * y ELSE 0 END) AS BIGINT) AS q0
      FROM pairs GROUP BY pair
    )
    SELECT pair,
           CAST(n1 + n0 AS BIGINT) AS n_total,
           ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / 100.0,
                 6) AS mean_diff_dollars_r,
           ROUND({_WT_T}, 6) AS t_r,
           ROUND({_WT_DF}, 4) AS welch_df_r,
           ABS({_WT_T}) > 2.201 AS rejected
    FROM cells ORDER BY pair
    """,
    tags=("events", "abtest", "welch-t", "parametric-test"),
)
def ev_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on per-user mean spend — the
    parametric workhorse between the proportions z (ev_abtest_lift),
    the rank test (ev_mann_whitney), and the resampling test
    (ev_permutation_test): continuous metric, no equal-variance
    assumption, Welch-Satterthwaite df reported. Per-arm moments
    (n, sum, sum of squares in integer cents) are exact bigints;
    variances, t, and df are one fixed-order float expression over
    the pivoted arm columns. The critical value 2.201 is conservative
    for df >= 11 (two-sided 5% t at df=11 is ~2.20099; every scale
    here clears df 11); a planted +$250 treated shift
    rejects at gate scale while the null split stays inside the band
    (vacuity pins; smoke is underpowered and pins ordering only).

    Scale: one user-keyed aggregate then one 2-arm conditional pivot
    — partial aggregation all the way down, no window, no join."""
    ev = load_table(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("wt|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100, 0).cast("bigint"),
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("base"),
    ).withColumn("t", t)
    pairs = per_user.select(
        F.lit("planted").alias("pair"), "t", (F.col("base") + 25000 * F.col("t")).alias("y")
    ).unionAll(
        per_user.select(F.lit("null").alias("pair"), "t", F.col("base").alias("y"))
    )
    cells = pairs.groupBy("pair").agg(
        F.sum("t").cast("bigint").alias("n1"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0)).cast("bigint").alias("s1"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0)).cast("bigint").alias("s0"),
        F.sum(F.when(F.col("t") == 1, F.col("y") * F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("q1"),
        F.sum(F.when(F.col("t") == 0, F.col("y") * F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("q0"),
    )
    return cells.selectExpr(
        "pair",
        "CAST(n1 + n0 AS BIGINT) AS n_total",
        "ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0) / 100.0, 6)"
        " AS mean_diff_dollars_r",
        f"ROUND({_WT_T}, 6) AS t_r",
        f"ROUND({_WT_DF}, 4) AS welch_df_r",
        f"ABS({_WT_T}) > 2.201 AS rejected",
    ).orderBy("pair")


# Delta-method variance of a ratio-of-sums metric per arm, from the
# six integer moments (n, Sx, Sy, Sxx, Syy, Sxy), as fixed-order
# float expressions over pivoted arm columns. R = Sx/Sy; var(R) ~
# (var_x - 2R cov + R^2 var_y) / (n * ybar^2).
def _rm(arm: str) -> dict[str, str]:
    r = f"(CAST(sx{arm} AS DOUBLE) / sy{arm})"
    vx = f"((CAST(sxx{arm} AS DOUBLE) - CAST(sx{arm} AS DOUBLE) * sx{arm} / n{arm}) / (n{arm} - 1))"
    vy = f"((CAST(syy{arm} AS DOUBLE) - CAST(sy{arm} AS DOUBLE) * sy{arm} / n{arm}) / (n{arm} - 1))"
    cxy = f"((CAST(sxy{arm} AS DOUBLE) - CAST(sx{arm} AS DOUBLE) * sy{arm} / n{arm}) / (n{arm} - 1))"
    ybar = f"(CAST(sy{arm} AS DOUBLE) / n{arm})"
    var_r = f"(({vx} - 2.0 * {r} * {cxy} + {r} * {r} * {vy}) / (n{arm} * {ybar} * {ybar}))"
    return {"r": r, "var": var_r}


_RM1, _RM0 = _rm("1"), _rm("0")
_RM_Z = (
    f"(({_RM1['r']} - {_RM0['r']})"
    f" / SQRT({_RM1['var']} + {_RM0['var']}))"
)


@register(
    "ev_ratio_metric_delta",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS v,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(('0x' || substr(md5('rm|' || user_id), 1, 8)) AS BIGINT)
                 % 2 AS t
      FROM events GROUP BY user_id
    ),
    pairs AS (
      SELECT 'planted' AS pair, t, v,
             c + t * ((c + 1) // 2) AS c
      FROM per_user
      UNION ALL
      SELECT 'null', t, v, c FROM per_user
    ),
    cells AS (
      SELECT pair,
             {', '.join(
                f"CAST(SUM(CASE WHEN t = {a} THEN 1 ELSE 0 END) AS BIGINT) AS n{a}, "
                f"CAST(SUM(CASE WHEN t = {a} THEN c ELSE 0 END) AS BIGINT) AS sx{a}, "
                f"CAST(SUM(CASE WHEN t = {a} THEN v ELSE 0 END) AS BIGINT) AS sy{a}, "
                f"SUM(CASE WHEN t = {a} THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS sxx{a}, "
                f"SUM(CASE WHEN t = {a} THEN CAST(v AS HUGEINT) * v ELSE 0 END) AS syy{a}, "
                f"SUM(CASE WHEN t = {a} THEN CAST(c AS HUGEINT) * v ELSE 0 END) AS sxy{a}"
                for a in (0, 1))}
      FROM pairs GROUP BY pair
    )
    SELECT pair,
           ROUND({_RM1['r']}, 6) AS ratio_treat_r,
           ROUND({_RM0['r']}, 6) AS ratio_ctrl_r,
           ROUND({_RM_Z}, 6) AS z_r,
           ABS({_RM_Z}) > 1.96 AS rejected
    FROM cells ORDER BY pair
    """,
    tags=("events", "abtest", "ratio-metric", "delta-method"),
)
def ev_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-metric A/B test via the delta method — the classic
    experimentation pitfall the mean-metric tests (Welch, MW,
    permutation) don't cover: when users are the randomization unit
    but the metric is clicks/views, the right statistic is the
    RATIO OF SUMS with its delta-method variance (naive per-user
    ratio means are biased toward low-activity users, and treating
    the ratio as a user-level mean understates variance through the
    within-user correlation). Per-arm moments (n, clicks, views,
    their squares, and the cross product) are exact integers — the
    squared/cross sums in DECIMAL(38,0)/HUGEINT, since c*c for a
    heavy user wraps an arm-level BIGINT sum at ~1e7 users — pivoted
    into fixed columns; R, var(R), and z are one deterministic float
    expression. The planted pair gives treated users +50%% clicks
    (integer ceil construction); z rejects at gate scale while the
    null split stays inside +/-1.96 (vacuity pins).

    Scale: one user-keyed aggregate, one 2-arm conditional pivot —
    no join, no window."""
    ev = load_table(spark, sf_dir, "events")
    t = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("rm|"), F.col("user_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 2
    )
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("v"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    ).withColumn("t", t)
    pairs = per_user.select(
        F.lit("planted").alias("pair"),
        "t",
        "v",
        (F.col("c") + F.col("t") * F.floor((F.col("c") + 1) / 2).cast("bigint")).alias("c"),
    ).unionAll(
        per_user.select(F.lit("null").alias("pair"), "t", "v", "c")
    )
    aggs = []
    for a in (0, 1):
        cond = F.col("t") == a
        aggs += [
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(f"n{a}"),
            F.sum(F.when(cond, F.col("c")).otherwise(0)).cast("bigint").alias(f"sx{a}"),
            F.sum(F.when(cond, F.col("v")).otherwise(0)).cast("bigint").alias(f"sy{a}"),
            # squared per-user counts in DECIMAL(38,0)/HUGEINT: c*c
            # ~ 1e12 for a heavy user, so the arm-level BIGINT sum
            # wraps at ~1e7 users while DuckDB stays exact
            F.sum(
                F.when(cond, F.expr("CAST(c AS DECIMAL(38,0)) * c")).otherwise(0)
            ).alias(f"sxx{a}"),
            F.sum(
                F.when(cond, F.expr("CAST(v AS DECIMAL(38,0)) * v")).otherwise(0)
            ).alias(f"syy{a}"),
            F.sum(
                F.when(cond, F.expr("CAST(c AS DECIMAL(38,0)) * v")).otherwise(0)
            ).alias(f"sxy{a}"),
        ]
    cells = pairs.groupBy("pair").agg(*aggs)
    return cells.selectExpr(
        "pair",
        f"ROUND({_RM1['r']}, 6) AS ratio_treat_r",
        f"ROUND({_RM0['r']}, 6) AS ratio_ctrl_r",
        f"ROUND({_RM_Z}, 6) AS z_r",
        f"ABS({_RM_Z}) > 1.96 AS rejected",
    ).orderBy("pair")


# Durbin-Levinson unrolled to lag 3 over r_k = c_k/c_0 (exact-bigint
# n-scaled autocovariances): phi11 = r1; phi22 and phi33 from the
# standard recursion, one fixed-order float expression each.
_PACF_R = {k: f"(CAST(c{k} AS DOUBLE) / c0)" for k in (1, 2, 3)}
_PACF_P11 = _PACF_R[1]
_PACF_P22 = (
    f"(({_PACF_R[2]} - {_PACF_R[1]} * {_PACF_R[1]})"
    f" / (1.0 - {_PACF_R[1]} * {_PACF_R[1]}))"
)
# a1' = r1 * (1 - phi22); v2 = (1 - r1^2) * (1 - phi22^2)
_PACF_P33 = (
    f"(({_PACF_R[3]}"
    f"  - {_PACF_R[1]} * (1.0 - {_PACF_P22}) * {_PACF_R[2]}"
    f"  - {_PACF_P22} * {_PACF_R[1]})"
    f" / ((1.0 - {_PACF_R[1]} * {_PACF_R[1]})"
    f"    * (1.0 - {_PACF_P22} * {_PACF_P22})))"
)
# integer geometric kernel ~ 100 * 0.7^j
_PACF_KERNEL = (100, 70, 49, 34, 24, 17, 12, 8)


@register(
    "ev_pacf_durbin",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS x
      FROM events WHERE {EVENTS_WELL_FORMED_SQL} GROUP BY 1
    ),
    shuf AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5('pf|' || d)) AS BIGINT)
                 AS t,
             x AS e
      FROM daily
    ),
    kernel AS (
      SELECT * FROM (VALUES {', '.join(f'({j}, {w})' for j, w in enumerate(_PACF_KERNEL))})
          AS k(j, w)
    ),
    ar AS (
      SELECT s.t, CAST(SUM(k.w * s2.e) AS BIGINT) AS y
      FROM shuf s
      JOIN kernel k ON TRUE
      JOIN shuf s2 ON s2.t = s.t - k.j
      WHERE s.t >= 8
      GROUP BY s.t
    ),
    ser AS (
      SELECT 'planted' AS pair, t, y FROM ar
      UNION ALL
      SELECT 'null', t, 100 * e FROM shuf WHERE t >= 8
    ),
    moments AS (
      SELECT pair, CAST(SUM(y) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      FROM ser GROUP BY pair
    ),
    cent AS (
      SELECT ser.pair, t, CAST(n * y - s AS BIGINT) AS u, n
      FROM ser JOIN moments ON ser.pair = moments.pair
    ),
    fanned AS (
      SELECT pair, n, u AS ua, k.j AS k, t + k.j AS tt
      FROM cent, (SELECT UNNEST(generate_series(0, 3)) AS j) k
    ),
    covs AS (
      SELECT fanned.pair, fanned.n,
             {', '.join(
                 f'SUM(CASE WHEN k = {k}'
                 f' THEN CAST(ua AS HUGEINT) * b.u END)'
                 f' AS c{k}' for k in range(4))}
      FROM fanned JOIN cent b
        ON fanned.pair = b.pair AND fanned.tt = b.t
      GROUP BY fanned.pair, fanned.n
    )
    SELECT pair, CAST(n AS BIGINT) AS n_obs,
           ROUND({_PACF_P11}, 6) AS pacf1_r,
           ROUND({_PACF_P22}, 6) AS pacf2_r,
           ROUND({_PACF_P33}, 6) AS pacf3_r,
           {_PACF_P11} > 0.4 AND ABS({_PACF_P22}) < {_PACF_P11}
               AND ABS({_PACF_P33}) < {_PACF_P11} AS ar1_signature
    FROM covs ORDER BY pair
    """,
    tags=("events", "timeseries", "pacf", "durbin-levinson"),
)
def ev_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation via Durbin-Levinson — the AR-order
    identification tool completing the ACF kit (ev_ljung_box sums
    the full ACF; PACF separates DIRECT lag effects): an AR(1)-like
    process shows pacf1 large with pacf2/pacf3 collapsed, while its
    ACF stays geometric at all lags. The planted series convolves
    the hash-shuffled daily counts with an integer geometric kernel
    (100*0.7^j, truncated at 8 — an MA(8) that approximates AR(1) to
    0.7^8 ~ 6%%); the null series is the same innovations unsmoothed
    (white). Autocovariances are exact bigints on the n-scaled
    centered series (the ev_ljung_box discipline, same equi-join lag
    fan); the D-L recursion to lag 3 is a fixed-order float
    expression over r1..r3.

    Scale: one date-keyed aggregate; kernel convolution, lags, and
    the recursion all on the 30-row series."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("bigint").alias("x")
    )
    shuf = daily.select(
        F.row_number()
        .over(Window.orderBy(F.md5(F.concat(F.lit("pf|"), F.col("d").cast("string")))))
        .cast("bigint")
        .alias("t"),
        F.col("x").alias("e"),
    )
    kernel = spark.createDataFrame(
        list(enumerate(_PACF_KERNEL)), "j bigint, w bigint"
    )
    ar = (
        shuf.alias("s")
        .crossJoin(F.broadcast(kernel))
        .withColumn("t2", F.col("t") - F.col("j"))
        .join(
            shuf.select(F.col("t").alias("t2"), F.col("e").alias("e2")), "t2"
        )
        .where(F.col("t") >= 8)
        .groupBy("t")
        .agg(F.sum(F.col("w") * F.col("e2")).cast("bigint").alias("y"))
    )
    ser = ar.select(F.lit("planted").alias("pair"), "t", "y").unionAll(
        shuf.where(F.col("t") >= 8).select(
            F.lit("null").alias("pair"), "t", (100 * F.col("e")).alias("y")
        )
    )
    moments = ser.groupBy("pair").agg(
        F.sum("y").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    cent = ser.join(F.broadcast(moments), "pair").select(
        "pair",
        "t",
        (F.col("n") * F.col("y") - F.col("s")).cast("bigint").alias("u"),
        "n",
    )
    fanned = cent.select(
        "pair",
        "n",
        F.col("u").alias("ua"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("k"),
        F.col("t"),
    ).withColumn("tt", F.col("t") + F.col("k"))
    b = cent.select("pair", F.col("t").alias("tt"), F.col("u").alias("ub"))
    covs = (
        fanned.join(b, ["pair", "tt"])
        .groupBy("pair", "n")
        .agg(
            # operand cast: u = n*y - s is n-scaled (~n * daily count),
            # so ua*ub wraps 64-bit per ROW at large daily volumes —
            # Spark silently, DuckDB with a raise
            *[
                F.sum(
                    F.when(
                        F.col("k") == k,
                        F.expr("CAST(ua AS DECIMAL(38,0)) * ub"),
                    )
                ).alias(f"c{k}")
                for k in range(4)
            ],
        )
    )
    return covs.selectExpr(
        "pair",
        "CAST(n AS BIGINT) AS n_obs",
        f"ROUND({_PACF_P11}, 6) AS pacf1_r",
        f"ROUND({_PACF_P22}, 6) AS pacf2_r",
        f"ROUND({_PACF_P33}, 6) AS pacf3_r",
        f"{_PACF_P11} > 0.4 AND ABS({_PACF_P22}) < {_PACF_P11}"
        f" AND ABS({_PACF_P33}) < {_PACF_P11} AS ar1_signature",
    ).orderBy("pair")


_TAU = "6.283185307179586"  # 2*pi literal, identical text both engines


@register(
    "ev_circular_rayleigh",
    oracle=f"""
    WITH angles AS (
      SELECT 'planted' AS pair,
             {_TAU} * (((CAST(('0x' || substr(md5('circ|' || event_id), 1, 8))
                 AS BIGINT) % 1000) / 1000.0) * 0.15 - 0.075) AS theta
      FROM events
      UNION ALL
      SELECT 'null',
             {_TAU} * ((CAST(('0x' || substr(md5('circ|' || event_id), 1, 8))
                 AS BIGINT) % 1000) / 1000.0)
      FROM events
    ),
    sums AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(COS(theta)) AS c, SUM(SIN(theta)) AS s
      FROM angles GROUP BY pair
    )
    SELECT pair, n,
           ROUND(SQRT(c * c + s * s) / n, 6) AS resultant_r,
           ROUND(n * (c * c + s * s) / (CAST(n AS DOUBLE) * n), 4)
               AS rayleigh_z_r,
           ROUND(24.0 * (CASE WHEN ATAN2(s, c) < 0
                 THEN ATAN2(s, c) + {_TAU} ELSE ATAN2(s, c) END) / {_TAU}, 4)
               AS mean_hour_r,
           n * (c * c + s * s) / (CAST(n AS DOUBLE) * n) > 2.995
               AS nonuniform
    FROM sums ORDER BY pair
    """,
    tags=("events", "circular-statistics", "rayleigh", "uniformity"),
)
def ev_circular_rayleigh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular statistics with the Rayleigh uniformity test — the
    time-of-day family every linear statistic gets WRONG (the mean of
    23h and 1h is 0h, not 12h): direction sums C = sum cos, S = sum
    sin give the circular mean via atan2 and the resultant length R,
    and Rayleigh z = n*R^2 tests uniformity against a concentrated
    alternative. The planted pair maps hash draws onto a 15%% arc
    around hour 0 (concentrated: R ~ 0.98, mean hour ~ 23.9-0.1);
    the null pair spreads the same draws over the full circle
    (z under the 5%% critical value 2.995).

    Trig sums are floats (the AVG-precedent tolerance; libm cos/sin
    agree to the ulp across engines on these arguments) rounded well
    above accumulated error. Scale: row-local angle synthesis, one
    pair-keyed aggregate — no join, no window."""
    ev = load_table(spark, sf_dir, "events")
    frac = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("circ|"), F.col("event_id"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 1000
    ) / 1000.0
    tau = 6.283185307179586
    angles = ev.select(
        F.lit("planted").alias("pair"),
        (tau * (frac * 0.15 - 0.075)).alias("theta"),
    ).unionAll(ev.select(F.lit("null").alias("pair"), (tau * frac).alias("theta")))
    sums = angles.groupBy("pair").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.cos("theta")).alias("c"),
        F.sum(F.sin("theta")).alias("s"),
    )
    return sums.selectExpr(
        "pair",
        "n",
        "ROUND(SQRT(c * c + s * s) / n, 6) AS resultant_r",
        "ROUND(n * (c * c + s * s) / (CAST(n AS DOUBLE) * n), 4)"
        " AS rayleigh_z_r",
        f"ROUND(24.0 * (CASE WHEN ATAN2(s, c) < 0"
        f" THEN ATAN2(s, c) + {_TAU} ELSE ATAN2(s, c) END) / {_TAU}, 4)"
        " AS mean_hour_r",
        "n * (c * c + s * s) / (CAST(n AS DOUBLE) * n) > 2.995 AS nonuniform",
    ).orderBy("pair")


@register(
    "ev_entropy_rate",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             CAST(('0x' || substr(md5('er|' || event_id), 1, 8)) AS BIGINT)
                 % 5 AS iid_step,
             CAST(('0x' || substr(md5('er2|' || event_id), 1, 8)) AS BIGINT)
                 % 2 AS walk_step
      FROM events WHERE {EVENTS_WELL_FORMED_SQL}),
    seq AS (
      SELECT user_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id) AS BIGINT) AS k,
             iid_step,
             CAST(SUM(walk_step) OVER (PARTITION BY user_id
                 ORDER BY ts_us, event_id) % 5 AS BIGINT) AS walk_state
      FROM base
    ),
    paired AS (
      SELECT 'planted_walk' AS pair, user_id, k, walk_state AS s FROM seq
      UNION ALL
      SELECT 'null_iid', user_id, k, iid_step FROM seq
    ),
    bigrams AS (
      SELECT pair, s AS i,
             LEAD(s) OVER (PARTITION BY pair, user_id ORDER BY k) AS j
      FROM paired
    ),
    cij AS (
      SELECT pair, i, j, CAST(COUNT(*) AS BIGINT) AS c
      FROM bigrams WHERE j IS NOT NULL GROUP BY pair, i, j
    ),
    ci AS (
      SELECT pair, i, CAST(SUM(c) AS BIGINT) AS ci,
             CAST(SUM(SUM(c)) OVER (PARTITION BY pair) AS BIGINT) AS n
      FROM cij GROUP BY pair, i
    ),
    terms AS (
      SELECT cij.pair, cij.i, cij.j,
             -(CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / ci)
                 / LN(2.0) AS h_term,
             -(CAST(ci AS DOUBLE) / n) * LN(CAST(ci AS DOUBLE) / n)
                 / LN(2.0) / COUNT(*) OVER (PARTITION BY cij.pair, cij.i)
                 AS hm_term
      FROM cij JOIN ci ON cij.pair = ci.pair AND cij.i = ci.i
    ),
    folded AS (
      SELECT pair,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(h_term ORDER BY i, j)), (a, x) -> a + x) AS h_rate,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list(hm_term ORDER BY i, j)), (a, x) -> a + x) AS h_marg
      FROM terms GROUP BY pair
    )
    SELECT pair,
           ROUND(h_rate, 6) AS entropy_rate_bits_r,
           ROUND(h_marg, 6) AS marginal_entropy_bits_r,
           ROUND(1.0 - h_rate / h_marg, 6) AS predictability_gain_r,
           1.0 - h_rate / h_marg > 0.3 AS sequentially_structured
    FROM folded ORDER BY pair
    """,
    tags=("events", "information-theory", "entropy-rate", "markov"),
)
def ev_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate vs marginal entropy of event-type
    sequences — the sequence-PREDICTABILITY number the info-theory
    family lacked (dp_char_entropy is memoryless; ev_markov_*
    estimate the matrix but never its compressibility): H_rate =
    -sum p(i) P(j|i) log2 P(j|i) against the marginal H. The planted
    sequence is a lazy random walk on Z5 (next state = current +
    md5 bit), whose marginal is uniform (~2.32 bits) but whose rate
    is ~1 bit — a 57%% predictability gain; the null sequence draws
    iid 5-way states from the same event stream (rate ~ marginal,
    gain ~0). Bigram and unigram counts are exact integers; the two
    entropies fold over (i, j)-ordered term lists (the
    ev_kaplan_meier discipline) so both engines sum identically.

    Scale: one per-user LAG window over the event stream (bounded
    state), one (pair, i, j)-keyed count — 25 cells per pair — and
    folds on the cell-sized relation."""
    ev = well_formed_events(load_table(spark, sf_dir, "events"))

    def h(salt: str, mod: int) -> F.Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), F.col("event_id"))), 1, 8),
                16,
                10,
            ).cast("long")
            % mod
        )

    w_user = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "user_id",
        F.row_number().over(w_user).cast("bigint").alias("k"),
        h("er|", 5).alias("iid_step"),
        (F.sum(h("er2|", 2)).over(w_user) % 5).cast("bigint").alias("walk_state"),
    )
    paired = seq.select(
        F.lit("planted_walk").alias("pair"), "user_id", "k", F.col("walk_state").alias("s")
    ).unionAll(
        seq.select(
            F.lit("null_iid").alias("pair"), "user_id", "k", F.col("iid_step").alias("s")
        )
    )
    w_seq = Window.partitionBy("pair", "user_id").orderBy("k")
    bigrams = paired.select(
        "pair", F.col("s").alias("i"), F.lead("s").over(w_seq).alias("j")
    ).where(F.col("j").isNotNull())
    cij = bigrams.groupBy("pair", "i", "j").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w_pair = Window.partitionBy("pair")
    ci = (
        cij.groupBy("pair", "i")
        .agg(F.sum("c").cast("bigint").alias("ci"))
        .withColumn("n", F.sum("ci").over(w_pair).cast("bigint"))
    )
    w_pi = Window.partitionBy("pair", "i")
    terms = cij.join(ci, ["pair", "i"]).select(
        "pair",
        "i",
        "j",
        (
            -(F.col("c").cast("double") / F.col("n"))
            * F.log(F.col("c").cast("double") / F.col("ci"))
            / F.log(F.lit(2.0))
        ).alias("h_term"),
        (
            -(F.col("ci").cast("double") / F.col("n"))
            * F.log(F.col("ci").cast("double") / F.col("n"))
            / F.log(F.lit(2.0))
            / F.count("*").over(w_pi)
        ).alias("hm_term"),
    )
    folded = terms.groupBy("pair").agg(
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(i, j,"
            " h_term AS t))), s -> s.t), CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("h_rate"),
        F.expr(
            "aggregate(transform(array_sort(collect_list(struct(i, j,"
            " hm_term AS t))), s -> s.t), CAST(0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("h_marg"),
    )
    return folded.selectExpr(
        "pair",
        "ROUND(h_rate, 6) AS entropy_rate_bits_r",
        "ROUND(h_marg, 6) AS marginal_entropy_bits_r",
        "ROUND(1.0 - h_rate / h_marg, 6) AS predictability_gain_r",
        "1.0 - h_rate / h_marg > 0.3 AS sequentially_structured",
    ).orderBy("pair")


# method-of-moments NB fit from exact n-scaled integer moments:
# mean m = s/n, variance v = (n*q - s*s)/(n*(n-1)); dispersion v/m;
# r_hat = m^2/(v - m), p_hat = m/v — fixed-order float expressions.
_NB_M = "(CAST(s AS DOUBLE) / n)"
_NB_V = "((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1)))"
_NB_R = f"(({_NB_M} * {_NB_M}) / ({_NB_V} - {_NB_M}))"


@register(
    "ev_negbin_moments",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('nb1|' || user_id), 1, 8)) AS BIGINT)
                 % 5 AS h1,
             CAST(('0x' || substr(md5('nb2|' || user_id), 1, 8)) AS BIGINT)
                 % 4 AS h2,
             CAST(('0x' || substr(md5('nb3|' || user_id), 1, 8)) AS BIGINT)
                 % 256 AS h3
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    pairs AS (
      SELECT 'overdispersed' AS pair, CAST(h1 * h2 AS BIGINT) AS k
      FROM per_user
      UNION ALL
      SELECT 'binomial', CAST(bit_count(h3) AS BIGINT) FROM per_user
    ),
    moments AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS s,
             CAST(SUM(k * k) AS BIGINT) AS q
      FROM pairs GROUP BY pair
    )
    SELECT pair, n AS n_users,
           ROUND({_NB_M}, 6) AS mean_r,
           ROUND({_NB_V}, 6) AS var_r,
           ROUND({_NB_V} / {_NB_M}, 6) AS dispersion_index_r,
           CASE WHEN {_NB_V} > {_NB_M}
                THEN ROUND({_NB_R}, 4) END AS nb_r_hat_r,
           CASE WHEN {_NB_V} > {_NB_M}
                THEN ROUND({_NB_M} / {_NB_V}, 6) END AS nb_p_hat_r,
           {_NB_V} / {_NB_M} > 1.5 AS overdispersed
    FROM moments ORDER BY pair
    """,
    tags=("events", "count-model", "negative-binomial", "dispersion"),
)
def ev_negbin_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit — the count-model the
    family only DETECTS today (ev_overdispersion_check flags var >
    mean; this one fits r_hat = m^2/(v-m), p_hat = m/v, the
    parameters a capacity planner or per-user rate model needs). Two
    synthesized per-user count processes from identical machinery: a
    product of independent uniforms (genuinely overdispersed,
    dispersion ~1.9, NB parameters emitted) and a Binomial(8, 1/2)
    via bit_count (UNDERdispersed, dispersion ~0.5 — the NB fit is
    correctly refused as NULL, pinning the v > m validity guard
    rather than emitting a negative r). Moments are exact n-scaled
    bigints; the fit is one fixed-order float expression.

    Scale: one DISTINCT over users, row-local synthesis, one
    pair-keyed aggregate — no join, no window."""
    ev = load_table(spark, sf_dir, "events")

    def h(salt: str, mod: int) -> F.Column:
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit(salt), F.col("user_id"))), 1, 8),
                16,
                10,
            ).cast("long")
            % mod
        )

    per_user = ev.select("user_id").distinct().select(
        h("nb1|", 5).alias("h1"), h("nb2|", 4).alias("h2"), h("nb3|", 256).alias("h3")
    )
    pairs = per_user.select(
        F.lit("overdispersed").alias("pair"),
        (F.col("h1") * F.col("h2")).cast("bigint").alias("k"),
    ).unionAll(
        per_user.select(
            F.lit("binomial").alias("pair"), F.bit_count("h3").cast("bigint").alias("k")
        )
    )
    moments = pairs.groupBy("pair").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("s"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("q"),
    )
    return moments.selectExpr(
        "pair",
        "n AS n_users",
        f"ROUND({_NB_M}, 6) AS mean_r",
        f"ROUND({_NB_V}, 6) AS var_r",
        f"ROUND({_NB_V} / {_NB_M}, 6) AS dispersion_index_r",
        f"CASE WHEN {_NB_V} > {_NB_M} THEN ROUND({_NB_R}, 4) END AS nb_r_hat_r",
        f"CASE WHEN {_NB_V} > {_NB_M} THEN ROUND({_NB_M} / {_NB_V}, 6) END"
        " AS nb_p_hat_r",
        f"{_NB_V} / {_NB_M} > 1.5 AS overdispersed",
    ).orderBy("pair")
