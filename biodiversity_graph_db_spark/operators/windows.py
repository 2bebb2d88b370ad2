"""Window computations (SURVEY §2.5) + top-k per group and sessionization.

The reference has three windows-in-disguise: the year Next chain (W1),
per-timeline temporal extent (W2), and uncertainty-band smoothing (W3).
All partition by a key before ordering, so at scale each window is one
shuffle on the partition key with no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from biodiversity_graph_db_spark.operators._util import cut
from biodiversity_graph_db_spark.registry import query
from biodiversity_graph_db_spark.tables import table


@query(
    "W1_next_in_sequence",
    oracle="""
    SELECT event_id,
           LEAD(event_id) OVER w AS next_event_id,
           CAST(date_diff('second', ts, LEAD(ts) OVER w) AS BIGINT)
             AS gap_seconds
    FROM events
    WHERE event_type = 'click'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY event_id
    """,
)
def w1_next_in_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The year→year Next chain (Exposure.fs:123; never materialized in the
    reference — ordering lives in key arithmetic).  lead() over an ordered
    window materializes it."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "click")
    # unix_timestamp truncates each timestamp to whole seconds before the
    # subtraction — the same per-operand truncation DuckDB's
    # date_diff('second', ...) applies (timestampdiff would diff exactly
    # and be off by one on fractional-second gaps).  table() pins the
    # session TZ to UTC, so the epoch conversion is deterministic.
    epoch = F.unix_timestamp(F.col("ts"))
    return (
        ev.select(
            "event_id",
            F.lead("event_id").over(w).alias("next_event_id"),
            (F.lead(epoch).over(w) - epoch).alias("gap_seconds"),
        )
        .orderBy("event_id")
    )


@query(
    "W2_temporal_extent",
    oracle="""
    SELECT o_custkey,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS earliest,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS latest,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY o_custkey
    """,
)
def w2_temporal_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timeline temporal extent (ExtentEarliest/ExtentLatest edges,
    Exposure.fs:138-143; Library.fs:845-849): earliest/latest per entity.
    groupBy-min/max — partial-aggregated map-side, one shuffle."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("earliest"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("latest"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


@query(
    "W3_moving_smooth",
    oracle="""
    SELECT event_id,
           SUM(CAST(FLOOR(value * 10000) AS BIGINT)) OVER w
             / COUNT(value) OVER w / 10000.0 AS smoothed
    FROM events
    WHERE event_type = 'view'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def w3_moving_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty-band neighbourhood smoothing (Scenarios.fs:160-197 turns
    year±error into extra edges; the analytics form is a rowsBetween moving
    average).  Decimal sum inside the frame keeps it hash-stable."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    ev = table(spark, sf_dir, "events").where(F.col("event_type") == "view")
    smoothed = (
        F.sum(F.floor(F.col("value") * 10000)).over(w)
        / F.count("value").over(w)
        / F.lit(10000.0)
    )
    return ev.select("event_id", smoothed.alias("smoothed")).orderBy("event_id")


@query(
    "W5_tumbling_window",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 10000) AS BIGINT)) / 10000.0
             AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def w5_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate — the batch twin of
    streaming.ingest.tumbling_counts (same windowing expression Structured
    Streaming executes incrementally; §2.10).  1-hour windows align with
    date_trunc in the oracle."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.floor(F.col("value") * 10000)) / 10000.0).alias(
                "total_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "W6_sliding_window",
    oracle="""
    WITH starts AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts)
               - k.k * INTERVAL '5 minutes' AS ws,
             event_type, value
      FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 10000) AS BIGINT)) / 10000.0
             AS total_value
    FROM starts
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def w6_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate (10-minute windows every 5 minutes): the
    overlapping-window twin of W5, the same expression Structured
    Streaming runs incrementally.  Each event lands in exactly
    duration/slide = 2 windows; the oracle reconstructs the window set
    with time_bucket arithmetic."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.floor(F.col("value") * 10000)) / 10000.0).alias(
                "total_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "O2_topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) WHERE rk <= 3 AND o_custkey <= 200
    ORDER BY o_custkey, rk
    """,
)
def o2_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-match / top-k per group (Library.fs:845-848 Seq.tryHead over
    sorted hops).  row_number with a unique tiebreak; Spark runs this as a
    partial top-k within each partition before the shuffle."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        table(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") <= 3) & (F.col("o_custkey") <= 200))
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("o_custkey", "rk")
    )


@query(
    "W4_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN date_diff('second',
                    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                    ts) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, event_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    )
    SELECT user_id,
           CAST(MAX(session_no) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def w4_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (the batch form of §2.10's session windows): lag-gap
    flag + running sum.  One shuffle on user_id covers both windows and
    the final groupBy (same partitioning reused across stages)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev = table(spark, sf_dir, "events")
    # Per-operand second truncation to match DuckDB date_diff — see W1.
    epoch = F.unix_timestamp(F.col("ts"))
    flagged = ev.withColumn(
        "is_new",
        F.when(
            (epoch - F.lag(epoch).over(w) > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sessions = flagged.withColumn("session_no", F.sum("is_new").over(wrun))
    return (
        sessions.groupBy("user_id")
        .agg(
            F.max("session_no").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query(
    "W7_resample_ffill",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, value FROM events WHERE user_id < 20
    ),
    ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS h, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev
    ),
    hv AS (SELECT user_id, h, value FROM ranked WHERE rn = 1),
    bounds AS (
      SELECT user_id,
             date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM ev GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    )
    SELECT g.user_id,
           strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           FLOOR(LAST_VALUE(hv.value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 10000) / 10000.0 AS val_ffill
    FROM grid g
    LEFT JOIN hv ON hv.user_id = g.user_id AND hv.h = g.h
    ORDER BY g.user_id, hour_ts
    """,
)
def w7_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLE + forward fill: each user's event values
    regularized onto an hourly grid (last observation in the hour
    wins, ties broken by event_id; empty hours carry the previous
    value forward) — the gap-fill primitive every sensor/telemetry
    series needs before joins or models, which the window family
    (W1-W6) lacked.

    Scale shape: the grid fan-out (``sequence`` of timestamps +
    ``explode``) is TASK-LOCAL per user; last-in-hour is one
    combinable max_by-shaped window per (user, hour); the forward fill
    is one window PARTITIONED BY USER (bounded partitions — the T13
    rule) using ``last(ignorenulls)``.  No global sort, no driver
    loop; at 100 TB users shard across executors and each emits its
    own grid."""
    from biodiversity_graph_db_spark.operators._util import dquant

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .select("user_id", "ts", "event_id", "value")
    )
    h = F.date_trunc("hour", F.col("ts"))
    w_rank = Window.partitionBy("user_id", "h").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    hv = (
        ev.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select("user_id", "h", "value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("h"),
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hv, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            dquant(F.last("value", ignorenulls=True).over(w_fill)).alias(
                "val_ffill"
            ),
        )
        .orderBy("user_id", "hour_ts")
    )


@query(
    "W8_resample_lerp",
    oracle="""
    WITH ev AS (
      SELECT user_id, ts, event_id, value FROM events WHERE user_id < 20
    ),
    ranked AS (
      SELECT user_id, date_trunc('hour', ts) AS h, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM ev
    ),
    hv AS (SELECT user_id, h, value FROM ranked WHERE rn = 1),
    bounds AS (
      SELECT user_id,
             date_trunc('hour', MIN(ts)) AS h0,
             date_trunc('hour', MAX(ts)) AS h1
      FROM ev GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds
    ),
    joined AS (
      SELECT g.user_id, g.h, hv.value,
             CASE WHEN hv.value IS NOT NULL THEN g.h END AS vh
      FROM grid g
      LEFT JOIN hv ON hv.user_id = g.user_id AND hv.h = g.h
    ),
    anchored AS (
      SELECT user_id, h,
             LAST_VALUE(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             LAST_VALUE(vh IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph,
             FIRST_VALUE(value IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             FIRST_VALUE(vh IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY h
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
      FROM joined
    )
    SELECT user_id,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           FLOOR((CASE WHEN epoch(nh) = epoch(ph) THEN pv
                  ELSE pv + (nv - pv) *
                       ((epoch(h) - epoch(ph))
                        / CAST(epoch(nh) - epoch(ph) AS DOUBLE)) END)
                 * 10000) / 10000.0 AS val_lerp
    FROM anchored
    ORDER BY user_id, hour_ts
    """,
)
def w8_resample_lerp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESAMPLE + LINEAR INTERPOLATION: W7's hourly grid, but empty
    hours take the time-weighted blend of the nearest known samples on
    either side instead of carrying the previous value — the gap-fill a
    numeric series (sensor values, paleo proxies between dated depths)
    wants when step-functions distort downstream smoothing.  C1's
    age-depth interpolation is the same lerp against an as-of pair;
    this is its windowed, whole-series form.

    Every grid endpoint is anchored (h0/h1 are the hours of each
    user's min/max event, which by construction hold a sample), so
    both neighbors always exist and the lerp is total.

    Scale shape identical to W7: task-local grid fan-out, then two
    per-user windows (prev-anchor and next-anchor scans) over bounded
    partitions — users shard across executors, no global sort."""
    from biodiversity_graph_db_spark.operators._util import dquant

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("user_id") < 20)
        .select("user_id", "ts", "event_id", "value")
    )
    h = F.date_trunc("hour", F.col("ts"))
    w_rank = Window.partitionBy("user_id", "h").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    hv = (
        ev.withColumn("h", h)
        .withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select("user_id", "h", "value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("h"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    joined = grid.join(hv, ["user_id", "h"], "left").withColumn(
        "vh", F.when(F.col("value").isNotNull(), F.col("h"))
    )
    pv = F.last("value", ignorenulls=True).over(w_prev)
    ph = F.last("vh", ignorenulls=True).over(w_prev)
    nv = F.first("value", ignorenulls=True).over(w_next)
    nh = F.first("vh", ignorenulls=True).over(w_next)
    anchored = joined.select(
        "user_id",
        "h",
        pv.alias("pv"),
        F.unix_timestamp(ph).alias("ep"),
        nv.alias("nv"),
        F.unix_timestamp(nh).alias("en"),
    )
    lerp = F.when(F.col("en") == F.col("ep"), F.col("pv")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (
            (F.unix_timestamp(F.col("h")) - F.col("ep"))
            / (F.col("en") - F.col("ep")).cast("double")
        )
    )
    return anchored.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        dquant(lerp).alias("val_lerp"),
    ).orderBy("user_id", "hour_ts")


def multires_cells(ev: DataFrame) -> DataFrame:
    """The W9 continuous-aggregate cells for an events DataFrame:
    (bucket_day, bucket_hour, n, value_x10000) at hourly, daily and
    grand-total resolution via ROLLUP(day, hour) — one Expand + one
    two-phase hash aggregate over one scan.  Every cell is ADDITIVE
    (count + scaled-int sum), so partial rollups over disjoint slices
    merge by grouped sum — the property the streaming maintainer
    (streaming/ingest.py run_multires_rollup) relies on."""
    b = ev.select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "bucket_day"
        ),
        F.date_format(
            F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
        ).alias("bucket_hour"),
        "value",
    )
    return (
        b.rollup("bucket_day", "bucket_hour")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.floor(F.col("value") * 10000).cast("bigint"))
            .cast("bigint")
            .alias("value_x10000"),
        )
        .select(
            F.coalesce("bucket_day", F.lit("ALL")).alias("bucket_day"),
            F.coalesce("bucket_hour", F.lit("ALL")).alias("bucket_hour"),
            "n",
            "value_x10000",
        )
    )


@query(
    "W9_multires_rollup",
    oracle="""
    WITH b AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket_day,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS bucket_hour,
             value
      FROM events
    )
    SELECT COALESCE(bucket_day, 'ALL') AS bucket_day,
           COALESCE(bucket_hour, 'ALL') AS bucket_hour,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
             AS value_x10000
    FROM b GROUP BY ROLLUP (bucket_day, bucket_hour)
    ORDER BY bucket_day, bucket_hour
    """,
)
def w9_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup — the hypertable continuous
    aggregate (TimescaleDB's signature op): hourly, daily and
    grand-total event summaries materialized in ONE pass via
    ROLLUP(day, hour).  Spark plans this as a single Expand + one hash
    aggregate — each row fans to its 3 grouping-set copies map-side and
    partial-aggregates before the one shuffle — strictly cheaper than
    the three stacked groupBys a naive continuous-aggregate refresh
    would run, and the refresh unit the streaming maintainer
    (run_multires_rollup) emits per micro-batch.  Buckets render as
    strings and the value sum rides the scaled-int spelling so every
    engine agrees bit-for-bit."""
    return multires_cells(table(spark, sf_dir, "events")).orderBy(
        "bucket_day", "bucket_hour"
    )


@query(
    "W10_decay_score",
    oracle="""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(FLOOR(value * 10000) AS BIGINT) AS sv
      FROM events
    ),
    mx AS (SELECT MAX(d) AS mxd FROM e),
    t AS (
      SELECT user_id,
             sv // (CAST(1 AS BIGINT) << LEAST(date_diff('day', d, mxd), 62))
               AS term
      FROM e CROSS JOIN mx
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(term) AS BIGINT) AS decayed_x10000,
           CAST(SUM(term) AS BIGINT) / 10000.0 AS decay_score
    FROM t GROUP BY user_id ORDER BY user_id
    """,
)
def w10_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially time-decayed engagement score — the
    recency-weighted activity metric every feature store / ranking
    pipeline keeps per entity: an event's contribution halves for each
    day of age relative to the corpus' newest day.

    Scale shape: the reference day is a 1-row global aggregate
    broadcast back (BroadcastNestedLoopJoin on one row — constant
    cost), then ONE map-side-combinable per-user sum; no window, no
    per-user sort.  The half-life arithmetic is integer throughout —
    ``floor(value*10^4) DIV 2^age`` — truncating and floor division
    agree on the non-negative domain, so DuckDB reproduces every term
    bit-for-bit; a float ``pow(0.5, age)`` would be order-dependent
    under summation and is exactly what this spelling avoids."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
        F.floor(F.col("value") * 10000).cast("bigint").alias("sv"),
    )
    mx = ev.agg(F.max("d").alias("mxd"))
    t = ev.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.expr(
            "sv DIV (CAST(1 AS BIGINT) << LEAST(datediff(mxd, d), 62))"
        ).alias("term"),
    )
    return (
        t.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("term").cast("long").alias("decayed_x10000"),
            (F.sum("term").cast("long") / F.lit(10000.0)).alias(
                "decay_score"
            ),
        )
        .orderBy("user_id")
    )


@query(
    "W12_ohlc_bars",
    oracle="""
    WITH e AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             event_id, ts,
             CAST(FLOOR(value * 10000) AS BIGINT) AS v
      FROM events
    ),
    r AS (
      SELECT day, v,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY ts, event_id) AS rn_open,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY ts DESC, event_id DESC) AS rn_close
      FROM e
    )
    SELECT day,
           COUNT(*) AS n,
           CAST(MAX(CASE WHEN rn_open = 1 THEN v END) AS BIGINT)
             AS open_x10000,
           CAST(MAX(v) AS BIGINT) AS high_x10000,
           CAST(MIN(v) AS BIGINT) AS low_x10000,
           CAST(MAX(CASE WHEN rn_close = 1 THEN v END) AS BIGINT)
             AS close_x10000
    FROM r GROUP BY day ORDER BY day
    """,
)
def w12_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars over the event value series — the downsampling
    aggregate every time-series store ships (open/high/low/close per
    bucket).  Open/close are ORDER statistics, not plain aggregates, so
    they need a deterministic first/last rule: (ts, event_id) totally
    orders each day, and the first/last row's value is selected via a
    rank-1 conditional aggregate — never ``first()`` (which is
    partition-order-dependent in Spark and irreproducible by design).

    Scale shape: two rank windows partitioned by day (bounded
    partitions) feeding ONE combinable group-by; values ride the
    scaled-int spelling so min/max/select agree bit-for-bit."""
    e = table(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
        "event_id",
        "ts",
        F.floor(F.col("value") * 10000).cast("bigint").alias("v"),
    )
    from pyspark.sql import Window

    w_open = Window.partitionBy("day").orderBy("ts", "event_id")
    w_close = Window.partitionBy("day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = e.select(
        "day",
        "v",
        F.row_number().over(w_open).alias("rn_open"),
        F.row_number().over(w_close).alias("rn_close"),
    )
    return (
        r.groupBy("day")
        .agg(
            F.count("*").alias("n"),
            F.max(F.when(F.col("rn_open") == 1, F.col("v")))
            .cast("long")
            .alias("open_x10000"),
            F.max("v").cast("long").alias("high_x10000"),
            F.min("v").cast("long").alias("low_x10000"),
            F.max(F.when(F.col("rn_close") == 1, F.col("v")))
            .cast("long")
            .alias("close_x10000"),
        )
        .orderBy("day")
    )


@query(
    "W13_funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase,
           FLOOR((SELECT COUNT(*) FROM c)
                 / CAST((SELECT COUNT(*) FROM v) AS DOUBLE) * 10000)
             / 10000.0 AS click_rate,
           FLOOR((SELECT COUNT(*) FROM p)
                 / CAST((SELECT COUNT(*) FROM c) AS DOUBLE) * 10000)
             / 10000.0 AS purchase_rate
    """,
)
def w13_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase, strictly
    increasing event times per user) — the product-analytics flagship
    (MATCH_RECOGNIZE / funnel engines): how many users completed each
    ordered step.

    Spelled as a chain of per-user conditional MIN aggregates — step
    N's earliest qualifying time joins into step N+1's filter — each a
    map-side-combinable aggregate plus one user-keyed broadcast-able
    join; no per-user event sorting, no session buffering, no pattern
    automaton state.  At 100 TB each step's state is one timestamp per
    surviving user."""
    ev = table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_view_click"))
    np_ = p.agg(F.count("*").alias("n_view_click_purchase"))
    from biodiversity_graph_db_spark.operators._util import dquant

    return (
        nv.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_view",
            "n_view_click",
            "n_view_click_purchase",
            dquant(
                F.col("n_view_click") / F.col("n_view").cast("double")
            ).alias("click_rate"),
            dquant(
                F.col("n_view_click_purchase")
                / F.col("n_view_click").cast("double")
            ).alias("purchase_rate"),
        )
    )


@query(
    "W14_zscore_anomalies",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS v
      FROM events
    ),
    s AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(v * v) AS BIGINT) AS svv
      FROM e GROUP BY user_id
    ),
    j AS (
      SELECT e.event_id, e.user_id, e.v, s.n, s.sv, s.svv,
             s.n * e.v - s.sv AS num,
             s.n * s.svv - s.sv * s.sv AS var_n2
      FROM e JOIN s USING (user_id)
      WHERE s.n >= 2 AND s.n * s.svv - s.sv * s.sv > 0
    )
    SELECT event_id, user_id, v AS value_x100,
           CAST(FLOOR(num / sqrt(CAST(var_n2 AS DOUBLE)) * 10000)
                AS BIGINT) AS z_x10000
    FROM j
    WHERE num * num >= 9 * var_n2
    ORDER BY event_id
    """,
)
def w14_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity anomaly detection: events whose value is ≥3 standard
    deviations from THEIR USER's mean — the monitoring / fraud-flagging
    staple.  The 3σ test is spelled as a PURE INTEGER comparison:
    z² = (n·v − Σv)² / (n·Σv² − (Σv)²), so the flag is
    (n·v − Σv)² ≥ 9·(n·Σv² − (Σv)²) with no division, no sqrt, no
    float mean — bit-identical in any engine, immune to summation
    order.  The reported z rides one exact-rounded sqrt + floor.

    Scale shape: one map-side-combinable per-user moment pass (n, Σv,
    Σv²), one user-keyed join back, the flag evaluated in the scan
    pipeline; output is anomalies only (bounded by the 3σ tail, ~0.3%
    of rows), never the full corpus.  Values scale by 10² (not the
    house 10⁴) so the squared terms stay in BIGINT at three orders
    above the sf1 design point."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100).cast("bigint").alias("v"),
    )
    s = e.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("svv"),
    )
    num = F.col("n") * F.col("v") - F.col("sv")
    var_n2 = F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")
    return (
        e.join(s, "user_id")
        .where((F.col("n") >= 2) & (var_n2 > 0))
        .where(num * num >= 9 * var_n2)
        .select(
            "event_id",
            "user_id",
            F.col("v").alias("value_x100"),
            F.floor(num / F.sqrt(var_n2.cast("double")) * 10000)
            .cast("long")
            .alias("z_x10000"),
        )
        .orderBy("event_id")
    )


@query(
    "W15_rolling_actives",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT strftime(g.d, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days g
    JOIN ud u ON u.d BETWEEN g.d - INTERVAL 6 DAY AND g.d
    GROUP BY g.d
    ORDER BY day
    """,
)
def w15_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day (WAU) — the engagement
    metric every product dashboard leads with, and the canonical
    "DISTINCT doesn't slide" problem: a windowed SUM slides, a
    windowed COUNT(DISTINCT) cannot (the same user in two days must
    count once), so the correct spelling joins each day to the
    (user, day) PRESENCE table over its 7-day range.

    Scale shape: the corpus collapses to distinct (user, day) in one
    combinable pass FIRST (bounded by users × days, not events); the
    range join's left side is the bounded day dimension, so the fan-out
    is ≤ 7 presence rows per (user, day) — never an event-level
    product; the distinct rollup is the standard two-phase plan.  At
    100 TB the presence table is the thing to materialize daily — this
    query is exactly its consumer."""
    ud = (
        table(spark, sf_dir, "events")
        .select(
            "user_id", F.to_date(F.date_trunc("day", F.col("ts"))).alias("d")
        )
        .distinct()
    )
    days = ud.select("d").distinct().withColumnRenamed("d", "g")
    return (
        ud.join(
            F.broadcast(days),
            (F.col("d") <= F.col("g"))
            & (F.col("d") >= F.date_sub(F.col("g"), 6)),
        )
        .groupBy("g")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
        .select(F.date_format("g", "yyyy-MM-dd").alias("day"), "wau")
        .orderBy("day")
    )


@query(
    "W16_rollup_store",
    oracle="""
    WITH b AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS bucket_day,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
               AS bucket_hour,
             value
      FROM events
    )
    SELECT COALESCE(bucket_day, 'ALL') AS bucket_day,
           COALESCE(bucket_hour, 'ALL') AS bucket_hour,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT)
             AS value_x10000
    FROM b GROUP BY ROLLUP (bucket_day, bucket_hour)
    ORDER BY bucket_day, bucket_hour
    """,
)
def w16_rollup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The W9 continuous-aggregate MAINTAINER as a driver row (the T41
    pattern): drain the events table through ``run_multires_rollup``
    as three real micro-batches (availableNow + maxFilesPerTrigger=1,
    three foreachBatch grouped-sum folds with the lineage-bound replay
    stamp), then read the maintained cell store back.  The oracle is
    W9's one-shot batch ROLLUP, so the driver grades the continuous
    aggregate's refresh≡recompute equivalence itself — the property a
    TimescaleDB-style hypertable rollup rests on.

    Scale shape: each fold is the batch ROLLUP over one micro-batch
    (one Expand + one combinable aggregate) merged into a store that
    stays |buckets| rows no matter how much history streamed; the
    result is localCheckpoint-ed before the temp store dies."""
    import tempfile

    from biodiversity_graph_db_spark.streaming.ingest import (
        drain_parquet_batches,
        run_multires_rollup,
    )

    ev = table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(
        prefix="w16_rollup_store_", ignore_cleanup_errors=True
    ) as tmp:
        drain_parquet_batches(
            ev,
            "event_id",
            lambda s: run_multires_rollup(s, f"{tmp}/store", f"{tmp}/ckpt"),
            tmp,
        )
        return (
            spark.read.parquet(f"{tmp}/store")
            .select("bucket_day", "bucket_hour", "n", "value_x10000")
            .orderBy("bucket_day", "bucket_hour")
            .transform(cut)
        )
