"""Event-time operators over the ``events`` table (SURVEY.md §2.4): tumbling,
sliding and session windows, batch-checkable against the DuckDB oracle (the
reference has no event-time semantics at all, SURVEY.md §2.3).

Scale notes: windowed groupBys shuffle on (window, key) — at 100 TB the
tumbling aggregation is one partial-agg shuffle exactly like any groupBy.
``session_window`` is Spark's native gap-based sessionization (no per-user
collect); the oracle reproduces it with a lag/cumulative-flag reformulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts_etl_spark.operators.relational import dec, money_sum
from ts_etl_spark.sources.tables import load_table

TS_FMT = "yyyy-MM-dd HH:mm:ss"
_STRF = "%Y-%m-%d %H:%M:%S"


def ts_str(c) -> F.Column:
    return F.date_format(c, TS_FMT)


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type (a named building block;
    registered via the merged ``events_windows``)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), money_sum(dec("value")).alias("total_value"))
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes (each event in 2 windows)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), money_sum(dec("value")).alias("total_value"))
        .select(
            ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling AND sliding event-time windows in one tagged union. Each
    branch is a scan + partial-agg + one (window, key) shuffle — the union
    scans events once per window kind (the price of using the native
    ``F.window`` operator, which only exists in grouping position; the
    branches parallelize independently)."""
    tumbling = q_events_tumbling(spark, sf_dir).select(
        F.lit("tumbling").alias("kind"), "*"
    )
    sliding = q_events_sliding(spark, sf_dir).select(
        F.lit("sliding").alias("kind"), "*"
    )
    return tumbling.unionByName(sliding)


def q_events_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) per user."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), money_sum(dec("value")).alias("session_value"))
        .select(
            "user_id",
            ts_str(F.col("w.start")).alias("session_start"),
            "n_events",
            "session_value",
        )
    )


def q_events_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + window-over-aggregate (share of total per event type),
    with the JSON scalar-function surface folded in: ``props`` is a JSON
    string column and the k property is extracted, cast and aggregated in
    the same grouped pass (the reference has only a JSON *sink*, no JSON
    functions — SURVEY §2.3; this covers the category)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    counts = ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )
    total = Window.partitionBy()
    return counts.select(
        "event_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(total)).alias("share"),
        "sum_k",
        "min_k",
        "max_k",
    )


def q_events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: the same measures
    maintained at minute/hour/day granularity in one pass — expressed as a
    GROUPING SETS aggregation over pre-computed bucket columns, so Spark
    computes all three levels with a single scan + one shuffle (the
    continuous-aggregate pattern of time-series stores, Spark-first)."""
    ev = load_table(spark, sf_dir, "events")
    ev.select(
        F.date_format(F.date_trunc("minute", "ts"), TS_FMT).alias("bucket_minute"),
        F.date_format(F.date_trunc("hour", "ts"), TS_FMT).alias("bucket_hour"),
        F.date_format(F.date_trunc("day", "ts"), TS_FMT).alias("bucket_day"),
        dec("value").alias("v"),
    ).createOrReplaceTempView("ht_events")
    return spark.sql(
        """
        SELECT CASE WHEN bucket_minute IS NOT NULL THEN 'minute'
                    WHEN bucket_hour   IS NOT NULL THEN 'hour'
                    ELSE 'day' END AS grain,
               coalesce(bucket_minute, bucket_hour, bucket_day) AS bucket,
               COUNT(*) AS n,
               CAST(SUM(v) AS DOUBLE) AS total_value
        FROM ht_events
        GROUP BY GROUPING SETS ((bucket_minute), (bucket_hour), (bucket_day))
        """
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (purchase, view) pair by the same user where the view
    happened at most 30 minutes before the purchase. Executed as a
    bucketized interval join — an equi-join on (user, time-bucket) with a
    residual filter, never a range cross-join."""
    from ts_etl_spark.operators.advanced import bucketized_range_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("v_ts")
    )
    gap = F.unix_timestamp("p_ts").cast("long") - F.unix_timestamp("v_ts").cast("long")
    out = bucketized_range_join(purchases, views, "user_id", "p_ts", "v_ts", 1800)
    return (
        out.select("user_id", "purchase_id", "view_id", gap.alias("gap_seconds"))
        .filter((F.col("gap_seconds") >= 0) & (F.col("gap_seconds") <= 1800))
    )


#: gapfill arm geometry: daily buckets over the sparse purchase stream —
#: plenty of interior gaps to interpolate at every SF without exploding
#: the grid (users × days, not users × hours)
GAPFILL_BUCKET_SECONDS = 86_400


def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily grid over purchase values with linear
    interpolation (``gapfill.gap_fill_interpolate``): the hypertable
    gap-fill/LOCF operator of time-series stores. Bucket averages
    aggregate in exact decimal space so every interpolated value is
    bit-identical cross-engine (see ``exact_avg_scale``)."""
    from ts_etl_spark.operators.gapfill import gap_fill_interpolate

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return gap_fill_interpolate(
        ev, "user_id", "ts", "value", GAPFILL_BUCKET_SECONDS,
        exact_avg_scale=2,
    )


def q_events_time_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every event-time aggregation grain in one tagged union: tumbling and
    sliding windows per event_type, the hypertable-style minute/hour/day
    hierarchical rollup (its rows carry event_type = NULL — the rollup
    aggregates across types), and the per-user daily gap-fill grid
    (kind = 'gapfill': event_type carries the user id, n the filled flag,
    total_value the observed-or-interpolated value). Each branch stays its
    own scan + partial-agg + one keyed shuffle; the union adds no
    exchange."""
    windows = q_events_windows(spark, sf_dir)
    rollup = q_events_hypertable_rollup(spark, sf_dir).select(
        F.col("grain").alias("kind"),
        F.col("bucket").alias("window_start"),
        F.lit(None).cast("string").alias("event_type"),
        "n",
        "total_value",
    )
    gapfill = q_events_gapfill(spark, sf_dir).select(
        F.lit("gapfill").alias("kind"),
        ts_str("bucket_ts").alias("window_start"),
        F.col("user_id").cast("string").alias("event_type"),
        F.col("filled").cast("bigint").alias("n"),
        F.col("value").alias("total_value"),
    )
    return windows.unionByName(rollup).unionByName(gapfill)


def q_events_sessions_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization, the aggregate-share/JSON surface, ordered
    funnel conversion, and weekly cohort retention in one tagged union
    (unified schema: op, k, t, n, v, sum_k, min_k, max_k).
    Session rows: k = user id, t = session start, n = events, v = session
    value. Share rows: k = event type, v = share of total, plus the JSON
    property aggregates. Funnel rows (``operators/funnel.py``): k = the
    ordered step name, n = users reaching the step, v = conversion from
    step 1. Retention rows: k = cohort week (Monday), t = week offset,
    n = active cohort members, v = retention fraction."""
    from ts_etl_spark.operators.funnel import funnel_counts, retention_cohorts

    nb = F.lit(None).cast("bigint")
    ni = F.lit(None).cast("int")
    ns = F.lit(None).cast("string")
    sessions = q_events_session(spark, sf_dir).select(
        F.lit("session").alias("op"),
        F.col("user_id").cast("string").alias("k"),
        F.col("session_start").alias("t"),
        F.col("n_events").alias("n"),
        F.col("session_value").alias("v"),
        nb.alias("sum_k"),
        ni.alias("min_k"),
        ni.alias("max_k"),
    )
    shares = q_events_type_share(spark, sf_dir).select(
        F.lit("type_share").alias("op"),
        F.col("event_type").alias("k"),
        ns.alias("t"),
        "n",
        F.col("share").alias("v"),
        "sum_k",
        "min_k",
        "max_k",
    )
    ev = load_table(spark, sf_dir, "events")
    funnel = funnel_counts(ev).select(
        F.lit("funnel").alias("op"),
        F.col("step_name").alias("k"),
        ns.alias("t"),
        F.col("n_users").alias("n"),
        F.col("conversion").alias("v"),
        nb.alias("sum_k"),
        ni.alias("min_k"),
        ni.alias("max_k"),
    )
    retention = retention_cohorts(ev).select(
        F.lit("retention").alias("op"),
        F.col("cohort").alias("k"),
        F.col("week_offset").cast("string").alias("t"),
        F.col("n_active").alias("n"),
        F.col("retention").alias("v"),
        nb.alias("sum_k"),
        ni.alias("min_k"),
        ni.alias("max_k"),
    )
    return (
        sessions.unionByName(shares)
        .unionByName(funnel)
        .unionByName(retention)
    )


QUERIES = {
    "events_time_rollups": q_events_time_rollups,
    "events_sessions_shares": q_events_sessions_shares,
    "stream_stream_join": q_stream_stream_join,
}

from ts_etl_spark.operators.funnel import (  # noqa: E402 — SQL twins
    funnel_counts_sql,
    retention_cohorts_sql,
)

_FUNNEL_SQL = funnel_counts_sql()
_RETENTION_SQL = retention_cohorts_sql()

ORACLE = {
    "events_time_rollups": f"""
        SELECT 'tumbling' AS kind,
               strftime(date_trunc('hour', ts), '{_STRF}') AS window_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2, 3
        UNION ALL
        SELECT 'sliding' AS kind, strftime(ws, '{_STRF}') AS window_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(v) AS DOUBLE) AS total_value
        FROM (
            SELECT time_bucket(INTERVAL '30 minutes', ts) AS ws, event_type,
                   CAST(value AS DECIMAL(18,2)) AS v FROM events
            UNION ALL
            SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes' AS ws,
                   event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events
        ) GROUP BY 1, 2, 3
        UNION ALL
        SELECT grain AS kind, bucket AS window_start,
               CAST(NULL AS VARCHAR) AS event_type, n, total_value
        FROM (
            WITH b AS (
                SELECT strftime(date_trunc('minute', ts), '{_STRF}') AS bucket_minute,
                       strftime(date_trunc('hour', ts), '{_STRF}') AS bucket_hour,
                       strftime(date_trunc('day', ts), '{_STRF}') AS bucket_day,
                       CAST(value AS DECIMAL(18,2)) AS v
                FROM events
            )
            SELECT CASE WHEN bucket_minute IS NOT NULL THEN 'minute'
                        WHEN bucket_hour   IS NOT NULL THEN 'hour'
                        ELSE 'day' END AS grain,
                   coalesce(bucket_minute, bucket_hour, bucket_day) AS bucket,
                   COUNT(*) AS n,
                   CAST(SUM(v) AS DOUBLE) AS total_value
            FROM b
            GROUP BY GROUPING SETS ((bucket_minute), (bucket_hour), (bucket_day))
        )
        UNION ALL
        -- gapfill arm: dense per-user daily grid over purchase values,
        -- LOCF neighbors + linear blend; bucket averages in exact decimal
        -- space and the blend written with the same association as the
        -- Spark expression (pv + (nv - pv) * (frac)) so doubles match
        -- bit for bit
        SELECT 'gapfill' AS kind,
               strftime(to_timestamp(b), '{_STRF}') AS window_start,
               CAST(k AS VARCHAR) AS event_type,
               CAST(v IS NULL AS BIGINT) AS n,
               COALESCE(v, pv + (nv - pv)
                           * (CAST(b - pb AS BIGINT)
                              / CAST(nb - pb AS BIGINT))) AS total_value
        FROM (
            WITH actual AS (
                SELECT user_id AS k,
                       CAST(floor(epoch(ts) / 86400) AS BIGINT) * 86400 AS b,
                       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                         / COUNT(*) AS v
                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
            ),
            grid AS (
                SELECT k, unnest(generate_series(min(b), max(b), 86400)) AS b
                FROM actual GROUP BY k
            ),
            j AS (SELECT g.k, g.b, a.v FROM grid g LEFT JOIN actual a USING (k, b))
            SELECT k, b, v,
                   last_value(v IGNORE NULLS) OVER
                     (PARTITION BY k ORDER BY b ROWS UNBOUNDED PRECEDING) AS pv,
                   last_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER
                     (PARTITION BY k ORDER BY b ROWS UNBOUNDED PRECEDING) AS pb,
                   first_value(v IGNORE NULLS) OVER
                     (PARTITION BY k ORDER BY b
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                   first_value(CASE WHEN v IS NOT NULL THEN b END IGNORE NULLS) OVER
                     (PARTITION BY k ORDER BY b
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
            FROM j
        )
    """,
    "events_sessions_shares": f"""
        WITH flagged AS (
            SELECT user_id, ts, value,
                   -- Spark's session_window starts a NEW session when the gap
                   -- is >= the gap duration (windows are [ts, ts+gap))
                   CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL '30 minutes'
                        OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), sessions AS (
            SELECT user_id, ts, value,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT 'session' AS op, CAST(user_id AS VARCHAR) AS k,
               strftime(MIN(ts), '{_STRF}') AS t,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
               CAST(NULL AS BIGINT) AS sum_k,
               CAST(NULL AS INT) AS min_k, CAST(NULL AS INT) AS max_k
        FROM sessions GROUP BY user_id, session_id
        UNION ALL
        SELECT 'type_share' AS op, event_type AS k, CAST(NULL AS VARCHAR) AS t,
               COUNT(*) AS n,
               CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS v,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
               MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'funnel' AS op, step_name AS k, CAST(NULL AS VARCHAR) AS t,
               n_users AS n, conversion AS v,
               CAST(NULL AS BIGINT) AS sum_k,
               CAST(NULL AS INT) AS min_k, CAST(NULL AS INT) AS max_k
        FROM ({_FUNNEL_SQL})
        UNION ALL
        SELECT 'retention' AS op, cohort AS k,
               CAST(week_offset AS VARCHAR) AS t,
               n_active AS n, retention AS v,
               CAST(NULL AS BIGINT) AS sum_k,
               CAST(NULL AS INT) AS min_k, CAST(NULL AS INT) AS max_k
        FROM ({_RETENTION_SQL})
    """,
    "stream_stream_join": """
        -- floor to whole epoch seconds to mirror Spark's unix_timestamp
        SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
               CAST(floor(epoch(p.ts)) AS BIGINT)
                 - CAST(floor(epoch(v.ts)) AS BIGINT) AS gap_seconds
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND v.event_type = 'view'
         AND CAST(floor(epoch(p.ts)) AS BIGINT)
             - CAST(floor(epoch(v.ts)) AS BIGINT) BETWEEN 0 AND 1800
    """,
}
