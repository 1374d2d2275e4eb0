"""Part E — streaming-semantics operators over the ``events`` table.

SURVEY.md §2 Part E (e1-e8). Each operator ships as a hash-checked BATCH
DataFrame query here, plus a Structured Streaming twin in
``streaming/twins.py`` (same logic over ``readStream`` + watermark,
smoke-tested in tests/test_streaming.py) — the t2 oracle is batch DuckDB
SQL, so the batch form is the checkable one.

Window-alignment note: Spark ``F.window`` tumbling/sliding windows align
to the Unix epoch; DuckDB ``time_bucket`` aligns sub-day buckets to
2000-01-03 00:00:00 — both are whole-hour/whole-15-min aligned, so the
boundaries coincide for the intervals used here.

All ts outputs are CAST to TIMESTAMP in the oracle: the parquet column
is TIMESTAMP_NS on the DuckDB side and µs on the Spark side.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.finite import in_domain, is_in_domain
from ..functions.rounding import exact_mean6, sql_exact_mean6
from ..registry import register
from ..util import local_frame
from .util import r2, r6, t


# --------------------------------------------------------------------------
@register(
    "e1_tumbling",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
           event_type,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def e1_tumbling(spark, sf_dir):
    """Tumbling 1-hour window aggregate per event type.

    Streaming twin: identical groupBy(F.window(...)) plus
    ``withWatermark('ts', '10 minutes')`` — see streaming/twins.py.
    """
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


# --------------------------------------------------------------------------
@register(
    "e2_sliding",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '15 minutes', ts)
                - TO_MICROSECONDS(k * 15 * 60 * 1000000) AS TIMESTAMP)
             AS window_start,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events, (SELECT unnest(generate_series(0, 3)) AS k)
    GROUP BY 1
    """,
)
def e2_sliding(spark, sf_dir):
    """Sliding windows: 1 hour long, advancing every 15 minutes — each
    event belongs to exactly 4 windows. The oracle expands the same
    membership with a 0..3 offset cross join."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n", "sum_value")
    )


# --------------------------------------------------------------------------
@register(
    "e3_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         >= INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               -- RANGE, not ROWS: exact-duplicate rows share
               -- (ts, event_id), so the flag pass puts new_session=1
               -- on an ARBITRARY copy (lag's tie order is unstable
               -- between the two window sorts — intermittent dup2
               -- divergence). RANGE sums the whole peer group, so
               -- every copy of a boundary row lands in the NEW
               -- session — deterministic, and exactly Spark's
               -- session_window merge semantics
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(min(ts) AS TIMESTAMP) AS session_start,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def e3_session(spark, sf_dir):
    """Session windows: 30-minute inactivity gap per user.

    Spark side uses the native ``F.session_window``; the oracle is the
    classic gaps-and-islands rewrite. Boundary semantics align: Spark
    merges an event iff ts < previous_ts + gap (strict), so the oracle
    starts a new session when the gap is >= 30 minutes.
    """
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), r2(F.sum("value")).alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
@register(
    "e4_watermark_late",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 7 DAY
    GROUP BY 1
    """,
)
def e4_watermark_late(spark, sf_dir):
    """Watermark policy, batch form: drop events older than (stream max
    ts - 7 days), then daily aggregate — the batch rendering of a 7-day
    watermark at end-of-stream. Streaming twin uses withWatermark."""
    ev = t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("mx"))
    return (
        ev.crossJoin(F.broadcast(mx))
        .filter(F.col("ts") >= F.col("mx") - F.expr("INTERVAL 7 DAYS"))
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"), r2(F.sum("value")).alias("sum_value"))
    )


# --------------------------------------------------------------------------
@register(
    "e5_stream_dedup",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type, value
                               ORDER BY ts, event_id) = 1
    """,
)
def e5_stream_dedup(spark, sf_dir):
    """Stateful dedup: first occurrence per (user_id, event_type, value)
    with an explicit deterministic survivor (ts, event_id ordering —
    never engine-default dropDuplicates). Streaming twin:
    dropDuplicates within watermark."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type", "value").orderBy(
        "ts", "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "value")
    )


# --------------------------------------------------------------------------
@register(
    "e6_stateful_runagg",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 2) AS cum_spend
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def e6_stateful_runagg(spark, sf_dir):
    """Stateful running aggregate: per-user cumulative purchase value.
    Streaming twin: groupBy(user).agg(sum) in update mode."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", r2(F.sum("value").over(w)).alias("cum_spend")
    )


# --------------------------------------------------------------------------
@register(
    "e7_event_funnel",
    oracle="""
    SELECT user_id,
           CAST(min(CASE WHEN event_type = 'signup' THEN ts END)
                AS TIMESTAMP) AS first_signup,
           CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
                AS TIMESTAMP) AS first_purchase
    FROM events
    GROUP BY user_id
    HAVING min(CASE WHEN event_type = 'signup' THEN ts END)
         < min(CASE WHEN event_type = 'purchase' THEN ts END)
    """,
)
def e7_event_funnel(spark, sf_dir):
    """Ordered-pattern detection: users whose first signup precedes
    their first purchase (conditional-min funnel — one aggregation, no
    self-join, the shape that scales)."""
    ev = t(spark, sf_dir, "events")
    first_signup = F.min(F.when(F.col("event_type") == "signup", F.col("ts")))
    first_purchase = F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return (
        ev.groupBy("user_id")
        .agg(
            first_signup.alias("first_signup"),
            first_purchase.alias("first_purchase"),
        )
        .filter(F.col("first_signup") < F.col("first_purchase"))
    )


# --------------------------------------------------------------------------
@register(
    "e8_rate_histogram",
    oracle="""
    -- domain-gated discretization (finite-measurement law,
    -- functions/finite.py): CAST(floor(x/50) AS INT) is a runtime
    -- crash in BOTH engines for non-finite x (and an overflow for
    -- |x| >= 2^31*50) — out-of-domain values land in the NULL bucket.
    -- The gate is a plain range comparison: both engines give NaN a
    -- total-order position above +Inf, so NaN/±Inf fail it identically.
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CASE WHEN value >= -107374182400.0 AND value < 107374182400.0
                THEN CAST(floor(value / 50) AS INT) END AS value_bucket,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def e8_rate_histogram(spark, sf_dir):
    """Time histogram: events per (day, value-bucket) — daily rate plus
    a width-50 value histogram in one aggregate. Bucket ids ride the
    domain gate (non-finite / INT-overflowing values -> NULL bucket):
    2^31 buckets of width 50."""
    ev = t(spark, sf_dir, "events")
    in_domain = (F.col("value") >= -107374182400.0) & (
        F.col("value") < 107374182400.0
    )
    return ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.when(
            in_domain, F.floor(F.col("value") / 50).cast("int")
        ).alias("value_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
@register(
    "e9_retention_cohort",
    oracle="""
    WITH cohort AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      FROM events WHERE event_type = 'signup'
      GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id,
             CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS act_week
      FROM events e)
    SELECT c.cohort_week,
           CAST(datediff('day', c.cohort_week, a.act_week) / 7 AS BIGINT)
             AS week_offset,
           count(DISTINCT c.user_id) AS n_active
    FROM cohort c
    JOIN activity a ON a.user_id = c.user_id
    WHERE a.act_week >= c.cohort_week
    GROUP BY 1, 2
    """,
)
def e9_retention_cohort(spark, sf_dir):
    """Cohort retention matrix: users grouped by signup week, counted
    as active in each subsequent week — the classic product-analytics
    rollup (two aggs + one equi-join, all key-partitioned)."""
    ev = t(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("act_week")
    ).distinct()
    return (
        cohort.join(activity, "user_id")
        .filter(F.col("act_week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


# --------------------------------------------------------------------------
@register(
    "e10_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(c.ts AS TIMESTAMP) AS click_ts,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           round(p.value, 2) AS purchase_value
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def e10_stream_stream_join(spark, sf_dir):
    """Stream-stream interval join semantics, batch form: each purchase
    attributed to every click by the same user in the preceding 30
    minutes. The join is EQUI on user_id (shuffle-partitionable — the
    100-TB shape) with the time interval as a residual range predicate;
    the streaming twin runs the identical join between two watermarked
    streams where the interval bound is also what lets Spark expire
    join state (tests/test_streaming.py)."""
    ev = t(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.round("value", 2).alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") > F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "user_id", "click_id", "purchase_id",
            "click_ts", "purchase_ts", "purchase_value",
        )
    )


# --------------------------------------------------------------------------
@register(
    "e11_anomaly_zscore",
    oracle="""
    WITH s AS (
      SELECT event_id, user_id, value,
             count(*) OVER w AS n_frame,
             -- metric-domain law (functions/finite.py): the baseline
             -- moments run over IN-DOMAIN values only (DuckDB raises
             -- on non-finite stddev input; a finite-but-huge glitch
             -- poisons the baseline scale)
             avg(CASE WHEN abs(value) <= 10000000.0 THEN value END)
               OVER w AS mu,
             stddev_samp(CASE WHEN abs(value) <= 10000000.0 THEN value END)
               OVER w AS sd,
             -- exact degeneracy gate: an all-equal frame's COMPUTED
             -- stddev is exactly 0 in one engine and a float epsilon
             -- in the other (skewkey probe: 101 identical values ->
             -- Spark 0, DuckDB ~1e-13) — min<max is the same predicate
             -- computed exactly
             min(CASE WHEN abs(value) <= 10000000.0 THEN value END)
               OVER w AS mn,
             max(CASE WHEN abs(value) <= 10000000.0 THEN value END)
               OVER w AS mx
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY date_trunc('second', ts)
                   RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id, round(value, 6) AS value, n_frame,
           -- an out-of-domain CURRENT value has no z-score (NULL)
           CASE WHEN mx > mn AND sd > 0 AND abs(value) <= 10000000.0
                THEN round((value - mu) / sd, 6) END AS zscore,
           coalesce(mx > mn AND sd > 0 AND abs(value) <= 10000000.0
                    AND abs((value - mu) / sd) > 2, FALSE)
             AS is_anomaly
    FROM s
    """,
)
def e11_anomaly_zscore(spark, sf_dir):
    """Sliding-baseline anomaly detection: each event's value scored
    against the SAME USER's trailing 7-day mean/stddev (RANGE frame as
    in c14; 7 days ≈ 15 events/user here — enough history for a stable
    baseline), flagged when |z| > 2. The streaming-analytics staple
    (fraud/outlier detection over a rolling per-key baseline).
    Scale shape: windows partition on user_id — high-cardinality
    scale-out, no global reducer; frame state per partition is one
    week of one user's events. Degenerate frames (constant values /
    frame of one) yield NULL z, not a division blowup — and the
    degeneracy test is the EXACT `min < max` over the frame, not
    `sd > 0`: an all-equal frame's computed stddev is exactly 0 in
    Spark but a summation-noise epsilon in DuckDB (skewkey probe), so
    a float gate flips between engines while the min/max comparison
    cannot."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        # floor-second epoch via date_trunc FIRST: bare unix_timestamp
        # TRUNCATES TOWARD ZERO, so a pre-1970 fractional ts lands one
        # second late (tsedge probe; the oracle orders by
        # date_trunc('second', ts), which floors) — wall-clock
        # truncation THEN whole-second conversion is exact at any epoch
        .orderBy(F.unix_timestamp(F.date_trunc("second", "ts")))
        .rangeBetween(-7 * 86400, 0)
    )
    # metric-domain law: baseline moments over in-domain values, and
    # an out-of-domain current value has no z-score (functions/finite.py)
    vf = in_domain("value")
    mu = F.avg(vf).over(w)
    sd = F.stddev_samp(vf).over(w)
    nondeg = (
        (F.max(vf).over(w) > F.min(vf).over(w))
        & (sd > 0)
        & is_in_domain("value")
    )
    z = (F.col("value") - mu) / sd
    return ev.select(
        "event_id",
        "user_id",
        r6(F.col("value")).alias("value"),
        F.count(F.lit(1)).over(w).alias("n_frame"),
        F.when(nondeg, r6(z)).alias("zscore"),
        F.coalesce(nondeg & (F.abs(z) > 2), F.lit(False)).alias("is_anomaly"),
    )


# --------------------------------------------------------------------------
@register(
    "e12_out_of_order_profile",
    oracle="""
    WITH s AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY event_id) AS prev_ts
      FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE prev_ts IS NOT NULL AND ts < prev_ts)
                AS BIGINT) AS n_out_of_order,
           round(CAST(count(*) FILTER (WHERE prev_ts IS NOT NULL AND ts < prev_ts)
                      AS DOUBLE) / count(*), 6) AS ooo_rate
    FROM s GROUP BY user_id
    """,
)
def e12_out_of_order_profile(spark, sf_dir):
    """Late-data profiling: per user, how often event-time regresses
    against arrival order (event_id) — the measurement that justifies a
    watermark bound before deploying e1-e6's streaming twins (pick the
    delay that covers the observed disorder). Window partitions on
    user_id; the profile agg partial-aggregates."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    s = ev.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    ooo = F.col("prev_ts").isNotNull() & (F.col("ts") < F.col("prev_ts"))
    return s.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(ooo.cast("int")).cast("long").alias("n_out_of_order"),
        r6(F.sum(ooo.cast("int")) / F.count(F.lit(1))).alias("ooo_rate"),
    )


# --------------------------------------------------------------------------
@register(
    "e13_windowed_topn",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, count(*) AS n,
             round(sum(value), 2) AS total_value
      FROM events GROUP BY 1, 2)
    SELECT CAST(window_start AS VARCHAR) AS window_start, event_type, n,
           total_value, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (
            PARTITION BY window_start
            -- NULLS FIRST pins the engines' opposite ASC defaults when
            -- event_type is nullable (rank-3 cut flips otherwise);
            -- encode() dodges DuckDB's non-ASCII string sort-key
            -- hazard (see c5b / SURVEY.md §5.4 textedge law)
            ORDER BY n DESC, encode(event_type) NULLS FIRST) AS rnk
          FROM w)
    WHERE rnk <= 3
    """,
)
def e13_windowed_topn(spark, sf_dir):
    """Trending-per-window: top-3 event types by count within each
    1-hour tumbling window (count ties broken alphabetically) — the
    dashboard staple composing e1's window agg with c11's per-group
    top-k. Scale shape: windowed agg shuffles once on (window, type);
    the rank window partitions on window_start (cardinality grows with
    time → scales out; per-partition state is #event_types rows)."""
    ev = t(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r2(F.sum("value")).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "total_value",
        )
    )
    wr = Window.partitionBy("window_start").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        agg.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


# --------------------------------------------------------------------------
@register(
    "e14_session_shape",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         >= INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    numbered AS (
        SELECT user_id, ts, event_type,
               -- RANGE, not ROWS: peer-group sum keeps duplicate
               -- boundary rows in ONE deterministic session (see e3)
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
        FROM flagged),
    sessions AS (
        SELECT user_id, session_id,
               count(*) AS n_events,
               -- floor endpoints to the second BEFORE diffing:
               -- date_diff partitions each endpoint by truncation
               -- toward zero, so a pre-1970 fractional endpoint shifts
               -- its partition up one second (tsedge probe); flooring
               -- first equals Spark's floor-epoch subtraction at any
               -- sign, and is identical on whole/positive timestamps
               date_diff('second', date_trunc('second', min(ts)),
                         date_trunc('second', max(ts))) AS duration_s,
               count(DISTINCT event_type) AS n_types
        FROM numbered GROUP BY user_id, session_id)
    SELECT CASE WHEN n_events = 1 THEN '1'
                WHEN n_events = 2 THEN '2'
                WHEN n_events <= 4 THEN '3-4'
                WHEN n_events <= 8 THEN '5-8'
                ELSE '9+' END AS size_bucket,
           CAST(count(*) AS BIGINT) AS n_sessions,
           {sql_exact_mean6('sum(duration_s)', 'count(*)')} AS avg_duration_s,
           {sql_exact_mean6('sum(n_types)', 'count(*)')} AS avg_n_types
    FROM sessions GROUP BY 1
    """,
)
def e14_session_shape(spark, sf_dir):
    """Session-shape histogram: e3's sessions (30-min gap) bucketed by
    event count, with mean duration and mean distinct-event-type mix
    per bucket — the profile behind engagement tiers and the gap-rule
    sanity check (a '1'-bucket that dominates means the gap is too
    tight). Spark side reuses native ``session_window``; per-session
    aggregates partial-aggregate, and the final histogram is O(5)
    rows. Oracle replays the gaps-and-islands rewrite."""
    ev = t(spark, sf_dir, "events")
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.unix_timestamp(F.date_trunc("second", F.max("ts")))
                - F.unix_timestamp(F.date_trunc("second", F.min("ts")))
            ).alias("duration_s"),
            F.countDistinct("event_type").alias("n_types"),
        )
    )
    bucket = (
        F.when(F.col("n_events") == 1, "1")
        .when(F.col("n_events") == 2, "2")
        .when(F.col("n_events") <= 4, "3-4")
        .when(F.col("n_events") <= 8, "5-8")
        .otherwise("9+")
    )
    # both means average exact integers (whole seconds, type counts)
    # -> exact integer mean (functions/rounding)
    return (
        sess.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("duration_s").alias("__sd"),
            F.sum(F.col("n_types").cast("bigint")).alias("__st"),
        )
        .withColumn("avg_duration_s", exact_mean6("__sd", "n_sessions"))
        .withColumn("avg_n_types", exact_mean6("__st", "n_sessions"))
        .select("size_bucket", "n_sessions", "avg_duration_s", "avg_n_types")
    )


# --------------------------------------------------------------------------
@register(
    "e16_peak_concurrency",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         >= INTERVAL '30 minutes'
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    numbered AS (
        SELECT user_id, ts,
               -- RANGE, not ROWS: peer-group sum keeps duplicate
               -- boundary rows in ONE deterministic session (see e3)
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      RANGE BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS session_id
        FROM flagged),
    sessions AS (
        SELECT user_id, session_id,
               min(ts) AS s_start, max(ts) AS s_end
        FROM numbered GROUP BY user_id, session_id),
    hours AS (
        SELECT unnest(generate_series(date_trunc('hour', s_start),
                                      date_trunc('hour', s_end),
                                      INTERVAL 1 HOUR)) AS hour
        FROM sessions)
    SELECT CAST(hour AS TIMESTAMP) AS hour,
           CAST(count(*) AS BIGINT) AS n_active_sessions
    FROM hours GROUP BY hour
    """,
)
def e16_peak_concurrency(spark, sf_dir):
    """Concurrent-session load curve: how many user sessions (e3's
    30-min-gap sessions) are active in each hour — the capacity-planning
    twin of e20's rolling actives. Interval-overlap counting WITHOUT an
    interval join: each session explodes onto the hour buckets its
    [start, end] span touches (≤ 1 + span/1h rows), then one
    partial-aggregated count per hour — linear in sessions, no
    range-join, no global window. Same explode-onto-buckets shape as
    e20/f44."""
    ev = t(spark, sf_dir, "events")
    sess = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    hours = sess.select(
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s_start"),
                F.date_trunc("hour", "s_end"),
                F.expr("interval 1 hour"),
            )
        ).alias("hour")
    )
    return hours.groupBy("hour").agg(
        F.count(F.lit(1)).alias("n_active_sessions")
    )


# --------------------------------------------------------------------------
@register(
    "e15_interarrival_histogram",
    oracle="""
    WITH g AS (
      SELECT event_type,
             -- floor-then-diff: see e14/e19 (negative-epoch fractional
             -- endpoints otherwise shift date_diff by one when a
             -- consecutive pair straddles epoch 0 — same class the r9
             -- pool sweep caught in e19; latent here by data luck)
             date_diff('second',
                       date_trunc('second',
                                  lag(ts) OVER (PARTITION BY user_id, event_type
                                                ORDER BY ts, event_id)),
                       date_trunc('second', ts)) AS gap_s
      FROM events)
    SELECT event_type,
           CAST(least(floor(gap_s / 3600.0), 48) AS BIGINT) AS gap_hours_bucket,
           CAST(count(*) AS BIGINT) AS n
    FROM g WHERE gap_s IS NOT NULL
    GROUP BY 1, 2
    """,
)
def e15_interarrival_histogram(spark, sf_dir):
    """Inter-arrival-time histogram: per event type, the distribution
    of gaps between a user's consecutive events of that type (hour
    buckets, capped at 48h) — the measurement behind session-gap (e3)
    and watermark (e12) threshold choices. Windows partition on
    (user_id, event_type); the histogram agg partial-aggregates to
    O(types × buckets) rows."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_timestamp(F.date_trunc("second", "ts")) - F.unix_timestamp(
        F.date_trunc("second", F.lag("ts").over(w))
    )
    g = ev.select("event_type", gap.alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    bucket = F.least(F.floor(F.col("gap_s") / 3600.0), F.lit(48)).cast("long")
    return g.groupBy(
        "event_type", bucket.alias("gap_hours_bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
@register(
    "e17_transition_matrix",
    oracle="""
    WITH s AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type,
           CAST(count(*) AS BIGINT) AS n
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def e17_transition_matrix(spark, sf_dir):
    """Event-transition (first-order Markov) matrix: counts of
    consecutive event-type pairs per user journey — the input to
    funnel discovery and next-action models. Window partitions on
    user_id; the matrix agg partial-aggregates to O(types²) rows."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    return s.groupBy(
        "prev_type", F.col("event_type").alias("next_type")
    ).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
@register(
    "e18_bounded_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    p AS (
      SELECT e.user_id, min(e.ts) AS first_purchase_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts
      GROUP BY e.user_id)
    SELECT s.user_id,
           CAST(date_trunc('second', s.signup_ts) AS VARCHAR) AS signup_ts,
           (p.first_purchase_ts IS NOT NULL
            AND p.first_purchase_ts <= s.signup_ts + INTERVAL 7 DAY)
             AS converted_7d,
           CASE WHEN p.first_purchase_ts IS NOT NULL
                -- floor-then-diff: see e14 (negative-epoch fractional
                -- endpoints otherwise shift date_diff by one)
                THEN date_diff('second',
                               date_trunc('second', s.signup_ts),
                               date_trunc('second', p.first_purchase_ts))
           END AS seconds_to_convert
    FROM s LEFT JOIN p ON p.user_id = s.user_id
    """,
)
def e18_bounded_funnel(spark, sf_dir):
    """Time-bounded funnel conversion (e7 with a deadline): per
    signed-up user, did the first post-signup purchase land within 7
    days, and how long did it take. The bounded form is what product
    funnels actually report (unbounded conversion always reaches 100%
    eventually). Two partial-aggregated min()s + one user-keyed join —
    no windows, no n² anything."""
    ev = t(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    j = s.join(p, "user_id", "left")
    secs = F.unix_timestamp(F.date_trunc("second", "first_purchase_ts")) - F.unix_timestamp(
        F.date_trunc("second", "signup_ts")
    )
    return j.select(
        "user_id",
        F.date_format(F.date_trunc("second", "signup_ts"), "yyyy-MM-dd HH:mm:ss").alias("signup_ts"),
        (
            F.col("first_purchase_ts").isNotNull()
            & (
                F.col("first_purchase_ts")
                <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")
            )
        ).alias("converted_7d"),
        F.when(F.col("first_purchase_ts").isNotNull(), secs).alias(
            "seconds_to_convert"
        ),
    )


# --------------------------------------------------------------------------
@register(
    "e19_watermark_whatif",
    oracle="""
    WITH ordered AS (
      SELECT ts,
             -- (event_id, ts): duplicate arrival ids make ORDER BY
             -- event_id alone a peer-order lottery for the running
             -- max (r9 pool-sweep find); ts as tie-break pins the
             -- canonical arrival order on both engines
             max(ts) OVER (PARTITION BY event_id % 8 ORDER BY event_id, ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS max_ts_so_far
      FROM events),
    lateness AS (
      -- floor-then-diff: see e14 (negative-epoch fractional endpoints
      -- otherwise shift date_diff by one — r9 pool-sweep find: a ts in
      -- the open second below epoch 0 whose running max sits at/after
      -- epoch 0 reads late_s=1 in Spark's floor form, 0 in raw
      -- date_diff's toward-zero second partitions)
      SELECT date_diff('second', date_trunc('second', ts),
                       date_trunc('second', max_ts_so_far)) AS late_s
      FROM ordered)
    SELECT delay_min,
           CAST((SELECT count(*) FROM lateness WHERE late_s > delay_min * 60)
                AS BIGINT) AS n_dropped
    FROM (SELECT unnest([0, 5, 10, 30, 60, 240]) AS delay_min)
    """,
)
def e19_watermark_whatif(spark, sf_dir):
    """Watermark what-if accounting: for candidate watermark delays,
    how many events would arrive more than `delay` behind the max
    event-time their ARRIVAL SHARD had already seen — the quantified
    basis for choosing e1-e6's withWatermark bound (e12 profiles
    per-user disorder; this prices the global policy). Arrival shards
    (event_id % 8) model Kafka partitions: each shard's running max is
    the per-partition watermark input, computed in a SHARD-PARTITIONED
    window (ordered by arrival id) — exactly the per-partition shape
    the streaming engine uses, and no global single-reducer window.
    The tiny threshold table rides a broadcast cross join.

    Multiset law (r9 pool-sweep find): arrival order is (event_id,
    ts), not event_id alone — with DUPLICATE arrival ids carrying
    different event-times (at-least-once delivery, replayed batches)
    a bare ORDER BY event_id leaves the running max at the mercy of
    peer order inside the ROWS frame, and the two engines' internal
    row orders legitimately differ (Spark's exchange feed vs DuckDB's
    scan order). The ts tie-break makes same-id events count in
    event-time order, so the answer is a pure function of the input
    multiset."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy(F.col("event_id") % 8)
        .orderBy("event_id", "ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = ev.select(
        (
            F.unix_timestamp(F.date_trunc("second", F.max("ts").over(w)))
            - F.unix_timestamp(F.date_trunc("second", "ts"))
        ).alias("late_s")
    )
    thresholds = local_frame(
        ev.sparkSession, [(d,) for d in [0, 5, 10, 30, 60, 240]], "delay_min int"
    )
    return (
        late.crossJoin(F.broadcast(thresholds))
        .groupBy("delay_min")
        .agg(
            F.sum((F.col("late_s") > F.col("delay_min") * 60).cast("int"))
            .cast("long")
            .alias("n_dropped")
        )
    )


# --------------------------------------------------------------------------
@register(
    "e20_rolling_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    days AS (SELECT DISTINCT day FROM ud),
    contrib AS (
      SELECT user_id, CAST(day + CAST(g.o AS INTEGER) AS DATE) AS as_of_day
      FROM ud, LATERAL (SELECT unnest(generate_series(0, 6)) AS o) g)
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
    FROM days d JOIN contrib c ON c.as_of_day = d.day
    GROUP BY d.day
    """,
)
def e20_rolling_wau(spark, sf_dir):
    """Rolling 7-day distinct actives (WAU per day) — the metric a
    naive window can't do (COUNT DISTINCT over a sliding frame is
    unsupported and a per-day DAU sum double-counts). Rewrite: each
    (user, active-day) pair is exploded forward onto the 7 days it
    keeps the user 'active' for, then one distinct-count per day —
    turning an O(days × window) repeated scan into ONE explode (×7)
    and ONE partial-aggregated distinct per day. Join keys are days
    (bounded), user sets partial-aggregate map-side."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    days = ud.select("day").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("as_of_day"),
    )
    return (
        days.join(contrib, days.day == contrib.as_of_day)
        .groupBy(F.date_format(days.day, "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# --------------------------------------------------------------------------
@register(
    "e21_commitlog_replay",
    oracle="""
    SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
           value, props
    FROM events
    """,
)
def e21_commitlog_replay(spark, sf_dir):
    """Streaming-source fidelity, oracle-checked: the custom
    ``keyspace_commitlog`` Python DataSourceStreamReader (the CDC-shaped
    streaming twin of a1's batch token-range source — see
    sources/commitlog_stream.py) replays the events log through a real
    Structured Streaming query into a memory sink; the hash-match
    against the raw table proves the offset→partition→read dataflow
    delivers every row exactly once. Paced multi-batch admission
    (batch_rows — the maxOffsetsPerTrigger analog) and checkpoint
    offset replay are pytest-asserted; here the full log is admitted in
    one availableNow pass so the driver check is a bounded single run."""
    import uuid

    from ..sources.commitlog_stream import read_commitlog_stream
    from ..util import scratch_dir_unique

    stream = read_commitlog_stream(
        spark, f"{sf_dir}/events.parquet", n_slices=4, batch_rows=0
    )
    name = "clog_replay_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir_unique("clog_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("e21: commit-log replay did not finish in 300 s")
    return spark.table(name).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# --------------------------------------------------------------------------
@register(
    "e22_stream_enrich",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           round(e.value, 2) AS value,
           c.c_mktsegment AS segment, c.c_nationkey AS nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def e22_stream_enrich(spark, sf_dir):
    """Stream-static enrichment join — the most common production
    streaming join (every event picks up its dimension attributes):
    events ⋈ customer on the user key. Batch form here (hash-checked);
    the streaming twin joins the event STREAM against the static
    customer frame, which Spark broadcasts per micro-batch with NO
    state store at all (unlike e10's stream-stream join, which buffers
    both sides within watermark) — the reason dimension enrichment
    stays cheap at any stream rate. Twin parity in
    tests/test_streaming.py."""
    ev = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return ev.join(F.broadcast(cust), "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        "segment",
        "nationkey",
    )


# --------------------------------------------------------------------------
@register(
    "e23_foreachbatch_sink",
    oracle="""
    SELECT event_id, user_id, event_type, round(value, 2) AS value
    FROM events
    """,
)
def e23_foreachbatch_sink(spark, sf_dir):
    """Transactional-sink fidelity, oracle-checked — the SINK half of
    e21's source check: the commit-log stream drains through
    ``foreachBatch`` into an epoch-partitioned parquet layout
    (mode=overwrite per ``epoch=<id>`` directory), and the query
    returns what the SINK persisted. Overwrite-per-epoch makes batch
    replay IDEMPOTENT — a retried epoch overwrites itself instead of
    appending duplicates, which upgrades Structured Streaming's
    at-least-once replay to effectively-once output (pytest-asserted by
    double-writing an epoch); at scale the same pattern targets any
    transactional store keyed on (epoch, partition). Hash-match against
    the raw table proves no row was lost or duplicated through the
    source → micro-batch → sink chain."""
    from ..sources.commitlog_stream import read_commitlog_stream
    from ..util import scratch_dir_unique

    out_dir = scratch_dir_unique("e23_sink")
    stream = read_commitlog_stream(
        spark, f"{sf_dir}/events.parquet", n_slices=4, batch_rows=0
    )

    def write_batch(df, epoch_id):
        (
            df.select(
                "event_id", "user_id", "event_type",
                F.round("value", 2).alias("value"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", scratch_dir_unique("e23_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("e23: foreachBatch drain did not finish in 300 s")
    return spark.read.parquet(out_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
