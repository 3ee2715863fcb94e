"""Time-series / hypertable-style operators over the `events` table.

The reference's event-log surface (SURVEY §1.3, §2.I) covers streaming
sessionization and windowed aggregates; these are the BATCH counterparts a
warehouse runs over the historical event store — gap-based sessionization
as pure window algebra, and the TimescaleDB-style "continuous aggregate"
rollup where coarser resolutions re-aggregate finer partials instead of
rescanning the raw events.

Scale notes (100 TB event store):
- `events_sessionize` costs exactly ONE shuffle: both window specs and the
  final groupBy share the user_id hash partitioning, so Catalyst plans a
  single Exchange followed by one sort — verified in tests/test_plans.py.
  Per-user state is a running sum, never a materialized session list.
- `rollup_timeseries` scans raw events ONCE for the finest resolution;
  every coarser bucket re-aggregates the hourly partials (|hours| rows,
  ~10^5 per year — trivially small vs 10^12 raw events).  This is the
  hypertable invariant: rollup cost is proportional to the finer AGGREGATE,
  not to the raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..catalog import table
from ..registry import register

SESSION_GAP_MIN = 30  # matches stream_session


@register(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           round(sum(value), 4) AS sum_value
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch 30-min-gap sessionization — the historical-store counterpart
    of stream_session: api.sessionize's gap rule (flag a session break
    where the gap to the previous event exceeds the threshold, running-sum
    the flags into a per-user session sequence) bound to the events
    table, then one aggregate per session.

    Both windows and the final groupBy hash-partition on user_id, so the
    whole pipeline is one Exchange + one sort.  Equal-timestamp ties need
    no event_id order here: only the first row of a tie can open a
    session, and every row of the tie gets the same running sum."""
    from ..api import sessionize

    ev = table(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", SESSION_GAP_MIN, "session_seq")
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


@register(
    "rollup_timeseries",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n_events, sum(value) AS raw_sum
      FROM events
      GROUP BY 1, 2
    )
    SELECT 'hour' AS resolution, event_type, bucket,
           n_events, round(raw_sum, 4) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day' AS resolution, event_type,
           date_trunc('day', bucket) AS bucket,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           round(sum(raw_sum), 4) AS sum_value
    FROM hourly
    GROUP BY 2, 3
    """,
)
def rollup_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly per-type
    aggregates from ONE scan of raw events; each hourly partial then
    EMITS BOTH resolutions (an explode into ('hour', bucket) and
    ('day', trunc(bucket))) and one re-aggregate keyed by (resolution,
    type, bucket) produces the union — the daily numbers are sums of
    the hourly partials, never a second pass over raw data.

    Round 9 restructure (SCALE.md §61): the previous union-of-branches
    form consumed the hourly frame twice and Catalyst re-ran the raw
    scan per branch (2 scans, 3 exchanges; ReusedExchange does not fire
    across the differing parents).  The explode form is 1 scan +
    2 exchanges — the second shuffle carries only 2x the
    calendar-bounded hourly partials — and measured ~9% faster
    interleaved at sf0.1.  Rounding happens only at the output
    projection, so both resolutions stay bit-consistent with a direct
    daily aggregation."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("raw_sum"),
    )
    both = hourly.select(
        "event_type",
        "n_events",
        "raw_sum",
        F.explode(
            F.array(
                F.struct(
                    F.lit("hour").alias("resolution"),
                    F.col("bucket").alias("b"),
                ),
                F.struct(
                    F.lit("day").alias("resolution"),
                    F.date_trunc("day", "bucket").alias("b"),
                ),
            )
        ).alias("r"),
    )
    return both.groupBy(
        F.col("r.resolution").alias("resolution"),
        "event_type",
        F.col("r.b").alias("bucket"),
    ).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(F.sum("raw_sum"), 4).alias("sum_value"),
    )


@register(
    "funnel_events",
    oracle="""
    WITH s1 AS (
      SELECT user_id, event_type, ts, event_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS seen_view
      FROM events
    ), s2 AS (
      SELECT user_id, event_type, ts, event_id, seen_view,
             max(CASE WHEN event_type = 'click' AND seen_view = 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS seen_click_after
      FROM s1
    ), per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f1,
             max(CASE WHEN event_type = 'click' AND seen_view = 1
                      THEN 1 ELSE 0 END) AS f2,
             max(CASE WHEN event_type = 'purchase' AND seen_click_after = 1
                      THEN 1 ELSE 0 END) AS f3
      FROM s2
      GROUP BY user_id
    )
    SELECT 'view' AS stage, CAST(sum(f1) AS BIGINT) AS n_users FROM per_user
    UNION ALL
    SELECT 'view>click', CAST(sum(f2) AS BIGINT) FROM per_user
    UNION ALL
    SELECT 'view>click>purchase', CAST(sum(f3) AS BIGINT) FROM per_user
    """,
)
def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view -> click -> purchase) in ONE pass:
    api.funnel bound to the events table.  Instead of per-stage
    self-joins (k-1 joins, each a shuffle), per-user ordered windows
    compute 'seen stage k strictly before this row' flags, and one
    aggregation counts users reaching each stage IN ORDER.  All windows
    and the final groupBy share the user_id partitioning — one Exchange
    total, the same discipline as events_sessionize.  At 100 TB the
    state per user is k bits, not an event list."""
    from ..api import funnel

    return funnel(
        table(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        ["view", "click", "purchase"], tie_col="event_id",
    )


@register(
    "retention_cohort",
    oracle="""
    WITH cohort AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), active AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT cohort_week,
           CAST(date_diff('day', cohort_week, active_week) / 7 AS BIGINT)
             AS weeks_since,
           count(*) AS n_users
    FROM active JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by first-seen week, counted
    in each subsequent active week.  Three aggregations, ONE logical
    partitioning: cohort assignment (groupBy user), distinct active weeks
    (groupBy user+week), and the cohort-week join all hash on user_id, so
    the join is co-partitioned with its inputs; only the final (tiny:
    |weeks|²) matrix aggregation re-shuffles.

    The narrow (user_id, ts-week) projection is explicitly repartitioned
    on user_id ONCE and both branches derive from it: hash(user_id)
    satisfies the clustered distribution of BOTH the cohort groupBy and
    the (user_id, week) distinct (subset rule), and AQE's exchange reuse
    feeds the second branch a ReusedExchange — so raw events are shuffled
    once, not twice (pinned on the executed plan in tests/test_plans.py)."""
    ev = table(spark, sf_dir, "events")
    by_user = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).repartition("user_id")
    cohort = by_user.groupBy("user_id").agg(
        F.min("active_week").alias("cohort_week")
    )
    active = by_user.distinct()
    joined = active.join(cohort, "user_id")
    return joined.groupBy(
        "cohort_week",
        (F.datediff("active_week", "cohort_week") / 7)
        .cast("long")
        .alias("weeks_since"),
    ).agg(F.count(F.lit(1)).alias("n_users"))


@register(
    "rollup_gapfill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n_events, round(sum(value), 4) AS sum_value
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
      FROM hourly GROUP BY 1
    ), grid AS (
      SELECT b.event_type, g.bucket
      FROM bounds b,
           LATERAL (SELECT unnest(generate_series(b.lo, b.hi,
                                  INTERVAL 1 HOUR)) AS bucket) g
    )
    SELECT g.event_type, g.bucket,
           CASE WHEN h.bucket IS NULL THEN 1 ELSE 0 END AS filled,
           coalesce(h.n_events, 0) AS n_events,
           round(last_value(h.sum_value IGNORE NULLS)
                 OVER (PARTITION BY g.event_type ORDER BY g.bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 4) AS locf_sum_value
    FROM grid g LEFT JOIN hourly h USING (event_type, bucket)
    """,
)
def rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup with last-observation-carried-forward —
    the time_bucket_gapfill counterpart to rollup_timeseries: a dense
    per-type hour grid (sequence + explode, generated from each type's
    min/max bucket — no driver loop), left-joined with the sparse hourly
    aggregate, missing buckets flagged and LOCF-interpolated via
    last_value(ignoreNulls) over the ordered grid.

    Scale: the grid is |types| × |hours| rows (~10^6/year — aggregate-
    sized, never event-sized); the join and the LOCF window both partition
    by event_type, and the sparse hourly side re-aggregates raw events
    exactly once."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    joined = grid.join(hourly, ["event_type", "bucket"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "bucket",
        F.when(F.col("n_events").isNull(), 1).otherwise(0).alias("filled"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.round(
            F.last("sum_value", ignorenulls=True).over(w), 4
        ).alias("locf_sum_value"),
    )


@register(
    "anomaly_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT event_type,
             avg(n_events) AS mu,
             stddev_samp(n_events) AS sigma
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.bucket, h.n_events,
           round((h.n_events - s.mu) / s.sigma, 4) AS zscore
    FROM hourly h JOIN stats s USING (event_type)
    WHERE abs((h.n_events - s.mu) / s.sigma) > 2.5
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts per type, z-scored
    against the type's own mean/stddev, buckets beyond 2.5σ flagged.
    The stats side is |types| rows — broadcast back onto the hourly
    aggregate, so raw events are scanned and shuffled exactly once (the
    hourly groupBy); the monitoring query a 100 TB event store runs every
    hour against its continuous aggregate, not its raw log."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n_events").alias("mu"),
        F.stddev_samp("n_events").alias("sigma"),
    )
    z = (F.col("n_events") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 2.5)
        .select(
            "event_type",
            "bucket",
            "n_events",
            F.round(z, 4).alias("zscore"),
        )
    )


@register(
    "concurrent_intervals",
    oracle="""
    WITH iv AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + CAST(floor(value) AS BIGINT) * 1000000 AS e
      FROM events
    ), sweep AS (
      SELECT user_id, s AS t, 1 AS delta FROM iv
      UNION ALL
      SELECT user_id, e AS t, -1 AS delta FROM iv
    ), c AS (
      SELECT user_id,
             sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM sweep
    )
    SELECT user_id, CAST(max(conc) AS BIGINT) AS max_concurrent
    FROM c GROUP BY user_id
    """,
)
def concurrent_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-overlap of intervals per user (peak concurrent sessions) via
    the sweep-line: each interval [ts, ts+floor(value) s] emits +1 at its
    start and -1 at its end, a running sum over the merged event stream
    is the instantaneous concurrency, and its max is the answer.  Ends
    sort before starts at the same instant (delta -1 < +1), so touching
    intervals don't count as overlapping.  The union, the window, and
    the final max all share ONE user_id hash partitioning — a single
    Exchange feeds sort, sweep, and partial-aggregated max.  Per-key
    state is one running integer; a key whose history exceeds a task
    splits by time-range with per-range carry-in (the classic
    prefix-sum decomposition), never by materializing the overlap
    graph."""
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor("value").cast("bigint") * F.lit(1_000_000)
        ).alias("e"),
    )
    sweep = ev.select(
        "user_id", F.col("s").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        ev.select("user_id", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sweep.withColumn("conc", F.sum("delta").over(w))
        .groupBy("user_id")
        .agg(F.max("conc").cast("bigint").alias("max_concurrent"))
    )


@register(
    "twap",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id) AS nxt
      FROM events
    )
    SELECT user_id,
           round(sum(value * (nxt - us) / 1e6) / sum((nxt - us) / 1e6), 4)
             AS twap
    FROM seq WHERE nxt IS NOT NULL
    GROUP BY user_id
    HAVING sum((nxt - us) / 1e6) > 0
    """,
)
def twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of `value` per user — the step-function
    integral (each observation holds until the next one) divided by the
    covered duration; the correct summary when observations are
    irregularly spaced and a plain avg() over-weights bursts.  One
    lead() window and the per-user aggregate share the user_id hash
    partitioning: one Exchange, one sort, partial-combinable sums.
    Users with a single observation (no holding period) drop out, as do
    zero-duration histories (guards the 0/0)."""
    ev = table(spark, sf_dir, "events").withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    dt = (F.lead("us").over(w) - F.col("us")) / F.lit(1e6)
    return (
        ev.select("user_id", "value", dt.alias("dt"))
        .filter(F.col("dt").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value") * F.col("dt")).alias("wsum"),
            F.sum("dt").alias("dur"),
        )
        .filter(F.col("dur") > 0)
        .select(
            "user_id", F.round(F.col("wsum") / F.col("dur"), 4).alias("twap")
        )
    )


@register(
    "scd2_history",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), changes AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to
    FROM changes
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 reconstruction from a change
    log: collapse consecutive duplicate states per user (keep only rows
    where event_type differs from its predecessor), then each surviving
    row's validity runs from its own timestamp to the next change
    (NULL = current).  Both window passes and the filter between them
    share the user_id partitioning — Catalyst plans ONE Exchange; the
    second Window adds only a sort (and since the filter preserves
    order, the sort is of already-sorted runs).  This is the batch
    backfill of what stream_stateful maintains incrementally."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


@register(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events
    ), cnt AS (
      SELECT event_type AS from_type, nxt AS to_type, count(*) AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n AS n_transitions,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4)
             AS p_transition
    FROM cnt
    """,
)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the navigation/behavior model behind "users who did X next did Y".
    The lead() window shuffles events once on user_id; the transition
    count groupBy reduces to a |types|² domain (map-side combinable), and
    the row-normalization window runs over that tiny aggregate, never the
    raw stream.  At 100 TB only the first shuffle touches data; the
    matrix itself is model-sized."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cnt = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("nxt").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        F.col("n").alias("n_transitions"),
        F.round(F.col("n") / F.sum("n").over(wt), 4).alias("p_transition"),
    )
