"""Time-decay and anomaly operators over the event stream.

The reference reduces a keyed stream to per-key totals
(/root/reference/src/main.c:61-75); production event analytics needs the
two refinements every monitoring/feature pipeline adds on top of plain
counts: RECENCY weighting (old events matter less) and ANOMALY flags
(which days deviate from a key's own baseline).  Both are expressed
here as single-pass keyed aggregates — the same shuffle profile as the
reference's reducer — with all decay/deviation math in exact integer
arithmetic so the DuckDB oracle hash-matches bit-for-bit:

- Decay weights are powers of two (`1 << (CAP - age_bucket)`), never
  float ``exp``: the half-life semantics survive, and integer shifts
  are engine-independent.
- Anomaly scores are squared deviations over variance in integer basis
  points, computed from (n, sum, sum-of-squares) without ever forming a
  float mean — the [[group-mad-outliers]] discipline.

Scale shape: each op is one scan + one keyed aggregate (map-side
combined) + a broadcast of a tiny per-key baseline table.  Nothing here
shuffles the event stream more than once, so the 100 TB cost is the
scan, which is the floor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.registry import register
from mapreduce_c_implementation_spark.sources import load_table

# Half-life in days for the decayed counter, and the bucket cap: ages
# beyond CAP half-lives contribute weight 1 (the smallest non-zero
# weight) — a floor, not a drop, so totals still reconcile.
DECAY_HALF_LIFE_DAYS = 7
DECAY_CAP = 16
DECAY_SCALE = 1 << DECAY_CAP


@register(
    "decayed_event_counts",
    oracle_sql=f"""
    WITH mx AS (SELECT max(CAST(ts AS DATE)) AS max_d FROM events),
    aged AS (
      SELECT e.event_type,
             least(date_diff('day', CAST(e.ts AS DATE), mx.max_d)
                   // {DECAY_HALF_LIFE_DAYS}, {DECAY_CAP}) AS bucket
      FROM events e, mx
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(1::BIGINT << ({DECAY_CAP} - bucket)) AS BIGINT)
             AS decayed_scaled,
           CAST((sum(1::BIGINT << ({DECAY_CAP} - bucket)) * 1000)
                // {DECAY_SCALE} AS BIGINT) AS decayed_milli
    FROM aged
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("timeseries", "decay", "aggregate"),
)
def decayed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed event counters per type — the recency-weighted
    count feature stores and trending-topic rankers maintain (an event
    {DECAY_HALF_LIFE_DAYS} days old counts half as much, capped at
    {DECAY_CAP} half-lives where the weight floors at 1).

    Exactness: the decay weight is ``1 << (CAP - age_bucket)`` — an
    integer power of two, so "decayed count x 2^CAP" is an exact BIGINT
    in both engines and the milli-scaled report derives from one shared
    integer.  Float ``exp(-ln2 * age/hl)`` would differ in the last ulp
    between libm implementations; the bucketed shift never can.

    Scale shape: the reference-point (max event date) is a one-row
    aggregate broadcast back via crossJoin — no collect, no second scan
    of the stream (Spark reuses the scan across the two branches; at
    100 TB you would pass the watermark in as a parameter instead).
    The decayed sum itself map-side combines per event_type, so the
    only full-width shuffle carries #event_types rows.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    mx = e.agg(F.max("d").alias("max_d"))
    bucket = F.least(
        F.floor(F.datediff(F.col("max_d"), F.col("d")) / DECAY_HALF_LIFE_DAYS),
        F.lit(DECAY_CAP),
    ).cast("int")
    return (
        e.crossJoin(F.broadcast(mx))
        .select("event_type", bucket.alias("bucket"))
        .select(
            "event_type",
            F.expr(f"shiftleft(1L, {DECAY_CAP} - bucket)").alias("w"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_total"),
            F.sum("w").cast("long").alias("decayed_scaled"),
            F.expr(f"CAST(sum(w) * 1000L div {DECAY_SCALE} AS BIGINT)").alias(
                "decayed_milli"
            ),
        )
        .orderBy("event_type")
    )


# A day is anomalous when its squared deviation from the type's own
# daily mean exceeds ANOMALY_BP x the daily variance (basis points;
# 30000 bp = 3x variance ~= 1.73 sigma).
ANOMALY_BP = 30_000


@register(
    "event_daily_anomaly",
    oracle_sql=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    base AS (
      SELECT event_type, count(*) AS nd,
             sum(n) AS s, sum(n * n) AS ss
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, strftime(d.d, '%Y-%m-%d') AS day,
           CAST(d.n AS BIGINT) AS n,
           CAST(CASE WHEN b.nd * b.ss - b.s * b.s > 0
                THEN ((b.nd * d.n - b.s) * (b.nd * d.n - b.s) * 10000)
                     // (b.nd * (b.nd * b.ss - b.s * b.s))
                ELSE 0 END AS BIGINT) AS dev2_bp,
           CAST(CASE WHEN b.nd * b.ss - b.s * b.s > 0
                AND ((b.nd * d.n - b.s) * (b.nd * d.n - b.s) * 10000)
                    // (b.nd * (b.nd * b.ss - b.s * b.s)) >= {ANOMALY_BP}
                THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM daily d JOIN base b ON b.event_type = d.event_type
    ORDER BY d.event_type, day
    """,
    tags=("timeseries", "anomaly", "aggregate"),
)
def event_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily-count anomaly detection against the type's own
    baseline — the ops-dashboard "this day is off" flag, scored as the
    squared deviation over the population variance in integer basis
    points ({ANOMALY_BP} bp ~= 1.73 sigma).

    Exactness: with nd days, S = sum(n), SS = sum(n^2), the z^2 score
    is (nd*x - S)^2 / (nd * (nd*SS - S^2)) — every term an exact
    BIGINT, no float mean or sqrt anywhere, so floor-to-basis-points is
    engine-independent.  (Magnitudes: nd*x <= ~3e5 on the fixture,
    squared 1e11, x1e4 = 1e15 — comfortably inside int64; a corpus
    with >1e5 events/day/type would lift the products to DECIMAL(38,0)
    exactly like time_weighted_avg.)

    Scale shape: daily rollup (map-side combine to #types x #days
    rows), then a per-type baseline over THAT tiny table, broadcast
    back.  The event stream shuffles once, to day granularity.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    daily = e.groupBy("event_type", "d").agg(F.count("*").alias("n"))
    base = daily.groupBy("event_type").agg(
        F.count("*").alias("nd"),
        F.sum("n").alias("s"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    j = daily.join(F.broadcast(base), "event_type")
    var_term = F.col("nd") * F.col("ss") - F.col("s") * F.col("s")
    dev2 = F.when(
        var_term > 0,
        F.expr(
            "(nd * n - s) * (nd * n - s) * 10000L div (nd * (nd * ss - s * s))"
        ),
    ).otherwise(F.lit(0))
    return (
        j.select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n").cast("long").alias("n"),
            dev2.cast("long").alias("dev2_bp"),
        )
        .withColumn(
            "is_anomaly", (F.col("dev2_bp") >= ANOMALY_BP).cast("long")
        )
        .orderBy("event_type", "day")
    )


# Sweep-line concurrency: each event occupies [ts, ts + HOLD_S) and we
# report each type's peak simultaneous load.  Half-open intervals:
# an interval ending at t and one starting at t do NOT overlap, so at
# equal timestamps the -1 (end) sweeps before the +1 (start).
CONCURRENCY_HOLD_S = 300


@register(
    "concurrency_sweep",
    oracle_sql=f"""
    WITH pts AS (
      SELECT event_type, epoch_us(ts) AS t_us, 1 AS delta, event_id
      FROM events
      UNION ALL
      SELECT event_type, epoch_us(ts) + {CONCURRENCY_HOLD_S} * 1000000,
             -1, event_id
      FROM events
    ),
    swept AS (
      SELECT event_type, t_us, delta,
             sum(delta) OVER (PARTITION BY event_type
                              ORDER BY t_us, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS load
      FROM pts
    ),
    peak AS (
      SELECT event_type, max(load) AS max_concurrent FROM swept
      GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(p.max_concurrent AS BIGINT) AS max_concurrent,
           CAST(min(s.t_us) AS BIGINT) AS peak_at_us
    FROM swept s JOIN peak p
      ON p.event_type = s.event_type AND s.load = p.max_concurrent
    GROUP BY s.event_type, p.max_concurrent
    ORDER BY s.event_type
    """,
    tags=("timeseries", "sweep-line", "window"),
)
def concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per event type — the sweep-line algorithm over
    {CONCURRENCY_HOLD_S}-second holds: every interval contributes a +1
    at its start and a -1 at its end, the running sum of deltas in
    time order is the instantaneous load, and its max is the peak
    (reported with the earliest microsecond it is reached).  The
    capacity-planning primitive ("how many sessions were ever live at
    once") that a plain windowed count approximates but never answers
    exactly.

    Exactness: half-open intervals are encoded in the SORT — at equal
    timestamps ends (-1) sweep before starts (+1), and event_id
    breaks remaining ties, so the running sum is deterministic in
    both engines; everything is integer microseconds and unit deltas.

    Scale shape: the sweep is one window per event_type over 2 rows
    per event.  A single globally-hot key would switch to
    ``functions/prefix.py``'s two-pass ``running_by_bucket`` over
    time-range buckets — running sums distribute because integer
    addition is associative.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("t_us"), "event_id"
    )
    starts = e.select(
        "event_type", "t_us", F.lit(1).alias("delta"), "event_id"
    )
    ends = e.select(
        "event_type",
        (F.col("t_us") + CONCURRENCY_HOLD_S * 1_000_000).alias("t_us"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    pts = starts.union(ends)
    w = (
        Window.partitionBy("event_type")
        .orderBy("t_us", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    swept = pts.withColumn("load", F.sum("delta").over(w))
    peak = swept.groupBy("event_type").agg(
        F.max("load").alias("max_concurrent")
    )
    return (
        swept.join(F.broadcast(peak), "event_type")
        .filter(F.col("load") == F.col("max_concurrent"))
        .groupBy("event_type", "max_concurrent")
        .agg(F.min("t_us").cast("long").alias("peak_at_us"))
        .select(
            "event_type",
            F.col("max_concurrent").cast("long").alias("max_concurrent"),
            "peak_at_us",
        )
        .orderBy("event_type")
    )


@register(
    "running_distinct_users",
    oracle_sql="""
    WITH firsts AS (
      SELECT event_type, user_id,
             min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY event_type, user_id
    ),
    new_by_day AS (
      SELECT event_type, first_day AS day, count(*) AS n_new
      FROM firsts GROUP BY event_type, first_day
    ),
    active AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             count(DISTINCT user_id) AS n_active
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT a.event_type, strftime(a.day, '%Y-%m-%d') AS day,
           CAST(a.n_active AS BIGINT) AS n_active,
           CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(sum(coalesce(n.n_new, 0))
                OVER (PARTITION BY a.event_type ORDER BY a.day)
                AS BIGINT) AS cum_distinct_users
    FROM active a LEFT JOIN new_by_day n
      ON n.event_type = a.event_type AND n.day = a.day
    ORDER BY a.event_type, day
    """,
    tags=("timeseries", "distinct", "window"),
)
def running_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the "total
    unique customers to date" curve.  A naive per-prefix COUNT
    DISTINCT is quadratic; the linear form attributes each user to
    their FIRST active day (one min-aggregate keyed on (type, user))
    and reconstructs every prefix's distinct count as a running sum of
    per-day first-appearances — the keyed variant of
    [[heaps_vocab_growth]]'s first-occurrence attribution.  Daily
    actives ride along for the new-vs-returning read.

    Scale shape: two keyed aggregates over the stream (both map-side
    combined: (type, user) then (type, day)) and a window over the
    #types x #days result table.  Nothing unbounded ever enters the
    window.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.col("ts").cast("date").alias("day")
    )
    firsts = e.groupBy("event_type", "user_id").agg(
        F.min("day").alias("first_day")
    )
    new_by_day = firsts.groupBy(
        "event_type", F.col("first_day").alias("day")
    ).agg(F.count("*").alias("n_new"))
    active = e.groupBy("event_type", "day").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        active.join(new_by_day, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.col("n_active").cast("long").alias("n_active"),
            F.coalesce(F.col("n_new"), F.lit(0)).cast("long").alias("n_new"),
        )
        .withColumn(
            "cum_distinct_users", F.sum("n_new").over(w).cast("long")
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_active",
            "n_new",
            "cum_distinct_users",
        )
        .orderBy("event_type", "day")
    )


# Sliding-window distinct: 3-day trailing window, computed by in-row
# REPLICATION to the windows each activity day serves — a linear plan;
# the naive form (self-join the day spine against activity) is a range
# join whose fan-out re-scans the stream per window.
SLIDE_DAYS = 3


@register(
    "sliding_distinct_users",
    oracle_sql=f"""
    WITH activity AS (
      SELECT DISTINCT event_type, user_id, CAST(ts AS DATE) AS d
      FROM events
    ),
    served AS (
      SELECT event_type, user_id,
             d + CAST(off AS INTEGER) AS wd
      FROM activity,
           (SELECT unnest(generate_series(0, {SLIDE_DAYS - 1})) AS off)
    ),
    days AS (SELECT DISTINCT CAST(ts AS DATE) AS wd FROM events)
    SELECT s.event_type, strftime(s.wd, '%Y-%m-%d') AS window_end,
           CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_distinct_users
    FROM served s JOIN days dy ON dy.wd = s.wd
    GROUP BY s.event_type, s.wd
    ORDER BY s.event_type, window_end
    """,
    tags=("timeseries", "sliding-window", "distinct"),
)
def sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per {SLIDE_DAYS}-day TRAILING window per event
    type — the DAU/WAU-style rolling-uniques metric.  Distinct counts
    do not sum across days, so the rolling form cannot reuse daily
    counts; the linear trick is to REPLICATE each distinct (type,
    user, day) activity row to the {SLIDE_DAYS} window-end days it
    serves (an in-row sequence explode — bounded fan-out, no range
    join) and take one distinct-count per (type, window).  Windows
    ending on days past the stream's edge are dropped by the
    day-spine join, so every reported window is fully defined.

    Scale shape: dedup to (type, user, day) first — the map-side
    combine that bounds everything downstream by ACTIVE users, not
    events — then a x{SLIDE_DAYS} in-row fan-out and one
    distinct-aggregate keyed by (type, window).  The day spine
    broadcasts.  Compare [[running_distinct_users]] (cumulative form:
    first-occurrence attribution); the trailing form must pay the
    replication because membership expires.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.col("ts").cast("date").alias("d")
    )
    activity = e.distinct()
    served = activity.select(
        "event_type",
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(SLIDE_DAYS - 1)),
                lambda off: F.date_add(F.col("d"), off),
            )
        ).alias("wd"),
    )
    days = e.select(F.col("d").alias("wd")).distinct()
    return (
        served.join(F.broadcast(days), "wd")
        .groupBy("event_type", "wd")
        .agg(F.countDistinct("user_id").cast("long").alias("n_distinct_users"))
        .select(
            "event_type",
            F.date_format("wd", "yyyy-MM-dd").alias("window_end"),
            "n_distinct_users",
        )
        .orderBy("event_type", "window_end")
    )


@register(
    "kaplan_meier_retention",
    oracle_sql="""
    WITH per_cust AS (
      SELECT o_custkey,
             list(DISTINCT o_orderdate ORDER BY o_orderdate) AS dts
      FROM orders GROUP BY o_custkey
    ),
    horizon AS (SELECT max(o_orderdate) AS maxd FROM orders),
    durs AS (
      SELECT CASE WHEN len(dts) >= 2
                  THEN date_diff('day', dts[1], dts[2])
                  ELSE date_diff('day', dts[1], maxd) END AS t,
             CASE WHEN len(dts) >= 2 THEN 1 ELSE 0 END AS ev
      FROM per_cust, horizon
    ),
    grid AS (
      SELECT t,
             sum(ev) AS n_events,
             count(*) AS n_ending,
             sum(1 - ev) AS n_censored
      FROM durs GROUP BY t
    ),
    tot AS (SELECT count(*) AS n FROM durs),
    risk AS (
      SELECT t, n_events, n_censored,
             n - (sum(n_ending) OVER (ORDER BY t) - n_ending) AS n_at_risk
      FROM grid, tot
    )
    SELECT t AS t_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_censored AS BIGINT) AS n_censored,
           CAST(sum(CASE WHEN n_events > 0 AND n_at_risk > n_events THEN
                  CAST(round(ln(CAST(n_at_risk - n_events AS DOUBLE)
                                / n_at_risk) * 1000000) AS BIGINT)
                  WHEN n_events > 0 THEN -999000000
                  ELSE 0 END) OVER (ORDER BY t) AS BIGINT) AS km_log_micro
    FROM risk
    ORDER BY t_days
    """,
    tags=("timeseries", "survival", "retention"),
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-repeat-order curve: per customer the days
    from first to second order (repeat = event; no repeat = censored
    at the corpus horizon), then the product-limit estimator over the
    duration grid — survival analysis, the statistically correct way
    to report retention when histories are cut off mid-observation
    (plain "percent retained" undercounts recent cohorts).

    Exactness: the survival product prod(1 - d_t/n_t) is carried in
    LOG space — each step's ln((n_t - d_t)/n_t) freezes to integer
    micro-nats, and the running product becomes an exact integer
    cumulative sum (the [[unigram_logprob_score]] discipline applied
    to a cumulative product).  At-risk counts come from one ordered
    cumulative count, no self-join.

    Scale shape: customer-grain aggregate (map-side combined) -> the
    duration GRID (bounded by the calendar span in days, independent
    of customer count — the [[ks_two_sample]] domain-bounded window
    caveat) -> two ordered running sums over that grid.
    """
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_set("o_orderdate")).alias("dts")
    )
    horizon = o.agg(F.max("o_orderdate").alias("maxd"))
    durs = per_cust.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.size("dts") >= 2,
            F.datediff(F.element_at("dts", 2), F.element_at("dts", 1)),
        )
        .otherwise(F.datediff(F.col("maxd"), F.element_at("dts", 1)))
        .alias("t"),
        F.when(F.size("dts") >= 2, 1).otherwise(0).alias("ev"),
    )
    grid = durs.groupBy("t").agg(
        F.sum("ev").alias("n_events"),
        F.count("*").alias("n_ending"),
        F.sum(1 - F.col("ev")).alias("n_censored"),
    )
    tot = durs.agg(F.count("*").alias("n"))
    from pyspark.sql.window import Window

    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t",
        "n_events",
        "n_censored",
        (F.col("n") - (F.sum("n_ending").over(w) - F.col("n_ending"))).alias(
            "n_at_risk"
        ),
    )
    # n_at_risk == n_events => survival hits exactly 0; log-space uses a
    # -999 nat sentinel for the -inf step (documented; both engines).
    step = (
        F.when(
            (F.col("n_events") > 0) & (F.col("n_at_risk") > F.col("n_events")),
            F.expr(
                "CAST(round(ln(CAST(n_at_risk - n_events AS DOUBLE)"
                " / n_at_risk) * 1000000) AS BIGINT)"
            ),
        )
        .when(F.col("n_events") > 0, F.lit(-999000000))
        .otherwise(F.lit(0))
    )
    return (
        risk.select(
            F.col("t").alias("t_days"),
            F.col("n_at_risk").cast("long").alias("n_at_risk"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_censored").cast("long").alias("n_censored"),
            F.sum(step).over(w).cast("long").alias("km_log_micro"),
        )
        .orderBy("t_days")
    )


@register(
    "cusum_changepoint_scan",
    oracle_sql="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             count(*) AS n,
             sum(CAST(round(value * 100) AS BIGINT)) AS s
      FROM events GROUP BY d
    ),
    pfx AS (
      SELECT d,
             sum(n) OVER w AS n1,
             sum(s) OVER w AS s1,
             sum(n) OVER () AS nt,
             sum(s) OVER () AS st
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    stat AS (
      SELECT d, CAST(n1 AS BIGINT) AS n_cum,
             CAST(abs(s1 * nt - st * n1) AS BIGINT) AS cusum_abs
      FROM pfx WHERE n1 < nt
    )
    SELECT strftime(d, '%Y-%m-%d') AS day, n_cum, cusum_abs,
           cusum_abs = (SELECT max(cusum_abs) FROM stat) AS is_peak
    FROM stat
    ORDER BY day
    """,
    tags=("timeseries", "stats", "pipeline"),
)
def cusum_changepoint_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint scan over the daily event-value
    series: for every candidate split day t the statistic
    |S1*N - S*N1| — the cumulative deviation from the global mean,
    cross-multiplied so it is an EXACT integer (it equals
    N*N1*(N-N1)*|mean_before - mean_overall| without a single
    division) — peaks at the most likely mean-shift day (is_peak).
    The screen a pipeline runs over ingest-volume or quality-score
    series to catch a crawl snapshot going bad mid-stream; pairs with
    [[seasonal_decompose_daily]] (which models the series) and
    [[token_drift_topk]] (which localizes WHAT drifted).  Reference
    analog: none (LLM-pipeline surface per the brief).

    Exactness: event values quantize to integer cents once
    (round(value*100), the [[event_attribution_windows]] rule), so all
    prefix sums and the cross-multiplied statistic are exact BIGINTs —
    no float fold-order anywhere.  At fixture scale the products stay
    ~1e14; at 100 TB rescale to DECIMAL(38,0) exactly as
    [[part_abc_classification]] does.

    Scale shape: the corpus-sized work is one day-grain aggregate
    (map-side combined; #days rows out).  The cumulative windows run
    on the DAY-GRAIN table, whose row count is bounded by the calendar
    span regardless of corpus size — the same bounded-domain argument
    as [[ks_two_sample]], with the same escape hatch (coarser time
    buckets) if the grain were ever unbounded.  The peak is a 1-row
    broadcast.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.col("ts").cast("date").alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("vc"),
        )
        .groupBy("d")
        .agg(F.count("*").alias("n"), F.sum("vc").alias("s"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    tot = daily.agg(
        F.sum("n").alias("nt"), F.sum("s").alias("st")
    )
    pfx = (
        daily.select(
            "d",
            F.sum("n").over(w).alias("n1"),
            F.sum("s").over(w).alias("s1"),
        )
        .crossJoin(F.broadcast(tot))
        .filter(F.col("n1") < F.col("nt"))
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("n1").cast("long").alias("n_cum"),
            F.abs(F.col("s1") * F.col("nt") - F.col("st") * F.col("n1"))
            .cast("long")
            .alias("cusum_abs"),
        )
    )
    peak = pfx.agg(F.max("cusum_abs").alias("mx"))
    return (
        pfx.crossJoin(F.broadcast(peak))
        .select(
            "day",
            "n_cum",
            "cusum_abs",
            (F.col("cusum_abs") == F.col("mx")).alias("is_peak"),
        )
        .orderBy("day")
    )


# --- Round 9: autocorrelation function ----------------------------------
#
# ACF over the daily value series, reported as signed r^2 in ppm from
# the five Pearson power sums — the [[group_linear_regression]]
# "regression as a monoid" discipline applied per LAG, so no float
# mean, no sqrt, no summation-order hazard.  Daily totals are floored
# to $10 units before the moment products: num^2 * 1e6 then stays ~1e34
# << DECIMAL(38,0); larger deployments rescale v first (the documented
# headroom rule).
ACF_MAX_LAG = 7
ACF_V_UNIT = 1000  # cents per value unit ($10)


@register(
    "autocorrelation_daily_values",
    oracle_sql=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) // {ACF_V_UNIT}
                  AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(d AS DATE)) AS x, v
      FROM daily
    ),
    pairs AS (
      SELECT l.lag, a.v AS va, b.v AS vb
      FROM idx a
      CROSS JOIN (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag) l
      JOIN idx b ON b.x = a.x + l.lag
    ),
    moms AS (
      SELECT lag, count(*) AS n,
             sum(CAST(va AS HUGEINT)) AS sx, sum(CAST(vb AS HUGEINT)) AS sy,
             sum(CAST(va AS HUGEINT) * va) AS sxx,
             sum(CAST(vb AS HUGEINT) * vb) AS syy,
             sum(CAST(va AS HUGEINT) * vb) AS sxy
      FROM pairs GROUP BY lag
    ),
    parts AS (
      SELECT lag, n,
             n * sxy - sx * sy AS num,
             (n * sxx - sx * sx) * (n * syy - sy * sy) AS den
      FROM moms
    )
    SELECT CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           CAST(CASE WHEN den > 0 AND num > 0 THEN 1
                     WHEN den > 0 AND num < 0 THEN -1 ELSE 0 END AS BIGINT)
             AS r_sign,
           CAST(CASE WHEN den > 0 THEN num * num * 1000000 // den
                ELSE 0 END AS BIGINT) AS r2_ppm
    FROM parts
    """,
    tags=("timeseries", "acf", "statistics"),
)
def autocorrelation_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-value series at lags
    1..{ACF_MAX_LAG}: for each lag k, Pearson correlation between
    (day t, day t+k) daily totals, reported as sign + r^2 in ppm from
    exact integer power sums — the seasonality detector that tells a
    forecasting pipeline which lag features matter
    (complements [[seasonality_month_index]]'s calendar profile with a
    lag-domain view).  Only EXISTING day pairs correlate (calendar gaps
    shorten n_pairs, they don't zero-fill).

    Exactness: daily totals floor to $10 units, the five power sums per
    lag are one keyed aggregate in HUGEINT/DECIMAL(38,0), and
    r^2 = num^2/den is a single non-negative integer ppm floor — the
    [[group_linear_regression]] no-float-moments discipline.

    Scale shape: the event scan collapses to the DAY grain first (one
    map-side-combined aggregate — the only corpus-sized stage); the
    {ACF_MAX_LAG}-way lag fan-out and self-join run on the bounded
    day-grain table (calendar-sized at ANY corpus volume), and the
    moment aggregate outputs {ACF_MAX_LAG} rows.

    Reference analog: none (SURVEY §2.2 analytics surface).
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("d"))
        .agg(
            F.expr(
                f"CAST(sum(CAST(floor(value * 100) AS BIGINT))"
                f" div {ACF_V_UNIT} AS BIGINT)"
            ).alias("v")
        )
    )
    idx = daily.select(
        F.datediff(F.col("d").cast("date"), F.lit("1970-01-01")).alias("x"), "v"
    )
    lags = F.explode(F.sequence(F.lit(1), F.lit(ACF_MAX_LAG))).alias("lag")
    a = idx.select("*", lags).select(
        "lag", F.col("x").alias("xa"), F.col("v").alias("va")
    )
    b = idx.select(F.col("x").alias("xb"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("xb") == F.col("xa") + F.col("lag"))
    moms = pairs.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(va AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(vb AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(va AS DECIMAL(38,0)) * va")).alias("sxx"),
        F.sum(F.expr("CAST(vb AS DECIMAL(38,0)) * vb")).alias("syy"),
        F.sum(F.expr("CAST(va AS DECIMAL(38,0)) * vb")).alias("sxy"),
    )
    parts = moms.select(
        "lag",
        "n",
        F.expr("n * sxy - sx * sy").alias("num"),
        F.expr("(n * sxx - sx * sx) * (n * syy - sy * sy)").alias("den"),
    )
    return parts.select(
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.when((F.col("den") > 0) & (F.col("num") > 0), 1)
        .when((F.col("den") > 0) & (F.col("num") < 0), -1)
        .otherwise(0)
        .cast("long")
        .alias("r_sign"),
        F.when(
            F.col("den") > 0, F.expr("num * num * 1000000 div den")
        )
        .otherwise(0)
        .cast("long")
        .alias("r2_ppm"),
    )


# --- Round 10: burstiness (Fano factor) per event type --------------------
#
# Dispersion of daily arrival counts: Fano factor F = Var/Mean over the
# day-grain count series.  F == 1 is Poisson (memoryless arrivals);
# F > 1 is bursty/clumped, F < 1 regular — the number an anomaly
# monitor tunes its thresholds by.  Integer closed form over the
# calendar-bounded series: with K days and daily counts c_i,
# fano_milli = (K * sum(c^2) - (sum c)^2) * 1000 div (K * sum c) —
# population variance over mean, no float path.


@register(
    "event_burstiness_fano",
    oracle_sql="""
    WITH days AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_active_days,
             CAST(date_diff('day', min(d), max(d)) + 1 AS BIGINT) AS k,
             CAST(sum(c * c) AS BIGINT) AS ssq
      FROM days GROUP BY event_type
    )
    SELECT event_type, n_events, n_active_days, k AS n_days,
           CAST(n_events * 1000 // k AS BIGINT) AS mean_milli,
           CAST((k * ssq - n_events * n_events) * 1000
                // (k * n_events) AS BIGINT) AS fano_milli
    FROM span
    """,
    tags=("timeseries", "burstiness", "profile"),
)
def event_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness profile per event type: the Fano factor (variance /
    mean of the daily-count series over the type's active calendar
    span, zero-days included via the closed form) in milli —
    F ~ 1000 means Poisson arrivals, far above means clumping, below
    means regular — the dispersion baseline
    [[event_daily_anomaly]]'s z-thresholds and
    [[stream_rate_anomaly_monitor]]'s alarms should be calibrated
    against.  Pure integer arithmetic: days with zero events
    contribute zero to both sums, so (K*ssq - n^2) over the full
    span K needs no gap-filling join.

    Scale shape: one map-side-combined aggregate to the (type, day)
    grain, then a type-grain rollup — both keyed; the series length
    only grows with the calendar, never the corpus.

    Reference analog: none (SURVEY §2.2 analytics surface).
    """
    e = load_table(spark, sf_dir, "events")
    days = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.count("*").alias("c"))
    span = days.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_active_days"),
        (F.datediff(F.max("d"), F.min("d")) + 1)
        .cast("long")
        .alias("k"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ssq"),
    )
    return span.select(
        "event_type",
        "n_events",
        "n_active_days",
        F.col("k").alias("n_days"),
        F.expr("CAST(n_events * 1000 div k AS BIGINT)").alias("mean_milli"),
        F.expr(
            "CAST((k * ssq - n_events * n_events) * 1000"
            " div (k * n_events) AS BIGINT)"
        ).alias("fano_milli"),
    )


# --- Round 10b: truncated-EWMA daily forecast + anomaly flags -------------
#
# EWMA level with alpha = 1/4, truncated at EWMA_WIN lagged days and
# renormalized — which keeps everything integer: the lag-j weight is
# alpha*(1-alpha)^(j-1) = 3^(j-1)/4^j, so over a common denominator
# 4^WIN the numerator weight is 3^(j-1)*4^(WIN-j) and the weight sum
# telescopes to 4^WIN - 3^WIN.  A day is anomalous when its count
# doubles (or halves) against the EWMA forecast of the previous
# window — the integer twin of the z-score rule in
# event_daily_anomaly, robust to the variance estimate.
EWMA_WIN = 12
_EWMA_W = [3 ** (j - 1) * 4 ** (EWMA_WIN - j) for j in range(1, EWMA_WIN + 1)]
_EWMA_D = 4**EWMA_WIN - 3**EWMA_WIN


@register(
    "ewma_daily_anomaly",
    oracle_sql=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             count(*) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, min(d) AS d0, max(d) AS d1
      FROM daily GROUP BY event_type
    ),
    spine AS (
      SELECT s.event_type, CAST(g.g AS DATE) AS d, COALESCE(daily.c, 0) AS c
      FROM span s
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS g
      ) g
      LEFT JOIN daily ON daily.event_type = s.event_type
                     AND daily.d = CAST(g.g AS DATE)
    ),
    contrib AS (
      SELECT sp.event_type, sp.d + to_days(CAST(j.j AS INTEGER)) AS t,
             sp.c * ([{", ".join(str(w) for w in _EWMA_W)}][j.j]) AS x
      FROM spine sp
      CROSS JOIN (SELECT unnest(generate_series(1, {EWMA_WIN})) AS j) j
    ),
    lvl AS (
      SELECT event_type, t AS d,
             CAST(CAST(sum(x) AS BIGINT) * 1000 // {_EWMA_D} AS BIGINT)
               AS level_milli
      FROM contrib GROUP BY event_type, t
    )
    SELECT sp.event_type, strftime(sp.d, '%Y-%m-%d') AS day,
           CAST(sp.c AS BIGINT) AS n,
           l.level_milli,
           CAST(sp.c * 1000 - l.level_milli AS BIGINT) AS resid_milli,
           CAST(CASE WHEN sp.c * 1000 > 2 * l.level_milli
                       OR 2 * sp.c * 1000 < l.level_milli
                     THEN 1 ELSE 0 END AS BIGINT) AS anomaly
    FROM spine sp
    JOIN lvl l ON l.event_type = sp.event_type AND l.d = sp.d
    JOIN span s ON s.event_type = sp.event_type
    WHERE sp.d >= s.d0 + to_days({EWMA_WIN})
    """,
    tags=("timeseries", "anomaly", "forecast"),
)
def ewma_daily_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-EWMA forecast (alpha = 1/4, {EWMA_WIN}-day window,
    zero-filled calendar spine) of each event type's daily count, with
    integer residuals and a doubling/halving anomaly flag — the
    forecast-based complement to [[event_daily_anomaly]]'s global
    z-score (EWMA adapts to drifting levels, so a slow ramp is not
    flagged while a step change is) and the batch twin of
    [[stream_rate_anomaly_monitor]].  Only days with a full lag window
    are scored (cold-start days are not comparable).

    Exactness: lag-j weight 3^(j-1)*4^({EWMA_WIN}-j) over the common
    denominator keeps the level a pure integer ratio, floor-frozen to
    milli; weights and their telescoped sum 4^{EWMA_WIN} - 3^{EWMA_WIN}
    = {_EWMA_D} are compile-time literals in both plans.

    Scale shape: counts collapse to (type, day) grain map-side; each
    spine day fans out {EWMA_WIN} keyed contributions (bounded, the
    [[autocorrelation_daily_values]] lag-explode); the level join is
    keyed on (type, day).  Everything post-aggregate grows with the
    CALENDAR, not the corpus.

    Reference analog: none (SURVEY §2.2 timeseries surface).
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.count("*").alias("c"))
    span = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = (
        span.select(
            "event_type",
            "d0",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
        )
        .join(daily, ["event_type", "d"], "left")
        .select(
            "event_type",
            "d0",
            "d",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    wlit = ", ".join(str(w) for w in _EWMA_W)
    contrib = spine.select(
        "event_type",
        F.explode(F.sequence(F.lit(1), F.lit(EWMA_WIN))).alias("j"),
        "d",
        "c",
    ).select(
        "event_type",
        F.expr("date_add(d, j)").alias("t"),
        F.expr(f"c * element_at(array({wlit}), j)").alias("x"),
    )
    lvl = contrib.groupBy("event_type", F.col("t").alias("d")).agg(
        F.expr(
            f"CAST(CAST(sum(x) AS BIGINT) * 1000 div {_EWMA_D} AS BIGINT)"
        ).alias("level_milli")
    )
    return (
        spine.filter(F.expr(f"d >= date_add(d0, {EWMA_WIN})"))
        .join(lvl, ["event_type", "d"])
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.col("c").cast("long").alias("n"),
            "level_milli",
            F.expr("CAST(c * 1000 - level_milli AS BIGINT)").alias(
                "resid_milli"
            ),
            F.expr(
                "CAST(CASE WHEN c * 1000 > 2 * level_milli"
                " OR 2 * c * 1000 < level_milli"
                " THEN 1 ELSE 0 END AS BIGINT)"
            ).alias("anomaly"),
        )
    )


# --- Round 11: Holt linear-trend smoothing on the daily spine ------------
#
# alpha = 1/2 and beta = 1/4 are POWERS OF TWO on purpose: every
# smoothing multiply is exact in binary floating point, so the only
# rounding is the additions — and those run in the identical structural
# order in both engines (the Spark fold and the DuckDB recursive CTE
# evaluate the same expression tree day by day), making the doubles
# bit-identical before the final milli floor.


@register(
    "holt_linear_daily",
    oracle_sql="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT event_type, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1
    ),
    spine AS (
      SELECT s.event_type, CAST(g.g AS DATE) AS d, COALESCE(daily.c, 0) AS c,
             row_number() OVER (PARTITION BY s.event_type
                                ORDER BY CAST(g.g AS DATE)) AS i
      FROM span s
      CROSS JOIN LATERAL (
        SELECT unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS g
      ) g
      LEFT JOIN daily ON daily.event_type = s.event_type
                     AND daily.d = CAST(g.g AS DATE)
    ),
    holt AS (
      SELECT event_type, i, d, c,
             CAST(c AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b,
             CAST(c AS DOUBLE) AS fc
      FROM spine WHERE i = 1
      UNION ALL
      SELECT s.event_type, s.i, s.d, s.c,
             (CAST(s.c AS DOUBLE) + (h.l + h.b)) * 0.5,
             (((CAST(s.c AS DOUBLE) + (h.l + h.b)) * 0.5) - h.l) * 0.25
               + h.b * 0.75,
             h.l + h.b
      FROM spine s
      JOIN holt h ON h.event_type = s.event_type AND s.i = h.i + 1
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, c AS n,
           CAST(floor(l * 1000) AS BIGINT) AS level_milli,
           CAST(floor(b * 1000) AS BIGINT) AS trend_milli,
           CAST(floor(fc * 1000) AS BIGINT) AS forecast_milli,
           CAST(c * 1000 - floor(fc * 1000) AS BIGINT) AS resid_milli
    FROM holt
    """,
    tags=("timeseries", "forecast", "holt"),
)
def holt_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing of each event type's
    daily count (level alpha = 1/2, trend beta = 1/4, zero-filled
    calendar spine): l_t = alpha*y_t + (1-alpha)*(l_prev + b_prev),
    b_t = beta*(l_t - l_prev) + (1-beta)*b_prev, one-step forecast
    l_prev + b_prev.  The TREND-AWARE upgrade of [[ewma_daily_anomaly]]
    (a plain EWMA lags a ramp by design; Holt tracks it), feeding the
    same residual-based monitoring.

    Exactness: power-of-two smoothing constants make every multiply
    exact; the additions round identically because the Spark
    ``aggregate()`` fold and the DuckDB recursive CTE evaluate the SAME
    expression tree in the SAME day order — bit-identical doubles,
    floored once to milli.  Day 1 pins l = y_1, b = 0, forecast = y_1.

    Scale shape: one map-side-combined aggregate to (type, day) grain;
    the recursion runs per type over the CALENDAR-BOUNDED day array (an
    in-row ``aggregate()`` fold over a collect_list'd spine — the
    [[hilbert_curve_layout]] runtime-loop device, state = 2 doubles +
    the output array).  Corpus size only enters the first aggregate;
    the fold is days-long regardless of corpus.

    Reference analog: none (SURVEY §2.2 timeseries surface).
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
    ).agg(F.count("*").cast("long").alias("c"))
    span = daily.groupBy("event_type").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    spine = (
        span.select(
            "event_type",
            F.explode(F.sequence("d0", "d1")).alias("d"),
        )
        .join(daily, ["event_type", "d"], "left")
        .select("event_type", "d", F.coalesce("c", F.lit(0)).alias("c"))
    )
    arr = spine.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("d", "c"))).alias("arr")
    )
    # Runtime fold: acc = (l, b, rows); each step appends the day's row
    # BEFORE updating state, so row t carries the forecast made at t-1.
    fold = """
    aggregate(
      slice(arr, 2, greatest(size(arr) - 1, 0)),
      named_struct(
        'l', CAST(arr[0].c AS DOUBLE),
        'b', CAST(0 AS DOUBLE),
        'rows', array(named_struct(
          'd', arr[0].d, 'n', arr[0].c,
          'level', CAST(arr[0].c AS DOUBLE),
          'trend', CAST(0 AS DOUBLE),
          'fc', CAST(arr[0].c AS DOUBLE)))),
      (acc, x) -> named_struct(
        'l', (CAST(x.c AS DOUBLE) + (acc.l + acc.b)) * 0.5D,
        'b', (((CAST(x.c AS DOUBLE) + (acc.l + acc.b)) * 0.5D) - acc.l)
               * 0.25D + acc.b * 0.75D,
        'rows', array_append(acc.rows, named_struct(
          'd', x.d, 'n', x.c,
          'level', (CAST(x.c AS DOUBLE) + (acc.l + acc.b)) * 0.5D,
          'trend', (((CAST(x.c AS DOUBLE) + (acc.l + acc.b)) * 0.5D)
                     - acc.l) * 0.25D + acc.b * 0.75D,
          'fc', acc.l + acc.b))),
      acc -> acc.rows)
    """
    rows = arr.select(
        "event_type", F.explode(F.expr(fold)).alias("r")
    )
    return rows.select(
        "event_type",
        F.date_format("r.d", "yyyy-MM-dd").alias("day"),
        F.col("r.n").cast("long").alias("n"),
        F.floor(F.col("r.level") * 1000).cast("long").alias("level_milli"),
        F.floor(F.col("r.trend") * 1000).cast("long").alias("trend_milli"),
        F.floor(F.col("r.fc") * 1000).cast("long").alias("forecast_milli"),
        (
            F.col("r.n") * 1000 - F.floor(F.col("r.fc") * 1000)
        )
        .cast("long")
        .alias("resid_milli"),
    )
